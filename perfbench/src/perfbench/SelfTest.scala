package perfbench

import graft.schema.ExtractedSpan

/** Checks of the digest and quantile helpers; exits 1 on the first failure. */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def run(): Unit = {
    val a = Digest.of("d1", Seq(ExtractedSpan("heading", "a b", "", 0)), "a b")
    val b = Digest.of("d2", Seq(ExtractedSpan("figure", "", "img://2/0", 0)), "![](img://2/0)")
    expect(a + b == b + a, "digest is order-insensitive")
    expect((a + b).count == 2, "digest counts documents")
    expect(a + a != a + Digest.Empty, "a duplicated document moves the digest")
    expect(Digest.of("d1", Seq(ExtractedSpan("heading", "a b", "", 1)), "a b") != a,
      "span order is part of the digest")
    expect(Digest.of("d1", Seq(ExtractedSpan("heading", "a", " b", 0)), "a b") != a,
      "field boundaries are part of the digest")
    expect(Digest.of("d1", Seq(ExtractedSpan("heading", "a b", "", 0)), "a b ") != a,
      "markdown is part of the digest")
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of three")
    expect(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5, "median of four interpolates")
    expect(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6, "p90 interpolates")
    expect(Stats.quantile(Seq(7.0), 0.9) == 7.0, "quantile of one sample")
    println("selftest ok")
  }
}
