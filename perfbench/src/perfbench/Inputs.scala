package perfbench

import java.util.SplittableRandom

/** Seeded input generation. The same seed gives the same inputs; the
  * engine only ever sees the generated tables.
  *
  * The numbers come from the repo's own traffic. The testdata
  * `documents.parquet` (sf0.001, sf0.01 and sf0.1 alike) has 10–99 words
  * per doc, uniformly, drawn uniformly from 30 words. The only long docs
  * the repo models are `graft.Bench.skewedDocs`'s hot host: 5 % of the
  * docs, in contiguous id runs, with 30× the spans.
  */
object Inputs {

  /** One `documents` row: distinct `doc_id`, space-separated text. */
  final case class DocRow(doc_id: Long, text: String)

  /** The testdata's vocabulary (its rare near-duplicate marker left out). */
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Words per ordinary doc, as in the testdata: uniform in [10, 99]. */
  val Words: (Int, Int) = (10, 99)
  /** Share of docs in the hot block and their length factor (Bench's hot host). */
  val HotShare = 0.05
  val HotFactor = 30

  /** `n` distinct docs with ids `[base, base + n)`, in id order. One
    * contiguous block of `HotShare·n` ids at a seeded offset holds docs of
    * `HotFactor`× the words: the skew the pipeline's salt exists for. It
    * is also the length distribution's only tail: 5 % of the docs carry
    * ~60 % of the words.
    */
  def documents(seed: Long, n: Int): Array[DocRow] = {
    val r = new SplittableRandom(seed)
    val base = r.nextLong(1000000000L)
    val hotLen = math.max(1, (n * HotShare).toInt)
    val hotFrom = r.nextInt(n - hotLen + 1)
    Array.tabulate(n) { i =>
      val words = Words._1 + r.nextInt(Words._2 - Words._1 + 1)
      val len = if (i >= hotFrom && i < hotFrom + hotLen) words * HotFactor else words
      val sb = new java.lang.StringBuilder(len * 6)
      var w = 0
      while (w < len) {
        if (w > 0) sb.append(' ')
        sb.append(Vocab(r.nextInt(Vocab.length)))
        w += 1
      }
      DocRow(base + i, sb.toString)
    }
  }

  /** `rows` reordered so that cutting them into `files` contiguous slices
    * gives file k every `files`-th row from row k: each input file holds
    * an equal share of the hot block, which then meets the engine only in
    * its `doc_id` order, as Bench's hot host does.
    */
  def striped[T](rows: Array[T], files: Int): Seq[T] =
    (0 until files).flatMap(k => rows.indices.drop(k).by(files).map(rows(_)))

  /** `n` distinct seeded ids for `Html.synthesize`. */
  def htmlIds(seed: Long, n: Int): Array[Long] = {
    val r = new SplittableRandom(seed ^ 0x5deece66dL)
    val base = r.nextLong(1000000000L)
    Array.tabulate(n)(i => base + i)
  }
}
