package perfbench

import graft.corpus.CorpusDerive
import graft.extract.{Html, Kernel}
import perfbench.Inputs.DocRow
import scala.collection.mutable.ArrayBuffer

/** Single-thread timings of the extraction layers on a seeded sample, each
  * call wrapped in a span, plus exact span counts per classify outcome.
  */
object Layers {
  @volatile private var sink = 0L

  /** Median seconds of one pass of `body`, repeated for at least 150 ms
    * and at least five times, after 200 ms of untimed warm-up so the JIT
    * has compiled the layer whichever workload runs this.
    */
  private def timed(name: String)(body: => Long): Double = {
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 200000000L) sink += body
    val ws = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (ws.size < 5 || System.nanoTime() - t0 < 150000000L) Trace.span(name) {
      val t = System.nanoTime()
      sink += body
      ws += (System.nanoTime() - t) / 1e9
    }
    Stats.median(ws.toSeq)
  }

  def kernel(rows: Array[DocRow]): Map[String, Double] = {
    val n = rows.length.toDouble
    val derive = timed("corpus.derive") {
      var acc = 0L
      rows.foreach { r =>
        CorpusDerive.deriveDoc(r.doc_id, r.text).spans.foreach(s =>
          acc += s.text.length + s.media_ref.length)
      }
      acc
    }
    val docs = rows.map(r => CorpusDerive.deriveDoc(r.doc_id, r.text))
    val spans = docs.flatMap(_.spans)
    val norms = spans.map(s => Kernel.normalizeText(s.text))
    val normalize = timed("extract.normalize") {
      var acc = 0L
      spans.foreach(s => acc += Kernel.normalizeText(s.text).length)
      acc
    }
    val classify = timed("extract.classify") {
      var acc = 0L
      var i = 0
      while (i < spans.length) {
        acc += Kernel.classify(spans(i), norms(i)).fold(0)(_.length); i += 1
      }
      acc
    }
    val extract = timed("extract.spans") {
      var acc = 0L
      docs.foreach(d => acc += Kernel.extractSpans(d).size)
      acc
    }
    val outs = docs.map(Kernel.extractSpans)
    val render = timed("extract.render") {
      var acc = 0L
      outs.foreach(o => acc += Kernel.renderMarkdown(o).length)
      acc
    }
    // classify's drop reasons, in its own order of tests
    var boiler, empty, markup = 0L
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      if (Kernel.classify(s, norms(i)).isEmpty) {
        if (Kernel.isBoilerplate(s.kind, norms(i))) boiler += 1
        else if (norms(i).isEmpty) empty += 1
        else markup += 1
      }
      i += 1
    }
    val kept = outs.map(_.size.toLong).sum
    require(kept + boiler + empty + markup == spans.length,
      s"drop reasons $boiler+$empty+$markup do not account for ${spans.length - kept} dropped spans")
    val perSpan = 1e9 / spans.length
    Map(
      "corpus.derive_us_per_doc" -> derive * 1e6 / n,
      "corpus.spans_per_doc" -> spans.length / n,
      "extract.normalize_ns_per_span" -> normalize * perSpan,
      "extract.classify_ns_per_span" -> classify * perSpan,
      "extract.spans_us_per_doc" -> extract * 1e6 / n,
      "extract.sort_us_per_doc" ->
        math.max(0.0, extract - normalize - classify) * 1e6 / n,
      "extract.render_us_per_doc" -> render * 1e6 / n,
      "extract.spans_in" -> spans.length.toDouble,
      "extract.spans_out" -> kept.toDouble,
      "extract.keep_ratio" -> kept.toDouble / spans.length,
      "extract.dropped_boilerplate" -> boiler.toDouble,
      "extract.dropped_empty" -> empty.toDouble,
      "extract.dropped_markup" -> markup.toDouble)
  }

  def html(ids: Array[Long]): Map[String, Double] = {
    val pages = ids.map(Html.synthesize)
    val t = timed("extract.html") {
      var acc = 0L
      pages.foreach(p => acc += Html.extract(p).size)
      acc
    }
    Map("extract.html_us_per_doc" -> t * 1e6 / ids.length)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
