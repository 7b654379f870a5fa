package perfbench

import graft.schema.ExtractedSpan

/** Order-insensitive digest of a set of extracted documents: the count plus
  * the wrapping sum of a 64-bit FNV-1a hash per document over every output
  * column (doc_id, each span's kind/text/media_ref/order, markdown).
  *
  * A sum (not an XOR) so a duplicated or dropped document always moves it;
  * independent of partitioning and output order so a Spark pass and the
  * single-thread reference agree exactly.
  */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  override def toString: String = f"$count:$sum%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  private val Prime = 0x100000001b3L

  private def mix(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * Prime; i += 1 }
    (h ^ 0x1f) * Prime // field separator: "ab"+"c" != "a"+"bc"
  }

  def docHash(docId: String, spans: Seq[ExtractedSpan], markdown: String): Long = {
    var h = mix(0xcbf29ce484222325L, docId)
    spans.foreach { s =>
      h = mix(mix(mix(h, s.kind), s.text), s.media_ref)
      h = (h ^ s.order) * Prime
    }
    mix(h, markdown)
  }

  def of(docId: String, spans: Seq[ExtractedSpan], markdown: String): Digest =
    Digest(1L, docHash(docId, spans, markdown))
}
