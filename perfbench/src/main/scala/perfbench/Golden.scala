package perfbench

import graft.model.ExtractedDoc
import java.util.Locale
import scala.util.hashing.MurmurHash3

/** Checks of extraction output against `CorpusGen` goldens. */
object Golden {

  /** 64-bit hash of everything span-sequence equality compares:
    * doc id, success, span count in, and each output span's kind, text,
    * media_ref and order.
    */
  def docHash(d: ExtractedDoc): Long = {
    val parts = Seq(d.doc_id, d.success.toString, d.spans_in.toString) ++
      d.spans.flatMap(s => Seq(s.kind, s.text, String.valueOf(s.media_ref), s.order.toString))
    val hi = MurmurHash3.orderedHash(parts, 0x5eed)
    val lo = MurmurHash3.orderedHash(parts, 0xbeef)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Order-free digest of a set of docs: (count, wrapping sum of hashes). */
  def digest(docs: Iterator[ExtractedDoc]): (Long, Long) =
    docs.foldLeft((0L, 0L)) { case ((n, s), d) => (n + 1, s + docHash(d)) }

  /** The content the committed-store dedup keys on: surviving span texts
    * joined by newlines, normalized as `TextFunctions.normText` does
    * (trim spaces, collapse whitespace runs, lower case).
    */
  def content(d: ExtractedDoc): String = {
    val s = d.spans.map(_.text).mkString("\n")
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b).replaceAll("\\s+", " ").toLowerCase(Locale.ROOT)
  }
}
