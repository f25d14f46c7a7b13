package graft.spark

import graft.html.{Dom, Parser, Serialize}

/** Input span: one row of docs.spans (BASELINE.json input_hint schema). */
final case class SpanIn(kind: String, text: String, media_ref: String, offset: Int)

/** One interleaved text+media document. */
final case class Doc(doc_id: String, spans: Seq[SpanIn])

/** Output span with 0-based order. */
final case class SpanOut(kind: String, text: String, media_ref: String, order: Int)

final case class ExtractedDoc(
    doc_id: String,
    spans: Seq[SpanOut],
    title: String,
    byline: String,
    dir: String,
    lang: String,
    excerpt: String,
    site_name: String,
    published_time: String,
    text_length: Int,
    status: String,
    error: String)

/** Span-sequence ↔ HTML reassembly (SURVEY.md §1): document HTML is the
  * concatenation of spans in offset order; media spans materialize as the
  * corresponding element with src=media_ref at their position so the
  * extractor sees one coherent DOM and media survives inline.
  */
object Spans {

  def assembleHtml(spans: Seq[SpanIn]): String = {
    val sorted = spans.sortBy(_.offset)
    val sb = new java.lang.StringBuilder(spans.map(s =>
      (if (s.text != null) s.text.length else 0) + 64).sum)
    for (s <- sorted) {
      s.kind match {
        case "text" =>
          if (s.text != null) sb.append(s.text)
        case "img" =>
          sb.append("<img src=\"").append(esc(s.media_ref)).append("\">")
        case "video" | "audio" | "iframe" =>
          sb.append('<').append(s.kind).append(" src=\"").append(esc(s.media_ref))
            .append("\"></").append(s.kind).append('>')
        case "embed" =>
          sb.append("<embed src=\"").append(esc(s.media_ref)).append("\">")
        case "object" =>
          sb.append("<object data=\"").append(esc(s.media_ref)).append("\"></object>")
        case _ => // unknown media kind: ignore
      }
    }
    sb.toString
  }

  private def esc(s: String): String =
    if (s == null) "" else s.replace("&", "&amp;").replace("\"", "&quot;")

  /** [[assembleHtml]] directly from a scan row's ArrayData: every span's
    * text bytes are appended to one UTF-8 buffer and decoded to a String
    * ONCE per document — no per-span SpanIn/String materialization. Same
    * output as `assembleHtml(spans.sortBy(_.offset))` (asserted in
    * PipelineSpec).
    */
  private val KindText = org.apache.spark.unsafe.types.UTF8String.fromString("text")
  private val KindImg = org.apache.spark.unsafe.types.UTF8String.fromString("img")
  private val KindVideo = org.apache.spark.unsafe.types.UTF8String.fromString("video")
  private val KindAudio = org.apache.spark.unsafe.types.UTF8String.fromString("audio")
  private val KindIframe = org.apache.spark.unsafe.types.UTF8String.fromString("iframe")
  private val KindEmbed = org.apache.spark.unsafe.types.UTF8String.fromString("embed")
  private val KindObject = org.apache.spark.unsafe.types.UTF8String.fromString("object")

  /** Total UTF-8 text bytes of a row's spans (oversize pre-check). */
  def spanTextBytes(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      nFields: Int, textIdx: Int): Long = {
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val row = arr.getStruct(i, nFields)
      if (!row.isNullAt(textIdx)) total += row.getUTF8String(textIdx).numBytes
      i += 1
    }
    total
  }

  /** [[spanTextBytes]] over typed spans (the streaming path). */
  def spanTextBytes(spans: Seq[SpanIn]): Long =
    spans.iterator.map(s => if (s.text == null) 0L
      else org.apache.spark.unsafe.types.UTF8String.fromString(s.text).numBytes.toLong).sum

  /** Oversize-skip result row (shared by the pre- and post-assembly guards). */
  def oversizeSkipped(docId: String, detail: String): ExtractedDoc =
    ExtractedDoc(docId, Nil, null, null, null, null, null, null, null,
      0, "oversize_skipped", detail)

  def assembleHtmlFromRow(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      nFields: Int, kindIdx: Int, textIdx: Int, refIdx: Int, offIdx: Int): String = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = arr.numElements()
    // stable indirect sort of span indices by offset: pack (offset, idx)
    // into one long and sort primitives — O(n log n) even for adversarial
    // orderings (an insertion sort here would go quadratic on a large
    // descending-offset doc while holding an oversize-gate permit)
    val keys = new Array[Long](n)
    var sorted = true
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, nFields)
      val off = if (row.isNullAt(offIdx)) Int.MaxValue else row.getInt(offIdx)
      keys(i) = (off.toLong << 32) | i.toLong
      if (i > 0 && (keys(i) >> 32) < (keys(i - 1) >> 32)) sorted = false
      i += 1
    }
    if (!sorted) java.util.Arrays.sort(keys)
    val order = new Array[Int](n)
    i = 0
    while (i < n) { order(i) = keys(i).toInt; i += 1 }
    var cap = 64
    i = 0
    while (i < n) {
      val row = arr.getStruct(i, nFields)
      if (!row.isNullAt(textIdx)) cap += row.getUTF8String(textIdx).numBytes
      cap += 64
      i += 1
    }
    var buf = new Array[Byte](cap)
    var len = 0
    @inline def ensure(extra: Int): Unit =
      if (len + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))
    @inline def putAscii(s: String): Unit = {
      ensure(s.length)
      var k = 0
      while (k < s.length) { buf(len) = s.charAt(k).toByte; len += 1; k += 1 }
    }
    @inline def putUtf8(u: UTF8String): Unit = {
      ensure(u.numBytes)
      u.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
      len += u.numBytes
    }
    @inline def putStrUtf8(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }
    @inline def putEscapedRef(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
      if (!row.isNullAt(refIdx)) putStrUtf8(esc(row.getUTF8String(refIdx).toString))
    i = 0
    while (i < n) {
      val row = arr.getStruct(order(i), nFields)
      val kindU = if (row.isNullAt(kindIdx)) null else row.getUTF8String(kindIdx)
      if (kindU != null) {
        if (kindU.equals(KindText)) {
          if (!row.isNullAt(textIdx)) putUtf8(row.getUTF8String(textIdx))
        } else if (kindU.equals(KindImg)) {
          putAscii("<img src=\""); putEscapedRef(row); putAscii("\">")
        } else if (kindU.equals(KindVideo) || kindU.equals(KindAudio) || kindU.equals(KindIframe)) {
          val kind = kindU.toString
          putAscii("<"); putAscii(kind); putAscii(" src=\"")
          putEscapedRef(row); putAscii("\"></"); putAscii(kind); putAscii(">")
        } else if (kindU.equals(KindEmbed)) {
          putAscii("<embed src=\""); putEscapedRef(row); putAscii("\">")
        } else if (kindU.equals(KindObject)) {
          putAscii("<object data=\""); putEscapedRef(row); putAscii("\"></object>")
        } // unknown media kind: ignore
      }
      i += 1
    }
    new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Decompose an HTML string into the input span sequence (generator /
    * fixture-import path): markup split around top-level media elements.
    * Media elements become media spans; everything else stays one text
    * span per contiguous run of markup.
    */
  def decomposeHtml(html: String): Seq[SpanIn] = {
    val out = Seq.newBuilder[SpanIn]
    val mediaOpen = "(?i)<(img|video|audio|iframe|embed|object)\\b[^>]*>".r
    val srcAttr = "(?i)(?:src|data)\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))".r
    var pos = 0
    var offset = 0
    val matches = mediaOpen.findAllMatchIn(html).toVector
    for (m <- matches) {
      // skip matches inside script/style? generator output has none
      if (m.start >= pos) {
        val tag = m.group(1).toLowerCase
        val src = srcAttr.findFirstMatchIn(m.matched)
          .map(sm => Option(sm.group(2)).orElse(Option(sm.group(3))).getOrElse(sm.group(4)))
          .getOrElse("")
        // end of element: for container media skip to close tag
        val end = if (tag == "video" || tag == "audio" || tag == "iframe" || tag == "object") {
          val close = html.toLowerCase.indexOf(s"</$tag>", m.end)
          if (close >= 0) close + tag.length + 3 else m.end
        } else m.end
        if (m.start > pos) {
          out += SpanIn("text", html.substring(pos, m.start), null, offset)
          offset += 1
        }
        out += SpanIn(tag, null, src, offset)
        offset += 1
        pos = end
      }
    }
    if (pos < html.length) {
      out += SpanIn("text", html.substring(pos), null, offset)
    }
    out.result()
  }

  /** Run the full extraction on one doc's assembled HTML. Never throws —
    * poison rows yield status/error columns (a bad row must not kill a
    * 10^12-doc job).
    */
  def extractFromHtml(docId: String, html: String, baseUrl: String,
      opts: graft.algo.Options, maxHtmlBytes: Int = 0): ExtractedDoc = {
    val doc = Doc(docId, Nil) // id carrier for error paths
    try {
      if (maxHtmlBytes > 0 && html != null && html.length > maxHtmlBytes) {
        return ExtractedDoc(doc.doc_id, Nil, null, null, null, null, null, null, null,
          0, "oversize_skipped", s"html_chars=${html.length}")
      }
      graft.algo.Readability.parse(html, baseUrl, opts) match {
        case graft.algo.Readability.Ok(r) =>
          val spans = r.spans.zipWithIndex.map { case (s, i) =>
            SpanOut(s.kind, s.text, s.mediaRef, i)
          }
          ExtractedDoc(doc.doc_id, spans, r.title, r.byline.orNull, r.dir.orNull,
            r.lang.orNull, r.excerpt.orNull, r.siteName.orNull,
            r.publishedTime.orNull, r.length, "ok", null)
        case graft.algo.Readability.Failed(status, error) =>
          ExtractedDoc(doc.doc_id, Nil, null, null, null, null, null, null, null,
            0, status, error)
      }
    } catch {
      case e: Throwable =>
        ExtractedDoc(doc.doc_id, Nil, null, null, null, null, null, null, null,
          0, "error", String.valueOf(e).take(500))
    }
  }
}
