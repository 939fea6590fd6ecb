package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Minimal PDF 1.4 writer + text extractor, JDK-only.
  *
  * The reference renders its changelog through knitr/kableExtra into a
  * Quarto PDF (`assess_changes.qmd:5-7`); that was the one reference
  * output format this engine did not reproduce (no LaTeX toolchain in a
  * zero-egress sandbox). This module closes the gap from first
  * principles: a hand-written PDF 1.4 document — catalog, page tree,
  * one base-14 Courier font, one uncompressed content stream per page,
  * a byte-exact xref table — is a few hundred lines of the public PDF
  * spec and needs no library at all (the JDK, which covers the image
  * and audio formats in `multimodal.Media`, has no PDF codec).
  *
  * Determinism is a design requirement, not an accident: no
  * CreationDate, no document ID, no timestamps — the same lines always
  * produce the same bytes, so the artifact itself can be oracle-gated
  * (`sink_report_pdf`) and diffed across runs like any other output.
  *
  * `extractLines` is the inverse for our own uncompressed streams: it
  * walks `stream…endstream` blocks and decodes the `(…) Tj` show-text
  * operands (with PDF string escapes, incl. octal). It is used by the
  * gate query and the spec to prove the render round-trips — and it is
  * deliberately NOT a general PDF parser.
  */
object Pdf {

  /** Page geometry: US Letter, 36pt margins, 9pt Courier on 11pt
    * leading. 60 lines/page keeps the last baseline well inside the
    * bottom margin (747 - 59*11 = 98pt).
    */
  private val PageW = 612
  private val PageH = 792
  private val Margin = 36
  private val FontSize = 9
  private val Leading = 11
  val DefaultLinesPerPage = 60

  /** Escape one text line into a PDF literal string: ASCII prints
    * pass, `\` `(` `)` get backslash-escaped, other Latin-1 points go
    * octal (`\351` for é under the font's standard encoding), anything
    * beyond Latin-1 degrades to '?' — Courier has no glyphs there and
    * silent mojibake is worse than a visible placeholder.
    */
  private def escape(line: String): String = {
    val sb = new StringBuilder(line.length + 8)
    line.foreach {
      case '\\' => sb.append("\\\\")
      case '('  => sb.append("\\(")
      case ')'  => sb.append("\\)")
      case c if c >= 32 && c <= 126 => sb.append(c)
      case c if c.toInt <= 255 =>
        sb.append('\\').append(("%03o".format(c.toInt)))
      case _ => sb.append('?')
    }
    sb.toString
  }

  private def contentStream(lines: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append(s"BT\n/F1 $FontSize Tf\n$Leading TL\n")
    sb.append(s"$Margin ${PageH - Margin - FontSize} Td\n")
    lines.foreach { l => sb.append('(').append(escape(l)).append(") Tj T*\n") }
    sb.append("ET\n")
    sb.toString
  }

  /** Render text lines into a complete PDF document. One `Tj` per
    * input line, page-broken every `linesPerPage`; empty input still
    * yields one (blank) page so the document is always valid.
    */
  def render(lines: Seq[String],
             linesPerPage: Int = DefaultLinesPerPage): Array[Byte] = {
    require(linesPerPage > 0, s"linesPerPage must be > 0 (got $linesPerPage)")
    val pages: Seq[Seq[String]] =
      if (lines.isEmpty) Seq(Seq.empty)
      else lines.grouped(linesPerPage).toSeq

    // Object numbering: 1 catalog, 2 pages, 3 font, then per page i
    // (0-based): page obj = 4 + 2i, content obj = 5 + 2i.
    val nPages = pages.length
    val nObjs = 3 + 2 * nPages

    val out = new ByteArrayOutputStream(64 * 1024)
    def put(s: String): Unit =
      out.write(s.getBytes(StandardCharsets.ISO_8859_1))

    val offsets = new Array[Long](nObjs + 1) // index = obj number

    put("%PDF-1.4\n")
    // binary-content marker comment, per spec convention
    out.write(Array[Byte]('%'.toByte, 0xE2.toByte, 0xE3.toByte,
      0xCF.toByte, 0xD3.toByte, '\n'.toByte))

    def obj(n: Int)(body: => Unit): Unit = {
      offsets(n) = out.size().toLong
      put(s"$n 0 obj\n"); body; put("endobj\n")
    }

    obj(1) { put("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) {
      val kids = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
      put(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\n")
    }
    obj(3) {
      put("<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>\n")
    }
    pages.zipWithIndex.foreach { case (pageLines, i) =>
      val pageObj = 4 + 2 * i
      val contObj = 5 + 2 * i
      obj(pageObj) {
        put(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $PageW $PageH] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents $contObj 0 R >>\n")
      }
      obj(contObj) {
        val cs = contentStream(pageLines)
        val bytes = cs.getBytes(StandardCharsets.ISO_8859_1)
        put(s"<< /Length ${bytes.length} >>\nstream\n")
        out.write(bytes)
        put("endstream\n")
      }
    }

    val xrefAt = out.size().toLong
    put(s"xref\n0 ${nObjs + 1}\n")
    put("0000000000 65535 f \n")
    (1 to nObjs).foreach { n => put("%010d 00000 n \n".format(offsets(n))) }
    put(s"trailer\n<< /Size ${nObjs + 1} /Root 1 0 R >>\n")
    put(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** Decode the `(…) Tj` operands of every uncompressed content stream,
    * in document order — the inverse of [[render]] for documents this
    * writer produced. PDF string escapes (`\\ \( \) \n \r \t \b \f`
    * and 1-3 digit octal) are interpreted; a line-continuation
    * backslash-newline is dropped per spec.
    */
  def extractLines(pdf: Array[Byte]): Seq[String] = {
    val doc = new String(pdf, StandardCharsets.ISO_8859_1)
    val lines = Seq.newBuilder[String]
    // slice each stream by its declared /Length — searching for the
    // literal "endstream" would truncate early when a rendered text
    // line itself contains that word (a file or column name can)
    val header = "/Length (\\d+) >>\nstream\n".r
    header.findAllMatchIn(doc).foreach { m =>
      val start = m.end
      val len = m.group(1).toInt
      require(start + len <= doc.length, "stream overruns document")
      extractFromStream(doc.substring(start, start + len), lines)
    }
    lines.result()
  }

  private def extractFromStream(cs: String,
                                acc: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    var i = 0
    while (i < cs.length) {
      if (cs.charAt(i) == '(') {
        val sb = new StringBuilder
        i += 1
        var depth = 1
        while (depth > 0) {
          require(i < cs.length, "unterminated string literal")
          cs.charAt(i) match {
            case '\\' =>
              require(i + 1 < cs.length, "dangling escape")
              cs.charAt(i + 1) match {
                case 'n' => sb.append('\n'); i += 2
                case 'r' => sb.append('\r'); i += 2
                case 't' => sb.append('\t'); i += 2
                case 'b' => sb.append('\b'); i += 2
                case 'f' => sb.append('\f'); i += 2
                case '\n' => i += 2 // line continuation
                case d if d >= '0' && d <= '7' =>
                  var j = i + 1; var v = 0
                  while (j < cs.length && j < i + 4 &&
                    cs.charAt(j) >= '0' && cs.charAt(j) <= '7') {
                    v = v * 8 + (cs.charAt(j) - '0'); j += 1
                  }
                  sb.append(v.toChar); i = j
                case c => sb.append(c); i += 2
              }
            case '(' => depth += 1; sb.append('('); i += 1
            case ')' =>
              depth -= 1
              if (depth > 0) sb.append(')')
              i += 1
            case c => sb.append(c); i += 1
          }
        }
        // only count literals actually shown with Tj
        val rest = cs.substring(i).dropWhile(_.isWhitespace)
        if (rest.startsWith("Tj")) acc += sb.toString
      } else i += 1
    }
  }
}
