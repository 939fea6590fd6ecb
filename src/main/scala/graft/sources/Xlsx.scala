package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dependency-free OOXML (.xlsx) reader/writer (SURVEY.md §2.1
  * `src_xlsx`; the reference reads `read_xlsx(skip = 1)`,
  * `assess_changes.qmd:132,138`).
  *
  * An .xlsx is a zip of XML parts; the two that carry the data are
  * `xl/sharedStrings.xml` (string table) and `xl/worksheets/sheet1.xml`
  * (cells). Both are parsed with the JDK's streaming StAX reader — no
  * POI, no external jars, works in the zero-egress build and anywhere
  * else.
  *
  * Scale shape mirrors ZipCsv: files arrive via the `binaryFile` source
  * (one task per file — xlsx isn't splittable), each parses on an
  * executor, and thousands of workbooks parallelize across the cluster.
  * Only the first file's header area is touched driver-side (to fix the
  * output schema before the distributed pass).
  */
object Xlsx {

  private val sharedStringsEntry = "xl/sharedStrings.xml"
  private val stylesEntry = "xl/styles.xml"
  private val workbookEntry = "xl/workbook.xml"
  private val sheetEntryPattern = "xl/worksheets/sheet\\d+\\.xml"

  /** All rows of the FIRST worksheet (lowest sheet number) as string
    * cells, in sheet order. Driver- or executor-side (pure function of
    * the bytes). Numeric cells whose style resolves to a DATE number
    * format decode from Excel serials to ISO strings (see
    * [[DateStyles]]); workbooks without a styles part read every
    * number raw, as before.
    */
  def parseRows(xlsxBytes: Array[Byte]): Seq[Seq[String]] = {
    // ZipInputStream is sequential and entry order is arbitrary in files
    // written by other tools, so scan EVERY entry and keep the sheet
    // with the lowest number — taking the first matching entry would
    // silently read whichever sheet the writer happened to store first.
    var shared: Option[Array[Byte]] = None
    var styles: Option[Array[Byte]] = None
    var workbook: Option[Array[Byte]] = None
    var sheet: Option[Array[Byte]] = None
    var sheetNum = Int.MaxValue
    val zis = new ZipInputStream(new ByteArrayInputStream(xlsxBytes))
    var e = zis.getNextEntry
    while (e != null) {
      if (e.getName == sharedStringsEntry) shared = Some(zis.readAllBytes())
      else if (e.getName == stylesEntry) styles = Some(zis.readAllBytes())
      else if (e.getName == workbookEntry) workbook = Some(zis.readAllBytes())
      else if (e.getName.matches(sheetEntryPattern)) {
        val num = e.getName.replaceAll("\\D+", "").toInt
        if (num < sheetNum) { sheetNum = num; sheet = Some(zis.readAllBytes()) }
      }
      e = zis.getNextEntry
    }
    val sst = shared.map(b => parseSharedStrings(
      new ByteArrayInputStream(b))).getOrElse(Array.empty[String])
    val dateStyles = styles.map(b => DateStyles.parse(
      new ByteArrayInputStream(b))).getOrElse(DateStyles.none)
    val date1904 = workbook.exists(b =>
      DateStyles.is1904(new ByteArrayInputStream(b)))
    sheet.map(b => parseSheet(new ByteArrayInputStream(b), sst,
        dateStyles, date1904))
      .getOrElse(Seq.empty)
  }

  /** Style-table support for DATE-formatted numeric cells — the xlsx
    * fidelity gap a generic string reader has: Excel stores dates as
    * serial NUMBERS plus a number format on the cell's style (`s`
    * attribute → cellXfs entry → numFmtId). Builtin date/time ids and
    * custom codes containing date tokens decode; everything else stays
    * a raw number.
    */
  private[graft] object DateStyles {
    /** styleIndex → (isDate, hasDatePart, hasTimePart); empty = no
      * styles part, nothing decodes.
      */
    final case class Table(kinds: Array[(Boolean, Boolean, Boolean)]) {
      def kind(styleIdx: Int): Option[(Boolean, Boolean)] =
        if (styleIdx >= 0 && styleIdx < kinds.length && kinds(styleIdx)._1)
          Some((kinds(styleIdx)._2, kinds(styleIdx)._3))
        else None
    }
    val none: Table = Table(Array.empty)

    // builtin numFmtId classes (ECMA-376 §18.8.30): dates, times, and
    // the datetime combiner. 45-47 are durations ([h]:mm:ss) — decoded
    // as time-of-day of the fractional part is WRONG for them, so they
    // stay raw. 27-36 / 50-58 are locale (East Asian) date variants.
    private val builtinDate = Set(14, 15, 16, 17, 22) ++ (27 to 36) ++ (50 to 58)
    private val builtinTime = Set(18, 19, 20, 21, 22)

    /** Strip quoted literals, [brackets], and backslash-escapes from a
      * custom format code, then look for date (y/m/d) and time (h/s, or
      * m adjacent to a colon) tokens.
      */
    private[graft] def classifyCode(code: String): (Boolean, Boolean, Boolean) = {
      // custom DURATION codes ([h]:mm:ss, [mm]:ss …) carry their
      // defining token INSIDE brackets — classify before stripping
      // them, or "[h]:mm:ss" degrades to ":mm:ss" and wrongly decodes
      // as time-of-day (the same corruption the builtin 45-47
      // passthrough exists to avoid): durations stay raw numbers
      if (code.toLowerCase.matches(".*\\[(h+|m+|s+)\\].*"))
        return (false, false, false)
      val bare = code
        .replaceAll("\"[^\"]*\"", "")
        .replaceAll("\\[[^\\]]*\\]", "")
        .replaceAll("\\\\.", "")
        .toLowerCase
      val hasTime = bare.exists(c => c == 'h' || c == 's') ||
        bare.contains(":m") || bare.contains("m:")
      // 'm' alone is ambiguous (month vs minute): month only when a
      // day/year token co-occurs or no time context claims it
      val hasDate = bare.exists(c => c == 'y' || c == 'd') ||
        (bare.contains("m") && !hasTime)
      (hasDate || hasTime, hasDate, hasTime)
    }

    private def builtinKind(id: Int): (Boolean, Boolean, Boolean) = {
      val d = builtinDate(id); val t = builtinTime(id)
      (d || t, d, t)
    }

    /** Parse `xl/styles.xml`: custom `<numFmt numFmtId code>` entries,
      * then the `<cellXfs><xf numFmtId>` list in order — the cell `s`
      * attribute indexes into cellXfs.
      */
    def parse(in: InputStream): Table = {
      val r = newReader(in)
      val custom = scala.collection.mutable.Map.empty[Int, String]
      val xfs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var inCellXfs = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                (Option(r.getAttributeValue(null, "numFmtId")),
                  Option(r.getAttributeValue(null, "formatCode"))) match {
                  case (Some(id), Some(code)) =>
                    custom(id.trim.toInt) = code
                  case _ =>
                }
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                xfs += Option(r.getAttributeValue(null, "numFmtId"))
                  .map(_.trim.toInt).getOrElse(0)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT
            if r.getLocalName == "cellXfs" => inCellXfs = false
          case _ =>
        }
      }
      r.close()
      Table(xfs.map { id =>
        custom.get(id).map(classifyCode).getOrElse(builtinKind(id))
      }.toArray)
    }

    /** `<workbookPr date1904="1|true"/>` in `xl/workbook.xml`. */
    def is1904(in: InputStream): Boolean = {
      val r = newReader(in)
      var found = false
      while (r.hasNext && !found) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "workbookPr") {
          val v = Option(r.getAttributeValue(null, "date1904"))
          found = v.exists(x => x == "1" || x == "true")
        }
      }
      r.close()
      found
    }

    /** Excel serial → ISO string. 1900 system: day 1 = 1900-01-01 with
      * the historical Lotus leap bug (a fictitious 1900-02-29 occupies
      * serial 60), so serials ≥ 61 offset from 1899-12-30 and serials
      * ≤ 59 from 1899-12-31; serial 60 itself clamps to 1900-02-28.
      * 1904 system: day 0 = 1904-01-01, no bug. Fraction = time of day
      * (rounded to whole seconds, carried into the date on 23:59:59.7+
      * rollover).
      */
    def serialToIso(serial: Double, date1904: Boolean,
                    hasDate: Boolean, hasTime: Boolean): String = {
      var days = math.floor(serial).toLong
      var secs = math.round((serial - days) * 86400.0)
      if (secs >= 86400L) { days += 1; secs = 0 }
      val date =
        if (date1904) java.time.LocalDate.of(1904, 1, 1).plusDays(days)
        else if (days >= 61) java.time.LocalDate.of(1899, 12, 30).plusDays(days)
        else if (days == 60) java.time.LocalDate.of(1900, 2, 28)
        else java.time.LocalDate.of(1899, 12, 31).plusDays(days)
      val t = java.time.LocalTime.ofSecondOfDay(secs)
      val hms = "%02d:%02d:%02d".format(t.getHour, t.getMinute, t.getSecond)
      if (hasDate && hasTime) s"$date $hms"
      else if (hasTime && !hasDate) hms
      else date.toString
    }
  }

  /** `<sst><si><t>…</t></si>…` — rich-text runs (`<r><t>`) concatenate. */
  private def parseSharedStrings(in: InputStream): Array[String] = {
    val r = newReader(in)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT =>
          cur.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = false; out += cur.toString
            case "t" => inT = false
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.toArray
  }

  /** `<sheetData><row><c r="B3" t="s|inlineStr|str|b|…" s="N"><v>…` —
    * cells land at their column index (ref letters), missing cells
    * leave gaps (""). Numeric cells with a date-formatted style decode
    * serials to ISO strings.
    */
  private def parseSheet(in: InputStream, sst: Array[String],
                         dateStyles: DateStyles.Table,
                         date1904: Boolean): Seq[Seq[String]] = {
    val r = newReader(in)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var row: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = 0
    var cellType = ""
    var cellStyle = -1
    var inV = false
    var inT = false
    val text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              row = scala.collection.mutable.ArrayBuffer.empty[String]
              cellCol = -1
            case "c" if row != null =>
              val ref = Option(r.getAttributeValue(null, "r"))
              // no ref attribute → next column after the previous cell
              cellCol = ref.map(colIndex).getOrElse(cellCol + 1)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellStyle = Option(r.getAttributeValue(null, "s"))
                .flatMap(_.trim.toIntOption).getOrElse(-1)
              text.clear()
            case "v" => inV = true
            case "t" => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV || inT =>
          text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "row" => rows += row.toSeq; row = null
            case "c" if row != null =>
              val raw = text.toString
              val v = cellType match {
                // a self-closed or valueless typed cell (<c t="s"/>) has
                // no index to look up — it is an empty cell, not an error
                case "s" if raw.trim.nonEmpty => sst(raw.trim.toInt)
                case "s" => ""
                case "b" if raw.trim.nonEmpty =>
                  if (raw.trim == "1") "true" else "false"
                case "b" => "" // valueless <c t="b"/> = empty, not FALSE
                // untyped/"n" = numeric: a date-formatted style decodes
                // the serial; a non-numeric or unstyle'd value reads raw
                case "" | "n" if raw.trim.nonEmpty =>
                  (dateStyles.kind(cellStyle), raw.trim.toDoubleOption) match {
                    case (Some((hasDate, hasTime)), Some(serial)) =>
                      DateStyles.serialToIso(serial, date1904, hasDate, hasTime)
                    case _ => raw
                  }
                case _ => raw
              }
              while (row.length <= cellCol) row += ""
              row(cellCol) = v
            case "v" => inV = false
            case "t" => inT = false
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.toSeq
  }

  /** "B3" → 1; "AA1" → 26. */
  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1

  private def newReader(in: InputStream) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** Read all .xlsx files under `path` as one DataFrame of string
    * columns. `skip` leading rows are discarded BEFORE the header row is
    * taken, per file (read_xlsx(skip=1) semantics). The schema comes
    * from the first file (driver-side header peek); all files must share
    * it, as the reference's FAO exports do.
    */
  def read(spark: SparkSession, path: String, skip: Int = 0): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(path)
      .select("path", "content")
      .as[(String, Array[Byte])]
    // schema peek: first file only, driver-side — its path from the
    // file index's listing (no Spark job), its bytes through the Hadoop
    // FileSystem API so the same code reads file:, hdfs: and s3a: URIs
    // (java.nio Path.of(URI) only resolves file: and would throw
    // FileSystemNotFoundException on the cluster deployment shape)
    val firstPath = files.inputFiles.min
    val hp = new org.apache.hadoop.fs.Path(java.net.URI.create(firstPath))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(hp)
    val headerBytes = try in.readAllBytes() finally in.close()
    val header = parseRows(headerBytes).drop(skip).headOption.getOrElse(
      throw new IllegalArgumentException(s"$firstPath: no header row"))
      .zipWithIndex.map { case (h, i) => if (h.isEmpty) s"_c$i" else h }
    val width = header.length
    val data = files.flatMap { case (_, bytes) =>
      parseRows(bytes).drop(skip + 1)
        .map(r => r.padTo(width, "").take(width))
    }
    data.toDF("row")
      .selectExpr(header.indices.map(i => s"row[$i] AS `${header(i)}`"): _*)
  }

  /** Minimal conforming .xlsx writer (fixtures, `sink_report` exports):
    * one sheet, numeric cells for number-parseable values, inline
    * strings otherwise — exercises both cell kinds on read-back.
    */
  def write(dest: java.nio.file.Path, rows: Seq[Seq[String]]): Unit = {
    def colRef(i: Int): String = {
      var n = i + 1; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;")
    val sheetXml = {
      val sb = new StringBuilder
      sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (r, ri) =>
        sb.append(s"""<row r="${ri + 1}">""")
        r.zipWithIndex.foreach { case (v, ci) =>
          val ref = s"${colRef(ci)}${ri + 1}"
          if (v.nonEmpty && v.matches("-?\\d+(\\.\\d+)?"))
            sb.append(s"""<c r="$ref"><v>$v</v></c>""")
          else
            sb.append(s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>""")
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>")
      sb.toString
    }
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      """</Types>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      """</Relationships>"""
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      """</Relationships>"""
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(dest))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      entry("[Content_Types].xml", contentTypes)
      entry("_rels/.rels", rels)
      entry("xl/workbook.xml", workbook)
      entry("xl/_rels/workbook.xml.rels", wbRels)
      entry("xl/worksheets/sheet1.xml", sheetXml)
    } finally zos.close()
  }
}
