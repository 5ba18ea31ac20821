package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, DeflaterOutputStream, Inflater, ZipEntry, ZipInputStream, ZipOutputStream}
import scala.collection.mutable

/** Raw-document scan + per-format loader dispatch (SURVEY.md O-1..O-4).
  *
  * The reference loads PDF/DOCX/HTML files through per-format LangChain
  * loaders chosen by lowercased extension (chroma_utils.py:60-71). Here the
  * scan is Spark's `binaryFile` source (distributed, predicate-pushes on
  * path/length/modificationTime) and dispatch is a column expression; text
  * extraction is a per-format function applied to the content bytes.
  *
  * All three extractors are REAL and JDK-only (no external parser jars):
  *  - HTML: script/style/comment/tag strip + entity decode.
  *  - DOCX: the container is a zip; `word/document.xml` is located with
  *    `java.util.zip.ZipInputStream` and paragraphs/`w:t` runs/`w:tab`/
  *    `w:br` are mapped to text (reference: Docx2txtLoader,
  *    chroma_utils.py:64-66).
  *  - PDF: objects are scanned, the Catalog→Pages→Kids tree is walked,
  *    content streams (raw or /FlateDecode via `java.util.zip.Inflater`)
  *    are tokenized and the text-showing operators (Tj ' " TJ) extracted,
  *    one row per page (reference: PyPDFLoader one-Document-per-page,
  *    chroma_utils.py:61-63). Honest limits: string bytes are decoded as
  *    UTF-8 (ASCII/WinAnsi-compatible for the common case); custom font
  *    /Encoding maps, CID/Type0 composite fonts and ToUnicode CMaps are
  *    NOT applied, and non-Flate filters (DCT, LZW, ASCII85) are skipped.
  *
  * [[buildDocx]]/[[buildPdf]] are deterministic writers for the same
  * subset; they exist so the extractors are oracle-checkable as an exact
  * encode→decode round trip and so specs have binary fixtures without
  * shipping opaque blobs.
  */
object DocLoader {

  /** O-1/O-2/O-3 scan: one row per file with content bytes + metadata. */
  def scanBinary(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path"), col("length"), col("modificationTime"), col("content"))

  /** O-4: extension → format tag; unsupported extensions get "unsupported"
    * (the reference raises, chroma_utils.py:70-71 — kept as a filterable
    * tag so one bad file cannot fail a 100 TB batch).
    */
  def formatOf(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(lower(path).endsWith(".pdf"), "pdf")
      .when(lower(path).endsWith(".docx"), "docx")
      .when(lower(path).endsWith(".html"), "html")
      .otherwise("unsupported")

  /** Real HTML extraction: strip script/style blocks, tags, collapse space. */
  def extractHtml(bytes: Array[Byte]): String = {
    val s = new String(bytes, StandardCharsets.UTF_8)
    s.replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
      .replaceAll("(?s)<!--.*?-->", " ")
      .replaceAll("(?s)<[^>]+>", " ")
      .replaceAll("&nbsp;", " ")
      .replaceAll("&lt;", "<").replaceAll("&gt;", ">")
      .replaceAll("&amp;", "&") // decode &amp; LAST or "&amp;lt;" double-unescapes
      .replaceAll("\\s+", " ").trim
  }

  // ---------------------------------------------------------------- DOCX

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def xmlUnescape(s: String): String =
    // numeric refs first, then named; &amp; LAST (same double-unescape trap
    // as extractHtml).
    "&#(\\d+);".r.replaceAllIn(s, m => Character.toString(m.group(1).toInt))
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")

  /** O-2 (real): locate `word/document.xml` in the zip container and map
    * OOXML structure to text — `w:p` paragraphs join with `\n`, `w:t` runs
    * concatenate, `w:tab`→`\t`, `w:br`/`w:cr`→`\n`. Null on anything that
    * is not a readable zip holding a document part.
    */
  def extractDocx(bytes: Array[Byte]): String = {
    val xml = zipEntryBytes(bytes, "word/document.xml")
    if (xml == null) null
    else docXmlToText(new String(xml, StandardCharsets.UTF_8))
  }

  private def zipEntryBytes(bytes: Array[Byte], name: String): Array[Byte] = {
    val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      var e: ZipEntry = zin.getNextEntry
      while (e != null) {
        if (e.getName == name) {
          val out = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = zin.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = zin.read(buf) }
          return out.toByteArray
        }
        e = zin.getNextEntry
      }
      null
    } catch { case _: Exception => null } finally zin.close()
  }

  private def docXmlToText(xml: String): String = {
    val paras = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inPara = false
    var open = 0 // paragraphs seen, to emit empty paragraphs too
    // Single left-to-right pass over the markup: paragraph opens/closes
    // delimit lines; within a paragraph only w:t/w:tab/w:br/w:cr produce
    // characters (run properties, proofing marks etc. are skipped).
    val events = "(?s)<w:p(?:\\s[^>]*)?/>|<w:p(?:\\s[^>]*)?>|</w:p>|<w:t(?:\\s[^>]*)?>(.*?)</w:t>|<w:tab(?:\\s[^>]*)?/>|<w:br(?:\\s[^>]*)?/>|<w:cr(?:\\s[^>]*)?/>".r
    events.findAllMatchIn(xml).foreach { m =>
      val tok = m.matched
      if (tok.startsWith("<w:p") && tok.endsWith("/>")) { paras += ""; open += 1 }
      else if (tok.startsWith("<w:p")) { inPara = true; cur.setLength(0); open += 1 }
      else if (tok == "</w:p>") { if (inPara) { paras += cur.toString; inPara = false } }
      else if (inPara) {
        if (tok.startsWith("<w:t") && m.group(1) != null) cur ++= xmlUnescape(m.group(1))
        else if (tok.startsWith("<w:tab")) cur += '\t'
        else if (tok.startsWith("<w:br") || tok.startsWith("<w:cr")) cur += '\n'
      }
    }
    if (open == 0) "" else paras.mkString("\n")
  }

  /** Deterministic DOCX writer for the [[extractDocx]] subset: each `\n`
    * separated line of `text` becomes one `w:p` paragraph. Zip entry
    * timestamps are pinned so byte output is stable.
    */
  def buildDocx(text: String): Array[Byte] = {
    val body = text.split("\n", -1).map { line =>
      if (line.isEmpty) "<w:p/>"
      else s"""<w:p><w:r><w:t xml:space="preserve">${xmlEscape(line)}</w:t></w:r></w:p>"""
    }.mkString
    val docXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        s"<w:body>$body</w:body></w:document>"
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
        "</Types>"
    val out = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(out)
    def put(name: String, data: String): Unit = {
      val e = new ZipEntry(name); e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(data.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    put("[Content_Types].xml", contentTypes)
    put("word/document.xml", docXml)
    zos.close()
    out.toByteArray
  }

  // ----------------------------------------------------------------- PDF

  /** One parsed indirect object: its dictionary text and, when present,
    * its decoded stream bytes.
    */
  private final case class PdfObj(dict: String, stream: Array[Byte])

  /** O-1 (real): one (page_number, text) row per page, page numbers
    * 1-based in Catalog→Pages→Kids order (the reference's PyPDFLoader
    * emits one Document per page with page metadata — SURVEY §1.3).
    * Falls back to file order when no page tree resolves; returns null
    * for non-PDF bytes.
    */
  def extractPdfPages(bytes: Array[Byte]): Seq[(Int, String)] = {
    if (bytes == null || bytes.length < 5 ||
      !new String(bytes, 0, 5, StandardCharsets.ISO_8859_1).startsWith("%PDF")) return null
    try pagesOf(parseObjects(bytes))
    catch { case _: Exception => null }
  }

  /** The (page_number, text) rows of [[extractPdfPages]] over already
    * parsed objects. */
  private def pagesOf(objs: Map[Int, PdfObj]): Seq[(Int, String)] = {
    val pageOrder: Seq[Int] = pageTreeOrder(objs).getOrElse(
      objs.toSeq
        .filter { case (_, o) => "/Type\\s*/Page(?![a-zA-Z])".r.findFirstIn(o.dict).isDefined }
        .map(_._1).sorted)
    val refRe = "(\\d+)\\s+\\d+\\s+R".r
    pageOrder.zipWithIndex.map { case (pn, idx) =>
      val dict = objs(pn).dict
      val fonts = pageFontDecoders(objs, dict)
      val contents = "/Contents\\s*(\\[[^\\]]*\\]|\\d+\\s+\\d+\\s+R)".r
        .findFirstMatchIn(dict).map(_.group(1)).getOrElse("")
      val streamBytes = refRe.findAllMatchIn(contents).map(_.group(1).toInt).toSeq
        .flatMap(objs.get).flatMap(o => Option(o.stream))
      val text = streamBytes
        .map(b => contentStreamText(new String(b, StandardCharsets.UTF_8), fonts))
        .mkString("\n")
      (idx + 1, text)
    }
  }

  /** Whole-document PDF text: pages joined with `\n`. */
  def extractPdf(bytes: Array[Byte]): String = {
    val pages = extractPdfPages(bytes)
    if (pages == null) null else pages.map(_._2).mkString("\n")
  }

  /** Extraction STATUS values of [[extractPdfStatus]]/
    * [[loadDocumentsWithStatus]]: `ok`, `unsupported_font` (the document
    * uses a CID/Type0 composite font — its strings are CID-encoded and
    * this parser's UTF-8 string decode would emit garbage, so it
    * declines honestly), `parse_error` (not a parseable PDF), and
    * `unsupported_format` (dispatch found no extractor). The reference
    * RAISES on extraction failure and compensates
    * (chroma_utils.py:134-144); at 100 TB a raise is one poison file
    * failing a whole batch, so the engine instead ROUTES: failures keep
    * their row with null text and a status for the quarantine frame.
    */
  val StatusOk = "ok"
  val StatusUnsupportedFont = "unsupported_font"
  val StatusParseError = "parse_error"
  val StatusUnsupportedFormat = "unsupported_format"

  /** PDF text extraction with an explicit status instead of a silent
    * null: (text, status). r10 quarantined EVERY /Subtype /Type0
    * composite font; since r11 a Type0 font whose object carries a
    * usable /ToUnicode CMap EXTRACTS through [[CMapFont]] (that CMap
    * exists precisely to make the CID-coded strings recoverable — the
    * reference's PyPDFLoader does the same), so only a Type0 WITHOUT
    * one routes to `unsupported_font` with null text: its CIDs are
    * glyph indexes of an embedded font program with no declared
    * Unicode mapping, and any byte-level decode would emit garbage
    * that poisons dedup/quality stages downstream. Silent null (the
    * pre-r10 behavior) made unextractable docs indistinguishable from
    * empty ones.
    */
  def extractPdfStatus(bytes: Array[Byte]): (String, String) = {
    if (bytes == null || bytes.length < 5 ||
      !new String(bytes, 0, 5, StandardCharsets.ISO_8859_1).startsWith("%PDF"))
      return (null, StatusParseError)
    try {
      val objs = parseObjects(bytes)
      val undecodableType0 = objs.valuesIterator.exists { o =>
        "/Subtype\\s*/Type0(?![a-zA-Z])".r.findFirstIn(o.dict).isDefined &&
          !fontDecoder(objs, o.dict).exists(_.isInstanceOf[CMapFont])
      }
      if (undecodableType0) (null, StatusUnsupportedFont)
      else (pagesOf(objs).map(_._2).mkString("\n"), StatusOk)
    } catch { case _: Exception => (null, StatusParseError) }
  }

  /** Scan `N G obj … endobj`, honouring /Length so stream payloads that
    * happen to contain `endobj`/`endstream` bytes cannot desync the scan;
    * FlateDecode streams are inflated, other filters yield no stream.
    */
  private def parseObjects(bytes: Array[Byte]): Map[Int, PdfObj] = {
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    // java Matcher.find(pos) walks the buffer without re-substringing it —
    // a real PDF has thousands of objects and the naive substring loop is
    // O(bytes × objects).
    val objM = java.util.regex.Pattern.compile("(\\d+)\\s+(\\d+)\\s+obj").matcher(s)
    val out = mutable.Map.empty[Int, PdfObj]
    var pos = 0
    while (objM.find(pos)) {
      val objNum = objM.group(1).toInt
      val bodyStart = objM.end
      val streamKw = s.indexOf("stream", bodyStart)
      val endobj = s.indexOf("endobj", bodyStart)
      if (endobj < 0) return out.toMap
      if (streamKw >= 0 && streamKw < endobj) {
        val dict = s.substring(bodyStart, streamKw)
        var dataStart = streamKw + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        // (?!\d) stops backtracking from shortening the number so an
        // indirect "/Length 10 0 R" can never half-match as length=1.
        val lenOpt = "/Length\\s+(\\d+)(?!\\d)(?!\\s+\\d+\\s+R)".r.findFirstMatchIn(dict).map(_.group(1).toInt)
        val dataEnd = lenOpt match {
          case Some(len) if dataStart + len <= bytes.length => dataStart + len
          case _ =>
            val e = s.indexOf("endstream", dataStart)
            if (e < 0) dataStart else e
        }
        val raw = java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
        val isFlate = "/Filter\\s*\\[?\\s*/FlateDecode".r.findFirstIn(dict).isDefined
        val noFilter = "/Filter".r.findFirstIn(dict).isEmpty
        val data =
          if (isFlate) inflate(raw)
          else if (noFilter) raw
          else null // unsupported filter (DCT/LZW/ASCII85…): skip honestly
        val after = s.indexOf("endobj", dataEnd)
        out(objNum) = PdfObj(dict, data)
        pos = if (after < 0) dataEnd else after + "endobj".length
      } else {
        out(objNum) = PdfObj(s.substring(bodyStart, endobj), null)
        pos = endobj + "endobj".length
      }
    }
    out.toMap
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return out.toByteArray
        out.write(buf, 0, n)
      }
      out.toByteArray
    } catch { case _: Exception => null } finally inf.end()
  }

  /** Catalog → /Pages → /Kids depth-first walk; None when no catalog (then
    * the caller falls back to file order).
    */
  private def pageTreeOrder(objs: Map[Int, PdfObj]): Option[Seq[Int]] = {
    val catalog = objs.find(o => "/Type\\s*/Catalog".r.findFirstIn(o._2.dict).isDefined)
    val rootRef = catalog.flatMap(c => "/Pages\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(c._2.dict).map(_.group(1).toInt))
    rootRef.map { root =>
      val order = mutable.ArrayBuffer.empty[Int]
      val seen = mutable.Set.empty[Int] // cycle guard on a malformed tree
      def walk(n: Int): Unit = if (seen.add(n)) objs.get(n).foreach { o =>
        if ("/Type\\s*/Pages".r.findFirstIn(o.dict).isDefined) {
          "/Kids\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(o.dict).foreach { kids =>
            "(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(kids.group(1)).foreach(k => walk(k.group(1).toInt))
          }
        } else order += n
      }
      walk(root)
      order.toSeq
    }.filter(_.nonEmpty)
  }

  // ------------------------------------------- font-aware string decoding

  /** Per-font string decoder, resolved from the page's /Resources →
    * /Font dictionaries (r10 verdict next #2 — extract, don't just
    * quarantine):
    *  - [[CMapFont]]: a /ToUnicode CMap (`bfchar`/`bfrange` sections,
    *    PDF 32000-1:2008 §9.10.3) mapping fixed-width character codes —
    *    2-byte CIDs under the Identity-H encoding every subset-embedded
    *    CJK font uses — to Unicode. Codes the CMap does not cover decode
    *    to U+FFFD rather than silently dropping (lossy glyphs stay
    *    countable downstream).
    *  - [[DiffFont]]: a simple font's /Encoding /Differences array
    *    (§9.6.6) overriding byte codes with glyph names, resolved
    *    through [[glyphToUnicode]] (Adobe Glyph List conventions); codes
    *    outside the array keep their Latin-1 interpretation, matching
    *    the base-encoding-plus-overrides semantics.
    * The reference gets both behaviors from PyPDFLoader
    * (chroma_utils.py:61-63); here they are first-class so the Type0
    * quarantine class of r10 shrinks to genuinely undecodable fonts
    * (Type0 WITHOUT a ToUnicode CMap).
    */
  private[sources] sealed trait FontDecoder
  private[sources] final case class CMapFont(codeBytes: Int, map: Map[Int, String]) extends FontDecoder
  private[sources] final case class DiffFont(map: Map[Int, String]) extends FontDecoder

  /** Glyph name → Unicode, the Adobe Glyph List conventions: `uniXXXX`/
    * `uXXXX(XX)` hex names decode directly; one-character names map to
    * themselves; the table below carries the AGL names for ASCII and the
    * common Latin-1/typographic range (the names a /Differences array in
    * the wild overwhelmingly uses). Unknown names yield U+FFFD.
    */
  private[sources] def glyphToUnicode(name: String): String = {
    if (name.startsWith("uni") && name.length >= 7 &&
      name.substring(3, 7).forall(c => Character.digit(c, 16) >= 0))
      return new String(Character.toChars(Integer.parseInt(name.substring(3, 7), 16)))
    if (name.startsWith("u") && name.length >= 5 && name.length <= 7 &&
      name.substring(1).forall(c => Character.digit(c, 16) >= 0))
      return new String(Character.toChars(Integer.parseInt(name.substring(1), 16)))
    if (name.length == 1) return name
    aglNames.getOrElse(name, "�")
  }

  private val aglNames: Map[String, String] = Map(
    "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
    "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
    "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
    "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
    "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
    "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
    "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
    "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
    "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
    "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
    "braceright" -> "}", "asciitilde" -> "~",
    "exclamdown" -> "¡", "cent" -> "¢", "sterling" -> "£", "yen" -> "¥",
    "section" -> "§", "copyright" -> "©", "ordfeminine" -> "ª",
    "guillemotleft" -> "«", "registered" -> "®", "degree" -> "°",
    "plusminus" -> "±", "paragraph" -> "¶", "periodcentered" -> "·",
    "ordmasculine" -> "º", "guillemotright" -> "»", "questiondown" -> "¿",
    "Agrave" -> "À", "Aacute" -> "Á", "Acircumflex" -> "Â", "Atilde" -> "Ã",
    "Adieresis" -> "Ä", "Aring" -> "Å", "AE" -> "Æ", "Ccedilla" -> "Ç",
    "Egrave" -> "È", "Eacute" -> "É", "Ecircumflex" -> "Ê", "Edieresis" -> "Ë",
    "Igrave" -> "Ì", "Iacute" -> "Í", "Icircumflex" -> "Î", "Idieresis" -> "Ï",
    "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocircumflex" -> "Ô",
    "Otilde" -> "Õ", "Odieresis" -> "Ö", "Oslash" -> "Ø", "Ugrave" -> "Ù",
    "Uacute" -> "Ú", "Ucircumflex" -> "Û", "Udieresis" -> "Ü", "Yacute" -> "Ý",
    "germandbls" -> "ß", "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â",
    "atilde" -> "ã", "adieresis" -> "ä", "aring" -> "å", "ae" -> "æ",
    "ccedilla" -> "ç", "egrave" -> "è", "eacute" -> "é", "ecircumflex" -> "ê",
    "edieresis" -> "ë", "igrave" -> "ì", "iacute" -> "í", "icircumflex" -> "î",
    "idieresis" -> "ï", "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
    "ocircumflex" -> "ô", "otilde" -> "õ", "odieresis" -> "ö", "oslash" -> "ø",
    "ugrave" -> "ù", "uacute" -> "ú", "ucircumflex" -> "û", "udieresis" -> "ü",
    "yacute" -> "ý", "ydieresis" -> "ÿ",
    "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
    "dagger" -> "†", "daggerdbl" -> "‡", "ellipsis" -> "…",
    "perthousand" -> "‰", "guilsinglleft" -> "‹",
    "guilsinglright" -> "›", "fraction" -> "⁄", "Euro" -> "€",
    "trademark" -> "™", "fi" -> "ﬁ", "fl" -> "ﬂ")

  /** Parse a /ToUnicode CMap stream (§9.10.3): `begincodespacerange`
    * fixes the code width (2 bytes for the Identity-H CID case when
    * absent), `beginbfchar` pairs map single codes, `beginbfrange`
    * triples map either an arithmetic run (`<lo> <hi> <dstStart>`, the
    * LAST UTF-16 unit incrementing per the spec) or an explicit
    * destination array. Destinations are UTF-16BE hex.
    */
  private[sources] def parseToUnicodeCMap(cm: String): (Int, Map[Int, String]) = {
    def hexInt(h: String): Int = java.lang.Long.parseLong(h, 16).toInt
    def hexStr(h: String): String = {
      val padded = if (h.length % 2 == 1) h + "0" else h
      val bytes = padded.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      new String(bytes, StandardCharsets.UTF_16BE)
    }
    // last UTF-16 unit carries the range offset (the spec's "last byte"
    // rule lifted to units, exact for every BMP destination)
    def addOffset(h: String, off: Int): String = {
      val s = hexStr(h)
      if (s.isEmpty) s
      else s.substring(0, s.length - 1) + (s.charAt(s.length - 1) + off).toChar
    }
    val codeBytes = "(?s)begincodespacerange\\s*<([0-9a-fA-F]+)>".r
      .findFirstMatchIn(cm).map(m => math.max(1, m.group(1).length / 2)).getOrElse(2)
    val map = mutable.Map.empty[Int, String]
    val pair = "<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>".r
    "(?s)beginbfchar(.*?)endbfchar".r.findAllMatchIn(cm).foreach { sec =>
      pair.findAllMatchIn(sec.group(1)).foreach(m =>
        map(hexInt(m.group(1))) = hexStr(m.group(2)))
    }
    val triple = ("<([0-9a-fA-F]+)>\\s*<([0-9a-fA-F]+)>\\s*" +
      "(?:<([0-9a-fA-F]+)>|\\[([^\\]]*)\\])").r
    "(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(cm).foreach { sec =>
      triple.findAllMatchIn(sec.group(1)).foreach { m =>
        val lo = hexInt(m.group(1)); val hi = hexInt(m.group(2))
        if (m.group(3) != null)
          (lo to hi).foreach(c => map(c) = addOffset(m.group(3), c - lo))
        else {
          val dsts = "<([0-9a-fA-F]+)>".r.findAllMatchIn(m.group(4)).map(_.group(1)).toSeq
          (lo to hi).zip(dsts).foreach { case (c, d) => map(c) = hexStr(d) }
        }
      }
    }
    (codeBytes, map.toMap)
  }

  /** Byte-code → Unicode map of a named base encoding, built from the
    * JDK's own charset tables (windows-1252 for /WinAnsiEncoding,
    * x-MacRoman for /MacRomanEncoding — both standard JDK charsets);
    * bytes the charset leaves undefined are omitted so the Latin-1
    * default applies. Honest limit shared with the rest of the literal
    * path: content streams are UTF-8-decoded before tokenizing, so
    * high-bit codes reach the decoder only via octal/hex escapes (the
    * form the deterministic writers emit).
    */
  private def baseEncodingMap(charsetName: String): Map[Int, String] =
    try {
      val cs = java.nio.charset.Charset.forName(charsetName)
      (0 until 256).flatMap { b =>
        val s = new String(Array(b.toByte), cs)
        if (s.length == 1 && s.charAt(0) != '�') Some(b -> s) else None
      }.toMap
    } catch { case _: Exception => Map.empty }

  private lazy val winAnsiMap = baseEncodingMap("windows-1252")
  private lazy val macRomanMap = baseEncodingMap("x-MacRoman")

  /** Parse an /Encoding /Differences array (§9.6.6): a number sets the
    * next code, each following name assigns it (and increments).
    */
  private[sources] def parseDifferences(diff: String): Map[Int, String] = {
    val tok = "(\\d+)|/([^\\s/\\[\\]<>()]+)".r
    var code = 0
    val map = mutable.Map.empty[Int, String]
    tok.findAllMatchIn(diff).foreach { m =>
      if (m.group(1) != null) code = m.group(1).toInt
      else { map(code) = glyphToUnicode(m.group(2)); code += 1 }
    }
    map.toMap
  }

  /** Balanced `<< … >>` dictionary starting at/after `from` in `s`. */
  private def balancedDict(s: String, from: Int): Option[String] = {
    var i = s.indexOf("<<", from)
    if (i < 0) return None
    val start = i
    var depth = 0
    while (i < s.length - 1) {
      if (s.startsWith("<<", i)) { depth += 1; i += 2 }
      else if (s.startsWith(">>", i)) {
        depth -= 1; i += 2
        if (depth == 0) return Some(s.substring(start, i))
      } else i += 1
    }
    None
  }

  /** Value of dict key `name`, following one indirect reference:
    * inline `<< … >>` text, or the referenced object's dict.
    */
  private def dictValue(objs: Map[Int, PdfObj], dict: String, name: String): Option[String] = {
    // (?![A-Za-z0-9]) keeps /Font from half-matching /FontDescriptor etc.
    val keyM = (java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9])\\s*").r
      .findFirstMatchIn(dict)
    keyM.flatMap { m =>
      val rest = dict.substring(m.end)
      val refM = "^(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(rest)
      refM match {
        case Some(r) => objs.get(r.group(1).toInt).map(_.dict)
        case None if rest.startsWith("<<") => balancedDict(rest, 0)
        case None => None
      }
    }
  }

  /** Invert an embedded TrueType font program's 'cmap' table into
    * GID → Unicode (the decode a bare-Identity-H Type0 font needs,
    * since its CIDs ARE glyph ids). Understands the sfnt table
    * directory plus cmap subtable formats 4 (segmented BMP — the
    * format every Windows-compatible font must carry) and 12
    * (segmented coverage for supplementary planes), preferring
    * (platform 3, encoding 10) > (3, 1) > platform 0. When several
    * code points map to one glyph the SMALLEST wins (deterministic;
    * real subset fonts allocate one glyph per code point anyway).
    * Missing/malformed/truncated tables yield None ("no decode", never
    * an error); a structurally-present supported subtable yields
    * Some(map) even when it maps nothing — a subset font over an
    * empty text legitimately has zero mappings, the same rule the
    * ToUnicode path applies.
    */
  private[graft] def invertTrueTypeCmap(font: Array[Byte]): Option[Map[Int, String]] = {
    def u8(i: Int): Int = font(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xFFFFFFFFL
    try {
      if (font.length < 12) return None
      val numTables = u16(4)
      val cmapOff = (0 until numTables).iterator.map(12 + 16 * _).collectFirst {
        case e if font.length >= e + 16 &&
          new String(font, e, 4, StandardCharsets.ISO_8859_1) == "cmap" =>
          u32(e + 8).toInt
      }.getOrElse(return None)
      val nSub = u16(cmapOff + 2)
      val records = (0 until nSub).map { i =>
        val r = cmapOff + 4 + 8 * i
        (u16(r), u16(r + 2), cmapOff + u32(r + 4).toInt)
      }
      val sub = records.find(r => r._1 == 3 && r._2 == 10)
        .orElse(records.find(r => r._1 == 3 && r._2 == 1))
        .orElse(records.find(_._1 == 0))
        .getOrElse(return None)._3
      val fwd = scala.collection.mutable.Map.empty[Int, Int] // cp -> gid
      // Inversion budget: a hostile/degenerate font can declare segments
      // or groups spanning the whole code space; 2^17 mappings is far
      // beyond any real subset font (PDF CIDs are 16-bit anyway) and
      // keeps the per-document ingest cost bounded.
      val budget = 1 << 17
      u16(sub) match {
        case 4 =>
          val segCount = u16(sub + 6) / 2
          val endBase = sub + 14
          val startBase = endBase + segCount * 2 + 2
          val deltaBase = startBase + segCount * 2
          val rangeBase = deltaBase + segCount * 2
          for (i <- 0 until segCount) {
            val end = u16(endBase + 2 * i)
            val start = u16(startBase + 2 * i)
            val delta = u16(deltaBase + 2 * i)
            val rangeOff = u16(rangeBase + 2 * i)
            if (start != 0xFFFF && fwd.size < budget)
              for (cp <- start to math.min(end, 0xFFFE) if fwd.size < budget) {
                val gid =
                  if (rangeOff == 0) (cp + delta) & 0xFFFF
                  else {
                    val gi = rangeBase + 2 * i + rangeOff + 2 * (cp - start)
                    if (gi + 1 >= font.length) 0
                    else {
                      val g = u16(gi)
                      if (g == 0) 0 else (g + delta) & 0xFFFF
                    }
                  }
                if (gid != 0 && !fwd.get(cp).exists(_ != 0)) fwd(cp) = gid
              }
          }
        case 12 =>
          val nGroups = u32(sub + 12).toInt
          for (g <- 0 until math.min(nGroups, 1 << 16) if fwd.size < budget) {
            val o = sub + 16 + 12 * g
            val startCp = u32(o).toInt
            val endCp = u32(o + 4).toInt
            val startGid = u32(o + 8).toInt
            for (cp <- startCp to math.min(endCp, 0x10FFFF) if fwd.size < budget)
              if (Character.isValidCodePoint(cp))
                fwd(cp) = startGid + (cp - startCp)
          }
        case _ => return None
      }
      Some(fwd.toSeq.sortBy(_._1).reverseIterator // smallest cp wins per gid
        .map { case (cp, gid) => gid -> new String(Character.toChars(cp)) }
        .toMap)
    } catch { case _: Exception => None }
  }

  /** CFF standard strings 0–95 — the ASCII core every Type1C subset
    * references without a String INDEX entry (SIDs ≥ 96 in the standard
    * range are accents/ligatures; unmapped ones degrade to U+FFFD like
    * the /Differences path, they never crash the decode).
    */
  private val cffStandardStrings: IndexedSeq[String] =
    IndexedSeq(".notdef", "space", "exclam", "quotedbl", "numbersign",
      "dollar", "percent", "ampersand", "quoteright", "parenleft",
      "parenright", "asterisk", "plus", "comma", "hyphen", "period",
      "slash") ++
      IndexedSeq("zero", "one", "two", "three", "four", "five", "six",
        "seven", "eight", "nine") ++
      IndexedSeq("colon", "semicolon", "less", "equal", "greater",
        "question", "at") ++
      ('A' to 'Z').map(_.toString) ++
      IndexedSeq("bracketleft", "backslash", "bracketright",
        "asciicircum", "underscore", "quoteleft") ++
      ('a' to 'z').map(_.toString) ++
      IndexedSeq("braceleft", "bar", "braceright", "asciitilde")

  /** Invert an embedded CFF (FontFile3 /Type1C) font program's charset
    * into GID → Unicode — the FontFile3 twin of [[invertTrueTypeCmap]],
    * closing the last bare-Type0 quarantine class (r13 verdict #6).
    *
    * Sound exactly for a NON-CID CFF wrapped as the descendant of an
    * /Identity-H Type0: PDF 32000 §9.7.4.2 — when the embedded CFF is
    * not CID-keyed, CIDs are used DIRECTLY as glyph indices, so
    * code = CID = GID, and the charset maps each GID to a glyph-name
    * SID whose Unicode follows from the name (uniXXXX / uXXXXXX /
    * AGL). A CID-keyed CFF (Top DICT carries ROS, 12 30) has CIDs in
    * its charset, not names — no Unicode derivable, quarantine stays.
    * Predefined charsets (offset 0/1/2) are similarly left on the
    * quarantine path. Malformed/truncated programs yield None, never
    * an error; a parsed font with no named glyphs yields Some(empty) —
    * the same structurally-present convention as the cmap path.
    */
  private[graft] def invertCffCharset(font: Array[Byte]): Option[Map[Int, String]] = {
    def u8(i: Int): Int = font(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    try {
      if (font.length < 4 || u8(0) != 1) return None
      val hdrSize = u8(2)
      // INDEX: count u16, offSize u8, (count+1) 1-based offsets, data
      def readIndex(pos: Int): (IndexedSeq[(Int, Int)], Int) = {
        val count = u16(pos)
        if (count == 0) (Vector.empty, pos + 2)
        else {
          val offSize = u8(pos + 2)
          require(offSize >= 1 && offSize <= 4, "bad offSize")
          def off(k: Int): Int = {
            var v = 0; var j = 0
            while (j < offSize) { v = (v << 8) | u8(pos + 3 + k * offSize + j); j += 1 }
            v
          }
          val dataStart = pos + 3 + (count + 1) * offSize - 1
          val entries = (0 until count).map(k => (dataStart + off(k), dataStart + off(k + 1)))
          (entries, entries.last._2)
        }
      }
      val (_, afterNames) = readIndex(hdrSize)
      val (topDicts, afterTop) = readIndex(afterNames)
      val (strings, _) = readIndex(afterTop)
      val (tdS, tdE) = topDicts.headOption.getOrElse(return None)
      // Top DICT walk: track the charset (op 15) and CharStrings (op 17)
      // offsets, flag CID-keyed (op 12 30 = ROS)
      var i = tdS
      var charsetOff = 0
      var charStringsOff = -1
      var isCid = false
      var lastOperand = 0L
      while (i < tdE) {
        val b0 = u8(i)
        if (b0 <= 21) {
          val op = if (b0 == 12) { i += 1; 1200 + u8(i) } else b0
          op match {
            case 15 => charsetOff = lastOperand.toInt
            case 17 => charStringsOff = lastOperand.toInt
            case 1230 => isCid = true
            case _ => ()
          }
          i += 1
        } else if (b0 == 28) { lastOperand = ((u8(i + 1) << 8) | u8(i + 2)).toShort.toLong; i += 3 }
        else if (b0 == 29) {
          lastOperand = (((u8(i + 1).toLong << 24) | (u8(i + 2) << 16) |
            (u8(i + 3) << 8) | u8(i + 4)).toInt).toLong
          i += 5
        } else if (b0 == 30) { // real: nibbles until an 0xF nibble
          i += 1
          var done = false
          while (!done && i < tdE) {
            val b = u8(i); i += 1
            if ((b & 0x0F) == 0x0F || (b >> 4) == 0x0F) done = true
          }
          lastOperand = 0L
        } else if (b0 >= 32 && b0 <= 246) { lastOperand = (b0 - 139).toLong; i += 1 }
        else if (b0 >= 247 && b0 <= 250) { lastOperand = ((b0 - 247) * 256 + u8(i + 1) + 108).toLong; i += 2 }
        else if (b0 >= 251 && b0 <= 254) { lastOperand = (-(b0 - 251) * 256 - u8(i + 1) - 108).toLong; i += 2 }
        else return None
      }
      if (isCid || charStringsOff <= 0 || charsetOff <= 2) return None
      val (charStrings, _) = readIndex(charStringsOff)
      val nGlyphs = charStrings.size
      if (nGlyphs <= 1) return Some(Map.empty)
      // charset: SIDs for glyphs 1..nGlyphs-1 (glyph 0 is .notdef)
      val sids = mutable.ArrayBuffer.empty[Int]
      u8(charsetOff) match {
        case 0 =>
          var g = 1
          while (g < nGlyphs) { sids += u16(charsetOff + 1 + 2 * (g - 1)); g += 1 }
        case 1 =>
          var pos = charsetOff + 1
          while (sids.length < nGlyphs - 1) {
            val first = u16(pos); val nLeft = u8(pos + 2); pos += 3
            var k = 0
            while (k <= nLeft && sids.length < nGlyphs - 1) { sids += first + k; k += 1 }
          }
        case 2 =>
          var pos = charsetOff + 1
          while (sids.length < nGlyphs - 1) {
            val first = u16(pos); val nLeft = u16(pos + 2); pos += 4
            var k = 0
            while (k <= nLeft && sids.length < nGlyphs - 1) { sids += first + k; k += 1 }
          }
        case _ => return None
      }
      def sidName(sid: Int): Option[String] =
        if (sid < 391) cffStandardStrings.lift(sid)
        else strings.lift(sid - 391).map { case (s, e) =>
          new String(font, s, e - s, StandardCharsets.ISO_8859_1)
        }
      Some(sids.zipWithIndex.flatMap { case (sid, idx) =>
        sidName(sid).map(n => (idx + 1) -> glyphToUnicode(n))
      }.toMap)
    } catch { case _: Exception => None }
  }

  /** Decoder for one font object: /ToUnicode CMap first (authoritative
    * when present — it exists precisely to make text extractable), else
    * the embedded font program's cmap for a bare Identity Type0, else
    * an /Encoding with /Differences, else none (default byte decode).
    */
  private def fontDecoder(objs: Map[Int, PdfObj], fontDict: String): Option[FontDecoder] = {
    val isType0 = "/Subtype\\s*/Type0(?![a-zA-Z])".r.findFirstIn(fontDict).isDefined
    val toUniSrc = "/ToUnicode\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(fontDict)
      .flatMap(m => objs.get(m.group(1).toInt)).flatMap(o => Option(o.stream))
      .map(b => new String(b, StandardCharsets.ISO_8859_1))
    val toUni = toUniSrc.map(parseToUnicodeCMap)
    toUni match {
      // a structurally-present CMap counts even when it maps nothing (a
      // subset font over an empty text legitimately has zero bfchars);
      // only a ToUnicode ref resolving to a non-CMap stream falls through
      case Some((cb, map)) if map.nonEmpty || toUniSrc.exists(_.contains("begincmap")) =>
        Some(CMapFont(if (isType0) math.max(cb, 2) else cb, map))
      case _ if isType0 =>
        // Bare Type0 (no usable /ToUnicode): before quarantining, try
        // the embedded font program's own 'cmap' table (the reference's
        // PyPDFLoader path for predefined/identity CMaps,
        // chroma_utils.py:61-63). Sound exactly when code = CID = GID:
        // /Encoding /Identity-H|V (code = CID) and the descendant
        // CIDFontType2's /CIDToGIDMap absent or /Identity (CID = GID) —
        // then inverting the TrueType cmap (Unicode → GID) decodes the
        // shown CIDs. Anything else stays on the quarantine path.
        val identityEnc =
          "/Encoding\\s*/Identity-[HV]".r.findFirstIn(fontDict).isDefined
        val fromFontProgram = for {
          _ <- if (identityEnc) Some(()) else None
          descM <- "/DescendantFonts\\s*\\[?\\s*(\\d+)\\s+\\d+\\s+R".r
            .findFirstMatchIn(fontDict)
          desc <- objs.get(descM.group(1).toInt)
          fdM <- "/FontDescriptor\\s+(\\d+)\\s+\\d+\\s+R".r
            .findFirstMatchIn(desc.dict)
          fd <- objs.get(fdM.group(1).toInt)
          inv <- {
            def programOf(key: String): Option[Array[Byte]] = for {
              ffM <- (key + "\\s+(\\d+)\\s+\\d+\\s+R").r.findFirstMatchIn(fd.dict)
              ff <- objs.get(ffM.group(1).toInt)
              program <- Option(ff.stream)
            } yield program
            // FontFile2 (TrueType, CIDFontType2): CID = GID additionally
            // requires /CIDToGIDMap absent or the literal name /Identity.
            // A stream-valued map ("/CIDToGIDMap 12 0 R") is valid PDF
            // and means CID != GID, so anything present that is not
            // exactly the /Identity name must quarantine, not decode.
            val ff2 = for {
              _ <- if (!desc.dict.contains("/CIDToGIDMap") ||
                "/CIDToGIDMap\\s*/Identity\\b".r
                  .findFirstIn(desc.dict).isDefined) Some(()) else None
              program <- programOf("/FontFile2")
              inv2 <- invertTrueTypeCmap(program)
            } yield inv2
            // FontFile3 (CFF, CIDFontType0): a non-CID Type1C uses CIDs
            // directly as glyph indices (PDF 32000 9.7.4.2), so the
            // charset's glyph names carry the Unicode; CID-keyed CFFs
            // return None inside and stay quarantined.
            ff2.orElse(programOf("/FontFile3").flatMap(invertCffCharset))
          }
        } yield CMapFont(2, inv)
        fromFontProgram
      case _ =>
        // simple-font /Encoding: a named base encoding (/WinAnsiEncoding,
        // /MacRomanEncoding — directly or as /BaseEncoding inside an
        // encoding dict) layered under any /Differences overrides
        val encDict = dictValue(objs, fontDict, "/Encoding")
        val namedRe = "/(?:Base)?Encoding\\s*/(WinAnsiEncoding|MacRomanEncoding)".r
        val baseMap = namedRe.findFirstMatchIn(fontDict)
          .orElse(encDict.flatMap(namedRe.findFirstMatchIn(_)))
          .map(_.group(1)) match {
          case Some("WinAnsiEncoding") => winAnsiMap
          case Some("MacRomanEncoding") => macRomanMap
          case _ => Map.empty[Int, String]
        }
        val diffMap = encDict
          .flatMap(enc => "(?s)/Differences\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(enc))
          .map(m => parseDifferences(m.group(1)))
          .getOrElse(Map.empty[Int, String])
        val merged = baseMap ++ diffMap
        if (merged.nonEmpty) Some(DiffFont(merged)) else None
    }
  }

  /** Font-name → decoder map of one page: /Resources → /Font entries
    * (both possibly indirect), one [[fontDecoder]] per referenced font
    * object. Empty when the page declares none — decode then keeps the
    * default heuristics, which is what keeps [[buildPdf]]'s
    * resource-less output an exact round trip.
    */
  private def pageFontDecoders(
      objs: Map[Int, PdfObj], pageDict: String): Map[String, FontDecoder] =
    (for {
      res <- dictValue(objs, pageDict, "/Resources").toSeq
      fontDict <- dictValue(objs, res, "/Font").toSeq
      m <- "/([^\\s/\\[\\]<>()]+)\\s+(\\d+)\\s+\\d+\\s+R".r.findAllMatchIn(fontDict)
      obj <- objs.get(m.group(2).toInt)
      dec <- fontDecoder(objs, obj.dict)
    } yield m.group(1) -> dec).toMap

  /** Tokenize a content stream and assemble text from the show operators.
    * Tj/TJ append; ' and " imply a line move then show; the T-star, Td and
    * TD positioning ops start a new line. TJ kerning numbers are ignored
    * (no word-space heuristic — keeps extraction deterministic and
    * round-trip exact). `fonts` carries the page's per-font decoders:
    * `/Name size Tf` switches the ACTIVE decoder, and strings shown under
    * a [[CMapFont]]/[[DiffFont]] decode through it instead of the default
    * byte heuristics (operands precede their operator in postfix content
    * syntax, so decode-at-parse sees the font already in force).
    */
  private[sources] def contentStreamText(
      cs: String, fonts: Map[String, FontDecoder] = Map.empty): String = {
    val sb = new StringBuilder
    var pending: String = null // most recent string/array-of-strings operand
    var shown = false // any show op executed — gates line-move newlines so
    // the positioning Td before the first show doesn't fabricate a line
    var lastName: String = null // most recent /Name token (the Tf operand)
    var decoder: Option[FontDecoder] = None // active font's decoder
    def newline(): Unit = if (shown) sb += '\n'
    var i = 0
    val n = cs.length
    // Map raw character CODES through the active decoder. CMap fonts
    // consume fixed-width codes (codeBytes-wide units, Identity-H CIDs);
    // unmapped codes become U+FFFD. Differences fonts override byte
    // codes, unmapped bytes keep the Latin-1 default.
    def decodeCodes(codes: Array[Int]): String = decoder match {
      case Some(CMapFont(_, map)) =>
        codes.iterator.map(c => map.getOrElse(c, "�")).mkString
      case Some(DiffFont(map)) =>
        codes.iterator.map(c => map.getOrElse(c, c.toChar.toString)).mkString
      case None => codes.iterator.map(_.toChar).mkString
    }
    def parseLiteral(): String = { // cs(i) == '('
      val b = new StringBuilder
      var depth = 1
      i += 1
      while (i < n && depth > 0) {
        cs.charAt(i) match {
          case '\\' if i + 1 < n =>
            i += 1
            cs.charAt(i) match {
              case 'n' => b += '\n'; i += 1
              case 'r' => b += '\r'; i += 1
              case 't' => b += '\t'; i += 1
              case 'b' => b += '\b'; i += 1
              case 'f' => b += '\f'; i += 1
              case '\n' => i += 1 // line continuation
              case '\r' => i += 1; if (i < n && cs.charAt(i) == '\n') i += 1
              case d if d >= '0' && d <= '7' =>
                var oct = 0; var k = 0
                while (k < 3 && i < n && cs.charAt(i) >= '0' && cs.charAt(i) <= '7') {
                  oct = oct * 8 + (cs.charAt(i) - '0'); i += 1; k += 1
                }
                b += oct.toChar
              case c => b += c; i += 1
            }
          case '(' => depth += 1; b += '('; i += 1
          case ')' => depth -= 1; if (depth > 0) b += ')'; i += 1
          case c => b += c; i += 1
        }
      }
      decoder match {
        case Some(CMapFont(cb, _)) if cb == 2 =>
          // literal string under a 2-byte-code font: char pairs are codes
          val chars = b.toString
          decodeCodes(chars.grouped(2)
            .map(p => if (p.length == 2) (p.charAt(0) << 8) | p.charAt(1) else p.charAt(0).toInt)
            .toArray)
        case Some(_) => decodeCodes(b.toString.map(_.toInt).toArray)
        case None => b.toString
      }
    }
    def parseHex(): String = { // cs(i) == '<'
      val e = cs.indexOf('>', i)
      if (e < 0) { i = n; "" }
      else {
        val hex = cs.substring(i + 1, e).replaceAll("\\s", "")
        i = e + 1
        val padded = if (hex.length % 2 == 1) hex + "0" else hex
        val bytes = padded.grouped(2).map(h => Integer.parseInt(h, 16)).toArray
        decoder match {
          case Some(CMapFont(cb, _)) =>
            // fixed-width codes: group the bytes into cb-wide units
            decodeCodes(bytes.grouped(cb)
              .map(_.foldLeft(0)((acc, b) => (acc << 8) | b)).toArray)
          case Some(DiffFont(_)) => decodeCodes(bytes)
          case None =>
            // UTF-16BE with BOM (FE FF) is the PDF-standard form for
            // non-Latin text strings; everything else reads as 8-bit
            // code points.
            if (bytes.length >= 2 && bytes(0) == 0xFE && bytes(1) == 0xFF)
              new String(bytes.drop(2).map(_.toByte), java.nio.charset.StandardCharsets.UTF_16BE)
            else bytes.map(_.toChar).mkString
        }
      }
    }
    while (i < n) {
      val c = cs.charAt(i)
      if (c == '%') { while (i < n && cs.charAt(i) != '\n') i += 1 } // comment
      else if (c == '(') pending = parseLiteral()
      else if (c == '<' && i + 1 < n && cs.charAt(i + 1) == '<') i += 2 // dict open
      else if (c == '<') pending = parseHex()
      else if (c == '/') {
        // name token — remembered as the potential Tf font operand
        val start = i + 1
        i += 1
        while (i < n && !cs.charAt(i).isWhitespace && !"()<>[]/%".contains(cs.charAt(i))) i += 1
        lastName = cs.substring(start, i)
      } else if (c == '[') {
        // TJ operand: strings with interleaved kerning numbers
        val b = new StringBuilder
        i += 1
        while (i < n && cs.charAt(i) != ']') {
          val cc = cs.charAt(i)
          if (cc == '(') b ++= parseLiteral()
          else if (cc == '<') b ++= parseHex()
          else i += 1
        }
        if (i < n) i += 1
        pending = b.toString
      } else if (c.isLetter || c == '\'' || c == '"' || c == '*') {
        val start = i
        while (i < n && !cs.charAt(i).isWhitespace && !"()<>[]/%".contains(cs.charAt(i))) i += 1
        def show(): Unit = if (pending != null) { sb ++= pending; pending = null; shown = true }
        cs.substring(start, i) match {
          case "Tj" | "TJ" => show()
          case "'" | "\"" => newline(); show()
          case "T*" | "Td" | "TD" => newline()
          case "Tf" => decoder = Option(lastName).flatMap(fonts.get)
          case _ => ()
        }
      } else i += 1
    }
    sb.toString
  }

  private def pdfEscape(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
      .replace("\r", "\\r") // bare CR in a literal would normalize to LF

  /** Deterministic multi-page PDF writer for the [[extractPdfPages]]
    * subset: real object structure (Catalog → Pages → Kids → per-page
    * FlateDecode content stream), each `\n`-separated line of a page
    * emitted as `(line) Tj T*`. Exactly inverted by [[extractPdfPages]].
    */
  def buildPdf(pages: Seq[String]): Array[Byte] = {
    val nPages = math.max(pages.size, 1)
    val pg = if (pages.isEmpty) Seq("") else pages
    // object numbering: 1 Catalog, 2 Pages, then (3+2i) Page / (4+2i) Contents
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val header = "%PDF-1.4\n"
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      // T* BETWEEN lines (not trailing) so decode is the exact inverse:
      // Tj shows a line, each T* contributes exactly one '\n'.
      val ops = text.split("\n", -1).map(l => s"(${pdfEscape(l)}) Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.UTF_8)
      val deflated = deflate(stream)
      val head = s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n"
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write(head.getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    val out = new ByteArrayOutputStream()
    out.write(header.getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Deterministic CID/Type0 PDF writer — the shape a real
    * subset-embedded CJK font produces: each page's /Resources
    * references ONE /Identity-H Type0 font whose /ToUnicode CMap maps
    * the document's CIDs (assigned 1..n over the sorted distinct code
    * points, exactly a subsetter's glyph-index allocation) back to
    * Unicode via `bfchar` groups; content streams show hex CID strings.
    * Exactly inverted by [[extractPdfPages]]'s [[CMapFont]] path, so the
    * Type0 decode is oracle-checkable as an encode→decode round trip —
    * the r10 quarantine class, now extractable.
    */
  def buildPdfType0(pages: Seq[String]): Array[Byte] = {
    val pg = if (pages.isEmpty) Seq("") else pages
    val nPages = pg.size
    // CID 1..n over sorted distinct code points (0 = .notdef stays unused)
    val cps = pg.flatMap(t => t.codePoints().toArray.toSeq).filter(_ != '\n').distinct.sorted
    val cidOf = cps.zipWithIndex.map { case (cp, i) => cp -> (i + 1) }.toMap
    def hex4(v: Int): String = f"$v%04X"
    def lineToHex(l: String): String =
      l.codePoints().toArray.map(cp => hex4(cidOf(cp))).mkString
    // ToUnicode CMap: bfchar groups of ≤100 entries (spec limit);
    // destinations are UTF-16BE hex of the code point
    val bfchars = cps.grouped(100).map { grp =>
      s"${grp.size} beginbfchar\n" + grp.map { cp =>
        val dst = new String(Character.toChars(cp)).map(c => f"$c%04X").mkString
        s"<${hex4(cidOf(cp))}> <$dst>"
      }.mkString("\n") + "\nendbfchar"
    }.mkString("\n")
    val cmap =
      "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
        "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
        bfchars +
        "\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    val cmapBytes = cmap.getBytes(StandardCharsets.ISO_8859_1)
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      val ops = text.split("\n", -1).map(l => s"<${lineToHex(l)}> Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(stream)
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 9000 0 R >> >> " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write((s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    objs += ("9000 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /NotoSansCJK " +
      "/Encoding /Identity-H /ToUnicode 9001 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    val cmapBuf = new ByteArrayOutputStream()
    cmapBuf.write(s"9001 0 obj\n<< /Length ${cmapBytes.length} >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    cmapBuf.write(cmapBytes)
    cmapBuf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    objs += cmapBuf.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** [[buildPdf]] variant declaring a CID/Type0 composite font WITHOUT a
    * /ToUnicode CMap — the genuinely undecodable class (glyph indexes of
    * an embedded font program, no declared Unicode mapping): the fixture
    * [[extractPdfStatus]] must still route to `unsupported_font` rather
    * than mis-decode.
    */
  def buildPdfType0Bare(pages: Seq[String]): Array[Byte] = {
    val base = buildPdf(pages)
    val s = new String(base, StandardCharsets.ISO_8859_1)
    // append the font object (unused object number) and reference it
    // from each page dict; object content ordering is irrelevant to the
    // scanning parser
    val fontObj = "9000 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /NotoSansCJK " +
      "/Encoding /Identity-H >>\nendobj\n"
    val withRes = s.replace("/MediaBox [0 0 612 792] ",
      "/MediaBox [0 0 612 792] /Resources << /Font << /F1 9000 0 R >> >> ")
    val idx = withRes.lastIndexOf("%%EOF")
    (withRes.substring(0, idx) + fontObj + "%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Minimal TrueType font program carrying ONLY an sfnt directory and a
    * format-4 'cmap' subtable (platform 3, encoding 1) mapping each
    * code point to its glyph id — one single-char segment per mapping
    * plus the mandatory 0xFFFF terminator. Enough structure for any
    * cmap reader; no outlines (extraction never rasterizes).
    */
  private[graft] def buildTrueTypeWithCmap(cpToGid: Seq[(Int, Int)]): Array[Byte] = {
    val segs = cpToGid.sortBy(_._1) :+ ((0xFFFF, 0)) // terminator segment
    val segCount = segs.size
    def u16(v: Int): Array[Byte] = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val buf = new ByteArrayOutputStream()
    // format 4 body
    val fmt = new ByteArrayOutputStream()
    val segX2 = segCount * 2
    val search = {
      var p = 1; while (p * 2 <= segCount) p *= 2; p * 2
    }
    fmt.write(u16(4)); fmt.write(u16(16 + 8 * segCount)); fmt.write(u16(0))
    fmt.write(u16(segX2)); fmt.write(u16(search))
    fmt.write(u16((math.log(search / 2.0) / math.log(2)).toInt))
    fmt.write(u16(segX2 - search))
    segs.foreach { case (cp, _) => fmt.write(u16(cp)) } // endCode
    fmt.write(u16(0)) // reservedPad
    segs.foreach { case (cp, _) => fmt.write(u16(cp)) } // startCode
    segs.foreach { case (cp, gid) => // idDelta: gid = (cp + delta) & 0xFFFF
      val delta = if (cp == 0xFFFF) 1 else (gid - cp) & 0xFFFF
      fmt.write(u16(delta))
    }
    segs.foreach(_ => fmt.write(u16(0))) // idRangeOffset: all direct
    val fmtBytes = fmt.toByteArray
    // cmap header: version 0, one subtable record (3, 1) at offset 12
    val cmap = new ByteArrayOutputStream()
    cmap.write(u16(0)); cmap.write(u16(1))
    cmap.write(u16(3)); cmap.write(u16(1)); cmap.write(u32(12))
    cmap.write(fmtBytes)
    val cmapBytes = cmap.toByteArray
    // sfnt: version 1.0, one table, 'cmap' at offset 28
    buf.write(u32(0x00010000L)); buf.write(u16(1))
    buf.write(u16(16)); buf.write(u16(0)); buf.write(u16(0)) // search fields
    buf.write("cmap".getBytes(StandardCharsets.ISO_8859_1))
    buf.write(u32(0)) // checksum (readers don't verify here)
    buf.write(u32(28)); buf.write(u32(cmapBytes.length.toLong))
    buf.write(cmapBytes)
    buf.toByteArray
  }

  /** [[buildPdfType0]] variant with NO /ToUnicode CMap: the Unicode
    * mapping lives ONLY in the embedded TrueType font program's cmap
    * table (/DescendantFonts → /FontDescriptor → /FontFile2) — the
    * bare-Type0-with-cmap class the r12 verdict's #7 names. CID
    * allocation matches [[buildPdfType0]] (1..n over sorted distinct
    * code points), /Encoding /Identity-H and an Identity /CIDToGIDMap,
    * so decode is exact iff the extractor inverts the font cmap.
    */
  def buildPdfType0Embedded(pages: Seq[String]): Array[Byte] = {
    val pg = if (pages.isEmpty) Seq("") else pages
    val nPages = pg.size
    val cps = pg.flatMap(t => t.codePoints().toArray.toSeq).filter(_ != '\n').distinct.sorted
    val cidOf = cps.zipWithIndex.map { case (cp, i) => cp -> (i + 1) }.toMap
    def hex4(v: Int): String = f"$v%04X"
    def lineToHex(l: String): String =
      l.codePoints().toArray.map(cp => hex4(cidOf(cp))).mkString
    val fontProgram = buildTrueTypeWithCmap(
      cps.filter(_ <= 0xFFFE).map(cp => cp -> cidOf(cp)))
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      val ops = text.split("\n", -1).map(l => s"<${lineToHex(l)}> Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(stream)
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 9000 0 R >> >> " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write((s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    objs += ("9000 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /NotoSansCJK " +
      "/Encoding /Identity-H /DescendantFonts [9002 0 R] >>\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    objs += ("9002 0 obj\n<< /Type /Font /Subtype /CIDFontType2 /BaseFont /NotoSansCJK " +
      "/CIDToGIDMap /Identity /FontDescriptor 9003 0 R >>\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    objs += ("9003 0 obj\n<< /Type /FontDescriptor /FontName /NotoSansCJK " +
      "/FontFile2 9004 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    val ffBuf = new ByteArrayOutputStream()
    ffBuf.write(s"9004 0 obj\n<< /Length ${fontProgram.length} >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    ffBuf.write(fontProgram)
    ffBuf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    objs += ffBuf.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Minimal CFF (Type1C) font program with a format-0 charset naming
    * glyphs 1..n — the FontFile3 twin of [[buildTrueTypeWithCmap]].
    * Structure: header, Name INDEX, Top DICT INDEX (charset +
    * CharStrings offsets as fixed-width 5-byte ints so the layout is
    * computable in one pass), String INDEX carrying the non-standard
    * names, empty Global Subr INDEX, charset, and a CharStrings INDEX
    * of n+1 one-byte endchar programs (extraction never rasterizes —
    * the count is what sizes the charset).
    */
  private[graft] def buildCffWithCharset(names: Seq[String]): Array[Byte] = {
    val customs = names.filterNot(cffStandardStrings.contains).distinct
    def sidOf(n: String): Int = {
      val std = cffStandardStrings.indexOf(n)
      if (std >= 0) std else 391 + customs.indexOf(n)
    }
    def u8(v: Int): Array[Byte] = Array((v & 0xFF).toByte)
    def u16(v: Int): Array[Byte] = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def int5(v: Int): Array[Byte] = Array(29.toByte, ((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def index1(entries: Seq[Array[Byte]]): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      b.write(u16(entries.size))
      if (entries.nonEmpty) {
        val total = 1 + entries.map(_.length).sum
        val offSize = if (total <= 0xFF) 1 else 2
        def writeOff(v: Int): Unit =
          if (offSize == 1) b.write(u8(v)) else b.write(u16(v))
        b.write(u8(offSize))
        var off = 1
        writeOff(off)
        entries.foreach { e => off += e.length; writeOff(off) }
        entries.foreach(b.write)
      }
      b.toByteArray
    }
    val header = Array[Byte](1, 0, 4, 4)
    val nameIdx = index1(Seq("graftcff".getBytes(StandardCharsets.ISO_8859_1)))
    val topDictLen = 12 // two 5-byte ints + two 1-byte operators
    val topDictIdxLen = 2 + 1 + 2 + topDictLen // count, offSize, 2 offsets, data
    val stringIdx = index1(customs.map(_.getBytes(StandardCharsets.ISO_8859_1)))
    val gsubrs = u16(0)
    val charsetOff = header.length + nameIdx.length + topDictIdxLen +
      stringIdx.length + gsubrs.length
    val charset = {
      val b = new ByteArrayOutputStream()
      b.write(u8(0)) // format 0
      names.foreach(n => b.write(u16(sidOf(n))))
      b.toByteArray
    }
    val charStringsOff = charsetOff + charset.length
    val charStrings = index1(Seq.fill(names.size + 1)(Array[Byte](0x0E))) // endchar
    val topDict = {
      val b = new ByteArrayOutputStream()
      b.write(int5(charsetOff)); b.write(u8(15))
      b.write(int5(charStringsOff)); b.write(u8(17))
      b.toByteArray
    }
    require(topDict.length == topDictLen, "fixture layout drifted")
    val out = new ByteArrayOutputStream()
    out.write(header); out.write(nameIdx); out.write(index1(Seq(topDict)))
    out.write(stringIdx); out.write(gsubrs); out.write(charset); out.write(charStrings)
    out.toByteArray
  }

  /** [[buildPdfType0Embedded]]'s FontFile3 twin: NO /ToUnicode, the
    * Unicode mapping lives ONLY in the embedded CFF's charset glyph
    * names (/DescendantFonts → /CIDFontType0 → /FontDescriptor →
    * /FontFile3 /Subtype /Type1C). CID allocation matches (1..n over
    * sorted distinct code points = the CFF glyph order), names are
    * uniXXXX / uXXXXXX, so decode is exact iff the extractor inverts
    * the CFF charset — the r13 verdict #6 quarantine class.
    */
  def buildPdfType0EmbeddedCff(pages: Seq[String]): Array[Byte] = {
    val pg = if (pages.isEmpty) Seq("") else pages
    val nPages = pg.size
    val cps = pg.flatMap(t => t.codePoints().toArray.toSeq).filter(_ != '\n').distinct.sorted
    val cidOf = cps.zipWithIndex.map { case (cp, i) => cp -> (i + 1) }.toMap
    def hex4(v: Int): String = f"$v%04X"
    def lineToHex(l: String): String =
      l.codePoints().toArray.map(cp => hex4(cidOf(cp))).mkString
    val names = cps.map { cp =>
      if (Character.charCount(cp) == 1) f"uni$cp%04X" else f"u$cp%06X"
    }
    val fontProgram = buildCffWithCharset(names)
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      val ops = text.split("\n", -1).map(l => s"<${lineToHex(l)}> Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(stream)
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 9000 0 R >> >> " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write((s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    objs += ("9000 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /GraftSerif " +
      "/Encoding /Identity-H /DescendantFonts [9002 0 R] >>\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    objs += ("9002 0 obj\n<< /Type /Font /Subtype /CIDFontType0 /BaseFont /GraftSerif " +
      "/FontDescriptor 9003 0 R >>\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    objs += ("9003 0 obj\n<< /Type /FontDescriptor /FontName /GraftSerif " +
      "/FontFile3 9004 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    val ffBuf = new ByteArrayOutputStream()
    ffBuf.write(s"9004 0 obj\n<< /Subtype /Type1C /Length ${fontProgram.length} >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    ffBuf.write(fontProgram)
    ffBuf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    objs += ffBuf.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Deterministic simple-font PDF writer exercising the /Encoding
    * /Differences path: the document's distinct code points are remapped
    * onto printable byte codes 33..126 with a /Differences array of
    * `uniXXXX` glyph names, and content literals show the REMAPPED
    * bytes — decode is correct only if [[DiffFont]] applies the map.
    * Capacity is the 94 printable codes; texts with more distinct
    * non-newline code points are rejected (fixture writer, not a
    * general encoder).
    */
  def buildPdfDifferences(pages: Seq[String]): Array[Byte] = {
    val pg = if (pages.isEmpty) Seq("") else pages
    val cps = pg.flatMap(t => t.codePoints().toArray.toSeq).filter(_ != '\n').distinct.sorted
    require(cps.size <= 94, s"buildPdfDifferences: ${cps.size} distinct code points > 94")
    val codeOf = cps.zipWithIndex.map { case (cp, i) => cp -> (33 + i) }.toMap
    val diffs = cps.zipWithIndex.map { case (cp, i) =>
      val name =
        if (Character.charCount(cp) == 1) f"/uni$cp%04X"
        else "/u" + f"$cp%06X" // supplementary planes use the uXXXXXX form
      s"${33 + i} $name"
    }.mkString(" ")
    def lineToLiteral(l: String): String =
      pdfEscape(l.codePoints().toArray.map(cp => codeOf(cp).toChar).mkString)
    val nPages = pg.size
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      val ops = text.split("\n", -1).map(l => s"(${lineToLiteral(l)}) Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(stream)
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 9000 0 R >> >> " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write((s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    objs += ("9000 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /Custom " +
      s"/Encoding << /Type /Encoding /Differences [ $diffs ] >> >>\nendobj\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Deterministic simple-font PDF writer exercising the NAMED
    * base-encoding path: the font declares /Encoding /WinAnsiEncoding
    * and content literals carry each character as its windows-1252 byte
    * (ASCII as-is, high-bit codes as octal escapes — the escape form
    * survives the UTF-8 content-stream decode). Characters outside
    * cp1252 are rejected (fixture writer). Decode is correct only if
    * the WinAnsi table is applied: bytes 0x80–0x9F (€ „ ™ smart quotes
    * et al.) differ from the Latin-1 default exactly there.
    */
  def buildPdfWinAnsi(pages: Seq[String]): Array[Byte] = {
    val pg = if (pages.isEmpty) Seq("") else pages
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def lineToLiteral(l: String): String = {
      val enc = cp1252.newEncoder()
      l.map { ch =>
        if (ch == '\\') "\\\\"
        else if (ch == '(') "\\("
        else if (ch == ')') "\\)"
        else if (ch >= 0x20 && ch < 0x7F) ch.toString
        else {
          require(enc.canEncode(ch), s"buildPdfWinAnsi: '$ch' not in cp1252")
          val b = ch.toString.getBytes(cp1252)(0) & 0xFF
          f"\\$b%03o"
        }
      }.mkString
    }
    val nPages = pg.size
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val objs = mutable.ArrayBuffer[Array[Byte]](
      s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1),
      s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    pg.zipWithIndex.foreach { case (text, i) =>
      val pageObj = 3 + 2 * i
      val contObj = 4 + 2 * i
      val ops = text.split("\n", -1).map(l => s"(${lineToLiteral(l)}) Tj").mkString("\nT*\n")
      val stream = s"BT /F1 12 Tf 72 720 Td\n$ops\nET".getBytes(StandardCharsets.ISO_8859_1)
      val deflated = deflate(stream)
      objs += (s"$pageObj 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 9000 0 R >> >> " +
        s"/Contents $contObj 0 R >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
      val buf = new ByteArrayOutputStream()
      buf.write((s"$contObj 0 obj\n<< /Length ${deflated.length} /Filter /FlateDecode >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1))
      buf.write(deflated)
      buf.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      objs += buf.toByteArray
    }
    objs += ("9000 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>\nendobj\n").getBytes(StandardCharsets.ISO_8859_1)
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach(out.write)
    out.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    val dos = new DeflaterOutputStream(out, d)
    dos.write(data); dos.close(); d.end()
    out.toByteArray
  }

  private val extractUdf = udf { (fmt: String, bytes: Array[Byte]) =>
    if (bytes == null) null
    else fmt match {
      case "pdf"  => extractPdf(bytes)
      case "docx" => extractDocx(bytes)
      case "html" => extractHtml(bytes)
      case _      => null
    }
  }

  /** PDF page extraction as a column function: (page, text) structs. */
  private val pdfPagesUdf = udf { (bytes: Array[Byte]) =>
    val pages = extractPdfPages(bytes)
    if (pages == null) null else pages.map { case (p, t) => (p, t) }
  }

  /** Full load: scan → dispatch → extract → (doc path, format, text).
    * Unsupported formats yield null text (filter or fail upstream).
    */
  def loadDocuments(spark: SparkSession, dir: String): DataFrame =
    scanBinary(spark, dir)
      .withColumn("format", formatOf(col("path")))
      .withColumn("text", extractUdf(col("format"), col("content")))
      .select("path", "format", "length", "text")

  private val extractStatusUdf = udf { (fmt: String, bytes: Array[Byte]) =>
    if (bytes == null) (null: String, StatusParseError)
    else fmt match {
      case "pdf" => extractPdfStatus(bytes)
      case "docx" | "html" =>
        val t = try {
          if (fmt == "docx") extractDocx(bytes) else extractHtml(bytes)
        } catch { case _: Exception => null }
        if (t == null) (null: String, StatusParseError) else (t, StatusOk)
      case _ => (null: String, StatusUnsupportedFormat)
    }
  }

  /** [[loadDocuments]] with extraction-status ROUTING: emits
    * (path, format, length, text, extraction_status) where every
    * unextractable document keeps its row with null text and a status
    * from the [[StatusOk]] family, so ingest pipelines can count and
    * quarantine failures instead of silently dropping content — the
    * engine-side analog of the reference's raise-and-compensate
    * (chroma_utils.py:134-144), minus the poison-batch failure mode.
    */
  def loadDocumentsWithStatus(spark: SparkSession, dir: String): DataFrame =
    scanBinary(spark, dir)
      .withColumn("format", formatOf(col("path")))
      .withColumn("r", extractStatusUdf(col("format"), col("content")))
      .select(col("path"), col("format"), col("length"),
        col("r._1").as("text"), col("r._2").as("extraction_status"))

  /** Page-granular load for PDFs (PyPDFLoader parity): one row per page
    * with `page` metadata; non-PDF formats get a single page 1 row.
    */
  def loadDocumentPages(spark: SparkSession, dir: String): DataFrame = {
    val base = scanBinary(spark, dir).withColumn("format", formatOf(col("path")))
    val pdf = base.filter(col("format") === "pdf")
      .select(col("path"), col("format"), col("length"),
        explode(pdfPagesUdf(col("content"))).as("pg"))
      .select(col("path"), col("format"), col("length"),
        col("pg._1").as("page"), col("pg._2").as("text"))
    val other = base.filter(col("format") =!= "pdf")
      .withColumn("text", extractUdf(col("format"), col("content")))
      .select(col("path"), col("format"), col("length"), lit(1).as("page"), col("text"))
    pdf.unionByName(other)
  }
}
