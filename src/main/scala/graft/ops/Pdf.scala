package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType, StructField}

/** REAL PDF text-layer extraction — no external codec. The container has
  * no PDF library, but the PDF text layer needs none: content streams are
  * either raw or FlateDecode-compressed (the overwhelmingly common case),
  * and `java.util.zip.Inflater` ships with the JDK. This upgrades the S1
  * "PDF scan" surface (ref `ingestion/pdf_parser.py:391-485`) from a
  * modeled binary column to an actual parse for text-bearing PDFs:
  *
  *  - `extractText`: scan `stream…endstream` objects, inflate those whose
  *    object dictionary declares `/FlateDecode`, then read the show-text
  *    operators (`(…) Tj`, `[(…)…(…)] TJ`, `(…) '`) from the decoded
  *    content with PDF string-escape handling (\\, \( \) \n \r \t \b \f,
  *    octal \ddd). Extracted strings concatenate in stream order.
  *  - `extractStage`: the distributed seam — a bounded-batch mapPartitions
  *    over a binary payload column, the same executor-side shape as
  *    [[Multimodal.extractFeatures]] (and the drop-in place a full layout
  *    parser with bbox fidelity would slot into).
  *
  * Honest limits (documented, spec-pinned): balanced UNESCAPED parens
  * inside string literals are not parsed (writers escape them); hex
  * strings `<…> Tj`, per-glyph encodings/CMaps, and non-Flate filters
  * (DCT, LZW) are out of scope — such streams simply contribute nothing.
  * Malformed/undecodable streams are skipped, never thrown: at corpus
  * scale a crawl WILL contain broken PDFs and one bad file must not kill
  * a 100 TB ingest stage.
  */
object Pdf {

  private val Ascii = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Minimal single-page PDF wrapping `text` as one `Tj` (or a split
    * `TJ` when `splitShow`) — the test/fixture builder. Kept deliberately
    * byte-layout-literal and SEPARATE from the parser so the gate query
    * proves the parser inverts a structurally honest document, not a
    * shared implementation. */
  def buildMinimalPdf(text: String, compress: Boolean, splitShow: Boolean = false): Array[Byte] = {
    val show =
      if (splitShow) {
        val mid = text.length / 2
        s"[(${esc(text.take(mid))}) -250 (${esc(text.drop(mid))})] TJ"
      } else s"(${esc(text)}) Tj"
    wrapContent(s"BT /F1 12 Tf 72 700 Td $show ET".getBytes(Ascii), compress)
  }

  /** A string literal's escapes inside `( … )`. */
  private def esc(s: String) = s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  /** A coordinate as the fixture builders write it: integral values
    * without a decimal point. */
  private def coord(v: Double) =
    if (v == math.floor(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** One `… stream … endstream` span of a PDF payload: nearest preceding
    * object number (None when headerless), the dict text between that
    * header (or the last `<<` — safe under nested dicts like
    * /DecodeParms << … >>) and the `stream` keyword, and the raw
    * [dataStart, dataEnd) byte span. */
  private final case class RawStream(objNum: Option[Int], dict: String,
                                     dataStart: Int, dataEnd: Int)

  /** THE stream walk — shared by [[contentStreams]] and [[objectStreams]]
    * so a payload is scanned (and its ASCII view allocated) exactly once
    * per use site. "endstream" contains "stream": only a real stream
    * keyword is followed by an end-of-line per the spec. */
  private def rawStreams(raw: String): Seq[RawStream] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RawStream]
    var from = 0
    var kw = raw.indexOf("stream", from)
    while (kw >= 0) {
      val afterKw = kw + "stream".length
      val dataStart =
        if (raw.startsWith("\r\n", afterKw)) afterKw + 2
        else if (raw.startsWith("\n", afterKw) || raw.startsWith("\r", afterKw)) afterKw + 1
        else -1
      if (dataStart >= 0) {
        val end = raw.indexOf("endstream", dataStart)
        if (end >= 0) {
          var dataEnd = end
          if (dataEnd > dataStart && raw.charAt(dataEnd - 1) == '\n') dataEnd -= 1
          if (dataEnd > dataStart && raw.charAt(dataEnd - 1) == '\r') dataEnd -= 1
          val head = raw.substring(math.max(0, kw - 1024), kw)
          ObjHeadRe.findAllMatchIn(head).toSeq.lastOption match {
            case Some(m) =>
              out += RawStream(Some(m.group(1).toInt), head.substring(m.end), dataStart, dataEnd)
            case None =>
              val dict = head.lastIndexOf("<<") match {
                case -1 => head
                case i => head.substring(i)
              }
              out += RawStream(None, dict, dataStart, dataEnd)
          }
          from = end + "endstream".length
        } else from = afterKw
      } else from = afterKw
      kw = raw.indexOf("stream", from)
    }
    out.toSeq
  }

  /** All decoded content-stream bytes of a PDF, concatenated with \n. */
  private def contentStreams(bytes: Array[Byte]): String =
    contentStreams(bytes, new String(bytes, Ascii))

  private def contentStreams(bytes: Array[Byte], raw: String): String = {
    val sb = new StringBuilder
    rawStreams(raw).foreach { rs =>
      // image XObject streams hold SAMPLES, not operators — appending
      // them would let sample bytes (e.g. an unbalanced '(') swallow
      // later real content in the concatenated parse
      if (!rs.dict.contains("/Image")) {
        val data = java.util.Arrays.copyOfRange(bytes, rs.dataStart, rs.dataEnd)
        val decoded: Option[Array[Byte]] =
          if (rs.dict.contains("/FlateDecode")) inflate(data) else Some(data)
        decoded.foreach { d =>
          if (sb.nonEmpty) sb.append('\n')
          sb.append(new String(d, Ascii))
        }
      }
    }
    sb.toString
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    // end() in finally: Inflater holds NATIVE zlib memory that only a GC
    // finalizer would otherwise reclaim — on an executor chewing through
    // millions of PDFs (many corrupt, per the crawl contract above) the
    // leak is invisible to the heap but OOM-kills the container
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4 + 64)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return None // stuck: corrupt
      }
      Some(out.toByteArray)
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  // a PDF string literal: escaped chars or anything but backslash/parens
  private val StringLit = """\(((?:\\.|[^\\()])*)\)"""
  private val ShowOp = (StringLit + """\s*(?:Tj|')""").r
  private val ShowArr = ("""\[((?:""" + StringLit + """|[^\[\]])*)\]\s*TJ""").r
  private val InnerLit = StringLit.r
  private val Octal = """\\([0-7]{1,3})""".r

  private def unescape(s: String): String = {
    val noOctal = Octal.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.group(1), 8).toChar.toString))
    val sb = new StringBuilder
    var i = 0
    while (i < noOctal.length) {
      val c = noOctal.charAt(i)
      if (c == '\\' && i + 1 < noOctal.length) {
        noOctal.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
          case 't' => sb.append('\t'); case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case other => sb.append(other) // \( \) \\ and unknown escapes
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The text layer of one PDF payload: all show-text operator strings in
    * stream order, concatenated. Never throws — a broken payload yields
    * "". */
  def extractText(bytes: Array[Byte]): String =
    try {
      val content = contentStreams(bytes)
      val pieces = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      for (m <- ShowOp.findAllMatchIn(content)) pieces += ((m.start, unescape(m.group(1))))
      for (m <- ShowArr.findAllMatchIn(content)) {
        val inner = InnerLit.findAllMatchIn(m.group(1)).map(x => unescape(x.group(1))).mkString
        pieces += ((m.start, inner))
      }
      pieces.sortBy(_._1).map(_._2).mkString
    } catch { case scala.util.control.NonFatal(_) => "" }

  // ---------------------------------------------------------------------
  // Text POSITIONING (round 6): the Td/TD/Tm/T*/TL text-state machine from
  // PDF 32000-1 §9.4, on top of a real content-stream tokenizer. This is
  // the piece the ref's `ingestion/pdf_parser.py:391-485` gets from its
  // PDF library — per-block (x, y, font size) that drives W1 reading
  // order, F2 heading detection, and P4 header/footer cuts. No library is
  // needed: the positioning operators live in the same content streams
  // `extractText` already decodes.
  //
  // Semantics implemented (per spec):
  //  - BT resets both the text matrix Tm and the line matrix Tlm to I.
  //  - `tx ty Td` translates Tlm (Tlm ← [1 0 0 1 tx ty] × Tlm, Tm ← Tlm).
  //  - `tx ty TD` = `-ty TL` then Td (sets the leading as a side effect).
  //  - `a b c d e f Tm` replaces both matrices.
  //  - `T*` = `0 -TL Td`; `'` = T* + show; `aw ac (s) "` = T* + show.
  //  - `/F size Tf` sets the font size; the effective rendered size is
  //    size × the vertical magnitude of Tm (hypot(b, d)) so a scaled Tm
  //    reports the size a human sees, not the nominal operand.
  //  - One BLOCK = one text line: consecutive shows (Tj / TJ / ' / ")
  //    with no intervening line-move concatenate; any Td/TD/T*/Tm/BT/ET
  //    flushes. Origin = Tm translation at the line's first show. Glyph
  //    advances within a line are not tracked (needs per-font width
  //    tables) — the line origin is what layout rules consume.
  //
  // The tokenizer is strictly more capable than the regex text path: it
  // handles BALANCED unescaped parens in string literals, hex strings
  // `<…>`, inline dicts `<<…>>`, comments, and nested arrays.
  // Unknown operators clear the operand stack and move on — a graphics-
  // heavy stream degrades to "no text", never to a task failure.

  /** One positioned text line: `text` at device-space origin (`x`, `y`)
    * with effective font size `size`. */
  final case class TextBlock(text: String, x: Double, y: Double, size: Double)

  private sealed trait Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TArr(items: List[Tok]) extends Tok
  private final case class TOp(op: String) extends Tok

  private def isDelim(c: Char) = c match {
    case '(' | ')' | '<' | '>' | '[' | ']' | '{' | '}' | '/' | '%' => true
    case _ => false
  }
  private def isWs(c: Char) = c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == ' '

  /** PDF string literal body starting after '(': balanced unescaped
    * parens per spec §7.3.4.2. Returns (unescaped-text, index-after-')'). */
  private def readStringLit(s: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start
    var depth = 1
    while (i < s.length && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(c).append(s.charAt(i + 1)); i += 2 }
      else {
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      }
    }
    (unescape(sb.toString), i)
  }

  /** Tokenize one decoded content stream. Returns tokens in stream order;
    * structural noise (dicts, comments, hex strings it can't type) is
    * consumed, not thrown on. */
  private def tokenize(s: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    def tokArray(from: Int): (List[Tok], Int) = {
      val items = scala.collection.mutable.ListBuffer.empty[Tok]
      var j = from
      var done = false
      while (j < s.length && !done) {
        val c = s.charAt(j)
        if (isWs(c)) j += 1
        else if (c == ']') { done = true; j += 1 }
        else if (c == '(') { val (t, nj) = readStringLit(s, j + 1); items += TStr(t); j = nj }
        else if (c == '<' && j + 1 < s.length && s.charAt(j + 1) == '<') j = skipDict(j + 2)
        else if (c == '<') { val (t, nj) = readHex(j + 1); items += TStr(t); j = nj }
        else if (c == '[') { val (inner, nj) = tokArray(j + 1); items += TArr(inner); j = nj }
        else { val (tok, nj) = readAtom(j); tok.foreach(items += _); j = nj }
      }
      (items.toList, j)
    }
    def skipDict(from: Int): Int = {
      var j = from
      var depth = 1
      while (j < s.length && depth > 0) {
        if (s.startsWith("<<", j)) { depth += 1; j += 2 }
        else if (s.startsWith(">>", j)) { depth -= 1; j += 2 }
        else j += 1
      }
      j
    }
    def readHex(from: Int): (String, Int) = {
      var j = from
      val hex = new StringBuilder
      while (j < s.length && s.charAt(j) != '>') {
        val c = s.charAt(j)
        if (!isWs(c)) hex.append(c)
        j += 1
      }
      if (hex.length % 2 == 1) hex.append('0') // spec: odd count → trailing 0
      val txt = try {
        val chars = hex.toString.grouped(2)
          .map(h => Integer.parseInt(h, 16).toChar).mkString
        chars
      } catch { case _: NumberFormatException => "" }
      (txt, math.min(j + 1, s.length))
    }
    def readAtom(from: Int): (Option[Tok], Int) = {
      val c = s.charAt(from)
      if (c == '/') {
        var j = from + 1
        while (j < s.length && !isWs(s.charAt(j)) && !isDelim(s.charAt(j))) j += 1
        (Some(TOp("/" + s.substring(from + 1, j))), j) // names only matter as Tf operands; type-tag via prefix
      } else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        var j = from + 1
        while (j < s.length && (s.charAt(j) == '.' || (s.charAt(j) >= '0' && s.charAt(j) <= '9'))) j += 1
        val t = try Some(TNum(s.substring(from, j).toDouble))
                catch { case _: NumberFormatException => None }
        (t, j)
      } else if (c == '%') {
        var j = from
        while (j < s.length && s.charAt(j) != '\n' && s.charAt(j) != '\r') j += 1
        (None, j)
      } else if (isDelim(c)) (None, from + 1) // stray delimiter: consume
      else {
        var j = from
        while (j < s.length && !isWs(s.charAt(j)) && !isDelim(s.charAt(j))) j += 1
        (Some(TOp(s.substring(from, j))), j)
      }
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) i += 1
      else if (c == '(') { val (t, ni) = readStringLit(s, i + 1); out += TStr(t); i = ni }
      else if (c == '<' && i + 1 < s.length && s.charAt(i + 1) == '<') i = skipDict(i + 2)
      else if (c == '<') { val (t, ni) = readHex(i + 1); out += TStr(t); i = ni }
      else if (c == '[') { val (inner, ni) = tokArray(i + 1); out += TArr(inner); i = ni }
      else { val (tok, ni) = readAtom(i); tok.foreach(out += _); i = ni }
    }
    out.toList
  }

  /** All positioned text lines of a PDF payload, in stream order. Never
    * throws — broken payloads yield an empty list. */
  def extractBlocks(bytes: Array[Byte]): Seq[TextBlock] =
    try parseBlocks(contentStreams(bytes))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  private def parseBlocks(content: String): Seq[TextBlock] = {
    val blocks = scala.collection.mutable.ArrayBuffer.empty[TextBlock]
    var tm = Array(1.0, 0, 0, 1, 0, 0)  // a b c d e f
    var tlm = Array(1.0, 0, 0, 1, 0, 0)
    var fontSize = 0.0
    var leading = 0.0
    val line = new StringBuilder
    var lx, ly, lsize = 0.0
    def flush(): Unit =
      if (line.nonEmpty) { blocks += TextBlock(line.toString, lx, ly, lsize); line.clear() }
    def moveLine(tx: Double, ty: Double): Unit = {
      flush()
      val e = tx * tlm(0) + ty * tlm(2) + tlm(4)
      val f = tx * tlm(1) + ty * tlm(3) + tlm(5)
      tlm = Array(tlm(0), tlm(1), tlm(2), tlm(3), e, f)
      tm = tlm.clone()
    }
    def show(s: String): Unit = {
      if (line.isEmpty) {
        lx = tm(4); ly = tm(5)
        lsize = fontSize * math.hypot(tm(1), tm(3))
      }
      line ++= s
    }
    val stack = scala.collection.mutable.ArrayBuffer.empty[Tok]
    def num(fromTop: Int): Double =
      stack.lift(stack.length - fromTop) match { case Some(TNum(v)) => v; case _ => 0.0 }
    def topStr: Option[String] =
      stack.lastOption.collect { case TStr(s) => s }
    for (t <- tokenize(content)) t match {
      case TOp(op) if !op.startsWith("/") =>
        op match {
          case "BT" => flush(); tm = Array(1.0, 0, 0, 1, 0, 0); tlm = tm.clone()
          case "ET" => flush()
          case "Tf" => fontSize = num(1)
          case "TL" => leading = num(1)
          case "Td" => moveLine(num(2), num(1))
          case "TD" => leading = -num(1); moveLine(num(2), num(1))
          case "T*" => moveLine(0, -leading)
          case "Tm" =>
            flush()
            tlm = Array(num(6), num(5), num(4), num(3), num(2), num(1))
            tm = tlm.clone()
          case "Tj" => topStr.foreach(show)
          case "'" => moveLine(0, -leading); topStr.foreach(show)
          // `"`: aw ac (s) — word/char spacing affect glyph advance only,
          // which block origins don't track; line-move + show is the
          // text-state effect
          case "\"" => moveLine(0, -leading); topStr.foreach(show)
          case "TJ" =>
            stack.lastOption.foreach {
              case TArr(items) => items.foreach { case TStr(s) => show(s); case _ => () }
              case _ => ()
            }
          case _ => () // q/Q/cm/re/Do/BDC/… — no text-state effect tracked
        }
        stack.clear()
      case other => stack += other // numbers, strings, arrays, /names
    }
    flush()
    blocks.toSeq
  }

  /** Layout-fixture builder: a single-page PDF whose FOUR blocks exercise
    * every positioning operator the parser claims — block 0 via `Td`,
    * block 1 via `TD` (which also sets the leading) shown as TWO `Tj`s
    * that must merge into one line, block 2 via an explicit `Tm` shown as
    * a kerned `TJ` array, block 3 via `'` (inherits block 2's x, block 1's
    * leading, and block 2's font). Geometry is therefore PARTLY DERIVED:
    * the extracted block 3 sits at (x2, y2 − (y0 − y1)) with size s2 —
    * a regression in TD-leading or `'` inheritance shifts it. */
  def buildLayoutPdf(b0: (String, Double, Double, Double),
                     b1: (String, Double, Double, Double),
                     b2: (String, Double, Double, Double),
                     footerText: String,
                     compress: Boolean): Array[Byte] = {
    val (t0, x0, y0, s0) = b0
    val (t1, x1, y1, s1) = b1
    val (t2, x2, y2, s2) = b2
    val split = math.max(1, t1.length / 2)
    val (t1a, t1b) = t1.splitAt(split)
    val (t2a, t2b) = t2.splitAt(math.max(1, t2.length / 2))
    val content = (s"BT /F1 ${coord(s0)} Tf ${coord(x0)} ${coord(y0)} Td (${esc(t0)}) Tj " +
      s"/F1 ${coord(s1)} Tf ${coord(x1 - x0)} ${coord(y1 - y0)} TD (${esc(t1a)}) Tj (${esc(t1b)}) Tj " +
      s"/F1 ${coord(s2)} Tf 1 0 0 1 ${coord(x2)} ${coord(y2)} Tm [(${esc(t2a)}) -250 (${esc(t2b)})] TJ " +
      s"(${esc(footerText)}) ' ET").getBytes(Ascii)
    wrapContent(content, compress)
  }

  /** Arbitrary-geometry builder (the pdf6/pdf7 table fixtures): one
    * absolutely-positioned show per block via `Tm` + `Tf`. The layout
    * state machine itself is gated by [[buildLayoutPdf]]'s derived
    * block 3; this builder's job is carrying a PLANTED GRID through the
    * full parse so the table detector must rediscover it. */
  def buildBlocksPdf(blocks: Seq[(String, Double, Double, Double)],
                     compress: Boolean): Array[Byte] = {
    wrapContent(("BT " + blockShows(blocks) + "ET").getBytes(Ascii), compress)
  }

  /** One absolutely-positioned show per block via `Tm` + `Tf`. */
  private def blockShows(blocks: Seq[(String, Double, Double, Double)]): String =
    blocks.map { case (t, x, y, s) =>
      s"/F1 ${coord(s)} Tf 1 0 0 1 ${coord(x)} ${coord(y)} Tm (${esc(t)}) Tj "
    }.mkString

  /** A content stream's bytes and its `/Filter` entry: one-shot Deflate
    * when `compress`, else stored. */
  private def contentBody(content: Array[Byte], compress: Boolean): (Array[Byte], String) =
    if (compress) {
      val d = new java.util.zip.Deflater()
      d.setInput(content); d.finish()
      val buf = new Array[Byte](content.length * 2 + 64)
      val nn = d.deflate(buf); d.end()
      (java.util.Arrays.copyOf(buf, nn), " /Filter /FlateDecode")
    } else (content, "")

  /** THE single-page writer: wrap raw content-stream bytes into the
    * minimal one-page shell every text fixture builder shares
    * ([[buildMinimalPdf]], [[buildLayoutPdf]], [[buildBlocksPdf]],
    * [[buildLatticePdf]]), so they stay byte-layout-identical. */
  private def wrapContent(content: Array[Byte], compress: Boolean): Array[Byte] = {
    val (body, filter) = contentBody(content, compress)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Ascii))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${body.length}$filter >> stream\n")
    out.write(body)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // EMBEDDED IMAGE EXTRACTION (round 8): the engine-side analog of the
  // reference's per-page figure extraction (ref
  // `ingestion/image_extractor.py:109-179` pulls drawn figure images out
  // of each PDF page with their bboxes and stores them as PNGs; captioning
  // stays a pluggable model seam). No library needed here either: image
  // XObjects live in the same object/stream fabric the text parser already
  // walks — a dict with /Subtype /Image whose stream holds the raw samples
  // (usually FlateDecode'd, optionally PNG-predictored — the SAME scanline
  // filters Image.unfilter already implements, per PDF 32000-1 §7.4.4.4),
  // and the page CONTENT stream draws them with `cm` + `Do`, which the
  // existing tokenizer already tokenizes.
  //
  // Scope (documented, the fixture+web-common core): 8-bit /DeviceGray and
  // /DeviceRGB samples, /FlateDecode or raw streams, optional /Predictor
  // ≥ 10 (PNG row filters); name→object binding via the /XObject resource
  // dictionaries (no full xref table — same single-generation simplification
  // as the rest of this parser). DCT (JPEG) streams, CMYK, and sub-8-bit
  // depths yield a metadata-only record with no pixels (raw = null) —
  // quarantine-with-visibility, never garbage. Placement is the CTM at the
  // `Do` operator: origin (e, f) and axis-aligned display size (a, d);
  // rotated placements report their matrix terms as-is.

  /** One drawn image: decoded samples (`raw`, row-major, `channels` bytes
    * per pixel — null when the stream can't be decoded) plus its page
    * placement from the CTM at `Do` time. `colorType` uses the PNG
    * convention (0 gray, 2 RGB) so [[Image.encodePng]] re-wraps losslessly. */
  final case class PdfImage(name: String, width: Int, height: Int, colorType: Int,
                            raw: Array[Byte], x: Double, y: Double,
                            dispW: Double, dispH: Double)

  private val XObjRefRe = """/(\w+)\s+(\d+)\s+0\s+R""".r
  private val ObjHeadRe = """(\d+)\s+0\s+obj""".r
  private def dictInt(dict: String, key: String): Option[Int] =
    (key + """\s+(\d+)""").r.findFirstMatchIn(dict).map(_.group(1).toInt)

  /** Raw (objNum → (dict, streamBytes)) for every `N 0 obj … stream …
    * endstream` in the file, plus every /XObject name→objNum binding seen
    * in any resources dictionary. */
  private def objectStreams(bytes: Array[Byte], raw: String): (Map[Int, (String, Array[Byte])], Map[String, Int]) = {
    val objs = scala.collection.mutable.Map.empty[Int, (String, Array[Byte])]
    rawStreams(raw).foreach { rs =>
      rs.objNum.foreach { n =>
        objs(n) = (rs.dict, java.util.Arrays.copyOfRange(bytes, rs.dataStart, rs.dataEnd))
      }
    }
    // /XObject << /Im0 5 0 R … >> bindings anywhere in the file
    val names = scala.collection.mutable.Map.empty[String, Int]
    val xo = """/XObject\s*<<([^>]*)>>""".r
    for (m <- xo.findAllMatchIn(raw); r <- XObjRefRe.findAllMatchIn(m.group(1)))
      names(r.group(1)) = r.group(2).toInt
    (objs.toMap, names.toMap)
  }

  /** Decode one image XObject's samples per its dict: /DCTDecode streams
    * go through the REAL baseline [[Jpeg]] decoder (the format real PDFs
    * overwhelmingly embed figures in), otherwise optional Flate plus
    * optional PNG predictor (≥ 10) via the [[Image.unfilter]] scanline
    * arithmetic. Returns (channels, samples); None on any size/filter/
    * depth mismatch — including a JPEG whose own dimensions disagree
    * with the dict's. */
  private def decodeImageSamples(dict: String, data: Array[Byte],
                                 w: Int, h: Int, channels: Int): Option[(Int, Array[Byte])] = {
    val bpc = dictInt(dict, "/BitsPerComponent").getOrElse(8)
    if (bpc != 8) return None
    if (dict.contains("/DCTDecode"))
      return Jpeg.decode(data)
        .filter(dec => dec.width == w && dec.height == h)
        .map(dec => (dec.components, dec.pixels))
    if (dict.contains("/LZWDecode")) return None
    val stride = w * channels
    val inflated: Option[Array[Byte]] =
      if (dict.contains("/FlateDecode")) inflate(data) else Some(data)
    inflated.flatMap { d =>
      val predictor = dictInt(dict, "/Predictor").getOrElse(1)
      if (predictor >= 10) {
        if (d.length != h * (1 + stride)) None
        else Image.unfilter(d, w, h, channels).map((channels, _))
      } else if (d.length == h * stride) Some((channels, d))
      else None
    }
  }

  private def matMul(m: Array[Double], n: Array[Double]): Array[Double] = Array(
    m(0) * n(0) + m(1) * n(2), m(0) * n(1) + m(1) * n(3),
    m(2) * n(0) + m(3) * n(2), m(2) * n(1) + m(3) * n(3),
    m(4) * n(0) + m(5) * n(2) + n(4), m(4) * n(1) + m(5) * n(3) + n(5))

  /** (name, ctm-at-Do) for every image draw in stream order: tracks the
    * q/Q graphics-state stack and `cm` concatenation — the placement walk
    * the text state machine ignores. */
  private def imagePlacements(content: String): Seq[(String, Array[Double])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Double])]
    var ctm = Array(1.0, 0, 0, 1, 0, 0)
    val gs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Tok]
    def num(fromTop: Int): Double =
      stack.lift(stack.length - fromTop) match { case Some(TNum(v)) => v; case _ => 0.0 }
    for (t <- tokenize(content)) t match {
      case TOp(op) if !op.startsWith("/") =>
        op match {
          case "q" => gs += ctm.clone()
          case "Q" => if (gs.nonEmpty) { ctm = gs.remove(gs.length - 1) }
          case "cm" =>
            ctm = matMul(Array(num(6), num(5), num(4), num(3), num(2), num(1)), ctm)
          case "Do" =>
            stack.lastOption.collect { case TOp(n) if n.startsWith("/") =>
              out += ((n.substring(1), ctm.clone()))
            }
          case _ => ()
        }
        stack.clear()
      case other => stack += other
    }
    out.toSeq
  }

  /** All DRAWN images of a PDF payload in draw (`Do`) order — the
    * figure-extraction surface. Never throws; a broken payload yields an
    * empty list, a broken image stream yields its record with raw = null. */
  def extractImages(bytes: Array[Byte]): Seq[PdfImage] =
    try {
      // one ASCII view + one stream walk feed both lookups
      val raw = new String(bytes, Ascii)
      val (objs, names) = objectStreams(bytes, raw)
      val content = contentStreams(bytes, raw)
      imagePlacements(content).flatMap { case (name, ctm) =>
        for {
          objNum <- names.get(name)
          (dict, data) <- objs.get(objNum)
          if dict.contains("/Subtype") && dict.contains("/Image")
          w <- dictInt(dict, "/Width") if w > 0 && w <= (1 << 14)
          h <- dictInt(dict, "/Height") if h > 0 && h <= (1 << 14)
        } yield {
          val dictChannels = if (dict.contains("/DeviceRGB")) 3 else 1
          decodeImageSamples(dict, data, w, h, dictChannels) match {
            case Some((ch, raw)) =>
              PdfImage(name, w, h, if (ch == 3) 2 else 0, raw, ctm(4), ctm(5), ctm(0), ctm(3))
            case None => // quarantined: dict metadata kept, no pixels
              PdfImage(name, w, h, if (dictChannels == 3) 2 else 0, null,
                ctm(4), ctm(5), ctm(0), ctm(3))
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** One planted image for [[buildImagesPdf]]: PNG-convention colorType
    * (0 gray / 2 RGB), row-major `raw` samples, placement, and the two
    * encode knobs — `predictor` stores the stream PNG-row-filtered behind
    * /DecodeParms (filter type cycling per row so every unfilter runs),
    * `corrupt` drops the final sample byte so the decoded size check must
    * quarantine the image (raw = null) without losing its metadata. */
  final case class ImageFixture(w: Int, h: Int, colorType: Int, raw: Array[Byte],
                                x: Double, y: Double, dispW: Double, dispH: Double,
                                predictor: Boolean, corrupt: Boolean,
                                dct: Boolean = false, progressiveDct: Boolean = false)

  /** Single-page PDF with `text` plus the given image XObjects, each drawn
    * via `q … cm /ImJ Do Q` — the pdf8/pdf9 fixture builder. Byte-layout
    * honest: real object numbering, resources dictionary, per-image
    * filters; SEPARATE from the extractor like every builder here. */
  def buildImagesPdf(text: String, images: Seq[ImageFixture],
                     compress: Boolean): Array[Byte] = {
    val draws = images.zipWithIndex.map { case (im, j) =>
      s"q ${coord(im.dispW)} 0 0 ${coord(im.dispH)} ${coord(im.x)} ${coord(im.y)} cm /Im$j Do Q "
    }.mkString
    val content = (s"BT /F1 12 Tf 72 700 Td (${esc(text)}) Tj ET " + draws).getBytes(Ascii)
    val (body, filter) = contentBody(content, compress)
    def deflateAll(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(b); d.finish()
        val o = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) o.write(buf, 0, d.deflate(buf))
        o.toByteArray
      } finally d.end()
    }
    val imObjs = images.zipWithIndex.map { case (im, j) =>
      val ch = if (im.colorType == 2) 3 else 1
      val stride = im.w * ch
      val samples = if (im.corrupt && !im.dct)
        java.util.Arrays.copyOf(im.raw, im.raw.length - 1) else im.raw
      if (im.dct) {
        // real embedded JPEG (/DCTDecode) — gray only, like real scanners
        require(im.colorType == 0, "DCT fixture images are grayscale")
        val jpg0 = if (im.progressiveDct) Jpeg.encodeGrayProgressive(im.w, im.h, samples)
                   else Jpeg.encodeGray(im.w, im.h, samples)
        val jpg = if (im.corrupt) java.util.Arrays.copyOf(jpg0, jpg0.length - 12) else jpg0
        (s"${5 + j} 0 obj << /Type /XObject /Subtype /Image /Width ${im.w} /Height ${im.h} " +
          s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode /Length ${jpg.length} >> stream\n",
          jpg)
      } else {
      val (data, parms) =
        if (im.predictor && !im.corrupt) {
          val filtered = new java.io.ByteArrayOutputStream(im.h * (stride + 1))
          var y = 0
          while (y < im.h) {
            val ft = (y + im.w) % 5
            filtered.write(ft)
            val line = Image.filterLine(samples, y, stride, ch, ft)
            filtered.write(line, 0, line.length)
            y += 1
          }
          (deflateAll(filtered.toByteArray),
            s" /DecodeParms << /Predictor 15 /Colors $ch /Columns ${im.w} >>")
        } else (deflateAll(samples), "")
      val cs = if (im.colorType == 2) "/DeviceRGB" else "/DeviceGray"
      (s"${5 + j} 0 obj << /Type /XObject /Subtype /Image /Width ${im.w} /Height ${im.h} " +
        s"/ColorSpace $cs /BitsPerComponent 8 /Filter /FlateDecode$parms /Length ${data.length} >> stream\n",
        data)
      }
    }
    val xobj = images.indices.map(j => s"/Im$j ${5 + j} 0 R").mkString(" ")
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Ascii))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R" +
      (if (images.nonEmpty) s" /Resources << /XObject << $xobj >> >>" else "") +
      " >> endobj\n")
    w(s"4 0 obj << /Length ${body.length}$filter >> stream\n")
    out.write(body)
    w("\nendstream endobj\n")
    imObjs.foreach { case (head, data) =>
      w(head)
      out.write(data)
      w("\nendstream endobj\n")
    }
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** Distributed figure-extraction stage: binary `payloadCol` → `outCol`
    * as `array<struct<name,width,height,color_type,x,y,disp_w,disp_h,png>>`
    * in draw order — `png` is the samples re-wrapped by the REAL
    * [[Image.encodePng]] writer (null when the stream didn't decode), so
    * the whole downstream image stack (decodeStatsStage, dhashStage,
    * imageNearDupPairs) runs on PDF-extracted figures unchanged. Map-only;
    * one hostile PDF yields an empty array, one hostile image a null png. */
  def imagesStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val imgType = org.apache.spark.sql.types.StructType(Seq(
      StructField("name", StringType),
      StructField("width", org.apache.spark.sql.types.IntegerType),
      StructField("height", org.apache.spark.sql.types.IntegerType),
      StructField("color_type", org.apache.spark.sql.types.IntegerType),
      StructField("x", org.apache.spark.sql.types.DoubleType),
      StructField("y", org.apache.spark.sql.types.DoubleType),
      StructField("disp_w", org.apache.spark.sql.types.DoubleType),
      StructField("disp_h", org.apache.spark.sql.types.DoubleType),
      StructField("png", BinaryType)))
    Stages.payloadStage(df, payloadCol, outCol, org.apache.spark.sql.types.ArrayType(imgType))(b =>
      Some(extractImages(b).map { im =>
        val png = if (im.raw == null) null
          else Image.encodePng(im.width, im.height, im.colorType, im.raw)
        org.apache.spark.sql.Row(im.name, im.width, im.height, im.colorType,
          im.x, im.y, im.dispW, im.dispH, png)
      }))
  }

  // ---------------------------------------------------------------------
  // PATH (ruling-line) EXTRACTION (round 8): the geometry source for the
  // Camelot "lattice" flavor (ref `ingestion/table_extractor.py:566-700`
  // tries lattice — drawn grid lines — BEFORE stream). Path construction
  // operators (`m`/`l`/`re`/`h`) and painting operators (`S`/`s`/`f`/
  // `f*`/`B`/`B*`/`n`) live in the same content streams the text parser
  // already tokenizes; points are CTM-transformed at construction time
  // per PDF 32000-1 §8.5. Curves (`c`/`v`/`y`) contribute their
  // endpoints as straight segments — a curve is never a table rule.

  /** One painted straight segment in device space. */
  final case class Segment(x0: Double, y0: Double, x1: Double, y1: Double)

  /** All PAINTED path segments of a PDF payload in stream order (clipping
    * `n` paths are dropped; filled paths emit their outline — a
    * hairline-filled rectangle is how many writers draw rules). Never
    * throws; broken payloads yield an empty list. */
  def extractSegments(bytes: Array[Byte]): Seq[Segment] =
    try parseSegments(contentStreams(bytes))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  private def parseSegments(content: String): Seq[Segment] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Segment]
    val path = scala.collection.mutable.ArrayBuffer.empty[Segment]
    // finished subpaths of the current path: (startX, startY, endX, endY,
    // segment count) — needed because `f`-family paints implicitly CLOSE
    // every open subpath (PDF 32000-1 §8.5.3.2) and `s`/`b`/`b*` are
    // defined as `h S`/`h B`/`h B*`, so the closing edge must be emitted
    val subs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Int)]
    var ctm = Array(1.0, 0, 0, 1, 0, 0)
    val gs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var cx, cy = 0.0          // current point (device space)
    var sx, sy = 0.0          // subpath start (for `h`)
    var hasCurrent = false
    var subSegs = 0           // segments drawn in the current subpath
    val stack = scala.collection.mutable.ArrayBuffer.empty[Tok]
    def num(fromTop: Int): Double =
      stack.lift(stack.length - fromTop) match { case Some(TNum(v)) => v; case _ => 0.0 }
    def dev(x: Double, y: Double): (Double, Double) =
      (x * ctm(0) + y * ctm(2) + ctm(4), x * ctm(1) + y * ctm(3) + ctm(5))
    def seg(x1: Double, y1: Double): Unit = {
      path += Segment(cx, cy, x1, y1); cx = x1; cy = y1; subSegs += 1
    }
    def finishSub(): Unit = {
      if (hasCurrent) subs += ((sx, sy, cx, cy, subSegs))
      subSegs = 0
    }
    def clearPath(): Unit = {
      path.clear(); subs.clear(); hasCurrent = false; subSegs = 0
    }
    // append the implicit closing edge of each recorded subpath that drew
    // something and is not already closed
    def closeSubs(onlyLast: Boolean): Unit = {
      val range = if (onlyLast) subs.takeRight(1) else subs
      range.foreach { case (x0, y0, ex, ey, n) =>
        if (n > 0 && (ex != x0 || ey != y0)) path += Segment(ex, ey, x0, y0)
      }
    }
    for (t <- tokenize(content)) t match {
      case TOp(op) if !op.startsWith("/") =>
        op match {
          case "q" => gs += ctm.clone()
          case "Q" => if (gs.nonEmpty) ctm = gs.remove(gs.length - 1)
          case "cm" =>
            ctm = matMul(Array(num(6), num(5), num(4), num(3), num(2), num(1)), ctm)
          case "m" =>
            finishSub()
            val (x, y) = dev(num(2), num(1)); cx = x; cy = y; sx = x; sy = y
            hasCurrent = true
          case "l" if hasCurrent =>
            val (x, y) = dev(num(2), num(1)); seg(x, y)
          case "c" if hasCurrent => // endpoint only (x3 y3 = top 2 operands)
            val (x, y) = dev(num(2), num(1)); seg(x, y)
          case "v" | "y" if hasCurrent =>
            val (x, y) = dev(num(2), num(1)); seg(x, y)
          case "h" if hasCurrent => seg(sx, sy)
          case "re" =>
            finishSub()
            val x = num(4); val y = num(3); val w = num(2); val h = num(1)
            val (ax, ay) = dev(x, y); val (bx, by) = dev(x + w, y)
            val (cx2, cy2) = dev(x + w, y + h); val (dx, dy) = dev(x, y + h)
            path += Segment(ax, ay, bx, by) += Segment(bx, by, cx2, cy2) +=
              Segment(cx2, cy2, dx, dy) += Segment(dx, dy, ax, ay)
            // a complete closed subpath: current point at its start
            cx = ax; cy = ay; sx = ax; sy = ay; hasCurrent = true; subSegs = 0
          case "S" | "s" | "f" | "F" | "f*" | "B" | "B*" | "b" | "b*" =>
            finishSub()
            op match {
              case "s" => closeSubs(onlyLast = true)  // s = h S
              case "f" | "F" | "f*" | "B" | "B*" | "b" | "b*" =>
                closeSubs(onlyLast = false)           // fill closes every subpath
              case _ => ()                            // S strokes as constructed
            }
            out ++= path; clearPath()
          case "n" => clearPath()
          case _ => ()
        }
        stack.clear()
      case other => stack += other
    }
    out.toSeq
  }

  /** Distributed path stage: binary `payloadCol` → `outCol` as
    * `array<struct<x0,y0,x1,y1>>` of painted segments. */
  def segmentsStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val D = org.apache.spark.sql.types.DoubleType
    val segType = org.apache.spark.sql.types.StructType(Seq(
      StructField("x0", D), StructField("y0", D),
      StructField("x1", D), StructField("y1", D)))
    Stages.payloadStage(df, payloadCol, outCol, org.apache.spark.sql.types.ArrayType(segType))(b =>
      Some(extractSegments(b).map(s => org.apache.spark.sql.Row(s.x0, s.y0, s.x1, s.y1))))
  }

  /** Lattice-fixture builder: positioned text blocks (the
    * [[buildBlocksPdf]] shape) PLUS drawn grid rules — horizontal rules
    * (y, x0, x1) and vertical rules (x, y0, y1), each drawn either as an
    * `m`/`l` stroke or as a hairline (0.5 unit) filled `re` when
    * `filledRules` (two real writer styles; the extractor must recover
    * the same grid from either). */
  def buildLatticePdf(blocks: Seq[(String, Double, Double, Double)],
                      hRules: Seq[(Double, Double, Double)],
                      vRules: Seq[(Double, Double, Double)],
                      filledRules: Boolean,
                      compress: Boolean): Array[Byte] = {
    val rules =
      if (filledRules)
        hRules.map { case (y, x0, x1) => s"${coord(x0)} ${coord(y - 0.25)} ${coord(x1 - x0)} 0.5 re f " }.mkString +
          vRules.map { case (x, y0, y1) => s"${coord(x - 0.25)} ${coord(y0)} 0.5 ${coord(y1 - y0)} re f " }.mkString
      else
        hRules.map { case (y, x0, x1) => s"${coord(x0)} ${coord(y)} m ${coord(x1)} ${coord(y)} l S " }.mkString +
          vRules.map { case (x, y0, y1) => s"${coord(x)} ${coord(y0)} m ${coord(x)} ${coord(y1)} l S " }.mkString
    wrapContent(("BT " + blockShows(blocks) + "ET " + rules).getBytes(Ascii), compress)
  }

  /** Distributed layout stage: binary `payloadCol` → `outCol` as
    * `array<struct<text,x,y,size>>`, one payload at a time. Explode
    * downstream with `posexplode` for per-block rows. */
  def blocksStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val blockType = org.apache.spark.sql.types.StructType(Seq(
      StructField("text", StringType),
      StructField("x", org.apache.spark.sql.types.DoubleType),
      StructField("y", org.apache.spark.sql.types.DoubleType),
      StructField("size", org.apache.spark.sql.types.DoubleType)))
    Stages.payloadStage(df, payloadCol, outCol, org.apache.spark.sql.types.ArrayType(blockType))(b =>
      Some(extractBlocks(b).map(bl => org.apache.spark.sql.Row(bl.text, bl.x, bl.y, bl.size))))
  }

  /** Fixture-builder stage for the layout gate queries: expects columns
    * `t0,x0,y0,s0, t1,x1,y1,s1, t2,x2,y2,s2, t3, compress` and appends a
    * binary `outCol` holding the four-block PDF from [[buildLayoutPdf]]. */
  def buildLayoutStage(df: DataFrame, outCol: String): DataFrame =
    Stages.appendFields(df, Seq(StructField(outCol, BinaryType))) { r =>
      def b(i: Int) = (r.getAs[String](s"t$i"), r.getAs[Double](s"x$i"),
        r.getAs[Double](s"y$i"), r.getAs[Double](s"s$i"))
      Seq(buildLayoutPdf(b(0), b(1), b(2), r.getAs[String]("t3"), r.getAs[Boolean]("compress")))
    }

  /** Distributed extraction stage: binary `payloadCol` → string `outCol`,
    * one row streamed at a time ([[Stages.payloadStage]]). */
  def extractStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    Stages.payloadStage(df, payloadCol, outCol, StringType)(b => Some(extractText(b)))

  /** Fixture-builder stage for the gate query: wrap a text column into a
    * real single-page PDF payload (compressed / uncompressed / TJ-split
    * by flags) — runs executor-side because Deflate is not a SQL
    * expression. */
  def buildStage(df: DataFrame, textCol: String, compressCol: String, splitCol: String,
                 outCol: String): DataFrame = {
    val tIdx = df.schema.fieldIndex(textCol)
    val cIdx = df.schema.fieldIndex(compressCol)
    val sIdx = df.schema.fieldIndex(splitCol)
    Stages.appendFields(df, Seq(StructField(outCol, BinaryType)))(
      r => Seq(buildMinimalPdf(r.getString(tIdx), r.getBoolean(cIdx), r.getBoolean(sIdx))))
  }
}
