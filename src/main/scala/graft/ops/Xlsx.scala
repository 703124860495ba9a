package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** XLSX (SpreadsheetML) cell extraction on top of the [[Zip]] walk —
  * the other office-corpus heavyweight next to DOCX. A workbook is a
  * ZIP of XML parts (ECMA-376): `xl/worksheets/sheet1.xml` holds
  * `<row><c r="B3" t="s"><v>…</v></c></row>` cells where `t="s"` values
  * index into `xl/sharedStrings.xml`'s `<si><t>…</t></si>` table,
  * `t="inlineStr"` carries `<is><t>…</t></is>` inline, and untyped `<v>`
  * is numeric. The parse is the same no-library linear scan as
  * [[Zip.docxText]]; A1-style references decode to (row, col) ordinals.
  *
  * Emitted per cell: reference, 1-based row/col, and EITHER the
  * resolved string OR the raw numeric text (exact, no float parse — the
  * correctness gate hashes it verbatim). A sheet cell whose shared-
  * string index is out of range quarantines to a null-value cell, a
  * missing/corrupt part nulls the payload downstream of [[Zip]]'s
  * container contract.
  */
object Xlsx {

  final case class Cell(ref: String, row: Int, col: Int, str: String, num: String)

  /** A1-style reference → (1-based row, 1-based col); None if malformed. */
  private[graft] def parseRef(ref: String): Option[(Int, Int)] = {
    var i = 0
    var col = 0
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z') {
      col = col * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    if (i == 0 || i == ref.length) return None
    var row = 0
    while (i < ref.length) {
      val c = ref.charAt(i)
      if (c < '0' || c > '9') return None
      row = row * 10 + (c - '0')
      i += 1
    }
    if (row < 1 || col < 1) None else Some((row, col))
  }

  private def unescape(s: String): String = Zip.unescapeXml(s)

  /** Pull the `<si><t>…</t></si>` shared-string table. */
  private[graft] def sharedStrings(xml: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < xml.length) {
      val si = xml.indexOf("<si>", i)
      if (si < 0) i = xml.length
      else {
        val end = xml.indexOf("</si>", si)
        if (end < 0) i = xml.length
        else {
          val t0 = xml.indexOf("<t", si)
          val str =
            if (t0 < 0 || t0 > end) ""
            else {
              val gt = xml.indexOf('>', t0)
              val close = xml.indexOf("</t>", gt)
              if (gt < 0 || close < 0 || close > end) "" else unescape(xml.substring(gt + 1, close))
            }
          out += str
          i = end + 5
        }
      }
    }
    out.toIndexedSeq
  }

  /** Parse one worksheet's cells against a shared-string table. */
  private[graft] def sheetCells(xml: String, shared: IndexedSeq[String]): Seq[Cell] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Cell]
    var i = 0
    while (i < xml.length) {
      val c0 = xml.indexOf("<c ", i)
      if (c0 < 0) i = xml.length
      else {
        val gt = xml.indexOf('>', c0)
        if (gt < 0) i = xml.length
        else {
          val attrs = xml.substring(c0 + 3, if (xml.charAt(gt - 1) == '/') gt - 1 else gt)
          def attr(name: String): Option[String] = {
            val k = attrs.indexOf(name + "=\"")
            if (k < 0) None
            else {
              val v0 = k + name.length + 2
              val v1 = attrs.indexOf('"', v0)
              if (v1 < 0) None else Some(attrs.substring(v0, v1))
            }
          }
          val ref = attr("r").getOrElse("")
          val t = attr("t").getOrElse("")
          val selfClosed = xml.charAt(gt - 1) == '/'
          val cellEnd = if (selfClosed) gt else xml.indexOf("</c>", gt)
          if (cellEnd < 0) i = xml.length
          else {
            parseRef(ref).foreach { case (row, col) =>
              if (!selfClosed) {
                val body = xml.substring(gt + 1, cellEnd)
                def inner(tag: String): Option[String] = {
                  val o = body.indexOf("<" + tag + ">")
                  val c1 = body.indexOf("</" + tag + ">")
                  if (o < 0 || c1 < 0) None else Some(body.substring(o + tag.length + 2, c1))
                }
                t match {
                  case "s" =>
                    val idx = inner("v").flatMap(v => scala.util.Try(v.trim.toInt).toOption)
                    val s = idx.filter(k => k >= 0 && k < shared.length).map(shared)
                    out += Cell(ref, row, col, s.orNull, null) // bad index → null-value cell
                  case "inlineStr" =>
                    val s = inner("is").flatMap { is =>
                      val o = is.indexOf("<t")
                      if (o < 0) None
                      else {
                        val g = is.indexOf('>', o)
                        val c2 = is.indexOf("</t>", g)
                        if (g < 0 || c2 < 0) None else Some(unescape(is.substring(g + 1, c2)))
                      }
                    }
                    out += Cell(ref, row, col, s.orNull, null)
                  case _ =>
                    out += Cell(ref, row, col, null, inner("v").map(_.trim).orNull)
                }
              } else out += Cell(ref, row, col, null, null) // empty cell
            }
            i = (if (selfClosed) gt else cellEnd + 4)
          }
        }
      }
    }
    out.toSeq
  }

  /** The Spark seam: one row per cell of `xl/worksheets/sheet1.xml`
    * (null struct row when the container or either required part is
    * malformed — a sheet without its string table can silently mis-type
    * every text cell, so it quarantines whole; the three-way
    * [[Stages.explodePayload]] contract). */
  def cellStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame = {
    val sch = StructType(Seq(
      StructField("ref", StringType), StructField("row", IntegerType),
      StructField("col", IntegerType), StructField("str_val", StringType),
      StructField("num_val", StringType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(payload =>
      for {
        es <- Zip.listEntries(payload)
        sheetE <- es.find(_.name == "xl/worksheets/sheet1.xml")
        sheet <- Zip.extract(payload, sheetE)
        shared = es.find(_.name == "xl/sharedStrings.xml") match {
          case None => Some(IndexedSeq.empty[String])
          case Some(e) => Zip.extract(payload, e)
            .map(b => sharedStrings(new String(b, java.nio.charset.StandardCharsets.UTF_8)))
        }
        sh <- shared
      } yield sheetCells(new String(sheet, java.nio.charset.StandardCharsets.UTF_8), sh)
        .map(c => org.apache.spark.sql.Row(c.ref, c.row, c.col, c.str, c.num)))
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the decoder, the JpegSpec discipline).

  /** Build a minimal workbook: shared strings + one sheet. Cells are
    * (ref, Left(sharedIdx) | Right(numericText)). */
  def encodeXlsx(shared: Seq[String], cells: Seq[(String, Either[Int, String])]): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val ss = "<sst>" + shared.map(s => s"<si><t>${esc(s)}</t></si>").mkString + "</sst>"
    val rows = cells.groupBy { case (ref, _) => parseRef(ref).map(_._1).getOrElse(0) }
      .toSeq.sortBy(_._1)
    val sheet = "<worksheet><sheetData>" + rows.map { case (r, cs) =>
      s"""<row r="$r">""" + cs.map {
        case (ref, Left(i)) => s"""<c r="$ref" t="s"><v>$i</v></c>"""
        case (ref, Right(n)) => s"""<c r="$ref"><v>$n</v></c>"""
      }.mkString + "</row>"
    }.mkString + "</sheetData></worksheet>"
    Zip.encodeZip(Seq(
      ("[Content_Types].xml", "<Types/>".getBytes("UTF-8"), false),
      ("xl/sharedStrings.xml", ss.getBytes("UTF-8"), true),
      ("xl/worksheets/sheet1.xml", sheet.getBytes("UTF-8"), true)))
  }
}
