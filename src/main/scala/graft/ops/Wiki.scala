package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** MediaWiki dump ingestion — Wikipedia-style `<page>` extraction from
  * compressed XML export streams (the `<mediawiki>` export schema), one
  * of the canonical open training corpora. The container side reuses
  * the engine's gzip member path ([[Warc.gunzipMember]]); the page walk
  * is the same no-library linear scan as [[Zip.docxText]]:
  *
  *   `<page>` → `<title>` (entity-unescaped), `<ns>`, the page `<id>`
  *   (the FIRST id — revision ids also use `<id>`, so the walk takes
  *   only an id seen before `<revision>`), an optional
  *   `<redirect title="…"/>`, and the `<revision><text …>` body
  *   (entity-unescaped; length reported).
  *
  * Malformed gzip quarantines the payload; a page missing its closing
  * tag is dropped (truncated dumps end mid-page routinely — the
  * complete prefix is still ingested, matching how dump mirrors are
  * actually consumed).
  */
object Wiki {

  final case class Page(title: String, ns: Int, pageId: Long,
                        redirect: String, textLen: Int)

  private def between(xml: String, from: Int, open: String, close: String,
                      limit: Int): Option[(String, Int)] = {
    val o = xml.indexOf(open, from)
    if (o < 0 || o >= limit) return None
    val bodyStart = xml.indexOf('>', o)
    if (bodyStart < 0 || bodyStart >= limit) return None
    val c = xml.indexOf(close, bodyStart)
    if (c < 0 || c > limit) return None
    Some((xml.substring(bodyStart + 1, c), c + close.length))
  }

  /** Parse the pages of one uncompressed dump fragment. */
  private[graft] def parsePages(xml: String, maxPages: Int = 1 << 16): Seq[Page] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Page]
    var i = 0
    while (i < xml.length && out.length < maxPages) {
      val p0 = xml.indexOf("<page>", i)
      if (p0 < 0) i = xml.length
      else {
        val p1 = xml.indexOf("</page>", p0)
        if (p1 < 0) i = xml.length // truncated mid-page: keep the complete prefix
        else {
          val title = between(xml, p0, "<title", "</title>", p1).map(t => Zip.unescapeXml(t._1))
          val ns = between(xml, p0, "<ns", "</ns>", p1).flatMap(t => t._1.trim.toIntOption)
          // the page id must precede <revision> (revisions carry their own <id>)
          val revAt = { val r = xml.indexOf("<revision>", p0); if (r < 0 || r > p1) p1 else r }
          val id = between(xml, p0, "<id", "</id>", revAt).flatMap(t => t._1.trim.toLongOption)
          val redirect = {
            val r = xml.indexOf("<redirect", p0)
            if (r < 0 || r > p1) null
            else {
              val t = xml.indexOf("title=\"", r)
              val e = if (t < 0) -1 else xml.indexOf('"', t + 7)
              if (t < 0 || e < 0 || e > p1) "" else Zip.unescapeXml(xml.substring(t + 7, e))
            }
          }
          val textLen = between(xml, revAt, "<text", "</text>", p1)
            .map(t => Zip.unescapeXml(t._1).length)
          (title, ns, id) match {
            case (Some(t), Some(n), Some(pid)) =>
              out += Page(t, n, pid, redirect, textLen.getOrElse(-1))
            case _ => () // structurally incomplete page: skip
          }
          i = p1 + 7
        }
      }
    }
    out.toSeq
  }

  /** The Spark seam: decompress the payload, one row per page under the
    * three-way [[Stages.explodePayload]] contract. Gzip by default; the
    * bz2 variant below is the format Wikipedia's own dump mirrors
    * actually serve. */
  def pageStage(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    pageStageWith(df, payloadCol, outCol, b => Warc.gunzipMember(b))

  /** `<page>` extraction from .bz2 dumps via the engine's own
    * [[Bzip2.decode]] — enwiki-*.xml.bz2, ingested with zero native
    * dependencies. */
  def pageStageBz2(df: DataFrame, payloadCol: String, outCol: String): DataFrame =
    pageStageWith(df, payloadCol, outCol, b => Bzip2.decode(b))

  private def pageStageWith(df: DataFrame, payloadCol: String, outCol: String,
                            decompress: Array[Byte] => Option[Array[Byte]]): DataFrame = {
    val sch = StructType(Seq(
      StructField("title", StringType), StructField("ns", IntegerType),
      StructField("page_id", LongType), StructField("redirect", StringType),
      StructField("text_len", IntegerType)))
    Stages.explodePayload(df, payloadCol, outCol, sch)(b =>
      decompress(b).map(xml =>
        parsePages(new String(xml, java.nio.charset.StandardCharsets.UTF_8)).map(p =>
          org.apache.spark.sql.Row(p.title, p.ns, p.pageId, p.redirect, p.textLen))))
  }

  // ---------------------------------------------------------------------
  // Fixture encoder (SEPARATE from the extractor).

  final case class PageFixture(title: String, ns: Int, pageId: Long,
                               redirect: Option[String], text: String)

  def encodeDump(pages: Seq[PageFixture]): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val sb = new StringBuilder("<mediawiki xml:lang=\"en\">\n<siteinfo><sitename>T</sitename></siteinfo>\n")
    pages.foreach { p =>
      sb.append("<page>\n")
      sb.append(s"<title>${esc(p.title)}</title>\n<ns>${p.ns}</ns>\n<id>${p.pageId}</id>\n")
      p.redirect.foreach(t => sb.append(s"""<redirect title="${esc(t)}" />\n"""))
      sb.append(s"<revision>\n<id>${p.pageId * 7 + 1}</id>\n")
      sb.append(s"""<text bytes="${p.text.length}" xml:space="preserve">${esc(p.text)}</text>\n""")
      sb.append("</revision>\n</page>\n")
    }
    sb.append("</mediawiki>\n")
    sb.toString
  }
}
