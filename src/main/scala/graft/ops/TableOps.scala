package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-block operators over `columns: array<string>` /
  * `rows: array<array<string>>` (SURVEY.md §2.2 P5/P6, §2.3 J1/J2,
  * §2.4 A2, §2.8 F11/F12, §2.11 explode-transactions).
  *
  * Everything is higher-order array expressions — the whole family stays
  * inside whole-stage codegen.
  */
object TableOps {

  /** P5: normalize every cell, pad rows to the max width, drop all-empty
    * rows. Ref `ingestion/cleaner.py:134-207`. */
  def cleanRows(rows: Column): Column = {
    val cleaned = transform(rows, r => transform(r, c => trim(regexp_replace(coalesce(c, lit("")), "\\s+", " "))))
    val width = array_max(transform(cleaned, r => size(r)))
    // array_repeat, not sequence: sequence(1, 0) yields a DESCENDING [1,0],
    // so short rows would gain two phantom cells instead of zero
    val padded = transform(cleaned, r =>
      concat(r, array_repeat(lit(""), greatest(width - size(r), lit(0)).cast("int"))))
    filter(padded, r => exists(r, c => c =!= ""))
  }

  /** P6: junk-table predicate — too small, or contains a known junk phrase. */
  def isJunkTable(columns: Column, rows: Column, junkPhrases: Seq[String]): Column = {
    val tooSmall = size(rows) <= 1 || size(columns) <= 1
    val junk = junkPhrases.map(p => exists(rows, r => exists(r, c => lower(c).contains(p))))
      .foldLeft(lit(false))(_ || _)
    tooSmall || junk
  }

  /** J2: cross-extractor content hash — md5 of the whitespace-stripped,
    * lowercased concatenation of all cells. Ref `table_extractor.py:98-108`. */
  def contentHash(rows: Column): Column =
    md5(lower(regexp_replace(concat_ws("", flatten(rows)), "[\\s\\u200B]+", "")))

  /** J2 dedup with deterministic first-wins: keep the first row per hash in
    * `(priority, tieBreak)` order (ref keeps first-seen in iteration order). */
  def dedupByHash(df: DataFrame, hash: Column, priority: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(hash).orderBy(priority, tieBreak)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** J1: keep all `primary` rows; keep `secondary` rows only for keys absent
    * from primary (the Camelot-beats-vision anti-join + union). */
  def preferPrimary(primary: DataFrame, secondary: DataFrame, keys: Seq[String]): DataFrame = {
    val surviving = secondary.join(primary.select(keys.map(col): _*).distinct(), keys, "left_anti")
    primary.unionByName(surviving, allowMissingColumns = true)
  }

  /** F11: header canonicalization — ordered substring→canonical map,
    * first match wins. Ref `ingestion/semantic_enricher.py:383-427`. */
  def canonicalizeHeader(h: Column, mapping: Seq[(String, String)], default: String = "other"): Column = {
    val lc = lower(h)
    mapping.foldRight(lit(default): Column) { case ((key, canon), rest) =>
      when(lc.contains(key), canon).otherwise(rest)
    }
  }

  /** Table-role rule (ref `ingestion/semantic_enricher.py:433-451`):
    * transaction_table when a date-ish and an amount-ish header co-occur,
    * summary_table on summary keywords anywhere in the joined header,
    * other_table otherwise. Thai keywords included as in the reference. */
  def tableRole(columns: Column): Column = {
    val lowered = transform(columns, c => lower(c))
    def anyHeader(keys: Seq[String]) =
      keys.map(k => exists(lowered, h => h.contains(k))).reduce(_ || _)
    val hasDate = anyHeader(Seq("date", "วันที่"))
    val hasAmount = anyHeader(Seq("amount", "ยอดเงิน", "debit",
      "credit", "ยอดคงเหลือ", "balance"))
    val joined = concat_ws(" ", lowered)
    val isSummary = Seq("summary", "สรุป", "total", "รวม")
      .map(k => joined.contains(k)).reduce(_ || _)
    when(hasDate && hasAmount, "transaction_table")
      .when(isSummary, "summary_table")
      .otherwise("other_table")
  }

  /** Explode-transactions (§2.11): rows → one record per row with named
    * fields resolved via the canonical header index map. */
  def explodeTransactions(df: DataFrame, tableId: Column, columns: Column, rows: Column): DataFrame =
    df.select(tableId.as("table_id"), columns.as("cols"), posexplode(rows).as(Seq("row_idx", "r")))
      .select(col("table_id"), col("row_idx"),
        Chunking.serializeRow(col("cols"), col("r"), maxCols = 8, maxCell = 100).as("record"))

  /** F12: render a table to markdown — header row, separator, data rows. */
  def toMarkdown(columns: Column, rows: Column): Column = {
    val header = concat(lit("| "), concat_ws(" | ", columns), lit(" |"))
    val sep = concat(lit("|"), concat_ws("|", transform(columns, _ => lit(" --- "))), lit("|"))
    val body = concat_ws("\n", transform(rows, r => concat(lit("| "), concat_ws(" | ", r), lit(" |"))))
    concat_ws("\n", array(header, sep, body))
  }

  /** HTML `<table>` → struct(columns, rows, has_complex_body,
    * has_complex_header) — the vision-LLM table ingestion step (ref
    * `ingestion/table_extractor.py:115-268`, SimpleTableParser):
    *
    *  - the first cell-bearing `<tr>` is the header, regardless of
    *    thead/tbody placement (vision OCR is messy about those);
    *  - body rows are padded/truncated to the header width;
    *  - `rowspan>1` on a header cell → `has_complex_header` (colspan in a
    *    header is acceptable for flat extraction);
    *  - any rowspan/colspan>1 on a body cell → `has_complex_body`, and the
    *    structured output is forced empty (merged data cells make the grid
    *    unreliable) — as is a header with zero body rows;
    *  - cell text is tag-stripped, entity-decoded (the common charrefs:
    *    amp/lt/gt/quot/#39/nbsp), whitespace-collapsed and trimmed, the
    *    same normalization [[cleanRows]] applies.
    *
    * Pure regexp + higher-order array expressions — parsing stays inside
    * codegen, no UDF. */
  def parseHtmlTable(html: Column): Column = {
    val trPat = "(?is)<tr(?:\\s[^>]*)?>(.*?)</tr>"
    val cellPat = "(?is)<t[hd](?:\\s[^>]*)?>(.*?)</t[hd]>"
    // a span attribute with integer value > 1 anywhere in a cell tag
    val spanPat = "(?is)<t[hd][^>]*\\s(?:rowspan|colspan)\\s*=\\s*\"?0*(?:[2-9]|[1-9][0-9]+)"
    val headerSpanPat = "(?is)<t[hd][^>]*\\srowspan\\s*=\\s*\"?0*(?:[2-9]|[1-9][0-9]+)"

    def cleanCell(c: Column): Column = {
      val noTags = regexp_replace(c, "<[^>]*>", "")
      val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
        "&nbsp;" -> " ", "&amp;" -> "&") // &amp; last, or it would re-decode
        .foldLeft(noTags) { case (acc, (k, v)) => regexp_replace(acc, k, v) }
      trim(regexp_replace(decoded, "\\s+", " "))
    }
    def rawCells(tr: Column): Column = regexp_extract_all(tr, lit(cellPat), lit(1))
    def cellsOf(tr: Column): Column = transform(rawCells(tr), cleanCell(_))

    val trs = filter(regexp_extract_all(html, lit(trPat), lit(1)),
      tr => size(rawCells(tr)) > 0)
    val emptyCols = array().cast("array<string>")
    val emptyRows = array().cast("array<array<string>>")
    val columns = when(size(trs) >= 1, cellsOf(element_at(trs, 1))).otherwise(emptyCols)
    val bodyTrs = slice(trs, lit(2), greatest(size(trs) - 1, lit(0)))
    val ncols = size(columns)
    // pad/truncate every body row to the header width (try_element_at:
    // out-of-range is a pad, not an ANSI error)
    val rows = when(ncols >= 1,
      transform(bodyTrs, tr => {
        val cells = cellsOf(tr)
        transform(sequence(lit(1), ncols), i => coalesce(try_element_at(cells, i), lit("")))
      })).otherwise(emptyRows)
    // Reference fidelity (table_extractor.py:162-175): `is_header_row =
    // (not self.rows)` is evaluated at cell-START time, and the first body
    // row is only appended to `rows` at its tr-END — so "header territory"
    // spans the first TWO <tr>s. A rowspan>1 there sets has_complex_header;
    // a colspan there is acceptable for flat extraction (no flag). Only
    // spans in the third <tr> onward mark the body complex.
    val headerTerritory = slice(trs, lit(1), least(size(trs), lit(2)))
    val laterBodyTrs = slice(trs, lit(3), greatest(size(trs) - 2, lit(0)))
    val complexHeader = exists(headerTerritory, tr => tr.rlike(headerSpanPat))
    val complexBody = exists(laterBodyTrs, tr => tr.rlike(spanPat))
    val forceEmpty = complexBody || (ncols > 0 && size(bodyTrs) === 0)
    struct(
      when(forceEmpty, emptyCols).otherwise(columns).as("columns"),
      when(forceEmpty, emptyRows).otherwise(rows).as("rows"),
      forceEmpty.as("has_complex_body"),
      complexHeader.as("has_complex_header"))
  }

  /** W5: sub-table split — rows matching a header pattern start a new named
    * sub-table; forward-fill the header over subsequent rows. */
  def splitSubTables(df: DataFrame, tableId: Column, rows: Column, headerPattern: String): DataFrame = {
    val exploded = df.select(tableId.as("table_id"), posexplode(rows).as(Seq("ord", "r")))
      .withColumn("hdr", when(element_at(col("r"), 1).rlike(headerPattern), element_at(col("r"), 1)))
    Sections.forwardFill(exploded, Seq(col("table_id")), col("ord"), col("hdr"), "sub_table")
      .filter(col("hdr").isNull) // header rows become group labels, not data
      .drop("hdr")
  }

  /** Competition rank + running value total over the top-n rows WITHOUT
    * any window operator: TakeOrderedAndProject (per-partition heaps)
    * selects the n rows, then a bounded n×n broadcast self-join derives
    * rank and cumulative value — the plan shape that replaced the
    * catalog's last unpartitioned WindowExec (x13) and is shared with
    * ev1's ranking. Rank orders by (value DESC, id ASC); `cum` is the
    * running sum of value through each rank. */
  /** SCD type-2 interval build from a version history: `(keyCols…, tsCol,
    * attrCols…)` rows → one row per REAL attribute change, carrying
    * `valid_from` / `valid_to` (null = open) / `is_current`. No-change
    * versions are suppressed first (the change-detection half of a MERGE
    * INTO), then intervals chain via lead(ts) — both windows partition by
    * the business key, so the plan is one shuffle on the key and scales
    * with the per-key version count, never the table. Determinism needs
    * ts unique per key (true of any CDC feed with a monotonic LSN). */
  def scd2(versions: DataFrame, keyCols: Seq[String], tsCol: String,
           attrCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val attrs = struct(attrCols.map(col): _*)
    val changed = versions
      .withColumn("_prev", lag(attrs, 1).over(w))
      // null-safe: a tracked attribute changing to/from NULL must still
      // open a new interval (plain =!= yields NULL there and the filter
      // would silently drop the version); <=> also covers the first row.
      .filter(!(col("_prev") <=> attrs))
      .drop("_prev")
    changed
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tsCol)
  }

  /** Merge ADDITIVE partial aggregates — the incremental
    * materialized-view maintenance primitive: per-batch partials (counts,
    * sums — anything commutative-monoid) re-aggregate by key with plain
    * sums, and MUST equal the single-pass full aggregate. Ratios/averages
    * are NOT additive and must be derived from merged sums afterward
    * (avg-of-avgs is the classic incremental-pipeline bug this op's gate
    * exists to catch). At 100 TB this is how daily stats absorb a delta
    * without rescanning the corpus. */
  def mergeAdditive(partials: Seq[DataFrame], keyCols: Seq[String],
                    sumCols: Seq[String]): DataFrame = {
    require(partials.nonEmpty, "need at least one partial frame")
    val unioned = partials.reduce(_ unionByName _)
    unioned.groupBy(keyCols.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
  }

  def broadcastTopRank(df: DataFrame, valueCol: String, idCol: String, n: Int): DataFrame = {
    val top = df.select(col(idCol), col(valueCol))
      .orderBy(col(valueCol).desc, col(idCol)).limit(n)
    val peers = top.select(col(idCol).as("_id2"), col(valueCol).as("_v2"))
    top.join(broadcast(peers),
        col("_v2") > col(valueCol) || (col("_v2") === col(valueCol) && col("_id2") <= col(idCol)))
      .groupBy(col(idCol), col(valueCol))
      .agg(count(lit(1)).as("rank"), sum(col("_v2")).as("cum"))
  }
}
