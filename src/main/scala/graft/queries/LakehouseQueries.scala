package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.TestTables._
import graft.ops.DeltaLog

/** Lakehouse table-format inventory: Delta-style log replay, time
  * travel, stats-based file skipping, SCD2 dimension build, CDC apply.
  * See `ops/DeltaLog.scala` for the action model and scale notes.
  */
object LakehouseQueries extends QuerySet {

  /** Physical rows of the given live files with their 0-based positions
    * in o_orderkey order — THE position convention every dv mask is keyed
    * to, in ONE place (a divergent re-derivation in one gate would
    * silently skew its masks against the committed stats all the others
    * agree on). `obRows`: (bucket, o_orderkey, cents) from orders. */
  private def positionedRows(live: org.apache.spark.sql.DataFrame,
                             obRows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("path")).orderBy(col("o_orderkey"))
    live.select(col("path"), explode(col("buckets")).as("bucket"))
      .join(obRows, Seq("bucket"))
      .select(col("path"), col("o_orderkey"), col("cents"),
        (row_number().over(w) - 1).cast("long").as("pos"))
  }

  /** CTEs `live4` (the latest snapshot of `acts`) and `rws4(path,
    * o_orderkey, cents, pos)`: its physical rows with their positions —
    * the SQL twin of `positionedRows`. */
  private val positionedRowsCtes: String =
    s"""live4 AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            rws4 AS (
              SELECT f.path, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live4 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi)"""

  /** Version 0 of a row-tracked table over `obRows` (bucket, o_orderkey,
    * cents): its add actions, one `part-<bucket>` file per bucket with ids
    * assigned batch-wise from high-water mark 0, and the whole log with
    * the protocol row tracking requires (reader 3 / writer 7). Log
    * checkpoints ride ONE partition: every race over them is a window
    * over ≤2k rows, and 32-way shuffles of that pay 32 task floors per
    * stage for nothing. Returns (adds, log). */
  private def rowTrackedV0(s: SparkSession, obRows: DataFrame): (DataFrame, DataFrame) = {
    val bks = obRows.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum("cents").as("cents"))
    val v0adds = DeltaLog.addActions(bks.select(col("bucket").as("ordinal"),
      concat(lit("part-"), col("bucket")).as("path"),
      array(col("bucket")).as("buckets"),
      col("n_rows"), col("min_key"), col("max_key"), col("cents")), 0)
      .coalesce(1).localCheckpoint()
    val acts0 = v0adds
      .unionByName(DeltaLog.assignRidActions(v0adds, v0adds))
      .unionByName(DeltaLog.protocolAction(s, 0, 10000, 3, 7))
      .coalesce(1).localCheckpoint()
    (v0adds, acts0)
  }

  /** Oracle CTEs `bks(bucket, n_rows)`, the orders per bucket, and
    * `base(bucket, n_rows, base)`, each bucket's first row id. */
  private val bucketBaseCtes: String =
    s"""bks AS (
              SELECT o_orderkey // ${DeltaLog.W} AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows
              FROM orders GROUP BY 1),
            base AS (
              SELECT bucket, n_rows,
                COALESCE(sum(n_rows) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
              FROM bks)"""

  /** The 'txn' and 'post' rows of optimizing part-4 and part-5 into
    * opt-4-5 at version 4 and appending append-9 at version 5, over CTEs
    * `live3`, `b45` and `b5` (n_rows, cents). */
  private val optimizeAppendRowsSql: String =
    """UNION ALL SELECT 'txn', 'remove:part-4', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(4 AS BIGINT)
              UNION ALL SELECT 'txn', 'remove:part-5', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(4 AS BIGINT)
              UNION ALL SELECT 'txn', 'add:opt-4-5', n_rows, cents, CAST(4 AS BIGINT) FROM b45
              UNION ALL SELECT 'txn', 'add:append-9', n_rows, cents, CAST(5 AS BIGINT) FROM b5
              UNION ALL
              SELECT 'post', path, n_rows, cents, CAST(0 AS BIGINT)
              FROM (
                SELECT path, n_rows, cents FROM live3
                WHERE path NOT IN ('part-4', 'part-5')
                UNION ALL SELECT 'opt-4-5', n_rows, cents FROM b45
                UNION ALL SELECT 'append-9', n_rows, cents FROM b5) t2"""

  /** A rowset's ground-truth signature as one output row: (section, item,
    * n_rows = row count, cents = Σ cents, flag = Σ o_orderkey). The sums
    * of an empty rowset are null. The SQL twin is `sigCte`. */
  private[graft] def sig(rows: DataFrame, section: String, item: String): DataFrame = rows
    .agg(count(lit(1)).as("n"), sum("cents").as("c"), sum("o_orderkey").as("k"))
    .select(lit(section).as("section"), lit(item).as("item"),
      col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
      col("k").cast("long").as("flag"))

  /** The ('check', `item`) row that says whether two one-row signature
    * frames agree on every column but section and item. Its last column
    * is the flag: 1 when all are equal, else 0 — also when a side's sum is
    * null (an empty rowset), as the oracle's `CASE … THEN 1 ELSE 0` gives,
    * never null. Its other value columns are 0. The SQL twin is
    * `checkRowsSql`. */
  private[graft] def equalCheck(a: DataFrame, b: DataFrame, item: String): DataFrame = {
    val vals = a.columns.toSeq.filterNot(Set("section", "item"))
    val same = vals.map(c => col(s"a_$c") === col(s"b_$c")).reduce(_ && _)
    a.select(vals.map(c => col(c).as(s"a_$c")): _*)
      .crossJoin(broadcast(b.select(vals.map(c => col(c).as(s"b_$c")): _*)))
      .select(Seq(lit("check").as("section"), lit(item).as("item")) ++
        vals.init.map(c => lit(0L).as(c)) :+ when(same, 1L).otherwise(0L).as(vals.last): _*)
  }

  /** Signature CTE `name(n, c, k)` of the rowset `rows`: row count, Σ cents
    * and Σ o_orderkey. The Spark twin is `sig`. */
  private def sigCte(name: String, rows: String): String =
    s"""$name AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c,
              CAST(sum(o_orderkey) AS BIGINT) AS k FROM $rows)"""

  /** The ground-truth rows over signature CTEs `a` and `b`: each as a
    * 'check' row named `itemA`/`itemB`, then ('check', 'equal') with flag
    * 1 when n, c and k all agree, else 0. Spark twins: `sig`, `equalCheck`. */
  private def checkRowsSql(a: String, itemA: String, b: String, itemB: String): String =
    s"""UNION ALL SELECT 'check', '$itemA', n, c, k FROM $a
              UNION ALL SELECT 'check', '$itemB', n, c, k FROM $b
              UNION ALL SELECT 'check', 'equal', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(CASE WHEN (SELECT n FROM $a) = (SELECT n FROM $b)
                      AND (SELECT c FROM $a) = (SELECT c FROM $b)
                      AND (SELECT k FROM $a) = (SELECT k FROM $b)
                     THEN 1 ELSE 0 END AS BIGINT)"""

  /** Latest-snapshot file listing: build the JSON action log, replay it
    * (per-path last action wins), emit the live files with their stats.
    * The oracle replays the same history from arithmetic CTEs. */
  val dl1Snapshot = Q("dl1_snapshot_files",
    Some(s"""WITH ${DeltaLog.actionsSql}
            SELECT path, n_rows, min_key, max_key, cents
            FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t ORDER BY path"""),
    (s, d) => DeltaLog.snapshot(DeltaLog.logLines(orders(s, d)))
      .select("path", "n_rows", "min_key", "max_key", "cents")
      .orderBy("path"))

  /** Time travel: replay the log as of each version 0-3 — file count,
    * row count, and money total per snapshot. Version 1 shows compaction
    * is row-neutral; version 2 shows the delete; version 3 the append. */
  val dl2TimeTravel = Q("dl2_time_travel",
    Some(s"""WITH ${DeltaLog.actionsSql},
            reps AS (
              SELECT r.v, a.* FROM range(0, 4) r(v) JOIN acts a ON a.version <= r.v),
            live AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY v, path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM reps)
              WHERE rn = 1 AND op = 'add')
            SELECT v AS version, CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(n_rows) AS BIGINT) AS n_rows,
              CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM live GROUP BY v ORDER BY version"""),
    (s, d) => {
      val acts = DeltaLog.actions(DeltaLog.logLines(orders(s, d)))
      val versions = s.range(0, 4).select(col("id").cast("int").as("v"))
      DeltaLog.replayGrid(acts, versions)
        .groupBy(col("v").as("version"))
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
          sum("cents").as("sum_cents"))
        .orderBy("version")
    })

  /** Stats-based file skipping: a key-range predicate turns into a
    * file-list filter on (min_key, max_key); only overlapping files are
    * scanned for the per-file match counts — pruned files emit zero
    * WITHOUT reading data. The oracle recomputes TRUE match counts from
    * raw rows for EVERY live file, so an unsound prune (a skipped file
    * that actually held matching rows) hash-mismatches the gate. */
  val dl3StatsPrune = {
    val lo = 637; val hi = 1041 // crosses part-3/part-4, leaves compact-0-1 prunable
    Q("dl3_stats_prune",
      Some(s"""WITH ${DeltaLog.actionsSql},
              live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
              flagged AS (
                SELECT path, b_lo, b_hi,
                  CASE WHEN min_key <= $hi AND max_key >= $lo THEN 1 ELSE 0 END AS scanned
                FROM live),
              m AS (
                SELECT f.path, CAST(count(*) AS BIGINT) AS n_match,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS match_cents
                FROM flagged f JOIN orders o
                  ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi
                  AND o.o_orderkey BETWEEN $lo AND $hi
                GROUP BY f.path)
              SELECT f.path, f.scanned,
                coalesce(m.n_match, 0) AS n_match,
                coalesce(m.match_cents, 0) AS match_cents
              FROM flagged f LEFT JOIN m ON m.path = f.path
              ORDER BY f.path"""),
      (s, d) => {
        val o = orders(s, d)
        val snap = DeltaLog.snapshot(DeltaLog.logLines(o))
        val flagged = snap.withColumn("scanned",
          (col("min_key") <= hi && col("max_key") >= lo).cast("int"))
        val scanBuckets = flagged.filter(col("scanned") === 1)
          .select(col("path"), explode(col("buckets")).as("bucket"))
        val rows = o.filter(col("o_orderkey").between(lo, hi))
          .select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
            round(col("o_totalprice") * 100).cast("long").as("c"))
        val m = scanBuckets.join(rows, "bucket")
          .groupBy("path").agg(count(lit(1)).as("nm"), sum("c").as("mc"))
        flagged.join(m, Seq("path"), "left")
          .select(col("path"), col("scanned"),
            coalesce(col("nm"), lit(0L)).as("n_match"),
            coalesce(col("mc"), lit(0L)).as("match_cents"))
          .orderBy("path")
      })
  }

  /** Checkpointed log read: materialize the version-1 snapshot (the
    * Delta checkpoint) and fold only the tail actions (v2, v3) over it.
    * The oracle is the FULL replay — so the gate proves
    * checkpoint + tail ≡ whole-log replay — plus a provenance column
    * (did the live file come through the checkpoint or the tail?). */
  val dl4Checkpoint = Q("dl4_log_checkpoint",
    Some(s"""WITH ${DeltaLog.actionsSql},
            win AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts)
              WHERE rn = 1 AND op = 'add')
            SELECT path, n_rows, min_key, max_key, cents,
              CASE WHEN version > 1 THEN 'tail' ELSE 'checkpoint' END AS src
            FROM win ORDER BY path"""),
    (s, d) => DeltaLog.checkpointedSnapshot(DeltaLog.logLines(orders(s, d)), v0 = 1)
      .select("path", "n_rows", "min_key", "max_key", "cents", "src")
      .orderBy("path"))

  /** Snapshot diff (v1 → v3): per-file added / removed / unchanged
    * status with row counts — the change manifest an incremental
    * consumer reads instead of re-scanning the table (log-sized work,
    * never data-sized). */
  val dl5Diff = Q("dl5_snapshot_diff",
    Some(s"""WITH ${DeltaLog.actionsSql},
            v_from AS (SELECT path, n_rows FROM ${DeltaLog.liveSql("1")} t),
            v_to AS (SELECT path, n_rows FROM ${DeltaLog.liveSql("3")} t)
            SELECT coalesce(f.path, t.path) AS path,
              CASE WHEN f.path IS NULL THEN 'added'
                   WHEN t.path IS NULL THEN 'removed'
                   ELSE 'unchanged' END AS status,
              coalesce(t.n_rows, f.n_rows) AS n_rows
            FROM v_from f FULL JOIN v_to t ON t.path = f.path
            ORDER BY path"""),
    (s, d) => {
      val log = DeltaLog.logLines(orders(s, d))
      val from = DeltaLog.snapshot(log, Some(1)).select(col("path"), col("n_rows").as("nf"))
      val to = DeltaLog.snapshot(log, Some(3)).select(col("path"), col("n_rows").as("nt"))
      from.join(to, Seq("path"), "full")
        .select(col("path"),
          when(col("nf").isNull, "added").when(col("nt").isNull, "removed")
            .otherwise("unchanged").as("status"),
          coalesce(col("nt"), col("nf")).as("n_rows"))
        .orderBy("path")
    })

  /** Change data feed — the ROW-level delta between consecutive
    * versions (Delta CDF / Iceberg incremental read): per transition,
    * file churn (added/removed paths) AND the multiset row delta
    * (per-key copy counts at v and v+1; added = Σ max(0, c₁−c₀),
    * removed = Σ max(0, c₀−c₁)). The pin that makes this a real CDF and
    * not a file diff: v0→v1 is a COMPACTION — two files removed, one
    * added, and the row feed reports EXACTLY ZERO change (dataChange =
    * false, the contract downstream incremental consumers rely on),
    * while v1→v2 feeds the delete's rows and v2→v3 the append's. ONE
    * aggregate over the key space (per-key version counts pivot into
    * four conditional sums — never a per-transition rescan), then three
    * output rows. */
  val dl12Cdf = Q("dl12_change_data_feed",
    Some(s"""WITH ${DeltaLog.actionsSql},
            vers AS (SELECT unnest(range(0, 4)) AS v),
            livev AS (
              SELECT v, path, b_lo, b_hi FROM (
                SELECT vers.v, a.*, row_number() OVER (PARTITION BY vers.v, a.path
                  ORDER BY a.version DESC, a.ordinal DESC) AS rn
                FROM vers JOIN acts a ON a.version <= vers.v) t
              WHERE rn = 1 AND op = 'add'),
            perkey AS (
              SELECT o.o_orderkey,
                ${(0 to 3).map(v => s"CAST(sum(CASE WHEN l.v = $v THEN 1 ELSE 0 END) AS BIGINT) AS c$v").mkString(", ")}
              FROM livev l JOIN orders o ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN l.b_lo AND l.b_hi
              GROUP BY 1),
            chg AS (SELECT
              ${(0 to 2).map(t => s"""CAST(sum(greatest(c${t + 1} - c$t, 0)) AS BIGINT) AS a$t,
                 CAST(sum(greatest(c$t - c${t + 1}, 0)) AS BIGINT) AS r$t""").mkString(", ")}
              FROM perkey),
            fdiff AS (SELECT
              ${(0 to 2).map(t => s"""(SELECT CAST(count(*) AS BIGINT) FROM livev n WHERE n.v = ${t + 1}
                   AND NOT EXISTS (SELECT 1 FROM livev o WHERE o.v = $t AND o.path = n.path)) AS fa$t,
                 (SELECT CAST(count(*) AS BIGINT) FROM livev o WHERE o.v = $t
                   AND NOT EXISTS (SELECT 1 FROM livev n WHERE n.v = ${t + 1} AND n.path = o.path)) AS fr$t""").mkString(", ")})
            ${(0 to 2).map(t =>
              s"""SELECT $t AS version_from, ${t + 1} AS version_to, fa$t AS files_added,
                 fr$t AS files_removed, a$t AS rows_added, r$t AS rows_removed
                 FROM chg CROSS JOIN fdiff""").mkString("\n            UNION ALL\n            ")}
            ORDER BY version_from"""),
    (s, d) => {
      val acts = DeltaLog.actions(DeltaLog.logLines(orders(s, d))).localCheckpoint()
      val versions = s.range(0, 4).select(col("id").cast("int").as("v"))
      // livev feeds the per-key pivot AND both sides of the file diff
      val livev = DeltaLog.replayGrid(acts, versions)
        .select(col("v"), col("path"), explode(col("buckets")).as("bucket"))
        .localCheckpoint()
      val perkey = orders(s, d)
        .select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"), col("o_orderkey"))
        .join(broadcast(livev), Seq("bucket"))
        .groupBy("o_orderkey")
        .agg((0 to 3).map(v => sum(when(col("v") === v, 1L).otherwise(0L)).as(s"c$v")).head,
          (0 to 3).map(v => sum(when(col("v") === v, 1L).otherwise(0L)).as(s"c$v")).tail: _*)
      val chgAggs = (0 to 2).flatMap(t => Seq(
        sum(greatest(col(s"c${t + 1}") - col(s"c$t"), lit(0L))).as(s"a$t"),
        sum(greatest(col(s"c$t") - col(s"c${t + 1}"), lit(0L))).as(s"r$t")))
      val chg = perkey.agg(chgAggs.head, chgAggs.tail: _*)
      // file diff as ONE per-path presence pivot (a per-transition
      // anti-join pair spawns 2 jobs per transition for the same counts)
      val fPivots = (0 to 3).map(v => max(when(col("v") === v, 1).otherwise(0)).as(s"f$v"))
      val fAggs = (0 to 2).flatMap(t => Seq(
        sum(when(col(s"f${t + 1}") === 1 && col(s"f$t") === 0, 1L).otherwise(0L)).as(s"fa$t"),
        sum(when(col(s"f$t") === 1 && col(s"f${t + 1}") === 0, 1L).otherwise(0L)).as(s"fr$t")))
      val fdiff = livev.select("v", "path").distinct()
        .groupBy("path").agg(fPivots.head, fPivots.tail: _*)
        .agg(fAggs.head, fAggs.tail: _*)
      // ONE row carries every transition's totals; materialize it or each
      // of the three output branches re-runs the whole per-key aggregate
      val totals = chg.crossJoin(broadcast(fdiff)).localCheckpoint()
      val rows = (0 to 2).map(t =>
        totals.select(
          lit(t).as("version_from"), lit(t + 1).as("version_to"),
          col(s"fa$t").as("files_added"), col(s"fr$t").as("files_removed"),
          col(s"a$t").as("rows_added"), col(s"r$t").as("rows_removed")))
      rows.reduce(_ unionByName _).orderBy("version_from")
    })

  /** CDF × deletion vectors — the other half of the incremental-consumer
    * contract dl12 pinned for compaction: an op='dv' transition changes
    * ROWS with ZERO file churn, and the feed must report it. Fixture:
    * the base v0–v3 history, then v4 masks part-5 (pos % 7 = 3) and
    * compact-0-1 (first 10), and v5 REPLACES compact-0-1's mask with a
    * narrower one (first 4) — a partial RESTORE, so the v4→v5 feed
    * reports rows_added = 6 with rows_removed = 0, while v3→v4 reports
    * pure removals; both with files_added = files_removed = 0. Per-key
    * copy counts subtract the version's effective mask (the engine loops
    * the CANONICAL `deletionVectors(acts, asOf)` read per version — one
    * shared scoping rule, never a re-derivation). One aggregate over the
    * key space pivots all six versions; five output rows. */
  val dl12bCdfDv = Q("dl12b_cdf_dv",
    Some(s"""WITH ${DeltaLog.actionsSql},
            vers AS (SELECT unnest(range(0, 6)) AS v),
            livev AS (
              SELECT v, path, b_lo, b_hi FROM (
                SELECT vers.v, a.*, row_number() OVER (PARTITION BY vers.v, a.path
                  ORDER BY a.version DESC, a.ordinal DESC) AS rn
                FROM vers JOIN acts a ON a.version <= vers.v) t
              WHERE rn = 1 AND op = 'add'),
            files0 AS (SELECT DISTINCT path, b_lo, b_hi FROM livev),
            rws AS (
              SELECT f.path, o.o_orderkey,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM files0 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dvv AS (
              SELECT 4 AS v, path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL SELECT 4, path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 10
              UNION ALL SELECT 5, path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL SELECT 5, path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 4),
            perkey AS (
              SELECT r.o_orderkey,
                ${(0 to 5).map(v => s"CAST(sum(CASE WHEN l.v = $v AND d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c$v").mkString(", ")}
              FROM livev l JOIN rws r ON r.path = l.path
              LEFT JOIN dvv d ON d.v = l.v AND d.path = r.path AND d.pos = r.pos
              GROUP BY 1),
            chg AS (SELECT
              ${(0 to 4).map(t => s"""CAST(sum(greatest(c${t + 1} - c$t, 0)) AS BIGINT) AS a$t,
                 CAST(sum(greatest(c$t - c${t + 1}, 0)) AS BIGINT) AS r$t""").mkString(", ")}
              FROM perkey),
            fdiff AS (SELECT
              ${(0 to 4).map(t => s"""(SELECT CAST(count(*) AS BIGINT) FROM livev n WHERE n.v = ${t + 1}
                   AND NOT EXISTS (SELECT 1 FROM livev o WHERE o.v = $t AND o.path = n.path)) AS fa$t,
                 (SELECT CAST(count(*) AS BIGINT) FROM livev o WHERE o.v = $t
                   AND NOT EXISTS (SELECT 1 FROM livev n WHERE n.v = ${t + 1} AND n.path = o.path)) AS fr$t""").mkString(", ")})
            ${(0 to 4).map(t =>
              s"""SELECT $t AS version_from, ${t + 1} AS version_to, fa$t AS files_added,
                 fr$t AS files_removed, a$t AS rows_added, r$t AS rows_removed
                 FROM chg CROSS JOIN fdiff""").mkString("\n            UNION ALL\n            ")}
            ORDER BY version_from"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord)
      val live0 = DeltaLog.snapshot(logBase).localCheckpoint()
      val log = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 4, 1, sequence(lit(0L), lit(9L))))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 5, 0, sequence(lit(0L), lit(3L))))))
      val acts = DeltaLog.actions(log).localCheckpoint()
      // the canonical per-version reads — liveness AND masks — in ONE
      // grid pass each (a looped per-version read costs a stage floor
      // per version for identical results); both feed the pivot and the
      // file diff
      val versionsDf = s.range(0, 6).select(col("id").cast("int").as("v"))
      val livev = DeltaLog.replayGrid(acts, versionsDf)
        .select(col("v"), col("path"), col("buckets")).localCheckpoint()
      // single consumer (the perkey join) over checkpointed acts — no
      // re-execution to guard, so no materialization job either
      val dvv = DeltaLog.deletionVectorGrid(acts, versionsDf)
        .select(col("v"), col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      val w = Window.partitionBy(col("path")).orderBy(col("o_orderkey"))
      val rws = livev.select("path", "buckets").distinct()
        .select(col("path"), explode(col("buckets")).as("bucket"))
        .join(ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"), col("o_orderkey")),
          Seq("bucket"))
        .select(col("path"), col("o_orderkey"),
          (row_number().over(w) - 1).cast("long").as("pos"))
      val pivots = (0 to 5).map(v =>
        sum(when(col("v") === v && col("hit").isNull, 1L).otherwise(0L)).as(s"c$v"))
      val perkey = rws.join(broadcast(livev.select("v", "path")), Seq("path"))
        .join(broadcast(dvv), Seq("v", "path", "pos"), "left")
        .groupBy("o_orderkey")
        .agg(pivots.head, pivots.tail: _*)
      val chgAggs = (0 to 4).flatMap(t => Seq(
        sum(greatest(col(s"c${t + 1}") - col(s"c$t"), lit(0L))).as(s"a$t"),
        sum(greatest(col(s"c$t") - col(s"c${t + 1}"), lit(0L))).as(s"r$t")))
      val chg = perkey.agg(chgAggs.head, chgAggs.tail: _*)
      // file diff as ONE per-path presence pivot; ONE materialized totals
      // row feeds all five output branches (each branch would otherwise
      // re-run the whole per-key aggregate)
      val fPivots = (0 to 5).map(v => max(when(col("v") === v, 1).otherwise(0)).as(s"f$v"))
      val fAggs = (0 to 4).flatMap(t => Seq(
        sum(when(col(s"f${t + 1}") === 1 && col(s"f$t") === 0, 1L).otherwise(0L)).as(s"fa$t"),
        sum(when(col(s"f$t") === 1 && col(s"f${t + 1}") === 0, 1L).otherwise(0L)).as(s"fr$t")))
      val fdiff = livev.select("v", "path").distinct()
        .groupBy("path").agg(fPivots.head, fPivots.tail: _*)
        .agg(fAggs.head, fAggs.tail: _*)
      val totals = chg.crossJoin(broadcast(fdiff)).localCheckpoint()
      val rows = (0 to 4).map(t =>
        totals.select(
          lit(t).as("version_from"), lit(t + 1).as("version_to"),
          col(s"fa$t").as("files_added"), col(s"fr$t").as("files_removed"),
          col(s"a$t").as("rows_added"), col(s"r$t").as("rows_removed")))
      rows.reduce(_ unionByName _).orderBy("version_from")
    })

  /** Z-order vs linear layout, measured through stats skipping: the same
    * orders rows sliced into 64 files by a linear key range (custkey
    * buckets — what a (custkey, day) sort produces at file granularity)
    * and by Morton z-value range (64 space-filling tiles); per-file
    * (x, y) bounding boxes then score three predicates — x-only,
    * y-only, both. The classic result the gate pins: the linear layout
    * prunes the x predicate perfectly and the y predicate NOT AT ALL
    * (every file spans all of y), while z-order prunes both dimensions.
    * File assignment is pure bit arithmetic (key >> shift) — no global
    * sort, no window (the catalog-wide no-unpartitioned-window
    * invariant applies even to layout exhibits); the z-value SQL is
    * GENERATED from the same bit positions as the Spark column
    * (`ZOrder.zValueSql`). */
  val dl6Zorder = {
    val bits = 10; val files = 64
    val xlo = 96; val xhi = 159; val ylo = 200; val yhi = 299
    Q("dl6_zorder_skipping",
      Some(s"""WITH rows0 AS (
                SELECT o_orderkey AS k, o_custkey % 1024 AS x,
                  (epoch_us(o_orderdate) // 86400000000) % 1024 AS y
                FROM orders),
              rows1 AS (
                SELECT *, ${graft.ops.ZOrder.zValueSql("x", "y", bits)} AS zkey FROM rows0),
              assigned AS (
                SELECT x, y, x >> 4 AS f_linear, zkey >> 14 AS f_zorder FROM rows1),
              stacked AS (
                SELECT 'linear' AS layout, f_linear AS f, x, y FROM assigned
                UNION ALL SELECT 'zorder', f_zorder, x, y FROM assigned),
              stats AS (
                SELECT layout, f, min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1,
                  count(*) AS n FROM stacked GROUP BY layout, f),
              preds AS (SELECT unnest(['x', 'y', 'xy']) AS pred)
              SELECT s.layout, p.pred,
                CAST(count(*) AS BIGINT) AS n_files,
                CAST(sum(CASE WHEN
                    (p.pred = 'y' OR (s.x0 <= $xhi AND s.x1 >= $xlo)) AND
                    (p.pred = 'x' OR (s.y0 <= $yhi AND s.y1 >= $ylo))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
                CAST(sum(CASE WHEN
                    (p.pred = 'y' OR (s.x0 <= $xhi AND s.x1 >= $xlo)) AND
                    (p.pred = 'x' OR (s.y0 <= $yhi AND s.y1 >= $ylo))
                  THEN s.n ELSE 0 END) AS BIGINT) AS rows_scanned
              FROM stats s, preds p
              GROUP BY s.layout, p.pred
              ORDER BY layout, pred"""),
      (s, d) => {
        val rows = orders(s, d).select(col("o_orderkey").as("k"),
            (col("o_custkey") % 1024).as("x"),
            (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") % 1024).as("y"))
          .withColumn("zkey", graft.ops.ZOrder.zValue(col("x"), col("y"), bits))
        val assigned = rows.select(col("x"), col("y"),
          shiftright(col("x"), 4).as("f_linear"),
          shiftright(col("zkey"), 14).as("f_zorder"))
        val stacked = assigned.select(lit("linear").as("layout"), col("f_linear").as("f"),
            col("x"), col("y"))
          .unionByName(assigned.select(lit("zorder").as("layout"), col("f_zorder").as("f"),
            col("x"), col("y")))
        val stats = stacked.groupBy("layout", "f")
          .agg(min("x").as("x0"), max("x").as("x1"), min("y").as("y0"), max("y").as("y1"),
            count(lit(1)).as("n"))
        val preds = s.range(1).select(explode(array(lit("x"), lit("y"), lit("xy"))).as("pred"))
        val hitX = col("x0") <= xhi && col("x1") >= xlo
        val hitY = col("y0") <= yhi && col("y1") >= ylo
        val hit = (col("pred") === "y" || hitX) && (col("pred") === "x" || hitY)
        stats.crossJoin(preds)
          .groupBy("layout", "pred")
          .agg(count(lit(1)).as("n_files"),
            sum(when(hit, 1L).otherwise(0L)).as("n_scanned"),
            sum(when(hit, col("n")).otherwise(0L)).as("rows_scanned"))
          .orderBy("layout", "pred")
      })
  }

  /** Vacuum plan (retention boundary R = 2): a data file is removable
    * iff it is live in NO retained snapshot (versions R..latest) —
    * deleting it cannot break time travel inside the retention window.
    * part-0/1 (compacted away at v1) and part-2 (deleted at v2) are
    * vacuumable; everything live at v2 or v3 must be kept. Log-sized
    * work: two replays + one anti set, no data touched. */
  val dl7Vacuum = Q("dl7_vacuum_plan",
    Some(s"""WITH ${DeltaLog.actionsSql},
            ever AS (
              SELECT DISTINCT path, n_rows FROM acts WHERE op = 'add'),
            vers AS (SELECT DISTINCT version AS v FROM acts WHERE version >= 2),
            reps AS (SELECT r.v, a.* FROM vers r JOIN acts a ON a.version <= r.v),
            retained AS (
              SELECT DISTINCT path FROM (
                SELECT *, row_number() OVER (PARTITION BY v, path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM reps)
              WHERE rn = 1 AND op = 'add')
            SELECT e.path,
              CASE WHEN r.path IS NULL THEN 'vacuum' ELSE 'keep' END AS status,
              CASE WHEN r.path IS NULL THEN e.n_rows ELSE 0 END AS freed_rows
            FROM ever e LEFT JOIN retained r ON r.path = e.path
            ORDER BY e.path"""),
    (s, d) => {
      // retained versions derived FROM THE LOG (R..latest), not frozen
      // literals — a future log version cannot silently widen the
      // vacuum set past a still-live file
      val acts = DeltaLog.actions(DeltaLog.logLines(orders(s, d))).localCheckpoint()
      val ever = acts.filter(col("op") === "add").select("path", "n_rows").distinct()
      val vers = acts.select(col("version").as("v")).filter(col("v") >= 2).distinct()
      val retained = DeltaLog.replayGrid(acts, vers)
        .select(col("path").as("rpath")).distinct()
      ever.join(retained, col("path") === col("rpath"), "left")
        .select(col("path"),
          when(col("rpath").isNull, "vacuum").otherwise("keep").as("status"),
          when(col("rpath").isNull, col("n_rows")).otherwise(lit(0L)).as("freed_rows"))
        .orderBy("path")
    })

  /** Optimistic-concurrency conflict check: three candidate version-4
    * transactions define their REMOVE sets by predicates over the live
    * snapshot's stats (a compaction of the key range [500,1100], a
    * re-tier of files with min_key < 900, and a blind append); two
    * concurrent transactions conflict iff their remove sets intersect —
    * the Delta OCC rule that decides who must rebase. Log-sized work:
    * the check never touches data, only the live file list. */
  val dl8Occ = Q("dl8_commit_conflicts",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            txns AS (
              SELECT 'compact_range' AS txn, path FROM live
                WHERE min_key <= 1100 AND max_key >= 500
              UNION ALL
              SELECT 'retier_low', path FROM live WHERE min_key < 900
              UNION ALL
              SELECT 'blind_append', path FROM live WHERE 1 = 0),
            names AS (SELECT unnest(['blind_append', 'compact_range', 'retier_low']) AS txn),
            pairs AS (
              SELECT a.txn AS txn_a, b.txn AS txn_b FROM names a JOIN names b ON a.txn < b.txn),
            ovl AS (
              SELECT x.txn AS txn_a, y.txn AS txn_b,
                CAST(count(*) AS BIGINT) AS n_common, min(x.path) AS first_path
              FROM txns x JOIN txns y ON y.path = x.path AND x.txn < y.txn
              GROUP BY 1, 2)
            SELECT p.txn_a AS txn_a, p.txn_b AS txn_b, coalesce(o.n_common, 0) AS n_common,
              CASE WHEN o.n_common > 0 THEN 1 ELSE 0 END AS conflict,
              coalesce(o.first_path, 'none') AS first_conflict_path
            FROM pairs p LEFT JOIN ovl o
              ON o.txn_a = p.txn_a AND o.txn_b = p.txn_b
            ORDER BY p.txn_a, p.txn_b"""),
    (s, d) => {
      val live = DeltaLog.snapshot(DeltaLog.logLines(orders(s, d))).localCheckpoint()
      val txns = live.filter(col("min_key") <= 1100 && col("max_key") >= 500)
          .select(lit("compact_range").as("txn"), col("path"))
        .unionByName(live.filter(col("min_key") < 900)
          .select(lit("retier_low").as("txn"), col("path")))
        .unionByName(live.filter(lit(false))
          .select(lit("blind_append").as("txn"), col("path")))
      val names = s.range(1).select(explode(array(
        lit("blind_append"), lit("compact_range"), lit("retier_low"))).as("txn"))
      val pairs = names.select(col("txn").as("txn_a"))
        .join(names.select(col("txn").as("txn_b")), col("txn_a") < col("txn_b"))
      val x = txns.select(col("txn").as("txn_a"), col("path"))
      val y = txns.select(col("txn").as("txn_b"), col("path").as("path_b"))
      val overlaps = x.join(y, col("path_b") === col("path") && col("txn_a") < col("txn_b"))
        .groupBy("txn_a", "txn_b")
        .agg(count(lit(1)).as("n_common"), min("path").as("first_path"))
      pairs.join(overlaps, Seq("txn_a", "txn_b"), "left")
        .select(col("txn_a"), col("txn_b"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          when(col("n_common") > 0, 1).otherwise(0).as("conflict"),
          coalesce(col("first_path"), lit("none")).as("first_conflict_path"))
        .orderBy("txn_a", "txn_b")
    })

  /** The OPTIMIZE cycle THROUGH the transaction log (the round-9 verdict
    * ask — k5's bin-packing lived beside the log, this runs it IN the
    * log): the engine picks adjacent-pair compactions from the v3 live
    * set (`DeltaLog.optimizeActions`), commits them as REAL version-4
    * JSON actions (serialized with `toLines`, re-read through the STRICT
    * parse), then proves the three contracts every lakehouse OPTIMIZE
    * must keep — (1) the replayed ROW SET is untouched: pre/post
    * data-level signatures (count, cents, keysum — computed by joining
    * live files back to the orders rows) plus an in-engine equality
    * flag, all hash-gated; (2) vacuum at retain-latest frees EXACTLY the
    * dead history plus the replaced inputs, with a replaced-vs-historical
    * flag per freed file; (3) OCC: a concurrent recluster of key range
    * [1000, 1400] conflicts with the optimize (shared remove paths, the
    * dl8 rule), a blind append does not. The oracle replays the ENTIRE
    * mechanism — policy, commit, replay, signatures, vacuum, OCC — from
    * the arithmetic CTEs (the er6 discipline). Log-sized work everywhere
    * except the two signature scans, which are one broadcast-join
    * aggregate over orders each. */
  val dl9Optimize = Q("dl9_optimize_cycle",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            parts AS (SELECT * FROM live3 WHERE path LIKE 'part-%' AND b_lo = b_hi),
            bins AS (
              SELECT b_lo // 2 AS bin, count(*) AS nf, min(b_lo) AS lo, max(b_lo) AS hi,
                CAST(sum(n_rows) AS BIGINT) AS n_rows, min(min_key) AS min_key,
                max(max_key) AS max_key, CAST(sum(cents) AS BIGINT) AS cents
              FROM parts GROUP BY 1),
            fullbins AS (SELECT * FROM bins WHERE nf = 2),
            optrem AS (
              SELECT 4 AS version, CAST(p.b_lo AS INT) AS ordinal, 'remove' AS op, p.path,
                CAST(NULL AS BIGINT) AS b_lo, CAST(NULL AS BIGINT) AS b_hi,
                CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS min_key,
                CAST(NULL AS BIGINT) AS max_key, CAST(NULL AS BIGINT) AS cents,
                p.n_rows AS in_rows, p.cents AS in_cents
              FROM parts p JOIN fullbins b ON p.b_lo // 2 = b.bin),
            optadd AS (
              SELECT 4 AS version, CAST(1000 + lo AS INT) AS ordinal, 'add' AS op,
                'opt-' || lo || '-' || hi AS path, lo AS b_lo, hi AS b_hi,
                n_rows, min_key, max_key, cents
              FROM fullbins),
            acts4 AS (
              SELECT version, ordinal, op, path, b_lo, b_hi, n_rows, min_key, max_key, cents FROM acts
              UNION ALL
              SELECT version, ordinal, op, path, b_lo, b_hi, n_rows, min_key, max_key, cents FROM optrem
              UNION ALL
              SELECT version, ordinal, op, path, b_lo, b_hi, n_rows, min_key, max_key, cents FROM optadd),
            live4 AS (
              SELECT path, b_lo, b_hi, n_rows, min_key, max_key, cents FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts4) WHERE rn = 1 AND op = 'add'),
            sig3 AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(sum(o.o_orderkey) AS BIGINT) AS keysum
              FROM live3 f JOIN orders o ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            sig4 AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(sum(o.o_orderkey) AS BIGINT) AS keysum
              FROM live4 f JOIN orders o ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            ever AS (SELECT DISTINCT path, n_rows FROM acts4 WHERE op = 'add'),
            freed AS (
              SELECT e.path, e.n_rows FROM ever e
              LEFT JOIN live4 l ON l.path = e.path WHERE l.path IS NULL)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'add:' || path AS item, n_rows, cents,
                CAST(0 AS BIGINT) AS flag FROM optadd
              UNION ALL
              SELECT 'txn', 'remove:' || path, in_rows, in_cents, CAST(0 AS BIGINT) FROM optrem
              UNION ALL
              SELECT 'check', 'rowset_pre', n, cents, keysum FROM sig3
              UNION ALL
              SELECT 'check', 'rowset_post', n, cents, keysum FROM sig4
              UNION ALL
              SELECT 'check', 'rowset_equal', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(CASE WHEN (SELECT n FROM sig3) = (SELECT n FROM sig4)
                      AND (SELECT cents FROM sig3) = (SELECT cents FROM sig4)
                      AND (SELECT keysum FROM sig3) = (SELECT keysum FROM sig4)
                     THEN 1 ELSE 0 END AS BIGINT)
              UNION ALL
              SELECT 'vacuum', f.path, f.n_rows, CAST(0 AS BIGINT),
                CAST(CASE WHEN r.path IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
              FROM freed f LEFT JOIN optrem r ON r.path = f.path
              UNION ALL
              SELECT 'occ', 'optimize_vs_recluster', CAST(count(*) AS BIGINT),
                CAST(0 AS BIGINT), CAST(CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS BIGINT)
              FROM live3 l JOIN optrem r ON r.path = l.path
              WHERE l.min_key <= 1400 AND l.max_key >= 1000
              UNION ALL
              SELECT 'occ', 'optimize_vs_blind_append', CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val log3 = DeltaLog.logLines(ord)
      // live3 feeds the optimize policy, the pre signature, the remove-side
      // stats and the OCC check; opt feeds the commit, txn rows, vacuum
      // flags and OCC - materialize both (log-sized frames)
      val live3 = DeltaLog.snapshot(log3).localCheckpoint()
      val opt = DeltaLog.optimizeActions(live3, 4).localCheckpoint()
      // commit: append the optimize as real JSON lines, re-read through the
      // strict parse, replay to the post snapshot
      val acts4 = DeltaLog.actions(log3.unionByName(DeltaLog.toLines(opt))).localCheckpoint()
      val live4 = DeltaLog.replay(acts4).localCheckpoint()
      val ob = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      def rowsOf(live: DataFrame) =
        ob.join(broadcast(live.select(explode(col("buckets")).as("bucket"))), Seq("bucket"))
      // each feeds its own output row AND the equality row
      val sig3 = sig(rowsOf(live3), "check", "rowset_pre").localCheckpoint()
      val sig4 = sig(rowsOf(live4), "check", "rowset_post").localCheckpoint()
      val equal = equalCheck(sig3, sig4, "rowset_equal")
      val txnAdd = opt.filter(col("op") === "add")
        .select(lit("txn").as("section"), concat(lit("add:"), col("path")).as("item"),
          col("n_rows"), col("cents"), lit(0L).as("flag"))
      val removes = opt.filter(col("op") === "remove").select("path")
      val txnRem = removes
        .join(live3.select(col("path"), col("n_rows").as("in_rows"), col("cents").as("in_cents")), "path")
        .select(lit("txn").as("section"), concat(lit("remove:"), col("path")).as("item"),
          col("in_rows").as("n_rows"), col("in_cents").as("cents"), lit(0L).as("flag"))
      val ever = acts4.filter(col("op") === "add").select("path", "n_rows").distinct()
      val vac = ever.join(live4.select("path"), Seq("path"), "left_anti")
        .join(removes.select(col("path").as("rp")), col("path") === col("rp"), "left")
        .select(lit("vacuum").as("section"), col("path").as("item"), col("n_rows"),
          lit(0L).as("cents"), when(col("rp").isNotNull, 1L).otherwise(0L).as("flag"))
      val occ1 = live3.filter(col("min_key") <= 1400 && col("max_key") >= 1000)
        .select("path").join(removes, "path")
        .agg(count(lit(1)).as("nc"))
        .select(lit("occ").as("section"), lit("optimize_vs_recluster").as("item"),
          col("nc").cast("long").as("n_rows"), lit(0L).as("cents"),
          when(col("nc") > 0, 1L).otherwise(0L).as("flag"))
      val occ2 = s.range(1).select(lit("occ").as("section"),
        lit("optimize_vs_blind_append").as("item"), lit(0L).as("n_rows"),
        lit(0L).as("cents"), lit(0L).as("flag"))
      txnAdd.unionByName(txnRem).unionByName(sig3).unionByName(sig4).unionByName(equal)
        .unionByName(vac).unionByName(occ1).unionByName(occ2)
        .orderBy("section", "item")
    })

  /** Deletion vectors — row-level deletes WITHOUT rewriting files (the
    * Delta DV / Iceberg position-delete capability, the modern
    * lakehouse's answer to GDPR-grade point deletes at 100 TB): a
    * version-4 `dv` action attaches a mask of 0-based row positions
    * (within the file's o_orderkey order) to a live file; reads subtract
    * the mask. Liveness is untouched — `replay` races only file actions,
    * so the dv action never drops its file (the guard added with this
    * query). Masks: every 7th-position row of part-5 (pos % 7 == 3) and
    * the first 10 rows of compact-0-1, generated from each file's OWN
    * row count (`sequence(0, n_rows-1)` + filter) and committed as real
    * JSON actions through the strict parse. The oracle re-derives the
    * same masks from its replayed row positions and subtracts them
    * independently. One path-partitioned window assigns positions; one
    * anti-join applies the mask — the read-side cost is position
    * assignment, never a file rewrite. */
  val dl10Dv = Q("dl10_deletion_vectors",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            rws AS (
              SELECT f.path, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live f JOIN orders o ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dv AS (
              SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL
              SELECT path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 10)
            SELECT r.path,
              CAST(count(*) AS BIGINT) AS n_physical,
              CAST(sum(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
              CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
              CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents_live
            FROM rws r LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos
            GROUP BY r.path ORDER BY r.path"""),
    (s, d) => {
      val ord = orders(s, d)
      val log = DeltaLog.logLines(ord)
      // live3 (pre-DV stats) drives mask GENERATION; the masks then
      // commit as real v4 JSON actions and are read back
      val live0 = DeltaLog.snapshot(log).localCheckpoint()
      val dvLines = DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 4, 1,
            sequence(lit(0L), lit(9L)))))
      val acts = DeltaLog.actions(log.unionByName(dvLines)).localCheckpoint()
      val live = DeltaLog.replay(acts)
      val dvs = DeltaLog.deletionVectors(acts)
      val rws = positionedRows(live,
        ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents")))
      val del = dvs.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      rws.join(broadcast(del), Seq("path", "pos"), "left")
        .groupBy("path")
        .agg(count(lit(1)).as("n_physical"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_live"),
          sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents_live"))
        .orderBy("path")
    })

  /** Schema evolution THROUGH the transaction log — the op='meta' action
    * (Delta's metaData) completes the action vocabulary
    * (add/remove/dv/meta): the v0 meta declares the base schema, a v3
    * meta widens it with a `region` column, and for every version 0-3
    * the gate reports the ACTIVE schema (latest meta ≤ V) plus the
    * backfill ledger — live files whose add version predates the active
    * schema physically lack the new column and read back null-filled,
    * so their count is exactly what a reader must null-backfill. At v3
    * every pre-widening file needs backfill while the same-version
    * append does not, so both branches fire. Meta actions never touch
    * liveness (lastWins races file actions only — pinned by the dv
    * regression). Log-sized throughout. */
  val dl11Schema = Q("dl11_schema_evolution",
    Some(s"""WITH ${DeltaLog.actionsSql},
            meta(version, ordinal, schema_str) AS (
              VALUES (0, -1, 'k BIGINT, cents BIGINT'),
                     (3, -1, 'k BIGINT, cents BIGINT, region VARCHAR')),
            vers AS (SELECT unnest(range(0, 4)) AS v),
            livev AS (
              SELECT v, path, version AS add_version FROM (
                SELECT vers.v, a.*, row_number() OVER (PARTITION BY vers.v, a.path
                  ORDER BY a.version DESC, a.ordinal DESC) AS rn
                FROM vers JOIN acts a ON a.version <= vers.v) t
              WHERE rn = 1 AND op = 'add'),
            activem AS (
              SELECT v, schema_str, mv FROM (
                SELECT vers.v, m.schema_str, m.version AS mv,
                  row_number() OVER (PARTITION BY vers.v
                    ORDER BY m.version DESC, m.ordinal DESC) AS rn
                FROM vers JOIN meta m ON m.version <= vers.v) t
              WHERE rn = 1)
            SELECT a.v AS version, a.schema_str AS active_schema,
              CAST(count(l.path) AS BIGINT) AS n_live,
              CAST(coalesce(sum(CASE WHEN l.add_version < a.mv THEN 1 ELSE 0 END), 0) AS BIGINT)
                AS n_backfill_files
            FROM activem a LEFT JOIN livev l ON l.v = a.v
            GROUP BY a.v, a.schema_str, a.mv
            ORDER BY version"""),
    (s, d) => {
      val log = DeltaLog.logLines(orders(s, d))
        .unionByName(DeltaLog.toLines(
          DeltaLog.metaAction(s, 0, -1, "k BIGINT, cents BIGINT")
            .unionByName(DeltaLog.metaAction(s, 3, -1, "k BIGINT, cents BIGINT, region VARCHAR"))))
      // acts feeds the per-version live race AND the per-version schema race
      val acts = DeltaLog.actions(log).localCheckpoint()
      val versions = s.range(0, 4).select(col("id").cast("int").as("v"))
      val livev = DeltaLog.replayGrid(acts, versions)
        .select(col("v"), col("path"), col("version").as("add_version"))
      val wm = Window.partitionBy(col("v")).orderBy(col("version").desc, col("ordinal").desc)
      val activem = versions.join(acts.filter(col("op") === "meta"),
          acts("version") <= versions("v"))
        .withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
        .select(col("v"), col("schema_str"), col("version").as("mv"))
      activem.join(livev, Seq("v"), "left")
        .groupBy(col("v"), col("schema_str"), col("mv"))
        .agg(count(col("path")).as("n_live"),
          coalesce(sum(when(col("add_version") < col("mv"), 1L).otherwise(0L)), lit(0L))
            .as("n_backfill_files"))
        .select(col("v").as("version"), col("schema_str").as("active_schema"),
          col("n_live"), col("n_backfill_files"))
        .orderBy("version")
    })

  /** Full-state checkpoint read — the round-10 verdict's lead item: a
    * checkpoint at v0 must persist MORE than file liveness (real Delta
    * checkpoints carry metaData and DV references precisely because a
    * reader at checkpoint+tail otherwise silently loses every mask and
    * schema committed ≤ v0). Fixture log: the base v0–v3 history, meta
    * actions at v0 (base schema) and v3 (widened), v4 dv masks on part-5
    * (pos % 7 = 3) and compact-0-1 (first 10), then a TAIL (v5) that
    * both REPLACES compact-0-1's mask (first 5 — proving tail dvs
    * override checkpointed ones) and adds append-1 (proving tail file
    * actions land beside checkpoint files, src='tail'). The reader sees
    * ONLY `checkpointedActions(acts, 4)` — if the checkpoint dropped dv
    * or meta state, n_deleted/cents_live/active_schema all diverge from
    * the oracle's full-log replay and the gate hash-mismatches; if it
    * rewrote add versions, the backfill ledger (add_version vs the
    * active schema's version) diverges. Log-sized work + one
    * position-assignment window over the read rows (the dl10 shape). */
  val dl13CheckpointFullState = Q("dl13_checkpoint_full_state",
    Some(s"""WITH ${DeltaLog.actionsSql},
            acts2 AS (
              SELECT * FROM acts
              UNION ALL
              SELECT 5, 1, 'add', 'append-1', 4, 4, n_rows, min_key, max_key, cents
              FROM bks WHERE bucket = 4),
            live AS (
              SELECT path, version AS add_version, b_lo, b_hi FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t
              WHERE rn = 1 AND op = 'add'),
            rws AS (
              SELECT l.path, l.add_version, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY l.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live l JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN l.b_lo AND l.b_hi),
            dv AS (
              SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL
              SELECT path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 5)
            SELECT r.path,
              CASE WHEN r.add_version > 4 THEN 'tail' ELSE 'checkpoint' END AS src,
              CAST(r.add_version AS INT) AS add_version,
              CASE WHEN r.add_version < 3 THEN 1 ELSE 0 END AS needs_backfill,
              CAST(count(*) AS BIGINT) AS n_physical,
              CAST(sum(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
              CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
              CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents_live,
              'k BIGINT, cents BIGINT, region VARCHAR' AS active_schema
            FROM rws r LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos
            GROUP BY r.path, r.add_version
            ORDER BY r.path"""),
    (s, d) => {
      val ord = orders(s, d)
      // feeds live0, the final log union AND (via buckets) append-1
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val live0 = DeltaLog.snapshot(logBase).localCheckpoint()
      val append1 = DeltaLog.addAction(DeltaLog.buckets(ord).filter(col("bucket") === 4),
        5, 1, "append-1", array(lit(4L)))
      val log = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.metaAction(s, 0, -1, "k BIGINT, cents BIGINT")
          .unionByName(DeltaLog.metaAction(s, 3, -1, "k BIGINT, cents BIGINT, region VARCHAR"))
          .unionByName(DeltaLog.dvAction(live0, "part-5", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3)))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 4, 1, sequence(lit(0L), lit(9L))))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 5, 0, sequence(lit(0L), lit(4L))))
          .unionByName(append1)))
      // parse ONCE before the races: checkpointState fans into four
      // branches (file race, dv race ×2, meta race) and each would
      // otherwise replay the whole log-build DAG back to the orders scan
      val acts = DeltaLog.actions(log).localCheckpoint()
      // the reader's world from here on is ONLY checkpoint(≤4) + tail(5)
      val cpActs = DeltaLog.checkpointedActions(acts, 4).localCheckpoint()
      val live = DeltaLog.replayWithBirth(cpActs)
      val dvs = DeltaLog.deletionVectors(cpActs)
      val sch = DeltaLog.activeSchema(cpActs).localCheckpoint()
      val w = Window.partitionBy(col("path")).orderBy(col("o_orderkey"))
      val rws = live.select(col("path"), col("version").as("add_version"),
          explode(col("buckets")).as("bucket"))
        .join(ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents")), Seq("bucket"))
        .select(col("path"), col("add_version"), col("o_orderkey"), col("cents"),
          (row_number().over(w) - 1).cast("long").as("pos"))
      val del = dvs.select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      rws.join(broadcast(del), Seq("path", "pos"), "left")
        .groupBy("path", "add_version")
        .agg(count(lit(1)).as("n_physical"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_live"),
          sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents_live"))
        .crossJoin(broadcast(sch))
        .select(col("path"),
          when(col("add_version") > 4, lit("tail")).otherwise(lit("checkpoint")).as("src"),
          col("add_version").cast("int").as("add_version"),
          (col("add_version") < col("schema_version")).cast("int").as("needs_backfill"),
          col("n_physical"), col("n_deleted"), col("n_live"), col("cents_live"),
          col("schema_str").as("active_schema"))
        .orderBy("path")
    })

  /** OPTIMIZE × deletion vectors — the round-10 verdict's latent
    * wrong-answer: compacting a masked file on raw stats RESURRECTS its
    * deleted rows in every later snapshot. Fixture: v4 masks part-4
    * (pos % 5 = 2) inside the compacted pair (4,5) — a MIXED pair, so
    * the rewrite folds one masked and one clean input — plus
    * compact-0-1 (pos % 11 = 0), which OPTIMIZE must leave alone
    * (multi-bucket). Bucket 5 is the highest the sf0.001 fixture
    * guarantees (6 buckets), so no mask targets a higher part — the
    * dvAction liveness guard would correctly refuse it.
    * v5 runs `optimizeActions` WITH the effective masks and net-of-mask
    * stats (computed from data — the rewrite reads its inputs anyway),
    * committed as real JSON actions. The gate pins all four contracts:
    * (pre) the masked read before OPTIMIZE, (post) the masked read
    * after — where compacted files physically lack their inputs' masked
    * rows and compact-0-1's surviving DV still applies — (check) their
    * equality flag (no resurrection), (opt) each compacted add's
    * committed stats equal its actual physical row count/cents (net
    * stats flowed into the log), and (dvpost) the only effective mask
    * left is compact-0-1's (the compacted inputs' masks retired with
    * their files). The oracle replays policy, masks, net stats, commit
    * and both reads from arithmetic CTEs. */
  val dl14OptimizeDv = Q("dl14_optimize_dv",
    Some(s"""WITH ${DeltaLog.actionsSql},
            $positionedRowsCtes,
            dv AS (
              SELECT path, pos FROM rws4 WHERE path = 'part-4' AND pos % 5 = 2
              UNION ALL SELECT path, pos FROM rws4 WHERE path = 'compact-0-1' AND pos % 11 = 0),
            net AS (
              SELECT r.path, CAST(count(*) AS BIGINT) AS n_rows, min(r.o_orderkey) AS min_key,
                max(r.o_orderkey) AS max_key, CAST(sum(r.cents) AS BIGINT) AS cents
              FROM rws4 r LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos
              WHERE d.pos IS NULL AND r.path IN ('part-4', 'compact-0-1')
              GROUP BY r.path),
            eff AS (
              SELECT l.path, l.b_lo, l.b_hi, coalesce(n.n_rows, l.n_rows) AS n_rows,
                coalesce(n.min_key, l.min_key) AS min_key, coalesce(n.max_key, l.max_key) AS max_key,
                coalesce(n.cents, l.cents) AS cents
              FROM live4 l LEFT JOIN net n ON n.path = l.path),
            parts AS (SELECT * FROM eff WHERE path LIKE 'part-%' AND b_lo = b_hi),
            bins AS (
              SELECT b_lo // 2 AS bin, count(*) AS nf, min(b_lo) AS lo, max(b_lo) AS hi,
                CAST(sum(n_rows) AS BIGINT) AS n_rows, min(min_key) AS min_key,
                max(max_key) AS max_key, CAST(sum(cents) AS BIGINT) AS cents
              FROM parts GROUP BY 1),
            fullbins AS (SELECT * FROM bins WHERE nf = 2),
            optadd AS (
              SELECT 'opt-' || lo || '-' || hi AS path, lo AS b_lo, hi AS b_hi,
                n_rows, cents FROM fullbins),
            optrem AS (SELECT p.path FROM parts p JOIN fullbins b ON p.b_lo // 2 = b.bin),
            live5 AS (
              SELECT path, b_lo, b_hi FROM live4 WHERE path NOT IN (SELECT path FROM optrem)
              UNION ALL SELECT path, b_lo, b_hi FROM optadd),
            maskkeys AS (
              SELECT r.o_orderkey FROM rws4 r JOIN dv d ON d.path = r.path AND d.pos = r.pos
              WHERE r.path IN (SELECT path FROM optrem)),
            rws5 AS (
              SELECT f.path, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live5 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dv5 AS (SELECT path, pos FROM rws5 WHERE path = 'compact-0-1' AND pos % 11 = 0),
            prerows AS (
              SELECT r.o_orderkey, r.cents FROM rws4 r
              LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos WHERE d.pos IS NULL),
            postrows AS (
              SELECT r.path, r.o_orderkey, r.cents FROM rws5 r
              LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos
              WHERE d.pos IS NULL AND r.o_orderkey NOT IN (SELECT o_orderkey FROM maskkeys)),
            sigpre AS (
              SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents,
                CAST(sum(o_orderkey) AS BIGINT) AS keysum FROM prerows),
            sigpost AS (
              SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents,
                CAST(sum(o_orderkey) AS BIGINT) AS keysum FROM postrows),
            optcheck AS (
              SELECT a.path, a.n_rows, a.cents,
                CASE WHEN a.n_rows = p.n AND a.cents = p.c THEN 1 ELSE 0 END AS ok
              FROM optadd a JOIN (
                SELECT path, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c
                FROM postrows GROUP BY path) p ON p.path = a.path)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'pre' AS section, 'rowset' AS item, n AS n_rows, cents, keysum AS flag FROM sigpre
              UNION ALL SELECT 'post', 'rowset', n, cents, keysum FROM sigpost
              UNION ALL SELECT 'check', 'no_resurrection', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(CASE WHEN (SELECT n FROM sigpre) = (SELECT n FROM sigpost)
                      AND (SELECT cents FROM sigpre) = (SELECT cents FROM sigpost)
                      AND (SELECT keysum FROM sigpre) = (SELECT keysum FROM sigpost)
                     THEN 1 ELSE 0 END AS BIGINT)
              UNION ALL SELECT 'opt', path, n_rows, cents, CAST(ok AS BIGINT) FROM optcheck
              UNION ALL SELECT 'dvpost', path, CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT) FROM dv5 GROUP BY path
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val liveBase = DeltaLog.snapshot(logBase).localCheckpoint()
      val dvLines = DeltaLog.toLines(
        DeltaLog.dvAction(liveBase, "part-4", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 5 === 2))
          .unionByName(DeltaLog.dvAction(liveBase, "compact-0-1", 4, 2,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 11 === 0))))
      val log4 = logBase.unionByName(dvLines).localCheckpoint()
      val acts4 = DeltaLog.actions(log4).localCheckpoint()
      val live4 = DeltaLog.replay(acts4).localCheckpoint()
      val dvs4 = DeltaLog.deletionVectors(acts4).localCheckpoint()
      // feeds BOTH position passes (pre and post live sets)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      // rws4 feeds net stats, masked keys and the pre signature
      val rws4 = positionedRows(live4, obRows).localCheckpoint()
      val del4 = dvs4.select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      // net AND masked cents from the SAME pass — optimizeActions
      // reconciles net + masked against the committed original (the
      // round-12 cents guard)
      val netStats = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .join(broadcast(dvs4.select("path")), Seq("path"))
        .groupBy("path").agg(
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_rows"),
          min(when(col("hit").isNull, col("o_orderkey"))).as("min_key"),
          max(when(col("hit").isNull, col("o_orderkey"))).as("max_key"),
          sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents"),
          sum(when(col("hit").isNotNull, col("cents")).otherwise(0L)).as("masked_cents"))
      // the DV-aware OPTIMIZE, committed as real v5 actions
      val opt = DeltaLog.optimizeActions(live4, 5, Some(dvs4), Some(netStats)).localCheckpoint()
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(opt))).localCheckpoint()
      // live5 has a single consumer over checkpointed acts5 — no
      // re-execution to guard against; dvs5 feeds del5 AND dvPost
      val live5 = DeltaLog.replay(acts5)
      val dvs5 = DeltaLog.deletionVectors(acts5).localCheckpoint()
      // post-OPTIMIZE physical read: surviving DVs apply positionally; a
      // compacted file physically lacks its inputs' masked rows
      val removed = opt.filter(col("op") === "remove").select("path")
      val maskKeys = rws4.join(broadcast(del4.drop("hit")), Seq("path", "pos"))
        .join(broadcast(removed), Seq("path")).select("o_orderkey")
      val del5 = dvs5.select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      val postrows = positionedRows(live5, obRows)
        .join(broadcast(del5), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .join(broadcast(maskKeys), Seq("o_orderkey"), "left_anti")
        .localCheckpoint() // feeds the post signature AND the per-file opt check
      val prerows = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("hit").isNull)
      // both consumers (output row + equality flag) re-aggregate over
      // ALREADY-checkpointed row frames — cheap, no materialization job
      val sigPre = sig(prerows, "pre", "rowset")
      val sigPost = sig(postrows, "post", "rowset")
      val equal = equalCheck(sigPre, sigPost, "no_resurrection")
      val postPerFile = postrows.groupBy("path")
        .agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
      val optCheck = opt.filter(col("op") === "add")
        .select(col("path"), col("n_rows"), col("cents"))
        .join(postPerFile, Seq("path"))
        .select(lit("opt").as("section"), col("path").as("item"), col("n_rows"), col("cents"),
          when(col("n_rows") === col("pn") && col("cents") === col("pc"), 1L)
            .otherwise(0L).as("flag"))
      val dvPost = dvs5.select(lit("dvpost").as("section"), col("path").as("item"),
        size(col("dv")).cast("long").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag"))
      sigPre.unionByName(sigPost).unionByName(equal).unionByName(optCheck).unionByName(dvPost)
        .orderBy("section", "item")
    })

  /** Vacuum × DV lifetimes — dl7's removability rule extended to dv
    * ACTIONS (identified by their (path, version, ordinal) coordinates):
    * a mask is KEPT iff it is the EFFECTIVE mask of a live file instance
    * in at least one retained snapshot; otherwise it is dead log weight
    * and retires with the files it can no longer describe. The fixture
    * plants all three death modes plus a survivor, with retention
    * R = 5 (retained = latest only): (a) part-2's v1 mask dies with its
    * vacuumed file; (b) part-3's v4 mask dies by PATH REUSE — part-3 is
    * removed and re-added at v5, so the path is live but the mask's
    * INSTANCE is not (the lexicographic scoping rule decides, shared
    * with every read path); (c) compact-0-1's v4 mask dies superseded by
    * the v5 replacement; (d) part-5's v4 mask survives (effective at
    * v5). File rows keep dl7's path-keyed rule. Log-sized throughout —
    * masks and files retire from the LOG's coordinates, no data read. */
  val dl15VacuumDv = Q("dl15_vacuum_dv",
    Some(s"""WITH ${DeltaLog.actionsSql},
            extra AS (
              SELECT 5 AS version, 0 AS ordinal, 'remove' AS op, 'part-3' AS path,
                CAST(NULL AS BIGINT) AS b_lo, CAST(NULL AS BIGINT) AS b_hi,
                CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS min_key,
                CAST(NULL AS BIGINT) AS max_key, CAST(NULL AS BIGINT) AS cents
              UNION ALL
              SELECT 5, 1, 'add', 'part-3', 3, 3, n_rows, min_key, max_key, cents
              FROM bks WHERE bucket = 3),
            acts2 AS (SELECT * FROM acts UNION ALL SELECT * FROM extra),
            dvacts(path, version, ordinal) AS (VALUES
              ('part-2', 1, 3), ('part-5', 4, 0), ('part-3', 4, 1),
              ('compact-0-1', 4, 2), ('compact-0-1', 5, 2)),
            vers AS (SELECT DISTINCT version AS v FROM acts2 WHERE version >= 5),
            livev AS (
              SELECT v, path, version AS add_version, ordinal AS add_ordinal FROM (
                SELECT r.v, a.*, row_number() OVER (PARTITION BY r.v, a.path
                  ORDER BY a.version DESC, a.ordinal DESC) AS rn
                FROM vers r JOIN acts2 a ON a.version <= r.v) t
              WHERE rn = 1 AND op = 'add'),
            effdv AS (
              SELECT DISTINCT d.path, d.version, d.ordinal FROM (
                SELECT r.v, dd.*, row_number() OVER (PARTITION BY r.v, dd.path
                  ORDER BY dd.version DESC, dd.ordinal DESC) AS rn
                FROM vers r JOIN dvacts dd ON dd.version <= r.v) d
              JOIN livev l ON l.v = d.v AND l.path = d.path
              WHERE d.rn = 1 AND (d.version > l.add_version
                OR (d.version = l.add_version AND d.ordinal >= l.add_ordinal))),
            ever AS (SELECT DISTINCT path, n_rows FROM acts2 WHERE op = 'add'),
            retained AS (SELECT DISTINCT path FROM livev)
            SELECT kind, item, status, freed_rows FROM (
              SELECT 'file' AS kind, e.path AS item,
                CASE WHEN r.path IS NULL THEN 'vacuum' ELSE 'keep' END AS status,
                CASE WHEN r.path IS NULL THEN e.n_rows ELSE CAST(0 AS BIGINT) END AS freed_rows
              FROM ever e LEFT JOIN retained r ON r.path = e.path
              UNION ALL
              SELECT 'dv', d.path || '@' || d.version || '.' || d.ordinal,
                CASE WHEN k.path IS NULL THEN 'vacuum' ELSE 'keep' END, CAST(0 AS BIGINT)
              FROM dvacts d LEFT JOIN effdv k
                ON k.path = d.path AND k.version = d.version AND k.ordinal = d.ordinal
            ) t ORDER BY kind, item"""),
    (s, d) => {
      val ord = orders(s, d)
      // feeds both snapshots AND the final log union
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val liveV0 = DeltaLog.snapshot(logBase, Some(0)).localCheckpoint()
      val live3 = DeltaLog.snapshot(logBase).localCheckpoint()
      val remove3 = DeltaLog.removeAction(s, 5, 0, "part-3")
      val readd3 = DeltaLog.addAction(DeltaLog.buckets(ord).filter(col("bucket") === 3),
        5, 1, "part-3", array(lit(3L)))
      val log = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(liveV0, "part-2", 1, 3, sequence(lit(0L), lit(1L)))
          .unionByName(DeltaLog.dvAction(live3, "part-5", 4, 0, sequence(lit(0L), lit(4L))))
          .unionByName(DeltaLog.dvAction(live3, "part-3", 4, 1, sequence(lit(0L), lit(2L))))
          .unionByName(DeltaLog.dvAction(live3, "compact-0-1", 4, 2, sequence(lit(0L), lit(9L))))
          .unionByName(remove3).unionByName(readd3)
          .unionByName(DeltaLog.dvAction(live3, "compact-0-1", 5, 2, sequence(lit(0L), lit(3L))))))
      val acts = DeltaLog.actions(log).localCheckpoint()
      // retained window R..latest DERIVED FROM THE LOG (a future log
      // version cannot silently widen the vacuum set), read through the
      // canonical per-version grids in one pass each
      val retainedVs = acts.filter(col("version") >= 5)
        .select(col("version").as("v")).distinct()
      val retainedLive = DeltaLog.replayGrid(acts, retainedVs)
        .select(col("path")).distinct()
        .withColumnRenamed("path", "rp").localCheckpoint()
      val ever = acts.filter(col("op") === "add").select("path", "n_rows").distinct()
      val fileRows = ever.join(broadcast(retainedLive), col("path") === col("rp"), "left")
        .select(lit("file").as("kind"), col("path").as("item"),
          when(col("rp").isNull, "vacuum").otherwise("keep").as("status"),
          when(col("rp").isNull, col("n_rows")).otherwise(lit(0L)).as("freed_rows"))
      val keepIds = DeltaLog.deletionVectorGrid(acts, retainedVs)
        .select("path", "version", "ordinal").distinct().withColumn("eff", lit(1))
      val dvRows = acts.filter(col("op") === "dv").select("path", "version", "ordinal")
        .join(broadcast(keepIds), Seq("path", "version", "ordinal"), "left")
        .select(lit("dv").as("kind"),
          concat(col("path"), lit("@"), col("version").cast("string"),
            lit("."), col("ordinal").cast("string")).as("item"),
          when(col("eff").isNull, "vacuum").otherwise("keep").as("status"),
          lit(0L).as("freed_rows"))
      fileRows.unionByName(dvRows).orderBy("kind", "item")
    })

  /** OPTIMIZE × schema evolution — the third composition pin of the
    * round-11 theme (after checkpoint×state and OPTIMIZE×DV): a file
    * REWRITE materializes the active schema, so compaction changes the
    * backfill ledger. Fixture: dl11's meta history (v0 base schema, v3
    * widened) + a v4 OPTIMIZE committed through the log. The gate emits
    * the per-file ledger at v3 AND v4: at v3 every pre-widening file
    * needs null-backfill; at v4 the compacted `opt-*` files (born at
    * v4 > the widening) need NONE — the rewrite wrote the new column —
    * while surviving old files still do. A reader that keyed backfill on
    * path instead of instance birth, or a checkpoint that rewrote add
    * versions, diverges here. Log-sized throughout (ONE replayGrid pass
    * for both versions; the meta race is two rows). */
  val dl16OptimizeSchema = Q("dl16_optimize_schema",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            parts AS (SELECT * FROM live3 WHERE path LIKE 'part-%' AND b_lo = b_hi),
            bins AS (
              SELECT b_lo // 2 AS bin, count(*) AS nf, min(b_lo) AS lo, max(b_lo) AS hi
              FROM parts GROUP BY 1),
            fullbins AS (SELECT * FROM bins WHERE nf = 2),
            acts2 AS (
              SELECT version, ordinal, op, path FROM acts
              UNION ALL
              SELECT 4, CAST(p.b_lo AS INT), 'remove', p.path
              FROM parts p JOIN fullbins b ON p.b_lo // 2 = b.bin
              UNION ALL
              SELECT 4, CAST(1000 + lo AS INT), 'add', 'opt-' || lo || '-' || hi
              FROM fullbins),
            meta(version, ordinal, schema_str) AS (
              VALUES (0, -1, 'k BIGINT, cents BIGINT'),
                     (3, -1, 'k BIGINT, cents BIGINT, region VARCHAR')),
            vers AS (SELECT unnest([3, 4]) AS v),
            livev AS (
              SELECT v, path, version AS add_version FROM (
                SELECT vers.v, a.*, row_number() OVER (PARTITION BY vers.v, a.path
                  ORDER BY a.version DESC, a.ordinal DESC) AS rn
                FROM vers JOIN acts2 a ON a.version <= vers.v) t
              WHERE rn = 1 AND op = 'add'),
            activem AS (
              SELECT v, schema_str, mv FROM (
                SELECT vers.v, m.schema_str, m.version AS mv,
                  row_number() OVER (PARTITION BY vers.v
                    ORDER BY m.version DESC, m.ordinal DESC) AS rn
                FROM vers JOIN meta m ON m.version <= vers.v) t
              WHERE rn = 1)
            SELECT l.v AS version, l.path, CAST(l.add_version AS INT) AS add_version,
              CAST(a.mv AS INT) AS schema_version,
              CASE WHEN l.add_version < a.mv THEN 1 ELSE 0 END AS needs_backfill
            FROM livev l JOIN activem a ON a.v = l.v
            ORDER BY version, path"""),
    (s, d) => {
      val metaLines = DeltaLog.toLines(
        DeltaLog.metaAction(s, 0, -1, "k BIGINT, cents BIGINT")
          .unionByName(DeltaLog.metaAction(s, 3, -1, "k BIGINT, cents BIGINT, region VARCHAR")))
      val log = DeltaLog.logLines(orders(s, d)).unionByName(metaLines).localCheckpoint()
      val acts = DeltaLog.actions(log).localCheckpoint()
      val live3 = DeltaLog.replay(acts, Some(3)).localCheckpoint()
      // the OPTIMIZE commits through the log like dl9 (toLines -> strict parse)
      val opt = DeltaLog.optimizeActions(live3, 4)
      val acts4 = acts.unionByName(DeltaLog.actions(DeltaLog.toLines(opt))).localCheckpoint()
      val versions = s.range(3, 5).select(col("id").cast("int").as("v"))
      val livev = DeltaLog.replayGrid(acts4, versions)
        .select(col("v"), col("path"), col("version").as("add_version"))
      val activem = Seq(3, 4).map(v => DeltaLog.activeSchema(acts4, Some(v))
          .select(lit(v).as("v"), col("schema_version").as("mv")))
        .reduce(_ unionByName _)
      livev.join(broadcast(activem), Seq("v"))
        .select(col("v").as("version"), col("path"),
          col("add_version").cast("int").as("add_version"),
          col("mv").cast("int").as("schema_version"),
          when(col("add_version") < col("mv"), 1).otherwise(0).as("needs_backfill"))
        .orderBy("version", "path")
    })

  /** Clustering-quality metric (the number Snowflake publishes as
    * SYSTEM$CLUSTERING_INFORMATION's "depth", and what an operator reads
    * before deciding to run dl9's OPTIMIZE or a k4 re-sort): for every
    * LIVE file, how many live files' [min_key, max_key] intervals
    * overlap it (self included — perfectly clustered = depth 1
    * everywhere). Overlapping files are the ones a point lookup may
    * have to open despite stats pruning, so depth is the direct cost
    * model of clustering decay. The fixture live set carries a REAL
    * overlap (append-0 re-adds bucket 3's key range over part-3), so
    * depth 2 genuinely fires. Log-sized: the join runs on the file
    * LIST; at millions of files it is the r1 interval-join shape, never
    * touching data. */
  val k6Clustering = Q("k6_clustering_depth",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            d AS (
              SELECT a.path, a.min_key, a.max_key, CAST(count(*) AS BIGINT) AS depth
              FROM live a JOIN live b
                ON a.min_key <= b.max_key AND b.min_key <= a.max_key
              GROUP BY 1, 2, 3)
            SELECT path, min_key, max_key, depth FROM d ORDER BY path"""),
    (s, d) => {
      val live = DeltaLog.snapshot(DeltaLog.logLines(orders(s, d)))
        .select(col("path"), col("min_key"), col("max_key")).localCheckpoint()
      val b = live.select(col("min_key").as("b_min"), col("max_key").as("b_max"))
      live.join(broadcast(b),
          col("min_key") <= col("b_max") && col("b_min") <= col("max_key"))
        .groupBy("path", "min_key", "max_key")
        .agg(count(lit(1)).as("depth"))
        .orderBy("path")
    })

  /** SCD2 dimension build: each customer's order-priority history becomes
    * type-2 dimension rows — consecutive same-value changes compressed,
    * valid_from/valid_to from the change timestamps (9999-12-31 sentinel
    * on the open row), is_current on the last. Two windows over the
    * (customer, date, orderkey) order — one shuffle, scales per key. */
  val scd1Build = {
    val openEnd = 253402214400000000L // epoch µs of 9999-12-31T00:00:00Z
    Q("scd1_scd2_build",
      Some(s"""WITH ev AS (
                SELECT o_custkey, o_orderpriority AS priority,
                  epoch_us(o_orderdate) AS ts_us, o_orderkey,
                  lag(o_orderpriority) OVER w AS prev
                FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
              runs AS (
                SELECT o_custkey, priority, ts_us, o_orderkey FROM ev
                WHERE prev IS NULL OR priority <> prev),
              dim AS (
                SELECT o_custkey, priority, ts_us AS valid_from_us,
                  lead(ts_us) OVER w2 AS next_us
                FROM runs WINDOW w2 AS (PARTITION BY o_custkey ORDER BY ts_us, o_orderkey))
              SELECT o_custkey, priority, valid_from_us,
                coalesce(next_us, $openEnd) AS valid_to_us,
                CASE WHEN next_us IS NULL THEN 1 ELSE 0 END AS is_current
              FROM dim
              ORDER BY o_custkey, valid_from_us, valid_to_us, priority"""),
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        val runs = orders(s, d)
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
          .filter(col("prev").isNull || col("o_orderpriority") =!= col("prev"))
          .select(col("o_custkey"), col("o_orderpriority").as("priority"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"), col("o_orderkey"))
        val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("ts_us"), col("o_orderkey"))
        runs.withColumn("next_us", lead(col("ts_us"), 1).over(w2))
          .select(col("o_custkey"), col("priority"), col("ts_us").as("valid_from_us"),
            coalesce(col("next_us"), lit(openEnd)).as("valid_to_us"),
            when(col("next_us").isNull, 1).otherwise(0).as("is_current"))
          .orderBy("o_custkey", "valid_from_us", "valid_to_us", "priority")
      })
  }

  /** CDC apply: a change batch (upserts + deletes keyed by sequence
    * number, derived from orders) folds into the customer snapshot —
    * per key the max-sequence change wins; 'D' drops the row, 'U'
    * replaces the balance, untouched keys pass through. One window over
    * the change batch + one outer join against the snapshot. */
  val cdc1Apply = Q("cdc1_apply_changes",
    Some("""WITH ch AS (
              SELECT o_custkey AS k, o_orderkey AS seq,
                CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
                CAST(round(o_totalprice * 100) AS BIGINT) AS new_cents
              FROM orders WHERE o_custkey % 5 <> 2),
            last AS (
              SELECT k, seq, op, new_cents FROM (
                SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch)
              WHERE rn = 1)
            SELECT c.c_custkey,
              CAST(CASE WHEN l.op = 'U' THEN l.new_cents
                   ELSE CAST(round(c.c_acctbal * 100) AS BIGINT) END AS BIGINT) AS final_cents,
              coalesce(l.seq, -1) AS last_seq
            FROM customer c LEFT JOIN last l ON l.k = c.c_custkey
            WHERE l.op IS NULL OR l.op <> 'D'
            ORDER BY c_custkey"""),
    (s, d) => {
      val ch = orders(s, d).filter(col("o_custkey") % 5 =!= 2)
        .select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, "D").otherwise("U").as("op"),
        round(col("o_totalprice") * 100).cast("long").as("new_cents"))
      val w = Window.partitionBy(col("k")).orderBy(col("seq").desc)
      val last = ch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("k", "seq", "op", "new_cents")
      customer(s, d).join(last, col("c_custkey") === col("k"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("c_custkey"),
          when(col("op") === "U", col("new_cents"))
            .otherwise(round(col("c_acctbal") * 100).cast("long")).as("final_cents"),
          coalesce(col("seq"), lit(-1L)).as("last_seq"))
        .orderBy("c_custkey")
    })

  /** Incremental view maintenance: the per-nation balance view folds the
    * CDC feed as PER-EVENT DELTAS (U: new−prev, D: −prev) — the
    * computation a streaming view maintainer runs — and the emitted
    * view1 is view0 + Σdeltas. The ORACLE computes view1 directly from
    * each key's FINAL effective state, so any error in the incremental
    * delta algebra (a wrong prev, a miscounted delete) hash-mismatches.
    * One join (changes⋈base values) + one lag window + one aggregate. */
  val ivm1View = Q("ivm1_incremental_view",
    Some("""WITH base AS (
              SELECT c_custkey AS k, c_nationkey AS nation,
                CAST(round(c_acctbal * 100) AS BIGINT) AS b
              FROM customer),
            ch AS (
              SELECT o_custkey AS k, o_orderkey AS seq,
                CASE WHEN o_orderkey % 7 = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS v
              FROM orders),
            finals AS (
              SELECT k, v FROM (
                SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch)
              WHERE rn = 1),
            view0 AS (
              SELECT nation, CAST(sum(b) AS BIGINT) AS view0_cents FROM base GROUP BY nation),
            view1 AS (
              SELECT b.nation, CAST(sum(coalesce(f.v, b.b)) AS BIGINT) AS view1_cents
              FROM base b LEFT JOIN finals f ON f.k = b.k GROUP BY b.nation)
            SELECT v0.nation, v0.view0_cents, v1.view1_cents
            FROM view0 v0 JOIN view1 v1 ON v1.nation = v0.nation
            ORDER BY v0.nation"""),
    (s, d) => {
      val base = customer(s, d).select(col("c_custkey").as("k"),
        col("c_nationkey").as("nation"),
        round(col("c_acctbal") * 100).cast("long").as("b"))
      val ch = orders(s, d).select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, lit(0L))
          .otherwise(round(col("o_totalprice") * 100).cast("long")).as("v"))
      // the IVM path: every change contributes (v - previous effective value)
      val w = Window.partitionBy(col("k")).orderBy(col("seq"))
      val deltas = ch.join(base.select(col("k"), col("nation"), col("b")), "k")
        .withColumn("prev", coalesce(lag(col("v"), 1).over(w), col("b")))
        .withColumn("delta", col("v") - col("prev"))
        .groupBy("nation").agg(sum("delta").as("delta_cents"))
      val view0 = base.groupBy("nation").agg(sum("b").as("view0_cents"))
      view0.join(deltas, Seq("nation"), "left")
        .select(col("nation"), col("view0_cents"),
          (col("view0_cents") + coalesce(col("delta_cents"), lit(0L))).as("view1_cents"))
        .orderBy("nation")
    })

  /** Incremental maintenance of a JOIN view — ivm1's aggregate rule
    * extended to the bilinear case (the classic delta rule every IVM
    * engine implements): for V = A ⋈ B, an insert wave (ΔA, ΔB) changes
    * the view by EXACTLY ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — three joins that
    * never rescan A₀⋈B₀, which is the whole point at 100 TB (the base
    * join is the expensive thing; the deltas are small and ΔA
    * broadcasts). The ENGINE computes view1 = view0 + the three delta
    * terms; the ORACLE computes view1 by FULL RECOMPUTE over (A₀∪ΔA) ⋈
    * (B₀∪ΔB) — the hash equality IS the delta-rule proof. The three
    * terms are also pinned individually (the oracle re-derives each), so
    * a sign error in one term can't hide behind a lucky cancellation. */
  val ivm2JoinView = Q("ivm2_join_view",
    Some("""WITH cust AS (
              SELECT c_custkey AS k, c_nationkey AS nation FROM customer),
            ords AS (
              SELECT o_custkey AS k, o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            a0 AS (SELECT * FROM cust WHERE k % 10 <> 0),
            da AS (SELECT * FROM cust WHERE k % 10 = 0),
            b0 AS (SELECT * FROM ords WHERE o_orderkey % 10 < 8),
            db AS (SELECT * FROM ords WHERE o_orderkey % 10 >= 8),
            v0 AS (
              SELECT nation, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM a0 JOIN b0 USING (k) GROUP BY nation),
            tab AS (
              SELECT nation, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM da JOIN b0 USING (k) GROUP BY nation),
            tba AS (
              SELECT nation, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM a0 JOIN db USING (k) GROUP BY nation),
            tdd AS (
              SELECT nation, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM da JOIN db USING (k) GROUP BY nation),
            v1 AS (
              SELECT nation, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM cust JOIN ords USING (k) GROUP BY nation)
            SELECT v1.nation,
              coalesce(v0.n, 0) AS view0_pairs, coalesce(v0.c, 0) AS view0_cents,
              coalesce(tab.n, 0) AS d_ab_pairs, coalesce(tab.c, 0) AS d_ab_cents,
              coalesce(tba.n, 0) AS d_ba_pairs, coalesce(tba.c, 0) AS d_ba_cents,
              coalesce(tdd.n, 0) AS d_dd_pairs, coalesce(tdd.c, 0) AS d_dd_cents,
              v1.n AS view1_pairs, v1.c AS view1_cents
            FROM v1 LEFT JOIN v0 ON v0.nation = v1.nation
            LEFT JOIN tab ON tab.nation = v1.nation
            LEFT JOIN tba ON tba.nation = v1.nation
            LEFT JOIN tdd ON tdd.nation = v1.nation
            ORDER BY v1.nation"""),
    (s, d) => {
      val cust = customer(s, d).select(col("c_custkey").as("k"),
        col("c_nationkey").as("nation"))
      val ords = orders(s, d).select(col("o_custkey").as("k"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val a0 = cust.filter(col("k") % 10 =!= 0)
      val da = cust.filter(col("k") % 10 === 0)
      val b0 = ords.filter(col("o_orderkey") % 10 < 8)
      val db = ords.filter(col("o_orderkey") % 10 >= 8).localCheckpoint() // 2 consumers
      def term(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
               broadcastLeft: Boolean) = {
        val j = if (broadcastLeft) b.join(broadcast(a), Seq("k")) else a.join(b, Seq("k"))
        j.groupBy("nation").agg(count(lit(1)).as("n"), sum("cents").as("c"))
      }
      val view0 = term(a0, b0, broadcastLeft = false)
        .select(col("nation"), col("n").as("v0n"), col("c").as("v0c"))
      // the three delta terms: ΔA is small — broadcast it; A₀ ⋈ ΔB
      // shuffles on k like the base join but over the DELTA only
      val tAB = term(da, b0, broadcastLeft = true)
        .select(col("nation"), col("n").as("abn"), col("c").as("abc"))
      val tBA = term(a0, db, broadcastLeft = false)
        .select(col("nation"), col("n").as("ban"), col("c").as("bac"))
      val tDD = term(da, db, broadcastLeft = true)
        .select(col("nation"), col("n").as("ddn"), col("c").as("ddc"))
      val z = lit(0L)
      view0.join(tAB, Seq("nation"), "full").join(tBA, Seq("nation"), "full")
        .join(tDD, Seq("nation"), "full")
        .select(col("nation"),
          coalesce(col("v0n"), z).as("view0_pairs"), coalesce(col("v0c"), z).as("view0_cents"),
          coalesce(col("abn"), z).as("d_ab_pairs"), coalesce(col("abc"), z).as("d_ab_cents"),
          coalesce(col("ban"), z).as("d_ba_pairs"), coalesce(col("bac"), z).as("d_ba_cents"),
          coalesce(col("ddn"), z).as("d_dd_pairs"), coalesce(col("ddc"), z).as("d_dd_cents"),
          // the IVM sum — the oracle's view1 column is a FULL recompute
          (coalesce(col("v0n"), z) + coalesce(col("abn"), z) + coalesce(col("ban"), z) +
            coalesce(col("ddn"), z)).as("view1_pairs"),
          (coalesce(col("v0c"), z) + coalesce(col("abc"), z) + coalesce(col("bac"), z) +
            coalesce(col("ddc"), z)).as("view1_cents"))
        .filter(col("view1_pairs") > 0)
        .orderBy("nation")
    })

  /** Predicate-driven DELETE THROUGH the log — the round-11 verdict's
    * lead ask: every earlier dv was hand-positioned; here the ENGINE
    * derives the per-file masks from `DELETE WHERE (k % 5 = 2 OR
    * k/W = 3)` in one data pass (`DeltaLog.deleteActions`) and commits
    * them as a real v5 transaction. The fixture plants all three
    * outcomes: part-3 and append-0 (bucket 3) are FULLY covered and
    * become removes; every other live file gets a partial dv; part-5
    * already carries a v4 mask (pos % 7 = 3), so its v5 dv must be the
    * UNION (a dv replaces its predecessor in the mask race — committing
    * only the delta would resurrect the v4 deletes). The gate pins the
    * transaction rows, the per-file post-delete read, and the
    * ground-truth check: the masked read after commit ≡ applying the raw
    * predicate to the pre-delete LIVE rows (both signatures + equality
    * flag). The oracle replays mask derivation, full-cover policy,
    * commit and both reads from arithmetic CTEs. */
  val dl17DeleteWhere = Q("dl17_delete_where",
    Some(s"""WITH ${DeltaLog.actionsSql},
            $positionedRowsCtes,
            predv AS (SELECT path, pos FROM rws4 WHERE path = 'part-5' AND pos % 7 = 3),
            newm AS (SELECT path, pos FROM rws4
              WHERE (o_orderkey % 5 = 2) OR (o_orderkey // ${DeltaLog.W} = 3)),
            touched AS (SELECT DISTINCT n.path FROM newm n
              WHERE NOT EXISTS (SELECT 1 FROM predv p WHERE p.path = n.path AND p.pos = n.pos)),
            merged AS (
              SELECT u.path, u.pos FROM (
                SELECT path, pos FROM newm UNION SELECT path, pos FROM predv) u
              WHERE u.path IN (SELECT path FROM touched)),
            txn AS (
              SELECT l.path,
                CASE WHEN CAST(count(*) AS BIGINT) = l.n_rows THEN 'remove' ELSE 'dv' END AS op,
                CAST(count(*) AS BIGINT) AS n_masked
              FROM merged m JOIN live4 l ON l.path = m.path GROUP BY l.path, l.n_rows),
            live5 AS (
              SELECT * FROM live4 WHERE path NOT IN (SELECT path FROM txn WHERE op = 'remove')),
            dv5 AS (SELECT m.path, m.pos FROM merged m JOIN txn t ON t.path = m.path AND t.op = 'dv'),
            post AS (
              SELECT r.path,
                CAST(sum(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
                CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
                CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents_live
              FROM rws4 r JOIN live5 l ON l.path = r.path
              LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos
              GROUP BY r.path),
            maskedrows AS (
              SELECT r.o_orderkey, r.cents FROM rws4 r JOIN live5 l ON l.path = r.path
              LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos WHERE d.pos IS NULL),
            predrows AS (
              SELECT r.o_orderkey, r.cents FROM rws4 r
              LEFT JOIN predv p ON p.path = r.path AND p.pos = r.pos
              WHERE p.pos IS NULL
                AND NOT ((r.o_orderkey % 5 = 2) OR (r.o_orderkey // ${DeltaLog.W} = 3))),
            ${sigCte("sigm", "maskedrows")},
            ${sigCte("sigp", "predrows")}
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, op || ':' || path AS item,
                CASE WHEN op = 'dv' THEN n_masked ELSE CAST(0 AS BIGINT) END AS n_rows,
                CAST(0 AS BIGINT) AS cents,
                CAST(CASE WHEN op = 'remove' THEN 1 ELSE 0 END AS BIGINT) AS flag FROM txn
              UNION ALL SELECT 'post', path, n_live, cents_live, n_deleted FROM post
              ${checkRowsSql("sigm", "masked_read", "sigp", "predicate_read")}
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      // live0/dvs4/live4 recompute from CHECKPOINTED inputs in their
      // consumers' own jobs — races over ~70 log rows, cheaper than a
      // scheduling-floor materialization job each (the dl17/dl18 bench
      // finding: job count, not work, dominates these log stories)
      val live0 = DeltaLog.snapshot(logBase)
      val log4 = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))))
      val acts4 = DeltaLog.actions(log4).localCheckpoint()
      val live4 = DeltaLog.replay(acts4)
      val dvs4 = DeltaLog.deletionVectors(acts4)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      // rws4 feeds the delete derivation, the post read AND the
      // predicate-read signature
      val rws4 = positionedRows(live4, obRows).localCheckpoint()
      // THE operator under test: masks/removes derived from the predicate
      val pred = (col("o_orderkey") % 5 === 2) ||
        (floor(col("o_orderkey") / DeltaLog.W) === 3)
      val del = DeltaLog.deleteActions(live4, dvs4, rws4, pred, 5).localCheckpoint()
      // materialized: the dv race alone traverses this parse three times
      // (mask race + the instance-scoping file race + the live read)
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(del))).localCheckpoint()
      val live5 = DeltaLog.replay(acts5)
      val del5 = DeltaLog.deletionVectors(acts5)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      // ONE per-path aggregate (with keysum) feeds the post rows AND the
      // masked-read signature — the data pass happens once, the signature
      // then folds 60 per-path rows
      val postPer = rws4.join(broadcast(live5.select("path")), Seq("path"))
        .join(broadcast(del5), Seq("path", "pos"), "left")
        .groupBy("path")
        .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_rows"),
          sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("flag"),
          sum(when(col("hit").isNull, col("o_orderkey")).otherwise(0L)).as("ksum"))
        .localCheckpoint()
      val post = postPer.select(lit("post").as("section"), col("path").as("item"),
        col("n_rows"), col("cents"), col("flag"))
      val del4 = dvs4.select(col("path"), explode(col("dv")).as("pos")).withColumn("pre", lit(1))
      val sigM = postPer
        .agg(sum("n_rows").as("n"), sum("cents").as("c"), sum("ksum").as("k"))
        .select(lit("check").as("section"), lit("masked_read").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
          col("k").cast("long").as("flag"))
      val sigP = sig(rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull && !pred), "check", "predicate_read")
      // ONE materialized 2-row frame feeds both signature output rows AND
      // the equality flag (one job instead of two)
      val sigs = sigM.unionByName(sigP).localCheckpoint()
      val equal = sigs
        .agg(when(count_distinct(struct(col("n_rows"), col("cents"), col("flag"))) === 1, 1L)
          .otherwise(0L).as("eq"))
        .select(lit("check").as("section"), lit("equal").as("item"),
          lit(0L).as("n_rows"), lit(0L).as("cents"), col("eq").as("flag"))
      val txn = del.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "dv", size(col("dv")).cast("long")).otherwise(lit(0L)).as("n_rows"),
        lit(0L).as("cents"),
        when(col("op") === "remove", 1L).otherwise(0L).as("flag"))
      txn.unionByName(post).unionByName(sigs).unionByName(equal)
        .orderBy("section", "item")
    })

  /** MERGE as ONE log transaction (the round-11 verdict's #2): the
    * matched/not-matched semantics of cdc1/j8 expressed AS version-4
    * actions — per-file dv masks for every matched row (deletes AND the
    * old versions of updates, derived by the same
    * `DeltaLog.deleteActions` pass dl17 gates), plus two rewrite adds in
    * the SAME version: `upd-4` (the updated rows: matched k % 7 = 1,
    * cents + 7) and `ins-4` (the not-matched inserts: bucket 2's rows,
    * deleted from the table back at v2). The gate pins the transaction
    * rows (each add's committed stats ≡ its actual content), the
    * per-file post-merge read, the ground truth (post-merge rowset ≡ the
    * oracle's MERGE-equivalent CTE: drop k%7=0, bump k%7=1 by 7 cents,
    * append bucket 2), and the CDF counts (deleted/updated/inserted +
    * the masks-reconcile flag Σ|mask| = deleted + updated). Duplicate
    * targets (bucket 3 lives twice, part-3 AND append-0) match twice and
    * update twice — the multiset semantics a physical MERGE has. */
  val dl18Merge = Q("dl18_merge",
    Some(s"""WITH ${DeltaLog.actionsSql},
            $positionedRowsCtes,
            masks AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_masked FROM rws4
              WHERE o_orderkey % 7 <= 1 GROUP BY path),
            updc AS (SELECT path, o_orderkey, cents + 7 AS cents FROM rws4 WHERE o_orderkey % 7 = 1),
            insc AS (
              SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders WHERE o_orderkey // ${DeltaLog.W} = 2),
            updstat AS (SELECT CAST(count(*) AS BIGINT) AS n, min(o_orderkey) AS mn,
              max(o_orderkey) AS mx, CAST(sum(cents) AS BIGINT) AS c FROM updc),
            insstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c FROM insc),
            oldrows AS (
              SELECT r.path, r.o_orderkey, r.cents FROM rws4 r
              WHERE r.o_orderkey % 7 > 1),
            postall AS (
              SELECT path, o_orderkey, cents FROM oldrows
              UNION ALL SELECT 'upd-4', o_orderkey, cents FROM updc
              UNION ALL SELECT 'ins-4', o_orderkey, cents FROM insc),
            post AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents_live
              FROM postall GROUP BY path),
            mergecte AS (
              SELECT o_orderkey,
                cents + CASE WHEN o_orderkey % 7 = 1 THEN 7 ELSE 0 END AS cents
              FROM rws4 WHERE o_orderkey % 7 <> 0
              UNION ALL SELECT o_orderkey, cents FROM insc),
            ${sigCte("sig1", "postall")},
            ${sigCte("sig2", "mergecte")},
            cdf AS (SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM rws4 WHERE o_orderkey % 7 = 0) AS n_del,
                (SELECT CAST(count(*) AS BIGINT) FROM rws4 WHERE o_orderkey % 7 = 1) AS n_upd,
                (SELECT CAST(count(*) AS BIGINT) FROM insc) AS n_ins,
                (SELECT CAST(sum(n_masked) AS BIGINT) FROM masks) AS n_masktot)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'dv:' || path AS item, n_masked AS n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(0 AS BIGINT) AS flag FROM masks
              UNION ALL SELECT 'txn', 'add:upd-4', n, c, CAST(1 AS BIGINT) FROM updstat
              UNION ALL SELECT 'txn', 'add:ins-4', n, c, CAST(1 AS BIGINT) FROM insstat
              UNION ALL SELECT 'post', path, n_live, cents_live, CAST(0 AS BIGINT) FROM post
              ${checkRowsSql("sig1", "post_rowset", "sig2", "merge_cte")}
              UNION ALL SELECT 'cdf', 'deleted', n_del, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM cdf
              UNION ALL SELECT 'cdf', 'updated', n_upd, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM cdf
              UNION ALL SELECT 'cdf', 'inserted', n_ins, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM cdf
              UNION ALL SELECT 'cdf', 'mask_reconciles', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(CASE WHEN n_masktot = n_del + n_upd THEN 1 ELSE 0 END AS BIGINT) FROM cdf
            ) t ORDER BY section, item"""),
    (s, d) => {
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val acts4 = DeltaLog.actions(logBase).localCheckpoint()
      val live4 = DeltaLog.replay(acts4) // race over ~70 checkpointed rows
      val dvs4 = DeltaLog.deletionVectors(acts4) // empty: no masks yet
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds the position pass AND the insert content
      val rws4 = positionedRows(live4, obRows).localCheckpoint()
      val matched = col("o_orderkey") % 7 <= 1
      // the rewrite content the MERGE pays for anyway: updated rows
      // (matched k%7=1, cents+7) and the not-matched inserts (bucket 2)
      val updc = rws4.filter(col("o_orderkey") % 7 === 1)
        .select(col("o_orderkey"), (col("cents") + 7).as("cents")) // filter of a checkpointed frame
      val insc = obRows.filter(col("bucket") === 2).select("o_orderkey", "cents")
      val updStats = updc.agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum("cents").as("cents"))
      val insStats = DeltaLog.buckets(ord).filter(col("bucket") === 2)
      val adds = DeltaLog.addAction(updStats, 4, 1000, "upd-4",
          lit(null).cast(ArrayType(LongType)))
        .unionByName(DeltaLog.addAction(insStats, 4, 1001, "ins-4", array(lit(2L))))
      // THE transaction: matched-row dvs + rewrite adds, one version
      val merged = DeltaLog.mergeActions(live4, dvs4, rws4, matched, 4, adds).localCheckpoint()
      val acts5 = DeltaLog.actions(logBase.unionByName(DeltaLog.toLines(merged))).localCheckpoint()
      val live5 = DeltaLog.replay(acts5)
      val del5 = DeltaLog.deletionVectors(acts5)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      // post-merge content: surviving old-file rows + the rewrite files
      val oldRows = rws4.join(broadcast(live5.select("path")), Seq("path"))
        .join(broadcast(del5), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .select("path", "o_orderkey", "cents")
      val postAll = oldRows
        .unionByName(updc.select(lit("upd-4").as("path"), col("o_orderkey"), col("cents")))
        .unionByName(insc.select(lit("ins-4").as("path"), col("o_orderkey"), col("cents")))
      // ONE per-path aggregate (with keysum) feeds the post rows, the
      // add-stats pin AND the post-rowset signature
      val postPer = postAll.groupBy("path")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"),
          sum("o_orderkey").as("ksum")).localCheckpoint()
      val post = postPer.select(lit("post").as("section"), col("path").as("item"),
        col("n_live").cast("long").as("n_rows"), col("cents_live").cast("long").as("cents"),
        lit(0L).as("flag"))
      // txn rows: dv masks + adds, each add pinned committed-stats ≡ content
      val txnDv = merged.filter(col("op") === "dv")
        .select(lit("txn").as("section"), concat(lit("dv:"), col("path")).as("item"),
          size(col("dv")).cast("long").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag"))
      val txnAdd = merged.filter(col("op") === "add")
        .select(col("path"), col("n_rows"), col("cents"))
        .join(broadcast(postPer), Seq("path"))
        .select(lit("txn").as("section"), concat(lit("add:"), col("path")).as("item"),
          col("n_rows"), col("cents"),
          when(col("n_rows") === col("n_live") && col("cents") === col("cents_live"), 1L)
            .otherwise(0L).as("flag"))
      // ground truth: post-merge rowset ≡ the MERGE-equivalent direct CTE
      val sig1 = postPer
        .agg(sum("n_live").as("n"), sum("cents_live").as("c"), sum("ksum").as("k"))
        .select(lit("check").as("section"), lit("post_rowset").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
          col("k").cast("long").as("flag"))
      val mergeCte = rws4.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          (col("cents") + when(col("o_orderkey") % 7 === 1, 7L).otherwise(0L)).as("cents"))
        .unionByName(insc.select("o_orderkey", "cents"))
      val sig2 = sig(mergeCte, "check", "merge_cte")
        .localCheckpoint() // feeds its own output row AND the equality row
      val equal = equalCheck(sig1, sig2, "equal")
      // CDF counts + the masks-reconcile pin, one aggregate over rws4
      val counts = rws4.agg(
        sum(when(col("o_orderkey") % 7 === 0, 1L).otherwise(0L)).as("n_del"),
        sum(when(col("o_orderkey") % 7 === 1, 1L).otherwise(0L)).as("n_upd"))
        .crossJoin(broadcast(insc.agg(count(lit(1)).as("n_ins"))))
        .crossJoin(broadcast(merged.filter(col("op") === "dv")
          .agg(coalesce(sum(size(col("dv"))), lit(0)).cast("long").as("n_masktot"))))
        .localCheckpoint() // feeds four output branches
      val cdf = Seq(
        counts.select(lit("cdf").as("section"), lit("deleted").as("item"),
          col("n_del").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag")),
        counts.select(lit("cdf").as("section"), lit("updated").as("item"),
          col("n_upd").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag")),
        counts.select(lit("cdf").as("section"), lit("inserted").as("item"),
          col("n_ins").cast("long").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag")),
        counts.select(lit("cdf").as("section"), lit("mask_reconciles").as("item"),
          lit(0L).as("n_rows"), lit(0L).as("cents"),
          when(col("n_masktot") === col("n_del") + col("n_upd"), 1L).otherwise(0L).as("flag"))
      ).reduce(_ unionByName _)
      txnDv.unionByName(txnAdd).unionByName(post).unionByName(sig1).unionByName(sig2)
        .unionByName(equal).unionByName(cdf)
        .orderBy("section", "item")
    })

  /** TIMESTAMP AS OF + time-based vacuum (the round-11 verdict's #4):
    * the log's actions carry per-version commit timestamps (ts =
    * 2024-01-01 + version days, stamped and ROUND-TRIPPED through the
    * JSON serialization so the field is proven persistent), and five
    * probes resolve through `DeltaLog.versionAsOf` — the latest commit
    * ≤ probe, real Delta's rule — covering before-first-commit (sentinel
    * −1, zero rows), exactly-at-commit, between-commits, and after-last.
    * Each resolvable probe's snapshot aggregates come from ONE replayGrid
    * pass. The vacuum section re-keys dl7's removability to a WALL-CLOCK
    * horizon (2024-01-03 12:00): retained = commits at-or-after the
    * horizon plus the boundary version (the snapshot that IS the table
    * at the horizon instant), here {v2, v3} — so the freed set must
    * equal dl7's count-based answer, pinning the two retention rules to
    * each other. */
  val dl2bTimeTravelTs = {
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z epoch µs
    val day = 86400000000L
    Q("dl2b_time_travel_ts",
      Some(s"""WITH ${DeltaLog.actionsSql},
              vers AS (SELECT DISTINCT version AS v,
                  $t0 + version * $day AS ts FROM acts),
              probes(label, p_ts) AS (VALUES
                ('p1_before_first', ${t0 - 1}), ('p2_at_v0', $t0),
                ('p3_mid_v1_v2', ${t0 + day + day / 2}), ('p4_at_v2', ${t0 + 2 * day}),
                ('p5_after_last', ${t0 + 10 * day})),
              resolved AS (
                SELECT p.label, coalesce(max(v.v), -1) AS rv
                FROM probes p LEFT JOIN vers v ON v.ts <= p.p_ts
                GROUP BY p.label),
              reps AS (
                SELECT r.v, a.* FROM range(0, 4) r(v) JOIN acts a ON a.version <= r.v),
              livev AS (
                SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY v, path
                    ORDER BY version DESC, ordinal DESC) AS rn
                  FROM reps) WHERE rn = 1 AND op = 'add'),
              agg AS (
                SELECT v, CAST(sum(n_rows) AS BIGINT) AS n_rows,
                  CAST(sum(cents) AS BIGINT) AS sum_cents
                FROM livev GROUP BY v),
              retained AS (
                SELECT v FROM vers WHERE ts >= ${t0 + 2 * day + day / 2}
                UNION
                SELECT max(v) FROM vers WHERE ts <= ${t0 + 2 * day + day / 2}),
              rliv AS (
                SELECT DISTINCT path FROM livev WHERE v IN (SELECT v FROM retained)),
              ever AS (SELECT DISTINCT path, n_rows FROM acts WHERE op = 'add')
              SELECT section, item, n_rows, cents, flag FROM (
                SELECT 'resolve' AS section, r.label AS item,
                  coalesce(a.n_rows, 0) AS n_rows, coalesce(a.sum_cents, 0) AS cents,
                  CAST(r.rv AS BIGINT) AS flag
                FROM resolved r LEFT JOIN agg a ON a.v = r.rv
                UNION ALL
                SELECT 'vacuum', e.path,
                  CASE WHEN l.path IS NULL THEN e.n_rows ELSE CAST(0 AS BIGINT) END,
                  CAST(0 AS BIGINT),
                  CAST(CASE WHEN l.path IS NULL THEN 0 ELSE 1 END AS BIGINT)
                FROM ever e LEFT JOIN rliv l ON l.path = e.path
              ) t ORDER BY section, item"""),
      (s, d) => {
        val ord = orders(s, d)
        // stamp per-version commit timestamps, then ROUND-TRIP through
        // the JSON log format — the persistence proof for the ts field
        val stamped = DeltaLog.stampTs(DeltaLog.actions(DeltaLog.logLines(ord)),
          lit(t0) + col("version").cast("long") * day)
        val acts = DeltaLog.actions(DeltaLog.toLines(stamped)).localCheckpoint()
        val probes = s.range(1).select(explode(array(
          struct(lit("p1_before_first").as("label"), lit(t0 - 1).as("p_ts")),
          struct(lit("p2_at_v0").as("label"), lit(t0).as("p_ts")),
          struct(lit("p3_mid_v1_v2").as("label"), lit(t0 + day + day / 2).as("p_ts")),
          struct(lit("p4_at_v2").as("label"), lit(t0 + 2 * day).as("p_ts")),
          struct(lit("p5_after_last").as("label"), lit(t0 + 10 * day).as("p_ts"))
        )).as("p")).select(col("p.label").as("label"), col("p.p_ts").as("p_ts"))
        val resolved = DeltaLog.versionAsOf(acts, probes)
        val versions = s.range(0, 4).select(col("id").cast("int").as("v"))
        val agg = DeltaLog.replayGrid(acts, versions)
          .groupBy("v").agg(sum("n_rows").as("n_rows"), sum("cents").as("sum_cents"))
        val resolve = resolved.join(broadcast(agg), col("v") === col("version"), "left")
          .select(lit("resolve").as("section"), col("label").as("item"),
            coalesce(col("n_rows"), lit(0L)).as("n_rows"),
            coalesce(col("sum_cents"), lit(0L)).as("cents"),
            col("version").cast("long").as("flag"))
        // time-keyed retention: the wall-clock twin of dl7's rule
        val retainedVs = DeltaLog.retainedVersionsAsOf(acts, t0 + 2 * day + day / 2)
        val retainedLive = DeltaLog.replayGrid(acts, retainedVs)
          .select(col("path").as("rp")).distinct()
        val ever = acts.filter(col("op") === "add").select("path", "n_rows").distinct()
        val vac = ever.join(broadcast(retainedLive), col("path") === col("rp"), "left")
          .select(lit("vacuum").as("section"), col("path").as("item"),
            when(col("rp").isNull, col("n_rows")).otherwise(lit(0L)).as("n_rows"),
            lit(0L).as("cents"),
            when(col("rp").isNull, 0L).otherwise(1L).as("flag"))
        resolve.unionByName(vac).orderBy("section", "item")
      })
  }

  /** Protocol / reader feature gate (the round-11 verdict's #6): a real
    * Delta log carries a `protocol` action so an old reader FAILS LOUDLY
    * on a table whose features it can't honor — deletion vectors are
    * exactly such a feature (a DV-blind reader would silently resurrect
    * deleted rows). Fixture: protocol(min_reader=1) at v0; v4 commits
    * the table's first dv AND upgrades to min_reader=2 in the same
    * version (the feature and its gate land atomically). The gate pins
    * the ACTIVE protocol at every version (latest ≤ v — versions 0-3
    * admit a v1 reader, v4 locks it out), that `checkpointState` at v2
    * PERSISTS the protocol row (a checkpoint reader must not lose the
    * gate: the 'state_at_2' row reads min_reader through the checkpoint
    * alone), that checkpoint+tail sees the upgrade, and that
    * `requireReader` admits a v2 reader (the RAISE path for a v1 reader
    * is Round12Spec's). Oracle: the protocol race is log arithmetic —
    * pure VALUES, no table read. */
  val dl19ProtocolGate = Q("dl19_protocol_gate",
    Some("""WITH prot(version, ordinal, min_reader, min_writer) AS (
              VALUES (0, -2, 1, 1), (4, -1, 2, 2)),
            vers AS (SELECT unnest(range(0, 5)) AS v),
            act AS (
              SELECT v, min_reader, min_writer FROM (
                SELECT vers.v, p.min_reader, p.min_writer,
                  row_number() OVER (PARTITION BY vers.v
                    ORDER BY p.version DESC, p.ordinal DESC) AS rn
                FROM vers JOIN prot p ON p.version <= vers.v) t
              WHERE rn = 1)
            SELECT section, item, min_reader, min_writer, reader1_ok, reader2_ok, writer1_ok FROM (
              SELECT 'active' AS section, 'v' || v AS item,
                CAST(min_reader AS INT) AS min_reader, CAST(min_writer AS INT) AS min_writer,
                CASE WHEN min_reader <= 1 THEN 1 ELSE 0 END AS reader1_ok,
                CASE WHEN min_reader <= 2 THEN 1 ELSE 0 END AS reader2_ok,
                CASE WHEN min_writer <= 1 THEN 1 ELSE 0 END AS writer1_ok
              FROM act
              UNION ALL SELECT 'checkpoint', 'state_at_2', 1, 1, 1, 1, 1
              UNION ALL SELECT 'checkpoint', 'state_plus_tail', 2, 2, 0, 1, 0
              UNION ALL SELECT 'gate', 'reader2_admitted', 2, 2, 0, 1, 0
              UNION ALL SELECT 'gate', 'writer2_admitted', 2, 2, 0, 1, 0
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val live0 = DeltaLog.snapshot(logBase).localCheckpoint()
      val log = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.protocolAction(s, 0, -2, 1, 1)
          .unionByName(DeltaLog.protocolAction(s, 4, -1, 2, 2))
          .unionByName(DeltaLog.dvAction(live0, "part-5", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3)))))
      val acts = DeltaLog.actions(log).localCheckpoint()
      def okCols = Seq(
        when(col("min_reader") <= 1, 1).otherwise(0).as("reader1_ok"),
        when(col("min_reader") <= 2, 1).otherwise(0).as("reader2_ok"),
        when(col("min_writer") <= 1, 1).otherwise(0).as("writer1_ok"))
      val versions = s.range(0, 5).select(col("id").cast("int").as("v"))
      val wp = Window.partitionBy(col("v")).orderBy(col("version").desc, col("ordinal").desc)
      val active = versions.join(acts.filter(col("op") === "protocol"),
          acts("version") <= versions("v"))
        .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
        .select(Seq(lit("active").as("section"),
          concat(lit("v"), col("v").cast("string")).as("item"),
          col("min_reader"), col("min_writer")) ++ okCols: _*)
      // checkpoint persistence: the protocol must survive checkpointState
      // ALONE (no tail) — a checkpoint that dropped it emits no row here
      val cpState = DeltaLog.activeProtocol(DeltaLog.checkpointState(acts, Some(2)))
        .select(Seq(lit("checkpoint").as("section"), lit("state_at_2").as("item"),
          col("min_reader"), col("min_writer")) ++ okCols: _*)
      val cpTail = DeltaLog.activeProtocol(DeltaLog.checkpointedActions(acts, 2))
        .select(Seq(lit("checkpoint").as("section"), lit("state_plus_tail").as("item"),
          col("min_reader"), col("min_writer")) ++ okCols: _*)
      // both admission gates evaluated ONCE, fanned to two label rows
      val gates = DeltaLog.requireReader(acts, 2)
        .crossJoin(broadcast(DeltaLog.requireWriter(acts, 2)))
        .crossJoin(broadcast(s.range(1).select(explode(array(
          lit("reader2_admitted"), lit("writer2_admitted"))).as("item"))))
        .select(Seq(lit("gate").as("section"), col("item"),
          col("min_reader"), col("min_writer")) ++ okCols: _*)
      active.unionByName(cpState).unionByName(cpTail).unionByName(gates)
        .orderBy("section", "item")
    })

  /** RESTORE to a previous version AS a transaction (the Delta RESTORE
    * command — the last DML verb after DELETE/MERGE): v6 diffs the
    * current state against the v4 snapshot and commits exactly the
    * flip-back actions. The fixture plants every branch: `append-1`
    * (added v5) is REMOVED; `part-4` (removed + re-added at v5) gets
    * remove + re-add of the TARGET instance; `compact-0-1`'s mask
    * drifted (v5 narrowed first-10 to first-4) and is re-committed to
    * the target's first-10; `part-3` gained a v5 mask the target never
    * had and is cleared with an EMPTY mask; `part-5`'s unchanged mask
    * and every untouched file emit NO action. The gate pins the
    * transaction rows (mechanically re-derived by the oracle's own file
    * and mask diffs) and that the post-restore masked read ≡ the direct
    * v4 masked read (signatures + equality flag). */
  val dl20Restore = Q("dl20_restore",
    Some(s"""WITH ${DeltaLog.actionsSql},
            b4 AS (SELECT * FROM bks WHERE bucket = 4),
            acts2 AS (
              SELECT version, ordinal, op, path, b_lo, b_hi, n_rows, min_key, max_key, cents
              FROM acts
              UNION ALL SELECT 5, 0, 'remove', 'part-4', NULL, NULL, NULL, NULL, NULL, NULL
              UNION ALL SELECT 5, 1, 'add', 'part-4', 4, 4, n_rows, min_key, max_key, cents FROM b4
              UNION ALL SELECT 5, 2, 'add', 'append-1', 4, 4, n_rows, min_key, max_key, cents FROM b4),
            livenow AS (
              SELECT path, b_lo, b_hi, n_rows, min_key, max_key, cents,
                version AS add_v, ordinal AS add_o FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t WHERE rn = 1 AND op = 'add'),
            liveat AS (
              SELECT path, b_lo, b_hi, n_rows, min_key, max_key, cents,
                version AS add_v, ordinal AS add_o FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2 WHERE version <= 4) t WHERE rn = 1 AND op = 'add'),
            rws AS (
              SELECT f.path, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM liveat f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dvat AS (
              SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL SELECT path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 10),
            dvnow AS (
              SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL SELECT path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 4
              UNION ALL SELECT path, pos FROM rws WHERE path = 'part-3' AND pos < 2),
            fdiff AS (
              SELECT coalesce(n.path, a.path) AS path,
                n.path IS NOT NULL AND (a.path IS NULL
                  OR a.add_v <> n.add_v OR a.add_o <> n.add_o) AS is_remove,
                a.path IS NOT NULL AND (n.path IS NULL
                  OR a.add_v <> n.add_v OR a.add_o <> n.add_o) AS is_add,
                a.n_rows AS at_rows, a.cents AS at_cents
              FROM livenow n FULL JOIN liveat a ON a.path = n.path),
            mnow AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM dvnow GROUP BY path),
            mat AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM dvat GROUP BY path),
            mdiff AS (
              SELECT l.path, coalesce(mat.n, 0) AS target_size
              FROM liveat l LEFT JOIN mnow ON mnow.path = l.path
              LEFT JOIN mat ON mat.path = l.path
              LEFT JOIN fdiff f ON f.path = l.path
              WHERE (f.is_add AND mat.n IS NOT NULL)
                OR (NOT f.is_add AND (
                  coalesce(mnow.n, 0) <> coalesce(mat.n, 0)
                  OR EXISTS (SELECT 1 FROM dvnow x LEFT JOIN dvat y
                      ON y.path = x.path AND y.pos = x.pos
                      WHERE x.path = l.path AND y.pos IS NULL)
                  OR EXISTS (SELECT 1 FROM dvat y LEFT JOIN dvnow x
                      ON x.path = y.path AND x.pos = y.pos
                      WHERE y.path = l.path AND x.pos IS NULL)))),
            postrows AS (
              SELECT r.path, r.o_orderkey, r.cents,
                CASE WHEN d.pos IS NULL THEN 0 ELSE 1 END AS deleted
              FROM rws r LEFT JOIN dvat d ON d.path = r.path AND d.pos = r.pos),
            post AS (
              SELECT path, CAST(sum(1 - deleted) AS BIGINT) AS n_live,
                CAST(sum(CASE WHEN deleted = 0 THEN cents ELSE 0 END) AS BIGINT) AS cents_live,
                CAST(sum(deleted) AS BIGINT) AS n_deleted
              FROM postrows GROUP BY path),
            sig AS (
              SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c,
                CAST(sum(o_orderkey) AS BIGINT) AS k
              FROM postrows WHERE deleted = 0)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'remove:' || path AS item, CAST(0 AS BIGINT) AS n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(1 AS BIGINT) AS flag
              FROM fdiff WHERE is_remove
              UNION ALL
              SELECT 'txn', 'add:' || path, at_rows, at_cents, CAST(0 AS BIGINT)
              FROM fdiff WHERE is_add
              UNION ALL
              SELECT 'txn', 'dv:' || path, target_size, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM mdiff
              UNION ALL SELECT 'post', path, n_live, cents_live, n_deleted FROM post
              UNION ALL SELECT 'check', 'restored_read', n, c, k FROM sig
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      // base actions parsed ONCE: live0 (4 dvAction guards) and the
      // re-add stats both derive from it — the v0 add lines already
      // carry each bucket's stats, so no second orders scan is paid
      val baseActs = DeltaLog.actions(logBase).localCheckpoint()
      val live0 = DeltaLog.replay(baseActs)
      val b4 = baseActs.filter(col("op") === "add" && col("path") === "part-4")
        .select("n_rows", "min_key", "max_key", "cents")
      val log5 = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
            filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 4, 1, sequence(lit(0L), lit(9L))))
          .unionByName(DeltaLog.removeAction(s, 5, 0, "part-4"))
          .unionByName(DeltaLog.addAction(b4, 5, 1, "part-4", array(lit(4L))))
          .unionByName(DeltaLog.addAction(b4, 5, 2, "append-1", array(lit(4L))))
          .unionByName(DeltaLog.dvAction(live0, "part-3", 5, 3, sequence(lit(0L), lit(1L))))
          .unionByName(DeltaLog.dvAction(live0, "compact-0-1", 5, 4, sequence(lit(0L), lit(3L))))))
        .localCheckpoint()
      val acts5 = DeltaLog.actions(log5).localCheckpoint()
      // THE operator under test: the engine diffs v5-current vs the v4
      // snapshot and commits the flip-back transaction
      val restore = DeltaLog.restoreActions(acts5, 4, 6).localCheckpoint()
      val acts6 = DeltaLog.actions(log5.unionByName(DeltaLog.toLines(restore))).localCheckpoint()
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds BOTH position passes
      // post-restore masked read, from the COMMITTED transaction
      val del6 = DeltaLog.deletionVectors(acts6)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      val postPer = positionedRows(DeltaLog.replay(acts6), obRows)
        .join(broadcast(del6), Seq("path", "pos"), "left")
        .groupBy("path")
        .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_live"),
          sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents_live"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("hit").isNull, col("o_orderkey")).otherwise(0L)).as("ksum"))
        .localCheckpoint() // feeds post rows AND the restored signature
      val post = postPer.select(lit("post").as("section"), col("path").as("item"),
        col("n_live").as("n_rows"), col("cents_live").as("cents"), col("n_deleted").as("flag"))
      // the oracle's post/sig rows derive from the TARGET state (liveat +
      // dvat) while these derive from the COMMITTED transaction — the
      // per-file hash comparison IS the restored ≡ target proof, so no
      // second engine-side target read is paid
      val sigRestored = postPer
        .agg(sum("n_live").as("n"), sum("cents_live").as("c"), sum("ksum").as("k"))
        .select(lit("check").as("section"), lit("restored_read").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
          col("k").cast("long").as("flag"))
      val txn = restore.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "dv", size(col("dv")).cast("long"))
          .when(col("op") === "add", col("n_rows")).otherwise(lit(0L)).as("n_rows"),
        when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
        when(col("op") === "remove", 1L).otherwise(0L).as("flag"))
      txn.unionByName(post).unionByName(sigRestored)
        .orderBy("section", "item")
    })

  /** OCC rebase / retry — the RESOLUTION step after dl8's conflict
    * detection (the Delta commit protocol's retry loop): three
    * transactions PREPARED against the v1 snapshot meet the v2/v3
    * commits that landed under them. `compact_all` (the engine's own
    * optimizeActions over the v1 live set) removes part-2 — which v2
    * also removed — and must ABORT (conflict part-2@2); `retier_45`
    * (remove part-4/5 + opt-4-5) touches nothing the concurrent commits
    * touched and REBASES to v4 (actions renumbered, ordinals preserved,
    * committed through the strict parse); `blind_append` then rebases
    * onto the head INCLUDING retier's fresh v4 commit (removes nothing,
    * no add collision) and lands at v5. The gate pins each decision
    * (conflict count + first conflicting path/version), the committed
    * rebased actions, and the final live set. Log-sized throughout —
    * conflicts are file-list joins. */
  val dl21OccRebase = Q("dl21_occ_rebase",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live1 AS (SELECT * FROM ${DeltaLog.liveSql("1")} t),
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            parts AS (SELECT * FROM live1 WHERE path LIKE 'part-%' AND b_lo = b_hi),
            bins AS (SELECT b_lo // 2 AS bin, count(*) AS nf FROM parts GROUP BY 1),
            aremoves AS (SELECT p.path FROM parts p JOIN bins b
              ON p.b_lo // 2 = b.bin AND b.nf = 2),
            aadds AS (SELECT 'opt-' || CAST(2 * bin AS VARCHAR) || '-' ||
                CAST(2 * bin + 1 AS VARCHAR) AS path FROM bins WHERE nf = 2),
            confa AS (
              SELECT DISTINCT a.path, a.version FROM acts a
              WHERE a.version > 1 AND a.op IN ('add', 'remove')
                AND (a.path IN (SELECT path FROM aremoves)
                  OR (a.op = 'add' AND a.path IN (SELECT path FROM aadds)))),
            confb AS (
              SELECT DISTINCT a.path, a.version FROM acts a
              WHERE a.version > 1 AND a.op IN ('add', 'remove')
                AND (a.path IN ('part-4', 'part-5')
                  OR (a.op = 'add' AND a.path = 'opt-4-5'))),
            actsb AS (
              SELECT version, ordinal, op, path FROM acts
              UNION ALL SELECT 4, 0, 'remove', 'part-4'
              UNION ALL SELECT 4, 1, 'remove', 'part-5'
              UNION ALL SELECT 4, 1000, 'add', 'opt-4-5'),
            confc AS (
              SELECT DISTINCT a.path, a.version FROM actsb a
              WHERE a.version > 1 AND a.op IN ('add', 'remove')
                AND a.op = 'add' AND a.path = 'append-9'),
            b45 AS (
              SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS cents
              FROM live1 WHERE path IN ('part-4', 'part-5')),
            b5 AS (SELECT n_rows, cents FROM bks WHERE bucket = 5)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'decision' AS section,
                'compact_all@' || coalesce(min(path), 'none') AS item,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(coalesce(min(version), -1) AS BIGINT) AS cents,
                CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT) AS flag
              FROM confa
              UNION ALL
              SELECT 'decision', 'retier_45@' || coalesce(min(path), 'none'),
                CAST(count(*) AS BIGINT), CAST(coalesce(min(version), -1) AS BIGINT),
                CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT)
              FROM confb
              UNION ALL
              SELECT 'decision', 'blind_append@' || coalesce(min(path), 'none'),
                CAST(count(*) AS BIGINT), CAST(coalesce(min(version), -1) AS BIGINT),
                CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT)
              FROM confc
              $optimizeAppendRowsSql
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val acts3 = DeltaLog.actions(logBase).localCheckpoint()
      val live1 = DeltaLog.replay(acts3, Some(1)).localCheckpoint()
      // the three prepared transactions, all built against the v1 snapshot
      val txnA = DeltaLog.optimizeActions(live1, 90)
      val opt45Stats = live1.filter(col("path").isin("part-4", "part-5"))
        .agg(sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
          max("max_key").as("max_key"), sum("cents").as("cents"))
      val txnB = DeltaLog.removeAction(s, 90, 0, "part-4")
        .unionByName(DeltaLog.removeAction(s, 90, 1, "part-5"))
        .unionByName(DeltaLog.addAction(opt45Stats, 90, 1000, "opt-4-5",
          array(lit(4L), lit(5L))))
      // blind append: bucket 5's rows as a new file, stats from the LOG's
      // own part-5 add line (no data scan)
      val txnC = DeltaLog.addAction(
        acts3.filter(col("op") === "add" && col("path") === "part-5")
          .select("n_rows", "min_key", "max_key", "cents"),
        90, 0, "append-9", array(lit(5L)))
      def decision(name: String, txn: org.apache.spark.sql.DataFrame,
                   acts: org.apache.spark.sql.DataFrame) =
        DeltaLog.rebaseConflicts(txn, acts, readVersion = 1)
          .agg(count(lit(1)).as("nc"), min("path").as("fp"), min("version").as("fv"))
          .select(lit("decision").as("section"),
            concat(lit(name), lit("@"), coalesce(col("fp"), lit("none"))).as("item"),
            col("nc").cast("long").as("n_rows"),
            coalesce(col("fv"), lit(-1)).cast("long").as("cents"),
            when(col("nc") === 0, 1L).otherwise(0L).as("flag"))
      val decA = decision("compact_all", txnA, acts3)
      val decB = decision("retier_45", txnB, acts3)
      // retier rebases to v4 and COMMITS through the strict parse
      val rbB = DeltaLog.rebase(txnB, acts3, 1, 4).localCheckpoint()
      val log4 = logBase.unionByName(DeltaLog.toLines(rbB))
      val acts4 = DeltaLog.actions(log4).localCheckpoint()
      // the blind append rebases onto the head INCLUDING retier's commit
      val decC = decision("blind_append", txnC, acts4)
      val rbC = DeltaLog.rebase(txnC, acts4, 1, 5).localCheckpoint()
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(rbC)))
      val txnRows = rbB.unionByName(rbC).select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "add", col("n_rows")).otherwise(lit(0L)).as("n_rows"),
        when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
        col("version").cast("long").as("flag"))
      val post = DeltaLog.replay(acts5).select(lit("post").as("section"),
        col("path").as("item"), col("n_rows"), col("cents"), lit(0L).as("flag"))
      decA.unionByName(decB).unionByName(decC).unionByName(txnRows).unionByName(post)
        .orderBy("section", "item")
    })

  /** Column mapping — RENAME / DROP COLUMN as log-only transactions (the
    * round-12 verdict's #1, and the first real feature behind the dl19
    * protocol gate): v4 commits the mapping meta (`k→p_key,
    * cents→p_cents`) ATOMICALLY with protocol(min_reader=2,
    * min_writer=5) — the Delta columnMapping feature versions; v5
    * RENAMEs cents→price_cents and v6 DROPs k, both derived THROUGH the
    * log (`DeltaLog.renameColumn`/`dropColumn` read the active mapping
    * and emit one meta action — NO file action, which the files section
    * pins by showing identical live sets at v3 and v6). The read section
    * resolves a MELTED physical scan (physical_name, value) against the
    * per-version mapping: after RENAME the same sums surface under the
    * new logical name; after DROP k's rows vanish with zero file churn.
    * The checkpoint section proves the v5 mapping survives
    * `checkpointState` alone, and the gate section that a (reader 2,
    * writer 5) client is admitted — the pre-mapping reader RAISE is
    * Round13Spec's. Oracle: the mapping race is VALUES arithmetic; sums
    * come from the same live-bucket join every dl oracle uses. */
  val dl22ColumnMapping = Q("dl22_column_mapping",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            rows_ AS (
              SELECT o.o_orderkey, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
              FROM live f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            mapping(v, logical, physical, mv) AS (VALUES
              (4, 'k', 'p_key', 4), (4, 'cents', 'p_cents', 4),
              (5, 'k', 'p_key', 5), (5, 'price_cents', 'p_cents', 5),
              (6, 'price_cents', 'p_cents', 6)),
            melted AS (
              SELECT 'p_key' AS physical, o_orderkey AS value FROM rows_
              UNION ALL SELECT 'p_cents', cents FROM rows_),
            readrows AS (
              SELECT m.v, m.logical, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(value) AS BIGINT) AS s
              FROM mapping m JOIN melted ON melted.physical = m.physical
              GROUP BY 1, 2)
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'mapping' AS section,
                'v' || CAST(v AS VARCHAR) || ':' || logical || '->' || physical AS item,
                CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS val,
                CAST(mv AS BIGINT) AS flag
              FROM mapping
              UNION ALL SELECT 'read', 'read@v' || CAST(v AS VARCHAR) || ':' || logical,
                n, s, CAST(0 AS BIGINT) FROM readrows
              UNION ALL SELECT 'files', 'files@v3', CAST(count(*) AS BIGINT),
                CAST(sum(n_rows) AS BIGINT), CAST(0 AS BIGINT) FROM live
              UNION ALL SELECT 'files', 'files@v6', CAST(count(*) AS BIGINT),
                CAST(sum(n_rows) AS BIGINT), CAST(0 AS BIGINT) FROM live
              UNION ALL SELECT 'checkpoint', 'cp5:' || logical || '->' || physical,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(5 AS BIGINT)
              FROM mapping WHERE v = 5
              UNION ALL SELECT 'gate', 'reader2_writer5_admitted',
                CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord)
      // v4: the first mapping meta + the protocol that gates the feature,
      // in ONE commit (the feature and its gate land atomically — dl19's
      // convention). The mapping DDL chain (v5 RENAME, v6 DROP) derives
      // from META rows alone — file actions are irrelevant to the mapping
      // race, so the chain never touches the data-bearing log and the
      // JSON round-trip (the persistence proof) is paid ONCE over the
      // full action set (three per-step parse+checkpoint jobs were the
      // dominant cost of the first implementation).
      val protoV4 = DeltaLog.protocolAction(s, 4, -1, 2, 5)
      val metaV4 = DeltaLog.metaAction(s, 4, 0, DeltaLog.mappingSchemaStr(
        Seq(("k", "p_key", "BIGINT"), ("cents", "p_cents", "BIGINT"))))
      // v5: RENAME cents -> price_cents, derived THROUGH the log
      val ren = DeltaLog.renameColumn(metaV4, "cents", "price_cents", 5, 0)
        .localCheckpoint() // feeds the DROP's input AND the committed log
      // v6: DROP k — the physical column stays in every file
      val drop = DeltaLog.dropColumn(metaV4.unionByName(ren), "k", 6, 0)
      val acts6 = DeltaLog.actions(logBase.unionByName(DeltaLog.toLines(
        protoV4.unionByName(metaV4).unionByName(ren).unionByName(drop))))
        .localCheckpoint()
      // per-version mappings from ONE grid pass; feeds the mapping rows
      // AND the read resolution
      val vers456 = s.range(4, 7).select(col("id").cast("int").as("v"))
      val mapGrid = DeltaLog.columnMappingGrid(acts6, vers456).localCheckpoint()
      val mappingRows = mapGrid.select(lit("mapping").as("section"),
        concat(lit("v"), col("v").cast("string"), lit(":"), col("logical_name"),
          lit("->"), col("physical_name")).as("item"),
        lit(0L).as("n_rows"), lit(0L).as("val"),
        col("mapping_version").cast("long").as("flag"))
      // log-only pin: the live FILE set is identical before (v3) and
      // after (v6) the three mapping commits
      val vers36 = s.range(1).select(explode(array(lit(3), lit(6))).as("v"))
      val files = DeltaLog.replayGrid(acts6, vers36)
        .groupBy("v").agg(count(lit(1)).as("nf"), sum("n_rows").as("nr"))
        .select(lit("files").as("section"),
          concat(lit("files@v"), col("v").cast("string")).as("item"),
          col("nf").cast("long").as("n_rows"), col("nr").cast("long").as("val"),
          lit(0L).as("flag"))
      // the melted physical scan: ONE pass over the live rows emits both
      // physical columns (a per-column union would re-run the join)
      val live = DeltaLog.replay(acts6)
      val rows = live.select(col("path"), explode(col("buckets")).as("bucket"))
        .join(ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents")),
          Seq("bucket"))
      val melted = rows.select(explode(array(
        struct(lit("p_key").as("physical_name"), col("o_orderkey").as("value")),
        struct(lit("p_cents").as("physical_name"), col("cents").as("value")))).as("m"))
        .select("m.*")
      val readRows = DeltaLog.resolvePhysical(melted,
          mapGrid.select("physical_name", "logical_name", "v"))
        .groupBy("v", "logical_name")
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
        .select(lit("read").as("section"),
          concat(lit("read@v"), col("v").cast("string"), lit(":"), col("logical_name")).as("item"),
          col("n").cast("long").as("n_rows"), col("s").cast("long").as("val"),
          lit(0L).as("flag"))
      // checkpoint persistence: the v5 mapping must survive
      // checkpointState ALONE (no tail)
      val cp = DeltaLog.columnMapping(DeltaLog.checkpointState(acts6, Some(5)))
        .select(lit("checkpoint").as("section"),
          concat(lit("cp5:"), col("logical_name"), lit("->"), col("physical_name")).as("item"),
          lit(0L).as("n_rows"), lit(0L).as("val"),
          col("mapping_version").cast("long").as("flag"))
      // both admission gates evaluated once (raise path is Round13Spec's)
      val gates = DeltaLog.requireReader(acts6, 2)
        .crossJoin(broadcast(DeltaLog.requireWriter(acts6, 5)))
        .select(lit("gate").as("section"), lit("reader2_writer5_admitted").as("item"),
          col("min_reader").cast("long").as("n_rows"),
          col("min_writer").cast("long").as("val"), lit(1L).as("flag"))
      mappingRows.unionByName(readRows).unionByName(files).unionByName(cp)
        .unionByName(gates)
        .orderBy("section", "item")
    })

  /** Writer invariants / CHECK constraints at commit (the round-12
    * verdict's #2): v4 declares per-stat constraints in an
    * op='constraint' action (n_rows ≥ 1, cents NOT NULL and ≥ 1,
    * min_key ≥ 1) ATOMICALLY with protocol(min_writer=3) — the Delta
    * CHECK-constraints writer version; v5 is a conforming append
    * (bucket 5's stats from the log's own v0 add line) committed THROUGH
    * `DeltaLog.enforceInvariants` and the strict parse. The checks
    * section pins that every declared constraint was actually EVALUATED
    * against the add (4 matched pairs, all clean — a vacuous enforcer
    * would emit nothing and hash-mismatch); the constraints section pins
    * the parsed active spec surviving the JSON round-trip; the
    * checkpoint row that the spec survives `checkpointState` alone; the
    * post row the resulting live set. The violating-add and
    * violating-MERGE raise paths are Round13Spec's. Oracle: the spec is
    * VALUES; stats are bucket arithmetic. */
  val dl23WriterInvariants = Q("dl23_writer_invariants",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            b5 AS (SELECT n_rows, min_key, max_key, cents FROM bks WHERE bucket = 5),
            cons(name, field, kind, bound, cv) AS (VALUES
              ('positive_rows', 'n_rows', 'min', 1, 4),
              ('cents_present', 'cents', 'notnull', NULL, 4),
              ('cents_positive', 'cents', 'min', 1, 4),
              ('key_floor', 'min_key', 'min', 1, 4))
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'constraints' AS section,
                name || '(' || field || ' ' || kind || ')' AS item,
                CAST(0 AS BIGINT) AS n_rows, CAST(coalesce(bound, 0) AS BIGINT) AS val,
                CAST(cv AS BIGINT) AS flag
              FROM cons
              UNION ALL SELECT 'checks', name || ':append-1', CAST(1 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM cons
              UNION ALL SELECT 'txn', 'add:append-1', n_rows, cents, CAST(5 AS BIGINT) FROM b5
              UNION ALL SELECT 'post', 'live@v5',
                CAST((SELECT count(*) FROM live) + 1 AS BIGINT),
                CAST((SELECT sum(cents) FROM live) + (SELECT cents FROM b5) AS BIGINT),
                CAST((SELECT sum(n_rows) FROM live) + (SELECT n_rows FROM b5) AS BIGINT)
              UNION ALL SELECT 'checkpoint', 'cp4_constraints', CAST(4 AS BIGINT),
                CAST(0 AS BIGINT), CAST(4 AS BIGINT)
              UNION ALL SELECT 'gate', 'reader1_writer3_admitted',
                CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      // the ONLY data pass: the base log's bucket aggregation — every
      // later frame is races over these ~66 checkpointed lines (the
      // first implementation left logBase lazy and paid the orders scan
      // in BOTH parse jobs)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val acts3 = DeltaLog.actions(logBase)
      // v4: the constraint spec + the writer version that gates the
      // feature, one commit (the dl19/dl22 convention)
      val spec = "positive_rows:n_rows:min:1;cents_present:cents:notnull:;" +
        "cents_positive:cents:min:1;key_floor:min_key:min:1"
      val v4 = DeltaLog.protocolAction(s, 4, -1, 1, 3)
        .unionByName(DeltaLog.constraintAction(s, 4, 0, spec))
      val acts4 = acts3.unionByName(v4)
      // v5: the conforming append — stats from the LOG's own v0 add line
      // (no data scan), committed THROUGH enforcement and the strict parse
      val b5 = acts3.filter(col("op") === "add" && col("path") === "part-5")
        .select("n_rows", "min_key", "max_key", "cents")
      val txn5 = DeltaLog.addAction(b5, 5, 0, "append-1", array(lit(5L)))
      // the checks are derived ONCE and feed both the enforcement and the
      // audit rows (enforceInvariants would re-run the constraint parse
      // and join for an identical answer)
      val checks0 = DeltaLog.invariantChecks(acts4, txn5).localCheckpoint()
      val enforced = DeltaLog.enforceInvariantsChecked(txn5, checks0)
      val acts5 = DeltaLog.actions(logBase.unionByName(DeltaLog.toLines(
        v4.unionByName(enforced)))).localCheckpoint()
      // the parsed spec, read back from the COMMITTED log (round-trip pin)
      val consRows = DeltaLog.activeConstraints(acts5)
        .select(lit("constraints").as("section"),
          concat(col("c_name"), lit("("), col("field"), lit(" "), col("kind"), lit(")")).as("item"),
          lit(0L).as("n_rows"), coalesce(col("bound"), lit(0L)).as("val"),
          col("constraint_version").cast("long").as("flag"))
      // every declared constraint evaluated against the add — the
      // non-vacuousness pin (violated=0 throughout; the raise path is
      // Round13Spec's)
      val checks = checks0
        .select(lit("checks").as("section"),
          concat(col("c_name"), lit(":"), col("path")).as("item"),
          lit(1L).as("n_rows"), lit(0L).as("val"),
          col("violated").cast("long").as("flag"))
      // the committed transaction, read back through the strict parse
      val txnRows = acts5.filter(col("version") === 5)
        .select(lit("txn").as("section"),
          concat(lit("add:"), col("path")).as("item"),
          col("n_rows"), col("cents").as("val"), col("version").cast("long").as("flag"))
      val post = DeltaLog.replay(acts5)
        .agg(count(lit(1)).as("nf"), sum("cents").as("c"), sum("n_rows").as("nr"))
        .select(lit("post").as("section"), lit("live@v5").as("item"),
          col("nf").cast("long").as("n_rows"), col("c").cast("long").as("val"),
          col("nr").cast("long").as("flag"))
      // the spec must survive checkpointState ALONE (a writer resuming
      // from a checkpoint that dropped it would stop enforcing)
      val cp = DeltaLog.activeConstraints(DeltaLog.checkpointState(acts5, Some(4)))
        .agg(count(lit(1)).as("n"), max("constraint_version").as("cv"))
        .select(lit("checkpoint").as("section"), lit("cp4_constraints").as("item"),
          col("n").cast("long").as("n_rows"), lit(0L).as("val"),
          col("cv").cast("long").as("flag"))
      val gates = DeltaLog.requireReader(acts5, 1)
        .crossJoin(broadcast(DeltaLog.requireWriter(acts5, 3)))
        .select(lit("gate").as("section"), lit("reader1_writer3_admitted").as("item"),
          col("min_reader").cast("long").as("n_rows"),
          col("min_writer").cast("long").as("val"), lit(1L).as("flag"))
      consRows.unionByName(checks).unionByName(txnRows).unionByName(post)
        .unionByName(cp).unionByName(gates)
        .orderBy("section", "item")
    })

  /** Multi-writer retry — rebase-until-commit under live contention (the
    * round-12 verdict's #3, composing dl21's primitives into the loop a
    * production table actually runs): writers A (compact part-4+part-5
    * into opt-4-5) and B (blind append append-9) both prepare at
    * readVersion 3. A commits cleanly at v4 — INSIDE B's race window, so
    * B's first attempt finds its v4 slot taken
    * (`retry_version_taken`), re-checks conflicts against A's landed
    * commit (disjoint paths — none) and lands at v5 on attempt 2. Writer
    * C, a SECOND compactor racing A with the identical transaction,
    * aborts on 3 genuine conflicts (A's two removes + the add
    * collision). Every decision flows through
    * `DeltaLog.commitWithRetry` — the gate pins the per-attempt
    * (target, conflict-count, outcome) rows, the committed transactions
    * read back through the strict parse, and the final live set. The
    * liveness bound (loud failure at maxAttempts under permanent
    * contention) is Round13Spec's. Oracle: decisions are deterministic
    * VALUES; stats are dl21's bucket arithmetic. */
  val dl24RetryLoop = Q("dl24_retry_loop",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            b45 AS (
              SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS cents
              FROM live3 WHERE path IN ('part-4', 'part-5')),
            b5 AS (SELECT n_rows, cents FROM bks WHERE bucket = 5),
            dec(item, n_conflicts, target, committed) AS (VALUES
              ('A:a1:committed', 0, 4, 1),
              ('B:a1:retry_version_taken', 0, 4, 0),
              ('B:a2:committed', 0, 5, 1),
              ('C:a1:abort_conflict', 3, 6, 0))
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'decision' AS section, item,
                CAST(n_conflicts AS BIGINT) AS n_rows, CAST(target AS BIGINT) AS val,
                CAST(committed AS BIGINT) AS flag
              FROM dec
              $optimizeAppendRowsSql
            ) t ORDER BY section, item"""),
    (s, d) => {
      import s.implicits._
      val ord = orders(s, d)
      val acts3 = DeltaLog.actions(DeltaLog.logLines(ord)).localCheckpoint()
      val live3 = DeltaLog.replay(acts3)
      // the three prepared transactions, all against the v3 snapshot
      val opt45Stats = live3.filter(col("path").isin("part-4", "part-5"))
        .agg(sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
          max("max_key").as("max_key"), sum("cents").as("cents"))
      def compaction = DeltaLog.removeAction(s, 90, 0, "part-4")
        .unionByName(DeltaLog.removeAction(s, 90, 1, "part-5"))
        .unionByName(DeltaLog.addAction(opt45Stats, 90, 1000, "opt-4-5",
          array(lit(4L), lit(5L))))
      val txnA = compaction
      val txnB = DeltaLog.addAction(
        acts3.filter(col("op") === "add" && col("path") === "part-5")
          .select("n_rows", "min_key", "max_key", "cents"),
        90, 0, "append-9", array(lit(5L)))
      val txnC = compaction // a second compactor racing A
      // A through the loop: clean commit, attempt 1. Its committed rows
      // (already checkpointed by the loop) are what land INSIDE B's race
      // window — filtered from the loop output, never rebuilt.
      val (actsA, decA) = DeltaLog.commitWithRetry(acts3, txnA, 3)
      val rbA = actsA.filter(col("version") === 4)
      // B through the loop: A takes B's v4 slot between check and write
      val (acts5, decB) = DeltaLog.commitWithRetry(acts3, txnB, 3,
        contention = a => if (a == 1) Some(rbA) else None)
      // C through the loop over the settled head: genuine conflict, abort
      val (_, decC) = DeltaLog.commitWithRetry(acts5, txnC, 3)
      val decisions = Seq(("A", decA), ("B", decB), ("C", decC))
        .flatMap { case (w, ds) =>
          ds.map(dc => (s"$w:a${dc.attempt}:${dc.outcome}",
            dc.nConflicts, dc.target.toLong,
            if (dc.outcome == "committed") 1L else 0L))
        }
        .toDF("item", "n_rows", "val", "flag")
        .select(lit("decision").as("section"), col("item"), col("n_rows"),
          col("val"), col("flag"))
      // committed transactions read back from the settled log
      val txnRows = acts5.filter(col("version") >= 4)
        .select(lit("txn").as("section"),
          concat(col("op"), lit(":"), col("path")).as("item"),
          when(col("op") === "add", col("n_rows")).otherwise(lit(0L)).as("n_rows"),
          when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("val"),
          col("version").cast("long").as("flag"))
      val post = DeltaLog.replay(acts5).select(lit("post").as("section"),
        col("path").as("item"), col("n_rows"), col("cents").as("val"), lit(0L).as("flag"))
      decisions.unionByName(txnRows).unionByName(post)
        .orderBy("section", "item")
    })

  /** UPDATE WHERE as a first-class verb (the round-12 verdict's #4 —
    * users type UPDATE far more often than MERGE, so the derivation is
    * gated rather than implied by dl18): v4 pre-masks part-5 (pos % 7 =
    * 3, the dl17 fixture), then v5 UPDATEs `o_orderkey % 9 = 4` SET
    * cents += 50 through `DeltaLog.updateActions` — per-file dv masks
    * for every newly-matched LIVE row (already-deleted rows are NOT
    * updated), one rewrite add `upd-5` carrying the updated rows, and
    * the UPDATE-specific row-path invariant that the rewrite cardinality
    * equals the newly-killed count (its raise is Round13Spec's). The
    * gate pins the transaction rows, the per-file post-update read, CDF
    * update_preimage/update_postimage (counts + cents + key signatures —
    * keys unchanged, cents shifted by exactly 50·n), and ground truth:
    * post-update rowset ≡ the oracle's direct UPDATE CTE. */
  val dl25UpdateWhere = Q("dl25_update_where",
    Some(s"""WITH ${DeltaLog.actionsSql},
            $positionedRowsCtes,
            predv AS (SELECT path, pos FROM rws4 WHERE path = 'part-5' AND pos % 7 = 3),
            upd AS (
              SELECT r.path, r.pos, r.o_orderkey, r.cents FROM rws4 r
              WHERE r.o_orderkey % 9 = 4 AND NOT EXISTS (
                SELECT 1 FROM predv p WHERE p.path = r.path AND p.pos = r.pos)),
            touched AS (SELECT DISTINCT path FROM upd),
            merged AS (
              SELECT u.path, u.pos FROM (
                SELECT path, pos FROM rws4 WHERE o_orderkey % 9 = 4
                UNION SELECT path, pos FROM predv) u
              WHERE u.path IN (SELECT path FROM touched)),
            masks AS (SELECT path, CAST(count(*) AS BIGINT) AS n_masked FROM merged GROUP BY path),
            updstat AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) + 50 * count(*) AS BIGINT) AS c,
              CAST(sum(o_orderkey) AS BIGINT) AS k FROM upd),
            dv5 AS (
              SELECT path, pos FROM merged
              UNION ALL SELECT path, pos FROM predv WHERE path NOT IN (SELECT path FROM touched)),
            oldrows AS (
              SELECT r.path, r.o_orderkey, r.cents FROM rws4 r
              LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos WHERE d.pos IS NULL),
            postall AS (
              SELECT path, o_orderkey, cents FROM oldrows
              UNION ALL SELECT 'upd-5', o_orderkey, cents + 50 FROM upd),
            post AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents_live
              FROM postall GROUP BY path),
            updcte AS (
              SELECT r.o_orderkey,
                r.cents + CASE WHEN r.o_orderkey % 9 = 4 THEN 50 ELSE 0 END AS cents
              FROM rws4 r LEFT JOIN predv p ON p.path = r.path AND p.pos = r.pos
              WHERE p.pos IS NULL),
            ${sigCte("sig1", "postall")},
            ${sigCte("sig2", "updcte")}
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'dv:' || path AS item, n_masked AS n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(0 AS BIGINT) AS flag FROM masks
              UNION ALL SELECT 'txn', 'add:upd-5', n, c, CAST(1 AS BIGINT) FROM updstat
              UNION ALL SELECT 'post', path, n_live, cents_live, CAST(0 AS BIGINT) FROM post
              UNION ALL SELECT 'cdf', 'update_preimage', n, c - 50 * n, k FROM updstat
              UNION ALL SELECT 'cdf', 'update_postimage', n, c, k FROM updstat
              ${checkRowsSql("sig1", "post_rowset", "sig2", "update_cte")}
            ) t ORDER BY section, item"""),
    (s, d) => {
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val live0 = DeltaLog.snapshot(logBase)
      val log4 = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))))
      val acts4 = DeltaLog.actions(log4).localCheckpoint()
      val live4 = DeltaLog.replay(acts4)
      val dvs4 = DeltaLog.deletionVectors(acts4)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val rws4 = positionedRows(live4, obRows).localCheckpoint()
      val pred = col("o_orderkey") % 9 === 4
      // the rewrite the UPDATE pays for anyway: newly-matched LIVE rows
      // with the SET applied (already-masked matches stay deleted)
      val del4 = dvs4.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("pre", lit(1))
      val updc = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull && pred)
        .select(col("o_orderkey"), (col("cents") + 50).as("cents"))
        .localCheckpoint() // feeds stats, post content, and both cdf rows
      val updStats = updc.agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum("cents").as("cents"))
      val adds = DeltaLog.addAction(updStats, 5, 1000, "upd-5",
        lit(null).cast(ArrayType(LongType)))
      // THE operator under test
      val upd = DeltaLog.updateActions(live4, dvs4, rws4, pred, 5, adds).localCheckpoint()
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(upd))).localCheckpoint()
      // post-update content: surviving old-file rows + the rewrite file
      val del5 = DeltaLog.deletionVectors(acts5)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      val oldPaths = DeltaLog.replay(acts5).filter(col("path") =!= "upd-5").select("path")
      val oldRows = rws4.join(broadcast(oldPaths), Seq("path"))
        .join(broadcast(del5), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .select("path", "o_orderkey", "cents")
      val postAll = oldRows
        .unionByName(updc.select(lit("upd-5").as("path"), col("o_orderkey"), col("cents")))
      val postPer = postAll.groupBy("path")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"),
          sum("o_orderkey").as("ksum")).localCheckpoint()
      val post = postPer.select(lit("post").as("section"), col("path").as("item"),
        col("n_live").cast("long").as("n_rows"), col("cents_live").cast("long").as("cents"),
        lit(0L).as("flag"))
      val txn = upd.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "dv", size(col("dv")).cast("long"))
          .otherwise(col("n_rows")).as("n_rows"),
        when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
        when(col("op") === "add", 1L).otherwise(0L).as("flag"))
      // CDF from the transaction structure (a per-key multiset diff would
      // see NOTHING — UPDATE keeps every key's copy count; real Delta CDF
      // emits preimage/postimage rows from the commit for this reason)
      // no ckpt: both cdf branches re-aggregate the CHECKPOINTED updc in
      // the one output job — an eager materialization here costs a
      // scheduling-floor job to save a trivial re-agg
      val cdfBase = updc
        .agg(count(lit(1)).as("n"), sum("cents").as("c"), sum("o_orderkey").as("k"))
      val cdf = Seq(
        cdfBase.select(lit("cdf").as("section"), lit("update_preimage").as("item"),
          col("n").cast("long").as("n_rows"), (col("c") - lit(50) * col("n")).cast("long").as("cents"),
          col("k").cast("long").as("flag")),
        cdfBase.select(lit("cdf").as("section"), lit("update_postimage").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
          col("k").cast("long").as("flag"))
      ).reduce(_ unionByName _)
      // ground truth: post-update rowset ≡ the direct UPDATE CTE
      val sig1 = postPer
        .agg(sum("n_live").as("n"), sum("cents_live").as("c"), sum("ksum").as("k"))
        .select(lit("check").as("section"), lit("post_rowset").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("cents"),
          col("k").cast("long").as("flag"))
      val updCte = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull)
        .select(col("o_orderkey"),
          (col("cents") + when(pred, 50L).otherwise(0L)).as("cents"))
      val sig2 = sig(updCte, "check", "update_cte")
      // no ckpt on sig2 either: its two consumers re-scan checkpointed rws4
      val equal = equalCheck(sig1, sig2, "equal")
      txn.unionByName(post).unionByName(cdf).unionByName(sig1).unionByName(sig2)
        .unionByName(equal)
        .orderBy("section", "item")
    })

  /** SHALLOW CLONE (Delta `CLONE` zero-copy): clone the source at v4
    * (post-dv), then prove FOUR properties in one gate — (1) the clone's
    * v0 transaction is the source's checkpoint state with per-path
    * renumbered coordinates (`clone_txn`: the dv cloned alongside its
    * add, ordinal 1 > 0 so the mask still wins); (2) the clone READS
    * identical to the source at the clone point (`clone_read`: masked
    * per-file rows/cents); (3) the logs are INDEPENDENT after the split —
    * a DELETE (dv) committed on the clone never shows in the source, a
    * remove committed on the source never shows in the clone
    * (`clone_after` keeps part-4 and masks compact-0-1; `src_after`
    * drops part-4 and does NOT mask compact-0-1); (4) the operational
    * hazard is ENUMERABLE: files a source VACUUM (retention v5) would
    * free that the clone still references (`hazard` = part-4 — removed
    * from the source but live in the clone). Work shape: TWO data
    * passes (stats build + positioned rows, both shared), everything
    * else log-sized races; the three masked reads share ONE positioned
    * frame. */
  val dl26ShallowClone = Q("dl26_shallow_clone",
    Some(s"""WITH ${DeltaLog.actionsSql},
            acts2 AS (
              SELECT version, ordinal, op, path, b_lo, b_hi, n_rows, min_key, max_key, cents
              FROM acts
              UNION ALL SELECT 5, 0, 'remove', 'part-4', NULL, NULL, NULL, NULL, NULL, NULL),
            live4 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            live5 AS (
              SELECT path, n_rows FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t WHERE rn = 1 AND op = 'add'),
            rws AS (
              SELECT f.path, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live4 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dv5 AS (SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3),
            dvc AS (SELECT path, pos FROM rws WHERE path = 'compact-0-1' AND pos < 5),
            ctxn AS (
              SELECT 'clone_txn' AS section, 'add:' || path AS item, n_rows, cents,
                CAST(0 AS BIGINT) AS flag
              FROM live4
              UNION ALL
              SELECT 'clone_txn', 'dv:part-5', CAST(count(*) AS BIGINT),
                CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM dv5),
            cread AS (
              SELECT 'clone_read' AS section, r.path AS item,
                CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents,
                CAST(0 AS BIGINT) AS flag
              FROM rws r LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos
              GROUP BY r.path),
            cafter AS (
              SELECT 'clone_after' AS section, r.path AS item,
                CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents,
                CAST(0 AS BIGINT) AS flag
              FROM rws r LEFT JOIN (SELECT * FROM dv5 UNION ALL SELECT * FROM dvc) d
                ON d.path = r.path AND d.pos = r.pos
              GROUP BY r.path),
            safter AS (
              SELECT 'src_after' AS section, r.path AS item,
                CAST(sum(CASE WHEN d.pos IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN d.pos IS NULL THEN r.cents ELSE 0 END) AS BIGINT) AS cents,
                CAST(0 AS BIGINT) AS flag
              FROM rws r LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos
              WHERE r.path <> 'part-4'
              GROUP BY r.path),
            hz AS (
              SELECT 'hazard' AS section, e.path AS item, e.n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(1 AS BIGINT) AS flag
              FROM (SELECT DISTINCT path, n_rows FROM acts2 WHERE op = 'add') e
              LEFT JOIN live5 r ON r.path = e.path
              JOIN live4 c ON c.path = e.path
              WHERE r.path IS NULL)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT * FROM ctxn
              UNION ALL SELECT * FROM cread
              UNION ALL SELECT * FROM cafter
              UNION ALL SELECT * FROM safter
              UNION ALL SELECT * FROM hz
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val baseActs = DeltaLog.actions(logBase).localCheckpoint()
      val live0 = DeltaLog.replay(baseActs)
      // source v4: a dv on part-5 — the clone must carry it or silently
      // resurrect the masked rows for every clone reader
      val srcActs5 = baseActs.unionByName(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3)))
        .localCheckpoint()
      // THE operator under test: zero-copy clone at v4
      val cloneV0 = DeltaLog.cloneActions(srcActs5, 4).localCheckpoint()
      // divergent writes: DELETE on the clone (dv), remove on the source
      val cloneActs1 = cloneV0.unionByName(
        DeltaLog.dvAction(DeltaLog.replay(cloneV0), "compact-0-1", 1, 0,
          sequence(lit(0L), lit(4L)))).localCheckpoint()
      val srcActs6 = srcActs5.unionByName(DeltaLog.removeAction(s, 5, 0, "part-4"))
        .localCheckpoint()
      // ONE positioned data pass feeds all three masked reads (live@v4 is
      // a path superset of every later cut on either log)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val positioned = positionedRows(DeltaLog.replay(srcActs5), obRows).localCheckpoint()
      def readOf(state: org.apache.spark.sql.DataFrame, section: String) = {
        val masks = DeltaLog.deletionVectors(state)
          .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
        positioned.join(broadcast(DeltaLog.replay(state).select("path")), Seq("path"))
          .join(broadcast(masks), Seq("path", "pos"), "left")
          .groupBy("path")
          .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_rows"),
            sum(when(col("hit").isNull, col("cents")).otherwise(0L)).as("cents"))
          .select(lit(section).as("section"), col("path").as("item"),
            col("n_rows").cast("long").as("n_rows"), col("cents").cast("long").as("cents"),
            lit(0L).as("flag"))
      }
      val txn = cloneV0.select(lit("clone_txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "dv", size(col("dv")).cast("long"))
          .otherwise(coalesce(col("n_rows"), lit(0L))).as("n_rows"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        col("ordinal").cast("long").as("flag"))
      val hz = DeltaLog.cloneBreakage(srcActs6, cloneActs1, 5)
        .select(lit("hazard").as("section"), col("path").as("item"),
          col("n_rows").cast("long").as("n_rows"), lit(0L).as("cents"), lit(1L).as("flag"))
      txn.unionByName(readOf(cloneV0, "clone_read"))
        .unionByName(readOf(cloneActs1, "clone_after"))
        .unionByName(readOf(srcActs6, "src_after"))
        .unionByName(hz)
        .orderBy("section", "item")
    })

  /** Row tracking — stable row ids through OPTIMIZE (the Delta
    * rowTracking feature, minWriter 7): v0 adds every bucket file with
    * fresh ids assigned batch-wise from the high-water mark (one
    * op='rids' segment map per add, riding the add's own coordinates),
    * plus the protocol action the feature requires; v1 compacts every
    * adjacent pair and PRESERVES ids by concatenating the sources'
    * segment maps shifted by row offset; v2 appends a file whose
    * o_orderkeys DUPLICATE bucket 3's — its rows must get FRESH ids
    * above the mark (stable ids identify physical rows, not key
    * values). `read0`/`read2` pin per-file id signatures at both cuts —
    * the oracle derives read2's compacted files from the SAME arithmetic
    * as read0 (base + in-bucket rank), so a compaction that renumbered a
    * single row hash-mismatches; `check` pins id uniqueness across the
    * duplicate-key append (distinct = total), the high-water mark, the
    * append's floor id = the pre-append mark, and the writer admission
    * at version 7. Work: TWO data passes (stats, positioned rows) +
    * one materialized id frame; maps and races are log-sized and the
    * per-row segment pick is an array expression, not a join. */
  val dl27RowTracking = Q("dl27_row_tracking",
    Some(s"""WITH $bucketBaseCtes,
            rws AS (
              SELECT o_orderkey // ${DeltaLog.W} AS bucket, o_orderkey,
                row_number() OVER (PARTITION BY o_orderkey // ${DeltaLog.W}
                  ORDER BY o_orderkey) - 1 AS pos
              FROM orders),
            rid0 AS (
              SELECT r.bucket, r.o_orderkey, b.base + r.pos AS rid
              FROM rws r JOIN base b USING (bucket)),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
            n3t AS (SELECT n_rows AS nb FROM bks WHERE bucket = 3),
            r0 AS (
              SELECT 'read0' AS section, 'part-' || bucket AS item,
                CAST(count(*) AS BIGINT) AS n1, CAST(sum(rid) AS BIGINT) AS n2,
                CAST(sum(rid * (o_orderkey % 97)) AS BIGINT) AS n3
              FROM rid0 GROUP BY bucket),
            binz AS (
              SELECT bucket, count(*) OVER (PARTITION BY bucket // 2) AS cnt FROM bks),
            paths2 AS (
              SELECT bucket, CASE WHEN cnt = 2
                THEN 'opt-' || (bucket - bucket % 2) || '-' || (bucket - bucket % 2 + 1)
                ELSE 'part-' || bucket END AS path
              FROM binz),
            r2 AS (
              SELECT 'read2' AS section, p.path AS item, CAST(count(*) AS BIGINT) AS n1,
                CAST(sum(r.rid) AS BIGINT) AS n2,
                CAST(sum(r.rid * (r.o_orderkey % 97)) AS BIGINT) AS n3
              FROM rid0 r JOIN paths2 p USING (bucket) GROUP BY p.path
              UNION ALL
              SELECT 'read2', 'append-0', CAST(count(*) AS BIGINT),
                CAST(sum(t.n + w.pos) AS BIGINT),
                CAST(sum((t.n + w.pos) * (w.o_orderkey % 97)) AS BIGINT)
              FROM rws w, tot t WHERE w.bucket = 3),
            chk AS (
              SELECT 'check' AS section, 'append_min' AS item, t.n AS n1, t.n AS n2,
                CAST(0 AS BIGINT) AS n3 FROM tot t
              UNION ALL SELECT 'check', 'hwm', t.n + x.nb, CAST(0 AS BIGINT),
                CAST(0 AS BIGINT) FROM tot t, n3t x
              UNION ALL SELECT 'check', 'unique', t.n + x.nb, t.n + x.nb,
                CAST(0 AS BIGINT) FROM tot t, n3t x
              UNION ALL SELECT 'check', 'writer7', CAST(7 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT))
            SELECT section, item, n1, n2, n3 FROM (
              SELECT * FROM r0 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM chk
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      // ONE orders scan for the whole gate: positioned rows AND the
      // per-bucket stats both derive from this frame (the first dl27
      // draft paid FOUR scans — logLines' three union branches re-ran
      // the bucket aggregation, from_json hiding the version filter
      // from branch pruning, plus a separate obRows pass; 6.5 → 4 s)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val (v0adds, acts0) = rowTrackedV0(s, obRows)
      // v1: compact every adjacent pair; file reshape + id maps in ONE
      // fused transaction (optimizeActionsTracked)
      val acts1 = acts0.unionByName(DeltaLog.optimizeActionsTracked(
        DeltaLog.replay(acts0), DeltaLog.ridSegments(acts0), 1))
      // v2: append bucket 3's rows AGAIN — duplicate keys, fresh ids
      val b3 = v0adds.filter(col("path") === "part-3")
        .select("n_rows", "min_key", "max_key", "cents")
      val add2 = DeltaLog.addAction(b3, 2, 0, "append-0", array(lit(3L)))
      // ONE log checkpoint at the head: six consumers (two id reads,
      // hwm, writer gate, replay) race over ~1.8k materialized lines
      val acts2 = acts1.unionByName(add2)
        .unionByName(DeltaLog.assignRidActions(acts1, add2))
        .coalesce(1).localCheckpoint()
      def idSig(ids: DataFrame, section: String) =
        ids.groupBy("path")
          .agg(count(lit(1)).as("n1"), sum("row_id").as("n2"),
            sum(col("row_id") * (col("o_orderkey") % 97)).as("n3"))
          .select(lit(section).as("section"), col("path").as("item"),
            col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
            col("n3").cast("long").as("n3"))
      // ONE positioned window (v0 files = one file per bucket, so pos0 is
      // the in-bucket rank); the v2 cut's positions derive ARITHMETICALLY
      // from it — a file concatenates whole buckets in key order, so
      // pos2 = pos0 + Σ n_rows of earlier buckets in the same file. That
      // kills the second data-sized sort the naive twin positionedRows
      // call would pay (6.5 s → ~4 s isolated at sf0.1).
      val positioned0 = positionedRows(DeltaLog.replay(acts0), obRows).localCheckpoint()
      val ids0 = DeltaLog.rowIds(acts0, positioned0)
      val live2 = DeltaLog.replay(acts2)
      val bucketMap = live2.select(col("path").as("path2"),
          posexplode(col("buckets")).as(Seq("bidx", "bucket")))
        .join(v0adds.select(element_at(col("buckets"), 1).as("bucket"),
          col("n_rows").as("b_rows"), col("path").as("path0")), Seq("bucket"))
      // offset of a bucket within its v2 file = rows of earlier buckets
      // (self-join cumsum over the log-sized bucket list, window-free)
      val prior = bucketMap.select(col("path2").as("o_path"), col("bidx").as("o_bidx"),
        col("b_rows").as("o_rows"))
      val offsets = bucketMap.join(broadcast(prior),
          col("o_path") === col("path2") && col("o_bidx") < col("bidx"), "left")
        .groupBy("path2", "path0")
        .agg(coalesce(sum("o_rows"), lit(0L)).as("off"))
      val positioned2 = positioned0.withColumnRenamed("path", "path0")
        .join(broadcast(offsets), Seq("path0"))
        .select(col("path2").as("path"), col("o_orderkey"), col("cents"),
          (col("pos") + col("off")).as("pos"))
      // ONE materialized id frame feeds the read2 signature, the
      // uniqueness audit, and the append floor row
      val ids2 = DeltaLog.rowIds(acts2, positioned2).localCheckpoint()
      val totRow = obRows.agg(count(lit(1)).cast("long").as("n"))
      val appendMin = ids2.filter(col("path") === "append-0")
        .agg(min("row_id").cast("long").as("n1"))
        .crossJoin(broadcast(totRow))
        .select(lit("check").as("section"), lit("append_min").as("item"),
          col("n1"), col("n").as("n2"), lit(0L).as("n3"))
      val uniq = ids2.agg(countDistinct(col("row_id")).cast("long").as("n1"),
          count(lit(1)).cast("long").as("n2"))
        .select(lit("check").as("section"), lit("unique").as("item"),
          col("n1"), col("n2"), lit(0L).as("n3"))
      val hwm = DeltaLog.ridHighWaterMark(acts2)
        .select(lit("check").as("section"), lit("hwm").as("item"),
          col("hwm").cast("long").as("n1"), lit(0L).as("n2"), lit(0L).as("n3"))
      // the admission gate is IN the hashed path: an under-versioned
      // table (or a raise) would break this row
      val writer = DeltaLog.requireWriter(acts2, 7)
        .select(lit("check").as("section"), lit("writer7").as("item"),
          col("min_writer").cast("long").as("n1"), lit(0L).as("n2"), lit(0L).as("n3"))
      idSig(ids0, "read0").unionByName(idSig(ids2, "read2"))
        .unionByName(appendMin).unionByName(uniq).unionByName(hwm).unionByName(writer)
        .orderBy("section", "item")
    })

  /** Type widening — ALTER COLUMN TYPE as a log-only meta transaction
    * (the Delta typeWidening feature; completes the schema-DDL verb set:
    * dl11 widening ADD, dl22 RENAME/DROP, dl29 ADD CONSTRAINT, here
    * TYPE): v4 maps both columns at INT, v5 widens price cents to
    * BIGINT, v6 widens the key — each flip is ONE meta action deriving
    * from the active mapping; no file is touched, which `files` pins
    * (identical live set at v3 and v6) and `read` proves (resolved
    * values identical under the widened types). The lattice guards —
    * narrowing and cross-family changes raise — are Round13Spec's. */
  val dl31TypeWidening = Q("dl31_type_widening",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            rows_ AS (
              SELECT o.o_orderkey, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
              FROM live f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            mapping(v, logical, typ, mv) AS (VALUES
              (4, 'k', 'INT', 4), (4, 'cents', 'INT', 4),
              (5, 'k', 'INT', 5), (5, 'cents', 'BIGINT', 5),
              (6, 'k', 'BIGINT', 6), (6, 'cents', 'BIGINT', 6)),
            readrows AS (
              SELECT 'k' AS logical, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS s FROM rows_
              UNION ALL SELECT 'cents', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM rows_)
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'mapping' AS section,
                'v' || CAST(v AS VARCHAR) || ':' || logical || ':' || typ AS item,
                CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS val,
                CAST(mv AS BIGINT) AS flag
              FROM mapping
              UNION ALL SELECT 'read', 'read@v6:' || logical, n, s, CAST(0 AS BIGINT)
              FROM readrows
              UNION ALL SELECT 'files', 'files@v' || CAST(v AS VARCHAR),
                CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT), CAST(0 AS BIGINT)
              FROM live, (VALUES (3), (6)) AS t2(v) GROUP BY t2.v
              UNION ALL SELECT 'gate', 'reader2_writer5_admitted',
                CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord)
      val protoV4 = DeltaLog.protocolAction(s, 4, -1, 2, 5)
      val metaV4 = DeltaLog.metaAction(s, 4, 0, DeltaLog.mappingSchemaStr(
        Seq(("k", "p_key", "INT"), ("cents", "p_cents", "INT"))))
      // v5/v6: two widenings derived THROUGH the active mapping
      val w5 = DeltaLog.widenColumn(metaV4, "cents", "BIGINT", 5, 0)
        .localCheckpoint() // feeds v6's input AND the committed log
      val w6 = DeltaLog.widenColumn(metaV4.unionByName(w5), "k", "BIGINT", 6, 0)
      val acts6 = DeltaLog.actions(logBase.unionByName(DeltaLog.toLines(
        protoV4.unionByName(metaV4).unionByName(w5).unionByName(w6))))
        .coalesce(1).localCheckpoint()
      val vers456 = s.range(4, 7).select(col("id").cast("int").as("v"))
      val mappingRows = DeltaLog.columnMappingGrid(acts6, vers456)
        .select(lit("mapping").as("section"),
          concat(lit("v"), col("v").cast("string"), lit(":"), col("logical_name"),
            lit(":"), col("col_type")).as("item"),
          lit(0L).as("n_rows"), lit(0L).as("val"),
          col("mapping_version").cast("long").as("flag"))
      // resolved read at v6: the same physical values under widened types
      val live = DeltaLog.replay(acts6)
      val rows = live.select(col("path"), explode(col("buckets")).as("bucket"))
        .join(ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents")),
          Seq("bucket"))
      val melted = rows.select(explode(array(
        struct(lit("p_key").as("physical_name"), col("o_orderkey").as("value")),
        struct(lit("p_cents").as("physical_name"), col("cents").as("value")))).as("m"))
        .select("m.*")
      val readRows = DeltaLog.resolvePhysical(melted,
          DeltaLog.columnMapping(acts6).select("physical_name", "logical_name"))
        .groupBy("logical_name")
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
        .select(lit("read").as("section"),
          concat(lit("read@v6:"), col("logical_name")).as("item"),
          col("n").cast("long").as("n_rows"), col("s").cast("long").as("val"),
          lit(0L).as("flag"))
      val vers36 = s.range(1).select(explode(array(lit(3), lit(6))).as("v"))
      val files = DeltaLog.replayGrid(acts6, vers36)
        .groupBy("v").agg(count(lit(1)).as("nf"), sum("n_rows").as("nr"))
        .select(lit("files").as("section"),
          concat(lit("files@v"), col("v").cast("string")).as("item"),
          col("nf").cast("long").as("n_rows"), col("nr").cast("long").as("val"),
          lit(0L).as("flag"))
      val gates = DeltaLog.requireReader(acts6, 2)
        .crossJoin(broadcast(DeltaLog.requireWriter(acts6, 5)))
        .select(lit("gate").as("section"), lit("reader2_writer5_admitted").as("item"),
          col("min_reader").cast("long").as("n_rows"),
          col("min_writer").cast("long").as("val"), lit(1L).as("flag"))
      mappingRows.unionByName(readRows).unionByName(files).unionByName(gates)
        .orderBy("section", "item")
    })

  /** Generated-column coverage enforced at commit (Delta
    * generatedColumns on the model's one derived column — bucket =
    * floor(key/W)): v4 declares `gen.buckets=key_div_w` as a table
    * property; v5 commits an append and v6 the engine's own OPTIMIZE
    * THROUGH the enforcement — conforming coverage passes (the opt adds
    * carry sequence(lo,hi), exactly the contiguity the check demands);
    * the corrupted-coverage raise (endpoints or contiguity lies) is
    * Round13Spec's. Pins the enforced commits and the final live set.
    * Log-sized: the check is per-add arithmetic against a broadcast
    * 0/1-row flag. */
  val dl32GeneratedCoverage = Q("dl32_generated_coverage",
    Some(s"""WITH ${DeltaLog.actionsSql},
            b4 AS (SELECT * FROM bks WHERE bucket = 4),
            live4 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            parts AS (
              SELECT path, b_lo, n_rows, min_key, max_key, cents
              FROM live4 WHERE path LIKE 'part-%' AND b_lo = b_hi),
            bins AS (
              SELECT b_lo // 2 AS bin, count(*) AS nf, min(b_lo) AS lo, max(b_lo) AS hi,
                CAST(sum(n_rows) AS BIGINT) AS n_rows, min(min_key) AS min_key,
                max(max_key) AS max_key, CAST(sum(cents) AS BIGINT) AS cents
              FROM parts GROUP BY 1 HAVING count(*) = 2),
            acts2 AS (
              SELECT version, ordinal, op, path, n_rows, cents FROM acts
              UNION ALL SELECT 5, 0, 'add', 'append-4', n_rows, cents FROM b4
              UNION ALL SELECT 6, CAST(lo AS INT), 'remove', 'part-' || lo,
                NULL, NULL FROM bins
              UNION ALL SELECT 6, CAST(hi AS INT), 'remove', 'part-' || hi,
                NULL, NULL FROM bins
              UNION ALL SELECT 6, CAST(1000 + lo AS INT), 'add',
                'opt-' || lo || '-' || hi, n_rows, cents FROM bins),
            commits AS (
              SELECT 'commit' AS section, 'v5:add:append-4' AS item, n_rows AS n1, cents AS n2
              FROM b4
              UNION ALL SELECT 'commit', 'v6:add:opt-' || lo || '-' || hi, n_rows, cents
              FROM bins),
            live AS (
              SELECT 'live' AS section, path AS item, n_rows AS n1, cents AS n2 FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t WHERE rn = 1 AND op = 'add'),
            propr AS (
              SELECT 'props' AS section, 'gen.buckets=key_div_w' AS item,
                CAST(4 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2)
            SELECT section, item, n1, n2 FROM (
              SELECT * FROM commits UNION ALL SELECT * FROM live
              UNION ALL SELECT * FROM propr
            ) t ORDER BY section, item"""),
    (s, d) => {
      val baseActs = DeltaLog.actions(DeltaLog.logLines(orders(s, d)))
        .coalesce(1).localCheckpoint()
      val acts4 = baseActs.unionByName(
        DeltaLog.setPropAction(baseActs, "gen.buckets", "key_div_w", 4, 0))
        .coalesce(1).localCheckpoint()
      // v5: a conforming append THROUGH the enforcement. Both enforced
      // txns are MATERIALIZED once (log-sized): each has two consumers
      // (the committed log and its commit-section rows), and the
      // optimize derivation re-run per consumer was the whole 5.4 s
      val b4 = baseActs.filter(col("op") === "add" && col("path") === "part-4")
        .select("n_rows", "min_key", "max_key", "cents")
      val add5 = DeltaLog.enforceGeneratedCoverage(acts4,
        DeltaLog.addAction(b4, 5, 0, "append-4", array(lit(4L))))
        .coalesce(1).localCheckpoint()
      val acts5 = acts4.unionByName(add5)
      // v6: the engine's own OPTIMIZE, also through the enforcement —
      // its sequence(lo,hi) coverage satisfies the generated contract
      val opt6 = DeltaLog.enforceGeneratedCoverage(acts5,
        DeltaLog.optimizeActions(DeltaLog.replay(baseActs), 6))
        .coalesce(1).localCheckpoint()
      val acts6 = acts5.unionByName(opt6)
      val commitRows = add5.filter(col("op") === "add")
        .select(lit("commit").as("section"),
          concat(lit("v5:add:"), col("path")).as("item"),
          col("n_rows").cast("long").as("n1"), col("cents").cast("long").as("n2"))
        .unionByName(opt6.filter(col("op") === "add")
          .select(lit("commit").as("section"),
            concat(lit("v6:add:"), col("path")).as("item"),
            col("n_rows").cast("long").as("n1"), col("cents").cast("long").as("n2")))
      val liveRows = DeltaLog.replay(acts6)
        .select(lit("live").as("section"), col("path").as("item"),
          col("n_rows").cast("long").as("n1"), col("cents").cast("long").as("n2"))
      val propRows = DeltaLog.activeProps(acts6)
        .filter(col("key") === "gen.buckets")
        .select(lit("props").as("section"),
          concat(col("key"), lit("="), col("value")).as("item"),
          col("props_version").cast("long").as("n1"), lit(0L).as("n2"))
      commitRows.unionByName(liveRows).unionByName(propRows)
        .orderBy("section", "item")
    })

  /** Copy-on-write DELETE on a row-tracked table — the OTHER delete
    * path (dl17 is merge-on-read via masks; engines pick per table):
    * survivors are rewritten into `cow-` files, positions renumber, and
    * the stable ids are MATERIALIZED into split segment maps (the
    * gaps-and-islands derivation — the case compactRidActions refuses).
    * The predicate kills every 7th key in buckets 2–3 (partial → remove
    * + cow add + split rids) and ALL of bucket 5 (full → bare remove).
    * `txn` pins the transaction shape incl. survivor stats and segment
    * counts; `seg` pins every committed segment of both cow files
    * (pos/rid/len — one renumbered row breaks a row); `read` pins
    * post-delete per-file id signatures THROUGH the committed maps
    * (survivors keep their original ids; untouched files unchanged);
    * `check` pins global id uniqueness, total = N − deleted, and the
    * high-water mark UNCHANGED at N (ids of deleted rows retire, never
    * recycle). Work: the survivor pass is the rewrite's own data pass;
    * races and maps are log-sized. */
  val dl30CowDelete = Q("dl30_cow_delete_tracked",
    Some(s"""WITH $bucketBaseCtes,
            rws AS (
              SELECT o_orderkey // ${DeltaLog.W} AS bucket, o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY o_orderkey // ${DeltaLog.W}
                  ORDER BY o_orderkey) - 1 AS pos
              FROM orders),
            rid0 AS (
              SELECT r.bucket, r.o_orderkey, r.cents, r.pos, b.base + r.pos AS rid
              FROM rws r JOIN base b USING (bucket)),
            del AS (
              SELECT *, (bucket IN (2, 3) AND o_orderkey % 7 = 3) OR bucket = 5 AS f
              FROM rid0),
            tstats AS (
              SELECT bucket,
                CAST(count(*) AS BIGINT) AS n_all,
                CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
                CAST(sum(CASE WHEN f THEN 0 ELSE cents END) AS BIGINT) AS s_cents
              FROM del GROUP BY bucket HAVING sum(CASE WHEN f THEN 1 ELSE 0 END) > 0),
            surv AS (
              SELECT bucket, rid, cents, o_orderkey,
                row_number() OVER (PARTITION BY bucket ORDER BY pos) - 1 AS new_pos
              FROM del WHERE NOT f AND bucket IN (2, 3)),
            isl AS (
              SELECT bucket, rid - new_pos AS k, CAST(min(new_pos) AS BIGINT) AS pos,
                CAST(min(rid) AS BIGINT) AS rid, CAST(count(*) AS BIGINT) AS len
              FROM surv GROUP BY bucket, rid - new_pos),
            txn AS (
              SELECT 'txn' AS section, 'remove:part-' || bucket AS item,
                CAST(0 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n3
              FROM tstats
              UNION ALL
              SELECT 'txn', 'add:cow-part-' || bucket, n_all - n_del, s_cents, CAST(0 AS BIGINT)
              FROM tstats WHERE n_del < n_all
              UNION ALL
              SELECT 'txn', 'rids:cow-part-' || bucket, CAST(count(*) AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM isl GROUP BY bucket),
            segr AS (
              SELECT 'seg' AS section,
                'cow-part-' || bucket || '#' || CAST(row_number()
                  OVER (PARTITION BY bucket ORDER BY pos) - 1 AS VARCHAR) AS item,
                pos AS n1, rid AS n2, len AS n3
              FROM isl),
            readr AS (
              SELECT 'read' AS section, 'part-' || bucket AS item,
                CAST(count(*) AS BIGINT) AS n1, CAST(sum(rid) AS BIGINT) AS n2,
                CAST(sum(rid * (o_orderkey % 97)) AS BIGINT) AS n3
              FROM rid0 WHERE bucket NOT IN (2, 3, 5) GROUP BY bucket
              UNION ALL
              SELECT 'read', 'cow-part-' || bucket, CAST(count(*) AS BIGINT),
                CAST(sum(rid) AS BIGINT), CAST(sum(rid * (o_orderkey % 97)) AS BIGINT)
              FROM surv GROUP BY bucket),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
            ndel AS (SELECT CAST(count(*) AS BIGINT) AS n FROM del WHERE f),
            chk AS (
              SELECT 'check' AS section, 'unique' AS item, t.n - d.n AS n1, t.n - d.n AS n2,
                CAST(0 AS BIGINT) AS n3 FROM tot t, ndel d
              UNION ALL SELECT 'check', 'hwm', t.n, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM tot t
              UNION ALL SELECT 'check', 'deleted', d.n, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM ndel d)
            SELECT section, item, n1, n2, n3 FROM (
              SELECT * FROM txn UNION ALL SELECT * FROM segr
              UNION ALL SELECT * FROM readr UNION ALL SELECT * FROM chk
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val (_, acts0) = rowTrackedV0(s, obRows)
      val live0 = DeltaLog.replay(acts0)
      val positioned0 = positionedRows(live0, obRows).localCheckpoint()
      val bkt = floor(col("o_orderkey") / DeltaLog.W)
      val pred = (bkt.isin(2, 3) && col("o_orderkey") % 7 === 3) || bkt === 5
      // THE operator under test: COW delete with id materialization
      val del1 = DeltaLog.deleteActionsTracked(live0, DeltaLog.ridSegments(acts0),
        positioned0, pred, 1).coalesce(1).localCheckpoint()
      val acts1 = acts0.unionByName(del1).coalesce(1).localCheckpoint()
      val txnRows = del1.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "add", col("n_rows"))
          .when(col("op") === "rids",
            size(split(col("schema_str"), ";")).cast("long")).otherwise(0L).as("n1"),
        when(col("op") === "add", col("cents")).otherwise(0L).as("n2"),
        lit(0L).as("n3"))
      // every committed segment of both cow files, through the race
      val segRows = DeltaLog.ridSegments(acts1)
        .filter(col("path").startsWith("cow-"))
        .select(col("path"), posexplode(col("segs")).as(Seq("i", "seg")))
        .select(lit("seg").as("section"),
          concat(col("path"), lit("#"), col("i")).as("item"),
          col("seg.pos").as("n1"), col("seg.rid").as("n2"), col("seg.len").as("n3"))
      // post-delete read: survivors re-positioned per the cow convention
      // (the same renumbering the rewrite wrote), ids THROUGH the
      // committed maps
      val live1 = DeltaLog.replay(acts1).localCheckpoint()
      val cowSrc = live1.filter(col("path").startsWith("cow-"))
        .select(expr("substring(path, 5)").as("path"), col("path").as("path_cow"))
      val survPos = positioned0.join(broadcast(cowSrc), Seq("path"))
        .filter(!pred)
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("path_cow")).orderBy(col("o_orderkey"))).cast("long") - 1)
        .select(col("path_cow").as("path"), col("o_orderkey"), col("cents"), col("pos"))
      val untouched = positioned0.join(
        broadcast(live1.filter(!col("path").startsWith("cow-")).select("path")), Seq("path"))
      val ids1 = DeltaLog.rowIds(acts1, untouched.unionByName(survPos)).localCheckpoint()
      val readRows = ids1.groupBy("path")
        .agg(count(lit(1)).as("n1"), sum("row_id").as("n2"),
          sum(col("row_id") * (col("o_orderkey") % 97)).as("n3"))
        .select(lit("read").as("section"), col("path").as("item"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          col("n3").cast("long").as("n3"))
      val uniq = ids1.agg(countDistinct(col("row_id")).cast("long").as("n1"),
          count(lit(1)).cast("long").as("n2"))
        .select(lit("check").as("section"), lit("unique").as("item"),
          col("n1"), col("n2"), lit(0L).as("n3"))
      val hwm = DeltaLog.ridHighWaterMark(acts1)
        .select(lit("check").as("section"), lit("hwm").as("item"),
          col("hwm").cast("long").as("n1"), lit(0L).as("n2"), lit(0L).as("n3"))
      val deleted = positioned0.filter(pred)
        .agg(count(lit(1)).cast("long").as("n1"))
        .select(lit("check").as("section"), lit("deleted").as("item"),
          col("n1"), lit(0L).as("n2"), lit(0L).as("n3"))
      txnRows.unionByName(segRows).unionByName(readRows)
        .unionByName(uniq).unionByName(hwm).unionByName(deleted)
        .orderBy("section", "item")
    })

  /** Table properties as a versioned configuration map + the
    * appendOnly writer feature (Delta TBLPROPERTIES / delta.appendOnly):
    * SET owner (v4), SET appendOnly=true (v5), an APPEND committed
    * through the enforcement while the restriction is active (v6 — adds
    * pass), UNSET appendOnly (v7), then a remove committed through the
    * SAME enforcement now that the restriction is lifted (v8). The
    * `props` section pins the ACTIVE map per version from ONE grid pass
    * (latest-wins singleton race; SET derives the new map from the old —
    * v5's payload must contain BOTH keys, sorted); `commit` rows hash
    * the ENFORCED transactions (the enforcement join is in the hashed
    * path — a vacuous enforcement would still pass, which is why the
    * REJECTION twin lives in Round13Spec as raise tests); `live` pins
    * the final file set. Log-sized throughout: props parse is
    * spec-sized, enforcement is a broadcast of a 0/1-row flag. */
  val dl28TableProps = Q("dl28_table_props",
    Some(s"""WITH ${DeltaLog.actionsSql},
            b2 AS (SELECT * FROM bks WHERE bucket = 2),
            props AS (
              SELECT 'props' AS section, 'v4' AS item, 'owner=graft' AS val_s,
                CAST(4 AS BIGINT) AS n1
              UNION ALL SELECT 'props', 'v5', 'appendOnly=true;owner=graft', 5
              UNION ALL SELECT 'props', 'v6', 'appendOnly=true;owner=graft', 5
              UNION ALL SELECT 'props', 'v7', 'owner=graft', 7
              UNION ALL SELECT 'props', 'v8', 'owner=graft', 7),
            commits AS (
              SELECT 'commit' AS section, 'v6:add:append-2' AS item, '' AS val_s, n_rows AS n1
              FROM b2
              UNION ALL SELECT 'commit', 'v8:remove:part-4', '', CAST(0 AS BIGINT)),
            acts2 AS (
              SELECT version, ordinal, op, path, n_rows FROM acts
              UNION ALL SELECT 6, 0, 'add', 'append-2', n_rows FROM b2
              UNION ALL SELECT 8, 0, 'remove', 'part-4', NULL),
            live AS (
              SELECT 'live' AS section, path AS item, '' AS val_s, n_rows AS n1 FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t WHERE rn = 1 AND op = 'add')
            SELECT section, item, val_s, n1 FROM (
              SELECT * FROM props
              UNION ALL SELECT * FROM commits
              UNION ALL SELECT * FROM live
            ) t ORDER BY section, item"""),
    (s, d) => {
      val baseActs = DeltaLog.actions(DeltaLog.logLines(orders(s, d))).localCheckpoint()
      val acts4 = baseActs.unionByName(
        DeltaLog.setPropAction(baseActs, "owner", "graft", 4, 0)).localCheckpoint()
      val acts5 = acts4.unionByName(
        DeltaLog.setPropAction(acts4, "appendOnly", "true", 5, 0)).localCheckpoint()
      // the v6 append goes THROUGH enforceAppendOnly while the
      // restriction is active — adds must pass (and the guard branch is
      // in the committed lineage, so an over-eager guard would detonate
      // in every section below)
      val b2 = baseActs.filter(col("op") === "add" && col("path") === "part-2")
        .select("n_rows", "min_key", "max_key", "cents")
      val add6 = DeltaLog.enforceAppendOnly(acts5,
        DeltaLog.addAction(b2, 6, 0, "append-2", array(lit(2L))))
      val acts6 = acts5.unionByName(add6).localCheckpoint()
      val acts7 = acts6.unionByName(
        DeltaLog.unsetPropAction(acts6, "appendOnly", 7, 0)).localCheckpoint()
      // the v8 remove goes through the SAME enforcement — now lifted
      val rm8 = DeltaLog.enforceAppendOnly(acts7, DeltaLog.removeAction(s, 8, 0, "part-4"))
      val acts8 = acts7.unionByName(rm8).localCheckpoint()
      val vers = s.range(4, 9).select(col("id").cast("int").as("v"))
      val propRows = DeltaLog.activeOpGrid(acts8, vers, "props")
        .select(lit("props").as("section"), concat(lit("v"), col("v")).as("item"),
          col("schema_str").as("val_s"), col("version").cast("long").as("n1"))
      val commitRows = add6.filter(col("op") === "add")
        .select(lit("commit").as("section"),
          concat(lit("v6:add:"), col("path")).as("item"), lit("").as("val_s"),
          col("n_rows").cast("long").as("n1"))
        .unionByName(rm8.filter(col("op") === "remove")
          .select(lit("commit").as("section"),
            concat(lit("v8:remove:"), col("path")).as("item"), lit("").as("val_s"),
            lit(0L).as("n1")))
      val liveRows = DeltaLog.replay(acts8)
        .select(lit("live").as("section"), col("path").as("item"), lit("").as("val_s"),
          col("n_rows").cast("long").as("n1"))
      propRows.unionByName(commitRows).unionByName(liveRows)
        .orderBy("section", "item")
    })

  /** ALTER TABLE ADD CONSTRAINT with existing-data validation (Delta
    * validates every existing row before admitting a CHECK constraint;
    * the committed per-file stats are the scannable summary here): two
    * DDLs land against conforming data (v4 `c1:n_rows:min:1`, v5
    * appending `c2:cents:min:1` to the ACTIVE spec — the combined
    * payload is the pinned proof the ADD derives from the old spec, not
    * replaces it), then an append commits THROUGH the combined
    * enforcement at v6. `spec` pins the active payload per version from
    * one grid pass; `checks` pins non-vacuity — each constraint
    * evaluated against every live file (count = constraints × live
    * set); the REFUSAL twin (adding a constraint existing data already
    * violates) is Round13Spec's raise test. Log-sized: live LIST ×
    * spec-sized melt. */
  val dl29AddConstraint = Q("dl29_add_constraint",
    Some(s"""WITH ${DeltaLog.actionsSql},
            b2 AS (SELECT * FROM bks WHERE bucket = 2),
            acts2 AS (
              SELECT version, ordinal, op, path, n_rows FROM acts
              UNION ALL SELECT 6, 0, 'add', 'append-2', n_rows FROM b2),
            live AS (
              SELECT path, n_rows FROM (
                SELECT *, row_number() OVER (PARTITION BY path
                  ORDER BY version DESC, ordinal DESC) AS rn
                FROM acts2) t WHERE rn = 1 AND op = 'add'),
            nlive AS (SELECT CAST(count(*) AS BIGINT) AS n FROM live),
            spec AS (
              SELECT 'spec' AS section, 'v4' AS item, 'c1:n_rows:min:1' AS val_s,
                CAST(4 AS BIGINT) AS n1
              UNION ALL SELECT 'spec', 'v5', 'c1:n_rows:min:1;c2:cents:min:1', 5
              UNION ALL SELECT 'spec', 'v6', 'c1:n_rows:min:1;c2:cents:min:1', 5),
            chk AS (
              SELECT 'checks' AS section, 'c1' AS item, '' AS val_s, n AS n1 FROM nlive
              UNION ALL SELECT 'checks', 'c2', '', n FROM nlive),
            commitr AS (
              SELECT 'commit' AS section, 'v6:add:append-2' AS item, '' AS val_s,
                n_rows AS n1 FROM b2),
            liver AS (
              SELECT 'live' AS section, path AS item, '' AS val_s, n_rows AS n1 FROM live)
            SELECT section, item, val_s, n1 FROM (
              SELECT * FROM spec UNION ALL SELECT * FROM chk
              UNION ALL SELECT * FROM commitr UNION ALL SELECT * FROM liver
            ) t ORDER BY section, item"""),
    (s, d) => {
      val baseActs = DeltaLog.actions(DeltaLog.logLines(orders(s, d)))
        .coalesce(1).localCheckpoint()
      // THE operator under test, twice: the second ADD must derive its
      // payload from the first's (validated against live stats each time)
      val acts4 = baseActs.unionByName(
        DeltaLog.addConstraintValidated(baseActs, "c1:n_rows:min:1", 4, 0))
      val acts5 = acts4.unionByName(
        DeltaLog.addConstraintValidated(acts4, "c2:cents:min:1", 5, 0))
        .coalesce(1).localCheckpoint()
      val b2 = baseActs.filter(col("op") === "add" && col("path") === "part-2")
        .select("n_rows", "min_key", "max_key", "cents")
      val add6 = DeltaLog.enforceInvariants(acts5,
        DeltaLog.addAction(b2, 6, 0, "append-2", array(lit(2L))))
      val acts6 = acts5.unionByName(add6).coalesce(1).localCheckpoint()
      val vers = s.range(4, 7).select(col("id").cast("int").as("v"))
      val specRows = DeltaLog.activeOpGrid(acts6, vers, "constraint")
        .select(lit("spec").as("section"), concat(lit("v"), col("v")).as("item"),
          col("schema_str").as("val_s"), col("version").cast("long").as("n1"))
      val checkRows = DeltaLog.invariantChecks(acts6,
          DeltaLog.replay(acts6).withColumn("op", lit("add")))
        .groupBy("c_name")
        .agg(count(lit(1)).as("n1"))
        .select(lit("checks").as("section"), col("c_name").as("item"),
          lit("").as("val_s"), col("n1").cast("long").as("n1"))
      val commitRows = add6.filter(col("op") === "add")
        .select(lit("commit").as("section"),
          concat(lit("v6:add:"), col("path")).as("item"), lit("").as("val_s"),
          col("n_rows").cast("long").as("n1"))
      val liveRows = DeltaLog.replay(acts6)
        .select(lit("live").as("section"), col("path").as("item"), lit("").as("val_s"),
          col("n_rows").cast("long").as("n1"))
      specRows.unionByName(checkRows).unionByName(commitRows).unionByName(liveRows)
        .orderBy("section", "item")
    })

  /** Idempotent streaming transactional sink (dl33 — the ref's S8
    * upload loop `backend/main.py:233-332` as a real exactly-once
    * writer, Delta's txn appId/version actions): app-A commits epochs
    * 0,1,2 (one appended file each) through
    * `DeltaLog.commitEpochIdempotent`, with epoch 1 REPLAYED mid-stream
    * — the checkpoint-restart duplicate — which must be a no-op (no
    * file lands, no version burns); app-B's independent epoch 0 shows per-app
    * fencing (B's marker never shadows A's). The gate pins every
    * decision (committed target version / skipped), the txn marker rows
    * read back from the settled log, each app's last committed epoch,
    * and the final live set (ep-1 present ONCE — the oracle computes it
    * from bucket arithmetic, so a double-apply hash-mismatches). */
  val dl33StreamTxnSink = Q("dl33_stream_txn_sink",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            eps AS (SELECT bucket, n_rows, cents FROM bks WHERE bucket <= 2),
            epb AS (SELECT n_rows, cents FROM bks WHERE bucket = 3),
            dec(item, ep, target, committed) AS (VALUES
              ('A:e0:committed', 0, 4, 1),
              ('A:e1:committed', 1, 5, 1),
              ('A:e1:skipped_duplicate', 1, -1, 0),
              ('A:e2:committed', 2, 6, 1),
              ('B:e0:committed', 0, 7, 1),
              ('B:e0:skipped_duplicate', 0, -1, 0))
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'decision' AS section, item, CAST(ep AS BIGINT) AS n_rows,
                CAST(target AS BIGINT) AS val, CAST(committed AS BIGINT) AS flag
              FROM dec
              UNION ALL
              SELECT 'txn', '_txn:app-A@' || CAST(bucket AS VARCHAR),
                CAST(bucket AS BIGINT), CAST(0 AS BIGINT), CAST(bucket + 4 AS BIGINT)
              FROM eps
              UNION ALL SELECT 'txn', '_txn:app-B@0', CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(7 AS BIGINT)
              UNION ALL SELECT 'last', 'app-A', CAST(2 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'last', 'app-B', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'post', path, n_rows, cents, CAST(0 AS BIGINT) FROM (
                SELECT path, n_rows, cents FROM live3
                UNION ALL SELECT 'ep-' || CAST(bucket AS VARCHAR), n_rows, cents FROM eps
                UNION ALL SELECT 'epB-0', n_rows, cents FROM epb) t2
            ) t ORDER BY section, item"""),
    (s, d) => {
      import s.implicits._
      val ord = orders(s, d)
      val acts3 = DeltaLog.actions(DeltaLog.logLines(ord)).coalesce(1).localCheckpoint()
      // per-bucket stats from the v0 add actions — logLines already paid
      // the orders aggregation; a DeltaLog.buckets(ord) here would scan
      // the data a second time for numbers the log carries (dl13 lesson)
      val b = acts3.filter(col("version") === 0 && col("op") === "add")
        .select(element_at(col("buckets"), 1).as("bucket"), col("n_rows"),
          col("min_key"), col("max_key"), col("cents"))
      def epAdd(bucket: Int, path: String) = DeltaLog.addAction(
        b.filter(col("bucket") === bucket).select("n_rows", "min_key", "max_key", "cents"),
        90, 1000, path, array(lit(bucket.toLong)))
      // the foreachBatch loop's driver shape: probe + commit per epoch,
      // all log-sized; the duplicate delivery (A:e1 again — exactly what
      // a checkpoint restart re-sends) must leave the log untouched
      var acts = acts3; var head = 3
      val outs = scala.collection.mutable.Buffer.empty[(String, DeltaLog.EpochOutcome)]
      def run(app: String, ep: Long, txn: org.apache.spark.sql.DataFrame): Unit = {
        val (a2, out) = DeltaLog.commitEpochIdempotent(acts, txn, app, ep, head)
        if (out.outcome == "committed") head += 1
        acts = a2; outs += ((app.takeRight(1), out))
      }
      run("app-A", 0, epAdd(0, "ep-0"))
      run("app-A", 1, epAdd(1, "ep-1"))
      run("app-A", 1, epAdd(1, "ep-1-dup")) // the replay: must never land
      run("app-A", 2, epAdd(2, "ep-2"))
      run("app-B", 0, epAdd(3, "epB-0"))
      run("app-B", 0, epAdd(3, "epB-0-dup"))
      val decisions = outs.toSeq.map { case (w, o) =>
        val target = o.attempts.lastOption.map(_.target.toLong).getOrElse(-1L)
        (s"$w:e${o.epoch}:${o.outcome}", o.epoch, target,
          if (o.outcome == "committed") 1L else 0L)
      }.toDF("item", "n_rows", "val", "flag")
        .select(lit("decision").as("section"), col("item"), col("n_rows"),
          col("val"), col("flag"))
      val txnRows = acts.filter(col("op") === "txn")
        .select(lit("txn").as("section"),
          concat(col("path"), lit("@"), col("schema_str")).as("item"),
          col("schema_str").cast("long").as("n_rows"), lit(0L).as("val"),
          col("version").cast("long").as("flag"))
      val lastRows = Seq("app-A", "app-B").map { app =>
        DeltaLog.lastTxnVersion(acts, app)
          .select(lit("last").as("section"), lit(app).as("item"),
            col("last_txn_version").as("n_rows"), lit(0L).as("val"), lit(0L).as("flag"))
      }.reduce(_ unionByName _)
      val post = DeltaLog.replay(acts).select(lit("post").as("section"),
        col("path").as("item"), col("n_rows"), col("cents").as("val"), lit(0L).as("flag"))
      decisions.unionByName(txnRows).unionByName(lastRows).unionByName(post)
        .orderBy("section", "item")
    })

  /** MERGE with the full three-branch surface (dl34 — Delta 2.4's WHEN
    * NOT MATCHED BY SOURCE, the sync-a-dimension verb): v4 pre-masks
    * part-5 (pos % 7 = 3, the dl17 fixture), then v5 merges a source of
    * {every key ≡ 0 (mod 3), cents+7} ∪ {5 brand-new keys} into the
    * table through `DeltaLog.mergeActionsBySource` — matched rows leave
    * and return updated in `mrg-upd`, the 5 source-only rows insert as
    * `mrg-ins`, and target rows ABSENT from the source satisfying the
    * NMBS condition (key % 5 = 1) are deleted in the SAME transaction.
    * Pre-masked rows are untouchable by every branch. The gate pins the
    * transaction rows, per-file post state, CDF for all THREE change
    * kinds (update pre/post, delete, insert), and ground truth: the
    * post-merge rowset signature ≡ the oracle's direct full-outer CASE
    * merge — computed by a DIFFERENT derivation, so a branch leak
    * (NMBS rows smuggled into the rewrite, an update lost) cannot pass. */
  val dl34MergeBySource = Q("dl34_merge_by_source",
    Some(s"""WITH ${DeltaLog.actionsSql},
            $positionedRowsCtes,
            predv AS (SELECT path, pos FROM rws4 WHERE path = 'part-5' AND pos % 7 = 3),
            liverows AS (
              SELECT r.* FROM rws4 r LEFT JOIN predv p
                ON p.path = r.path AND p.pos = r.pos WHERE p.pos IS NULL),
            mx AS (SELECT max(o_orderkey) AS mk FROM orders),
            ins AS (SELECT mk + i AS o_orderkey, CAST(100 * i AS BIGINT) AS cents
                    FROM mx, range(1, 6) t(i)),
            upd AS (SELECT path, pos, o_orderkey, cents + 7 AS cents
                    FROM liverows WHERE o_orderkey % 3 = 0),
            nmbs AS (SELECT path, pos, o_orderkey, cents FROM liverows
                     WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 1),
            predpos AS (
              SELECT path, pos FROM rws4
              WHERE o_orderkey % 3 = 0 OR (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 1)),
            newly AS (
              SELECT n.path, n.pos FROM predpos n LEFT JOIN predv p
                ON p.path = n.path AND p.pos = n.pos WHERE p.pos IS NULL),
            touched AS (SELECT DISTINCT path FROM newly),
            merged AS (
              SELECT u.path, u.pos FROM (
                SELECT path, pos FROM predpos UNION SELECT path, pos FROM predv) u
              WHERE u.path IN (SELECT path FROM touched)),
            masks AS (SELECT path, CAST(count(*) AS BIGINT) AS n_masked
                      FROM merged GROUP BY path),
            dv5 AS (
              SELECT path, pos FROM merged
              UNION ALL SELECT path, pos FROM predv
              WHERE path NOT IN (SELECT path FROM touched)),
            oldrows AS (
              SELECT r.path, r.o_orderkey, r.cents FROM rws4 r
              LEFT JOIN dv5 d ON d.path = r.path AND d.pos = r.pos WHERE d.pos IS NULL),
            ${sigCte("updstat", "upd")},
            ${sigCte("nmbsstat", "nmbs")},
            ${sigCte("insstat", "ins")},
            postall AS (
              SELECT path, o_orderkey, cents FROM oldrows
              UNION ALL SELECT 'mrg-upd', o_orderkey, cents FROM upd
              UNION ALL SELECT 'mrg-ins', o_orderkey, cents FROM ins),
            post AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents_live
              FROM postall GROUP BY path),
            mergecte AS (
              SELECT o_orderkey,
                cents + CASE WHEN o_orderkey % 3 = 0 THEN 7 ELSE 0 END AS cents
              FROM liverows
              WHERE o_orderkey % 3 = 0 OR NOT (o_orderkey % 5 = 1)
              UNION ALL SELECT o_orderkey, cents FROM ins),
            ${sigCte("sig1", "postall")},
            ${sigCte("sig2", "mergecte")}
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'dv:' || path AS item, n_masked AS n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(0 AS BIGINT) AS flag FROM masks
              UNION ALL SELECT 'txn', 'add:mrg-upd', n, c, CAST(1 AS BIGINT) FROM updstat
              UNION ALL SELECT 'txn', 'add:mrg-ins', n, c, CAST(1 AS BIGINT) FROM insstat
              UNION ALL SELECT 'post', path, n_live, cents_live, CAST(0 AS BIGINT) FROM post
              UNION ALL SELECT 'cdf', 'update_preimage', n, c - 7 * n, k FROM updstat
              UNION ALL SELECT 'cdf', 'update_postimage', n, c, k FROM updstat
              UNION ALL SELECT 'cdf', 'delete', n, c, k FROM nmbsstat
              UNION ALL SELECT 'cdf', 'insert', n, c, k FROM insstat
              ${checkRowsSql("sig1", "post_rowset", "sig2", "merge_cte")}
            ) t ORDER BY section, item"""),
    (s, d) => {
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val live0 = DeltaLog.snapshot(logBase)
      val log4 = logBase.unionByName(DeltaLog.toLines(
        DeltaLog.dvAction(live0, "part-5", 4, 0,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))))
      val acts4 = DeltaLog.actions(log4).coalesce(1).localCheckpoint()
      val live4 = DeltaLog.replay(acts4)
      val dvs4 = DeltaLog.deletionVectors(acts4)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      // the source: every key ≡ 0 (mod 3) updated (+7 cents) plus 5 new
      // keys past the table's max — membership is derived by JOINING the
      // source's key set in (the scale-correct spelling: one shuffle on
      // the key, the log layer never rescans)
      val srcKeys = ord.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit(1).as("_m"))
      // broadcast: the source KEY SET of a MERGE delta is small relative
      // to the table (the sync-a-dimension shape); a too-big source falls
      // back to the one key shuffle the docstring describes
      val rws4 = positionedRows(live4, obRows)
        .join(broadcast(srcKeys), Seq("o_orderkey"), "left")
        .withColumn("is_matched", col("_m").isNotNull).drop("_m")
        .localCheckpoint()
      val matched = col("is_matched")
      val nmbsCond = !col("is_matched") && col("o_orderkey") % 5 === 1
      val del4 = dvs4.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("pre", lit(1))
      // newly-matched LIVE rows with the update applied (the rewrite)
      val updc = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull && matched)
        .select(col("o_orderkey"), (col("cents") + 7).as("cents"))
        .localCheckpoint()
      // NMBS victims (for CDF only — they leave via the mask, no rewrite)
      val nmbsc = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull && nmbsCond)
        .select(col("o_orderkey"), col("cents"))
      // the 5 inserts: keys past max, deterministic cents
      val insc = ord.agg(max("o_orderkey").as("mk"))
        .crossJoin(s.range(1, 6).select(col("id")))
        .select((col("mk") + col("id")).as("o_orderkey"),
          (col("id") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val updStats = updc.agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum("cents").as("cents"))
      val insStats = insc.agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum("cents").as("cents"))
      val adds = DeltaLog.addAction(updStats, 5, 1000, "mrg-upd",
          lit(null).cast(ArrayType(LongType)))
        .unionByName(DeltaLog.addAction(insStats, 5, 1001, "mrg-ins",
          lit(null).cast(ArrayType(LongType))))
      val nIns = insc.agg(count(lit(1)).as("n_ins"))
      // THE operator under test
      val mrg = DeltaLog.mergeActionsBySource(live4, dvs4, rws4, matched, nmbsCond,
        5, adds, nIns).localCheckpoint()
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(mrg)))
        .coalesce(1).localCheckpoint()
      // post-merge content: surviving old-file rows + both rewrite files
      val del5 = DeltaLog.deletionVectors(acts5)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      val oldPaths = DeltaLog.replay(acts5)
        .filter(!col("path").isin("mrg-upd", "mrg-ins")).select("path")
      val oldRows = rws4.join(broadcast(oldPaths), Seq("path"))
        .join(broadcast(del5), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .select("path", "o_orderkey", "cents")
      // no ckpt: both consumers (post, s1) are branches of the ONE output
      // job over checkpointed inputs — a materialization here is a whole
      // scheduling-floor job to save a cheap re-union (the dl25 rule)
      val postAll = oldRows
        .unionByName(updc.select(lit("mrg-upd").as("path"), col("o_orderkey"), col("cents")))
        .unionByName(insc.select(lit("mrg-ins").as("path"), col("o_orderkey"), col("cents")))
      val post = postAll.groupBy("path")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"))
        .select(lit("post").as("section"), col("path").as("item"),
          col("n_live").cast("long").as("n_rows"), col("cents_live").cast("long").as("cents"),
          lit(0L).as("flag"))
      val txn = mrg.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "dv", size(col("dv")).cast("long"))
          .otherwise(col("n_rows")).as("n_rows"),
        when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
        when(col("op") === "add", 1L).otherwise(0L).as("flag"))
      val cdf = sig(updc, "cdf", "update_preimage")
        .withColumn("cents", col("cents") - col("n_rows") * 7)
        .unionByName(sig(updc, "cdf", "update_postimage"))
        .unionByName(sig(nmbsc, "cdf", "delete"))
        .unionByName(sig(insc, "cdf", "insert"))
      // ground truth: the direct CASE merge over live rows — a different
      // derivation than the mask arithmetic postAll went through
      val mergeCte = rws4.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("pre").isNull)
        .filter(matched || !(col("o_orderkey") % 5 === 1))
        .select(col("o_orderkey"),
          (col("cents") + when(matched, 7L).otherwise(0L)).as("cents"))
        .unionByName(insc)
      val s1 = sig(postAll.select("o_orderkey", "cents"), "check", "post_rowset")
      val s2 = sig(mergeCte, "check", "merge_cte")
      val eq = equalCheck(s1, s2, "equal")
      txn.unionByName(post).unionByName(cdf)
        .unionByName(s1).unionByName(s2).unionByName(eq)
        .orderBy("section", "item")
    })

  /** Identity columns under multi-writer OCC (dl35 — the Delta
    * identityColumns feature off dl27's high-water machinery): writers A
    * and B each prepare an append (buckets 1 and 2 re-appended as idA /
    * idB) with identity ranges assigned from the SAME read snapshot —
    * both would start at 0. A commits first (v4); B's retry loop must
    * ABORT on the concurrent 'ident' action (the generator is
    * table-level state — real Delta conflicts on its metadata
    * high-water update), re-read the mark, re-assign, and land at v5
    * with a DISJOINT range. The gate pins the three decisions, the
    * committed segment maps ([0,n1) then [n1,n1+n2)), the final
    * high-water mark, and the per-row resolution: identityKeys over
    * both files' physical rows yields exactly count/min/max of the
    * assigned ranges — no key reused, no gap lied about. */
  val dl35IdentityOcc = Q("dl35_identity_occ",
    Some(s"""WITH ${DeltaLog.actionsSql},
            n1 AS (SELECT n_rows FROM bks WHERE bucket = 1),
            n2 AS (SELECT n_rows FROM bks WHERE bucket = 2),
            dec(item, nc, target, committed) AS (VALUES
              ('A:a1:committed', 0, 4, 1),
              ('B1:a1:abort_conflict', 1, 5, 0),
              ('B2:a1:committed', 0, 5, 1))
            SELECT section, item, n_rows, val, flag FROM (
              SELECT 'decision' AS section, item, CAST(nc AS BIGINT) AS n_rows,
                CAST(target AS BIGINT) AS val, CAST(committed AS BIGINT) AS flag
              FROM dec
              UNION ALL SELECT 'ident', 'idA', CAST(0 AS BIGINT), n_rows,
                CAST(4 AS BIGINT) FROM n1
              UNION ALL SELECT 'ident', 'idB', (SELECT n_rows FROM n1), n_rows,
                CAST(5 AS BIGINT) FROM n2
              UNION ALL SELECT 'hwm', 'hwm',
                (SELECT n_rows FROM n1) + (SELECT n_rows FROM n2),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'keys', 'idA', n_rows, CAST(0 AS BIGINT),
                n_rows - 1 FROM n1
              UNION ALL SELECT 'keys', 'idB', n_rows, (SELECT n_rows FROM n1),
                (SELECT n_rows FROM n1) + n_rows - 1 FROM n2
            ) t ORDER BY section, item"""),
    (s, d) => {
      import s.implicits._
      val ord = orders(s, d)
      val acts3 = DeltaLog.actions(DeltaLog.logLines(ord)).coalesce(1).localCheckpoint()
      // bucket stats from the v0 adds — no second orders scan (dl13 rule)
      val b = acts3.filter(col("version") === 0 && col("op") === "add")
        .select(element_at(col("buckets"), 1).as("bucket"), col("n_rows"),
          col("min_key"), col("max_key"), col("cents"))
      def prep(acts: org.apache.spark.sql.DataFrame, bucket: Int, path: String) = {
        val add = DeltaLog.addAction(
          b.filter(col("bucket") === bucket).select("n_rows", "min_key", "max_key", "cents"),
          90, 1000, path, array(lit(bucket.toLong)))
        add.unionByName(DeltaLog.assignIdentActions(acts, add))
      }
      // both writers prepare against the v3 snapshot: identical marks
      val txnA = prep(acts3, 1, "idA")
      val txnB = prep(acts3, 2, "idB")
      val (acts4, decA) = DeltaLog.commitWithRetry(acts3, txnA, 3)
      // B races: its read version is still 3, A's ident landed at 4 —
      // the concurrent-ident rule must abort it (overlapping ranges)
      val (_, decB1) = DeltaLog.commitWithRetry(acts4, txnB, 3)
      // B re-prepares from the settled head: fresh mark, disjoint range
      val (acts5, decB2) = DeltaLog.commitWithRetry(acts4, prep(acts4, 2, "idB"), 4)
      val accts5 = acts5.localCheckpoint()
      val decisions = Seq(("A", decA), ("B1", decB1), ("B2", decB2))
        .flatMap { case (w, ds) =>
          ds.map(dc => (s"$w:a${dc.attempt}:${dc.outcome}", dc.nConflicts,
            dc.target.toLong, if (dc.outcome == "committed") 1L else 0L))
        }
        .toDF("item", "n_rows", "val", "flag")
        .select(lit("decision").as("section"), col("item"), col("n_rows"),
          col("val"), col("flag"))
      // committed segment maps, read back through the instance race
      val segRows = accts5.filter(col("op") === "ident")
        .select(lit("ident").as("section"), col("path").as("item"),
          split(col("schema_str"), ":").as("p"), col("version"))
        .select(col("section"), col("item"),
          element_at(col("p"), 2).cast("long").as("n_rows"),
          element_at(col("p"), 3).cast("long").as("val"),
          col("version").cast("long").as("flag"))
      val hwm = DeltaLog.identHighWaterMark(accts5)
        .select(lit("hwm").as("section"), lit("hwm").as("item"),
          col("hwm").as("n_rows"), lit(0L).as("val"), lit(0L).as("flag"))
      // per-row key resolution over the two files' physical rows
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val positioned = positionedRows(
        DeltaLog.replay(accts5).filter(col("path").isin("idA", "idB")), obRows)
      val keys = DeltaLog.identityKeys(accts5, positioned)
        .groupBy("path")
        .agg(count(lit(1)).as("n"), min("ident_key").as("lo"), max("ident_key").as("hi"))
        .select(lit("keys").as("section"), col("path").as("item"),
          col("n").cast("long").as("n_rows"), col("lo").cast("long").as("val"),
          col("hi").cast("long").as("flag"))
      decisions.unionByName(segRows).unionByName(hwm).unionByName(keys)
        .orderBy("section", "item")
    })

  /** REPLACE WHERE (dl36 — Delta's `replaceWhere` write option, the
    * partition-overwrite verb generalized to a predicate): v4 atomically
    * swaps the key region [2W, 4.5W] — every live row in range leaves
    * through the dv/remove derivation (part-3 and append-0 fall entirely
    * inside and become bare removes; part-4 is cut mid-file and gets a
    * mask) and the NEW region content (the even keys of the range —
    * note: including bucket-2 keys that were NOT live, REPLACE admits
    * arbitrary in-region content) arrives as `rw-4`. The containment
    * invariant — written data must satisfy the predicate — is enforced
    * against the add's committed stats (Round14Spec pins the raise).
    * The gate pins the transaction rows, per-file post state, CDF
    * delete/insert, and ground truth: post rowset ≡ the oracle's direct
    * keep-or-replace CTE. */
  val dl36ReplaceWhere = {
    val lo = 2 * DeltaLog.W; val hi = 4 * DeltaLog.W + DeltaLog.W / 2
    Q("dl36_replace_where",
      Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            rws AS (
              SELECT f.path, f.n_rows AS f_rows, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
              FROM live3 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dead AS (SELECT path, f_rows, o_orderkey, cents FROM rws
              WHERE o_orderkey BETWEEN $lo AND $hi),
            repl AS (
              SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders WHERE o_orderkey BETWEEN $lo AND $hi AND o_orderkey % 2 = 0),
            masks AS (SELECT path, f_rows, CAST(count(*) AS BIGINT) AS n_masked
              FROM dead GROUP BY path, f_rows),
            txnrows AS (
              SELECT CASE WHEN n_masked = f_rows THEN 'remove:' || path
                          ELSE 'dv:' || path END AS item,
                CASE WHEN n_masked = f_rows THEN CAST(0 AS BIGINT) ELSE n_masked END AS n_rows
              FROM masks),
            ${sigCte("rstat", "repl")},
            ${sigCte("dstat", "dead")},
            postall AS (
              SELECT path, o_orderkey, cents FROM rws
              WHERE o_orderkey NOT BETWEEN $lo AND $hi
              UNION ALL SELECT 'rw-4', o_orderkey, cents FROM repl),
            post AS (SELECT path, CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents_live FROM postall GROUP BY path),
            ${sigCte("sig1", "postall")},
            replcte AS (
              SELECT o_orderkey, cents FROM rws WHERE o_orderkey NOT BETWEEN $lo AND $hi
              UNION ALL SELECT o_orderkey, cents FROM repl),
            ${sigCte("sig2", "replcte")}
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, item, n_rows, CAST(0 AS BIGINT) AS cents,
                CAST(0 AS BIGINT) AS flag FROM txnrows
              UNION ALL SELECT 'txn', 'add:rw-4', n, c, CAST(1 AS BIGINT) FROM rstat
              UNION ALL SELECT 'post', path, n_live, cents_live, CAST(0 AS BIGINT) FROM post
              UNION ALL SELECT 'cdf', 'delete', n, c, k FROM dstat
              UNION ALL SELECT 'cdf', 'insert', n, c, k FROM rstat
              ${checkRowsSql("sig1", "post_rowset", "sig2", "replace_cte")}
            ) t ORDER BY section, item"""),
      (s, d) => {
        import org.apache.spark.sql.types.{ArrayType, LongType}
        val ord = orders(s, d)
        val logBase = DeltaLog.logLines(ord).localCheckpoint()
        val acts3 = DeltaLog.actions(logBase).coalesce(1).localCheckpoint()
        val live3 = DeltaLog.replay(acts3)
        val dvs3 = DeltaLog.deletionVectors(acts3) // none at v3
        val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        // feeds the delete derivation, the post read, the CDF delete row
        // AND both ground-truth signatures
        val rws = positionedRows(live3, obRows).localCheckpoint()
        val pred = col("o_orderkey").between(lo, hi)
        // the replacement region content: arbitrary in-region rows (the
        // even keys — includes never-live bucket-2 keys)
        val repl = ord.filter(col("o_orderkey").between(lo, hi) && col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
          .localCheckpoint()
        val rStats = repl.agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"), sum("cents").as("cents"))
        val adds = DeltaLog.addAction(rStats, 4, 1000, "rw-4",
          lit(null).cast(ArrayType(LongType)))
        // THE operator under test — containment checked against stats
        val rw = DeltaLog.replaceWhereActions(live3, dvs3, rws, pred, 4, adds,
          col("min_key") >= lo && col("max_key") <= hi).localCheckpoint()
        val acts4 = DeltaLog.actions(logBase.unionByName(DeltaLog.toLines(rw)))
          .coalesce(1).localCheckpoint()
        val del4 = DeltaLog.deletionVectors(acts4)
          .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
        val oldPaths = DeltaLog.replay(acts4).filter(col("path") =!= "rw-4").select("path")
        val oldRows = rws.join(broadcast(oldPaths), Seq("path"))
          .join(broadcast(del4), Seq("path", "pos"), "left").filter(col("hit").isNull)
          .select("path", "o_orderkey", "cents")
        val postAll = oldRows
          .unionByName(repl.select(lit("rw-4").as("path"), col("o_orderkey"), col("cents")))
        val post = postAll.groupBy("path")
          .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"))
          .select(lit("post").as("section"), col("path").as("item"),
            col("n_live").cast("long").as("n_rows"), col("cents_live").cast("long").as("cents"),
            lit(0L).as("flag"))
        val txn = rw.select(lit("txn").as("section"),
          concat(col("op"), lit(":"), col("path")).as("item"),
          when(col("op") === "dv", size(col("dv")).cast("long"))
            .otherwise(when(col("op") === "add", col("n_rows")).otherwise(lit(0L))).as("n_rows"),
          when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
          when(col("op") === "add", 1L).otherwise(0L).as("flag"))
        val cdf = sig(rws.filter(pred), "cdf", "delete")
          .unionByName(sig(repl, "cdf", "insert"))
        val replCte = rws.filter(!pred).select("o_orderkey", "cents").unionByName(repl)
        val s1 = sig(postAll.select("o_orderkey", "cents"), "check", "post_rowset")
        val s2 = sig(replCte, "check", "replace_cte")
        val eq = equalCheck(s1, s2, "equal")
        txn.unionByName(post).unionByName(cdf).unionByName(s1).unionByName(s2)
          .unionByName(eq)
          .orderBy("section", "item")
      })
  }

  /** REORG PURGE (dl37 — Delta's `REORG TABLE ... APPLY (PURGE)`): v4
    * masks part-5 (pos ≡ 3 mod 7) and part-4 (pos ≡ 1 mod 3); v5 purges
    * — each masked file becomes remove + `purged-` add carrying
    * NET-of-mask stats under the same coverage, masks retired with the
    * dead instances, unmasked files untouched. Read-NEUTRAL by
    * construction, and the gate hash-proves it: the pre-purge masked
    * read and the post-purge clean read produce identical signatures
    * (a purge that resurrected masked rows or dropped survivors
    * mismatches). The post-purge effective-mask count (0) is pinned —
    * readers stop paying the mask subtraction, which is the entire
    * point of the verb at 100 TB. */
  val dl37ReorgPurge = Q("dl37_reorg_purge",
    Some(s"""WITH ${DeltaLog.actionsSql},
            live3 AS (SELECT * FROM ${DeltaLog.liveSql("3")} t),
            rws AS (
              SELECT f.path, f.n_rows AS f_rows, o.o_orderkey,
                CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY f.path ORDER BY o.o_orderkey) - 1 AS pos
              FROM live3 f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            dv AS (
              SELECT path, pos FROM rws WHERE path = 'part-5' AND pos % 7 = 3
              UNION ALL SELECT path, pos FROM rws WHERE path = 'part-4' AND pos % 3 = 1),
            net AS (
              SELECT r.path, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(r.cents) AS BIGINT) AS c, CAST(sum(r.o_orderkey) AS BIGINT) AS k
              FROM rws r LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos
              WHERE d.pos IS NULL AND r.path IN ('part-5', 'part-4')
              GROUP BY r.path),
            prerows AS (
              SELECT r.path, r.o_orderkey, r.cents FROM rws r
              LEFT JOIN dv d ON d.path = r.path AND d.pos = r.pos WHERE d.pos IS NULL),
            postrows AS (
              SELECT CASE WHEN path IN ('part-5', 'part-4')
                     THEN 'purged-' || path ELSE path END AS path, o_orderkey, cents
              FROM prerows),
            post AS (SELECT path, CAST(count(*) AS BIGINT) AS n_live,
                CAST(sum(cents) AS BIGINT) AS cents_live FROM postrows GROUP BY path),
            ${sigCte("sig1", "prerows")},
            ${sigCte("sig2", "postrows")}
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'txn' AS section, 'remove:' || path AS item, CAST(0 AS BIGINT) AS n_rows,
                CAST(0 AS BIGINT) AS cents, CAST(0 AS BIGINT) AS flag FROM net
              UNION ALL SELECT 'txn', 'add:purged-' || path, n, c, CAST(1 AS BIGINT) FROM net
              UNION ALL SELECT 'post', path, n_live, cents_live, CAST(0 AS BIGINT) FROM post
              UNION ALL SELECT 'state', 'n_effective_dvs', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              ${checkRowsSql("sig1", "pre_masked_read", "sig2", "post_clean_read")}
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val logBase = DeltaLog.logLines(ord).localCheckpoint()
      val live0 = DeltaLog.snapshot(logBase)
      val log4 = logBase
        .unionByName(DeltaLog.toLines(DeltaLog.dvAction(live0, "part-5", 4, 0,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 7 === 3))))
        .unionByName(DeltaLog.toLines(DeltaLog.dvAction(live0, "part-4", 4, 1,
          filter(sequence(lit(0L), col("n_rows") - 1), p => p % 3 === 1))))
      val acts4 = DeltaLog.actions(log4).coalesce(1).localCheckpoint()
      val live4 = DeltaLog.replay(acts4)
      val dvs4 = DeltaLog.deletionVectors(acts4)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      // feeds net stats, the pre-purge read AND the post-purge read
      val rws = positionedRows(live4, obRows).localCheckpoint()
      val del4 = dvs4.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      // survivors of the two masked files — the rewrite the purge pays
      val netRows = rws.join(broadcast(del4), Seq("path", "pos"), "left")
        .filter(col("hit").isNull).drop("hit").localCheckpoint()
      val netStats = netRows.filter(col("path").isin("part-5", "part-4"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"), sum("cents").as("cents"))
      // THE operator under test
      val purge = DeltaLog.reorgPurgeActions(live4, dvs4, netStats, 5).localCheckpoint()
      val acts5 = DeltaLog.actions(log4.unionByName(DeltaLog.toLines(purge)))
        .coalesce(1).localCheckpoint()
      // post-purge read THROUGH the log (r15, the dl36 discipline): live
      // paths from replay(acts5), masks from deletionVectors(acts5), over
      // a physical content store — original files' bytes are rws, the
      // purged files' bytes are what the writer wrote (netRows, renamed,
      // re-positioned). A purge that left a masked file live, dropped a
      // survivor file, or retired a mask without rewriting would change
      // the rowset and mismatch; the old derivation renamed netRows on
      // both sides and could not fail.
      val del5 = DeltaLog.deletionVectors(acts5)
      val wp = Window.partitionBy(col("path")).orderBy(col("o_orderkey"))
      val purgedContent = netRows.filter(col("path").isin("part-5", "part-4"))
        .select(concat(lit("purged-"), col("path")).as("path"),
          col("o_orderkey"), col("cents"))
        .withColumn("pos", (row_number().over(wp) - 1).cast("long"))
      val contentStore = rws.unionByName(purgedContent)
      val live5Paths = DeltaLog.replay(acts5).select("path")
      val del5Rows = del5.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      val postRows = contentStore.join(broadcast(live5Paths), Seq("path"))
        .join(broadcast(del5Rows), Seq("path", "pos"), "left")
        .filter(col("hit").isNull).select("path", "o_orderkey", "cents")
      val post = postRows.groupBy("path")
        .agg(count(lit(1)).as("n_live"), sum("cents").as("cents_live"))
        .select(lit("post").as("section"), col("path").as("item"),
          col("n_live").cast("long").as("n_rows"), col("cents_live").cast("long").as("cents"),
          lit(0L).as("flag"))
      val txn = purge.select(lit("txn").as("section"),
        concat(col("op"), lit(":"), col("path")).as("item"),
        when(col("op") === "add", col("n_rows")).otherwise(lit(0L)).as("n_rows"),
        when(col("op") === "add", col("cents")).otherwise(lit(0L)).as("cents"),
        when(col("op") === "add", 1L).otherwise(0L).as("flag"))
      // the verb's payoff, pinned: zero effective masks after the purge
      val ndv = del5.agg(count(lit(1)).as("n"))
        .select(lit("state").as("section"), lit("n_effective_dvs").as("item"),
          col("n").cast("long").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag"))
      val s1 = sig(netRows, "check", "pre_masked_read")
      val s2 = sig(postRows, "check", "post_clean_read")
      val eq = equalCheck(s1, s2, "equal")
      txn.unionByName(post).unionByName(ndv).unionByName(s1).unionByName(s2)
        .unionByName(eq)
        .orderBy("section", "item")
    })

  /** End-to-end exactly-once pipeline through TWO logs (dl38 — the
    * materialized-downstream-table pattern: Delta's CDF source feeding an
    * idempotent foreachBatch sink): each upstream commit v becomes one
    * sink epoch — the wave folds into the reader's state
    * ([[DeltaLog.foldState]], the r13 incremental source), the per-wave
    * file/mask delta is derived by replaying state-before vs state-after
    * THROUGH the log, the changed files' net rows are transformed (keep
    * even keys, double the cents), and the result commits into a SECOND
    * log via [[DeltaLog.commitEpochIdempotent]] (the r14 sink) — removes
    * retire the downstream twin of every upstream-retired file, adds land
    * epoch-stamped `ds:<epoch>:<path>` files, and the txn marker rides the
    * same atomic commit. Mid-stream the pipeline "crashes": epoch 2 is
    * re-delivered (exactly what a checkpoint restart does) and must be
    * `skipped_duplicate` from the downstream log alone — the epoch-stamped
    * file names make a silent double-apply VISIBLE (a replayed epoch that
    * landed would leave a second live `ds:2:…` file and break the final
    * state hash, unlike a path-idempotent blind re-add). Upstream wave 4
    * is a deletion-vector mask, so the downstream rewrite path (retire +
    * re-add net of mask) is exercised too. The gate pins: per-epoch
    * decisions, the per-wave change feed ([[DeltaLog.cdfBetween]] on the
    * wave-touched rowset — untouched files' per-key copies cancel in the
    * diff, so restricting the positioned rows to touched paths is exact
    * and keeps each wave's feed proportional to the CHANGE, the 100 TB
    * shape), downstream txn markers, and ground truth: the downstream
    * final state (from log STATS) ≡ the batch transform recomputed from
    * the upstream final snapshot (from DATA) — two derivations, so a
    * lost update, double-applied epoch, or missed rewrite cannot pass. */
  val dl38LogToLog = Q("dl38_log_to_log",
    Some(s"""WITH ${DeltaLog.actionsSql},
            nb AS (SELECT CAST(count(*) AS BIGINT) AS nfiles,
                          CAST(sum(n_rows) AS BIGINT) AS nrows FROM bks),
            ob AS (SELECT o_orderkey // ${DeltaLog.W} AS bucket, o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
            ev AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                     CAST(2 * sum(cents) AS BIGINT) AS c
                   FROM ob WHERE o_orderkey % 2 = 0 GROUP BY bucket),
            ap AS (SELECT o_orderkey, cents,
                     row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
                   FROM ob WHERE bucket = 3),
            apnet AS (SELECT * FROM ap WHERE pos % 5 <> 0),
            apstat AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(2 * sum(cents) AS BIGINT) AS c
                       FROM apnet WHERE o_orderkey % 2 = 0 HAVING count(*) > 0),
            n2 AS (SELECT CAST(n_rows AS BIGINT) AS v FROM bks WHERE bucket = 2),
            n3 AS (SELECT CAST(n_rows AS BIGINT) AS v FROM bks WHERE bucket = 3),
            dec(item, ep, target, committed) AS (VALUES
              ('e0:committed', 0, 1, 1), ('e1:committed', 1, 2, 1),
              ('e2:committed', 2, 3, 1), ('e2:skipped_duplicate', 2, -1, 0),
              ('e3:committed', 3, 4, 1), ('e4:committed', 4, 5, 1)),
            postf AS (
              SELECT 'ds:0:part-' || CAST(bucket AS VARCHAR) AS path, n, c
              FROM ev WHERE bucket >= 3
              UNION ALL
              SELECT 'ds:1:compact-0-1', CAST(sum(n) AS BIGINT), CAST(sum(c) AS BIGINT)
              FROM ev WHERE bucket <= 1 HAVING count(*) > 0
              UNION ALL SELECT 'ds:4:append-0', n, c FROM apstat),
            down AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS c
                     FROM postf),
            batch AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(2 * sum(cents) AS BIGINT) AS c
                      FROM (SELECT o_orderkey, cents FROM ob
                              WHERE bucket <= 1 OR bucket >= 3
                            UNION ALL SELECT o_orderkey, cents FROM apnet) t
                      WHERE o_orderkey % 2 = 0)
            SELECT section, item, n_rows, cents, flag FROM (
              SELECT 'decision' AS section, item, CAST(ep AS BIGINT) AS n_rows,
                CAST(target AS BIGINT) AS cents, CAST(committed AS BIGINT) AS flag
              FROM dec
              UNION ALL SELECT 'cdf', 'e0:files', nfiles, CAST(0 AS BIGINT),
                CAST(0 AS BIGINT) FROM nb
              UNION ALL SELECT 'cdf', 'e0:rows', nrows, CAST(0 AS BIGINT),
                CAST(0 AS BIGINT) FROM nb
              UNION ALL SELECT 'cdf', 'e1:files', CAST(1 AS BIGINT), CAST(2 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'cdf', 'e1:rows', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'cdf', 'e2:files', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'cdf', 'e2:rows', CAST(0 AS BIGINT), v, CAST(0 AS BIGINT)
              FROM n2
              UNION ALL SELECT 'cdf', 'e3:files', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'cdf', 'e3:rows', v, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM n3
              UNION ALL SELECT 'cdf', 'e4:files', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'cdf', 'e4:rows', CAST(0 AS BIGINT),
                CAST((v + 4) // 5 AS BIGINT), CAST(0 AS BIGINT) FROM n3
              UNION ALL SELECT 'txn', '_txn:pipe@' || CAST(ep AS VARCHAR),
                CAST(ep AS BIGINT), CAST(0 AS BIGINT), CAST(target AS BIGINT)
              FROM dec WHERE committed = 1
              UNION ALL SELECT 'last', 'pipe', CAST(4 AS BIGINT), CAST(0 AS BIGINT),
                CAST(0 AS BIGINT)
              UNION ALL SELECT 'post', path, n, c, CAST(0 AS BIGINT) FROM postf
              UNION ALL SELECT 'check', 'down_total', n, c, CAST(0 AS BIGINT) FROM down
              UNION ALL SELECT 'check', 'batch_recompute', n, c, CAST(0 AS BIGINT)
              FROM batch
              UNION ALL SELECT 'check', 'equal', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(CASE WHEN (SELECT n FROM down) = (SELECT n FROM batch)
                      AND (SELECT c FROM down) = (SELECT c FROM batch)
                     THEN 1 ELSE 0 END AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val upLines = DeltaLog.logLines(ord).localCheckpoint()
      val live3 = DeltaLog.snapshot(upLines)
      // upstream wave 4: a mask on append-0 — the CDF wave that forces the
      // downstream rewrite path
      val dv4 = DeltaLog.dvAction(live3, "append-0", 4, 0,
        filter(sequence(lit(0L), col("n_rows") - 1), p => p % 5 === 0))
      val upActs = DeltaLog.actions(upLines).unionByName(dv4)
        .coalesce(1).localCheckpoint()
      // the physical content map: every path ever added, with coverage —
      // rws feeds the per-epoch transform stats AND the change feed; a
      // handful of partitions, because ten downstream log-sized shuffles
      // re-read it and 32-way task floors dominate at this row count
      val allFiles = upActs.filter(col("op") === "add").select("path", "buckets")
      val rws = positionedRows(allFiles, obRows).coalesce(8).localCheckpoint()
      // ---- source side: the reader's per-wave state fold (the restart
      // story — append each wave to the state action set, compact on the
      // Delta checkpoint cadence via foldState) produced frames nothing
      // below consumes: the grids are checkpoint-equivalent to replaying
      // the folded state (the foldState invariant, spec-pinned in
      // Round15Spec), so the fold was pure dead compute here — 6
      // materialization jobs plus the v=2 foldState race — and is gone
      // (r16). The invariant itself stays exercised where it is pinned.
      // ---- sink side: one idempotent epoch per wave into the SECOND log
      var dsActs = DeltaLog.metaAction(s, 0, 0, "mirror-v0").coalesce(1).localCheckpoint()
      var dsHead = 0
      val outs = scala.collection.mutable.Buffer.empty[DeltaLog.EpochOutcome]
      // per-version live sets and effective masks for EVERY epoch's txn
      // build in TWO vectorized grid passes (the dl12 grid, already the
      // change feed's shape below) — the per-epoch form paid 4 race
      // computations per buildTxn call × 6 calls (replay before/after +
      // dv race before/after, plus a per-epoch dvA checkpoint job); the
      // grids are checkpoint-equivalent to replaying the folded reader
      // state (the foldState invariant: compacted state replays
      // identically — spec-pinned, see the source-side note above).
      val vGridAll = s.range(-1, 5).select(col("id").cast("int").as("v"))
      val liveG = DeltaLog.replayGrid(upActs, vGridAll).select("v", "path", "buckets")
        .coalesce(1).localCheckpoint()
      val dvG = DeltaLog.deletionVectorGrid(upActs, vGridAll).select("v", "path", "dv")
        .coalesce(1).localCheckpoint()
      // per-version adds/removes/mask-changes and the TRANSFORM STATS of
      // every epoch's added paths in ONE vectorized pass each (r16):
      // upAdds/upRems/dvChanged depend only on the two grids — never on
      // the downstream log — so the per-epoch rws transform join (a
      // DATA-sized txn lineage that previously forced a checkpoint job
      // per epoch, 6 data passes total) vectorizes over v exactly like
      // the change feed below. The shifted-v self-joins below are the
      // same before/after diffs the per-epoch form computed, keyed by
      // (v, path) instead of evaluated once per v.
      val beforeLiveG = liveG.select((col("v") + 1).as("v"), col("path"))
        .withColumn("h0", lit(1))
      val addsG = liveG.join(beforeLiveG, Seq("v", "path"), "left")
        .filter(col("h0").isNull).select("v", "path", "buckets")
      val remsG = beforeLiveG.drop("h0")
        .join(liveG.select(col("v"), col("path")).withColumn("h1", lit(1)),
          Seq("v", "path"), "left")
        .filter(col("h1").isNull).select("v", "path")
      // mask-changed live files are downstream REWRITES: retire + re-add
      val dvBG = dvG.select((col("v") + 1).as("v"), col("path"), col("dv").as("dv0"))
      val dvChangedG = dvG.join(dvBG, Seq("v", "path"), "left")
        .filter(col("dv0").isNull || col("dv") =!= col("dv0")).select("v", "path")
      val upAddsG = addsG.unionByName(dvChangedG.join(liveG, Seq("v", "path")))
        .filter(col("v").between(0, 4)).coalesce(1).localCheckpoint()
      val upRemsG = remsG.unionByName(dvChangedG)
        .filter(col("v").between(0, 4)).coalesce(1).localCheckpoint()
      // the transform: net rows of each added path under the AFTER
      // state's masks → keep even keys, double the cents — one data pass
      // for all six epochs, checkpointed log-sized (one row per (v, path))
      val masksG = dvG.select(col("v"), col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      val tstatsG = rws.join(broadcast(upAddsG.select("v", "path")), Seq("path"))
        .join(broadcast(masksG), Seq("v", "path", "pos"), "left")
        .filter(col("hit").isNull)
        .filter(col("o_orderkey") % 2 === 0)
        .groupBy("v", "path").agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          (sum("cents") * 2).as("cents"))
        .coalesce(1).localCheckpoint()
      def buildTxn(v: Int): org.apache.spark.sql.DataFrame = {
        val upAdds = upAddsG.filter(col("v") === v).select("path", "buckets")
        val upRems = upRemsG.filter(col("v") === v).select("path")
        // downstream removes resolve through the DOWNSTREAM log: the live
        // ds twin of each retired upstream path (epoch-stamped names, so
        // the upstream path is the suffix)
        val dsLive = DeltaLog.replay(dsActs)
          .select(col("path"), substring_index(col("path"), ":", -1).as("up"))
        val dsRems = DeltaLog.removeActions(
          dsLive.join(broadcast(upRems.withColumnRenamed("path", "up")), Seq("up"))
            .select(col("path"), lit(0).as("ordinal")), 90)
        val tstats = tstatsG.filter(col("v") === v).drop("v")
        val dsAdds = DeltaLog.addActions(
          tstats.join(upAdds, Seq("path"))
            .select(concat(lit(s"ds:$v:"), col("path")).as("path"),
              (lit(1000) + element_at(col("buckets"), 1)).as("ordinal"),
              col("buckets"), col("n_rows"), col("min_key"), col("max_key"),
              col("cents")), 90)
        dsRems.unionByName(dsAdds)
      }
      def deliver(v: Int): Unit = {
        // the checkpoint now materializes a LOG-sized transaction (the
        // data term lives in tstatsG above — the r15 shape paid a full
        // rws transform join here, once per epoch); it is kept because
        // the OCC loop evaluates the txn in the probe AND the commit,
        // and each evaluation still walks replay(dsActs) + four joins
        val txn = buildTxn(v).coalesce(1).localCheckpoint()
        val (a2, out) = DeltaLog.commitEpochIdempotent(dsActs, txn, "pipe", v, dsHead)
        if (out.outcome == "committed") dsHead += 1
        dsActs = a2; outs += out
      }
      deliver(0); deliver(1); deliver(2)
      deliver(2) // the crash-restart replay: must be a downstream no-op
      deliver(3); deliver(4)
      // ---- the pinned output
      import s.implicits._
      val decisions = outs.toSeq.map { o =>
        val target = o.attempts.lastOption.map(_.target.toLong).getOrElse(-1L)
        (s"e${o.epoch}:${o.outcome}", o.epoch, target,
          if (o.outcome == "committed") 1L else 0L)
      }.toDF("item", "n_rows", "cents", "flag")
        .select(lit("decision").as("section"), col("item"), col("n_rows"),
          col("cents"), col("flag"))
      // per-wave change feed in ONE vectorized pass (the dl12 grid):
      // per-(version, key) live-copy counts, self-diffed to adjacent
      // versions. The per-epoch cdfBetween form is the SAME computation
      // incrementally (CdfStreamSpec pins stream ≡ batch); five
      // incremental calls here would pay 20 race windows and 10 data
      // aggregations for numbers one grid pass produces (measured ~3x
      // the gate's cost before this rewrite).
      val liveGrid = liveG.filter(col("v") >= 0).select("v", "path")
      val maskGrid = dvG.filter(col("v") >= 0)
        .select(col("v"), col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      val copies = rws.withColumnRenamed("o_orderkey", "key")
        .join(broadcast(liveGrid), Seq("path"))
        .join(broadcast(maskGrid), Seq("v", "path", "pos"), "left")
        .filter(col("hit").isNull)
        .groupBy("v", "key").agg(count(lit(1)).as("c"))
        .coalesce(8).localCheckpoint() // both sides of the self-diff
      val prevC = copies.select((col("v") + 1).as("v"), col("key"), col("c").as("c0"))
      val rowsCdf = copies.select(col("v"), col("key"), col("c").as("c1"))
        .join(prevC, Seq("v", "key"), "full")
        .filter(col("v").between(0, 4))
        .groupBy("v").agg(
          coalesce(sum(greatest(coalesce(col("c1"), lit(0L)) - coalesce(col("c0"), lit(0L)),
            lit(0L))), lit(0L)).as("ra"),
          coalesce(sum(greatest(coalesce(col("c0"), lit(0L)) - coalesce(col("c1"), lit(0L)),
            lit(0L))), lit(0L)).as("rr"))
      val prevF = liveGrid.select((col("v") + 1).as("v"), col("path"))
        .withColumn("f0", lit(1))
      val filesCdf = liveGrid.withColumn("f1", lit(1))
        .join(prevF, Seq("v", "path"), "full")
        .filter(col("v").between(0, 4))
        .groupBy("v").agg(
          coalesce(sum(when(col("f1").isNotNull && col("f0").isNull, 1L).otherwise(0L)),
            lit(0L)).as("fa"),
          coalesce(sum(when(col("f0").isNotNull && col("f1").isNull, 1L).otherwise(0L)),
            lit(0L)).as("fr"))
      val cdf = filesCdf.join(rowsCdf, Seq("v"))
        .select(explode(array(
          struct(concat(lit("e"), col("v"), lit(":files")).as("item"),
            col("fa").as("a"), col("fr").as("b")),
          struct(concat(lit("e"), col("v"), lit(":rows")).as("item"),
            col("ra").as("a"), col("rr").as("b")))).as("r"))
        .select(lit("cdf").as("section"), col("r.item").as("item"),
          col("r.a").cast("long").as("n_rows"), col("r.b").cast("long").as("cents"),
          lit(0L).as("flag"))
      val txnRows = dsActs.filter(col("op") === "txn")
        .select(lit("txn").as("section"),
          concat(col("path"), lit("@"), col("schema_str")).as("item"),
          col("schema_str").cast("long").as("n_rows"), lit(0L).as("cents"),
          col("version").cast("long").as("flag"))
      val lastRow = DeltaLog.lastTxnVersion(dsActs, "pipe")
        .select(lit("last").as("section"), lit("pipe").as("item"),
          col("last_txn_version").as("n_rows"), lit(0L).as("cents"), lit(0L).as("flag"))
      val post = DeltaLog.replay(dsActs).select(lit("post").as("section"),
        col("path").as("item"), col("n_rows"), col("cents"), lit(0L).as("flag"))
      // ground truth, two derivations: downstream totals from log STATS vs
      // the batch transform recomputed from upstream v-final DATA. All
      // three check rows (down_total, batch_recompute, equal) explode out
      // of ONE crossJoined frame — the r15 shape referenced the downTotal
      // and batch aggregates twice each (their own section row + the eq
      // row), evaluating the batch DATA pass and the replay aggregate
      // twice inside the final job.
      val downTotalAgg = DeltaLog.replay(dsActs)
        .agg(sum("n_rows").cast("long").as("n1"), sum("cents").cast("long").as("c1"))
      val finMasks = dvG.filter(col("v") === 4)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      val batchAgg = rws
        .join(broadcast(liveG.filter(col("v") === 4).select("path")), Seq("path"))
        .join(broadcast(finMasks), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .filter(col("o_orderkey") % 2 === 0)
        .agg(count(lit(1)).cast("long").as("n2"), (sum("cents") * 2).cast("long").as("c2"))
      val checks = downTotalAgg.crossJoin(batchAgg)
        .select(explode(array(
          struct(lit("down_total").as("item"), col("n1").as("n"), col("c1").as("c"),
            lit(0L).as("f")),
          struct(lit("batch_recompute").as("item"), col("n2").as("n"), col("c2").as("c"),
            lit(0L).as("f")),
          struct(lit("equal").as("item"), lit(0L).as("n"), lit(0L).as("c"),
            (col("n1") === col("n2") && col("c1") === col("c2")).cast("long").as("f"))))
          .as("r"))
        .select(lit("check").as("section"), col("r.item").as("item"),
          col("r.n").as("n_rows"), col("r.c").as("cents"), col("r.f").as("flag"))
      decisions.unionByName(cdf).unionByName(txnRows).unionByName(lastRow)
        .unionByName(post).unionByName(checks)
        .orderBy("section", "item")
    })

  /** Bloom-filter file skipping (dl39 — Delta/Parquet bloom indexes): a
    * point lookup on a HIGH-CARDINALITY, NON-CLUSTERED key (o_custkey —
    * files are laid out by o_orderkey, so every file's custkey [min,max]
    * spans nearly the whole domain and min/max stats prune almost
    * nothing). Each live file commits a 4096-bit / 3-hash bloom over its
    * distinct custkeys as an instance-scoped sidecar action
    * ([[DeltaLog.sideActions]], op='bloom' — a rewrite of the file
    * retires its bloom with the dead instance, the rids/ident race); the
    * hash is md5-derived so the DuckDB oracle RECOMPUTES the whole
    * filter from first principles while Spark reads candidates through
    * the COMMITTED bit string. The skipping plan is the COMPOSED one a
    * real reader runs — bloom ∩ min/max (min/max still wins on
    * out-of-range needles; the three absent probes past max(custkey) pin
    * that) — and the dl3 discipline applies: `n_rows_found` comes from
    * scanning ONLY the composed candidate files, so an unsound prune
    * (a dropped true file) reads LOW and hash-mismatches the oracle's
    * independent true counts. The audit row pins composed ≪ stats-only
    * (point lookups touch ~true+fp files instead of ~every file — the
    * entire point of the index at 100 TB). */
  val dl39BloomSkipping = {
    val M = 4096 // bits per file; ~230 distinct keys x 3 hashes -> ~0.4% fp
    def bitSql(v: String) =
      s"""(list_sum(list_transform(range(1, 9), j ->
            CAST(strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR) || ':' ||
              CAST($v AS VARCHAR)), CAST(j AS INT), 1)) - 1 AS BIGINT)
            * (1::BIGINT << (4 * (8 - CAST(j AS INT)))))) % $M)"""
    Q("dl39_bloom_skipping",
      Some(s"""WITH ${DeltaLog.actionsSql},
            live AS (SELECT * FROM ${DeltaLog.liveSql("(SELECT max(version) FROM acts)")} t),
            frows AS (
              SELECT f.path, o.o_custkey FROM live f JOIN orders o
                ON (o.o_orderkey // ${DeltaLog.W}) BETWEEN f.b_lo AND f.b_hi),
            pk AS (SELECT DISTINCT path, o_custkey FROM frows),
            fbits AS (SELECT DISTINCT path, ${bitSql("o_custkey")} AS bit
                      FROM pk CROSS JOIN range(0, 3) r(i)),
            fstats AS (SELECT path, min(o_custkey) AS lo, max(o_custkey) AS hi
                       FROM frows GROUP BY path),
            probes AS (
              SELECT DISTINCT o_custkey AS probe FROM orders WHERE o_custkey % 101 = 7
              UNION ALL SELECT max(o_custkey) + 1 FROM orders
              UNION ALL SELECT max(o_custkey) + 2 FROM orders
              UNION ALL SELECT max(o_custkey) + 3 FROM orders),
            pbits AS (SELECT probe, i, ${bitSql("probe")} AS bit
                      FROM probes CROSS JOIN range(0, 3) r(i)),
            bloomc AS (
              SELECT p.probe, b.path FROM pbits p JOIN fbits b ON b.bit = p.bit
              GROUP BY p.probe, b.path HAVING count(DISTINCT p.i) = 3),
            statsc AS (SELECT p.probe, f.path FROM probes p
                       JOIN fstats f ON p.probe BETWEEN f.lo AND f.hi),
            comp AS (SELECT probe, path FROM bloomc
                     INTERSECT SELECT probe, path FROM statsc),
            truec AS (SELECT c.probe, CAST(count(*) AS BIGINT) AS n
                      FROM comp c JOIN frows r ON r.path = c.path
                        AND r.o_custkey = c.probe GROUP BY c.probe),
            bc AS (SELECT probe, CAST(count(*) AS BIGINT) AS n FROM bloomc GROUP BY probe),
            sc AS (SELECT probe, CAST(count(*) AS BIGINT) AS n FROM statsc GROUP BY probe),
            cc AS (SELECT probe, CAST(count(*) AS BIGINT) AS n FROM comp GROUP BY probe),
            per AS (
              SELECT p.probe, CAST(coalesce(t.n, 0) AS BIGINT) AS n_rows_found,
                CAST(coalesce(bc.n, 0) AS BIGINT) AS bloom_files,
                CAST(coalesce(sc.n, 0) AS BIGINT) AS stats_files,
                CAST(coalesce(cc.n, 0) AS BIGINT) AS composed_files
              FROM probes p LEFT JOIN truec t ON t.probe = p.probe
              LEFT JOIN bc ON bc.probe = p.probe LEFT JOIN sc ON sc.probe = p.probe
              LEFT JOIN cc ON cc.probe = p.probe)
            SELECT probe, n_rows_found, bloom_files, stats_files, composed_files, flag
            FROM (
              SELECT probe, n_rows_found, bloom_files, stats_files, composed_files,
                CAST(0 AS BIGINT) AS flag FROM per
              UNION ALL
              SELECT CAST(-1 AS BIGINT), CAST(sum(n_rows_found) AS BIGINT),
                CAST(sum(bloom_files) AS BIGINT), CAST(sum(stats_files) AS BIGINT),
                CAST(sum(composed_files) AS BIGINT),
                CAST(CASE WHEN sum(composed_files) < sum(stats_files)
                     THEN 1 ELSE 0 END AS BIGINT)
              FROM per
            ) t ORDER BY probe"""),
      (s, d) => {
        val ord = orders(s, d)
        val acts0 = DeltaLog.actions(DeltaLog.logLines(ord)).coalesce(1).localCheckpoint()
        val live = DeltaLog.replay(acts0)
        val obc = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
          col("o_custkey").cast("long").as("o_custkey"))
        // three consumers: bloom build, per-file min/max stats, pruned scan
        val fRows = live.select(col("path"), explode(col("buckets")).as("bucket"))
          .join(obc, Seq("bucket")).select("path", "o_custkey")
          .coalesce(8).localCheckpoint()
        def bitOf(i: Int, key: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(lit(s"$i:"), key.cast("string")).cast("binary")),
            1, 8), 16, 10).cast("long") % M
        // bit-string build by GAP FILL over the sorted set bits — O(m + set
        // bits) per file; the naive transform(sequence(0, M-1),
        // array_contains) is O(M x set bits) per file and measured ~25 s of
        // pure compute at sf0.1 (600 files x 4096 positions x ~700-element
        // scans)
        val bits = fRows.distinct()
          .select(col("path"), explode(array(
            (0 to 2).map(i => bitOf(i, col("o_custkey"))): _*)).as("bit"))
          .groupBy("path").agg(sort_array(collect_set(col("bit"))).as("bs"))
          .select(col("path"), lit(1000).as("ordinal"),
            aggregate(col("bs"),
              struct(lit("").as("s"), lit(-1L).as("prev")),
              (acc, b) => struct(
                concat(acc.getField("s"),
                  repeat(lit("0"), (b - acc.getField("prev") - 1).cast("int")),
                  lit("1")).as("s"),
                b.as("prev")),
              acc => rpad(acc.getField("s"), M, "0")).as("payload"))
        // THE operator: per-file blooms committed as instance-scoped sidecars
        val acts1 = acts0.unionByName(DeltaLog.sideActions(bits, "bloom", 4))
          .coalesce(1).localCheckpoint()
        val blooms = DeltaLog.effectiveSidePayloads(acts1, "bloom")
        val probes = ord.select(col("o_custkey").cast("long").as("probe"))
          .filter(col("probe") % 101 === 7).distinct()
          .unionByName(ord.agg(max(col("o_custkey")).cast("long").as("m"))
            .select(explode(array(col("m") + 1, col("m") + 2, col("m") + 3)).as("probe")))
          .localCheckpoint()
        // bloom plan: candidates read through the COMMITTED bit string
        // both pair frames feed the composed plan AND their own counts;
        // materializing also cuts the shared `probes` lineage the
        // ambiguous-self-join check would otherwise reject
        val bloomPairs = blooms.crossJoin(broadcast(probes))
          .filter((0 to 2).map(i =>
            col("payload").substr((bitOf(i, col("probe")) + 1).cast("int"), lit(1)) === "1")
            .reduce(_ && _))
          .select(col("path"), col("probe")).localCheckpoint()
        val fstats = fRows.groupBy("path")
          .agg(min("o_custkey").as("lo"), max("o_custkey").as("hi"))
        val statsPairs = fstats.crossJoin(broadcast(probes))
          .filter(col("probe").between(col("lo"), col("hi")))
          .select(col("path"), col("probe")).localCheckpoint()
        val compPairs = bloomPairs.join(statsPairs, Seq("path", "probe"), "left_semi")
          .localCheckpoint() // feeds the pruned scan AND the composed counts
        // the dl3 discipline: scan ONLY composed candidates; found rows must
        // equal the oracle's independent truth or the prune was unsound
        val found = fRows.join(
            compPairs.select(col("path"), col("probe").as("fprobe")), Seq("path"))
          .filter(col("o_custkey") === col("fprobe"))
          .groupBy("fprobe").agg(count(lit(1)).as("nf"))
          .select(col("fprobe").as("probe"), col("nf"))
        def cnt(pairs: org.apache.spark.sql.DataFrame, as: String) =
          pairs.groupBy("probe").agg(count(lit(1)).as(as))
        val per = probes.join(found, Seq("probe"), "left")
          .join(cnt(bloomPairs, "nb"), Seq("probe"), "left")
          .join(cnt(statsPairs, "ns"), Seq("probe"), "left")
          .join(cnt(compPairs, "nc"), Seq("probe"), "left")
          .select(col("probe"), coalesce(col("nf"), lit(0L)).as("n_rows_found"),
            coalesce(col("nb"), lit(0L)).as("bloom_files"),
            coalesce(col("ns"), lit(0L)).as("stats_files"),
            coalesce(col("nc"), lit(0L)).as("composed_files"))
          .localCheckpoint() // feeds the rows AND the audit aggregate
        val audit = per.agg(sum("n_rows_found").as("nf"), sum("bloom_files").as("nb"),
            sum("stats_files").as("ns"), sum("composed_files").as("nc"))
          .select(lit(-1L).as("probe"), col("nf").as("n_rows_found"),
            col("nb").as("bloom_files"), col("ns").as("stats_files"),
            col("nc").as("composed_files"),
            (col("nc") < col("ns")).cast("long").as("flag"))
        per.withColumn("flag", lit(0L)).unionByName(audit).orderBy("probe")
      })
  }

  /** Row-level conflict resolution (dl40 — the dl27 capstone): two
    * concurrent transactions touching DISJOINT rows of the SAME file
    * merge instead of aborting. A tracked OPTIMIZE (v1) compacts every
    * adjacent file pair — retiring the instances two prepared DELETE
    * masks were keyed to, so FILE-level OCC ([[DeltaLog.rebaseConflicts]])
    * would abort both. The row-level path
    * ([[DeltaLog.dvRowLevelProbe]]/[[DeltaLog.dvRowLevelRebase]])
    * translates each mask's positions into stable row ids under the
    * snapshot it read, re-keys them onto the head's live instances
    * through the head's segment maps, and merges with the head's
    * effective masks: txn B (part-5 rows ≡1 mod 4) lands at v2 on
    * `opt-4-5` with positions shifted by |part-4|; txn D (part-4 rows
    * ≡2 mod 5 — disjoint ids, SAME head file) lands at v3 merged into
    * one mask; txn C (part-5 rows ≡1 mod 8 — ids ⊂ B's) hits
    * n_overlap > 0 and ABORTS, the textbook same-row conflict. The gate
    * pins the probe counters (file conflicts > 0 on every attempt — the
    * merges happened IN SPITE of the file race), the committed mask
    * contents (position sums pin the id translation arithmetic, not just
    * counts), the post rowset per file, and the masked/live id sums the
    * oracle recomputes from closed-form ranges. */
  val dl40RowConflict = Q("dl40_row_conflict",
    Some(s"""WITH ${DeltaLog.actionsSql},
            livef AS (
              SELECT 'part-' || CAST(bucket AS VARCHAR) AS path,
                CAST(n_rows AS BIGINT) AS n, CAST(cents AS BIGINT) AS c
              FROM bks WHERE bucket NOT IN (4, 5)
              UNION ALL SELECT 'opt-4-5', CAST(sum(n_rows) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM bks WHERE bucket IN (4, 5)),
            rws5 AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (ORDER BY o_orderkey) - 1 AS p
              FROM orders WHERE o_orderkey // ${DeltaLog.W} = 5),
            rws4 AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                row_number() OVER (ORDER BY o_orderkey) - 1 AS p
              FROM orders WHERE o_orderkey // ${DeltaLog.W} = 4),
            mb AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c,
                CAST(sum(p) AS BIGINT) AS sp FROM rws5 WHERE p % 4 = 1),
            mc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rws5 WHERE p % 8 = 1),
            md AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c,
                CAST(sum(p) AS BIGINT) AS sp FROM rws4 WHERE p % 5 = 2),
            n4 AS (SELECT CAST(n_rows AS BIGINT) AS v FROM bks WHERE bucket = 4),
            b4 AS (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS v
                   FROM bks WHERE bucket < 4),
            b5 AS (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS v
                   FROM bks WHERE bucket < 5),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
            midsum AS (SELECT
                (SELECT CAST(sum((SELECT v FROM b5) + p) AS BIGINT)
                 FROM rws5 WHERE p % 4 = 1)
              + (SELECT CAST(sum((SELECT v FROM b4) + p) AS BIGINT)
                 FROM rws4 WHERE p % 5 = 2) AS s)
            SELECT section, item, n_rows, aux, aux2, flag FROM (
              SELECT 'decision' AS section, 'B:merged' AS item, n AS n_rows,
                CAST(0 AS BIGINT) AS aux, CAST(1 AS BIGINT) AS aux2,
                CAST(2 AS BIGINT) AS flag FROM mb
              UNION ALL SELECT 'decision', 'C:abort_conflict', n, n, CAST(1 AS BIGINT),
                CAST(-1 AS BIGINT) FROM mc
              UNION ALL SELECT 'decision', 'D:merged', n, CAST(0 AS BIGINT),
                CAST(1 AS BIGINT), CAST(3 AS BIGINT) FROM md
              UNION ALL SELECT 'txn', 'dv:opt-4-5@2', (SELECT n FROM mb),
                (SELECT n FROM mb) * (SELECT v FROM n4) + (SELECT sp FROM mb),
                CAST(0 AS BIGINT), CAST(2 AS BIGINT)
              UNION ALL SELECT 'txn', 'dv:opt-4-5@3',
                (SELECT n FROM mb) + (SELECT n FROM md),
                (SELECT n FROM mb) * (SELECT v FROM n4) + (SELECT sp FROM mb)
                  + (SELECT sp FROM md),
                CAST(0 AS BIGINT), CAST(3 AS BIGINT)
              UNION ALL SELECT 'state', 'n_effective_dvs', CAST(1 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'post', path,
                CASE WHEN path = 'opt-4-5'
                  THEN n - (SELECT n FROM mb) - (SELECT n FROM md) ELSE n END,
                CASE WHEN path = 'opt-4-5'
                  THEN c - (SELECT c FROM mb) - (SELECT c FROM md) ELSE c END,
                CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM livef
              UNION ALL SELECT 'check', 'masked_ids',
                (SELECT n FROM mb) + (SELECT n FROM md), (SELECT s FROM midsum),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'check', 'live_ids',
                (SELECT n FROM tot) - (SELECT n FROM mb) - (SELECT n FROM md),
                (SELECT n FROM tot) * ((SELECT n FROM tot) - 1) // 2
                  - (SELECT s FROM midsum),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .coalesce(8).localCheckpoint() // a handful of partitions: every
        // downstream shuffle re-reads it, and 32-way task floors dominate
      val (_, acts0) = rowTrackedV0(s, obRows)
      // the concurrent writer: a tracked OPTIMIZE of the (part-4, part-5)
      // pair lands FIRST (v1), retiring exactly the instances both
      // prepared masks are keyed to (the policy over the full live set is
      // dl27's gate; here only the contended pair matters, and the
      // restricted input halves the fixture's race-window bill)
      val live0all = DeltaLog.replay(acts0)
      val acts1 = acts0.unionByName(DeltaLog.optimizeActionsTracked(
        live0all.filter(col("path").isin("part-4", "part-5")),
        DeltaLog.ridSegments(acts0), 1))
        .coalesce(1).localCheckpoint()
      // three DELETE transactions, all prepared against v0 (readVersion 0)
      val live0 = DeltaLog.replay(acts0)
      def mask(path: String, m: Int, r: Int) = DeltaLog.dvAction(live0, path, 90, 0,
        filter(sequence(lit(0L), col("n_rows") - 1), p => p % m === r))
      var acts = acts1; var head = 1
      val decisions = scala.collection.mutable.Buffer.empty[(String, Long, Long, Long, Long)]
      def attempt(name: String, txn: org.apache.spark.sql.DataFrame): Unit = {
        // ONE translated-mask race per attempt, shared by the probe and
        // (on a clean probe) the rebase — the rebase otherwise recomputes
        // the rowIds/segment chain the probe just evaluated (measured as
        // the bulk of each merged attempt's second job). Fusing probe and
        // rebase into one collect was measured WORSE (r16 — see the note
        // at DeltaLog.dvRebaseActions); this two-action shape is pinned
        // by that measurement.
        val t = DeltaLog.translatedMasksOf(txn, acts, 0).coalesce(1).localCheckpoint()
        val p = DeltaLog.dvRowLevelProbe(txn, acts, 0, Some(t)).head()
        val (nfc, nblk, nnondv) = (p.getLong(0), p.getLong(1), p.getLong(2))
        val (nMasks, nHome, nOver) = (p.getLong(3), p.getLong(4), p.getLong(5))
        if (nblk == 0 && nnondv == 0 && nHome == 0 && nOver == 0) {
          acts = acts.unionByName(DeltaLog.dvRowLevelRebase(txn, acts, 0, head + 1, Some(t)))
            .coalesce(1).localCheckpoint()
          head += 1
          decisions += ((s"$name:merged", nMasks, nOver, nfc, head.toLong))
        } else decisions += ((s"$name:abort_conflict", nMasks, nOver, nfc, -1L))
      }
      attempt("B", mask("part-5", 4, 1))
      attempt("C", mask("part-5", 8, 1)) // ids a subset of B's -> overlap
      attempt("D", mask("part-4", 5, 2)) // disjoint ids, SAME head file
      import s.implicits._
      val decRows = decisions.toSeq.toDF("item", "n_rows", "aux", "aux2", "flag")
        .select(lit("decision").as("section"), col("item"), col("n_rows"),
          col("aux"), col("aux2"), col("flag"))
      val txnRows = acts.filter(col("op") === "dv")
        .select(lit("txn").as("section"),
          concat(lit("dv:"), col("path"), lit("@"), col("version")).as("item"),
          size(col("dv")).cast("long").as("n_rows"),
          aggregate(col("dv"), lit(0L), (a, x) => a + x).as("aux"),
          lit(0L).as("aux2"), col("version").cast("long").as("flag"))
      val finalDvs = DeltaLog.deletionVectors(acts).localCheckpoint()
      val stateRow = finalDvs.agg(count(lit(1)).as("n"))
        .select(lit("state").as("section"), lit("n_effective_dvs").as("item"),
          col("n").cast("long").as("n_rows"), lit(0L).as("aux"), lit(0L).as("aux2"),
          lit(0L).as("flag"))
      // post read + id audits resolve through the REAL machinery: positions
      // from the data, masks from the log, ids from the head segment maps
      val rws = positionedRows(DeltaLog.replay(acts), obRows)
        .coalesce(8).localCheckpoint()
      val maskRows = finalDvs.select(col("path"), explode(col("dv")).as("pos"))
        .withColumn("hit", lit(1))
      val netRows = rws.join(broadcast(maskRows), Seq("path", "pos"), "left")
        .filter(col("hit").isNull).drop("hit")
      val post = netRows.groupBy("path")
        .agg(count(lit(1)).as("n"), sum("cents").as("c"))
        .select(lit("post").as("section"), col("path").as("item"),
          col("n").cast("long").as("n_rows"), col("c").cast("long").as("aux"),
          lit(0L).as("aux2"), lit(0L).as("flag"))
      // both id audits through ONE rowIds resolution (tagged union) — the
      // segment-map join ran twice for two disjoint position sets. The
      // static two-tag frame keeps an EMPTY audit side as an explicit
      // n=0 row (the replaced global aggregates always emitted both rows;
      // a bare groupBy would silently drop a tag with no positions — the
      // v16/v18 hitsAll rule applied here).
      val audTags = Seq("masked_ids", "live_ids").toDF("_aud")
      val idAudit = audTags.join(DeltaLog.rowIds(acts,
          finalDvs.select(col("path"), explode(col("dv")).as("pos"))
            .withColumn("_aud", lit("masked_ids"))
            .unionByName(netRows.select("path", "pos").withColumn("_aud", lit("live_ids"))))
        .groupBy("_aud").agg(count(lit(1)).as("n"), sum("row_id").as("sid")),
          Seq("_aud"), "left")
        .select(lit("check").as("section"), col("_aud").as("item"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_rows"),
          col("sid").cast("long").as("aux"),
          lit(0L).as("aux2"), lit(0L).as("flag"))
      decRows.unionByName(txnRows).unionByName(stateRow).unionByName(post)
        .unionByName(idAudit)
        .orderBy("section", "item")
    })

  /** Incremental clustering OPTIMIZE (dl41 — liquid clustering's cost
    * model): v1 clusters the whole v0 table into `clus-1` (everything is
    * unmarked on first run), v2 ingests three NEW files, and v3 — THE
    * operator under test ([[DeltaLog.clusterIncrementalActions]]) —
    * clusters ONLY the three unmarked files into `clus-3`, skipping the
    * marked `clus-1` entirely. The gate pins both transactions' contents,
    * the skip audit (1 file skipped; rewritten rows = NEW data rows, with
    * the v2 table size as the denominator — the ∝-new-data guarantee a
    * 100 TB nightly OPTIMIZE lives on), the marked-flag per final live
    * file, and read-neutrality: the v2 and v3 data-level reads (rows
    * through live coverage) hash-equal — clustering reshapes files,
    * never the rowset. A fourth no-op run is pinned empty: the
    * steady-state where everything is already clustered. */
  val dl41ClusterIncremental = Q("dl41_cluster_incremental",
    Some(s"""WITH ${DeltaLog.actionsSql},
            tot AS (SELECT CAST(count(*) AS BIGINT) AS nb,
                CAST(sum(n_rows) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS c,
                CAST(min(min_key) AS BIGINT) AS mn, CAST(max(max_key) AS BIGINT) AS mx
              FROM bks),
            nw AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS c
              FROM bks WHERE bucket IN (1, 2, 3)),
            ob AS (SELECT o_orderkey // ${DeltaLog.W} AS bucket, o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
            rd AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS k, CAST(sum(cents) AS BIGINT) AS c
              FROM (SELECT o_orderkey, cents FROM ob
                    UNION ALL SELECT o_orderkey, cents FROM ob WHERE bucket IN (1, 2, 3)) t)
            SELECT section, item, n_rows, aux, flag FROM (
              SELECT 'txn' AS section, 'v1:add:clus-1' AS item, n AS n_rows, c AS aux,
                CAST(1 AS BIGINT) AS flag FROM tot
              UNION ALL SELECT 'txn', 'v1:n_removed', nb, CAST(0 AS BIGINT),
                CAST(0 AS BIGINT) FROM tot
              UNION ALL SELECT 'txn', 'v3:add:clus-3', n, c, CAST(1 AS BIGINT) FROM nw
              UNION ALL SELECT 'txn', 'v3:n_removed', CAST(3 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'txn', 'v4:n_actions', CAST(0 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'skip', 'v3_skipped_files', CAST(1 AS BIGINT),
                CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              UNION ALL SELECT 'skip', 'v3_rewritten_rows', (SELECT n FROM nw),
                (SELECT n FROM tot) + (SELECT n FROM nw),
                CAST(CASE WHEN (SELECT n FROM nw) * 3
                      < (SELECT n FROM tot) + (SELECT n FROM nw)
                     THEN 1 ELSE 0 END AS BIGINT)
              UNION ALL SELECT 'post', 'clus-1', n, c, CAST(1 AS BIGINT) FROM tot
              UNION ALL SELECT 'post', 'clus-3', n, c, CAST(1 AS BIGINT) FROM nw
              UNION ALL SELECT 'check', 'read_v2', n, k, c FROM rd
              UNION ALL SELECT 'check', 'read_v3', n, k, c FROM rd
              UNION ALL SELECT 'check', 'equal', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                CAST(1 AS BIGINT)
            ) t ORDER BY section, item"""),
    (s, d) => {
      val ord = orders(s, d)
      val obRows = ord.select(floor(col("o_orderkey") / DeltaLog.W).as("bucket"),
        col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val bks = obRows.groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"), sum("cents").as("cents"))
        .coalesce(1).localCheckpoint()
      val acts0 = DeltaLog.addActions(bks.select(col("bucket").as("ordinal"),
        concat(lit("part-"), col("bucket")).as("path"),
        array(col("bucket")).as("buckets"),
        col("n_rows"), col("min_key"), col("max_key"), col("cents")), 0)
        .coalesce(1).localCheckpoint()
      // v1: first OPTIMIZE — everything unmarked, the whole table clusters
      val t1 = DeltaLog.clusterIncrementalActions(acts0, 1).coalesce(1).localCheckpoint()
      val acts1 = acts0.unionByName(t1).coalesce(1).localCheckpoint()
      // v2: fresh ingest — three new files re-adding buckets 1..3
      val acts2 = acts1.unionByName(DeltaLog.addActions(
        bks.filter(col("bucket").isin(1, 2, 3)).select(col("bucket").as("ordinal"),
          concat(lit("new-"), col("bucket")).as("path"),
          array(col("bucket")).as("buckets"),
          col("n_rows"), col("min_key"), col("max_key"), col("cents")), 2))
        .coalesce(1).localCheckpoint()
      // v3: THE operator — only the unmarked files cluster
      val t3 = DeltaLog.clusterIncrementalActions(acts2, 3).coalesce(1).localCheckpoint()
      val acts3 = acts2.unionByName(t3).coalesce(1).localCheckpoint()
      // steady state: a fourth run with everything marked is a no-op
      val t4n = DeltaLog.clusterIncrementalActions(acts3, 4)
        .agg(count(lit(1)).as("n"))
        .select(lit("txn").as("section"), lit("v4:n_actions").as("item"),
          col("n").cast("long").as("n_rows"), lit(0L).as("aux"), lit(0L).as("flag"))
      def txnRows(t: org.apache.spark.sql.DataFrame, v: Int) = {
        val marks = t.filter(col("op") === "clus").select(col("path"), lit(1L).as("_m"))
        t.filter(col("op") === "add").join(broadcast(marks), Seq("path"), "left")
          .select(lit("txn").as("section"),
            concat(lit(s"v$v:add:"), col("path")).as("item"),
            col("n_rows"), col("cents").as("aux"),
            coalesce(col("_m"), lit(0L)).as("flag"))
          .unionByName(t.filter(col("op") === "remove").agg(count(lit(1)).as("n"))
            .select(lit("txn").as("section"), lit(s"v$v:n_removed").as("item"),
              col("n").cast("long").as("n_rows"), lit(0L).as("aux"), lit(0L).as("flag")))
      }
      // skip audit: candidates the mark excluded, and rewritten rows over
      // the table size the run saw — the ∝-new-data pin
      val skipped = DeltaLog.replay(acts2)
        .join(broadcast(DeltaLog.effectiveSidePayloads(acts2, "clus").select("path")),
          Seq("path"), "left_semi")
        .agg(count(lit(1)).as("n"))
        .select(lit("skip").as("section"), lit("v3_skipped_files").as("item"),
          col("n").cast("long").as("n_rows"), lit(0L).as("aux"), lit(0L).as("flag"))
      val rewritten = t3.filter(col("op") === "add").agg(sum("n_rows").as("rw"))
        .crossJoin(DeltaLog.replay(acts2).agg(sum("n_rows").as("tbl")))
        .select(lit("skip").as("section"), lit("v3_rewritten_rows").as("item"),
          col("rw").cast("long").as("n_rows"), col("tbl").cast("long").as("aux"),
          (col("rw") * 3 < col("tbl")).cast("long").as("flag"))
      val post = DeltaLog.replay(acts3)
        .join(broadcast(DeltaLog.effectiveSidePayloads(acts3, "clus").select("path")
          .withColumn("_m", lit(1L))), Seq("path"), "left")
        .select(lit("post").as("section"), col("path").as("item"), col("n_rows"),
          col("cents").as("aux"), coalesce(col("_m"), lit(0L)).as("flag"))
      // read-neutrality: the v2 and v3 DATA-level reads are identical
      def readSig(acts: org.apache.spark.sql.DataFrame, item: String) =
        DeltaLog.replay(acts).select(col("path"), explode(col("buckets")).as("bucket"))
          .join(obRows, Seq("bucket"))
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("k"), sum("cents").as("c"))
          .select(lit("check").as("section"), lit(item).as("item"),
            col("n").cast("long").as("n_rows"), col("k").cast("long").as("aux"),
            col("c").cast("long").as("flag"))
      val s2 = readSig(acts2, "read_v2"); val s3 = readSig(acts3, "read_v3")
      val eq = equalCheck(s2, s3, "equal")
      txnRows(t1, 1).unionByName(txnRows(t3, 3)).unionByName(t4n)
        .unionByName(skipped).unionByName(rewritten).unionByName(post)
        .unionByName(s2).unionByName(s3).unionByName(eq)
        .orderBy("section", "item")
    })

  def all: Seq[Q] = Seq(dl1Snapshot, dl2TimeTravel, dl2bTimeTravelTs, dl3StatsPrune, dl4Checkpoint,
    dl5Diff, dl6Zorder, dl7Vacuum, dl8Occ, dl9Optimize, dl10Dv, dl11Schema, dl12Cdf, dl12bCdfDv,
    dl13CheckpointFullState, dl14OptimizeDv, dl15VacuumDv, dl16OptimizeSchema,
    dl17DeleteWhere, dl18Merge, dl19ProtocolGate, dl20Restore, dl21OccRebase, dl22ColumnMapping,
    dl23WriterInvariants, dl24RetryLoop, dl25UpdateWhere, dl26ShallowClone, dl27RowTracking,
    dl28TableProps, dl29AddConstraint, dl30CowDelete, dl31TypeWidening, dl32GeneratedCoverage,
    dl33StreamTxnSink, dl34MergeBySource, dl35IdentityOcc, dl36ReplaceWhere, dl37ReorgPurge,
    dl38LogToLog, dl39BloomSkipping, dl40RowConflict, dl41ClusterIncremental, k6Clustering, scd1Build, cdc1Apply, ivm1View, ivm2JoinView)
}
