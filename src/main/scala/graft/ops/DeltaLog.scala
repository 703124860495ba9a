package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-style transaction-log table format, miniature but real: an
  * append-only log of JSON actions (`add` / `remove` file, with per-file
  * column stats), replayed into a snapshot whose live file set drives
  * stats-based file skipping and time travel (SURVEY.md §2 extension —
  * the lakehouse layer under every 100 TB training-data lake; the public
  * Delta Lake PROTOCOL.md documents this action model).
  *
  * Scale shape: the LOG is tiny by design (actions ∝ files, not rows) —
  * replay is a window over paths; the DATA never moves during replay.
  * Stats pruning turns a predicate scan into a file-list filter plus a
  * scan of only overlapping files — the dl3 gate proves soundness by
  * having the oracle recompute true per-file match counts from raw data
  * (a pruned file with a nonzero true count would hash-mismatch).
  *
  * The fixture "files" are orderkey-range buckets of the orders table
  * (`bucket = o_orderkey / W`), so both engines derive identical file
  * stats from arithmetic; the log itself is REAL JSON — built with
  * to_json, parsed back with from_json against `actionSchema`.
  * Log history: v0 adds every bucket file; v1 compacts part-0+part-1
  * into compact-0-1; v2 removes part-2 (a delete); v3 appends append-0
  * (bucket 3's rows again, as new data).
  */
object DeltaLog {

  /** Rows per file bucket. 250 keeps ≥6 files at sf0.001 (the log story
    * needs buckets 0-3 plus spares) and 600 files at sf0.1. */
  val W = 250

  val actionSchema: StructType = StructType(Seq(
    StructField("version", IntegerType), StructField("ordinal", IntegerType),
    StructField("op", StringType), StructField("path", StringType),
    StructField("buckets", ArrayType(LongType)), StructField("n_rows", LongType),
    StructField("min_key", LongType), StructField("max_key", LongType),
    StructField("cents", LongType),
    // deletion vector: 0-based row positions (within the file's
    // o_orderkey order) masked out by an op='dv' action — the Delta
    // DV / Iceberg position-delete shape: deletes without rewriting
    // the file (dl10). Null on add/remove actions.
    StructField("dv", ArrayType(LongType)),
    // table schema carried by an op='meta' action (the Delta metaData
    // action): the ACTIVE schema at version V = the latest meta ≤ V;
    // files added before a widening physically lack the new columns and
    // read back null-backfilled (dl11). Null on all other ops.
    StructField("schema_str", StringType),
    // commit timestamp (epoch µs) — a per-VERSION property stamped onto
    // every action of the commit (real Delta keys it to the commit file;
    // the action carries it here so TIMESTAMP AS OF and time-based
    // vacuum resolve from the log alone, dl2b). Null on unstamped logs.
    StructField("ts", LongType),
    // minimum reader/writer versions carried by an op='protocol' action
    // (the Delta protocol action carries BOTH): a reader below the ACTIVE
    // min_reader must fail loudly instead of silently misreading a table
    // whose features (e.g. deletion vectors) it can't honor, and a writer
    // below min_writer must fail before COMMITTING (a DV-blind writer
    // compacting masked files on raw stats would resurrect deleted rows
    // for everyone — the dl14 bug class, caused by an old client). Null
    // on all other ops (dl19).
    StructField("min_reader", IntegerType),
    StructField("min_writer", IntegerType)))

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** Per-bucket file stats from the orders table. */
  def buckets(orders: DataFrame): DataFrame =
    orders.groupBy(floor(col("o_orderkey") / W).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"), sum(cents(col("o_totalprice"))).as("cents"))

  /** The transaction log as JSON lines (one DataFrame column `line`).
    * The bucket stats are MATERIALIZED here (log-sized — one row per
    * file): three of the four history branches derive from `b`, and
    * without the checkpoint each branch re-runs the full orders
    * aggregation — from_json downstream hides any version filter from
    * branch pruning, so every logLines consumer paid three data scans
    * for one log (measured: dl27's first draft spent 3.5 s here). */
  def logLines(orders: DataFrame): DataFrame = {
    val b = buckets(orders).coalesce(1).localCheckpoint()
    def add(version: Int, ordinal: org.apache.spark.sql.Column,
            path: org.apache.spark.sql.Column, bks: org.apache.spark.sql.Column) =
      to_json(struct(lit(version).as("version"), ordinal.cast("int").as("ordinal"),
        lit("add").as("op"), path.as("path"), bks.as("buckets"),
        col("n_rows").cast("long").as("n_rows"), col("min_key").cast("long").as("min_key"),
        col("max_key").cast("long").as("max_key"), col("cents").cast("long").as("cents"))).as("line")
    val v0 = b.select(add(0, col("bucket"), concat(lit("part-"), col("bucket")),
      array(col("bucket").cast("long"))))
    val removes = b.sparkSession.range(1).select(explode(array(
      struct(lit(1).as("version"), lit(0).as("ordinal"), lit("remove").as("op"), lit("part-0").as("path")),
      struct(lit(1).as("version"), lit(1).as("ordinal"), lit("remove").as("op"), lit("part-1").as("path")),
      struct(lit(2).as("version"), lit(0).as("ordinal"), lit("remove").as("op"), lit("part-2").as("path"))
    )).as("a")).select(to_json(col("a")).as("line"))
    val compact = b.filter(col("bucket") <= 1)
      .agg(sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
        max("max_key").as("max_key"), sum("cents").as("cents"))
      .select(add(1, lit(2), lit("compact-0-1"), array(lit(0L), lit(1L))))
    val append = b.filter(col("bucket") === 3)
      .select(add(3, lit(0), lit("append-0"), array(lit(3L))))
    v0.unionByName(removes).unionByName(compact).unionByName(append)
  }

  /** Parse the JSON log lines back into typed action rows. STRICT: an
    * unparseable line fails the read (raise_error in the row path) —
    * a transaction log with a torn action must never silently replay to
    * a wrong snapshot (the quarantine-a-row contract of the content
    * decoders does NOT apply here: dropping one action corrupts every
    * later snapshot, so the failure unit is the whole log). */
  def actions(log: DataFrame): DataFrame =
    log.select(from_json(col("line"), actionSchema).as("a"), col("line"))
      // version/ordinal are load-bearing for the last-wins replay: a
      // remove whose version field was lost would sort LAST (nulls) and
      // never win, silently resurrecting the removed file — so a missing
      // ordering field is just as torn as unparseable JSON
      .select(when(col("a").isNull || col("a.op").isNull || col("a.path").isNull ||
        col("a.version").isNull || col("a.ordinal").isNull,
        raise_error(concat(lit("unparseable log action: "), col("line"))))
        .otherwise(col("a")).as("a"))
      .select("a.*")

  /** ONE copy of the last-wins FILE race, vectorized over a frame of
    * as-of versions (column `v`): per (v, path) the highest
    * (version, ordinal) file action wins; survivors are the `add`s.
    * Only add/remove participate in the liveness race — a later
    * non-file action on the same path (a dv mask, a future stats
    * refresh) must never out-rank the add and drop the file; the filter
    * lives HERE so every replay path (snapshot, checkpointed,
    * incremental fold, per-version grids) shares it. Single-version
    * readers come through [[lastWins]] with a one-row version frame;
    * per-version readers (time travel, CDF, vacuum retention) pass
    * their whole version range — same rule, ONE window pass instead of
    * one scheduling floor per version (six looped replays cost 6× the
    * stage floor for identical results). Returns rows with `v` and the
    * winning add's ORIGINAL (version, ordinal) retained. */
  def replayGrid(acts: DataFrame, versions: DataFrame): DataFrame =
    fileRace(versions.join(acts.filter(col("op").isin("add", "remove")),
      acts("version") <= versions("v")))

  /** The race core both replay shapes share: per (v, path) the highest
    * (version, ordinal) file action wins; survivors are the adds. */
  private def fileRace(actsWithV: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("v"), col("path")).orderBy(col("version").desc, col("ordinal").desc)
    actsWithV.filter(col("op").isin("add", "remove"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "add")
      .drop("rn")
  }

  /** The single unbounded cut every single-snapshot reader shares —
    * same [[fileRace]], with a CONSTANT v column instead of a version
    * join (callers pre-bound with `version <= asOf`; adding a one-row
    * join here would put a join operator into every snapshot plan,
    * which the dl1 plan pin forbids). Returns rows WITH version/ordinal
    * retained so callers can derive provenance before dropping them. */
  private def lastWins(acts: DataFrame): DataFrame =
    fileRace(acts.withColumn("v", lit(Int.MaxValue))).drop("v")

  /** Replay the log into the live file set as of `asOf` (None = latest):
    * per path, the last action (version, ordinal) wins; live = `add`. */
  def snapshot(log: DataFrame, asOf: Option[Int] = None): DataFrame =
    replay(actions(log), asOf)

  /** [[snapshot]] over pre-parsed action rows — for callers that extend
    * the log in-flight (dl9's OPTIMIZE) or hold a checkpointed parse. */
  def replay(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    replayWithBirth(acts, asOf).drop("version", "ordinal")

  /** [[replay]] retaining each winning add's ORIGINAL (version, ordinal)
    * — the file's instance birth, which backfill accounting (which live
    * files predate the active schema?) and checkpoint provenance read.
    * Original coordinates survive [[checkpointState]], so this works
    * identically over a full log or a checkpoint+tail action set. */
  def replayWithBirth(acts: DataFrame, asOf: Option[Int] = None): DataFrame = {
    val bounded = asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts)
    lastWins(bounded).drop("op")
  }

  /** The effective deletion vector per path as of `asOf`: the LATEST
    * op='dv' action wins per path (a rewrite of the mask replaces it),
    * AND the mask is scoped to the CURRENT FILE INSTANCE — a dv older
    * than the live file's own add action belonged to a removed/rewritten
    * predecessor and must be ignored, or a remove + re-add of the same
    * path would subtract the old mask's positions from the NEW file's
    * rows (real Delta keys DVs to a file instance, not a path; the
    * instance-birth version is the equivalent scoping here). Masks on
    * non-live paths drop out the same way. Returns (path, dv). */
  def deletionVectors(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    effectiveDvRows(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts))
      .select(col("path"), col("dv"))

  /** The effective-mask race, vectorized over a version frame like
    * [[replayGrid]]: per (v, path) the latest op='dv' action wins, and
    * it must postdate its live file's birth LEXICOGRAPHICALLY on
    * (version, ordinal) — a dv committed in the same version as a
    * remove+re-add of the path but ORDERED BEFORE the re-add belongs to
    * the removed predecessor and must not mask the new instance.
    * Returns full [[actionSchema]] columns plus `v`. Shared by
    * [[deletionVectors]] (single cut), the
    * per-version CDF/vacuum readers (whole range), and
    * [[checkpointState]] (which persists the winning rows verbatim, the
    * way a real Delta checkpoint persists DV references inline with its
    * file list). */
  def deletionVectorGrid(acts: DataFrame, versions: DataFrame): DataFrame =
    dvRace(
      versions.join(acts.filter(col("op") === "dv"), acts("version") <= versions("v")),
      replayGrid(acts, versions))

  /** The mask-race core both dv shapes share: per (v, path) the latest
    * dv wins, then the lexicographic instance-scoping filter against
    * the live add's birth. `opName` generalizes the race to every
    * INSTANCE-SCOPED side-action family — dv masks and row-id segment
    * maps (op='rids', dl27) obey the identical rule: latest per path
    * wins, and an action older than the live instance's birth belonged
    * to a dead predecessor and must not bind. */
  private def dvRace(dvWithV: DataFrame, liveWithV: DataFrame,
                     opName: String = "dv"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("v"), col("path")).orderBy(col("version").desc, col("ordinal").desc)
    val latestDv = dvWithV.filter(col("op") === opName)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val liveBirth = liveWithV
      .select(col("v"), col("path"), col("version").as("add_version"), col("ordinal").as("add_ordinal"))
    latestDv.join(liveBirth, Seq("v", "path"))
      .filter(col("version") > col("add_version") ||
        (col("version") === col("add_version") && col("ordinal") >= col("add_ordinal")))
      .drop("add_version", "add_ordinal")
  }

  /** [[deletionVectorGrid]] at a single unbounded cut (callers pass
    * pre-bounded action frames) — constant-v like [[lastWins]], no
    * version join. */
  private def effectiveDvRows(bounded: DataFrame): DataFrame =
    effectiveSideRows(bounded, "dv")

  /** The single-cut instance-scoped race for ANY side-action family
    * (op='dv', op='rids'): latest action per path, bound to the live
    * instance's birth. */
  private def effectiveSideRows(bounded: DataFrame, opName: String): DataFrame = {
    val withV = bounded.withColumn("v", lit(Int.MaxValue))
    dvRace(withV, fileRace(withV), opName).drop("v")
  }

  /** ALL instance-scoped side families raced in ONE pass: the window
    * partitions by (op, path), so one sort + one birth join covers
    * dv + rids + ident + bloom + clus — checkpointState previously paid
    * a separate file race AND side window per family (5 of each), and
    * every added family made every checkpoint/fold measurably slower
    * (dl13 doubled when bloom/clus retention landed; this fusion made
    * the 7-family checkpoint CHEAPER than the round-14 5-family one).
    * Union-of-per-family-races ≡ this multi-race exactly: the partition
    * key gains `op`, nothing else changes. */
  private def effectiveSideRowsMulti(bounded: DataFrame, opNames: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withV = bounded.withColumn("v", lit(Int.MaxValue))
    val w = Window.partitionBy(col("op"), col("v"), col("path"))
      .orderBy(col("version").desc, col("ordinal").desc)
    val latest = withV.filter(col("op").isin(opNames: _*))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val liveBirth = fileRace(withV)
      .select(col("v"), col("path"), col("version").as("add_version"),
        col("ordinal").as("add_ordinal"))
    latest.join(liveBirth, Seq("v", "path"))
      .filter(col("version") > col("add_version") ||
        (col("version") === col("add_version") && col("ordinal") >= col("add_ordinal")))
      .drop("add_version", "add_ordinal", "v")
  }

  /** OPTIMIZE chosen BY the engine and written AS a real transaction —
    * the loop every lakehouse runs (Delta OPTIMIZE / bin-packing): pair
    * adjacent live single-bucket `part-` files (bin = b_lo / 2; only
    * full pairs compact — rewriting a lone file buys nothing), emit the
    * version-`version` action rows: one `remove` per input (ordinal =
    * its bucket) plus one `add` per compacted `opt-lo-hi` file with
    * SUMMED stats (ordinal = 1000 + lo, after every remove). The
    * transaction only reshapes files — the replayed row set before and
    * after is identical, which dl9 hash-gates via data-level signatures.
    * Log-sized work: the policy reads the live FILE LIST, never data.
    *
    * DELETION-VECTOR MATERIALIZATION (`dvs` + `netStats`): a live DV on
    * a compacted input must be folded into the rewrite, or the compacted
    * file resurrects the masked rows in every later snapshot (the
    * round-10 verdict's latent wrong-answer). Pass the effective masks
    * ([[deletionVectors]]) plus per-masked-file NET-of-mask stats
    * (path, n_rows, min_key, max_key, cents, masked_cents) — net stats
    * come from the caller because computing them reads data, which the
    * REWRITE pays anyway (OPTIMIZE physically rewrites its inputs; the
    * log layer itself still never touches rows). A masked input's stats
    * are replaced by the net stats before binning, so the compacted add
    * carries mask-net rows/stats and NO dv — the mask is retired with
    * the removed input (deletionVectors drops masks on non-live
    * instances). Three row-path guards keep this loud: a masked input
    * without net stats raises; net n_rows must equal
    * n_rows − |in-range mask positions|; and net cents + masked_cents
    * (the mask's own cents, from the same data pass) must reconcile
    * against the COMMITTED original cents (a net-stats frame that
    * disagrees would silently commit wrong stats). */
  def optimizeActions(live: DataFrame, version: Int,
                      dvs: Option[DataFrame] = None,
                      netStats: Option[DataFrame] = None): DataFrame = {
    require(dvs.isDefined == netStats.isDefined,
      "dvs and netStats must be supplied together")
    val effLive = (dvs, netStats) match {
      case (Some(dv), Some(net)) =>
        val d = dv.select(col("path"), col("dv").as("_mask"))
        val n = net.select(col("path"), col("n_rows").as("_net_rows"),
          col("min_key").as("_net_min"), col("max_key").as("_net_max"),
          col("cents").as("_net_cents"), col("masked_cents").as("_net_masked"))
        val inRange = size(filter(col("_mask"), p => p >= 0 && p < col("n_rows")))
        live.join(d, Seq("path"), "left").join(n, Seq("path"), "left")
          .select(col("path"), col("buckets"),
            when(col("_mask").isNotNull && col("_net_rows").isNull,
              raise_error(concat(lit("masked input lacks net stats: "), col("path"))))
              .when(col("_mask").isNotNull && (col("n_rows").isNull ||
                  col("_net_rows") =!= col("n_rows") - inRange),
                raise_error(concat(lit("net stats disagree with mask cardinality: "), col("path"))))
              .when(col("_mask").isNotNull, col("_net_rows"))
              .otherwise(col("n_rows")).as("n_rows"),
            when(col("_mask").isNotNull, col("_net_min")).otherwise(col("min_key")).as("min_key"),
            when(col("_mask").isNotNull, col("_net_max")).otherwise(col("max_key")).as("max_key"),
            // cents is the SUMMABLE stat a disagreeing net frame corrupts
            // silently (the compacted add sums it into the log): the net
            // frame must carry the mask's own cents (`masked_cents`, from
            // the same data pass) so net + masked reconciles against the
            // COMMITTED original — an independent source the frame can't
            // have derived its error from. min/max have no such algebra
            // (a max can shrink arbitrarily under a mask) and stay
            // oracle-gated.
            when(col("_mask").isNotNull && (col("_net_masked").isNull ||
                col("_net_cents").isNull || col("cents").isNull ||
                col("_net_cents") + col("_net_masked") =!= col("cents")),
              raise_error(concat(lit("net cents disagree with committed stats: "), col("path"))))
              .when(col("_mask").isNotNull, col("_net_cents")).otherwise(col("cents")).as("cents"))
      case _ => live
    }
    optimizeOver(effLive, version)
  }

  private def optimizeOver(live: DataFrame, version: Int): DataFrame = {
    // the pairing policy below is defined over SINGLE-bucket files (bin =
    // bucket/2; the add's coverage = sequence(lo, hi)). Enforce that in
    // the op, not by naming convention: a multi-bucket 'part-' file from
    // some future writer must be left alone, or removing it while adding
    // a 2-bucket replacement would silently drop its other buckets' rows
    // from every later snapshot
    val parts = live.filter(col("path").startsWith("part-") && size(col("buckets")) === 1)
      .withColumn("b_lo", element_at(col("buckets"), 1))
      .withColumn("bin", floor(col("b_lo") / 2))
    val bins = parts.groupBy("bin").agg(count(lit(1)).as("nf"),
        min("b_lo").as("lo"), max("b_lo").as("hi"),
        sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
        max("max_key").as("max_key"), sum("cents").as("cents"))
      .filter(col("nf") === 2)
    val removes = parts.join(bins.select("bin"), "bin")
      .select(Seq(lit(version).as("version"), col("b_lo").cast("int").as("ordinal"),
        lit("remove").as("op"), col("path")) ++ nullStatCols ++ nullDvTailCols: _*)
    val adds = bins.select(Seq(lit(version).as("version"),
      (lit(1000) + col("lo")).cast("int").as("ordinal"), lit("add").as("op"),
      concat(lit("opt-"), col("lo"), lit("-"), col("hi")).as("path"),
      sequence(col("lo"), col("hi")).as("buckets"),
      col("n_rows").cast("long").as("n_rows"), col("min_key").cast("long").as("min_key"),
      col("max_key").cast("long").as("max_key"), col("cents").cast("long").as("cents")) ++
      nullDvTailCols: _*)
    removes.unionByName(adds)
  }

  /** A deletion-vector action row for `path`, carrying `mask` (0-based
    * row positions within the file's key order) — schema-complete so it
    * round-trips [[toLines]] → [[actions]] losslessly. STRICT: a path
    * that matches no live file raises in the row path (left join from
    * the requested path to `live`) — a typo'd or non-live target must
    * never silently drop the delete (the file's
    * never-silently-lose-an-action contract). */
  def dvAction(live: DataFrame, path: String, version: Int, ordinal: Int,
               mask: org.apache.spark.sql.Column): DataFrame =
    live.sparkSession.range(1).select(lit(path).as("path"))
      .join(live.withColumn("_live_hit", lit(1)), Seq("path"), "left")
      .select(Seq(lit(version).as("version"), lit(ordinal).as("ordinal"),
        lit("dv").as("op"),
        when(col("_live_hit").isNull,
          raise_error(concat(lit("dv action targets non-live path: "), col("path"))))
          .otherwise(col("path")).as("path")) ++ nullStatCols ++
        (mask.as("dv") +: nullTailCols): _*)

  /** Serialize action rows back to JSON log lines (field order matches
    * [[logLines]]; EVERY [[actionSchema]] field rides, including `dv` —
    * dropping a field here would silently erase deletion masks on the
    * round trip while the strict parse happily accepts the torn line) —
    * dl9 commits its OPTIMIZE and dl10 its DV masks by appending these
    * and re-reading through the same STRICT [[actions]] parse. */
  def toLines(acts: DataFrame): DataFrame =
    acts.select(to_json(struct(col("version"), col("ordinal"), col("op"), col("path"),
      col("buckets"), col("n_rows"), col("min_key"), col("max_key"), col("cents"),
      col("dv"), col("schema_str"), col("ts"), col("min_reader"),
      col("min_writer"))).as("line"))

  /** A schema-complete `add` action row per input stats row (columns
    * n_rows/min_key/max_key/cents, coverage from `bks`) — companion to
    * [[metaAction]]/[[dvAction]] so fixture builders never hand-roll the
    * 11-column literal: a widening of [[actionSchema]] must touch the
    * action builders in ONE place or [[toLines]] round-trips a torn row. */
  def addAction(stats: DataFrame, version: Int, ordinal: Int, path: String,
                bks: org.apache.spark.sql.Column): DataFrame =
    stats.select(Seq(lit(version).as("version"), lit(ordinal).as("ordinal"), lit("add").as("op"),
      lit(path).as("path"), bks.as("buckets"),
      col("n_rows").cast("long").as("n_rows"), col("min_key").cast("long").as("min_key"),
      col("max_key").cast("long").as("max_key"), col("cents").cast("long").as("cents")) ++
      nullDvTailCols: _*)

  /** [[addAction]]'s column-based twin: one `add` row per input row,
    * coordinates and coverage from COLUMNS (`ordinal`, `path`,
    * `buckets` alongside the stats) — for fixture builders emitting a
    * whole wave of adds from one stats frame, where the per-path
    * [[addAction]] would cost a union branch (and a scan) per file. */
  def addActions(rows: DataFrame, version: Int): DataFrame =
    rows.select(Seq(lit(version).as("version"), col("ordinal").cast(IntegerType).as("ordinal"),
      lit("add").as("op"), col("path"), col("buckets"),
      col("n_rows").cast("long").as("n_rows"), col("min_key").cast("long").as("min_key"),
      col("max_key").cast("long").as("max_key"), col("cents").cast("long").as("cents")) ++
      nullDvTailCols: _*)

  /** A schema-complete `remove` action row. */
  def removeAction(spark: SparkSession, version: Int, ordinal: Int, path: String): DataFrame =
    spark.range(1).select(Seq(lit(version).as("version"), lit(ordinal).as("ordinal"),
      lit("remove").as("op"), lit(path).as("path")) ++ nullStatCols ++ nullDvTailCols: _*)

  /** [[removeAction]]'s column-based twin: one `remove` row per input
    * row, path and ordinal from COLUMNS — for transaction builders
    * retiring a whole wave of files from one frame (dl38's log-to-log
    * mirror), where the per-path [[removeAction]] costs a union branch
    * and a range scan per file. */
  def removeActions(rows: DataFrame, version: Int): DataFrame =
    rows.select(Seq(lit(version).as("version"), col("ordinal").cast(IntegerType).as("ordinal"),
      lit("remove").as("op"), col("path")) ++ nullStatCols ++ nullDvTailCols: _*)

  /** Per-file sidecar-metadata actions (columns `path`, `ordinal`,
    * `payload`): one op=`opName` row per file, payload in schema_str —
    * the rids/ident side-action shape opened to new families (dl39's
    * per-file bloom filters commit through this). Instance-scoped like
    * every side action: [[effectiveSidePayloads]] races them against the
    * file's add, so a rewrite of the file retires its sidecar. */
  def sideActions(rows: DataFrame, opName: String, version: Int): DataFrame =
    rows.select(Seq(lit(version).as("version"), col("ordinal").cast(IntegerType).as("ordinal"),
      lit(opName).as("op"), col("path")) ++ nullStatCols ++
      (Seq(nullDv, col("payload").as("schema_str")) ++ nullStampCols): _*)

  /** The effective sidecar payload per LIVE file instance for a side
    * family (latest op=`opName` row postdating the live add wins; rows on
    * dead instances drop — the dv/rids race). Returns (path, payload). */
  def effectiveSidePayloads(acts: DataFrame, opName: String,
                            asOf: Option[Int] = None): DataFrame =
    effectiveSideRows(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), opName)
      .select(col("path"), col("schema_str").as("payload"))

  /** ONE spelling for every table-state action row (meta, constraint —
    * null stats, a payload in schema_str), built over a one-row frame so
    * derived builders (rewriteMapping, addColumn) can compute the
    * payload column: an [[actionSchema]] widening touches HERE, not one
    * hand-spelled 14-column literal per builder (the nullStatCols
    * contract, extended to the table-state family). */
  private def tableStateRow(df: DataFrame, opName: String, pathName: String,
                            version: Int, ordinal: Int,
                            payload: org.apache.spark.sql.Column): DataFrame =
    df.select(Seq(lit(version).as("version"), lit(ordinal).as("ordinal"),
      lit(opName).as("op"), lit(pathName).as("path")) ++ nullStatCols ++
      Seq(nullDv, payload.as("schema_str")) ++ nullStampCols: _*)

  /** An op='meta' action row carrying the table schema as of `version`
    * (the Delta metaData action; path is the synthetic '_schema' so the
    * strict parse's non-null-path contract holds — [[lastWins]] races
    * only file actions, so meta never touches liveness). */
  def metaAction(spark: SparkSession, version: Int, ordinal: Int, schemaStr: String): DataFrame =
    tableStateRow(spark.range(1).toDF(), "meta", "_schema", version, ordinal, lit(schemaStr))

  /** The ACTIVE schema as of `asOf` (None = latest): the highest
    * (version, ordinal) op='meta' action wins. Returns one row
    * (schema_str, schema_version) — schema_version is what dl11's
    * backfill accounting compares file add-versions against. */
  def activeSchema(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    activeMetaRow(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts))
      .select(col("schema_str"), col("version").as("schema_version"))

  /** The winning op='meta' ACTION row (full [[actionSchema]] columns,
    * ORIGINAL version/ordinal) — shared by [[activeSchema]] and
    * [[checkpointState]]. */
  private def activeMetaRow(bounded: DataFrame): DataFrame =
    activeOpRow(bounded, "meta")

  /** The latest-wins race for a SINGLETON action family (meta, protocol):
    * the highest (version, ordinal) action of the given op wins. One
    * shared core so every table-level property (schema, protocol) obeys
    * the same rule the file and mask races do. */
  private def activeOpRow(bounded: DataFrame, opName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("op")).orderBy(col("version").desc, col("ordinal").desc)
    bounded.filter(col("op") === opName)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** [[activeOpRow]] vectorized over a version frame (column `v`) — the
    * singleton-race twin of [[replayGrid]]: per v, the highest
    * (version, ordinal) action of the given op at-or-below v wins. ONE
    * window pass for a whole version range instead of one scheduling
    * floor per version (dl11/dl19 inlined this shape; new readers share
    * it from here). */
  def activeOpGrid(acts: DataFrame, versions: DataFrame, opName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("v")).orderBy(col("version").desc, col("ordinal").desc)
    versions.join(acts.filter(col("op") === opName), acts("version") <= versions("v"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** FULL checkpoint state at `v0` (None = latest): the winning action
    * rows ONLY, each keeping its ORIGINAL (version, ordinal) — one `add`
    * per live file, the effective `dv` per live path, the active `meta`.
    * This is what a real Delta checkpoint persists (file list + DV
    * references + metaData), and keeping original coordinates makes the
    * equivalence structural: every per-path race (liveness, mask,
    * schema) is a max over (version, ordinal), and a max is unchanged by
    * dropping losers — so replay / deletionVectors / activeSchema over
    * (checkpointState ∪ tail) ≡ the same reads over the full log, for
    * ALL THREE state families. A dropped prefix action can never win
    * later: tail actions outrank the whole prefix (version > v0), and a
    * prefix dv scoped to a dead instance stays outranked by the same
    * live add that outranked it at v0. The round-10 verdict's lead gap
    * — checkpoint readers silently losing dv masks and schema — is
    * closed by persisting them HERE, not by special-casing readers. */
  def checkpointState(acts: DataFrame, v0: Option[Int] = None): DataFrame = {
    val bounded = v0.map(v => acts.filter(col("version") <= v)).getOrElse(acts)
    val cols = actionSchema.fieldNames.map(col).toSeq
    lastWins(bounded).select(cols: _*)
      // ALL instance-scoped side families (dv masks, rids/ident segment
      // maps, bloom sidecars, cluster marks) ride ONE fused race — see
      // effectiveSideRowsMulti; the per-family rationale rows below are
      // kept with their families' history:
      //  - dv: real checkpoints persist DV references inline;
      //  - rids (dl27) / ident (dl35): stable-key state — losing one
      //    re-assigns ids or re-issues keys;
      //  - bloom (dl39): losing one silently loses file skipping;
      //  - clus (dl41): losing one re-clusters the whole table.
      .unionByName(effectiveSideRowsMulti(bounded,
        Seq("dv", "rids", "ident", "bloom", "clus")).select(cols: _*))
      .unionByName(activeMetaRow(bounded).select(cols: _*))
      // the protocol action is state, not history: a checkpoint reader
      // that lost it would silently read a table whose features it can't
      // honor — exactly what the protocol exists to prevent (dl19)
      .unionByName(activeOpRow(bounded, "protocol").select(cols: _*))
      // so is the constraint spec (dl23): a writer resuming from a
      // checkpoint that dropped it would stop enforcing the contract
      .unionByName(activeOpRow(bounded, "constraint").select(cols: _*))
      // and the table-properties map (dl28): a checkpoint reader that
      // lost appendOnly=true would happily commit the delete the
      // property exists to forbid
      .unionByName(activeOpRow(bounded, "props").select(cols: _*))
      // and the latest txn marker per appId (dl33): real Delta
      // checkpoints retain txn actions for exactly this reason — a
      // restarting streaming writer reading checkpoint+tail must still
      // see its last committed epoch or it re-applies the batch
      .unionByName(latestPerPath(bounded, "txn").select(cols: _*))
      // and the never-reuse marks themselves: the races above keep only
      // LIVE instances' side actions, but the rids/ident high-water scan
      // counts DEAD instances too — a checkpoint taken after the
      // highest-id file was removed would REGRESS the mark and a
      // checkpoint+tail writer would re-issue ids (real Delta stores
      // rowIdHighWaterMark in table metadata for exactly this reason)
      .unionByName(hwmStateRow(bounded, "rids").select(cols: _*))
      .unionByName(hwmStateRow(bounded, "ident").select(cols: _*))
  }

  /** The persisted never-reuse mark for a monotonic-key family: one
    * synthetic ZERO-LENGTH segment action (path '_hwm', payload
    * `0:<mark>:0`, version −1 so it precedes every real action at any
    * as-of cut). [[segHighWaterMark]]'s family-wide scan reads it
    * (max(rid + len) = mark); segment READS never do — it binds to no
    * live instance, so the dv/rids race drops it. Emitted only when the
    * family has ever issued a key; repeated checkpoints stack marks and
    * max() keeps the highest. */
  private def hwmStateRow(bounded: DataFrame, opName: String): DataFrame =
    segHighWaterMark(bounded, opName).filter(col("hwm") > 0)
      .select(Seq(lit(-1).cast(IntegerType).as("version"), lit(0).as("ordinal"),
        lit(opName).as("op"), lit("_hwm").as("path")) ++ nullStatCols ++
        Seq(nullDv, concat(lit("0:"), col("hwm"), lit(":0")).as("schema_str")) ++
        nullStampCols: _*)

  /** Latest action per path for a PER-PATH-singleton family (op='txn':
    * one live marker per appId) — the file race's rule without the
    * add-only filter. */
  private def latestPerPath(bounded: DataFrame, opName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("path"))
      .orderBy(col("version").desc, col("ordinal").desc)
    bounded.filter(col("op") === opName)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Checkpoint + tail as ONE replayable action set ≡ the full log —
    * feed it to [[replay]], [[deletionVectors]], [[activeSchema]]; the
    * reader never knows it didn't read the whole history. This is the
    * 100 TB log shape: replay cost ∝ checkpoint size + tail length, not
    * table history. */
  def checkpointedActions(acts: DataFrame, v0: Int): DataFrame =
    checkpointState(acts, Some(v0)).unionByName(acts.filter(col("version") > v0))

  /** Checkpointed live-set read (dl4's shape): replay checkpoint + tail,
    * plus a `src` provenance column ('checkpoint' | 'tail') — original
    * versions survive the checkpoint, so provenance is just the winning
    * add's version vs v0. The parse is materialized HERE: checkpointState
    * fans it into four race branches plus the tail, and each branch
    * would otherwise replay the caller's whole log-build DAG (the dl13
    * hot spot, fixed once for every caller of this convenience reader). */
  def checkpointedSnapshot(log: DataFrame, v0: Int): DataFrame =
    lastWins(checkpointedActions(actions(log).localCheckpoint(), v0))
      .withColumn("src", when(col("version") > v0, lit("tail")).otherwise(lit("checkpoint")))
      .drop("op", "version", "ordinal")

  /** Incremental fold: apply a batch of NEW actions to a materialized
    * live set — the micro-batch form of [[checkpointedSnapshot]], used
    * by a streaming log consumer (DeltaStreamSpec drives it under a
    * checkpointed file source). State rows enter the replay at
    * (stateVersion, Int.MinValue) so any newer action on the same path
    * wins; folding waves one at a time is equivalent to one full replay
    * (same associativity argument as checkpoint + tail) — PROVIDED every
    * batch action is newer than the state. That precondition is ENFORCED
    * in the row path (raise_error), because a stale or same-version
    * action would silently lose/win against the state tag and drift the
    * live set away from the true replay with no signal. */
  def foldSnapshot(state: DataFrame, newActs: DataFrame, stateVersion: Int): DataFrame = {
    val cp = state
      .withColumn("version", lit(stateVersion)).withColumn("ordinal", lit(Int.MinValue))
      .withColumn("op", lit("add"))
    lastWins(cp.unionByName(staleGuard(newActs, stateVersion), allowMissingColumns = true))
      .drop("op", "version", "ordinal")
  }

  /** Incremental FULL-STATE fold — the micro-batch twin of
    * [[checkpointState]]: apply a batch of new actions to a
    * checkpoint-state action set (files + dvs + meta, original
    * coordinates) and re-compact. Because state rows keep their original
    * (version, ordinal), the fold is literally checkpointState over
    * (state ∪ batch) — waves chain associatively, so
    * foldState ∘ foldState ≡ one checkpointState over the whole log
    * (DeltaStreamSpec drives this across a restart, with a dv arriving
    * in a LATER micro-batch than its file's add). The same stale-action
    * guard as [[foldSnapshot]] raises in the row path. The returned
    * state is MATERIALIZED (localCheckpoint — log-sized, trivial):
    * chained folds otherwise compound the three-race lineage DAG across
    * waves, re-running every earlier wave's races on each new batch. */
  def foldState(state: DataFrame, newActs: DataFrame, stateVersion: Int): DataFrame =
    checkpointState(state.unionByName(staleGuard(newActs, stateVersion))).localCheckpoint()

  /** The change-data-feed delta between two checkpoint states (the
    * incremental twin of dl12/dl12b's batch grids): per-key live copy
    * counts at each state — live files minus effective masks, the
    * CANONICAL reads over the state action set — diffed into
    * (files_added, files_removed, rows_added, rows_removed), one row. A
    * streaming log consumer folds each version wave into its state
    * ([[foldState]]) and calls this on (before, after) to EMIT the
    * feed incrementally; CdfStreamSpec pins the accumulated stream ≡
    * the one-shot batch grid, across a checkpointed restart. `rws` is
    * the positioned row set (path, pos, key) — the one data-sized input;
    * everything else is log-sized races. */
  def cdfBetween(stateFrom: DataFrame, stateTo: DataFrame, rws: DataFrame): DataFrame = {
    def copies(state: DataFrame, tag: String) = {
      val masks = deletionVectors(state)
        .select(col("path"), explode(col("dv")).as("pos")).withColumn("hit", lit(1))
      rws.join(broadcast(replay(state).select("path")), Seq("path"))
        .join(broadcast(masks), Seq("path", "pos"), "left").filter(col("hit").isNull)
        .groupBy("key").agg(count(lit(1)).as(tag))
    }
    val rows = copies(stateFrom, "c0").join(copies(stateTo, "c1"), Seq("key"), "full")
      .select(coalesce(col("c0"), lit(0L)).as("c0"), coalesce(col("c1"), lit(0L)).as("c1"))
      .agg(coalesce(sum(greatest(col("c1") - col("c0"), lit(0L))), lit(0L)).as("rows_added"),
        coalesce(sum(greatest(col("c0") - col("c1"), lit(0L))), lit(0L)).as("rows_removed"))
    val pf = replay(stateFrom).select("path").withColumn("f0", lit(1))
    val pt = replay(stateTo).select("path").withColumn("f1", lit(1))
    val files = pf.join(pt, Seq("path"), "full")
      .agg(coalesce(sum(when(col("f1").isNotNull && col("f0").isNull, 1L).otherwise(0L)), lit(0L))
          .as("files_added"),
        coalesce(sum(when(col("f0").isNotNull && col("f1").isNull, 1L).otherwise(0L)), lit(0L))
          .as("files_removed"))
    files.crossJoin(rows)
  }

  /** Row-path guard: a batch action at version ≤ the state's version
    * would silently lose/win against the state tag and drift the fold
    * away from the true replay — fail loudly instead. */
  private def staleGuard(newActs: DataFrame, stateVersion: Int): DataFrame =
    newActs.withColumn("version",
      when(col("version") <= stateVersion,
        raise_error(concat(lit(s"stale action (version <= $stateVersion): path="), col("path"))))
        .otherwise(col("version")))

  /** Wrap a guard-row raise in a non-deterministic identity
    * (monotonically_increasing_id() ≥ 0 is always true) so Catalyst can
    * never push a consumer's predicate BELOW the guard branch's own
    * projection: the raise rides op/path/version (round-13's
    * filter-elision fix), and a predicate like `op === 'add'` whose
    * rewritten condition references only left-side attributes is
    * otherwise pushable THROUGH the guard's anti-join / violation filter
    * — evaluating the raise on every PRE-filter row and detonating false
    * positives (caught by Round13Spec's merge-rewrite test: the dl17/18
    * gates only survived because they localCheckpoint before filtering).
    * Non-determinism blocks PushPredicateThroughProject; a REAL guard
    * row still detonates under any classifying consumer. */
  private def guardBoom(boom: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(monotonically_increasing_id() >= 0, boom)

  /** The stat columns of a non-add action, nulled — shared by every
    * derived-transaction builder so an [[actionSchema]] widening touches
    * ONE more place here instead of one per call site. */
  private def nullStatCols = Seq(
    lit(null).cast(ArrayType(LongType)).as("buckets"),
    lit(null).cast(LongType).as("n_rows"), lit(null).cast(LongType).as("min_key"),
    lit(null).cast(LongType).as("max_key"), lit(null).cast(LongType).as("cents"))

  /** The trailing non-file fields (schema_str, ts, min_reader,
    * min_writer), nulled. Committers stamp `ts` afterwards via
    * [[stampTs]] — on a timestamp-stamped table EVERY new transaction
    * (delete/merge/restore/rebase output included) must be stamped
    * before it is appended, or the commitTimestamps tear guard will
    * (correctly) raise on the unstamped version. */
  private def nullTailCols = lit(null).cast(StringType).as("schema_str") +: nullStampCols

  /** The fields after `schema_str` (ts, min_reader, min_writer), nulled —
    * the tail of an action that carries a payload in schema_str. */
  private def nullStampCols = Seq(
    lit(null).cast(LongType).as("ts"), lit(null).cast(IntegerType).as("min_reader"),
    lit(null).cast(IntegerType).as("min_writer"))

  /** A null `dv`, the deletion-vector field every non-dv action leaves
    * empty. */
  private def nullDv = lit(null).cast(ArrayType(LongType)).as("dv")

  /** `dv` plus [[nullTailCols]]: everything after an add's or remove's
    * stats, nulled. */
  private def nullDvTailCols = nullDv +: nullTailCols

  // ---- predicate-driven DML (dl17/dl18) ------------------------------------

  /** DELETE WHERE, derived THROUGH the log — the top of the DML funnel
    * (the single most common lakehouse write operation): given the live
    * snapshot, the current effective masks ([[deletionVectors]]), and the
    * table's physical rows with their file positions (`positioned`:
    * path, pos, plus whatever columns the predicate reads — the ONE data
    * pass a row-level delete pays), emit the version-`version`
    * transaction:
    *   - a file with surviving rows gets ONE op='dv' action whose mask is
    *     the UNION of the old effective mask and the newly matched
    *     positions (a dv REPLACES its predecessor in the mask race, so
    *     the union must be carried, not the delta);
    *   - a file whose union covers every physical row becomes an
    *     op='remove' (keeping a fully-dead file live behind a total mask
    *     would make every later read pay its scan for zero rows);
    *   - a file the predicate touches in no LIVE row gets NO action (a
    *     match on an already-masked position is already deleted).
    * Loud guards in the row path: a mask position outside [0, n_rows)
    * means `positioned` disagrees with the committed stats (raise), and a
    * matched path absent from `live` raises rather than dropping the
    * delete (the dvAction contract). Ordinals are all 0 — one DELETE
    * touches each path at most once, so no intra-version race exists.
    * Work: one data pass for the predicate + log-sized aggregation; no
    * file is rewritten. */
  def deleteActions(live: DataFrame, dvs: DataFrame, positioned: DataFrame,
                    pred: org.apache.spark.sql.Column, version: Int): DataFrame = {
    // no distinct here: the union below dedups once, and the anti-join
    // doesn't need unique probes
    val newPos = positioned.filter(pred)
      .select(col("path"), col("pos").cast("long").as("pos"))
    val oldPos = dvs.select(col("path"), explode(col("dv")).as("pos"))
    // only files where the predicate kills a LIVE row transact; the
    // touched set and the live list are file-list-sized by definition —
    // broadcast them so the data-sized side never shuffles twice
    val touched = newPos.join(oldPos, Seq("path", "pos"), "left_anti")
      .select("path").distinct()
    val merged = newPos.unionByName(oldPos).distinct()
      .join(broadcast(touched), Seq("path"))
      .groupBy("path")
      .agg(sort_array(collect_list(col("pos"))).as("mask"), count(lit(1)).as("n_masked"))
    val withLive = merged
      .join(broadcast(live.select(col("path"), col("n_rows"))), Seq("path"))
      .select(col("path"), col("mask"),
        // a live file with NULL committed n_rows would null BOTH branch
        // filters below and the file would land in neither — the delete
        // silently dropped; raise instead (same class as the other guards)
        when(col("n_rows").isNull,
          raise_error(concat(lit("delete target has null committed n_rows: "), col("path"))))
          .otherwise(col("n_rows")).as("n_rows"),
        // the range guard lives on n_masked because BOTH output branches
        // read it: an out-of-range position could otherwise inflate
        // n_masked to n_rows and turn a partial delete into a silent
        // full remove
        when(size(filter(col("mask"), p => p < 0 || p >= col("n_rows"))) > 0,
          raise_error(concat(lit("delete mask position outside file range: "), col("path"))))
          .otherwise(col("n_masked")).as("n_masked"))
    val dvRows = withLive.filter(col("n_masked") < col("n_rows"))
      .select(Seq(lit(version).as("version"), lit(0).as("ordinal"), lit("dv").as("op"),
        col("path")) ++ nullStatCols ++ (col("mask").as("dv") +: nullTailCols): _*)
    val removeRows = withLive.filter(col("n_masked") === col("n_rows"))
      .select(Seq(lit(version).as("version"), lit(0).as("ordinal"), lit("remove").as("op"),
        col("path")) ++ nullStatCols ++ nullDvTailCols: _*)
    // non-live guard as its OWN anti-join branch, not a left-join null
    // check: the n_masked < n_rows filters above are null-intolerant, so
    // Catalyst rightly infers isnotnull(n_rows), converts a left join to
    // inner, and a raise hidden in the when-chain folds away — silently
    // dropping the delete (caught by Round12Spec's ghost test against the
    // first implementation). An anti-join branch cannot be elided — but a
    // guard row whose op/path are LITERALS can still be FILTER-elided: a
    // consumer filtering op === 'add' would drop the 'dv'-literal guard
    // row before the raise column is touched. So the raise rides EVERY
    // column a downstream race or filter reads (op, path, version) — any
    // consumer that classifies, partitions, or orders the row detonates
    // it (ADVICE round 12).
    val ghostBoom = guardBoom(
      raise_error(concat(lit("delete targets non-live path: "), col("path"))))
    val ghostGuard = merged.join(broadcast(live.select("path")), Seq("path"), "left_anti")
      .select(Seq(
        ghostBoom.cast(IntegerType).as("version"),
        lit(0).as("ordinal"), ghostBoom.cast(StringType).as("op"),
        ghostBoom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    dvRows.unionByName(removeRows).unionByName(ghostGuard)
  }

  /** MERGE expressed AS one log transaction (dl18): the matched rows
    * (update-or-delete targets) leave through [[deleteActions]]' dv /
    * remove derivation, and the rewrite files (updated rows +
    * not-matched inserts) arrive as caller-built `add` rows — all at ONE
    * version, adds ordered after every delete action (callers use
    * ordinals ≥ 1000, the optimize convention). The add rows' version is
    * ENFORCED in the row path: an add at any other version would split
    * the transaction, letting a reader observe the deletes without the
    * inserts. The add files' CONTENT (updated rows, inserted rows) is
    * the caller's rewrite — the log layer commits its stats, never the
    * rows. */
  def mergeActions(live: DataFrame, dvs: DataFrame, positioned: DataFrame,
                   matched: org.apache.spark.sql.Column, version: Int,
                   adds: DataFrame): DataFrame = {
    val guarded = adds.withColumn("version",
      when(col("version") =!= version,
        raise_error(concat(lit(s"merge add outside transaction version $version: "), col("path"))))
        .otherwise(col("version")))
    deleteActions(live, dvs, positioned, matched, version).unionByName(guarded)
  }

  /** MERGE with the FULL three-branch surface (Delta 2.4's `WHEN NOT
    * MATCHED BY SOURCE` — the standard sync-a-dimension shape): matched
    * target rows leave through the dv/remove derivation and return
    * updated in the rewrite; source rows with no target match arrive as
    * inserts in the rewrite; target rows ABSENT from the source (the
    * third branch) leave through the SAME mask derivation and do NOT
    * return — all at one version, one transaction. `matched` /
    * `notMatchedBySource` are predicates over `positioned` (callers
    * derive membership by joining the source's key set in and flagging
    * — the scale-correct spelling: the flag join shuffles once on the
    * key, the log layer never rescans); `notMatchedBySource` may carry
    * an extra condition (Delta's `AND <cond>` form — without one, the
    * three-branch MERGE degenerates to replace-table). The row-path
    * invariant that distinguishes this from two stacked DMLs: the
    * rewrite's cardinality must equal newly-killed MATCHED rows +
    * `nInserts` (one-row frame, column n_ins) — NMBS rows are killed
    * and never rewritten, so a rewrite that smuggled them back (or
    * dropped an update) raises. */
  def mergeActionsBySource(live: DataFrame, dvs: DataFrame, positioned: DataFrame,
                           matched: org.apache.spark.sql.Column,
                           notMatchedBySource: org.apache.spark.sql.Column,
                           version: Int, adds: DataFrame, nInserts: DataFrame): DataFrame = {
    val guarded = adds.withColumn("version",
      when(col("version") =!= version,
        raise_error(concat(lit(s"merge add outside transaction version $version: "), col("path"))))
        .otherwise(col("version")))
    val preMasked = dvs.select(col("path"), explode(col("dv")).as("pos"))
    val nMatched = positioned.filter(matched)
      .select(col("path"), col("pos").cast("long").as("pos"))
      .join(preMasked, Seq("path", "pos"), "left_anti")
      .join(broadcast(live.select("path")), Seq("path"))
      .agg(count(lit(1)).as("n_matched"))
    val cardBoom = guardBoom(raise_error(concat(
      lit("merge rewrite cardinality mismatch: matched "), col("n_matched").cast("string"),
      lit(" + inserts "), col("n_ins").cast("string"),
      lit(", rewrite carries "), col("n_rewrite").cast("string"))))
    val cardGuard = nMatched
      .crossJoin(nInserts.select(col("n_ins").cast(LongType).as("n_ins")))
      .crossJoin(adds.agg(coalesce(sum("n_rows"), lit(0L)).as("n_rewrite")))
      .filter(col("n_rewrite") =!= col("n_matched") + col("n_ins"))
      .select(Seq(
        cardBoom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        cardBoom.cast(StringType).as("op"), cardBoom.cast(StringType).as("path")) ++
        nullStatCols ++ nullDvTailCols: _*)
    deleteActions(live, dvs, positioned, matched || notMatchedBySource, version)
      .unionByName(guarded).unionByName(cardGuard)
  }

  /** INSERT OVERWRITE ... REPLACE WHERE (Delta's `replaceWhere` write
    * option — the partition-overwrite verb generalized to an arbitrary
    * predicate): every LIVE row matching `pred` leaves through
    * [[deleteActions]]' dv/remove derivation and the caller's new
    * content arrives as `add` rows — one atomic transaction, so a reader
    * never sees the region half-swapped. The new content need NOT
    * correspond to the old rows (that is what distinguishes REPLACE from
    * UPDATE — no cardinality invariant); the invariant real Delta
    * enforces instead is CONTAINMENT: written data must itself satisfy
    * the predicate, or rows would land outside the region the user
    * declared they were replacing (and a later REPLACE of a disjoint
    * region would silently miss them). The log layer checks it against
    * each add's committed STATS via `statsGuard` — the caller's
    * stats-level translation of `pred` (e.g. min_key ≥ lo ∧ max_key ≤ hi
    * for a key-range predicate); an add whose stats violate the guard,
    * or whose stats are null (unverifiable), raises through the
    * anti-elidable guard-row branch. Work: the ONE data pass the
    * predicate needs; guards are log-sized. */
  def replaceWhereActions(live: DataFrame, dvs: DataFrame, positioned: DataFrame,
                          pred: org.apache.spark.sql.Column, version: Int,
                          adds: DataFrame,
                          statsGuard: org.apache.spark.sql.Column): DataFrame = {
    val guarded = adds.withColumn("version",
      when(col("version") =!= version,
        raise_error(concat(lit(s"replaceWhere add outside transaction version $version: "),
          col("path"))))
        .otherwise(col("version")))
    val boom = guardBoom(raise_error(concat(
      lit("replaceWhere add outside the declared predicate region: "), col("path"))))
    val rangeGuard = adds.filter(col("op") === "add")
      .filter(!coalesce(statsGuard, lit(false)))
      .select(Seq(boom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    deleteActions(live, dvs, positioned, pred, version)
      .unionByName(guarded).unionByName(rangeGuard)
  }

  /** REORG TABLE ... APPLY (PURGE) (the Delta verb): rewrite every live
    * file carrying a deletion vector into its net form and RETIRE the
    * mask — the maintenance pass that turns merge-on-read debt back into
    * clean files (vacuum can then free the old instances, and readers
    * stop paying the mask subtraction on every scan). Strictly
    * read-neutral: the replayed rowset before and after is identical,
    * which the dl37 gate hash-proves. Per masked live file: one `remove`
    * (ordinal = its lead bucket — the optimizeActions single-bucket
    * keying convention) and one `add` of `purged-<path>` carrying the
    * caller's NET-of-mask stats under the SAME bucket coverage, no dv
    * (the retired mask dies with the removed instance — the dl14/dl15
    * rule). `netStats` (path, n_rows, min_key, max_key, cents) comes
    * from the caller because computing it reads data, which the rewrite
    * pays anyway; three row-path guards keep the contract loud: a masked
    * file with NO net stats raises (a silent skip would leave the mask
    * debt half-paid while claiming the reorg ran), a net-stats row for a
    * path that is not masked-live raises (caller confusion — purging an
    * unmasked file is a no-op that must not emit a rewrite), and net
    * rows ≠ gross − masked raises (a rewrite that dropped or invented
    * rows). Unmasked files emit NOTHING — reorg is a diff, not a
    * rewrite of the table. */
  def reorgPurgeActions(live: DataFrame, dvs: DataFrame, netStats: DataFrame,
                        version: Int): DataFrame = {
    val maskedLive = live
      .select(col("path"), col("buckets"), col("n_rows").as("gross_rows"))
      .join(dvs.select(col("path"), size(col("dv")).as("n_masked")), Seq("path"))
    val ns = netStats.select(col("path"), col("n_rows").as("net_rows"),
      col("min_key").as("net_min"), col("max_key").as("net_max"),
      col("cents").as("net_cents"))
    val paired = maskedLive.join(ns.withColumn("_ns", lit(1)), Seq("path"), "left")
      .withColumn("net_rows",
        when(col("_ns").isNull,
          raise_error(concat(lit("reorg purge: masked file without net stats: "), col("path"))))
          .when(col("net_rows") =!= col("gross_rows") - col("n_masked"),
            raise_error(concat(lit("reorg purge: net cardinality disagrees with mask: "),
              col("path"))))
          .otherwise(col("net_rows")))
      .withColumn("ord", element_at(col("buckets"), 1).cast(IntegerType))
    val removes = paired
      .select(Seq(lit(version).as("version"), col("ord").as("ordinal"),
        lit("remove").as("op"), col("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    val rewrites = paired
      .select(Seq(lit(version).as("version"), (lit(1000) + col("ord")).cast(IntegerType).as("ordinal"),
        lit("add").as("op"), concat(lit("purged-"), col("path")).as("path"),
        col("buckets"),
        col("net_rows").cast(LongType).as("n_rows"), col("net_min").cast(LongType).as("min_key"),
        col("net_max").cast(LongType).as("max_key"), col("net_cents").cast(LongType).as("cents")) ++
        nullDvTailCols: _*)
    // stray net-stats rows: anti-join branch (the deleteActions ghost
    // pattern — a when-chain check could be join-elided)
    val strayBoom = guardBoom(raise_error(concat(
      lit("reorg purge: net stats for a path that is not masked-live: "), col("path"))))
    val stray = ns.join(maskedLive.select("path"), Seq("path"), "left_anti")
      .select(Seq(strayBoom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        strayBoom.cast(StringType).as("op"), strayBoom.cast(StringType).as("path")) ++
        nullStatCols ++ nullDvTailCols: _*)
    removes.unionByName(rewrites).unionByName(stray)
  }

  /** UPDATE WHERE, derived THROUGH the log (the verb users type far more
    * often than MERGE, gated so the derivation is pinned rather than
    * implied): the matched LIVE rows leave through [[deleteActions]]'
    * dv/remove derivation and the caller's rewrite file(s) — the same
    * rows with the SET applied — arrive as `add` rows at the SAME
    * version, exactly [[mergeActions]] minus the not-matched branch,
    * PLUS the invariant that distinguishes UPDATE from MERGE in the row
    * path: the rewrite must carry EXACTLY as many rows as the predicate
    * newly killed (an UPDATE that changes the table's cardinality is a
    * corrupted rewrite — rows silently dropped or duplicated). The
    * newly-killed count excludes positions an earlier delete already
    * masked (they are not live; UPDATE cannot touch them) — the same
    * accounting [[deleteActions]] commits. Work: the ONE data pass the
    * predicate needs; guards are one-row aggregates. */
  def updateActions(live: DataFrame, dvs: DataFrame, positioned: DataFrame,
                    pred: org.apache.spark.sql.Column, version: Int,
                    adds: DataFrame): DataFrame = {
    val guarded = adds.withColumn("version",
      when(col("version") =!= version,
        raise_error(concat(lit(s"update add outside transaction version $version: "), col("path"))))
        .otherwise(col("version")))
    val newlyKilled = positioned.filter(pred)
      .select(col("path"), col("pos").cast("long").as("pos"))
      .join(dvs.select(col("path"), explode(col("dv")).as("pos")), Seq("path", "pos"), "left_anti")
      .join(broadcast(live.select("path")), Seq("path"))
      .agg(count(lit(1)).as("n_killed"))
    val cardBoom = guardBoom(
      raise_error(concat(lit("update rewrite cardinality mismatch: killed "),
        col("n_killed").cast("string"), lit(" rows, rewrite carries "),
        col("n_rewrite").cast("string"))))
    val cardGuard = newlyKilled
      .crossJoin(adds.agg(coalesce(sum("n_rows"), lit(0L)).as("n_rewrite")))
      .filter(col("n_killed") =!= col("n_rewrite"))
      .select(Seq(
        cardBoom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        cardBoom.cast(StringType).as("op"), cardBoom.cast(StringType).as("path")) ++
        nullStatCols ++ nullDvTailCols: _*)
    deleteActions(live, dvs, positioned, pred, version)
      .unionByName(guarded).unionByName(cardGuard)
  }

  /** RESTORE TABLE ... VERSION AS OF `target`, expressed AS one
    * version-`version` transaction (the Delta RESTORE command): diff the
    * CURRENT state against the target snapshot and emit exactly the
    * actions that flip it back —
    *   - a path live now but not at target: `remove`;
    *   - a path live at target but not now, or live in BOTH with a
    *     DIFFERENT instance (removed + re-added since target): `remove`
    *     (ordinal 0) + `add` re-committing the TARGET instance's stats
    *     (ordinal 1000 — wins the same-version race);
    *   - the target's effective mask re-committed (ordinal 2000 — after
    *     the re-add, so instance scoping binds it to the new instance)
    *     wherever the current effective mask differs: a re-added
    *     instance whose target had a mask, a drifted mask on a surviving
    *     instance, and an EMPTY mask to clear a file the target didn't
    *     mask at all;
    *   - untouched paths: NO action (restore is a diff, not a rewrite).
    * Like real RESTORE, re-adds assume the target instance's data file
    * still exists — pass `freed` (the paths a vacuum actually deleted,
    * dl7/dl15's rule) to make that contract LOUD: a re-add targeting a
    * freed file raises instead of committing a pointer to deleted data
    * (the reader would fail much later, on a table that claimed the
    * restore succeeded). Log-sized: two replays + two mask races + one
    * full outer join on the file LIST. */
  def restoreActions(acts: DataFrame, target: Int, version: Int,
                     freed: Option[DataFrame] = None): DataFrame = {
    // BOTH cuts (current and target) from ONE grid pass each for the
    // file race and the mask race — the round-11 vectorization rule: a
    // second single-as-of read costs a second scheduling floor for the
    // same window. The grids are log-sized; materialize them once for
    // their two consumers each.
    val versions = acts.sparkSession.range(1).select(
      explode(array(lit(target), lit(Int.MaxValue))).as("v"))
    val grid = replayGrid(acts, versions).localCheckpoint()
    val dvGrid = deletionVectorGrid(acts, versions)
      .select(col("v"), col("path"), col("dv")).localCheckpoint()
    val now = grid.filter(col("v") === Int.MaxValue).select(col("path"),
      col("version").as("now_v"), col("ordinal").as("now_o"))
    val at = grid.filter(col("v") === target).select(col("path"),
      col("buckets").as("at_buckets"), col("n_rows").as("at_rows"),
      col("min_key").as("at_min"), col("max_key").as("at_max"),
      col("cents").as("at_cents"),
      col("version").as("at_v"), col("ordinal").as("at_o"))
    val files = now.join(at, Seq("path"), "full")
    val differs = col("at_v") =!= col("now_v") || col("at_o") =!= col("now_o")
    val removes = files.filter(col("now_v").isNotNull && (col("at_v").isNull || differs))
      .select(Seq(lit(version).as("version"), lit(0).as("ordinal"), lit("remove").as("op"),
        col("path")) ++ nullStatCols ++ nullDvTailCols: _*)
    val adds0 = files.filter(col("at_v").isNotNull && (col("now_v").isNull || differs))
      .select(Seq(lit(version).as("version"), lit(1000).as("ordinal"), lit("add").as("op"),
        col("path"), col("at_buckets").as("buckets"), col("at_rows").as("n_rows"),
        col("at_min").as("min_key"), col("at_max").as("max_key"),
        col("at_cents").as("cents")) ++ nullDvTailCols: _*)
    // vacuum-horizon guard: a re-add of a physically-freed file is a
    // committed pointer to deleted data — its own anti-elidable branch,
    // raise riding op/path/version (the deleteActions guard pattern)
    val adds = freed match {
      case Some(f) =>
        val boom = guardBoom(raise_error(concat(
          lit("restore re-adds a vacuumed file: "), col("path"))))
        val bad = adds0.join(broadcast(f.select("path")), Seq("path"))
          .select(Seq(boom.cast(IntegerType).as("version"), lit(1000).as("ordinal"),
            boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++
            nullStatCols ++ nullDvTailCols: _*)
        adds0.unionByName(bad)
      case None => adds0
    }
    // mask diff over the paths live at target; empty array = the explicit
    // "no rows masked" state (clears a drifted mask without a rewrite)
    val emptyMask = array().cast(ArrayType(LongType))
    val dvNow = dvGrid.filter(col("v") === Int.MaxValue)
      .select(col("path"), col("dv").as("dv_now"))
    val dvAt = dvGrid.filter(col("v") === target)
      .select(col("path"), col("dv").as("dv_at"))
    val reAdded = adds.select(col("path")).withColumn("_readd", lit(1))
    val dvRows = at.select("path")
      .join(dvNow, Seq("path"), "left").join(dvAt, Seq("path"), "left")
      .join(reAdded, Seq("path"), "left")
      .filter(
        (col("_readd").isNotNull && col("dv_at").isNotNull) ||
          (col("_readd").isNull &&
            coalesce(col("dv_now"), emptyMask) =!= coalesce(col("dv_at"), emptyMask)))
      .select(Seq(lit(version).as("version"), lit(2000).as("ordinal"), lit("dv").as("op"),
        col("path")) ++ nullStatCols ++
        (coalesce(col("dv_at"), emptyMask).as("dv") +: nullTailCols): _*)
    // the target's ACTIVE meta is state too (real RESTORE re-commits the
    // target version's metadata): when the winning meta action drifted
    // after the target, re-commit the target's schema at ordinal 3000 —
    // a schema-dependent reader (dl11 backfill) would otherwise read the
    // restored files against the POST-target schema. A table with no
    // meta at the target has nothing to restore to (emit nothing).
    // Protocol is deliberately NOT restored: real Delta never downgrades
    // a protocol, restore or not.
    val mNow = activeOpRow(acts, "meta")
      .select(col("version").as("mv"), col("ordinal").as("mo")).withColumn("k", lit(1))
    val mAt = activeOpRow(acts.filter(col("version") <= target), "meta")
      .select(col("schema_str").as("m_schema"), col("version").as("av"),
        col("ordinal").as("ao")).withColumn("k", lit(1))
    val metaRows = mAt.join(mNow, Seq("k"), "left")
      .filter(col("mv").isNull || col("mv") =!= col("av") || col("mo") =!= col("ao"))
      .select(Seq(lit(version).as("version"), lit(3000).as("ordinal"), lit("meta").as("op"),
        lit("_schema").as("path")) ++ nullStatCols ++
        Seq(nullDv, col("m_schema").as("schema_str")) ++ nullStampCols: _*)
    removes.unionByName(adds).unionByName(dvRows).unionByName(metaRows)
  }

  // ---- shallow clone (dl26) -------------------------------------------------

  /** SHALLOW CLONE at `atVersion` (the Delta `CLONE` command's zero-copy
    * form): the clone's version-0 commit is exactly the SOURCE's
    * checkpoint state — one `add` per live file REFERENCING the source's
    * data file (no data moves), the effective `dv` per masked path, and
    * the active meta / protocol / constraint singletons — so a reader of
    * the clone resolves the same bytes the source resolved at
    * `atVersion`, and every later commit on either log is invisible to
    * the other. Coordinates are renumbered to version 0 with ordinals
    * assigned PER PATH in original (version, ordinal) order: every race
    * the readers run is per-path (file liveness, mask scoping) or
    * per-singleton-op, so preserving the per-path order is sufficient
    * for the clone's v0 to replay to the same state — and the dv that
    * won against its add in the source (version strictly greater) still
    * wins here (same version 0, ordinal strictly greater). A SIDE action
    * (rids, and any future per-file op) rides its add's EXACT
    * (version, ordinal) — assignRidActions' convention — so the window
    * breaks that tie with an explicit add-first rank: without it,
    * row_number could renumber the rids row BEFORE its add and the
    * instance-birth filter (side coords >= add coords) would stop
    * binding the map in the clone (r13 ADVICE — the old code passed
    * only via union-order luck). Log-sized: one checkpointState + one
    * window over the state rows. */
  def cloneActions(srcActs: DataFrame, atVersion: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // final op tie-break: the two never-reuse marks (rids + ident) share
    // the synthetic ('_hwm', −1, 0) coordinates — semantics don't care
    // which renumbers first, but hash-pinned gates need ONE order
    val w = Window.partitionBy(col("path")).orderBy(col("version"), col("ordinal"),
      when(col("op") === "add", 0).otherwise(1), col("op"))
    val cols = actionSchema.fieldNames.map(col).toSeq
    checkpointState(srcActs, Some(atVersion))
      // real CLONE does not carry the source's streaming txn markers:
      // the clone is a NEW table, and a writer app resuming against it
      // must not have its epochs fenced by the source's history
      .filter(col("op") =!= "txn")
      .withColumn("new_ord", (row_number().over(w) - 1).cast(IntegerType))
      .withColumn("version", lit(0)).withColumn("ordinal", col("new_ord"))
      .drop("new_ord")
      .select(cols: _*)
  }

  /** The shallow-clone operational hazard, surfaced as a file list: a
    * VACUUM on the SOURCE keeps only files live in some retained source
    * snapshot (versions `retainFrom`..latest — dl7's rule); the clone's
    * adds still point at source files by path, so any source-vacuumable
    * file the CLONE's current live set references is a read the clone
    * will fail AFTER the vacuum runs. Real Delta documents exactly this
    * hazard for shallow clones; an engine that can enumerate the
    * breakage before the vacuum (log-sized — two replays and an
    * anti-join on file lists, no data) lets the operator deep-copy or
    * re-clone first. Returns (path, n_rows) of at-risk files. */
  def cloneBreakage(srcActs: DataFrame, cloneActs: DataFrame, retainFrom: Int): DataFrame = {
    // ONE row per path: a removed-and-re-added path with different
    // n_rows would otherwise survive distinct() twice and duplicate its
    // at-risk row (r13 ADVICE); latest instance wins, same as the race
    val ever = srcActs.filter(col("op") === "add").groupBy("path")
      .agg(max_by(col("n_rows"), struct(col("version"), col("ordinal"))).as("n_rows"))
    val vers = srcActs.select(col("version").as("v"))
      .filter(col("v") >= retainFrom).distinct()
    val retained = replayGrid(srcActs, vers).select(col("path")).distinct()
      .withColumn("_kept", lit(1))
    val vacuumable = ever.join(retained, Seq("path"), "left")
      .filter(col("_kept").isNull).select("path", "n_rows")
    vacuumable.join(replay(cloneActs).select("path").distinct(), Seq("path"))
  }

  // ---- table properties: configuration map + append-only (dl28) -------------

  /** An op='props' action carrying the FULL table configuration as a
    * sorted `k=v;k=v` string (the Delta metaData action's
    * `configuration` map — carried whole per commit, not as deltas, so
    * the latest action IS the active map; same singleton race as meta /
    * protocol / constraint). Path is the synthetic '_props' for the
    * strict parse's non-null contract. */
  def propsAction(spark: SparkSession, version: Int, ordinal: Int, props: String): DataFrame =
    tableStateRow(spark.range(1).toDF(), "props", "_props", version, ordinal, lit(props))

  /** The ACTIVE table properties as of `asOf`: (key, value,
    * props_version) rows parsed STRICTLY from the winning props action —
    * a torn `k=v` entry raises, riding `key` (the column every consumer
    * filters or joins on, so no downstream predicate can elide the
    * raise — the dl23 torn-entry rule). An empty map ('' payload) and a
    * table with no props action both yield zero rows. */
  def activeProps(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    activeOpRow(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), "props")
      .select(col("version").as("props_version"),
        explode(split(col("schema_str"), ";")).as("ent"))
      .filter(length(col("ent")) > 0)
      // split on the FIRST '=' only (limit 2): values legitimately
      // contain '=' (URLs, base64 tokens — real Delta configuration
      // maps do), so only a missing '=' or an empty key is torn
      .withColumn("parts", split(col("ent"), "=", 2))
      .select(
        when(size(col("parts")) =!= 2 || length(element_at(col("parts"), 1)) === 0,
          raise_error(concat(lit("torn table property entry: "), col("ent"))))
          .otherwise(element_at(col("parts"), 1)).as("key"),
        element_at(col("parts"), 2).as("value"),
        col("props_version"))

  /** Serialize a (key, value) frame back to the canonical sorted payload
    * — ONE row even for an empty map, so SET/UNSET below always emit an
    * action. */
  private def propsPayload(ents: DataFrame): DataFrame =
    ents.agg(coalesce(
      array_join(sort_array(collect_list(concat(col("key"), lit("="), col("value")))), ";"),
      lit("")).as("_payload"))

  /** TBLPROPERTIES SET: a new props action whose map is the active map
    * with `key` set to `value` (replacing any existing entry). Log-sized:
    * the map is spec-sized; the aggregate is one row. */
  def setPropAction(acts: DataFrame, key: String, value: String,
                    version: Int, ordinal: Int): DataFrame = {
    val kept = activeProps(acts).filter(col("key") =!= key).select("key", "value")
    val ents = kept.unionByName(
      acts.sparkSession.range(1).select(lit(key).as("key"), lit(value).as("value")))
    tableStateRow(propsPayload(ents), "props", "_props", version, ordinal, col("_payload"))
  }

  /** TBLPROPERTIES UNSET: the active map minus `key` (a no-op unset
    * still commits the unchanged map — same as real Delta, which commits
    * a metaData action regardless). */
  def unsetPropAction(acts: DataFrame, key: String,
                      version: Int, ordinal: Int): DataFrame = {
    val kept = activeProps(acts).filter(col("key") =!= key).select("key", "value")
    tableStateRow(propsPayload(kept), "props", "_props", version, ordinal, col("_payload"))
  }

  /** Append-only enforcement (the `delta.appendOnly` table property —
    * writer feature: a table whose history is an audit log must reject
    * row deletion at COMMIT, not trust every client to remember): when
    * the active props at the transaction's base contain
    * appendOnly=true, any `remove` or `dv` action in the prepared
    * transaction raises in the row path BEFORE the strict parse admits
    * the line. Adds and table-state actions pass through — including the
    * UNSET that lifts the restriction (real Delta also lets a
    * sufficiently-versioned writer flip the property). The violation
    * surfaces as the anti-elidable guard-row branch (raise riding
    * op/path/version — the enforceInvariants pattern). */
  def enforceAppendOnly(acts: DataFrame, txn: DataFrame): DataFrame = {
    val ao = activeProps(acts)
      .filter(col("key") === "appendOnly" && col("value") === "true")
      .select(lit(1).as("_ao"))
    val boom = guardBoom(raise_error(concat(
      lit("append-only table: "), col("op"), lit(" on "), col("path"))))
    val guard = txn.filter(col("op").isin("remove", "dv"))
      .crossJoin(broadcast(ao))
      .select(Seq(boom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    txn.unionByName(guard)
  }

  // ---- row tracking: stable row ids (dl27) -----------------------------------

  /** Row tracking (the Delta `rowTracking` feature — minWriter 7): every
    * physical row carries a STABLE id that survives file rewrites, so
    * lineage joins (training-run provenance, incremental downstream
    * materializations) key on `row_id` instead of (path, pos) — which
    * OPTIMIZE invalidates. The id map of a file instance rides an
    * op='rids' side action whose payload is a SEGMENT LIST in
    * schema_str: `pos:rid:len;…` sorted by pos, meaning rows at
    * positions p ∈ [pos, pos+len) carry row_id = rid + (p − pos). A
    * fresh add is one segment `0:hwm:n_rows`; a compaction concatenates
    * its sources' segments shifted by the row offset — the ids
    * themselves never change. Real Delta carries baseRowId ON the add
    * action; the side-action spelling here is keyed to the file
    * INSTANCE exactly like a deletion vector, so the existing dv race,
    * checkpoint persistence, and OCC conflict rules apply verbatim.
    * Parsing is strict where it must be loud: a torn segment raises
    * (riding `pos`, the field every consumer reads). */
  private def ridSegsOf(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(split(s, ";"), e =>
      struct(
        when(size(split(e, ":")) =!= 3,
          raise_error(concat(lit("torn rid segment: "), e)))
          .otherwise(element_at(split(e, ":"), 1).try_cast("long")).as("pos"),
        element_at(split(e, ":"), 2).try_cast("long").as("rid"),
        element_at(split(e, ":"), 3).try_cast("long").as("len")))

  /** The effective row-id segment map per LIVE file instance as of
    * `asOf` — the dv race applied to op='rids'. Returns (path, segs)
    * with segs = array<struct<pos, rid, len>> sorted by pos. */
  def ridSegments(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    effectiveSideRows(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), "rids")
      .select(col("path"), ridSegsOf(col("schema_str")).as("segs"))

  /** The row-id high-water mark: ids are NEVER reused, so the mark is
    * the max over EVERY rids action ever committed — live or dead
    * instances — of (rid + len) across its segments. One row (`hwm`),
    * 0 for an untracked log. A segment whose rid/len failed to parse
    * raises HERE: a silently-low mark would hand out duplicate ids,
    * the one corruption row tracking exists to prevent. */
  def ridHighWaterMark(acts: DataFrame): DataFrame =
    segHighWaterMark(acts, "rids")

  /** The high-water race shared by BOTH monotonic-key families — row
    * ids (op='rids', dl27) and identity columns (op='ident', dl35):
    * keys are never reused, so the mark scans EVERY action of the
    * family ever committed, live or dead instances alike. */
  private def segHighWaterMark(acts: DataFrame, opName: String): DataFrame =
    acts.filter(col("op") === opName)
      .select(explode(ridSegsOf(col("schema_str"))).as("seg"))
      .select(when(col("seg.rid").isNull || col("seg.len").isNull || col("seg.pos").isNull,
        raise_error(lit(s"unparseable $opName segment in high-water scan")))
        .otherwise(col("seg.rid") + col("seg.len")).as("end"))
      .agg(coalesce(max("end"), lit(0L)).as("hwm"))

  /** Fresh-assign row ids to a batch of prepared `add` rows: one
    * op='rids' action per add, single segment `0:base:n_rows`, where
    * base = hwm + Σ n_rows of adds EARLIER in the batch (ordinal
    * order — the deterministic intra-commit order every builder already
    * maintains). The side action rides its add's (version, ordinal), so
    * the instance race binds it for exactly as long as the add wins.
    * Log-sized: the offset is a self-join over the batch's file LIST. */
  def assignRidActions(acts: DataFrame, adds: DataFrame): DataFrame =
    assignSegActions(acts, adds, "rids")

  /** The fresh-assignment core [[assignRidActions]] (op='rids', dl27)
    * and identity columns ([[assignIdentActions]], op='ident', dl35)
    * share: one side action per add, single segment `0:base:n_rows`,
    * base = hwm + Σ n_rows of adds earlier in the batch. */
  private def assignSegActions(acts: DataFrame, adds: DataFrame, opName: String): DataFrame = {
    val hwm = segHighWaterMark(acts, opName)
    val prior = adds.select(col("ordinal").as("o_ord"), col("n_rows").as("o_rows"))
    val off = adds.filter(col("op") === "add")
      .join(broadcast(prior), col("o_ord") < col("ordinal"), "left")
      .groupBy("version", "ordinal", "path", "n_rows")
      .agg(coalesce(sum("o_rows"), lit(0L)).as("offset"))
    off.crossJoin(broadcast(hwm))
      .select(Seq(col("version").cast(IntegerType).as("version"),
        col("ordinal").cast(IntegerType).as("ordinal"),
        lit(opName).as("op"), col("path")) ++ nullStatCols ++
        Seq(nullDv, concat(lit("0:"), col("hwm") + col("offset"), lit(":"), col("n_rows"))
          .as("schema_str")) ++ nullStampCols: _*)
  }

  /** Rid preservation through OPTIMIZE: for every compaction the
    * [[optimizeActions]] policy would commit (adjacent single-bucket
    * `part-` pairs, bin = b_lo/2), emit the compacted file's op='rids'
    * action — the sources' segment lists concatenated in key order
    * (source buckets cover disjoint key ranges, so the compacted file's
    * position order IS the sources' order by b_lo), each shifted by the
    * cumulative row offset. Same (version, 1000+lo) coordinate as the
    * compacted add, so the race binds map to instance atomically.
    * A compaction input carrying a deletion vector is REFUSED (raise):
    * masking re-numbers the survivors' positions, which would need id
    * materialization into the rewritten data file — a different write
    * path than this log-only derivation (real Delta materializes the
    * row-id column in exactly that case). */
  def compactRidActions(live: DataFrame, segs: DataFrame, version: Int,
                        dvs: Option[DataFrame] = None): DataFrame = {
    val parts = live.filter(col("path").startsWith("part-") && size(col("buckets")) === 1)
      .withColumn("b_lo", element_at(col("buckets"), 1))
      .withColumn("bin", floor(col("b_lo") / 2))
    val bins = parts.groupBy("bin").agg(count(lit(1)).as("nf"),
        min("b_lo").as("lo"), max("b_lo").as("hi"))
      .filter(col("nf") === 2).select("bin", "lo", "hi")
    val masked = dvs.getOrElse(live.sparkSession.range(0).select(lit("").as("path")))
      .select(col("path"), lit(1).as("_masked"))
    val srcs = parts.join(bins, Seq("bin")).join(segs, Seq("path"))
      .join(broadcast(masked), Seq("path"), "left")
      .withColumn("segs", when(col("_masked").isNotNull,
        raise_error(concat(lit("rid compaction over a masked input needs materialization: "),
          col("path")))).otherwise(col("segs")))
    val prior = srcs.select(col("bin").as("o_bin"), col("b_lo").as("o_lo"),
      col("n_rows").as("o_rows"))
    val off = srcs.join(broadcast(prior),
        col("o_bin") === col("bin") && col("o_lo") < col("b_lo"), "left")
      .groupBy("bin", "lo", "hi", "path", "b_lo", "segs")
      .agg(coalesce(sum("o_rows"), lit(0L)).as("offset"))
    val shifted = off.select(col("bin"), col("lo"), col("hi"),
        explode(col("segs")).as("seg"), col("offset"))
      .select(col("bin"), col("lo"), col("hi"),
        struct((col("seg.pos") + col("offset")).as("pos"), col("seg.rid").as("rid"),
          col("seg.len").as("len")).as("seg"))
    shifted.groupBy("bin", "lo", "hi")
      .agg(sort_array(collect_list(col("seg"))).as("ss"))
      .select(Seq(lit(version).as("version"),
        (lit(1000) + col("lo")).cast(IntegerType).as("ordinal"),
        lit("rids").as("op"),
        concat(lit("opt-"), col("lo"), lit("-"), col("hi")).as("path")) ++ nullStatCols ++
        Seq(nullDv, array_join(transform(col("ss"),
          s => concat_ws(":", s("pos"), s("rid"), s("len"))), ";").as("schema_str")) ++
        nullStampCols: _*)
  }

  /** OPTIMIZE on a row-tracked table as ONE atomic derivation: the
    * [[optimizeActions]] pairing policy (adjacent single-bucket `part-`
    * pairs, bin = b_lo/2) emitting remove + add + rids rows from a
    * SINGLE parts/bins computation — committing the file reshape and the
    * id map in one transaction is not just cheaper than
    * optimizeActions ∘ compactRidActions (which re-derive the same
    * pairing twice), it is REQUIRED: a compacted add whose rids lagged
    * a version would leave the new instance untracked for every reader
    * in between (Round13Spec pins the fused output ≡ the composed
    * pair). Masked inputs are refused exactly like
    * [[compactRidActions]]. */
  def optimizeActionsTracked(live: DataFrame, segs: DataFrame, version: Int,
                             dvs: Option[DataFrame] = None): DataFrame = {
    val masked = dvs.getOrElse(live.sparkSession.range(0).select(lit("").as("path")))
      .select(col("path"), lit(1).as("_masked"))
    val parts = live.join(segs, Seq("path")).join(broadcast(masked), Seq("path"), "left")
      .filter(col("path").startsWith("part-") && size(col("buckets")) === 1)
      .withColumn("segs", when(col("_masked").isNotNull,
        raise_error(concat(lit("rid compaction over a masked input needs materialization: "),
          col("path")))).otherwise(col("segs")))
      .withColumn("b_lo", element_at(col("buckets"), 1))
      .withColumn("bin", floor(col("b_lo") / 2))
    val bins = parts.groupBy("bin").agg(count(lit(1)).as("nf"),
        min("b_lo").as("lo"), max("b_lo").as("hi"),
        sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
        max("max_key").as("max_key"), sum("cents").as("cents"))
      .filter(col("nf") === 2)
    val srcs = parts.join(bins.select("bin", "lo", "hi"), Seq("bin"))
    val prior = srcs.select(col("bin").as("o_bin"), col("b_lo").as("o_lo"),
      col("n_rows").as("o_rows"))
    val off = srcs.join(broadcast(prior),
        col("o_bin") === col("bin") && col("o_lo") < col("b_lo"), "left")
      .groupBy("bin", "lo", "hi", "path", "b_lo", "segs")
      .agg(coalesce(sum("o_rows"), lit(0L)).as("offset"))
    val shifted = off.select(col("bin"), col("lo"), col("hi"),
        explode(col("segs")).as("seg"), col("offset"))
      .select(col("bin"), col("lo"), col("hi"),
        struct((col("seg.pos") + col("offset")).as("pos"), col("seg.rid").as("rid"),
          col("seg.len").as("len")).as("seg"))
    val removes = srcs.select(Seq(lit(version).as("version"),
      col("b_lo").cast(IntegerType).as("ordinal"), lit("remove").as("op"),
      col("path")) ++ nullStatCols ++
      nullDvTailCols: _*)
    val optPath = concat(lit("opt-"), col("lo"), lit("-"), col("hi"))
    val adds = bins.select(Seq(lit(version).as("version"),
      (lit(1000) + col("lo")).cast(IntegerType).as("ordinal"), lit("add").as("op"),
      optPath.as("path"), sequence(col("lo"), col("hi")).as("buckets"),
      col("n_rows").cast("long").as("n_rows"), col("min_key").cast("long").as("min_key"),
      col("max_key").cast("long").as("max_key"), col("cents").cast("long").as("cents")) ++
      nullDvTailCols: _*)
    val rids = shifted.groupBy("bin", "lo", "hi")
      .agg(sort_array(collect_list(col("seg"))).as("ss"))
      .select(Seq(lit(version).as("version"),
        (lit(1000) + col("lo")).cast(IntegerType).as("ordinal"),
        lit("rids").as("op"), optPath.as("path")) ++ nullStatCols ++
        Seq(nullDv, array_join(transform(col("ss"),
          s => concat_ws(":", s("pos"), s("rid"), s("len"))), ";").as("schema_str")) ++
        nullStampCols: _*)
    removes.unionByName(adds).unionByName(rids)
  }

  /** Copy-on-write DELETE on a row-tracked table (dl30) — the
    * materialization path [[compactRidActions]] refuses is implemented
    * HERE, where it belongs: survivors of a predicate delete are
    * rewritten into a `cow-` file and their positions renumber, so
    * their stable ids must be MATERIALIZED into a new segment map (real
    * Delta writes the row-id column into the rewritten file in exactly
    * this case). The survivor map splits at every deleted run: within a
    * contiguous survivor run of one ORIGINAL segment,
    * row_id − new_pos is CONSTANT (rid = seg base + old pos; new_pos
    * lags old pos by the deletes before it, which strictly grows past
    * every deleted run) — so the segments are a plain groupBy on
    * (original segment, row_id − new_pos): the gaps-and-islands
    * identity, no per-segment iteration, collision-free because the
    * original-segment key separates arbitrary rid jumps. Per matched
    * file the transaction carries
    *   remove(file) + add(cow-file, survivor stats) + rids(split map);
    * a FULLY-matched file becomes a bare remove, an unmatched file
    * emits nothing, and a matched path with no id map raises inside
    * the resolution (tracked tables never guess ids). `positioned` is
    * the one data pass a COW delete pays anyway — it REWRITES the
    * survivors; the log layer commits stats only. */
  def deleteActionsTracked(live: DataFrame, segs: DataFrame, positioned: DataFrame,
                           pred: org.apache.spark.sql.Column, version: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = resolveSegs(segs,
        positioned.join(broadcast(live.select("path", "buckets")), Seq("path")))
      .withColumn("_del", coalesce(pred, lit(false)))
    val stats = flagged.groupBy("path")
      .agg(sum(when(col("_del"), 1L).otherwise(0L)).as("n_del"),
        count(lit(1)).as("n_all"),
        min(when(!col("_del"), col("o_orderkey"))).as("s_min"),
        max(when(!col("_del"), col("o_orderkey"))).as("s_max"),
        sum(when(!col("_del"), col("cents")).otherwise(0L)).as("s_cents"),
        first(col("buckets")).as("buckets"))
      .filter(col("n_del") > 0)
      .localCheckpoint() // log-sized; three consumers below
    val w = Window.partitionBy(col("path")).orderBy(col("pos"))
    val surv = flagged.join(broadcast(stats.select("path")), Seq("path"))
      .filter(!col("_del"))
      .withColumn("new_pos", (row_number().over(w) - 1).cast("long"))
    val islands = surv
      .groupBy(col("path"), col("seg_pos"), (col("row_id") - col("new_pos")).as("k"))
      .agg(min("new_pos").as("pos"), min("row_id").as("rid"), count(lit(1)).as("len"))
      .groupBy("path")
      .agg(sort_array(collect_list(struct(col("pos"), col("rid"), col("len")))).as("ss"))
    val removes = stats.select(Seq(lit(version).as("version"), lit(0).as("ordinal"),
      lit("remove").as("op"), col("path")) ++ nullStatCols ++
      nullDvTailCols: _*)
    val rewrites = stats.filter(col("n_del") < col("n_all"))
    val adds = rewrites.select(Seq(lit(version).as("version"), lit(1000).as("ordinal"),
      lit("add").as("op"), concat(lit("cow-"), col("path")).as("path"),
      col("buckets"),
      (col("n_all") - col("n_del")).cast("long").as("n_rows"),
      col("s_min").cast("long").as("min_key"), col("s_max").cast("long").as("max_key"),
      col("s_cents").cast("long").as("cents")) ++ nullDvTailCols: _*)
    val rids = islands.join(broadcast(rewrites.select("path")), Seq("path"))
      .select(Seq(lit(version).as("version"), lit(1000).as("ordinal"),
        lit("rids").as("op"), concat(lit("cow-"), col("path")).as("path")) ++ nullStatCols ++
        Seq(nullDv, array_join(transform(col("ss"),
          s => concat_ws(":", s("pos"), s("rid"), s("len"))), ";").as("schema_str")) ++
        nullStampCols: _*)
    // ghost guard (the deleteActions contract): a predicate match on a
    // path absent from `live` must raise, never silently drop the delete
    val boom = guardBoom(raise_error(concat(
      lit("tracked delete targets non-live path: "), col("path"))))
    val ghost = positioned.filter(pred).select("path").distinct()
      .join(live.select("path").withColumn("_live", lit(1)), Seq("path"), "left")
      .filter(col("_live").isNull)
      .select(Seq(boom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    removes.unionByName(adds).unionByName(rids).unionByName(ghost)
  }

  /** The segment-resolution core shared by [[rowIds]] and
    * [[deleteActionsTracked]]: positioned rows × broadcast segment maps,
    * per-row binding segment by array expression, loud raises for
    * untracked files and out-of-range positions. Returns the input plus
    * `row_id` and `seg_pos` (the binding segment's origin — the
    * materialization groupBy needs it to keep islands collision-free). */
  private def resolveSegs(segs: DataFrame, positioned: DataFrame): DataFrame =
    positioned.join(broadcast(segs), Seq("path"), "left")
      .withColumn("_seg", element_at(filter(col("segs"), s => s("pos") <= col("pos")), -1))
      .withColumn("row_id",
        when(col("segs").isNull,
          raise_error(concat(lit("file without a row-id map in a tracked read: "), col("path"))))
          .when(col("_seg").isNull || col("_seg.rid").isNull || col("_seg.len").isNull ||
            col("pos") >= col("_seg.pos") + col("_seg.len"),
            raise_error(concat(lit("position outside row-id segments: "), col("path"),
              lit("@"), col("pos").cast("string"))))
          .otherwise(col("_seg.rid") + col("pos") - col("_seg.pos")))
      .withColumn("seg_pos", col("_seg.pos"))
      .drop("_seg", "segs")

  /** Resolve each physical row's stable id: join the positioned rows
    * (path, pos, …) to the effective segment map per live file and pick
    * the row's segment with an ARRAY expression — `filter` keeps the
    * sorted prefix with pos ≤ p, `element_at(-1)` is the binding
    * segment; NO extra shuffle beyond the broadcast of the log-sized
    * map. Loud guards in the row path: a file with no map in a tracked
    * read, and a position outside every segment (the map disagrees with
    * the data), both raise. */
  def rowIds(acts: DataFrame, positioned: DataFrame, asOf: Option[Int] = None): DataFrame =
    resolveSegs(ridSegments(acts, asOf), positioned).drop("seg_pos")

  // ---- row-level OCC: mask transactions merge on disjoint rows (dl40) -------

  /** Caller-visible handle on [[translatedMasks]] so an OCC loop can
    * materialize the translation ONCE per attempt and hand the same frame
    * to [[dvRowLevelProbe]] and (on a clean probe) [[dvRowLevelRebase]] —
    * the rebase otherwise recomputes the whole rowIds/segment chain the
    * probe just evaluated. Values are identical by construction. */
  def translatedMasksOf(txn: DataFrame, acts: DataFrame, readVersion: Int): DataFrame =
    translatedMasks(txn, acts, readVersion)

  /** Translate a mask-only transaction's (path, pos) targets into STABLE
    * row ids under the snapshot it READ (`readVersion`), then re-key each
    * id onto the HEAD's live instances through the head's segment maps —
    * the row-tracking payoff (dl27): a concurrent OPTIMIZE renumbered
    * positions and retired the file instance the mask was keyed to, but
    * the IDS survived the rewrite, so the edit can follow its rows.
    * Returns (path, pos, row_id, new_path, new_pos); a null new_path
    * means the row no longer exists at head. All log-sized: the position
    * sets are mask-sized, the maps per-file. */
  private def translatedMasks(txn: DataFrame, acts: DataFrame, readVersion: Int): DataFrame = {
    val oldPos = txn.filter(col("op") === "dv")
      .select(col("path"), explode(col("dv")).as("pos"))
    val ids = rowIds(acts, oldPos, Some(readVersion))
    val segRows = ridSegments(acts)
      .select(col("path").as("new_path"), explode(col("segs")).as("s"))
    ids.join(broadcast(segRows),
        col("row_id") >= col("s.rid") && col("row_id") < col("s.rid") + col("s.len"), "left")
      .select(col("path"), col("pos"), col("row_id"), col("new_path"),
        (col("s.pos") + col("row_id") - col("s.rid")).as("new_pos"))
  }

  /** Row-level OCC probe for a mask-only (DELETE) transaction that lost
    * the FILE-level race ([[rebaseConflicts]] non-empty): decide whether
    * the conflict is resolvable at ROW granularity — Delta's stated
    * direction for write contention, and what dl27's stable row ids
    * exist to enable. One row, one driver action, all log-sized:
    *   - n_file_conflicts: the concurrent actions that made file-level
    *     OCC abort (>0 is the interesting case — merge INSTEAD of abort);
    *   - n_blocking: concurrent table-level actions (meta/protocol/
    *     constraint/props/txn/ident) — never row-resolvable;
    *   - n_nondv: the transaction's own non-mask actions — this path
    *     only merges pure deletes;
    *   - n_homeless: masked rows with no live home at head (deleted or
    *     dropped by a concurrent writer — both edited the same row);
    *   - n_overlap: masked row ids ALREADY masked at head (two writers
    *     deleted the same row — the textbook row conflict).
    * Resolvable iff blocking = nondv = homeless = overlap = 0. */
  def dvRowLevelProbe(txn: DataFrame, acts: DataFrame, readVersion: Int,
                      masks: Option[DataFrame] = None): DataFrame = {
    val t = masks.getOrElse(translatedMasks(txn, acts, readVersion))
    val confl = rebaseConflicts(txn, acts, readVersion)
    val headMasked = rowIds(acts, deletionVectors(acts)
      .select(col("path"), explode(col("dv")).as("pos")))
    confl.agg(count(lit(1)).as("n_file_conflicts"))
      .crossJoin(confl.filter(!col("op").isin("add", "remove", "dv", "rids"))
        .agg(count(lit(1)).as("n_blocking")))
      .crossJoin(txn.filter(col("op") =!= "dv").agg(count(lit(1)).as("n_nondv")))
      .crossJoin(t.agg(count(lit(1)).as("n_masks"),
        coalesce(sum(when(col("new_path").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_homeless")))
      .crossJoin(t.join(headMasked.select("row_id"), Seq("row_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap")))
  }

  /** The row-level rebase a clean [[dvRowLevelProbe]] licenses: the
    * transaction's masks re-keyed by stable row id onto the head's live
    * instances and MERGED with the head's effective masks on those
    * files (two writers masking disjoint rows of one file both land —
    * the un-abort). Emits one op='dv' action per touched head file at
    * `newVersion`; a masked row with no live home raises in the row
    * path (the probe's contract, kept loud here too). */
  def dvRowLevelRebase(txn: DataFrame, acts: DataFrame, readVersion: Int,
                       newVersion: Int, masks: Option[DataFrame] = None): DataFrame = {
    val t = masks.getOrElse(translatedMasks(txn, acts, readVersion))
      .withColumn("new_path", when(col("new_path").isNull,
        raise_error(concat(lit("row-level rebase: masked row no longer live: "),
          col("path"), lit("@"), col("pos").cast("string"))))
        .otherwise(col("new_path")))
    dvRebaseActions(t, acts, newVersion)
  }

  /** The rebase transaction rows over an already-translated mask frame,
    * for [[dvRowLevelRebase]] (loud: homeless rows raise in the
    * caller-built `t`, so only a clean [[dvRowLevelProbe]] should lead
    * here). */
  private def dvRebaseActions(t: DataFrame, acts: DataFrame, newVersion: Int): DataFrame = {
    val touched = t.select(col("new_path").as("path")).distinct()
    val headDv = deletionVectors(acts).join(broadcast(touched), Seq("path"), "left_semi")
      .select(col("path"), explode(col("dv")).as("new_pos"))
    t.select(col("new_path").as("path"), col("new_pos")).unionByName(headDv)
      .groupBy("path").agg(sort_array(collect_set(col("new_pos"))).as("dvm"))
      .select(Seq(lit(newVersion).as("version"), lit(0).as("ordinal"),
        lit("dv").as("op"), col("path")) ++ nullStatCols ++
        (col("dvm").as("dv") +: nullTailCols): _*)
  }

  // NOTE (r16): a fused one-collect OCC attempt — probe counters riding
  // the candidate rebased log as an op='_probe' row, one action per
  // attempt — was built and measured WORSE than the probe+rebase pair
  // below at sf0.1 (dl40 8.10 → 11.24 s with LocalRelation adoption,
  // → 9.52 s with checkpoint adoption, same window, job count 158→141):
  // the probe's scalar aggregates are cheap as their own action, and the
  // fused frame serializes them behind the rebase's groupBy in one
  // single-partition materialization. Shape kept deliberately.

  // ---- incremental clustering OPTIMIZE (dl41) --------------------------------

  /** Incremental clustering OPTIMIZE (dl41 — the liquid-clustering
    * shape): cluster ONLY the live files that do not yet carry the
    * effective `clus` mark, leaving clustered files untouched — so the
    * nightly OPTIMIZE of a 100 TB table costs ∝ NEW data, not table
    * size. Emits removes for every unmarked live file, one clustered
    * `clus-<version>` add with summed stats and the union of their
    * coverage, and the output's own `clus` mark IN THE SAME transaction
    * (the optimizeActionsTracked fusion rule: an output whose mark
    * lagged a version would be re-clustered by the next run). The mark
    * is an instance-scoped side action ([[sideActions]]), so a later
    * rewrite of a clustered file RETIRES its mark and the rewrite
    * output re-enters the candidate set — marks are never inherited
    * across instances. Zero unmarked files → an empty transaction (the
    * steady-state no-op). Log-sized throughout: the policy reads the
    * file list and the mark race, never data; the caller pays the
    * physical rewrite of exactly the selected files. Real binning
    * (size-bounded outputs) is a policy refinement over the same
    * selection; the selection is what this verb pins. */
  def clusterIncrementalActions(acts: DataFrame, version: Int): DataFrame = {
    val live = replay(acts)
    val marked = effectiveSidePayloads(acts, "clus").select("path")
    val targets = live.join(broadcast(marked), Seq("path"), "left_anti")
    val removes = removeActions(targets.select(col("path"), lit(0).as("ordinal")), version)
    val stats = targets.agg(sum("n_rows").as("n_rows"), min("min_key").as("min_key"),
        max("max_key").as("max_key"), sum("cents").as("cents"),
        sort_array(array_distinct(flatten(collect_list(col("buckets"))))).as("bks"),
        count(lit(1)).as("nf"))
      .filter(col("nf") > 0)
    val add = addActions(stats.select(lit(1000).as("ordinal"),
      lit(s"clus-$version").as("path"), col("bks").as("buckets"),
      col("n_rows"), col("min_key"), col("max_key"), col("cents")), version)
    val mark = sideActions(stats.select(lit(s"clus-$version").as("path"),
      lit(1000).as("ordinal"), lit("1").as("payload")), "clus", version)
    removes.unionByName(add).unionByName(mark)
  }

  // ---- identity columns: generated monotonic keys at commit (dl35) ----------

  /** Identity columns (the Delta identityColumns writer feature): the
    * TABLE owns a monotonic key generator and assigns every inserted
    * row's key AT COMMIT — users never supply one, gaps are allowed
    * (an aborted range is burned, same as every real sequence), reuse
    * never is. Assigned ranges ride op='ident' side actions with the
    * SAME segment payload, instance race, and high-water rule as row
    * tracking (dl27): `pos:base:len` means positions p ∈ [pos, pos+len)
    * of the file carry identity key base + (p − pos). Real Delta keeps
    * the mark in table metadata and makes concurrent identity writers
    * CONFLICT (the generator is table-level state, not per-file);
    * [[rebaseConflicts]] applies the same rule — any concurrent 'ident'
    * action conflicts with a transaction that assigns identities — so
    * two writers racing through [[commitWithRetry]] land DISJOINT
    * ranges: the loser aborts, re-reads the mark, re-prepares (the dl35
    * gate pins the interleave). */
  def identHighWaterMark(acts: DataFrame): DataFrame = segHighWaterMark(acts, "ident")

  /** Fresh-assign identity ranges to a batch of prepared adds — the
    * dl27 assignment core under the 'ident' family. */
  def assignIdentActions(acts: DataFrame, adds: DataFrame): DataFrame =
    assignSegActions(acts, adds, "ident")

  /** The effective identity segment map per live file (instance-scoped,
    * latest per path — the dv/rids race). */
  def identSegments(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    effectiveSideRows(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), "ident")
      .select(col("path"), ridSegsOf(col("schema_str")).as("segs"))

  /** Resolve each physical row's assigned identity key — [[rowIds]]'
    * segment-resolution core over the 'ident' family. */
  def identityKeys(acts: DataFrame, positioned: DataFrame, asOf: Option[Int] = None): DataFrame =
    resolveSegs(identSegments(acts, asOf), positioned)
      .withColumnRenamed("row_id", "ident_key").drop("seg_pos")

  // ---- streaming transaction identifiers: exactly-once sink (dl33) ----------

  /** An op='txn' action row (the Delta txn action: appId + version):
    * records that writer application `appId` committed its epoch
    * `appVersion` in this table version. Path is the synthetic
    * '_txn:appId' (per-app singleton — the race partitions by path, so
    * apps never shadow each other); the epoch rides schema_str. This is
    * how a streaming foreachBatch sink gets EXACTLY-ONCE into the log:
    * the epoch id travels in the same atomic commit as the data, so a
    * replayed batch (checkpoint restart re-delivers the last epoch) is
    * detected from the log alone. */
  def txnAction(spark: SparkSession, version: Int, ordinal: Int,
                appId: String, appVersion: Long): DataFrame =
    tableStateRow(spark.range(1).toDF(), "txn", s"_txn:$appId", version, ordinal,
      lit(appVersion.toString))

  /** The last epoch `appId` committed, from the log alone: max over its
    * txn actions (epochs commit in order, so max ≡ latest). −1 for a
    * never-seen app. STRICT: a torn epoch payload raises — a silently
    * low answer would re-apply an epoch, the exact double-write this
    * action family exists to prevent. */
  def lastTxnVersion(acts: DataFrame, appId: String): DataFrame =
    acts.filter(col("op") === "txn" && col("path") === s"_txn:${appId}")
      .select(when(col("schema_str").isNull || !col("schema_str").rlike("^[0-9]+$"),
        raise_error(concat(lit("torn txn action payload for "), col("path"))))
        .otherwise(col("schema_str").cast(LongType)).as("av"))
      .agg(coalesce(max("av"), lit(-1L)).as("last_txn_version"))

  /** One epoch's fate through [[commitEpochIdempotent]]. */
  final case class EpochOutcome(appId: String, epoch: Long, outcome: String,
                                attempts: Seq[CommitAttempt])

  /** Idempotent transactional epoch commit — the exactly-once streaming
    * sink contract (Delta's idempotent writes: txn appId/version +
    * atomic commit): if the log already records `appId` at an epoch ≥
    * this one, the WHOLE batch is a no-op (`skipped_duplicate` — the
    * replay after a checkpoint restart); otherwise the prepared
    * transaction commits carrying its txn action IN the same commit, so
    * data and epoch marker land atomically or not at all — a crash
    * between them is impossible by construction.
    *
    * This is [[commitWithRetry]]'s rebase-until-commit loop with the
    * idempotence check FUSED into the per-attempt probe: head +
    * last-committed epoch + conflict count in ONE driver action (a
    * streaming sink pays this path once per micro-batch, and a separate
    * lastTxnVersion collect per epoch doubled the loop's scheduling
    * floor for no information — the dl24 lesson applied to the epoch
    * probe). The duplicate path touches NOTHING beyond the probe;
    * commits renumber the stamped transaction directly (the probe
    * just proved the conflict set empty, same argument as the dl24
    * loop) and checkpoint the extended log on one partition.
    *
    * SHAPE PINNED BY MEASUREMENT (r16): fusing the probe INTO the commit
    * action — one frame acts ∪ stamped@(head+1) ∪ probe-row evaluated by
    * a single action per attempt — was tried twice and measured WORSE
    * both times at sf0.1 despite cutting listener job counts (dl33
    * 109→78 jobs but 3.97→5.37 s with LocalRelation adoption of the
    * collected log, 3.97→4.57 s with coalesce(1)+localCheckpoint
    * adoption; dl38/dl40 moved the same direction). The probe is a
    * 3-scalar aggregate the scheduler executes in milliseconds as its
    * own action, while the fused candidate funnels the probe's
    * aggregates plus the whole stamped union through one
    * single-partition materialization — a longer critical path than two
    * short actions. The two-action shape below is therefore the
    * measured optimum, not an oversight. */
  def commitEpochIdempotent(acts0: DataFrame, txn: DataFrame, appId: String, epoch: Long,
                            readVersion: Int, maxAttempts: Int = 10,
                            contention: Int => Option[DataFrame] = _ => None): (DataFrame, EpochOutcome) = {
    // ordinal 100000: after every data action of the transaction (adds
    // use the ≥1000 convention) — the version is provisional, the commit
    // renumbers the whole transaction to its slot. NOT materialized: a
    // single clean attempt evaluates it once in the probe and once in
    // the commit union — cheaper than a checkpoint job per epoch.
    // The marker inherits the transaction's commit ts (max over the txn's
    // stamped actions — per-version ts is a constant, so max ≡ the stamp):
    // a ts=null marker on a stamped table would make every epoch commit a
    // mixed-null version and commitTimestamps would raise forever after.
    // An EMPTY epoch (a real sink advances its epoch on an empty trigger
    // batch — the delta is zero rows, the fence still moves) has no stamp
    // to inherit, so on a stamped table the marker derives last committed
    // ts + 1 — the [[stampInCommit]] rule with no wall clock — keeping
    // the log monotone with zero caller changes. On a fully unstamped
    // table both terms are null and the marker stays null — uniform.
    val markerTs = txn.agg(max(col("ts")).as("_t"))
      .crossJoin(broadcast(acts0.agg(max(col("ts")).as("_l"))))
      .select(coalesce(col("_t"),
        when(col("_l").isNotNull, col("_l") + 1)).as("_mts"))
    val stamped = txn.unionByName(
      txnAction(acts0.sparkSession, 0, 100000, appId, epoch)
        .crossJoin(broadcast(markerTs))
        .withColumn("ts", col("_mts")).drop("_mts"))
    var acts = acts0
    val decisions = scala.collection.mutable.Buffer.empty[CommitAttempt]
    var attempt = 0
    var outcome: String = null
    while (outcome == null && attempt < maxAttempts) {
      attempt += 1
      val probe = acts.agg(max(col("version")).as("head"))
        .crossJoin(lastTxnVersion(acts, appId))
        .crossJoin(rebaseConflicts(stamped, acts, readVersion).agg(count(lit(1)).as("nc")))
        .head()
      val head = probe.getInt(0)
      val last = probe.getLong(1)
      val nConf = probe.getLong(2)
      val target = head + 1
      if (epoch <= last) {
        outcome = "skipped_duplicate"
      } else if (nConf > 0) {
        decisions += CommitAttempt(attempt, target, nConf, "abort_conflict")
        outcome = "abort_conflict"
      } else contention(attempt) match {
        case Some(concurrent) =>
          acts = acts.unionByName(concurrent).coalesce(1).localCheckpoint()
          decisions += CommitAttempt(attempt, target, 0L, "retry_version_taken")
        case None =>
          acts = acts.unionByName(stamped.withColumn("version", lit(target)))
            .coalesce(1).localCheckpoint()
          decisions += CommitAttempt(attempt, target, 0L, "committed")
          outcome = "committed"
      }
    }
    if (outcome == null)
      throw new IllegalStateException(
        s"commitEpochIdempotent: no commit after $maxAttempts attempts (livelock bound)")
    (acts, EpochOutcome(appId, epoch, outcome, decisions.toSeq))
  }

  // ---- generated coverage: bucket = floor(key / W) enforced (dl32) ----------

  /** Generated-column enforcement (the Delta generatedColumns feature,
    * applied to the ONE derived column this table model has): the
    * table's files declare their bucket coverage, and the bucket IS a
    * generated column — bucket = floor(key / W) — so an add whose
    * `buckets` endpoints disagree with floor(min_key/W)..floor(max_key/W)
    * is committing a COVERAGE LIE: partition-pruned readers (dl3's
    * stats skipping, positionedRows' bucket join) would silently skip or
    * double-read its rows forever. Declared via the table property
    * `gen.buckets=key_div_w` ([[setPropAction]]); when active, every add
    * in a prepared transaction is checked at COMMIT — endpoints must
    * match the stats-derived values and the coverage must be CONTIGUOUS
    * (size = hi − lo + 1); violations raise through the anti-elidable
    * guard-row branch. Adds with null stats are the strict parse's
    * problem, not silently admitted: a declared generated column with
    * unverifiable stats raises too. */
  def enforceGeneratedCoverage(acts: DataFrame, txn: DataFrame): DataFrame = {
    val gen = activeProps(acts)
      .filter(col("key") === "gen.buckets" && col("value") === "key_div_w")
      .select(lit(1).as("_gen"))
    val lo = floor(col("min_key") / W)
    val hi = floor(col("max_key") / W)
    // compare the WHOLE array against the generated sequence: endpoint +
    // size checks admit a duplicate-entry lie ([0,0,2] for span 0..2 —
    // right ends, right size, bucket 1 still uncovered; r13 ADVICE).
    // Exact equality subsumes both and bans duplicates/disorder too.
    val bad = col("min_key").isNull || col("max_key").isNull || col("buckets").isNull ||
      col("buckets") =!= sequence(lo, hi)
    val boom = guardBoom(raise_error(concat(
      lit("generated bucket coverage disagrees with key stats: "), col("path"))))
    val guard = txn.filter(col("op") === "add").filter(bad)
      .crossJoin(broadcast(gen))
      .select(Seq(boom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
        boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    txn.unionByName(guard)
  }

  // ---- protocol / reader feature gate (dl19) --------------------------------

  /** An op='protocol' action row (the Delta protocol action): declares
    * the minimum reader version the table requires from `version` on.
    * Writers commit it alongside the first action using a feature an old
    * reader can't honor (a dv mask needs a DV-aware reader — a reader
    * that ignored masks would silently resurrect deleted rows). */
  def protocolAction(spark: SparkSession, version: Int, ordinal: Int, minReader: Int,
                     minWriter: Int = 1): DataFrame =
    spark.range(1).select(Seq(lit(version).as("version"), lit(ordinal).as("ordinal"),
      lit("protocol").as("op"), lit("_protocol").as("path")) ++ nullStatCols ++
      Seq(nullDv, lit(null).cast(StringType).as("schema_str"),
        lit(null).cast(LongType).as("ts"), lit(minReader).as("min_reader"),
        lit(minWriter).as("min_writer")): _*)

  /** The ACTIVE protocol as of `asOf` (None = latest): one row
    * (min_reader, protocol_version), or zero rows on an unversioned
    * table — [[requireReader]] defaults that to min_reader = 1, the base
    * protocol. Latest (version, ordinal) wins, the singleton race every
    * table-level property shares. */
  def activeProtocol(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    activeOpRow(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), "protocol")
      .select(
        // a protocol action whose payload was dropped is torn, not
        // permissive: max(null, 1) in requireReader would otherwise admit
        // every reader to a table that HAS a protocol
        when(col("min_reader").isNull,
          raise_error(lit("protocol action missing min_reader (torn payload)")))
          .otherwise(col("min_reader")).as("min_reader"),
        when(col("min_writer").isNull,
          raise_error(lit("protocol action missing min_writer (torn payload)")))
          .otherwise(col("min_writer")).as("min_writer"),
        col("version").as("protocol_version"))

  /** Reader admission gate: ONE row (min_reader) that RAISES when the
    * table's active protocol exceeds `readerVersion` — materialize it
    * before reading (or crossJoin it into the read) so an incompatible
    * reader fails loudly instead of silently ignoring features it can't
    * honor. A table with no protocol action admits every reader
    * (min_reader = 1). */
  def requireReader(acts: DataFrame, readerVersion: Int, asOf: Option[Int] = None): DataFrame =
    requireVersion(acts, "min_reader", "reader", readerVersion, asOf)

  /** ONE copy of the admission-gate shape (default-1 union, max, raise)
    * shared by the reader and writer gates. */
  private def requireVersion(acts: DataFrame, field: String, label: String,
                             clientVersion: Int, asOf: Option[Int]): DataFrame =
    activeProtocol(acts, asOf).select(col(field))
      .unionByName(acts.sparkSession.range(1).select(lit(1).as(field)))
      .agg(max(field).as(field))
      .select(
        when(col(field) > clientVersion,
          raise_error(concat(lit(s"$label version $clientVersion below table protocol $field "),
            col(field).cast("string"))))
          .otherwise(col(field)).as(field))

  /** Writer admission gate — [[requireReader]]'s commit-side twin: a
    * writer below the table's min_writer must fail BEFORE committing (an
    * old writer that compacted masked files on raw stats would resurrect
    * deleted rows for every reader — the dl14 bug class caused by an old
    * client instead of a code path). Same default-1 and one-row shape. */
  def requireWriter(acts: DataFrame, writerVersion: Int, asOf: Option[Int] = None): DataFrame =
    requireVersion(acts, "min_writer", "writer", writerVersion, asOf)

  // ---- optimistic concurrency: rebase / retry (dl21) ------------------------

  /** The OCC conflict set between a PREPARED transaction (action rows
    * built against the `readVersion` snapshot) and every commit that
    * landed after it — the Delta commit-protocol checks, with dv actions
    * as first-class conflict surfaces on BOTH sides (a partial DELETE is
    * a dv-ONLY transaction here, so a file-action-only rule would be
    * blind to exactly the row-level writes the engine models):
    *   - a concurrent add/remove/dv on a path the txn REMOVES (its input
    *     was rewritten, deleted, or row-deleted under it — a compaction
    *     re-committed over a concurrent partial delete would resurrect
    *     the deleted rows from raw stats, the dl14 bug class);
    *   - a concurrent add/remove/dv on a path the txn DVs (the txn's
    *     mask was computed against an instance or mask state that no
    *     longer holds: a concurrent remove kills the instance, a
    *     concurrent dv would be silently REPLACED by the txn's — the dv
    *     race is latest-wins — and a re-add changes the instance);
    *   - a concurrent add colliding with a path the txn adds;
    *   - a concurrent op='protocol', op='meta' or op='constraint' action,
    *     UNCONDITIONALLY (Delta's ProtocolChangedException /
    *     MetadataChangedException class — constraints live in metadata
    *     there): a writer admitted by requireWriter at its READ version
    *     must not rebase past an upgrade that would now lock it out, a
    *     transaction prepared under one schema must not land under
    *     another, and adds validated by enforceInvariants against the
    *     OLD constraints must not land under tightened ones — path
    *     overlap is irrelevant for table-level state.
    * Returns the conflicting concurrent action rows (path, version,
    * ordinal, op); empty = rebase is legal. Log-sized: file/mask LISTS,
    * never data. */
  def rebaseConflicts(txn: DataFrame, acts: DataFrame, readVersion: Int): DataFrame = {
    val concurrent = acts.filter(col("version") > readVersion &&
      col("op").isin("add", "remove", "dv", "rids", "ident"))
    val tableLevel = acts.filter(col("version") > readVersion &&
      col("op").isin("protocol", "meta", "constraint", "props"))
    val txnTouches = txn.filter(col("op").isin("remove", "dv")).select("path").distinct()
    val txnAdds = txn.filter(col("op") === "add").select("path").distinct()
    // streaming txn identifiers: a concurrent commit by the SAME appId is
    // Delta's ConcurrentTransactionException — two instances of one
    // writer racing would double-apply the epoch the id exists to fence
    val txnIds = txn.filter(col("op") === "txn").select("path").distinct()
    val concTxn = acts.filter(col("version") > readVersion && col("op") === "txn")
      .join(broadcast(txnIds), Seq("path"))
    // identity assignment is TABLE-level state (the key generator's
    // high-water mark): if this transaction assigns identities, ANY
    // concurrent ident commit moved the mark it read — ranges would
    // overlap; abort and re-derive (real Delta conflicts on the
    // metadata high-water update for the same reason)
    val txnHasIdent = txn.filter(col("op") === "ident")
      .select(lit(1).as("_has")).distinct()
    val concIdent = acts.filter(col("version") > readVersion && col("op") === "ident")
      .crossJoin(broadcast(txnHasIdent)).drop("_has")
    concurrent.join(broadcast(txnTouches), Seq("path"))
      .unionByName(concurrent.filter(col("op") === "add")
        .join(broadcast(txnAdds), Seq("path")))
      .unionByName(tableLevel)
      .unionByName(concTxn)
      .unionByName(concIdent)
      .select("path", "version", "ordinal", "op").distinct()
  }

  /** Rebase the prepared transaction onto the current log head: renumber
    * its actions to `newVersion` (ordinals preserved — intra-transaction
    * ordering is part of the transaction) IFF [[rebaseConflicts]] is
    * empty; a conflict RAISES in the row path (the transaction must be
    * re-derived against the new snapshot, not silently replayed — a
    * compaction re-committed over a concurrent delete of its input would
    * resurrect the deleted rows). The raise rides an anti-joinable guard
    * branch, the deleteActions pattern. */
  def rebase(txn: DataFrame, acts: DataFrame, readVersion: Int, newVersion: Int): DataFrame = {
    // like deleteActions' ghostGuard, the raise rides op/path/version so
    // an op- or path-filtering consumer cannot FILTER-elide the guard row
    // before touching the raise column (ADVICE round 12)
    val boom = guardBoom(raise_error(concat(lit("rebase conflict: concurrent "), col("op"),
      lit(" of "), col("path"), lit(" at version "), col("version").cast("string"))))
    val conflictGuard = rebaseConflicts(txn, acts, readVersion)
      .select(Seq(
        boom.cast(IntegerType).as("version"),
        lit(0).as("ordinal"), boom.cast(StringType).as("op"),
        boom.cast(StringType).as("path")) ++ nullStatCols ++
        nullDvTailCols: _*)
    txn.withColumn("version", lit(newVersion)).unionByName(conflictGuard)
  }

  /** One decision of a [[commitWithRetry]] loop: which attempt, the
    * version it targeted, how many conflicting concurrent actions the
    * check found, and the outcome (`committed`, `retry_version_taken`,
    * `abort_conflict`). */
  final case class CommitAttempt(attempt: Int, target: Int, nConflicts: Long, outcome: String)

  /** Rebase-until-commit — the loop a real multi-writer table runs on
    * every write (the Delta commit protocol): read the head, check the
    * prepared transaction's conflicts against every commit that landed
    * after its read version, and try to take the next version slot; if a
    * concurrent writer takes the slot first, re-check against ITS commit
    * and try the next slot — until the transaction lands, a GENUINE
    * semantic conflict aborts it, or `maxAttempts` is exhausted (a loud
    * IllegalStateException: unbounded retry under livelock is an outage,
    * not progress). `contention(attempt)` injects a concurrent commit
    * into the race window between the conflict check and the write —
    * how tests and the dl24 gate interleave writers deterministically.
    *
    * Scale shape: commit COORDINATION is inherently driver-side in every
    * real lakehouse — the writer lists the log directory and reads
    * version files (both log-sized) to decide; the head read and
    * conflict count here are that listing, never a data scan. The data
    * plane (the transaction's file contents) moved before this loop ran
    * and never moves again. Returns the extended action set (each commit
    * checkpointed — log-sized) and the per-attempt decisions. */
  def commitWithRetry(acts0: DataFrame, txn: DataFrame, readVersion: Int,
                      maxAttempts: Int = 10,
                      contention: Int => Option[DataFrame] = _ => None): (DataFrame, Seq[CommitAttempt]) = {
    var acts = acts0
    // the prepared transaction is re-referenced every attempt (conflict
    // probe) and once at commit — materialize it ONCE (log-sized) or each
    // evaluation replays the caller's whole stats-derivation DAG
    val txnM = txn.localCheckpoint()
    val decisions = scala.collection.mutable.Buffer.empty[CommitAttempt]
    var attempt = 0
    var done = false
    while (!done && attempt < maxAttempts) {
      attempt += 1
      // head + conflict count in ONE driver action per attempt (the log
      // listing real writers pay): a second collect per attempt doubles
      // the loop's scheduling floor for no information
      val probe = acts.agg(max(col("version")).as("head")).crossJoin(
        rebaseConflicts(txnM, acts, readVersion).agg(count(lit(1)).as("nc"))).head()
      val head = probe.getInt(0)
      val nConf = probe.getLong(1)
      val target = head + 1
      if (nConf > 0) {
        decisions += CommitAttempt(attempt, target, nConf, "abort_conflict")
        done = true
      } else contention(attempt) match {
        case Some(concurrent) =>
          // the race window: a concurrent commit landed on OUR slot —
          // fold it in and go around (the next check sees its actions)
          acts = acts.unionByName(concurrent).localCheckpoint()
          decisions += CommitAttempt(attempt, target, 0L, "retry_version_taken")
        case None =>
          // renumber WITHOUT rebase()'s guard branch: the probe just
          // proved the conflict set empty against this same immutable
          // acts frame, and re-deriving it in the commit job would pay
          // the two joins again for a provably identical answer (direct
          // rebase() callers keep the guard — they have no probe)
          acts = acts.unionByName(txnM.withColumn("version", lit(target)))
            .localCheckpoint()
          decisions += CommitAttempt(attempt, target, 0L, "committed")
          done = true
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"commitWithRetry: no commit after $maxAttempts attempts (livelock bound)")
    (acts, decisions.toSeq)
  }

  // ---- column mapping: RENAME / DROP COLUMN as log-only txns (dl22) --------

  /** Serialize a column mapping — (logical, physical, type) triples — as
    * the meta action's schema_str: `logical:physical:TYPE,…`. Real Delta
    * carries this as per-field `delta.columnMapping.physicalName` /
    * `.id` metadata inside the metaData action's schemaString; the
    * miniature keeps the same shape (the mapping IS table metadata,
    * racing through the one meta race every schema read already obeys).
    * RENAME changes a LOGICAL name and keeps the physical; DROP removes
    * the entry — both are one meta action, NO file is rewritten, which is
    * the entire point at 100 TB (a rename that rewrote every file would
    * be a full-table write). Requires min_reader 2 / min_writer 5 — the
    * Delta protocol's columnMapping feature versions — committed through
    * the dl19 gate. */
  def mappingSchemaStr(pairs: Seq[(String, String, String)]): String =
    pairs.map { case (l, p, t) => s"$l:$p:$t" }.mkString(",")

  /** Parse the winning meta's mapping, vectorized over a version frame:
    * per v, (pos, logical_name, physical_name, col_type,
    * mapping_version). STRICT row-path parse: an entry without exactly
    * three `:` parts is a torn mapping — a reader that shrugged it off
    * would project the wrong physical column into a logical name. */
  def columnMappingGrid(acts: DataFrame, versions: DataFrame): DataFrame =
    parseMapping(activeOpGrid(acts, versions, "meta")
      .select(col("v"), col("version"), col("schema_str")))

  /** The ACTIVE column mapping as of `asOf` (None = latest) — the
    * single-cut twin, through [[activeOpRow]]'s attribute-keyed race
    * (NOT the grid with a one-row constant frame: Catalyst folds a
    * constant partition key out of the window spec, leaving an
    * unpartitioned WindowExec — the one plan shape the catalog bans). */
  def columnMapping(acts: DataFrame, asOf: Option[Int] = None): DataFrame = {
    val bounded = asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts)
    parseMapping(activeOpRow(bounded, "meta")
      .select(lit(null).cast(IntegerType).as("v"), col("version"), col("schema_str")))
      .drop("v")
  }

  /** The strict mapping parse both cuts share: (v, version, schema_str)
    * rows → per-entry (v, pos, logical_name, physical_name, col_type,
    * mapping_version). */
  private def parseMapping(metas: DataFrame): DataFrame = {
    // the torn raise rides BOTH logical_name and physical_name:
    // physical_name is resolvePhysical's JOIN KEY, and a torn entry
    // whose raise lived only on logical_name would null the key, match
    // nothing, and drop the column from every read with no error (the
    // join-elision class again)
    def torn(part: Int) =
      when(size(col("parts")) =!= 3,
        raise_error(concat(lit("torn column-mapping entry: "), col("col"))))
        .otherwise(element_at(col("parts"), part))
    metas.select(col("v"), col("version").as("mapping_version"),
        posexplode(split(col("schema_str"), ",")))
      .withColumn("parts", split(col("col"), ":"))
      .select(col("v"), col("pos"),
        torn(1).as("logical_name"),
        torn(2).as("physical_name"),
        element_at(col("parts"), 3).as("col_type"),
        col("mapping_version"))
  }

  /** RENAME COLUMN as ONE log-only meta transaction: derive the new
    * mapping from the ACTIVE one with `from`'s logical name swapped to
    * `to` (physical name and type untouched — files never know), emit
    * the version-`version` meta action row. Row-path guards: renaming a
    * column the mapping doesn't have must raise, not silently no-op
    * (the never-silently-lose-an-action contract), and renaming ONTO an
    * existing logical name would make two logicals claim one name. */
  def renameColumn(acts: DataFrame, from: String, to: String,
                   version: Int, ordinal: Int): DataFrame =
    rewriteMapping(acts, version, ordinal,
      m => m.withColumn("logical_name",
        when(col("logical_name") === from, to).otherwise(col("logical_name"))),
      hitCount = m => sum(when(col("logical_name") === from, 1L).otherwise(0L)),
      guardMsg = s"rename source column not in mapping: $from",
      collideCount = Some((m: DataFrame) =>
        sum(when(col("logical_name") === to, 1L).otherwise(0L))),
      collideMsg = s"rename target column already mapped: $to")

  /** DROP COLUMN as ONE log-only meta transaction: the new mapping is
    * the active one minus `name`'s entry — the physical column stays in
    * every file (readers just stop projecting it; that is what makes
    * DROP free at 100 TB). Raises on a column the mapping doesn't have,
    * and on dropping the LAST column (an empty table schema is torn, not
    * minimal). */
  def dropColumn(acts: DataFrame, name: String, version: Int, ordinal: Int): DataFrame =
    rewriteMapping(acts, version, ordinal,
      m => m.filter(col("logical_name") =!= name),
      hitCount = m => sum(when(col("logical_name") === name, 1L).otherwise(0L)),
      guardMsg = s"drop column not in mapping: $name",
      minRemaining = 1)

  /** The type-widening lattice rank: integer family TINYINT(1) <
    * SMALLINT(2) < INT(3) < BIGINT(4); float family FLOAT(11) <
    * DOUBLE(12); 0 = not widenable (strings, dates — no safe in-place
    * representation change). Families don't mix: INT→DOUBLE is a value
    * REWRITE (precision semantics change), not a widening. */
  private def typeRank(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(upper(t) === "TINYINT", 1).when(upper(t) === "SMALLINT", 2)
      .when(upper(t).isin("INT", "INTEGER"), 3).when(upper(t) === "BIGINT", 4)
      .when(upper(t) === "FLOAT", 11).when(upper(t) === "DOUBLE", 12)
      .otherwise(0)

  /** ALTER COLUMN TYPE — widening only (the Delta typeWidening feature,
    * dl31): a LOG-ONLY meta transaction flipping one mapping entry's
    * type; every existing file keeps its narrow physical encoding and
    * reads back widened (what makes the DDL free at 100 TB — the
    * alternative is rewriting every file). The lattice guard is the
    * whole point: NARROWING (BIGINT→INT) would silently truncate every
    * out-of-range value in old files, and a cross-family change
    * (INT→DOUBLE) silently changes arithmetic semantics — both raise in
    * the row path before the action is emitted. */
  def widenColumn(acts: DataFrame, name: String, newType: String,
                  version: Int, ordinal: Int): DataFrame = {
    val legal = (m: org.apache.spark.sql.Column) =>
      typeRank(m) > 0 && typeRank(lit(newType)) > 0 &&
        (typeRank(m) >= 10) === (typeRank(lit(newType)) >= 10) &&
        typeRank(lit(newType)) > typeRank(m)
    rewriteMapping(acts, version, ordinal,
      m => m.withColumn("col_type",
        when(col("logical_name") === name, newType).otherwise(col("col_type"))),
      hitCount = m => sum(when(col("logical_name") === name, 1L).otherwise(0L)),
      guardMsg = s"widen source column not in mapping: $name",
      collideCount = Some((m: DataFrame) =>
        sum(when(col("logical_name") === name && !legal(col("col_type")), 1L).otherwise(0L))),
      collideMsg = s"illegal type change (widening within a family only): $name -> $newType")
  }

  /** The shared RENAME/DROP core: read the active mapping, transform its
    * entries, re-serialize IN ORIGINAL ENTRY ORDER, and emit one meta
    * action row — with the existence/collision/emptiness guards in the
    * row path (one-row aggregates; the mapping is column-count-sized). */
  private def rewriteMapping(acts: DataFrame, version: Int, ordinal: Int,
                             transformEntries: DataFrame => DataFrame,
                             hitCount: DataFrame => org.apache.spark.sql.Column,
                             guardMsg: String,
                             collideCount: Option[DataFrame => org.apache.spark.sql.Column] = None,
                             collideMsg: String = "",
                             minRemaining: Int = 0): DataFrame = {
    // no materialization: the mapping is column-count-sized and its two
    // consumers (guards + rebuild) re-run a trivial race — an eager
    // checkpoint here would cost a scheduling-floor job per DDL statement
    val m = columnMapping(acts)
    val hits = m.agg(hitCount(m).as("n_hit"),
      collideCount.map(c => c(m)).getOrElse(lit(0L)).as("n_collide"))
    val rebuilt = transformEntries(m)
      .select(struct(col("pos"),
        concat_ws(":", col("logical_name"), col("physical_name"), col("col_type")).as("e")).as("pe"))
      .agg(sort_array(collect_list("pe")).as("pes"), count(lit(1)).as("n_left"))
      .select(concat_ws(",", transform(col("pes"), pe => pe.getField("e"))).as("schema_str"),
        col("n_left"))
    tableStateRow(hits.crossJoin(rebuilt), "meta", "_schema", version, ordinal,
      when(col("n_hit") =!= 1, raise_error(lit(guardMsg)))
        .when(col("n_collide") > 0, raise_error(lit(collideMsg)))
        .when(col("n_left") < minRemaining,
          raise_error(lit("column mapping would become empty")))
        .otherwise(col("schema_str")))
  }

  /** ADD COLUMN under column mapping, as ONE log-only meta transaction —
    * with the guard that makes mapping-by-name safe: a physical name
    * that was EVER mapped (by any meta in the log's history, active or
    * not) must never be reused, because files written under the old
    * mapping still carry data in that physical column — a new logical
    * column reusing it would silently read GHOST data out of every old
    * file (real Delta prevents this with monotonically-assigned column
    * ids; the name-keyed miniature enforces the same invariant by
    * history scan, which is log-sized). Also raises on a logical-name
    * collision with the ACTIVE mapping. Bootstrapping: a table with no
    * meta at all, OR whose active meta is a PLAIN (non-mapping) schema
    * like dl11's `k BIGINT, ...`, gets a fresh single-entry mapping —
    * that is the real migration command (the plain schema stays in
    * history); an active meta MIXING mapping and plain entries is torn
    * and raises rather than silently dropping the unparseable part. */
  def addColumn(acts: DataFrame, logical: String, physical: String, colType: String,
                version: Int, ordinal: Int): DataFrame = {
    // every physical name ANY meta ever mapped — lenient 3-part filter so
    // plain (non-mapping) schema metas on mixed tables don't trip it
    val history = acts.filter(col("op") === "meta")
      .select(explode(split(col("schema_str"), ",")).as("ent"))
      .withColumn("parts", split(col("ent"), ":"))
      .filter(size(col("parts")) === 3)
      .agg(coalesce(sum(when(element_at(col("parts"), 2) === physical, 1L).otherwise(0L)),
        lit(0L)).as("n_phys"))
    // the ACTIVE meta's entries, classified rather than strictly parsed:
    // all-mapping → extend; all-plain or absent → bootstrap fresh;
    // mixed → torn (the strict columnMapping parse would also refuse it)
    val activeEntries = activeOpRow(acts, "meta")
      .select(posexplode(split(col("schema_str"), ",")))
      .withColumn("parts", split(col("col"), ":"))
      .withColumn("is_map", size(col("parts")) === 3)
    val rebuilt = activeEntries
      .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
        coalesce(sum(when(col("is_map"), 1L).otherwise(0L)), lit(0L)).as("n3"),
        coalesce(sum(when(col("is_map") && element_at(col("parts"), 1) === logical, 1L)
          .otherwise(0L)), lit(0L)).as("n_log"),
        concat_ws(",", concat(
          transform(
            sort_array(collect_list(when(col("is_map"),
              struct(col("pos"), col("col").as("e"))))),
            pe => pe.getField("e")),
          array(lit(s"$logical:$physical:$colType")))).as("schema_str"))
    tableStateRow(history.crossJoin(rebuilt), "meta", "_schema", version, ordinal,
      when(col("n3") > 0 && col("n3") =!= col("n"),
        raise_error(lit("active meta mixes mapping and plain entries (torn)")))
        .when(col("n_phys") > 0,
          raise_error(lit(s"physical name was already mapped (ghost data in old files): $physical")))
        .when(col("n_log") > 0,
          raise_error(lit(s"logical column already mapped: $logical")))
        .otherwise(col("schema_str")))
  }

  /** The read-side of column mapping: a MELTED physical read — rows of
    * (physical_name, value…) the columnar scan produced — resolved
    * against a mapping frame. Only mapped physical columns survive, each
    * under its logical name: after RENAME the same physical data reads
    * under the new name; after DROP the column's rows disappear without
    * any file change. The mapping side is column-count-sized —
    * broadcast; its extra columns (a grid's `v`, mapping_version)
    * survive the join so per-version reads resolve in ONE pass. */
  def resolvePhysical(melted: DataFrame, mapping: DataFrame): DataFrame =
    melted.join(broadcast(mapping), Seq("physical_name"))

  // ---- writer invariants: CHECK constraints at commit (dl23) ---------------

  /** An op='constraint' action declaring per-stat CHECK constraints the
    * table enforces ON EVERY COMMIT from `version` on (the Delta CHECK
    * constraints feature — writer version 3: admission via requireWriter
    * says who MAY write; this says what they may write). The spec rides
    * schema_str as `name:field:kind:bound;…` with kind ∈ {notnull, min,
    * max} over the committed stats fields (n_rows/min_key/max_key/cents)
    * — bound empty for notnull. Latest (version, ordinal) constraint
    * action wins, the singleton race every table-level property shares. */
  def constraintAction(spark: SparkSession, version: Int, ordinal: Int, spec: String): DataFrame =
    tableStateRow(spark.range(1).toDF(), "constraint", "_constraint", version, ordinal, lit(spec))

  /** The ACTIVE constraints as of `asOf`: (c_name, field, kind, bound,
    * constraint_version) rows, parsed STRICTLY (a torn entry raises — a
    * writer that shrugged off half the spec would enforce half the
    * contract). kind must be one of notnull/min/max; min/max bounds must
    * parse as integers (a malformed bound would null the comparison and
    * silently admit every violation). */
  def activeConstraints(acts: DataFrame, asOf: Option[Int] = None): DataFrame =
    activeOpRow(asOf.map(v => acts.filter(col("version") <= v)).getOrElse(acts), "constraint")
      .select(col("version").as("constraint_version"),
        explode(split(col("schema_str"), ";")).as("ent"))
      .withColumn("parts", split(col("ent"), ":"))
      .select(
        when(size(col("parts")) =!= 4,
          raise_error(concat(lit("torn constraint entry: "), col("ent"))))
          .otherwise(element_at(col("parts"), 1)).as("c_name"),
        // the torn/unknown-field raises MUST ride `field` itself: it is
        // the JOIN KEY in invariantChecks, so a raise carried only by
        // c_name/kind would be join-elided — a torn or misspelled entry
        // would match no stat row and the constraint would silently
        // never bind (the enforcement-defeating twin of the guard-row
        // elision class)
        when(size(col("parts")) =!= 4,
          raise_error(concat(lit("torn constraint entry: "), col("ent"))))
          .when(!element_at(col("parts"), 2).isin("n_rows", "min_key", "max_key", "cents"),
            raise_error(concat(lit("unknown constraint field: "), col("ent"))))
          .otherwise(element_at(col("parts"), 2)).as("field"),
        when(!element_at(col("parts"), 3).isin("notnull", "min", "max"),
          raise_error(concat(lit("unknown constraint kind: "), col("ent"))))
          .otherwise(element_at(col("parts"), 3)).as("kind"),
        // try_cast: notnull entries carry an EMPTY bound, which an ANSI
        // cast would throw on for every row; min/max bounds that fail to
        // parse still raise loudly
        when(element_at(col("parts"), 3).isin("min", "max") &&
            element_at(col("parts"), 4).try_cast("long").isNull,
          raise_error(concat(lit("unparseable constraint bound: "), col("ent"))))
          .otherwise(element_at(col("parts"), 4).try_cast("long")).as("bound"),
        col("constraint_version"))

  /** ALTER TABLE ADD CONSTRAINT with EXISTING-DATA validation (dl29 —
    * real Delta scans every existing row before admitting a CHECK
    * constraint; here the committed per-file stats ARE the scannable
    * summary): the new spec = the ACTIVE spec plus `entry`, validated
    * against every CURRENT live add's stats through the SAME
    * [[invariantChecks]]/[[enforceInvariantsChecked]] machinery the
    * commit path runs — a table whose existing data already violates
    * the contract must refuse the DDL (raise riding the returned
    * action rows), not admit a constraint that every subsequent read
    * proves false. Validating the FULL combined spec (not just the new
    * entry) is deliberate: it also re-proves the standing contract
    * before re-committing it. Log-sized: live file LIST × spec. */
  def addConstraintValidated(acts: DataFrame, entry: String,
                             version: Int, ordinal: Int): DataFrame = {
    val activeSpec = activeOpRow(acts, "constraint")
      .select(col("schema_str").as("_spec"))
    val payload = activeSpec
      .unionByName(acts.sparkSession.range(1).select(lit(null).cast(StringType).as("_spec")))
      .agg(max("_spec").as("_old"))
      .select(when(col("_old").isNull, lit(entry))
        .otherwise(concat(col("_old"), lit(";"), lit(entry))).as("_payload"))
    val cand = tableStateRow(payload, "constraint", "_constraint", version, ordinal,
      col("_payload"))
    val liveTxn = replay(acts).withColumn("op", lit("add"))
    enforceInvariantsChecked(cand, invariantChecks(acts.unionByName(cand), liveTxn))
  }

  /** Enforce the table's active constraints on a prepared transaction:
    * every `add` row's committed stats are checked against the active
    * spec BEFORE the line is written — an add whose stats violate a
    * declared NOT NULL / range constraint must raise at commit, not land
    * silently for every future reader to trust (the round-12 verdict's
    * #2: requireWriter admits WRITERS; nothing validated their DATA).
    * Violations surface as the deleteActions guard-row pattern — an
    * anti-elidable branch unioned into the returned transaction, raise
    * riding op/path/version so no downstream filter drops it before it
    * detonates. Non-add actions (removes, dvs, meta) pass through
    * untouched: constraints bind data commits. Log-sized: the melt is
    * 4 rows per add; the constraint side is spec-sized and broadcast. */
  def enforceInvariants(acts: DataFrame, txn: DataFrame): DataFrame =
    enforceInvariantsChecked(txn, invariantChecks(acts, txn))

  /** [[enforceInvariants]] over a PRE-COMPUTED checks frame — so a commit
    * path that also audits the evaluation (the dl23 gate) derives the
    * checks once instead of re-running the constraint parse and join for
    * an identical answer. */
  def enforceInvariantsChecked(txn: DataFrame, checks: DataFrame): DataFrame = {
    val violations = checks.filter(col("violated"))
    val boom = guardBoom(raise_error(concat(lit("writer invariant violated: "), col("c_name"),
      lit(" ("), col("field"), lit(" "), col("kind"),
      lit(") by add "), col("path"))))
    val guard = violations.select(Seq(
      boom.cast(IntegerType).as("version"), lit(0).as("ordinal"),
      boom.cast(StringType).as("op"), boom.cast(StringType).as("path")) ++ nullStatCols ++
      nullDvTailCols: _*)
    txn.unionByName(guard)
  }

  /** The per-check evaluation [[enforceInvariants]] raises over, exposed
    * so a commit audit can pin that every declared constraint was
    * actually evaluated against every add (a gate whose enforcement
    * never matched anything would pass vacuously): one row per
    * (add-stat, matching constraint) pair — (path, field, value, c_name,
    * kind, bound, violated). */
  def invariantChecks(acts: DataFrame, txn: DataFrame): DataFrame = {
    val cons = activeConstraints(acts)
    val melted = txn.filter(col("op") === "add")
      .select(col("path"), explode(array(
        struct(lit("n_rows").as("field"), col("n_rows").as("value")),
        struct(lit("min_key").as("field"), col("min_key").as("value")),
        struct(lit("max_key").as("field"), col("max_key").as("value")),
        struct(lit("cents").as("field"), col("cents").as("value")))).as("m"))
      .select(col("path"), col("m.field"), col("m.value"))
    melted.join(broadcast(cons), Seq("field"))
      // coalesce: a NULL value under a min/max constraint nulls the
      // comparison — that is NOT a violation (notnull is the explicit
      // opt-in for null rejection), and a null `violated` would leak
      // into audits
      .withColumn("violated", coalesce(
        (col("kind") === "notnull" && col("value").isNull) ||
        (col("kind") === "min" && col("value") < col("bound")) ||
        (col("kind") === "max" && col("value") > col("bound")), lit(false)))
  }

  // ---- commit timestamps: TIMESTAMP AS OF + time-based retention (dl2b) ----

  /** Stamp every action with its commit timestamp (epoch µs) — a
    * per-VERSION property, so `tsOf` normally derives from
    * col("version"). Real Delta keys the timestamp to the commit file;
    * the action carries it here so the log alone resolves TIMESTAMP AS
    * OF and time-based vacuum horizons. */
  def stampTs(acts: DataFrame, tsOf: org.apache.spark.sql.Column): DataFrame =
    acts.withColumn("ts", tsOf.cast("long"))

  /** In-commit timestamps (the Delta `inCommitTimestamp` table feature,
    * Delta 3.x): the WRITER stamps its transaction with
    * ts = max(wall clock, last committed ts + 1) AT COMMIT, so the
    * log's timestamps are monotone BY CONSTRUCTION and TIMESTAMP AS OF
    * needs no read-side adjustment ([[commitTimestamps]]' running-max
    * is the legacy-log path — it exists because file-modification
    * clocks regress between writers: NTP steps, different hosts; this
    * feature moves the fix into the commit itself, where it also
    * survives log copies that lose file mtimes). Log-sized: one max
    * aggregate over the log. */
  def stampInCommit(acts: DataFrame, txn: DataFrame, wallTs: Long): DataFrame = {
    val last = acts.agg(coalesce(max(col("ts")), lit(Long.MinValue)).as("_last"))
    txn.crossJoin(broadcast(last))
      .withColumn("ts", greatest(lit(wallTs), col("_last") + 1))
      .drop("_last")
  }

  /** Per-version ADJUSTED commit timestamps: the raw per-version ts
    * (guarded — two actions of one version disagreeing on ts is a torn
    * commit, raise), made MONOTONE non-decreasing the way real Delta
    * adjusts out-of-order commit timestamps before resolving TIMESTAMP
    * AS OF (a later version must never resolve EARLIER than its
    * predecessor). The running max is a version×version join —
    * log-sized (versions², never data) and window-free. Returns
    * (version, ts). */
  def commitTimestamps(acts: DataFrame): DataFrame = {
    // synthetic checkpoint state rows (hwmStateRow's version −1 / path
    // '_hwm' never-reuse marks) are NOT commits: they carry no ts by
    // design, and counting them as a version would make every
    // checkpoint+tail read of a stamped rids/ident table raise on a
    // phantom unstamped version −1
    val per = acts.filter(col("version") >= 0).groupBy("version")
      .agg(min("ts").as("ts_min"), max("ts").as("ts_max"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("n_null"))
    // enforcement scope: on a FULLY unstamped log (no ts anywhere) the
    // timestamp APIs see zero commits (versionAsOf resolves everything
    // to the sentinel) — but once ANY version is stamped, a version
    // with a missing or mixed-null ts is torn and must raise: silently
    // dropping it would hand retainedVersionsAsOf a version set missing
    // the newest commit, freeing files that are live RIGHT NOW.
    val anyStamped = per.agg(max(col("ts_max")).isNotNull.as("_stamped"))
    val guarded = per.crossJoin(broadcast(anyStamped)).filter(col("_stamped"))
      .select(col("version"),
        when(col("ts_max").isNull || col("n_null") > 0 || col("ts_min") =!= col("ts_max"),
          raise_error(concat(lit("unstamped or torn commit timestamp at version "),
            col("version").cast("string"))))
          .otherwise(col("ts_max")).as("ts"))
    val earlier = guarded.select(col("version").as("v2"), col("ts").as("ts2"))
    guarded.join(earlier, col("v2") <= col("version"))
      .groupBy(col("version")).agg(max("ts2").as("ts"))
  }

  /** TIMESTAMP AS OF, vectorized over a probe frame (column `p_ts`,
    * epoch µs): each probe resolves to the LATEST version whose adjusted
    * commit timestamp is ≤ the probe (real Delta's rule). A probe before
    * the first commit resolves to the sentinel version −1 — real Delta
    * raises there; the gate pins the sentinel so the edge case is
    * load-bearing rather than an untested error string (dl2b). Returns
    * the probe columns plus `version`. */
  def versionAsOf(acts: DataFrame, probes: DataFrame): DataFrame = {
    // the result appends `version`; internal commit columns are renamed so
    // probe frames carrying log-adjacent names (ts, ...) never resolve
    // ambiguously against the join
    require(!probes.columns.contains("version"),
      "versionAsOf appends a `version` column; rename the probe frame's own")
    val commits = commitTimestamps(acts)
      .select(col("version").as("_commit_v"), col("ts").as("_commit_ts"))
    probes.join(commits, col("_commit_ts") <= probes("p_ts"), "left")
      .groupBy(probes.columns.map(probes(_)).toSeq: _*)
      .agg(coalesce(max("_commit_v"), lit(-1)).as("version"))
  }

  /** The versions a TIME-based retention keeps (vacuum horizon `hTs`,
    * epoch µs): every version committed at-or-after the horizon PLUS the
    * boundary version (the latest commit ≤ horizon — that snapshot IS
    * the table as-of the horizon instant, so its files must survive).
    * dl7's count-based removability rule then applies over this set
    * unchanged. Returns one column `v`. */
  def retainedVersionsAsOf(acts: DataFrame, hTs: Long): DataFrame = {
    // two consumers (recent filter + boundary max) over a log-sized frame
    val commits = commitTimestamps(acts).localCheckpoint()
    val recent = commits.filter(col("ts") >= hTs).select(col("version").as("v"))
    val boundary = commits.filter(col("ts") <= hTs)
      .agg(max("version").as("v")).filter(col("v").isNotNull)
    recent.unionByName(boundary).distinct()
  }

  /** DuckDB mirror of buckets+actions: CTEs `bks` and `acts`, where the
    * contiguous bucket span is carried as (b_lo, b_hi) instead of an
    * array. One source of truth for the three dl oracles. */
  val actionsSql: String =
    s"""bks AS (
         SELECT o_orderkey // $W AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY 1),
       acts AS (
         SELECT 0 AS version, CAST(bucket AS INT) AS ordinal, 'add' AS op,
           'part-' || bucket AS path, bucket AS b_lo, bucket AS b_hi,
           n_rows, min_key, max_key, cents
         FROM bks
         UNION ALL SELECT 1, 0, 'remove', 'part-0', NULL, NULL, NULL, NULL, NULL, NULL
         UNION ALL SELECT 1, 1, 'remove', 'part-1', NULL, NULL, NULL, NULL, NULL, NULL
         UNION ALL
         SELECT 1, 2, 'add', 'compact-0-1', 0, 1, CAST(sum(n_rows) AS BIGINT), min(min_key),
           max(max_key), CAST(sum(cents) AS BIGINT)
         FROM bks WHERE bucket <= 1
         UNION ALL SELECT 2, 0, 'remove', 'part-2', NULL, NULL, NULL, NULL, NULL, NULL
         UNION ALL
         SELECT 3, 0, 'add', 'append-0', 3, 3, n_rows, min_key, max_key, cents
         FROM bks WHERE bucket = 3)"""

  /** Oracle live-set replay as of version `v` (SQL fragment yielding a
    * subquery; columns path, b_lo, b_hi, n_rows, min_key, max_key, cents). */
  def liveSql(v: String): String =
    s"""(SELECT path, b_lo, b_hi, n_rows, min_key, max_key, cents FROM (
          SELECT *, row_number() OVER (PARTITION BY path
            ORDER BY version DESC, ordinal DESC) AS rn
          FROM acts WHERE version <= $v)
        WHERE rn = 1 AND op = 'add')"""
}
