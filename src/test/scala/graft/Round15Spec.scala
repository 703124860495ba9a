package graft

import org.apache.spark.sql.functions._
import graft.ops.DeltaLog

/** Round-15 fixtures: the log-to-log exactly-once pipeline (dl38) driven
  * through a REAL Structured Streaming file source with a checkpoint
  * restart — the upstream log's tail is the stream, foreachBatch folds
  * each wave into the reader state and commits the transformed delta into
  * a SECOND log via the idempotent epoch sink. The gate pins the batch
  * equivalence; this spec pins the streaming lifecycle: replay of the
  * last epoch after a crash is a downstream no-op, and a restart resumes
  * epochs without losing or double-applying a wave.
  */
class Round15Spec extends SparkSpec {

  test("log-to-log pipeline: CDF source -> transform -> idempotent sink across restart") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val base = java.nio.file.Files.createTempDirectory("graft_log2log").toString
    val landing = s"$base/uplog"; val ckpt = s"$base/ckpt"
    val lineSchema = StructType(Seq(StructField("line", StringType)))

    def addLine(v: Int, o: Int, path: String, bucket: Long, n: Long, cents: Long): String =
      s"""{"version":$v,"ordinal":$o,"op":"add","path":"$path","buckets":[$bucket],""" +
        s""""n_rows":$n,"min_key":1,"max_key":$n,"cents":$cents}"""
    def remLine(v: Int, o: Int, path: String): String =
      s"""{"version":$v,"ordinal":$o,"op":"remove","path":"$path"}"""

    // ---- the pipeline's driver state (what a real job keeps in memory,
    // rebuilt from the two logs on restart)
    @volatile var upState = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), DeltaLog.actionSchema)
    @volatile var upVersion = -1
    @volatile var dsActs = DeltaLog.metaAction(spark, 0, 0, "mirror-v0")
      .coalesce(1).localCheckpoint()
    @volatile var dsHead = 0
    val outcomes = scala.collection.mutable.Buffer.empty[String]
    val lock = new Object

    def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = lock.synchronized {
      val wave = DeltaLog.actions(batch).coalesce(1).localCheckpoint()
      val newVersion = wave.agg(max("version")).head().getInt(0)
      val before = upState
      // a replayed wave (version not past the folded state) is already in
      // the state — folding it would trip the stale guard; the delta below
      // is then empty and the txn marker alone fences the duplicate epoch
      val after = if (newVersion > upVersion)
        DeltaLog.foldState(before, wave, upVersion) else before
      // transform: downstream twin per upstream add (cents doubled — a
      // log-stats-level transform; the gate does the data-level one),
      // retire the ds twin of every upstream-removed path
      val beforeLive = DeltaLog.replay(before).select("path")
      val afterLive = DeltaLog.replay(after)
      val addsU = afterLive.join(beforeLive.withColumn("h", lit(1)), Seq("path"), "left")
        .filter(col("h").isNull)
      val remsU = beforeLive.join(afterLive.select("path").withColumn("h", lit(1)),
        Seq("path"), "left").filter(col("h").isNull).select("path")
      val dsLive = DeltaLog.replay(dsActs)
        .select(col("path"), substring_index(col("path"), ":", -1).as("up"))
      val dsRems = DeltaLog.removeActions(
        dsLive.join(remsU.withColumnRenamed("path", "up"), Seq("up"))
          .select(col("path"), lit(0).as("ordinal")), 90)
      val dsAdds = DeltaLog.addActions(
        addsU.select(concat(lit(s"ds:$id:"), col("path")).as("path"),
          lit(1000).as("ordinal"), col("buckets"), col("n_rows"), col("min_key"),
          col("max_key"), (col("cents") * 2).as("cents")), 90)
      val (a2, out) = DeltaLog.commitEpochIdempotent(
        dsActs, dsRems.unionByName(dsAdds), "pipe", id, dsHead)
      if (out.outcome == "committed") {
        dsHead += 1
        upState = after; upVersion = newVersion
      }
      dsActs = a2; outcomes += s"$id:${out.outcome}"
    }

    def start() = spark.readStream.schema(lineSchema).parquet(landing)
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id))
      .option("checkpointLocation", ckpt).start()

    // wave 0: upstream v0 — two files
    import spark.implicits._
    Seq(addLine(0, 0, "part-0", 0L, 10L, 100L), addLine(0, 1, "part-1", 1L, 20L, 200L))
      .toDF("line").coalesce(1).write.mode("overwrite").parquet(landing)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(outcomes.toSeq == Seq("0:committed"), outcomes.mkString(","))
    assert(DeltaLog.replay(dsActs).select("path").collect().map(_.getString(0)).toSet ==
      Set("ds:0:part-0", "ds:0:part-1"))

    // the crash-restart replay contract: the last epoch may be re-delivered;
    // re-deliver it by hand — the downstream log alone must make it a no-op
    sink(spark.read.parquet(landing), 0L)
    assert(outcomes.last == "0:skipped_duplicate", outcomes.mkString(","))
    assert(DeltaLog.replay(dsActs).select("path").collect().map(_.getString(0)).toSet ==
      Set("ds:0:part-0", "ds:0:part-1"),
      "a replayed epoch must not change the downstream live set")

    // wave 1 lands while the query is down: v1 compacts part-0/part-1
    Seq(remLine(1, 0, "part-0"), remLine(1, 1, "part-1"),
      addLine(1, 2, "compact-0-1", 0L, 30L, 300L))
      .toDF("line").coalesce(1).write.mode("append").parquet(landing)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(outcomes.toSeq == Seq("0:committed", "0:skipped_duplicate", "1:committed"),
      outcomes.mkString(","))
    val finalLive = DeltaLog.replay(dsActs)
      .select("path", "n_rows", "cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(finalLive == Set(("ds:1:compact-0-1", 30L, 600L)),
      s"downstream final state must mirror the transformed upstream head: $finalLive")
    assert(DeltaLog.lastTxnVersion(dsActs, "pipe").head().getLong(0) == 1L)
    // downstream state == batch recompute from the upstream final snapshot
    val batchRecompute = DeltaLog.replay(upState)
      .select(col("path"), col("n_rows"), (col("cents") * 2).as("cents")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchRecompute == Set(("compact-0-1", 30L, 600L)))
  }

  // ---- dl39: bloom sidecars are instance-scoped like every side action ----

  test("bloom side actions bind to the file INSTANCE: a rewrite retires the bloom") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    def add(v: Int, o: Int, path: String): Row =
      Row(v, o, "add", path, Seq(0L), 10L, 1L, 10L, 100L, null, null, null, null, null)
    def rem(v: Int, o: Int, path: String): Row =
      Row(v, o, "remove", path, null, null, null, null, null, null, null, null, null, null)
    val base = spark.createDataFrame(
      java.util.Arrays.asList(add(0, 0, "a"), add(0, 1, "b")), DeltaLog.actionSchema)
    val blooms = DeltaLog.sideActions(
      Seq(("a", 0, "1010"), ("b", 1, "0101")).toDF("path", "ordinal", "payload"), "bloom", 1)
    val acts1 = base.unionByName(blooms)
    assert(DeltaLog.effectiveSidePayloads(acts1, "bloom").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "1010"), ("b", "0101")))
    // rewrite file a (remove + re-add at v2): the old bloom belonged to the
    // DEAD instance — serving it against the new file's rows would skip
    // rows the new file actually contains
    val acts2 = acts1.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(rem(2, 0, "a"), add(2, 1, "a")), DeltaLog.actionSchema))
    assert(DeltaLog.effectiveSidePayloads(acts2, "bloom").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("b", "0101")),
      "a rewritten file must not inherit its predecessor's bloom")
    // a fresh bloom committed for the NEW instance wins
    val acts3 = acts2.unionByName(DeltaLog.sideActions(
      Seq(("a", 0, "1111")).toDF("path", "ordinal", "payload"), "bloom", 3))
    assert(DeltaLog.effectiveSidePayloads(acts3, "bloom").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "1111"), ("b", "0101")))
  }

  // ---- dl40: row-level OCC interleaves ------------------------------------

  test("row-level OCC: disjoint-row masks merge through a rewrite; same-row, dead-row and table-level conflicts abort") {
    import org.apache.spark.sql.Row
    def row(v: Int, o: Int, op: String, path: String, n: java.lang.Long,
            dv: Seq[Long], segs: String): Row =
      Row(v, o, op, path, if (op == "add") Seq(0L) else null, n,
        if (op == "add") java.lang.Long.valueOf(1L) else null,
        if (op == "add") n else null,
        if (op == "add") java.lang.Long.valueOf(100L) else null,
        dv, segs, null, null, null)
    def frame(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), DeltaLog.actionSchema)
    // v0: file `a` (10 rows, ids 0..9); v1: a COW delete of rows 4,5 rewrote
    // it into `a2` — survivors keep their ids: pos 0..3 -> ids 0..3,
    // pos 4..7 -> ids 6..9
    val acts0 = frame(row(0, 0, "add", "a", 10L, null, null),
      row(0, 0, "rids", "a", null, null, "0:0:10"))
    val head = acts0.unionByName(frame(
      row(1, 0, "remove", "a", null, null, null),
      row(1, 1, "add", "a2", 8L, null, null),
      row(1, 1, "rids", "a2", null, null, "0:0:4;4:6:4"))).localCheckpoint()
    def maskA(ps: Long*): org.apache.spark.sql.DataFrame =
      frame(row(90, 0, "dv", "a", null, ps, null))
    // B masks OLD positions 1 and 7 (ids 1, 7) — both live in a2; the
    // file-level race is lost (a was removed) but rows are untouched
    val pB = DeltaLog.dvRowLevelProbe(maskA(1L, 7L), head, 0).head()
    assert((pB.getLong(0), pB.getLong(1), pB.getLong(4), pB.getLong(5)) == ((1L, 0L, 0L, 0L)),
      s"B must be row-resolvable despite the file conflict: $pB")
    val rebased = DeltaLog.dvRowLevelRebase(maskA(1L, 7L), head, 0, 2)
    val got = rebased.select("path", "dv").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    // id 1 -> a2 pos 1; id 7 -> a2 pos 4 + (7-6) = 5
    assert(got == Seq(("a2", Seq(1L, 5L))), got.toString)
    val head2 = head.unionByName(rebased).localCheckpoint()
    // C masks OLD position 4 (id 4) — deleted by the rewrite: homeless
    val pC = DeltaLog.dvRowLevelProbe(maskA(4L), head2, 0).head()
    assert(pC.getLong(4) == 1L, s"a concurrently-deleted row must abort: $pC")
    // D masks OLD position 1 (id 1) — B already masked it: overlap
    val pD = DeltaLog.dvRowLevelProbe(maskA(1L), head2, 0).head()
    assert(pD.getLong(5) == 1L, s"a same-row double delete must abort: $pD")
    // E is fine row-wise, but a concurrent TABLE-level action blocks
    val head3 = head2.unionByName(DeltaLog.metaAction(spark, 3, 0, "s2")).localCheckpoint()
    val pE = DeltaLog.dvRowLevelProbe(maskA(2L), head3, 0).head()
    assert(pE.getLong(1) == 1L, s"a concurrent meta change is never row-resolvable: $pE")
  }

  // ---- dl41: incremental clustering selects by mark, marks die with instances

  test("incremental clustering: only unmarked files rewrite; a rewrite re-enters the candidate set") {
    import org.apache.spark.sql.Row
    def add(v: Int, o: Int, path: String, b: Long): Row =
      Row(v, o, "add", path, Seq(b), 10L, 1L, 10L, 100L, null, null, null, null, null)
    def frame(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), DeltaLog.actionSchema)
    val acts0 = frame(add(0, 0, "a", 0L), add(0, 1, "b", 1L)).localCheckpoint()
    val acts1 = acts0.unionByName(DeltaLog.clusterIncrementalActions(acts0, 1))
      .localCheckpoint()
    assert(DeltaLog.replay(acts1).select("path").collect().map(_.getString(0)).toSet ==
      Set("clus-1"))
    // steady state: everything marked -> the next run is an empty txn
    assert(DeltaLog.clusterIncrementalActions(acts1, 2).count() == 0L)
    // new ingest -> ONLY the new file clusters; clus-1 is untouched
    val acts2 = acts1.unionByName(frame(add(2, 0, "c", 2L))).localCheckpoint()
    val t3 = DeltaLog.clusterIncrementalActions(acts2, 3).localCheckpoint()
    assert(t3.filter(col("op") === "remove").select("path").collect()
      .map(_.getString(0)).toSet == Set("c"))
    val acts3 = acts2.unionByName(t3).localCheckpoint()
    // a rewrite of a clustered file retires its mark: the rewrite output
    // is a candidate again (marks bind to instances, never paths)
    val acts4 = acts3.unionByName(frame(
      Row(4, 0, "remove", "clus-1", null, null, null, null, null, null, null, null, null, null),
      add(4, 1, "clus-1", 0L))).localCheckpoint()
    val t5 = DeltaLog.clusterIncrementalActions(acts4, 5)
    assert(t5.filter(col("op") === "remove").select("path").collect()
      .map(_.getString(0)).toSet == Set("clus-1"),
      "the re-added instance lost its predecessor's mark and must re-cluster")
  }

  test("checkpoints retain bloom and cluster-mark sidecars (state, not history)") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    def add(v: Int, o: Int, path: String): Row =
      Row(v, o, "add", path, Seq(0L), 10L, 1L, 10L, 100L, null, null, null, null, null)
    val base = spark.createDataFrame(
      java.util.Arrays.asList(add(0, 0, "a"), add(0, 1, "b")), DeltaLog.actionSchema)
    val acts = base
      .unionByName(DeltaLog.sideActions(
        Seq(("a", 0, "1010"), ("b", 1, "0101")).toDF("path", "ordinal", "payload"), "bloom", 1))
      .unionByName(DeltaLog.sideActions(
        Seq(("a", 0, "1")).toDF("path", "ordinal", "payload"), "clus", 2))
      .localCheckpoint()
    val cp = DeltaLog.checkpointState(acts, Some(2)).localCheckpoint()
    // a checkpoint+tail reader resolves the SAME sidecars as a full-log one
    assert(DeltaLog.effectiveSidePayloads(cp, "bloom").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "1010"), ("b", "0101")),
      "a checkpoint that loses blooms silently loses file skipping")
    assert(DeltaLog.effectiveSidePayloads(cp, "clus").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("a", "1")),
      "a checkpoint that loses cluster marks re-clusters the whole table")
    // and the incremental OPTIMIZE over the checkpoint selects only `b`
    val t = DeltaLog.clusterIncrementalActions(cp, 3)
    assert(t.filter(col("op") === "remove").select("path").collect()
      .map(_.getString(0)).toSet == Set("b"))
  }

  // ---- empty epochs compose with in-commit timestamps ---------------------

  test("an EMPTY epoch on a stamped table derives its marker ts; time travel keeps working") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    def add(v: Int, o: Int, path: String): Row =
      Row(v, o, "add", path, Seq(0L), 10L, 1L, 10L, 100L, null, null, null, null, null)
    val acts0 = DeltaLog.stampTs(
      spark.createDataFrame(java.util.Arrays.asList(add(0, 0, "a"), add(1, 0, "b")),
        DeltaLog.actionSchema),
      when(col("version") === 0, 100L).otherwise(200L)).coalesce(1).localCheckpoint()
    // a real sink advances its epoch on an empty trigger batch: the delta
    // is zero rows, only the fence moves — the marker must not poison the
    // stamped log with a null-ts version
    val empty = acts0.filter(lit(false))
    val (acts1, out1) = DeltaLog.commitEpochIdempotent(acts0, empty, "sink", 0L, 1)
    assert(out1.outcome == "committed")
    val commits = DeltaLog.commitTimestamps(acts1).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(commits == Map(0 -> 100L, 1 -> 200L, 2 -> 201L),
      s"the empty epoch's marker must stamp last+1, got $commits")
    // the fence advanced, and a replay of the empty epoch is still a no-op
    assert(DeltaLog.lastTxnVersion(acts1, "sink").head().getLong(0) == 0L)
    val (acts2, out2) = DeltaLog.commitEpochIdempotent(acts1, empty, "sink", 0L, 2)
    assert(out2.outcome == "skipped_duplicate")
    assert(acts2.count() == acts1.count())
    // a STAMPED data-carrying epoch still inherits its own stamp
    val txn = DeltaLog.stampTs(
      spark.createDataFrame(java.util.Arrays.asList(add(0, 1000, "c")),
        DeltaLog.actionSchema), lit(500L))
    val (acts3, out3) = DeltaLog.commitEpochIdempotent(acts1, txn, "sink", 1L, 2)
    assert(out3.outcome == "committed")
    val c3 = DeltaLog.commitTimestamps(acts3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(c3 == Map(0 -> 100L, 1 -> 200L, 2 -> 201L, 3 -> 500L), s"got $c3")
  }

  // ---- v19: manifest-driven LSM index maintenance -------------------------

  test("upsertSeg cell move: each cell partition resolves correctly ALONE; delete then re-insert revives") {
    import spark.implicits._
    import graft.index.Upsert
    val dir = java.nio.file.Files.createTempDirectory("graft_upsertseg").toString
    def batch(rows: (Long, Int, Double)*) =
      rows.toSeq.toDF("vec_id", "cell", "payload")
    Upsert.writeBase(batch((1L, 0, 1.0), (2L, 0, 2.0), (3L, 1, 3.0)), "cell", dir)
    // seg 1: vec 2 MOVES cell 0 -> 1 (payload update); vec 4 inserts
    val inv1 = Upsert.upsertSeg(batch((2L, 1, 2.5), (4L, 1, 4.0)),
      Upsert.resolveView(Upsert.read(spark, dir)
        .select(col("vec_id"), col("cell"), col("seg"), col("deleted")), "vec_id"),
      1L, dir).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(inv1 == Set((1, 2L, 0L), (0, 0L, 1L)),
      s"inventory must show 2 live rows in cell 1 and the move tombstone in cell 0: $inv1")
    // the old-cell pruned read drops the moved vector WITHOUT seeing cell 1
    val cell0 = Upsert.resolveView(
      Upsert.read(spark, dir).filter(col("cell") === 0), "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cell0 == Set(1L), s"cell-0 pruned read must drop the moved vec 2: $cell0")
    val cell1 = Upsert.resolveView(
      Upsert.read(spark, dir).filter(col("cell") === 1), "vec_id")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("payload"))).toSet
    assert(cell1 == Set((2L, 2.5), (3L, 3.0), (4L, 4.0)),
      s"cell-1 pruned read must carry the moved vec at its NEW payload: $cell1")
    // seg 2: delete vec 3; seg 3: re-insert it (an upsert of a dead id is
    // a plain insert — no current row, no tombstone)
    val cur2 = Upsert.resolveView(Upsert.read(spark, dir)
      .select(col("vec_id"), col("cell"), col("seg"), col("deleted")), "vec_id")
    Upsert.deleteSeg(cur2.filter(col("vec_id") === 3).select("vec_id", "cell"), 2L, dir)
    assert(Upsert.resolve(spark, dir).select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    val cur3 = Upsert.resolveView(Upsert.read(spark, dir)
      .select(col("vec_id"), col("cell"), col("seg"), col("deleted")), "vec_id")
    val inv3 = Upsert.upsertSeg(batch((3L, 0, 3.5)), cur3, 3L, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(inv3 == Set((0, 1L, 0L)), s"re-insert after delete must not tombstone: $inv3")
    val fin = Upsert.resolve(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("payload"))).toSet
    assert(fin == Set((1L, 0, 1.0), (2L, 1, 2.5), (3L, 0, 3.5), (4L, 1, 4.0)))
    // time travel off segment numbers: state at seg <= 1 still has vec 3
    val at1 = Upsert.resolveView(
      Upsert.read(spark, dir).filter(col("seg") <= 1), "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(at1 == Set(1L, 2L, 3L, 4L), "segment numbers are the index's time travel")
  }
}
