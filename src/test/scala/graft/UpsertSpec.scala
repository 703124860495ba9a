package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.index.Upsert
import scala.jdk.CollectionConverters._

/** Round-7: incremental vector-index maintenance — segment/tombstone
  * semantics, move correctness under cell-pruned reads, compaction
  * equivalence, and the streaming foreachBatch ingest loop. */
class UpsertSpec extends SparkSpec {

  private def mkIndex(rows: Seq[(Long, Int, Int)]) = {
    import spark.implicits._
    rows.toDF("vec_id", "code", "cell")
  }

  private def resolved(out: String): Map[Long, (Int, Int)] =
    Upsert.resolve(spark, out).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        ((r.getInt(r.fieldIndex("code")), r.getInt(r.fieldIndex("cell"))))).toMap

  test("upsert lifecycle: insert, update, cell move, delete, compact") {
    val out = "/tmp/graft_upsert_spec"
    Upsert.writeBase(mkIndex(Seq((1L, 10, 0), (2L, 20, 0), (3L, 30, 1))), "cell", out)
    // update 2 in place, move 3 to cell 0, insert 4
    Upsert.upsert(spark, out, mkIndex(Seq((2L, 21, 0), (3L, 31, 0), (4L, 40, 1))))
    Upsert.delete(spark, out, mkIndex(Seq((1L, 0, 0))).select("vec_id"))
    val live = resolved(out)
    assert(live == Map(2L -> ((21, 0)), 3L -> ((31, 0)), 4L -> ((40, 1))))
    // the old cell of the moved vector must NOT surface it in a pruned read
    import spark.implicits._
    val probe1 = Seq((1, "q")).toDF("cell", "tag")
    val cell1 = Upsert.readPrunedResolved(spark, out, probe1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cell1 == Set(4L), s"cell 1 after move must hold only vec 4, got $cell1")
    val probe0 = Seq((0, "q")).toDF("cell", "tag")
    val cell0 = Upsert.readPrunedResolved(spark, out, probe0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cell0 == Set(2L, 3L), s"cell 0 must hold 2 and 3, got $cell0")
    // compaction: same logical state, single segment, no tombstones
    val dst = "/tmp/graft_upsert_spec_compact"
    Upsert.compact(spark, out, dst)
    assert(resolved(dst) == live)
    val segs = spark.read.parquet(dst).select("seg").distinct().collect().map(_.getLong(0)).toSeq
    assert(segs == Seq(0L), "compacted index must be a single seg-0 segment")
    assert(spark.read.parquet(dst).filter(col("deleted")).isEmpty)
  }

  test("delete of an unknown id is a no-op; re-upsert resurrects a deleted id") {
    val out = "/tmp/graft_upsert_spec2"
    Upsert.writeBase(mkIndex(Seq((1L, 10, 0))), "cell", out)
    Upsert.delete(spark, out, mkIndex(Seq((99L, 0, 0))).select("vec_id"))
    assert(resolved(out) == Map(1L -> ((10, 0))))
    Upsert.delete(spark, out, mkIndex(Seq((1L, 0, 0))).select("vec_id"))
    assert(resolved(out).isEmpty)
    Upsert.upsert(spark, out, mkIndex(Seq((1L, 11, 1))))
    assert(resolved(out) == Map(1L -> ((11, 1))))
  }

  // base: one file in each cell directory; a delta segment: one file for all its cells
  test("each segment holds at most one parquet file per touched cell") {
    val out = "/tmp/graft_upsert_spec_files"
    def files: Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    // the parquet files one operation adds
    def newFiles(op: => Unit): Seq[String] = {
      val before = if (new java.io.File(out).exists) files else Set.empty[String]
      op
      (files -- before).toSeq
    }
    // several writer tasks per batch, each holding rows of every cell
    def spread(rows: Seq[(Long, Int, Int)]) = mkIndex(rows).repartition(4)
    val base = newFiles(Upsert.writeBase(
      spread((0L until 40L).map(i => (i, i.toInt, (i % 3).toInt))), "cell", out))
    assert(base.map(_.split('/').find(_.startsWith("cell=")).get).sorted ==
      Seq("cell=0", "cell=1", "cell=2"), s"writeBase must write one file per cell, got $base")
    val up = newFiles(Upsert.upsert(spark, out,
      spread((30L until 50L).map(i => (i, i.toInt + 100, ((i + 1) % 3).toInt)))))
    val del = newFiles(Upsert.delete(spark, out,
      spread((0L until 10L).map(i => (i, 0, 0))).select("vec_id")))
    for ((name, seg) <- Seq("upsert" -> up, "delete" -> del))
      assert(seg.size == 1 && seg.head.startsWith(s"$out/_delta/"),
        s"$name must write exactly one delta file, got $seg")
  }

  /** A job that runs outside any SQL execution: the reader's footer scan
    * when a parquet read infers its schema. */
  private def inferring(js: org.apache.spark.scheduler.SparkListenerJobStart): Boolean =
    js.properties.getProperty("spark.sql.execution.id") == null

  test("upsert, delete and a pruned query run a pinned number of jobs, none inferring a schema") {
    import spark.implicits._
    val out = "/tmp/graft_upsert_spec_jobs"
    Upsert.writeBase(mkIndex((0L until 30L).map(i => (i, i.toInt, (i % 3).toInt))), "cell", out)
    val batch = mkIndex((20L until 40L).map(i => (i, i.toInt + 100, ((i + 1) % 3).toInt)))
    val up = jobsOf(Upsert.upsert(spark, out, batch))
    val del = jobsOf(Upsert.delete(spark, out, mkIndex(Seq((1L, 0, 0), (21L, 0, 0))).select("vec_id")))
    val query = jobsOf(Upsert.readPrunedResolved(spark, out, Seq((1, "q")).toDF("cell", "tag"))
      .collect())
    // the parent's path, reading the tree by inference, shows the probe works
    val tree = "/tmp/graft_upsert_spec_jobs_tree"
    CellTree.writeBase(mkIndex((0L until 30L).map(i => (i, i.toInt, (i % 3).toInt))), tree)
    val treeUp = jobsOf(CellTree.upsert(tree, batch))
    assert(treeUp.count(inferring) == 1, "the probe must see the parent path's inferring read")
    // measured on local[4]; the parent's path ran 7, 7 and 4 (its upsert
    // and delete each inferred the schema and ran a max(seg) job). The
    // uniqueness `require` keeps its own job in the upsert's count.
    assert((up.size, del.size, query.size) == (6, 4, 3))
    assert(!(up ++ del ++ query).exists(inferring), "no read may infer the index schema")
  }

  /** The parent's mutation path, kept as the oracle: every segment is
    * appended into the `partitionBy(cell)` tree, and every read infers the
    * schema from the files. */
  private object CellTree {
    private def write(rows: DataFrame, out: String, mode: String): Unit =
      rows.repartition(col("cell")).write.mode(mode).partitionBy("cell").parquet(out)
    def writeBase(index: DataFrame, out: String): Unit =
      write(index.withColumn("seg", lit(0L)).withColumn("deleted", lit(false)), out, "overwrite")
    def resolve(out: String): DataFrame = Upsert.resolveView(spark.read.parquet(out), "vec_id")
    private def current(full: DataFrame): DataFrame = Upsert.resolveView(
      full.select(col("vec_id"), col("cell"), col("seg"), col("deleted")), "vec_id")
    private def nextSeg(full: DataFrame): Long = full.agg(max(col("seg"))).head.getLong(0) + 1L
    private def tombstones(rows: DataFrame, schema: StructType): DataFrame =
      rows.select(Seq(col("vec_id"), col("cell")) ++
          schema.fields.toSeq.filterNot(f => Seq("vec_id", "cell", "seg", "deleted").contains(f.name))
            .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
        .withColumn("deleted", lit(true))
    def upsert(out: String, batch: DataFrame): Unit = {
      val full = spark.read.parquet(out)
      val seg = nextSeg(full)
      val moved = batch.select(col("vec_id"), col("cell").as("_new_cell"))
        .join(current(full).select(col("vec_id"), col("cell")), Seq("vec_id"))
        .filter(col("cell") =!= col("_new_cell"))
      write(batch.withColumn("deleted", lit(false)).unionByName(tombstones(moved, batch.schema))
        .withColumn("seg", lit(seg)), out, "append")
    }
    def delete(out: String, ids: DataFrame): Unit = {
      val full = spark.read.parquet(out)
      val seg = nextSeg(full)
      write(tombstones(current(full).join(ids.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        full.schema).withColumn("seg", lit(seg)), out, "append")
    }
    def readPrunedResolved(out: String, probe: DataFrame): DataFrame =
      Upsert.resolveView(graft.index.Search.readPruned(spark, out, probe, "cell"), "vec_id")
    def compact(out: String, dst: String): Unit = writeBase(resolve(out).drop("seg"), dst)
  }

  test("differential: base + deltas resolve as the parent's partitionBy(cell) tree, step by step") {
    import spark.implicits._
    val (out, tree) = ("/tmp/graft_upsert_spec_diff", "/tmp/graft_upsert_spec_diff_tree")
    val cells = 2
    val rng = new scala.util.Random(20261019)
    val base = mkIndex((0L until 24L).map(i => (i, i.toInt, rng.nextInt(cells))))
    Upsert.writeBase(base, "cell", out)
    CellTree.writeBase(base, tree)
    // the full resolution (view -1) and every cell's pruned read, one collect
    def views(resolved: DataFrame, pruned: DataFrame => DataFrame): Set[Seq[Any]] = {
      val all = (0 until cells).map(c => pruned(Seq((c, s"q$c")).toDF("cell", "tag"))
          .withColumn("view", lit(c)))
        .foldLeft(resolved.withColumn("view", lit(-1)))(_.unionByName(_, allowMissingColumns = true))
      all.select(all.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSet
    }
    def check(at: String, out: String, tree: String): Unit =
      assert(views(Upsert.resolve(spark, out), Upsert.readPrunedResolved(spark, out, _)) ==
        views(CellTree.resolve(tree), CellTree.readPrunedResolved(tree, _)), s"after $at")
    // upserts move cells, update payloads and insert new ids; deletes
    // include unknown ids; the second upsert re-inserts deleted ids (a
    // few steps: every Spark operation here costs most of a second)
    val firstUp = rng.shuffle((0L until 32L).toList).take(10)
    val victims = rng.shuffle((0L until 36L).toList).take(10)
    val steps = Seq(Left(firstUp), Right(victims),
      Left(victims.take(5) ++ rng.shuffle((0L until 32L).filterNot(victims.contains).toList).take(5)))
    for ((step, n) <- steps.zipWithIndex) {
      step match {
        case Left(ids) =>
          val batch = mkIndex(ids.map(i => (i, 1000 * (n + 1) + i.toInt, rng.nextInt(cells))))
          Upsert.upsert(spark, out, batch)
          CellTree.upsert(tree, batch)
        case Right(ids) =>
          Upsert.delete(spark, out, ids.toDF("vec_id"))
          CellTree.delete(tree, ids.toDF("vec_id"))
      }
      check(s"step ${n + 1}", out, tree)
    }
    // the seeded sequence does move cells (tombstones in seg 1), delete
    // live ids (seg 2) and revive some of them (seg 3)
    assert(Upsert.read(spark, out).filter(col("deleted")).select("seg").as[Long].collect()
      .toSet.intersect(Set(1L, 2L)) == Set(1L, 2L))
    assert(victims.take(5).exists(v => v < 24L || firstUp.contains(v)))
    Upsert.compact(spark, out, s"${out}_c")
    CellTree.compact(tree, s"${tree}_c")
    check("compact", s"${out}_c", s"${tree}_c")
  }

  test("a write that fails inside its job changes no live row and never reuses its segment number") {
    val out = "/tmp/graft_upsert_spec_fail"
    Upsert.writeBase(mkIndex((0L until 6L).map(i => (i, i.toInt, (i % 2).toInt))), "cell", out)
    Upsert.upsert(spark, out, mkIndex(Seq((1L, 11, 0), (7L, 70, 1)))) // seg 1
    val before = resolved(out)
    def deltaFiles = new java.io.File(s"$out/_delta").list().filter(_.endsWith(".parquet")).toSet
    val filesBefore = deltaFiles
    // the payload fails on one row, inside the write's job
    val boom = udf((id: Long) => { if (id == 3L) sys.error("boom"); id.toInt })
    intercept[org.apache.spark.SparkException] {
      Upsert.upsert(spark, out,
        spark.range(2, 4).select(col("id").as("vec_id"), boom(col("id")).as("code"), lit(1).as("cell")))
    }
    assert(resolved(out) == before)
    assert(deltaFiles == filesBefore, "a failed write must not leave a delta file")
    Upsert.delete(spark, out, mkIndex(Seq((0L, 0, 0))).select("vec_id"))
    val segs = Upsert.read(spark, out).select("seg").distinct().collect().map(_.getLong(0)).toSet
    assert(segs == Set(0L, 1L, 3L), s"the failed write's segment 2 must stay a gap: $segs")
    assert(resolved(out) == before - 0L)
  }

  test("a caller-numbered write retried at its number resolves as a clean run") {
    val clean = "/tmp/graft_upsert_spec_retry_clean"
    val out = "/tmp/graft_upsert_spec_retry"
    val base = mkIndex((0L until 6L).map(i => (i, i.toInt, (i % 2).toInt)))
    // 1 moves to cell 0 (a tombstone in cell 1), 3 is updated in place, 7 is new
    def batch(fail: Boolean) = {
      val code = udf((id: Long) => { if (fail && id == 7L) sys.error("boom"); id.toInt + 100 })
      mkIndex(Seq((1L, 0, 0), (3L, 0, 1), (7L, 0, 1))).withColumn("code", code(col("vec_id")))
    }
    def current(dir: String) = Upsert.resolveView(
      Upsert.read(spark, dir).select("vec_id", "cell", "seg", "deleted"), "vec_id")
    def views(dir: String) = (resolved(dir), Seq(0, 1).map { c =>
      import spark.implicits._
      Upsert.readPrunedResolved(spark, dir, Seq(c).toDF("cell"))
        .select("vec_id").as[Long].collect().toSet
    })
    for (dir <- Seq(clean, out)) Upsert.writeBase(base, "cell", dir)
    Upsert.upsertSeg(batch(fail = false), current(clean), 1L, clean)
    Upsert.deleteSeg(current(clean).filter(col("vec_id") === 0L).select("vec_id", "cell"), 2L, clean)
    // the epoch fails inside its job, is retried at its number and then
    // redelivered once more, as after a crash before the caller's commit
    intercept[org.apache.spark.SparkException] {
      Upsert.upsertSeg(batch(fail = true), current(out), 1L, out)
    }
    Upsert.upsertSeg(batch(fail = false), current(out), 1L, out)
    Upsert.upsertSeg(batch(fail = false), current(out), 1L, out)
    Upsert.deleteSeg(current(out).filter(col("vec_id") === 0L).select("vec_id", "cell"), 2L, out)
    assert(views(out) == views(clean))
    assert(views(clean)._2 == Seq(Set(1L, 2L, 4L), Set(3L, 5L, 7L)))
    intercept[IllegalArgumentException] {
      Upsert.deleteSeg(current(out).select("vec_id", "cell"), 1L, out)
    }
  }

  test("upsert rejects a batch with duplicate ids") {
    val out = "/tmp/graft_upsert_spec3"
    Upsert.writeBase(mkIndex(Seq((1L, 10, 0))), "cell", out)
    intercept[IllegalArgumentException] {
      Upsert.upsert(spark, out, mkIndex(Seq((2L, 20, 0), (2L, 21, 1))))
    }
  }

  test("foreachBatch ingest loop: streamed upserts converge to the rebuild") {
    import spark.implicits._
    val out = "/tmp/graft_upsert_stream_idx"
    val src = "/tmp/graft_upsert_stream_src"
    // base: vectors 0..9 in cell id%3 with code id
    Upsert.writeBase(mkIndex((0L until 10L).map(i => (i, i.toInt, (i % 3).toInt))), "cell", out)
    // arriving re-ingest batch: vectors 5..14 with refreshed codes and
    // (for some) moved cells — the vector_store re-upsert loop
    val arriving = (5L until 15L).map(i => (i, i.toInt + 100, ((i + 1) % 3).toInt))
    arriving.toDF("vec_id", "code", "cell").coalesce(1).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(mkIndex(Seq.empty).schema).parquet(src)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Upsert.upsert(spark, out, b)
        ()
      }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streamed upsert did not finish in time")
    val expected = ((0L until 5L).map(i => i -> ((i.toInt, (i % 3).toInt))) ++
      arriving.map { case (i, c, cell) => i -> ((c, cell)) }).toMap
    assert(resolved(out) == expected)
  }
}
