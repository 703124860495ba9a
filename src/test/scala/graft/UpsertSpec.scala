package graft

import org.apache.spark.sql.functions._
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

  test("each segment holds at most one parquet file per touched cell") {
    val out = "/tmp/graft_upsert_spec_files"
    def files: Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    // new files per cell directory written by one operation
    def segmentFiles(op: => Unit): Map[String, Int] = {
      val before = if (new java.io.File(out).exists) files else Set.empty[String]
      op
      (files -- before).toSeq.groupBy(_.split('/').find(_.startsWith("cell=")).get)
        .map { case (cell, fs) => cell -> fs.size }
    }
    // several writer tasks per batch, each holding rows of every cell
    def spread(rows: Seq[(Long, Int, Int)]) = mkIndex(rows).repartition(4)
    val base = segmentFiles(Upsert.writeBase(
      spread((0L until 40L).map(i => (i, i.toInt, (i % 3).toInt))), "cell", out))
    val up = segmentFiles(Upsert.upsert(spark, out,
      spread((30L until 50L).map(i => (i, i.toInt + 100, ((i + 1) % 3).toInt)))))
    val del = segmentFiles(Upsert.delete(spark, out,
      spread((0L until 10L).map(i => (i, 0, 0))).select("vec_id")))
    for ((name, seg) <- Seq("writeBase" -> base, "upsert" -> up, "delete" -> del))
      assert(seg.size == 3 && seg.values.forall(_ == 1),
        s"$name must write one file in each of the 3 touched cells, got $seg")
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
