package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.index.{Embed, Search}

/** Proves the ANN partition-prune path end-to-end: the index written
  * `partitionBy(bucket)` is read back with the query's bucket arriving as a
  * partition filter, so the scan lists a strict subset of the partition
  * directories (not the whole index).
  */
class AnnPruneSpec extends SparkSpec {

  private val dim = 64
  private val bits = 6

  private def indexScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // force execution so AQE finalizes the plan
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: QueryStageExec => find(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(find)
    }
    val scans = find(df.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty) // the partitioned index side
    assert(scans.nonEmpty, "expected a partitioned file scan in the plan")
    scans.head
  }

  private def filesUnder(p: String): Long = {
    import java.nio.file._
    val s = Files.walk(Paths.get(p))
    try s.filter(f => f.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  test("SRP index written partitionBy(bucket) is read with partition filters") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_srp"
    Search.writePartitionedIndex(emb, Search.srpBucket(col("embedding"), dim, bits), out)

    val nBuckets = spark.read.parquet(out).select("bucket").distinct().count()
    assert(nBuckets > 1, "test needs a multi-partition index to demonstrate pruning")

    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), Search.srpBucket(col("embedding"), dim, bits).as("bucket"))
    val pruned = Search.readPruned(spark, out, q)
      .select(col("vec_id"), round(Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)

    val scan = indexScan(pruned)
    assert(scan.partitionFilters.nonEmpty,
      s"bucket predicate must reach the scan as a partition filter, got: ${scan.partitionFilters}")
    // file-level proof: the pruned scan read fewer partition directories
    // than the index has (the probe's bucket is one partition)
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = filesUnder(out)
    assert(filesRead < totalFiles,
      s"pruned read touched $filesRead of $totalFiles files - no pruning happened")
  }

  test("pruned top-k equals the in-scan LSH top-k (same bucket, same ranking)") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_srp"
    // self-contained: never rely on a previous test's (or a previous
    // BUILD's) index at this fixed path
    Search.writePartitionedIndex(emb, Search.srpBucket(col("embedding"), dim, bits), out)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), Search.srpBucket(col("embedding"), dim, bits).as("bucket"))
    val pruned = Search.readPruned(spark, out, q)
      .select(col("vec_id"), round(Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5).collect()

    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val reference = emb.crossJoin(broadcast(qv))
      .withColumn("bucket", Search.srpBucket(col("embedding"), dim, bits))
      .filter(col("bucket") === Search.srpBucket(transform(col("qv"), x => x.cast("double")), dim, bits))
      .select(col("vec_id"), round(Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5).collect()

    assert(pruned.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      reference.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("multi-probe pruned read scans neighbor buckets only, matches in-scan multi-probe") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_srp"
    Search.writePartitionedIndex(emb, Search.srpBucket(col("embedding"), dim, bits), out)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), Search.srpBucket(col("embedding"), dim, bits).as("bucket"))
    val pruned = Search.readPrunedMultiProbe(spark, out, q, bits, maxHamming = 1)
      .withColumn("score", Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .select(col("vec_id"), round(col("score"), 6).as("score"))
    val scan = indexScan(pruned)
    assert(scan.partitionFilters.nonEmpty)
    // probes = bucket + `bits` single-flip neighbors; must stay under the full index
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = filesUnder(out)
    assert(filesRead <= bits + 1 && filesRead < totalFiles,
      s"multi-probe read $filesRead of $totalFiles files")
    val reference = Search.lshTopK(
      emb.crossJoin(broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("qv")))),
      "embedding", "vec_id", transform(col("qv"), x => x.cast("double")), dim, bits, 5, maxHamming = 1)
      .select(col("vec_id"), round(col("score"), 6).as("score")).collect()
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      reference.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("IVF index written partitionBy(cell) prunes the same way") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val centroids: Seq[Seq[Double]] = {
      val rng = new scala.util.Random(7)
      Seq.fill(4)(Seq.fill(dim)(rng.nextGaussian() * 0.05))
    }
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_ivf"
    Search.writePartitionedIndex(emb, Search.ivfCell(col("embedding"), centroids), out, bucketCol = "cell")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), Search.ivfCell(col("embedding"), centroids).as("cell"))
    val pruned = Search.readPruned(spark, out, q, bucketCol = "cell")
      .select(col("vec_id"), round(Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
    val scan = indexScan(pruned)
    assert(scan.partitionFilters.nonEmpty)
    assert(pruned.count() == 5)
  }

  test("multi-probe IVF pruned read lists exactly the nprobe probed cell directories") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    // the SAME centroid set the v10b/v4c queries use - a spec-local copy
    // would pin a stale layout if the query-side geometry were tuned
    val centroids = graft.queries.VectorQueries.ivfCentroids8
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_ivf8"
    Search.writePartitionedIndex(emb, Search.ivfCell(col("embedding"), centroids), out, bucketCol = "cell")
    val nprobe = 2
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"),
        Search.ivfProbeCells(col("embedding"), centroids, nprobe).as("probes"))
    val pruned = Search.readPrunedProbes(spark, out, q, probesCol = "probes", bucketCol = "cell")
      .select(col("vec_id"), round(Embed.dot(col("embedding"), transform(col("qv"), x => x.cast("double"))), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
    val scan = indexScan(pruned)
    assert(scan.partitionFilters.nonEmpty,
      s"probe cells must reach the scan as a partition filter, got: ${scan.partitionFilters}")

    // exact file-count pin: the scan read precisely the files under the
    // two probed cell directories, nothing else
    val probeCells = q.select(explode(col("probes")).as("c")).collect().map(_.getInt(0)).toSet
    assert(probeCells.size == nprobe)
    val probedFiles = probeCells.toSeq.map(c => filesUnder(s"$out/cell=$c")).sum
    val totalFiles = filesUnder(out)
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead == probedFiles && filesRead < totalFiles,
      s"multi-probe read $filesRead files; expected exactly $probedFiles (of $totalFiles)")

    // semantics: identical to the in-scan multi-probe ivfTopK at the same nprobe
    val reference = Search.ivfTopK(
      emb.crossJoin(broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("qv")))),
      "embedding", "vec_id", transform(col("qv"), x => x.cast("double")), centroids, 5, nprobe)
      .select(col("vec_id"), round(col("score"), 6).as("score")).collect()
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      reference.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("a local probe row (Seq(...).toDF) reads only its cell's files") {
    // a local relation holds no selective Filter, so dynamic partition
    // pruning never fires for it: the pruning must come from the probe's
    // cells, collected on the driver
    import spark.implicits._
    val emb = graft.tables.TestTables.embeddings(spark, sf)
    val centroids = graft.queries.VectorQueries.ivfCentroids8
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_local_probe"
    graft.index.Upsert.writeBase(emb.select(col("vec_id"), col("embedding"),
      Search.ivfCell(col("embedding"), centroids).as("cell")), "cell", out)
    val qv = emb.filter(col("vec_id") === 0).select("embedding").as[Seq[Double]].head()
    val probe = Seq(qv).toDF("q").select(Search.ivfCell(col("q"), centroids).as("cell"))
    val cell = probe.as[Int].head()
    val cellFiles = filesUnder(s"$out/cell=$cell")
    assert(cellFiles < filesUnder(out), "test needs an index with files outside the probed cell")
    for ((name, read) <- Seq(
        "readPruned" -> Search.readPruned(spark, out, probe, bucketCol = "cell"),
        "readPrunedResolved" -> graft.index.Upsert.readPrunedResolved(spark, out, probe))) {
      val scan = indexScan(read.select("vec_id"))
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead == cellFiles, s"$name read $filesRead files; the probed cell holds $cellFiles")
    }
  }

  test("ivfProbeCells: nearest-first prefix, head equals ivfCell, full width is all cells") {
    val emb = graft.tables.TestTables.embeddings(spark, sf).limit(50)
    val centroids = graft.queries.VectorQueries.ivfCentroids8
    val rows = emb.select(
        Search.ivfCell(col("embedding"), centroids).as("cell"),
        Search.ivfProbeCells(col("embedding"), centroids, 3).as("p3"),
        Search.ivfProbeCells(col("embedding"), centroids, 8).as("p8"))
      .collect()
    rows.foreach { r =>
      val cell = r.getInt(0)
      val p3 = r.getSeq[Int](1).toSeq
      val p8 = r.getSeq[Int](2).toSeq
      assert(p3.head == cell, "probe list must start at the assigned cell")
      assert(p3 == p8.take(3), "probe list must be a prefix of the full ranking")
      assert(p8.sorted == (0 until 8), "full-width probe list must rank every cell once")
    }
  }
}
