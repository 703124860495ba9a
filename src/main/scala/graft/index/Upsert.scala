package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.io.ParquetMeta

/** Incremental maintenance for the stored (partitioned) vector indexes —
  * upsert / delete / compact over the v6 IVF(+PQ) layout (SURVEY.md §2.9;
  * ref `backend/services/vector_store.py:165-205` re-upserts a document's
  * vectors on every re-ingest, which a write-once index cannot express).
  *
  * Two-level LSM, the "growing segment" layout of vector stores such as
  * Milvus:
  *  - the BASE is `partitionBy(cell)` parquet at `out/cell=K/`; only
  *    [[writeBase]] (and [[compact]] through it) writes it;
  *  - every mutation APPENDS one segment (monotone `seg` number) as one
  *    DELTA file under the hidden `out/_delta/`, where `cell`, `seg` and
  *    `deleted` are data columns; a segment is not split by cell;
  *  - the MANIFEST `out/_index` is a small driver-side file holding the
  *    index schema and the highest segment number ever allocated.
  *
  * An upsert writes the batch's rows live; a delete writes tombstone rows
  * carrying the deleted vectors' CURRENT cells. Readers ([[read]]) take
  * base ∪ deltas with the manifest's schema — no schema inference — and
  * resolve latest-wins per vector (max seg; a live row outranks a
  * same-seg tombstone, which occurs only for the old-cell tombstone of a
  * cell MOVE). Because a move writes its tombstone with the OLD cell,
  * resolution is correct even over a cell-filtered read — the old cell
  * sees the tombstone, the new cell sees the live row, and neither needs
  * the other.
  *
  * Segment numbers: a writer records its number in the manifest BEFORE
  * writing the segment's data, replacing `_index` by renaming a temp file
  * over it, so a write that fails part-way leaves a gap in the numbers
  * and [[upsert]]/[[delete]] never reuse a number. A caller-numbered
  * write ([[upsertSeg]]/[[deleteSeg]]) may repeat the highest number: the
  * retry of an epoch whose write failed, or that the caller never
  * committed. One writer per index at a time.
  *
  * Scale shape: a mutation costs O(batch + one ids-only column-pruned scan
  * of (vec_id, cell, seg, deleted)) — never O(corpus) row data (the d8
  * incremental-dedup contract) — and writes one file. The trade: a pruned
  * query reads its probed base cells plus EVERY delta file until
  * [[compact]] folds the deltas back into a seg-0 base (deltas are scanned
  * whole, as Milvus scans its growing segments; the cell filter only skips
  * their row groups). The query cost grows with the deltas (PERF.md: p50
  * ×2.3 at 50 deltas); when to compact is left to the caller. */
object Upsert {

  /** Write the initial index: `index` must carry (idCol, payload columns,
    * cellCol); segments start at 0, nothing deleted. Overwrites `out`,
    * then creates the empty delta directory and the manifest. */
  def writeBase(index: DataFrame, cellCol: String, out: String): Unit = {
    val rows = index.withColumn("seg", lit(0L)).withColumn("deleted", lit(false))
    writeByCell(rows, cellCol, out)
    fs(out).mkdirs(new Path(out, "_delta"))
    // the schema in the order a reader of the partitioned base sees it
    writeManifest(out, 0L, rows.drop(cellCol).schema.add(rows.schema(cellCol)))
  }

  /** One base file per cell: each cell's rows meet in one task before
    * `partitionBy` splits them into directories. Without the shuffle
    * every writer task opens a file in every cell it holds rows for. */
  private def writeByCell(rows: DataFrame, cellCol: String, out: String): Unit =
    rows.repartition(col(cellCol)).write.mode("overwrite").partitionBy(cellCol).parquet(out)

  /** The index as stored: base ∪ deltas, read with the manifest's schema
    * (no schema-inference job). Unresolved — see [[resolveView]]. The
    * delta files are listed here and passed by name, because Spark warns
    * on every read of a root directory whose name starts with `_`. */
  def read(spark: SparkSession, out: String): DataFrame = {
    val schema = readManifest(out)._2
    spark.read.schema(schema).parquet(out)
      .unionByName(spark.read.schema(schema).parquet(ParquetMeta.partFiles(s"$out/_delta"): _*))
  }

  /** Latest-wins resolution over any (possibly cell-pruned) segment view:
    * max seg per vector, live row outranking a same-seg move-tombstone,
    * tombstoned vectors dropped. */
  def resolveView(segments: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("seg").desc, col("deleted").asc)
    segments.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("deleted"))
      .drop("_rn", "deleted")
  }

  /** The current live index (full read + resolution). */
  def resolve(spark: SparkSession, out: String, idCol: String = "vec_id"): DataFrame =
    resolveView(read(spark, out), idCol)

  /** The ids-only live view (id, cell, seg): the scan reads 4 small
    * columns, never the payload (codes/vectors). */
  private def currentIds(spark: SparkSession, out: String, idCol: String,
                         cellCol: String): DataFrame =
    resolveView(read(spark, out).select(col(idCol), col(cellCol), col("seg"), col("deleted")),
      idCol)

  /** Upsert a batch of (idCol, payload..., cellCol) rows: new vectors
    * insert, existing vectors are superseded; a vector whose cell CHANGED
    * additionally gets a tombstone in its old cell so pruned readers of
    * that cell drop it. [[upsertSeg]] at the next segment number the
    * manifest allocates; a vec_id must appear at most once per batch
    * (enforced). */
  def upsert(spark: SparkSession, out: String, batch: DataFrame,
             idCol: String = "vec_id", cellCol: String = "cell"): Unit = {
    require(batch.groupBy(col(idCol)).count().filter(col("count") > 1).isEmpty,
      s"upsert batch must carry at most one row per $idCol")
    upsertSeg(batch, currentIds(spark, out, idCol, cellCol), readManifest(out)._1 + 1L, out,
      idCol, cellCol)
  }

  /** Delete by id: tombstones carrying each victim's CURRENT cell (ids
    * with no live row are ignored — idempotent). [[deleteSeg]] at the
    * next segment number the manifest allocates. */
  def delete(spark: SparkSession, out: String, ids: DataFrame,
             idCol: String = "vec_id", cellCol: String = "cell"): Unit =
    deleteSeg(currentIds(spark, out, idCol, cellCol)
        .join(ids.select(col(idCol)), Seq(idCol), "left_semi"),
      readManifest(out)._1 + 1L, out, idCol, cellCol)

  /** Tombstones for the (idCol, cellCol) `rows`: every other column of
    * `schema` but seg and deleted as a typed null payload, deleted = true. */
  private def tombstones(rows: DataFrame, schema: StructType, idCol: String,
                         cellCol: String): DataFrame =
    rows.select(Seq(col(idCol), col(cellCol)) ++
        schema.fields.toSeq.filterNot(f => Seq(idCol, cellCol, "seg", "deleted").contains(f.name))
          .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      .withColumn("deleted", lit(true))

  /** Append segment `seg` as one delta file and return its per-cell write
    * inventory (cell, n_live, n_tombstones). `seg` must not be below the
    * highest number allocated; a higher one is recorded in the manifest
    * before anything runs, and `rows` gets the index schema from there. The rows
    * are checkpointed lazily: the write materializes them, and the
    * inventory reads that copy instead of re-deriving the rows from an
    * index that now holds them. */
  private def writeSeg(out: String, seg: Long, cellCol: String)
                      (rows: StructType => DataFrame): DataFrame = {
    val (top, schema) = readManifest(out)
    require(seg >= top, s"segment $seg of $out is below the highest allocated, $top")
    if (seg > top) writeManifest(out, seg, schema)
    val segRows = rows(schema).withColumn("seg", lit(seg))
      .select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .localCheckpoint(eager = false)
    segRows.hint("rebalance").write.mode("append").parquet(s"$out/_delta")
    segRows.groupBy(col(cellCol)).agg(
      sum(when(!col("deleted"), 1L).otherwise(0L)).as("n_live"),
      sum(when(col("deleted"), 1L).otherwise(0L)).as("n_tombstones"))
  }

  /** [[upsert]] with the segment number and the current (id, cell) view
    * supplied by the CALLER (v19: segment ids derive from its epoch log,
    * and the ids-only current view is read once per epoch and shared
    * between the tombstone derivation and whatever else the epoch needs).
    * `seg` must not be below the highest number the manifest has
    * allocated. It may equal it: an epoch retried after its write failed,
    * or after a crash before the caller committed it, is redelivered with
    * its number. The retry must carry the same batch; derived against the
    * current view it writes the rows of the first attempt, or fewer (no
    * move tombstone twice), and latest-wins resolves both copies alike.
    * Batch contract as [[upsert]] (at most one row per id; the caller's
    * manifest commit is the enforcement point). Returns the per-cell write
    * inventory (cell, n_live, n_tombstones) so the caller can commit
    * manifest rows WITHOUT re-listing files. */
  def upsertSeg(batch: DataFrame, current: DataFrame, seg: Long, out: String,
                idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    writeSeg(out, seg, cellCol) { schema =>
      // a vector whose cell differs from its cell in `current` also gets
      // a tombstone in its OLD cell
      val moved = batch.select(col(idCol), col(cellCol).as("_new_cell"))
        .join(current.select(col(idCol), col(cellCol)), Seq(idCol))
        .filter(col(cellCol) =!= col("_new_cell"))
      batch.withColumn("deleted", lit(false))
        .unionByName(tombstones(moved, schema, idCol, cellCol))
    }

  /** [[delete]]'s caller-driven twin: the caller supplies the victims
    * WITH their current cells (from its ids-only view) and the segment
    * number (a retry may repeat it, as for [[upsertSeg]]); the payload
    * schema of the tombstones comes from the manifest. Returns the
    * per-cell inventory like [[upsertSeg]]. */
  def deleteSeg(victims: DataFrame, seg: Long, out: String,
                idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    writeSeg(out, seg, cellCol)(tombstones(victims, _, idCol, cellCol))

  /** Fold all segments into a fresh seg-0 base at `dst` (tombstones and
    * superseded rows dropped). Query-equivalence with the un-compacted
    * index is the v9 gate's invariant. */
  def compact(spark: SparkSession, out: String, dst: String,
              idCol: String = "vec_id", cellCol: String = "cell"): Unit =
    writeBase(resolve(spark, out, idCol).drop("seg"), cellCol, dst)

  /** Cell-pruned read + resolution: [[Search.prune]]'s static `cell IN
    * (…)` filter over [[read]] — a partition filter on the base, a data
    * filter on the deltas — then latest-wins over just those rows. */
  def readPrunedResolved(spark: SparkSession, out: String, queryRow: DataFrame,
                         idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    resolveView(Search.prune(read(spark, out), queryRow, cellCol), idCol)

  // ---- the manifest: line 1 the highest allocated segment, line 2 the
  // schema as JSON

  private def fs(out: String): FileSystem =
    new Path(out).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  private def readManifest(out: String): (Long, StructType) = {
    val in = fs(out).open(new Path(out, "_index"))
    val Array(seg, schema) = try new String(in.readAllBytes(), UTF_8).split("\n", 2)
      finally in.close()
    (seg.toLong, DataType.fromJson(schema).asInstanceOf[StructType])
  }

  /** Replace the manifest: write a temp file, then rename it over
    * `_index` through [[FileContext]]'s overwriting rename, which every
    * Hadoop file system implements (atomic on HDFS; the local one deletes
    * the old file, then renames, moving the checksum file along). */
  private def writeManifest(out: String, seg: Long, schema: StructType): Unit = {
    val f = fs(out)
    val tmp = f.makeQualified(new Path(out, s"_index.${java.util.UUID.randomUUID}"))
    val o = f.create(tmp, false)
    try o.write(s"$seg\n${schema.json}".getBytes(UTF_8)) finally o.close()
    FileContext.getFileContext(tmp.toUri, f.getConf)
      .rename(tmp, new Path(tmp.getParent, "_index"), Options.Rename.OVERWRITE)
  }
}
