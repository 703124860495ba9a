package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental maintenance for the stored (partitioned) vector indexes —
  * upsert / delete / compact over the v6 IVF(+PQ) layout (SURVEY.md §2.9;
  * ref `backend/services/vector_store.py:165-205` re-upserts a document's
  * vectors on every re-ingest, which a write-once index cannot express).
  *
  * LSM-style segment layout, Spark-native: the index directory stays
  * `partitionBy(cell)` parquet; every mutation APPENDS a new segment
  * (monotone `seg` number) instead of rewriting — an upsert touches only
  * the cell partitions its batch lands in, a delete writes tombstone rows
  * into the deleted vectors' CURRENT cells. Readers resolve latest-wins
  * per vector (max seg; a live row outranks a same-seg tombstone, which
  * occurs only for the old-cell tombstone of a cell MOVE). Because a
  * move writes its tombstone into the OLD cell, resolution is correct
  * even over a cell-pruned read — the old cell sees the tombstone, the
  * new cell sees the live row, and neither needs the other.
  *
  * Scale shape: upsert cost is O(batch + one ids-only column-pruned scan
  * of (vec_id, cell, seg, deleted)) — never O(corpus) row data (the d8
  * incremental-dedup contract); the pruned query path resolves only the
  * probed cell's rows. Every write shuffles its rows by cell first, so a
  * segment holds at most one file per cell it touches (files per segment
  * ≤ touched cells, whatever the writer parallelism), and a mutation lists
  * and reads the index once. `compact` folds segments back to seg 0 when the
  * tombstone/segment count warrants it (the judge of WHEN is a manifest
  * policy, deliberately out of scope). */
object Upsert {

  /** Write the initial index: `index` must carry (idCol, payload columns,
    * cellCol); segments start at 0, nothing deleted. */
  def writeBase(index: DataFrame, cellCol: String, out: String): Unit =
    writeByCell(index.withColumn("seg", lit(0L)).withColumn("deleted", lit(false)),
      cellCol, out, "overwrite")

  /** One file per cell per segment: each cell's rows meet in one task
    * before `partitionBy` splits them into directories. Without the
    * shuffle every writer task opens a file in every cell it holds rows
    * for, and the file count a pruned read lists grows with the writer
    * parallelism times the segment count. */
  private def writeByCell(rows: DataFrame, cellCol: String, out: String, mode: String): Unit =
    rows.repartition(col(cellCol)).write.mode(mode).partitionBy(cellCol).parquet(out)

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
    resolveView(spark.read.parquet(out), idCol)

  /** The segment after the newest one in `index`, the view the mutation
    * already read (one listing and schema inference per mutation). */
  private def nextSeg(index: DataFrame): Long =
    index.agg(max(col("seg"))).head.getLong(0) + 1L

  /** Upsert a batch of (idCol, payload..., cellCol) rows: new vectors
    * insert, existing vectors are superseded; a vector whose cell CHANGED
    * additionally gets a tombstone in its old cell so pruned readers of
    * that cell drop it. One segment per call; a vec_id must appear at
    * most once per batch (enforced). */
  def upsert(spark: SparkSession, out: String, batch: DataFrame,
             idCol: String = "vec_id", cellCol: String = "cell"): Unit = {
    require(batch.groupBy(col(idCol)).count().filter(col("count") > 1).isEmpty,
      s"upsert batch must carry at most one row per $idCol")
    val full = spark.read.parquet(out)
    val seg = nextSeg(full)
    // ids-only view of the current index: the scan reads 4 small columns,
    // never the payload (codes/vectors)
    val current = resolveView(
      full.select(col(idCol), col(cellCol), col("seg"), col("deleted")), idCol)
    writeByCell(upsertRows(batch, current, idCol, cellCol).withColumn("seg", lit(seg)),
      cellCol, out, "append")
  }

  /** Delete by id: tombstones appended into each victim's CURRENT cell
    * (ids with no live row are ignored — idempotent). */
  def delete(spark: SparkSession, out: String, ids: DataFrame,
             idCol: String = "vec_id", cellCol: String = "cell"): Unit = {
    val full = spark.read.parquet(out)
    val seg = nextSeg(full)
    val current = resolveView(
      full.select(col(idCol), col(cellCol), col("seg"), col("deleted")), idCol)
    writeByCell(tombstones(current.join(ids.select(col(idCol)), Seq(idCol), "left_semi"),
        full.schema, idCol, cellCol)
      .withColumn("seg", lit(seg)), cellCol, out, "append")
  }

  /** Tombstones for the (idCol, cellCol) `rows`: every other column of
    * `schema` but seg and deleted as a typed null payload, deleted = true. */
  private def tombstones(rows: DataFrame, schema: StructType, idCol: String,
                         cellCol: String): DataFrame =
    rows.select(Seq(col(idCol), col(cellCol)) ++
        schema.fields.toSeq.filterNot(f => Seq(idCol, cellCol, "seg", "deleted").contains(f.name))
          .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      .withColumn("deleted", lit(true))

  /** The segment rows of an upsert: the batch's rows live, plus a
    * tombstone in the OLD cell of every vector whose cell differs from its
    * cell in `current` (id, cell). */
  private def upsertRows(batch: DataFrame, current: DataFrame, idCol: String,
                         cellCol: String): DataFrame = {
    val moved = batch.select(col(idCol), col(cellCol).as("_new_cell"))
      .join(current.select(col(idCol), col(cellCol)), Seq(idCol))
      .filter(col(cellCol) =!= col("_new_cell"))
    batch.withColumn("deleted", lit(false))
      .unionByName(tombstones(moved, batch.schema, idCol, cellCol))
  }

  /** Append a segment's `rows` and return its per-cell write inventory
    * (cell, n_live, n_tombstones); the rows are computed once for both. */
  private def writeSeg(rows: DataFrame, out: String, cellCol: String): DataFrame = {
    val seg = rows.localCheckpoint()
    writeByCell(seg, cellCol, out, "append")
    seg.groupBy(col(cellCol)).agg(
      sum(when(!col("deleted"), 1L).otherwise(0L)).as("n_live"),
      sum(when(col("deleted"), 1L).otherwise(0L)).as("n_tombstones"))
  }

  /** [[upsert]] with the segment number and the current (id, cell) view
    * supplied by the CALLER — the manifest-driven form (v19): at 100 TB
    * the next segment id comes from the index's manifest log, never from
    * a `max(seg)` scan over the physical index, and the ids-only current
    * view is read once per epoch by the caller (column-pruned — the
    * [[upsert]] contract) and shared between the tombstone derivation
    * and whatever else the epoch needs. Batch contract as [[upsert]]
    * (at most one row per id; the caller's manifest commit is the
    * enforcement point). Returns the per-cell write inventory
    * (cell, n_live, n_tombstones) so the caller can commit manifest rows
    * WITHOUT re-listing files. */
  def upsertSeg(batch: DataFrame, current: DataFrame, seg: Long, out: String,
                idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    writeSeg(upsertRows(batch, current, idCol, cellCol).withColumn("seg", lit(seg)), out, cellCol)

  /** [[delete]]'s manifest-driven twin: the caller supplies the victims
    * WITH their current cells (from its ids-only view) and the segment
    * number; `template` supplies the payload schema for the null
    * columns. Returns the per-cell inventory like [[upsertSeg]]. */
  def deleteSeg(victims: DataFrame, template: DataFrame, seg: Long, out: String,
                idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    writeSeg(tombstones(victims, template.schema, idCol, cellCol).withColumn("seg", lit(seg)),
      out, cellCol)

  /** Fold all segments into a fresh seg-0 index at `dst` (tombstones and
    * superseded rows dropped). Query-equivalence with the un-compacted
    * index is the v9 gate's invariant. */
  def compact(spark: SparkSession, out: String, dst: String,
              idCol: String = "vec_id", cellCol: String = "cell"): Unit =
    writeBase(resolve(spark, out, idCol).drop("seg"), cellCol, dst)

  /** Cell-pruned read + resolution: the partition-pruned scan of
    * [[Search.readPruned]] (the query's cell directory only), then
    * latest-wins over just those rows. */
  def readPrunedResolved(spark: SparkSession, out: String, queryRow: DataFrame,
                         idCol: String = "vec_id", cellCol: String = "cell"): DataFrame =
    resolveView(Search.readPruned(spark, out, queryRow, cellCol), idCol)
}
