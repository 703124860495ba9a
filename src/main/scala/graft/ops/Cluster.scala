package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.{Embed, Search}

/** Distributed k-means + SemDeDup-style semantic deduplication
  * (prompt families: deduplication + similarity search; the
  * embedding-cluster analog of the reference's text near-dup removal).
  *
  * The Lloyd update is built to be ORDER-INDEPENDENT so an external oracle
  * can reproduce it bit-for-bit: per-cell element means are summed in
  * DECIMAL (exact, commutative — a double sum would pick up the shuffle's
  * reduction order) and emitted as doubles rounded to 8 dp. Everything
  * else is the standard scale shape: assignment is a broadcast of the
  * O(k·d) centroid table against a scan, the update is one hash aggregate
  * keyed (cell, position), and no step ever collects data rows to the
  * driver — at 100 TB the only growing cost is the scan itself.
  *
  * SemDeDup (Abbas et al. 2023): cluster the corpus by embedding, then
  * remove near-duplicates WITHIN each cluster — the cluster acts as the
  * blocking key, so the pairwise step is quadratic only inside a cluster.
  * Production sizing picks k ∝ N/target-cluster-size to keep per-cluster
  * work bounded; here k is small because the gate corpus is.
  */
object Cluster {

  /** Deterministic seeded init centroids (k × dim) — the same constructor
    * the oracle SQL bakes in as literals. */
  def seededCentroids(k: Int, dim: Int, seed: Int, scale: Double): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(k)(Seq.fill(dim)(rng.nextGaussian() * scale))
  }

  /** The decimal-exact element-wise mean per cell of an assigned frame
    * (cell, vecCol) — one hash aggregate keyed (cell, position), then the
    * k-row centroid assembly. Decimal(25,10) sums keep the mean exact and
    * order-independent; the /count division and 8-dp round then yield the
    * same double in any engine. */
  private def decimalMeans(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("cell"), posexplode(col(vecCol)))
      .groupBy("cell", "pos")
      .agg(round(sum(col("col").cast("decimal(25,10)")).cast("double") / count(lit(1)), 8).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos").as("p"), col("c").as("c")))),
        x => x.getField("c")).as("centroid"))

  /** One exact Lloyd iteration: assign every vector to its nearest init
    * centroid (argmin d², ties → lower cell), then recompute each cell's
    * element-wise mean. Returns the new centroid table (cell, centroid),
    * k rows. */
  def lloydOnce(emb: DataFrame, vecCol: String, init: Seq[Seq[Double]]): DataFrame =
    decimalMeans(emb.withColumn("cell", Search.ivfCell(col(vecCol), init)), vecCol)

  /** Full Lloyd loop: iteration 1 assigns against the seeded literals,
    * every later one against the evolving k-row centroid table (broadcast
    * join — the loop never moves data rows to the driver). Each round is
    * one assignment pass + one (cell, position) aggregate; the centroid
    * frame is localCheckpoint-ed so lineage stays flat across rounds
    * (k·d rows — the materialization is trivial). The gate query (d9)
    * runs exactly one iteration because its oracle unrolls the update;
    * this loop is the production entry point where convergence, not
    * replayability, is the goal. */
  def lloyd(emb: DataFrame, vecCol: String, idCol: String, init: Seq[Seq[Double]],
            iterations: Int): DataFrame = {
    require(iterations >= 1, s"lloyd needs at least one iteration, got $iterations")
    var cents = lloydOnce(emb, vecCol, init).localCheckpoint()
    var i = 1
    while (i < iterations) {
      cents = decimalMeans(assign(emb, vecCol, idCol, cents), vecCol).localCheckpoint()
      i += 1
    }
    cents
  }

  /** Assign every vector to its nearest centroid from a centroid TABLE
    * (not literals): broadcast the k rows, score each (vector, cell) pair,
    * keep the argmin (ties → lower cell). Output: idCol, vecCol, cell.
    *
    * The argmin is a `min_by` hash aggregate keyed on id, NOT a row_number
    * window: the aggregate gets map-side partial combine (each task
    * collapses its k candidate rows per id to one before the shuffle, so
    * only (id, vec, cell) rides the wire — k× less shuffle input at k=64)
    * and needs no sort. The ordering struct (d2, cell) is unique per
    * candidate (cells are distinct), so the result is deterministic with
    * ties broken toward the lower cell. */
  def assign(emb: DataFrame, vecCol: String, idCol: String, centroids: DataFrame): DataFrame = {
    val d2 = aggregate(
      zip_with(col(vecCol), col("centroid"), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, x) => acc + x)
    emb.crossJoin(broadcast(centroids))
      .withColumn("d2", d2)
      .groupBy(col(idCol))
      .agg(min_by(struct(col(vecCol).as("v"), col("cell").as("cell")),
        struct(col("d2"), col("cell"))).as("best"))
      .select(col(idCol), col("best.v").as(vecCol), col("best.cell").as("cell"))
  }

  /** SemDeDup pair generation: one Lloyd iteration from the seeded init,
    * final assignment, then exact-cosine pairs ≥ threshold within each
    * cluster (the cluster is the blocking key). */
  def semanticDupPairs(emb: DataFrame, vecCol: String, idCol: String,
                       init: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val cents = lloydOnce(emb, vecCol, init)
    val assigned = assign(emb, vecCol, idCol, cents)
    Search.nearDuplicatePairs(assigned, vecCol, idCol, "cell", threshold)
      .withColumnRenamed("b", "cell")
  }

  /** Embedding-space outlier flagging — the quality-filter complement of
    * SemDeDup (d9 drops redundant points NEAR their neighbors; this flags
    * corrupt/off-distribution points FAR from everything): squared
    * distance to the corpus centroid, flagged beyond
    * `mean + sigmas·stddev` of that distance. Two DECIMAL-exact
    * aggregates (per-dim means, then distance moments — both map-side
    * combined, nothing driver-side) + a broadcast stats row.
    *
    * Drift engineering (measured on this query, round 5): per-term
    * `CAST(x AS DECIMAL(25,15))` sums are order-independent but NOT
    * drift-free — double→DECIMAL rounds differently between engines on
    * ~0.1% of values and DECIMAL→DOUBLE is not correctly rounded in
    * both, so a per-(id, dim) decimal-summed distance differed at 1 ulp
    * on 15% of vectors (and double-rounding via round(round(x,9),6)
    * flipped an exact decimal half). The distance therefore runs as ONE
    * fixed-order compiled fold per row (`array_dot` on the centered
    * vector against the broadcast centroid array): the only remaining
    * drift is the centroid's own ≤1-ulp cast, which propagates at
    * ~1e-18 — invisible to the 6-dp output rounding. DECIMAL sums stay
    * where they belong: on the cross-partition aggregates (centroid and
    * moment sums). */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, sigmas: Double): DataFrame = {
    val comp = emb.select(col(idCol).as("_oid"),
      posexplode(transform(slice(col(vecCol), 1, dim), v => v.cast("double"))).as(Seq("i", "x")))
    val n = emb.agg(count(lit(1)).cast("double").as("n"))
    val muArr = comp.groupBy("i")
      .agg(sum(col("x").cast("decimal(25,15)")).cast("double").as("sx"))
      .crossJoin(broadcast(n))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("i"), (col("sx") / col("n")).as("mu")))).as("ms"))
      .select(transform(col("ms"), m => m.getField("mu")).as("mu_arr"))
    val d2 = emb
      .select(col(idCol).as("_oid"), transform(slice(col(vecCol), 1, dim), v => v.cast("double")).as("xs"))
      .crossJoin(broadcast(muArr))
      .select(col("_oid"), zip_with(col("xs"), col("mu_arr"), (a, b) => a - b).as("diff"))
      .select(col("_oid"),
        round(graft.index.Embed.dot(col("diff"), col("diff")), 6).as("d2"))
    val stats = d2.agg(
      (sum(col("d2").cast("decimal(25,15)")).cast("double") / count(lit(1)).cast("double")).as("m"),
      (sum((col("d2") * col("d2")).cast("decimal(25,15)")).cast("double") / count(lit(1)).cast("double")).as("m2"))
    d2.crossJoin(broadcast(stats))
      .select(col("_oid").as(idCol), col("d2").as("dist2"),
        (col("d2") >
          col("m") + lit(sigmas) * sqrt(col("m2") - col("m") * col("m"))).as("is_outlier"))
  }
}
