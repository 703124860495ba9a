package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField}

/** One correctness-gate query: Spark implementation + DuckDB oracle SQL
  * (None → driver records a weaker rows-only check).
  *
  * Conventions for hash-parity with the DuckDB oracle:
  *  - every output column is explicitly aliased, same name in both;
  *  - every query ends with a deterministic total ORDER BY;
  *  - NO DECIMAL or HUGEINT output columns, ever: the driver's hasher
  *    fetches the oracle through pandas, which coerces both to float64
  *    ("1.10" → 1.1, 5 → 5.0) while Spark's parquet keeps Decimal/int64 —
  *    bit-exact values still hash-mismatch. Money sums go through
  *    decimal(18,2) internally (exact, order-independent — source money
  *    columns hold 2-decimal values so the casts are lossless) but are
  *    EMITTED as integer cents/1e-4 units cast to BIGINT; DuckDB integer
  *    sums get CAST(... AS BIGINT) to undo HUGEINT promotion;
  *  - averages are exact-integer sums divided as doubles with the same
  *    expression tree in both engines — never `round(avg(x), n)`;
  *  - timestamps are emitted as `unix_micros` bigints or dates, never raw
  *    nanosecond timestamps (parquet ns vs Spark µs truncation).
  */
final case class Q(name: String, oracle: Option[String], fn: (SparkSession, String) => DataFrame)

trait QuerySet {
  def all: Seq[Q]

  /** `base` (a leading long id column, e.g. doc_id) with a binary
    * `payload` column that `build` synthesizes from each row's id. */
  protected def withPayload(base: DataFrame)(build: Long => Array[Byte]): DataFrame =
    graft.ops.Stages.appendFields(base, Seq(StructField("payload", BinaryType)))(r =>
      Seq(build(r.getLong(0))))
}

/** DuckDB oracle fragments that queries of more than one family share —
  * ONE source of truth for SQL that must mirror a Spark implementation
  * exactly: the dedup chain (tokens, shingles, MinHash, SimHash, LSH
  * bands, Jaccard, closure) mirroring `graft.ops.Dedup`, the smoothed PSI
  * tail mirroring `ops.Drift.psiTerms`, and the planted image-signature
  * pairs with the payload generator that plants them. The MinHash rotation
  * table is generated from the same `Dedup.rotationOffset` the Spark
  * expression uses, so a parameter change cannot de-synchronize the
  * copies. A fragment one family uses alone lives in that family's
  * object, next to the Spark helper it mirrors.
  */
object OracleSql {

  /** Word w-shingles of `toks` (a filtered lowercase token list), mirroring
    * `Dedup.wordShingles`: distinct, space-joined; fewer than w tokens →
    * the space-joined token list as the single shingle, where an EMPTY
    * token list yields '' (Spark's concat_ws over zero tokens), not NULL
    * (DuckDB's string_agg over an empty list). */
  def shinglesSql(w: Int): String =
    s"""CASE WHEN len(toks) >= $w
         THEN list_distinct(list_transform(range(1, len(toks) - ${w - 2}),
              i -> concat(${(0 until w).map(j => s"toks[i+$j]").mkString(", ' ', ")})))
         ELSE [coalesce(list_aggregate(toks, 'string_agg', ' '), '')] END"""

  /** The tokenize every shingle build starts from: lowercase whitespace
    * split with empty tokens dropped (mirrors the Spark HOF in
    * `Dedup.wordShingles`). */
  val toksSql: String = """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** MinHash permutation i over a column `hs` of per-shingle md5 digests:
    * the lexicographic min of each digest rotated by
    * `Dedup.rotationOffset(i)` hex chars. */
  def minhashSql(i: Int): String = {
    val r = graft.ops.Dedup.rotationOffset(i)
    s"list_aggregate(list_transform(hs, h -> concat(substr(h, ${r + 1}, ${32 - r}), substr(h, 1, $r))), 'min')"
  }

  /** SimHash bit-string over a CTE column `hs` of per-item md5 digests —
    * bit j is the sign of the ±1 votes of each digest's j-th hex char
    * (mirrors `functions.SimHashBitsExpr` / `Dedup.simHash`). ONE copy
    * shared by d3 (16 bits over unigram hashes) and d3b (32 bits over
    * shingle hashes) so a vote/tie-rule change cannot de-synchronize
    * them. */
  def simhashSql(bits: Int): String =
    s"""list_aggregate(list_transform(range(1, ${bits + 1}),
        j -> CASE WHEN list_sum(list_transform(hs,
               h -> CASE WHEN h[j] BETWEEN '8' AND 'f' THEN 1 ELSE -1 END)) >= 0
             THEN '1' ELSE '0' END), 'string_agg', '')"""

  /** Wide (bit-level-vote) SimHash over an `hs` digest-list column —
    * mirrors `simhash_bits64`: vote position j reads digest BIT j (hex
    * char (j-1)/4, bit 3-((j-1)%4), MSB-first), so one md5 supplies up to
    * 128 positions. */
  def simhash64Sql(bits: Int): String =
    s"""list_aggregate(list_transform(range(1, ${bits + 1}),
        j -> CASE WHEN list_sum(list_transform(hs,
               h -> CASE WHEN (((strpos('0123456789abcdef', h[(j - 1) // 4 + 1]) - 1)
                                >> (3 - ((j - 1) % 4))) & 1) = 1
                    THEN 1 ELSE -1 END)) >= 0
             THEN '1' ELSE '0' END), 'string_agg', '')"""

  /** LSH band keys for a signature list column `sg`: bands of `rows`
    * consecutive mins, each md5'd with its band index prefix (mirrors
    * `Dedup.lshBandKeys`). */
  def bandsSql(numHashes: Int, rows: Int): String = {
    val bands = (0 until numHashes / rows).map { b =>
      val parts = (1 to rows).map(j => s"sg[${b * rows + j}]").mkString(", ")
      s"concat('$b:', md5(concat_ws('|', $parts)))"
    }
    s"unnest([${bands.mkString(", ")}])"
  }

  /** Exact Jaccard between the shingle sets of join sides aliased a/b. */
  val jaccSql: String =
    """CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
       len(list_distinct(list_concat(a.shingles, b.shingles)))"""

  /** CTE chain from a source CTE `src(id, text)` to an exploded band table
    * `<p>bands(id, shingles, band)`, with every CTE name prefixed by `p`
    * so two sides can coexist in one query. */
  def bandedCtes(p: String, src: String, shingleWidth: Int, numHashes: Int,
                 rows: Int): String =
    s"""${p}t AS (SELECT id, $toksSql AS toks FROM $src),
        ${p}sh AS (SELECT id, ${shinglesSql(shingleWidth)} AS shingles FROM ${p}t),
        ${p}hs AS (SELECT id, shingles, list_transform(shingles, s -> md5(s)) AS hs FROM ${p}sh),
        ${p}sig AS (SELECT id, shingles, [${(0 until numHashes).map(minhashSql).mkString(",\n          ")}] AS sg FROM ${p}hs),
        ${p}bands AS (SELECT id, shingles, ${bandsSql(numHashes, rows)} AS band FROM ${p}sig)"""

  /** The full self-join candidate-pair chain over a source CTE
    * `src(id, text)`: `bandedCtes` plus a `pairs` CTE holding
    * (id_a, id_b, jacc) with UNROUNDED Jaccard ≥ `threshold` — Spark
    * filters before rounding; the rounded value is for display only. */
  def lshPairsCtes(src: String, shingleWidth: Int, numHashes: Int, rows: Int,
                   threshold: Double): String =
    s"""${bandedCtes("", src, shingleWidth, numHashes, rows)},
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b, $jaccSql AS jacc
          FROM bands a JOIN bands b ON a.band = b.band AND a.id < b.id
          WHERE $jaccSql >= $threshold)"""

  /** Smoothed-PSI tail shared by x33 (temporal drift) and fs5 (split
    * drift) — expects a CTE `cnt(bucket, refN, curN)`; Spark twin is
    * `ops.Drift.psiTerms` (one copy of the smoothing/rounding rules). */
  def psiSql(b: Int, refN: String, curN: String, refP: String, curP: String): String =
    s"""tot AS (SELECT CAST(sum($refN) AS BIGINT) AS t_ref,
            CAST(sum($curN) AS BIGINT) AS t_cur FROM cnt),
        buckets AS (SELECT unnest(range(0, $b, 1)) AS bucket),
        p AS (SELECT bk.bucket,
            coalesce(cnt.$refN, 0) AS $refN, coalesce(cnt.$curN, 0) AS $curN,
            (CAST(coalesce(cnt.$refN, 0) AS DOUBLE) + 1.0) / (CAST(t_ref AS DOUBLE) + $b.0) AS p,
            (CAST(coalesce(cnt.$curN, 0) AS DOUBLE) + 1.0) / (CAST(t_cur AS DOUBLE) + $b.0) AS q
          FROM buckets bk LEFT JOIN cnt ON cnt.bucket = bk.bucket CROSS JOIN tot)
        SELECT CAST(bucket AS INT) AS bucket, $refN, $curN,
          round(p, 6) AS $refP, round(q, 6) AS $curP,
          round((p - q) * ln(p / q), 6) AS psi_term
        FROM p ORDER BY bucket"""

  /** Transitive closure over a `pairs(id_a, id_b)` CTE — the SQL mirror of
    * `Dedup.connectedComponents` (min-label propagation): `labels(id,
    * cluster_id)` assigns every pair member its component's minimum id.
    * ONE copy shared by d7, d7b, er3, er5 and er5b so the histogram can
    * never disagree with the cluster labels it summarizes. Requires WITH
    * RECURSIVE. */
  val closureCtes: String =
    """e AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b AS u, id_a AS v FROM pairs),
       reach AS (
         SELECT u AS id, u AS r FROM e
         UNION
         SELECT e.u AS id, reach.r FROM e JOIN reach ON e.v = reach.id),
       labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"""

  /** Near-dup pairs over the planted 64-bit image signatures that
    * `plantedDhashWalk` draws: each signature splits into 4 blocks of 16
    * bits, docs sharing a block are candidates, and pairs within Hamming
    * distance 3 are kept. Output (id_a, id_b, hamming). Oracle of d18,
    * m13 and pdf9, which decode the same signature from PNG, JPEG and
    * PDF payloads. */
  val plantedSigPairsSql: String =
    """WITH d AS (SELECT doc_id, doc_id // 4 AS gb, CAST(doc_id % 4 AS INT) AS m FROM documents),
            bits AS (SELECT doc_id, i,
                (((((gb * 48271 + i * 16807) % 1000003) * ((gb * 48271 + i * 16807) % 1000003)) % 1000003) < 500002) <>
                  list_contains(list_transform(range(CAST(m AS BIGINT)), j -> (gb * 7 + j * 19) % 64), i) AS b
              FROM d, range(0, 64, 1) t(i)),
            sig AS (SELECT doc_id, string_agg(CASE WHEN b THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
                    FROM bits GROUP BY doc_id),
            blk AS (SELECT doc_id, sig,
                concat(CAST(q AS VARCHAR), ':', substr(sig, CAST(q * 16 + 1 AS INT), 16)) AS blk
              FROM sig, range(0, 4, 1) t(q)),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
                     FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id),
            ham AS (SELECT id_a, id_b,
                CAST(len(list_filter(range(1, 65, 1), i -> sig_a[i] <> sig_b[i])) AS BIGINT) AS hamming
              FROM cand)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b"""

  /** Doc `id`'s planted 9×8 gray image, row-major, whose dHash is the
    * signature `plantedSigPairsSql` computes: groups of 4 docs share a
    * base signature and member m flips m known bits. */
  def plantedDhashWalk(id: Long): Array[Int] = {
    val gb = id / 4; val m = (id % 4).toInt
    // squared-residue bits mod a large prime: a LINEAR bit formula
    // walks the modulus in small increments, producing run-structured
    // signatures that nearly-collide across groups (measured 4× pair
    // inflation); squaring decorrelates adjacent i, leaving exactly
    // the 6-per-group planted pairs
    val bits = Array.tabulate(64) { i =>
      val v = (gb * 48271L + i * 16807L) % 1000003
      v * v % 1000003 < 500002
    }.zipWithIndex.map { case (b0, i) =>
      b0 != (0 until m).exists(j => (gb * 7 + j * 19) % 64 == i)
    }
    // gradient walk: p(0,y)=128, each step ±1 by the planted bit, so
    // dHash(p) == bits exactly and stays within byte range (128±8)
    val walk = new Array[Int](72)
    for (y <- 0 until 8) {
      walk(y * 9) = 128
      for (x <- 0 until 8)
        walk(y * 9 + x + 1) = walk(y * 9 + x) + (if (bits(y * 8 + x)) 1 else -1)
    }
    walk
  }
}
