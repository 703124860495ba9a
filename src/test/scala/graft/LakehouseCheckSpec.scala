package graft

import org.apache.spark.sql.functions.lit
import graft.queries.LakehouseQueries.{equalCheck, sig}

/** The lakehouse gates' shared ground-truth check: two rowset signatures
  * and the flag saying whether they agree, with the oracle's semantics. */
class LakehouseCheckSpec extends SparkSpec {

  test("equalCheck gives 0, never null, when a rowset is empty; 1 when both agree") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, 250L), (2L, 100L)).toDF("o_orderkey", "cents")
    val empty = sig(rows.filter(lit(false)), "check", "empty")
    val full = sig(rows, "check", "full")
    def flags(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      equalCheck(a, b, "equal").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    // an empty rowset's sums are null: two empty rowsets have equal counts
    // and null sums, and the flag must still be the oracle's
    // CASE … THEN 1 ELSE 0, i.e. 0 — a plain cast of the comparison is null
    assert(flags(empty, sig(rows.filter(lit(false)), "check", "empty2")) ==
      Seq(("check", "equal", 0L, 0L, Some(0L))))
    assert(flags(empty, full) == Seq(("check", "equal", 0L, 0L, Some(0L))))
    assert(flags(full, sig(rows, "check", "again")) == Seq(("check", "equal", 0L, 0L, Some(1L))))
  }
}
