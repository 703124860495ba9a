package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  test("the probe files jobs, tasks and unpartitioned windows into the operation that ran them") {
    val spark = SparkSession.builder().master("local[2]").appName("ProbeSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val t = new Tracer(spark, traced = true)
      val df = (1 to 100).toDF("x")
      val (rows, op) = t.op("windows") {
        t.span("test", "collect") {
          df.withColumn("r", row_number().over(Window.orderBy("x")))
            .withColumn("s", row_number().over(Window.partitionBy($"x" % 3).orderBy("x")))
            .collect()
        }
      }
      t.close()
      assert(rows.length == 100)
      val c = op.counters.get
      assert(c.unpartitionedWindows == 1, "only the window without a partition spec counts")
      assert(c.jobs >= 1 && c.stages >= 1 && c.tasks >= 1 && c.jobSpans.nonEmpty)
      assert(op.coverage > 0.9)
      assert(t.spans.map(s => (s.layer, s.name)) == Seq(("bench", "windows"), ("test", "collect")))
      assert(t.spans(1).parent == 0)
    } finally spark.stop()
  }
}
