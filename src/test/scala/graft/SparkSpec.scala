package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Spark jobs started while `df` is built and collected. */
  protected def jobCount(df: => org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      df.collect()
      // the listener bus delivers asynchronously; wait for the count to
      // settle (an undercount only ever makes the budget EASIER to meet)
      var prev = -1
      while (counter.get != prev) { prev = counter.get; Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(l)
    counter.get
  }
}
