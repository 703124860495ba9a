package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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
  protected def jobCount(df: => org.apache.spark.sql.DataFrame): Int = jobsOf(df.collect()).size

  /** The start events of the Spark jobs `action` starts. */
  protected def jobsOf(action: => Unit): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(js)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      action
      // the listener bus delivers asynchronously; wait for the count to
      // settle (an undercount only ever makes the budget EASIER to meet)
      var prev = -1
      while (jobs.size != prev) { prev = jobs.size; Thread.sleep(200) }
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.asScala.toSeq
  }
}
