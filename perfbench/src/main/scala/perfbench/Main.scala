package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics. Arguments (all required):
  *
  *   --workload ask_serve|index_churn  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --record FILE  --commit SHA  --source DIGEST
  *
  * Untraced (`--trace 0`), the run measures the end-to-end metrics. Traced,
  * it first measures an untraced window, then a traced one, and reports the
  * per-layer metrics and the tracing overhead between the two windows.
  * Every run writes its metrics and operations (and, traced, its spans) to
  * `--record`. The last line of standard output is
  * the result object; the exit code is 1 if any output check failed. */
object Main {
  val SetupRepeats = 3

  private val started = System.nanoTime()

  /** Prints how long the run has taken so far, so a slow phase shows. */
  private def phase(name: String): Unit =
    println(f"phase $name%-10s ${(System.nanoTime() - started) / 1e9}%8.2f s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    // Two task threads, not one per core: on a shared 4-core host local[4]
    // left every task wave waiting on its slowest core, and index_churn's
    // round median varied by 25% between runs (4% on local[2]); the driver,
    // JIT and GC threads keep the other cores.
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // formatted explain strings are computed for every execution event
      // otherwise, and nothing here reads them
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    phase("session")
    // the result object stays the last line of standard output
    val ok = try run(spark, opt, cores, work) finally {
      spark.stop()
      deleteTree(work)
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def run(spark: SparkSession, opt: Map[String, String], cores: Int, work: Path): Boolean = {
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val w = Workloads(name, spark, seed)

    // a set-up whose own check fails counts as a failed operation
    val setups = (1 to SetupRepeats).map { _ =>
      val before = w.setupFailures.size
      val t0 = System.nanoTime()
      val sizes = w.setup(work.resolve("data").toString)
      ((System.nanoTime() - t0) / 1e9, sizes, w.setupFailures.size == before)
    }
    val provenance = Seq(
      "workload" -> name, "seed" -> seed, "traced" -> traced, "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors, "local_n" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" "),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "git_commit" -> opt("commit"), "source_digest" -> opt("source"),
      "input_digest" -> w.digest, "input_sizes" -> setups.last._2.toMap)
    println(s"perfbench $name seed=$seed traced=${if (traced) 1 else 0}")
    println("provenance " + Json(provenance.toMap))
    phase("setup")

    val warm = new Tracer(spark, traced = false)
    val plain = new Tracer(spark, traced = false)
    val warmFailures = w.run(warm, 0, warmup = true)
    phase("warmup")
    val plainFailures = warmFailures ++ w.run(plain, seconds, warmup = false)
    phase("measured")
    val (tracer, failures) =
      if (!traced) (plain, plainFailures)
      else {
        val t = new Tracer(spark, traced = true)
        try (t, plainFailures ++ w.run(t, seconds, warmup = false)) finally { t.close(); phase("traced") }
      }
    val ops = warm.ops.toSeq ++ plain.ops.toSeq ++ (if (traced) tracer.ops.toSeq else Nil)
    val attempted = setups.size + ops.size
    val failed = setups.count(!_._3) + ops.count(!_.ok)
    (w.setupFailures ++ failures).foreach(f => println(s"FAILED $f"))

    val setupOk = setups.filter(_._3).map(_._1)
    val setup = Metric("setup_s", if (setupOk.isEmpty) Double.NaN else Stats.median(setupOk), "s", setupOk.size)
    val units = unitTimes(w, plain.ops.toSeq)
    val e2e = Seq(setup,
      Metric("op_p50_ms", if (units.isEmpty) Double.NaN else Stats.median(units), "ms", units.size))
    val named = w.metrics(plain.ops.toSeq) :+
      Metric("failed_frac", failed.toDouble / attempted, "frac", attempted)
    (Seq(setup) ++ named).foreach(show)
    if (units.nonEmpty) println("units ms " + Seq(0.0, 25, 50, 75, 100)
      .map(p => f"p${p.toInt}=${Stats.percentile(units, p)}%.1f").mkString(" ") + s" n=${units.size}")
    val layers = if (traced) Layers(w, tracer, cores, units) else Nil
    layers.foreach(show)
    def opsJson(window: String, t: Tracer) = t.ops.map(o => Map("window" -> window, "id" -> o.id,
      "kind" -> o.kind, "group" -> o.group, "ms" -> o.ms, "ok" -> o.ok, "gap_ms" -> o.gapMs,
      "coverage" -> o.coverage))
    Files.write(Paths.get(opt("record")), Json(Map(
      "provenance" -> provenance.toMap,
      "metrics" -> (e2e ++ named ++ layers).map(m => m.name -> metricJson(m)).toMap,
      "ops" -> (opsJson("warmup", warm) ++ opsJson("measured", plain) ++
        (if (traced) opsJson("traced", tracer) else Nil)),
      "spans" -> tracer.spans.map(s => Map("op_id" -> s.opId, "layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent)))).getBytes(UTF_8))
    println(s"record written to ${opt("record")}")
    val reported = if (traced) layers.filter(m => Layers.Reported.contains(m.name)) else e2e
    val correct = failed == 0 && reported.forall(m => !m.value.isNaN && !m.value.isInfinite)
    println(Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> reported.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    correct
  }

  /** Wall time of each unit whose operations all succeeded. */
  def unitTimes(w: Workload, ops: Seq[Op]): Seq[Double] =
    ops.filter(o => w.unitKinds(o.kind)).groupBy(_.group).toSeq.sortBy(_._1)
      .collect { case (_, os) if os.forall(_.ok) => os.map(_.ms).sum }

  private def metricJson(m: Metric) = Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n)

  private def show(m: Metric): Unit =
    println(f"metric ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

/** Minimal JSON rendering for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
