package perfbench

/** Per-layer metrics of a traced run. Spark-level metrics are means per
  * unit (an ingest pass, a question, a churn round) over the units whose
  * operations all succeeded; module spans are medians per operation. */
object Layers {

  /** The per-layer metrics every workload reports in its result object
    * (the `per_layer` list of BENCHMARK.json). The rest go to the run record
    * and the metric lines, as some are zero or absent on some workloads. */
  val Reported: Seq[String] = Seq(
    "spark.driver.optimization_ms", "spark.driver.planning_ms",
    "spark.driver.gap_ms", "spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
    "spark.sched.delay_ms", "spark.exec.run_ms", "spark.exec.cpu_ms", "spark.exec.gc_ms", "spark.exec.busy_frac",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.io.input_bytes",
    "spark.io.files_read", "jvm.heap_peak_mb", "bench.trace_overhead_frac",
    "bench.span_coverage_min")

  def apply(w: Workload, t: Tracer, cores: Int, plainUnits: Seq[Double]): Seq[Metric] = {
    val units = t.ops.toSeq.filter(o => w.unitKinds(o.kind)).groupBy(_.group).values.toSeq
      .filter(_.forall(_.ok))
    val n = units.size
    def perUnit(name: String, unit: String)(f: Counters => Double): Metric =
      Metric(name, units.map(_.flatMap(_.counters).map(f).sum).sum / math.max(1, n), unit, n)
    val wallMs = units.map(_.map(_.ms).sum)
    val spark = Seq(
      perUnit("spark.driver.analysis_ms", "ms")(_.analysisMs.toDouble),
      perUnit("spark.driver.optimization_ms", "ms")(_.optimizationMs.toDouble),
      perUnit("spark.driver.planning_ms", "ms")(_.planningMs.toDouble),
      Metric("spark.driver.gap_ms", units.map(_.map(_.gapMs).sum).sum / math.max(1, n), "ms", n),
      perUnit("spark.sched.jobs", "count")(_.jobs.toDouble),
      perUnit("spark.sched.stages", "count")(_.stages.toDouble),
      perUnit("spark.sched.tasks", "count")(_.tasks.toDouble),
      perUnit("spark.sched.delay_ms", "ms")(_.delayMs.toDouble),
      perUnit("spark.exec.run_ms", "ms")(_.runMs.toDouble),
      perUnit("spark.exec.cpu_ms", "ms")(_.cpuNs / 1e6),
      perUnit("spark.exec.gc_ms", "ms")(_.gcMs.toDouble),
      Metric("spark.exec.busy_frac",
        units.flatMap(_.flatMap(_.counters)).map(_.runMs).sum / math.max(1.0, wallMs.sum * cores), "frac", n),
      perUnit("spark.shuffle.write_bytes", "bytes")(_.shuffleWriteBytes.toDouble),
      perUnit("spark.shuffle.read_bytes", "bytes")(_.shuffleReadBytes.toDouble),
      perUnit("spark.shuffle.fetch_wait_ms", "ms")(_.fetchWaitMs.toDouble),
      perUnit("spark.spill.disk_bytes", "bytes")(_.spillDiskBytes.toDouble),
      perUnit("spark.io.input_bytes", "bytes")(_.inputBytes.toDouble),
      perUnit("spark.io.files_read", "count")(_.filesRead.toDouble),
      perUnit("spark.io.output_bytes", "bytes")(_.outputBytes.toDouble),
      perUnit("spark.plan.unpartitioned_windows", "count")(_.unpartitionedWindows.toDouble),
      Metric("jvm.heap_peak_mb", t.heapPeakMb, "MB", t.ops.size),
      Metric("bench.trace_overhead_frac",
        if (wallMs.isEmpty || plainUnits.isEmpty) Double.NaN
        else Stats.median(wallMs) / Stats.median(plainUnits) - 1, "frac", n),
      Metric("bench.span_coverage_min",
        if (t.ops.isEmpty) Double.NaN else t.ops.map(_.coverage).min, "frac", t.ops.size))

    val named = t.spans.indices.filter(i => t.spans(i).layer != "bench")
      .groupBy(i => s"${t.spans(i).layer}.${t.spans(i).name}").toSeq.sortBy(_._1)
      .flatMap { case (name, idx) =>
        val byOp = idx.groupBy(i => t.spans(i).opId).values.toSeq
        Seq(Metric(s"${name}_ms", Stats.median(byOp.map(_.map(i => t.spans(i).ms).sum)), "ms", byOp.size),
          Metric(s"${name}_self_ms", Stats.median(byOp.map(_.map(t.selfMs).sum)), "ms", byOp.size))
      }
    val counts = w.layerCounts.toSeq.map { case (name, (unit, xs)) =>
      Metric(name, Stats.median(xs.toSeq), unit, xs.size)
    }
    spark ++ named ++ counts
  }
}
