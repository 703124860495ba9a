package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan shape assertions — the 100 TB claims in PERF.md, codified
  * so a regression in pushdown, broadcast choice, partial aggregation, or
  * codegen coverage fails the suite instead of only showing up in a bench
  * drift.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("v17's pre-filter predicate reaches the stored index scan as a pushed filter") {
    // the filtered-ANN claim: the metadata predicate rides the cell-pruned
    // cell read as a parquet PushedFilter — a post-scan Filter would read
    // (and decode) every row of the probed cells. The gate's own output
    // plan hides the scan behind localCheckpoints, so the probe read is
    // rebuilt here over the index the gate writes.
    graft.queries.VectorQueries.v17FilteredAnn.fn(spark, sf).collect() // writes the index
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_v17_${Integer.toHexString(sf.hashCode)}"
    val spine = Seq.tabulate(8)(c => Seq.tabulate(64)(i => if (i / 8 == c) 2.0 else 0.0))
    val q = graft.tables.TestTables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"),
        graft.index.Search.ivfProbeCells(col("embedding"), spine, 2).as("probes"))
    val read = graft.index.Search.readPrunedProbes(spark, out, q, "probes", "cell")
      .filter(col("attr") === 1)
    val plan = formatted(read)
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(attr,1)"),
      s"attr = 1 must be pushed into the pruned index scan:\n${plan.take(1500)}")
  }

  test("p8 metadata filters reach the parquet scan as pushed filters") {
    val plan = formatted(graft.queries.TextQueries.p8Metadata.fn(spark, sf))
    assert(plan.contains("PushedFilters:") && plan.contains("In(lang,"),
      s"lang IN filter must be pushed to the scan:\n${plan.take(1200)}")
  }

  test("scans read only the projected columns") {
    val plan = formatted(graft.queries.Relational.s9Listing.fn(spark, sf))
    val read = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("doc_id") && !read.contains("text"),
      s"projection must prune the wide text column from the scan: $read")
  }

  test("dim joins broadcast: j3 plans a BroadcastHashJoin, no shuffle of the fact") {
    val plan = formatted(graft.queries.Relational.j3Broadcast.fn(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "orders dim must broadcast")
    assert(!plan.contains("SortMergeJoin"), "fact side must not shuffle for the dim join")
  }

  test("q1 aggregates partially before the exchange (map-side combine)") {
    val plan = formatted(graft.queries.Relational.q1Pricing.fn(spark, sf))
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0,
      "expected hash aggregate + exchange in the q1 plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "q1 must plan partial aggregation below the shuffle")
  }

  test("t1 top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = formatted(graft.queries.Relational.t1TopK.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n${plan.take(800)}")
  }

  test("the anti-join probe ships only the key column") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = graft.queries.Relational.u2UnionAnti.fn(spark, sf)
    df.collect() // finalize the adaptive plan
    def joins(p: SparkPlan): Seq[BaseJoinExec] = p match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case s: QueryStageExec => joins(s.plan)
      case j: BaseJoinExec => j +: j.children.flatMap(joins)
      case other => other.children.flatMap(joins)
    }
    val anti = joins(df.queryExecution.executedPlan)
      .filter(_.joinType.toString == "LeftAnti")
    assert(anti.nonEmpty, "u2 must plan an anti join")
    // the build side must carry ONLY the join key, not the wide row
    val buildOutput = anti.head.right.output.map(_.name)
    assert(buildOutput == Seq("l_orderkey"),
      s"anti-join build side must ship only the key, got $buildOutput")
  }

  test("native expressions keep their projections inside whole-stage codegen") {
    // codegen'd operators print as "*(id) Op" in the simple plan string.
    // (HOF-containing projections are interpreted in Spark 4 — that's the
    // documented PERF.md cost the native expressions below exist to avoid.)
    def codegenProject(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.linesIterator.exists(l =>
        l.contains("Project") && l.contains("*("))
    // (simHash/minhash projections still carry the HOF tokenize+md5 stage,
    // so their Project stays interpreted — the native part is the
    // per-element signature loop itself.)
    val dot = graft.tables.TestTables.embeddings(spark, sf)
      .select(graft.index.Embed.dot(col("embedding"), col("embedding")).as("d"))
    assert(codegenProject(dot), "array_dot must stay in codegen")
    val winnow = graft.tables.TestTables.documents(spark, sf)
      .select(graft.ops.TextAnalysis.winnowingFingerprints(lower(col("text")), 5, 4).as("fp"))
    assert(codegenProject(winnow), "winnow_hashes must stay in codegen")
    val nfc = graft.tables.TestTables.documents(spark, sf)
      .select(graft.ops.Cleaning.nfcNormalize(col("text")).as("n"))
    assert(codegenProject(nfc), "nfc_normalize must stay in codegen")
  }

  test("d6 decontamination joins the corpus map-side: broadcast semi, no shuffle join") {
    val plan = formatted(graft.queries.VectorQueries.d6Decontaminate.fn(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval grams must broadcast into a semi join:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"), "the corpus side must not shuffle for the semi join")
  }

  test("c1 curation pushes its filters to the scan and top-1-dedups map-side") {
    val plan = formatted(graft.queries.MiscQueries.c1Curation.fn(spark, sf))
    // several scans print (corpus, eval set, checkpointed frames) — assert
    // the corpus scan exists with a pruned schema, wherever it appears
    val reads = "ReadSchema:.*".r.findAllIn(plan).toSeq
    assert(reads.exists(r => r.contains("doc_id") && r.contains("lang") && !r.contains("n_chars")),
      s"curation must scan only the columns it uses: $reads")
    assert(plan.contains("WindowGroupLimit"),
      "exact dedup must plan the partial/final top-1-per-group optimization")
  }

  test("v5b scores from the stored codes table — the scan never touches embeddings") {
    val df = graft.queries.VectorQueries.v5bPqStored.fn(spark, sf)
    val plan = formatted(df)
    val codesScan = plan.linesIterator.filter(_.contains("graft_pq_codes")).mkString
    assert(codesScan.nonEmpty, s"expected a scan of the stored codes table:\n${plan.take(1200)}")
    val reads = "ReadSchema:.*".r.findAllIn(plan).toSeq
    assert(reads.exists(r => r.contains("codes") && !r.contains("embedding")),
      s"the scoring side must read codes only, got: $reads")
  }

  test("j7 as-of runs joinless: one union + one window, no join operator at all") {
    val plan = formatted(graft.queries.WindowQueries.j7Asof.fn(spark, sf))
    assert(!plan.contains("Join"),
      s"the as-of must be the union+window formulation, not a join:\n${plan.take(1200)}")
    assert(plan.contains("Window"), "expected the carrying window in the j7 plan")
  }

  test("r1 range join plans a hash/merge equi-join on the bucket, never a nested loop") {
    val plan = formatted(graft.queries.WindowQueries.r1Range.fn(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the bucket trick must turn the inequality join into an equi-join:\n${plan.take(1200)}")
    assert(plan.contains("Join"), "expected a join in the r1 plan")
  }

  test("v6 scores the IVF+PQ index from pruned cell directories, codes only") {
    val plan = formatted(graft.queries.VectorQueries.v6IvfPq.fn(spark, sf))
    val pf = "PartitionFilters:.*".r.findAllIn(plan).toSeq
    assert(pf.exists(_.contains("cell")), s"cell must prune at the file listing: $pf")
    val reads = "ReadSchema:.*".r.findAllIn(plan).toSeq
    assert(reads.exists(r => r.contains("codes") && !r.contains("embedding")),
      s"the index scan must read codes only, got: $reads")
  }

  test("c1b reads the stored curated corpus with a partition-level stratum prune") {
    val plan = formatted(graft.queries.MiscQueries.c1bCurationStored.fn(spark, sf))
    val pf = "PartitionFilters:.*".r.findAllIn(plan).toSeq
    assert(pf.exists(_.contains("stratum")),
      s"stratum filter must prune partitions at the file listing, got: $pf")
  }

  test("b1 BM25 broadcasts the one-row stats and takes top-k without a global sort") {
    val plan = formatted(graft.queries.TextQueries.b1Bm25.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"BM25 top-k must not globally sort:\n${plan.take(800)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the stats row must broadcast, never shuffle the corpus")
  }

  test("d9 k-means broadcasts the centroid table; the pair join is an equi-join on cell") {
    val plan = formatted(graft.queries.VectorQueries.d9SemDedup.fn(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the O(k·d) centroid table must broadcast against the scan")
    assert(!plan.contains("CartesianProduct"),
      "within-cluster pairing must block on the cell key, never cross-join the corpus")
  }

  test("m2 builds the image payload once: the decoder references an attribute, not 70 copies") {
    val plan = graft.queries.VectorQueries.m2ImageDims.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val copies = "unhex".r.findAllIn(plan).length
    assert(copies <= 6,
      s"payload synthesis must stay bounded (one binding, ≤6 unhex sites), found $copies " +
        "(the Column DSL re-embeds a non-attribute argument at every internal reference)")
  }

  test("dom1 domain stats aggregate partially before the exchange") {
    val plan = formatted(graft.queries.MiscQueries.dom1DomainStats.fn(spark, sf))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "domain stats must combine map-side — the domain key space is tiny next to doc count")
  }

  test("p14 URL canonicalization is map-only: no exchange except the output order") {
    val plan = formatted(graft.queries.TextQueries.p14Url.fn(spark, sf))
    // count operator headers ("(n) Exchange"), not every mention — the
    // formatted details section repeats each operator name
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges <= 1, // one rangepartitioning for the deterministic ORDER BY
      s"URL normalization must not shuffle (it is the KEY for a later dedup), found $exchanges:\n${plan.take(1200)}")
  }

  test("wds1 sample assembly is one pivot aggregate: no join operator anywhere") {
    val plan = formatted(graft.queries.VectorQueries.wds1WebDataset.fn(spark, sf))
    assert(!plan.contains("Join"),
      "WebDataset sample reassembly must be a conditional-pivot hash aggregate, not joins")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges <= 3, // (shard,key) aggregate + final order (+AQE variance)
      s"shard assembly shuffles more than the one (shard,key) aggregate: $exchanges")
  }

  test("m15 video frame explosion is map-only up to the output order") {
    val plan = formatted(graft.queries.VectorQueries.m15MjpegFrames.fn(spark, sf))
    assert(!plan.contains("Join"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges <= 1, s"per-frame decode must not shuffle, found $exchanges")
  }

  test("d10 span dedup collapses duplicate spans map-side via a hash aggregate, no sort") {
    val plan = formatted(graft.ops.TextAnalysis.spanDedup(
      graft.tables.TestTables.documents(spark, sf), col("doc_id"), col("text"), 8))
    assert(plan.contains("partial_min"),
      "the first-wins winner must be a partial min(struct) BEFORE the span exchange " +
        "(boilerplate spans shrink map-side)")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("RunningWindowFunction"),
      "winner selection must be the hash aggregate, not a sort-based window")
    assert(!plan.contains("SortMergeJoin"),
      "the only join (reassembly back to the doc table) must broadcast the aggregated side, " +
        "never sort-merge")
  }

  test("d6b bloom prefilter is a scan-side filter below a broadcast semi join") {
    val plan = formatted(graft.queries.VectorQueries.d6bDecontaminateBloom.fn(spark, sf))
    assert(plan.contains("might_contain"),
      "the bloom test must run as a filter expression, not a join")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "the exact verify must stay a broadcast semi join")
    assert(!plan.contains("SortMergeJoin"), "the corpus side must never shuffle")
  }

  test("ev1 retrieval metrics rank without any window operator") {
    val plan = formatted(graft.queries.MiscQueries.ev1Retrieval.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-10 ranking must be per-partition heaps, not a global sort")
    assert(!plan.contains("WindowExec") && !plan.contains("RunningWindowFunction"),
      "rank and DCG must come from joins/aggregates, not windows")
  }

  test("cdc1 chunking is map-only until the output ordering") {
    val plan = formatted(graft.queries.TextQueries.cdc1Chunks.fn(spark, sf))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges <= 1, // one rangepartitioning for the deterministic ORDER BY
      s"CDC must not shuffle (boundaries are per-document local), found $exchanges")
  }

  test("x30 blocklist tagging is map-only: the automaton pass adds no exchange") {
    val plan = formatted(graft.queries.TextQueries.x30Blocklist.fn(spark, sf))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(exchanges <= 1, // one rangepartitioning for the deterministic ORDER BY
      s"ac_counts must not shuffle (per-row automaton scan), found $exchanges")
    assert(plan.contains("ac_counts"), "the compiled automaton expression must be in the plan")
  }

  test("x29 LID inference broadcasts all K weight rows, never sort-merges the corpus") {
    val plan = formatted(graft.queries.MiscQueries.x29Lid.fn(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      "K one-vs-rest weight tables are (d+1)-row frames — they must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "weight attachment must be broadcast nested-loop, not a cartesian")
  }

  test("dom8 budget allocation never shuffles beyond the domain aggregate") {
    val plan = formatted(graft.queries.MiscQueries.dom8Budget.fn(spark, sf))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "every fixed-point round joins a broadcast scalar row against the k-row frame")
  }

  test("m8 builds the mp4 payload once: bounded unhex sites (the m2 lesson)") {
    val plan = graft.queries.VectorQueries.m8Mp4Meta.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val copies = "unhex".r.findAllIn(plan).length
    assert(copies <= 6,
      s"payload synthesis must stay bounded (one binding, ≤6 unhex sites), found $copies")
  }

  test("no catalog query plans an unpartitioned WindowExec") {
    // An empty partitionSpec moves the ENTIRE input to one partition — the
    // one plan shape that silently stops scaling (x13's old global rank
    // window was the last instance). Pinned across the whole catalog:
    // every window and window-group-limit must carry a partition key.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def offenders(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => Seq(w.nodeName)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => offenders(a.executedPlan)
        case s: QueryStageExec => offenders(s.plan)
        case other => other.children.flatMap(offenders)
      }
      here ++ kids
    }
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val hits = offenders(fn(spark, sf).queryExecution.executedPlan)
      if (hits.isEmpty) Nil else Seq(s"$name: ${hits.mkString(", ")}")
    }
    assert(bad.isEmpty,
      s"global (unpartitioned) window plans found — these serialize at scale:\n${bad.mkString("\n")}")
  }

  test("st6 stream-stream batch form joins on (key, bucket), never a nested loop") {
    val plan = formatted(graft.queries.StreamingQueries.st6StreamJoin.fn(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"recentPairs must bucket the interval predicate into an equi-join:\n${plan.take(1200)}")
  }

  test("x15 backoff LM trains via hash aggregates and joins without windows") {
    val plan = formatted(graft.queries.TextQueries.x15Backoff.fn(spark, sf))
    assert(!plan.contains("Window"),
      "count-table training and scoring must not plan any window")
    // the only nested-loop is the deliberate 1-row broadcast stats frame
    // (the x8/x9 shape); a CartesianProduct would mean a real cross join
    assert(!plan.contains("CartesianProduct"),
      "every model join must stay an equi-join (or the 1-row stats broadcast)")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      "count-table joins must plan as hash/merge equi-joins")
  }

  test("hn1 hard negatives block on the cell equi-join, never a cross join") {
    val plan = formatted(graft.queries.VectorQueries.hn1HardNeg.fn(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the wrong-label pair join must be an equi-join on the IVF cell")
    assert(plan.contains("WindowGroupLimit"),
      "the per-anchor top-k must prune via rank pushdown, not sort whole anchors")
  }

  test("g1 triangle wedges close with equi-joins only — no nested loop anywhere") {
    // the whole point of degree-ordered orientation: wedge generation and
    // the closing probe are hash/merge equi-joins; a nested loop here
    // means the orientation keys fell out of the join condition
    val plan = formatted(graft.queries.MiscQueries.g1Triangles.fn(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must stay equi:\n${plan.take(1200)}")
  }

  test("v11 maxsim takes top-k without a global sort; token embed join stays equi") {
    val plan = formatted(graft.queries.VectorQueries.v11MaxSim.fn(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"late-interaction top-k must not globally sort:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"),
      "only the one-row query-vector frame may broadcast; nothing cross-joins")
  }

  test("x31 skeleton dedup aggregates partially before the exchange") {
    val plan = formatted(graft.queries.TextQueries.x31Confusable.fn(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the shifted-key spoof join and the group join must be equi-joins")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "the skeleton-group stats must combine map-side")
  }

  test("sk3 KMV windows are key-partitioned and the estimate is one aggregate") {
    val plan = formatted(graft.queries.TextQueries.sk3KmvDistinct.fn(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "sketch/merge/estimate compose from scans, windows and equi-joins only")
  }

  test("w11 funnel and w13 bars are window-FREE: min/max-struct aggregates only") {
    // the scale claim both queries make: step matching / open-close picks
    // happen in reduction-order-free aggregates, never a WindowExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def hasWindow(p: SparkPlan): Boolean = p match {
      case _: WindowExec => true
      case a: AdaptiveSparkPlanExec => hasWindow(a.executedPlan)
      case s: QueryStageExec => hasWindow(s.plan)
      case other => other.children.exists(hasWindow)
    }
    for (q <- Seq(graft.queries.WindowQueries.w11Funnel, graft.queries.WindowQueries.w13Ohlc)) {
      val plan = q.fn(spark, sf).queryExecution.executedPlan
      assert(!hasWindow(plan), s"${q.name} must not plan a WindowExec")
      val f = formatted(q.fn(spark, sf))
      assert(!f.contains("CartesianProduct") && !f.contains("BroadcastNestedLoopJoin"))
      assert(f.contains("partial"), s"${q.name} aggregates must combine map-side")
    }
  }

  /** Every node of an executed plan, through adaptive query stages. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other.children.flatMap(planNodes)
  })

  /** One question: ask → resolveShowTableTags → sources over the documents,
    * each answer tagged with its language's table in `dim`. */
  private def question(dim: DataFrame): DataFrame = {
    import graft.query.Ask
    val hits = Ask.ask(graft.tables.TestTables.documents(spark, sf), "doc_id", "text", "spark join stream")
    val answers = hits.select(col("doc_id"), col("text"), col("score"),
      concat(lit("see [SHOW_TABLE:CAT="), col("lang"), lit("]")).as("answer"))
    Ask.sources(Ask.resolveShowTableTags(answers, "doc_id", "answer", dim, "cat", "html"),
      "doc_id", "answer")
  }

  test("a question scans the corpus once, with no window and no tokenizing below the fetch") {
    // ask → resolveShowTableTags → sources: the answers subtree must not
    // appear twice (a second retrieval), the dimension's first match must
    // not need a window shuffle, and the keyword overlap (array_intersect)
    // must run on the fetched rows, not on every corpus row
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val out = question(Seq(("en", "<table>en</table>"), ("de", "<table>de</table>")).toDF("cat", "html"))
    assert(out.collect().nonEmpty)
    val plan = planNodes(out.queryExecution.executedPlan)
    val scans = plan.count(_.isInstanceOf[FileSourceScanExec])
    assert(scans == 1, s"the corpus must be scanned once per question, found $scans scans")
    assert(!plan.exists(_.isInstanceOf[WindowExec]), "tag resolution must not plan a window")
    val tops = plan.collect { case t: TakeOrderedAndProjectExec => t }
    val fetch = tops.filter(t => !t.children.flatMap(planNodes).exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    assert(fetch.nonEmpty, "the fetch must plan as TakeOrderedAndProject")
    for (t <- fetch; n <- t.children.flatMap(planNodes))
      assert(!n.expressions.exists(_.find(_.isInstanceOf[ArrayIntersect]).isDefined),
        s"keyword overlap must run after the fetch cut, found below it in ${n.nodeName}")
  }

  test("a question runs one Spark job: the dimension folds inside the answers' task") {
    // over parquet, with a dimension stored as several files: the fold
    // must neither shuffle (a partial aggregate's map stage is a job) nor
    // broadcast (another job)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import spark.implicits._
    val dimPath = s"${System.getProperty("java.io.tmpdir")}/graft_plan_spec_ask_dim"
    Seq(("en", "<table>en</table>"), ("de", "<table>de</table>"), ("fr", "<table>fr</table>"))
      .toDF("cat", "html").repartition(2).write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    assert(dim.inputFiles.length >= 2, "the dimension must span several files")
    val out = question(dim)
    val jobs = jobCount(out)
    assert(jobs == 1, s"a question must run one Spark job, ran $jobs")
    val exchanges = planNodes(out.queryExecution.executedPlan)
      .filter(p => p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike])
    assert(exchanges.isEmpty, s"a question must plan no exchange, found ${exchanges.map(_.nodeName)}")
  }

  test("container-source queries stay map-only up to the output sort") {
    // the 100 TB claim the round-8 source wave makes: one row-wise
    // decode stage per payload, no shuffle except the final ORDER BY's
    // range exchange (plus, for the shard-assembly queries, exactly one
    // aggregate exchange) — a decoder that snuck in a join or a window
    // would show up as extra exchanges here
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(p: SparkPlan): Int =
      (p match { case _: ShuffleExchangeLike => 1; case _ => 0 }) +
        p.children.map(shuffles).sum
    import graft.queries.VectorQueries._
    for ((q, maxEx) <- Seq(avro1Records -> 1, arrow1Records -> 1, m20Compressed -> 1,
        cpio1Rpm -> 1, sniff1Router -> 1,          // map-only + output sort
        sz1SevenZip -> 3, sz2StackExchange -> 3,   // + shard collect_list agg (partial+final)
        deb1Package -> 1)) {
      // sparkPlan (pre-AQE) so exchange counting is stable
      val n = shuffles(q.fn(spark, sf).queryExecution.sparkPlan)
      assert(n <= maxEx, s"${q.name}: $n exchanges (max $maxEx) — a decode stage grew a shuffle")
    }
  }
}

/** Round-15 job-count budgets for the lifecycle gates: these queries'
  * cost is job-count × per-job scheduling floor on log-sized frames (the
  * data term is negligible at every SF — PERF.md Round 15), so the
  * regression that matters is a STRUCTURAL job blow-up: a per-wave state
  * fold sneaking back (measured +15 s on dl38 before the checkpoint-
  * cadence rewrite), an unmaterialized data-sized txn evaluated twice
  * per OCC attempt (~3x), a per-epoch incremental change feed replacing
  * the one-pass grid (~3x). Budgets are measured job counts (local[32],
  * sf0.001: dl38 256, dl39 43, dl40 164, dl41 30, v18 66, v19 47) with
  * ~1.5x headroom — generous to config drift, far below any of the
  * regression shapes above. */
class Round15PlanSpec extends SparkSpec {

  test("lifecycle gates stay inside their job-count budgets") {
    val budgets = Seq(
      // dl38 tightened 380 → 280 in r16: the dead state fold + the
      // per-epoch transform-stats grid cut the measured count 269 → 200.
      // Measured again at 203 and 204 jobs on local[4] (4 cores, sf0.001,
      // 4 shuffle partitions); a count that grows with cores points at
      // parallelism-dependent jobs, not at a budget to widen
      ("dl38_log_to_log", 280), ("dl39_bloom_skipping", 70),
      ("dl40_row_conflict", 250), ("dl41_cluster_incremental", 50),
      ("v18_residual_pq", 100), ("v19_streaming_index", 75))
    val catalog = (graft.queries.LakehouseQueries.all ++ graft.queries.VectorQueries.all)
      .map(q => q.name -> q).toMap
    for ((name, budget) <- budgets) {
      val n = jobCount(catalog(name).fn(spark, sf))
      assert(n <= budget,
        s"$name ran $n Spark jobs (budget $budget) — a structural job blow-up " +
          "(per-wave fold? twice-evaluated txn? incremental feed instead of the grid?)")
    }
  }
}

/** Round-9 family plan pins: ER blocking joins, lakehouse replay,
  * time-series windows. */
class Round9PlanSpec extends SparkSpec {
  import org.apache.spark.sql.execution.ExplainMode
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private val sf001 = "/root/testdata/sf0.001"

  test("er1 symspell join is a hash equi-join on the variant — never a cross product") {
    val plan = formatted(graft.queries.EntityQueries.er1Symspell.fn(spark, sf001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "deletion-neighborhood blocking must plan an equi-join")
  }

  test("er2 linkage scores only blocked candidates via an equi-join on the prefix") {
    val plan = formatted(graft.queries.EntityQueries.er2Linkage.fn(spark, sf001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "prefix blocking must plan an equi-join, not score the cross product")
    assert(plan.contains("jaro_winkler_sim") || plan.contains("JaroWinkler"),
      "scoring runs the native expression")
  }

  test("dl1 snapshot replay is one window over the parsed log — no join") {
    val plan = formatted(graft.queries.LakehouseQueries.dl1Snapshot.fn(spark, sf001))
    assert(!plan.contains("Join"), "last-wins replay is a window, not a join")
    assert(plan.contains("Window"))
  }

  test("ts3 anomaly is a single window pass: no join, one key shuffle + output order") {
    val df = graft.queries.TimeSeriesQueries.ts3Anomaly.fn(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "rolling baseline must not self-join")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"one key shuffle + output order expected, got $exchanges")
    val windows = plan.linesIterator.count(_.trim.startsWith("+- Window"))
    assert(windows == 1, s"the three frame aggregates must share one Window node, got $windows")
  }

  test("gov3 ladder is one fan-out aggregate: no re-scan per level") {
    val df = graft.queries.GovernanceQueries.gov3Ladder.fn(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    // the fan-out aggregate materializes once (eager localCheckpoint —
    // the scan ran exactly once before this plan); both consumers read
    // the 6-row materialized ladder, and customer is never re-scanned
    val scans = plan.linesIterator.count(_.contains("FileScan"))
    assert(scans == 0, s"ladder must not re-scan customer downstream, got $scans scans")
    assert(plan.contains("Scan ExistingRDD"), "consumers read the materialized ladder")
  }
}
