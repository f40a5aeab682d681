package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Drives the crawl workload: set-up, then the timed closed loop of
  * complete crawls (--trace 0), or the traced run with round spans and
  * layer replay (--trace 1). Every crawl is checked against the sequential
  * oracle.
  */
object CrawlBenchmark {
  private val SetupReps = 3

  /** the per-layer metrics of a traced crawl, with their units */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "CrawlLoop.round_fixed_s" -> "s", "CrawlLoop.us_per_url" -> "us",
    "CrawlLoop.driver_idle_s" -> "s", "CrawlLoop.jobs_per_round" -> "count",
    "CrawlLoop.tasks_per_round" -> "count", "CrawlLoop.task_busy_ratio" -> "ratio",
    "CrawlLoop.gc_s" -> "s", "CrawlLoop.shuffle_mb" -> "MB", "CrawlLoop.spill_mb" -> "MB",
    "CrawlLoop.tasks" -> "count",
    "SnapshotStore.write_s" -> "s", "SnapshotStore.commit_s" -> "s",
    "SnapshotStore.compact_s" -> "s", "SnapshotStore.mb_per_round" -> "MB",
    "SnapshotStore.files_per_round" -> "count",
    "CrawlRound.seen_parts" -> "count", "CrawlRound.fetchJoin_s" -> "s",
    "CrawlRound.fetch_hit_ratio" -> "ratio", "CrawlRound.store_rows_per_hit" -> "ratio",
    "CrawlRound.seenAntiJoin_s" -> "s", "CrawlRound.fresh_ratio" -> "ratio",
    "BloomShards.update_s" -> "s", "BloomShards.filter_mb" -> "MB",
    "BloomShards.probe_s" -> "s", "BloomShards.maybe_seen_ratio" -> "ratio",
    "BloomShards.false_positive_ratio" -> "ratio",
    "Politeness.partition_s" -> "s", "Politeness.deferred_ratio" -> "ratio",
    "Robots.partition_s" -> "s", "Robots.dropped_ratio" -> "ratio",
    "Runners.pages_per_s" -> "1/s", "Extract.pages_per_s" -> "1/s",
    "Policy.links_per_s" -> "1/s")

  def run(spark: SparkSession, spec: CrawlSpec, a: Main.Args, work: String,
          counters: Counters, sparkReadyS: Double): Outcome = {
    val w = new CrawlWorkload(spark, spec, work, counters)
    val writeS = w.writeStore()
    val attachS = Seq.fill(SetupReps)(w.attachStore())
    // No untimed warm-up crawl before the timed one: it costs a cold round
    // (25-34 s on 4 cores) per run, which the run budget cannot afford, so
    // the timed crawl is the first crawl in its JVM.
    val setupS = sparkReadyS + writeS + Stats.median(attachS)
    val t1 = System.nanoTime()
    val out = if (a.trace) traced(w, counters) else timed(w, a.seconds, counters, setupS)
    out.copy(info = out.info ++ Seq(
      "workload" -> Stats.str(spec.name),
      "spark_ready_s" -> Stats.num(sparkReadyS),
      "store_write_s" -> Stats.num(writeS),
      "store_attach_s" -> attachS.map(Stats.num).mkString("[", ",", "]"),
      "measure_and_check_s" -> Stats.num((System.nanoTime() - t1) / 1e9)))
  }

  private def timed(w: CrawlWorkload, seconds: Int, counters: Counters, setupS: Double): Outcome = {
    counters.resetHeapPeak()
    val t0 = System.nanoTime()
    var runs = Vector.empty[CrawlRun]
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      runs :+= w.crawl(s"t${runs.size}")
    val measuredS = (System.nanoTime() - t0) / 1e9
    val heapMb = counters.heapPeakMb()
    val bad = runs.map(w.mismatches)
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("wall_s", Stats.median(runs.map(_.wallS)), "s"),
      Metric("items_per_s", Stats.median(runs.map(_.urlsPerS)), "1/s"),
      Metric("op_s_p50", Stats.median(runs.flatMap(_.roundWallS)), "s"),
      Metric("live_heap_peak_mb", heapMb, "MB"))
    Outcome(correct = bad.forall(_.isEmpty),
      attempted = runs.map(_.rounds.toLong).sum,
      failed = runs.zip(bad).collect { case (r, b) if b.nonEmpty => r.rounds.toLong }.sum,
      metrics = metrics,
      info = Seq(
        "crawls" -> runs.map(w.summary).mkString("[", ",", "]"),
        "measure_s" -> Stats.num(measuredS),
        "mismatches" -> bad.map(_.map(Stats.str).mkString("[", ",", "]")).mkString("[", ",", "]")))
  }

  private def traced(w: CrawlWorkload, counters: Counters): Outcome = {
    // an untimed 1-round crawl first, so the round walls the fit reads are
    // not dominated by the JVM's class loading, JIT and code generation
    val w0 = System.nanoTime()
    w.crawl("warmup", rounds = 1)
    val warmS = (System.nanoTime() - w0) / 1e9
    // the crawl stepped one round at a time through resume; it must equal
    // the oracle, as every uninterrupted crawl must (resume ≡ uninterrupted)
    val t0 = System.nanoTime()
    val (store, spans, stepped, resumeS) = w.steppedCrawl("stepped")
    val t1 = System.nanoTime()
    val (layers, replayBad) = try w.replay(store, spans.length) finally store.clear()
    val t2 = System.nanoTime()
    val bad = w.mismatches(stepped) ++ replayBad.map("replay " + _)
    val c0 = System.nanoTime()
    val per = spans.map(counters.counts)
    val countS = (System.nanoTime() - c0) / 1e9
    // committed round walls: a step's span also holds the resume prelude
    // and, for round 0, the seed commit
    val (fixedS, sPerUrl) = Stats.linearFit(stepped.roundWork, stepped.roundWallS)
    val l = layers.withDefaultValue(0.0)
    def ratio(n: String, d: String): Double = if (l(d) == 0) 0.0 else l(n) / l(d)
    val rounds = spans.length.toDouble
    val values = Map(
      "CrawlLoop.round_fixed_s" -> fixedS,
      "CrawlLoop.us_per_url" -> sPerUrl * 1e6,
      "CrawlLoop.driver_idle_s" -> Stats.median(per.map(_.idleS)),
      "CrawlLoop.jobs_per_round" -> Stats.median(per.map(_.jobs.toDouble)),
      "CrawlLoop.tasks_per_round" -> Stats.median(per.map(_.tasks.toDouble)),
      "CrawlLoop.task_busy_ratio" -> per.map(_.taskRunS).sum / (spans.map(_.wallS).sum * Main.Cores),
      "CrawlLoop.gc_s" -> stepped.gcS,
      "CrawlLoop.shuffle_mb" -> stepped.counts.shuffleMb,
      "CrawlLoop.spill_mb" -> stepped.counts.spillMb,
      "CrawlLoop.tasks" -> stepped.counts.tasks.toDouble,
      "SnapshotStore.write_s" -> l("write_s"),
      "SnapshotStore.commit_s" -> l("commit_s"),
      "SnapshotStore.compact_s" -> ratio("compact_s", "compactions"),
      "SnapshotStore.mb_per_round" -> l("store_mb") / rounds,
      "SnapshotStore.files_per_round" -> l("store_files") / rounds,
      "CrawlRound.seen_parts" -> l("seen_dirs") / rounds,
      "CrawlRound.fetchJoin_s" -> l("fetch_s"),
      "CrawlRound.fetch_hit_ratio" -> ratio("hits", "admitted"),
      "CrawlRound.store_rows_per_hit" -> ratio("store_rows", "hits"),
      "CrawlRound.seenAntiJoin_s" -> l("anti_s"),
      "CrawlRound.fresh_ratio" -> ratio("fresh", "winnowed"),
      "BloomShards.update_s" -> l("bloom_update_s"),
      "BloomShards.filter_mb" -> l("filter_mb"),
      "BloomShards.probe_s" -> l("probe_s"),
      "BloomShards.maybe_seen_ratio" -> ratio("maybe_seen", "winnowed"),
      "BloomShards.false_positive_ratio" -> ratio("fp_maybe", "fp_base"),
      "Politeness.partition_s" -> l("politeness_s"),
      "Politeness.deferred_ratio" -> ratio("deferred", "politeness_in"),
      "Robots.partition_s" -> l("robots_s"),
      "Robots.dropped_ratio" -> ratio("robots_dropped", "frontier"),
      "Runners.pages_per_s" -> ratio("runner_pages", "runner_s"),
      "Extract.pages_per_s" -> ratio("hits", "extract_s"),
      "Policy.links_per_s" -> ratio("links", "policy_s"))
    val metrics = LayerMetrics.map { case (n, u) => Metric(n, values(n), u) } ++ Seq(
      Metric("trace.wall_s", stepped.wallS, "s"),
      // what tracing adds over an uninterrupted crawl: a resume per step
      // after the first, and draining the listener bus to count each span
      Metric("trace.overhead_s", (rounds - 1) * resumeS + countS, "s"))
    val ops = stepped.rounds.toLong
    Outcome(correct = bad.isEmpty, attempted = ops, failed = if (bad.isEmpty) 0L else ops,
      metrics = metrics,
      info = Seq(
        "crawls" -> s"[${w.summary(stepped)}]",
        "resume_s" -> Stats.num(resumeS),
        "warmup_crawl_s" -> Stats.num(warmS),
        "phase_s" -> Seq("stepped" -> (t1 - t0), "replay" -> (t2 - t1))
          .map { case (k, d) => s"${Stats.str(k)}:${Stats.num(d / 1e9)}" }.mkString("{", ",", "}"),
        "mismatches" -> bad.map(Stats.str).mkString("[", ",", "]"),
        "round_wall_s" -> spans.map(s => Stats.num(s.wallS)).mkString("[", ",", "]"),
        "round_jobs" -> per.map(_.jobs).mkString("[", ",", "]"),
        "round_tasks" -> per.map(_.tasks).mkString("[", ",", "]"),
        "round_idle_s" -> per.map(c => Stats.num(c.idleS)).mkString("[", ",", "]")))
  }
}
