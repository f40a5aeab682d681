package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Crawl-throughput benchmark (BASELINE.md): runs the full frontier loop
  * over a distributed-generated synthetic page store and reports
  * URLs-fetched+deduped/sec. The north rule's two-cluster-size scaling
  * criterion is evidenced by running THIS SAME job at two parallelism
  * levels (SPARK_GRAFT_CPUS=8 vs 32) on the same parquet input — no real
  * cluster exists in the sandbox (SURVEY.md §6).
  *
  * Usage: runMain graft.CrawlBench [nHosts] [maxPagesPerHost] [linksPerPage] [maxRounds] [budget]
  * Emits one JSON line: {"bench":"crawl","cpus":N,"pages":P,"fetched":F,
  * "discovered":D,"wall_sec":W,"throughput":(F+D)/W,...}
  */
object CrawlBench {

  /** job+stage wall/cpu/gc profile, enabled via GRAFT_PROFILE=1 */
  final class StageProfiler extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    final case class S(runMs: Long, cpuMs: Long, gcMs: Long, tasks: Int,
        shufRead: Long, shufWrite: Long, site: String)
    val stages = scala.collection.mutable.ArrayBuffer[S]()
    val jobStart = scala.collection.mutable.HashMap[Int, (Long, String)]()
    val jobs = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      val site = e.stageInfo.details.linesIterator
        .find(l => l.contains("graft.") || l.contains("SnapshotStore"))
        .getOrElse(e.stageInfo.details.linesIterator.take(2).mkString("|")).trim.take(80)
      stages += S(m.executorRunTime, m.executorCpuTime / 1000000,
        m.jvmGCTime, e.stageInfo.numTasks,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten, site)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties.getProperty("callSite.short")).getOrElse("?")
      jobStart(e.jobId) = (System.nanoTime(), site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t0, site) =>
        jobs += ((site, (System.nanoTime() - t0) / 1000000))
      }
    def report(): Unit = {
      println(f"== totals: run=${stages.map(_.runMs).sum}%d ms cpu=${stages.map(_.cpuMs).sum}%d ms " +
        f"gc=${stages.map(_.gcMs).sum}%d ms tasks=${stages.map(_.tasks).sum}%d " +
        f"shufRead=${stages.map(_.shufRead).sum / 1048576}%d MB shufWrite=${stages.map(_.shufWrite).sum / 1048576}%d MB")
      println("== top stage callsites by cpu ms (cpu, run, gc, tasks, site):")
      stages.groupBy(_.site).map { case (site, ss) =>
        (ss.map(_.cpuMs).sum, ss.map(_.runMs).sum, ss.map(_.gcMs).sum,
          ss.map(_.tasks).sum, site)
      }.toSeq.sortBy(-_._1).take(15).foreach { case (cpu, run, gc, t, site) =>
        println(f"  $cpu%8d $run%8d $gc%8d $t%6d $site")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val nHosts = args.lift(0).map(_.toInt).getOrElse(64)
    val maxPages = args.lift(1).map(_.toInt).getOrElse(100000)
    val links = args.lift(2).map(_.toInt).getOrElse(8)
    val maxRounds = args.lift(3).map(_.toInt).getOrElse(8)
    val budget = args.lift(4).map(_.toInt).getOrElse(maxPages)
    // 0 = always sort-merge/shuffle join (the at-scale shape); >0 = broadcast
    // the frontier below this row count (the small-frontier shape)
    val bcastRows = args.lift(5).map(_.toLong).getOrElse(0L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // real-cluster shape: SPARK_GRAFT_MASTER=local-cluster[4,8,16384] spawns
    // separate executor JVMs (the form the north rule's N vs 4N executors
    // actually takes); default stays single-JVM local[cpus]
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath

    val spark = SparkSession.builder()
      .master(master)
      .appName(s"graft-crawl-bench-$cpus")
      .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"))
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.inMemoryColumnarStorage.batchSize", sys.env.getOrElse("GRAFT_CACHE_BATCH", "10000"))
      .config("spark.sql.parquet.columnarReaderBatchSize", sys.env.getOrElse("GRAFT_SCAN_BATCH", "4096"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val profiler = if (sys.env.contains("GRAFT_PROFILE")) {
      val p = new StageProfiler; spark.sparkContext.addSparkListener(p); Some(p)
    } else None
    // always-on shuffle-volume counters
    val shufRead = new java.util.concurrent.atomic.AtomicLong()
    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shufRead.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    val fix = FixtureConfig(nHosts = nHosts, maxPagesPerHost = maxPages,
      linksPerPage = links, pctCrossDomain = 20, pctRedirect = 4, pctDangling = 4)
    // materialize the page store ONCE per shape; both parallelism levels read
    // the same input (driver instruction: same input, two core counts).
    // The store is bucketed by urlHash (the at-scale shape: the fetch join
    // never re-shuffles the store side).
    val tbl = s"graft_bench_pages_h${nHosts}_p${maxPages}_l$links"
    val dir = s"/tmp/graft-bench/pages_bkt_h${nHosts}_p${maxPages}_l$links"
    val pages =
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        graft.crawl.PageStore.prepareBucketed(spark,
          Fixtures.generateDS(spark, fix).toDF(), tbl, 64, dir, dedupCaptures = false)
      else
        graft.crawl.PageStore.reattach(spark, tbl, dir,
          graft.crawl.PageStore.PageSchemaDdl, "urlHash", 64)
    val nPages = fix.totalPages

    val storeDir = java.nio.file.Files.createTempDirectory(s"crawl-bench-$cpus").toString
    val store = new SnapshotStore(storeDir, spark)
    val cfg = CrawlConfig(
      policy = UrlPolicy.AllowAll,
      hostBudget = budget,
      maxRounds = maxRounds,
      shards = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt,
      broadcastFrontierMaxRows = bcastRows,
      // long-crawl stress knob: small values force frequent seen-set
      // compaction so a many-round run exercises the compaction chain
      compactSeenEvery = sys.env.getOrElse("GRAFT_COMPACT_EVERY", "16").toInt,
      bloomExpectedPerShard = math.max(1L << 16, 4L * nPages / sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt))
    val seeds = (0 until nHosts).map(h => Fixtures.urlOf(h, 0L))
    val loop = new CrawlLoop(spark, cfg, pages, spark.emptyDataset[RobotsRule], Map.empty, store)

    val t0 = System.nanoTime()
    val out = loop.run(seeds)
    val wall = (System.nanoTime() - t0) / 1e9

    val lin = out.lineage(spark)
      .agg(sum("fetched"), sum("discovered"), sum("dedupDropped"), sum("errors"), sum("retries"))
      .collect()(0)
    val fetched = lin.getLong(0); val discovered = lin.getLong(1)
    val deduped = lin.getLong(2); val errors = lin.getLong(3); val retries = lin.getLong(4)
    val thr = (fetched + discovered) / wall

    // steady-state throughput (SURVEY.md §7.7): the big BFS-wave rounds only.
    // Tail/warmup rounds are fixed per-round overhead that any real 10^10
    // crawl amortizes away; include rounds doing >=10% of the peak round's work
    val perRound = out.lineage(spark).groupBy("round")
      .agg(sum(col("fetched") + col("discovered")).as("work"), max("wallMs").as("wallMs"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val peak = perRound.map(_._1).max
    val steady = perRound.filter(_._1 >= peak / 10)
    val steadyThr = steady.map(_._1).sum.toDouble / (steady.map(_._2).sum.toDouble / 1000.0)

    // long-crawl fixed-cost evidence (GRAFT_ROUNDS_CURVE=1): per-round wall
    // vs round number — a flat curve proves the per-round fixed cost and
    // the seen/compaction chain do NOT grow with round count (a 10^10-URL
    // crawl is hundreds of rounds)
    if (sys.env.contains("GRAFT_ROUNDS_CURVE")) {
      val curve = out.lineage(spark).groupBy("round")
        .agg(sum(col("fetched") + col("discovered")).as("work"), max("wallMs").as("wallMs"))
        .orderBy("round")
        .collect().map(r => s"[${r.get(0)},${r.getLong(1)},${r.getLong(2)}]")
      println(s"""{"bench":"rounds_curve","cpus":$cpus,"compact_every":${cfg.compactSeenEvery},""" +
        s""""rounds":${out.roundsRun},"curve":[${curve.mkString(",")}]}""")
    }

    println(s"""{"bench":"crawl","cpus":$cpus,"pages":$nPages,"rounds":${out.roundsRun},""" +
      s""""fetched":$fetched,"discovered":$discovered,"deduped":$deduped,"errors":$errors,""" +
      s""""retries":$retries,"wall_sec":${f"$wall%.2f"},"throughput_urls_per_sec":${f"$thr%.1f"},""" +
      s""""steady_rounds":${steady.length},"steady_throughput_urls_per_sec":${f"$steadyThr%.1f"},""" +
      s""""shuffle_read_mb":${shufRead.get / 1048576},"shuffle_write_mb":${shufWrite.get / 1048576}}""")
    profiler.foreach(_.report())
    store.clear()
    spark.stop()
  }
}
