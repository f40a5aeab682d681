package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import org.apache.spark.BlockProbe
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shape of a crawl round as the store sees it: per-shard lineage sums
  * equal the rows each round committed, and a round starts a bounded number
  * of Spark jobs. The crawl exercises every lineage stage: robots drops,
  * crawl-delay budgets, dangling links (retries and errors), redirects and
  * a runner.
  */
class RoundShapeSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}

  private val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 24, pctDangling = 20)
  private def pages = Fixtures.generateDS(spark, fix).toDF()
  private def robots = spark.createDataset(Seq(
    RobotsRule("h0.test", disallow = Seq("/p/1"), allow = Seq.empty, crawlDelayMs = 250L),
    RobotsRule("h1.test", disallow = Seq.empty, allow = Seq.empty, crawlDelayMs = 500L)))(
    org.apache.spark.sql.Encoders.product[RobotsRule])
  private val cfg = CrawlConfig(hostBudget = 6, roundWallMs = 1000L, followRedirects = true,
    maxTries = 2, policy = UrlPolicy.AllowAll, maxRounds = 6)
  private val seeds = Seq(Fixtures.urlOf(0, 0), Fixtures.urlOf(1, 0))
  private val runners = Map[String, PageRunner]("title" -> CrawlDemo.TitleRunner)

  for (bloom <- Seq(true, false))
    test(s"per-shard lineage sums equal the committed rows of each round (bloom $bloom)") {
      val store = new SnapshotStore(tmpDir(s"lineage-$bloom"), spark)
      val out = new CrawlLoop(spark, cfg.copy(bloomPrefilter = bloom), pages, robots, runners, store)
        .run(seeds)
      assert(out.roundsRun > 2)
      val lineage = store.readLineage(out.lastRound).groupBy(_.round)
      def rows(table: String, k: Int): Long = if (store.exists(table, k)) store.read(table, k).count() else 0L
      val stages = Seq.newBuilder[String]
      (0 to out.lastRound).foreach { k =>
        val ls = lineage(k)
        def sum(f: Lineage => Long): Long = ls.map(f).sum
        assert(sum(_.fetched) === rows("order", k), s"round $k: fetched vs order rows")
        assert(sum(l => l.discovered - l.dedupDropped) === rows("fresh", k + 1),
          s"round $k: fresh vs fresh rows")
        assert(sum(l => l.budgetDeferred + l.retries) === rows("carry", k + 1),
          s"round $k: budget_deferred + retries vs carry rows")
        assert(sum(_.errors) ===
          store.read("results", k).filter(col("runner") === "__fetch__").count(),
          s"round $k: errors vs __fetch__ result rows")
        Seq("robotsDropped" -> sum(_.robotsDropped), "budgetDeferred" -> sum(_.budgetDeferred),
          "errors" -> sum(_.errors), "retries" -> sum(_.retries))
          .collect { case (n, v) if v > 0 => n }.foreach(stages += _)
      }
      assert(stages.result().toSet === Set("robotsDropped", "budgetDeferred", "errors", "retries"),
        "the crawl must exercise every lineage stage")
      store.clear()
    }

  test("a committed round starts at most 30 Spark jobs") {
    val store = new SnapshotStore(tmpDir("round-jobs"), spark)
    val sc = spark.sparkContext
    val ps = pages
    val rs = robots
    // one round per run, through resume: each run's jobs are one round's
    val perRound = (1 to 4).map { n =>
      val (out, jobs) = BlockProbe.jobsDuring(sc) {
        new CrawlLoop(spark, cfg.copy(maxRounds = n), ps, rs, runners, store).run(seeds)
      }
      assert(out.roundsRun === 1, s"round ${n - 1} must run")
      jobs
    }
    assert(perRound.forall(_ <= 30), s"jobs per round: ${perRound.mkString(", ")}")
    store.clear()
  }
}
