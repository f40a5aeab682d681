package graft

import graft.crawl.{CrawlLoop, CrawlOutcome, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import org.apache.spark.BlockProbe
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

object ResumeSpec {
  val Seed: String = Fixtures.urlOf(0, 0)

  /** CrawlDemo's title runner on the seed page; throws on every other page,
    * so round 0 commits and round 1 aborts in its results write
    */
  object SeedOnlyRunner extends PageRunner {
    def apply(p: Page): Either[String, String] =
      if (p.url == Seed) CrawlDemo.TitleRunner(p)
      else throw new IllegalStateException(s"runner failure on ${p.url}")
  }
}

/** Checkpoint-equivalence property (BASELINE.json:6): a crawl killed after
  * round k and resumed produces the EXACT same crawl order and seen set as
  * an uninterrupted run — without re-fetching committed rounds.
  */
class ResumeSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}
  import spark.implicits._
  import ResumeSpec._

  /** every committed `frontier` meta value equals the rows of carry ∪ fresh
    * the next round reads — the count CrawlLoop derives from lineage rows
    */
  private def assertFrontierMeta(store: SnapshotStore): Unit =
    (0 to store.latestCommitted.get).foreach { k =>
      val rows = Seq("carry", "fresh").filter(store.exists(_, k)).map(store.read(_, k).count()).sum
      assert(store.committedMeta(k).flatMap(_.get("frontier")) === Some(rows),
        s"round $k: committed frontier meta differs from |carry ∪ fresh|")
    }

  /** nothing created after RDD `firstId` stays persisted, cached or stored */
  private def assertReleased(firstId: Int): Unit = {
    val sc = spark.sparkContext
    assert(sc.getPersistentRDDs.keys.forall(_ <= firstId), "a crawl RDD is still persisted")
    assert(BlockProbe.cacheIsEmpty(spark), "the crawl left a frame in the CacheManager")
    eventually(timeout(Span(30, Seconds))) {
      assert(BlockProbe.rddIdsWithBlocks(sc).forall(_ <= firstId), "a crawl RDD still holds blocks")
    }
  }

  test("kill after round k + resume ≡ uninterrupted run (order and seen set)") {
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pages = spark.createDataset(Fixtures.generate(fix)).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val seeds = Seq(Fixtures.urlOf(0, 0))
    val cfgFull = CrawlConfig(hostBudget = 3)

    val storeA = new SnapshotStore(tmpDir("uninterrupted"), spark)
    val full = new CrawlLoop(spark, cfgFull, pages, robots, Map.empty, storeA).run(seeds)
    val fullOrder = full.order(spark).select("url").as[String].collect().toVector
    val fullSeen = full.seen(spark).select("url").as[String].collect().toSet

    val storeB = new SnapshotStore(tmpDir("interrupted"), spark)
    // "kill" after 2 rounds
    val part = new CrawlLoop(spark, cfgFull.copy(maxRounds = 2), pages, robots, Map.empty, storeB).run(seeds)
    assert(part.roundsRun === 2)
    // leave mid-round debris: an uncommitted, unreadable next-round dir
    val debris = new java.io.File(storeB.tablePath("fresh", 99))
    debris.mkdirs()
    java.nio.file.Files.writeString(debris.toPath.resolve("part-garbage.parquet"), "junk")
    // resume to completion
    val resumed = new CrawlLoop(spark, cfgFull, pages, robots, Map.empty, storeB).run(seeds)
    assert(resumed.roundsRun < full.roundsRun, "resume must not re-run committed rounds")

    val resOrder = resumed.order(spark).select("url").as[String].collect().toVector
    val resSeen = resumed.seen(spark).select("url").as[String].collect().toSet
    assert(resOrder === fullOrder, "resumed crawl order diverged")
    assert(resSeen === fullSeen, "resumed seen set diverged")
    assertFrontierMeta(storeA)
    assertFrontierMeta(storeB)

    // resuming a finished crawl is a no-op with identical outputs
    val again = new CrawlLoop(spark, cfgFull, pages, robots, Map.empty, storeB).run(seeds)
    assert(again.roundsRun === 0)
    assert(again.order(spark).select("url").as[String].collect().toVector === fullOrder)
    storeA.clear(); storeB.clear()
  }

  test("trap feedback survives resume: killed past a trap boundary, the recomputed trap set matches") {
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pages = spark.createDataset(Fixtures.generate(fix)).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val seeds = Seq(Fixtures.urlOf(0, 0))
    // every fixture host collapses to one pattern; minUrls discriminates
    val cfg = CrawlConfig(policy = UrlPolicy.AllowAll, maxDepth = 6,
      trapDetectEvery = 2, trapMinUrls = 10, trapMinRatioBp = 20000)

    val storeA = new SnapshotStore(tmpDir("trap-full"), spark)
    val full = new CrawlLoop(spark, cfg, pages, robots, Map.empty, storeA).run(seeds)
    val fullOrder = full.order(spark).select("url").as[String].collect().toVector
    val fullSeen = full.seen(spark).select("url").as[String].collect().toSet

    val storeB = new SnapshotStore(tmpDir("trap-interrupted"), spark)
    // kill AFTER the first trap boundary (round 2) so the resumed run must
    // recompute a non-empty trap set from the committed seen snapshots
    new CrawlLoop(spark, cfg.copy(maxRounds = 3), pages, robots, Map.empty, storeB).run(seeds)
    val resumed = new CrawlLoop(spark, cfg, pages, robots, Map.empty, storeB).run(seeds)
    assert(resumed.order(spark).select("url").as[String].collect().toVector === fullOrder,
      "trap-aware resumed crawl order diverged")
    assert(resumed.seen(spark).select("url").as[String].collect().toSet === fullSeen,
      "trap-aware resumed seen set diverged")
    storeA.clear(); storeB.clear()
  }

  test("cold-catalog resume: reattach from files in a fresh session, even with a changed shards config") {
    // The in-memory catalog dies with a JVM; the data and bucket layout do
    // not. One shared SparkContext per test JVM means a literal restart is
    // impossible here, so cold state is produced the equivalent way: DROP
    // the catalog entries (external tables — files stay) and resume through
    // a newSession(), forcing readBucketed/reattach to re-register every
    // bucketed snapshot from disk. The resumer also declares a DIFFERENT
    // cfg.shards: the bucket count persisted in the snapshot metadata (not
    // the caller's config) must drive the exchange-free seen anti-join.
    // bloomPrefilter off: bloom shard files are genuinely tied to the shard
    // count they were written with — a changed-shards resume is only
    // defined for the exact path (the pre-filter is an optimization).
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pagesV = Fixtures.generate(fix)
    val pages = spark.createDataset(pagesV).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val seeds = Seq(Fixtures.urlOf(0, 0))
    val cfg = CrawlConfig(hostBudget = 3, compactSeenEvery = 1, shards = 4,
      bloomPrefilter = false)

    val full = new CrawlLoop(spark, cfg, pages, robots, Map.empty,
      new SnapshotStore(tmpDir("cold-baseline"), spark)).run(seeds)
    val fullOrder = full.order(spark).select("url").as[String].collect().toVector
    val fullSeen = full.seen(spark).select("url").as[String].collect().toSet

    val root = tmpDir("cold-resume")
    val part = new CrawlLoop(spark, cfg.copy(maxRounds = 2), pages, robots, Map.empty,
      new SnapshotStore(root, spark)).run(seeds)
    assert(part.roundsRun === 2)
    assert(new SnapshotStore(root, spark).latestExisting("seen_all", 2).nonEmpty,
      "precondition: a bucketed seen_all snapshot exists before the cold resume")

    // cold catalog: drop every graft_* catalog entry; external-table files survive
    val suffix = s"_${(root.hashCode & 0x7FFFFFFF).toHexString}"
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_") && n.endsWith(suffix))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))

    val spark2 = spark.newSession()
    val store2 = new SnapshotStore(root, spark2)
    val resumed = new CrawlLoop(spark2, cfg.copy(shards = 16), // changed shard config
      spark2.createDataset(pagesV)(org.apache.spark.sql.Encoders.product[Page]).toDF(),
      spark2.createDataset(Seq.empty[RobotsRule])(org.apache.spark.sql.Encoders.product[RobotsRule]),
      Map.empty, store2).run(seeds)
    assert(resumed.roundsRun > 0 && resumed.roundsRun < full.roundsRun,
      "resume must continue, not re-run committed rounds")
    assert(resumed.order(spark2).select("url").as(org.apache.spark.sql.Encoders.STRING).collect().toVector === fullOrder,
      "cold-catalog resume diverged on crawl order")
    assert(resumed.seen(spark2).select("url").as(org.apache.spark.sql.Encoders.STRING).collect().toSet === fullSeen,
      "cold-catalog resume diverged on the seen set")
    store2.clear()
  }

  test("aggressive seen compaction: resume and the public seen() read the compacted chain") {
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pages = spark.createDataset(Fixtures.generate(fix)).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val seeds = Seq(Fixtures.urlOf(0, 0))
    // compact EVERY round: the seen anti-joins and CrawlOutcome.seen must
    // route through the bucketed seen_all base rather than per-round deltas
    val cfg = CrawlConfig(hostBudget = 3, compactSeenEvery = 1)

    val plain = new CrawlLoop(spark, CrawlConfig(hostBudget = 3), pages, robots, Map.empty,
      new SnapshotStore(tmpDir("nocompact"), spark)).run(seeds)
    val expOrder = plain.order(spark).select("url").as[String].collect().toVector
    val expSeen = plain.seen(spark).select("url").as[String].collect().toSet

    val store = new SnapshotStore(tmpDir("compact-every"), spark)
    val part = new CrawlLoop(spark, cfg.copy(maxRounds = 2), pages, robots, Map.empty, store).run(seeds)
    assert(part.roundsRun === 2)
    val resumed = new CrawlLoop(spark, cfg, pages, robots, Map.empty, store).run(seeds)
    assert(resumed.order(spark).select("url").as[String].collect().toVector === expOrder,
      "compaction must not change crawl order across resume")
    assert(resumed.seen(spark).select("url").as[String].collect().toSet === expSeen,
      "public seen() through the compacted chain must equal the plain union")
    // the compacted base actually exists and is what seen() fans in from
    assert(store.latestExisting("seen_all", resumed.lastRound + 1).nonEmpty,
      "aggressive compaction must have produced a seen_all snapshot")
    store.clear()
  }

  test("round checkpoints are released: no crawl RDD stays persisted, cached or stored") {
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pages = spark.createDataset(Fixtures.generate(fix)).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val firstId = sc.emptyRDD[Int].id
    val store = new SnapshotStore(tmpDir("release"), spark)
    val (out, unpersisted) = BlockProbe.unpersistedDuring(sc) {
      new CrawlLoop(spark, CrawlConfig(hostBudget = 3), pages, robots,
        Map("title" -> CrawlDemo.TitleRunner), store).run(Seq(Seed))
    }
    val rounds = out.get.roundsRun
    assert(rounds > 2)
    // f, admitted, deferred, hits, retries, ranked, winnowed, fresh and the
    // politeness frames: every round checkpoints them and frees them
    assert(unpersisted.count(_ > firstId) >= 8 * rounds,
      s"expected >= 8 released checkpoints per round, got ${unpersisted.count(_ > firstId)}")
    assertReleased(firstId)
    store.clear()
  }

  test("a round aborted by a throwing runner leaves no blocks; resume ≡ uninterrupted") {
    val fix = FixtureConfig(nHosts = 4, maxPagesPerHost = 16)
    val pages = spark.createDataset(Fixtures.generate(fix)).toDF()
    val robots = spark.emptyDataset[RobotsRule]
    val cfg = CrawlConfig(hostBudget = 3)
    val good = Map[String, PageRunner]("title" -> CrawlDemo.TitleRunner)
    def outputs(o: CrawlOutcome) = (
      o.order(spark).select("url").as[String].collect().toVector,
      o.seen(spark).select("url").as[String].collect().toSet,
      o.results(spark).as[RunnerResult].collect().toSet)

    val storeA = new SnapshotStore(tmpDir("abort-baseline"), spark)
    val expected = outputs(new CrawlLoop(spark, cfg, pages, robots, good, storeA).run(Seq(Seed)))
    assert(expected._3.exists(_.round > 0), "precondition: runners produce results past round 0")

    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val firstId = sc.emptyRDD[Int].id
    val storeB = new SnapshotStore(tmpDir("abort"), spark)
    val (aborted, unpersisted) = BlockProbe.unpersistedDuring(sc) {
      new CrawlLoop(spark, cfg, pages, robots, Map("title" -> SeedOnlyRunner), storeB).run(Seq(Seed))
    }
    val err = aborted.failed.get
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("runner failure")), s"unexpected failure: $err")
    assert(storeB.latestCommitted === Some(1), "round 0 commits, round 1 aborts before its commit")
    assert(unpersisted.count(_ > firstId) >= 8 * 2, "both rounds' checkpoints are released")
    assertReleased(firstId)

    val resumed = new CrawlLoop(spark, cfg, pages, robots, good, storeB).run(Seq(Seed))
    val got = outputs(resumed)
    assert(got._1 === expected._1, "resumed crawl order diverged")
    assert(got._2 === expected._2, "resumed seen set diverged")
    assert(got._3 === expected._3, "resumed runner results diverged")
    assertFrontierMeta(storeB)
    storeA.clear(); storeB.clear()
  }
}
