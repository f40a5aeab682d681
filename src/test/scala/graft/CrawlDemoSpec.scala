package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** The crawl golden: `runMain graft.CrawlDemo 5 30 4 64` ends with
  * `seen=62 fetched=44`. Same fixture web, robots rule, seeds and runner as
  * CrawlDemo.main.
  */
class CrawlDemoSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}
  import spark.implicits._

  test("CrawlDemo 5 30 4 64 golden: seen=62 fetched=44") {
    val pages = Fixtures.generateDS(spark, FixtureConfig(nHosts = 5, maxPagesPerHost = 30)).toDF()
    val robots = spark.createDataset(Seq(
      RobotsRule("h0.test", disallow = Seq("/p/13"), allow = Seq.empty, crawlDelayMs = 0L)))
    val store = new SnapshotStore(tmpDir("crawl-demo-golden"), spark)
    val out = new CrawlLoop(spark, CrawlConfig(hostBudget = 4, maxRounds = 64), pages, robots,
      Map("title" -> CrawlDemo.TitleRunner), store)
      .run(Seq(Fixtures.urlOf(0, 0), Fixtures.urlOf(1, 0)))
    assert(out.seen(spark).count() === 62)
    assert(out.order(spark).count() === 44)
    store.clear()
  }
}
