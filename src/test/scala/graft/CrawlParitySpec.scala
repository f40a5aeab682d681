package graft

import graft.crawl.{CrawlLoop, SnapshotStore}
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import graft.ref.ReferenceCrawl
import org.scalatest.funsuite.AnyFunSuite

/** The load-bearing parity suite (BASELINE.json:6): the distributed Spark
  * crawl must match the sequential reference model on the EXACT crawl
  * ordering, the final URL-seen set, and all runner results — per scenario,
  * mirroring the reference test-suite semantics (SURVEY.md §5.1): discovery,
  * same-domain scoping, urlFilter drop/rewrite, redirect on/off, retry,
  * politeness/parallelism limits, robots, custom runners.
  */
class CrawlParitySpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}
  import spark.implicits._

  object TitleRunner extends PageRunner {
    def apply(p: Page): Either[String, String] = {
      val s = new String(p.html, "UTF-8")
      val m = "<title>([^<]*)</title>".r.findFirstMatchIn(s)
      m.map(_.group(1)).toRight("no-title")
    }
  }
  object LenRunner extends PageRunner {
    def apply(p: Page): Either[String, String] =
      if (p.text.length % 5 == 0) Left(s"len-div5:${p.text.length}")
      else Right(p.text.length.toString)
  }

  private def runBoth(
      name: String,
      fixCfg: FixtureConfig,
      cfg: CrawlConfig,
      seeds: Seq[String],
      robots: Seq[RobotsRule] = Seq.empty,
      runners: Map[String, PageRunner] = Map.empty): Unit =
    runBothPages(name, Fixtures.generate(fixCfg), cfg, seeds, robots, runners)

  private def runBothPages(
      name: String,
      pages: Vector[Page],
      cfg: CrawlConfig,
      seeds: Seq[String],
      robots: Seq[RobotsRule] = Seq.empty,
      runners: Map[String, PageRunner] = Map.empty): Unit = {
    val ref = ReferenceCrawl.crawl(pages.map(p => p.url -> p).toMap, robots, seeds, cfg, runners)
    assert(ref.order.nonEmpty, s"$name: oracle crawled nothing — scenario is vacuous")

    val store = new SnapshotStore(tmpDir(s"crawl-$name"), spark)
    val loop = new CrawlLoop(spark, cfg, spark.createDataset(pages).toDF(),
      spark.createDataset(robots), runners, store)
    val out = loop.run(seeds)

    val sparkOrder = out.order(spark).select("url").as[String].collect().toVector
    assert(sparkOrder === ref.order.map(_.url), s"$name: crawl ORDER diverged")
    val sparkSeen = out.seen(spark).select("url").as[String].collect().toSet
    assert(sparkSeen === ref.seen, s"$name: URL-seen SET diverged")
    val sparkResults = out.results(spark).as[RunnerResult].collect().toSet
    assert(sparkResults === ref.results.toSet, s"$name: runner results diverged")
    store.clear()
  }

  private val fix = FixtureConfig(nHosts = 5, maxPagesPerHost = 20)

  test("discovery: BFS over same-domain links from one seed") {
    runBoth("discovery", fix, CrawlConfig(), Seq(Fixtures.urlOf(0, 0)))
  }

  test("multi-seed, same-domain scoping across two hosts") {
    runBoth("multiseed", fix, CrawlConfig(), Seq(Fixtures.urlOf(0, 0), Fixtures.urlOf(1, 0)))
  }

  test("allow-all policy crosses domains (bounded by maxDepth)") {
    runBoth("allowall", fix,
      CrawlConfig(policy = UrlPolicy.AllowAll, maxDepth = 4), Seq(Fixtures.urlOf(1, 0)))
  }

  test("denyDomains policy: blocked host's pages never crawled, identically on both paths") {
    // cross-domain crawl with h2.test deny-listed: its links are
    // discovered but always dropped by policy — parity on order AND on
    // the blocked host actually mattering (non-vacuous)
    val pages = Fixtures.generate(fix)
    val cfg = CrawlConfig(
      policy = UrlPolicy.And(Seq(
        UrlPolicy.AllowAll, UrlPolicy.DenyDomains(Seq("h2.test")))),
      maxDepth = 4)
    val ref = graft.ref.ReferenceCrawl.crawl(
      pages.map(p => p.url -> p).toMap, Seq.empty, Seq(Fixtures.urlOf(1, 0)), cfg, Map.empty)
    assert(pages.exists(_.url.contains("h2.test")), "fixture must have the denied host")
    assert(!ref.order.exists(_.url.contains("h2.test")), "denied host leaked into the oracle crawl")
    runBothPages("denydomains", pages, cfg, Seq(Fixtures.urlOf(1, 0)))
  }

  test("stripTracking: campaign-tagged links collapse to one seen entry, identically") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    def page(url: String, html: String): Page =
      Page(url, ts, html.getBytes("UTF-8"), "t", "en")
    // four hrefs, two target pages: each pair differs only by tracking
    // params / param order — with the strip ON they are ONE url apiece,
    // keyed exactly as the store serves them
    val seedUrl = "http://h0.test/"
    val pages = Vector(
      page(seedUrl,
        """<html><body><a href="/a?utm_source=mail&x=1">1</a>""" +
          """<a href="/a?x=1&utm_campaign=z">2</a>""" +
          """<a href="/b?b=2&a=1&fbclid=q">3</a>""" +
          """<a href="/b?a=1&b=2">4</a></body></html>"""),
      page("http://h0.test/a?x=1", "<html><body>a</body></html>"),
      page("http://h0.test/b?a=1&b=2", "<html><body>b</body></html>"))
    val pageMap = pages.map(p => p.url -> p).toMap
    val on = CrawlConfig(stripTracking = true)
    val off = CrawlConfig()
    val refOn = ReferenceCrawl.crawl(pageMap, Seq.empty, Seq(seedUrl), on, Map.empty)
    val refOff = ReferenceCrawl.crawl(pageMap, Seq.empty, Seq(seedUrl), off, Map.empty)
    // non-vacuous: ON fetches all three pages through normalized urls;
    // OFF discovers four campaign variants, none matching a store key
    assert(refOn.order.map(_.url).toSet ===
      Set(seedUrl, "http://h0.test/a?x=1", "http://h0.test/b?a=1&b=2"))
    assert(refOn.seen.size === 3)
    // only the already-canonical variant (link 4) hits the store; the
    // three campaign-tagged variants miss and burn retries
    assert(refOff.order.map(_.url) === Vector(seedUrl, "http://h0.test/b?a=1&b=2"))
    assert(refOff.seen.size === 5)
    runBothPages("striptracking-on", pages, on, Seq(seedUrl))
    runBothPages("striptracking-off", pages, off, Seq(seedUrl))
  }

  test("ledger feedback: crawl-1 corpus flags the boilerplate host, crawl-2 denies it, with parity") {
    // the curation->crawl-policy feedback loop: a host serving one
    // identical body on every page (mirror/template farm) is flagged by
    // the host-reputation ledger computed over the FIRST crawl's corpus,
    // and the flag feeds DenyDomains for the next crawl
    val boiler = "copy of the identical body served on every page of this host"
    val pages = Fixtures.generate(fix).map(p =>
      if (p.url.contains("h2.test")) p.copy(text = boiler) else p)
    val seeds = Seq(Fixtures.urlOf(1, 0))
    val cfg1 = CrawlConfig(policy = UrlPolicy.AllowAll, maxDepth = 4)
    val crawl1 = ReferenceCrawl.crawl(pages.map(p => p.url -> p).toMap, Seq.empty, seeds, cfg1, Map.empty)
    assert(crawl1.order.exists(_.url.contains("h2.test")),
      "crawl 1 must actually fetch the boilerplate host — scenario is vacuous otherwise")

    val fetched = crawl1.order.map(_.url).toSet
    val docs = spark.createDataset(pages.filter(p => fetched.contains(p.url)).map(p =>
      (p.url, new java.net.URI(p.url).getHost, p.text, p.text.length.toLong)))
      .toDF("url", "source", "text", "n_chars")
    // dup branch only (short branch disabled): >= 50% duplicate docs flags
    val flagged = graft.ops.Curate.hostLedger(docs, minChars = 0L,
      dupFlagBp = 5000L, shortFlagBp = 10001L)
      .filter(org.apache.spark.sql.functions.col("flagged") === 1L)
      .select("source").as[String].collect().toSeq.sorted
    assert(flagged === Seq("h2.test"), s"ledger must flag exactly the planted host, got $flagged")

    val cfg2 = cfg1.copy(policy = UrlPolicy.And(Seq(
      UrlPolicy.AllowAll, UrlPolicy.DenyDomains(flagged))))
    val ref2 = ReferenceCrawl.crawl(pages.map(p => p.url -> p).toMap, Seq.empty, seeds, cfg2, Map.empty)
    assert(!ref2.order.exists(_.url.contains("h2.test")), "flagged host leaked into crawl 2")
    runBothPages("ledgerdeny", pages, cfg2, seeds)
  }

  test("trap feedback: hosts crossing the URL-space threshold stop being crawled, identically") {
    // fixture paths are /p/N — every host collapses to one pattern, so
    // trapMinUrls is the discriminator: hosts whose seen-URL count crosses
    // it at a boundary get trapped and purged; smaller hosts crawl on
    val pages = Fixtures.generate(fix)
    val cfg = CrawlConfig(policy = UrlPolicy.AllowAll, maxDepth = 6,
      trapDetectEvery = 2, trapMinUrls = 12, trapMinRatioBp = 20000)
    val seeds = Seq(Fixtures.urlOf(0, 0))
    val pageMap = pages.map(p => p.url -> p).toMap
    val base = graft.ref.ReferenceCrawl.crawl(
      pageMap, Seq.empty, seeds, cfg.copy(trapDetectEvery = 0), Map.empty)
    val trapped = graft.ref.ReferenceCrawl.crawl(pageMap, Seq.empty, seeds, cfg, Map.empty)
    assert(trapped.order.size < base.order.size,
      "trap config must actually suppress fetches — scenario is vacuous otherwise")
    runBothPages("trapfeedback", pages, cfg, seeds)
  }

  test("politeness: per-host budget defers overflow to later rounds") {
    runBoth("politeness", fix, CrawlConfig(hostBudget = 2), Seq(Fixtures.urlOf(0, 0)))
  }

  test("politeness parity holds with salting disabled (single-phase window)") {
    runBoth("politeness-nosalt", fix,
      CrawlConfig(hostBudget = 3, saltFactor = 1), Seq(Fixtures.urlOf(0, 0)))
  }

  test("redirects: not followed by default, followed when enabled") {
    val redirFix = fix.copy(pctRedirect = 30)
    runBoth("redirect-off", redirFix, CrawlConfig(followRedirects = false), Seq(Fixtures.urlOf(0, 0)))
    runBoth("redirect-on", redirFix,
      CrawlConfig(followRedirects = true, policy = UrlPolicy.AllowAll, maxDepth = 5),
      Seq(Fixtures.urlOf(0, 0)))
  }

  test("redirectFilter: redirect targets gated by their own policy") {
    runBoth("redirect-filter", fix.copy(pctRedirect = 30),
      CrawlConfig(followRedirects = true, redirectPolicy = UrlPolicy.SameDomain, maxDepth = 5),
      Seq(Fixtures.urlOf(0, 0)))
  }

  test("retry-on-error: dangling links retried maxTries then error result") {
    runBoth("retry", fix.copy(pctDangling = 35), CrawlConfig(maxTries = 3), Seq(Fixtures.urlOf(0, 0)))
  }

  test("robots: disallow prefixes drop, allow overrides") {
    val robots = Seq(
      RobotsRule("h0.test", disallow = Seq("/p/1"), allow = Seq("/p/12"), crawlDelayMs = 0L),
      RobotsRule("h2.test", disallow = Seq("/"), allow = Seq.empty, crawlDelayMs = 0L))
    runBoth("robots", fix, CrawlConfig(), Seq(Fixtures.urlOf(0, 0)), robots = robots)
  }

  test("robots: RFC 9309 wildcard patterns (* and trailing-$) drop identically on both paths") {
    // the first disallow uses a mid-pattern wildcard, the second a
    // star-then-end-anchor pattern;
    // allow `/p/13` ties the disallow's specificity (both length 5) so the
    // allow-wins-ties rule is exercised inside a real crawl
    val robots = Seq(
      RobotsRule("h0.test", disallow = Seq("/p/*3", "/*1$"), allow = Seq("/p/13"), crawlDelayMs = 0L))
    runBoth("robots-wildcard", fix, CrawlConfig(), Seq(Fixtures.urlOf(0, 0)), robots = robots)
  }

  /** Both paths derive rules from raw robots.txt TEXTS under cfg.agent —
    * the wiring CrawlLoop.withTextRobots adds; the oracle parses the same
    * texts with the same agent via the shared parseRobotsTxt.
    */
  private def runBothTexts(
      name: String,
      fixCfg: FixtureConfig,
      cfg: CrawlConfig,
      seeds: Seq[String],
      robotsTexts: Seq[(String, String)]): Vector[String] = {
    val pages = Fixtures.generate(fixCfg)
    val rules = robotsTexts.map { case (h, t) =>
      graft.robots.Robots.parseRobotsTxt(h, t, cfg.agent)
    }
    val ref = ReferenceCrawl.crawl(pages.map(p => p.url -> p).toMap, rules, seeds, cfg, Map.empty)
    assert(ref.order.nonEmpty, s"$name: oracle crawled nothing — scenario is vacuous")
    val store = new SnapshotStore(tmpDir(s"crawl-$name"), spark)
    val loop = CrawlLoop.withTextRobots(spark, cfg, spark.createDataset(pages).toDF(),
      robotsTexts.toDF("host", "robots_txt"), Map.empty, store)
    val out = loop.run(seeds)
    val sparkOrder = out.order(spark).select("url").as[String].collect().toVector
    assert(sparkOrder === ref.order.map(_.url), s"$name: crawl ORDER diverged")
    val sparkSeen = out.seen(spark).select("url").as[String].collect().toSet
    assert(sparkSeen === ref.seen, s"$name: URL-seen SET diverged")
    store.clear()
    sparkOrder
  }

  test("cfg.agent: named-agent robots group diverges from * identically on both paths") {
    // one robots.txt, two groups: anonymous crawls lose /p/1*, the named
    // agent (matched case-insensitively per RFC 9309 §2.2.1) loses /p/2*
    val texts = Seq("h0.test" ->
      "User-agent: *\nDisallow: /p/1\n\nUser-agent: graftbot\nDisallow: /p/2\n")
    val asBot = runBothTexts("agent-named", fix, CrawlConfig(agent = "GraftBot"),
      Seq(Fixtures.urlOf(0, 0)), texts)
    val asStar = runBothTexts("agent-star", fix, CrawlConfig(),
      Seq(Fixtures.urlOf(0, 0)), texts)
    assert(asBot !== asStar, "the named-agent group must actually change the crawl")
    assert(!asBot.exists(_.startsWith("http://h0.test/p/2")),
      "named agent honors ITS group's disallow")
    assert(!asStar.exists(_.startsWith("http://h0.test/p/1")),
      "anonymous agent honors the * group's disallow")
  }

  test("urlFilter rewrite: prefix rewrite applied before policy") {
    runBoth("rewrite", fix,
      CrawlConfig(rewrite = Some(UrlRewrite("http://h1.test/", "http://h0.test/")),
        policy = UrlPolicy.AllowAll, maxDepth = 4),
      Seq(Fixtures.urlOf(0, 0)))
  }

  test("urlFilter deny: path-prefix policy drops URLs") {
    runBoth("deny", fix,
      CrawlConfig(policy = UrlPolicy.And(Seq(UrlPolicy.SameDomain, UrlPolicy.DenyPathPrefix(Seq("/p/1"))))),
      Seq(Fixtures.urlOf(0, 0)))
  }

  test("runners: results and error propagation per (url, runner)") {
    runBoth("runners", fix, CrawlConfig(), Seq(Fixtures.urlOf(0, 0)),
      runners = Map("title" -> TitleRunner, "len" -> LenRunner))
  }

  test("runner timeout: slow runner yields the identical timeout error row on both paths") {
    // crawlkit's runner contract: each runner executes under a timeout
    // (default 10 s) and a breach records a timeout error. Budget margins
    // are wide (150 ms vs a 5 s stall) so the outcome is deterministic on
    // both the sequential oracle and the Spark flatMap.
    object SlowRunner extends PageRunner {
      override val timeoutMs: Long = 150L
      def apply(p: Page): Either[String, String] =
        if (p.text.length % 3 == 0) { Thread.sleep(5000); Right("never-reached") }
        else Right(s"fast:${p.text.length}")
    }
    val f = FixtureConfig(nHosts = 3, maxPagesPerHost = 8)
    val pages = Fixtures.generate(f)
    val cfg = CrawlConfig()
    val runners: Map[String, PageRunner] = Map("slow" -> SlowRunner, "title" -> TitleRunner)
    val ref = ReferenceCrawl.crawl(pages.map(p => p.url -> p).toMap, Seq.empty,
      Seq(Fixtures.urlOf(0, 0)), cfg, runners)
    val timeouts = ref.results.count(_.error.contains(Runners.timeoutError(150L)))
    assert(timeouts > 0, "scenario must actually trigger timeouts")
    assert(ref.results.exists(_.result.exists(_.startsWith("fast:"))),
      "scenario must also have non-timeout slow-runner results")
    runBothPages("runner-timeout", pages, cfg, Seq(Fixtures.urlOf(0, 0)), runners = runners)
  }

  test("bloom pre-filter off ≡ on (exactness of the seen set)") {
    runBoth("nobloom", fix, CrawlConfig(bloomPrefilter = false), Seq(Fixtures.urlOf(0, 0)))
  }

  test("maxDepth caps discovery") {
    runBoth("maxdepth", fix, CrawlConfig(maxDepth = 2), Seq(Fixtures.urlOf(0, 0)))
  }

  test("seen-set compaction every round preserves exactness") {
    runBoth("compaction", fix, CrawlConfig(compactSeenEvery = 1, hostBudget = 4),
      Seq(Fixtures.urlOf(0, 0)))
  }

  test("crawlDelayMs enforced: per-host budget = roundWall / delay, capped by hostBudget") {
    val robots = Seq(
      RobotsRule("h0.test", Seq.empty, Seq.empty, crawlDelayMs = 500L), // -> 1000/500 = 2/round
      RobotsRule("h1.test", Seq.empty, Seq.empty, crawlDelayMs = 5000L), // -> max(1, 0) = 1/round
      RobotsRule("h2.test", Seq.empty, Seq.empty, crawlDelayMs = 0L)) // no delay -> hostBudget
    runBoth("crawldelay", fix,
      CrawlConfig(hostBudget = 6, roundWallMs = 1000L, policy = UrlPolicy.AllowAll, maxDepth = 3),
      Seq(Fixtures.urlOf(0, 0), Fixtures.urlOf(1, 0)), robots = robots)
  }

  test("depth-55 chain: frontier key width stays constant; order exact at depth") {
    // a pure chain web: page i links only to page i+1 (+ a side link back to
    // page 0 to exercise dedup at every depth). A path-vector key would be
    // 55 levels deep here; (pord, pos) stays 16 bytes.
    import java.nio.charset.StandardCharsets.UTF_8
    val n = 56
    val chain = (0 until n).map { i =>
      val hrefs = (if (i + 1 < n) Seq(s"/p/${i + 1}") else Seq.empty) :+ "/p/0"
      val html = s"<html><body><p>chain $i</p>" +
        hrefs.map(h => s"""<a href="$h">l</a>""").mkString + "</body></html>"
      Page(s"http://h0.test/p/$i", new java.sql.Timestamp(1704067200000L),
        html.getBytes(UTF_8), graft.extract.Extract.extractText(html), "en")
    }.toVector
    runBothPages("chain", chain, CrawlConfig(maxRounds = 80), Seq("http://h0.test/p/0"))
    // schema-level pin of the constant-width claim
    val fe = spark.createDataset(Seq(FrontierEntry("u", 0L, "h", 55, 1L << 41, 3L, 0))).toDF()
    val keyFields = fe.schema.fields.filter(f => f.name == "pord" || f.name == "pos")
    assert(keyFields.forall(_.dataType == org.apache.spark.sql.types.LongType),
      "order key must be two fixed-width longs")
  }
}
