package graft

import graft.model.RobotsRule
import graft.robots.Robots
import org.scalatest.funsuite.AnyFunSuite

/** robots.txt TEXT parser (REP / RFC 9309 subset) → the engine's
  * broadcast-rule model: `*` group selection, consecutive user-agent
  * grouping, comments, empty-Disallow semantics, fractional Crawl-delay,
  * and the distributed (host, robots_txt) → RobotsRule materialization
  * feeding the same broadcast filter the crawl uses.
  */
class RobotsTxtSpec extends AnyFunSuite {
  import SparkTestBase.spark

  test("star group: disallow/allow prefixes and fractional crawl-delay") {
    val txt =
      """# robots for example
        |User-agent: googlebot
        |Disallow: /private
        |
        |User-agent: *
        |Disallow: /tmp/   # temp trees
        |Disallow: /cgi-bin
        |Allow: /tmp/public
        |Crawl-delay: 1.5
        |Sitemap: http://h.test/sitemap.xml
        |""".stripMargin
    val r = Robots.parseRobotsTxt("h.test", txt)
    assert(r === RobotsRule("h.test", Seq("/tmp/", "/cgi-bin"), Seq("/tmp/public"), 1500L))
  }

  test("consecutive user-agent lines share a group; a later group resets membership") {
    val txt =
      """User-agent: a
        |User-agent: *
        |Disallow: /x
        |
        |User-agent: b
        |Disallow: /only-for-b
        |""".stripMargin
    val r = Robots.parseRobotsTxt("h.test", txt)
    assert(r.disallow === Seq("/x"), "agent-b's rules must not leak into the * group")
  }

  test("agent-specific groups: longest matching token wins, * is the fallback (RFC 9309 §2.2.1)") {
    val txt =
      """User-agent: graftbot-images
        |Disallow: /img
        |
        |User-agent: graftbot
        |Disallow: /g
        |Crawl-delay: 2
        |
        |User-agent: *
        |Disallow: /all
        |""".stripMargin
    // most specific named token wins over both the shorter token and *
    assert(Robots.parseRobotsTxt("h.test", txt, agent = "graftbot-images") ===
      RobotsRule("h.test", Seq("/img"), Seq.empty, 0L))
    // shorter product token only matches its own group
    assert(Robots.parseRobotsTxt("h.test", txt, agent = "GraftBot") ===
      RobotsRule("h.test", Seq("/g"), Seq.empty, 2000L))
    // unknown agent falls back to the * group
    assert(Robots.parseRobotsTxt("h.test", txt, agent = "otherbot") ===
      RobotsRule("h.test", Seq("/all"), Seq.empty, 0L))
    // the default anonymous engine posture: * only
    assert(Robots.parseRobotsTxt("h.test", txt) ===
      RobotsRule("h.test", Seq("/all"), Seq.empty, 0L))
    // two groups naming the SAME winning token merge in document order
    val merged = "User-agent: bot\nDisallow: /a\n\nUser-agent: bot\nDisallow: /b\n"
    assert(Robots.parseRobotsTxt("h.test", merged, agent = "bot") ===
      RobotsRule("h.test", Seq("/a", "/b"), Seq.empty, 0L))
  }

  test("empty Disallow means allow-all; missing * group is the permissive empty rule") {
    assert(Robots.parseRobotsTxt("h.test", "User-agent: *\nDisallow:\n") ===
      RobotsRule("h.test", Seq.empty, Seq.empty, 0L))
    assert(Robots.parseRobotsTxt("h.test", "User-agent: bot\nDisallow: /\n") ===
      RobotsRule("h.test", Seq.empty, Seq.empty, 0L))
    assert(Robots.parseRobotsTxt("h.test", null) ===
      RobotsRule("h.test", Seq.empty, Seq.empty, 0L))
  }

  test("fromPages: rules derive from the store's own /robots.txt captures, latest capture wins") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000)
    // the store's html column holds the RAW decoded body bytes — newlines
    // intact, unlike the whitespace-collapsed `text` column
    val pages = Seq(
      ("http://h0.test/robots.txt", ts(100), "User-agent: *\nDisallow: /old\n"),
      ("http://h0.test/robots.txt", ts(200), "User-agent: *\nDisallow: /new\nCrawl-delay: 3\n"),
      ("http://h1.test/robots.txt", ts(100), "User-agent: *\nDisallow: /\n"),
      ("http://h0.test/p/1", ts(100), "just a page mentioning robots.txt"))
      .map { case (u, t, b) => (u, t, b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
      .toDF("url", "warc_ts", "html")
    val rules = Robots.fromPages(pages).collect().map(r => r.host -> r).toMap
    assert(rules.keySet === Set("h0.test", "h1.test"))
    assert(rules("h0.test").disallow === Seq("/new"), "latest capture wins")
    assert(rules("h0.test").crawlDelayMs === 3000L)
  }

  test("fromPages composes with Warc.toPages: robots.txt survives the full WARC ingest path") {
    // THE regression pin for the advertised zero-extra-input WARC path
    // (ADVICE r4 high): Extract.textCol collapses newlines, so parsing the
    // `text` column would silently yield the permissive empty rule for
    // every host. fromPages must parse the raw decoded body instead — and
    // that body must survive the real HTTP decode layer (chunked/gzip
    // variants included).
    val robotsTxt = "User-agent: *\nDisallow: /priv\nAllow: /priv/ok\nCrawl-delay: 2\n"
    val dir = java.nio.file.Files.createTempDirectory("graft-robots-warc").toString
    val ts = new java.sql.Timestamp(1700000000000L)
    val pages = Seq(
      graft.model.Page("http://h0.test/robots.txt", ts,
        robotsTxt.getBytes(java.nio.charset.StandardCharsets.UTF_8), "", ""),
      graft.model.Page("http://h0.test/index.html", ts,
        "<html><body>hello world</body></html>".getBytes(java.nio.charset.StandardCharsets.UTF_8), "", ""),
      graft.model.Page("http://h1.test/robots.txt", ts,
        "User-agent: *\nDisallow: /*.php$\n".getBytes(java.nio.charset.StandardCharsets.UTF_8), "", ""))
    graft.fixtures.WarcFixture.writeWarcGz(pages, dir, files = 2)
    val store = graft.sources.Warc.toPages(graft.sources.Warc.readRecords(spark, s"$dir/*.warc.gz"))
    val rules = Robots.fromPages(store).collect().map(r => r.host -> r).toMap
    assert(rules("h0.test").disallow === Seq("/priv"))
    assert(rules("h0.test").allow === Seq("/priv/ok"))
    assert(rules("h0.test").crawlDelayMs === 2000L)
    assert(rules("h1.test").disallow === Seq("/*.php$"))
  }

  test("RFC 9309 wildcards: * and trailing-$ in the pure matcher") {
    import Robots.patternMatches
    // '*' spans any byte run; leftmost placement is complete
    assert(patternMatches("/private*", "/private"))
    assert(patternMatches("/private*", "/privateer/x"))
    assert(patternMatches("/a/*/c", "/a/b/c"))
    assert(patternMatches("/a/*/c", "/a/x/y/cde")) // prefix semantics: match then anything
    assert(!patternMatches("/a/*/c", "/a/c"))
    // trailing $ anchors to path end
    assert(patternMatches("/*.php$", "/index.php"))
    assert(patternMatches("/*.php$", "/a/b.php"))
    assert(!patternMatches("/*.php$", "/index.php3"))
    assert(patternMatches("/exact$", "/exact"))
    assert(!patternMatches("/exact$", "/exactly"))
    // '*$' = anchored trailing wildcard = plain prefix
    assert(patternMatches("/p*$", "/p/anything"))
    // $ elsewhere is a literal
    assert(patternMatches("/a$b", "/a$b/c"))
    assert(!patternMatches("/a$b", "/ab"))
    // plain patterns stay pure prefixes
    assert(patternMatches("/tmp/", "/tmp/x"))
    assert(!patternMatches("/tmp/", "/tmpx"))
  }

  test("Column matcher and pure matcher agree pattern-by-pattern (incl. LIKE metachars)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val patterns = Seq("/private*", "/a/*/c", "/*.php$", "/exact$", "/p*$",
      "/a$b", "/tmp/", "/x_y", "/pc%t", "/b\\k", "/*mid*end$")
    val paths = Seq("/private", "/privateer/x", "/a/b/c", "/a/c", "/index.php",
      "/index.php3", "/exact", "/exactly", "/p/anything", "/a$b/c", "/ab",
      "/tmp/x", "/tmpx", "/x_y/z", "/xAy/z", "/pc%t1", "/pcXt1", "/b\\k2",
      "/bXk2", "/1mid2end", "/1mid2end3", "/mid-missing")
    val rows = for (p <- patterns; u <- paths) yield (p, u)
    val df = rows.toDF("pattern", "path")
      .withColumn("col_match",
        // drive the same allowedCol the broadcast filter uses: a lone
        // disallow pattern matches iff the row is NOT allowed
        !Robots.allowedCol(col("path"), array(col("pattern")), typedLit(Array.empty[String])))
    val got = df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    for (p <- patterns; u <- paths) {
      assert(got((p, u)) === Robots.patternMatches(p, u),
        s"Column vs Scala matcher disagree on pattern=$p path=$u")
    }
  }

  test("property sweep: Column LIKE matcher == pure matcher over 2000 random pattern/path pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random generator (no Random: reproducible runs);
    // alphabet deliberately includes every LIKE metachar and the robots
    // wildcards so escaping bugs cannot hide
    val alphabet = "ab/*$_%\\."
    var seed = 0x9E3779B97F4A7C15L
    def nextInt(n: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed >>> 1) % n).toInt + n) % n
    }
    def randStr(maxLen: Int): String =
      (0 until (1 + nextInt(maxLen))).map(_ => alphabet(nextInt(alphabet.length))).mkString
    val rows = (0 until 2000).map(_ => (randStr(8), "/" + randStr(10)))
    val got = rows.toDF("pattern", "path")
      .withColumn("m",
        !Robots.allowedCol(col("path"), array(col("pattern")), typedLit(Array.empty[String])))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    for ((p, u) <- rows)
      assert(got((p, u)) === Robots.patternMatches(p, u),
        s"matchers disagree on pattern='$p' path='$u'")
  }

  test("longest-match specificity: allow wins at >= specificity, wildcard lengths count") {
    import spark.implicits._
    val rules = Seq(graft.model.RobotsRule("h.test", Seq("/*.php$"), Seq("/ok/*.php$"), 0L))
      .toDS()
    val frontier = Seq(
      ("http://h.test/x.php", "h.test"), // disallowed (no allow match)
      ("http://h.test/ok/x.php", "h.test"), // allowed: longer allow pattern
      ("http://h.test/x.html", "h.test")) // no disallow match
      .toDF("url", "host")
    val (allowed, dropped) = Robots.partition(frontier, rules)
    assert(allowed.select("url").as[String].collect().toSet ===
      Set("http://h.test/ok/x.php", "http://h.test/x.html"))
    assert(dropped.select("url").as[String].collect().toSeq === Seq("http://h.test/x.php"))
    // and the sequential oracle agrees
    val rm = Map("h.test" -> graft.model.RobotsRule("h.test", Seq("/*.php$"), Seq("/ok/*.php$"), 0L))
    assert(!graft.ref.ReferenceCrawl.robotsAllows(rm, "http://h.test/x.php", "h.test"))
    assert(graft.ref.ReferenceCrawl.robotsAllows(rm, "http://h.test/ok/x.php", "h.test"))
    assert(graft.ref.ReferenceCrawl.robotsAllows(rm, "http://h.test/x.html", "h.test"))
  }

  test("parsed rules drive the same broadcast filter (and crawl-delay budgets) the crawl uses") {
    import spark.implicits._
    val texts = Seq(
      ("h0.test", "User-agent: *\nDisallow: /p/1\nAllow: /p/12\nCrawl-delay: 2\n"),
      ("h1.test", "User-agent: *\nDisallow: /\n"))
      .toDF("host", "robots_txt")
    val rules = Robots.fromTexts(texts)
    val byHost = rules.collect().map(r => r.host -> r).toMap
    assert(byHost("h0.test").crawlDelayMs === 2000L)
    assert(byHost("h1.test").disallow === Seq("/"))

    val frontier = Seq(
      ("http://h0.test/p/10", "h0.test"), // blocked: /p/1 prefix
      ("http://h0.test/p/125", "h0.test"), // allowed: /p/12 overrides
      ("http://h0.test/q", "h0.test"), // allowed: no prefix
      ("http://h1.test/anything", "h1.test"), // blocked: /
      ("http://h2.test/x", "h2.test")) // no rule: allowed
      .toDF("url", "host")
    val (allowed, dropped) = Robots.partition(frontier, rules)
    assert(allowed.select("url").as[String].collect().toSet ===
      Set("http://h0.test/p/125", "http://h0.test/q", "http://h2.test/x"))
    assert(dropped.count() === 2L)

    // and the pure parser agrees with the sequential oracle's matcher
    val ruleMap = byHost.map { case (h, r) => h -> r }
    assert(!graft.ref.ReferenceCrawl.robotsAllows(ruleMap, "http://h0.test/p/10", "h0.test"))
    assert(graft.ref.ReferenceCrawl.robotsAllows(ruleMap, "http://h0.test/p/125", "h0.test"))
  }

  test("a robots table with two rules for one host fails the crawl, naming the host") {
    import spark.implicits._
    val fix = graft.fixtures.Fixtures.FixtureConfig(nHosts = 2, maxPagesPerHost = 4)
    val pages = spark.createDataset(graft.fixtures.Fixtures.generate(fix)).toDF()
    val host = graft.fixtures.Fixtures.hostName(0)
    val robots = Seq(
      RobotsRule(host, Seq("/a"), Seq.empty, 0L),
      RobotsRule(host, Seq("/b"), Seq.empty, 0L),
      RobotsRule("other.test", Seq("/"), Seq.empty, 0L)).toDS()
    val store = new graft.crawl.SnapshotStore(SparkTestBase.tmpDir("robots-dup"), spark)
    val loop = new graft.crawl.CrawlLoop(spark, graft.model.CrawlConfig(), pages, robots,
      Map.empty, store)
    val e = intercept[IllegalArgumentException](loop.run(Seq(graft.fixtures.Fixtures.urlOf(0, 0))))
    assert(e.getMessage.contains(s"duplicate rules for host(s): $host —"), e.getMessage)
    assert(!e.getMessage.contains("other.test"), e.getMessage)
    assert(store.latestCommitted.isEmpty, "the guard passes before round 0 commits")
  }

  test("robots Sitemap: directives parse globally, dedup, survive comments") {
    val txt =
      """# host robots
        |User-agent: *
        |Disallow: /tmp
        |Sitemap: http://h0.test/sitemap.xml
        |User-agent: bot
        |Allow: /
        |sitemap: http://h0.test/sitemap2.xml   # trailing comment
        |Sitemap: http://h0.test/sitemap.xml
        |Sitemap:
        |""".stripMargin
    assert(graft.robots.Robots.sitemapUrls(txt) ===
      Vector("http://h0.test/sitemap.xml", "http://h0.test/sitemap2.xml"))
    assert(graft.robots.Robots.sitemapUrls(null) === Vector.empty)
    // group parsing is unaffected by interleaved Sitemap lines
    val rule = graft.robots.Robots.parseRobotsTxt("h0.test", txt)
    assert(rule.disallow === Seq("/tmp"))
  }
}
