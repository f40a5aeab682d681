package graft.perfbench

import graft.CrawlDemo.TitleRunner
import graft.crawl.{CrawlLoop, CrawlOutcome, CrawlRound, PageStore, SnapshotStore}
import graft.extract.Extract
import graft.filterset.BloomShards
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import graft.ref.ReferenceCrawl
import graft.robots.Robots
import graft.sched.Politeness
import graft.url.{Policy, UrlFunctions}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A crawl workload: the fixture web, the crawl config, seeds, robots
  * rules and runners. Everything is a pure function of the seed.
  */
final case class CrawlSpec(name: String, fix: FixtureConfig, cfg: CrawlConfig,
    seeds: Seq[String], robots: Seq[RobotsRule], runners: Map[String, PageRunner],
    buckets: Int)

object CrawlSpec {
  /** A BFS wave over a Zipf-sized fixture web grown from 16 seeds per host,
    * with no global host budget, a bucketed page store and a sort-merge
    * fetch join, so the per-URL layers (extract, canonicalize, winnow,
    * bloom probe, anti-join) carry the load; the second round carries
    * several times the first round's URLs, so the round-wall fit separates
    * the fixed cost of a round from the per-URL cost.
    * It also runs every other crawl layer: robots rules (every third host
    * disallows a path prefix; every other host sets a crawl-delay, which
    * caps that host's per-round budget via `roundWallMs`), followed
    * redirects, a title runner and a seen-set compaction after round 1.
    */
  def wave(seed: Long): CrawlSpec = {
    val fix = FixtureConfig(nHosts = 64, maxPagesPerHost = 2000, linksPerPage = 8,
      pctCrossDomain = 20, pctRedirect = 4, pctDangling = 4, seed = seed)
    val shards = 4
    val robots = (0 until fix.nHosts).flatMap { h =>
      val r = Fixtures.mix(seed, h.toLong, 4242L)
      val disallow =
        if (Math.floorMod(r, 3L) == 0) Seq(s"/p/${Math.floorMod(r >>> 8, 9L) + 1}") else Seq.empty
      val delay = if (h % 2 == 1) 125L * (1L + Math.floorMod(r >>> 16, 2L)) else 0L
      if (disallow.isEmpty && delay == 0L) None
      else Some(RobotsRule(Fixtures.hostName(h), disallow, Seq.empty, delay))
    }
    val cfg = CrawlConfig(followRedirects = true, policy = UrlPolicy.AllowAll, maxRounds = 2,
      roundWallMs = 1000L, shards = shards, broadcastFrontierMaxRows = 0L, compactSeenEvery = 2,
      bloomExpectedPerShard = math.max(1L << 16, 4L * fix.totalPages / shards))
    CrawlSpec("crawl_wave", fix, cfg,
      for (i <- 0 until 16; h <- 0 until fix.nHosts) yield Fixtures.urlOf(h, i.toLong),
      robots, Map("title" -> TitleRunner), buckets = 16)
  }
}

/** One complete crawl from seeds to its last committed round. */
final case class CrawlRun(wallS: Double, rounds: Int, roundWallS: Seq[Double],
    roundWork: Seq[Double], fetched: Long, discovered: Long, deduped: Long,
    order: Vector[String], seen: Set[String], results: Set[RunnerResult],
    counts: SpanCounts, gcS: Double) {
  def urlsPerS: Double = (fetched + discovered) / wallS
}

final class CrawlWorkload(spark: SparkSession, spec: CrawlSpec, work: String,
    counters: Counters) {
  import spark.implicits._

  private val cfg = spec.cfg
  private val fc = CrawlRound.FrontierCols.map(col)
  private val robotsDs = spark.createDataset(spec.robots)
  private val seedHosts = spec.seeds.map(graft.url.Urls.hostOf).toSet
  private val StoreTable = "perfbench_pages"
  private val storeDir = s"$work/pages"
  private var pages: DataFrame = _

  /** Generate and write the bucketed page store once; returns seconds. */
  def writeStore(): Double = {
    val t0 = System.nanoTime()
    PageStore.prepareBucketed(spark, Fixtures.generateDS(spark, spec.fix).toDF(), StoreTable,
      spec.buckets, storeDir, dedupCaptures = false)
    (System.nanoTime() - t0) / 1e9
  }

  /** One set-up repetition: reattach the page store as a fresh session
    * would, and warm it with a full scan; returns seconds.
    */
  def attachStore(): Double = {
    val t0 = System.nanoTime()
    spark.sql(s"DROP TABLE IF EXISTS `$StoreTable`")
    val p = PageStore.reattach(spark, StoreTable, storeDir, PageStore.PageSchemaDdl, "urlHash", spec.buckets)
    p.agg(count(lit(1)), sum(length(col("html")))).collect()
    pages = p
    (System.nanoTime() - t0) / 1e9
  }

  /** Run the crawl in a fresh store, for at most `rounds` rounds (default:
    * to completion); time only `run`.
    */
  def crawl(tag: String, rounds: Int = cfg.maxRounds): CrawlRun = {
    val store = new SnapshotStore(s"$work/store_$tag", spark)
    val loop = new CrawlLoop(spark, cfg.copy(maxRounds = rounds), pages, robotsDs, spec.runners, store)
    val (out, span) = counters.span(tag)(loop.run(spec.seeds))
    try collectRun(out, span, counters.counts(span)) finally store.clear()
  }

  private def collectRun(out: CrawlOutcome, span: Span, c: SpanCounts): CrawlRun = {
    val store = out.store
    val lineage = store.readLineage(out.lastRound)
    val byRound = lineage.groupBy(_.round).toSeq.sortBy(_._1)
    val walls = (1 to out.lastRound + 1).map(k =>
      store.committedMeta(k).flatMap(_.get("wall_ms")).getOrElse(0L) / 1e3)
    CrawlRun(
      wallS = span.wallS,
      rounds = out.roundsRun,
      roundWallS = walls,
      roundWork = byRound.map { case (_, ls) => ls.map(l => l.fetched + l.discovered).sum.toDouble },
      fetched = lineage.map(_.fetched).sum,
      discovered = lineage.map(_.discovered).sum,
      deduped = lineage.map(_.dedupDropped).sum,
      order = out.order(spark).select("url").as[String].collect().toVector,
      seen = out.seen(spark).select("url").as[String].collect().toSet,
      results = out.results(spark).as[RunnerResult].collect().toSet,
      counts = c,
      gcS = span.gcMs / 1e3)
  }

  /** The sequential oracle's answer for this workload. */
  lazy val reference: ReferenceCrawl.RefResult = {
    val pagesByUrl = Fixtures.generate(spec.fix).map(p => p.url -> p).toMap
    ReferenceCrawl.crawl(pagesByUrl, spec.robots, spec.seeds, cfg, spec.runners)
  }

  /** Empty iff `r` equals the oracle on crawl order, seen set and results. */
  def mismatches(r: CrawlRun): Seq[String] = {
    val ref = reference
    Seq(
      "order" -> (r.order == ref.order.map(_.url)),
      "seen" -> (r.seen == ref.seen),
      "results" -> (r.results == ref.results.toSet))
      .collect { case (what, false) => what }
  }

  def summary(r: CrawlRun): String =
    s"""{"rounds":${r.rounds},"fetched":${r.fetched},"discovered":${r.discovered},""" +
      s""""deduped":${r.deduped},"seen":${r.seen.size},"order_hash":${Stats.setHash(r.order)},""" +
      s""""seen_hash":${Stats.setHash(r.seen)},"wall_s":${Stats.num(r.wallS)},""" +
      s""""shuffle_mb":${Stats.num(r.counts.shuffleMb)},"tasks":${r.counts.tasks}}"""

  // ---------------------------------------------------------------- traced

  /** The same crawl stepped one round at a time through resume
    * (maxRounds = k + 1 on one store), one span per round. Also returns the
    * wall of one resume that finds nothing left to run: what each step
    * after the first adds over an uninterrupted crawl.
    */
  def steppedCrawl(tag: String): (SnapshotStore, Seq[Span], CrawlRun, Double) = {
    val store = new SnapshotStore(s"$work/store_$tag", spark)
    def step(rounds: Int): (CrawlOutcome, Span) = {
      val loop = new CrawlLoop(spark, cfg.copy(maxRounds = rounds), pages, robotsDs,
        spec.runners, store)
      counters.span(s"round${rounds - 1}")(loop.run(spec.seeds))
    }
    var spans = Vector.empty[Span]
    var k = 0
    var done = false
    while (!done && k < cfg.maxRounds) {
      val (out, s) = step(k + 1)
      if (out.roundsRun == 0) done = true
      else { spans :+= s; k += 1 }
    }
    val (_, noop) = step(k)
    val whole = Span(tag, spans.head.startMs, spans.last.endMs, spans.map(_.gcMs).sum)
    val out = CrawlOutcome(store, spans.length, k - 1, cfg.shards)
    (store, spans, collectRun(out, whole, counters.counts(whole)), noop.wallS)
  }

  private def readFrontier(store: SnapshotStore, k: Int): DataFrame = {
    val paths = Seq("carry", "fresh").filter(store.exists(_, k)).map(store.tablePath(_, k))
    spark.read.parquet(paths: _*).select(fc: _*)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def fs(p: String): FileSystem = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (MB, data files) under `dir`; checksum and marker files not counted */
  private def du(dir: String): (Double, Int) = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) (0.0, 0)
    else {
      val it = f.listFiles(p, true)
      var bytes = 0L; var n = 0
      while (it.hasNext) {
        val s = it.next()
        val name = s.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) { bytes += s.getLen; n += 1 }
      }
      (bytes / 1048576.0, n)
    }
  }

  /** per-host crawl-delay budgets, as CrawlRound derives them */
  private def hostBudgets: Option[DataFrame] =
    if (cfg.roundWallMs > 0 && spec.robots.nonEmpty)
      Some(robotsDs.toDF().filter(col("crawlDelayMs") > 0)
        .select(col("host"),
          least(lit(cfg.hostBudget.toLong),
            greatest(lit(1L), (lit(cfg.roundWallMs) / col("crawlDelayMs")).cast("long")))
            .cast("int").as("__budget")))
    else None

  /** Layer replay: each committed round's inputs (frontier, seen parts,
    * bloom dir) through each public layer function in isolation. Returns
    * per-layer totals over all rounds, and the rounds whose replayed fresh
    * rows differ in number from the rows the crawl wrote.
    *
    * The discovery steps (ordinals, candidates, winnow, bloom split) are a
    * copy of CrawlRound.execute, whose steps are private. Where the copy
    * differs: link extraction runs after the fetch join instead of inside
    * its stage; ordinals start at 0 instead of the round's base, which
    * changes no winner; the winnow does not count duplicates. The fresh
    * count check fails the traced run if the copy drifts from CrawlRound.
    */
  def replay(store: SnapshotStore, rounds: Int): (Map[String, Double], Seq[String]) = {
    var replayMismatch = Vector.empty[String]
    val acc = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val replayStore = new SnapshotStore(s"$work/replay_store", spark)
    val compactRounds = (0 until rounds).filter(k => (k + 1) % cfg.compactSeenEvery == 0)
    val measureCompact = if (compactRounds.nonEmpty) compactRounds.toSet else Set(rounds - 1)
    for (k <- 0 until rounds) {
      // a layer's input is materialized as a local checkpoint: a leaf plan,
      // so timing a layer times neither its input's lineage nor cache
      // lookups against every frame cached so far
      def keep(df: DataFrame): DataFrame = df.localCheckpoint()
      val frontier = keep(readFrontier(store, k))
      val nFrontier = frontier.count()
      add("frontier", nFrontier)

      val allowed =
        if (spec.robots.isEmpty) frontier
        else {
          val ((a, d), t) = timed {
            val (a0, d0) = Robots.partition(frontier, robotsDs)
            val a = keep(a0)
            a.count()
            (a, d0.count())
          }
          add("robots_s", t); add("robots_dropped", d)
          a
        }

      val ((admitted, nAdmitted, nDeferred), tPol) = timed {
        val (a0, d0) = Politeness.partition(allowed, cfg, hostBudgets, persist = keep)
        val a = keep(a0.select(fc: _*))
        (a, a.count(), d0.count())
      }
      add("politeness_s", tPol); add("deferred", nDeferred); add("politeness_in", nAdmitted + nDeferred)

      val bcast = store.committedMeta(k).flatMap(_.get("frontier")).getOrElse(nFrontier) <=
        cfg.broadcastFrontierMaxRows
      val ((hits, nHits), fetchSpan) = counters.span(s"fetch$k") {
        val h = keep(CrawlRound.fetchJoin(pages, admitted, bcast))
        (h, h.count())
      }
      add("fetch_s", fetchSpan.wallS); add("admitted", nAdmitted); add("hits", nHits)
      add("store_rows", counters.counts(fetchSpan).recordsRead)

      val (ext, tExt) = timed {
        val e = keep(hits
          .withColumn("htmlStr", Extract.htmlStrCol(col("html")))
          .select(col("url"), col("depth"), col("pord"), col("pos"),
            Extract.redirectTargetCol(col("htmlStr")).as("redir"),
            Extract.linksCol(col("htmlStr")).as("links")))
        e.count()
        e
      }
      add("extract_s", tExt)

      // Discovery, copied from CrawlRound.execute (its steps are private):
      // mint ordinals with one range shuffle over the depth-eligible hits
      // (untimed here), then link and redirect candidates through
      // canonicalize, the post-canonicalize transform and the policy.
      val ranked = keep(ext.filter(lit(cfg.maxDepth) >= col("depth") + 1)
        .repartitionByRange(math.max(1, cfg.shards), col("pord"), col("pos"))
        .sortWithinPartitions(col("pord"), col("pos"))
        .withColumn("ord", monotonically_increasing_id()))
      ranked.count()
      val links = keep(ranked.filter(col("redir").isNull)
        .select(col("url").as("parentUrl"), col("depth"), col("ord"),
          posexplode(col("links")).as(Seq("pos", "href"))))
      val nLinks = links.count()
      def post: (Column, Column) = {
        val rewritten = cfg.rewrite match {
          case None => col("ch._1")
          case Some(_) => Policy.rewriteCol(cfg.rewrite, col("ch._1"))
        }
        val c = if (cfg.stripTracking) UrlFunctions.stripTrackingCol(rewritten) else rewritten
        (c, if (cfg.rewrite.isDefined) UrlFunctions.hostOfUdf(c) else col("ch._2"))
      }
      def candidate(from: DataFrame, base: Column, raw: Column, policy: UrlPolicy, pos: Column) = {
        val (curl, chost) = post
        from.withColumn("ch", UrlFunctions.canonicalizeWithHost(base, raw))
          .filter(col("ch").isNotNull)
          .withColumn("curl", curl)
          .withColumn("chost", chost)
          .filter(Policy.allowsCol(policy, col("curl"), col("chost"), seedHosts))
          .select(col("curl").as("url"), xxhash64(col("curl")).as("urlHash"),
            col("chost").as("host"), (col("depth") + 1).as("depth"),
            col("ord").as("pord"), pos.as("pos"), lit(0).as("attempt"))
      }
      val redirs = ranked.filter(col("redir").isNotNull)
      val nRedirs = if (cfg.followRedirects) redirs.count() else 0L
      val (cands, tPolicy) = timed {
        val linkCand = candidate(links, col("parentUrl"), col("href"), cfg.policy,
          col("pos").cast("long"))
        val c = keep(
          if (!cfg.followRedirects) linkCand
          else linkCand.unionByName(
            candidate(redirs, col("url"), col("redir"), cfg.redirectPolicy, lit(0L))))
        c.count()
        c
      }
      add("links", nLinks + nRedirs); add("policy_s", tPolicy)

      val winnowed = keep(cands.groupBy(col("url"))
        .agg(min(struct(col("pord"), col("pos"), col("depth"), col("urlHash"), col("host"),
          col("attempt"))).as("m"))
        .select(col("url"), col("m.urlHash").as("urlHash"), col("m.host").as("host"),
          col("m.depth").as("depth"), col("m.pord").as("pord"), col("m.pos").as("pos"),
          col("m.attempt").as("attempt")))
      val nWinnowed = winnowed.count()
      add("winnowed", nWinnowed)

      // as CrawlRound: the bloom probe splits the winnowed rows, and only
      // the maybe-seen ones go through the exact anti-join
      val bloomDir = store.bloomDir(k)
      val probe = BloomShards.mightBeSeen(bloomDir) _
      val (probed, tProbe) = timed {
        val w = keep(winnowed.select(fc: _*).withColumn("__maybe",
          probe(BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))))
        w.count()
        w
      }
      val maybe = keep(probed.filter(col("__maybe")).select(fc: _*))
      val nMaybe = maybe.count()
      add("probe_s", tProbe); add("maybe_seen", nMaybe)

      val seenParts = store.readSeenParts(k, cfg.shards)
      add("seen_dirs", store.latestExisting("seen_all", k) match {
        case Some(c) => 1 + (c + 1 to k).size
        case None => k + 1
      })
      val (nExactFresh, tAnti) = timed {
        seenParts.foldLeft(maybe)((df, s) => CrawlRound.seenAntiJoin(df, s)).count()
      }
      val nFresh = nWinnowed - nMaybe + nExactFresh
      add("anti_s", tAnti); add("fresh", nFresh)

      if (store.exists("fresh", k + 1)) {
        val freshStored = keep(store.read("fresh", k + 1).select(fc: _*))
        val nStored = freshStored.count()
        // the replayed discovery must find exactly the rows the crawl wrote
        if (nStored != nFresh) replayMismatch :+= s"fresh_round$k:$nFresh!=$nStored"
        // every stored fresh row of round k was unseen as of round k
        add("fp_base", nStored)
        add("fp_maybe", freshStored.filter(
          probe(BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))).count())
        val (_, tUpd) = timed {
          BloomShards.update(spark,
            freshStored.select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"),
              col("urlHash")),
            Some(bloomDir), s"$work/replay_bloom/round=${k + 1}", cfg)
        }
        add("bloom_update_s", tUpd)
        val (_, tWrite) = timed(replayStore.write("fresh", k + 1, freshStored))
        add("write_s", tWrite)
      }
      val (_, tCommit) = timed(replayStore.commit(k + 1, Map("frontier" -> nFresh, "wall_ms" -> 0L)))
      add("commit_s", tCommit)
      if (measureCompact(k)) {
        val (_, tCompact) = timed(replayStore.writeBucketed("seen_all", k + 1,
          seenParts.reduce(_ unionByName _)
            .unionByName(store.read("fresh", k + 1).select("url", "urlHash")),
          "urlHash", cfg.shards))
        add("compact_s", tCompact); add("compactions", 1)
      }

      val runner = spec.runners.values.headOption.getOrElse(TitleRunner)
      val pagesIn = keep(hits.join(ext.filter(col("redir").isNull).select("url"), Seq("url"), "left_semi")
        .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")))
      val nPages = pagesIn.count()
      val (_, tRun) = timed {
        pagesIn.as[Page].map(p => graft.model.Runners.run(runner, p).isRight).filter(ok => ok).count()
      }
      add("runner_s", tRun); add("runner_pages", nPages)

      // what round k committed, as written by the crawl itself
      val written = Seq(store.tablePath("fresh", k + 1), store.tablePath("carry", k + 1),
        store.tablePath("order", k), store.tablePath("results", k),
        store.tablePath("seen_all", k + 1), store.bloomDir(k + 1)).map(du)
      add("store_mb", written.map(_._1).sum); add("store_files", written.map(_._2).sum)

    }
    // the filter set a probe of the last round consults: the newest file per shard
    val filterMb = (0 until cfg.shards).map { s =>
      (rounds to 0 by -1).iterator.map(r => new Path(s"${store.bloomDir(r)}/shard_$s.bf"))
        .find(p => fs(p.toString).exists(p))
        .map(p => fs(p.toString).getFileStatus(p).getLen / 1048576.0).getOrElse(0.0)
    }.sum
    acc("filter_mb") = filterMb
    replayStore.clear()
    (acc.toMap, replayMismatch)
  }
}
