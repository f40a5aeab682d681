package graft.crawl

import graft.extract.Extract
import graft.filterset.BloomShards
import graft.model._
import graft.robots.Robots
import graft.sched.Politeness
import graft.url.{Policy, UrlFunctions}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One crawl round as one declarative Dataset job (BASELINE.json:6 "each
  * crawl round is a typed Dataset job"). The semantics transcribe the ROUND
  * SPEC in [[graft.ref.ReferenceCrawl]] — the sequential oracle — step for
  * step; parity tests assert exact crawl-order and seen-set equality.
  *
  * Scale shape (SURVEY.md §3.2): at most three shuffles per round — the
  * politeness window, the fetch join (elided into a broadcast-hash join
  * whenever the frontier is small enough), and the dedup anti-join (whose
  * left input the sharded bloom pre-filter thins first). The page store is
  * always the streamed side; discovered-link extraction is pure Catalyst
  * built-ins inside whole-stage codegen. Every intermediate read twice is
  * an eager local checkpoint: later plans start from a leaf, not a cache.
  *
  * Failure: checkpoint blocks are executor-local and cannot be recomputed
  * from lineage, so losing an executor FAILS the round instead of silently
  * recomputing it. The blocks are freed either way ([[RoundOut.release]]),
  * and the atomic per-round commit in [[SnapshotStore]] makes re-running
  * the round exact (resume ≡ uninterrupted).
  */
object CrawlRound {

  val FrontierCols: Seq[String] = Seq("url", "urlHash", "host", "depth", "pord", "pos", "attempt")

  /** ordinal spacing: ord = base + (rangePartitionId << 33) + rowInPartition
    * — monotonically_increasing_id's layout
    */
  private val OrdShift = 33

  /** Mint each fetched row's fetch ordinal `ord`: an opaque long, strictly
    * monotone with the round's (pord, pos) enqueue order and greater than
    * every ordinal of earlier rounds. Ordinals are SPARSE —
    * monotonically_increasing_id (range-partition index << 33 + row index
    * within the sorted partition) — so no global rank/count job is needed:
    * one range shuffle, everything stays columnar inside whole-stage
    * codegen (no RDD round-trip). Children inherit `ord` as their `pord`,
    * which keeps frontier keys at a CONSTANT 16 bytes at any crawl depth
    * (a path-vector key grows 8 bytes per level and rides every shuffle and
    * sort; SURVEY.md §7.4 risk). Values differ across parallelism levels;
    * every ORDERING derived from them (the parity contract) is invariant.
    */
  private def assignOrdinals(df: DataFrame, ordBase: Long, partitions: Int): DataFrame =
    df.repartitionByRange(partitions, col("pord"), col("pos"))
      .sortWithinPartitions(col("pord"), col("pos"))
      .withColumn("ord", lit(ordBase) + monotonically_increasing_id())

  /** first ordinal of the NEXT round given this round's base */
  def nextOrdBase(ordBase: Long, partitions: Int): Long =
    ordBase + (partitions.toLong << OrdShift)

  /** The "fetch": join the frontier against the page store. The equi-key is
    * `urlHash` ONLY — 8-byte shuffle/sort keys instead of 60-80-byte URL
    * strings, and a store prepared with [[PageStore.prepareBucketed]] then
    * satisfies the join's required distribution straight off the scan (no
    * Exchange on the 100-TB side, PlanSpec-pinned). `url` equality applies
    * as a residual filter, which keeps the join EXACT under 64-bit hash
    * collisions (certain at 10^10 rows by birthday bound).
    */
  private[graft] def fetchJoin(pages: DataFrame, frontier: DataFrame,
                               broadcastFrontier: Boolean): DataFrame = {
    val f = frontier.withColumnRenamed("url", "__furl").withColumnRenamed("urlHash", "__fhash")
    val fj = if (broadcastFrontier) broadcast(f) else f
    // url equality is phrased >=/<= so Catalyst does NOT lift it into the
    // equi-keys (a plain === becomes a join key, re-shuffling the bucketed
    // store side on (urlHash, url)); as a residual it is evaluated per
    // hash-matched pair, which keeps the join exact AND the store scan
    // exchange-free.
    // PINNED by PlanSpec "bucketed page store: ... NO Exchange on the store
    // side" — if a Spark upgrade ever canonicalizes a>=b && a<=b back into
    // an equi-key, that test fails loudly; do NOT relax it, rephrase the
    // residual instead (the silent cost would be re-shuffling the 100-TB
    // side every round)
    pages.join(fj,
      col("urlHash") === col("__fhash") &&
        col("url") >= col("__furl") && col("url") <= col("__furl"),
      "inner")
      .drop("__furl", "__fhash")
  }

  /** Exact anti-join vs one seen snapshot. Equi-key is `urlHash`; the `url`
    * equality residual is phrased as a >=/<= pair so Catalyst keeps it OUT
    * of the shuffle keys — a bucketed seen snapshot (seen_all compaction)
    * then anti-joins with no Exchange on the seen side, and unbucketed
    * deltas shuffle on the 8-byte hash instead of the string. Exact under
    * hash collisions: a row drops only when hash AND url both match.
    */
  private[graft] def seenAntiJoin(cand: DataFrame, seen: DataFrame): DataFrame = {
    // >=/<= residual idiom: PINNED by PlanSpec "seen anti-join: shuffles on
    // urlHash only, exact under hash collisions" — see fetchJoin's pin note
    // before touching this phrasing
    val s = seen.select(col("urlHash").as("__shash"), col("url").as("__surl"))
    cand.join(s,
      col("urlHash") === col("__shash") &&
        col("url") >= col("__surl") && col("url") <= col("__surl"),
      "left_anti")
  }

  final case class RoundOut(
      /** deferred ∪ retries — next frontier = carry ∪ fresh, composed at
        * read time so ONE written table (fresh) serves as both the frontier
        * delta and the seen-set delta
        */
      carry: DataFrame,
      fresh: DataFrame,
      order: DataFrame,
      results: DataFrame,
      /** (shard, stage, count) raw lineage counts */
      stats: DataFrame,
      /** frees the checkpoint blocks once every job reading them settled */
      release: () => Unit)

  /** Eager local checkpoint: a leaf plan with no CacheManager entry. Its RDD
    * goes to `kept`, since `Dataset.unpersist` is a no-op on a checkpoint.
    */
  private def checkpoint(kept: ArrayBuffer[RDD[_]])(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    kept += c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    c
  }

  def execute(
      spark: SparkSession,
      cfg: CrawlConfig,
      round: Int,
      frontier: DataFrame,
      frontierCount: Long,
      pages: DataFrame,
      robots: Dataset[RobotsRule],
      robotsEmpty: Boolean,
      /** seen-set snapshots (each: url, urlHash) — typically one compacted
        * bucketed base + the recent uncompacted deltas; anti-joined in turn
        */
      seenParts: Seq[DataFrame],
      bloomDirPrev: Option[String],
      seedHosts: Set[String],
      runners: Map[String, PageRunner],
      /** first fetch ordinal this round may mint (CrawlLoop threads it
        * through commits so resume mints identical ordinals)
        */
      ordBase: Long): RoundOut = {
    import spark.implicits._
    val kept = ArrayBuffer.empty[RDD[_]]
    val release = () => { kept.foreach(_.unpersist(blocking = false)); kept.clear() }
    val keep = checkpoint(kept) _
    try {
      val fc = FrontierCols.map(col)
      val f = keep(frontier.select(fc: _*))

      // 1-2. robots filter (broadcast join, no shuffle)
      val (allowed, robotsDropped) =
        if (robotsEmpty) (f, f.limit(0)) else Robots.partition(f, robots)

      // 3. per-host politeness budget (host-hash-partitioned PQ, secondary
      // sort). roundWallMs > 0 enforces robots crawl-delay: a host fetching
      // one page per crawlDelayMs can serve at most roundWallMs/crawlDelayMs
      // pages in one round's wall — that becomes its budget cap.
      val hostBudgets: Option[DataFrame] =
        if (cfg.roundWallMs > 0 && !robotsEmpty)
          Some(robots.toDF()
            .filter(col("crawlDelayMs") > 0)
            .select(col("host"),
              least(lit(cfg.hostBudget.toLong),
                greatest(lit(1L), (lit(cfg.roundWallMs) / col("crawlDelayMs")).cast("long")))
                .cast("int").as("__budget")))
        else None
      // the politeness split's frames are checkpointed THROUGH the hook so
      // the salted window exchange over the skewed subset runs once per
      // round, not once per (admitted, deferred) branch
      val (admitted0, deferred0) = Politeness.partition(allowed, cfg, hostBudgets, persist = keep)
      val admitted = keep(admitted0.select(fc: _*))
      val deferred = keep(deferred0.select(fc: _*))

      // 4. the "fetch": join against the page store on urlHash (fetchJoin).
      // The store is the big streamed side — shuffle-free when bucketed by
      // urlHash — and the frontier broadcasts when small (BASELINE.json:6).
      // Link extraction runs INSIDE the join stage, so the checkpoint keeps
      // per hit the small (redir, links[]) pair, and the page payload only
      // when runners need the full Page — never the ~KB html otherwise
      val pageCols =
        if (runners.nonEmpty) Seq(col("warc_ts"), col("html"), col("text"), col("lang"))
        else Seq.empty
      val hits = fetchJoin(pages, admitted, frontierCount <= cfg.broadcastFrontierMaxRows)
        .withColumn("htmlStr", Extract.htmlStrCol(col("html")))
        .withColumn("redir", Extract.redirectTargetCol(col("htmlStr")))
        .withColumn("links", Extract.linksCol(col("htmlStr")))
        .select((fc ++ pageCols :+ col("redir") :+ col("links")): _*)
        .transform(keep)

      val hitKeys = hits.select("url", "urlHash")
      val misses = seenAntiJoin(admitted,
        if (frontierCount <= cfg.broadcastFrontierMaxRows) broadcast(hitKeys) else hitKeys)
      val retries = keep(misses
        .filter(col("attempt") + 1 < cfg.maxTries)
        .withColumn("attempt", col("attempt") + 1)
        .select(fc: _*))
      val exhausted = misses.filter(col("attempt") + 1 >= cfg.maxTries)

      // 5. crawl order rows for every successful fetch
      val order = hits.select(col("url"), lit(round).as("round"), col("depth"),
        col("pord"), col("pos"))

      // results: fetch errors + redirect records + runner outputs
      val errResults = exhausted.select(col("url"), lit(round).as("round"),
        lit("__fetch__").as("runner"), lit(null).cast("string").as("result"),
        lit("fetch-miss").as("error"))
      val redirResults = hits.filter(col("redir").isNotNull)
        .select(col("url"), lit(round).as("round"), lit("__redirect__").as("runner"),
          col("redir").as("result"), lit(null).cast("string").as("error"))
      val runnerResults: DataFrame =
        if (runners.isEmpty) spark.emptyDataset[RunnerResult].toDF()
        else {
          val rs = runners.toSeq.sortBy(_._1)
          val r = round
          hits.filter(col("redir").isNull)
            .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
            .as[Page]
            .flatMap { p =>
              // Runners.run = the shared time-bounded surface (timeout error
              // rows byte-identical to the sequential oracle's)
              rs.map { case (k, fn) =>
                Runners.run(fn, p) match {
                  case Right(v)  => RunnerResult(p.url, r, k, Some(v), None)
                  case Left(err) => RunnerResult(p.url, r, k, None, Some(err))
                }
              }
            }.toDF()
        }
      val results = errResults.unionByName(redirResults).unionByName(runnerResults)

      // 5b. discovery. First mint this round's fetch ordinals (one range
      // shuffle over the depth-eligible hits; children inherit them as pord),
      // then Catalyst-planned link extraction (codegen'd built-ins);
      // canonicalize+host is ONE UDF pass (the only UDF on the hot path)
      val ranked = keep(assignOrdinals(
        hits.filter(lit(cfg.maxDepth) >= col("depth") + 1)
          .select(col("url"), col("depth"), col("pord"), col("pos"), col("redir"), col("links")),
        ordBase, math.max(1, cfg.shards)))

      // post-canonicalize URL transform: prefix rewrite, then the opt-in
      // tracking-param strip — SAME composition as the oracle's `post`.
      // Host recomputes only under rewrite (the strip is query-only and
      // cannot change the host), so the no-op config stays zero-cost.
      def canonHost(base: Column, raw: Column): (Column, Column) = {
        val rewritten = cfg.rewrite match {
          case None    => col("ch._1")
          case Some(_) => Policy.rewriteCol(cfg.rewrite, col("ch._1"))
        }
        val c = if (cfg.stripTracking) UrlFunctions.stripTrackingCol(rewritten) else rewritten
        val host = if (cfg.rewrite.isDefined) UrlFunctions.hostOfUdf(c) else col("ch._2")
        (c, host)
      }
      val linkCand = {
        val (curl, chost) = canonHost(col("parentUrl"), col("href"))
        ranked
          .filter(col("redir").isNull)
          .select(col("url").as("parentUrl"), col("depth"), col("ord"),
            posexplode(col("links")).as(Seq("pos", "href")))
          .withColumn("ch", UrlFunctions.canonicalizeWithHost(col("parentUrl"), col("href")))
          .filter(col("ch").isNotNull)
          .withColumn("curl", curl)
          .withColumn("chost", chost)
          .filter(Policy.allowsCol(cfg.policy, col("curl"), col("chost"), seedHosts))
          .select(col("curl").as("url"), xxhash64(col("curl")).as("urlHash"),
            col("chost").as("host"), (col("depth") + 1).as("depth"),
            col("ord").as("pord"), col("pos").cast("long").as("pos"),
            lit(0).as("attempt"))
      }

      val redirCand =
        if (!cfg.followRedirects) linkCand.limit(0)
        else {
          val (curl, chost) = canonHost(col("url"), col("redir"))
          ranked
            .filter(col("redir").isNotNull)
            .withColumn("ch", UrlFunctions.canonicalizeWithHost(col("url"), col("redir")))
            .filter(col("ch").isNotNull)
            .withColumn("curl", curl)
            .withColumn("chost", chost)
            .filter(Policy.allowsCol(cfg.redirectPolicy, col("curl"), col("chost"), seedHosts))
            .select(col("curl").as("url"), xxhash64(col("curl")).as("urlHash"),
              col("chost").as("host"), (col("depth") + 1).as("depth"),
              col("ord").as("pord"), lit(0L).as("pos"),
              lit(0).as("attempt"))
        }

      val candidates = linkCand.unionByName(redirCand)

      // 6. dedup: within-round winner = min (pord, pos) per url — first
      // enqueue wins, as in the reference's seen-at-enqueue Map. A hash
      // aggregate, NOT a window: partial (map-side) aggregation collapses the
      // duplicate-heavy candidate stream before it ever shuffles (and the
      // fixed-width key keeps it a HashAggregate), where a window would
      // shuffle + sort every candidate row. The duplicate count rides along
      // in the same aggregate, so the raw candidate stream is consumed
      // exactly once and never checkpointed. Then the EXACT anti-join vs the seen
      // set; bloom shards pre-filter so rows the filter proves unseen skip
      // the anti-join shuffle entirely.
      val winnowed = keep(candidates
        .groupBy(col("url"))
        .agg(min(struct(col("pord"), col("pos"), col("depth"), col("urlHash"), col("host"), col("attempt"))).as("m"),
          count(lit(1)).as("__dups"))
        .select(col("url"), col("m.urlHash").as("urlHash"), col("m.host").as("host"),
          col("m.depth").as("depth"), col("m.pord").as("pord"), col("m.pos").as("pos"),
          col("m.attempt").as("attempt"), col("__dups")))
      def antiAllSeen(cand: DataFrame): DataFrame =
        seenParts.foldLeft(cand)((df, s) => seenAntiJoin(df, s))
      val fresh0 = bloomDirPrev match {
        case Some(dir) if cfg.bloomPrefilter =>
          val w = winnowed.select(fc: _*).withColumn("__maybe",
            BloomShards.mightBeSeen(dir)(BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash")))
          val definitelyNew = w.filter(!col("__maybe")).select(fc: _*)
          val needExact = antiAllSeen(w.filter(col("__maybe")).select(fc: _*))
          definitelyNew.unionByName(needExact)
        case _ =>
          antiAllSeen(winnowed.select(fc: _*))
      }
      val fresh = keep(fresh0.select(fc: _*))

      // 7. carry-over rows (next frontier = carry ∪ fresh at read time)
      val carry = deferred.select(fc: _*).unionByName(retries)

      // per-shard lineage counts, one aggregation job over checkpointed inputs;
      // "discovered" (pre-dedup) is reconstructed from the winnow aggregate's
      // duplicate counts — no extra pass over the raw candidate stream
      def tag(df: DataFrame, stage: String): DataFrame =
        df.select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"),
          lit(stage).as("stage"), lit(1L).as("w"))
      val stats = tag(f, "frontier")
        .unionByName(tag(robotsDropped, "robots_dropped"))
        .unionByName(tag(deferred, "budget_deferred"))
        .unionByName(tag(admitted, "admitted"))
        .unionByName(tag(hits, "fetched"))
        .unionByName(tag(retries, "retries"))
        .unionByName(tag(exhausted, "errors"))
        .unionByName(winnowed.select(
          BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"),
          lit("discovered").as("stage"), col("__dups").as("w")))
        .unionByName(tag(fresh, "fresh"))
        .groupBy(col("shard"), col("stage")).agg(sum(col("w")).as("count"))

      RoundOut(carry, fresh, order, results, stats, release)
    } catch { case e: Throwable => release(); throw e }
  }
}
