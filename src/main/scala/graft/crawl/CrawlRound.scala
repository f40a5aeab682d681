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
  * built-ins inside whole-stage codegen.
  *
  * Checkpoints: a frame is an eager local checkpoint (a leaf for later
  * plans, not a cache) only where a second reader or a plan cut pays for
  * the job it costs. A round runs six executions before its last outputs,
  * five of them one after another:
  *  - the bounded overflow-host collect inside [[Politeness.partition]];
  *  - the politeness split frame (through its `persist` hook): admitted
  *    and deferred are filters of it, so its two window exchanges run once;
  *  - `hits`: the fetch join and link extraction, read by the order,
  *    results, misses, ordinal and lineage plans;
  *  - `misses` (admitted but not in the store): read by the carry and
  *    results writes and the lineage counts;
  *  - `winnowed`: read twice by the bloom split and again by lineage;
  *  - `fresh`: read by the fresh write and by the bloom update.
  * The order, results and carry writes need only the fetch side, so they
  * start once `hits` exists and run while discovery (`winnowed`, `fresh`)
  * does ([[RoundOut.discover]]); the first of them to need `misses`
  * checkpoints it, also off the critical path. Not checkpointed: the
  * frontier (a projected scan of carry ∪ fresh, cheaper to re-read than
  * to checkpoint) and the ordinal-ranked hits (read once, by the winnow).
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
      carry: () => DataFrame,
      order: DataFrame,
      results: () => DataFrame,
      /** Runs discovery (the winnow and fresh checkpoints) and returns
        * (fresh, stats); stats = (shard, stage, count) raw lineage counts,
        * with no "fresh" stage. carry, order and results read only the
        * fetch side (the first caller of carry or results checkpoints the
        * misses), so their writes can run meanwhile.
        */
      discover: () => (DataFrame, DataFrame),
      /** frees the checkpoint blocks once every job reading them settled */
      release: () => Unit)

  /** Eager local checkpoint: a leaf plan with no CacheManager entry. Its RDD
    * goes to `kept`, since `Dataset.unpersist` is a no-op on a checkpoint.
    * Columns are re-aliased first, so the leaf's attribute ids are its own:
    * a checkpoint keeps the ids of the plan it was cut from, and two leaves
    * cut from one frontier (the split frame and `misses`) would otherwise
    * share ids in one plan — where the optimizer can bind an id to the
    * wrong leaf (seen: carry's incremented `attempt` read back unchanged
    * once the union's empty deferred branch was pruned).
    */
  private def checkpoint(kept: ArrayBuffer[RDD[_]])(df: DataFrame): DataFrame = {
    val c = df.select(df.columns.map(n => col(n).as(n)): _*).localCheckpoint()
    kept.synchronized(kept += c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd)
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
    val release = () => kept.synchronized { kept.foreach(_.unpersist(blocking = false)); kept.clear() }
    val keep = checkpoint(kept) _
    try {
      val fc = FrontierCols.map(col)
      // a projection of a leaf scan of carry ∪ fresh: every reader re-reads
      // the files, which costs less than the job a checkpoint would take
      val f = frontier.select(fc: _*)

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
      // the hook checkpoints the split frame both outputs filter, so the
      // politeness windows run once per round, not once per branch
      val (admitted, deferred) = Politeness.partition(allowed, cfg, hostBudgets, persist = keep)

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

      // misses (admitted, not in the store) feed the carry and results
      // writes and the lineage counts. Checkpointed on first use — by the
      // output thread that writes carry or results — so the anti-join runs
      // while discovery does, off the round's critical path.
      val hitKeys = hits.select("url", "urlHash")
      // a frontier too large to broadcast keeps a sort-merge anti-join: AQE
      // would otherwise convert it to a broadcast join after both shuffles
      // already ran, one more job for a join that is already planned
      lazy val misses = keep(seenAntiJoin(admitted,
        if (frontierCount <= cfg.broadcastFrontierMaxRows) broadcast(hitKeys) else hitKeys.hint("merge")))
      val retry = col("attempt") + 1 < cfg.maxTries

      // 5. crawl order rows for every successful fetch
      val order = hits.select(col("url"), lit(round).as("round"), col("depth"),
        col("pord"), col("pos"))

      // results: fetch errors (exhausted misses) + redirect records + runner
      // outputs
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
      val results = () => misses.filter(!retry)
        .select(col("url"), lit(round).as("round"), lit("__fetch__").as("runner"),
          lit(null).cast("string").as("result"), lit("fetch-miss").as("error"))
        .unionByName(redirResults).unionByName(runnerResults)

      // 5c. carry-over rows (next frontier = carry ∪ fresh at read time)
      val carry = () => deferred.unionByName(
        misses.filter(retry).withColumn("attempt", col("attempt") + 1).select(fc: _*))

      val discover = () => {
        // 5b. discovery. Mint this round's fetch ordinals (one range shuffle
        // over the depth-eligible hits; children inherit them as pord), then
        // build every candidate in ONE pass: a page's outlinks, or its
        // redirect target (pos 0) when redirects are followed — a redirect
        // page has no link candidates. Link extraction is Catalyst built-ins
        // (codegen'd); canonicalize+host is ONE UDF pass (the only UDF on the
        // hot path). The ordinals are read exactly once, by the winnow below,
        // so their values never depend on a recomputation.
        val ranked = assignOrdinals(
          hits.filter(lit(cfg.maxDepth) >= col("depth") + 1)
            .select(col("url"), col("depth"), col("pord"), col("pos"), col("redir"), col("links")),
          ordBase, math.max(1, cfg.shards))
        val isRedir = col("redir").isNotNull
        val targets =
          if (cfg.followRedirects) when(isRedir, array(col("redir"))).otherwise(col("links"))
          else when(!isRedir, col("links"))

        // post-canonicalize URL transform: prefix rewrite, then the opt-in
        // tracking-param strip — SAME composition as the oracle's `post`.
        // Host recomputes only under rewrite (the strip is query-only and
        // cannot change the host), so the no-op config stays zero-cost.
        val rewritten = cfg.rewrite match {
          case None    => col("ch._1")
          case Some(_) => Policy.rewriteCol(cfg.rewrite, col("ch._1"))
        }
        val curl = if (cfg.stripTracking) UrlFunctions.stripTrackingCol(rewritten) else rewritten
        val chost = if (cfg.rewrite.isDefined) UrlFunctions.hostOfUdf(curl) else col("ch._2")
        val candidates = ranked
          .select(col("url"), col("depth"), col("ord"), isRedir.as("__redir"),
            posexplode(targets).as(Seq("pos", "href")))
          .withColumn("ch", UrlFunctions.canonicalizeWithHost(col("url"), col("href")))
          .filter(col("ch").isNotNull)
          .withColumn("curl", curl)
          .withColumn("chost", chost)
          .filter(when(col("__redir"), Policy.allowsCol(cfg.redirectPolicy, col("curl"), col("chost"), seedHosts))
            .otherwise(Policy.allowsCol(cfg.policy, col("curl"), col("chost"), seedHosts)))
          .select(col("curl").as("url"), xxhash64(col("curl")).as("urlHash"),
            col("chost").as("host"), (col("depth") + 1).as("depth"),
            col("ord").as("pord"), col("pos").cast("long").as("pos"),
            lit(0).as("attempt"))

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

        // per-shard lineage counts: one aggregation in the output phase over
        // the frontier scan and the checkpoints, with no join. The robots
        // split partitions the frontier, so robots drops are counted by
        // difference: dropped = frontier - admitted - deferred. "discovered"
        // (pre-dedup) is the winnow aggregate's duplicate counts — no extra
        // pass over the raw candidate stream. Per-shard "fresh" is the bloom
        // update's insert count (CrawlLoop).
        def tag(df: DataFrame, tags: (Column, Column)*): DataFrame =
          df.select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"),
            explode(array(tags.map { case (stage, w) => struct(stage.as("stage"), w.as("w")) }: _*)).as("t"))
        val one = lit(1L)
        val stats = tag(f, lit("robots_dropped") -> one)
          .unionByName(tag(admitted, lit("admitted") -> one, lit("robots_dropped") -> lit(-1L)))
          .unionByName(tag(deferred, lit("budget_deferred") -> one, lit("robots_dropped") -> lit(-1L)))
          .unionByName(tag(hits, lit("fetched") -> one))
          .unionByName(tag(misses, when(retry, "retries").otherwise("errors") -> one))
          .unionByName(tag(winnowed, lit("discovered") -> col("__dups")))
          .groupBy(col("shard"), col("t.stage").as("stage")).agg(sum(col("t.w")).as("count"))

        (fresh, stats)
      }

      RoundOut(carry, order, results, discover, release)
    } catch { case e: Throwable => release(); throw e }
  }
}
