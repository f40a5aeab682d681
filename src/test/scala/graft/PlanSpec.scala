package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make the engine
  * scale must be visible in `explain`, not just hoped for — filter/column
  * pushdown into the parquet scan, broadcast for the robots-shaped join,
  * whole-stage codegen around the custom expressions, partial aggregation
  * for the winnow dedup.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection push down into the parquet scan") {
    val df = SparkEntry.queries("q07_filter_pushdown")(spark, dir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("EqualTo(o_orderstatus,O)"), "status filter should be pushed")
    assert(plan.contains("GreaterThan(o_total"), "price filter should be pushed")
    // column pruning: the scan must not read o_orderdate/o_orderpriority
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderdate"), s"scan reads pruned column: $readSchema")
  }

  test("robots-shaped dimension join is broadcast, not shuffled") {
    val df = SparkEntry.queries("q16_robots_broadcast")(spark, dir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("brute-force kNN broadcasts its corpus side only under the broadcast threshold") {
    import spark.implicits._
    val emb = (0 until 40).map(i => (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val small = Similarity.bruteForceTopK(emb, k = 3)
    val expected = small.collect().toSet
    assert(planOf(small).contains("BroadcastExchange"), s"a small corpus side is broadcast:\n${planOf(small)}")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = Similarity.bruteForceTopK(emb, k = 3)
      assert(big.collect().toSet === expected, "the unbroadcast cross join must give the same top-k")
      val plan = planOf(big)
      assert(!plan.contains("Broadcast"), s"over the threshold the corpus must not be broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedup anti-join plans as a join, never a cartesian") {
    val df = SparkEntry.queries("q09_dedup_anti")(spark, dir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("LeftAnti"), s"expected left-anti join:\n$plan")
    assert(!plan.contains("Cartesian"), "anti join must not degrade to cartesian")
  }

  test("custom DotProduct stays inside whole-stage codegen") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = e.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    df.collect()
    // the *(N) prefix marks operators fused into a WholeStageCodegen stage
    val exec = df.queryExecution.executedPlan
    val inCodegen = exec.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(inCodegen, s"expected codegen:\n$exec")
  }

  test("winnow dedup aggregates partially before the shuffle (map-side combine)") {
    import spark.implicits._
    val cand = Seq((1L, "u1", 0), (2L, "u1", 1), (3L, "u2", 0)).toDF("urlHash", "url", "depth")
    val agg = cand.groupBy($"url").agg(min(struct($"depth", $"urlHash")).as("m"))
    agg.collect()
    val plan = planOf(agg)
    // struct-with-array min buffers are not fixed-width, so Spark plans a
    // SortAggregate — what matters for scale is the PARTIAL (map-side)
    // aggregate running before the exchange, collapsing duplicates pre-shuffle
    assert(plan.contains("partial_min"), s"expected map-side partial aggregate:\n$plan")
    val exchangeIdx = plan.indexOf("Exchange")
    val partialIdx = plan.indexOf("partial_min")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "partial aggregate must sit below the exchange (map side)")
  }

  test("bucketed page store: fetch join plans with NO Exchange on the store side") {
    import spark.implicits._
    val fix = graft.fixtures.Fixtures.FixtureConfig(nHosts = 3, maxPagesPerHost = 12)
    val pagesDf = spark.createDataset(graft.fixtures.Fixtures.generate(fix)).toDF()
    val pages = graft.crawl.PageStore.prepareBucketed(
      spark, pagesDf, "t_pages_bucketed_planspec", 4, SparkTestBase.tmpDir("bucketed-pages"))
    val frontier = pagesDf.select(col("url"), xxhash64(col("url")).as("urlHash")).limit(20)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.crawl.CrawlRound.fetchJoin(pages, frontier, broadcastFrontier = false)
        .select("url")
      joined.collect()
      // AQE toString includes the pre-execution "Initial Plan" — assert on
      // the final executed section only
      val full = joined.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), s"store scan not bucketed:\n$plan")
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nExchanges == 1,
        s"expected exactly 1 exchange (the frontier side), got $nExchanges:\n$plan")
      assert(plan.contains("hashpartitioning(__fhash"),
        s"frontier must shuffle on the 8-byte hash, not the url string:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("seen anti-join: shuffles on urlHash only, exact under hash collisions") {
    import spark.implicits._
    // two different urls sharing a (synthetic) hash: the collision victim
    // must SURVIVE the anti-join — url equality rides as a residual
    val cand = Seq(("http://a.test/x", 7L), ("http://a.test/y", 8L)).toDF("url", "urlHash")
    val seen = Seq(("http://b.test/colliding", 7L), ("http://a.test/y", 8L)).toDF("url", "urlHash")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val anti = graft.crawl.CrawlRound.seenAntiJoin(cand, seen)
      val rows = anti.select("url").as[String].collect().toSet
      assert(rows === Set("http://a.test/x"),
        "hash-colliding candidate with a DIFFERENT url must survive; exact match must drop")
      val plan = anti.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"expected left-anti join:\n$plan")
      assert(plan.contains("hashpartitioning(urlHash") || plan.contains("hashpartitioning(__shash"),
        s"anti-join must partition on the hash:\n$plan")
      assert(!plan.contains("hashpartitioning(url#") && !plan.contains("hashpartitioning(url,"),
        s"anti-join must NOT partition on the url string:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("politeness split: no url-string hashpartitioning, no deferred-side join") {
    import spark.implicits._
    val frontier = (0 until 200).map(i =>
      (s"http://h${i % 3}.test/p/$i", i.toLong * 7919, s"h${i % 3}.test", i.toLong, 0L))
      .toDF("url", "urlHash", "host", "pord", "pos")
    val cfg = graft.model.CrawlConfig(hostBudget = 10, saltFactor = 4)
    val (admitted, deferred) = graft.sched.Politeness.partition(frontier, cfg)
    assert(admitted.count() === 30L)
    assert(deferred.count() === 170L)
    Seq("admitted" -> admitted, "deferred" -> deferred).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(url#") && !plan.contains("hashpartitioning(url,"),
        s"$name plan must never shuffle on the url string:\n$plan")
    }
    // deferral is a rank-split, not an anti-join against the admitted set
    // (the overflow-host semi/anti joins on `host` remain — broadcast, tiny)
    val deferredPlan = deferred.queryExecution.executedPlan.toString
    assert(!deferredPlan.contains("LeftAnti"),
      s"deferred must come from splitting the ranked frame, not an anti-join:\n$deferredPlan")
  }

  test("exactDupGroups groups on the 32-byte sha-256 key, never the raw text column") {
    import spark.implicits._
    val docs = Seq((3L, "same text"), (1L, "same text"), (2L, "other text"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.exactDupGroups(docs)
    assert(out.select("n", "keep").as[(Long, Long)].collect().toSeq === Seq((2L, 1L)),
      "one group of two, keeping the min id")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(text#") && !plan.contains("hashpartitioning(text,"),
      s"multi-KB documents must not be shuffle keys:\n$plan")
    // the sha2 key is asserted on the analyzed plan (a LocalRelation input
    // may constant-fold it out of the executed plan), the shuffle-key shape
    // on the executed plan above. sha-256 not md5: crawl text is
    // adversarial, md5 collisions are constructible, and a collided pair
    // would silently merge two documents.
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains("sha2"), s"expected the sha2 group key in:\n$analyzed")
  }

  test("ivfTopK: broadcast assignment, map-side WindowGroupLimit prune, equi-join candidates") {
    val df = SparkEntry.queries("qd_ann_ivf")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment must be a broadcast nested loop (nlist rows):\n${plan.take(3000)}")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"the n×nlist assignment stream must map-side prune before its exchange:\n${plan.take(3000)}")
    // the candidate stage is an equi-join on the centroid id — the ONLY
    // nested-loop join allowed is the tiny centroid broadcast
    assert(!plan.contains("CartesianProduct"),
      s"candidates must come from the cid equi-join, never a cartesian:\n${plan.take(3000)}")
    graft.ops.OpCaches.releaseAll()
  }

  test("searchTopK: query side broadcasts, corpus streams map-side, rank prunes partially") {
    val df = SparkEntry.queries("qd_ann_search")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the SMALL query set must broadcast so the corpus never shuffles pre-rank:\n${plan.take(3000)}")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"per-query top-k must map-side prune the |Q|x|C| stream before its exchange:\n${plan.take(3000)}")
    graft.ops.OpCaches.releaseAll()
  }

  test("ivfSearchTopK: corpus assigns map-side (fused expression) and never shuffles pre-rank") {
    val df = SparkEntry.queries("qd_ann_search_ivf")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE hides stage subtrees from TreeNode.collect (QueryStageExec keeps
    // its plan as a member, not a child) — flatten through them explicitly
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q.plan +: p.children
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r.child +: p.children
        case _ => p.children
      }
      p +: through.flatMap(flatten)
    }
    // the probe side (query set) must be the BROADCAST build of a cid
    // equi-join — never a shuffle of the corpus
    val bhj = flatten(finalPlan).collectFirst {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.getOrElse(fail(s"expected a broadcast hash join on cid:\n$finalPlan"))
    val streamed = flatten(bhj.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bhj.right
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.left
    })
    // corpus path: scan → fused map-side assignment → join; no Exchange of
    // corpus vectors anywhere before the join (the window formulation would
    // shuffle every vector on id just to pick its argmax centroid)
    assert(streamed.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      s"corpus parquet scan must stream into the join:\n${streamed.mkString("\n")}")
    assert(streamed.exists(_.toString.contains("ivf_assign(")),
      s"corpus list assignment must be the fused map-side expression:\n${streamed.mkString("\n")}")
    assert(!streamed.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] ||
        n.isInstanceOf[org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec]),
      s"corpus side must not shuffle pre-rank:\n${streamed.mkString("\n")}")
    // per-(query, list) lossless prune fires before the first
    // corpus-touching exchange
    val planStr = finalPlan.toString
    assert(planStr.contains("WindowGroupLimit") && planStr.contains("Partial"),
      s"per-list top-k must map-side prune before its exchange:\n${planStr.take(3000)}")
    graft.ops.OpCaches.releaseAll()
  }

  test("minhash LSH near-dups plan as bucket equi-joins, not cross joins") {
    Seq("qd_dedup_minhash", "qd_ngram_jaccard", "qd_dedup_simhash", "qd_dedup_delta",
        "qd_embed_neardup").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
        s"$name: LSH candidate generation must be an equi-join:\n$plan")
    }
    graft.ops.OpCaches.releaseAll()
  }

  test("decontam: corpus probes the broadcast gram set in ONE pass, no corpus shuffle") {
    val df = SparkEntry.queries("qd_decontam")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"eval gram set must broadcast into the probe:\n$plan")
    // exactly two hash exchanges: the eval-side distinct and the folded
    // per-doc aggregate — the exploded corpus gram stream itself never
    // shuffles (partial aggregation collapses it map-side first)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 2, s"expected 2 hash exchanges (eval distinct + doc fold), got $nEx:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-doc fold must partially aggregate before its exchange:\n$plan")
    graft.ops.OpCaches.releaseAll()
  }

  test("pageRank: cached edge table, equi-joins only, no cartesian") {
    val df = SparkEntry.queries("qg_pagerank")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"no cartesian in pageRank:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"edges+outdeg must come from the one persisted table each iteration:\n$plan")
    graft.ops.OpCaches.releaseAll()
  }

  test("connectedComponents: persisted symmetrized edges, equi-joins only") {
    val df = SparkEntry.queries("qg_components")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"no cartesian in CC:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"each round must read the one persisted edge table:\n$plan")
    graft.ops.OpCaches.releaseAll()
  }

  test("dedupLines: boilerplate keys broadcast back; corpus lines shuffle only into aggregates") {
    val df = SparkEntry.queries("qd_dedup_lines")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate key set must broadcast into the per-line verdict:\n$plan")
    // this fixture is under the broadcast threshold, so the gate's
    // provably-tiny fast path fires: ONE job, the r6 shape — three hash
    // exchanges (per-doc distinct, df aggregate, per-doc reassembly); the
    // line stream itself never shuffles twice for the verdict. (The
    // observed-count path's extra exchanges live in its count job and are
    // exercised by the GraphSpec gate-equivalence scenario.)
    val livePlan = plan.split("InMemoryRelation")(0)
    val nEx = "Exchange hashpartitioning".r.findAllIn(livePlan).length
    assert(nEx <= 3, s"expected <=3 live hash exchanges, got $nEx:\n$plan")
    assert(plan.contains("partial"),
      s"df count must partially aggregate before its exchange:\n$plan")
  }

  test("balanceDomains: factors broadcast back, repetition is a map-side explode") {
    val df = SparkEntry.queries("qd_balance_domains")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"per-group factors must broadcast-join the corpus:\n$plan")
    assert(plan.contains("Generate explode"),
      s"repetition must be a generator, not a join:\n$plan")
    // the corpus shuffles only into the (tiny, persisted) per-group count
    // aggregate; the global max is a partial-aggregating agg(max) broadcast
    // back — NEVER a Window.partitionBy() (which would ship the whole count
    // table into one task and sort it: at web registrable-domain
    // cardinality that is a single-task sort of ~10^8 rows)
    assert(!plan.contains("Window"),
      s"global max must be an aggregate, not a single-partition window:\n$plan")
    graft.ops.OpCaches.releaseAll()
  }

  test("lmScore: corpus-sized instance stream shuffles on 8-byte hash keys, never token strings") {
    val df = SparkEntry.queries("qd_lm_score")(spark, dir)
    val plan = planOf(df)
    // the bigram/unigram count joins key on xxhash64 values (fixed-width
    // longs — the #<id>L suffix); the variable-width w1/bg strings must
    // never be exchange keys (VERDICT r6 Next #3)
    assert("hashpartitioning\\(bgh#\\d+L".r.findFirstIn(plan).isDefined,
      s"bigram join must key on the 8-byte hash:\n$plan")
    assert("hashpartitioning\\(w1h#\\d+L".r.findFirstIn(plan).isDefined,
      s"unigram join must key on the 8-byte hash:\n$plan")
    assert("hashpartitioning\\((bg|w1)#".r.findFirstIn(plan).isEmpty,
      s"token strings must not be exchange keys:\n$plan")
  }

  test("blocklist: suffix-chain turns subtree match into equi-joins — no nested loop") {
    val df = SparkEntry.queries("qd_blocklist")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"subtree blocking must be equi-joins, never a theta/nested loop:\n$plan")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"expected semi (suffix hit) + anti (survivors) joins:\n$plan")
  }

  test("pii redaction is map-only: zero hash exchanges, fuses into the scan stage") {
    val df = SparkEntry.queries("qd_pii")(spark, dir)
    df.collect() // AQE prints codegen spans only in the final plan
    val plan = planOf(df)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 0, s"redaction must not shuffle, got $nEx exchanges:\n$plan")
    // codegen spans render as "WholeStageCodegen (n)" or the "*(n)" prefix
    // depending on which AQE plan section survives toString
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"regex passes must run inside codegen:\n$plan")
  }

  test("traps: no Expand (dual-distinct) — two plain hash aggregates") {
    val df = SparkEntry.queries("qd_traps")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Expand"),
      s"dual count_distinct would double every URL row pre-shuffle:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"pattern counts must partially aggregate map-side:\n$plan")
  }

  test("capPerDomain: rank<=k prunes per input partition (WindowGroupLimit)") {
    val df = SparkEntry.queries("qd_cap_domain")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("WindowGroupLimit"),
      s"the cap must prune before the domain exchange, not rank the corpus:\n$plan")
  }

  test("registrable domain: PSL broadcasts into an equi semi-join, never a per-pattern scan") {
    val df = SparkEntry.queries("qd_registrable")(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"suffix-list membership must be a broadcast hash join:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"longest-match must not scan patterns per row:\n$plan")
  }

  test("corpusStats: exact percentiles never single-partition the corpus") {
    val df = SparkEntry.queries("qd_corpus_stats")(spark, dir)
    val plan = planOf(df)
    // the naive exact-percentile (global row_number over the corpus) plans
    // an Exchange SinglePartition; the histogram form must not
    assert(!plan.contains("Exchange SinglePartition"),
      s"percentile path must stay partitioned by language:\n$plan")
  }

  test("recrawl: ONE page-key shuffle serves both the lag window and the aggregate") {
    val df = SparkEntry.queries("qd_recrawl")(spark, dir)
    val plan = planOf(df)
    // window partitionBy(page) and groupBy(page) share hashpartitioning;
    // the data-derived "now" is a map-side partial max on a 1-row branch
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 1, s"expected 1 hash exchange (page key, reused), got $nEx:\n$plan")
    assert(plan.contains("partial_max"),
      s"the now-timestamp branch must partially aggregate map-side:\n$plan")
  }

  test("hostLedger: two plain hash aggregates — no Expand, text never a shuffle key") {
    val df = SparkEntry.queries("qd_host_ledger")(spark, dir)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Expand"),
      s"the ledger must not use distinct-aggregate Expand:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"both aggregates must combine map-side:\n$plan")
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { ex =>
      assert(!ex.contains("text#"), s"text column must never be a shuffle key: $ex")
    }
  }

  test("stripDupSpans: window keys travel as 8-byte hashes, equi-joins only, partial counts") {
    val df = SparkEntry.queries("qd_strip_spans")(spark, dir)
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"coverage must come from equi-joins, never a range/cross join:\n$plan")
    assert(plan.contains("partial_count"),
      s"the shared-window count must combine map-side:\n$plan")
    // the gram text never shuffles — window identity is the xxhash64 key
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { ex =>
      assert(!ex.contains("gram"), s"gram strings must never be shuffle keys: $ex")
    }
  }

  test("normalizeText is map-only: zero exchanges, NFC + regexes fused into the scan stage") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.ops.TextAnalysis.normalizeText(col("text")).as("t"))
    df.collect()
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"normalization must not shuffle:\n$plan")
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"the NFC expression must fuse into codegen:\n$plan")
  }

  test("dupNgramStats: fixed-width-key shuffles only, both aggregates partial map-side") {
    val df = SparkEntry.queries("qd_dup_ngrams")(spark, dir)
    df.collect()
    val plan = planOf(df)
    // text is scanned (twice) but NEVER shuffled: every exchange keys on
    // the 8-byte gram hash or the doc id
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { ex =>
      assert(ex.contains("g#") || ex.contains("doc_id#"),
        s"exchange on an unexpected key: $ex")
      assert(!ex.contains("text#"), s"text column must never be a shuffle key: $ex")
    }
    assert(plan.contains("partial_count"),
      s"gram counts must partially aggregate map-side:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"the shared-gram join must stay an equi-join:\n$plan")
  }
}
