package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.ops.OpCaches
import org.apache.spark.sql.{Row, SparkSession}

/** The curation / similarity / graph query suite (`SparkEntry.queries`)
  * under the graft.Bench protocol (fixed name order, `OpCaches.releaseAll`
  * after each query, an untimed warm-up pass before any timed pass), except
  * that the action is `collect()` instead of `count()`: an operation is the
  * query's complete result, and every result's digest is checked. The
  * tables are the fixed sf0.001 set kept under perfbench/data; the seed
  * does not change them.
  *
  * `--trace 0` times passes over [[Timed]]: Graph, Dedup, Similarity, Curate.
  * `--trace 1` runs the whole suite once, a span per query, with no
  * warm-up pass: a warm-up pass over all 73 queries and a traced pass do
  * not fit in one run's time limit on 4 cores.
  */
object QuerySuite {
  /** the timed pass, in name order: one query for each module no crawl
    * runs (four fit the run budget)
    */
  val Timed: Seq[String] = Seq(
    "qg_pagerank",      // Graph
    "qd_dedup_minhash", // Dedup
    "qd_ann_lsh",       // Similarity
    "qd_curate"         // Curate
  ).sorted

  /** queries that took at least 0.5 s (warm, 4 cores, sf0.001) when the
    * benchmark was added; each has a `query.<name>_s` metric
    */
  val Reported: Seq[String] = Seq(
    "q02_fetch_join_inner", "q19_setops", "qd_ann_ivf", "qd_ann_lsh", "qd_ann_lsh_mp",
    "qd_ann_search_ivf", "qd_balance_domains", "qd_blocklist", "qd_curate", "qd_curate_pack",
    "qd_dedup_cluster", "qd_dedup_corpus", "qd_dedup_delta", "qd_dedup_minhash",
    "qd_dedup_minhash_all", "qd_dedup_simhash", "qd_dedup_simhash_all", "qd_embed_corpus",
    "qd_embed_neardup", "qd_knn_brute", "qd_ngram_jaccard", "qd_pack_shards",
    "qd_recrawl_rank", "qd_tfidf", "qd_write_shards", "qg_anchor_agg", "qg_components",
    "qg_frontier_rank", "qg_pagerank")

  /** the `graft.ops` module each query is built on (from SparkEntry) */
  private val ModuleOf: Map[String, Set[String]] = Map(
    "Dedup" -> Set("qd_dedup_exact", "qd_dedup_minhash", "qd_dedup_minhash_all",
      "qd_dedup_corpus", "qd_dedup_cluster", "qd_dedup_delta", "qd_dedup_simhash",
      "qd_dedup_simhash_all", "qd_ngram_jaccard", "qd_strip_spans"),
    "Similarity" -> Set("qd_embed_neardup", "qd_embed_corpus", "qd_knn_brute", "qd_ann_lsh",
      "qd_ann_lsh_mp", "qd_ann_ivf", "qd_ann_search", "qd_ann_search_ivf"),
    "Curate" -> Set("qd_pack_shards", "qd_curate", "qd_curate_pack", "qd_write_shards",
      "qd_dedup_lines", "qd_balance_domains", "qd_sample", "qd_cap_domain", "qd_host_ledger"),
    "TextAnalysis" -> Set("qd_langid", "qd_lm_score", "qd_tfidf", "qd_corpus_stats",
      "qd_quality", "qd_repetition", "qd_token_count", "qd_normalize", "qd_dup_ngrams",
      "qd_fingerprint"))

  val Modules: Seq[String] = Seq("Dedup", "Similarity", "Graph", "Curate", "TextAnalysis", "other")

  /** the per-layer metrics of a traced pass, with their units */
  val LayerMetrics: Seq[(String, String)] =
    Reported.map(q => s"query.${q}_s" -> "s") ++ Modules.map(m => s"ops.${m}_s" -> "s") ++
      Seq("crawlq_s" -> "s", "suite.shuffle_mb" -> "MB", "suite.tasks" -> "count")

  /** q02–q19 are the crawl-shaped queries (`crawlq`); qg_* use graft.ops.Graph */
  def isCrawlQuery(q: String): Boolean = q.matches("q[0-9].*")

  def module(q: String): String =
    if (q.startsWith("qg_")) "Graph"
    else ModuleOf.collectFirst { case (m, qs) if qs(q) => m }.getOrElse("other")

  /** Order-insensitive digest of a query result: the row count and a
    * sum of per-row hashes, computed on the driver from the collected rows
    * (results are small at sf0.001). Floating-point values are rounded to
    * 12 significant digits first, so the last-bit noise of a parallel
    * float sum does not change the digest.
    */
  def rowHash(rows: Array[Row]): String =
    s"${rows.length}:${Stats.setHash(rows.map(r => norm(r).toString))}"

  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => roundSig(d)
    case f: Float => roundSig(f.toDouble)
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (norm(k), norm(x)).toString }.sorted
    case xs: scala.collection.Seq[_] => xs.map(norm)
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  private def roundSig(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString

  /** expected digests, one `"name": "digest"` pair per line */
  private def readHashes(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    }

  private def writeHashes(path: String, hs: Seq[(String, String)]): Unit =
    Files.write(Paths.get(path), hs.map { case (k, v) => s"  ${Stats.str(k)}: ${Stats.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))

  def run(spark: SparkSession, a: Main.Args, data: String, hashFile: String, record: Boolean,
          counters: Counters, sparkReadyS: Double): Outcome = {
    val queries = SparkEntry.queries
    // one operation: the query's complete result, collected; (seconds, digest)
    def runQuery(q: String): (Double, String) = {
      val s = System.nanoTime()
      val rows = queries(q)(spark, data).collect()
      val d = (System.nanoTime() - s) / 1e9
      OpCaches.releaseAll()
      (d, rowHash(rows))
    }
    val names = if (a.trace) queries.keys.toSeq.sorted else Timed
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // set-up ends with the untimed warm-up pass, whose digests are checked
    // (or recorded) like every later pass; the traced run has no time for a
    // warm-up pass over the whole suite, so its one pass is the suite's first
    val t1 = System.nanoTime()
    val warm = if (a.trace) Nil else names.map(q => q -> runQuery(q)._2)
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = sparkReadyS + warmS
    val expected = scala.collection.mutable.Map(readHashes(hashFile).toSeq: _*)
    var bad = Set.empty[String]
    def check(q: String, digest: String): Unit =
      if (record && !expected.contains(q)) expected(q) = digest
      else if (!expected.get(q).contains(digest)) bad += q
    warm.foreach { case (q, h) => check(q, h) }

    val out =
      if (!a.trace) {
        counters.resetHeapPeak()
        val m0 = System.nanoTime()
        var passes = Vector.empty[Seq[Double]]
        while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < a.seconds)
          passes :+= names.map { q =>
            val (t, h) = runQuery(q)
            check(q, h)
            t
          }
        val walls = passes.map(_.sum)
        val wall = Stats.median(walls)
        val ops = passes.size.toLong * names.size
        Outcome(correct = bad.isEmpty, attempted = ops, failed = if (bad.isEmpty) 0L else ops,
          metrics = Seq(
            Metric("setup_s", setupS, "s"),
            Metric("wall_s", wall, "s"),
            Metric("items_per_s", names.size / wall, "1/s"),
            Metric("op_s_p50", Stats.median(passes.flatten), "s"),
            Metric("live_heap_peak_mb", counters.heapPeakMb(), "MB")),
          info = Seq("passes_s" -> walls.map(Stats.num).mkString("[", ",", "]")))
      } else {
        var drainS = 0.0
        val p0 = System.nanoTime()
        val per = names.map { q =>
          val ((_, h), span) = counters.span(q)(runQuery(q))
          check(q, h)
          val d0 = System.nanoTime()
          val c = counters.counts(span)
          drainS += (System.nanoTime() - d0) / 1e9
          (q, span.wallS, c)
        }
        val passS = (System.nanoTime() - p0) / 1e9
        def total(p: String => Boolean): Double = per.collect { case (q, s, _) if p(q) => s }.sum
        val byName = per.map(p => p._1 -> p._2).toMap
        val values: Map[String, Double] =
          Reported.map(q => s"query.${q}_s" -> byName.getOrElse(q, 0.0)).toMap ++
          Modules.map(m => s"ops.${m}_s" -> total(q => !isCrawlQuery(q) && module(q) == m)) ++
          Seq(
            "crawlq_s" -> total(isCrawlQuery),
            "suite.shuffle_mb" -> per.map(_._3.shuffleMb).sum,
            "suite.tasks" -> per.map(_._3.tasks.toDouble).sum)
        val metrics = LayerMetrics.map { case (n, u) => Metric(n, values(n), u) } ++ Seq(
          Metric("trace.wall_s", passS, "s"),
          // what tracing adds to the pass: draining the listener bus and
          // counting each query's span
          Metric("trace.overhead_s", drainS, "s"))
        val ops = names.size.toLong
        Outcome(correct = bad.isEmpty, attempted = ops, failed = if (bad.isEmpty) 0L else ops,
          metrics = metrics,
          info = Seq("query_s" -> per.map(p => s"${Stats.str(p._1)}:${Stats.num(p._2)}").mkString("{", ",", "}"),
            "query_tasks" -> per.map(p => s"${Stats.str(p._1)}:${p._3.tasks}").mkString("{", ",", "}")))
      }
    if (record) writeHashes(hashFile, expected.toSeq.sortBy(_._1))
    out.copy(info = out.info ++ Seq(
      "workload" -> Stats.str("query_suite"),
      "queries" -> names.size.toString,
      "spark_ready_s" -> Stats.num(sparkReadyS),
      "warmup_pass_s" -> Stats.num(warmS),
      "mismatches" -> bad.toSeq.sorted.map(Stats.str).mkString("[", ",", "]")))
  }
}
