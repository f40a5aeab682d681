package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs over a crawled document store, assembled from the
  * engine's first-class ops:
  *
  *   1. ANNOTATE (one pass, no shuffle): language-ID
  *      ([[TextAnalysis.langId]]), quality score
  *      ([[TextAnalysis.qualityScore]]), token count.
  *   2. FILTER: language allowlist, quality floor, token-count bounds —
  *      all plain codegen predicates, evaluated in the same stage as the
  *      annotation pass.
  *   3. DEDUP: [[Dedup.dedupCorpus]] on the survivors — exact sha-256
  *      clustering FIRST (bounds boilerplate at O(cluster)), MinHash-LSH
  *      near-dup on representatives, keep-smallest re-expansion.
  *
  * Output contract — NO SILENT ROW LOSS, the cardinal sin of corpus
  * pipelines: [[curate]] returns the curated table AND a per-input-doc
  * audit `(doc_id, verdict, dup_of)` where verdict ∈ {kept, lang,
  * quality, tokens, duplicate}. Every input id appears exactly once;
  * `audit.groupBy("verdict").count()` is the pipeline's funnel report and
  * costs one cheap aggregate, not one action per stage.
  *
  * Scale shape: stage 1-2 are a single map-only pass; stage 3's shuffles
  * are the (capped, de-amplified) dedup shapes already pinned by
  * PlanSpec/DedupCorpusSpec. Nothing here adds a new shuffle.
  */
object Curate {

  final case class CurateConfig(
      /** language allowlist; empty = keep every language */
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.3,
      minTokens: Int = 5,
      maxTokens: Int = 1 << 20,
      /** near-dup Jaccard threshold for the dedup stage */
      nearDupThreshold: Double = 0.7,
      /** hot-bucket guard for the LSH stage ([[BandJoin.capBuckets]]); <=0 off */
      maxBucketSize: Int = 0)

  /** the one-pass annotation: lang, quality (+ features), ws token count */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame =
    TextAnalysis.qualityScore(docs, textCol)
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .withColumn("ws_tokens", TextAnalysis.wsTokenCount(col(textCol)))

  private def filterVerdict(cfg: CurateConfig): Column = {
    val langBad =
      if (cfg.langs.isEmpty) lit(false) else !col("lang_pred").isin(cfg.langs: _*)
    when(langBad, "lang")
      .when(col("quality") < cfg.minQuality, "quality")
      .when(col("ws_tokens") < cfg.minTokens || col("ws_tokens") > cfg.maxTokens, "tokens")
  }

  /** Token-budget shard packing — assign docs to fixed-token-budget
    * training shards: docs in `idCol` order pack greedily, each doc going
    * to the shard its cumulative-token START offset falls in
    * (shard = floor(exclusive-prefix-sum / tokensPerShard); a doc larger
    * than the budget overflows its own shard rather than splitting).
    *
    * Scale shape: a global prefix sum WITHOUT a single-partition window —
    * the classic two-pass scan as DataFrames: range-repartition by id,
    * per-partition cumsum (window keyed on the partition id — rows
    * shuffle once on a 4-byte key), plus broadcast per-partition offsets
    * (one row per partition, exclusive-prefix-summed on the driver).
    * The partition-id column is computed once on a cached frame so both
    * passes see identical partitioning; the OUTPUT depends only on the
    * global id order, never on where partition boundaries fell.
    *
    * Returns (doc_id, n_tokens, shard), one row per input doc.
    */
  def packShards(docs: DataFrame, tokensPerShard: Long,
                 textCol: String = "text", idCol: String = "doc_id",
                 partitions: Int = 0): DataFrame = {
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    val spark = docs.sparkSession
    // partitions=0 derives from the input-size estimate (Inputs.adaptiveParts):
    // a constant here makes a small corpus pay nParts near-empty range
    // partitions (sampling job, per-partition totals, write tasks downstream)
    // for nothing. The OUTPUT is partition-count-independent by construction
    // (global id order).
    val nParts = if (partitions > 0) partitions else Inputs.adaptiveParts(docs)
    val toks = Inputs.parallelizeSmall(docs).select(col(idCol).as("doc_id"),
      TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("n_tokens"))
    val ranged = OpCaches.persist(
      toks.repartitionByRange(nParts, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("__pid", spark_partition_id()),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-partition totals -> driver exclusive prefix (one row per
    // partition; range partitions are ordered by construction)
    val totals = ranged.groupBy(col("__pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val exclusive = totals.map(_._2).scanLeft(0L)(_ + _).init
    val offsetRows = totals.map(_._1).zip(exclusive)
    import spark.implicits._
    val offsetsDf = offsetRows.toSeq.toDF("__pid", "__off")
    // pass 2: partition-local cumsum + the broadcast per-partition offset;
    // integer arithmetic throughout (token sums overflow double precision
    // long before they overflow a long)
    val w = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("__cum", sum(col("n_tokens")).over(w) + col("__off"))
      .withColumn("__start", col("__cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__start div ${tokensPerShard}L").as("shard"))
  }

  /** The full corpus → training-shards pipeline: [[curate]], then
    * [[packShards]] over the survivors — the artifact a training run
    * actually consumes (docs in id order, packed to `tokensPerShard`
    * budgets). Returns ((doc_id, n_tokens, shard) over kept docs, audit).
    * No shuffle shapes beyond the two composed ops' pinned ones.
    */
  def curateAndPack(docs: DataFrame, tokensPerShard: Long,
                    cfg: CurateConfig = CurateConfig(),
                    textCol: String = "text", idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val (curated, audit) = curate(docs, cfg, textCol, idCol)
    (packShards(curated, tokensPerShard, textCol, idCol), audit)
  }

  /** Materialize packed shards as a `shard=`-partitioned parquet table and
    * return the read-back manifest (shard, n_docs, n_tokens) — the final
    * step of the corpus → training-shards pipeline.
    *
    * Scale shape: [[packShards]]' output partitions hold CONTIGUOUS doc_id
    * ranges (range partition → per-partition window keyed on the partition
    * id), and shard = floor(prefix/budget) is monotone in doc_id — so each
    * write task emits a handful of ADJACENT shard directories, not one
    * file per shard per task (the small-file explosion `partitionBy` causes
    * on hash-partitioned input). The manifest is computed FROM THE WRITTEN
    * FILES, so it verifies the write rather than restating the plan.
    */
  def writeShards(docs: DataFrame, packed: DataFrame, outDir: String,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol), col(textCol))
      .join(packed.select(col("doc_id").as(idCol), col("n_tokens"), col("shard")), Seq(idCol))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
    docs.sparkSession.read.parquet(outDir)
      // partition-column type inference narrows shard to int — pin long
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** (curated, audit): curated = the input's columns plus the annotation
    * columns, one row per surviving doc; audit = one row per INPUT doc
    * with its verdict (and `dup_of` for duplicates).
    */
  def curate(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
             textCol: String = "text", idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    // annotations feed the filter, the audit, and the curated output —
    // one pass, cached (caller releases via OpCaches.releaseAll())
    val ann = OpCaches.persist(
      annotate(docs, textCol).withColumn("__verdict", filterVerdict(cfg)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val passed = ann.filter(col("__verdict").isNull)
    // (doc_id, dup_of, kept) for every doc that passed the filters
    val dd = Dedup.dedupCorpus(passed, textCol, idCol,
      threshold = cfg.nearDupThreshold, maxBucketSize = cfg.maxBucketSize)
    val curated = passed
      .join(dd.filter(col("kept")).select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
      .drop("__verdict")
    val audit = ann.select(col(idCol).as("doc_id"), col("__verdict"))
      .join(dd.select(col("doc_id"), col("dup_of"), col("kept")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__verdict"),
          when(col("kept"), "kept").otherwise("duplicate")).as("verdict"),
        when(!coalesce(col("kept"), lit(true)), col("dup_of")).as("dup_of"))
    (curated, audit)
  }

  /** Line-level boilerplate removal — the corpus-frequency line dedup of
    * the published webtext pipelines (CCNet's paragraph hash dedup,
    * RefinedWeb/FineWeb's repeated-line filters): a line occurring in at
    * least `minDocFreq` DISTINCT documents is boilerplate (cookie
    * banners, nav menus, footers) and is dropped from every document;
    * each survivor doc's remaining lines reassemble in original order.
    *
    * Document frequency (not raw occurrence count) is the right signal: a
    * poem that repeats its own refrain is not boilerplate; a one-line
    * cookie banner on 10^6 pages is.
    *
    * Scale shape: lines explode map-side; the DF count is one hash
    * aggregate with map-side partial on a 32-byte sha2-256 line key
    * (fixed-width shuffle key regardless of line length; collision-
    * resistant, so keying on the hash decides EXACTLY like keying on the
    * line — same argument as exact dedup's content key). Boilerplate keys
    * (df >= threshold) are by definition FEW (each absorbs >= minDocFreq
    * line instances), so they broadcast back as an anti-join — the
    * per-line verdict costs no second corpus shuffle. Reassembly is one
    * groupBy(doc_id) of the surviving lines. No silent row loss: a doc
    * whose every line was boilerplate returns with empty text and
    * n_kept = 0.
    *
    * Returns (idCol, text: cleaned, n_lines, n_kept).
    */
  /** boilerplate key sets above this count lose the broadcast hint — at
    * 64-hex-char sha2 keys that is tens of MB of broadcast rows, far under
    * executor/broadcast limits; the gate exists because at low thresholds
    * (minDocFreq = 2, the documented CCNet-style setting) the df >= 2 key
    * set is NOT small by construction — a mirror-heavy corpus makes it
    * O(distinct lines / 2), and an unconditional broadcast of that is a
    * driver-OOM shape. Same observed-size gate as Politeness's overflow
    * hosts: count first (one aggregate over the persisted key set — the
    * broadcast build paid the same scan when the hint was unconditional),
    * then hint only when the count is actually small.
    */
  private[ops] val MaxBroadcastBoilerKeys = 1000000L

  def dedupLines(
      docs: DataFrame,
      minDocFreq: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxBroadcastKeys: Long = MaxBroadcastBoilerKeys): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would drop every line")
    // gate regimes, cheapest sufficient evidence first:
    //   - input provably under the broadcast threshold → the df>=2 key set
    //     is broadcast-safe by construction; no count job, the whole op
    //     stays ONE job (the r6 fast path).
    //   - otherwise → observed-size gate (the Politeness pattern): persist
    //     the key set (and, while the input is still advisory-small, the
    //     exploded line table — so the per-line sha-256 runs once, not
    //     twice), count it, broadcast only under `maxBroadcastKeys`; a
    //     pathological low-threshold mirror corpus takes a plain shuffle
    //     left join and the driver never materializes the set.
    //   - maxBroadcastKeys <= 0 → broadcast disabled outright (policy/tests).
    val tinyInput = maxBroadcastKeys > 0 && Inputs.isBroadcastSmall(docs)
    val lines0 = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__h", sha2(col("__line"), 256))
    val lines = if (!tinyInput && maxBroadcastKeys > 0 && Inputs.isSmall(docs))
      OpCaches.persist(lines0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else lines0
    // boilerplate key set: distinct (doc, line-hash) first so a doc's
    // internal repeats count once, then df >= threshold. Both aggregates
    // are map-side-combining hash aggregates on the 32-byte key.
    val boiler0 = lines.select(col("__id"), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__h"))
    val rhs =
      if (tinyInput) broadcast(boiler0)
      else if (maxBroadcastKeys <= 0) boiler0
      else {
        val boiler = OpCaches.persist(boiler0,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (boiler.count() <= maxBroadcastKeys) broadcast(boiler) else boiler
      }
    val kept = lines.join(rhs.withColumn("__boiler", lit(true)),
        Seq("__h"), "left")
      .withColumn("__keep", coalesce(col("__boiler"), lit(false)) === false)
    val assembled = kept.groupBy(col("__id")).agg(
      concat_ws("\n", array_sort(collect_list(
        when(col("__keep"), struct(col("__pos"), col("__line")))))
        .getField("__line")).as("text"),
      count(lit(1)).as("n_lines"),
      sum(col("__keep").cast("long")).as("n_kept"))
    assembled.select(col("__id").as(idCol), col("text"), col("n_lines"), col("n_kept"))
  }

  /** The deterministic 60-bit sample key of an id: the low 60 bits of
    * md5(salt || id), via hex — built-in, codegen, and reproducible in
    * any engine with md5 (the oracle takes the same 15 trailing hex
    * chars). 60 bits so the value fits BIGINT without ANSI overflow.
    */
  def sampleKey(id: Column, salt: String = "graft-sample"): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 18, 15), 16, 10)
      .cast("long")

  /** Deterministic hash sampling — keep ~rateBp/10000 of the corpus by
    * id-hash, NOT by `rand()`: the same ids survive every run, any
    * partitioning, any cluster size, so a sampled pipeline is
    * reproducible end to end and two runs over the same snapshot agree
    * row-for-row (the property `DataFrame.sample` explicitly does not
    * give you across different partitionings). Pure map-side filter —
    * no shuffle, pushes down past column pruning.
    */
  def sampleByHash(docs: DataFrame, rateBp: Int, idCol: String = "doc_id",
                   salt: String = "graft-sample"): DataFrame = {
    require(rateBp >= 0 && rateBp <= 10000, "rateBp is basis points (0..10000)")
    docs.filter(sampleKey(col(idCol), salt) % 10000 < rateBp)
  }

  /** Per-domain document cap — at most `k` docs per domain, selected by
    * the deterministic [[sampleKey]] order (a seeded uniform pick, so a
    * mega-domain's survivors are an unbiased sample, not its first k by
    * id): the FineWeb-style guard that stops one host from dominating
    * the training mix. Spark plans the rank<=k filter as
    * WindowGroupLimit — each input partition keeps only its own top-k
    * per domain BEFORE the exchange, so the shuffle carries at most
    * k×domains×partitions rows, never the corpus.
    */
  def capPerDomain(docs: DataFrame, k: Int, groupCol: String = "source",
                   idCol: String = "doc_id",
                   salt: String = "graft-sample"): DataFrame = {
    require(k > 0)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(sampleKey(col(idCol), salt), col(idCol))
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Domain/language mixture balancing by integer upsampling — the
    * training-mix step that keeps a dominant domain from drowning the
    * rest: every group is repeated `min(maxRepeat, ceil(maxCount /
    * count))` times (the largest group's factor is 1), each copy tagged
    * with a `rep` index so a downstream shuffle/pack sees distinct rows.
    * Integer factors (vs fractional temperature sampling) keep the output
    * EXACTLY deterministic — same rows at any parallelism — which is what
    * makes a training mix reproducible across re-runs.
    *
    * Scale shape: the per-group count table is one row per domain — but at
    * web registrable-domain cardinality (~10^8) even THAT table must never
    * single-partition. The global max is a partial-aggregating `agg(max)`
    * (one pre-aggregated row per partition crosses its exchange) broadcast
    * back as a one-row cross join — the Recrawl global-"now" shape — not a
    * `Window.partitionBy()` (which ships the whole count table into ONE
    * task and sorts it there). The factors rejoin the corpus by broadcast;
    * the repetition is a map-side explode. No corpus shuffle at all.
    */
  def balanceDomains(
      docs: DataFrame,
      groupCol: String = "source",
      maxRepeat: Int = 4): DataFrame = {
    // consumed twice (factor rows + the global max) and exchange reuse does
    // not bridge the two branches — persist so the corpus-wide count
    // aggregate runs ONCE (one row per domain; OpCaches-released)
    val counts = OpCaches.persist(
      docs.groupBy(col(groupCol)).agg(count(lit(1)).as("__n")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxn = counts.agg(max(col("__n")).as("__maxn"))
    val factors = counts
      .crossJoin(broadcast(maxn))
      .select(col(groupCol),
        least(lit(maxRepeat.toLong),
          expr("(__maxn + __n - 1L) div __n")).as("__factor"))
    docs.join(broadcast(factors), Seq(groupCol))
      .withColumn("rep", explode(sequence(lit(0L), col("__factor") - 1L)))
      .drop("__factor")
  }

  /** Host-reputation ledger — the domain-level gating table behind
    * "drop the whole host" curation decisions (the C4/RefinedWeb move:
    * template farms and mirror hosts are cheaper to excise at host
    * granularity than doc by doc) and behind crawl-policy feedback
    * (deny-list candidates, recrawl demotion).
    *
    * One row per `groupCol` (host / registrable domain / source), all
    * columns integer-exact and order-free so the ledger is reproducible
    * at any parallelism and value-oracle-able:
    *   - n_docs, n_texts (distinct bodies), dup_docs = n_docs − n_texts,
    *     max_copies (largest exact-dup cluster)
    *   - total_tokens (whitespace), short_docs (n_chars < minChars)
    *   - dup_share_bp / short_share_bp (basis points, floor division)
    *   - flagged = dup_share_bp ≥ dupFlagBp OR short_share_bp ≥
    *     shortFlagBp (1/0)
    *
    * Scale shape: TWO hash aggregates, both map-side combining — first
    * on (group, sha-256 body key) which collapses every exact-dup
    * cluster to one row before anything else, then on the group. No
    * distinct-aggregate Expand (the dual-count trap), no window, no
    * join; the text column never shuffles (32-byte keys do).
    */
  def hostLedger(docs: DataFrame, groupCol: String = "source",
                 textCol: String = "text", charsCol: String = "n_chars",
                 minChars: Long = 100L,
                 dupFlagBp: Long = 2000L, shortFlagBp: Long = 5000L): DataFrame =
    hostLedgerOfBodies(bodyCounts(docs, groupCol, textCol, charsCol, minChars),
      groupCol, dupFlagBp, shortFlagBp)

  /** The ledger's INCREMENTAL state: one row per (group, distinct body) —
    * (groupCol, __h, __c, __toks, __shorts). Every ledger column is
    * algebraic over this table (sums, counts, max), so a rolling corpus
    * never recomputes from raw text: persist the body counts per
    * ingestion batch, [[mergeBodyCounts]] them (associative/commutative —
    * any merge tree gives identical results), and re-derive the ledger
    * with [[hostLedgerOfBodies]]. State size is O(distinct bodies), not
    * O(docs), and merging shuffles only 60-byte rows.
    */
  def bodyCounts(docs: DataFrame, groupCol: String = "source",
                 textCol: String = "text", charsCol: String = "n_chars",
                 minChars: Long = 100L): DataFrame =
    docs.groupBy(col(groupCol), sha2(col(textCol), 256).as("__h"))
      .agg(count(lit(1)).as("__c"),
        sum(TextAnalysis.wsTokenCount(col(textCol))).cast("long").as("__toks"),
        sum(when(col(charsCol) < minChars, 1L).otherwise(0L)).as("__shorts"))

  /** Merge body-count states from separate batches (same group/body rows
    * sum; disjoint rows pass through). One hash aggregate on the compact
    * state rows — raw text never re-enters.
    */
  def mergeBodyCounts(parts: Seq[DataFrame], groupCol: String = "source"): DataFrame = {
    require(parts.nonEmpty, "mergeBodyCounts needs at least one part")
    parts.reduce(_.unionByName(_))
      .groupBy(col(groupCol), col("__h"))
      .agg(sum(col("__c")).cast("long").as("__c"),
        sum(col("__toks")).cast("long").as("__toks"),
        sum(col("__shorts")).cast("long").as("__shorts"))
  }

  /** ledger finalization over a (merged) body-count state */
  def hostLedgerOfBodies(bodies: DataFrame, groupCol: String = "source",
                         dupFlagBp: Long = 2000L, shortFlagBp: Long = 5000L): DataFrame =
    bodies.groupBy(col(groupCol))
      .agg(sum(col("__c")).cast("long").as("n_docs"),
        count(lit(1)).as("n_texts"),
        (sum(col("__c")) - count(lit(1))).cast("long").as("dup_docs"),
        max(col("__c")).cast("long").as("max_copies"),
        sum(col("__toks")).cast("long").as("total_tokens"),
        sum(col("__shorts")).cast("long").as("short_docs"))
      .withColumn("dup_share_bp", expr("dup_docs * 10000 div n_docs"))
      .withColumn("short_share_bp", expr("short_docs * 10000 div n_docs"))
      .withColumn("flagged",
        when(col("dup_share_bp") >= dupFlagBp || col("short_share_bp") >= shortFlagBp, 1L)
          .otherwise(0L))
}
