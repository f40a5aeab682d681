package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are shuffle-shaped as
  * group-by / bucket-join — never an all-pairs cross join — so they scale to
  * web-corpus row counts: LSH candidate generation is an equi-join on
  * (band, bandHash) buckets, and only candidate pairs pay the exact-verify
  * cost.
  */
object Dedup {

  // ---------- exact ----------

  /** The content-equality key every exact pass clusters by: SHA-256, not
    * MD5 — crawl content is ADVERSARIAL and md5 collisions are practically
    * constructible, so a crafted collision pair would silently merge two
    * distinct documents into one dedup cluster (dropping one). SHA-256 has
    * no known collision; 32-byte keys still beat multi-KB texts as
    * shuffle/sort keys by orders of magnitude.
    */
  private[graft] def contentKey(textCol: String): Column = sha2(col(textCol), 256)

  /** Exact-duplicate groups by content hash: (h, n, keep) for groups >1.
    * Groups on the 32-byte sha-256 key, NOT the text itself: multi-KB
    * documents must never be shuffle keys.
    */
  def exactDupGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(contentKey(textCol).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep"))
      .filter(col("n") > 1)

  // ---------- shingles / minhash ----------

  /** distinct word k-shingle hashes of a text column — a custom codegen
    * Expression (graft.functions.ShingleHashes): the built-in HOF chain
    * builds every shingle string on the heap and interprets every lambda
    */
  def wordShingles(text: Column, k: Int = 3): Column =
    graft.functions.MinHash.shingle_hashes(text, word = true, k)


  /** MinHash signature: array of numHashes minima of (a_j*h + b_j) mod p —
    * compiled loop (graft.functions.MinHashSig), not N interpreted
    * array_min(transform(...)) passes
    */
  def minhashSignature(shingles: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    graft.functions.MinHash.minhash_sig(shingles, numHashes, seed)

  /** LSH banding: per-band bucket hashes of the signature, as one codegen'd
    * pass (graft.functions.BandHashes) — the HOF formulation (transform +
    * slice + concat_ws + xxhash64) interprets every lambda and re-evaluates
    * its input per band. posexplode supplies the band index.
    */
  def lshBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.MinHash.band_hashes(sig, bands, rowsPerBand)

  /** Band count tuned to the verification threshold via the LSH S-curve
    * ((1/b)^(b/numHashes) ≈ collision threshold): the FEWEST bands whose
    * curve sits at or below `threshold`. Mis-tuned banding is a scale
    * killer — e.g. 16×4 banding at threshold 0.95 over small-alphabet char
    * n-grams buckets nearly every random pair, exploding the candidate join
    * quadratically; 4×16 banding prunes them while keeping >=threshold
    * recall high (verification is exact, so precision is unaffected).
    */
  def chooseBands(numHashes: Int, threshold: Double): Int = {
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.find { b =>
      math.pow(1.0 / b, b.toDouble / numHashes) <= threshold
    }.getOrElse(numHashes)
  }

  /** Band buckets (id, band, bandHash) of a shingle table (id, sh): the
    * MinHash signature's LSH band hashes, one row per band.
    */
  private def bandBuckets(shingled: DataFrame, numHashes: Int, seed: Long, bands: Int): DataFrame =
    shingled.select(col("id"),
      posexplode(lshBandHashes(minhashSignature(col("sh"), numHashes, seed), bands, numHashes / bands))
        .as(Seq("band", "bandHash")))

  /** (a, b, jaccard) for attached shingle pairs (sha, shb) at or above `threshold` */
  private def jaccardAtLeast(attached: DataFrame, threshold: Double): DataFrame =
    attached
      .withColumn("jaccard", jaccard(col("sha"), col("shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), TextAnalysis.halfUp(col("jaccard"), 4).as("jaccard"))

  /** The one path behind [[minhashNearDups]] and [[ngramJaccardNearDups]];
    * they differ only in `shingles`, the seed and their defaults.
    */
  private def shinglePairs(docs: DataFrame, idCol: String, shingles: Column,
                           numHashes: Int, threshold: Double, seed: Long, bandsOverride: Int,
                           maxBucketSize: Int, onCap: (Long, Long) => Unit): DataFrame = {
    val bands = if (bandsOverride > 0) bandsOverride else chooseBands(numHashes, threshold)
    // the shingle table feeds candidate generation AND both verification
    // joins — persist so the (expensive) shingling pass runs once, not 3x;
    // ~8-16 bytes/shingle columnar, spills to disk if it outgrows memory
    // registered with OpCaches (the returned frame is lazy, so this op
    // cannot unpersist) — callers release via OpCaches.releaseAll()
    val shingled = OpCaches.persist(
      Inputs.parallelizeSmall(docs).select(col(idCol).as("id"), shingles.as("sh")),
      StorageLevel.MEMORY_AND_DISK)
    val pairs = BandJoin.pairs(bandBuckets(shingled, numHashes, seed, bands),
      Seq("band", "bandHash"), maxBucketSize, onCap)
    jaccardAtLeast(BandJoin.attach(pairs, Seq("sh"), shingled, shingled), threshold)
  }

  /** End-to-end MinHash-LSH near-duplicate pairs: shingle → signature →
    * band-bucket equi-join on (band, bandHash) carrying ids ONLY → exact
    * Jaccard verification via one payload re-join per side. The shingle
    * arrays never ride the band join (which would amplify shuffle volume by
    * 2 × bands); only 16-byte id rows do.
    * Returns (a, b, jaccard) with a < b and jaccard >= threshold.
    */
  def minhashNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      numHashes: Int = 128,
      threshold: Double = 0.7,
      seed: Long = 42L,
      /** 0 = derive from threshold via [[chooseBands]] */
      bandsOverride: Int = 0,
      /** optional hot-bucket guard, see [[BandJoin.capBuckets]]; <= 0 = off */
      maxBucketSize: Int = 0,
      onCap: (Long, Long) => Unit = BandJoin.logCap("minhashNearDups")): DataFrame =
    shinglePairs(docs, idCol, wordShingles(col(textCol), k), numHashes, threshold,
      seed, bandsOverride, maxBucketSize, onCap)

  /** THE corpus-scale near-dedup entry point: exact-dedup-FIRST composition.
    *
    * Web corpora are boilerplate-heavy — millions of byte-identical pages.
    * Fed straight into LSH, an m-member identical cluster co-buckets in
    * EVERY band and the candidate join emits O(m²) pairs (10¹² for a 10⁶
    * cluster); AQE skew-splitting moves those pairs around but cannot
    * reduce their count. This composition bounds pair volume at O(m):
    *
    *   1. EXACT cluster byte-identical texts (sha-256 hash-aggregate — map-side
    *      combine, O(m) rows) and elect the min-id representative.
    *   2. Near-dedup the REPRESENTATIVES only ([[minhashNearDups]]): every
    *      band bucket now holds at most one member per distinct text, so an
    *      identical cluster contributes exactly ONE row per band.
    *   3. Re-expand membership: a doc is dropped iff it is a
    *      non-representative exact duplicate, or its representative pairs
    *      with a smaller-id representative (keep-smallest rule, single
    *      pass — deliberately not transitive-closure clustering, matching
    *      the usual training-data pipeline semantics).
    *
    * Returns one row per input doc: (doc_id, dup_of, kept) where `dup_of`
    * is the exact representative for exact duplicates, the smallest
    * near-duplicate representative for dropped representatives, and the
    * doc itself for kept docs.
    *
    * `maxBucketSize` remains available as a second line of defense for
    * NEAR-identical (not byte-identical) boilerplate — see [[BandJoin.capBuckets]].
    */
  def dedupCorpus(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      numHashes: Int = 128,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucketSize: Int = 0): DataFrame = {
    val (memberRep, pairs) = repNearDups(docs, textCol, idCol, k, numHashes, threshold, seed,
      maxBucketSize, "dedupCorpus")
    BandJoin.keepSmallest(memberRep, pairs, "doc_id")
  }

  /** The exact-first front half of [[dedupCorpus]] and [[clusterCorpus]]:
    * (doc_id → representative of its sha-256 cluster, [[minhashNearDups]]
    * pairs among the representatives only).
    */
  private def repNearDups(docs: DataFrame, textCol: String, idCol: String, k: Int,
                          numHashes: Int, threshold: Double, seed: Long, maxBucketSize: Int,
                          what: String): (DataFrame, DataFrame) = {
    val hashed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
      contentKey(textCol).as("__h"))
    val (memberRep, reps) = BandJoin.exactReps(hashed, "doc_id", "__h")
    val repDocs = reps.select(col("doc_id"), col("__t").as(textCol))
    (memberRep, minhashNearDups(repDocs, textCol, "doc_id", k, numHashes, threshold,
      seed, maxBucketSize = maxBucketSize, onCap = BandJoin.logCap(what)))
  }

  /** Transitive near-dup clustering: where [[dedupCorpus]] resolves each
    * dropped representative to its single smallest near-dup (one hop —
    * the cheap form), this composes the SAME exact-cluster + LSH-pair
    * stages with hash-min label propagation
    * ([[Graph.connectedComponents]]), so a chain A~B~C whose endpoints
    * never co-bucket still lands in ONE cluster — the semantics a
    * "keep one per near-dup equivalence class" curation pass actually
    * wants on template families (doc i resembles doc i+1, not doc i+9).
    *
    * Output: one row per input doc — (idCol, cluster, kept) where
    * `cluster` is the smallest doc id reachable through exact-dup and
    * near-dup edges within `iters` propagation rounds and `kept` marks
    * the cluster minimum. Fixed `iters` makes the result exactly
    * reproducible at any parallelism (integer min — the
    * connectedComponents contract) and oracle-mirrorable; near-dup
    * families are short-diameter in practice, and an under-`iters`
    * chain merely leaves a family split (never merges wrong docs).
    *
    * Scale shape: everything upstream of the propagation is the pinned
    * dedupCorpus shape (exact clusters first, LSH pairs only among
    * O(distinct-text) reps); the propagation shuffles one 16-byte label
    * row per REP per round — the full corpus only pays the final
    * member→cluster hash join.
    */
  def clusterCorpus(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      numHashes: Int = 128,
      threshold: Double = 0.7,
      seed: Long = 42L,
      iters: Int = 8,
      maxBucketSize: Int = 0): DataFrame = {
    val (memberRep, pairs) = repNearDups(docs, textCol, idCol, k, numHashes, threshold, seed,
      maxBucketSize, "clusterCorpus")
    // propagate ONLY over reps that appear in a near-dup pair — the small
    // minority. A singleton rep's component is itself by definition, so
    // making every rep propagate its own label for `iters` rounds (the
    // identity-edges-for-all formulation) would shuffle the whole rep set
    // per round for nothing; the left join + coalesce gives pair-less
    // reps the same answer for free.
    val comps = Graph.connectedComponents(
      pairs.select(col("a").as("src"), col("b").as("dst")), iters = iters)
    memberRep.join(comps, memberRep("rep") === comps("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("rep")).as("cluster"))
      .withColumn("kept", col("doc_id") === col("cluster"))
  }

  /** Exact duplicate-SPAN removal at word-n-gram granularity — the
    * "deduplicating training data" transform (Lee et al. 2022) that cuts
    * repeated passages OUT of documents instead of dropping whole docs:
    * licence headers, navigation boilerplate and quoted chain-mail are
    * span-level phenomena that doc-level dedup never touches.
    *
    * Semantics (documented, oracle-mirrored): a window of `n`
    * consecutive words is DUPLICATE if its text occurs ≥ 2 times in the
    * corpus by POSITION (within-doc repeats count — a page that repeats
    * its own banner five times is exactly the pathology); every token
    * covered by at least one duplicate window is removed, and the
    * survivors re-join with single spaces. Output: one row per input doc
    * (no silent row loss) — (idCol, n_tokens, n_removed, kept_text).
    * Docs shorter than `n` words have no windows and pass through whole.
    *
    * Scale shape: window keys travel as 8-byte xxhash64 values (a
    * collision can only over-remove — conservative direction); the
    * shared-window aggregate map-side-combines; coverage expansion is a
    * map-side explode of n positions per duplicate window feeding an
    * equi-join on (doc, position) — never a range join; the rebuild is
    * one per-doc aggregate whose payload is the doc's own surviving
    * tokens. Token rows shuffle twice (coverage join, rebuild) — the
    * price of positional surgery; the gram STRINGS never shuffle at all.
    */
  def stripDupSpans(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 5): DataFrame = {
    require(n >= 2, s"window width must be >= 2, got $n")
    val toksArr = filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val base = docs.select(col(idCol).as("doc_id"), toksArr.as("tk"))
    val toks = base.select(col("doc_id"), posexplode(col("tk")).as(Seq("j", "tok")))
    // positioned window hashes: i = 0-based window start over the token array
    val gramHashes = when(size(col("tk")) >= n,
      transform(sequence(lit(0), size(col("tk")) - n),
        i => xxhash64(concat_ws(" ", slice(col("tk"), i + 1, lit(n))))))
      .otherwise(array())
    val grams = base.select(col("doc_id"), posexplode(gramHashes).as(Seq("i", "h")))
    val shared = grams.groupBy("h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("h")
    val covered = grams.join(shared, Seq("h"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("j"))
      .distinct()
    val rebuilt = toks.join(covered.withColumn("__cov", lit(1)), Seq("doc_id", "j"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__cov"), lit(0))).cast("long").as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__cov").isNull, struct(col("j"), col("tok"))))),
          s => s.getField("tok"))).as("kept_text"))
    docs.select(col(idCol).as("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  // ---------- incremental (delta-vs-base) minhash ----------

  /** The reusable MinHash-LSH index of a corpus: per-doc shingle payload
    * (`id`, `sh`) and band buckets (`id`, `band`, `bandHash`). Write both
    * to parquet once per corpus snapshot; every incremental dedup run then
    * reads them instead of re-shingling 100 TB. (`sh` is only needed for
    * exact verification — the bucket table alone supports candidate
    * generation.)
    */
  def minhashIndex(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      numHashes: Int = 128,
      threshold: Double = 0.7,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val shingled = Inputs.parallelizeSmall(docs)
      .select(col(idCol).as("id"), wordShingles(col(textCol), k).as("sh"))
    (shingled, bandBuckets(shingled, numHashes, seed, chooseBands(numHashes, threshold)))
  }

  /** INCREMENTAL near-dedup: new documents against an existing corpus,
    * without re-self-joining the corpus. This is the daily-crawl shape —
    * the base corpus is indexed once ([[minhashIndex]], persisted as
    * parquet), and each delta batch pays only |delta| shingling plus a
    * band-bucket equi-join against the stored bucket table. Base-base
    * pairs are never generated (the snapshot was already deduped);
    * delta-delta pairs are the caller's separate [[minhashNearDups]] run
    * on the (small) delta alone.
    *
    * The cap guards the BASE side — a boilerplate-heavy base bucket would
    * otherwise multiply every colliding delta row. Returns
    * (new_id, base_id, jaccard >= threshold), one row per pair.
    */
  def minhashDeltaNearDups(
      newDocs: DataFrame,
      baseDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      numHashes: Int = 128,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucketSize: Int = 0,
      onCap: (Long, Long) => Unit = BandJoin.logCap("minhashDeltaNearDups")): DataFrame = {
    val (newSh0, newBk) = minhashIndex(newDocs, textCol, idCol, k, numHashes, threshold, seed)
    val (baseSh0, baseBk) = minhashIndex(baseDocs, textCol, idCol, k, numHashes, threshold, seed)
    // each side's shingle pass feeds its bucket explode AND its
    // verification join — persist; released via OpCaches.releaseAll()
    val newSh = OpCaches.persist(newSh0, StorageLevel.MEMORY_AND_DISK)
    val baseSh = OpCaches.persist(baseSh0, StorageLevel.MEMORY_AND_DISK)
    // two-sided (new × base), so no a < b: not BandJoin.pairs' self-join
    val cappedBase = BandJoin.capBuckets(baseBk, Seq("band", "bandHash"), maxBucketSize, onCap)
    val pairs = newBk.select(col("band"), col("bandHash"), col("id").as("a"))
      .join(cappedBase.select(col("band"), col("bandHash"), col("id").as("b")),
        Seq("band", "bandHash"))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
    jaccardAtLeast(BandJoin.attach(pairs, Seq("sh"), newSh, baseSh), threshold)
  }

  // ---------- simhash ----------

  /** 64-bit SimHash over whitespace tokens — a codegen Expression
    * ([[graft.functions.SimHash64]]; the UDF it replaced paid ScalaUDF
    * conversion plus per-token String allocation).
    *
    * Token hash = low 64 bits of MD5 (digest bytes 8..15, little-endian) —
    * chosen because it is exactly reproducible in the DuckDB oracle
    * (`md5_number_lower`), so the whole simhash pipeline is SQL-checkable
    * end to end, unlike a JVM-private mixing chain.
    */
  def simhash64(text: Column): Column = graft.functions.SimHash.simhash64(text)

  /** SimHash near-dup pairs: band the 64 bits into 4×16-bit keys (any pair
    * within hamming distance <= 3 shares at least one band — pigeonhole),
    * bucket-join, verify exact hamming distance.
    *
    * `maxBucketSize`/`onCap` is the same loud hot-bucket guard every other
    * LSH family routes through ([[BandJoin.capBuckets]]): a boilerplate-heavy corpus
    * co-buckets its identical cluster in ALL 4 bands and the join goes
    * quadratic; dropped bands lose their pairs (recall, never precision) and
    * are accounted via `onCap`. <= 0 = off. Composing exact-dedup first
    * ([[dedupCorpus]]) remains the primary defense.
    */
  def simhashNearDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      maxHamming: Int = 3,
                      maxBucketSize: Int = 0,
                      onCap: (Long, Long) => Unit = BandJoin.logCap("simhashNearDups")): DataFrame = {
    val sigs = Inputs.parallelizeSmall(docs)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    // verify hamming BEFORE the pair distinct: the signature rides every
    // candidate row already (unlike the minhash family, whose payload
    // attaches post-distinct), so the bit_count filter is free here and
    // the dropDuplicates shuffle then carries only the pairs that PASS —
    // 16-bit band keys make random candidate collisions the overwhelming
    // majority at corpus scale, and shuffling them into the distinct just
    // to discard them after was the dominant cost of this op. Same output:
    // hamming is a function of (a, b) (sigs are functionally dependent on
    // ids), so filter-then-distinct == distinct-then-filter.
    BandJoin.pairs(banded, Seq("band", "key"), maxBucketSize, onCap, carry = Seq("sig"),
      verify = _.withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
        .filter(col("hamming") <= maxHamming))
  }

  // ---------- n-gram jaccard ----------

  /** distinct character n-gram hashes (codegen Expression, byte n-grams) */
  def charNgrams(text: Column, n: Int = 3): Column =
    graft.functions.MinHash.shingle_hashes(text, word = false, n)

  /** exact Jaccard similarity of two pre-computed ngram/shingle arrays */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Character-n-gram Jaccard near-dups, LSH-accelerated: reuses the minhash
    * banding over char n-grams instead of word shingles. Same de-amplified
    * shape as [[minhashNearDups]]: ids through the band join, n-gram arrays
    * only through the two verification joins.
    */
  def ngramJaccardNearDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                           n: Int = 3, threshold: Double = 0.6,
                           numHashes: Int = 64, bandsOverride: Int = 0,
                           maxBucketSize: Int = 0,
                           onCap: (Long, Long) => Unit = BandJoin.logCap("ngramJaccardNearDups")): DataFrame =
    shinglePairs(docs, idCol, charNgrams(col(textCol), n), numHashes, threshold, seed = 7L,
      bandsOverride, maxBucketSize, onCap)
}
