package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hot-bucket scale guard (VERDICT r2 #1): byte-identical boilerplate
  * clusters must never reach the LSH band join as a quadratic bucket. Pins
  * (a) the exact-dedup-first composition keeps the band join's buckets at
  * one member per distinct text — pair volume O(cluster), not O(cluster²) —
  * and (b) the opt-in per-bucket cap drops over-capacity buckets with loud
  * accounting, never silently.
  */
class DedupCorpusSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val boiler = (1 to 30).map(i => s"boiler$i").mkString(" ")
  private val others = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    "one two three four five six seven eight nine ten eleven twelve",
    "red orange yellow green blue indigo violet crimson amber teal navy plum")

  test("10k identical docs: composed path pair volume is O(cluster), not O(cluster^2)") {
    val n = 10000
    val docs = ((0 until n).map(i => (i.toLong, boiler)) ++
      others.zipWithIndex.map { case (t, i) => ((n + i).toLong, t) })
      .toDF("doc_id", "text")

    // The naive path's band join WOULD see a 10k-member bucket in every
    // band (~5*10^7 pairs per band): pin that the hazard is real...
    val naiveBuckets = docs.select(col("doc_id"),
      posexplode(Dedup.lshBandHashes(
        Dedup.minhashSignature(Dedup.wordShingles(col("text")), 128, 42L), 32, 4))
        .as(Seq("band", "bandHash")))
    val naiveMax = naiveBuckets.groupBy("band", "bandHash").count()
      .agg(max("count")).as[Long].head()
    assert(naiveMax === n.toLong, "the identical cluster co-buckets fully on the naive path")

    // ...and that the composition removes it: representatives = distinct
    // texts, so the near phase's candidate pair count is bounded by
    // C(nDistinct, 2), independent of cluster size.
    val out = Dedup.dedupCorpus(docs).cache()
    assert(out.count() === (n + others.size).toLong, "one row per input doc")
    val kept = out.filter(col("kept")).select("doc_id").as[Long].collect().sorted
    assert(kept === Array(0L) ++ (n until n + others.size).map(_.toLong),
      "exactly one doc per distinct text survives")
    val clusterRows = out.filter(col("doc_id") < n && col("doc_id") > 0)
    assert(clusterRows.filter(col("dup_of") === 0L && !col("kept")).count() === (n - 1).toLong,
      "every non-representative member maps to the min-id representative")
    // the near phase operates on representatives only: its pair volume over
    // this input is the pairs among 4 distinct texts (here: zero survive
    // the threshold, and at most C(4,2)=6 candidates can exist at all)
    val repDocs = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), col("text"))
    val nearPairs = Dedup.minhashNearDups(repDocs).count()
    assert(nearPairs <= 6L, "composed near phase sees only representative pairs")
    out.unpersist()
    graft.ops.OpCaches.releaseAll()
  }

  /** cap accounting is lazy (CapStats observe + listener): it arrives on
    * the listener-bus thread shortly after the first action — poll for it
    */
  private def awaitCap(read: => Long, what: String): Long = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var v = read
    while (v == 0L && System.nanoTime() < deadline) { Thread.sleep(50); v = read }
    assert(v > 0L, s"$what: accounting callback must fire after the first action")
    v
  }

  test("per-bucket cap drops over-capacity buckets with loud accounting") {
    val n = 2000
    val docs = ((0 until n).map(i => (i.toLong, boiler)) ++
      others.zipWithIndex.map { case (t, i) => ((n + i).toLong, t) })
      .toDF("doc_id", "text")
    val cappedBuckets = new java.util.concurrent.atomic.AtomicLong()
    val cappedRows = new java.util.concurrent.atomic.AtomicLong()
    val pairs = Dedup.minhashNearDups(docs, maxBucketSize = 64,
      onCap = (b, r) => { cappedBuckets.addAndGet(b); cappedRows.addAndGet(r) })
    assert(cappedBuckets.get() === 0L,
      "accounting must be LAZY: building the plan fires no job and no callback")
    val nPairs = pairs.count()
    awaitCap(cappedBuckets.get(), "minhashNearDups cap")
    assert(awaitCap(cappedRows.get(), "minhashNearDups rows") >= n.toLong,
      "dropped-row accounting covers the hot cluster")
    assert(nPairs === 0L, "every bucket holding the identical cluster was dropped")
    graft.ops.OpCaches.releaseAll()

    // cap disabled on a small cluster: pairs ARE generated (the cap is the
    // only thing that removed them above)
    val small = ((0 until 20).map(i => (i.toLong, boiler))).toDF("doc_id", "text")
    assert(Dedup.minhashNearDups(small).count() === (20L * 19 / 2),
      "uncapped identical cluster yields all C(m,2) pairs")
    graft.ops.OpCaches.releaseAll()

    // the char-n-gram family routes through the same cap
    val ngramBuckets = new java.util.concurrent.atomic.AtomicLong()
    val ngramPairs = Dedup.ngramJaccardNearDups(docs, maxBucketSize = 64,
      onCap = (b, _) => ngramBuckets.addAndGet(b))
    assert(ngramBuckets.get() === 0L, "ngram accounting must be LAZY")
    assert(ngramPairs.count() === 0L, "every ngram bucket holding the identical cluster was dropped")
    awaitCap(ngramBuckets.get(), "ngramJaccardNearDups cap")
    assert(Dedup.ngramJaccardNearDups(small).count() === (20L * 19 / 2),
      "uncapped identical cluster yields all C(m,2) ngram pairs")
    graft.ops.OpCaches.releaseAll()

    // delta vs base: the cap guards the BASE side — a hot base cluster
    // drops its buckets, so the delta boilerplate doc finds no partner
    // while the delta copy of a cold base doc still pairs
    val delta = Seq((100000L, boiler), (100001L, others.head)).toDF("doc_id", "text")
    val deltaBuckets = new java.util.concurrent.atomic.AtomicLong()
    val deltaRows = new java.util.concurrent.atomic.AtomicLong()
    val deltaPairs = Dedup.minhashDeltaNearDups(delta, docs, maxBucketSize = 64,
      onCap = (b, r) => { deltaBuckets.addAndGet(b); deltaRows.addAndGet(r) })
    assert(deltaBuckets.get() === 0L, "delta accounting must be LAZY")
    val deltaGot = deltaPairs.select("a", "b").as[(Long, Long)].collect().toSeq
    awaitCap(deltaBuckets.get(), "minhashDeltaNearDups cap")
    assert(awaitCap(deltaRows.get(), "minhashDeltaNearDups rows") >= n.toLong,
      "dropped-row accounting covers the hot base cluster")
    assert(deltaGot === Seq((100001L, n.toLong)),
      "the delta boilerplate doc's only partners sat in dropped base buckets")
    assert(Dedup.minhashDeltaNearDups(delta, small).count() === 20L,
      "uncapped: the delta boilerplate doc pairs with every base copy")
    graft.ops.OpCaches.releaseAll()
  }

  test("simhashNearDups: boilerplate cluster's bands drop loudly with the cap on") {
    val n = 2000
    val docs = ((0 until n).map(i => (i.toLong, boiler)) ++
      others.zipWithIndex.map { case (t, i) => ((n + i).toLong, t) })
      .toDF("doc_id", "text")
    val cappedBuckets = new java.util.concurrent.atomic.AtomicLong()
    val cappedRows = new java.util.concurrent.atomic.AtomicLong()
    val pairs = Dedup.simhashNearDups(docs, maxBucketSize = 64,
      onCap = (b, r) => { cappedBuckets.addAndGet(b); cappedRows.addAndGet(r) })
    assert(cappedBuckets.get() === 0L,
      "accounting must be LAZY: building the plan fires no job and no callback")
    val nPairs = pairs.count()
    // the identical cluster co-buckets in ALL 4 bands — at least 4 hot
    // buckets, each holding the full n-member cluster
    assert(awaitCap(cappedBuckets.get(), "simhashNearDups cap") >= 4L,
      "the identical cluster floods every one of its 4 bands")
    assert(awaitCap(cappedRows.get(), "simhashNearDups rows") >= 4L * n,
      "dropped-row accounting covers the hot cluster in each band")
    assert(nPairs === 0L, "every band bucket holding the identical cluster was dropped")

    // cap disabled: the same cluster yields all C(m,2) pairs (hamming 0)
    val small = (0 until 20).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    assert(Dedup.simhashNearDups(small).count() === (20L * 19 / 2),
      "uncapped identical cluster yields all pairs")
  }

  test("nearDupCorpus (vectors): identical-vector cluster collapses to one rep before LSH") {
    import graft.ops.Similarity
    val dims = 8
    val boilerVec = Array.tabulate(dims)(i => (i + 1).toFloat)
    val others = Seq(
      Array.tabulate(dims)(i => if (i % 2 == 0) 1f else -1f),
      Array.tabulate(dims)(i => (dims - i).toFloat))
    val n = 5000
    val emb = ((0 until n).map(i => (i.toLong, boilerVec)) ++
      others.zipWithIndex.map { case (v, i) => ((n + i).toLong, v) })
      .toDF("vec_id", "embedding")
    val out = Similarity.nearDupCorpus(emb, dims, threshold = 0.9999).cache()
    assert(out.count() === (n + others.size).toLong)
    val kept = out.filter(col("kept")).select("vec_id").as[Long].collect().sorted
    assert(kept === Array(0L) ++ (n until n + others.size).map(_.toLong),
      "one row per distinct vector survives")
    assert(out.filter(col("dup_of") === 0L && !col("kept")).count() === (n - 1).toLong)
    // the LSH phase saw only the 3 distinct representatives
    val reps = emb.groupBy("embedding").count()
    assert(reps.count() === 3L)
    out.unpersist()
    graft.ops.OpCaches.releaseAll()
  }

  test("annTopK: hot-bucket cap bounds candidate GENERATION (the last uncapped quadratic)") {
    import graft.ops.Similarity
    val dims = 8
    val boilerVec = Array.tabulate(dims)(i => (i + 1).toFloat)
    val distinct = Seq(
      Array.tabulate(dims)(i => if (i % 2 == 0) 1f else -1f),
      Array.tabulate(dims)(i => (dims - i).toFloat),
      Array.tabulate(dims)(i => (i * i + 1).toFloat))
    val n = 5000
    val emb = ((0 until n).map(i => (i.toLong, boilerVec)) ++
      distinct.zipWithIndex.map { case (v, i) => ((n + i).toLong, v) })
      .toDF("vec_id", "embedding")

    // capped: the 5000-member identical-vector buckets are dropped before
    // the self-join — no O(m²) cosine pass ever runs — with loud accounting
    val capped = new java.util.concurrent.atomic.AtomicLong()
    val cappedRows = new java.util.concurrent.atomic.AtomicLong()
    val out = Similarity.annTopK(emb, dims, k = 3, maxBucketSize = 64,
      onCap = (b, r) => { capped.addAndGet(b); cappedRows.addAndGet(r) }).cache()
    val ids = out.select("id").distinct().as[Long].collect().toSet
    awaitCap(capped.get(), "annTopK cap")
    assert(awaitCap(cappedRows.get(), "annTopK rows") >= n.toLong,
      "dropped-row accounting covers the hot cluster")
    assert(!ids.exists(_ < n.toLong),
      "hot-cluster members produce no neighbors once their buckets are dropped")
    out.unpersist()
    graft.ops.OpCaches.releaseAll()

    // cap off (default): identical vectors DO co-bucket and find each other
    val small = ((0 until 30).map(i => (i.toLong, boilerVec))).toDF("vec_id", "embedding")
    val uncapped = Similarity.annTopK(small, dims, k = 3)
    assert(uncapped.count() === 30L * 3, "uncapped path returns full top-k per id")
    graft.ops.OpCaches.releaseAll()
  }

  test("ivfTopK: probed-list ANN finds in-list neighbors; hot-list cap is loud") {
    import graft.ops.Similarity
    val dims = 8
    // two tight clusters far apart; one TRAINED centroid per cluster via
    // the pluggable centroids parameter -> at nprobe=1 each vector's top-k
    // is exactly its cluster mates
    val protoA = Array.tabulate(dims)(d => (d + 1).toFloat)
    val protoB = Array.tabulate(dims)(d => if (d % 2 == 0) -1f else 1f)
    val a = (0 until 6).map(i => (i.toLong, Array.tabulate(dims)(d => protoA(d) + i * 0.001f)))
    val b = (6 until 12).map(i => (i.toLong, Array.tabulate(dims)(d => protoB(d) + i * 0.001f)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val cents = Seq((0L, protoA), (1L, protoB)).toDF("cid", "cv")
    val out = Similarity.ivfTopK(emb, dims, k = 3, nlist = 2, nprobe = 1,
      centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    assert(out.keySet === (0L until 12L).toSet, "every vector gets neighbors")
    for ((id, nbs) <- out; (_, nb) <- nbs)
      assert((id < 6) === (nb < 6), s"$id must only see its own cluster at nprobe=1")
    graft.ops.OpCaches.releaseAll()

    // a caller-supplied centroid table is collected to the driver: more
    // than nlist rows fails loudly instead of materializing unboundedly
    val tooMany = (0 until 3).map(i => (i.toLong, protoA.map(_ + i))).toDF("cid", "cv")
    val over = intercept[IllegalArgumentException](
      Similarity.ivfTopK(emb, dims, k = 3, nlist = 2, nprobe = 1, centroids = Some(tooMany)))
    assert(over.getMessage.contains("nlist = 2"), over.getMessage)

    // degenerate centroids: everything lands in one list -> the cap drops
    // it loudly and those candidates vanish (recall-only, never silent)
    val n = 3000
    val boiler = Array.tabulate(dims)(d => (d + 1).toFloat)
    val big = ((0 until n).map(i => (i.toLong, boiler))).toDF("vec_id", "embedding")
    val capped = new java.util.concurrent.atomic.AtomicLong()
    val res = Similarity.ivfTopK(big, dims, k = 3, nlist = 4, nprobe = 1,
      maxListSize = 64, onCap = (bk, r) => capped.addAndGet(r))
    assert(res.count() === 0L, "the single over-capacity list was dropped")
    awaitCap(capped.get(), "ivfTopK cap")
    assert(capped.get() >= n.toLong - 4, "accounting covers the hot list")
    graft.ops.OpCaches.releaseAll()
  }

  test("trained IVF centroids: recall@k >= 0.9 vs brute force; smallest-id default materially worse") {
    import graft.ops.Similarity
    // 8 tight, well-separated clusters with ids assigned CLUSTER-MAJOR: the
    // deterministic smallest-id default picks all nlist centroids from
    // cluster 0 — the degenerate case the trainer exists for. Near-identical
    // centroids make the argmax assignment collapse the whole corpus into
    // ONE inverted list (the quadratic-blob scale failure), so the honest
    // comparison runs BOTH paths under the hot-list cap a production
    // deployment needs: the mega-list is dropped loudly and default recall
    // collapses, while trained centroids keep every list under the cap and
    // recall >= 0.9. nprobe=2 keeps trained recall robust when the init
    // splits one tight cluster across two centroids (the sub-centroids are
    // the query's two nearest lists).
    val dims = 16; val nClusters = 8; val per = 50
    def center(c: Int): Array[Float] = Array.tabulate(dims)(d =>
      (if (d == 2 * c || d == 2 * c + 1) 4f else 0f) + 0.1f * ((c * dims + d) % 7))
    val emb = (0 until nClusters * per).map { id =>
      val c = id / per
      (id.toLong, Array.tabulate(dims)(d => center(c)(d) + 0.01f * ((id * 31 + d * 7) % 5)))
    }.toDF("vec_id", "embedding")
    val k = 5
    val cap = 2 * per // generous: twice the true cluster size
    val exact = Similarity.bruteForceTopK(emb, k).cache()
    val trained = Similarity.trainCentroids(emb, dims, nlist = nClusters, iters = 5)
    val rTrained = Similarity.recallAtK(
      Similarity.ivfTopK(emb, dims, k, nlist = nClusters, nprobe = 2,
        centroids = Some(trained), maxListSize = cap), exact)
    val rDefault = Similarity.recallAtK(
      Similarity.ivfTopK(emb, dims, k, nlist = nClusters, nprobe = 2,
        maxListSize = cap), exact)
    assert(rTrained >= 0.9, s"trained-centroid recall@$k = $rTrained")
    assert(rDefault <= rTrained - 0.15,
      s"smallest-id default (recall $rDefault) must be materially worse than trained ($rTrained)")
    // rTrained >= 0.9 UNDER the cap doubles as the scale-shape proof: had
    // any trained list exceeded 2x the true cluster size, its drop would
    // have collapsed that cluster's recall
    exact.unpersist()
    graft.ops.OpCaches.releaseAll()
  }

  test("dedupCorpus semantics: exact dup, near dup, distinct") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val aNear = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val c = "completely different text with no overlap at all whatsoever here"
    val docs = Seq((0L, a), (1L, a), (2L, aNear), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.dedupCorpus(docs).orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(out === Array(
      (0L, 0L, true),   // representative, kept
      (1L, 0L, false),  // exact duplicate of 0
      (2L, 0L, false),  // near duplicate: rep 2 pairs with smaller rep 0
      (3L, 3L, true)))  // distinct
    graft.ops.OpCaches.releaseAll()
  }

  test("clusterCorpus closes transitive chains that single-hop dedupCorpus leaves split") {
    // sliding-window chain: A = w0..w19, B = w2..w21, C = w4..w23 over
    // word-3-shingles -> J(A,B) = J(B,C) = 16/20 = 0.8 >= 0.7, but
    // J(A,C) = 14/22 ≈ 0.64 < 0.7: A and C connect only THROUGH B
    def win(from: Int): String = (from until from + 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, win(0)), (1L, win(2)), (2L, win(4)),
      (3L, win(0)), // exact dup of 0 — exact clusters must re-expand
      (4L, "completely different text with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val cl = Dedup.clusterCorpus(docs).orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect()
    assert(cl === Array(
      (0L, 0L, true),
      (1L, 0L, false),
      (2L, 0L, false), // transitively reaches 0 through 1
      (3L, 0L, false),
      (4L, 4L, true)))
    // contrast pin: the single-hop composition resolves 2 to its DIRECT
    // near-dup 1, not the chain minimum — the gap clusterCorpus closes
    val oneHop = Dedup.dedupCorpus(docs).filter(col("doc_id") === 2L)
      .select("dup_of").as[Long].head()
    assert(oneHop === 1L)
    graft.ops.OpCaches.releaseAll()
  }
}
