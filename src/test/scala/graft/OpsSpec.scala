package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the training-data pipeline operators, on planted inputs
  * with known answers (the DuckDB harness covers them on real testdata).
  */
class OpsSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark shuffles and partition pruning strategies"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup finds the planted duplicate group and keeps min id") {
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("n") === 2)
    assert(groups(0).getAs[Long]("keep") === 0L)
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)), "exact dup must be found (identical signatures)")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)), "near dup should collide in some band")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
    val j = Dedup.minhashNearDups(docs, threshold = 0.5)
      .filter(col("a") === 0 && col("b") === 3).select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("simhash: identical texts at hamming 0; unrelated text far") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngram jaccard near-dups") {
    // bandsOverride=16 pins the recall-heavy 16x4 banding: with
    // threshold-derived 8x8 banding a j~0.9 pair may legitimately miss every
    // band (LSH recall < 1 between the threshold and the S-curve midpoint)
    val pairs = Dedup.ngramJaccardNearDups(docs, threshold = 0.8, bandsOverride = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)), "one-word-suffix change keeps char-3gram jaccard high")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private val embs = Seq(
    (0L, vec(1, 0, 0, 0)), (1L, vec(0.99, 0.1, 0, 0)), (2L, vec(0, 1, 0, 0)),
    (3L, vec(0, 0.98, 0.2, 0)), (4L, vec(0, 0, 1, 0)), (5L, vec(1, 0, 0, 0))
  ).toDF("vec_id", "embedding")

  test("brute-force knn: nearest neighbor is the planted twin/closest vector") {
    val top1 = Similarity.bruteForceTopK(embs, k = 1)
      .select("id", "nb").as[(Long, Long)].collect().toMap
    assert(top1(0L) === 5L) // identical vector
    assert(top1(5L) === 0L)
    assert(top1(2L) === 3L)
  }

  test("ann LSH recall vs brute force on real embeddings (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, k = 5)
      .select("id", "nb").as[(Long, Long)].collect().toSet
    val approx = Similarity.annTopK(e, dims = 64, k = 5, nPlanes = 6, tables = 8)
      .select("id", "nb").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.25, f"ANN recall@5 too low: $recall%.3f")
  }

  test("ann IVF recall vs brute force with trained centroids (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, k = 5).cache()
    val trained = Similarity.trainCentroids(e, dims = 64, nlist = 8, iters = 3)
    val r = Similarity.recallAtK(
      Similarity.ivfTopK(e, dims = 64, k = 5, nlist = 8, nprobe = 2, centroids = Some(trained)),
      exact)
    exact.unpersist()
    assert(r >= 0.4, f"trained-IVF recall@5 too low: $r%.3f")
    graft.ops.OpCaches.releaseAll()
  }

  test("searchTopK retrieval: in-corpus queries self-hit at rank 1; ivfSearchTopK recall floor") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.searchTopK(queries, e, k = 5).cache()
    // a query that IS a corpus row must retrieve itself first (sim 1.0)
    val rank1 = exact.filter(col("rank") === 1)
      .select("id", "nb").as[(Long, Long)].collect()
    assert(rank1.nonEmpty && rank1.forall { case (id, nb) => id == nb },
      "rank-1 neighbor of an in-corpus query is the query itself")
    // the IVF scale path with trained centroids recovers most of the exact answer
    val trained = Similarity.trainCentroids(e, dims = 64, nlist = 8, iters = 3)
    val r = Similarity.recallAtK(
      Similarity.ivfSearchTopK(queries, e, dims = 64, k = 5, nlist = 8, nprobe = 2,
        centroids = Some(trained)), exact)
    exact.unpersist()
    assert(r >= 0.4, f"trained-IVF search recall@5 too low: $r%.3f")
    graft.ops.OpCaches.releaseAll()
  }

  test("fused IvfAssign ≡ the crossJoin+window argmax formulation, row for row") {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // deliberately awkward centroid set: non-contiguous cids, one duplicated
    // vector (tie → smaller cid must win on both paths)
    val centDf = e.orderBy(col("vec_id")).limit(5)
      .select((col("vec_id") * 3 + 7).cast("long").as("cid"), col("embedding").as("cv"))
    val dupRow = centDf.limit(1).select(lit(9999L).as("cid"), col("cv"))
    val cents = centDf.unionByName(dupRow)
    val centRows = cents.select(col("cid"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val fused = e.select(col("vec_id"),
      graft.functions.IvfAssign.ivf_assign(col("embedding").cast("array<double>"), centRows).as("cid"))
    val window = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.cosine(col("v"), col("cv")))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("cr") === 1)
      .select(col("vec_id"), col("cid"))
    assert(fused.exceptAll(window).isEmpty && window.exceptAll(fused).isEmpty,
      "map-side assignment must be bit-identical to the window argmax")
  }

  test("embedding near-dup pairs via LSH buckets find identical vectors") {
    val pairs = Similarity.nearDupPairs(embs, dims = 4, threshold = 0.9999)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 5L)))
  }

  test("langid on real sentences per language") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy"),
      ("de", "der hund und die katze sind nicht auf der couch"),
      ("fr", "le chien est dans la maison et le chat dort pas"),
      ("es", "el perro es grande y los gatos son pequeños como una casa"),
      ("zh", "今天天气很好我们一起去公园散步吧然后吃饭"),
      ("und", "xyzzy plugh qwerty"))
    for ((expect, text) <- samples) {
      val got = Seq(text).toDF("text").select(TextAnalysis.langId(col("text"))).as[String].head()
      assert(got === expect, s"langid('$text')")
    }
  }

  test("repetition features: top-word share flags boilerplate, distinct ratio flags richness") {
    val docs = Seq(
      (0L, "spam spam spam buy"), // top 3/4, distinct 2/4
      (1L, "one two three four")) // top 1/4, distinct 4/4
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs).orderBy("doc_id")
      .as[(Long, Double, Double)].collect()
    assert(out === Array((0L, 0.75, 0.5), (1L, 0.25, 1.0)))
  }

  test("token counts and quality are sane") {
    val r = TextAnalysis.qualityScore(Seq((0L, "the cat sat. the dog ran!")).toDF("doc_id", "text"))
      .select("n_words", "punct_ratio", "quality").collect()(0)
    assert(r.getInt(0) === 6)
    assert(r.getDouble(1) > 0.0)
    val q = r.getDouble(2)
    assert(q > 0.0 && q <= 1.0)
    val tc = Seq(Tuple1("a bb ccc dddd eeeee!")).toDF("text")
      .select(TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bp")).collect()(0)
    assert(tc.getInt(0) === 5)
    assert(tc.getInt(1) === 7) // a|bb|ccc|dddd|eeee|e|!
  }

  test("lmScore: hand-computed integer bigram log-probs; short docs score 0; partition-invariant") {
    // corpus: doc0 = "a b a b", doc1 = "a b c", doc2 = "solo" (no bigrams)
    // counts: bg("a b")=3, bg("b a")=1, bg("b c")=1; w1(a)=3, w1(b)=2
    // ilog2: 3->1, 2->1, 1->0
    // doc0: (a,"a b")=1-1=0, (b,"b a")=0-1=-1, (a,"a b")=0  => score -1, n=3
    // doc1: (a,"a b")=0, (b,"b c")=0-1=-1                   => score -1, n=2
    val docs = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(out === Array(
      (0L, 3L, -1L, -333L), // -((1*1000) div 3)
      (1L, 2L, -1L, -500L),
      (2L, 0L, 0L, 0L)))
    val repart = TextAnalysis.lmScore(docs.repartition(5)).orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(repart === out, "integer sums are exact at any parallelism")
  }

  test("tfidfTopTerms: corpus-wide terms score 0, distinctive terms rank first") {
    // N=2; df(x)=2 -> idf 0; df(y)=df(z)=1 -> idf 1
    val docs = Seq((0L, "x x y"), (1L, "x z")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, k = 2).orderBy("doc_id", "rk")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out === Array(
      (0L, "y", 1L, 1L, 1L), (0L, "x", 2L, 0L, 2L),
      (1L, "z", 1L, 1L, 1L), (1L, "x", 1L, 0L, 2L)))
  }

  test("pii redaction: email/ip/phone replaced (email first), counts from the original text") {
    val d = Seq(
      (0L, "mail me at john.doe+x@sub.example.co.uk or call +44 123 456 7890"),
      (1L, "server at 192.168.0.1 and 10.0.0.255, no mail"),
      (2L, "clean text with numbers 1234 and a dot. end")
    ).toDF("doc_id", "text")
    val out = graft.ops.Pii.redact(d).orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out(0) === ((0L, "mail me at <EMAIL> or call <PHONE>", 1L, 0L, 1L)))
    assert(out(1) === ((1L, "server at <IP> and <IP>, no mail", 0L, 2L, 0L)))
    assert(out(2) === ((2L, "clean text with numbers 1234 and a dot. end", 0L, 0L, 0L)))
  }

  test("recrawl scheduling: changes, rate, staleness, priority — hand computed") {
    import java.sql.Timestamp
    val h = Seq(
      // page 1: fetched at 0/10/20 s, one change (a->a->b)
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "a", 0L),
      (1L, Timestamp.valueOf("2024-01-01 00:00:10"), "a", 1L),
      (1L, Timestamp.valueOf("2024-01-01 00:00:20"), "b", 2L),
      // page 2: a single fetch — no interval observed
      (2L, Timestamp.valueOf("2024-01-01 00:00:05"), "x", 3L),
      // page 3: always changing; its last fetch (t=30) defines "now"
      (3L, Timestamp.valueOf("2024-01-01 00:00:25"), "p", 4L),
      (3L, Timestamp.valueOf("2024-01-01 00:00:30"), "q", 5L)
    ).toDF("page", "ts", "sig", "fetch_id")
    val out = graft.sched.Recrawl.schedule(h).orderBy("page")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 3L, 1L, 5000L, 10L, 50010L)))
    assert(out(1) === ((2L, 1L, 0L, 0L, 25L, 25L)))
    assert(out(2) === ((3L, 2L, 1L, 10000L, 0L, 0L)))
  }

  test("blocklist: exact + subtree blocking on dot boundaries; pure mirror agrees") {
    val hosts = Seq(
      (0L, "ads.bad.com"), (1L, "bad.com"), (2L, "notbad.com"),
      (3L, "good.org"), (4L, "deep.sub.ads.bad.com"), (5L, "bad.com.evil.net"))
    val rows = hosts.toDF("doc_id", "host")
    val bl = Seq("bad.com").toDF("dom")
    val kept = graft.url.Blocklist.filterBlocked(rows, bl)
      .select("doc_id").as[Long].collect().toSet
    // notbad.com survives (no dot boundary); bad.com.evil.net is NOT under bad.com
    assert(kept === Set(2L, 3L, 5L))
    for ((id, host) <- hosts)
      assert(graft.url.Blocklist.blockedBy(host, "bad.com") === !kept.contains(id),
        s"pure/column drift at $host")
    // verdicts are per (id, host) ROW: a repeated id with an innocent
    // host must survive its sibling's blocking
    val dupRows = Seq((1L, "ads.bad.com"), (1L, "good.org")).toDF("doc_id", "host")
    val dupKept = graft.url.Blocklist.filterBlocked(dupRows, bl)
      .select("host").as[String].collect().toSeq
    assert(dupKept === Seq("good.org"))
  }

  test("UrlPolicy: pure interpreter ≡ Column compiler across every ADT case") {
    import graft.model.{UrlPolicy => P}
    val seedHosts = Set("h0.test", "h1.test")
    val policies = Seq(
      P.AllowAll, P.SameDomain,
      P.DenyPathPrefix(Seq("/p/1", "/cal")),
      P.DenyDomains(Seq("bad.com", "h1.test")),
      P.DenyHosts(Set("h0.test", "ads.bad.com")),
      P.DenyHosts(Set.empty), P.DenyDomains(Seq.empty), P.And(Seq.empty),
      P.And(Seq(P.SameDomain, P.DenyPathPrefix(Seq("/x")))),
      P.And(Seq(P.AllowAll, P.DenyDomains(Seq("test")), P.DenyHosts(Set("q.org")))))
    val urls = Seq(
      "http://h0.test/p/12", "http://h1.test/cal/2024", "http://ads.bad.com/x/1",
      "http://bad.com/", "http://sub.h1.test/p/9", "http://q.org/x",
      "http://other.net/y", "http://h0.test/x/deep")
    val rows = urls.map(u => (u, graft.url.Urls.hostOf(u))).toDF("url", "host")
    for (p <- policies) {
      val got = rows.select(col("url"),
        graft.url.Policy.allowsCol(p, col("url"), col("host"), seedHosts).as("a"))
        .as[(String, Boolean)].collect().toMap
      for (u <- urls)
        assert(got(u) === graft.url.Policy.allows(p, u, graft.url.Urls.hostOf(u), seedHosts),
          s"pure/column drift: $p on $u")
    }
  }

  test("registrable domain: duplicate ids with different hosts resolve independently") {
    val psl = Seq("co.uk", "com").toDF("sfx")
    val rows = Seq((1L, "x.co.uk"), (1L, "y.internal")).toDF("doc_id", "host")
    val out = graft.url.DomainSuffix.annotate(rows, psl)
      .select("host", "public_suffix", "registrable")
      .as[(String, String, Option[String])].collect().toSet
    assert(out === Set(
      ("x.co.uk", "co.uk", Some("x.co.uk")),
      ("y.internal", "internal", Some("y.internal"))))
  }

  test("trap detection: generated URL spaces flag, authored sites and thin hosts do not") {
    val urls =
      (0 until 30).map(i => ("trap.test", s"http://trap.test/cal/2024/$i/day")) ++
        (0 until 12).map(i => ("site.test", "http://site.test/" + ('a' + i).toChar.toString)) ++
        (0 until 6).map(i => ("tiny.test", s"http://tiny.test/p/$i"))
    val out = graft.url.Traps.detect(urls.toDF("host", "url"), minUrls = 10, minRatioBp = 50000)
      .orderBy("host").as[(String, Long, Long, Long, Boolean)].collect()
    assert(out(0) === (("site.test", 12L, 12L, 10000L, false))) // authored: ratio 1
    assert(out(1) === (("tiny.test", 6L, 1L, 60000L, false))) // templated but thin
    assert(out(2) === (("trap.test", 30L, 1L, 300000L, true)))
    // query-param values collapse too; fragments survive (value stops at # or &)
    assert(graft.url.Traps.collapseUrl("http://h/p?id=123&cat=abc") === "http://h/p?id=#&cat=#")
    assert(graft.url.Traps.collapseUrl("http://h/x?a=1#frag2024") === "http://h/x?a=##frag#")
    // pure mirror ≡ Column collapse, byte for byte, over assorted shapes
    val shapes = Seq("http://h/", "http://h/p/123/q", "https://h:8443/a?b=c1&d=",
      "http://h/cal/2024/12/31?sess=deadbeef99#x7", "no-scheme/55?x=9&y",
      "http://h/%7Euser/1a2b3c", "?=&#", "")
    val colOut = shapes.toDF("u")
      .select(graft.url.Traps.collapseUrl(col("u")).as("c")).as[String].collect()
    for ((u, c) <- shapes.zip(colOut))
      assert(c === graft.url.Traps.collapseUrl(u), s"pure/column drift at '$u'")
  }

  test("registrable domain: longest suffix wins; suffix-hosts null; default last-label rule; pure ≡ column") {
    val psl = Set("co.uk", "com", "org", "uk")
    assert(graft.url.DomainSuffix.resolve("www.x.co.uk", psl) === (("co.uk", Some("x.co.uk"))))
    assert(graft.url.DomainSuffix.resolve("a.b.x.org", psl) === (("org", Some("x.org"))))
    assert(graft.url.DomainSuffix.resolve("co.uk", psl) === (("co.uk", None)))
    assert(graft.url.DomainSuffix.resolve("x.internal", psl) === (("internal", Some("x.internal"))))
    val rows = Seq((0L, "www.x.co.uk"), (1L, "a.b.x.org"), (2L, "co.uk"), (3L, "x.internal"))
    val out = graft.url.DomainSuffix.annotate(
      rows.toDF("doc_id", "host"), psl.toSeq.toDF("sfx"))
      .orderBy("doc_id")
      .select("host", "public_suffix", "registrable")
      .as[(String, String, Option[String])].collect()
    for (((_, host), got) <- rows.zip(out)) {
      val (sfx, reg) = graft.url.DomainSuffix.resolve(host, psl)
      assert(got === ((host, sfx, reg)), s"pure/column drift at $host")
    }
  }

  test("corpusStats: exact histogram percentiles, hand computed") {
    val d = Seq(
      (0L, "one two", "aa", 10L), (1L, "one", "aa", 20L),
      (2L, "x y z", "aa", 30L), (3L, "x", "aa", 40L),
      (4L, "single doc here", "bb", 7L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val out = TextAnalysis.corpusStats(d).orderBy("lang")
      .as[(String, Long, Long, Long, Long)].collect()
    // aa: n=4, values 10..40 — p50 rank ceil(2)=2 -> 20; p90 rank ceil(3.6)=4 -> 40
    assert(out(0) === (("aa", 4L, 7L, 20L, 40L)))
    assert(out(1) === (("bb", 1L, 3L, 7L, 7L)))
  }

  test("winnowing fingerprints: shared content shares fingerprints, determinism") {
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprintUdf()(col("text")).as("fp"))
      .as[(Long, Array[Long])].collect().toMap
    assert(fps(0L).toSeq === fps(3L).toSeq, "identical docs -> identical fingerprints")
    val shared01 = fps(0L).toSet.intersect(fps(1L).toSet).size.toDouble / fps(0L).length
    assert(shared01 > 0.7, s"near-dup docs should share most fingerprints ($shared01)")
    val shared02 = fps(0L).toSet.intersect(fps(2L).toSet).size.toDouble / fps(0L).length
    assert(shared02 < 0.3, s"unrelated docs should share few fingerprints ($shared02)")
  }

  test("multimodal decode batch: deterministic stub metadata, binary plumbing") {
    val media = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val metas = Multimodal.decodeBatch(spark, media).collect().sortBy(_.doc_id)
    assert(metas.length === 5)
    val m0 = metas(0)
    val len0 = "the quick brown fox jumps over the lazy dog near the river bank today".getBytes("UTF-8").length
    assert(m0.byte_len === len0)
    assert(m0.width === 64 + len0 % 64 && m0.height === 64 + len0 % 37)
    val plan = Multimodal.frameSamplePlan(Multimodal.decodeBatch(spark, media).toDF())
    val fr = plan.filter(col("doc_id") === 0).select("sampled_frames").as[Seq[Int]].head()
    assert(fr.nonEmpty && fr.head === 0)
  }

  test("fused HyperplaneSig is bit-identical to the composed per-plane DotProduct formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dims = 64; val nPlanes = 7
    for (seed <- Seq(42L, 43L, 49L)) {
      val vd = col("embedding").cast("array<double>")
      val composed = (0 until nPlanes).map { p =>
        val plane = array((0 until dims).map(d =>
          lit(graft.functions.HyperplaneSigFns.planeComponent(seed, p, d))): _*)
        when(graft.functions.DotProduct.dot_product(vd, plane) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      val fused = Similarity.lshBucket(col("embedding"), dims, nPlanes, seed)
      val diff = e.select(fused.as("f"), composed.as("c")).filter(col("f") =!= col("c")).count()
      assert(diff === 0L, s"seed $seed: fused and composed signatures diverge")
    }
  }

  test("normalizeText: NFC composition, control strip, whitespace collapse, trim") {
    val hostile = "  ab  état  \t\r\nx  "
    val got = Seq(hostile).toDF("text")
      .select(TextAnalysis.normalizeText(col("text"))).as[String].head()
    assert(got === "ab état x")
    // already-normalized ASCII is untouched (and the fast path keeps it)
    val plain = Seq("hello world").toDF("text")
      .select(TextAnalysis.normalizeText(col("text"))).as[String].head()
    assert(plain === "hello world")
    // NULL stays NULL
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(TextAnalysis.normalizeText(col("text"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("normalizeText: Column pipeline ≡ pure JDK mirror over a deterministic hostile sweep") {
    // the repo's parity idiom: the distributed expression must agree with
    // a direct pure-Scala statement of the spec on inputs stressing every
    // stage — decomposed accents, C0 controls, DEL, ws runs, CJK, emoji
    def pure(s: String): String = {
      val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      nfc.replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
        .replaceAll("\\s+", " ").trim
    }
    val pieces = Array("\u00e9", "a", " ", "\t", "\n", "\u0000", "\u0007", "\u007f",
      "e\u0301", "o\u0308", "\u5b57", "\ud83d\ude00", "x", "  ", "\r\n", "\u000b", "-", "A\u030a")
    val rnd = new scala.util.Random(20260818L)
    val inputs = (0 until 400).map { _ =>
      (0 until (1 + rnd.nextInt(24))).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    } :+ "" :+ "   " :+ "\u0301leading combining mark"
    val got = inputs.toDF("text")
      .select(TextAnalysis.normalizeText(col("text"))).as[String].collect()
    inputs.zip(got).foreach { case (in, out) =>
      assert(out === pure(in), s"diverged on ${in.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("dupNgramStats: planted shared 5-grams, short-doc fallback, no silent row loss") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"), // 3 distinct 5-grams
      (1L, "alpha beta gamma delta epsilon other words entirely"), // shares gram 1 with doc 0
      (2L, "totally unrelated content with zero overlap here"),
      (3L, "tiny doc"), // <5 words -> whole-text gram
      (4L, "tiny doc") // exact dup of 3 -> both flagged
    ).toDF("doc_id", "text")
    val r = TextAnalysis.dupNgramStats(d, n = 5).orderBy("doc_id")
      .select("doc_id", "n_grams", "n_dup", "dup_bp").as[(Long, Long, Long, Long)].collect()
    assert(r(0) === ((0L, 3L, 1L, 3333L))) // 1 of 3 grams shared with doc 1
    assert(r(1) === ((1L, 4L, 1L, 2500L)))
    assert(r(2) === ((2L, 3L, 0L, 0L)))
    assert(r(3) === ((3L, 1L, 1L, 10000L))) // whole-text fallback, dup'd by doc 4
    assert(r(4) === ((4L, 1L, 1L, 10000L)))
  }

  test("stripDupSpans: cross-doc and within-doc repeated windows cut out, short/empty docs intact") {
    val d = Seq(
      (0L, "A B C D E x y z"), // window "A B C D E" shared with doc 1
      (1L, "p q A B C D E r"),
      (2L, "m n o p q m n o p q"), // within-doc repeat: whole doc is duplicate spans
      (3L, "short doc"), // < 5 words: no windows, passes whole
      (4L, "") // empty: 0 tokens, still one output row
    ).toDF("doc_id", "text")
    val r = Dedup.stripDupSpans(d, n = 5).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(r(0) === ((0L, 8L, 5L, "x y z")))
    assert(r(1) === ((1L, 8L, 5L, "p q r")))
    assert(r(2) === ((2L, 10L, 10L, "")))
    assert(r(3) === ((3L, 2L, 0L, "short doc")))
    assert(r(4) === ((4L, 0L, 0L, "")))
  }

  test("custom DotProduct expression matches HOF formulation bit-for-bit") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val custom = df.select(graft.functions.DotProduct.dot_product(col("a"), col("b"))).as[Double].head()
    val hof = df.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)).as[Double].head()
    assert(custom === 32.0)
    assert(custom === hof)
  }

  test("DotProduct returns NULL on mismatched lengths, matching the HOF formulation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0))).toDF("a", "b")
    val custom = df.select(graft.functions.DotProduct.dot_product(col("a"), col("b")).as("d"))
      .collect()(0)
    assert(custom.isNullAt(0), "length mismatch must yield NULL")
    val hof = df.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("d")).collect()(0)
    assert(hof.isNullAt(0)) // zip_with null-pads -> aggregate is NULL
    // wrong input type is an analysis error, not a codegen crash
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", "y")).toDF("a", "b")
        .select(graft.functions.DotProduct.dot_product(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("type"))
  }

  test("SQL-registered custom functions work from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val dot = spark.sql("SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(dot === 11.0)
    val sig = spark.sql(
      "SELECT size(graft_minhash_sig(graft_shingle_hashes('a b c d e', true, 3), 16, 42L)) AS n")
      .as[Int].head()
    assert(sig === 16)
  }
}
