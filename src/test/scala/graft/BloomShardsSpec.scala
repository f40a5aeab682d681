package graft

import graft.filterset.BloomShards
import graft.model.CrawlConfig
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bloom pre-filter's "definitely unseen" answer gates the exact
  * anti-join — a false negative (a seen hash probing as unseen) would
  * re-crawl a URL, violating the exactness contract. This pins the
  * ZERO-false-negative invariant across rounds, including shards carried
  * forward by reference in the shard map (never rewritten after round 0).
  */
class BloomShardsSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}
  import spark.implicits._

  test("no false negatives across update rounds; untouched shards carry forward by reference") {
    val cfg = CrawlConfig(shards = 4, bloomExpectedPerShard = 1024)
    val root = tmpDir("bloom-shards")
    def dir(r: Int) = s"$root/round=$r"
    def hashesDf(hs: Seq[Long]) = hs.toDF("urlHash")
      .select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash"))

    // round 0: hashes covering every shard
    val r0 = (0L until 64L)
    BloomShards.update(spark, hashesDf(r0), None, dir(0), cfg)
    // round 1: only shard 0 touched (multiples of 4 hash to shard 0)
    val r1 = (100L until 120L).map(_ * 4)
    BloomShards.update(spark, hashesDf(r1), Some(dir(0)), dir(1), cfg)
    // round 2: only shard 1 touched
    val r2 = (200L until 220L).map(_ * 4 + 1)
    BloomShards.update(spark, hashesDf(r2), Some(dir(1)), dir(2), cfg)

    // probing the LATEST dir must see every hash ever inserted — including
    // round-0 hashes whose shards were never rewritten since
    val all = (r0 ++ r1 ++ r2).toDF("urlHash")
    val missed = all.filter(!BloomShards.mightBeSeen(dir(2))(
      BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))).count()
    assert(missed === 0L, "bloom must NEVER answer 'definitely unseen' for an inserted hash")

    // and a never-inserted hash in an untouched shard still answers unseen
    val fresh = Seq(999999999L * 4 + 2).toDF("urlHash")
    val falsePos = fresh.filter(BloomShards.mightBeSeen(dir(2))(
      BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))).count()
    assert(falsePos === 0L, "fresh hash should (at this FPR) probe unseen")
  }

  test("legacy untagged shard files (pre-tag bf.writeTo format) load via version detection") {
    val cfg = CrawlConfig(shards = 2, bloomExpectedPerShard = 1024)
    val legacyDir = tmpDir("bloom-legacy")
    // hand-write shard 0 the way the pre-tag code did: BloomFilter.writeTo
    // directly, stream starting with the version int 0x00000001 — no tag
    // byte, no _shards.json (the bootstrap layout)
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1024, 0.01)
    val legacyHashes = (0L until 50L).map(_ * 2) // shard 0 under pmod(h, 2)
    legacyHashes.foreach(bf.putLong)
    val f = new java.io.File(s"$legacyDir/shard_0.bf")
    f.getParentFile.mkdirs()
    val os = new java.io.FileOutputStream(f)
    try bf.writeTo(os) finally os.close()

    // probe path: every legacy hash must answer maybe-seen
    val missed = legacyHashes.toDF("urlHash")
      .filter(!BloomShards.mightBeSeen(legacyDir)(
        BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))).count()
    assert(missed === 0L, "legacy untagged shard must load, not misparse")

    // resume path: folding new hashes into the legacy dir keeps old + new
    val newHashes = (500L until 520L).map(_ * 2)
    val next = tmpDir("bloom-legacy-next")
    BloomShards.update(spark,
      newHashes.toDF("urlHash")
        .select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash")),
      Some(legacyDir), next, cfg)
    val missedAfter = (legacyHashes ++ newHashes).toDF("urlHash")
      .filter(!BloomShards.mightBeSeen(next)(
        BloomShards.shardCol(col("urlHash"), cfg.shards), col("urlHash"))).count()
    assert(missedAfter === 0L, "resume from a legacy store must preserve its hashes")
  }

  test("format pin: a shard file is tag byte 0 followed by BloomFilter.writeTo of the same inserts") {
    val cfg = CrawlConfig(shards = 1, bloomExpectedPerShard = 1024)
    val dir = tmpDir("bloom-format")
    val hashes = (0L until 100L).map(_ * 7919L)
    BloomShards.update(spark,
      hashes.toDF("urlHash").select(lit(0).as("shard"), col("urlHash")), None, dir, cfg)
    val written = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/shard_0.bf"))

    val bf = org.apache.spark.util.sketch.BloomFilter.create(cfg.bloomExpectedPerShard, 0.01)
    hashes.foreach(bf.putLong)
    val expected = new java.io.ByteArrayOutputStream()
    expected.write(0)
    bf.writeTo(expected)
    assert(written.toSeq === expected.toByteArray.toSeq,
      "shard files must stay readable by stores checkpointed with the tagged bloom format")
  }

  test("a shard file tagged 1 (the removed cuckoo option) fails loudly on probe and on resume") {
    val cfg = CrawlConfig(shards = 1, bloomExpectedPerShard = 1024)
    val dir = tmpDir("bloom-tag1")
    // tag 1, then bytes a cuckoo shard could have carried
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/shard_0.bf"),
      Array[Byte](1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0))
    def assertRejected(e: Throwable): Unit = {
      val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[java.io.IOException] &&
        c.getMessage.contains("removed cuckoo option")), e.toString)
    }
    val hashes = Seq(1L, 2L, 3L).toDF("urlHash").select(lit(0).as("shard"), col("urlHash"))
    assertRejected(intercept[Exception](
      hashes.filter(BloomShards.mightBeSeen(dir)(col("shard"), col("urlHash"))).count()))
    assertRejected(intercept[Exception](
      BloomShards.update(spark, hashes, Some(dir), tmpDir("bloom-tag1-next"), cfg)))
  }
}
