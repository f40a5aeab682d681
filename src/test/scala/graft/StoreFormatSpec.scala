package graft

import graft.crawl.{CrawlLoop, SnapshotStore, StoreFiles}
import graft.filterset.BloomShards
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.FixtureConfig
import graft.model._
import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level pins of the store's small durable files. A killed crawl
  * resumes from whatever a previous build wrote, so these layouts are a
  * compatibility contract: a change that moves one byte must be deliberate.
  * (Shard filter files are pinned in BloomShardsSpec.)
  */
class StoreFormatSpec extends AnyFunSuite {
  import SparkTestBase.{spark, tmpDir}
  import spark.implicits._

  private def text(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  test("commit manifest bytes: {\"round\":k, then the meta keys in insertion order}") {
    val root = tmpDir("format-manifest")
    val store = new SnapshotStore(root, spark)
    store.commit(5, Map("frontier" -> 7L, "ord_next" -> 9L, "wall_ms" -> 11L))
    assert(text(s"$root/_commits/round_5.json") === """{"round":5,"frontier":7,"ord_next":9,"wall_ms":11}""")
    assert(store.committedMeta(5) ===
      Some(Map("round" -> 5L, "frontier" -> 7L, "ord_next" -> 9L, "wall_ms" -> 11L)))
    assert(store.committedMeta(6) === None)
    assert(store.latestCommitted === Some(5))
  }

  test("lineage CSV bytes: one comma-separated row per shard, newline-joined, no trailing newline") {
    val root = tmpDir("format-lineage")
    val store = new SnapshotStore(root, spark)
    val rows = Seq(Lineage(2, 0, 1, 2, 3, 4, 5, 6, 7, 8, 900), Lineage(2, 1, 10, 9, 8, 7, 6, 5, 4, 3, 901))
    store.writeLineage(2, rows)
    assert(text(s"$root/lineage_csv/round_2.csv") ===
      "2,0,1,2,3,4,5,6,7,8,900\n2,1,10,9,8,7,6,5,4,3,901")
    assert(store.readLineage(3) === rows, "rounds without a lineage file read as empty")
  }

  test("_shards.json bytes: carried-forward shards first, then the shards this round touched") {
    val cfg = CrawlConfig(shards = 4, bloomExpectedPerShard = 1024)
    val root = tmpDir("format-shardmap")
    def hashes(shard: Int) = (0L until 8L).map(_ * 4 + shard).toDF("urlHash")
      .select(BloomShards.shardCol(col("urlHash"), cfg.shards).as("shard"), col("urlHash"))
    BloomShards.update(spark, hashes(3), None, s"$root/round=0", cfg)
    assert(text(s"$root/round=0/_shards.json") === s"""{"3":"$root/round=0"}""")
    BloomShards.update(spark, hashes(1), Some(s"$root/round=0"), s"$root/round=1", cfg)
    assert(text(s"$root/round=1/_shards.json") === s"""{"3":"$root/round=0","1":"$root/round=1"}""")
  }

  test("_graft_buckets bytes: the bucket count in decimal, nothing else") {
    val root = tmpDir("format-buckets")
    val store = new SnapshotStore(root, spark)
    store.writeBucketed("seen_all", 1, Seq(("a", 1L), ("b", 2L)).toDF("url", "urlHash"), "urlHash", 4)
    assert(text(s"${store.tablePath("seen_all", 1)}/_graft_buckets") === "4")
    assert(store.bucketCountOf("seen_all", 1) === Some(4))
    assert(store.bucketCountOf("seen_all", 2) === None)
    store.clear()
  }

  test("a completed crawl leaves no temp file in its store; round 0 records the shard count") {
    val pages = spark.createDataset(Fixtures.generate(FixtureConfig(nHosts = 4, maxPagesPerHost = 16))).toDF()
    val root = tmpDir("format-crawl")
    val store = new SnapshotStore(root, spark)
    // compaction every round: the _graft_buckets marker is written too
    val out = new CrawlLoop(spark, CrawlConfig(hostBudget = 3, compactSeenEvery = 1, shards = 4),
      pages, spark.emptyDataset[RobotsRule], Map.empty, store).run(Seq(Fixtures.urlOf(0, 0)))
    assert(out.roundsRun > 2)
    val files = Files.walk(Paths.get(root)).filter(Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[Path])
    assert(files.exists(_.getFileName.toString == "_graft_buckets"))
    assert(files.exists(_.getFileName.toString == "_shards.json"))
    val leftovers = files.filter(_.getFileName.toString.contains(".tmp"))
    assert(leftovers.isEmpty, s"temp files left in the store: ${leftovers.mkString(", ")}")
    assert(text(s"$root/_commits/round_0.json") === """{"round":0,"frontier":1,"ord_next":0,"shards":4}""")
    store.clear()
  }

  test("a rename that reports failure fails writeAtomic, naming the temp file and the target") {
    // Hadoop's FileSystem cache is keyed by scheme and authority, so priming
    // it with a Configuration that maps the scheme routes StoreFiles' own
    // lookup to the same instance
    val conf = new Configuration()
    conf.set(s"fs.${NoRenameFileSystem.Scheme}.impl", classOf[NoRenameFileSystem].getName)
    FileSystem.get(URI.create(s"${NoRenameFileSystem.Scheme}:///"), conf)
    val dir = tmpDir("format-rename")
    val target = new HPath(s"${NoRenameFileSystem.Scheme}://$dir/_commits/round_0.json")
    val e = intercept[IOException](StoreFiles.writeText(target, "{}"))
    assert(e.getMessage.contains(s"$target.tmp") && e.getMessage.contains(s"-> $target"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$dir/_commits/round_0.json")))
  }
}

/** A local FileSystem under its own scheme whose rename reports failure the
  * way Hadoop does: by returning false.
  */
class NoRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${NoRenameFileSystem.Scheme}:///")
  override def rename(src: HPath, dst: HPath): Boolean = false
}

object NoRenameFileSystem {
  val Scheme = "graftnorename"
}
