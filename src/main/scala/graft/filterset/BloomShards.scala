package graft.filterset

import graft.crawl.StoreFiles
import graft.model.CrawlConfig
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Partitioned bloom URL-seen pre-filter (BASELINE.json:14 "partitioned
  * bloom/cuckoo URL-seen structure" — Spark's `BloomFilter` is the one
  * per-shard structure, at a fixed 1% target FPR; sizing heuristics per
  * PAPERS.md bloom-collection work).
  *
  * Design for 10^10 URLs: the seen set cannot be one broadcastable filter
  * (~12 GB at 1% FPR), so it is sharded by `pmod(xxhash64(url), S)`. Each
  * round, one task per shard folds that shard's newly-seen urlHashes into
  * the previous round's shard file (written through
  * [[graft.crawl.StoreFiles]], like every small durable file of the store).
  * Probing tasks lazily load and JVM-cache only the shards they touch —
  * nothing is collected to the driver and no filter bytes travel row-wise
  * through a join.
  *
  * Exactness: the bloom answers only "definitely unseen" — those rows skip
  * the exact anti-join; "maybe seen" rows still go through it, so the seen
  * set stays exact (BASELINE.json:6) with zero false drops. Hashes (not raw
  * urls) are inserted: if url ∈ seen then its xxhash64 is in the filter, so
  * no false "definitely unseen" is possible.
  */
object BloomShards extends Serializable {

  /** Target false-positive rate of every shard filter. */
  private final val Fpp = 0.01

  /** Shard files are tag byte 0 followed by `BloomFilter.writeTo` (tag 1
    * was the removed cuckoo option: such a file fails loudly instead of
    * misparsing). Legacy shard files (pre-tag code wrote `bf.writeTo`
    * directly — the bootstrap layout readShardMap still accepts) start with
    * Spark BloomFilter's big-endian version int (1 in Spark <4, 2 in Spark
    * 4's V2 format — verified against this classpath), so the first FOUR
    * bytes disambiguate: (0,0,0,1)/(0,0,0,2) can only be an untagged
    * stream — a tagged one reads (0,0,0,0) there (tag 0 + the version
    * int's three leading zero bytes).
    */
  private def readFilter(is0: java.io.InputStream): BloomFilter = {
    val is = new java.io.PushbackInputStream(is0, 4)
    val head = new Array[Byte](4)
    var n = 0
    while (n < 4) {
      val r = is.read(head, n, 4 - n)
      if (r < 0) throw new java.io.EOFException(s"truncated seen-filter stream ($n header bytes)")
      n += r
    }
    if (head(0) == 0 && head(1) == 0 && head(2) == 0 && (head(3) == 1 || head(3) == 2)) {
      is.unread(head) // legacy untagged Spark bloom stream
      BloomFilter.readFrom(is)
    } else {
      is.unread(head, 1, 3) // consume the tag byte, restore the rest
      head(0) match {
        case 0 => BloomFilter.readFrom(is)
        case 1 => throw new java.io.IOException(
          "seen-filter tag byte 1 marks a shard of the removed cuckoo option " +
            "(seenFilterKind = \"cuckoo\"); only bloom shards load — re-crawl into a fresh store")
        case t => throw new java.io.IOException(s"unknown seen-filter tag byte $t")
      }
    }
  }

  def shardCol(urlHash: Column, s: Int): Column = pmod(urlHash, lit(s.toLong)).cast("int")

  private def shardFile(dir: String, shard: Int) = new Path(s"$dir/shard_$shard.bf")

  // ---- shard map: per round dir, a tiny manifest mapping shard -> the dir
  // that holds its LATEST filter file. Untouched shards are carried forward
  // by REFERENCE, never by copying the MB-sized filter files (the old
  // copy-forward cost cfg.shards driver-side file copies every round — pure
  // fixed per-round overhead).
  private def mapFile(dir: String) = new Path(s"$dir/_shards.json")

  private def readShardMap(dir: String): Map[Int, String] =
    StoreFiles.readText(mapFile(dir)) match {
      case Some(body) =>
        """"(\d+)":"([^"]*)"""".r.findAllMatchIn(body)
          .map(m => m.group(1).toInt -> m.group(2)).toMap
      case None =>
        // bootstrap layout: whatever shard files exist directly in dir
        val d = new Path(dir)
        if (!StoreFiles.exists(d)) Map.empty
        else StoreFiles.fs(d).listStatus(d).map(_.getPath.getName)
          .collect { case n if n.startsWith("shard_") && n.endsWith(".bf") =>
            n.stripPrefix("shard_").stripSuffix(".bf").toInt -> dir }
          .toMap
    }

  /** Fold `newHashes` (columns: shard int, urlHash long) into the previous
    * round's shard filters: merged filters for TOUCHED shards are written
    * under `newDir` (one task per touched shard); untouched shards carry
    * forward by reference in the shard map. Returns the number of hashes
    * inserted per touched shard (untouched shards are absent).
    */
  def update(spark: SparkSession, newHashes: DataFrame, prevDir: Option[String],
             newDir: String, cfg: CrawlConfig): Map[Int, Long] = {
    import spark.implicits._
    val expected = cfg.bloomExpectedPerShard
    val prevMap: Map[Int, String] = prevDir.map(readShardMap).getOrElse(Map.empty)
    val nd = newDir
    val touched = newHashes
      .select(col("shard"), col("urlHash"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, rows) =>
        val bf = prevMap.get(shard).flatMap(d => load(d, shard))
          .getOrElse(BloomFilter.create(expected, Fpp))
        var n = 0L
        rows.foreach { r => bf.putLong(r._2); n += 1 }
        StoreFiles.writeAtomic(shardFile(nd, shard)) { os => os.write(0); bf.writeTo(os) }
        (shard, n)
      }
      .collect()
      .toMap
    StoreFiles.writeText(mapFile(newDir),
      (prevMap ++ touched.keys.map(_ -> newDir)).map { case (s, d) => s""""$s":"$d"""" }.mkString("{", ",", "}"))
    touched
  }

  // JVM-wide probe-side cache: (dir, shard) -> filter. Round dirs are unique
  // paths, so stale entries never alias. LRU-capped: one overflow evicts only
  // the least-recently-used entry, never the whole cache (a clear() would
  // make every in-flight task re-read its shard file).
  private val MaxCached = 256
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int), BloomFilter](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, Int), BloomFilter]): Boolean =
        size() > MaxCached
    })

  private def load(dir: String, shard: Int): Option[BloomFilter] =
    StoreFiles.read(shardFile(dir, shard))(readFilter)

  // probe-side shard-map cache (tiny: a Map[Int,String] per round dir)
  private val mapCache = new java.util.concurrent.ConcurrentHashMap[String, Map[Int, String]]()

  private def cached(dir: String, shard: Int): Option[BloomFilter] = {
    val k = (dir, shard)
    Option(cache.get(k)).orElse {
      val m = mapCache.computeIfAbsent(dir, readShardMap(_))
      val bf = m.get(shard).flatMap(load(_, shard))
      bf.foreach(b => cache.put(k, b))
      bf
    }
  }

  /** Column predicate: true iff the shard filter *might* contain the hash
    * (missing shard file => nothing seen in that shard => false).
    */
  def mightBeSeen(dir: String)(shard: Column, urlHash: Column): Column = {
    val f = udf((s: Int, h: Long) => cached(dir, s).exists(_.mightContainLong(h)))
    f(shard, urlHash)
  }
}
