package graft.crawl

import graft.model.{CrawlOrderRow, FrontierEntry, Lineage, RunnerResult}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Iceberg-semantics table store without Iceberg (SURVEY.md §7.5 — no
  * Iceberg/Delta jar exists in the sandbox and egress is disabled).
  *
  * Semantics mirrored from Iceberg's snapshot commit protocol at the
  * granularity the crawl loop needs: immutable per-round data directories +
  * a single atomically-renamed manifest per round under `_commits/`. A round
  * is visible iff its manifest exists; a kill mid-round leaves orphan data
  * dirs that the re-run overwrites. Resume = max committed round
  * (BASELINE.json:6 "a killed job resumes mid-crawl without re-fetching").
  *
  * The crawl loop codes against this class's five-method surface only, so a
  * real Iceberg catalog binds outside the sandbox via configuration, not
  * code changes. The store's small durable files go through [[StoreFiles]].
  */
class SnapshotStore(val root: String, spark: SparkSession) {

  def tablePath(table: String, round: Int): String = s"$root/$table/round=$round"
  private def manifest(round: Int) = new Path(s"$root/_commits/round_$round.json")

  /** write one immutable per-round data dir (overwrite = crash re-run) */
  def write(table: String, round: Int, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(tablePath(table, round))

  /** every catalog name of this store's bucketed tables ends in this */
  private val catalogSuffix = s"_${(root.hashCode & 0x7FFFFFFF).toHexString}"
  private def tableIdent(table: String, round: Int): String = s"graft_${table}_r$round$catalogSuffix"
  private def bucketsFile(table: String, round: Int) = new Path(s"${tablePath(table, round)}/_graft_buckets")

  /** Write one per-round snapshot as a BUCKETED external parquet table
    * (bucketBy+sortBy on `bucketCol`) so downstream per-round joins against
    * it need no Exchange on this side. Iceberg analog: a bucket partition
    * transform on the snapshot table.
    */
  def writeBucketed(table: String, round: Int, df: DataFrame,
                    bucketCol: String, buckets: Int): Unit = {
    PageStore.saveBucketed(spark, df, tableIdent(table, round), tablePath(table, round), bucketCol, buckets)
    // the snapshot's bucket count is PART of the snapshot, not of whoever
    // resumes it: a job resumed with a changed `shards` config would
    // otherwise mis-declare the bucketing on the exchange-free anti-join
    // path and silently join wrong. Written after the data (crash between
    // the two = un-committed round, re-run overwrites both).
    StoreFiles.writeText(bucketsFile(table, round), buckets.toString)
  }

  /** bucket count recorded by [[writeBucketed]] (None: pre-metadata store) */
  def bucketCountOf(table: String, round: Int): Option[Int] =
    StoreFiles.readText(bucketsFile(table, round)).flatMap(_.trim.toIntOption)

  /** Read a snapshot written by [[writeBucketed]], re-registering the
    * bucketed table in a fresh session (resume: the in-memory catalog dies
    * with the JVM; the data + bucket layout don't). `schemaDdl`/`buckets`
    * must match the writer's.
    */
  def readBucketed(table: String, round: Int, schemaDdl: String,
                   bucketCol: String, buckets: Int): DataFrame =
    PageStore.reattach(spark, tableIdent(table, round), tablePath(table, round),
      schemaDdl, bucketCol, buckets)

  /** atomic commit marker (a round is visible iff its manifest exists) */
  def commit(round: Int, meta: Map[String, Long]): Unit =
    StoreFiles.writeText(manifest(round),
      meta.map { case (k, v) => s""""$k":$v""" }.mkString(s"""{"round":$round,""", ",", "}"))

  def committedMeta(round: Int): Option[Map[String, Long]] =
    StoreFiles.readText(manifest(round)).map { body =>
      """"([A-Za-z_]+)":(-?\d+)""".r.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap
    }

  def latestCommitted: Option[Int] = {
    val dir = new Path(s"$root/_commits")
    val f = StoreFiles.fs(dir)
    if (!f.exists(dir)) None
    else {
      val rounds = f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("round_") && n.endsWith(".json") =>
          n.stripPrefix("round_").stripSuffix(".json").toInt }
      if (rounds.isEmpty) None else Some(rounds.max)
    }
  }

  /** A reader for `table`: the crawl's own tables carry their known schema,
    * so reading one back starts no footer-inference job.
    */
  private def reader(table: String): DataFrameReader =
    SnapshotStore.Schemas.get(table).fold(spark.read)(spark.read.schema(_))

  def read(table: String, round: Int): DataFrame =
    reader(table).parquet(tablePath(table, round))

  /** union of rounds 0..round that exist for `table` (e.g. the incremental
    * seen-set additions; Iceberg analog: snapshot-as-of read)
    */
  def readUpTo(table: String, round: Int): DataFrame = {
    val paths = (0 to round).filter(exists(table, _)).map(tablePath(table, _))
    require(paths.nonEmpty, s"no committed data for $table up to round $round")
    reader(table).parquet(paths: _*)
  }

  /** largest round <= upTo for which `table` has a data dir */
  def latestExisting(table: String, upTo: Int): Option[Int] =
    (upTo to 0 by -1).find(exists(table, _))

  def exists(table: String, round: Int): Boolean = StoreFiles.exists(new Path(tablePath(table, round)))

  // ---- lineage: a few dozen driver-held rows per round. Written as one
  // CSV file via the FileSystem API — NO Spark job (a per-round write job
  // was pure fixed overhead at 2-8 cores); read back (rare) the same way.
  private def lineagePath(round: Int) = new Path(s"$root/lineage_csv/round_$round.csv")

  def writeLineage(round: Int, rows: Seq[Lineage]): Unit =
    StoreFiles.writeText(lineagePath(round),
      rows.map(l => Seq(l.round, l.shard, l.admitted, l.fetched, l.discovered,
        l.dedupDropped, l.robotsDropped, l.budgetDeferred, l.errors, l.retries, l.wallMs)
        .mkString(",")).mkString("\n"))

  def readLineage(upTo: Int): Seq[Lineage] =
    (0 to upTo).flatMap { r =>
      StoreFiles.readText(lineagePath(r)).toSeq.flatMap(_.linesIterator.filter(_.nonEmpty).map { line =>
        val c = line.split(",").map(_.toLong)
        Lineage(c(0).toInt, c(1).toInt, c(2), c(3), c(4), c(5), c(6), c(7), c(8), c(9), c(10))
      })
    }

  /** Seen set as of round k, as SNAPSHOT PARTS for chained anti-joins (and
    * the public [[CrawlOutcome.seen]] read): the latest compacted base (a
    * bucketed table — its anti-join needs no Exchange on this, the big,
    * side) plus the uncompacted per-round deltas as one union — O(compaction
    * interval) file fan-in instead of O(rounds). Never merged into one
    * frame here: a union would erase the base's bucketing.
    */
  def readSeenParts(k: Int, shards: Int): Seq[DataFrame] =
    latestExisting("seen_all", k) match {
      case Some(c) =>
        val deltas = (c + 1) to k
        // bucket count comes from the snapshot's own metadata — `shards` is
        // only the fallback for stores written before the metadata existed.
        // Trusting the CALLER's current config would mis-declare bucketing
        // after a resume with a changed shards setting.
        val buckets = bucketCountOf("seen_all", c).getOrElse(shards)
        val base = readBucketed("seen_all", c, "url STRING, urlHash BIGINT", "urlHash", buckets)
          .select("url", "urlHash")
        if (deltas.isEmpty) Seq(base)
        else Seq(
          reader("fresh").parquet(deltas.map(tablePath("fresh", _)): _*)
            .select("url", "urlHash"),
          base)
      case None => Seq(readUpTo("fresh", k).select("url", "urlHash"))
    }

  def bloomDir(round: Int): String = s"$root/bloom/round=$round"

  def clear(): Unit = {
    val p = new Path(root)
    StoreFiles.fs(p).delete(p, true)
    // drop this store's catalog entries so a reused session can't resolve
    // bucketed tables whose files are gone
    spark.catalog.listTables().collect()
      .map(_.name)
      .filter(n => n.startsWith("graft_") && n.endsWith(catalogSuffix))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
  }
}

object SnapshotStore {
  /** columns of `fresh` and `carry`, in the order the crawl writes them */
  val FrontierSchema: StructType = Encoders.product[FrontierEntry].schema

  /** the written schema of each per-round table the crawl reads back */
  private val Schemas: Map[String, StructType] = Map(
    "fresh" -> FrontierSchema,
    "carry" -> FrontierSchema,
    "order" -> Encoders.product[CrawlOrderRow].schema,
    "results" -> Encoders.product[RunnerResult].schema)
}
