package graft.crawl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Page-store preparation for the at-scale fetch join.
  *
  * The fetch join's big side is the page store; re-shuffling 100 TB of it
  * every crawl round would be the single dominant cost at 10^10 rows. A
  * store prepared as a parquet table bucketed (and sorted) by `urlHash`
  * makes every round's fetch join shuffle ONLY the frontier side: the scan's
  * HashPartitioning(urlHash) already satisfies the join's required
  * distribution, so the store side plans with NO Exchange (PlanSpec pins
  * this). Outside the sandbox the same contract is an Iceberg
  * `bucket(N, urlHash)` partition transform — declarative, catalog-supplied.
  *
  * Preparation also collapses multiple captures per URL (Common-Crawl
  * stores are multi-capture; the crawl loop's fetch join requires one row
  * per url — [[latestCapture]]) and materializes the 8-byte join key.
  */
object PageStore {

  /** Latest capture per url: keep max (warc_ts, …) — a map-side-combining
    * aggregate, one shuffle, run ONCE at preparation time (never per round).
    */
  def latestCapture(pages: DataFrame): DataFrame =
    pages.groupBy(col("url"))
      .agg(max(struct(col("warc_ts"), col("html"), col("text"), col("lang"))).as("m"))
      .select(col("url"), col("m.warc_ts").as("warc_ts"), col("m.html").as("html"),
        col("m.text").as("text"), col("m.lang").as("lang"))

  /** pages with the 8-byte join/partition key materialized */
  def withUrlHash(pages: DataFrame): DataFrame =
    if (pages.columns.contains("urlHash")) pages
    else pages.withColumn("urlHash", xxhash64(col("url")))

  val PageSchemaDdl: String =
    "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING, urlHash BIGINT"

  /** Write `pages` as a bucketed+sorted external parquet table and return
    * its (bucket-aware) scan. `dedupCaptures = false` skips the per-url
    * collapse when the caller guarantees uniqueness already.
    */
  def prepareBucketed(
      spark: SparkSession,
      pages: DataFrame,
      tableName: String,
      buckets: Int,
      path: String,
      dedupCaptures: Boolean = true): DataFrame = {
    val base = withUrlHash(if (dedupCaptures) latestCapture(pages) else pages)
    // one writer task per bucket -> ONE file per bucket: Spark only trusts
    // (and elides the per-join Sort from) the sortBy metadata when each
    // bucket is a single file; multiple files per bucket would re-sort the
    // whole store side on every fetch join
    saveBucketed(spark, base.repartition(buckets, col("urlHash")), tableName, path, "urlHash", buckets)
    spark.table(tableName)
  }

  /** Write `df` as an external parquet table at `path`, bucketed and sorted
    * by `bucketCol`, replacing any catalog entry named `tableName` (the
    * writer of both the page store and [[SnapshotStore.writeBucketed]]).
    */
  private[crawl] def saveBucketed(spark: SparkSession, df: DataFrame, tableName: String,
                                  path: String, bucketCol: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${quoteIdent(tableName)}")
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .saveAsTable(tableName)
  }

  private def quoteIdent(name: String): String = s"`$name`"

  /** Re-attach an existing bucketed table directory in a fresh session (the
    * in-memory catalog does not survive restarts; the data + bucket layout
    * do). The declared spec must match how the files were written.
    */
  def reattach(
      spark: SparkSession,
      tableName: String,
      path: String,
      schemaDdl: String,
      bucketCol: String,
      buckets: Int): DataFrame = {
    if (!spark.catalog.tableExists(tableName))
      spark.sql(
        s"""CREATE TABLE ${quoteIdent(tableName)} ($schemaDdl) USING parquet
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    spark.table(tableName)
  }
}
