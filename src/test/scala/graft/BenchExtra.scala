package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-7 auxiliary measurements (guide §1.4): times individual declared
  * queries through the NOOP sink so the computation is isolated from the
  * harness's count() action, with per-query medians over `reps` passes.
  * Separate main by design — `graft.Bench` is the frozen driver contract
  * and is not touched. Cited numbers land in OPTIMIZATION_r07.md.
  *
  * Usage: Test/runMain graft.BenchExtra <query> [<query> ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_BENCH_REPS, GRAFT_BENCH_WARMUP
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchExtra <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
    val warmups = sys.env.getOrElse("GRAFT_BENCH_WARMUP", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", sys.env.getOrElse("GRAFT_CACHE_BATCH", "1024"))
      .config("spark.sql.parquet.columnarReaderBatchSize", sys.env.getOrElse("GRAFT_SCAN_BATCH", "512"))
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // noop (default) isolates the full computation from the sink (guide
    // §1.4); sink=count mirrors the frozen driver protocol for
    // apples-to-apples spot checks (count eliminates the final sort)
    val sinkMode = sys.env.getOrElse("GRAFT_EXTRA_SINK", "noop")
    def noop(df: DataFrame): Unit =
      if (sinkMode == "count") { df.count(); () }
      else df.write.format("noop").mode("overwrite").save()

    val names = args.toSeq
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    names.foreach(samples(_) = Vector.empty)
    def runPass(timed: Boolean): Unit = names.foreach { name =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, sfDir))
      if (timed) samples(name) :+= (System.nanoTime() - t0) / 1e9
      graft.ops.OpCaches.releaseAll()
    }
    (1 to warmups).foreach(_ => runPass(timed = false))
    (1 to reps).foreach(_ => runPass(timed = true))

    def median(v: Vector[Double]): Double = { val s = v.sorted; s(s.length / 2) }
    val qjson = names.map { n =>
      val s = samples(n)
      f""""$n":{"median":${median(s)}%.3f,"min":${s.min}%.3f,"max":${s.max}%.3f}"""
    }.mkString(",")
    println(s"""{"bench":"extra","sink":"$sinkMode","reps":$reps,"queries":{$qjson}}""")
    spark.stop()
  }
}
