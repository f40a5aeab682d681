package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (launched by perfbench/run.py).
  *
  *   Main --workload <crawl_wave|query_suite> --seed <n>
  *        --seconds <s> --trace <0|1>
  *
  * System properties: perfbench.work (the run's scratch directory),
  * perfbench.data (the query suite's tables), perfbench.hashes (the query
  * suite's expected result digests) and perfbench.record (write those
  * digests instead of checking them).
  *
  * Runs one workload as a closed loop with one client on local[4] and
  * prints an info line, then one JSON result line, on stdout. With
  * --trace 0 the result carries the end-to-end metrics; with --trace 1 it
  * carries the per-layer metrics of a separate traced run.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1")
  }

  /** local[4] session; the columnar batch sizes are the ones the
    * workload's own main uses by default (graft.CrawlBench, graft.Bench)
    */
  def session(work: String, cacheBatch: Int, scanBatch: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", cacheBatch.toString)
      .config("spark.sql.parquet.columnarReaderBatchSize", scanBatch.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** every per-layer metric: a traced run reports 0 for the layers its
    * workload does not run
    */
  val LayerMetrics: Seq[(String, String)] = CrawlBenchmark.LayerMetrics ++ QuerySuite.LayerMetrics

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    def prop(k: String): String = sys.props.getOrElse(k, sys.error(s"missing -D$k"))
    val work = prop("perfbench.work")
    def ready(spark: SparkSession): (Counters, Double) =
      (new Counters(spark), (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val out = a.workload match {
      case "crawl_wave" =>
        val spark = session(work, cacheBatch = 10000, scanBatch = 4096)
        val (counters, readyS) = ready(spark)
        try CrawlBenchmark.run(spark, CrawlSpec.wave(a.seed), a, work, counters, readyS)
        finally spark.stop()
      case "query_suite" =>
        val spark = session(work, cacheBatch = 1024, scanBatch = 512)
        val (counters, readyS) = ready(spark)
        try QuerySuite.run(spark, a, prop("perfbench.data"), prop("perfbench.hashes"),
          sys.props.get("perfbench.record").contains("1"), counters, readyS)
        finally spark.stop()
      case w => sys.error(s"unknown workload $w")
    }
    val metrics =
      if (!a.trace) out.metrics
      else out.metrics ++ LayerMetrics.collect {
        case (n, u) if !out.metrics.exists(_.name == n) => Metric(n, 0.0, u)
      }
    println(out.info.map { case (k, v) => s"${Stats.str(k)}:$v" }.mkString("""{"info":{""", ",", "}}"))
    val ms = metrics.map(m =>
      s"""${Stats.str(m.name)}:{"value":${Stats.num(m.value)},"unit":${Stats.str(m.unit)}}""")
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }
}
