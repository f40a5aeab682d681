package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchShims
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One finished task, as the listener saw it. Times are epoch ms. */
final case class TaskRec(finishMs: Long, runMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long, recordsRead: Long)

/** One finished job, as the listener saw it. Times are epoch ms. */
final case class JobRec(startMs: Long, endMs: Long)

/** A named interval of driver wall time. Counters are attributed to a span
  * by the event's own timestamp, so the listener bus may deliver late.
  */
final case class Span(name: String, startMs: Long, endMs: Long, gcMs: Long) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** What the listener counted inside one span. */
final case class SpanCounts(jobs: Int, tasks: Int, taskRunS: Double,
    shuffleMb: Double, spillMb: Double, recordsRead: Long, idleS: Double)

/** The benchmark's only SparkListener: every job and task, kept in memory
  * and read after the run, plus JVM-wide GC time and the peak live heap.
  */
final class Counters(spark: SparkSession) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(t0 => jobs.add(JobRec(t0, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.recordsRead))
  }

  def drain(): Unit = PerfbenchShims.drainListeners(spark.sparkContext)

  /** total GC time of this JVM so far (local mode: driver = executor) */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` as a span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val gc0 = gcMs
    val t0 = System.currentTimeMillis()
    val r = body
    val t1 = System.currentTimeMillis()
    (r, Span(name, t0, t1, gcMs - gc0))
  }

  /** Counters for events inside `s`; drains the listener bus first. */
  def counts(s: Span): SpanCounts = {
    drain()
    val ts = tasks.asScala.filter(t => t.finishMs >= s.startMs && t.finishMs <= s.endMs).toSeq
    val js = jobs.asScala.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs).toSeq
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .sortBy(_._1)
    // union of job intervals = driver wall during which some job ran
    var busy = 0L; var curS = -1L; var curE = -1L
    js.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    busy += curE - curS
    SpanCounts(
      jobs = jobs.asScala.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs),
      tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      shuffleMb = ts.map(_.shuffleWriteBytes).sum / 1048576.0,
      spillMb = ts.map(_.spillBytes).sum / 1048576.0,
      recordsRead = ts.map(_.recordsRead).sum,
      idleS = math.max(0L, (s.endMs - s.startMs) - busy) / 1e3)
  }

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new AtomicLong(0L)
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  /** Start a new live-heap peak. */
  def resetHeapPeak(): Unit = peakAfterGc.set(0L)

  /** Peak live heap since [[resetHeapPeak]], in MB: the largest heap usage
    * right after a collection, summed over the heap pools, as the JVM
    * reports it with each GC (the figure `MemoryPoolMXBean` collection
    * usage holds). Ends with one full collection, so a run that allocates
    * too little to trigger a GC still reports its live heap.
    */
  def heapPeakMb(): Double = {
    System.gc()
    // GC notifications are delivered on their own thread
    Thread.sleep(200)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    math.max(peakAfterGc.get, pools) / 1048576.0
  }
}
