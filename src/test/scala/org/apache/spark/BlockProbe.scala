package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Test-side view of Spark state the public API does not expose: RDD blocks
  * held by any block manager, the CacheManager, the listener bus and the
  * jobs it reports.
  */
object BlockProbe {
  /** ids of RDDs that still hold at least one block on any block manager */
  def rddIdsWithBlocks(sc: SparkContext): Set[Int] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .flatMap(_.asRDDId).map(_.rddId).toSet

  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager.isEmpty

  /** run `body` (which may throw), returning its outcome and the ids of the
    * RDDs unpersisted while it ran
    */
  def unpersistedDuring[T](sc: SparkContext)(body: => T): (Try[T], Set[Int]) = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = ids.add(e.rddId)
    }
    sc.addSparkListener(l)
    try {
      val r = Try(body)
      sc.listenerBus.waitUntilEmpty()
      (r, ids.asScala.toSet)
    } finally sc.removeSparkListener(l)
  }

  /** run `body`, returning its result and the number of Spark jobs started
    * while it ran
    */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}
