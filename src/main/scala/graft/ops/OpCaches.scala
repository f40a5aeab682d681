package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry for DataFrames persisted INSIDE lazily-returned operators.
  *
  * The near-dup ops built on [[BandJoin]] persist an expensive
  * intermediate — the shingle table, the exact-cluster representative
  * table, the bucket-key table — that several branches of their plan
  * read. Because each op returns a lazy DataFrame, the op itself cannot
  * unpersist — the cache must outlive the call until the caller consumes
  * the result. Without a
  * release hook, repeated calls in one session accumulate cached blocks
  * until block-manager eviction starts thrashing unrelated caches (e.g. the
  * crawl loop's per-round frames).
  *
  * Contract: after consuming an op's result (collect/write/count), call
  * [[releaseAll]]. Harness mains (Bench, Verify) do this after every query.
  */
object OpCaches {

  private val active = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** persist `df` at the given level and track it for [[releaseAll]] */
  private[graft] def persist(df: DataFrame,
                             level: org.apache.spark.storage.StorageLevel): DataFrame = {
    val p = df.persist(level)
    active.add(p)
    p
  }

  /** unpersist every op-internal cache registered since the last release */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = active.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = active.poll()
    }
  }
}
