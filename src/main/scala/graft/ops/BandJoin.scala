package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The shapes every near-dup op in [[Dedup]] and [[Similarity]] is built
  * from, written once: the loud hot-bucket cap, undirected candidate pairs
  * from a bucket equi-join (never an all-pairs join), the once-per-side
  * payload re-join that verifies them, and the exact-first composition
  * that keeps byte-identical clusters out of the bucket join.
  */
private[graft] object BandJoin {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** default cap accounting: loud, driver-side */
  def logCap(what: String)(droppedBuckets: Long, droppedRows: Long): Unit =
    log.warn(s"[$what] dropped $droppedBuckets over-capacity LSH buckets " +
      s"($droppedRows member rows) — pairs inside them are NOT generated. " +
      "Compose exact-dedup first (Dedup.dedupCorpus) so byte-identical " +
      "clusters never reach the band join.")

  /** Optional hot-bucket guard for a bucket join: buckets with more than
    * `maxBucketSize` members are DROPPED — with loud accounting, never
    * silently. The accounting is LAZY ([[CapStats]]): the hot-bucket frame
    * records its rows into an accumulator as the plan executes, and the
    * (buckets, rows) drop counts reach `onCap` on the listener bus right
    * after the first action on the returned frame — building the plan
    * fires no Spark job. A bucket of m members emits O(m²)
    * candidate pairs; no partition-level skew handling changes that count,
    * so past the point where exact-dedup composition (the real fix —
    * [[Dedup.dedupCorpus]]) has run, a cap is the only defense against
    * near-identical boilerplate going quadratic. maxBucketSize <= 0
    * disables the cap.
    */
  def capBuckets(buckets: DataFrame, keyCols: Seq[String], maxBucketSize: Int,
                 onCap: (Long, Long) => Unit): DataFrame =
    if (maxBucketSize <= 0) buckets
    else {
      val keys = keyCols.map(col)
      val hot = CapStats.observed(
        buckets.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucketSize),
        keyCols, onCap)
      // no broadcast hint: the hot set is normally tiny (AQE broadcasts it),
      // but a mis-tuned banding could make it huge — don't force it onto
      // the driver in that case
      buckets.join(hot.select(keys: _*), keyCols, "left_anti")
    }

  /** Undirected candidate pairs: every distinct (a, b), a < b, of `id`s
    * sharing a `keyCols` bucket of the [[capBuckets]]-capped `buckets`.
    * Only ids ride the self-join unless `carry` names more columns; those
    * arrive as `<c>a` / `<c>b`. `verify` runs on each candidate row BEFORE
    * the pair distinct — a predicate over carried columns that drops most
    * candidates makes the distinct's shuffle carry only the survivors; the
    * columns it adds are kept (they must be functions of (a, b)).
    */
  def pairs(buckets: DataFrame, keyCols: Seq[String], maxBucketSize: Int,
            onCap: (Long, Long) => Unit, carry: Seq[String] = Nil,
            verify: DataFrame => DataFrame = identity): DataFrame = {
    val capped = capBuckets(buckets, keyCols, maxBucketSize, onCap)
    def side(s: String): DataFrame =
      capped.select(keyCols.map(col) ++ (col("id").as(s) +: carry.map(c => col(c).as(c + s))): _*)
    verify(side("a").join(side("b"), keyCols).filter(col("a") < col("b")))
      .drop(keyCols ++ carry.flatMap(c => Seq(c + "a", c + "b")): _*)
      .dropDuplicates("a", "b")
  }

  /** Join candidate pairs (`aCol`, `bCol`) back to per-id payload tables
    * (id, `cols`...) ONCE per side — the de-amplified verification shape:
    * the heavy payload (shingle set / vector) crosses the wire exactly
    * twice in total, not once per band × side. Payload column c lands as
    * `<c>a` from `payloadA` and `<c>b` from `payloadB`.
    */
  def attach(pairs: DataFrame, cols: Seq[String], payloadA: DataFrame, payloadB: DataFrame,
             aCol: String = "a", bCol: String = "b"): DataFrame = {
    def side(payload: DataFrame, key: String, s: String): DataFrame =
      payload.select(col("id").as(key) +: cols.map(c => col(c).as(c + s)): _*)
    pairs.join(side(payloadA, aCol, "a"), Seq(aCol)).join(side(payloadB, bCol, "b"), Seq(bCol))
  }

  /** Exact-first composition, front half: the min-`id` representative of
    * every exact `key` cluster. Returns (member → representative as
    * (`id`, rep), the representatives' own `base` rows). The cluster
    * table feeds both, so it is persisted — the full-corpus aggregation
    * runs once; callers release it via OpCaches.releaseAll().
    */
  def exactReps(base: DataFrame, id: String, key: String): (DataFrame, DataFrame) = {
    val reps = OpCaches.persist(
      base.groupBy(col(key)).agg(min(col(id)).as("rep")), StorageLevel.MEMORY_AND_DISK)
    val memberRep = base.select(col(id), col(key)).join(reps, Seq(key)).select(col(id), col("rep"))
    (memberRep, base.join(reps.select(col("rep").as(id)), Seq(id), "left_semi"))
  }

  /** Exact-first composition, back half — the keep-smallest re-expand
    * (single pass, deliberately not transitive): representative b of a
    * near-dup pair (a, b), a < b, is dropped in favor of its smallest a.
    * One row per member: (`id`, dup_of, kept), where `dup_of` is the exact
    * representative for exact duplicates, the smallest near-duplicate
    * representative for dropped representatives, and the row itself when
    * kept.
    */
  def keepSmallest(memberRep: DataFrame, pairs: DataFrame, id: String): DataFrame = {
    val dropRep = pairs.groupBy(col("b").as("rep")).agg(min(col("a")).as("__near"))
    memberRep.join(dropRep, Seq("rep"), "left")
      .select(col(id),
        when(col(id) =!= col("rep"), col("rep"))
          .when(col("__near").isNotNull, col("__near"))
          .otherwise(col(id)).as("dup_of"))
      .withColumn("kept", col("dup_of") === col(id))
  }
}
