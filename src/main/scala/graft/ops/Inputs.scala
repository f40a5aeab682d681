package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf

/** Input-parallelism guard for compute-heavy map passes (guide §2.5 "input
  * skew: one huge unsplittable file … repartition immediately after the
  * read", and §1.2: fix the distributed shape before the per-task work).
  *
  * A small corpus snapshot often arrives as ONE parquet file far under
  * `spark.sql.files.openCostInBytes`-padded split size, so Spark plans a
  * single scan partition — and every fused map pass downstream (shingling,
  * signatures, sha-256 keys, quality regexes) runs on one core, as does the
  * map side of the first partial aggregate. Ops whose first stage is
  * expensive per row route their input through this guard:
  *
  *   - fires ONLY when the scan has fewer partitions than the session
  *     parallelism target AND the optimizer's size estimate says the whole
  *     input would fit in `numShufflePartitions` advisory-sized partitions
  *     (i.e. redistribution costs ~nothing);
  *   - at corpus scale the estimate is large and the scan is already
  *     wide — the guard is a no-op and the text NEVER pays an extra
  *     shuffle (the round-robin exchange exists only in the small regime).
  *
  * Every operator behind this guard is partitioning-independent by the
  * round-6 contract (integer/hash aggregates, full deterministic output
  * orders), so the redistribution cannot change any result.
  */
object Inputs {

  /** true when the optimizer's size estimate says the whole frame fits in
    * `numShufflePartitions` advisory-sized partitions — the "redistribution
    * or materialization costs ~nothing" regime
    */
  private[graft] def isSmall(df: DataFrame): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val advisory = math.max(1L, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(advisory) * conf.numShufflePartitions
  }

  /** true when the optimizer's estimate puts the WHOLE frame under the
    * session broadcast threshold — anything derived from it by distinct-key
    * aggregation is then broadcast-safe without an observed count (worst
    * case a distinct-line key set inflates the bytes by the key-vs-line
    * width ratio — bounded small multiples of an already-broadcastable
    * input, never the unbounded corpus-scale shape the gates exist for).
    * `autoBroadcastJoinThreshold = -1` (disabled) makes this always false.
    */
  private[graft] def isBroadcastSmall(df: DataFrame): Boolean = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    thr > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)
  }

  /** Scale-adaptive partition count for an explicit repartition: Graph's
    * edge/node tables, pre-partitioned ONCE and joined against every round
    * (each per-round label/rank exchange must MATCH that count), and
    * [[Curate.packShards]]' range partitions. An explicit repartition is
    * exempt from AQE coalescing, so a constant (the session
    * shuffle-partition count, sized for the corpus-scale ops) makes a small
    * input pay `nParts` near-empty tasks of pure scheduler latency — per
    * round, for the iterative graph ops (measured: qg_frontier_rank
    * 2.56 s → 1.05 s and qg_components 2.77 s → 1.99 s at sf0.1 just by
    * matching partitions to data). Derived from the optimizer's size
    * estimate instead: ceil(bytes / advisoryPartitionSize), clamped to
    * [1, spark.sql.shuffle.partitions] — a 10^10-edge graph lands on the
    * session ceiling, a fixture graph gets 1.
    */
  private[graft] def adaptiveParts(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val advisory = math.max(1L, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + advisory - 1) / advisory)
      .min(BigInt(conf.numShufflePartitions)).max(BigInt(1)).toInt
  }

  /** Fires when the optimizer's estimate fits the whole input in ONE scan
    * split (`spark.sql.files.maxPartitionBytes`) — such a frame arrives as
    * 1-2 partitions by the split math, so the round-robin exchange costs
    * ~nothing and unlocks the session's full parallelism for the fused map
    * pass. Deliberately judged from STATS ONLY: probing the actual RDD
    * partition count (`df.rdd`) finalizes an adaptive plan, which EXECUTES
    * the frame's shuffle stages eagerly — a derived input would compute
    * twice (measured: dedupCorpus' rep table did exactly that).
    */
  private[graft] def parallelizeSmall(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val plan = df.queryExecution.optimizedPlan
    val oneSplit = plan.stats.sizeInBytes <=
      BigInt(conf.getConf(SQLConf.FILES_MAX_PARTITION_BYTES))
    // only scan-rooted (map-only) lineage is ever under-split: a frame
    // below a join/aggregate/window/repartition already went through an
    // exchange and carries the session parallelism — redistributing it
    // again is pure waste (measured on dedupCorpus' rep table)
    val mapOnly = plan.find {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }.isEmpty
    if (oneSplit && mapOnly) df.repartition(conf.numShufflePartitions) else df
  }
}
