package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph operators for crawl frontier prioritization: PageRank over
  * the discovered-link graph and per-target anchor-text aggregation.
  *
  * A frontier scheduler that fetches in raw discovery order wastes budget
  * on deep link farms; ranking hosts/URLs by link centrality and routing
  * the crawl budget toward high-rank targets is the standard fix. Both ops
  * here are pure DataFrame shapes — bucketable equi-joins and hash
  * aggregates — sized for a 10^10-edge link graph.
  */
object Graph {

  /** Fixed-point (integer) PageRank.
    *
    * All arithmetic is on scaled BIGINTs — ranks start at `scale`
    * (= 1.0), per-edge contribution is `rank div outdeg`, and the update
    * is `scale*(100-damp)/100 + (damp * sum(contrib)) div 100`. Integer
    * sums are associative and commutative, so the result is EXACTLY
    * reproducible regardless of partitioning, shuffle order, or cluster
    * size — unlike a floating-point formulation, whose sums drift with
    * aggregation order and which therefore can never be value-oracled or
    * compared bit-for-bit across runs. (Precision loss vs float is one
    * part in `scale` per term — irrelevant for ranking.)
    *
    * Semantics (documented, oracle-mirrored):
    *   - nodes = distinct(src) ∪ distinct(dst); multi-edges count once if
    *     the caller dedups (we take `edges` as given).
    *   - dangling nodes (no out-edges) do not redistribute their mass —
    *     the usual large-scale simplification; totals are not conserved.
    *
    * Scale shape: the edge table (edges ⋈ outdeg) is computed once,
    * persisted, and pre-partitioned on `src`; each iteration then
    * exchanges ONLY the rank table (one 16-byte row per node) into that
    * partitioning, aggregates contributions by `dst` (map-side partial
    * sum), and left-joins back to the node list. Edges — the 10^10-row
    * side — never move after the initial partitioning. `checkpointEvery`
    * truncates plan lineage on long runs (localCheckpoint: recompute from
    * cached blocks, no filesystem round-trip).
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      scale: Long = 1000000L,
      damp: Long = 85L,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 0 && damp >= 0 && damp <= 100 && scale > 0)
    val nParts = Inputs.adaptiveParts(edges)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one row per edge + its source's outdegree, partitioned on src so the
    // per-iteration rank join re-exchanges only the rank side
    val esrc = OpCaches.persist(
      e.join(outdeg, "src").repartition(nParts, col("src")),
      StorageLevel.MEMORY_AND_DISK)
    val nodes = OpCaches.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct().repartition(nParts, col("node")),
      StorageLevel.MEMORY_AND_DISK)
    val base = scale * (100L - damp) / 100L
    var ranks = nodes.select(col("node"), lit(scale).as("r"))
    for (i <- 1 to iters) {
      val contrib = esrc.join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
      val sums = contrib.groupBy("node").agg(sum(col("c")).as("s"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($damp * coalesce(s, 0L)) div 100")).cast("long").as("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(false)
    }
    ranks
  }

  /** Connected components by hash-min label propagation — the clustering
    * primitive behind site detection (which URLs form one site), mirror
    * grouping, and transitive near-dup resolution (A~B~C chains where
    * A and C never co-bucket).
    *
    * Labels are node ids (BIGINT); each round every node takes the min of
    * its own label and its undirected neighbors' labels. Integer min is
    * associative/commutative/idempotent, so the result after ANY fixed
    * number of rounds is exactly reproducible at any parallelism — the
    * same property that makes [[pageRank]] value-oracle-able. With
    * `iters < 0` the loop runs to CONVERGENCE (a round changes no label;
    * detected by a count aggregate — one scalar to the driver per round,
    * never row data). Fixed `iters >= 0` computes the exact i-round
    * propagation state — the oracle-mirrorable form; components whose
    * min-eccentricity exceeds `iters` are simply not fully merged yet
    * (documented, same contract both engines).
    *
    * Scale shape: edges symmetrize once (projection + union — map-only),
    * persist pre-partitioned on `src`; each round shuffles ONLY the label
    * table (16 bytes/node) into the aggregate — messages union labels and
    * hash-aggregate with map-side partial min. Rounds needed = graph
    * diameter; web graphs are small-diameter, and the standard
    * acceleration (large-star/small-star, which contracts paths by
    * pointer doubling) drops in behind the same signature if a deployment
    * meets a high-diameter graph. `checkpointEvery` bounds lineage like
    * pageRank's.
    */
  def connectedComponents(
      edges: DataFrame,
      iters: Int = -1,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIters: Int = 200,
      checkpointEvery: Int = 8): DataFrame = {
    val nParts = Inputs.adaptiveParts(edges)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // symmetrized edges PLUS the identity edge of every node: with
    // node→node present, "min of own label and neighbors' labels" is just
    // "min over incoming messages" — so each round is ONE join + ONE
    // aggregate referencing the previous label table exactly once. A
    // union(labels, join(labels)) formulation references it twice, which
    // doubles the plan DAG every round — 2^iters traversal blowup in any
    // tree-walking optimizer (Catalyst and the single-node oracle engine
    // alike; measured, not theoretical).
    val sym = OpCaches.persist(
      e.union(e.select(col("dst"), col("src")))
        .filter(col("src") =!= col("dst"))
        .union(e.select(col("src"), col("src")))
        .union(e.select(col("dst"), col("dst")))
        .distinct()
        .repartition(nParts, col("src")),
      StorageLevel.MEMORY_AND_DISK)
    val nodes = OpCaches.persist(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
        .distinct().repartition(nParts, col("node")),
      StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    val bound = if (iters >= 0) iters else maxIters
    var i = 0
    var converged = false
    while (i < bound && !converged) {
      val next = labels.join(sym, labels("node") === sym("src"))
        .groupBy(col("dst")).agg(min("lbl").as("lbl"))
        .select(col("dst").as("node"), col("lbl"))
      if (iters < 0) {
        // convergence probe: one localCheckpoint round (materializes AND
        // truncates lineage — the loop's plan stays O(1) deep) + one
        // scalar count; the previous round's blocks release as soon as
        // the probe has consumed them, so at most two label tables
        // (16 bytes/node each) are ever resident.
        val nextP = next.localCheckpoint(true)
        val changed = nextP.join(labels.withColumnRenamed("lbl", "prev"), "node")
          .filter(col("lbl") =!= col("prev")).limit(1).count()
        labels = nextP
        converged = changed == 0L
      } else {
        labels = next
        if (checkpointEvery > 0 && (i + 1) % checkpointEvery == 0 && i + 1 < bound)
          labels = labels.localCheckpoint(false)
      }
      i += 1
    }
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** Per-target anchor-text aggregation: for every link target, the
    * in-degree, distinct-source count, and the most common anchor text
    * (ties broken by smallest anchor — deterministic). Aggregated anchor
    * text is a standard relevance/quality signal for a crawl target and a
    * standard augmentation column for webtext training data.
    *
    * Scale shape: one hash aggregate over (dst, anchor) with map-side
    * combine, a rank-1 window on the (already small) per-anchor counts —
    * Spark plans it as WindowGroupLimit, so partial top-1 runs before the
    * exchange — and one hash aggregate over dst for the totals. The edge
    * table is read once per aggregate; no join touches the raw edges
    * twice thanks to the shared scan. Anchor strings are grouping keys —
    * callers with multi-KB anchors should truncate first.
    */
  def anchorStats(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      anchorCol: String = "anchor"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(anchorCol).as("anchor"))
    val perAnchor = e.groupBy("dst", "anchor").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("dst").orderBy(col("cnt").desc, col("anchor"))
    val top = perAnchor.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("dst"), col("anchor").as("top_anchor"), col("cnt").as("top_anchor_n"))
    val totals = e.groupBy("dst").agg(
      count(lit(1)).as("in_degree"),
      countDistinct(col("src")).as("n_src"))
    totals.join(top, "dst")
  }
}
