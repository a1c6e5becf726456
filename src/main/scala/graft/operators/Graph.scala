package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over candidate-pair edge tables — the
  * consumption side of the dedup family's pair outputs: once near-dup
  * pairs exist, pipelines rank the nodes (which document is the HUB of a
  * boilerplate cluster?) before choosing canonicals or pruning.
  *
  * Scale design: everything is edge-relational — a join and an aggregate
  * per iteration, no adjacency materialization, no driver-side graph.
  * Iteration count is FIXED (power iteration, not convergence-tested), so
  * the plan is a statically-known chain the optimizer sees whole.
  */
object Graph {

  /** Fixed-iteration PageRank over the UNDIRECTED graph induced by a
    * pair table (both orientations of every pair; nodes = ids appearing
    * in at least one pair). Returns (id, rank) after `iterations` rounds
    * of r(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg(u) from the uniform start
    * 1/N. No dangling mass: every node of an undirected pair graph has
    * degree ≥ 1.
    *
    * Cross-engine float discipline (the oracle hash-compares raw
    * doubles): every division is rounded ONCE to 12 decimals and frozen
    * as DECIMAL(30,12) — the init 1/N, each node's per-edge share
    * r(u)/deg(u), and each round's damped total — so the inbound-share
    * SUM is exact decimal arithmetic (order-free across partitions) and
    * each iteration applies ONE IEEE multiply-add on bit-identical
    * operands before re-freezing. A raw-double pipeline would follow
    * partition order through the sums and drift by ulps per round.
    *
    * Scale shape: edges and degrees persist once (two narrow columns);
    * each iteration is one join of the rank table to edges (rank rides
    * to the edge's partition — never the reverse) plus one aggregate on
    * dst, both node/edge-scale shuffles. Each rank frame is consumed by
    * exactly ONE downstream round, so the iterations chain LAZILY into
    * a single plan (linear in `iterations` — no per-round eager
    * persist+count jobs, whose fixed cost dominated the fixed-3-round
    * graph at bench scale; guide §1.2) and the whole rank computation
    * executes as one job against the cached edge/degree tables; only
    * the FINAL rank table materializes eagerly (so edges/deg release
    * before return, the original cleanup contract).
    *
    * DEPTH GUARD: a lazy chain's analyzed tree grows with `iterations`,
    * and past ~20 nested rounds the analyzer/optimizer walk goes
    * super-linear (the Bpe.fit lesson — its scaladoc documents the OOM
    * near 20 nested merge rounds). Every `checkpointEvery` iterations
    * the rank frame is pinned ([[org.apache.spark.sql.GraftBridge.pin]]:
    * its shuffle stages run there and its plan is cut to one leaf), and
    * the previous pin releases at once (those stages consumed it). At
    * the default 3 iterations no pin fires and the plan is the same
    * single lazy chain as before; GraphSpec pins a 25-iteration run. */
  def pageRank(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
               iterations: Int = 3, damping: Double = 0.85,
               checkpointEvery: Int = 8): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val dec = "decimal(30,12)"
    val edges = pairs
      .select(explode(array(
        struct(col(id1).as("src"), col(id2).as("dst")),
        struct(col(id2).as("src"), col(id1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(lvl)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist(lvl)
    val n = deg.count() // node count; also materializes edges + deg
    var ranks = deg
      .select(col("src").as("id"),
        round(lit(1.0) / lit(n.toDouble), 12).cast(dec).as("rank"))
    var ckpt: DataFrame = null
    for (i <- 1 to iterations) {
      val shares = ranks.join(deg, ranks("id") === deg("src"))
        .select(col("id"),
          round(col("rank").cast("double") / col("deg").cast("double"), 12)
            .cast(dec).as("share"))
      val inbound = edges.join(shares, edges("src") === shares("id"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("in_sum"))
      ranks = deg
        .select(col("src").as("id"))
        .join(inbound, col("id") === col("dst"), "left")
        .select(col("id"),
          round(lit(1.0 - damping) / lit(n.toDouble) +
            lit(damping) * coalesce(col("in_sum"), lit(0L)).cast("double"), 12)
            .cast(dec).as("rank"))
      // Lineage seam, never on the last round (the final materialization
      // below truncates that one): rank values are unchanged — the pin
      // only caches the round's frame and cuts the plan.
      if (i % checkpointEvery == 0 && i < iterations) {
        val (next, held) = org.apache.spark.sql.GraftBridge.pin(ranks)
        if (ckpt != null) ckpt.unpersist()
        ckpt = held
        ranks = next
      }
    }
    val out = ranks.select(col("id"), col("rank").cast("double").as("rank"))
      .persist(lvl)
    out.count() // one materialization of the whole lazy chain
    if (ckpt != null) ckpt.unpersist()
    edges.unpersist()
    deg.unpersist()
    out
  }

  /** Degree HISTOGRAM of the undirected graph induced by a pair table —
    * the one-glance shape diagnostic read before any per-node ranking:
    * a long-tailed histogram (few huge-degree hubs) says boilerplate
    * clusters dominate and canonical-election will collapse them; a
    * flat degree-1 histogram says the pairs are isolated twins and the
    * cheap keep-min-id policy suffices. Nodes = ids on at least one
    * pair; degree counts DISTINCT neighbors (a multi-edge pair table
    * — e.g. one row per band collision — still counts each neighbor
    * once). Output: (degree, n_nodes), integer-exact.
    *
    * Scale shape: both orientations explode map-side, collapse to
    * distinct (src, dst) edges, then two counting aggregates —
    * edge-scale shuffles, never node², no window, no driver graph.
    * Fed from [[graft.operators.NearDupPipeline]]'s memoized pair
    * table, the whole query is census arithmetic on an already-built
    * artifact. */
  def degreeHistogram(pairs: DataFrame, id1: String = "id1",
                      id2: String = "id2"): DataFrame =
    pairs
      .select(explode(array(
        struct(col(id1).as("src"), col(id2).as("dst")),
        struct(col(id2).as("src"), col(id1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
}
