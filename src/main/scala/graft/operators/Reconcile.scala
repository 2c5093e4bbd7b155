package graft.operators

import org.apache.spark.sql.DataFrame

/** J6: the reconcile fixpoint — alternate a set of edge-producing
  * reconcilers until the equivalence-edge set stops growing
  * (`pipeline/process/reconciler.py:34-125`: URI pass, name pass,
  * collector crawl repeated until `issubset`).
  *
  * Each reconciler is `currentEdges => newEdges` (same (src, dst)
  * schema). The loop unions + dedupes and stops when the distinct count
  * is stable — the declarative form of the reference's per-record
  * fixpoint. Edges feed Graph.connectedComponents for idmap minting.
  */
object Reconcile {

  def fixpoint(seed: DataFrame,
      reconcilers: Seq[DataFrame => DataFrame],
      maxIter: Int = 10): DataFrame = {
    var edges = seed.select("src", "dst").distinct().localCheckpoint()
    var n = edges.count()
    var iter = 0
    var grown = true
    while (grown && iter < maxIter) {
      var next = edges
      reconcilers.foreach { r =>
        next = next.union(r(next).select("src", "dst")).distinct()
      }
      next = next.localCheckpoint()
      val n2 = next.count()
      grown = n2 != n
      n = n2
      edges = next
      iter += 1
    }
    edges
  }

  import org.apache.spark.sql.functions.col

  /** Frontier-driven fixpoint — same closure as `fixpoint` when every
    * expander is NODE-ANCHORED and monotone: it takes a one-column
    * (`v`) node set and returns only edges whose `src` is in that set
    * (the crawl and name-pass reconcilers both have this shape). Then
    * each edge is produced exactly once — the round its anchor node
    * first appears — so per-round work is proportional to the FRONTIER
    * fan-out, not the accumulated reach: the old loop re-joined and
    * re-distincted the full edge set every round (O(rounds × total)),
    * which is the difference between a BFS and re-crawling the whole
    * graph per round at 100 TB. One scalar (new-node count) reaches
    * the driver per round; lineage is cut with localCheckpoint.
    *
    * Contract on expanders: node-anchored, hence EMPTY IN → EMPTY OUT —
    * an empty node set must yield no edges. The loop relies on it: it
    * expands two layers per driver round-trip and evaluates the second
    * layer without checking whether the first added any node. An
    * expander that emits edges on an empty frontier breaks the contract,
    * and then those edges (and their dst nodes) enter the closure
    * whenever a round pair's first layer comes back empty, where a
    * one-layer loop would have stopped; with maxIter = 1 (the
    * single-layer tail only) they do not. */
  def frontierFixpoint(seed: DataFrame,
      expanders: Seq[DataFrame => DataFrame],
      maxIter: Int = 50): DataFrame = {
    val seedE = seed.select("src", "dst").distinct().localCheckpoint()
    var seen = seedE.select(col("src").as("v"))
      .union(seedE.select(col("dst").as("v"))).distinct().localCheckpoint()
    var frontier = seen
    var layers = List(seedE)
    var iter = 0
    var active = true
    // One BFS layer, built LAZILY (nothing runs until a count):
    // dst-only, not src ∪ dst: the node-anchored contract (header) puts
    // every src in the frontier ⊆ `seen`, so the anti-join would drop
    // them anyway — unioning srcs in just doubled the rows through the
    // node distinct's exchange every round (r17, guide §2.3 "shuffle
    // fewer bytes"; ReconcileSpec's whole-set-equality fuzz pins the
    // closure unchanged)
    def layer(f: DataFrame, seenSoFar: DataFrame): (DataFrame, DataFrame) = {
      val newEdges = expanders.map(_(f)).reduce(_ union _)
        .select("src", "dst").distinct().localCheckpoint(eager = false)
      val newNodes = newEdges.select(col("dst").as("v")).distinct()
        .join(seenSoFar, Seq("v"), "left_anti").localCheckpoint(eager = false)
      (newEdges, newNodes)
    }
    while (active && iter < maxIter) {
      val (e1, f1) = layer(frontier, seen)
      if (iter + 1 < maxIter) {
        // TWO layers per driver round-trip (r18, guide §1.2/§2): the
        // second expansion chains lazily on the first layer's
        // checkpoint, so ONE count materializes both layers — half the
        // per-layer driver scalar barriers of the one-layer loop. The
        // closure is unchanged: the frontier sequence f1, f2 is exactly
        // the one-layer loop's, and an empty f1 gives an empty f2 by the
        // expander contract (header), so stopping on n2 == 0 alone stops
        // at the same layer set. An odd maxIter falls through to the
        // single-layer tail below, so the layer COUNT bound is also
        // unchanged.
        val seen1 = seen.union(f1) // disjoint by anti-join
        val (e2, f2) = layer(f1, seen1)
        val n2 = f2.count() // the round-pair's single driver scalar
        layers = e2 :: e1 :: layers
        // plain union, NOT a fresh checkpoint: all sides are already
        // checkpointed, so re-materializing the accumulated set would
        // rewrite O(reach) per round — O(rounds x reach) total, the
        // same disease the frontier restriction cures on the edge side.
        seen = seen1.union(f2)
        frontier = f2
        active = n2 > 0
        iter += 2
      } else {
        val n1 = f1.count()
        layers ::= e1
        seen = seen.union(f1)
        frontier = f1
        active = n1 > 0
        iter += 1
      }
    }
    layers.reduce(_ union _).distinct()
  }
}
