package graft.operators

import org.apache.spark.sql.DataFrame
import graft.queries.core.ckptObserved
import org.apache.spark.sql.functions.{coalesce, col, count, least, lit, min, sum}

/** Distributed connected components: min-label propagation accelerated by
  * pointer jumping (the Shiloach–Vishkin / "hash-to-min"-family idea —
  * public algorithms; see also Kiveris et al., SoCC'14, for the
  * MapReduce-setting analysis).
  *
  * Why this exists next to the plain propagation loop in
  * `neardup_clusters`: propagation alone needs rounds equal to the
  * component DIAMETER (fine for near-clique duplicate groups, ruinous for
  * chain-shaped graphs), while adding a pointer-jump each round —
  * `lbl(u) ← lbl(lbl(u))` — halves remaining label-chain depth, giving
  * O(log n) rounds for ANY graph shape. This is the variant you reach for
  * when the graph's structure is unknown at 100 TB.
  *
  * Each round is two hash-shuffles keyed on vertex/label id (standard
  * iterative-join shape, AQE/skew-safe); lineage is cut per round with
  * `localCheckpoint`; convergence is DETECTED, not assumed (labels only
  * decrease, so Σlbl strictly decreases until fixpoint — no data
  * collected). The convergence metric rides the SAME job that
  * materializes the round's checkpoint (an `observe` aggregate collected
  * by the checkpoint action — the scc_components/neardup_clusters
  * count-fold, r16 verdict task #6), so each round costs exactly ONE job
  * launch instead of ckpt + a separate label-sum aggregate.
  *
  * Correctness invariant: `lbl(u)` is always the id of a vertex in u's
  * component (propagation moves labels along edges; jumping composes two
  * in-component labels), is monotonically non-increasing, and is bounded
  * below by the component minimum — so a fixpoint exists. At the combined
  * fixpoint propagation alone is also at fixpoint, whose labels are
  * constant per component and equal to the component min (if a component
  * held a constant label c > its min vertex m, then lbl(m) ≤ m < c —
  * contradiction).
  *
  * Contract: input is an undirected edge list `(src, dst)` (long ids;
  * self-loops and duplicate edges tolerated); output is `(id, component)`,
  * one row per vertex appearing in any edge, `component` = min reachable
  * vertex id.
  */
object ConnectedComponents {

  def run(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    val adj = e.select(col("src"), col("dst"))
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .persist()
    // Init folds the first propagation round in: lbl = min(self, nbrs).
    // One job per round: the label sum and row count are observed by the
    // job that materializes the checkpoint (core.ckptObserved).
    def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
      val (ck, Seq(s, n)) =
        ckptObserved(df, coalesce(sum(col("lbl")), lit(0L)), count(lit(1)))
      (ck, s * 1000003L + n)
    }
    var (labels, curSum) = checkpointWithSum(
      adj.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl")))
    var prevSum = curSum - 1
    while (curSum != prevSum) {
      prevSum = curSum
      // propagate: pull the min label across each edge
      val prop = adj
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src")).agg(min(col("dlbl")).as("nbl"))
      val propagated = labels
        .join(prop.select(col("src").as("id"), col("nbl")), Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl"))
      // jump: lbl(u) ← lbl(lbl(u)) — label values are vertex ids, so the
      // lookup is a self-join; halves remaining chain depth every round
      val (next, nextSum) = checkpointWithSum(propagated
        .join(propagated.select(col("id").as("lbl"),
          col("lbl").as("jlbl")), Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl")))
      labels = next
      curSum = nextSum
    }
    adj.unpersist()
    // Vertices whose only edges are self-loops never reach `adj` (their
    // component is themselves); the left join restores them.
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
  }
}
