package graft.operators

import org.apache.spark.sql.DataFrame
import graft.queries.core.{CkptOps, ckptObserved}
import org.apache.spark.sql.functions.{coalesce, col, count, least, min, when}

/** Distributed min-label fixpoint: min-label propagation accelerated by
  * pointer jumping (the Shiloach–Vishkin / "hash-to-min"-family idea —
  * public algorithms; see also Kiveris et al., SoCC'14, for the
  * MapReduce-setting analysis). Every component loop of the engine runs
  * on [[minLabel]]: `dedup_pipeline_e2e` (through [[run]]),
  * `neardup_clusters`, `dbscan_grid`, `entity_dedup_e2e` and both
  * colouring passes of `scc_components`.
  *
  * Propagation alone needs rounds equal to the longest label path
  * (fine for near-clique duplicate groups, ruinous for chain-shaped
  * graphs); adding a pointer-jump each round — `lbl(v) ← lbl(lbl(v))` —
  * halves the remaining label-chain depth, giving O(log n) rounds for
  * ANY graph shape.
  *
  * Each round is hash-shuffles keyed on vertex/label id (standard
  * iterative-join shape, AQE/skew-safe); lineage is cut per round with
  * `.ckpt()`; convergence is DETECTED, not assumed: the round observes
  * the count of rows whose label went down, in the SAME job that
  * materializes the round's checkpoint (`core.ckptObserved`), so each
  * round costs exactly one job launch. The count needs no arithmetic on
  * labels, so any orderable label type works (`entity_dedup_e2e`'s are
  * strings).
  *
  * Correctness invariant: edges are directed and labels flow
  * `src → dst`, so `lbl(v)` is always the id of `v` or of a vertex that
  * reaches `v` (propagation moves labels along edges; the jump composes
  * two such labels, and reachability is transitive: `w →* u` and
  * `u →* v` give `w →* v`). Labels never increase and are bounded below
  * by the minimum over `v`'s ancestors, so a round that lowers no label
  * is the propagation fixpoint: `lbl(v)` = min id among `v` and every
  * vertex that reaches it. A symmetric edge list is the undirected case
  * (the component minimum).
  */
object ConnectedComponents {

  /** The min-label fixpoint over directed `edges` (two columns, read as
    * `(src, dst)`; self-loops and duplicates tolerated). Returns
    * `(labels(id, lbl), rounds)`, where the init counts as round 1.
    * Without `verts` the labels cover every vertex with an in-edge;
    * `verts` (one column of distinct ids) makes the result cover exactly
    * those vertices, a vertex without an in-edge labelling itself. */
  def minLabel(edges: DataFrame, verts: Option[DataFrame] = None)
      : (DataFrame, Int) = {
    val e = edges.toDF("src", "dst").persist()
    // Init is the first propagation round: lbl = min(self, in-neighbours).
    val inMin = e.groupBy(col("dst").as("id")).agg(min(col("src")).as("mn"))
    var labels = verts.fold(inMin)(_.toDF("id").join(inMin, Seq("id"), "left"))
      .select(col("id"), least(col("id"), coalesce(col("mn"), col("id")))
        .as("lbl"))
      .ckpt()
    var rounds = 1
    var changed = 1L
    while (changed > 0) {
      // propagate: pull the min label across each in-edge
      val inc = e
        .join(labels.select(col("id").as("src"), col("lbl").as("nl")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("nl")).as("nl"))
      val prop = labels.join(inc, Seq("id"), "left")
        .select(col("id"), col("lbl").as("was"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      // jump: lbl(v) ← lbl(lbl(v)) — label values are vertex ids, so the
      // lookup is a self-join; halves remaining chain depth every round
      val (next, Seq(n)) = ckptObserved(prop
        .join(prop.select(col("id").as("lbl"), col("lbl").as("jl")),
          Seq("lbl"), "left")
        .select(col("id"), col("was"),
          least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("lbl")),
        count(when(col("lbl") < col("was"), true)))
      labels = next.select(col("id"), col("lbl"))
      changed = n
      rounds += 1
    }
    e.unpersist()
    (labels, rounds)
  }

  /** Connected components of an undirected edge list `(src, dst)` (long
    * ids; self-loops and duplicate edges tolerated): `(id, component)`,
    * one row per vertex appearing in any edge, `component` = min
    * reachable vertex id. */
  def run(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst")
    val adj = e.unionAll(e.select(col("dst"), col("src")))
      .filter(col("src") =!= col("dst"))
    // self-loop-only vertices never reach `adj`; verts labels them
    val verts = e.select(col("src")).unionAll(e.select(col("dst"))).distinct()
    minLabel(adj, Some(verts))._1.withColumnRenamed("lbl", "component")
  }
}
