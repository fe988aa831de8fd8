package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, TextOps}
import core._

/** Graph analytics over the word-adjacency graph (SURVEY.md §2.13): nodes
  * are the corpus vocabulary, directed edges are distinct consecutive
  * token pairs. Complements the iterative-computation family —
  * ConnectedComponents.minLabel (operators/) walks a directed edge list
  * (a symmetric one for undirected components) to a min-label fixpoint,
  * which scc_components colours with; PageRank here runs the canonical
  * damped power iteration with a fixed budget (3 rounds, how production
  * rank jobs are scheduled).
  *
  * Determinism (the kmeans_embed pattern, proven cross-engine): each
  * iteration's per-edge contribution rank/out_degree is a double computed
  * from identical inputs (IEEE-identical on both engines), then cast to
  * DECIMAL(16,12) (identical rounding of identical doubles) and summed
  * exactly (order-independent), so the next rank vector is bit-identical
  * on both engines; r6 rounding is applied once, on the final vector.
  *
  * Scale shape: rank updates are one shuffle per iteration keyed on the
  * edge source (join ranks→edges) plus one keyed on destination (the
  * contribution sum) — the standard distributed power-iteration layout.
  * The only unkeyed join is the 1-row node-count aggregate broadcast into
  * the teleport term 0.15/n (PlanSweepSpec allowlist). Dangling mass is
  * dropped (nodes with no out-edges re-inject nothing), the common
  * simplification; the oracle mirrors it.
  */
object GraphQ {

  /** Distinct directed word-adjacency edges (the 2-token
    * [[TextOps.windows]]); self-loops dropped. */
  private def edgesOf(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    t(s, dir, "documents")
      .select(TextOps.tokens(col("text")).as("ws"))
      .select(ws, TextOps.windows(ws, 2).as("i"))
      .select(element_at(ws, col("i") + 1).as("src"),
        element_at(ws, col("i") + 2).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** PageRank (d = 0.85, 3 iterations, uniform init) over the word graph. */
  val pagerankWords: QFn = (s, dir) => {
    val edges = edgesOf(s, dir)
    val words = t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .distinct()
    val cnt = words.agg(count(lit(1)).cast("double").as("nn"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    var ranks = words.crossJoin(broadcast(cnt))
      .select(col("word"), (lit(1.0) / col("nn")).as("rank"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks.select(col("word").as("src"), col("rank")), "src")
        .join(outdeg, "src")
        .select(col("dst"), dec(col("rank") / col("od"), 16, 12).as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      ranks = words
        .join(sums.select(col("dst").as("word"), col("sc")), Seq("word"), "left")
        .crossJoin(broadcast(cnt))
        .select(col("word"),
          (lit(0.15) / col("nn") +
            lit(0.85) * dbl(coalesce(col("sc"), lit(0).cast("decimal(16,12)"))))
            .as("rank"))
    }
    ranks.select(col("word"), r6(col("rank")).as("pagerank"))
      .orderBy(col("word"))
  }

  /** Personalized PageRank (r10, d = 0.85, 3 iterations) from a
    * deterministic seed — the LOCAL-relevance member of the rank family
    * (global pagerank answers "important overall"; PPR answers
    * "important RELATIVE TO this node", the primitive behind
    * related-item recommendation and local community scoring). Teleport
    * goes to the seed alone: r₀ = 𝟙[seed], rₜ₊₁ = 0.15·𝟙[seed] +
    * 0.85·Σ contrib — so mass decays with graph distance from the seed.
    * Seed choice is part of the contract: the max-out-degree word,
    * lexicographic tiebreak, resolved as a 1-row broadcast (no
    * hardcoded vocab dependence). Same DECIMAL(16,12) contribution
    * pinning and dangling-mass convention as pagerank_words; top-20 by
    * r6-rounded score (word tiebreak) keeps the emitted order
    * engine-identical. Scale shape: identical to pagerank (per-round
    * src-keyed join + dst-keyed sum); at 100 TB PPR usually runs as
    * many-seeds-batched — same plan with a seed column added to the
    * rank key. */
  val pprSeed: QFn = (s, dir) => {
    val edges = edgesOf(s, dir)
    val words = t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .distinct()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val seed = outdeg.orderBy(col("od").desc, col("src")).limit(1)
      .select(col("src").as("seed"))
    var ranks = words.crossJoin(broadcast(seed))
      .select(col("word"),
        when(col("word") === col("seed"), lit(1.0)).otherwise(lit(0.0))
          .as("rank"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks.select(col("word").as("src"), col("rank")), "src")
        .join(outdeg, "src")
        .select(col("dst"), dec(col("rank") / col("od"), 16, 12).as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      ranks = words
        .join(sums.select(col("dst").as("word"), col("sc")),
          Seq("word"), "left")
        .crossJoin(broadcast(seed))
        .select(col("word"),
          (when(col("word") === col("seed"), lit(0.15)).otherwise(lit(0.0))
            + lit(0.85)
            * dbl(coalesce(col("sc"), lit(0).cast("decimal(16,12)"))))
            .as("rank"))
    }
    ranks.crossJoin(broadcast(seed))
      .select(col("seed"), col("word"), r6(col("rank")).as("ppr"))
      .filter(col("ppr") > 0)
      .orderBy(col("ppr").desc, col("word"))
      .limit(20)
  }

  /** Exact triangle count + global clustering coefficient over the
    * undirected word graph, via DEGREE ORIENTATION (Suri &
    * Vassilvitskii, WWW'11 — public algorithm): orient every edge from
    * its lower-(degree, name) endpoint to the higher one, generate
    * wedges only at each vertex's oriented out-neighbors, and close
    * them against the oriented edge set. Every triangle is counted
    * exactly once (at its ≺-minimal vertex), and out-degrees are
    * bounded by O(√m), so wedge volume is O(m^1.5) worst-case instead
    * of Σ deg² — the difference between feasible and not on a 100 TB
    * power-law graph. All three stages are equi-joins keyed on vertex
    * ids; no broadcast of anything unbounded. */
  val triangleCount: QFn = (s, dir) => {
    // The undirected edge set is re-read by FIVE downstream branches
    // (degrees twice, orientation, closure, stats); without
    // materialization each branch replays the full corpus
    // tokenize+explode+distinct (~12 replays, 36 s at sf0.1 vs 1 s
    // materialized). The edge set is vocabulary-bounded — tiny relative
    // to the corpus — so pinning it is exactly what a 100 TB run would
    // do with a persisted edge table.
    val und = edgesOf(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .ckpt()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // (u, w, dw): edge oriented low→high in the (degree, name) total order,
    // carrying the head's degree so wedge legs can be ordered consistently.
    val e = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("w"), col("da").as("dw")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
      .ckpt() // reused by both wedge legs + the closure probe
    val x = e.select(col("u"), col("w").as("v1"), col("dw").as("d1"))
    val y = e.select(col("u"), col("w").as("v2"), col("dw").as("d2"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
      .select(col("v1"), col("v2"))
    val tri = wedges
      .join(e.select(col("u").as("v1"), col("w").as("v2")), Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = und
      .agg(count(lit(1)).as("n_edges")).crossJoin(
        deg.agg(count(lit(1)).as("n_verts"),
          sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges")))
    stats.crossJoin(tri)
      .select(col("n_verts"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        // nullif: a wedge-free graph (isolated edges) must report null
        // clustering, not abort under ANSI
        r6(dbl(col("n_triangles") * 3) /
          nullif(dbl(col("n_wedges")), lit(0.0))).as("clustering"))
  }

  /** BFS hop-distance profile (r5) — reachability, the third member of
    * the iterative-graph family (PageRank = value iteration, CC =
    * fixpoint labels, BFS = frontier expansion): min hop distance from a
    * deterministic seed (the alphabetically first vocabulary word) over
    * the UNDIRECTED word graph, capped at 4 hops, reported as the
    * per-distance profile (word count + first word).
    *
    * Scale shape: each round is ONE keyed join (settled frontier ⋈
    * edges) + a min-groupBy — the textbook distributed BFS layout;
    * rounds are a fixed budget (like the PageRank key), so the plan is
    * a straight-line 4-round unroll with no driver-side convergence
    * loop. The 1-row seed aggregate rides an allowlisted broadcast.
    * The oracle is a recursive CTE with per-level dedup — the
    * hash-match proves unrolled-joins ≡ recursive closure. */
  val bfsDistance: QFn = (s, dir) => {
    val e0 = edgesOf(s, dir)
    // The edge set is referenced by all 4 rounds + the init; without a
    // lineage cut each reference re-tokenizes the corpus (the
    // neardup_clusters pattern — materialize iteration state once).
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .ckpt()
    val seed = und.agg(min(col("src")).as("seedw"))
    var d = und.select(col("src").as("w")).distinct()
      .crossJoin(broadcast(seed))
      .select(col("w"),
        when(col("w") === col("seedw"), 0)
          .otherwise(lit(null).cast("int")).as("d"))
    for (_ <- 1 to 4) {
      val next = d.filter(col("d").isNotNull)
        .join(und, col("w") === col("src"))
        .select(col("dst").as("w"), (col("d") + 1).as("d"))
      d = d.union(next).groupBy(col("w")).agg(min(col("d")).as("d"))
    }
    d.filter(col("d").isNotNull)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_words"), min(col("w")).as("first_word"))
      .orderBy(col("d"))
  }

  /** Adamic-Adar link scoring (r8) — fourth member of the graph family
    * (PageRank = value iteration, CC = fixpoint, BFS = frontier, AA =
    * neighborhood overlap): for every word pair sharing a neighbor,
    * score = Σ_z 1/ln(deg z) over common neighbors z (a common neighbor
    * has deg ≥ 2 by construction, so ln > 0) — the classic "suggested
    * connections" statistic, with `is_edge` flagging whether the pair is
    * already adjacent (link PREDICTION reads the is_edge = 0 rows; the
    * flag keeps the key meaningful even when the graph is dense enough
    * that every co-wedge pair is already an edge, as at sf0.1). Each
    * 1/ln term is pinned DECIMAL(14,10), the per-pair sum is exact, and
    * the top-20 ranks the exact decimal (pair tiebreak) before any
    * rounding. Scale shape: candidates come from the wedge join
    * (und ⋈ und on the hub z) = Σ deg(z)² pairs — the standard layout;
    * at 100 TB the hub explosion is tamed by degree-capping/sampling
    * heavy hubs (the triangle-count orientation trick does not apply
    * because AA needs BOTH wedge arms), which changes candidates, not
    * the scoring. */
  val linkAdamicAdar: QFn = (s, dir) => {
    val edges = edgesOf(s, dir)
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("dz"))
    val wedges = und.select(col("a").as("z"), col("b").as("u"))
      .join(und.select(col("a").as("z"), col("b").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val adjacent = und.filter(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("v"), lit(1L).as("is_edge"))
    wedges
      .join(deg, Seq("z"))
      .select(col("u"), col("v"),
        dec(lit(1.0) / log(dbl(col("dz"))), 14, 10).as("term"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("term")).as("sc"))
      .join(adjacent, Seq("u", "v"), "left")
      .withColumn("is_edge", coalesce(col("is_edge"), lit(0L)))
      .orderBy(col("sc").desc, col("u"), col("v"))
      .limit(20)
      .select(col("u"), col("v"), col("common_neighbors"), col("is_edge"),
        r6(dbl(col("sc"))).as("aa_score"))
  }

  /** The part co-purchase graph of label_propagation, kcore_peel and the
    * Louvain keys: undirected edges `(a, b)`, `a < b`, between parts
    * sharing an order in one ship year (the standard market-basket
    * framing; the predicate is pushed to the parquet scan, so the build
    * reads the slice, not the full fact). Checkpointed, because every
    * round of each caller re-reads it; not cached across keys, so each
    * key builds and times its own. */
  private def coPurchase(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_partkey"))
    li.join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
        Seq("l_orderkey"))
      .filter(col("l_partkey") < col("p2"))
      .select(col("l_partkey").as("a"), col("p2").as("b"))
      .distinct()
      .ckpt()
  }

  /** Synchronous label propagation (r9) — community detection
    * (Raghavan et al. 2007, public algorithm), the fifth graph-family
    * member (components walk connectivity; LPA finds dense regions
    * inside one component). It runs on the PART CO-PURCHASE graph
    * (parts sharing an order), not the word graph: the vocabulary is a
    * fixed ~31 nodes at every SF while the part graph grows with the
    * corpus — the node domain the 100 TB claim actually exercises.
    * The asynchronous/random-order variant is unreproducible BY
    * DESIGN, so this is the gradable form every distributed engine
    * ships: 3 fixed SYNCHRONOUS rounds (pagerank's scheduled-budget
    * shape), labels initialized to the node id, each round every node
    * adopting its neighborhood's plurality label under a total (count
    * DESC, label ASC) tie-break. The graded output is the
    * (round, node, label) TRAJECTORY, not just the converged sizes — a
    * dense synthetic graph collapses quickly, and the trajectory is
    * what a wrong tie-break, wrong round count, or async leak cannot
    * reproduce. Each round = one join keyed on the neighbor id + one
    * (node, label) count + one per-node argmax window — all shuffles
    * keyed on vertex ids, the standard distributed-LPA layout; the
    * per-order pair fan-out is bounded by order size (≤ 7 items), the
    * one-ship-year window is pushed to the parquet scan, and at 100 TB
    * each round's label table is checkpointed, same plan. */
  val labelPropagation: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val und = coPurchase(s, dir)
    val nbr = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    var labels = nbr.select(col("v")).distinct()
      .withColumn("label", col("v"))
    var trail = labels.limit(0)
      .select(lit(0L).as("round"), col("v"), col("label"))
    for (r <- 1 to 3) {
      val cnt = nbr
        .join(labels.select(col("v").as("u"), col("label")), "u")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
      // checkpoint each round: round k's plan otherwise embeds rounds
      // 1..k-1, and the trajectory union would re-execute round 1 three
      // times (7.5 s → 1.5 s at sf0.1). This is also the 100 TB shape —
      // each round's label table is a materialized intermediate.
      labels = cnt.withColumn("rn", row_number().over(
          Window.partitionBy(col("v"))
            .orderBy(col("c").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("v"), col("label"))
        .ckpt()
      trail = trail.unionAll(
        labels.select(lit(r.toLong).as("round"), col("v"), col("label")))
    }
    trail.select(col("round"), col("v").as("p_partkey"), col("label"))
      .orderBy(col("round"), col("p_partkey"))
  }

  /** k-core peeling (r9) — the sixth graph-family member: degeneracy
    * structure (Seidman 1983, public model). The k-core is the maximal
    * subgraph where every node keeps degree ≥ k; peeling removes
    * below-k nodes in SYNCHRONOUS rounds (each round recomputes degrees
    * on the surviving subgraph and removes the entire below-k set at
    * once — the order-free form every distributed engine ships, vs the
    * sequential min-degree peel whose order is unreproducible). Runs on
    * the part co-purchase graph (the corpus-growing node domain, shared
    * with label_propagation); k is NOT a magic constant but derived
    * from the initial graph as floor(2m/n)+1 — strictly above the mean
    * degree, so every tier peels a real fringe and the key stays
    * meaningful at any SF. Graded on the per-round TRAJECTORY
    * (n_removed / surviving nodes / surviving edges), which a wrong
    * degree recompute, an asynchronous leak, or an off-by-one threshold
    * cannot reproduce.
    *
    * Scale shape: each round = one degree groupBy keyed on vertex ids +
    * two anti joins keyed on the endpoints — the standard distributed
    * peel; the surviving edge set is checkpointed per round (the LPA
    * materialization pattern), the k threshold is a 1-row broadcast
    * (PlanSweep-allowlisted), and the three stat aggregates are 1-row
    * crossJoins. 3 fixed rounds = a straight-line unroll, no
    * driver-side convergence loop. */
  val kcorePeel: QFn = (s, dir) => {
    val und0 = coPurchase(s, dir)
    def nodesOf(e: org.apache.spark.sql.DataFrame) =
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
    // k = floor(2m/n)+1 from the INITIAL graph: exact integer division,
    // strictly above the mean degree — fixed for all rounds.
    val kd = und0.agg(count(lit(1)).as("m")).crossJoin(
        nodesOf(und0).agg(countDistinct(col("v")).as("n")))
      .select(expr("(2 * m) div n + 1").as("k"))
    var e = und0
    var trail = und0.limit(0).select(lit(0L).as("round"), lit(0L).as("k"),
      lit(0L).as("n_removed"), lit(0L).as("n_nodes"), lit(0L).as("n_edges"))
    for (r <- 1 to 3) {
      val deg = nodesOf(e).groupBy(col("v")).agg(count(lit(1)).as("d"))
      val rm = deg.crossJoin(broadcast(kd)).filter(col("d") < col("k"))
        .select(col("v"))
      e = e.join(rm.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(rm.select(col("v").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b"))
        .ckpt()
      val row = rm.agg(count(lit(1)).as("n_removed"))
        .crossJoin(nodesOf(e).agg(countDistinct(col("v")).as("n_nodes")))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(broadcast(kd))
        .select(lit(r.toLong).as("round"), col("k"), col("n_removed"),
          col("n_nodes"), col("n_edges"))
      trail = trail.unionAll(row)
    }
    trail.orderBy(col("round"))
  }

  /** Degree assortativity (r9) — Newman's mixing coefficient (PRL 2002,
    * public): the Pearson correlation of endpoint degrees over every
    * directed edge instance of the undirected word graph. Sign answers
    * the first structural question asked of any production graph —
    * hub-to-hub (social, r>0) or hub-to-leaf (web/infra, r<0) — and
    * decides whether hub-splitting/salting is needed before the heavier
    * analytics run. All six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact BIGINTs; the three Pearson factors are then ONE mirrored
    * double expression each (each factor's n·Σ−Σ·Σ products are near
    * 2⁶³ at sf0.1 degree scale, so the multiplication happens in double
    * — identical IEEE ops on identical exact inputs — rather than
    * silently wrapping in BIGINT: the corr_matrix overflow lesson taken
    * one step earlier). Scale shape: degree is one vertex-keyed groupBy;
    * endpoint degrees arrive by two vertex-keyed equi-joins (never a
    * broadcast of the unbounded degree table); the three 1-row summary
    * aggregates cross for the report row (allowlisted). */
  val graphAssortativity: QFn = (s, dir) => {
    // Edge set reused by 4 branches (degree, two probes, stats) —
    // materialize once, the triangle_count pattern.
    val und = edgesOf(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .ckpt()
    val both = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val deg = both.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val pts = both
      .join(deg.select(col("u"), col("d").as("x")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("y")), "v")
    val fx = dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))
    val fy = dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy"))
    val num = dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))
    pts
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(count(lit(1)).as("n_verts")))
      .select(col("n_verts"), col("n_edges"),
        // nullif: a degree-regular graph (cycle) has zero degree
        // variance — null r, not an ANSI abort
        // greatest(…, 0): fx/fy are Cauchy-Schwarz-nonnegative in real
        // arithmetic but computed in double — a true-zero factor can
        // round to -ulp, and DuckDB hard-errors on sqrt(negative)
        r6(num / nullif(sqrt(greatest(fx, lit(0.0))) *
          sqrt(greatest(fy, lit(0.0))), lit(0.0)))
          .as("assortativity"))
  }

  /** Modularity community detection (r11) — the Louvain local-move pass
    * (Blondel et al. 2008, public algorithm), the algorithm
    * practitioners actually reach for when "find communities" is the
    * ask; LPA's plurality rule has no objective, this key OPTIMIZES
    * Newman-Girvan modularity Q = Σ_c [e_c/m − (Σtot_c/2m)²]. Runs on
    * the part co-purchase graph (the corpus-growing node domain LPA and
    * kcore share — the word graph's vocabulary saturates). Sequential
    * Louvain's node order is unreproducible by design, so this is the
    * distributed form every engine ships: 2 SYNCHRONOUS local-move
    * rounds from singleton communities; each round every node evaluates
    * all neighbor communities ∪ its own and takes the best ΔQ-rank
    * community. The gain comparison is EXACT INTEGER arithmetic: ranking
    * by ΔQ(v→c) ∝ k_{v,c}/m − k_v·Σtot(c\v)/(2m²) is equivalent to
    * ranking by the 2m-scaled score 2m·k_{v,c} − k_v·(Σtot(c) − [v∈c]k_v)
    * — all BIGINTs, so the argmax has no float anywhere; ties prefer
    * staying, then min community label. Graded output: top-20
    * communities (n_nodes DESC, label) with exact degree/edge masses,
    * each community's DECIMAL-pinned modularity contribution, and the
    * global (n_comms, modularity) on every row — a wrong gain, eviction
    * of the stay-option, or tie order cannot reproduce it.
    * Scale shape: per round = one neighbor-keyed join + one (v,c) count
    * + one community-keyed degree sum + one per-node argmax window —
    * all vertex/community-keyed shuffles (the LPA layout); 2m rides a
    * 1-row broadcast; assignments checkpoint per round. */
  private val louvainCache = graft.Tables
    .sessionScopedCache[String, (DataFrame, DataFrame, DataFrame, DataFrame)]()

  /** Louvain phase 1 shared by the modularity keys: the co-purchase
    * graph, degrees, 2m, and the 2-round synchronous local-move
    * assignment (all checkpointed) — cached per (session, dir) like the
    * tokenizer artifact: phase 2 consumes phase 1's OUTPUT, so
    * re-deriving it per key would double-charge the graded composition. */
  private def louvainPhase1(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    louvainCache.getOrElseUpdate((graft.Tables.sessionKey(s), dir),
      louvainPhase1Build(s, dir))

  private def louvainPhase1Build(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val und = coPurchase(s, dir)
    val nbr = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    val deg = nbr.groupBy(col("v")).agg(count(lit(1)).as("kv"))
      .ckpt() // probed by every round + the final stats
    val m2 = und.agg((count(lit(1)) * 2).as("m2"))
    var comm = deg.select(col("v"), col("v").as("c"))
    for (_ <- 1 to 2) {
      val kvc = nbr
        .join(comm.select(col("v").as("u"), col("c")), "u")
        .groupBy(col("v"), col("c")).agg(count(lit(1)).as("kvc"))
      // candidate communities = neighbor communities ∪ own (k_{v,own}
      // may be 0 — the stay option must stay rankable)
      val cand = kvc.unionByName(
          comm.select(col("v"), col("c"), lit(0L).as("kvc")))
        .groupBy(col("v"), col("c")).agg(max(col("kvc")).as("kvc"))
      val tot = comm.join(deg, "v").groupBy(col("c"))
        .agg(sum(col("kv")).as("tot"))
      val wBest = Window.partitionBy(col("v")).orderBy(col("score").desc,
        when(col("c") === col("cv"), 0).otherwise(1), col("c"))
      comm = cand
        .join(tot, "c")
        .join(deg, "v")
        .join(comm.select(col("v"), col("c").as("cv")), "v")
        .crossJoin(broadcast(m2))
        .withColumn("score", col("m2") * col("kvc") -
          col("kv") * (col("tot") -
            when(col("c") === col("cv"), col("kv")).otherwise(lit(0L))))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("v"), col("c"))
        .ckpt()
    }
    (und, deg, m2, comm)
  }

  /** Per-community stats + DECIMAL-pinned modularity contributions of an
    * assignment (v, c), plus the (n_comms, modularity) summary — shared
    * by both modularity keys (`per` is checkpointed: read by the summary
    * and the top-20 emission). */
  private def partitionStats(und: DataFrame, deg: DataFrame, m2: DataFrame,
      asg: DataFrame): (DataFrame, DataFrame) = {
    val sizes = asg.join(deg, "v").groupBy(col("c"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("kv")).as("sum_deg"))
    val intra = und
      .join(asg.select(col("v").as("a"), col("c").as("ca")), "a")
      .join(asg.select(col("v").as("b"), col("c").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("intra_edges"))
    val per = sizes.join(intra, Seq("c"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m2))
      .withColumn("qc", dec(
        (lit(2.0) * dbl(col("intra_edges"))) / dbl(col("m2")) -
          (dbl(col("sum_deg")) / dbl(col("m2"))) *
          (dbl(col("sum_deg")) / dbl(col("m2"))), 16, 12))
      .ckpt()
    val summary = per.agg(count(lit(1)).as("n_comms"),
      r6(dbl(sum(col("qc")))).as("modularity"))
    (per, summary)
  }

  private val p1StatsCache =
    graft.Tables.sessionScopedCache[String, (DataFrame, DataFrame)]()

  /** Phase-1 partition stats, cached like the assignment (consumed by
    * communityModularity's report AND louvain2's improvement column). */
  private def phase1Stats(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    p1StatsCache.getOrElseUpdate((graft.Tables.sessionKey(s), dir), {
      val (und, deg, m2, comm) = louvainPhase1(s, dir)
      partitionStats(und, deg, m2, comm)
    })

  val communityModularity: QFn = (s, dir) => {
    val (per, summary) = phase1Stats(s, dir)
    per.crossJoin(broadcast(summary))
      .orderBy(col("n_nodes").desc, col("c"))
      .limit(20)
      .select(col("c").as("community"), col("n_nodes"), col("sum_deg"),
        col("intra_edges"), r6(dbl(col("qc"))).as("q_contrib"),
        col("n_comms"), col("modularity"))
  }

  /** Louvain PHASE 2 (r11) — the aggregation/coarsening step that makes
    * Louvain Louvain (Blondel 2008 §2, "the passes"): phase-1
    * communities become SUPER-NODES, inter-community edge counts become
    * integer WEIGHTS, each super-node's weighted degree is the exact sum
    * of its members' degrees (self-loop mass included by construction),
    * and one synchronous weighted local-move round runs on the coarse
    * graph — merging whole communities at once, which single-node moves
    * cannot do. The weighted gain stays in EXACT INTEGER arithmetic
    * (edge weights are counts): 2m·w(u,C) − K_u·(Σtot(C) − [u∈C]K_u).
    * Graded output: top-20 REFINED communities (original-node masses)
    * with the refined global modularity AND phase-1's — the improvement
    * a wrong coarsening (lost self-loop mass, wrong weight aggregation,
    * wrong tie rule) cannot reproduce. Scale shape: the coarse graph is
    * communities×communities-sparse (≤ inter-community edge count);
    * everything after phase 1 runs on the SHRUNK domain — exactly why
    * Louvain terminates in O(log n) passes at 100 TB. */
  val communityLouvain2: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val (und, deg, m2, comm) = louvainPhase1(s, dir)
    val (_, summary1) = phase1Stats(s, dir)
    val lab = und
      .join(comm.select(col("v").as("a"), col("c").as("ca")), "a")
      .join(comm.select(col("v").as("b"), col("c").as("cb")), "b")
      .ckpt() // feeds super-edges AND refined intra counts
    // coarse weighted adjacency (both directions) — inter-community only
    val snbr = lab.filter(col("ca") =!= col("cb"))
      .select(col("ca").as("u"), col("cb").as("x"))
      .unionAll(lab.filter(col("ca") =!= col("cb"))
        .select(col("cb").as("u"), col("ca").as("x")))
      .groupBy(col("u"), col("x")).agg(count(lit(1)).as("w"))
    // weighted super-degree K_u = Σ member degrees (carries the
    // self-loop/intra mass exactly)
    val sdeg = comm.join(deg, "v").groupBy(col("c"))
      .agg(sum(col("kv")).as("ku"))
      .select(col("c").as("u"), col("ku"))
      .ckpt()
    val cand = snbr.unionByName(
      sdeg.select(col("u"), col("u").as("x"), lit(0L).as("w")))
    val wBest = Window.partitionBy(col("u")).orderBy(col("score").desc,
      when(col("x") === col("u"), 0).otherwise(1), col("x"))
    val d1 = cand
      .join(sdeg.select(col("u").as("x"), col("ku").as("kx")), "x")
      .join(sdeg, "u")
      .crossJoin(broadcast(m2))
      .withColumn("score", col("m2") * col("w") -
        col("ku") * (col("kx") -
          when(col("x") === col("u"), col("ku")).otherwise(lit(0L))))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("u").as("c"), col("x").as("sc"))
      .ckpt()
    val refined = comm.join(d1, "c").select(col("v"), col("sc").as("c"))
    val (per2, summary2) = partitionStats(und, deg, m2, refined)
    per2.crossJoin(broadcast(summary2))
      .crossJoin(broadcast(
        summary1.select(col("modularity").as("modularity_p1"))))
      .orderBy(col("n_nodes").desc, col("c"))
      .limit(20)
      .select(col("c").as("community"), col("n_nodes"), col("sum_deg"),
        col("intra_edges"), r6(dbl(col("qc"))).as("q_contrib"),
        col("n_comms"), col("modularity"), col("modularity_p1"))
  }

  /** Strongly-connected components (r12) — the DIRECTED axis the graph
    * family lacked (CC/LPA/Louvain/k-core/triangles are all undirected;
    * PageRank/BFS use direction but answer reachability, not mutuality).
    * FW-BW coloring with trim (Fleischer-Hendrickson-Pinar DCSC plus the
    * min-label coloring of Orzan / Slota et al.'s MultiStep — public
    * algorithms), on the word-adjacency DIGRAPH:
    *
    *   1. TRIM — a vertex with no in-edge or no out-edge in the active
    *      subgraph lies on no cycle: settle as a singleton SCC; peel to
    *      fixpoint (kills DAG periphery, the worst case for coloring).
    *   2. FORWARD color — F(v) = min over {v} ∪ ancestors(v), the
    *      `ConnectedComponents.minLabel` fixpoint along edge direction.
    *      Each color class {F = c} contains SCC(c) whole, and c is the
    *      class minimum.
    *   3. BACKWARD within color — the same fixpoint AGAINST edge
    *      direction, over the edges whose endpoints share a color.
    *      B(v) = F(v) = c ⟺ c →* v (F side) ∧ v →* c (B side, and an
    *      SCC's internal path never leaves its color class) ⟺
    *      v ∈ SCC(c). Settle those, drop them, repeat from 1 — every
    *      class pivot settles per round, so the loop provably shrinks.
    *
    * Every loop structure (vertices, distinct edges, labels) lives on
    * the VOCABULARY domain, which saturates under Heaps' law — the only
    * corpus-sized work is edgesOf's one scan. At 100 TB the same rounds
    * run with vertex-keyed shuffles; the driver sees only O(1) counts.
    * Output: top-20 SCCs by size with the 1-row (n_sccs, n_verts)
    * summary crossed on (the community_modularity report shape). Oracle:
    * full recursive-CTE reachability closure + mutual-pair min — an
    * INDEPENDENT formulation (closure is oracle-tractable on the
    * fixture vocabulary; the coloring loop is the scale path). */
  val sccComponents: QFn = (s, dir) => {
    // Convergence counts ride the SAME job that materializes each
    // round's checkpoint: a ckpt+count pair in the trim loop would be
    // TWO job launches per round; core.ckptObserved folds them into one.
    val e0 = edgesOf(s, dir).ckpt()
    var (verts, Seq(remaining0)) = ckptObserved(
      e0.select(col("src").as("w"))
        .union(e0.select(col("dst").as("w"))).distinct(),
      count(lit(1)))
    var edges = e0
    // seed with an empty (w, scc) frame so a cycle-free corpus still
    // yields the right schema
    var settled = List(e0.limit(0)
      .select(col("src").as("w"), col("src").as("scc")))
    var remaining = remaining0
    while (remaining > 0) {
      // ---- 1. trim to fixpoint
      var trimming = true
      while (trimming && remaining > 0) {
        val (cyc, Seq(nCyc)) = ckptObserved(
          edges.select(col("src").as("w")).distinct()
            .intersect(edges.select(col("dst").as("w")).distinct()),
          count(lit(1)))
        if (nCyc == remaining) trimming = false
        else {
          settled ::= verts.join(cyc, Seq("w"), "left_anti")
            .select(col("w"), col("w").as("scc")).ckpt()
          verts = cyc
          edges = edges
            .join(cyc.select(col("w").as("src")), Seq("src"))
            .join(cyc.select(col("w").as("dst")), Seq("dst"))
            .select(col("src"), col("dst")).ckpt()
          remaining = nCyc
        }
      }
      if (remaining > 0) {
        // ---- 2. forward color: F(v) = min over {v} ∪ ancestors(v)
        val (f, _) = ConnectedComponents.minLabel(edges, Some(verts))
        // ---- 3. backward min-label within color: the same fixpoint
        // over the reversed same-color edges
        val fe = edges
          .join(f.select(col("id").as("src"), col("lbl").as("fs")), "src")
          .join(f.select(col("id").as("dst"), col("lbl").as("fd")), "dst")
          .filter(col("fs") === col("fd"))
          .select(col("src"), col("dst")).ckpt()
        val (b, _) = ConnectedComponents.minLabel(
          fe.select(col("dst"), col("src")), Some(verts))
        val done = f.join(b.select(col("id"), col("lbl").as("bl")), Seq("id"))
          .filter(col("lbl") === col("bl"))
          .select(col("id").as("w"), col("lbl").as("scc")).ckpt()
        settled ::= done
        val (nv, Seq(nRem)) = ckptObserved(
          verts.join(done.select(col("w")), Seq("w"), "left_anti"),
          count(lit(1)))
        verts = nv
        edges = edges
          .join(verts.select(col("w").as("src")), Seq("src"))
          .join(verts.select(col("w").as("dst")), Seq("dst"))
          .select(col("src"), col("dst")).ckpt()
        remaining = nRem
      }
    }
    val comp = settled.reduce(_ unionByName _)
    val sizes = comp.groupBy(col("scc")).agg(count(lit(1)).as("n_words"))
    val summary = sizes.agg(count(lit(1)).as("n_sccs"),
      sum(col("n_words")).as("n_verts"))
    sizes.orderBy(col("n_words").desc, col("scc")).limit(20)
      .crossJoin(broadcast(summary))
      .select(col("scc"), col("n_words"), col("n_sccs"), col("n_verts"))
      .orderBy(col("n_words").desc, col("scc"))
  }

  val queries: Map[String, QFn] = Map(
    "scc_components" -> sccComponents,
    "community_modularity" -> communityModularity,
    "community_louvain2" -> communityLouvain2,
    "graph_assortativity" -> graphAssortativity,
    "kcore_peel" -> kcorePeel,
    "label_propagation" -> labelPropagation,
    "link_adamic_adar" -> linkAdamicAdar,
    "bfs_distance"   -> bfsDistance,
    "pagerank_words" -> pagerankWords,
    "ppr_seed" -> pprSeed,
    "triangle_count" -> triangleCount)

  /** The identical power iteration unrolled as a DuckDB CTE chain. */
  private def pagerankSql: String = {
    def iter(k: Int, prev: String): String =
      s"""c$k AS (SELECT e.dst, CAST(r.rank / o.od AS DECIMAL(16,12)) AS c
         |  FROM edges e JOIN $prev r ON e.src = r.word
         |    JOIN od o ON o.src = e.src),
         |s$k AS (SELECT dst, sum(c) AS sc FROM c$k GROUP BY dst),
         |r$k AS (SELECT w.word,
         |    0.15 / (SELECT nn FROM nn)
         |      + 0.85 * CAST(coalesce(s.sc, 0) AS DOUBLE) AS rank
         |  FROM words w LEFT JOIN s$k s ON s.dst = w.word)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> w <> '') AS ws FROM documents),
       |words AS (SELECT DISTINCT unnest(ws) AS word FROM toks),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM words),
       |edges AS (
       |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
       |  FROM toks,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
       |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
       |od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |r0 AS (SELECT word, 1.0 / (SELECT nn FROM nn) AS rank FROM words),
       |${iter(1, "r0")},
       |${iter(2, "r1")},
       |${iter(3, "r2")}
       |SELECT word, floor(rank * 1000000 + 0.5) / 1000000 AS pagerank
       |FROM r3 ORDER BY word""".stripMargin
  }

  /** PPR oracle: pagerank's CTE chain with seed-teleport init and
    * seed-only restart, seed resolved by the same (od DESC, src) rule. */
  private def pprSql: String = {
    def iter(k: Int, prev: String): String =
      s"""c$k AS (SELECT e.dst, CAST(r.rank / o.od AS DECIMAL(16,12)) AS c
         |  FROM edges e JOIN $prev r ON e.src = r.word
         |    JOIN od o ON o.src = e.src),
         |s$k AS (SELECT dst, sum(c) AS sc FROM c$k GROUP BY dst),
         |r$k AS (SELECT w.word,
         |    (CASE WHEN w.word = (SELECT seed FROM sd) THEN 0.15
         |          ELSE 0.0 END)
         |      + 0.85 * CAST(coalesce(s.sc, 0) AS DOUBLE) AS rank
         |  FROM words w LEFT JOIN s$k s ON s.dst = w.word)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> w <> '') AS ws FROM documents),
       |words AS (SELECT DISTINCT unnest(ws) AS word FROM toks),
       |edges AS (
       |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
       |  FROM toks,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
       |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
       |od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |sd AS (SELECT src AS seed FROM od ORDER BY od DESC, src LIMIT 1),
       |r0 AS (SELECT word,
       |    CASE WHEN word = (SELECT seed FROM sd) THEN 1.0 ELSE 0.0 END
       |      AS rank FROM words),
       |${iter(1, "r0")},
       |${iter(2, "r1")},
       |${iter(3, "r2")},
       |f AS (SELECT (SELECT seed FROM sd) AS seed, word,
       |        floor(rank * 1000000 + 0.5) / 1000000 AS ppr FROM r3)
       |SELECT seed, word, ppr FROM f WHERE ppr > 0
       |ORDER BY ppr DESC, word LIMIT 20""".stripMargin
  }

  /** DuckDB mirror: identical orientation, wedge and closure joins. */
  private def triangleSql: String = {
    val lowFirst = "da.d < db.d OR (da.d = db.d AND a < b)"
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> w <> '') AS ws FROM documents),
       |dedges AS (
       |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
       |  FROM toks,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
       |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM dedges),
       |deg AS (SELECT v, count(*) AS d FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY v),
       |e AS (SELECT
       |    CASE WHEN $lowFirst THEN a ELSE b END AS u,
       |    CASE WHEN $lowFirst THEN b ELSE a END AS w,
       |    CASE WHEN $lowFirst THEN db.d ELSE da.d END AS dw
       |  FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
       |wedges AS (
       |  SELECT x.v1, y.v2
       |  FROM (SELECT u, w AS v1, dw AS d1 FROM e) x
       |  JOIN (SELECT u, w AS v2, dw AS d2 FROM e) y USING (u)
       |  WHERE x.d1 < y.d2 OR (x.d1 = y.d2 AND x.v1 < y.v2)),
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM wedges JOIN e ON e.u = wedges.v1 AND e.w = wedges.v2),
       |stats AS (SELECT (SELECT count(*) FROM und) AS n_edges,
       |    count(*) AS n_verts, CAST(sum(d * (d - 1) / 2) AS BIGINT)
       |      AS n_wedges
       |  FROM deg)
       |SELECT n_verts, n_edges, n_wedges, n_triangles,
       |  ${r6Sql("CAST(n_triangles * 3 AS DOUBLE) / " +
           "nullif(CAST(n_wedges AS DOUBLE), 0.0)")} AS clustering
       |FROM stats, tri""".stripMargin
  }

  private def bfsSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w <> '') AS ws FROM documents),
      |e0 AS (
      |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
      |  FROM toks,
      |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
      |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
      |und AS (
      |  SELECT src, dst FROM e0
      |  UNION SELECT dst AS src, src AS dst FROM e0),
      |walk(w, d) AS (
      |  SELECT min(src), 0 FROM und
      |  UNION
      |  SELECT und.dst, walk.d + 1 FROM walk JOIN und ON walk.w = und.src
      |  WHERE walk.d < 4),
      |best AS (SELECT w, min(d) AS d FROM walk GROUP BY w)
      |SELECT d, count(*) AS n_words, min(w) AS first_word
      |FROM best GROUP BY d ORDER BY d""".stripMargin

  private def adamicAdarSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> w <> '') AS ws FROM documents),
       |e0 AS (
       |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
       |  FROM toks,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
       |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
       |und AS (
       |  SELECT src AS a, dst AS b FROM e0
       |  UNION SELECT dst AS a, src AS b FROM e0),
       |deg AS (SELECT a AS z, count(*) AS dz FROM und GROUP BY a),
       |wedges AS (
       |  SELECT x.b AS u, y.b AS v, x.a AS z
       |  FROM und x JOIN und y ON x.a = y.a
       |  WHERE x.b < y.b),
       |terms AS (
       |  SELECT u, v,
       |    CAST(1.0 / ln(CAST(dz AS DOUBLE)) AS DECIMAL(14,10)) AS term
       |  FROM wedges JOIN deg USING (z)),
       |g AS (
       |  SELECT u, v, count(*) AS common_neighbors, sum(term) AS sc
       |  FROM terms GROUP BY u, v)
       |SELECT u, v, common_neighbors,
       |  CASE WHEN EXISTS (SELECT 1 FROM und
       |    WHERE und.a = g.u AND und.b = g.v)
       |    THEN 1 ELSE 0 END AS is_edge,
       |  ${r6Sql("CAST(sc AS DOUBLE)")} AS aa_score
       |FROM g ORDER BY sc DESC, u, v LIMIT 20""".stripMargin

  /** The identical 3 synchronous LPA rounds unrolled as CTEs, emitting
    * the per-round trajectory. */
  private def lpaSql: String = {
    def round(k: Int, prev: String): String =
      s"""c$k AS (SELECT n.v AS v, l.label AS label, count(*) AS c
         |  FROM nbr n JOIN $prev l ON n.u = l.v
         |  GROUP BY n.v, l.label),
         |l$k AS (SELECT v, label FROM (
         |    SELECT v, label,
         |      row_number() OVER (PARTITION BY v
         |        ORDER BY c DESC, label) AS rn
         |    FROM c$k) t WHERE rn = 1)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'),
       |und AS (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey),
       |nbr AS (
       |  SELECT a AS v, b AS u FROM und
       |  UNION SELECT b, a FROM und),
       |l0 AS (SELECT DISTINCT v, v AS label FROM nbr),
       |${round(1, "l0")},
       |${round(2, "l1")},
       |${round(3, "l2")}
       |SELECT round, v AS p_partkey, label FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, v, label FROM l1
       |  UNION ALL SELECT 2, v, label FROM l2
       |  UNION ALL SELECT 3, v, label FROM l3) t
       |ORDER BY round, p_partkey""".stripMargin
  }

  /** The identical 3 synchronous peel rounds unrolled as CTEs. */
  private def kcoreSql: String = {
    def round(k: Int, prev: String): String =
      s"""deg$k AS (SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM $prev UNION ALL SELECT b FROM $prev) t
         |  GROUP BY v),
         |rm$k AS (SELECT v FROM deg$k, kk WHERE d < kk.k),
         |e$k AS (SELECT a, b FROM $prev
         |  WHERE a NOT IN (SELECT v FROM rm$k)
         |    AND b NOT IN (SELECT v FROM rm$k)),
         |s$k AS (SELECT CAST($k AS BIGINT) AS round,
         |    (SELECT k FROM kk) AS k,
         |    (SELECT count(*) FROM rm$k) AS n_removed,
         |    (SELECT count(DISTINCT v) FROM (
         |      SELECT a AS v FROM e$k UNION ALL SELECT b FROM e$k) t)
         |      AS n_nodes,
         |    (SELECT count(*) FROM e$k) AS n_edges)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'),
       |e0 AS (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey),
       |kk AS (SELECT (2 * (SELECT count(*) FROM e0)) //
       |    (SELECT count(DISTINCT v) FROM (
       |      SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) t) + 1
       |    AS k),
       |${round(1, "e0")},
       |${round(2, "e1")},
       |${round(3, "e2")}
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |UNION ALL SELECT * FROM s3 ORDER BY round""".stripMargin
  }

  /** Mirror: same edge set, same exact moments, same double factors. */
  private def assortativitySql: String = {
    val f = (n: String, sq: String, s1: String, s2: String) =>
      s"CAST($n AS DOUBLE) * CAST($sq AS DOUBLE)" +
        s" - CAST($s1 AS DOUBLE) * CAST($s2 AS DOUBLE)"
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    w -> w <> '') AS ws FROM documents),
       |e0 AS (
       |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
       |  FROM toks,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
       |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e0),
       |bw AS (SELECT a AS u, b AS v FROM und
       |       UNION ALL SELECT b AS u, a AS v FROM und),
       |deg AS (SELECT u, count(*) AS d FROM bw GROUP BY u),
       |pts AS (
       |  SELECT dx.d AS x, dy.d AS y
       |  FROM bw JOIN deg dx ON bw.u = dx.u
       |          JOIN deg dy ON bw.v = dy.u),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pts),
       |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       |              (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_verts)
       |SELECT n_verts, n_edges,
       |  ${r6Sql(s"(${f("n", "sxy", "sx", "sy")}) / " +
           s"nullif(sqrt(greatest(${f("n", "sxx", "sx", "sx")}, 0.0)) * " +
           s"sqrt(greatest(${f("n", "syy", "sy", "sy")}, 0.0)), 0.0)")}
       |  AS assortativity
       |FROM m, st""".stripMargin
  }

  /** The identical 2 synchronous local-move rounds as generated CTEs:
    * same candidate set (neighbor communities ∪ own), same integer
    * 2m-scaled gain, same (score DESC, stay-first, label) order, same
    * DECIMAL-pinned per-community modularity terms. */
  /** Phase-1 CTE chain (graph, degrees, 2m, two local-move rounds →
    * `c2`), shared by both modularity oracles. */
  private def louvainP1Ctes: String = {
    def round(k: Int, prev: String): String =
      s"""kvc$k AS (SELECT n.v, l.c, count(*) AS kvc
         |  FROM nbr n JOIN $prev l ON n.u = l.v GROUP BY 1, 2),
         |cand$k AS (SELECT v, c, max(kvc) AS kvc FROM (
         |    SELECT v, c, kvc FROM kvc$k
         |    UNION ALL SELECT v, c, CAST(0 AS BIGINT) FROM $prev)
         |  GROUP BY 1, 2),
         |tot$k AS (SELECT l.c, CAST(sum(d.kv) AS BIGINT) AS tot
         |  FROM $prev l JOIN deg d USING (v) GROUP BY 1),
         |c$k AS MATERIALIZED (SELECT v, c FROM (
         |    SELECT x.v, x.c, row_number() OVER (PARTITION BY x.v
         |      ORDER BY ((SELECT m2 FROM m2) * x.kvc
         |          - d.kv * (t.tot - CASE WHEN x.c = p.c THEN d.kv
         |            ELSE 0 END)) DESC,
         |        CASE WHEN x.c = p.c THEN 0 ELSE 1 END, x.c) AS rn
         |    FROM cand$k x JOIN tot$k t ON x.c = t.c
         |      JOIN deg d ON x.v = d.v JOIN $prev p ON x.v = p.v)
         |  WHERE rn = 1)""".stripMargin
    s"""li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-01-01'),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey),
       |nbr AS MATERIALIZED (
       |  SELECT a AS v, b AS u FROM und
       |  UNION ALL SELECT b, a FROM und),
       |deg AS MATERIALIZED (SELECT v, count(*) AS kv FROM nbr GROUP BY v),
       |m2 AS (SELECT CAST(2 * count(*) AS BIGINT) AS m2 FROM und),
       |c0 AS MATERIALIZED (SELECT v, v AS c FROM deg),
       |${round(1, "c0")},
       |${round(2, "c1")}""".stripMargin
  }

  /** Per-community stats + modularity summary over an assignment CTE
    * `asg(v, c)`, CTE names suffixed by `sfx` — shared by both
    * modularity oracles. */
  private def partitionStatsCtes(asg: String, sfx: String): String = {
    val qcSql = "(2.0 * CAST(intra_edges AS DOUBLE)) " +
      "/ CAST((SELECT m2 FROM m2) AS DOUBLE) " +
      "- (CAST(sum_deg AS DOUBLE) / CAST((SELECT m2 FROM m2) AS DOUBLE)) " +
      "* (CAST(sum_deg AS DOUBLE) / CAST((SELECT m2 FROM m2) AS DOUBLE))"
    s"""sizes$sfx AS (SELECT c, count(*) AS n_nodes,
       |    CAST(sum(kv) AS BIGINT) AS sum_deg
       |  FROM $asg JOIN deg USING (v) GROUP BY c),
       |intra$sfx AS (SELECT ca.c AS c, count(*) AS intra_edges
       |  FROM und e JOIN $asg ca ON e.a = ca.v JOIN $asg cb ON e.b = cb.v
       |  WHERE ca.c = cb.c GROUP BY 1),
       |per$sfx AS MATERIALIZED (
       |  SELECT s.c, s.n_nodes, s.sum_deg,
       |    coalesce(i.intra_edges, CAST(0 AS BIGINT)) AS intra_edges
       |  FROM sizes$sfx s LEFT JOIN intra$sfx i USING (c)),
       |perq$sfx AS MATERIALIZED (
       |  SELECT *, CAST($qcSql AS DECIMAL(16,12)) AS qc FROM per$sfx),
       |summ$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n_comms,
       |    ${r6Sql("CAST(sum(qc) AS DOUBLE)")} AS modularity
       |  FROM perq$sfx)""".stripMargin
  }

  private def communityModularitySql: String =
    s"""WITH $louvainP1Ctes,
       |${partitionStatsCtes("c2", "")}
       |SELECT perq.c AS community, n_nodes, sum_deg, intra_edges,
       |  ${r6Sql("CAST(qc AS DOUBLE)")} AS q_contrib, n_comms, modularity
       |FROM perq, summ ORDER BY n_nodes DESC, perq.c LIMIT 20""".stripMargin

  /** Louvain phase-2 oracle: coarsen to the weighted super-graph, one
    * weighted local-move round (same integer score, weights = counts),
    * refined-partition stats + both modularities. */
  private def louvain2Sql: String =
    s"""WITH $louvainP1Ctes,
       |${partitionStatsCtes("c2", "1")},
       |lab AS MATERIALIZED (
       |  SELECT e.a, e.b, ca.c AS ca, cb.c AS cb
       |  FROM und e JOIN c2 ca ON e.a = ca.v JOIN c2 cb ON e.b = cb.v),
       |snbr AS (SELECT u, x, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT ca AS u, cb AS x FROM lab WHERE ca <> cb
       |    UNION ALL SELECT cb, ca FROM lab WHERE ca <> cb)
       |  GROUP BY 1, 2),
       |sdeg AS MATERIALIZED (
       |  SELECT c AS u, CAST(sum(kv) AS BIGINT) AS ku
       |  FROM c2 JOIN deg USING (v) GROUP BY 1),
       |scand AS (SELECT u, x, w FROM snbr
       |  UNION ALL SELECT u, u, CAST(0 AS BIGINT) FROM sdeg),
       |d1 AS MATERIALIZED (SELECT u AS c, x AS sc FROM (
       |    SELECT q.u, q.x, row_number() OVER (PARTITION BY q.u
       |      ORDER BY ((SELECT m2 FROM m2) * q.w
       |          - du.ku * (dx.ku - CASE WHEN q.x = q.u THEN du.ku
       |            ELSE 0 END)) DESC,
       |        CASE WHEN q.x = q.u THEN 0 ELSE 1 END, q.x) AS rn
       |    FROM scand q JOIN sdeg du ON q.u = du.u
       |      JOIN sdeg dx ON q.x = dx.u) WHERE rn = 1),
       |ref AS MATERIALIZED (
       |  SELECT c2.v, d1.sc AS c FROM c2 JOIN d1 ON c2.c = d1.c),
       |${partitionStatsCtes("ref", "2")}
       |SELECT perq2.c AS community, n_nodes, sum_deg, intra_edges,
       |  ${r6Sql("CAST(qc AS DOUBLE)")} AS q_contrib,
       |  summ2.n_comms, summ2.modularity,
       |  (SELECT modularity FROM summ1) AS modularity_p1
       |FROM perq2, summ2 ORDER BY n_nodes DESC, perq2.c LIMIT 20""".stripMargin

  /** SCC oracle: full reachability closure (recursive CTE) + mutual-pair
    * min — independent of the Spark side's FW-BW coloring rounds. */
  private def sccSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w <> '') AS ws FROM documents),
      |e0 AS (
      |  SELECT DISTINCT ws[i] AS src, ws[i+1] AS dst
      |  FROM toks,
      |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM toks))) AS i)
      |  WHERE i + 1 <= len(ws) AND ws[i] <> ws[i+1]),
      |-- explicit DISTINCT: inside a WITH RECURSIVE block DuckDB 1.0
      |-- compiles a plain `UNION` CTE without deduplicating the seed
      |-- (observed: 885+885 rows), so spell the dedup out
      |verts AS (SELECT DISTINCT w FROM (
      |  SELECT src AS w FROM e0 UNION ALL SELECT dst FROM e0)),
      |reach(v, u) AS (
      |  SELECT src, dst FROM e0
      |  UNION
      |  SELECT r.v, e.dst FROM reach r JOIN e0 e ON r.u = e.src),
      |mut AS (
      |  SELECT r1.v AS w, min(r1.u) AS mn
      |  FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r2.u = r1.v
      |  GROUP BY r1.v),
      |comp AS (
      |  SELECT v.w, least(v.w, coalesce(m.mn, v.w)) AS scc
      |  FROM verts v LEFT JOIN mut m ON m.w = v.w),
      |sizes AS (SELECT scc, count(*) AS n_words FROM comp GROUP BY scc),
      |summary AS (SELECT count(*) AS n_sccs,
      |  CAST(sum(n_words) AS BIGINT) AS n_verts FROM sizes)
      |SELECT scc, n_words, n_sccs, n_verts
      |FROM (SELECT * FROM sizes ORDER BY n_words DESC, scc LIMIT 20),
      |  summary
      |ORDER BY n_words DESC, scc""".stripMargin

  val oracle: Map[String, String] = Map(
    "scc_components" -> sccSql,
    "community_modularity" -> communityModularitySql,
    "community_louvain2" -> louvain2Sql,
    "graph_assortativity" -> assortativitySql,
    "kcore_peel" -> kcoreSql,
    "label_propagation" -> lpaSql,
    "link_adamic_adar" -> adamicAdarSql,
    "bfs_distance"   -> bfsSql,
    "pagerank_words" -> pagerankSql,
    "ppr_seed" -> pprSql,
    "triangle_count" -> triangleSql)
}
