package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import core._

/** Event-stream queries over the `events` table: stream semantics expressed
  * in batch so they stay DuckDB-verifiable (SURVEY.md §2.9). The identical
  * aggregations run under Structured Streaming in `graft.streaming` — the
  * batch and streaming plans share the window/session logic, which is the
  * point of declaring them over `window()`/lag-cumsum compositions.
  *
  * All timestamps flow as `ts_us` epoch-microsecond BIGINTs in outputs:
  * exact on both engines (events data is µs-grain; DuckDB `epoch_us(ts)`
  * equals the loader's `ts_us` under either physical vintage — nanos-Long
  * or timestamp[us] — see Tables.scala).
  */
object EventsQ {

  /** Events scan + vintage normalization (the SURVEY §7.3 trap, exercised). */
  val scanEvents: QFn = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"), col("ts_us"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Exact distinct users + event counts per type. */
  val distinctUsers: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Tumbling 1-hour windows via the real `window()` operator; the window
    * start is emitted as epoch seconds for engine-agnostic comparison. */
  val tumbleHourly: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dbl(sum(dec(col("value"), 14, 4))).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_ts"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_ts"), col("event_type"))

  /** Gap-based sessionization (30 min): lag → new-session flag → running sum
    * session id → per-session rollup. Partitioned by user_id, so at cluster
    * scale state is sharded on a high-cardinality key — no global window. */
  val sessionGap30m: QFn = (s, dir) => {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val lagTs = lag(col("ts_us"), 1).over(wOrd)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("is_new",
        when(lagTs.isNull || (col("ts_us") - lagTs) > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("session_start_us"),
        count(lit(1)).as("n_events"),
        dbl(sum(dec(col("value"), 14, 4))).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** JSON extraction from the string `props` column + aggregation. */
  val jsonProps: QFn = (s, dir) => {
    val k = get_json_object(col("props"), "$.k").cast("long")
    t(s, dir, "events")
      .withColumn("k", k)
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy(col("event_type"))
  }

  /** As-of join: each purchase matched to the user's latest prior view or
    * signup. Implemented the scale-friendly way — tag candidates, one window
    * pass with last(_, ignoreNulls) per user — instead of an inequality
    * self-join, so it's a single shuffle on user_id with no nested loop
    * (the shape that survives 100 TB; a range self-join would not). */
  val asofEvent: QFn = (s, dir) => {
    val isCand = col("event_type").isin("view", "signup")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("cand_event", when(isCand, col("event_id")))
      .withColumn("cand_ts", when(isCand, col("ts_us")))
      .withColumn("c_event", last(col("cand_event"), ignoreNulls = true).over(w))
      .withColumn("c_ts", last(col("cand_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"),
        col("ts_us").as("p_ts"), col("c_event"), col("c_ts"))
      .orderBy(col("p_event"))
  }

  /** Forward as-of join (r5): each purchase matched to the user's NEXT
    * click or error at-or-after it — the other as-of direction (pandas
    * merge_asof direction='forward'); same scale shape as asofEvent:
    * tag candidates, ONE window pass with first(_, ignoreNulls) over the
    * forward frame — a single user_id shuffle, no inequality self-join. */
  val asofForward: QFn = (s, dir) => {
    val isCand = col("event_type").isin("click", "error")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("cand_event", when(isCand, col("event_id")))
      .withColumn("cand_ts", when(isCand, col("ts_us")))
      .withColumn("n_event", first(col("cand_event"), ignoreNulls = true).over(w))
      .withColumn("n_ts", first(col("cand_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event"),
        col("ts_us").as("p_ts"), col("n_event"), col("n_ts"))
      .orderBy(col("p_event"))
  }

  /** UNION with dedup: purchasers ∪ signup users. */
  val setUnion: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "purchase").select(col("user_id"))
      .union(e.filter(col("event_type") === "signup").select(col("user_id")))
      .distinct()
      .orderBy(col("user_id"))
  }

  /** INTERSECT: users who both clicked and purchased. */
  val setIntersect: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(
        e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** EXCEPT: viewers who never purchased. */
  val setExcept: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "view").select(col("user_id"))
      .except(
        e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** INTERSECT ALL — bag semantics: each user keeps min(clicks, views)
    * copies, so multiplicity carries through (the DISTINCT variants above
    * can't express "how many times both"). Spark plans this as a
    * count-compare aggregate + generate, one user_id shuffle. */
  val setIntersectAll: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersectAll(
        e.filter(col("event_type") === "view").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** EXCEPT ALL — bag semantics: views minus purchases per user keeps
    * max(views − purchases, 0) copies. */
  val setExceptAll: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    e.filter(col("event_type") === "view").select(col("user_id"))
      .exceptAll(
        e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** Stream-style dedup: keep the first event per (user, type) in event-time
    * order — the deterministic batch twin of dropDuplicates on a stream. */
  val streamDedup: QFn = (s, dir) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Sliding 1-hour windows, 15-minute slide (each event in 4 windows). */
  val slidingWindows: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dbl(sum(dec(col("value"), 14, 4))).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** HLL approximate distinct — deliberately oracle-free (not
    * bit-comparable); scalatest bounds its relative error instead.
    * rsd = 0.01, NOT the 0.05 default: the gate (and SKETCH_BOUNDS
    * artifact) bound max rel-error at 0.05, and a bound equal to the
    * sketch's own σ is a coin flip per group — sf0.1 measured 6.7%
    * under the default. At rsd 0.01 the same bound is a 5σ margin;
    * the sketch stays mergeable and a few KB per group. */
  val approxDistinct: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy(col("event_type"))

  /** Approximate percentiles (Greenwald-Khanna-style sketch, mergeable
    * partial+final — the sketch tier above the exact `agg_percentiles`).
    * Deliberately oracle-free like `approx_distinct`: sketch outputs are
    * not bit-comparable across engines; scalatest bounds the rank error
    * against the exact percentile instead (OperatorSpec). accuracy 10000
    * ⇒ rank error ≤ n/10000. */
  val approxPercentile: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("pcts"))
      .select(col("event_type"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p90"),
        element_at(col("pcts"), 3).as("p99"))
      .orderBy(col("event_type"))

  /** HDR-histogram quantile sketch (r9) — the third sketch-tier member,
    * and unlike approx_distinct / approx_percentile it carries a FULL
    * DuckDB oracle: the sketch is a fixed binning (20 power-of-2
    * octaves × 8 linear sub-bins, the HdrHistogram/DDSketch layout —
    * public designs), and every boundary is EXACT double arithmetic —
    * 2^k literals, v/2^e (exact by construction), (m−1)·8 (Sterbenz
    * subtraction then power-of-2 scale) — so bin assignment, the
    * cumulative-rank walk, and the bin-midpoint estimate are all
    * bit-deterministic on both engines. Relative error ≤ 1/17 ≈ 5.9%
    * by construction (OperatorSpec gates it against the exact
    * percentile); values outside [2⁻¹⁰, 2¹⁰) saturate into the edge
    * bins, exactly as HdrHistogram does. Scale shape: the sketch IS a
    * (type, bin) count table — 160 bins/group, mergeable by count
    * addition (partial aggregation does it for free), the walk runs on
    * ≤160 rows/group. The answer the sketch gives is deterministic; its
    * ACCURACY is the bounded part — which is why this tier can be
    * hash-graded while a GK/HLL sketch cannot. */
  val hdrQuantileSketch: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = col("value")
    val ks = 9 to -10 by -1
    val eCol = ks.foldLeft(when(lit(false), lit(0))) { (acc, k) =>
      acc.when(v >= lit(math.pow(2, k)), lit(k)) }.otherwise(lit(-10))
    val p2Col = ks.foldLeft(when(lit(false), lit(0.0))) { (acc, k) =>
      acc.when(v >= lit(math.pow(2, k)), lit(math.pow(2, k))) }
      .otherwise(lit(math.pow(2, -10)))
    val sub = least(lit(7), greatest(lit(0),
      floor((v / p2Col - lit(1)) * lit(8)).cast("int")))
    val counts = t(s, dir, "events")
      .filter(v > 0)
      .select(col("event_type"), (eCol * lit(8) + sub).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val wT = Window.partitionBy(col("event_type"))
    val wO = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    counts
      .withColumn("cum", sum(col("c")).over(wO))
      .withColumn("n", sum(col("c")).over(wT))
      .select(col("event_type"), col("bin"), col("cum"),
        explode(array(lit(0.5), lit(0.95), lit(0.99))).as("q"),
        ceil(col("n") * col("q")).as("target_rank"))
      .filter(col("cum") >= col("target_rank"))
      .groupBy(col("event_type"), col("q"), col("target_rank"))
      .agg(min(col("bin")).as("sketch_bin"))
      .select(col("event_type"), col("q"), col("target_rank"),
        col("sketch_bin"),
        (pow(lit(2.0), floor(col("sketch_bin") / 8.0)) *
          (lit(1) + (lit(2) * (col("sketch_bin") -
            floor(col("sketch_bin") / 8.0).cast("int") * lit(8)) + lit(1))
            / lit(16.0))).as("est"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Markov removal-effect attribution (r10, Anderl et al. 2016 —
    * public method) — the DATA-DRIVEN member of the attribution family:
    * last-touch and linear (attribution_last_touch / attribution_linear)
    * assign credit by position; the Markov model assigns it by
    * COUNTERFACTUAL — how much does P(conversion) drop if a channel is
    * removed from the graph? Journeys are each user's events up to and
    * including the FIRST purchase (CONV) or their whole history (NULL
    * terminal); first-order transition probabilities are count ratios;
    * absorption P(CONV | START) is approximated by 8 unrolled
    * matrix-vector steps (CONV/NULL absorbing) — the state space is the
    * 4 channels + 3 markers, so each step is a ≤49-row join. Removing
    * channel c redirects its outgoing mass to NULL (the standard
    * removal semantics); all five variants (none + 4 channels) ride ONE
    * plan via a variant column.
    *
    * Determinism: transition probabilities are single divisions of
    * exact counts; each step's products are pinned DECIMAL(16,12) and
    * summed exactly (the pagerank device); removal effects and shares
    * are mirrored double expressions over r6-rounded absorption masses.
    * Scale shape: the corpus-sized work is ONE user-keyed window pass +
    * one (src, dst) count — everything after runs on a ≤7-state table;
    * at 100 TB this is why Markov attribution is feasible at all. */
  val markovAttribution: QFn = (s, dir) => {
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val rows = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts_us"),
        col("event_id"))
      .withColumn("rn", row_number().over(wU))
      .withColumn("prn", min(when(col("event_type") === "purchase",
        col("rn"))).over(Window.partitionBy(col("user_id"))))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state", when(col("event_type") === "purchase",
        lit("CONV")).otherwise(col("event_type")))
    // ONE window pass emits both the step edges and the NULL terminal
    // (a union of two branches would run the corpus windows twice)
    val edges = rows
      .withColumn("src", coalesce(lag(col("state"), 1).over(wU),
        lit("START")))
      .withColumn("isLast", lead(col("state"), 1).over(wU).isNull)
      .select(explode(concat(
        array(struct(col("src"), col("state").as("dst"))),
        when(col("isLast") && col("prn").isNull,
          array(struct(col("state").as("src"), lit("NULL").as("dst"))))
          .otherwise(array().cast("array<struct<src:string,dst:string>>"))))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
    val counts = edges
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
    // Corpus-sized work ends HERE (user windows + transition count) —
    // checkpoint at full parallelism before the 1-partition chain block.
    val probs = counts
      .withColumn("p", dbl(col("c")) /
        sum(col("c")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("p"))
      .ckpt()
    val channels = Seq("none", "view", "click", "signup", "error")
    val variants = channels
      .map(v => probs.withColumn("variant", lit(v)))
      .reduce(_ unionByName _)
    // removal: drop the removed channel's outgoing rows, give it a
    // NULL-absorbing row instead; CONV/NULL self-loops close the chain
    val redirect = channels.filterNot(_ == "none")
      .map(v => s.range(1).select(lit(v).as("variant"),
        lit(v).as("src"), lit("NULL").as("dst"), lit(1.0).as("p")))
      .reduce(_ unionByName _)
    val loops = channels.flatMap(v => Seq("CONV", "NULL").map(a =>
      (v, a))).map { case (v, a) =>
      s.range(1).select(lit(v).as("variant"), lit(a).as("src"),
        lit(a).as("dst"), lit(1.0).as("p"))
    }.reduce(_ unionByName _)
    // 8 absorption steps by MATRIX SQUARING — M² → M⁴ → M⁸ is 3 tiny
    // joins instead of 8 vector steps (the log₂ trick), and the answer
    // needs no vector at all: M⁸'s START row IS the 8-step absorption
    // mass. The ≤250-row model chain runs under ONE shuffle partition
    // (core.withShuffleParts, restored in finally; the
    // corpus-sized transition work was checkpointed above at full
    // parallelism). Each product term is DECIMAL(16,12)-pinned before
    // the order-free sum, mirrored in the oracle's squaring CTEs.
    val v = core.withShuffleParts(s, 1) {
      var m = variants
        .filter(col("variant") === "none" || col("src") =!= col("variant"))
        .unionByName(redirect).unionByName(loops)
        .coalesce(1)
        .ckpt() // ≤ 5·(49+3) rows
      for (_ <- 1 to 3) {
        val left = m.select(col("variant"), col("src"),
          col("dst").as("mid"), col("p").as("pa"))
        val right = m.select(col("variant"), col("src").as("mid"),
          col("dst"), col("p").as("pb"))
        m = left.join(right, Seq("variant", "mid"))
          .groupBy(col("variant"), col("src"), col("dst"))
          .agg(dbl(sum(dec(col("pa") * col("pb"), 16, 12))).as("p"))
      }
      m.filter(col("src") === "START")
        .select(col("variant"), col("dst").as("st"), col("p").as("mass"))
        .ckpt()
    }
    // ≤5 rows, but FOUR downstream consumers (p_full, effects, total,
    // report) would each replay the 8-step × 5-variant join chain —
    // checkpoint once (measured 7.1 s → the chain runs once).
    val conv = v.filter(col("st") === "CONV")
      .select(col("variant"), r6(col("mass")).as("p_conv"))
      .ckpt()
    val pFull = conv.filter(col("variant") === "none")
      .select(col("p_conv").as("p_full"))
    val re = conv.filter(col("variant") =!= "none")
      .crossJoin(broadcast(pFull))
      .select(col("variant").as("channel"), col("p_full"),
        col("p_conv").as("p_removed"),
        r6(lit(1.0) - col("p_conv") / nullif(col("p_full"), lit(0.0)))
          .as("removal_effect"))
      .ckpt() // 4 rows; read by both the total and the report
    // r6-rounded effects are exact DECIMAL(16,6) values — the 4-row sum
    // is order-free on both engines
    val tot = re.agg(dbl(sum(dec(col("removal_effect"), 16, 6)))
      .as("tot_re"))
    re.crossJoin(broadcast(tot))
      .select(col("channel"), col("p_full"), col("p_removed"),
        col("removal_effect"),
        r6(col("removal_effect") / nullif(col("tot_re"), lit(0.0)))
          .as("attribution"))
      .orderBy(col("channel"))
  }

  /** t-digest quantile sketch (r10, Dunning & Ertl — public design) —
    * the MERGEABLE RANK sketch completing the tier (HLL counts distinct,
    * CMS counts frequency, HDR bins fixed ranges, t-digest adapts its
    * bins to the DISTRIBUTION): centroids sized by the k₁ scale function
    * k(q) = δ·(asin(2q−1)/π + ½), so tail clusters stay tiny and the
    * rank error is bounded by half the max cluster mass ≈ π/(2δ) of n —
    * δ=200 ⇒ ≤ 0.8%, inside the 1% rank window BY CONSTRUCTION
    * (measured 0.50% at sf0.1; OperatorSpec gates it, SKETCH_BOUNDS
    * records it).
    *
    * Build: the digest forms over the exact mergeable (type, value)
    * count aggregate (map-side combine does sketch-per-partition →
    * merge for free; the events lattice is cents-valued, so this
    * aggregate is bounded by the value range, not the corpus — for
    * unbounded-cardinality columns the HDR pre-binning tier composes in
    * front, same contract). Cluster assignment = floor(k(q_mid)) at
    * each value's mass midpoint — the batch t-digest construction;
    * centroid means are DECIMAL-exact sums (order-free, so partition
    * layout can't move a ulp); the estimate is the mean of the centroid
    * covering the integer target rank (Dunning's midpoint estimator,
    * ceil-division targets — no float rank math). Deliberately
    * oracle-free (⊘): asin is transcendental, so cross-engine floor()
    * boundaries are not bit-pinned; within Spark everything is
    * deterministic (golden + all determinism axes hold). Scale shape:
    * one (type, value) shuffle, windows on the per-value aggregate,
    * centroid table ≤ δ rows/group. */
  val tdigestQuantile: QFn = (s, dir) => {
    val delta = 200
    val g = t(s, dir, "events")
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val wO = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wA = Window.partitionBy(col("event_type"))
    val clustered = g
      .withColumn("cum", sum(col("c")).over(wO))
      .withColumn("n", sum(col("c")).over(wA))
      .withColumn("qmid",
        (dbl(col("cum")) - dbl(col("c")) / lit(2.0)) / dbl(col("n")))
      .withColumn("cl", floor(lit(delta) *
        (asin(lit(2.0) * col("qmid") - lit(1.0)) / lit(math.Pi)
          + lit(0.5))).cast("long"))
    val cent = clustered.groupBy(col("event_type"), col("cl"))
      .agg(sum(col("c")).as("mass"),
        r6(dbl(sum(dec(col("value"), 14, 2) * col("c"))) / sum(col("c")))
          .as("mean"),
        max(col("n")).as("n"))
    val wC = Window.partitionBy(col("event_type")).orderBy(col("cl"))
    val cc = cent.withColumn("cumm", sum(col("mass")).over(wC))
    cc.select(col("event_type"), col("cl"), col("mass"), col("mean"),
        col("n"), col("cumm"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
      .withColumn("t",
        when(col("q") === 0.5, expr("(n + 1) div 2"))
          .when(col("q") === 0.9, expr("(9 * n + 9) div 10"))
          .otherwise(expr("(99 * n + 99) div 100")))
      .filter(col("cumm") >= col("t"))
      .groupBy(col("event_type"), col("q"))
      .agg(min(struct(col("cl"), col("mean"), col("mass"), col("n")))
        .as("m"))
      .select(col("event_type"), col("q"), col("m.mean").as("est"),
        col("m.cl").as("centroid"), col("m.mass").as("mass"),
        col("m.n").as("n"))
      .orderBy(col("event_type"), col("q"))
  }

  /** Native session_window() operator (the Structured-Streaming session
    * primitive, run in batch): per-user sessions with a 30-minute gap.
    * Oracle = the lag/cumsum formulation with a `>=` new-session gap test,
    * matching Spark's boundary semantics unconditionally: windows are
    * [start, start+gap) and touching windows do NOT merge, so an event
    * arriving exactly at start+gap opens a new session. (qsession_gap30m
    * is a different, lag-defined operator: both its engines use `>`.) */
  val sessionWindowNative: QFn = (s, dir) =>
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** Ordered funnel: first view → first click after it → first purchase
    * after that, per user. Stepwise min-aggregations + joins — each stage
    * shuffles on user_id only (no inequality self-join blowup). */
  val eventFunnel: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    val tv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("tv"))
    val tc = e.filter(col("event_type") === "click")
      .join(tv, "user_id").filter(col("ts_us") > col("tv"))
      .groupBy(col("user_id"), col("tv")).agg(min(col("ts_us")).as("tc"))
    val tp = e.filter(col("event_type") === "purchase")
      .join(tc, "user_id").filter(col("ts_us") > col("tc"))
      .groupBy(col("user_id"), col("tv"), col("tc"))
      .agg(min(col("ts_us")).as("tp"))
    tp.select(col("user_id"), col("tv"), col("tc"), col("tp"))
      .orderBy(col("user_id"))
  }

  /** Funnel latency (r9) — time-to-convert, the metric event_funnel's
    * COUNTS can't answer: of the users who saw a view, how many ever
    * purchased after it, and how long did conversion take (the p50/p90
    * a growth team actually alerts on). First view per user → earliest
    * strictly-later purchase (event_funnel's `>` convention) → exact
    * integer µs delays → whole-minute percentiles by EXACT-RANK
    * selection (value at rank ceil(q·n), computed as integer (q·n)
    * ceil-division — the winsorize estimator: no interpolation,
    * engine-identical by construction). conv_rate is one double
    * division of exact counts.
    *
    * Scale shape (r12): both funnel stages are user-keyed shuffles that
    * co-partition with each other. The rank selection does NOT
    * row_number the per-user conversion table (a corpus-growing
    * single-partition sort, the r11 weak flag): because integer `div`
    * is monotone, order statistics commute with the µs→minute map, so
    * the percentile runs on the MINUTE histogram — delay minutes are
    * bounded by the log's time span, not the user count. One groupBy on
    * minute, one prefix-sum window over that bounded domain, and the
    * rank-in-(cb, ce] membership test selects the exact same value the
    * per-row rank did. The 1-row totals ride allowlisted broadcasts. */
  val funnelTimeConv: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    val fv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("fv"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(fv, "user_id").filter(col("ts_us") > col("fv"))
      .groupBy(col("user_id"), col("fv")).agg(min(col("ts_us")).as("fp"))
      .select(col("user_id"), (col("fp") - col("fv")).as("d_us"))
    val hist = conv.groupBy(expr("d_us div 60000000").as("m"))
      .agg(count(lit(1)).as("c"))
    val wM = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cb", coalesce(sum(col("c")).over(wM), lit(0L)))
      .withColumn("ce", col("cb") + col("c"))
    val tot = conv.agg(count(lit(1)).as("tot"))
    val pcts = cum.crossJoin(broadcast(tot)).agg(
      max(when(col("cb") < expr("(tot + 1) div 2") &&
        expr("(tot + 1) div 2") <= col("ce"), col("m"))).as("p50_minutes"),
      max(when(col("cb") < expr("(9 * tot + 9) div 10") &&
        expr("(9 * tot + 9) div 10") <= col("ce"), col("m")))
        .as("p90_minutes"))
    tot.crossJoin(broadcast(pcts))
      .crossJoin(broadcast(fv.agg(count(lit(1)).as("n_viewers"))))
      .select(col("n_viewers"), col("tot").as("n_converted"),
        // nullif: a corpus slice with zero viewers must report a null
        // rate, not abort under ANSI (the EdgeCorpusSpec finding class)
        r6(dbl(col("tot")) / nullif(dbl(col("n_viewers")), lit(0.0)))
          .as("conv_rate"),
        col("p50_minutes"), col("p90_minutes"))
  }

  /** Retention cohorts: users grouped by first-seen day, distinct actives
    * per (cohort_day, day_offset ≤ 7). */
  val retentionCohort: QFn = (s, dir) => {
    val e = t(s, dir, "events")
      .withColumn("day", expr("ts_us div 86400000000"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, "user_id")
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Forward-fill gap fill: (event_type × day) spine, missing days carry
    * the last observed daily sum via last(_, ignoreNulls) — the classic
    * time-series densify+ffill. Spine is types × bounded day range (tiny,
    * from 1-row aggregates); the fill window is per-type, O(frame) state. */
  val gapFillFfill: QFn = (s, dir) => {
    val e = t(s, dir, "events").withColumn("day", expr("ts_us div 86400000000"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(dbl(round(sum(dec(col("value"), 14, 4)), 2)).as("v"))
    val days = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val types = e.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("v_ff", last(col("v"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("day"), col("v"), col("v_ff"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Linear-interpolation gap fill — gap_fill_ffill's spine, but missing
    * days are interpolated between the surrounding observations:
    * v = pv + (nv − pv)·(day − pd)/(nd − pd), with edge policy backfill
    * before the first observation and forward-fill after the last. The
    * prev/next lookups are the two canonical one-pass window frames
    * (unbounded-preceding last IGNORE NULLS / unbounded-following first
    * IGNORE NULLS) over the same event_type partition — still exactly
    * one shuffle on the series key. Daily values are exact 2-dp
    * decimals-as-doubles and day ids are integers, so the interpolation
    * arithmetic is structurally identical double math on both engines. */
  val gapFillInterp: QFn = (s, dir) => {
    val e = t(s, dir, "events").withColumn("day", expr("ts_us div 86400000000"))
    // The fixture's daily series is dense at every sf, so gaps are
    // INJECTED deterministically (every day ≡ 3 mod 7 is dropped before
    // filling) — otherwise the interpolation branch would be dead code
    // the oracle never actually checks.
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(dbl(round(sum(dec(col("value"), 14, 4)), 2)).as("v"))
      .filter(col("day") % 7 =!= 3)
    val days = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val types = e.select(col("event_type")).distinct()
    val wp = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v").isNotNull, col("day"))
    types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wp))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wf))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("v_li",
        when(col("v").isNotNull, col("v"))
          .when(col("pd").isNull, col("nv"))
          .when(col("nd").isNull, col("pv"))
          .otherwise(r6(col("pv") + (col("nv") - col("pv")) *
            dbl(col("day") - col("pd")) / dbl(col("nd") - col("pd")))))
      .select(col("event_type"), col("day"), col("v"), col("v_li"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Time-bounded interval join — the batch expression of a
    * stream-stream join with a relative time bound: for every click,
    * count the same user's views in the preceding 10 minutes. Planned
    * as ONE user_id shuffle (sort-merge equi-join) with the time window
    * as residual — the same shape Structured Streaming gives the
    * equivalent watermarked stream-stream join, and per-user fan-out is
    * bounded by that user's own event density, never the corpus. */
  val intervalJoin10m: QFn = (s, dir) => {
    val e = t(s, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("vuid"), col("ts_us").as("vts"))
    clicks
      .join(views, col("user_id") === col("vuid") &&
        col("vts") >= col("ts_us") - 600000000L &&
        col("vts") < col("ts_us"), "left")
      .groupBy(col("event_id"), col("user_id"), col("ts_us"))
      .agg(count(col("vts")).as("n_prior_views"))
      .orderBy(col("event_id"))
  }

  /** MATCH_RECOGNIZE-lite event-sequence pattern matching (r5) — the CEP
    * surface: each user's event history collapses to an ordered
    * type-initial signature string (c/e/p/s/v), and patterns run as
    * regexes over it: non-overlapping view→…→click→…→purchase funnels
    * (`v[^p]*c[^p]*p` — greedy, identical non-overlapping left-to-right
    * scan semantics in Java regex and RE2) and the longest consecutive
    * view run. This expresses ORDERED multi-event patterns that
    * per-event aggregation (event_funnel's stage counts) cannot.
    *
    * Scale shape: ONE user_id shuffle; the signature is per-user
    * bounded (a user's event count, not the corpus), and the regex work
    * is per-group post-aggregation. The sort_array(struct) +
    * transform run on aggregated per-user arrays — no explode follows,
    * so the §7.3 generator-inlining trap does not apply. At 100 TB the
    * same shape holds with a time-bucketed session key bounding the
    * signature length. */
  val eventPatternMatch: QFn = (s, dir) => {
    t(s, dir, "events")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("ts_us"), col("event_id"), col("ini")))),
          x => x.getField("ini")), "").as("sig"))
      .select(col("user_id"), col("n_events"),
        substring(col("sig"), 1, 20).as("sig20"),
        size(regexp_extract_all(col("sig"), lit("v[^p]*c[^p]*p"), lit(0)))
          .cast("long").as("n_funnels"),
        coalesce(array_max(transform(
          regexp_extract_all(col("sig"), lit("v+"), lit(0)),
          x => length(x).cast("long"))), lit(0L)).as("max_view_run"))
      .orderBy(col("user_id"))
  }

  /** Nearest-in-time as-of join (r5) — the bidirectional variant: each
    * purchase pairs with its temporally CLOSEST view (either direction),
    * ties preferring the earlier (backward) candidate. Completes the
    * as-of family: backward (join_asof_event), forward
    * (join_asof_forward), nearest (here). Same single-pass shape — both
    * directions ride ONE (user_id)-partitioned window sort, no
    * event×event join; the pick is a per-row conditional. */
  val asofNearest: QFn = (s, dir) => {
    val isCand = col("event_type") === "view"
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("cand_event", when(isCand, col("event_id")))
      .withColumn("cand_ts", when(isCand, col("ts_us")))
      .withColumn("b_event", last(col("cand_event"), ignoreNulls = true).over(wB))
      .withColumn("b_ts", last(col("cand_ts"), ignoreNulls = true).over(wB))
      .withColumn("f_event", first(col("cand_event"), ignoreNulls = true).over(wF))
      .withColumn("f_ts", first(col("cand_ts"), ignoreNulls = true).over(wF))
      .filter(col("event_type") === "purchase")
      .withColumn("pick_b",
        col("f_ts").isNull ||
          (col("b_ts").isNotNull &&
            (col("ts_us") - col("b_ts")) <= (col("f_ts") - col("ts_us"))))
      .select(col("user_id"), col("event_id").as("p_event"),
        col("ts_us").as("p_ts"),
        when(col("pick_b"), col("b_event")).otherwise(col("f_event"))
          .as("n_event"),
        (when(col("pick_b"), col("b_ts")).otherwise(col("f_ts")) -
          col("ts_us")).as("delta_us"))
      .orderBy(col("p_event"))
  }

  /** Rolling active users (r5) — the DAU/WAU engagement report: per day,
    * distinct actives that day and over the trailing 7 days, plus the
    * stickiness ratio. The sliding DISTINCT cannot ride a window frame;
    * the relational form is dedup-then-expand: activity collapses to
    * distinct (user, day) FIRST (the big shuffle, map-side-combinable),
    * then fans out at most 7× onto the day spine via a range join, and
    * the per-day distinct count dedups users active several times in a
    * window. Fan-out is bounded by the window length, never by event
    * volume — and the expansion is an EXPLODE of each activity day onto
    * the ≤7 spine days it serves (all-equi plan; a spine×activity range
    * join would plan a nested loop). Days past the corpus edge drop out
    * in the equi-join with the observed spine. At 100 TB the expand
    * swaps for per-day HLL sketches merged over the trailing window —
    * same spine, sketch-sized state. */
  val rollingActiveUsers: QFn = (s, dir) => {
    val act = t(s, dir, "events")
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        r6(dbl(col("dau")) / col("wau")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Exponentially time-decayed counts (r5) — the freshness-weighted
    * popularity score (half-life = 1 day): score = Σ 0.5^age_days per
    * event type, anchored at the corpus max day. The decay terms are
    * EXACT doubles (0.5^k is a power of two; every partial sum is a
    * multiple of 2⁻³⁰ bounded far below 2⁵³⁻³⁰), so the double sum is
    * order-independent WITHOUT a decimal pin — the one aggregation
    * whose float exactness comes from the mantissa argument rather
    * than decimal arithmetic, asserted under partition perturbation by
    * DeterminismSpec like every key. One groupBy shuffle; the 1-row
    * anchor aggregate rides an allowlisted broadcast. */
  val decayedCounts: QFn = (s, dir) => {
    val days = t(s, dir, "events")
      .select(expr("ts_us div 86400000000").as("day"), col("event_type"))
    val ref = days.agg(max(col("day")).as("ref_day"))
    days.crossJoin(broadcast(ref))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(pow(lit(0.5), dbl(col("ref_day") - col("day"))))
          .as("decayed"))
      .orderBy(col("event_type"))
  }

  /** Last-touch conversion attribution (r8) — the marketing-analytics
    * staple: each `purchase` is credited to the user's most recent PRIOR
    * non-purchase event type (`(direct)` when the purchase is the user's
    * first event). One window over the per-user event timeline — `last(…,
    * ignoreNulls)` over ROWS UNBOUNDED PRECEDING..1 PRECEDING, running
    * per user partition so it scales with the busiest user, not the
    * corpus — then a tiny per-channel rollup with the exact DECIMAL
    * revenue convention. Ordering carries the (ts_us, event_id)
    * tiebreaker so simultaneous events attribute identically on both
    * engines. */
  val attributionLastTouch: QFn = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(direct)")).as("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        moneySum(dec(col("value"), 14, 4)).as("attributed_revenue"))
      .orderBy(col("touch_type"))
  }

  /** Linear multi-touch attribution (r9) — last-touch's fairer sibling
    * and the other half of the attribution family every marketing
    * warehouse ships: each conversion's credit splits EQUALLY across
    * all touchpoints in its 7-day lookback, so assist channels stop
    * reading as zero. Per-touch credit 1/n (and revenue/n) is one IEEE
    * division of exact inputs, pinned DECIMAL (the pagerank device) so
    * the per-channel sums are order-free — fractional conversions add
    * back to the attributed conversion total exactly. Scale shape: the
    * touch↔conversion match is a USER-KEYED equi-join with the lookback
    * as a residual range predicate (never an unkeyed range join);
    * fan-out is touches × conversions within one user's window —
    * bounded per user; the per-conversion n rides a pid window on the
    * join output. */
  val attributionLinear: QFn = (s, dir) => {
    val week = 604800000000L
    val p = t(s, dir, "events").filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts_us").as("pts"), dec(col("value"), 14, 4).as("rev"))
    val tch = t(s, dir, "events").filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts_us").as("tts"))
    val wP = Window.partitionBy(col("pid"))
    p.join(tch, Seq("user_id"))
      .filter(col("tts") < col("pts") && col("tts") >= col("pts") - week)
      .withColumn("n_t", count(lit(1)).over(wP))
      .withColumn("conv_credit",
        dec(lit(1.0) / dbl(col("n_t")), 14, 10))
      .withColumn("rev_credit",
        dec(dbl(col("rev")) / dbl(col("n_t")), 18, 8))
      .groupBy(col("touch_type"))
      .agg(r6(dbl(sum(col("conv_credit")))).as("conversions"),
        r6(dbl(sum(col("rev_credit")))).as("attributed_revenue"))
      .orderBy(col("touch_type"))
  }

  /** Time-weighted average (r8) — the IoT/finance aggregation a plain
    * mean gets wrong on irregular samples: per event type, TWA(value) =
    * Σ vᵢ·Δtᵢ / ΣΔtᵢ with Δtᵢ the microseconds until the next event of
    * that type (last event carries no duration). Every product is exact
    * (DECIMAL(14,4) value × integer-µs duration), the sums are exact
    * decimals, and the single float op is the final division — the
    * step-function integral, computed relationally.
    * Scale shape (r13): the lead rides DAY-bucketed windows (the
    * calendar bucket is order-preserving on ts_us and bounded by the
    * observation span — the per-day-aggregate convention): within each
    * (type, day) the in-bucket lead; across buckets the boundary stitch
    * joins each bucket's LAST row to the next non-empty bucket's FIRST
    * timestamp via a lead over the bounded (type, day) first-row
    * aggregate. dt values are identical to the r12 single-window-per-
    * type plan (equal timestamps never straddle a day), which sorted
    * every event of a type in one task — the bounded-key weak class. */
  val timeWeightedAvg: QFn = (s, dir) => {
    val base = t(s, dir, "events")
      .select(col("event_type"), col("ts_us"), col("event_id"),
        dec(col("value"), 14, 4).as("v"),
        expr("ts_us div 86400000000").as("bkt"))
    val wIn = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts_us"), col("event_id"))
    val wB = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
    val nxt = base.groupBy(col("event_type"), col("bkt"))
      .agg(min(col("ts_us")).as("first_ts"))
      .withColumn("nxt_ts", lead(col("first_ts"), 1).over(wB))
      .select(col("event_type"), col("bkt"), col("nxt_ts"))
    base
      .withColumn("lead_in", lead(col("ts_us"), 1).over(wIn))
      .join(broadcast(nxt), Seq("event_type", "bkt"))
      .withColumn("dt",
        coalesce(col("lead_in"), col("nxt_ts")) - col("ts_us"))
      .filter(col("dt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("v") * dec(col("dt"), 20, 0)).as("swv"),
        sum(col("dt")).as("sdt"))
      .select(col("event_type"), col("n_intervals"),
        // nullif: a type whose events all share one timestamp has zero
        // elapsed time — null TWA, not an ANSI abort
        r6(dbl(col("swv")) / nullif(dbl(col("sdt")), lit(0.0))).as("twa"))
      .orderBy(col("event_type"))
  }

  /** Interval union length (r9) — the GAPS-AND-ISLANDS operator, the
    * classic hard-SQL shape (merge overlapping intervals, measure
    * coverage) behind "total active time", SLA uptime, and ad-exposure
    * dedup: each event opens a 30-minute activity interval; overlapping
    * intervals per user must count once. Island detection is the
    * textbook device — a new island starts exactly where an interval's
    * start exceeds the running max of all previous ends — and because
    * islands are by construction gap-free, each island's coverage is
    * max(end) − min(start). Everything is exact integer µs arithmetic
    * over one user-keyed window partitioning, reused by the island
    * groupBy: one shuffle at any corpus size. Emitted per user:
    * interval count, island count, total covered time. */
  val intervalUnionLen: QFn = (s, dir) => {
    val span = 1800000000L // 30 min in µs
    val wO = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("e"), col("event_id"))
    val wPrev = wO.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wO.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts_us").as("s"),
        (col("ts_us") + lit(span)).as("e"))
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("fresh",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("fresh")).over(wCum))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_iv"), min(col("s")).as("is"),
        max(col("e")).as("ie"))
      .groupBy(col("user_id"))
      .agg(sum(col("n_iv")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("ie") - col("is")).as("active_us"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, QFn] = Map(
    "attribution_linear"    -> attributionLinear,
    "interval_union_len"    -> intervalUnionLen,
    "funnel_time_conv"      -> funnelTimeConv,
    "time_weighted_avg"     -> timeWeightedAvg,
    "attribution_last_touch" -> attributionLastTouch,
    "decayed_counts"        -> decayedCounts,
    "join_asof_nearest"     -> asofNearest,
    "rolling_active_users"  -> rollingActiveUsers,
    "event_pattern_match"   -> eventPatternMatch,
    "interval_join_10m"     -> intervalJoin10m,
    "gap_fill_interp"       -> gapFillInterp,
    "gap_fill_ffill"        -> gapFillFfill,
    "session_window_native" -> sessionWindowNative,
    "event_funnel"          -> eventFunnel,
    "retention_cohort"      -> retentionCohort,
    "scan_events_ts"       -> scanEvents,
    "qdist_count_distinct" -> distinctUsers,
    "qtumble_hourly"       -> tumbleHourly,
    "qsession_gap30m"      -> sessionGap30m,
    "qjson_props"          -> jsonProps,
    "join_asof_event"      -> asofEvent,
    "join_asof_forward"    -> asofForward,
    "set_union_dedup"      -> setUnion,
    "set_intersect"        -> setIntersect,
    "set_except"           -> setExcept,
    "set_intersect_all"    -> setIntersectAll,
    "set_except_all"       -> setExceptAll,
    "stream_dedup"         -> streamDedup,
    "win_sliding"          -> slidingWindows,
    "approx_distinct"      -> approxDistinct,
    "approx_percentile"    -> approxPercentile,
    "hdr_quantile_sketch"  -> hdrQuantileSketch,
    "tdigest_quantile"     -> tdigestQuantile,
    "markov_attribution"   -> markovAttribution)

  /** The identical fixed binning + rank walk in DuckDB — every boundary
    * an exact power-of-2 literal, every step exact double arithmetic. */
  /** Markov attribution oracle: journeys → transition ratios → 8
    * absorption steps by matrix SQUARING (M² → M⁴ → M⁸, mirroring the
    * Spark association order exactly) per removal variant → removal
    * effects; DECIMAL(16,12) product pinning and DECIMAL(16,6) effect
    * summation mirror the Spark side. */
  private def markovSql: String = {
    def square(k: Int, prev: String): String =
      s"""mm$k AS MATERIALIZED (
         |  SELECT variant, src, dst,
         |    CAST(sum(CAST(pa * pb AS DECIMAL(16,12))) AS DOUBLE) AS p
         |  FROM (SELECT a.variant, a.src, b.dst, a.p AS pa, b.p AS pb
         |        FROM $prev a JOIN $prev b
         |          ON a.variant = b.variant AND a.dst = b.src)
         |  GROUP BY 1, 2, 3)""".stripMargin
    val stepCtes = (1 to 3)
      .map(k => square(k, if (k == 1) "vt" else s"mm${k - 1}"))
      .mkString(",\n")
    s"""WITH rows0 AS (
       |  SELECT user_id, event_type, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |prr AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'purchase' THEN rn END) AS prn,
       |    max(rn) AS mx
       |  FROM rows0 GROUP BY user_id),
       |j AS (
       |  SELECT r.user_id, r.rn,
       |    CASE WHEN r.event_type = 'purchase' THEN 'CONV'
       |         ELSE r.event_type END AS state,
       |    p.prn, p.mx
       |  FROM rows0 r JOIN prr p USING (user_id)
       |  WHERE p.prn IS NULL OR r.rn <= p.prn),
       |st AS (
       |  SELECT user_id, rn, state, prn, mx,
       |    coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY rn),
       |      'START') AS src
       |  FROM j),
       |trans AS (
       |  SELECT src, state AS dst FROM st
       |  UNION ALL
       |  SELECT state, 'NULL' FROM st WHERE rn = mx AND prn IS NULL),
       |cnt AS (SELECT src, dst, count(*) AS c FROM trans GROUP BY 1, 2),
       |probs AS (
       |  SELECT src, dst,
       |    CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY src) AS p
       |  FROM cnt),
       |ch AS (SELECT unnest(['none','view','click','signup','error'])
       |         AS variant),
       |vt AS (
       |  SELECT variant, src, dst, p FROM ch CROSS JOIN probs
       |  WHERE variant = 'none' OR src <> variant
       |  UNION ALL
       |  SELECT variant, variant, 'NULL', 1.0 FROM ch
       |  WHERE variant <> 'none'
       |  UNION ALL
       |  SELECT variant, a, a, 1.0 FROM ch
       |    CROSS JOIN (SELECT unnest(['CONV','NULL']) AS a)),
       |$stepCtes,
       |conv AS (
       |  SELECT variant, ${r6Sql("p")} AS p_conv
       |  FROM mm3 WHERE src = 'START' AND dst = 'CONV'),
       |pf AS (SELECT p_conv AS p_full FROM conv WHERE variant = 'none'),
       |re AS (
       |  SELECT variant AS channel, (SELECT p_full FROM pf) AS p_full,
       |    p_conv AS p_removed,
       |    ${r6Sql("1.0 - p_conv / nullif((SELECT p_full FROM pf), 0)")}
       |      AS removal_effect
       |  FROM conv WHERE variant <> 'none'),
       |tot AS (
       |  SELECT CAST(sum(CAST(removal_effect AS DECIMAL(16,6)))
       |    AS DOUBLE) AS t FROM re)
       |SELECT channel, p_full, p_removed, removal_effect,
       |  ${r6Sql("removal_effect / nullif((SELECT t FROM tot), 0)")}
       |    AS attribution
       |FROM re ORDER BY channel""".stripMargin
  }

  private def hdrSql: String = {
    val ks = 9 to -10 by -1
    def lits(k: Int): String =
      new java.math.BigDecimal(math.pow(2, k)).toPlainString
    val eCase = ks.map(k => s"WHEN value >= ${lits(k)} THEN $k")
      .mkString("CASE ", " ", " ELSE -10 END")
    val pCase = ks.map(k => s"WHEN value >= ${lits(k)} THEN ${lits(k)}")
      .mkString("CASE ", " ", s" ELSE ${lits(-10)} END")
    s"""WITH base AS (
       |  SELECT event_type, value,
       |    $eCase AS e,
       |    $pCase AS p2
       |  FROM events WHERE value > 0),
       |b2 AS (
       |  SELECT event_type, e * 8 + least(7, greatest(0,
       |    CAST(floor((value / p2 - 1) * 8) AS INTEGER))) AS bin
       |  FROM base),
       |c AS (SELECT event_type, bin, count(*) AS c FROM b2
       |  GROUP BY event_type, bin),
       |cum AS (
       |  SELECT event_type, bin, c,
       |    sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |    sum(c) OVER (PARTITION BY event_type) AS n
       |  FROM c),
       |qs AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q),
       |sel AS (
       |  SELECT event_type, q,
       |    CAST(ceil(CAST(n AS DOUBLE) * q) AS BIGINT) AS target_rank,
       |    min(bin) AS sketch_bin
       |  FROM cum, qs
       |  WHERE CAST(cum AS DOUBLE) >= ceil(CAST(n AS DOUBLE) * q)
       |  GROUP BY event_type, q, target_rank)
       |SELECT event_type, q, target_rank, CAST(sketch_bin AS BIGINT)
       |    AS sketch_bin,
       |  power(2, floor(sketch_bin / 8.0)) *
       |    (1 + (2 * (sketch_bin
       |      - CAST(floor(sketch_bin / 8.0) AS INTEGER) * 8) + 1) / 16.0)
       |    AS est
       |FROM sel ORDER BY event_type, q""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "attribution_linear" ->
      s"""WITH p AS (
         |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pts,
         |    CAST(value AS DECIMAL(14,4)) AS rev
         |  FROM events WHERE event_type = 'purchase'),
         |t AS (
         |  SELECT user_id, event_type AS touch_type, epoch_us(ts) AS tts
         |  FROM events WHERE event_type <> 'purchase'),
         |j AS (
         |  SELECT pid, rev, touch_type
         |  FROM p JOIN t ON p.user_id = t.user_id
         |    AND t.tts < p.pts AND t.tts >= p.pts - 604800000000),
         |n AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_t
         |      FROM j GROUP BY pid),
         |c AS (
         |  SELECT j.touch_type,
         |    CAST(1.0 / CAST(n_t AS DOUBLE) AS DECIMAL(14,10))
         |      AS conv_credit,
         |    CAST(CAST(rev AS DOUBLE) / CAST(n_t AS DOUBLE)
         |      AS DECIMAL(18,8)) AS rev_credit
         |  FROM j JOIN n USING (pid))
         |SELECT touch_type,
         |  ${r6Sql("CAST(sum(conv_credit) AS DOUBLE)")} AS conversions,
         |  ${r6Sql("CAST(sum(rev_credit) AS DOUBLE)")}
         |    AS attributed_revenue
         |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    "interval_union_len" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e
        |  FROM events),
        |marked AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY user_id
        |        ORDER BY s, e, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS fresh,
        |    event_id
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, s, e,
        |    CAST(sum(fresh) OVER (PARTITION BY user_id
        |      ORDER BY s, e, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM marked),
        |per AS (
        |  SELECT user_id, island, count(*) AS n_iv,
        |    min(s) AS i_s, max(e) AS i_e
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(i_e - i_s) AS BIGINT) AS active_us
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "funnel_time_conv" ->
      s"""WITH fv AS (
         |  SELECT user_id, min(epoch_us(ts)) AS fv FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |conv AS (
         |  SELECT e.user_id, min(epoch_us(e.ts)) - fv.fv AS d_us
         |  FROM events e JOIN fv ON e.user_id = fv.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.fv
         |  GROUP BY e.user_id, fv.fv),
         |ranked AS (
         |  SELECT d_us,
         |    row_number() OVER (ORDER BY d_us, user_id) AS rn,
         |    count(*) OVER () AS tot
         |  FROM conv),
         |summary AS (
         |  SELECT count(*) AS n_converted,
         |    max(CASE WHEN rn = (tot + 1) // 2
         |      THEN d_us // 60000000 END) AS p50_minutes,
         |    max(CASE WHEN rn = (9 * tot + 9) // 10
         |      THEN d_us // 60000000 END) AS p90_minutes
         |  FROM ranked)
         |SELECT (SELECT count(*) FROM fv) AS n_viewers, n_converted,
         |  ${r6Sql("CAST(n_converted AS DOUBLE) / " +
             "nullif(CAST((SELECT count(*) FROM fv) AS DOUBLE), 0.0)")}
         |    AS conv_rate,
         |  p50_minutes, p90_minutes
         |FROM summary""".stripMargin,
    "hdr_quantile_sketch" -> hdrSql,
    "markov_attribution" -> markovSql,
    "time_weighted_avg" ->
      s"""WITH seq AS (
         |  SELECT event_type, CAST(value AS DECIMAL(14,4)) AS v,
         |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt
         |  FROM events),
         |g AS (
         |  SELECT event_type, count(*) AS n_intervals,
         |    sum(v * CAST(dt AS DECIMAL(20,0))) AS swv,
         |    CAST(sum(dt) AS BIGINT) AS sdt
         |  FROM seq WHERE dt IS NOT NULL GROUP BY event_type)
         |SELECT event_type, n_intervals,
         |  ${r6Sql("CAST(swv AS DOUBLE) / " +
             "nullif(CAST(sdt AS DOUBLE), 0.0)")} AS twa
         |FROM g ORDER BY event_type""".stripMargin,
    "attribution_last_touch" ->
      """WITH tagged AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM events)
        |SELECT coalesce(touch, '(direct)') AS touch_type,
        |  count(*) AS n_conversions,
        |  CAST(round(sum(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE)
        |    AS attributed_revenue
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY touch ORDER BY touch_type""".stripMargin,
    "decayed_counts" ->
      """WITH days AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, event_type
        |  FROM events),
        |ref AS (SELECT max(day) AS ref_day FROM days)
        |SELECT event_type, count(*) AS n_events,
        |  sum(power(0.5, CAST(ref_day - day AS DOUBLE))) AS decayed
        |FROM days, ref GROUP BY event_type ORDER BY event_type""".stripMargin,
    "join_asof_nearest" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'view' THEN event_id END AS cand_event,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS cand_ts
        |  FROM events),
        |filled AS (
        |  SELECT *,
        |    last_value(cand_event IGNORE NULLS) OVER wb AS b_event,
        |    last_value(cand_ts IGNORE NULLS) OVER wb AS b_ts,
        |    first_value(cand_event IGNORE NULLS) OVER wf AS f_event,
        |    first_value(cand_ts IGNORE NULLS) OVER wf AS f_ts
        |  FROM tagged
        |  WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |picked AS (
        |  SELECT *,
        |    (f_ts IS NULL OR (b_ts IS NOT NULL
        |      AND (ts_us - b_ts) <= (f_ts - ts_us))) AS pick_b
        |  FROM filled WHERE event_type = 'purchase')
        |SELECT user_id, event_id AS p_event, ts_us AS p_ts,
        |  CASE WHEN pick_b THEN b_event ELSE f_event END AS n_event,
        |  (CASE WHEN pick_b THEN b_ts ELSE f_ts END) - ts_us AS delta_us
        |FROM picked ORDER BY p_event""".stripMargin,
    "rolling_active_users" ->
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
         |  FROM events),
         |dau AS (SELECT day, count(*) AS dau FROM act GROUP BY day),
         |ex AS (
         |  SELECT user_id, unnest(range(day, day + 7)) AS d FROM act),
         |wau AS (SELECT d, count(DISTINCT user_id) AS wau FROM ex GROUP BY d)
         |SELECT day, dau, wau,
         |  ${r6Sql("CAST(dau AS DOUBLE) / wau")} AS stickiness
         |FROM dau JOIN wau ON day = d
         |ORDER BY day""".stripMargin,
    "event_pattern_match" ->
      """WITH sig AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(substring(event_type, 1, 1), ''
        |      ORDER BY epoch_us(ts), event_id) AS sig
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, substring(sig, 1, 20) AS sig20,
        |  len(regexp_extract_all(sig, 'v[^p]*c[^p]*p')) AS n_funnels,
        |  coalesce(list_max(list_transform(
        |    regexp_extract_all(sig, 'v+'), x -> len(x))), 0) AS max_view_run
        |FROM sig ORDER BY user_id""".stripMargin,
    "interval_join_10m" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id AS vuid, epoch_us(ts) AS vts FROM events
        |  WHERE event_type = 'view')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |  count(v.vts) AS n_prior_views
        |FROM c LEFT JOIN v ON c.user_id = v.vuid
        |  AND v.vts >= c.ts_us - 600000000 AND v.vts < c.ts_us
        |GROUP BY c.event_id, c.user_id, c.ts_us
        |ORDER BY c.event_id""".stripMargin,
    "gap_fill_interp" ->
      s"""WITH e AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(value AS DECIMAL(14,4)) AS v FROM events),
         |daily AS (
         |  SELECT event_type, day,
         |    CAST(round(sum(v), 2) AS DOUBLE) AS v
         |  FROM e GROUP BY event_type, day
         |  HAVING day % 7 <> 3),
         |days AS (
         |  SELECT unnest(range((SELECT min(day) FROM e),
         |    (SELECT max(day) FROM e) + 1)) AS day),
         |types AS (SELECT DISTINCT event_type FROM e),
         |spine AS (SELECT event_type, day FROM types, days),
         |fr AS (
         |  SELECT s.event_type, s.day, d.v,
         |    last_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
         |      OVER wp AS pd,
         |    last_value(d.v IGNORE NULLS) OVER wp AS pv,
         |    first_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
         |      OVER wf AS nd,
         |    first_value(d.v IGNORE NULLS) OVER wf AS nv
         |  FROM spine s LEFT JOIN daily d
         |    ON s.event_type = d.event_type AND s.day = d.day
         |  WINDOW
         |    wp AS (PARTITION BY s.event_type ORDER BY s.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY s.event_type ORDER BY s.day
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, day, v,
         |  CASE WHEN v IS NOT NULL THEN v
         |       WHEN pd IS NULL THEN nv
         |       WHEN nd IS NULL THEN pv
         |       ELSE ${r6Sql("pv + (nv - pv) * CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)")}
         |  END AS v_li
         |FROM fr ORDER BY event_type, day""".stripMargin,
    "gap_fill_ffill" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(value AS DECIMAL(14,4)) AS v FROM events),
        |daily AS (
        |  SELECT event_type, day,
        |    CAST(round(sum(v), 2) AS DOUBLE) AS v
        |  FROM e GROUP BY event_type, day),
        |days AS (
        |  SELECT unnest(range((SELECT min(day) FROM e),
        |    (SELECT max(day) FROM e) + 1)) AS day),
        |types AS (SELECT DISTINCT event_type FROM e),
        |spine AS (SELECT event_type, day FROM types, days)
        |SELECT s.event_type, s.day, d.v,
        |  last_value(d.v IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ff
        |FROM spine s LEFT JOIN daily d
        |  ON s.event_type = d.event_type AND s.day = d.day
        |ORDER BY s.event_type, s.day""".stripMargin,
    "session_window_native" ->
      """WITH m AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, min(ts_us) AS start_us,
        |  max(ts_us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin,
    "event_funnel" ->
      """WITH tv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS tv FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |tc AS (
        |  SELECT e.user_id, tv.tv, min(epoch_us(e.ts)) AS tc
        |  FROM events e JOIN tv ON e.user_id = tv.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > tv.tv
        |  GROUP BY e.user_id, tv.tv),
        |tp AS (
        |  SELECT e.user_id, tc.tv, tc.tc, min(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN tc ON e.user_id = tc.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > tc.tc
        |  GROUP BY e.user_id, tc.tv, tc.tc)
        |SELECT user_id, tv, tc, tp FROM tp ORDER BY user_id""".stripMargin,
    "retention_cohort" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN c ON e.user_id = c.user_id
        |WHERE day - cohort_day <= 7
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "scan_events_ts" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "qdist_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qtumble_hourly" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin,
    "qsession_gap30m" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), s AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM m
        |)
        |SELECT user_id, session_id, min(ts_us) AS session_start_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "qjson_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "join_asof_event" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type IN ('view','signup') THEN event_id END
        |      AS cand_event,
        |    CASE WHEN event_type IN ('view','signup') THEN epoch_us(ts) END
        |      AS cand_ts
        |  FROM events),
        |filled AS (
        |  SELECT *,
        |    last_value(cand_event IGNORE NULLS) OVER w AS c_event,
        |    last_value(cand_ts IGNORE NULLS) OVER w AS c_ts
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, event_id AS p_event, ts_us AS p_ts, c_event, c_ts
        |FROM filled WHERE event_type = 'purchase'
        |ORDER BY p_event""".stripMargin,
    "join_asof_forward" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type IN ('click','error') THEN event_id END
        |      AS cand_event,
        |    CASE WHEN event_type IN ('click','error') THEN epoch_us(ts) END
        |      AS cand_ts
        |  FROM events),
        |filled AS (
        |  SELECT *,
        |    first_value(cand_event IGNORE NULLS) OVER w AS n_event,
        |    first_value(cand_ts IGNORE NULLS) OVER w AS n_ts
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id AS p_event, ts_us AS p_ts, n_event, n_ts
        |FROM filled WHERE event_type = 'purchase'
        |ORDER BY p_event""".stripMargin,
    "set_union_dedup" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,
    "set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "set_intersect_all" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT ALL
        |SELECT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin,
    "set_except_all" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT ALL
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "stream_dedup" ->
      """SELECT user_id, event_type, event_id, ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "win_sliding" ->
      """SELECT (epoch_us(ts) // 900000000 - i) * 900 AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)
}
