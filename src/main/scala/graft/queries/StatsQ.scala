package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import core._

/** Typed-API row for typed_reduce_groups (top-level for Encoder derivation). */
case class OrderSlim(o_orderkey: Long, o_totalprice: Double,
  o_orderpriority: String)

/** Statistical / advanced aggregation surface (SURVEY.md §2.4/§2.5
  * extensions): moment statistics, median/mode, FILTER-style conditional
  * aggregates, ordered string aggregation, bitwise aggregates, and the
  * remaining window-function families (value windows, distribution
  * windows, RANGE frames).
  *
  * Determinism notes:
  *   - stddev/var/corr/covar run on SMALL-magnitude columns (quantity ≤ 50,
  *     discount ≤ 0.1): both engines accumulate in double with different
  *     merge orders, so the result can differ in the last bits — at these
  *     magnitudes the drift is ~1e-12 absolute, far inside the r6 rounding
  *     that both sides apply. Large-magnitude columns (prices) would push
  *     the drift toward the rounding threshold and are deliberately avoided.
  *   - mode() tie-breaking is engine-defined, so the mode query computes the
  *     deterministic (count DESC, value ASC) argmax explicitly on BOTH
  *     engines instead of calling the builtin.
  *   - percent_rank/cume_dist are integer-ratio doubles — identical IEEE
  *     division on both sides — and still rounded to r6 for belt+braces.
  *   - The RANGE frame sums decimals (exact, order-free) and orders on an
  *     integer day number, so frame membership is engine-identical.
  */
object StatsQ {

  /** Moment statistics per return flag: stddev/variance/corr/covariance. */
  val aggStats: QFn = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        r6(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r6(var_samp(col("l_quantity"))).as("var_qty"),
        r6(corr(col("l_quantity"), col("l_discount"))).as("corr_qty_disc"),
        r6(covar_samp(col("l_quantity"), col("l_discount"))).as("cov_qty_disc"))
      .orderBy(col("l_returnflag"))

  /** Median (exact, interpolated) + deterministic mode per return flag. */
  val aggModeMedian: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    val modes = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_cnt"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(median(col("l_quantity")).as("median_qty"),
        count(lit(1)).as("n"))
    med.join(modes, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("median_qty"),
        col("mode_qty"), col("mode_cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** FILTER-style conditional aggregates + boolean aggregates. */
  val aggConditional: QFn = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("count_if(o_totalprice > 300000)").as("n_big"),
        expr("bool_and(o_totalprice > 1000)").as("all_above_1k"),
        expr("bool_or(o_orderstatus = 'P')").as("any_pending"))
      .orderBy(col("o_orderpriority"))

  /** Ordered string aggregation (listagg/string_agg) per region. */
  val aggListagg: QFn = (s, dir) =>
    t(s, dir, "nation")
      .join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list(col("n_name"))))
          .as("nations"))
      .orderBy(col("r_name"))

  /** Bitwise aggregates over the JSON `k` property per event type —
    * and/or/xor are associative+commutative, so partitioning-independent. */
  val aggBitwise: QFn = (s, dir) =>
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("bit_and(k)").cast("long").as("k_and"),
        expr("bit_or(k)").cast("long").as("k_or"),
        expr("bit_xor(k)").cast("long").as("k_xor"))
      .orderBy(col("event_type"))

  /** Value window functions: first/last/nth over an explicit full frame. */
  val winFirstLastNth: QFn = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        first(col("o_orderkey")).over(w).as("best_order"),
        last(col("o_orderkey")).over(w).as("worst_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .orderBy(col("o_orderkey"))
  }

  /** Distribution window functions: percent_rank / cume_dist.
    * Scale shape (r13): the ORDER BY is unique (price, partkey), so
    * cume_dist = rk/n and percent_rank = (rk−1)/(n−1) with rk from the
    * two-phase device (floor(price) is an order-preserving bucket over
    * the bounded retail-price domain) — identical doubles to the
    * built-ins, but no task ever sorts a whole p_type shard (~N/150
    * rows, the bounded-key weak class on the part axis). */
  val winPercentCume: QFn = (s, dir) => {
    val base = t(s, dir, "part")
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
    core.bucketedRowNumber(base, Seq("p_type"),
      floor(col("p_retailprice")).cast("long"),
      Seq(col("p_retailprice"), col("p_partkey")), "rk", Some("n"))
      .select(col("p_partkey"), col("p_type"),
        r6(when(col("n") === 1L, lit(0.0)).otherwise(
          (dbl(col("rk")) - 1.0) / (dbl(col("n")) - 1.0))).as("pct_rank"),
        r6(dbl(col("rk")) / dbl(col("n"))).as("cume"))
      .orderBy(col("p_partkey"))
  }

  /** RANGE frame: trailing-30-day spend per customer, ordered on an integer
    * day number so value-range membership is engine-identical; ties (same-day
    * orders) are frame peers on both engines. */
  val winRangeFrame: QFn = (s, dir) => {
    val day = datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, 0)
    t(s, dir, "orders")
      .withColumn("day", day)
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        dbl(round(sum(dec(col("o_totalprice"), 18, 4)).over(w), 2))
          .as("spend_30d"))
      .orderBy(col("o_orderkey"))
  }

  /** Calendar-spine gap fill: daily order counts including zero days —
    * the sequence()-explode date spine joined back to the daily agg. */
  val dateSpineFill: QFn = (s, dir) => {
    val o = t(s, dir, "orders").withColumn("d", to_date(col("o_orderdate")))
    val daily = o.groupBy(col("d")).agg(count(lit(1)).as("n_orders"))
    val spine = o.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(explode(expr("sequence(dmin, dmax, interval 1 day)")).as("d"))
    spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("d"))
  }

  /** Least-squares regression (discount ~ quantity) per return flag,
    * computed from DECIMAL-exact moment sums — NOT the engines' native
    * `regr_*` aggregates, whose streaming update formulas accumulate
    * float error in engine-specific orders. Here the five moments
    * Sx, Sy, Sxy, Sxx, Syy are exact decimals on both engines
    * (order-independent, AQE-repartition-proof at scale), each is cast to
    * double once, and the closed forms
    *   slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
    *   intercept = (Sy − slope·Sx) / n
    *   r² = (n·Sxy − Sx·Sy)² / ((n·Sxx − Sx²)(n·Syy − Sy²))
    * run in IEEE double on identical inputs — bit-identical results with
    * no reliance on either engine's aggregate internals. */
  val aggRegression: QFn = (s, dir) => {
    val x = dec(col("l_quantity"), 12, 2)
    val y = dec(col("l_discount"), 9, 4)
    val n = dbl(col("n"))
    val (sx, sy) = (dbl(col("sx")), dbl(col("sy")))
    val (sxy, sxx, syy) = (dbl(col("sxy")), dbl(col("sxx")), dbl(col("syy")))
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    val slope = cov / vx
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        r6(slope).as("slope"),
        r6((sy - slope * sx) / n).as("intercept"),
        r6(cov * cov / (vx * vy)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Top-3 orders by price per priority via the custom MERGEABLE top-k
    * Aggregator (operators/TopKAgg) instead of a row_number window: only
    * k rows per group per map partition cross the shuffle (ObjectHash
    * partial+final, asserted in PlanSpec) — the aggregate formulation of
    * top-k-per-group for 100 TB groups. The oracle is the window
    * formulation, so the hash-match proves the two equivalent. */
  val topkPerGroupAgg: QFn = (s, dir) => {
    val topk = graft.operators.TopKByScore(3) _
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  /** The typed Dataset surface as a contract key: case-class rows,
    * `groupByKey` + `reduceGroups` champion-select (max price, unique-key
    * tiebreak — associative AND commutative, so Spark plans it as a
    * partial+final object aggregate: only one champion per group per map
    * partition crosses the shuffle, never the rows). The oracle is the
    * row_number-window argmax, proving the typed reduction equivalent. */
  val typedReduceGroups: QFn = (s, dir) => {
    import s.implicits._
    val ds = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .as[OrderSlim]
    ds.groupByKey(_.o_orderpriority)
      .reduceGroups((a, b) =>
        if (a.o_totalprice > b.o_totalprice ||
          (a.o_totalprice == b.o_totalprice && a.o_orderkey < b.o_orderkey)) a
        else b)
      .map { case (k, r) => (k, r.o_orderkey, r.o_totalprice) }
      .toDF("o_orderpriority", "best_key", "best_price")
      .orderBy(col("o_orderpriority"))
  }

  /** Contingency table via the df.stat surface: order priority ×
    * status counts. `crosstab` pivots the second column's values into
    * columns (one count aggregate, statuses bounded by the domain);
    * column order is pinned by re-selecting the known domain so the
    * output schema is deterministic. */
  val statCrosstab: QFn = (s, dir) => {
    t(s, dir, "orders")
      .stat.crosstab("o_orderpriority", "o_orderstatus")
      .select(col("o_orderpriority_o_orderstatus").as("o_orderpriority"),
        col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))
  }

  /** Distribution-drift chi-square (r5) — the statistical monitoring op a
    * production pipeline runs between corpus snapshots: does the
    * event-type mix of week 1 differ from week 4? Observed counts per
    * (type, period) → expected under independence e = row·col/grand →
    * per-type chi-square contribution (na−ea)²/ea + (nb−eb)²/eb. One
    * groupBy shuffle on event_type; the 1-row margin totals ride a
    * broadcast (the q22/bigram pattern). All arithmetic is counts →
    * double with IDENTICAL operation order in the oracle, so the doubles
    * match bit-for-bit before the shared r6 floor-rounding. Per-type
    * rows only — no cross-row double sum whose addition order could
    * differ between engines. */
  val driftChi2: QFn = (s, dir) => {
    val cells = t(s, dir, "events")
      .filter(col("ts_us") < lit(1704672000000000L) ||
        col("ts_us") >= lit(1705881600000000L))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("ts_us") < lit(1704672000000000L), 1L).otherwise(0L))
          .as("n_a"),
        sum(when(col("ts_us") >= lit(1705881600000000L), 1L).otherwise(0L))
          .as("n_b"))
    val tot = cells.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val g  = dbl(col("ta")) + dbl(col("tb"))
    val r  = dbl(col("n_a")) + dbl(col("n_b"))
    val ea = r * dbl(col("ta")) / g
    val eb = r * dbl(col("tb")) / g
    val da = dbl(col("n_a")) - ea
    val db = dbl(col("n_b")) - eb
    cells.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        // nullif: a zero expected count (one period empty) must yield a
        // NULL contribution, not an ANSI divide-by-zero (EdgeCorpusSpec)
        r6(da * da / nullif(ea, lit(0.0)) + db * db / nullif(eb, lit(0.0)))
          .as("chi2_part"))
      .orderBy(col("event_type"))
  }

  /** Robust per-source outlier detection (r5) via MAD — median absolute
    * deviation, the monitoring statistic that survives the heavy-tailed
    * length distributions real corpora have (mean/stddev z-scores get
    * dragged by the very outliers they're meant to find; the median pair
    * doesn't). A doc is an outlier when |x − med| > 3·1.4826·mad (1.4826
    * scales MAD to σ under normality; the product is written as the
    * single literal 4.4478 on BOTH engines so the threshold double is
    * bit-identical).
    *
    * Scale shape (r13): both medians ride the bounded VALUE-HISTOGRAM —
    * the quantile_normalize device. Pass 1 aggregates (source, n_chars)
    * counts (map-side combinable; cardinality = doc-size domain, not doc
    * count) and selects the exact median by dual-rank prefix counts
    * ((n+1) div 2 and (n+2) div 2 — their mean IS percentile-0.5
    * interpolation, exact on integer-valued doubles); pass 2 builds the
    * |x − med| histogram FROM pass 1's histogram (never rescanning the
    * corpus) and selects MAD the same way; the outlier count is one
    * weighted aggregate over the absdev histogram. The r12 per-source
    * whole-partition median window (one task per source over all docs)
    * is gone; every window here runs on the bounded histogram. Outputs
    * are bit-identical: med/mad land on exact halves, so the dual-rank
    * mean equals median() exactly. */
  val outlierMad: QFn = (s, dir) => {
    // (source, v-histogram) -> per-source (n, med) by dual-rank selection
    def medOf(hist: org.apache.spark.sql.DataFrame,
        vcol: String): org.apache.spark.sql.DataFrame = {
      val wV = Window.partitionBy(col("source")).orderBy(col(vcol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wS = Window.partitionBy(col("source"))
      hist
        .withColumn("cb", coalesce(sum(col("c")).over(wV), lit(0L)))
        .withColumn("ce", col("cb") + col("c"))
        .withColumn("n", sum(col("c")).over(wS))
        .withColumn("r1", expr("(n + 1) div 2"))
        .withColumn("r2", expr("(n + 2) div 2"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"),
          ((max(when(col("cb") < col("r1") && col("r1") <= col("ce"),
            col(vcol))) +
            max(when(col("cb") < col("r2") && col("r2") <= col("ce"),
              col(vcol)))) / 2).as("med"))
    }
    val h1 = t(s, dir, "documents")
      .select(col("source"), dbl(col("n_chars")).as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val m1 = medOf(h1, "x")
    val h2 = h1.join(broadcast(m1.select(col("source"), col("med"))), "source")
      .select(col("source"), abs(col("x") - col("med")).as("adv"), col("c"))
      .groupBy(col("source"), col("adv")).agg(sum(col("c")).as("c"))
    val m2 = medOf(h2, "adv").select(col("source"), col("med").as("mad"))
    h2.join(broadcast(m2), "source")
      .groupBy(col("source"))
      .agg(sum(when(col("adv") > lit(4.4478) * col("mad"), col("c"))
        .otherwise(0L)).as("n_outliers"),
        max(col("mad")).as("madv"))
      .join(m1.select(col("source"), col("n").as("n_docs"), col("med")),
        "source")
      .select(col("source"), col("n_docs"), col("n_outliers"),
        r6(col("med")).as("med"), r6(col("madv")).as("mad"))
      .orderBy(col("source"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic (r5) — the NUMERIC
    * complement to drift_chi2's categorical test: per event type, the
    * max vertical gap between the week-1 and week-4 empirical CDFs of
    * `value`. The pooled-sample formulation makes it relational: sort
    * the union, take running conditional counts, KS = max|cA/nA − cB/nB|.
    *
    * Determinism: the cumulative counts use a RANGE frame, so value-ties
    * contribute identically regardless of row order (the CDF is
    * evaluated at each distinct value including all its peers — the
    * mathematically correct tie handling, and the frame semantics
    * win_range_frame already proves cross-engine). Each per-row double
    * is one division of exact ints, computed identically both engines;
    * max is order-independent.
    *
    * Scale shape (r13): the whole key runs on the (event_type, value)
    * HISTOGRAM — the original RANGE frame already evaluates the CDF at
    * each DISTINCT value with all its peers, so aggregating counts per
    * distinct value first and prefix-summing over the bounded value
    * domain (values are cent-grain and saturate: measured 6.6k → 17.8k
    * distinct on a 10× row step — mann_whitney_u's adjudicated bound)
    * is output-identical while the per-type window input stops growing
    * with the corpus. The r12 plan sorted every raw event per type in
    * one task — the bounded-key weak class one fixture over. */
  val driftKs: QFn = (s, dir) => {
    val isA = col("ts_us") < lit(1704672000000000L)
    val isB = col("ts_us") >= lit(1705881600000000L)
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy(col("event_type"))
    t(s, dir, "events")
      .filter((isA || isB) && col("value").isNotNull)
      .select(col("event_type"), col("value"),
        when(isA, 1L).otherwise(0L).as("ia"),
        when(isB, 1L).otherwise(0L).as("ib"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("ia")).as("ha"), sum(col("ib")).as("hb"))
      .withColumn("ca", sum(col("ha")).over(wCum))
      .withColumn("cb", sum(col("hb")).over(wCum))
      .withColumn("na", sum(col("ha")).over(wT))
      .withColumn("nb", sum(col("hb")).over(wT))
      // nullif: an EMPTY side (first week of a new corpus) must yield a
      // NULL ks, not an ANSI divide-by-zero crash (EdgeCorpusSpec)
      .withColumn("gap",
        abs(dbl(col("ca")) / nullif(col("na"), lit(0L)) -
          dbl(col("cb")) / nullif(col("nb"), lit(0L))))
      .groupBy(col("event_type"))
      .agg(sum(col("ha")).as("n_a"), sum(col("hb")).as("n_b"),
        r6(max(col("gap"))).as("ks"))
      .orderBy(col("event_type"))
  }

  /** Kaplan–Meier survival curve (r5) — time-to-event analysis with
    * right-censoring, the conversion-latency statistic: time from a
    * user's first signup to their first subsequent purchase; users who
    * never convert are censored at their last observed event. Per
    * distinct day-duration: at-risk count, events, censored, and the KM
    * estimate S(d) = Π_{d'≤d} (1 − ev/risk).
    *
    * Determinism: the running product rides LOG SPACE with each ln term
    * pinned DECIMAL(14,10) before the exact cumulative decimal sum
    * (token_entropy/lm_bigram's libm defense — the 1e-10 rounding
    * absorbs last-bit ln() differences between engines), then one exp
    * per output row under r6. When the last at-risk cohort fully
    * events, 1−ev/risk = 0: a running max flag pins S = 0 exactly from
    * that row on (no ln(0)).
    *
    * Scale shape: two user-keyed aggregations + one left join build the
    * per-user duration table (all map-side-combinable); everything
    * after runs on the per-DURATION aggregate — cardinality = distinct
    * durations (≤ observation days), so the unpartitioned cumulative
    * windows cost nothing at any corpus size. */
  val survivalKm: QFn = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val su = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts_us"))).as("t0"),
        max(col("ts_us")).as("tmax"))
      .filter(col("t0").isNotNull)
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su.select(col("user_id").as("su_uid"), col("t0")),
        col("user_id") === col("su_uid"))
      .filter(col("ts_us") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("te"))
    val per = su
      .join(pu.select(col("user_id").as("pu_uid"), col("te")),
        col("user_id") === col("pu_uid"), "left")
      .select(expr("(coalesce(te, tmax) - t0) div 86400000000").as("dur"),
        col("te").isNotNull.as("is_ev"))
      .groupBy(col("dur"))
      .agg(sum(when(col("is_ev"), 1L).otherwise(0L)).as("n_ev"),
        count(lit(1)).as("n_all"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("n_risk", sum(col("n_all")).over(wTot) -
        coalesce(sum(col("n_all")).over(wPrev), lit(0L)))
      .withColumn("term", when(col("n_ev") < col("n_risk"),
        log(lit(1.0) - dbl(col("n_ev")) / dbl(col("n_risk"))))
        .otherwise(lit(0.0)).cast("decimal(14,10)"))
      .withColumn("zflag", max(when(col("n_ev") >= col("n_risk"), 1)
        .otherwise(0)).over(wCum))
      .withColumn("cum_ln", sum(col("term")).over(wCum))
      .select(col("dur"), col("n_risk"), col("n_ev"),
        (col("n_all") - col("n_ev")).as("n_cens"),
        when(col("zflag") === 1, lit(0.0))
          .otherwise(r6(exp(dbl(col("cum_ln"))))).as("survival"))
      .orderBy(col("dur"))
  }

  /** First-order Markov transition matrix (r5) — the user-behavior model
    * estimate: P(next event type | current type), from per-user ordered
    * event pairs. One user_id window shuffle for the lead(), one pair
    * groupBy; probability = pair count / from-type total (exact ints,
    * ONE double division per output row under r6 — nothing
    * order-dependent). Session boundary = user boundary (lead stops at
    * the partition edge), the standard estimation cut. */
  val markovTransitions: QFn = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val wFrom = Window.partitionBy(col("from_type"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", r6(dbl(col("n")) / sum(col("n")).over(wFrom)))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** CUSUM change-point detection (r5) — where did the daily event-rate
    * level shift? Per type, the cumulative sum of deviations from the
    * overall daily mean peaks at the change point. Exactness: daily
    * counts are ints, so cusum_i = cum_i − i·(total/n_days) is ONE
    * division + one multiply + one subtract per row, identical op order
    * both engines — no running double sum anywhere. The peak row (max
    * |cusum|, earliest day on ties) is picked by a window rank over the
    * per-DAY aggregate (cardinality = observation days — tiny at any
    * corpus size); the daily count aggregate is the only data-sized
    * shuffle. */
  val cusumChangepoint: QFn = (s, dir) => {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    daily
      .withColumn("i", row_number().over(wOrd))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("cum", sum(col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("mean", dbl(sum(col("c")).over(wAll)) / col("n_days"))
      .withColumn("cusum", dbl(col("cum")) - col("i") * col("mean"))
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("event_type"))
        .orderBy(abs(col("cusum")).desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_days"),
        col("day").as("peak_day"), r6(col("cusum")).as("peak_cusum"))
      .orderBy(col("event_type"))
  }

  /** Gini concentration index per source (r5) — the corpus-balance audit:
    * how unequally is char volume distributed across a source's docs?
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted sizes —
    * the sort-based estimator. Σ i·xᵢ is tie-invariant (rank assignment
    * among equal x is irrelevant), so it TELESCOPES over the distinct
    * n_chars histogram exactly (r13): a value occupying ranks
    * (cb, ce] contributes v·Σᵢ = v·(ce+cb+1)·c/2, with the rank products
    * in exact DECIMAL (they overflow BIGINT past ~4·10⁹ docs). The r12
    * per-source corpus-sorting row_number window is gone; the one window
    * left is the prefix-count over the bounded (source, n_chars)
    * histogram. n/Σx/Σi·xᵢ are identical integers, so the double
    * formula and the hash are unchanged. */
  val giniConcentration: QFn = (s, dir) => {
    val wV = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .select(col("source"), col("n_chars"))
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cb", coalesce(sum(col("c")).over(wV), lit(0L)))
      .withColumn("ce", col("cb") + col("c"))
      // Σ_{i=cb+1}^{ce} i = (ce+cb+1)·c/2 — one of the factors is even,
      // so the decimal division is exact (integer-valued at scale 6)
      .withColumn("ranksum",
        dec(col("ce") + col("cb") + lit(1L), 38, 0) * col("c") / lit(2))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("n_chars") * col("c")).as("total_chars"),
        sum(dec(col("n_chars"), 10, 0) * col("ranksum")).as("iwx"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        // nullif: a source of only empty docs has total_chars 0 — NULL
        // gini, not an ANSI divide-by-zero
        r6(lit(2.0) * dbl(col("iwx")) /
          nullif(dbl(col("n_docs")) * dbl(col("total_chars")), lit(0.0)) -
          (dbl(col("n_docs")) + 1.0) / dbl(col("n_docs"))).as("gini"))
      .orderBy(col("source"))
  }

  /** Winsorized robust scaling (r5) — the outlier-clamping step quality
    * pipelines run before computing summary statistics: per lang, clamp
    * doc sizes to the exact [p05, p95] ranks and report the raw vs
    * winsorized mean and the clipped counts. Percentiles are RANK-BASED
    * (value at row_number = ceil(q·n), the discrete estimator) — exact
    * int selection, no interpolation, so both engines agree by
    * construction; ties in the sort can't matter because equal values
    * at the boundary rank clamp identically. Means are exact int sums
    * with ONE final division each.
    * Scale shape (r13): everything runs on the bounded (lang, n_chars)
    * VALUE HISTOGRAM (the funnel_time_conv exact-rank move) — boundary
    * values selected by prefix counts (rank r lands at the histogram row
    * with cb < r ≤ ce), clip counts and both means as weighted sums over
    * the histogram. The r12 per-lang corpus-sorting window (one task per
    * lang over all docs) is gone; outputs are integer-identical, hash
    * unchanged. */
  val winsorizeStats: QFn = (s, dir) => {
    val wV = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLang = Window.partitionBy(col("lang"))
    t(s, dir, "documents")
      .select(col("lang"), col("n_chars"))
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cb", coalesce(sum(col("c")).over(wV), lit(0L)))
      .withColumn("ce", col("cb") + col("c"))
      .withColumn("n", sum(col("c")).over(wLang))
      .withColumn("rlo", ceil(col("n") * 0.05))
      .withColumn("rhi", ceil(col("n") * 0.95))
      .withColumn("lo", max(when(col("cb") < col("rlo")
        && col("rlo") <= col("ce"), col("n_chars"))).over(wLang))
      .withColumn("hi", max(when(col("cb") < col("rhi")
        && col("rhi") <= col("ce"), col("n_chars"))).over(wLang))
      .withColumn("wz", least(greatest(col("n_chars"), col("lo")), col("hi")))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        sum(when(col("n_chars") < col("lo"), col("c")).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("n_chars") > col("hi"), col("c")).otherwise(0L))
          .as("n_clip_hi"),
        max(col("lo")).as("p05"), max(col("hi")).as("p95"),
        r6(dbl(sum(col("n_chars") * col("c"))) / sum(col("c")))
          .as("mean_raw"),
        r6(dbl(sum(col("wz") * col("c"))) / sum(col("c")))
          .as("mean_winsor"))
      .orderBy(col("lang"))
  }

  /** Two-proportion z-test (r5) — the A/B-test readout: per event type,
    * is the high-value rate (value > 250) of week 1 different from
    * week 4? z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled p̂.
    * Deterministic WITHOUT pinning: every input is an exact int count,
    * each division/multiply is mirrored in identical order, and IEEE-754
    * sqrt is CORRECTLY ROUNDED on both engines (unlike ln/exp, sqrt has
    * no libm latitude) — so the z doubles match bit-for-bit before r6.
    * One groupBy shuffle; nullif guards empty sides (EdgeCorpusSpec's
    * one-sided-period scenario). */
  val abtestZtest: QFn = (s, dir) => {
    val isA = col("ts_us") < lit(1704672000000000L)
    val isB = col("ts_us") >= lit(1705881600000000L)
    val hi = (col("value") > 250.0).cast("long")
    val cells = t(s, dir, "events")
      .filter(isA || isB)
      .groupBy(col("event_type"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n1"),
        sum(when(isA, hi).otherwise(0L)).as("k1"),
        sum(when(isB, 1L).otherwise(0L)).as("n2"),
        sum(when(isB, hi).otherwise(0L)).as("k2"))
    val p1 = dbl(col("k1")) / nullif(col("n1"), lit(0L))
    val p2 = dbl(col("k2")) / nullif(col("n2"), lit(0L))
    val pp = dbl(col("k1") + col("k2")) / nullif(col("n1") + col("n2"), lit(0L))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / nullif(col("n1"), lit(0L)) +
        lit(1.0) / nullif(col("n2"), lit(0L))))
    cells
      .select(col("event_type"), col("n1"), col("k1"), col("n2"), col("k2"),
        r6(p1).as("p1"), r6(p2).as("p2"),
        r6((p1 - p2) / nullif(se, lit(0.0))).as("z"))
      .orderBy(col("event_type"))
  }

  /** The scored training frame (label + scaled features + unique key),
    * shared by the fit and the evaluation keys. */
  private def irlsBase(s: SparkSession, dir: String) =
    t(s, dir, "events")
      .select(col("event_id"),
        when(col("event_type") === "purchase", lit(1.0)).otherwise(lit(0.0))
          .as("y"),
        (col("value") / lit(100.0)).as("x1"),
        (dbl(hour(col("ts"))) / lit(24.0)).as("x2"))

  /** The linear score b0 + b1·x1 + b2·x2 of a row crossed with a 1-row β. */
  private[graft] def irlsScore: Column =
    col("b0") + col("b1") * col("x1") + col("b2") * col("x2")

  /** The starting β = 0 of every IRLS fit, as a 1-row (b0, b1, b2). */
  private[graft] def irlsBeta0(s: SparkSession): DataFrame =
    s.range(1).select(lit(0.0).as("b0"), lit(0.0).as("b1"), lit(0.0).as("b2"))

  /** One IRLS Newton step over rows (y, x1, x2) from the 1-row β (b0, b1,
    * b2): per-row p = σ(z), weight w = p(1−p), the 3×3 normal matrix XᵀWX
    * (6 moments) and gradient Xᵀ(y−p) (3 moments) as pinned sums, and the
    * explicit symmetric 3×3 inverse via adjugate / determinant. Returns
    * the 1-row (b0, b1, b2, ll), ll being the log-likelihood of the INPUT
    * β; a caller that drops ll lets Catalyst prune its sum.
    * nullif: a degenerate corpus (constant features / one label class —
    * EdgeCorpusSpec) makes the normal matrix singular; the Newton delta
    * must become NULL, not an ANSI divide-by-zero crash. DuckDB's x/0 is
    * NULL-valued already. */
  private[graft] def irlsStep(rows: DataFrame, beta: DataFrame): DataFrame = {
    val z = irlsScore
    val m = rows.crossJoin(broadcast(beta))
      .withColumn("p", sigmoid(z))
      .withColumn("w", col("p") * (lit(1.0) - col("p")))
      .agg(
        sum(pin(col("w"))).as("a00"),
        sum(pin(col("w") * col("x1"))).as("a01"),
        sum(pin(col("w") * col("x2"))).as("a02"),
        sum(pin(col("w") * col("x1") * col("x1"))).as("a11"),
        sum(pin(col("w") * col("x1") * col("x2"))).as("a12"),
        sum(pin(col("w") * col("x2") * col("x2"))).as("a22"),
        sum(pin(col("y") - col("p"))).as("g0"),
        sum(pin((col("y") - col("p")) * col("x1"))).as("g1"),
        sum(pin((col("y") - col("p")) * col("x2"))).as("g2"),
        // log-likelihood of the CURRENT β: y·z − ln(1+eᶻ), per-row
        // double pinned to decimal so the sum is order-free
        sum(pin(col("y") * z - log(lit(1.0) + exp(z)))).as("ll"))
    val (a00, a01, a02) = (dbl(col("a00")), dbl(col("a01")), dbl(col("a02")))
    val (a11, a12, a22) = (dbl(col("a11")), dbl(col("a12")), dbl(col("a22")))
    val det = nullif(a00 * (a11 * a22 - a12 * a12) -
      a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02), lit(0.0))
    val i00 = (a11 * a22 - a12 * a12) / det
    val i01 = (a02 * a12 - a01 * a22) / det
    val i02 = (a01 * a12 - a02 * a11) / det
    val i11 = (a00 * a22 - a02 * a02) / det
    val i12 = (a02 * a01 - a00 * a12) / det
    val i22 = (a00 * a11 - a01 * a01) / det
    val (g0, g1, g2) = (dbl(col("g0")), dbl(col("g1")), dbl(col("g2")))
    m.crossJoin(broadcast(beta))
      .select(
        (col("b0") + i00 * g0 + i01 * g1 + i02 * g2).as("b0"),
        (col("b1") + i01 * g0 + i11 * g1 + i12 * g2).as("b1"),
        (col("b2") + i02 * g0 + i12 * g1 + i22 * g2).as("b2"),
        dbl(col("ll")).as("ll"))
  }

  /** Both IRLS Newton-step frames (b0, b1, b2, ll, iter); it1 is
    * checkpointed so it2 and every evaluation consumer share one fit. */
  private def irlsSteps(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = irlsBase(s, dir)
    val it1 = irlsStep(base, irlsBeta0(s)).withColumn("iter", lit(1L)).ckpt()
    val it2 = irlsStep(base, it1.select(col("b0"), col("b1"), col("b2")))
      .withColumn("iter", lit(2L)).ckpt()
    (it1, it2)
  }

  /** Distributed logistic regression by IRLS (r10) — actual MODEL
    * TRAINING in the engine (the GLM workhorse; Newton/IRLS is the
    * textbook fit): P(purchase | value, hour) with 2 Newton steps from
    * β = 0. Each step is ONE pass: per-row p = σ(xᵀβ), weight w =
    * p(1−p), then the 3×3 normal matrix XᵀWX (6 moments) and gradient
    * Xᵀ(y−p) (3 moments) as DECIMAL(30,14)-pinned sums (order-free —
    * per-row doubles are identical cross-engine, the decimal cast pins
    * identical values, exact summation kills merge-order drift), and the
    * Newton solve is the EXPLICIT 3×3 adjugate over the aggregated
    * moments — mirrored double expressions, no linear-algebra library.
    * β flows between steps as a 1-row broadcast; the graded output is
    * the (iter, b0, b1, b2) TRAJECTORY plus each step's DECIMAL-pinned
    * log-likelihood — a wrong weight, solve, or feature scaling cannot
    * reproduce it. Features scaled to O(1) (value/100, hour/24) for
    * conditioning, documented as part of the contract. A singular normal
    * matrix (constant features) yields NULL betas (irlsStep's guard).
    * Scale shape: each Newton step is one partial+final aggregate over
    * the corpus (9 moment sums) + O(1) driver-free algebra — the
    * canonical distributed GLM layout; iterations are a fixed budget
    * like pagerank's. */
  val logisticIrls: QFn = (s, dir) => {
    val (it1, it2) = irlsSteps(s, dir)
    it1.unionByName(it2)
      .select(col("iter"), r6(col("b0")).as("b0"), r6(col("b1")).as("b1"),
        r6(col("b2")).as("b2"), r6(col("ll")).as("loglik"))
      .orderBy(col("iter"))
  }

  /** Per-row fitted probabilities under the 2-step IRLS β — the scoring
    * pass the evaluation keys share. The fitted β rides the registry as
    * a trained-model artifact (r15 — the lm_threshold / bpe_merges
    * pattern: `logistic_irls` stays the graded trainer and refits on
    * every call; evaluation consumers LOAD the 1-row fit instead of
    * re-running both Newton steps per key). Doubles round-trip parquet
    * exactly, so the loaded β is bit-identical to the inline fit. */
  private def irlsScored(s: SparkSession, dir: String) = {
    val beta = core.persistedArtifact(s, dir, "irls_beta")(
      irlsSteps(s, dir)._2.select(col("b0"), col("b1"), col("b2")))
    irlsBase(s, dir).crossJoin(broadcast(beta))
      .withColumn("p", sigmoid(irlsScore))
      .select(col("event_id"), col("y"), col("p"))
  }

  /** Calibration deciles (r10, re-planned r12) — the reliability diagram
    * behind every model-quality review: score the corpus with the FITTED
    * β (the composition logistic_irls → evaluation a real pipeline
    * runs), decile the rows by predicted probability, and compare mean
    * p̂ with the empirical purchase rate per decile. A well-calibrated
    * fit tracks the diagonal; the gap column quantifies miscalibration.
    *
    * Decile semantics (r12; doc corrected r13): rows are pooled by their
    * r6-ROUNDED score (the model_auc move — tie groups engine-identical
    * by construction) and a score group at exclusive prefix count cb
    * lands in decile ⌊cb·10/n⌋+1 — EVEN-SPREAD bucket boundaries
    * (every bucket spans n/10 prefix mass; when n % 10 ≠ 0 the remainder
    * spreads across buckets, unlike ntile, which front-loads it — so
    * per-decile sizes can differ from an ntile(10) assignment and a
    * decile can even be skipped when a large tie group jumps the
    * boundary). A tie group never splits across deciles. Both engines
    * compute the same formula, so the contract is this even-spread rule,
    * not ntile. That replaces r10's global
    * ntile(10) over every scored row (the r11 weak flag: a corpus-sized
    * single-partition sort) with ONE prefix-sum window over the
    * distinct-score table, ≤ 10⁶+1 rows by r6 rounding — the bounded
    * model_auc shape. mean p̂ still sums the UNROUNDED scores as pinned
    * DECIMAL(30,14) per group (order-free, exact through the rollup);
    * the rate is an exact 0/1 sum over count. */
  val modelCalibration: QFn = (s, dir) => {
    val pooled = irlsScored(s, dir)
      .select(r6(col("p")).as("pv"), col("y"), pin(col("p")).as("pd"))
      .groupBy(col("pv"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"),
        sum(col("pd")).as("sp"))
    val wB = Window.orderBy(col("pv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pooled
      .withColumn("cb", coalesce(sum(col("c")).over(wB), lit(0L)))
      .crossJoin(broadcast(pooled.agg(sum(col("c")).as("n_all"))))
      .withColumn("decile", expr("(cb * 10) div n_all + 1"))
      .groupBy(col("decile"))
      .agg(sum(col("c")).as("n"),
        r6(dbl(sum(col("sp"))) / sum(col("c"))).as("mean_pred"),
        r6(sum(col("c1")) / sum(col("c"))).as("purchase_rate"))
      .withColumn("gap", r6(abs(col("mean_pred") - col("purchase_rate"))))
      .orderBy(col("decile"))
  }

  /** Midrank ROC AUC of a scored frame (p = fitted probability, y = 0/1
    * label) as a 1-row (n_pos, n_neg, auc) aggregate, by the rank-sum
    * identity AUC = U/(n₊·n₋) — the mann_whitney_u midrank machinery
    * (scores r6-rounded BEFORE ranking so tie groups are engine-
    * identical; midranks carried ×2 as exact BIGINTs). The window runs
    * over the DISTINCT r6-score table (≤ 10⁶+1 rows by rounding — the
    * bounded-window convention), no per-pair work. */
  private def aucOf(scored: DataFrame): DataFrame = {
    val pooled = scored
      .select(r6(col("p")).as("pv"), col("y").cast("long").as("y1"))
      .groupBy(col("pv"))
      .agg(count(lit(1)).as("c"), sum(col("y1")).as("c1"))
    val wBefore = Window.orderBy(col("pv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pooled
      .withColumn("rank2",
        lit(2) * coalesce(sum(col("c")).over(wBefore), lit(0L))
          + col("c") + lit(1))
      .agg(sum(col("c1")).as("n_pos"),
        sum(col("c") - col("c1")).as("n_neg"),
        sum(col("c1") * col("rank2")).as("r1_x2"))
      .select(col("n_pos"), col("n_neg"),
        r6((dbl(col("r1_x2") - col("n_pos") * (col("n_pos") + lit(1))))
          / (lit(2.0) * dbl(col("n_pos")) * dbl(col("n_neg"))))
          .as("auc"))
  }

  /** ROC AUC (r10) of the fitted IRLS scores over the whole corpus. */
  val modelAuc: QFn = (s, dir) => aucOf(irlsScored(s, dir))

  // ---- the histogram split finder (tree_stump_train, gbm_round,
  // gbm_tree_round): 16-bin features b1/b2, a (parts..., feat, bin)
  // histogram, prefix-sum candidates, the (gain DESC, feat, bin) argmax
  // and the left/right routing. Each key brings its own gain.

  /** Corpus min/max of x1 and x2, the range the 16 bins are cut from. */
  private def featRange: Seq[Column] =
    Seq(min(col("x1")).as("mn1"), max(col("x1")).as("mx1"),
      min(col("x2")).as("mn2"), max(col("x2")).as("mx2"))

  /** b1, b2: x1, x2 binned against featRange's columns. An explicit NULL
    * bin for a NULL feature: least() SKIPS nulls in BOTH engines, which
    * would silently bin missing values at 15. */
  private def featBins: Seq[Column] = {
    def bin(x: Column, mn: Column, mx: Column): Column =
      when(x.isNotNull,
        least(floor(((x - mn) / (mx - mn)) * lit(16.0)), lit(15L)))
    Seq(bin(col("x1"), col("mn1"), col("mx1")).as("b1"),
      bin(col("x2"), col("mn2"), col("mx2")).as("b2"))
  }

  /** The (parts..., feat, bin) histogram of binned rows: each row counts
    * once per feature under its bin, as n plus the given `sums`. NULL
    * feature values (NULL bin) are excluded in BOTH engines by
    * construction: Spark windows order NULLs first, DuckDB's last — an
    * unfiltered NULL group would be counted into every real bin's prefix
    * on one side only. */
  private[graft] def splitHist(rows: DataFrame, parts: Seq[String],
      sums: Column*): DataFrame =
    rows.select(col("*"), inline(array(
        struct(lit("x1").as("feat"), col("b1").as("bin")),
        struct(lit("x2").as("feat"), col("b2").as("bin")))))
      .filter(col("bin").isNotNull)
      .groupBy((parts :+ "feat" :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"), sums: _*)

  /** Split candidates over a splitHist histogram: the populated bin
    * boundaries of each (parts..., feat), with exclusive prefix sums
    * `<c>l` (left of the boundary, `zero` when empty) and totals `<c>t`
    * for n and each named sum column c, plus nr = nt − nl. The first
    * bin is never a candidate (nl > 0: nothing would go left). */
  private[graft] def splitCands(hist: DataFrame, parts: Seq[String],
      sums: Seq[(String, Column)]): DataFrame = {
    val pf = (parts :+ "feat").map(col)
    val wB = Window.partitionBy(pf: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(pf: _*)
    val cs = ("n" -> lit(0L)) +: sums
    val left = cs.foldLeft(hist) { case (df, (c, zero)) =>
      df.withColumn(s"${c}l", coalesce(sum(col(c)).over(wB), zero))
    }
    cs.foldLeft(left) { case (df, (c, _)) =>
      df.withColumn(s"${c}t", sum(col(c)).over(wAll))
    }
      .filter(col("nl") > 0)
      .withColumn("nr", col("nt") - col("nl"))
  }

  /** The best candidate per `parts` group under (gain DESC, feat, bin);
    * callers r6-round the gain first so near-ties are engine-identical. */
  private[graft] def bestSplit(cand: DataFrame, parts: Seq[String])
      : DataFrame = {
    val w = Window.partitionBy(parts.map(col): _*)
      .orderBy(col("gain").desc, col("feat"), col("bin"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** True when a binned row falls LEFT of the split (feat, bin). */
  private[graft] def goesLeft(feat: Column, bin: Column): Column =
    when(feat === "x1", col("b1")).otherwise(col("b2")) < bin

  /** Gini impurity 1 − (p/n)² − ((n−p)/n)² as one mirrored double
    * expression over exact BIGINT counts. */
  private def stumpGini(n: Column, p: Column): Column = {
    val q = dbl(p) / dbl(n)
    val q0 = (dbl(n) - dbl(p)) / dbl(n)
    lit(1.0) - q * q - q0 * q0
  }

  /** Histogram-based decision-tree training (r11) — the XGBoost/LightGBM
    * split-finding layout (Chen & Guestrin KDD'16; Ke et al.
    * NeurIPS'17): bin features ONCE against corpus min/max (one
    * aggregate, broadcast back), then ONE partial+final histogram
    * aggregate per tree LEVEL decides every split of that level — the
    * non-linear supervised member of the training family next to
    * logistic_irls (same label and features: purchase ~ value/100,
    * hour/24). Depth 2: the root split from the level-0 histogram, both
    * children split from a single level-1 histogram over the
    * root-assigned rows. Candidate splits are the populated bin
    * boundaries of either feature (prefix sums over the ≤ nodes×2×16-row
    * histogram, never the corpus); Gini gain is an identical double
    * expression over exact BIGINT counts, r6-rounded BEFORE the argmax,
    * ties broken (feat, bin). Graded output is the 3-row split
    * TRAJECTORY — feature, bin boundary, real threshold, gain, child
    * counts/positives, child leaf rates — which a wrong impurity,
    * boundary enumeration, prefix sum, or tie-break cannot reproduce.
    * Scale shape: per level = one corpus scan + a histogram whose size
    * is nodes×features×bins (the whole point of histogram GBMs at
    * 100 TB); the binned frame is checkpointed once and reused by both
    * levels, exactly how a real trainer persists its binned matrix. */
  val treeStumpTrain: QFn = (s, dir) => {
    val base = irlsBase(s, dir)
      .select(col("y").cast("long").as("yl"), col("x1"), col("x2"))
    val mm = base.agg(featRange.head, featRange.tail: _*)
    val rows = base.crossJoin(broadcast(mm))
      .select((col("yl") +: featBins): _*)
      .ckpt() // the binned matrix — scanned by both levels
    // One level: Gini gain over the candidates, best split per node.
    def level(df: DataFrame): DataFrame = {
      val cand = splitCands(splitHist(df, Seq("node"), sum(col("yl")).as("p")),
          Seq("node"), Seq("p" -> lit(0L)))
        .withColumn("pr", col("pt") - col("pl"))
      val gain = stumpGini(col("nt"), col("pt")) -
        (dbl(col("nl")) / dbl(col("nt"))) * stumpGini(col("nl"), col("pl")) -
        (dbl(col("nr")) / dbl(col("nt"))) * stumpGini(col("nr"), col("pr"))
      bestSplit(cand.withColumn("gain", r6(gain)), Seq("node"))
        .select(col("node"), col("feat"), col("bin"), col("gain"),
          col("nl"), col("pl"), col("nr"), col("pr"))
    }
    val best0 = level(rows.select(lit(0L).as("node"), col("yl"),
      col("b1"), col("b2"))).ckpt()
    val assigned = rows.crossJoin(broadcast(
        best0.select(col("feat").as("bf"), col("bin").as("bb"))))
      .select(when(goesLeft(col("bf"), col("bb")), lit(1L)).otherwise(lit(2L))
          .as("node"),
        col("yl"), col("b1"), col("b2"))
    val allBest = best0.unionByName(level(assigned))
    allBest.crossJoin(broadcast(mm))
      .select(col("node"), col("feat"), col("bin").as("split_bin"),
        r6(when(col("feat") === "x1",
            col("mn1") + dbl(col("bin")) * (col("mx1") - col("mn1")) / lit(16.0))
          .otherwise(
            col("mn2") + dbl(col("bin")) * (col("mx2") - col("mn2")) / lit(16.0)))
          .as("thr"),
        col("gain"), col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"),
        r6(dbl(col("pl")) / dbl(col("nl"))).as("leaf_left"),
        r6(dbl(col("pr")) / dbl(col("nr"))).as("leaf_right"))
      .orderBy(col("node"))
  }

  /** The boosting start shared by both gbm keys: `keep` columns, the
    * base score F₀ = ln(p̄/(1−p̄)) as margin `f` and the binned b1, b2 of
    * every row of `rows`, with the feature range and p̄ taken from
    * `train`; checkpointed as round 1's margin frame. */
  private def boostStart(rows: DataFrame, train: DataFrame,
      keep: Seq[Column]): DataFrame = {
    val mm = train.agg(featRange.head, (featRange.tail :+
      sum(col("y").cast("long")).as("npos") :+ count(lit(1)).as("nn")): _*)
    rows.crossJoin(broadcast(mm))
      .withColumn("f",
        log(dbl(col("npos")) / (dbl(col("nn")) - dbl(col("npos")))))
      .select((keep ++ (col("f") +: featBins)): _*)
      .ckpt()
  }

  /** Per-row p = σ(f), gradient g = p − y and hessian h = p(1−p). */
  private def gradHess(cur: DataFrame): DataFrame =
    cur.withColumn("p", sigmoid(col("f")))
      .withColumn("g", col("p") - col("y"))
      .withColumn("h", col("p") * (lit(1.0) - col("p")))

  /** gbm's Newton split candidates per (parts...): pinned (g, h)
    * histogram sums, exact decimal differences, THEN one double cast per
    * factor, gain ½(G_L²/H_L + G_R²/H_R − G_T²/H_T) (r6 before the
    * argmax) and the Newton leaves wl, wr = −η·G/H (η = 0.3). */
  private def newtonSplits(rows: DataFrame, parts: Seq[String]): DataFrame =
    splitCands(splitHist(rows, parts, sum(pin(col("g"))).as("g"),
        sum(pin(col("h"))).as("h")), parts,
        Seq("g" -> pin(lit(0)), "h" -> pin(lit(0))))
      .withColumn("gr", dbl(col("gt") - col("gl")))
      .withColumn("hr", dbl(col("ht") - col("hl")))
      .withColumn("gld", dbl(col("gl"))).withColumn("hld", dbl(col("hl")))
      .withColumn("gtd", dbl(col("gt"))).withColumn("htd", dbl(col("ht")))
      .withColumn("gain", r6((col("gld") * col("gld") / col("hld") +
        col("gr") * col("gr") / col("hr") -
        col("gtd") * col("gtd") / col("htd")) * lit(0.5)))
      .withColumn("wl", lit(-0.3) * col("gld") / col("hld"))
      .withColumn("wr", lit(-0.3) * col("gr") / col("hr"))

  /** GRADIENT-BOOSTING trajectory, 2 Newton rounds (r11) — the actual
    * XGBoost math (Chen & Guestrin KDD'16 §2) on top of
    * tree_stump_train's histogram mechanism. Round 1 boosts from the
    * base score F₀ = ln(p̄/(1−p̄)); round 2 re-derives per-row gradients
    * g = p − y and hessians h = p(1−p) at the UPDATED margins — the
    * per-row-varying weighted-histogram path a single round never
    * exercises (at F₀ every row shares one hessian). Per round: ONE
    * (feat, bin) histogram of DECIMAL(30,14)-pinned (G, H) sums, split
    * gain ½(G_L²/H_L + G_R²/H_R − G_T²/H_T) over prefix sums (exact
    * decimal arithmetic until the one mirrored double expression, r6
    * before the argmax), Newton leaves w = −η·G/H (η = 0.3), margin
    * update, and the graded payoff: train logloss BEFORE and AFTER each
    * round — a strictly-decreasing trajectory a wrong gradient,
    * hessian, gain, or leaf cannot reproduce. Scale shape per round:
    * histogram pass + loss passes over the checkpointed margin frame +
    * a 32-row candidate table — the real per-round GBM cost profile. */
  val gbmRound: QFn = (s, dir) => {
    val base = irlsBase(s, dir)
    // margin frame (y, f, b1, b2), re-checkpointed per round
    var cur = boostStart(base, base, Seq(col("y")))
    var trail: DataFrame = null
    for (round <- 1 to 2) {
      // LAZY p/g/h (r16, the gbm_tree_round ckpt thinning): consumers
      // re-derive the sigmoid arithmetic from the round's checkpointed
      // margin frame instead of paying a materialize+rescan of the
      // 600k-row frame per round. best/cur keep their checkpoints.
      val p = gradHess(cur)
      val lb = p.agg(sum(lossTerm(col("p"))).as("l"),
        count(lit(1)).as("cnt"))
      // one node ⇒ one unpartitioned 31-row argmax window
      val best = bestSplit(newtonSplits(p, Seq()), Seq())
        .ckpt() // 1 row; consumed by the update AND the report
      cur = p.crossJoin(broadcast(best.select(col("feat").as("bf"),
          col("bin").as("bb"), col("wl"), col("wr"))))
        .withColumn("f", col("f") +
          when(goesLeft(col("bf"), col("bb")), col("wl")).otherwise(col("wr")))
        .select(col("y"), col("f"), col("b1"), col("b2"))
        .ckpt()
      val la = cur
        .withColumn("p", sigmoid(col("f")))
        .agg(sum(lossTerm(col("p"))).as("l2"))
      val row = best.crossJoin(broadcast(lb)).crossJoin(broadcast(la))
        .select(lit(round.toLong).as("round"), col("feat"),
          col("bin").as("split_bin"), col("gain"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          r6(col("gld")).as("g_left"), r6(col("hld")).as("h_left"),
          r6(col("gr")).as("g_right"), r6(col("hr")).as("h_right"),
          r6(col("wl")).as("leaf_left"), r6(col("wr")).as("leaf_right"),
          r6(dbl(col("l")) / col("cnt")).as("logloss_before"),
          r6(dbl(col("l2")) / col("cnt")).as("logloss_after"))
      trail = if (trail == null) row else trail.unionByName(row)
    }
    trail.orderBy(col("round"))
  }

  /** GBM with DEPTH-2 TREES per boosting round + HELD-OUT evaluation
    * (r12) — gbm_round grades the boosting math with stumps on train
    * loss; this key grades what a real trainer ships: level-wise depth-2
    * trees (root split from the train histogram, then BOTH children
    * split from one node-conditioned histogram at the same margins —
    * the tree_stump_train level device under gbm_round's g/h), a 20%
    * held-out slice (event_id % 5 = 0) that never enters a histogram
    * but is routed and margin-updated, per-round held-out logloss AND
    * held-out AUC (the aucOf midrank machinery), and the IRLS
    * baseline's AUC on the SAME slice as the comparison column — the
    * boosted-vs-linear eval row a model review reads. A node with no
    * valid level-1 candidate falls back to its Newton leaf −η·G/H.
    * Scale shape: per round = two partial+final histogram aggregates
    * over the checkpointed binned matrix + loss/AUC aggregates; every
    * window is bounded (histogram bins, distinct r6 scores); splits and
    * leaves ride 1-row broadcasts. */
  val gbmTreeRound: QFn = (s, dir) => {
    val base0 = irlsBase(s, dir)
      .withColumn("ho", col("event_id") % 5 === 0)
    var cur = boostStart(base0, base0.filter(!col("ho")),
      Seq(col("ho"), col("y")))
    var trail: DataFrame = null
    for (round <- 1 to 2) {
      // p/g/h and the node routing stay LAZY (r16 — 5 checkpoint jobs
      // per round → 3): every consumer re-derives them from the round's
      // checkpointed margin frame `cur` with a handful of codegen'd
      // arithmetic ops per row, which is cheaper than a full
      // materialize+rescan of the 600k-row frame — twice per round. The
      // 1-row split frames (best0/best1) KEEP their checkpoints: r15
      // measured that making those lazy re-runs the upstream histogram
      // scan in every consumer (~25% slower).
      val p = gradHess(cur)
      val best0 = bestSplit(newtonSplits(p.filter(!col("ho")), Seq()), Seq())
        .ckpt() // 1 row
      val assigned = p.crossJoin(broadcast(
          best0.select(col("feat").as("rf"), col("bin").as("rb"))))
        .withColumn("node",
          when(goesLeft(col("rf"), col("rb")), lit(1L)).otherwise(lit(2L)))
      val best1 = bestSplit(
          newtonSplits(assigned.filter(!col("ho")), Seq("node")), Seq("node"))
        .select(col("node"), col("feat").as("cf"), col("bin").as("cb"),
          col("wl"), col("wr"))
        .ckpt() // <= 2 rows
      val nodeStats = assigned.filter(!col("ho"))
        .groupBy(col("node"))
        .agg((lit(-0.3) * dbl(sum(pin(col("g")))) /
          dbl(sum(pin(col("h"))))).as("wn"))
      cur = assigned
        .join(broadcast(best1), Seq("node"), "left")
        .join(broadcast(nodeStats), Seq("node"))
        .withColumn("f", col("f") + when(col("cf").isNull, col("wn"))
          .otherwise(when(goesLeft(col("cf"), col("cb")), col("wl"))
            .otherwise(col("wr"))))
        .select(col("ho"), col("y"), col("f"), col("b1"), col("b2"))
        .ckpt()
      // both slices' losses in ONE conditional aggregate (one scan)
      val losses = cur
        .withColumn("p", sigmoid(col("f")))
        .agg(sum(when(!col("ho"), lossTerm(col("p")))).as("l"),
          count(when(!col("ho"), lit(1))).as("cnt"),
          sum(when(col("ho"), lossTerm(col("p")))).as("hlo"),
          count(when(col("ho"), lit(1))).as("hcnt"))
      val hoAuc = aucOf(cur.filter(col("ho"))
        .withColumn("p", sigmoid(col("f"))))
      val children = best1.agg(
        max(when(col("node") === 1, col("cf"))).as("feat_l"),
        max(when(col("node") === 1, col("cb"))).as("bin_l"),
        max(when(col("node") === 2, col("cf"))).as("feat_r"),
        max(when(col("node") === 2, col("cb"))).as("bin_r"))
      val row = best0.select(lit(round.toLong).as("round"),
          col("feat").as("root_feat"), col("bin").as("root_bin"),
          col("gain").as("root_gain"))
        .crossJoin(broadcast(children))
        .crossJoin(broadcast(losses))
        .crossJoin(broadcast(hoAuc))
        .select(col("round"), col("root_feat"), col("root_bin"),
          col("root_gain"), col("feat_l"), col("bin_l"),
          col("feat_r"), col("bin_r"),
          r6(dbl(col("l")) / col("cnt")).as("train_logloss"),
          r6(dbl(col("hlo")) / col("hcnt")).as("holdout_logloss"),
          col("auc").as("holdout_auc"))
      trail = if (trail == null) row else trail.unionByName(row)
    }
    val irlsAuc = aucOf(irlsScored(s, dir).filter(col("event_id") % 5 === 0))
    trail
      .crossJoin(broadcast(irlsAuc
        .select(col("auc").as("irls_holdout_auc"))))
      .orderBy(col("round"))
  }

  /** IRLS oracle: two generated Newton steps, each with the identical
    * per-row sigmoid/weight doubles, DECIMAL(30,14)-pinned moment sums,
    * and the explicit 3×3 adjugate solve. */
  private def irlsCtes: String = {
    def pinSql(e: String) = s"CAST($e AS DECIMAL(30,14))"
    def step(k: Int): String = {
      val b = s"beta${k - 1}"
      def bref(c: String) = s"(SELECT $c FROM $b)"
      s"""r$k AS MATERIALIZED (
         |  SELECT y, x1, x2,
         |    ${bref("b0")} + ${bref("b1")} * x1 + ${bref("b2")} * x2 AS z
         |  FROM base),
         |p$k AS MATERIALIZED (
         |  SELECT y, x1, x2, z, p, p * (1.0 - p) AS w
         |  FROM (SELECT *, 1.0 / (1.0 + exp(-z)) AS p FROM r$k)),
         |m$k AS MATERIALIZED (
         |  SELECT
         |    sum(${pinSql("w")}) AS a00,
         |    sum(${pinSql("w * x1")}) AS a01,
         |    sum(${pinSql("w * x2")}) AS a02,
         |    sum(${pinSql("w * x1 * x1")}) AS a11,
         |    sum(${pinSql("w * x1 * x2")}) AS a12,
         |    sum(${pinSql("w * x2 * x2")}) AS a22,
         |    sum(${pinSql("y - p")}) AS g0,
         |    sum(${pinSql("(y - p) * x1")}) AS g1,
         |    sum(${pinSql("(y - p) * x2")}) AS g2,
         |    sum(${pinSql("y * z - ln(1.0 + exp(z))")}) AS ll
         |  FROM p$k),
         |i$k AS MATERIALIZED (
         |  SELECT *,
         |    a00d * (a11d * a22d - a12d * a12d)
         |      - a01d * (a01d * a22d - a12d * a02d)
         |      + a02d * (a01d * a12d - a11d * a02d) AS det
         |  FROM (SELECT CAST(a00 AS DOUBLE) AS a00d,
         |      CAST(a01 AS DOUBLE) AS a01d, CAST(a02 AS DOUBLE) AS a02d,
         |      CAST(a11 AS DOUBLE) AS a11d, CAST(a12 AS DOUBLE) AS a12d,
         |      CAST(a22 AS DOUBLE) AS a22d, CAST(g0 AS DOUBLE) AS g0d,
         |      CAST(g1 AS DOUBLE) AS g1d, CAST(g2 AS DOUBLE) AS g2d,
         |      CAST(ll AS DOUBLE) AS lld
         |    FROM m$k)),
         |beta$k AS MATERIALIZED (
         |  SELECT CAST($k AS BIGINT) AS iter,
         |    ${bref("b0")}
         |      + ((a11d * a22d - a12d * a12d) / det) * g0d
         |      + ((a02d * a12d - a01d * a22d) / det) * g1d
         |      + ((a01d * a12d - a02d * a11d) / det) * g2d AS b0,
         |    ${bref("b1")}
         |      + ((a02d * a12d - a01d * a22d) / det) * g0d
         |      + ((a00d * a22d - a02d * a02d) / det) * g1d
         |      + ((a02d * a01d - a00d * a12d) / det) * g2d AS b1,
         |    ${bref("b2")}
         |      + ((a01d * a12d - a02d * a11d) / det) * g0d
         |      + ((a02d * a01d - a00d * a12d) / det) * g1d
         |      + ((a00d * a11d - a01d * a01d) / det) * g2d AS b2,
         |    lld AS ll
         |  FROM i$k)""".stripMargin
    }
    s"""base AS MATERIALIZED (
       |  SELECT event_id,
       |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
       |      AS y,
       |    value / 100.0 AS x1,
       |    CAST(hour(ts) AS DOUBLE) / 24.0 AS x2
       |  FROM events),
       |beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${step(1)},
       |${step(2)}""".stripMargin
  }

  /** Tree oracle: identical binning, stacked histograms, prefix-sum
    * boundary candidates, mirrored Gini-gain doubles, same argmax order. */
  private def treeStumpSql: String = {
    def gini(n: String, p: String): String = {
      val q = s"(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))"
      val q0 = s"((CAST($n AS DOUBLE) - CAST($p AS DOUBLE)) / CAST($n AS DOUBLE))"
      s"(1.0 - $q * $q - $q0 * $q0)"
    }
    val gainSql = s"${gini("nt", "pt")} - " +
      s"(CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * ${gini("nl", "pl")} - " +
      s"(CAST(nr AS DOUBLE) / CAST(nt AS DOUBLE)) * ${gini("nr", "pr")}"
    // One level: rowsK (node, yl, b1, b2) → bstK (best split per node).
    def level(k: Int): String =
      s"""h$k AS (SELECT node, feat, bin, count(*) AS n,
         |    CAST(sum(yl) AS BIGINT) AS p
         |  FROM (SELECT node, yl, 'x1' AS feat, b1 AS bin FROM rows$k
         |        UNION ALL SELECT node, yl, 'x2', b2 FROM rows$k)
         |  WHERE bin IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |c$k AS (SELECT *, nt - nl AS nr, pt - pl AS pr FROM (
         |    SELECT node, feat, bin,
         |      CAST(coalesce(sum(n) OVER (PARTITION BY node, feat
         |        ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND 1 PRECEDING), 0) AS BIGINT) AS nl,
         |      CAST(coalesce(sum(p) OVER (PARTITION BY node, feat
         |        ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND 1 PRECEDING), 0) AS BIGINT) AS pl,
         |      CAST(sum(n) OVER (PARTITION BY node, feat) AS BIGINT) AS nt,
         |      CAST(sum(p) OVER (PARTITION BY node, feat) AS BIGINT) AS pt
         |    FROM h$k) WHERE nl > 0),
         |bst$k AS MATERIALIZED (
         |  SELECT node, feat, bin, gain, nl, pl, nr, pr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, feat, bin) AS rn
         |    FROM (SELECT *, ${r6Sql(gainSql)} AS gain FROM c$k))
         |  WHERE rn = 1)""".stripMargin
    s"""WITH base AS MATERIALIZED (
       |  SELECT CASE WHEN event_type = 'purchase'
       |      THEN CAST(1 AS BIGINT) ELSE 0 END AS yl,
       |    value / 100.0 AS x1,
       |    CAST(hour(ts) AS DOUBLE) / 24.0 AS x2
       |  FROM events),
       |mm AS (SELECT min(x1) AS mn1, max(x1) AS mx1,
       |    min(x2) AS mn2, max(x2) AS mx2 FROM base),
       |rows0 AS MATERIALIZED (
       |  SELECT CAST(0 AS BIGINT) AS node, yl,
       |    CASE WHEN x1 IS NOT NULL THEN
       |      least(CAST(floor(((x1 - mm.mn1) / (mm.mx1 - mm.mn1)) * 16.0)
       |        AS BIGINT), CAST(15 AS BIGINT)) END AS b1,
       |    CASE WHEN x2 IS NOT NULL THEN
       |      least(CAST(floor(((x2 - mm.mn2) / (mm.mx2 - mm.mn2)) * 16.0)
       |        AS BIGINT), CAST(15 AS BIGINT)) END AS b2
       |  FROM base, mm),
       |${level(0)},
       |rows1 AS MATERIALIZED (
       |  SELECT CASE WHEN (CASE WHEN b.feat = 'x1' THEN r.b1 ELSE r.b2 END)
       |      < b.bin THEN CAST(1 AS BIGINT) ELSE 2 END AS node,
       |    r.yl, r.b1, r.b2
       |  FROM rows0 r, bst0 b),
       |${level(1)},
       |sel AS (SELECT * FROM bst0 UNION ALL SELECT * FROM bst1)
       |SELECT node, feat, bin AS split_bin,
       |  ${r6Sql("CASE WHEN feat = 'x1' THEN mm.mn1 + " +
           "(CAST(bin AS DOUBLE) * (mm.mx1 - mm.mn1)) / 16.0 " +
           "ELSE mm.mn2 + (CAST(bin AS DOUBLE) * (mm.mx2 - mm.mn2)) / 16.0 " +
           "END")} AS thr,
       |  gain, nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right,
       |  ${r6Sql("CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)")} AS leaf_left,
       |  ${r6Sql("CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE)")} AS leaf_right
       |FROM sel, mm ORDER BY node""".stripMargin
  }

  /** GBM-trajectory oracle: 2 generated rounds, each with identical
    * per-row gradient/hessian doubles at the CURRENT margins,
    * DECIMAL-pinned histogram sums, mirrored ½·G²/H gain, Newton
    * leaves, margin update, and before/after logloss aggregates. */
  private def gbmRoundSql: String = {
    val r6g = r6Sql("(gld * gld / hld + gr * gr / hr - gtd * gtd / htd) " +
      "* 0.5")
    def round(r: Int): String = {
      val prev = s"m${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT y, b1, b2, f, 1.0 / (1.0 + exp(-f)) AS p FROM $prev),
         |lb$r AS (SELECT
         |    sum(CAST(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))
         |      AS DECIMAL(30,14))) AS l,
         |    count(*) AS cnt FROM p$r),
         |hist$r AS (SELECT feat, bin, count(*) AS n,
         |    sum(CAST(p - y AS DECIMAL(30,14))) AS gs,
         |    sum(CAST(p * (1.0 - p) AS DECIMAL(30,14))) AS hs
         |  FROM (SELECT 'x1' AS feat, b1 AS bin, p, y FROM p$r
         |        UNION ALL SELECT 'x2', b2, p, y FROM p$r)
         |  WHERE bin IS NOT NULL
         |  GROUP BY 1, 2),
         |cand$r AS (SELECT *, nt - nl AS nr,
         |    CAST(gt - gl AS DOUBLE) AS gr, CAST(ht - hl AS DOUBLE) AS hr,
         |    CAST(gl AS DOUBLE) AS gld, CAST(hl AS DOUBLE) AS hld,
         |    CAST(gt AS DOUBLE) AS gtd, CAST(ht AS DOUBLE) AS htd
         |  FROM (
         |    SELECT feat, bin,
         |      CAST(coalesce(sum(n) OVER wb, 0) AS BIGINT) AS nl,
         |      coalesce(sum(gs) OVER wb, CAST(0 AS DECIMAL(30,14))) AS gl,
         |      coalesce(sum(hs) OVER wb, CAST(0 AS DECIMAL(30,14))) AS hl,
         |      CAST(sum(n) OVER wa AS BIGINT) AS nt,
         |      sum(gs) OVER wa AS gt, sum(hs) OVER wa AS ht
         |    FROM hist$r
         |    WINDOW wb AS (PARTITION BY feat ORDER BY bin
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      wa AS (PARTITION BY feat))
         |  WHERE nl > 0),
         |best$r AS MATERIALIZED (SELECT * FROM (
         |    SELECT *, $r6g AS gain,
         |      row_number() OVER (ORDER BY $r6g DESC, feat, bin) AS rn
         |    FROM cand$r) WHERE rn = 1),
         |m$r AS MATERIALIZED (
         |  SELECT q.y, q.b1, q.b2,
         |    q.f + CASE WHEN
         |      (CASE WHEN b.feat = 'x1' THEN q.b1 ELSE q.b2 END) < b.bin
         |      THEN -0.3 * b.gld / b.hld
         |      ELSE -0.3 * b.gr / b.hr END AS f
         |  FROM p$r q, best$r b),
         |la$r AS (SELECT
         |    sum(CAST(-(y * ln(pp) + (1.0 - y) * ln(1.0 - pp))
         |      AS DECIMAL(30,14))) AS l2
         |  FROM (SELECT y, 1.0 / (1.0 + exp(-f)) AS pp FROM m$r)),
         |row$r AS (SELECT CAST($r AS BIGINT) AS round, feat,
         |    bin AS split_bin, gain, nl AS n_left, nr AS n_right,
         |    ${r6Sql("gld")} AS g_left, ${r6Sql("hld")} AS h_left,
         |    ${r6Sql("gr")} AS g_right, ${r6Sql("hr")} AS h_right,
         |    ${r6Sql("-0.3 * gld / hld")} AS leaf_left,
         |    ${r6Sql("-0.3 * gr / hr")} AS leaf_right,
         |    ${r6Sql("CAST(l AS DOUBLE) / cnt")} AS logloss_before,
         |    ${r6Sql("CAST(l2 AS DOUBLE) / cnt")} AS logloss_after
         |  FROM best$r, lb$r, la$r)""".stripMargin
    }
    s"""WITH base AS MATERIALIZED (
       |  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
       |      AS y,
       |    value / 100.0 AS x1,
       |    CAST(hour(ts) AS DOUBLE) / 24.0 AS x2
       |  FROM events),
       |mm AS (SELECT min(x1) AS mn1, max(x1) AS mx1,
       |    min(x2) AS mn2, max(x2) AS mx2,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS npos,
       |    count(*) AS nn FROM base),
       |m0 AS MATERIALIZED (
       |  SELECT y, f, b1, b2
       |  FROM (SELECT y,
       |      ln(CAST(npos AS DOUBLE)
       |        / (CAST(nn AS DOUBLE) - CAST(npos AS DOUBLE))) AS f,
       |      CASE WHEN x1 IS NOT NULL THEN
       |        least(CAST(floor(((x1 - mn1) / (mx1 - mn1)) * 16.0)
       |          AS BIGINT), CAST(15 AS BIGINT)) END AS b1,
       |      CASE WHEN x2 IS NOT NULL THEN
       |        least(CAST(floor(((x2 - mn2) / (mx2 - mn2)) * 16.0)
       |          AS BIGINT), CAST(15 AS BIGINT)) END AS b2
       |    FROM base, mm)),
       |${round(1)},
       |${round(2)}
       |SELECT * FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2)
       |ORDER BY round""".stripMargin
  }

  private def logisticSql: String =
    s"""WITH $irlsCtes
       |SELECT iter, ${r6Sql("b0")} AS b0, ${r6Sql("b1")} AS b1,
       |  ${r6Sql("b2")} AS b2, ${r6Sql("ll")} AS loglik
       |FROM (SELECT * FROM beta1 UNION ALL SELECT * FROM beta2)
       |ORDER BY iter""".stripMargin

  /** Shared scored-frame CTE on top of the IRLS prefix. */
  private def scoredCte: String =
    s"""scored AS MATERIALIZED (
       |  SELECT b.event_id, b.y,
       |    1.0 / (1.0 + exp(-((SELECT b0 FROM beta2)
       |      + (SELECT b1 FROM beta2) * b.x1
       |      + (SELECT b2 FROM beta2) * b.x2))) AS p
       |  FROM base b)""".stripMargin

  /** gbm_tree_round oracle: the depth-2 boosting chain generated per
    * round (root histogram → argmax → node assignment → node-conditioned
    * histogram → per-node argmax with Newton fallback → margin update →
    * losses + held-out midrank AUC), on top of the shared irlsCtes base
    * (for the event_id split) and scoredCte (for the IRLS baseline AUC
    * on the same held-out slice). */
  private def gbmTreeSql: String = {
    val gainRaw = "(gld * gld / hld + gr * gr / hr - gtd * gtd / htd) * 0.5"
    def prefixed(src: String, parts: String): String =
      s"""SELECT *, nt - nl AS nr,
         |    CAST(gt - gl AS DOUBLE) AS gr, CAST(ht - hl AS DOUBLE) AS hr,
         |    CAST(gl AS DOUBLE) AS gld, CAST(hl AS DOUBLE) AS hld,
         |    CAST(gt AS DOUBLE) AS gtd, CAST(ht AS DOUBLE) AS htd
         |  FROM (
         |    SELECT *,
         |      CAST(coalesce(sum(n) OVER wb, 0) AS BIGINT) AS nl,
         |      coalesce(sum(gs) OVER wb, CAST(0 AS DECIMAL(30,14))) AS gl,
         |      coalesce(sum(hs) OVER wb, CAST(0 AS DECIMAL(30,14))) AS hl,
         |      CAST(sum(n) OVER wa AS BIGINT) AS nt,
         |      sum(gs) OVER wa AS gt, sum(hs) OVER wa AS ht
         |    FROM $src
         |    WINDOW wb AS (PARTITION BY $parts ORDER BY bin
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      wa AS (PARTITION BY $parts))
         |  WHERE nl > 0""".stripMargin
    def round(r: Int): String = {
      val prev = s"tm${r - 1}"
      s"""tp$r AS MATERIALIZED (
         |  SELECT ho, y, b1, b2, f, 1.0 / (1.0 + exp(-f)) AS p
         |  FROM $prev),
         |th$r AS (SELECT feat, bin, count(*) AS n,
         |    sum(CAST(p - y AS DECIMAL(30,14))) AS gs,
         |    sum(CAST(p * (1.0 - p) AS DECIMAL(30,14))) AS hs
         |  FROM (SELECT 'x1' AS feat, b1 AS bin, p, y FROM tp$r
         |          WHERE NOT ho
         |        UNION ALL SELECT 'x2', b2, p, y FROM tp$r WHERE NOT ho)
         |  WHERE bin IS NOT NULL
         |  GROUP BY 1, 2),
         |tc$r AS (${prefixed(s"th$r", "feat")}),
         |tb$r AS MATERIALIZED (SELECT * FROM (
         |    SELECT *, row_number() OVER (ORDER BY gain DESC, feat, bin)
         |      AS rn
         |    FROM (SELECT *, ${r6Sql(gainRaw)} AS gain FROM tc$r))
         |  WHERE rn = 1),
         |ta$r AS MATERIALIZED (
         |  SELECT q.ho, q.y, q.b1, q.b2, q.f, q.p,
         |    CASE WHEN (CASE WHEN b.feat = 'x1' THEN q.b1 ELSE q.b2 END)
         |      < b.bin THEN CAST(1 AS BIGINT) ELSE 2 END AS node
         |  FROM tp$r q, tb$r b),
         |nh$r AS (SELECT node, feat, bin, count(*) AS n,
         |    sum(CAST(p - y AS DECIMAL(30,14))) AS gs,
         |    sum(CAST(p * (1.0 - p) AS DECIMAL(30,14))) AS hs
         |  FROM (SELECT node, 'x1' AS feat, b1 AS bin, p, y FROM ta$r
         |          WHERE NOT ho
         |        UNION ALL SELECT node, 'x2', b2, p, y FROM ta$r
         |          WHERE NOT ho)
         |  WHERE bin IS NOT NULL
         |  GROUP BY 1, 2, 3),
         |nc$r AS (${prefixed(s"nh$r", "node, feat")}),
         |nb$r AS MATERIALIZED (SELECT node, feat AS cf, bin AS cb,
         |    -0.3 * gld / hld AS wl, -0.3 * gr / hr AS wr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, feat, bin) AS rn
         |    FROM (SELECT *, ${r6Sql(gainRaw)} AS gain FROM nc$r))
         |  WHERE rn = 1),
         |ns$r AS (SELECT node,
         |    -0.3 * CAST(sum(CAST(p - y AS DECIMAL(30,14))) AS DOUBLE)
         |      / CAST(sum(CAST(p * (1.0 - p) AS DECIMAL(30,14)))
         |          AS DOUBLE) AS wn
         |  FROM ta$r WHERE NOT ho GROUP BY node),
         |tm$r AS MATERIALIZED (
         |  SELECT a.ho, a.y, a.b1, a.b2,
         |    a.f + CASE WHEN nb.cf IS NULL THEN ns.wn
         |      WHEN (CASE WHEN nb.cf = 'x1' THEN a.b1 ELSE a.b2 END)
         |        < nb.cb THEN nb.wl
         |      ELSE nb.wr END AS f
         |  FROM ta$r a
         |  LEFT JOIN nb$r nb ON a.node = nb.node
         |  JOIN ns$r ns ON a.node = ns.node),
         |tl$r AS (SELECT
         |    sum(CAST(-(y * ln(pp) + (1.0 - y) * ln(1.0 - pp))
         |      AS DECIMAL(30,14))) AS l, count(*) AS cnt
         |  FROM (SELECT y, 1.0 / (1.0 + exp(-f)) AS pp FROM tm$r
         |        WHERE NOT ho)),
         |hl$r AS (SELECT
         |    sum(CAST(-(y * ln(pp) + (1.0 - y) * ln(1.0 - pp))
         |      AS DECIMAL(30,14))) AS hlo, count(*) AS hcnt
         |  FROM (SELECT y, 1.0 / (1.0 + exp(-f)) AS pp FROM tm$r
         |        WHERE ho)),
         |po$r AS (SELECT pv, count(*) AS c, CAST(sum(y1) AS BIGINT) AS c1
         |  FROM (SELECT ${r6Sql("1.0 / (1.0 + exp(-f))")} AS pv,
         |          CAST(y AS BIGINT) AS y1
         |        FROM tm$r WHERE ho)
         |  GROUP BY pv),
         |rk$r AS (SELECT pv, c, c1,
         |    2 * coalesce(sum(c) OVER (ORDER BY pv
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 AS rank2
         |  FROM po$r),
         |au$r AS (SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
         |    CAST(sum(c - c1) AS BIGINT) AS n_neg,
         |    CAST(sum(c1 * rank2) AS BIGINT) AS r1_x2
         |  FROM rk$r),
         |ch$r AS (SELECT
         |    max(CASE WHEN node = 1 THEN cf END) AS feat_l,
         |    max(CASE WHEN node = 1 THEN cb END) AS bin_l,
         |    max(CASE WHEN node = 2 THEN cf END) AS feat_r,
         |    max(CASE WHEN node = 2 THEN cb END) AS bin_r
         |  FROM nb$r),
         |row$r AS (SELECT CAST($r AS BIGINT) AS round,
         |    b.feat AS root_feat, b.bin AS root_bin, b.gain AS root_gain,
         |    ch.feat_l, ch.bin_l, ch.feat_r, ch.bin_r,
         |    ${r6Sql("CAST(l AS DOUBLE) / cnt")} AS train_logloss,
         |    ${r6Sql("CAST(hlo AS DOUBLE) / hcnt")} AS holdout_logloss,
         |    ${r6Sql("CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE) / " +
             "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")}
         |      AS holdout_auc
         |  FROM tb$r b, ch$r ch, tl$r, hl$r, au$r)""".stripMargin
    }
    s"""WITH $irlsCtes,
       |$scoredCte,
       |gb AS MATERIALIZED (
       |  SELECT event_id, y, x1, x2, (event_id % 5 = 0) AS ho FROM base),
       |gmm AS (SELECT min(x1) AS mn1, max(x1) AS mx1,
       |    min(x2) AS mn2, max(x2) AS mx2,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS npos,
       |    count(*) AS nn
       |  FROM gb WHERE NOT ho),
       |tm0 AS MATERIALIZED (
       |  SELECT ho, y, f, b1, b2
       |  FROM (SELECT ho, y,
       |      ln(CAST(npos AS DOUBLE)
       |        / (CAST(nn AS DOUBLE) - CAST(npos AS DOUBLE))) AS f,
       |      CASE WHEN x1 IS NOT NULL THEN
       |        least(CAST(floor(((x1 - mn1) / (mx1 - mn1)) * 16.0)
       |          AS BIGINT), CAST(15 AS BIGINT)) END AS b1,
       |      CASE WHEN x2 IS NOT NULL THEN
       |        least(CAST(floor(((x2 - mn2) / (mx2 - mn2)) * 16.0)
       |          AS BIGINT), CAST(15 AS BIGINT)) END AS b2
       |    FROM gb, gmm)),
       |${round(1)},
       |${round(2)},
       |ipo AS (SELECT pv, count(*) AS c, CAST(sum(y1) AS BIGINT) AS c1
       |  FROM (SELECT ${r6Sql("p")} AS pv, CAST(y AS BIGINT) AS y1
       |        FROM scored WHERE event_id % 5 = 0)
       |  GROUP BY pv),
       |irk AS (SELECT pv, c, c1,
       |    2 * coalesce(sum(c) OVER (ORDER BY pv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + c + 1 AS rank2
       |  FROM ipo),
       |iau AS (SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
       |    CAST(sum(c - c1) AS BIGINT) AS n_neg,
       |    CAST(sum(c1 * rank2) AS BIGINT) AS r1_x2
       |  FROM irk)
       |SELECT r.*,
       |  ${r6Sql("CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE) / " +
           "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")}
       |    AS irls_holdout_auc
       |FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2) r, iau
       |ORDER BY round""".stripMargin
  }

  private def calibrationSql: String =
    s"""WITH $irlsCtes,
       |$scoredCte,
       |pooled AS (
       |  SELECT ${r6Sql("p")} AS pv, count(*) AS c,
       |    sum(y) AS c1, sum(CAST(p AS DECIMAL(30,14))) AS sp
       |  FROM scored GROUP BY 1),
       |cum AS (
       |  SELECT pv, c, c1, sp,
       |    coalesce(sum(c) OVER (ORDER BY pv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |    sum(c) OVER () AS n_all
       |  FROM pooled),
       |dcl AS (SELECT *, (cb * 10) // n_all + 1 AS decile FROM cum)
       |SELECT CAST(decile AS BIGINT) AS decile,
       |  CAST(sum(c) AS BIGINT) AS n,
       |  ${r6Sql("CAST(sum(sp) AS DOUBLE) / sum(c)")} AS mean_pred,
       |  ${r6Sql("sum(c1) / sum(c)")} AS purchase_rate,
       |  ${r6Sql(
           "abs(" + r6Sql("CAST(sum(sp) AS DOUBLE) / sum(c)")
             + " - " + r6Sql("sum(c1) / sum(c)") + ")")} AS gap
       |FROM dcl GROUP BY decile ORDER BY decile""".stripMargin

  private def aucSql: String =
    s"""WITH $irlsCtes,
       |$scoredCte,
       |pooled AS (
       |  SELECT ${r6Sql("p")} AS pv, count(*) AS c,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS c1
       |  FROM scored GROUP BY 1),
       |ranked AS (
       |  SELECT pv, c, c1,
       |    2 * coalesce(sum(c) OVER (ORDER BY pv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + c + 1 AS rank2
       |  FROM pooled),
       |g AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
       |    CAST(sum(c - c1) AS BIGINT) AS n_neg,
       |    CAST(sum(c1 * rank2) AS BIGINT) AS r1_x2
       |  FROM ranked)
       |SELECT n_pos, n_neg,
       |  ${r6Sql("CAST(r1_x2 - n_pos * (n_pos + 1) AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")}
       |    AS auc
       |FROM g""".stripMargin

  /** Mann-Whitney U rank-sum test (r9) — the NONPARAMETRIC two-sample
    * companion to abtest_ztest (Mann & Whitney 1947, public statistic):
    * where the z-test compares a thresholded rate, U compares the whole
    * value DISTRIBUTION of week 1 vs week 4 per event type with no
    * normality assumption — the robust readout when values are skewed
    * (revenue-per-event always is). Pooled values get average ranks
    * (ties share the midrank); U₁ = R₁ − n₁(n₁+1)/2; z uses the
    * tie-corrected variance n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))).
    *
    * Exactness: average ranks live in HALVES, so everything is carried
    * ×2 as BIGINT (rank2 = 2·rank, u1_x2 = 2·U₁ — also the emitted
    * form) and every sum is exact integer arithmetic; z is ONE mirrored
    * double expression over exact ints (casts of identical ints, IEEE
    * division/sqrt — the abtest_ztest determinism argument). Headroom:
    * Σ c₁·rank2 < n·(2N+1) stays BIGINT-exact to ~10⁹ rows; the tie
    * cube Σ(t³−t) is carried in DECIMAL(38,0) (HUGEINT on the oracle),
    * exact at any tie-group size — no latent ANSI overflow abort. Scale shape: one (type,
    * value) groupBy shuffle, rank windows over the per-value aggregate
    * (≤ distinct values rows), final rollup per type. */
  val mannWhitneyU: QFn = (s, dir) => {
    val isA = col("ts_us") < lit(1704672000000000L)
    val isB = col("ts_us") >= lit(1705881600000000L)
    val pooled = t(s, dir, "events")
      .filter((isA || isB) && col("value").isNotNull)
      .select(col("event_type"), col("value"),
        when(isA, 1L).otherwise(0L).as("in1"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"), sum(col("in1")).as("c1"))
    val wBefore = Window.partitionBy(col("event_type"))
      .orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = pooled
      // 2× the shared midrank of this tie group: 2·before + c + 1
      .withColumn("rank2",
        lit(2) * coalesce(sum(col("c")).over(wBefore), lit(0L))
          + col("c") + lit(1))
      .groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"),
        sum(col("c") - col("c1")).as("n2"),
        sum(col("c1") * col("rank2")).as("r1_x2"),
        // DECIMAL(38,0) pins the cube term exact at ANY tie-group size
        // (the BIGINT form overflows once one (type,value) group passes
        // ~2.1M rows -> mid-job ANSI abort); DuckDB mirrors via HUGEINT.
        sum(col("c").cast("decimal(38,0)") * col("c") * col("c")
          - col("c")).as("ties"))
    val n = col("n1") + col("n2")
    val u1x2 = col("r1_x2") - col("n1") * (col("n1") + lit(1))
    // nullif-guarded tie denominator: a group with ONE pooled value has
    // n(n-1) = 0 — ANSI mode turns that into DIVIDE_BY_ZERO mid-job (the
    // EdgeCorpusSpec finding); null z for a 1-observation group is the
    // correct report. Mirrored in the oracle.
    // greatest(…, 0): the all-ties bracket is exactly 0 in real
    // arithmetic but can round to -ulp in double — DuckDB HARD-ERRORS
    // on sqrt(negative), so both engines clamp identically.
    val sigma = sqrt(greatest((dbl(col("n1")) * dbl(col("n2")) / lit(12.0)) *
      (dbl(n + lit(1)) - dbl(col("ties")) /
        nullif(dbl(n) * dbl(n - lit(1)), lit(0.0))), lit(0.0)))
    g.select(col("event_type"), col("n1"), col("n2"),
        u1x2.as("u1_x2"),
        r6(((dbl(u1x2) - dbl(col("n1") * col("n2"))) / lit(2.0)) /
          nullif(sigma, lit(0.0))).as("z"))
      .orderBy(col("event_type"))
  }

  /** Day-of-week seasonal decomposition (r5) — the seasonal-naive model
    * behind traffic forecasting and anomaly baselines: per (event type,
    * day-of-week), the seasonal index = mean daily count for that dow ÷
    * overall mean daily count. Counts are exact ints; each index is a
    * ratio of two exact means — computed as (sum_dow · n_days) /
    * (n_dow_days · total), ONE double division per output row (the
    * algebraic form that avoids dividing twice). One daily-count
    * shuffle; everything after runs on the per-(type, dow) aggregate
    * (≤ 7·types rows at any corpus size). */
  val seasonalDow: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", expr("(day + 4) % 7")) // epoch day 0 = Thursday
    val wT = Window.partitionBy(col("event_type"))
    daily
      .withColumn("total", sum(col("c")).over(wT))
      .withColumn("n_days", count(lit(1)).over(wT))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_dow_days"), sum(col("c")).as("sum_dow"),
        max(col("total")).as("total"), max(col("n_days")).as("n_days"))
      .select(col("event_type"), col("dow"), col("n_dow_days"),
        col("sum_dow"),
        r6(dbl(col("sum_dow") * col("n_days")) /
          dbl(col("n_dow_days") * col("total"))).as("seasonal_idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Sample autocorrelation of the daily event-count series at lags 1-3
    * per event type (r8) — the ACF a monitoring pipeline fits before
    * alerting on traffic periodicity. The standard estimator
    * r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ_t(x_t−x̄)² is float-fragile
    * (x̄ is a ratio); multiplying every deviation by n makes each term
    * n·x_t − S — an INTEGER — so numerator and denominator are exact
    * BIGINT sums (the n² factors cancel in the ratio) and the only float
    * op is one final division per (type, lag) row. Headroom: d² needs
    * (n·x_max)² < 2⁶³, i.e. daily counts up to ~5·10⁷ at a 3-year
    * horizon — beyond that, swap the squares to DECIMAL(38,0) (still
    * exact and order-free). The window runs over the per-day aggregate
    * (≤ days·types rows at any corpus size), so the single data-sized
    * shuffle is the daily groupBy. */
  val acfLag: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val wT = Window.partitionBy(col("event_type"))
    val wO = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s", sum(col("c")).over(wT))
      .withColumn("d", col("n") * col("c") - col("s"))
      .withColumn("d1", lag(col("d"), 1).over(wO))
      .withColumn("d2", lag(col("d"), 2).over(wO))
      .withColumn("d3", lag(col("d"), 3).over(wO))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(col("d") * col("d")).as("den"),
        sum(col("d") * col("d1")).as("num1"),
        sum(col("d") * col("d2")).as("num2"),
        sum(col("d") * col("d3")).as("num3"))
      .select(col("event_type"), col("n_days"), col("den"),
        expr("stack(3, 1L, num1, 2L, num2, 3L, num3) AS (lag_k, num)"))
      .select(col("event_type"), col("lag_k"), col("n_days"),
        r6(dbl(col("num")) / nullif(dbl(col("den")), lit(0.0))).as("acf"))
      .orderBy(col("event_type"), col("lag_k"))
  }

  /** RFM (recency / frequency / monetary) segmentation (r8) — the
    * classic customer-analytics rollup. Per-user metrics reduce in one
    * shuffle (day max, count, exact DECIMAL money sum); quartile
    * boundaries come from ONE exact-percentile aggregate over the
    * per-user rollup, broadcast back — NOT from a global ntile window,
    * whose single-partition sort is the thing that dies first at 10⁹
    * users (threshold semantics: quartile = 1 + #thresholds strictly
    * exceeded toward "better"; every percentile input is an INTEGER —
    * monetary is thresholded on the exact ×10⁴-scaled BIGINT of the
    * DECIMAL(14,4) sum, not the double — so a+frac·(b−a) with dyadic
    * frac ∈ {¼,½,¾} is exact in double and bitwise engine-identical
    * no matter which interpolation formula each engine uses). Output
    * is the 4³ segment grid. */
  val rfmSegment: QFn = (s, dir) => {
    val pu = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(expr("ts_us div 86400000000")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(dec(col("value"), 14, 4)).as("mon_d"))
      .withColumn("mon_i", (col("mon_d") * lit(10000)).cast("long"))
      .withColumn("mon", dbl(col("mon_d")))
    val th = pu.agg(
      expr("percentile(last_day, array(0.25, 0.5, 0.75))").as("tr"),
      expr("percentile(freq, array(0.25, 0.5, 0.75))").as("tf"),
      expr("percentile(mon_i, array(0.25, 0.5, 0.75))").as("tm"))
    def score(v: org.apache.spark.sql.Column, thr: String) =
      (lit(1L) + when(v > element_at(col(thr), 1), 1L).otherwise(0L)
        + when(v > element_at(col(thr), 2), 1L).otherwise(0L)
        + when(v > element_at(col(thr), 3), 1L).otherwise(0L))
    pu.crossJoin(broadcast(th))
      .select(col("user_id"), col("freq"), col("mon"),
        score(dbl(col("last_day")), "tr").as("r_q"),
        score(dbl(col("freq")), "tf").as("f_q"),
        score(dbl(col("mon_i")), "tm").as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq")).as("sum_freq"),
        r6(dbl(sum(dec(col("mon"), 18, 4))) / count(lit(1)))
          .as("avg_monetary"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Population Stability Index (r8) — the third member of the drift
    * family (drift_ks = numeric CDF gap, drift_chi2 = categorical,
    * drift_psi = the banded score-drift metric model-monitoring systems
    * actually alert on): PSI = Σ_bins (p₂−p₁)·ln(p₂/p₁) over 10 bins per
    * event type, bin edges = exact-rank deciles of the REFERENCE week
    * (winsorize's selection — no interpolation, engine-identical), with
    * add-one smoothing so empty bins contribute finite terms. Each
    * bin term is pinned DECIMAL(14,10) before the exact 10-term sum.
    * Scale shape: the edge table is 5 rows broadcast; binning is a
    * per-row codegen'd comparison chain; one groupBy on (type, bin) —
    * the reference-edge sort is the only rank window, over the
    * reference slice per type. */
  val driftPsi: QFn = (s, dir) => {
    val isA = col("ts_us") < lit(1704672000000000L)
    val isB = col("ts_us") >= lit(1705881600000000L)
    val base = t(s, dir, "events")
      .filter((isA || isB) && col("value").isNotNull)
      .select(col("event_type"), col("value"),
        when(isA, 1L).otherwise(0L).as("ia"),
        when(isB, 1L).otherwise(0L).as("ib"))
    val ref = base.filter(col("ia") === 1L)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("value"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
    val edges = ref.groupBy(col("event_type"))
      .agg(max(when(col("rn") === ceil(col("n") * lit(1) / lit(10.0)),
        col("value"))).as("e1"),
        (2 to 9).map(k =>
          max(when(col("rn") === ceil(col("n") * lit(k) / lit(10.0)),
            col("value"))).as(s"e$k")): _*)
    val bin = (1 to 9).map(k =>
      when(col("value") > col(s"e$k"), 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    val counts = base.join(broadcast(edges), Seq("event_type"))
      .withColumn("bin", bin)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("ia")).as("c1"), sum(col("ib")).as("c2"))
    val spine = edges.select(col("event_type"),
      explode(sequence(lit(1L), lit(10L))).as("bin"))
    val wT = Window.partitionBy(col("event_type"))
    val p1 = dbl(col("c1") + 1) / dbl(col("n1") + 10)
    val p2 = dbl(col("c2") + 1) / dbl(col("n2") + 10)
    spine.join(counts, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .withColumn("n1", sum(col("c1")).over(wT))
      .withColumn("n2", sum(col("c2")).over(wT))
      .withColumn("term", dec((p2 - p1) * log(p2 / p1), 14, 10))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n_a"), max(col("n2")).as("n_b"),
        r6(dbl(sum(col("term")))).as("psi"))
      .orderBy(col("event_type"))
  }

  /** Cross-series correlation matrix (r8) — pairwise Pearson r between
    * event types' daily-count series (the co-movement diagnostic behind
    * incident correlation and capacity planning), over each pair's
    * COMMON days. Same exactness scheme as acf_lag: all five sums in
    * r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) are BIGINT-exact, so
    * the only float ops are one sqrt (IEEE-correctly-rounded on both
    * engines, unlike ln) and one division, under r6. Each variance
    * factor n·Σx²−(Σx)² is cast to double BEFORE the product (the
    * product of two factors each near 2⁶² would wrap silently in Spark
    * while DuckDB raises on BIGINT overflow); the per-factor headroom
    * is the same as acf_lag's: exact while n·Σc² < 2⁶³, i.e. per-type
    * daily counts below ~3×10⁹ over a 31-day window — ~10⁵× today's
    * sf0.1 volume. The pair join is
    * keyed on the day over the per-day aggregate (≤ days·types rows);
    * with T types the fan-out is C(T,2) per day — types are a
    * domain-bounded dimension, so this never tracks corpus size. */
  val corrMatrix: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val a = daily.select(col("event_type").as("ta"), col("day"),
      col("c").as("x"))
    val b = daily.select(col("event_type").as("tb"), col("day"),
      col("c").as("y"))
    val n = col("n")
    val (sx, sy) = (col("sx"), col("sy"))
    val (sxy, sxx, syy) = (col("sxy"), col("sxx"), col("syy"))
    a.join(b, Seq("day")).filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("ta"), col("tb"), col("n"),
        // nullif: a constant series has zero variance — null r, not an
        // ANSI DIVIDE_BY_ZERO abort (EdgeCorpusSpec finding)
        r6(dbl(n * sxy - sx * sy) /
          nullif(sqrt(dbl(n * sxx - sx * sx) * dbl(n * syy - sy * sy)),
            lit(0.0)))
          .as("pearson_r"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Spearman rank correlation (r9) between quantity and discount per
    * return flag — the monotone-association companion to agg_stats's
    * Pearson: rank-based, so it is outlier-immune and captures any
    * monotone (not just linear) relation, which is why drift/feature
    * audits prefer it on heavy-tailed columns. Exactness: midranks are
    * carried ×2 as BIGINTs (mann_whitney's device) over the
    * DISTINCT-VALUE aggregate (≤50 quantities / ≤11 discounts per flag,
    * so the rank windows run over a tiny table, not the corpus), then
    * CENTERED to u = rank2 − (n+1), whose per-flag sum is identically 0 —
    * so rho = Σuxuy / (√Σux²·√Σuy²) needs no mean subtraction and every
    * sum is an exact BIGINT (each √ factor is cast to double SEPARATELY —
    * the corr_matrix overflow lesson). Headroom: |u| ≤ 2n makes Σu² ≈ 4n³
    * exact while n ≲ 1.3×10⁶ rows/group (~6× sf0.1); beyond, pin each
    * product to DECIMAL(38,0) — same plan, still exact. Scale shape: two
    * tiny distinct-value aggs broadcast back onto the fact rows; the one
    * data-sized shuffle is the final per-flag sum. */
  val spearmanRho: QFn = (s, dir) => {
    val base = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_quantity").as("q"),
        col("l_discount").as("d"))
    def uRanks(valCol: String,
        uName: String): org.apache.spark.sql.DataFrame = {
      val c = base.groupBy(col("f"), col(valCol))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("f")).orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wF = Window.partitionBy(col("f"))
      c.select(col("f"), col(valCol),
        (lit(2L) * coalesce(sum(col("c")).over(wCum), lit(0L))
          + col("c") + lit(1L) - sum(col("c")).over(wF) - lit(1L))
          .as(uName))
    }
    base
      .join(broadcast(uRanks("q", "ux")), Seq("f", "q"))
      .join(broadcast(uRanks("d", "uy")), Seq("f", "d"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n"),
        sum(col("ux") * col("uy")).as("num"),
        sum(col("ux") * col("ux")).as("dx"),
        sum(col("uy") * col("uy")).as("dy"))
      .select(col("f").as("l_returnflag"), col("n"),
        r6(dbl(col("num")) /
          nullif(sqrt(dbl(col("dx"))) * sqrt(dbl(col("dy"))), lit(0.0)))
          .as("spearman_rho"))
      .orderBy(col("l_returnflag"))
  }

  /** Theil–Sen slope (r9) of the daily event-count series per type — the
    * robust trend estimator (median of all pairwise slopes, Sen 1968):
    * up to 29% of days can be arbitrarily corrupted (outage, backfill
    * spike) without moving it, which is why capacity trend lines use it
    * over least squares (agg_regression's estimator). Each slope is ONE
    * double division of exact BIGINT differences (IEEE-identical both
    * engines); the median is exact-rank selection over the (slope, d1,
    * d2)-totally-ordered pair list — the winsorize device, no
    * interpolation formula in play (the even case averages the two
    * middle slopes, one commutative double add). Scale shape: the pair
    * fan-out is C(days, 2) per type over the per-day AGGREGATE —
    * calendar-bounded (≤465 pairs/type for a 31-day window), never
    * corpus-sized; the one data-sized shuffle is the daily groupBy. */
  val theilSen: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val nd = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("c").as("c1"))
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("c").as("c2"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val wT = Window.partitionBy(col("event_type"))
    val sel = col("rn") === expr("(m + 1) div 2") ||
      col("rn") === expr("(m + 2) div 2")
    a.join(b, Seq("event_type")).filter(col("d2") > col("d1"))
      .select(col("event_type"), col("d1"), col("d2"),
        (dbl(col("c2") - col("c1")) / dbl(col("d2") - col("d1")))
          .as("slope"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wT))
      .groupBy(col("event_type"))
      .agg(max(col("m")).as("n_pairs"),
        sum(when(sel, col("slope"))).as("ssum"),
        count(when(sel, col("slope"))).as("sc"))
      .join(broadcast(nd), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        r6(col("ssum") / col("sc")).as("sen_slope"))
      .orderBy(col("event_type"))
  }

  /** One-way ANOVA F (r9) across event types on value — the "does the
    * group matter at all" omnibus test run before any pairwise
    * comparison (abtest_ztest / mann_whitney_u are its two-sample
    * specializations). Values are exact ×10⁴ BIGINTs via the DECIMAL
    * path (never a raw double×10⁴ cast, whose truncation differs
    * cross-engine), so per-group n/Σv/Σv² are exact; each group's
    * between/within term is one double expression over exact inputs,
    * pinned to DECIMAL(30,6) (identical rounding of identical doubles —
    * the pagerank device) so the ACROSS-GROUP sum is order-free. The ×10⁴
    * scale cancels in F and η². Headroom: Σv4² exact while rows/group ×
    * v4²_max ≲ 2⁶³ (~10× sf0.1 at today's magnitudes; beyond, the square
    * sum pins to DECIMAL(38,0)). One groupBy shuffle; the k-row group
    * table reduces on the driver-free 1-row aggregate. */
  val anovaF: QFn = (s, dir) => {
    val v4 = (dec(col("value"), 14, 4) * lit(10000)).cast("long")
    val g = t(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), v4.as("v4"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"), sum(col("v4")).as("sg"),
        sum(col("v4") * col("v4")).as("qg"))
    val bterm = dec(dbl(col("sg")) * dbl(col("sg")) / dbl(col("ng")), 30, 6)
    val wterm = dec(
      dbl(col("qg")) - dbl(col("sg")) * dbl(col("sg")) / dbl(col("ng")),
      30, 6)
    val ssb = dbl(col("bpart")) -
      dbl(col("s")) * dbl(col("s")) / dbl(col("n_rows"))
    g.select(col("ng"), col("sg"), bterm.as("bt"), wterm.as("wt"))
      .agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n_rows"),
        sum(col("sg")).as("s"), sum(col("bt")).as("bpart"),
        sum(col("wt")).as("ssw"))
      .select(col("k_groups"), col("n_rows"),
        r6((ssb / nullif(dbl(col("k_groups") - 1), lit(0.0))) /
          nullif(dbl(col("ssw")) /
            nullif(dbl(col("n_rows") - col("k_groups")), lit(0.0)),
            lit(0.0))).as("f_stat"),
        r6(ssb / nullif(ssb + dbl(col("ssw")), lit(0.0))).as("eta_sq"))
  }

  /** Holt linear (double-exponential) smoothing (r9) — the level+trend
    * forecaster (Holt 1957) capacity planning actually runs on daily
    * series, and the one inherently SEQUENTIAL recursion in the stats
    * family: l_t = αx_t + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b (α = β =
    * 0.5 — dyadic, so every multiply is exact), init l₁ = x₁,
    * b₁ = x₂−x₁. Spark folds the per-type day-ordered series with the
    * `aggregate` higher-order function (sequential by definition —
    * left-to-right over the sorted array, the ONLY evaluation order, so
    * cross-engine determinism needs no decimal pinning: both engines
    * execute the identical IEEE step chain); the oracle is a true
    * recursive CTE, proving fold ≡ recursion. Scale shape: the fold
    * runs on the per-type array of ≤days elements (calendar-bounded),
    * CodegenFallback irrelevant off the hot path; the one data-sized
    * shuffle is the daily groupBy. Forecast = level + 3·trend. */
  val holtLinear: QFn = (s, dir) => {
    val step = "named_struct(" +
      "'l', 0.5 * x + 0.5 * (acc.l + acc.b), " +
      "'b', 0.5 * ((0.5 * x + 0.5 * (acc.l + acc.b)) - acc.l) " +
      "+ 0.5 * acc.b)"
    t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("x"))))
        .as("ps"), count(lit(1)).as("n_days"))
      .filter(col("n_days") >= 2)
      .withColumn("xs", expr("transform(ps, p -> p.x)"))
      .withColumn("st", expr(
        "aggregate(slice(xs, 2, size(xs) - 1), " +
          "named_struct('l', element_at(xs, 1), " +
          "'b', element_at(xs, 2) - element_at(xs, 1)), " +
          s"(acc, x) -> $step)"))
      .select(col("event_type"), col("n_days"),
        r6(col("st.l")).as("level"), r6(col("st.b")).as("trend"),
        r6(col("st.l") + lit(3.0) * col("st.b")).as("forecast3"))
      .orderBy(col("event_type"))
  }

  /** Classical additive seasonal decomposition (r9) — x = trend +
    * seasonal + residual, the moving-average STL precursor every
    * monitoring stack runs before alerting on a daily series (an alert
    * on raw counts fires every weekend; one on residuals doesn't).
    * Trend = centered 7-day MA (full windows only — edges are null and
    * excluded, the standard convention); seasonal = day-of-week mean of
    * the detrended series; residual = detrended − seasonal. Exactness:
    * the window sum is an exact BIGINT, trend = sum/7.0 is one IEEE
    * division, and each detrended value is pinned DECIMAL(14,6)
    * (identical rounding of identical doubles) so the per-(type, dow)
    * seasonal mean has an order-free numerator. Scale shape: everything
    * after the one data-sized daily groupBy runs on the per-day
    * aggregate (≤ days·types rows); the dow means re-join broadcast. */
  val seasonalDecompose: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("s7", sum(col("c")).over(w7))
      .withColumn("n7", count(lit(1)).over(w7))
      .filter(col("n7") === 7)
      .withColumn("trend", dbl(col("s7")) / lit(7.0))
      .withColumn("det", dec(dbl(col("c")) - col("trend"), 14, 6))
      .withColumn("dow", pmod(col("day") + 4, lit(7)))
    val seas = det.groupBy(col("event_type"), col("dow"))
      .agg((dbl(sum(col("det"))) / count(lit(1))).as("seasonal_raw"))
    det.join(broadcast(seas), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("c"),
        r6(col("trend")).as("trend"),
        r6(col("seasonal_raw")).as("seasonal"),
        r6(dbl(col("det")) - col("seasonal_raw")).as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Partial autocorrelation at lags 1-3 (r9) — the AR-order diagnostic
    * read NEXT TO acf_lag (ACF tails off / PACF cuts off at the true AR
    * order — the Box-Jenkins identification step): Durbin-Levinson
    * recursion over the same exact-BIGINT autocorrelations acf_lag
    * emits (φ11 = r₁; φ22 = (r₂−r₁²)/(1−r₁²); φ33 from the level-2
    * coefficients). Each level is ONE bound column computed from the
    * previous bindings — the oracle binds the identical expressions in
    * nested CTE levels, so the double chains are literally the same
    * ops in the same order. Headroom is acf_lag's (exact while
    * n·x_max² < 2⁶³). Scale shape identical to acf_lag: one daily
    * groupBy shuffle, lag windows over the per-day aggregate. */
  val pacfLag: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val wT = Window.partitionBy(col("event_type"))
    val wO = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("s", sum(col("c")).over(wT))
      .withColumn("d", col("n") * col("c") - col("s"))
      .withColumn("d1", lag(col("d"), 1).over(wO))
      .withColumn("d2", lag(col("d"), 2).over(wO))
      .withColumn("d3", lag(col("d"), 3).over(wO))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(col("d") * col("d")).as("den"),
        sum(col("d") * col("d1")).as("num1"),
        sum(col("d") * col("d2")).as("num2"),
        sum(col("d") * col("d3")).as("num3"))
      // nullif guards: a 1-day or constant series has den = 0, and a
      // perfectly correlated series drives a level denominator to 0 —
      // null coefficients, never an ANSI abort (EdgeCorpusSpec finding).
      .withColumn("r1", dbl(col("num1")) / nullif(dbl(col("den")), lit(0.0)))
      .withColumn("r2", dbl(col("num2")) / nullif(dbl(col("den")), lit(0.0)))
      .withColumn("r3", dbl(col("num3")) / nullif(dbl(col("den")), lit(0.0)))
      .withColumn("p22",
        (col("r2") - col("r1") * col("r1")) /
          nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0)))
      .withColumn("p21", col("r1") - col("p22") * col("r1"))
      .withColumn("p33",
        (col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
          nullif(lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2"),
            lit(0.0)))
      .select(col("event_type"), col("n_days"),
        r6(col("r1")).as("pacf1"), r6(col("p22")).as("pacf2"),
        r6(col("p33")).as("pacf3"))
      .orderBy(col("event_type"))
  }

  /** Exact weighted median (r9) — price-level analytics' real median:
    * "the price at which half the QUANTITY trades", not half the rows
    * (the two diverge exactly when cheap lines carry bulk volume).
    * Selection semantics, zero interpolation: order rows by (price,
    * unique keys), accumulate exact integer weight, and the weighted
    * median is the first row where 2·cum ≥ total — implemented as
    * min(price) over the qualifying suffix (cum is monotone along the
    * price order, so the qualifying set IS a suffix). All weights are
    * exact BIGINTs (quantities are integer-valued); both engines pick
    * the identical row. Scale shape: one window + groupBy on the same
    * l_returnflag partitioning — one shuffle; at 100 TB the exact
    * selection yields to a weighted sketch, same output contract. */
  val weightedMedian: QFn = (s, dir) => {
    // r13: the selection rides the (flag, price) HISTOGRAM — the
    // qualifying set is price-suffix-closed, so a price qualifies iff
    // its group-INCLUSIVE prefix mass does (the last row of the group
    // was a qualifying row of the r12 per-row plan) — min over
    // qualifying groups == min over qualifying rows, bit-identical.
    // The r12 plan ran one whole-flag window per task (~N/3 lineitem
    // rows); the histogram is bounded by the extendedprice domain
    // (price × integer quantity variants — sublinear in lineitem).
    val wV = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy(col("l_returnflag"))
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("q")).as("hq"), count(lit(1)).as("hn"))
      .withColumn("ce", sum(col("hq")).over(wV))
      .withColumn("tot", sum(col("hq")).over(wT))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("hn")).as("n_rows"), max(col("tot")).as("total_qty"),
        min(when(col("ce") * 2 >= col("tot"), col("l_extendedprice")))
          .as("weighted_median_price"))
      .orderBy(col("l_returnflag"))
  }

  val queries: Map[String, QFn] = Map(
    "weighted_median"     -> weightedMedian,
    "pacf_lag"            -> pacfLag,
    "seasonal_decompose"  -> seasonalDecompose,
    "holt_linear"         -> holtLinear,
    "spearman_rho"        -> spearmanRho,
    "theil_sen"           -> theilSen,
    "anova_f"             -> anovaF,
    "mann_whitney_u"      -> mannWhitneyU,
    "logistic_irls"       -> logisticIrls,
    "tree_stump_train"    -> treeStumpTrain,
    "gbm_round"           -> gbmRound,
    "gbm_tree_round"      -> gbmTreeRound,
    "model_calibration"   -> modelCalibration,
    "model_auc"           -> modelAuc,
    "corr_matrix"         -> corrMatrix,
    "drift_psi"           -> driftPsi,
    "acf_lag"             -> acfLag,
    "rfm_segment"         -> rfmSegment,
    "seasonal_dow"        -> seasonalDow,
    "abtest_ztest"        -> abtestZtest,
    "winsorize_stats"     -> winsorizeStats,
    "markov_transitions"  -> markovTransitions,
    "cusum_changepoint"   -> cusumChangepoint,
    "gini_concentration"  -> giniConcentration,
    "survival_km"         -> survivalKm,
    "drift_ks"            -> driftKs,
    "outlier_mad"         -> outlierMad,
    "drift_chi2"          -> driftChi2,
    "stat_crosstab"       -> statCrosstab,
    "typed_reduce_groups" -> typedReduceGroups,
    "topk_per_group_agg" -> topkPerGroupAgg,
    "agg_regression"     -> aggRegression,
    "date_spine_fill"    -> dateSpineFill,
    "agg_stats"          -> aggStats,
    "agg_mode_median"    -> aggModeMedian,
    "agg_conditional"    -> aggConditional,
    "agg_listagg"        -> aggListagg,
    "agg_bitwise"        -> aggBitwise,
    "win_first_last_nth" -> winFirstLastNth,
    "win_percent_cume"   -> winPercentCume,
    "win_range_frame"    -> winRangeFrame)

  val oracle: Map[String, String] = Map(
    "weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  max(tot) AS total_qty,
        |  min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END)
        |    AS weighted_median_price
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "pacf_lag" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |dev AS (
         |  SELECT event_type, day,
         |    count(*) OVER tw * c - sum(c) OVER tw AS d
         |  FROM daily
         |  WINDOW tw AS (PARTITION BY event_type)),
         |lagd AS (
         |  SELECT event_type, d,
         |    lag(d, 1) OVER ow AS d1, lag(d, 2) OVER ow AS d2,
         |    lag(d, 3) OVER ow AS d3,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM dev
         |  WINDOW ow AS (PARTITION BY event_type ORDER BY day)),
         |m AS (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
         |    CAST(sum(d * d) AS BIGINT) AS den,
         |    CAST(sum(d * d1) AS BIGINT) AS num1,
         |    CAST(sum(d * d2) AS BIGINT) AS num2,
         |    CAST(sum(d * d3) AS BIGINT) AS num3
         |  FROM lagd GROUP BY event_type),
         |rr AS (
         |  SELECT event_type, n_days,
         |    CAST(num1 AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS r1,
         |    CAST(num2 AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS r2,
         |    CAST(num3 AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS r3
         |  FROM m),
         |l2 AS (
         |  SELECT *, (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS p22
         |  FROM rr),
         |l2b AS (SELECT *, r1 - p22 * r1 AS p21 FROM l2),
         |l3 AS (
         |  SELECT *, (r3 - p21 * r2 - p22 * r1) /
         |    nullif(1.0 - p21 * r1 - p22 * r2, 0.0) AS p33
         |  FROM l2b)
         |SELECT event_type, n_days, ${r6Sql("r1")} AS pacf1,
         |  ${r6Sql("p22")} AS pacf2, ${r6Sql("p33")} AS pacf3
         |FROM l3 ORDER BY event_type""".stripMargin,
    "seasonal_decompose" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |win AS (
         |  SELECT event_type, day, c,
         |    CAST(sum(c) OVER w AS BIGINT) AS s7,
         |    count(*) OVER w AS n7
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |det AS (
         |  SELECT event_type, day, c,
         |    CAST(s7 AS DOUBLE) / 7.0 AS trend,
         |    CAST(CAST(c AS DOUBLE) - CAST(s7 AS DOUBLE) / 7.0
         |      AS DECIMAL(14,6)) AS det,
         |    (day + 4) % 7 AS dow
         |  FROM win WHERE n7 = 7),
         |seas AS (
         |  SELECT event_type, dow,
         |    CAST(sum(det) AS DOUBLE) / count(*) AS seasonal_raw
         |  FROM det GROUP BY event_type, dow)
         |SELECT det.event_type, day, c,
         |  ${r6Sql("trend")} AS trend,
         |  ${r6Sql("seasonal_raw")} AS seasonal,
         |  ${r6Sql("CAST(det AS DOUBLE) - seasonal_raw")} AS resid
         |FROM det JOIN seas
         |  ON seas.event_type = det.event_type AND seas.dow = det.dow
         |ORDER BY det.event_type, day""".stripMargin,
    // True recursion: the CTE recomputes the l' expression inside b'
    // exactly as the Spark lambda does (no intermediate binding on
    // either side), so the step chains are literally identical.
    "holt_linear" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS DOUBLE) AS x
         |  FROM events GROUP BY event_type, day),
         |ord AS (
         |  SELECT event_type, x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM daily),
         |hw(event_type, t, l, b, n) AS (
         |  SELECT o1.event_type, 1, o1.x, o2.x - o1.x, o1.n
         |  FROM ord o1 JOIN ord o2
         |    ON o1.event_type = o2.event_type AND o1.t = 1 AND o2.t = 2
         |  UNION ALL
         |  SELECT hw.event_type, hw.t + 1,
         |    0.5 * o.x + 0.5 * (hw.l + hw.b),
         |    0.5 * ((0.5 * o.x + 0.5 * (hw.l + hw.b)) - hw.l)
         |      + 0.5 * hw.b,
         |    hw.n
         |  FROM hw JOIN ord o
         |    ON o.event_type = hw.event_type AND o.t = hw.t + 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  ${r6Sql("l")} AS level, ${r6Sql("b")} AS trend,
         |  ${r6Sql("l + 3.0 * b")} AS forecast3
         |FROM hw WHERE t = n ORDER BY event_type""".stripMargin,
    "spearman_rho" ->
      s"""WITH base AS (
         |  SELECT l_returnflag AS f, l_quantity AS q, l_discount AS d
         |  FROM lineitem),
         |cx AS (SELECT f, q, count(*) AS c FROM base GROUP BY f, q),
         |xr AS (
         |  SELECT f, q,
         |    2 * coalesce(sum(c) OVER (PARTITION BY f ORDER BY q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 - sum(c) OVER (PARTITION BY f) - 1 AS ux
         |  FROM cx),
         |cy AS (SELECT f, d, count(*) AS c FROM base GROUP BY f, d),
         |yr AS (
         |  SELECT f, d,
         |    2 * coalesce(sum(c) OVER (PARTITION BY f ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 - sum(c) OVER (PARTITION BY f) - 1 AS uy
         |  FROM cy),
         |j AS (
         |  SELECT b.f, CAST(ux AS BIGINT) AS ux, CAST(uy AS BIGINT) AS uy
         |  FROM base b
         |  JOIN xr ON b.f = xr.f AND b.q = xr.q
         |  JOIN yr ON b.f = yr.f AND b.d = yr.d)
         |SELECT f AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |  ${r6Sql("CAST(sum(ux * uy) AS DOUBLE) /" +
             " nullif(sqrt(CAST(sum(ux * ux) AS DOUBLE)) *" +
             " sqrt(CAST(sum(uy * uy) AS DOUBLE)), 0.0)")} AS spearman_rho
         |FROM j GROUP BY f ORDER BY l_returnflag""".stripMargin,
    "theil_sen" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |nd AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
         |  FROM daily GROUP BY event_type),
         |p AS (
         |  SELECT a.event_type,
         |    CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
         |      AS slope,
         |    a.day AS d1, b.day AS d2
         |  FROM daily a
         |  JOIN daily b ON a.event_type = b.event_type AND b.day > a.day),
         |r AS (
         |  SELECT event_type, slope,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY slope, d1, d2) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS m
         |  FROM p),
         |s AS (
         |  SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
         |    sum(CASE WHEN rn = (m + 1) // 2 OR rn = (m + 2) // 2
         |      THEN slope END) AS ssum,
         |    count(CASE WHEN rn = (m + 1) // 2 OR rn = (m + 2) // 2
         |      THEN slope END) AS sc
         |  FROM r GROUP BY event_type)
         |SELECT s.event_type, n_days, n_pairs,
         |  ${r6Sql("ssum / sc")} AS sen_slope
         |FROM s JOIN nd USING (event_type) ORDER BY event_type""".stripMargin,
    "anova_f" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v4
         |  FROM events WHERE value IS NOT NULL),
         |g AS (
         |  SELECT event_type, count(*) AS ng,
         |    CAST(sum(v4) AS BIGINT) AS sg,
         |    CAST(sum(v4 * v4) AS BIGINT) AS qg
         |  FROM e GROUP BY event_type),
         |tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS k_groups,
         |    CAST(sum(ng) AS BIGINT) AS n_rows,
         |    CAST(sum(sg) AS BIGINT) AS s,
         |    sum(CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) /
         |      CAST(ng AS DOUBLE) AS DECIMAL(30,6))) AS bpart,
         |    sum(CAST(CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) *
         |      CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)
         |      AS DECIMAL(30,6))) AS ssw
         |  FROM g),
         |f AS (
         |  SELECT k_groups, n_rows, ssw,
         |    CAST(bpart AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
         |      / CAST(n_rows AS DOUBLE) AS ssb
         |  FROM tt)
         |SELECT k_groups, n_rows,
         |  ${r6Sql("(ssb / nullif(CAST(k_groups - 1 AS DOUBLE), 0.0)) /" +
             " nullif(CAST(ssw AS DOUBLE) /" +
             " nullif(CAST(n_rows - k_groups AS DOUBLE), 0.0), 0.0)")}
         |    AS f_stat,
         |  ${r6Sql("ssb / nullif(ssb + CAST(ssw AS DOUBLE), 0.0)")}
         |    AS eta_sq
         |FROM f""".stripMargin,
    "logistic_irls" -> logisticSql,
    "tree_stump_train" -> treeStumpSql,
    "gbm_round" -> gbmRoundSql,
    "gbm_tree_round" -> gbmTreeSql,
    "model_calibration" -> calibrationSql,
    "model_auc" -> aucSql,
    "mann_whitney_u" ->
      s"""WITH pooled AS (
         |  SELECT event_type, value, count(*) AS c,
         |    CAST(sum(CASE WHEN epoch_us(ts) < 1704672000000000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c1
         |  FROM events
         |  WHERE (epoch_us(ts) < 1704672000000000
         |      OR epoch_us(ts) >= 1705881600000000)
         |    AND value IS NOT NULL
         |  GROUP BY event_type, value),
         |ranked AS (
         |  SELECT event_type, c, c1,
         |    2 * coalesce(sum(c) OVER (PARTITION BY event_type
         |      ORDER BY value
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 AS rank2
         |  FROM pooled),
         |g AS (
         |  SELECT event_type,
         |    CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c - c1) AS BIGINT) AS n2,
         |    CAST(sum(c1 * rank2) AS BIGINT) AS r1_x2,
         |    sum(CAST(c AS HUGEINT) * c * c - c) AS ties
         |  FROM ranked GROUP BY event_type),
         |f AS (
         |  SELECT event_type, n1, n2,
         |    r1_x2 - n1 * (n1 + 1) AS u1_x2,
         |    sqrt(greatest(
         |      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
         |      (CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties AS DOUBLE) /
         |        nullif(CAST(n1 + n2 AS DOUBLE) *
         |          CAST(n1 + n2 - 1 AS DOUBLE), 0.0)), 0.0))
         |      AS sigma
         |  FROM g)
         |SELECT event_type, n1, n2, u1_x2,
         |  ${r6Sql("((CAST(u1_x2 AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))" +
             " / 2.0) / nullif(sigma, 0)")} AS z
         |FROM f ORDER BY event_type""".stripMargin,
    "corr_matrix" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |m AS (
         |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n,
         |    CAST(sum(a.c) AS BIGINT) AS sx,
         |    CAST(sum(b.c) AS BIGINT) AS sy,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
         |    CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
         |    CAST(sum(b.c * b.c) AS BIGINT) AS syy
         |  FROM daily a JOIN daily b ON a.day = b.day
         |  WHERE a.event_type < b.event_type
         |  GROUP BY ta, tb)
         |SELECT ta, tb, n,
         |  ${r6Sql("CAST(n * sxy - sx * sy AS DOUBLE) / " +
             "nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
             "CAST(n * syy - sy * sy AS DOUBLE)), 0.0)")}
         |    AS pearson_r
         |FROM m ORDER BY ta, tb""".stripMargin,
    "drift_psi" -> {
      val p1 = "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + 10 AS DOUBLE))"
      val p2 = "(CAST(c2 + 1 AS DOUBLE) / CAST(n2 + 10 AS DOUBLE))"
      val edgeCols = (1 to 9).map(k =>
        s"max(CASE WHEN rn = ceil(n * $k / 10.0) THEN value END) AS e$k")
        .mkString(",\n         |    ")
      val binExpr = (1 to 9).map(k =>
        s"(CASE WHEN value > e$k THEN 1 ELSE 0 END)")
        .mkString("1 + ", " + ", "")
      s"""WITH base AS (
         |  SELECT event_type, value,
         |    CASE WHEN epoch_us(ts) < 1704672000000000
         |      THEN 1 ELSE 0 END AS ia,
         |    CASE WHEN epoch_us(ts) >= 1705881600000000
         |      THEN 1 ELSE 0 END AS ib
         |  FROM events
         |  WHERE (epoch_us(ts) < 1704672000000000
         |      OR epoch_us(ts) >= 1705881600000000)
         |    AND value IS NOT NULL),
         |ref AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM base WHERE ia = 1),
         |edges AS (
         |  SELECT event_type,
         |    $edgeCols
         |  FROM ref GROUP BY event_type),
         |counts AS (
         |  SELECT b.event_type, $binExpr AS bin,
         |    CAST(sum(ia) AS BIGINT) AS c1, CAST(sum(ib) AS BIGINT) AS c2
         |  FROM base b JOIN edges e USING (event_type)
         |  GROUP BY b.event_type, bin),
         |spine AS (
         |  SELECT event_type, unnest(range(1, 11)) AS bin FROM edges),
         |filled AS (
         |  SELECT s.event_type, s.bin,
         |    coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         |  FROM spine s LEFT JOIN counts c
         |    ON s.event_type = c.event_type AND s.bin = c.bin),
         |tot AS (
         |  SELECT event_type, c1, c2,
         |    CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
         |    CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
         |  FROM filled),
         |terms AS (
         |  SELECT event_type, n1, n2,
         |    CAST(($p2 - $p1) * ln($p2 / $p1) AS DECIMAL(14,10)) AS term
         |  FROM tot)
         |SELECT event_type, max(n1) AS n_a, max(n2) AS n_b,
         |  ${r6Sql("CAST(sum(term) AS DOUBLE)")} AS psi
         |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin
    },
    "acf_lag" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |b AS (
         |  SELECT event_type, day,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    CAST(count(*) OVER (PARTITION BY event_type) * c
         |      - sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS d
         |  FROM daily),
         |l AS (
         |  SELECT event_type, n, d,
         |    lag(d, 1) OVER (PARTITION BY event_type ORDER BY day) AS d1,
         |    lag(d, 2) OVER (PARTITION BY event_type ORDER BY day) AS d2,
         |    lag(d, 3) OVER (PARTITION BY event_type ORDER BY day) AS d3
         |  FROM b),
         |g AS (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
         |    CAST(sum(d * d) AS DOUBLE) AS den,
         |    CAST(sum(d * d1) AS DOUBLE) AS num1,
         |    CAST(sum(d * d2) AS DOUBLE) AS num2,
         |    CAST(sum(d * d3) AS DOUBLE) AS num3
         |  FROM l GROUP BY event_type)
         |SELECT event_type, lag_k, n_days,
         |  ${r6Sql("num / nullif(den, 0.0)")} AS acf
         |FROM (
         |  SELECT event_type, 1 AS lag_k, n_days, num1 AS num, den FROM g
         |  UNION ALL
         |  SELECT event_type, 2, n_days, num2, den FROM g
         |  UNION ALL
         |  SELECT event_type, 3, n_days, num3, den FROM g)
         |ORDER BY event_type, lag_k""".stripMargin,
    "rfm_segment" ->
      s"""WITH pu AS (
         |  SELECT user_id,
         |    max(epoch_us(ts) // 86400000000) AS last_day,
         |    count(*) AS freq,
         |    sum(CAST(value AS DECIMAL(14,4))) AS mon_d
         |  FROM events GROUP BY user_id),
         |pu2 AS (
         |  SELECT user_id, last_day, freq,
         |    CAST(mon_d * 10000 AS BIGINT) AS mon_i,
         |    CAST(mon_d AS DOUBLE) AS mon
         |  FROM pu),
         |th AS (
         |  SELECT
         |    quantile_cont(CAST(last_day AS DOUBLE), [0.25, 0.5, 0.75]) AS tr,
         |    quantile_cont(CAST(freq AS DOUBLE), [0.25, 0.5, 0.75]) AS tf,
         |    quantile_cont(CAST(mon_i AS DOUBLE), [0.25, 0.5, 0.75]) AS tm
         |  FROM pu2),
         |seg AS (
         |  SELECT freq, mon,
         |    1 + CASE WHEN last_day > tr[1] THEN 1 ELSE 0 END
         |      + CASE WHEN last_day > tr[2] THEN 1 ELSE 0 END
         |      + CASE WHEN last_day > tr[3] THEN 1 ELSE 0 END AS r_q,
         |    1 + CASE WHEN freq > tf[1] THEN 1 ELSE 0 END
         |      + CASE WHEN freq > tf[2] THEN 1 ELSE 0 END
         |      + CASE WHEN freq > tf[3] THEN 1 ELSE 0 END AS f_q,
         |    1 + CASE WHEN mon_i > tm[1] THEN 1 ELSE 0 END
         |      + CASE WHEN mon_i > tm[2] THEN 1 ELSE 0 END
         |      + CASE WHEN mon_i > tm[3] THEN 1 ELSE 0 END AS m_q
         |  FROM pu2, th)
         |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
         |  CAST(m_q AS BIGINT) AS m_q, count(*) AS n_users,
         |  CAST(sum(freq) AS BIGINT) AS sum_freq,
         |  ${r6Sql("CAST(sum(CAST(mon AS DECIMAL(18,4))) AS DOUBLE) / count(*)")}
         |    AS avg_monetary
         |FROM seg GROUP BY r_q, f_q, m_q
         |ORDER BY r_q, f_q, m_q""".stripMargin,
    "seasonal_dow" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |d2 AS (
         |  SELECT event_type, (day + 4) % 7 AS dow, c,
         |    sum(c) OVER (PARTITION BY event_type) AS total,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily)
         |SELECT event_type, dow, count(*) AS n_dow_days,
         |  CAST(sum(c) AS BIGINT) AS sum_dow,
         |  ${r6Sql("CAST(sum(c) * max(n_days) AS DOUBLE) / CAST(count(*) * max(total) AS DOUBLE)")}
         |    AS seasonal_idx
         |FROM d2 GROUP BY event_type, dow
         |ORDER BY event_type, dow""".stripMargin,
    "abtest_ztest" ->
      s"""WITH cells AS (
         |  SELECT event_type,
         |    CAST(sum(CASE WHEN epoch_us(ts) < 1704672000000000
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN epoch_us(ts) < 1704672000000000
         |        AND value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         |    CAST(sum(CASE WHEN epoch_us(ts) >= 1705881600000000
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN epoch_us(ts) >= 1705881600000000
         |        AND value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS k2
         |  FROM events
         |  WHERE epoch_us(ts) < 1704672000000000
         |     OR epoch_us(ts) >= 1705881600000000
         |  GROUP BY event_type),
         |z AS (
         |  SELECT event_type, n1, k1, n2, k2,
         |    CAST(k1 AS DOUBLE) / nullif(n1, 0) AS p1,
         |    CAST(k2 AS DOUBLE) / nullif(n2, 0) AS p2,
         |    sqrt((CAST(k1 + k2 AS DOUBLE) / nullif(n1 + n2, 0))
         |      * (1.0 - CAST(k1 + k2 AS DOUBLE) / nullif(n1 + n2, 0))
         |      * (1.0 / nullif(n1, 0) + 1.0 / nullif(n2, 0))) AS se
         |  FROM cells)
         |SELECT event_type, n1, k1, n2, k2,
         |  ${r6Sql("p1")} AS p1, ${r6Sql("p2")} AS p2,
         |  ${r6Sql("(p1 - p2) / nullif(se, 0)")} AS z
         |FROM z ORDER BY event_type""".stripMargin,
    "winsorize_stats" ->
      s"""WITH r AS (
         |  SELECT lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS i,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents),
         |b AS (
         |  SELECT *,
         |    max(CASE WHEN i = ceil(n * 0.05) THEN n_chars END)
         |      OVER (PARTITION BY lang) AS lo,
         |    max(CASE WHEN i = ceil(n * 0.95) THEN n_chars END)
         |      OVER (PARTITION BY lang) AS hi
         |  FROM r),
         |w AS (SELECT *, least(greatest(n_chars, lo), hi) AS wz FROM b)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clip_lo,
         |  CAST(sum(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clip_hi,
         |  max(lo) AS p05, max(hi) AS p95,
         |  ${r6Sql("CAST(sum(n_chars) AS DOUBLE) / count(*)")} AS mean_raw,
         |  ${r6Sql("CAST(sum(wz) AS DOUBLE) / count(*)")} AS mean_winsor
         |FROM w GROUP BY lang ORDER BY lang""".stripMargin,
    "markov_transitions" ->
      s"""WITH seq AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS to_type
         |  FROM events),
         |pairs AS (
         |  SELECT from_type, to_type, count(*) AS n
         |  FROM seq WHERE to_type IS NOT NULL
         |  GROUP BY from_type, to_type)
         |SELECT from_type, to_type, n,
         |  ${r6Sql("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)")}
         |    AS p
         |FROM pairs ORDER BY from_type, to_type""".stripMargin,
    "cusum_changepoint" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*) AS c
         |  FROM events GROUP BY event_type, day),
         |aug AS (
         |  SELECT event_type, day,
         |    row_number() OVER w AS i,
         |    count(*) OVER (PARTITION BY event_type) AS n_days,
         |    sum(c) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE)
         |      / count(*) OVER (PARTITION BY event_type) AS mean
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |cs AS (
         |  SELECT event_type, day, n_days,
         |    CAST(cum AS DOUBLE) - i * mean AS cusum
         |  FROM aug),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY abs(cusum) DESC, day) AS rk
         |  FROM cs)
         |SELECT event_type, n_days, day AS peak_day,
         |  ${r6Sql("cusum")} AS peak_cusum
         |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "gini_concentration" ->
      s"""WITH ranked AS (
         |  SELECT source, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
         |  FROM documents),
         |agg AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |    CAST(sum(i * n_chars) AS BIGINT) AS iwx
         |  FROM ranked GROUP BY source)
         |SELECT source, n_docs, total_chars,
         |  ${r6Sql("2.0 * CAST(iwx AS DOUBLE) / nullif(CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE), 0) - (CAST(n_docs AS DOUBLE) + 1.0) / CAST(n_docs AS DOUBLE)")}
         |    AS gini
         |FROM agg ORDER BY source""".stripMargin,
    "survival_km" ->
      s"""WITH su AS (
         |  SELECT user_id,
         |    min(CASE WHEN event_type='signup' THEN epoch_us(ts) END) AS t0,
         |    max(epoch_us(ts)) AS tmax
         |  FROM events GROUP BY user_id),
         |s2 AS (SELECT * FROM su WHERE t0 IS NOT NULL),
         |pu AS (
         |  SELECT e.user_id, min(epoch_us(e.ts)) AS te
         |  FROM events e JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type='purchase' AND epoch_us(e.ts) >= s2.t0
         |  GROUP BY e.user_id),
         |d AS (
         |  SELECT (coalesce(te, tmax) - t0) // 86400000000 AS dur,
         |    (te IS NOT NULL) AS is_ev
         |  FROM s2 LEFT JOIN pu ON s2.user_id = pu.user_id),
         |per AS (
         |  SELECT dur,
         |    CAST(sum(CASE WHEN is_ev THEN 1 ELSE 0 END) AS BIGINT) AS n_ev,
         |    count(*) AS n_all
         |  FROM d GROUP BY dur),
         |risk AS (
         |  SELECT dur, n_ev, n_all,
         |    CAST(sum(n_all) OVER () - coalesce(sum(n_all) OVER (ORDER BY dur
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_risk
         |  FROM per),
         |terms AS (
         |  SELECT dur, n_risk, n_ev, n_all,
         |    CAST(CASE WHEN n_ev < n_risk
         |      THEN ln(1.0 - CAST(n_ev AS DOUBLE) / CAST(n_risk AS DOUBLE))
         |      ELSE 0.0 END AS DECIMAL(14,10)) AS term,
         |    max(CASE WHEN n_ev >= n_risk THEN 1 ELSE 0 END)
         |      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS zflag
         |  FROM risk),
         |cum AS (
         |  SELECT dur, n_risk, n_ev, n_all, zflag,
         |    sum(term) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum_ln
         |  FROM terms)
         |SELECT dur, n_risk, n_ev, n_all - n_ev AS n_cens,
         |  CASE WHEN zflag = 1 THEN 0.0
         |    ELSE ${r6Sql("exp(CAST(cum_ln AS DOUBLE))")} END AS survival
         |FROM cum ORDER BY dur""".stripMargin,
    "drift_ks" ->
      s"""WITH e AS (
         |  SELECT event_type, value,
         |    CASE WHEN epoch_us(ts) < 1704672000000000 THEN 1 ELSE 0 END
         |      AS ia,
         |    CASE WHEN epoch_us(ts) >= 1705881600000000 THEN 1 ELSE 0 END
         |      AS ib
         |  FROM events
         |  WHERE (epoch_us(ts) < 1704672000000000
         |      OR epoch_us(ts) >= 1705881600000000)
         |    AND value IS NOT NULL),
         |c AS (
         |  SELECT event_type, ia, ib,
         |    sum(ia) OVER (PARTITION BY event_type ORDER BY value
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         |    sum(ib) OVER (PARTITION BY event_type ORDER BY value
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         |    sum(ia) OVER (PARTITION BY event_type) AS na,
         |    sum(ib) OVER (PARTITION BY event_type) AS nb
         |  FROM e)
         |SELECT event_type, CAST(sum(ia) AS BIGINT) AS n_a,
         |  CAST(sum(ib) AS BIGINT) AS n_b,
         |  ${r6Sql("max(abs(CAST(ca AS DOUBLE) / nullif(na, 0) - CAST(cb AS DOUBLE) / nullif(nb, 0)))")}
         |    AS ks
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "outlier_mad" ->
      s"""WITH d AS (
         |  SELECT source, CAST(n_chars AS DOUBLE) AS x,
         |    median(CAST(n_chars AS DOUBLE))
         |      OVER (PARTITION BY source) AS med
         |  FROM documents),
         |d2 AS (SELECT source, med, abs(x - med) AS absdev FROM d),
         |d3 AS (
         |  SELECT source, med, absdev,
         |    median(absdev) OVER (PARTITION BY source) AS mad
         |  FROM d2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN absdev > 4.4478 * mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  ${r6Sql("max(med)")} AS med,
         |  ${r6Sql("max(mad)")} AS mad
         |FROM d3 GROUP BY source ORDER BY source""".stripMargin,
    "drift_chi2" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN epoch_us(ts) < 1704672000000000 THEN 1
        |        ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN epoch_us(ts) >= 1705881600000000 THEN 1
        |        ELSE 0 END) AS BIGINT) AS n_b
        |  FROM events
        |  WHERE epoch_us(ts) < 1704672000000000
        |     OR epoch_us(ts) >= 1705881600000000
        |  GROUP BY event_type),
        |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cells),
        |ex AS (
        |  SELECT event_type, n_a, n_b,
        |    (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(ta AS DOUBLE)
        |      / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) AS ea,
        |    (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * CAST(tb AS DOUBLE)
        |      / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)) AS eb
        |  FROM cells, tot)
        |SELECT event_type, n_a, n_b,
        |  floor(((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea)
        |         / nullif(ea, 0)
        |       + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb)
        |         / nullif(eb, 0))
        |    * 1000000 + 0.5) / 1000000 AS chi2_part
        |FROM ex ORDER BY event_type""".stripMargin,
    "stat_crosstab" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "typed_reduce_groups" ->
      """SELECT o_orderpriority, best_key, best_price FROM (
        |  SELECT o_orderpriority, o_orderkey AS best_key,
        |    o_totalprice AS best_price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,
    "topk_per_group_agg" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "agg_regression" -> {
      val (n, sx, sy) = ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)",
        "CAST(sy AS DOUBLE)")
      val (sxy, sxx, syy) = ("CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)",
        "CAST(syy AS DOUBLE)")
      val cov = s"($n * $sxy - $sx * $sy)"
      val vx = s"($n * $sxx - $sx * $sx)"
      val vy = s"($n * $syy - $sy * $sy)"
      val slope = s"($cov / $vx)"
      s"""WITH m AS (
         |  SELECT l_returnflag, count(*) AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM (SELECT l_returnflag,
         |          CAST(l_quantity AS DECIMAL(12,2)) AS x,
         |          CAST(l_discount AS DECIMAL(9,4)) AS y
         |        FROM lineitem)
         |  GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  ${r6Sql(slope)} AS slope,
         |  ${r6Sql(s"($sy - $slope * $sx) / $n")} AS intercept,
         |  ${r6Sql(s"$cov * $cov / ($vx * $vy)")} AS r2
         |FROM m ORDER BY l_returnflag""".stripMargin
    },
    "date_spine_fill" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |spine AS (
        |  SELECT CAST(unnest(range((SELECT min(d) FROM daily),
        |    (SELECT max(d) FROM daily) + 1, INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT s.d, coalesce(n_orders, 0) AS n_orders
        |FROM spine s LEFT JOIN daily USING (d)
        |ORDER BY d""".stripMargin,
    "agg_stats" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${r6Sql("stddev_samp(l_quantity)")} AS sd_qty,
         |  ${r6Sql("var_samp(l_quantity)")} AS var_qty,
         |  ${r6Sql("corr(l_quantity, l_discount)")} AS corr_qty_disc,
         |  ${r6Sql("covar_samp(l_quantity, l_discount)")} AS cov_qty_disc
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "agg_mode_median" ->
      """WITH counts AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |modes AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt
        |  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY cnt DESC, l_quantity ASC) AS rn FROM counts)
        |  WHERE rn = 1),
        |med AS (
        |  SELECT l_returnflag, median(l_quantity) AS median_qty,
        |    count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT m.l_returnflag, m.n, m.median_qty, o.mode_qty, o.mode_cnt
        |FROM med m JOIN modes o USING (l_returnflag)
        |ORDER BY m.l_returnflag""".stripMargin,
    "agg_conditional" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  count(*) FILTER (WHERE o_totalprice > 300000) AS n_big,
        |  bool_and(o_totalprice > 1000) AS all_above_1k,
        |  bool_or(o_orderstatus = 'P') AS any_pending
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "agg_listagg" ->
      """SELECT r_name, count(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "agg_bitwise" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(bit_and(k) AS BIGINT) AS k_and,
        |  CAST(bit_or(k) AS BIGINT) AS k_or,
        |  CAST(bit_xor(k) AS BIGINT) AS k_xor
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "win_first_last_nth" ->
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS best_order,
        |  last_value(o_orderkey) OVER w AS worst_order,
        |  nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "win_percent_cume" ->
      s"""SELECT p_partkey, p_type,
         |  ${r6Sql("percent_rank() OVER w")} AS pct_rank,
         |  ${r6Sql("cume_dist() OVER w")} AS cume
         |FROM part
         |WINDOW w AS (PARTITION BY p_type
         |  ORDER BY p_retailprice, p_partkey)
         |ORDER BY p_partkey""".stripMargin,
    "win_range_frame" ->
      """SELECT o_orderkey, o_custkey, day,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS spend_30d
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice,
        |        date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS day
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
}
