package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, TextOps}
import core._

/** Round-3 depth additions (SURVEY.md §2.13): map-typed columns (derived
  * from the event stream — closes §2.8's "no map data" gap), Spark-4
  * VARIANT extraction (the modern semi-structured scale path: parse once,
  * shred-friendly), mergeable HLL sketch columns (sketch-once /
  * union-cheap — THE 100 TB distinct-count pattern), ntile bucketing, and
  * two classic TPC-H decision-support shapes (Q4/Q18 adapted to this
  * schema: late-shipment priority audit, large-volume order report).
  *
  * Determinism: map iteration never surfaces raw (maps are reduced to
  * scalar/plain columns before output); every output carries a unique
  * total ORDER BY; quantity sums are integer-valued doubles (exact in any
  * order); HLL estimates are deterministic for a fixed lgConfigK but not
  * cross-engine → ⊘ no-oracle, error-bounded vs exact in OperatorSpec.
  */
object DepthQ {

  /** Map-typed columns, end to end: build a per-user event_type→count map
    * with map_from_entries (sorted entries — map column itself stays
    * order-deterministic), then consume it with map_keys / map_values /
    * element_at / map_filter / transform_values. The map is reduced to
    * plain columns so the oracle can mirror the semantics with a GROUP BY
    * (DuckDB map functions differ in shape; the *operator contract* here
    * is Spark's map family, verified by value equality of everything
    * computed THROUGH the maps). */
  val mapFuncs: QFn = (s, dir) => {
    val m = col("m")
    t(s, dir, "events")
      .filter(col("user_id") < 200)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("cnt")))))
        .as("m"))
      .select(
        col("user_id"),
        size(map_keys(m)).cast("long").as("n_types"),
        aggregate(map_values(m), lit(0L), (acc, x) => acc + x).as("total"),
        size(map_keys(map_filter(m, (_, v) => v >= 3))).cast("long")
          .as("n_heavy"),
        coalesce(element_at(m, "purchase"), lit(0L)).as("purchases"),
        coalesce(element_at(transform_values(m, (_, v) => v * 2), "view"),
          lit(0L)).as("views_x2"))
      .orderBy(col("user_id"))
  }

  /** Spark-4 VARIANT: parse the JSON props column once into a variant,
    * extract a typed path (variant_get) and a missing path
    * (try_variant_get → NULL, coalesced for cross-engine stability).
    * At 100 TB this is the shredded semi-structured read path — one parse,
    * typed access, no per-extraction JSON re-walk (contrast
    * get_json_object in qjson_props, which re-parses per call). */
  val variantExtract: QFn = (s, dir) =>
    t(s, dir, "events")
      .select(
        col("event_id"),
        col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        coalesce(
          expr("try_variant_get(parse_json(props), '$.missing', 'string')"),
          lit("absent")).as("miss"))
      .orderBy(col("event_id"))

  /** Mergeable HLL sketches (Datasketches HllSketch, Spark 3.5+): one
    * sketch per event_type (partial+final merge inside the agg), then the
    * per-type BINARY sketches are unioned with hll_union_agg — the
    * re-aggregation NEVER touches the raw data. This is the pattern that
    * matters at 100 TB: sketch columns are stored per partition/day and
    * any rollup (global, weekly, per-cohort) is a cheap union of KB-sized
    * sketches. ⊘ no oracle (estimate is engine-specific); rel-error vs
    * exact count_distinct bounded in OperatorSpec. */
  val hllSketchUnion: QFn = (s, dir) => {
    // lgConfigK = 14 (16 K registers, σ ≈ 0.8%) instead of the default
    // 12 (σ ≈ 1.6%): the 0.05 gate must be a multi-σ margin, not ~3σ —
    // same reasoning as approx_distinct's rsd. 16 KB per sketch is the
    // standard accuracy/size trade for rollup cells.
    val perType = t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    perType
      .select(col("event_type"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
      .unionAll(perType
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("approx_users"))
        .select(lit("ALL").as("event_type"), col("approx_users")))
      .orderBy(col("event_type"))
  }

  /** ntile(4) equi-height bucketing of customers by balance within each
    * nation (unique ORDER BY pins tie assignment), aggregated per bucket —
    * the quantile-bucketing primitive behind training-mix stratification. */
  val winNtile: QFn = (s, dir) => {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("bucket"))
      .groupBy(col("c_nationkey"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy(col("c_nationkey"), col("bucket"))
  }

  /** TPC-H Q4 shape (late-shipment priority audit): orders from 1995 H1
    * with at least one line item shipped more than 60 days after the
    * order date. The lateness threshold is uniform across an order's
    * lines, so EXISTS(any line late) ≡ max(l_shipdate) > o_orderdate+60 —
    * implemented as a partial+final max-aggregate over the narrow
    * (l_orderkey, l_shipdate) projection and an equi join, instead of a
    * semi join that tempts the planner into broadcasting the FACT side
    * (observed at sf0.1). The EXISTS oracle proves the rewrite. */
  val q04OrderPriority: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1995-07-01").cast("timestamp_ntz"))
    val lastShip = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
    o.join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .filter(col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q18 shape (large-volume orders): orders whose total line-item
    * quantity exceeds 150, joined back to orders + customer for the
    * report, top-100 by total price. The heavy group-by runs FIRST on the
    * narrow (l_orderkey, l_quantity) projection; the join fans the small
    * survivor set out to the dimension tables (quantities are
    * integer-valued doubles — exact in any aggregation order). */
  val q18LargeOrders: QFn = (s, dir) => {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** PII redaction — the compliance pass every training-data pipeline runs
    * before the tokenizer. The corpus is synthetic word salad with no real
    * PII, so deterministic synthetic PII (derived from doc_id, with
    * varying presence so the counts actually discriminate) is injected
    * FIRST and the scrub operator — the thing under test — then redacts
    * it: RE2-safe regexes for emails / URLs / phone numbers, global
    * replace, with per-kind match counts and an md5 over the scrubbed
    * text so any replacement divergence fails the hash. Per-row
    * expression pipeline — embarrassingly parallel, shuffle-free. */
  val piiScrub: QFn = (s, dir) => {
    // Hygiene note: every URL-shaped string in this operator is either a
    // REGEX PATTERN ('https?://…') or injected synthetic fixture data on
    // the RFC 2606 reserved documentation domain (example.com) — nothing
    // here references a real endpoint, bucket, or service.
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val urlRe = "https?://[^ ]+"
    val phoneRe = "\\d{3}-\\d{4}"
    val id = col("doc_id")
    val raw = concat(
      col("text"),
      when(id % 3 =!= 0,
        concat(lit(" contact user"), id, lit("@example.com")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" see https://example.com/u/"), id)).otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit(" call 555-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("raw"), emailRe, "<EMAIL>"),
        urlRe, "<URL>"),
      phoneRe, "<PHONE>")
    t(s, dir, "documents")
      .select(id, raw.as("raw"))
      .select(id,
        // lit() keeps the regex out of the SQL parser, whose string
        // literals would eat the backslashes ('\d' parses to 'd')
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(urlRe), lit(0)))
          .cast("long").as("n_urls"),
        size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        length(scrubbed).cast("long").as("clean_len"),
        md5(scrubbed).as("clean_md5"))
      .orderBy(id)
  }

  /** Dedup keeping the BEST representative per duplicate group (longest
    * raw text, then lowest doc_id) — what follows dedup *detection* in a
    * real pipeline: qdedup_docs keeps the lowest id; this keeps the
    * highest-quality survivor. Same scale shape as qdedup_docs: the
    * window shuffles on the 8-byte xxhash64(norm) key with a
    * collision-safe in-partition tie check, not on the corpus text. */
  val dedupKeepBest: QFn = (s, dir) => {
    val w = Window.partitionBy(col("hkey"))
      .orderBy(col("norm"), col("n_chars").desc, col("doc_id"))
    t(s, dir, "documents")
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("hkey", xxhash64(col("norm")))
      .withColumn("prev_norm", lag(col("norm"), 1).over(w))
      .filter(col("prev_norm").isNull || col("prev_norm") =!= col("norm"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Exact distinct counting via bitmap aggregation (Spark 3.5+ bitmap
    * family) — the OLAP accelerator between naive count-distinct and HLL:
    * user ids bucket into 32768-bit bitmaps per (group, bucket), distinct
    * count = Σ bitmap_count, and coarser rollups OR the bitmaps
    * (`bitmap_or_agg`) without touching raw data — like the HLL sketch
    * path but EXACT, so the DuckDB count(DISTINCT) oracle matches
    * bit-for-bit. At 100 TB the bitmap columns are the materialized-view
    * layer for dashboard distinct counts over int keys. */
  val bitmapDistinct: QFn = (s, dir) => {
    val perBucket = t(s, dir, "events")
      .select(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"),
        expr("bitmap_bit_position(user_id)").as("pos"))
      .groupBy(col("event_type"), col("bkt"))
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    perBucket
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .unionAll(perBucket
        .groupBy(col("bkt"))
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_users"))
        .select(lit("ALL").as("event_type"), col("n_users")))
      .orderBy(col("event_type"))
  }

  /** Heavy-hitters via the approx_top_k sketch (Spark 4 Datasketches
    * frequent-items): with k and maxItemsTracked above the true
    * cardinality the sketch is in its EXACT regime, so the output —
    * re-sorted by (count desc, word) to remove the sketch's unspecified
    * tie order — carries a plain GROUP-BY oracle. At 100 TB the same call
    * with k ≪ cardinality degrades gracefully to approximate counts with
    * error bounds, without changing the query shape. */
  val approxTopkWords: QFn = (s, dir) =>
    t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .agg(expr("approx_top_k(w, 100, 10000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("word"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  /** Grid-bucketed spatial self-join (r9) — the 2-D member of the
    * similarity-join family (LSH buckets strings, IVF cells bucket
    * vectors, GRID CELLS bucket coordinates): find user pairs within
    * 500 m. Deterministic planar positions come from two Knuth/xxhash
    * multiplicative hashes of user_id over a 10 km box (pure BIGINT
    * arithmetic — both engines compute them bit-identically, and unlike
    * haversine there is NO trig anywhere, so even the distances are
    * exact integers and the threshold can never flip cross-engine).
    * Candidates: cell size = radius, each left row probes its 3×3
    * neighborhood via a 9-offset explode + cell equi-join — a pair in
    * range is found under exactly one offset (b's home cell), so no
    * dedup pass is needed; uid_a < uid_b halves the work. The exact
    * integer dist² filter sweeps false candidates. Scale shape: the
    * candidate join is an equi-join on cell keys with 9× fan-out on one
    * side — the textbook distributed spatial join; work tracks occupied
    * cells × density, never n². */
  /** Deterministic planar user positions over the 10 km box — shared by
    * spatial_grid_join and dbscan_grid. Reduce mod 10000 BEFORE the
    * multiply: (u·K)%m == ((u%m)·(K%m))%m for u ≥ 0, and 9999·5761 <
    * 2²⁶ — no BIGINT overflow at ANY user_id magnitude (the raw
    * u·2654435761 form overflows past ~3.4e9 ids and would abort under
    * ANSI). 5761 = 2654435761 % 10000, 2519 = 2246822519 % 10000. */
  private def gridUsers(s: SparkSession, dir: String) =
    t(s, dir, "events").select(col("user_id")).distinct()
      .select(col("user_id"),
        (col("user_id") % 10000L * lit(5761L) % 10000L).as("x"),
        (col("user_id") % 10000L * lit(2519L) % 10000L).as("y"))

  val spatialGridJoin: QFn = (s, dir) => {
    val users = gridUsers(s, dir)
    val a = users.select(col("user_id").as("uid_a"), col("x").as("xa"),
      col("y").as("ya"),
      explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("uid_a"), col("xa"), col("ya"), col("dx"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("uid_a"), col("xa"), col("ya"),
        (expr("xa div 2000") + col("dx")).as("cx"),
        (expr("ya div 2000") + col("dy")).as("cy"))
    val b = users.select(col("user_id").as("uid_b"), col("x").as("xb"),
      col("y").as("yb"),
      expr("x div 2000").as("cx"), expr("y div 2000").as("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("uid_a") < col("uid_b"))
      .select(col("uid_a"), col("uid_b"), d2.as("dist_sq"))
      .filter(col("dist_sq") <= 4000000L)
      .orderBy(col("dist_sq"), col("uid_a"), col("uid_b"))
      .limit(20)
  }

  /** Grid DBSCAN (r10, Ester et al. KDD'96 — public algorithm) — the
    * DENSITY member of the clustering family (kmeans partitions by
    * centroid, SemDeDup prunes within clusters, DBSCAN finds arbitrary-
    * shape dense regions + explicit NOISE — the outlier-aware clustering
    * curation pipelines use on geo/embedding-like features): eps = 400
    * (exact integer dist² ≤ 160 000), minPts = 4
    * (neighborhood INCLUDING self). Cores = points with ≥ minPts
    * neighbors; clusters = connected components of the core–core
    * eps-graph (`ConnectedComponents.minLabel`, the engine's one
    * min-label fixpoint; isolated cores self-cluster);
    * borders join their lowest core-neighbor's cluster (the
    * deterministic resolution of DBSCAN's only order-dependence);
    * everything else is noise, reported as the cluster_id = −1 row.
    * Scale shape: neighbor enumeration is the spatial grid's cell
    * equi-join; the CC rounds shuffle the CORE graph only. Exact
    * integer geometry end to end ⇒ full recursive-CTE oracle. */
  /** DBSCAN's positions are PLANTED: three tight 250-unit blobs at
    * well-separated centers (cid = user_id % 3) plus a ~1/13 uniform
    * noise tier — pure BIGINT arithmetic (the gridUsers reduction
    * trick), so both engines hold identical geometry AND the corpus has
    * genuine density structure at every sf (the raw lattice positions
    * are either all-sparse or all-dense — no density contrast to find).
    * eps² = 160 000 (blob diagonal 354 < eps 400 < center gap ~3900). */
  private def dbscanUsers(s: SparkSession, dir: String) = {
    val h1 = col("user_id") % 10000L * lit(5761L) % 10000L
    val h2 = col("user_id") % 10000L * lit(2519L) % 10000L
    val noise = col("user_id") % 13 === 0
    val cid = col("user_id") % 3
    t(s, dir, "events").select(col("user_id")).distinct()
      .select(col("user_id"),
        when(noise, h1).otherwise(lit(1500) + cid * 3000 + h1 % 250)
          .as("x"),
        when(noise, h2).otherwise(lit(1500) + cid * 2500 + h2 % 250)
          .as("y"))
  }

  val dbscanGrid: QFn = (s, dir) => {
    val users = dbscanUsers(s, dir)
    val a = users.select(col("user_id").as("uid_a"), col("x").as("xa"),
      col("y").as("ya"),
      explode(expr("sequence(-1, 1)")).as("dx"))
      .select(col("uid_a"), col("xa"), col("ya"), col("dx"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("uid_a"), col("xa"), col("ya"),
        (expr("xa div 2000") + col("dx")).as("cx"),
        (expr("ya div 2000") + col("dy")).as("cy"))
    val b = users.select(col("user_id").as("uid_b"), col("x").as("xb"),
      col("y").as("yb"),
      expr("x div 2000").as("cx"), expr("y div 2000").as("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    // directed neighbor pairs (each unordered pair appears both ways)
    val nbr = a.join(b, Seq("cx", "cy"))
      .filter(col("uid_a") =!= col("uid_b") && d2 <= 160000L)
      .select(col("uid_a"), col("uid_b"))
      .ckpt() // read by degree, core-edge, and border passes
    val core = nbr.groupBy(col("uid_a")).agg(count(lit(1)).as("n"))
      .filter(col("n") + 1 >= 4) // neighborhood includes the point
      .select(col("uid_a").as("id"))
      .ckpt()
    val coreEdges = nbr
      .join(core.select(col("id").as("uid_a")), "uid_a")
      .join(core.select(col("id").as("uid_b")), "uid_b")
      .select(col("uid_a").as("src"), col("uid_b").as("dst"))
      .ckpt()
    // clusters = min-label fixpoint over the core graph (coreEdges holds
    // both directions); isolated cores label themselves
    val (labels, _) = ConnectedComponents.minLabel(coreEdges, Some(core))
    val borders = nbr
      .join(labels.select(col("id").as("uid_b"), col("lbl")), "uid_b")
      .join(core.select(col("id").as("uid_a")), Seq("uid_a"), "left_anti")
      .groupBy(col("uid_a")).agg(min(col("lbl")).as("lbl"))
    val clusters = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_core"))
      .join(borders.groupBy(col("lbl")).agg(count(lit(1)).as("n_border")),
        Seq("lbl"), "left")
      .select(col("lbl").as("cluster_id"), col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"))
    val noise = users
      .join(labels.select(col("id").as("user_id")), Seq("user_id"),
        "left_anti")
      .join(borders.select(col("uid_a").as("user_id")), Seq("user_id"),
        "left_anti")
      .agg(count(lit(1)).as("n_border"))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        col("n_border"))
    clusters.unionByName(noise).orderBy(col("cluster_id"))
  }

  /** Count-Min heavy-hitter verification (r9) — the third sketch family
    * in the inventory (HLL = distinct counts, approx_top_k = frequent
    * items, CMS = point-queryable frequencies): ONE `count_min_sketch`
    * aggregate (ε = 10⁻⁴, δ = 0.01, pinned seed 42 — deterministic
    * output) compresses the full word-frequency distribution into a
    * ~1 MB mergeable array, and the exact top-20 candidates probe it
    * via the executor-side `graft_cms_estimate` expression riding a
    * 1-row broadcast (allowlisted). The 100 TB shape: per-partition
    * sketches merge in the agg (partial+final), candidates come from
    * any cheap source, and verification never moves raw data — the
    * overcount column is the sketch's one-sided error, gated in
    * OperatorSpec at est ≥ exact and est − exact ≤ ε·N (w.p. 1−δ).
    * ⊘ no oracle: the estimate is sketch-internal (hash-seeded), not
    * SQL-reproducible; determinism comes from the pinned seed. */
  val cmsHeavyHitters: QFn = (s, dir) => {
    val words = t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("word"))
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word")).limit(20)
    val sketch = words
      .agg(expr("count_min_sketch(word, 0.0001d, 0.99d, 42)").as("sk"))
    top.crossJoin(broadcast(sketch))
      .withColumn("est_n",
        call_function("graft_cms_estimate", col("sk"), col("word")))
      .select(col("word"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("word"))
  }

  /** Top-5 order totals per priority via the native `graft_topk`
    * TypedImperativeAggregate (expressions/TopKDoubles.scala): a
    * size-bounded min-heap buffer rides partial aggregation, so each
    * partition ships k values per group instead of window-sorting every
    * row through the shuffle — O(n log k) work, O(groups·k) shuffle
    * bytes; the row_number formulation this replaces sorts the whole
    * group. The oracle IS that window formulation — proving the heap
    * aggregate ≡ sort-then-take on the value multiset. */
  val aggTopkNative: QFn = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(call_function("graft_topk", col("o_totalprice"), lit(5)).as("tp"))
      .select(col("o_orderpriority"),
        posexplode(col("tp")).as(Seq("rnk0", "price")))
      .select(col("o_orderpriority"),
        (col("rnk0") + 1).cast("long").as("rnk"), col("price"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  /** Frequent 3-itemsets (r10) — the a-priori tier above
    * copurchase_pairs: baskets = distinct parts per order, triples
    * enumerated inside each basket from the SORTED item array (TextOps.combos
    * — per-basket fan-out is C(items,3) ≤ C(7,3) = 35,
    * bounded by basket size, never corpus-sized), support counted per
    * triple, top-20 with lift vs the independence assumption
    * n_abc·N²/(n_a·n_b·n_c) — the signal that separates a real bundle
    * from three individually-popular items. Exact integer counts; lift
    * is one mirrored double expression. Scale shape: one basket
    * groupBy + one triple groupBy — the same two shuffles as the pair
    * tier; at 100 TB a support-threshold pre-prune (a-priori) cuts the
    * candidate space, same plan. */
  val itemsets3: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val triples = TextOps.combos(op.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps")), "ps", "pa", "pb", "pc")
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("n_abc"))
      .orderBy(col("n_abc").desc, col("pa"), col("pb"), col("pc"))
      .limit(20)
    val pcnt = op.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val tot = op.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    triples
      .join(pcnt.select(col("pk").as("ka"), col("n").as("n_a")),
        col("pa") === col("ka"))
      .join(pcnt.select(col("pk").as("kb"), col("n").as("n_b")),
        col("pb") === col("kb"))
      .join(pcnt.select(col("pk").as("kc"), col("n").as("n_c")),
        col("pc") === col("kc"))
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("pc"), col("n_abc"),
        col("n_a"), col("n_b"), col("n_c"),
        r6(dbl(col("n_abc")) * dbl(col("n_orders")) * dbl(col("n_orders"))
          / (dbl(col("n_a")) * dbl(col("n_b")) * dbl(col("n_c"))))
          .as("lift"))
      .orderBy(col("n_abc").desc, col("pa"), col("pb"), col("pc"))
  }

  /** Frequent co-occurring item pairs with lift (r5) — the association-
    * mining / market-basket surface: parts bought together in the same
    * order, ranked by support, scored by lift = P(ab)/(P(a)·P(b)).
    *
    * Scale shape: pair fan-out is C(d,2) for d = distinct parts per
    * order — d is bounded by order size (≤13 here, ≤7-line orders in
    * TPC-H proper), NOT by catalog size, so candidate volume is linear
    * in orders. The expansion runs as collect_set per order (one keyed
    * shuffle, map-side-combinable) + TextOps.combos over the sorted
    * per-order array — one shuffle fewer than the classic op⋈op
    * self-join.
    * The oracle IS the self-join formulation, so the hash-match proves
    * explode-over-set ≡ self-join. Lift joins happen AFTER the top-20
    * cut (20 rows against the per-part count dim — broadcast); the
    * 1-row order-total aggregate rides an allowlisted broadcast. One
    * double expression per output row, r6 floor-rounded, identical op
    * order both engines. */
  val copurchasePairs: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = TextOps.combos(op.groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps")), "ps", "pa", "pb")
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("pa"), col("pb"))
      .limit(20)
    val pc = op.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val tot = op.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(pc.select(col("pk").as("pk_a"), col("n").as("n_a")),
        col("pa") === col("pk_a"))
      .join(pc.select(col("pk").as("pk_b"), col("n").as("n_b")),
        col("pb") === col("pk_b"))
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        r6(dbl(col("n_ab")) * col("n_orders") / (col("n_a") * col("n_b")))
          .as("lift"))
      .orderBy(col("n_ab").desc, col("pa"), col("pb"))
  }

  val queries: Map[String, QFn] = Map(
    "copurchase_pairs"   -> copurchasePairs,
    "itemsets_3"         -> itemsets3,
    "dbscan_grid"        -> dbscanGrid,
    "agg_topk_native"    -> aggTopkNative,
    "bitmap_distinct"    -> bitmapDistinct,
    "approx_topk_words"  -> approxTopkWords,
    "pii_scrub"          -> piiScrub,
    "dedup_keep_best"    -> dedupKeepBest,
    "map_funcs"          -> mapFuncs,
    "variant_extract"    -> variantExtract,
    "spatial_grid_join"  -> spatialGridJoin,
    "cms_heavy_hitters"  -> cmsHeavyHitters,
    "hll_sketch_union"   -> hllSketchUnion,
    "win_ntile"          -> winNtile,
    "q04_order_priority" -> q04OrderPriority,
    "q18_large_orders"   -> q18LargeOrders)

  private val piiScrubbedSql =
    """regexp_replace(regexp_replace(regexp_replace(raw,
      |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |  'https?://[^ ]+', '<URL>', 'g'),
      |  '\d{3}-\d{4}', '<PHONE>', 'g')""".stripMargin

  val oracle: Map[String, String] = Map(
    // Unbucketed mirror: the grid is access path, not semantics — the
    // oracle joins every pair and applies the same exact integer filter.
    "spatial_grid_join" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id,
        |    user_id % 10000 * 5761 % 10000 AS x,
        |    user_id % 10000 * 2519 % 10000 AS y
        |  FROM events)
        |SELECT a.user_id AS uid_a, b.user_id AS uid_b,
        |  CAST((a.x - b.x) * (a.x - b.x) +
        |       (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
        |FROM u a JOIN u b ON a.user_id < b.user_id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 4000000
        |ORDER BY dist_sq, uid_a, uid_b LIMIT 20""".stripMargin,
    "dbscan_grid" ->
      """WITH RECURSIVE u AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN user_id % 13 = 0 THEN user_id % 10000 * 5761 % 10000
        |         ELSE 1500 + (user_id % 3) * 3000
        |           + (user_id % 10000 * 5761 % 10000) % 250 END AS x,
        |    CASE WHEN user_id % 13 = 0 THEN user_id % 10000 * 2519 % 10000
        |         ELSE 1500 + (user_id % 3) * 2500
        |           + (user_id % 10000 * 2519 % 10000) % 250 END AS y
        |  FROM events),
        |nb AS MATERIALIZED (
        |  SELECT a.user_id AS ua, b.user_id AS ub FROM u a JOIN u b
        |  ON a.user_id <> b.user_id
        |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    <= 160000),
        |deg AS (SELECT ua, count(*) AS n FROM nb GROUP BY ua),
        |core AS MATERIALIZED (SELECT ua AS id FROM deg WHERE n + 1 >= 4),
        |ce AS MATERIALIZED (
        |  SELECT n.ua AS src, n.ub AS dst FROM nb n
        |  JOIN core c1 ON c1.id = n.ua JOIN core c2 ON c2.id = n.ub),
        |walk(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT c.src, w.r FROM ce c JOIN walk w ON c.dst = w.id),
        |lbl AS MATERIALIZED (
        |  SELECT id, min(r) AS lbl FROM walk GROUP BY id),
        |bord AS MATERIALIZED (
        |  SELECT n.ua AS id, min(l.lbl) AS lbl FROM nb n
        |  JOIN lbl l ON l.id = n.ub
        |  WHERE n.ua NOT IN (SELECT id FROM core) GROUP BY n.ua),
        |cl AS (SELECT lbl AS cluster_id, count(*) AS n_core FROM lbl
        |       GROUP BY 1),
        |bc AS (SELECT lbl AS cluster_id, count(*) AS n_border FROM bord
        |       GROUP BY 1),
        |noise AS (
        |  SELECT CAST(-1 AS BIGINT) AS cluster_id,
        |    CAST(0 AS BIGINT) AS n_core,
        |    CAST((SELECT count(*) FROM u) - (SELECT count(*) FROM lbl)
        |      - (SELECT count(*) FROM bord) AS BIGINT) AS n_border)
        |SELECT cluster_id, CAST(n_core AS BIGINT) AS n_core,
        |  CAST(n_border AS BIGINT) AS n_border FROM (
        |  SELECT c.cluster_id, c.n_core, coalesce(b.n_border, 0)
        |      AS n_border
        |  FROM cl c LEFT JOIN bc b USING (cluster_id)
        |  UNION ALL SELECT * FROM noise)
        |ORDER BY cluster_id""".stripMargin,
    "itemsets_3" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |baskets AS (
         |  SELECT ok, list_sort(list(DISTINCT pk)) AS ps FROM op
         |  GROUP BY ok),
         |tri AS (
         |  SELECT ps[i+1] AS pa, ps[j+1] AS pb, ps[k+1] AS pc
         |  FROM baskets,
         |    (SELECT unnest(range(0, (SELECT max(len(ps)) FROM baskets)))
         |       AS i),
         |    (SELECT unnest(range(0, (SELECT max(len(ps)) FROM baskets)))
         |       AS j),
         |    (SELECT unnest(range(0, (SELECT max(len(ps)) FROM baskets)))
         |       AS k)
         |  WHERE i < j AND j < k AND k <= len(ps) - 1),
         |top AS (
         |  SELECT pa, pb, pc, count(*) AS n_abc FROM tri
         |  GROUP BY 1, 2, 3
         |  ORDER BY n_abc DESC, pa, pb, pc LIMIT 20),
         |pcnt AS (SELECT pk, count(*) AS n FROM op GROUP BY pk),
         |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM op)
         |SELECT t.pa, t.pb, t.pc, t.n_abc, a.n AS n_a, b.n AS n_b,
         |  c.n AS n_c,
         |  ${r6Sql("CAST(t.n_abc AS DOUBLE) * CAST(tot.n_orders AS DOUBLE) * CAST(tot.n_orders AS DOUBLE) / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE) * CAST(c.n AS DOUBLE))")}
         |    AS lift
         |FROM top t JOIN pcnt a ON a.pk = t.pa
         |  JOIN pcnt b ON b.pk = t.pb
         |  JOIN pcnt c ON c.pk = t.pc
         |  CROSS JOIN tot
         |ORDER BY n_abc DESC, pa, pb, pc""".stripMargin,
    "copurchase_pairs" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
         |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY a.pk, b.pk),
         |top AS (SELECT * FROM pairs ORDER BY n_ab DESC, pa, pb LIMIT 20),
         |pc AS (SELECT pk, count(*) AS n FROM op GROUP BY pk),
         |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM op)
         |SELECT pa, pb, n_ab, pca.n AS n_a, pcb.n AS n_b,
         |  ${r6Sql("CAST(n_ab AS DOUBLE) * n_orders / (pca.n * pcb.n)")}
         |    AS lift
         |FROM top JOIN pc pca ON pa = pca.pk JOIN pc pcb ON pb = pcb.pk, tot
         |ORDER BY n_ab DESC, pa, pb""".stripMargin,
    "agg_topk_native" ->
      """SELECT o_orderpriority, rnk, price FROM (
        |  SELECT o_orderpriority, o_totalprice AS price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 5
        |ORDER BY o_orderpriority, rnk""".stripMargin,
    "bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'ALL', count(DISTINCT user_id) FROM events
        |ORDER BY event_type""".stripMargin,
    "approx_topk_words" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    "pii_scrub" ->
      s"""WITH r AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 <> 0
        |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' see https://example.com/u/' || doc_id ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw, 'https?://[^ ]+')) AS BIGINT)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(raw, '\\d{3}-\\d{4}')) AS BIGINT)
        |    AS n_phones,
        |  CAST(length($piiScrubbedSql) AS BIGINT) AS clean_len,
        |  md5($piiScrubbedSql) AS clean_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (
        |      PARTITION BY regexp_replace(lower(text), '\s+', ' ', 'g')
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "map_funcs" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events WHERE user_id < 200
        |  GROUP BY user_id, event_type)
        |SELECT user_id,
        |  count(*) AS n_types,
        |  CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN cnt END),
        |    0) AS BIGINT) AS purchases,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN cnt * 2 END),
        |    0) AS BIGINT) AS views_x2
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "variant_extract" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  coalesce(json_extract_string(props, '$.missing'), 'absent')
        |    AS miss
        |FROM events ORDER BY event_id""".stripMargin,
    "win_ntile" ->
      """SELECT c_nationkey, bucket, count(*) AS n,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM (
        |  SELECT c_nationkey, c_acctbal,
        |    CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS bucket
        |  FROM customer)
        |GROUP BY c_nationkey, bucket
        |ORDER BY c_nationkey, bucket""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
        |JOIN orders ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)
}
