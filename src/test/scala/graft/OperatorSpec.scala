package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextOps, VectorSum}

/** Non-oracle operator checks: approximate distinct error bounds, the
  * custom Aggregator's partial/merge correctness, the mapPartitions
  * multimodal stub, and algebraic laws of the dedup/set/similarity ops. */
class OperatorSpec extends SparkSpec {

  test("driver smoke: SparkEntry.entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    val e = Tables(spark, sf, "events")
    val rows = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val approx = r.getAs[Long]("approx").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getAs[String]("event_type")}: approx $approx vs exact $exact")
    }
  }

  test("approx_percentile rank error bounded vs exact percentile") {
    // accuracy=10000 bounds the RANK error at n/10000; assert the value
    // returned sits between the exact percentiles at q ± 1% rank slack.
    val e = Tables(spark, sf, "events")
    val approx = SparkEntry.queries("approx_percentile")(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") ->
        Seq(r.getAs[Double]("p50"), r.getAs[Double]("p90"),
          r.getAs[Double]("p99"))).toMap
    val qs = Seq(0.5, 0.9, 0.99)
    val bounds = e.groupBy(col("event_type")).agg(
      expr("percentile(value, array(0.49, 0.89, 0.98))").as("lo"),
      expr("percentile(value, array(0.51, 0.91, 1.0))").as("hi"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getSeq[Double](1), r.getSeq[Double](2))).toMap
    assert(approx.nonEmpty && approx.keySet == bounds.keySet)
    approx.foreach { case (et, vals) =>
      val (lo, hi) = bounds(et)
      qs.indices.foreach { i =>
        assert(vals(i) >= lo(i) && vals(i) <= hi(i),
          s"$et q=${qs(i)}: approx ${vals(i)} outside [${lo(i)}, ${hi(i)}]")
      }
    }
  }

  test("tdigest_quantile estimates inside the exact q +- 1% rank window") {
    // k1 scale function with delta=200 bounds cluster mass at ~pi/(2*200)
    // = 0.8% of n, and the centroid-mean estimate sits inside its
    // cluster's value span — so the rank error stays under the 1% window
    // BY CONSTRUCTION (0.50% measured at sf0.1).
    val e = Tables(spark, sf, "events")
    val est = SparkEntry.queries("tdigest_quantile")(spark, sf)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Double]("q")) -> r.getAs[Double]("est")).toMap
    assert(est.size == 15, s"expected 5 types x 3 quantiles, got ${est.size}")
    val qs = Seq(0.5, 0.9, 0.99)
    val bounds = e.groupBy(col("event_type")).agg(
      expr("percentile(value, array(0.49, 0.89, 0.98))").as("lo"),
      expr("percentile(value, array(0.51, 0.91, 1.0))").as("hi"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getSeq[Double](1), r.getSeq[Double](2))).toMap
    est.foreach { case ((et, q), v) =>
      val i = qs.indexOf(q)
      val (lo, hi) = bounds(et)
      assert(v >= lo(i) && v <= hi(i),
        s"$et q=$q: t-digest $v outside [${lo(i)}, ${hi(i)}]")
    }
  }

  test("hdr_quantile_sketch midpoint within 1/16 relative error of the " +
      "exact rank-selected value") {
    // The sketch walks to the bin containing the value at rank ceil(q·n);
    // the bin-midpoint estimate is within half a sub-bin width (2^e/16)
    // of every value in that bin, so rel error ≤ 1/16 by construction.
    val e = Tables(spark, sf, "events").filter(col("value") > 0)
    val sk = SparkEntry.queries("hdr_quantile_sketch")(spark, sf)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Double]("q")) -> (r.getAs[Double]("est"),
        r.getAs[Long]("target_rank"))).toMap
    assert(sk.nonEmpty)
    val byType = e.select(col("event_type"), col("value"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    sk.foreach { case ((et, _), (est, rank)) =>
      val exact = byType(et)(rank.toInt - 1)
      assert(math.abs(est - exact) / exact <= 1.0 / 16 + 1e-12,
        s"$et rank $rank: sketch $est vs exact $exact")
    }
  }

  test("hll_sketch_union estimates within 5% of exact, incl. the union") {
    val e = Tables(spark, sf, "events")
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap +
      ("ALL" -> e.select(col("user_id")).distinct().count())
    val est = SparkEntry.queries("hll_sketch_union")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        r.getAs[Long]("approx_users")).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (et, a) =>
      val x = exact(et).toDouble
      assert(math.abs(a - x) / x <= 0.05, s"$et: estimate $a vs exact $x")
    }
  }

  test("VectorSum aggregator matches posexplode-based sum per label") {
    val emb = Tables(spark, sf, "embeddings")
    val viaAgg = emb.groupBy(col("label"))
      .agg(VectorSum(col("embedding")).as("vs"))
      .select(col("label"), posexplode(col("vs")).as(Seq("pos", "v")))
    val viaExplode = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast("double")).as("v"))
    val joined = viaAgg.alias("a")
      .join(viaExplode.alias("b"), Seq("label", "pos"))
      .select(col("a.v").cast("double").as("va"), col("b.v").as("vb"))
      .collect()
    assert(joined.length == 10 * 64)
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-3)
    }
  }

  test("VectorSum pads ragged vectors to max length, partition-independent") {
    import spark.implicits._
    val ragged = Seq(
      (1, Seq(1.0f, 2.0f)),
      (1, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (1, Seq(0.5f))).toDF("g", "v")
    val expected = Seq(2.5f, 3.0f, 1.0f, 1.0f)
    for (parts <- Seq(1, 3)) {
      val out = ragged.repartition(parts).groupBy(col("g"))
        .agg(VectorSum(col("v")).as("vs"))
        .collect()(0).getSeq[Float](1)
      assert(out == expected, s"parts=$parts: $out")
    }
  }

  test("Multimodal.extractFeatures runs partition-wise over binary payloads") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .repartition(3)
    val feats = Multimodal.extractFeatures(docs)
    assert(feats.schema == Multimodal.featureSchema)
    val n = Tables(spark, sf, "documents").count()
    assert(feats.count() == n)
    val r = feats.orderBy(col("doc_id")).first()
    assert(r.getAs[Long]("n_bytes") > 0 && r.getAs[Long]("checksum") != 0L)
  }

  test("dedup is idempotent") {
    val once = SparkEntry.queries("qdedup_docs")(spark, sf)
    val docs = Tables(spark, sf, "documents")
    val twice = once.join(docs.select(col("doc_id"), col("text")), "doc_id")
    // re-running the same normalization keeps every survivor
    val renorm = twice
      .withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
      .groupBy(col("norm")).count().filter(col("count") > 1)
    assert(renorm.count() == 0)
  }

  test("cosine kNN: self-similarity excluded, scores in [-1, 1], k per query") {
    val knn = SparkEntry.queries("qknn_cosine_top5")(spark, sf).collect()
    assert(knn.forall(r => r.getAs[Long]("qid") != r.getAs[Long]("vec_id")))
    assert(knn.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0001 && c <= 1.0001
    })
    val perQ = knn.groupBy(_.getAs[Long]("qid")).values.map(_.length).toSet
    assert(perQ == Set(5))
  }

  test("set algebra: |union| <= |A| + |B|; except ∩ purchasers = ∅") {
    val u = SparkEntry.queries("set_union_dedup")(spark, sf).count()
    val e = Tables(spark, sf, "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id")).distinct()
    assert(u <= p.count() + sg.count())
    val ex = SparkEntry.queries("set_except")(spark, sf)
    assert(ex.join(p, "user_id").count() == 0)
  }

  test("minhash LSH pairs are a subset of exact neardup pairs") {
    val exact = SparkEntry.queries("neardup_pairs")(spark, sf)
      .select("a_id", "b_id").collect().toSet
    val lsh = SparkEntry.queries("minhash_lsh_pairs")(spark, sf)
      .select("a_id", "b_id").collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("rollup row count = sum of grouping-set cardinalities") {
    val o = Tables(spark, sf, "orders")
    val full = o.select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct().count()
    val s1 = o.select(col("o_orderstatus")).distinct().count()
    val got = SparkEntry.queries("qrollup_orders")(spark, sf).count()
    assert(got == full + s1 + 1)
  }

  test("Observation metrics ride the job for free (no second pass)") {
    // production guardrail pattern: row counts / null counts / sums are
    // collected by the SAME action that writes the output, instead of a
    // second scan of the pipeline
    val obs = new org.apache.spark.sql.Observation("li_metrics")
    val df = Tables(spark, sf, "lineitem")
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("null_qty"),
        max(col("l_quantity")).as("max_qty"))
      .filter(col("l_quantity") > 0)
    val produced = df.count()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] >= produced)
    assert(m("null_qty").asInstanceOf[Long] == 0L)
    assert(m("max_qty").asInstanceOf[Double] > 0.0)
  }

  test("TopKByScore aggregate is partitioning-invariant and matches the window form") {
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    def run(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val topk = graft.operators.TopKByScore(3) _
      df.groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), col("pos"), col("col.id"), col("col.score"))
        .orderBy(col("o_orderpriority"), col("pos"))
        .collect().map(_.toString).toSeq
    }
    // adversarial partitionings: single partition, many tiny, value-clustered
    val base = run(o)
    assert(base == run(o.repartition(1)))
    assert(base == run(o.repartition(17)))
    assert(base == run(o.repartitionByRange(5, col("o_totalprice"))))
    // window mirror
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val win = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_orderpriority"), (col("rn") - 1).cast("int").as("pos"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("pos"))
      .collect().map(_.toString).toSeq
    assert(base == win)
  }

  test("custom object aggregates survive the sort-based spill fallback " +
    "(identical output at fallbackThreshold=1)") {
    // ObjectHashAggregateExec falls back to sort-based aggregation once a
    // partition's in-memory map exceeds
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold — THE
    // memory-pressure path a 100 TB run lives in. Threshold 1 forces the
    // fallback on the very first distinct key, so every partial and final
    // merge of the custom TypedImperativeAggregates (TopKDoubles behind
    // topk_per_group_agg, the Bloom union behind bloom_prefilter_join)
    // runs through sorted merge — serialize/deserialize + merge order
    // differ from the hash path, which is exactly what could diverge.
    val keys = Seq("topk_per_group_agg", "bloom_prefilter_join")
    for (k <- keys) {
      val normal = SparkEntry.queries(k)(spark, sf)
        .collect().map(_.toString).toSeq
      val spilled = withConfs(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1") {
        SparkEntry.queries(k)(spark, sf).collect().map(_.toString).toSeq
      }
      assert(spilled == normal,
        s"$k diverges under the sort-based aggregate fallback")
    }
    // the conf actually gates the path: a plan using the object hash
    // aggregate must still produce ObjectHashAggregate nodes (fallback is
    // runtime, not a plan change) — guard against the conf being renamed
    // out from under the test by a Spark upgrade.
    val plan = SparkEntry.queries("topk_per_group_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
  }

  test("DEFLATE payload codec round-trips edge payloads bit-exactly " +
    "(empty, multi-byte, incompressible, large)") {
    import graft.operators.Multimodal
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
    val i = new java.util.zip.Inflater(false)
    val rnd = new scala.util.Random(7)
    val cases: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      "hello world".getBytes("UTF-8"),
      "日本語 🙂 ümlaut ß".getBytes("UTF-8"),
      Array.fill(4096)((rnd.nextInt(256) - 128).toByte), // incompressible
      ("spark " * 100000).getBytes("UTF-8"))             // > one 4 KB buffer
    for (c <- cases) {
      val back = Multimodal.inflate(Multimodal.deflate(c, d), i)
      assert(java.util.Arrays.equals(back, c),
        s"round-trip diverged at length ${c.length}")
    }
    // a truncated payload must fail loudly, not return partial bytes
    val full = Multimodal.deflate(("abc " * 1000).getBytes("UTF-8"), d)
    intercept[Exception] {
      Multimodal.inflate(full.take(full.length / 2), i)
    }
    // a preset-dictionary (FDICT) zlib stream stalls inflate() at n=0
    // with needsDictionary=true and input remaining — before the r9
    // guard widened from needsInput()-only, this spun forever
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8)
    val ex = intercept[java.util.zip.DataFormatException] {
      Multimodal.inflate(fdict, i)
    }
    assert(ex.getMessage.contains("preset dictionary"))
  }

  test("kcore_peel: k sits above the mean degree, round 1 removes a " +
    "real fringe, and the trajectory shrinks monotonically") {
    val rows = SparkEntry.queries("kcore_peel")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))) // round, k, n_removed, n_nodes, n_edges
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_._2).distinct.length == 1, "k must be fixed")
    assert(rows.head._3 > 0, "k > mean degree must peel a non-empty fringe")
    // synchronous peel can only shrink the graph
    val edges = rows.map(_._5).toSeq
    assert(edges == edges.sorted.reverse, s"edges grew: $edges")
    val nodes = rows.map(_._4).toSeq
    assert(nodes == nodes.sorted.reverse, s"nodes grew: $nodes")
  }

  test("mmr_select picks 8 distinct candidates, leads with the most " +
    "relevant, and is more diverse than plain top-8-by-relevance") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("mmr_select")(spark, sf).collect()
    assert(out.length == 8)
    val ids = out.map(_.getLong(1))
    assert(ids.distinct.length == 8, "MMR re-picked a selected item")
    val rels = out.map(_.getDouble(2))
    assert(rels.head == rels.max, "step 1 must be the relevance argmax")
    // diversity: mean pairwise cosine inside the MMR set must not exceed
    // the mean pairwise cosine of the pure-relevance top-8 (that is the
    // entire point of the 0.3 redundancy penalty)
    graft.expressions.DotProduct.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    def meanPairSim(set: Array[Long]): Double = {
      val sub = e.filter(col("vec_id").isin(set: _*))
      val pairs = sub.toDF("a", "va", "na")
        .crossJoin(sub.toDF("b", "vb", "nb"))
        .filter(col("a") < col("b"))
        .select((call_function("graft_dot", col("va"), col("vb")) /
          (col("na") * col("nb"))).as("sim"))
      pairs.agg(avg(col("sim"))).head().getDouble(0)
    }
    val top8 = e.crossJoin(
        e.filter(col("vec_id") === 0).select(col("v").as("qv"),
          col("nrm").as("qn")))
      .filter(col("vec_id") =!= 0)
      .withColumn("rel", call_function("graft_dot", col("qv"), col("v")) /
        (col("qn") * col("nrm")))
      .orderBy(col("rel").desc, col("vec_id")).limit(8)
      .collect().map(_.getLong(0))
    assert(meanPairSim(ids) <= meanPairSim(top8) + 1e-9,
      "MMR set is no more diverse than the relevance-only top-8")
  }

  /** Hand-built MMR pool: 4 and 7 tie on score at step 2 (same rel, same
    * sim to the step-1 pick); 2 and 6 score -0.0 and 0.0 at step 4. Each
    * case runs with the ids iterated up and down, so neither the
    * tiebreak nor the zero comparison can pass by iteration order. */
  private val mmrRel = Seq(1L -> 0.9, 2L -> -0.0, 4L -> 0.5, 6L -> 0.0,
    7L -> 0.5)
  private val mmrSim = {
    val close = Map((1L, 4L) -> 0.2, (1L, 7L) -> 0.2, (4L, 7L) -> 0.9)
    (for ((a, _) <- mmrRel; (b, _) <- mmrRel)
      yield (a, b) -> close.getOrElse((a min b, a max b), 0.0)).toMap
  }
  private def mmrPicks(k: Int): Seq[Seq[graft.queries.VectorQ.MmrPick]] =
    Seq(Ordering.Long, Ordering.Long.reverse).map(ord =>
      graft.queries.VectorQ.mmrGreedy(
        scala.collection.immutable.TreeMap(mmrRel: _*)(ord), mmrSim, k))

  /** VectorQ's search kernel on hand-built 4-d vectors, query 0 against
    * itself, an exact match (7), an r6 tie (3 and 5 both score 0.707107)
    * and the zero vector (4); the base runs in both row orders, so the
    * tie-break cannot pass by input order. Rows: (vec_id, cos_sim, rn). */
  private def kernelTop(k: Int): Seq[Seq[(Long, Option[Double], Int)]] = {
    import spark.implicits._
    Tables.prepareSession(spark) // registers graft_dot
    val rows = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
      (5L, Seq(1.0, 1.0, 0.0, 0.0), math.sqrt(2)),
      (3L, Seq(1.0, 0.0, 1.0, 0.0), math.sqrt(2)),
      (4L, Seq(0.0, 0.0, 0.0, 0.0), 0.0), (7L, Seq(2.0, 0.0, 0.0, 0.0), 2.0))
    Seq(rows, rows.reverse).map { rs =>
      val base = rs.toDF("vec_id", "v", "nrm").coalesce(1)
      val q = base.filter(col("vec_id") === 0L).select(col("vec_id").as("qid"),
        col("v").as("qv"), col("nrm").as("qn"))
      graft.queries.VectorQ.nearest(q.crossJoin(base), k).orderBy("rn")
        .collect().toSeq.map(r => (r.getAs[Long]("vec_id"),
          Option(r.getAs[java.lang.Double]("cos_sim")).map(_.doubleValue),
          r.getAs[Int]("rn")))
    }
  }

  test("search kernel: r6 ties go to the lower vec_id, a zero-norm NULL " +
      "ranks last, the query never ranks itself, the cut at k holds") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    kernelTop(10).foreach { got =>
      assert(got.map(_._1) == Seq(7L, 3L, 5L, 4L), got)
      assert(got.map(_._2) == Seq(Some(1.0), Some(0.707107), Some(0.707107),
        None), got)
      assert(got.map(_._3) == Seq(1, 2, 3, 4), got)
    }
    kernelTop(2).foreach(got => assert(got.map(_._1) == Seq(7L, 3L), got))
  }

  test("nearestCells: an fdist tie goes to the lower cell label") {
    import spark.implicits._
    Tables.prepareSession(spark)
    // (1,0,0,0) is at squared distance 1 from cells 9 and 2, 16 from 5
    val cents = Seq(9L -> Seq(0.0, 0.0, 0.0, 0.0), 5L -> Seq(5.0, 0.0, 0.0,
      0.0), 2L -> Seq(2.0, 0.0, 0.0, 0.0)).toDF("cl", "cvec")
    val vecs = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0), 1.0)).toDF("vec_id", "v", "nrm")
    val got = graft.queries.VectorQ.nearestCells(vecs, cents, "cl", 2)
      .orderBy("crn").collect().toSeq
      .map(r => (r.getAs[Long]("cl"), r.getAs[Double]("fdist")))
    assert(got == Seq(2L -> 1.0, 9L -> 1.0), got)
  }

  test("mmrGreedy: step 1 is the relevance argmax with max_sim 0.0") {
    mmrPicks(1).foreach { p =>
      assert(p.map(x => (x.step, x.vecId, x.rel, x.maxSim, x.score)) ==
        Seq((1L, 1L, 0.9, 0.0, 0.7 * 0.9)))
    }
  }

  test("mmrGreedy: a score tie goes to the lower vec_id") {
    mmrPicks(2).foreach { p =>
      assert(p(1).score == 0.7 * 0.5 - 0.3 * 0.2)
      assert(p.map(_.vecId) == Seq(1L, 4L), "tie must go to vec_id 4, not 7")
    }
  }

  test("mmrGreedy: -0.0 and 0.0 scores compare equal, so vec_id decides") {
    mmrPicks(4).foreach { p =>
      assert(java.lang.Double.compare(p(3).score, 0.0) < 0,
        "step 4's pick must score -0.0")
      assert(p.map(_.vecId) == Seq(1L, 4L, 7L, 2L))
      assert(p(2).maxSim == 0.9, "max_sim is the max over all picks")
    }
  }

  test("mmrGreedy: a pool smaller than k stops early") {
    mmrPicks(8).foreach { p =>
      assert(p.map(_.step) == Seq(1L, 2L, 3L, 4L, 5L))
      assert(p.map(_.vecId) == Seq(1L, 4L, 7L, 2L, 6L))
    }
  }

  test("benford_audit: all nine digits, shares sum to 1, expectations " +
    "are the Benford masses") {
    val rows = SparkEntry.queries("benford_audit")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 9L))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    val expSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(expSum - 1.0) < 1e-6, s"expectations sum to $expSum")
  }

  test("mann_whitney_u: U stays inside [0, n1*n2] and z is finite") {
    val rows = SparkEntry.queries("mann_whitney_u")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n1, n2, u2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(u2 >= 0 && u2 <= 2 * n1 * n2,
        s"${r.getString(0)}: 2U=$u2 outside [0, ${2 * n1 * n2}]")
      assert(!r.isNullAt(4) && !r.getDouble(4).isNaN,
        s"${r.getString(0)}: z not finite")
    }
  }

  test("funnel_time_conv: converters are viewers, rate in (0,1], " +
    "p50 <= p90") {
    val r = SparkEntry.queries("funnel_time_conv")(spark, sf).head()
    val (nv, nc) = (r.getLong(0), r.getLong(1))
    assert(nc <= nv && nc > 0)
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    assert(r.getLong(3) <= r.getLong(4), "p50 > p90")
  }

  test("spearman_rho stays in [-1, 1] and centered ranks sum to zero " +
    "by construction (rho finite)") {
    val rows = SparkEntry.queries("spearman_rho")(spark, sf).collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val rho = r.getDouble(2)
      assert(!rho.isNaN && rho >= -1.0 && rho <= 1.0,
        s"${r.getString(0)}: rho=$rho")
    }
  }

  test("theil_sen: pair count is C(n_days, 2) and the slope is the " +
    "middle of the pairwise-slope order") {
    val rows = SparkEntry.queries("theil_sen")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nd, np) = (r.getLong(1), r.getLong(2))
      assert(np == nd * (nd - 1) / 2,
        s"${r.getString(0)}: $np pairs for $nd days")
      assert(!r.getDouble(3).isNaN)
    }
  }

  test("anova_f: F and eta-squared are finite, eta in [0, 1)") {
    val r = SparkEntry.queries("anova_f")(spark, sf).head()
    assert(r.getLong(0) >= 2, "ANOVA needs at least 2 groups")
    assert(r.getDouble(2) >= 0.0 && !r.getDouble(2).isNaN)
    val eta = r.getDouble(3)
    assert(eta >= 0.0 && eta < 1.0, s"eta_sq=$eta")
  }

  test("graph_assortativity is a correlation (in [-1, 1]) over the " +
    "shared word graph (vertex/edge counts match triangle_count)") {
    val a = SparkEntry.queries("graph_assortativity")(spark, sf).head()
    val t = SparkEntry.queries("triangle_count")(spark, sf).head()
    assert(a.getLong(0) == t.getLong(0), "vertex count mismatch")
    assert(a.getLong(1) == t.getLong(1), "edge count mismatch")
    val r = a.getDouble(2)
    assert(!r.isNaN && r >= -1.0 && r <= 1.0, s"assortativity=$r")
  }

  test("skew_agg_salted equals the direct single-stage aggregation") {
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("skew_agg_salted")(spark, sf).collect()
    val direct = Tables(spark, sf, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type")).collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      direct.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("mix_temperature targets sum exactly to the 10000 budget and " +
    "every source gets a positive share") {
    val rows = SparkEntry.queries("mix_temperature")(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == 10000L)
    assert(rows.forall(_.getLong(3) > 0))
    // sqrt-temperature flattens: max/min target ratio must be strictly
    // below the raw char-mass ratio
    val byChars = rows.sortBy(_.getLong(2))
    val massRatio = byChars.last.getLong(2).toDouble / byChars.head.getLong(2)
    val tgtRatio = rows.map(_.getLong(3)).max.toDouble /
      rows.map(_.getLong(3)).min
    assert(tgtRatio < massRatio,
      s"temperature failed to flatten: $tgtRatio vs $massRatio")
  }

  test("collocation_llr scores are non-negative and the top hit is a " +
    "high-count pair") {
    val rows = SparkEntry.queries("collocation_llr")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getDouble(3) >= -1e-9), "LLR must be >= 0")
    assert(rows.forall(_.getLong(2) >= 10), "candidate filter leaked")
  }

  test("cms_heavy_hitters: estimates never undercount and stay within " +
    "the eps*N one-sided bound") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("cms_heavy_hitters")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getLong(3) >= 0), "CMS undercounted")
    val n = Tables(spark, sf, "documents")
      .select(explode(graft.operators.TextOps.tokens(col("text")))).count()
    val bound = math.ceil(1e-4 * n).toLong
    assert(rows.forall(_.getLong(3) <= bound),
      s"overcount above eps*N=$bound: ${rows.map(_.getLong(3)).max}")
  }

  test("json_malformed_policy: corrupt split is exact and DROPMALFORMED " +
    "keeps precisely the good rows") {
    val r = SparkEntry.queries("json_malformed_policy")(spark, sf).head()
    assert(r.getLong(1) == 6L, "corrupt count")
    assert(r.getLong(0) == r.getLong(2) + 6L, "permissive keeps all lines")
    assert(r.getLong(4) == r.getLong(2), "drop count != good count")
  }

  test("spatial_grid_join: grid-bucketed result equals the brute-force " +
    "all-pairs join (grid is access path, not semantics)") {
    import org.apache.spark.sql.functions._
    val grid = SparkEntry.queries("spatial_grid_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(grid.forall(_._3 <= 4000000L), "pair above the radius")
    assert(grid.forall(p => p._1 < p._2), "unordered pair leaked")
    val u = Tables(spark, sf, "events").select(col("user_id")).distinct()
      .select(col("user_id"),
        (col("user_id") * lit(2654435761L) % 10000L).as("x"),
        (col("user_id") * lit(2246822519L) % 10000L).as("y"))
    val brute = u.toDF("a", "xa", "ya")
      .join(u.toDF("b", "xb", "yb"), col("a") < col("b"))
      .select(col("a"), col("b"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
      .filter(col("d2") <= 4000000L)
      .orderBy(col("d2"), col("a"), col("b")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(grid == brute, "grid join diverged from brute force")
  }

  test("holt_linear fold matches a driver-side replay of the recursion " +
    "bit-for-bit") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("holt_linear")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val series = Tables(spark, sf, "events")
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(2)).toSeq)
    for ((et, xs) <- series if xs.length >= 2) {
      var l = xs.head
      var b = xs(1) - xs.head
      for (x <- xs.drop(1)) {
        val l2 = 0.5 * x + 0.5 * (l + b)
        b = 0.5 * (l2 - l) + 0.5 * b
        l = l2
      }
      def r6d(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
      assert(out(et) == ((r6d(l), r6d(b))),
        s"$et: engine ${out(et)} vs replay ${(r6d(l), r6d(b))}")
    }
  }

  test("js_divergence is bounded by ln 2 and non-negative for every " +
    "source") {
    val rows = SparkEntry.queries("js_divergence")(spark, sf).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= math.log(2.0) + 1e-9,
        s"${r.getString(0)}: jsd=$j outside [0, ln2]")
    }
  }

  test("kneser-ney: probabilities in (0,1] and the conditional " +
    "distribution of the heaviest context sums exactly to 1") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("kn_lm_prob")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= 1.0))
    // Σ_w2 p_KN(w2 | w1) over every word with continuation mass = 1:
    // the discount frees exactly d·N1+(w1·)/c(w1·), and λ·p_cont
    // re-spends exactly that — the normalization KN is built on.
    val toks = Tables(spark, sf, "documents")
      .select(graft.operators.TextOps.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1))
        .as("i"))
      .select(element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val bi = toks.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val hot = toks.groupBy(col("w1")).agg(count(lit(1)).as("r"))
      .orderBy(col("r").desc, col("w1")).head()
    val (w1, r) = (hot.getString(0), hot.getLong(1))
    val tTypes = bi.count()
    val prec = bi.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val nFol = bi.filter(col("w1") === w1).count()
    val seen = bi.filter(col("w1") === w1)
      .select(col("w2"), col("c")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val total = prec.collect().map { p =>
      val disc = seen.get(p.getString(0))
        .map(c => math.max(c - 0.75, 0.0) / r).getOrElse(0.0)
      disc + 0.75 * nFol / r * (p.getLong(1).toDouble / tTypes)
    }.sum
    assert(math.abs(total - 1.0) < 1e-9, s"KN mass for '$w1' = $total")
  }

  // TextOps' word window against Scala's own collections, under the
  // session's ANSI mode, where element_at past the end throws.
  private def toks(k: Int) = (0 until k).map(i => s"$k:t$i")
  private def tokRows(sizes: Int*) = {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    sizes.map(k => (k, toks(k))).toDF("id", "ws")
  }

  test("TextOps.windows + gram: the n-grams of sliding(n), none below n") {
    val ws = col("ws")
    for (n <- Seq(2, 3, 10)) {
      val sizes = Seq(0, 1, n - 1, n, n + 1)
      val got = tokRows(sizes: _*)
        .select(col("id"), ws, TextOps.windows(ws, n).as("i"))
        .select(col("id"), col("i"), TextOps.gram(ws, col("i"), n))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
      val want = sizes.flatMap(k => toks(k).sliding(n).filter(_.size == n)
        .zipWithIndex.map { case (g, i) => (k, i, g.mkString(" ")) })
      assert(got.sorted.toSeq == want.sorted, s"n=$n")
    }
  }

  test("TextOps.windows with a step: the starts of (0 until size by 15)") {
    val sizes = Seq(0, 1, 15, 16, 31)
    val got = tokRows(sizes: _*)
      .select(col("id"), TextOps.windows(col("ws"), 1, 15).as("i"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val want = sizes.flatMap(k => (0 until k by 15).map(k -> _))
    assert(got.sorted.toSeq == want.sorted)
  }

  test("TextOps.combos: the k = 2 and 3 combinations of a sorted array") {
    for (k <- Seq(2, 3)) {
      val names = (1 to k).map(d => s"e$d")
      val got = TextOps.combos(tokRows(0 to 5: _*), "ws", names: _*)
        .collect().map(r => names.indices.map(r.getString).mkString(" "))
      val want = (0 to 5).flatMap(n => toks(n).combinations(k))
        .map(_.mkString(" "))
      assert(got.sorted.toSeq == want.sorted, s"k=$k")
    }
  }

  test("seasonal_decompose: components re-add to the observation and " +
    "residuals mean to zero within each (type, dow) cell") {
    val rows = SparkEntry.queries("seasonal_decompose")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val c = r.getLong(2).toDouble
      val sum3 = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(c - sum3) < 5e-6,
        s"${r.getString(0)}/${r.getLong(1)}: $c vs $sum3")
    }
    rows.groupBy(r => (r.getString(0), (r.getLong(1) + 4) % 7))
      .foreach { case (cell, rs) =>
        val m = rs.map(_.getDouble(5)).sum / rs.size
        assert(math.abs(m) < 1e-5, s"$cell residual mean $m")
      }
  }

  test("pacf_lag: level 1 equals acf lag 1 (Durbin-Levinson base case) " +
    "and all levels stay in [-1, 1]") {
    val pacf = SparkEntry.queries("pacf_lag")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val acf1 = SparkEntry.queries("acf_lag")(spark, sf).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(pacf.keySet == acf1.keySet)
    for ((et, (p1, p2, p3)) <- pacf) {
      assert(p1 == acf1(et), s"$et: pacf1 $p1 != acf1 ${acf1(et)}")
      for (p <- Seq(p1, p2, p3))
        assert(!p.isNaN && p >= -1.0 && p <= 1.0, s"$et: $p")
    }
  }

  test("win_range_interval matches a range self-join recomputation of " +
    "the trailing-hour counts") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("win_range_interval")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.values.forall(_ >= 1), "frame must include the row itself")
    val e = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("ts_us"))
    val recomputed = e.toDF("id", "et", "t")
      .join(e.toDF("id2", "et2", "t2"),
        col("et") === col("et2") && col("t2") <= col("t") &&
          col("t2") >= col("t") - lit(3600000000L))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == recomputed, "window frame diverged from the self-join")
  }

  test("weighted_median matches a driver-side scan of the cumulative " +
    "weight along the price order") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("weighted_median")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val rows = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    for ((flag, grp) <- rows.groupBy(_._1)) {
      val ordered = grp.sortBy(t => (t._2, t._3, t._4))
      val tot = ordered.map(_._5).sum
      var cum = 0L
      val wm = ordered.find { t => cum += t._5; cum * 2 >= tot }.get._2
      assert(out(flag) == ((tot, wm)), s"$flag: ${out(flag)} vs ($tot, $wm)")
    }
  }

  test("interval_union_len: coverage bounds hold and a driver replay " +
    "of the sweep agrees per user") {
    import org.apache.spark.sql.functions._
    val span = 1800000000L
    val out = SparkEntry.queries("interval_union_len")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    for ((u, (ne, ni, act)) <- out) {
      assert(ni >= 1 && ni <= ne, s"user $u: islands $ni events $ne")
      assert(act >= span && act <= ne * span,
        s"user $u: coverage $act outside [$span, ${ne * span}]")
    }
    val byUser = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    for ((u, evs) <- byUser) {
      var islands = 0L; var covered = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      for (t <- evs.map(_._2).sorted) {
        if (t > curE) { // close island, open new
          if (islands > 0) covered += curE - curS
          islands += 1; curS = t; curE = t + span
        } else curE = math.max(curE, t + span)
      }
      covered += curE - curS
      assert(out(u) == ((evs.length.toLong, islands, covered)),
        s"user $u: ${out(u)} vs (${evs.length}, $islands, $covered)")
    }
  }

  // ---- r10 property gates ----

  test("markov_attribution: shares sum to 1, removal effects in [0, 1], " +
    "and removing any channel never raises conversion") {
    val rows = SparkEntry.queries("markov_attribution")(spark, sf).collect()
    assert(rows.length == 4)
    val shares = rows.map(_.getAs[Double]("attribution"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum ${shares.sum}")
    rows.foreach { r =>
      val re = r.getAs[Double]("removal_effect")
      assert(re >= 0.0 && re <= 1.0, s"${r.getString(0)}: RE $re")
      assert(r.getAs[Double]("p_removed") <= r.getAs[Double]("p_full") + 1e-9,
        s"${r.getString(0)}: removal raised conversion")
    }
  }

  test("split finder: equal r6 gains go to the lower feat, then the " +
    "lower bin") {
    import spark.implicits._
    import graft.queries.StatsQ.bestSplit
    // tied candidates listed worst-first: only the (feat, bin) tie-break
    // can pick the winners (x1, 6) in node 0 and (x2, 3) in node 1
    val cand = Seq(
      (0L, "x2", 1L, 0.2500004), (0L, "x2", 5L, 0.2500001),
      (0L, "x1", 9L, 0.2499996), (0L, "x1", 6L, 0.2500001),
      (0L, "x1", 2L, 0.2499),
      (1L, "x2", 8L, 0.5), (1L, "x2", 3L, 0.5))
      .toDF("node", "feat", "bin", "raw").coalesce(1)
      .withColumn("gain", graft.queries.core.r6(col("raw")))
    val best = bestSplit(cand, Seq("node")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(best == Map(0L -> ("x1", 6L), 1L -> ("x2", 3L)), best)
  }

  test("split finder: a NULL-bin row never enters any prefix") {
    import spark.implicits._
    import graft.queries.StatsQ.{splitCands, splitHist}
    // row 1 has a NULL x1 bin: x1 sees 3 rows, x2 all 4
    val rows = Seq[(Long, Long, Option[Long], Long)](
      (0L, 1L, None, 0L), (0L, 0L, Some(0L), 1L),
      (0L, 1L, Some(1L), 1L), (0L, 0L, Some(2L), 2L))
      .toDF("node", "yl", "b1", "b2")
    val cand = splitCands(splitHist(rows, Seq("node"), sum(col("yl")).as("p")),
      Seq("node"), Seq("p" -> lit(0L))).collect()
    def of(f: String) = cand.filter(_.getAs[String]("feat") == f)
      .map(r => r.getAs[Long]("bin") -> (r.getAs[Long]("nl"),
        r.getAs[Long]("nt"), r.getAs[Long]("pl"))).toMap
    assert(of("x1") == Map(1L -> ((1L, 3L, 0L)), 2L -> ((2L, 3L, 1L))),
      cand.mkString(","))
    assert(of("x2") == Map(1L -> ((1L, 4L, 1L)), 2L -> ((3L, 4L, 2L))),
      cand.mkString(","))
  }

  test("split finder: the first bin of each (node, feat) is never a " +
    "candidate, and prefixes are exclusive") {
    import spark.implicits._
    import graft.queries.StatsQ.splitCands
    val hist = Seq(
      (0L, "x1", 3L, 2L, 1L), (0L, "x1", 5L, 4L, 0L), (0L, "x1", 7L, 1L, 1L),
      (0L, "x2", 0L, 5L, 2L), (0L, "x2", 15L, 2L, 0L),
      (1L, "x1", 2L, 3L, 3L), (1L, "x1", 4L, 1L, 0L))
      .toDF("node", "feat", "bin", "n", "p")
    val got = splitCands(hist, Seq("node"), Seq("p" -> lit(0L))).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[String]("feat"),
        r.getAs[Long]("bin")) -> (r.getAs[Long]("nl"), r.getAs[Long]("pl"),
        r.getAs[Long]("nr"))).toMap
    assert(got == Map(
      (0L, "x1", 5L) -> ((2L, 1L, 5L)), (0L, "x1", 7L) -> ((6L, 1L, 1L)),
      (0L, "x2", 15L) -> ((5L, 2L, 2L)),
      (1L, "x1", 4L) -> ((3L, 3L, 1L))), got)
  }

  test("logistic_irls: log-likelihood improves across Newton steps and " +
    "coefficients stay finite") {
    val rows = SparkEntry.queries("logistic_irls")(spark, sf).collect()
      .sortBy(_.getAs[Long]("iter"))
    assert(rows.length == 2)
    val lls = rows.map(_.getAs[Double]("loglik"))
    // iteration 1's ll is evaluated AT beta=0 (= -n·ln 2); step 2's ll is
    // at the fitted beta — it must improve
    assert(lls(1) > lls(0), s"ll did not improve: ${lls.toSeq}")
    rows.foreach(r => Seq("b0", "b1", "b2").foreach(c =>
      assert(!r.getAs[Double](c).isNaN && !r.getAs[Double](c).isInfinite)))
  }

  test("quantile_normalize: normalized medians agree across all sources " +
    "(the batch effect is gone)") {
    val rows = SparkEntry.queries("quantile_normalize")(spark, sf).collect()
    assert(rows.length >= 2)
    val medians = rows.map(_.getAs[Long]("median_norm")).distinct
    assert(medians.length == 1,
      s"normalized medians diverge: ${medians.toSeq}")
    val rawMeans = rows.map(_.getAs[Double]("mean_raw")).distinct
    assert(rawMeans.length > 1, "raw means were already equal — vacuous")
  }

  test("entity_dedup_e2e: every survivor is a cluster member and record " +
    "counts dominate name counts") {
    val rows = SparkEntry.queries("entity_dedup_e2e")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_records") >= r.getAs[Long]("n_names"))
      // the cluster id is the lexicographic min — survivor can't precede it
      assert(r.getAs[String]("survivor") >= r.getAs[String]("cluster_id"))
    }
  }

  test("itemsets_3: support never exceeds any member's own support and " +
    "triples are ordered") {
    val rows = SparkEntry.queries("itemsets_3")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val abc = r.getAs[Long]("n_abc")
      assert(abc <= r.getAs[Long]("n_a") && abc <= r.getAs[Long]("n_b") &&
        abc <= r.getAs[Long]("n_c"))
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb") &&
        r.getAs[Long]("pb") < r.getAs[Long]("pc"))
      assert(r.getAs[Double]("lift") > 0.0)
    }
  }

  test("maximal_repeat_spans: spans are >= 10 tokens and the re-sliced " +
    "text has exactly len_tokens words") {
    val rows = SparkEntry.queries("maximal_repeat_spans")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val len = r.getAs[Long]("len_tokens")
      assert(len >= 10)
      val words = r.getAs[String]("span_text").split(" ")
      assert(words.length == len,
        s"${r.getAs[Long]("a_id")}/${r.getAs[Long]("b_id")}: " +
          s"${words.length} words vs len $len")
    }
  }

  test("rrf_fusion: fused score equals the reciprocal-rank formula and " +
    "double-ranked docs dominate") {
    val rows = SparkEntry.queries("rrf_fusion")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ra, rb) = (r.getAs[Int]("rank_exact"), r.getAs[Int]("rank_jl"))
      val expect = (if (ra > 0) 1.0 / (60 + ra) else 0.0) +
        (if (rb > 0) 1.0 / (60 + rb) else 0.0)
      assert(math.abs(r.getAs[Double]("rrf") -
        math.floor(expect * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }

  test("bpe_train_merges: six rounds, positive weights, merged symbols " +
    "concatenate their parts") {
    val rows = SparkEntry.queries("bpe_train_merges")(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(rows.map(_.getAs[Long]("round")).toSeq == (1L to 6L))
    rows.foreach { r =>
      assert(r.getAs[Long]("weight") > 0)
      assert(r.getAs[String]("merged") ==
        r.getAs[String]("left_sym") + r.getAs[String]("right_sym"))
    }
  }

  test("scc_components: sizes sum to the vertex total, every SCC label " +
    "is its own minimum (top-20 rows), and SCC refines undirected CC") {
    val rows = SparkEntry.queries("scc_components")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nVerts = rows.head.getAs[Long]("n_verts")
    val nSccs = rows.head.getAs[Long]("n_sccs")
    assert(rows.forall(_.getAs[Long]("n_verts") == nVerts))
    // the report is top-20: shown sizes can't exceed the total, and when
    // every SCC is shown they must sum to it exactly
    val shown = rows.map(_.getAs[Long]("n_words")).sum
    if (nSccs <= 20) assert(shown == nVerts, s"sizes sum $shown != $nVerts")
    else assert(shown <= nVerts)
    // sizes are a descending prefix, labels unique
    val sizes = rows.map(_.getAs[Long]("n_words")).toSeq
    assert(sizes == sizes.sortBy(-(_: Long)))
    val labels = rows.map(_.getAs[String]("scc")).toSeq
    assert(labels.distinct.length == labels.length)
    // a directed SCC count is at least the undirected component count
    // over the same edge set (SCC refines CC)
    assert(nSccs >= 1 && nSccs <= nVerts)
  }

  test("gbm_tree_round: train logloss strictly decreases, the held-out " +
    "eval is honest (finite, near train — and free to EXPOSE overfit " +
    "on this no-signal corpus), and the depth-2 trajectory carries " +
    "real splits") {
    val rows = SparkEntry.queries("gbm_tree_round")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(rows.length == 2)
    val tl = rows.map(_.getAs[Double]("train_logloss"))
    assert(tl(1) < tl(0), s"train logloss did not decrease: ${tl.toSeq}")
    // the synthetic features carry ~zero label signal (IRLS AUC ≈ 0.5),
    // so held-out loss is NOT gated monotone — a real held-out eval's
    // whole job is to be allowed to go the other way; it is gated sane
    for (r <- rows) {
      assert(r.getAs[Double]("root_gain") >= 0.0)
      val hl = r.getAs[Double]("holdout_logloss")
      val tr = r.getAs[Double]("train_logloss")
      assert(!hl.isNaN && (hl - tr).abs < 0.2,
        s"held-out logloss $hl implausibly far from train $tr")
      val auc = r.getAs[Double]("holdout_auc")
      assert(auc > 0.0 && auc < 1.0, s"degenerate holdout AUC $auc")
      assert(!r.isNullAt(r.fieldIndex("feat_l")) ||
        !r.isNullAt(r.fieldIndex("feat_r")),
        "no child split on either side — depth-2 collapsed to a stump")
    }
    val irls = rows.head.getAs[Double]("irls_holdout_auc")
    assert(irls > 0.0 && irls < 1.0)
  }

  test("unigram_lm_train: EM strictly improves corpus NLL, segmentation " +
    "compresses (avg pieces/word < chars/word), and a multi-char piece " +
    "wins the vocabulary") {
    val rows = SparkEntry.queries("unigram_lm_train")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(rows.length == 2)
    val nll = rows.map(_.getAs[Double]("corpus_nll"))
    assert(nll(1) < nll(0), s"EM did not improve NLL: ${nll.toSeq}")
    for (r <- rows) {
      assert(r.getAs[Long]("n_pieces") > 0)
      val avg = r.getAs[Double]("avg_pieces_per_word")
      assert(avg >= 1.0 && avg < 8.0, s"degenerate avg pieces $avg")
      assert(r.getAs[String]("top_piece").length >= 2,
        "no multi-char piece survived training")
      assert(r.getAs[Long]("top_piece_cnt") > 0)
    }
  }

  test("quality_lm_gate: kept <= scored <= docs, one global threshold, " +
    "and the strict gate keeps at most the top 70% of scored docs") {
    val rows = SparkEntry.queries("quality_lm_gate")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_scored"))
      assert(r.getAs[Long]("n_scored") <= r.getAs[Long]("n_docs"))
    }
    val thr = rows.map(_.getAs[Double]("lm_threshold")).distinct
    assert(thr.length == 1, s"threshold not global: ${thr.toSeq}")
    val scored = rows.map(_.getAs[Long]("n_scored")).sum
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    // kept = strictly above the value at rank ceil(0.3 n): at most
    // n - ceil(0.3 n) docs survive, fewer when the threshold value ties
    assert(kept <= scored - (3 * scored + 9) / 10,
      s"gate kept $kept of $scored")
    assert(kept > 0, "gate dropped everything — vacuous")
  }

  test("pretrain_pipeline_e2e: bins are a contiguous 0..max prefix per " +
    "(source, split) shard, splits are the 3-way partition, and the " +
    "LM-gated corpus is no larger than the ungated curation output") {
    val rows = SparkEntry.queries("pretrain_pipeline_e2e")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      Set("train", "valid", "test")(r.getAs[String]("split"))))
    rows.groupBy(r => (r.getAs[String]("source"), r.getAs[String]("split")))
      .foreach { case (shard, rs) =>
        val bins = rs.map(_.getAs[Long]("bin")).sorted.toSeq
        assert(bins == (0L until bins.length).toSeq,
          s"$shard: bins not a contiguous prefix: $bins")
        rs.foreach(r => assert(
          r.getAs[Long]("first_doc") <= r.getAs[Long]("last_doc")))
      }
    // the extra LM gate can only shrink the corpus vs the gate-only
    // curation pipeline (the per-source cap is monotone in its input)
    val curated = SparkEntry.queries("curation_pipeline_e2e")(spark, sf)
      .collect().map(_.getAs[Long]("n_docs")).sum
    val pretrain = rows.map(_.getAs[Long]("n_docs")).sum
    assert(pretrain <= curated && pretrain > 0,
      s"pretrain=$pretrain curated=$curated")
  }

  test("stream_cdc_exec: op counters strictly increase per user and " +
    "tombstoned images are zeroed") {
    val rows = SparkEntry.queries("stream_cdc_exec")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ops = rs.map(_.getLong(1)).toSeq
      assert(ops == ops.sorted && ops.distinct.length == ops.length)
    }
    for (r <- rows) {
      if (r.getLong(2) == 0L) assert(r.getLong(3) == 0L,
        s"user ${r.getLong(0)}: dead image carries a ts")
      else assert(r.getLong(3) > 0L)
    }
  }

  test("sgns_step: one full-batch gradient step strictly improves the " +
    "mean loss from the ~ln(2) near-zero-init starting point") {
    val rows = SparkEntry.queries("sgns_step")(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(rows.length == 2)
    val (l0, l1) = (rows(0).getAs[Double]("loss"),
      rows(1).getAs[Double]("loss"))
    // init weights are in (-0.1, 0.1) so x ≈ 0 and the mean loss starts
    // near ln 2 ≈ 0.6931 — a window check catches a broken forward pass
    assert(l0 > 0.6 && l0 < 0.8, s"round-0 loss $l0 outside the ln2 regime")
    assert(l1 < l0, s"SGNS step did not improve the loss: $l0 -> $l1")
    assert(rows(0).getAs[Long]("n_pairs") == rows(1).getAs[Long]("n_pairs"))
    assert(rows(0).getAs[Long]("n_words") >= 1 &&
      rows(0).getAs[Long]("n_ctx") >= 1)
  }

  test("hybrid_retrieval: rrf matches the rank formula, provenance ranks " +
    "stay in range, and no row is unranked by both views") {
    val rows = SparkEntry.queries("hybrid_retrieval")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (rv, rl) = (r.getAs[Int]("rank_vec"), r.getAs[Int]("rank_lex"))
      assert(rv >= 0 && rv <= 10 && rl >= 0 && rl <= 10)
      assert(rv > 0 || rl > 0, "a fused row must come from some view")
      val expect = (if (rv > 0) 1.0 / (60 + rv) else 0.0) +
        (if (rl > 0) 1.0 / (60 + rl) else 0.0)
      val got = r.getAs[Double]("rrf")
      assert(math.abs(got - math.floor(expect * 1e6 + 0.5) / 1e6) < 1e-12,
        s"rrf $got != formula $expect")
    }
  }

  test("sgns_train: the mean loss strictly decreases across all rounds " +
    "and round 1 matches sgns_step exactly") {
    val tr = SparkEntry.queries("sgns_train")(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(tr.length == graft.queries.TextQ.SgnsTrainRounds + 1)
    val losses = tr.map(_.getAs[Double]("loss"))
    losses.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"loss stalled: ${losses.mkString(" -> ")}")
    }
    // the trajectory's first step IS the unit operator
    val st = SparkEntry.queries("sgns_step")(spark, sf).collect()
      .sortBy(_.getAs[Long]("round")).map(_.getAs[Double]("loss"))
    assert(losses.take(2).toSeq == st.toSeq,
      "sgns_train round 0-1 diverged from sgns_step")
  }

  test("multimodal_neardup: matches a local brute-force mirror of the " +
    "16-bit aHash — banding is exhaustive for hamming <= 1") {
    val got = SparkEntry.queries("multimodal_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // local fingerprint: one md5 byte per char, 16 positional slots,
    // bit = slot mean > doc mean (exact cross-multiply) — the key's recipe
    def fp(text: String): Int = {
      val vs = text.toCharArray.map(c =>
        java.lang.Integer.parseInt(md5hex(c.toString).take(2), 16).toLong)
      val ssum = new Array[Long](16); val scnt = new Array[Long](16)
      for (i <- vs.indices) { ssum(i % 16) += vs(i); scnt(i % 16) += 1 }
      val tot = vs.sum; val n = vs.length.toLong
      (0 until 16).map(j =>
        if (scnt(j) > 0 && ssum(j) * n > tot * scnt(j)) 1 << (15 - j)
        else 0).sum
    }
    val sigs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .filter(_.getString(1).nonEmpty)
      .map(r => r.getLong(0) -> fp(r.getString(1)))
    val naive = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Integer.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 1
      (a, b) = if (sigs(i)._1 < sigs(j)._1) (sigs(i)._1, sigs(j)._1)
               else (sigs(j)._1, sigs(i)._1)
    } yield (a, b, h.toLong)).toSet
    assert(got.toSet == naive,
      s"banded pairs ${got.length} != brute-force ${naive.size}")
  }

  test("retrieval_ndcg: ndcg in (0,1], dcg <= idcg, mrr@10 in [0,1] and " +
    "reciprocal-rank-valued, one row per scored lang") {
    val rows = SparkEntry.queries("retrieval_ndcg")(spark, sf).collect()
    assert(rows.nonEmpty)
    val validMrr = (1 to 10).map(r => math.floor(1e6 / r + 0.5) / 1e6)
      .toSet + 0.0
    for (r <- rows) {
      val (dcg, idcg) = (r.getAs[Double]("dcg10"), r.getAs[Double]("idcg10"))
      val ndcg = r.getAs[Double]("ndcg10")
      val mrr = r.getAs[Double]("mrr10")
      assert(idcg > 0 && dcg > 0, s"${r.getString(0)}: empty DCG")
      // the ideal ranking dominates any ranking of the same graded pool
      assert(dcg <= idcg + 1e-9, s"${r.getString(0)}: dcg $dcg > idcg $idcg")
      assert(ndcg > 0 && ndcg <= 1.0 + 1e-9)
      assert(validMrr.contains(mrr),
        s"${r.getString(0)}: mrr $mrr is not a top-10 reciprocal rank")
      assert(r.getAs[Long]("n_ranked") >= 1)
    }
  }
}
