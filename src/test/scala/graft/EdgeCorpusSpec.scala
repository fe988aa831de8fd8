package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Degenerate-document regression coverage: empty and single-token docs
  * don't exist in the driver fixtures, so the sequence()/element_at/
  * explode guards in the text pipeline would stay untested without this
  * synthetic corpus (found by review: sequence(1,0) walks through index 0,
  * sequence(1,0,15) throws, explode drops token-less docs). */
class EdgeCorpusSpec extends SparkSpec {

  private lazy val edgeDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("edge_corpus").toString
    Seq(
      (1L, "", "en", "src0", 0L),
      (2L, "hello", "en", "src0", 5L),
      (3L, "a b c d e", "en", "src1", 9L),
      (4L, "   ", "en", "src1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bigram_pmi survives empty and 1-token docs (no index-0 access)") {
    // threshold filters everything out on 4 docs — surviving execution IS
    // the assertion (sequence(1,0) would throw INVALID_INDEX_OF_ZERO)
    assert(SparkEntry.queries("bigram_pmi")(spark, edgeDir).count() == 0)
  }

  test("doc_chunks yields no chunks for token-less docs, no crash") {
    val rows = SparkEntry.queries("doc_chunks")(spark, edgeDir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(2L, 3L))
    assert(rows.filter(_.getAs[Long]("doc_id") == 3L)
      .map(_.getAs[String]("chunk_text")).toSeq == Seq("a b c d e"))
  }

  test("simhash keeps token-less docs with the all-zero signature") {
    val sigs = SparkEntry.queries("simhash_docs")(spark, edgeDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sigs.keySet == Set(1L, 2L, 3L, 4L), sigs)
    assert(sigs(1L) == "0" * 32)
    assert(sigs(4L) == "0" * 32)
    assert(sigs(2L) != "0" * 32)
  }

  test("simhash_neardup pairs the two all-zero-signature docs") {
    val pairs = SparkEntry.queries("simhash_neardup")(spark, edgeDir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.contains((1L, 4L)), pairs.mkString(","))
  }

  test("token/quality/chunk-adjacent per-doc queries run on the edge corpus") {
    for (q <- Seq("token_bpe", "qtext_wordcount", "text_fingerprint",
        "ngram_profile", "neardup_pairs", "minhash_lsh_pairs",
        "quality_score", "text_langid", "lexicon_score", "token_count",
        "simhash_docs", "tfidf_top_terms")) {
      SparkEntry.queries(q)(spark, edgeDir).collect() // must not throw
    }
  }

  test("pii_scrub redacts on empty/degenerate docs (injection still scrubbed)") {
    val rows = SparkEntry.queries("pii_scrub")(spark, edgeDir).collect()
    assert(rows.length == 4)
    // doc 1 (id%3!=0, %2 odd, %5 !=0): email only; doc 4: phone only
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("n_emails") == 1)
    assert(byId(1L).getAs[Long]("n_phones") == 0)
    assert(byId(4L).getAs[Long]("n_phones") == 1)
    assert(byId(4L).getAs[Long]("n_emails") == 1)
  }

  test("dedup_keep_best keeps the longest doc when norms collide") {
    // docs 1 ("") and 4 ("   ") normalize differently ("" vs " ") — both
    // survive; all four docs are distinct post-normalization here, so the
    // assertion is about not dropping degenerate docs
    val ids = SparkEntry.queries("dedup_keep_best")(spark, edgeDir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 3L, 4L))
  }

  test("round-9 text keys survive the edge corpus (no count-10 bigram " +
    "exists; empty/1-token docs exercise the guards)") {
    assert(SparkEntry.queries("collocation_llr")(spark, edgeDir).count() == 0)
    assert(SparkEntry.queries("kn_lm_prob")(spark, edgeDir).count() == 0)
    val jsd = SparkEntry.queries("js_divergence")(spark, edgeDir).collect()
    // both sources present; all-token docs live in src1, so src0 (one
    // 1-token doc + two token-less docs) diverges MORE from the corpus
    assert(jsd.length == 2)
    assert(jsd.forall(r => !r.getDouble(2).isNaN && r.getDouble(2) >= 0))
  }

  test("graph_assortativity on the path graph a-b-c-d-e is exactly -1/3 " +
    "(textbook value: endpoints drag degree mixing negative)") {
    val r = SparkEntry.queries("graph_assortativity")(spark, edgeDir).head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == -0.333333, s"got ${r.getDouble(2)}")
  }

  test("round-4 text/graph keys survive the edge corpus") {
    // lm/contamination: no doc_id%17==0 doc exists -> empty eval split;
    // surviving the <2-token guard paths IS the assertion
    assert(SparkEntry.queries("lm_bigram_score")(spark, edgeDir).count() == 0)
    assert(SparkEntry.queries("contamination_overlap")(spark, edgeDir).count() == 0)
    // path graph a-b-c-d-e: 4 edges, 0 triangles
    val tri = SparkEntry.queries("triangle_count")(spark, edgeDir).collect().head
    assert(tri.getAs[Long]("n_edges") == 4L)
    assert(tri.getAs[Long]("n_triangles") == 0L)
    // dedup pipeline: everything is its own singleton cluster
    val clusters = SparkEntry.queries("dedup_pipeline_e2e")(spark, edgeDir).collect()
    assert(clusters.length == 4)
    assert(clusters.forall(_.getAs[Long]("n_docs") == 1L))
  }

  /** Degenerate EVENTS corpus: timestamp TIES (three events at the same
    * instant — RANGE-frame peer semantics), a NULL value, a type with a
    * single observation (1-day series → empty lag/pair structures), and
    * exact 1-hour boundary spacing (inclusive-bound check). */
  private lazy val edgeEventsDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("edge_events").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    val t0b = java.sql.Timestamp.valueOf("2024-01-05 11:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-07 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-06 10:00:00")
    Seq(
      (1L, t0, 1L, "click", Some(1.5), "{}"),
      (2L, t0, 1L, "click", None: Option[Double], "{}"),
      (3L, t0, 1L, "click", Some(2.5), "{}"),
      (4L, t0b, 1L, "click", Some(4.0), "{}"),
      (5L, t1, 2L, "purchase", Some(10.0), "{}"),
      (6L, t2, 3L, "error", Some(-1.0), "{}"),
      (7L, t2, 1L, "click", Some(3.0), "{}"),
      (8L, t1, 2L, "purchase", Some(5.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("win_range_interval on ties: equal timestamps are one frame of " +
    "peers, the 1-hour-earlier row is INSIDE the inclusive bound, and " +
    "null values vanish from the sum") {
    val rows = SparkEntry.queries("win_range_interval")(spark, edgeEventsDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(rows(1L) == ((3L, Some(4.0))), rows(1L)) // 3 peers, null skipped
    assert(rows(2L) == rows(1L) && rows(3L) == rows(1L), "peers diverge")
    assert(rows(4L)._1 == 4L, "inclusive 1-hour bound lost the tie group")
    assert(rows(5L) == ((2L, Some(15.0))), "tied purchases are peers")
  }

  test("events-based round-9 stats keys survive degenerate series " +
    "(1-day types, ties, nulls) without throwing") {
    for (q <- Seq("theil_sen", "pacf_lag", "acf_lag", "holt_linear",
        "anova_f", "mann_whitney_u", "corr_matrix",
        "skew_agg_salted", "spatial_grid_join", "dq_freshness")) {
      // surviving the guards (empty lag/pair structures, 0 denominators
      // → null, not a crash) IS the assertion
      SparkEntry.queries(q)(spark, edgeEventsDir).collect()
    }
    // holt needs >= 2 days: only 'click' qualifies
    val holt = SparkEntry.queries("holt_linear")(spark, edgeEventsDir)
      .collect()
    assert(holt.map(_.getString(0)).toSeq == Seq("click"))
    assert(!holt.head.getDouble(2).isNaN)
    // seasonal needs a full 7-day window: nothing qualifies
    assert(SparkEntry.queries("seasonal_decompose")(
      spark, edgeEventsDir).count() == 0)
    // theil_sen: the 1-day type has zero pairs; click has exactly 1
    val sen = SparkEntry.queries("theil_sen")(spark, edgeEventsDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(sen("click") == 1L)
  }

  test("zero-denominator guards report null, never abort: funnel with " +
    "no viewers, TWA with zero elapsed time, clustering with no wedges") {
    // no 'view' events exist → zero viewers → null conversion rate
    val f = SparkEntry.queries("funnel_time_conv")(spark, edgeEventsDir)
      .head()
    assert(f.getLong(0) == 0L && f.isNullAt(2), f.toString)
    // 'purchase' has two events at ONE instant → zero elapsed time
    val twa = SparkEntry.queries("time_weighted_avg")(spark, edgeEventsDir)
      .collect().map(r => r.getString(0) -> r.isNullAt(2)).toMap
    assert(twa("purchase"), "zero-elapsed type must have null TWA")
    assert(!twa("click"))
    // a single-edge corpus has no wedges → null clustering coefficient
    import spark.implicits._
    val dir1e = Files.createTempDirectory("edge_one").toString
    Seq((1L, "x y", "en", "src0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir1e/documents.parquet")
    val tri = SparkEntry.queries("triangle_count")(spark, dir1e).head()
    assert(tri.getLong(2) == 0L && tri.isNullAt(4), tri.toString)
  }

  private lazy val edgeVecDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("edge_vecs").toString
    Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(1.0f, -2.0f, 0.5f, 0.25f), 1),
      (2L, Seq(-0.125f, 0.0f, 4.0f, -1.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("url_canonical_dedup collapses both raw variants per doc on the " +
      "edge corpus (canonicalization is text-independent)") {
    val r = SparkEntry.queries("url_canonical_dedup")(spark, edgeDir)
      .collect()
      .map(x => (x.getAs[String]("host"), x.getAs[Long]("n_raw"),
        x.getAs[Long]("n_canonical"), x.getAs[Long]("n_dupes"))).toSet
    assert(r == Set(("src0.example.com", 4L, 2L, 2L),
      ("src1.example.com", 4L, 2L, 2L)), r)
  }

  test("quantize_embed zero-vector guard: scale 0 quantizes to all-zero, sse 0") {
    val rows = SparkEntry.queries("quantize_embed")(spark, edgeVecDir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(rows.keySet == Set(0L, 1L, 2L))
    val z = rows(0L)
    assert(z.getAs[Double]("scale") == 0.0)
    assert(z.getAs[Long]("q_sum") == 0L)
    assert(z.getAs[Long]("n_sat") == 0L)
    assert(z.getAs[Double]("sse") == 0.0)
    // exactly-representable components (powers of two) quantize losslessly:
    // x*127/scale is exact when x/scale is a small dyadic rational
    val v1 = rows(1L)
    assert(v1.getAs[Double]("scale") == 2.0)
    assert(v1.getAs[Long]("n_sat") == 1L)
  }

  /** edgeVecDir's vectors zero-padded to 64 dims: the same cosines, and
    * the 8 components the LSH sign buckets read. */
  private lazy val edgeVec64Dir: String = {
    val dir = Files.createTempDirectory("edge_vecs64").toString
    spark.read.parquet(s"$edgeVecDir/embeddings.parquet")
      .withColumn("embedding",
        concat(col("embedding"), array_repeat(lit(0.0f), 60)))
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("similarity keys survive the zero vector: a zero-norm side scores " +
      "NULL cosine and ranks last, never an ANSI divide-by-zero") {
    for (k <- Seq("qknn_cosine_top5", "ann_lsh_knn", "ann_multiprobe_knn",
        "ann_ivf_knn", "ann_sq_knn", "ann_randproj_knn")) {
      val rows = SparkEntry.queries(k)(spark, edgeVec64Dir).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
          Option(r.getAs[java.lang.Double]("cos_sim")), r.getAs[Long]("rn")))
      val shown = s"$k: ${rows.mkString(", ")}"
      assert(rows.forall { case (q, v, c, _) => c.isEmpty == (q == 0 || v == 0) },
        shown)
      for ((_, rs) <- rows.groupBy(_._1); a <- rs; b <- rs
           if a._3.isEmpty && b._3.nonEmpty)
        assert(a._4 > b._4, s"NULL ranked above a score: $shown")
      if (k == "qknn_cosine_top5")
        assert(rows.filter(_._1 == 0L).map(_._2).toSeq == Seq(1L, 2L), shown)
    }
    for (k <- Seq("knn_classify", "rrf_fusion", "semdedup_prune"))
      assert(SparkEntry.queries(k)(spark, edgeVec64Dir).collect().nonEmpty, k)
  }

  test("pack_sequences: token-less docs pack without advancing the offset") {
    val bins = SparkEntry.queries("pack_sequences")(spark, edgeDir).collect()
    assert(bins.map(_.getAs[Long]("n_docs")).sum == 4)
    // "hello" = 1 token, "a b c d e" = 5; empty/whitespace docs = 0
    assert(bins.map(_.getAs[Long]("sum_tok")).sum == 6)
  }

  test("domain_mix_sample: quota math holds on 2-doc sources") {
    // src0: w=1, n=2 -> ceil(2/4)=1 kept; src1: w=2, n=2 -> ceil(4/4)=1
    val kept = SparkEntry.queries("domain_mix_sample")(spark, edgeDir)
      .collect()
    assert(kept.length == 2, kept.mkString(","))
    assert(kept.map(_.getAs[String]("source")).toSet == Set("src0", "src1"))
  }

  test("r12 doc keys survive the edge corpus (token-less docs, a " +
    "2-word digraph, a vocabulary that prunes to almost nothing)") {
    // scc: the 4-doc corpus yields a tiny digraph ("a b c d e" chains);
    // singleton trim + coloring must settle every vertex exactly once
    val scc = SparkEntry.queries("scc_components")(spark, edgeDir)
      .collect()
    if (scc.nonEmpty) {
      val nv = scc.head.getAs[Long]("n_verts")
      assert(scc.map(_.getAs[Long]("n_words")).sum <= nv)
    }
    // unigram: 6-word vocab, all sub-4-char pieces; EM must converge
    // without a multi-char piece necessarily surviving
    val uni = SparkEntry.queries("unigram_lm_train")(spark, edgeDir)
      .collect()
    assert(uni.length == 2)
    assert(uni.forall(_.getAs[Long]("n_pieces") > 0))
    // the capstone gates drop EVERYTHING here (no doc passes n_tok>=10
    // except doc 3 with 5 tokens — also dropped): empty manifest is the
    // correct answer, not a crash
    SparkEntry.queries("pretrain_pipeline_e2e")(spark, edgeDir).collect()
    // datacard: token-less docs yield null entropy/zipf, never a crash
    val dc = SparkEntry.queries("corpus_datacard")(spark, edgeDir)
      .collect()
    assert(dc.map(_.getAs[Long]("n_docs")).sum == 4)
    SparkEntry.queries("quality_lm_gate")(spark, edgeDir).collect()
  }

  test("r13 doc keys survive the edge corpus (degenerate classifier fit, " +
    "empty eval split, no repeatable spans)") {
    // clf gate: 4 near-empty docs give a singular normal matrix — the
    // Newton delta must go NULL (empty kept set), never divide-by-zero
    val clf = SparkEntry.queries("quality_clf_gate")(spark, edgeDir)
      .collect()
    assert(clf.map(_.getAs[Long]("n_docs")).sum == 4)
    // unigram apply + parity: tiny vocab, possibly empty eval slice —
    // NULL ratios are the correct degenerate answer, not a crash
    SparkEntry.queries("token_unigram_apply")(spark, edgeDir).collect()
    assert(SparkEntry.queries("tokenizer_parity_report")(spark, edgeDir)
      .collect().length == 2)
    // span dedup: no doc reaches 10 tokens — nothing cut, volume intact
    val sp = SparkEntry.queries("dedup_spans_sink")(spark, edgeDir)
      .collect()
    assert(sp.map(_.getAs[Long]("n_docs_cut")).sum == 0)
    assert(sp.map(_.getAs[Long]("tok_before")).sum ==
      sp.map(_.getAs[Long]("tok_after")).sum)
    SparkEntry.queries("tokenizer_registry")(spark, edgeDir).collect()
  }

  test("round-5 doc keys survive the edge corpus") {
    // token-less docs, <n-gram-length docs, 2-doc sources: the guards in
    // every index-explode and rank window get exercised; no-throw IS the
    // assertion for the aggregate keys, plus shape checks where cheap
    for (q <- Seq("rep_ngram_audit", "dup_sequences", "skipgram_pairs",
        "inverted_postings", "gini_concentration", "winsorize_stats",
        "train_test_split", "langid_confusion", "curation_pipeline_e2e"))
      SparkEntry.queries(q)(spark, edgeDir).collect()
    // 5-token doc 3 yields exactly 4 distance-1 + 3 distance-2 pairs
    assert(SparkEntry.queries("skipgram_pairs")(spark, edgeDir)
      .collect().map(_.getAs[Long]("cnt")).sum == 7L)
    // no 10-token doc exists -> no cross-doc sequence candidates
    assert(SparkEntry.queries("dup_sequences")(spark, edgeDir).count() == 0)
  }

  test("r11 BPE encode/pack survive the edge corpus (a 6-word vocabulary " +
    "exhausts mergeable pairs before round 6 — the apply path must handle " +
    "a short merge table and token-less docs)") {
    // training on {hello, a..e}: later rounds find no pairs → empty argmax
    // → fewer than 6 merges collected; apply must use exactly the learned
    // prefix and keep zero-token docs at width 0
    SparkEntry.queries("token_bpe_apply")(spark, edgeDir).collect()
    val bins = SparkEntry.queries("pack_tokens_bpe")(spark, edgeDir)
      .collect()
    assert(bins.map(_.getAs[Long]("n_docs")).sum == 4)
    // BPE can only SHORTEN: "hello"(5 chars) + 5 single-char tokens ≤ 10
    assert(bins.map(_.getAs[Long]("sum_tok")).sum <= 10)
    // the materialized corpus keeps token-less docs as empty sequences
    val sink = SparkEntry.queries("tokenize_corpus_sink")(spark, edgeDir)
      .collect()
    assert(sink.map(_.getAs[Long]("n_docs")).sum == 4)
    assert(sink.map(_.getAs[Long]("n_tokens")).sum ==
      bins.map(_.getAs[Long]("sum_tok")).sum)
  }

  test("r11 tree/ann keys survive degenerate inputs (NULL feature values, " +
    "a zero query vector) without throwing") {
    // edge events carry a NULL value → a NULL feature bin. The pinned
    // semantics (r12, the NULLS FIRST/LAST advisory): NULL-bin rows are
    // EXCLUDED from the histogram in both engines, so a split on x1 sees
    // 7 rows (8 minus the NULL value) and a split on x2 sees all 8 —
    // an unfiltered Spark window would have folded the NULL row into
    // every x1 prefix and reported 8.
    val stump = SparkEntry.queries("tree_stump_train")(spark, edgeEventsDir)
      .collect()
    val root = stump.find(_.getAs[Long]("node") == 0L).get
    val rootTotal =
      root.getAs[Long]("n_left") + root.getAs[Long]("n_right")
    assert(rootTotal == (if (root.getAs[String]("feat") == "x1") 7L else 8L),
      s"NULL-bin row leaked into the ${root.getAs[String]("feat")} " +
        s"histogram: root saw $rootTotal rows")
    val gbm = SparkEntry.queries("gbm_round")(spark, edgeEventsDir).collect()
    for (r <- gbm) {
      val tot = r.getAs[Long]("n_left") + r.getAs[Long]("n_right")
      assert(tot == (if (r.getAs[String]("feat") == "x1") 7L else 8L),
        s"gbm round ${r.getAs[Long]("round")}: NULL-bin row leaked " +
          s"(${r.getAs[String]("feat")} histogram saw $tot rows)")
    }
    // 3 vectors: history {1,2}, batch {0} = the all-zero vector (0-norm
    // cosine → null via the nullif guard; no division abort)
    SparkEntry.queries("incremental_ann")(spark, edgeVecDir).collect()
    // compaction folds the zero vector's delta row into the generation
    val comp = SparkEntry.queries("ann_index_compact")(spark, edgeVecDir)
      .collect()
    assert(comp.map(_.getAs[Long]("n_total")).sum == 3)
    assert(comp.map(_.getAs[Long]("n_delta")).sum == 1)
  }

  /** Events with a censored user (signup, no purchase), an excluded user
    * (purchase with no signup), and a converting user — ts stored as
    * nanos longs to match the driver fixture's nanosAsLong read path. */
  private lazy val edgeEvDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("edge_events").toString
    val us = 1704067200000000L
    def ns(addUs: Long): Long = (us + addUs) * 1000L
    Seq(
      (1L, ns(0L), 10L, "signup", 1.0, "{}"),
      (2L, ns(1000000L), 11L, "purchase", 2.0, "{}"),
      (3L, ns(2000000L), 12L, "signup", 3.0, "{}"),
      (4L, ns(86400000000L + 2000000L), 12L, "purchase", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("dq_embeddings counts the zero vector and keeps exact dims") {
    val rows = SparkEntry.queries("dq_embeddings")(spark, edgeVecDir)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(rows(0).getAs[Long]("n_zero") == 1L)
    assert(rows(0).getAs[Double]("mean_norm") == 0.0)
    assert(rows.values.forall(_.getAs[Long]("dim_min") == 4L))
  }

  test("survival_km: censored, excluded, and converting users classify " +
    "correctly on the edge events") {
    val rows = SparkEntry.queries("survival_km")(spark, edgeEvDir).collect()
    val byDur = rows.map(r => r.getAs[Long]("dur") -> r).toMap
    // user 10 censored at dur 0; user 12 events at dur 1; user 11 (no
    // signup) excluded entirely
    assert(byDur.keySet == Set(0L, 1L), rows.mkString(","))
    assert(byDur(0L).getAs[Long]("n_cens") == 1L)
    assert(byDur(0L).getAs[Long]("n_ev") == 0L)
    assert(byDur(0L).getAs[Double]("survival") == 1.0)
    assert(byDur(1L).getAs[Long]("n_ev") == 1L)
    // the last at-risk cohort fully events -> S pinned to exactly 0
    assert(byDur(1L).getAs[Double]("survival") == 0.0)
  }

  test("round-5 event keys survive single-event users and one-sided periods") {
    // markov: only user 12 has a consecutive pair
    val mk = SparkEntry.queries("markov_transitions")(spark, edgeEvDir)
      .collect()
    assert(mk.length == 1 && mk.head.getAs[String]("from_type") == "signup"
      && mk.head.getAs[Double]("p") == 1.0, mk.mkString(","))
    // all events fall in drift_chi2/ks's week-1 period: the week-4 side
    // is empty -> no crash; ks gap is null-divided, chi2 keeps rows
    SparkEntry.queries("drift_ks")(spark, edgeEvDir).collect()
    SparkEntry.queries("drift_chi2")(spark, edgeEvDir).collect()
    for (q <- Seq("event_pattern_match", "rolling_active_users",
        "decayed_counts", "join_asof_nearest", "cusum_changepoint"))
      SparkEntry.queries(q)(spark, edgeEvDir).collect()
    // rolling: day 1 has 3 actives, day 2 has 1 active but WAU 3
    val rau = SparkEntry.queries("rolling_active_users")(spark, edgeEvDir)
      .collect().sortBy(_.getAs[Long]("day"))
    assert(rau.map(_.getAs[Long]("dau")).toSeq == Seq(3L, 1L))
    assert(rau.map(_.getAs[Long]("wau")).toSeq == Seq(3L, 3L))
  }

  test("logistic_irls on constant features: the singular normal matrix " +
    "yields NULL betas, not a divide-by-zero") {
    import spark.implicits._
    val dir = Files.createTempDirectory("edge_const").toString
    // every row has value 100 and hour 0: x1 = 1 and x2 = 0 for all rows,
    // so XᵀWX has a zero row/column and its determinant is exactly 0
    val ts = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    Seq((1L, "click"), (2L, "purchase"), (3L, "click"), (4L, "click"))
      .map { case (id, ty) => (id, ts, id, ty, 100.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("logistic_irls")(spark, dir).collect()
    assert(rows.length == 2)
    for (r <- rows; c <- Seq("b0", "b1", "b2"))
      assert(r.isNullAt(r.fieldIndex(c)), s"iter ${r.getAs[Long]("iter")}: $c")
  }

  test("r10 event keys survive ties, nulls, absent channels, and " +
    "density-free user sets") {
    // markov: absent channels (view/signup never occur) must report a
    // zero removal effect, not crash or divide by zero
    val mk = SparkEntry.queries("markov_attribution")(spark, edgeEventsDir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(mk.keySet == Set("click", "error", "signup", "view"))
    assert(mk("view").getAs[Double]("removal_effect") == 0.0)
    assert(mk("signup").getAs[Double]("removal_effect") == 0.0)
    // logistic: a NULL value row must drop out of the pinned sums
    // (null-skipping aggregate), never abort; betas stay non-null
    val lg = SparkEntry.queries("logistic_irls")(spark, edgeEventsDir)
      .collect()
    assert(lg.length == 2)
    lg.foreach(r => assert(!r.isNullAt(r.fieldIndex("b0"))))
    // AUC: both classes exist; value must be a real probability
    val auc = SparkEntry.queries("model_auc")(spark, edgeEventsDir)
      .collect()(0)
    assert(auc.getAs[Long]("n_pos") == 2 && auc.getAs[Long]("n_neg") > 0)
    val a = auc.getAs[Double]("auc")
    assert(!a.isNaN && a >= 0.0 && a <= 1.0, s"auc $a")
    // t-digest: 8 events incl. a NULL value — estimates stay inside the
    // observed range per type
    val td = SparkEntry.queries("tdigest_quantile")(spark, edgeEventsDir)
      .collect()
    assert(td.nonEmpty)
    td.filter(_.getString(0) == "click").foreach { r =>
      val est = r.getAs[Double]("est")
      assert(est >= 1.5 && est <= 4.0, s"click est $est")
    }
    // dbscan: 3 users can never reach minPts=4 — everything is the
    // explicit noise row, not an empty result
    val db = SparkEntry.queries("dbscan_grid")(spark, edgeEventsDir)
      .collect()
    assert(db.length == 1 && db(0).getAs[Long]("cluster_id") == -1L
      && db(0).getAs[Long]("n_border") == 3L, db.mkString(","))
  }

  test("r10 text keys survive empty, whitespace, and sub-window docs") {
    // maximal repeats need 10-token spans; the edge docs max out at 5
    assert(SparkEntry.queries("maximal_repeat_spans")(spark, edgeDir)
      .count() == 0)
    // BPE: pairs exist only inside 'hello'; merge rounds past pair
    // exhaustion must vanish quietly, not abort — and every emitted
    // merge still concatenates its parts
    val bpe = SparkEntry.queries("bpe_train_merges")(spark, edgeDir)
      .collect()
    assert(bpe.length <= 6)
    bpe.foreach(r => assert(r.getAs[String]("merged") ==
      r.getAs[String]("left_sym") + r.getAs[String]("right_sym")))
    // quantile normalization over the 2-source edge corpus: each doc maps
    // to a pooled value; normalized medians agree
    val qn = SparkEntry.queries("quantile_normalize")(spark, edgeDir)
      .collect()
    assert(qn.length == 2)
    assert(qn.map(_.getAs[Long]("median_norm")).distinct.length == 1)
  }

  test("r14 doc keys survive the edge corpus (one multi-token doc, " +
    "empty/whitespace docs, no query-term hits)") {
    // sgns: pairs exist only in doc 3 — the step must still run and
    // improve (or at worst hold) the 2-row trajectory
    val sg = SparkEntry.queries("sgns_step")(spark, edgeDir).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(sg.length == 2)
    assert(sg(1).getAs[Double]("loss") <= sg(0).getAs[Double]("loss"))
    // dsir_sample: only token-bearing docs are scorable; ranks dense
    val ds = SparkEntry.queries("dsir_sample")(spark, edgeDir).collect()
    assert(ds.nonEmpty && ds.length <= 4)
    // multimodal_neardup: the empty doc is out of fingerprint scope;
    // whatever pairs emerge are within hamming 1 — execution + bounds
    // are the assertion
    SparkEntry.queries("multimodal_neardup")(spark, edgeDir).collect()
      .foreach(r => assert(r.getAs[Long]("hamming") <= 1))
    // retrieval_ndcg: no doc contains a query term — the correct
    // degenerate answer is an EMPTY report, never a crash
    assert(SparkEntry.queries("retrieval_ndcg")(spark, edgeDir)
      .collect().isEmpty)
  }

  test("sgns_step on a pair-less corpus returns the NULL-loss " +
    "trajectory, never a crash (ANSI element_at guard)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("edge_nopair").toString
    Seq((1L, "solo", "en", "src0", 4L), (2L, "", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("sgns_step")(spark, dir).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(rows.length == 2)
    // no pairs anywhere: the loss is NULL (nothing to train on) and the
    // distinct counts are 0 — the degenerate-corpus convention
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("loss")))
      assert(r.getAs[Long]("n_words") == 0L)
    }
  }

  test("tokensCjk: unsegmented zh fixture segments to char bigrams; " +
    "whitespace corpus is a provable no-op (r15 verdict #6)") {
    import spark.implicits._
    val df = Seq(
      (1L, "深度学习"),                    // pure CJK, unsegmented
      (2L, "深度学习 with latin"),         // mixed: CJK token + latin
      (3L, "深"),                           // single CJK char: passes whole
      (4L, "hello world"))                   // pure latin: no-op
      .toDF("doc_id", "text")
    val toks = df.select(col("doc_id"),
        graft.operators.TextOps.tokensCjk(col("text")).as("ts"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1)).toMap
    assert(toks(1L) == Seq("深度", "度学", "学习"),
      s"bigram fallback wrong: ${toks(1L)}")
    assert(toks(2L) == Seq("深度", "度学", "学习", "with", "latin"))
    assert(toks(3L) == Seq("深"), "single CJK char must pass through")
    assert(toks(4L) == Seq("hello", "world"))
    // whole-corpus no-op on the Latin fixtures: tokensCjk ≡ tokens
    val d = Tables(spark, sf, "documents")
      .select(graft.operators.TextOps.tokensCjk(col("text")).as("a"),
        graft.operators.TextOps.tokens(col("text")).as("b"))
    assert(d.filter(not(col("a") === col("b"))).count() == 0,
      "fallback fired on the whitespace corpus")
  }
}
