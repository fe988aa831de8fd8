package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextOps
import core._

/** Round-4 LLM-data-curation depth operators (SURVEY.md §2.16) — the
  * steps a training-data pipeline runs AFTER the per-document features
  * and near-dup detection the earlier families cover:
  *
  *   - `contamination_overlap`: train/eval benchmark-contamination check.
  *     The corpus is split deterministically (doc_id % 17 = 0 → eval);
  *     every eval document reports how many of its distinct word-5-grams
  *     also appear anywhere in the train split. At 100 TB this is ONE
  *     equi-join of the eval n-gram stream against the distinct train
  *     n-gram set on a fixed-width md5 key (md5 so the oracle joins on
  *     the identical function) — candidates never fan out beyond the
  *     eval side's own n-gram count, and the train set is the classic
  *     build side for a shuffled hash join.
  *   - `lm_bigram_score`: add-one-smoothed bigram language-model scoring —
  *     the KenLM-style quality/perplexity proxy. Counts come from the
  *     train split only; each eval document's mean log-probability
  *     Σ ln((c(w₁w₂)+1)/(c(w₁)+V)) / n is computed with every ln term
  *     pinned to DECIMAL(14,10) before the exact sum (token_entropy's
  *     libm-skew defense). V rides a 1-row broadcast (allowlisted NLJ,
  *     the bigram_pmi pattern); everything else is equi-joins on words.
  *   - `quantize_embed`: symmetric int8 embedding quantization (the
  *     vector-storage compression step): per-vector max-abs scale,
  *     q = floor(x·127/scale + 0.5), saturation count, exact-decimal
  *     reconstruction SSE. Pure per-row map — shuffle-free at any scale;
  *     all double math is the shared-floor-formula kind the oracle
  *     mirrors bit-for-bit.
  *   - `dedup_pipeline_e2e`: the dedup stages composed end to end —
  *     MinHash-LSH candidates → exact Jaccard verify (≥ 0.8) →
  *     connected components (pointer-jumping, detected fixpoint) →
  *     keep-best representative (longest text, lowest id) → per-cluster
  *     summary. Candidates stay bucket-bounded, CC is O(log n) rounds of
  *     keyed shuffles, and the representative choice is one window over
  *     the cluster key — no stage is quadratic.
  *   - `union_by_name_evolve`: schema-evolution append — an old-schema
  *     slice unioned BY NAME (allowMissingColumns) with a new-schema
  *     slice whose columns are reordered and extended; missing column
  *     null-fills, then one aggregate over the merged log. DuckDB's
  *     `UNION ALL BY NAME` is the exact oracle counterpart.
  *   - `collate_group`: Spark-4 collation surface — grouping a
  *     deliberately case-mixed column under UTF8_LCASE so distinct
  *     spellings merge; the oracle proves the semantics via the
  *     lower() formulation. Output keys are lowercased (the grouped
  *     representative spelling is engine-internal, so it never leaves
  *     the query).
  *
  * Determinism follows core.scala (decimal-before-sum, shared floor
  * rounding, total ORDER BY with unique keys).
  */
object CurationQ {

  /** Eval split predicate: deterministic, ~6% of docs. */
  private def isEval(id: org.apache.spark.sql.Column) = id % 17 === 0

  /** Distinct word-5-grams per doc as (doc_id, h = md5(shingle)).
    * Per-doc distinctness is a relational DISTINCT, not array_distinct —
    * same set, map-side-combinable. */
  private def gram5(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      .select(col("doc_id"), ws, TextOps.windows(ws, 5).as("i"))
      .select(col("doc_id"), TextOps.gram(ws, col("i"), 5).as("sh"))
      .distinct()
      .select(col("doc_id"), md5(col("sh")).as("h"))
  }

  val contaminationOverlap: QFn = (s, dir) => {
    val g = gram5(s, dir)
    val train = g.filter(!isEval(col("doc_id")))
      .select(col("h").as("th")).distinct()
    g.filter(isEval(col("doc_id")))
      .join(train, col("h") === col("th"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), count(col("th")).as("n_hit"))
      .withColumn("rate", r6(dbl(col("n_hit")) / col("n_ngrams")))
      .orderBy(col("doc_id"))
  }

  /** Consecutive token pairs of a doc as (doc_id, w1, w2). */
  private def bigramRows(s: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      .select(col("doc_id"), ws, TextOps.windows(ws, 2).as("i"))
      .select(col("doc_id"), element_at(ws, col("i") + 1).as("w1"),
        element_at(ws, col("i") + 2).as("w2"))
  }

  val lmBigramScore: QFn = (s, dir) => {
    val bg = bigramRows(s, dir)
    val trainBg = bg.filter(!isEval(col("doc_id")))
    val c2 = trainBg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = t(s, dir, "documents")
      .filter(!isEval(col("doc_id")))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    bg.filter(isEval(col("doc_id")))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        dec(log(dbl(coalesce(col("c2"), lit(0L)) + 1) /
          dbl(coalesce(col("c1"), lit(0L)) + col("v"))), 14, 10).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(dbl(col("ll")) / col("n_bigrams")).as("avg_ll"))
      .orderBy(col("doc_id"))
  }

  /** Perplexity gate (r12) — the CCNet/C4 composition the LM pieces
    * lacked a CONSUMER for (Wenzek et al. 2020: train an LM on a clean
    * slice, score every document, keep the well-modeled tail): the
    * lm_bigram_score add-one model is trained on the train split
    * (doc_id % 17 ≠ 0, the curation split convention), then scores the
    * WHOLE corpus; the keep/drop threshold is the exact-rank 30th
    * percentile of the r6-rounded per-doc scores (winsorize selection —
    * no interpolation; ranked over the DISTINCT-score histogram, the
    * model_auc bounded-window move, ≤ 10⁶+1 rows by rounding); kept =
    * strictly above the threshold value, so tie groups drop whole and
    * both engines agree by construction. Output: the per-(lang, source)
    * kept/dropped MANIFEST a curation run ships — doc counts, scored
    * counts, kept counts/rate, mean kept score (DECIMAL-pinned sum of
    * per-doc r6 scores), and the threshold as evidence. Docs with no
    * bigram (token-less) are unscoreable and drop — visible as
    * n_scored < n_docs.
    *
    * Scale shape: training counts live on the vocabulary domain
    * (Heaps-saturating); scoring is one linear bigram explode + two
    * vocab-keyed left joins + a doc-keyed aggregate; the threshold is
    * ONE bounded-histogram prefix window + a 1-row broadcast back —
    * nothing corpus-sized is ever single-partitioned. */
  /** The (per-doc score, 1-row threshold) LM-gate artifact, built once
    * per (session, dir) and checkpointed — quality_lm_gate reports it,
    * TextQ's pretrain capstone consumes it as a filter (score once,
    * gate everywhere — the artifact amortization the tokenizer and
    * standing-index caches follow). */
  private val lmGateCache =
    graft.Tables.sessionScopedCache[String, (DataFrame, DataFrame)]()
  private[graft] def lmGateArtifact(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    lmGateCache.getOrElseUpdate((graft.Tables.sessionKey(s), dir), {
      val bg = bigramRows(s, dir)
      val c2 = bg.filter(!isEval(col("doc_id")))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = t(s, dir, "documents")
        .filter(!isEval(col("doc_id")))
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val v = c1.agg(count(lit(1)).as("v"))
      val scored = bg
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1.withColumnRenamed("w", "w1"), Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          dec(log(dbl(coalesce(col("c2"), lit(0L)) + 1) /
            dbl(coalesce(col("c1"), lit(0L)) + col("v"))), 14, 10)
            .as("term"))
        .groupBy(col("doc_id"))
        .agg(r6(dbl(sum(col("term"))) / count(lit(1))).as("score"))
        .ckpt()
      // threshold rides the persisted registry (r13): derived once per
      // (JVM, dir) from the bounded distinct-score histogram, re-read by
      // any later session — a restart re-loads the gate instead of
      // re-deriving it
      val thr = core.persistedArtifact(s, dir, "lm_threshold") {
        val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
        val wS = Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = hist
          .withColumn("cb", coalesce(sum(col("c")).over(wS), lit(0L)))
          .withColumn("ce", col("cb") + col("c"))
        val tot = scored.agg(count(lit(1)).as("n"))
        cum.crossJoin(broadcast(tot)).agg(
          max(when(col("cb") < expr("(3 * n + 9) div 10") &&
            expr("(3 * n + 9) div 10") <= col("ce"), col("score")))
            .as("lm_threshold"))
      }.ckpt()
      (scored, thr)
    })

  val qualityLmGate: QFn = (s, dir) => {
    val (scored, thr) = lmGateArtifact(s, dir)
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .withColumn("kept",
        col("score").isNotNull && col("score") > col("lm_threshold"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), dec(col("score"), 14, 8))).as("kept_sum"),
        max(col("lm_threshold")).as("lm_threshold"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_scored"),
        col("n_kept"),
        r6(dbl(col("n_kept")) /
          nullif(dbl(col("n_scored")), lit(0.0))).as("kept_rate"),
        r6(dbl(col("kept_sum")) /
          nullif(dbl(col("n_kept")), lit(0.0))).as("mean_kept_score"),
        col("lm_threshold"))
      .orderBy(col("lang"), col("source"))
  }

  /** Model-based quality-classifier gate (r13) — the fasttext-style
    * companion to the CCNet perplexity gate (the pairing production
    * pipelines run: Wenzek et al. 2020 perplexity + a trained classifier,
    * e.g. the GPT-3/LLaMA quality filters): a LOGISTIC model over hashed
    * text features, trained ON THE ENGINE with the logistic_irls
    * machinery, scores every document; the kept set is everything above
    * the exact-rank 30th-percentile score.
    *
    * Labels: lang-agreement (langId prediction == label) — the cheap
    * supervision a real pipeline bootstraps from. Features per doc:
    *   x1 = mean hashed-unigram class log-ratio — 256 md5-prefix buckets
    *        (the feature_hash_audit device), per-bucket add-one
    *        log-odds ln((cp+1)(tn+256)/((cn+1)(tp+256))) pinned
    *        DECIMAL(14,10) (the dsir_weight formulation — the "model"
    *        is a CONSTANT 256-row broadcast at any corpus size),
    *   x2 = type-token ratio (one exact int division).
    * Fit: 2 IRLS Newton steps from β = 0 — per-row σ/weights as doubles
    * (identical cross-engine, the logistic_irls precedent), XᵀWX/grad
    * moments as DECIMAL(30,14)-pinned sums, explicit 3×3 adjugate solve
    * on the 1-row moment frame. Scores are r6-ROUNDED per doc so the
    * threshold selection pools on a bounded distinct-score histogram
    * (the quality_lm_gate move). Output: the per-(lang, source)
    * kept/dropped manifest, same shape as quality_lm_gate.
    * Scale shape: two token-keyed shuffles (bucket counts, per-doc
    * feature sums) + 2× one-pass moment aggregates + bounded-histogram
    * threshold — nothing corpus-sized single-partitions. */
  private val clfGateCache =
    graft.Tables.sessionScopedCache[String, (DataFrame, DataFrame)]()
  private[graft] def clfGateArtifact(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    clfGateCache.getOrElseUpdate((graft.Tables.sessionKey(s), dir), {
      val ws = TextOps.tokens(col("text"))
      val base0 = t(s, dir, "documents")
        .select(col("doc_id"),
          when(TextOps.langId(col("text")) === col("lang"), lit(1.0))
            .otherwise(lit(0.0)).as("y"),
          ws.as("ws"))
        .withColumn("ntok", size(col("ws")))
        .filter(col("ntok") >= 1)
      val tok = base0
        .select(col("doc_id"), col("y"), explode(col("ws")).as("tkn"))
        .select(col("doc_id"), col("y"),
          substring(md5(col("tkn")), 1, 2).as("bucket"))
      val model = tok.groupBy(col("bucket"))
        .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("cp"),
          sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("cn"))
      val tots = model.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"))
      val rates = model.crossJoin(broadcast(tots))
        .select(col("bucket"),
          dec(log(dbl((col("cp") + 1) * (col("tn") + 256)) /
            dbl((col("cn") + 1) * (col("tp") + 256))), 14, 10).as("term"))
      val db = tok.groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("k"))
      val x1 = db.join(broadcast(rates), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg((dbl(sum(dec(col("k"), 10, 0) * col("term"))) / sum(col("k")))
          .as("x1"))
      val feat = base0
        .select(col("doc_id"), col("y"),
          (dbl(size(array_distinct(col("ws")))) / col("ntok")).as("x2"))
        .join(x1, Seq("doc_id"))
        .select(col("doc_id"), col("y"), col("x1"), col("x2"))
        .ckpt()
      // ---- 2 IRLS Newton steps (StatsQ.irlsStep on doc features); only
      // β is kept, so Catalyst prunes the step's log-likelihood sum
      def step(beta: DataFrame): DataFrame = StatsQ.irlsStep(feat, beta)
        .select(col("b0"), col("b1"), col("b2"))
      val beta = step(step(StatsQ.irlsBeta0(s)).ckpt()).ckpt()
      val scored = feat.crossJoin(broadcast(beta))
        .select(col("doc_id"), r6(sigmoid(StatsQ.irlsScore)).as("score"))
        .ckpt()
      // ---- exact-rank 30th-percentile threshold on the r6-score histogram
      val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
      val wS = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist
        .withColumn("cb", coalesce(sum(col("c")).over(wS), lit(0L)))
        .withColumn("ce", col("cb") + col("c"))
      val tot = scored.agg(count(lit(1)).as("n"))
      val thr = cum.crossJoin(broadcast(tot)).agg(
        max(when(col("cb") < expr("(3 * n + 9) div 10") &&
          expr("(3 * n + 9) div 10") <= col("ce"), col("score")))
          .as("clf_threshold"))
        .ckpt()
      (scored, thr)
    })

  val qualityClfGate: QFn = (s, dir) => {
    val (scored, thr) = clfGateArtifact(s, dir)
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .withColumn("kept",
        col("score").isNotNull && col("score") > col("clf_threshold"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), dec(col("score"), 14, 8))).as("kept_sum"),
        max(col("clf_threshold")).as("clf_threshold"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_scored"),
        col("n_kept"),
        r6(dbl(col("n_kept")) /
          nullif(dbl(col("n_scored")), lit(0.0))).as("kept_rate"),
        r6(dbl(col("kept_sum")) /
          nullif(dbl(col("n_kept")), lit(0.0))).as("mean_kept_score"),
        col("clf_threshold"))
      .orderBy(col("lang"), col("source"))
  }

  /** Shared oracle CTE chain for the classifier gate — mirrors
    * clfGateArtifact stage for stage and ends in `clfscored(doc_id,
    * score)` + `clfthr(clf_threshold)`. Used by the quality_clf_gate
    * oracle and by TextQ's pretrain capstone oracle (the second gate).
    * All CTE names are q-prefixed so the chain composes into the
    * capstone's WITH block without collisions. */
  private[queries] def clfGateCtes: String = {
    def pinSql(e: String) = s"CAST($e AS DECIMAL(30,14))"
    def step(k: Int): String = {
      val b = s"qbeta${k - 1}"
      def bref(c: String) = s"(SELECT $c FROM $b)"
      s"""qr$k AS MATERIALIZED (
         |  SELECT y, x1, x2,
         |    ${bref("b0")} + ${bref("b1")} * x1 + ${bref("b2")} * x2 AS z
         |  FROM qfeat),
         |qp$k AS MATERIALIZED (
         |  SELECT y, x1, x2, p, p * (1.0 - p) AS w
         |  FROM (SELECT *, 1.0 / (1.0 + exp(-z)) AS p FROM qr$k)),
         |qm$k AS MATERIALIZED (
         |  SELECT
         |    sum(${pinSql("w")}) AS a00,
         |    sum(${pinSql("w * x1")}) AS a01,
         |    sum(${pinSql("w * x2")}) AS a02,
         |    sum(${pinSql("w * x1 * x1")}) AS a11,
         |    sum(${pinSql("w * x1 * x2")}) AS a12,
         |    sum(${pinSql("w * x2 * x2")}) AS a22,
         |    sum(${pinSql("y - p")}) AS g0,
         |    sum(${pinSql("(y - p) * x1")}) AS g1,
         |    sum(${pinSql("(y - p) * x2")}) AS g2
         |  FROM qp$k),
         |qi$k AS MATERIALIZED (
         |  SELECT *,
         |    nullif(a00d * (a11d * a22d - a12d * a12d)
         |      - a01d * (a01d * a22d - a12d * a02d)
         |      + a02d * (a01d * a12d - a11d * a02d), 0.0) AS det
         |  FROM (SELECT CAST(a00 AS DOUBLE) AS a00d,
         |      CAST(a01 AS DOUBLE) AS a01d, CAST(a02 AS DOUBLE) AS a02d,
         |      CAST(a11 AS DOUBLE) AS a11d, CAST(a12 AS DOUBLE) AS a12d,
         |      CAST(a22 AS DOUBLE) AS a22d, CAST(g0 AS DOUBLE) AS g0d,
         |      CAST(g1 AS DOUBLE) AS g1d, CAST(g2 AS DOUBLE) AS g2d
         |    FROM qm$k)),
         |qbeta$k AS MATERIALIZED (
         |  SELECT
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
         |      + ((a00d * a11d - a01d * a01d) / det) * g2d AS b2
         |  FROM qi$k)""".stripMargin
    }
    def b2ref(c: String) = s"(SELECT $c FROM qbeta2)"
    s"""qbase AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN (${TextQ.langPredSql}) = lang
       |      THEN 1.0 ELSE 0.0 END AS y,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> '') AS ws
       |  FROM documents),
       |qb2 AS MATERIALIZED (
       |  SELECT doc_id, y, len(ws) AS ntok, ws FROM qbase
       |  WHERE len(ws) >= 1),
       |qtok AS MATERIALIZED (
       |  SELECT doc_id, y, substring(md5(t), 1, 2) AS bucket
       |  FROM (SELECT doc_id, y, unnest(ws) AS t FROM qb2)),
       |qmodel AS (SELECT bucket,
       |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |    CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS cn
       |  FROM qtok GROUP BY bucket),
       |qtots AS (SELECT CAST(sum(cp) AS BIGINT) AS tp,
       |    CAST(sum(cn) AS BIGINT) AS tn FROM qmodel),
       |qrates AS (SELECT bucket,
       |    CAST(ln(CAST((cp + 1) * (tn + 256) AS DOUBLE)
       |      / CAST((cn + 1) * (tp + 256) AS DOUBLE)) AS DECIMAL(14,10))
       |      AS term
       |  FROM qmodel, qtots),
       |qdb AS (SELECT doc_id, bucket, count(*) AS k
       |  FROM qtok GROUP BY 1, 2),
       |qx1 AS (SELECT doc_id,
       |    CAST(sum(CAST(k AS DECIMAL(10,0)) * term) AS DOUBLE)
       |      / CAST(sum(k) AS DOUBLE) AS x1
       |  FROM qdb JOIN qrates USING (bucket) GROUP BY doc_id),
       |qfeat AS MATERIALIZED (
       |  SELECT b.doc_id, b.y, qx1.x1,
       |    CAST(len(list_distinct(b.ws)) AS DOUBLE) / b.ntok AS x2
       |  FROM qb2 b JOIN qx1 USING (doc_id)),
       |qbeta0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
       |${step(1)},
       |${step(2)},
       |clfscored AS MATERIALIZED (
       |  SELECT doc_id, ${r6Sql(s"1.0 / (1.0 + exp(-(${b2ref("b0")}" +
           s" + ${b2ref("b1")} * x1 + ${b2ref("b2")} * x2)))")} AS score
       |  FROM qfeat),
       |clfranked AS (
       |  SELECT score, row_number() OVER (ORDER BY score) AS rn,
       |    count(*) OVER () AS n
       |  FROM clfscored),
       |clfthr AS (
       |  SELECT max(CASE WHEN rn = (3 * n + 9) // 10 THEN score END)
       |    AS clf_threshold FROM clfranked)""".stripMargin
  }

  val quantizeEmbed: QFn = (s, dir) => {
    val x = transform(col("embedding"), e => e.cast("double"))
    val scale = array_max(transform(col("x"), e => abs(e)))
    val sc = col("sc")
    def q(e: org.apache.spark.sql.Column) = floor(e * 127.0 / sc + 0.5)
    def recon(e: org.apache.spark.sql.Column) = q(e) * sc / 127.0
    // Each squared-error term is pure double arithmetic on identical
    // inputs (bit-identical cross-engine), and both engines fold the
    // array sequentially (aggregate / list_reduce) — so the double sum
    // is bit-identical too; no decimal pinning needed.
    val errsq = transform(col("x"),
      e => (e - recon(e)) * (e - recon(e)))
    t(s, dir, "embeddings")
      .select(col("vec_id"), x.as("x"))
      .withColumn("scale", scale)
      .withColumn("sc", when(col("scale") === 0.0, 1.0).otherwise(col("scale")))
      .select(col("vec_id"), col("scale"),
        aggregate(transform(col("x"), e => q(e)), lit(0L), (a, b) => a + b)
          .as("q_sum"),
        size(filter(col("x"), e => abs(q(e)) === 127)).cast("long").as("n_sat"),
        rd(aggregate(errsq, lit(0.0), (a, b) => a + b), 9).as("sse"))
      .orderBy(col("vec_id"))
  }

  val dedupPipeline: QFn = (s, dir) => {
    val pairs = TextQ.minhashVerifiedPairs(s, dir) // (a_id, b_id, jac ≥ 0.8)
    val edges = pairs.select(col("a_id"), col("b_id")).ckpt()
    val cc = graft.operators.ConnectedComponents.run(edges)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val labeled = docs
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labeled
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
        min(when(col("rn") === 1, col("n_chars"))).as("rep_chars"))
      .orderBy(col("cluster"))
  }

  val unionByNameEvolve: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("prio"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("o_totalprice"), 18, 4)).as("total_price"))
      .orderBy(col("prio"))
  }

  val collateGroup: QFn = (s, dir) => {
    val seg = when(col("c_custkey") % 3 === 0, lower(col("c_mktsegment")))
      .otherwise(col("c_mktsegment"))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), seg.as("seg_m"))
      .groupBy(collate(col("seg_m"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("seg_m")).as("n_forms"),
        moneySum(dec(col("c_acctbal"), 18, 4)).as("bal"))
      .select(lower(col("k")).cast("string").as("segment"),
        col("n"), col("n_forms"), col("bal"))
      .orderBy(col("segment"))
  }

  /** Domain-mixture sampling (r5) — the data-mixing step of training-set
    * assembly: each source gets a target retention rate (w/4 with
    * w = src_index % 4 + 1, a deterministic stand-in for the mixture
    * weights a curation run would configure), and the kept subset is
    * chosen by per-source rank over md5(doc_id) — a stable
    * pseudo-random priority both engines compute identically, so the
    * sample is reproducible run to run and machine to machine (the
    * property that matters when the mixture is re-materialized at
    * 100 TB). Ranks ride the two-phase prefix-sum device (r13): the
    * md5-prefix bucket bounds every sort task at ~n_src/256 rows and the
    * per-source totals come off the bounded bucket aggregate — the r12
    * bounded-key window (one task per source over the whole corpus) is
    * gone; rank values are identical by bucket monotonicity. */
  val domainMixSample: QFn = (s, dir) => {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (regexp_extract(col("source"), "(\\d+)$", 1).cast("int") % 4 + 1)
          .as("w"),
        md5(col("doc_id").cast("string")).as("pri"))
    bucketedRowNumber(base, Seq("source"), md5Bucket(col("pri")),
      Seq(col("pri"), col("doc_id")), "rk", Some("n_src"))
      .filter(col("rk") <= ceil(col("w") * col("n_src") / lit(4)))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Temperature-scaled mixture targets (r9) — domain_mix_sample's
    * planning stage: given per-source corpus mass, compute how many of a
    * fixed 10,000-sequence training budget each source gets under
    * α = 0.5 temperature reweighting (targets ∝ mass^α — the standard
    * up-weight-the-tail data-mixing knob; α = 0.5 specifically because
    * mass^0.5 = sqrt(mass) is ONE correctly-rounded IEEE op on both
    * engines, where a general pow/exp·ln differs in ulps). Integerizing
    * uses largest-remainder (Hamilton) apportionment: exact floor bases
    * from the mirrored double shares, then the leftover seats go to the
    * largest remainders (source-name tiebreak) — so the targets sum to
    * the budget EXACTLY, the invariant a downstream sampler needs.
    * Weights are pinned DECIMAL(18,6) so the denominator is an exact
    * order-free sum. Scale shape: everything after the one per-source
    * groupBy runs on the #sources-row aggregate (domain count is a
    * bounded dimension); the unpartitioned windows are over that same
    * tiny table, never the corpus. */
  val mixTemperature: QFn = (s, dir) => {
    val wAll = Window.partitionBy()
    val m = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("wt", dec(sqrt(dbl(col("chars"))), 18, 6))
      .withColumn("raw",
        dbl(col("wt") * lit(10000)) / dbl(sum(col("wt")).over(wAll)))
      .withColumn("base", floor(col("raw")))
      .withColumn("rem", col("raw") - dbl(col("base")))
      .withColumn("deficit", lit(10000L) - sum(col("base")).over(wAll))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
    m.select(col("source"), col("n_docs"), col("chars"),
      (col("base") + when(col("rn") <= col("deficit"), 1L).otherwise(0L))
        .as("target_n"))
      .orderBy(col("source"))
  }

  /** Greedy sequence packing (r5) — the batch-assembly step before LLM
    * training: documents concatenate in doc_id order into fixed
    * token-budget bins (512 tokens); a doc starting at running offset o
    * lands in bin o div 512 (contiguous packing — long docs span bins,
    * the standard treatment). The running offset is the two-phase
    * prefix-sum device (r13): doc_id range buckets (width from the
    * parquet-footer max — O(metadata)) bound every sort task at
    * ~n_lang/256 rows; bucket offsets ride the bounded bucket aggregate,
    * so no task ever sorts a whole lang shard — bin assignment is
    * bit-identical to the one-window-per-shard plan by bucket
    * monotonicity. Output is the per-bin manifest (doc span, doc count,
    * token count). */
  val packSequences: QFn = (s, dir) => {
    val maxId = graft.Tables.statsMaxLong(s, dir, "documents", "doc_id")
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("tok"))
    bucketedPrefixSum(base, Seq("lang"), idBucket(col("doc_id"), maxId),
      Seq(col("doc_id")), col("tok"), "cum")
      .withColumn("bin", floor((col("cum") - col("tok")) / lit(512L)))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Deterministic stratified train/valid/test split (r5) — the last step
    * before training-set hand-off: an 80/10/10 split assigned by the
    * first 4 hex digits of md5(doc_id) compared against the fixed string
    * thresholds 'cccc'/'e666' (equal-width lowercase hex compares
    * lexicographically == numerically, and md5 is engine-agnostic — the
    * md5-priority trick the mixture sampler already uses). The split is a
    * pure per-row function of doc_id: reproducible across engines, runs,
    * and machines, stable under corpus growth (a doc never changes
    * split), and shuffle-free until the per-(source, split) audit
    * aggregate — at 100 TB the assignment itself costs one codegen'd
    * projection. Output is the audit manifest: per-stratum doc count,
    * char volume, first id. */
  val trainTestSplit: QFn = (s, dir) => {
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    val split = when(h < "cccc", "train")
      .when(h < "e666", "valid").otherwise("test")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), split.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("split"))
  }

  /** Incremental ingestion dedup (r5) — the daily-batch pattern: only the
    * NEW batch (doc_id ≡ 0 mod 4, the deterministic stand-in for "today's
    * crawl") is hashed and joined against the standing history index;
    * history is never re-scanned for its own dups. Per new doc:
    * dup_of_history (content hash exists in history), dup_in_batch
    * (another batch doc shares the hash, lowest id is the keeper).
    * Output: the per-source ingestion report (accepted / rejected-history
    * / rejected-batch counts).
    *
    * Scale shape: at 100 TB the history side is a pre-built hash index
    * (bucketed by hash); the batch-side probe shuffles ONLY the delta —
    * cost tracks batch size, not corpus size. Here both sides derive from
    * the same table split, and the joins are semi/left on the 16-byte
    * md5 — the probe pattern is the real one. */
  val incrementalDedup: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(TextOps.normText(col("text"))).as("h"))
    val hist = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("h").as("hh")).distinct()
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val wH = Window.partitionBy(col("h"))
    batch
      .join(hist, col("h") === col("hh"), "left")
      .withColumn("dup_hist", col("hh").isNotNull)
      .withColumn("keeper", min(col("doc_id")).over(wH))
      .withColumn("dup_batch", !col("dup_hist") && col("doc_id") =!= col("keeper"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("dup_hist"), 1L).otherwise(0L)).as("n_rej_hist"),
        sum(when(col("dup_batch"), 1L).otherwise(0L)).as("n_rej_batch"),
        sum(when(!col("dup_hist") && !col("dup_batch"), 1L).otherwise(0L))
          .as("n_accepted"))
      .orderBy(col("source"))
  }

  /** URL canonicalization + dedup — the crawl-pipeline step that runs
    * BEFORE content dedup: raw crawl URLs differ in scheme, www-prefix,
    * default port, tracking parameters, fragments, and trailing slashes
    * while naming the same resource, and deduplicating without
    * canonicalizing inflates the corpus with byte-identical fetches.
    *
    * The fixtures carry no URL column, so (as with pii_scrub) the RAW
    * side is deterministic synthesis on the RFC 2606 reserved
    * documentation domain — two variants per doc: a messy one (scheme /
    * www / :443 / utm_source / fbclid / fragment / trailing slash all
    * varying by doc_id residues) and an already-canonical one. The
    * OPERATOR under test is the canonicalizer: `parse_url` host/path/
    * query split, lowercase + www-strip + default-port-strip, tracking
    * params (utm_*, fbclid) dropped while real params (ref) survive,
    * fragment dropped, trailing slash trimmed. Both variants of a doc
    * must collapse to ONE canonical URL; the per-host manifest reports
    * raw vs canonical counts and the dupe ratio.
    *
    * Scale shape: per-row expressions (codegen'd built-ins; the only
    * HOF is in the synthesis, not the operator) + one host groupBy —
    * ONE shuffle keyed by host, the partition key a crawl frontier
    * shards by anyway. */
  val urlCanonicalDedup: QFn = (s, dir) => {
    val d = t(s, dir, "documents")
    val id = col("doc_id")
    val host = concat(col("source"), lit(".example.com"))
    val qMessy = array_join(filter(array(
      when(id % 2 === 0, concat(lit("utm_source=feed"), id % 5))
        .otherwise(lit("")),
      when(id % 7 === 0, lit("ref=partner")).otherwise(lit("")),
      when(id % 13 === 0, concat(lit("fbclid=x"), id)).otherwise(lit(""))),
      x => x =!= ""), "&")
    val messy = concat(
      when(id % 2 === 0, lit("http")).otherwise(lit("https")), lit("://"),
      when(id % 3 === 0, lit("www.")).otherwise(lit("")), host,
      when(id % 11 === 0, lit(":443")).otherwise(lit("")),
      lit("/docs/"), id,
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(qMessy =!= "", concat(lit("?"), qMessy)).otherwise(lit("")),
      when(id % 3 === 1, concat(lit("#sec"), id % 4)).otherwise(lit("")))
    val clean = concat(lit("https://"), host, lit("/docs/"), id,
      when(id % 7 === 0, lit("?ref=partner")).otherwise(lit("")))
    val raw = d.select(id.as("doc_id"),
        explode(array(messy, clean)).as("url"))
    // The canonicalizer — the operator under test.
    val h = regexp_replace(lower(parse_url(col("url"), lit("HOST"))),
      "^www\\.", "")
    val p = regexp_replace(parse_url(col("url"), lit("PATH")), "/$", "")
    val ref = regexp_extract(
      coalesce(parse_url(col("url"), lit("QUERY")), lit("")),
      "(?:^|&)(ref=[^&]*)", 1)
    val canon = raw.select(col("doc_id"),
      concat(lit("https://"), h, p,
        when(ref =!= "", concat(lit("?"), ref)).otherwise(lit("")))
        .as("canon_url"),
      h.as("host"))
    canon.groupBy(col("host"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("canon_url")).as("n_canonical"),
        min(col("canon_url")).as("sample_url"))
      .select(col("host"), col("n_raw"), col("n_canonical"),
        (col("n_raw") - col("n_canonical")).as("n_dupes"),
        col("sample_url"))
      .orderBy(col("host"))
  }

  /** Feature hashing (the "hashing trick") + collision audit — the
    * vectorization step that turns unbounded vocabularies into a fixed
    * feature dimension without a trained dictionary: every token maps to
    * bucket = md5(token) prefix (256 buckets here; md5 so both engines
    * compute the identical mapping — a production run would use
    * xxhash64 mod 2^18, same shape). The audit output is what an ML
    * engineer actually inspects before choosing the dimension: per
    * bucket, total token mass, document frequency, and DISTINCT TERMS
    * LANDING IN THE BUCKET — n_terms > 1 is a collision, and the
    * distribution of n_terms across buckets is the collision-rate curve
    * that says whether the dimension is large enough.
    *
    * Scale shape: linear explode + ONE bucket-keyed groupBy; partial
    * aggregation compacts to ≤256 groups per map task regardless of
    * corpus size (real dims are larger, which only helps parallelism). */
  val featureHashAudit: QFn = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("tok"),
        substring(md5(col("tok")), 1, 2).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("tok")).as("n_terms"),
        min(col("tok")).as("sample_term"))
      .orderBy(col("bucket"))

  /** DSIR-style importance weighting (r8) — hashed n-gram importance
    * resampling (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much its hashed
    * unigram distribution looks like the TARGET slice (here lang='en')
    * versus the RAW corpus. Features are 256 md5-prefix buckets (the
    * cross-engine hash convention); per-bucket log-ratios use add-one
    * smoothing, ln((c_t+1)(N_r+256) / ((c_r+1)(N_t+256))), each term
    * pinned to DECIMAL(14,10) so per-doc sums are exact and order-free.
    * Scale shape: one token scan feeds (a) a 256-row bucket table — the
    * "n-gram model" is constant-size no matter the corpus, the property
    * that makes DSIR run at 100 TB — broadcast back against (b) per-doc
    * bucket counts; cost is two shuffles on (doc_id, bucket). */
  /** The shared per-doc DSIR scored frame (doc_id, n_toks, w: exact
    * DECIMAL sum) — consumed by dsir_weight (the report) and
    * dsir_sample (the resampler the weights exist for). */
  private def dsirDocWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("lang"),
        substring(md5(col("tok")), 1, 2).as("bucket"))
    val buckets = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val totals = buckets.agg(sum(col("c_r")).as("n_r"),
      sum(col("c_t")).as("n_t"))
    val rates = buckets.crossJoin(broadcast(totals))
      .select(col("bucket"),
        dec(log(dbl(col("c_t") + 1) * dbl(col("n_r") + 256) /
          (dbl(col("c_r") + 1) * dbl(col("n_t") + 256))), 14, 10)
          .as("term"))
    tok.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("k"))
      .join(broadcast(rates), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_toks"),
        sum(dec(col("k"), 10, 0) * col("term")).as("w"))
  }

  val dsirWeight: QFn = (s, dir) =>
    dsirDocWeights(s, dir)
      .select(col("doc_id"), col("n_toks"),
        r6(dbl(col("w"))).as("dsir_sum"),
        r6(dbl(col("w")) / col("n_toks")).as("dsir_avg"))
      .orderBy(col("doc_id"))

  /** Sample size per source for dsir_sample. */
  val DsirSampleK = 20
  /** Importance weights are clipped to exp(±8) before sampling — the
    * standard DSIR/importance-sampling variance control (Xie et al.
    * 2023 clip their log-ratios too), and what keeps the exp() term
    * inside DECIMAL(14,10) at any corpus size. */
  val DsirClip = 8.0

  /** DSIR weighted sampling WITHOUT replacement (r14, verdict #3) — the
    * resampling step the importance weights exist for, derandomized:
    * Efraimidis–Spirakis (IPL 2006) assigns each doc the key u^(1/w)
    * and the sample is the top-k keys; equivalently rank by
    * ln(u)/w = ln(u)·exp(−avg) DESC. u comes from the doc-id hash
    * (48-bit md5 prefix → (h+0.5)/2^48 ∈ (0,1)), so both engines hold
    * the identical "randomness"; w = exp(clipped dsir_avg), so
    * target-like docs sample with proportionally higher probability.
    * Both libm terms (ln u, exp −avg) are pinned DECIMAL(14,10) and the
    * ranking key is their EXACT decimal product — engine-identical
    * order by construction. Top-20 per source (without replacement by
    * construction — each doc has one key).
    *
    * Scale shape: the scored frame is dsir_weight's own two shuffles;
    * the sampler adds one doc_id equi-join for the source column and a
    * per-source top-k window that plans a WindowGroupLimit — map-side
    * pruned to k rows/group/partition before any sort, so the
    * bounded-key window never sorts corpus rows. */
  val dsirSample: QFn = (s, dir) => {
    val scored = dsirDocWeights(s, dir)
      .withColumn("dsir_avg", r6(dbl(col("w")) / col("n_toks")))
    val av = greatest(least(col("dsir_avg"), lit(DsirClip)),
      lit(-DsirClip))
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(281474976710656.0) // 2^48
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id"))
    scored
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .withColumn("es_key", dec(log(u), 14, 10) * dec(exp(-av), 14, 10))
      .withColumn("smp_rank", row_number().over(wTop).cast("long"))
      .filter(col("smp_rank") <= DsirSampleK)
      .select(col("source"), col("smp_rank"), col("doc_id"),
        col("n_toks"), col("dsir_avg"))
      .orderBy(col("source"), col("smp_rank"))
  }

  /** Quantile normalization (r10) — the cross-source BATCH-EFFECT
    * corrector (Bolstad et al. 2003, the microarray classic — the same
    * move data pipelines use to make per-source length/quality
    * distributions comparable before mixing): every document's size is
    * replaced by the POOLED corpus value at its within-source quantile,
    * so each source's normalized distribution becomes the pooled
    * reference exactly. Rank math is all integer: within-source rank
    * rₛ (value, doc_id order), target pooled rank = ceil(rₛ·N/nₛ)
    * (exact ceil-division), normalized value = pooled sorted value at
    * that rank — selection semantics, no interpolation, both engines
    * agree by construction. Output per source: raw vs normalized means
    * (exact int sums, one division) and the normalized median — equal
    * medians across sources is the visible proof the batch effect is
    * gone.
    *
    * Scale shape (r12): the output NEVER needs per-doc ranks. Within a
    * source the ranks rs are exactly 1..nₛ, so the multiset of pooled
    * targets {ceil(rs·N/nₛ)} is tie-order-free, and the number of
    * source ranks mapping onto pooled rank t telescopes per distinct
    * value: #{rs : ceil(rs·N/nₛ)∈(cb,ce]} = ⌊ce·nₛ/N⌋ − ⌊cb·nₛ/N⌋
    * (cb/ce = the value's exclusive/inclusive pooled prefix counts). So
    * the whole key runs on the DISTINCT-n_chars histogram — one groupBy
    * per axis, ONE prefix-sum window over the bounded value domain
    * (doc sizes, not doc count), a (values × sources) bounded join, and
    * a per-source rollup. The r10 corpus-sized pooled row_number (the
    * r11 weak flag) is gone; outputs are bit-identical to the rank
    * formulation, so the oracle is unchanged. Rank products ride
    * DECIMAL(38,0) (cb·nₛ overflows BIGINT past ~3·10⁹ docs). */
  val quantileNormalize: QFn = (s, dir) => {
    val d = t(s, dir, "documents")
      .select(col("source"), col("n_chars"))
    val src = d.groupBy(col("source"))
      .agg(count(lit(1)).as("ns"), sum(col("n_chars")).as("sum_raw"))
    val hist = d.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val wV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cb", coalesce(sum(col("c")).over(wV), lit(0L)))
      .withColumn("ce", col("cb") + col("c"))
    val tot = d.agg(count(lit(1)).as("n_pool"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(src))
      .withColumn("w",
        expr("(CAST(ce AS DECIMAL(38,0)) * ns) div n_pool" +
          " - (CAST(cb AS DECIMAL(38,0)) * ns) div n_pool"))
      .withColumn("tm",
        expr("(((ns + 1) div 2) * CAST(n_pool AS DECIMAL(38,0)) + ns - 1)" +
          " div ns"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"),
        max(col("sum_raw")).as("sum_raw"),
        sum(dec(col("v"), 28, 0) * col("w")).as("sum_norm"),
        max(when(col("cb") < col("tm") && col("tm") <= col("ce"),
          col("v"))).as("median_norm"))
      .select(col("source"), col("n_docs"),
        r6(dbl(col("sum_raw")) / col("n_docs")).as("mean_raw"),
        r6(dbl(col("sum_norm")) / col("n_docs")).as("mean_norm"),
        col("median_norm"))
      .orderBy(col("source"))
  }

  val queries: Map[String, QFn] = Map(
    "quantile_normalize" -> quantileNormalize,
    "mix_temperature"       -> mixTemperature,
    "dsir_sample"           -> dsirSample,
    "dsir_weight"           -> dsirWeight,
    "feature_hash_audit"    -> featureHashAudit,
    "url_canonical_dedup"   -> urlCanonicalDedup,
    "incremental_dedup"     -> incrementalDedup,
    "train_test_split"      -> trainTestSplit,
    "contamination_overlap" -> contaminationOverlap,
    "lm_bigram_score"       -> lmBigramScore,
    "quality_lm_gate"       -> qualityLmGate,
    "quality_clf_gate"      -> qualityClfGate,
    "quantize_embed"        -> quantizeEmbed,
    "dedup_pipeline_e2e"    -> dedupPipeline,
    "union_by_name_evolve"  -> unionByNameEvolve,
    "collate_group"         -> collateGroup,
    "domain_mix_sample"     -> domainMixSample,
    "pack_sequences"        -> packSequences)

  private val wordsCte =
    """words AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    w -> w <> '') AS ws FROM documents)""".stripMargin

  /** Distinct word-5-gram md5 per doc, mirroring CurationQ.gram5. */
  private val gram5Cte =
    s"""$wordsCte,
       |g5 AS (
       |  SELECT DISTINCT doc_id,
       |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
       |        ws[i+3] || ' ' || ws[i+4]) AS h
       |  FROM words,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM words) + 1)) AS i)
       |  WHERE i + 4 <= len(ws))""".stripMargin

  private val bigramCte =
    s"""$wordsCte,
       |bg AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM words,
       |    (SELECT unnest(range(1, (SELECT max(len(ws)) FROM words) + 1)) AS i)
       |  WHERE i + 1 <= len(ws))""".stripMargin

  private val quantSq =
    "(e - CAST(floor(e * 127.0 / sc + 0.5) AS BIGINT) * sc / 127.0)"

  /** The DSIR scoring chain (tokens → 256-bucket log-ratios → per-doc
    * exact-decimal sums), ending in `w(doc_id, n_toks, w)` — shared by
    * the dsir_weight report and the dsir_sample resampler oracles. */
  private val dsirChainCtes: String =
    s"""tok AS (
       |  SELECT doc_id, lang, substr(md5(t), 1, 2) AS bucket
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split_regex(lower(text), '\\s+')) AS t
       |        FROM documents)
       |  WHERE t <> ''),
       |b AS (
       |  SELECT bucket, count(*) AS c_r,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c_t
       |  FROM tok GROUP BY bucket),
       |tot AS (
       |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
       |    CAST(sum(c_t) AS BIGINT) AS n_t FROM b),
       |rates AS (
       |  SELECT bucket, CAST(ln(
       |    CAST(c_t + 1 AS DOUBLE) * CAST(n_r + 256 AS DOUBLE) /
       |    (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + 256 AS DOUBLE)))
       |    AS DECIMAL(14,10)) AS term
       |  FROM b, tot),
       |dk AS (
       |  SELECT doc_id, bucket, count(*) AS k
       |  FROM tok GROUP BY doc_id, bucket),
       |w AS (
       |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_toks,
       |    sum(CAST(k AS DECIMAL(10,0)) * term) AS w
       |  FROM dk JOIN rates USING (bucket) GROUP BY doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |pool AS (SELECT n_chars AS pool_v,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS prn FROM d),
        |tot AS (SELECT count(*) AS n_pool FROM pool),
        |r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rs,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM d),
        |j AS (
        |  SELECT r.source, r.n_chars, r.rs, r.ns, p.pool_v
        |  FROM r JOIN pool p
        |    ON p.prn = (r.rs * (SELECT n_pool FROM tot) + r.ns - 1) // r.ns)
        |SELECT source, count(*) AS n_docs,
        |  floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 1000000 + 0.5)
        |    / 1000000 AS mean_raw,
        |  floor((CAST(sum(pool_v) AS DOUBLE) / count(*)) * 1000000 + 0.5)
        |    / 1000000 AS mean_norm,
        |  max(CASE WHEN rs = (ns + 1) // 2 THEN pool_v END) AS median_norm
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "mix_temperature" ->
      """WITH m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT *, CAST(sqrt(CAST(chars AS DOUBLE)) AS DECIMAL(18,6))
        |    AS wt FROM m),
        |r AS (
        |  SELECT *, CAST(wt * 10000 AS DOUBLE) /
        |    CAST(sum(wt) OVER () AS DOUBLE) AS raw
        |  FROM w),
        |b AS (
        |  SELECT *, CAST(floor(raw) AS BIGINT) AS base,
        |    raw - floor(raw) AS rem
        |  FROM r),
        |k AS (
        |  SELECT *, 10000 - sum(base) OVER () AS deficit,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rn
        |  FROM b)
        |SELECT source, n_docs, chars,
        |  base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS target_n
        |FROM k ORDER BY source""".stripMargin,
    "dsir_weight" ->
      s"""WITH $dsirChainCtes
         |SELECT doc_id, n_toks,
         |  ${r6Sql("CAST(w AS DOUBLE)")} AS dsir_sum,
         |  ${r6Sql("CAST(w AS DOUBLE) / n_toks")} AS dsir_avg
         |FROM w ORDER BY doc_id""".stripMargin,
    // Same chain → r6 dsir_avg → the exact-decimal ES key
    // (ln(u)·exp(−clipped avg), both terms pinned DECIMAL(14,10), u from
    // the 48-bit md5 prefix of the doc id) → per-source top-20.
    "dsir_sample" -> {
      // 48-bit hash from 12 md5 hex nibbles, as one BIGINT expression
      // (DuckDB has no hex→int conv; nibble positions mirror Spark's
      // conv(substring(md5, 1, 12), 16, 10) exactly).
      val hExpr = (1 to 12).map { i =>
        val w = 1L << (4 * (12 - i))
        s"(strpos('0123456789abcdef', substring(" +
          s"md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * CAST($w AS BIGINT)"
      }.mkString(" + ")
      s"""WITH $dsirChainCtes,
         |wavg AS (
         |  SELECT doc_id, n_toks,
         |    ${r6Sql("CAST(w AS DOUBLE) / n_toks")} AS dsir_avg
         |  FROM w),
         |keyed AS (
         |  SELECT d.source, a.doc_id, a.n_toks, a.dsir_avg,
         |    CAST(ln((($hExpr) + 0.5) / 281474976710656.0)
         |        AS DECIMAL(14,10)) *
         |      CAST(exp(-greatest(least(a.dsir_avg, $DsirClip),
         |        -$DsirClip)) AS DECIMAL(14,10)) AS es_key
         |  FROM wavg a JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY es_key DESC, doc_id) AS smp_rank FROM keyed)
         |SELECT source, CAST(smp_rank AS BIGINT) AS smp_rank, doc_id,
         |  n_toks, dsir_avg
         |FROM r WHERE smp_rank <= $DsirSampleK
         |ORDER BY source, smp_rank""".stripMargin
    },
    // Identical tokenization (the qtext_wordcount contract) and the
    // identical md5-prefix bucket mapping.
    "feature_hash_audit" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents),
        |b AS (SELECT doc_id, tok, substr(md5(tok), 1, 2) AS bucket
        |      FROM tok WHERE tok <> '')
        |SELECT bucket, count(*) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
        |  min(tok) AS sample_term
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // Identical synthesis (doc_id residues on the RFC 2606 domain) and
    // the same canonicalization rules via regex: lowercase host, strip
    // :443 default port + www., trim trailing slash, keep only the ref
    // param, drop fragments.
    "url_canonical_dedup" ->
      """WITH d AS (SELECT doc_id AS id, source FROM documents),
        |qs AS (
        |  SELECT id, source,
        |    array_to_string(list_filter([
        |      CASE WHEN id % 2 = 0 THEN 'utm_source=feed' || (id % 5)
        |           ELSE '' END,
        |      CASE WHEN id % 7 = 0 THEN 'ref=partner' ELSE '' END,
        |      CASE WHEN id % 13 = 0 THEN 'fbclid=x' || id ELSE '' END
        |    ], x -> x <> ''), '&') AS q
        |  FROM d),
        |raw AS (
        |  SELECT id,
        |    (CASE WHEN id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        |    (CASE WHEN id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |    source || '.example.com' ||
        |    (CASE WHEN id % 11 = 0 THEN ':443' ELSE '' END) ||
        |    '/docs/' || id ||
        |    (CASE WHEN id % 5 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN q <> '' THEN '?' || q ELSE '' END) ||
        |    (CASE WHEN id % 3 = 1 THEN '#sec' || (id % 4) ELSE '' END)
        |      AS url
        |  FROM qs
        |  UNION ALL
        |  SELECT id,
        |    'https://' || source || '.example.com/docs/' || id ||
        |    (CASE WHEN id % 7 = 0 THEN '?ref=partner' ELSE '' END)
        |  FROM d),
        |canon AS (
        |  SELECT
        |    regexp_replace(regexp_replace(lower(
        |      regexp_extract(url, '^https?://([^/?#]+)', 1)),
        |      ':443$', ''), '^www\.', '') AS host,
        |    regexp_replace(
        |      regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
        |      '/$', '') AS path,
        |    regexp_extract(regexp_extract(url, '\?([^#]*)', 1),
        |      '(?:^|&)(ref=[^&]*)', 1) AS ref
        |  FROM raw),
        |c2 AS (
        |  SELECT host, 'https://' || host || path ||
        |    (CASE WHEN ref <> '' THEN '?' || ref ELSE '' END) AS canon_url
        |  FROM canon)
        |SELECT host, count(*) AS n_raw,
        |  CAST(count(DISTINCT canon_url) AS BIGINT) AS n_canonical,
        |  CAST(count(*) - count(DISTINCT canon_url) AS BIGINT) AS n_dupes,
        |  min(canon_url) AS sample_url
        |FROM c2 GROUP BY host ORDER BY host""".stripMargin,
    "incremental_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
        |  FROM documents),
        |hist AS (SELECT DISTINCT h AS hh FROM docs WHERE doc_id % 4 <> 0),
        |batch AS (SELECT * FROM docs WHERE doc_id % 4 = 0),
        |j AS (
        |  SELECT b.doc_id, b.source, b.h,
        |    (hh IS NOT NULL) AS dup_hist,
        |    min(b.doc_id) OVER (PARTITION BY b.h) AS keeper
        |  FROM batch b LEFT JOIN hist ON b.h = hh),
        |c AS (
        |  SELECT *, (NOT dup_hist AND doc_id <> keeper) AS dup_batch
        |  FROM j)
        |SELECT source, count(*) AS n_batch,
        |  CAST(sum(CASE WHEN dup_hist THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rej_hist,
        |  CAST(sum(CASE WHEN dup_batch THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rej_batch,
        |  CAST(sum(CASE WHEN NOT dup_hist AND NOT dup_batch
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "train_test_split" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |           THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |           THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT source, split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS first_doc
        |FROM d GROUP BY source, split
        |ORDER BY source, split""".stripMargin,
    "contamination_overlap" ->
      s"""WITH $gram5Cte,
         |train AS (SELECT DISTINCT h FROM g5 WHERE doc_id % 17 <> 0),
         |ev AS (SELECT doc_id, h FROM g5 WHERE doc_id % 17 = 0)
         |SELECT ev.doc_id, count(*) AS n_ngrams, count(train.h) AS n_hit,
         |  ${r6Sql("CAST(count(train.h) AS DOUBLE) / count(*)")} AS rate
         |FROM ev LEFT JOIN train ON ev.h = train.h
         |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin,
    "lm_bigram_score" ->
      s"""WITH $bigramCte,
         |uni AS (
         |  SELECT w, count(*) AS c1 FROM (
         |    SELECT unnest(ws) AS w FROM words WHERE doc_id % 17 <> 0)
         |  GROUP BY w),
         |vv AS (SELECT count(*) AS v FROM uni),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg
         |       WHERE doc_id % 17 <> 0 GROUP BY w1, w2),
         |terms AS (
         |  SELECT bg.doc_id, CAST(ln(
         |      CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
         |      CAST(coalesce(uni.c1, 0) + vv.v AS DOUBLE))
         |    AS DECIMAL(14,10)) AS term
         |  FROM bg
         |  LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
         |  LEFT JOIN uni ON bg.w1 = uni.w
         |  CROSS JOIN vv
         |  WHERE bg.doc_id % 17 = 0)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  ${r6Sql("CAST(sum(term) AS DOUBLE) / count(*)")} AS avg_ll
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_clf_gate" ->
      s"""WITH $clfGateCtes,
         |gated AS (
         |  SELECT d.lang, d.source, s.score, t.clf_threshold,
         |    (s.score IS NOT NULL AND s.score > t.clf_threshold) AS kept
         |  FROM documents d LEFT JOIN clfscored s ON d.doc_id = s.doc_id
         |  CROSS JOIN clfthr t)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_scored,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${r6Sql("CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)" +
             " / nullif(CAST(sum(CASE WHEN score IS NOT NULL THEN 1 ELSE 0" +
             " END) AS DOUBLE), 0.0)")} AS kept_rate,
         |  ${r6Sql("CAST(sum(CASE WHEN kept THEN" +
             " CAST(score AS DECIMAL(14,8)) END) AS DOUBLE)" +
             " / nullif(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END)" +
             " AS DOUBLE), 0.0)")} AS mean_kept_score,
         |  max(clf_threshold) AS clf_threshold
         |FROM gated GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "quality_lm_gate" ->
      s"""WITH $bigramCte,
         |uni AS (
         |  SELECT w, count(*) AS c1 FROM (
         |    SELECT unnest(ws) AS w FROM words WHERE doc_id % 17 <> 0)
         |  GROUP BY w),
         |vv AS (SELECT count(*) AS v FROM uni),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg
         |       WHERE doc_id % 17 <> 0 GROUP BY w1, w2),
         |terms AS (
         |  SELECT bg.doc_id, CAST(ln(
         |      CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
         |      CAST(coalesce(uni.c1, 0) + vv.v AS DOUBLE))
         |    AS DECIMAL(14,10)) AS term
         |  FROM bg
         |  LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
         |  LEFT JOIN uni ON bg.w1 = uni.w
         |  CROSS JOIN vv),
         |scored AS (
         |  SELECT doc_id,
         |    ${r6Sql("CAST(sum(term) AS DOUBLE) / count(*)")} AS score
         |  FROM terms GROUP BY doc_id),
         |ranked AS (
         |  SELECT score, row_number() OVER (ORDER BY score) AS rn,
         |    count(*) OVER () AS n
         |  FROM scored),
         |thr AS (
         |  SELECT max(CASE WHEN rn = (3 * n + 9) // 10 THEN score END)
         |    AS lm_threshold FROM ranked),
         |gated AS (
         |  SELECT d.lang, d.source, s.score, t.lm_threshold,
         |    (s.score IS NOT NULL AND s.score > t.lm_threshold) AS kept
         |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         |  CROSS JOIN thr t)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_scored,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${r6Sql("CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)" +
             " / nullif(CAST(sum(CASE WHEN score IS NOT NULL THEN 1 ELSE 0" +
             " END) AS DOUBLE), 0.0)")} AS kept_rate,
         |  ${r6Sql("CAST(sum(CASE WHEN kept THEN" +
             " CAST(score AS DECIMAL(14,8)) END) AS DOUBLE)" +
             " / nullif(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END)" +
             " AS DOUBLE), 0.0)")} AS mean_kept_score,
         |  max(lm_threshold) AS lm_threshold
         |FROM gated GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "quantize_embed" ->
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x
         |  FROM embeddings),
         |sc1 AS (
         |  SELECT vec_id, x,
         |    list_max(list_transform(x, e -> abs(e))) AS scale FROM v),
         |g AS (
         |  SELECT vec_id, x, scale,
         |    CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS sc FROM sc1)
         |SELECT vec_id, scale,
         |  CAST(list_sum(list_transform(x,
         |    e -> CAST(floor(e * 127.0 / sc + 0.5) AS BIGINT))) AS BIGINT)
         |    AS q_sum,
         |  CAST(len(list_filter(x,
         |    e -> abs(floor(e * 127.0 / sc + 0.5)) = 127)) AS BIGINT) AS n_sat,
         |  floor(list_reduce(list_transform(x,
         |    e -> $quantSq * $quantSq), (a, b) -> a + b)
         |    * 1000000000 + 0.5) / 1000000000 AS sse
         |FROM g ORDER BY vec_id""".stripMargin,
    "dedup_pipeline_e2e" ->
      s"""WITH RECURSIVE ${TextQ.minhashPairsCtes},
         |adj AS (SELECT a_id AS src, b_id AS dst FROM verified
         |        UNION ALL SELECT b_id, a_id FROM verified),
         |walk(id, r) AS (
         |  SELECT DISTINCT src, src FROM adj
         |  UNION
         |  SELECT a.src, w.r FROM adj a JOIN walk w ON a.dst = w.id),
         |comp AS (SELECT id, min(r) AS cluster FROM walk GROUP BY id),
         |labeled AS (
         |  SELECT d.doc_id, d.n_chars,
         |    coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |ranked AS (
         |  SELECT doc_id, n_chars, cluster,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM labeled)
         |SELECT cluster, count(*) AS n_docs,
         |  min(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
         |  min(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars
         |FROM ranked GROUP BY cluster ORDER BY cluster""".stripMargin,
    "union_by_name_evolve" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |v2 AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 <> 0),
        |m AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
        |SELECT coalesce(o_orderpriority, '<legacy>') AS prio, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS total_price
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin,
    "collate_group" ->
      """WITH mixed AS (
        |  SELECT c_custkey, c_acctbal,
        |    CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
        |         ELSE c_mktsegment END AS seg_m
        |  FROM customer)
        |SELECT lower(seg_m) AS segment, count(*) AS n,
        |  count(DISTINCT seg_m) AS n_forms,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS bal
        |FROM mixed GROUP BY lower(seg_m) ORDER BY segment""".stripMargin,
    "domain_mix_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    (CAST(regexp_extract(source, '(\d+)$', 1) AS INTEGER) % 4) + 1
        |      AS w,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents)
        |SELECT source, doc_id, rk FROM d
        |WHERE rk <= ceil(w * n_src / 4.0)
        |ORDER BY source, rk""".stripMargin,
    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      w -> w <> '')) AS BIGINT) AS tok
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, lang, tok,
        |    sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - tok AS o
        |  FROM toks)
        |SELECT lang, CAST(o // 512 AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS sum_tok,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM off GROUP BY lang, o // 512
        |ORDER BY lang, bin""".stripMargin)
}
