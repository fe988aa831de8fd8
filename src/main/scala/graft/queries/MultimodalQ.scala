package graft.queries

import org.apache.spark.sql.functions._
import core._

/** Multimodal-column plumbing (builder mandate): media payloads travel as
  * opaque `binary` columns with typed metadata beside them. The corpus has
  * no real media, so the payload is the UTF-8 encoding of `text` and the
  * "decode" step is a clearly-stubbed deterministic feature extractor —
  * byte length, md5 fingerprint, fake width/height/frame-index derived
  * arithmetically from the bytes. The Spark-side plumbing (binary schema,
  * per-row extraction, partition-parallel execution) is real; swapping the
  * stub for an actual image/audio decoder changes only the expressions
  * (or, for native libs, a mapPartitions over the same schema —
  * graft.operators.Multimodal holds that variant).
  */
object MultimodalQ {

  val features: QFn = (s, dir) => {
    val bin = encode(col("text"), "UTF-8")
    t(s, dir, "documents")
      .withColumn("payload", bin)
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        substring(md5(col("payload")), 1, 8).as("fp8"),
        (length(col("payload")) % 64 + 1).cast("long").as("fake_width"),
        (length(col("payload")) % 48 + 1).cast("long").as("fake_height"),
        (col("n_chars") % 10).cast("long").as("frame_idx"))
      .orderBy(col("doc_id"))
  }

  /** Frame sampling + resize plumbing over the stubbed payloads: fake
    * per-doc frame counts from the byte length, uniform stride sampling of
    * ≤ ~4 frames via sequence(), and an aspect-preserving integer resize to
    * fit 32×32 — all integer arithmetic, so engine-exact. A real video
    * decoder changes only the metadata source, not the sampling shape:
    * explode of a bounded per-row index list, embarrassingly parallel. */
  val frameSample: QFn = (s, dir) => {
    val nb = length(encode(col("text"), "UTF-8"))
    t(s, dir, "documents")
      .select(col("doc_id"), nb.as("nb"),
        (nb % 100 + 1).as("n_frames"),
        (nb % 64 + 1).as("w"), (nb % 48 + 1).as("h"))
      .withColumn("stride", greatest(lit(1), expr("n_frames div 4")))
      .withColumn("out_w", expr("(w * 32) div greatest(w, h)").cast("long"))
      .withColumn("out_h", expr("(h * 32) div greatest(w, h)").cast("long"))
      .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
        col("out_w"), col("out_h"),
        explode(sequence(lit(0), col("n_frames") - 1, col("stride")))
          .as("fn"))
      .select(col("doc_id"), col("n_frames"), col("out_w"), col("out_h"),
        col("fn").cast("long").as("frame_no"))
      .orderBy(col("doc_id"), col("frame_no"))
  }

  /** REAL binary-payload codec pipeline (r8) — the decode seam exercised
    * end to end instead of stubbed: each doc's UTF-8 text is
    * DEFLATE-compressed into a genuinely opaque parquet BINARY column
    * (staged to scratch — the "media lake" at rest), read back, and
    * decoded by `operators.Multimodal.decodePayloads` (one Inflater per
    * partition, reset per row — the decoder-amortization lifecycle an
    * image/audio codec swap reuses unchanged); features come from the
    * DECODED bytes. Correctness is bit-exact by construction: the
    * oracle computes the same features from the ORIGINAL text, so one
    * corrupted byte anywhere in encode → binary column → decode breaks
    * the md5 fingerprint. Scale shape: encode and decode are
    * partition-parallel row maps (no shuffle); the only exchange is the
    * final sort. */
  val codecExec: QFn = (s, dir) => {
    val path = scratch(dir, "mm_payloads")
    graft.operators.Multimodal.encodePayloads(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .write.mode("overwrite").parquet(path)
    graft.operators.Multimodal.decodePayloads(s.read.parquet(path))
      .select(col("doc_id"),
        length(encode(col("decoded"), "UTF-8")).cast("long").as("n_bytes"),
        substring(md5(col("decoded")), 1, 8).as("fp8"),
        size(graft.operators.TextOps.tokens(col("decoded"))).cast("long")
          .as("n_toks"))
      .orderBy(col("doc_id"))
  }

  /** aHash-style near-duplicate detection over DECODED payloads (r14,
    * verdict #4) — the image-average-hash layout run through the REAL
    * codec seam: payloads are DEFLATE-compressed to an opaque binary
    * parquet column, read back, decoded by `operators.Multimodal
    * .decodePayloads` (one Inflater per partition), and ONLY the decoded
    * bytes feed the fingerprint — so the oracle (which computes the
    * identical fingerprint from the ORIGINAL text) is bit-exact iff the
    * whole encode → binary → decode roundtrip is lossless, the
    * multimodal_codec_exec grading trick applied to a dedup operator.
    *
    * Fingerprint = the aHash recipe over 16 positional slots: CODEPOINT
    * position p lands in slot p mod 16 and contributes one engine-
    * agnostic byte of md5(codepoint). The split is the native
    * CodepointSplit expression (r15, r14 advisory), not split(str,"") —
    * DuckDB's string_split(text,'') walks codepoints, and the UTF-8
    * byte-boundary walk makes that contract STRUCTURAL on the Spark
    * side rather than inherited from Java-regex Unicode internals
    * (Spark 4.1's regex split happens to agree even on astral chars —
    * pinned in CodepointSplitSpec — but the engine no longer depends on
    * it). Both sides hash identical UTF-8 slices for ALL well-formed
    * text including emoji/astral CJK. Slot bit = 1 iff
    * the slot's mean beats the doc mean (exact integer cross-multiply —
    * safe to doc lengths ~3·10⁷ before BIGINT overflow). A real image
    * aHash swaps "char → md5 byte" for "pixel block → luminance"; the
    * banding, verify, and codec plumbing are unchanged.
    *
    * Candidates come from 2 bands of 8 bits (the simhash_neardup
    * layout): pigeonhole guarantees any pair within Hamming 1 of the
    * 16-bit fingerprint shares an intact band, so the band join is
    * exhaustive for the threshold; verification is one bit_count(xor).
    * Scale shape: decode and fingerprint are linear scans (one md5 per
    * char); candidates track band-bucket collision mass (~n²/2⁸ on an
    * isotropic corpus — at 100 TB band width grows with log₂(n), the
    * embed_neardup knob). */
  val neardup: QFn = (s, dir) => {
    val path = scratch(dir, "mm_payloads_nd")
    graft.operators.Multimodal.encodePayloads(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .write.mode("overwrite").parquet(path)
    val decoded = graft.operators.Multimodal
      .decodePayloads(s.read.parquet(path))
      .filter(length(col("decoded")) >= 1)
    val chars = decoded
      .select(col("doc_id"),
        posexplode(call_function("graft_codepoints", col("decoded")))
          .as(Seq("p", "c")))
      .select(col("doc_id"), (col("p") % 16).as("slot"),
        conv(substring(md5(col("c")), 1, 2), 16, 10).cast("long").as("v"))
    val sa = chars.groupBy(col("doc_id"), col("slot"))
      .agg(sum(col("v")).as("ssum"), count(lit(1)).as("scnt"))
    val da = sa.groupBy(col("doc_id"))
      .agg(sum(col("ssum")).as("tot"), sum(col("scnt")).as("n"))
    val sig = sa.join(da, "doc_id")
      .groupBy(col("doc_id"))
      .agg(sum(expr("CASE WHEN ssum * n > tot * scnt " +
        "THEN shiftleft(1L, 15 - slot) ELSE 0L END")).as("num"))
    val bands = sig.select(col("doc_id"), col("num"),
      explode(array(
        struct(lit(0).as("bi"), expr("num div 256").as("bv")),
        struct(lit(1).as("bi"), (col("num") % 256).as("bv")))).as("b"))
      .select(col("doc_id"), col("num"), col("b.bi"), col("b.bv"))
    bands.select(col("doc_id").as("a_id"), col("num").as("na"),
        col("bi"), col("bv"))
      .join(bands.select(col("doc_id").as("b_id"), col("num").as("nb"),
        col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb")).distinct()
      .withColumn("hamming", expr("bit_count(na ^ nb)").cast("long"))
      .filter(col("hamming") <= 1)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val queries: Map[String, QFn] = Map(
    "multimodal_codec_exec" -> codecExec,
    "multimodal_features" -> features,
    "multimodal_framesample" -> frameSample,
    "multimodal_neardup" -> neardup)

  val oracle: Map[String, String] = Map(
    // The identical fingerprint from the ORIGINAL text — a hash-match
    // proves the DEFLATE roundtrip lossless (the codec_exec trick) AND
    // the banded Hamming pipeline engine-identical.
    "multimodal_neardup" ->
      """WITH ch AS (
        |  SELECT doc_id, generate_subscripts(cs, 1) - 1 AS p,
        |    unnest(cs) AS c
        |  FROM (SELECT doc_id, string_split(text, '') AS cs
        |        FROM documents WHERE len(text) >= 1)),
        |cv AS (
        |  SELECT doc_id, p % 16 AS slot,
        |    CAST((strpos('0123456789abcdef', substring(md5(c), 1, 1)) - 1)
        |      * 16
        |      + (strpos('0123456789abcdef', substring(md5(c), 2, 1)) - 1)
        |      AS BIGINT) AS v
        |  FROM ch),
        |sa AS (
        |  SELECT doc_id, slot, CAST(sum(v) AS BIGINT) AS ssum,
        |    count(*) AS scnt
        |  FROM cv GROUP BY doc_id, slot),
        |da AS (
        |  SELECT doc_id, CAST(sum(ssum) AS BIGINT) AS tot,
        |    CAST(sum(scnt) AS BIGINT) AS n
        |  FROM sa GROUP BY doc_id),
        |sig AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN ssum * n > tot * scnt
        |      THEN (1 << (15 - slot)) ELSE 0 END) AS BIGINT) AS num
        |  FROM sa JOIN da USING (doc_id) GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, num, 0 AS bi, num // 256 AS bv FROM sig
        |  UNION ALL
        |  SELECT doc_id, num, 1 AS bi, num % 256 AS bv FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.num AS na, b.num AS nb
        |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
        |  WHERE a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(na, nb)) AS BIGINT)
        |  AS hamming
        |FROM cand WHERE bit_count(xor(na, nb)) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
    // Same features from the ORIGINAL text — a hash-match proves the
    // DEFLATE round-trip through the binary column bit-lossless.
    "multimodal_codec_exec" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(md5(text), 1, 8) AS fp8,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> w <> '')) AS BIGINT) AS n_toks
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substring(md5(text), 1, 8) AS fp8,
        |  CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS fake_width,
        |  CAST(octet_length(encode(text)) % 48 + 1 AS BIGINT) AS fake_height,
        |  CAST(n_chars % 10 AS BIGINT) AS frame_idx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_framesample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
        |d AS (
        |  SELECT doc_id, nb % 100 + 1 AS n_frames,
        |    nb % 64 + 1 AS w, nb % 48 + 1 AS h
        |  FROM m),
        |p AS (
        |  SELECT doc_id, n_frames, w, h,
        |    greatest(1, n_frames // 4) AS stride,
        |    (w * 32) // greatest(w, h) AS out_w,
        |    (h * 32) // greatest(w, h) AS out_h
        |  FROM d)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
        |  CAST(unnest(range(0, n_frames, stride)) AS BIGINT) AS frame_no
        |FROM p ORDER BY doc_id, frame_no""".stripMargin)
}
