package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import core._

/** Round-4 source-format round-trips as CONTRACT keys (SURVEY.md §2.17) —
  * graduating the csv/json/orc demos from SourcesSpec into the graded,
  * oracle-checked surface, the same move partitioned_scan/bucketed_join
  * made for layouts. Each key writes a slice of a parquet table in the
  * target format, reads it back (explicit schema for the text formats —
  * schema inference is a scan of its own and is banned on the 100 TB
  * path), and aggregates the re-read data; the oracle runs the same
  * aggregate on the ORIGINAL parquet, so a hash-match proves the format
  * round-trip lossless end to end (layout is access path, not semantics).
  *
  * Losslessness notes (why the hash-match is achievable at all):
  *   - Spark writes doubles as their shortest decimal representation and
  *     parses that back to the identical bit pattern (Double.toString /
  *     parseDouble are inverses), so even pre-aggregation double values
  *     survive CSV/JSON exactly.
  *   - Timestamps are carried as ts_us longs (the loader's normalized
  *     form) rather than formatted strings — format-pattern drift can't
  *     touch them.
  *   - ORC is binary columnar: exact by construction; the read-back also
  *     exercises ORC predicate pushdown on the status filter.
  */
object FormatsQ {

  val csvRoundtrip: QFn = (s, dir) => {
    val path = scratch(dir, "lineitem_csv")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        year(col("l_shipdate")).as("ship_year"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType), StructField("ship_year", IntegerType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .groupBy(col("l_returnflag"), col("ship_year"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("l_extendedprice"), 18, 4)).as("sum_price"),
        dbl(round(sum(dec(col("l_quantity"), 14, 4)), 2)).as("sum_qty"))
      .orderBy(col("l_returnflag"), col("ship_year"))
  }

  val jsonRoundtrip: QFn = (s, dir) => {
    val path = scratch(dir, "events_json")
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_us", LongType)))
    s.read.schema(schema).json(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dbl(round(sum(dec(col("value"), 14, 4)), 2)).as("sum_value"),
        min(col("ts_us")).as("min_ts_us"), max(col("ts_us")).as("max_ts_us"))
      .orderBy(col("event_type"))
  }

  val orcRoundtrip: QFn = (s, dir) => {
    val path = scratch(dir, "orders_orc")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .filter(col("o_orderstatus") === "O")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("o_totalprice"), 18, 4)).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** XML round-trip (r5): Spark 4 ships the XML source in sql/core —
    * no external spark-xml jar. Same contract as the text formats:
    * explicit schema on read (inference banned), doubles survive via
    * shortest-repr round-trip, and the aggregate over the re-read rows
    * must hash-match the oracle running on the ORIGINAL parquet. */
  val xmlRoundtrip: QFn = (s, dir) => {
    val path = scratch(dir, "customer_xml")
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .write.mode("overwrite").option("rowTag", "customer")
      .format("xml").save(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.schema(schema).option("rowTag", "customer").format("xml")
      .load(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("c_acctbal"), 14, 2)).as("sum_bal"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy(col("c_mktsegment"))
  }

  /** Small-file compaction (r5) — the housekeeping pass every long-lived
    * 100 TB table needs: a fragmented layout (64 files here, standing in
    * for the thousands a streaming sink or over-parallel writer leaves)
    * is rewritten to a handful of right-sized files with `coalesce`,
    * which PACKS partitions without a shuffle — the whole rewrite is a
    * read + write, no exchange (vs `repartition`, which would shuffle
    * every byte; compaction must be cheaper than the data it tidies).
    * The aggregate runs on the compacted layout and must hash-match the
    * oracle on the ORIGINAL parquet: compaction is access path, not
    * semantics. FormatsSpec asserts the file count actually dropped. */
  val compactSmallFiles: QFn = (s, dir) => {
    val small  = scratch(dir, "orders_small")
    val packed = scratch(dir, "orders_packed")
    // The fragmented input is the PRE-EXISTING condition compaction
    // exists to fix, not part of the compaction — build it once per
    // (JVM, fixture dir) and reuse (the bucketed_join accounting rule:
    // the timed unit is the operation, not its fixture setup). The
    // scratch root is per-JVM unique, so the _SUCCESS check can't alias
    // across processes.
    if (!new java.io.File(small, "_SUCCESS").exists()) {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .repartition(64)
        .write.mode("overwrite").parquet(small)
    }
    s.read.parquet(small).coalesce(2)
      .write.mode("overwrite").parquet(packed)
    s.read.parquet(packed)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("o_totalprice"), 18, 4)).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** The custom DataSource V2 WRITE path as a graded round-trip: the
    * documents table flows through sources/AuditSink (task-temp →
    * driver-publish two-phase commit, JSON-lines parts + manifest), is
    * re-read with an explicit schema, and aggregated per source; the
    * oracle aggregates the ORIGINAL parquet, so a hash-match proves the
    * connector's write protocol lossless end to end. Fresh per-run
    * output dir (UUID): append-mode V2 writes accumulate by design, and
    * repeated bench/determinism invocations must not re-read prior
    * runs' parts. */
  val v2SinkRoundtrip: QFn = (s, dir) => {
    val path = new java.io.File(core.scratchRoot,
      "audit_sink/" + java.util.UUID.randomUUID().toString.take(8))
      .getAbsolutePath
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .write.format("graft.sources.AuditSink")
      .option("path", path).mode("append").save()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // Manifest-driven read: consume exactly the parts the 2PC commit
    // published, never whatever a directory glob happens to see.
    val committed = graft.sources.AuditCommit.committedFiles(
      graft.sources.AuditCommit.fs(path, s.sparkContext.hadoopConfiguration),
      path)
    s.read.schema(schema).json(committed: _*)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy(col("source"))
  }

  /** Dynamic partition overwrite (r8) — the lakehouse partition-level
    * rewrite every partitioned pipeline runs daily: full partitioned
    * write of orders by priority, then a SECOND overwrite-mode write
    * containing ONLY `1-URGENT` rows (filtered to totalprice > 100 000)
    * under `partitionOverwriteMode=dynamic`, which must replace exactly
    * that partition and leave the other four untouched (static mode
    * would truncate the whole table — the production data-loss gotcha
    * this key pins). The re-read aggregate proves partition isolation:
    * the oracle applies the filter to the urgent slice only. Conf is
    * set per-write via option(), not session-wide. Scale: rewriting one
    * partition costs that partition's data, never the table. */
  val dynPartitionOverwrite: QFn = (s, dir) => {
    val path = scratch(dir, "orders_dynpart")
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
    o.write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(path)
    o.filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 100000.0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderpriority").parquet(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    s.read.schema(schema).parquet(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        moneySum(dec(col("o_totalprice"), 18, 4)).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Schema evolution AT REST (r8) — `mergeSchema` over two parquet
    * writer vintages in one directory tree: a legacy batch written
    * without `n_chars` and a current batch with it, read as ONE table
    * (footer-merged superset schema, legacy rows null-extended). This is
    * the scan-side complement to `union_by_name_evolve` (which evolves
    * in-flight relations): a petabyte lake accretes writer schemas over
    * years, and the engine must widen at the FOOTER level without a
    * rewrite. The aggregate separates legacy (null) rows from evolved
    * ones, so a wrong null-extension can't hash-match. Scale note:
    * mergeSchema footer-merges every file's schema at planning — at
    * 100 TB the merged schema comes from the table catalog/registry
    * instead, same widened scan. */
  val mergeSchemaScan: QFn = (s, dir) => {
    val path = scratch(dir, "docs_evolving")
    val d = t(s, dir, "documents")
    d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$path/vintage=legacy")
    d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$path/vintage=current")
    s.read.option("mergeSchema", "true")
      .parquet(s"$path/vintage=legacy", s"$path/vintage=current")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars_new"))
      .orderBy(col("lang"))
  }

  /** Malformed-input policy (r8) — PERMISSIVE CSV ingest with
    * `columnNameOfCorruptRecord`, the dirty-data reality every 100 TB
    * crawl/export ingest faces: six deterministic garbage lines (wrong
    * arity, non-numeric keys) are interleaved with the real rows, the
    * read must load every well-formed row, null-type the bad ones into
    * the corrupt column (never crash, never drop silently), and the
    * audit aggregate proves the exact split. FAILFAST/DROPMALFORMED are
    * policy flips on the same scan. The corrupt column is metadata the
    * scan populates — a quarantine sink would filter on it. */
  val csvMalformedPolicy: QFn = (s, dir) => {
    val path = scratch(dir, "events_badcsv")
    // The oracle pins EXACTLY 6 corrupt rows, so every real row must
    // serialize to a well-formed 3-field line: fail loudly (not
    // data-dependently at hash-compare time) if a key field is NULL
    // (concat_ws would silently drop it → under-arity line) or
    // event_type carries a CSV metacharacter (comma/quote/newline
    // would split or wrap the line).
    val good = t(s, dir, "events")
      .select(when(col("event_id").isNull || col("user_id").isNull ||
          col("event_type").isNull ||
          col("event_type").rlike("[,\"\r\n]"),
        raise_error(lit("csv_malformed_policy: row not CSV-safe " +
          "(null key field or metacharacter in event_type)")))
        .otherwise(concat_ws(",", col("event_id"), col("user_id"),
          col("event_type"))).as("line"))
    // Six single-token lines: too few columns AND an unparseable first
    // field — unambiguously malformed under every CSV dialect. (Spark's
    // PERMISSIVE mode deliberately tolerates EXTRA trailing columns and
    // null-types a failed non-leading field without quarantining the
    // row, so arity-short garbage is the portable corrupt-line shape.)
    val bad = s.createDataFrame(
      java.util.Arrays.asList(
        (0 until 6).map(i => org.apache.spark.sql.Row(s"corrupt#$i")): _*),
      StructType(Seq(StructField("line", StringType))))
    good.unionAll(bad).coalesce(4)
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(path)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNull, col("event_id"))).as("sum_good_ids"))
  }

  /** Malformed-JSON policy (r9) — csv_malformed_policy's JSONL twin, and
    * the deliberate CONTRAST with it: the JSON writer QUOTES every
    * value, so no field content (commas, quotes, newlines-in-strings)
    * can ever make a real row malformed — the staged-good side needs no
    * CSV-safety guard at all, which is exactly why JSONL is the
    * default interchange format for crawl/curation pipelines. Six
    * truncated-object lines are interleaved; the SAME staged file is
    * then read under BOTH policies a production ingest chooses between:
    * PERMISSIVE + `columnNameOfCorruptRecord` (quarantine column, every
    * line survives) and DROPMALFORMED (bad lines silently gone —
    * n_after_drop pins exactly how many). FAILFAST is the third flip,
    * exercised to the thrown-error in FormatsSpec rather than a result
    * row. The two 1-row policy aggregates cross for the report row. */
  val jsonMalformedPolicy: QFn = (s, dir) => {
    val path = scratch(dir, "events_badjson")
    val good = t(s, dir, "events")
      .select(to_json(struct(col("event_id"), col("user_id"),
        col("event_type"))).as("line"))
    val bad = s.createDataFrame(
      java.util.Arrays.asList(
        (0 until 6).map(i =>
          org.apache.spark.sql.Row(s"""{"event_id": $i, "truncated""")): _*),
      StructType(Seq(StructField("line", StringType))))
    good.unionAll(bad).coalesce(4)
      .write.mode("overwrite").text(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("_bad", StringType)))
    val permissive = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(path)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNull, col("event_id"))).as("sum_good_ids"))
    val dropped = s.read
      .schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED")
      .json(path)
      .agg(count(lit(1)).as("n_after_drop"))
    permissive.crossJoin(dropped)
  }

  /** binaryFile source (r9) — the OPAQUE-PAYLOAD ingestion path: Spark's
    * `binaryFile` format is how image/audio/video corpora enter a
    * multimodal pipeline (one row per file: path, length, raw bytes),
    * and this key grades it end to end. Stage: the documents table is
    * laid out as one text file per source partition — repartition on
    * the partition column puts each source in exactly one task,
    * sortWithinPartitions pins the row order, and the TEXT writer is
    * used deliberately because it writes value+'\n' with NO quoting
    * rules, so the staged bytes are exact by construction (no CSV
    * metacharacter hazard — the csv_malformed_policy lesson). Read
    * back as binary: per source, file count, byte length, md5 of the
    * raw content, and line count decoded FROM THE BYTES. The oracle
    * reconstructs the identical byte stream with string_agg — one
    * corrupted byte anywhere in write → listing → binary read →
    * decode breaks the md5 (the multimodal_codec_exec contract, now
    * through a real file-format source instead of a staged column).
    * Scale shape: binaryFile parallelizes over files; the audit is one
    * source-keyed groupBy. The corpus is ASCII by construction (the
    * fixture vocabulary), so byte length == char length on both sides. */
  val binaryfileSource: QFn = (s, dir) => {
    val path = scratch(dir, "docs_binfiles")
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        concat(col("doc_id").cast("string"), lit(","), col("text"))
          .as("value"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .drop("doc_id")
      .write.mode("overwrite").partitionBy("source").text(path)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt").load(path)
      .select(regexp_extract(col("path"), "source=([^/]+)", 1).as("source"),
        col("length"), col("content"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("length")).as("bytes"),
        min(md5(col("content"))).as("content_md5"),
        sum(size(split(col("content").cast("string"), "\n")) - 1)
          .cast("long").as("n_lines"))
      .orderBy(col("source"))
  }

  /** Parquet writer-tuning round-trip (r9) — the storage knobs a 100 TB
    * table is actually written with: zstd column compression (the
    * modern lakehouse default — better ratio than snappy at similar
    * scan cost), a column BLOOM FILTER on the join/point-lookup key
    * (`parquet.bloom.filter.enabled#l_orderkey`, the page-skip
    * structure for selective key probes), and explicit dictionary
    * encoding. All three are PHYSICAL layout choices, so the contract
    * is the formats-family invariant: a selective key-probe aggregate
    * over the tuned layout must hash-match the oracle on the ORIGINAL
    * parquet — compression and index structures are access path, not
    * semantics. FormatsSpec (SourcesSpec family) could additionally
    * read the footer; here the graded surface is the query result. */
  val parquetCodecRoundtrip: QFn = (s, dir) => {
    val path = scratch(dir, "lineitem_zstd")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#l_orderkey", "true")
      .option("parquet.enable.dictionary", "true")
      .parquet(path)
    s.read.parquet(path)
      .filter(col("l_orderkey") % 1000 === 0) // the bloom-served probe shape
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        moneySum(dec(col("l_extendedprice"), 18, 4)).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** STORAGE-PARTITIONED JOIN through the real planner (r15, verdict
    * #3): two V2 tables REPORT their physical layout — every input
    * split holds one `bkt = id % 8` value (`HasPartitionKey`) and the
    * scan declares `KeyGroupedPartitioning(identity(bkt), 8)`
    * (sources/RangeSource bucketed mode). With
    * `spark.sql.sources.v2.bucketing.enabled=true` and join keys
    * covering the partition key, Spark aligns the reported partition
    * values instead of shuffling: the join plans NO Exchange on either
    * side, and the downstream groupBy(bkt) is satisfied by the same
    * reported clustering — join + aggregate fully exchange-free
    * (SourcesSpec pins the plan). This is the V2 generalization of
    * Hive bucketing that Iceberg/Delta bucket transforms ride; at
    * 100 TB it reads two co-partitioned petabyte facts in place where
    * the default plan double-shuffles both. Materialized INSIDE the
    * conf scope (ckpt) so the exchange-free plan is what executes;
    * the session conf is restored either way. */
  val spjCopartitionJoin: QFn = (s, _) => {
    // join keys (bkt, id) are a SUPERSET of the reported partition key
    // (bkt) — same-bkt rows co-reside, so clustering by (bkt, id) is
    // satisfied; Spark only accepts that reasoning with the
    // requireAllClusterKeysForCoPartition guard relaxed.
    core.withConfs(s)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      val a = s.read.format("graft.sources.RangeSource")
        .option("rows", 5000).option("buckets", 8).load()
      val b = s.read.format("graft.sources.RangeSource")
        .option("rows", 3000).option("buckets", 8).load()
      a.as("a").join(b.as("b"),
          col("a.bkt") === col("b.bkt") && col("a.id") === col("b.id"))
        .groupBy(col("a.bkt").as("bkt"))
        .agg(count(lit(1)).as("n"),
          sum(col("a.sq")).as("sum_sq_a"),
          sum(col("b.id")).as("sum_id_b"))
        .orderBy(col("bkt"))
        .ckpt()
    }
  }

  val queries: Map[String, QFn] = Map(
    "spj_copartition_join" -> spjCopartitionJoin,
    "json_malformed_policy" -> jsonMalformedPolicy,
    "parquet_codec_roundtrip" -> parquetCodecRoundtrip,
    "binaryfile_source" -> binaryfileSource,
    "csv_malformed_policy" -> csvMalformedPolicy,
    "merge_schema_scan" -> mergeSchemaScan,
    "dyn_partition_overwrite" -> dynPartitionOverwrite,
    "v2_sink_roundtrip"   -> v2SinkRoundtrip,
    "csv_roundtrip"  -> csvRoundtrip,
    "json_roundtrip" -> jsonRoundtrip,
    "orc_roundtrip"  -> orcRoundtrip,
    "xml_roundtrip"  -> xmlRoundtrip,
    "compact_small_files" -> compactSmallFiles)

  val oracle: Map[String, String] = Map(
    // Closed form of the two synthetic bucketed ranges: the SPJ access
    // path (aligned reported partitions, no shuffle) must be invisible
    // to results.
    "spj_copartition_join" ->
      """WITH a AS (SELECT range AS id, range*range AS sq,
        |    range % 8 AS bkt FROM range(0, 5000)),
        |b AS (SELECT range AS id, range % 8 AS bkt FROM range(0, 3000))
        |SELECT a.bkt, count(*) AS n,
        |  CAST(sum(a.sq) AS BIGINT) AS sum_sq_a,
        |  CAST(sum(b.id) AS BIGINT) AS sum_id_b
        |FROM a JOIN b ON a.bkt = b.bkt AND a.id = b.id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same probe aggregate on the ORIGINAL parquet: zstd + bloom +
    // dictionary must be invisible to query results.
    "parquet_codec_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 1000 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Reconstructs the staged byte stream exactly: doc_id,text lines in
    // doc_id order, each terminated by \n (the text writer's framing).
    "binaryfile_source" ->
      """WITH per AS (
        |  SELECT source,
        |    string_agg(CAST(doc_id AS VARCHAR) || ',' || text, chr(10)
        |      ORDER BY doc_id) || chr(10) AS content,
        |    count(*) AS n_lines
        |  FROM documents GROUP BY source)
        |SELECT source, CAST(1 AS BIGINT) AS n_files,
        |  CAST(strlen(content) AS BIGINT) AS bytes,
        |  md5(content) AS content_md5,
        |  n_lines
        |FROM per ORDER BY source""".stripMargin,
    // The six injected garbage lines must land in the corrupt column —
    // every real row loads, none crash or drop.
    "json_malformed_policy" ->
      """SELECT count(*) + 6 AS n_rows,
        |  CAST(6 AS BIGINT) AS n_corrupt,
        |  count(*) AS n_good,
        |  CAST(sum(event_id) AS BIGINT) AS sum_good_ids,
        |  count(*) AS n_after_drop
        |FROM events""".stripMargin,
    "csv_malformed_policy" ->
      """SELECT count(*) + 6 AS n_rows,
        |  CAST(6 AS BIGINT) AS n_corrupt,
        |  count(*) AS n_good,
        |  CAST(sum(event_id) AS BIGINT) AS sum_good_ids
        |FROM events""".stripMargin,
    // Evolved-scan replay: even docs were written WITHOUT n_chars (null
    // after the footer merge), odd docs with it.
    "merge_schema_scan" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS sum_chars_new
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Partition isolation: the dynamic overwrite must have replaced ONLY
    // the 1-URGENT partition (with its filtered rows) — every other
    // priority keeps the original full slice.
    "dyn_partition_overwrite" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT' OR o_totalprice > 100000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // The same aggregate on the ORIGINAL parquet — the V2 sink round-trip
    // is access path, not semantics; sum_text_len proves the JSON-lines
    // string escaping lossless (newlines/quotes/control chars survive).
    "v2_sink_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "csv_roundtrip" ->
      """SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS sum_price,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(14,4))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, ship_year""".stripMargin,
    "json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE)
        |    AS sum_value,
        |  min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "orc_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS total_price
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "xml_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(14,2))), 2) AS DOUBLE)
        |    AS sum_bal,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "compact_small_files" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS total
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
}
