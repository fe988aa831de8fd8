package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import core._

/** Event-time-timer session processor behind `stream_timer_exec`: the
  * first surviving row for a key arms a timer at that batch's minimum
  * event time + 2 h; rows accumulate an exact count until the watermark
  * passes the expiry, when the session (user, count, expiry) is emitted
  * and state cleared — later rows start a fresh session. Everything is
  * integer event-time arithmetic, so the emission set is a pure
  * function of (batch assignment, watermark sequence), both of which
  * the staged replay pins. */
class TimerSessionProcessor
  extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var nState: ValueState[Long] = _
  @transient private var expState: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    nState = getHandle.getValueState[Long](
      "n", Encoders.scalaLong, TTLConfig.NONE)
    expState = getHandle.getValueState[Long](
      "exp", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val armed = expState.exists()
    var n = if (nState.exists()) nState.get() else 0L
    var firstTs = Long.MaxValue
    rows.foreach { r => n += 1; firstTs = math.min(firstTs, r._2) }
    nState.update(n)
    if (!armed && firstTs != Long.MaxValue) {
      val expiry = firstTs + 7200000L
      expState.update(expiry)
      getHandle.registerTimer(expiry)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val n = if (nState.exists()) nState.get() else 0L
    val expiry = if (expState.exists()) expState.get() else 0L
    nState.clear()
    expState.clear()
    Iterator((key, n, expiry))
  }
}

/** Cumulative (event count, exact scaled value sum) per user — the
  * transformWithState processor behind `stream_tws_exec` and, seeded,
  * `stream_init_state_exec`. The value arrives pre-scaled to an exact
  * BIGINT (decimal(14,4) · 10⁴), so the running sum is integer
  * arithmetic: order-independent within a batch by construction, which
  * is what lets a custom stateful operator carry a hash-checked oracle
  * at all. With an initial state, `handleInitialState` lands a batch
  * job's final per-user totals in each key's state BEFORE the first
  * micro-batch and the stream continues the accumulation — the
  * lambda-architecture handoff at scale (backfill batch → live stream)
  * without replaying history through the stream. Without one (plain
  * `transformWithState`), the handler is never called. */
class CumTotalsWithInitProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
    Long, (Long, Long), (Long, Long, Long), (Long, Long)] {
  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)](
      "cum_totals", Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInitialState(
      key: Long, initial: (Long, Long),
      timerValues: TimerValues): Unit =
    totals.update(initial)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, sv) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { r => n += 1; sv += r._2 }
    totals.update((n, sv))
    Iterator((key, n, sv))
  }
}

/** CDC fold behind `stream_cdc_exec`: state is the CURRENT row image per
  * key — (n_ops applied, alive flag, last upsert ts) — overwritten (not
  * accumulated) by each op, with event_type = 'error' read as the DELETE
  * tombstone (alive → 0, image zeroed; the op counter survives as the
  * audit trail, so emissions stay strictly increasing per key and the
  * output is a set). Within a micro-batch ops apply in (ts_us, event_id)
  * EVENT order — sorted explicitly, because the rows iterator carries
  * arrival order, which is not deterministic and must never decide which
  * op wins a batch. The per-(key, batch) sort is bounded by that key's
  * batch volume — the standard CDC-fold shape at any scale. */
class CdcFoldProcessor
  extends StatefulProcessor[Long, (Long, String, Long, Long),
    (Long, Long, Long, Long)] {
  @transient private var st: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long)](
      "cdc_image", Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var (n, alive, ts) = if (st.exists()) st.get() else (0L, 0L, 0L)
    rows.toArray.sortBy(r => (r._3, r._4)).foreach { r =>
      n += 1
      if (r._2 == "error") { alive = 0L; ts = 0L }
      else { alive = 1L; ts = r._3 }
    }
    st.update((n, alive, ts))
    Iterator((key, n, alive, ts))
  }
}

/** ListState + MapState through the real engine — the two
  * transformWithState state primitives ValueState/timer keys don't touch,
  * in the oracle-graded contract. Per user:
  *   - `log: ListState[Long]` appends each event's exact scaled value —
  *     the per-key ordered event log (the shape behind replayable
  *     feature windows / session payloads at scale);
  *   - `type_counts: MapState[String, Long]` counts events per type —
  *     per-key sub-keyed state without serializing a whole map per
  *     update (the point of MapState over ValueState[Map]).
  * Each batch a user appears in emits (user, list length, list sum,
  * distinct types so far). All three are order-independent within a
  * batch (count/integer-sum/set-size), so the staged 5-batch replay
  * makes the emission set exact; list length strictly increases per
  * appearance, so the output is a set and the hash can't see engine
  * arrival order. The full-list rescan per emission is the GRADING
  * construction (it proves the list actually persisted across batches
  * and state-store commits); a production processor tracking only
  * aggregates would carry them in ValueState and keep ListState for the
  * payload replay path. */
class ListMapAuditProcessor
  extends StatefulProcessor[Long, (Long, String, Long), (Long, Long, Long, Long)] {
  @transient private var log: org.apache.spark.sql.streaming.ListState[Long] = _
  @transient private var typeCounts:
    org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    log = getHandle.getListState[Long](
      "log", Encoders.scalaLong, TTLConfig.NONE)
    typeCounts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, String, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    // Batch the state traffic (r16, guide §1.2 per-task work): one
    // appendList per (key, batch) instead of an appendValue JNI
    // round-trip per row, and one MapState read+write per DISTINCT type
    // per batch instead of per row — the state contents and emissions
    // are byte-identical (appendList preserves arrival order; the local
    // fold computes the same per-type increments).
    val vals = scala.collection.mutable.ArrayBuffer[Long]()
    val typeInc = scala.collection.mutable.LinkedHashMap[String, Long]()
    rows.foreach { r =>
      vals += r._3
      typeInc(r._2) = typeInc.getOrElse(r._2, 0L) + 1L
    }
    if (vals.nonEmpty) log.appendList(vals.toArray)
    typeInc.foreach { case (t, inc) =>
      val c = if (typeCounts.containsKey(t)) typeCounts.getValue(t) else 0L
      typeCounts.updateValue(t, c + inc)
    }
    var n = 0L
    var sv = 0L
    log.get().foreach { v => n += 1; sv += v }
    val types = typeCounts.keys().size.toLong
    Iterator((key, n, sv, types))
  }
}

/** Structured-Streaming EXECUTION as oracle-checked contract keys
  * (SURVEY.md §2.19) — closing the round-4 verdict's largest unverified
  * surface: §2.9 proved the *semantics* of the stream operators through
  * their batch twins, but no CORRECTNESS row ever drove `readStream`.
  * These keys run the real streaming engine end to end — file source →
  * micro-batch execution (`Trigger.AvailableNow`) → stateful operator →
  * sink → re-read — and hash-check the result against the same DuckDB
  * oracles that grade the batch formulations. A green row here proves the
  * streaming ENGINE (source tracking, state store, sink commit), not just
  * the window arithmetic.
  *
  * Execution shape per key: the key builds its streaming plan and hands
  * it to [[runStream]], the one place a StreamQ query starts. It gives
  * every invocation a FRESH run dir `<scratchRoot>/<tag>/<id>/{ckpt,out}`
  * (so the timed/benched unit is the whole streaming execution, and
  * repeated runs can't alias through stale sink state), scopes the
  * session confs of the run, drains the input with `AvailableNow`, and
  * picks the sink from the output mode:
  *   - append → the file sink (parquet, or AuditSink for the DSv2 write
  *     key). Append keys project only set-valued columns (the dedup key,
  *     the joined event ids, ...), so arrival order (which the engine
  *     does not define) can't leak into the hash;
  *   - complete → `foreachBatch` overwrite. The file sink is append-only
  *     by design; Complete + overwrite-per-batch is the standard
  *     bounded-cardinality pattern — state is one row per (window × type)
  *     or session, NOT per event, so it holds at 100 TB exactly where the
  *     batch twin's shuffle does;
  *   - update → `foreachBatch` append, keeping every emission gradable.
  * Inputs come from two stagers: `sourceEvents` copies the events
  * parquet into a per-(JVM, fixture dir) inbox (file streams read
  * directories), and [[stage]] lands the deterministic md5/ntile batch
  * split one file per micro-batch for the replay keys.
  *
  * Each plan shape (the hourly tumble, dedup, sessions, the click/view
  * joins, the running-count and transformWithState plans) is declared
  * once as a builder over events DataFrames. StreamingSpec and
  * WatermarkTieSpec drive the same
  * builders over fixed-clock MemoryStream inputs, so they check the
  * plans the keys run: late data / watermark drops are graded both by
  * those exact-tie tests and by `late_data_exec` (r6), which drives the
  * watermark through the real engine deterministically enough to carry
  * a DuckDB oracle — see its doc for the construction.
  */
object StreamQ {

  /** Stage `$dir/events.parquet` into a per-(JVM, dir) inbox directory —
    * the file-source layout — once; later invocations reuse it. */
  private def inbox(s: SparkSession, dir: String): String = synchronized {
    val box = new java.io.File(scratch(dir, "stream_inbox"))
    val staged = new java.io.File(box, "events.parquet")
    if (!staged.exists()) {
      box.mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), staged.toPath)
    }
    box.getAbsolutePath
  }

  /** The streaming events source with the same ts normalization as the
    * batch loader: both physical vintages (Long nanos / timestamp[us] NTZ)
    * converge on `ts: TimestampType` + `ts_us: Long` — Tables.scala has
    * the vintage rationale. */
  private[graft] def sourceEvents(s: SparkSession, dir: String): DataFrame = {
    // Resolving the batch table first also sets the nanosAsLong conf the
    // raw schema read depends on (Tables.apply).
    t(s, dir, "events")
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeEventsTs(
      s.readStream.schema(raw).parquet(inbox(s, dir)), raw("ts").dataType)
  }

  /** The deterministic batch split shared by every replay key and its
    * oracle: events in md5(event_id) order — SCRAMBLED relative to event
    * time — cut into `n` ntile batches, numbered in column `b`. */
  private def batchSplit(s: SparkSession, dir: String, n: Int): DataFrame =
    t(s, dir, "events").withColumn("b", ntile(n).over(
      org.apache.spark.sql.expressions.Window
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))))

  /** Stage `batches` of the n-way split into `box`, one single-file
    * micro-batch each (`batch-0N.parquet`), calling `landed(N)` once
    * batch N is in place. File order is pinned by both name and
    * modification time, so `maxFilesPerTrigger=1` replays the same batch
    * sequence every run. Staging is a one-time dev-scale sort; at
    * production scale the equivalent is the ingest log's own arrival
    * order — the point here is determinism, not the staging plan.
    *
    * Idempotent re-entry: a partial staging (crash/interrupt mid-loop)
    * must not wedge the keys sharing an inbox for the rest of the JVM, so
    * each batch is written to `_tmpN/` with overwrite, its part file is
    * moved over any earlier debris with REPLACE_EXISTING, and completion
    * is marked by `_staged` only after every batch landed — a retry
    * restages cleanly. The file source skips `_`-prefixed names. */
  private def stage(s: SparkSession, dir: String, box: java.io.File,
      n: Int, batches: Seq[Int])(landed: Int => Unit = _ => ()): String = {
    val done = new java.io.File(box, "_staged")
    if (!done.exists()) {
      box.mkdirs()
      // one sort, checkpointed for the filtered writes, released after
      val batched = batchSplit(s, dir, n).ckpt()
      try {
        for (i <- batches) {
          val tmp = new java.io.File(box, s"_tmp$i")
          batched.filter(col("b") === i).drop("b")
            .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
          val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
          val dest = new java.io.File(box, f"batch-$i%02d.parquet")
          java.nio.file.Files.move(part.toPath, dest.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dest.setLastModified(1700000000000L + i * 60000L)
          tmp.listFiles().foreach(_.delete()); tmp.delete()
          landed(i)
        }
        java.nio.file.Files.createFile(done.toPath)
      } finally batched.unpersist()
    }
    box.getAbsolutePath
  }

  /** The replay keys' stream source: `batches` of the 5-way split, staged
    * once per (JVM, dir) into the inbox `tag`, read one file per trigger. */
  private def replay(s: SparkSession, dir: String, tag: String = "late_inbox",
      batches: Seq[Int] = 1 to 5): DataFrame = {
    val box = synchronized {
      stage(s, dir, new java.io.File(scratch(dir, tag)), 5, batches)()
    }
    s.readStream.schema(s.read.parquet(box).schema)
      .option("maxFilesPerTrigger", "1").parquet(box)
  }

  /** A fresh run dir `<scratchRoot>/<tag>/<8-char id>`. */
  private def runDir(tag: String): java.io.File =
    new java.io.File(core.scratchRoot,
      s"$tag/" + java.util.UUID.randomUUID().toString.take(8))

  /** Run `plan` to termination with `Trigger.AvailableNow` and a fresh
    * checkpoint at `run/ckpt`, writing `run/out`; returns that output path
    * and the terminated query (whose `recentProgress` stays readable). The
    * sink follows from `mode`: append → the file sink of `format`;
    * complete → foreachBatch overwrite, so the final batch leaves exactly
    * the converged result; update → foreachBatch append of each batch's
    * changed groups.
    *
    * The query starts in one conf scope, restored in finally on success
    * and failure alike:
    *   - `spark.sql.shuffle.partitions` = `parts`. The state-store count
    *     equals the shuffle partitions and is frozen into the checkpoint
    *     at the first batch, and every micro-batch pays per-store
    *     open/commit overhead, so a stateful query sizes partitions to its
    *     state, not to the batch session's scan parallelism (r7
    *     re-measure: the single-data-batch join pays per-store open/commit
    *     on BOTH sides per batch, so 8 → 4 saved ~0.5 s/key at sf0.1; at
    *     real scale the knob rises with state volume). Each run starts a
    *     fresh checkpoint, so the choice is safe per query. Goes through
    *     core.withShuffleParts and its in-flight guard.
    *   - `spark.sql.streaming.checkpointFileManagerClass` = the
    *     FileSystem-based checkpoint manager. Spark's default for `file:`
    *     is FileContext-based, and without native Hadoop its atomic rename
    *     (ChecksumFs.renameInternal → getFileLinkStatus → FileUtil.readLink)
    *     starts a `readlink` child process for every offset, commit,
    *     source-log, state-delta and schema file and every `.crc`. The
    *     FileSystem manager renames through RawLocalFileSystem.rename, a
    *     POSIX rename, which is atomic on the local disk where every
    *     StreamQ checkpoint lives (under core.scratchRoot). Spark's
    *     checkpoint checksums still wrap it, for state files only: each
    *     state-store `N.delta` gets an `N.delta.crc`, verified when a
    *     restart replays it; offsets, commits, source logs, metadata and
    *     schema files carry only Hadoop's local `.N.crc`. Runs write no
    *     `N.snapshot` (snapshots come from background maintenance), so a
    *     restart's "No checksum file found for …/1.snapshot" WARN is a
    *     probe for a missing file, under either manager.
    *   - `spark.sql.artifact.isolation.enabled` = false. Each query runs
    *     in a clone of the session, and the clone reads this conf when it
    *     is created at start. With isolation on, every job of the clone
    *     carries the clone's fresh session id, and the executor builds a
    *     new class loader per id. Spark's codegen cache is keyed by the
    *     context class loader, so every run compiled its generated code
    *     again (20 compiles on the full outer join) and loaded new classes
    *     for the JIT to compile again. StreamQ adds no jars, files or
    *     classes to any session, so isolation has nothing to isolate;
    *     tasks use the executor's default class loader.
    *   - with `rocksDb`, the RocksDB state-store provider — the one
    *     transformWithState requires (and the one that holds 100 TB
    *     state) — with changelog checkpointing (r16): per-batch commit
    *     uploads the DELTA instead of a full RocksDB snapshot, so commit
    *     cost is ∝ batch updates rather than ∝ state size (snapshots
    *     amortize in background maintenance). Values unchanged — only the
    *     checkpoint substrate differs. Under the FileSystem checkpoint
    *     manager, changelog on was faster than off on all five RocksDB
    *     keys (sf0.1, 4 vCPU, 4 JVMs per side; stream_init_state_exec
    *     median 2.23 s on vs 2.42 s off). */
  private[graft] def runStream(s: SparkSession, tag: String, mode: String,
      parts: Int = 4, rocksDb: Boolean = false, format: String = "parquet")(
      plan: DataFrame, run: java.io.File = runDir(tag))
      : (String, StreamingQuery) = {
    val out = new java.io.File(run, "out").getAbsolutePath
    val rocks = if (!rocksDb) Nil else Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true")
    core.withShuffleParts(s, parts) {
      core.withConfs(s)(Seq(
        "spark.sql.streaming.checkpointFileManagerClass" ->
          ("org.apache.spark.sql.execution.streaming.checkpointing." +
            "FileSystemBasedCheckpointFileManager"),
        "spark.sql.artifact.isolation.enabled" -> "false") ++ rocks: _*) {
        val w = plan.writeStream.outputMode(mode)
        val sink =
          if (mode == "append") w.format(format).option("path", out)
          else {
            val save = if (mode == "complete") "overwrite" else "append"
            w.foreachBatch { (b: DataFrame, _: Long) =>
              // NOT coalesce(1) (r16 — tried and REVERTED): coalesce on the
              // batch view collapses the Complete-mode state-store restore
              // into one task (narrow dependency), measured +50% on
              // range_stream_exec warm; the 8-file-per-batch commit it
              // would save is not the bottleneck.
              b.write.mode(save).parquet(out); ()
            }
          }
        val q = sink
          .option("checkpointLocation",
            new java.io.File(run, "ckpt").getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (out, q)
      }
    }
  }

  /** [[runStream]] to parquet, re-read as a batch DataFrame. */
  private def streamed(s: SparkSession, tag: String, mode: String,
      parts: Int = 4, rocksDb: Boolean = false)(plan: DataFrame): DataFrame =
    s.read.parquet(runStream(s, tag, mode, parts, rocksDb)(plan)._1)

  // The streaming plan shapes, declared once over events DataFrames
  // (`ts`, `user_id`, `event_type`, `value`, `event_id`). The keys run them
  // over their file sources; StreamingSpec and WatermarkTieSpec run the
  // same builders over MemoryStream inputs.

  /** Hourly tumbling count per `key` (`bucket_ts` in epoch seconds),
    * plus the exact decimal(14,4) `sum_value` when `withSum`. */
  private[graft] def hourly(events: DataFrame, key: String = "event_type",
      withSum: Boolean = false): DataFrame = {
    val sumValue =
      if (withSum) Seq(dbl(sum(dec(col("value"), 14, 4))).as("sum_value"))
      else Nil
    events.groupBy(window(col("ts"), "1 hour"), col(key))
      .agg(count(lit(1)).as("n"), sumValue: _*)
      .select(Seq(unix_timestamp(col("window.start")).as("bucket_ts"),
        col(key), col("n")) ++
        (if (withSum) Seq(col("sum_value")) else Nil): _*)
  }

  /** `late_data_exec`'s plan: [[hourly]] with `sum_value` under a 1 h
    * watermark, so append mode emits a window once the watermark passes
    * its end and drops rows whose window already closed. */
  private[graft] def lateData(events: DataFrame): DataFrame =
    hourly(events.withWatermark("ts", "1 hour"), withSum = true)

  /** One row per (user_id, event_type, hour bucket) by
    * `dropDuplicatesWithinWatermark` under a 1-day watermark on the
    * bucket, which every occurrence of a key shares. */
  private[graft] def hourlyDedup(events: DataFrame): DataFrame =
    events.withColumn("bucket", date_trunc("hour", col("ts")))
      .select(col("user_id"), col("event_type"), col("bucket"))
      .withWatermark("bucket", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("bucket")).as("bucket_ts"))

  /** Clicks ⋈ views, the input of every interval-join key: the click
    * rows of `clicks` and the view rows of `views` (each side its own
    * source) carry 8 h watermarks, and the join carries the time-bound
    * range condition (views in the 4 hours up to each click, on
    * user_id), so state for both inputs is provably evictable.
    * `clickValue` adds the click's `value` as `cval` —
    * stream_join_agg_exec's sum input; every other key keeps it out of
    * the join state. */
  private[graft] def clickViewJoin(clicks: DataFrame, views: DataFrame,
      how: String, clickValue: Boolean = false): DataFrame = {
    val c = clicks
      .filter(col("event_type") === "click")
      .select(Seq(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts")) ++
        (if (clickValue) Seq(col("value").as("cval")) else Nil): _*)
      .withWatermark("cts", "8 hours")
    val v = views
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("ts").as("vts"))
      .withWatermark("vts", "8 hours")
    c.join(v,
      col("user_id") === col("vuser") &&
        col("vts") >= col("cts") - expr("INTERVAL 4 HOURS") &&
        col("vts") <= col("cts"),
      how)
  }

  /** [[clickViewJoin]] feeding hourly windows on the click time: pair
    * count and exact click-value sum per window. */
  private[graft] def joinAgg(clicks: DataFrame, views: DataFrame)
      : DataFrame =
    clickViewJoin(clicks, views, "inner", clickValue = true)
      .groupBy(window(col("cts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        dbl(sum(dec(col("cval"), 14, 4))).as("sum_click_value"))
      .select(unix_timestamp(col("window.start")).as("bucket_ts"),
        col("n"), col("sum_click_value"))

  /** Hourly click counts ⋈ hourly view counts on window equality, each
    * aggregate under an 8 h watermark on its own side. */
  private[graft] def aggJoin(clicks: DataFrame, views: DataFrame)
      : DataFrame = {
    val c = clicks
      .filter(col("event_type") === "click")
      .select(col("ts").as("cts"))
      .withWatermark("cts", "8 hours")
      .groupBy(window(col("cts"), "1 hour").as("cw"))
      .agg(count(lit(1)).as("n_clicks"))
    val v = views
      .filter(col("event_type") === "view")
      .select(col("ts").as("vts"))
      .withWatermark("vts", "8 hours")
      .groupBy(window(col("vts"), "1 hour").as("vw"))
      .agg(count(lit(1)).as("n_views"))
    c.join(v, col("cw") === col("vw"))
      .select(unix_timestamp(col("cw.start")).as("bucket_ts"),
        col("n_clicks"), col("n_views"))
  }

  /** 30-minute-gap session windows per user with their event count. */
  private[graft] def sessions(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** Per-user running event count in `flatMapGroupsWithState`, emitting
    * (user_id, cum_events) in each batch the user appears in. */
  private[graft] def runningCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((uid, total))
      }
      .toDF("user_id", "cum_events")
  }

  /** The exact value column of the transformWithState keys: decimal(14,4)
    * scaled to BIGINT units, so state sums are integer arithmetic. */
  private def scaledValue = (dec(col("value"), 14, 4) * 10000).cast("long")

  /** Per-user cumulative (cum_events, cum_scaled) in
    * [[CumTotalsWithInitProcessor]], started from `seed`'s per-user
    * (count, scaled sum) when given. */
  private[graft] def cumTotals(events: DataFrame,
      seed: Option[Dataset[(Long, Long, Long)]] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val byUser = events.select(col("user_id"), scaledValue.as("v"))
      .as[(Long, Long)].groupByKey(_._1)
    val p = new CumTotalsWithInitProcessor
    seed.fold(byUser.transformWithState(p, TimeMode.None(),
        OutputMode.Append())) { init =>
      byUser.transformWithState(p, TimeMode.None(), OutputMode.Append(),
        init.groupByKey(_._1).mapValues(t => (t._2, t._3)))
    }.toDF("user_id", "cum_events", "cum_scaled")
  }

  /** Event-time sessions in [[TimerSessionProcessor]] under a 1 h
    * watermark: (user_id, n_events, expiry_ms) once a timer fires. */
  private[graft] def timerSessions(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "n_events", "expiry_ms")
  }

  /** Per-user ListState/MapState audit in [[ListMapAuditProcessor]]:
    * (user_id, cum_events, cum_scaled, n_types) per batch with rows. */
  private[graft] def listMapAudit(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), scaledValue.as("v"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new ListMapAuditProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "cum_events", "cum_scaled", "n_types")
  }

  /** qtumble_hourly's aggregation executed BY the streaming engine;
    * oracle is qtumble_hourly's SQL verbatim. */
  val streamTumbleExec: QFn = (s, dir) =>
    streamed(s, "stream_tumble", "complete", 8)(
      hourly(sourceEvents(s, dir), withSum = true))
      .orderBy(col("bucket_ts"), col("event_type"))

  /** Streaming global TOP-K (r9) — ORDER BY + LIMIT on top of a stateful
    * aggregation, the leaderboard topology ("busiest hours right now"),
    * and a real OUTPUT-MODE SEMANTICS key: Spark permits a global sort
    * on a streaming Dataset ONLY in Complete mode (append/update reject
    * it at analysis time — an unbounded stream has no final order, but a
    * complete-state re-emission does). Each micro-batch re-ranks the
    * full aggregate state and overwrites the sink with the current
    * top-20; the converged final batch must equal the batch ranking,
    * which is what the hash-match proves. Ties carry the full
    * (n DESC, bucket_ts, event_type) total order so the top-20 SET is
    * deterministic. Downstream of the windowed agg the sort runs on
    * hours×types rows — bounded state at any event volume. */
  val streamTopkExec: QFn = (s, dir) =>
    streamed(s, "stream_topk", "complete", 8)(
      hourly(sourceEvents(s, dir))
        .orderBy(col("n").desc, col("bucket_ts"), col("event_type"))
        .limit(20))
      .orderBy(col("n").desc, col("bucket_ts"), col("event_type"))

  /** Native session_window executed by the streaming engine; oracle is
    * the lag/cumsum sessionization (session_window_native's contract). */
  val streamSessionExec: QFn = (s, dir) =>
    streamed(s, "stream_session", "complete", 8)(
      sessions(sourceEvents(s, dir)))
      .orderBy(col("user_id"), col("start_us"))

  /** Sliding 1 h / 15 m windows executed by the streaming engine — each
    * event merges into 4 overlapping window states (state cardinality =
    * windows × types, bounded like the tumble key); oracle is
    * `win_sliding`'s SQL verbatim: same answer, the engine's overlapping
    * window assignment did the computing. */
  val streamSlidingExec: QFn = (s, dir) =>
    streamed(s, "stream_sliding", "complete", 8)(
      sourceEvents(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec(col("value"), 14, 4))).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value")))
      .orderBy(col("win_start"), col("event_type"))

  /** UPDATE output mode through the real engine — the third and last
    * output mode (§2.19 already grades Append and Complete): each
    * micro-batch emits ONLY the groups that changed, carrying their new
    * running aggregate — the mode a live dashboard or upsert sink
    * consumes. Over the deterministic 5-batch replay the emission set is
    * an exact rule: one row per (window, type, batch-with-rows) with the
    * cumulative count through that batch — which the oracle replays. No
    * watermark, so no drop/eviction nondeterminism; counts strictly
    * increase per emission, so the output is a set and within-batch
    * arrival order cannot reach the hash. foreachBatch appends each
    * batch's update set — the streaming-upsert pattern (at scale the
    * sink is a keyed store; the append log here keeps the emissions
    * themselves gradable). */
  val streamUpdateExec: QFn = (s, dir) =>
    streamed(s, "update_exec", "update")(hourly(replay(s, dir)))
      .orderBy(col("bucket_ts"), col("event_type"), col("n"))

  /** Streaming dropDuplicates state → append-mode FILE sink (the real
    * streaming parquet sink with its _spark_metadata commit log). Output
    * projects only the dedup key, so the engine's arrival-order choice of
    * representative row cannot reach the hash. */
  val streamDedupExec: QFn = (s, dir) =>
    streamed(s, "stream_dedup", "append", 8)(
      sourceEvents(s, dir)
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")))
      .orderBy(col("user_id"), col("event_type"))

  /** An interval join to the file sink, re-read as its (click_id,
    * view_id) set. */
  private def joinPairs(s: SparkSession, dir: String, tag: String,
      how: String): DataFrame =
    streamed(s, tag, "append")(
      clickViewJoin(sourceEvents(s, dir), sourceEvents(s, dir), how)
        .select(col("click_id"), col("view_id")))
      .orderBy(col("click_id"), col("view_id"))

  /** Stream-stream interval join through the real engine — the stateful
    * symmetric hash join, the hardest streaming operator: clicks ⋈ views
    * on user_id with views in the 4 hours before each click (the
    * batch `interval_join_10m` shape at a window dense enough to grade —
    * 159 pairs at sf0.01 — executed by streaming). Both
    * sides carry watermarks and the join carries the time-bound range
    * condition, so state for both inputs is provably evictable — the
    * production pattern; without the bound, join state grows without
    * limit at 100 TB/day. Append mode + file sink; output projects only
    * the two event ids (a set — arrival order can't reach the hash).
    * Single AvailableNow batch over the staged file ⇒ no row can be
    * late relative to the watermark, so the on-time path is exactly the
    * batch join and the DuckDB oracle grades it. */
  val streamJoinExec: QFn = (s, dir) =>
    joinPairs(s, dir, "stream_join", "inner")

  /** Stream-stream LEFT OUTER interval join through the real engine —
    * the operator that completes the §2.19 join family. Inner results
    * behave exactly like `stream_join_exec`; the new surface is the
    * NULL-EXTENDED path: a click with no qualifying view may only be
    * emitted once the watermark proves no matching view can still
    * arrive (state eviction), because emitting earlier could produce a
    * retraction append mode cannot express. That makes outer results
    * inherently watermark-dependent — the production gotcha this key
    * pins: clicks newer than the final watermark are STILL IN STATE
    * when the query drains and are never null-emitted.
    *
    * Determinism: single AvailableNow data batch (no row is late), so
    * the on-time inner join is the batch join; the closing no-data
    * batch advances the watermark to global-max (ms-truncated) − 8 h,
    * and the engine null-emits exactly the unmatched clicks whose
    * cts < that final watermark (strict — same boundary rule as the
    * late-input filter; the state eviction predicate is `cts < wm`
    * since the latest qualifying view has vts = cts). The oracle
    * replays that rule; output (click_id, view_id-nullable) is a set. */
  val streamOuterJoinExec: QFn = (s, dir) =>
    joinPairs(s, dir, "stream_ojoin", "left_outer")

  /** Stream-stream FULL OUTER interval join through the real engine
    * (r10) — the remaining outer topology. Inner results = the batch
    * join; the null-extension rule now fires on BOTH sides, and the two
    * sides evict under DIFFERENT state watermarks derived from the join
    * condition: a click can only stop matching once the watermark passes
    * cts (latest qualifying view has vts = cts) → null-emit iff
    * unmatched AND cts < wm_final; a view can match clicks up to
    * cts = vts + 4 h, so its state lives 4 h LONGER → null-emit iff
    * unmatched AND vts < wm_final − 4 h. That asymmetry — one condition,
    * two eviction clocks — is exactly what this key pins (and what makes
    * full-outer state bounded at 100 TB: each side holds only its
    * condition-derived horizon). Same staged single-data-batch replay,
    * wm_final = global max (ms-truncated) − 8 h; output is a set of
    * (click_id, view_id) with nulls on both sides. */
  val streamFullOuterJoinExec: QFn = (s, dir) =>
    joinPairs(s, dir, "stream_fojoin", "full_outer")

  /** Stream-stream RIGHT OUTER interval join through the real engine
    * (r10) — the mirror of stream_outer_join_exec, null-extending the
    * VIEW side only. The view eviction clock is the interesting one:
    * a view stays joinable until the watermark passes vts + 4 h (the
    * latest click it could match), so null-emission lags a full
    * interval behind the left-outer case — the production surprise this
    * key pins (right-outer results arrive later than left-outer ones
    * under identical watermarks). Same replay + wm_final rule. */
  val streamRightOuterJoinExec: QFn = (s, dir) =>
    joinPairs(s, dir, "stream_rojoin", "right_outer")

  /** Stream-stream LEFT SEMI interval join through the real engine (r11)
    * — the remaining join topology Spark supports (inner + 3 outers are
    * engine-graded since r10): "clicks that HAD a qualifying view",
    * emitted at most once per click, with no null-extension path at all.
    * Semi is the odd one out semantically: a left row emits as soon as a
    * match EXISTS (no watermark wait — emission needs no proof of
    * absence, unlike outer nulls), and unmatched clicks are evicted
    * silently when the watermark passes. Under the single-data-batch
    * replay every match is visible in-batch, so the emitted set must be
    * exactly the batch EXISTS semi join — watermark-independent, which
    * is itself the graded property (an implementation that held semi
    * results for eviction like outer nulls would emit the same SET here,
    * but one that dropped rows by the outer eviction rule would lose the
    * clicks above the final watermark — the oracle pins those). */
  val streamSemiJoinExec: QFn = (s, dir) =>
    streamed(s, "stream_sjoin", "append")(
      clickViewJoin(sourceEvents(s, dir), sourceEvents(s, dir), "left_semi")
        .select(col("click_id")))
      .orderBy(col("click_id"))

  /** Stream-stream join FEEDING a windowed aggregation (r11) — the
    * chained MULTI-STATEFUL topology (join state + agg state in one
    * query), i.e. the real medallion/sessionized-revenue shape;
    * stream_chain_agg_exec chains two aggs, this chains join → agg,
    * which Spark only supports through its multi-stateful watermark
    * propagation (SPARK-42376). Clicks ⋈ views (the §2.19 interval
    * condition) → 1 h tumbling windows on the CLICK time → per-window
    * pair count + DECIMAL-pinned click-value sum, append mode: a window
    * emits only when proven complete. The graded semantics is the
    * PROPAGATED watermark: the aggregate's input watermark is the JOIN's
    * output watermark, which the engine delays by the join's maximum
    * state retention — the view side holds rows 4 h past their event
    * time (a view matches clicks up to vts + 4 h), so wm_agg =
    * min-of-sides wm − 4 h, and only windows with end ≤ wm_agg finalize
    * (strictly fewer than the un-chained rule — the production surprise
    * this key pins; calibrated against the engine at sf0.001/0.01,
    * where a non-delayed rule over-emits). */
  val streamJoinAggExec: QFn = (s, dir) =>
    streamed(s, "stream_jagg", "append")(
      joinAgg(sourceEvents(s, dir), sourceEvents(s, dir)))
      .orderBy(col("bucket_ts"))

  /** TWO windowed aggregations JOINED on window equality (r11) — the
    * other documented multi-stateful chain (SPARK-42376's agg→join
    * direction; stream_join_agg_exec grades join→agg): per-hour click
    * counts ⋈ per-hour view counts, the streaming fact-to-fact rollup
    * join every metrics pipeline runs. Each aggregate finalizes windows
    * at the global (min-of-sides) watermark under the plain-agg
    * INCLUSIVE tie rule; the window-equality join then matches the two
    * finalized streams — Spark derives both sides' state eviction from
    * the window bounds themselves. The AvailableNow drain must flush the
    * CHAIN: agg emissions happen in the closing no-data batch and the
    * join consumes them in a further no-data batch — the engine's
    * multi-batch quiesce is exactly what this key grades (a single
    * no-data sweep would emit nothing). Calibrated at sf0.001/0.01. */
  val streamAggJoinExec: QFn = (s, dir) =>
    streamed(s, "stream_ajoin", "append")(
      aggJoin(sourceEvents(s, dir), sourceEvents(s, dir)))
      .orderBy(col("bucket_ts"))

  /** CHAINED STATEFUL OPERATORS through the real engine (r8) — two
    * windowed aggregations in ONE streaming query (15-min tumble per
    * event type → 1-hour roll-up over the sub-window column via
    * `window(window, …)`, SPARK-40925), the multi-stateful pipeline
    * Spark 3.4+ unlocked and the shape every streaming medallion
    * (bronze→silver→gold) job takes at scale: the second aggregate's
    * input is 96×types rows/day regardless of event volume, so the
    * downstream state and shuffle are corpus-size-independent.
    *
    * Determinism: ONE AvailableNow data batch (watermark 0 — nothing
    * is late at either stage), then the closing no-data batch advances
    * the watermark to global-max (ms-truncated) − 30 min and BOTH
    * stages cascade within that batch: stage 1 appends every sub-window
    * with end ≤ wm, stage 2 folds them and appends every hour window
    * with end ≤ wm — and an emitted hour's sub-windows all have
    * end ≤ hour_end ≤ wm, so emitted hours are provably COMPLETE
    * (n_subwin counts the non-empty quarter-hours as proof). The oracle
    * replays the roll-up plus the inclusive end ≤ wm rule
    * (late_data_exec's boundary convention). */
  val streamChainAggExec: QFn = (s, dir) =>
    streamed(s, "chain_agg", "append")(
      sourceEvents(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(col("window"), "1 hour"), col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          count(lit(1)).as("n_subwin"))
        .select(unix_timestamp(col("window.start")).as("hour_ts"),
          col("event_type"), col("n_events"), col("n_subwin")))
      .orderBy(col("hour_ts"), col("event_type"))

  /** CHECKPOINT RESTART / EXACTLY-ONCE RESUME through the real engine
    * (r9) — the operational property every other streaming key takes on
    * faith by using a fresh checkpoint: a stateful query STOPPED and
    * RESTARTED against the same checkpoint must resume from committed
    * offsets with restored state. Protocol: stage half the events
    * (deterministic md5-ntile split, the replay keys' convention), run an
    * hourly-count Complete aggregation to termination; stage the second
    * half; START A NEW QUERY on the SAME checkpoint. The engine must
    * (a) NOT reprocess file 1 — offsets are committed, a replay would
    * double every file-1 count — and (b) restore the file-1 aggregate
    * state from the store — a loss would emit file-2-only counts. The
    * converged output hash-matches the batch aggregate over ALL events
    * only if both halves of the exactly-once contract hold. At 100 TB
    * this is THE property that makes streaming jobs re-deployable;
    * state round-trips through the store across a JVM-level query
    * boundary (and RocksDbStateSpec re-proves it on RocksDB). */
  val streamRestartExec: QFn = (s, dir) => {
    val run = runDir("restart")
    val box = new java.io.File(run, "inbox")
    def counts = hourly(s.readStream
      .schema(s.read.parquet(box.getAbsolutePath).schema)
      .parquet(box.getAbsolutePath))
    // batch 1 landed: first deployment, state built; batch 2 landed:
    // restart, which must resume offsets and restore state
    stage(s, dir, box, 2, 1 to 2) { _ =>
      runStream(s, "restart", "complete", 8)(counts, run)
    }
    s.read.parquet(new java.io.File(run, "out").getAbsolutePath)
      .orderBy(col("bucket_ts"), col("event_type"))
  }

  /** Watermark LATE-DROP through the real engine — graduating §2.9's
    * scalatest-only `late_data_policy` into an oracle-graded key. The
    * stream replays the staged scrambled batches one file per trigger
    * with `withWatermark("ts", "1 hour")` and an hourly tumbling count
    * in APPEND mode. Every nondeterminism source is pinned:
    *   - batch membership and order: deterministic ntile staging (above);
    *   - watermark in effect during batch k: max event time over batches
    *     1..k-1 minus the delay (Spark commits the watermark at batch
    *     boundaries) — a running max the oracle computes per batch;
    *   - a late input row is DROPPED iff its window closed under that
    *     batch's watermark; surviving rows merge into state;
    *   - append mode emits a window exactly once, when the watermark
    *     passes its end; windows the FINAL watermark (global max − delay,
    *     advanced by the AvailableNow no-data batch) never passes are
    *     never emitted — the oracle applies the same final filter.
    * The scrambled order makes drops massive and data-dependent (batch 1
    * alone advances the watermark near the global max), so a wrong drop
    * rule cannot hash-match. Output projects (bucket_ts, event_type, n,
    * sum_value) — a set, so engine arrival order can't reach the hash. */
  val lateDataExec: QFn = (s, dir) =>
    streamed(s, "late_data", "append")(lateData(replay(s, dir)))
      .orderBy(col("bucket_ts"), col("event_type"))

  /** BOUNDED-STATE streaming dedup through the real engine:
    * `dropDuplicatesWithinWatermark` — unlike plain streaming
    * `dropDuplicates` (stream_dedup_exec), whose state grows with the
    * number of distinct keys forever, this evicts a key once the
    * watermark passes its event time + delay, which is the only dedup
    * that survives an unbounded 100 TB/day stream (state tracks the
    * lateness horizon, not stream history).
    *
    * Determinism construction: the dedup key is (user_id, event_type,
    * hour-truncated ts) and the truncated ts IS the watermark column, so
    * every occurrence of a key carries the SAME event time — whichever
    * row the engine keeps as representative, the state timestamp (and
    * hence eviction) is identical, removing the one nondeterminism
    * `dropDuplicatesWithinWatermark` otherwise has. With the watermark
    * monotone, a key whose earliest arrival is already late stays late
    * forever, so the emitted set collapses to an exact rule the oracle
    * replays: one row per key whose FIRST-arrival batch beat the
    * watermark in force at that batch. Output projects only the key — a
    * set, arrival order can't reach the hash. */
  val streamDedupWmExec: QFn = (s, dir) =>
    streamed(s, "dedup_wm", "append")(hourlyDedup(replay(s, dir)))
      .orderBy(col("user_id"), col("event_type"), col("bucket_ts"))

  /** ARBITRARY stateful processing through the real engine:
    * `flatMapGroupsWithState` (the API family `transformWithState`
    * generalizes) keeping one running per-user event count, emitting the
    * updated total each micro-batch the user appears in. This is the
    * operator class behind custom sessionization, CDC folding, and
    * incremental feature state at 100 TB — state is one row per active
    * key, emission is append-final.
    *
    * Determinism: no watermark, no timeout — emissions depend ONLY on
    * which batch each row lands in, which the staged 5-batch split pins.
    * Output (user_id, cum_events) is a set: totals strictly increase per
    * appearance, so arrival order within a batch cannot reach the hash.
    * Oracle: per-user running count over the replayed batch assignment. */
  val streamStateExec: QFn = (s, dir) =>
    streamed(s, "state_exec", "append")(runningCounts(replay(s, dir)))
      .orderBy(col("user_id"), col("cum_events"))

  /** Spark-4 `transformWithState` through the real engine as a GRADED
    * key — the successor stateful API (typed named state handles, TTL,
    * timers).
    * Per-user cumulative (event count, value sum) over the same staged
    * deterministic 5-batch replay as `stream_state_exec`, one emission
    * per (user, batch-with-rows).
    *
    * Determinism: no watermark/timers, so emissions depend only on the
    * pinned batch assignment; the value sum is EXACT — decimal(14,4)
    * scaled to BIGINT units before the processor, integer-summed in
    * state — so within-batch arrival order cannot reach the hash, and
    * cum_events strictly increases per appearance (the output is a set).
    *
    * transformWithState requires the RocksDB state store provider (also
    * the 100 TB-state deployment choice), so THIS key grades the RocksDB
    * physical layer in the contract path; the conf is pinned per-run and
    * restored. */
  val streamTwsExec: QFn = (s, dir) =>
    streamed(s, "tws_exec", "append", rocksDb = true)(
      cumTotals(replay(s, dir)))
      .orderBy(col("user_id"), col("cum_events"))

  /** CDC APPLY through the real engine (r9) — the streaming twin of the
    * batch `cdc_apply_tombstones` key and the state-semantics complement
    * to stream_tws_exec: that processor's state ACCUMULATES (counters
    * only grow), this one's state is OVERWRITTEN (the current row image a
    * changelog consumer materializes), with 'error' events read as
    * DELETE tombstones that zero the image. The two disciplines the key
    * certifies: (1) tombstones must fold through state (clear-and-
    * remember), and (2) within-batch op order must come from EVENT time,
    * never arrival order — CdcFoldProcessor sorts each key's batch slice
    * by (ts_us, event_id) before folding, which is what makes a
    * hash-checked oracle possible for an order-sensitive operator.
    * Emissions are one post-batch image per (key, batch-with-rows), op
    * counter strictly increasing → a set. Same staged 5-batch replay as
    * the other state keys; RocksDB pinned per-run. */
  val streamCdcExec: QFn = (s, dir) => {
    import s.implicits._
    streamed(s, "cdc_exec", "append", rocksDb = true)(
      replay(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new CdcFoldProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF("user_id", "n_ops", "alive", "last_ts_us"))
      .orderBy(col("user_id"), col("n_ops"))
  }

  /** EVENT-TIME TIMERS through the real engine as a graded key — the
    * TTL/session-expiry mechanism behind every "emit when the key goes
    * quiet" operator at scale. TimerSessionProcessor (above) arms a
    * per-user timer at first-surviving-event-time + 2 h, accumulates an
    * exact count, and emits (user, n, expiry) when the watermark passes
    * the expiry, clearing state so later rows open a fresh session.
    * Runs over the deterministic scrambled 5-batch replay with a 1 h
    * watermark delay, so firing behavior is massively data-dependent
    * (the protocol's full surface: late-input drops, mid-stream fires,
    * re-arms, and the final AvailableNow flush) yet exactly replayable
    * — the oracle encodes the calibrated micro-batch timer protocol.
    * Requires RocksDB (transformWithState), pinned per-run. */
  val streamTimerExec: QFn = (s, dir) =>
    streamed(s, "timer_exec", "append", rocksDb = true)(
      timerSessions(replay(s, dir)))
      .orderBy(col("user_id"), col("expiry_ms"), col("n_events"))

  /** BATCH-SEEDED INITIAL STATE through the real engine as a graded key
    * — transformWithState's `handleInitialState`: the lambda-architecture
    * handoff (a batch job's final per-user totals seed the stream's
    * state, the stream continues WITHOUT replaying history). Batches 1-2
    * of the deterministic split are aggregated in batch as the seed;
    * batches 3-5 replay as the stream (staged into their own inbox); every
    * emission carries the seed-included cumulative (count, exact scaled
    * sum), so a lost or double-applied seed cannot hash-match. Completes
    * the transformWithState surface: ValueState (tws), timers (timer),
    * ListState/MapState (list_state), initial state (here). RocksDB
    * pinned as the API requires. */
  val streamInitStateExec: QFn = (s, dir) => {
    import s.implicits._
    val seed = batchSplit(s, dir, 5)
      .filter(col("b") <= 2)
      .select(col("user_id"), scaledValue.as("v"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"), sum(col("v")).as("sv"))
      .as[(Long, Long, Long)]
    streamed(s, "init_state", "append", rocksDb = true)(
      cumTotals(replay(s, dir, "init_inbox", 3 to 5), Some(seed)))
      .orderBy(col("user_id"), col("cum_events"))
  }

  /** DSv2 STREAMING WRITE through the real engine as a graded key — the
    * write-side twin of range_stream_exec: the staged 5-batch replay
    * streams through AuditSink's `StreamingWrite` (per-epoch two-phase
    * commit, manifest as the idempotent commit marker) and the key
    * re-reads the JSON-lines output. No stateful operator in the middle
    * — what is graded is the SINK: every epoch's rows must publish
    * exactly once (a dropped epoch loses rows, a double-published epoch
    * duplicates them; either breaks the hash). Output projects
    * (event_id, user_id, event_type) — unique event_id makes the result
    * a set, so arrival order can't reach the hash. */
  val v2StreamSinkRoundtrip: QFn = (s, dir) => {
    val (out, _) = runStream(s, "v2_stream_sink", "append",
      format = "graft.sources.AuditSink")(
      replay(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type")))
    // Manifest-driven read: each epoch's commit marker lists its parts,
    // so the read provably consumes only committed epochs (vs a glob,
    // which would also pick up parts of an epoch that never committed).
    val committed = graft.sources.AuditCommit.committedFiles(
      graft.sources.AuditCommit.fs(out, s.sparkContext.hadoopConfiguration),
      out)
    s.read.json(committed: _*)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"))
      .orderBy(col("event_id"))
  }

  /** ListState + MapState through the real engine as a GRADED key (see
    * ListMapAuditProcessor above for the state design and determinism
    * argument). Same staged deterministic 5-batch replay and RocksDB
    * pinning as stream_tws_exec — this key completes the
    * transformWithState primitive matrix in the contract: ValueState
    * (stream_tws_exec), timers (stream_timer_exec), ListState + MapState
    * (here). */
  val streamListStateExec: QFn = (s, dir) =>
    streamed(s, "list_state", "append", rocksDb = true)(
      listMapAudit(replay(s, dir)))
      .orderBy(col("user_id"), col("cum_events"))

  /** DSv2 MICRO-BATCH READ through the real engine as a graded key —
    * the streaming half of the connector read lifecycle
    * (sources/RangeSource.toMicroBatchStream): offset tracking in the id
    * domain, rowsPerBatch admission per trigger, per-batch partition
    * planning, AvailableNow drain. 20 000 ids arrive in ≥5 micro-batches
    * of ≤4096; a Complete-mode aggregation (count / exact integer
    * sum-of-squares / max per id%16 bucket) folds them through the state
    * store, so the final answer is correct ONLY if every batch's offset
    * range arrived exactly once — the property that grades offset
    * planning. Batch boundaries can't reach the hash (Complete-mode agg
    * is batch-assignment-invariant), which is what lets a synthetic
    * stream carry a closed-form DuckDB oracle (range()). */
  val rangeStreamExec: QFn = (s, _) =>
    streamed(s, "range_stream", "complete", 8)(
      s.readStream.format("graft.sources.RangeSource")
        .option("rows", 20000).option("rowsPerBatch", 4096)
        .option("partitions", 8).load()
        .groupBy((col("id") % 16).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"),
          max(col("id")).as("max_id")))
      .orderBy(col("bucket"))

  /** MULTI-INPUT WATERMARK COORDINATION through the real engine (r9) —
    * the one streaming semantic no other §2.19 key touches: a UNION of
    * two streams carrying DIFFERENT watermark delays (clicks/views at
    * 30 min, everything else at 2 h), where the engine must advance the
    * downstream aggregation's watermark to the MINIMUM across inputs
    * (`multipleWatermarkPolicy = min`, the default and the only safe
    * policy — max would drop rows a slow input still owes). Both
    * branches read the same staged inbox; each withWatermark operator
    * tracks ITS OWN branch's max event time, so the closing no-data
    * batch sets wm = min(maxA − 30 min, maxB − 2 h) (ms-truncated) and
    * append mode emits exactly the hour windows with end ≤ wm — the
    * oracle computes both branch maxima and applies the same rule. One
    * AvailableNow data batch ⇒ nothing is late; the emission set is a
    * set, so arrival order can't reach the hash. At 100 TB this is the
    * fan-in topology every multi-region ingest runs — the slowest
    * region's delay governs emission, which is exactly what the min
    * rule grades. */
  val streamUnionWmExec: QFn = (s, dir) => {
    val fast = sourceEvents(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .withWatermark("ts", "30 minutes")
    val slow = sourceEvents(s, dir)
      .filter(!col("event_type").isin("click", "view"))
      .withWatermark("ts", "2 hours")
    streamed(s, "union_wm", "append")(
      hourly(fast.unionAll(slow), withSum = true))
      .orderBy(col("bucket_ts"), col("event_type"))
  }

  /** STREAM-STATIC JOIN through the real engine (r9) — the remaining
    * join topology (§2.19 grades stream-stream inner and outer): the
    * event stream enriched against the BATCH customer dimension. The
    * engine plans the static side as an ordinary batch relation inside
    * every micro-batch (IncrementalExecution re-plans it per trigger —
    * the property that lets a dimension table update between batches),
    * it is STATELESS (no watermark needed on the static side, no join
    * state kept — the asymmetry that makes this the cheap, default
    * enrichment topology at 100 TB, vs the stateful symmetric hash
    * join's eviction machinery), and a sub-dimension-size static side
    * broadcasts exactly as in batch. Downstream: hourly segment
    * rollup in Complete mode (bounded cardinality — segments × hours).
    * Oracle is the identical batch join + aggregate: the hash-match
    * proves per-batch enrichment ≡ batch semantics. */
  val streamStaticJoinExec: QFn = (s, dir) => {
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    streamed(s, "stream_static_join", "complete", 8)(
      hourly(sourceEvents(s, dir)
        .join(broadcast(dim), col("user_id") === col("c_custkey")),
        "c_mktsegment", withSum = true))
      .orderBy(col("bucket_ts"), col("c_mktsegment"))
  }

  /** STREAMING DROP/STATE OBSERVABILITY as a graded artifact (r12) —
    * every other engine key grades OUTPUT rows; this one grades the
    * engine's own telemetry, the operational surface a production
    * stream is monitored by: per micro-batch (input rows, rows dropped
    * by the watermark, result rows emitted = state rows evicted in
    * append mode, state rows HELD after the batch — the memory-planning
    * number). The query is late_data_exec's exact replay (staged
    * scrambled 5-batch inbox, 1-hour watermark, hourly tumble, append),
    * so every count is pinned by the same determinism construction:
    * batch membership by ntile staging, the watermark in force during
    * batch k = max event time over batches ≤ k−2 (ms-truncated) − 1 h,
    * a row drops iff its window closed under that watermark, and a
    * window (group) is emitted by the first batch whose in-force
    * watermark passes its end. The AvailableNow closing no-data batch
    * appears as the final row — input 0, emitting everything the global
    * watermark releases. Counts come from StreamingQueryProgress
    * (numInputRows / numRowsDroppedByWatermark / state numRowsRemoved)
    * — O(#batches) driver data, the monitoring-integration read path.
    * The oracle replays all three rules relationally. */
  val streamDropAuditExec: QFn = (s, dir) => {
    val (_, q) = runStream(s, "drop_audit", "append")(
      hourly(replay(s, dir).withWatermark("ts", "1 hour")))
    import s.implicits._
    q.recentProgress.toSeq.zipWithIndex.map { case (p, i) =>
      val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val emitted = p.stateOperators.map(_.numRowsRemoved).sum
      val held = p.stateOperators.map(_.numRowsTotal).sum
      (i + 1L, p.numInputRows, dropped, emitted, held)
    }.toDF("batch_seq", "n_input", "n_dropped", "n_emitted", "n_state")
      .orderBy(col("batch_seq"))
  }

  val queries: Map[String, QFn] = Map(
    "stream_drop_audit_exec" -> streamDropAuditExec,
    "stream_restart_exec" -> streamRestartExec,
    "stream_topk_exec" -> streamTopkExec,
    "stream_static_join_exec" -> streamStaticJoinExec,
    "stream_union_wm_exec" -> streamUnionWmExec,
    "stream_chain_agg_exec" -> streamChainAggExec,
    "stream_init_state_exec" -> streamInitStateExec,
    "stream_list_state_exec" -> streamListStateExec,
    "v2_stream_sink_roundtrip" -> v2StreamSinkRoundtrip,
    "range_stream_exec"   -> rangeStreamExec,
    "stream_timer_exec"   -> streamTimerExec,
    "stream_cdc_exec"     -> streamCdcExec,
    "stream_tws_exec"     -> streamTwsExec,
    "stream_outer_join_exec" -> streamOuterJoinExec,
    "stream_full_outer_join_exec" -> streamFullOuterJoinExec,
    "stream_right_outer_join_exec" -> streamRightOuterJoinExec,
    "stream_sliding_exec" -> streamSlidingExec,
    "stream_update_exec"  -> streamUpdateExec,
    "stream_tumble_exec"  -> streamTumbleExec,
    "stream_session_exec" -> streamSessionExec,
    "stream_dedup_exec"   -> streamDedupExec,
    "stream_join_exec"    -> streamJoinExec,
    "stream_semi_join_exec" -> streamSemiJoinExec,
    "stream_join_agg_exec"  -> streamJoinAggExec,
    "stream_agg_join_exec"  -> streamAggJoinExec,
    "late_data_exec"      -> lateDataExec,
    "stream_dedup_wm_exec" -> streamDedupWmExec,
    "stream_state_exec"   -> streamStateExec)

  /** SPARK-VERSION COUPLING (all three watermark goldens below): the
    * two-watermark micro-batch protocol they replay — late-input filter
    * from the batch's STARTING watermark (batches ≤ k−2 under the file
    * source, ms-truncated), eviction/emission from the advanced value,
    * inclusive `we <= wm` emission, strict `ts < wm` input drop — is
    * Spark ≥3.4 behavior, calibrated and hash-verified on the 4.1 line.
    * WatermarkTieSpec pins every boundary at an exact tie with a
    * synthetic hour-aligned max event time; if a Spark upgrade changes
    * the protocol, that spec fails FIRST — recalibrate these goldens
    * before trusting any §2.19 hash. */
  val oracle: Map[String, String] = Map(
    // Stream-static enrichment ≡ the batch join: no watermark, Complete
    // mode, so the converged result is exactly the batch aggregate.
    "stream_static_join_exec" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts,
        |  c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY bucket_ts, c_mktsegment
        |ORDER BY bucket_ts, c_mktsegment""".stripMargin,
    // Union-watermark replay: wm = min over the two branch watermarks
    // (each branch's own max event time, ms-truncated, minus ITS delay);
    // append emits hour windows with end ≤ wm — the inclusive boundary
    // convention shared by every watermark golden here.
    "stream_union_wm_exec" ->
      """WITH g AS (
        |  SELECT least(
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 - 1800000000
        |     FROM events WHERE event_type IN ('click', 'view')),
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 - 7200000000
        |     FROM events WHERE event_type NOT IN ('click', 'view')))
        |    AS wm),
        |w AS (
        |  SELECT event_type, value,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS ws
        |  FROM events)
        |SELECT ws // 1000000 AS bucket_ts, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM w, g
        |WHERE ws + 3600000000 <= wm
        |GROUP BY ws, event_type
        |ORDER BY bucket_ts, event_type""".stripMargin,
    // Chained-aggregation replay: 15-min roll-up → hour roll-up, emitted
    // iff hour end ≤ final watermark (global max, ms-truncated, − 30 min
    // — the inclusive late_data_exec boundary convention).
    "stream_chain_agg_exec" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events),
        |sub AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 900000000) * 900000000 AS sws,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, sws),
        |agg AS (
        |  SELECT event_type, (sws // 3600000000) * 3600000000 AS hs,
        |    CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_subwin
        |  FROM sub GROUP BY event_type, hs)
        |SELECT hs // 1000000 AS hour_ts, event_type, n_events, n_subwin
        |FROM agg, g
        |WHERE hs + 3600000000 <= gmax // 1000 * 1000 - 1800000000
        |ORDER BY hour_ts, event_type""".stripMargin,
    // The sink only moves rows; the identity projection IS the oracle —
    // wrong iff an epoch published zero or two times.
    "v2_stream_sink_roundtrip" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,
    // Batch→stream handoff replay: batches 1-2 aggregate into the seed,
    // batches 3-5 accumulate on top of it — one emission per (user,
    // stream-batch-with-rows) carrying the seed-included cumulative.
    "stream_init_state_exec" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |seed AS (SELECT user_id, count(*) AS c0, sum(v) AS sv0
        |         FROM e WHERE b <= 2 GROUP BY user_id),
        |per AS (SELECT user_id, b, count(*) AS c, sum(v) AS sv
        |        FROM e WHERE b >= 3 GROUP BY user_id, b)
        |SELECT p.user_id,
        |  CAST(coalesce(s.c0, 0) + sum(p.c) OVER w AS BIGINT) AS cum_events,
        |  CAST(coalesce(s.sv0, 0) + sum(p.sv) OVER w AS BIGINT) AS cum_scaled
        |FROM per p LEFT JOIN seed s ON s.user_id = p.user_id
        |WINDOW w AS (PARTITION BY p.user_id ORDER BY p.b
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY 1, 2""".stripMargin,
    // Per-user running (list length = event count, list sum = exact
    // scaled value sum, distinct types so far) over the replayed batch
    // assignment: the cumulative columns replay stream_tws_exec's
    // construction; n_types at batch b counts the types whose FIRST
    // batch for that user is ≤ b (exactly the map's key-set size).
    "stream_list_state_exec" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |per AS (SELECT user_id, b, count(*) AS c, sum(v) AS sv
        |        FROM e GROUP BY user_id, b),
        |cum AS (
        |  SELECT user_id, b,
        |    CAST(sum(c) OVER w AS BIGINT) AS cum_events,
        |    CAST(sum(sv) OVER w AS BIGINT) AS cum_scaled
        |  FROM per
        |  WINDOW w AS (PARTITION BY user_id ORDER BY b
        |    ROWS UNBOUNDED PRECEDING)),
        |tf AS (SELECT user_id, event_type, min(b) AS b0
        |       FROM e GROUP BY 1, 2)
        |SELECT c.user_id, c.cum_events, c.cum_scaled,
        |  (SELECT count(*) FROM tf
        |   WHERE tf.user_id = c.user_id AND tf.b0 <= c.b) AS n_types
        |FROM cum c ORDER BY user_id, cum_events""".stripMargin,
    // Closed form of the synthetic range stream: same ids, same buckets
    // — correct iff every micro-batch's offset range arrived exactly
    // once through the state store.
    "range_stream_exec" ->
      """SELECT range % 16 AS bucket, count(*) AS n,
        |  CAST(sum(range * range) AS BIGINT) AS sum_sq,
        |  max(range) AS max_id
        |FROM range(0, 20000) GROUP BY 1 ORDER BY bucket""".stripMargin,
    // Per-user running (count, exact scaled value sum) over the replayed
    // deterministic batch assignment — the transformWithState twin of
    // stream_state_exec's oracle, extended with the integer-exact sum.
    // Replays the fold: within a batch ops apply in (ts_us, event_id)
    // order, so the post-batch image is decided by the batch's LAST op;
    // n_ops is the cumulative op count through that batch.
    "stream_cdc_exec" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |last AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, b
        |    ORDER BY ts_us DESC, event_id DESC) AS rb
        |  FROM e),
        |cum AS (
        |  SELECT user_id, b, count(*) AS c FROM e GROUP BY user_id, b),
        |cum2 AS (
        |  SELECT user_id, b, CAST(sum(c) OVER (PARTITION BY user_id
        |    ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ops
        |  FROM cum)
        |SELECT l.user_id, n_ops,
        |  CASE WHEN l.event_type = 'error' THEN 0 ELSE 1 END AS alive,
        |  CASE WHEN l.event_type = 'error' THEN 0 ELSE l.ts_us END
        |    AS last_ts_us
        |FROM last l JOIN cum2 USING (user_id, b)
        |WHERE rb = 1
        |ORDER BY user_id, n_ops""".stripMargin,
    "stream_tws_exec" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |per AS (SELECT user_id, b, count(*) AS c, sum(v) AS sv
        |        FROM e GROUP BY user_id, b)
        |SELECT user_id,
        |  CAST(sum(c) OVER w AS BIGINT) AS cum_events,
        |  CAST(sum(sv) OVER w AS BIGINT) AS cum_scaled
        |FROM per
        |WINDOW w AS (PARTITION BY user_id ORDER BY b
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, cum_events""".stripMargin,
    // The restarted query's converged state must equal the batch
    // aggregate over ALL events — offsets not replayed, state not lost.
    "stream_restart_exec" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY bucket_ts, event_type""".stripMargin,
    // The converged Complete-mode top-20 must equal the batch ranking
    // under the identical total order.
    "stream_topk_exec" ->
      """SELECT * FROM (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2) t
        |ORDER BY n DESC, bucket_ts, event_type LIMIT 20""".stripMargin,
    // Identical to qtumble_hourly's oracle — the point: same answer, the
    // streaming engine did the computing.
    "stream_tumble_exec" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_ts, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin,
    // session_window_native's oracle (sans the value sum — the streaming
    // key keeps the state minimal): lag/cumsum sessionization with the
    // `>=` boundary matching session_window's [start, start+gap) windows.
    "stream_session_exec" ->
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
    "stream_dedup_exec" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // The batch interval join on the same µs arithmetic — the streaming
    // engine's symmetric hash join must reproduce it exactly.
    "stream_join_exec" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id
        |FROM events c JOIN events v
        |  ON v.user_id = c.user_id
        |  AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |  AND epoch_us(v.ts) <= epoch_us(c.ts)
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |ORDER BY click_id, view_id""".stripMargin,
    // Semi join: emission needs only match EXISTENCE (no watermark wait,
    // no null path) — under the single-data-batch replay the emitted set
    // is exactly the batch EXISTS semi join.
    "stream_semi_join_exec" ->
      """SELECT c.event_id AS click_id FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (SELECT 1 FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |  AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |  AND epoch_us(v.ts) <= epoch_us(c.ts))
        |ORDER BY click_id""".stripMargin,
    // Chained agg → join: both aggregates finalize at the global
    // (min-of-sides) watermark with the plain-agg INCLUSIVE boundary;
    // the window-equality join matches the two finalized streams —
    // emitted = hours where both sides have a finalized row.
    "stream_agg_join_exec" ->
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |    // 1000 * 1000 - 28800000000 AS w
        |  FROM events),
        |ca AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS b,
        |    count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |va AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS b,
        |    count(*) AS n_views
        |  FROM events WHERE event_type = 'view' GROUP BY 1)
        |SELECT ca.b AS bucket_ts, n_clicks, n_views
        |FROM ca JOIN va ON ca.b = va.b, wm
        |WHERE (ca.b + 3600) * 1000000 <= wm.w
        |ORDER BY bucket_ts""".stripMargin,
    // Chained join → windowed agg: the aggregate sees the JOIN's output
    // watermark, i.e. min-of-sides wm delayed by the join's max state
    // retention (the view side holds 4 h of state), and append mode
    // finalizes exactly the windows whose end is STRICTLY below that
    // delayed watermark (delay calibrated against the engine at
    // sf0.001/0.01; the strict boundary discovered by the manufactured
    // tie in WatermarkTieSpec — the fixtures never tie it).
    "stream_join_agg_exec" ->
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |    // 1000 * 1000 - 28800000000 AS w
        |  FROM events),
        |pairs AS (
        |  SELECT epoch_us(c.ts) AS cus, c.value AS cval
        |  FROM events c JOIN events v
        |    ON v.user_id = c.user_id
        |    AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |    AND epoch_us(v.ts) <= epoch_us(c.ts)
        |  WHERE c.event_type = 'click' AND v.event_type = 'view'),
        |agg AS (
        |  SELECT (cus // 3600000000) * 3600 AS bucket_ts, count(*) AS n,
        |    CAST(sum(CAST(cval AS DECIMAL(14,4))) AS DOUBLE)
        |      AS sum_click_value
        |  FROM pairs GROUP BY 1)
        |SELECT bucket_ts, n, sum_click_value FROM agg, wm
        |WHERE (bucket_ts + 3600) * 1000000 < wm.w - 14400000000
        |ORDER BY bucket_ts""".stripMargin,
    // Unrolled 5-batch replay of the event-time TIMER protocol,
    // calibrated against the engine at all three tiers (bit-exact):
    //   - transformWithState receives ALL input rows — NO late-input
    //     filter applies (unlike aggregation/dedup/join; late handling
    //     is the processor's contract), verified by simulation: any
    //     late-drop variant misses 45-60 of 60 engine rows at sf0.001;
    //   - within a batch, input is processed FIRST, then expired timers
    //     (so a timer can fire in its arming batch, counting that
    //     batch's rows);
    //   - a timer fires in batch k iff expiry <= the ADVANCED watermark
    //     (max event time of batches ≤ k−1, ms-truncated, − 1 h delay) —
    //     INCLUSIVE at the boundary, unlike the strict join-state
    //     eviction: WatermarkTieSpec manufactures the exact tie and
    //     pins the fire (the fixture tiers never tie, so only the tie
    //     test distinguishes the rules);
    //   - the AvailableNow no-data batch runs one final timer sweep at
    //     the global watermark; unexpired timers never emit.
    // s0→s5 carry per-user (count, armed expiry) state; f1..f6 are the
    // per-batch fire sets.
    "stream_timer_exec" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |per AS (
        |  SELECT user_id, b, count(*) AS c, min(us) AS mts
        |  FROM e GROUP BY user_id, b),
        |wm AS (
        |  SELECT b, max(mx) OVER (ORDER BY b) // 1000 - 3600000 AS w
        |  FROM (SELECT b, max(us) AS mx FROM e GROUP BY b)),
        |s0 AS (SELECT DISTINCT user_id, 0::BIGINT AS n,
        |       CAST(NULL AS BIGINT) AS exp FROM e),
        |i1 AS (
        |  SELECT s.user_id,
        |    s.n + coalesce(p.c, 0) AS n,
        |    coalesce(s.exp,
        |      CASE WHEN p.c IS NOT NULL THEN p.mts // 1000 + 7200000 END) AS exp,
        |    NULL AS w
        |  FROM s0 s LEFT JOIN (SELECT * FROM per WHERE b = 1) p
        |    ON s.user_id = p.user_id),
        |f1 AS (SELECT *, exp IS NOT NULL AND w IS NOT NULL AND exp <= w AS fire
        |       FROM i1),
        |s1 AS (
        |  SELECT user_id,
        |    CASE WHEN fire THEN 0 ELSE n END AS n,
        |    CASE WHEN fire THEN NULL ELSE exp END AS exp
        |  FROM f1),
        |i2 AS (
        |  SELECT s.user_id,
        |    s.n + coalesce(p.c, 0) AS n,
        |    coalesce(s.exp,
        |      CASE WHEN p.c IS NOT NULL THEN p.mts // 1000 + 7200000 END) AS exp,
        |    (SELECT w FROM wm WHERE b = 1) AS w
        |  FROM s1 s LEFT JOIN (SELECT * FROM per WHERE b = 2) p
        |    ON s.user_id = p.user_id),
        |f2 AS (SELECT *, exp IS NOT NULL AND w IS NOT NULL AND exp <= w AS fire
        |       FROM i2),
        |s2 AS (
        |  SELECT user_id,
        |    CASE WHEN fire THEN 0 ELSE n END AS n,
        |    CASE WHEN fire THEN NULL ELSE exp END AS exp
        |  FROM f2),
        |i3 AS (
        |  SELECT s.user_id,
        |    s.n + coalesce(p.c, 0) AS n,
        |    coalesce(s.exp,
        |      CASE WHEN p.c IS NOT NULL THEN p.mts // 1000 + 7200000 END) AS exp,
        |    (SELECT w FROM wm WHERE b = 2) AS w
        |  FROM s2 s LEFT JOIN (SELECT * FROM per WHERE b = 3) p
        |    ON s.user_id = p.user_id),
        |f3 AS (SELECT *, exp IS NOT NULL AND w IS NOT NULL AND exp <= w AS fire
        |       FROM i3),
        |s3 AS (
        |  SELECT user_id,
        |    CASE WHEN fire THEN 0 ELSE n END AS n,
        |    CASE WHEN fire THEN NULL ELSE exp END AS exp
        |  FROM f3),
        |i4 AS (
        |  SELECT s.user_id,
        |    s.n + coalesce(p.c, 0) AS n,
        |    coalesce(s.exp,
        |      CASE WHEN p.c IS NOT NULL THEN p.mts // 1000 + 7200000 END) AS exp,
        |    (SELECT w FROM wm WHERE b = 3) AS w
        |  FROM s3 s LEFT JOIN (SELECT * FROM per WHERE b = 4) p
        |    ON s.user_id = p.user_id),
        |f4 AS (SELECT *, exp IS NOT NULL AND w IS NOT NULL AND exp <= w AS fire
        |       FROM i4),
        |s4 AS (
        |  SELECT user_id,
        |    CASE WHEN fire THEN 0 ELSE n END AS n,
        |    CASE WHEN fire THEN NULL ELSE exp END AS exp
        |  FROM f4),
        |i5 AS (
        |  SELECT s.user_id,
        |    s.n + coalesce(p.c, 0) AS n,
        |    coalesce(s.exp,
        |      CASE WHEN p.c IS NOT NULL THEN p.mts // 1000 + 7200000 END) AS exp,
        |    (SELECT w FROM wm WHERE b = 4) AS w
        |  FROM s4 s LEFT JOIN (SELECT * FROM per WHERE b = 5) p
        |    ON s.user_id = p.user_id),
        |f5 AS (SELECT *, exp IS NOT NULL AND w IS NOT NULL AND exp <= w AS fire
        |       FROM i5),
        |s5 AS (
        |  SELECT user_id,
        |    CASE WHEN fire THEN 0 ELSE n END AS n,
        |    CASE WHEN fire THEN NULL ELSE exp END AS exp
        |  FROM f5),
        |f6 AS (
        |  SELECT s.*, (SELECT w FROM wm WHERE b = 5) AS w FROM s5 s),
        |emits AS (
        |  SELECT user_id, n, exp FROM f1 WHERE fire
        |  UNION ALL SELECT user_id, n, exp FROM f2 WHERE fire
        |  UNION ALL SELECT user_id, n, exp FROM f3 WHERE fire
        |  UNION ALL SELECT user_id, n, exp FROM f4 WHERE fire
        |  UNION ALL SELECT user_id, n, exp FROM f5 WHERE fire
        |  UNION ALL SELECT user_id, n, exp FROM f6
        |    WHERE exp IS NOT NULL AND exp <= w)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(exp AS BIGINT) AS expiry_ms
        |FROM emits ORDER BY user_id, expiry_ms, n_events""".stripMargin,
    // win_sliding's oracle verbatim — the engine's overlapping-window
    // state must reproduce the batch expansion exactly.
    "stream_sliding_exec" ->
      """SELECT (epoch_us(ts) // 900000000 - i) * 900 AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS i)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // Update-mode emission replay: one row per (window, type,
    // batch-with-rows) carrying the cumulative count through that batch.
    "stream_update_exec" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |per AS (
        |  SELECT (us // 3600000000) * 3600 AS bucket_ts, event_type, b,
        |    count(*) AS c
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT bucket_ts, event_type,
        |  CAST(sum(c) OVER (PARTITION BY bucket_ts, event_type ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
        |FROM per ORDER BY bucket_ts, event_type, n""".stripMargin,
    // Inner pairs = the batch interval join (single-batch run: nothing is
    // late); null-extended clicks = unmatched AND evicted, i.e. cts
    // strictly below the FINAL watermark. The engine's watermark is the
    // MIN over both watermark nodes of (that side's max event time,
    // ms-truncated, − 8 h) — each node only sees its own filtered side
    // (r10 calibration: the min-of-sides rule matches the engine's view
    // eviction exactly, 164/164 at sf0.001, where a global-max rule
    // over-emits by 2; for clicks the two rules agree at every sf).
    // NULLS FIRST mirrors Spark's ascending null ordering.
    "stream_outer_join_exec" ->
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |    // 1000 * 1000 - 28800000000 AS w
        |  FROM events),
        |inner_j AS (
        |  SELECT c.event_id AS click_id, v.event_id AS view_id
        |  FROM events c JOIN events v
        |    ON v.user_id = c.user_id
        |    AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |    AND epoch_us(v.ts) <= epoch_us(c.ts)
        |  WHERE c.event_type = 'click' AND v.event_type = 'view'),
        |outer_j AS (
        |  SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS view_id
        |  FROM events c, wm
        |  WHERE c.event_type = 'click' AND epoch_us(c.ts) < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM events v
        |      WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |      AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |      AND epoch_us(v.ts) <= epoch_us(c.ts)))
        |SELECT * FROM inner_j UNION ALL SELECT * FROM outer_j
        |ORDER BY click_id, view_id NULLS FIRST""".stripMargin,
    // Full outer: the left-outer rule on clicks PLUS the view-side rule —
    // a view's state lives until the watermark passes vts + 4 h (the
    // latest click it could still match), so null-extended views require
    // vts + 4 h < wm_final, i.e. vts < wm_final − 4 h.
    "stream_full_outer_join_exec" ->
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |    // 1000 * 1000 - 28800000000 AS w
        |  FROM events),
        |inner_j AS (
        |  SELECT c.event_id AS click_id, v.event_id AS view_id
        |  FROM events c JOIN events v
        |    ON v.user_id = c.user_id
        |    AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |    AND epoch_us(v.ts) <= epoch_us(c.ts)
        |  WHERE c.event_type = 'click' AND v.event_type = 'view'),
        |outer_c AS (
        |  SELECT c.event_id AS click_id, CAST(NULL AS BIGINT) AS view_id
        |  FROM events c, wm
        |  WHERE c.event_type = 'click' AND epoch_us(c.ts) < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM events v
        |      WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |      AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |      AND epoch_us(v.ts) <= epoch_us(c.ts))),
        |outer_v AS (
        |  SELECT CAST(NULL AS BIGINT) AS click_id, v.event_id AS view_id
        |  FROM events v, wm
        |  WHERE v.event_type = 'view'
        |    AND epoch_us(v.ts) < wm.w - 14400000000
        |    AND NOT EXISTS (SELECT 1 FROM events c
        |      WHERE c.event_type = 'click' AND c.user_id = v.user_id
        |      AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |      AND epoch_us(v.ts) <= epoch_us(c.ts)))
        |SELECT * FROM inner_j UNION ALL SELECT * FROM outer_c
        |UNION ALL SELECT * FROM outer_v
        |ORDER BY click_id NULLS FIRST, view_id NULLS FIRST""".stripMargin,
    // Right outer: the view-side rule alone.
    "stream_right_outer_join_exec" ->
      """WITH wm AS (
        |  SELECT least(
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |    // 1000 * 1000 - 28800000000 AS w
        |  FROM events),
        |inner_j AS (
        |  SELECT c.event_id AS click_id, v.event_id AS view_id
        |  FROM events c JOIN events v
        |    ON v.user_id = c.user_id
        |    AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |    AND epoch_us(v.ts) <= epoch_us(c.ts)
        |  WHERE c.event_type = 'click' AND v.event_type = 'view'),
        |outer_v AS (
        |  SELECT CAST(NULL AS BIGINT) AS click_id, v.event_id AS view_id
        |  FROM events v, wm
        |  WHERE v.event_type = 'view'
        |    AND epoch_us(v.ts) < wm.w - 14400000000
        |    AND NOT EXISTS (SELECT 1 FROM events c
        |      WHERE c.event_type = 'click' AND c.user_id = v.user_id
        |      AND epoch_us(v.ts) >= epoch_us(c.ts) - 14400000000
        |      AND epoch_us(v.ts) <= epoch_us(c.ts)))
        |SELECT * FROM inner_j UNION ALL SELECT * FROM outer_v
        |ORDER BY click_id NULLS FIRST, view_id""".stripMargin,
    // Batch simulation of the engine's watermark protocol over the SAME
    // deterministic 5-batch split (identical ntile expression). Spark's
    // micro-batch engine carries TWO watermarks per batch (since 3.4):
    // late-INPUT filtering uses the batch's STARTING watermark — the
    // value committed before the previous batch ran, i.e. derived from
    // batches ≤ k−2 (calibrated empirically: a 1-batch lag over-drops,
    // 378 vs 197 groups at sf0.001) — while state EVICTION/emission uses
    // the freshly advanced value. Hence: a row in batch k is dropped iff
    // its hourly window closed under max event time of batches ≤ k−2
    // (ms-truncated, as the engine tracks watermarks) minus the 1 h
    // delay; append mode ultimately emits exactly the windows the FINAL
    // watermark (global max − delay, advanced by AvailableNow's no-data
    // batch) passed.
    // Relational replay of the engine's per-batch telemetry (all three
    // rules observed and pinned, the WatermarkTieSpec method):
    //   - drops use the PRE-batch watermark (max event time over batches
    //     <= k-2, the late_data_exec convention) and count the MERGED
    //     final-aggregate rows the state operator actually sees — i.e.
    //     DISTINCT late (window, type) groups per batch, not raw rows;
    //   - eviction/emission uses the POST-batch watermark (<= k-1);
    //   - the AvailableNow closing no-data batch runs iff the final
    //     batch ADVANCED the watermark (max(b5) > max(b1..4)).
    "stream_drop_audit_exec" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |bm AS (SELECT b, max(us) AS bmax, count(*) AS n_input
        |       FROM e GROUP BY b),
        |spine AS (
        |  SELECT b FROM (SELECT unnest(range(1, 7)) AS b)
        |  WHERE b <= 5 OR (SELECT max(bmax) FROM bm WHERE b = 5) >
        |    (SELECT max(bmax) FROM bm WHERE b <= 4)),
        |wm AS (
        |  SELECT s.b AS b,
        |    (SELECT max(bmax) FROM bm WHERE bm.b <= s.b - 2) AS premax,
        |    (SELECT max(bmax) FROM bm WHERE bm.b <= s.b - 1) AS postmax
        |  FROM spine s),
        |rw AS (
        |  SELECT b, event_type,
        |    (us // 3600000000) * 3600000000 AS wsb,
        |    (us // 3600000000) * 3600000000 + 3600000000 AS we
        |  FROM e),
        |drops AS (
        |  SELECT r.b, count(DISTINCT (r.wsb, r.event_type)) AS n_dropped
        |  FROM rw r JOIN wm ON wm.b = r.b
        |  WHERE r.we <= coalesce(wm.premax // 1000 * 1000 - 3600000000,
        |    CAST(-1 AS BIGINT))
        |  GROUP BY r.b),
        |kept AS (
        |  SELECT r.wsb, r.event_type, r.we, min(r.b) AS fb
        |  FROM rw r JOIN wm ON wm.b = r.b
        |  WHERE r.we > coalesce(wm.premax // 1000 * 1000 - 3600000000,
        |    CAST(-1 AS BIGINT))
        |  GROUP BY r.wsb, r.event_type, r.we),
        |emit AS (
        |  SELECT g.wsb, g.event_type, g.fb,
        |    (SELECT min(wm.b) FROM wm
        |     WHERE coalesce(wm.postmax // 1000 * 1000 - 3600000000,
        |       CAST(-1 AS BIGINT)) >= g.we) AS eb
        |  FROM kept g),
        |em AS (SELECT eb AS b, count(*) AS n_emitted FROM emit
        |       WHERE eb IS NOT NULL GROUP BY eb),
        |-- state occupancy at the end of batch k: groups whose first
        |-- kept arrival is <= k and whose eviction batch is later
        |st AS (
        |  SELECT s.b, count(*) AS n_state
        |  FROM spine s JOIN emit e
        |    ON e.fb <= s.b AND (e.eb IS NULL OR e.eb > s.b)
        |  GROUP BY s.b)
        |SELECT s.b AS batch_seq,
        |  CAST(coalesce(bm.n_input, 0) AS BIGINT) AS n_input,
        |  CAST(coalesce(drops.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(coalesce(em.n_emitted, 0) AS BIGINT) AS n_emitted,
        |  CAST(coalesce(st.n_state, 0) AS BIGINT) AS n_state
        |FROM spine s
        |LEFT JOIN bm ON bm.b = s.b
        |LEFT JOIN drops ON drops.b = s.b
        |LEFT JOIN em ON em.b = s.b
        |LEFT JOIN st ON st.b = s.b
        |ORDER BY batch_seq""".stripMargin,
    "late_data_exec" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS us,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    (us // 3600000000) * 3600000000 AS ws,
        |    (us // 3600000000) * 3600000000 + 3600000000 AS we,
        |    max(us) OVER (ORDER BY b RANGE BETWEEN UNBOUNDED PRECEDING
        |      AND 2 PRECEDING) AS prevmax,
        |    max(us) OVER () AS gmax
        |  FROM e)
        |SELECT ws // 1000000 AS bucket_ts, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
        |FROM w
        |WHERE we > coalesce(prevmax // 1000 * 1000 - 3600000000, -1)
        |  AND we <= gmax // 1000 * 1000 - 3600000000
        |GROUP BY ws, event_type
        |ORDER BY bucket_ts, event_type""".stripMargin,
    // Exact replay of the bounded-state dedup (see streamDedupWmExec's
    // determinism construction): emit one row per (user, type, hour
    // bucket) whose FIRST-arrival batch beat the watermark in force
    // during that batch — the starting watermark, i.e. max truncated
    // event time over batches ≤ k−2 minus the 1-day delay. A key whose
    // first arrival is late stays late under a monotone watermark, so
    // no recurrence is needed.
    "stream_dedup_wm_exec" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |k AS (
        |  SELECT user_id, event_type, b,
        |    (us // 3600000000) * 3600000000 AS bus,
        |    max((us // 3600000000) * 3600000000) OVER (ORDER BY b
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |      AS prevmax
        |  FROM e),
        |f AS (
        |  SELECT *, min(b) OVER (PARTITION BY user_id, event_type, bus)
        |    AS b0
        |  FROM k)
        |SELECT DISTINCT user_id, event_type, bus // 1000000 AS bucket_ts
        |FROM f
        |WHERE b = b0
        |  AND bus > coalesce(prevmax // 1000 * 1000 - 86400000000, -1)
        |ORDER BY user_id, event_type, bucket_ts""".stripMargin,
    // Per-user running event count over the replayed batch assignment:
    // one emission per (user, batch-with-rows), carrying the cumulative
    // total through that batch.
    "stream_state_exec" ->
      """WITH e AS (
        |  SELECT user_id,
        |    ntile(5) OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |      event_id) AS b
        |  FROM events),
        |per AS (SELECT user_id, b, count(*) AS c FROM e GROUP BY user_id, b)
        |SELECT user_id,
        |  CAST(sum(c) OVER (PARTITION BY user_id ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
        |FROM per ORDER BY user_id, cum_events""".stripMargin)
}
