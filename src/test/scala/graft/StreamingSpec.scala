package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQ

/** Structured Streaming semantics (SURVEY.md §7.5) on StreamQ's own plan
  * builders: the batch-declared window aggregations run unchanged over
  * an unbounded source, the watermark drops late data, and the stateful
  * operators carry state across micro-batches — the behaviors no batch
  * oracle can grade, checked here on the plans the keys run.
  */
case class Ev(ts: Timestamp, user_id: Long, event_type: String,
    value: Double, event_id: Long = 0L)

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** Run `plan` over a MemoryStream into memory table `name`, feeding
    * `batches` one micro-batch each (each drained, trailing no-data batch
    * included); the query stops even when a batch fails. */
  private def memRun(name: String, mode: String = "append")(
      plan: DataFrame => DataFrame)(batches: Seq[Ev]*): DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = plan(mem.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.ProcessingTime(0)).start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  test("tumbling hourly agg over a stream matches the same agg in batch") {
    import spark.implicits._
    val data = Seq(
      Ev(ts(5), 1, "view", 1.0), Ev(ts(20), 2, "view", 2.0),
      Ev(ts(65), 1, "click", 3.0), Ev(ts(70), 3, "view", 4.0),
      Ev(ts(130), 2, "click", 5.0))
    val streamed = memRun("tumble_out", "complete")(
      StreamQ.hourly(_, withSum = true))(data)
      .orderBy("bucket_ts", "event_type").collect().toSeq
    val batch = StreamQ.hourly(data.toDF(), withSum = true)
      .orderBy("bucket_ts", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("watermark drops late rows in append mode") {
    val out = memRun("late_out")(StreamQ.lateData)(
      // batch 1: events in hour 0 and hour 5 — watermark advances to 04:00
      Seq(Ev(ts(10), 1, "view", 1.0), Ev(ts(300), 1, "view", 1.0)),
      // batch 2: a very late hour-0 event — behind the watermark, dropped
      Seq(Ev(ts(15), 2, "view", 9.0)),
      // batch 3: advance far enough to close every window
      Seq(Ev(ts(900), 1, "view", 1.0))).collect()
    val hour0 = out.filter(_.getAs[Long]("bucket_ts") == ts(0).getTime / 1000)
    assert(hour0.length == 1)
    // late event was NOT merged: hour-0 window still counts only batch 1
    assert(hour0.head.getAs[Long]("n") == 1L)
  }

  test("file-source stream over the real events parquet equals batch") {
    // stream_tumble_exec's source and plan, into a memory sink
    val q = StreamQ.hourly(StreamQ.sourceEvents(spark, sf), withSum = true)
      .writeStream.format("memory").queryName("file_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    val streamed = spark.table("file_out")
      .orderBy("bucket_ts", "event_type").collect().toSeq
    val batch = StreamQ.hourly(Tables(spark, sf, "events"), withSum = true)
      .orderBy("bucket_ts", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  // users 1 (twice) and 2, then user 1 again: one emission per user per
  // batch it appears in, carrying the running totals
  private val twoBatches = Seq(
    Seq(Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 2.0),
      Ev(ts(2), 2, "view", 5.0)),
    Seq(Ev(ts(3), 1, "view", 4.0)))
  private val runningCounts = Set((1L, 2L), (2L, 1L), (1L, 3L))

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    import spark.implicits._
    val rows = memRun("state_out")(StreamQ.runningCounts)(twoBatches: _*)
      .as[(Long, Long)].collect().toSet
    // user 1's second emission carries the count kept from batch 1
    assert(rows == runningCounts)
  }

  test("transformWithState (Spark 4 state API) matches flatMapGroupsWithState") {
    import spark.implicits._
    val rows = withRocksDb {
      memRun("tws_out")(StreamQ.cumTotals(_))(twoBatches: _*)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(rows.map(r => (r._1, r._2)) == runningCounts)
    // exact scaled sums: value · 10⁴
    assert(rows == Set((1L, 2L, 30000L), (2L, 1L, 50000L), (1L, 3L, 70000L)))
  }

  test("transformWithState initial state warm-starts keys from a batch " +
      "seed (the batch-to-stream cutover path)") {
    import spark.implicits._
    // The seed stands in for a batch job's final per-user (count, sum).
    val seed = Seq((1L, 2L, 30000L)).toDS()
    val rows = withRocksDb {
      // u1 continues FROM the seed (2 events / 3.0); u3 starts cold.
      memRun("warm_out")(StreamQ.cumTotals(_, Some(seed)))(
        Seq(Ev(ts(0), 1, "view", 4.0), Ev(ts(1), 3, "view", 1.0)))
        .as[(Long, Long, Long)].collect().toList.sortBy(_._1)
    }
    assert(rows == List((1L, 3L, 70000L), (3L, 1L, 10000L)),
      s"seeded totals must carry into the first batch; got $rows")
  }

  test("transformWithState ListState/MapState + event-time timer: " +
      "arm on first row, emit+clear on watermark expiry") {
    import spark.implicits._
    // Watermark delay 1 h, timer expiry = first event + 2 h.
    val batches = Seq(
      // u1 arms at 00:00 (expiry 02:00); the watermark stays below it
      Seq(Ev(ts(0), 1, "view", 1.0), Ev(ts(10), 1, "view", 2.0),
        Ev(ts(20), 1, "click", 3.0)),
      // u1's 4th row joins the open session; u2 at 04:00 lifts the
      // watermark to 03:00, so u1's timer fires with n = 4 and clears
      Seq(Ev(ts(60), 1, "view", 4.0), Ev(ts(240), 2, "view", 1.0)),
      // u1 after the clear: a fresh session, re-armed at 07:00
      Seq(Ev(ts(300), 1, "purchase", 5.0)),
      // watermark 09:00 fires u2 (06:00) and u1's second session (07:00)
      Seq(Ev(ts(600), 9, "view", 0.0)))
    def ms(minute: Int) = ts(minute).getTime
    val (fired, audits) = withRocksDb {
      (memRun("timer_out")(StreamQ.timerSessions)(batches: _*)
        .as[(Long, Long, Long)].collect().toSet,
        memRun("audit_out")(StreamQ.listMapAudit)(batches: _*)
          .as[(Long, Long, Long, Long)].collect().toSet)
    }
    assert(fired == Set((1L, 4L, ms(120)), (2L, 1L, ms(360)),
      (1L, 1L, ms(420))), s"timer emissions: $fired")
    // the list keeps every value (count, exact sum) and the map every
    // type across batches: one audit per user per batch it appears in
    assert(audits == Set((1L, 3L, 60000L, 2L), (1L, 4L, 100000L, 2L),
      (2L, 1L, 10000L, 1L), (1L, 5L, 150000L, 3L), (9L, 1L, 0L, 1L)),
      s"list/map audits: $audits")
  }

  test("session windows over a stream produce gap-separated sessions") {
    val sessions = memRun("sess_out", "complete")(StreamQ.sessions)(Seq(
      Ev(ts(0), 7, "view", 1.0), Ev(ts(10), 7, "view", 1.0),  // session 1
      Ev(ts(100), 7, "view", 1.0),                            // session 2
      Ev(ts(900), 7, "view", 0.0))).collect()                 // session 3
    assert(sessions.length == 3)
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 1L, 2L))
  }

  test("dropDuplicatesWithinWatermark dedups replays across batches") {
    val out = memRun("dedup_out")(StreamQ.hourlyDedup)(
      Seq(Ev(ts(10), 1, "view", 1.0), Ev(ts(11), 1, "view", 2.0)),
      // replay of the same (user, type, hour) within the watermark → dropped
      Seq(Ev(ts(12), 1, "view", 3.0), Ev(ts(900), 9, "view", 0.0)))
    val u1 = out.filter(col("user_id") === 1L).collect()
    assert(u1.length == 1, u1.mkString(","))
  }

  test("stream-stream interval join matches views to purchases per user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the keys' join: clicks (the purchases) match views in the 4 hours
    // up to the click, on user_id
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamQ.clickViewJoin(clicks.toDF(), views.toDF(), "inner")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      views.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(0), 2, "view", 1.0))
      clicks.addData(Ev(ts(120), 1, "click", 5.0), // 2 h after the view
        Ev(ts(300), 2, "click", 5.0))              // 5 h: outside 4 h
      q.processAllAvailable()
      // advance both watermarks so results finalize
      views.addData(Ev(ts(1400), 9, "view", 0.0))
      clicks.addData(Ev(ts(1400), 9, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ssjoin_out")
      .filter(col("user_id") < 9).collect()
    assert(out.map(_.getAs[Long]("user_id")).toSeq == Seq(1L))
  }

  test("foreachBatch sink writes stream aggregates to parquet end-to-end") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream_sink").toString
    val data = Seq(
      Ev(ts(5), 1, "view", 1.0), Ev(ts(20), 2, "view", 2.0),
      Ev(ts(65), 1, "click", 3.0), Ev(ts(900), 9, "view", 0.0))
    val mem = MemoryStream[Ev]
    mem.addData(data: _*)
    val q = StreamQ.hourly(mem.toDF(), withSum = true)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$dir/agg")
        ()
      }
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    // the sink table is a real parquet dataset the batch engine can read
    val sunk = spark.read.parquet(s"$dir/agg")
    val batchRef = StreamQ.hourly(data.toDF(), withSum = true)
    assert(sunk.count() == batchRef.count())
    assert(sunk.agg(sum("n")).collect()(0).getLong(0) ==
      batchRef.agg(sum("n")).collect()(0).getLong(0))
  }

  private val ckptManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  test("StreamQ checkpoints keep Spark's per-file checksums and the " +
      "checkpoint manager pin does not outlive the run") {
    val runs = new java.io.File(graft.queries.core.scratchRoot,
      "stream_fojoin")
    def runDirs = Option(runs.listFiles()).toSet.flatten
    val before = runDirs
    graft.queries.StreamQ.queries("stream_full_outer_join_exec")(spark, sf)
      .collect()
    val added = runDirs -- before
    assert(added.size == 1, s"expected one new run dir, got $added")
    // ckpt/state/<op>/<partition>/<store>/N.delta
    val deltas = for {
      p <- new java.io.File(added.head, "ckpt/state/0").listFiles().toSeq
      store <- p.listFiles().toSeq if store.isDirectory
      f <- store.listFiles().toSeq if f.getName.matches("\\d+\\.delta")
    } yield f
    assert(deltas.nonEmpty, "the run wrote no state delta files")
    val missing = deltas.filterNot(f =>
      new java.io.File(f.getParentFile, f.getName + ".crc").isFile)
    assert(missing.isEmpty, s"delta files without a checksum: $missing")
    assert(spark.conf.getOption(ckptManagerKey).isEmpty,
      s"$ckptManagerKey leaked into the session after the run")
  }

  test("a repeated StreamQ run reuses Spark's compiled code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val isolationKey = "spark.sql.artifact.isolation.enabled"
    val isolationBefore = spark.conf.get(isolationKey)
    def run() = graft.queries.StreamQ.queries("stream_full_outer_join_exec")(
      spark, sf).collect()
    val first = run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run().toSet == first.toSet)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second run compiled generated code again")
    assert(spark.conf.get(isolationKey) == isolationBefore)
  }

  test("core.withConfs restores a prior value and unsets an absent key " +
      "when the body throws") {
    val had = "spark.sql.files.maxPartitionBytes"
    val absent = ckptManagerKey
    withConfs(had -> "1234567") {
      assert(spark.conf.getOption(absent).isEmpty)
      intercept[IllegalStateException] {
        graft.queries.core.withConfs(spark)(had -> "65536", absent -> "x") {
          assert(spark.conf.get(had) == "65536")
          assert(spark.conf.get(absent) == "x")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(had) == "1234567")
      assert(spark.conf.getOption(absent).isEmpty)
    }
  }

  test("a failing StreamQ run rethrows and leaves no session conf behind") {
    val keys = Seq("spark.sql.shuffle.partitions", ckptManagerKey,
      "spark.sql.artifact.isolation.enabled",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    def confs = keys.map(k => k -> spark.conf.getOption(k))
    val before = confs
    val fail = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("row failed"); id }
    val plan = spark.readStream.format("graft.sources.RangeSource")
      .option("rows", 100).option("rowsPerBatch", 100)
      .option("partitions", 1).load()
      .select(fail(col("id")).as("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.queries.StreamQ.runStream(spark, "failing_run", "append",
        rocksDb = true)(plan)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("row failed")))
    assert(confs == before)
    // the in-flight guard of the run's partition scope was released
    assert(graft.queries.core.withShuffleParts(spark, 2)(
      spark.conf.get("spark.sql.shuffle.partitions")) == "2")
  }

  test("replay staging restages cleanly over an interrupted staging") {
    val box = new java.io.File(graft.queries.core.scratch(sf, "late_inbox"))
    org.apache.commons.io.FileUtils.deleteDirectory(box)
    // debris of a staging cut off mid-loop: no _staged marker, a leftover
    // tmp dir and a truncated batch file
    new java.io.File(box, "_tmp3").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(box, "_tmp3/part-00000.parquet").toPath, Array[Byte](1))
    java.nio.file.Files.write(
      new java.io.File(box, "batch-02.parquet").toPath, "PAR1".getBytes)
    val rows = graft.queries.StreamQ.queries("late_data_exec")(spark, sf)
      .collect()
    val batches = box.listFiles().filter(_.getName.startsWith("batch-"))
      .sortBy(_.getName).toSeq
    assert(batches.map(_.getName) ==
      (1 to 5).map(i => f"batch-$i%02d.parquet"))
    for ((b, i) <- batches.zip(1 to 5))
      assert(b.lastModified == 1700000000000L + i * 60000L, b.getName)
    assert(spark.read.parquet(batches.map(_.getAbsolutePath): _*).count() ==
      Tables(spark, sf, "events").count())
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_sf0.001.tsv"), "UTF-8")
    val Array(_, n, h) = try src.getLines().map(_.split("\t"))
      .find(_(0) == "late_data_exec").get finally src.close()
    assert(rows.length == n.toInt && GoldenGen.digest(rows) == h)
  }
}
