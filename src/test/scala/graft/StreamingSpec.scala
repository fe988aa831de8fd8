package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingDemo

/** Structured Streaming semantics (SURVEY.md §7.5): the batch-declared
  * window aggregations run unchanged over an unbounded source, and the
  * watermark drops late data — the two behaviors no batch oracle can grade.
  */
case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling hourly agg over a stream matches the same agg in batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val data = Seq(
      Ev(ts(5), 1, "view", 1.0), Ev(ts(20), 2, "view", 2.0),
      Ev(ts(65), 1, "click", 3.0), Ev(ts(70), 3, "view", 4.0),
      Ev(ts(130), 2, "click", 5.0))
    val mem = MemoryStream[Ev]
    mem.addData(data: _*)
    val q = StreamingDemo.tumblingHourly(mem.toDF())
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    val streamed = spark.table("tumble_out")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = StreamingDemo.tumblingHourly(data.toDF())
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingDemo.tumblingHourly(mem.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: events in hour 0 and hour 5 — watermark advances to 04:00
    mem.addData(Ev(ts(10), 1, "view", 1.0), Ev(ts(300), 1, "view", 1.0))
    q.processAllAvailable()
    // batch 2: a very late hour-0 event — behind the watermark, dropped
    mem.addData(Ev(ts(15), 2, "view", 9.0))
    q.processAllAvailable()
    // batch 3: advance far enough to close every window
    mem.addData(Ev(ts(900), 1, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_out").collect()
    val hour0 = out.filter(_.getAs[Timestamp]("bucket") == ts(0))
    assert(hour0.length == 1)
    // late event was NOT merged: hour-0 window still counts only batch 1
    assert(hour0.head.getAs[Long]("n") == 1L)
  }

  test("file-source stream over the real events parquet equals batch") {
    val events = Tables(spark, sf, "events") // also sets the nanos conf
    // file streams read directories (a stream inbox): stage the file in one
    val inbox = java.nio.file.Files.createTempDirectory("graft_inbox")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      inbox.resolve("events.parquet"))
    val rawSchema = spark.read.parquet(s"$sf/events.parquet").schema
    // The ONE shared dual-vintage normalization (Tables.normalizeEventsTs).
    val streamEvents = Tables.normalizeEventsTs(
      spark.readStream.schema(rawSchema).parquet(inbox.toString),
      rawSchema("ts").dataType)
    val q = StreamingDemo.tumblingHourly(streamEvents)
      .writeStream.format("memory").queryName("file_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    val streamed = spark.table("file_out")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = StreamingDemo.tumblingHourly(events)
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingDemo.runningUserTotals(mem.toDF())
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 2.0),
      Ev(ts(2), 2, "view", 5.0))
    q.processAllAvailable()
    mem.addData(Ev(ts(3), 1, "view", 4.0))
    q.processAllAvailable()
    q.stop()
    // last update for user 1 must reflect state carried over batch 1
    val u1 = spark.table("state_out")
      .filter(col("user_id") === 1L)
      .orderBy(col("n_events").desc).collect()
    assert(u1.head.getAs[Long]("n_events") == 3L)
    assert(u1.head.getAs[Double]("sum_value") == 7.0)
  }

  test("transformWithState (Spark 4 state API) matches flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store provider — also
    // the provider a 100 TB deployment runs (state larger than heap).
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")) {
      val mem = MemoryStream[Ev]
      val q = StreamingDemo.runningUserTotalsTws(mem.toDF())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      mem.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(1), 1, "view", 2.0),
        Ev(ts(2), 2, "view", 5.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 1, "view", 4.0))
      q.processAllAvailable()
      q.stop()
      val u1 = spark.table("tws_out")
        .filter(col("user_id") === 1L)
        .orderBy(col("n_events").desc).collect()
      assert(u1.head.getAs[Long]("n_events") == 3L)
      assert(u1.head.getAs[Double]("sum_value") == 7.0)
      val u2 = spark.table("tws_out").filter(col("user_id") === 2L).collect()
      assert(u2.map(r => (r.getLong(1), r.getDouble(2))).toSet ==
        Set((1L, 5.0)))
    }
  }

  test("transformWithState initial state warm-starts keys from a batch " +
      "seed (the batch-to-stream cutover path)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")) {
      // The seed stands in for a batch job's final per-user totals.
      val seed = Seq((1L, graft.streaming.UserState(2L, 3.0))).toDS()
      val mem = MemoryStream[Ev]
      val q = StreamingDemo.runningUserTotalsWarmStart(mem.toDF(), seed)
        .writeStream.format("memory").queryName("warm_out")
        .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // u1 continues FROM the seed (2 events / 3.0); u3 starts cold.
        mem.addData(Ev(ts(0), 1, "view", 4.0), Ev(ts(1), 3, "view", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("warm_out")
        .as[(Long, Long, Double)].collect().toList.sortBy(_._1)
      assert(rows == List((1L, 3L, 7.0), (3L, 1L, 1.0)),
        s"seeded totals must carry into the first batch; got $rows")
    }
  }

  test("transformWithState ListState/MapState + event-time timer: " +
      "arm on first row, emit+clear on watermark expiry") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")) {
      val mem = MemoryStream[Ev]
      val q = StreamingDemo.sessionAudit(mem.toDF())
        .writeStream.format("memory").queryName("audit_out")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      // stop() in finally: a failing mid-test assert must not leak a
      // running query (and its queryName) into the shared session.
      try {
        // Batch 1: user 1's session — 3 events, 2 distinct types, inside
        // one hour. Timer armed at first event + 1 h; watermark only
        // reaches ts(20*60) < expiry, so nothing may emit yet.
        mem.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(10), 1, "view", 1.0),
          Ev(ts(20), 1, "click", 1.0))
        q.processAllAvailable()
        assert(spark.table("audit_out").isEmpty,
          "timer must not fire before the watermark passes expiry")
        // Batch 2: user 2 two hours later pushes the watermark past user
        // 1's expiry — the timer fires, emits the audit from List+Map
        // state, and clears. User 2's own timer stays unexpired.
        mem.addData(Ev(ts(120), 2, "view", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("audit_out")
        .as[(Long, Long, Long)].collect().toList
      assert(rows == List((1L, 3L, 2L)),
        s"expected user 1's (n_events=3, n_types=2) audit only; got $rows")
    }
  }

  test("session windows over a stream produce gap-separated sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts(0), 7, "view", 1.0), Ev(ts(10), 7, "view", 1.0),  // session 1
      Ev(ts(100), 7, "view", 1.0),                            // session 2
      Ev(ts(900), 7, "view", 0.0))                            // close all
    val q = StreamingDemo.sessions30m(mem.toDF())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    val sessions = spark.table("sess_out").collect()
    assert(sessions.length == 3)
    assert(sessions.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 1L, 2L))
  }

  test("dropDuplicatesWithinWatermark dedups replays across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = mem.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(Ev(ts(10), 1, "view", 1.0), Ev(ts(11), 1, "view", 2.0))
    q.processAllAvailable()
    // replay of the same (user, type) within the watermark → dropped
    mem.addData(Ev(ts(12), 1, "view", 3.0), Ev(ts(900), 9, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("dedup_out").filter(col("user_id") === 1L).collect()
    assert(u1.length == 1, u1.mkString(","))
  }

  test("stream-stream interval join matches views to purchases per user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val v = views.toDF().withWatermark("ts", "1 hour")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val b = buys.toDF().withWatermark("ts", "1 hour")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    val joined = v.join(b,
      col("v_user") === col("b_user") &&
        col("b_ts") >= col("v_ts") &&
        col("b_ts") <= col("v_ts") + expr("interval 30 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    views.addData(Ev(ts(0), 1, "view", 1.0), Ev(ts(0), 2, "view", 1.0))
    buys.addData(Ev(ts(20), 1, "purchase", 5.0),  // within 30m of view
      Ev(ts(50), 2, "purchase", 5.0))             // outside 30m
    q.processAllAvailable()
    // advance both watermarks so results finalize
    views.addData(Ev(ts(900), 9, "view", 0.0))
    buys.addData(Ev(ts(900), 9, "purchase", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ssjoin_out")
      .filter(col("v_user") < 9).collect()
    assert(out.map(_.getAs[Long]("v_user")).toSeq == Seq(1L))
  }

  test("foreachBatch sink writes stream aggregates to parquet end-to-end") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("stream_sink").toString
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(ts(5), 1, "view", 1.0), Ev(ts(20), 2, "view", 2.0),
      Ev(ts(65), 1, "click", 3.0), Ev(ts(900), 9, "view", 0.0))
    val q = StreamingDemo.tumblingHourly(mem.toDF())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$dir/agg")
        ()
      }
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination(); q.stop()
    // the sink table is a real parquet dataset the batch engine can read
    val sunk = spark.read.parquet(s"$dir/agg")
    val batchRef = StreamingDemo.tumblingHourly(Seq(
      Ev(ts(5), 1, "view", 1.0), Ev(ts(20), 2, "view", 2.0),
      Ev(ts(65), 1, "click", 3.0), Ev(ts(900), 9, "view", 0.0)).toDF())
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
