package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.queries.StreamQ

/** Boundary-TIE pin for the watermark protocol the three §2.19 goldens
  * (`late_data_exec`, `stream_dedup_wm_exec`, `stream_state_exec` — see
  * StreamQ.oracle) encode: the fixture corpora never place a window end
  * EXACTLY on a watermark, so the oracles' inclusive/exclusive boundary
  * choices were calibrated but not tie-exercised. This spec manufactures
  * the tie with a synthetic hour-aligned max event time and asserts the
  * engine's rule at each boundary:
  *
  *   - EMISSION tie: a window whose end == the advanced watermark IS
  *     emitted (and its state evicted) — the oracle's inclusive
  *     `we <= gmax − delay` filter is the engine's rule, not an
  *     approximation;
  *   - LATE-INPUT tie: a row whose window closed exactly AT the starting
  *     watermark is DROPPED (oracle keeps rows via strict
  *     `we > prevmax − delay`), and is not merged into already-emitted
  *     state;
  *   - EVENT-TIME tie: a row timestamped exactly AT the watermark is
  *     KEPT (the late filter is strict `ts < watermark`).
  *
  * Spark-version coupling: these rules (and the two-watermark micro-batch
  * protocol the goldens replay) are Spark ≥3.4 behavior, verified on the
  * 4.1 line this repo builds against. If this spec fails after a Spark
  * upgrade, the engine's boundary protocol changed — recalibrate the three
  * StreamQ.oracle goldens BEFORE trusting any §2.19 hash. */
class WatermarkTieSpec extends SparkSpec {

  private def hts(h: Int, m: Int = 0, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$sec%02d")

  test("exact watermark/window-end ties: emit-inclusive, drop-inclusive, " +
      "event-time-exclusive (protocol pin for the §2.19 goldens)") {
    assert(spark.version.startsWith("4."),
      s"goldens calibrated on Spark 4.x; running ${spark.version} — " +
        "recalibrate StreamQ.oracle before trusting §2.19 hashes")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamQ.lateData(mem.toDF())
      .writeStream.format("memory").queryName("tie_pin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("tie_pin")
      .select("bucket_ts", "n", "sum_value").as[(Long, Long, Double)]
      .collect().sortBy(_._1).toList
      .map { case (b, n, sum) => (new Timestamp(b * 1000), n, sum) }
    // Batch 1: 08:30 plus a max event at EXACTLY 10:00:00 → the advanced
    // watermark is 09:00:00.000, the exact end of window [08:00, 09:00).
    mem.addData(Ev(hts(8, 30), 1, "view", 1.0), Ev(hts(10), 1, "view", 1.0))
    q.processAllAvailable()
    // EMISSION tie: [08:00,09:00) end == watermark → already emitted.
    assert(rows() == List((hts(8), 1L, 1.0)),
      s"window end == watermark must emit (inclusive); got ${rows()}")
    // Batch 2 under starting watermark 09:00: a late row whose window end
    // ties the watermark, and an on-time row exactly AT the watermark.
    mem.addData(Ev(hts(8, 45), 2, "view", 100.0), Ev(hts(9), 3, "view", 7.0))
    q.processAllAvailable()
    // LATE tie dropped: hour-8 stays (n=1, sum=1.0) — the 100.0 never lands.
    assert(rows() == List((hts(8), 1L, 1.0)),
      s"late row with window end == starting watermark must drop; got ${rows()}")
    // Batch 3: advance far enough to close every remaining window.
    mem.addData(Ev(hts(23), 1, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    // EVENT-TIME tie kept: the 09:00:00 row aggregated into [09:00,10:00).
    assert(rows() == List(
      (hts(8), 1L, 1.0), (hts(9), 1L, 7.0), (hts(10), 1L, 1.0)),
      s"row at ts == watermark must be kept; got ${rows()}")
  }

  /** The outer-join eviction tie `stream_outer_join_exec`'s oracle
    * encodes: an unmatched left row null-emits only when the watermark
    * STRICTLY passes its event time (`cts < wm`); a row exactly AT the
    * watermark stays in state. Runs the key's join
    * (StreamQ.clickViewJoin: 8 h watermarks, views in the 4 h up to each
    * click), manufactured with an hour-aligned max event time on both
    * streams (multi-watermark policy = min, so both sides must advance). */
  test("outer-join null-extension tie: cts == watermark stays in state " +
      "(strict eviction — protocol pin for stream_outer_join_exec)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamQ.clickViewJoin(clicks.toDF(), views.toDF(), "left_outer")
      .select(col("user_id"), col("cts"), col("vts"))
      .writeStream.format("memory").queryName("ojoin_tie")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("ojoin_tie")
      .as[(Long, Timestamp, Option[Timestamp])]
      .collect().sortBy(_._1).toList
    // stop() in finally: a failing mid-test assert must not leak a
    // running query into the shared session.
    try {
      // Batch 1. Clicks: u1@08:00 (unmatched, strictly below the coming
      // watermark), u2@10:00 (unmatched, exactly AT it), u3@09:30
      // (matched by the u3@09:00 view), u9@18:00 (the max — sets click
      // watermark 18:00 − 8 h). Views: u3@09:00 (the match), u8@18:00
      // (advances view watermark).
      clicks.addData(Ev(hts(8), 1, "click", 0), Ev(hts(10), 2, "click", 0),
        Ev(hts(9, 30), 3, "click", 0), Ev(hts(18), 9, "click", 0))
      views.addData(Ev(hts(9), 3, "view", 0), Ev(hts(18), 8, "view", 0))
      q.processAllAvailable()
      // processAllAvailable drains the trailing no-data batch too, so the
      // watermark is already 10:00 and eviction has run: the inner match
      // plus u1's null-extension — NOT u2, whose cts ties the watermark.
      assert(rows() == List(
        (1L, hts(8), None), (3L, hts(9, 30), Some(hts(9)))),
        s"after batch 1 + eviction: inner match + strict null; got ${rows()}")
      // Batches 2-3: dummy non-advancing data (both at the existing max)
      // — the watermark stays 10:00, so the tie row must KEEP not
      // emitting.
      for (_ <- 1 to 2) {
        clicks.addData(Ev(hts(18), 9, "click", 0))
        views.addData(Ev(hts(18), 8, "view", 0))
        q.processAllAvailable()
      }
    } finally q.stop()
    // u1 (08:00 < 10:00) null-emits; u2 (10:00 == wm) must STAY in state;
    // u9/u3 never null-emit (above watermark / already matched).
    assert(rows() == List(
      (1L, hts(8), None), (3L, hts(9, 30), Some(hts(9)))),
      "strict eviction: only the strictly-below-watermark unmatched " +
        s"click may null-emit; got ${rows()}")
  }

  /** The chained join→agg finalization rule `stream_join_agg_exec`'s
    * oracle encodes: the aggregate's input watermark is the JOIN's
    * output watermark — min-of-sides wm DELAYED by the join's max state
    * retention (the view side holds an interval's worth of state) — and
    * a window finalizes when its end is STRICTLY below that delayed
    * watermark. The tie rule is the OPPOSITE of the plain-agg emission
    * tie above (inclusive): discovered by this very test — the first
    * draft asserted inclusive and the engine held the tied window back.
    * The fixture tiers calibrate the delay (sf0.01: 131 emitted vs 132
    * under the un-delayed rule) but never tie the boundary; this
    * manufactures both: a window end exactly AT the delayed watermark
    * (must NOT emit) and the delay gap itself (a window between the
    * delayed and un-delayed watermarks must NOT emit). Runs the key's
    * plan (StreamQ.joinAgg: 8 h watermarks, 4 h interval). */
  test("chained join→agg tie: windows finalize STRICTLY below the " +
      "join-delayed watermark (protocol pin for stream_join_agg_exec)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamQ.joinAgg(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("jagg_tie")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("jagg_tie").select("bucket_ts", "n")
      .as[(Long, Long)].collect().sortBy(_._1).toList
      .map { case (b, n) => (new Timestamp(b * 1000), n) }
    try {
      // One matched pair per window [08,09) [09,10) [10,11); the 22:00
      // rows drive both side watermarks to 14:00 (delay 8 h) and join
      // nothing. Join delay = 4 h (the interval) → agg watermark 10:00.
      clicks.addData(Ev(hts(8, 30), 1, "click", 0),
        Ev(hts(9, 30), 2, "click", 0), Ev(hts(10, 30), 3, "click", 0),
        Ev(hts(22), 9, "click", 0))
      views.addData(Ev(hts(8, 30), 1, "view", 0),
        Ev(hts(9, 30), 2, "view", 0), Ev(hts(10, 30), 3, "view", 0),
        Ev(hts(22), 8, "view", 0))
      q.processAllAvailable()
    } finally q.stop()
    // [08,09): end 09:00 < 10:00 → emits. [09,10): end == 10:00 → the
    // TIE, stays in state (strict). [10,11): end 11:00 ≤ the un-delayed
    // wm but above the delayed one → stays in state (the delay itself).
    assert(rows() == List((hts(8), 1L)),
      "chained agg must finalize strictly below the join-delayed " +
        s"watermark; got ${rows()}")
  }

  /** The chained agg→join rule `stream_agg_join_exec`'s oracle encodes:
    * both windowed aggregates finalize INCLUSIVELY at the global
    * (min-of-sides) watermark — the plain-agg emission tie — and the
    * window-equality join passes the tied finalized rows through
    * without a late-drop (the join's event-time columns are the window
    * bounds themselves, never older than the watermark that released
    * them). Manufactured: window end exactly AT the watermark on both
    * sides must traverse the whole chain. Runs the key's plan
    * (StreamQ.aggJoin: 8 h watermarks). */
  test("chained agg→join tie: windows finalized AT the watermark " +
      "(inclusive) traverse the join (protocol pin for " +
      "stream_agg_join_exec)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamQ.aggJoin(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("ajoin_tie")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def rows() = spark.table("ajoin_tie")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
      .map { case (b, c, v) => (new Timestamp(b * 1000), c, v) }
    try {
      // [08,09) populated on BOTH sides; the 17:00 max rows drive both
      // watermarks to exactly 09:00 == the window end (the tie); the
      // [17,18) windows stay open. Inclusive finalization + join
      // passthrough ⇒ exactly the hour-8 joined row emits.
      clicks.addData(Ev(hts(8, 15), 1, "click", 0),
        Ev(hts(8, 45), 2, "click", 0), Ev(hts(17), 9, "click", 0))
      views.addData(Ev(hts(8, 30), 3, "view", 0), Ev(hts(17), 8, "view", 0))
      q.processAllAvailable()
    } finally q.stop()
    assert(rows() == List((hts(8), 2L, 1L)),
      "a window whose end ties the watermark must finalize on both " +
        s"sides and traverse the join; got ${rows()}")
  }

  /** The timer-fire tie `stream_timer_exec`'s oracle encodes: an
    * event-time timer fires as soon as the watermark REACHES its expiry
    * (`expiry <= wm`, INCLUSIVE — unlike the strict join-state eviction
    * above; discovered by this tie, invisible at the fixture tiers where
    * both rules agree). Below-expiry watermarks must not fire. Runs the
    * graded key's plan (StreamQ.timerSessions: 1 h watermark delay, 2 h
    * horizon, under the RocksDB provider transformWithState requires),
    * with hour-aligned times manufacturing the exact boundary. */
  test("event-time timer tie: expiry == watermark fires " +
      "(inclusive fire — protocol pin for stream_timer_exec)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[Ev]
      val q = StreamQ.timerSessions(mem.toDF())
        .writeStream.format("memory").queryName("timer_tie")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      def fired() = spark.table("timer_tie")
        .as[(Long, Long, Long)].collect().toList.sortBy(_._1)
      // stop() in finally: a failing mid-test assert must not leak a
      // running query into the shared session.
      try {
        // u1 arms at 08:00 → expiry 10:00. The max event at 10:59:59
        // puts the watermark (delay 1 h) one second BELOW the expiry.
        mem.addData(Ev(hts(8), 1, "view", 0),
          Ev(hts(10, 59, 59), 9, "view", 0))
        q.processAllAvailable()
        assert(fired().isEmpty,
          s"watermark below expiry must not fire; got ${fired()}")
        // A max event at EXACTLY 11:00 drives the watermark to == expiry
        // — the inclusive rule fires the timer, counting u1's one row.
        mem.addData(Ev(hts(11), 9, "view", 0))
        q.processAllAvailable()
      } finally q.stop()
      assert(fired() == List((1L, 1L, hts(10).getTime)),
        s"expiry == watermark must fire (inclusive); got ${fired()}")
    }
  }
}
