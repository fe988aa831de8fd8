package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev only; the driver passes 2): comma-separated
    // key filter for fast single-key verification loops.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Per-key line protocol on STDOUT (bounded: one line per key, no
      // stack traces) so any log capture — even one that drops stderr or
      // truncates tails — still yields a machine-parseable per-key status.
      // CORRECTNESS_r{9,10}.json arrived empty from the driver; these
      // lines are the grep-able fallback evidence trail (same fix Bench
      // got in r3 when its tail was truncated).
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(s"GRAFT_VERIFY key=$name dump=OK")
      } catch { case e: Throwable =>
        failed += name
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(160)
        println(s"GRAFT_VERIFY key=$name dump=FAIL msg=$msg")
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Machine-readable status beside the parquet dumps: if the driver
    // copies the verify out dir but its log capture truncates (the
    // r9/r10 empty-artifact failure mode), this file is the third
    // independent record of per-key dump status.
    def qs(s: String): String = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val statusJson = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => only.forall(_.contains(k)))
      .map(k => s"${qs(k)}: ${qs(if (failed.contains(k)) "dump_fail"
        else "dump_ok")}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    // One-line round-log summary: a systematic failure (e.g. a fixture
    // schema drift breaking one table's whole key family) must be visible
    // at a glance, not spread over 46 interleaved stack traces.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} keys FAILED: ${failed.sorted.mkString(",")}")
    else System.err.println("[verify] all keys dumped ok")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Unfiltered copy for dev tooling (oracle dtype scans etc.) so a
    // filtered re-verify never clobbers the full SQL inventory.
    val jsonAll = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_all.json"), jsonAll)
    // The 5 ⊘ sketch keys have no bit-comparable oracle; without this
    // their CORRECTNESS rows read `err: no_oracle`, indistinguishable
    // from a broken query. Emit the measured error bounds (the same
    // bounds OperatorSpec gates) so the round artifacts carry the
    // evidence, archived both beside the verify output and in-repo.
    if (only.isEmpty) {
      try {
        val bounds = sketchBounds(spark, sfDir)
        // In-repo archive path is overridable (-Dgraft.sketchBounds.path=…)
        // so the harness runs unchanged outside this container layout.
        val repoCopy = sys.props.getOrElse(
          "graft.sketchBounds.path", "/root/repo/SKETCH_BOUNDS.json")
        Seq(s"$outDir/SKETCH_BOUNDS.json", repoCopy)
          .foreach(p => Files.writeString(Paths.get(p), bounds + "\n"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] sketch bounds failed: ${e.getMessage}")
      }
    }
    // Tail defense (r12, mirroring Bench): CORRECTNESS_r{9,10,11} all
    // arrived empty from the driver's capture, so the per-key pass map
    // must ALSO be the very last stdout of the process — after
    // spark.stop(), past any shutdown log noise. Two lines: the full
    // per-key map (may be clipped by a bounded tail), then a compact
    // summary whose final position survives any truncation window.
    spark.stop()
    println("GRAFT_VERIFY_MAP " + statusJson)
    val nOk = SparkEntry.queries.keys
      .count(k => only.forall(_.contains(k)) && !failed.contains(k))
    println(s"""GRAFT_VERIFY_SUMMARY {"dump_ok":$nOk,""" +
      s""""dump_fail":${failed.size},""" +
      s""""failed":${failed.sorted.map(qs).mkString("[", ",", "]")}}""")
  }

  /** Measured sketch error vs exact, as one JSON line:
    * approx_distinct / hll_sketch_union → max relative error per group
    * (bound 0.05, the HLL default-rsd gate); approx_percentile → count of
    * values outside the exact [q−1%, q+1%] rank window (bound 0). */
  private def sketchBounds(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "events")
    val exactD = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def maxRelErr(rows: Array[(String, Long)], exact: Map[String, Long]) =
      rows.map { case (k, a) =>
        math.abs(a - exact(k).toDouble) / exact(k) }.max
    val adErr = maxRelErr(
      SparkEntry.queries("approx_distinct")(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("approx_users")), exactD)
    val hllExact = exactD + ("ALL" -> e.select(col("user_id")).distinct().count())
    val hllErr = maxRelErr(
      SparkEntry.queries("hll_sketch_union")(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("approx_users")), hllExact)
    val approxP = SparkEntry.queries("approx_percentile")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val windows = e.groupBy(col("event_type")).agg(
      expr("percentile(value, array(0.49, 0.89, 0.98))").as("lo"),
      expr("percentile(value, array(0.51, 0.91, 1.0))").as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1), r.getSeq[Double](2))).toMap
    val pViolations = approxP.map { case (et, vals) =>
      val (lo, hi) = windows(et)
      vals.indices.count(i => vals(i) < lo(i) || vals(i) > hi(i))
    }.sum
    // t-digest: same exact-rank 1% window as approx_percentile (the
    // windows map reuses identical q ± 0.01 percentile arrays).
    val tdIdx = Map(0.5 -> 0, 0.9 -> 1, 0.99 -> 2)
    val tdViolations = SparkEntry.queries("tdigest_quantile")(spark, sfDir)
      .collect().count { r =>
        val (lo, hi) = windows(r.getString(0))
        val i = tdIdx(r.getAs[Double]("q"))
        val v = r.getAs[Double]("est")
        v < lo(i) || v > hi(i)
      }
    // CMS one-sided error: overcount ≥ 0 always; ≤ ε·N with prob 1−δ
    // (ε = 1e-4, the key's build parameter; N = total word instances).
    val cmsRows = SparkEntry.queries("cms_heavy_hitters")(spark, sfDir)
      .collect()
    val cmsNeg = cmsRows.count(_.getAs[Long]("overcount") < 0)
    // foldLeft, not .max: an empty result must yield an explicit FAILING
    // bounds entry below, not throw and silently leave a stale file.
    val cmsMaxOver = cmsRows.foldLeft(0L)(_ max _.getAs[Long]("overcount"))
    val nWords = Tables(spark, sfDir, "documents")
      .select(explode(graft.operators.TextOps.tokens(col("text"))))
      .count()
    val cmsBound = math.ceil(1e-4 * nWords).toLong
    val cmsPass = cmsRows.nonEmpty && cmsNeg == 0 && cmsMaxOver <= cmsBound
    f"""{"approx_distinct":{"metric":"max_rel_err_vs_exact","value":$adErr%.4f,"bound":0.05,"pass":${adErr <= 0.05}},"hll_sketch_union":{"metric":"max_rel_err_vs_exact","value":$hllErr%.4f,"bound":0.05,"pass":${hllErr <= 0.05}},"approx_percentile":{"metric":"values_outside_1pct_rank_window","value":$pViolations,"bound":0,"pass":${pViolations == 0}},"tdigest_quantile":{"metric":"values_outside_1pct_rank_window","value":$tdViolations,"bound":0,"pass":${tdViolations == 0}},"cms_heavy_hitters":{"metric":"max_overcount_vs_eps_n","value":$cmsMaxOver,"bound":$cmsBound,"undercounts":$cmsNeg,"pass":$cmsPass}}"""
  }
}
