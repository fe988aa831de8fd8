package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GoldenGen, Logs, SparkEntry, Tables}

/** Runs one workload — a fixed list of `SparkEntry.queries` keys — in one
  * JVM, one key after another (a closed loop with one client), and writes
  * its metrics as JSON. The seed only permutes the key order of each pass
  * after the cold one. The cold pass keeps the listed order: its first key
  * pays the first use of shared code paths, and a seed-chosen first key
  * would make that cost vary from run to run.
  *
  *   set-up → cold pass (timed; after each key, untimed, the output
  *   check: collect the key's frame and compare its digest) → measured
  *   passes: at least three, and until `--seconds` have passed
  *
  * Each key is timed around its two public calls: the query function and
  * `.count()` on the frame it returns. With `--trace 1` the measured passes
  * alternate untraced and traced (U T U …, at least three): the traced ones
  * give the per-layer figures, each traced pass minus the untraced pass
  * after it gives the tracing overhead, and the component probes run last.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, config: String, data: String, digests: String,
      out: String, record: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1", need("--config"), need("--data"),
      need("--digests"), need("--out"), m.get("--record").contains("1"))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and the
    * sample at that rank (nearest rank from the top). Below twenty samples
    * that percentile would sit under the median, so the slowest key's
    * median is reported instead, as percentile 100 of the key medians: the
    * maximum of so few samples moves too much from run to run. */
  private def tail(xs: Seq[Double], keyMedians: Iterable[Double])
      : (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (100.0, keyMedians.max)
    else (100.0 * (s.size - 10) / s.size, s(s.size - 11))
  }

  final case class KeyRun(key: String, pass: Int, buildS: Double,
      countS: Double, ok: Boolean, error: String) {
    def wallS: Double = buildS + countS
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: IllegalArgumentException =>
          log(s"error: ${e.getMessage}")
          2
      }
    sys.exit(code)
  }

  private def run(o: Opts): Int = {
    val cfg = json.readTree(new File(o.config))
    val dataDir = new File(o.data).getAbsolutePath
    val workloads = cfg.get("workloads")
    def keysOf(w: com.fasterxml.jackson.databind.JsonNode): Vector[String] = {
      val b = Vector.newBuilder[String]
      w.get("keys").elements.forEachRemaining(k => b += k.asText)
      b.result()
    }
    val w = workloads.get(o.workload)
    if (w == null && !o.record)
      throw new IllegalArgumentException(s"unknown workload '${o.workload}'")
    val keys: Vector[String] =
      if (o.record) {
        val all = mutable.LinkedHashSet[String]()
        workloads.elements.forEachRemaining(all ++= keysOf(_))
        all.toVector
      } else keysOf(w)

    val queries = SparkEntry.queries
    val unknown = keys.filterNot(queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"workload keys missing from SparkEntry.queries: ${unknown.mkString(", ")}")
    val golden: Map[String, String] =
      if (o.record) Map.empty
      else scala.io.Source.fromFile(o.digests).getLines()
        .map(_.split("\t")).collect { case Array(k, rows, md5) =>
          k -> s"$rows\t$md5" }.toMap
    val undigested = keys.filterNot(k => o.record || golden.contains(k))
    if (undigested.nonEmpty)
      throw new IllegalArgumentException(
        s"no recorded digest for: ${undigested.mkString(", ")}")

    // ---- set-up: JVM start → session ready, like graft.Bench ------------
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", new File("warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietNoisy()
    val tt = System.nanoTime
    Tables.names.foreach { n =>
      try Tables(spark, dataDir, n).count()
      catch { case NonFatal(_) => () }
    }
    val touchS = (System.nanoTime - tt) / 1e9
    try spark.sql("SELECT 'a' = 'A' COLLATE UTF8_LCASE").count()
    catch { case NonFatal(_) => () }
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
    log(f"setup: $setupS%.2f s (table touches $touchS%.2f s)")

    val runs = ArrayBuffer[KeyRun]()
    def order(pass: Int): Vector[String] =
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(keys)

    /** Times the query function and `.count()`; returns the frame too. */
    def timeKey(k: String, pass: Int)
        : (KeyRun, Long, Long, Long, Option[DataFrame]) = {
      val t0 = Clock.us()
      val n0 = System.nanoTime
      var n1 = n0
      var tb = t0
      var frame: Option[DataFrame] = None
      val r =
        try {
          val df: DataFrame = queries(k)(spark, dataDir)
          frame = Some(df)
          n1 = System.nanoTime
          tb = Clock.us()
          df.count()
          KeyRun(k, pass, (n1 - n0) / 1e9, (System.nanoTime - n1) / 1e9,
            ok = true, "")
        } catch {
          case NonFatal(e) =>
            KeyRun(k, pass, (n1 - n0) / 1e9, (System.nanoTime - n1) / 1e9,
              ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(300))
        }
      runs += r
      (r, t0, tb, Clock.us(), frame)
    }

    val tracer = if (o.trace) Some(new Tracer(spark)) else None

    // ---- cold pass, each key's output checked after its timed calls -------
    // The output check collects the frame the key's query function returned
    // and compares its digest with the recorded one. It is untimed and its
    // compiles are not counted. It runs here rather than in a pass of its
    // own: that would add 11-13 s to an olap run, and its collects also warm
    // the JIT before the measured passes (on a shared 4-vCPU VM, with the
    // check run last instead, ten olap runs read 17% more CPU per measured
    // pass and a cold_pass_s spread of 0.23).
    val digests = mutable.LinkedHashMap[String, String]()
    val verifyS = mutable.Map[String, Double]()
    var mismatches = 0
    var coldPassS = 0.0
    var coldCompiles = 0L
    tracer.foreach(_.attach())
    tracer.foreach(_.take())
    keys.foreach { k =>
      val (r, _, _, _, frame) = timeKey(k, 0)
      coldPassS += r.wallS
      tracer.foreach(t => coldCompiles += t.take().compiles)
      val t0 = System.nanoTime
      val got =
        try {
          val rows = frame.getOrElse(sys.error(r.error)).collect()
          s"${rows.length}\t${GoldenGen.digest(rows)}"
        } catch { case NonFatal(e) => s"error\t${e.getClass.getName}" }
      verifyS(k) = (System.nanoTime - t0) / 1e9
      tracer.foreach(_.take())
      digests(k) = got
      if (!o.record && golden(k) != got) {
        mismatches += 1
        log(s"output check failed: $k: got $got, recorded ${golden(k)}")
      }
    }
    tracer.foreach(_.detach())
    log(f"cold pass: $coldPassS%.2f s; output check: ${verifyS.values.sum}%.2f s, $mismatches mismatches")
    if (o.record) {
      val broken = digests.collect { case (k, d) if d.startsWith("error") => k }
      if (broken.nonEmpty) {
        log(s"not recording: keys failed: ${broken.mkString(", ")}")
        spark.stop()
        return 1
      }
      Files.writeString(Paths.get(o.digests), keys.sorted
        .map(k => s"$k\t${digests(k)}").mkString("", "\n", "\n"))
      spark.stop()
      return 0
    }

    // ---- measured passes ----------------------------------------------
    // The JIT is still warming through these passes (the first runs about a
    // quarter slower), so warm_pass_s takes each key's best; traced runs
    // need U T U. More passes would not fit the run budget.
    val minPasses = 3
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val measured = ArrayBuffer[(Int, Boolean, Double)]() // pass, traced, s
    val passLayers = ArrayBuffer[Map[String, Double]]()
    val keyLayers = mutable.LinkedHashMap[String, ArrayBuffer[Seq[(String, Double)]]]()
    val spans = ArrayBuffer[Span]()
    var spanId = 0L
    val nextId = () => { spanId += 1; spanId }
    val cpu0 = cpuBean.getProcessCpuTime
    val tm = System.nanoTime
    var i = 0
    while (i < minPasses || (System.nanoTime - tm) / 1e9 < o.seconds) {
      val pass = 1 + i
      val traced = tracer.isDefined && i % 2 == 1
      if (traced) { tracer.get.attach(); tracer.get.take() }
      val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val passSpans = ArrayBuffer[Span]()
      var passS = 0.0
      order(pass).foreach { k =>
        val (r, t0, tb, t1, _) = timeKey(k, pass)
        passS += r.wallS
        if (traced) {
          val ev = tracer.get.take()
          val lm = Trace.layerMetrics(ev, r.wallS, r.buildS, r.countS)
          lm.foreach { case (n, v) => sums(n) += v }
          keyLayers.getOrElseUpdate(k, ArrayBuffer()) += lm
          passSpans ++= Trace.keySpans(nextId, k, pass, t0, tb, t1, ev)
        }
      }
      if (traced) {
        tracer.get.detach()
        val self = Trace.selfTimes(passSpans.toSeq)
        Seq("queries", "catalyst", "exec", "stream").foreach { l =>
          sums(s"self.${l}_s") =
            passSpans.filter(_.layer == l).map(s => self(s.id)).sum / 1e6
        }
        spans ++= passSpans
        passLayers += sums.toMap
      }
      measured += ((pass, traced, passS))
      log(f"measured pass ${i + 1}${if (traced) " (traced)" else ""}: $passS%.2f s")
      i += 1
    }
    val cpuPerPassS = (cpuBean.getProcessCpuTime - cpu0) / 1e9 / measured.size

    // ---- per-key samples over the untraced measured passes --------------
    val untracedPasses = measured.filterNot(_._2).map(_._1).toSet
    val samples = runs.filter(r => untracedPasses(r.pass) && r.ok)
    val perKeyMedian = samples.groupBy(_.key).map { case (k, rs) =>
      k -> median(rs.map(_.wallS).toSeq) }
    // Best of the measured passes per key, as graft.Bench takes: co-tenant
    // bursts on a shared host slow whole passes, never speed them up.
    val warmPassS = samples.groupBy(_.key).values.map(_.map(_.wallS).min).sum
    val (tailPct, tailS) = tail(samples.map(_.wallS).toSeq, perKeyMedian.values)
    val p50S = median(samples.map(_.wallS).toSeq)

    // ---- component probes (traced run only) ------------------------------
    val probeS = ListMap.newBuilder[String, Double]
    var probeFailures = 0
    val probes = if (o.trace) Probes.all(new File("probes").getAbsolutePath)
      else Nil
    val probeReps = 3
    probes.foreach { case (name, probe) =>
      val times = (0 until probeReps).map { _ =>
        val t0 = System.nanoTime
        val ok =
          try probe(spark, dataDir) > 0
          catch {
            case NonFatal(e) =>
              log(s"probe $name failed: $e")
              false
          }
        if (!ok) probeFailures += 1
        (System.nanoTime - t0) / 1e9
      }
      probeS += s"components.${name}_s" -> median(times)
    }

    // Retained heap: the least in use after each of three full collections.
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }.min
    spark.stop()

    val attempted = runs.size + keys.size + probes.size * probeReps
    val failedRuns = runs.filterNot(_.ok)
    failedRuns.groupBy(_.key).foreach { case (k, rs) =>
      log(s"key failed ${rs.size}x: $k: ${rs.head.error}") }
    val failed = failedRuns.size + mismatches + probeFailures

    val endToEnd = ListMap(
      "setup_s" -> setupS,
      "cold_pass_s" -> coldPassS,
      "warm_pass_s" -> warmPassS,
      "query_p50_s" -> p50S,
      "query_tail_s" -> tailS,
      "process_cpu_s" -> cpuPerPassS,
      "heap_retained_mb" -> heapMb)

    val tracedPassS = measured.filter(_._2).map(_._3).toSeq
    val untracedPassS = measured.filterNot(_._2).map(_._3).toSeq
    val overheadS = measured.zip(measured.drop(1)).collect {
      case ((_, true, t), (_, false, u)) => t - u }.toSeq
    val perLayer: ListMap[String, Double] =
      if (!o.trace) ListMap.empty
      else {
        val names = passLayers.head.keys.toSeq
        ListMap("tables.touch_s" -> touchS,
          "codegen.cold_compiles" -> coldCompiles.toDouble) ++
          ListMap(names.map(n =>
            n -> median(passLayers.map(_.getOrElse(n, 0.0)).toSeq)): _*) ++
          ListMap(
            "trace.traced_pass_s" -> median(tracedPassS),
            "trace.untraced_pass_s" -> median(untracedPassS),
            "trace.overhead_s" -> median(overheadS)) ++
          probeS.result()
      }

    val report = ListMap(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "traced" -> o.trace,
      "cpus" -> cpus,
      "keys" -> keys.size,
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "measured_passes" -> measured.map { case (p, t, s) =>
        ListMap("pass" -> p, "traced" -> t, "wall_s" -> s) }.toSeq,
      "query_samples" -> samples.size,
      "query_tail_percentile" -> tailPct,
      "end_to_end" -> endToEnd,
      "end_to_end_samples" -> ListMap("setup_s" -> 1, "cold_pass_s" -> 1,
        "warm_pass_s" -> untracedPasses.size,
        "query_p50_s" -> samples.size, "query_tail_s" -> samples.size,
        "process_cpu_s" -> measured.size, "heap_retained_mb" -> 1),
      "per_layer" -> perLayer,
      "per_key" -> keys.sorted.map { k =>
        val rs = runs.filter(r => r.key == k && untracedPasses(r.pass))
        ListMap("key" -> k,
          "cold_s" -> runs.find(r => r.key == k && r.pass == 0).map(_.wallS),
          "verify_s" -> verifyS(k),
          "warm_median_s" -> perKeyMedian.get(k),
          "warm_samples" -> rs.size,
          "warm_s" -> rs.map(_.wallS).toSeq,
          "digest_ok" -> (golden(k) == digests(k))) ++
          keyLayers.get(k).map { ls =>
            ListMap(ls.head.map(_._1).map(n =>
              n -> median(ls.map(_.toMap.apply(n)).toSeq)): _*)
          }.getOrElse(ListMap.empty)
      })
    Files.writeString(Paths.get(o.out), json.writeValueAsString(report))
    if (o.trace) {
      val self = Trace.selfTimes(spans.toSeq)
      val lines = spans.map { s =>
        json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "key" -> s.key,
          "pass" -> s.pass, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "self_us" -> self(s.id)))
      }
      Files.writeString(Paths.get(o.out).resolveSibling("spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
    0
  }
}

object Clock {
  /** Wall clock in epoch microseconds, comparable with Spark's event times. */
  def us(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000
  }
}
