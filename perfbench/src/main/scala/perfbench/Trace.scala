package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run, in epoch microseconds. `parent` is the
  * id of the span that caused it (0 for a key span). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    key: String, pass: Int, startUs: Long, endUs: Long)

/** What the trace listeners saw while one key ran. Listener threads write,
  * the bench thread reads after draining the bus, so every access goes
  * through the owning [[Tracer]]'s lock. */
final class KeyEvents {
  var stages, tasks, taskFailures = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  val jobs = ArrayBuffer[(Long, Long, Int)]()           // start ms, end ms, id
  var actions = 0L
  val phases = ArrayBuffer[(String, Long, Long)]()      // catalyst phase, ms
  val batches = ArrayBuffer[(Long, Long, Long)]()       // start ms, end ms, id
  val streamMs = mutable.Map[String, Long]().withDefaultValue(0L)
  var stateCommitMs, stateUpdateMs = 0L
  val stateRows = mutable.Map[String, Long]()           // last batch per run
  val stateMemory = mutable.Map[String, Long]()
  var compiles = 0L
}

/** The benchmark's own listeners: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for Catalyst's phase times, and a
  * StreamingQueryListener for micro-batch progress. Keys run one at a
  * time, so everything posted between two [[take]] calls belongs to the
  * key that ran between them. */
final class Tracer(spark: SparkSession) {
  private var cur = new KeyEvents
  private val jobStarts = mutable.Map[Int, Long]()
  private var compilesSeen = compileCount()

  private def compileCount(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        val start = jobStarts.remove(e.jobId).getOrElse(e.time)
        cur.jobs += ((start, e.time, e.jobId))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        cur.tasks += 1
        if (e.reason != org.apache.spark.Success) cur.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          cur.taskRunMs += m.executorRunTime
          cur.taskCpuNs += m.executorCpuTime
          cur.gcMs += m.jvmGCTime
          cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          cur.peakExecMem = math.max(cur.peakExecMem, m.peakExecutionMemory)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      cur.actions += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        cur.phases += ((phase, s.startTimeMs, s.endTimeMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        d.foreach { case (k, v) => cur.streamMs(k) += v }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        cur.batches += ((start, start + d.getOrElse("triggerExecution", 0L),
          p.batchId))
        val ops = p.stateOperators
        cur.stateCommitMs += ops.map(_.commitTimeMs).sum
        cur.stateUpdateMs += ops.map(_.allUpdatesTimeMs).sum
        if (ops.nonEmpty) {
          cur.stateRows(p.runId.toString) = ops.map(_.numRowsTotal).sum
          cur.stateMemory(p.runId.toString) = ops.map(_.memoryUsedBytes).sum
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** The events since the previous call, once the bus has delivered them. */
  def take(): KeyEvents = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val done = cur
      cur = new KeyEvents
      val c = compileCount()
      done.compiles = c - compilesSeen
      compilesSeen = c
      done
    }
  }
}

object Trace {
  /** Length of the union of intervals, in their own unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) {
        total += e - math.max(s, end)
        end = e
      }
    }
    total
  }

  /** Per-layer figures of one key run, all in seconds, bytes or counts. */
  def layerMetrics(ev: KeyEvents, wallS: Double, buildS: Double,
      countS: Double): Seq[(String, Double)] = {
    val busyS = unionLength(ev.jobs.map(j => (j._1, j._2)).toSeq) / 1e3
    def phaseS(name: String) =
      ev.phases.collect { case (`name`, s, e) => e - s }.sum / 1e3
    val triggerS = ev.streamMs("triggerExecution") / 1e3
    Seq(
      "queries.build_s" -> buildS,
      "queries.count_s" -> countS,
      "catalyst.actions" -> ev.actions.toDouble,
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "codegen.compiles" -> ev.compiles.toDouble,
      "exec.jobs" -> ev.jobs.size.toDouble,
      "exec.stages" -> ev.stages.toDouble,
      "exec.tasks" -> ev.tasks.toDouble,
      "exec.task_failures" -> ev.taskFailures.toDouble,
      "exec.busy_s" -> busyS,
      "exec.task_run_s" -> ev.taskRunMs / 1e3,
      "exec.task_cpu_s" -> ev.taskCpuNs / 1e9,
      "exec.gc_s" -> ev.gcMs / 1e3,
      "exec.shuffle_read_bytes" -> ev.shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> ev.shuffleWrite.toDouble,
      "exec.spill_bytes" -> ev.spill.toDouble,
      "exec.peak_exec_mem_bytes" -> ev.peakExecMem.toDouble,
      "driver.gap_s" -> math.max(0.0, wallS - busyS),
      "stream.batches" -> ev.batches.size.toDouble,
      "stream.trigger_s" -> triggerS,
      "stream.query_planning_s" -> ev.streamMs("queryPlanning") / 1e3,
      "stream.add_batch_s" -> ev.streamMs("addBatch") / 1e3,
      "stream.wal_commit_s" -> ev.streamMs("walCommit") / 1e3,
      "stream.commit_offsets_s" -> ev.streamMs("commitOffsets") / 1e3,
      "stream.latest_offset_s" -> ev.streamMs("latestOffset") / 1e3,
      "stream.get_batch_s" -> ev.streamMs("getBatch") / 1e3,
      "stream.outside_trigger_s" ->
        (if (ev.batches.isEmpty) 0.0 else math.max(0.0, buildS - triggerS)),
      "state.commit_s" -> ev.stateCommitMs / 1e3,
      "state.update_s" -> ev.stateUpdateMs / 1e3,
      "state.rows_total" -> ev.stateRows.values.sum.toDouble,
      "state.memory_bytes" -> ev.stateMemory.values.sum.toDouble)
  }

  /** The span tree of one key run: the key, its build and count calls,
    * and the Catalyst phases, jobs and micro-batches it caused. A phase,
    * job or batch is parented to the innermost key, call or batch span
    * that contains its start. */
  def keySpans(nextId: () => Long, key: String, pass: Int, t0Us: Long,
      tBuildUs: Long, t1Us: Long, ev: KeyEvents): Seq[Span] = {
    val root = Span(nextId(), 0, "key", key, key, pass, t0Us, t1Us)
    val build = Span(nextId(), root.id, "queries", "build", key, pass,
      t0Us, tBuildUs)
    val count = Span(nextId(), root.id, "queries", "count", key, pass,
      tBuildUs, t1Us)
    def fromMs(layer: String, name: String, startMs: Long, endMs: Long) =
      Span(nextId(), 0, layer, name, key, pass, startMs * 1000,
        math.max(startMs, endMs) * 1000)
    val batches = ev.batches.toSeq.map { case (s, e, id) =>
      fromMs("stream", s"batch $id", s, e) }
    val leaves =
      ev.phases.toSeq.map { case (ph, s, e) => fromMs("catalyst", ph, s, e) } ++
        ev.jobs.toSeq.map { case (s, e, id) => fromMs("exec", s"job $id", s, e) }
    val holders = Seq(root, build, count) ++ batches
    def parentOf(sp: Span): Long =
      holders.filter(h => h.id != sp.id && h.startUs <= sp.startUs &&
          sp.startUs <= h.endUs)
        .minByOption(h => h.endUs - h.startUs).map(_.id).getOrElse(root.id)
    Seq(root, build, count) ++
      (batches ++ leaves).map(sp => sp.copy(parent = parentOf(sp)))
  }

  /** Self time per span: its duration minus the part of its interval that
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { sp =>
      val covered = unionLength(kids.getOrElse(sp.id, Nil).map(c =>
        (math.max(c.startUs, sp.startUs), math.min(c.endUs, sp.endUs)))
        .filter { case (s, e) => e > s })
      sp.id -> ((sp.endUs - sp.startUs) - covered)
    }.toMap
  }
}
