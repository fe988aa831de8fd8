package graft

/** Targeted log silencing for the driver-graded mains (Bench / Verify).
  *
  * The driver captures a bounded stdout TAIL; two rounds of bench
  * artifacts read `parsed: None` because repeated per-operator WARNs
  * (WindowExec's single-partition notice fires once per bounded-domain
  * window build, MicroBatchExecution/ResolveWriteToStream chatter fires
  * per streaming replay batch) swamped the capture window. These are
  * known-benign for graft (every global window is allowlisted as
  * bounded in PlanSweepSpec; the streaming replays are the staged
  * deterministic protocol), so the graded mains drop these loggers to
  * ERROR while leaving the session's global WARN level —
  * a genuinely new warning from anywhere else still surfaces.
  */
object Logs {
  /** Logger names are class names; LogsSpec loads each one, so a class
    * that moves in a Spark upgrade fails a test instead of going loud. */
  private[graft] val noisy = Seq(
    "org.apache.spark.sql.execution.window.WindowExec",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.sql.execution.streaming.state.RocksDB")

  def quietNoisy(): Unit = {
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.config.Configurator
      noisy.foreach(Configurator.setLevel(_, Level.ERROR))
      LogManager.getContext(false) match {
        case ctx: org.apache.logging.log4j.core.LoggerContext =>
          ctx.updateLoggers()
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
