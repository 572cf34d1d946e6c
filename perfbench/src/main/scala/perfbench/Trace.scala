package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters observed only at Spark's public listener boundaries.
  *
  * Layers: Catalyst phases per action (QueryExecutionListener), Spark
  * jobs/stages/tasks and executor task metrics (SparkListener), and the
  * `graft.*` module that opened each job's SQL execution. A job is
  * attributed through its `spark.sql.execution.id` property joined to
  * that execution's start event, whose `details` hold the call stack of
  * the thread that opened it; AQE submits stage jobs from pool threads,
  * so the job's own stage stack often names no graft frame.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  // execution id -> (root execution id, module named by its call stack)
  private val executions = mutable.Map.empty[Long, (Long, Option[String])]

  private def add(k: String, v: Double): Unit = counts(k) += v

  private val jobs = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        executions(s.executionId) =
          (s.rootExecutionId.getOrElse(s.executionId), moduleOf(s.details))
      }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val module =
          if (prop(PhaseKey).contains("action")) "action"
          else prop("spark.sql.execution.id").map(_.toLong)
            .flatMap(id => executions.get(id).flatMap { case (root, m) =>
              m.orElse(executions.get(root).flatMap(_._2))
            })
            .orElse(j.stageInfos.headOption.flatMap(s => moduleOf(s.details)))
            .getOrElse("other")
        jobStart(j.jobId) = (j.time, module)
      }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobStart.remove(j.jobId).foreach { case (t0, module) =>
          add("scheduler.jobs", 1)
          add(s"$module.jobs", 1)
          add(s"$module.job_s", (j.time - t0) / 1e3)
          jobSpans += ((t0, j.time))
        }
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized(add("scheduler.stages", 1))

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        add("scheduler.tasks", 1)
        if (t.reason != Success) add("scheduler.failed_tasks", 1)
        Option(t.taskMetrics).foreach { m =>
          add("executor.run_s", m.executorRunTime / 1e3)
          add("executor.cpu_s", m.executorCpuTime / 1e9)
          add("executor.gc_s", m.jvmGCTime / 1e3)
          add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
          add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
          add("spill_mb", m.diskBytesSpilled / Mb)
          add("scan.input_mb", m.inputMetrics.bytesRead / Mb)
        }
      }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, summary) =>
        PhaseNames.get(phase).foreach(n => add(n, summary.durationMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(catalyst)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counters accumulated since the last call, after the listener bus has
    * delivered every event posted so far. `scheduler.idle_s` is the part
    * of [t0, t1] (epoch ms) during which no job was running. */
  def take(t0: Long, t1: Long): Map[String, Double] = {
    drain()
    synchronized {
      val spans = jobSpans.map { case (a, b) => (a max t0, b min t1) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var end = t0
      spans.foreach { case (a, b) =>
        if (b > end) { busy += b - (a max end); end = b }
      }
      val out = counts.toMap + ("scheduler.idle_s" -> (t1 - t0 - busy) / 1e3)
      counts.clear(); jobSpans.clear()
      out
    }
  }
}

object Trace {
  /** Local property set around the final write of each query's frame. */
  val PhaseKey = "perfbench.phase"
  private val Mb = 1024.0 * 1024.0
  // analysis is left out: it runs when a closure builds its frame, before
  // the action, so it is part of query.eager_s and reads 0 here
  private val PhaseNames = Map(
    "optimization" -> "catalyst.optimizer_ms",
    "planning" -> "catalyst.planning_ms")

  private val Frame = """(?:^|[\s/])graft\.([\w.$]+)\.[^.(]+\(""".r.unanchored

  /** Simple name of the innermost `graft.*` class on a call stack. */
  def moduleOf(stack: String): Option[String] =
    stack.linesIterator.collectFirst { case Frame(cls) => cls.split('.').last.takeWhile(_ != '$') }
}
