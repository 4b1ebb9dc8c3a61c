package graftbench

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced runs. A SparkListener counts jobs,
  * tasks, task run time and input / shuffle / spill bytes; a
  * QueryExecutionListener on each traced session sums Catalyst's
  * optimisation and physical-planning phases and the execution time of
  * every action. Counters only grow; the harness reads them as
  * before/after differences around each phase of a run. */
final class Trace(spark: SparkSession) {
  private val jobs, tasks, taskRunMs, inputB, shuffleB, spillB = new LongAdder
  private val optimizeMs, physicalMs, execNs = new LongAdder

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        inputB.add(m.inputMetrics.bytesRead)
        shuffleB.add(m.shuffleWriteMetrics.bytesWritten)
        spillB.add(m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get(QueryPlanningTracker.OPTIMIZATION).foreach(p => optimizeMs.add(p.durationMs))
      ph.get(QueryPlanningTracker.PLANNING).foreach(p => physicalMs.add(p.durationMs))
      execNs.add(durationNs)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)

  /** Watch the actions of one more session (listener managers are per
    * session, and `newSession` starts with an empty one). */
  def watch(s: SparkSession): Unit =
    Trace.classic(s).listenerManager.register(qeListener)

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Current totals in reporting units (seconds, MB, counts). */
  def snapshot(): Map[String, Double] = {
    drain()
    val mb = 1024.0 * 1024.0
    Map(
      "plan.optimize_s" -> optimizeMs.sum / 1e3,
      "plan.physical_s" -> physicalMs.sum / 1e3,
      "exec.s" -> execNs.sum / 1e9,
      "exec.jobs" -> jobs.sum.toDouble,
      "exec.tasks" -> tasks.sum.toDouble,
      "exec.task_run_s" -> taskRunMs.sum / 1e3,
      "exec.input_mb" -> inputB.sum / mb,
      "exec.shuffle_mb" -> shuffleB.sum / mb,
      "exec.spill_mb" -> spillB.sum / mb)
  }
}

object Trace {
  def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** b - a for every key of b (counters missing from a count from 0). */
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
