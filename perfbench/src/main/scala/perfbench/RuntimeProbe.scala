package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime counters for the traced run: a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener plus a walk of each drained
  * plan for the SQL operator counts. Counts accumulate while the probe is
  * attached ([[during]]). */
final class RuntimeProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private var jobs, stages = 0L
  private var runMs, cpuNs, gcMs, shuffleW, shuffleR, spill = 0L
  private val taskMs = ArrayBuffer.empty[Double]
  private val taskWindows = ArrayBuffer.empty[Stats.Interval]
  private var exchanges, codegen, maxRows, sumRows, resultRows = 0L
  private var windowMs = 0L

  /** Runs `f` with the listeners attached. */
  def during[T](f: => T): T = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      synchronized { windowMs += System.currentTimeMillis() - t0 }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }


  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
    taskMs += e.taskInfo.duration.toDouble
    taskWindows += Stats.Interval(e.taskInfo.launchTime, e.taskInfo.finishTime)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    walk(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Adds a drained plan's operator counts; `rows` is what the drain returned. */
  def drained(qe: QueryExecution, rows: Long): Unit = {
    walk(qe.executedPlan)
    results(rows)
  }

  /** Counts `rows` result rows delivered by a pass whose plans the
    * QueryExecutionListener sees. */
  def results(rows: Long): Unit = synchronized { resultRows += rows }

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => ()
    case _ =>
      synchronized {
        if (p.isInstanceOf[Exchange]) exchanges += 1
        if (p.isInstanceOf[WholeStageCodegenExec]) codegen += 1
        p.metrics.get("numOutputRows").foreach { m =>
          sumRows += m.value
          maxRows = math.max(maxRows, m.value)
        }
      }
      p.children.foreach(walk)
  }

  /** Counters over the `passes` run [[during]] this probe, sums divided by
    * `passes`. */
  def snapshot(passes: Int): Map[String, (Double, String)] = {
    synchronized {
      val p = math.max(passes, 1).toDouble
      val idleMs = windowMs - Stats.covered(taskWindows.toSeq)
      Map(
        "spark.jobs" -> (jobs / p, "count"),
        "spark.stages" -> (stages / p, "count"),
        "spark.tasks" -> (taskMs.size / p, "count"),
        "spark.task_run_s" -> (runMs / 1e3 / p, "s"),
        "spark.task_cpu_s" -> (cpuNs / 1e9 / p, "s"),
        "spark.task_gc_s" -> (gcMs / 1e3 / p, "s"),
        "spark.task_p50_s" -> (if (taskMs.isEmpty) 0.0 else Stats.median(taskMs.toSeq) / 1e3, "s"),
        "spark.task_max_s" -> (if (taskMs.isEmpty) 0.0 else taskMs.max / 1e3, "s"),
        "spark.idle_s" -> (idleMs / 1e3 / p, "s"),
        "spark.shuffle_write_mb" -> (shuffleW / 1e6 / p, "MB"),
        "spark.shuffle_read_mb" -> (shuffleR / 1e6 / p, "MB"),
        "spark.spill_mb" -> (spill / 1e6 / p, "MB"),
        "spark.sql.exchanges" -> (exchanges / p, "count"),
        "spark.sql.codegen_stages" -> (codegen / p, "count"),
        "spark.sql.max_rows" -> (maxRows.toDouble, "count"),
        "spark.sql.rows_per_result" -> (if (resultRows == 0) 0.0 else sumRows.toDouble / resultRows, "ratio"))
    }
  }
}
