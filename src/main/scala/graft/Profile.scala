package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Where each query of [[SparkEntry.queries]] spends its time, by job, stage
  * and operator. Usage: runMain graft.Profile <sfDir> <out> [queries...]
  * (no names: every query; cores: SPARK_GRAFT_CPUS, else all processors).
  *
  * Timing is [[Bench]]'s protocol (its session config, the executed plan
  * drained through `toRdd`, min of two runs in one session), so the seconds
  * compare with Bench's. Jobs, stages and SQL metrics come from the warm
  * second run. Per query, that run's plan goes to `<out>/plans/<q>.txt` and
  * a [[Profile.Record]] is appended as one JSON line to `<out>/PROFILE.json`.
  */
object Profile {

  /** One query's profile; JSON names are these in snake_case. `family`: the
    * query's family in [[graft.queries.Registry]]. `runsS`: both
    * runs (None: failed); `minS`: -1 if both failed. `executions`: internal
    * Dataset actions (a checkpoint, a witness) and the final `drain`, each with
    * its operators that have a non-zero rows, time, spill or size metric.
    * `schemaReads`: the warm run's [[Tables]] reads that inferred a parquet
    * schema and reads that reused one. `objectNodes`: the warm run's final
    * plan's operators that move rows to JVM objects ([[ObjectNodes]]), not
    * counting the plans of cached relations it scans; `lambdaExprs`: its
    * higher-order-function lambdas. */
  final case class Record(query: String, family: String, sf: String, cores: Int,
      runsS: Seq[Option[Double]], minS: Double, error: Option[String], jobs: Int, stages: Int,
      tasks: Int, exchanges: Int, codegenStages: Int, schemaReads: Tables.Reads, objectNodes: Int,
      lambdaExprs: Int, jobList: Seq[Job], stageList: Seq[Stage], executions: Seq[Execution])
  /** `description`: the job description, else its result stage's call site. */
  final case class Job(id: Int, wallMs: Long, description: String)
  /** `runMs`: summed task run time. */
  final case class Stage(id: Int, wallMs: Long, runMs: Long, tasks: Int, name: String)
  final case class Execution(action: String, operators: Seq[Operator])
  final case class Operator(op: String, depth: Int, metrics: Map[String, Long])

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <out> [queries...]")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    // Bench's session config
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-profile-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, args(0), args(1), names).count(_.error.nonEmpty) finally spark.stop()
    if (failed > 0) sys.error(s"$failed of ${names.size} queries failed")
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** Profiles `names` in `spark`, writing plans and records under `out`. */
  def run(spark: SparkSession, sfDir: String, out: String, names: Seq[String]): Seq[Record] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(out, "plans"))
    names.map { name =>
      val rec = profile(spark, sfDir, out, name)
      Files.writeString(Paths.get(out, "PROFILE.json"), mapper.writeValueAsString(rec) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      System.err.println(f"[profile] $name%-28s min=${rec.minS}%7.3f s  jobs=${rec.jobs} stages=${rec.stages}")
      rec
    }
  }

  private val Recorded = Seq("rows", "time", "spill", "size", "bytes")

  /** Operators that deserialize rows to JVM objects or run typed code on them. */
  val ObjectNodes = Set("DeserializeToObject", "MapPartitions", "MapElements", "MapGroups", "AppendColumns")

  /** One query's record; writes the warm run's formatted plan. */
  private def profile(spark: SparkSession, sfDir: String, out: String, name: String): Record = {
    val errors = mutable.ArrayBuffer.empty[String]
    // a failed run never wins the min (Bench's rule)
    def once(): Option[(Double, QueryExecution)] = {
      val t0 = System.nanoTime()
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        Some(((System.nanoTime() - t0) / 1e9, qe))
      } catch { case e: Throwable => errors += e.toString; None }
    }
    // the cold run's plan is dropped at once, as in Bench
    val cold = once().map(_._1)
    val probe = new Probe
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext) // else cold-run events reach it
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val reads0 = Tables.reads
    val warm = try once() finally {
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    val schemaReads = Tables.reads - reads0
    val drain = warm.toSeq.flatMap(w => operators(w._2.executedPlan, 0))
    val execs = probe.executions.toSeq ++ warm.map(_ => "drain" -> drain)
    val runs = Seq(cold, warm.map(_._1))
    val rec = Record(name, graft.queries.Registry.familyOf(name), sfDir,
      spark.sparkContext.defaultParallelism,
      runs, runs.flatten.minOption.getOrElse(-1.0), errors.headOption,
      probe.jobs.size, probe.stages.size, probe.stages.map(_.tasks).sum,
      execs.flatMap(_._2).count(_.exchange), execs.flatMap(_._2).count(_.codegen), schemaReads,
      drain.count(n => ObjectNodes(n.op)), drain.map(_.lambdas).sum,
      probe.jobs.sortBy(_.id).toSeq, probe.stages.sortBy(_.id).toSeq,
      // metric values are read only now, when every job that feeds them is done
      execs.map { case (action, ops) =>
        Execution(action, ops.flatMap { o =>
          val ms = o.metrics.collect { case (k, m) if m.value > 0 => k -> m.value }.sortBy(_._1)
          if (ms.isEmpty) None else Some(Operator(o.op, o.depth, ListMap(ms: _*)))
        })
      })
    warm.foreach(w => Files.writeString(Paths.get(out, "plans", s"$name.txt"), w._2.explainString(FormattedMode)))
    rec
  }

  private final case class Node(op: String, depth: Int, exchange: Boolean, codegen: Boolean, lambdas: Int,
      metrics: Seq[(String, SQLMetric)])

  /** An executed plan's operators and their rows, time, spill and size
    * metrics, through AQE query stages (a reused exchange's subtree is not
    * repeated). Holding metrics, not plans, leaves broadcasts and
    * checkpoints free to be cleaned up as without the profiler. */
  private def operators(p: SparkPlan, depth: Int): Seq[Node] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, depth)
    case q: QueryStageExec => operators(q.plan, depth)
    case _ =>
      val ms = p.metrics.toSeq.filter { case (k, _) => Recorded.exists(k.toLowerCase.contains) }
      val lambdas = p.expressions.map(_.collect { case l: LambdaFunction => l }.size).sum
      Node(p.nodeName, depth, p.isInstanceOf[Exchange], p.isInstanceOf[WholeStageCodegenExec], lambdas, ms) +:
        (if (p.isInstanceOf[ReusedExchangeExec]) Nil else p.children.flatMap(operators(_, depth + 1)))
  }

  /** Jobs, stages and query executions seen while registered. */
  private final class Probe extends SparkListener with QueryExecutionListener {
    private val jobStarts = mutable.Map.empty[Int, (Long, String)]
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val executions = mutable.ArrayBuffer.empty[(String, Seq[Node])]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, desc) => jobs += Job(e.jobId, e.time - t0, desc) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stages += Stage(si.stageId, (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
        .getOrElse(-1L), Option(si.taskMetrics).fold(0L)(_.executorRunTime), si.numTasks, si.name)
    }
    // the plan is final once its action returns; its metric values may not be
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { executions += funcName -> operators(qe.executedPlan, 0) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
