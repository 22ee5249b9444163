package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one result line, `PERFBENCH {json}`, on
  * standard output:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  *   Main --record-fingerprints <file> --work <dir>
  *
  * `--work` is a scratch directory the run creates, fills and deletes. With
  * `--trace 0` the result holds the end-to-end metrics, with `--trace 1` the
  * per-layer metrics of a traced loop, whose spans go to `--trace-out`.
  */
object Main {

  /** The session `graft.Bench` measures with, at `local[cores]`. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cpu0 = Host.cpu()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts.getOrElse("work", sys.error("--work is required"))
    val cores = Runtime.getRuntime.availableProcessors()
    try {
      opts.get("record-fingerprints") match {
        case Some(out) => QueryMix.record(work, cores, out)
        case None => run(opts, work, cores, cpu0)
      }
    } finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      Workloads.deleteTree(work)
    }
  }

  private def run(opts: Map[String, String], work: String, cores: Int, cpu0: Array[Long]): Unit = {
    val name = opts("workload")
    val w = Workloads.byName(name).getOrElse(sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val rep = new Report
    val env = Env(rep.phase("session")(session(cores)), work, seed, opts("seconds").toDouble, cores)
    w.setup(env, rep)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // less the hypervisor's share since `main` began, as in [[Workloads.secondsOf]]
    rep.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3 * (1 - Host.stolenShare(cpu0, Host.cpu())), "s")
    if (trace) {
      val tracer = new Tracer(env.spark, s"$name-$seed")
      w.traced(env, rep, tracer)
      opts.get("trace-out").foreach { f =>
        tracer.writeJson(f, rep.metrics.map { case (k, m) => k -> (m.value, m.unit) }.toMap)
      }
    } else w.measure(env, rep)
    rep.put("peak_rss_mb", Host.peakRssMb(), "MB")
    rep.put("heap_live_mb", Host.liveHeapMb(), "MB")
    rep.put("error_rate", if (rep.attempted == 0) 1.0 else rep.failed.toDouble / rep.attempted, "ratio")
    println("PERFBENCH " + json(name, seed, rep))
  }

  private def json(name: String, seed: Long, rep: Report): String = {
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", name)
    out.put("seed", seed)
    out.put("correct", rep.attempted > 0 && rep.failed == 0)
    out.put("attempted", rep.attempted)
    out.put("failed", rep.failed)
    out.put("metrics", rep.metrics.map { case (k, m) =>
      k -> java.util.Map.of[String, Any]("value", m.value, "unit", m.unit, "samples", m.samples)
    }.asJava)
    out.put("notes", rep.notes.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out)
  }
}
