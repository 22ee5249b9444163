package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One run's environment. `seconds` sets the number of timed passes. */
final case class Env(spark: SparkSession, work: String, seed: Long, seconds: Double, cores: Int)

final case class Metric(value: Double, unit: String, samples: Int)

/** What a run reports: metrics with their units and sample counts, and the
  * operations checked and failed. */
final class Report {
  val metrics: LinkedHashMap[String, Metric] = LinkedHashMap.empty
  val notes: ArrayBuffer[String] = ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = Metric(value, unit, samples)

  def checked(ops: Long, wrong: Long): Unit = { attempted += ops; failed += wrong }

  /** Runs `f` and notes how long it took. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally notes += f"$name took ${(System.nanoTime() - t0) / 1e9}%.2f s"
  }
}

/** A workload: set-up, then a timed closed loop of one client. */
trait Workload extends Serializable {
  def name: String
  /** Builds and checks the inputs and warms up; everything before the loop. */
  def setup(env: Env, rep: Report): Unit
  /** Runs the timed loop (untraced) and reports the end-to-end metrics. */
  def measure(env: Env, rep: Report): Unit
  /** Runs the traced loop and reports the per-layer metrics. */
  def traced(env: Env, rep: Report, tracer: Tracer): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(PageXmlFulltext, QueryMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Documents per replica: the row count of the sf0.1 `documents` table. */
  val BaseDocs = 5000

  /** Runs `f`; returns its result and its wall seconds less the share the
    * hypervisor gave to other guests meanwhile ([[Host.stolenShare]]). On a
    * shared host that share comes and goes for minutes at a time and
    * would otherwise move every timing by up to half. */
  def secondsOf[T](f: => T): (T, Double) = {
    val c0 = Host.cpu()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall * (1 - Host.stolenShare(c0, Host.cpu())))
  }

  /** Runs `pass` until `seconds` of wall time have gone by, and at least
    * `minPasses` times. Each pass is one sample; the workloads report medians
    * over them, so a run that fits more passes gets steadier medians, and a
    * burst of load on the shared host moves a few samples, not the median.
    * Notes each pass's steal percentage and stolen share. */
  def loop(env: Env, rep: Report, minPasses: Int = 3)(pass: Int => Unit): Int = {
    val end = System.nanoTime() + (env.seconds * 1e9).toLong
    val steal, stolen = ArrayBuffer.empty[Double]
    while (steal.size < minPasses || System.nanoTime() < end) {
      val a = Host.cpu()
      pass(steal.size)
      val b = Host.cpu()
      steal += Host.stealPct(a, b)
      stolen += Host.stolenShare(a, b)
    }
    rep.notes += f"host.steal_pct per pass: ${steal.map(s => f"$s%.1f").mkString(" ")}"
    rep.notes += f"stolen share of busy CPU per pass: ${stolen.map(s => f"$s%.3f").mkString(" ")}"
    rep.put("host.steal_pct", steal.sum / steal.size, "%", steal.size)
    steal.size
  }

  /** (rows, hash sum) of `df`'s rows over `cols`, see [[Checks.fingerprintCols]]. */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) = {
    val fp = Checks.fingerprintCols(cols.map(col): _*)
    val r = df.agg(fp.head, fp.tail: _*).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Refuses to generate `bytes` of input into `dir` unless twice that is free. */
  def requireSpace(dir: String, bytes: Long): Unit = {
    val f = new java.io.File(dir)
    f.mkdirs()
    val free = f.getUsableSpace
    require(free > 2 * bytes + (256L << 20),
      f"scratch dir $dir has ${free / 1e9}%.2f GB free, needs ${2 * bytes / 1e9}%.2f GB")
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  lazy val baseDocs: Seq[Corpus.Doc] = Corpus.docs(BaseDocs)

  /** Writes `replicas` seeded copies of the base documents as pages of
    * `classes`; returns the bytes of all pages. */
  def writePages(env: Env, dir: String, replicas: Int, classes: Seq[String], bytesPerDoc: Long): Long = {
    requireSpace(env.work, BaseDocs.toLong * replicas * bytesPerDoc)
    val bytes = env.spark.sparkContext.longAccumulator("perfbench.page_bytes")
    // one output file per input partition, about 8 MB each
    val files = math.max(env.cores * 4, (BaseDocs.toLong * replicas * bytesPerDoc / (8L << 20)).toInt)
    Corpus.pages(Corpus.docsDf(env.spark, BaseDocs).repartition(files), env.seed, replicas, classes, bytes)
      .write.mode("overwrite").parquet(dir)
    bytes.sum
  }

  /** Fingerprint of the rows (url, want(class, doc_id, text)) the pages of
    * replicas `reps` should produce, computed outside Spark. */
  def expectedFingerprint(seed: Long, reps: Seq[Int], classes: Seq[String])(
      want: (String, Long, String) => String): (Long, Long) =
    Checks.fingerprint(for { r <- reps.iterator; d <- baseDocs.iterator } yield
      Checks.rowHash(Corpus.url(seed, r, d.doc_id), want(Corpus.pick(seed, r, d.doc_id, classes), d.doc_id, d.text)))

  /** The end-to-end summary shared by the workloads: `a` and `b` are the
    * per-pass seconds of the primary and the second path, `docs` per pass. */
  def reportPaths(rep: Report, docsA: Long, a: Seq[Double], docsB: Long, b: Seq[Double]): Unit = {
    rep.notes += "pass seconds: " + a.zip(b).map { case (x, y) => f"$x%.3f/$y%.3f" }.mkString(" ")
    if (a.size >= 2) {
      val (q1, q3) = Stats.quartiles(a.map(docsA / _))
      rep.notes += f"docs_per_s quartiles: $q1%.0f $q3%.0f"
    }
    rep.put("docs_per_s", Stats.median(a.map(docsA / _)), "docs/s", a.size)
    rep.put("expr_docs_per_s", Stats.median(b.map(docsB / _)), "docs/s", b.size)
    val all = a ++ b
    rep.put("query_p50_s", Stats.median(all), "s", all.size)
    val (tail, pct) = Stats.tail(all)
    rep.put("query_tail_s", tail, "s", all.size)
    rep.notes += f"query_tail_s is the p$pct%.0f of ${all.size} samples"
    val suites = a.zip(b).map { case (x, y) => x + y }
    rep.put("suite_s", Stats.median(suites), "s", suites.size)
  }

  /** Spark runtime, JVM and host counters over a traced loop of `passes`. */
  def reportRuntime(rep: Report, probe: RuntimeProbe, passes: Int, gc0: (Long, Double)): Unit = {
    probe.snapshot(passes).foreach { case (k, (v, u)) => rep.put(k, v, u, passes) }
    val gc1 = Host.gc()
    rep.put("jvm.gc_count", (gc1._1 - gc0._1).toDouble / passes, "count", passes)
    rep.put("jvm.gc_s", (gc1._2 - gc0._2) / passes, "s", passes)
  }

  /** Scan layer: the typed (url, html) read every page path starts with,
    * drained alone three times; returns the median seconds. */
  def scan(pages: DataFrame, rep: Report, mb: Double): Double = {
    val spark = pages.sparkSession
    import spark.implicits._
    val scans = (0 until 3).map { _ =>
      secondsOf(pages.select("url", "html").as[(String, Array[Byte])]
        .foreachPartition((it: Iterator[(String, Array[Byte])]) => it.foreach(_ => ())))._2
    }
    val s = Stats.median(scans)
    rep.put("pageplus.spark.scan_s", s, "s", scans.size)
    rep.put("pageplus.spark.scan_mb_per_s", mb / s, "MB/s", scans.size)
    s
  }

  /** Nanoseconds per call of `layer` over all traced tasks. */
  def nsPerCall(tracer: Tracer, layer: String): Double = {
    val (ns, calls) = tracer.busy(layer)
    if (calls == 0) 0.0 else ns.toDouble / calls
  }
}
