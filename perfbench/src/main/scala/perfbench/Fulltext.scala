package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pageplus.spark.Pipeline
import pageplus.text.FullText
import pageplus.xml.StaxPageParser

import Workloads._

/** Replicated PAGE-XML pages of a seeded class mix (clean, words,
  * hyphenated, extras) drained through `Pipeline.fulltext` and, as a second
  * path, SQL `page_fulltext(html)`. Read-only and shuffle-free: the text-only
  * parse and the extraction do most of the work. */
object PageXmlFulltext extends Workload {
  val name = "pagexml_fulltext"
  val replicas = 4
  /** Warm-up passes: the pass time falls over the first four or five while
    * the JIT compiles the parse and extract loops. */
  val WarmPasses = 6

  private var dir = ""
  private var docs = 0L
  private var mb = 0.0
  private var expectedFp = (0L, 0L)

  private def pages(env: Env): DataFrame = env.spark.read.parquet(dir)
  private def typed(pages: DataFrame): DataFrame = Pipeline.fulltext(pages).toDF()
  private def expr(env: Env): DataFrame = {
    pages(env).createOrReplaceTempView("perfbench_pages")
    env.spark.sql("SELECT url, page_fulltext(html) AS extracted_text FROM perfbench_pages")
  }

  def setup(env: Env, rep: Report): Unit = {
    dir = s"${env.work}/pages"
    mb = rep.phase("generate")(writePages(env, dir, replicas, Corpus.FulltextClasses, 3000L)) / 1e6
    docs = BaseDocs.toLong * replicas
    expectedFp = expectedFingerprint(env.seed, 0 until replicas, Corpus.FulltextClasses)(
      (c, _, t) => Checks.fulltext(c, t))
    graft.expr.PageFulltextExpr.register(env.spark)
    rep.notes += f"$name: $docs docs, $mb%.1f MB of PAGE-XML per pass"
    (0 until WarmPasses).foreach { i =>
      rep.phase(s"warm-up $i")(check(env, rep, typed(pages(env))))
      rep.phase(s"warm-up expr $i")(check(env, rep, expr(env)))
    }
  }

  /** Drains `out` (url, extracted_text), checks it and returns its seconds. */
  private def check(env: Env, rep: Report, out: DataFrame): Double = {
    val (fp, sec) = secondsOf(fingerprint(out, "url", "extracted_text"))
    rep.checked(docs, if (fp == expectedFp) 0L else wrongRows(env, out))
    sec
  }

  /** Rows of `out` that differ from the expected text, or are missing. */
  private def wrongRows(env: Env, out: DataFrame): Long = {
    val spark = env.spark
    import spark.implicits._
    val want = pages(env).select("url", "cls", "text").as[(String, String, String)]
      .map { case (u, c, t) => (u, Checks.fulltext(c, t)) }.toDF("url", "want")
    math.max(1L, want.join(out, Seq("url"), "full_outer")
      .filter(not(col("want") <=> col("extracted_text"))).count())
  }

  def measure(env: Env, rep: Report): Unit = {
    val a, b = ArrayBuffer.empty[Double]
    loop(env, rep) { _ =>
      a += check(env, rep, typed(pages(env)))
      b += check(env, rep, expr(env))
    }
    reportPaths(rep, docs, a.toSeq, docs, b.toSeq)
  }

  /** `Pipeline.fulltext`'s loop body with each call into the program timed,
    * and the scan: the time the task waits for its next `(url, html)` row. */
  private def tracedTyped(pages: DataFrame, clock: ClockSpec,
                          errors: org.apache.spark.util.LongAccumulator): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "html").as[(String, Array[Byte])].mapPartitions { it =>
      val c = clock.start()
      c.wrap(Iterator.continually(c.time(2)(if (it.hasNext) Some(it.next()) else None))
        .takeWhile(_.isDefined).map { row =>
          val (url, html) = row.get
          val doc = c.time(0)(StaxPageParser.parseTextOnly(url, html))
          if (!doc.parseOk) errors.add(1)
          Pipeline.Extracted(url, c.time(1)(FullText.extract(doc)))
        })
    }.toDF()
  }

  /** The static entry the generated code of `page_fulltext` calls, timed. */
  private def tracedExpr(pages: DataFrame, clock: ClockSpec): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "html").as[(String, Array[Byte])].mapPartitions { it =>
      val c = clock.start()
      c.wrap(it.map { case (url, html) =>
        Pipeline.Extracted(url, c.time(0)(graft.expr.PageFulltextExpr.extract(html, false, false)))
      })
    }.toDF()
  }

  def traced(env: Env, rep: Report, tracer: Tracer): Unit = {
    val spark = env.spark
    scan(pages(env), rep, mb)
    val errors = spark.sparkContext.longAccumulator("perfbench.parse_errors")
    val probe = new RuntimeProbe(spark)
    val gc0 = Host.gc()
    val plain, withTrace = ArrayBuffer.empty[Double]
    val passes = loop(env, rep) { i =>
      plain += check(env, rep, typed(pages(env)))
      probe.during {
        withTrace += tracer.span(s"typed#$i")(id => check(env, rep, tracedTyped(pages(env),
          tracer.clock(id, "pageplus.xml.parse_text", "pageplus.text.extract", "pageplus.spark.scan"), errors)))
        tracer.span(s"expr#$i")(id => check(env, rep, tracedExpr(pages(env),
          tracer.clock(id, "graft.expr.page_fulltext"))))
        probe.results(2 * docs)
      }
    }
    reportRuntime(rep, probe, passes, gc0)
    rep.put("bench.trace_overhead", Stats.median(withTrace.toSeq) / Stats.median(plain.toSeq), "ratio", passes)
    val (parseNs, parses) = tracer.busy("pageplus.xml.parse_text")
    rep.put("pageplus.xml.parse_text.ns_per_doc", nsPerCall(tracer, "pageplus.xml.parse_text"), "ns")
    rep.put("pageplus.xml.parse_text.mb_per_core_s", mb * parses / docs / (parseNs / 1e9), "MB/s")
    rep.put("pageplus.xml.parse_errors", errors.sum.toDouble, "count")
    rep.put("pageplus.text.extract.ns_per_doc", nsPerCall(tracer, "pageplus.text.extract"), "ns")
    rep.put("graft.expr.page_fulltext.ns_per_doc", nsPerCall(tracer, "graft.expr.page_fulltext"), "ns")
    // scan, parse and extract busy time of the traced typed passes, per core,
    // against their wall time: the layers' self times fit when this is <= 1
    val busyS = Seq("pageplus.spark.scan", "pageplus.xml.parse_text", "pageplus.text.extract")
      .map(tracer.busy(_)._1).sum / 1e9 / env.cores
    rep.put("bench.layer_fit", busyS / withTrace.sum, "ratio", passes)
    scaling(env, rep)
  }

  /** docs/s at local[cores] over (cores x docs/s at local[1]) on the same
    * half of the page files, typed path, median of three passes each. Runs
    * last: it replaces the session. */
  private def scaling(env: Env, rep: Report): Unit = {
    val files = parquetFiles(dir).map(_.getPath)
    val subset = files.take(math.max(1, files.size / 2))
    def rate(spark: SparkSession): Double = {
      val p = spark.read.parquet(subset: _*)
      val n = p.count()
      Stats.median((0 until 3).map(_ => n / secondsOf(fingerprint(typed(p), "url", "extracted_text"))._2))
    }
    val many = rate(env.spark)
    env.spark.stop()
    val one = rate(Main.session(1))
    rep.put("spark.scaling_eff", many / (env.cores * one), "ratio", 3)
    rep.notes += f"scaling: local[${env.cores}] $many%.0f docs/s, local[1] $one%.0f docs/s"
  }
}
