package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import pageplus.ops.{Repair, Validate}
import pageplus.spark.Checkpoint
import pageplus.xml.{PageXmlWriter, StaxPageParser}

import Workloads._

/** The reference's modification loop over messy and clean PAGE-XML: find the
  * pages not yet committed, parse them with geometry, validate, repair,
  * serialise, write the result as parquet and commit its urls. Every pass
  * starts from the same commit log, in which an earlier run committed the
  * first replica, so each pass has the same pending work: the second.
  *
  * The loop is not a workload of its own: the benchmark's time budget holds
  * two, and its path runs end to end inside `query_mix` (`repair_messy_geom`,
  * `checkpoint_resume`). `query_mix`'s traced run times the loop's layers
  * here, on pages of the run's seed, and checks every pass. */
object RepairWrite {
  val replicas = 2
  /** Untraced passes before the traced ones: the first runs at half speed. */
  val WarmPasses = 2
  val TracedPasses = 3

  final case class Out(url: String, html: Array[Byte], validate: Seq[String], repair: Seq[String])

  private var dir, committed = ""
  private var pending, total = 0L
  private var mb = 0.0
  private var readBackFp = (0L, 0L)
  private var verifiedOut: Option[(Long, Long)] = None

  private def reports(rs: Seq[pageplus.model.Report]): Seq[String] = rs.map(r => s"${r.elementId}:${r.rule}")

  /** The loop body as the program runs it, optionally timing each call. */
  private def repairPages(todo: DataFrame, clock: Option[ClockSpec],
                          counts: Option[Counts]): Dataset[Out] = {
    val spark = todo.sparkSession
    import spark.implicits._
    todo.select("url", "html").as[(String, Array[Byte])].mapPartitions { it =>
      clock match {
        case None => it.map { case (url, html) =>
          val doc = StaxPageParser.parse(url, html)
          val v = Validate.page(doc)
          val (fixed, rs) = Repair.page(doc)
          Out(url, PageXmlWriter.write(fixed).getBytes(UTF_8), reports(v), reports(rs))
        }
        case Some(spec) =>
          val c = spec.start()
          val k = counts.get
          c.wrap(it.map { case (url, html) =>
            val doc = c.time(0)(StaxPageParser.parse(url, html))
            val v = c.time(1)(Validate.page(doc))
            val (fixed, rs) = c.time(2)(Repair.page(doc))
            val xml = c.time(3)(PageXmlWriter.write(fixed)).getBytes(UTF_8)
            k.bytesIn.add(html.length); k.bytesOut.add(xml.length)
            if (fixed != doc) k.changed.add(1)
            k.reports.add(v.size + rs.size)
            Out(url, xml, reports(v), reports(rs))
          })
      }
    }
  }

  final case class Counts(bytesIn: org.apache.spark.util.LongAccumulator,
                          bytesOut: org.apache.spark.util.LongAccumulator,
                          changed: org.apache.spark.util.LongAccumulator,
                          reports: org.apache.spark.util.LongAccumulator)

  private def pages(env: Env): DataFrame = env.spark.read.parquet(dir)

  private def setup(env: Env, rep: Report): Unit = {
    val spark = env.spark
    dir = s"${env.work}/repair-pages"
    committed = s"${env.work}/committed"
    mb = rep.phase("generate")(writePages(env, dir, replicas, Corpus.RepairClasses, 3000L)) / 1e6
    graft.expr.PageFulltextExpr.register(spark)
    // an earlier run committed the first replica
    Checkpoint.commit(pages(env).filter(col("rep") === 0).select("url"), committed)
    val todo = 1 until replicas
    total = BaseDocs.toLong * replicas
    pending = BaseDocs.toLong * todo.size
    readBackFp = rep.phase("expected")(expectedFingerprint(env.seed, todo, Corpus.RepairClasses)(
      (c, id, t) => Checks.repairedLines(c, id, t).mkString("\n")))
    rep.notes += f"repair loop: $total docs, $mb%.1f MB, $pending pending per pass"
    (0 until WarmPasses).foreach(i => rep.phase(s"repair warm-up $i")(pass(env, rep, s"w$i", None)))
  }

  private def expectedText(env: Env, todo: DataFrame): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    todo.select("url", "cls", "doc_id", "text").as[(String, String, Long, String)]
      .map { case (u, c, id, t) => (u, Checks.repairedLines(c, id, t).mkString("\n")) }
      .toDF("url", "extracted_text")
  }

  /** Per-pass traced numbers. */
  final case class Traced(pendingS: Double, commitS: Double, writtenBytes: Long, files: Int)

  /** One pass: (loop seconds, read-back seconds, traced numbers if traced). */
  private def pass(env: Env, rep: Report, tag: String,
                   trace: Option[(Tracer, Long, Counts)]): (Double, Double, Option[Traced]) = {
    val spark = env.spark
    val log = s"${env.work}/log-$tag"
    val out = s"${env.work}/out-$tag"
    copyTree(committed, log)
    var traced: Option[Traced] = None
    val (_, loopS) = secondsOf {
      val todo = Checkpoint.pending(pages(env), log)
      trace match {
        case None =>
          repairPages(todo, None, None).write.parquet(out)
          Checkpoint.commit(spark.read.parquet(out).select("url"), log)
        case Some((tracer, id, counts)) =>
          val (_, pendingS) = secondsOf(todo.select("url").count())
          repairPages(todo, Some(tracer.clock(id, "pageplus.xml.parse_geom", "pageplus.ops.validate",
            "pageplus.ops.repair", "pageplus.xml.write")), Some(counts)).write.parquet(out)
          val (_, commitS) = secondsOf(Checkpoint.commit(spark.read.parquet(out).select("url"), log))
          val files = parquetFiles(out)
          traced = Some(Traced(pendingS, commitS, files.map(_.length).sum, files.size))
      }
    }
    val readBack = spark.read.parquet(out).select(col("url"), expr("page_fulltext(html)").as("extracted_text"))
    val (fp, readS) = secondsOf(fingerprint(readBack, "url", "extracted_text"))
    rep.phase(s"verify $tag")(verify(env, rep, out, log, fp, readBack))
    rep.notes += f"pass $tag: loop $loopS%.2f s, read-back $readS%.2f s"
    deleteTree(log)
    deleteTree(out)
    (loopS, readS, traced)
  }

  /** Checks a pass: the read-back text, the commit log, and the written
    * pages, re-parsed with the JDK DOM parser, with their reports against the
    * oracle table; later passes must write the same rows as the first
    * verified one. */
  private def verify(env: Env, rep: Report, out: String, log: String, fp: (Long, Long),
                     readBack: DataFrame): Unit = {
    val spark = env.spark
    import spark.implicits._
    val wrongText =
      if (fp == readBackFp) 0L
      else math.max(1L, expectedText(env, pages(env).filter(col("rep") =!= 0)).toDF("url", "want")
        .join(readBack, Seq("url"), "full_outer").filter(not(col("want") <=> col("extracted_text"))).count())
    val logged = spark.read.parquet(log).distinct().count()
    val written = spark.read.parquet(out)
    val outFp = fingerprint(written, "url", "html", "validate", "repair")
    val wrongPages =
      if (verifiedOut.contains(outFp)) 0L
      else {
        val todo = pages(env).filter(col("rep") =!= 0).select("url", "cls", "doc_id", "text")
        val bad = written.join(todo, Seq("url"), "full_outer")
          .select(col("html"), col("validate"), col("repair"), col("cls"),
            coalesce(col("doc_id"), lit(-1L)), col("text"))
          .as[(Array[Byte], Seq[String], Seq[String], String, Long, String)]
          .filter { case (html, v, r, cls, id, text) =>
            html == null || cls == null ||
            Checks.domLineTexts(html) != Checks.repairedLines(cls, id, text) ||
            v.sorted != Checks.validateReports(cls, id).sorted ||
            r.sorted != Checks.repairReports(cls, id).sorted
          }.count()
        if (bad == 0 && outFp._1 == pending) verifiedOut = Some(outFp)
        math.max(bad, if (outFp._1 == pending) 0L else 1L)
      }
    rep.checked(2 * pending + 1, wrongText + wrongPages + (if (logged == total) 0L else 1L))
  }

  /** Sets up, warms up and runs the traced passes; reports the loop's
    * per-layer metrics. */
  def traced(env: Env, rep: Report, tracer: Tracer): Unit = {
    setup(env, rep)
    val sc = env.spark.sparkContext
    scan(pages(env), rep, mb)
    val counts = Counts(sc.longAccumulator, sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    val passes = TracedPasses
    val traces = (0 until passes).flatMap { i =>
      tracer.span(s"repair#$i")(id => pass(env, rep, s"t$i", Some((tracer, id, counts)))._3)
    }
    rep.put("pageplus.spark.checkpoint.pending_s", Stats.median(traces.map(_.pendingS).toSeq), "s", passes)
    rep.put("pageplus.spark.checkpoint.commit_s", Stats.median(traces.map(_.commitS).toSeq), "s", passes)
    rep.put("pageplus.spark.write_mb", traces.map(_.writtenBytes).sum / 1e6 / passes, "MB", passes)
    rep.put("pageplus.spark.files_written", traces.map(_.files).sum.toDouble / passes, "count", passes)
    val bytesIn = counts.bytesIn.sum.toDouble
    rep.put("pageplus.spark.write_amp", traces.map(_.writtenBytes).sum / bytesIn, "ratio", passes)
    rep.put("pageplus.xml.parse_geom.ns_per_doc", nsPerCall(tracer, "pageplus.xml.parse_geom"), "ns")
    rep.put("pageplus.xml.write.ns_per_doc", nsPerCall(tracer, "pageplus.xml.write"), "ns")
    rep.put("pageplus.xml.write.bytes_ratio", counts.bytesOut.sum / bytesIn, "ratio")
    rep.put("pageplus.ops.validate.ns_per_doc", nsPerCall(tracer, "pageplus.ops.validate"), "ns")
    rep.put("pageplus.ops.repair.ns_per_doc", nsPerCall(tracer, "pageplus.ops.repair"), "ns")
    val repaired = tracer.busy("pageplus.ops.repair")._2.toDouble
    rep.put("pageplus.ops.repair.changed_ratio", counts.changed.sum / repaired, "ratio")
    rep.put("pageplus.ops.reports", counts.reports.sum.toDouble / passes, "count", passes)
  }
}
