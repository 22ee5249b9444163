package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import Workloads._

/** Curation queries over the page and table set, one after another in a
  * seeded order, each drained through its executed plan as `graft.Bench`
  * does. The list holds at least one query of every family and the queries of
  * the performance backlog that fit the run's time budget. */
object QueryMix extends Workload {
  val name = "query_mix"
  /** Scale of the generated tables: per-query time at this scale is mostly
    * fixed job, stage and planning cost, the layers this workload measures. */
  val Sf = 0.01
  /** Warm-up passes over the list: the first runs at half speed while the
    * JIT and Spark's code generation cache warm up. One is all the time
    * budget allows; the timed loop's per-query medians pass over the first
    * timed pass, which is still up to a fifth slower. */
  val WarmPasses = 1

  /** (query, family). The per-document and SQL-expression queries appear
    * more than once: each takes a few tenths of a second, and the rates
    * `docs_per_s` and `expr_docs_per_s` pool their repeats. */
  val Queries: Seq[(String, String)] = Seq(
    "xml_roundtrip" -> "pageplus",
    "xml_roundtrip" -> "pageplus",
    "fulltext_sql_expr" -> "pageplus",
    "fulltext_sql_expr" -> "pageplus",
    "fulltext_sql_expr" -> "pageplus",
    "repair_messy_geom" -> "pageplus",
    "checkpoint_resume" -> "pageplus",
    "q3_topk" -> "relational",
    "cms_freq" -> "graft.textops",
    "containment_dedup" -> "graft.textops",
    "html_main_content" -> "graft.webtext",
    "html_main_content" -> "graft.webtext",
    "html_main_sql_expr" -> "graft.webtext",
    "html_main_sql_expr" -> "graft.webtext",
    "html_main_sql_expr" -> "graft.webtext",
    "asof_join_exec" -> "graft.events",
    "stream_html_content" -> "pageplus.streaming",
    "pdf_text_extract" -> "graft.layout",
    "pdf_text_extract" -> "graft.layout")
  val Families: Seq[String] = Seq("pageplus", "relational", "graft.textops", "graft.webtext",
    "graft.events", "pageplus.streaming", "graft.layout")
  /** Queries that emit one extracted-text row per document, through a typed
    * path and through a SQL expression. */
  val DocQueries = Set("xml_roundtrip", "html_main_content", "stream_html_content", "pdf_text_extract")
  val ExprQueries = Set("fulltext_sql_expr", "html_main_sql_expr")

  /** Stored (rows, hash) per query; a missing hash means only the row count
    * repeats between runs. */
  lazy val stored: Map[String, (Long, Option[Long])] = {
    val in = getClass.getResourceAsStream("/perfbench/fingerprints.json")
    require(in != null, "fingerprints.json is missing from the classpath")
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in) finally in.close()
    node.get("queries").properties().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> (e.getValue.get("rows").asLong(), if (h == null || h.isNull) None else Some(h.asLong()))
    }.toMap
  }

  private var dir = ""
  private var order: Seq[String] = Nil

  /** One query run: wall seconds, planning seconds, rows, hash sum. */
  final case class Sample(query: String, seconds: Double, planS: Double, rows: Long, hash: Long)

  /** Builds the query, plans it, drains its executed plan and fingerprints
    * every row. */
  def run(spark: SparkSession, dir: String, q: String, probe: Option[RuntimeProbe] = None): Sample = {
    val c0 = Host.cpu()
    val t0 = System.nanoTime()
    val df: DataFrame = graft.SparkEntry.queries(q)(spark, dir)
    val qe = df.queryExecution
    qe.executedPlan
    val t1 = System.nanoTime()
    val schema = df.schema
    val (rows, hash) = qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, s = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        s += Checks.rowTerm(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L))
      }
      Iterator((n, s))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val t2 = System.nanoTime()
    probe.foreach(_.drained(qe, rows))
    // seconds less the hypervisor's share, as in [[Workloads.secondsOf]]
    Sample(q, (t2 - t0) / 1e9 * (1 - Host.stolenShare(c0, Host.cpu())), (t1 - t0) / 1e9, rows, hash)
  }

  private def check(rep: Report, s: Sample): Unit = {
    val ok = stored.get(s.query).exists { case (rows, hash) => rows == s.rows && hash.forall(_ == s.hash) }
    if (!ok) rep.notes += s"query ${s.query}: ${s.rows} rows, hash ${s.hash} does not match the stored fingerprint"
    rep.checked(1, if (ok) 0 else 1)
  }

  private def pass(env: Env, rep: Report, probe: Option[RuntimeProbe] = None,
                   tracer: Option[(Tracer, Long)] = None): Seq[Sample] =
    order.map { q =>
      val s = tracer match {
        case None => run(env.spark, dir, q, probe)
        case Some((t, parent)) => t.span(q, parent)(_ => run(env.spark, dir, q, probe))
      }
      check(rep, s)
      s
    }

  def setup(env: Env, rep: Report): Unit = {
    dir = s"${env.work}/tables"
    requireSpace(env.work, 64L << 20)
    rep.phase("generate")(Corpus.writeTables(env.spark, dir, Sf))
    order = new scala.util.Random(env.seed).shuffle(Queries.map(_._1))
    rep.notes += s"$name: ${Queries.size} queries at sf$Sf, order ${order.mkString(" ")}"
    (0 until WarmPasses).foreach { i =>
      val warm = rep.phase(s"warm-up $i")(pass(env, rep))
      rep.notes += s"warm-up $i seconds: " + warm.map(s => f"${s.query} ${s.seconds}%.2f").mkString(", ")
    }
  }

  def measure(env: Env, rep: Report): Unit = {
    val samples = ArrayBuffer.empty[Sample]
    // at least three passes, so that each query's median passes over one
    // pass that a burst of load on the host slowed
    val passes = loop(env, rep, 3)(_ => samples ++= pass(env, rep))
    // Each query's median over all its runs in the loop, repeats within a
    // pass included; the rates and the suite are taken over these medians,
    // so one slow run of a query does not move them.
    val med = samples.groupBy(_.query).map { case (q, ss) => q -> Stats.median(ss.map(_.seconds).toSeq) }
    val rows = samples.map(s => s.query -> s.rows).toMap
    def rate(which: Set[String]): Double = {
      val qs = Queries.map(_._1).filter(which)
      qs.map(rows).sum / qs.map(med).sum
    }
    rep.put("docs_per_s", rate(DocQueries), "docs/s", samples.count(s => DocQueries(s.query)))
    rep.put("expr_docs_per_s", rate(ExprQueries), "docs/s", samples.count(s => ExprQueries(s.query)))
    val all = samples.map(_.seconds).toSeq
    rep.put("query_p50_s", Stats.median(all), "s", all.size)
    val (tail, pct) = Stats.tail(all)
    rep.put("query_tail_s", tail, "s", all.size)
    rep.notes += f"query_tail_s is the p$pct%.0f of ${all.size} samples"
    rep.put("suite_s", Queries.map(q => med(q._1)).sum, "s", passes)
    rep.notes += "median seconds: " + order.distinct.map(q => f"$q ${med(q)}%.2f").mkString(", ")
  }

  /** HTML pages of the `documents` table, as the `graft.webtext` queries
    * build them, with the document text the main-content check needs. */
  private def htmlPages(env: Env): DataFrame = {
    val spark = env.spark
    graft.webtext.WebText.htmlPages(spark.read.parquet(s"$dir/documents.parquet")
      .repartition(env.cores)).toDF().select("url", "html", "text")
  }

  /** The HTML layers per call: the DOM parse alone, main-content extraction
    * (which parses again; its self time is the difference) and the static
    * entry of `html_main_text`. Checks the extracted text. */
  private def htmlLayers(env: Env, rep: Report, pages: DataFrame, clock: ClockSpec): Unit = {
    val spark = env.spark
    import spark.implicits._
    val wrong = pages.as[(String, Array[Byte], String)].mapPartitions { it =>
      val c = clock.start()
      c.wrap(it.map { case (_, html, text) =>
        val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
        c.time(0)(graft.webtext.HtmlDom.parse(s))
        val main = c.time(1)(graft.webtext.MainContent.extract(s))
        val expr = c.time(2)(graft.expr.HtmlMainTextExpr.extract(html))
        if (main == Checks.mainText(text) && expr == main) 0L else 1L
      })
    }.collect()
    rep.checked(wrong.length, wrong.sum)
  }

  def traced(env: Env, rep: Report, tracer: Tracer): Unit = {
    val html = htmlPages(env).cache()
    val probe = new RuntimeProbe(env.spark)
    val gc0 = Host.gc()
    val plain, withTrace = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Seq[Sample]]
    val passes = loop(env, rep, 2) { i =>
      plain += pass(env, rep).map(_.seconds).sum
      probe.during(tracer.span(s"pass#$i") { id =>
        val ss = pass(env, rep, Some(probe), Some((tracer, id)))
        withTrace += ss.map(_.seconds).sum
        traced += ss
      })
      tracer.span(s"html#$i")(id => htmlLayers(env, rep, html,
        tracer.clock(id, "graft.webtext.html_dom", "graft.webtext.main_content", "graft.expr.html_main_text")))
    }
    reportRuntime(rep, probe, passes, gc0)
    rep.put("bench.trace_overhead", Stats.median(withTrace.toSeq) / Stats.median(plain.toSeq), "ratio", passes)
    val fam = Queries.toMap
    Families.foreach { f =>
      rep.put(s"query_s.$f", Stats.median(traced.map(_.filter(s => fam(s.query) == f).map(_.seconds).sum).toSeq),
        "s", passes)
    }
    rep.put("plan_s", Stats.median(traced.map(_.map(_.planS).sum).toSeq), "s", passes)
    val dom = nsPerCall(tracer, "graft.webtext.html_dom")
    val main = nsPerCall(tracer, "graft.webtext.main_content")
    rep.put("graft.webtext.html_dom.ns_per_doc", dom, "ns")
    rep.put("graft.webtext.main_content.ns_per_doc", main, "ns")
    rep.put("graft.webtext.main_content.self_ns_per_doc", main - dom, "ns")
    rep.put("graft.expr.html_main_text.ns_per_doc", nsPerCall(tracer, "graft.expr.html_main_text"), "ns")
    html.unpersist()
    RepairWrite.traced(env, rep, tracer)
  }

  /** Runs every query twice at `local[cores]` and once at `local[2]` and
    * stores (rows, hash) per query; the hash is dropped for queries whose
    * rows differ between those runs. */
  def record(work: String, cores: Int, out: String): Unit = {
    val tables = s"$work/tables"
    var spark = Main.session(cores)
    Corpus.writeTables(spark, tables, Sf)
    val names = Queries.map(_._1).distinct
    val a = names.map(run(spark, tables, _))
    val b = names.map(run(spark, tables, _))
    spark.stop()
    spark = Main.session(2)
    val c = names.map(run(spark, tables, _))
    spark.stop()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("sf", Sf)
    val qs = root.putObject("queries")
    names.indices.foreach { i =>
      val q = qs.putObject(names(i))
      q.put("rows", a(i).rows)
      if (Set(a(i).hash, b(i).hash, c(i).hash).size == 1) q.put("hash", a(i).hash) else q.putNull("hash")
      if (Set(a(i).rows, b(i).rows, c(i).rows).size != 1)
        System.err.println(s"[perfbench] ${names(i)}: row count varies: ${a(i).rows} ${b(i).rows} ${c(i).rows}")
    }
    m.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), root)
  }
}
