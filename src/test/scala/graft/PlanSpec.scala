package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions (SURVEY §4.2): these lock in the Catalyst behaviors
  * the 100 TB design depends on — column pruning to (url, html) before object
  * mode, predicate pushdown into the parquet scan, broadcast for small dims,
  * partial aggregation, and no shuffle on the fused extraction path.
  */
class PlanSpec extends AnyFunSuite {
  import SparkSuite._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimizedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q1: shipdate filter is pushed to the parquet scan") {
    val plan = executedPlan(SparkEntry.queries("q1_agg")(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"no pushed filter in:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial+final hash aggregation")
  }

  test("q6: selective filters pushed, scan reads only needed columns") {
    val df = SparkEntry.queries("q6_filter")(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters:") && plan.contains("l_discount"))
    // column pruning: scan schema must not include unused columns like l_partkey
    val scanSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!scanSchema.contains("l_partkey") && !scanSchema.contains("l_returnflag"),
      s"scan not pruned: $scanSchema")
  }

  test("q5: nation and region join as broadcasts") {
    val plan = executedPlan(SparkEntry.queries("q5_multijoin")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected >=2 broadcast joins in:\n$plan")
  }

  test("extraction pipeline scans only url and html (column pruning before object mode)") {
    import pageplus.data.PagesFromDocuments
    import pageplus.spark.Pipeline
    // prune check on a real parquet-backed pages table
    val tmp = tempDir("graft_plan_pages_")
    PagesFromDocuments.clean(spark, sf).toDF().write.mode("overwrite").parquet(tmp)
    val pages = spark.read.parquet(tmp)
    val df = Pipeline.fulltext(pages).toDF()
    val scanSchema = executedPlan(df).linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(scanSchema.contains("url") && scanSchema.contains("html"))
    assert(!scanSchema.contains("warc_ts") && !scanSchema.contains("lang"),
      s"pages scan not pruned to (url, html): $scanSchema")
    // no shuffle on the unsalted hot path
    assert(!executedPlan(df).contains("Exchange"),
      "fused extraction should have no shuffle without salting")
  }

  /** The executed plan's final section (AQE appends the initial plan). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    executedPlan(df).split("== Initial Plan ==")(0)

  /** `url -> f(url, html)` over `pages`, called directly per collected row. */
  private def direct(pages: org.apache.spark.sql.DataFrame)(f: (String, Array[Byte]) => String): Map[String, String] =
    pages.select("url", "html").collect().map(r => r.getString(0) -> f(r.getString(0), r.getAs[Array[Byte]](1))).toMap

  test("page_fulltext Expression equals the typed pipeline and stays in WholeStageCodegen") {
    import pageplus.data.PagesFromDocuments
    import pageplus.text.FullText
    import pageplus.xml.StaxPageParser
    // the reference: the Scala calls themselves, per row on the driver
    val want = direct(PagesFromDocuments.clean(spark, sf).toDF())((url, html) =>
      FullText.extract(StaxPageParser.parseTextOnly(url, html)))
    assert(want.size > 10 && want.values.exists(_.nonEmpty))
    def got(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got(SparkEntry.queries("fulltext_extract")(spark, sf)) == want)
    assert(got(SparkEntry.queries("fulltext_sql_expr")(spark, sf)) == want)
    // over a parquet-backed pages table the whole scan->extract stage is one
    // codegen stage with no object mode (the '*' markers denote WholeStageCodegen)
    val tmp = tempDir("graft_plan_expr_")
    PagesFromDocuments.clean(spark, sf).toDF().write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("graft_pages_parquet")
    val pq = spark.sql("SELECT url, page_fulltext(html) AS extracted_text FROM graft_pages_parquet")
    val plan = executedPlan(pq)
    assert(plan.contains("*(1) Project") && plan.contains("page_fulltext"),
      s"expression fell out of codegen:\n$plan")
    assert(!plan.contains("DeserializeToObject"), "expression path must not enter object mode")
    assert(got(pq) == want)
    // Column-API form too
    assert(got(PagesFromDocuments.clean(spark, sf).toDF()
      .select(org.apache.spark.sql.functions.col("url"),
        graft.expr.Kernel.PageFulltext()(org.apache.spark.sql.functions.col("html")).as("t"))) == want)
  }

  test("html_main_text Expression equals the typed HTML pipeline and stays in WholeStageCodegen") {
    import graft.webtext.MainContent
    val pages = graft.webtext.WebText.htmlPages(spark.read.parquet(s"$sf/documents.parquet")).toDF()
    val want = direct(pages)((_, html) => MainContent.extract(new String(html, java.nio.charset.StandardCharsets.UTF_8)))
    assert(want.size > 10 && want.values.exists(_.nonEmpty))
    def got(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got(SparkEntry.queries("html_main_content")(spark, sf)) == want)
    assert(got(SparkEntry.queries("html_main_sql_expr")(spark, sf)) == want)
    val tmp = tempDir("graft_plan_html_expr_")
    pages.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("graft_html_parquet")
    val pq = spark.sql("SELECT url, html_main_text(html) AS extracted_text FROM graft_html_parquet")
    val plan = executedPlan(pq)
    assert(plan.contains("*(1) Project") && plan.contains("html_main_text"),
      s"expression fell out of codegen:\n$plan")
    assert(!plan.contains("DeserializeToObject"), "expression path must not enter object mode")
    assert(got(pq) == want)
    assert(got(spark.read.parquet(tmp)
      .select(org.apache.spark.sql.functions.col("url"),
        graft.expr.Kernel.HtmlMainText(org.apache.spark.sql.functions.col("html")).as("t"))) == want)
  }

  /** Every fixture family's lifted pages, by family name. */
  private def liftedFamilies: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import pageplus.data.PagesFromDocuments._
    import graft.webtext.WebText
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Seq("clean" -> clean _, "twoRegion" -> twoRegion _, "corrupt" -> corrupt _, "withWords" -> withWords _,
      "splitLines" -> splitLines _, "twoColumn" -> twoColumn _, "hyphenated" -> hyphenated _,
      "messy" -> messy _, "withExtras" -> withExtras _).map { case (n, f) => n -> f(spark, sf).toDF() } ++
      Seq("html page" -> WebText.htmlPages _, "html tables" -> WebText.tablePages _,
        "html hreflang" -> WebText.hreflangPages _, "html microdata" -> WebText.microdataPages _)
        .map { case (n, f) => n -> f(docs).toDF() }
  }

  test("lifted pages of every PAGE-XML and HTML fixture family stay out of object mode") {
    for ((family, pages) <- liftedFamilies) {
      val plan = finalPlan(pages)
      for (op <- Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions"))
        assert(!plan.contains(op), s"$family lifts through $op:\n$plan")
      assert(pages.count() == spark.read.parquet(s"$sf/documents.parquet").count(), family)
    }
  }

  test("Pipeline.fulltext plans as one codegen Project over page_fulltext") {
    val tmp = tempDir("graft_plan_fulltext_")
    pageplus.data.PagesFromDocuments.clean(spark, sf).toDF().write.mode("overwrite").parquet(tmp)
    val plan = finalPlan(pageplus.spark.Pipeline.fulltext(spark.read.parquet(tmp)).toDF())
    val projects = plan.linesIterator.filter(_.contains("Project [")).toSeq
    assert(projects.size == 1 && "\\*\\(\\d+\\) Project \\[".r.findFirstIn(projects.head).isDefined &&
      projects.head.contains("page_fulltext(html"), s"expected one codegen Project over page_fulltext:\n$plan")
    for (op <- Profile.ObjectNodes + "SerializeFromObject")
      assert(!plan.contains(op), s"$op in:\n$plan")
  }

  test("a url filter and url projection over lifted pages never builds the payload") {
    import org.apache.spark.sql.functions.col
    val first = spark.read.parquet(s"$sf/documents.parquet").select("doc_id").head().getLong(0)
    for ((family, pages) <- liftedFamilies) {
      val df = pages.filter(col("url") === s"doc://$first").select("url")
      val plan = finalPlan(df)
      assert(!plan.contains("page_xml_fixture") && !plan.contains("html_fixture"),
        s"$family builds its payload for a url-only plan:\n$plan")
      assert(df.collect().map(_.getString(0)).toSeq == Seq(s"doc://$first"), family)
    }
  }

  test("checkpoint pending anti-join plans as a join, not a cartesian") {
    import pageplus.spark.Checkpoint
    val manifestDir = tempDir("graft_plan_ckpt_")
    val pages = pageplus.data.PagesFromDocuments.clean(spark, sf).toDF()
    Checkpoint.commit(pages.limit(10).select("url"), manifestDir)
    val plan = executedPlan(Checkpoint.pending(pages, manifestDir))
    assert(plan.contains("LeftAnti"), s"expected anti join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q3 top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(SparkEntry.queries("q3_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("q4 window uses one shuffle on the partition key") {
    val plan = executedPlan(SparkEntry.queries("q4_window")(spark, sf))
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle on o_custkey in:\n$plan")
    assert(plan.contains("Window"), "expected a window operator")
  }

  test("dedup band join is an equi-join on the band key") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = optimizedPlan(graft.textops.Dedup.minhashPairs(docs))
    assert(plan.contains("Join Inner") && plan.contains("band"),
      s"expected band equi-join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("html main-content path shuffles exactly once (the explicit repartition)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4)
    val df = graft.webtext.WebText.mainContent(
      graft.webtext.WebText.htmlPages(docs).toDF()).toDF()
    val plan = executedPlan(df)
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"generate+parse+score must stay fused after one repartition:\n$plan")
  }

  test("layout reconstruction shuffles exactly twice: input spread + url regroup") {
    val df = SparkEntry.queries("layout_reading_order")(spark, sf)
    val plan = executedPlan(df)
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"expected repartition + groupByKey shuffles only:\n$plan")
  }

  test("exact-dup grouping: members shuffle is NARROW — text is hashed away before the exchange") {
    // pre-r3 the window keyed on raw text, so the corpus text crossed the wire
    // for BOTH outputs (one reused exchange). With the (xxhash64, length) key,
    // column pruning drops text from the members-side window entirely: the
    // members exchange carries (doc_id, tkey, tlen) — ~20 bytes/row instead of
    // the document — and only the reps side (which must output text) moves it.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (reps, members) = graft.textops.Dedup.textGroups(docs)
    val mplan = executedPlan(members)
    assert(mplan.contains("hashpartitioning(tkey"),
      s"members window must key on the hashed text:\n$mplan")
    assert("Project \\[doc_id#\\d+L, xxhash64\\(text#\\d+, 42\\) AS tkey".r.findFirstIn(mplan).isDefined,
      s"text must be consumed by the hash projection before the exchange, not carried:\n$mplan")
    val rplan = executedPlan(reps)
    assert(rplan.contains("hashpartitioning(tkey"),
      s"reps window must key on the hashed text:\n$rplan")
  }

  test("exact-dup grouping shuffles on the 12-byte hashed key, never the raw text") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, members) = graft.textops.Dedup.textGroups(docs)
    val plan = executedPlan(members)
    assert(plan.contains("hashpartitioning(tkey"),
      s"expected the window exchange keyed on xxhash64(text):\n$plan")
    assert(!"hashpartitioning\\(text#".r.findFirstIn(plan).isDefined,
      s"raw text must not be a shuffle key:\n$plan")
    // listener-measured shuffle: the grouping moves each row exactly once
    // (records == corpus rows), with the text as payload, not key
    val n = docs.count()
    // collect, not count: count() prunes the window + exchange entirely
    val records = shuffleRecords { assert(members.collect().length == n) }
    assert(records == n, s"expected one shuffle record per doc, got $records for $n docs")
  }

  test("CC min-label propagation shuffles edge-node-sized rows, never corpus-sized (VERDICT r3 item 3)") {
    // The propagation loop takes ONLY the edge set — a corpus-wide label table
    // is structurally impossible (neardupClusters attaches isolated docs with
    // one final left join instead). This pins the per-round shuffle volume:
    // records scale with (edge rows + edge nodes) * rounds. 20 chains of 3
    // nodes -> 60 edge nodes, 40 undirected edges (80 symmetric rows).
    import org.apache.spark.sql.functions._
    import SparkSuite.spark.implicits._
    val base = (0 until 20).flatMap { c =>
      val n = c * 3 + 1L
      Seq((n, n + 1), (n + 1, n + 2))
    }
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst").cache()
    val edgeRows = edges.count() // materialize before measuring
    var got: Option[org.apache.spark.sql.DataFrame] = None
    var labels = Map.empty[Long, Long]
    val records = shuffleRecords {
      got = graft.textops.Dedup.minLabelPropagation(edges, maxRounds = 6)
      assert(got.isDefined, "chain-of-3 graphs must converge in <= 3 rounds")
      labels = got.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels.size == 60)
    for (c <- 0 until 20; k <- 0 until 3)
      assert(labels(c * 3 + 1L + k) == c * 3 + 1L, s"chain $c mislabeled")
    // generous linear budget: ~4 shuffled frames per round (edges side,
    // labels side, agg partials, label update) x <= 4 rounds + the initial
    // node distinct. A corpus-wide loop at even 10^4 docs would blow this
    // by two orders of magnitude.
    val budget = 20L * (edgeRows + 60)
    assert(records <= budget,
      s"propagation shuffled $records records for $edgeRows edge rows (budget $budget)")
    got.get.unpersist()
  }

  test("url_normalize Expression equals the UDF pipeline and stays in WholeStageCodegen") {
    import org.apache.spark.sql.functions.{col, udf}
    // reference: one struct-returning ScalaUDF over the plain Scala functions
    // the kernels call, as withNormalized ran before it used the kernels
    val normHost = udf((u: String) => {
      val n = graft.webtext.UrlOps.normalize(u); (n, graft.webtext.UrlOps.hostOf(n))
    })
    val udfSide = graft.webtext.UrlOps.plantMessyUrls(
        spark.read.parquet(s"$sf/documents.parquet"))
      .select(col("doc_id"), normHost(col("url")).as("nh"))
      .select(col("doc_id"), col("nh._1"), col("nh._2"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val colSide = SparkEntry.queries("url_normalize")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val exprDf = SparkEntry.queries("url_normalize_sql_expr")(spark, sf)
    val exprSide = exprDf.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(exprSide == udfSide && exprSide.nonEmpty)
    assert(colSide == udfSide)
    // the '*(n)' markers denote WholeStageCodegen stages in the final plan
    val plan = executedPlan(exprDf)
    assert("\\*\\(\\d+\\) Project \\[.*url_normalize".r.findFirstIn(plan).isDefined,
      s"expr path must stay in a codegen'd Project:\n$plan")
    assert(!plan.contains("DeserializeToObject"),
      s"no object-mode boundary expected:\n$plan")
    // Column-API bridges agree with the SQL-registry path
    import graft.expr.Kernel.{UrlHost, UrlNormalize}
    val viaCol = graft.webtext.UrlOps.plantMessyUrls(
        spark.read.parquet(s"$sf/documents.parquet"))
      .select(col("doc_id"), UrlNormalize(col("url")).as("n"), UrlHost(UrlNormalize(col("url"))).as("h"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(viaCol == exprSide)
  }

  test("decontaminate and url_normalize stay map-side: zero shuffles beyond the input spread") {
    for (name <- Seq("decontaminate", "url_normalize")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      // the only exchange allowed is the explicit input repartition (tp);
      // the op itself must add none — at 10^12 docs any per-op shuffle is
      // the difference between a map pass and a corpus-wide sort
      assert("Exchange".r.findAllIn(plan).size <= 1,
        s"$name must not shuffle beyond the input spread:\n$plan")
    }
    // host_stats adds exactly the one hash-agg exchange on host
    val plan = executedPlan(SparkEntry.queries("host_stats")(spark, sf))
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"host_stats: input spread + one agg exchange only:\n$plan")
    assert(plan.contains("HashAggregate"), s"host_stats must partial-aggregate:\n$plan")
  }

  test("html_links stays map-side; link_targets_top plans partial-agg + top-k") {
    // exploded link table: document-grain flatMap, the only exchange is the
    // explicit input repartition — at 10^12 pages a shuffle of the ~50x-row
    // link table would dwarf the extraction itself
    val links = executedPlan(SparkEntry.queries("html_links")(spark, sf))
    assert("Exchange".r.findAllIn(links).size <= 1,
      s"html_links must not shuffle beyond the input spread:\n$links")
    // the rollup partial-aggregates on href map-side and takes top-k without
    // materializing a global sort
    val top = executedPlan(SparkEntry.queries("link_targets_top")(spark, sf))
    assert(top.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$top")
    assert(top.contains("HashAggregate"), s"href rollup must partial-aggregate:\n$top")
  }

  test("line_dedup: narrow-key frequency agg with partials, no cartesian") {
    val df = SparkEntry.queries("line_dedup")(spark, sf)
    df.collect() // AQE finalizes the plan (frequency side becomes a broadcast)
    val plan = executedPlan(df)
    assert(plan.contains("HashAggregate"), s"frequency count must partial-aggregate:\n$plan")
    assert(plan.contains("hashpartitioning(lkey") || plan.contains("BroadcastHashJoin"),
      s"frequency join must key on the 8-byte line hash (or broadcast):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian expected:\n$plan")
  }

  test("ann lsh/ivf: query side broadcast, no cartesian product") {
    for (name <- Seq("ann_lsh", "ann_ivf", "ann_ivfpq")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      assert(plan.contains("BroadcastHashJoin"), s"$name: expected broadcast candidate join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian product leaked:\n$plan")
    }
  }

  test("bucketed url tables join WITHOUT a shuffle (the Iceberg-bucketing lever)") {
    // the 100 TB design buckets pages and sibling tables by url so joins are
    // storage-partitioned; the sandbox stand-in is Spark bucketBy + parquet
    import org.apache.spark.sql.functions._
    val pages = pageplus.data.PagesFromDocuments.clean(spark, sf).toDF()
    val d1 = tempDir("graft_bucket_pages_")
    val d2 = tempDir("graft_bucket_meta_")
    spark.sql("DROP TABLE IF EXISTS graft_pages_b")
    spark.sql("DROP TABLE IF EXISTS graft_meta_b")
    pages.select("url", "html").write.option("path", d1)
      .bucketBy(4, "url").sortBy("url").format("parquet").saveAsTable("graft_pages_b")
    pages.select(col("url"), col("lang")).write.option("path", d2)
      .bucketBy(4, "url").sortBy("url").format("parquet").saveAsTable("graft_meta_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_pages_b").join(spark.table("graft_meta_b"), "url")
      assert(j.count() == pages.count())
      val plan = executedPlan(j)
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert("SelectedBucketsCount|Bucketed: true".r.findFirstIn(plan).isDefined,
        s"scans must be bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("planted mega-group skew: AQE splits the hot expansion-join partition, result unchanged (VERDICT r3 stretch 7)") {
    // A mega duplicate group is the dedup layer's worst skew: candidate
    // GENERATION stays linear (textGroups collapses the group to one
    // representative — TextOpsSpec pins it), but the member-pair EXPANSION
    // join legitimately concentrates every group row on ONE rep key. At bench
    // scale the members side broadcasts (no skew possible); at corpus scale
    // both sides are too big to broadcast, the plan is a sort-merge join, and
    // the runtime defense is AQE skew-join splitting the hot partition. This
    // pins that the expansion join actually takes that path under the skew
    // configs SCALE.md prescribes, with byte-identical output.
    import org.apache.spark.sql.functions._
    import SparkSuite.spark.implicits._
    val mega = 1200
    val docs = ((0 until mega).map(i => (i.toLong, "the same mega duplicate document text")) ++
      (0 until 300).map(i => (10000L + i, s"unique$i words$i nothing$i shared$i here$i")))
      .toDF("doc_id", "text")
    val expected = mega.toLong * (mega - 1) / 2 // within-group pairs only
    def pairsRun(): (Long, String) = {
      // count through a wrapping aggregate and inspect THAT QueryExecution's
      // finalized adaptive plan (it contains the joins; collecting 719k pair
      // rows to the driver would prove nothing extra). No limit here, so
      // count doesn't degrade the join plan.
      val cdf = graft.textops.Dedup.minhashPairs(docs).groupBy().count()
      // collect(), not head(): head() wraps a limit in a SEPARATE
      // QueryExecution, leaving this one un-executed (isFinalPlan=false, no
      // skew markers to inspect)
      val n = cdf.collect()(0).getLong(0)
      (n, cdf.queryExecution.executedPlan.toString)
    }
    val baseline = pairsRun() // default configs: members side broadcasts
    assert(baseline._1 == expected, s"expected $expected pairs, got ${baseline._1}")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the within-group join's output feeds a SECOND join on the same rep
      // key with no exchange between them; by default AQE skips skew
      // splitting rather than break that shared partitioning (extra
      // shuffle). force mode takes the trade — one extra pair-sized shuffle
      // buys splitting the mega-group partition, the right call whenever a
      // hot key dominates a stage (SCALE.md records this as the lever)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val (n, plan) = pairsRun()
      assert(n == expected, "skew-split run must produce identical pairs")
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed expansion-join partitions in:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("lineage metrics: one explicit bucket repartition feeds the aggregation") {
    val plan = executedPlan(SparkEntry.queries("lineage_metrics")(spark, sf))
    assert(plan.contains("REPARTITION_BY_NUM") || plan.contains("RepartitionByExpression") ||
      "Exchange hashpartitioning\\(bucket".r.findFirstIn(plan).isDefined,
      s"expected the explicit bucket repartition in:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial+final aggregation")
  }

  test("lm_quality: LM side broadcasts, scoring stays doc-grain partial-agg") {
    val plan = executedPlan(SparkEntry.queries("lm_quality")(spark, sf))
    // the scoring join must be broadcast (LM is vocabulary-grain, tiny vs the
    // exploded token stream) and the doc rollup a partial+final HashAggregate
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast LM join in:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial+final doc rollup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "no product joins on the scoring path")
  }

  test("tfidf_keywords: top-k is group-limited; term join degrades to shuffle when vocab outgrows broadcast") {
    val plan = executedPlan(SparkEntry.queries("tfidf_keywords")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // Spark 4 must push the per-doc top-5 as WindowGroupLimit (partial+final),
    // not a full per-doc sort-materialize
    assert(plan.contains("WindowGroupLimit"),
      s"expected window group-limit pushdown in:\n$plan")
    // at crawl scale the vocabulary outgrows any broadcast threshold: with
    // broadcast disabled the term join must plan as a shuffle join — no
    // hard-coded broadcast hint may block the scale path (at test scale the
    // optimizer is free to broadcast the tiny df side, and does)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = executedPlan(SparkEntry.queries("tfidf_keywords")(spark, sf))
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        s"expected a shuffled term join with broadcast off:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tfidf_keywords: df derives from tf — the corpus explode physically runs once (VERDICT r4 item 1)") {
    // Both the tf branch and the df-from-tf branch must canonicalize to the
    // same (doc_id, term) map-side subtree so AQE reuses the shuffle stage:
    // the final adaptive plan carries exactly ONE Generate (the token-stream
    // explode) and a ReusedExchange where the df branch consumes it. Without
    // the reuse, every token is exploded and partially aggregated twice.
    val q = SparkEntry.queries("tfidf_keywords")(spark, sf)
    q.queryExecution.toRdd.count() // materialize so AQE finalizes stage reuse
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(fin).size == 1,
      s"expected exactly one token-stream explode in the final plan:\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"expected the (doc_id, term) shuffle stage to be reused by the df branch:\n$fin")
  }

  test("bm25_topk: corpus explodes once (df AND dl reuse the tf exchange), query join broadcasts, top-k group-limited") {
    val q = SparkEntry.queries("bm25_topk")(spark, sf)
    q.queryExecution.toRdd.count() // materialize so AQE finalizes stage reuse
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // exactly TWO explodes total: the corpus token stream and the ≤15-row
    // query-prefix slice — a third would mean df or dl re-exploded the corpus
    assert("Generate explode".r.findAllIn(fin).size == 2,
      s"expected corpus + query explodes only:\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"expected df/dl to reuse the (doc_id, term) tf exchange:\n$fin")
    assert(fin.contains("BroadcastHashJoin"),
      s"expected the query-term join to broadcast:\n$fin")
    assert(fin.contains("WindowGroupLimit"), s"expected group-limited top-k:\n$fin")
  }

  test("anchor_text_agg: single-tree plan — pages parse once (VERDICT r4 item 2)") {
    // r4 read the page-parse flatMap twice (citation floor + term counting);
    // the windowed-floor rewrite is one linear tree: one parquet scan, one
    // link-parse MapPartitions chain, one term explode, group-limited top-k.
    val q = SparkEntry.queries("anchor_text_agg")(spark, sf)
    q.queryExecution.toRdd.count()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(fin).size == 1,
      s"expected exactly one documents scan in the final plan:\n$fin")
    assert("MapPartitions graft".r.findAllIn(fin).size <= 1 &&
           "MapPartitions ".r.findAllIn(fin).size <= 2,
      s"expected a single page-parse chain in the final plan:\n$fin")
    assert("Generate explode".r.findAllIn(fin).size == 1,
      s"expected exactly one anchor-term explode:\n$fin")
    assert(fin.contains("WindowGroupLimit"), s"expected group-limited top-k:\n$fin")
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"))
  }

  test("host_rank: per-iteration shuffles stay edge/node-grain, no product join") {
    val ranks = graft.webtext.HostRank.rank(
      graft.webtext.HostRank.hostEdges(spark.read.parquet(s"$sf/documents.parquet")))
    val plan = executedPlan(ranks)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no product joins in the PageRank loop:\n$plan")
    // the loop-invariant (src,dst,weight,outw) edge table must be cached once
    // and reused by every iteration subtree
    assert(plan.contains("InMemoryTableScan"),
      s"expected the cached edge table to be scanned from memory:\n$plan")
  }

  test("dup_spans: gram text never crosses a hash shuffle (8-byte keys only)") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("dup_spans")(spark, sf)
    df.collect() // finalize the adaptive plan before inspecting it
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Nil
      }
      (p +: p.children.flatMap(walk)) ++ nested
    }
    val hashShuffles = walk(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }
    // gram keys, doc-grain window, df-count agg, final join: >= 3 hash moves
    assert(hashShuffles.size >= 3, s"expected the hash shuffles, got ${hashShuffles.size}")
    for (s <- hashShuffles; a <- s.output)
      assert(a.dataType != StringType,
        s"string attribute $a crosses a hash shuffle - gram text must stay map-side")
  }

  test("host_cap_sample and inverted_index: the rank cap is a WindowGroupLimit") {
    // both ops rely on Spark 4's group-limit push so mega-host / stop-phrase
    // partitions ship only cap×partitions rows into the exchange — a plain
    // Window over a full per-group sort would be the 100 TB scale-killer
    for (name <- Seq("host_cap_sample", "inverted_index")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sf))
      assert(plan.contains("WindowGroupLimit"),
        s"$name: expected window group-limit pushdown in:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("sequence_pack: no Window node — the global prefix sum must be two-pass, not single-partition") {
    val plan = executedPlan(SparkEntry.queries("sequence_pack")(spark, sf))
    assert(!plan.contains("Window"),
      s"global cumsum must not plan as a (single-partition) Window:\n$plan")
    assert(plan.contains("RangePartitioning") || plan.contains("rangepartitioning"),
      s"expected the ordered range partitioning in:\n$plan")
  }

  test("curriculum_rank: global total order without a Window node") {
    val df = SparkEntry.queries("curriculum_rank")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("Window"), s"global rank must not plan as a Window:\n$plan")
    // the range exchange lives in the RDD lineage (below the object scan);
    // what the SQL plan can still prove is that the result is NOT a single
    // fused partition — the Window plan would be
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "rank output must keep the ranged partitioning, not collapse to one task")
    // ranks are a permutation of 1..N consistent with the (n_words, doc_id) order
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    val byRank = rows.sortBy(_._3)
    assert(byRank.sameElements(rows.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, w, _), i) => (id, w, i + 1L) }))
    // the Verify writer coalesces to one file: CoalesceExec fuses upstream
    // partitions into one task, which must NOT scramble the offsets (the
    // split-index regression this test pins)
    val fused = df.coalesce(1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(fused.sameElements(rows.sortBy(_._1)), "ranks changed under coalesce(1)")
  }

  test("train_shuffle: global permutation without a Window node; coalesce-invariant") {
    val df = SparkEntry.queries("train_shuffle")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("Window"), s"global shuffle rank must not plan as a Window:\n$plan")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "shuffle output must keep the ranged partitioning, not collapse to one task")
    // positions are a permutation of 1..N consistent with the (skey, doc_id) order
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    val byPos = rows.sortBy(_._3)
    assert(byPos.sameElements(rows.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, k, _), i) => (id, k, i + 1L) }))
    // key is the engine's fnv64 & Long.MaxValue (the oracle's mod-2^63 view)
    rows.foreach { case (id, k, _) =>
      assert(k == (graft.textops.TextHash.fnv64(s"shuf:$id") & Long.MaxValue))
    }
    // same split-index discipline as curriculum_rank under coalesce(1)
    val fused = df.coalesce(1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(fused.sameElements(rows.sortBy(_._1)), "positions changed under coalesce(1)")
  }

  test("shard_pack: same two-pass contract — no Window, range-partitioned") {
    val plan = executedPlan(SparkEntry.queries("shard_pack")(spark, sf))
    assert(!plan.contains("Window"), s"byte cumsum must not plan as a Window:\n$plan")
    assert(plan.contains("RangePartitioning") || plan.contains("rangepartitioning"),
      s"expected the ordered range partitioning in:\n$plan")
  }

  test("chunk_passages: map-side only — zero exchanges past the scan") {
    val plan = executedPlan(graft.textops.Chunker.chunk(
      spark.read.parquet(s"$sf/documents.parquet")))
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("mojibake_repair Expression stays in WholeStageCodegen and equals the static kernel") {
    val df = SparkEntry.queries("mojibake_repair")(spark, sf)
    // collect first: finalizes the AQE plan so codegen '*' markers are visible
    val got = df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val plan = executedPlan(df)
    assert("\\*\\(\\d+\\) Project \\[.*mojibake_repair".r.findFirstIn(plan).isDefined,
      s"expr path must stay in a codegen'd Project:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"no object-mode boundary expected:\n$plan")
    // Expression output == driver-side static kernel over the same plant
    val planted = graft.webtext.Mojibake.plantMojibake(
        spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty && got.forall { case (id, (rep, flag)) =>
      rep == graft.webtext.Mojibake.repair(planted(id)) &&
        flag == (if (rep != planted(id)) 1L else 0L)
    })
  }

  test("pmi_collocations: one corpus explode feeds both vocabularies; top-k as TOAP") {
    val q = SparkEntry.queries("pmi_collocations")(spark, sf)
    q.queryExecution.toRdd.count() // finalize AQE stage reuse
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(fin).size == 1,
      s"expected exactly one position-pair explode in the final plan:\n$fin")
    assert(fin.contains("ReusedExchange"),
      s"expected the (w1, w2) partial-agg exchange shared across branches:\n$fin")
    assert(fin.contains("TakeOrderedAndProject"),
      s"top-k must not materialize a global sort:\n$fin")
    assert(!fin.contains("CartesianProduct"), "only the 1-row totals broadcast is allowed")
  }

  test("ngram_novelty: single explode consumed once; min-only window keyed on the 8-byte hash") {
    val q = SparkEntry.queries("ngram_novelty")(spark, sf)
    q.queryExecution.toRdd.count()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(fin).size == 1,
      s"expected exactly one gram explode (no self-join back):\n$fin")
    assert("FileScan parquet".r.findAllIn(fin).size == 1,
      s"expected one documents scan:\n$fin")
    assert(fin.contains("Window"), s"expected the gram-keyed min window:\n$fin")
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"))
    // the gram text must not be a shuffle key: hash partitioning only on gh/doc_id
    val hashKeys = "hashpartitioning\\(([^)]*)".r.findAllMatchIn(fin).map(_.group(1)).toList
    assert(hashKeys.nonEmpty && hashKeys.forall(k => k.contains("gh") || k.contains("doc_id")),
      s"unexpected shuffle keys $hashKeys in:\n$fin")
  }
  test("paragraph_dedup: one parse pass; paragraph text never a hash-shuffle key; no cartesian") {
    val q = SparkEntry.queries("paragraph_dedup")(spark, sf)
    q.queryExecution.toRdd.count()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(fin).size == 1,
      s"expected exactly one documents scan (one fused parse pass):\n$fin")
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"))
    // the window exchange must key on the 8-byte phash, not paragraph text
    val hashKeys = "hashpartitioning\\(([^)]*)".r.findAllMatchIn(fin).map(_.group(1)).toList
    assert(hashKeys.nonEmpty && hashKeys.forall(k => k.contains("phash")),
      s"unexpected hash-shuffle keys $hashKeys in:\n$fin")
    // the exchanged row must not carry the para column (pruned before the window)
    assert(!fin.contains("para#") || "Exchange[^\\n]*para#".r.findFirstIn(fin).isEmpty,
      s"paragraph text crosses the shuffle:\n$fin")
  }

  test("paragraph_dedup_clean: one parse pass, two text-bearing exchanges, no cartesian") {
    val q = SparkEntry.queries("paragraph_dedup_clean")(spark, sf)
    q.queryExecution.toRdd.count()
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(fin).size == 1,
      s"expected exactly one documents scan:\n$fin")
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed_join: matching-bucket SMJ reads both sides with zero shuffle exchanges") {
    val q = SparkEntry.queries("bucketed_join")(spark, sf)
    q.queryExecution.toRdd.count() // materialize (also runs the bucketed writes)
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("SortMergeJoin"), s"expected the merge-hinted SMJ:\n$fin")
    // the ONLY exchange allowed is none at all on the join path: bucket
    // metadata satisfies the join's distribution requirement on both sides
    assert(!fin.contains("Exchange hashpartitioning"),
      s"bucketed join must not re-shuffle either side:\n$fin")
    assert(fin.contains("SelectedBucketsCount"),
      s"expected bucketed scans on both sides:\n$fin")
  }

  test("partition_prune: the lang predicate prunes partitions at the scan, not rows") {
    val q = SparkEntry.queries("partition_prune")(spark, sf)
    q.queryExecution.toRdd.count() // materialize (also runs the partitioned write)
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("PartitionFilters") && fin.contains("lang"),
      s"expected the lang predicate in PartitionFilters:\n$fin")
    // the predicate must NOT degrade to a row-level post-scan Filter on lang
    val scanSection = fin.substring(fin.indexOf("PartitionFilters"))
    assert(scanSection.contains("= en") || scanSection.contains("equals"),
      s"expected lang = en inside the partition filter:\n$fin")
  }
}
