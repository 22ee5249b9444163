package graft.queries

import org.apache.spark.sql.functions._
import pageplus.data.PagesFromDocuments
import pageplus.spark.Pipeline

import Shared._

/** PAGE-XML extraction path (SURVEY §2.8 export fulltext / §2.4 stats). */
object PageXml {

  /** Shared oracle bodies: the fused and skew-split paths must produce the
    * same bytes, so they share one oracle per flag combination. */
  private val DehypheOracleSql =
    """SELECT 'doc://'||doc_id AS url,
      |  array_to_string([
      |    CASE
      |      WHEN (j-1)%3=2 AND j < nl THEN array_to_string(words[(j-1)*8+1:(j-1)*8+8],' ') || words[j*8+1]
      |      WHEN (j-1)%3=0 AND j > 1 THEN coalesce(array_to_string(words[(j-1)*8+2:(j-1)*8+8],' '), '')
      |      ELSE array_to_string(words[(j-1)*8+1:(j-1)*8+8],' ')
      |    END
      |    for j in range(1, nl+1)], chr(10)) AS extracted_text
      |FROM (SELECT doc_id, words, CAST(ceil(len(words)/8.0) AS BIGINT) AS nl
      |      FROM (SELECT doc_id, string_split(text,' ') AS words FROM documents))""".stripMargin

  private val RoLastWinsOracleSql =
    """SELECT 'doc://' || doc_id AS url,
      |       array_to_string(lines[len(lines)//2 + 1 :], chr(10)) AS extracted_text
      |FROM (SELECT doc_id,
      |             [array_to_string(words[i:i+7], ' ')
      |              for i in range(1, len(words)+1, 8)] AS lines
      |      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("fulltext_extract", (s, dir) => {
      Pipeline.fulltext(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism).toDF()
    },
      FulltextOracleSql),
    Q("xml_dir_ingest", (s, dir) => {
      // the reference's LITERAL input mode: a directory of individual
      // PAGE-XML files (io/utils.py dir walk) read via a binaryFile scan —
      // landing-format ingestion whose extraction must be byte-identical to
      // the parquet-table path (same oracle as fulltext_extract)
      // one tree per sf dir and JVM: a second run in the same JVM skips the
      // write, a new JVM never reads a tree written from older sf files
      val xmlDir = s"${graft.Scratch.root}/xmldir_${dir.hashCode.toHexString}"
      pageplus.spark.XmlDirIngest.writeXmlDir(
        PagesFromDocuments.clean(s, dir).toDF(), xmlDir)
      Pipeline.fulltext(pageplus.spark.XmlDirIngest.readXmlDir(s, xmlDir),
          saltPartitions = s.sparkContext.defaultParallelism)
        .toDF().orderBy("url")
    },
      // xml_dir_ingest: byte-identical to the parquet path by contract, so the
      // oracle is fulltext_extract's verbatim — a diff here means the
      // file-landing path lost or altered bytes
      FulltextOracleSql),
    Q("fulltext_ro_lastwins", (s, dir) => {
      // reading_order=True literal semantics: only the LAST reading-order region
      // survives (models/page.py:144-147)
      Pipeline.fulltext(PagesFromDocuments.twoRegion(s, dir).toDF(), ro = true, saltPartitions = s.sparkContext.defaultParallelism).toDF()
    }, RoLastWinsOracleSql),
    Q("page_stats", (s, dir) => {
      Pipeline.pageStats(PagesFromDocuments.clean(s, dir).toDF(),
        saltPartitions = s.sparkContext.defaultParallelism).toDF()
    },
      """SELECT 'doc://' || doc_id AS url,
        |       1::BIGINT AS textregions, 0::BIGINT AS tableregions, 0::BIGINT AS tablecells,
        |       CAST(ceil(nw / 8.0) AS BIGINT) AS textlines,
        |       nw AS words,
        |       nc - (CAST(ceil(nw / 8.0) AS BIGINT) - 1) AS glyphs
        |FROM (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS nw,
        |             CAST(length(text) AS BIGINT) AS nc FROM documents)""".stripMargin),
    Q("corpus_stats", (s, dir) => {
      Pipeline.pageStats(PagesFromDocuments.clean(s, dir).toDF(),
        saltPartitions = s.sparkContext.defaultParallelism).toDF()
        .agg(
          count(lit(1)).as("pages"),
          sum("textregions").as("textregions"),
          sum("tableregions").as("tableregions"),
          sum("textlines").as("textlines"),
          sum("words").as("words"),
          sum("glyphs").as("glyphs"))
    },
      """SELECT count(*) AS pages,
        |       count(*)::BIGINT AS textregions, 0::BIGINT AS tableregions,
        |       CAST(sum(ceil(len(string_split(text,' ')) / 8.0)) AS BIGINT) AS textlines,
        |       CAST(sum(len(string_split(text,' '))) AS BIGINT) AS words,
        |       CAST(sum(length(text) - ceil(len(string_split(text,' ')) / 8.0) + 1) AS BIGINT) AS glyphs
        |FROM documents""".stripMargin),

    Q("fulltext_columnar", (s, dir) => {
      // Catalyst/codegen variant of extraction: explode regions -> lines ->
      // unicodes, deterministic array_sort reassembly (SURVEY §2.8)
      val parsed = Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism).toDF()
      parsed
        .select(col("url"), posexplode(col("regions")).as(Seq("ridx", "region")))
        .select(col("url"), col("ridx"), posexplode(col("region.lines")).as(Seq("lidx", "line")))
        .select(col("url"), col("ridx"), col("lidx"), posexplode(col("line.unicodes")).as(Seq("uidx", "txt")))
        .groupBy("url")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ridx"), col("lidx"), col("uidx"), col("txt")))),
            x => x.getField("txt")),
          "\n").as("extracted_text"))
    },
      FulltextOracleSql),
    Q("fulltext_with_words", (s, dir) => {
      // word-level Unicode is included by `.//Unicode` extraction (models/page.py:149-150)
      Pipeline.fulltext(PagesFromDocuments.withWords(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism).toDF()
    },
      """SELECT 'doc://'||doc_id AS url,
        |  array_to_string(flatten([[words[(i-1)*8+1],
        |                            array_to_string(words[(i-1)*8+1:(i-1)*8+8],' ')]
        |                           for i in range(1, CAST(ceil(len(words)/8.0) AS BIGINT)+1)]), chr(10)) AS extracted_text
        |FROM (SELECT doc_id, string_split(text,' ') AS words FROM documents)""".stripMargin),
    Q("fulltext_skew_aware", (s, dir) => {
      // region-split path for big docs must stay byte-identical; threshold low
      // enough that many documents take the split path at this scale
      Pipeline.fulltextSkewAware(PagesFromDocuments.clean(s, dir).toDF(),
        bigDocBytes = 2000, saltPartitions = s.sparkContext.defaultParallelism)
    },
      FulltextOracleSql),
    Q("fulltext_skew_dehyphenate", (s, dir) => {
      // skew split composed with the cross-region dehyphe fold: lines are
      // reassembled per document before the fold runs in the reducer
      Pipeline.fulltextSkewAware(PagesFromDocuments.hyphenated(s, dir).toDF(),
        dehyphenate = true, bigDocBytes = 2000, saltPartitions = s.sparkContext.defaultParallelism)
    }, DehypheOracleSql),
    Q("fulltext_skew_ro", (s, dir) => {
      // skew split composed with reading_order=True (last region wins)
      Pipeline.fulltextSkewAware(PagesFromDocuments.twoRegion(s, dir).toDF(),
        ro = true, bigDocBytes = 2000, saltPartitions = s.sparkContext.defaultParallelism)
    }, RoLastWinsOracleSql),
    Q("fulltext_sql_expr", (s, dir) => {
      // codegen'd Catalyst Expression path through its SQL function — the
      // whole scan -> extract pipeline stays inside WholeStageCodegen
      PagesFromDocuments.clean(s, dir).toDF()
        .selectExpr("url", "page_fulltext(html) AS extracted_text")
    },
      FulltextOracleSql),
    Q("fulltext_dehyphenate", (s, dir) => {
      // literal dehyphe over a corpus with planted isolated trailing hyphens
      Pipeline.fulltext(PagesFromDocuments.hyphenated(s, dir).toDF(), dehyphenate = true,
        saltPartitions = s.sparkContext.defaultParallelism).toDF()
    }, DehypheOracleSql),
    Q("xml_roundtrip", (s, dir) => {
      // PAGE-XML sink fidelity: parse -> serialize -> reparse -> extract
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map { d =>
          val xml = pageplus.xml.PageXmlWriter.write(d)
          val re = pageplus.xml.StaxPageParser.parse(d.url, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Pipeline.Extracted(d.url, pageplus.text.FullText.extract(re))
        }.toDF()
    },
      FulltextOracleSql),
    Q("xml_extras_roundtrip", (s, dir) => {
      // pass-through fidelity, oracle-checked: documents lifted WITH unmodeled
      // XML (Metadata, TextStyle, custom attrs — deterministic functions of
      // doc_id) go parse -> serialize -> reparse; the captured extras and the
      // extracted text must both survive both hops bit-for-bit
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.withExtras(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map { d =>
          val xml = pageplus.xml.PageXmlWriter.write(d)
          val re = pageplus.xml.StaxPageParser.parse(d.url, xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (re.url,
            pageplus.text.FullText.extract(re),
            re.extras.pcgts.children.mkString,
            re.regions.head.extras.attrs.find(_.name == "custom").map(_.value).getOrElse(""),
            re.regions.head.extras.children.mkString,
            re.extras.page.attrs.find(_.name == "custom").map(_.value).getOrElse(""))
        }.toDF("url", "extracted_text", "metadata_xml", "region_custom", "region_style", "page_custom")
    },
      """SELECT 'doc://'||doc_id AS url,
        |  array_to_string([array_to_string(words[i:i+7], ' ')
        |                   for i in range(1, len(words)+1, 8)], chr(10)) AS extracted_text,
        |  '<Metadata><Creator>gen-'||(doc_id%7)||'</Creator></Metadata>' AS metadata_xml,
        |  'structure {type:paragraph; idx:'||(doc_id%5)||'}' AS region_custom,
        |  '<TextStyle fontSize="'||(doc_id%7)||'.5" bold="true"></TextStyle>' AS region_style,
        |  'readingDirection {ltr} n:'||(doc_id%7) AS page_custom
        |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)""".stripMargin),
    Q("split_region", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.twoColumn(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap { d =>
          d.textRegions.flatMap { r =>
            pageplus.ops.SplitRegion.split(r).zipWithIndex.map { case (g, i) =>
              (d.url, i, g.lines.size.toLong,
                pageplus.geo.Geo.polygon(g.ring).getArea.toLong)
            }
          }
        }.toDF("url", "side", "n_lines", "area")
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents)
        |SELECT 'doc://'||doc_id AS url, 0 AS side, CAST(nl//2 AS BIGINT) AS n_lines,
        |       CAST(300*(60*(nl//2 - 1)+50) AS BIGINT) AS area
        |FROM d WHERE nl >= 3
        |UNION ALL
        |SELECT 'doc://'||doc_id, 1, CAST((nl+1)//2 AS BIGINT),
        |       CAST(300*(60*((nl+1)//2 - 1)+50) AS BIGINT)
        |FROM d WHERE nl >= 3""".stripMargin),
    Q("word_freq_top20", (s, dir) => {
      // SubCounter equivalent (analytics/counter.py:39-52): merge + most_common.
      // tp(), not t() (VERDICT r3 item 1/#1): the explode + PARTIAL aggregation
      // run before the exchange, so on a single-file table the whole map side
      // would otherwise be one task regardless of core count
      tp(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(20)
    },
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin),
    Q("validation_report", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.corrupt(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(pageplus.ops.Validate.page _)
        .select(col("url"), col("elementId").as("element_id"), col("rule"))
    },
      """WITH d AS (SELECT doc_id, 'doc://'||doc_id AS url, doc_id % 5 AS m FROM documents)
        |SELECT url, 'r0l0' AS element_id, 'ring_not_valid' AS rule FROM d WHERE m = 1
        |UNION ALL SELECT url, 'r0l0', 'baseline_missing' FROM d WHERE m = 1
        |UNION ALL SELECT url, 'r0l0', 'insufficient_points' FROM d WHERE m = 2
        |UNION ALL SELECT url, 'r0l0', 'baseline_missing' FROM d WHERE m = 3
        |UNION ALL SELECT url, 'r0l0', 'baseline_outside' FROM d WHERE m = 4
        |UNION ALL SELECT url, 'r0lE', 'text_empty' FROM d WHERE doc_id % 7 = 0""".stripMargin),
    Q("repair_summary", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.corrupt(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(d => pageplus.ops.Repair.page(d)._2)
        .groupBy("url")
        .agg(
          sum(when(col("rule") === "hull_applied", 1L).otherwise(0L)).as("n_hull"),
          sum(when(col("rule") === "baseline_missing", 1L).otherwise(0L)).as("n_baseline_missing"),
          sum(when(col("rule") === "baseline_outside", 1L).otherwise(0L)).as("n_baseline_outside"))
        .filter(col("n_hull") + col("n_baseline_missing") + col("n_baseline_outside") > 0)
    },
      """SELECT 'doc://'||doc_id AS url,
        |       CAST(CASE WHEN doc_id%5 IN (1,2) THEN 1 ELSE 0 END AS BIGINT) AS n_hull,
        |       CAST(CASE WHEN doc_id%5 IN (1,3) THEN 1 ELSE 0 END AS BIGINT) AS n_baseline_missing,
        |       CAST(CASE WHEN doc_id%5 = 4 THEN 1 ELSE 0 END AS BIGINT) AS n_baseline_outside
        |FROM documents WHERE doc_id%5 IN (1,2,3,4)""".stripMargin)
  )
}
