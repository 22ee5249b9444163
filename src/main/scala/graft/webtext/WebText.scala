package graft.webtext

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.expr.Kernel.HtmlFixture
import pageplus.data.PagesFromDocuments
import pageplus.model.PageRow
import pageplus.spark.Pipeline

/** Spark surface of the HTML main-content path: lift the driver's `documents`
  * table into the north-rule pages shape with a synthetic-HTML payload (one
  * projection through an [[HtmlFixture]] kernel), then run the per-document
  * extractors over the narrow (url, html) projection -> optional salted
  * repartition, zero shuffles. */
object WebText {

  /** documents(doc_id, text, lang, …) -> pages(url, warc_ts, html, text, lang)
    * with `html` = deterministic boilerplate-wrapped page bytes. */
  def htmlPages(docs: DataFrame): Dataset[PageRow] = PagesFromDocuments.lift(docs, HtmlFixture("page"))

  /** [[htmlPages]] with [[HtmlGen.pageWithTables]] payloads — the fixture
    * family for structured-table mining (consumed only by the tables query;
    * all other page oracles keep the base byte layout). */
  def tablePages(docs: DataFrame): Dataset[PageRow] = PagesFromDocuments.lift(docs, HtmlFixture("tables"))

  /** [[htmlPages]] with [[HtmlGen.pageWithHreflang]] payloads — the fixture
    * family for translation-family mining (consumed only by the hreflang /
    * bitext queries; all other page oracles keep the base byte layout). */
  def hreflangPages(docs: DataFrame): Dataset[PageRow] = PagesFromDocuments.lift(docs, HtmlFixture("hreflang"))

  /** [[htmlPages]] with [[HtmlGen.pageWithMicrodata]] payloads — the fixture
    * family for microdata article mining (consumed only by that query). */
  def microdataPages(docs: DataFrame): Dataset[PageRow] = PagesFromDocuments.lift(docs, HtmlFixture("microdata"))

  final case class TableCell(url: String, table_idx: Long, row_idx: Long,
                             col_idx: Long, is_header: Boolean, cell: String)

  /** pages -> one row per `<td>`/`<th>` cell: structured-table mining (the
    * web-table corpus extraction step — WDC-style relational data from HTML).
    * table_idx is the table's pre-order position in the page, row_idx the
    * `<tr>` position within its table (header rows included), col_idx the
    * cell position within its row; entities arrive decoded. Same fused
    * map-side shape as every other page extractor: parse once, emit cells,
    * zero shuffles; cell rows are tiny relative to page bytes, so the
    * flatMap SHRINKS the data before anything downstream. Nested tables
    * (absent from the generator) would attribute inner rows to every
    * enclosing table — acceptable for corpus mining, noted for honesty. */
  def tableCells(pages: DataFrame, saltPartitions: Int = 0): Dataset[TableCell] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val root = HtmlDom.parse(new String(html, java.nio.charset.StandardCharsets.UTF_8))
        HtmlDom.find(root, _.tag == "table").zipWithIndex.flatMap { case (tbl, ti) =>
          HtmlDom.find(tbl, _.tag == "tr").zipWithIndex.flatMap { case (tr, ri) =>
            tr.children.collect { case e: HtmlDom.HElem if e.tag == "td" || e.tag == "th" => e }
              .zipWithIndex.map { case (cellEl, ci) =>
                TableCell(url, ti.toLong, ri.toLong, ci.toLong,
                  cellEl.tag == "th", HtmlDom.textOf(cellEl))
              }
          }
        }
      }
  }

  final case class Extracted(url: String, extracted_text: String)

  /** pages -> (url, extracted_text): parse + block-score + paragraph join. */
  def mainContent(pages: DataFrame, saltPartitions: Int = 0): Dataset[Extracted] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, html) =>
        Extracted(url, MainContent.extract(new String(html, java.nio.charset.StandardCharsets.UTF_8)))
      })
  }

  final case class MarkdownRow(url: String, markdown: String)

  /** pages -> (url, markdown): boilerplate strip + Markdown re-serialization
    * of the main block ([[Markdown]]). Same fused map-side shape as
    * [[mainContent]] — parse, score, render in one pass, zero shuffles. */
  def mainMarkdown(pages: DataFrame, saltPartitions: Int = 0): Dataset[MarkdownRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, html) =>
        MarkdownRow(url, Markdown.render(new String(html, java.nio.charset.StandardCharsets.UTF_8)))
      })
  }

  final case class ParaSpan(url: String, para_idx: Long, start_off: Long,
                            end_off: Long, n_chars: Long)

  /** pages -> per-paragraph char spans within the extracted main text
    * ([[MainContent.paragraphSpans]]): span-level addressing for downstream
    * dup-span/PII/quote ops without re-parsing pages. Map-side flatMap. */
  def paragraphSpans(pages: DataFrame, saltPartitions: Int = 0): Dataset[ParaSpan] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        MainContent.paragraphSpans(new String(html, java.nio.charset.StandardCharsets.UTF_8))
          .map { case (p, s, e) => ParaSpan(url, p.toLong, s.toLong, e.toLong, (e - s).toLong) }
      }
  }

  final case class PageLink(url: String, link_ord: Long, href: String,
                            resolved: String, anchor_text: String, in_main: Boolean)

  /** pages -> exploded anchor rows: raw href, absolute resolved target,
    * decoded anchor text, pre-order ordinal within the page, and whether the
    * anchor sits inside the chosen main-content block (editorial citation vs
    * boilerplate chrome). The link-graph stage of a crawl pipeline: feed
    * `resolved` to the frontier/PageRank side, `anchor_text` to the
    * anchor-mining side. Map-side document-grain flatMap — no shuffle; at
    * 10^12 pages the output is ~50x the row count but each row is tiny, and
    * downstream consumers aggregate it immediately (see link_targets_top). */
  def pageLinks(pages: DataFrame, saltPartitions: Int = 0): Dataset[PageLink] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val ls = MainContent.links(new String(html, java.nio.charset.StandardCharsets.UTF_8))
        var i = -1
        ls.map { l =>
          i += 1
          PageLink(url, i.toLong, l.href, UrlOps.resolve(url, l.href), l.text, l.inMain)
        }
      }
  }

  final case class BlockStats(url: String, n_anchors: Long, n_paragraphs: Long,
                              n_comment_divs: Long, main_paragraphs: Long, main_chars: Long)

  /** pages -> per-document DOM statistics (anchors, paragraphs, comment divs,
    * chosen-block paragraph count and text mass). */
  def blockStats(pages: DataFrame, saltPartitions: Int = 0): Dataset[BlockStats] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, html) =>
        val s = MainContent.stats(new String(html, java.nio.charset.StandardCharsets.UTF_8))
        BlockStats(url, s.n_anchors, s.n_paragraphs, s.n_comment_divs,
          s.main_paragraphs, s.main_chars)
      })
  }

  /** Anchor-text mining: for every cross-document target (cited by at least
    * `minDocs` distinct pages), the top-`k` terms across all anchor texts
    * pointing at it — the classic web-IR move of describing a target by how
    * OTHERS link to it (query-independent doc augmentation / retrieval keys).
    * Per-page-unique targets are excluded by the citation floor, not by URL
    * pattern, so the rule generalizes to real crawls.
    *
    * Scale shape: SINGLE-TREE plan — the page-parse flatMap feeding `links`
    * is consumed exactly once (the r4 version read it twice: once for the
    * citation floor, once for term counting, re-parsing every page). One
    * (href, url)-grain partial agg collapses each page's anchors at a target
    * into one row (anchor texts to one target from one page are a handful of
    * short strings); the citation floor is then a windowed count over that
    * compact table — `count(*) per href` over (href, url) rows IS
    * `count_distinct(url)` over the raw links — so no second scan and no
    * join back. Term counting is (href, term)-grain partial agg on the
    * exploded survivor stream; top-k plans as WindowGroupLimit. Nothing
    * corpus-quadratic, and the window rows are link-doc-grain, not
    * page-grain. */
  def anchorTextAgg(links: DataFrame, minDocs: Long = 2L, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // concat_ws + split(-1) over the per-(href,url) texts yields exactly the
    // same term multiset as splitting each anchor_text individually: the " "
    // separator contributes the same boundaries the per-text explode would.
    val perDoc = links
      .groupBy(col("href"), col("url"))
      .agg(concat_ws(" ", collect_list(col("anchor_text"))).as("texts"))
    val floor = Window.partitionBy("href")
    val counted = perDoc
      .withColumn("nd", count(lit(1)).over(floor))
      .filter(col("nd") >= minDocs)
      .select(col("href"), explode(split(col("texts"), " ", -1)).as("term"))
      .groupBy("href", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("href").orderBy(desc("cnt"), asc("term"))
    counted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("href"), col("term"), col("rank").cast("long").as("rank"), col("cnt"))
  }

  final case class ParaTextRow(url: String, doc_id: Long, para_idx: Long,
                               start_off: Long, end_off: Long, para: String)

  /** One fused parse pass -> paragraph-grain rows (text + char span into the
    * extracted main text). Map-side precursor of the corpus paragraph-dedup
    * surfaces below; `doc_id` is recovered from the
    * [[pageplus.data.PagesFromDocuments.url]] scheme so "first occurrence"
    * has the same numeric total order the oracle uses. */
  private def paraTextRows(pages: DataFrame, saltPartitions: Int): Dataset[ParaTextRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Pipeline.saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        val paras = MainContent.bestBlock(
          HtmlDom.parse(new String(html, java.nio.charset.StandardCharsets.UTF_8)))
          .map(_.agg.paragraphs).getOrElse(Vector.empty)
        val docId = url.stripPrefix("doc://").toLong
        var off = 0L
        paras.iterator.zipWithIndex.map { case (t, p) =>
          val r = ParaTextRow(url, docId, p.toLong, off, off + t.length, t)
          off += t.length + 1
          r
        }
      }
  }

  /** Corpus-level EXACT PARAGRAPH DEDUP audit (RefinedWeb-style, at span
    * grain): for every paragraph of every page, whether it is the FIRST
    * occurrence of its text corpus-wide (first = least (doc_id, para_idx))
    * and how many copies exist, addressed as [start_off, end_off) char spans
    * into the extracted main text — the cut-list rows are `is_first = 0`.
    *
    * Scale shape: one fused parse pass; the paragraph TEXT never crosses a
    * shuffle — it is hashed to an 8-byte xxhash64 map-side and dropped before
    * the window exchange, so the only wide rows are
    * (url, doc_id, para_idx, offsets, phash). One hash-keyed exchange feeds
    * both window functions (row_number + count over the same partition key).
    * 64-bit collision merges two distinct paragraphs and errs toward
    * "duplicate" — the dedup_exact tradeoff. Boilerplate-heavy corpora make
    * hot phash keys; that skew is the same one lineDedup documents, and AQE
    * skew-split applies to the exchange. */
  /** Narrow paragraph-grain rows for dedup: span plus 8-byte content hash,
    * paragraph text hashed and DROPPED map-side — the pre-shuffle projection
    * the batch window AND the streaming state op both consume. */
  def paragraphHashRows(pages: DataFrame, saltPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions._
    paraTextRows(pages, saltPartitions).toDF()
      .withColumn("phash", xxhash64(col("para")))
      .select("url", "doc_id", "para_idx", "start_off", "end_off", "phash")
  }

  def paragraphDedup(pages: DataFrame, saltPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows = paragraphHashRows(pages, saltPartitions)
    val byHash = Window.partitionBy("phash")
    rows
      .withColumn("rn", row_number().over(byHash.orderBy("doc_id", "para_idx")))
      .withColumn("n_dups", count(lit(1)).over(byHash))
      .select(col("url"), col("para_idx"), col("start_off"), col("end_off"),
        when(col("rn") === 1, 1L).otherwise(0L).as("is_first"), col("n_dups"))
  }

  /** Corpus paragraph dedup, APPLIED: every page's main text re-emitted with
    * all non-first duplicate paragraphs removed (kept paragraphs rejoin with
    * '\n' in original order). Pages whose every paragraph is a duplicate drop
    * out entirely — exactly the corpus-dedup intent for verbatim copies.
    *
    * Scale shape: this is the surface that MUST move paragraph text, and it
    * moves it exactly twice — once into the phash-keyed first-occurrence
    * window, once into the url-grain regroup — the standard RefinedWeb plan
    * (candidate grain = paragraphs, never documents, never pairs). The
    * audit-only twin [[paragraphDedup]] is the one to run when only the
    * cut-list is needed: it ships no text at all. */
  def paragraphDedupClean(pages: DataFrame, saltPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows = paraTextRows(pages, saltPartitions).toDF()
      .withColumn("phash", xxhash64(col("para")))
    val rn = row_number().over(Window.partitionBy("phash").orderBy("doc_id", "para_idx"))
    rows.withColumn("rn", rn)
      .where(col("rn") === 1)
      .groupBy(col("url"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("para_idx"), col("para")))),
            x => x.getField("para")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }
}
