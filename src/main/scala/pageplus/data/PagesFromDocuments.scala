package pageplus.data

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, lit, timestamp_seconds}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.expr.Kernel
import pageplus.model._
import pageplus.xml.PageXmlWriter

/** Deterministically lifts the driver's `documents` table (doc_id, text, lang, …)
  * into the BASELINE.json input_hint shape `pages(url, warc_ts, html, text, lang)`:
  * each document's text is chunked into PAGE-XML TextLines of [[WordsPerLine]]
  * words inside one TextRegion, with valid synthetic geometry. Pure function of
  * (doc_id, text, lang) — no randomness, no wall clock — so the DuckDB oracle can
  * recompute every downstream answer from the raw table (SURVEY §5.2.4).
  */
object PagesFromDocuments {

  val WordsPerLine = 8
  val Ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15"

  def url(docId: Long): String = s"doc://$docId"

  /** Text -> chunks of [[WordsPerLine]] single-space-joined words. */
  def lineTexts(text: String): Seq[String] =
    if (text == null || text.isEmpty) Nil
    else text.split(" ", -1).grouped(WordsPerLine).map(_.mkString(" ")).toSeq

  /** The rectangle (x0, y0)-(x1, y1), clockwise from its top-left corner. */
  private def box(x0: Int, y0: Int, x1: Int, y1: Int): Seq[Pt] = Seq(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1))

  /** A TextLine whose one TextEquiv is `text` (also its `.//Unicode` when non-empty). */
  private def line(id: String, coords: Seq[Pt], baseline: Seq[Pt], text: String): LineT =
    LineT(id, hasCoords = true, coords, hasBaseline = true, baseline, texts = Seq(TextEquivT(0, text)),
      words = Nil, unicodes = if (text.nonEmpty) Seq(text) else Nil)

  /** Line `i` of a one-column page. */
  private def mkLine(id: String, i: Int, text: String): LineT = {
    val y0 = 100 + 60 * i
    line(id, box(100, y0, 900, y0 + 50), Seq(Pt(120, y0 + 40), Pt(880, y0 + 40)), text)
  }

  private def regionCoords(nLines: Int): Seq[Pt] = {
    val yMax = 100 + 60 * math.max(nLines - 1, 0) + 50
    Seq(Pt(50, 50), Pt(950, 50), Pt(950, yMax + 10), Pt(50, yMax + 10))
  }

  /** A document of one text region `r0` holding `lines`, sized for `rows` line rows. */
  private def oneRegionDoc(docId: Long, rows: Int, lines: Seq[LineT]): PageDoc = {
    val region = RegionT("r0", "text", hasCoords = true, regionCoords(rows), Nil, lines, Nil)
    PageDoc(url(docId), Ns, 2000, 100 + 60 * rows + 60, s"p$docId.png", readingOrder = Nil,
      docOrderRegionIds = Seq("r0"), regions = Seq(region), parseOk = true, parseError = "")
  }

  /** One plain line per chunk, in a single region. */
  private def chunkDoc(docId: Long, lts: Seq[String]): PageDoc =
    oneRegionDoc(docId, lts.size, lts.zipWithIndex.map { case (t, i) => mkLine(s"r0l$i", i, t) })

  /** Clean single-region document. */
  def cleanDoc(docId: Long, text: String): PageDoc = chunkDoc(docId, lineTexts(text))

  /** Two-region document with an explicit ReadingOrder [r0, r1]; r0 holds the
    * first n/2 lines, r1 the rest — exercises the literal last-region-wins
    * `reading_order=True` semantics (models/page.py:144-147). */
  def twoRegionDoc(docId: Long, text: String): PageDoc = {
    val lts = lineTexts(text)
    val half = lts.size / 2
    def mk(rid: String, ts: Seq[String], off: Int): RegionT = {
      val lines = ts.zipWithIndex.map { case (t, i) => mkLine(s"${rid}l${i + off}", i + off, t) }
      RegionT(rid, "text", hasCoords = true, regionCoords(lts.size), Nil, lines, Nil)
    }
    val r0 = mk("r0", lts.take(half), 0)
    val r1 = mk("r1", lts.drop(half), half)
    PageDoc(url(docId), Ns, 2000, 100 + 60 * lts.size + 60, s"p$docId.png",
      readingOrder = Seq("r0", "r1"), docOrderRegionIds = Seq("r0", "r1"),
      regions = Seq(r0, r1), parseOk = true, parseError = "")
  }

  /** Planted-defect document for validate/repair, defect class = doc_id % 5 on
    * line 0, plus an empty-text line when doc_id % 7 == 0. The defects are pure
    * doc_id arithmetic so the validation-report oracle is plain SQL:
    *   m=1 -> line 0 coords are a self-intersecting bow-tie AND baseline removed
    *   m=2 -> line 0 coords have 3 points (validate_region needs >=4)
    *   m=3 -> line 0 baseline removed
    *   m=4 -> line 0 baseline disjoint from its polygon
    *   m=0 -> clean
    */
  def corruptDoc(docId: Long, text: String): PageDoc = {
    val base = cleanDoc(docId, text)
    val m = (docId % 5).toInt
    val region = base.regions.head
    val lines0 = region.lines
    val mutated =
      if (lines0.isEmpty) lines0
      else {
        val l0 = lines0.head
        val l0m = m match {
          case 1 => l0.copy(coords = Seq(Pt(200, 100), Pt(300, 150), Pt(200, 150), Pt(300, 100)),
                            hasBaseline = false, baseline = Nil)
          case 2 => l0.copy(coords = Seq(Pt(100, 100), Pt(900, 100), Pt(500, 150)),
                            baseline = Seq(Pt(400, 130), Pt(600, 130)))
          case 3 => l0.copy(hasBaseline = false, baseline = Nil)
          case 4 => l0.copy(baseline = Seq(Pt(120, 500), Pt(880, 500)))
          case _ => l0
        }
        l0m +: lines0.tail
      }
    val withEmpty = if (docId % 7 == 0) mutated :+ mkLine("r0lE", mutated.size, "") else mutated
    base.copy(regions = Seq(region.copy(lines = withEmpty)))
  }

  /** Lines carry a Word element for their FIRST word (word-level Unicode comes
    * before the line TextEquiv in document order), so `.//Unicode` extraction
    * sees [word1, lineText] per line (models/page.py:149-150 semantics). */
  def wordDoc(docId: Long, text: String): PageDoc = {
    val base = cleanDoc(docId, text)
    val region = base.regions.head
    val lines = region.lines.zipWithIndex.map { case (l, i) =>
      val w1 = l.getText.takeWhile(_ != ' ')
      val y0 = 100 + 60 * i
      val word = WordT(s"${l.id}w0", hasCoords = true,
        Seq(Pt(120, y0 + 20), Pt(200, y0 + 20), Pt(200, y0 + 45), Pt(120, y0 + 45)),
        Seq(TextEquivT(0, w1)))
      l.copy(words = Seq(word), unicodes = Seq(w1, l.getText))
    }
    base.copy(regions = Seq(region.copy(lines = lines)))
  }

  /** Every FULL 8-word chunk is split into two adjacent TextLines (5 + 3 words)
    * whose baselines leave a (50, 0) gap — under merge_splitted_lines'
    * (64, 12) thresholds — so `sort_and_merge` must reassemble exactly the
    * clean extraction (models/text_elements.py:138-207). Partial trailing
    * chunks stay single lines. */
  def splitLinesDoc(docId: Long, text: String): PageDoc = {
    val lts = lineTexts(text)
    val lines = lts.zipWithIndex.flatMap { case (t, i) =>
      val (chunk, y0) = (t.split(" ", -1), 100 + 60 * i)
      if (chunk.length < WordsPerLine) Seq(mkLine(s"r0l$i", i, t))
      else Seq(
        line(s"r0l${i}a", box(100, y0, 480, y0 + 50), Seq(Pt(120, y0 + 40), Pt(460, y0 + 40)),
          chunk.take(5).mkString(" ")),
        line(s"r0l${i}b", box(500, y0, 900, y0 + 50), Seq(Pt(510, y0 + 40), Pt(890, y0 + 40)),
          chunk.drop(5).mkString(" ")))
    }
    oneRegionDoc(docId, lts.size, lines)
  }

  /** Chunks alternate between a left column (x 100..400) and a right column
    * (x 700..1000) — outer tercile means 600 apart, over the
    * split_region_by_textlinecoords 500 threshold. Even chunk -> left. */
  def twoColumnDoc(docId: Long, text: String): PageDoc = {
    val lts = lineTexts(text)
    val lines = lts.zipWithIndex.map { case (t, i) =>
      val y0 = 100 + 60 * (i / 2)
      val (x0, x1) = if (i % 2 == 0) (100, 400) else (700, 1000)
      line(s"r0l$i", box(x0, y0, x1, y0 + 50), Seq(Pt(x0 + 20, y0 + 40), Pt(x1 - 20, y0 + 40)), t)
    }
    oneRegionDoc(docId, lts.size, lines)
  }

  /** Every chunk with index i%3==2 that is not the last gets a trailing ASCII
    * hyphen — isolated hyphen lines (no chains), so the dehyphe transformation
    * is locally computable and the oracle stays plain SQL. All words are
    * lowercase, so the merge branch always fires (models/page.py:125-129). */
  def hyphenatedDoc(docId: Long, text: String): PageDoc = {
    val lts0 = lineTexts(text)
    chunkDoc(docId, lts0.zipWithIndex.map { case (t, i) => if (i % 3 == 2 && i < lts0.size - 1) t + "-" else t })
  }

  /** Adversarial-geometry document family (VERDICT r1 item 3): the reference's
    * geometry ops exist for messy scans, so line 0 carries a defect class
    * m = doc_id % 7 of NON-rectangular / degenerate shapes (all other lines
    * stay clean, so oracles are CASE tables over m plus the clean arithmetic):
    *   m=1 -> concave polygon: a rectangular bite in the bottom edge (valid,
    *          convex hull == bbox, area 40000-4000=36000)
    *   m=2 -> rotated rectangle on a 3-4-5 slope (integer corners, 120x50,
    *          area 6000), baseline along the rotated midline
    *   m=3 -> self-intersecting bow-tie WITH its baseline kept (vs the corrupt
    *          family's baseline-less bow-tie)
    *   m=4 -> 4 collinear points: zero-area ring, degenerate convex hull
    *          (LineString), degenerate mrr in _compute_baseline
    *          (models/text_elements.py:393-396)
    *   m=5 -> stuttered ring: an exact duplicate point and a distance-1
    *          near-duplicate (remove_repeated_points tolerance=1 fodder)
    *   m=6 -> an EXTRA region whose Coords are a U-shape (notch x 400..500)
    *          around a bar line: fit_first_into_second's intersection is a
    *          MultiPolygon and the larger piece survives
    *          (models/basic_elements.py:268-276)
    */
  def messyDoc(docId: Long, text: String): PageDoc = {
    val base = cleanDoc(docId, text)
    val m = (docId % 7).toInt
    val region = base.regions.head
    val lines0 = region.lines
    if (lines0.isEmpty) return base
    val l0 = lines0.head
    val y0 = 100
    val l0m = m match {
      case 1 => l0.copy(coords = Seq(Pt(100, y0), Pt(900, y0), Pt(900, y0 + 50), Pt(600, y0 + 50),
        Pt(600, y0 + 30), Pt(400, y0 + 30), Pt(400, y0 + 50), Pt(100, y0 + 50)))
      case 2 => l0.copy(
        // 120x50 rect rotated on a 3-4-5 slope (u=(0.8,0.6)): integer corners,
        // area 6000; small enough that the 16-buffered shape stays inside the
        // 1-line parent box (y <= 220) and touches no neighbor ring
        coords = Seq(Pt(200, 80), Pt(296, 152), Pt(266, 192), Pt(170, 120)),
        baseline = Seq(Pt(205, 115), Pt(261, 157)))
      case 3 => l0.copy(coords = Seq(Pt(100, y0), Pt(900, y0 + 50), Pt(100, y0 + 50), Pt(900, y0)))
      case 4 => l0.copy(coords = Seq(Pt(100, y0), Pt(300, y0), Pt(600, y0), Pt(900, y0)))
      case 5 => l0.copy(coords = Seq(Pt(100, y0), Pt(101, y0), Pt(900, y0), Pt(900, y0 + 50),
        Pt(900, y0 + 50), Pt(100, y0 + 50)))
      case _ => l0
    }
    val mutated = base.copy(regions = Seq(region.copy(lines = l0m +: lines0.tail)))
    if (m == 6) {
      val uParent = Seq(Pt(50, 950), Pt(400, 950), Pt(400, 1070), Pt(500, 1070), Pt(500, 950),
        Pt(950, 950), Pt(950, 1100), Pt(50, 1100))
      val bar = line("rxl0", box(100, 1000, 900, 1050), Seq(Pt(120, 1040), Pt(880, 1040)), "xb xb")
      val rx = RegionT("rx", "text", hasCoords = true, uParent, Nil, Seq(bar), Nil)
      mutated.copy(docOrderRegionIds = mutated.docOrderRegionIds :+ "rx",
        regions = mutated.regions :+ rx)
    } else mutated
  }

  /** Clean document decorated with deterministic UNMODELED XML (metadata,
    * text style, custom attributes) — drives the oracle-checked pass-through
    * round trip: every extra is a pure function of doc_id, already in the
    * capture serializer's canonical form, so the DuckDB oracle recomputes the
    * exact strings that must survive parse -> write -> parse. */
  def extrasDoc(docId: Long, text: String): PageDoc = {
    val base = cleanDoc(docId, text)
    val k = docId % 7
    val region = base.regions.head
    val r2 = region.copy(extras = NodeExtras(
      Seq(AttrT("custom", s"structure {type:paragraph; idx:${docId % 5}}")),
      Seq(s"""<TextStyle fontSize="$k.5" bold="true"></TextStyle>""")))
    base.copy(
      regions = Seq(r2),
      extras = DocExtras(
        pcgts = NodeExtras(Nil, Seq(s"<Metadata><Creator>gen-$k</Creator></Metadata>")),
        page = NodeExtras(Seq(AttrT("custom", s"readingDirection {ltr} n:$k")), Nil)))
  }

  // ---- DataFrame lifters ----------------------------------------------------

  /** Every PAGE-XML fixture family by name: the one table the
    * [[graft.expr.Kernel.PageXmlFixture]] kernel looks its builder up in. */
  val families: Map[String, (Long, String) => PageDoc] = Map(
    "clean" -> (cleanDoc _), "twoRegion" -> (twoRegionDoc _), "corrupt" -> (corruptDoc _), "withWords" -> (wordDoc _),
    "splitLines" -> (splitLinesDoc _), "twoColumn" -> (twoColumnDoc _), "hyphenated" -> (hyphenatedDoc _),
    "messy" -> (messyDoc _), "withExtras" -> (extrasDoc _))

  /** The PAGE-XML bytes of fixture `family` for one document. */
  def pageXml(docId: Long, text: String, family: String): Array[Byte] =
    PageXmlWriter.write(families(family)(docId, text)).getBytes(StandardCharsets.UTF_8)

  /** documents(doc_id, text, lang, …) -> pages(url, warc_ts, html, text, lang)
    * as one projection, with `html = payload(doc_id, coalesce(text, ''))`:
    * `payload` is a (BIGINT, STRING) -> BINARY fixture kernel. It works on
    * batch and streaming DataFrames alike, and a plan that does not read
    * `html` never builds it. */
  def lift(docs: DataFrame, payload: Kernel): Dataset[PageRow] = {
    val id = col("doc_id").cast(LongType)
    val text = col("text").cast(StringType)
    docs.select(
      concat(lit("doc://"), id.cast(StringType)).as("url"),
      timestamp_seconds(id * 3600).as("warc_ts"),
      payload(id, coalesce(text, lit(""))).as("html"),
      text.as("text"),
      col("lang").cast(StringType).as("lang"))
      .as(Encoders.product[PageRow])
  }

  /** PAGE-XML pages of fixture `family` (a key of [[families]]). */
  def liftDf(docs: DataFrame, family: String): Dataset[PageRow] = lift(docs, Kernel.PageXmlFixture(family))

  private def table(spark: SparkSession, sfDir: String, family: String): Dataset[PageRow] =
    liftDf(graft.Tables.parquet(spark, s"$sfDir/documents.parquet"), family)

  def clean(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "clean")
  def twoRegion(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "twoRegion")
  def corrupt(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "corrupt")
  def withWords(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "withWords")
  def splitLines(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "splitLines")
  def twoColumn(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "twoColumn")
  def hyphenated(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "hyphenated")
  def messy(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "messy")
  def withExtras(spark: SparkSession, sfDir: String): Dataset[PageRow] = table(spark, sfDir, "withExtras")
}
