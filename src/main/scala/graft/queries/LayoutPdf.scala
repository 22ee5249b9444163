package graft.queries

import Shared._

/** Layout-text reading order (north_rule: PDF/layout parse): spans
  * (page, x, y, text-run) in scrambled stream order -> column clustering
  * -> (page, column, row) reading order -> byte-identical document text.
  *
  * Real PDF decode (north_rule: PDF/layout parse): deterministic
  * uncompressed PDF 1.4 binaries -> startxref/xref/object-tree/content-
  * stream structural parse -> positioned spans -> column-clustered reading
  * order -> byte-identical document text; wholly map-side. */
object LayoutPdf {

  /** The document text itself: layout and PDF decode must recover it exactly. */
  private val PassthroughTextOracleSql =
    """SELECT 'doc://' || doc_id AS url, text AS extracted_text
      |FROM documents""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("layout_reading_order", (s, dir) => {
      graft.layout.LayoutText.extract(
        graft.layout.LayoutText.spansFromDocuments(tp(s, dir, "documents"))).toDF()
    },
      // layout reconstruction must recover the document text exactly: the span
      // generator is a bijective re-layout of the words, so the oracle is the
      // raw text itself
      PassthroughTextOracleSql),
    Q("pdf_text_extract", (s, dir) =>
      graft.layout.Pdf.extractText(tp(s, dir, "documents")).toDF(),
      // PDF decode is a bijective re-encoding of the words: the text oracle is
      // the raw document text; the structural stats are closed-form in the word
      // count (4 words/span, 12 lines/page, objects = catalog+pages+font+2/page,
      // TJ for odd-indexed spans with >= 2 words)
      PassthroughTextOracleSql),
    // same decode pipeline through /Filter /FlateDecode content streams
    // (JDK DEFLATE round-trip) — the compressed form real PDFs take
    Q("pdf_flate_extract", (s, dir) =>
      graft.layout.Pdf.extractText(tp(s, dir, "documents"), compress = true).toDF(),
      // flate round-trip must be text-transparent: same byte-identity oracle
      PassthroughTextOracleSql),
    Q("pdf_doc_stats", (s, dir) =>
      graft.layout.Pdf.docStats(tp(s, dir, "documents")).toDF().orderBy("url"),
      """WITH w AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS nw FROM documents),
        |d AS (SELECT doc_id, nw, (nw+3)//4 AS nlines FROM w),
        |e AS (SELECT doc_id, nlines, (nlines+11)//12 AS npages, nw - 4*(nlines-1) AS lastw FROM d),
        |f AS (SELECT doc_id, nlines, npages,
        |        (nlines-1)//2 + CASE WHEN (nlines-1)%2=1 AND lastw>=2 THEN 1 ELSE 0 END AS nttj
        |      FROM e)
        |SELECT 'doc://' || doc_id AS url,
        |  CAST(npages AS BIGINT) AS n_pages,
        |  CAST(3 + 2*npages AS BIGINT) AS n_objects,
        |  CAST(4 + 2*npages AS BIGINT) AS xref_size,
        |  CAST(nlines AS BIGINT) AS n_spans,
        |  CAST(nlines - nttj AS BIGINT) AS n_tj,
        |  CAST(nttj AS BIGINT) AS n_ttj
        |FROM f ORDER BY url""".stripMargin)
  )
}
