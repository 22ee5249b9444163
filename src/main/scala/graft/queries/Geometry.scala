package graft.queries

import org.apache.spark.sql.functions._
import pageplus.data.PagesFromDocuments
import pageplus.spark.Pipeline

import Shared._

/** Adversarial-geometry family (VERDICT r1 item 3): concave, rotated,
  * self-intersecting, collinear-degenerate, stuttered rings and a U-shaped
  * parent whose fit intersection is a MultiPolygon — end-to-end through
  * validate / repair / extend / extend-baseline, oracles are CASE tables
  * over m = doc_id % 7 (constants derived in PagesFromDocuments.messyDoc
  * scaladoc + pinned by MessySpec).
  *
  * Messy-geometry family: m = doc_id % 7 selects the planted defect on
  * line 0 (see PagesFromDocuments.messyDoc); every other line follows the
  * clean arithmetic. Geometry constants derive from the planted shapes:
  * bite-concave area 40000-200*20=36000; rotated 120x50 rect area 6000;
  * collinear ring area 0; extend constants measured once from the
  * deterministic JTS pipeline and pinned by MessySpec. */
object Geometry {

  val queries: Seq[Q] = Seq(
    Q("validate_messy", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.messy(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(pageplus.ops.Validate.page _)
        .select(col("url"), col("elementId").as("element_id"), col("rule"))
    },
      """SELECT 'doc://'||doc_id AS url, 'r0l0' AS element_id,
        |       unnest(CASE WHEN doc_id % 7 = 3 THEN ['ring_not_valid','baseline_pts_outside']
        |                   WHEN doc_id % 7 = 4 THEN ['ring_not_valid','baseline_outside']
        |                   ELSE []::VARCHAR[] END) AS rule
        |FROM documents""".stripMargin),
    Q("repair_messy", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.messy(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(d => pageplus.ops.Repair.page(d)._2)
        .select(col("url"), col("elementId").as("element_id"), col("rule"))
    },
      """SELECT 'doc://'||doc_id AS url, 'r0l0' AS element_id,
        |       unnest(CASE WHEN doc_id % 7 = 3 THEN ['ring_not_valid','hull_applied']
        |                   WHEN doc_id % 7 = 4 THEN ['ring_not_valid','repair_error']
        |                   ELSE []::VARCHAR[] END) AS rule
        |FROM documents""".stripMargin),
    Q("repair_messy_geom", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.messy(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Repair.page(d)._1)
        .flatMap(d => d.textRegions.flatMap(_.lines).map { l =>
          (d.url, l.id, l.coords.size.toLong, pageplus.geo.Geo.polygon(l.coords).getArea.toLong)
        })
        .toDF("url", "id", "n_points", "area")
    },
      """WITH d AS (SELECT doc_id, doc_id % 7 AS m,
        |                  CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl
        |           FROM documents),
        |g AS (SELECT doc_id, m, i FROM d, UNNEST(generate_series(1, nl)) AS t(i))
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       CAST(CASE WHEN i = 1 AND m = 1 THEN 8 ELSE 4 END AS BIGINT) AS n_points,
        |       CAST(CASE WHEN i > 1 THEN 40000
        |                 WHEN m = 1 THEN 36000 WHEN m = 2 THEN 6000 WHEN m = 4 THEN 0
        |                 ELSE 40000 END AS BIGINT) AS area
        |FROM g
        |UNION ALL
        |SELECT 'doc://'||doc_id, 'rxl0', 4, 40000 FROM d WHERE m = 6""".stripMargin),
    Q("extend_messy", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.messy(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Extend.extendLines(d)._1)
        .flatMap(d => d.textRegions.flatMap(_.lines).map { l =>
          val poly = pageplus.geo.Geo.polygon(l.coords)
          val sides = pageplus.geo.Geo.sideLengths(pageplus.geo.Geo.mrr(poly))
          (d.url, l.id, poly.getArea.toLong, sides.head.toLong, sides.last.toLong)
        })
        .toDF("url", "id", "area", "width", "length")
    },
      """WITH d AS (SELECT doc_id, doc_id % 7 AS m,
        |                  CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl
        |           FROM documents),
        |g AS (SELECT doc_id, m, nl, i,
        |             -- clean height: 82 minus midline cut below (11), cut
        |             -- above (11), and the 6px parent bottom clip on the last
        |             -- line; a line after a non-touching (rotated/bow-tie/
        |             -- degenerate) line 0 keeps its top uncut
        |             CASE WHEN nl = 1 THEN 76
        |                  WHEN i = 1 THEN 71
        |                  WHEN i = 2 AND m IN (2,3,4) THEN (CASE WHEN i = nl THEN 76 ELSE 71 END)
        |                  WHEN i = nl THEN 65 ELSE 60 END AS h
        |      FROM d, UNNEST(generate_series(1, nl)) AS t(i))
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 12511
        |                 WHEN i = 1 AND m = 3 THEN 65682
        |                 WHEN i = 1 AND m = 4 THEN 25600
        |                 ELSE 832*h END AS BIGINT) AS area,
        |       CAST(CASE WHEN i = 1 AND m IN (2,3) THEN 82
        |                 WHEN i = 1 AND m = 4 THEN 32
        |                 ELSE h END AS BIGINT) AS width,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 152
        |                 WHEN i = 1 AND m = 3 THEN 801
        |                 WHEN i = 1 AND m = 4 THEN 800
        |                 ELSE 832 END AS BIGINT) AS length
        |FROM g
        |UNION ALL
        |SELECT 'doc://'||doc_id, 'rxl0', 34112, 82, 416 FROM d WHERE m = 6""".stripMargin),
    Q("extend_baseline_messy", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.messy(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(d => d.textRegions.flatMap(_.lines).flatMap { l =>
          pageplus.ops.Baseline.extendBaseline(l).map { bl =>
            (d.url, l.id, bl.head.x, bl.head.y, bl.last.x, bl.last.y)
          }
        })
        .toDF("url", "id", "bl_sx", "bl_sy", "bl_ex", "bl_ey")
    },
      """WITH d AS (SELECT doc_id, doc_id % 7 AS m,
        |                  CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl
        |           FROM documents)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 173 ELSE 100 END AS INT) AS bl_sx,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 115 WHEN i = 1 AND m = 4 THEN 100
        |                 ELSE 100+60*(i-1)+40 END AS INT) AS bl_sy,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 292 ELSE 900 END AS INT) AS bl_ex,
        |       CAST(CASE WHEN i = 1 AND m = 2 THEN 157 WHEN i = 1 AND m = 4 THEN 100
        |                 ELSE 100+60*(i-1)+40 END AS INT) AS bl_ey
        |FROM d, UNNEST(generate_series(1, nl)) AS t(i)
        |UNION ALL
        |SELECT 'doc://'||doc_id, 'rxl0', 100, 1040, 900, 1040 FROM d WHERE m = 6""".stripMargin),
    Q("repair_extract", (s, dir) => {
      // repair never touches text: extraction after repair stays byte-identical
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.corrupt(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Repair.page(d)._1)
        .map(d => Pipeline.Extracted(d.url, pageplus.text.FullText.extract(d)))
        .toDF()
    },
      FulltextOracleSql),
    Q("dsv_export", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(pageplus.text.Dsv.rows _)
        .toDF()
    },
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
        |     l AS (SELECT doc_id, words, CAST(ceil(len(words)/8.0) AS BIGINT) AS nl FROM d)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       array_to_string(words[(i-1)*8+1:(i-1)*8+8], ' ') AS text,
        |       0 AS region,
        |       120 AS start_x, CAST(100+60*(i-1)+40 AS INT) AS start_y,
        |       500 AS mean_x, CAST(100+60*(i-1)+40 AS INT) AS mean_y,
        |       880 AS end_x, CAST(100+60*(i-1)+40 AS INT) AS end_y,
        |       40000 AS area, 50 AS width, 800 AS length
        |FROM l, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin),
    Q("dsv_dehyphenated", (s, dir) => {
      // `export dsv --dehyphenate` (cli/export.py:128-129): dehyphe applied to
      // the text column only, rows zipped (the reference's truncation hazard
      // cannot fire here — the hyphenated lift has no empty lines)
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.hyphenated(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(pageplus.text.Dsv.rowsDehyphenated _)
        .toDF()
    },
      // same geometry as dsv_export (the hyphenated lift shares the line grid),
      // text column from the dehyphe CASE the fulltext_dehyphenate oracle uses
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
        |     l AS (SELECT doc_id, words, CAST(ceil(len(words)/8.0) AS BIGINT) AS nl FROM d)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       CASE
        |         WHEN (i-1)%3=2 AND i < nl THEN array_to_string(words[(i-1)*8+1:(i-1)*8+8],' ') || words[i*8+1]
        |         WHEN (i-1)%3=0 AND i > 1 THEN coalesce(array_to_string(words[(i-1)*8+2:(i-1)*8+8],' '), '')
        |         ELSE array_to_string(words[(i-1)*8+1:(i-1)*8+8],' ')
        |       END AS text,
        |       0 AS region,
        |       120 AS start_x, CAST(100+60*(i-1)+40 AS INT) AS start_y,
        |       500 AS mean_x, CAST(100+60*(i-1)+40 AS INT) AS mean_y,
        |       880 AS end_x, CAST(100+60*(i-1)+40 AS INT) AS end_y,
        |       40000 AS area, 50 AS width, 800 AS length
        |FROM l, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin),
    Q("extend_lines", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Extend.extendLines(d)._1)
        .flatMap(d => d.textRegions.flatMap(_.lines).map { l =>
          val poly = pageplus.geo.Geo.polygon(l.coords)
          val sides = pageplus.geo.Geo.sideLengths(pageplus.geo.Geo.mrr(poly))
          (d.url, l.id, poly.getArea.toLong, sides.head.toLong, sides.last.toLong)
        })
        .toDF("url", "id", "area", "width", "length")
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents),
        |     g AS (SELECT doc_id, nl, i,
        |                  CASE WHEN nl = 1 THEN 76 WHEN i = 1 THEN 71 WHEN i = nl THEN 65 ELSE 60 END AS h
        |           FROM d, UNNEST(generate_series(1, nl)) AS t(i))
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       CAST(832*h AS BIGINT) AS area, CAST(h AS BIGINT) AS width, CAST(832 AS BIGINT) AS length
        |FROM g""".stripMargin),
    Q("sort_and_merge", (s, dir) => {
      // split lines reassemble to the exact clean extraction (SURVEY §2.7)
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.splitLines(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Merge.sortAndMerge(d)._1)
        .map(d => Pipeline.Extracted(d.url, pageplus.text.FullText.extract(d)))
        .toDF()
    },
      FulltextOracleSql),
    Q("delete_words", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.withWords(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(pageplus.ops.Delete.words _)
        .map(d => Pipeline.Extracted(d.url, pageplus.text.FullText.extract(d)))
        .toDF()
    },
      FulltextOracleSql),
    Q("delete_line_textequiv", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.withWords(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(pageplus.ops.Delete.lineTextEquiv _)
        .map(d => Pipeline.Extracted(d.url, pageplus.text.FullText.extract(d)))
        .toDF()
    },
      """SELECT 'doc://'||doc_id AS url,
        |  array_to_string([words[(i-1)*8+1] for i in range(1, CAST(ceil(len(words)/8.0) AS BIGINT)+1)], chr(10)) AS extracted_text
        |FROM (SELECT doc_id, string_split(text,' ') AS words FROM documents)""".stripMargin),
    Q("delete_textlines", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(pageplus.ops.Delete.textlines _)
        .map(d => Pipeline.Extracted(d.url, pageplus.text.FullText.extract(d)))
        .toDF()
    },
      """SELECT 'doc://'||doc_id AS url, '' AS extracted_text FROM documents""".stripMargin),
    Q("pseudo_literal_report", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(d => pageplus.ops.Baseline.pseudoLinePolygonLiteral(d)._2)
        .select(col("url"), col("elementId").as("element_id"), col("rule"))
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS element_id, 'pseudo_error' AS rule
        |FROM d, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin),
    Q("pseudo_intended", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .map(d => pageplus.ops.Baseline.pseudoLinePolygonIntended(d)._1)
        .flatMap(d => d.textRegions.flatMap(_.lines).map { l =>
          val poly = pageplus.geo.Geo.polygon(l.coords)
          val sides = pageplus.geo.Geo.sideLengths(pageplus.geo.Geo.mrr(poly))
          (d.url, l.id, l.baseline.head.x, l.baseline.head.y, l.baseline.last.x, l.baseline.last.y,
            poly.getArea.toLong, sides.head.toLong, sides.last.toLong)
        })
        .toDF("url", "id", "bl_sx", "bl_sy", "bl_ex", "bl_ey", "area", "width", "length")
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       104 AS bl_sx, CAST(100+60*(i-1)+50 AS INT) AS bl_sy, 896 AS bl_ex, CAST(100+60*(i-1)+50 AS INT) AS bl_ey,
        |       CAST(25344 AS BIGINT) AS area, CAST(32 AS BIGINT) AS width, CAST(792 AS BIGINT) AS length
        |FROM d, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin),
    Q("translate_lines", (s, dir) => {
      // translate_textlinepolygon / translate_baseline by (+5, +7)
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap { d =>
          d.textRegions.flatMap(_.lines).map { l0 =>
            val l = pageplus.ops.Baseline.translateBaseline(
              pageplus.ops.Baseline.translatePolygon(l0, 5, 7), 5, 7)
            (d.url, l.id, l.coords.head.x, l.coords.head.y,
              l.baseline.head.x, l.baseline.head.y, l.baseline.last.x, l.baseline.last.y)
          }
        }.toDF("url", "id", "poly_x0", "poly_y0", "bl_sx", "bl_sy", "bl_ex", "bl_ey")
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       105 AS poly_x0, CAST(100+60*(i-1)+7 AS INT) AS poly_y0,
        |       125 AS bl_sx, CAST(100+60*(i-1)+47 AS INT) AS bl_sy, 885 AS bl_ex, CAST(100+60*(i-1)+47 AS INT) AS bl_ey
        |FROM d, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin),
    Q("extend_baseline", (s, dir) => {
      import s.implicits._
      Pipeline.parse(PagesFromDocuments.clean(s, dir).toDF(), saltPartitions = s.sparkContext.defaultParallelism)
        .flatMap(d => d.textRegions.flatMap(_.lines).map { l =>
          val bl = pageplus.ops.Baseline.extendBaseline(l).getOrElse(l.baseline)
          (d.url, l.id, bl.head.x, bl.head.y, bl.last.x, bl.last.y)
        })
        .toDF("url", "id", "bl_sx", "bl_sy", "bl_ex", "bl_ey")
    },
      """WITH d AS (SELECT doc_id, CAST(ceil(len(string_split(text,' '))/8.0) AS BIGINT) AS nl FROM documents)
        |SELECT 'doc://'||doc_id AS url, 'r0l'||(i-1) AS id,
        |       100 AS bl_sx, CAST(100+60*(i-1)+40 AS INT) AS bl_sy, 900 AS bl_ex, CAST(100+60*(i-1)+40 AS INT) AS bl_ey
        |FROM d, UNNEST(generate_series(1, nl)) AS t(i)""".stripMargin)
  )
}
