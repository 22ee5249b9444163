package pageplus.spark

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.expr.Kernel
import pageplus.model._
import pageplus.text.{FullText, Stats}
import pageplus.xml.StaxPageParser

/** The Spark lifecycle of the reference's per-file loop (SURVEY §3.1):
  * narrow projection -> optional salted repartition -> per-row parse and
  * transform -> output. Extraction is the `page_fulltext` kernel inside
  * generated code; the transforms that need a whole [[PageDoc]] ([[parse]],
  * [[pageStats]]) run typed. Column pruning keeps the scan at (url, html)
  * even though the pages table carries text/lang.
  */
object Pipeline {

  final case class Extracted(url: String, extracted_text: String)

  /** Explicit url-hash repartition (north_rule's salted layout): spreads
    * giant-document skew across partitions deterministically. Hashing url
    * directly (HashPartitioning on the key) beats a pmod(xxhash64) pre-salt,
    * which double-hashes into fewer distinct partitions. No-op when
    * `partitions <= 0`. */
  def saltByUrl(df: DataFrame, partitions: Int): DataFrame =
    if (partitions <= 0) df
    else df.repartition(partitions, col("url"))

  /** pages(url, warc_ts, html, text, lang) -> (url, extracted_text): the
    * text-only parse and extraction of the `page_fulltext` kernel, one
    * codegen projection per row. */
  def fulltext(pages: DataFrame, dehyphenate: Boolean = false, ro: Boolean = false,
               saltPartitions: Int = 0): Dataset[Extracted] =
    saltByUrl(pages.select("url", "html"), saltPartitions)
      .select(col("url"), Kernel.PageFulltext(dehyphenate, ro)(col("html")).as("extracted_text"))
      .as(Encoders.product[Extracted])

  /** pages -> full typed [[PageDoc]] Dataset, for multi-step transforms. */
  def parse(pages: DataFrame, saltPartitions: Int = 0): Dataset[PageDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, html) => StaxPageParser.parse(url, html) })
  }

  /** Skew-aware extraction (SURVEY §4.2, north_star): documents above
    * `bigDocBytes` are NOT processed as one task-blocking row — they are parsed
    * once, split into per-region line chunks (explode), shuffled across the
    * cluster, and reassembled in document order with a deterministic
    * array_sort. Small documents take the [[fulltext]] kernel path. Byte-equal
    * to [[fulltext]] for every flag combination (chunk boundaries are region
    * boundaries; chunks carry LINE ARRAYS so the cross-region sequential
    * `dehyphe` fold runs once per document over the reassembled line sequence
    * in the reducer, and `reading_order=True` — last region wins — is decided
    * at parse time where the whole document is in hand).
    *
    * At 100 TB this bounds the longest task by the largest REGION, not the
    * largest document (one 500 MB page no longer stalls a partition). */
  def fulltextSkewAware(pages: DataFrame, dehyphenate: Boolean = false, ro: Boolean = false,
                        bigDocBytes: Long = 8L * 1024 * 1024,
                        saltPartitions: Int = 0): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val sized = saltByUrl(pages.select("url", "html"), saltPartitions)
      .withColumn("bytes", length(col("html")).cast("long"))
      // reassembly key: url is the table key per the input_hint, but a
      // re-crawled url must not merge two documents into one garbled row —
      // the synthetic row id keeps reassembly strictly per input row (it
      // never reaches the output)
      .withColumn("rid", monotonically_increasing_id())
    val small = fulltext(sized.filter(col("bytes") <= bigDocBytes).select("url", "html"),
      dehyphenate = dehyphenate, ro = ro).toDF()
    // big docs: region-grain line chunks -> shuffle -> ordered reassembly
    val bigChunks = sized.filter(col("bytes") > bigDocBytes).select("rid", "url", "html")
      .as[(Long, String, Array[Byte])]
      .flatMap { case (rid, url, html) =>
        val doc = StaxPageParser.parseTextOnly(url, html)
        // each .//TextLine chunks once, in the first region that carries it
        // (a nested region's lines also sit inside its parent)
        val regionLines: Seq[(Int, Seq[String])] =
          if (ro) Seq((0, FullText.lastReadingOrderLines(doc)))
          else FullText.regionLines(doc).zipWithIndex.map { case (ls, i) => (i, ls.flatMap(_.unicodes)) }
        if (regionLines.isEmpty) Seq((rid, url, 0, Seq.empty[String]))
        else regionLines.map { case (i, ls) => (rid, url, i, ls) }
      }
      .toDF("rid", "url", "ridx", "lines")
    val gathered = bigChunks
      .repartition(col("rid")) // spread the chunks, then regroup
      .groupBy("rid", "url")
      .agg(flatten(
        transform(array_sort(collect_list(struct(col("ridx"), col("lines")))),
          x => x.getField("lines"))).as("lines"))
    val big =
      if (dehyphenate)
        gathered.select(col("url"), col("lines")).as[(String, Seq[String])]
          .map { case (url, lines) =>
            val out = if (lines.nonEmpty) pageplus.text.Dehyphe(lines) else lines
            Extracted(url, out.mkString("\n"))
          }.toDF()
      else
        gathered.select(col("url"), array_join(col("lines"), "\n").as("extracted_text"))
    small.unionByName(big)
  }

  /** pages -> per-page element counts (fused parse+count, one pass). */
  def pageStats(pages: DataFrame, saltPartitions: Int = 0): Dataset[Stats.PageCounts] = {
    val spark = pages.sparkSession
    import spark.implicits._
    saltByUrl(pages.select("url", "html"), saltPartitions)
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, html) => Stats.count(StaxPageParser.parse(url, html)) })
  }
}
