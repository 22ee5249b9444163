package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table-layout seams that decide whether a 100 TB query shuffles
  * at all: bucketed sinks (co-located repeated joins) and partitioned sinks
  * (scan-time partition pruning). Both are WRITE-side knobs — the reader
  * gets the benefit for free from the catalog metadata, which is exactly
  * why a long-lived corpus table should be laid out this way once rather
  * than re-shuffled by every downstream job.
  */
object TableLayout {

  /** Co-located join via bucketed storage: both doc-grain projections are
    * written `bucketBy(buckets, doc_id)` + per-bucket sorted, then joined
    * back bucket-to-bucket. With matching bucket counts on the join key the
    * sort-merge join needs NO shuffle exchange on either side (plan-pinned
    * in LayoutSpec) — at 10^12 docs this is the difference between a join
    * that moves 0 bytes and one that moves both tables. The `merge` hint
    * keeps the demo on the SMJ path even at test scale where the sides
    * would otherwise broadcast.
    */
  def bucketedJoin(s: SparkSession, docs: DataFrame, buckets: Int = 8): DataFrame = {
    val words = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_words"), col("lang"))
    val chars = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"), col("source"))
    def writeSide(df: DataFrame, name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      df.write.format("parquet")
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .option("path", s"${graft.Scratch.root}/buckets/$name")
        .mode("overwrite")
        .saveAsTable(name)
    }
    writeSide(words, "graft_bucket_words")
    writeSide(chars, "graft_bucket_chars")
    s.table("graft_bucket_words").hint("merge")
      .join(s.table("graft_bucket_chars"), "doc_id")
      .select("doc_id", "n_words", "n_chars", "lang", "source")
  }

  /** Partition-pruned scan: the corpus is written `partitionBy(lang)` and
    * read back with a partition-key predicate — the scan lists ONLY the
    * matching partition directories (PartitionFilters in the plan, pinned
    * in LayoutSpec), so a one-language job over a 100-language corpus reads
    * ~1/100 of the files without any index. The predicate never even
    * reaches row-level filtering.
    */
  def partitionPrunedScan(s: SparkSession, docs: DataFrame, lang: String): DataFrame = {
    val path = s"${graft.Scratch.root}/partitioned/docs_by_lang"
    docs.select(col("doc_id"), col("text"), col("lang"))
      .write.partitionBy("lang").mode("overwrite").parquet(path)
    graft.Tables.parquet(s, path)
      .where(col("lang") === lang)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
  }
}
