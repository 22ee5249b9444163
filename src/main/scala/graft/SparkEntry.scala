package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import pageplus.data.PagesFromDocuments
import pageplus.spark.Pipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and reads only the driver's parquet tables in
  * sfDir. PAGE-XML queries first lift `documents` into the input_hint `pages`
  * shape deterministically ([[PagesFromDocuments]]), so each has a plain-SQL
  * DuckDB oracle. Numeric aggregate outputs avoid float-sum order sensitivity by
  * rounding per ROW to integer cents and summing BIGINTs (identical IEEE per-row
  * arithmetic in Spark and DuckDB).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesFromDocuments.clean(spark, "/root/testdata/sf0.001").toDF()
    Pipeline.fulltext(pages, saltPartitions = 8).toDF()
  }

  /** One entry per implemented operator from SURVEY.md §2, each declared once
    * as a [[graft.queries.Q]] in its family file under `graft/queries`. Each
    * first installs the session's [[graft.plans.GraftExtensions]], so every
    * query is planned with the same strategies, rule and SQL functions,
    * whichever queries ran before it. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Registry.all.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        graft.plans.GraftExtensions.install(s)
        q.run(s, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    graft.queries.Registry.all.map(q => q.name -> q.oracle).toMap
}
