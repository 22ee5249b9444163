package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query and its DuckDB oracle, declared together.
  *
  * `run` takes (spark, sfDir) and reads only the parquet tables in sfDir.
  * `oracle` is SQL that DuckDB runs on the same tables; its result must equal
  * `run`'s, column aliases included. `eventTime` marks a query whose answer
  * derives from TIMESTAMP_NTZ event times: `TzInvarianceSpec` re-runs every
  * such query under DST session zones, and `QueriesSmokeSpec` fails on an
  * unmarked query whose plan reads an NTZ column. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    eventTime: Boolean = false)

/** Every query, family by family. */
object Registry {

  /** (family name, its queries) in declaration order. */
  val families: Seq[(String, Seq[Q])] = Seq(
    "pagexml" -> PageXml.queries,
    "geometry" -> Geometry.queries,
    "relational" -> Relational.queries,
    "training" -> TrainingData.queries,
    "dedup" -> DedupAnn.queries,
    "web" -> Web.queries,
    "layout" -> LayoutPdf.queries,
    "streaming" -> Streaming.queries)

  val all: Seq[Q] = uniqueNames(families.flatMap(_._2))

  val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** `qs` itself; throws when two queries share a name, which a map keyed
    * by name would silently collapse to one. */
  def uniqueNames(qs: Seq[Q]): Seq[Q] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"duplicate query names: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }
}
