package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] reads as `spark.read.parquet` does: the same schema,
  * rows, plans and errors, with the schema inferred once per unchanged path
  * and conf, and inferred again when either changes. */
class TablesSpec extends AnyFunSuite {
  import SparkSuite._

  private val tables = Files.list(Paths.get(sf)).iterator().asScala
    .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted

  /** A fresh copy of the sf0.001 tables: paths no earlier read has kept. */
  private def copyOfSf(): String = {
    val dir = tempDir("graft_tables_sf_")
    tables.foreach(t => Files.copy(Paths.get(sf, t), Paths.get(dir, t)))
    dir
  }

  /** `body`'s result and the reads it added to [[Tables.reads]]. */
  private def counted[A](body: => A): (A, Tables.Reads) = {
    val before = Tables.reads
    val a = body
    (a, Tables.reads - before)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a first read launches the jobs of spark.read.parquet, a second read of the unchanged path none") {
    val path = s"${copyOfSf()}/documents.parquet"
    val plain = jobCount(spark.read.parquet(path))
    assert(plain >= 1, "spark.read.parquet infers the schema with a job")
    var reads = Tables.Reads(0, 0)
    assert(jobCount { reads = counted(Tables.parquet(spark, path))._2 } == plain)
    assert(reads == Tables.Reads(1, 0))
    assert(jobCount { reads = counted(Tables.parquet(spark, path))._2 } == 0)
    assert(reads == Tables.Reads(0, 1))
    assert(jobCount(Tables.schema(spark, path)) == 0)
  }

  test("every sf0.001 table: a reused schema gives the schema and rows of spark.read.parquet") {
    tables.foreach { t =>
      val path = s"$sf/$t"
      Tables.parquet(spark, path)
      val (df, reads) = counted(Tables.parquet(spark, path))
      assert(reads == Tables.Reads(0, 1), t)
      val plain = spark.read.parquet(path)
      assert(df.schema == plain.schema, t) // names, types, nullability, metadata
      assert(rows(df) == rows(plain), t)
    }
  }

  test("overwriting a path with another schema gives the new schema on the next read") {
    import spark.implicits._
    val path = s"${tempDir("graft_tables_")}/t"
    Seq(1L, 2L).toDF("a").write.parquet(path)
    Tables.parquet(spark, path)
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("a"))
    Seq(("x", 3)).toDF("b", "c").write.mode("overwrite").parquet(path)
    val (df, reads) = counted(Tables.parquet(spark, path))
    assert(reads == Tables.Reads(1, 0))
    assert(df.schema == spark.read.parquet(path).schema)
    assert(rows(df) == Seq("[x,3]"))
  }

  test("spark.sql.parquet.binaryAsString set in SessionConf.scoped reads BINARY as STRING, as spark.read.parquet") {
    // a BINARY column without Spark's schema in the footer, which would win over the conf
    val path = s"${tempDir("graft_tables_")}/bin.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(new Configuration).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("b", "abc"))
    finally w.close()

    def typeOfB(df: DataFrame) = df.schema("b").dataType
    assert(typeOfB(Tables.parquet(spark, path)) == BinaryType)
    assert(typeOfB(Tables.parquet(spark, path)) == BinaryType)
    SessionConf.scoped(spark, "spark.sql.parquet.binaryAsString", "true") {
      assert(typeOfB(spark.read.parquet(path)) == StringType)
      val df = Tables.parquet(spark, path)
      assert(typeOfB(df) == StringType)
      assert(rows(df) == Seq("[1,abc]"))
    }
    assert(typeOfB(Tables.parquet(spark, path)) == BinaryType)
  }

  test("appending to a ManifestCommitLog shows the new urls") {
    import spark.implicits._
    val log = pageplus.spark.ManifestCommitLog(s"${tempDir("graft_tables_")}/manifest")
    def urls = log.committed(spark).fold(Seq.empty[String])(_.as[String].collect().toSeq.sorted)
    assert(urls.isEmpty)
    log.commit(Seq("a", "b").toDF("url"))
    assert(urls == Seq("a", "b"))
    assert(urls == Seq("a", "b"))
    log.commit(Seq("c").toDF("url"))
    assert(urls == Seq("a", "b", "c"))
  }

  test("a missing path fails with the error of spark.read.parquet") {
    val path = s"${tempDir("graft_tables_")}/missing.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(path))
    val ours = intercept[AnalysisException](Tables.parquet(spark, path))
    assert(ours.getCondition == plain.getCondition && ours.getMessage == plain.getMessage)
  }

  test("a query plans the same after a reused schema as after an inferred one") {
    val dir = copyOfSf()
    // expression ids and the identities of per-run lambda objects are masked
    def plan(q: String) = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      .toString.replaceAll("#\\d+", "#").replaceAll("@[0-9a-f]+", "@")
    for (q <- Seq("q5_multijoin", "q10_events_window", "fulltext_sql_expr", "ann_bruteforce")) {
      val (inferred, first) = counted(plan(q))
      val (reused, second) = counted(plan(q))
      assert(first.inferred >= 1 && second == Tables.Reads(0, first.inferred + first.reused), q)
      assert(reused == inferred, q)
    }
  }
}
