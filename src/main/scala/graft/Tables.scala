package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way main code reads a parquet table.
  *
  * `spark.read.parquet(path)` without a schema runs a Spark job to read a
  * file footer on every call, also with `mergeSchema` off. [[parquet]] keeps
  * the schema Spark inferred for a path and reads with it again while the
  * path's files (path, length, modification time) and the session conf that
  * inference reads are unchanged; otherwise it infers exactly as
  * `spark.read.parquet` does and keeps that schema. Only the schema is kept:
  * the file index, relation and plan are built fresh on every read, so
  * appended or overwritten files are always seen. A path that cannot be
  * listed (missing, a glob) is read plainly and not kept, so it fails or
  * globs as `spark.read.parquet` does.
  */
object Tables {

  /** Reads that inferred a schema and reads that reused a kept one. */
  final case class Reads(inferred: Long, reused: Long) {
    def -(o: Reads): Reads = Reads(inferred - o.inferred, reused - o.reused)
  }

  /** Files (path, length, modification time) and the inference conf of one read. */
  private final case class Key(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[String, (Key, StructType)]
  private val inferred = new AtomicLong
  private val reused = new AtomicLong

  /** Counts since the JVM started. */
  def reads: Reads = Reads(inferred.get, reused.get)

  /** `spark.read.parquet(path)`, with the schema inferred once per unchanged path. */
  def parquet(spark: SparkSession, path: String): DataFrame = resolve(spark, path) match {
    case Left(df)      => df
    case Right(schema) => spark.read.schema(schema).parquet(path)
  }

  /** `spark.read.parquet(path).schema`, without a DataFrame on a reused schema. */
  def schema(spark: SparkSession, path: String): StructType = resolve(spark, path).fold(_.schema, identity)

  /** The kept schema when `path`'s key still matches, else a fresh inferring read. */
  private def resolve(spark: SparkSession, path: String): Either[DataFrame, StructType] = {
    val key = keyOf(spark, path)
    key.flatMap(k => Option(schemas.get(path)).collect { case (`k`, s) => s }) match {
      case Some(s) =>
        reused.incrementAndGet()
        Right(s)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.put(path, (k, df.schema)))
        inferred.incrementAndGet()
        Left(df)
    }
  }

  /** Conf that parquet schema inference reads, with the partition-column
    * typing of a partitioned path. Only explicitly set values count: an unset
    * key has its fixed default. */
  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.files.ignoreCorruptFiles" || k == "spark.sql.caseSensitive" ||
      k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** None when `path` cannot be listed. */
  private def keyOf(spark: SparkSession, path: String): Option[Key] =
    try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(Key(files.sortBy(_._1).toSeq,
        spark.conf.getAll.filter { case (k, _) => inferenceConf(k) }.toSeq.sorted))
    } catch { case NonFatal(_) => None }
}
