package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import pageplus.data.PagesFromDocuments
import pageplus.xml.PageXmlWriter

/** Seeded inputs. Everything here is a pure function of its seed arguments, so
  * the same seed gives byte-identical tables, and the program under test sees
  * only the tables. */
object Corpus {

  /** The word pool of the test-data `documents` table. */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** The seed of the base tables. Workload seeds choose replicas, classes, url
    * prefixes and query order on top of them; the base rows stay fixed so the
    * stored query fingerprints hold for every workload seed. */
  val BaseSeed = 42L

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long, c: Long = 0L): Long = mix(mix(mix(a) ^ b) ^ c)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** `documents(doc_id, text, lang, source, n_chars)`: 10-100 words from
    * [[Vocab]], five languages, twenty sources and a few exact duplicates. */
  def docs(n: Int, seed: Long = BaseSeed): Seq[Doc] = {
    val langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val rng = new java.util.SplittableRandom(mix(seed, i.toLong))
      texts(i) =
        if (i % 625 == 1) texts(i - 1)
        else Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      Doc(i.toLong, texts(i), langs(rng.nextInt(langs.length)), s"src${rng.nextInt(20)}",
        texts(i).length.toLong)
    }
  }

  def docsDf(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    docs(n).toDS().toDF()
  }

  /** One replicated page row. `doc_id`, `cls`, `rep` and `text` are what the
    * output checks need; the program reads only `url` and `html`. */
  final case class Page(url: String, html: Array[Byte], text: String, doc_id: Long, cls: String, rep: Int)

  /** Seeded url prefix of replica `r`: it moves rows between hash partitions. */
  def urlPrefix(seed: Long, r: Int): String = f"${mix(seed, r.toLong, 1L)}%016x".take(8) + s"-r$r/"

  /** Seeded class of replica `r` of document `docId`: a uniform draw over
    * `classes`, so every seed has the same expected class mix. */
  def pick(seed: Long, r: Int, docId: Long, classes: Seq[String]): String =
    classes(java.lang.Math.floorMod(mix(seed, r.toLong, docId + 7L), classes.size.toLong).toInt)

  /** Page renderers by class: the PAGE-XML document families of
    * `PagesFromDocuments`. */
  private val render: Map[String, (Long, String) => String] = Map(
    "clean" -> ((id, t) => PageXmlWriter.write(PagesFromDocuments.cleanDoc(id, t))),
    "words" -> ((id, t) => PageXmlWriter.write(PagesFromDocuments.wordDoc(id, t))),
    "hyphenated" -> ((id, t) => PageXmlWriter.write(PagesFromDocuments.hyphenatedDoc(id, t))),
    "extras" -> ((id, t) => PageXmlWriter.write(PagesFromDocuments.extrasDoc(id, t))),
    "messy" -> ((id, t) => PageXmlWriter.write(PagesFromDocuments.messyDoc(id, t))))

  val FulltextClasses: Seq[String] = Seq("clean", "clean", "words", "hyphenated", "extras")
  val RepairClasses: Seq[String] = Seq("clean", "messy")

  def url(seed: Long, r: Int, docId: Long): String = urlPrefix(seed, r) + PagesFromDocuments.url(docId)

  /** `replicas` copies of the base documents, each page of a seeded class
    * from `classes`; adds the pages' bytes to `bytes`. */
  def pages(docs: DataFrame, seed: Long, replicas: Int, classes: Seq[String],
            bytes: LongAccumulator): Dataset[Page] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      // a document renders once per class; replicas differ only in url
      val memo = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
      (0 until replicas).iterator.map { r =>
        val cls = pick(seed, r, id, classes)
        val body = memo.getOrElseUpdate(cls, render(cls)(id, text).getBytes(UTF_8))
        bytes.add(body.length)
        Page(url(seed, r, id), body, text, id, cls, r)
      }
    }
  }

  /** The tables the query mix reads (`documents`, `events`, `orders`,
    * `lineitem`) at scale factor `sf`, with the columns and row counts per
    * unit of sf of the test data the query oracles run on, under `dir`.
    * Columns are hash draws of (seed, table, row), so they do not depend on
    * partitioning. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long = BaseSeed): Unit = {
    def n(perSf: Double, floor: Long): Long = math.max(floor, math.round(perSf * sf))
    // one file `<name>.parquet` per table, as in the test data (streaming
    // queries select the file by name inside the directory)
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$dir/.$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      Workloads.deleteTree(tmp)
    }
    // uniform draw in [0, k) from hash(seed, salt, id)
    def u(salt: String, k: Long): org.apache.spark.sql.Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(k))
    def frac(salt: String): org.apache.spark.sql.Column = u(salt, 1000000L) / 1e6
    val day = 86400L

    // key ranges of the tables the lineitems and orders refer to
    val (nCust, nPart, nSupp) = (n(150000, 150), n(200000, 200), n(10000, 10))
    val nOrd = n(1500000, 1500)
    val epoch95 = 788918400L // 1995-01-01
    write("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      u("o_cust", nCust).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (u("o_status", 3) + 1).cast("int")).as("o_orderstatus"),
      round(frac("o_price") * 498991.27 + 1001.91, 2).as("o_totalprice"),
      timestamp_seconds(lit(epoch95) + u("o_date", 2404) * day).cast("timestamp_ntz").as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (u("o_prio", 5) + 1).cast("int")).as("o_orderpriority")))
    val nLine = n(6000000, 6000)
    write("lineitem", spark.range(nLine).select(u("l_order", nOrd).as("l_orderkey"),
      u("l_part", nPart).as("l_partkey"), u("l_supp", nSupp).as("l_suppkey"),
      (u("l_line", 7) + 1).cast("int").as("l_linenumber"),
      (u("l_qty", 50) + 1).cast("double").as("l_quantity"),
      round(frac("l_price") * 104099.23 + 900.68, 2).as("l_extendedprice"),
      (u("l_disc", 11) / 100.0).as("l_discount"), (u("l_tax", 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u("l_rf", 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (u("l_ls", 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(epoch95 + day) + u("l_ship", 2498) * day).cast("timestamp_ntz").as("l_shipdate")))
    val nEv = n(1000000, 1000)
    val jan24 = 1704067200L
    write("events", spark.range(nEv).select(col("id").as("event_id"),
      // strictly increasing in event_id, ~26 s apart, microsecond precision
      timestamp_micros(lit(jan24 * 1000000L) + col("id") * lit(2592000000000L / nEv) +
        u("ev_us", 2592000000000L / nEv)).cast("timestamp_ntz").as("ts"),
      u("ev_user", 1500).as("user_id"),
      element_at(array(Seq("signup", "click", "error", "view", "purchase").map(lit): _*),
        (u("ev_type", 5) + 1).cast("int")).as("event_type"),
      round(frac("ev_val") * 560.21, 2).as("value"),
      format_string("{\"k\": %d}", u("ev_k", 100)).as("props")))
    write("documents", docsDf(spark, n(50000, 500).toInt))
  }
}
