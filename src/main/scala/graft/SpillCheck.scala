package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spill-pressure correctness harness (VERDICT r5 item 2): every quiet-window
  * bench number fits in RAM; at 100 TB everything spills. This main runs the
  * fused extraction, `minhash_neardup`, and `sequence_pack_shuffled` twice —
  * once in a normal session and once under a constrained memory manager
  * (`spark.testing.memory` + lowered `spark.memory.fraction`, the knobs the
  * UnifiedMemoryManager itself exposes for exactly this) — asserts the
  * row-set hashes are IDENTICAL, and reports the spill the constrained run
  * actually incurred (listener-summed memory/disk spill bytes, which must be
  * non-zero for the run to prove anything).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.SpillCheck"
  *
  * Exit is non-zero on any hash mismatch or if the constrained run did not
  * spill. Documented in SCALE.md (spill section) and OPTIMIZATION_r06.md.
  */
object SpillCheck {

  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Order-invariant content hash of a DataFrame: per-row string fold,
    * XOR-combined (the shard_checksum move), plus the row count. */
  private def contentHash(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    var x = 0L
    rows.foreach { r => x ^= fnv(r.mkString("")) }
    (x, rows.length.toLong)
  }

  /** Replicate docs k-fold with disjoint id ranges, salting EVERY word with
    * the copy tag: every shingle differs across copies, so each copy's
    * near-dup structure stays local to the copy and the pair count scales
    * linearly with k (a head-only salt leaves copies near-identical to each
    * other — the cross-copy verified-pair set is then quadratic in k). */
  private def replicate(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(sequence(lit(0), lit(k - 1))).as("c"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("c").cast("long") * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), " ", -1),
          w => concat(lit("c"), col("c").cast("string"), lit("_"), w)), " ").as("text"))

  private def queries(spark: SparkSession, sfDir: String, k: Int): Seq[(String, DataFrame)] = {
    val pages = pageplus.data.PagesFromDocuments.clean(spark, sfDir).toDF()
    val docs = Tables.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val docsRep = replicate(docs, k)
    Seq(
      "fused_extraction" -> pageplus.spark.Pipeline.fulltext(
        pages, saltPartitions = spark.sparkContext.defaultParallelism).toDF(),
      "minhash_neardup_x" + k -> graft.textops.Dedup.minhashPairs(
        graft.textops.Dedup.planted(docsRep)),
      "sequence_pack_shuffled_x" + k -> graft.textops.SequencePack.packShuffled(docsRep))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("GRAFT_SPILL_REPLICATE", "48").toInt

    def session(constrained: Boolean): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val b = SparkSession.builder()
        .master("local[8]")
        .appName(s"graft-spillcheck-${if (constrained) "tight" else "roomy"}")
        .config("spark.sql.shuffle.partitions", 8)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
      if (constrained)
        // UnifiedMemoryManager system memory pinned far below the heap plus a
        // lowered execution/storage fraction: per-task execution memory drops
        // to a few MB, so every sort/aggregation/join buffer above that takes
        // the UnsafeExternalSorter spill path the 100 TB run lives on
        b.config("spark.testing.memory", (192L * 1024 * 1024).toString)
          .config("spark.testing.reservedMemory", (32L * 1024 * 1024).toString)
          .config("spark.memory.fraction", "0.3")
          .getOrCreate()
      else b.getOrCreate()
    }

    // pass 1: roomy reference
    var spark = session(constrained = false)
    spark.sparkContext.setLogLevel("WARN")
    val ref = queries(spark, sfDir, rep).map { case (name, df) => name -> contentHash(df) }
    spark.stop()

    // pass 2: constrained, with spill accounting
    spark = session(constrained = true)
    spark.sparkContext.setLogLevel("WARN")
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    val tight = queries(spark, sfDir, rep).map { case (name, df) => name -> contentHash(df) }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext) // every task's spill reaches the counters
    val spilledMb = memSpill.get() / 1e6
    val diskMb = diskSpill.get() / 1e6
    spark.stop()

    var ok = true
    ref.zip(tight).foreach { case ((n1, h1), (n2, h2)) =>
      val same = n1 == n2 && h1 == h2
      if (!same) ok = false
      println(f"[spillcheck] $n1%-24s roomy=(${h1._1}%016x, ${h1._2} rows) " +
        f"tight=(${h2._1}%016x, ${h2._2} rows) ${if (same) "IDENTICAL" else "MISMATCH"}")
    }
    println(f"[spillcheck] constrained-run spill: memory=$spilledMb%.1f MB disk=$diskMb%.1f MB")
    if (memSpill.get() == 0L) {
      println("[spillcheck] WARNING: constrained run did not spill — lower spark.testing.memory")
      ok = false
    }
    if (!ok) sys.exit(1)
    println("[spillcheck] PASS: byte-identical results under spill pressure")
  }
}
