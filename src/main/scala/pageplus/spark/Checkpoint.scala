package pageplus.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Commit-log seam for checkpoint-resumable execution (SURVEY §2.10,
  * north_rule; VERDICT r2 item 9): committed work is recorded in a log of
  * urls and a resumed run processes only the anti-join remainder, making
  * re-runs idempotent.
  *
  * Two backends behind one trait; the caller picks one:
  *  - [[ManifestCommitLog]]: an append-only parquet manifest directory — the
  *    sandbox stand-in (each commit adds a manifest file; Iceberg-style
  *    snapshot metadata reduced to files).
  *  - [[TableCommitLog]]: a CATALOG table appended through the session
  *    catalog. Pointed at an Iceberg table name on a session whose catalog is
  *    Iceberg, each `commit` IS an Iceberg snapshot append and `committed` a
  *    snapshot read — no engine code changes, which is the production resume
  *    story. (The sandbox exercises it against the built-in session catalog;
  *    the Iceberg runtime jar is configuration, not a compile dependency.)
  */
trait CommitLog {
  /** Record completed urls — append-only, idempotent at the batch grain. */
  def commit(done: DataFrame): Unit

  /** The committed url set, or None when nothing has ever been committed. */
  def committed(spark: SparkSession): Option[DataFrame]
}

/** Append-only parquet manifest directory (sandbox default). */
final case class ManifestCommitLog(dir: String) extends CommitLog {
  override def commit(done: DataFrame): Unit =
    done.select("url").write.mode("append").parquet(dir)

  override def committed(spark: SparkSession): Option[DataFrame] = {
    val exists =
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      } catch { case _: Exception => false }
    if (!exists) None else Some(graft.Tables.parquet(spark, dir).select("url"))
  }
}

/** Catalog-table commit log: `table` resolves through the session catalog, so
  * an Iceberg catalog makes commits snapshot appends with no code change. */
final case class TableCommitLog(table: String) extends CommitLog {
  override def commit(done: DataFrame): Unit =
    done.select("url").write.mode("append").saveAsTable(table)

  override def committed(spark: SparkSession): Option[DataFrame] =
    if (spark.catalog.tableExists(table)) Some(spark.table(table).select("url")) else None
}

object Checkpoint {

  /** Rows of `input` not yet committed. Left-anti join on url — at scale this
    * shuffles only on the (compact) url key, and AQE turns it into a broadcast
    * when the committed set is small. */
  def pending(input: DataFrame, log: CommitLog): DataFrame =
    log.committed(input.sparkSession) match {
      case None            => input
      case Some(committed) => input.join(committed, Seq("url"), "left_anti")
    }

  // ---- manifest-dir convenience (the original surface) ----------------------

  def commit(done: DataFrame, manifestDir: String): Unit =
    ManifestCommitLog(manifestDir).commit(done)

  def pending(input: DataFrame, manifestDir: String): DataFrame =
    pending(input, ManifestCommitLog(manifestDir))
}
