package pageplus.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import pageplus.data.PagesFromDocuments
import pageplus.spark.Pipeline

/** Structured Streaming lift of the batch extraction (SURVEY §2.10): the same
  * typed transforms run unchanged under `readStream`. Documents are
  * embarrassingly parallel, so the per-row surfaces need no stateful operator;
  * the streaming surface exists for incremental ingest (new corpus files
  * appearing in the table location) with exactly-once file-source semantics.
  * Gap sessionization adds the custom-state (`flatMapGroupsWithState`) shape.
  */
object StreamingExtract {

  private val counter = new AtomicInteger(0)

  /** One-file streaming source with the batch schema (the file-stream source
    * wants a directory; the glob pins our table's file). */
  private def streamTable(spark: SparkSession, sfDir: String, fileName: String): DataFrame =
    spark.readStream
      .schema(graft.Tables.schema(spark, s"$sfDir/$fileName"))
      .option("pathGlobFilter", fileName)
      .parquet(sfDir)

  /** Update-mode memory sinks APPEND one row per key per micro-batch (no
    * upsert); keep each key's LAST update by maximizing a monotone column
    * (struct comparison: `orderCol` first, remaining payload rides along). */
  private def lastUpdatePerKey(df: DataFrame, keyCols: Seq[String],
                               orderCol: String, payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(keyCols.map(col): _*)
      .agg(max(struct((orderCol +: payloadCols).map(col): _*)).as("last"))
      .select(keyCols.map(col) ++ (orderCol +: payloadCols).map(c => col(s"last.$c").as(c)): _*)
  }

  /** Drain a streaming frame synchronously into a memory sink; returns the
    * result table. AvailableNow processes everything currently present.
    *
    * `noDataBatch = false` suppresses the trailing empty micro-batch Spark
    * appends after the data batches (`noDataMicroBatches.enabled`). That batch
    * exists to fire event-time timeouts / advance watermarks; for NoTimeout
    * `flatMapGroupsWithState` drains it is semantically empty yet still pays a
    * full state-store load+commit round across every state partition — a pure
    * fixed cost at one-shot drain scale (VERDICT r3 item 5). Watermarked
    * queries keep the default. */
  private def drainToTable(df: DataFrame, namePrefix: String, outputMode: String,
                           noDataBatch: Boolean = true): DataFrame = {
    val name = s"${namePrefix}_${counter.incrementAndGet()}"
    def drain(): Unit = {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    if (noDataBatch) drain()
    else graft.SessionConf.scoped(df.sparkSession,
      "spark.sql.streaming.noDataMicroBatches.enabled", "false")(drain())
    df.sparkSession.table(name)
  }

  /** Streaming twin of the feed_items batch query — the natural production
    * shape for syndication (poll feeds, parse, append new items to the
    * frontier): blobs generate map-side from the streamed documents, each
    * micro-batch flatMaps to item rows. Stateless append, so the drained
    * table equals the batch answer under ANY micro-batching; `noDataBatch =
    * false` because there is no state store or watermark to tick. */
  def feedItemsOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = streamTable(spark, sfDir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val items = graft.webtext.Feeds.items(graft.webtext.Feeds.plantFeeds(docs)).toDF()
    drainToTable(items, "stream_feed_items", "append", noDataBatch = false)
  }

  /** Run the extraction as a streaming query over the documents parquet.
    * Salted like every batch surface: the single-file source is one split,
    * so the per-row parse+extract must be spread (CLAUDE.md rule). */
  def extractOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = streamTable(spark, sfDir, "documents.parquet")
    val pages = PagesFromDocuments.liftDf(stream, "clean").toDF()
    val extracted = Pipeline.fulltext(pages,
      saltPartitions = spark.sparkContext.defaultParallelism).toDF()
    drainToTable(extracted, "stream_extract", "append")
  }

  /** Streaming first-occurrence PARAGRAPH dedup — the incremental form of
    * [[graft.webtext.WebText.paragraphDedup]]: pages arrive as a stream,
    * each parses map-side into narrow (8-byte phash, doc, para) rows
    * (paragraph text never enters the state store), and
    * `flatMapGroupsWithState` keeps the least (doc_id, para_idx) plus copy
    * count per hash — ~24 bytes per DISTINCT paragraph, arrival-order
    * independent (min and count are order-free folds), so the drained state
    * equals the batch window answer under any micro-batching. */
  def paragraphDedupOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val rows = graft.webtext.WebText.paragraphHashRows(
      graft.webtext.WebText.htmlPages(
        streamTable(spark, sfDir, "documents.parquet")).toDF(),
      saltPartitions = spark.sparkContext.defaultParallelism)
      .select("phash", "doc_id", "para_idx")
      .as[(Long, Long, Long)]
    val groups = rows.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[(Long, Long, Long)]) =>
          var (kd, kp, n) = state.getOption.getOrElse((Long.MaxValue, Long.MaxValue, 0L))
          it.foreach { case (_, d, p) =>
            if (d < kd || (d == kd && p < kp)) { kd = d; kp = p }
            n += 1
          }
          state.update((kd, kp, n))
          Iterator((key, kd, kp, n))
      }
      .toDF("phash", "keep_doc", "keep_para", "n_copies")
    lastUpdatePerKey(
      drainToTable(groups, "stream_paradedup", "update", noDataBatch = false),
      Seq("phash"), "n_copies", Seq("keep_doc", "keep_para"))
      .select(concat(lit("doc://"), col("keep_doc")).as("keep_url"),
        col("keep_para").as("keep_para_idx"), col("n_copies"))
  }

  /** The [[extractOnce]] lift for the HTML main-content path: generate ->
    * parse -> block score under readStream, proving every per-row extraction
    * surface of the engine is streaming-ready without code changes. */
  def htmlContentOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = streamTable(spark, sfDir, "documents.parquet")
    val extracted = graft.webtext.WebText.mainContent(
      graft.webtext.WebText.htmlPages(stream).toDF(),
      saltPartitions = spark.sparkContext.defaultParallelism).toDF()
    drainToTable(extracted, "stream_html", "append")
  }

  /** Streaming SCD2 — the incremental twin of [[graft.webtext.Recrawl.scd2]]:
    * capture rows (k, version, t) arrive as a stream and
    * `flatMapGroupsWithState` maintains ONLY the open interval per key
    * (16 bytes: current version + valid_from — never the history, which has
    * already been emitted). Each new capture emits the closure of the
    * previous current row ([from, t), is_current 0) and a fresh open row
    * ([t, -1), is_current 1); the update-mode sink's append log is collapsed
    * by last-write-wins per (k, version), where "last" = max(valid_to) —
    * the -1 open sentinel loses to any later closure, exactly the upsert a
    * real SCD2 dimension table performs. Within a micro-batch captures fold
    * in (t, version) order; across batches the state assumes time-ordered
    * arrival per key (the sessionize caveat — a deployment would buffer
    * within the watermark). With the one-shot AvailableNow drain used here
    * the result equals the batch lead() answer exactly. */
  def scd2Once(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val snaps = graft.webtext.AsofJoin.plantSnapshots(
        streamTable(spark, sfDir, "documents.parquet"))
      .select("k", "version", "t").as[(Long, Long, Long)]
    val hist = snaps.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (k, it, state: GroupState[(Long, Long)]) =>
          val out = Vector.newBuilder[(Long, Long, Long, Long, Long)]
          var cur = state.getOption
          it.toSeq.sortBy { case (_, v, t) => (t, v) }.foreach { case (_, v, t) =>
            cur.foreach { case (cv, cf) => out += ((k, cv, cf, t, 0L)) }
            cur = Some((v, t))
          }
          cur.foreach { case (cv, cf) =>
            state.update((cv, cf))
            out += ((k, cv, cf, -1L, 1L))
          }
          out.result().iterator
      }
      .toDF("k", "version", "valid_from", "valid_to", "is_current")
    lastUpdatePerKey(
      drainToTable(hist, "stream_scd2", "update", noDataBatch = false),
      Seq("k", "version"), "valid_to", Seq("valid_from", "is_current"))
      .select(col("k"), col("version"), col("valid_from"), col("valid_to"),
        col("is_current"))
  }

  /** Stateful gap-based sessionization under Structured Streaming:
    * `flatMapGroupsWithState` carries (lastSec, nSessions, nEvents) per user —
    * the custom-state operator surface (KeyValueGroupedDataset) the window
    * aggregation doesn't exercise. Events are sorted by (sec, event_id) inside
    * each group per micro-batch; with the AvailableNow one-shot drain used
    * here that is exact and equals the batch q11 answer. Across multiple
    * micro-batches the state assumes batch-ordered arrival per user — the
    * standard gap-sessionization caveat a production deployment would handle
    * by buffering within the watermark before folding into state. */
  def sessionizeOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val evs = streamTable(spark, sfDir, "events.parquet")
      .withColumn("sec", graft.TimeCols.ntzEpochSeconds(col("ts")))
      .select(col("user_id"), col("sec"), col("event_id"))
      .as[(Long, Long, Long)]
    val sessions = evs.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[(Long, Long, Long)]) =>
          val sorted = it.toArray.sortBy(e => (e._2, e._3))
          var (last, ns, ne) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, sec, _) =>
            if (last == Long.MinValue || sec - last > 1800L) ns += 1
            ne += 1
            last = sec
          }
          state.update((last, ns, ne))
          Iterator((user, ns, ne))
      }
      .toDF("user_id", "n_sessions", "n_events")
    // n_events grows monotonically, so the last update per user is the final
    // state even if the source ever splits into multiple batches
    lastUpdatePerKey(drainToTable(sessions, "stream_sessions", "update", noDataBatch = false),
      Seq("user_id"), "n_events", Seq("n_sessions"))
      .select("user_id", "n_sessions", "n_events")
  }

  /** Streaming exact dedup: one representative (min doc_id) + copy count per
    * distinct text, as custom state keyed by the NARROW (xxhash64, length)
    * text key — the same key [[graft.textops.Dedup.textGroups]] uses, so the
    * full document text never becomes shuffle key or state payload (state is
    * 16 bytes/distinct text; collision odds as documented there). Under the
    * AvailableNow one-shot drain this equals the batch `dedup_exact` answer;
    * across micro-batches the state keeps absorbing new members and re-emits
    * the group's current (keep, count), so the LAST update per key wins —
    * n_copies grows monotonically, which makes max(struct(n, ...)) the final
    * state, same reduction the sessionize sink uses. */
  def dedupExactOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    // NULL text is its own group in the batch groupBy("text"); tlen = -1
    // keeps it distinct from the empty string (length 0) after coalescing
    val docs = streamTable(spark, sfDir, "documents.parquet")
      .select(col("doc_id"), xxhash64(coalesce(col("text"), lit(""))).as("tkey"),
        coalesce(length(col("text")), lit(-1)).as("tlen"))
      .as[(Long, Long, Int)]
    val groups = docs.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[(Long, Long), (Long, Int, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[(Long, Long)]) =>
          var (keep, n) = state.getOption.getOrElse((Long.MaxValue, 0L))
          it.foreach { case (id, _, _) =>
            if (id < keep) keep = id
            n += 1
          }
          state.update((keep, n))
          Iterator((key._1, key._2, keep, n))
      }
      .toDF("tkey", "tlen", "keep_id", "n_copies")
    lastUpdatePerKey(drainToTable(groups, "stream_dedup", "update", noDataBatch = false),
      Seq("tkey", "tlen"), "n_copies", Seq("keep_id"))
      .select("keep_id", "n_copies")
  }

  /** Stream-static cross-corpus dedup — the streaming twin of
    * [[graft.textops.Dedup.crossCorpusNew]]: incoming docs arrive as a
    * stream (odd docs unchanged, even docs edited — the recrawl plant shared
    * with the batch query), while the base corpus's (xxhash64, length) key
    * table is STATIC, loaded once per run (at scale: a snapshot of the dedup
    * key index). Stream-static left joins are STATELESS in Structured
    * Streaming — each micro-batch hash-joins against the static side, no
    * state store at all (unlike the flatMapGroupsWithState twins) — so the
    * per-doc verdict is identical under any micro-batching and append mode
    * is exact: a verdict is final on arrival. The streaming side still
    * reduces to the 12-byte key before the join. */
  /** Streaming twin of the bucketized range join: error points ARRIVE as a
    * stream, incident windows are the static side — the live "which open
    * incident does this error belong to" tagger. The bucketized form is what
    * makes this possible at all: a stream-static join must be an EQUI-join
    * (no nested-loop exists in streaming), so the bucket key is load-bearing,
    * not an optimization. Stateless (no watermark, no state store): each
    * point meets its intervals in exactly one bucket, append-exact under any
    * micro-batching — the drained table equals the batch `range_join` rows. */
  def rangeJoinOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.events.RangeJoin
    val pts = RangeJoin.errorPoints(
      streamTable(spark, sfDir, "events.parquet")
        .repartition(spark.sparkContext.defaultParallelism))
    val iv = RangeJoin.incidentWindows(graft.Tables.parquet(spark, s"$sfDir/events.parquet"))
    drainToTable(RangeJoin.containJoin(iv, pts), "stream_rangejoin", "append")
  }

  def crossCorpusOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val incoming = streamTable(spark, sfDir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select((col("doc_id") + graft.textops.Dedup.PlantOffset).as("doc_id"),
        when(col("doc_id") % 2 === 1, col("text"))
          .otherwise(concat(lit("new "), col("text"))).as("text"))
    val base = graft.Tables.parquet(spark, s"$sfDir/documents.parquet")
    drainToTable(graft.textops.Dedup.crossCorpusNew(incoming, base),
      "stream_crosscorpus", "append")
  }

  /** Streaming decontamination — the stream-static twin of
    * [[graft.textops.Curate.contamination]]: the eval-gram set is STATIC
    * (eval suites are fixed artifacts), computed batch-side and broadcast
    * exactly as in the batch op; corpus documents stream through the same
    * map-side sliding-gram check. Fully STATELESS — no state store, no
    * watermark — so append mode is exact and per-doc verdicts are
    * bit-identical to the batch query under any micro-batching. This is the
    * production ingest shape: new crawl shards are checked against the
    * frozen eval set as they land, before they ever join the corpus. */
  def decontaminateOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val evalDocs = graft.Tables.parquet(spark, s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 41 === 0)
    val stream = streamTable(spark, sfDir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    drainToTable(graft.textops.Curate.contamination(stream, evalDocs),
      "stream_decontaminate", "append")
  }

  /** Streaming rights-clearance gate — the license twin of
    * [[decontaminateOnce]]'s ingest shape: pages stream through the same
    * map-side rel="license" DOM walk and CC-family routing
    * ([[graft.webtext.License.licenseGate]]); stateless, so append mode is
    * exact and verdicts are bit-identical to the batch query. New crawl
    * shards get their commercial-use clearance as they land. */
  def licenseGateOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = streamTable(spark, sfDir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    drainToTable(graft.webtext.License.licenseGate(stream).toDF(),
      "stream_license", "append")
  }

  /** Streaming bitext mining — stream-static twin of
    * [[graft.textops.Bitext.alignByIndex]]: source-side documents arrive as
    * a stream and are sentence-segmented in-flight (flatMap, no state); the
    * target side is a STATIC pre-segmented translation table (the
    * translation-memory snapshot a mining run joins against). Stream-static
    * inner joins are STATELESS — each micro-batch hash-joins the static side
    * — so append mode is exact, verdicts are bit-identical to the batch
    * query under any micro-batching, and the integer 13/10 ratio gate rides
    * codegen'd inside the batch plan. */
  def bitextOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val srcDocs = streamTable(spark, sfDir, "documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    val src = graft.textops.Bitext.segmentWords(srcDocs)
    val tgt = graft.textops.Bitext.pseudoTranslated(
      graft.Tables.parquet(spark, s"$sfDir/documents.parquet"))
    drainToTable(graft.textops.Bitext.alignByIndex(src, tgt), "stream_bitext", "append")
  }

  /** Streaming SimHash near-duplicate CANDIDATE filter — the incremental
    * complement of the batch [[graft.textops.Dedup.simhashPairs]]: as docs
    * arrive, each contributes its 20 Manku block keys
    * ([[graft.textops.TextHash.simHashKeys]]) and the state store keeps the
    * MIN doc_id per key (16 bytes/distinct key, ~20 keys/doc over a ~2^34
    * key space — linear occupancy at web scale). A doc is a candidate
    * near-dup iff some smaller doc shares a key — lossless at hamming ≤ 3
    * by the same pigeonhole argument, over-generating above it (candidates
    * are a SUPERSET; the exact verify is the downstream batch rerank, which
    * is the production split: cheap streaming filter, exact batch confirm).
    *
    * Determinism: `min` per key is arrival-order-independent, so the drained
    * state — and the verdict per doc — is the same under any micro-batching,
    * unlike a first-arrival-wins filter. Output: (doc_id, partner, is_cand)
    * where partner is the smallest doc sharing a key (-1 if none). */
  def simhashCandidatesOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    def explodeKeys(df: DataFrame) = df.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.textops.TextHash.simHashKeys(graft.textops.TextHash.simHash(t))
          .map(k => (k, id))
      }
    val keyState = explodeKeys(
      graft.textops.Dedup.plantedTail(streamTable(spark, sfDir, "documents.parquet")))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[(Long, Long)]) =>
          var (mn, n) = state.getOption.getOrElse((Long.MaxValue, 0L))
          it.foreach { case (_, id) => if (id < mn) mn = id; n += 1 }
          state.update((mn, n))
          Iterator((key, mn, n))
      }
      .toDF("key", "min_id", "n_seen")
    val finalKeys = lastUpdatePerKey(
      drainToTable(keyState, "stream_simhash", "update", noDataBatch = false),
      Seq("key"), "n_seen", Seq("min_id"))
    // batch-side deterministic key recompute joined against the drained state
    val batchKeys = explodeKeys(
      graft.textops.Dedup.plantedTail(graft.Tables.parquet(spark, s"$sfDir/documents.parquet")))
      .toDF("key", "doc_id")
    batchKeys.join(finalKeys, "key")
      .groupBy("doc_id")
      .agg(min(col("min_id")).as("mn"))
      .select(col("doc_id"),
        when(col("mn") < col("doc_id"), col("mn")).otherwise(lit(-1L)).as("partner"),
        when(col("mn") < col("doc_id"), lit(1L)).otherwise(lit(0L)).as("is_cand"))
  }

  /** Streaming windowed aggregation over the events table: event-time watermark
    * + 1-hour tumbling windows (the Structured Streaming shape the engine
    * offers for incremental corpora metrics). Drained synchronously; complete
    * mode so every window is emitted for the batch-equivalence oracle. */
  def eventsWindowedOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = streamTable(spark, sfDir, "events.parquet")
      // parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP. A plain cast
      // injects the session zone (and a DST gap would even corrupt the window
      // boundary), so the watermark column is the wall-clock interpreted as
      // UTC, and the emitted hour string is formatted straight off the NTZ
      // value — both session-TZ-invariant (see graft.TimeCols).
      .withColumn("evt", graft.TimeCols.ntzAsUtcInstant(col("ts")))
      .withWatermark("evt", "1 hour")
      .groupBy(
        window(col("evt"), "1 hour"),
        // functionally determined by the window, TZ-free to render
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("hour"), col("event_type"), col("n"), col("value_cents"))
    drainToTable(agg, "stream_events", "complete")
  }

  /** Streaming twin of the batch `hll_distinct` query: the custom HLL
    * [[graft.expr.HllSketchAgg]] as STREAMING aggregation state — the
    * serialized 64-byte register buffer lives in the state store per group
    * and merges across micro-batches, proving the sketch composes with
    * Structured Streaming exactly like a built-in agg (constant state per
    * group is what makes streaming distinct counts viable at all; exact
    * streaming countDistinct is unsupported/unbounded). Complete-mode
    * AvailableNow drain, same fixed-cost notes as the other stream queries. */
  def hllDistinctOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = streamTable(spark, sfDir, "events.parquet")
      .select(col("event_type"), col("user_id"),
        graft.TimeCols.ntzEpochSeconds(col("ts")).as("es"))
      .select(col("event_type"), expr("user_id * 1024L + (es div 86400L)").as("v"))
      .groupBy("event_type")
      .agg(graft.expr.HllSketchAgg.hllDistinct(col("v")).as("approx_distinct"))
    drainToTable(agg, "stream_hll", "complete", noDataBatch = false)
  }

  /** The KMV sketch as streaming aggregation state (the SET-overlap sketch
    * next to [[hllDistinctOnce]]'s counter): per-type bottom-k of (user,day)
    * keys accumulated across micro-batches — merge is a set union so the
    * result is batch-split-invariant bit-for-bit — then the trunc-integer
    * distinct estimate projected AFTER the stateful agg (plain codegen
    * arithmetic over the sketch array, legal in complete mode). */
  def kmvDistinctOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = streamTable(spark, sfDir, "events.parquet")
      .select(col("event_type"), col("user_id"),
        graft.TimeCols.ntzEpochSeconds(col("ts")).as("es"))
      .select(col("event_type"), expr("user_id * 1024L + (es div 86400L)").as("v"))
      .groupBy("event_type")
      .agg(graft.expr.KmvSketchAgg.kmvSketch(col("v")).as("s"))
      .select(col("event_type"),
        graft.webtext.SnapshotOverlap.distinctEstimate("s", 256).as("kmv_distinct"))
    drainToTable(agg, "stream_kmv", "complete", noDataBatch = false)
  }

  /** Stream-static as-of join — the temporal-attribution twin of the batch
    * [[graft.webtext.AsofJoin.asof]]: each streaming event picks the latest
    * snapshot `t <= event.t` from the BROADCAST per-key timeline. STATELESS
    * (append mode, no watermark, no state store), so results are
    * micro-batch-split-invariant and bit-identical to batch on the same
    * data; the snapshot dimension is the small side by contract. */
  def asofOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.parquet(spark, s"$sfDir/documents.parquet")
    val n = docs.count()
    val timelines = graft.webtext.AsofJoin.snapshotTimelines(
      graft.webtext.AsofJoin.plantSnapshots(docs))
    val ev = streamTable(spark, sfDir, "events.parquet")
      .select((col("event_id") % n).as("k"),
        graft.TimeCols.ntzEpochSeconds(col("ts")).as("t"), col("event_id"))
    drainToTable(graft.webtext.AsofJoin.streamAsof(ev, timelines),
      "stream_asof", "append")
  }
}
