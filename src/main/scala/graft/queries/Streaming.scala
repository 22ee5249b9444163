package graft.queries

import org.apache.spark.sql.functions._
import pageplus.data.PagesFromDocuments
import pageplus.spark.Pipeline

import Shared._

/** Scale plumbing: streaming / checkpoint-resume / lineage.
  *
  * Most `stream_*` queries are Structured Streaming twins of a batch query
  * in another family and must give its answer. */
object Streaming {

  /** Fulltext of a checkpointed, resumed run (both commit-log flavours). */
  private val CheckpointFulltextOracleSql =
    """SELECT 'doc://' || doc_id AS url,
      |       array_to_string([array_to_string(words[i:i+7], ' ')
      |                        for i in range(1, len(words)+1, 8)], chr(10)) AS extracted_text
      |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      |WHERE doc_id % 2 = 1""".stripMargin

  val queries: Seq[Q] = Seq(
    // streaming twin of license_detect: stateless map-side DOM walk per
    // micro-batch — append-exact, bit-identical to batch, same oracle
    Q("stream_license_detect", (s, dir) =>
      pageplus.streaming.StreamingExtract.licenseGateOnce(s, dir)
        .orderBy("doc_id"),
      // stream_license_detect: stateless stream twin — same answer as the
      // batch license gate by construction, same oracle SQL
      LicenseOracleSql),
    Q("stream_extract", (s, dir) => {
      // same transforms under Structured Streaming; must equal the batch answer
      pageplus.streaming.StreamingExtract.extractOnce(s, dir)
    },
      FulltextOracleSql),
    Q("stream_feed_items", (s, dir) =>
      // stateless streaming twin of feed_items: poll -> parse -> append;
      // micro-batching-invariant because the op is per-row
      pageplus.streaming.StreamingExtract.feedItemsOnce(s, dir), FeedItemsSql),
    Q("stream_dedup_exact", (s, dir) => {
      // exact dedup as custom streaming state on the narrow text key; must
      // equal the batch dedup_exact answer
      pageplus.streaming.StreamingExtract.dedupExactOnce(s, dir)
    },
      DedupExactOracleSql),
    Q("stream_paragraph_dedup", (s, dir) =>
      // incremental first-occurrence paragraph dedup: pages stream in, parse
      // map-side to 8-byte phash rows, state keeps least (doc, para) + count
      // per hash (order-free folds — equals the batch window answer under
      // any micro-batching)
      pageplus.streaming.StreamingExtract.paragraphDedupOnce(s, dir),
      // streaming paragraph dedup drains to the distinct-paragraph grain:
      // least (doc, para) + copy count per paragraph text (the engine keys on
      // xxhash64 — equal barring a 64-bit collision, the dedup_exact tradeoff)
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |p AS (SELECT doc_id, CAST((i-1)//24 AS BIGINT) AS p,
        |             array_to_string(ws[i:i+23],' ') AS para
        |      FROM d, UNNEST(generate_series(1, len(ws), 24)) AS t(i)),
        |w AS (SELECT doc_id, p, para,
        |        row_number() OVER (PARTITION BY para ORDER BY doc_id, p) AS rn,
        |        count(*) OVER (PARTITION BY para) AS n
        |      FROM p)
        |SELECT 'doc://'||doc_id AS keep_url, p AS keep_para_idx,
        |       CAST(n AS BIGINT) AS n_copies
        |FROM w WHERE rn = 1""".stripMargin),
    Q("stream_scd2_history", (s, dir) =>
      // incremental SCD2: state = open interval per key only (16 bytes);
      // closures + fresh opens stream out, last-write-wins per (k, version)
      // collapses the update log — equals the batch lead() answer
      pageplus.streaming.StreamingExtract.scd2Once(s, dir)
        .orderBy("k", "version"), Scd2Sql),
    Q("stream_range_join", (s, dir) =>
      // stream-static twin of range_join: streaming error points tagged
      // against static incident windows — the bucket equi-key is what makes
      // a stream-static range join POSSIBLE (streaming has no nested-loop);
      // stateless, append-exact under any micro-batching
      pageplus.streaming.StreamingExtract.rangeJoinOnce(s, dir)
        .orderBy("iv_id", "event_id"),
      // stream_range_join: append-exact stream-static twin — identical pair
      // set to the batch BETWEEN join
      EventsRangeJoinOracleSql, eventTime = true),
    Q("stream_decontaminate", (s, dir) =>
      // stream-static twin of decontaminate: static broadcast eval grams,
      // stateless map-side gram check per micro-batch — append-exact,
      // bit-identical to the batch query
      pageplus.streaming.StreamingExtract.decontaminateOnce(s, dir)
        .orderBy("doc_id"),
      // stream_decontaminate: stateless stream-static twin — same answer as
      // the batch decontaminate by construction, same oracle SQL
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |     g AS (SELECT doc_id, CASE WHEN len(ws) >= 13
        |                  THEN [array_to_string(ws[i:i+12],' ') for i in range(1, len(ws)-11)]
        |                  ELSE [] END AS grams FROM w),
        |     bench AS (SELECT DISTINCT grams[1] AS gram FROM g WHERE doc_id%41=0 AND len(grams)>0),
        |     x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |     m AS (SELECT x.doc_id, count(*) AS nc FROM x JOIN bench USING (gram) GROUP BY x.doc_id)
        |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
        |       CAST(coalesce(m.nc, 0) AS BIGINT) AS n_contaminated,
        |       coalesce(m.nc, 0) > 0 AS contaminated
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id ORDER BY g.doc_id""".stripMargin),
    Q("stream_cross_corpus", (s, dir) =>
      // stream-static twin of cross_corpus_dedup: stateless per-micro-batch
      // hash join against the static base key table — verdicts identical
      // under any micro-batching, append-exact
      pageplus.streaming.StreamingExtract.crossCorpusOnce(s, dir),
      // stream_cross_corpus: identical recompute — the stateless stream-static
      // join must land the exact batch answer
      CrossCorpusDedupOracleSql),
    Q("stream_bitext", (s, dir) =>
      // stream-static twin of bitext_mine: source docs segmented in-flight,
      // static pre-segmented translation side, stateless inner join +
      // integer ratio gate — bit-identical to the batch answer
      pageplus.streaming.StreamingExtract.bitextOnce(s, dir),
      // stream_bitext: identical recompute — the stateless stream-static join
      // must land the exact batch answer
      BitextOracleSql),
    Q("stream_simhash_candidates", (s, dir) => {
      // incremental near-dup candidate filter: min doc_id per Manku key in
      // the state store (arrival-order-independent), drained then joined
      // against the deterministic batch key recompute
      pageplus.streaming.StreamingExtract.simhashCandidatesOnce(s, dir)
    },
      // stream_simhash_candidates: full SQL recompute of the simhash (the
      // simhash_neardup CTE), the 20 Manku 3-of-6-block keys (spec table =
      // TextHash.SimBlockTriples in combinations order, 11-bit lane packing,
      // t<<34 table tag) and the min-partner-per-doc verdict. Python-validated
      // (581/1000 candidates at sf0.01: all 500 planted tail-drop twins + 81
      // organic collisions — a candidate filter over-generates by design).
      ("""WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         substring(text, 1, length(text) - instr(reverse(text), ' '))
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM planted),
        |th AS (SELECT doc_id,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |                        [unicode(c)::HUGEINT for c in string_split(tok, '')]),
        |           (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |  FROM toks),
        |bits AS (SELECT doc_id, b,
        |         sum(CASE WHEN (th.h // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, range(64) r(b) GROUP BY doc_id, b),
        |hu AS (SELECT doc_id,
        |              sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS v
        |       FROM bits GROUP BY doc_id),
        |spec(t, o0, w0, o1, w1, o2, w2) AS (VALUES """ + SimKeySpecSql + """),
        |keys AS (SELECT doc_id,
        |                CAST(t * (1::HUGEINT << 34)
        |                   + ((v // (1::HUGEINT << o0)) % (1::HUGEINT << w0)) * 4194304
        |                   + ((v // (1::HUGEINT << o1)) % (1::HUGEINT << w1)) * 2048
        |                   + ((v // (1::HUGEINT << o2)) % (1::HUGEINT << w2)) AS BIGINT) AS key
        |         FROM hu, spec),
        |cand AS (SELECT a.doc_id, min(b.doc_id) AS mn
        |         FROM keys a JOIN keys b USING (key) GROUP BY a.doc_id)
        |SELECT doc_id,
        |       CAST(CASE WHEN mn < doc_id THEN mn ELSE -1 END AS BIGINT) AS partner,
        |       CAST(CASE WHEN mn < doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_cand
        |FROM cand""").stripMargin),
    Q("stream_html_content", (s, dir) => {
      // the HTML boilerplate-strip path under Structured Streaming; must
      // equal the batch html_main_content answer
      pageplus.streaming.StreamingExtract.htmlContentOnce(s, dir)
    }, HtmlMainOracleSql),
    Q("stream_events_window", (s, dir) => {
      // watermark + tumbling-window aggregation under Structured Streaming;
      // must equal the batch q10 answer
      pageplus.streaming.StreamingExtract.eventsWindowedOnce(s, dir)
    },
      EventsHourlyOracleSql, eventTime = true),
    Q("stream_sessionize", (s, dir) => {
      // flatMapGroupsWithState gap sessionization (custom streaming state);
      // must equal the batch q11 answer
      pageplus.streaming.StreamingExtract.sessionizeOnce(s, dir)
    }, Q11SessionizeOracleSql, eventTime = true),
    Q("checkpoint_resume", (s, dir) => {
      // commit the even-doc_id half, then resume: only the odd half is pending
      val manifestDir = graft.Scratch.tempDir("graft_manifest_")
      val pages = PagesFromDocuments.clean(s, dir).toDF()
      val docIdFromUrl = expr("CAST(substring(url, 7) AS LONG)")
      pageplus.spark.Checkpoint.commit(
        pages.filter(docIdFromUrl % 2 === 0).select("url"), manifestDir)
      val pending = pageplus.spark.Checkpoint.pending(pages, manifestDir)
      Pipeline.fulltext(pending, saltPartitions = s.sparkContext.defaultParallelism).toDF()
    },
      CheckpointFulltextOracleSql),
    Q("checkpoint_resume_table", (s, dir) => {
      // same resume semantics through the CATALOG-TABLE CommitLog backend
      // (VERDICT r3 stretch 8): with an Iceberg catalog this exact code path
      // is a snapshot append + snapshot read — the backend is the only code
      // change vs checkpoint_resume
      val table = "graft_ckpt_resume_q"
      s.sql(s"DROP TABLE IF EXISTS $table") // re-runnable (bench min-of-two)
      // a PREVIOUS session's drop removes catalog metadata but can leave the
      // managed location on disk, which fails the next saveAsTable with
      // LOCATION_ALREADY_EXISTS — clear it too
      val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), table)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      val log = pageplus.spark.TableCommitLog(table)
      val pages = PagesFromDocuments.clean(s, dir).toDF()
      val docIdFromUrl = expr("CAST(substring(url, 7) AS LONG)")
      log.commit(pages.filter(docIdFromUrl % 2 === 0).select("url"))
      Pipeline.fulltext(pageplus.spark.Checkpoint.pending(pages, log),
        saltPartitions = s.sparkContext.defaultParallelism).toDF()
    },
      CheckpointFulltextOracleSql),
    Q("lineage_metrics", (s, dir) => {
      // per-bucket lineage over an explicitly-salted layout. The bucket key is
      // SQL-recomputable (doc_id % 8) so the oracle checks exact per-bucket
      // doc/byte totals; n_partitions == 1 per bucket is the REAL colocation
      // invariant (hash repartition puts equal keys in one partition), read
      // off spark_partition_id() in the partial-agg stage that runs on the
      // repartitioned data. Production salting by url-hash (Pipeline.saltByUrl)
      // is exercised by ScalePlumbingSpec's invariance tests.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("bytes"))
        .withColumn("bucket", pmod(col("doc_id"), lit(8)).cast("long"))
        .repartition(8, col("bucket"))
        .withColumn("pid", spark_partition_id()) // projected pre-agg (Spark
        // rejects nondeterministic expressions directly inside aggregates)
      docs.groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum("bytes").as("bytes"),
          countDistinct(col("pid")).as("n_partitions"))
    },
      // exact per-bucket totals + the colocation invariant (each bucket lives in
      // exactly one partition after hash repartitioning on the bucket key)
      """SELECT doc_id % 8 AS bucket, count(*) AS docs,
        |       CAST(sum(length(text)) AS BIGINT) AS bytes,
        |       1::BIGINT AS n_partitions
        |FROM documents GROUP BY 1""".stripMargin),
    Q("stream_snapshot_asof", (s, dir) =>
      // stream-static as-of: stateless per-batch broadcast temporal join
      // against the per-key snapshot timeline — micro-batch-invariant, must
      // match the batch as-of (and its oracle) bit-for-bit
      pageplus.streaming.StreamingExtract.asofOnce(s, dir).orderBy("event_id"),
      // asof_join_exec: SAME semantics as snapshot_asof through the physical
      // operator — the oracle is deliberately the identical window recompute
      // (the fixture has no equal-(k,t) snapshot ties, so the exec's
      // highest-version tie rule and the window's running-last agree)
      // stream_snapshot_asof: identical semantics and oracle as the batch
      // as-of family (the streaming path is stateless, so equality is exact)
      SnapshotAsofOracleSql, eventTime = true),
    Q("stream_kmv_distinct", (s, dir) =>
      // the KMV sketch as streaming aggregation state: set-union merge makes
      // the sketch batch-split-invariant, the distinct estimate is projected
      // after the stateful agg — must equal the batch sketch bit-for-bit
      pageplus.streaming.StreamingExtract.kmvDistinctOnce(s, dir)
        .orderBy("event_type"),
      // stream_kmv_distinct: the same per-type sketch, single-sketch distinct
      // estimate — the streaming agg must reproduce the batch sketch exactly
      """WITH 
        |vals AS (SELECT DISTINCT event_type,
        |                CAST(user_id * 1024 + (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS HUGEINT) AS v
        |         FROM events),
        |h1 AS (SELECT event_type, v, (v + 11400714819323198485) % 18446744073709551616 AS z FROM vals),
        |h2 AS (SELECT event_type, v, xor(z, z >> 30) AS x FROM h1),
        |h3 AS (SELECT event_type, v, ((x % 4294967296) * 484763065
        |        + (((x % 4294967296) * 3210233709 + (x // 4294967296) * 484763065) % 4294967296) * 4294967296)
        |       % 18446744073709551616 AS z FROM h2),
        |h4 AS (SELECT event_type, v, xor(z, z >> 27) AS x FROM h3),
        |h5 AS (SELECT event_type, v, ((x % 4294967296) * 321982955
        |        + (((x % 4294967296) * 2496678331 + (x // 4294967296) * 321982955) % 4294967296) * 4294967296)
        |       % 18446744073709551616 AS z FROM h4),
        |h AS (SELECT event_type, v, xor(z, z >> 31) AS h FROM h5),
        |sk AS (SELECT event_type, h FROM
        |        (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h)
        |       WHERE rn <= 256),
        |mm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m, max(h) AS uk FROM sk GROUP BY 1)
        |SELECT event_type,
        |       CASE WHEN m < 256 THEN m
        |            ELSE CAST((255 * CAST(18446744073709551616 AS HUGEINT)) // uk AS BIGINT)
        |       END AS kmv_distinct
        |FROM mm ORDER BY event_type""".stripMargin, eventTime = true),
    Q("stream_hll_distinct", (s, dir) => {
      // the HLL sketch as streaming aggregation state: same grain as batch
      // hll_distinct, must produce the IDENTICAL sketch estimate (merge is
      // order/batch-invariant); exact countDistinct is unsupported in
      // streaming — which is the point of the sketch
      pageplus.streaming.StreamingExtract.hllDistinctOnce(s, dir).orderBy("event_type")
    },
      """WITH vals AS (
        |  SELECT event_type,
        |         CAST(user_id * 1024 + (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS HUGEINT) AS v
        |  FROM events),
        |h1 AS (SELECT event_type, (v + 11400714819323198485) % 18446744073709551616 AS z FROM vals),
        |h2 AS (SELECT event_type, xor(z, z >> 30) AS x FROM h1),
        |h3 AS (SELECT event_type,
        |         ((x % 4294967296) * 484763065
        |          + (((x % 4294967296) * 3210233709 + (x // 4294967296) * 484763065) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h2),
        |h4 AS (SELECT event_type, xor(z, z >> 27) AS x FROM h3),
        |h5 AS (SELECT event_type,
        |         ((x % 4294967296) * 321982955
        |          + (((x % 4294967296) * 2496678331 + (x // 4294967296) * 321982955) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h4),
        |h AS (SELECT event_type, xor(z, z >> 31) AS h FROM h5),
        |b AS (SELECT event_type, CAST(h // 288230376151711744 AS BIGINT) AS idx,
        |             h % 288230376151711744 AS rest FROM h),
        |r AS (SELECT event_type, idx,
        |             max(CASE WHEN rest = 0 THEN 59 ELSE 58 - len(bin(rest)) + 1 END) AS rho
        |      FROM b GROUP BY event_type, idx),
        |types AS (SELECT DISTINCT event_type FROM events),
        |grid AS (SELECT t.event_type, g.i AS idx
        |         FROM types t, UNNEST(generate_series(0, 63)) g(i)),
        |regs AS (SELECT grid.event_type, grid.idx, coalesce(r.rho, 0) AS rho
        |         FROM grid LEFT JOIN r ON grid.event_type = r.event_type AND grid.idx = r.idx),
        |est AS (SELECT event_type, sum(CAST(1 AS HUGEINT) << (59 - rho)) AS z2
        |        FROM regs GROUP BY event_type)
        |SELECT est.event_type,
        |       CAST((709343 * CAST(4096 AS HUGEINT) * 576460752303423488) // (1000000 * z2) AS BIGINT) AS approx_distinct
        |FROM est""".stripMargin, eventTime = true)
  )
}
