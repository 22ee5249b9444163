package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table readers and the oracles shared by more than one family. */
private[queries] object Shared {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.parquet(spark, s"$dir/$name.parquet")

  /** Parallelized reader for map-heavy pipelines: the input tables are
    * single-row-group parquet files, so without an explicit repartition every
    * pre-shuffle stage (signatures, cosine scans, regex passes) runs as ONE
    * task no matter the core count (CLAUDE.md rule). Queries whose first real
    * work is already a shuffle keep the plain reader — an extra exchange there
    * would only add cost. */
  def tp(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Shared by the batch window-function query and its stateful-streaming twin. */
  val Q11SessionizeOracleSql =
    """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT user_id, sec, event_id,
      |           CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
      |                  OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
      |                THEN 1 ELSE 0 END AS new_session
      |    FROM (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)))
      |GROUP BY user_id""".stripMargin

  /** 24-word-paragraph main-text oracle: the batch HTML and WARC paths and
    * the streaming twin. */
  val HtmlMainOracleSql =
    """SELECT 'doc://' || doc_id AS url,
      |       array_to_string([array_to_string(words[i:i+23], ' ')
      |                        for i in range(1, len(words)+1, 24)], chr(10)) AS extracted_text
      |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)""".stripMargin

  /** Manku block spec rendered from the engine's own constants. */
  val SimKeySpecSql = graft.textops.TextHash.simKeySpecSql

  /** Feed-items oracle — shared by the batch query and its stateless
    * streaming twin (per-row op, so the drained table equals the batch
    * answer under any micro-batching). */
  val FeedItemsSql: String =
    """WITH base AS (SELECT doc_id, 1 + doc_id%4 AS n FROM documents),
      |i AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM base)
      |SELECT doc_id,
      |  CASE WHEN doc_id%2=0 THEN 'rss' ELSE 'atom' END AS fmt,
      |  CAST(i AS BIGINT) AS item_idx,
      |  'item ' || doc_id || ' ' || i || CASE WHEN (doc_id+i)%5=0 THEN ' & news' ELSE '' END AS title,
      |  'https://site' || (doc_id%7) || '.example.com/a/' || doc_id || '/' || i AS link,
      |  CAST(DATE '2020-01-01' + CAST((doc_id+i)%365 AS INTEGER) AS VARCHAR) AS stamp
      |FROM i ORDER BY doc_id, item_idx""".stripMargin

  /** SCD2 oracle over the planted capture log — shared by the batch query
    * and its streaming twin (both must produce the same dimension table). */
  val Scd2Sql: String =
    """WITH s AS (
      |  SELECT doc_id AS k, unnest(range(0, doc_id%3 + 1)) AS version FROM documents),
      |t AS (SELECT k, version, 1704067200 + version*864000 + (k%97)*3600 AS t FROM s),
      |v AS (SELECT k, version, t AS valid_from,
      |        coalesce(lead(t) OVER (PARTITION BY k ORDER BY t), -1) AS valid_to
      |      FROM t)
      |SELECT k, CAST(version AS BIGINT) AS version,
      |       CAST(valid_from AS BIGINT) AS valid_from,
      |       CAST(valid_to AS BIGINT) AS valid_to,
      |       CAST(CASE WHEN valid_to = -1 THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v ORDER BY k, version""".stripMargin

  /** 8-word-line fulltext oracle: every path that must reproduce the clean
    * corpus' extraction byte for byte (fused, skew-split, columnar, codegen,
    * file-landing, round-trip, repair/merge/delete no-ops, streaming). */
  val FulltextOracleSql =
    """SELECT 'doc://' || doc_id AS url,
      |       array_to_string([array_to_string(words[i:i+7], ' ')
      |                        for i in range(1, len(words)+1, 8)], chr(10)) AS extracted_text
      |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)""".stripMargin

  /** Hourly event-type counts: the batch window query and its streaming twin. */
  val EventsHourlyOracleSql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Exact-duplicate groups: the batch query and its streaming twin. */
  val DedupExactOracleSql =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin

  /** Cross-corpus exact dedup: the batch query and its streaming twin. */
  val CrossCorpusDedupOracleSql =
    """WITH inc AS (SELECT doc_id + 1000000 AS doc_id,
      |                    CASE WHEN doc_id%2=1 THEN text ELSE 'new ' || text END AS text
      |             FROM documents)
      |SELECT i.doc_id AS doc_id,
      |       CAST(CASE WHEN EXISTS (SELECT 1 FROM documents b WHERE b.text = i.text)
      |            THEN 0 ELSE 1 END AS BIGINT) AS is_new
      |FROM inc i""".stripMargin

  /** Bitext pairs: the batch miner and its streaming twin. */
  val BitextOracleSql =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |seg AS (
      |  SELECT doc_id, (s//12)::BIGINT AS sent_idx,
      |         coalesce(array_to_string(w[(s+1)::INT:(s+12)::INT], ' '), '') AS sent
      |  FROM w CROSS JOIN unnest(range(0, len(w), 12)) AS t(s)),
      |tgt AS (
      |  SELECT doc_id, sent_idx,
      |         CASE WHEN sent_idx % 3 = 2
      |              THEN coalesce(array_to_string(list_reverse(string_split(sent,' '))[1:4], ' '), '')
      |              ELSE coalesce(array_to_string(list_reverse(string_split(sent,' ')), ' '), '') END AS sent
      |  FROM seg)
      |SELECT s.doc_id, s.sent_idx, s.sent AS src_sent, t.sent AS tgt_sent,
      |       CAST(length(s.sent) AS BIGINT) AS src_chars,
      |       CAST(length(t.sent) AS BIGINT) AS tgt_chars,
      |       CAST(CASE WHEN greatest(length(s.sent), length(t.sent)) * 10
      |                      <= least(length(s.sent), length(t.sent)) * 13 THEN 1 ELSE 0 END AS BIGINT) AS pair_ok
      |FROM seg s JOIN tgt t USING (doc_id, sent_idx)""".stripMargin

  /** Events-in-interval join over `sec` epochs: both batch plans and the
    * streaming twin. */
  val EventsRangeJoinOracleSql =
    """WITH ev AS (SELECT event_id, event_type, floor(epoch(ts))::BIGINT AS sec FROM events),
      |iv AS (SELECT event_id AS iv_id, sec AS lo, sec + 5400 AS hi FROM ev WHERE event_id % 97 = 0),
      |pt AS (SELECT event_id, sec FROM ev WHERE event_type = 'error')
      |SELECT iv_id, pt.event_id, sec FROM iv JOIN pt ON sec BETWEEN lo AND hi
      |ORDER BY iv_id, pt.event_id""".stripMargin

  /** License detection: the batch query and its streaming twin. */
  val LicenseOracleSql =
    """SELECT doc_id,
      |  CASE doc_id%6
      |    WHEN 0 THEN 'https://creativecommons.org/licenses/by/4.0/'
      |    WHEN 1 THEN 'https://creativecommons.org/licenses/by-nc-sa/3.0/'
      |    WHEN 2 THEN 'https://creativecommons.org/licenses/by-nd/4.0/'
      |    WHEN 4 THEN 'https://example.com/terms-of-use'
      |    WHEN 5 THEN 'https://creativecommons.org/publicdomain/zero/1.0/'
      |    ELSE NULL END AS license_url,
      |  doc_id%6 IN (0,1,2,5) AS is_cc,
      |  CASE doc_id%6 WHEN 0 THEN 'by' WHEN 1 THEN 'by-nc-sa' WHEN 2 THEN 'by-nd'
      |       WHEN 5 THEN 'zero' ELSE NULL END AS cc_family,
      |  CASE doc_id%6 WHEN 0 THEN '4.0' WHEN 1 THEN '3.0' WHEN 2 THEN '4.0'
      |       WHEN 5 THEN '1.0' ELSE NULL END AS cc_version,
      |  doc_id%6 IN (0,2,5) AS allows_commercial,
      |  doc_id%6 IN (0,1,5) AS allows_derivatives,
      |  doc_id%6 = 1 AS requires_sharealike,
      |  doc_id%6 IN (0,2,5) AS keep_commercial
      |FROM documents ORDER BY doc_id""".stripMargin

  /** As-of snapshot join: the composed plan, the physical operator and the
    * stream-static twin. */
  val SnapshotAsofOracleSql =
    """WITH n AS (SELECT count(*) AS nd FROM documents),
      |s AS (SELECT doc_id AS k, 1704067200 + v*864000 + (doc_id % 97)*3600 AS t,
      |             v AS version, 0 AS is_event, CAST(NULL AS BIGINT) AS event_id
      |      FROM documents, UNNEST(generate_series(0, doc_id % 3)) tt(v)),
      |e AS (SELECT event_id % (SELECT nd FROM n) AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |             CAST(NULL AS BIGINT) AS version, 1 AS is_event, event_id
      |      FROM events),
      |u AS (SELECT * FROM s UNION ALL BY NAME SELECT * FROM e),
      |m AS (SELECT k, t, is_event, event_id,
      |             last_value(version IGNORE NULLS) OVER
      |               (PARTITION BY k ORDER BY t, is_event
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mv,
      |             last_value(CASE WHEN is_event = 0 THEN t END IGNORE NULLS) OVER
      |               (PARTITION BY k ORDER BY t, is_event
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      |      FROM u)
      |SELECT event_id, k AS doc_key,
      |       coalesce(mv, -1) AS version,
      |       CASE WHEN mv IS NULL THEN -1 ELSE t - mt END AS age_s
      |FROM m WHERE is_event = 1""".stripMargin
}
