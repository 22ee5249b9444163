package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TimeCols

import Shared._

/** Relational surface (SURVEY §2.4/§2.9/§2.11 equivalents on TPC-H-ish data).
  *
  * Also the event-table and table-layout operators: CUSUM bursts, funnels,
  * range and as-of joins, HLL distinct counts, z-order, bucketing and
  * partition pruning. */
object Relational {

  val queries: Seq[Q] = Seq(
    Q("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"), // round, not
          // truncate: DuckDB CAST(double AS BIGINT) rounds to nearest
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_price_cents"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("sum_disc_price_cents"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
        |       CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin, eventTime = true),
    Q("q3_topk", (s, dir) => {
      // tp(): the high-cardinality partial agg runs pre-exchange (same
      // single-file single-task trap as word_freq_top20)
      tp(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey,
        |       CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    Q("q4_window", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("o_custkey"),
          col("o_orderkey").as("first_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("first_orderdate"))
    },
      """SELECT o_custkey, first_orderkey, first_orderdate FROM (
        |  SELECT o_custkey, o_orderkey AS first_orderkey,
        |         strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin, eventTime = true),
    Q("q5_multijoin", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT r_name, n_name,
        |       CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    Q("q6_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT CAST(sum(CAST(round(l_extendedprice*l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin, eventTime = true),
    Q("q7_semijoin", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers_with_orders"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers_with_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),
    Q("q8_distinct", (s, dir) => {
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    },
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin),
    Q("q11_sessionize", (s, dir) => {
      // gap-based sessionization: new session when >30 min since the previous
      // event of the same user (window lag + conditional cumulative sum)
      val w = Window.partitionBy("user_id").orderBy(col("sec").asc, col("event_id").asc)
      t(s, dir, "events")
        // TZ-invariant wall-clock epoch (ts is TIMESTAMP_NTZ; a cast-to-
        // timestamp epoch would leak the session zone — VERDICT r1 item 1)
        .withColumn("sec", TimeCols.ntzEpochSeconds(col("ts")))
        .withColumn("prev_sec", lag(col("sec"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
    }, Q11SessionizeOracleSql, eventTime = true),
    Q("q12_rollup", (s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
          grouping_id().as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("n"), col("total_cents"), col("gid"))
    },
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |       coalesce(o_orderpriority, '<all>') AS priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
        |       CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),
    Q("q10_events_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    },
      EventsHourlyOracleSql, eventTime = true),
    Q("cusum_bursts", (s, dir) =>
      // one-sided CUSUM burst detection in closed form (prefix sum −
      // running min, two key-grain windows — the sequential recurrence
      // parallelizes exactly); dense hour series, adaptive integer
      // threshold, deterministic planted spike; TZ-free via TimeCols
      graft.events.Cusum.hourlyBursts(
          graft.events.Cusum.plantBurst(tp(s, dir, "events")))
        .orderBy("event_type", "bucket"),
      // cusum_bursts: closed-form CUSUM (prefix sum − running min) over the
      // dense per-type hour series, adaptive integer threshold, planted
      // spike; Python-validated at both sfs (102 and 885 burst buckets,
      // tools/round5c_check.py)
      """WITH all_e AS (
        |  SELECT event_id, event_type, ts FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, event_type,
        |         TIMESTAMP '2024-01-15 12:00:00' + to_hours(event_id%3) AS ts
        |  FROM events WHERE event_id%5=0),
        |ep AS (SELECT event_type, floor(epoch(ts))::BIGINT // 3600 AS b FROM all_e),
        |rng AS (SELECT event_type, min(b) AS lo, max(b) AS hi, count(*)::BIGINT AS total FROM ep GROUP BY 1),
        |th AS (SELECT event_type, lo, hi, (total + (hi-lo+1) - 1) // (hi-lo+1) + 1 AS thr FROM rng),
        |bk AS (SELECT event_type, thr, unnest([lo + i for i in range(0, hi - lo + 1)]) AS b FROM th),
        |cnt AS (SELECT event_type, b, count(*)::BIGINT AS n FROM ep GROUP BY 1, 2),
        |d AS (SELECT bk.event_type, bk.thr, bk.b, coalesce(cnt.n, 0)::BIGINT AS n
        |      FROM bk LEFT JOIN cnt USING (event_type, b)),
        |p AS (SELECT event_type, thr, b, n,
        |             sum(n - thr) OVER (PARTITION BY event_type ORDER BY b) AS pf FROM d),
        |m AS (SELECT event_type, thr, b, n, pf,
        |             least(0, min(pf) OVER (PARTITION BY event_type ORDER BY b)) AS mn FROM p)
        |SELECT event_type, CAST(b AS BIGINT) AS bucket, n, CAST(thr AS BIGINT) AS thr,
        |       CAST(pf - mn AS BIGINT) AS s,
        |       CAST(CASE WHEN pf - mn >= thr + 2 THEN 1 ELSE 0 END AS BIGINT) AS burst
        |FROM m ORDER BY event_type, bucket""".stripMargin, eventTime = true),
    Q("zorder_layout", (s, dir) =>
      // Morton-curve layout audit: bit-interleaved 10-bit key, 16 files =
      // 8×8 tiles of (d1,d2) space — both filter columns prune via file
      // min/max, unlike any single-column sort
      graft.layout.ZOrder.layoutAudit(tp(s, dir, "documents"))
        .orderBy("file_id"),
      // zorder_layout: Morton interleave + 16-file audit; the 8×8-tile
      // locality invariant is asserted by the checker at both sfs
      // (tools/round5c_check.py)
      """WITH z AS (SELECT doc_id, doc_id%32 AS d1, length(text)%32 AS d2 FROM documents),
        |zi AS (SELECT doc_id, d1, d2,
        |              list_sum([(((d1 >> i) & 1) << (2*i+1)) + (((d2 >> i) & 1) << (2*i))
        |                        for i in range(0, 5)]) AS zval FROM z),
        |f AS (SELECT doc_id, d1, d2, zval // 64 AS file_id FROM zi)
        |SELECT CAST(file_id AS BIGINT) AS file_id, count(*)::BIGINT AS n_rows,
        |       CAST(min(d1) AS BIGINT) AS min_d1, CAST(max(d1) AS BIGINT) AS max_d1,
        |       CAST(min(d2) AS BIGINT) AS min_d2, CAST(max(d2) AS BIGINT) AS max_d2
        |FROM f GROUP BY 1 ORDER BY file_id""".stripMargin),
    Q("bucketed_join", (s, dir) =>
      // co-located join via bucketed storage: both doc-grain sides written
      // bucketBy(8, doc_id)+sortBy, joined back with ZERO shuffle exchanges
      // (LayoutSpec plan pin) — the repeated-join layout for a corpus table
      graft.layout.TableLayout.bucketedJoin(s, tp(s, dir, "documents"))
        .orderBy("doc_id"),
      // bucketed_join: layout is invisible to the RESULT (that's the point —
      // bucketing changes bytes moved, not rows produced); oracle = the plain
      // doc-grain join arithmetic
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       lang, source
        |FROM documents ORDER BY doc_id""".stripMargin),
    Q("partition_prune", (s, dir) =>
      // scan-time partition pruning: corpus written partitionBy(lang), the
      // lang predicate prunes to the matching directories before any row is
      // read (PartitionFilters pin in LayoutSpec)
      graft.layout.TableLayout.partitionPrunedScan(s, tp(s, dir, "documents"), "en")
        .orderBy("doc_id"),
      // partition_prune: pruning changes files LISTED, not rows produced;
      // oracle = the same lang predicate applied row-wise
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin),
    Q("range_join", (s, dir) => {
      // bucketized interval-containment join: quantize the time axis,
      // explode intervals to their bucket span, equi-join points on the
      // single bucket they live in, exact BETWEEN re-verify inside the
      // match — the equi-join form of the range join Catalyst would
      // otherwise nested-loop (plan-pinned)
      val ev = tp(s, dir, "events")
      graft.events.RangeJoin.containJoin(
          graft.events.RangeJoin.incidentWindows(ev),
          graft.events.RangeJoin.errorPoints(ev))
        .orderBy("iv_id", "event_id")
    },
      // range_join: the oracle is the direct BETWEEN join (DuckDB IEJoin);
      // the engine's bucketized equi-join must produce the identical pair
      // set; Python-validated 5/443 pairs at the two sfs
      // (tools/round5e_check.py, incl. the single-bucket-meet property)
      EventsRangeJoinOracleSql, eventTime = true),
    Q("range_join_rule", (s, dir) => {
      // the SAME naive BETWEEN join a user would write — planned through
      // the session's Catalyst optimizer rule (plans.BucketedRangeJoin, one
      // of plans.GraftExtensions), which rewrites it to the bucketized
      // equi-join; without the rule this plan is a BroadcastNestedLoopJoin
      // (pinned in the spec)
      val ev = tp(s, dir, "events")
      val iv = graft.events.RangeJoin.incidentWindows(ev)
      val pt = graft.events.RangeJoin.errorPoints(ev)
      // plain col() refs: the two sides carry disjoint column names (df("…")
      // refs trip DetectAmbiguousSelfJoin — both sides scan the same table)
      iv.join(pt, col("sec") >= col("lo") && col("sec") <= col("hi"))
        .select("iv_id", "event_id", "sec")
        .orderBy("iv_id", "event_id")
    },
      // range_join_rule: identical result contract to range_join — the rule
      // only changes the physical plan, never the pair set
      EventsRangeJoinOracleSql, eventTime = true),
    Q("funnel_counts", (s, dir) =>
      // ordered conversion funnel with per-step windows: user-grain
      // filtered projections + one per-user-bounded click×view join +
      // user-grain mins — no corpus window, no driver state; TZ-free keys
      graft.events.Funnel.funnel(tp(s, dir, "events"))
        .orderBy("user_id"),
      // funnel_counts: any-touch ordered funnel, W = 14400 s per step,
      // composite (sec, event_id) order key; Python-validated at both sfs
      // with all three levels populated (tools/round5d_check.py)
      """WITH ev AS (SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS sec,
        |                   floor(epoch(ts))::BIGINT * 10000000 + event_id AS k
        |            FROM events),
        |v AS (SELECT user_id, min(k) AS vk FROM ev WHERE event_type = 'view' GROUP BY 1),
        |cand AS (SELECT c.user_id, c.k FROM ev c JOIN ev vv
        |         ON c.user_id = vv.user_id AND vv.event_type = 'view'
        |        WHERE c.event_type = 'click' AND vv.k < c.k AND c.sec - vv.sec <= 14400),
        |cs AS (SELECT user_id, min(k) AS ck FROM cand GROUP BY 1),
        |p AS (SELECT ev.user_id, min(k) AS pk FROM ev JOIN cs USING (user_id)
        |      WHERE event_type = 'purchase' AND k > ck AND sec - ck // 10000000 <= 14400
        |      GROUP BY 1)
        |SELECT v.user_id,
        |       CAST(1 + (ck IS NOT NULL)::INT + (pk IS NOT NULL)::INT AS BIGINT) AS reached,
        |       CAST(vk // 10000000 AS BIGINT) AS view_sec,
        |       CAST(coalesce(ck // 10000000, -1) AS BIGINT) AS click_sec,
        |       CAST(coalesce(pk // 10000000, -1) AS BIGINT) AS purchase_sec
        |FROM v LEFT JOIN cs ON v.user_id = cs.user_id LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin, eventTime = true),
    Q("snapshot_asof", (s, dir) => {
      // as-of join: every event matched to the latest page snapshot with
      // snap_t <= event_t (inclusive tie: snapshots sort before events) —
      // one key shuffle + a running-last window, no range explosion
      val docs = tp(s, dir, "documents")
      // r6: row count from the plain reader — counting the salted reader
      // paid its repartition shuffle for a number the parquet footer knows
      val nDocs = t(s, dir, "documents").count()
      val ev = tp(s, dir, "events").select(
        (col("event_id") % nDocs).as("k"),
        TimeCols.ntzEpochSeconds(col("ts")).as("t"),
        col("event_id"))
      graft.webtext.AsofJoin.asof(graft.webtext.AsofJoin.plantSnapshots(docs), ev)
        .orderBy("event_id")
    },
      // snapshot_asof: the oracle recomputes the as-of with the same
      // union + running last_value(IGNORE NULLS) window — snapshots sort before
      // events at equal t (is_event 0 < 1) for inclusive <= semantics; epochs
      // via floor(epoch(ts)) = TimeCols.ntzEpochSeconds (TZ-free)
      SnapshotAsofOracleSql, eventTime = true),
    Q("asof_join_exec", (s, dir) => {
      // the SAME as-of semantics through the whole-operator Catalyst
      // extension (custom LogicalPlan + SparkStrategy + physical SparkPlan,
      // plans/AsofJoinExec.scala): per-side exchanges at native row width +
      // an O(1)-state streaming merge, instead of the union+window's
      // combined-stream sort — must match snapshot_asof's oracle bit-for-bit
      val docs = tp(s, dir, "documents")
      // r6: same plain-reader count as snapshot_asof
      val nDocs = t(s, dir, "documents").count()
      val ev = tp(s, dir, "events").select(
        (col("event_id") % nDocs).as("k"),
        TimeCols.ntzEpochSeconds(col("ts")).as("t"),
        col("event_id"))
      graft.plans.AsofExec.asof(graft.webtext.AsofJoin.plantSnapshots(docs), ev)
        .orderBy("event_id")
    },
      SnapshotAsofOracleSql, eventTime = true),
    Q("hll_distinct", (s, dir) => {
      // distinct (user, day) per event type via the custom HLL
      // TypedImperativeAggregate: 64-byte sketches through partial agg, the
      // oracle recomputes registers + raw estimator bit-for-bit; exact
      // countDistinct rides along as the eval ground truth (ANN-'hit' style)
      val ev = tp(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          TimeCols.ntzEpochSeconds(col("ts")).as("es"))
        .select(col("event_type"), expr("user_id * 1024L + (es div 86400L)").as("v"))
      ev.groupBy("event_type")
        .agg(graft.expr.HllSketchAgg.hllDistinct(col("v")).as("approx_distinct"),
          countDistinct(col("v")).as("exact_distinct"))
        .withColumn("err_bp",
          expr("abs(approx_distinct - exact_distinct) * 10000L div exact_distinct"))
        .orderBy("event_type")
    },
      // hll_distinct: the oracle recomputes the ENTIRE sketch — splitmix64 in
      // HUGEINT with 32-bit-split mod-2^64 multiplication (a 64x64 product
      // would overflow HUGEINT), top-6-bit buckets, leading-zero rho via
      // bin()-length, per-bucket max, then the raw estimator in exact integer
      // arithmetic. Constants K2/K3 pre-split into 32-bit halves.
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
        |        FROM regs GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT v) AS exact FROM vals GROUP BY event_type)
        |SELECT est.event_type,
        |       CAST((709343 * CAST(4096 AS HUGEINT) * 576460752303423488) // (1000000 * z2) AS BIGINT) AS approx_distinct,
        |       CAST(exact AS BIGINT) AS exact_distinct,
        |       CAST(abs(CAST((709343 * CAST(4096 AS HUGEINT) * 576460752303423488) // (1000000 * z2) AS BIGINT) - exact) * 10000 // exact AS BIGINT) AS err_bp
        |FROM est JOIN ex USING (event_type)""".stripMargin, eventTime = true),
    Q("hll_cumulative", (s, dir) =>
      // running distinct-to-date per event type via HLL register MERGE
      // (register-wise max as a windowed step-function difference): the
      // mergeability property that lets per-partition / per-day sketches
      // roll up without rescanning history; exact cumulative distinct rides
      // along as ground truth
      graft.textops.SketchMerge.cumulativeDailyDistinct(tp(s, dir, "events"))
        .orderBy("event_type", "day"),
      // hll_cumulative: the hll_distinct sketch recompute extended with a day
      // axis — per-(type, day, idx) register maxima, register-wise max over all
      // days <= d (the MERGE), then the same exact-integer raw estimator, plus
      // the first-seen-day exact cumulative distinct as ground truth. Validated
      // by tools/new_ops_oracle_check.py (150/150 rows vs a Python re-merge).
      """WITH vals AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         CAST(user_id * 1024 + (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS HUGEINT) AS v
        |  FROM events),
        |h1 AS (SELECT event_type, day, (v + 11400714819323198485) % 18446744073709551616 AS z FROM vals),
        |h2 AS (SELECT event_type, day, xor(z, z >> 30) AS x FROM h1),
        |h3 AS (SELECT event_type, day,
        |         ((x % 4294967296) * 484763065
        |          + (((x % 4294967296) * 3210233709 + (x // 4294967296) * 484763065) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h2),
        |h4 AS (SELECT event_type, day, xor(z, z >> 27) AS x FROM h3),
        |h5 AS (SELECT event_type, day,
        |         ((x % 4294967296) * 321982955
        |          + (((x % 4294967296) * 2496678331 + (x // 4294967296) * 321982955) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h4),
        |hh AS (SELECT event_type, day, xor(z, z >> 31) AS h FROM h5),
        |b AS (SELECT event_type, day, CAST(h // 288230376151711744 AS BIGINT) AS idx,
        |             h % 288230376151711744 AS rest FROM hh),
        |r AS (SELECT event_type, day, idx,
        |             max(CASE WHEN rest = 0 THEN 59 ELSE 58 - len(bin(rest)) + 1 END) AS rho
        |      FROM b GROUP BY event_type, day, idx),
        |grid AS (SELECT DISTINCT event_type, day FROM vals),
        |gi AS (SELECT g.event_type, g.day, x.i AS idx
        |       FROM grid g, UNNEST(generate_series(0, 63)) x(i)),
        |regs AS (SELECT gi.event_type, gi.day, gi.idx, coalesce(max(r.rho), 0) AS rho
        |         FROM gi LEFT JOIN r ON r.event_type = gi.event_type AND r.idx = gi.idx
        |                            AND r.day <= gi.day
        |         GROUP BY gi.event_type, gi.day, gi.idx),
        |est AS (SELECT event_type, day, sum(CAST(1 AS HUGEINT) << (59 - rho)) AS z2
        |        FROM regs GROUP BY event_type, day),
        |estv AS (SELECT event_type, day,
        |           CAST((709343 * CAST(4096 AS HUGEINT) * 576460752303423488) // (1000000 * z2) AS BIGINT) AS e
        |         FROM est),
        |firsts AS (SELECT event_type, v, min(day) AS fday FROM vals GROUP BY event_type, v),
        |exact AS (SELECT g.event_type, g.day, count(*) AS ex FROM grid g
        |          JOIN firsts f ON f.event_type = g.event_type AND f.fday <= g.day
        |          GROUP BY g.event_type, g.day)
        |SELECT estv.event_type, CAST(estv.day AS BIGINT) AS day, e AS cum_distinct_est,
        |       CAST(ex AS BIGINT) AS cum_distinct_exact,
        |       CAST(abs(e - ex) * 10000 // ex AS BIGINT) AS err_bp
        |FROM estv JOIN exact USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin, eventTime = true),
    Q("hll_sliding", (s, dir) =>
      // trailing-7-day distinct per event type: the register merge FORGETS —
      // a value-range window max per (type, idx) over the day axis, sketch
      // grain throughout; exact windowed distinct rides along as audit
      graft.textops.SketchMerge.slidingDailyDistinct(tp(s, dir, "events"))
        .orderBy("event_type", "day"),
      // hll_sliding: the hll_cumulative recompute with the register merge
      // windowed to the trailing 7 days (r.day BETWEEN gi.day-6 AND gi.day) and
      // the exact side counting distinct v with ANY occurrence in the window.
      // Validated by tools/hll_sliding_check.py (150/150 rows at both sfs).
      """WITH vals AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |         CAST(user_id * 1024 + (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS HUGEINT) AS v
        |  FROM events),
        |h1 AS (SELECT event_type, day, (v + 11400714819323198485) % 18446744073709551616 AS z FROM vals),
        |h2 AS (SELECT event_type, day, xor(z, z >> 30) AS x FROM h1),
        |h3 AS (SELECT event_type, day,
        |         ((x % 4294967296) * 484763065
        |          + (((x % 4294967296) * 3210233709 + (x // 4294967296) * 484763065) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h2),
        |h4 AS (SELECT event_type, day, xor(z, z >> 27) AS x FROM h3),
        |h5 AS (SELECT event_type, day,
        |         ((x % 4294967296) * 321982955
        |          + (((x % 4294967296) * 2496678331 + (x // 4294967296) * 321982955) % 4294967296) * 4294967296)
        |         % 18446744073709551616 AS z
        |       FROM h4),
        |hh AS (SELECT event_type, day, xor(z, z >> 31) AS h FROM h5),
        |b AS (SELECT event_type, day, CAST(h // 288230376151711744 AS BIGINT) AS idx,
        |             h % 288230376151711744 AS rest FROM hh),
        |r AS (SELECT event_type, day, idx,
        |             max(CASE WHEN rest = 0 THEN 59 ELSE 58 - len(bin(rest)) + 1 END) AS rho
        |      FROM b GROUP BY event_type, day, idx),
        |grid AS (SELECT DISTINCT event_type, day FROM vals),
        |gi AS (SELECT g.event_type, g.day, x.i AS idx
        |       FROM grid g, UNNEST(generate_series(0, 63)) x(i)),
        |regs AS (SELECT gi.event_type, gi.day, gi.idx, coalesce(max(r.rho), 0) AS rho
        |         FROM gi LEFT JOIN r ON r.event_type = gi.event_type AND r.idx = gi.idx
        |                            AND r.day BETWEEN gi.day - 6 AND gi.day
        |         GROUP BY gi.event_type, gi.day, gi.idx),
        |est AS (SELECT event_type, day, sum(CAST(1 AS HUGEINT) << (59 - rho)) AS z2
        |        FROM regs GROUP BY event_type, day),
        |estv AS (SELECT event_type, day,
        |           CAST((709343 * CAST(4096 AS HUGEINT) * 576460752303423488) // (1000000 * z2) AS BIGINT) AS e
        |         FROM est),
        |vd AS (SELECT DISTINCT event_type, v, day FROM vals),
        |exact AS (SELECT g.event_type, g.day, count(DISTINCT f.v) AS ex FROM grid g
        |          JOIN vd f ON f.event_type = g.event_type
        |                   AND f.day BETWEEN g.day - 6 AND g.day
        |          GROUP BY g.event_type, g.day)
        |SELECT estv.event_type, CAST(estv.day AS BIGINT) AS day, e AS win_distinct_est,
        |       CAST(ex AS BIGINT) AS win_distinct_exact,
        |       CAST(abs(e - ex) * 10000 // ex AS BIGINT) AS err_bp
        |FROM estv JOIN exact USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin, eventTime = true),
    Q("audience_overlap", (s, dir) =>
      // pairwise (user, day) co-activity between event types from per-type
      // KMV sketches: ONE corpus pass builds t sketches, the t x t matrix is
      // broadcast arithmetic — vs t^2 corpus self-joins exactly; exact
      // counts ride along from a (type, v)-distinct side table
      graft.events.AudienceOverlap.overlapMatrix(
        graft.events.AudienceOverlap.userDayKeys(tp(s, dir, "events"))),
      // audience_overlap: full per-type sketch recompute (shared splitmix
      // HUGEINT chain + per-type ORDER BY h row_number <= k), pairwise merged
      // bottom-k + trunc-integer estimates; Python-validated at both sfs
      // (tools/audience_oracle_check.py)
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
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |          FROM (SELECT DISTINCT event_type FROM vals) a,
        |               (SELECT DISTINCT event_type FROM vals) b
        |          WHERE a.event_type < b.event_type),
        |mraw AS (SELECT DISTINCT p.type_a, p.type_b, u.h
        |         FROM pairs p JOIN sk u ON u.event_type IN (p.type_a, p.type_b)),
        |mk AS (SELECT type_a, type_b, h FROM
        |        (SELECT type_a, type_b, h,
        |                row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        |         FROM mraw)
        |       WHERE rn <= 256),
        |mku AS (SELECT type_a, type_b, h FROM mk),
        |mm AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS m, max(h) AS uk
        |       FROM mku GROUP BY type_a, type_b),
        |mat AS (SELECT m.type_a, m.type_b, CAST(count(*) AS BIGINT) AS matches
        |        FROM mku m
        |        JOIN sk a ON a.event_type = m.type_a AND a.h = m.h
        |        JOIN sk b ON b.event_type = m.type_b AND b.h = m.h
        |        GROUP BY m.type_a, m.type_b),
        |exi AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |               CAST(count(*) AS BIGINT) AS exact_inter
        |        FROM vals x JOIN vals y ON x.v = y.v AND x.event_type < y.event_type
        |        GROUP BY 1, 2),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd FROM vals GROUP BY 1),
        |est AS (SELECT mm.type_a, mm.type_b, mm.m, mat.matches,
        |               CASE WHEN mm.m < 256 THEN mm.m
        |                    ELSE CAST((255 * CAST(18446744073709551616 AS HUGEINT)) // mm.uk AS BIGINT)
        |               END AS est_union,
        |               na.nd + nb.nd - exi.exact_inter AS exact_union, exi.exact_inter
        |        FROM mm JOIN mat USING (type_a, type_b) JOIN exi USING (type_a, type_b)
        |        JOIN nd na ON na.event_type = mm.type_a
        |        JOIN nd nb ON nb.event_type = mm.type_b)
        |SELECT type_a, type_b, m, matches,
        |       matches * 10000 // m AS jaccard_bp,
        |       est_union,
        |       matches * est_union // m AS est_inter,
        |       exact_union, exact_inter,
        |       abs(est_union - exact_union) * 10000 // exact_union AS union_err_bp
        |FROM est ORDER BY type_a, type_b""".stripMargin, eventTime = true)
  )
}
