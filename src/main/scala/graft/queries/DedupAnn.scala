package graft.queries

import org.apache.spark.sql.functions._

import Shared._

/** Dedup / similarity / ANN (every query below is fully oracle-checked;
  * ScalaTest adds recall/content properties on top).
  *
  * Also exact, cross-corpus, multimodal, containment, content-defined-chunk
  * and span-level dedup, and the text-normalization pair. */
object DedupAnn {

  /** Planted near-duplicate pairs: both MinHash signature schemes find them. */
  private val MinhashNeardupOracleSql =
    """WITH planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substring(text, instr(text, ' ') + 1) FROM documents),
      |d AS (SELECT doc_id, string_split(text,' ') AS w FROM planted),
      |sh AS (SELECT doc_id,
      |              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |                   ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
      |       FROM d),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |         CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
      |         CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS BIGINT) AS un
      |  FROM sh x, sh y WHERE x.doc_id < y.doc_id)
      |SELECT a, b, inter, un FROM pairs WHERE 5*inter >= 4*un""".stripMargin

  /** Opening of both dup-span oracles, up to the planted disclaimer. */
  private val DupSpansHeadSql =
    """WITH d AS (SELECT doc_id,
      |             CASE WHEN doc_id%3=0 THEN text || ' """.stripMargin

  val queries: Seq[Q] = Seq(
    Q("dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
    },
      DedupExactOracleSql),
    Q("cross_corpus_dedup", (s, dir) => {
      // incremental recrawl dedup: the incoming snapshot (odd docs unchanged,
      // even docs edited) anti-checked against the base corpus on the
      // 12-byte (xxhash64, length) key — text never crosses the shuffle
      val docs = tp(s, dir, "documents")
      val incoming = docs.select(
        (col("doc_id") + graft.textops.Dedup.PlantOffset).as("doc_id"),
        when(col("doc_id") % 2 === 1, col("text"))
          .otherwise(concat(lit("new "), col("text"))).as("text"))
      graft.textops.Dedup.crossCorpusNew(incoming, docs)
    },
      // cross_corpus_dedup: the oracle recomputes the verdict by STRING
      // equality against the base corpus; the engine must reach the same
      // verdict through the (xxhash64, length) narrow-key join
      CrossCorpusDedupOracleSql),
    Q("fuzzy_join", (s, dir) => {
      // blocked record linkage: content-derived 8-char block key turns the
      // quadratic edit-distance matrix into an equi-join; Levenshtein
      // verifies only inside blocks
      val docs = tp(s, dir, "documents")
      graft.textops.FuzzyJoin.linkTitles(
          graft.textops.FuzzyJoin.catalogA(docs),
          graft.textops.FuzzyJoin.catalogB(docs))
        .orderBy("a_id", "b_id")
    },
      // fuzzy_join: block on the title's first 8 chars, verify lev <= 3;
      // Python-validated 439/436 pairs at the two sfs (tools/round5d_check.py)
      """WITH a AS (SELECT doc_id AS a_id, substring(text, 1, 40) AS title_a FROM documents),
        |b AS (SELECT doc_id + 1000000 AS b_id,
        |             CASE WHEN doc_id%5=0 THEN reverse(substring(text, 1, 40))
        |                  ELSE substring(text, 1, 40) || ' v' || (doc_id%3) END AS title_b
        |      FROM documents),
        |c AS (SELECT a_id, b_id, title_a, title_b FROM a JOIN b
        |      ON substring(title_a, 1, 8) = substring(title_b, 1, 8)),
        |m AS (SELECT a_id, b_id, CAST(levenshtein(title_a, title_b) AS BIGINT) AS lev FROM c)
        |SELECT a_id, b_id, lev FROM m WHERE lev <= 3 ORDER BY a_id, b_id""".stripMargin),
    Q("image_phash_dedup", (s, dir) =>
      // perceptual image dedup: REAL ImageIO decode -> aHash -> Manku-key
      // candidate join -> exact hamming; planted brightness+4 twins are
      // different PNG bytes but near-identical perception
      graft.textops.Multimodal.imageNearDupPairs(
        graft.textops.Multimodal.mediaWithNearTwins(tp(s, dir, "documents"))),
      // image_phash_dedup: the oracle rebuilds every pixel arithmetically
      // (generator + clamped brightness plant), the 8x8 pixel-center sample,
      // the strict x64 mean-threshold aHash, the Manku keys (same spec table
      // as stream_simhash_candidates) and the hamming verify — the engine
      // must arrive at the same bits THROUGH the real PNG encode/decode.
      ("""WITH base AS (SELECT doc_id FROM documents),
        |imgs AS (SELECT doc_id AS img_id, doc_id AS d, 0 AS shift FROM base
        |         UNION ALL
        |         SELECT doc_id + 1000000, doc_id, 4 FROM base),
        |smp AS (SELECT img_id,
        |               [ least((( (d*31)%256 + 7*(((2*(b%8)+1)*(8+d%16))//16)
        |                         + 13*(((2*(b//8)+1)*(8+d%11))//16) ) % 256) + shift, 255)
        |                 for b in range(0, 64) ] AS px
        |        FROM imgs),
        |ah AS (SELECT img_id,
        |              sum(CASE WHEN px[b+1]*64 > list_sum(px) THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS v
        |       FROM smp, range(64) r(b) GROUP BY img_id, px),
        |spec(t, o0, w0, o1, w1, o2, w2) AS (VALUES """ + SimKeySpecSql + """),
        |keys AS (SELECT img_id, v,
        |                CAST(t * (1::HUGEINT << 34)
        |                   + ((v // (1::HUGEINT << o0)) % (1::HUGEINT << w0)) * 4194304
        |                   + ((v // (1::HUGEINT << o1)) % (1::HUGEINT << w1)) * 2048
        |                   + ((v // (1::HUGEINT << o2)) % (1::HUGEINT << w2)) AS BIGINT) AS key
        |         FROM ah, spec),
        |cand AS (SELECT DISTINCT x.img_id AS a, y.img_id AS b, x.v AS va, y.v AS vb
        |         FROM keys x JOIN keys y USING (key) WHERE x.img_id < y.img_id)
        |SELECT a, b, CAST(bit_count(xor(
        |         CAST(va - CASE WHEN va >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT),
        |         CAST(vb - CASE WHEN vb >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT)))
        |       AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(
        |         CAST(va - CASE WHEN va >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT),
        |         CAST(vb - CASE WHEN vb >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT))) <= 3""").stripMargin),
    Q("audio_phash_dedup", (s, dir) =>
      // perceptual audio dedup: REAL WAV chunk-walk decode -> 64-bit
      // energy-delta-sign fingerprint -> Manku-key candidate join -> exact
      // hamming; planted phase-inverted twins are byte-wise different
      // payloads with bit-identical prints (gain/phase invariance)
      graft.textops.Multimodal.audioNearDupPairs(
        graft.textops.Multimodal.mediaWithAudioTwins(tp(s, dir, "documents")))
        .orderBy("a", "b"),
      // audio_phash_dedup: regrow samples (+ sign-flip twins), recompute the
      // 65-window energy-delta fingerprint, the Manku key CTE (same spec
      // literal as image_phash_dedup), and exact hamming. Python-validated
      // 552/552 at sf0.01 against a key-free all-pairs recompute (500 twin
      // pairs at hamming 0 + 52 cross-doc collisions) — tools/
      // audio_oracle_check.py.
      ("""WITH base AS (SELECT doc_id FROM documents),
        |clips AS (SELECT doc_id AS clip_id, doc_id AS d, 0 AS flip FROM base
        |          UNION ALL SELECT doc_id + 1000000, doc_id, 1 FROM base),
        |s AS (SELECT clip_id, CAST(64 + d%64 AS BIGINT) AS n,
        |        [ CASE WHEN flip = 1 AND ((d*7919 + 2663*i) % 65536) - 32768 != -32768
        |               THEN -(((d*7919 + 2663*i) % 65536) - 32768)
        |               ELSE ((d*7919 + 2663*i) % 65536) - 32768 END
        |          for i in range(0, 64 + d%64) ] AS sm
        |      FROM clips),
        |es AS (SELECT clip_id,
        |        [ coalesce(list_sum(list_transform(sm[(b*n//65)+1 : ((b+1)*n//65)], v -> v*v)), 0)
        |          for b in range(0, 65) ] AS e
        |       FROM s),
        |ah AS (SELECT clip_id,
        |              sum(CASE WHEN e[b+2] > e[b+1] THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS v
        |       FROM es, range(64) r(b) GROUP BY clip_id, e),
        |spec(t, o0, w0, o1, w1, o2, w2) AS (VALUES """ + SimKeySpecSql + """),
        |keys AS (SELECT clip_id, v,
        |                CAST(t * (1::HUGEINT << 34)
        |                   + ((v // (1::HUGEINT << o0)) % (1::HUGEINT << w0)) * 4194304
        |                   + ((v // (1::HUGEINT << o1)) % (1::HUGEINT << w1)) * 2048
        |                   + ((v // (1::HUGEINT << o2)) % (1::HUGEINT << w2)) AS BIGINT) AS key
        |         FROM ah, spec),
        |cand AS (SELECT DISTINCT x.clip_id AS a, y.clip_id AS b, x.v AS va, y.v AS vb
        |         FROM keys x JOIN keys y USING (key) WHERE x.clip_id < y.clip_id)
        |SELECT a, b, CAST(bit_count(xor(
        |         CAST(va - CASE WHEN va >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT),
        |         CAST(vb - CASE WHEN vb >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT)))
        |       AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(
        |         CAST(va - CASE WHEN va >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT),
        |         CAST(vb - CASE WHEN vb >= (1::HUGEINT << 63) THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT))) <= 3
        |ORDER BY a, b""").stripMargin),
    Q("decontaminate", (s, dir) => {
      // 13-gram eval-set overlap (GPT-3/PaLM decontamination): eval set =
      // every doc_id % 41 == 0 document's first 13-gram, broadcast; one
      // map-side pass over the corpus, zero shuffle
      val docs = tp(s, dir, "documents")
      graft.textops.Curate.contamination(docs, docs.filter(col("doc_id") % 41 === 0))
    },
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
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id""".stripMargin),
    Q("contamination_spans", (s, dir) => {
      // span-level decontamination: exact char ranges of eval 13-gram leaks
      // (merged via the sorted-gap identity), the surgical alternative to
      // dropping whole docs. Planted eval-head leak on doc_id%7==3 gives the
      // corpus genuine cross-document contamination. Broadcast eval grams,
      // one map-side pass, zero shuffle.
      val docs = tp(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 41 === 0)
      graft.textops.Curate.contaminationSpans(
        graft.textops.Curate.plantEvalLeak(docs, eval), eval)
    },
      // contamination_spans: full recompute — planted eval-head leak, matched
      // gram positions, gaps-and-islands merge (lag + running sum), char
      // offsets via list_sum prefix arithmetic. The engine matches on exact
      // gram STRINGS (broadcast eval set), so the oracle is exact too.
      // Python-validated 0/84 (73 planted cross-doc rows) before wiring.
      """WITH w0 AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |bench AS (SELECT doc_id AS bid, array_to_string(ws[1:13],' ') AS gram
        |          FROM w0 WHERE doc_id%41=0 AND len(ws)>=13),
        |pl AS (SELECT d.doc_id,
        |         CASE WHEN d.doc_id%7=3 AND b.gram IS NOT NULL
        |              THEN d.text || ' ' || b.gram ELSE d.text END AS text
        |       FROM documents d LEFT JOIN bench b ON b.bid = (d.doc_id%2)*41),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM pl),
        |g0 AS (SELECT doc_id, ws, len(ws) AS nw FROM w),
        |g AS (SELECT doc_id, ws, unnest(CASE WHEN nw >= 13
        |        THEN [{'pos': i-1, 'gram': array_to_string(ws[i:i+12],' ')} for i in range(1, nw-11)]
        |        ELSE [] END, recursive := true) FROM g0),
        |bset AS (SELECT DISTINCT gram FROM bench),
        |m AS (SELECT g.doc_id, g.ws, g.pos FROM g JOIN bset USING (gram)),
        |lg AS (SELECT doc_id, ws, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |       FROM m),
        |isl AS (SELECT doc_id, ws, pos,
        |         sum(CASE WHEN prev IS NULL OR pos - prev > 13 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS isle
        |       FROM lg),
        |sp AS (SELECT doc_id, any_value(ws) AS ws, isle, min(pos) AS a, max(pos) + 13 AS b, count(*) AS ng
        |       FROM isl GROUP BY doc_id, isle)
        |SELECT doc_id, CAST(isle - 1 AS BIGINT) AS span_idx,
        |  CAST(a AS BIGINT) AS start_word, CAST(b AS BIGINT) AS end_word,
        |  CAST(CASE WHEN a=0 THEN 0 ELSE list_sum([length(x) for x in ws[1:a]]) + a END AS BIGINT) AS start_char,
        |  CAST(list_sum([length(x) for x in ws[1:b]]) + b - 1 AS BIGINT) AS end_char,
        |  CAST(ng AS BIGINT) AS n_grams
        |FROM sp""".stripMargin),
    Q("decontaminate_neardup", (s, dir) => {
      // paraphrase-tier decontamination: word-bigram-shingle Jaccard >= 4/5
      // vs any eval doc (broadcast eval shingle sets, exact-safe size
      // screen, zero corpus shuffle); planted near-copies on doc_id%7==6
      val docs = tp(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 41 === 0)
      graft.textops.Curate.decontaminateNearDup(
        graft.textops.Curate.plantEvalNearDup(docs, eval), eval)
        .orderBy("doc_id")
    },
      // decontaminate_neardup: replant the near-copies, recompute word-bigram
      // shingle sets (the inclusive-slice w[i:i+1] = 2 words) and the 4/5
      // rational Jaccard over the full corpus x eval cross (tiny eval side).
      // Python-validated 500/500 at sf0.01 (tools/nddecon_oracle_check.py:
      // 82 contaminated = planted %7==6 near-copies + eval selves).
      """WITH ev0 AS (SELECT doc_id AS eid, text FROM documents WHERE doc_id%41=0),
        |pl AS (SELECT d.doc_id,
        |         CASE WHEN d.doc_id%7=6 AND e.text IS NOT NULL
        |              THEN substring(e.text, instr(e.text,' ')+1) ELSE d.text END AS text
        |       FROM documents d LEFT JOIN ev0 e ON e.eid = (d.doc_id%2)*41),
        |cw AS (SELECT doc_id, string_split(text,' ') AS w FROM pl),
        |cs AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |            ELSE list_distinct([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) END AS s FROM cw),
        |ew AS (SELECT eid, string_split(text,' ') AS w FROM ev0),
        |es AS (SELECT eid, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |            ELSE list_distinct([array_to_string(w[i:i+1],' ') for i in range(1, len(w))]) END AS s FROM ew),
        |pairs AS (SELECT c.doc_id, e.eid, len(list_intersect(c.s, e.s)) AS inter,
        |                 len(c.s) + len(e.s) - len(list_intersect(c.s, e.s)) AS un
        |          FROM cs c CROSS JOIN es e),
        |q AS (SELECT doc_id, eid FROM pairs WHERE inter*5 >= un*4)
        |SELECT c.doc_id, CAST(count(q.eid) AS BIGINT) AS n_eval_matches,
        |       CAST(coalesce(min(q.eid), -1) AS BIGINT) AS eval_doc_id,
        |       count(q.eid) > 0 AS contaminated
        |FROM cs c LEFT JOIN q ON q.doc_id = c.doc_id
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    Q("decontaminate_fold", (s, dir) => {
      // case/punct-insensitive decontamination (the GPT-3 normalization):
      // catches the planted mangled-leak class (doc_id%7==5, uppercased +
      // comma-joined eval heads) that exact gram matching misses
      val docs = tp(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 41 === 0)
      graft.textops.Curate.contaminationFolded(
        graft.textops.Curate.plantMangledLeak(docs, eval), eval)
        .orderBy("doc_id")
    },
      // decontaminate_fold: replant the mangled leaks (upper + comma-join),
      // fold both sides (lower, strip non-alnum, collapse spaces), then the
      // decontaminate CTEs. Python-validated 500/500 at sf0.01
      // (tools/fold_oracle_check.py: 82 flagged incl. the mangled class).
      """WITH w0 AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |bench0 AS (SELECT doc_id AS bid, array_to_string(ws[1:13], ', ') AS mangled
        |           FROM w0 WHERE doc_id%41=0 AND len(ws)>=13),
        |pl AS (SELECT d.doc_id,
        |         CASE WHEN d.doc_id%7=5 AND b.mangled IS NOT NULL
        |              THEN d.text || ' ' || upper(b.mangled) ELSE d.text END AS text
        |       FROM documents d LEFT JOIN bench0 b ON b.bid = (d.doc_id%2)*41),
        |f AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text
        |      FROM pl),
        |fe AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text
        |      FROM documents WHERE doc_id%41=0),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM f),
        |g AS (SELECT doc_id, CASE WHEN len(ws) >= 13
        |             THEN [array_to_string(ws[i:i+12],' ') for i in range(1, len(ws)-11)]
        |             ELSE [] END AS grams FROM w),
        |we AS (SELECT doc_id, string_split(text,' ') AS ws FROM fe),
        |bench AS (SELECT DISTINCT array_to_string(ws[1:13],' ') AS gram FROM we WHERE len(ws)>=13),
        |x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |m AS (SELECT x.doc_id, count(*) AS nc FROM x JOIN bench USING (gram) GROUP BY x.doc_id)
        |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
        |       CAST(coalesce(m.nc, 0) AS BIGINT) AS n_contaminated,
        |       coalesce(m.nc, 0) > 0 AS contaminated
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id ORDER BY g.doc_id""".stripMargin),
    Q("eval_leak_report", (s, dir) => {
      // inverse decontamination: rank EVAL items by corpus leakage of their
      // head 13-gram (planted cross-doc leaks on doc_id%7==3); hit rows are
      // leak-sized, membership tested inside the corpus scan
      val docs = tp(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 41 === 0)
      graft.textops.Curate.evalLeakReport(
        graft.textops.Curate.plantEvalLeak(docs, eval), eval)
        .orderBy("eval_doc_id")
    },
      // eval_leak_report: replant the eval-head leaks (contamination_spans'
      // CTE), flip the aggregation to per-eval-gram distinct-doc counts.
      // Python-validated 13/13 at sf0.01 (tools/leak_oracle_check.py:
      // 2 items leaked beyond self, max 37 hitting docs).
      """WITH w0 AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |bench AS (SELECT doc_id AS bid, array_to_string(ws[1:13],' ') AS gram
        |          FROM w0 WHERE doc_id%41=0 AND len(ws)>=13),
        |pl AS (SELECT d.doc_id,
        |         CASE WHEN d.doc_id%7=3 AND b.gram IS NOT NULL
        |              THEN d.text || ' ' || b.gram ELSE d.text END AS text
        |       FROM documents d LEFT JOIN bench b ON b.bid = (d.doc_id%2)*41),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM pl),
        |g AS (SELECT doc_id, CASE WHEN len(ws) >= 13
        |             THEN [array_to_string(ws[i:i+12],' ') for i in range(1, len(ws)-11)]
        |             ELSE [] END AS grams FROM w),
        |ev AS (SELECT bid AS eval_doc_id, gram FROM bench),
        |x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |hits AS (SELECT DISTINCT x.gram, x.doc_id FROM x JOIN (SELECT DISTINCT gram FROM ev) b USING (gram)),
        |agg AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs_hit,
        |        CAST(min(doc_id) AS BIGINT) AS min_hit_doc FROM hits GROUP BY gram)
        |SELECT ev.eval_doc_id, ev.gram, agg.n_docs_hit, agg.min_hit_doc,
        |       agg.n_docs_hit > 1 AS leaked_beyond_self
        |FROM ev JOIN agg USING (gram) ORDER BY ev.eval_doc_id""".stripMargin),
    Q("decontaminate_bloom", (s, dir) => {
      // the 100 TB broadcast form of decontaminate: eval grams ride a Bloom
      // sketch (treeAggregate-built, ~3.6 B/gram) instead of an exact string
      // set. The bit layout is deterministic, so the flags are too; the
      // oracle is the EXACT overlap, which means green ALSO pins "zero false
      // positives at this capacity/fpp on this corpus" — the no-false-
      // negative guarantee makes any mismatch a widened flag, never a lost
      // one, and the ScalaTest property bounds the widening separately
      val docs = tp(s, dir, "documents")
      graft.textops.Curate.contaminationBloom(docs, docs.filter(col("doc_id") % 41 === 0))
    },
      // the bloom variant's oracle is the EXACT overlap under the bloom's
      // column names: deterministic sketch layout + verified-FP-free corpus
      // make the approximate result bit-for-bit recomputable (the same move
      // the LSH/IVF oracles use, CLAUDE.md "approximate ops" rule)
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |     g AS (SELECT doc_id, CASE WHEN len(ws) >= 13
        |                  THEN [array_to_string(ws[i:i+12],' ') for i in range(1, len(ws)-11)]
        |                  ELSE [] END AS grams FROM w),
        |     bench AS (SELECT DISTINCT grams[1] AS gram FROM g WHERE doc_id%41=0 AND len(grams)>0),
        |     x AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |     m AS (SELECT x.doc_id, count(*) AS nc FROM x JOIN bench USING (gram) GROUP BY x.doc_id)
        |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
        |       CAST(coalesce(m.nc, 0) AS BIGINT) AS n_flagged,
        |       coalesce(m.nc, 0) > 0 AS flagged
        |FROM g LEFT JOIN m ON g.doc_id = m.doc_id""".stripMargin),
    Q("corpus_pipeline", (s, dir) => {
      // the full FineWeb-style curation pipeline as ONE composition of
      // already-oracle-checked operators: canonical-URL dedup -> C4 line
      // dedup -> Gopher quality gate -> 13-gram decontamination -> near-dup
      // cluster representative. Every stage shrinks the corpus before the
      // next (the expensive near-dup step sees only quality survivors).
      val docs = tp(s, dir, "documents")
      // urls planted to collide on doc_id % 250 (re-crawled pages)
      val withUrls = docs.select(col("doc_id"), col("text"),
        concat(lit("HTTPS://WWW.Dup.Example.com/p"), (col("doc_id") % 250).cast("string"),
          lit("?utm_source=x")).as("url"))
      val keep1 = graft.webtext.UrlOps.withNormalized(withUrls)
        .groupBy("url_norm").agg(min("doc_id").as("doc_id"))
      val stage1 = docs.join(keep1.select("doc_id"), "doc_id")
      // Stage boundaries MATERIALIZE (eager localCheckpoint): `cleaned` feeds
      // four downstream branches (quality gate, stage3 join, stage4's
      // clean_text, the near-dup input) and `stage4` feeds two — without the
      // checkpoint each branch re-evaluates the whole upstream subtree (the
      // projections differ, so ReuseExchange can't dedup them; measured 21 s
      // -> 5 s warm at sf0.1). This is the production shape anyway: a real
      // pipeline persists each stage's survivors before the next, and the
      // blocks are GC-collectable once the returned frame is dropped.
      val cleaned = graft.textops.Dedup.lineDedup(
        graft.textops.Dedup.plantBoilerplate(stage1.select("doc_id", "text")), minCount = 3)
        .localCheckpoint(true)
      val quality = graft.textops.Curate.gopherQuality(
          cleaned.select(col("doc_id"), col("clean_text").as("text")))
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("n_words"))
      val stage3 = cleaned.join(quality, "doc_id")
      val decon = graft.textops.Curate.contamination(
          stage3.select(col("doc_id"), col("clean_text").as("text")),
          docs.filter(col("doc_id") % 41 === 0))
        .filter(!col("contaminated")).select("doc_id")
      val stage4 = stage3.join(decon, "doc_id").localCheckpoint(true)
      val clusters = graft.textops.Dedup.neardupClusters(
        stage4.select(col("doc_id"), col("clean_text").as("text")))
      stage4.join(clusters, "doc_id")
        .filter(col("cluster_id") === col("doc_id"))
        .select("doc_id", "n_words")
    },
      """WITH RECURSIVE
        |u AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY doc_id%250),
        |d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN u USING (doc_id)),
        |w AS (SELECT doc_id, string_split('boiler plate nav menu spam footer links here ' || text, ' ') AS ws FROM d1),
        |c AS (SELECT doc_id, i, array_to_string(ws[(i-1)*8+1:(i-1)*8+8], ' ') AS line
        |      FROM w, UNNEST(generate_series(1, CAST(ceil(len(ws)/8.0) AS BIGINT))) t(i)),
        |f AS (SELECT line, count(DISTINCT doc_id) AS n FROM c GROUP BY line),
        |k AS (SELECT c.doc_id, c.i, c.line FROM c JOIN f USING (line) WHERE f.n < 3),
        |r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY i) AS ct FROM k GROUP BY doc_id),
        |d2 AS (SELECT d1.doc_id, coalesce(r.ct, '') AS ct FROM d1 LEFT JOIN r ON d1.doc_id = r.doc_id),
        |q AS (SELECT doc_id, ct, CAST(len(string_split(ct,' ')) AS BIGINT) AS nw,
        |             CAST(length(ct) - (len(string_split(ct,' ')) - 1) AS BIGINT) AS wc FROM d2),
        |d3 AS (SELECT doc_id, ct, nw FROM q WHERE nw BETWEEN 50 AND 100000 AND wc >= 3*nw AND wc <= 10*nw),
        |bw AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents WHERE doc_id%41=0),
        |bench AS (SELECT DISTINCT array_to_string(ws[1:13],' ') AS gram FROM bw WHERE len(ws)>=13),
        |g3 AS (SELECT doc_id, unnest(CASE WHEN len(string_split(ct,' ')) >= 13
        |              THEN [array_to_string(string_split(ct,' ')[i:i+12],' ') for i in range(1, len(string_split(ct,' '))-11)]
        |              ELSE [] END) AS gram FROM d3),
        |cont AS (SELECT DISTINCT g3.doc_id FROM g3 JOIN bench USING (gram)),
        |d4 AS (SELECT d3.doc_id, d3.ct, d3.nw FROM d3 LEFT JOIN cont ON d3.doc_id = cont.doc_id WHERE cont.doc_id IS NULL),
        |dw AS (SELECT doc_id, string_split(ct,' ') AS w FROM d4),
        |sh AS (SELECT doc_id,
        |              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                   ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM dw),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM sh x, sh y
        |  WHERE x.doc_id < y.doc_id
        |    AND 5*len(list_intersect(x.s, y.s)) >= 4*(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id, doc_id FROM d4
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u),
        |clus AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
        |SELECT d4.doc_id, d4.nw AS n_words
        |FROM d4 JOIN clus ON d4.doc_id = clus.doc_id
        |WHERE clus.cluster_id = d4.doc_id""".stripMargin),
    Q("line_dedup", (s, dir) => {
      // C4-style corpus-frequency line removal: a constant boilerplate line
      // planted into every document must vanish; lines repeated across >= 3
      // docs go with it; each doc reassembles from its surviving lines
      graft.textops.Dedup.lineDedup(
        graft.textops.Dedup.plantBoilerplate(tp(s, dir, "documents")), minCount = 3)
    },
      """WITH w AS (SELECT doc_id, string_split('boiler plate nav menu spam footer links here ' || text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, i, array_to_string(ws[(i-1)*8+1:(i-1)*8+8], ' ') AS line
        |      FROM w, UNNEST(generate_series(1, CAST(ceil(len(ws)/8.0) AS BIGINT))) t(i)),
        |f AS (SELECT line, count(DISTINCT doc_id) AS n FROM c GROUP BY line),
        |k AS (SELECT c.doc_id, c.i, c.line FROM c JOIN f USING (line) WHERE f.n < 3),
        |r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY i) AS clean_text FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin),
    Q("minhash_neardup", (s, dir) => {
      graft.textops.Dedup.minhashPairs(
        graft.textops.Dedup.planted(tp(s, dir, "documents")))
    },
      MinhashNeardupOracleSql),
    Q("host_lang_audit", (s, dir) =>
      // can this domain's declared language label be trusted? per host:
      // detected-vs-declared mismatch count + majority detected language;
      // corpus shuffles once, as (host, lang) counts
      graft.textops.Multilingual.hostLangAudit(tp(s, dir, "documents")),
      // host_lang_audit: the proven lang_id detection chain, joined back to the
      // declared label, rolled up per host with the same (count desc, lang asc)
      // majority tie-break the engine uses.
      """WITH cj AS (SELECT doc_id,
        |              CAST(length(text) AS BIGINT) AS cps,
        |              CAST(len(list_filter(string_split(text,''), c -> unicode(c) BETWEEN 19968 AND 40959)) AS BIGINT) AS cjk
        |            FROM documents),
        |t AS (SELECT doc_id, lower(text) AS lt, string_split(lower(text),' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, [substring(lt, i, 3) for i in range(1, length(lt)-1)] AS tris FROM t),
        |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(3*len(list_filter(toks, w -> w IN ('the','and','of','to','a','in','is','it','that','for'))) + len(list_filter(tris, g -> g IN ('the','ing','ion','and','ent'))) AS BIGINT) AS n_en,
        |  CAST(3*len(list_filter(toks, w -> w IN ('der','die','und','das','ist','nicht','ein','mit','zu','den'))) + len(list_filter(tris, g -> g IN ('sch','ich','ein','cht','und'))) AS BIGINT) AS n_de,
        |  CAST(3*len(list_filter(toks, w -> w IN ('le','la','et','les','des','un','une','est','pour','que'))) + len(list_filter(tris, g -> g IN ('ent','les','ion','que','eur'))) AS BIGINT) AS n_fr,
        |  CAST(3*len(list_filter(toks, w -> w IN ('el','los','las','y','es','una','por','para','con','del'))) + len(list_filter(tris, g -> g IN ('ent','los','cio','ado','que'))) AS BIGINT) AS n_es
        |  FROM s),
        |dd AS (SELECT sc.doc_id,
        |  CASE WHEN cj.cps > 0 AND 5*cj.cjk > cj.cps THEN 'zh'
        |       WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
        |       WHEN n_de >= n_en AND n_de >= n_es AND n_de >= n_fr THEN 'de'
        |       WHEN n_en >= n_es AND n_en >= n_fr THEN 'en'
        |       WHEN n_es >= n_fr THEN 'es' ELSE 'fr' END AS pred
        |  FROM sc JOIN cj ON sc.doc_id = cj.doc_id),
        |j AS (SELECT 'site'||(d.doc_id%7)||'.example.com' AS host, dd.pred,
        |             CASE WHEN dd.pred = d.lang THEN 0 ELSE 1 END AS mism
        |      FROM dd JOIN documents d ON dd.doc_id = d.doc_id),
        |g AS (SELECT host, pred, CAST(count(*) AS BIGINT) AS n, CAST(sum(mism) AS BIGINT) AS m
        |      FROM j GROUP BY host, pred),
        |r AS (SELECT host, pred, n,
        |             sum(n) OVER (PARTITION BY host) AS n_docs,
        |             sum(m) OVER (PARTITION BY host) AS n_mismatch,
        |             row_number() OVER (PARTITION BY host ORDER BY n DESC, pred) AS rn
        |      FROM g)
        |SELECT host, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_mismatch AS BIGINT) AS n_mismatch,
        |       pred AS majority_lang, n AS majority_n
        |FROM r WHERE rn = 1""".stripMargin),
    Q("shard_checksum", (s, dir) =>
      // post-movement integrity audit: per-shard row/byte counts + an
      // order-invariant XOR-of-FNV content checksum (partial-merge-safe, so
      // any layout of the same logical shard agrees)
      graft.textops.Integrity.shardChecksums(tp(s, dir, "documents")),
      // shard_checksum: full FNV-over-text recompute in SQL (the doc_fingerprint
      // HUGEINT chain; %128 low-bits XOR is byte-exact for this ASCII corpus),
      // signed conversion, then the same commutative bit_xor rollup.
      """WITH h AS (
        |  SELECT doc_id % 8 AS shard, CAST(length(text) AS BIGINT) AS bytes,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |                        [unicode(c)::HUGEINT for c in string_split(text, '')]),
        |           (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS hu
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bytes,
        |       bit_xor(CAST(CASE WHEN hu >= (1::HUGEINT << 63) THEN hu - (1::HUGEINT << 64) ELSE hu END AS BIGINT)) AS checksum
        |FROM h GROUP BY shard""".stripMargin),
    Q("cross_corpus_neardup", (s, dir) => {
      // recrawl near-dup gate: light edits of base-corpus content must not
      // pass just because their exact hash changed; verdict per incoming doc
      // (is_neardup + smallest qualifying base id), linear in the snapshot
      val base = tp(s, dir, "documents")
      graft.textops.Dedup.crossCorpusNearDup(
        graft.textops.Dedup.crossSnapshot(base), base)
    },
      // cross_corpus_neardup: exact bipartite ground truth — per incoming doc,
      // any base doc at word-shingle Jaccard >= 4/5 flags it, base_match = the
      // smallest qualifying base id. The engine's band-LSH candidates are
      // complete on this fixture (360/360 qualifying pairs share a band key —
      // tools/crossnear_oracle_check.py), so after verify it equals the exact
      // answer. Validated against an independent Python recompute there too.
      """WITH binc AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |         CASE WHEN doc_id%3=0 THEN text
        |              WHEN doc_id%3=1 THEN substring(text, instr(text,' ')+1)
        |              ELSE array_to_string(['f'||doc_id||'w'||w for w in range(1,21)], ' ') END AS text
        |  FROM documents),
        |shb AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |shi AS (SELECT doc_id, string_split(text,' ') AS w FROM binc),
        |sb AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |                           ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM shb),
        |si AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |                           ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM shi),
        |q AS (SELECT i.doc_id AS a, b.doc_id AS b
        |      FROM si i, sb b
        |      WHERE 5*len(list_intersect(i.s, b.s)) >= 4*(len(i.s)+len(b.s)-len(list_intersect(i.s, b.s))))
        |SELECT i.doc_id,
        |       CAST(CASE WHEN min(q.b) IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_neardup,
        |       coalesce(min(q.b), -1) AS base_match
        |FROM si i LEFT JOIN q ON i.doc_id = q.a
        |GROUP BY i.doc_id""".stripMargin),
    Q("oph_minhash", (s, dir) => {
      // one-permutation-hashing twin of minhash_neardup: same planted corpus,
      // same rational threshold, same exact-pairs oracle — candidates come
      // from ONE mixed hash per shingle (64x cheaper signatures map-side)
      // densified per Shrivastava & Li; completeness on this fixture is
      // verified in tools/oph_oracle_check.py (600/600 exact pairs caught)
      graft.textops.Dedup.ophPairs(
        graft.textops.Dedup.planted(tp(s, dir, "documents")))
    },
      // Same exact all-pairs ground truth as minhash_neardup: the OPH candidate
      // generator is complete on this fixture (600/600 exact pairs share a band
      // key — verified numerically in tools/oph_oracle_check.py), so after the
      // exact-Jaccard verify the output equals the all-pairs answer.
      MinhashNeardupOracleSql),
    Q("simhash_neardup", (s, dir) => {
      // maxHamming = 3 is the guaranteed-recall regime: Manku 3-of-6-block
      // keys (TextHash.simHashKeys) make any pair within hamming distance 3
      // share at least one key (pigeonhole over 6 blocks), so the candidate
      // join is lossless and the output equals all-pairs hamming<=3 — which
      // the DuckDB oracle recomputes bit-for-bit (FNV-1a + sign-bit majority
      // in SQL). Key space is ~2^30 per table, so bucket occupancy stays
      // linear at web scale. Wider radii trade recall for cost and are
      // covered by the ScalaTest recall property.
      graft.textops.Dedup.simhashPairs(
        graft.textops.Dedup.plantedTail(tp(s, dir, "documents")), maxHamming = 3)
    },
      // Bit-exact SimHash recompute in SQL: FNV-1a(64) per token via a
      // HUGEINT list_reduce (mod 2^64, xor on the low 7 ASCII bits), sign-bit
      // majority per bit position, signed-BIGINT reassembly, all-pairs
      // hamming <= 3 (the radius where the Spark chunk-key join is lossless).
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         substring(text, 1, length(text) - instr(reverse(text), ' '))
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM planted),
        |th AS (
        |  SELECT doc_id,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |                        [unicode(c)::HUGEINT for c in string_split(tok, '')]),
        |           (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (th.h // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, range(64) r(b)
        |  GROUP BY doc_id, b),
        |sims AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN v >= (1::HUGEINT << 63) THEN v - (1::HUGEINT << 64) ELSE v END AS BIGINT) AS sim
        |  FROM (SELECT doc_id,
        |               sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS v
        |        FROM bits GROUP BY doc_id))
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
        |FROM sims x, sims y
        |WHERE x.doc_id < y.doc_id AND bit_count(xor(x.sim, y.sim)) <= 3""".stripMargin),
    Q("ngram_jaccard", (s, dir) => {
      graft.textops.Dedup.ngramJaccardPairs(
        graft.textops.Dedup.planted(tp(s, dir, "documents")))
    },
      // Exact char-3-gram Jaccard over the planted corpus. The Spark side
      // reranks MinHash-LSH candidates; at >= 0.8 similarity the 64-perm /
      // 16-band LSH recall is complete on this corpus, so the all-pairs oracle
      // matches. Integer filter 5*inter >= 4*un == inter/un >= 0.8 exactly.
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, instr(text, ' ') + 1) FROM documents),
        |sh AS (SELECT doc_id,
        |              CASE WHEN length(text) < 3 THEN [text]
        |                   ELSE list_distinct([substring(text, i, 3) for i in range(1, length(text) - 1)]) END AS s
        |       FROM planted),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
        |         CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS BIGINT) AS un
        |  FROM sh x, sh y WHERE x.doc_id < y.doc_id)
        |SELECT a, b, inter, un FROM pairs WHERE 5*inter >= 4*un""".stripMargin),
    Q("corpus_filter", (s, dir) => {
      // the flagship training-data composition: language-ID + token-count
      // quality gate + near-dup cluster representative (keep the min doc_id
      // of each >= 0.8-Jaccard component) -> the clean corpus, one row per
      // kept document. Every stage is an already-oracle-checked operator.
      import s.implicits._
      val docs = tp(s, dir, "documents")
      val lang = docs.select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val (l, _, n) = graft.textops.TextHash.langIdDetail(text)
          (id, l, n)
        }.toDF("doc_id", "lang_pred", "n_tokens")
      val clusters = graft.textops.Dedup.neardupClusters(docs)
      docs.select("doc_id")
        .join(lang, "doc_id")
        .join(clusters, "doc_id")
        .filter(col("n_tokens") >= 20 && col("lang_pred") =!= "und" &&
          col("cluster_id") === col("doc_id"))
        .select("doc_id", "lang_pred", "n_tokens", "cluster_id")
    },
      // the composed pipeline oracle: lang scoring + token gate + cluster
      // representative, each piece identical to its standalone validated oracle
      // (lang_id, neardup_clusters) but over the RAW corpus (no planting)
      """WITH RECURSIVE
        |t AS (SELECT doc_id, lower(text) AS lt, string_split(lower(text),' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, [substring(lt, i, 3) for i in range(1, length(lt)-1)] AS tris FROM t),
        |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(3*len(list_filter(toks, w -> w IN ('the','and','of','to','a','in','is','it','that','for'))) + len(list_filter(tris, g -> g IN ('the','ing','ion','and','ent'))) AS BIGINT) AS n_en,
        |  CAST(3*len(list_filter(toks, w -> w IN ('der','die','und','das','ist','nicht','ein','mit','zu','den'))) + len(list_filter(tris, g -> g IN ('sch','ich','ein','cht','und'))) AS BIGINT) AS n_de,
        |  CAST(3*len(list_filter(toks, w -> w IN ('le','la','et','les','des','un','une','est','pour','que'))) + len(list_filter(tris, g -> g IN ('ent','les','ion','que','eur'))) AS BIGINT) AS n_fr,
        |  CAST(3*len(list_filter(toks, w -> w IN ('el','los','las','y','es','una','por','para','con','del'))) + len(list_filter(tris, g -> g IN ('ent','los','cio','ado','que'))) AS BIGINT) AS n_es
        |  FROM s),
        |cj AS (SELECT doc_id,
        |              CAST(length(text) AS BIGINT) AS cps,
        |              CAST(len(list_filter(string_split(text,''), c -> unicode(c) BETWEEN 19968 AND 40959)) AS BIGINT) AS cjk
        |       FROM documents),
        |lang AS (SELECT sc.doc_id,
        |  CASE WHEN cj.cps > 0 AND 5*cj.cjk > cj.cps THEN 'zh'
        |       WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
        |       WHEN n_de >= n_en AND n_de >= n_es AND n_de >= n_fr THEN 'de'
        |       WHEN n_en >= n_es AND n_en >= n_fr THEN 'en'
        |       WHEN n_es >= n_fr THEN 'es' ELSE 'fr' END AS lang_pred,
        |  CASE WHEN cj.cps > 0 AND 5*cj.cjk > cj.cps THEN cj.cps ELSE n_tokens END AS n_tokens
        |  FROM sc JOIN cj ON sc.doc_id = cj.doc_id),
        |dw AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                   ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM dw),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM sh x, sh y
        |  WHERE x.doc_id < y.doc_id
        |    AND 5*len(list_intersect(x.s, y.s)) >= 4*(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u),
        |clus AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
        |SELECT d.doc_id, l.lang_pred, l.n_tokens, c.cluster_id
        |FROM documents d
        |JOIN lang l ON l.doc_id = d.doc_id
        |JOIN clus c ON c.doc_id = d.doc_id
        |WHERE l.n_tokens >= 20 AND l.lang_pred != 'und' AND c.cluster_id = d.doc_id""".stripMargin),
    Q("neardup_clusters", (s, dir) => {
      // connected components over the near-dup graph: cluster_id = min doc_id
      // reachable via >= 0.8-Jaccard pairs (min-label propagation to fixpoint)
      graft.textops.Dedup.neardupClusters(
        graft.textops.Dedup.planted(tp(s, dir, "documents")))
    },
      // transitive closure via recursive CTE: min reachable doc_id over the
      // same all-pairs >= 0.8 word-shingle graph the minhash oracle uses
      """WITH RECURSIVE
        |planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, instr(text, ' ') + 1) FROM documents),
        |d AS (SELECT doc_id, string_split(text,' ') AS w FROM planted),
        |sh AS (SELECT doc_id,
        |              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                   ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM d),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM sh x, sh y
        |  WHERE x.doc_id < y.doc_id
        |    AND 5*len(list_intersect(x.s, y.s)) >= 4*(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id, doc_id FROM planted
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u)
        |SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u""".stripMargin),
    Q("cluster_canonical", (s, dir) =>
      // canonical-document election per near-dup cluster: best stop-ratio
      // score wins (ties to lowest doc_id) — the keep-best-version curation
      // decision, NOT first-crawled-wins; one cluster-grain max(struct) agg,
      // no window, no text past the scan
      graft.textops.Dedup.clusterCanonical(
          graft.textops.Dedup.planted(tp(s, dir, "documents")))
        .orderBy("cluster_id"),
      // cluster_canonical: the neardup_clusters recursive-CTE family plus the
      // text_quality score and a window argmax election; Python-validated at
      // both sfs incl. the discrimination stat (419/476 clusters elect a
      // non-min-id representative) — tools/canonical_oracle_check.py
      """WITH RECURSIVE
        |planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, instr(text, ' ') + 1) FROM documents),
        |d AS (SELECT doc_id, string_split(text,' ') AS w FROM planted),
        |sh AS (SELECT doc_id,
        |              CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |                   ELSE list_distinct([array_to_string(w[i:i+2],' ') for i in range(1, len(w)-1)]) END AS s
        |       FROM d),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM sh x, sh y
        |  WHERE x.doc_id < y.doc_id
        |    AND 5*len(list_intersect(x.s, y.s)) >= 4*(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(u, r) AS (
        |  SELECT doc_id, doc_id FROM planted
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u),
        |c AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
        |q AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a'))) * 1000000
        |                  // len(string_split(text,' ')) AS BIGINT) AS score
        |      FROM planted),
        |j AS (SELECT c.cluster_id, c.doc_id, q.score FROM c JOIN q USING (doc_id)),
        |r AS (SELECT cluster_id, doc_id, score,
        |             row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC) AS rn
        |      FROM j),
        |n AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM j GROUP BY 1)
        |SELECT r.cluster_id, n.n_members, r.doc_id AS rep_doc_id, r.score AS rep_score
        |FROM r JOIN n USING (cluster_id) WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    Q("embedding_neardup", (s, dir) => {
      graft.textops.Ann.nearDupPairs(
        graft.textops.Ann.plantedEmbeddings(tp(s, dir, "embeddings")), threshold = 0.999)
    },
      """WITH all_v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |       round(list_cosine_similarity(x.v, y.v), 6) AS cos
        |FROM all_v x, all_v y
        |WHERE x.vec_id < y.vec_id AND list_cosine_similarity(x.v, y.v) >= 0.999""".stripMargin),
    // model-based quality filter (FineWeb-Edu/DCLM stage): NB probability
    // voting over hashed word buckets + length-bin evidence, trained in ONE
    // distributed agg pass on the 30% slice, broadcast model, map-side score
    Q("quality_classifier", (s, dir) =>
      graft.textops.QualityModel.nbQuality(tp(s, dir, "documents")),
      // quality_classifier: the oracle retrains the whole NB model (FNV word
      // buckets via the cms_freq idiom, decile length bins, add-1-smoothed
      // fixed-point posteriors) and rescores every doc — training and
      // inference both recomputed, validated against a Python recompute.
      ("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |                  CAST(length(text) AS BIGINT) AS c
        |           FROM documents),
        |l AS (SELECT doc_id, CAST(CASE WHEN len(ws) BETWEEN 50 AND 100000
        |                           AND c - (len(ws)-1) BETWEEN 3*len(ws) AND 10*len(ws)
        |                      THEN 1 ELSE 0 END AS BIGINT) AS label FROM d),
        |terms AS (SELECT doc_id, unnest(ws) AS term FROM d),
        |vb AS (SELECT term, CAST(list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |                        [unicode(ch)::HUGEINT for ch in string_split(term, '')]),
        |           (h, x) -> ((h - h % 256 + xor((h % 256)::BIGINT, x::BIGINT)::HUGEINT)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) % 256 AS BIGINT) AS bucket
        |       FROM (SELECT DISTINCT term FROM terms)),
        |f AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |      FROM terms JOIN vb USING (term) GROUP BY doc_id, bucket
        |      UNION ALL
        |      SELECT doc_id, 256 + least(len(ws)//10, 1023), CAST(len(ws) AS BIGINT) FROM d),
        |model AS (SELECT bucket,
        |                 ((sum(CASE WHEN label = 1 THEN cnt ELSE 0 END) + 1) * 4096)
        |                 // (sum(cnt) + 2) AS p1
        |          FROM f JOIN l USING (doc_id) WHERE doc_id % 10 < 3 GROUP BY bucket),
        |sc AS (SELECT f.doc_id,
        |              sum(f.cnt * COALESCE(model.p1, 2048)) // sum(f.cnt) AS score
        |       FROM f LEFT JOIN model USING (bucket) GROUP BY f.doc_id)
        |SELECT sc.doc_id, CAST(score AS BIGINT) AS score,
        |       CAST(CASE WHEN 2*score >= 4096 THEN 1 ELSE 0 END AS BIGINT) AS pred,
        |       l.label
        |FROM sc JOIN l USING (doc_id)""").stripMargin),
    // SemDeDup cluster-then-prune semantic dedup over planted one-dim-zeroed
    // near-twins (not bit-identical — exact/bit-exact dedup both miss them);
    // every drop decision is integer fixed-point, recomputed by the oracle
    Q("semantic_dedup", (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      graft.textops.Ann.semanticDedup(graft.textops.Ann.plantedSemantic(emb))
    },
      // SemDeDup: the oracle rebuilds the planted near-twin corpus (one float
      // zeroed is exact), the stride-seeded quantized centroids, the integer
      // assignment/ordering, and every rational-threshold drop decision
      // bit-for-bit (validated against an independent Python recompute:
      // 452/1000 dropped at sf0.01, zero mismatches).
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT vec_id, v FROM base
        |       UNION ALL
        |       SELECT vec_id + 1000000,
        |              [CASE WHEN d = vec_id % 64 + 1 THEN 0.0 ELSE v[d] END for d in range(1,65)]
        |       FROM base),
        |e AS (SELECT vec_id, [trunc(x*4096)::BIGINT for x in v] AS q FROM pl),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cent AS (SELECT CAST(pos // (ns // 16) AS BIGINT) AS list_id, q AS cq
        |         FROM head, n WHERE pos % (ns // 16) = 0 AND pos // (ns // 16) < 16),
        |dists AS (SELECT e.vec_id, c.list_id,
        |                 list_sum([(e.q[d]-c.cq[d])*(e.q[d]-c.cq[d]) for d in range(1,65)]) AS dist
        |          FROM e, cent c),
        |asn AS (SELECT vec_id, list_id AS cluster, dist AS cdist FROM (
        |          SELECT vec_id, list_id, dist,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS r
        |          FROM dists) WHERE r = 1),
        |eq AS (SELECT e.vec_id, e.q, list_sum([e.q[d]*e.q[d] for d in range(1,65)]) AS nq,
        |              a.cluster, a.cdist
        |       FROM e JOIN asn a USING (vec_id)),
        |pair AS (SELECT a.vec_id,
        |                list_sum([a.q[d]*b.q[d] for d in range(1,65)]) AS dot,
        |                a.nq AS na, b.nq AS nb
        |         FROM eq a JOIN eq b ON a.cluster = b.cluster
        |          AND (b.cdist > a.cdist OR (b.cdist = a.cdist AND b.vec_id < a.vec_id))),
        |dropped AS (SELECT DISTINCT vec_id FROM pair
        |            WHERE dot > 0 AND CAST(dot AS HUGEINT)*dot*25 >= 16::HUGEINT*na*nb)
        |SELECT eq.vec_id, CAST(eq.cluster AS BIGINT) AS cluster, CAST(eq.cdist AS BIGINT) AS cdist,
        |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM eq LEFT JOIN dropped d ON eq.vec_id = d.vec_id""".stripMargin),
    Q("ann_bruteforce", (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.bruteForceTopK(emb, queries, k = 5)
    },
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings ORDER BY vec_id LIMIT 5)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim FROM (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS sim,
        |         row_number() OVER (PARTITION BY q.query_id
        |                            ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
        |                                     e.vec_id) AS rank
        |  FROM q, embeddings e WHERE e.vec_id != q.query_id)
        |WHERE rank <= 5""".stripMargin),
    Q("contrastive_pairs", (s, dir) => {
      // hard-negative mining over the twin-planted corpus: rank-1 non-dup =
      // positive, next 5 = hard negatives; anchor near-dups (the planted
      // exact twins) excluded by the integer rational cosine and reported
      // as role='dup' audit rows
      val emb = graft.textops.Ann.plantedEmbeddings(tp(s, dir, "embeddings"))
      val anchors = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.hardNegatives(emb, anchors, k = 6)
        .orderBy("query_id", "rank", "neighbor_id")
    },
      // contrastive_pairs: ranking by exact double cosine (the ann_bruteforce
      // contract), dup exclusion by integer rational cosine over trunc(x*4096)
      // quantized vectors in HUGEINT — Python-validated 35/35 rows with 5 dup
      // exclusions at sf0.01 and sf0.001 (tools/contrastive_check.py)
      """WITH all_v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v,
        |         [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv, q AS qq FROM all_v ORDER BY vec_id LIMIT 5),
        |p AS (
        |  SELECT qs.query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(qs.qv, e.v) AS rawsim,
        |         list_sum([qs.qq[d] * e.q[d] for d in range(1, len(e.q)+1)])::HUGEINT AS dot,
        |         list_sum([qs.qq[d] * qs.qq[d] for d in range(1, len(qs.qq)+1)])::HUGEINT AS na,
        |         list_sum([e.q[d] * e.q[d] for d in range(1, len(e.q)+1)])::HUGEINT AS nb
        |  FROM qs, all_v e WHERE e.vec_id <> qs.query_id),
        |d AS (SELECT *, CASE WHEN dot > 0 AND dot*dot*1000000 >= 999*999*na*nb
        |                     THEN 1 ELSE 0 END AS isdup FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rawsim DESC, neighbor_id) AS rn
        |      FROM d WHERE isdup = 0)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, round(rawsim, 6) AS sim,
        |       CASE WHEN rn = 1 THEN 'positive' ELSE 'hard_negative' END AS role
        |FROM r WHERE rn <= 6
        |UNION ALL
        |SELECT query_id, neighbor_id, 0, round(rawsim, 6), 'dup' FROM d WHERE isdup = 1
        |ORDER BY query_id, rank, neighbor_id""".stripMargin),
    // ANN LSH/IVF stay genuinely approximate; the oracle recomputes the SAME
    // approximate algorithm bit-for-bit (integer fixed-point bucketing /
    // assignment — see Ann scaladoc) and the `hit` flag is the recall join
    // against brute force (VERDICT r1 item 2)
    Q("ann_lsh", (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.withBruteForceHits(
        graft.textops.Ann.lshTopK(emb, queries, k = 5), emb, queries, k = 5)
    },
      // Bit-exact recompute of the APPROXIMATE LSH ANN: ±1 hyperplane signs
      // (splitmix64 table inlined as a literal, same constants as Ann.signs),
      // integer sign-dot bucketing over trunc(x*4096) fixed-point vectors,
      // 1-bit multiprobe, exact cosine rerank, plus the recall join against the
      // brute-force top-k as the `hit` flag. Validated against an independent
      // Python recompute before wiring (tools/ann_oracle_check.py).
      ("""WITH sg AS (SELECT """ + graft.textops.Ann.signsSqlLiteral() + """::BIGINT[] AS s),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q
        |      FROM embeddings),
        |bits AS (
        |  SELECT vec_id, t, b,
        |         CASE WHEN list_sum([sg.s[(t*6+b)*64 + d] * q[d] for d in range(1,65)]) >= 0
        |              THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bit
        |  FROM e, sg, range(4) rt(t), range(6) rb(b)),
        |eb AS (SELECT vec_id, (t::BIGINT << 32) | sum(bit)::BIGINT AS bucket FROM bits GROUP BY vec_id, t),
        |q5 AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT 5),
        |qbase AS (SELECT query_id, bucket FROM eb JOIN q5 ON eb.vec_id = q5.query_id),
        |qprobe AS (SELECT DISTINCT query_id,
        |                  unnest(list_prepend(bucket, [xor(bucket, (1::BIGINT << b)) for b in range(0,6)])) AS bucket
        |           FROM qbase),
        |cand AS (SELECT DISTINCT query_id, eb.vec_id
        |         FROM qprobe JOIN eb USING (bucket) WHERE eb.vec_id != query_id),
        |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
        |                  list_cosine_similarity(q5.qv, e.v) AS rawsim
        |           FROM cand c JOIN q5 USING (query_id) JOIN e ON e.vec_id = c.vec_id),
        |ranked AS (SELECT query_id, neighbor_id, round(rawsim, 6) AS sim,
        |                  row_number() OVER (PARTITION BY query_id ORDER BY rawsim DESC, neighbor_id) AS rank
        |           FROM scored),
        |bf AS (SELECT query_id, neighbor_id FROM (
        |         SELECT q5.query_id, e.vec_id AS neighbor_id,
        |                row_number() OVER (PARTITION BY q5.query_id
        |                                   ORDER BY list_cosine_similarity(q5.qv, e.v) DESC, e.vec_id) AS r
        |         FROM q5, e WHERE e.vec_id != q5.query_id)
        |       WHERE r <= 5)
        |SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank, r.sim,
        |       CASE WHEN bf.neighbor_id IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END AS hit
        |FROM ranked r LEFT JOIN bf USING (query_id, neighbor_id)
        |WHERE r.rank <= 5""").stripMargin),
    Q("ann_ivf", (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.withBruteForceHits(
        graft.textops.Ann.ivfTopK(emb, queries, k = 5), emb, queries, k = 5)
    },
      // Bit-exact recompute of the APPROXIMATE IVF ANN: stride-seeded quantized
      // centroids, integer squared-L2 list assignment and nprobe=4 probing,
      // exact cosine rerank + brute-force recall join.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |                  [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q
        |           FROM embeddings),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cent AS (SELECT CAST(pos // (ns // 16) AS BIGINT) AS list_id, q AS cq
        |         FROM head, n WHERE pos % (ns // 16) = 0 AND pos // (ns // 16) < 16),
        |dists AS (SELECT e.vec_id, c.list_id,
        |                 list_sum([(e.q[d]-c.cq[d])*(e.q[d]-c.cq[d]) for d in range(1,65)]) AS dist
        |          FROM e, cent c),
        |asn AS (SELECT vec_id, list_id FROM (
        |          SELECT vec_id, list_id,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS r
        |          FROM dists) WHERE r = 1),
        |q5 AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT 5),
        |probe AS (SELECT query_id, list_id FROM (
        |            SELECT q5.query_id, d.list_id,
        |                   row_number() OVER (PARTITION BY q5.query_id ORDER BY d.dist, d.list_id) AS r
        |            FROM q5 JOIN dists d ON d.vec_id = q5.query_id) WHERE r <= 4),
        |cand AS (SELECT DISTINCT p.query_id, a.vec_id
        |         FROM probe p JOIN asn a USING (list_id) WHERE a.vec_id != p.query_id),
        |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
        |                  list_cosine_similarity(q5.qv, e.v) AS rawsim
        |           FROM cand c JOIN q5 USING (query_id) JOIN e ON e.vec_id = c.vec_id),
        |ranked AS (SELECT query_id, neighbor_id, round(rawsim, 6) AS sim,
        |                  row_number() OVER (PARTITION BY query_id ORDER BY rawsim DESC, neighbor_id) AS rank
        |           FROM scored),
        |bf AS (SELECT query_id, neighbor_id FROM (
        |         SELECT q5.query_id, e.vec_id AS neighbor_id,
        |                row_number() OVER (PARTITION BY q5.query_id
        |                                   ORDER BY list_cosine_similarity(q5.qv, e.v) DESC, e.vec_id) AS r
        |         FROM q5, e WHERE e.vec_id != q5.query_id)
        |       WHERE r <= 5)
        |SELECT r.query_id, r.neighbor_id, CAST(r.rank AS INT) AS rank, r.sim,
        |       CASE WHEN bf.neighbor_id IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END AS hit
        |FROM ranked r LEFT JOIN bf USING (query_id, neighbor_id)
        |WHERE r.rank <= 5""".stripMargin),
    Q("cluster_balanced_sample", (s, dir) =>
      // topic-balanced sampling: IVF-cell assignment (integer fixed-point)
      // + Hamilton-exact per-cell quotas + FNV-salted within-cell priority;
      // the diversity counterpart of quality-ranked selection
      graft.textops.Ann.clusterBalancedSample(tp(s, dir, "embeddings"))
        .orderBy("vec_id"),
      // cluster_balanced_sample: ann_ivf's assignment CTEs composed with
      // stratified_sample's Hamilton CTEs, FNV priority over 'cbal:'||vec_id.
      // Python-validated 100/100 at sf0.01 (tools/cbal_oracle_check.py:
      // quotas 4-9 across the 16 cells).
      """WITH e AS (SELECT vec_id, [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q FROM embeddings),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cent AS (SELECT CAST(pos // (ns // 16) AS BIGINT) AS list_id, q AS cq
        |         FROM head, n WHERE pos % (ns // 16) = 0 AND pos // (ns // 16) < 16),
        |dists AS (SELECT e.vec_id, c.list_id,
        |                 list_sum([(e.q[d]-c.cq[d])*(e.q[d]-c.cq[d]) for d in range(1,65)]) AS dist
        |          FROM e, cent c),
        |asn AS (SELECT vec_id, list_id FROM (
        |          SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS r
        |          FROM dists) WHERE r = 1),
        |k AS (SELECT vec_id, list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT,
        |                        [unicode(c)::HUGEINT for c in string_split('cbal:' || vec_id, '')]),
        |           (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |      FROM embeddings),
        |ks AS (SELECT a.vec_id, a.list_id, (k.h % (1::HUGEINT << 32)) AS priority
        |       FROM asn a JOIN k USING (vec_id)),
        |c AS (SELECT list_id, count(*)::BIGINT AS n_cell FROM ks GROUP BY list_id),
        |q AS (SELECT list_id, n_cell,
        |             (100*n_cell)//(sum(n_cell) OVER ()) AS base,
        |             (100*n_cell)%(sum(n_cell) OVER ()) AS rem
        |      FROM c),
        |q2 AS (SELECT list_id, n_cell, base, rem,
        |              100 - sum(base) OVER () AS leftover,
        |              row_number() OVER (ORDER BY rem DESC, list_id) AS seat_rank
        |       FROM q),
        |q3 AS (SELECT list_id, n_cell,
        |              least(base + CASE WHEN seat_rank <= leftover THEN 1 ELSE 0 END, n_cell) AS quota
        |       FROM q2),
        |r AS (SELECT vec_id, list_id, row_number() OVER (PARTITION BY list_id ORDER BY priority, vec_id) AS rnk
        |      FROM ks)
        |SELECT r.vec_id, r.list_id, CAST(r.rnk AS BIGINT) AS rnk,
        |       CAST(q3.quota AS BIGINT) AS quota, q3.n_cell
        |FROM r JOIN q3 USING (list_id) WHERE r.rnk <= q3.quota ORDER BY vec_id""".stripMargin),
    Q("pq_codes", (s, dir) =>
      // product quantization code table: 16 subspaces × 64 codes over the
      // fixed-point vectors (codebook = bounded id-stride sample, broadcast;
      // assignment map-side, zero shuffles). 256 B float vector -> 16 codes.
      graft.textops.Ann.pqCodes(tp(s, dir, "embeddings")),
      // pq_codes: the oracle recomputes the 16×64 stride-seeded codebook and
      // the integer-L2 assignment bit-for-bit (the ann_oracle_check pattern).
      // Python-validated 0/8000 before wiring.
      """WITH e AS (SELECT vec_id, [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q FROM embeddings),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cent AS (SELECT CAST(pos // (ns // 64) AS BIGINT) AS code, q AS cq
        |         FROM head, n WHERE pos % (ns // 64) = 0 AND pos // (ns // 64) < 64),
        |subs AS (SELECT unnest(range(16)) AS sub),
        |dists AS (SELECT e.vec_id, s.sub, c.code,
        |                 list_sum([(e.q[s.sub*4+d]-c.cq[s.sub*4+d])*(e.q[s.sub*4+d]-c.cq[s.sub*4+d]) for d in range(1,5)]) AS dist
        |          FROM e, subs s, cent c)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code, CAST(dist AS BIGINT) AS sqdist FROM (
        |  SELECT vec_id, sub, code, dist,
        |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS r
        |  FROM dists) WHERE r = 1""".stripMargin),
    Q("ann_ivfpq", (s, dir) => {
      // IVF-PQ composition (the production 10^12-vector layout): coarse
      // lists prune the corpus to ~nprobe/nlist, ADC reads 16 code bytes per
      // surviving vector — multiplicative pruning x compression. hit =
      // exact integer-L2 brute-force membership (recall audit).
      val emb = tp(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.withPqHits(
        graft.textops.Ann.ivfPqTopK(emb, queries, k = 5), emb, queries, k = 5)
    },
      // ann_ivfpq: the ann_ivf coarse CTEs (16 stride-seeded lists, 4 probes)
      // composed with the ann_pq ADC CTEs, candidates restricted to probed
      // lists; hit = the same exact integer-L2 brute force. Python-validated
      // 25/25 against a full engine mirror at sf0.01.
      """WITH e AS (SELECT vec_id, [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q FROM embeddings),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cl AS (SELECT CAST(pos // (ns // 16) AS BIGINT) AS list_id, q AS cq
        |       FROM head, n WHERE pos % (ns // 16) = 0 AND pos // (ns // 16) < 16),
        |cdists AS (SELECT e.vec_id, c.list_id,
        |                  list_sum([(e.q[d]-c.cq[d])*(e.q[d]-c.cq[d]) for d in range(1,65)]) AS dist
        |           FROM e, cl c),
        |lasn AS (SELECT vec_id, list_id FROM (
        |           SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, list_id) AS r
        |           FROM cdists) WHERE r = 1),
        |cent AS (SELECT CAST(pos // (ns // 64) AS BIGINT) AS code, q AS cq
        |         FROM head, n WHERE pos % (ns // 64) = 0 AND pos // (ns // 64) < 64),
        |subs AS (SELECT unnest(range(16)) AS sub),
        |dists AS (SELECT e.vec_id, s.sub, c.code,
        |                 list_sum([(e.q[s.sub*4+d]-c.cq[s.sub*4+d])*(e.q[s.sub*4+d]-c.cq[s.sub*4+d]) for d in range(1,5)]) AS dist
        |          FROM e, subs s, cent c),
        |asn AS (SELECT vec_id, sub, code FROM (
        |          SELECT vec_id, sub, code,
        |                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS r
        |          FROM dists) WHERE r = 1),
        |q5 AS (SELECT vec_id AS query_id, q AS qq FROM e ORDER BY vec_id LIMIT 5),
        |probe AS (SELECT query_id, list_id FROM (
        |            SELECT q5.query_id, d.list_id,
        |                   row_number() OVER (PARTITION BY q5.query_id ORDER BY d.dist, d.list_id) AS r
        |            FROM q5 JOIN cdists d ON d.vec_id = q5.query_id) WHERE r <= 4),
        |cand AS (SELECT DISTINCT p.query_id, a.vec_id
        |         FROM probe p JOIN lasn a USING (list_id) WHERE a.vec_id != p.query_id),
        |qd AS (SELECT q5.query_id, s.sub, c.code,
        |              list_sum([(q5.qq[s.sub*4+d]-c.cq[s.sub*4+d])*(q5.qq[s.sub*4+d]-c.cq[s.sub*4+d]) for d in range(1,5)]) AS d
        |       FROM q5, subs s, cent c),
        |adc AS (SELECT cand.query_id, cand.vec_id, sum(qd.d) AS adist
        |        FROM cand JOIN asn a ON a.vec_id = cand.vec_id
        |                  JOIN qd ON qd.query_id = cand.query_id AND qd.sub = a.sub AND qd.code = a.code
        |        GROUP BY cand.query_id, cand.vec_id),
        |ranked AS (SELECT query_id, vec_id AS neighbor_id, CAST(adist AS BIGINT) AS adist,
        |                  row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
        |           FROM adc),
        |bf AS (SELECT query_id, neighbor_id FROM (
        |         SELECT q5.query_id, e.vec_id AS neighbor_id,
        |                row_number() OVER (PARTITION BY q5.query_id
        |                  ORDER BY list_sum([(q5.qq[d]-e.q[d])*(q5.qq[d]-e.q[d]) for d in range(1,65)]), e.vec_id) AS r
        |         FROM q5, e WHERE e.vec_id != q5.query_id)
        |       WHERE r <= 5)
        |SELECT r.query_id, r.neighbor_id, CAST(r.rank AS BIGINT) AS rank, r.adist,
        |       CASE WHEN bf.neighbor_id IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END AS hit
        |FROM ranked r LEFT JOIN bf USING (query_id, neighbor_id)
        |WHERE r.rank <= 5""".stripMargin),
    Q("ann_pq", (s, dir) => {
      // PQ asymmetric-distance ANN: per-query 16×64 integer LUT broadcast;
      // the scan scores vectors by summing table lookups over their codes —
      // reads 16 code bytes/vec, never the raw embedding. hit = membership
      // in the exact integer-L2 brute-force top-k (the recall audit).
      val emb = tp(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      graft.textops.Ann.withPqHits(
        graft.textops.Ann.pqTopK(emb, queries, k = 5), emb, queries, k = 5)
    },
      // ann_pq: ADC = per-(query,sub,code) LUT join against the code table,
      // exact brute-force integer L2 as the hit ground truth. Integer
      // fixed-point end to end. Python-validated 0/25 (recall 9/25 on these
      // structureless uniform embeddings — the audit column, not a target).
      """WITH e AS (SELECT vec_id, [trunc(x*4096)::BIGINT for x in CAST(embedding AS DOUBLE[])] AS q FROM embeddings),
        |head AS (SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS pos FROM e QUALIFY pos < 10000),
        |n AS (SELECT count(*) AS ns FROM head),
        |cent AS (SELECT CAST(pos // (ns // 64) AS BIGINT) AS code, q AS cq
        |         FROM head, n WHERE pos % (ns // 64) = 0 AND pos // (ns // 64) < 64),
        |subs AS (SELECT unnest(range(16)) AS sub),
        |dists AS (SELECT e.vec_id, s.sub, c.code,
        |                 list_sum([(e.q[s.sub*4+d]-c.cq[s.sub*4+d])*(e.q[s.sub*4+d]-c.cq[s.sub*4+d]) for d in range(1,5)]) AS dist
        |          FROM e, subs s, cent c),
        |asn AS (SELECT vec_id, sub, code FROM (
        |          SELECT vec_id, sub, code,
        |                 row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS r
        |          FROM dists) WHERE r = 1),
        |q5 AS (SELECT vec_id AS query_id, q AS qq FROM e ORDER BY vec_id LIMIT 5),
        |qd AS (SELECT q5.query_id, s.sub, c.code,
        |              list_sum([(q5.qq[s.sub*4+d]-c.cq[s.sub*4+d])*(q5.qq[s.sub*4+d]-c.cq[s.sub*4+d]) for d in range(1,5)]) AS d
        |       FROM q5, subs s, cent c),
        |adc AS (SELECT qd.query_id, a.vec_id, sum(qd.d) AS adist
        |        FROM asn a JOIN qd ON qd.sub = a.sub AND qd.code = a.code
        |        WHERE a.vec_id != qd.query_id
        |        GROUP BY qd.query_id, a.vec_id),
        |ranked AS (SELECT query_id, vec_id AS neighbor_id, CAST(adist AS BIGINT) AS adist,
        |                  row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
        |           FROM adc),
        |bf AS (SELECT query_id, neighbor_id FROM (
        |         SELECT q5.query_id, e.vec_id AS neighbor_id,
        |                row_number() OVER (PARTITION BY q5.query_id
        |                  ORDER BY list_sum([(q5.qq[d]-e.q[d])*(q5.qq[d]-e.q[d]) for d in range(1,65)]), e.vec_id) AS r
        |         FROM q5, e WHERE e.vec_id != q5.query_id)
        |       WHERE r <= 5)
        |SELECT r.query_id, r.neighbor_id, CAST(r.rank AS BIGINT) AS rank, r.adist,
        |       CASE WHEN bf.neighbor_id IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END AS hit
        |FROM ranked r LEFT JOIN bf USING (query_id, neighbor_id)
        |WHERE r.rank <= 5""".stripMargin),
    Q("multimodal_frames", (s, dir) => {
      // REAL frame extraction: video-like payloads (concatenated complete
      // PNGs) split on parsed container boundaries, every 2nd frame kept,
      // each sampled frame ImageIO-decoded for its exact pixel sum
      graft.textops.Multimodal.frameFeatures(
        graft.textops.Multimodal.frameSample(
          graft.textops.Multimodal.mediaWithFrames(tp(s, dir, "documents")))).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"), max("frame_idx").as("last_frame"),
          sum("px_sum").as("px_sum"))
    },
      // the oracles below recompute the generator's pixel function per pixel —
      // the Spark side must decode the SAME values out of real PNG bytes via
      // ImageIO, so any codec/CRC/deflate defect breaks the hash
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id%5 AS BIGINT) AS nf FROM documents),
        |     f AS (SELECT doc_id, unnest(range(0, nf)) AS fr FROM d),
        |     s AS (SELECT doc_id, fr,
        |                  CAST(list_sum([ CAST(((doc_id*31 + 17*fr)%256 + 7*(i%8) + 13*(i//8)) % 256 AS BIGINT)
        |                                  for i in range(0, 48) ]) AS BIGINT) AS fsum
        |           FROM f WHERE fr % 2 = 0)
        |SELECT doc_id, count(*) AS n_frames, CAST(max(fr) AS INT) AS last_frame,
        |       CAST(sum(fsum) AS BIGINT) AS px_sum
        |FROM s GROUP BY doc_id""".stripMargin),
    // character-level verification of dedup candidate pairs: banded (Ukkonen
    // cutoff) Levenshtein at pair grain — planted sparse-edit twins pass the
    // 20% gate, successor-twin decoys are rejected at the cap
    Q("edit_verify", (s, dir) =>
      graft.textops.EditDistance.verifyPairs(tp(s, dir, "documents"))
        .orderBy("a", "b"),
      // edit_verify: the oracle regrows the sparse-edit twins (every 16th word
      // -> 'e'||i) with an indexed list comprehension and recomputes the CAPPED
      // distance via least(levenshtein, maxlen//5 + 1) — bit-equal to the
      // banded kernel by the cap contract. Python-validated 999/999 at sf0.01
      // (tools/edit_oracle_check.py: 500 twins dup, 499 decoys rejected).
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tw AS (SELECT doc_id + 1000000 AS doc_id,
        |  array_to_string([CASE WHEN (i-1)%16 = 3 THEN 'e'||(i-1) ELSE ws[i] END
        |                   for i in range(1, len(ws)+1)], ' ') AS text FROM w),
        |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tw),
        |cand AS (SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |         UNION ALL SELECT doc_id AS a, doc_id + 1000001 AS b FROM documents),
        |j AS (SELECT c.a, c.b, x.text AS ta, y.text AS tb
        |      FROM cand c JOIN corpus x ON x.doc_id = c.a JOIN corpus y ON y.doc_id = c.b)
        |SELECT a, b,
        |  CAST(least(levenshtein(ta, tb), greatest(length(ta), length(tb)) // 5 + 1) AS BIGINT) AS edit_dist,
        |  CAST(greatest(length(ta), length(tb)) AS BIGINT) AS max_len,
        |  5 * least(levenshtein(ta, tb), greatest(length(ta), length(tb)) // 5 + 1)
        |    <= greatest(length(ta), length(tb)) AS is_dup
        |FROM j ORDER BY a, b""".stripMargin),
    Q("dedup_normalized", (s, dir) => {
      // normalize-then-dedup composition: the messy corpus unioned with its
      // clean twins dedups on text_normalize output — NBSP/CR/zero-width
      // variants unify (raw dedup would fragment them), NFC-composed accents
      // stay distinct from their unaccented originals. Narrow (xxhash64,
      // length) grouping keys: normalized text never shuffles (dedup_exact's
      // documented collision tradeoff)
      val docs = tp(s, dir, "documents")
      val messy = graft.textops.TextNorm.plantMessy(docs)
        .select(col("doc_id"), col("raw").as("t"))
      val twins = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text").as("t"))
      messy.unionByName(twins)
        .select(col("doc_id"),
          graft.expr.Kernel.TextNormalize(col("t")).as("norm"))
        .groupBy(xxhash64(col("norm")), length(col("norm")))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    },
      // dedup_normalized: same messy fixture + clean twins, grouped on the
      // oracle-side normalization chain (the engine's hash keys carry
      // dedup_exact's collision tradeoff); 375 pairs merge, accent class stays
      """WITH m AS (SELECT doc_id,
        |  CASE doc_id%4
        |    WHEN 0 THEN replace(text, 'e', 'e' || chr(769))
        |    WHEN 1 THEN replace(text, ' ', chr(160))
        |    WHEN 2 THEN chr(13) || replace(text, ' ', '  ') || '  '
        |    ELSE chr(8203) || text || chr(65279)
        |  END AS raw FROM documents),
        |a AS (SELECT doc_id, raw AS t FROM m
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(nfc_normalize(t), chr(160), ' '), chr(8203), ''), chr(65279), ''), chr(13), ''),
        |    ' +', ' ', 'g')) AS norm FROM a)
        |SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM n GROUP BY norm ORDER BY keep_id""".stripMargin),
    Q("dup_spans", (s, dir) => {
      // exact-substring dedup stats (Lee et al.): per-doc coverage by word
      // 20-grams shared with ANY other document; gram text never shuffles
      // (8-byte xxhash64 keys), interval union via the sorted-gap identity
      graft.textops.DupSpans.dupSpans(
        graft.textops.DupSpans.plantDisclaimer(tp(s, dir, "documents")))
        .orderBy("doc_id")
    },
      // dup_spans: full recompute by gram TEXT (the engine's 64-bit hash keys
      // carry dedup_exact's documented collision tradeoff); coverage via the
      // same sorted-gap window identity; planted 26-word licence disclaimer on
      // doc_id%3==0 plus whatever naturally-duplicated texts the corpus holds
      (DupSpansHeadSql +
        graft.textops.DupSpans.Disclaimer +
        """' ELSE text END AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t,' ') AS ws FROM d),
        |b AS (SELECT doc_id, len(ws) AS total_words, ws FROM w),
        |g0 AS (SELECT doc_id, total_words,
        |         CASE WHEN total_words >= 20
        |              THEN [{'pos': i - 1, 'gram': array_to_string(ws[i:i+19],' ')} for i in range(1, total_words - 18)]
        |              ELSE [] END AS gs FROM b),
        |g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
        |df AS (SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id) GROUP BY gram HAVING count(*) >= 2),
        |ds AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)),
        |cov0 AS (SELECT doc_id, pos, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 20) AS gap FROM ds),
        |cov AS (SELECT doc_id, count(*) AS n_dup_grams, sum(least(gap, 20)) AS covered FROM cov0 GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.total_words AS BIGINT) AS total_words,
        |       CAST(greatest(b.total_words - 19, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(cov.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_words,
        |       CAST(CASE WHEN b.total_words > 0 THEN (coalesce(cov.covered,0) * 10000) // b.total_words ELSE 0 END AS BIGINT) AS dup_frac_bp
        |FROM b LEFT JOIN cov USING (doc_id) ORDER BY b.doc_id""".stripMargin)),
    Q("dup_span_removal", (s, dir) => {
      // the EXCISION stage of exact-substring dedup (Lee et al. ExactSubstr
      // policy: every occurrence of a cross-doc duplicate 20-gram is cut,
      // merged intervals excised, survivors re-joined) — dup_spans measures,
      // this rewrites; rebuild is one aggregate() lambda per doc, no UDF
      graft.textops.DupSpans.dupSpanRemoval(
        graft.textops.DupSpans.plantDisclaimer(tp(s, dir, "documents")))
        .orderBy("doc_id")
    },
      // dup_span_removal: full recompute by gram TEXT; interval merge via the
      // same sorted-island window identity the engine uses, then the clean
      // text is rebuilt from the gap slices (string_agg ORDER BY gap start).
      // Validated against an independent pure-Python excision recompute
      // (tools pattern; 198 docs touched / 6937 words removed at sf0.01).
      (DupSpansHeadSql +
        graft.textops.DupSpans.Disclaimer +
        """' ELSE text END AS t FROM documents),
        |w AS (SELECT doc_id, string_split(t,' ') AS ws FROM d),
        |b AS (SELECT doc_id, len(ws) AS total_words, ws FROM w),
        |g0 AS (SELECT doc_id, total_words,
        |         CASE WHEN total_words >= 20
        |              THEN [{'pos': i - 1, 'gram': array_to_string(ws[i:i+19],' ')} for i in range(1, total_words - 18)]
        |              ELSE [] END AS gs FROM b),
        |g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
        |df AS (SELECT gram FROM (SELECT gram, doc_id FROM g GROUP BY gram, doc_id) GROUP BY gram HAVING count(*) >= 2),
        |ds AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)),
        |m0 AS (SELECT doc_id, pos,
        |         CASE WHEN pos > coalesce(max(pos+20) OVER (PARTITION BY doc_id ORDER BY pos
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk FROM ds),
        |m1 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM m0),
        |iv AS (SELECT doc_id, isl, min(pos) AS s, max(pos)+20 AS e FROM m1 GROUP BY doc_id, isl),
        |rem AS (SELECT doc_id, sum(e-s) AS removed FROM iv GROUP BY doc_id),
        |lastg AS (SELECT iv.doc_id, max(iv.e) AS gs, any_value(b.total_words) AS ge
        |          FROM iv JOIN b ON iv.doc_id=b.doc_id GROUP BY iv.doc_id),
        |gaps AS (SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs, s AS ge FROM iv
        |         UNION ALL SELECT doc_id, gs, ge FROM lastg),
        |pieces AS (SELECT gaps.doc_id, gaps.gs, array_to_string(b.ws[gaps.gs+1:gaps.ge], ' ') AS piece
        |           FROM gaps JOIN b ON gaps.doc_id=b.doc_id WHERE gaps.ge > gaps.gs),
        |clean AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY gs) AS clean_text FROM pieces GROUP BY doc_id)
        |SELECT b.doc_id,
        |       CAST(b.total_words AS BIGINT) AS total_words,
        |       CAST(coalesce(rem.removed,0) AS BIGINT) AS removed_words,
        |       CAST(b.total_words - coalesce(rem.removed,0) AS BIGINT) AS kept_words,
        |       CASE WHEN rem.removed IS NULL THEN array_to_string(b.ws, ' ')
        |            ELSE coalesce(clean.clean_text, '') END AS clean_text
        |FROM b LEFT JOIN rem USING (doc_id) LEFT JOIN clean USING (doc_id) ORDER BY b.doc_id""".stripMargin)),
    Q("text_normalize", (s, dir) => {
      // NFC + NBSP/zero-width/CR cleanup + space collapse over planted messy
      // text, via the codegen Catalyst Expression (no ScalaUDF boundary) —
      // the canonical-bytes pass every exact-match op depends on
      val raw = graft.textops.TextNorm.plantMessy(tp(s, dir, "documents"))
      raw.select(col("doc_id"),
          graft.expr.Kernel.TextNormalize(col("raw")).as("text_norm"))
        .withColumn("n_chars", length(col("text_norm")).cast("long"))
        .orderBy("doc_id")
    },
      // text_normalize: the same messy-fixture arithmetic (decomposed accents,
      // NBSP, CR/double-space, ZWSP..BOM wrap) re-planted in SQL, then DuckDB's
      // nfc_normalize + the identical cleanup chain
      """WITH m AS (SELECT doc_id,
        |  CASE doc_id%4
        |    WHEN 0 THEN replace(text, 'e', 'e' || chr(769))
        |    WHEN 1 THEN replace(text, ' ', chr(160))
        |    WHEN 2 THEN chr(13) || replace(text, ' ', '  ') || '  '
        |    ELSE chr(8203) || text || chr(65279)
        |  END AS raw FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(nfc_normalize(raw), chr(160), ' '), chr(8203), ''), chr(65279), ''), chr(13), ''),
        |    ' +', ' ', 'g')) AS text_norm,
        |  CAST(length(trim(regexp_replace(
        |    replace(replace(replace(replace(nfc_normalize(raw), chr(160), ' '), chr(8203), ''), chr(65279), ''), chr(13), ''),
        |    ' +', ' ', 'g'))) AS BIGINT) AS n_chars
        |FROM m ORDER BY doc_id""".stripMargin),
    Q("doc_fingerprint", (s, dir) => {
      import s.implicits._
      tp(s, dir, "documents").select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val (grams, fp) = graft.textops.TextHash.winnow(text)
          (id, fp, grams.size.toLong)
        }
        .toDF("doc_id", "fingerprint", "n_grams")
    },
      // Bit-exact winnowing recompute: FNV-1a over each 8-gram, signed-Long
      // window(4) minima, distinct + signed sort, FNV-style fold. The 128-bit
      // xor identity: for 64-bit operands sign-extended to HUGEINT, the low 64
      // bits of the xor are the 64-bit xor and the CASE +2^64 re-normalizes.
      """WITH gl AS (
        |  SELECT doc_id, length(text) - 7 AS n,
        |         [substring(text, i, 8) for i in range(1, length(text) - 6)] AS gs
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, n, i0 AS i,
        |         CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT) AS g
        |  FROM (SELECT doc_id, n, generate_subscripts(gs, 1) AS i0,
        |               list_reduce(
        |                 list_prepend(14695981039346656037::HUGEINT,
        |                              [unicode(c)::HUGEINT for c in string_split(unnest(gs), '')]),
        |                 (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                            * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |        FROM gl) t0),
        |minima AS (
        |  SELECT doc_id, i, n,
        |         min(g) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM grams),
        |sel AS (
        |  SELECT doc_id, list_sort(list(DISTINCT m)) AS sels
        |  FROM minima WHERE i + 4 <= n + 1
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |       CAST(CASE WHEN f >= (1::HUGEINT << 63) THEN f - (1::HUGEINT << 64) ELSE f END AS BIGINT) AS fingerprint,
        |       CAST(len(sels) AS BIGINT) AS n_grams
        |FROM (
        |  SELECT doc_id, sels,
        |         list_reduce(
        |           list_prepend(14695981039346656037::HUGEINT, sels::HUGEINT[]),
        |           (h, g) -> ((CASE WHEN xor(CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT), g) < 0
        |                            THEN xor(CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT), g)::HUGEINT + (1::HUGEINT << 64)
        |                            ELSE xor(CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT), g)::HUGEINT END)
        |                      * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS f
        |  FROM sel) t1
        |UNION ALL
        |SELECT doc_id, CAST(-3750763034362895579 AS BIGINT) AS fingerprint, CAST(0 AS BIGINT) AS n_grams
        |FROM documents WHERE length(text) BETWEEN 8 AND 10
        |UNION ALL
        |SELECT doc_id,
        |       CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT) AS fingerprint,
        |       CAST(1 AS BIGINT) AS n_grams
        |FROM (SELECT doc_id,
        |             list_reduce(
        |               list_prepend(14695981039346656037::HUGEINT,
        |                            [unicode(c)::HUGEINT for c in string_split(text, '')]),
        |               (h, b) -> ((h - h % 128 + xor((h % 128)::BIGINT, b::BIGINT)::HUGEINT)
        |                          * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |      FROM documents WHERE length(text) BETWEEN 1 AND 7) t2
        |UNION ALL
        |SELECT doc_id, CAST(-3750763034362895579 AS BIGINT), CAST(1 AS BIGINT)
        |FROM documents WHERE length(text) = 0""".stripMargin),
    // containment near-dup (Broder's asymmetric twin of Jaccard): bottom-k
    // KMV sketch candidates with a hot-bucket cap, exact hash-array verify —
    // flags the planted predecessor-quote docs as subset duplicates
    Q("containment_dedup", (s, dir) =>
      graft.textops.Containment.containmentPairs(
          graft.textops.Containment.plantQuotes(tp(s, dir, "documents")))
        .orderBy("a", "b"),
      // containment_dedup: the oracle recomputes the ENTIRE approximate
      // pipeline bit-for-bit — FNV-1a gram keys (63-bit masked, ASCII fold),
      // bottom-6 sketch probed into the FULL gram index (the asymmetric
      // candidate rule), ≤64-doc key cap, exact list_intersect verify.
      // Python-validated 81/81 pairs at sf0.01, 87/87 at sf0.001, all 56
      // planted quote pairs surfaced (tools/containment_check.py)
      """WITH base AS (SELECT doc_id, text FROM documents),
        |p AS (SELECT b.doc_id,
        |        CASE WHEN b.doc_id%9=2 AND pv.text IS NOT NULL THEN pv.text || ' ' || b.text ELSE b.text END AS text
        |      FROM base b LEFT JOIN base pv ON pv.doc_id = b.doc_id - 1),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM p),
        |gt AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+4],' ') for i in range(1, len(ws)-3)]) AS grams
        |       FROM w WHERE len(ws) >= 5),
        |g AS (SELECT doc_id, list_sort(list_distinct(
        |        [ (list_reduce(list_prepend(14695981039346656037::HUGEINT,
        |             [unicode(c)::HUGEINT for c in string_split(x,'')]),
        |             (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT<<64))
        |            % (1::HUGEINT<<63))::BIGINT
        |          for x in grams ])) AS gh
        |      FROM gt),
        |ge AS (SELECT doc_id, unnest(gh) AS s FROM g),
        |sk AS (SELECT doc_id, unnest(gh[1:6]) AS s FROM g),
        |ok AS (SELECT s FROM ge GROUP BY s HAVING count(*) <= 64),
        |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS a, greatest(x.doc_id, y.doc_id) AS b
        |         FROM sk x JOIN ok USING (s) JOIN ge y ON x.s = y.s AND x.doc_id <> y.doc_id),
        |v AS (SELECT c.a, c.b,
        |        CAST(len(list_intersect(ga.gh, gb.gh)) AS BIGINT) AS inter,
        |        CAST(len(ga.gh) AS BIGINT) AS na, CAST(len(gb.gh) AS BIGINT) AS nb
        |      FROM cand c JOIN g ga ON ga.doc_id=c.a JOIN g gb ON gb.doc_id=c.b)
        |SELECT a, b, inter, na, nb,
        |       (inter*10000)//na AS cont_a, (inter*10000)//nb AS cont_b,
        |       CAST(CASE WHEN inter*10 >= na*9 OR inter*10 >= nb*9 THEN 1 ELSE 0 END AS BIGINT) AS contained
        |FROM v ORDER BY a, b""".stripMargin),
    Q("cdc_chunks", (s, dir) =>
      // content-defined chunking: rolling-window-hash boundaries (avg ~8
      // tokens), ONE map stage — the shift-resistant dedup grain
      graft.textops.Cdc.chunks(tp(s, dir, "documents"))
        .toDF().orderBy("doc_id", "chunk_idx"),
      // cdc_chunks / cdc_shift_dedup: per-token FNV-1a (char-wise list_reduce,
      // the doc_fingerprint precedent), window key = 3/5/7/11-weighted HUGEINT
      // combine, boundary when key % 8 = 0, chunk hash = FNV of the rebuilt
      // chunk string. Python-validated at both sfs (tools/cdc_check.py).
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
        |th AS (SELECT doc_id, ws, [list_reduce(list_prepend(14695981039346656037::HUGEINT, [unicode(c)::HUGEINT for c in string_split(t,'')]), (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) for t in ws] AS hs FROM tk),
        |bd AS (SELECT doc_id, ws, len(ws) AS n,
        |         [i for i in range(4, len(ws))
        |          if (hs[i-3]*3 + hs[i-2]*5 + hs[i-1]*7 + hs[i]*11) % 8 = 0] AS bs
        |       FROM th),
        |ck AS (SELECT doc_id, n, ws,
        |         list_prepend(1, [b + 1 for b in bs]) AS ss,
        |         list_append(bs, n) AS es
        |       FROM bd),
        |cr AS (SELECT doc_id, i - 1 AS cidx, ss[i] AS s, es[i] AS e,
        |         array_to_string(ws[ss[i]:es[i]], ' ') AS cs
        |       FROM ck, UNNEST(generate_series(1, len(ss))) t(i)),
        |chash AS (SELECT doc_id, cidx, s, e, list_reduce(list_prepend(14695981039346656037::HUGEINT, [unicode(c)::HUGEINT for c in string_split(cs,'')]), (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h FROM cr)
        |SELECT doc_id, CAST(cidx AS BIGINT) AS chunk_idx, CAST(s - 1 AS BIGINT) AS start_tok,
        |       CAST(e - s + 1 AS BIGINT) AS n_tokens,
        |       CAST(CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64) ELSE h END AS BIGINT) AS chunk_hash
        |FROM chash ORDER BY doc_id, chunk_idx""".stripMargin),
    Q("cdc_shift_dedup", (s, dir) =>
      // shift-resistance report over planted one-token-prefix twins: CDC
      // chunks re-sync after the first boundary (high shared bp), the
      // same-mean fixed stride shares ~nothing; narrow (id, hash) shuffles
      graft.textops.Cdc.shiftReport(
        graft.textops.Cdc.plantShifted(tp(s, dir, "documents")))
        .orderBy("doc_id"),
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'banner' || (doc_id % 5) || ' ' || text FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
        |th AS (SELECT doc_id, ws, [list_reduce(list_prepend(14695981039346656037::HUGEINT, [unicode(c)::HUGEINT for c in string_split(t,'')]), (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) for t in ws] AS hs FROM tk),
        |bd AS (SELECT doc_id, ws, len(ws) AS n,
        |         [i for i in range(4, len(ws))
        |          if (hs[i-3]*3 + hs[i-2]*5 + hs[i-1]*7 + hs[i]*11) % 8 = 0] AS bs
        |       FROM th),
        |ck AS (SELECT doc_id, n, ws,
        |         list_prepend(1, [b + 1 for b in bs]) AS ss,
        |         list_append(bs, n) AS es
        |       FROM bd),
        |cr AS (SELECT doc_id, i - 1 AS cidx, ss[i] AS s, es[i] AS e,
        |         array_to_string(ws[ss[i]:es[i]], ' ') AS cs
        |       FROM ck, UNNEST(generate_series(1, len(ss))) t(i)),
        |chash AS (SELECT doc_id, cidx, s, e, list_reduce(list_prepend(14695981039346656037::HUGEINT, [unicode(c)::HUGEINT for c in string_split(cs,'')]), (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h FROM cr),
        |fx AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT, [unicode(c)::HUGEINT for c in string_split(array_to_string(ws[(i*8+1):least((i+1)*8, len(ws))], ' '),'')]), (h,b) -> ((h - h%128 + xor((h%128)::BIGINT, b::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % (1::HUGEINT << 64)) AS h
        |       FROM tk, UNNEST(generate_series(0, (len(ws) - 1) // 8)) t(i)),
        |cs AS (SELECT DISTINCT doc_id % 1000000 AS base_id,
        |              CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END AS it, h FROM chash),
        |ca AS (SELECT base_id, h, max(it) AS mt, min(it) AS ms FROM cs GROUP BY base_id, h),
        |cdc AS (SELECT base_id, CAST(sum(mt) AS BIGINT) AS n_cdc,
        |               CAST(sum(CASE WHEN mt=1 AND ms=0 THEN 1 ELSE 0 END) AS BIGINT) AS shared_cdc
        |        FROM ca GROUP BY base_id),
        |fs AS (SELECT DISTINCT doc_id % 1000000 AS base_id,
        |              CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END AS it, h FROM fx),
        |fa AS (SELECT base_id, h, max(it) AS mt, min(it) AS ms FROM fs GROUP BY base_id, h),
        |fxd AS (SELECT base_id, CAST(sum(mt) AS BIGINT) AS n_fixed,
        |               CAST(sum(CASE WHEN mt=1 AND ms=0 THEN 1 ELSE 0 END) AS BIGINT) AS shared_fixed
        |        FROM fa GROUP BY base_id)
        |SELECT cdc.base_id AS doc_id, n_cdc, shared_cdc,
        |       CAST(shared_cdc * 10000 // n_cdc AS BIGINT) AS cdc_share_bp,
        |       n_fixed, shared_fixed,
        |       CAST(shared_fixed * 10000 // n_fixed AS BIGINT) AS fixed_share_bp
        |FROM cdc JOIN fxd ON cdc.base_id = fxd.base_id
        |ORDER BY doc_id""".stripMargin)
  )
}
