package graft.textops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BPE tokenizer training — learn the top merge rules from the corpus, the
  * way production tokenizer trainers actually do it at scale: ONE corpus-
  * grain pass builds the (word, frequency) vocabulary table, then every merge
  * round runs at VOCABULARY grain (~10^7 rows at web scale, orders of
  * magnitude below the corpus), so the expensive data is touched exactly
  * once. Each round: adjacent-pair counts weighted by word frequency (every
  * adjacent position counts — standard BPE), argmax merge with deterministic
  * (count DESC, left ASC, right ASC) tie-breaking, then a greedy-left fold
  * re-tokenizes the vocab (a merged token cannot re-merge with its right
  * neighbor in the same round).
  *
  * The per-round argmax is a 1-row driver collect (the Lloyd-iteration
  * precedent); rounds are a fixed small count. State between rounds is the
  * re-tokenized vocab Dataset, cached per round with the predecessor
  * unpersisted — vocabulary-sized, never corpus-sized.
  *
  * Semantics shared verbatim with `tools/bpe_oracle_check.py`, the
  * independent recompute that derives the pinned oracle (iterative
  * argmax-dependent state is not one SQL statement — the geometry-oracle
  * precedent: pin the independently derived result, document the harness).
  */
object BpeTrain {

  /** Greedy-left application of merge (a, b) to a token list. */
  def foldMerge(tokens: List[String], a: String, b: String): List[String] = {
    val out = List.newBuilder[String]
    var t = tokens
    while (t.nonEmpty) {
      t match {
        case x :: y :: rest if x == a && y == b =>
          out += (a + b); t = rest
        case x :: rest =>
          out += x; t = rest
      }
    }
    out.result()
  }

  /** Learn `rounds` merges. Output: (rank, left_tok, right_tok, freq). */
  def train(docs: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= 64)
    val spark = docs.sparkSession
    import spark.implicits._
    val wordFreq = docs.select(explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
    // Round state rides a LAZY localCheckpoint chain (r6): the re-tokenized
    // vocab is materialized by the NEXT round's argmax job instead of a
    // dedicated count() pin — 1 job per round, not 2, with the cache+
    // unpersist bookkeeping (and its CacheManager re-registration trap)
    // gone. Plan depth stays constant (each round plans against the previous
    // round's LogicalRDD); checkpoint blocks are host-local and freed by the
    // ContextCleaner when the loop drops them. Bit-identical merges.
    // No lineage backs a local checkpoint: a round's blocks evicted or lost
    // before the next round reads them cannot be recomputed; that job fails.
    var vocab: Dataset[(List[String], Long)] =
      wordFreq.map { case (w, f) => (w.toList.map(_.toString), f) }.localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val counts = vocab.flatMap { case (toks, f) =>
        toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => (a, b, f) }
      }.toDF("a", "b", "f").groupBy("a", "b").agg(sum("f").as("cnt"))
      val top = counts.orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, c))
        if (r < rounds)
          vocab = vocab.map { case (toks, f) => (foldMerge(toks, a, b), f) }
            .localCheckpoint(false)
      }
    }
    merges.result().toDF("rank", "left_tok", "right_tok", "freq")
      .select(col("rank").cast("long").as("rank"), col("left_tok"),
        col("right_tok"), col("freq"))
  }

  /** The rank-ordered merge table [[train]] learns on the test corpus (the
    * `bpe_train` fixture result, re-derivable with
    * `tools/bpe_oracle_check.py`). Used as the FIXED parameter of the
    * `bpe_encode` query: APPLYING a given merge table is sf-agnostic even
    * though learning one is not, so the encode oracle stays a pure recompute
    * at any scale factor (no sf-pinned constants). */
  val FixtureMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** Tokenizer APPLY — the counterpart of [[train]] and the pipeline stage
    * that actually prices a corpus in tokens (packing budgets, fertility
    * audits, cost estimates). Per-doc word and token counts under the given
    * rank-ordered merge rules.
    *
    * Encoding runs at VOCABULARY grain: one corpus pass builds the
    * (doc, word, count) table, the distinct-word vocab (≪ corpus; AQE reuses
    * the (doc,word) exchange for the distinct, the tfidf df-from-tf move) is
    * encoded with the broadcast merge list — one greedy-left [[foldMerge]]
    * pass per rule in rank order, the exact train-time fold — and joined
    * back on the word key (vocab NOT broadcast-assumed at web scale: a
    * 10^7-row vocab shuffle-joins, the tfidf precedent) before a doc-grain
    * rollup. The corpus text is touched exactly once.
    *
    * Output: (doc_id, n_words, n_tokens); fertility = n_tokens / n_words. */
  def encode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toList)
    val dw = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    // The c >= 1 filter is vacuously true but the optimizer cannot prove it,
    // so the vocab branch must consume the count — without it, column
    // pruning collapses distinct-on-w straight onto the explode, the two
    // exchange subtrees stop canonicalizing identically, and the corpus
    // explode physically runs twice (the exact tfidf df-from-tf trap;
    // single-Generate plan pinned in SessionOps5Spec).
    val vocabTok = dw.where(col("c") >= 1).select("w").distinct().as[String]
      .map { w =>
        var toks = w.toList.map(_.toString)
        bc.value.foreach { case (a, b) => toks = foldMerge(toks, a, b) }
        (w, toks.length.toLong)
      }.toDF("w", "ntok")
    dw.join(vocabTok, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("ntok")).as("n_tokens"))
  }
}
