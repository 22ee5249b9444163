package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r5 item 1: distinct-text hot LSH band buckets. A templated family
  * of K DISTINCT texts (shared boilerplate, one varying word) collides in
  * band buckets by design; the uncapped self-join would emit K^2/2 candidate
  * rows before verification. These tests plant a 5000-member family and pin:
  *   - pair mode emits at most cap^2/2 pairs per bucket (HotBandCap = 256);
  *   - the neardupClusters star mode emits a LINEAR spanning set, measured
  *     with a shuffle-record listener (the no-silent-caps evidence);
  *   - hotBandStats reports the over-cap buckets (the audit surface);
  *   - clustering output is still one family component.
  * The Hamming path (SimHash, image aHash, audio prints) runs through the
  * same capped join at HotSimKeyCap, after collapsing identical hashes.
  */
class HotBandSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  private val K = 5000
  // 40 shared words + one unique tail word: ~38 of ~39 shingles shared, so
  // family members are near-identical but pairwise DISTINCT texts
  private lazy val family = {
    val base = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    spark.range(1, K + 1).select(col("id").as("doc_id"),
      concat(lit(base + " uniq"), col("id").cast("string")).as("text"))
      .repartition(16)
  }

  test("pair mode: over-cap bucket emission is capped at cap^2/2 per bucket, never K^2") {
    val cand = textops.Dedup.bandCandidates(family)
    val n = cand.count()
    val capPairs = textops.Dedup.HotBandCap.toLong * (textops.Dedup.HotBandCap - 1) / 2
    // all 16 bands keep the cap-smallest ids, so the distinct union stays at
    // most a small multiple of one bucket's cap^2/2 (equal if all bands agree)
    assert(n >= capPairs / 2 && n <= 16 * capPairs,
      s"capped emission out of range: $n pairs (cap^2/2 = $capPairs)")
    assert(n < K.toLong * (K - 1) / 4, s"quadratic emission: $n pairs for $K docs")
  }

  test("hotBandStats reports the over-cap buckets — the no-silent-cap audit surface") {
    val stats = textops.Dedup.hotBandStats(
      textops.Dedup.minhashBands(family), textops.Dedup.HotBandCap).collect()
    assert(stats.nonEmpty, "expected at least one over-cap bucket for the planted family")
    assert(stats.forall(_.getLong(1) > textops.Dedup.HotBandCap))
    assert(stats.exists(_.getLong(1) >= K / 2),
      s"expected a family-sized bucket, got ${stats.map(_.getLong(1)).mkString(",")}")
  }

  test("star mode (neardupClusters path): linear candidate emission, one family component") {
    var nStar = 0L
    val records = shuffleRecords { nStar = textops.Dedup.bandCandidates(family, hotStar = true).count() }
    // star edges: bucket-min -> member per band; distinct union is ~K-1
    assert(nStar <= 16L * K && nStar >= K - 1,
      s"star emission not linear-shaped: $nStar for $K docs")
    // generous LINEAR budget: 16 band rows/doc + window + join + distinct
    // stages; the quadratic join would shuffle >= K^2/4 = 6.25M records
    assert(records < 60L * K, s"shuffle records $records exceed the linear budget for $K docs")

    val clusters = textops.Dedup.neardupClusters(family)
    val labels = clusters.select("cluster_id").distinct().collect().map(_.getLong(0))
    assert(labels.length == 1 && labels(0) == 1L,
      s"family must collapse to one component rooted at doc 1, got ${labels.take(5).mkString(",")}")
  }

  test("Hamming keys: an over-cap family of distinct hashes emits at most cap^2/2 pairs per key") {
    // K distinct fingerprints that differ only in Manku block 3 (bits 33-43,
    // 11 bits, so id << 33 is distinct for K < 2048): the 10 keys built from
    // the other blocks are K-member buckets, the 10 keys through block 3 hold
    // one member each
    val k = 2000
    val reps = spark.range(1, k + 1).select(col("id").as("doc_id"), shiftleft(col("id"), 33).as("h"))
    val cap = textops.Dedup.HotSimKeyCap
    val hot = textops.Dedup.hotBandStats(textops.Dedup.hammingBands(reps, 3), cap).collect()
    assert(hot.length == 10 && hot.forall(_.getLong(1) == k),
      s"expected 10 K-member keys, got ${hot.map(_.getLong(1)).mkString(",")}")
    val n = textops.Dedup.hammingCandidates(reps, 3).count()
    // every hot key keeps the same cap smallest ids, so the distinct union is
    // exactly one key's cap^2/2 — never the K^2/2 of the uncapped join
    assert(n == cap.toLong * (cap - 1) / 2, s"capped emission: $n pairs (cap = $cap, K = $k)")
  }

  test("Hamming pairs: N copies of one hash give N(N-1)/2 pairs at hamming 0; the key join sees one rep") {
    val n = 2000
    val hashed = spark.range(1, n + 1).select(col("id").as("doc_id"), lit(0x5eedL).as("h"))
    val pairs = textops.Dedup.hammingPairs(hashed, 3)
    var count = 0L
    val records = shuffleRecords { count = pairs.count() }
    assert(count == n.toLong * (n - 1) / 2)
    assert(pairs.filter(col("hamming") =!= 0L).isEmpty)
    // linear budget: the collapse window and the member expansion joins move
    // each doc a few times; the key join moves the representative's 20 keys.
    // Without the collapse, the key rows alone would be 20 * N.
    assert(records < 10L * n, s"shuffle records $records exceed the linear budget for $n copies")
  }

  test("small corpora stay under every cap: capped join == uncapped join (planted sf0.001)") {
    def uncapped(bands: DataFrame) = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    def sameRows(x: DataFrame, y: DataFrame) = x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    val raw = spark.read.parquet(s"$sf/documents.parquet").repartition(8)
    val docs = textops.Dedup.planted(raw)
    val (reps, _) = textops.Dedup.textGroups(docs)
    val bands = textops.Dedup.minhashBands(reps)
    assert(textops.Dedup.hotBandStats(bands, textops.Dedup.HotBandCap).isEmpty,
      "test-SF buckets must stay under HotBandCap (cap chosen to be inactive)")
    assert(sameRows(textops.Dedup.bandCandidates(reps), uncapped(bands)),
      "capped candidates must be bit-identical to the uncapped join below the cap")
    // the Hamming keys of the three fingerprint queries' inputs, at
    // representative grain
    Seq(
      "simhash" -> textops.Dedup.simhashes(textops.Dedup.plantedTail(raw)),
      "image" -> textops.Multimodal.imageHashes(textops.Multimodal.mediaWithNearTwins(raw)),
      "audio" -> textops.Multimodal.audioHashes(textops.Multimodal.mediaWithAudioTwins(raw))
    ).foreach { case (name, hashed) =>
      val (hreps, _) = textops.Dedup.hashGroups(hashed)
      val keys = textops.Dedup.hammingBands(hreps, 3)
      assert(textops.Dedup.hotBandStats(keys, textops.Dedup.HotSimKeyCap).isEmpty,
        s"$name: test-SF keys must stay under HotSimKeyCap")
      assert(sameRows(textops.Dedup.hammingCandidates(hreps, 3).select("a", "b"), uncapped(keys)),
        s"$name: capped candidates must equal the uncapped key join below the cap")
    }
  }
}
