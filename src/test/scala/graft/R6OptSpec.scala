package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization pins: the blocked convergence witness + static loop
  * plans must keep job counts bounded, and the unboxed shingle hot path must
  * be value-identical to the Set formulation. */
class R6OptSpec extends AnyFunSuite {
  import SparkSuite._

  test("wordShingleArr/charShingleArr are the sorted distinct twins of the Set shingles") {
    import graft.textops.TextHash
    val texts = Seq(
      "", " ", "one", "one two", "one two three four five",
      "a a a a a", "tab\tsep and nbsp words here",
      "unicode éé café 中文 words mixed in text",
      "x " * 200 + "tail", "hy-\nphen line\nbreaks in here too")
    for (t <- texts) {
      val arr = TextHash.wordShingleArr(t)
      // sorted + distinct
      assert(arr.toSeq == arr.toSeq.distinct.sorted, s"not sorted-distinct for '$t'")
      // identical value set as the ORIGINAL formulation: fnv64 over the
      // space-joined token windows
      val toks = pageplus.model.PyStr.split(t)
      val expected =
        if (toks.size < 3) Set(TextHash.fnv64(toks.mkString(" ")))
        else toks.sliding(3).map(w => TextHash.fnv64(w.mkString(" "))).toSet
      assert(arr.toSet == expected, s"hash set diverged for '$t'")
      val carr = TextHash.charShingleArr(t)
      val cexp =
        if (t.length < 3) Set(TextHash.fnv64(t))
        else (0 to t.length - 3).map(i => TextHash.fnv64(t.substring(i, i + 3))).toSet
      assert(carr.toSet == cexp, s"char hash set diverged for '$t'")
    }
    // intersectSize == set intersection size
    val a = TextHash.wordShingleArr("w1 w2 w3 w4 w5 w6 w7")
    val b = TextHash.wordShingleArr("w2 w3 w4 w5 w6 w7 w8")
    assert(TextHash.intersectSize(a, b) == (a.toSet intersect b.toSet).size.toLong)
  }

  test("rankConverged: blocked witness + static loop plans keep the job count bounded") {
    // pre-r6 a converged run was ~300 jobs (~10 per round under AQE stage
    // materialization); the blocked witness (every 5 rounds) + AQE-off loop
    // compilation must keep it an order of magnitude lower. The sf0.001
    // graph converges in <= 29 rounds like every test SF.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val jobs = jobCount {
      val got = graft.webtext.HostRank.rankConverged(graft.webtext.HostRank.hostEdges(docs))
      assert(got.count() == 7)
    }
    assert(jobs <= 120,
      s"rankConverged spawned $jobs jobs — blocked witness / static loop plans regressed")
    // and AQE must be restored for the session
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("minLabelPropagation blocked witness: converges on a diameter-3 chain, labels exact") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 = the witness block size): min label must
    // reach the far end and the blocked witness must still detect the fixed
    // point (identity rounds past convergence)
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val got = graft.textops.Dedup.minLabelPropagation(edges, maxRounds = 6)
    assert(got.isDefined)
    val labels = got.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    got.get.unpersist()
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
