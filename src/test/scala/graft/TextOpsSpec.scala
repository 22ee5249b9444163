package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.textops._

object TextHashSpec {
  /** Exact Jaccard of two sorted distinct shingle arrays. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = TextHash.intersectSize(a, b)
    inter.toDouble / (a.length + b.length - inter)
  }
}

class TextHashSpec extends AnyFunSuite {
  import TextHashSpec.jaccard

  test("jaccard of planted variant (drop first word) is (n-3)/(n-2) for distinct shingles") {
    val words = (1 to 20).map("w" + _)
    val t1 = words.mkString(" ")
    val t2 = words.drop(1).mkString(" ")
    val j = jaccard(TextHash.wordShingleArr(t1), TextHash.wordShingleArr(t2))
    assert(math.abs(j - 17.0 / 18.0) < 1e-9)
  }
  test("minhash estimate approximates true jaccard") {
    val t1 = (1 to 50).map("w" + _).mkString(" ")
    val t2 = (3 to 50).map("w" + _).mkString(" ")
    val est = TextHash.estimateJaccard(
      TextHash.minHashSignature(TextHash.wordShingleArr(t1)),
      TextHash.minHashSignature(TextHash.wordShingleArr(t2)))
    val truth = jaccard(TextHash.wordShingleArr(t1), TextHash.wordShingleArr(t2))
    assert(math.abs(est - truth) < 0.25, s"est=$est truth=$truth")
  }
  test("band keys collide for identical signatures and docs share bands at high sim") {
    val sig = TextHash.minHashSignature(TextHash.wordShingleArr("a b c d e f"))
    assert(TextHash.bandKeys(sig).sameElements(TextHash.bandKeys(sig.clone())))
  }
  test("simhash hamming small for near-identical, large for unrelated") {
    val a = (1 to 40).map("w" + _).mkString(" ")
    val b = (1 to 39).map("w" + _).mkString(" ") // drop last word
    val c = (100 to 140).map("x" + _).mkString(" ")
    assert(java.lang.Long.bitCount(TextHash.simHash(a) ^ TextHash.simHash(b)) <= 12)
    assert(java.lang.Long.bitCount(TextHash.simHash(a) ^ TextHash.simHash(c)) > 12)
  }
  test("simHashKeys are lossless at hamming <= 3 (every <=3-bit flip shares a key)") {
    // deterministic exhaustive-ish sweep: seeds from splitmix64, flips over
    // positions derived from the seed — no RNG state, fully reproducible
    for (s <- 0 until 200) {
      val h = TextHash.splitmix64(0xfeed0000L + s)
      val flips = (0 until 3).map(i =>
        (TextHash.splitmix64(h + i) & 0x3f).toInt).distinct // 1-3 distinct positions
      val h2 = flips.foldLeft(h)((x, b) => x ^ (1L << b))
      val shared = TextHash.simHashKeys(h).toSet.intersect(TextHash.simHashKeys(h2).toSet)
      assert(shared.nonEmpty, s"seed $s: flips $flips must share a key")
    }
    // sanity: 20 keys, distinct table tags
    assert(TextHash.simHashKeys(0L).length == 20)
    assert(TextHash.simHashKeys(0x123456789abcdefL).map(_ >>> 34).distinct.length == 20)
  }

  test("winnow fingerprint deterministic and locally stable") {
    val (g1, f1) = TextHash.winnow("the quick brown fox jumps over the lazy dog")
    val (g2, f2) = TextHash.winnow("the quick brown fox jumps over the lazy dog")
    assert(f1 == f2 && g1 == g2 && g1.nonEmpty)
  }
  test("langId picks the profile language deterministically") {
    assert(TextHash.langId("the cat and the dog of the house")._1 == "en")
    assert(TextHash.langId("der hund und die katze ist nicht da")._1 == "de")
    assert(TextHash.langId("")._1 == "und")
  }
}

class AnnUnitSpec extends AnyFunSuite {
  test("cosine basics") {
    assert(Ann.cosine(Array(1f, 0f), Array(1f, 0f)) == 1.0)
    assert(math.abs(Ann.cosine(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
    assert(Ann.cosine(Array(2f, 0f), Array(1f, 0f)) == 1.0) // scale invariant
  }
  test("lsh bucket identical for identical vectors, probes include base bucket") {
    val v = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    assert(Ann.lshBucket(v) == Ann.lshBucket(v.clone()))
    assert(Ann.probeBuckets(v).head == Ann.lshBucket(v))
    assert(Ann.probeBuckets(v).size == Ann.LshTables * (Ann.LshBits + 1))
  }
}

class DedupSparkSpec extends AnyFunSuite {
  import SparkSuite._

  test("minhash_neardup finds every planted pair with jaccard >= 0.8") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = textops.Dedup.minhashPairs(textops.Dedup.planted(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = docs.count()
    val planted = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + textops.Dedup.PlantOffset)).toSet
    val found = planted.intersect(pairs)
    assert(found.size >= (nDocs * 0.98).toInt, s"recall ${found.size}/$nDocs")
  }

  test("oph signature: bins are floorMod of the mixed hash, empties densify from the right donor") {
    import textops.TextHash
    val sh = Array(1L, 2L, 3L, 42L, -17L)
    val sig = TextHash.ophSignature(sh)
    assert(sig.length == TextHash.OphBins)
    assert(sig sameElements TextHash.ophSignature(sh), "deterministic")
    // recompute expected: per-bin signed min of splitmix64, then rotation borrow
    val filled = Array.fill[Option[Long]](TextHash.OphBins)(None)
    sh.foreach { s =>
      val h = TextHash.splitmix64(s)
      val b = java.lang.Math.floorMod(h, TextHash.OphBins.toLong).toInt
      if (filled(b).forall(h < _)) filled(b) = Some(h)
    }
    (0 until TextHash.OphBins).foreach { b =>
      filled(b) match {
        case Some(v) => assert(sig(b) == v, s"bin $b real value")
        case None =>
          val d = (1 until TextHash.OphBins)
            .find(j => filled((b + j) % TextHash.OphBins).isDefined).get
          val donor = filled((b + d) % TextHash.OphBins).get
          assert(sig(b) == donor + 0x9e3779b97f4a7c15L * d, s"bin $b borrow")
      }
    }
    // identical sets -> identical band keys; disjoint-ish sets differ somewhere
    assert(TextHash.ophBandKeys(sig) sameElements TextHash.ophBandKeys(TextHash.ophSignature(sh)))
    val other = TextHash.ophSignature(Array(900L, 901L, 902L, 903L))
    assert(!(other sameElements sig))
  }

  test("oph_minhash equals minhash_neardup (and the exact answer) on the planted corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val planted = textops.Dedup.planted(docs)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val oph = pairSet(textops.Dedup.ophPairs(planted))
    val mh = pairSet(textops.Dedup.minhashPairs(planted))
    assert(oph == mh, s"generators disagree: oph-only=${(oph -- mh).take(3)} mh-only=${(mh -- oph).take(3)}")
  }

  test("oph mega-group: representative-grain candidates stay near-linear") {
    import spark.implicits._
    val dupText = (1 to 30).map("m" + _).mkString(" ")
    val copies = (1L to 1000L).map(i => (i, dupText))
    val others = (1L to 10L).map(i => (5000L + i, (1 to 30).map(w => s"o${i}w$w").mkString(" ")))
    val docs = (copies ++ others).toDF("doc_id", "text")
    val (reps, _) = textops.Dedup.textGroups(docs)
    val cand = textops.Dedup.bandCandidates(reps, textops.Dedup.OphKeys).count()
    assert(cand < 100, s"rep-level OPH candidates must be near-linear, got $cand")
  }

  test("cross_corpus_neardup truth table: exact copy and light edit flagged, fresh text passes") {
    import spark.implicits._
    val base = Seq(
      (1L, (1 to 20).map("a" + _).mkString(" ")),
      (2L, (1 to 20).map("b" + _).mkString(" ")),
      (3L, (1 to 20).map("c" + _).mkString(" "))).toDF("doc_id", "text")
    val incoming = Seq(
      (101L, (1 to 20).map("a" + _).mkString(" ")),          // exact copy of 1
      (102L, (2 to 20).map("b" + _).mkString(" ")),          // light edit of 2
      (103L, (1 to 20).map("z" + _).mkString(" "))).toDF("doc_id", "text") // new
    val got = textops.Dedup.crossCorpusNearDup(incoming, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((101L, 1L, 1L), (102L, 1L, 2L), (103L, 0L, -1L)))
  }

  test("cross_corpus_neardup: identical incoming mega-group stays linear, every member flagged") {
    import spark.implicits._
    val t = (1 to 30).map("m" + _).mkString(" ")
    val base = Seq((1L, t)).toDF("doc_id", "text")
    val incoming = (101L to 1100L).map(i => (i, t)).toDF("doc_id", "text")
    val df = textops.Dedup.crossCorpusNearDup(incoming, base)
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") && !fin.contains("BroadcastNestedLoop"), fin)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 1000 && rows.forall(r => r._2 == 1L && r._3 == 1L))
  }

  test("simhash_neardup finds planted tail-variant pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = textops.Dedup.simhashPairs(textops.Dedup.plantedTail(docs), 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + textops.Dedup.PlantOffset)).toSet
    val recall = planted.intersect(pairs).size.toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall") // whole-word edits can flip >12 of 64 bits on short docs
  }

  test("neardup_clusters unites a transitive chain whose endpoints are NOT a direct pair") {
    import spark.implicits._
    // t_k drops the last word of t_{k-1}: adjacent jaccard ~0.94 (>= 0.8),
    // but J(t1, t6) = 13/18 < 0.8 — only transitivity links the endpoints
    val words = (1 to 20).map("w" + _)
    val chain = (0 to 5).map(k => (k.toLong + 1, words.dropRight(k).mkString(" ")))
    val lone = Seq((100L, (1 to 20).map("z" + _).mkString(" ")))
    val docs = (chain ++ lone).toDF("doc_id", "text")
    // direct-pair sanity: endpoints below threshold
    val j16 = TextHashSpec.jaccard(
      textops.TextHash.wordShingleArr(chain.head._2), textops.TextHash.wordShingleArr(chain.last._2))
    assert(j16 < 0.8, s"chain endpoints must not be a direct pair, j=$j16")
    val got = textops.Dedup.neardupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 6L).foreach(id => assert(got(id) == 1L, s"doc $id should join cluster 1"))
    assert(got(100L) == 100L)
  }

  test("neardup_clusters puts every planted twin in its base doc's cluster") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = textops.Dedup.neardupClusters(textops.Dedup.planted(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(got.size == 2 * ids.length)
    ids.foreach { id =>
      assert(got(id + textops.Dedup.PlantOffset) == got(id), s"twin of $id split from base")
    }
  }

  test("exact-duplicate mega-group: candidate generation is linear, output still pair-complete") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1000 identical docs: a raw band self-join would emit C(1000,2)=499500
    // candidates in one bucket; representative-grain candidates stay tiny
    val dupText = (1 to 30).map("m" + _).mkString(" ")
    val copies = (1L to 1000L).map(i => (i, dupText))
    val others = (1L to 10L).map(i => (5000L + i, (1 to 30).map(w => s"o${i}w$w").mkString(" ")))
    val docs = (copies ++ others).toDF("doc_id", "text")
    val (reps, members) = textops.Dedup.textGroups(docs)
    assert(reps.count() == 11 && members.count() == 1010)
    val cand = textops.Dedup.bandCandidates(reps).count()
    assert(cand < 100, s"rep-level candidates must be near-linear, got $cand")
    // member-level output is still pair-complete with exact payloads
    val pairs = textops.Dedup.minhashPairs(docs)
    val within = pairs.filter(col("b") <= 1000)
    assert(within.count() == 1000L * 999 / 2)
    assert(within.filter(col("inter") =!= col("un")).count() == 0, "identical texts must have inter == un")
    val sim = textops.Dedup.simhashPairs(docs, 3).filter(col("b") <= 1000)
    assert(sim.count() == 1000L * 999 / 2)
    assert(sim.filter(col("hamming") =!= 0).count() == 0)
  }

  test("large/small-star converges in O(log n) rounds on a deep chain, labels = component min") {
    import spark.implicits._
    val n = 1024
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)) ++ Seq((2000L, 2001L))
    val (labels, rounds) = textops.Dedup.connectedComponentsStar(edges.toDF("src", "dst"))
    assert(rounds <= 24, s"expected O(log n) ~ 10-20 rounds for a 1024-chain, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to n).foreach(i => assert(got(i.toLong) == 1L, s"node $i"))
    assert(got(2001L) == 2000L && got(2000L) == 2000L)
  }

  test("short-doc fallback: identical <3-token texts pair via the singleton shingle, different ones don't") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd")).toDF("doc_id", "text")
    val pairs = textops.Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pairs == Set((1L, 2L, 1L, 1L)), s"got $pairs")
  }

  test("large/small-star equals a union-find oracle on random graphs (all shapes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(50)
      val nodes = (1 to n).map(i => (i + 1) * 10L) // non-contiguous ids
      val edges = (1 to n).map { _ =>
        (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // union-find oracle
        val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
        def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
        val touched = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
        val expect = touched.map(x => x -> find(x)).toMap
        val (labels, rounds) = textops.Dedup.connectedComponentsStar(edges.toDF("src", "dst"))
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"trial $trial (n=$n, rounds=$rounds)")
      }
    }
  }

  test("neardupClusters via the star fallback (starAfter=0) equals the propagation path") {
    val docs = textops.Dedup.planted(spark.read.parquet(s"$sf/documents.parquet"))
    val a = textops.Dedup.neardupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = textops.Dedup.neardupClusters(docs, starAfter = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("embedding_neardup finds all planted identical-vector pairs at cos 1.0") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = textops.Ann.nearDupPairs(textops.Ann.plantedEmbeddings(emb), 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = emb.select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + textops.Dedup.PlantOffset)).toSet
    assert(planted.subsetOf(pairs), s"missing ${(planted -- pairs).take(3)}")
  }

  test("embedding mega-group: 1k identical vectors collapse before the bucket join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1000 bit-identical vectors: the pre-r3 bucket self-join emitted
    // C(1000,2) pairs through the cosine stage; rep-grain keeps that linear
    val v = Array.tabulate(8)(i => (i + 1).toFloat)
    val copies = (1L to 1000L).map(i => (i, v))
    val others = (1L to 5L).map(i => (5000L + i, Array.tabulate(8)(d => (i * 31 + d).toFloat)))
    val emb = (copies ++ others).toDF("vec_id", "embedding")
    val (reps, members) = textops.Ann.vectorGroups(emb)
    assert(reps.count() == 6 && members.count() == 1005)
    val cand = textops.Ann.repBucketCandidates(reps).count()
    assert(cand < 30, s"rep-level candidates must be near-linear, got $cand")
    // member-level output still pair-complete: all within pairs at cos 1.0
    val pairs = textops.Ann.nearDupPairs(emb, 0.999)
    val within = pairs.filter(col("b") <= 1000)
    assert(within.count() == 1000L * 999 / 2)
    assert(within.filter(col("cos") =!= 1.0).count() == 0, "identical vectors must have cos 1.0")
  }

  test("semantic_dedup: exact rational boundary at cos = 3/5 (no float in the decision)") {
    import spark.implicits._
    // quantized (5,0) and (3,4): dot=15, na=nb=25, cos exactly 3/5
    val emb = Seq(
      (1L, Array(5f / 4096f, 0f)),
      (2L, Array(3f / 4096f, 4f / 4096f))).toDF("vec_id", "embedding")
    val at = textops.Ann.semanticDedup(emb, nlist = 1, thresholdNum = 3, thresholdDen = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // centroid = first vector; (3,4) is farther (cdist 20) so it is kept and
    // the centroid-closer (5,0) is pruned at cos >= 3/5 (inclusive)
    assert(at == Map(1L -> 0L, 2L -> 1L), s"at threshold: $at")
    val above = textops.Ann.semanticDedup(emb, nlist = 1, thresholdNum = 3001, thresholdDen = 5000)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(above == Map(1L -> 1L, 2L -> 1L), s"just above threshold: $above")
  }

  test("semantic_dedup equals an independent driver-side greedy recompute at sf0.001") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val planted = textops.Ann.plantedSemantic(emb)
    val got = textops.Ann.semanticDedup(planted)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent recompute: same contract, different formulation (greedy
    // scan per cluster instead of the pair join)
    val vecs = planted.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(x => (x.toDouble * 4096.0).toLong))
      .sortBy(_._1)
    val head = vecs.take(10000)
    val stride = head.length / 16
    val cents = Array.tabulate(16)(i => head(i * stride)._2)
    def sqd(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val asn = vecs.map { case (id, q) =>
      val ds = cents.zipWithIndex.map { case (c, i) => (sqd(q, c), i) }.min
      id -> ((ds._2.toLong, ds._1))
    }.toMap
    val nq = vecs.map { case (id, q) => id -> q.map(x => x * x).sum }.toMap
    val byVec = vecs.toMap
    val expect = vecs.groupBy { case (id, _) => asn(id)._1 }.flatMap { case (_, ms) =>
      val order = ms.map(_._1).sortBy(id => (-asn(id)._2, id))
      order.zipWithIndex.map { case (a, i) =>
        val dropped = order.take(i).exists { b =>
          val dot = byVec(a).zip(byVec(b)).map { case (x, y) => x * y }.sum
          dot > 0 && BigInt(dot) * dot * 25 >= BigInt(16) * nq(a) * nq(b)
        }
        a -> (if (dropped) 0L else 1L)
      }.toSeq
    }
    assert(got.size == expect.size)
    got.foreach { case (id, (cl, cd, kept)) =>
      assert(cl == asn(id)._1 && cd == asn(id)._2 && kept == expect(id), s"vec $id")
    }
    val nDropped = got.values.count(_._3 == 0L)
    assert(nDropped > 300, s"planted twins must mostly drop, got $nDropped")
    // the self-join must stay an equi-join on cluster — never a cartesian
    val plan = textops.Ann.semanticDedup(planted).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "within-cluster pair join must key on cluster")
  }

  test("semantic_dedup kmeans quantizer: planted twins still drop; pair verdicts agree with the seeded default") {
    // VERDICT r4 stretch 8: the Lloyd-refined quantizer must be a drop-in —
    // same prune core, different centroids. The decision that matters
    // (planted one-dim-zeroed twin PAIRS get collapsed) must hold under BOTH
    // quantizers and must largely AGREE across them. Raw dropped-set overlap
    // is the WRONG metric here: SemDeDup keeps the farthest-from-centroid
    // member of each duplicate neighborhood, so WHICH twin survives flips
    // with the centroid array (~coin flip per pair — measured dropped-set
    // Jaccard ~0.51 between quantizers while pair verdicts agree). This pins
    // pair-verdict agreement, the recall floor for both variants, and the
    // equi-join contract, so a refactor that silently degrades one variant
    // fails fast.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val planted = textops.Ann.plantedSemantic(emb)
    val baseIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    def dropped(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().filter(_.getLong(3) == 0L).map(_.getLong(0)).toSet
    def collapsedPairs(d: Set[Long]): Set[Long] =
      baseIds.filter(id => d.contains(id) || d.contains(id + textops.Dedup.PlantOffset))
    val dSeed = dropped(textops.Ann.semanticDedup(planted))
    val dKm = dropped(textops.Ann.semanticDedupKmeans(planted))
    val cSeed = collapsedPairs(dSeed)
    val cKm = collapsedPairs(dKm)
    assert(cSeed.size > (baseIds.size * 9) / 10,
      s"seeded must collapse nearly all planted pairs, got ${cSeed.size}/${baseIds.size}")
    assert(cKm.size > (baseIds.size * 9) / 10,
      s"kmeans must collapse nearly all planted pairs, got ${cKm.size}/${baseIds.size}")
    val agree = (cSeed intersect cKm).size.toDouble / math.max((cSeed union cKm).size, 1)
    assert(agree > 0.9, s"pair verdicts must largely agree across quantizers, jaccard=$agree")
    // equi-join contract holds for the kmeans variant as well
    val plan = textops.Ann.semanticDedupKmeans(planted).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "within-cluster pair join must key on cluster")
  }

  test("hard-negative mining: dup twins excluded, positive is the best non-dup, negatives follow") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val planted = textops.Ann.plantedEmbeddings(emb)
    val all = planted.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val anchors = all.toSeq.sortBy(_._1).take(5).toMap
    val got = textops.Ann.hardNegatives(planted, anchors, k = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == anchors.keySet)
    anchors.keys.foreach { qid =>
      val rows = byQ(qid)
      // the planted exact twin is excluded as a dup, at cosine 1.0
      val dups = rows.filter(_._5 == "dup")
      assert(dups.map(_._2).toSet == Set(qid + textops.Dedup.PlantOffset), s"q=$qid dups=$dups")
      assert(dups.forall(d => d._4 == 1.0 && d._3 == 0L))
      // exactly one positive at rank 1, k-1 negatives at 2..6, none the twin
      val pos = rows.filter(_._5 == "positive")
      assert(pos.length == 1 && pos.head._3 == 1L)
      val negs = rows.filter(_._5 == "hard_negative").sortBy(_._3)
      assert(negs.map(_._3).toSeq == (2L to 6L))
      // ranking is non-increasing in sim and never includes the dup
      val ranked = (pos ++ negs).sortBy(_._3)
      assert(ranked.sliding(2).forall { case Array(a, b) => a._4 >= b._4; case _ => true })
      assert(!ranked.exists(_._2 == qid + textops.Dedup.PlantOffset))
      // local recompute of the positive: best cosine among non-dup vectors
      val qv = anchors(qid)
      val best = all.toSeq
        .filter { case (id, _) => id != qid && id != qid + textops.Dedup.PlantOffset }
        .map { case (id, v) => (id, textops.Ann.cosine(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.head._1
      assert(pos.head._2 == best, s"q=$qid positive should be $best")
    }
  }

  test("ann brute force matches a local recompute; lsh recall is reasonable") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = all.toSeq.sortBy(_._1).take(5).toMap
    val got = textops.Ann.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // local oracle
    queries.foreach { case (qid, qv) =>
      val expect = all.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, textops.Ann.cosine(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      expect.zipWithIndex.foreach { case (nid, i) =>
        assert(got((qid, i + 1)) == nid, s"q=$qid rank=${i + 1}")
      }
    }
    val lsh = textops.Ann.lshTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = got.map { case ((q, _), n) => (q, n) }.toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"lsh recall $recall") // 1-bit multiprobe over 6 bits on 500 vecs
    val ivf = textops.Ann.ivfTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = bf.intersect(ivf).size.toDouble / bf.size
    assert(ivfRecall >= 0.4, s"ivf recall $ivfRecall") // 4-of-16 lists probed
    val kmeans = textops.Ann.ivfTopKKmeans(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val kmeansRecall = bf.intersect(kmeans).size.toDouble / bf.size
    assert(kmeansRecall >= 0.4, s"kmeans ivf recall $kmeansRecall")
  }

  test("line_dedup drops corpus-frequent lines, keeps per-doc content in order") {
    import spark.implicits._
    val boiler = (1 to 8).map("b" + _).mkString(" ") // one exact 8-word chunk
    def content(d: Int) = (1 to 16).map(w => s"d${d}w$w").mkString(" ")
    // boiler appears in 3 docs (>= minCount) -> dropped; doc 4 lacks it;
    // doc 5 shares doc 4's content ONCE more (freq 2 < 3) -> kept
    val docs = Seq(
      (1L, boiler + " " + content(1)),
      (2L, boiler + " " + content(2)),
      (3L, boiler + " " + content(3)),
      (4L, content(4)),
      (5L, content(4))
    ).toDF("doc_id", "text")
    val got = textops.Dedup.lineDedup(docs, minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == content(1) && got(2L) == content(2) && got(3L) == content(3))
    assert(got(4L) == content(4) && got(5L) == content(4))
    // and with minCount = 2 the duplicated content of docs 4/5 vanishes too
    val strict = textops.Dedup.lineDedup(docs, minCount = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strict(4L) == "" && strict(5L) == "")
    assert(strict(1L) == content(1))
    // DOCUMENT frequency: a doc repeating its own refrain (3 occurrences but
    // only 2 distinct docs) stays under a minCount = 3 threshold
    val refrain = (1 to 8).map("r" + _).mkString(" ")
    val docs2 = Seq(
      (1L, refrain + " " + refrain + " " + refrain),
      (2L, refrain + " " + content(9))
    ).toDF("doc_id", "text")
    val df = textops.Dedup.lineDedup(docs2, minCount = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(df(1L) == refrain + " " + refrain + " " + refrain)
    assert(df(2L) == refrain + " " + content(9))
  }

  test("decontamination flags cross-document 13-gram overlap, not just eval-set copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val evalGram = (1 to 13).map("e" + _).mkString(" ")
    val docs = Seq(
      (1L, evalGram + " " + (1 to 10).map("tail" + _).mkString(" ")), // the eval doc
      (2L, (1 to 5).map("pre" + _).mkString(" ") + " " + evalGram),   // leaks the gram mid-text
      (3L, (1 to 30).map("clean" + _).mkString(" ")),                 // clean
      (4L, (1 to 8).map("short" + _).mkString(" "))                   // < 13 words: 0 grams
    ).toDF("doc_id", "text")
    val got = textops.Curate.contamination(docs, docs.filter(col("doc_id") === 1))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((11L, 1L, true)))  // 23 words -> 11 grams, self-hit on gram 1
    assert(got(2L) == ((6L, 1L, true)))   // 18 words -> 6 grams, hit at offset 5
    assert(got(3L) == ((18L, 0L, false)))
    assert(got(4L) == ((0L, 0L, false)))
  }

  test("image header decode: real PNG/JPEG/GIF/BMP bytes, not just our generator") {
    import textops.Multimodal
    // canonical 1x1 transparent PNG (public, widely published byte sequence)
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(Multimodal.imageHeader(png1x1) == Some(("png", 1, 1)))
    // hand-built JPEG with APP0 before SOF0 (marker walk must skip segments)
    val jpeg = Multimodal.imagePayload(1L, "x") // docId%3==1 -> jpeg, 16+1 x 16+1
    assert(Multimodal.imageHeader(jpeg) == Some(("jpeg", 17, 17)))
    val gif = Multimodal.imagePayload(2L, "x")
    assert(Multimodal.imageHeader(gif) == Some(("gif", 18, 18)))
    val png = Multimodal.imagePayload(0L, "x")
    assert(Multimodal.imageHeader(png) == Some(("png", 16, 16)))
    // truncated / junk payloads degrade to None, never throw
    assert(Multimodal.imageHeader(png1x1.take(10)) == None)
    assert(Multimodal.imageHeader("not an image".getBytes) == None)
    assert(Multimodal.imageHeader(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)) == None)
    // JPEG fill bytes (spec B.1.1.2): extra 0xFF padding before a marker id
    val jpegRaw = Multimodal.imagePayload(1L, "x")
    val padded = jpegRaw.take(2) ++ Array.fill(3)(0xff.toByte) ++ jpegRaw.drop(3)
    assert(padded(2) == 0xff.toByte && Multimodal.imageHeader(padded) == Some(("jpeg", 17, 17)))
    // top-down BMP: negative biHeight is row order, not a negative dimension
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(14) = 40 // BITMAPINFOHEADER size (the ADVICE r3 validity gate)
    bmp(18) = 0x80.toByte; bmp(19) = 0x07 // width 1920 LE
    val negH = -1080
    for (k <- 0 until 4) bmp(22 + k) = ((negH >> (8 * k)) & 0xff).toByte
    assert(Multimodal.imageHeader(bmp) == Some(("bmp", 1920, 1080)))
    // ADVICE r3: ASCII text starting with 'BM' must NOT classify as bmp (the
    // header-size field at 14 is a word, not a plausible {40..124} value)
    assert(Multimodal.imageHeader("BMW dealerships near me, open saturday".getBytes) == None)
    // ADVICE r3: EOI (FFD9) before any SOF is terminal — the walk must not
    // read a bogus segment length past it
    val eoiFirst = Array(0xff, 0xd8, 0xff, 0xd9, 0xff, 0xc0, 0x00, 0x0b).map(_.toByte)
    assert(Multimodal.imageHeader(eoiFirst) == None)
  }

  test("verifyJaccard threshold is integer-exact at the 4/5 boundary (VERDICT r3 item 4)") {
    import spark.implicits._
    // A has word-3-shingles {abc,bcd,cde,def,efg}; B drops the first word
    // (4 shingles, all in A) -> inter 4, un 5: EXACTLY the threshold, must be
    // kept by the integer filter inter*5 >= un*4. C drops two words -> 3/5,
    // must be dropped. No double division anywhere on the path.
    val docs = Seq((1L, "a b c d e f g"), (2L, "b c d e f g"), (3L, "c d e f g"))
      .toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val got = textops.Dedup.verifyJaccard(docs, cands, 4L, 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 4L, 5L)))
  }

  test("neardupClusters labels a duplicate-free corpus with own ids (empty edge set)") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"unique document number $i with its own words $i"))
      .toDF("doc_id", "text")
    val got = textops.Dedup.neardupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 50 && got.forall { case (d, c) => d == c })
  }

  test("pixel PNG roundtrip is exact: encodeGrayPng -> ImageIO -> generator formula") {
    import textops.Multimodal
    for (id <- Seq(0L, 1L, 7L, 123L, 999L)) {
      val (w, h) = Multimodal.pixelDims(id)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.pixelPng(id)))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == Multimodal.grayAt(id, 0, x, y),
          s"doc $id pixel ($x,$y)")
    }
  }

  test("resize pins the Java2D nearest-neighbor pixel-center mapping (oracle formula)") {
    import textops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val resized = Multimodal.resize(Multimodal.mediaWithPixels(docs)).collect()
    assert(resized.length == 50)
    resized.foreach { m =>
      val (w, h) = Multimodal.pixelDims(m.doc_id)
      val (ow, oh) = (w / 2, h / 2)
      assert(m.meta_width == ow && m.meta_height == oh)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      assert(img.getWidth == ow && img.getHeight == oh)
      for (y <- 0 until oh; x <- 0 until ow) {
        val sx = ((2 * x + 1) * w) / (2 * ow)
        val sy = ((2 * y + 1) * h) / (2 * oh)
        assert(img.getRaster.getSample(x, y, 0) == Multimodal.grayAt(m.doc_id, 0, sx, sy),
          s"doc ${m.doc_id} resized pixel ($x,$y) != source ($sx,$sy) — " +
            "the JDK's NN mapping changed; update the multimodal_resize oracle")
      }
    }
  }

  test("frame split walks PNG container boundaries; corrupt tails drop, never emit") {
    import textops.Multimodal
    val id = 42L
    val payload = Multimodal.videoPayload(id)
    val frames = Multimodal.splitPngFrames(payload)
    assert(frames.length == Multimodal.frameCount(id))
    // frames reassemble to the payload exactly (no bytes lost or duplicated)
    assert(java.util.Arrays.equals(frames.reduce(_ ++ _), payload))
    // each frame is a standalone decodable PNG with the per-frame pixels
    frames.zipWithIndex.foreach { case (f, i) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(img != null && img.getWidth == Multimodal.FrameW)
      assert(img.getRaster.getSample(3, 2, 0) == Multimodal.grayAt(id, i, 3, 2))
    }
    // truncated last frame is dropped, valid prefix preserved
    val truncated = Multimodal.splitPngFrames(payload.dropRight(7))
    assert(truncated.length == frames.length - 1)
    // r4 review: dropRight(13) leaves the last IDAT header readable but its
    // body overrunning the payload (end = -2 path) — must TERMINATE with the
    // partial frame dropped, not spin on the same chunk forever
    val overrun = Multimodal.splitPngFrames(payload.dropRight(13))
    assert(overrun.length == frames.length - 1)
    // garbage payload yields no frames
    assert(Multimodal.splitPngFrames("not a png stream at all".getBytes).isEmpty)
  }

  test("bloom decontamination: superset of exact flags, bounded false positives, deterministic") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bench = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 41 === 0)
    def flagsOf(df: org.apache.spark.sql.DataFrame, flagCol: String) = {
      val i = df.columns.indexOf(flagCol)
      df.collect().map(r => r.getLong(0) -> r.getBoolean(i)).toMap
    }
    val exact = flagsOf(textops.Curate.contamination(docs, bench), "contaminated")
    val bloom = flagsOf(textops.Curate.contaminationBloom(docs, bench), "flagged")
    assert(bloom.keySet == exact.keySet)
    // no false negatives: every exactly-contaminated doc is bloom-flagged
    exact.foreach { case (id, c) => if (c) assert(bloom(id), s"doc $id lost by bloom") }
    // false positives: the op runs its 1e-6 default fpp over the 2^16
    // capacity floor, where the deterministic layout is FP-free on this
    // corpus (the decontaminate_bloom oracle pins the same at sf0.01) — a
    // regression to the degenerate-small-filter ~0.5% practical fpp the
    // sizing comment warns about must fail here, so the bound is exact
    val falsePos = exact.count { case (id, c) => !c && bloom(id) }
    assert(falsePos == 0, s"$falsePos false positives (expected none at fpp 1e-6 with capacity floor)")
    // deterministic: identical flags on a second run
    assert(flagsOf(textops.Curate.contaminationBloom(docs, bench), "flagged") == bloom)
  }

  test("mixture sampling: reproducible, composable across rate changes, rate-accurate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 2000L).map(i => (i, s"site${i % 4}.example.com")).toDF("doc_id", "host")
    val rates = Map("site0.example.com" -> 1000, "site1.example.com" -> 5000,
      "site2.example.com" -> 9000, "site3.example.com" -> 0)
    def run(r: Map[String, Int]) = textops.Curate.sampleMixture(docs, r)
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getBoolean(3)))).toMap
    val a = run(rates)
    // reproducible: bit-identical decisions on a second run
    assert(run(rates) == a)
    // composable: raising ONE host's rate flips only that host's documents
    val b = run(rates + ("site1.example.com" -> 9999))
    assert(a.forall { case (id, (h, bk, k)) =>
      val (h2, bk2, k2) = b(id)
      h2 == h && bk2 == bk && (if (h == "site1.example.com") k2 || !k else k2 == k)
    })
    // rate-accurate: kept fraction within a loose binomial band; 0 bp keeps none
    val perHost = a.values.groupBy(_._1).map { case (h, vs) =>
      h -> (vs.count(_._3), vs.size)
    }
    assert(perHost("site3.example.com")._1 == 0)
    val (k1, n1) = perHost("site1.example.com")
    assert(math.abs(k1.toDouble / n1 - 0.5) < 0.08, s"50% rate kept $k1/$n1")
    // unknown host falls back to defaultBp = 0
    val other = textops.Curate.sampleMixture(
      Seq((1L, "nowhere.example.org")).toDF("doc_id", "host"), rates).collect()
    assert(!other.head.getBoolean(3))
  }

  test("wav roundtrip is exact; the chunk walk skips LIST and handles odd-size padding") {
    import textops.Multimodal
    for (id <- Seq(0L, 5L, 63L, 977L)) {
      val Some((rate, s)) = Multimodal.parseWav(Multimodal.wavPayload(id))
      assert(rate == Multimodal.AudioSampleRate)
      assert(s.length == Multimodal.audioSampleCount(id))
      s.indices.foreach(i => assert(s(i) == Multimodal.audioSample(id, i), s"doc $id sample $i"))
    }
    // odd-size unknown chunk before data: the pad byte must be skipped
    val base = Multimodal.wavPayload(1L)
    val insertAt = 36 // after fmt chunk, before LIST
    val odd = Array('j', 'u', 'n', 'k').map(_.toByte) ++ Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val patched = base.take(insertAt) ++ odd ++ base.drop(insertAt)
    // fix RIFF size (+12 for the injected chunk incl. pad)
    val riffSize = (patched(4) & 0xff) | ((patched(5) & 0xff) << 8) |
      ((patched(6) & 0xff) << 16) | ((patched(7) & 0xff) << 24)
    val ns = riffSize + 12
    patched(4) = (ns & 0xff).toByte; patched(5) = ((ns >> 8) & 0xff).toByte
    patched(6) = ((ns >> 16) & 0xff).toByte; patched(7) = ((ns >> 24) & 0xff).toByte
    val Some((_, s2)) = Multimodal.parseWav(patched)
    assert(s2.length == Multimodal.audioSampleCount(1L) && s2(3) == Multimodal.audioSample(1L, 3))
    // junk / truncated payloads degrade to None, never throw
    assert(Multimodal.parseWav("RIFFnot really a wave file".getBytes) == None)
    assert(Multimodal.parseWav(base.take(30)) == None)
    // stereo/non-PCM is unsupported, not mis-decoded
    val stereo = base.clone(); stereo(22) = 2 // channels field
    assert(Multimodal.parseWav(stereo) == None)
  }

  test("extractFeatures degrades undecodable payloads to (-1,-1) rows, never throws") {
    import textops.Multimodal
    import spark.implicits._
    val bad = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "junk", "definitely not an image".getBytes, 0, 0)))
    val got = Multimodal.extractFeatures(bad).collect()
    assert(got.length == 1 && got.head.width == -1 && got.head.px_sum == 0L)
  }

  test("aHash: uniform image hashes to 0 (strict mean threshold); decode equals arithmetic") {
    import textops.Multimodal
    val flat = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodeGrayPng(16, 12, (_, _) => 77)))
    assert(Multimodal.aHash(flat) == 0L)
    // real decode -> aHash equals the pure-arithmetic recompute the SQL
    // oracle uses (pins the whole PNG encode/decode/sample chain)
    Seq(0L, 7L, 123L, 400L).foreach { id =>
      val (w, h) = Multimodal.pixelDims(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(Multimodal.pixelPng(id)))
      val smp = Array.tabulate(64) { b =>
        Multimodal.grayAt(id, 0, ((2 * (b % 8) + 1) * w) / 16, ((2 * (b / 8) + 1) * h) / 16)
      }
      val sum = smp.map(_.toLong).sum
      var expect = 0L
      smp.zipWithIndex.foreach { case (p, b) => if (p.toLong * 64 > sum) expect |= (1L << b) }
      assert(Multimodal.aHash(img) == expect, s"doc $id")
    }
  }

  test("image near-dup: every planted brightness twin is caught at sf0.001") {
    import textops.Multimodal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Multimodal.imageNearDupPairs(Multimodal.mediaWithNearTwins(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      val hm = pairs.get((id, id + textops.Dedup.PlantOffset))
      assert(hm.isDefined && hm.get <= 3, s"planted twin of $id not caught ($hm)")
    }
  }
}

class LangMixtureSpec extends AnyFunSuite {
  import SparkSuite._

  test("isqrt is exact on boundaries and large values") {
    import graft.textops.LangMixture.isqrt
    assert(isqrt(0) == 0 && isqrt(1) == 1 && isqrt(3) == 1 && isqrt(4) == 2)
    assert(isqrt(15) == 3 && isqrt(16) == 4 && isqrt(17) == 4)
    // near 2^52+: float sqrt alone can round wrong; the correction must not
    val n = (1L << 31) * ((1L << 31) + 1) // (2^31)^2 + 2^31
    assert(isqrt(n) == (1L << 31) && isqrt(n - 1) == (1L << 31))
    assert(isqrt((1L << 31) * (1L << 31) - 1) == (1L << 31) - 1)
    val big = 3037000499L // floor(sqrt(Long.MaxValue))
    assert(isqrt(big * big) == big && isqrt(big * big - 1) == big - 1)
  }

  test("temperature mixture: tau=2 boosts low-resource languages, conserves shape") {
    val got = graft.textops.LangMixture
      .temperatureMixture(spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // independent recompute
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val tok = docs.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
    val tt = tok.values.sum
    val sw = tok.values.map(graft.textops.LangMixture.isqrt).sum
    tok.foreach { case (l, n) =>
      val w = graft.textops.LangMixture.isqrt(n)
      val nat = n * 1000000L / tt
      val tmp = w * 1000000L / sw
      assert(got(l) == ((n, nat, tmp, tmp * 10000L / nat)), s"lang $l")
    }
    // the high-resource language is down-weighted, every minority boosted
    val en = got("en")._4
    assert(en < 10000 && got.filterNot(_._1 == "en").values.forall(_._4 > 10000))
  }
}

class GopherRepetitionSpec extends AnyFunSuite {
  import SparkSuite._

  test("top/dup gram fractions: hand-derivable truth table") {
    import graft.textops.Curate
    // "a b a b c" (9 chars): top-2-gram "a b" x2, len 3 -> 6666 bp
    assert(Curate.topGramBp("a b a b c", 2) == 2L * 3 * 10000 / 9)
    // dup-2 coverage: "a b"@0 and @4, union = [0,3)+[4,7) = 6 chars
    assert(Curate.dupGramBp("a b a b c", 2) == 6L * 10000 / 9)
    // overlapping occurrences: "a a a a" (7 chars), "a a"@0,@2,@4 -> union
    // covers the whole string (gap identity with truncation at each step)
    assert(Curate.dupGramBp("a a a a", 2) == 10000L)
    // no repetition -> 0; n longer than doc -> 0
    assert(Curate.dupGramBp("x y z", 2) == 0L)
    assert(Curate.topGramBp("x y", 3) == 0L)
    // tie at equal count resolves to the lexicographically smallest gram:
    // "b c a d" -> all 2-grams count 1; "a d" (len 3) wins over "b c"/"c a"
    assert(Curate.topGramBp("b c a d", 2) == 1L * 3 * 10000 / 7)
  }

  test("gopherRepetition is one map stage — no Exchange in the plan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.textops.Curate.gopherRepetition(graft.textops.Curate.plantRepetition(docs))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition battery must not shuffle:\n$plan")
    // planted docs (doc_id%4==0, self-repeat appended) must fire a dup gate
    val got = df.collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(6)))).toMap
    val planted = got.keys.filter(_ % 4 == 0)
    assert(planted.nonEmpty && planted.forall(id => got(id)._1 > 0),
      "planted self-repeats must produce nonzero dup5 coverage")
  }
}

class QualityModelSpec extends AnyFunSuite {
  import SparkSuite._

  test("nbQuality matches a driver-side integer recompute and separates the gate at sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = textops.QualityModel.nbQuality(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent recompute (dict-of-dicts greedy, not the relational plan)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val B = 256
    def feat(text: String): Map[Long, Long] = {
      val ws = text.split(" ", -1)
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      ws.foreach(w => m(textops.TextHash.fnv64(w) & (B - 1)) += 1L)
      val nw = ws.length.toLong
      m(B + math.min(nw / 10, 1023L)) += nw
      m.toMap
    }
    def lab(text: String): Long = {
      val nw = text.split(" ", -1).length.toLong
      val wc = text.length.toLong - (nw - 1)
      if (nw >= 50 && nw <= 100000 && wc >= 3 * nw && wc <= 10 * nw) 1L else 0L
    }
    val feats = rows.map { case (id, t) => id -> feat(t) }.toMap
    val labs = rows.map { case (id, t) => id -> lab(t) }.toMap
    val c1 = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val ct = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((id, f) <- feats if id % 10 < 3; (b, x) <- f) {
      if (labs(id) == 1L) c1(b) += x
      ct(b) += x
    }
    val p1 = ct.keys.map(b => b -> ((c1(b) + 1) * 4096) / (ct(b) + 2)).toMap
    var misagree = 0
    rows.foreach { case (id, _) =>
      val f = feats(id)
      val num = f.map { case (b, x) => x * p1.getOrElse(b, 2048L) }.sum
      val den = f.values.sum
      val score = num / den
      val pred = if (2 * score >= 4096) 1L else 0L
      assert(got(id) == ((score, pred, labs(id))), s"doc $id")
      if (pred != labs(id)) misagree += 1
    }
    // the one-pass NB vote must actually learn the gate, not just run
    assert(misagree.toDouble / rows.length < 0.05,
      s"classifier should distill the Gopher gate, $misagree/${rows.length} disagree")
  }
}

class LmQualitySpec extends AnyFunSuite {
  import SparkSuite._

  test("lmQuality matches a driver-side integer recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase)).toSeq
    val S = 4096L; val CAP = S * 1000L
    val tc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((id, lt) <- rows if id % 10 < 3; p <- 0 to lt.length - 3)
      tc(lt.substring(p, p + 3)) += 1
    val bt = tc.groupBy(_._1.substring(0, 2)).map { case (b, m) => b -> m.values.sum }
    def surprise(tri: String): Long = tc.get(tri) match {
      case None => CAP
      case Some(c) => math.min(bt(tri.substring(0, 2)) * S / c, CAP)
    }
    val expected = rows.collect { case (id, lt) if lt.length >= 3 =>
      val n = (lt.length - 2).toLong
      val tot = (0 to lt.length - 3).map(p => surprise(lt.substring(p, p + 3))).sum
      (id, n, tot, tot / n)
    }.sortBy(_._1)

    val got = Curate.lmQuality(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // scores must differentiate documents, and the trunc-mean bound holds
    assert(got.map(_._4).distinct.size > 1)
    assert(got.forall { case (_, n, tot, avg) => avg * n <= tot && tot < (avg + 1) * n })
  }

  test("lmQuality caps unseen trigrams and the cap dominates seen surprise") {
    import spark.implicits._
    // doc 3 is holdout (3%10>=3) and pure emoji — no trigram overlap with the
    // training docs -> every trigram scores exactly the cap
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (10L, "the quick brown fox jumps again and again"),
      (3L, "☺☻♠♣♥♦☺☻")
    ).toDF("doc_id", "text")
    val out = Curate.lmQuality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out(3L)._2 == 4096L * 1000L)        // all-unseen => avg == cap
    assert(out(0L)._2 < 4096L * 1000L)         // training doc is below cap
  }
}

class TfidfSpec extends AnyFunSuite {
  import SparkSuite._

  test("tfidfTopK matches a driver-side integer recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase)).toSeq
    val S = 4096L
    val n = rows.size.toLong
    val toks = rows.map { case (i, lt) => i -> lt.split(" ", -1).toSeq }.toMap
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val expected = toks.toSeq.flatMap { case (i, ws) =>
      val tf = ws.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      tf.toSeq.map { case (t, f) => (f * ((n * S) / df(t)), t) }
        .sortBy { case (sc, t) => (-sc, t) }.take(5).zipWithIndex
        .map { case ((sc, t), r0) => (i, (r0 + 1).toLong, t, sc) }
    }.sorted

    val got = Keywords.tfidfTopK(docs).orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == rows.size * 5)
  }
}

class ContainmentSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.{Containment, TextHash}

  private val W = 5
  private val MASK = Long.MaxValue

  test("containmentPairs matches a driver-side recompute of the full KMV pipeline on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val planted = rows.map { case (id, t) =>
      id -> (if (id % 9 == 2 && rows.contains(id - 1)) rows(id - 1) + " " + t else t)
    }
    val gh = planted.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < W) None
      else Some(id -> (0 to ws.length - W)
        .map(i => TextHash.fnv64(ws.slice(i, i + W).mkString(" ")) & MASK)
        .distinct.sorted.toVector)
    }
    val full = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    for ((id, keys) <- gh; s <- keys) full(s) ::= id
    val cand = (for {
      (id, keys) <- gh.toSeq
      s <- keys.take(6)
      ds = full(s) if ds.size <= 64
      other <- ds if other != id
    } yield (math.min(id, other), math.max(id, other))).toSet
    val expected = cand.toSeq.sorted.map { case (a, b) =>
      val (sa, sb) = (gh(a).toSet, gh(b).toSet)
      val inter = (sa & sb).size.toLong
      val (na, nb) = (sa.size.toLong, sb.size.toLong)
      (a, b, inter, na, nb, inter * 10000L / na, inter * 10000L / nb,
        if (inter * 10 >= na * 9 || inter * 10 >= nb * 9) 1L else 0L)
    }

    val got = Containment.containmentPairs(Containment.plantQuotes(docs))
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // every surfaced planted pair (id-1 quoted inside id) is PERFECT
    // containment of the smaller doc: cont_a == 10000 exactly
    val plantedGot = got.filter { case (a, b, _, _, _, _, _, _) => b == a + 1 && b % 9 == 2 }
    assert(plantedGot.nonEmpty, "the sketch surfaced no planted quote pairs")
    assert(plantedGot.forall(_._6 == 10000L),
      s"quoted docs must be fully contained: ${plantedGot.filter(_._6 != 10000L)}")
  }

  test("containment flags a subset duplicate that Jaccard dilutes below threshold") {
    import spark.implicits._
    // A = 40 distinct-gram words, B = A ++ 160 more: containment(A→B) = 1,
    // Jaccard = |A|/|B| ≈ 0.2 — the exact case union-based dedup misses
    val wordsA = (0 until 40).map(i => s"alpha$i")
    val wordsB = wordsA ++ (0 until 160).map(i => s"beta$i")
    val docs = Seq((100L, wordsA.mkString(" ")), (200L, wordsB.mkString(" ")))
      .toDF("doc_id", "text")
    val got = Containment.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(7)))
    assert(got.length == 1)
    val (a, b, contA, contained) = got.head
    assert((a, b) == (100L, 200L) && contA == 10000L && contained == 1L)
    // and the union-denominator score really is far below the 0.9 bar
    val inter = 40 - W + 1 + 0L // grams of A (36), all shared
    val un = (40 - W + 1) + (200 - W + 1) - inter
    assert(inter * 10 < un * 9)
  }

  test("hot-bucket cap drops pair generation from oversize buckets") {
    import spark.implicits._
    // 70 docs sharing one identical text: every sketch bucket holds 70 > 64
    // docs, so the cap must yield ZERO candidate pairs (the LSH skew guard)
    val docs = (0L until 70L).map(i => (i, (0 until 20).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Containment.containmentPairs(docs).count() == 0L)
    // while 3 such docs pair up fine
    val small = (0L until 3L).map(i => (i, (0 until 20).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Containment.containmentPairs(small).count() == 3L)
  }
}

class Bm25Spec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.Bm25

  test("bm25 topK matches a driver-side integer recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase)).toSeq
    val toks = rows.map { case (i, lt) => i -> lt.split(" ", -1).toSeq }.toMap
    val tf = toks.map { case (i, ws) =>
      i -> ws.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val dl = toks.map { case (i, ws) => i -> ws.size.toLong }
    val n = dl.size.toLong
    val a = dl.values.sum
    val avgdl = a / n
    def blen(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val expected = (0L to 4L).flatMap { qid =>
      val qterms = toks(qid * 7 + 3).take(3).distinct
      val scores = tf.toSeq.flatMap { case (i, c) =>
        val s = qterms.flatMap { t =>
          c.get(t).map { f =>
            val kFp = (1200L * (250L * 4096L + 750L * ((dl(i) * 4096L) / avgdl))) / 1000000L
            (blen(n / df(t)).toLong * f * 2200L * 4096L) / ((f * 4096L + kFp) * 1000L)
          }
        }
        if (s.isEmpty) None else Some(i -> s.sum)
      }
      scores.sortBy { case (i, s) => (-s, i) }.take(10).zipWithIndex
        .map { case ((i, s), r0) => (qid, (r0 + 1).toLong, i, s) }
    }.sorted

    val got = Bm25.topK(docs).orderBy("q_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.size == 50)
  }

  test("bm25 scores rank an exact-phrase doc above a partial-match doc") {
    import spark.implicits._
    // doc 3 holds all three query-0 terms; every score row for q 0 must put
    // a doc containing more distinct query terms at better-or-equal rank
    // than one with fewer (idf*tf saturates per-term, never cross-subsidizes)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q0terms = docs.filter($"doc_id" === 3).select("text").as[String].head()
      .toLowerCase.split(" ", -1).take(3).distinct.toSet
    val byDoc = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (i, t) => i -> q0terms.count(t.toLowerCase.split(" ", -1).contains) }
      .toMap
    val top = Bm25.topK(docs).filter($"q_id" === 0).orderBy("rnk")
      .select("doc_id").as[Long].collect()
    assert(top.nonEmpty && byDoc(top.head) == q0terms.size,
      s"rank-1 doc ${top.headOption} should contain all ${q0terms.size} query terms")
  }
}

class TextNormSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.TextNorm

  test("normalize implements the five-step contract and is idempotent") {
    // NFC composition: e + combining acute -> the single composed codepoint
    assert(TextNorm.normalize("cafe\u0301") == "caf\u00E9")
    // NBSP -> space, then collapse
    assert(TextNorm.normalize("a\u00A0\u00A0b") == "a b")
    // zero-width + CR dropped, even mid-space-run
    assert(TextNorm.normalize("a \u200B b\uFEFF\rc") == "a bc")
    // collapse + trim, including space runs created by drops at the edges
    assert(TextNorm.normalize("\u200B  x   y  \uFEFF") == "x y")
    assert(TextNorm.normalize("") == "")
    assert(TextNorm.normalize(null) == null)
    val messy = "\r cafe\u0301 \u200B\u00A0 bar \r"
    assert(TextNorm.normalize(TextNorm.normalize(messy)) == TextNorm.normalize(messy))
  }

  test("the Expression twin equals the static method over the planted fixture") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val raw = TextNorm.plantMessy(docs)
    val got = raw.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.expr.Kernel.TextNormalize(org.apache.spark.sql.functions.col("raw")).as("text_norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rawLocal = raw.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rawLocal.nonEmpty)
    for ((id, rv) <- rawLocal) assert(got(id) == TextNorm.normalize(rv), s"doc $id")
    // the fixture actually planted mess: every class differs from its input
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, rv) <- rawLocal) assert(rv != orig(id), s"fixture no-op for doc $id")
    // and normalization recovers the original text for the space/junk classes
    for ((id, rv) <- rawLocal if id % 4 != 0)
      assert(TextNorm.normalize(rv) == TextNorm.normalize(orig(id)), s"doc $id")
  }

  test("SQL registration keeps text_normalize inside whole-stage codegen") {
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("tn_docs")
    val df = spark.sql("SELECT doc_id, text_normalize(text) AS t FROM tn_docs")
    val plan = df.queryExecution.executedPlan.toString
    // the '*(n)' markers denote WholeStageCodegen stages in the final plan
    assert(plan.contains("*(1) Project") && plan.contains("text_normalize"), plan)
    assert(df.count() > 0)
  }
}

class DupSpansSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.DupSpans

  private def run(texts: Seq[String], n: Int) = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    DupSpans.dupSpans(df, n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
  }

  test("two docs sharing an exact span are both marked; an unrelated doc is not") {
    val shared = (1 to 6).map(i => s"w$i").mkString(" ") // 6 shared words, n=4 -> 3 shared grams
    val a = s"alpha beta $shared gamma"     // 9 words, starts 2,3,4 dup
    val b = s"$shared delta epsilon"        // 8 words, starts 0,1,2 dup
    val c = "nothing here matches anything else at all"  // 7 words
    val got = run(Seq(a, b, c), 4)
    // doc a: starts 2,3,4 -> gaps 1,1,last 4 -> covered 6; grams = 9-4+1 = 6
    assert(got(0L) == ((9L, 6L, 3L, 6L, 6L * 10000 / 9)))
    // doc b: starts 0,1,2 -> covered 6; grams = 5
    assert(got(1L) == ((8L, 5L, 3L, 6L, 7500L)))
    assert(got(2L) == ((7L, 4L, 0L, 0L, 0L)))
  }

  test("within-doc repetition alone does not qualify; cross-doc does") {
    val rep = "x y z q x y z q x y z q" // 12 words, 4-grams repeat WITHIN the doc only
    val got = run(Seq(rep, "totally different words live here today ok"), 4)
    assert(got(0L)._3 == 0L, s"within-doc repetition flagged: ${got(0L)}")
  }

  test("docs shorter than n have zero grams; identical short docs still no grams") {
    val got = run(Seq("a b c", "a b c", "long enough document with five words here"), 4)
    assert(got(0L) == ((3L, 0L, 0L, 0L, 0L)))
    assert(got(1L) == ((3L, 0L, 0L, 0L, 0L)))
  }

  test("identical full docs: every gram duplicated, coverage = total") {
    val t = (1 to 10).map(i => s"t$i").mkString(" ")
    val got = run(Seq(t, t), 4)
    assert(got(0L) == ((10L, 7L, 7L, 10L, 10000L)))
    assert(got(1L) == got(0L))
  }

  test("sf0.001 planted disclaimer matches a driver-side recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = DupSpans.dupSpans(DupSpans.plantDisclaimer(docs), 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    val local = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val n = 20
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    val docGrams = local.map { case (id, text) =>
      val t = if (id % 3 == 0) text + " " + DupSpans.Disclaimer else text
      val ws = t.split(" ", -1)
      val grams = (0 to ws.length - n).map(i => (ws.slice(i, i + n).mkString(" "), i))
      grams.foreach { case (g, _) =>
        gramDocs.getOrElseUpdate(g, scala.collection.mutable.Set.empty) += id }
      id -> ((ws.length.toLong, grams))
    }.toMap
    assert(local.nonEmpty)
    for ((id, (tw, grams)) <- docGrams) {
      val starts = grams.collect { case (g, i) if gramDocs(g).size >= 2 => i }.sorted
      val covered = starts.zipWithIndex.map { case (s, j) =>
        if (j + 1 < starts.length) math.min(starts(j + 1) - s, n) else n }.sum.toLong
      assert(got(id) == ((tw, starts.length.toLong, covered)), s"doc $id")
    }
    // the fixture planted real cross-doc mass
    assert(got.values.count(_._2 > 0) > got.size / 4)
  }

  private def runRemoval(texts: Seq[String], n: Int) = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    DupSpans.dupSpanRemoval(df, n).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("removal: merged overlapping starts excise one contiguous span, survivors rejoin") {
    val shared = (1 to 6).map(i => s"w$i").mkString(" ")
    val a = s"alpha beta $shared gamma" // starts 2,3,4 merge to [2,8)
    val b = s"$shared delta epsilon"    // starts 0,1,2 merge to [0,6)
    val c = "nothing here matches anything else at all"
    val got = runRemoval(Seq(a, b, c), 4)
    assert(got(0L) == ((9L, 6L, 3L, "alpha beta gamma")))
    assert(got(1L) == ((8L, 6L, 2L, "delta epsilon")))
    assert(got(2L) == ((7L, 0L, 7L, c)))
  }

  test("removal: two disjoint islands leave the gap text intact") {
    val a = "A B s1 s2 s3 s4 C D t1 t2 t3 t4 E"
    val b = "s1 s2 s3 s4 x x x x x t1 t2 t3 t4"
    val got = runRemoval(Seq(a, b), 4)
    assert(got(0L) == ((13L, 8L, 5L, "A B C D E")))
    assert(got(1L) == ((13L, 8L, 5L, "x x x x x")))
  }

  test("removal: identical full docs are excised to empty strings on both sides") {
    val t = (1 to 10).map(i => s"t$i").mkString(" ")
    val got = runRemoval(Seq(t, t), 4)
    assert(got(0L) == ((10L, 10L, 0L, "")))
    assert(got(1L) == got(0L))
  }

  test("removal agrees with dupSpans coverage and a driver-side excision recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val planted = DupSpans.plantDisclaimer(docs)
    val spans = DupSpans.dupSpans(planted, 20).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap // covered_words
    val got = DupSpans.dupSpanRemoval(planted, 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got.nonEmpty && got.exists(_._2._2 > 0))
    for ((id, (tw, removed, kept, _)) <- got) {
      assert(removed == spans(id), s"doc $id: removal mass != span coverage")
      assert(kept + removed == tw, s"doc $id: kept+removed != total")
    }
    // independent excision recompute
    val n = 20
    val local = planted.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    val wss = local.map { case (id, t) =>
      val ws = t.split(" ", -1)
      (0 to ws.length - n).foreach { i =>
        gramDocs.getOrElseUpdate(ws.slice(i, i + n).mkString(" "), scala.collection.mutable.Set.empty) += id }
      id -> ws
    }.toMap
    for ((id, ws) <- wss) {
      val starts = (0 to ws.length - n).filter(i => gramDocs(ws.slice(i, i + n).mkString(" ")).size >= 2)
      val ivs = starts.foldLeft(List.empty[Array[Int]]) {
        case (acc, p) if acc.nonEmpty && p <= acc.head(1) => acc.head(1) = math.max(acc.head(1), p + n); acc
        case (acc, p) => Array(p, p + n) :: acc
      }.reverse
      val kept = new StringBuilder
      var prev = 0
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      for (Array(s, e) <- ivs) { parts ++= ws.slice(prev, s); prev = e }
      parts ++= ws.slice(prev, ws.length)
      assert(got(id)._4 == parts.mkString(" "), s"doc $id clean text")
    }
  }
}

class BlocklistSpec extends AnyFunSuite {
  import SparkSuite._

  test("exact-token semantics: substrings never fire, any hit drops, counts are occurrences") {
    import spark.implicits._
    val df = Seq(
      (0L, "clean words only here"),
      (1L, "this doc mentions dup once"),
      (2L, "dup appears twice dup here"),
      (3L, "duplicate is NOT the blocked token"), // substring must not fire
      (4L, "crash")
    ).toDF("doc_id", "text")
    val got = graft.textops.Curate.blocklistFilter(df, Seq("dup", "crash")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((4L, 0L, 1L)))
    assert(got(1L) == ((5L, 1L, 0L)))
    assert(got(2L) == ((5L, 2L, 0L)))
    assert(got(3L) == ((6L, 0L, 1L)))
    assert(got(4L) == ((1L, 1L, 0L)))
  }

  test("gate is one map stage — no Exchange in the plan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.textops.Curate.blocklistFilter(docs)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), s"blocklist gate must not shuffle:\n$plan")
  }
}

class CcnetBucketsSpec extends AnyFunSuite {
  import SparkSuite._
  import org.apache.spark.sql.functions._

  test("buckets equal a driver-side recompute from lmQuality scores under the cum*3 tie rule") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scores = graft.textops.Curate.lmQuality(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("surprise_avg")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byLang = scores.groupBy(_._2)
    val expected = byLang.flatMap { case (lang, rows) =>
      val hist = rows.groupBy(_._3).view.mapValues(_.length).toSeq.sortBy(_._1)
      val total = rows.length.toLong
      var cum = 0L
      val bucketOf = hist.map { case (s, c) =>
        cum += c
        s -> (if (cum * 3 <= total) "head" else if (cum * 3 <= 2 * total) "middle" else "tail")
      }.toMap
      rows.map { case (id, _, s) => id -> ((lang, s, bucketOf(s))) }.toSeq
    }
    val got = graft.textops.Curate.ccnetBuckets(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.size == scores.length)
    for ((id, exp) <- expected) assert(got(id) == exp, s"doc $id")
    // every language with >= 3 docs uses >= 2 buckets (the cut is real)
    for ((lang, rows) <- byLang if rows.length >= 3;
         distinctScores = rows.map(_._3).distinct if distinctScores.length >= 3)
      assert(rows.map(r => got(r._1)._3).distinct.length >= 2, s"lang $lang degenerate")
  }

  test("corpus is LM-scored once: the histogram branch reuses the scored exchange") {
    val q = SparkEntry.queries("ccnet_buckets")(spark, sf)
    q.queryExecution.toRdd.count() // materialize so AQE finalizes stage reuse
    val fin = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(fin.contains("ReusedExchange"),
      s"expected the cutoff branch to reuse the scored-doc exchange:\n$fin")
  }
}

class DedupNormalizedSpec extends AnyFunSuite {
  import SparkSuite._

  test("messy docs merge with their clean twins for classes 1-3; accent class stays split") {
    val rows = SparkEntry.queries("dedup_normalized")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.nonEmpty)
    val byKeep = rows.toMap
    for ((id, text) <- docs) {
      if (id % 4 != 0 || !text.contains("e")) {
        // messy normalizes back to the original -> pair group kept at doc id
        assert(byKeep.get(id).contains(2L), s"doc $id expected merged pair: ${byKeep.get(id)}")
      } else {
        // accented class: two singleton groups (messy at id, twin at id+1M)
        assert(byKeep.get(id).contains(1L) && byKeep.get(id + 1000000L).contains(1L),
          s"doc $id expected split singletons")
      }
    }
    assert(rows.map(_._2).sum == 2L * docs.length) // every row accounted for
  }
}

class CollocationsSpec extends AnyFunSuite {
  import SparkSuite._

  test("pmiTopK matches a driver-side bit-length recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val ws = t.split(" ", -1)
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      ws.sliding(2).foreach {
        case Array(a, b) => bi((a, b)) = bi.getOrElse((a, b), 0L) + 1
        case _           => ()
      }
    }
    val n = uni.values.sum
    def blen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val expected = bi.toSeq.collect { case ((a, b), c) if c >= 5 =>
      (s"$a $b", blen(c) + blen(n) - blen(uni(a)) - blen(uni(b)), c)
    }.sortBy { case (bg, s, c) => (-s, -c, bg) }.take(50)

    val got = Collocations.pmiTopK(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }
}

class NgramNoveltySpec extends AnyFunSuite {
  import SparkSuite._

  test("a verbatim copy scores zero novelty; unique docs score full; partial overlap in between") {
    import spark.implicits._
    val base = (1 to 20).map("alpha" + _).mkString(" ")        // 20 words
    val uniq = (1 to 20).map("omega" + _).mkString(" ")
    val half = (1 to 12).map("alpha" + _).mkString(" ") + " " +
      (1 to 8).map("beta" + _).mkString(" ")                   // grams 0..4 seen, rest new
    val docs = Seq((1L, base), (2L, base), (3L, uniq), (4L, half))
      .toDF("doc_id", "text")
    val got = textops.Dedup.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((13L, 13L, 10000L)))  // 20 words -> 13 distinct 8-grams, all first
    assert(got(2L) == ((13L, 0L, 0L)))       // exact copy: nothing novel
    assert(got(3L) == ((13L, 13L, 10000L)))
    // half: grams starting at 0..4 lie inside alpha1..alpha12 -> seen at doc 1
    assert(got(4L) == ((13L, 8L, (8L * 10000L) / 13L)))
  }

  test("short documents (< n words) emit no row") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, (1 to 8).map("w" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val got = textops.Dedup.ngramNovelty(docs).collect().map(_.getLong(0)).toSet
    assert(got == Set(2L))
  }
}

class PqSpec extends AnyFunSuite {
  import SparkSuite._

  private def load = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    (emb, all)
  }

  test("pqCodes matches a driver-side integer recompute; every sub assigned") {
    val (emb, all) = load
    val book = textops.Ann.pqCodebook(emb)
    val got = textops.Ann.pqCodes(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == all.size * 16)
    all.foreach { case (id, v) =>
      textops.Ann.pqAssign(textops.Ann.quantize(v), book).zipWithIndex.foreach {
        case ((code, d), s) =>
          assert(got((id, s.toLong)) == ((code.toLong, d)), s"vec=$id sub=$s")
      }
    }
  }

  test("ADC distance is the LUT-sum identity; ranks deterministic; hit audit vs exact L2") {
    val (emb, all) = load
    val queries = all.toSeq.sortBy(_._1).take(5).toMap
    val rows = textops.Ann.withPqHits(
      textops.Ann.pqTopK(emb, queries, 5), emb, queries, 5).collect()
    assert(rows.length == 25)
    // driver recompute of the full ADC ranking
    val book = textops.Ann.pqCodebook(emb)
    val codes = all.map { case (id, v) => id -> textops.Ann.pqAssign(textops.Ann.quantize(v), book).map(_._1) }
    queries.foreach { case (qid, qv) =>
      val q = textops.Ann.quantize(qv)
      val lut = Array.tabulate(16) { s =>
        val qs = q.slice(s * 4, (s + 1) * 4)
        Array.tabulate(64)(c => textops.Ann.sqDistQ(qs, book(s)(c)))
      }
      val expect = all.keys.filter(_ != qid).toSeq
        .map(id => (id, (0 until 16).map(s => lut(s)(codes(id)(s))).sum))
        .sortBy { case (id, d) => (d, id) }.take(5)
      val gotQ = rows.filter(_.getLong(0) == qid).sortBy(_.getLong(2))
      expect.zip(gotQ).foreach { case ((eid, ed), r) =>
        assert(r.getLong(1) == eid && r.getLong(3) == ed, s"q=$qid")
      }
    }
    // hit flags match the exact integer-L2 top-5
    val bf = queries.map { case (qid, qv) =>
      val q = textops.Ann.quantize(qv)
      qid -> all.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, textops.Ann.sqDistQ(q, textops.Ann.quantize(v))) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    }
    rows.foreach { r =>
      assert((r.getLong(4) == 1L) == bf(r.getLong(0)).contains(r.getLong(1)))
    }
  }

  test("pq_codes plan is scan + flatMap: zero exchanges") {
    val (emb, _) = load
    val plan = textops.Ann.pqCodes(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be map-side:\n$plan")
  }
}

class ContaminationSpansSpec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  private def w(prefix: String, n: Int): String = (1 to n).map(prefix + _).mkString(" ")

  test("spans address the leaked regions exactly; islands merge on <= n gap") {
    val head = w("e", 13)                       // the eval head gram
    val evalDocs = Seq((0L, head + " " + w("tail", 5))).toDF("doc_id", "text")
    // doc 10: leak mid-doc; doc 20: two leaks 13 apart (contiguous -> merge);
    // doc 30: two leaks far apart (two islands); doc 40: clean
    val docs = Seq(
      (10L, w("a", 4) + " " + head + " " + w("z", 3)),
      (20L, head + " " + head + " " + w("z", 2)),
      (30L, head + " " + w("mid", 14) + " " + head),
      (40L, w("c", 30))).toDF("doc_id", "text")
    val rows = textops.Curate.contaminationSpans(docs, evalDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every span substring is made only of eval-head words
    rows.foreach { case ((id, _), (a, b, sc, ec, _)) =>
      val sub = texts(id).substring(sc.toInt, ec.toInt)
      assert(sub.split(" ", -1).forall(_.startsWith("e")), s"doc $id: '$sub'")
      assert(sub.split(" ", -1).length == (b - a))
    }
    assert(rows((10L, 0L))._1 == 4L && rows((10L, 0L))._2 == 17L)
    assert(rows.keys.count(_._1 == 20L) == 1)   // contiguous leaks merged
    assert(rows((20L, 0L)) == ((0L, 26L, 0L, texts(20L).lastIndexOf(" z1") .toLong, 2L)))
    assert(rows.keys.count(_._1 == 30L) == 2)   // far apart: two islands
    assert(!rows.keys.exists(_._1 == 40L))
  }

  test("plantEvalLeak appends the (doc_id%2)*41 eval head on doc_id%7==3 only") {
    val docs = Seq(
      (0L, w("x", 20)), (3L, w("y", 20)), (9L, w("q", 20)), (10L, w("p", 20)),
      (41L, w("v", 15))).toDF("doc_id", "text")
    val evalDocs = docs.filter($"doc_id" % 41 === 0)
    val planted = textops.Curate.plantEvalLeak(docs, evalDocs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(planted(3L) == w("y", 20) + " " + w("v", 13))   // 3%2=1 -> doc 41's head
    assert(planted(10L) == w("p", 20) + " " + w("x", 13))  // 10%7=3, 10%2=0 -> doc 0's head
    assert(planted(0L) == w("x", 20) && planted(9L) == w("q", 20))
    assert(planted(41L) == w("v", 15))
  }

  test("contamination_spans plan: broadcast-set map pass, zero exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evalDocs = docs.filter($"doc_id" % 41 === 0)
    val plan = textops.Curate.contaminationSpans(
      textops.Curate.plantEvalLeak(docs, evalDocs), evalDocs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must be one map-side pass:\n$plan")
  }
}
