package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{HllSketchAgg, KmvSketchAgg}
import graft.textops.SequencePack
import graft.webtext.SnapshotOverlap

class Round5Spec extends AnyFunSuite {
  import SparkSuite._

  // ---- KMV sketch ----

  private def bruteKmv(vals: Seq[Long], k: Int): Seq[Long] =
    vals.distinct.map(graft.textops.TextHash.splitmix64).distinct
      .sortBy(h => h ^ Long.MinValue).take(k)

  test("kmv sketch equals brute-force bottom-k and is partition-invariant") {
    import spark.implicits._
    val vals = (0L until 3000L).map(i => i * 31 % 1700) // dups + spread
    val expected = bruteKmv(vals, 256)
    for (parts <- Seq(1, 3, 8)) {
      val got = spark.createDataset(vals).repartition(parts).toDF("v")
        .agg(KmvSketchAgg.kmvSketch(col("v")).as("s"))
        .collect()(0).getSeq[Long](0)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("kmv sketch below k keeps everything (exact regime)") {
    import spark.implicits._
    val vals = (0L until 100L)
    val got = spark.createDataset(vals).toDF("v")
      .agg(KmvSketchAgg.kmvSketch(col("v")).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(got == bruteKmv(vals, 256) && got.size == 100)
  }

  test("overlap estimates: exact when m < k, within KMV error when sketched") {
    import spark.implicits._
    // small sets: m < k -> est_union must EQUAL exact_union
    val a = (0L until 120L).toDF("v")
    val b = (60L until 180L).toDF("v")
    val r = SnapshotOverlap.overlap(a, b).collect()(0)
    val byName = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.getLong(byName("exact_union")) == 180L)
    assert(r.getLong(byName("exact_inter")) == 60L)
    assert(r.getLong(byName("est_union")) == 180L, "m<k regime must be exact")
    assert(r.getLong(byName("m")) == 180L)
    // large sets: 1.04/sqrt(256) ~ 6.5% -> assert within 20%
    val a2 = (0L until 6000L).toDF("v")
    val b2 = (3000L until 9000L).toDF("v")
    val r2 = SnapshotOverlap.overlap(a2, b2).collect()(0)
    val estU = r2.getLong(byName("est_union"))
    val estI = r2.getLong(byName("est_inter"))
    assert(math.abs(estU - 9000L) <= 1800L, s"est_union=$estU")
    assert(math.abs(estI - 3000L) <= 900L, s"est_inter=$estI")
  }

  test("kmv_overlap query matches a full Scala recompute of the fixture") {
    val row = SparkEntry.queries("kmv_overlap")(spark, sf).collect()(0)
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val a = ids.map(_ * 2L).toSet
    val b = ids.filter(_ % 7 != 3).map(i => i * 2 + (if (i % 5 == 1) 1L else 0L)).toSet ++
      ids.filter(_ % 11 == 0).map(i => (i + 1000000L) * 2)
    val sa = bruteKmv(a.toSeq, 256)
    val sb = bruteKmv(b.toSeq, 256)
    val mk = (sa ++ sb).distinct.sortBy(h => h ^ Long.MinValue).take(256)
    val m = mk.size.toLong
    val matches = mk.count(h => sa.contains(h) && sb.contains(h)).toLong
    val estU =
      if (m < 256) m
      else (BigInt(255) * (BigInt(1) << 64) / (BigInt(mk.last) & ((BigInt(1) << 64) - 1))).toLong
    val expect = Seq(256L, m, matches, matches * 10000L / m, estU,
      matches * estU / m, (a ++ b).size.toLong, a.intersect(b).size.toLong,
      math.abs(estU - (a ++ b).size) * 10000L / (a ++ b).size)
    val got = (0 until 9).map(row.getLong)
    assert(got == expect)
  }

  test("audience_overlap matrix: all pairs present, estimates bounded, within KMV error") {
    val rows = SparkEntry.queries("audience_overlap")(spark, sf).collect()
    assert(rows.length == 10, "5 event types -> 10 unordered pairs")
    val byName = rows.head.schema.fieldNames.zipWithIndex.toMap
    rows.foreach { r =>
      val m = r.getLong(byName("m")); val matches = r.getLong(byName("matches"))
      val estU = r.getLong(byName("est_union")); val exU = r.getLong(byName("exact_union"))
      val estI = r.getLong(byName("est_inter")); val exI = r.getLong(byName("exact_inter"))
      assert(matches >= 0 && matches <= m)
      // 1.04/sqrt(256) ~ 6.5%; generous 25% bound on both estimates
      assert(math.abs(estU - exU) * 4 <= exU, s"est_union=$estU exact=$exU")
      assert(math.abs(estI - exI) * 4 <= exI, s"est_inter=$estI exact=$exI")
    }
  }

  test("streaming KMV sketch equals the batch sketch estimate bit-for-bit") {
    import graft.webtext.SnapshotOverlap
    val batch = graft.events.AudienceOverlap.userDayKeys(
        spark.read.parquet(s"$sf/events.parquet"))
      .groupBy("event_type")
      .agg(KmvSketchAgg.kmvSketch(col("v")).as("s"))
      .select(col("event_type"), SnapshotOverlap.distinctEstimate("s", 256).as("kmv_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = SparkEntry.queries("stream_kmv_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.size == 5)
    // sf0.001 sits in the sub-k exact regime (~150 distinct/type); the
    // sketched regime is exercised at sf0.01 (driver + oracle validator)
    // and by the 6000-key synthetic overlap test above
    assert(batch.values.forall(_ > 100L), s"implausible distinct counts: $batch")
  }

  test("extraction_drift: identity, added/dropped masses, and char deltas per planted class") {
    val nWords = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1).length.toLong)
      .toMap
    val rows = SparkEntry.queries("extraction_drift")(spark, sf).collect()
    assert(rows.length == nWords.size)
    rows.foreach { r =>
      val id = r.getLong(0); val same = r.getLong(1); val cd = r.getLong(2)
      val added = r.getLong(3); val dropped = r.getLong(4)
      val isDrop = id % 4 == 0; val isPromo = id % 3 == 0
      assert(same == (if (!isDrop && !isPromo) 1L else 0L), s"doc $id identical")
      if (!isDrop) assert(dropped == 0L, s"doc $id dropped=$dropped")
      else assert(dropped == math.min(24L, nWords(id)), s"doc $id dropped=$dropped")
      if (!isPromo) assert(added == 0L, s"doc $id added=$added")
      else if (!isDrop) assert(added == 7L, s"doc $id added=$added")
      if (!isDrop && isPromo) assert(cd > 0)
      if (isDrop && !isPromo) assert(cd < 0)
      if (!isDrop && !isPromo) assert(cd == 0)
    }
  }

  test("heavy_hitters plan: broadcast candidate filter, no term-grain shuffle of non-candidates") {
    val df = SparkEntry.queries("heavy_hitters")(spark, sf)
    df.collect() // materialize under AQE so the final plan is the real one
    // the adaptive plan string appends an "== Initial Plan ==" section that
    // duplicates every exchange — pin the FINAL section only
    val full = df.queryExecution.executedPlan.toString
    val plan = full.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1,
      s"candidate filter must broadcast:\n$plan")
    // term-grain hash exchanges: the tiny pass-1 candidate distinct and the
    // exact-count agg of candidate-matching rows ONLY — never the raw stream
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"expected exactly 2 hash exchanges (candidate distinct + survivor agg):\n$plan")
  }

  test("cluster_canonical elects the max-score member (ties to lowest id), not first-crawled") {
    import graft.textops.Dedup
    val planted = Dedup.planted(spark.read.parquet(s"$sf/documents.parquet"))
    val clusters = Dedup.neardupClusters(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = planted.collect().map { r =>
      val ws = r.getString(1).split(" ", -1)
      r.getLong(0) -> ws.count(w => w == "the" || w == "a").toLong * 1000000L / ws.length
    }.toMap
    val got = SparkEntry.queries("cluster_canonical")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val members = clusters.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    assert(got.keySet == members.keySet)
    got.foreach { case (cid, (n, rep, repScore)) =>
      val ms = members(cid)
      assert(n == ms.size && ms.contains(rep), s"cluster $cid")
      val best = ms.map(i => (scores(i), -i)).max
      assert((repScore, -rep) == best, s"cluster $cid elected $rep/$repScore, expected $best")
    }
    assert(got.exists { case (cid, (n, rep, _)) => n > 1 && rep != cid },
      "fixture must exercise a non-min-id election")
  }

  test("stream-static as-of equals the batch as-of bit-for-bit") {
    import graft.webtext.AsofJoin
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = docs.count()
    val ev = spark.read.parquet(s"$sf/events.parquet").select(
      (col("event_id") % n).as("k"),
      TimeCols.ntzEpochSeconds(col("ts")).as("t"), col("event_id"))
    val batch = AsofJoin.asof(AsofJoin.plantSnapshots(docs), ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val streamed = SparkEntry.queries("stream_snapshot_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("xml_dir_ingest: file-landing path is byte-identical to the table path, non-PAGE rows survive") {
    import pageplus.data.PagesFromDocuments
    import pageplus.spark.{Pipeline, XmlDirIngest}
    val pages = PagesFromDocuments.clean(spark, sf).toDF()
    val dir = tempDir("graft_xmldir_spec_")
    XmlDirIngest.writeXmlDir(pages, dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "notpage.xml"),
      "<foo>not a PAGE document</foo>".getBytes("UTF-8"))
    val fromFiles = Pipeline.fulltext(XmlDirIngest.readXmlDir(spark, dir)).collect()
      .map(e => e.url -> e.extracted_text).toMap
    val fromTable = Pipeline.fulltext(pages).collect()
      .map(e => e.url -> e.extracted_text).toMap
    // every table-path url present with byte-identical text, plus the planted
    // non-PAGE file as a row (data never vanishes), extracting to empty
    assert(fromFiles.size == fromTable.size + 1)
    fromTable.foreach { case (u, t) => assert(fromFiles(u) == t, u) }
    assert(fromFiles("doc://notpage") == "")
  }

  // ---- greedy no-split packing ----

  test("packGreedy: no doc split, budget respected except oversize-alone, block-scoped bins") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = SequencePack.packGreedy(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // bin ids embed their block; offsets are contiguous within a bin
    rows.groupBy(_._4).foreach { case (bin, ds) =>
      val blocks = ds.map(_._3).distinct
      assert(blocks.length == 1 && bin / 256 == blocks.head, s"bin $bin crosses blocks")
      val sorted = ds.sortBy(_._1)
      var off = 0L
      sorted.foreach { case (_, n, _, _, o) => assert(o == off); off += n }
      val total = ds.map(_._2).sum
      assert(total <= 96L || ds.length == 1, s"bin $bin over budget with ${ds.length} docs")
    }
    // greedy: a bin closes only because the NEXT doc would not fit (or block edge)
    rows.sliding(2).foreach {
      case Array((_, _, blk1, bin1, _), (id2, n2, blk2, bin2, _)) =>
        if (blk1 == blk2 && bin2 == bin1 + 1) {
          val fill1 = rows.filter(_._4 == bin1).map(_._2).sum
          assert(fill1 + n2 > 96L, s"doc $id2 opened bin $bin2 but would have fit")
        }
      case _ =>
    }
  }

  test("packGreedy is partition-count invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = SequencePack.packGreedy(docs).collect().map(_.toSeq).sortBy(_.toString)
    for (parts <- Seq(1, 7)) {
      val got = SequencePack.packGreedy(docs.repartition(parts)).collect()
        .map(_.toSeq).sortBy(_.toString)
      assert(got.toSeq == base.toSeq, s"parts=$parts")
    }
  }
}
