package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.webtext.{AsofJoin, HostCap, Mojibake, Templates}
import graft.textops.InvertedIndex

/** Unit semantics for the round-4 late-session ops: host-grain template
  * stripping, as-of join, per-host cap, phrase index, mojibake repair. */
class SessionOps4Spec extends AnyFunSuite {
  import SparkSuite._
  import spark.implicits._

  // ---- Mojibake.repair kernel (pure function, exhaustive cases) ----

  test("mojibake: UTF-8-as-Latin-1 damage repairs byte-exactly") {
    val clean = "café naïve résumé — done"
    val mangled = new String(clean.getBytes("UTF-8"), "ISO-8859-1")
    assert(mangled != clean)
    assert(Mojibake.repair(mangled) == clean)
  }

  test("mojibake: pure ASCII, genuine Latin-1, and >U+00FF text pass through") {
    assert(Mojibake.repair("plain ascii text") == "plain ascii text")
    // bare 0xE9 is invalid UTF-8 -> genuine Latin-1 prose stays untouched
    assert(Mojibake.repair("café au lait") == "café au lait")
    // already-repaired text contains chars > 0xFF -> fast-path passthrough
    assert(Mojibake.repair("café — déjà") == "café — déjà")
    assert(Mojibake.repair("") == "")
    assert(Mojibake.repair(null) == null)
  }

  test("mojibake: repair is idempotent over the mangle fuzz") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val s = (1 to rnd.nextInt(30)).map(_ => rnd.nextInt(0x250).toChar).mkString
      val r = Mojibake.repair(s)
      assert(Mojibake.repair(r) == r)
    }
  }

  test("mojibake: truncated multi-byte tail is NOT valid UTF-8 -> untouched") {
    // 0xC3 at end of string: strict decoder must reject, not replace
    val s = "abc" + 'Ã'
    assert(Mojibake.repair(s) == s)
  }

  // ---- AsofJoin.asof on handcrafted rows ----

  test("asof: inclusive tie, latest-wins, unmatched -> -1") {
    val snaps = Seq((1L, 100L, 0L), (1L, 200L, 1L), (2L, 500L, 0L))
      .toDF("k", "t", "version")
    val events = Seq(
      (10L, 1L, 99L),   // before first snapshot -> -1
      (11L, 1L, 100L),  // exact tie -> v0 (inclusive)
      (12L, 1L, 150L),  // between -> v0
      (13L, 1L, 200L),  // exact tie with v1 -> v1
      (14L, 1L, 999L),  // after all -> v1
      (15L, 2L, 499L)   // other key, before -> -1
    ).toDF("event_id", "k", "t").select("k", "t", "event_id")
    val got = AsofJoin.asof(snaps, events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      10L -> ((-1L, -1L)), 11L -> ((0L, 0L)), 12L -> ((0L, 50L)),
      13L -> ((1L, 0L)), 14L -> ((1L, 799L)), 15L -> ((-1L, -1L))))
  }

  // ---- Templates.templateStrip semantics ----

  test("template_strip: host-grain ratio — same line is template on one host, content on another") {
    // host A: 25 docs all sharing a banner line; doc 0 also carries `rare`
    // (1/25 = 4% of A -> keep); host B: 20 docs, four carry the SAME `rare`
    // line (4/20 = 20% of B -> strip). Corpus-global line_dedup (count >= 3)
    // could express neither decision.
    val banner = "one two three four five six seven eight"
    val rare = "r1 r2 r3 r4 r5 r6 r7 r8"
    val body = (i: Int) => s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"
    val a = (0 until 25).map(i =>
      (i.toLong, "a", banner + " " + (if (i == 0) rare + " " else "") + body(i)))
    val b = (100 until 120).map(i =>
      (i.toLong, "b", (if (i < 104) rare + " " else "") + body(i)))
    val docs = (a ++ b).toDF("doc_id", "host", "text")
    val got = Templates.templateStrip(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == body(1))               // banner stripped (25/25 >= 10%)
    assert(got(0L) == rare + " " + body(0))  // rare kept on A (4% < 10%)
    assert(got(100L) == body(100))           // rare stripped on B (20% >= 10%)
    assert(got(110L) == body(110))
  }

  test("template_strip: exact threshold boundary — n*den == hd*num strips") {
    // 20 docs; boundary line in exactly 2 -> 2*10 >= 20*1 -> template at the
    // boundary; unique body lines (1/20 = 5%) survive
    val line = "b1 b2 b3 b4 b5 b6 b7 b8"
    val body = (i: Int) => s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"
    val docs = (0 until 20).map(i =>
      (i.toLong, "h", (if (i < 2) line + " " else "") + body(i))).toDF("doc_id", "host", "text")
    val got = Templates.templateStrip(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == body(0))
    assert(got(5L) == body(5))
  }

  // ---- HostCap ----

  test("host_cap_sample: at most cap rows per host, rank dense from 1") {
    val docs = spark.range(0, 700).select(col("id").as("doc_id"))
    val got = HostCap.hostCapSample(docs, cap = 5)
    val byHost = got.groupBy("host").agg(count(lit(1)).as("n"), max("rk").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byHost.length == 7)
    assert(byHost.forall { case (_, n, m) => n == 5 && m == 5 })
    // deterministic across runs
    assert(got.collect().sortBy(_.getLong(0)).sameElements(
      HostCap.hostCapSample(docs, cap = 5).collect().sortBy(_.getLong(0))))
  }

  // ---- Soft404 ----

  test("soft404: error page main text is exactly the apology; detection truth table") {
    import graft.webtext.{MainContent, Soft404}
    assert(MainContent.extract(Soft404.errorPage(42L)) == Soft404.Apology)
    val pages = Seq(
      (13L, Soft404.errorPage(13L)),                       // 404 title -> soft404
      (1L, graft.webtext.HtmlGen.page(1L, "w1 w2 w3 w4 w5 w6 w7 w8 " * 10 + "end")),
      // blank title, tiny apology content -> fallback fires
      (2L, "<html><head><title></title></head><body><div><p>" +
        Soft404.Apology + "</p></div></body></html>"),
      // tiny but benign content -> NOT soft404
      (3L, "<html><body><div><p>short benign page here</p></div></body></html>"),
      // the bare-number trap: a normal page whose ID puts "404" in the title
      // must NOT be flagged (phrase markers, not substring)
      (404L, graft.webtext.HtmlGen.page(404L, "w1 w2 w3 w4 w5 w6 w7 w8 " * 10 + "end"))
    ).toDF("doc_id", "html")
    val got = Soft404.detect(pages).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(13L) == ((1L, 8L)))
    assert(got(1L)._1 == 0L && got(1L)._2 == 81L)
    assert(got(2L) == ((1L, 8L)))
    assert(got(3L) == ((0L, 4L)))
    assert(got(404L)._1 == 0L)
  }

  // ---- ExtractionEval ----

  test("extraction_prf: multiset overlap, trunc-division bp, empty-extraction convention") {
    import graft.webtext.ExtractionEval
    val docs = Seq(
      (1L, "a b c d", "a b c d"),   // perfect
      (2L, "a a b", "a x"),         // inter=1 (multiset: one 'a'), P=5000, R=3333
      (3L, "a b", "")               // empty extraction -> P=0, R=0, F1=0
    ).toDF("doc_id", "gold", "extracted")
    val got = ExtractionEval.prf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got(1L) == ((4L, 4L, 4L, 10000L, 10000L, 10000L)))
    assert(got(2L) == ((3L, 2L, 1L, 5000L, 3333L, 3999L)))
    assert(got(3L) == ((2L, 0L, 0L, 0L, 0L, 0L)))
  }

  // ---- IndexDelta ----

  test("index_delta: changed docs tombstone old terms and upsert new ones") {
    import graft.textops.IndexDelta
    val oldD = Seq((1L, "a b c"), (2L, "x y"), (3L, "k l")).toDF("doc_id", "text")
    // doc 1 changed ("a b" stays in both sets -> both upsert AND tombstone),
    // doc 2 removed, doc 4 added; doc 3 unchanged -> no activity at all
    val newD = Seq((1L, "a b z"), (3L, "k l"), (4L, "p q")).toDF("doc_id", "text")
    val got = IndexDelta.indexDelta(oldD, newD).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a b" -> ((1L, 1L)), "b c" -> ((0L, 1L)), "b z" -> ((1L, 0L)),
      "x y" -> ((0L, 1L)), "p q" -> ((1L, 0L))))
  }

  // ---- HllSketchAgg ----

  test("hll: splitmix64 matches the reference vectors; sketch equals a driver recompute") {
    import graft.expr.HllSketchAgg
    // reference: splitmix64(0) and splitmix64(1) published test vector values
    assert(graft.textops.TextHash.splitmix64(0L) == java.lang.Long.parseUnsignedLong("16294208416658607535"))
    assert(graft.textops.TextHash.splitmix64(1L) == java.lang.Long.parseUnsignedLong("10451216379200822465"))
    // sketch over a known value set == independent register recompute
    val vals = (0L until 5000L).map(i => (i % 7, i % 1300))
    val df = vals.toDF("g", "v")
    val got = df.groupBy("g").agg(HllSketchAgg.hllDistinct(col("v")).as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recompute(vs: Seq[Long]): Long = {
      val regs = new Array[Int](64)
      vs.foreach { v =>
        val h = graft.textops.TextHash.splitmix64(v)
        val idx = (h >>> 58).toInt
        val rest = h & ((1L << 58) - 1)
        val rho = if (rest == 0) 59 else 58 - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1
        if (regs(idx) < rho) regs(idx) = rho
      }
      val z2 = regs.map(r => BigInt(1) << (59 - r)).sum
      ((BigInt(709343) * 64 * 64 * (BigInt(1) << 59)) / (BigInt(1000000) * z2)).toLong
    }
    val expected = vals.groupBy(_._1).view.mapValues(g => recompute(g.map(_._2))).toMap
    assert(got == expected)
    // raw-regime accuracy: each group has ~1300/7-aliased... true distincts
    val exact = vals.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    got.foreach { case (g, a) =>
      assert(math.abs(a - exact(g)).toDouble / exact(g) < 0.5,
        s"group $g approx $a vs exact ${exact(g)}")
    }
  }

  test("hll: merge is per-register max — partition count cannot change the sketch") {
    import graft.expr.HllSketchAgg
    val df1 = spark.range(0, 4000).select(lit(1L).as("g"), (col("id") % 997).as("v"))
    val a1 = df1.repartition(1).groupBy("g").agg(HllSketchAgg.hllDistinct(col("v")).as("a")).collect()(0).getLong(1)
    val a32 = df1.repartition(32).groupBy("g").agg(HllSketchAgg.hllDistinct(col("v")).as("a")).collect()(0).getLong(1)
    assert(a1 == a32)
  }

  // ---- CmsSketchAgg ----

  test("cms: estimate >= exact always; exact for planted uncollided keys; partition-invariant") {
    import graft.expr.CmsSketch
    import graft.textops.TextHash
    // stream: value k appears k times, k in 1..200
    val vals = (1 to 200).flatMap(k => Seq.fill(k)(k.toLong))
    val keyed = vals.toDF("v").as[Long].map(v => TextHash.fnv64("term" + v)).toDF("f")
    val sk1 = keyed.repartition(1).agg(CmsSketch.cmsSketch(col("f")).as("sk")).collect()(0).getAs[Array[Byte]](0)
    val sk8 = keyed.repartition(8).agg(CmsSketch.cmsSketch(col("f")).as("sk")).collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sk1, sk8), "merge must be partition-count-invariant")
    (1 to 200).foreach { k =>
      val est = CmsSketch.query(sk1, TextHash.fnv64("term" + k), 4, 1024)
      assert(est >= k, s"CMS underestimated key $k: $est")
    }
    // absent keys: min over 4 rows of a 200-key / 4096-counter table is
    // overwhelmingly 0; assert at least one planted absent key reads 0
    assert((1 to 20).exists(j => CmsSketch.query(sk1, TextHash.fnv64("absent" + j), 4, 1024) == 0L))
  }

  test("cms: query expression equals the static kernel and stays codegen") {
    import graft.expr.CmsSketch
    import graft.textops.TextHash
    val keyed = (1L to 500L).map(v => TextHash.fnv64("k" + (v % 37))).toDF("f")
    val sk = keyed.agg(CmsSketch.cmsSketch(col("f")).as("sk"))
    val keys = (0L until 37L).map(i => (i, TextHash.fnv64("k" + i))).toDF("i", "kf")
    val out = keys.crossJoin(broadcast(sk))
      .select(col("i"), CmsSketch.cmsQuery(col("sk"), col("kf")).as("est"))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val skBytes = sk.collect()(0).getAs[Array[Byte]](0)
    (0L until 37L).foreach { i =>
      assert(got(i) == CmsSketch.query(skBytes, TextHash.fnv64("k" + i), 4, 1024))
      assert(got(i) >= (if (i == 0) 13L else 13L)) // every residue appears 13 or 14 times
    }
  }

  // ---- LengthStats / UrlTemplates ----

  test("length_quantiles: bin thresholds exact at boundaries") {
    import graft.textops.LengthStats
    // 10 docs: lengths 1,2,4,...,512 -> bins 0..9, one each; p50 = 5th
    // cumulative (bin 4 -> 16), p90 = 9th (bin 8 -> 256), p99 = 10th (512)
    val docs = (0 until 10).map(i => (i.toLong, 1L << i)).toDF("doc_id", "n_chars")
    val r = LengthStats.lengthQuantiles(docs).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((10L, 16L, 256L, 512L)))
  }

  test("exact_quantiles: type-1 inverse-CDF over the value domain, driver-recomputed at sf0.001") {
    import graft.textops.LengthStats
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lens = docs.select("text").collect().map(_.getString(0).length.toLong).sorted
    val n = lens.length.toLong
    val expected = Seq(2500L, 5000L, 7500L, 9000L, 9900L).map { q =>
      val rnk = (q * n + 9999L) / 10000L
      (q, rnk, lens((rnk - 1).toInt))
    }
    val got = LengthStats.exactQuantiles(docs).orderBy("q_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // boundary exactness on a hand case: 4 docs of lengths 1,2,3,4 ->
    // p2500 rank ceil(0.25*4)=1 -> 1; p5000 rank 2 -> 2; p9900 rank 4 -> 4
    val tiny = Seq((0L, "a"), (1L, "ab"), (2L, "abc"), (3L, "abcd")).toDF("doc_id", "text")
    val t = LengthStats.exactQuantiles(tiny).orderBy("q_bp").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(t == Map(2500L -> 1L, 5000L -> 2L, 7500L -> 3L, 9000L -> 4L, 9900L -> 4L))
  }

  test("batch_schedule: duplicates never share a batch; waves and shards exact") {
    import graft.textops.{BatchSchedule, TextHash}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val planted = BatchSchedule.plantTwins(docs)
    val got = BatchSchedule.dedupSafeBatches(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == docs.count() * 2)
    val byId = got.map(r => r._1 -> r).toMap
    // twins: base doc wave 1, twin wave 2; batches in disjoint wave ranges
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      val (b, t) = (byId(id), byId(id + graft.textops.Dedup.PlantOffset))
      assert(b._2 == 1L && t._2 == 2L, s"waves for $id: $b $t")
      assert(b._4 != t._4, s"twin shares batch for $id")
      assert(b._4 >= 0 && b._4 < 4 && t._4 >= 4 && t._4 < 8)
      // shard replays the salted FNV split exactly
      assert(b._3 == java.lang.Long.remainderUnsigned(TextHash.fnv64(s"batch:$id"), 4L))
    }
    // hash split actually spreads wave-1 across all shards
    val wave1Shards = got.filter(_._2 == 1L).map(_._3).toSet
    assert(wave1Shards == Set(0L, 1L, 2L, 3L))
  }

  test("epoch_schedule: inverse-multiplicity epoch budget per unique text") {
    import graft.textops.BatchSchedule
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = BatchSchedule.epochSchedule(BatchSchedule.plantCopies(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // texts are unique per doc, so groups are exactly the plant: size id%4+1,
    // representative = the base id (planted copies all have larger ids)
    val want = docs.select("doc_id").collect().map(_.getLong(0)).sorted.map { id =>
      val c = id % 4 + 1
      val e = math.max(1L, 4L / c)
      (id, c, e, c * e)
    }
    assert(got.toSeq == want.toSeq)
    // schedule caps repeats: singletons get the full budget, quadruples 1
    assert(got.filter(_._2 == 1L).forall(_._3 == 4L))
    assert(got.filter(_._2 == 4L).forall(_._3 == 1L))
  }

  test("split_leakproof: duplicates never straddle the split; draw replayed exactly") {
    import graft.textops.{BatchSchedule, TextHash}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = BatchSchedule.plantTwins(docs)
    val rows = graft.textops.TrainSplit.splitLeakproof(got).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = rows.map(r => r._1 -> r).toMap
    var moved = 0L
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      val (b, t) = (byId(id), byId(id + graft.textops.Dedup.PlantOffset))
      // structural guarantee: twins carry the same final split
      assert(b._3 == t._3, s"split leak for $id: $b $t")
      // raw draw replays FNV("split:"||id) mod 100 < 10
      def raw(i: Long) =
        if (java.lang.Long.remainderUnsigned(TextHash.fnv64(s"split:$i"), 100L) < 10L) 1L else 0L
      assert(b._2 == raw(id) && t._2 == raw(id + graft.textops.Dedup.PlantOffset))
      // final = min over the group; moved audits the difference
      val m = math.min(b._2, t._2)
      assert(b._3 == m && b._4 == (if (b._2 != m) 1L else 0L))
      moved += b._4 + t._4
    }
    assert(moved > 0, "plant produced no leakage moves — test is vacuous")
    assert(rows.exists(_._3 == 1L), "degenerate split: no test docs survived")
  }

  test("url_templates: digit runs collapse, mixed-run paths group correctly") {
    import graft.webtext.UrlTemplates
    val urls = Seq(
      ("h", "/a/12/b34.html"), ("h", "/a/999/b1.html"),  // same template
      ("h", "/plain/path"), ("g", "/a/12/b34.html")      // no digits; other host
    ).toDF("host", "path")
    val got = UrlTemplates.templates(urls).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("h", "/a/{n}/b{n}.html") -> 2L, ("h", "/plain/path") -> 1L,
      ("g", "/a/{n}/b{n}.html") -> 1L))
  }

  // ---- SequencePack ----

  test("sequence_pack: offsets exact, boundary spans, partitioning-invariant") {
    import graft.textops.SequencePack
    // docs of 10 tokens each, budget 16: doc i occupies [11i, 11i+10]
    val docs = (0 until 40).map(i =>
      (i.toLong, (1 to 10).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val got = SequencePack.pack(docs, budget = 16L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    (0 until 40).foreach { i =>
      val start = 11L * i
      assert(got(i.toLong) == ((10L, start, start / 16, (start + 10) / 16)), s"doc $i")
    }
    // doc 1 spans sequences 0..1 (tokens 11..21 cross offset 16)
    assert(got(1L)._3 == 0L && got(1L)._4 == 1L)
    // partition invariance: same output under forced skewed partitioning
    val got2 = SequencePack.pack(docs.repartition(13), budget = 16L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got2 == got)
  }

  test("shard_pack: whole docs per shard, bounded overflow, partitioning-invariant") {
    import graft.textops.SequencePack
    // docs of 100 bytes each, shard size 256: shard flips every ~2.56 docs
    val docs = (0 until 20).map(i => (i.toLong, "x" * 100)).toDF("doc_id", "text")
    val got = SequencePack.shardByBytes(docs, shardBytes = 256L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (0 until 20).foreach { i =>
      assert(got(i.toLong) == ((100L, 100L * i, (100L * i) / 256)), s"doc $i")
    }
    // a doc is never split: shard id is a single value per doc, and per-shard
    // bytes overflow by at most one doc (max 100 bytes here)
    val perShard = got.values.groupBy(_._3).map { case (s, v) => s -> v.map(_._1).sum }
    perShard.foreach { case (s, b) => assert(b <= 256 + 100, s"shard $s has $b bytes") }
    val got2 = SequencePack.shardByBytes(docs.repartition(7), shardBytes = 256L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got2 == got)
  }

  // ---- Chunker ----

  test("chunker: window/stride truth table and full coverage") {
    import graft.textops.Chunker
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(10)),   // short: one chunk of 10
      (2L, words(64)),   // exact window: one chunk
      (3L, words(65)),   // one past: two chunks, second covers 49..65
      (4L, words(160))   // ceil((160-64)/48)+1 = 3 chunks
    ).toDF("doc_id", "text")
    val got = Chunker.chunk(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got.keys.count(_._1 == 1L) == 1 && got((1L, 0L))._1 == 10L)
    assert(got.keys.count(_._1 == 2L) == 1 && got((2L, 0L))._1 == 64L)
    assert(got.keys.count(_._1 == 3L) == 2)
    assert(got((3L, 1L)) == ((17L, (49 to 65).map(i => s"w$i").mkString(" "))))
    assert(got.keys.count(_._1 == 4L) == 3)
    assert(got((4L, 2L))._1 == 64L) // 97..160
    // consecutive chunks overlap by window - stride = 16 words
    val c0 = got((4L, 0L))._2.split(" ")
    val c1 = got((4L, 1L))._2.split(" ")
    assert(c0.takeRight(16).sameElements(c1.take(16)))
    // every word of doc 4 appears in some chunk
    val covered = (0L to 2L).flatMap(i => got((4L, i))._2.split(" ")).toSet
    assert(covered == (1 to 160).map(i => s"w$i").toSet)
  }

  // ---- BpeTrain ----

  test("bpe: hand-derivable corpus, overlap counting, greedy-left application, tie-break") {
    import graft.textops.BpeTrain
    assert(BpeTrain.foldMerge(List("a", "a", "a"), "a", "a") == List("aa", "a"))
    assert(BpeTrain.foldMerge(List("a", "b", "a", "b"), "a", "b") == List("ab", "ab"))
    // corpus: 'aab' x3, 'ab' x2 -> pairs: (a,a)=3, (a,b)=5 -> merge1 (a,b) f=5
    // after: aab -> [a, ab] x3, ab -> [ab] x2 -> pairs: (a,ab)=3 -> merge2
    val docs = Seq((1L, "aab aab ab"), (2L, "aab ab")).toDF("doc_id", "text")
    val got = BpeTrain.train(docs, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toList == List((1L, "a", "b", 5L), (2L, "a", "ab", 3L)))
  }

  test("bpe: sf0.001 merges equal the independent local recompute") {
    import graft.textops.BpeTrain
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = BpeTrain.train(docs, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    // local recompute with identical semantics
    val wf = docs.select("text").collect().iterator
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long]) { (m, w) => m.updated(w, m.getOrElse(w, 0L) + 1L) }
    var vocab = wf.toList.map { case (w, f) => (w.toList.map(_.toString), f) }
    val exp = (1 to 4).map { r =>
      val pc = vocab.foldLeft(Map.empty[(String, String), Long]) { case (m, (toks, f)) =>
        toks.zip(toks.drop(1)).foldLeft(m)((m2, p) => m2.updated(p, m2.getOrElse(p, 0L) + f))
      }
      val ((a, b), c) = pc.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (t, f) => (BpeTrain.foldMerge(t, a, b), f) }
      (r.toLong, a, b, c)
    }.toList
    assert(got == exp)
  }

  // ---- InvertedIndex ----

  test("phrase index: df floor, posting cap, tf counts") {
    val docs = Seq(
      (1L, "a b a b"),      // bigrams: "a b" x2, "b a" x1
      (2L, "a b c"),        // "a b" x1, "b c" x1
      (3L, "x")             // no bigram (single word)
    ).toDF("doc_id", "text")
    val got = InvertedIndex.phraseIndex(docs, minDf = 2L, maxPostings = 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // only "a b" reaches df 2; cap=1 keeps just doc 1's posting
    assert(got == Map("a b" -> ((2L, 3L, "1:2"))))
  }
}
