package graft

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

class CusumSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.events.Cusum

  test("hourlyBursts matches a driver-side recurrence recompute on sf0.001 (plant included)") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val raw = events.select("event_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[LocalDateTime](2)))
    val plantedBase = 1705320000L / 3600L // epoch('2024-01-15 12:00') // 3600
    val buckets = scala.collection.mutable.Map.empty[(String, Long), Long].withDefaultValue(0L)
    raw.foreach { case (id, t, ts) =>
      buckets((t, ts.toEpochSecond(java.time.ZoneOffset.UTC) / 3600L)) += 1
      if (id % 5 == 0) buckets((t, plantedBase + id % 3)) += 1
    }
    val expected = buckets.keys.map(_._1).toSeq.distinct.sorted.flatMap { t =>
      val bs = buckets.collect { case ((`t`, b), n) => b -> n }
      val (lo, hi) = (bs.keys.min, bs.keys.max)
      val h = hi - lo + 1
      val total = bs.values.sum
      val thr = (total + h - 1) / h + 1
      var s = 0L
      (lo to hi).map { b =>
        val n = bs.getOrElse(b, 0L)
        s = math.max(0L, s + n - thr)
        (t, b, n, thr, s, if (s >= thr + 2) 1L else 0L)
      }
    }
    val got = Cusum.hourlyBursts(Cusum.plantBurst(events)).orderBy("event_type", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    val bursts = got.count(_._6 == 1L)
    assert(bursts > 0 && bursts < got.length / 2, s"degenerate burst rate $bursts/${got.length}")
  }

  test("CUSUM hand case: alarm on the spike, drain through quiet and empty buckets") {
    import spark.implicits._
    val h0 = LocalDateTime.of(2024, 3, 1, 0, 30)
    def at(hoursLater: Int, k: Int) =
      (0 until k).map(i => (100L * hoursLater + i, "a", h0.plusHours(hoursLater.toLong)))
    // counts per hour: 12, 0, 1, 3 -> total 16 over H=4, thr = ceil(4)+1 = 5
    val ev = (at(0, 12) ++ at(2, 1) ++ at(3, 3)).toDF("event_id", "event_type", "ts")
    val got = Cusum.hourlyBursts(ev).orderBy("bucket").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // S: max(0,12-5)=7 ALARM(>=7); 7-5=2; max(0,2+1-5)=0; max(0,3-5)=0
    assert(got == Seq((12L, 5L, 7L, 1L), (0L, 5L, 2L, 0L), (1L, 5L, 0L, 0L), (3L, 5L, 0L, 0L)))
  }
}

class ZOrderSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.layout.ZOrder

  test("morton interleave puts d1 in odd and d2 in even bit positions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val r = Seq((21L, 10L)).toDF("d1", "d2")
      .select(ZOrder.morton(col("d1"), col("d2"), 5).as("z")).head.getLong(0)
    // d1=0b10101 -> bits 1,5,9; d2=0b01010 -> bits 2,6
    assert(r == (2L + 32L + 512L) + (4L + 64L))
  }

  test("layout audit: every file is an 8x8 tile and z-order prunes the second dim, a linear sort doesn't") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val audit = ZOrder.layoutAudit(docs).orderBy("file_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(audit.map(_._2).sum == docs.count())
    audit.foreach { f =>
      assert(f._4 - f._3 <= 7 && f._6 - f._5 <= 7, s"file not an 8x8 tile: $f")
    }
    // data-skipping audit: files whose [min_d2, max_d2] covers a probe value,
    // vs the same file count under a doc_id-sorted linear 16-file layout
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).length.toLong % 32L)).sortBy(_._1)
    val chunk = math.max(1, (rows.length + 15) / 16)
    val linear = rows.grouped(chunk).map(g => (g.map(_._2).min, g.map(_._2).max)).toSeq
    val probes = 0L until 32L
    val zHits = probes.map(c => audit.count(f => f._5 <= c && c <= f._6)).sum
    val linHits = probes.map(c => linear.count(f => f._1 <= c && c <= f._2)).sum
    assert(zHits * 2 <= linHits, s"z-order should prune d2 at least 2x: z=$zHits linear=$linHits")
  }
}

class FuzzyJoinSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.FuzzyJoin

  private def lev(a: String, b: String): Long = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length).toLong
  }

  test("linkTitles matches a driver-side blocked-levenshtein recompute on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val a = rows.map { case (i, t) => i -> t.take(40) }
    val b = rows.map { case (i, t) =>
      (i + 1000000L) -> (if (i % 5 == 0) t.take(40).reverse else t.take(40) + s" v${i % 3}")
    }
    val expected = (for {
      (ai, ta) <- a.toSeq; (bi, tb) <- b.toSeq
      if ta.take(8) == tb.take(8)
      d = lev(ta, tb) if d <= 3
    } yield (ai, bi, d)).sortBy(p => (p._1, p._2))
    val got = FuzzyJoin.linkTitles(FuzzyJoin.catalogA(docs), FuzzyJoin.catalogB(docs))
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // every suffix twin matches (lev exactly 3); no reversed twin does
    val twins = got.filter(p => p._2 - p._1 == 1000000L)
    assert(twins.length == rows.keys.count(_ % 5 != 0) && twins.forall(_._3 == 3L))
    assert(!got.exists(p => p._2 - p._1 == 1000000L && p._1 % 5 == 0))
  }
}

class FunnelSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.events.Funnel

  test("funnel matches a driver-side recompute on sf0.001 and fills all levels") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val evs = events.select("user_id", "event_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getAs[LocalDateTime](3).toEpochSecond(java.time.ZoneOffset.UTC)))
    val W = 14400L
    val expected = evs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (u, es) =>
      val ks = es.map(e => (e._4 * 10000000L + e._2, e._3, e._4)).sortBy(_._1)
      val views = ks.filter(_._2 == "view")
      if (views.isEmpty) None
      else {
        val vk = views.head._1
        val ck = ks.collectFirst { case (k, "click", s)
          if views.exists(v => v._1 < k && s - v._3 <= W) => k }
        val pk = ck.flatMap(c => ks.collectFirst { case (k, "purchase", s)
          if k > c && s - c / 10000000L <= W => k })
        Some((u, 1L + ck.size + pk.size, vk / 10000000L,
          ck.map(_ / 10000000L).getOrElse(-1L), pk.map(_ / 10000000L).getOrElse(-1L)))
      }
    }
    val got = Funnel.funnel(events).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.map(_._2).toSet == Set(1L, 2L, 3L), "all funnel levels must appear")
  }

  test("funnel hand case: window rejection, ordering, any-view attribution") {
    import spark.implicits._
    val t0 = LocalDateTime.of(2024, 5, 1, 8, 0)
    val ev = Seq(
      // u1: click 5h after the only view -> outside W, reached 1
      (1L, 10L, "view", t0), (1L, 11L, "click", t0.plusHours(5)),
      // u2: click in window, purchase 10h after click -> reached 2
      (2L, 20L, "view", t0), (2L, 21L, "click", t0.plusHours(1)),
      (2L, 22L, "purchase", t0.plusHours(11)),
      // u3: full funnel inside windows; the click converts the SECOND view
      (3L, 30L, "view", t0), (3L, 31L, "view", t0.plusHours(6)),
      (3L, 32L, "click", t0.plusHours(7)), (3L, 33L, "purchase", t0.plusHours(8)),
      // u4: click strictly before any view -> reached 1
      (4L, 40L, "click", t0.minusHours(1)), (4L, 41L, "view", t0)
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = Funnel.funnel(ev).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 1L)))
  }
}

class HyperBallSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.webtext.{HostRank, HyperBall}

  test("reach matches a driver-side sketch+closure recompute on the sf0.001 graph") {
    import graft.expr.HllSketchAgg
    import graft.textops.TextHash
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val und = scala.collection.mutable.Set.empty[(Long, Long)]
    for (i <- ids) {
      val es = Seq((i % 7, (2 * i + 1) % 7)) ++
        (if (i % 3 == 0) Seq((i % 7, (3 * i + 2) % 7)) else Nil) ++
        (if (i % 5 < 2) Seq((i % 7, 0L)) else Nil)
      es.foreach { case (s, d) => if (s != d) und += ((math.min(s, d), math.max(s, d))) }
    }
    val hosts = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
    val adj = hosts.map(h => h -> (und.collect {
      case (a, b) if a == h => b; case (a, b) if b == h => a }.toSet + h)).toMap
    def name(h: Long) = s"site$h.example.com"
    var state = hosts.map { h =>
      val hv = graft.textops.TextHash.splitmix64(TextHash.fnv64(name(h)))
      val rest = hv & ((1L << 58) - 1)
      val rho = if (rest == 0L) 59L
        else 58L - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1L
      h -> Map((hv >>> 58) -> rho)
    }.toMap
    var balls = hosts.map(h => h -> Set(h)).toMap
    val num = BigInt(709343) * 64 * 64 * (BigInt(1) << 59)
    val expected = (1 to 3).flatMap { r =>
      state = hosts.map { h =>
        h -> adj(h).flatMap(state(_).toSeq).groupBy(_._1).map { case (i, vs) => i -> vs.map(_._2).max }
      }.toMap
      balls = hosts.map(h => h -> adj(h).flatMap(balls(_))).toMap
      hosts.map { h =>
        val z2 = (0 until 64).map(i => BigInt(1) << (59 - state(h).getOrElse(i.toLong, 0L)).toInt).sum
        (name(h), r.toLong, (num / (BigInt(1000000) * z2)).toLong, balls(h).size.toLong)
      }
    }.sortBy(p => (p._1, p._2))
    val got = HyperBall.reach(HostRank.hostEdges(docs)).orderBy("host", "r")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // monotone balls; the connected host graph saturates within diameter
    got.groupBy(_._1).values.foreach { rs =>
      val ex = rs.sortBy(_._2).map(_._4)
      assert(ex == ex.sorted, s"ball_exact must be monotone: $rs")
    }
    assert(got.filter(_._2 == 3L).forall(_._4 == hosts.length.toLong),
      "every host reaches the whole connected graph by r=3")
  }
}

class RangeJoinSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.events.RangeJoin

  test("bucketized containment join equals the direct BETWEEN join on sf0.001") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val evs = events.select("event_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[LocalDateTime](2).toEpochSecond(java.time.ZoneOffset.UTC)))
    val ivs = evs.filter(_._1 % 97 == 0).map(e => (e._1, e._3, e._3 + 5400L))
    val pts = evs.filter(_._2 == "error").map(e => (e._1, e._3))
    val expected = (for {
      (i, lo, hi) <- ivs; (e, s) <- pts if s >= lo && s <= hi
    } yield (i, e, s)).sortBy(p => (p._1, p._2)).toSeq
    val got = RangeJoin.containJoin(
        RangeJoin.incidentWindows(events), RangeJoin.errorPoints(events))
      .orderBy("iv_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("range join hand case: inclusive bounds, bucket-boundary straddling") {
    import spark.implicits._
    // interval [1000, 6400] spans buckets 0..3 at B=1800; points at the exact
    // bounds are IN, one past is OUT; point 5000 sits in an interior bucket
    val iv = Seq((1L, 1000L, 6400L)).toDF("iv_id", "lo", "hi")
    val pt = Seq((10L, 999L), (11L, 1000L), (12L, 1800L), (13L, 5000L),
      (14L, 6400L), (15L, 6401L)).toDF("event_id", "sec")
    val got = RangeJoin.containJoin(iv, pt).collect().map(_.getLong(1)).sorted.toSeq
    assert(got == Seq(11L, 12L, 13L, 14L))
  }

  test("range join plans as an equi-join: no nested-loop, no cartesian") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val plan = RangeJoin.containJoin(
        RangeJoin.incidentWindows(events), RangeJoin.errorPoints(events))
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must stay keyed:\n$plan")
  }
}

/** The rule is pinned on two fresh sessions of the suite's context, so no
  * earlier suite's queries can have given either of them the rule: a bare
  * one, where the naive join must nested-loop, and one with
  * [[graft.plans.GraftExtensions]] installed, where it must not. */
class RangeJoinRuleSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.events.RangeJoin
  import graft.plans.GraftExtensions
  import org.apache.spark.sql.{DataFrame, SparkSession}

  import org.apache.spark.sql.functions.col

  private lazy val bare: SparkSession = spark.newSession()
  private lazy val installed: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s
  }

  private def inputs(s: SparkSession): (DataFrame, DataFrame) = {
    val events = s.read.parquet(s"$sf/events.parquet")
    (RangeJoin.incidentWindows(events), RangeJoin.errorPoints(events))
  }

  private def naive(iv: DataFrame, pt: DataFrame) =
    iv.join(pt, col("sec") >= col("lo") && col("sec") <= col("hi"))
      .select("iv_id", "event_id", "sec")

  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  test("the optimizer rule rewrites the naive BETWEEN join to an equi-join, result-identical") {
    val (bIv, bPt) = inputs(bare)
    val without = triples(naive(bIv, bPt))
    // sanity: without the rule, Catalyst bottoms out at a nested loop
    val naivePlan = finalPlan(naive(bIv, bPt))
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      s"expected the naive plan to nested-loop:\n$naivePlan")
    val (iv, pt) = inputs(installed)
    val q = naive(iv, pt)
    val plan = finalPlan(q)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule must produce a keyed join:\n$plan")
    val got = triples(q)
    assert(got == without && got.nonEmpty)
    // and it equals the hand-bucketized operator
    assert(got == triples(RangeJoin.containJoin(iv, pt)))
  }

  test("the rule handles the swapped orientation (points on the left)") {
    val (bIv, bPt) = inputs(bare)
    val expected = triples(naive(bIv, bPt))
    val (iv, pt) = inputs(installed)
    val q = pt.join(iv, col("sec") >= col("lo") && col("sec") <= col("hi"))
      .select("iv_id", "event_id", "sec")
    val plan = finalPlan(q)
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"swapped form must rewrite:\n$plan")
    assert(triples(q) == expected)
  }
}

class StreamRangeJoinSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.events.RangeJoin

  test("drained stream-static range join equals the batch pair set") {
    val events = spark.read.parquet(s"$sf/events.parquet")
    val batch = RangeJoin.containJoin(
        RangeJoin.incidentWindows(events), RangeJoin.errorPoints(events))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = pageplus.streaming.StreamingExtract.rangeJoinOnce(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }
}

class PprSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.webtext.HostRank

  test("pprRank matches a driver-side fixed-point recompute; unreachable hosts stay 0") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val edges = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    def site(x: Long) = s"site$x.example.com"
    for (i <- ids) {
      edges((site(i % 7), site((2 * i + 1) % 7))) += 1
      if (i % 3 == 0) edges((site(i % 7), site((3 * i + 2) % 7))) += 1
      if (i % 5 < 2) edges((site(i % 7), site(0))) += 1
    }
    val outw = edges.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val hosts = edges.keys.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
    val seed = site(0)
    var rank = hosts.map(h => h -> (if (h == seed) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val c = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for (((s, d), w) <- edges) c(d) += rank(s) * w * 8500L / (outw(s) * 10000L)
      rank = hosts.map(h => h -> ((if (h == seed) 150000L else 0L) + c(h))).toMap
    }
    val got = HostRank.pprRank(HostRank.hostEdges(docs), seed).orderBy("host")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == hosts.map(h => (h, rank(h))))
    // site6 has no in-edges: PPR mass cannot reach it — exactly 0
    assert(got.find(_._1 == site(6)).exists(_._2 == 0L))
    assert(got.find(_._1 == seed).exists(_._2 > 0L))
  }
}

class BudgetAllocSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.Curate

  test("largest-remainder allocation hits the budget exactly, within 1 of proportional") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Curate.budgetAlloc(docs).orderBy("host").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val total = got.map(_._2).sum
    assert(got.map(_._3).sum == 997L, "allocation must sum to the budget")
    got.foreach { case (h, n, a) =>
      val base = 997L * n / total
      assert(a == base || a == base + 1, s"$h alloc $a not within 1 of share $base")
    }
    // replay the remainder ranking exactly
    val r = (997L - got.map(p => 997L * p._2 / total).sum).toInt
    val winners = got.map(p => (p._1, 997L * p._2 % total))
      .sortBy(p => (-p._2, p._1)).take(r).map(_._1).toSet
    got.foreach { case (h, n, a) =>
      assert(a == 997L * n / total + (if (winners(h)) 1L else 0L))
    }
  }
}

class DsirSelectSpec extends AnyFunSuite {
  import SparkSuite._
  import graft.textops.Curate

  test("dsirSelect is the exact (weight DESC, id) head of dsirWeights, ranked") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val weights = Curate.dsirWeights(docs).select("doc_id", "weight_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = weights.sortBy(w => (-w._2, w._1)).take(100)
      .zipWithIndex.map { case ((id, w), i) => (id, w, i + 1L) }.toSeq
    val got = Curate.dsirSelect(docs).orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("dsirSelect top-k plans as TakeOrderedAndProject, not a global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Curate.dsirSelect(docs).queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"), s"expected TOAP:\n$plan")
  }
}
