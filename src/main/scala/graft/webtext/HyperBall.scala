package graft.webtext

import graft.expr.HllSketchAgg
import graft.textops.TextHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall neighborhood function (Boldi–Vigna 2013) — per-host reach
  * estimation |ball(v, r)| for growing radius r, the algorithm that made
  * centrality/diameter computable on web-scale graphs: exact reach needs
  * the all-pairs (host, member) closure (10^14 state at 10^7 hosts —
  * impossible), HyperBall replaces each node's reachable SET with an HLL
  * sketch and each BFS round with a register-wise max over neighbors, so
  * per-round state is nodes × m registers and per-round work is one
  * edge-grain join + one (node, register)-grain max — linear in edges,
  * independent of reach size.
  *
  * Integer contract (oracle-mirrored, shared with [[graft.expr.HllSketchAgg]]
  * p=6): node value = splitmix64(FNV-1a(host)), idx = top 6 bits, rho =
  * 58 − bitlen(rest) + 1 (rest = 0 → 59); estimate = the same
  * alpha·m²·2^59 BigInt trunc division as `hll_distinct`, raw regime (no
  * linear-counting branch — low-cardinality bias is expected and the test
  * graph shows it; the audit column carries exact reach). Sketch state is
  * kept SPARSE at (host, idx, rho) grain — absent registers are zero, the
  * estimator fills the 64-register grid at eval.
  *
  * Scale shape: per round, one equi-join of the adjacency (with self-loops,
  * so sketches are monotone) against the sparse register table + a
  * (host, idx) hash max — narrow rows, no all-pairs anywhere in the sketch
  * path. The exact `ball_exact` ride-along IS the all-pairs closure (the
  * thing HyperBall exists to avoid) — audit-only, dropped in production.
  * Per-round eager localCheckpoint truncates the loop lineage. */
object HyperBall {

  /** (host, r, ball_est, ball_exact) for r = 1..rounds over the undirected
    * host graph. */
  def reach(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val hosts = und.select(col("a").as("host"))
      .unionByName(und.select(col("b").as("host")))
      .distinct().localCheckpoint(true)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .unionByName(hosts.select(col("host").as("u"), col("host").as("v")))
      .distinct().localCheckpoint(true)

    var s = hosts.as[String].map { h =>
      val hv = TextHash.splitmix64(TextHash.fnv64(h))
      val rest = hv & ((1L << 58) - 1)
      val rho =
        if (rest == 0L) 59L
        else 58L - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1L
      (h, hv >>> 58, rho)
    }.toDF("host", "idx", "rho").localCheckpoint(true)
    var p = hosts.select(col("host"), col("host").as("member"))

    val num = BigInt(HllSketchAgg.AlphaNum) * 64 * 64 * (BigInt(1) << 59)
    val den0 = BigInt(HllSketchAgg.AlphaDen)
    val perRound = (1 to rounds).map { r =>
      s = adj.join(s.withColumnRenamed("host", "v"), Seq("v"))
        .groupBy(col("u").as("host"), col("idx"))
        .agg(max("rho").as("rho"))
        .localCheckpoint(true)
      p = adj.join(p.withColumnRenamed("host", "v"), Seq("v"))
        .select(col("u").as("host"), col("member"))
        .distinct().localCheckpoint(true)
      val est = s.groupBy("host")
        .agg(collect_list(struct(col("idx"), col("rho"))).as("regs"))
        .as[(String, Seq[(Long, Long)])]
        .map { case (h, regs) =>
          val m = regs.toMap
          val z2 = (0 until 64)
            .map(i => BigInt(1) << (59 - m.getOrElse(i.toLong, 0L)).toInt).sum
          (h, (num / (den0 * z2)).toLong)
        }.toDF("host", "ball_est")
      val exact = p.groupBy("host").agg(count(lit(1)).as("ball_exact"))
      est.join(exact, Seq("host"))
        .select(col("host"), lit(r.toLong).as("r"), col("ball_est"), col("ball_exact"))
    }
    perRound.reduce(_ unionByName _)
  }
}
