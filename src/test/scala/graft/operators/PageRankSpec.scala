package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], iters: Int = 10)
      : Map[Long, Double] =
    PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters = iters)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank"))
      .toMap

  /** Independent plain-double reference with the operator's rounding. */
  private def reference(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def r8(x: Double) = BigDecimal.valueOf(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r10(x: Double) = BigDecimal.valueOf(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    var rank = nodes.map(_ -> r8(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, BigDecimal]
        .withDefaultValue(BigDecimal(0))
      for (s <- nodes; d <- out(s))
        in(d) = in(d) + r10(rank(s) / out(s).size)
      rank = nodes.map(v =>
        v -> r8(0.15 / n + 0.85 * in(v).toDouble)).toMap
    }
    rank
  }

  test("matches an independent computation; ranks sum to ~1") {
    // ring + two chords; every node has in and out degree >= 1
    val n = 12L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i * 5 + 2) % n))).distinct
    val got = run(edges)
    val want = reference(edges, 10)
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"node $k")
    assert(math.abs(got.values.sum - 1.0) < 1e-5)
  }

  test("authority flows: the node everyone links to outranks the ring") {
    val hub = 0L
    val edges = (1L to 8L).flatMap(i =>
      Seq((i, hub), (i, i % 8 + 1))) ++ Seq((hub, 1L))
    val got = run(edges.distinct)
    // the hub is the argmax, and it dwarfs ring nodes that don't inherit
    // its own mass (node 1 is the hub's sole out-link, so it rides high)
    assert(got(hub) == got.values.max, s"hub not top: $got")
    assert(got(hub) > got(5L) * 4, s"hub not dominant over the ring: $got")
  }

  test("dangling nodes are refused with an actionable error") {
    val ex = intercept[IllegalArgumentException] {
      run(Seq((1L, 2L)))   // node 2 has no out-edge
    }
    assert(ex.getMessage.contains("out-degree"))
  }
}
