package graft.operators

import graft.SparkSpec
import org.apache.spark.ReleaseLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Both sides of the local-vs-distributed gate ([[GraphGate]]) for every
  * operator behind it. Each operator runs at edge cap 0 (the distributed
  * rounds), at its default cap, and at `Int.MaxValue` and `1L << 32`
  * (driver-local, past the range of `limit`'s Int argument), each with
  * the broadcast cap at 0 (shuffle joins) and at its default; every run
  * must equal the first bit for bit. After each run the harness releases
  * the checkpoints its result reads, and every RDD the run persisted
  * must have been released by the code: none may still be persisted, and
  * none may have been freed by the ContextCleaner alone ([[ReleaseLog]]),
  * which is where a forgotten round checkpoint goes once a GC has made
  * it unreachable. */
class GraphGateSpec extends SparkSpec {
  import spark.implicits._

  private val caps = Seq(0L, 4000000L, Int.MaxValue.toLong, 1L << 32)
  private val broadcastCaps = Seq(0L, 2000000L)

  /** Rows as text with doubles as their raw bits, order-free. */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString(",")).sorted.toSeq

  /** Runs `op(localMaxEdges, broadcastMax)` on every cap pair, asserts
    * the side taken, equal output and no leftover persisted RDD; returns
    * the common output. */
  private def bothSides(op: (Long, Long) => DataFrame): Seq[String] = {
    val runs = for (cap <- caps; bcast <- broadcastCaps) yield {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ((local, got), cleanerOnly) = ReleaseLog.of(spark) {
        val out = op(cap, bcast)
        val local = out.queryExecution.logical
          .collectFirst { case r: LocalRelation => r }.isDefined
        val got = bits(out)
        CacheScope.releaseCheckpoint(out)
        (local, got)
      }
      assert(local == (cap > 0L), s"cap $cap took the wrong side")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty,
        s"cap $cap, broadcast cap $bcast: RDDs $left still persisted")
      assert(cleanerOnly.isEmpty, s"cap $cap, broadcast cap $bcast: RDDs " +
        s"$cleanerOnly were never released, only freed by the ContextCleaner")
      s"cap $cap, broadcast cap $bcast" -> got
    }
    val (_, first) = runs.head
    for ((tag, got) <- runs) assert(got == first, s"$tag differs")
    first
  }

  test("connectedComponents: both sides equal, null pairs dropped") {
    // five components with duplicate and reversed pairs (the edge-set
    // distinct the rounds depend on), a self-pair-only vertex, a 5-cycle
    // listed against id order, and three pairs with a null endpoint
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (Some(2L), Some(3L)), (Some(3L), Some(4L)),
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(4L), Some(3L)),
      (Some(10L), Some(11L)), (Some(11L), Some(10L)), (Some(10L), Some(11L)),
      (Some(20L), Some(21L)), (Some(21L), Some(22L)), (Some(20L), Some(22L)),
      (Some(22L), Some(23L)), (Some(22L), Some(20L)),
      (Some(30L), Some(30L)),
      (Some(45L), Some(41L)), (Some(44L), Some(45L)), (Some(43L), Some(44L)),
      (Some(42L), Some(43L)), (Some(41L), Some(42L)), (Some(43L), Some(42L)),
      (Some(50L), None), (None, Some(51L)), (None, None))
      .toDF("doc_a", "doc_b")
    val got = bothSides((cap, bcast) =>
      Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        broadcastMaxVertices = bcast, localMaxEdges = cap))
    val want = Seq(1L, 2L, 3L, 4L).map(_ -> 1L) ++
      Seq(10L, 11L).map(_ -> 10L) ++
      Seq(20L, 21L, 22L, 23L).map(_ -> 20L) ++
      Seq(30L -> 30L) ++
      (41L to 45L).map(_ -> 41L)
    assert(got == want.map { case (v, c) => s"$v,$c" }.sorted)
  }

  test("PageRank.ranks: both sides equal bit for bit, null pairs dropped") {
    val n = 40L
    val edges = ((0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i * 7 + 3) % n), (i * 3 % n, i))) ++
      Seq((5L, 5L))).distinct
    val withNulls = (edges.map { case (s, d) => (Option(s), Option(d)) } ++
      Seq((Some(3L), None), (None, Some(7L)), (None, None)))
      .toDF("src", "dst")
    val got = bothSides((cap, bcast) =>
      PageRank.ranks(withNulls, "src", "dst", iters = 10,
        broadcastMaxNodes = bcast, localMaxEdges = cap))
    assert(got == bits(PageRank.ranks(edges.toDF("src", "dst"),
      "src", "dst", iters = 10)))
  }
}
