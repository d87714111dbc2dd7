package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusDriftSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    ("a", "x x y z"), ("a", "x y y z"),
    ("b", "x x y z"), ("b", "x y y z"),     // b == a's distribution
    ("c", "q q q q"), ("c", "q q w w")      // c is disjoint vocabulary
  ).toDF("source", "text")

  /** Independent scala re-computation of the bucketed JS (same rounding
    * contract as the operator) over collected counts. */
  private def referenceJs(rows: Seq[(String, String)], k: Int)
      : Map[String, Double] = {
    val toks = rows.flatMap { case (s, t) => t.split(" ").map(s -> _) }
    val global = toks.groupBy(_._2).view.mapValues(_.size).toMap
    val vocab = global.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
      .map(_._1).toSet
    val b = toks.map { case (s, t) =>
      (s, if (vocab(t)) t else "__oov__") }
    val ps = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ns = b.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cq = b.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nq = b.size.toLong
    ns.map { case (s, n) =>
      val contribs = cq.toSeq.map { case (bt, cqv) =>
        val cs = ps.getOrElse((s, bt), 0L)
        val p = cs.toDouble / n
        val q = cqv.toDouble / nq
        val m = (p + q) / 2
        val raw = ((if (cs > 0) p * math.log(p / m) else 0.0) +
          q * math.log(q / m)) / 2
        BigDecimal(raw).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }
      s -> (contribs.sum.toDouble)
    }.map { case (s, v) =>
      s -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble }
  }

  test("matches an independent JS computation; identical sources tie at ~0") {
    val got = CorpusDrift.jsDivergencePerSource(fixture, "source", "text",
      k = 3).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("js")).toMap
    val want = referenceJs(
      Seq(("a", "x x y z"), ("a", "x y y z"), ("b", "x x y z"),
        ("b", "x y y z"), ("c", "q q q q"), ("c", "q q w w")), 3)
    assert(got.keySet == want.keySet)
    for ((s, v) <- want)
      assert(math.abs(got(s) - v) < 1e-6, s"$s: got ${got(s)} want $v")
    // a and b have the same distribution -> identical (small) js;
    // c is disjoint -> strictly larger
    assert(got("a") == got("b"))
    assert(got("c") > got("a"))
    // JS in nats is bounded by ln 2
    assert(got.values.forall(v => v >= 0 && v <= math.log(2) + 1e-9))
  }

  test("a source missing a top-K term still owes its q-side mass") {
    // source d emits no 'x' at all; with a support-grid bug its js would
    // drop x's q-side term and undercount
    val df = Seq(("d", "y y y y"), ("e", "x x x y")).toDF("source", "text")
    val got = CorpusDrift.jsDivergencePerSource(df, "source", "text", k = 2)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("js"))
      .toMap
    val want = referenceJs(Seq(("d", "y y y y"), ("e", "x x x y")), 2)
    for ((s, v) <- want)
      assert(math.abs(got(s) - v) < 1e-6, s"$s: got ${got(s)} want $v")
    assert(got("d") > 0)
  }

  test("n_tokens equals the source token count; scope releases") {
    val out = CacheScope.withScope { sc =>
      CorpusDrift.jsDivergencePerSource(fixture, "source", "text", k = 3)
        .collect()
    }
    val n = out.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
    assert(n == Map("a" -> 8L, "b" -> 8L, "c" -> 8L), n.toString)
  }
}
