package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "x x x y pad pad pad pad"),
    (2L, "x y pad pad pad pad pad pad"),
    (3L, "pad pad pad pad pad pad pad pad"),
    (4L, "x y x y pad pad")
  )

  /** Independent scala BM25 with the operator's rounding contract. */
  private def reference(q: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : Map[Long, Double] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = docs.size.toLong
    val avgdl = toks.values.map(_.size).sum * 1.0 / n
    val dfm = q.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
    docs.flatMap { case (id, _) =>
      val contribs = q.flatMap { t =>
        val tf = toks(id).count(_ == t).toLong
        if (tf == 0) None else {
          val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          val raw = idf * ((tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * toks(id).size / avgdl)))
          Some(BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }
      }
      if (contribs.isEmpty) None
      else Some(id -> BigDecimal(contribs.sum.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("matches an independent BM25 computation") {
    val q = Seq("x", "y")
    val got = Bm25.topDocs(docs.toDF("doc_id", "text"), "doc_id", "text", q)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("score")).toMap
    val want = reference(q)
    assert(got.keySet == want.keySet, s"got $got want $want")
    for ((id, s) <- want)
      assert(math.abs(got(id) - s) < 1e-9, s"doc $id: got ${got(id)} want $s")
    // doc 3 has no query terms and must be absent
    assert(!got.contains(3L))
    // doc 4 (short, dense in both terms) outranks doc 2 (one hit each)
    assert(got(4L) > got(2L))
  }

  test("topK bounds the result and keeps the best scores") {
    val q = Seq("x", "y")
    val top1 = Bm25.topDocs(docs.toDF("doc_id", "text"), "doc_id", "text",
      q, topK = 1).collect()
    assert(top1.length == 1)
    val want = reference(q)
    assert(top1.head.getAs[Long]("doc_id") == want.maxBy(_._2)._1)
  }

  test("n_hit_terms counts distinct matched query terms; scope releases") {
    val out = CacheScope.withScope { sc =>
      Bm25.topDocs(docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq("x", "y")).collect()
    }
    val hits = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_hit_terms")).toMap
    assert(hits == Map(1L -> 2L, 2L -> 2L, 4L -> 2L), hits.toString)
  }
}
