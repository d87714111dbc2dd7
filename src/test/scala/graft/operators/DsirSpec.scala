package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  // target docs speak vocab A; raw background speaks vocab B; one raw doc
  // (id 100) speaks vocab A — DSIR must rank it above every vocab-B doc
  private def fixture = Seq(
    (1L, "alpha beta gamma delta alpha beta", true),
    (2L, "beta gamma alpha delta gamma beta", true),
    (3L, "gamma alpha beta delta beta alpha", true),
    (100L, "alpha beta gamma delta beta gamma", false),
    (101L, "zig zag zog zug zig zag", false),
    (102L, "zag zog zug zig zog zug", false),
    (103L, "zog zig zag zug zag zig", false)
  ).toDF("doc_id", "text", "is_t")

  test("target-like raw doc outscores background raw docs") {
    val scores = Dsir.importanceScores(fixture, "doc_id", "text",
      isTarget = col("is_t"), buckets = 64)
    val m = scores.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("logw")).toMap
    assert(m(100L) > m(101L) && m(100L) > m(102L) && m(100L) > m(103L),
      s"vocab-A raw doc must outrank vocab-B docs: $m")
  }

  test("n_feats counts unigrams plus bigrams (2n-1)") {
    val scores = Dsir.importanceScores(fixture, "doc_id", "text",
      isTarget = col("is_t"), buckets = 64)
    val n = scores.filter(col("doc_id") === 1L)
      .select("n_feats").as[Long].head()
    assert(n == 11, s"6 tokens -> 6 unigrams + 5 bigrams, got $n")
  }

  test("resampleTopK keeps only non-target docs, k-bounded, weight-ranked") {
    val scores = Dsir.importanceScores(fixture, "doc_id", "text",
      isTarget = col("is_t"), buckets = 64)
    val top = Dsir.resampleTopK(scores, k = 2).collect()
    assert(top.length == 2)
    val ids = top.map(_.getAs[Long]("doc_id")).toSet
    assert(ids.contains(100L), s"highest-weight raw doc missing: $ids")
    assert(ids.intersect(Set(1L, 2L, 3L)).isEmpty, "target docs leaked")
  }

  test("scores are deterministic across runs and scope-released") {
    val run = () => CacheScope.withScope { sc =>
      Dsir.importanceScores(fixture, "doc_id", "text",
        isTarget = col("is_t"), buckets = 64)
        .orderBy("doc_id").collect().toSeq
    }
    assert(run() == run())
  }

  test("single-token docs contribute one unigram and no bigram") {
    val one = Seq((1L, "alpha", true), (2L, "solo", false))
      .toDF("doc_id", "text", "is_t")
    val scores = Dsir.importanceScores(one, "doc_id", "text",
      isTarget = col("is_t"), buckets = 16)
    val n = scores.select("doc_id", "n_feats").as[(Long, Long)]
      .collect().toMap
    assert(n == Map(1L -> 1L, 2L -> 1L), n.toString)
  }
}
