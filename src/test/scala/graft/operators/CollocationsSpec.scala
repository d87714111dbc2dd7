package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CollocationsSpec extends SparkSpec {
  import spark.implicits._

  test("matches a hand-computed PMI fixture; collocation beats frequency") {
    // "new york" always co-occurs (5 of 5); "the cat" co-occurs but both
    // words are everywhere, so chance predicts most of it
    val docs = Seq.fill(5)("the cat saw new york and the cat ran")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
      minCount = 5L, topK = 10).collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r)
      .toMap
    val ny = got(("new", "york"))
    val thecat = got(("the", "cat"))
    // counts: per doc 8 bigrams ×5 = 40 total; "new york" 5; unigrams:
    // new 5, york 5, total tokens 45
    assert(ny.getAs[Long]("n_pair") == 5L)
    assert(ny.getAs[Long]("n_w1") == 5L && ny.getAs[Long]("n_w2") == 5L)
    val expected = BigDecimal.valueOf(
      math.log((5.0 * 45 * 45) / (40.0 * 5 * 5)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(ny.getAs[Double]("pmi") - expected) < 1e-12)
    // "the cat" is more frequent (10 occurrences) but scores lower PMI
    assert(thecat.getAs[Long]("n_pair") == 10L)
    assert(thecat.getAs[Double]("pmi") < ny.getAs[Double]("pmi"))
  }

  test("minCount floors rare pairs; topK truncates deterministically") {
    val docs = Seq((1L, "a b a b c d"), (2L, "a b x y"))
    val all = Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
      minCount = 1L, topK = 100).collect()
    assert(all.nonEmpty)
    val floored = Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
      minCount = 3L, topK = 100).collect()
    // only "a b" occurs 3 times
    assert(floored.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b")))
    val top1 = Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
      minCount = 1L, topK = 1).collect()
    assert(top1.length == 1)
    // the topK=1 row is the max-PMI row of the full ranking
    assert(top1.head.getAs[Double]("pmi") ==
      all.map(_.getAs[Double]("pmi")).max)
  }

  test("CacheScope bounds the internal persists; results identical") {
    // fixture distinct from the other tests': the CacheManager keys
    // entries by logical plan, so a shared fixture would alias this
    // scope's persists with the unscoped tests' session-lifetime ones
    // and release() would drop both
    val docs = Seq((10L, "p q p q r s"), (20L, "p q u v"))
    val unscoped = Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
      minCount = 1L, topK = 100).collect()
    spark.catalog.clearCache()
    val before = CacheScope.cachedBlockCount(spark)
    val scoped = CacheScope.withScope { sc =>
      Collocations.topPmi(docs.toDF("doc_id", "text"), "text",
        minCount = 1L, topK = 100).collect()
    }
    assert(CacheScope.cachedBlockCount(spark) == before)
    assert(scoped.map(_.toString).sorted.toSeq ==
      unscoped.map(_.toString).sorted.toSeq)
  }
}
