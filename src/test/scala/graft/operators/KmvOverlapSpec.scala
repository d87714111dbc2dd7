package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvOverlapSpec extends SparkSpec {
  import spark.implicits._

  private def hash48(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 12)
    java.lang.Long.parseLong(hex, 16)
  }

  test("kmvSketch holds the k smallest distinct hashes, any partitioning") {
    val vals = (0 until 500).map(i => hash48(s"v$i"))
    val dup = vals ++ vals.take(100)   // duplicates must not double-count
    val want = vals.distinct.sorted.take(64)
    for (parts <- Seq(1, 7)) {
      val got = dup.toDF("h").repartition(parts)
        .agg(graft.expressions.SketchExpressions
          .kmvSketch(col("h"), 64).as("kmv"))
        .first().getSeq[Long](0)
      assert(got == want, s"parts=$parts")
    }
  }

  test("complete sketches (n < k) give EXACT union and Jaccard") {
    // 3 sources, tiny vocab: every sketch is the full hash set
    val docs = Seq(
      ("a", "w1 w2 w3 w4 w5 w6"),        // shingles of 4 words
      ("b", "w1 w2 w3 w4 w9 w10"),       // shares the w1..w4 shingle
      ("c", "z1 z2 z3 z4 z5 z6"))        // disjoint from both
      .toDF("source", "text")
    val out = KmvOverlap.overlapEstimates(docs, "source", "text",
      n = 4, k = 256).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)   // ALL pairs, including zero-overlap ones
    val ab = out(("a", "b"))
    // a has 3 distinct shingles, b has 3, they share exactly 1
    assert(ab.getAs[Double]("est_union") == 5.0)
    assert(ab.getAs[Double]("exact_jaccard") == 0.2)
    assert(ab.getAs[Double]("est_jaccard") == 0.2)  // complete ⇒ exact
    assert(ab.getAs[Double]("abs_err") == 0.0)
    val ac = out(("a", "c"))
    assert(ac.getAs[Double]("est_jaccard") == 0.0 &&
      ac.getAs[Double]("exact_jaccard") == 0.0)
    assert(out.values.forall(_.getAs[Boolean]("within_bound")))
  }

  test("sketch estimates track planted overlap within the stated bound") {
    // two sources of 600 single-shingle docs sharing exactly 300 →
    // J = 300/900 ≈ 0.333; k=128 well below the 900-hash union
    def words(tag: String, i: Int) = s"$tag$i a b c"
    val docs = ((0 until 600).map(i => ("s1", words(if (i < 300) "sh" else "x", i))) ++
      (0 until 600).map(i => ("s2", words(if (i < 300) "sh" else "y", i))))
      .toDF("source", "text")
    val r = KmvOverlap.overlapEstimates(docs, "source", "text",
      n = 4, k = 128).collect().head
    val exact = r.getAs[Double]("exact_jaccard")
    assert(math.abs(exact - 300.0 / 900) < 1e-6)
    assert(r.getAs[Boolean]("within_bound"))
    // union estimate within 4/sqrt(k-2) ≈ 36% (loose; typical ~9%)
    assert(math.abs(r.getAs[Double]("est_union") - 900.0) / 900.0 < 0.36)
    // Jaccard estimate is genuinely informative: closer to 1/3 than to 0
    assert(r.getAs[Double]("est_jaccard") > 0.15 &&
      r.getAs[Double]("est_jaccard") < 0.55)
  }

  test("CacheScope bounds the internal persists; results identical") {
    val docs = Seq(("p", "m1 m2 m3 m4 m5"), ("q", "m1 m2 m3 m4 m6"))
      .toDF("source", "text")
    val unscoped = KmvOverlap.overlapEstimates(docs, "source", "text")
      .collect()
    spark.catalog.clearCache()
    val before = CacheScope.cachedBlockCount(spark)
    val scoped = CacheScope.withScope { sc =>
      KmvOverlap.overlapEstimates(docs, "source", "text").collect()
    }
    assert(CacheScope.cachedBlockCount(spark) == before)
    assert(scoped.map(_.toString).sorted.toSeq ==
      unscoped.map(_.toString).sorted.toSeq)
  }
}
