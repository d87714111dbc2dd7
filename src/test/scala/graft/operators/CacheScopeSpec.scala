package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CacheScope: operator-internal persists are reclaimed deterministically
  * when the caller's action finishes — long-lived sessions don't
  * accumulate postings/bigram caches (VERDICT r8 item 7). */
class CacheScopeSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq((1L, "a b c d e f g"), (2L, "a b c d x y z"),
      (3L, "q r s t u v w"), (4L, "a b c d e f g"))
      .toDF("doc_id", "text")
  }

  test("bigramNll under withScope: caches live for the action, zero after") {
    spark.catalog.clearCache()
    val baseline = CacheScope.cachedBlockCount(spark)
    var during = -1L
    val unscoped = LmScore.bigramNll(docs, "doc_id", "text").collect().toSeq
    spark.catalog.clearCache()
    val scoped = CacheScope.withScope { sc =>
      val out = LmScore.bigramNll(docs, "doc_id", "text")
        .collect().toSeq
      during = CacheScope.cachedBlockCount(spark)
      assert(sc.trackedCount == 2, "uni + bg should both route via the scope")
      out
    }
    assert(during > baseline,
      s"persists never materialized inside the scope ($during vs $baseline)")
    assert(CacheScope.cachedBlockCount(spark) <= baseline,
      "cached blocks survived release()")
    assert(scoped == unscoped, "scoping must not change results")
  }

  test("overlapMatrix + jaccardPairs scoped: identical results, no residue") {
    spark.catalog.clearCache()
    val baseline = CacheScope.cachedBlockCount(spark)
    val src = docs.withColumn("source",
      when(col("doc_id") % 2 === 0, "web").otherwise("books"))
    val wantO = SourceOverlap.overlapMatrix(src, "source", "text", n = 2)
      .orderBy("src_a", "src_b").collect().toSeq
    val wantJ = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2,
      threshold = 0.1).orderBy("doc_a", "doc_b").collect().toSeq
    spark.catalog.clearCache()
    val (gotO, gotJ) = CacheScope.withScope { sc =>
      (SourceOverlap.overlapMatrix(src, "source", "text", n = 2)
          .orderBy("src_a", "src_b").collect().toSeq,
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.1)
          .orderBy("doc_a", "doc_b").collect().toSeq)
    }
    assert(CacheScope.cachedBlockCount(spark) <= baseline,
      "cached blocks survived release()")
    assert(gotO == wantO && gotJ == wantJ)
  }

  test("round-13 operators all route persists through the scope") {
    import spark.implicits._
    val tbl = (1 to 60).map(i =>
      (i.toLong, f"k$i%04d", i % 3 == 0, s"s${i % 4}", s"l${i % 3}"))
      .toDF("id", "k", "y", "src", "lang")
    // (name, scoped-run → collected result, unscoped-run)
    val cases: Seq[(String, CacheScope => Seq[String], () => Seq[String])] =
      Seq(
        ("ChiSquare", sc => ChiSquare.audit(tbl, Seq(("src", "lang")))
          .orderBy("pair").collect().map(_.toString).toSeq,
          () => ChiSquare.audit(tbl, Seq(("src", "lang")))
            .orderBy("pair").collect().map(_.toString).toSeq),
        ("FdAudit", sc => FdAudit.audit(tbl, Seq((Seq("src"), "lang")))
          .orderBy("candidate").collect().map(_.toString).toSeq,
          () => FdAudit.audit(tbl, Seq((Seq("src"), "lang")))
            .orderBy("candidate").collect().map(_.toString).toSeq),
        ("SrmCheck", sc => SrmCheck.goodnessOfFit(tbl, "src",
          (0 until 4).map(i => (s"s$i", 1L)))
          .orderBy("bucket").collect().map(_.toString).toSeq,
          () => SrmCheck.goodnessOfFit(tbl, "src",
            (0 until 4).map(i => (s"s$i", 1L)))
            .orderBy("bucket").collect().map(_.toString).toSeq),
        ("KsDrift", sc => KsDrift.twoSample(tbl, col("y"), "k")
          .collect().map(_.toString).toSeq,
          () => KsDrift.twoSample(tbl, col("y"), "k")
            .collect().map(_.toString).toSeq),
        ("GainsTable", sc => GainsTable.byRank(tbl, "id", "k", "y",
          parts = 4).orderBy("bucket").collect()
          .map(_.toString).toSeq,
          () => GainsTable.byRank(tbl, "id", "k", "y", parts = 4)
            .orderBy("bucket").collect().map(_.toString).toSeq),
        ("PostStratify", sc => PostStratify.weights(tbl,
          tbl.filter(col("id") <= 40), Seq("src"), minCell = 2L)
          .orderBy("src").collect().map(_.toString).toSeq,
          () => PostStratify.weights(tbl, tbl.filter(col("id") <= 40),
            Seq("src"), minCell = 2L)
            .orderBy("src").collect().map(_.toString).toSeq),
        ("SortedNeighborhood", sc => SortedNeighborhood.candidatePairs(
          tbl, "id", "k", window = 3, segSize = 8L)
          .orderBy("id_a", "id_b").collect().map(_.toString).toSeq,
          () => SortedNeighborhood.candidatePairs(tbl, "id", "k",
            window = 3, segSize = 8L)
            .orderBy("id_a", "id_b").collect().map(_.toString).toSeq),
        ("GlobalOrder.rangeSplitters", sc => GlobalOrder.rangeSplitters(
          tbl, "k", parts = 4).orderBy("split_idx")
          .collect().map(_.toString).toSeq,
          () => GlobalOrder.rangeSplitters(tbl, "k", parts = 4)
            .orderBy("split_idx").collect().map(_.toString).toSeq))
    for ((name, scoped, unscoped) <- cases) {
      spark.catalog.clearCache()
      val baseline = CacheScope.cachedBlockCount(spark)
      var tracked = -1
      val got = CacheScope.withScope { sc =>
        val out = scoped(sc); tracked = sc.trackedCount; out
      }
      assert(tracked >= 1, s"$name never routed a persist via the scope")
      assert(CacheScope.cachedBlockCount(spark) <= baseline,
        s"$name left cached blocks after release()")
      assert(got == unscoped(), s"$name: scoping changed results")
    }
  }

  test("nested blocks: the inner block releases only its own persists") {
    import spark.implicits._
    spark.catalog.clearCache()
    val baseline = CacheScope.cachedBlockCount(spark)
    CacheScope.withScope { outer =>
      val a = CacheScope.persist((1 to 50).toDF("v"))
      a.count()
      var b: org.apache.spark.sql.DataFrame = null
      CacheScope.withScope { inner =>
        b = CacheScope.persist((1 to 60).toDF("v"))
        b.count()
        assert(inner.trackedCount == 1 && outer.trackedCount == 1)
      }
      assert(!b.storageLevel.isValid, "inner block kept its own persist")
      assert(a.storageLevel.isValid, "inner block released the outer one")
      // the outer scope is current again once the inner block exits
      CacheScope.persist((1 to 70).toDF("v")).count()
      assert(outer.trackedCount == 2)
    }
    assert(CacheScope.cachedBlockCount(spark) <= baseline,
      "cached blocks survived the outer release()")
  }

  test("a persist made on another thread is not captured by the scope") {
    import spark.implicits._
    var other: org.apache.spark.sql.DataFrame = null
    CacheScope.withScope { sc =>
      val t = new Thread(() => other = CacheScope.persist((1 to 40).toDF("v")))
      t.start()
      t.join()
      assert(sc.trackedCount == 0, "another thread's persist was tracked")
    }
    assert(other.storageLevel.isValid,
      "the scope released a persist it did not own")
    other.unpersist(blocking = true)
  }

  test("Dedup's internal persists are tracked by the scope and reclaimed") {
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(1L -> vec(1, 0, 0, 0), 2L -> vec(0.99, 0.141, 0, 0),
      3L -> vec(0, 0, 1, 0)).toDF("vec_id", "embedding")
    val cases: Seq[(String, () => Seq[String])] = Seq(
      ("minhashLsh", () => Dedup.minhashLsh(docs, "doc_id", "text", n = 2)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq),
      ("removeRepeatedSpans", () => Dedup.removeRepeatedSpans(docs,
        "doc_id", "text", n = 3).orderBy("doc_id").collect()
        .map(_.toString).toSeq),
      ("embeddingLshPairs", () => Dedup.embeddingLshPairs(emb, "vec_id",
        "embedding", threshold = 0.9, dim = 4, numPlanes = 8, numBands = 8)
        .orderBy("id_a", "id_b").collect().map(_.toString).toSeq),
      ("embeddingLshPairsScaled", () => Dedup.embeddingLshPairsScaled(emb,
        "vec_id", "embedding", threshold = 0.9, dim = 4, numBands = 4,
        minBits = 1, maxBits = 4).orderBy("id_a", "id_b").collect()
        .map(_.toString).toSeq))
    for ((name, run) <- cases) {
      val unscoped = run()
      spark.catalog.clearCache()
      val baseline = CacheScope.cachedBlockCount(spark)
      var tracked = -1
      val got = CacheScope.withScope { sc =>
        val out = run(); tracked = sc.trackedCount; out
      }
      assert(tracked == 1, s"$name tracked $tracked persists, not 1")
      assert(CacheScope.cachedBlockCount(spark) <= baseline,
        s"$name left cached blocks after release()")
      assert(got == unscoped, s"$name: scoping changed results")
    }
  }

  test("release is idempotent and scope-local (other caches untouched)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val outside = (1 to 100).toDF("v").persist()
    outside.count()
    val baseline = CacheScope.cachedBlockCount(spark)
    assert(baseline >= 1, "outside cache should be materialized")
    val sc = new CacheScope
    sc.persist(docs.groupBy("text").count()).count()
    assert(CacheScope.cachedBlockCount(spark) > baseline)
    sc.release()
    sc.release() // second release: no throw, no effect
    assert(sc.trackedCount == 0)
    // <= not ==: the shared session's ContextCleaner may drain stale
    // localCheckpoint blocks from EARLIER suites at any moment (async
    // unpersist), so unrelated counts can only fall. The scope-local
    // claim is pinned by the outside persist surviving untouched.
    assert(CacheScope.cachedBlockCount(spark) <= baseline,
      "scope released a cache it did not acquire, or missed its own")
    assert(outside.storageLevel.isValid,
      "scope released the unrelated outside persist")
    outside.unpersist(blocking = true)
  }
}
