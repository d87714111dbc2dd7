package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("connectedComponents: transitive clusters get the min-id label") {
    import spark.implicits._
    // two chains (1-2-3-4, 10-11) and one triangle sharing a vertex (20s)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents: long path converges within diameter rounds") {
    import spark.implicits._
    val n = 30L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxRounds = 40)
    assert(comp.select(countDistinct(col("comp"))).first().getLong(0) == 1L)
    assert(comp.agg(min(col("comp")), max(col("comp"))).first()
      .toSeq == Seq(1L, 1L))
    assert(comp.count() == n)
  }

  test("large-star/small-star: a 60-vertex path converges within 15 rounds") {
    import spark.implicits._
    // diameter 59, where label propagation would need ~59 rounds; the
    // star rounds (forced by localMaxEdges = 0) must converge in O(log²)
    // rounds — maxRounds 15 both proves the bound class and keeps the
    // test honest. Both sides' equality is GraphGateSpec's.
    val n = 60L
    val path = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponents(path, "doc_a", "doc_b",
      maxRounds = 15, localMaxEdges = 0L)
    assert(star.count() == n)
    assert(star.select(countDistinct(col("comp"))).first().getLong(0) == 1L)
    assert(star.agg(min(col("comp")), max(col("comp"))).first()
      .toSeq == Seq(1L, 1L))
    CacheScope.releaseCheckpoint(star)
  }

  test("simhashNearDups: banded candidates lose no pair vs the all-pairs scan") {
    // Pigeonhole exactness: with radius 3 < 4 bands of 16 bits over the
    // 64-bit signature, two sigs within distance 3 must agree on at least
    // one whole band, so the banded result must EQUAL the exhaustive scan.
    import graft.functions.TextFunctions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val banded = Dedup.simhashNearDups(docs, "doc_id", "text",
      radius = 3, bands = 4)
    val sigs = docs.select(col("doc_id").as("doc"),
      graft.expressions.TextExpressions
        .simhash64Native(tokens(col("text"))).as("sig"))
      .withColumn("hi", conv(substring(col("sig"), 1, 32), 2, 10).cast("long"))
      .withColumn("lo", conv(substring(col("sig"), 33, 32), 2, 10).cast("long"))
    val brute = sigs.select(col("doc").as("doc_a"), col("hi").as("ha"), col("lo").as("la"))
      .crossJoin(sigs.select(col("doc").as("doc_b"), col("hi").as("hb"), col("lo").as("lb")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(expr("ha ^ hb")) + bit_count(expr("la ^ lb")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
    // compared as collected sets: Spark 4.1's exceptAll rewrite (sum-of-
    // replication-factor) hits ATTRIBUTE_NOT_FOUND on this shape
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = asSet(banded)
    assert(b == asSet(brute))
    assert(b.nonEmpty, "vacuous corpus: no near-dup pairs at radius 3")
  }

  test("simhash64: signature is 64 bits and a near-identical doc is within radius") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    // a 40-token doc and a 1-token-substituted twin: one md5 leaves the
    // bit-sums, one enters — each of the 64 sums moves by at most 2, so
    // only near-tied bits flip and the twins land within a small radius,
    // while an unrelated doc sits near the random-expectation distance 32
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val twin = base.replace("tok7", "zzz")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, twin), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.simhashNearDups(df, "doc_id", "text", radius = 12, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("embeddingLshPairs: permissive 1-bit bands equal the brute force") {
    // With numBands == numPlanes every band key is a single sign bit, so a
    // pair at cos >= 0.35 (p_bit >= 0.61) misses all 32 bands with
    // probability <= 0.39^32 ~ 1e-13 — blocking is effectively exhaustive
    // and the LSH path must reproduce the exact cross-join result,
    // proving the block+verify machinery itself is lossless.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.35)
    val lsh = Dedup.embeddingLshPairs(emb, "vec_id", "embedding", threshold = 0.35,
      dim = 64, numPlanes = 32, numBands = 32)
    assert(exact.count() > 0, "vacuous corpus: no pairs above threshold")
    assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty)
  }

  test("embeddingLshPairs: registered x31 params — no false positives, measured recall") {
    // x31's production-shaped params (6-bit band keys). Exact verify means
    // zero false positives BY CONSTRUCTION; recall is probabilistic in the
    // banding, so assert the measured floor on this corpus (theory at its
    // max pair cos ~0.6: 1-(1-p^6)^16 with p~0.7 => ~0.88).
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.5)
      .select("id_a", "id_b")
    val lsh = Dedup.embeddingLshPairs(emb, "vec_id", "embedding", threshold = 0.5,
      dim = 64, numPlanes = 96, numBands = 16)
      .select("id_a", "id_b")
    assert(lsh.exceptAll(exact).isEmpty, "LSH produced a non-exact pair")
    val nExact = exact.count()
    assert(nExact > 0, "vacuous corpus: no pairs above threshold")
    val recall = exact.intersect(lsh).count().toDouble / nExact
    assert(recall >= 0.75, s"recall = $recall over $nExact exact pairs")
  }

  test("repeatedSpans: cross-doc spans found with multiplicity, intra-doc only filtered") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four END a b"),
      (2L, "x one two three four END y"), // shares the 5-gram with doc 1
      (3L, "p q r p q r p q r s t u"))    // repeats only within itself
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", n = 5, minDocs = 2L)
      .collect()
    assert(spans.length == 1)
    val r = spans.head
    assert(r.getLong(r.fieldIndex("n_docs")) == 2L)
    assert(r.getLong(r.fieldIndex("n_occurrences")) == 2L)
    assert(r.getLong(r.fieldIndex("first_doc")) == 1L)
  }

  test("removeRepeatedSpans: covered positions excised, boundaries exact") {
    import spark.implicits._
    // docs 1 and 2 share the 3-gram "c1 c2 c3"; doc 3 is untouched;
    // doc 4 is NOTHING BUT the shared span (fully removed -> empty text)
    val df = Seq(
      (1L, "a b c1 c2 c3 d e"),
      (2L, "c1 c2 c3 z"),
      (3L, "p q r s t"),
      (4L, "c1 c2 c3"))
      .toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(df, "doc_id", "text",
      n = 3, minDocs = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2))).toMap
    // only the span words go; neighbors survive on both sides
    assert(out(1L) == ("a b d e", 3L), out(1L))
    assert(out(2L) == ("z", 3L), out(2L))
    assert(out(3L) == ("p q r s t", 0L))
    assert(out(4L) == ("", 3L), out(4L))
    // overlapping occurrences: "s1 s2 s3 s2 s3" in two docs with n=3 —
    // starts 0 and 2 both flagged in the doc where both occur, covering
    // everything between them
    val df2 = Seq(
      (10L, "s1 s2 s3 s2 s3 tail10"),
      (11L, "s1 s2 s3 head11"),
      (12L, "s3 s2 s3 head12"))
      .toDF("doc_id", "text")
    val out2 = Dedup.removeRepeatedSpans(df2, "doc_id", "text",
      n = 3, minDocs = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(10L) == "tail10", out2(10L))
    assert(out2(11L) == "head11")
    assert(out2(12L) == "head12")
  }

  test("decontaminate: n-gram collision drops the doc, short docs survive") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix alpha beta gamma delta suffix"), // shares a 4-gram
      (2L, "totally unrelated content here now"),   // clean
      (3L, "alpha beta"))                           // < n tokens: no grams
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("decontaminateBloom equals the exact path (no false negatives)") {
    import spark.implicits._
    // seeded corpus with planted contamination: every 7th doc embeds a
    // bench 4-gram; the bloom path must drop EXACTLY the same docs even
    // at an aggressive fpp (false positives die in the verify join)
    val rnd = new scala.util.Random(31)
    def words(k: Int) = Seq.fill(k)(s"w${rnd.nextInt(200)}").mkString(" ")
    val bench = (0 until 10)
      .map(i => (1000L + i, s"mark$i alpha$i beta$i gamma$i"))
      .toDF("doc_id", "text")
    val corpus = (0 until 140).map { i =>
      val base = words(8)
      val text = if (i % 7 == 0) s"$base mark${i % 10} alpha${i % 10} beta${i % 10} gamma${i % 10}"
        else base
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (fpp <- Seq(0.5, 0.01)) {
      val bloomed = Dedup.decontaminateBloom(corpus, bench, "doc_id",
        "text", n = 4, expectedShingles = 100L, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloomed == exact, s"fpp=$fpp diverged from the exact path")
    }
    assert(exact.size < 140, "fixture never contaminated anything")
  }

  test("contaminationReport: per-bench leak counts, zero rows retained") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),   // 2 shingles, both leak
      (101L, "one two three four"),               // 1 shingle, leaks to 2 docs
      (102L, "never seen anywhere at all"))       // 2 shingles, clean
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x alpha beta gamma delta epsilon y"), // hits both 100-shingles
      (2L, "one two three four"),                 // hits 101's shingle
      (3L, "pad one two three four pad"),         // hits 101's shingle too
      (4L, "totally unrelated content here now"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(corpus, bench, "doc_id", "text",
        n = 4).orderBy("bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (100L, 2L, 2L, 1L),   // n_sh=2, both found, in 1 corpus doc
      (101L, 1L, 1L, 2L),   // 1 shingle, found, in docs 2 and 3
      (102L, 2L, 0L, 0L)),  // clean bench doc keeps its zero row
      s"got=${got.toSeq}")
  }

  test("native profileScores equals the HOF profileScore per profile") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val texts = Seq("the le la de und", "el el la y", "", "zzz qqq")
      .toDF("text")
    val native = texts.withColumn("sc", graft.expressions.TextExpressions
      .profileScores(col("text"), langProfiles.map(_._2)))
    val both = langProfiles.zipWithIndex.foldLeft(
      native.withColumn("toks", tokens(col("text")))) {
      case (d, ((lang, words), i)) =>
        d.withColumn(s"n_$lang", element_at(col("sc"), i + 1))
          .withColumn(s"h_$lang", profileScore(col("toks"), words))
    }
    langProfiles.foreach { case (lang, _) =>
      assert(both.filter(col(s"n_$lang") =!= col(s"h_$lang")).isEmpty,
        s"native != HOF for $lang")
    }
  }

  test("langPredict: argmax with declared-order tie-break and unk floor") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val df = Seq(
      "the cat and the hat",        // en dominant
      "el la de que y la el",       // es dominant
      "xyz qqq zzz",                // no profile word -> unk
      "the le")                     // en==fr tie -> first declared (en)
      .toDF("text").withColumn("toks", tokens(col("text")))
    val scored = langProfiles.foldLeft(df) { case (d, (l, ws)) =>
      d.withColumn(s"c_$l", profileScore(col("toks"), ws))
    }
    val out = scored.select(
      langPredict(langProfiles.map { case (l, _) => l -> col(s"c_$l") }))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("en", "es", "unk", "en"))
  }

  test("embeddingDedupBatchLedger: kept-history drops, dropped-history keeps, null = sentinel") {
    import spark.implicits._
    val dim = 4
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val a = vec(1, 0, 0, 0)
    val b = vec(0, 1, 0, 0)
    // batch 1: docs 1 and 2 are identical vectors (same SRP keys), 3 distinct
    val batch1 = Seq((1L, a), (2L, a), (3L, b)).toDF("vec_id", "embedding")
    val empty = Dedup.srpBandPostings(batch1.limit(0), "vec_id", "embedding", dim)
    val led1 = Dedup.embeddingDedupBatchLedger(batch1, empty,
      "vec_id", "embedding", dim)
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.groupBy(col("doc")).agg(max(col("kept")).as("k")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts(led1) == Map(1L -> true, 2L -> false, 3L -> true), verdicts(led1))
    // history for batch 2 = batch-1 KEPT postings only
    val keptPosts = led1.filter(col("kept") && col("band") >= 0)
      .select("doc", "band", "key").localCheckpoint()
    // batch 2: 11 duplicates KEPT history (dropped), 12 duplicates the
    // DROPPED doc 2's vector too (same keys as doc 1 -> also dropped);
    // 13 is new and kept; 14 has a null vector -> sentinel, always kept
    val batch2 = Seq((11L, a), (12L, a), (13L, vec(0, 0, 1, 0)),
      (14L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val led2 = Dedup.embeddingDedupBatchLedger(batch2, keptPosts,
      "vec_id", "embedding", dim)
    assert(verdicts(led2) ==
      Map(11L -> false, 12L -> false, 13L -> true, 14L -> true), verdicts(led2))
    // the sentinel row shape: band -1, null key, exactly one row
    val sent = led2.filter(col("doc") === 14L).collect()
    assert(sent.length == 1 && sent.head.getInt(1) == -1 && sent.head.isNullAt(2))
    // ledger rows carry every posting of every non-sentinel doc: 3 docs x 8 bands
    assert(led2.filter(col("band") >= 0).count() == 24)
  }

  test("compactLedger: lossless views, fewer rows, probe-equal next increment") {
    import spark.implicits._
    val dim = 4
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val a = vec(1, 0, 0, 0)
    val batch1 = Seq((1L, a), (2L, a), (3L, vec(0, 1, 0, 0)),
      (4L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val empty = Dedup.srpBandPostings(batch1.limit(0), "vec_id", "embedding", dim)
    val full = Dedup.embeddingDedupBatchLedger(batch1, empty,
      "vec_id", "embedding", dim).localCheckpoint()
    val compact = Dedup.compactLedger(full).localCheckpoint()
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.groupBy(col("doc")).agg(max(col("kept")).as("k")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // all three consumer views preserved: keep-list, cursor, probe set
    assert(verdicts(compact) == verdicts(full))
    assert(compact.agg(max(col("doc"))).first().getLong(0) ==
      full.agg(max(col("doc"))).first().getLong(0))
    def probe(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kept") && col("band") >= 0).select("band", "key")
    assert(probe(compact).collect().toSet == probe(full).collect().toSet)
    // kept postings were ALREADY bucket-unique (the by-construction
    // invariant the scaladoc claims) — compaction relies on it
    assert(probe(full).count() == probe(full).distinct().count())
    // dropped doc 2 collapses 8 postings -> 1 sentinel: 25 -> 18 rows
    assert(full.count() == 25 && compact.count() == 18)
    assert(compact.filter(col("doc") === 2L).collect().toSeq match {
      case Seq(r) => r.getInt(1) == -1 && r.isNullAt(2) && !r.getBoolean(3)
      case _ => false
    })
    // idempotent
    assert(Dedup.compactLedger(compact).collect().toSet ==
      compact.collect().toSet)
    // next increment: verdicts from the compacted ledger == from the full
    val batch2 = Seq((11L, a), (12L, vec(0, 0, 1, 0)), (13L, vec(0, 0, 1, 0)))
      .toDF("vec_id", "embedding")
    val viaFull = Dedup.embeddingDedupBatchLedger(batch2,
      probe(full), "vec_id", "embedding", dim)
    val viaCompact = Dedup.embeddingDedupBatchLedger(batch2,
      probe(compact), "vec_id", "embedding", dim)
    assert(verdicts(viaCompact) == verdicts(viaFull))
    assert(verdicts(viaFull) ==
      Map(11L -> false, 12L -> true, 13L -> false), verdicts(viaFull))
  }

  test("semanticDecontaminate: near-bench vectors dropped, diverse kept, " +
      "band collision alone never drops") {
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val b1 = vec(1, 0, 0, 0)
    val b2 = vec(0, 1, 0, 0)
    val bench = Seq((100L, b1), (101L, b2)).toDF("vec_id", "embedding")
    val corpus = Seq(
      1L -> vec(0.99, 0.141, 0, 0),   // cos ~0.99 to b1 → dropped
      2L -> b2,                        // identical to b2 → dropped
      3L -> vec(0, 0, 1, 0),           // orthogonal to both → kept
      4L -> vec(1, 1, 0, 0)            // cos ~0.707 to both, < 0.9 → kept
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", threshold = 0.9, dim = 4,
      numPlanes = 16, numBands = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L), kept)
    // id 4 collides with b1 in many sign bands (shares the positive
    // half-space) yet survives: the exact-cosine verify gates every drop
    val all = Dedup.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", threshold = 0.999, dim = 4,
      numPlanes = 16, numBands = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 3L, 4L))   // at 0.999 only the identical copy drops
  }

  test("semanticDecontaminate releases its persists under a CacheScope") {
    import spark.implicits._
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val bench = Seq((100L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val corpus = Seq(1L -> vec(0.99, 0.141, 0, 0), 2L -> vec(0, 0, 1, 0))
      .toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    val baseline = CacheScope.cachedBlockCount(spark)
    val kept = CacheScope.withScope { s =>
      Dedup.semanticDecontaminate(corpus, bench, "vec_id", "embedding",
        threshold = 0.9, dim = 4, numPlanes = 16, numBands = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept == Set(2L), kept)
    assert(CacheScope.cachedBlockCount(spark) <= baseline,
      "corpus/bench base persists leaked past the scope")
  }

  test("SrpBandKeys == the round(dot)>=0 expression chain, bit for bit") {
    // the native batched signature (round-16: the chain form degrades
    // to interpreted eval past codegen's method budget) must preserve
    // the EXACT bit decisions the DuckDB oracles regenerate — double
    // accumulation in index order, BigDecimal HALF_UP at 4 dp
    import graft.functions.VectorFunctions.dot
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val (numPlanes, numBands, dim) = (96, 12, 64)
    val rows = numPlanes / numBands
    val signs = Dedup.srpSigns(numPlanes, dim)
    val chainBits = (0 until numPlanes).map { p =>
      when(round(dot(col("embedding"), typedLit(signs(p).toSeq)), 4) >= 0,
        lit("1")).otherwise(lit("0"))
    }
    val chainKeys = (0 until numBands).map { b =>
      concat((0 until rows).map(r => chainBits(b * rows + r)): _*)
    }
    val both = emb.select(col("vec_id"),
      array(chainKeys: _*).as("chain"),
      graft.expressions.VectorExpressions.srpBandKeys(
        col("embedding"), signs, numBands, rows, rows).as("native"))
    val diff = both.filter(col("chain") =!= col("native"))
    assert(diff.isEmpty,
      s"key mismatch: ${diff.take(3).mkString(";")}")
    // and the prefix property the scaled layout relies on: at stride
    // 8 with 4-bit keys, every key is the 4-char prefix of the 8-bit key
    val pre = emb.select(
      graft.expressions.VectorExpressions.srpBandKeys(
        col("embedding"), signs, numBands, 8, 8).as("full"),
      graft.expressions.VectorExpressions.srpBandKeys(
        col("embedding"), signs, numBands, 4, 8).as("narrow"))
      .filter(exists(zip_with(col("full"), col("narrow"),
        (f, n) => f.substr(1, 4) === n), x => !x))
    assert(pre.isEmpty, "narrow keys are not prefixes of full keys")
  }
}
