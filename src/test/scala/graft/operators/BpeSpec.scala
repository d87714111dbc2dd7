package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** BPE invariants: the reference algorithm's merge choices (Sennrich
  * ACL 2016 worked example), greedy non-overlapping application,
  * deterministic tie-breaks, bounded/early-stopping rounds, and count
  * accounting. */
class BpeSpec extends SparkSpec {

  test("learns the Sennrich-style merge sequence on a toy corpus") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower"), (2L, "low newest newest"))
      .toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 50, numMerges = 3)
    // (l,o) ties (o,w) at 4 — lexicographic tie-break picks (l,o);
    // then (lo,w); then (e,s) beats (e,w)/(w,e)/(n,e)/(s,t) ties on b
    assert(m.merges.map(x => (x.lft, x.rgt, x.pairCount)) ==
      Seq(("l", "o", 4L), ("lo", "w", 4L), ("e", "s", 2L)), m.merges)
  }

  test("train leaves persisted only the checkpoint its Model reads") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower"), (2L, "low newest newest"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = Bpe.train(docs, "text", topK = 50, numMerges = 3)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    val read = Seq(m.wordSubtokens, m.wordSyms)
      .flatMap(_.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }).toSet
    assert(read.size == 1, s"the Model should read one checkpoint: $read")
    assert(left == read, s"persisted after train: $left; Model reads $read")
  }

  test("greedy left-to-right non-overlapping merge application") {
    import spark.implicits._
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 10, numMerges = 2)
    // pair (a,a) counts both adjacent positions; application merges only
    // the leftmost occurrence -> [aa, a], then (aa, a) completes the word
    assert(m.merges.map(x => (x.lft, x.rgt, x.pairCount)) ==
      Seq(("a", "a", 2L), ("aa", "a", 1L)), m.merges)
    val counts = Bpe.subwordCounts(docs, "doc_id", "text", m).collect()
    assert(counts.head.getLong(1) == 1L && counts.head.getLong(2) == 1L)
  }

  test("empty-string words (consecutive spaces) train without crashing") {
    import spark.implicits._
    // "a  b" under the single-space split yields a '' word; its ZERO-
    // symbol array used to reach the pair-stats slice as length -1 and
    // crash. '' is high-frequency here, so it lands in the topK head —
    // the exact shape ADVICE r8 flagged. Merges must match the same
    // corpus with normalized spacing (the '' word contributes no pairs).
    val docs = Seq((1L, "low  low   lower"), (2L, " low newest  newest "))
      .toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 50, numMerges = 3)
    assert(m.merges.map(x => (x.lft, x.rgt, x.pairCount)) ==
      Seq(("l", "o", 4L), ("lo", "w", 4L), ("e", "s", 2L)), m.merges)
    // the '' word still rides through application with 0 subtokens
    val empt = m.wordSubtokens.filter(col("w") === "").collect()
    assert(empt.length == 1 && empt.head.getLong(1) == 0L, empt.toSeq)
  }

  test("stops early when no pairs remain; single-char words never merge") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 10, numMerges = 5)
    assert(m.merges.isEmpty, m.merges)
    val r = Bpe.subwordCounts(docs, "doc_id", "text", m).collect().head
    assert(r.getLong(1) == 5L && r.getLong(2) == 5L && r.getDouble(3) == 1.0)
  }

  test("subword counts shrink toward 1x as merges accumulate") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "tokenize tokenize subword subword"))
      .toDF("doc_id", "text")
    val m0 = Bpe.train(docs, "text", topK = 10, numMerges = 0)
    val mN = Bpe.train(docs, "text", topK = 10, numMerges = 20)
    def ratio(m: Bpe.Model): Double =
      Bpe.subwordCounts(docs, "doc_id", "text", m)
        .collect().head.getDouble(3)
    assert(ratio(m0) == 7.5) // chars per word with no merges: (8+8+7+7)/4
    assert(ratio(mN) == 1.0, // enough merges collapse every word
      s"expected full collapse, got ${ratio(mN)}")
  }

  test("BPE counts feed the x35 packing budget directly") {
    import spark.implicits._
    // under-merged corpus: whitespace counts (2/doc) would pack ~4 docs
    // per bin at budget 8, but the real subword cost is 8/doc — packing
    // on n_bpe_tokens yields one doc per bin, the budget-honest answer
    val docs = (1L to 4L).map(i => (i, "abcd efgh")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 10, numMerges = 0)
    val counted = Bpe.subwordCounts(docs, "doc_id", "text", m)
    val packed = Sampling.packByTokenBudget(
      counted, "doc_id", "n_bpe_tokens", budget = 8L, shards = 1)
    val perBin = packed.groupBy("shard", "bin").count()
      .collect().map(_.getLong(2))
    assert(perBin.forall(_ == 1L), perBin.toSeq)
  }

  test("decode(encode(doc)) == doc on the trained vocab, ids well-formed") {
    import spark.implicits._
    // consecutive spaces included: the empty word has zero symbols but
    // its flanking separators must survive the round trip
    val docs = Seq((1L, "low low lower"), (2L, "low newest  newest"),
      (3L, "aaa"), (4L, "")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 50, numMerges = 3)
    val enc = Bpe.encode(docs, "doc_id", "text", m)
    // round trip: decode inverts encode exactly, doc for doc
    val back = Bpe.decode(enc, m).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want, back)
    // well-formed ids: 0 only as separator, counts = subtokens + seps
    val v = Bpe.vocab(m).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v.map(_._2).sorted.toSeq == (1L to v.length).toSeq, v.toSeq)
    val rows = enc.collect().map(r =>
      (r.getLong(r.fieldIndex("doc_id")),
        r.getSeq[Long](r.fieldIndex("token_ids")),
        r.getLong(r.fieldIndex("n_tokens")))).sortBy(_._1)
    assert(rows.forall { case (_, ids, n) => ids.length == n })
    val subs = m.wordSubtokens.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((id, ids, _) <- rows) {
      val text = want(id)
      val words = text.split(" ", -1)
      val expected = words.map(subs).sum + (words.length - 1)
      assert(ids.length == expected, s"doc $id: $ids")
      assert(ids.count(_ == 0L) == words.length - 1, s"doc $id seps")
    }
  }

  test("applyMergesToWord == train's iterative rank-order folds on " +
      "every corpus word") {
    // the production applier (repeat leftmost-min-rank) must reproduce
    // the trainer's own segmentations exactly — the merges-can't-create-
    // lower-rank-instances argument, pinned corpus-wide
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val m = Bpe.train(docs, "text", topK = 50, numMerges = 30)
    val rank = m.merges.map(x => (x.lft, x.rgt) -> x.rank).toMap
    val mismatch = m.wordSyms.collect().filter { r =>
      val w = r.getString(0)
      val trained = r.getSeq[String](1)
      Bpe.applyMergesToWord(w, rank) != trained
    }
    assert(mismatch.isEmpty,
      s"applier diverged on ${mismatch.length} words, e.g. " +
        s"${mismatch.take(3).map(_.getString(0)).mkString(",")}")
    // overlap / chain edges by hand: same-symbol runs and rule chains
    import spark.implicits._
    val edge = Seq((1L, "aaa aaaa abab aabb ab")).toDF("doc_id", "text")
    val em = Bpe.train(edge, "text", topK = 10, numMerges = 4)
    val er = em.merges.map(x => (x.lft, x.rgt) -> x.rank).toMap
    em.wordSyms.collect().foreach { r =>
      assert(Bpe.applyMergesToWord(r.getString(0), er) ==
        r.getSeq[String](1), s"edge word ${r.getString(0)}")
    }
  }

  test("byte fallback: unseen words get the merge ladder, OOV chars " +
      "become byte tokens, round-trip exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val train = Seq((1L, "low low lower"), (2L, "low newest newest"))
      .toDF("doc_id", "text")
    val m = Bpe.train(train, "text", topK = 50, numMerges = 3)
    // merges learned: (l,o), (lo,w), (e,s) — "lowest" is UNSEEN but its
    // chars are in-corpus: the ladder yields [low, es, t] exactly
    val oov = Seq((1L, "lowest"), (2L, "café ✓"), (3L, "low low"),
      (4L, "")).toDF("doc_id", "text")
    val enc = Bpe.encodeWithByteFallback(oov, "doc_id", "text", m)
    val dec = Bpe.decodeWithByteFallback(enc, m)
    val bad = oov.join(dec.withColumnRenamed("text", "rt"), "doc_id")
      .filter(col("text") =!= col("rt"))
    assert(bad.isEmpty, s"round trip broke: ${bad.take(3).mkString(";")}")
    // "lowest" = the merge-ladder segmentation [low, es, t]; all three
    // symbols survive in training words, so all three carry vocab ids
    val v = Bpe.vocab(m).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lowestIds = enc.filter(col("doc_id") === 1L)
      .select(explode(col("token_ids"))).collect().map(_.getLong(0)).toSeq
    assert(lowestIds == Seq(v("low"), v("es"), v("t")),
      s"expected merge-ladder ids, got $lowestIds (vocab $v)")
    // "café ✓": OOV chars land in the reserved byte range (é 2 bytes,
    // ✓ 3 bytes; c/a/f were merged away or unseen — any non-vocab sym
    // degrades to bytes)
    val V = v.size.toLong
    val cafeIds = enc.filter(col("doc_id") === 2L)
      .select(explode(col("token_ids"))).collect().map(_.getLong(0))
    assert(cafeIds.filter(_ > V).forall(i => i <= V + 256), cafeIds.toSeq)
    assert(cafeIds.count(_ > V) >= 5, s"expected byte tokens: ${cafeIds.toSeq}")
    // covered text: identical ids to plain encode
    val plain = Bpe.encode(oov.filter(col("doc_id") === 3L), "doc_id",
      "text", m).select(concat_ws(",", col("token_ids"))).first().getString(0)
    val fb = enc.filter(col("doc_id") === 3L)
      .select(concat_ws(",", col("token_ids"))).first().getString(0)
    assert(plain == fb, s"covered encoding changed: $plain vs $fb")
  }

  test("encode fails loudly on out-of-vocabulary words") {
    import spark.implicits._
    val train = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val m = Bpe.train(train, "text", topK = 50, numMerges = 2)
    val other = Seq((9L, "unseen low")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Bpe.encode(other, "doc_id", "text", m).collect()
    }
    assert(e.getMessage.contains("not in the model vocabulary"),
      e.getMessage)
  }

  test("topK restricts training statistics but merges apply to all words") {
    import spark.implicits._
    // 'zz' is below the top-1 cut: its pair stats must not train merges,
    // but the (q,q) merge learned from frequent 'qq' still applies to it
    val docs = Seq((1L, "qq qq qq zz")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", topK = 1, numMerges = 5)
    assert(m.merges.map(x => (x.lft, x.rgt)) == Seq(("q", "q")), m.merges)
    val sub = m.wordSubtokens.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sub == Map("qq" -> 1L, "zz" -> 2L), sub)
  }
}
