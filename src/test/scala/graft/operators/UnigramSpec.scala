package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer invariants the DuckDB oracle doesn't cover:
  * exact round-trip (incl. the consecutive-space edge x204 pins for
  * BPE), char-coverage segmentability, Viterbi optimality on a
  * hand-checkable vocabulary, and the loud OOV contract. */
class UnigramSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def roundTrip(docs: DataFrame): Unit = {
    val model = Unigram.train(docs, "text", topK = 50, maxPieceLen = 3,
      multiPieces = 40, rounds = 2)
    val enc = Unigram.encode(docs, "doc_id", "text", model)
    val dec = Unigram.decode(enc, model)
    val bad = docs.select(col("doc_id"), col("text"))
      .join(dec.withColumnRenamed("text", "rt"), "doc_id")
      .filter(col("text") =!= col("rt"))
    assert(bad.isEmpty, s"round trip broke: ${bad.take(3).mkString(";")}")
  }

  test("decode(encode(doc)) == doc on the corpus") {
    roundTrip(spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")))
  }

  test("train leaves no checkpoint persisted (its Model is a Map)") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower"), (2L, "low newest newest"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Unigram.train(docs, "text")
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted after train: $left")
  }

  test("local Viterbi == the HOF executable spec on every corpus word") {
    // the encode path runs viterbiPiecesLocal (mapPartitions); the HOF
    // viterbiPieces stays as the executable specification the oracle
    // replays — pin them equal on every distinct corpus word, both
    // fallback modes, plus OOV/multi-byte probes (the Bpe
    // applyMergesToWord discipline)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val model = Unigram.train(docs, "text", topK = 50, maxPieceLen = 3,
      multiPieces = 40, rounds = 2)
    import spark.implicits._
    val words = docs
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .union(Seq("", "xz~é", "aéb", "cafés",
        "😀x").toDF("w"))
    for (fb <- Seq(false, true)) {
      val hof = words
        .withColumn("ps", Unigram.viterbiPieces(col("w"),
          typedlit(model.pieces), model.maxPieceLen, fb))
        .as[(String, Seq[String])].collect().toMap
      val loc = words.as[String].collect()
        .map(w => w -> Unigram.viterbiPiecesLocal(w, model.pieces,
          model.maxPieceLen, fb)).toMap
      assert(hof.keySet == loc.keySet)
      val diff = hof.keys.filter(w => hof(w) != loc(w))
      assert(diff.isEmpty,
        s"fb=$fb divergence on ${diff.take(5).mkString(", ")}: " +
          diff.take(1).map(w => s"hof=${hof(w)} local=${loc(w)}").mkString)
    }
  }

  test("round trip survives consecutive/leading/trailing spaces") {
    import spark.implicits._
    roundTrip(Seq((1L, "a  b"), (2L, " x"), (3L, "y "), (4L, ""),
      (5L, "aa  bb cc"), (6L, "  ")).toDF("doc_id", "text"))
  }

  test("every in-corpus word is segmentable (char coverage)") {
    import spark.implicits._
    // 60 distinct filler words (freq 3 each) push 'zq'/'xvj' (freq 1,
    // and the ONLY carriers of chars z/q/x/v/j) outside the top-50
    // trainable head — their chars enter the vocab via the coverage
    // floor, never via head seeding or EM usage
    val docs = ((1 to 60).map(i => s"w$i w$i w$i") ++ Seq("zq xvj"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = Unigram.train(docs, "text")
    val counts = Unigram.wordSubtokens(docs, "text", model)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // segmented as pure chars — the floor kept them segmentable
    assert(counts("zq") == 2 && counts("xvj") == 3, counts.toString)
  }

  test("byte fallback: OOV text round-trips, incl. multi-byte codepoints") {
    import spark.implicits._
    val train = Seq.fill(20)("the cat sat on the mat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val model = Unigram.train(train, "text")
    // x, z, ~ outside the trained alphabet; é (2-byte) and ✓ (3-byte)
    // prove the UTF-8 split/reassembly across consecutive byte tokens
    val oov = Seq((1L, "the cat xz~"), (2L, "café ✓ sat"), (3L, ""),
      (4L, "the")).toDF("doc_id", "text")
    val enc = Unigram.encodeWithByteFallback(oov, "doc_id", "text", model)
    val dec = Unigram.decodeWithByteFallback(enc, model)
    val bad = oov.join(dec.withColumnRenamed("text", "rt"), "doc_id")
      .filter(col("text") =!= col("rt"))
    assert(bad.isEmpty, s"byte-fallback round trip broke: ${bad.take(3).mkString(";")}")
    // OOV bytes land in the reserved id range V+1..V+256
    val v = model.pieces.size.toLong
    val ids = enc.filter(col("doc_id") === 1L)
      .select(explode(col("token_ids"))).collect().map(_.getLong(0))
    assert(ids.count(_ > v) == 3, s"expected 3 byte tokens, got ${ids.mkString(",")}")
    assert(ids.filter(_ > v).forall(i => i <= v + 256), ids.mkString(","))
  }

  test("byte fallback never changes covered text's encoding") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val model = Unigram.train(docs, "text", topK = 50, maxPieceLen = 3,
      multiPieces = 40, rounds = 2)
    val plain = Unigram.encode(docs, "doc_id", "text", model)
      .select(col("doc_id"), concat_ws(",", col("token_ids")).as("ids"))
    val fb = Unigram.encodeWithByteFallback(docs, "doc_id", "text", model)
      .select(col("doc_id"), concat_ws(",", col("token_ids")).as("ids2"))
    val diff = plain.join(fb, "doc_id")
      .filter(col("ids") =!= col("ids2"))
    assert(diff.isEmpty,
      s"fallback changed a covered encoding: ${diff.take(3).mkString(";")}")
  }

  test("a top-frequency word segments as one learned piece") {
    import spark.implicits._
    val docs = Seq.fill(30)("the cat sat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val model = Unigram.train(docs, "text")
    val counts = Unigram.wordSubtokens(docs, "text", model)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("the") == 1, s"head word fertility: ${counts("the")}")
  }

  test("Viterbi picks the min-cost segmentation, longer piece on ties") {
    import spark.implicits._
    // hand-built model: cost('ab') + cost('c') < cost('a') + cost('bc')
    // iff counts say so; with counts ab=10, c=10, a=1, b=1, bc=1 the
    // best split of 'abc' is [ab, c]
    val m = Unigram.Model(Map(
      "a" -> 3000000L, "b" -> 3000000L, "c" -> 1000000L,
      "ab" -> 500000L, "bc" -> 3000000L), maxPieceLen = 3)
    val got = Unigram.wordSubtokens(
      Seq((1L, "abc")).toDF("doc_id", "text"), "text", m)
      .filter(col("w") === "abc").first().getLong(1)
    assert(got == 2, s"expected [ab, c] (2 pieces), got $got")
    // tie preference: with equal-cost alternatives the longer first
    // piece wins — 'aa' as one piece, not two
    val tied = Unigram.Model(Map("a" -> 1000000L, "aa" -> 2000000L),
      maxPieceLen = 3)
    val enc = Unigram.encode(Seq((1L, "aa")).toDF("doc_id", "text"),
      "doc_id", "text", tied)
    assert(enc.first().getLong(2) == 1L,
      "tie must prefer the longer piece")
  }

  test("OOV word raises an actionable error") {
    import spark.implicits._
    val model = Unigram.train(Seq((1L, "abc abd")).toDF("doc_id", "text"),
      "text")
    val e = intercept[Exception] {
      Unigram.encode(Seq((2L, "xyz")).toDF("doc_id", "text"),
        "doc_id", "text", model).collect()
    }
    assert(e.getMessage.contains("vocabulary"), e.getMessage)
  }

  test("fertility: unigram beats chars, BPE comparable, both >= 1 piece/word") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang")).limit(200)
    val uni = Unigram.train(docs, "text")
    val counts = Unigram.wordSubtokens(docs, "text", uni)
      .filter(col("w") =!= "")
    val stats = counts
      .agg(min(col("n_subtokens")).as("mn"),
        avg(col("n_subtokens")).as("av"),
        max(length(col("w"))).as("mx")).first()
    assert(stats.getLong(0) >= 1L)
    // multi-char pieces must actually engage: mean subtokens per word
    // strictly below mean word length
    val meanLen = counts.agg(avg(length(col("w")))).first().getDouble(0)
    assert(stats.getDouble(1) < meanLen,
      s"unigram degenerated to chars: ${stats.getDouble(1)} vs $meanLen")
  }
}
