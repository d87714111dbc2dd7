package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Corpus-trained bigram language-model scoring — the CCNet-style
  * perplexity-proxy quality signal (Wenzek et al., "CCNet", LREC 2020
  * rank web text by LM perplexity; at pipeline scale the same ordering
  * signal comes from a corpus-trained bigram model rather than an
  * external KenLM binary): each document scores the average negative
  * log-likelihood of its token bigrams under add-one-smoothed corpus
  * statistics,
  *
  *   lp(w2|w1) = ln((c(w1,w2) + 1) / (c(w1) + V))
  *
  * where c(·) are corpus counts and V the vocabulary size. High avg_nll
  * = improbable token sequences (gibberish, boilerplate soup); low =
  * fluent/templated text. Downstream filtering drops the tails.
  *
  * Scale shape: ONE tokenize produces the per-doc bigram stream
  * (zero-shuffle per-row array transform, PERSISTED — it feeds both the
  * bigram-count aggregation and the scoring join); unigram and bigram
  * counts are hash aggregations with map-side combine; the count tables
  * join back on their own keys (vocab-sized — AQE broadcasts them when
  * they fit); V rides a single-row broadcast. Per-bigram log-probs are
  * rounded then summed as exact decimals, so the per-doc average is
  * independent of summation order — the oracle-parity rule for float
  * aggregation (Registry scaladoc). Documents with fewer than two
  * tokens have no bigrams and drop out of the result.
  *
  * Cache residency: the returned plan READS the persisted `uni`/`bg`
  * tables, so they cannot be unpersisted before the caller's action
  * (eager materialization here would truncate the plan the ScaleSpec
  * shuffle lint audits). The residency is the price of tokenizing the
  * corpus once instead of twice (`uni` is vocab-sized; `bg` is the
  * bigram stream, MEMORY_AND_DISK so it spills rather than evicts);
  * long-lived sessions reclaim it with `spark.catalog.clearCache()`
  * between pipeline stages, batch runs at session stop.
  */
object LmScore {

  /** (doc_id, n_bigrams, avg_nll) per document with >= 1 bigram. */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      scoreScale: Int = 4): DataFrame = {
    val D6 = DecimalType(18, 6)
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("ts"))
    // persisted: consumed by BOTH the vocabulary-size count and the
    // scoring join — unpersisted, the corpus would tokenize+aggregate
    // twice (the table itself is vocab-sized, cheap to hold)
    val uni = CacheScope.persist(toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")))
    val vsz = uni.agg(count(lit(1)).as("vsz"))
    val bg = CacheScope.persist(toks.select(col("doc_id"),
      explode(transform(slice(col("ts"), lit(1), size(col("ts")) - 1),
        (w, i) => struct(w.as("w1"),
          element_at(col("ts"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val bi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bg.join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), "w1")
      .crossJoin(broadcast(vsz))
      .withColumn("lp", round(log((col("c2") + lit(1.0)) /
        (col("c1") + col("vsz"))), 6).cast(D6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.PortableMath.roundPortable(
          -(sum(col("lp")).cast(DoubleType) / count(lit(1))), scoreScale)
          .as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney, ICASSP 1995;
    * Chen & Goodman, Harvard TR-10-98 — the smoothing every production
    * n-gram LM uses, e.g. KenLM): where [[bigramNll]]'s add-one flattens
    * all unseen mass uniformly, KN discounts each seen bigram by a fixed
    * D and backs off to the CONTINUATION probability — how many distinct
    * contexts a word follows, not how often it occurs ("Francisco" is
    * frequent but only ever follows "San", so its continuation weight is
    * tiny). With D = 3/4 (Chen & Goodman's canonical fixed discount):
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/T
    *
    * where c(w1·) = Σ_x c(w1x), N1+(w1·) = distinct continuations of w1,
    * N1+(·w2) = distinct contexts preceding w2, T = distinct bigram
    * types. Scored bigrams come from the training corpus itself, so
    * c(w1w2) ≥ 1 and the max(·,0) clamp never binds.
    *
    * Determinism: with D = 3/4 the probability is the exact BIGINT
    * rational ((4c₂−3)·T + 3·N1p·Nend) / (4·c₁·T) — one IEEE divide +
    * ln + 6dp round per bigram (the x40 discipline), then exact decimal
    * sums. Headroom: c₂·T ≤ 2⁶² needs T·max(c₂) < 4.6·10¹⁸ — at 100 TB
    * split the log as ln(num) − ln(den) before this binds.
    *
    * Scale shape: the bigram stream persists once (CacheScope) and
    * feeds ONE (w1,w2) type aggregation; context totals c₁ and
    * continuation counts N1+ both derive from the vocab-sized type
    * table (not the corpus stream); T rides a 1-row broadcast; the
    * scoring join attaches three vocab-sized tables (AQE broadcasts
    * them when they fit). */
  def kneserNeyNll(docs: DataFrame, idCol: String, textCol: String,
      scoreScale: Int = 4): DataFrame = {
    val D6 = DecimalType(18, 6)
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("ts"))
    val bg = CacheScope.persist(toks.select(col("doc_id"),
      explode(transform(slice(col("ts"), lit(1), size(col("ts")) - 1),
        (w, i) => struct(w.as("w1"),
          element_at(col("ts"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    // the bigram TYPE table carries everything the model needs: c2 per
    // type, context totals + continuation fan-out per w1, preceding-
    // context fan-out per w2, and the type count T
    val bi = CacheScope.persist(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val ctx = bi.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val ends = bi.groupBy("w2").agg(count(lit(1)).as("nend"))
    val types = bi.agg(count(lit(1)).as("tt"))
    bg.join(bi, Seq("w1", "w2"))
      .join(ctx, "w1")
      .join(ends, "w2")
      .crossJoin(broadcast(types))
      .withColumn("lp", round(log(
        ((lit(4) * col("c2") - 3) * col("tt") +
          lit(3) * col("n1p") * col("nend")).cast(DoubleType) /
          (lit(4) * col("c1") * col("tt")).cast(DoubleType)), 6).cast(D6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.PortableMath.roundPortable(
          -(sum(col("lp")).cast(DoubleType) / count(lit(1))), scoreScale)
          .as("avg_nll"))
  }
}
