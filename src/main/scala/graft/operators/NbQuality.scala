package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Supervised corpus-quality classifier — the second standard CCNet-style
  * quality axis next to LM perplexity ([[LmScore]]): CCNet (Wenzek et al.,
  * LREC 2020) ranks web text with a fastText linear classifier trained on
  * a trusted corpus; at pipeline scale the same shape is a multinomial
  * Naive Bayes over token counts trained in one pass on WEAK labels (any
  * cheap rule source — e.g. the x28 heuristic quality rules — labels the
  * corpus, the classifier generalizes the signal to a smooth per-document
  * log-likelihood-ratio that downstream curation thresholds or buckets).
  *
  * Model (add-one smoothing everywhere, so single-class degenerate
  * corpora stay finite):
  *
  *   llr(d) = [ln P(c=1) + Σ_{w∈d} ln P(w|1)] − [ln P(c=0) + Σ_{w∈d} ln P(w|0)]
  *   P(w|c) = (count(w,c) + 1) / (N_c + V)      — token Laplace
  *   P(c)   = (docs_c + 1) / (docs + 2)         — class Laplace
  *
  * pred = llr > 0 (would the classifier keep the doc?); agreement of pred
  * with the weak label measures how well token evidence reconstructs the
  * rule — disagreements are exactly the docs worth human review.
  *
  * Scale shape: ONE tokenize produces the exploded (doc, label, token)
  * stream, PERSISTED — it feeds the per-token class counts, the corpus
  * totals, and the scoring join (same cache-residency trade as
  * [[LmScore.bigramNll]]: the returned plan reads the persisted stream,
  * so reclamation is the caller's `spark.catalog.clearCache()` between
  * stages / session stop). Class-count and vocabulary aggregations are
  * map-side-combined hash aggs; the per-token log-prob table is
  * vocab-sized (AQE broadcasts it into the scoring join when it fits);
  * corpus totals and priors ride single-row broadcasts. Per-token
  * log-probs are rounded then summed as exact decimals, so every score is
  * independent of summation order — the oracle-parity rule for float
  * aggregation (Registry scaladoc).
  */
object NbQuality {

  /** (doc_id, label, n_tokens, llr, pred) per document, llr rounded to
    * `scoreScale` decimals, pred decided on the exact decimal sum. */
  def naiveBayesScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, scoreScale: Int = 4): DataFrame = {
    val D6 = DecimalType(18, 6)
    val toks = CacheScope.persist(docs
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("label"),
        explode(split(col(textCol), " ")).as("w")))
    val totals = toks.agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("nt1"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("nt0"),
      countDistinct(when(col("label") === 1, col("doc_id"))).as("nd1"),
      countDistinct(when(col("label") === 0, col("doc_id"))).as("nd0"),
      countDistinct(col("w")).as("vsz"))
    val wc = toks.groupBy("w").agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).as("c0"))
    val lp = wc.crossJoin(broadcast(totals))
      .select(col("w"),
        round(log((col("c1") + lit(1.0)) / (col("nt1") + col("vsz"))), 6)
          .cast(D6).as("lp1"),
        round(log((col("c0") + lit(1.0)) / (col("nt0") + col("vsz"))), 6)
          .cast(D6).as("lp0"))
    val priors = totals.select(
      round(log((col("nd1") + lit(1.0)) / (col("nd1") + col("nd0") + lit(2.0))), 6)
        .cast(D6).as("lpr1"),
      round(log((col("nd0") + lit(1.0)) / (col("nd1") + col("nd0") + lit(2.0))), 6)
        .cast(D6).as("lpr0"))
    val llrDec = (col("s1") + col("lpr1")) - (col("s0") + col("lpr0"))
    toks.join(lp, "w")
      .groupBy("doc_id", "label")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp1")).as("s1"), sum(col("lp0")).as("s0"))
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("label"), col("n_tokens"),
        // round the EXACT decimal, then cast (the x100 lesson: sums on
        // the .00005 grid land one ulp under the half after a double
        // cast, and HALF_UP fires engine-dependently — sf0.1 has a live
        // -1.02005 hit)
        round(llrDec, scoreScale).cast(DoubleType).as("llr"),
        (llrDec > 0).as("pred"))
  }
}
