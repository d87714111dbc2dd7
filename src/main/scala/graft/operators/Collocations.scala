package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collocation mining by pointwise mutual information (Church & Hanks,
  * Computational Linguistics 1990): adjacent word pairs that co-occur
  * far more than chance — multi-word expressions, named entities,
  * domain phrases. In a training-data pipeline this is the vocabulary-
  * health report (which phrases should the tokenizer keep whole?) and a
  * cheap domain fingerprint per source.
  *
  *   PMI(a, b) = ln( P(a,b) / (P(a)·P(b)) )
  *             = ln( n_ab · N_uni² / (N_bi · n_a · n_b) )   [MLE]
  *
  * computed here as ONE double expression over integer counts —
  * identical IEEE arithmetic on identical inputs on any engine, so the
  * 6dp-rounded value is oracle-exact. `minCount` floors the bigram
  * count (PMI is notoriously noisy on rare pairs — the standard
  * mitigation in the original paper).
  *
  * Scale shape: one bigram aggregation (map-side combine) + one unigram
  * aggregation; unigram counts attach by TWO broadcast-sized joins only
  * if the vocabulary is small — here they attach by shuffle join keyed
  * on the word, which is the 100 TB-safe default; totals ride a
  * single-row broadcast (the x25/x40 shape). Top-k via TakeOrdered. */
object Collocations {

  /** Top-`topK` adjacent-pair collocations by PMI (ties by pair),
    * among pairs with count >= minCount.
    * Columns: (w1, w2, n_pair, n_w1, n_w2, pmi). */
  def topPmi(df: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 20): DataFrame = {
    require(minCount >= 1L && topK >= 1, "minCount and topK must be >= 1")
    val toks = df.select(split(col(textCol), " ").as("ts"))
    val uni = CacheScope.persist(
      toks.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_w")))
      // joined twice (w1 and w2 sides) + the totals agg
    // pair counts BEFORE the minCount filter feed the bigram total —
    // N_bi is the MLE denominator over ALL bigrams, not the survivors
    val biAll = CacheScope.persist(toks
      .select(explode(zip_with(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair")))
      // totals agg + the filtered survivor scan
    val bi = biAll.filter(col("n_pair") >= minCount)
    val nUni = uni.agg(sum(col("n_w")).as("n_uni"))
    val nBi = biAll.agg(sum(col("n_pair")).as("n_bi"))
    // left-associated double products: no 64-bit overflow at corpus
    // scale, identical IEEE sequence on both engines
    bi
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBi))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi").cast("double") * col("n_w1") * col("n_w2"))), 6))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("n_pair"),
        col("n_w1"), col("n_w2"), col("pmi"))
  }
}
