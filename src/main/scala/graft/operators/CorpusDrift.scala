package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Per-source distribution drift: Jensen–Shannon divergence between each
  * source's token distribution and the whole-corpus distribution,
  * restricted to the global top-K vocabulary plus one out-of-vocabulary
  * bucket (the standard monitoring statistic for corpus mix shift;
  * JS divergence per Lin, "Divergence measures based on the Shannon
  * entropy", IEEE Trans. IT 1991).
  *
  *   JS(p, q) = ½ Σ_t p(t) ln(p(t)/m(t)) + ½ Σ_t q(t) ln(q(t)/m(t)),
  *   m = (p+q)/2
  *
  * with p = the source's distribution and q = the corpus distribution
  * over {top-K terms} ∪ {OOV}. Bucketing to top-K+OOV keeps the support
  * identical across sources (so JS is comparable) and keeps the
  * reference table broadcastable at any corpus size.
  *
  * Scale shape: the corpus tokenizes ONCE into a persisted (source, term)
  * stream feeding (a) the global term-count aggregation — whose top-K is
  * TakeOrdered, K rows to the driver, never a global sort — and (b) the
  * per-source bucket counts. The K-row vocabulary broadcasts into the
  * bucketing join; per-source bucket tables are S×(K+1) rows. Per-term
  * JS contributions are rounded then summed as exact decimals so each
  * source's divergence is independent of summation order (the
  * oracle-parity rule, Registry scaladoc).
  */
object CorpusDrift {

  private val D8 = DecimalType(18, 8)

  /** (source, n_tokens, js) per source: JS divergence (nats, rounded to
    * 6 decimals) between the source's token distribution and the corpus
    * distribution over the global top-`k` terms + OOV. */
  def jsDivergencePerSource(docs: DataFrame, sourceCol: String,
      textCol: String, k: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = CacheScope.persist(
      docs.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term")))
    // global top-K vocabulary: full term counts (map-side combine onto
    // vocab-sized rows), then TakeOrdered K — ties break on the term
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cg"))
      .orderBy(col("cg").desc, col("term")).limit(k)
    // bucket every token: top-K terms keep their identity, the rest pool
    // into OOV; the K-row vocabulary broadcasts
    val bucketed = toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col("source"),
        when(col("cg").isNotNull, col("term")).otherwise(lit("__oov__"))
          .as("bterm"))
    // persisted: the S×(K+1) bucket-count table feeds the per-source
    // totals, the corpus bucket counts, AND the grid probe — all tiny
    val perSource = CacheScope.persist(
      bucketed.groupBy("source", "bterm").agg(count(lit(1)).as("cs")))
    jsFromBucketCounts(perSource)
  }

  /** JS divergence from a (source, bterm, cs) bucket-count table — the
    * batch tail of [[jsDivergencePerSource]], also fed by the streaming
    * drift ledger (x84), whose merged counts telescope to exactly this
    * shape. `perSource` must be tiny (S×(K+1) rows) and, if consumed
    * lazily elsewhere, already persisted by the caller. */
  def jsFromBucketCounts(perSource: DataFrame): DataFrame = {
    val sources = perSource.groupBy("source").agg(sum(col("cs")).as("ns"))
    val corpus = perSource.groupBy("bterm").agg(sum(col("cs")).as("cq"))
    val nq = corpus.agg(sum(col("cq")).as("nq"))
    // FULL support grid (S sources × K+1 buckets, both bounded group-count
    // tables, never corpus rows): a source that never emits a top-K term
    // still owes that term's q-side JS mass — a join on emitted pairs
    // alone would silently drop it
    val grid = sources.crossJoin(broadcast(corpus.crossJoin(broadcast(nq))))
      .join(perSource, Seq("source", "bterm"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
    // per-term JS contribution, decimal-rounded before the per-source sum;
    // p=0 guarded (0·ln 0 = 0, not NaN); q>0 always (corpus buckets exist)
    val joined = grid
      .withColumn("p", col("cs").cast(DoubleType) / col("ns"))
      .withColumn("q", col("cq").cast(DoubleType) / col("nq"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("contrib",
        round((when(col("cs") > 0, col("p") * log(col("p") / col("m")))
                 .otherwise(lit(0.0)) +
               col("q") * log(col("q") / col("m"))) / 2, 8).cast(D8))
    joined.groupBy("source")
      .agg(sum(col("cs")).as("n_tokens"),
        // exact-decimal round BEFORE the double cast (the x100 lesson:
        // an 8dp sum on the .0000005 grid flips engine-dependently when
        // rounded after the cast)
        round(sum(col("contrib")), 6).cast(DoubleType).as("js"))
  }

  /** Top-`k` terms of a REFERENCE corpus sample, as a driver-held list
    * (k-bounded pull via TakeOrdered — the centroid-index convention).
    * Streaming drift monitors pin the vocabulary up front: a micro-batch
    * cannot know the global top-K, and a moving vocabulary would make
    * drift numbers incomparable across batches. */
  def referenceVocabulary(docs: DataFrame, textCol: String,
      k: Int): Seq[String] =
    docs.select(explode(split(col(textCol), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(k)
      .collect().map(_.getString(0)).toSeq

  /** (source, bterm, cs) bucket counts of `df` against a PINNED
    * vocabulary — the map-side work a streaming micro-batch does before
    * appending to the drift ledger. */
  def bucketCountsAgainstVocab(df: DataFrame, sourceCol: String,
      textCol: String, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocabulary must be non-empty")
    df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .withColumn("bterm",
        when(col("term").isin(vocab: _*), col("term"))
          .otherwise(lit("__oov__")))
      .groupBy("source", "bterm").agg(count(lit(1)).as("cs"))
  }
}
