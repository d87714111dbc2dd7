package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Data Selection via Importance Resampling (DSIR) — select raw-corpus
  * documents that look like a curated target corpus, using hashed n-gram
  * importance weights (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023, arXiv:2302.03169).
  *
  * The published recipe: featurize each document as a bag of unigrams and
  * bigrams hashed into B buckets; fit two bag-of-buckets distributions —
  * p (target corpus) and q (raw corpus) — with add-one smoothing; score
  * each raw document by its log importance weight
  *
  *   log w(x) = sum over token features f of
  *              [ ln((ct[b(f)]+1)/(tt+B)) - ln((cr[b(f)]+1)/(tr+B)) ]
  *
  * where ct/cr are target/raw bucket counts and tt/tr total feature
  * counts; then resample the top-scoring documents. High log-w = the
  * document's token distribution is more probable under the target than
  * under the raw background.
  *
  * Scale shape (the 100 TB posture): the corpus tokenizes ONCE into the
  * hashed feature stream (zero-shuffle per-row array transform, persisted
  * — it feeds both the bucket-count aggregation and the per-doc scoring
  * sum); bucket statistics are ONE hash aggregation with map-side combine
  * onto B <= a few thousand rows; the per-bucket log-ratio table is
  * B-row and BROADCAST into the scoring pass; totals ride a single-row
  * broadcast (the x25/x40 scalar-attach shape). Per-feature log-ratios
  * are rounded then summed as exact decimals so the per-doc score is
  * independent of summation order (the oracle-parity rule, Registry
  * scaladoc). Selection is top-k by score — `orderBy(...).limit(k)`
  * plans as TakeOrdered (per-partition heaps + driver merge of k rows),
  * never a global sort.
  *
  * The hash primitive is the first 8 hex chars of md5 (same value in
  * DuckDB via `('0x' || substr(md5(f),1,8))::BIGINT`), mod B.
  */
object Dsir {

  private val D6 = DecimalType(18, 6)

  /** Hashed unigram+bigram feature bucket for one feature string. */
  private def bucketOf(f: Column, buckets: Int): Column =
    pmod(conv(substring(md5(f), 1, 8), 16, 10).cast("long"), lit(buckets))

  /** Per-occurrence hashed feature stream: one row per unigram and per
    * bigram occurrence — (doc_id, is_target, bucket). */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    val ts = split(col(textCol), " ")
    val bigrams = transform(slice(ts, lit(1), size(ts) - 1),
      (w, i) => concat(w, lit("_"), element_at(ts, i + 2)))
    docs.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
        explode(concat(ts, bigrams)).as("f"))
      .select(col("doc_id"), col("is_target"),
        bucketOf(col("f"), buckets).as("bucket"))
  }

  /** (doc_id, is_target, n_feats, logw) for every document: the decimal-
    * exact hashed-n-gram log importance weight of the doc under the
    * target-vs-raw bucket distributions. */
  def importanceScores(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // persisted: consumed by BOTH the bucket-count aggregation and the
    // per-doc scoring sum — unpersisted, the corpus would tokenize+hash
    // twice (the stream is corpus-sized; MEMORY_AND_DISK spills)
    val feat = CacheScope.persist(
      hashedFeatures(docs, idCol, textCol, isTarget, buckets))
    // B-row bucket-count table, persisted: consumed by BOTH the totals
    // aggregate and the log-ratio projection — unpersisted, the
    // corpus-sized feature stream would aggregate twice
    val stats = CacheScope.persist(feat.groupBy("bucket").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct")))
    val tot = stats.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    // B-row log-ratio table: ln(p_target/q_raw) per bucket, rounded to
    // 6 decimals BEFORE the decimal cast so both engines sum identical
    // exact values
    val lr = stats.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log((col("ct") + lit(1.0)) / (col("tt") + lit(buckets))) -
              log((col("cr") + lit(1.0)) / (col("tr") + lit(buckets))), 6)
          .cast(D6).as("lr"))
    feat.join(broadcast(lr), "bucket")
      .groupBy("doc_id", "is_target")
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lr")), 6).cast(DoubleType).as("logw"))
  }

  /** Top-k raw (non-target) documents by log importance weight — the
    * resampled selection. Ties break on doc_id; plans as TakeOrdered. */
  def resampleTopK(scores: DataFrame, k: Int): DataFrame =
    scores.filter(!col("is_target"))
      .select(col("doc_id"), col("n_feats"), col("logw"))
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(k)
}
