package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins. AQE's skew-join handling
  * (`spark.sql.adaptive.skewJoin`, on by default) is the first line of
  * defense; explicit salting is for the cases AQE can't split — e.g. a
  * single hot key inside one aggregation, or a build side that must stay
  * a shuffled-hash join.
  */
object Skew {

  /** Equi-join `left ⋈ right` on `key`, with the left side's hot keys
    * spread over `factor` salted sub-keys and the right side replicated
    * `factor` times. Use when `left` is large with skewed `key` and
    * `right` is too big to broadcast but small enough to replicate.
    * Result equals `left.join(right, key)` exactly.
    *
    * The left salt must be DETERMINISTIC per row (here: hash of all left
    * columns mod factor) — a rand() salt breaks task retries at scale.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      factor: Int): DataFrame = {
    require(factor > 1, "factor must be > 1")
    val l = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(factor)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase skew-safe aggregation: partial-aggregate on (key, salt),
    * then final-aggregate on key. For aggregates where Spark's own
    * map-side partial combine already bounds hot-key volume this is
    * unnecessary; use it for ObjectHashAggregate-class functions
    * (collect_list/sketches) whose partials don't shrink. */
  def twoPhaseAgg(df: DataFrame, key: String, factor: Int,
      partial: Seq[(String, String)], // (inputCol, aggFn) for phase 1
      finalAgg: Seq[(String, String)]): DataFrame = {
    require(factor > 1, "factor must be > 1")
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col): _*), lit(factor)))
    val p1 = salted.groupBy(col(key), col("__salt"))
      .agg(expr(s"${partial.head._2}(${partial.head._1}) AS __p0"),
        partial.tail.zipWithIndex.map { case ((c, f), i) =>
          expr(s"$f($c) AS __p${i + 1}")
        }: _*)
    p1.groupBy(col(key))
      .agg(expr(s"${finalAgg.head._2}(__p0) AS ${finalAgg.head._1}"),
        finalAgg.tail.zipWithIndex.map { case ((name, f), i) =>
          expr(s"$f(__p${i + 1}) AS $name")
        }: _*)
      .drop("__salt")
  }

  /** Join-skew DIAGNOSIS — the profile run before picking a remedy
    * above: simulate hash-partitioning `keyCol` into `partitions`
    * buckets (portable md5 bucket, not engine-internal murmur — the
    * RELATIVE load picture is what the decision needs) and report
    *
    *  - `key` rows: the topK heaviest keys with their corpus share —
    *    candidates for broadcast/salt special-casing,
    *  - `bucket` rows: per-bucket load as a ratio to the mean
    *    (metric_micro = n·P·10⁶ / total; 10⁶ = exactly mean),
    *  - one `summary` row: the max bucket ratio — "the hottest
    *    partition runs X× the mean", the number that predicts the
    *    straggler before the join runs.
    *
    * Scale shape: ONE key-count aggregation (map-side combined,
    * key-cardinality-sized output, persisted ([[CacheScope]]) —
    * three consumers); top keys via sort-limit (TakeOrdered); buckets
    * re-aggregate the count table, not the corpus; the total rides a
    * 1-row broadcast. Metrics are truncating BIGINT micro divisions. */
  def keyProfile(df: DataFrame, keyCol: String, partitions: Int,
      topK: Int): DataFrame = {
    require(partitions >= 2, s"bad partition count $partitions")
    require(topK >= 1, s"bad topK $topK")
    val counts = CacheScope.persist(
      df.select(col(keyCol).cast("string").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")))
    val total = counts.agg(sum(col("n")).as("total"))
    val topKeys = counts.orderBy(desc("n"), col("k")).limit(topK)
      .crossJoin(broadcast(total))
      .select(lit("key").as("section"), col("k").as("item"),
        col("n").as("n_rows"),
        expr("n * 1000000 div total").as("metric_micro"))
    val buckets = counts
      .withColumn("bucket", pmod(
        conv(substring(md5(col("k")), 1, 8), 16, 10).cast("long"),
        lit(partitions)))
      .groupBy("bucket").agg(sum(col("n")).as("n"))
      .crossJoin(broadcast(total))
      .select(lit("bucket").as("section"),
        col("bucket").cast("string").as("item"), col("n").as("n_rows"),
        expr(s"n * $partitions * 1000000 div total").as("metric_micro"))
    val summary = buckets
      .groupBy(lit("summary").as("section"))
      .agg(max(col("n_rows")).as("n_rows"),
        max(col("metric_micro")).as("metric_micro"))
      .select(col("section"), lit("max_bucket_vs_mean").as("item"),
        col("n_rows"), col("metric_micro"))
    topKeys.unionAll(buckets).unionAll(summary)
  }

  /** Join-explosion pre-flight: the EXACT output cardinality of an
    * equi-join, per key, BEFORE running it — |A ⋈ B| = Σ_k cₐ(k)·c_b(k),
    * the quantity that decides whether a 100 TB join is a plan or an
    * incident (one hot key at 10⁶ × 10⁶ rows is a 10¹² explosion AQE
    * can split but not shrink). [[keyProfile]] diagnoses ONE side's
    * skew; this crosses both sides.
    *
    * Shape: one key-count aggregation per side (map-side combined,
    * key-cardinality-sized), ONE equi-join between the two COUNT TABLES
    * (never the corpora), per-key product, then a key-cardinality-sized
    * rollup. Integer-exact: per-key products and their sum are BIGINT
    * (a key pair at 3·10⁹ × 3·10⁹ overflows — but that join output is
    * 9·10¹⁸ rows, already far past any runnable plan; the report is the
    * thing that tells you so before you try).
    *
    * Returns the topK (key, left_rows, right_rows, out_rows) explosion
    * contributors plus a `__total__` row summing, over matched keys,
    * the participating rows per side and the exact join output size.
    * Null keys never match in an equi-join and are EXCLUDED from both
    * sides (the report predicts the join, not the data). */
  def joinCardinality(left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String, topK: Int = 20): DataFrame = {
    require(topK > 0, "joinCardinality: topK must be > 0")
    def sideCounts(df: DataFrame, key: String, out: String): DataFrame =
      df.filter(col(key).isNotNull)
        .select(col(key).cast("string").as("key"))
        .groupBy("key").agg(count(lit(1)).as(out))
    val matched = sideCounts(left, leftKey, "left_rows")
      .join(sideCounts(right, rightKey, "right_rows"), Seq("key"))
      .withColumn("out_rows", col("left_rows") * col("right_rows"))
    val top = matched.orderBy(desc("out_rows"), col("key")).limit(topK)
    val total = matched.agg(
        coalesce(sum(col("left_rows")), lit(0L)).as("left_rows"),
        coalesce(sum(col("right_rows")), lit(0L)).as("right_rows"),
        coalesce(sum(col("out_rows")), lit(0L)).as("out_rows"))
      .select(lit("__total__").as("key"), col("left_rows"),
        col("right_rows"), col("out_rows"))
    top.unionAll(total)
  }
}
