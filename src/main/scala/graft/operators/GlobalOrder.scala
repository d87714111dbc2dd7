package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranks over a sort key without a global window — the
  * distributed answer to `row_number() OVER (ORDER BY …)`, whose naive
  * plan (Exchange SinglePartition + one task over all rows) is the
  * scale-killer this repo's plan lint bans outright. The same
  * range-partition-then-offset idea TeraSort made canonical (O'Malley,
  * "TeraByte Sort on Apache Hadoop", 2008) expressed declaratively:
  *
  *   1. bucket rows by an order-preserving PREFIX of the key (keys
  *      sharing a prefix are lexicographically contiguous, so bucket
  *      order == key order) → a bounded (bucket, count) histogram;
  *   2. exact bucket offsets from the histogram alone — a triangular
  *      self-join over the ≤ |alphabet|^superChars super-prefix totals
  *      plus a super-partitioned cumulative window (bounded frames,
  *      no empty partitionSpec anywhere);
  *   3. global_pos = bucket offset + rank within bucket (a window
  *      partitioned by the bucket; a degenerate shared-prefix
  *      distribution fails loudly past `maxBucket` instead of
  *      funneling one task).
  *
  * Positions are dense 1..N in (key, id) order — ties break on the id.
  * Null keys are excluded (they have no place in the order). This is
  * the positioning core of [[SortedNeighborhood]], exposed because
  * exact global ranks are their own primitive: stable dense ids,
  * deterministic pagination, rank-based sampling.
  */
object GlobalOrder {

  /** `(idCol, keyCol, pos)` with `pos` the exact 1-based global rank
    * in lexicographic (keyCol, idCol) order. `keyCol` must be a string
    * whose lexicographic order is the intended sort order (render
    * numeric keys fixed-width, e.g. `lpad(cents, 12, '0')`). */
  def positions(df: DataFrame, idCol: String, keyCol: String,
      bucketChars: Int = 4, superChars: Int = 1,
      maxBucket: Long = 1L << 22): DataFrame = {
    require(bucketChars >= 1 && superChars >= 1 &&
      superChars < bucketChars,
      s"need 1 <= superChars < bucketChars, got $superChars/$bucketChars")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")

    val base = df
      .select(col(idCol).cast("long").as("__id"),
        col(keyCol).cast("string").as("__k"))
      .filter(col("__k").isNotNull) // null keys have no sort position
      .withColumn("__b", substring(col("__k"), 1, bucketChars))
      .withColumn("__s", substring(col("__k"), 1, superChars))

    // (bucket, count) histogram + super totals — both bounded frames
    val hist = base.groupBy(col("__s"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val supTot = hist.groupBy(col("__s")).agg(sum(col("__c")).as("__sc"))
    // triangular join over the supers-sized frame replaces the global
    // cumulative window: offset(s) = Σ totals of strictly-earlier supers
    val supOff = supTot.as("a")
      .join(supTot.as("b"), col("b.__s") < col("a.__s"), "left")
      .groupBy(col("a.__s").as("__s"))
      .agg(coalesce(sum(col("b.__sc")), lit(0L)).as("__soff"))
    val wB = Window.partitionBy(col("__s")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("__before", coalesce(sum(col("__c")).over(wB), lit(0L)))
      .join(supOff, Seq("__s"))
      .select(col("__b"),
        when(col("__c") > maxBucket, raise_error(concat(
          lit("GlobalOrder: bucket '"), col("__b"),
          lit(s"' holds "), col("__c"),
          lit(s" rows (> maxBucket $maxBucket) — raise bucketChars " +
            "(finer prefix buckets) or maxBucket deliberately")))
          .cast("long"))
          .otherwise(col("__soff") + col("__before")).as("__off"))

    val wR = Window.partitionBy(col("__b")).orderBy(col("__k"), col("__id"))
    base
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("pos", col("__off") + row_number().over(wR).cast("long"))
      .select(col("__id").as(idCol), col("__k").as(keyCol), col("pos"))
  }

  /** Cumulative sums of one or more weight columns in global KEY order,
    * without a global window — the multi-weight generalization of the
    * offset decomposition: input one row per key (pre-aggregated by the
    * caller), output the same rows plus `cum_<w>` = Σ of `w` over keys
    * ≤ this key. Every frame is NDV- or alphabet-bounded; the
    * triangular super join is the [[positions]] shape. The CDF
    * primitive under [[KsDrift]] and any exact-distribution statistic. */
  def cumulativeSums(hist: DataFrame, keyCol: String,
      weightCols: Seq[String], bucketChars: Int = 4,
      superChars: Int = 1): DataFrame = {
    require(weightCols.nonEmpty, "no weight columns")
    require(bucketChars >= 1 && superChars >= 1 &&
      superChars < bucketChars,
      s"need 1 <= superChars < bucketChars, got $superChars/$bucketChars")
    val base = hist
      .withColumn("__k", col(keyCol).cast("string"))
      .filter(col("__k").isNotNull)
      .withColumn("__b", substring(col("__k"), 1, bucketChars))
      .withColumn("__s", substring(col("__k"), 1, superChars))
    val bTot = base.groupBy(col("__s"), col("__b"))
      .agg(sum(col(weightCols.head)).as(s"__bt_${weightCols.head}"),
        weightCols.tail.map(w => sum(col(w)).as(s"__bt_$w")): _*)
    val sTot = bTot.groupBy(col("__s"))
      .agg(sum(col(s"__bt_${weightCols.head}"))
          .as(s"__st_${weightCols.head}"),
        weightCols.tail.map(w => sum(col(s"__bt_$w")).as(s"__st_$w")): _*)
    val sOff = sTot.as("a")
      .join(sTot.as("b"), col("b.__s") < col("a.__s"), "left")
      .groupBy(col("a.__s").as("__s"))
      .agg(coalesce(sum(col(s"b.__st_${weightCols.head}")), lit(0L))
          .as(s"__so_${weightCols.head}"),
        weightCols.tail.map(w =>
          coalesce(sum(col(s"b.__st_$w")), lit(0L)).as(s"__so_$w")): _*)
    val wB = Window.partitionBy(col("__s")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bOff = weightCols.foldLeft(bTot) { (d, w) =>
      d.withColumn(s"__bb_$w",
        coalesce(sum(col(s"__bt_$w")).over(wB), lit(0L)))
    }.join(sOff, Seq("__s"))
      .select(col("__b") +: weightCols.map(w =>
        (col(s"__so_$w") + col(s"__bb_$w")).as(s"__off_$w")): _*)
    val wK = Window.partitionBy(col("__b")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weightCols.foldLeft(base.join(broadcast(bOff), Seq("__b"))) {
      (d, w) => d.withColumn(s"cum_$w",
        col(s"__off_$w") + sum(col(w)).over(wK))
    }.drop("__b", "__s", "__k")
      .drop(weightCols.map(w => s"__off_$w"): _*)
  }

  /** Exact range-partitioner boundaries: the `parts − 1` splitter keys
    * cutting key order into near-equal parts — what Spark's
    * RangePartitioner estimates by reservoir SAMPLING (nondeterministic
    * across runs), computed exactly and reproducibly from the weighted
    * key histogram: splitter i = the key at which the cumulative row
    * count first reaches `i·N DIV parts`. The same prefix-bucket
    * offset decomposition as [[positions]], but weighted by the
    * histogram counts, so every frame is NDV- or alphabet-bounded and
    * no global window exists. Each splitter is found by the interval
    * test `cum ≥ target ∧ cum − c < target` — one filter over the
    * histogram, no per-target min-aggregation. Targets that fall to
    * rank 0 (N < parts) have no splitter row — that part is empty by
    * construction. */
  def rangeSplitters(df: DataFrame, keyCol: String, parts: Int,
      bucketChars: Int = 4, superChars: Int = 1): DataFrame = {
    require(parts >= 2 && parts <= 4096,
      s"parts must be in 2..4096, got $parts")
    require(bucketChars >= 1 && superChars >= 1 &&
      superChars < bucketChars,
      s"need 1 <= superChars < bucketChars, got $superChars/$bucketChars")
    val base = df.select(col(keyCol).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .withColumn("__b", substring(col("__k"), 1, bucketChars))
      .withColumn("__s", substring(col("__k"), 1, superChars))
    val hist = base.groupBy(col("__s"), col("__b"), col("__k"))
      .agg(count(lit(1)).as("__c"))
    val bTot = hist.groupBy(col("__s"), col("__b"))
      .agg(sum(col("__c")).as("__bc"))
    val sTot = bTot.groupBy(col("__s")).agg(sum(col("__bc")).as("__sc"))
    val sOff = sTot.as("a")
      .join(sTot.as("b"), col("b.__s") < col("a.__s"), "left")
      .groupBy(col("a.__s").as("__s"))
      .agg(coalesce(sum(col("b.__sc")), lit(0L)).as("__soff"))
    val wB = Window.partitionBy(col("__s")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bOff = bTot
      .withColumn("__before", coalesce(sum(col("__bc")).over(wB), lit(0L)))
      .join(sOff, Seq("__s"))
      .select(col("__b"), (col("__soff") + col("__before")).as("__off"))
    val wK = Window.partitionBy(col("__b")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // persisted: the NDV-sized cumulative histogram feeds both the
    // 1-row total and the splitter filter (the Profiler count-table
    // convention) — without the cache the corpus pass re-executes
    val cum = CacheScope.persist(hist
      .join(broadcast(bOff), Seq("__b"))
      .withColumn("cum", col("__off") + sum(col("__c")).over(wK)))
    val total = cum.agg(sum(col("__c")).cast("long").as("__n"))
    cum.crossJoin(broadcast(total))
      .select(col("__k"), col("__c"), col("cum"),
        posexplode(array((1 until parts).map(i =>
          expr(s"__n * ${i}L DIV ${parts}L")): _*)).as(Seq("__i", "__t")))
      .filter(col("__t") > 0L && col("cum") >= col("__t") &&
        col("cum") - col("__c") < col("__t"))
      .select((col("__i") + 1).cast("long").as("split_idx"),
        col("__t").as("target_rank"), col("__k").as("splitter_key"),
        col("cum").as("cum_at"))
  }
}
