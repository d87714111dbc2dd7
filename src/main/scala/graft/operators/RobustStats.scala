package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Median/MAD robust outlier flags per group — the heavy-tail-safe
  * complement of mean/sigma scoring (Hampel 1974; Leys et al. JESP
  * 2013 "Detecting outliers: do not use standard deviation around the
  * mean"): one boilerplate page of 10^6 chars moves a source's MEAN
  * length by itself, but cannot move the median or the MAD, so
  * |x - median| > k*MAD still points at the page and not at everything
  * else.
  *
  * Medians are EXACT integers, never approximated: the value column is
  * integral (lengths, counts, micro-quantized scores), so a (group,
  * value) count table bounds distinct rows, a group-partitioned
  * cumulative window over that table finds the lower median (min v
  * with cum >= (n+1) div 2 — the (n+1) div 2 target is ceil(n/2), the
  * exact middle for odd n, the lower-middle for even), and the MAD is
  * the same selection over the |v - median| re-count. MAD = 0 (over
  * half the group identical) flags ANY strict deviation — the x138
  * sigma-zero semantics. Raw MAD, no 1.4826 normal-consistency factor:
  * k is calibrated against the MAD itself.
  *
  * Scale shape: ONE corpus (group, value) count aggregation (map-side
  * combined, grid-bounded distinct), windows run over the COUNT TABLE
  * partitioned by group (never the corpus), the deviation table is a
  * re-aggregation of the count table, and the per-group (median, mad)
  * frame joins back to the corpus by BROADCAST. The count table feeds
  * two consumers and persists ([[CacheScope]]). */
object RobustStats {

  /** Lower median per grp of the (grp, v, c) count table as `out`. */
  private def lowerMedian(counts: DataFrame, out: String): DataFrame = {
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = counts.groupBy("grp").agg(sum(col("c")).as("n"))
    counts.withColumn("cum", sum(col("c")).over(w))
      .join(totals, "grp")
      .groupBy("grp")
      .agg(min(when(expr("cum >= (n + 1) div 2"), col("v"))).as(out))
  }

  /** (id, group, v, median, mad, flag) per input row; flag = |v -
    * median| > k * mad. */
  def madOutliers(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"bad k $k")
    val base = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      col(valueCol).cast("long").as("v"))
    val counts = CacheScope.persist(base.groupBy("grp", "v")
      .agg(count(lit(1)).as("c")))
    val med = lowerMedian(counts, "median")
    val devCounts = counts.join(med, "grp")
      .select(col("grp"), abs(col("v") - col("median")).as("v"), col("c"))
      .groupBy("grp", "v").agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devCounts, "mad")
    base.join(broadcast(med.join(mad, "grp")), "grp")
      .select(col("id"), col("grp"), col("v"), col("median"), col("mad"),
        (abs(col("v") - col("median")) > col("mad") * k).as("flag"))
  }
}
