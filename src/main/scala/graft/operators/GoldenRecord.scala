package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden-record survivorship over resolved entity clusters — the step
  * AFTER record linkage (x133) and connected components: each cluster
  * of duplicate records fuses into one record per attribute by the
  * most-supported-value rule (Bleiholder & Naumann, "Data Fusion", ACM
  * Computing Surveys 2008 — their "vote" strategy), ties broken to the
  * smallest string so fusion is deterministic.
  *
  * Long-format output — one row per (cluster, attribute) — keeps the
  * report uniform over any attribute list and makes conflicts visible:
  * `n_values` > 1 IS the conflict count the stewardship queue reads,
  * and `support` over `n_members` is the vote margin. Nulls never vote
  * (an unknown is not a value), an all-null attribute fuses to null
  * with support 0.
  *
  * Scale shape: one corpus stack pass -> ONE (cluster, attr, value)
  * count aggregation (map-side combined), then the two-stage max-count
  * + equi-join mode selection (the x140 shape — a window partitioned
  * by (cluster, attr) would funnel a mega-cluster's whole value set
  * through one task; the two-stage form doesn't care). Member counts
  * are one cluster-keyed agg. The count table persists
  * ([[CacheScope]]; three consumers). */
object GoldenRecord {

  /** (cluster, n_members, attr, golden_value, support, n_values) —
    * attrs are profiled as rendered strings; pre-quantize floats. */
  def survivorship(records: DataFrame, clusterCol: String,
      attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "no attributes to fuse")
    require(attrs.distinct.size == attrs.size, s"duplicate attrs $attrs")
    val members = records.groupBy(col(clusterCol).as("cluster"))
      .agg(count(lit(1)).as("n_members"))
    val g = CacheScope.persist(records
      .select(col(clusterCol).as("cluster"),
        stack((lit(attrs.size) +: attrs.flatMap(a => Seq(
          lit(a), col(a).cast("string")))): _*).as(Seq("attr", "value")))
      .filter(col("value").isNotNull)
      .groupBy("cluster", "attr", "value")
      .agg(count(lit(1)).as("c")))
    val stats = g.groupBy("cluster", "attr")
      .agg(max(col("c")).as("maxc"), count(lit(1)).as("n_values"))
    val golden = g
      .join(stats, Seq("cluster", "attr"))
      .filter(col("c") === col("maxc"))
      .groupBy("cluster", "attr", "maxc", "n_values")
      .agg(min(col("value")).as("golden_value"))
    // every (cluster, attr) cell, including all-null ones
    members
      .withColumn("attr", explode(array(attrs.map(lit): _*)))
      .join(golden, Seq("cluster", "attr"), "left")
      .select(col("cluster"), col("n_members"), col("attr"),
        col("golden_value"),
        coalesce(col("maxc"), lit(0L)).as("support"),
        coalesce(col("n_values"), lit(0L)).as("n_values"))
  }
}
