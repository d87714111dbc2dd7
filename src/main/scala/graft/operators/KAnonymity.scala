package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-anonymity audit over quasi-identifiers (Sweeney, IJUFKS 2002):
  * group the corpus by the attribute combination an adversary could
  * link on (source, language, size bucket, …) and flag equivalence
  * classes smaller than k — documents in those classes are
  * re-identifiable by their metadata alone, the privacy axis PII
  * REDACTION (x34) cannot see because no token is sensitive by itself.
  * Training-data releases publish exactly this table before shipping
  * metadata columns alongside text.
  *
  * Scale shape: ONE map-side-combined count aggregation over the
  * quasi-identifier tuple (classes-sized output); the risk rollup
  * derives from the classes frame itself (totals-from-cells — never a
  * second corpus pass). Shares are integer half-up micro-rounded. */
object KAnonymity {

  /** Per-equivalence-class report: the quasi-identifier columns + n +
    * `k_anonymous` (n >= k) + `share_of_corpus` (6dp micro-rounded).
    * `quasi` columns are evaluated against `df`. */
  def classReport(df: DataFrame, quasi: Seq[(String, Column)],
      k: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(k >= 1, s"k must be >= 1, got $k")
    val names = quasi.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate quasi-identifier names: $names")
    // persisted (classes-sized): the corpus total is its second
    // consumer — without it the corpus aggregation runs twice
    val classes = CacheScope.persist(df
      .groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n")))
    val tot = classes.agg(sum(col("n")).as("nt"))
    classes.crossJoin(broadcast(tot))
      .withColumn("k_anonymous", col("n") >= k)
      .withColumn("share_of_corpus",
        expr("CAST((n*2000000 + nt) DIV (2*nt) AS DOUBLE)/1000000.0"))
      .select(names.map(col) ++ Seq(col("n"), col("k_anonymous"),
        col("share_of_corpus")): _*)
  }

  /** Distinct l-diversity audit (Machanavajjhala et al., "l-Diversity:
    * Privacy Beyond k-Anonymity", ICDE 2006) — the homogeneity-attack
    * axis [[classReport]] cannot see: a class can be comfortably
    * k-anonymous while every member shares the SAME sensitive value, in
    * which case linking to the CLASS discloses the value exactly. Per
    * equivalence class: n, the exact count of distinct sensitive
    * values, the `l_diverse` verdict (>= l), and `top_share_micro` —
    * the largest single sensitive value's share of the class
    * (truncating micro), the quantified homogeneity risk (10⁶ = total
    * disclosure even when l is technically met by a 1-row minority).
    *
    * Scale shape: ONE map-side-combined (quasi…, sensitive) count
    * aggregation; every per-class figure (n = sum, distinct values =
    * count, top count = max) re-aggregates that COUNT TABLE — one
    * corpus pass total, no distinct-count expansion, no mode join
    * (the risk number needs the top COUNT, not which value it was). */
  def lDiversityReport(df: DataFrame, quasi: Seq[(String, Column)],
      sensitive: (String, Column), l: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier")
    require(l >= 1, s"l must be >= 1, got $l")
    val names = quasi.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate quasi-identifier names: $names")
    require(!names.contains(sensitive._1),
      s"sensitive column '${sensitive._1}' cannot also be a " +
        "quasi-identifier")
    df.groupBy((quasi :+ sensitive).map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(names.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("n_sensitive_values"),
        max(col("__c")).as("__top"))
      .withColumn("l_diverse", col("n_sensitive_values") >= l)
      .withColumn("top_share_micro", expr("__top * 1000000 DIV n"))
      .select(names.map(col) ++ Seq(col("n"),
        col("n_sensitive_values"), col("l_diverse"),
        col("top_share_micro")): _*)
  }
}
