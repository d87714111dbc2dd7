package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inter-rater agreement beyond chance — Cohen's kappa (Cohen,
  * Educational and Psychological Measurement 1960). The training-data
  * use: two quality gates (a rule cascade and the classifier it weakly
  * supervises, two langid engines, two annotators) agree 95% of the
  * time, but if one class dominates, chance alone agrees ~90% — kappa
  * reports the agreement EXCESS over that chance floor, and the
  * disagreement cells are exactly the docs worth auditing.
  *
  *   po = Σ_v n(A=v ∧ B=v) / n        (observed agreement)
  *   pe = Σ_v n(A=v)·n(B=v) / n²      (chance agreement)
  *   κ  = (po − pe) / (1 − pe) = (n·n_agree − pe_num) / (n² − pe_num)
  *
  * Everything is integer counts; the three reported rates are micro-unit
  * integers via TRUNCATING division (κ can be negative — systematic
  * disagreement — and both Spark's integer `div` and DuckDB's integer
  * `//` truncate toward zero, verified on this negative-κ corpus).
  *
  * Scale shape: one (a, b) count aggregation over the corpus — map-side
  * combinable, classes² result rows — then marginals/joins on that tiny
  * frame. Multi-class by construction (any orderable label values). */
object Agreement {

  /** One-row kappa report over two rater columns: (n, n_agree,
    * n_disagree, po_micro, pe_micro, kappa_micro). Rows where either
    * rating is null are EXCLUDED ("not rated" is not a class). A
    * degenerate input (pe = 1: both raters constant on one class) has
    * undefined κ — reported as null, never division-by-zero.
    *
    * The classes²-sized cell table feeds THREE consumers (totals and
    * both marginals), so it is persisted — otherwise the rater columns'
    * whole upstream (often a full scoring chain) replans per consumer
    * ([[CacheScope]]). */
  def cohenKappa(df: DataFrame, raterACol: String,
      raterBCol: String): DataFrame = {
    val cells = CacheScope.persist(
      df.select(col(raterACol).as("a"), col(raterBCol).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c")))
    val totals = cells.agg(
      sum(col("c")).as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("n_agree"))
    val rowA = cells.groupBy(col("a").as("v")).agg(sum(col("c")).as("ra"))
    val colB = cells.groupBy(col("b").as("v")).agg(sum(col("c")).as("cb"))
    val peNum = rowA.join(colB, Seq("v"))
      .agg(coalesce(sum(col("ra") * col("cb")), lit(0L)).as("pe_num"))
    totals.crossJoin(broadcast(peNum)) // 1-row × 1-row
      .withColumn("n_disagree", col("n") - col("n_agree"))
      .withColumn("po_micro", expr("n_agree * 1000000 div n"))
      .withColumn("pe_micro", expr("pe_num * 1000000 div (n * n)"))
      .withColumn("kappa_micro", expr("CASE WHEN n * n - pe_num > 0 THEN " +
        "(n * n_agree - pe_num) * 1000000 div (n * n - pe_num) END"))
      .select("n", "n_agree", "n_disagree", "po_micro", "pe_micro",
        "kappa_micro")
  }

  /** The full confusion matrix behind [[cohenKappa]] — the audit-side
    * companion (which cells hold the disagreement mass): one row per
    * (rater_a, rater_b) value pair with its count. */
  def confusionCells(df: DataFrame, raterACol: String, raterBCol: String): DataFrame =
    df.select(col(raterACol).as("rater_a"), col(raterBCol).as("rater_b"))
      .groupBy(col("rater_a"), col("rater_b"))
      .agg(count(lit(1)).as("n"))
}
