package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Reliability diagram + expected calibration error (ECE) for a binary
  * scorer — the trust-report that decides whether a quality
  * classifier's CONFIDENCE can drive curation thresholds, not just its
  * ranking (Guo et al., "On Calibration of Modern Neural Networks",
  * ICML 2017 §2: bin predictions by confidence; per bin compare mean
  * confidence against empirical accuracy; ECE is the n-weighted mean
  * gap). A NB classifier like [[NbQuality]] is typically OVERconfident
  * — its independence assumption multiplies correlated evidence — and
  * this report is how that shows up before anyone trusts a `p > 0.9`
  * cutoff.
  *
  * Confidence comes from the logistic transform of the log-likelihood
  * ratio, conf = max(p, 1−p) with p = σ(llr); the prediction column is
  * taken as-is (scorers decide sign on the EXACT decimal score —
  * [[NbQuality]]'s `pred` — so this report never re-derives it from
  * the rounded llr). Bin assignment runs in BIGINT micro-units
  * (conf·1e6, then integer division by 1e5), so a conf of exactly
  * 0.9 lands in bin 9 in every engine — no double·10 floor ties.
  *
  * Scale shape: ONE zero-shuffle row transform (sigmoid + binning) +
  * ONE bins-sized count/sum aggregation; the ECE total derives from
  * the bins frame itself (totals-from-cells — Spark's exchange reuse
  * runs the corpus aggregation once) and broadcasts back. Accuracy and
  * ECE fractions are integer half-up micro-rounded at 6dp. */
object ClassifierCalibration {

  /** Per-confidence-bin report: (bin, n, n_correct, mean_conf, acc,
    * gap, ece) — bin = ⌊conf·10⌋ clamped to 9 (conf ∈ [0.5, 1] for a
    * binary scorer, so bins 5–9; empty bins are absent), `gap` =
    * |acc − mean_conf|, `ece` the n-weighted mean gap repeated on every
    * row. `scored` needs a 0/1 label, a double llr, and a boolean
    * prediction column. */
  def reliabilityReport(scored: DataFrame, labelCol: String = "label",
      llrCol: String = "llr", predCol: String = "pred"): DataFrame = {
    val D6 = DecimalType(18, 6)
    val p1 = round(lit(1.0) / (lit(1.0) + exp(-col(llrCol))), 6)
    val conf = round(when(col(predCol), p1).otherwise(lit(1.0) - p1), 6)
    // persisted (bins-sized): the ECE total is its second consumer, and
    // column pruning makes the two cells subtrees non-identical — Spark's
    // exchange reuse would NOT collapse them, so without the persist the
    // whole upstream scoring chain runs twice
    val cells = CacheScope.persist(scored
      .select(conf.as("conf"),
        (col(predCol) === (col(labelCol).cast("long") === 1L)).as("ok"))
      .withColumn("cm", expr("CAST(round(conf*1000000) AS BIGINT)"))
      .withColumn("bin", least(expr("(cm*10) DIV 1000000"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("conf").cast(D6)).as("sconf"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("mean_conf", graft.functions.PortableMath
        .roundPortable(col("sconf").cast(DoubleType) / col("n"), 6))
      .withColumn("acc",
        expr("CAST((n_correct*2000000 + n) DIV (2*n) AS DOUBLE)" +
          "/1000000.0"))
      .withColumn("gap", graft.functions.PortableMath
        .roundPortable(abs(col("acc") - col("mean_conf")), 6)))
    val tot = cells.agg(sum(col("n")).as("nt"),
      sum(col("n") * col("gap").cast(D6)).as("sg"))
    cells.crossJoin(broadcast(tot))
      .withColumn("ece", graft.functions.PortableMath
        .roundPortable(col("sg").cast(DoubleType) / col("nt"), 6))
      .select(col("bin"), col("n"), col("n_correct"), col("mean_conf"),
        col("acc"), col("gap"), col("ece"))
  }
}
