package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Multi-signal quality ensembling — the FineWeb/DCLM-style step that
  * combines heterogeneous per-document quality signals (heuristic
  * ratios, LM scores, compressibility) into ONE comparable composite:
  * each signal is z-score-normalized WITHIN its group (source), so
  * signals with different units and per-source baselines contribute
  * equally, then averaged. Penedo et al. ("The FineWeb Datasets",
  * NeurIPS 2024) and Li et al. ("DataComp-LM", 2024) both gate on
  * combined quality signals rather than any single heuristic.
  *
  * Normalization uses per-group MOMENTS, not ranks: a rank transform
  * needs a per-source window sort (source-skewed at 100 TB), while
  * mean/variance come from one map-side-combined aggregation whose
  * group stats broadcast back — zero windows, one corpus shuffle.
  * Moments are EXACT decimal sums (signals are rounded to 6dp
  * decimals; their squares are exact at 12dp), so group stats are
  * summation-order independent; everything after is deterministic
  * IEEE arithmetic (+,−,×,÷,√ are correctly rounded in every engine —
  * only libm transcendentals and float summation order ever diverge).
  *
  * A signal with zero in-group variance (constant column, singleton
  * group) z-scores to 0 rather than NaN — it carries no ranking
  * information in that group.
  */
object QualityEnsemble {

  /** Per-row composite: input row id + group + one `z_<name>` per
    * signal + `composite` (mean of z-scores, 6dp). Signals are
    * evaluated against `df`'s columns and rounded to 6dp before
    * normalization; population variance. */
  def zscoreComposite(df: DataFrame, idCol: String, groupCol: String,
      signals: Seq[(String, Column)]): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    val D6 = DecimalType(18, 6)
    val names = signals.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate signal names: $names")
    // persisted: consumed by BOTH the group-stats aggregation and the
    // probe side of the stats join — unpersisted, the (possibly
    // expensive) signal chain upstream would evaluate twice. The
    // projection is narrow: id + group + one 6dp decimal per signal.
    val base = CacheScope.persist(df.select(
      (col(idCol) +: col(groupCol).as("__grp") +:
        signals.map { case (n, c) =>
          round(c.cast(DoubleType), 6).cast(D6).as(s"__s_$n") }): _*))
    // one corpus aggregation; the groups-sized stats frame broadcasts
    // back onto the signal rows
    val stats = base.groupBy(col("__grp"))
      .agg(count(lit(1)).as("__n"),
        names.flatMap(n => Seq(
          sum(col(s"__s_$n")).as(s"__sx_$n"),
          sum(col(s"__s_$n") * col(s"__s_$n")).as(s"__sxx_$n"))): _*)
    val joined = base.join(broadcast(stats), "__grp")
    val withZ = names.foldLeft(joined) { (d, n) =>
      val m = col(s"__sx_$n").cast(DoubleType) / col("__n")
      val v = col(s"__sxx_$n").cast(DoubleType) / col("__n") - m * m
      val sd = sqrt(v)
      d.withColumn(s"z_$n",
        when(sd > 0.0, graft.functions.PortableMath.roundPortable(
          (col(s"__s_$n").cast(DoubleType) - m) / sd, 6))
          .otherwise(lit(0.0)))
    }
    val comp = names.map(n => col(s"z_$n")).reduce(_ + _) / names.size
    withZ
      .withColumn("composite",
        graft.functions.PortableMath.roundPortable(comp, 6))
      .select(col(idCol) +: col("__grp").as(groupCol) +:
        names.map(n => col(s"z_$n")) :+ col("composite"): _*)
  }
}
