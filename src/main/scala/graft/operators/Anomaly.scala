package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series anomaly flagging over an event stream — the
  * observability question ("did the error rate spike this hour?")
  * asked with a trailing-baseline z-test: hour h is anomalous when its
  * error share exceeds the trailing-window mean by more than z standard
  * deviations, with a minimum baseline occupancy so cold starts don't
  * flag.
  *
  * The z-test runs ENTIRELY in integers: with x = this hour's share
  * (micro), S1 = Σ baseline shares, S2 = Σ baseline shares², c =
  * baseline hours, the condition (x − μ)² > z²·σ² over μ = S1/c,
  * σ² = (c·S2 − S1²)/c² multiplies through by c² to
  *
  *   (c·x − S1)² > z²·(c·S2 − S1²)   and   c·x > S1
  *
  * — no doubles anywhere, so the flag is engine-exact (shares ≤ 10⁶
  * keep every term under 2⁶³ for windows up to ~10⁵ hours). A constant
  * baseline (σ = 0) flags ANY strict exceedance, which is the wanted
  * semantics for a flat-lined error rate.
  *
  * Scale shape: one (hour) aggregation over the corpus — the hourly
  * frame is time-range-bounded (≤ 8 760 rows/year REGARDLESS of corpus
  * size), persisted once (CacheScope) and self-joined through an
  * exploded offset list (fan-out = window, an exact epoch-arithmetic
  * equi-join — the bin-join idiom, no range scan); baseline stats are
  * one (hour) re-aggregation. No windows, no collects.
  */
object Anomaly {

  /** Per-hour report: (hour, n_events, n_matched, share_micro,
    * baseline_hours, baseline_mean_micro, flag). */
  def hourlyRateSpikes(events: DataFrame, tsCol: String, typeCol: String,
      matchType: String, trailingHours: Int = 24, z: Int = 3,
      minBaseline: Int = 12): DataFrame =
    spikesFromHourly(events
      .select(date_trunc("hour", col(tsCol)).as("hour"),
        (col(typeCol) === matchType).cast("long").as("hit"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n_events"), sum(col("hit")).as("n_matched")),
      trailingHours, z, minBaseline)

  /** The z-test over a pre-aggregated (hour, n_events, n_matched)
    * frame — the seam the streaming hourly LEDGER (x145) shares with
    * the batch path: counts are additive, so a merged ledger is
    * exactly the batch hourly frame and this report is identical on
    * both. */
  def spikesFromHourly(hourlyCounts: DataFrame, trailingHours: Int = 24,
      z: Int = 3, minBaseline: Int = 12): DataFrame = {
    require(trailingHours >= 1, s"bad window $trailingHours")
    require(z >= 1, s"bad z $z")
    require(minBaseline >= 1 && minBaseline <= trailingHours,
      s"minBaseline $minBaseline outside 1..$trailingHours")
    val hourly = CacheScope.persist(hourlyCounts
      .withColumn("share_micro", expr("n_matched * 1000000 div n_events"))
      .withColumn("epoch", col("hour").cast("long")))
    val offsets = hourly
      .select(col("epoch"), explode(sequence(lit(1),
        lit(trailingHours))).as("k"))
      .select(col("epoch"), (col("epoch") - col("k") * 3600L).as("b_epoch"))
    val baseline = offsets
      .join(hourly.select(col("epoch").as("b_epoch"),
        col("share_micro").as("b_share")), "b_epoch")
      .groupBy("epoch")
      .agg(count(lit(1)).as("baseline_hours"),
        sum(col("b_share")).as("s1"),
        sum(col("b_share") * col("b_share")).as("s2"))
    hourly.join(baseline, Seq("epoch"), "left")
      .withColumn("baseline_hours", coalesce(col("baseline_hours"), lit(0L)))
      .withColumn("baseline_mean_micro",
        when(col("baseline_hours") > 0, expr("s1 div baseline_hours"))
          .otherwise(lit(0L)))
      .withColumn("flag",
        col("baseline_hours") >= minBaseline &&
          expr("baseline_hours * share_micro > s1") &&
          expr(s"""(baseline_hours * share_micro - s1) *
                   (baseline_hours * share_micro - s1) >
                   ${z * z} * (baseline_hours * s2 - s1 * s1)"""))
      .select(col("hour").cast("string").as("hour"), col("n_events"),
        col("n_matched"), col("share_micro"), col("baseline_hours"),
        col("baseline_mean_micro"), col("flag"))
  }
}
