package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group daily-volume trend — the growth/decay complement of the
  * distribution-drift detectors (x78/x84 ask "did the CONTENT shift?",
  * this asks "is the VOLUME ramping or dying?"): an exact-integer OLS
  * slope of events-per-day against the day index, per group, in the
  * x123 Zipf-fit contract (truncating-div means, centered integer
  * sums, micro-unit slope) so the fit is engine-exact with no doubles.
  *
  * `slope_micro` is events/day of drift per day ×10^6; the relative
  * slope divides by the mean daily volume (staged truncation,
  * deterministic) so a 2%-a-day decay reads the same for a 100-row and
  * a 10^9-row source — the number a data-supply dashboard alarms on.
  *
  * Scale shape: ONE corpus (group, day) count aggregation (map-side
  * combined, time×groups-bounded output), then two tiny re-aggs over
  * the daily frame (means, then centered sums). The daily frame
  * persists ([[CacheScope]]; two consumers). A single-day
  * group has no slope (sxx = 0) and reports null, never a crash. */
object Trend {

  /** (group, n_days, total_events, mean_per_day, slope_micro,
    * rel_slope_micro). */
  def dailyVolumeSlope(events: DataFrame, tsCol: String,
      groupCol: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = CacheScope.persist(events
      .select(col(groupCol).as("grp"),
        datediff(to_date(col(tsCol)), epoch).as("d"))
      .groupBy("grp", "d")
      .agg(count(lit(1)).as("c")))
    val means = daily.groupBy("grp")
      .agg(count(lit(1)).as("n_days"), sum(col("d")).as("sd"),
        sum(col("c")).as("total_events"))
      .withColumn("mx", expr("sd div n_days"))
      .withColumn("my", expr("total_events div n_days"))
    daily.join(means, "grp")
      .groupBy("grp", "n_days", "total_events", "mx", "my")
      .agg(sum((col("d") - col("mx")) * (col("c") - col("my"))).as("sxy"),
        sum((col("d") - col("mx")) * (col("d") - col("mx"))).as("sxx"))
      .select(col("grp"), col("n_days"), col("total_events"),
        col("my").as("mean_per_day"),
        expr("CASE WHEN sxx > 0 THEN sxy * 1000000 div sxx END")
          .as("slope_micro"),
        expr("""CASE WHEN sxx > 0 AND my > 0
                THEN (sxy * 1000000 div sxx) div my END""")
          .as("rel_slope_micro"))
  }
}
