package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort retention over an event stream — the analytics twin of
  * [[Funnel]]: users are cohorted by the week of their FIRST event and
  * the matrix cell (cohort, k) counts how many were active in week
  * offset k — the classic retention triangle every growth dashboard
  * renders.
  *
  * Week semantics: Monday-start calendar weeks via date_trunc('week'),
  * identical in Spark and DuckDB; offsets are whole-week differences
  * (non-negative by construction — activity can't precede the first
  * event — so truncating and flooring division agree).
  *
  * Scale shape: one user-keyed min-agg (first event), one
  * (user, week) distinct over a slim two-column projection, one
  * user-keyed join to attach cohorts, one (cohort, offset) count agg,
  * and a cohort-keyed size join (cohort frame is weeks-sized — AQE
  * broadcasts it). No windows, no collects; retention is a truncating
  * BIGINT micro division.
  */
object Retention {

  /** Rolling active-user counts — DAU and its trailing windows (the
    * WAU/MAU denominators of stickiness ratios): for every observed
    * day, the EXACT count of distinct users active in the trailing
    * 1/7/28 days. Rolling COUNT DISTINCT is the op sliding windows
    * can't do incrementally (distinct doesn't subtract), so this uses
    * the bin-join idiom instead: each (user, day) activity row
    * contributes itself to the `w` report days it can appear in
    * (explode of w offsets — fan-out = window length, never a range
    * scan), then one distinct + count per window. Exact, no sketches,
    * no windows-over-corpus; the (user, day) distinct frame persists
    * ([[CacheScope]]; one consumer per window + the observed-
    * day frame). Report days are epoch-day integers rendered as date
    * strings; only OBSERVED days report (no phantom trailing days).
    *
    * Output: (day, active_1, active_7, active_28) — a window with no
    * active users on an observed day reports 0. */
  def rollingActive(events: DataFrame, userCol: String, tsCol: String,
      windows: Seq[Int] = Seq(1, 7, 28)): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ >= 1) &&
      windows.distinct.size == windows.size, s"bad windows $windows")
    val epoch = lit("1970-01-01").cast("date")
    val ud = CacheScope.persist(events
      .select(col(userCol).as("u"),
        datediff(to_date(col(tsCol)), epoch).as("d"))
      .distinct())
    val days = ud.select(col("d")).distinct()
    val perWindow = windows.map { w =>
      ud.select(col("u"), col("d"),
          explode(sequence(lit(0), lit(w - 1))).as("k"))
        .select(col("u"), (col("d") + col("k")).as("d"))
        .distinct()
        .groupBy("d").agg(count(lit(1)).as(s"active_$w"))
    }
    perWindow.foldLeft(days)((acc, pw) => acc.join(pw, Seq("d"), "left"))
      .select((date_format(date_add(epoch, col("d")), "yyyy-MM-dd")
        .as("day") +:
        windows.map(w => coalesce(col(s"active_$w"), lit(0L))
          .as(s"active_$w"))): _*)
  }

  /** (cohort_week, week_offset, n_active, retention_micro) — one row
    * per non-empty matrix cell; offset-0 rows carry the cohort size and
    * retention 1000000 by construction. */
  def weeklyCohorts(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    cohortsFromActivity(events
      .select(col(userCol).as("u"),
        to_date(date_trunc("week", col(tsCol))).as("week"))
      .distinct())

  /** The triangle from a DISTINCT (u, week) activity frame — the part
    * of [[weeklyCohorts]] that needs no raw events. A user's cohort is
    * their MIN week (date_trunc is monotone, so min-of-active-weeks ==
    * week-of-first-event), which makes the activity set the COMPLETE
    * retention state — exactly what the streaming activity ledger
    * (x172) maintains incrementally; late/out-of-order history merging
    * in can only move a cohort earlier, and the min re-derives it. */
  def cohortsFromActivity(active: DataFrame): DataFrame = {
    val firsts = active.groupBy(col("u"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = firsts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    active.join(firsts, "u")
      .withColumn("week_offset",
        expr("datediff(week, cohort_week) div 7").cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_week")
      .withColumn("retention_micro",
        expr("n_active * 1000000 div cohort_size"))
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("n_active"), col("retention_micro"))
  }
}
