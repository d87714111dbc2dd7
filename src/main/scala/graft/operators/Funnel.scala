package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis over an event stream — the product-analytics
  * staple (view → click → purchase): per user, stage k completes at the
  * FIRST event of stage k's type strictly after the stage-(k−1)
  * completion time and within a conversion window anchored at funnel
  * entry (stage-1 time + `windowHours` — the "conversion window from
  * entry" convention). The report is per-stage reach plus step and
  * overall conversion, the funnel chart's exact numbers.
  *
  * First-completion semantics make the result insensitive to event
  * duplication after the first occurrence and replay-deterministic:
  * every stage time is a min() over a user-keyed group, never a
  * row_number over an ordering with ties.
  *
  * Scale shape: the events frame is projected to (user, ts, type),
  * filtered to funnel types, and persisted once ([[CacheScope]] —
  * K stage passes read it); each stage is a user-keyed aggregation
  * joined user-keyed against the previous stage frame — K shuffles on
  * the SAME key, no windows, no per-user sorting, no collects. The
  * report math runs on K-row count frames (1-row broadcast for the
  * entry count — the x25/x40 scalar shape). Conversions are truncating
  * BIGINT micro divisions.
  */
object Funnel {

  /** Per-stage report: (stage_idx, stage, n_users, conv_vs_prev_micro,
    * conv_vs_top_micro), one row per funnel stage in order. */
  def firstCompletion(spark: SparkSession, events: DataFrame,
      userCol: String, tsCol: String, typeCol: String,
      stages: Seq[String], windowHours: Int): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got $stages")
    require(stages.distinct.size == stages.size, s"duplicate stage in $stages")
    require(windowHours > 0, s"bad window $windowHours")
    val evs = CacheScope.persist(events
      .filter(col(typeCol).isin(stages: _*))
      .select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(typeCol).as("et")))
    // stage frames: (u, t_k, deadline); deadline = t_1 + window rides
    // along (functionally user-determined, so max() is exact)
    val first = evs.filter(col("et") === stages.head)
      .groupBy("u").agg(min(col("ts")).as("t"))
      .withColumn("deadline",
        col("t") + expr(s"INTERVAL $windowHours HOURS"))
    val frames = stages.tail.scanLeft(first) { (prev, stage) =>
      evs.filter(col("et") === stage)
        .join(prev.select(col("u"), col("t").as("t_prev"),
          col("deadline")), "u")
        .filter(col("ts") > col("t_prev") && col("ts") <= col("deadline"))
        .groupBy("u")
        .agg(min(col("ts")).as("t"), max(col("deadline")).as("deadline"))
    }
    val counts = frames.zip(stages).zipWithIndex.map {
      case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("stage_idx"), lit(stage).as("stage"),
            col("n_users"))
    }.reduce(_ unionAll _)
    val top = counts.filter(col("stage_idx") === 1)
      .select(col("n_users").as("n_top"))
    val prev = counts.select((col("stage_idx") + 1).as("stage_idx"),
      col("n_users").as("n_prev"))
    counts
      .join(broadcast(prev), Seq("stage_idx"), "left")
      .crossJoin(broadcast(top))
      // stage 1's "previous" is itself: conv_vs_prev = conv_vs_top = 1
      .withColumn("p", coalesce(col("n_prev"), col("n_users")))
      .withColumn("conv_vs_prev_micro",
        when(col("p") > 0, expr("n_users * 1000000 div p"))
          .otherwise(lit(0L)))
      .withColumn("conv_vs_top_micro",
        when(col("n_top") > 0, expr("n_users * 1000000 div n_top"))
          .otherwise(lit(0L)))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        col("conv_vs_prev_micro"), col("conv_vs_top_micro"))
  }
}
