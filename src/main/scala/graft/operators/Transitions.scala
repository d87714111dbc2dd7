package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov transition matrix over the event stream — the
  * clickstream question behind funnels (x134) and sessions (x10):
  * "given the user just did X, what do they do next?" Consecutive
  * same-user event pairs count as a transition when the gap stays
  * within maxGapMinutes (the sessionize rule — a morning pageview does
  * not 'lead to' an evening purchase); each row reports the transition
  * count, the from-state row total, and the row-normalized probability
  * in truncating micro.
  *
  * Ordering is the total order (ts, tieCol) — the same-timestamp
  * tie-break every engine must agree on; gaps compare in exact
  * microseconds (unix_micros, no float epochs).
  *
  * Scale shape: ONE user-partitioned window pass (lead of type and
  * timestamp — partitioned by the high-cardinality user key, never
  * global), one (from, to) count aggregation (map-side combined,
  * states^2-bounded output), then a states-sized rollup join. The
  * count matrix persists ([[CacheScope]]; two consumers). */
object Transitions {

  /** (from_type, to_type, n, from_total, prob_micro). */
  def matrix(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, maxGapMinutes: Int = 30): DataFrame = {
    require(maxGapMinutes >= 1, s"bad maxGapMinutes $maxGapMinutes")
    val w = Window.partitionBy("u").orderBy(col("us"), col("tie"))
    val pairs = events
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(tieCol).as("tie"), col(typeCol).as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .withColumn("to_us", lead(col("us"), 1).over(w))
      .filter(col("to_type").isNotNull &&
        col("to_us") - col("us") <= maxGapMinutes * 60000000L)
    val counts = CacheScope.persist(pairs
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n")))
    val totals = counts.groupBy("from_type")
      .agg(sum(col("n")).as("from_total"))
    counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        col("from_total"),
        expr("n * 1000000 div from_total").as("prob_micro"))
  }
}
