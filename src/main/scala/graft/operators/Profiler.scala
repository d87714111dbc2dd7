package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style column profiler — the first query anyone runs against
  * an unfamiliar 100 TB table: per column, row/null/distinct counts,
  * native-order min/max, average rendered length, and the modal value
  * with its count. One row per profiled column.
  *
  * Columns are profiled as (name, expression) pairs so the caller
  * controls the string rendering: min/max are computed in the
  * expression's NATIVE type (numeric order, not lexicographic) and cast
  * to string only for the report; distinct/mode/length work on the cast
  * string. Float columns should be pre-quantized by the caller (e.g.
  * `round(x*100) AS BIGINT` cents) — double-to-string formatting is not
  * portable across engines, everything else here is.
  *
  * Scale shape: one corpus agg for min/max (a single row), one corpus
  * stack -> (column, value) count aggregation (map-side combined; the
  * shuffle is sized by the sum of per-column distinct counts, the same
  * cost ANALYZE pays for exact NDV), then column-sized rollups. The
  * mode is the two-stage max-count + equi-join form — a window
  * partitioned by only k column names would funnel each column's whole
  * distinct set through one task at scale. The count table feeds three
  * consumers and persists ([[CacheScope]]). avg_len_micro is a
  * truncating BIGINT product — exact while total rendered chars per
  * column stay under ~9*10^12 (terabytes of text in ONE column;
  * document-scale tables hit the distinct-shuffle wall long before).
  *
  * Output: (column_name, n_rows, n_null, n_distinct, min_value,
  * max_value, avg_len_micro, mode_value, mode_count) — mode ties break
  * to the smallest string; all-null columns report null min/max/mode,
  * mode_count 0, avg_len_micro 0. */
object Profiler {

  /** Profile DRIFT between two [[profile]] runs over the same column
    * set — the data-contract monitor: did the new snapshot's null
    * rates, cardinalities, rendered lengths, or modal values move
    * beyond tolerance? (Schema-on-read pipelines find out about an
    * upstream change from exactly this diff, not from a DDL event.)
    * All metrics are exact BIGINT micro arithmetic over the two
    * profile frames (column-count-sized — this is pure report math,
    * the corpus work already happened inside [[profile]]):
    *   - null_drift_micro    = |null_rate_a − null_rate_b| (micro)
    *   - distinct_drift_micro = |nd_a − nd_b|·10⁶ div max(nd_a,nd_b,1)
    *   - len_drift_micro     = |avg_len_a − avg_len_b|
    *   - mode_changed        = mode_a ≠ mode_b (null-safe)
    * A column present in only one profile is a contract break: it
    * reports with the missing side's metrics null and drifted = true.
    * `drifted` ORs the three threshold breaches with mode_changed —
    * the mode term GATED on dominance (mode share >= 50% of non-null
    * rows on BOTH sides): on near-uniform columns the modal value is
    * tie-break noise between any two slices, and a monitor that flags
    * every uniform column is a broken monitor. The raw mode_changed
    * bit is still reported. */
  def drift(a: DataFrame, b: DataFrame, nullTolMicro: Long = 10000,
      distinctTolMicro: Long = 200000,
      lenTolMicro: Long = 100000): DataFrame = {
    def side(df: DataFrame, s: String) = df.select(
      col("column_name"), col("n_rows").as(s"n_rows_$s"),
      col("n_null").as(s"__nn_$s"), col("n_distinct").as(s"distinct_$s"),
      col("avg_len_micro").as(s"__len_$s"),
      col("mode_value").as(s"mode_$s"),
      col("mode_count").as(s"__mc_$s"))
    val j = side(a, "a").join(side(b, "b"), Seq("column_name"),
      "full_outer")
    val missing = col("n_rows_a").isNull || col("n_rows_b").isNull
    def rate(s: String) =
      when(col(s"n_rows_$s") > 0,
        expr(s"__nn_$s * 1000000 div n_rows_$s")).otherwise(lit(0L))
    val nullDrift = abs(rate("a") - rate("b"))
    val distinctDrift = expr("abs(distinct_a - distinct_b) * 1000000 " +
      "div greatest(distinct_a, distinct_b, 1L)")
    val lenDrift = abs(col("__len_a") - col("__len_b"))
    val modeChanged = !(col("mode_a") <=> col("mode_b"))
    def dominant(s: String) =
      col(s"__mc_$s") * 2 >= col(s"n_rows_$s") - col(s"__nn_$s") &&
        col(s"n_rows_$s") - col(s"__nn_$s") > 0
    val modeDrift = modeChanged && dominant("a") && dominant("b")
    j.select(col("column_name"),
        col("n_rows_a"), col("n_rows_b"),
        when(!missing, rate("a")).as("null_rate_a_micro"),
        when(!missing, rate("b")).as("null_rate_b_micro"),
        when(!missing, nullDrift).as("null_drift_micro"),
        col("distinct_a"), col("distinct_b"),
        when(!missing, distinctDrift).as("distinct_drift_micro"),
        when(!missing, lenDrift).as("len_drift_micro"),
        col("mode_a"), col("mode_b"),
        when(!missing, modeChanged).as("mode_changed"),
        (missing ||
          (nullDrift > nullTolMicro) ||
          (distinctDrift > distinctTolMicro) ||
          (lenDrift > lenTolMicro) || modeDrift).as("drifted"))
  }

  /** The (column_name, rendered value) stack shared by [[profile]]'s
    * pass B and the streaming profile ledger's per-batch partials. */
  private[graft] def stackedValues(cols: Seq[(String, Column)]): Column = {
    require(cols.nonEmpty, "no columns to profile")
    require(cols.map(_._1).distinct.size == cols.size,
      s"duplicate profile names in ${cols.map(_._1)}")
    stack((lit(cols.size) +: cols.flatMap { case (n, c) => Seq(
      lit(n), c.cast("string")) }): _*)
  }

  def profile(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    // validate HERE too (not only in stackedValues): pass A's aggs run
    // first and a duplicate name would otherwise surface as an opaque
    // AnalysisException instead of the loud contract error
    require(cols.nonEmpty, "no columns to profile")
    require(cols.map(_._1).distinct.size == cols.size,
      s"duplicate profile names in ${cols.map(_._1)}")
    // pass A: native-type min/max, one row, then unpivot to per-column
    val mmAggs = cols.flatMap { case (n, c) => Seq(
      min(c).cast("string").as(s"min__$n"),
      max(c).cast("string").as(s"max__$n")) }
    val mm = df.agg(mmAggs.head, mmAggs.tail: _*)
      .select(stack((lit(cols.size) +: cols.flatMap { case (n, _) => Seq(
        lit(n), col(s"min__$n"), col(s"max__$n")) }): _*)
        .as(Seq("column_name", "min_value", "max_value")))
    // pass B: (column, rendered value) counts — the NDV/mode/length base
    val rep = reportFromCounts(df
      .select(stackedValues(cols).as(Seq("column_name", "value")))
      .groupBy("column_name", "value")
      .agg(count(lit(1)).as("c")))
    rep.join(mm, Seq("column_name"))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"),
        col("avg_len_micro"), col("mode_value"), col("mode_count"))
  }

  /** Profile report from a (column_name, value, c) count table — the
    * pass-B consumer machinery factored out so the STREAMING profile
    * ledger ([[graft.streaming.EventStreams.streamingProfileLedger]]),
    * whose merged view IS such a count table, produces drift-comparable
    * profiles without re-scanning history. No min_value/max_value
    * (native-order min/max needs pass A over the corpus; [[drift]] does
    * not read them). */
  def reportFromCounts(g0: DataFrame): DataFrame = {
    val g = CacheScope.persist(g0)
    val rollup = g.groupBy("column_name")
      .agg(sum(col("c")).as("n_rows"),
        sum(when(col("value").isNull, col("c")).otherwise(0L)).as("n_null"),
        count(when(col("value").isNotNull, lit(1))).as("n_distinct"),
        sum(when(col("value").isNotNull, col("c") * length(col("value")))
          .otherwise(0L)).as("total_len"))
      .withColumn("avg_len_micro",
        when(col("n_rows") > col("n_null"),
          expr("total_len * 1000000 div (n_rows - n_null)"))
          .otherwise(lit(0L)))
      .drop("total_len")
    val nonNull = g.filter(col("value").isNotNull)
    val maxc = nonNull.groupBy("column_name").agg(max(col("c")).as("maxc"))
    val mode = nonNull
      .join(maxc, Seq("column_name"))
      .filter(col("c") === col("maxc"))
      .groupBy("column_name")
      .agg(min(col("value")).as("mode_value"), max(col("c")).as("mode_count"))
    rollup
      .join(mode, Seq("column_name"), "left")
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("avg_len_micro"), col("mode_value"),
        coalesce(col("mode_count"), lit(0L)).as("mode_count"))
  }
}
