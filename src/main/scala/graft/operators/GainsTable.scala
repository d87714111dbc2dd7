package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decile gains / cumulative-lift table — the standard ranking-quality
  * readout for a scorer against a binary outcome (the "gains chart" of
  * direct-marketing practice; see Berry & Linoff, "Data Mining
  * Techniques", 2004 ch. 3): rank rows best-score-first, cut into
  * `parts` equal buckets by EXACT global rank, and report each
  * bucket's response rate plus the cumulative lift over the base rate.
  * Lift at the top deciles is what decides whether a quality scorer
  * earns its place as a filter gate.
  *
  * Exact ranks come from [[GlobalOrder.positions]] (no global window);
  * bucket = (pos−1)·parts DIV N. The cumulative pass runs on the
  * PARTS-sized bucket table via a triangular self-join (the bounded-
  * frame pattern that replaces a global window — ≤ parts² work), and
  * every rate/lift is division-free until the final micro rendering
  * (cross-multiplied: lift = cumPos·N·10⁶ DIV (cumN·totPos)).
  *
  * `keyCol` follows the GlobalOrder contract: a string whose ASCENDING
  * lexicographic order is best-first (render "higher is better" scores
  * as e.g. `lpad(maxScore − score)`). Null outcomes are contract
  * violations and fail loudly (a null would silently count as a
  * non-response and skew every rate).
  */
object GainsTable {

  /** One row per bucket: `(bucket, n, positives, rate_micro, cum_n,
    * cum_positives, cum_rate_micro, cum_lift_micro)` — bucket 1 holds
    * the best-ranked rows; cum_lift_micro = 10⁶ ⟺ no better than the
    * base rate. A zero-positive corpus fails loudly (lift undefined). */
  def byRank(df: DataFrame, idCol: String, keyCol: String,
      outcomeCol: String, parts: Int = 10, bucketChars: Int = 4,
      superChars: Int = 1): DataFrame = {
    require(parts >= 2 && parts <= 1000,
      s"parts must be in 2..1000, got $parts")
    val outcome = df.select(col(idCol).cast("long").as("__oid"),
      when(col(outcomeCol).isNull,
        raise_error(lit(s"GainsTable: null $outcomeCol")))
        .otherwise(col(outcomeCol).cast("boolean")).as("__y"))
    val pos = GlobalOrder.positions(df, idCol, keyCol,
      bucketChars, superChars)
    val tot = pos.agg(count(lit(1)).cast("long").as("__n"))
    val bucketed = pos
      .join(outcome, col(idCol) === col("__oid"))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"(pos - 1) * ${parts}L DIV __n + 1"))
    val per = CacheScope.persist(bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).cast("long")
          .as("positives")))
    val grand = per.agg(sum(col("n")).cast("long").as("gn"),
      sum(col("positives")).cast("long").as("gp"))
    // cumulative over the PARTS-sized frame: triangular self-join
    // (bounded — replaces the banned global window)
    val cum = per.as("a")
      .join(per.as("b"), col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket"), col("a.n").as("n"),
        col("a.positives").as("positives"))
      .agg(sum(col("b.n")).cast("long").as("cum_n"),
        sum(col("b.positives")).cast("long").as("cum_positives"))
    cum.crossJoin(broadcast(grand))
      .select(col("bucket"), col("n"), col("positives"),
        expr("positives * 1000000 DIV n").as("rate_micro"),
        col("cum_n"), col("cum_positives"),
        expr("cum_positives * 1000000 DIV cum_n").as("cum_rate_micro"),
        when(col("gp") === 0L, raise_error(
          lit("GainsTable: zero positives — lift is undefined"))
          .cast("long"))
          .otherwise(expr(
            "cum_positives * gn * 1000000 DIV (cum_n * gp)"))
          .as("cum_lift_micro"))
  }
}
