package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov drift — D = max |F_A − F_B|
  * over the full empirical CDFs (Kolmogorov 1933, Smirnov 1939; the
  * two-sample critical line per Smirnov's classic table: D_α =
  * c(α)·√((n_A+n_B)/(n_A·n_B))) — the whole-distribution complement of
  * the corpus-drift family: JS (x78/x84) compares bucketed top-K
  * distributions, KS sees ANY shift anywhere in the CDF, including the
  * tails the top-K buckets never look at.
  *
  * Exactness at scale: over the merged (value → n_A, n_B) histogram,
  * F_A − F_B comparisons cross-multiply — the statistic is the integer
  * max of |cumA·n_B − cumB·n_A| — so the whole computation is one
  * histogram aggregation, [[GlobalOrder.cumulativeSums]] for the two
  * CDFs (no global window), and a division-free max. The only floating
  * value is the rounded critical line. Value keys must be rendered
  * fixed-width (lexicographic order = numeric order — the GlobalOrder
  * contract). Exact while n_A·n_B·10⁶ fits a long — each slice under
  * ~3·10⁶ rows per 10⁶ of the other, i.e. slices up to ~9·10⁷ rows
  * each at full micro precision; beyond that, lift the cross products
  * to DECIMAL or pre-bucket values into coarser keys.
  */
object KsDrift {

  /** One row: `(n_a, n_b, d_micro, at_key, crit_micro, drifted)` —
    * d_micro = ⌊D·10⁶⌋, at_key = the smallest key attaining the max,
    * crit_micro the α-level Smirnov line for the given c(α) (1.358 =
    * α 0.05), drifted ⟺ d_micro > crit_micro. */
  def twoSample(df: DataFrame, inA: Column, keyCol: String,
      cAlphaMicro: Long = 1358000L): DataFrame = {
    require(cAlphaMicro > 0, s"cAlphaMicro must be > 0, got $cAlphaMicro")
    val hist = df
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(inA, 0L).otherwise(1L)).as("cb"))
    // persisted: the NDV-sized CDF table feeds the totals, the max,
    // and the argmax (the Profiler count-table convention)
    val cums = CacheScope.persist(
      GlobalOrder.cumulativeSums(hist, "k", Seq("ca", "cb")))
    val tot = cums.agg(sum(col("ca")).cast("long").as("n_a"),
      sum(col("cb")).cast("long").as("n_b"))
    val scored = cums.crossJoin(broadcast(tot))
      .withColumn("dev",
        abs(col("cum_ca") * col("n_b") - col("cum_cb") * col("n_a")))
    val mx = scored.agg(max(col("dev")).as("mxd"))
    scored.crossJoin(broadcast(mx))
      .filter(col("dev") === col("mxd"))
      .groupBy(col("n_a"), col("n_b"), col("mxd"))
      .agg(min(col("k")).as("at_key"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0L || col("n_b") === 0L,
          raise_error(lit("KsDrift: a slice is empty — no CDF to compare"))
            .cast("long"))
          .otherwise(expr("mxd * 1000000L DIV (n_a * n_b)"))
          .as("d_micro"),
        col("at_key"),
        round(lit(cAlphaMicro.toDouble / 1000000.0) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b"))) * 1e6, 0)
          .cast("long").as("crit_micro"))
      .withColumn("drifted", col("d_micro") > col("crit_micro"))
  }
}
