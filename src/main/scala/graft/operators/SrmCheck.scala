package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Sample-ratio-mismatch check — chi-square GOODNESS-OF-FIT of observed
  * bucket counts against declared expected weights (Pearson 1900; SRM
  * as the standard experiment-integrity gate per Fabijan et al.,
  * "Diagnosing Sample Ratio Mismatch in Online Controlled
  * Experiments", KDD 2019): an assignment mechanism that says 50/50
  * (or uniform over 16 hash buckets) and delivers anything else
  * invalidates every downstream readout (x151's A/B test assumes
  * exactly this holds). [[ChiSquare]] audits INDEPENDENCE of two
  * columns; this audits one column against a DECLARED distribution —
  * the other half of the Pearson pair.
  *
  * With integer weights wᵢ (Σw = W), the statistic is the single
  * rational  χ² = Σᵢ (W·Oᵢ − N·wᵢ)² / (N·W·wᵢ)  — numerators exact in
  * DECIMAL(38,0), ONE floating division per bucket row, decimal-
  * rounded before the order-free sum (the x78 rule). Buckets with
  * w > 0 but zero observed rows still contribute (they join from the
  * declared weight list, not the data); an observed bucket OUTSIDE
  * the declared list is a corrupted assignment and fails loudly.
  *
  * One count aggregation; everything else is buckets-sized.
  */
object SrmCheck {

  private val D8 = DecimalType(18, 8)
  private val D38 = DecimalType(38, 0)

  /** One row per declared bucket plus a `__chi2__` summary row:
    * `(bucket, n, expected_micro, observed_micro, dev_micro, chi2)` —
    * chi2 is populated (6dp) only on the summary row, −1 elsewhere. */
  def goodnessOfFit(df: DataFrame, bucketCol: String,
      weights: Seq[(String, Long)]): DataFrame = {
    require(weights.nonEmpty, "no declared buckets")
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate declared buckets")
    require(!weights.exists(_._1 == "__chi2__"),
      "'__chi2__' is the reserved summary bucket name")
    val wTot = weights.map(_._2).sum
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val declared = spark.createDataFrame(
      weights.map { case (b, w) => org.apache.spark.sql.Row(b, w) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val obs = df.select(col(bucketCol).cast("string").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("o"))
    // declared LEFT join observed: zero-count buckets still contribute;
    // the anti side (observed but undeclared) is a loud corruption
    val joined = CacheScope.persist(
      declared.join(obs, Seq("bucket"), "full")
        .select(
          when(col("w").isNull, raise_error(concat(
            lit("SrmCheck: observed bucket '"), col("bucket"),
            lit("' is not in the declared assignment — corrupted split"))))
            .otherwise(col("bucket")).as("bucket"),
          col("w"), coalesce(col("o"), lit(0L)).as("o")))
    val tot = joined.agg(sum(col("o")).cast("long").as("nn"))
    val cells = joined.crossJoin(broadcast(tot))
      .withColumn("num",
        (lit(wTot).cast(D38) * col("o") - col("nn").cast(D38) * col("w")))
      .withColumn("t", when(col("nn") === 0L, lit(0.0).cast(D8))
        .otherwise(round(
          (col("num") * col("num")).cast(DoubleType) /
            (col("nn").cast(DoubleType) * lit(wTot.toDouble) * col("w")),
          8).cast(D8)))
    val per = cells.select(col("bucket"), col("o").as("n"),
      expr(s"w * 1000000L DIV ${wTot}L").as("expected_micro"),
      expr("CASE WHEN nn = 0 THEN 0L ELSE o * 1000000L DIV nn END")
        .as("observed_micro"),
      expr(s"CASE WHEN nn = 0 THEN 0L ELSE " +
        s"o * 1000000L DIV nn - w * 1000000L DIV ${wTot}L END")
        .as("dev_micro"),
      lit(-1.0).as("chi2"))
    val summary = cells.groupBy()
      .agg(sum(col("o")).cast("long").as("n"),
        round(sum(col("t")), 6).cast(DoubleType).as("chi2"))
      .select(lit("__chi2__").as("bucket"), col("n"),
        lit(1000000L).as("expected_micro"), lit(1000000L)
          .as("observed_micro"), lit(0L).as("dev_micro"), col("chi2"))
    per.unionByName(summary)
  }
}
