package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Post-stratification calibration weights — make a (possibly biased)
  * sample reproduce the population's stratum margins (Holt & Smith,
  * "Post Stratification", JRSS-A 1979): every sample row in stratum c
  * gets weight N_c/n_c, so weighted sample totals equal population
  * totals per stratum. Thin cells make raw weights explode, so the
  * standard repair is COLLAPSING (Little, "Post-Stratification: A
  * Modeler's Perspective", JASA 1993): cells with fewer than `minCell`
  * sample rows pool into their first-stratum margin, and still-thin
  * pools fall back to one global pool — three levels, each labeled in
  * the output so the caller can see where calibration got coarse.
  *
  * In a training-data pipeline this is the mix-repair step after any
  * non-uniform selection (quality filtering, dedup, ANN capping): the
  * weights restore source×language balance without re-sampling.
  *
  * Scale shape: two stratum-count aggregations (population and sample),
  * then EVERYTHING operates on the classes-sized cell table — the
  * full-outer cell join, the per-first-stratum pools, and the 1-row
  * global pool (an explicit broadcast). Pure integer micro arithmetic.
  * A global pool with population mass but zero sample rows cannot be
  * weighted and fails loudly.
  */
object PostStratify {

  /** One row per population cell: strata cols + `(n_pop, n_sample,
    * level, weight_micro)`; `level` ∈ cell | pooled:<firstCol> |
    * pooled:global. Cells with `n_sample = 0` report their pool's
    * weight (their population mass is carried by the pool). */
  def weights(population: DataFrame, sample: DataFrame,
      strataCols: Seq[String], minCell: Long = 20L): DataFrame = {
    require(strataCols.nonEmpty, "no strata columns")
    require(minCell >= 1, s"minCell must be >= 1, got $minCell")
    val ks = strataCols.map(col)
    val pop = population.groupBy(ks: _*)
      .agg(count(lit(1)).as("n_pop"))
    val smp = sample.groupBy(ks: _*)
      .agg(count(lit(1)).as("n_sample"))
    val cells = CacheScope.persist(
      pop.join(smp, strataCols, "left")
        .withColumn("n_sample", coalesce(col("n_sample"), lit(0L))))
    val fat = cells.filter(col("n_sample") >= minCell)
      .withColumn("level", lit("cell"))
      .withColumn("weight_micro",
        expr(s"n_pop * 1000000L DIV n_sample"))
    val thin = cells.filter(col("n_sample") < minCell)
    val head = strataCols.head
    val pools = CacheScope.persist(thin.groupBy(col(head))
      .agg(sum(col("n_pop")).as("pnp"), sum(col("n_sample")).as("pns")))
    val pooledSrc = thin.join(pools.filter(col("pns") >= minCell),
        Seq(head))
      .withColumn("level", lit(s"pooled:$head"))
      .withColumn("weight_micro", expr("pnp * 1000000L DIV pns"))
      .drop("pnp", "pns")
    val gl = pools.filter(col("pns") < minCell)
      .agg(sum(col("pnp")).as("gnp"), sum(col("pns")).as("gns"))
      .filter(col("gnp").isNotNull) // empty global pool: no rows at all
    val pooledGlobal = thin
      .join(pools.filter(col("pns") < minCell).select(col(head)), Seq(head))
      .crossJoin(broadcast(gl))
      .withColumn("level", lit("pooled:global"))
      .withColumn("weight_micro",
        when(col("gns") === 0L, raise_error(concat(
          lit("PostStratify: global pool holds "), col("gnp"),
          lit(" population rows but 0 sample rows — the sample cannot " +
            "be calibrated to this population"))).cast("long"))
          .otherwise(expr("gnp * 1000000L DIV gns")))
      .drop("gnp", "gns")
    fat.unionByName(pooledSrc).unionByName(pooledGlobal)
  }
}
