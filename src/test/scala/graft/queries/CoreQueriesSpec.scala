package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for queries the DuckDB oracle can't hash-check. */
class CoreQueriesSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact per group") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("a"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("e"))
    approx.join(exact, "l_returnflag").collect().foreach { r =>
      val (a, e) = (r.getAs[Long]("a").toDouble, r.getAs[Long]("e").toDouble)
      assert(math.abs(a - e) / e < 0.05, s"${r.getString(0)}: approx $a exact $e")
    }
  }

  test("twin queries share one oracle") {
    // each group computes one semantics by different paths (batch vs
    // streaming ledger, two CC algorithms): one oracle pins them all
    val twins = Seq(
      Seq("x19_dup_components", "x32_dup_components_star"),
      Seq("x71_heavy_hitters", "x72_streaming_heavy_hitters"),
      Seq("x87_countmin_freq", "x94_streaming_countmin"),
      Seq("x185_interarrival_burstiness",
        "x197_streaming_burstiness_ledger"),
      Seq("x135_cohort_retention", "x172_streaming_retention_ledger"),
      Seq("x170_weighted_quantiles", "x206_streaming_quantile_ledger"),
      Seq("x50_incremental_dedup", "x58_streaming_dedup_ledger"),
      Seq("x56_incremental_embedding_dedup",
        "x64_streaming_embedding_ledger"),
      Seq("x160_incremental_cdc_dedup", "x161_streaming_cdc_ledger"),
      Seq("x158_profile_drift", "x159_streaming_profile_drift"),
      Seq("x138_rate_anomalies", "x145_streaming_anomaly",
        "x153_ledger_compaction"))
    val oracles = graft.SparkEntry.oracleSql
    for (group <- twins) {
      group.foreach(q => assert(oracles.contains(q), s"$q has no oracle"))
      for (q <- group.tail)
        assert(oracles(q) == oracles(group.head),
          s"$q's oracle drifted from ${group.head}'s")
    }
  }

  test("every oracle-less query still returns rows") {
    graft.SparkEntry.queries.keys
      .filterNot(graft.SparkEntry.oracleSql.keySet)
      .foreach { name =>
        val n = graft.SparkEntry.queries(name)(spark, sf0001).count()
        assert(n > 0, s"$name returned no rows")
      }
  }
}
