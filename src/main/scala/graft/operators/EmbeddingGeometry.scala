package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group embedding-space geometry report — the "is my embedding
  * space collapsed?" diagnostic (Ethayarajh EMNLP'19 measured
  * contextual-embedding anisotropy this way; Mu & Viswanath ICLR'18
  * showed the common mean vector dominates and should be watched): for
  * each group, per-dimension mean and variance, plus the group's
  * anisotropy ratio ||mu||^2 / E||x||^2 in [0,1] — 1.0 = every vector
  * IS the mean (fully collapsed), near 0 = centered cloud. A source
  * whose anisotropy is far above its peers embeds into a cone; cosine
  * similarity there saturates and near-dup/ANN thresholds tuned on the
  * healthy sources stop transferring.
  *
  * Exactness: every element is quantized FIRST — e = round(v * 10^4)
  * per element, engine-exact because a float times 10^4 cannot land on
  * an exact .5 (the half-grid (2n+1)/(2*10^4) has a factor 5^4 in the
  * denominator, unrepresentable in binary) — and everything after is
  * BIGINT arithmetic: truncating-div means (Spark `div` == DuckDB `//`,
  * both toward zero), centered sum of squares, and the raw second
  * moment reconstructed exactly via S2 = SS + 2*m*S1 - n*m^2. No
  * cross-row double sums anywhere, so results are summation-order
  * independent.
  *
  * Scale shape: two corpus passes (the textbook two-pass variance — the
  * single-pass n*S2 - S1^2 form overflows 64-bit at ~3*10^5 rows, the
  * centered form is exact to ~10^10 vectors/group for unit-bounded
  * embeddings), each collapsing map-side to groups x dims partial rows;
  * the means frame joins back by BROADCAST (groups x dims rows). The
  * stats frame feeds two consumers (dim rows + group rollup) and
  * persists ([[CacheScope]]). No windows, no collects, no
  * corpus-sized shuffles.
  *
  * Assumes fixed-dimension vectors per group (the group-summary row
  * uses the max per-dim count as the vector count). */
object EmbeddingGeometry {

  /** Per (group, dim): (group, dim, n_vecs, mean_e4, var_e8, null) in
    * 1e-4 / 1e-8 units; plus one dim = -1 summary row per group:
    * (group, -1, n_vecs, null, null, aniso_micro). */
  def report(vecs: DataFrame, vecCol: String, groupCol: String,
      unitScale: Int = 10000): DataFrame = {
    require(unitScale >= 1, s"bad unitScale $unitScale")
    def exploded = vecs
      .select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * unitScale, 0).cast("long").as("e"))
    val means = exploded.groupBy("grp", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("e")).as("s1"))
      .withColumn("m", expr("s1 div n_vecs"))
    val stats = CacheScope.persist(exploded
      .join(broadcast(means), Seq("grp", "dim"))
      .groupBy("grp", "dim", "n_vecs", "s1", "m")
      .agg(sum((col("e") - col("m")) * (col("e") - col("m"))).as("ss"))
      .withColumn("s2", expr("ss + 2 * m * s1 - n_vecs * m * m")))
    val dimRows = stats.select(col("grp"), col("dim"), col("n_vecs"),
      col("m").as("mean_e4"), expr("ss div n_vecs").as("var_e8"),
      lit(null).cast("long").as("aniso_micro"))
    val grpRows = stats.groupBy("grp")
      .agg(max(col("n_vecs")).as("n_vecs"),
        sum(col("m") * col("m")).as("num"),
        sum(col("s2")).as("sum_s2"))
      .select(col("grp"), lit(-1L).as("dim"), col("n_vecs"),
        lit(null).cast("long").as("mean_e4"),
        lit(null).cast("long").as("var_e8"),
        expr("""CASE WHEN sum_s2 div n_vecs > 0
                THEN num * 1000000 div (sum_s2 div n_vecs)
                ELSE 0 END""").as("aniso_micro"))
    dimRows.unionByName(grpRows).withColumnRenamed("grp", groupCol)
  }
}
