package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Pearson chi-square independence audit over categorical column pairs
  * (Pearson 1900; effect size per Cramér, "Mathematical Methods of
  * Statistics", 1946 §21.9) — the data-health question behind every
  * stratified design: "is `lang` independent of `source`? is label
  * leaking through shard id?" A large chi-square with a meaningful
  * Cramér's V says the two columns carry each other's information —
  * a leakage / confounding signal for split design and mix planning.
  *
  * The statistic is computed over OBSERVED cells only, via the standard
  * identity  Σ (O−E)²/E = Σ O²/E − N  (zero-observed cells contribute
  * exactly 0 to Σ O²/E): no margin cross product, no zero-cell frame,
  * so the plan never materializes the |A|×|B| grid.
  *
  * Scale shape: ONE stacked pass over the input (all pairs explode from
  * a single scan), one (pair, a, b) count aggregation, then margins and
  * totals re-aggregate the CELLS table (classes-sized, broadcast into
  * the cell join). Per-cell contributions are decimal-rounded before
  * the per-pair sum (the x78/Registry order-independence rule), so the
  * result is engine-exact. Nulls are their own category (rendered
  * `__null__`), documented rather than silently dropped.
  */
object ChiSquare {

  private val D8 = DecimalType(18, 8)

  private def cat(c: Column): Column =
    coalesce(c.cast("string"), lit("__null__"))

  /** One row per column pair: `(pair, n, r, c, dof, chi2, cramers_v,
    * dependent)` with chi2/V rounded to 6dp and `dependent` = V ≥
    * `vFlag` (effect-size gate — at corpus scale everything is
    * "significant"; V is the magnitude that matters). */
  def audit(df: DataFrame, pairs: Seq[(String, String)],
      vFlag: Double = 0.1): DataFrame = {
    require(pairs.nonEmpty, "no column pairs to audit")
    require(vFlag > 0, s"vFlag must be positive, got $vFlag")
    val stacked = df.select(explode(array(pairs.map { case (a, b) =>
      struct(lit(s"$a~$b").as("pair"), cat(col(a)).as("va"),
        cat(col(b)).as("vb"))
    }: _*)).as("s")).select(col("s.pair").as("pair"),
      col("s.va").as("va"), col("s.vb").as("vb"))
    // persisted: the classes-sized cell table feeds both margins, the
    // totals, the dims count AND the contribution join — without the
    // cache the stacked corpus pass re-executes per consumer
    val cells = CacheScope.persist(stacked.groupBy("pair", "va", "vb")
      .agg(count(lit(1)).as("o")))
    val rowm = cells.groupBy("pair", "va").agg(sum(col("o")).as("ra"))
    val colm = cells.groupBy("pair", "vb").agg(sum(col("o")).as("cb"))
    val tot = cells.groupBy("pair").agg(sum(col("o")).as("n"))
    val dims = rowm.groupBy("pair").agg(count(lit(1)).as("r"))
      .join(colm.groupBy("pair").agg(count(lit(1)).as("c")), Seq("pair"))
    // per-cell O²·N/(ra·cb), decimal-rounded before the per-pair sum so
    // the total is independent of summation order (Registry parity rule)
    val contrib = cells
      .join(broadcast(rowm), Seq("pair", "va"))
      .join(broadcast(colm), Seq("pair", "vb"))
      .join(broadcast(tot), Seq("pair"))
      .withColumn("t", round(
        col("o").cast(DoubleType) * col("o") * col("n") /
          (col("ra").cast(DoubleType) * col("cb")), 8).cast(D8))
    val byPair = contrib.groupBy("pair")
      .agg(sum(col("t")).as("s"), first(col("n")).as("n"))
      .join(broadcast(dims), Seq("pair"))
      .withColumn("chi2raw",
        greatest((col("s") - col("n")).cast(DoubleType), lit(0.0)))
      .withColumn("minrc",
        least(col("r"), col("c")) - lit(1L))
    // chi2 rounds the exact DECIMAL before any double cast (the
    // round-before-cast rule PlanAudit lints); chi2raw stays a double
    // only where it feeds sqrt (transcendental — never grid-exact)
    byPair.select(col("pair"), col("n").cast("long").as("n"),
      col("r").cast("long").as("r"), col("c").cast("long").as("c"),
      ((col("r") - 1L) * (col("c") - 1L)).as("dof"),
      greatest(round(col("s") - col("n"), 6), lit(0))
        .cast(DoubleType).as("chi2"),
      when(col("minrc") > 0,
        round(sqrt(col("chi2raw") / (col("n") * col("minrc"))), 6))
        .otherwise(lit(0.0)).as("cramers_v"))
      .withColumn("dependent", col("cramers_v") >= vFlag)
  }
}
