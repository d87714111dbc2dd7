package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase

/** Dev utility + the shared shuffle-counting rule behind ScaleSpec's
  * registry-wide budgets: print `name shuffle-count` for every registered
  * query. Usage: PlanAudit [sfDir]
  *
  * The count walks the physical-plan TREE, not its string: shuffle
  * exchange NODES only (broadcasts excluded), each persisted relation's
  * cached plan visited ONCE no matter how many scans reference it, and
  * ReusedExchange skipped — a string count would re-count a cached
  * subtree's exchanges per consumer and overstate multi-consumer
  * pipelines (they execute once, at first materialization). */
object PlanAudit {

  def shuffleCount(df: DataFrame): Int =
    countNodes(df) { case _: ShuffleExchangeLike => 1 }.toInt

  /** WindowExec nodes with an EMPTY partitionSpec — the `row_number()
    * OVER (ORDER BY ...)` shape that Spark plans as Exchange
    * SinglePartition + one task over ALL rows. The scale-killer class:
    * fine on a laptop, serializes the corpus on one executor at 100 TB.
    * ScaleSpec sweeps every registered query with this. */
  def globalWindowCount(df: DataFrame): Int =
    countNodes(df) { case w: WindowExecBase if w.partitionSpec.isEmpty => 1 }
      .toInt

  /** EXECUTE the df's own physical plan, then sum the `shuffle bytes
    * written` SQLMetric across its exchanges — the byte-level companion
    * to [[shuffleCount]]: an exchange COUNT can stay flat while a plan
    * change inflates the traffic through each exchange (wider rows, a
    * dropped pre-aggregation, a lost broadcast). Reading the metric off
    * the query's own executed plan (not a listener) attributes bytes to
    * exactly this query, with no listener-bus race; cached subtrees are
    * visited once and ReusedExchange skipped, mirroring the counter, so
    * bytes written once are counted once. Relations persisted/executed
    * BEFORE the returned plan was built (operator-internal
    * checkpoints/ledgers) ran in their own query executions and are out
    * of scope — the budget covers the registered plan's traffic.
    *
    * `toRdd.count()` forces execution on the SAME QueryExecution whose
    * metrics we walk (a `.write`/`.collect` would plan a fresh one),
    * streaming rows without materializing them on the driver. */
  def executedShuffleBytes(df: DataFrame): Long = {
    df.queryExecution.toRdd.count()
    countNodes(df) { case s: ShuffleExchangeLike =>
      s.metrics.collect {
        case (k, m) if k == "shuffleBytesWritten" => m.value
      }.sum
    }
  }

  /** Sites where `round()`/`bround()` is applied to a DOUBLE that was
    * produced by casting a DECIMAL: `round(CAST(x AS DOUBLE), k)` flips
    * engine-dependently when the exact value lands on the .5·10^-k grid
    * (decimal/dyadic sums do — the x100/x51 live hits), while
    * `CAST(round(x, k) AS DOUBLE)` cannot. The walk resolves attributes
    * through the analyzed plan's aliases, so a cast hidden behind a
    * projection or aggregate alias is still found, and stops descending
    * at non-exactness-preserving functions (ln/exp/sqrt/...): their
    * results don't land on the rounding grid, so rounding them is not
    * in the hazard class. Returns one printable line per site. */
  def roundAfterDecimalCastSites(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val plan = df.queryExecution.analyzed
    val aliases = scala.collection.mutable.Map.empty[ExprId, Expression]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: Alias => aliases(a.exprId) = a.child
        case _ => ()
      })
    }
    // descent allowlist: ops under which an exact decimal/dyadic value
    // stays grid-exact after the double cast (±, ×, branches, folds).
    // Divide is NOT generally preserving — sum/3 leaves the .5·10^-k
    // grid, so round-after-divide is usually OUTSIDE the hazard class
    // (flagging it was a lint false positive); the one grid-exact
    // divide, by a literal power of ten, is handled explicitly below.
    def preserving(e: Expression): Boolean = e match {
      case _: Add | _: Subtract | _: Multiply | _: UnaryMinus
           | _: Abs | _: Cast | _: Alias | _: Coalesce | _: If
           | _: CaseWhen | _: Least | _: Greatest | _: NaNvl => true
      case _: aggregate.AggregateExpression | _: aggregate.Sum
           | _: aggregate.Average | _: aggregate.Min | _: aggregate.Max
           | _: aggregate.First | _: aggregate.Last => true
      case _ => false
    }
    def isPowerOfTen(e: Expression): Boolean = e match {
      case Literal(v, _) if v != null =>
        try {
          val bd = new java.math.BigDecimal(v.toString)
          bd.stripTrailingZeros.unscaledValue.abs
            .equals(java.math.BigInteger.ONE)
        } catch { case _: NumberFormatException => false }
      case _ => false
    }
    def hazardous(e: Expression,
        seen: Set[ExprId]): Option[Expression] = e match {
      case c @ Cast(child, DoubleType | FloatType, _, _)
          if child.dataType.isInstanceOf[DecimalType] => Some(c)
      case a: AttributeReference if !seen(a.exprId) =>
        aliases.get(a.exprId).flatMap(hazardous(_, seen + a.exprId))
      case d: Divide =>
        // x / 10^k keeps a grid-exact dividend grid-exact; any other
        // divisor leaves the grid, so the subtree is out of the class
        if (isPowerOfTen(d.right)) hazardous(d.left, seen) else None
      case e if preserving(e) =>
        e.children.iterator.map(hazardous(_, seen))
          .collectFirst { case Some(c) => c }
      case _ => None
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case r: RoundBase =>
          hazardous(r.left, Set.empty).foreach { c =>
            out += s"${r.prettyName}(${r.left.sql}, ${r.right.sql}) " +
              s"rounds a decimal-cast double (via ${c.sql})"
          }
        case _ => ()
      })
    }
    out.distinct.toSeq
  }

  private def countNodes(df: DataFrame)(
      score: PartialFunction[SparkPlan, Long]): Long = {
    val seenCaches = scala.collection.mutable.Set.empty[Int]
    def walk(p: SparkPlan): Long = {
      val self = score.applyOrElse(p, (_: SparkPlan) => 0L)
      val kids: Seq[SparkPlan] = p match {
        case _: ReusedExchangeExec => Nil
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        // an already-executed adaptive subtree (a cached relation that
        // was materialized mid-build) wraps its exchanges in query
        // stages, which hide them from .children
        case qs: QueryStageExec => Seq(qs.plan)
        case s: InMemoryTableScanExec =>
          val cached = s.relation.cachedPlan
          if (seenCaches.add(System.identityHashCode(cached))) Seq(cached)
          else Nil
        case other => other.children ++ other.subqueries
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSpark.session(cpus, "ERROR")
    // bytes mode: `PlanAudit <sfDir> bytes q1,q2,...` — EXECUTE the named
    // queries and print their executed-plan shuffle-bytes-written (the
    // ScaleSpec byte-ceiling meter, exposed for baseline measurement)
    if (args.length >= 3 && args(1) == "bytes") {
      args(2).split(",").foreach { name =>
        spark.catalog.clearCache()
        val n =
          try executedShuffleBytes(SparkEntry.queries(name)(spark, sfDir))
            .toString
          catch { case e: Throwable => s"ERR ${e.getMessage.take(80)}" }
        println(s"[planaudit-bytes] $name $n")
      }
      spark.stop()
      return
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // defined cache state per query: a prior query's persisted relation
      // would otherwise swap this query's subtrees for InMemoryRelation
      spark.catalog.clearCache()
      val n =
        try {
          val df = fn(spark, sfDir)
          s"${shuffleCount(df)} gw=${globalWindowCount(df)}"
        } catch { case e: Throwable => s"ERR ${e.getMessage.take(80)}" }
      println(s"[planaudit] $name $n")
    }
    spark.stop()
  }
}
