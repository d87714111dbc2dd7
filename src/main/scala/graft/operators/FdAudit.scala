package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate functional-dependency audit — does `LHS → RHS` hold, and
  * if not, how badly is it violated? The error measure is g₃ (Kivinen &
  * Mannila, "Approximate inference of functional dependencies from
  * relations", TCS 1995): the minimum fraction of rows that must be
  * removed for the FD to hold exactly, computed per LHS class as
  * `count(class) − max_B count(class, B)`. The schema-understanding
  * complement of [[KeyCandidates]] (which audits uniqueness = the FD
  * `LHS → everything`): FD audits catch denormalization drift, stale
  * dimension copies, and "should-be-derivable" columns that silently
  * diverge.
  *
  * Scale shape: ONE stacked pass over the input (all candidates explode
  * from a single scan), one (candidate, lhs, rhs) count aggregation —
  * the persisted cells table is classes-sized and everything downstream
  * re-aggregates it. Violation arithmetic is pure integer (counts and
  * micro ratios), engine-exact. Nulls are categories (rendered
  * `__null__`), so an FD can fail *through* nulls rather than hiding
  * them.
  */
object FdAudit {

  private def cat(c: Column): Column =
    coalesce(c.cast("string"), lit("__null__"))

  /** One row per candidate: `(candidate, n_rows, n_lhs_classes,
    * violations, g3_micro, holds)`. `violations` = rows to delete for
    * exactness; `holds` ⟺ violations = 0. */
  def audit(df: DataFrame,
      candidates: Seq[(Seq[String], String)]): DataFrame = {
    require(candidates.nonEmpty, "no FD candidates")
    candidates.foreach { case (lhs, rhs) =>
      require(lhs.nonEmpty, s"empty LHS for RHS '$rhs'")
      require(!lhs.contains(rhs),
        s"RHS '$rhs' inside its own LHS is trivially functional")
    }
    val stacked = df.select(explode(array(candidates.map {
      case (lhs, rhs) =>
        struct(
          lit(s"${lhs.mkString(",")}->$rhs").as("cand"),
          // \u0001 separator: ("ab","c") must not collide with ("a","bc")
          // (no null ever reaches concat_ws - cat() coalesces first)
          concat_ws("\u0001", lhs.map(c => cat(col(c))): _*).as("a"),
          cat(col(rhs)).as("b"))
    }: _*)).as("s")).select(col("s.cand").as("cand"),
      col("s.a").as("a"), col("s.b").as("b"))
    // persisted classes-sized cell table; margins re-aggregate it
    val cells = CacheScope.persist(stacked.groupBy("cand", "a", "b")
      .agg(count(lit(1)).as("o")))
    val perLhs = cells.groupBy("cand", "a")
      .agg(sum(col("o")).as("ca"), max(col("o")).as("mab"))
    perLhs.groupBy("cand")
      .agg(sum(col("ca")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_lhs_classes"),
        sum(col("ca") - col("mab")).cast("long").as("violations"))
      .select(col("cand").as("candidate"), col("n_rows"),
        col("n_lhs_classes"), col("violations"),
        expr("violations * 1000000 DIV n_rows").as("g3_micro"),
        (col("violations") === 0L).as("holds"))
  }
}
