package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable rounding of DOUBLE expressions.
  *
  * Spark's `round(x: double, k)` rounds the SHORTEST-DECIMAL
  * representation of x (`BigDecimal.valueOf` goes through
  * `Double.toString`), while DuckDB rounds the binary value — so any
  * double whose shortest representation lands on the .5·10^-k grid
  * rounds UP in Spark and (often) DOWN in DuckDB. Exact decimal and
  * dyadic-rational values land on that grid for real (the x100/x51
  * live hits, BASELINE.md rounds 8/11); `PlanAudit
  * .roundAfterDecimalCastSites` lints the registry for the class.
  *
  * The portable form is `floor(x·10^k + 0.5) / 10^k`: multiply, add,
  * floor, divide are each a single IEEE-754 operation, so two engines
  * fed the same double produce the SAME rounded value by construction —
  * no string representation anywhere. (Convention: half-up toward +∞,
  * which differs from round()'s half-away-from-zero on negative ties;
  * mirror the same floor form in the DuckDB oracle.) Where the value
  * is still an exact DECIMAL, prefer rounding the decimal itself before
  * any double cast — that is exact, not merely portable. */
object PortableMath {

  /** floor(x·10^k + 0.5) / 10^k — deterministic k-digit half-up(+∞)
    * rounding of a double, identical on any IEEE-754 engine. */
  def roundPortable(x: Column, k: Int): Column = {
    require(k >= 0 && k <= 9, s"scale $k outside 0..9")
    val p = math.pow(10, k)
    floor(x * lit(p) + lit(0.5)) / lit(p)
  }

  /** The matching DuckDB SQL fragment for [[roundPortable]]. */
  def roundPortableSql(expr: String, k: Int): String = {
    require(k >= 0 && k <= 9, s"scale $k outside 0..9")
    val p = math.pow(10, k).toLong
    s"floor(($expr) * $p + 0.5) / $p"
  }

  /** JVM-side twin of Spark's `round(x, 4)` on doubles —
    * `BigDecimal.valueOf(x).setScale(4, HALF_UP).toDouble` — WITHOUT the
    * per-call BigDecimal/String allocation that definition pays (it goes
    * through `Double.toString`). Hot-loop callers (the broadcast kNN
    * scan's per-pair cosine, SRP's per-bit sign) allocate nothing on the
    * fast path: one multiply + floor/ceil + divide, which is exact
    * because the scaled integer is exactly representable and IEEE
    * division is correctly rounded. The fast path only differs from the
    * definition when `x·10⁴` sits near the .5 rounding grid: the
    * definition rounds x's shortest decimal d, and |y − d·10⁴| is at
    * most 0.5·ulp(x)·10⁴ + 0.5·ulp(y) ≤ 1.11·ulp(y). A guard band of
    * 4·ulp(y), so scaled with |x| over the whole domain, falls back to
    * the exact definition there, and for non-finite input (same
    * NumberFormatException as before). Bit-identical by construction;
    * PortableMathSpec sweeps the boundary up to |x| ~ 10¹². */
  def round4HalfUp(x: Double): Double = {
    val y = x * 1e4
    if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y))
      return BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val f = y - math.floor(y)
    if (math.abs(f - 0.5) < 4 * math.ulp(y))
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    else {
      val z = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
      z / 1e4 + 0.0 // +0.0 canonicalizes -0.0 (BigDecimal never emits it)
    }
  }
}
