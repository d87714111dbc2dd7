package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening by pointer jumping (a.k.a. pointer doubling —
  * Wyllie's list-ranking technique, JáJá "An Introduction to Parallel
  * Algorithms" §3.1): every node of a parent-pointer forest gets its
  * root id and depth in O(log depth) ROUNDS of self-joins, not O(depth)
  * — the difference between 14 shuffles and 16 000 for a 16k-deep
  * chain. The warehouse shape behind org charts, comment threads,
  * category trees, reply-to conversation assembly.
  *
  * A recursive CTE (the single-node engine answer) walks every node's
  * chain step by step: total work Σ depth(v), sequential in the depth.
  * Pointer jumping squares the stride instead: after round k every
  * node's pointer is 2^k hops up (or at its root), so rounds =
  * ⌈log₂ max-depth⌉, each ONE co-partitioned self-equi-join on the
  * current pointer (id-keyed shuffle, AQE-skew-splittable; a viral hub
  * node is a hot join key, not a hot partition-by). Lineage is
  * localCheckpoint-truncated per round (the x19 discipline — the plan
  * would otherwise double per round, which is quadratic driver time).
  *
  * Input: one row per node, `parentCol` null ⟺ root. Contracts,
  * validated loudly up front (one id-keyed anti-join + one filter, both
  * bounded by the node table): every non-null parent must exist as a
  * node (a dangling pointer has no root — silently inner-joining it
  * away would drop the whole subtree below it), and no node may be its
  * own parent. Deeper cycles cannot be pre-checked cheaply; they
  * surface as non-convergence and fail loudly at `maxRounds` =
  * ⌈log₂ maxDepth⌉ + 1 (so a genuine depth > maxDepth does too, with
  * the count of unconverged nodes).
  *
  * Output: (id, root_id, depth) for every node.
  */
object Hierarchy {

  def flattenToRoots(nodes: DataFrame, idCol: String, parentCol: String,
      maxDepth: Long = 1L << 20): DataFrame = {
    require(maxDepth > 0, s"flattenToRoots: maxDepth must be > 0")
    val base = nodes.select(col(idCol).as("id"), col(parentCol).as("par"))

    val selfLoops = base.filter(col("par") <=> col("id")).count()
    require(selfLoops == 0L,
      s"flattenToRoots: $selfLoops node(s) are their own parent " +
        "(1-cycles); a forest has none")
    val dangling = base.filter(col("par").isNotNull)
      .join(base.select(col("id").as("__pid")),
        col("par") === col("__pid"), "left_anti").count()
    require(dangling == 0L,
      s"flattenToRoots: $dangling node(s) point at a parent id that is " +
        "not a node — repair or filter the orphan edges first")

    // state: (id, ptr, d, done) — ptr is a known ancestor exactly d hops
    // up; done ⟺ ptr is a root. Roots start done at themselves.
    var st = base.select(col("id"),
        coalesce(col("par"), col("id")).as("ptr"),
        when(col("par").isNull, 0L).otherwise(1L).as("d"),
        col("par").isNull.as("done"))
      .localCheckpoint()
    val maxRounds =
      (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxDepth))) + 1
    var active = st.filter(!col("done")).count()
    var round = 0
    while (active > 0 && round < maxRounds) {
      // jump: follow my pointer to ITS pointer, accumulating its stride.
      // A pointer at a root (up.d = 0, up.ptr = up.id) is a fixed point;
      // done-ness propagates from the row jumped through.
      val up = st.select(col("id").as("__uid"), col("ptr").as("__uptr"),
        col("d").as("__ud"), col("done").as("__udone"))
      val next = st.join(up, col("ptr") === col("__uid"))
        .select(col("id"), col("__uptr").as("ptr"),
          (col("d") + col("__ud")).as("d"),
          (col("done") || col("__udone")).as("done"))
        .localCheckpoint() // eager: one job, O(1) plan next round
      CacheScope.releaseCheckpoint(st) // superseded: nothing reads it now
      st = next
      active = st.filter(!col("done")).count()
      round += 1
    }
    if (active > 0)
      throw new IllegalStateException(
        s"flattenToRoots did not converge in $maxRounds rounds ($active " +
          s"node(s) still walking) — a cycle, or depth > $maxDepth; " +
          "raise maxDepth only if the hierarchy is genuinely deeper")
    st.select(col("id"), col("ptr").as("root_id"), col("d").as("depth"))
  }
}
