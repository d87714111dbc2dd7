package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood candidate generation (Hernández & Stolfo,
  * "The Merge/Purge Problem for Large Databases", SIGMOD 1995) — the
  * linkage blocking method that complements [[RecordLinkage]]'s
  * equi-join blocking: equi-blocks MISS a match whose block key itself
  * is corrupted, while a sliding window over a global sort order only
  * needs the sort key to land two records NEAR each other, not equal.
  * Candidates are every pair of rows whose distance in the global
  * (key, id) order is < `window`.
  *
  * A global sort order normally means a global window — the
  * single-task scale-killer this repo's plan lint bans. The
  * decomposition here keeps every window partitioned (the distributed
  * SNM shape of Kolb, Thor & Rahm, "Multi-pass Sorted Neighborhood
  * Blocking with MapReduce", CSRD 2012, re-expressed declaratively);
  * steps 1–3 are [[GlobalOrder.positions]], the shared positioning
  * primitive:
  *
  *   1. bucket rows by an order-preserving PREFIX of the sort key
  *      (keys sharing a prefix are lexicographically contiguous, so
  *      bucket order == key order); a (bucket, count) histogram is
  *      corpus-sized-bounded by construction;
  *   2. exact global offsets for buckets come from the histogram
  *      alone: a triangular self-join over the ≤ |alphabet|^superChars
  *      SUPER-prefix totals (a bounded frame, so the quadratic join is
  *      constant work) plus a super-partitioned cumulative window over
  *      the histogram — no empty partitionSpec anywhere;
  *   3. global_pos = bucket offset + rank within bucket (window
  *      partitioned by bucket; an oversized bucket — a degenerate
  *      shared-prefix key distribution — fails loudly past
  *      `maxBucket` rather than funneling);
  *   4. positions are dense 1..N, so fixed `segSize` segments are
  *      dense too: neighbors come from `window−1` lead() columns over
  *      a segment-partitioned window, run under TWO tilings offset by
  *      segSize/2 (the classic shifted-tiling argument: any pair with
  *      distance ≤ segSize/2 that crosses a boundary of one tiling
  *      lies strictly inside a segment of the other). Tiling 1 emits
  *      same-segment pairs, tiling 2 emits exactly the tiling-1
  *      crossers — disjoint by construction, together complete. No
  *      join touches corpus rows after positioning.
  *
  * Output: one row per candidate pair, `(id_a, key_a, id_b, key_b,
  * dist)` with `pos_a < pos_b` and `dist = pos_b − pos_a ∈
  * [1, window−1]` — exactly the set a single-pass sliding window over
  * the fully sorted corpus would emit. Null sort keys are excluded
  * (documented, mirroring EditDistJoin's convention): a null key has
  * no place in the sort order.
  *
  * Scale shape: two corpus-keyed shuffles (the bucket-rank window and
  * the segment window), histogram-sized everything else, candidate
  * output O(n · window). `window` is required small (≤ 64) — SNM's
  * whole point is a tiny window over a good sort key, multi-passed
  * with different keys when recall demands it.
  */
object SortedNeighborhood {

  /** Candidate pairs within `window` of each other in (keyCol, idCol)
    * order. `keyCol` must be a string column whose LEXICOGRAPHIC order
    * is the intended sort order (render numeric keys fixed-width —
    * e.g. `lpad(cents, 12, '0')`). `bucketChars`/`superChars` pick the
    * order-preserving prefix granularity; `maxBucket` bounds the
    * largest single-prefix class before the rank window would funnel.
    */
  def candidatePairs(df: DataFrame, idCol: String, keyCol: String,
      window: Int, bucketChars: Int = 4, superChars: Int = 1,
      segSize: Long = 4096L, maxBucket: Long = 1L << 22): DataFrame = {
    require(window >= 2 && window <= 64,
      s"window must be in 2..64, got $window")
    require(bucketChars >= 1 && superChars >= 1 &&
      superChars < bucketChars,
      s"need 1 <= superChars < bucketChars, got $superChars/$bucketChars")
    require(segSize % 2 == 0 && segSize >= 2L * window,
      s"segSize must be even and >= 2*window (the shifted tiling " +
        s"covers pair distances up to segSize/2), got segSize=$segSize " +
        s"window=$window")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")

    // persisted: the positioning chain ([[GlobalOrder.positions]] —
    // histograms + rank window) feeds both tilings; without the cache
    // it would re-execute per tiling
    val positioned = CacheScope.persist(GlobalOrder
      .positions(df, idCol, keyCol, bucketChars, superChars, maxBucket)
      .select(col(idCol).as("__id"), col(keyCol).as("__k"),
        col("pos").as("__pos"))
      .select(col("__id"), col("__k"), col("__pos"),
        expr(s"(__pos - 1L) DIV ${segSize}L").as("__seg1"),
        expr(s"(__pos - 1L + ${segSize / 2}L) DIV ${segSize}L").as("__seg2")))

    // window-1 leads over one tiling's segment-partitioned window; each
    // lead carries its row's tiling-1 segment so the emit rule can tell
    // same-segment pairs from tiling-1 crossers
    def pairsOver(segCol: String): DataFrame = {
      val w = Window.partitionBy(col(segCol)).orderBy(col("__pos"))
      val leads = (1 until window).map(d =>
        lead(struct(col("__id"), col("__k"), col("__pos"), col("__seg1")), d)
          .over(w))
      positioned
        .withColumn("__nb", array(leads: _*))
        .select(col("__id").as("id_a"), col("__k").as("key_a"),
          col("__pos").as("__pa"), col("__seg1").as("__sa"),
          explode(col("__nb")).as("__n"))
        .filter(col("__n").isNotNull)
        .select(col("id_a"), col("key_a"),
          col("__n.__id").as("id_b"), col("__n.__k").as("key_b"),
          (col("__n.__pos") - col("__pa")).as("dist"),
          (col("__n.__seg1") === col("__sa")).as("__same1"))
    }
    pairsOver("__seg1").filter(col("__same1"))
      .unionByName(pairsOver("__seg2").filter(!col("__same1")))
      .drop("__same1")
  }
}
