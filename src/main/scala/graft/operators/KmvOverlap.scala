package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-cost cross-source overlap — the 100 TB path to
  * [[SourceOverlap]]'s exact matrix: per-source KMV (bottom-k) sketches
  * over shingle hashes compose under union and intersection (Broder
  * SEQUENCES'97 coordinated bottom-k samples; estimators Beyer et al.
  * SIGMOD'07), so every source PAIR's distinct-union size and Jaccard
  * are estimated from s sketches of k longs each — the corpus is
  * scanned once into bounded per-task state, and the pairwise work
  * touches only s×k longs, never the corpus.
  *
  * Scale shape:
  *   1. shingle + hash (native expressions, zero shuffle), ONE
  *      partial-aggregated groupBy(source) into
  *      [[graft.expressions.KmvSketch]] — s rows of ≤k longs;
  *   2. the s sketches collapse to ONE row (collect_list) and all
  *      C(s, 2) pairs fan out via the x60 index lambda — no join, no
  *      window, no cartesian anywhere;
  *   3. per-pair estimates are pure array expressions over the two
  *      sketches (union-merge → k smallest → θ, membership counts).
  *   4. the verdict join attaches the EXACT matrix (same inverted-index
  *      shape as x60, on the same 48-bit hashes) — the self-adjudication
  *      baseline; production at 100 TB runs the sketch path alone.
  *
  * Estimators (hash space = 2^48, h/2^48 ∈ [0,1)):
  *  - union: m = |bottom-k of (A ∪ B sketches)|; if m < k both sketches
  *    were complete so the union is EXACT (= m); else
  *    est = round((k−1) / (θ/2^48), 4) with θ the k-th smallest.
  *  - Jaccard: matches/m over the union bottom-k (each union-sample
  *    element is a coordinated uniform draw from A ∪ B; it lies in
  *    A ∩ B iff it appears in BOTH sketches), rounded to 6dp.
  *  - intersection: round(est_jaccard · est_union, 4) (Beyer §5.2).
  * All arithmetic is fixed-order double over integers, so a SQL oracle
  * rebuilding the sketches reproduces every value bit-for-bit. */
object KmvOverlap {

  private val HashSpace = 281474976710656.0 // 2^48 as double, exact

  /** Per-pair sketch overlap estimates, adjudicated in-row against the
    * exact matrix. Columns: (src_a, src_b, est_union, est_jaccard,
    * est_inter, exact_jaccard, abs_err, within_bound). All C(s,2) pairs
    * appear (unlike x60, zero-overlap pairs are kept — the sketch can't
    * know a pair shares nothing without looking). `within_bound` asserts
    * |est_jaccard − exact_jaccard| <= 0.1, > 3σ of the matches ~
    * Binomial(k, J) sampling noise at k = 256 (σ <= 0.5/√k ≈ 0.031). */
  def overlapEstimates(df: DataFrame, sourceCol: String, textCol: String,
      n: Int = 4, k: Int = 256): DataFrame = {
    require(k >= 2, "k must be >= 2")
    // 48-bit portable hash per (source, shingle) occurrence; KMV set
    // semantics absorb duplicates, no distinct pass needed
    val hashes = CacheScope.persist(df
      .select(col(sourceCol).as("source"),
        explode(graft.expressions.TextExpressions
          .wordShingles(col(textCol), n)).as("sh"))
      .select(col("source"),
        conv(substring(md5(col("sh")), 1, 12), 16, 10)
          .cast("long").as("h")))
    // s sketches of <= k longs, then ONE row carrying all of them
    val sketches = hashes.groupBy(col("source"))
      .agg(graft.expressions.SketchExpressions
        .kmvSketch(col("h"), k).as("kmv"))
    val packed = sketches
      .agg(sort_array(collect_list(struct(
        col("source"), col("kmv")))).as("sks"))
    // all C(s,2) pairs via the sorted-index lambda (the x60 fan-out)
    val sks = col("sks")
    val pairs = packed
      .select(explode(flatten(transform(sks, (x, i) =>
        transform(slice(sks, i + lit(2), size(sks)),
          y => struct(x.getField("source").as("src_a"),
            y.getField("source").as("src_b"),
            x.getField("kmv").as("kmv_a"),
            y.getField("kmv").as("kmv_b")))))).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
        col("p.kmv_a").as("kmv_a"), col("p.kmv_b").as("kmv_b"))
    // union bottom-k + membership counts: pure array expressions
    val est = pairs
      .withColumn("u",
        slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))),
          1, k))
      .withColumn("m", size(col("u")))
      .withColumn("theta", element_at(col("u"), -1))
      .withColumn("matches", size(array_intersect(
        array_intersect(col("u"), col("kmv_a")), col("kmv_b"))))
      .withColumn("est_union",
        when(col("m") < k, col("m").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) /
            (col("theta") / lit(HashSpace)), 4)))
      .withColumn("est_jaccard",
        round(col("matches").cast("double") / col("m"), 6))
      .withColumn("est_inter",
        round(col("est_jaccard") * col("est_union"), 4))
      .select(col("src_a"), col("src_b"), col("est_union"),
        col("est_jaccard"), col("est_inter"))
    // exact adjudication baseline: x60's inverted-index shape over the
    // SAME hashes (one corpus shuffle; totals derived from the index)
    val bySrcSet = CacheScope.persist(hashes
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("srcs")))
    val totals = bySrcSet
      .select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val srcs = col("srcs")
    val shared = bySrcSet
      .filter(size(srcs) >= 2)
      .select(explode(flatten(transform(srcs, (x, i) =>
        transform(slice(srcs, i + lit(2), size(srcs)),
          y => struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    est
      .join(broadcast(shared), Seq("src_a", "src_b"), "left")
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n_sh").as("n_a"))), "src_a")
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n_sh").as("n_b"))), "src_b")
      .withColumn("exact_jaccard",
        round(coalesce(col("shared"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("shared"), lit(0L))),
          6))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .withColumn("within_bound", col("abs_err") <= 0.1)
      .select(col("src_a"), col("src_b"), col("est_union"),
        col("est_jaccard"), col("est_inter"), col("exact_jaccard"),
        col("abs_err"), col("within_bound"))
  }
}
