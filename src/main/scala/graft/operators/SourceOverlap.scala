package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-source shingle-overlap matrix — the corpus-level
  * leakage/diversity report: for every pair of sources, how many distinct
  * word n-gram shingles they share, and the Jaccard similarity of their
  * shingle sets. A pair with high Jaccard is a near-copy (one crawl
  * mirrored under two names, a re-scrape, an un-attributed dump) and a
  * candidate for source-level dedup before any per-document pass runs.
  *
  * Scale shape: this is the INVERTED-INDEX formulation, never a doc×doc
  * or corpus×corpus join —
  *   1. per-row shingling (native expression, zero shuffle) + explode,
  *      straight into a group by shingle collecting the source set: ONE
  *      corpus-sized shuffle, and collect_set's partial (map-side)
  *      aggregation dedups repeat (shingle, source) occurrences before
  *      the wire — no separate distinct pass; the collected set is
  *      bounded by the NUMBER OF SOURCES (dozens in production), not
  *      the corpus;
  *   3. pair fan-out via a per-row lambda over the sorted source set —
  *      at most C(|sources|, 2) rows per shingle, bounded by
  *      construction — then one count aggregation on (src_a, src_b);
  *   4. per-source totals are DERIVED from the index (explode the
  *      bounded source sets — no second corpus pass) and ride a
  *      broadcast join (|sources| rows).
  * Total: three key shuffles over id-width data, no quadratic term in
  * docs or corpus size. The matrix itself is C(|sources|, 2) rows. */
object SourceOverlap {

  /** Pairwise (src_a < src_b) shared-shingle counts + Jaccard over
    * distinct word n-gram shingle sets per source. Columns:
    * (src_a, src_b, shared, n_a, n_b, jaccard). Pairs sharing nothing
    * are omitted (their Jaccard is 0 by definition).
    *
    * The corpus is scanned ONCE: the inverted index (sh, srcs) is
    * persisted and feeds both the per-source totals and the pair counts
    * (without it Catalyst re-derives the index per consumer — three
    * corpus scans+shingles). Its lifetime is the caller's
    * ([[CacheScope]]). */
  def overlapMatrix(df: DataFrame, sourceCol: String, textCol: String,
      n: Int = 4): DataFrame = {
    val srcs = col("srcs")
    // NO explicit distinct before the collect: collect_set dedups by
    // definition and its PARTIAL (map-side) aggregation absorbs repeat
    // (sh, source) occurrences before the wire — a prior .distinct()
    // here was a second corpus-sized shuffle buying nothing (r9: its
    // removal halved x60's shuffle traffic, hash-identical result)
    val byShingle = CacheScope.persist(df
      .select(col(sourceCol).as("source"),
        explode(graft.expressions.TextExpressions
          .wordShingles(col(textCol), n)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs")))
    // per-source distinct-shingle totals, derived FROM the index (one
    // explode over sets bounded by |sources|), not a second corpus pass
    val totals = byShingle
      .select(explode(srcs).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // sorted source set per shingle → ordered pairs via an index lambda:
    // slice AFTER element i pairs each source with its lexicographic
    // successors only (src_a < src_b, each unordered pair once)
    val pairs = byShingle
      .filter(size(srcs) >= 2)
      .select(explode(flatten(transform(srcs, (x, i) =>
        transform(slice(srcs, i + lit(2), size(srcs)),
          y => struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n_sh").as("n_a"))), "src_a")
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n_sh").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"),
        col("n_a"), col("n_b"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
  }
}
