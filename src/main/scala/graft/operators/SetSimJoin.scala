package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering (AllPairs /
  * SSJoin family — Bayardo, Ma & Srikant, WWW 2007; Chaudhuri, Ganti &
  * Kaushik, ICDE 2006). Finds every pair with word-n-gram Jaccard
  * similarity >= t, with NO recall loss — the exactness the other two
  * near-dup joins trade away:
  *
  *   - MinHash-LSH ([[Dedup.minhashLsh]]) is probabilistic: a true pair
  *     whose signatures collide in no band is silently missed;
  *   - the df-pruned inverted index ([[Dedup.jaccardPairs]]) drops
  *     "stop shingles" with df > maxDf, so a pair overlapping ONLY on
  *     frequent shingles is missed.
  *
  * Prefix filtering keeps the inverted-index shape but bounds the index
  * by THEOREM instead of by heuristic: order every document's shingle
  * set by a global rarest-first total order (df asc, shingle asc) and
  * index only each set's first  |x| − ceil(t·|x|) + 1  shingles. Any
  * pair with J(x,y) >= t has overlap >= ceil(t·|x|) and >= ceil(t·|y|),
  * and two sorted sets with overlap >= o must collide within their
  * (|·| − o + 1)-prefixes (pigeonhole) — so every qualifying pair
  * surfaces as a candidate, while the frequent shingles that dominate
  * candidate cost land in the SUFFIXES and never hit the index. The
  * companion length filter (min size >= t · max size, else max
  * attainable J < t) prunes size-mismatched collisions before the
  * pair aggregation.
  *
  * Scale shape (100 TB): per-row shingling is a native zero-shuffle
  * expression; df counting, the per-doc sort (one groupBy on doc — sets
  * are document-sized, never corpus-sized), the prefix-postings
  * self-join on shingle, and the candidate-pair distinct are the only
  * shuffles. Candidate volume is bounded by prefix collisions — tracked
  * to true-pair volume by the rarest-first order — never corpus². The
  * exact-verify step joins the (few) candidates back to the persisted
  * shingle arrays and computes true Jaccard per pair; only verified
  * pairs are emitted, so emitted == ground truth.
  */
object SetSimJoin {

  /** All (doc_a < doc_b) pairs with Jaccard(shingles(a), shingles(b))
    * >= threshold, exactly. Columns: (doc_a, doc_b, jaccard), jaccard
    * the raw double ratio of the distinct-shingle counts.
    *
    * The doc → shingle-array relation is persisted ([[CacheScope]]):
    * it feeds the postings, the per-doc sizes and
    * both sides of the verify join — unpersisted, Catalyst re-shingles
    * the corpus per consumer. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.3): DataFrame = {
    val docs = shingleSets(df, idCol, textCol, n)
    val cands = prefixCandidates(docs, threshold)
    // exact verification on the full distinct-shingle arrays — the
    // candidate set is collision-bounded, so carrying two arrays per
    // candidate row is fine
    val common = size(array_intersect(col("sha"), col("shb")))
    cands
      .join(docs.select(col("doc").as("doc_a"), col("shs").as("sha")),
        "doc_a")
      .join(docs.select(col("doc").as("doc_b"), col("shs").as("shb")),
        "doc_b")
      .withColumn("jaccard", common.cast("double")
        / (size(col("sha")) + size(col("shb")) - common))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The (doc, distinct-shingle-array) relation both stages read. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    CacheScope.persist(df
      .select(col(idCol).as("doc"),
        graft.expressions.TextExpressions
          .wordShingles(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0))

  /** The prefix-filter CANDIDATE stage of [[jaccardJoinExact]] —
    * exposed separately so the slope gate can COUNT the candidate
    * volume the verify join actually moves (graft.Slopes' mechanical
    * pin of the volume-faithful story: the 10× fixture's per-copy
    * token suffixes make postings cross-copy disjoint, so candidates
    * must scale ~10×/decade — asserted by counting, not prose). */
  def prefixCandidateCount(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, threshold: Double = 0.3): Long =
    prefixCandidates(shingleSets(df, idCol, textCol, n), threshold)
      .count()

  private def prefixCandidates(docs: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val postings = docs.select(col("doc"), explode(col("shs")).as("sh"))
    val dfreq = postings.groupBy(col("sh"))
      .agg(count(lit(1)).as("dfc"))
    // each doc's shingles in the GLOBAL rarest-first order. One shuffle
    // on doc; the collected list is document-sized. sort_array on the
    // (dfc, sh) struct = (df asc, shingle asc) — total order, so every
    // doc agrees on it
    val sorted = postings.join(dfreq, "sh")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("dfc"), col("sh"))))
        .as("toks"))
      .withColumn("sz", size(col("toks")))
    // prefix length |x| − ceil(t·|x|) + 1. The 1e-9 slack makes the
    // double ceil round DOWN at representation-error boundaries (e.g.
    // t=0.3, |x|=10 → 3.0000000000000004): a too-small ceil only
    // lengthens the prefix (safe); a too-large one would break the
    // recall guarantee
    val prefixLen = (col("sz")
      - ceil(col("sz") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    val prefix = sorted.select(col("doc"), col("sz"),
      explode(transform(slice(col("toks"), lit(1), prefixLen),
        t => t.getField("sh"))).as("sh"))
    // candidate pairs: prefix-index collision + length filter (the same
    // 1e-9 slack, relaxing only — a kept false candidate is verified
    // away, a dropped true pair would be a recall bug)
    val cands = prefix
      .select(col("doc").as("doc_a"), col("sz").as("sa"), col("sh"))
      .join(prefix
        .select(col("doc").as("doc_b"), col("sz").as("sb"), col("sh")),
        "sh")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("sa"), col("sb")).cast("double")
        >= greatest(col("sa"), col("sb")) * lit(threshold) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cands
  }
}
