package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Zipf rank-frequency fit per source (Zipf 1949; the corpus-health
  * diagnostic: natural text follows freq ∝ rank^(-s) with s ≈ 1 —
  * machine-generated/boilerplate-heavy/deduplicated-to-death corpora
  * bend away from it, so the fitted exponent and its drift across
  * sources is a cheap generation/contamination smell test).
  *
  * Fit: ordinary least squares over (ln rank, ln count) of each
  * source's top-`topK` types — the standard log-log regression,
  * restricted to the head both for statistical sanity (the tail is
  * quantized at count 1..3 and bends the line) and for bounded
  * integer arithmetic.
  *
  * Determinism contract: logs become MILLI-unit integers
  * (`round(ln(v)*1000)` — the x40 cross-engine ln-rounding discipline,
  * one digit coarser than its 6dp), means are truncating integer
  * divisions, and the slope is centered-sum integer division in micro
  * units. Bounds: |x|,|y| ≤ ~15000 (counts ≤ e^15 per type would need
  * a 3M-occurrence type at topK rank — beyond any real head), so
  * Σcx·cy ≤ topK·2.25e8 ≈ 1e11 at topK 500 and the 10^6 scale-up stays
  * far from BIGINT range; a pathological overflow is LOUD under ANSI,
  * never a silent wrap.
  *
  * Scale shape: one (source, word) count aggregation (map-side
  * combined) over the corpus; everything after runs on the
  * vocab-sized frame — rank window, per-source mean windows, final
  * per-source aggregation. No corpus-sized shuffle beyond the count. */
object ZipfFit {

  /** Per-source fit report: (source, n_types, n_tokens, k_used,
    * slope_micro, mean_ln_rank_milli, mean_ln_count_milli). `slope_micro`
    * is null for degenerate heads (fewer than 2 distinct ranks, or all
    * head counts equal — zero x-variance cannot anchor a line). */
  def zipfReport(df: DataFrame, textCol: String, sourceCol: String,
      topK: Int = 500): DataFrame = {
    require(topK >= 2, s"bad topK $topK")
    val counts = df
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("w"))
    val head = counts
      .withColumn("src_types", count(lit(1))
        .over(Window.partitionBy(col("source"))))
      .withColumn("src_tokens", sum(col("c"))
        .over(Window.partitionBy(col("source"))))
      .withColumn("r", row_number().over(wRank))
      .filter(col("r") <= topK)
      .withColumn("x", round(log(col("r")) * 1000).cast("long"))
      .withColumn("y", round(log(col("c")) * 1000).cast("long"))
    val wSrc = Window.partitionBy(col("source"))
    val centered = head
      .withColumn("n", count(lit(1)).over(wSrc))
      .withColumn("mx", expr("sum(x) over (partition by source) div n"))
      .withColumn("my", expr("sum(y) over (partition by source) div n"))
      .withColumn("cx", col("x") - col("mx"))
      .withColumn("cy", col("y") - col("my"))
    centered.groupBy(col("source"))
      .agg(
        first(col("src_types")).as("n_types"),
        first(col("src_tokens")).as("n_tokens"),
        count(lit(1)).as("k_used"),
        first(col("mx")).as("mean_ln_rank_milli"),
        first(col("my")).as("mean_ln_count_milli"),
        sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"))
      .withColumn("slope_micro",
        expr("CASE WHEN sxx > 0 THEN sxy * 1000000 div sxx END"))
      .select("source", "n_types", "n_tokens", "k_used", "slope_micro",
        "mean_ln_rank_milli", "mean_ln_count_milli")
  }

  /** Heaps-law vocabulary-growth fit per source (Heaps 1978; Herdan
    * 1960): natural text grows vocabulary as V(N) = K·N^β with
    * β ≈ 0.4–0.6 — the third leg of the corpus-health trio next to the
    * Zipf exponent ([[zipfReport]]) and the coverage knee
    * ([[vocabCoverage]]). A β near 1 means the source never repeats
    * itself (id-like/generated text); β near 0 means a closed template
    * vocabulary; drift across sources is a contamination smell test,
    * and β feeds tokenizer-vocab sizing (how fast OOV mass shrinks as
    * the corpus grows).
    *
    * Construction: docs rank by id within source; the growth curve is
    * (cumulative tokens, cumulative distinct types) at each rank, with
    * the type count derived from each word's FIRST rank of appearance —
    * one (source, word) min-rank aggregation, the [[zipfReport]] corpus
    * shuffle class. The OLS then runs ONLY on ranks that are powers of
    * two (plus each source's final rank): measurement points double, so
    * the fitted frame is ≤ log2(n_docs)+1 rows per source — bounded at
    * any corpus size, same role topK plays in [[zipfReport]].
    *
    * Determinism: milli-integer logs, truncating-div means, micro-unit
    * centered-sum slope — [[zipfReport]]'s exact integer contract;
    * ln K comes out of the fitted line as `my - (beta·mx) div 10^6`
    * milli-units. Degenerate curves (a single sample point) report
    * nulls, never divide-by-zero.
    *
    * Scale shape: one docs-sized rank window per source, one corpus
    * (source, word) min aggregation, then everything runs on docs-/
    * points-sized frames. The ranked-docs frame feeds two consumers
    * (token curve + first-occurrence agg), so it persists
    * ([[CacheScope]]). */
  def heapsReport(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val wRank = Window.partitionBy(col("source")).orderBy(col("doc"))
    val ranked = CacheScope.persist(df
      .select(col(sourceCol).as("source"), col(idCol).as("doc"),
        split(col(textCol), " ").as("ts"))
      .withColumn("dr", row_number().over(wRank).cast("long"))
      .withColumn("nt", size(col("ts")).cast("long")))
    val wCum = Window.partitionBy(col("source")).orderBy(col("dr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val firstRank = ranked
      .select(col("source"), col("dr"), explode(col("ts")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(min(col("dr")).as("fr"))
    val newTypes = firstRank.groupBy(col("source"), col("fr"))
      .agg(count(lit(1)).as("nw"))
      .select(col("source").as("nsrc"), col("fr"), col("nw"))
    val curve = ranked.select(col("source"), col("dr"), col("nt"))
      .join(newTypes,
        col("source") === col("nsrc") && col("dr") === col("fr"), "left")
      .select(col("source"), col("dr"), col("nt"),
        coalesce(col("nw"), lit(0L)).as("nw"))
      .withColumn("ctok", sum(col("nt")).over(wCum))
      .withColumn("ctyp", sum(col("nw")).over(wCum))
      .withColumn("last_dr",
        max(col("dr")).over(Window.partitionBy(col("source"))))
    val pts = curve
      .filter((col("dr").bitwiseAND(col("dr") - 1) === 0) ||
        col("dr") === col("last_dr"))
      .withColumn("x", round(log(col("ctok")) * 1000).cast("long"))
      .withColumn("y", round(log(col("ctyp")) * 1000).cast("long"))
    val wSrc = Window.partitionBy(col("source"))
    val centered = pts
      .withColumn("n", count(lit(1)).over(wSrc))
      .withColumn("mx", expr("sum(x) over (partition by source) div n"))
      .withColumn("my", expr("sum(y) over (partition by source) div n"))
      .withColumn("cx", col("x") - col("mx"))
      .withColumn("cy", col("y") - col("my"))
    centered.groupBy(col("source"))
      .agg(
        max(col("last_dr")).as("n_docs"),
        max(col("ctok")).as("n_tokens"),
        max(col("ctyp")).as("n_types"),
        count(lit(1)).as("k_points"),
        first(col("mx")).as("mx"),
        first(col("my")).as("my"),
        sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"))
      .withColumn("beta_micro",
        expr("CASE WHEN sxx > 0 THEN sxy * 1000000 div sxx END"))
      .withColumn("ln_k_milli",
        expr("CASE WHEN sxx > 0 THEN my - (sxy * 1000000 div sxx) * mx div 1000000 END"))
      .select("source", "n_docs", "n_tokens", "n_types", "k_points",
        "beta_micro", "ln_k_milli")
  }

  /** Vocabulary coverage curve per source — the tokenizer-design report:
    * for each vocab-size threshold V, what fraction of the source's
    * TOKEN mass the top-V types cover (types ranked by count desc, ties
    * by word). The knee of this curve is where growing the vocabulary
    * stops paying; per-source curves expose sources a shared vocabulary
    * under-serves.
    *
    * DENSE grid: every (source, V) row exists even when a threshold
    * adds no types (coverage saturates at the source's full vocabulary
    * — `n_types_used = min(V, n_types)` makes saturation visible).
    * Coverage is integer micro-units (`covered·10^6 div src_tokens`).
    *
    * Scale shape: the corpus pays ONE (source, word) count aggregation;
    * the rank window, bucket sums, threshold grid, and cumulative
    * roll-up all run on vocab-sized (or |thresholds|-sized) frames. */
  def vocabCoverage(df: DataFrame, textCol: String, sourceCol: String,
      thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    require(thresholds == thresholds.sorted &&
      thresholds.distinct == thresholds && thresholds.head > 0,
      s"thresholds must be strictly increasing positives: $thresholds")
    val counts = df
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val srcStats = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("src_tokens"), count(lit(1)).as("src_types"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("w"))
    // minimal containing threshold per rank (the x116 bucket shape)
    val ranked = counts.withColumn("r", row_number().over(wRank))
      .filter(col("r") <= thresholds.last)
    val bucket = thresholds.reverse.foldLeft(lit(null).cast("int")) {
      (acc, v) => when(col("r") <= v, lit(v)).otherwise(acc)
    }
    val bucketSums = ranked.withColumn("vt", bucket)
      .groupBy(col("source"), col("vt")).agg(sum(col("c")).as("bt"))
    val grid = srcStats.withColumn("v_threshold",
      explode(typedlit(thresholds)))
    val wCum = Window.partitionBy(col("source")).orderBy(col("v_threshold"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketSums,
        grid("source") === bucketSums("source") &&
          grid("v_threshold") === bucketSums("vt"), "left")
      .select(grid("source"), col("v_threshold"), col("src_tokens"),
        col("src_types"), coalesce(col("bt"), lit(0L)).as("bt"))
      .withColumn("tokens_covered", sum(col("bt")).over(wCum))
      .select(col("source"), col("v_threshold").cast("long").as("v_threshold"),
        least(col("v_threshold"), col("src_types")).cast("long")
          .as("n_types_used"),
        col("tokens_covered"),
        expr("tokens_covered * 1000000 div src_tokens").as("coverage_micro"))
  }
}
