package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / split assignment for training-data pipelines.
  *
  * Hash-based assignment (not RNG-based `sample`/`sampleBy`) is the
  * 100 TB-correct primitive: the split of a row depends only on its id,
  * so it is stable under reshuffles, reruns, backfills, and engine
  * changes — and it needs no shuffle at all (pure map-side expression,
  * codegen'd md5 + substring compare).
  */
object Sampling {

  /** 'train'/'holdout' by md5-prefix threshold on the id. The train
    * fraction is ≈ int(trainHexLt, 16) / 16^len (e.g. "cd" → 205/256 ≈
    * 0.80). Portable: DuckDB's md5 produces the identical hex. */
  def hashSplit(df: DataFrame, idCol: String,
      trainHexLt: String = "cd", splitCol: String = "split"): DataFrame = {
    val lt = hexThreshold(trainHexLt)
    df.withColumn(splitCol,
      when(hashKey(col(idCol), lt.length) < lt, "train")
        .otherwise("holdout"))
  }

  /** Keep ≈ hexLt/16^len of rows, deterministically by id. */
  def hashSample(df: DataFrame, idCol: String, hexLt: String): DataFrame = {
    val lt = hexThreshold(hexLt)
    df.filter(hashKey(col(idCol), lt.length) < lt)
  }

  /** Split-leakage audit row: how many near-dup PAIRS straddle splits
    * under a given assignment. `assign` is (id, split); every pair
    * endpoint must resolve (inner joins — near-dup pairs come from the
    * same corpus the assignment covers). Returns ONE row
    * (method, n_pairs, n_cross_split, leak_free) — the quantified form
    * of the Lee et al. ACL'22 §6.2 train-test-overlap argument: a naive
    * id-keyed split leaks ≈ 2·p·(1−p) of near-dup pairs across the
    * boundary; a component-keyed split leaks none. Join shape: the
    * assignment is a narrow (id, split) projection joined on each
    * endpoint — shuffle-joins on id at corpus scale, AQE-broadcasts when
    * the pair set is small. */
  def splitCrossings(pairs: DataFrame, aCol: String, bCol: String,
      assign: DataFrame, idCol: String, splitCol: String,
      method: String): DataFrame = {
    val sa = assign.select(col(idCol).as("__ida"),
      col(splitCol).as("__sa"))
    val sb = assign.select(col(idCol).as("__idb"),
      col(splitCol).as("__sb"))
    pairs.join(sa, col(aCol) === col("__ida"))
      .join(sb, col(bCol) === col("__idb"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
          .as("n_cross_split"))
      .select(lit(method).as("method"), col("n_pairs"),
        col("n_cross_split"), (col("n_cross_split") === 0).as("leak_free"))
  }

  /** LEAKAGE-SAFE split: assign each document the split of its near-dup
    * COMPONENT, not of its own id — so near-duplicates can never straddle
    * train/holdout. Splitting by doc id leaks: a near-duplicate of a
    * holdout document lands in train with probability = the train share,
    * and evaluation scores are inflated by memorized twins (the train/test
    * overlap failure mode measured by Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 §6.2).
    *
    * `components` is a (v, comp) frame as produced by
    * [[Dedup.connectedComponents]] over any near-dup pair generator;
    * documents absent from it (no near-dup edge) are their own singleton
    * component. The join is on the doc id — component frames are dedup
    * outputs, orders of magnitude smaller than the corpus, so AQE
    * broadcasts them when they fit and shuffle-joins on id otherwise; the
    * split itself stays a pure map-side md5 expression on the component
    * label. */
  def leakageSafeSplit(docs: DataFrame, idCol: String,
      components: DataFrame, trainHexLt: String = "cd",
      splitCol: String = "split"): DataFrame = {
    val lt = hexThreshold(trainHexLt)
    docs.join(components, docs(idCol) === components("v"), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("v", "comp")
      .withColumn(splitCol,
        when(hashKey(col("component"), lt.length) < lt, "train")
          .otherwise("holdout"))
  }

  /** Deterministic per-group cap (e.g. at most N docs per source domain —
    * the standard anti-domination step in corpus curation): rank rows
    * within each group by md5(id) and keep the first `n`. The hash order
    * is uniform and reproducible — unlike `ORDER BY id LIMIT n`, it does
    * not bias toward early ids; unlike RNG sampling, reruns keep the
    * SAME rows. One window shuffle on the group key. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Token-BUDGETED per-group selection — [[capPerGroup]]'s budget twin:
    * pretraining mixes are specified in TOKENS, not documents, so the
    * cap that matters is "this source contributes at most B tokens".
    * Within each group, order docs by (priority DESC, id ASC) and keep
    * every doc whose INCLUSIVE running token total fits the budget (the
    * running total is monotone, so the kept set is an order prefix).
    * Exact BIGINT arithmetic; `prioCol`/`tokenCol` must be integral.
    *
    * Scale shape: NO corpus-sized per-group window — groups are sources
    * (low cardinality), so `sum() OVER (PARTITION BY group)` would
    * funnel each source's corpus through one task (the x83 lesson).
    * Threshold decomposition instead:
    *   1. one map-side-combined (group, priority) HISTOGRAM —
    *      groups × distinct-priorities rows;
    *   2. running totals over the HISTOGRAM (window over the bounded
    *      histogram, never the corpus) classify each priority class:
    *      fully kept / the single cutoff class (gets the remaining
    *      budget) / dropped;
    *   3. fully-kept classes join back with no window at all; only the
    *      CUTOFF class resolves its ties by an id-ordered window over
    *      that one (group, priority) slice. Keep priorities
    *      fine-grained: a corpus-sized tie class at the cutoff would
    *      reintroduce the funnel — so the cutoff class's row count is
    *      guarded loudly (`maxTieClass`, default 2^22: sorts in one
    *      task) instead of silently serializing.
    * Contracts (all loud): `prioCol`/`tokenCol` must already be
    * integral — a fractional input fails at declare time instead of
    * being silently truncated. Rows with a null priority or token count
    * are EXCLUDED (they have no place in a token-budget order; the
    * oracle twin filters them the same way).
    * Returns the kept rows: (groupCol, idCol, prioCol, tokenCol). */
  def tokenBudgetCap(df: DataFrame, groupCol: String, idCol: String,
      prioCol: String, tokenCol: String, budget: Long,
      maxTieClass: Long = 1L << 22): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(maxTieClass >= 1, s"maxTieClass must be >= 1, got $maxTieClass")
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    for (c <- Seq(prioCol, tokenCol)) {
      val dt = df.schema(c).dataType
      require(integral.contains(dt),
        s"Sampling.tokenBudgetCap: column '$c' must be integral " +
          s"(BYTE/SHORT/INT/LONG), got ${dt.simpleString} — quantize " +
          "fractional values to BIGINT micro units first")
    }
    val base = df.select(col(groupCol).as("__grp"), col(idCol).as("__id"),
        col(prioCol).cast("long").as("__prio"),
        col(tokenCol).cast("long").as("__tok"))
      .filter(col("__prio").isNotNull && col("__tok").isNotNull)
    val hist = base.groupBy(col("__grp"), col("__prio"))
      .agg(sum(col("__tok")).as("__ptok"), count(lit(1)).as("__pcnt"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp")).orderBy(col("__prio").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val classes = hist
      .withColumn("__before", coalesce(sum(col("__ptok")).over(wH), lit(0L)))
      .filter(col("__before") <= budget)
      .withColumn("__full", col("__before") + col("__ptok") <= budget)
      .withColumn("__rem", lit(budget) - col("__before"))
    val fullKeep = base
      .join(classes.filter(col("__full")).select("__grp", "__prio"),
        Seq("__grp", "__prio"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp"), col("__prio")).orderBy(col("__id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // only the cutoff class gets a row-level window, so only its size
    // can funnel: guard rides __rem (a kept column — pruning can't drop
    // it), one check per cutoff class (one row per group)
    val cutoffClasses = classes.filter(!col("__full"))
      .select(col("__grp"), col("__prio"),
        when(col("__pcnt") > maxTieClass, raise_error(concat(
          lit("Sampling.tokenBudgetCap: cutoff tie class of "),
          col("__pcnt"), lit(s" rows (> maxTieClass $maxTieClass) at "),
          lit("priority "), col("__prio"), lit(" in group '"),
          col("__grp").cast("string"),
          lit("' — a degenerate priority distribution would funnel the " +
            "group through one task; use finer-grained priorities or " +
            "raise maxTieClass deliberately"))).cast("long"))
          .otherwise(col("__rem")).as("__rem"))
    val cutoffKeep = base
      .join(cutoffClasses, Seq("__grp", "__prio"))
      .withColumn("__cum", sum(col("__tok")).over(wC))
      .filter(col("__cum") <= col("__rem"))
      .drop("__cum", "__rem")
    fullKeep.unionByName(cutoffKeep)
      .select(col("__grp").as(groupCol), col("__id").as(idCol),
        col("__prio").as(prioCol), col("__tok").as(tokenCol))
  }

  /** EXACT stratified split — [[hashSplit]]'s exact-proportions twin:
    * per group, EXACTLY floor(fracMicro·n_g / 10⁶) rows land in
    * 'train', the rest in 'holdout'. The x22 rule is per-row
    * independent (probabilistic), so a 5% holdout of a small stratum
    * can be empty or 3× the target; contractual eval holdouts need
    * exact counts. Deterministic and rerun-stable: membership follows
    * the (md5(id), id) order — a pure function of the corpus, like
    * every hash rule here.
    *
    * Scale shape: NO per-group corpus window (the x83 funnel; the
    * x155/x157 threshold-decomposition discipline). The md5 BUCKET
    * (first `bucketChars` hex chars — a PREFIX of the sort key, so
    * bucket order IS coarse rank order) gives a (group, bucket)
    * histogram; cumulative windows over the HISTOGRAM classify buckets
    * fully-train / fully-holdout; only the single straddling bucket
    * resolves by a (hash, id) window over that one slice (expected
    * group/16^bucketChars rows — size `bucketChars` so that fits one
    * task; the straddling class is guarded by `maxTieClass` like the
    * sibling decompositions). Returns (groupCol, idCol, split). */
  def stratifiedSplit(df: DataFrame, groupCol: String, idCol: String,
      fracMicro: Long, bucketChars: Int = 2,
      maxTieClass: Long = 1L << 22): DataFrame = {
    require(fracMicro >= 0L && fracMicro <= 1000000L,
      s"fracMicro must be in [0, 1000000], got $fracMicro")
    require(bucketChars >= 1 && bucketChars <= 8,
      s"bucketChars must be in 1..8, got $bucketChars")
    require(maxTieClass >= 1, s"maxTieClass must be >= 1, got $maxTieClass")
    val base = df.select(col(groupCol).as("__grp"), col(idCol).as("__id"),
        md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__b", substring(col("__h"), 1, bucketChars))
    val hist = base.groupBy(col("__grp"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sizes = hist.groupBy(col("__grp")).agg(sum(col("__c")).as("__n"))
    val classes = hist.join(sizes, Seq("__grp"))
      .withColumn("__before", coalesce(sum(col("__c")).over(wH), lit(0L)))
      .withColumn("__ntrain", expr(s"__n * ${fracMicro}L div 1000000"))
    val fullTrain = base
      .join(classes.filter(col("__before") + col("__c") <= col("__ntrain"))
        .select("__grp", "__b"), Seq("__grp", "__b"))
      .withColumn("split", lit("train"))
    val fullHold = base
      .join(classes.filter(col("__before") >= col("__ntrain"))
        .select("__grp", "__b"), Seq("__grp", "__b"))
      .withColumn("split", lit("holdout"))
    // the one straddling bucket per group: 0 < rem < __c by
    // construction; the guard rides __rem (kept) so pruning can't
    // silently drop it
    val straddle = classes
      .filter(col("__before") < col("__ntrain") &&
        col("__before") + col("__c") > col("__ntrain"))
      .select(col("__grp"), col("__b"),
        when(col("__c") > maxTieClass, raise_error(concat(
          lit("Sampling.stratifiedSplit: straddling bucket of "),
          col("__c"), lit(s" rows (> maxTieClass $maxTieClass) in group '"),
          col("__grp").cast("string"),
          lit("' — raise bucketChars (finer buckets) or maxTieClass " +
            "deliberately"))).cast("long"))
          .otherwise(col("__ntrain") - col("__before")).as("__rem"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp"), col("__b"))
      .orderBy(col("__h"), col("__id"))
    val stradRows = base.join(straddle, Seq("__grp", "__b"))
      .withColumn("split",
        when(row_number().over(wS).cast("long") <= col("__rem"),
          lit("train")).otherwise(lit("holdout")))
    fullTrain.unionByName(fullHold)
      .unionByName(stradRows.drop("__rem"))
      .select(col("__grp").as(groupCol), col("__id").as(idCol),
        col("split"))
  }

  /** SEMANTIC diversity cap — [[capPerGroup]]'s embedding-space twin:
    * downsample over-dense regions of embedding space instead of
    * over-represented source domains. Each vector is assigned a cell by
    * the signs of `cellBits` md5-seeded random projections (Charikar
    * STOC'02, the [[Dedup.embeddingLshPairs]] hyperplane machinery —
    * engine-neutral, so an oracle can replay cells exactly), then at
    * most `n` rows per cell survive, chosen by md5-rank of the id.
    *
    * This is the sampling-side complement of SemDeDup-style pruning: no
    * pair graph, no dedup semantics — just "no embedding neighborhood
    * dominates the mix", rerun/backfill-stable like every hash rule
    * here. Cell assignment is a pure map-side expression (`cellBits`
    * codegen'd dot products against ±1 literal hyperplanes — zero
    * shuffle); the only exchange is [[capPerGroup]]'s window on the
    * cell key. 2^cellBits cells: size the bits so corpus/2^bits rows
    * per cell sort comfortably in one task at the target scale. */
  def semanticCellCap(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, cellBits: Int, n: Int,
      cellCol: String = "cell"): DataFrame = {
    require(cellBits > 0 && cellBits <= 24, s"bad cellBits $cellBits")
    require(!df.columns.contains(cellCol),
      s"input already has a '$cellCol' column — rename or drop first")
    val signs = Dedup.srpSigns(cellBits, dim)
    // one SrpBandKeys pass (a single cellBits-bit "band"), identical
    // bit arithmetic to the former round(dot)>=0 chain. NULL CONTRACT
    // preserved explicitly: the old when-chain folded a null vector to
    // all-zero bits (null dot → null >= 0 → otherwise-'0'), binning
    // null-embedding rows into the zero cell; SrpBandKeys is
    // Catalyst-null-propagating, so coalesce restores that cell —
    // without it, null rows would form their own null cell with an
    // independent cap and diverge from the oracle's CASE...ELSE '0'.
    capPerGroup(df.withColumn(cellCol,
      coalesce(element_at(graft.expressions.VectorExpressions.srpBandKeys(
          col(vecCol), signs, numBands = 1, bits = cellBits,
          stride = cellBits), 1),
        lit("0" * cellBits))), cellCol, idCol, n)
  }

  /** Deterministic context-window packing: assign documents to training
    * bins of ≈ `budget` tokens by cumulative fill in id order — the
    * sequence-packing prep step (docs later concatenated per bin).
    * bin = floor(exclusive-prefix-sum(tokens) / budget): a doc that
    * straddles a boundary spills into the next bin, so every bin's
    * *start* is aligned and assignment depends only on (shard, id) —
    * rerun/backfill-stable like everything else here.
    *
    * Scale: a single global ORDER BY window would serialize on one
    * partition, so packing runs within `shards` hash shards of the id
    * (window partitioned by shard). Bins are (shard, bin) pairs —
    * global coordination is pointless for packing, shards pack
    * independently on a cluster. */
  def packByTokenBudget(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long, shards: Int = 64): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    // output columns are 'shard'/'bin' ('__shard' internal): a pre-existing
    // column of any of those names would be silently overwritten or become
    // ambiguous after the rename — fail at declare time instead
    val clash = df.columns.toSeq.intersect(Seq("shard", "bin", "__shard"))
    require(clash.isEmpty,
      s"packByTokenBudget emits 'shard'/'bin' (and '__shard' internally); " +
        s"input already has: ${clash.mkString(", ")} — rename or drop first")
    // try_cast (not cast): ANSI mode would throw a generic CAST_INVALID_INPUT
    // mid-job; the raise_error below names the operator and the offending id
    val idLong = expr(s"try_cast(`$idCol` AS BIGINT)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // a null/non-castable id would hash to a single null shard (packing
    // silently serializes) — raise per-row instead of mis-assigning
    df.withColumn("__shard",
        when(idLong.isNull, raise_error(concat(
          lit(s"packByTokenBudget: $idCol value '"),
          coalesce(col(idCol).cast("string"), lit("NULL")),
          lit("' does not cast to a non-null long"))).cast("long"))
          .otherwise(pmod(idLong, lit(shards))))
      .withColumn("bin",
        floor(coalesce(sum(col(tokenCol)).over(w), lit(0L)) / budget))
      .withColumnRenamed("__shard", "shard")
  }

  /** Boundary manifest over [[packByTokenBudget]]'s bins — the
    * attention-mask metadata a sequence packer materializes when bins
    * are concatenated into fixed training windows (T5's pack-with-
    * sentinels, GPT-style document packing): for every document, its
    * position and [offset, end) token span within its (shard, bin)
    * sequence, plus the bin's total fill and doc count. Each bin is a
    * fresh sequence (its first doc starts at offset 0); a boundary-
    * straddling doc stays in the bin its start falls in, so `fill` may
    * exceed `budget` by at most one document (x35's spill rule).
    *
    * Scale: inherits packByTokenBudget's shard-partitioned windows —
    * the added offset/position windows partition by (shard, bin),
    * strictly finer than the assignment window, so no new skew class;
    * bin totals ride the same partition-bounded frame (no join). */
  def packManifest(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long, shards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = packByTokenBudget(df, idCol, tokenCol, budget, shards)
    val wOrd = Window.partitionBy(col("shard"), col("bin"))
      .orderBy(col(idCol))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("shard"), col("bin"))
    packed
      .withColumn("pos_in_bin", row_number().over(wOrd).cast("long"))
      .withColumn("offset",
        coalesce(sum(col(tokenCol)).over(wPrev), lit(0L)))
      .withColumn("end_offset", col("offset") + col(tokenCol))
      .withColumn("bin_docs", count(lit(1)).over(wAll))
      .withColumn("bin_fill", sum(col(tokenCol)).over(wAll))
  }

  /** Deterministic weighted sampling without replacement, k per group
    * (Efraimidis & Spirakis, IPL 2006): each row draws a reproducible
    * uniform u from md5(id) and is ranked by key = -ln(u)/w — keeping
    * the k smallest keys per group selects with probability proportional
    * to weight, without replacement. Unlike RNG `sampleBy`, reruns and
    * backfills keep the SAME rows (the draw depends only on the id), and
    * heavier rows (e.g. token-richer documents) win proportionally.
    *
    * Scale shape: the key is a pure map-side expression (codegen'd md5 +
    * one ln); the only shuffle is the per-group top-k window. The
    * 12-hex-digit draw is 48 bits — exact in double for both this
    * engine and a SQL oracle; the key is rounded so cross-engine ln ulp
    * noise cannot flip ranks, ties break by id. Rows with
    * non-positive weight are excluded (they have zero sampling mass), as
    * are NULL ids (no identity → no deterministic draw; a NULL key would
    * also sort nulls-first here but nulls-last in ANSI engines). */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    // working columns would silently overwrite (then drop) caller columns
    // of the same name — same guard as packByTokenBudget
    val clash = df.columns.toSeq.intersect(Seq("__wkey", "__rk"))
    require(clash.isEmpty,
      s"weightedSamplePerGroup uses ${clash.mkString(", ")} internally — " +
        "rename or drop those input columns first")
    val hexMax = math.pow(16, 12) // 2^48, exact in double
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("double") + 1.0) / (hexMax + 1.0) // in (0, 1]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__wkey"), col(idCol))
    df.filter(col(weightCol) > 0 && col(idCol).isNotNull)
      .withColumn("__wkey", round(-log(u) / col(weightCol), 8))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__wkey", "__rk")
  }

  /** Temperature-based resampling across groups (the multilingual /
    * multi-source training-mix rule: sampling weight ∝ n_s^(1/T), T < 1
    * upsamples small groups, T = 1 is proportional): compute each
    * group's quota = ceil(budget · w_s / Σw) and keep that many rows by
    * deterministic md5-rank. Reruns keep the same rows; output size is
    * budget + O(#groups) ceil slack; a quota above a group's size keeps
    * the whole group (small-group upsampling beyond 1x is a repeat-at-
    * read-time concern, not a selection one).
    *
    * Determinism across engines: group weights are rounded then summed
    * as exact decimals, so the quota division sees identical inputs
    * regardless of summation order. Scale shape: one count aggregation,
    * a broadcast quota table, one rank window per group. */
  def temperatureResample(df: DataFrame, groupCol: String, idCol: String,
      temperature: Double, budget: Long): DataFrame = {
    require(temperature > 0 && budget > 0, "temperature and budget must be positive")
    // the quota join adds 'quota' and the rank adds '__rk' to the caller's
    // frame — same declare-time clash guard as the sibling samplers
    val clash = df.columns.toSeq.intersect(Seq("__rk", "quota"))
    require(clash.isEmpty,
      s"temperatureResample uses ${clash.mkString(", ")} internally — " +
        "rename or drop those input columns first")
    val w6 = round(pow(col("n_s").cast("double"), lit(1.0 / temperature)), 6)
      .cast("decimal(28,6)")
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w6", w6)
    val tot = weights.agg(sum(col("w6")).as("w_tot"))
    val quotas = weights.crossJoin(broadcast(tot))
      .withColumn("quota", ceil(lit(budget.toDouble) *
        col("w6").cast("double") / col("w_tot").cast("double")))
      .select(col(groupCol), col("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(quotas), groupCol)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("quota"))
      .drop("__rk", "quota")
  }

  /** Size-balanced output sharding — the last mile of a curation run:
    * assign each doc to one of `numShards` output files so shard sizes
    * come out even. Round-robin over the size-descending rank (the
    * classic LPT greedy's SQL-expressible cousin): the S largest docs
    * land on S different shards, the next S likewise, so no shard can
    * exceed another by more than one doc per round. Deterministic total
    * order (size desc, then id).
    *
    * The global rank is computed as a DISTRIBUTED two-phase rank, not a
    * single-partition window: `repartitionByRange` on the sort key gives
    * globally ordered partition ranges, a partition-local sort + per-row
    * index gives the rank WITHIN each range, and the bounded per-partition
    * row counts (≤ shuffle-partitions rows, collected as index metadata)
    * become broadcast cumulative offsets. No `WindowExec` with an empty
    * partitionSpec ever appears — at 100 TB every partition ranks its own
    * range in parallel, vs the naive `row_number() OVER (ORDER BY ...)`
    * that funnels the whole corpus through one task.
    *
    * Only the NARROW (id, size) projection goes through the rank
    * machinery — the `localCheckpoint` that pins the range sampler's
    * boundaries and per-row ids across the offset job and the emit job
    * materializes two columns, not the corpus (a full-row checkpoint of
    * a text table measured 2.3x the whole query). The resulting
    * (id, shard) assignment joins back to the input on the id — which
    * therefore MUST be unique and non-null; both are validated up front
    * (duplicates would multiply rows, nulls would silently drop) — one
    * corpus-width shuffle, the same order of IO as the global sort
    * it replaces, but spread over every task instead of one. Hash
    * sharding (`pmod(hash(id), S)`) stays the zero-sort alternative
    * when ±a few percent skew is acceptable (and tolerates duplicate
    * ids). `reliableCheckpoint = true` swaps the executor-local pin for
    * the caller-configured `setCheckpointDir` storage on long-lived
    * clusters. */
  def shardBySize(df: DataFrame, idCol: String, sizeCol: String,
      numShards: Int, shardCol: String = "shard",
      reliableCheckpoint: Boolean = false): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    require(!df.columns.contains(shardCol),
      s"shardBySize writes '$shardCol' which already exists on the input")
    require(!df.columns.contains("__sid"),
      "shardBySize uses __sid internally — rename or drop that input column first")
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    // phase 1: range-partition the narrow projection so partition i holds
    // rank-contiguous rows (desc ordering → partition 0 = largest sizes),
    // sort each partition, then stamp a per-partition row index.
    // spark_partition_id and monotonically_increasing_id are
    // nondeterministic expressions, so Catalyst will not reorder them
    // across the sort; the checkpoint then pins their values for both
    // downstream jobs.
    //
    // localCheckpoint blocks are EXECUTOR-LOCAL (not fault-tolerant): an
    // executor loss between the offset job and the emit job kills the
    // query — fine in local mode and for restartable batch jobs. On a
    // long-lived cluster pass reliableCheckpoint = true: the pin goes
    // through sc.setCheckpointDir's reliable storage instead (the
    // connectedComponents-documented fault-tolerant variant; the caller
    // must have called spark.sparkContext.setCheckpointDir).
    val staged = df
      .select(col(idCol).as("__sid"), col(sizeCol).as("__ssz"))
      .repartitionByRange(nPart, col("__ssz").desc, col("__sid"))
      .sortWithinPartitions(col("__ssz").desc, col("__sid"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    val ranked =
      if (reliableCheckpoint) staged.checkpoint() else staged.localCheckpoint()
    // uniqueness/null guard: a DUPLICATE id would multiply its rows
    // through the assignment join below (one output row per matching
    // assignment), and a NULL id would silently vanish (null === null
    // is null) — both are caller data bugs; fail loudly instead of
    // corrupting output. One id-width hash agg over the narrow
    // checkpointed projection (same cost class as the rank machinery
    // itself); hash sharding remains the guard-free alternative.
    val bad = ranked.groupBy(col("__sid"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__sid").isNull || col("__n") > 1)
      .limit(1).collect()
    if (bad.nonEmpty) {
      val r = bad.head
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        s"shardBySize: id column '$idCol' contains nulls, which the " +
          "assignment join would silently drop — filter or fill them first")
      else throw new IllegalArgumentException(
        s"shardBySize: id column '$idCol' is not unique (id ${r.get(0)} " +
          s"appears ${r.getLong(1)} times), which the assignment join " +
          "would multiply — deduplicate first, or use hash sharding " +
          "(pmod(hash(id), S)) which tolerates duplicates")
    }
    // phase 2: per-partition (count, first-id) — bounded by nPart rows,
    // driver-held index metadata like the IVF centroid tables
    val partStats = ranked.groupBy(col("__pid"))
      .agg(count(lit(1)).as("n"), min(col("__mid")).as("base"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var acc = 0L
    val offsetRows = partStats.toSeq.map { case (pid, n, base) =>
      val off = acc; acc += n; (pid, base, off)
    }
    import spark.implicits._
    val offsets = offsetRows.toDF("__pid", "__base", "__off")
    // 0-based global rank = partition offset + local index; shard = rank % S.
    // The assignment keeps the size value it already ranked on, so a
    // caller whose sizeCol is a computed expression (token counts over
    // text) never pays for it a second time on the corpus-width probe
    // side — the probe reads every ORIGINAL column except sizeCol.
    val assign = ranked.join(broadcast(offsets), "__pid")
      .select(col("__sid"), col("__ssz"),
        (((col("__off") + (col("__mid") - col("__base"))) % numShards)
          .cast("long")).as(shardCol))
    val probe = df.drop(sizeCol)
    val joined = probe.join(assign, probe(idCol) === assign("__sid"))
    // restore the caller's column order: original schema, then shardCol
    joined.select(df.columns.map {
      case c if c == sizeCol => col("__ssz").as(sizeCol)
      case c => probe(c)
    }.toSeq :+ col(shardCol): _*)
  }

  /** md5 emits LOWERCASE hex and the comparison is lexicographic, so an
    * uppercase threshold ('CD' < any lowercase letter) would silently
    * shift the fraction — normalize and validate. */

  private def hexThreshold(t: String): String = {
    val lt = t.toLowerCase
    require(lt.nonEmpty && lt.forall(c => c.isDigit || (c >= 'a' && c <= 'f')),
      s"threshold must be hex, got '$t'")
    lt
  }

  private def hashKey(id: Column, len: Int): Column =
    substring(md5(id.cast("string")), 1, len)
}
