package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (Muthitacharoen, Mazières & Chen, "A
  * low-bandwidth network file system", SOSP 2001 — the LBFS boundary
  * rule behind every dedup store since): cut each document where a
  * rolling window hash hits a fixed residue, so chunk boundaries are a
  * function of CONTENT, not position. Insert one character at the
  * front of a near-copy and fixed-size chunks all shift and nothing
  * matches; content-defined chunks re-synchronize at the first
  * boundary after the edit, and every later chunk hash matches again —
  * the shift-robust dedup signal doc-level hashes (x01) and fixed
  * windows cannot give.
  *
  * Boundary rule (engine-portable BIGINT arithmetic, no rolling state):
  * position i (1-based, i >= w) ends a chunk iff
  *   (Σ_{j=0..w-1} code(char at i−w+1+j) · 31^{w−1−j} mod 2^20) mod
  *     (mask+1) == 0
  * — the classic polynomial window hash with literal precomputed
  * powers, so a SQL oracle replays it verbatim. Documents shorter than
  * `w` (or with no boundary) are one chunk. Chunks partition the text
  * losslessly (CdcSpec reassembles originals).
  *
  * Scale shape: boundary detection, span splitting, and chunk hashing
  * are per-row array expressions (O(len·w) work per doc) — heavy CPU on
  * a NARROW stage, so parallelism is capped by the scan's split count:
  * at warehouse scale splits >> cores and the pass is zero-shuffle; a
  * small-file layout (splits < cores) would serialize it, so
  * [[chunkHashes]] spreads such scans to defaultParallelism first (the
  * branch never fires on corpus-scale inputs). The only other exchanges
  * are the chunk-hash frequency aggregation and the hash-keyed join
  * back — chunk-sized rows, never full texts, cross the wire.
  *
  * Input constraint (enforced loudly in [[chunkHashes]]): text must be
  * BMP-only. Spark's ascii() yields UTF-16 code units and a SQL
  * engine's ascii() yields code points; the two agree on every BMP
  * character and diverge on astral ones, which would silently desync
  * the boundary hash between engines. */
object Cdc {

  private val Mod = 1L << 20

  private def powers(w: Int): Seq[Long] =
    (0 until w).map(j =>
      (0 until (w - 1 - j)).foldLeft(1L)((a, _) => a * 31 % Mod))

  /** One row per chunk: (doc_id, chunk_idx, chunk_len, chunk_hash) —
    * chunk_hash = md5 of the chunk text, chunk_idx 0-based in document
    * order. Null/empty texts yield no rows. */
  def chunkHashes(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, mask: Int = 63): DataFrame = {
    require(w >= 2 && w <= 64, s"window $w outside 2..64")
    require(mask >= 1 && (mask & (mask + 1)) == 0,
      s"mask $mask must be 2^k - 1")
    val txt = col("__text")
    // spans: starts = 1 :: (bnds + 1), ends = bnds :: len; a boundary at
    // the final position would open an empty trailing span — filtered
    val spans = filter(
      zip_with(
        concat(array(lit(1)), transform(col("__bnds"), b => b + 1)),
        concat(col("__bnds"), array(length(txt))),
        (s, e) => struct(s.as("s"), e.as("e"))),
      sp => sp.getField("e") >= sp.getField("s"))
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .filter(col("__text").isNotNull && length(col("__text")) >= 1)
    // Small-split guard: the boundary scan is O(len·w) interpreted-HOF
    // work per row — heavy CPU on a NARROW stage, so its parallelism is
    // capped by the scan's split count, not by cores. A small-file
    // layout (one 600 KB parquet = one split) would serialize the whole
    // corpus's chunking on one core (measured 31 s single-task vs ~1.5 s
    // spread at sf0.1). Corpus-scale inputs have thousands of splits and
    // never take this branch — shuffling corpus text is exactly what
    // this operator's zero-shuffle design avoids at 100 TB.
    val para = df.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (base.rdd.getNumPartitions < para) base.repartition(para)
      else base
    spread
      // Engine-portability guard: Spark's ascii() returns the first
      // UTF-16 code UNIT (a high surrogate for non-BMP chars) while the
      // SQL oracle's ascii() returns the full code POINT, so an astral
      // character would silently desync the boundary hash between
      // engines. length()/substr() are code-point-aligned in both, so
      // BMP text is exactly portable — enforce the constraint loudly
      // (one regex pass per doc) instead of documenting it away.
      .withColumn("__text",
        when(col("__text").rlike("[\\x{10000}-\\x{10FFFF}]"),
          raise_error(concat(
            lit("Cdc: non-BMP (astral) character in doc "),
            col("doc_id").cast("string"),
            lit(" — ascii() code-unit/code-point divergence would " +
              "desync the boundary hash from the SQL oracle; strip or " +
              "replace astral characters first"))).cast("string"))
        .otherwise(col("__text")))
      .withColumn("__bnds", boundaryColumn(col("__text"), w, mask))
      .select(col("doc_id"), col("__text"),
        posexplode(spans).as(Seq("chunk_idx", "sp")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("chunk_len"),
        md5(col("__text").substr(col("sp.s"),
          col("sp.e") - col("sp.s") + 1)).as("chunk_hash"))
  }

  /** Per-document chunk-dedup report: (doc_id, n_chunks, n_dup_chunks,
    * dup_ratio_micro) — a chunk is DUP if its hash occurs >= 2 times
    * across the whole corpus (within- or cross-document). High
    * dup_ratio on a doc whose doc-level hash is unique is exactly the
    * shifted/partial near-copy x01 cannot see. */
  def dupChunkReport(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, mask: Int = 63): DataFrame = {
    // persisted: the global frequency agg and the join probe both read
    // the chunk stream; unpersisted, every text re-chunks twice
    val chunks = CacheScope.persist(
      chunkHashes(df, idCol, textCol, w, mask))
    val freq = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("__cnt"))
    chunks.join(freq, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__cnt") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        expr("n_dup_chunks * 1000000 div n_chunks").as("dup_ratio_micro"))
  }

  /** Banded postings for the incremental-dedup ledger core
    * ([[Dedup.ledgerStep]]): one (doc, band = 0, key = chunk_hash) row
    * per DISTINCT qualifying chunk — content-defined chunk hashes as
    * the incremental signature, completing the doc-hash (x50) /
    * embedding (x56) / chunk (x160) signature matrix. Chunks shorter
    * than `minChunkLen` (tail stubs and close-boundary slivers; the
    * expected chunk length is mask+1) carry too little content to
    * witness duplication and emit no posting — a doc with no qualifying
    * chunk is "no similarity evidence" and the ledger core keeps it
    * with the band = -1 sentinel. band is the constant 0 because chunk
    * evidence is position-INDEPENDENT — that is the shift-robust point.
    * Within-doc repeats are collapsed here (one exchange on a
    * chunk-sized frame) so repeated boilerplate inside one doc doesn't
    * bloat the append-only ledger. */
  def chunkPostings(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, mask: Int = 63, minChunkLen: Int = 32): DataFrame =
    chunkHashes(df, idCol, textCol, w, mask)
      .filter(col("chunk_len") >= minChunkLen)
      .select(col("doc_id").as("doc"), lit(0).as("band"),
        col("chunk_hash").as("key"))
      .dropDuplicates("doc", "key")

  /** One step of INCREMENTAL CDC dedup — [[Dedup.dedupBatchLedger]]'s
    * chunk-signature twin: a new-batch doc is DROPPED iff it shares any
    * qualifying content chunk with a historical KEPT doc or a
    * smaller-id doc of the same batch (the deterministic bucket-min
    * survivor rule of the shared core). Where the doc-hash ledger is
    * blind to a one-character prefix edit, the chunk ledger
    * re-synchronizes at the first boundary after the edit and still
    * sees every later chunk — incremental dedup that catches shifted
    * and partial near-copies. Ledger schema, consumer views, and
    * [[Dedup.compactLedger]] are identical to x50's (LedgerInvariantsSpec
    * sweeps the shape). */
  def cdcDedupBatchLedger(batch: DataFrame, keptPostings: DataFrame,
      idCol: String, textCol: String, w: Int = 16, mask: Int = 63,
      minChunkLen: Int = 32): DataFrame =
    Dedup.ledgerStep(batch.select(col(idCol).as("doc")),
      chunkPostings(batch, idCol, textCol, w, mask, minChunkLen),
      keptPostings)

  /** Exposed for spec/oracle parity checks. */
  private[operators] def powersFor(w: Int): Seq[Long] = powers(w)

  /** The boundary scan — the native rolling-hash expression
    * ([[graft.expressions.CdcBoundaries]], O(len) per row); the HOF
    * twin below states the same rule declaratively and pins the
    * native expression's semantics in CdcSpec. */
  private[graft] def boundaryColumn(txt: Column, w: Int, mask: Int)
      : Column =
    graft.expressions.TextExpressions.cdcBoundaries(txt, w, mask)

  /** Declarative HOF twin of [[boundaryColumn]] — O(len·w) interpreted,
    * kept as the executable specification the native expression is
    * proved equal to (and the form the DuckDB oracle replays). */
  private[graft] def boundaryColumnHof(txt: Column, w: Int, mask: Int)
      : Column = {
    val p = typedlit(powers(w))
    when(length(txt) >= w,
      filter(sequence(lit(w), length(txt)), i =>
        aggregate(
          transform(sequence(lit(0), lit(w - 1)), j =>
            ascii(txt.substr(i - lit(w) + 1 + j, lit(1))) *
              element_at(p, j + 1)),
          lit(0L), (acc, x) => acc + x) % Mod % (mask + 1) === 0))
      .otherwise(array().cast("array<int>"))
  }
}
