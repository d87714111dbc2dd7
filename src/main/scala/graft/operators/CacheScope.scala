package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The one cache-lifetime rule for operator internals. Operators persist
  * internal relations their RETURNED plan still reads (postings indexes,
  * bigram streams, inverted indexes), so the persist cannot be dropped
  * before the caller's terminal action. Every such persist goes through
  * [[CacheScope.persist]], and its lifetime is a property of the
  * caller's block, not an operator parameter:
  *   - outside any [[CacheScope.withScope]] block it is a plain
  *     `df.persist()`, living until the ContextCleaner or a
  *     `spark.catalog.clearCache()` reclaims it — fine for job-scoped
  *     runs, an accumulating leak in a long-lived session;
  *   - inside a block it is tracked by that block's scope and
  *     blocking-unpersisted when the block exits (success or failure), so
  *     the CacheManager entry AND the storage blocks are both gone, and
  *     nothing else the session cached is touched (unlike `clearCache()`).
  *
  * A scope covers only the thread that opened it: an operator built on
  * another thread while the block is open persists as if no block were
  * open. Blocks nest: the inner block owns the persists made inside it,
  * releases them on exit and restores the outer scope. The streaming
  * ledger runner opens one block per microbatch around its partial and
  * append, so a ledger step's internal persists end with the batch.
  *
  * {{{
  * val out = CacheScope.withScope { _ =>
  *   LmScore.bigramNll(docs, "doc_id", "text")
  *     .collect()                     // action runs while caches live
  * }                                  // scope released here
  * }}}
  *
  * The few transients an operator unpersists itself before returning
  * (k-means training rows, a greedy-selection pool) stay plain
  * `persist()`/`unpersist()` pairs.
  */
final class CacheScope {

  private val acquired = mutable.Buffer.empty[DataFrame]

  /** Persist `df` (operator-chosen default level) and track it for
    * [[release]]. Returns the persisted frame. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    acquired += p
    p
  }

  /** Number of relations currently tracked (not yet released). */
  def trackedCount: Int = synchronized(acquired.size)

  /** Blocking-unpersist every relation this scope acquired, most recent
    * first (dependents before their inputs). Idempotent. */
  def release(): Unit = synchronized {
    acquired.reverseIterator.foreach(_.unpersist(blocking = true))
    acquired.clear()
  }
}

object CacheScope {

  private val current = new ThreadLocal[CacheScope]

  /** Bracket: run `body` with a fresh scope open on this thread, always
    * release on the way out (success or failure) and restore the scope
    * that was open before. The body must CONSUME its plans (run the
    * action) before returning — a lazily returned DataFrame would read
    * already-unpersisted inputs and silently recompute them. */
  def withScope[T](body: CacheScope => T): T = {
    val outer = current.get
    val s = new CacheScope
    current.set(s)
    try body(s)
    finally {
      current.set(outer)
      s.release()
    }
  }

  /** Persist an operator-internal relation: tracked by this thread's
    * innermost open [[withScope]] block, a plain session-lifetime
    * `persist()` when none is open. */
  private[operators] def persist(df: DataFrame): DataFrame =
    Option(current.get).fold(df.persist())(_.persist(df))

  /** Drop the blocks of a `localCheckpoint`ed frame (and of any other
    * checkpoint it reads) once nothing reads it. Left alone, the blocks
    * stay until a GC lets the ContextCleaner free them — at an arbitrary
    * later point, possibly inside another pipeline stage's
    * [[cachedBlockCount]] bracket. A frame that reads a released
    * checkpoint fails, so release only what no live plan still reads. */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Count of CACHED storage blocks currently materialized in the
    * session — the observable a residency spec asserts returns to its
    * baseline after [[release]]. */
  def cachedBlockCount(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.count(_.isCached)
}
