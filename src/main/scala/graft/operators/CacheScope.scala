package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Deterministic cache-residency for operators that persist internal
  * relations their RETURNED plan still reads (postings indexes, bigram
  * streams, inverted indexes): the persist cannot be dropped before the
  * caller's terminal action, so by default it lives until the
  * ContextCleaner or a `spark.catalog.clearCache()` reclaims it — fine
  * for job-scoped runs, an accumulating leak in a long-lived session
  * driving many pipeline stages.
  *
  * A CacheScope makes the hand-off explicit: operators route internal
  * `persist()` calls through [[persist]], the caller runs its action,
  * then [[release]] (or the bracketing [[CacheScope.withScope]])
  * unpersists exactly the relations this scope acquired — blocking, via
  * the Dataset API, so the CacheManager entry AND the storage blocks are
  * both gone, and nothing else the session cached is touched (unlike
  * `clearCache()`).
  *
  * {{{
  * val out = CacheScope.withScope { sc =>
  *   LmScore.bigramNll(docs, "doc_id", "text", scope = Some(sc))
  *     .collect()                     // action runs while caches live
  * }                                  // scope released here
  * }}}
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

  /** Bracket: run `body` with a fresh scope, always release on the way
    * out (success or failure). The body must CONSUME its plans (run the
    * action) before returning — a lazily returned DataFrame would read
    * already-unpersisted inputs and silently recompute them. */
  def withScope[T](body: CacheScope => T): T = {
    val s = new CacheScope
    try body(s) finally s.release()
  }

  /** Routing helper for operators with an `Option[CacheScope]` knob:
    * scoped persist when a scope is supplied, session-lifetime persist
    * (the documented legacy trade) when not. */
  private[operators] def route(scope: Option[CacheScope], df: DataFrame): DataFrame =
    scope match {
      case Some(s) => s.persist(df)
      case None => df.persist()
    }

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
