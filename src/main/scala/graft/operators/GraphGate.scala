package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The local-vs-distributed gate of the iterative graph operators
  * ([[Dedup.connectedComponents]], [[PageRank.ranks]]). At audit scale a
  * graph is a few 10⁴–10⁵ edges, where the distributed rounds' wall cost
  * is pure per-round job latency; both operators' contracts are exactly
  * replicable on the driver, so up to a cap one bounded collect and a
  * driver-local loop give the IDENTICAL result, and the distributed
  * rounds stay the scale path. A null id names no vertex on either side.
  * The local side runs no rounds, so a round cap (CC's `maxRounds`) does
  * not apply there. Driver memory is bounded by the edge cap — two longs
  * per edge, the kppSeeds/BPE-head bounded-collect class. */
private[operators] object GraphGate {

  /** A bounded edge list on the driver: edge `i` joins `ids(src(i))` and
    * `ids(dst(i))`; vertex indices are dense, in first-seen order. */
  final class LocalGraph(val ids: Array[Long], val src: Array[Int],
      val dst: Array[Int])

  /** `df`'s id pairs as (src, dst) without null endpoints, materialized
    * by an eager `localCheckpoint` — an un-persisted pair GENERATOR (LSH
    * chains, shingle joins) would otherwise run once per read. The
    * caller releases it ([[CacheScope.releaseCheckpoint]]) once nothing
    * reads it; [[local]] does so itself when it takes the local branch. */
  def edges(df: DataFrame, srcCol: String, dstCol: String): DataFrame =
    df.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()

  /** The driver-local graph when `edges` (from [[edges]]) has LongType ids
    * and at most `localMaxEdges` rows, else None (run the rounds). The
    * count stops at cap + 1 rows; `limit` takes an Int, so the cap is
    * clamped first — a cap ≥ `Int.MaxValue` would otherwise wrap to a
    * negative (analysis error) or tiny (everything local) limit. */
  def local(edges: DataFrame, localMaxEdges: Long): Option[LocalGraph] = {
    val limit = math.min(math.max(localMaxEdges, 0L), Int.MaxValue - 1L)
    if (!edges.schema.fields.forall(_.dataType == LongType) ||
        edges.limit(limit.toInt + 1).count() > localMaxEdges) None
    else {
      val pairs = edges.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      CacheScope.releaseCheckpoint(edges)
      val idx = new java.util.HashMap[Long, Integer]()
      val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      def node(v: Long): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue
        else { val i = ids.length; idx.put(v, i); ids += v; i }
      }
      val src = new Array[Int](pairs.length)
      val dst = new Array[Int](pairs.length)
      for (i <- pairs.indices) {
        src(i) = node(pairs(i)._1); dst(i) = node(pairs(i)._2)
      }
      Some(new LocalGraph(ids.toArray, src, dst))
    }
  }

  /** Broadcast the per-vertex tables (CC's mins, PageRank's ranks) into the
    * round joins when `vertices <= broadcastMax`, so the edge table, the
    * big side, is never shuffled by a join (guide §2.4/§3.1); plain
    * shuffle joins past it. Join strategy only — results are identical
    * either way. */
  def hint(vertices: Long, broadcastMax: Long): DataFrame => DataFrame =
    if (vertices <= broadcastMax) broadcast(_) else identity
}
