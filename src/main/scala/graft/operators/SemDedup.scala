package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Semantic deduplication over an embedding column — the SemDeDup shape
  * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540): k-means-cluster the
  * embeddings, then prune WITHIN each cluster the vectors whose cosine to
  * another cluster member exceeds a threshold, keeping one representative
  * per duplicate group. Where MinHash/SimHash (x03/x18) catch verbatim
  * overlap and SRP-LSH (x31) catches raw-vector proximity, this is the
  * *model-space* dedup pass a training-data pipeline runs over encoder
  * embeddings to drop semantically redundant documents.
  *
  * Deterministic variant of the paper's rule: duplicate groups are the
  * connected components of the within-cluster tau-graph
  * ([[Dedup.connectedComponents]]: driver-local below its edge cap,
  * O(log² n) star rounds above it), and the kept
  * representative is the minimum id per component (the paper keeps the
  * member with lowest centroid-similarity; min-id is order-free and
  * reproducible across engines/runs, the same canonical rule as every
  * other keep-list here). Singletons — no tau-neighbor in their cluster —
  * are always kept.
  *
  * Scale shape: clustering bounds the candidate set — the only quadratic
  * work is per-cluster all-pairs, so k must scale with the corpus (the
  * paper uses ~√n clusters; cluster size n/k is the knob). Centroids are
  * driver-held index metadata (k×dim floats, the [[Similarity.trainKMeans]]
  * contract) broadcast as a literal, so cell assignment is one map-side
  * argmax pass — no join, no shuffle. The pair join shuffles both sides
  * by (cell) once; component finding is edge-count-bounded star rounds.
  * Nothing driver-side grows with corpus size except the k×dim centroid
  * array.
  */
object SemDedup {

  /** Assign each vector to its nearest centroid cell (argmax cosine, =
    * argmax dot against unit centroids — per-row norm is cell-invariant).
    * `centroids` must be the (cell, cvec) frame [[Similarity.trainKMeans]]
    * returns: cells 0..k-1, positional. Map-side only: the k×dim centroid
    * matrix rides into the plan as a typed literal. */
  def assignCells(df: DataFrame, vecCol: String,
      centroids: DataFrame, cellCol: String = "cell"): DataFrame = {
    require(!df.columns.contains(cellCol),
      s"assignCells writes '$cellCol' which already exists on the input")
    val unit: Seq[Seq[Float]] = centroids.orderBy(col("cell")).collect()
      .map { r =>
        val v0 = r.getSeq[Float](1)
        val n = math.max(math.sqrt(v0.map(x => x.toDouble * x).sum), 1e-12)
        v0.map(x => (x / n).toFloat)
      }.toSeq
    // one native argmax call per row (the per-centroid transform-HOF
    // chain was interpreted per entry — see expressions.PqCodes)
    df.withColumn(cellCol,
      graft.expressions.VectorExpressions.argmaxCell(col(vecCol), unit))
  }

  /** Within-cluster near-duplicate pairs: (id_a, id_b, cell, cos) for
    * every same-cell pair with round(cosine, 4) >= tau, id_a < id_b.
    * Cosine is rounded BEFORE thresholding (the x05/x06 determinism
    * contract). One shuffle by cell on each side. */
  def clusterPairs(assigned: DataFrame, idCol: String, vecCol: String,
      tau: Double, cellCol: String = "cell"): DataFrame = {
    val e = assigned.select(col(idCol).as("id"), col(cellCol).as(cellCol),
      col(vecCol).as("v")).withColumn("nrm", norm(col("v")))
    val a = e.select(col("id").as("id_a"), col(cellCol),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("id").as("id_b"), col(cellCol).as("__cb"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, a(cellCol) === b("__cb") && col("id_a") < col("id_b"))
      .withColumn("cos", round(
        cosinePrenormed(col("va"), col("vb"), col("na"), col("nb")), 4))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col(cellCol), col("cos"))
  }

  /** Full pass: train k-means, assign cells, find within-cluster tau
    * pairs, resolve duplicate groups to components, keep min-id per
    * component. Returns (id, cell, kept) for every input vector.
    *
    * The assignment+pair subplan is consumed twice (pairs feed both the
    * component rounds and the verdict join), so both are persisted
    * ([[CacheScope]]). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double, iters: Int = 5): DataFrame = {
    val cents = Similarity.trainKMeans(df, idCol, vecCol, k, iters)
    val assigned = CacheScope.persist(
      assignCells(df.select(col(idCol), col(vecCol)), vecCol, cents))
    val pairs = CacheScope.persist(clusterPairs(assigned, idCol, vecCol, tau))
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val dropped = comps.filter(col("v") =!= col("comp"))
      .select(col("v").as("__drop"))
    assigned.select(col(idCol).as("id"), col("cell"))
      .join(dropped, col("id") === col("__drop"), "left")
      .select(col("id"), col("cell"), col("__drop").isNull.as("kept"))
  }
}
