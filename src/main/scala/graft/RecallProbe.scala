package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility (Explain/PlanAudit's sibling): measure x62's IVF-PQ
  * recall@5 under parameter sweeps WITHOUT editing the registered
  * query. Env knobs: NPROBE (default 5), CAND (refine pool per query,
  * default 25), M / KSUB (PQ shape, default 16/128), NLIST (coarse
  * cells, default 10). Prints one line per configuration:
  * `recall@5 = hits/total (frac)`.
  *
  * FIXTURE selects the corpus: `corpus` (default) reads the sf dir's
  * embeddings; `clustered` synthesizes a planted-Gaussian-clusters set
  * (CLUSTERS centers, N points, NOISE relative sigma, seeded — the
  * regime real embedding corpora live in at scale, where coarse cells
  * concentrate true neighbors and recall must hold at SMALL scan
  * fractions; the near-isotropic synthetic corpus can't exercise nlist
  * scaling — BASELINE.md round-12 sweep). */
object RecallProbe {

  /** Planted clusters (see [[graft.operators.VectorFixtures]] — shared
    * with the registered x203 entry so probe and query measure the
    * same corpus). */
  private def clusteredFixture(spark: SparkSession, n: Int,
      clusters: Int, dim: Int, noise: Double): org.apache.spark.sql.DataFrame =
    graft.operators.VectorFixtures.plantedClusters(
      spark, n, clusters, dim, noise)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nProbe = sys.env.getOrElse("NPROBE", "5").toInt
    val cand = sys.env.getOrElse("CAND", "25").toInt
    val m = sys.env.getOrElse("M", "16").toInt
    val ksub = sys.env.getOrElse("KSUB", "128").toInt
    val nlist = sys.env.getOrElse("NLIST", "10").toInt
    val fixture = sys.env.getOrElse("FIXTURE", "corpus")
    val spark = LocalSpark.session(cpus, "ERROR")
    import graft.operators.{Pq, Similarity}
    val e = (if (fixture == "clustered")
      clusteredFixture(spark,
        n = sys.env.getOrElse("N", "10000").toInt,
        clusters = sys.env.getOrElse("CLUSTERS", "32").toInt,
        dim = 64,
        noise = sys.env.getOrElse("NOISE", "0.25").toDouble)
    else spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainKMeans(e, "vec_id", "embedding",
      k = nlist, iters = 5)
    val centSeq = cents.orderBy(col("cell")).collect()
      .map(_.getSeq[Float](1)).toIndexedSeq
    val resid = Pq.residuals(e, "embedding", centSeq)
    val cbs = Pq.trainCodebooks(resid, "vec_id", "__resid",
      dim = 64, m = m, ksub = ksub, iters = 5)
    val recon = Pq.ivfPqReconstruct(e, "vec_id", "embedding",
      centSeq, cbs).select(col("vec_id"), col("recon").as("embedding"))
    val candidates = Similarity.ivfTopK(recon, e, cents, "vec_id",
      "embedding", k = cand, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.refineTopK(candidates, e, e, "vec_id",
      "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.bruteForceTopKBroadcast(e, e, "vec_id",
      "embedding", k = 5).select(col("query_id"), col("neighbor_id"))
    val row = exact.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"),
        count(lit(1)).as("total")).first()
    val (hits, total) = (row.getLong(0), row.getLong(1))
    println(f"[recall] fixture=$fixture nProbe=$nProbe cand=$cand m=$m " +
      f"ksub=$ksub nlist=$nlist recall@5 = $hits/$total " +
      f"(${hits.toDouble / total}%.3f)")
    spark.stop()
  }
}
