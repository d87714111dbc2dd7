package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility (RecallProbe/ShuffleProbe's sibling): synthesize a
  * 10×-sf0.1 dataset for the scaling probe — the round-13 VERDICT
  * item-5 instrument. The 100 TB claims rest on plan shape plus sf0.1
  * measurements; this makes the wall-vs-data slope of the heavy
  * operators a MEASURED number at one more decade.
  *
  * Construction: K salted copies of every sf0.1 table = K disjoint
  * shards of the same join graph. Every key column maps `id·K + k`
  * (consistently across tables, so intra-shard referential integrity
  * holds and inter-shard joins never fire); document text gets every
  * token suffixed `_k` for k > 0 (all shingles differ across copies →
  * the near-dup RATE of sf0.1 is preserved instead of planting
  * 10-way exact-dup components that would quadratically distort the
  * pair-generation ops); embeddings keep their values (copies are
  * exact neighbors — fine for timing, which is volume-driven, and
  * honestly noted where value geometry matters); event users are
  * salted (10× users, same per-user history — window/session/ledger
  * ops scale by user count, their partition-local work unchanged).
  * Deterministic by construction: no RNG anywhere.
  *
  * Usage: ScaleFixture [srcDir] [outDir] [K] — default
  * /root/testdata/sf0.1 → /tmp/graft_sf1 at K=10. Skips tables whose
  * output already exists (re-run cheaply after a partial run).
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSpark.session(cpus, "WARN")

    val keyCols = Set("doc_id", "vec_id", "event_id", "user_id",
      "l_orderkey", "l_partkey", "l_suppkey", "o_orderkey", "o_custkey",
      "c_custkey", "p_partkey", "s_suppkey")

    def copyOf(df: DataFrame, table: String, copy: Int): DataFrame = {
      var d = df
      for (c <- df.columns if keyCols.contains(c))
        d = d.withColumn(c, col(c) * k + copy)
      if (table == "documents" && copy > 0)
        d = d.withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit(s"_$copy")))))
      // embeddings: per-copy ORTHOGONAL sign flips (a deterministic
      // diagonal ±1 transform) — within-copy geometry is preserved
      // EXACTLY (norms, dot products), across copies vectors
      // decorrelate (expected cosine ~0), so near-dup/banding ops see
      // sf0.1's dup RATE instead of a planted 10-way exact-dup of
      // every vector (which would quadratically distort SRP buckets
      // — the first probe run measured exactly that artifact).
      // The flip bit must come from a real mixer: a linear form
      // a*i + b*copy with odd a,b is parity-degenerate mod 2 (it
      // reduces to (i+copy) mod 2, making all even copies share ONE
      // diagonal and all odd copies its exact negation — replanting
      // the cross-copy dup artifact). xxhash64 gives independent
      // per-copy patterns.
      if (table == "embeddings" && copy > 0)
        d = d.withColumn("embedding", transform(col("embedding"),
          (x, i) => when(
            pmod(xxhash64(lit(copy), i), lit(2L)) === 0L, x).otherwise(-x)))
      d
    }

    val tables = Seq("documents", "embeddings", "events", "lineitem",
      "orders", "customer", "part", "supplier", "nation", "region")
    for (t <- tables) {
      val dest = s"$out/$t.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dest))) {
        println(s"[scalefix] $t exists, skipping")
      } else {
        val base = spark.read.parquet(s"$src/$t.parquet")
        // nation/region are fixed dimensions — copied verbatim once
        val scaled =
          if (t == "nation" || t == "region") base
          else (0 until k).map(copyOf(base, t, _)).reduce(_ unionByName _)
        scaled.write.mode("overwrite").parquet(dest)
        println(s"[scalefix] $t: ${base.count()} -> ${scaled.count()} rows")
      }
    }
    spark.stop()
  }
}
