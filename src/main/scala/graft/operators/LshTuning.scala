package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH parameter tuning report — the artifact a user consults
  * BEFORE committing a banding scheme to a 100 TB dedup run: for each
  * (bands, rows) split of one shared signature, the measured candidate
  * count, precision and recall against the EXACT similarity join
  * ([[SetSimJoin.jaccardJoinExact]], recall-complete by construction),
  * next to the theoretical S-curve threshold (1/b)^(1/r) (Leskovec,
  * Rajaraman & Ullman, "Mining of Massive Datasets" ch. 3: the
  * similarity at which a pair's collision probability crosses 1/2).
  *
  * Scale shape: ONE numHashes-wide signature pass (native
  * [[graft.expressions.TextExpressions.minhashSignatures]]) shared by
  * every combo — banding is free regrouping of the same hashes; per
  * combo one band self-join for candidates and one join against the
  * exact truth. Counts collapse to a GRID-sized driver table (the
  * x52/x98 bounded-reduce precedent — the output is |grid| rows).
  *
  * Precision/recall are computed by INTEGER half-up rounding
  * ((found·2e6 + cand) div (2·cand)) — a double division like 1/128 is
  * dyadic, lands EXACTLY on the 6dp rounding half, and ties break
  * engine-dependently; integer arithmetic cannot. */
object LshTuning {

  /** One row per bands entry (rows = numHashes / bands): (bands, rows,
    * n_true, n_cand, n_found, precision, recall, s_curve). precision =
    * n_found/n_cand (null when no candidates), recall = n_found/n_true
    * (null when no true pairs), both 6dp; s_curve = round((1/b)^(1/r),
    * 6). */
  def report(spark: SparkSession, df: DataFrame, idCol: String,
      textCol: String, n: Int = 4, threshold: Double = 0.5,
      numHashes: Int = 32,
      bandsGrid: Seq[Int] = Seq(32, 16, 8, 4)): DataFrame = {
    require(bandsGrid.nonEmpty && bandsGrid.forall(b =>
      b >= 1 && numHashes % b == 0),
      s"every bands entry must divide numHashes=$numHashes")
    val sigs = CacheScope.persist(df
      .select(col(idCol).as("doc"),
        graft.expressions.TextExpressions.wordShingles(col(textCol), n)
          .as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sigs", graft.expressions.TextExpressions
        .minhashSignatures(col("sh"), numHashes))
      .select(col("doc"), col("sigs")))
    val truth = CacheScope.persist(
      SetSimJoin.jaccardJoinExact(df, idCol, textCol, n, threshold)
        .select(col("doc_a"), col("doc_b")))
    val nTrue = truth.count()
    def halfUpMicro(num: Long, den: Long): Option[Double] =
      if (den == 0L) None
      else Some(((num * 2000000L + den) / (2L * den)).toDouble / 1000000.0)
    val rowsOut = bandsGrid.map { b =>
      val r = numHashes / b
      val bandCols = (0 until b).map { j =>
        struct(lit(j).as("band"),
          concat((0 until r).map(k =>
            element_at(col("sigs"), j * r + k + 1)): _*).as("key"))
      }
      val posts = sigs.select(col("doc"),
        explode(array(bandCols: _*)).as("bk"))
        .select(col("doc"), col("bk.band").as("band"),
          col("bk.key").as("key"))
      val cand = posts.select(col("doc").as("doc_a"), col("band"),
          col("key"))
        .join(posts.select(col("doc").as("doc_b"), col("band"),
          col("key")), Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b")
        .persist()
      val nCand = cand.count()
      val nFound = cand.join(truth, Seq("doc_a", "doc_b")).count()
      cand.unpersist(blocking = false)
      val sCurve = BigDecimal.valueOf(math.pow(1.0 / b, 1.0 / r))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (b.toLong, r.toLong, nTrue, nCand, nFound,
        halfUpMicro(nFound, nCand), halfUpMicro(nFound, nTrue), sCurve)
    }
    import spark.implicits._
    rowsOut.toDF("bands", "rows", "n_true", "n_cand", "n_found",
      "precision", "recall", "s_curve")
  }
}
