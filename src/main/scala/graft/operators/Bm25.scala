package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Okapi BM25 ranking of a corpus against a fixed query term set
  * (Robertson & Walker SIGIR'94; the Lucene-style `ln(1 + (N-df+0.5)/
  * (df+0.5))` idf keeps scores positive). The retrieval primitive for
  * corpus curation: "find the documents most about X" without an
  * embedding model.
  *
  *   score(D,Q) = Σ_{q∈Q} idf(q) · tf(q,D)(k1+1) /
  *                         (tf(q,D) + k1(1 − b + b·|D|/avgdl))
  *
  * Scale shape: the tokenizer output is filtered to the query terms
  * MAP-SIDE (`isin` on a literal set), so only query-term occurrences
  * ever shuffle — tf is a (doc, term ∈ Q) aggregation, df a |Q|-row
  * aggregation over tf, both broadcast back. Document lengths ride a
  * narrow persisted (id, dl) frame; N and avgdl are a single-row
  * broadcast (the x25/x40 scalar-attach shape). Per-term contributions
  * are rounded then decimal-summed (order-independent, the oracle-parity
  * rule); the top-k selection is TakeOrdered, never a global sort.
  */
object Bm25 {

  private val D6 = DecimalType(18, 6)

  /** Top-`topK` documents by BM25 score against `queryTerms`:
    * (doc_id, n_hit_terms, score), ranked (score desc, doc_id). */
  def topDocs(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct.size == queryTerms.size,
      "queryTerms must be distinct")
    // narrow (id, dl) frame: feeds the N/avgdl aggregate AND the score
    // join — persisted so the corpus text scans once for lengths
    val dl = CacheScope.persist(docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl")))
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")) * lit(1.0) / count(lit(1))).as("avgdl"))
    // map-side query-term filter: only matching occurrences shuffle
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val contrib = tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("c", round(
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)) *
        ((col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl")))), 6).cast(D6))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        // round the EXACT decimal sum, then cast (x100's lesson: the
        // double cast puts .00005-grid sums one ulp under the half and
        // HALF_UP never fires — engine-dependent at exactly that grid)
        round(sum(col("c")), 4).cast(DoubleType).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
