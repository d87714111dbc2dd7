package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 hard-negative mining (Karpukhin et al., "Dense Passage
  * Retrieval", EMNLP 2020 §3.2: the strongest negatives for training a
  * retriever are the top BM25 hits that are NOT the positive) — for
  * each query, rank the corpus by BM25 ([[Bm25]]'s scoring, verbatim),
  * drop the query's own positive document, keep the top-k as negatives.
  *
  * Scale shape (the x81 discipline, multi-query):
  *  - the query table is REQUIRED to be broadcast-small (thousands of
  *    rows, not corpus-scale); its exploded (query_id, term) pairs ride
  *    broadcast joins;
  *  - tf is computed ONCE per (doc, term) — map-side filtered to the
  *    union of query terms — then fanned out to queries by the
  *    broadcast join, so a term shared by many queries never re-counts;
  *  - per-query top-k runs TWO-PHASE ((query, salt) window, then a
  *    window over the ≤ queries×salts×k survivors — the x83 pattern):
  *    with few queries a single window funnels the whole scored corpus
  *    through #queries tasks;
  *  - contributions are 6dp decimals summed exactly (order-independent),
  *    ties broken by doc_id, so ranks are engine-reproducible.
  */
object HardNegatives {

  private val D6 = DecimalType(18, 6)

  /** Top-`topK` hard negatives per query. `queries` columns:
    * (query_id, terms array<string>, distinct terms per query);
    * query_id doubles as the positive document's id (excluded from the
    * candidates). Output: (query_id, rank, doc_id, n_hit_terms, score)
    * ranked (score desc, doc_id). */
  def mine(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10, salts: Int = 32): DataFrame = {
    require(topK >= 1 && salts >= 1, "topK and salts must be >= 1")
    val qt = queries.select(col("query_id"),
      explode(col("terms")).as("term"))
    val terms = qt.select(col("term")).distinct()
    val dl = CacheScope.persist(docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl")))
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")) * lit(1.0) / count(lit(1))).as("avgdl"))
    // (doc, term) term frequencies over the union of query terms — the
    // broadcast semi-join keeps the filter map-side
    val tf = CacheScope.persist(docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .join(broadcast(terms), Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
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
      // fan the per-(doc, term) contribution out to the queries that
      // asked for the term; drop each query's positive
      .join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("query_id"))
    // round the EXACT decimal sum, then cast: rounding after a double
    // cast flips the 4th decimal when the sum lands on the .00005 grid
    // (the double is one ulp under the half, HALF_UP never fires — and
    // the two engines' double formatting disagrees exactly there)
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        round(sum(col("c")), 4).cast("double").as("score"))
    // two-phase per-query top-k (exact: a global top-k row is a
    // salt-cell top-k row by inclusion)
    val phase1 = scored
      .withColumn("salt", pmod(col("doc_id"), lit(salts)))
      .withColumn("r1", row_number().over(Window
        .partitionBy(col("query_id"), col("salt"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("r1") <= topK)
    phase1
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_hit_terms"), col("score"))
  }
}
