package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** DoReMi-style domain reweighting (Xie et al., "DoReMi: Optimizing
  * Data Mixtures Speeds Up Language Model Pretraining", NeurIPS 2023):
  * upweight the domains a proxy model finds HARD — excess loss over a
  * reference — via an exponentiated-gradient step, then smooth with the
  * uniform mixture so no domain starves. The published recipe trains a
  * small proxy LM; at pipeline scale the same ordering signal comes
  * from the corpus-trained bigram LM ([[LmScore.bigramNll]], the x40
  * CCNet-style scorer): a domain's mean per-doc NLL stands in for the
  * proxy loss, the corpus-wide mean for the reference loss.
  *
  *   excess_s = max(0, nll_s − nll_corpus)
  *   boost_s  = exp(η · excess_s)
  *   weight_s = boost_s / Σ_t boost_t            (EG step from uniform)
  *   mix_s    = (1−ε) · weight_s + ε / S         (uniform smoothing)
  *
  * Scale shape: the corpus-sized work is exactly ONE [[LmScore]] pass
  * (tokenize once, vocab-sized count joins) + one per-doc→per-domain
  * aggregation; everything after is arithmetic on a DOMAINS-sized frame
  * (dozens of rows — the reference total rides a single-row broadcast,
  * the boost total a domains-sized one). Weight and mix normalization
  * run in integer micro-units (half-up at 6dp): boost ratios are exact
  * integer division, so the report is engine-independent — no
  * double-division tie-breaks (the x104 lesson).
  */
object DomainReweight {

  /** Per-domain reweighting report: (domain, n_docs, mean_nll, excess,
    * boost, weight, mix), one row per domain with >= 1 scoreable doc
    * (>= 2 tokens — [[LmScore.bigramNll]]'s domain). `eta` is the EG
    * step size; `smoothNum/smoothDen` = ε, the uniform-mixture floor
    * (DoReMi uses ε so every domain keeps ε/S mass). All fractions are
    * half-up 6dp micro-rounded; mix sums to 1 within S micro-ulps. */
  def doremiMix(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, eta: Double = 1.0, smoothNum: Long = 1L,
      smoothDen: Long = 5L): DataFrame = {
    require(eta > 0, s"eta must be > 0, got $eta")
    require(smoothDen >= 1 && smoothNum >= 0 && smoothNum <= smoothDen,
      s"smoothing fraction invalid: $smoothNum/$smoothDen")
    val D4 = DecimalType(18, 4)
    val scored = LmScore.bigramNll(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"),
        col(domainCol).as("__dom")), "doc_id")
    // the ONE corpus-sized pass; persisted (domains-sized) because the
    // reference and the boost total both derive from it — the x105
    // totals-from-cells shape keeps every downstream consumer off the
    // corpus
    val dom = CacheScope.persist(scored.groupBy(col("__dom"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_nll").cast(D4)).as("snll")))
    // corpus reference = exact-decimal fold of the per-domain sums
    val ref = dom.agg(sum(col("snll")).as("rs"),
      sum(col("n_docs")).as("rn"))
    val bm = dom.crossJoin(broadcast(ref))
      .withColumn("mean_nll", graft.functions.PortableMath
        .roundPortable(col("snll").cast(DoubleType) / col("n_docs"), 6))
      .withColumn("excess", greatest(lit(0.0),
        graft.functions.PortableMath.roundPortable(col("mean_nll")
          - graft.functions.PortableMath.roundPortable(
            col("rs").cast(DoubleType) / col("rn"), 6), 6)))
      .withColumn("boost",
        round(exp(lit(eta) * col("excess")), 6).cast(DecimalType(18, 6)))
      // exact: boost is a 6dp decimal, so *1e6 is an integer value
      .withColumn("bmicro", (col("boost") * lit(1000000L)).cast("long"))
    val tot = bm.agg(sum(col("bmicro")).as("btot"),
      count(lit(1)).as("nsrc"))
    bm.crossJoin(broadcast(tot))
      .withColumn("weight",
        expr("CAST((bmicro*2000000 + btot) DIV (2*btot) AS DOUBLE)" +
          "/1000000.0"))
      // mix = (1−ε)·bi/B + ε/S = [(den−num)·bi·S + num·B] / (den·S·B),
      // micro-rounded half-up entirely in BIGINT
      .withColumn("mix", expr(
        s"CAST((2000000*(($smoothDen-$smoothNum)*bmicro*nsrc " +
          s"+ $smoothNum*btot) + $smoothDen*nsrc*btot) " +
          s"DIV (2*$smoothDen*nsrc*btot) AS DOUBLE)/1000000.0"))
      .select(col("__dom").as(domainCol), col("n_docs"), col("mean_nll"),
        col("excess"), col("boost").cast(DoubleType).as("boost"),
        col("weight"), col("mix"))
  }
}
