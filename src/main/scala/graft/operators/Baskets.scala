package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket pair mining — the 2-itemset level of Apriori (Agrawal
  * & Srikant VLDB'94), the level that answers "what co-occurs with
  * what": unordered item pairs that appear together in at least
  * minSupport of all baskets, with confidence both directions and
  * lift.
  *
  * The Apriori property does the scale work: items below minItemCount
  * are pruned BEFORE pair generation (a pair can't be frequent if one
  * of its items isn't), and the within-basket self-join fans out
  * C(size, 2) per basket — bounded by the LOUD maxBasketSize guard,
  * which throws with the offending count instead of silently
  * quadratic-exploding on a power-user basket. All ratio metrics are
  * truncating BIGINT micro divisions; lift uses the staged composition
  * (conf12 * nb) div c2, which keeps every term under 2^63 out to
  * ~10^12 baskets (the naive c12*nb*10^6 form dies at ~3*10^6) at the
  * cost of a documented truncation bias under nb/(c1*c2) micro —
  * identical in any engine that truncates toward zero.
  *
  * Scale shape: one (basket, item) distinct, persisted (it feeds the
  * size guard, the basket count, the item counts, and both self-join
  * sides); the pair self-join co-partitions on the basket key; the
  * basket total enters as a driver literal (two bounded count actions,
  * no collected data rows). No windows, no cross joins. */
object Baskets {

  /** (item1, item2, c1, c2, pair_count, support_micro, conf12_micro,
    * conf21_micro, lift_micro) with item1 < item2, support >=
    * minSupportMicro. */
  def frequentPairs(rows: DataFrame, basketCol: String, itemCol: String,
      minSupportMicro: Long = 10000, minItemCount: Long = 2,
      maxBasketSize: Int = 64): DataFrame = {
    require(minSupportMicro >= 0, s"bad minSupportMicro $minSupportMicro")
    require(minItemCount >= 1, s"bad minItemCount $minItemCount")
    require(maxBasketSize >= 2, s"bad maxBasketSize $maxBasketSize")
    val b = CacheScope.persist(rows
      .select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct())
    val sizes = b.groupBy("bk").agg(count(lit(1)).as("sz"))
    val oversized = sizes.filter(col("sz") > maxBasketSize).count()
    require(oversized == 0,
      s"$oversized baskets exceed maxBasketSize=$maxBasketSize — raise " +
        "the cap consciously or pre-segment giant baskets")
    val nBaskets = sizes.count()
    require(nBaskets > 0, "no baskets")
    val freq = b.groupBy("it").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minItemCount)
    val bf = b.join(freq, "it")
    val l = bf.select(col("bk"), col("it").as("item1"), col("c").as("c1"))
    val r = bf.select(col("bk"), col("it").as("item2"), col("c").as("c2"))
    l.join(r, Seq("bk"))
      .filter(col("item1") < col("item2"))
      .groupBy("item1", "item2", "c1", "c2")
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("support_micro",
        expr(s"pair_count * 1000000 div ${nBaskets}L"))
      .filter(col("support_micro") >= minSupportMicro)
      .withColumn("conf12_micro", expr("pair_count * 1000000 div c1"))
      .withColumn("conf21_micro", expr("pair_count * 1000000 div c2"))
      .withColumn("lift_micro",
        expr(s"conf12_micro * ${nBaskets}L div c2"))
  }
}
