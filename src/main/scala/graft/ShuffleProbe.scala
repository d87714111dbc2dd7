package graft

/** Dev utility: print ScaleSpec's lint counters (static shuffle count,
  * global-window count) for registered queries — the numbers a new
  * query's shuffle-budget entry is set from, measured under ScaleSpec's
  * own conditions (sf0.001, 4 shuffle partitions, cold cache per
  * query). Usage: ShuffleProbe <queryName>... */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("4", "ERROR")
    for (n <- args) {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
      println(s"[shuffles] $n static=${PlanAudit.shuffleCount(df)}" +
        s" gw=${PlanAudit.globalWindowCount(df)}")
    }
    spark.stop()
  }
}
