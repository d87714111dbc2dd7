package graft

/** Dev utility: print the formatted physical plan and wall time of one
  * registered query. Usage: Explain <queryName> [sfDir] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSpark.session(cpus, "WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[explain] $name took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
