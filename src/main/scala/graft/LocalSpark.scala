package graft

import org.apache.spark.sql.SparkSession

/** The local session the dev and gate mains run on: `local[cpus]` with
  * as many shuffle partitions, UTC session time zone, no UI, and the
  * given log level. */
object LocalSpark {
  def session(cpus: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
