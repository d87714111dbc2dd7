package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation plus (optionally) an
  * equivalent ANSI SQL text the driver runs in DuckDB as the oracle.
  *
  * Determinism contract (both engines must produce bit-identical results):
  *   - money/double aggregates go through DECIMAL(18,2) casts so sums are
  *     exact and order-independent;
  *   - every query ends in a total-order ORDER BY (ties broken by keys);
  *   - timestamps are truncated/formatted to strings (events.ts is
  *     ns-precision in parquet; Spark reads µs, DuckDB ns);
  *   - computed integer columns are cast to BIGINT on the Spark side to
  *     match DuckDB's 64-bit arithmetic defaults.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

trait QueryPack {
  def all: Seq[Q]
  /** Load one of the driver test tables from the given sf directory.
    *
    * `events.parquet`'s ts physical type varies by generator version
    * (TIMESTAMP(NANOS) / TIMESTAMP_NTZ µs / TIMESTAMP); normalize through
    * [[graft.functions.EventTime.normalizeTs]] so every query sees the
    * identical session-TZ TimestampType micros the oracle sees.
    */
  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.functions.EventTime.normalizeTs(
        s.read.parquet(s"$dir/$name.parquet"))
    } else s.read.parquet(s"$dir/$name.parquet")

  /** The session's warehouse directory as a local path. */
  protected def warehousePath(s: SparkSession): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath)

  /** Fresh state for a streaming-ledger query over table `db.table`:
    * creates the database, drops the table and deletes the landing
    * (`<db>_landing`), checkpoint (`_graft_checkpoints/<db>`) and table
    * directories under the warehouse, so every run starts from batch 0
    * (the warehouse outlives the in-memory catalog across processes).
    * Returns (landing, checkpoint) paths. */
  protected def resetLedger(s: SparkSession, db: String,
      table: String): (String, String) = {
    val wh = warehousePath(s)
    val landing = wh.resolve(s"${db}_landing")
    val ckpt = wh.resolve(s"_graft_checkpoints/$db")
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s.sql(s"DROP TABLE IF EXISTS $db.$table")
    for (p <- Seq(landing, ckpt, wh.resolve(s"$db.db/$table")))
      graft.engine.Materializer.deleteRecursively(p)
    (landing.toString, ckpt.toString)
  }
}
