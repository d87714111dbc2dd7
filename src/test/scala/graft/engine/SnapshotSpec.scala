package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD-2 rows pinned row by row: one fixture holds an unchanged key, a
  * changed key, a key that disappears and comes back, new keys, a NULL
  * check column (NULL kept, value → NULL, NULL → value) and a NULL unique
  * key (kept, then changed). The full rewrite and the bucketed rewrite
  * must both produce exactly these rows. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val t1 = java.sql.Timestamp.valueOf("2026-04-01 00:00:00")
  private val t2 = java.sql.Timestamp.valueOf("2026-04-02 00:00:00")
  private val t3 = java.sql.Timestamp.valueOf("2026-04-03 00:00:00")
  private val t4 = java.sql.Timestamp.valueOf("2026-04-04 00:00:00")

  /** The fixture's id for a NULL unique key. */
  private val NullKey = 0L

  private def fresh(rows: (Long, String, String)*): DataFrame =
    rows.map { case (id, tier, region) =>
      (Some(id).filter(_ != NullKey), tier, Option(region)) }
      .toDF("id", "tier", "region")

  private val run1 = fresh((1, "gold", "eu"), (2, "silver", "us"),
    (3, "bronze", "eu"), (4, "gold", null), (5, "silver", null),
    (7, "bronze", "apac"), (NullKey, "gold", "eu"))
  // 1, 4 and the NULL key unchanged (4 keeps a NULL), 2 changed, 3 gone,
  // 5 NULL → value, 7 value → NULL, 6 new
  private val run2 = fresh((1, "gold", "eu"), (2, "gold", "us"),
    (4, "gold", null), (5, "silver", "eu"), (7, "bronze", null),
    (6, "silver", "us"), (NullKey, "gold", "eu"))
  // 3 comes back, 2 and the NULL key change
  private val run3 = fresh((1, "gold", "eu"), (2, "silver", "us"),
    (3, "bronze", "eu"), (4, "gold", null), (5, "silver", "eu"),
    (7, "bronze", null), (6, "silver", "us"), (NullKey, "silver", "eu"))

  private def row(id: Any, tier: String, region: String,
      from: java.sql.Timestamp, to: java.sql.Timestamp): String =
    Seq(id, tier, region, from, to).map(String.valueOf).mkString("|")

  private val afterRun2 = Set(
    row(1, "gold", "eu", t1, null),
    row(2, "silver", "us", t1, t2), row(2, "gold", "us", t2, null),
    row(3, "bronze", "eu", t1, t2),
    row(4, "gold", null, t1, null),
    row(5, "silver", null, t1, t2), row(5, "silver", "eu", t2, null),
    row(6, "silver", "us", t2, null),
    row(7, "bronze", "apac", t1, t2), row(7, "bronze", null, t2, null),
    row(null, "gold", "eu", t1, null))

  private val afterRun3 = afterRun2 -
    row(2, "gold", "us", t2, null) - row(null, "gold", "eu", t1, null) ++ Set(
    row(2, "gold", "us", t2, t3), row(2, "silver", "us", t3, null),
    row(3, "bronze", "eu", t3, null),
    row(null, "gold", "eu", t1, t3), row(null, "silver", "eu", t3, null))

  private def rows(table: String): Seq[String] =
    spark.table(table).select("id", "tier", "region", "valid_from", "valid_to")
      .collect().map(r => r.toSeq.map(String.valueOf).mkString("|")).toSeq

  private def pinned(schema: String, partitions: Option[Int]): Unit = {
    val p = new Project(spark, Target("dev", schema, threads = 4))
    val table = s"$schema.tiers"
    def snap(df: DataFrame, asOf: java.sql.Timestamp): Seq[String] = {
      Materializer.snapshot(p, table, df, "id", Seq("tier", "region"), asOf,
        partitions)
      rows(table)
    }
    assert(snap(run1, t1).toSet == run1.collect().map(r =>
      row(r.get(0), r.getString(1), r.getString(2), t1, null)).toSet)
    val second = snap(run2, t2)
    assert(second.size == afterRun2.size && second.toSet == afterRun2)
    val third = snap(run3, t3)
    assert(third.size == afterRun3.size && third.toSet == afterRun3)
    // no drift: nothing closes, nothing opens
    val fourth = snap(run3, t4)
    assert(fourth.size == afterRun3.size && fourth.toSet == afterRun3)
    partitions.foreach { n =>
      val misplaced = spark.table(table)
        .filter(col("graft_part") =!= pmod(hash(col("id")), lit(n)))
      assert(misplaced.isEmpty, "a row left its key's bucket")
    }
  }

  test("SCD-2 rows pinned: full rewrite") {
    pinned("scd2full", None)
  }

  test("SCD-2 rows pinned: bucketed rewrite") {
    pinned("scd2part", Some(4))
  }

  test("a fresh query with a column the snapshot lacks fails, naming it") {
    val p = new Project(spark, Target("dev", "scd2drift", threads = 4))
    Materializer.snapshot(p, "scd2drift.tiers", run1, "id", Seq("tier"), t1)
    val e = intercept[IllegalArgumentException](Materializer.snapshot(p,
      "scd2drift.tiers", run2.withColumn("score", lit(1)), "id", Seq("tier"), t2))
    assert(e.getMessage.contains("score"), e.getMessage)
    assert(rows("scd2drift.tiers").size == run1.count())
  }
}
