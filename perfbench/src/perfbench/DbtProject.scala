package perfbench

import graft.engine._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.mutable

/** A dbt-foundation-shaped project over the benchmark inputs at sf0.1.
  *
  * Sources are the staged parquet tables plus an `events` landing
  * directory that receives one `batch=<k>/` directory per batch. Models:
  * staging views, an ephemeral aggregate, table marts, an `InsertNew`
  * incremental event log, a `Merge` incremental per-user rollup, an SCD-2
  * snapshot of user tiers with a view on top, and generic tests. One test
  * is planted to fail (negative supplier balances exist), so its
  * downstream `dim_suppliers` must be skipped.
  *
  * One pass: drop the schema and landing (untimed), land batch 0, run a
  * full-refresh `build`, then two incremental `build`s of
  * `events_incr+`, each after landing the next batch, and a last
  * incremental `build` with no new batch, which must change no table.
  * The seed picks the batch split points; the final tables do not depend
  * on them, so their digests are pinned.
  */
object DbtProject extends Workload {
  val name = "dbt_project"
  override val scale = "sf0.1"
  private val Schema = "bench"
  private val IncrementalSelector = "events_incr+"
  private val Planted = "test.accepted_range__stg_suppliers__s_acctbal"
  private val PlantedSkip = "model.dim_suppliers"

  /** Digests of the final tables, identical for every split. */
  val expectedMarts: Seq[(String, String)] = Seq(
    "fct_orders" -> "150000:e9075e438a4684b6:124b7186ceb17",
    "dim_customers" -> "15000:2ac43c93bc0c19c3:1d4376529069",
    "mart_revenue_by_nation_year" -> "175:fceaf48cb5a64d12:55a2dd3dde",
    "events_incr" -> "100000:e57fcc2debfff87d:c346588d111d",
    "user_activity" -> "1500:c825321786a83a95:2e2d3c5e3b7",
    "events_daily" -> "150:5eb269295d375bb8:505a17eb61",
    "user_tier_snap_current" -> "1500:c881c8a83138d587:2f4dc7f6d84")

  private var cuts: Seq[Long] = Nil

  override def prepare(spark: SparkSession, env: Env): Unit = {
    // batch 0 holds 40-60% of the events, each later batch at least 10%
    // event ids run 0 until n; read n from the staged table
    val (r, n) = (env.rng, spark.read.parquet(s"${env.dataDir}/events.parquet").count())
    val c1 = n * 2 / 5 + r.nextInt((n / 5).toInt)
    val c2 = c1 + n / 10 + r.nextInt((n - c1 - n / 5).toInt)
    cuts = Seq(0L, c1, c2, n)
  }

  /** A five-node project with a view, a table, a merge incremental, a
    * snapshot and a test, built once with full refresh. */
  def warmUp(spark: SparkSession, dataDir: String, threads: Int): Unit = {
    val p = new Project(spark, Target("warmup", "warmup", threads))
    p.source("raw", "nation", ParquetPath(s"$dataDir/nation.parquet"))
    p.sqlModel("v")("select * from {{ source('raw', 'nation') }}")
    p.sqlModel("t", ModelConfig(Materialization.Table))(
      "select n_regionkey, count(*) as n from {{ ref('v') }} group by n_regionkey")
    p.model("i", ModelConfig(Materialization.Incremental(Some(Seq("n_nationkey")),
      Materialization.IncrementalStrategy.Merge)))(_.ref("v"))
    p.snapshot("s", uniqueKey = "n_nationkey", checkCols = Seq("n_name"))(_.ref("v"))
    p.testUnique("t", "n_regionkey")
    val res = p.run("*", blockOnTestFailure = true, fullRefresh = true)
    require(res.ok, s"warm-up build failed: ${res.results}")
  }

  private def landing(env: Env) = s"${env.workDir}/landing/events"

  private def wipe(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val all = java.nio.file.Files.walk(dir)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally all.close()
    }

  private def land(spark: SparkSession, env: Env, k: Int): Unit =
    spark.read.parquet(s"${env.dataDir}/events.parquet")
      .filter(col("event_id") >= cuts(k) && col("event_id") < cuts(k + 1))
      .coalesce(1).write.mode("overwrite").parquet(s"${landing(env)}/batch=$k")

  /** The project, declared afresh for each build like a dbt invocation.
    * The snapshot's clock is the build number, so SCD-2 rows are
    * reproducible. */
  def project(spark: SparkSession, env: Env, buildNo: Int): Project = {
    val p = new Project(spark, Target("bench", Schema, threads = env.threads))
    for (t <- Seq("customer", "orders", "lineitem", "nation", "region", "supplier"))
      p.source("raw", t, ParquetPath(s"${env.dataDir}/$t.parquet"))
    p.source("raw", "events", ParquetPath(landing(env)))

    p.sqlModel("stg_customers")("""select c_custkey, c_name, c_nationkey,
      c_acctbal, c_mktsegment from {{ source('raw', 'customer') }}""")
    p.sqlModel("stg_orders")("""select o_orderkey, o_custkey, o_orderstatus,
      o_totalprice, cast(o_orderdate as date) as o_orderdate, o_orderpriority
      from {{ source('raw', 'orders') }}""")
    p.sqlModel("stg_lineitem")("""select l_orderkey, l_suppkey, l_quantity,
      cast(l_extendedprice * (1 - l_discount) as decimal(18, 2)) as revenue,
      l_returnflag from {{ source('raw', 'lineitem') }}""")
    p.sqlModel("stg_nations")("""select n.n_nationkey, n.n_name, r.r_name
      from {{ source('raw', 'nation') }} n
      join {{ source('raw', 'region') }} r on n.n_regionkey = r.r_regionkey""")
    p.sqlModel("stg_suppliers")("""select s_suppkey, s_name, s_nationkey,
      s_acctbal from {{ source('raw', 'supplier') }}""")
    p.sqlModel("stg_events")("""select event_id, ts, user_id, event_type,
      value, batch from {{ source('raw', 'events') }}""")

    val table = ModelConfig(Materialization.Table)
    p.sqlModel("int_order_revenue", ModelConfig(Materialization.Ephemeral))(
      """select l_orderkey, sum(revenue) as revenue, count(*) as n_lines
      from {{ ref('stg_lineitem') }} group by l_orderkey""")
    p.sqlModel("fct_orders", table)("""select o.o_orderkey, o.o_custkey,
      o.o_orderstatus, o.o_orderdate, o.o_orderpriority,
      coalesce(r.revenue, 0) as revenue, coalesce(r.n_lines, 0) as n_lines
      from {{ ref('stg_orders') }} o
      left join {{ ref('int_order_revenue') }} r on o.o_orderkey = r.l_orderkey""")
    p.sqlModel("dim_customers", table)("""select c.c_custkey, c.c_name,
      n.n_name, n.r_name, c.c_mktsegment, count(f.o_orderkey) as n_orders,
      coalesce(sum(f.revenue), 0) as lifetime_revenue
      from {{ ref('stg_customers') }} c
      join {{ ref('stg_nations') }} n on c.c_nationkey = n.n_nationkey
      left join {{ ref('fct_orders') }} f on f.o_custkey = c.c_custkey
      group by c.c_custkey, c.c_name, n.n_name, n.r_name, c.c_mktsegment""")
    p.sqlModel("mart_revenue_by_nation_year", table)("""select d.n_name,
      year(f.o_orderdate) as order_year, sum(f.revenue) as revenue,
      count(*) as n_orders
      from {{ ref('fct_orders') }} f
      join {{ ref('dim_customers') }} d on f.o_custkey = d.c_custkey
      group by d.n_name, year(f.o_orderdate)""")
    p.sqlModel("dim_suppliers", table)("""select s.s_suppkey, s.s_name,
      n.n_name, sum(l.l_quantity) as volume
      from {{ ref('stg_suppliers') }} s
      join {{ ref('stg_nations') }} n on s.s_nationkey = n.n_nationkey
      left join {{ ref('stg_lineitem') }} l on l.l_suppkey = s.s_suppkey
      group by s.s_suppkey, s.s_name, n.n_name""")

    // the dbt is_incremental() cursor pattern, deduplicated on event_id
    p.model("events_incr", ModelConfig(Materialization.Incremental(
        Some(Seq("event_id")), Materialization.IncrementalStrategy.InsertNew))) { ctx =>
      val ev = ctx.ref("stg_events")
      if (!ctx.isIncremental) ev
      else ev.filter(col("event_id") > ctx.thisDf.agg(max("event_id")).first().getLong(0))
    }
    // per-user rollup, recomputed for users the newest events touched
    p.model("user_activity", ModelConfig(Materialization.Incremental(
        Some(Seq("user_id")), Materialization.IncrementalStrategy.Merge))) { ctx =>
      val ev = ctx.ref("events_incr")
      val rollup = ev.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("total_value"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        max("event_id").as("last_event_id"))
        .withColumn("tier", when(col("n_purchases") >= 16, "gold")
          .when(col("n_purchases") >= 12, "silver").otherwise("bronze"))
      if (!ctx.isIncremental) rollup
      else {
        val cursor = ctx.thisDf.agg(max("last_event_id")).first().getLong(0)
        rollup.join(ev.filter(col("event_id") > cursor).select("user_id").distinct(),
          "user_id")
      }
    }
    val clock = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime +
      buildNo * 3600000L
    p.snapshot("user_tier_snap", uniqueKey = "user_id", checkCols = Seq("tier"),
        asOf = () => new java.sql.Timestamp(clock)) { ctx =>
      ctx.ref("user_activity").select("user_id", "tier")
    }
    p.sqlModel("mart_tier_counts")("""select tier, count(*) as n_users
      from {{ ref('user_tier_snap') }} where valid_to is null group by tier""")
    p.sqlModel("events_daily", table)("""select cast(ts as date) as day,
      event_type, count(*) as n_events,
      cast(sum(cast(value as decimal(18, 2))) as decimal(20, 2)) as total_value
      from {{ ref('events_incr') }} group by cast(ts as date), event_type""")

    p.testUnique("fct_orders", "o_orderkey")
      .testNotNull("fct_orders", "o_custkey")
      .testRelationship("fct_orders", "o_custkey", "dim_customers", "c_custkey")
      .testAcceptedValues("stg_orders", "o_orderstatus", Seq("F", "O", "P"))
      .testUnique("dim_customers", "c_custkey")
      .testUniqueCombination("mart_revenue_by_nation_year", Seq("n_name", "order_year"))
      .testUnique("events_incr", "event_id")
      .testNotNull("events_incr", "ts")
      .testUnique("user_activity", "user_id")
      .testAcceptedValues("user_activity", "tier", Seq("gold", "silver", "bronze"))
      .testAcceptedRange("stg_suppliers", "s_acctbal", 0, 10000)
  }

  /** Materialization kind of a node, for the `materialize.*` figures. */
  private def kind(n: Node): Option[String] = n match {
    case m: Model => m.config.materialized match {
      case Materialization.View | Materialization.Ephemeral => Some("view")
      case _: Materialization.Incremental => Some("incremental")
      case _ => Some("table")
    }
    case _: Snapshot => Some("snapshot")
    case _: DataTest => Some("test")
    case _ => None // sources do no work
  }

  /** What `build` lets a node wait for: its upstream nodes, and for a
    * non-test node also the tests of those upstreams. */
  def waitsFor(g: ProjectGraph)(id: String): Set[String] = {
    val ups = g.upstream(id)
    if (g.nodes.get(id).exists(_.isInstanceOf[DataTest])) ups
    else ups ++ g.edges.collect {
      case (t, tu) if g.nodes.get(t).exists(_.isInstanceOf[DataTest]) &&
        tu.exists(ups.contains) => t
    }
  }

  /** Digest of a final table, leaving out what depends on the split: the
    * `batch` an event landed in and the snapshot's validity history. */
  def tableDigest(spark: SparkSession, name: String): String = name match {
    case "user_tier_snap_current" => Digest.of(spark.table(s"$Schema.user_tier_snap")
      .filter(col("valid_to").isNull).select("user_id", "tier"))
    case "events_incr" => Digest.of(spark.table(s"$Schema.events_incr").drop("batch"))
    case t => Digest.of(spark.table(s"$Schema.$t"))
  }

  def pass(spark: SparkSession, env: Env): Pass = {
    env.untimed {
      spark.sql(s"DROP DATABASE IF EXISTS $Schema CASCADE")
      val wh = java.nio.file.Paths.get(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      wipe(wh.resolve(s"$Schema.db"))
      wipe(java.nio.file.Paths.get(landing(env)))
      spark.catalog.clearCache()
    }

    val ops = mutable.ArrayBuffer[Op]()
    val layers = mutable.Map[String, Double]().withDefaultValue(0.0)

    def build(buildNo: Int): Unit = {
      val full = buildNo == 0
      val c0 = System.nanoTime()
      val p = project(spark, env, buildNo)
      val graph = p.compile()
      val c1 = System.nanoTime()
      val res = if (full) p.run("*", blockOnTestFailure = true, fullRefresh = true)
        else p.build(IncrementalSelector)
      val c2 = System.nanoTime()
      val wallMs = (c2 - c1) / 1e6
      layers("engine.compile_ms") += (c1 - c0) / 1e6
      layers(if (full) "engine.full_build_ms" else "engine.incremental_build_ms") += wallMs
      if (full) {
        layers("engine.nodes") = graph.nodes.size
        layers("engine.edges") = graph.edges.values.map(_.size).sum
      }
      val ran = res.results.filter(r => r.status != "skipped" &&
        graph.nodes.get(r.id).flatMap(kind).isDefined)
      val nodeSum = ran.map(_.durationMs.toDouble).sum
      val cp = Stats.criticalPath(ran.map(r => r.id -> r.durationMs.toDouble).toMap,
        waitsFor(graph))
      layers("engine.node_sum_ms") += nodeSum
      layers("engine.critical_path_ms") += cp
      layers("engine.slack_ms") += wallMs - cp
      layers("engine.wall_ms") += wallMs
      for (r <- res.results; k <- graph.nodes.get(r.id).flatMap(kind)) {
        val want = if (full && r.id == Planted) "fail"
          else if (full && r.id == PlantedSkip) "skipped" else "success"
        if (r.status == "fail") layers("engine.nodes_failed") += 1
        if (r.status == "skipped") layers("engine.nodes_skipped") += 1
        if (r.status != "skipped") {
          layers(s"materialize.${k}_ms") += r.durationMs
          layers(s"materialize.${k}_count") += 1
        }
        // a skipped node and an ephemeral model do no work: checked and
        // counted as attempted, but not latency samples
        val idle = r.status == "skipped" || graph.nodes.get(r.id).exists {
          case m: Model => m.config.materialized == Materialization.Ephemeral
          case _ => false
        }
        ops += Op(r.id, r.durationMs / 1000.0, r.status == want,
          if (r.status == want) "" else s"build $buildNo: ${r.status}, expected $want: ${r.message}".take(300),
          timed = !idle)
      }
    }

    env.untimed(land(spark, env, 0))
    build(0)
    for (k <- 1 until cuts.size - 1) { env.untimed(land(spark, env, k)); build(k) }
    val before = env.untimed(Seq("events_incr", "user_activity", "user_tier_snap")
      .map(t => t -> Digest.of(spark.table(s"$Schema.$t"))).toMap)
    build(cuts.size - 1)

    env.untimed(check(spark, before, ops))
    layers("engine.parallelism") = layers("engine.node_sum_ms") /
      (layers("engine.wall_ms") * env.threads)
    Pass(ops.toSeq, layers.toMap - "engine.wall_ms")
  }

  private def check(spark: SparkSession, before: Map[String, String],
      ops: mutable.ArrayBuffer[Op]): Unit = {
    for ((t, d) <- before) {
      val after = Digest.of(spark.table(s"$Schema.$t"))
      ops += Op(s"idempotent.$t", 0, after == d,
        if (after == d) "" else s"build without a new batch changed $t", timed = false)
    }
    for ((t, want) <- expectedMarts) {
      val got = tableDigest(spark, t)
      ops += Op(s"digest.$t", 0, got == want,
        if (got == want) "" else s"digest $got, expected $want", timed = false)
    }
  }
}
