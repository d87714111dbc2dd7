package graft.engine

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** What every consumer of a SQL text renders from its `{{ ref }}` /
  * `{{ source }}` placeholders, pinned for a corpus of texts: the compiled
  * SQL, the declare-time lint's masked text, the evaluator's hard-coded
  * relations, the persistent-view SQL and `compile()`'s edge map. The
  * expected report is `src/test/resources/graft/engine/template-equivalence.txt`;
  * a mismatch writes the actual one to
  * `target/template-equivalence.actual.txt` for diffing. */
class TemplateEquivalenceSpec extends SparkSpec {

  private val golden = Paths.get("src/test/resources/graft/engine/template-equivalence.txt")
  private val actualOut = Paths.get("target/template-equivalence.actual.txt")

  private def newProject(schema: String): Project =
    new Project(spark, Target("dev", schema, threads = 4))

  private val table = ModelConfig(Materialization.Table)

  // ---- the corpus --------------------------------------------------------

  /** The CompileOnceSpec fixture: a versioned ref, a snapshot ref, an
    * ephemeral SQL model, a DataFrame model on a SQL model, an analysis. */
  private def compileOnce(): Project = {
    val p = newProject("textc")
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.source("tpch", "region", ParquetPath(s"$sf0001/region.parquet"))
    p.sqlModel("dim_v1")(
      "select n_nationkey, n_name from {{ source('tpch', 'nation') }}")
    p.sqlModel("dim_v2")("""select n_nationkey, n_name, n_regionkey
      from {{ source('tpch', 'nation') }}""")
    p.sqlModel("latest_dim")("select * from {{ ref('dim') }}")
    p.snapshot("nation_snap", uniqueKey = "n_nationkey",
      checkCols = Seq("n_name"))(_.ref("dim", 1))
    p.sqlModel("snap_current")("""select n_nationkey
      from {{ ref('nation_snap') }} where valid_to is null""")
    p.sqlModel("regions", ModelConfig(Materialization.Ephemeral))(
      "select r_regionkey, r_name from {{ source('tpch', 'region') }}")
    p.sqlModel("nation_regions", table)("""select d.n_name, r.r_name
      from {{ ref('dim') }} d
      join {{ ref('regions') }} r on d.n_regionkey = r.r_regionkey""")
    p.model("europe")(_.ref("nation_regions").filter(col("r_name") === "EUROPE"))
    p.analysis("region_counts")("""select r_name, count(*) as n
      from {{ ref('nation_regions') }} group by r_name""")
    p.testNotNull("nation_regions", "n_name")
    p
  }

  /** The dbt_project benchmark's SQL texts. Only the events chain resolves
    * at compile (its DataFrame models run there), so only its source is
    * real data; the TPC-H sources are never read. */
  private def dbtProject(events: String): Project = {
    val p = newProject("bench")
    for (t <- Seq("customer", "orders", "lineitem", "nation", "region", "supplier"))
      p.source("raw", t, ParquetPath(s"tpch/$t.parquet"))
    p.source("raw", "events", ParquetPath(events))
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
    p.model("events_incr", ModelConfig(Materialization.Incremental(
      Some(Seq("event_id")))))(_.ref("stg_events"))
    p.model("user_activity", ModelConfig(Materialization.Incremental(
        Some(Seq("user_id")), Materialization.IncrementalStrategy.Merge))) {
      _.ref("events_incr").groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("tier", lit("gold"))
    }
    p.snapshot("user_tier_snap", uniqueKey = "user_id", checkCols = Seq("tier"))(
      _.ref("user_activity").select("user_id", "tier"))
    p.sqlModel("mart_tier_counts")("""select tier, count(*) as n_users
      from {{ ref('user_tier_snap') }} where valid_to is null group by tier""")
    p.sqlModel("events_daily", table)("""select cast(ts as date) as day,
      event_type, count(*) as n_events,
      cast(sum(cast(value as decimal(18, 2))) as decimal(20, 2)) as total_value
      from {{ ref('events_incr') }} group by cast(ts as date), event_type""")
    p
  }

  /** Placeholder shapes: whitespace variants, a repeated placeholder, one
    * in a CTE and one in a subquery, a parquet path holding `$` and `\`,
    * catalog-table sources (persistent views), a hard-coded relation and
    * an unversioned ref to a family declared only as `acct_vN`. */
  private def shapes(): Project = {
    val p = newProject("shapes")
    p.source("s", "t", ParquetPath("""data/in$1\x.parquet"""))
    p.source("cat", "accounts", CatalogTable("prod.accounts"))
    p.sqlModel("tight")("select * from {{ref('acct_v1')}}")
    p.sqlModel("loose")("select * from {{  source( 's' , 't' ) }}")
    p.sqlModel("repeated", table)("""select a.id from {{ ref('acct_v1') }} a
      join {{ ref('acct_v1') }} b on a.id = b.id
      where a.id in (select id from {{ ref('acct_v1') }})""")
    p.sqlModel("in_cte")("""with acct as (select * from {{ ref('acct_v2') }}),
      src as (select * from {{ source('s', 't') }})
      select acct.id from acct join src on acct.id = src.id""")
    p.sqlModel("in_subquery")("""select id from (select id
      from {{ source('cat', 'accounts') }} where id > 0) x""")
    p.sqlModel("hard_coded")("""select a.id from {{ ref('acct_v2') }} a
      join prod.owners o on a.id = o.id""")
    p.sqlModel("acct_v1", table)("select id from {{ source('cat', 'accounts') }}")
    p.sqlModel("acct_v2", table)(
      "select id, 2 as version from {{ source('cat', 'accounts') }}")
    p.sqlModel("acct_latest")("select * from {{ ref('acct') }}")
    p.sqlModel("acct_report", table)(
      "select count(*) as n from {{ ref('acct_latest') }}")
    p.sqlModel("mixed")("""select * from {{ ref('acct_v1') }} a
      join {{ source('cat', 'accounts') }} c on a.id = c.id""")
    p
  }

  // ---- the report --------------------------------------------------------

  /** The declare-time lint's masked text of SQL node `n`. */
  private def masked(n: Node): String = n match {
    case m: Model => m.sqlText.get.masked
    case a: Analysis => a.sqlText.masked
    case other => fail(s"$other has no SQL text")
  }

  private def viewSql(p: Project, m: Model): Option[String] =
    p.persistentViewSql(m)

  private def report(name: String, p: Project): Seq[String] = {
    val g = p.compile()
    val edges = g.edges.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  $k <- ${v.toSeq.sorted.mkString(", ")}" }
    val sqlNodes = g.nodes.values.toSeq.sortBy(_.id).collect {
      case m: Model if m.sqlText.isDefined => m
      case a: Analysis => a
    }
    s"== $name" +: "edges:" +: edges ++: sqlNodes.flatMap { n =>
      val model = Some(n).collect { case m: Model => m }
      Seq(s"-- ${n.id}",
        s"masked: ${masked(n)}",
        s"compiled: ${p.compiledSql(n.name).get}") ++
        model.map(m => s"view: ${viewSql(p, m).getOrElse("<temporary>")}") ++
        model.map(m => s"hard-coded: ${Macros.hardCodedRelations(m).mkString(", ")}")
    }
  }

  test("every placeholder consumer renders the corpus as the report pins") {
    val events = Files.createTempDirectory("tmplevents").toString
    spark.range(1).selectExpr("id as event_id", "timestamp'2024-01-01' as ts",
      "id as user_id", "'view' as event_type", "1.0d as value")
      .write.parquet(s"$events/batch=0")
    val actual = (report("compile-once", compileOnce()) ++
      report("dbt_project", dbtProject(events)) ++
      report("shapes", shapes()))
      .map(_.replace(sf0001, "<sf0.001>").replace(events, "<events>"))
      .mkString("", "\n", "\n")
    val expected =
      if (Files.exists(golden)) new String(Files.readAllBytes(golden), "UTF-8")
      else ""
    if (actual != expected) {
      Files.createDirectories(actualOut.getParent)
      Files.write(actualOut, actual.getBytes("UTF-8"))
    }
    assert(actual == expected, s"report differs; the actual one is in $actualOut")
  }
}
