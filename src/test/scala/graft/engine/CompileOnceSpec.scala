package graft.engine

import graft.SparkSpec
import org.apache.spark.JobLog
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Compile once, resolve once: SQL-text nodes compile from their template
  * text, a run reads each source once, resolution is safe on node threads
  * (per-build placeholder views, one compile lock), and compile takes
  * every model's full-refresh branch (`is_incremental()` is false, as in
  * dbt's parse). */
class CompileOnceSpec extends SparkSpec {

  private def newProject(schema: String): Project =
    new Project(spark, Target("dev", schema, threads = 4))

  private val table = ModelConfig(Materialization.Table)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A versioned ref, a snapshot ref, an ephemeral SQL model, a DataFrame
    * model on a SQL model, an analysis and a test. */
  private def fixture(schema: String): Project = {
    val p = newProject(schema)
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

  private val fixtureModels = Seq("dim_v1", "dim_v2", "latest_dim",
    "snap_current", "regions", "nation_regions", "europe")

  test("compile() takes SQL edges from template text: same graph as resolving") {
    val g = fixture("textc").compile()
    assert(g.edges == Map(
      "model.dim_v1" -> Set("source.tpch.nation"),
      "model.dim_v2" -> Set("source.tpch.nation"),
      "model.latest_dim" -> Set("model.dim_v2"),
      "snapshot.nation_snap" -> Set("model.dim_v1"),
      "model.snap_current" -> Set("snapshot.nation_snap"),
      "model.regions" -> Set("source.tpch.region"),
      "model.nation_regions" -> Set("model.dim_v2", "model.regions"),
      "model.europe" -> Set("model.nation_regions"),
      "analysis.region_counts" -> Set("model.nation_regions"),
      "test.not_null__nation_regions__n_name" -> Set("model.nation_regions")))
    // resolving every plan first records the edges the builds take
    val r = fixture("textr")
    fixtureModels.foreach(r.resolve)
    r.resolveAnalysis("region_counts")
    val resolved = r.compile()
    assert(resolved.nodes.keySet == g.nodes.keySet)
    assert(resolved.edges == g.edges)
  }

  test("SQL models' manifest hashes do not depend on per-build view names") {
    val a = fixture("hasha").manifest
    assert(a.keySet == (fixtureModels :+ "nation_snap").toSet)
    assert(a == fixture("hashb").manifest)
  }

  test("compile() of an all-SQL project runs no Spark job") {
    val p = newProject("textjobs")
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.source("tpch", "region", ParquetPath(s"$sf0001/region.parquet"))
    p.sqlModel("n")("select * from {{ source('tpch', 'nation') }}")
    p.sqlModel("nr", table)("""select n.n_name, r.r_name from {{ ref('n') }} n
      join {{ source('tpch', 'region') }} r on n.n_regionkey = r.r_regionkey""")
    p.analysis("a")("select count(*) from {{ ref('nr') }}")
    p.testNotNull("nr", "n_name")
    val (g, jobs) = JobLog.of(spark)(p.compile())
    assert(g.nodes.size == 6)
    assert(jobs.isEmpty, jobs)
  }

  test("unknown ref/source names and SQL ref cycles still fail compile()") {
    val ref = newProject("unkref")
    ref.sqlModel("a")("select * from {{ ref('nope') }}")
    assert(intercept[NoSuchElementException](ref.compile())
      .getMessage.contains("unknown model 'nope'"))
    val src = newProject("unksrc")
    src.sqlModel("a")("select * from {{ source('tpch', 'nope') }}")
    assert(intercept[NoSuchElementException](src.compile())
      .getMessage.contains("unknown source 'tpch.nope'"))
    val version = newProject("unkver")
    version.sqlModel("dim_v1")("select 1 as id")
    version.model("a")(_.ref("dim", 2))
    assert(intercept[NoSuchElementException](version.compile())
      .getMessage.contains("dim_v2"))
    val cyc = newProject("sqlcyc")
    cyc.sqlModel("a")("select * from {{ ref('b') }}")
    cyc.sqlModel("b")("select * from {{ ref('a') }}")
    assert(intercept[IllegalStateException](cyc.compile())
      .getMessage.contains("cycle"))
  }

  test("a SQL model naming an unknown column compiles; build errors it and skips below") {
    val p = newProject("badcol")
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.sqlModel("bad")("select no_such_column from {{ source('tpch', 'nation') }}")
    p.sqlModel("child", table)("select * from {{ ref('bad') }}")
    p.sqlModel("good", table)("select n_name from {{ source('tpch', 'nation') }}")
    assert(p.compile().upstream("model.child") == Set("model.bad"))
    val by = p.build().byId
    assert(by("model.bad").status == "error")
    assert(by("model.bad").message.contains("no_such_column"), by("model.bad"))
    assert(by("model.child").status == "skipped")
    assert(by("model.good").status == "success")
    assert(!spark.catalog.tableExists("badcol.child"))
  }

  test("a run infers a source's schema once: three views in a diamond") {
    val dir = tempDir("diamond") + "/ev"
    spark.range(12).selectExpr("id", "id % 3 as k").write.parquet(dir)
    val p = newProject("diamond")
    p.source("raw", "ev", ParquetPath(dir))
    p.sqlModel("base")("select id, k from {{ source('raw', 'ev') }}")
    p.sqlModel("zeros")("select id from {{ ref('base') }} where k = 0")
    p.sqlModel("others")("select id from {{ ref('base') }} where k <> 0")
    p.sqlModel("total", table)("""select count(*) as n from (
      select id from {{ ref('zeros') }} union all
      select id from {{ ref('others') }})""")
    p.testNotNull("zeros", "id")
    val (res, jobs) = JobLog.of(spark)(p.run())
    assert(res.ok, res.results)
    assert(spark.table("diamond.total").head().getLong(0) == 12L)
    // FileRead.batch's `load` is the one job site in Core.scala: parquet
    // schema inference. Resolving each plan per call read the source 6
    // times: once at compile, once per view node, once for the table and
    // once for the test on `zeros`.
    val inference = jobs.filter(_.contains("Core.scala"))
    assert(inference.size == 1, jobs)
  }

  test("a reused Project reads afresh: a file landed between runs is seen") {
    val dir = tempDir("landing")
    spark.range(5).toDF("id").write.parquet(s"$dir/batch=0")
    val p = newProject("reuse")
    p.source("raw", "ev", ParquetPath(dir))
    p.sqlModel("ev_view")("select id from {{ source('raw', 'ev') }}")
    p.sqlModel("ev_count", table)("select count(*) as n from {{ ref('ev_view') }}")
    assert(p.run().ok)
    assert(spark.table("reuse.ev_count").head().getLong(0) == 5L)
    spark.range(5, 8).toDF("id").write.parquet(s"$dir/batch=1")
    assert(p.run().ok)
    assert(spark.table("reuse.ev_count").head().getLong(0) == 8L)
    assert(p.materializedDf("ev_view").count() == 8L)
  }

  test("no placeholder temp view outlives its build") {
    def placeholders = spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary &&
        (t.name.startsWith("graft_ref_") || t.name.startsWith("graft_src_")))
      .map(_.name)
    val p = fixture("noviews")
    p.compile()
    assert(placeholders.isEmpty, placeholders)
    assert(p.run().ok)
    p.resolveAnalysis("region_counts")
    assert(placeholders.isEmpty, placeholders)
    assert(p.materializedDf("latest_dim").count() == 25L)
  }

  test("concurrent SQL builds binding one dep to different plans read their own") {
    def project(v: Int): Project = {
      val p = newProject(s"bind$v")
      p.model("dep") { ctx => import ctx.spark.implicits._; Seq(v).toDF("v") }
      p.sqlModel("out")("select v from {{ ref('dep') }}")
      p
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val reads = Seq(1, 2).map { v =>
        val p = project(v)
        v -> pool.submit(() =>
          (1 to 40).map(_ => p.materializedDf("out").head().getInt(0)))
      }
      for ((v, f) <- reads) assert(f.get(60, TimeUnit.SECONDS).forall(_ == v))
    } finally pool.shutdown()
  }

  test("two threads resolving one model at compile time both get its plan") {
    val entered = new CountDownLatch(1)
    val p = newProject("lock")
    p.model("slow") { ctx =>
      import ctx.spark.implicits._
      entered.countDown()
      Thread.sleep(300)
      Seq(1).toDF("id")
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(() => p.resolve("slow"))
      entered.await()
      val second = pool.submit(() => p.resolve("slow")) // no false "ref cycle"
      assert(first.get(60, TimeUnit.SECONDS) eq second.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  private val incrementalById =
    ModelConfig(Materialization.Incremental(Some(Seq("id"))))

  /** The dbt cursor pattern: the full source first, then only ids past
    * the table's largest. */
  private def cursorModel(p: Project, name: String): Project =
    p.model(name, incrementalById) { ctx =>
      val ev = ctx.source("raw", "ev")
      if (!ctx.isIncremental) ev
      else ev.filter(col("id") > ctx.thisDf.agg(max("id")).first().getLong(0))
    }

  test("compile() runs no query on a built incremental model's table") {
    val dir = tempDir("cursor") + "/ev"
    spark.range(4).toDF("id").write.parquet(dir)
    def project(): Project = {
      val p = newProject("cursor")
      p.source("raw", "ev", ParquetPath(dir))
      cursorModel(p, "inc")
      p.sqlModel("child", table)("select id from {{ ref('inc') }}")
    }
    assert(project().build().ok)
    val (g, jobs) = JobLog.of(spark)(project().compile())
    assert(g.upstream("model.inc") == Set("source.raw.ev"))
    // the source's schema inference (Core.scala) is the only job; the
    // cursor's `first()` is not run at compile
    assert(jobs.nonEmpty && jobs.forall(_.contains("Core.scala")), jobs)
    spark.range(4, 6).toDF("id").write.mode("append").parquet(dir)
    assert(project().build().ok)
    assert(spark.table("cursor.inc").count() == 6L)
    assert(spark.table("cursor.child").count() == 6L)
  }

  test("a ref made only under ctx.isIncremental fails its node, naming the ref") {
    def project(): Project = {
      val p = newProject("hidden")
      p.model("a", table) { ctx => import ctx.spark.implicits._; Seq(1L).toDF("id") }
      p.model("b", incrementalById) { ctx =>
        import ctx.spark.implicits._
        val base = Seq(1L, 2L).toDF("id")
        if (ctx.isIncremental) base.join(ctx.ref("a"), "id") else base
      }
      p.model("c", table)(_.ref("b"))
      p.model("d", table)(_.ref("c"))
    }
    assert(project().run().ok)
    val p = project()
    assert(p.compile().upstream("model.b").isEmpty)
    val by = p.run().byId
    assert(by("model.a").status == "success")
    assert(by("model.b").status == "error")
    assert(by("model.b").message.contains("ref('a')") &&
      by("model.b").message.contains("model.a"), by("model.b"))
    assert(by("model.c").status == "skipped")
    assert(by("model.d").status == "skipped")
  }

  test("relationships against an incremental parent passes on a second build") {
    val dir = tempDir("relinc") + "/ev"
    spark.range(3).toDF("id").write.parquet(dir)
    def project(): Project = {
      val p = newProject("relinc")
      p.source("raw", "ev", ParquetPath(dir))
      cursorModel(p, "parent")
      p.model("child", table)(_.ref("parent").select(col("id").as("pid")))
      p.testRelationship("child", "pid", "parent", "id")
    }
    val test = "test.relationships__child__pid"
    assert(project().build().byId(test).status == "success")
    // no new rows: the parent's compile-time plan is its full-refresh
    // branch, not the empty batch past its cursor
    val second = project().build()
    assert(second.byId(test).status == "success", second.results)
    assert(spark.table("relinc.parent").count() == 3L)
    assert(spark.table("relinc.child").count() == 3L)
  }

  test("state:modified does not select an incremental model whose data alone changed") {
    val dir = tempDir("stateinc") + "/ev"
    spark.range(3).toDF("id").write.parquet(dir)
    def project(): Project = {
      val p = newProject("stateinc")
      p.source("raw", "ev", ParquetPath(dir))
      cursorModel(p, "inc")
      p.model("child", table)(_.ref("inc").select(col("id")))
    }
    val first = project()
    assert(first.build().ok)
    val previous = first.manifest
    spark.range(3, 5).toDF("id").write.mode("append").parquet(dir)
    val next = project()
    assert(next.build().ok)
    // the manifest hashes the full-refresh plan, which holds no cursor
    assert(next.modifiedSince(previous).isEmpty)
    assert(project().modifiedSince(previous).isEmpty)
  }
}
