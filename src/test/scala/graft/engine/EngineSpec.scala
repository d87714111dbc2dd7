package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** End-to-end parity with the reference starter project (FIXTURES.md §A):
  * the two example models, their materializations, and the declared test
  * verdicts — including the deliberate not_null failure. */
class EngineSpec extends SparkSpec {

  private def newProject(schema: String): Project =
    new Project(spark, Target("dev", schema, threads = 4))

  test("reference parity: models, materializations, test verdicts") {
    val p = newProject("parity")
    // my_first_dbt_model.sql:10-21 — literal union, table materialization
    p.model("my_first_dbt_model",
      ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._
      Seq(Some(1)).toDF("id").union(Seq(Option.empty[Int]).toDF("id"))
    }
    // my_second_dbt_model.sql:4-6 — ref + filter, default view
    p.model("my_second_dbt_model") { ctx =>
      ctx.ref("my_first_dbt_model").filter(col("id") === 1)
    }
    p.testUnique("my_first_dbt_model", "id")
    p.testNotNull("my_first_dbt_model", "id")
    p.testUnique("my_second_dbt_model", "id")
    p.testNotNull("my_second_dbt_model", "id")

    val res = p.run()
    val by = res.byId
    assert(by("model.my_first_dbt_model").status == "success")
    assert(by("model.my_second_dbt_model").status == "success")
    assert(by("test.unique__my_first_dbt_model__id").status == "success")
    // the deliberate NULL row (my_first_dbt_model.sql:16) must FAIL not_null
    assert(by("test.not_null__my_first_dbt_model__id").status == "fail")
    assert(by("test.unique__my_second_dbt_model__id").status == "success")
    assert(by("test.not_null__my_second_dbt_model__id").status == "success")

    // physical results: table {1, NULL}; view {1}
    val first = spark.table("parity.my_first_dbt_model")
    assert(first.collect().map(r => if (r.isNullAt(0)) null else r.getInt(0))
      .toSet == Set(1, null))
    assert(p.materializedDf("my_second_dbt_model").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("sql-text models resolve ref/source placeholders") {
    val p = newProject("sqlm")
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.model("nations") { ctx => ctx.source("tpch", "nation") }
    p.sqlModel("nation_count")(
      "SELECT count(*) AS n FROM {{ ref('nations') }}")
    p.sqlModel("big_nations")(
      "SELECT n_name FROM {{ source('tpch', 'nation') }} WHERE n_nationkey > 20")
    val res = p.run()
    assert(res.ok, res.results.mkString("; "))
    assert(p.resolve("nation_count").collect().head.getLong(0) == 25L)
    assert(p.resolve("big_nations").count() == 4)
  }

  test("sql-text view over physical tables materializes as catalog view") {
    val p = newProject("pview")
    p.model("base_tbl", ModelConfig(materialized = Materialization.Table)) {
      ctx =>
        import ctx.spark.implicits._
        Seq((1, "a"), (2, "b")).toDF("id", "v")
    }
    p.sqlModel("top_view")(
      "SELECT id, upper(v) AS v_up FROM {{ ref('base_tbl') }} WHERE id > 1")
    assert(p.run().ok)
    val tbl = spark.catalog.getTable("pview", "top_view")
    assert(tbl.tableType == "VIEW", tbl.tableType)
    val rows = spark.table("pview.top_view").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq(2 -> "B"))
  }

  test("ref cycle detection") {
    val p = newProject("cyc")
    p.model("a")(ctx => ctx.ref("b"))
    p.model("b")(ctx => ctx.ref("a"))
    val e = intercept[IllegalStateException](p.compile())
    assert(e.getMessage.contains("cycle"))
  }

  test("a data test on an undeclared model or parent fails compile, run and test") {
    def project(schema: String)(declareTest: Project => Unit): Project = {
      val p = newProject(schema)
      p.model("a", ModelConfig(materialized = Materialization.Table)) { ctx =>
        import ctx.spark.implicits._
        Seq(1L).toDF("id")
      }
      declareTest(p)
      p
    }
    val target = project("unktest")(_.testNotNull("nope", "id"))
    val parent = project("unkparent")(_.testRelationship("a", "id", "nope", "id"))
    for (p <- Seq(target, parent);
         call <- Seq[Project => Any](_.compile(), _.run(), _.testOnly()))
      assert(intercept[NoSuchElementException](call(p))
        .getMessage.contains("unknown model 'nope'"))
  }

  test("snapshot fresh-query cycle raises an actionable error, not overflow") {
    val p = newProject("snapcyc")
    p.snapshot("selfref", uniqueKey = "id", checkCols = Seq("v")) { ctx =>
      ctx.ref("selfref") // before first build: resolves the fresh query
    }
    val e = intercept[IllegalStateException](p.compile())
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("duplicate node names rejected in both declaration orders") {
    val p1 = newProject("dup1")
    p1.snapshot("clash", uniqueKey = "id", checkCols = Seq("v")) { ctx =>
      import ctx.spark.implicits._; Seq((1L, "a")).toDF("id", "v")
    }
    // model-after-snapshot previously slipped through ('model wins' on
    // refs, both claim one physical table, manifest entries collide)
    assert(intercept[IllegalArgumentException] {
      p1.model("clash")(ctx =>
        { import ctx.spark.implicits._; Seq(1).toDF("id") })
    }.getMessage.contains("duplicate"))
    assert(intercept[IllegalArgumentException] {
      p1.sqlModel("clash")("select 1 as id")
    }.getMessage.contains("duplicate"))
    val p2 = newProject("dup2")
    p2.model("clash2")(ctx =>
      { import ctx.spark.implicits._; Seq(1).toDF("id") })
    assert(intercept[IllegalArgumentException] {
      p2.snapshot("clash2", uniqueKey = "id", checkCols = Seq("v")) { ctx =>
        import ctx.spark.implicits._; Seq((1L, "a")).toDF("id", "v")
      }
    }.getMessage.contains("duplicate"))
  }

  test("failing upstream test blocks downstream model (dbt build)") {
    val p = newProject("blocked")
    p.model("bad", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._
      Seq(Option.empty[Int]).toDF("id")
    }
    p.testNotNull("bad", "id")
    p.model("downstream", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.ref("bad")
    }
    // the skip reaches every descendant, and a test of a skipped model is
    // skipped too (dbt skips the whole subgraph)
    p.model("downstream2", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.ref("downstream")
    }
    p.model("sibling", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.ref("bad")
    }
    p.testNotNull("sibling", "id")
    val res = p.build()
    val by = res.byId
    assert(by("test.not_null__bad__id").status == "fail")
    assert(by("model.downstream").status == "skipped")
    assert(by("model.downstream2").status == "skipped")
    assert(!spark.catalog.tableExists("blocked.downstream2"))
    assert(by("model.sibling").status == "skipped")
    assert(by("test.not_null__sibling__id").status == "skipped")
  }

  test("is_incremental / this: max-ts filter pattern appends only new rows") {
    var batch = Seq((1L, 10L), (2L, 20L)) // (id, ts)
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "isinc", threads = 2))
      p.model("evts", ModelConfig(materialized = Materialization.Incremental())) {
        ctx =>
          import ctx.spark.implicits._
          val df = batch.toDF("id", "ts")
          if (ctx.isIncremental) {
            val maxTs = ctx.thisDf.agg(max(col("ts"))).first().getLong(0)
            df.filter(col("ts") > maxTs)
          } else df
      }
      p
    }
    assert(proj().run().ok)
    assert(spark.table("isinc.evts").count() == 2)
    batch = Seq((2L, 20L), (3L, 30L)) // 20 is old, 30 is new
    assert(proj().run().ok)
    val rows = spark.table("isinc.evts").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq(1L -> 10L, 2L -> 20L, 3L -> 30L))
  }

  test("incremental: first run creates, second appends only new keys") {
    val p = newProject("inc")
    var batch = Seq((1L, "a"), (2L, "b"))
    p.model("events_inc", ModelConfig(
      materialized = Materialization.Incremental(uniqueKey = Some(Seq("id"))))) {
      ctx =>
        import ctx.spark.implicits._
        batch.toDF("id", "v")
    }
    assert(p.run("events_inc").ok)
    assert(spark.table("inc.events_inc").count() == 2)
    batch = Seq((2L, "b"), (3L, "c"))
    val p2 = newProject("inc")
    p2.model("events_inc", ModelConfig(
      materialized = Materialization.Incremental(uniqueKey = Some(Seq("id"))))) {
      ctx =>
        import ctx.spark.implicits._
        batch.toDF("id", "v")
    }
    assert(p2.run("events_inc").ok)
    val rows = spark.table("inc.events_inc").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("incremental dedup: run 2 reads only the new batch, appends its ledger") {
    import graft.operators.Dedup
    val staging = java.nio.file.Files.createTempDirectory("incrdd_staging")
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "incrdd", threads = 2))
      p.source("raw", "docs", ParquetPath(staging.toString))
      p.model("dedup_ledger", ModelConfig(materialized =
        Materialization.Incremental(None,
          Materialization.IncrementalStrategy.Append))) { ctx =>
        val arrived = ctx.source("raw", "docs")
        val (batch, keptPosts) =
          if (ctx.isIncremental) {
            val cursor = ctx.thisDf.agg(max(col("doc"))).first().getLong(0)
            (arrived.filter(col("doc_id") > cursor),
              ctx.thisDf.filter(col("kept") && col("band") >= 0))
          } else
            (arrived, Dedup.minhashBandPostings(arrived.limit(0), "doc_id", "text"))
        Dedup.dedupBatchLedger(batch, keptPosts, "doc_id", "text")
      }
      p
    }
    def verdicts(): Map[Long, Boolean] =
      spark.table("incrdd.dedup_ledger").groupBy(col("doc"))
        .agg(max(col("kept")).as("kept")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    import spark.implicits._
    // batch 1: 2 is an exact dup of 1, 3 unique
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(staging.toString)
    assert(proj().run(fullRefresh = true).ok)
    assert(verdicts() == Map(1L -> true, 2L -> false, 3L -> true))
    assert(spark.table("incrdd.dedup_ledger").count() == 12) // 3 docs x 4 bands
    val filesAfterRun1 = spark.table("incrdd.dedup_ledger").inputFiles.toSet
    val sigAfterRun1 = filesAfterRun1.map { f =>
      val path = java.nio.file.Paths.get(new java.net.URI(f))
      f -> (java.nio.file.Files.size(path),
        java.nio.file.Files.getLastModifiedTime(path))
    }.toMap
    // batch 2 ARRIVES (staging grows): 4 dups history, 6 dups 5 in-batch,
    // 7 is too short to shingle (sentinel ledger row, always kept)
    Seq((4L, "a b c d e"), (5L, "p q r s t"), (6L, "p q r s t"), (7L, "hi"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(staging.toString)
    // scan metric: the run-2 batch read (the exact pattern the model
    // builds: corpus scan under doc_id > cursor) must emit only batch-2
    // rows — the predicate reaches the parquet reader and prunes batch-1
    // files via row-group stats, so "never re-shingle history" is a
    // measured fact, not a comment
    val batch2Read = spark.read.parquet(staging.toString)
      .filter(col("doc_id") > 3L)
    assert(batch2Read.count() == 4)
    def scanRows(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanRows(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.metrics("numOutputRows").value)
      case other => (other.children ++ other.subqueries).flatMap(scanRows)
    }
    val scansSeen = scanRows(batch2Read.queryExecution.executedPlan)
    assert(scansSeen.nonEmpty && scansSeen.forall(_ <= 4),
      s"the cursor-filtered corpus scan read historical rows: $scansSeen")
    assert(proj().run().ok)
    assert(verdicts() == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> false, 7L -> true))
    // 12 + 3 shingled docs x 4 bands + 1 sentinel: APPEND, and run-1's
    // parquet files are bit-untouched (no rewrite of historical state)
    assert(spark.table("incrdd.dedup_ledger").count() == 25)
    val filesAfterRun2 = spark.table("incrdd.dedup_ledger").inputFiles.toSet
    assert(filesAfterRun1.subsetOf(filesAfterRun2))
    filesAfterRun1.foreach { f =>
      val path = java.nio.file.Paths.get(new java.net.URI(f))
      assert(sigAfterRun1(f) == (java.nio.file.Files.size(path),
        java.nio.file.Files.getLastModifiedTime(path)),
        s"run 2 rewrote historical ledger file $f")
    }
  }

  test("ledger compaction: fewer rows, identical next increment, bucketed probe") {
    import graft.operators.Dedup
    val staging = java.nio.file.Files.createTempDirectory("cmpldg_staging")
    def proj(sch: String): Project = {
      val p = new Project(spark, Target("dev", sch, threads = 2))
      p.source("raw", "docs", ParquetPath(staging.toString))
      p.model("ledger", ModelConfig(materialized =
        Materialization.Incremental(None,
          Materialization.IncrementalStrategy.Append))) { ctx =>
        val arrived = ctx.source("raw", "docs")
        val (batch, keptPosts) =
          if (ctx.isIncremental) {
            val cursor = ctx.thisDf.agg(max(col("doc"))).first().getLong(0)
            (arrived.filter(col("doc_id") > cursor),
              ctx.thisDf.filter(col("kept") && col("band") >= 0))
          } else
            (arrived, Dedup.minhashBandPostings(arrived.limit(0), "doc_id", "text"))
        Dedup.dedupBatchLedger(batch, keptPosts, "doc_id", "text")
      }
      p
    }
    def keepList(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.groupBy(col("doc")).agg(max(col("kept")).as("kept"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    import spark.implicits._
    // identical batches 1+2 into a control project and a to-be-compacted twin
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(staging.toString)
    for (sch <- Seq("cmpctl", "cmpcmp"))
      assert(proj(sch).run(fullRefresh = true).ok)
    Seq((4L, "a b c d e"), (5L, "p q r s t"), (6L, "p q r s t"), (7L, "hi"))
      .toDF("doc_id", "text").write.mode("append").parquet(staging.toString)
    for (sch <- Seq("cmpctl", "cmpcmp")) assert(proj(sch).run().ok)
    // compact the twin IN PLACE between increments (staged through a
    // localCheckpoint: a table can't be overwritten from its own scan)
    val full = spark.table("cmpcmp.ledger")
    val fullRows = full.count()
    val compacted = Dedup.compactLedger(full).localCheckpoint()
    assert(fullRows == 25 && compacted.count() == 16,
      "12 kept postings + 4 sentinels expected after compaction")
    assert(keepList(compacted) == keepList(spark.table("cmpctl.ledger")),
      "compaction must preserve the FULL per-doc keep-list")
    assert(compacted.agg(max(col("doc"))).first().getLong(0) == 7L,
      "compaction must preserve the incremental cursor")
    compacted.write.mode("overwrite").format("parquet")
      .saveAsTable("cmpcmp.ledger")
    // batch 3: dups of history (8, 9), a new doc (10), its in-batch dup
    // (11), a too-short sentinel (12) — verdicts must be IDENTICAL
    Seq((8L, "p q r s t"), (9L, "x y z w q"), (10L, "m n o p r"),
      (11L, "m n o p r"), (12L, "yo"))
      .toDF("doc_id", "text").write.mode("append").parquet(staging.toString)
    for (sch <- Seq("cmpctl", "cmpcmp")) assert(proj(sch).run().ok)
    val ctl = keepList(spark.table("cmpctl.ledger"))
    val cmp = keepList(spark.table("cmpcmp.ledger"))
    assert(ctl.view.filterKeys(_ >= 8L).toMap == Map(8L -> false,
      9L -> false, 10L -> true, 11L -> false, 12L -> true), ctl)
    assert(cmp == ctl,
      "compacted ledger diverged from the uncompacted control")
    // probe co-location: against a (band, key)-BUCKETED kept table the
    // history probe elides the build-side exchange (broadcast disabled so
    // the join actually plans its distributions)
    spark.sql("DROP TABLE IF EXISTS cmpcmp.ledger_bkt")
    compacted.filter(col("kept") && col("band") >= 0)
      .write.format("parquet").bucketBy(4, "band", "key")
      .saveAsTable("cmpcmp.ledger_bkt")
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldBcast = spark.conf.get(bcastKey)
    try {
      spark.conf.set(bcastKey, "-1")
      val posts = Dedup.minhashBandPostings(
        Seq((13L, "p q r s t")).toDF("doc_id", "text"), "doc_id", "text")
      def probeShuffles(kept: org.apache.spark.sql.DataFrame): Int =
        graft.PlanAudit.shuffleCount(posts.join(
          kept.select("band", "key"), Seq("band", "key"), "left_semi"))
      val bucketed = probeShuffles(spark.table("cmpcmp.ledger_bkt"))
      val plain = probeShuffles(
        compacted.filter(col("kept") && col("band") >= 0))
      assert(bucketed < plain,
        s"bucketed probe kept its exchange ($bucketed vs $plain)")
    } finally spark.conf.set(bcastKey, oldBcast)
  }

  test("downstream of incremental reads the ACCUMULATED table, not the batch") {
    var batch = Seq((1L, 10L), (2L, 20L))
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "incdown", threads = 2))
      p.model("src_inc", ModelConfig(materialized = Materialization.Incremental())) {
        ctx =>
          import ctx.spark.implicits._
          val df = batch.toDF("id", "ts")
          if (ctx.isIncremental) {
            val maxTs = ctx.thisDf.agg(max(col("ts"))).first().getLong(0)
            df.filter(col("ts") > maxTs)
          } else df
      }
      // downstream ref must see every accumulated row of src_inc — dbt ref
      // semantics read the materialized relation, not the filtered batch
      p.model("down", ModelConfig(materialized = Materialization.Table)) {
        ctx => ctx.ref("src_inc")
      }
      p
    }
    assert(proj().run().ok)
    batch = Seq((2L, 20L), (3L, 30L)) // only ts=30 is new
    assert(proj().run().ok)
    assert(spark.table("incdown.src_inc").count() == 3)
    assert(spark.table("incdown.down").count() == 3) // not 1 (the batch)
  }

  test("cli test evaluates tests without materializing models") {
    val p = newProject("clitest")
    p.model("append_me", ModelConfig(materialized = Materialization.Incremental())) {
      ctx =>
        import ctx.spark.implicits._
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    p.testNotNull("append_me", "id")
    assert(p.run().ok)
    assert(spark.table("clitest.append_me").count() == 2)
    val out = Cli.run(p, Seq("test"))
    assert(out.exists(_.contains("test.not_null__append_me__id")))
    // a second materialization would have appended 2 more rows
    assert(spark.table("clitest.append_me").count() == 2)
  }

  test("insert-overwrite does not leak partitionOverwriteMode into session conf") {
    val before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    def proj(rows: Seq[(Long, String)]): Project = {
      val p = newProject("iow")
      p.model("part_tbl", ModelConfig(
        materialized = Materialization.InsertOverwrite(Seq("day")))) { ctx =>
        import ctx.spark.implicits._
        rows.toDF("id", "day")
      }
      p
    }
    assert(proj(Seq((1L, "d1"), (2L, "d2"))).run().ok)
    assert(proj(Seq((3L, "d2"))).run().ok) // rewrites only d2
    val rows = spark.table("iow.part_tbl").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "d1"), (3L, "d2")))
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before)
  }

  test("full-refresh drops and rebuilds incremental tables; exclude subtracts") {
    var batch = Seq((1L, "a"))
    def proj(): Project = {
      val p = newProject("fullref")
      p.model("acc", ModelConfig(materialized = Materialization.Incremental())) {
        ctx => { import ctx.spark.implicits._; batch.toDF("id", "v") }
      }
      p.model("other", ModelConfig(materialized = Materialization.Table)) {
        ctx => { import ctx.spark.implicits._; Seq(9L).toDF("id") }
      }
      p
    }
    assert(proj().run().ok)
    batch = Seq((2L, "b"))
    assert(proj().run().ok) // append
    assert(spark.table("fullref.acc").count() == 2)
    assert(proj().run(fullRefresh = true).ok) // rebuild from scratch
    assert(spark.table("fullref.acc").count() == 1)
    // exclude: acc untouched when subtracted from the selection
    batch = Seq((3L, "c"))
    val res = proj().run(exclude = "acc")
    assert(res.byId.get("model.acc").isEmpty)
    assert(res.byId("model.other").status == "success")
    assert(spark.table("fullref.acc").count() == 1)
  }

  test("model contract: enforced schema fails drifted builds, passes exact") {
    def proj(withDrift: Boolean): Project = {
      val p = newProject("contract")
      p.model("c_ok", ModelConfig(
        materialized = Materialization.Table,
        contract = Some(Seq("id" -> "bigint", "v" -> "string")))) { ctx =>
        import ctx.spark.implicits._
        val base = Seq((1L, "a")).toDF("id", "v")
        if (withDrift) base.withColumn("extra", lit(1))
          .withColumn("id", col("id").cast("int"))
        else base
      }
      p
    }
    assert(proj(withDrift = false).run().ok)
    val res = proj(withDrift = true).run()
    val r = res.byId("model.c_ok")
    assert(r.status == "error", r)
    assert(r.message.contains("contract violation") &&
      r.message.contains("'id' is int") && r.message.contains("extra"), r)
  }

  test("store_failures persists violating rows to the audit schema") {
    val p = newProject("sfail").storeFailuresIn("sfail_audit")
    p.model("bad2", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._
      Seq(Some(1), None, Some(3)).toDF("id")
    }
    p.testNotNull("bad2", "id")
    val res = p.run()
    val tr = res.byId("test.not_null__bad2__id")
    assert(tr.status == "fail" && tr.message.contains("sfail_audit"))
    val audit = spark.table("sfail_audit.not_null__bad2__id").collect()
    assert(audit.length == 1 && audit.head.isNullAt(0))
  }

  test("on-run-start/end hooks execute around the run") {
    val p = newProject("hooks")
    spark.sql("CREATE DATABASE IF NOT EXISTS hooks")
    p.onRunStart("CREATE TABLE IF NOT EXISTS hooks.audit (phase STRING) USING parquet")
    p.onRunStart("INSERT INTO hooks.audit VALUES ('start')")
    p.onRunEnd("INSERT INTO hooks.audit VALUES ('end')")
    p.model("m1", ModelConfig(materialized = Materialization.Table)) {
      ctx => { import ctx.spark.implicits._; Seq(1).toDF("x") }
    }
    assert(p.run().ok)
    val phases = spark.table("hooks.audit").collect().map(_.getString(0)).sorted
    assert(phases.toSeq == Seq("end", "start"))
  }

  test("incremental merge: matching keys replaced, new keys inserted") {
    def proj(batch: Seq[(Long, String)]): Project = {
      val p = newProject("incmerge")
      p.model("dim", ModelConfig(materialized = Materialization.Incremental(
        uniqueKey = Some(Seq("id")),
        strategy = Materialization.IncrementalStrategy.Merge))) { ctx =>
        import ctx.spark.implicits._
        batch.toDF("id", "v")
      }
      p
    }
    assert(proj(Seq((1L, "a"), (2L, "b"))).run().ok)
    // batch 2 UPDATES id=2 and inserts id=3 (insert-new would keep "b")
    assert(proj(Seq((2L, "b2"), (3L, "c"))).run().ok)
    val rows = spark.table("incmerge.dim").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("snapshot: NULL shift across check columns closes out the row") {
    import spark.implicits._
    val p = newProject("snapnull")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    // (x, NULL) -> (NULL, x): concat_ws WITHOUT per-column coalesce hashes
    // both sides to "x" and the change would be silently missed
    Materializer.snapshot(p, "snapnull.c",
      Seq((1L, Option("x"), Option.empty[String])).toDF("id", "a", "b"),
      "id", Seq("a", "b"), t1)
    Materializer.snapshot(p, "snapnull.c",
      Seq((1L, Option.empty[String], Option("x"))).toDF("id", "a", "b"),
      "id", Seq("a", "b"), t2)
    val snap = spark.table("snapnull.c")
    assert(snap.count() == 2, "changed row must close out + re-insert")
    assert(snap.filter(col("valid_to").isNotNull).count() == 1)
    val open = snap.filter(col("valid_to").isNull).collect().head
    assert(open.isNullAt(open.fieldIndex("a")) &&
      open.getString(open.fieldIndex("b")) == "x")
  }

  test("snapshot: SCD-2 close-out and insert on change") {
    import spark.implicits._
    val p = newProject("snap")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    Materializer.snapshot(p, "snap.cust",
      Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier"),
      "id", Seq("tier"), t1)
    Materializer.snapshot(p, "snap.cust",
      Seq((1L, "platinum"), (2L, "silver")).toDF("id", "tier"),
      "id", Seq("tier"), t2)
    val snap = spark.table("snap.cust")
    assert(snap.count() == 3)
    val closed = snap.filter(col("valid_to").isNotNull).collect()
    assert(closed.length == 1 && closed.head.getString(1) == "gold")
    val open1 = snap.filter(col("valid_to").isNull && col("id") === 1).collect()
    assert(open1.head.getString(1) == "platinum")
    // unchanged row keeps its original valid_from
    val open2 = snap.filter(col("valid_to").isNull && col("id") === 2).collect()
    assert(open2.head.getAs[java.sql.Timestamp]("valid_from") == t1)
  }

  test("snapshot: ctx.refAsOf reads point-in-time state across two runs") {
    import spark.implicits._
    val p = newProject("snapasof")
    var tick = java.sql.Timestamp.valueOf("2026-03-01 00:00:00")
    var tier1 = "gold"
    p.snapshot("cust_snap", uniqueKey = "id", checkCols = Seq("tier"),
      asOf = () => tick) { ctx =>
      import ctx.spark.implicits._
      Seq((1L, tier1), (2L, "silver")).toDF("id", "tier")
    }
    // downstream model consumes the snapshot at a PINNED instant between
    // the two runs: it must keep reading run-1 state after run 2
    val mid = java.sql.Timestamp.valueOf("2026-03-01 12:00:00")
    p.model("tiers_at_mid",
        ModelConfig(materialized = Materialization.Table)) { ctx =>
      ctx.refAsOf("cust_snap", mid).select(col("id"), col("tier"))
    }
    assert(p.run().ok)
    tick = java.sql.Timestamp.valueOf("2026-03-02 00:00:00")
    tier1 = "platinum"
    assert(p.run().ok)
    def tiersAt(ts: java.sql.Timestamp): Map[Long, String] = {
      // a Ctx resolving refs straight from the catalog, as a model would
      val snap = spark.table("snapasof.cust_snap")
      new Ctx(spark, (_, _) => snap, (_, _) => fail("no sources"))
        .refAsOf("cust_snap", ts)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    // before the first run: nothing was current yet
    assert(tiersAt(java.sql.Timestamp.valueOf("2026-02-28 00:00:00"))
      .isEmpty)
    // between the runs: run-1 state
    assert(tiersAt(mid) == Map(1L -> "gold", 2L -> "silver"))
    // after run 2: id 1's new version is current
    assert(tiersAt(java.sql.Timestamp.valueOf("2026-03-03 00:00:00")) ==
      Map(1L -> "platinum", 2L -> "silver"))
    // exactly AT a close-out instant the new version is current
    // (valid_from <= ts < valid_to: half-open interval)
    assert(tiersAt(java.sql.Timestamp.valueOf("2026-03-02 00:00:00")) ==
      Map(1L -> "platinum", 2L -> "silver"))
    // the materialized downstream table froze run-1 state
    assert(spark.table("snapasof.tiers_at_mid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "gold", 2L -> "silver"))
    // non-snapshot relations are refused loudly
    val e = intercept[IllegalArgumentException] {
      new Ctx(spark, (_, _) => Seq((1L, "x")).toDF("id", "v"),
        (_, _) => fail("no sources")).refAsOf("not_a_snap", mid)
    }
    assert(e.getMessage.contains("valid_from"), e.getMessage)
  }

  test("snapshot: partition-scoped rewrite leaves unchanged buckets byte-identical") {
    import spark.implicits._
    val p = newProject("snappart")
    val t1 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-02-02 00:00:00")
    val nPart = 8
    val v1 = (1L to 64L).map(id => (id, s"v$id")).toDF("id", "v")
    Materializer.snapshot(p, "snappart.c", v1, "id", Seq("v"), t1,
      partitions = Some(nPart))
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sql("DESCRIBE TABLE EXTENDED snappart.c")
        .filter(col("col_name") === "Location")
        .collect().head.getString(1)))
    def fileState(): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(loc).forEach { f =>
        val rel = loc.relativize(f).toString
        if (rel.endsWith(".parquet"))
          out(rel) = (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
      }
      out.toMap
    }
    val before = fileState()
    assert(before.keySet.map(_.split('/').head).size > 1,
      s"fixture must span several buckets: ${before.keySet}")
    // change exactly one key — only its bucket may be rewritten
    val changedBucket = v1.filter(col("id") === 5L)
      .select(pmod(hash(col("id")), lit(nPart)).cast("int"))
      .collect().head.getInt(0)
    val v2 = (1L to 64L).map(id =>
      (id, if (id == 5L) "CHANGED" else s"v$id")).toDF("id", "v")
    Materializer.snapshot(p, "snappart.c", v2, "id", Seq("v"), t2,
      partitions = Some(nPart))
    val after = fileState()
    val untouchedBefore = before.filterNot(_._1.startsWith(s"graft_part=$changedBucket/"))
    val untouchedAfter = after.filterNot(_._1.startsWith(s"graft_part=$changedBucket/"))
    assert(untouchedBefore == untouchedAfter,
      "files outside the changed bucket were rewritten")
    assert(before.keys.exists(_.startsWith(s"graft_part=$changedBucket/")) &&
      before.filter(_._1.startsWith(s"graft_part=$changedBucket/")) !=
        after.filter(_._1.startsWith(s"graft_part=$changedBucket/")),
      "the changed bucket must actually be rewritten")
    // semantics identical to the full-rewrite snapshot
    Materializer.snapshot(p, "snappart.full", v1, "id", Seq("v"), t1)
    Materializer.snapshot(p, "snappart.full", v2, "id", Seq("v"), t2)
    val got = spark.table("snappart.c").drop("graft_part")
    val want = spark.table("snappart.full")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "partitioned snapshot diverged from the full-rewrite semantics")
    // a zero-drift run rewrites nothing at all
    Materializer.snapshot(p, "snappart.c", v2, "id", Seq("v"),
      java.sql.Timestamp.valueOf("2026-02-03 00:00:00"),
      partitions = Some(nPart))
    assert(fileState() == after, "no-drift run must not touch any file")
  }

  test("snapshot as DAG node: topo order, downstream ref, orphan claim, selection") {
    import spark.implicits._
    val p = newProject("snapdag")
    // mutable upstream the snapshot tracks across two runs
    var src = Seq((1L, "a"), (2L, "b")).toDF("id", "status")
    var asOf = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    p.model("raw_status",
      ModelConfig(materialized = Materialization.Table)) { _ => src }
    p.snapshot("status_snap", uniqueKey = "id", checkCols = Seq("status"),
      asOf = () => asOf) { ctx => ctx.ref("raw_status") }
    // downstream model refs the snapshot by name — only works if the
    // snapshot is a graph node built BEFORE this model (topo order)
    p.model("open_rows") { ctx =>
      ctx.ref("status_snap").filter(col("valid_to").isNull)
        .select("id", "status")
    }
    val res = p.run()
    assert(res.ok, res.results.mkString("; "))
    assert(res.byId.contains("snapshot.status_snap"))
    assert(spark.table("snapdag.status_snap").count() == 2)
    assert(p.materializedDf("open_rows").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 2L -> "b"))
    // orphan macro counts the snapshot as claimed (graph.snapshots)
    val orphans = Macros.listOrphanedObjects(spark, p.compile(), p, "snapdag")
    assert(!orphans.exists(_.contains("status_snap")), orphans.mkString("; "))
    // second pass: change one row, select the snapshot + ancestors by its
    // bare name (snapshots share the selector namespace)
    src = Seq((1L, "a2"), (2L, "b")).toDF("id", "status")
    asOf = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val res2 = p.run("+status_snap")
    assert(res2.ok, res2.results.mkString("; "))
    assert(!res2.byId.contains("model.open_rows"), "selection leaked downstream")
    val snap = spark.table("snapdag.status_snap")
    assert(snap.count() == 3, "changed row must close out + re-insert")
    assert(snap.filter(col("valid_to").isNotNull).count() == 1)
    // downstream read now sees the updated open rows
    assert(p.materializedDf("open_rows").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a2", 2L -> "b"))
  }

  test("data tests target snapshots; failing snapshot test blocks downstream") {
    import spark.implicits._
    val p = newProject("snaptest")
    p.model("src_m", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._
      Seq((1L, "a"), (1L, "b")).toDF("id", "v") // duplicate unique key
    }
    p.snapshot("snap_t", uniqueKey = "id", checkCols = Seq("v"),
      asOf = () => java.sql.Timestamp.valueOf("2026-01-01 00:00:00")) {
      ctx => ctx.ref("src_m")
    }
    p.testUnique("snap_t", "id") // fails: id=1 appears twice
    p.testNotNull("snap_t", "valid_from") // passes
    p.model("down")(ctx => ctx.ref("snap_t"))
    val by = p.build().byId
    assert(by("snapshot.snap_t").status == "success")
    assert(by("test.unique__snap_t__id").status == "fail")
    assert(by("test.not_null__snap_t__valid_from").status == "success")
    assert(by("model.down").status == "skipped",
      "failing snapshot test must block downstream under build()")
  }

  test("dbt_utils test family: violations fire exactly when they should") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 5), (2L, Some("b"), 7), (2L, Some("b"), 9),
      (3L, None, 50)).toDF("id", "v", "x")
    val other = Seq(1, 2).toDF("y")
    // unique_combination: (2, b) appears twice
    assert(GenericTests.uniqueCombination(df, Seq("id", "v")).count() == 1)
    assert(GenericTests.uniqueCombination(df, Seq("id", "v", "x")).count() == 0)
    // expression_is_true: x < 20 violated by 50 only
    assert(GenericTests.expressionIsTrue(df, "x < 20").count() == 1)
    // NULL expression results are violations, not silent passes
    assert(GenericTests.expressionIsTrue(df, "v = 'a' OR v = 'b'").count() == 1)
    // equal_rowcount / fewer_rows_than
    assert(GenericTests.equalRowcount(df, df).count() == 0)
    assert(GenericTests.equalRowcount(df, other).count() == 1)
    assert(GenericTests.fewerRowsThan(other, df).count() == 0)
    assert(GenericTests.fewerRowsThan(df, other).count() == 1)
    // at_least_one / not_constant
    assert(GenericTests.atLeastOne(df, "v").count() == 0)
    assert(GenericTests.atLeastOne(df.filter($"v".isNull), "v").count() == 1)
    assert(GenericTests.notConstant(df, "id").count() == 0)
    assert(GenericTests.notConstant(df.filter($"id" === 2), "id").count() == 1)
    // accepted_range: 50 outside [0, 20]; NULLs don't violate
    assert(GenericTests.acceptedRange(df, "x", 0, 20).count() == 1)
    // not_null_proportion: v is 3/4 non-null
    assert(GenericTests.notNullProportion(df, "v", 0.7).count() == 0)
    assert(GenericTests.notNullProportion(df, "v", 0.8).count() == 1)
    // recency
    val ts = Seq(java.sql.Timestamp.valueOf("2026-03-01 00:00:00")).toDF("ts")
    assert(GenericTests.recency(ts, "ts",
      java.sql.Timestamp.valueOf("2026-02-01 00:00:00")).count() == 0)
    assert(GenericTests.recency(ts, "ts",
      java.sql.Timestamp.valueOf("2026-04-01 00:00:00")).count() == 1)
  }

  test("project evaluator flags hard-coded relations in sql-text models") {
    import spark.implicits._
    // the hard-coded relation must exist for the model SQL to analyze
    spark.sql("CREATE DATABASE IF NOT EXISTS prod")
    Seq(1).toDF("id").write.mode("overwrite").saveAsTable("prod.raw_events")
    val p = newProject("lint")
    p.model("base_ok", ModelConfig(materialized = Materialization.Table)) {
      ctx => { import ctx.spark.implicits._; Seq(1).toDF("id") }
    }
    p.sqlModel("clean")(
      """WITH cte AS (SELECT id FROM {{ ref('base_ok') }})
        SELECT cte.id FROM cte JOIN cte c2 ON cte.id = c2.id""")
    p.sqlModel("dirty")(
      "SELECT * FROM prod.raw_events e JOIN {{ ref('base_ok') }} b ON e.id = b.id")
    val findings = Macros.evaluateProject(p.compile())
    assert(findings.exists(f => f.contains("hard_coded_reference") &&
      f.contains("model.dirty") && f.contains("prod.raw_events")), findings)
    assert(!findings.exists(f => f.contains("hard_coded_reference") &&
      f.contains("model.clean")), findings)
  }

  test("selector mini-language: name, +name, name+, tag") {
    val p = newProject("sel")
    p.model("base", ModelConfig(tags = Set("raw")))(ctx =>
      { import ctx.spark.implicits._; Seq(1).toDF("x") })
    p.model("mid")(ctx => ctx.ref("base"))
    p.model("leaf")(ctx => ctx.ref("mid"))
    val g = p.compile()
    def ids(expr: String) =
      g.nodes.keys.filter(Selector.select(g, expr)).toSet
    assert(ids("mid") == Set("model.mid"))
    assert(ids("+mid") == Set("model.mid", "model.base"))
    assert(ids("mid+") == Set("model.mid", "model.leaf"))
    assert(ids("tag:raw") == Set("model.base"))
  }

  test("a selected node waits for a selected ancestor through an unselected view") {
    // `t` is slow to build; `leaf` reads it through the view `mid`, which
    // `tag:x` does not select
    var value = 1
    def project(): Project = {
      val p = newProject("nearest")
      p.model("t", ModelConfig(Materialization.Table, tags = Set("x"))) { ctx =>
        import ctx.spark.implicits._
        Thread.sleep(1500)
        Seq(value).toDF("v")
      }
      p.model("mid")(_.ref("t"))
      p.model("leaf", ModelConfig(Materialization.Table, tags = Set("x")))(
        _.ref("mid"))
    }
    assert(project().run().ok)
    value = 2
    val res = project().run("tag:x")
    assert(res.results.map(_.id).toSet == Set("model.t", "model.leaf"), res)
    assert(res.ok, res.results)
    assert(spark.table("nearest.t").head().getInt(0) == 2)
    assert(spark.table("nearest.leaf").head().getInt(0) == 2)
  }

  test("versioned ref: explicit version reads name_vN, unversioned reads latest") {
    val p = newProject("vers")
    p.model("dim_v1", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._; Seq((1, "old")).toDF("id", "v")
    }
    p.model("dim_v2", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._; Seq((1, "new")).toDF("id", "v")
    }
    p.model("uses_v1")(ctx => ctx.ref("dim", 1).select(col("v")))
    p.model("uses_latest")(ctx => ctx.ref("dim").select(col("v")))
    assert(p.run().ok)
    assert(p.materializedDf("uses_v1").collect().map(_.getString(0)).toSeq
      == Seq("old"))
    assert(p.materializedDf("uses_latest").collect().map(_.getString(0)).toSeq
      == Seq("new"))
    // unknown version fails loudly with the expected name
    val bad = newProject("vers_bad")
    bad.model("dim_v1")(ctx =>
      { import ctx.spark.implicits._; Seq(1).toDF("id") })
    bad.model("consumer")(ctx => ctx.ref("dim", 3))
    val e = intercept[NoSuchElementException] { bad.compile() }
    assert(e.getMessage.contains("dim_v3"))
  }

  test("seed: csv to table") {
    val dir = java.nio.file.Files.createTempDirectory("seedcsv")
    val f = dir.resolve("countries.csv")
    java.nio.file.Files.writeString(f, "code,population\nus,330\nfr,68\n")
    val p = newProject("seeds")
    p.seed("countries", f.toString)
    assert(p.run().ok)
    val rows = spark.table("seeds.countries").collect()
    assert(rows.length == 2)
  }
}
