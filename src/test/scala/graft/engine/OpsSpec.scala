package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Operational surfaces: observability (query tags → README-shape
  * report), the CLI entry points, and state:modified selection. */
class OpsSpec extends SparkSpec {

  test("observability: job tags captured, README-shape report") {
    val listener = Observability.attach(spark)
    val p = new Project(spark, Target("dev", "obs", threads = 2))
    p.model("tagged_model", ModelConfig(materialized = Materialization.Table)) {
      ctx =>
        import ctx.spark.implicits._
        Seq(1, 2, 3).toDF("id")
    }
    assert(p.run().ok)
    // listener events are async — poll until the model's job lands
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!listener.snapshot.exists(_._2.contains("tagged_model")) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    val report = Observability.report(spark, listener)
    val row = report.filter(col("dbt_model") === "tagged_model").collect()
    assert(row.nonEmpty, "no job captured for tagged_model")
    assert(row.head.getAs[String]("job") == "dev")
    assert(row.head.getAs[String]("materialization") == "table")
    assert(row.head.getAs[Long]("executions") >= 1L)
  }

  test("state:modified+ selects changed models and their descendants") {
    def project(filterVal: Int): Project = {
      val p = new Project(spark, Target("dev", "statesel", threads = 2))
      p.model("base") { ctx =>
        import ctx.spark.implicits._
        Seq(1, 2, 3).toDF("id")
      }
      p.model("mid")(ctx => ctx.ref("base").filter(col("id") > filterVal))
      p.model("leaf")(ctx => ctx.ref("mid").select(col("id")))
      p.model("unrelated") { ctx =>
        import ctx.spark.implicits._
        Seq("x").toDF("v")
      }
      p
    }
    val before = project(0).manifest
    val p2 = project(1) // only `mid`'s own logic changes...
    // ...but hashes cover the upstream-inlined plan, so the change
    // propagates to `leaf` too (a superset of dbt's own-text hashing —
    // safe for selection, never misses a change)
    assert(p2.modifiedSince(before) == Set("mid", "leaf"))
    val res = p2.run("state:modified+", previousManifest = Some(before))
    val ran = res.results.map(_.id).toSet
    assert(ran == Set("model.mid", "model.leaf"), ran)
    // unchanged logic → empty selection
    val res2 = project(0).run("state:modified+", previousManifest = Some(before))
    assert(res2.results.isEmpty)
  }

  test("state:modified+ covers snapshot logic changes") {
    var minId = 0L
    def project(): Project = {
      val p = new Project(spark, Target("dev", "statesnap", threads = 2))
      p.model("base") { ctx =>
        import ctx.spark.implicits._
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
      p.snapshot("snap_sel", uniqueKey = "id", checkCols = Seq("v"),
        asOf = () => java.sql.Timestamp.valueOf("2026-01-01 00:00:00")) {
        ctx => ctx.ref("base").filter(col("id") > minId)
      }
      p.model("reads_snap")(ctx => ctx.ref("snap_sel").select(col("id")))
      p
    }
    val before = project().manifest
    assert(before.contains("snap_sel"), "snapshots must be in the manifest")
    minId = 1L // the snapshot's own fresh query changes; before first
    // build a downstream ref inlines that plan, so the change propagates
    // (same superset-of-dbt hashing rationale as the model case above)
    val p2 = project()
    assert(p2.modifiedSince(before) == Set("snap_sel", "reads_snap"))
    val ran = p2.run("state:modified+", previousManifest = Some(before))
      .results.map(_.id).toSet
    assert(ran == Set("snapshot.snap_sel", "model.reads_snap"), ran)
  }

  test("project evaluator: untested / rootless / unused findings") {
    val p = new Project(spark, Target("dev", "lint", threads = 2))
    p.source("src", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.source("src", "region", ParquetPath(s"$sf0001/region.parquet")) // unused
    p.model("tested")(ctx => ctx.source("src", "nation"))
    p.testNotNull("tested", "n_nationkey")
    p.model("untested_root") { ctx => // no ref/source, no tests
      import ctx.spark.implicits._
      Seq(1).toDF("id")
    }
    val findings = Cli.run(p, Seq("run-operation", "project_evaluator"))
    assert(findings.exists(_.startsWith("untested_model: model.untested_root")))
    assert(findings.exists(_.startsWith("root_model: model.untested_root")))
    assert(findings.exists(_.startsWith("unused_source: source.src.region")))
    assert(!findings.exists(_.contains("model.tested has no data tests")))
  }

  test("cli: ls, run, and print-only orphan operation") {
    val p = new Project(spark, Target("dev", "cliops", threads = 2))
    p.model("kept", ModelConfig(materialized = Materialization.Table)) { ctx =>
      import ctx.spark.implicits._
      Seq(1).toDF("id")
    }
    assert(Cli.run(p, Seq("ls")) == Seq("model.kept"))
    val runOut = Cli.run(p, Seq("run"))
    assert(runOut.exists(_.startsWith("SUCCESS model.kept")))
    // plant an orphan, then ask for drop codegen — print-only
    spark.sql("CREATE DATABASE IF NOT EXISTS cliops")
    spark.sql("CREATE TABLE IF NOT EXISTS cliops.stray(id INT) USING parquet")
    val out = Cli.run(p, Seq("run-operation", "list_orphaned_objects",
      "--args", "{schema: cliops, output_drop_cmd: true}"))
    assert(out.exists(_.contains("orphaned: TABLE cliops.stray")), out)
    assert(out.exists(_.startsWith("DROP TABLE cliops.stray")), out)
    assert(spark.catalog.tableExists("cliops.stray"), "operation must not execute DDL")
  }

  test("cli: run-operation compact_ledger compacts in place, merge view " +
      "unchanged") {
    import spark.implicits._
    val p = new Project(spark, Target("dev", "compactop", threads = 2))
    spark.sql("CREATE DATABASE IF NOT EXISTS compactop")
    spark.sql("DROP TABLE IF EXISTS compactop.hourly")
    // a real three-increment hourly ledger shape (x145/x153)
    Seq(("h0", 10L, 2L, 0L), ("h1", 5L, 0L, 0L),
        ("h1", 7L, 3L, 1L), ("h2", 4L, 1L, 1L), ("h2", 2L, 0L, 2L))
      .toDF("hour", "n_events", "n_matched", "batch_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("compactop.hourly")
    def view() = graft.streaming.EventStreams
      .mergeHourlyLedger(spark.table("compactop.hourly"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val want = view()
    val before = spark.table("compactop.hourly").count()
    val out = Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.hourly, shape: batch, keys: hour, " +
        "vals: 'n_events,n_matched'}"))
    assert(out.exists(_.startsWith("compacted compactop.hourly")), out)
    assert(view() == want, "compaction changed the merge view")
    assert(spark.table("compactop.hourly").count() < before,
      "compaction did not shrink a multi-batch ledger")
    // the max-id batch survives verbatim (the only replay-eligible one)
    assert(spark.table("compactop.hourly")
      .filter(col("batch_id") === 2L).count() == 1L)
    // bad invocations are actionable errors, not silent no-ops
    assert(Cli.run(p, Seq("run-operation", "compact_ledger"))
      .exists(_.contains("pass table")))
    assert(Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.hourly}"))
      .exists(_.contains("shape must be")))
    assert(Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.hourly, shape: batch}"))
      .exists(_.contains("needs keys and vals")))
    assert(Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.nope, shape: batch, keys: hour, " +
        "vals: n_events}"))
      .exists(_.contains("does not exist")))
  }

  test("cli: run-operation apply_takedown rewrites only touched shards") {
    import spark.implicits._
    val p = new Project(spark, Target("dev", "tkdnop", threads = 2))
    spark.sql("CREATE DATABASE IF NOT EXISTS tkdnop")
    spark.sql("DROP TABLE IF EXISTS tkdnop.corpus")
    spark.sql("DROP TABLE IF EXISTS tkdnop.takedowns")
    (1L to 12L).map(i => (i, s"d$i", i % 3))
      .toDF("doc_id", "body", "shard")
      .write.partitionBy("shard").format("parquet")
      .saveAsTable("tkdnop.corpus")
    Seq(4L, 7L).toDF("doc_id") // both in shard 1
      .write.mode("overwrite").format("parquet")
      .saveAsTable("tkdnop.takedowns")
    val out = Cli.run(p, Seq("run-operation", "apply_takedown",
      "--args", "{table: tkdnop.corpus, deletes: tkdnop.takedowns, " +
        "id: doc_id, shard: shard}"))
    assert(out.exists(_.contains("clean — all ids gone")), out)
    assert(out.exists(l => l.contains("1 | 4 | 2 | 2 | true")), out)
    assert(spark.table("tkdnop.corpus")
      .filter(col("doc_id").isin(4L, 7L)).count() == 0)
    assert(spark.table("tkdnop.corpus").count() == 10)
    // bad invocations are actionable errors, not silent no-ops
    assert(Cli.run(p, Seq("run-operation", "apply_takedown"))
      .exists(_.contains("pass table")), "missing kwargs")
    assert(Cli.run(p, Seq("run-operation", "apply_takedown",
      "--args", "{table: tkdnop.nope, deletes: tkdnop.takedowns, " +
        "id: doc_id, shard: shard}"))
      .exists(_.contains("does not exist")))
  }

  test("cli: run-operation purge_ledger drops the ids' rows in place") {
    import spark.implicits._
    val p = new Project(spark, Target("dev", "purgeop", threads = 2))
    spark.sql("CREATE DATABASE IF NOT EXISTS purgeop")
    spark.sql("DROP TABLE IF EXISTS purgeop.ledger")
    spark.sql("DROP TABLE IF EXISTS purgeop.takedowns")
    // a dedup posting ledger shape: doc 1 kept (k1/k2), 2 dropped,
    // 3 kept, 4 dropped — takedown purges doc 1
    Seq((1L, 0, "k1", true), (1L, 1, "k2", true),
        (2L, 0, "k1", false), (2L, 1, "k9", false),
        (3L, 0, "k3", true), (3L, 1, "k4", true),
        (4L, 0, "k3", false), (4L, 1, "k8", false))
      .toDF("doc", "band", "key", "kept")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("purgeop.ledger")
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("purgeop.takedowns")
    val out = Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.ledger, deletes: purgeop.takedowns, " +
        "key: doc}"))
    assert(out.exists(_.contains("8 rows -> 6 rows")), out)
    assert(out.exists(_.contains("clean — no rows of the purged ids")), out)
    assert(spark.table("purgeop.ledger")
      .filter(col("doc") === 1L).count() == 0)
    // survivors untouched
    assert(spark.table("purgeop.ledger").count() == 6)
    // idempotent through the CLI too
    val again = Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.ledger, deletes: purgeop.takedowns, " +
        "key: doc}"))
    assert(again.exists(_.contains("6 rows -> 6 rows")), again)
    // bad invocations are actionable errors, not silent no-ops
    assert(Cli.run(p, Seq("run-operation", "purge_ledger"))
      .exists(_.contains("pass table")))
    assert(Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.nope, deletes: purgeop.takedowns, " +
        "key: doc}"))
      .exists(_.contains("does not exist")))
    assert(Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.ledger, deletes: purgeop.takedowns, " +
        "key: nope}"))
      .exists(_.contains("has no column")))
    // multi-column deletes: the purge column is the one matching `key`,
    // never a blind columns.head (ADVICE r15 item 2) — and a relation
    // with neither a single column nor a key match is an actionable
    // error, not a wrong-column anti-join that still prints "clean"
    spark.sql("DROP TABLE IF EXISTS purgeop.takedowns2")
    Seq(("req-1", 3L), ("req-2", 999L)).toDF("request_id", "doc")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("purgeop.takedowns2")
    val multi = Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.ledger, deletes: purgeop.takedowns2, " +
        "key: doc}"))
    assert(multi.exists(_.contains("6 rows -> 4 rows")), multi)
    assert(spark.table("purgeop.ledger")
      .filter(col("doc") === 3L).count() == 0)
    spark.sql("DROP TABLE IF EXISTS purgeop.takedowns3")
    Seq(("req-1", 4L)).toDF("request_id", "some_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("purgeop.takedowns3")
    assert(Cli.run(p, Seq("run-operation", "purge_ledger",
      "--args", "{table: purgeop.ledger, deletes: purgeop.takedowns3, " +
        "key: doc}"))
      .exists(_.contains("none named 'doc'")))
  }

  test("cli: run-operation retract_countmin nets purged keys out of " +
      "an additive sketch ledger") {
    import spark.implicits._
    val p = new Project(spark, Target("dev", "retrop", threads = 2))
    spark.sql("CREATE DATABASE IF NOT EXISTS retrop")
    for (t <- Seq("events", "sketch", "takedowns"))
      spark.sql(s"DROP TABLE IF EXISTS retrop.$t")
    val ev = (1L to 120L).map(i => (i, i % 5, "t" + (i % 11)))
      .toDF("event_id", "user_id", "term")
    ev.write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.events")
    // the ledger as streamingCountMin would have built it (two batches)
    graft.streaming.EventStreams.countMinPartial(
        spark.table("retrop.events").filter(col("event_id") <= 60),
        "term", 4, 64, 0L)
      .unionByName(graft.streaming.EventStreams.countMinPartial(
        spark.table("retrop.events").filter(col("event_id") > 60),
        "term", 4, 64, 1L))
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.sketch")
    Seq(2L).toDF("user_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.takedowns")
    val args = "{table: retrop.sketch, events: retrop.events, " +
      "deletes: retrop.takedowns, key: user_id, term: term, " +
      "depth: 4, width: 64}"
    val out = Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", args))
    assert(out.exists(_.contains("netted — merged sentinel")), out)
    // the merged view IS the clean-events sketch, cell for cell
    val (counters, totals) = graft.streaming.EventStreams
      .mergeCountMinLedger(spark.table("retrop.sketch"))
    val clean = spark.table("retrop.events")
      .filter(col("user_id") =!= 2L)
    val (dc, dt) = graft.streaming.EventStreams.mergeCountMinLedger(
      graft.streaming.EventStreams.countMinPartial(clean, "term", 4, 64, 0L))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("cnt") =!= 0L).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells(counters) == cells(dc))
    assert(totals.first().getLong(0) == dt.first().getLong(0))
    // and the applied keys are durably registered
    assert(spark.table("retrop.sketch__retracted_keys")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // RE-RUN with the SAME list: every key already registered and the
    // ledger already clean — a no-op, never a double-subtraction
    val again = Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", args))
    assert(again.exists(_.contains("already equals the clean-events " +
      "sketch — no batch appended")), again)
    assert(cells(graft.streaming.EventStreams
      .mergeCountMinLedger(spark.table("retrop.sketch"))._1) == cells(dc))
    // CUMULATIVE list (old key + a new one): only the NEW key is
    // retracted — the x115 intake pattern that a registry-less verdict
    // would have double-subtracted
    spark.sql("DROP TABLE IF EXISTS retrop.takedowns_cum")
    Seq(2L, 4L).toDF("user_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.takedowns_cum")
    val cum = Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", "{table: retrop.sketch, events: retrop.events, " +
        "deletes: retrop.takedowns_cum, key: user_id, term: term, " +
        "depth: 4, width: 64}"))
    assert(cum.exists(m => m.contains("1 new key(s)") ||
      m.contains("netted")), cum)
    val clean24 = spark.table("retrop.events")
      .filter(col("user_id") =!= 2L && col("user_id") =!= 4L)
    val (dc24, _) = graft.streaming.EventStreams.mergeCountMinLedger(
      graft.streaming.EventStreams
        .countMinPartial(clean24, "term", 4, 64, 0L))
    assert(cells(graft.streaming.EventStreams
      .mergeCountMinLedger(spark.table("retrop.sketch"))._1) ==
      cells(dc24), "cumulative retraction double-subtracted")
    // wrong raw source → VERIFY-BEFORE-WRITE rejects WITHOUT mutating
    spark.sql("DROP TABLE IF EXISTS retrop.partial_events")
    spark.table("retrop.events").filter(col("event_id") <= 50)
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.partial_events")
    spark.sql("DROP TABLE IF EXISTS retrop.takedowns3b")
    Seq(3L).toDF("user_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.takedowns3b")
    val before = spark.table("retrop.sketch").count()
    val bad = Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", "{table: retrop.sketch, events: retrop.partial_events, " +
        "deletes: retrop.takedowns3b, key: user_id, term: term, " +
        "depth: 4, width: 64}"))
    assert(bad.exists(m => m.contains("VERDICT FAILED") &&
      m.contains("nothing was written")), bad)
    assert(spark.table("retrop.sketch").count() == before,
      "a failed verdict mutated the ledger")
    assert(Cli.run(p, Seq("run-operation", "retract_countmin"))
      .exists(_.contains("pass table")))
    assert(Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", "{table: retrop.sketch, events: retrop.events, " +
        "deletes: retrop.takedowns, key: user_id, term: term, " +
        "depth: x, width: 64}"))
      .exists(_.contains("positive integers")))
    // width mismatch with the ledger's build: the retraction would
    // subtract from the WRONG positions — the sentinel stays right, so
    // only the cell-wise pre-write verdict catches it, and the table
    // must stay untouched
    spark.sql("DROP TABLE IF EXISTS retrop.sketch2")
    graft.streaming.EventStreams.countMinPartial(
        spark.table("retrop.events"), "term", 4, 64, 0L)
      .write.mode("overwrite").format("parquet")
      .saveAsTable("retrop.sketch2")
    val before2 = spark.table("retrop.sketch2").count()
    val mism = Cli.run(p, Seq("run-operation", "retract_countmin",
      "--args", "{table: retrop.sketch2, events: retrop.events, " +
        "deletes: retrop.takedowns, key: user_id, term: term, " +
        "depth: 4, width: 32}"))
    assert(mism.exists(m => m.contains("VERDICT FAILED") &&
      m.contains("cells differ")), mism)
    assert(spark.table("retrop.sketch2").count() == before2,
      "a width-mismatch verdict mutated the ledger")
  }

  test("cli: compact_ledger handles the sessions shape end-to-end") {
    import spark.implicits._
    val p = new Project(spark, Target("dev", "compactop", threads = 2))
    spark.sql("CREATE DATABASE IF NOT EXISTS compactop")
    spark.sql("DROP TABLE IF EXISTS compactop.sessions")
    val M = 60000000L
    Seq((1L, 0L, 10 * M, 2L, 0L), (1L, 100 * M, 110 * M, 3L, 0L),
        (1L, 11 * M, 20 * M, 2L, 1L), (1L, 200 * M, 210 * M, 1L, 2L))
      .toDF("u", "start_us", "end_us", "n", "batch_id")
      .write.mode("overwrite").format("parquet")
      .saveAsTable("compactop.sessions")
    def view() = graft.streaming.EventStreams
      .mergeSessionLedger(spark.table("compactop.sessions"), 1)
      .collect().map(_.toSeq).toSet
    val want = view()
    val before = spark.table("compactop.sessions").count()
    val out = Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.sessions, shape: sessions, gap: 1}"))
    assert(out.exists(_.startsWith("compacted compactop.sessions")), out)
    assert(view() == want, "compaction changed the stitched sessions")
    assert(spark.table("compactop.sessions").count() < before)
    assert(Cli.run(p, Seq("run-operation", "compact_ledger",
      "--args", "{table: compactop.sessions, shape: sessions}"))
      .exists(_.contains("integer gap")))
  }

  test("profiles file: target selection, env_var templating, threads") {
    val yaml =
      """# reference-shaped profiles file
        |graft_project:
        |  target: dev
        |  outputs:
        |    dev:
        |      schema: dev_analytics
        |      threads: 4
        |    prod:
        |      schema: "{{ env_var('GRAFT_PROD_SCHEMA', 'analytics') }}"
        |      threads: 16
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("profiles", ".yml")
    java.nio.file.Files.writeString(f, yaml)
    // default target from the file's `target:` key
    val dev = Profiles.load(f.toString)
    assert(dev == Target("dev", "dev_analytics", threads = 4))
    // explicit target override + env_var default
    val prod = Profiles.load(f.toString, target = Some("prod"))
    assert(prod == Target("prod", "analytics", threads = 16))
    // env_var set wins over the default
    val prodEnv = Profiles.fromYaml(yaml, target = Some("prod"),
      env = Map("GRAFT_PROD_SCHEMA" -> "analytics_prod"))
    assert(prodEnv.schema == "analytics_prod")
    // unknown target is an actionable error
    val e = intercept[IllegalArgumentException] {
      Profiles.load(f.toString, target = Some("staging"))
    }
    assert(e.getMessage.contains("staging") && e.getMessage.contains("dev"))
    // a loaded target drives a real project run
    val p = new Project(spark, dev)
    p.model("profiled", ModelConfig(materialized = Materialization.Table)) {
      ctx => import ctx.spark.implicits._; Seq(1).toDF("id")
    }
    assert(p.run().ok)
    assert(spark.table("dev_analytics.profiled").count() == 1)
  }

  test("cli debug: PASS on a healthy project, FAIL names the broken source") {
    val good = new Project(spark, Target("dev", "dbg", threads = 2))
    good.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    val out = Cli.run(good, Seq("debug"))
    assert(out.exists(_.startsWith("PASS engine")), out.mkString("; "))
    assert(out.exists(_.startsWith("PASS catalog")))
    assert(out.exists(_.startsWith("PASS warehouse writable")))
    assert(out.exists(_.startsWith("PASS source tpch.nation")))
    assert(out.last == "debug: all checks passed")

    val bad = new Project(spark, Target("dev", "dbg", threads = 2))
    bad.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    bad.source("tpch", "ghost", ParquetPath("/nonexistent/ghost.parquet"))
    val out2 = Cli.run(bad, Seq("debug"))
    assert(out2.exists(_.startsWith("PASS source tpch.nation")))
    assert(out2.exists(_.startsWith("FAIL source tpch.ghost")), out2.mkString("; "))
    assert(out2.last == "debug: FAIL")
  }

  test("compile: placeholder-resolved SQL against physical relations") {
    val p = new Project(spark, Target("dev", "cmpl", threads = 2))
    p.source("raw", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.model("cmpl_base", ModelConfig(materialized = Materialization.Table,
      alias = Some("base_aliased"))) {
      ctx => ctx.source("raw", "nation")
    }
    p.sqlModel("cmpl_top")(
      "select n_name from {{ ref('cmpl_base') }} " +
        "union all select n_name from {{ source('raw', 'nation') }}")
    p.analysis("cmpl_probe")("select count(*) as n from {{ ref('cmpl_top') }}")
    val out = Cli.run(p, Seq("compile"))
    // sql-text model: refs resolve to 2-part physical names (alias wins),
    // sources to their location
    val topSql = out(out.indexOf("-- compiled model.cmpl_top") + 1)
    assert(topSql.contains("cmpl.base_aliased"), topSql)
    assert(topSql.contains(s"parquet.`$sf0001/nation.parquet`"), topSql)
    assert(!topSql.contains("{{"), topSql)
    // analyses compile too; cmpl_top is a SQL view whose source is a
    // parquet PATH (not a catalog table), so the materializer creates a
    // temp view — the compiled ref names that relation, not a phantom
    // catalog one
    val probeSql = out(out.indexOf("-- compiled analysis.cmpl_probe") + 1)
    assert(probeSql.contains("cmpl__cmpl_top"), probeSql)
    // DataFrame models are noted, not silently dropped
    assert(out.exists(l => l.contains("model.cmpl_base") &&
      l.contains("Catalyst plan")), out)
    // ephemeral SQL refs INLINE as subqueries (a physical name would
    // reference a relation that never exists)
    p.sqlModel("cmpl_eph", ModelConfig(materialized =
      Materialization.Ephemeral))("select n_name from {{ ref('cmpl_base') }}")
    p.sqlModel("cmpl_over_eph")("select * from {{ ref('cmpl_eph') }}")
    val out2 = Cli.run(p, Seq("compile", "--select", "cmpl_over_eph"))
    val ephSql = out2(out2.indexOf("-- compiled model.cmpl_over_eph") + 1)
    assert(ephSql.contains("(select n_name from cmpl.base_aliased)"), ephSql)
    // --select reaches analyses by bare name
    val out3 = Cli.run(p, Seq("compile", "--select", "cmpl_probe"))
    assert(out3.contains("-- compiled analysis.cmpl_probe"), out3)
    // a DataFrame VIEW compiles to the temp-view name the materializer
    // actually creates (no catalog relation exists to reference)
    p.model("cmpl_dfview")(ctx => ctx.ref("cmpl_base"))
    p.sqlModel("cmpl_over_view")("select * from {{ ref('cmpl_dfview') }}")
    val out4 = Cli.run(p, Seq("compile", "--select", "cmpl_over_view"))
    val viewSql = out4(out4.indexOf("-- compiled model.cmpl_over_view") + 1)
    assert(viewSql.contains("cmpl__cmpl_dfview"), viewSql)
  }

  test("show: previews models and analyses under a limit") {
    val p = new Project(spark, Target("dev", "showv", threads = 2))
    p.model("shown", ModelConfig(materialized = Materialization.Table)) {
      ctx => import ctx.spark.implicits._
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    }
    p.analysis("show_probe")("select count(*) as n from {{ ref('shown') }}")
    assert(p.run().ok)
    val out = Cli.run(p, Seq("show", "--select", "shown", "--limit", "3"))
    assert(out.head == "id | v", out.head)
    assert(out.size == 4, out) // header + 3 rows
    val aOut = Cli.run(p, Seq("show", "--select", "show_probe"))
    assert(aOut == Seq("n", "10"), aOut)
    assert(Cli.run(p, Seq("show")).head.startsWith("show: pass --select"))
    // a name that is no node at all must be a message, not an escaped
    // NoSuchElementException (ADVICE r7)
    val unk = Cli.run(p, Seq("show", "--select", "no_such_node"))
    assert(unk.head.startsWith("show: unknown node 'no_such_node'"), unk)
  }

  test("analysis names share the node namespace (no silent shadowing)") {
    val p = new Project(spark, Target("dev", "anlyns", threads = 2))
    p.sqlModel("taken")("select 1 as a")
    assert(intercept[IllegalArgumentException] {
      p.analysis("taken")("select 2 as b")
    }.getMessage.contains("duplicate"))
    val p2 = new Project(spark, Target("dev", "anlyns2", threads = 2))
    p2.analysis("taken2")("select 2 as b")
    assert(intercept[IllegalArgumentException] {
      p2.sqlModel("taken2")("select 1 as a")
    }.getMessage.contains("duplicate"))
  }

  test("csv/json source locations resolve, document, and compile") {
    val dir = java.nio.file.Files.createTempDirectory("srcfmt")
    val csv = dir.resolve("c.csv")
    java.nio.file.Files.writeString(csv, "id,name\n1,alpha\n2,beta\n")
    val jsonl = dir.resolve("d.json")
    java.nio.file.Files.writeString(jsonl,
      "{\"id\": 3, \"name\": \"gamma\"}\n{\"id\": 4, \"name\": \"delta\"}\n")
    val p = new Project(spark, Target("dev", "srcfmt", threads = 2))
    p.source("raw", "c", CsvPath(csv.toString,
      schema = Some("id INT, name STRING")))
    p.source("raw", "d", JsonPath(jsonl.toString,
      schema = Some("id BIGINT, name STRING")))
    p.sqlModel("fmt_union", ModelConfig(materialized = Materialization.Table))(
      "select id, name from {{ source('raw', 'c') }} " +
        "union all select id, name from {{ source('raw', 'd') }}")
    assert(p.run().ok)
    val rows = spark.table("srcfmt.fmt_union").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma", 4L -> "delta"))
    // debug checks the new locations; docs carries their columns
    val dbg = Cli.run(p, Seq("debug"))
    assert(dbg.exists(_.startsWith("PASS source raw.c")), dbg)
    assert(dbg.exists(_.startsWith("PASS source raw.d")), dbg)
    val json = Docs.generate(p)
    assert(json.contains("\"source.raw.c\"") && json.contains("\"name\": \"string\""))
    // compile substitutes the typed path relations
    val compiled = Cli.run(p, Seq("compile"))
    val sql = compiled(compiled.indexOf("-- compiled model.fmt_union") + 1)
    assert(sql.contains(s"csv.`$csv`") && sql.contains(s"json.`$jsonl`"), sql)
  }

  test("orc and binaryFile source locations resolve and build") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srcfmt2")
    val orcDir = dir.resolve("o").toString
    Seq((5L, "epsilon"), (6L, "zeta")).toDF("id", "name")
      .write.mode("overwrite").orc(orcDir)
    val binDir = dir.resolve("b")
    java.nio.file.Files.createDirectories(binDir)
    java.nio.file.Files.write(binDir.resolve("img1.jpg"),
      Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(binDir.resolve("skip.txt"),
      Array[Byte](9))
    val p = new Project(spark, Target("dev", "srcfmt2", threads = 2))
    p.source("raw", "o", OrcPath(orcDir))
    p.source("raw", "b", BinaryPath(binDir.toString, glob = Some("*.jpg")))
    p.model("orc_rows", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.source("raw", "o")
    }
    // binary source feeds the multimodal convention: name + bytes
    p.model("bin_rows", ModelConfig(materialized = Materialization.Table)) {
      ctx =>
        ctx.source("raw", "b").select(
          element_at(split(col("path"), "/"), -1).as("file"),
          col("length"), col("content"))
    }
    assert(p.run().ok)
    assert(spark.table("srcfmt2.orc_rows").orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(5L, 6L))
    val bin = spark.table("srcfmt2.bin_rows").collect()
    assert(bin.length == 1, "glob did not filter to *.jpg")
    assert(bin.head.getString(0) == "img1.jpg" && bin.head.getLong(1) == 4L)
    assert(bin.head.getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2, 3, 4))
    // SQL-text models compile to format.`path` relations for both
    val p2 = new Project(spark, Target("dev", "srcfmt2b", threads = 2))
    p2.source("raw", "o", OrcPath(orcDir))
    p2.sqlModel("orc_sql")("select id from {{ source('raw', 'o') }}")
    val compiled = Cli.run(p2, Seq("compile"))
    val sql = compiled(compiled.indexOf("-- compiled model.orc_sql") + 1)
    assert(sql.contains(s"orc.`$orcDir`"), sql)
    // the streaming read path, for every path-based location: each source
    // streams into a StreamingTable whose rows equal its batch read
    def onePart(df: org.apache.spark.sql.DataFrame, to: String) = {
      val d = dir.resolve(to + "_src").toString
      df.coalesce(1).write.parquet(d)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      try files.filter(_.toString.endsWith(".parquet")).findFirst().get
      finally files.close()
    }
    val pqDir = dir.resolve("pq")
    java.nio.file.Files.createDirectories(pqDir)
    java.nio.file.Files.copy(onePart(Seq((7L, "eta")).toDF("id", "name"), "a"),
      pqDir.resolve("a.parquet"))
    // a sibling file the single-file location must not read
    java.nio.file.Files.copy(onePart(Seq((8L, "theta")).toDF("id", "name"), "b"),
      pqDir.resolve("b.parquet"))
    val csvDir = dir.resolve("csv")
    java.nio.file.Files.createDirectories(csvDir)
    java.nio.file.Files.writeString(csvDir.resolve("data.csv"),
      "id,name\n9,iota\n10,kappa\n")
    val jsonDir = dir.resolve("json")
    java.nio.file.Files.createDirectories(jsonDir)
    java.nio.file.Files.writeString(jsonDir.resolve("data.json"),
      "{\"id\": 11, \"name\": \"lambda\"}\n{\"id\": 12, \"name\": \"mu\"}\n")
    val locations = Seq(
      "o" -> OrcPath(orcDir),
      "pq_dir" -> ParquetPath(pqDir.toString),
      "pq_file" -> ParquetPath(pqDir.resolve("a.parquet").toString),
      "csv_inferred" -> CsvPath(csvDir.toString),
      "csv_ddl" -> CsvPath(csvDir.toString, schema = Some("id LONG, name STRING")),
      "json" -> JsonPath(jsonDir.toString),
      "bin" -> BinaryPath(binDir.toString, glob = Some("*.jpg")))
    val p3 = new Project(spark, Target("dev", "srcfmt2c", threads = 2))
    for ((name, loc) <- locations) {
      p3.source("raw", name, loc)
      p3.model(s"${name}_stream", ModelConfig(materialized =
        Materialization.StreamingTable())) { ctx =>
        ctx.sourceStream("raw", name)
      }
      p3.model(s"${name}_batch")(ctx => ctx.source("raw", name))
    }
    assert(p3.run().ok)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.mkString("|")).sorted
    for ((name, _) <- locations) {
      val streamed = spark.table(s"srcfmt2c.${name}_stream")
      val batch = p3.materializedDf(s"${name}_batch")
      assert(streamed.schema.map(f => f.name -> f.dataType) ==
        batch.schema.map(f => f.name -> f.dataType), name)
      assert(rows(streamed) == rows(batch), name)
    }
    assert(spark.table("srcfmt2c.o_stream").count() == 2)
    assert(spark.table("srcfmt2c.pq_dir_stream").count() == 2)
    assert(rows(spark.table("srcfmt2c.pq_file_stream")) == Seq("7|eta"))
    assert(rows(spark.table("srcfmt2c.csv_ddl_stream")) ==
      Seq("10|kappa", "9|iota"))
    assert(spark.table("srcfmt2c.bin_stream").count() == 1)
  }

  test("deps: lock-style report resolves every reference package") {
    val p = new Project(spark, Target("dev", "deps", threads = 2))
    val out = Cli.run(p, Seq("deps"))
    for (pkg <- Seq("yuki_snowflake_dbt_tags 0.2.5", "dbt_utils 1.3.1",
        "codegen 0.13.1", "dbt_project_evaluator 1.1.2"))
      assert(out.exists(l => l.startsWith("resolved: ") && l.contains(pkg)),
        s"$pkg not resolved: $out")
    assert(out.last.startsWith("deps: 4 packages resolved"))
  }

  test("kwargs parser: quoted values keep commas and colons") {
    val parsed = Cli.parseKwargs(
      "{schema: cliops, msg: 'a, b: c', q: \"x,y\", flag: true}")
    assert(parsed == Map(
      "schema" -> "cliops", "msg" -> "a, b: c", "q" -> "x,y",
      "flag" -> "true"))
  }

  test("cli --target rebinds the project via the profiles file") {
    val yaml =
      """graft_project:
        |  target: tdev
        |  outputs:
        |    tdev:
        |      schema: tgt_dev
        |      threads: 2
        |    tprod:
        |      schema: tgt_prod
        |      threads: 2
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("profiles_t", ".yml")
    java.nio.file.Files.writeString(f, yaml)
    val p = new Project(spark, Profiles.load(f.toString))
    p.model("envmodel", ModelConfig(materialized = Materialization.Table)) {
      ctx => import ctx.spark.implicits._; Seq(7).toDF("id")
    }
    // default target builds into dev; --target prod into prod — same
    // declarations, different namespace (README.md:162's --target flow)
    Cli.run(p, Seq("run"), profilesPath = Some(f.toString))
    Cli.run(p, Seq("run", "--target", "tprod"),
      profilesPath = Some(f.toString))
    assert(spark.table("tgt_dev.envmodel").count() == 1)
    assert(spark.table("tgt_prod.envmodel").count() == 1)
    // --target without a profiles file is an actionable error
    val err = Cli.run(p, Seq("run", "--target", "tprod"))
    assert(err.head.contains("no profiles file"), err.mkString("; "))
  }

  test("docs generate: one JSON artifact with nodes, columns, lineage") {
    val p = new Project(spark, Target("dev", "docsgen", threads = 2))
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.model("nations", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.source("tpch", "nation")
    }
    p.snapshot("nation_snap", uniqueKey = "n_nationkey",
      checkCols = Seq("n_name")) { ctx => ctx.ref("nations") }
    p.testNotNull("nations", "n_nationkey")
    assert(p.run().ok)
    val out = Cli.run(p, Seq("docs", "generate"))
    assert(out.size == 1)
    val json = out.head
    // must be real JSON — Spark's parser is the referee (a corrupt
    // document yields a _corrupt_record column instead of fields)
    import spark.implicits._
    val parsed = spark.read.option("mode", "FAILFAST").json(Seq(json).toDS)
    assert(parsed.columns.toSet ==
      Set("target", "invocation_id", "nodes", "edges"))
    // node entries with kind/relation/columns; edges carry lineage
    assert(json.contains("\"model.nations\""))
    assert(json.contains("\"snapshot.nation_snap\""))
    assert(json.contains("\"source.tpch.nation\""))
    assert(json.contains("\"test.not_null__nations__n_nationkey\""))
    assert(json.contains("\"relation\": \"docsgen.nations\""))
    assert(json.contains("{\"n_nationkey\": \"int\"}"), json.take(400))
    assert(json.contains("\"valid_to\": \"timestamp\""), "snapshot columns missing")
    // --output writes the same document
    val f = java.nio.file.Files.createTempFile("docs", ".json")
    Cli.run(p, Seq("docs", "generate", "--output", f.toString))
    assert(java.nio.file.Files.readString(f) == json)
  }

  test("analyses: linted + compiled + documented, never materialized") {
    val p = new Project(spark, Target("dev", "anly", threads = 2))
    p.model("anly_base", ModelConfig(materialized = Materialization.Table)) {
      ctx => import ctx.spark.implicits._; Seq(1, 2, 3).toDF("id")
    }
    p.analysis("adhoc_ids")(
      "select id from {{ ref('anly_base') }} where id > 1")
    // lints fire at declare time like a sql model's
    val e = intercept[IllegalArgumentException] {
      p.analysis("bad_semi")("select 1 as x;")
    }
    assert(e.getMessage.contains("trailing semicolon"))
    // ls lists it; docs carries the node with its resolved columns
    assert(Cli.run(p, Seq("ls")).contains("analysis.adhoc_ids"))
    val json = Docs.generate(p)
    assert(json.contains("\"analysis.adhoc_ids\""))
    assert(json.contains("\"kind\": \"analysis\""))
    // compiled: the ref edge is recorded
    assert(p.compile().upstream("analysis.adhoc_ids") == Set("model.anly_base"))
    // run/build never execute or materialize an analysis
    val res = p.run()
    assert(res.ok)
    assert(!res.results.exists(_.id.startsWith("analysis.")), res.results)
    assert(!spark.catalog.tableExists("anly.adhoc_ids"))
  }

  test("docs serve: one self-contained HTML artifact with every DAG node") {
    val p = new Project(spark, Target("dev", "docssrv", threads = 2))
    p.source("tpch", "nation", ParquetPath(s"$sf0001/nation.parquet"))
    p.model("nations_site", ModelConfig(materialized = Materialization.Table)) {
      ctx => ctx.source("tpch", "nation")
    }
    p.testNotNull("nations_site", "n_nationkey")
    p.analysis("nation_probe")("select count(*) as n from {{ ref('nations_site') }}")
    assert(p.run().ok)
    val f = java.nio.file.Files.createTempFile("docs", ".html")
    val out = Cli.run(p, Seq("docs", "serve", "--output", f.toString))
    assert(out.exists(_.startsWith("docs site written to")), out)
    val html = java.nio.file.Files.readString(f)
    // every DAG node is present, anchored, and linked for lineage
    val graph = p.compile()
    graph.nodes.keys.foreach { id =>
      assert(html.contains(s"""id="$id""""), s"node $id missing from docs site")
    }
    assert(html.contains("<!doctype html"))
    assert(!html.matches("(?s).*(src|href)=\"http.*"), "external asset reference")
    // columns and test coverage render
    assert(html.contains("n_nationkey"))
    assert(html.contains("test.not_null__nations_site__n_nationkey"))
    // lineage: the model links its upstream source
    assert(html.contains("#source.tpch.nation"))
    // the DAG renders as an inline SVG: every edge is a <path> carrying
    // data-from/data-to, every node a clickable <rect> anchor — and the
    // fixture has edges at three depths (source -> model -> test/analysis)
    assert(graph.edges.exists(_._2.nonEmpty), "fixture lost its edges")
    for ((id, ups) <- graph.edges; up <- ups)
      assert(html.contains(
        s"""<path class=edge data-from="$up" data-to="$id""""),
        s"DAG edge $up -> $id missing from the SVG")
    graph.nodes.keys.foreach { id =>
      assert(html.contains(s"""<title>$id</title>"""),
        s"node $id missing an SVG box")
    }
    // sources sit at layer 0 (x = left margin), their dependents deeper
    val svg = html.substring(html.indexOf("<svg"), html.indexOf("</svg>"))
    val xOf = """<rect x="(\d+)"[^>]*><title>([^<]+)</title>""".r
    val boxes = xOf.findAllMatchIn(svg)
      .map(m => m.group(2) -> m.group(1).toInt).toMap
    assert(boxes("source.tpch.nation") < boxes("model.nations_site"),
      boxes.toString)
    assert(boxes("model.nations_site") <
      boxes("test.not_null__nations_site__n_nationkey"), boxes.toString)
  }

  test("docs render an empty project (zero nodes) without crashing") {
    // ADVICE r8: layerOf.values.max threw on a node-less graph
    val p = new Project(spark, Target("dev", "docsempty", threads = 2))
    val html = Docs.renderHtml(p)
    assert(html.contains("<!doctype html"))
    assert(Docs.generate(p).nonEmpty)
  }

  test("declare-time sql lints: trailing semicolon and parse errors fire") {
    val p = new Project(spark, Target("dev", "lints", threads = 2))
    val semi = intercept[IllegalArgumentException] {
      p.sqlModel("bad_semi")("select 1 as id;")
    }
    assert(semi.getMessage.contains("trailing semicolon"))
    // a semicolon hidden before a trailing comment still fires
    val semiComment = intercept[IllegalArgumentException] {
      p.sqlModel("bad_semi2")("select 1 as id; -- done")
    }
    assert(semiComment.getMessage.contains("trailing semicolon"))
    val parse = intercept[IllegalArgumentException] {
      p.sqlModel("bad_parse")("selec 1 as id")
    }
    assert(parse.getMessage.contains("does not parse"))
    // clean model (with placeholders and comments) declares fine and runs
    p.model("base")(ctx =>
      { import ctx.spark.implicits._; Seq(7).toDF("id") })
    p.sqlModel("clean")(
      "-- a comment; with a semicolon\nselect id from {{ ref('base') }}")
    assert(p.run().ok)
    assert(p.materializedDf("clean").collect().head.getInt(0) == 7)
  }
}
