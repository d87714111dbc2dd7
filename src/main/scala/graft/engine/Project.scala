package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import java.util.concurrent.Executors
import SqlTemplate.{Placeholder, Ref, Src}

/** The project registry + runner: models/sources/seeds/tests are declared
  * as Scala values. `compile()` records the `ref`/`source` edges: a
  * SQL-text model's or an analysis' from its template text, a DataFrame
  * model's or a snapshot's by running its build function once with
  * `is_incremental()` false (dbt's parse-time rule). Plans are
  * resolved lazily (memoized, cycle-checked) when something asks for one.
  * `run()` builds the DAG in topological order with bounded parallelism
  * (the reference's `threads: 16` contract) and interleaves data tests
  * `dbt build`-style: a failing test blocks downstream models
  * (`README.md:280`). While one `run`/`build`/`testOnly` is in flight, a
  * memo shares each source read and each view or ephemeral exec-time plan
  * across its node threads; it is dropped when the call returns.
  */
final class Project(val spark: SparkSession, val target: Target) {

  private val models = mutable.LinkedHashMap[String, Model]()
  private val sources = mutable.LinkedHashMap[(String, String), SourceDef]()
  private val seeds = mutable.LinkedHashMap[String, Seed]()
  private val snapshots = mutable.LinkedHashMap[String, Snapshot]()
  private val analyses = mutable.LinkedHashMap[String, Analysis]()
  private val tests = mutable.ArrayBuffer[DataTest]()

  // ---- declaration API -------------------------------------------------

  def model(name: String, config: ModelConfig = ModelConfig())(
      build: Ctx => DataFrame): this.type = {
    requireNewName(name)
    models(name) = Model(name, config, build)
    this
  }

  /** Models, snapshots and analyses share one name space: snapshots share
    * the ref namespace ('model wins' on resolution), so a model shadowing
    * an earlier snapshot must fail at declare time just like the reverse
    * order does; analyses share the compiledSql namespace. */
  private def requireNewName(name: String): Unit =
    require(!models.contains(name) && !snapshots.contains(name) &&
      !analyses.contains(name), s"duplicate node $name")

  /** SQL-text model: the text is parsed once, here, into a [[SqlTemplate]]
    * of `{{ ref('x') }}` / `{{ source('a','b') }}` placeholders (the
    * reference's compile step without a template engine). A build renders
    * them as temp views; compile, [[compiledSql]], view materialization
    * ([[persistentViewSql]]) and the lints render the same template. */
  def sqlModel(name: String, config: ModelConfig = ModelConfig())(
      sql: String): this.type = {
    requireNewName(name)
    val text = SqlTemplate.parse(sql)
    Project.lintSqlModel(spark, name, text)
    models(name) = Model(name, config, sqlBuild(text), sqlText = Some(text))
    this
  }

  /** Build function for SQL text: each distinct placeholder renders as a
    * temp view bound to its `ctx.ref`/`ctx.source` before `spark.sql`
    * (shared by [[sqlModel]] and [[analysis]]). The view names carry a
    * number unique to this build, so concurrent builds that bind one
    * dependency to different plans never read each other's binding, and
    * the views are dropped once `spark.sql` has analyzed the text (the
    * plan holds what they bound). */
  private def sqlBuild(sql: SqlTemplate): Ctx => DataFrame = { ctx =>
    val build = Project.buildSeq.incrementAndGet()
    val views = mutable.Map[Placeholder, String]()
    def bind(p: Placeholder): String = views.getOrElseUpdate(p, {
      val (prefix, df) = p match {
        case Ref(d) => (s"graft_ref_${Ident.normalize(d)}", ctx.ref(d))
        case Src(s0, t0) => (s"graft_src_${Ident.normalize(s0)}_" +
          Ident.normalize(t0), ctx.source(s0, t0))
      }
      val view = s"${prefix}_$build"
      df.createOrReplaceTempView(view)
      view
    })
    try ctx.spark.sql(sql.render(bind))
    finally views.values.foreach(ctx.spark.catalog.dropTempView)
  }

  /** Declare an analysis — the reference's `analyses/` resource slot
    * (`dbt_project.yml:15` `analysis-paths`): SQL that is linted and
    * compiled with the project (edges are recorded from its text, its
    * plan resolves when docs or `show` ask, docs/`ls` list it) but NEVER
    * materialized by run/build — dbt has no command that executes an
    * analysis. */
  def analysis(name: String)(sql: String): this.type = {
    requireNewName(name)
    val text = SqlTemplate.parse(sql)
    Project.lintSqlModel(spark, name, text)
    analyses(name) = Analysis(name, text)
    this
  }

  private[engine] def sourceDefs: Seq[SourceDef] = sources.values.toSeq
  /** Resolve a source to its schema (throws when unreadable) — the
    * `dbt debug` source check. */
  private[engine] def checkSource(sd: SourceDef): Unit = sourceDf(sd).schema
  /** Source schema if resolvable (docs generation never fails on a
    * broken source — debug reports those). */
  private[engine] def sourceSchema(sd: SourceDef): Option[org.apache.spark.sql.types.StructType] =
    try Some(sourceDf(sd).schema) catch { case _: Exception => None }

  def source(sourceName: String, table: String, location: SourceLocation): this.type = {
    sources((sourceName, table)) = SourceDef(sourceName, table, location)
    this
  }

  def seed(name: String, csvPath: String): this.type = {
    seeds(name) = Seed(name, csvPath)
    this
  }

  /** Declare an SCD-2 snapshot as a graph node (the reference's
    * `snapshot-paths` resource — `dbt_project.yml:19`). It participates
    * in `run --select`, topo ordering, and the orphan macro's claimed
    * set; downstream models `ref(name)` the accumulated SCD-2 table. */
  def snapshot(name: String, uniqueKey: String, checkCols: Seq[String],
      config: ModelConfig = ModelConfig(Materialization.Table),
      asOf: () => java.sql.Timestamp =
        () => new java.sql.Timestamp(System.currentTimeMillis()),
      partitions: Option[Int] = None)(
      build: Ctx => DataFrame): this.type = {
    requireNewName(name)
    snapshots(name) =
      Snapshot(name, build, uniqueKey, checkCols, config, asOf, partitions)
    this
  }

  def test(t: DataTest): this.type = { tests += t; this }

  /** Declare a dbt-style UNIT test (dbt-core 1.8 `unit_tests:`): the
    * model's build function runs against MOCKED inputs only and the
    * result is compared to `expect` as a row multiset. `given` keys are
    * the mocked dependency names — a model name (what the build's
    * `ctx.ref` resolves to, after versioning; snapshots by their name)
    * or `"source.<source>.<table>"`. Every dependency the build touches
    * must be mocked: resolving an unmocked one fails the test with the
    * mocked-key list, so a unit test can never silently read production
    * relations. `isIncremental` is false under the mock context (the
    * dbt default — unit tests exercise the full-refresh branch). */
  def unitTest(name: String, model: String, given: Map[String, DataFrame],
      expect: DataFrame): this.type = {
    require(!unitTestDefs.contains(name), s"duplicate unit test $name")
    unitTestDefs(name) = UnitTestDef(name, model, given, expect)
    this
  }

  private val unitTestDefs = mutable.LinkedHashMap[String, UnitTestDef]()

  /** Run every declared unit test (or those for one `model`). */
  def runUnitTests(model: String = "*"): Seq[UnitTestResult] =
    unitTestDefs.values.toSeq
      .filter(ut => model == "*" || ut.modelName == model)
      .map(runUnitTest)

  private def runUnitTest(ut: UnitTestDef): UnitTestResult =
    models.get(ut.modelName) match {
      case None => UnitTestResult(ut.name, ut.modelName, ok = false, 0, 0,
        s"unknown model '${ut.modelName}'")
      case Some(m) =>
        val mockCtx = new Ctx(
          spark,
          (dep0, version) => {
            val dep =
              try refTarget(dep0, version).name
              catch { case _: NoSuchElementException => dep0 }
            ut.given.getOrElse(dep, ut.given.getOrElse(dep0,
              throw new NoSuchElementException(
                s"unit test '${ut.name}': ref('$dep0') -> '$dep' is not " +
                s"mocked (given: ${ut.given.keys.mkString(", ")})")))
          },
          (s0, t0) => ut.given.getOrElse(s"source.$s0.$t0",
            throw new NoSuchElementException(
              s"unit test '${ut.name}': source('$s0','$t0') is not " +
              s"mocked (given: ${ut.given.keys.mkString(", ")})")))
        try {
          val got = m.build(mockCtx)
          val gotCols = got.columns.toSeq
          val expCols = ut.expect.columns.toSeq
          if (gotCols.toSet != expCols.toSet)
            UnitTestResult(ut.name, ut.modelName, ok = false, 0, 0,
              s"column mismatch: got ${gotCols.mkString(",")} expected " +
              expCols.mkString(","))
          else {
            // row-multiset compare via collected counted rows (exceptAll
            // is unreliable on some Spark 4.1 plans — BASELINE.md note);
            // unit-test fixtures are small by construction
            def counted(df: DataFrame): Map[String, Int] =
              df.select(expCols.map(org.apache.spark.sql.functions.col): _*)
                .collect()
                .groupBy(_.toString).view.mapValues(_.length).toMap
            val g = counted(got)
            val e = counted(ut.expect)
            val missing = e.map { case (r, n) =>
              math.max(n - g.getOrElse(r, 0), 0) }.sum
            val unexpected = g.map { case (r, n) =>
              math.max(n - e.getOrElse(r, 0), 0) }.sum
            val detail =
              if (missing + unexpected == 0) ""
              else {
                val miss = e.keys.filterNot(g.contains).take(3)
                val unex = g.keys.filterNot(e.contains).take(3)
                s"missing=${miss.mkString(";")} unexpected=${unex.mkString(";")}"
              }
            UnitTestResult(ut.name, ut.modelName,
              ok = missing + unexpected == 0,
              missing.toLong, unexpected.toLong, detail)
          }
        } catch {
          case e: Exception =>
            UnitTestResult(ut.name, ut.modelName, ok = false, 0, 0,
              s"build failed: ${e.getMessage}")
        }
    }

  /** Rebind every declaration to another target (dbt `--target`,
    * `README.md:162`): same models/sources/seeds/snapshots/tests/hooks,
    * different schema/threads. The new instance resolves fresh against
    * its own schema namespace — no compile state is shared. */
  def withTarget(newTarget: Target): Project = {
    val p = new Project(spark, newTarget)
    models.foreach { case (k, v) => p.models(k) = v }
    sources.foreach { case (k, v) => p.sources(k) = v }
    seeds.foreach { case (k, v) => p.seeds(k) = v }
    snapshots.foreach { case (k, v) => p.snapshots(k) = v }
    analyses.foreach { case (k, v) => p.analyses(k) = v }
    tests.foreach(p.tests += _)
    unitTestDefs.foreach { case (k, v) => p.unitTestDefs(k) = v }
    runStartHooks.foreach(p.runStartHooks += _)
    runEndHooks.foreach(p.runEndHooks += _)
    p.failuresSchema = failuresSchema
    p
  }

  private var failuresSchema: Option[String] = None
  /** dbt `store_failures`: failing tests persist their violations table
    * to `<schema>.<test_name>` for post-mortem queries. */
  def storeFailuresIn(schema: String): this.type = {
    failuresSchema = Some(Ident.normalize(schema)); this
  }

  /** The generic-test quartet (schema.yml tests + the standard remainder
    * of the family — SURVEY.md §2.10). */
  def testUnique(model: String, column: String): this.type =
    test(DataTest(s"unique__${model}__$column", model,
      GenericTests.unique(_, column)))
  def testNotNull(model: String, column: String): this.type =
    test(DataTest(s"not_null__${model}__$column", model,
      GenericTests.notNull(_, column)))
  def testAcceptedValues(model: String, column: String, values: Seq[Any]): this.type =
    test(DataTest(s"accepted_values__${model}__$column", model,
      GenericTests.acceptedValues(_, column, values)))
  def testRelationship(model: String, column: String,
      toModel: String, toColumn: String): this.type =
    test(DataTest(s"relationships__${model}__$column", model, df =>
      GenericTests.relationships(df, column, resolve(toModel), toColumn),
      parents = Seq(toModel)))
  def testUniqueCombination(model: String, columns: Seq[String]): this.type =
    test(DataTest(s"unique_combination__${model}__${columns.mkString("_")}",
      model, GenericTests.uniqueCombination(_, columns)))
  def testExpressionIsTrue(model: String, name: String, sqlExpr: String): this.type =
    test(DataTest(s"expression_is_true__${model}__$name", model,
      GenericTests.expressionIsTrue(_, sqlExpr)))
  def testEqualRowcount(model: String, otherModel: String): this.type =
    test(DataTest(s"equal_rowcount__${model}__$otherModel", model, df =>
      GenericTests.equalRowcount(df, materializedDf(otherModel))))
  def testAcceptedRange(model: String, column: String, lo: Any, hi: Any): this.type =
    test(DataTest(s"accepted_range__${model}__$column", model,
      GenericTests.acceptedRange(_, column, lo, hi)))
  def testNotConstant(model: String, column: String): this.type =
    test(DataTest(s"not_constant__${model}__$column", model,
      GenericTests.notConstant(_, column)))
  def testRecency(model: String, tsCol: String,
      notBefore: java.sql.Timestamp): this.type =
    test(DataTest(s"recency__${model}__$tsCol", model,
      GenericTests.recency(_, tsCol, notBefore)))

  // ---- naming ----------------------------------------------------------

  /** `generate_schema_name` semantics: custom schema verbatim (trimmed),
    * else target schema; never env-prefixed. */
  def schemaFor(config: ModelConfig): String =
    Ident.normalize(config.schema.map(_.trim).getOrElse(target.schema))

  /** Physical 2-part name (ref.sql strips the database — 2 parts, always). */
  def physicalName(m: Model): String =
    s"${schemaFor(m.config)}.${Ident.normalize(m.config.alias.getOrElse(m.name))}"
  def physicalName(s: Seed): String =
    s"${schemaFor(s.config)}.${Ident.normalize(s.name)}"
  def physicalName(s: Snapshot): String =
    s"${schemaFor(s.config)}.${Ident.normalize(s.config.alias.getOrElse(s.name))}"

  // ---- compile: edges from template text, plans on demand ---------------

  /** The one ref-name rule: the node `ref(name)` or `ref(name, v)` reads.
    * `ref(name, v)` reads the model declared as `name_vN` (the reference's
    * ref() override accepts `version=` — `macros/overrides/ref.sql:11-18`).
    * An unversioned `ref(name)` reads the model `name`, else the LATEST
    * declared `name_vN` (dbt's versioned-model rule), else the snapshot
    * `name` (snapshots share the ref namespace; a model of the same name
    * wins, versioned refs are models-only). Any other name is unknown.
    * [[ctxFor]], the template-edge pass [[textEdges]], the compiled
    * relation, the persistent-view render and the unit-test mock all ask
    * this one function. */
  private def refTarget(name: String, version: Option[Int]): Node =
    version match {
      case Some(v) => models.getOrElse(s"${name}_v$v",
        throw new NoSuchElementException(
          s"unknown version $v of model '$name' (no model named '${name}_v$v')"))
      case None =>
        val pat = (java.util.regex.Pattern.quote(name) + "_v(\\d+)").r
        models.get(name)
          .orElse(models.keys.collect { case k @ pat(n) => (n.toInt, k) }
            .maxByOption(_._1).map(v => models(v._2)))
          .orElse(snapshots.get(name))
          .getOrElse(throw new NoSuchElementException(s"unknown model '$name'"))
    }

  private def declaredModel(name: String): Model = models.getOrElse(name,
    throw new NoSuchElementException(s"unknown model '$name'"))

  private def declaredSource(s0: String, t0: String): SourceDef =
    sources.getOrElse((s0, t0),
      throw new NoSuchElementException(s"unknown source '$s0.$t0'"))

  private val edges = mutable.Map[String, mutable.Set[String]]()

  // synchronized: exec-time resolution records edges from the run thread
  // pool, and compile-time resolution can run there too
  private def recordEdge(from: String, to: String): Unit = edges.synchronized {
    edges.getOrElseUpdate(from, mutable.Set()) += to
  }

  /** The edges of SQL text (a SQL-text model or an analysis), read from
    * its placeholders through [[refTarget]] and the declared sources —
    * what dbt's compile step learns by rendering `ref()`/`source()`,
    * without resolving a plan. */
  private def textEdges(nodeId: String, sql: SqlTemplate): Unit =
    sql.placeholders.foreach(p => recordEdge(nodeId, (p match {
      case Ref(name) => refTarget(name, None)
      case Src(s0, t0) => declaredSource(s0, t0)
    }).id))

  // compile-time plans by node id, kept for the project's life. One lock
  // guards them and the `resolving` cycle set: resolution also happens
  // mid-run on node threads (a relationships test, a snapshot ref before
  // the snapshot's first build).
  private val compileLock = new Object
  private val compiled = mutable.Map[String, DataFrame]()
  private val resolving = mutable.LinkedHashSet[String]() // cycle detection

  /** The memoized compile-time plan of `node`, built with compile-time
    * refs; a node that (transitively) refs itself while building fails
    * with the chain instead of recursing. */
  private def compileNode(node: Node, build: Ctx => DataFrame): DataFrame =
    compileLock.synchronized {
      compiled.getOrElse(node.id, {
        if (!resolving.add(node.id))
          throw new IllegalStateException(
            s"ref cycle: ${resolving.mkString(" -> ")} -> ${node.id}")
        val df = try build(ctxFor(node.id, None))
          finally resolving.remove(node.id)
        compiled(node.id) = df
        df
      })
    }

  /** Resolve a model to its (lazy) compile-time DataFrame: the
    * full-refresh branch (`is_incremental()` is false). Ephemeral models
    * inline; materialized models still resolve to the *unbuilt* plan here
    * — the runner decides what to persist. */
  def resolve(name: String): DataFrame = {
    val m = declaredModel(name)
    compileNode(m, m.build)
  }

  /** Resolve a snapshot's FRESH query (memoized; records its ref/source
    * edges like a model build). A snapshot whose fresh query
    * (transitively) refs itself before its first build fails as a ref
    * cycle instead of recursing through [[snapshotDf]]. */
  private def resolveSnapshotFresh(name: String): DataFrame = {
    val s = snapshots(name)
    compileNode(s, s.build)
  }

  /** Resolve an analysis to its (never-materialized) plan — memoized;
    * used by docs column introspection and `show`. */
  private[engine] def resolveAnalysis(name: String): DataFrame = {
    val a = analyses.getOrElse(name,
      throw new NoSuchElementException(s"unknown analysis '$name'"))
    compileNode(a, sqlBuild(a.sqlText))
  }

  /** What a `ref` to a snapshot reads: the accumulated SCD-2 table once
    * built; before first build, the first-run-shaped plan (same schema,
    * epoch timestamp) so compile-time resolution can type-check and
    * record edges. */
  private def snapshotDf(s: Snapshot): DataFrame =
    if (spark.catalog.tableExists(physicalName(s))) spark.table(physicalName(s))
    else Materializer.snapshotFirstRun(resolveSnapshotFresh(s.name),
      s.checkCols, new java.sql.Timestamp(0L), s.uniqueKey, s.partitions)

  // ---- one memo per invocation -------------------------------------------

  /** One memo entry: made by the first caller, under the entry's own
    * lock, while later callers of the same key wait for it. */
  private final class Once(make: () => DataFrame) {
    lazy val value: DataFrame = make()
  }

  /** The memo of the `run`/`build`/`testOnly` in flight, keyed by node
    * id; `None` between invocations, so a reused project, or
    * `materializedDf` after a run, reads afresh. One invocation at a
    * time per project. */
  @volatile private var invocation
      : Option[java.util.concurrent.ConcurrentHashMap[String, Once]] = None

  /** `body` as one invocation: one memo serves it and is dropped after. */
  private def invoke[A](body: => A): A = {
    invocation = Some(new java.util.concurrent.ConcurrentHashMap[String, Once]())
    try body finally invocation = None
  }

  /** `make` once per invocation under `key`; outside one, on every call. */
  private def perInvocation(key: String)(make: => DataFrame): DataFrame =
    invocation match {
      case Some(memo) => memo.computeIfAbsent(key, _ => new Once(() => make)).value
      case None => make
    }

  /** A source read — once per invocation, so a run lists and infers each
    * source once (compile-time and exec-time resolution alike). */
  private def sourceDf(s: SourceDef): DataFrame =
    perInvocation(s.id)(s.location.reader.fold(spark.table, _.batch(spark)))

  /** Streaming read of a source: [[FileRead.stream]], or
    * `readStream.table` for catalog tables. */
  private def sourceStreamDf(s: SourceDef): DataFrame =
    s.location.reader.fold(spark.readStream.table, _.stream(spark))

  /** The one project [[Ctx]]. At compile time (`execMemo` empty) a model
    * ref is the memoized compile-time plan ([[resolve]]), every ref and
    * source records its edge, and `this` is unbound: `is_incremental()`
    * is false, as in dbt's parse, so a build compiles its full-refresh
    * branch and runs no query on its own table. At exec time a model ref
    * goes through [[execRef]] and `this` is the model's relation. The
    * ref-name rule ([[refTarget]]), snapshot refs and sources are the
    * same for both. */
  private def ctxFor(nodeId: String,
      execMemo: Option[mutable.Map[String, DataFrame]]): Ctx = {
    def edge(to: String, call: => String): Unit =
      if (execMemo.isDefined && invocation.isDefined) requireEdge(nodeId, to, call)
      else recordEdge(nodeId, to)
    def source(s0: String, t0: String): SourceDef = {
      val sd = declaredSource(s0, t0)
      edge(sd.id, s"source('$s0', '$t0')")
      sd
    }
    new Ctx(
      spark,
      (name, version) => {
        val dep = refTarget(name, version)
        edge(dep.id, s"ref('$name'${version.fold("")(v => s", $v")})")
        dep match {
          case s: Snapshot => snapshotDf(s)
          case m => execMemo.fold(resolve(m.name))(execRef(_)(m.name))
        }
      },
      (s0, t0) => sourceDf(source(s0, t0)),
      thisPhysical = execMemo.flatMap(_ =>
        models.get(nodeId.stripPrefix("model.")).map(physicalName)),
      resolveSourceStream = (s0, t0) => sourceStreamDf(source(s0, t0)))
  }

  /** The guard for what compile cannot see: while a run is in flight, its
    * graph is the one `compile()` recorded, so a ref or source a build
    * reaches only at exec time (say under `ctx.isIncremental`) has no
    * edge, and the node could run before that upstream. It fails the node
    * instead, naming the call — dbt's "unable to infer all dependencies"
    * error. */
  private def requireEdge(from: String, to: String, call: String): Unit =
    if (!edges.synchronized(edges.get(from).exists(_.contains(to))))
      throw new IllegalStateException(
        s"unable to infer all dependencies for $from: $call ($to) is " +
          "reached only at run time, e.g. under ctx.isIncremental; compile " +
          "runs the full-refresh branch, so make the call on every branch")

  /** Execution-time resolution (dbt ref semantics): a ref to a physically
    * materialized upstream (table / incremental / bucketed /
    * insert-overwrite) reads the MATERIALIZED relation — so downstream of
    * an incremental model sees the accumulated table, not the
    * is_incremental-filtered batch, and table upstreams are read, not
    * recomputed. Only view/ephemeral upstreams keep plan inlining. A
    * physical model's plan is made afresh by each call (its
    * `is_incremental` state changes as the run progresses; topo order
    * guarantees upstreams are built first) and memoized within the call,
    * so a diamond costs one build per dep, not 2^depth. A view's or an
    * ephemeral's plan that reads only sources is made once per invocation
    * ([[readsOnlySources]]). */
  private[engine] def resolveForRun(name: String): DataFrame =
    execResolve(declaredModel(name), mutable.Map[String, DataFrame]())

  private def execResolve(m: Model,
      memo: mutable.Map[String, DataFrame]): DataFrame = {
    def build = memo.getOrElseUpdate(m.name, m.build(ctxFor(m.id, Some(memo))))
    if (m.config.materialized.isPhysical || !readsOnlySources(m.id)) build
    else perInvocation(m.id)(build)
  }

  /** Whether node `id` reads only sources: each of its edges leads to a
    * source, or to a view or ephemeral that itself reads only sources.
    * Such a plan cannot change during a run. A plan that reads a model's
    * table or a snapshot can: that relation may be (re)written later in
    * the run, so it is made per call. */
  private def readsOnlySources(id: String): Boolean =
    edges.synchronized(edges.get(id).map(_.toSet)).getOrElse(Set.empty)
      .forall(up => sources.values.exists(_.id == up) ||
        models.values.exists(m => m.id == up &&
          !m.config.materialized.isPhysical && readsOnlySources(up)))

  /** The exec-time ref rule: read the catalog table if the upstream is
    * physical and built, otherwise build its plan. */
  private def execRef(memo: mutable.Map[String, DataFrame])(
      name: String): DataFrame = {
    val m = declaredModel(name)
    if (m.config.materialized.isPhysical &&
        spark.catalog.tableExists(physicalName(m))) spark.table(physicalName(m))
    else if (m.config.materialized.isInstanceOf[Materialization.StreamingTable])
      // re-running the build would hand a STREAMING DataFrame to a batch
      // consumer — Spark's 'must be executed with writeStream.start()'
      // error is opaque; fail actionably
      throw new IllegalStateException(
        s"model.$name is a StreamingTable that has not been " +
          "built yet — run it before batch consumers read it " +
          "(topo-ordered run() does; ad-hoc resolution cannot)")
    else execResolve(m, memo) // a view, or a physical upstream not built yet
  }

  /** dbt `compile` analogue for SQL-text nodes: the declared SQL with
    * every placeholder replaced by the PHYSICAL relation it resolves to
    * (2-part schema.alias for refs — snapshot refs included; catalog
    * table or `parquet.`path`` for sources) — what dbt writes under
    * target/compiled. DataFrame models carry no SQL text; they compile
    * to Catalyst plans directly. */
  def compiledSql(name: String): Option[String] =
    models.get(name).flatMap(_.sqlText)
      .orElse(analyses.get(name).map(_.sqlText))
      .map(substitutePhysical(_))

  private def substitutePhysical(sql: SqlTemplate,
      inlining: Set[String] = Set.empty): String =
    sql.render {
      case Ref(dep) => compiledRelation(dep, inlining)
      case Src(s0, t0) =>
        declaredSource(s0, t0).location.reader.fold(identity, _.relation)
    }

  /** A SQL-text model's body as a persistent view: each placeholder
    * rendered to a catalog relation, defined only when every ref names
    * ([[refTarget]]) a physical model and every source is a catalog table
    * (a persistent view cannot read session temp views). */
  private[engine] def persistentViewSql(m: Model): Option[String] = {
    def relation(p: Placeholder): Option[String] = p match {
      case Ref(name) => Some(refTarget(name, None)).collect {
        case dep: Model if dep.config.materialized.isPhysical => physicalName(dep)
      } // a snapshot too: its views stay temporary, adding no catalog writes
      case Src(s0, t0) => declaredSource(s0, t0).location.reader.left.toOption
    }
    m.sqlText.filter(_.placeholders.forall(relation(_).isDefined))
      .map(_.render(relation(_).get))
  }

  /** What a compiled ref to `dep` reads (dbt-compile semantics): the
    * 2-part physical name for physically-materialized models and
    * snapshots; an INLINED parenthesized subquery for ephemeral SQL
    * models (dbt inlines ephemerals — a physical name would reference a
    * relation that never exists); the catalog-view name for SQL views
    * whose dependencies are all physical (those become real views), else
    * the session temp-view name the materializer actually creates. */
  private def compiledRelation(dep: String, inlining: Set[String]): String =
    refTarget(dep, None) match {
      case dm: Model => dm.config.materialized match {
        case Materialization.Ephemeral => dm.sqlText match {
          case Some(depSql) =>
            if (inlining.contains(dm.name)) throw new IllegalStateException(
              s"ref cycle while inlining ephemeral '$dep' in compile")
            "(" + substitutePhysical(depSql, inlining + dm.name) + ")"
          case None => throw new UnsupportedOperationException(
            s"compile: ref('$dep') targets an ephemeral DataFrame model — " +
              "no SQL text to inline; materialize it or declare it as a " +
              "sqlModel")
        }
        case Materialization.View if persistentViewSql(dm).isEmpty =>
          physicalName(dm).replace(".", "__") // session temp view
        case _ => physicalName(dm)
      }
      case snapshot => physicalName(snapshots(snapshot.name))
    }

  private[engine] def hasAnalysis(name: String): Boolean =
    analyses.contains(name)

  /** The introspectable graph. A SQL-text model's or an analysis' edges
    * come from its template text ([[textEdges]]), as dbt's compile step
    * renders `ref()`/`source()` without planning anything; its plan is
    * resolved only when something asks for it ([[resolve]], docs, the
    * manifest, a DataFrame model's `ctx.ref`, the relationships test). A
    * DataFrame model's or a snapshot's build function runs (memoized),
    * because running it is the only way to learn its edges. It runs with
    * `this` unbound: `is_incremental()` is false at compile, as in dbt's
    * parse, so an incremental model records the edges of its full-refresh
    * branch and its cursor query runs only when it is built. A model must
    * therefore make its refs on every branch; one made only under
    * `ctx.isIncremental` fails that node at run time ([[requireEdge]]).
    * Unknown `ref`/`source` names and ref cycles fail it. */
  def compile(): ProjectGraph = {
    for (m <- models.values) m.sqlText match {
      case Some(sql) => textEdges(m.id, sql)
      case None => resolve(m.name)
    }
    snapshots.keys.foreach(resolveSnapshotFresh) // records snapshot edges
    analyses.values.foreach(a => textEdges(a.id, a.sqlText)) // never run
    val testNodes = tests.map(t => t.id -> (t: Node))
    tests.foreach { t =>
      t.parents.foreach(declaredModel)
      recordEdge(t.id, testTargetId(t.modelName))
    }
    val graph = ProjectGraph(
      (models.values.map(m => m.id -> (m: Node)) ++
        sources.values.map(s => s.id -> (s: Node)) ++
        seeds.values.map(s => s.id -> (s: Node)) ++
        snapshots.values.map(s => s.id -> (s: Node)) ++
        analyses.values.map(a => a.id -> (a: Node)) ++ testNodes).toMap,
      edges.synchronized(edges.map { case (k, v) => k -> v.toSet }.toMap))
    graph.topoOrder // a cycle through SQL text is seen only here
    graph
  }

  // ---- run: topo order, bounded parallelism, test interleaving ---------

  /** `dbt build` analogue: like [[run]], but a failing test on a model
    * marks every downstream model skipped (`README.md:280`). */
  def build(select: String = "*"): RunResults =
    run(select, blockOnTestFailure = true)

  private val runStartHooks = mutable.ArrayBuffer[String]()
  private val runEndHooks = mutable.ArrayBuffer[String]()
  /** dbt `on-run-start` / `on-run-end` hooks: SQL executed once around
    * every run()/build() (audit rows, session setup, GRANT emulation). */
  def onRunStart(sql: String): this.type = { runStartHooks += sql; this }
  def onRunEnd(sql: String): this.type = { runEndHooks += sql; this }

  /** Build selected nodes (default: everything) in dependency order with
    * at most `target.threads` concurrent node builds. Tests run right
    * after their model; with `blockOnTestFailure` (the `dbt build`
    * contract) a test failure marks downstream models skipped, while the
    * plain-`run` contract lets models proceed. `exclude` subtracts a
    * second selector (dbt `--exclude`); `fullRefresh` drops each selected
    * incremental/insert-overwrite table so it rebuilds from scratch
    * (dbt `--full-refresh`). */
  def run(select: String = "*", blockOnTestFailure: Boolean = false,
      previousManifest: Option[Map[String, String]] = None,
      exclude: String = "", fullRefresh: Boolean = false): RunResults = invoke {
    val graph = compile()
    val modified = previousManifest.map(modifiedSince).getOrElse(Set.empty)
    val included = Selector.select(graph, select, modified)
    val excluded: String => Boolean =
      if (exclude.isEmpty) _ => false
      else Selector.select(graph, exclude, modified)
    val selected: String => Boolean = id => included(id) && !excluded(id)
    if (fullRefresh) for (m <- models.values if selected(m.id)) {
      def drop(): Unit = spark.sql(s"DROP TABLE IF EXISTS ${physicalName(m)}")
      m.config.materialized match {
        case _: Materialization.Incremental | _: Materialization.InsertOverwrite =>
          drop()
        case Materialization.StreamingTable(ckpt) =>
          // resolve the checkpoint path BEFORE dropping the table: an
          // undeletable (non-local) checkpoint must abort while the table
          // still exists — dropping first and then failing would leave the
          // retained-offsets + missing-table state where the next run
          // rebuilds a permanently incomplete table
          val dir = Materializer.checkpointLocalPath(spark,
            Materializer.streamingCheckpointPath(this, m, ckpt))
          drop()
          Materializer.deleteRecursively(dir)
        case _ => ()
      }
    }
    runStartHooks.foreach(spark.sql(_).collect())
    // analyses are compile-only resources: no dbt command executes them
    val order = graph.topoOrder.filter(selected)
      .filterNot(id => graph.nodes(id).isInstanceOf[Analysis])
    val pool = Executors.newFixedThreadPool(math.max(1, target.threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = mutable.Map[String, Future[NodeResult]]()
    // dbt-build interleaving: a model also waits on its upstream models'
    // tests, so a failing test blocks the downstream subgraph. Tests
    // themselves only wait on their model (no test-to-test edges — two
    // tests of one model must not deadlock on each other).
    val testsByModel: Map[String, Seq[String]] =
      tests.toSeq.groupBy(t => testTargetId(t.modelName))
        .map { case (m, ts) => m -> ts.map(_.id) }

    // a node waits for its nearest selected ancestors: an unselected
    // upstream (say a view) is walked through, not skipped
    val nearest = mutable.Map[String, Seq[String]]()
    def waitsFor(id: String): Seq[String] = nearest.getOrElseUpdate(id, {
      val base = graph.upstream(id).toSeq
      val ups = graph.nodes.get(id) match {
        case _ if !blockOnTestFailure => base
        case Some(_: DataTest) => base
        case _ => base ++ base.flatMap(testsByModel.getOrElse(_, Nil))
      }
      ups.flatMap(up => if (selected(up)) Seq(up) else waitsFor(up)).distinct
    })

    def nodeFuture(id: String): Future[NodeResult] =
      futures.getOrElseUpdate(id, {
        val upstreamF = Future.sequence(waitsFor(id).map(nodeFuture))
        upstreamF.map { ups =>
          // an error, a fail or a skip upstream skips the whole subgraph
          if (ups.exists(r => r.status != "success"))
            NodeResult(id, "skipped", 0, "upstream failure")
          else runNode(graph.nodes(id))
        }
      })

    try {
      order.foreach(nodeFuture)
      val all = Await.result(
        Future.sequence(order.map(futures)), Duration.Inf)
      RunResults(all)
    } finally {
      pool.shutdown()
      // end hooks run even on failure, but must never MASK the run's
      // outcome (a throwing audit INSERT should not discard RunResults
      // or replace the primary exception)
      runEndHooks.foreach { sql =>
        try spark.sql(sql).collect()
        catch { case e: Exception =>
          System.err.println(s"[graft] on-run-end hook failed: ${e.getMessage}")
        }
      }
    }
  }

  private def runNode(node: Node): NodeResult = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000
    try {
      node match {
        case m: Model =>
          spark.sparkContext.setJobGroup(m.id, QueryTags.tagFor(target, m))
          try Materializer.materialize(this, m)
          finally spark.sparkContext.clearJobGroup()
          NodeResult(m.id, "success", ms)
        case s: Seed =>
          Materializer.loadSeed(this, s)
          NodeResult(s.id, "success", ms)
        case s: Snapshot =>
          // fresh query built with EXEC-time resolution (reads
          // materialized upstreams, which topo order has already built)
          val fresh = s.build(ctxFor(s.id, Some(mutable.Map())))
          Materializer.snapshot(this, physicalName(s), fresh,
            s.uniqueKey, s.checkCols, s.asOf(), s.partitions)
          NodeResult(s.id, "success", ms)
        case t: DataTest =>
          // a take-1 probe: it stops at the first violation and plans no
          // single-partition exchange
          val viol = t.violations(materializedDf(t.modelName))
          if (viol.isEmpty) NodeResult(t.id, "success", ms)
          else failuresSchema match {
            case Some(schema) =>
              // dbt store_failures: persist the violations for inspection
              spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")
              val audit = s"$schema.${Ident.normalize(t.name)}"
              viol.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                .format("parquet").saveAsTable(audit)
              NodeResult(t.id, "fail", ms, s"violations stored in $audit")
            case None => NodeResult(t.id, "fail", ms, "violations present")
          }
        case _: SourceDef =>
          NodeResult(node.id, "success", ms)
        case a: Analysis => // defensive: run() never schedules analyses
          NodeResult(a.id, "success", ms, "analysis: compile-only")
      }
    } catch {
      case e: Exception => NodeResult(node.id, "error", ms, String.valueOf(e.getMessage))
    }
  }

  // ---- state manifest: stable logic hashes for state:modified+ ---------

  /** Stable hash of each model's (and snapshot's fresh-query) logic:
    * sha256 over the *canonicalized analyzed plan*, so renames of
    * intermediate aliases or attribute-id churn don't count as
    * modifications but any real logic/source change does (SURVEY §7.4.4). */
  def manifest: Map[String, String] = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    def hash(df: DataFrame): String = digest.digest(
      df.queryExecution.analyzed.canonicalized.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    models.keys.map(n => n -> hash(resolve(n))).toMap ++
      snapshots.keys.map(n => n -> hash(resolveSnapshotFresh(n))).toMap
  }

  def writeManifest(path: String): Unit = {
    val json = manifest.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** Model names whose logic hash differs from (or is absent in) the
    * given previous manifest. */
  def modifiedSince(previous: Map[String, String]): Set[String] =
    manifest.collect {
      case (name, h) if !previous.get(name).contains(h) => name
    }.toSet

  /** The DataFrame a downstream consumer/test should read for a model:
    * the materialized relation if one exists, else the exec-resolved plan
    * (which itself reads materialized upstreams — dbt ref semantics). */
  def materializedDf(name: String): DataFrame = models.get(name) match {
    case Some(m) =>
      if (m.config.materialized.isPhysical) spark.table(physicalName(m))
      else resolveForRun(name) // view == same plan
    case None if snapshots.contains(name) => // tests target snapshots too
      spark.table(physicalName(snapshots(name)))
    case None =>
      throw new NoSuchElementException(s"unknown model/snapshot '$name'")
  }

  /** Graph id a data test attached to `name` points at: the model if one
    * exists, else the snapshot; any other name is unknown. */
  private def testTargetId(name: String): String =
    models.get(name).orElse(snapshots.get(name)).map(_.id).getOrElse(
      throw new NoSuchElementException(s"unknown model '$name'"))

  /** `dbt test`: evaluate data tests against EXISTING relations without
    * materializing any model — `test` must not run models as a side
    * effect (ephemeral/view targets are evaluated from their plans). */
  def testOnly(select: String = "*"): RunResults = invoke {
    val graph = compile()
    val selected = Selector.select(graph, select)
    RunResults(tests.toSeq.filter(t => selected(t.id)).map(runNode))
  }
}

object Project {
  /** Numbers each SQL build's placeholder views ([[Project.sqlBuild]]). */
  private val buildSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Declare-time lints for SQL-text models — the dbt-checkpoint hooks
    * the reference runs before SQL ever reaches the engine
    * (`.pre-commit-config.yaml:7-10`):
    *   - `check-script-semicolon`: a trailing `;` would break the DDL
    *     wrapping (`CREATE ... AS <sql>;`), so it fails at declare time
    *     with a lint message instead of a run-time Spark parse error;
    *   - `dbt-parse`: syntax-check the masked text with Spark's SQL
    *     parser (parse only; names resolve at build).
    * The third hook, no-hard-coded-names, is the advisory
    * [[Macros.evaluateProject]] lint — it stays advisory because the
    * reference runs the evaluator `|| true`. */
  private[engine] def lintSqlModel(spark: org.apache.spark.sql.SparkSession,
      name: String, sql: SqlTemplate): Unit = {
    val noComments = sql.masked
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("--[^\n]*", " ")
    if (noComments.trim.endsWith(";"))
      throw new IllegalArgumentException(
        s"sql lint [$name]: trailing semicolon (check-script-semicolon) " +
          "- remove it; model SQL gets wrapped in DDL")
    try org.apache.spark.sql.GraftSql.parse(spark, sql.masked)
    catch { case e: Exception =>
      throw new IllegalArgumentException(
        s"sql lint [$name]: does not parse (dbt-parse): ${e.getMessage}")
    }
  }
}

/** Node-selection mini-language: `*`, `name`, `+name` (ancestors),
  * `name+` (descendants), `tag:x`, `state:modified` /
  * `state:modified+` (vs a previous manifest) — SURVEY.md §3.1 stage 4. */
object Selector {
  def select(graph: ProjectGraph, expr: String,
      modified: Set[String] = Set.empty): String => Boolean = {
    if (expr == "*") return _ => true
    val down = graph.edges.toSeq
      .flatMap { case (id, ups) => ups.map(_ -> id) }
      .groupMap(_._1)(_._2)
    // bare names address models first, then snapshots/seeds (dbt selects
    // any resource kind by name)
    def nodeId(e: String): String =
      Seq(s"model.$e", s"snapshot.$e", s"seed.$e", s"analysis.$e")
        .find(graph.nodes.contains).getOrElse(s"model.$e")
    def closure(start: Set[String], next: String => Iterable[String]): Set[String] = {
      var acc = start
      var frontier = start
      while (frontier.nonEmpty) {
        val more = frontier.flatMap(next).diff(acc)
        acc ++= more
        frontier = more
      }
      acc
    }
    val ids: Set[String] = expr match {
      case "state:modified" => modified.map(nodeId)
      case "state:modified+" =>
        closure(modified.map(nodeId), id => down.getOrElse(id, Nil))
      case e if e.startsWith("tag:") =>
        val tag = e.stripPrefix("tag:")
        graph.nodes.collect {
          case (id, m: Model) if m.config.tags.contains(tag) => id
          case (id, s: Snapshot) if s.config.tags.contains(tag) => id
        }.toSet
      case e if e.startsWith("+") =>
        closure(Set(nodeId(e.drop(1))), graph.upstream(_))
      case e if e.endsWith("+") =>
        closure(Set(nodeId(e.dropRight(1))), id => down.getOrElse(id, Nil))
      case e => Set(nodeId(e))
    }
    // tests of selected nodes ride along (a test's sole upstream edge is
    // its target — model or snapshot)
    val withTests = ids ++ graph.nodes.collect {
      case (tid, _: DataTest) if graph.upstream(tid).exists(ids.contains) => tid
    }
    withTests.contains _
  }
}

/** Query-tagging analogue of the reference's yuki_snowflake_dbt_tags
  * package (`README.md:102-105`): every model build runs under a job
  * group whose description is a JSON tag {job, model, materialization,
  * invocation_id} — recoverable from the Spark event log / listeners. */
object QueryTags {
  val invocationId: String = java.util.UUID.randomUUID().toString
  def tagFor(target: Target, m: Model): String = {
    val mat = m.config.materialized.toString.toLowerCase
    s"""{"job":"${target.name}","dbt_model":"${m.name}","materialization":"$mat","invocation_id":"$invocationId"}"""
  }
}
