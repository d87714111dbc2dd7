package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Core abstractions of the transformation framework — the dbt-core role
  * from the reference, re-expressed as plain Scala values over
  * `SparkSession` (SURVEY.md §1.1). Snowflake's execution role is played
  * by Catalyst; nothing here re-implements relational algebra.
  */

/** Named environment: database/schema/concurrency, mirroring the
  * reference's `profiles.example.yml:3-25` (threads: 16). */
final case class Target(
    name: String,
    schema: String,
    threads: Int = 16)

/** Materialization strategies. The reference defaults to `view`
  * (`dbt_project.yml:32-36`) with per-model `table` overrides
  * (`models/example/my_first_dbt_model.sql:10`); the rest are declared
  * capability slots (seeds/snapshots dirs, incremental). */
sealed trait Materialization {
  /** Physical: the model writes a catalog relation that consumers read.
    * Views and ephemerals are not physical — consumers inline their plan.
    * The one definition of that test. */
  private[engine] def isPhysical: Boolean =
    this != Materialization.View && this != Materialization.Ephemeral
}
object Materialization {
  case object View extends Materialization
  case object Table extends Materialization
  /** Unmaterialized: consumers inline the DataFrame, letting Catalyst
    * optimize across model boundaries (strictly better than the
    * reference's CTE splicing — SURVEY.md §4.1). */
  case object Ephemeral extends Materialization
  /** Incremental strategies (dbt's incremental_strategy):
    * - `InsertNew` (default): append rows whose unique key is absent —
    *   one anti-join + append, the cheapest formulation when late rows
    *   never change (no rewrite of existing data).
    * - `Merge`: dbt merge/upsert semantics — rows with a matching unique
    *   key are REPLACED by the incoming version, new keys inserted. With
    *   plain parquet (no Delta/Iceberg MERGE INTO) this rewrites the
    *   table via staging + rename swap; at 100 TB prefer
    *   [[InsertOverwrite]] so only touched partitions rewrite.
    * - `Append`: blind append, no key (dbt strategy 'append'). */
  sealed trait IncrementalStrategy
  object IncrementalStrategy {
    case object Append extends IncrementalStrategy
    case object InsertNew extends IncrementalStrategy
    case object Merge extends IncrementalStrategy
  }
  /** Incremental with optional unique key + strategy (see above). */
  final case class Incremental(uniqueKey: Option[Seq[String]] = None,
      strategy: IncrementalStrategy = IncrementalStrategy.InsertNew)
      extends Materialization
  /** Table bucketed (and optionally sorted) on join keys: repeated big
    * joins/aggregations on those keys read co-located buckets and skip
    * the shuffle entirely — the 100 TB layout for fact-fact joins. */
  final case class BucketedTable(bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil) extends Materialization
  /** Insert-overwrite incremental: each run rewrites only the partitions
    * present in the incoming batch (dynamic partition overwrite) — the
    * idempotent backfill pattern for partitioned facts at scale. */
  final case class InsertOverwrite(partitionCols: Seq[String])
      extends Materialization
  /** Streaming incremental: the model's plan (built over
    * `ctx.sourceStream`) runs as a Structured Streaming query with
    * `Trigger.AvailableNow` — each `run()` processes exactly the input
    * that arrived since the previous run (the checkpointed offset log IS
    * the incremental state; no `is_incremental()` max-timestamp
    * bookkeeping, no late-row races) and appends to the physical table,
    * then stops. The streaming twin of `Incremental(Append)`; downstream
    * refs read the accumulated table as usual. `checkpoint` defaults to
    * `<warehouse>/_graft_checkpoints/<schema>_<name>`. */
  final case class StreamingTable(checkpoint: Option[String] = None)
      extends Materialization
}

/** Per-model configuration. Schema resolution follows the reference's
  * `generate_schema_name` override: custom schema used verbatim (trimmed),
  * else the target schema — no environment prefixing
  * (`macros/overrides/generate_schema_name.sql:11-23`). Physical name =
  * alias-or-name (`macros/list_orphaned_objects.sql:47`). */
final case class ModelConfig(
    materialized: Materialization = Materialization.View,
    schema: Option[String] = None,
    alias: Option[String] = None,
    tags: Set[String] = Set.empty,
    /** dbt model contract (`contract: enforced`): declared (column ->
      * Spark SQL type) pairs checked against the built DataFrame BEFORE
      * materialization — extra, missing, or type-mismatched columns fail
      * the node with a per-column diff instead of silently shipping a
      * drifted schema downstream. */
    contract: Option[Seq[(String, String)]] = None)

/** Identifier normalization: the reference compares catalog identifiers
  * case-insensitively by uppercasing both sides
  * (`list_orphaned_objects.sql:47`); Spark lowercases — one rule, applied
  * everywhere (SURVEY.md §1.3). */
object Ident {
  def normalize(s: String): String = s.trim.toLowerCase
}

sealed trait Node {
  def name: String
  def id: String
}

/** A model: a named build function + config. `build` receives a [[Ctx]]
  * whose `ref`/`source` calls both resolve to DataFrames and record DAG
  * edges — replacing dbt's Jinja render-time dependency extraction
  * (SURVEY.md §3.1 stage 3). `sqlText` is a SQL-text model's parsed
  * [[SqlTemplate]]: compile reads its edges, and it renders compiled SQL
  * and persistent CREATE VIEW materialization (SURVEY §7.4.2). */
final case class Model(
    name: String,
    config: ModelConfig,
    build: Ctx => DataFrame,
    sqlText: Option[SqlTemplate] = None) extends Node {
  def id: String = s"model.$name"
}

/** SQL text parsed once, when it is declared: literal fragments and the
  * `{{ ref('m') }}` / `{{ source('s', 't') }}` placeholders between them. */
final case class SqlTemplate(parts: Seq[SqlTemplate.Part]) {
  import SqlTemplate._
  /** The text with each placeholder replaced by `relation` of it. */
  def render(relation: Placeholder => String): String =
    parts.map { case Literal(text) => text; case p: Placeholder => relation(p) }
      .mkString
  def placeholders: Seq[Placeholder] = parts.collect { case p: Placeholder => p }
  /** Every placeholder as one plain identifier: the text the lints read. */
  def masked: String = render(_ => "graft_tmpl")
}
object SqlTemplate {
  sealed trait Part
  final case class Literal(text: String) extends Part
  sealed trait Placeholder extends Part
  final case class Ref(name: String) extends Placeholder
  final case class Src(source: String, table: String) extends Placeholder

  def parse(sql: String): SqlTemplate = {
    val ref = raw"ref\(\s*'([^']+)'\s*\)"
    val source = raw"source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)"
    val found = raw"\{\{\s*(?:$ref|$source)\s*\}\}".r.findAllMatchIn(sql).toSeq
    val from = 0 +: found.map(_.end)
    SqlTemplate(found.zip(from).flatMap { case (m, at) =>
      Seq(Literal(sql.substring(at, m.start)),
        if (m.group(1) != null) Ref(m.group(1)) else Src(m.group(2), m.group(3)))
    } :+ Literal(sql.substring(from.last)))
  }
}

/** A declared external input (the reference's `models/sources.yml`):
  * either a parquet path or an existing catalog table. */
final case class SourceDef(
    sourceName: String,
    tableName: String,
    location: SourceLocation) extends Node {
  def name: String = s"$sourceName.$tableName"
  def id: String = s"source.$sourceName.$tableName"
}
/** Where a source's rows live. Each location states how it is read once,
  * in [[reader]]: the batch and streaming reads, the compiled relation and
  * the docs' physical name all derive from it. */
sealed trait SourceLocation {
  /** `Left(table)` for a catalog table, else the file read. */
  private[engine] def reader: Either[String, FileRead]
}
final case class ParquetPath(path: String) extends SourceLocation {
  private[engine] def reader = Right(FileRead("parquet", path))
}
final case class CatalogTable(table: String) extends SourceLocation {
  private[engine] def reader = Left(table)
}
/** CSV source (header/schema-inference defaults match `spark.read.csv`
  * conventions for raw drops; pass an explicit DDL `schema` at scale —
  * inference scans the data twice). */
final case class CsvPath(path: String, header: Boolean = true,
    schema: Option[String] = None) extends SourceLocation {
  private[engine] def reader = Right(FileRead("csv", path,
    Map("header" -> header.toString) ++
      (if (schema.isEmpty) Map("inferSchema" -> "true") else Map.empty),
    schema))
}
/** JSON-lines source; same schema guidance as [[CsvPath]]. */
final case class JsonPath(path: String,
    schema: Option[String] = None) extends SourceLocation {
  private[engine] def reader = Right(FileRead("json", path, schema = schema))
}
/** ORC source (columnar twin of [[ParquetPath]] — Spark's built-in
  * reader, predicate pushdown and column pruning included). */
final case class OrcPath(path: String) extends SourceLocation {
  private[engine] def reader = Right(FileRead("orc", path))
}
/** Raw-binary source (`binaryFile`): one row per file with (path,
  * modificationTime, length, content) — how image/audio/video corpora
  * land before [[graft.operators.Multimodal]] packs them. Optional glob
  * (e.g. `*.jpg`) filters the directory scan. */
final case class BinaryPath(path: String,
    glob: Option[String] = None) extends SourceLocation {
  private[engine] def reader = Right(FileRead("binaryFile", path,
    glob.map("pathGlobFilter" -> _).toMap))
}

/** A path-based source read: Spark format, path, reader options (shared
  * by the batch and the streaming read; `inferSchema` is inert once the
  * stream fixes the schema) and an optional DDL schema. */
private[engine] final case class FileRead(format: String, path: String,
    options: Map[String, String] = Map.empty, schema: Option[String] = None) {
  def batch(spark: SparkSession): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** File stream with the batch read's schema (Structured Streaming
    * requires one upfront). A path naming one FILE streams its parent
    * directory under a glob filter of that name — the file source wants a
    * directory — unless the location brings its own glob. */
  def stream(spark: SparkSession): DataFrame = {
    val f = new java.io.File(path)
    val (dir, opts) =
      if (f.isFile && !options.contains("pathGlobFilter"))
        (f.getParent, options + ("pathGlobFilter" -> f.getName))
      else (path, options)
    spark.readStream
      .schema(schema.fold(batch(spark).schema)(
        org.apache.spark.sql.types.StructType.fromDDL))
      .options(opts).format(format).load(dir)
  }

  /** The relation a compiled SQL text reads: ``format.`path` ``. */
  def relation: String = s"$format.`$path`"
}

/** A seed: CSV loaded as a table (`dbt_project.yml:17`). */
final case class Seed(
    name: String,
    csvPath: String,
    config: ModelConfig = ModelConfig(Materialization.Table)) extends Node {
  def id: String = s"seed.$name"
}

/** An SCD-2 snapshot as a first-class DAG resource — the reference
  * declares a snapshots directory in the graph (`dbt_project.yml:19`)
  * and its orphan macro counts `graph.snapshots`
  * (`macros/list_orphaned_objects.sql:46`). `build` produces the fresh
  * query (its `ref`/`source` calls record DAG edges like a model's);
  * the runner applies [[Materializer.snapshot]]'s close-out/insert
  * against the existing table, and downstream models `ref` the snapshot
  * by name to read the accumulated SCD-2 table. `asOf` is a supplier:
  * production stamps run time, tests inject fixed timestamps. */
final case class Snapshot(
    name: String,
    build: Ctx => DataFrame,
    uniqueKey: String,
    checkCols: Seq[String],
    config: ModelConfig = ModelConfig(Materialization.Table),
    asOf: () => java.sql.Timestamp =
      () => new java.sql.Timestamp(System.currentTimeMillis()),
    partitions: Option[Int] = None) extends Node {
  def id: String = s"snapshot.$name"
}

/** An analysis: SQL that is compiled (linted, edges from its
  * placeholders, schema resolved on demand) and documented but NEVER
  * materialized — the reference's `analyses/` resource slot
  * (`dbt_project.yml:15` `analysis-paths`; dbt compiles analyses with the
  * project and renders them in docs, but no command ever runs them). */
final case class Analysis(
    name: String,
    sqlText: SqlTemplate) extends Node {
  def id: String = s"analysis.$name"
}

/** A data test attached to a model: builds a violations DataFrame;
  * nonzero rows = failure (`models/example/schema.yml` semantics).
  * `parents` names the other models it reads (a `relationships` test's
  * parent). */
final case class DataTest(
    name: String,
    modelName: String,
    violations: DataFrame => DataFrame,
    parents: Seq[String] = Nil) extends Node {
  def id: String = s"test.$name"
}

/** A dbt-style UNIT test (dbt-core 1.8 `unit_tests:`): run a model's
  * build function against MOCKED inputs and compare the result to
  * expected rows. `given` keys name the mocked dependency — a model
  * name (as resolved by `ctx.ref`, after versioning) or
  * `"source.<source>.<table>"`. */
final case class UnitTestDef(
    name: String,
    modelName: String,
    given: Map[String, DataFrame],
    expect: DataFrame) {
  def id: String = s"unit_test.$name"
}

/** Outcome of one unit test: row-multiset comparison of the mocked
  * build's output vs the expectation. `missing` = expected rows the
  * build did not produce; `unexpected` = produced rows not expected. */
final case class UnitTestResult(
    name: String,
    modelName: String,
    ok: Boolean,
    missing: Long,
    unexpected: Long,
    detail: String = "")

/** Build-time context handed to model build functions. */
final class Ctx(
    val spark: SparkSession,
    resolveRef: (String, Option[Int]) => DataFrame,
    resolveSource: (String, String) => DataFrame,
    thisPhysical: Option[String] = None,
    resolveSourceStream: (String, String) => DataFrame =
      (s, t) => throw new UnsupportedOperationException(
        s"no streaming resolver bound for source '$s.$t'")) {
  /** Read another model's output; records a DAG edge (ref.sql semantics:
    * resolved names are always 2-part — schema.alias, no database).
    * If `model` is not itself declared but a versioned family
    * `model_vN` is, resolves to the LATEST declared version (dbt's
    * unversioned-ref-to-versioned-model rule). */
  def ref(model: String): DataFrame = resolveRef(model, None)
  /** Versioned ref — `ref('model', version=n)` in the reference's
    * override (`macros/overrides/ref.sql:11-18`): reads the model
    * declared as `model_vN`. */
  def ref(model: String, version: Int): DataFrame =
    resolveRef(model, Some(version))
  /** Point-in-time read of an SCD-2 snapshot node ([[ref]] + the
    * standard validity-interval predicate): the rows that were CURRENT
    * at `ts` — `valid_from <= ts < valid_to`, open rows (null
    * `valid_to`) current forever. Downstream models consume historical
    * state without hand-writing the interval logic; reading with a
    * `ts` older than the first snapshot run yields no rows. The filter
    * is a plain pushdown-eligible predicate — on a `partitions = n`
    * bucketed snapshot the key buckets still prune. */
  def refAsOf(snapshot: String, ts: java.sql.Timestamp): DataFrame = {
    val df = resolveRef(snapshot, None)
    require(df.columns.contains("valid_from") &&
      df.columns.contains("valid_to"),
      s"refAsOf('$snapshot'): not an SCD-2 snapshot relation " +
        "(missing valid_from/valid_to)")
    df.filter(org.apache.spark.sql.functions.col("valid_from") <=
        org.apache.spark.sql.functions.lit(ts) &&
      (org.apache.spark.sql.functions.col("valid_to").isNull ||
        org.apache.spark.sql.functions.col("valid_to") >
          org.apache.spark.sql.functions.lit(ts)))
  }
  /** Read a declared source table; records a DAG edge. */
  def source(sourceName: String, table: String): DataFrame =
    resolveSource(sourceName, table)
  /** Read a declared source as a STREAM (file source over its location,
    * schema taken from the batch read); records a DAG edge. For models
    * materialized [[Materialization.StreamingTable]]. */
  def sourceStream(sourceName: String, table: String): DataFrame =
    resolveSourceStream(sourceName, table)
  /** dbt `is_incremental()`: true when a model is built and its relation
    * already exists in the catalog (so the build can filter to new rows
    * only). Always false at compile time, as in dbt's parse: the edges
    * come from the full-refresh branch, so ref every dependency on every
    * branch — a ref made only under `isIncremental` fails the node at run
    * time, naming the ref. */
  def isIncremental: Boolean =
    thisPhysical.exists(spark.catalog.tableExists)
  /** dbt `{{ this }}`: the model's own existing relation. Only valid when
    * [[isIncremental]] — typical use:
    * `if (ctx.isIncremental) df.filter($"ts" > ctx.thisDf.agg(max($"ts")).first.get(0)) else df` */
  def thisDf: DataFrame = spark.table(thisPhysical.getOrElse(
    throw new IllegalStateException("`this` only exists for incremental " +
      "builds; it is unbound at compile time, where isIncremental is false")))
}

/** The project DAG, introspectable like the reference's `graph.nodes`
  * (`macros/list_orphaned_objects.sql:45-48`). */
final case class ProjectGraph(
    nodes: Map[String, Node],
    edges: Map[String, Set[String]]) { // node id -> upstream ids

  def upstream(id: String): Set[String] = edges.getOrElse(id, Set.empty)

  /** Kahn topological order; cycles raise with the offending ids. */
  def topoOrder: Seq[String] = {
    val indeg = scala.collection.mutable.Map[String, Int]()
    val down = scala.collection.mutable.Map[String, List[String]]()
      .withDefaultValue(Nil)
    nodes.keys.foreach(id => indeg(id) = 0)
    for ((id, ups) <- edges; up <- ups if nodes.contains(up)) {
      indeg(id) = indeg.getOrElse(id, 0) + 1
      down(up) = id :: down(up)
    }
    val queue = scala.collection.mutable.PriorityQueue[String]()(
      Ordering[String].reverse) // deterministic order
    indeg.foreach { case (id, d) => if (d == 0) queue.enqueue(id) }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (queue.nonEmpty) {
      val id = queue.dequeue()
      out += id
      down(id).foreach { d =>
        indeg(d) -= 1
        if (indeg(d) == 0) queue.enqueue(d)
      }
    }
    if (out.size != nodes.size)
      throw new IllegalStateException(
        s"cycle among: ${nodes.keySet -- out.toSet}")
    out.toSeq
  }
}

/** Outcome of one node build/test. */
final case class NodeResult(
    id: String,
    status: String, // success | error | fail (test) | skipped
    durationMs: Long,
    message: String = "")

final case class RunResults(results: Seq[NodeResult]) {
  def ok: Boolean = results.forall(r => r.status == "success")
  def byId: Map[String, NodeResult] = results.map(r => r.id -> r).toMap
}
