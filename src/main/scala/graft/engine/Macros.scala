package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** The reference's macro surface as ordinary Scala functions
  * (SURVEY.md §2.9 — no templating layer needed).
  */
object Macros {

  /** Backtick-quote an identifier (`adapter.quote` analogue,
    * `macros/star_from_relations.sql:20`). */
  def quote(ident: String): String = s"`${ident.replace("`", "``")}`"

  /** `star_from_relations` (`macros/star_from_relations.sql:12-26`): the
    * explicit column list of a by-name union of relations, minus `except`,
    * optionally alias-prefixed. Returns Columns ready for `.select`.
    * Every identifier is backtick-quoted (the reference macro
    * adapter.quotes each column at `:20`) so dotted or space-bearing
    * column names resolve as single identifiers instead of misparsing
    * as struct-field paths. */
  def starFromRelations(relations: Seq[DataFrame],
      relationAlias: Option[String] = None,
      except: Set[String] = Set.empty): Seq[Column] = {
    val exceptNorm = except.map(Ident.normalize)
    val cols = relations.flatMap(_.columns).distinct
      .filterNot(c => exceptNorm.contains(Ident.normalize(c)))
    cols.map { c =>
      relationAlias match {
        case Some(a) => col(s"${quote(a)}.${quote(c)}").as(c)
        case None => col(quote(c))
      }
    }
  }

  /** `dbt_utils.union_relations` semantics (invoked at
    * `star_from_relations.sql:14`; "null paddings" warning at `:10`):
    * union by name over the superset of columns, NULL-padding missing
    * ones, least-common-type casting name collisions with different
    * types (Snowflake coerces loosely; Spark errors — SURVEY §7.4.5),
    * plus a `_dbt_source_relation` provenance column. */
  def unionRelations(relations: Seq[(String, DataFrame)],
      sourceColumn: String = "_dbt_source_relation"): DataFrame = {
    require(relations.nonEmpty, "unionRelations of nothing")
    // superset schema in first-seen order; pick a least-common type per name
    val ordered = relations.flatMap(_._2.schema.fields.map(f => f.name))
      .distinct
    val types: Map[String, DataType] = ordered.map { name =>
      val ts = relations.flatMap(_._2.schema.fields
        .filter(_.name == name).map(_.dataType)).distinct
      val lct = ts.reduceLeft { (a, b) =>
        DataTypeUtilsBridge.leastCommonType(a, b).getOrElse(StringType)
      }
      name -> lct
    }.toMap
    val padded = relations.map { case (name, df) =>
      val have = df.columns.toSet
      val cols = ordered.map { c =>
        if (have.contains(c)) col(c).cast(types(c)).as(c)
        else lit(null).cast(types(c)).as(c)
      } :+ lit(name).as(sourceColumn)
      df.select(cols: _*)
    }
    padded.reduce(_.unionByName(_))
  }

  /** `list_orphaned_objects` (`macros/list_orphaned_objects.sql`):
    * catalog objects in `schema` that no model/seed claims. Emits the
    * same print-only DROP/RENAME lines — the safety invariant is that
    * nothing is executed (`:15,51`). Comparison is case-normalized
    * (`:47`). */
  def listOrphanedObjects(spark: SparkSession, graph: ProjectGraph,
      project: Project, schema: String,
      outputDropCmd: Boolean = false,
      outputRenameCmd: Boolean = false): Seq[String] = {
    val claimed: Set[String] = graph.nodes.values.collect {
      case m: Model => project.physicalName(m)
      case s: Seed => project.physicalName(s)
      case s: Snapshot => project.physicalName(s) // graph.snapshots (:46)
    }.map(Ident.normalize).toSet
    val catalog = spark.sql(s"SHOW TABLES IN ${quote(Ident.normalize(schema))}")
      .collect()
      .filter(r => !r.getBoolean(2)) // skip temp views
      .map(r => (r.getString(0), r.getString(1)))
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for ((db, tbl) <- catalog.sortBy(t => (t._1, t._2))) {
      val physical = Ident.normalize(s"$db.$tbl")
      if (!claimed.contains(physical)) {
        val objType =
          try {
            if (spark.catalog.getTable(s"$db.$tbl").tableType == "VIEW") "VIEW"
            else "TABLE"
          } catch { case _: Exception => "TABLE" }
        out += s"orphaned: $objType $physical"
        if (outputDropCmd) out += s"DROP $objType $physical;"
        if (outputRenameCmd)
          out += s"ALTER $objType $physical RENAME TO $db._to_delete_$tbl;"
      }
    }
    out.toSeq
  }

  /** `run-operation compact_ledger` — the operational wrapper over the
    * ledger compactors ([[graft.streaming.EventStreams.compactBatchLedger]]
    * / [[graft.streaming.EventStreams.compactSetLedger]] /
    * [[graft.operators.Dedup.compactLedger]]), so a long-lived pipeline
    * can bound its ledger scans without writing code (the dbt
    * `run-operation` maintenance-macro idiom). Kwargs:
    *   - `table` (required): catalog name of the ledger table;
    *   - `shape` (required): `batch` (batch_id-stamped additive rows —
    *     also pass `keys` and `vals` as comma-lists), `suppression`
    *     (also pass `id`, default doc_id), or `postings` (the x50/x56
    *     dedup posting ledgers — no extra kwargs).
    * The rewrite is the x153 discipline: compact, localCheckpoint to
    * pin the read before the same-table overwrite, overwrite in place.
    * Compaction is LOSSLESS for every reader that goes through the
    * merge views (LedgerInvariantsSpec proves each shape), so the
    * operation is safe to run between any two increments. */
  def compactLedger(spark: SparkSession,
      kwargs: Map[String, String]): Seq[String] = {
    import graft.streaming.EventStreams
    val usage = usageErrors(spark, "compact_ledger", kwargs, Seq("table"),
      "{table: mydb.ledger, shape: batch, keys: hour, vals: n_events}",
      Seq("table" -> "table"))
    if (usage.nonEmpty) return usage
    val table = kwargs("table")
    val ledger = spark.table(table)
    val compacted = kwargs.get("shape") match {
      case Some("batch") =>
        (kwargs.get("keys"), kwargs.get("vals")) match {
          case (Some(k), Some(v)) =>
            EventStreams.compactBatchLedger(ledger,
              k.split(",").map(_.trim).toSeq,
              v.split(",").map(_.trim).toSeq)
          case _ =>
            return Seq("compact_ledger: shape batch needs keys and vals " +
              "kwargs (comma-lists)")
        }
      case Some("suppression") =>
        EventStreams.compactSetLedger(ledger,
          Seq(kwargs.getOrElse("id", "doc_id")))
      case Some("postings") =>
        graft.operators.Dedup.compactLedger(ledger)
      case Some("set") =>
        kwargs.get("keys") match {
          case Some(k) => EventStreams.compactSetLedger(ledger,
            k.split(",").map(_.trim).toSeq)
          case None =>
            return Seq("compact_ledger: shape set needs keys kwarg " +
              "(comma-list)")
        }
      case Some("sample") =>
        (kwargs.get("group"), kwargs.get("id"),
          kwargs.get("n").flatMap(_.toIntOption)) match {
          case (Some(g), Some(i), Some(n)) =>
            EventStreams.compactSampleLedger(ledger, g, i, n)
          case _ =>
            return Seq("compact_ledger: shape sample needs group, id " +
              "and integer n kwargs")
        }
      case Some("sessions") =>
        kwargs.get("gap").flatMap(_.toIntOption) match {
          case Some(g) => EventStreams.compactSessionLedger(ledger, g)
          case None =>
            return Seq("compact_ledger: shape sessions needs an " +
              "integer gap kwarg (minutes)")
        }
      case Some("burstiness") =>
        EventStreams.compactBurstinessLedger(ledger)
      case other =>
        return Seq("compact_ledger: shape must be batch|suppression|" +
          "postings|set|sample|sessions|burstiness, " +
          s"got ${other.getOrElse("(none)")}")
    }
    val (before, after) = overwriteInPlace(spark, table, compacted)
    Seq(s"compacted $table: $before rows -> $after rows")
  }

  /** `run-operation apply_takedown` — the governance capstone on the
    * lifecycle surface (the compact_ledger precedent: an EXECUTING
    * operation, because execution is the point): apply a takedown
    * id-list to a shard-partitioned corpus table via
    * [[graft.operators.TakedownRewrite.rewriteShards]] — only
    * needs_rewrite partitions rebuild, untouched shard files stay
    * byte-identical, and the per-shard verdict report is printed
    * (ids_gone / files_intact per shard). `deletes` is a one-column
    * relation (table or view) of ids to suppress — e.g. the
    * [[graft.streaming.EventStreams.suppressionSet]] view over an
    * x115 intake ledger. */
  def applyTakedown(spark: SparkSession,
      kwargs: Map[String, String]): Seq[String] = {
    val usage = usageErrors(spark, "apply_takedown", kwargs,
      Seq("table", "deletes", "id", "shard"),
      "{table: corpus.shards, deletes: gov.takedowns, id: doc_id, shard: shard}",
      Seq("table" -> "table", "deletes" -> "deletes relation"))
    if (usage.nonEmpty) return usage
    val table = kwargs("table")
    val report = graft.operators.TakedownRewrite.rewriteShards(spark,
        table, spark.table(kwargs("deletes")), kwargs("id"),
        kwargs("shard"))
      .orderBy(col("shard"))
      .collect()
    val header = "shard | before | deleted | after | rewritten | " +
      "ids_gone | files_intact"
    val rows = report.map(r => Seq(r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5),
      r.getBoolean(6)).mkString(" | "))
    val bad = report.filterNot(r => r.getBoolean(5) && r.getBoolean(6))
    val verdict =
      if (bad.isEmpty) s"apply_takedown: $table clean — all ids gone, " +
        "untouched shards intact"
      else s"apply_takedown: VERDICT FAILED on shards " +
        bad.map(_.getString(0)).mkString(",")
    (header +: rows.toSeq) :+ verdict
  }

  /** `run-operation purge_ledger` — apply_takedown's derived-store
    * counterpart (the round-15 governance closure): a takedown that
    * rewrites the published corpus but leaves the doc-keyed ledgers
    * holding the ids' postings has not finished. Purges every row of
    * the `deletes` ids from a ledger table in place (one anti-join +
    * the compactLedger in-place-rewrite discipline) and prints a
    * verdict proving zero rows of those ids remain. `key` names the
    * ledger's id column (`doc` for the dedup posting ledgers, `doc_id`
    * for suppression intake, a user column for session/retention).
    * Purge semantics — idempotence, compaction-commutation, and the
    * re-admission contract — are LedgerInvariantsSpec's subject. */
  def purgeLedger(spark: SparkSession,
      kwargs: Map[String, String]): Seq[String] = {
    val usage = usageErrors(spark, "purge_ledger", kwargs,
      Seq("table", "deletes", "key"),
      "{table: ldg.dedup_ledger, deletes: gov.takedowns, key: doc}",
      Seq("table" -> "table", "deletes" -> "deletes relation"))
    if (usage.nonEmpty) return usage
    val table = kwargs("table")
    val key = kwargs("key")
    if (!spark.table(table).columns.contains(key))
      return Seq(s"purge_ledger: $table has no column '$key' " +
        s"(columns: ${spark.table(table).columns.mkString(", ")})")
    val deletes = resolveDeletes(spark, kwargs("deletes"), key,
      "purge_ledger") match {
      case Left(err) => return Seq(err)
      case Right(df) => df
    }
    val (before, after) = overwriteInPlace(spark, table,
      graft.streaming.EventStreams.purgeLedger(spark.table(table), deletes, key))
    val leftover = spark.table(table)
      .join(deletes, Seq(key), "left_semi").count()
    val verdict =
      if (leftover == 0L) s"purge_ledger: $table clean — no rows of " +
        "the purged ids remain"
      else s"purge_ledger: VERDICT FAILED — $leftover rows of purged " +
        s"ids still present in $table"
    Seq(s"purged $table: $before rows -> $after rows", verdict)
  }

  /** `run-operation retract_countmin` — purge_ledger's ADDITIVE-SKETCH
    * counterpart (round-16, the r15 verdict's last governance
    * quadrant): a Count-Min ledger holds a purged key's contributions
    * ANONYMOUSLY in shared cells, so purge_ledger's row anti-join
    * cannot reach them. This composes the cure from the delete list and
    * the RAW EVENTS source ([[graft.streaming.EventStreams
    * .countMinRetraction]]): the purged keys' own sketch, appended
    * NEGATED under a fresh batch id below every existing one, nets the
    * ledger to exactly the clean-events sketch (CM linearity).
    *
    * Safety discipline (a destructive operation on a durable table):
    *
    *  - VERIFY BEFORE WRITE — the candidate retraction is composed
    *    with the ledger in memory and CELL-WISE compared against the
    *    clean-events rebuild (every counter plus the sentinel: a
    *    depth/width mismatch subtracts from the wrong positions while
    *    keeping the sentinel right, so a count check alone would print
    *    success); a mismatch rejects WITHOUT mutating anything.
    *  - RETRACTED-KEY REGISTRY — applied keys are recorded in
    *    `<table>__retracted_keys` (the durable record the operator
    *    family's replay contract requires): re-runs retract only
    *    deletes MINUS the registry, so an incremental list verifies
    *    correctly and a cumulative list (the x115 intake pattern)
    *    cannot double-subtract; every verdict rebuilds clean = events
    *    minus (registry ∪ new keys).
    *  - CRASH HEALING — the ledger is appended before the registry;
    *    if a run dies in between, the next run finds the ledger
    *    already equal to the clean sketch and just registers the keys
    *    (no second batch). */
  def retractCountMin(spark: SparkSession,
      kwargs: Map[String, String]): Seq[String] = {
    val usage = usageErrors(spark, "retract_countmin", kwargs,
      Seq("table", "events", "deletes", "key", "term", "depth", "width"),
      "{table: cm.sketch, events: raw.events, deletes: gov.takedowns, " +
        "key: user_id, term: term, depth: 4, width: 1024}",
      Seq("table", "events", "deletes").map(_ -> "relation"))
    if (usage.nonEmpty) return usage
    val table = kwargs("table")
    val (depth, width) =
      (kwargs("depth").toIntOption, kwargs("width").toIntOption) match {
        case (Some(d), Some(w)) if d > 0 && w > 0 => (d, w)
        case _ => return Seq("retract_countmin: depth/width must be " +
          s"positive integers (got ${kwargs("depth")}, ${kwargs("width")})")
      }
    val key = kwargs("key")
    val term = kwargs("term")
    val events = spark.table(kwargs("events"))
    for (c <- Seq(key, term))
      if (!events.columns.contains(c))
        return Seq(s"retract_countmin: events relation " +
          s"${kwargs("events")} has no column '$c' " +
          s"(columns: ${events.columns.mkString(", ")})")
    val deletes = resolveDeletes(spark, kwargs("deletes"), key,
      "retract_countmin") match {
      case Left(err) => return Seq(err)
      case Right(df) => df
    }
    // THE RETRACTED-KEY REGISTRY: cells are anonymous, so the ledger
    // itself cannot say which keys were already netted out — without a
    // registry, a second run with a cumulative delete list would
    // double-subtract the first run's keys (durable corruption), and a
    // run with only the new keys would fail its own verdict (the clean
    // rebuild wouldn't know about the earlier purge). The companion
    // table <table>__retracted_keys records every applied key; this run
    // retracts only deletes MINUS the registry, and every verdict
    // rebuilds clean = events minus (registry ∪ new keys).
    val registry = table + "__retracted_keys"
    val priorKeys =
      if (spark.catalog.tableExists(registry))
        spark.table(registry).select(col(key)).distinct()
      else deletes.limit(0)
    val newDeletes = deletes.join(priorKeys, Seq(key), "left_anti")
      .localCheckpoint()
    val nNew = newDeletes.count()
    val allKeys = priorKeys.unionByName(newDeletes).distinct()
    val clean = events.join(allKeys, Seq(key), "left_anti")
    def cellMap(df: DataFrame): Map[Int, Long] =
      df.collect().map(r => r.getAs[Number]("pos").intValue() ->
        r.getAs[Number]("cnt").longValue()).toMap.filter(_._2 != 0L)
    // CELL-WISE verdict target, not sentinel-only: a depth/width
    // mismatch subtracts from the WRONG positions while leaving the
    // row-count sentinel right — the one silent-lie mode a count
    // cross-check can't see. Bounded depth×width driver arrays.
    val (cleanCells, cleanTotals) = graft.streaming.EventStreams
      .mergeCountMinLedger(graft.streaming.EventStreams
        .countMinPartial(clean, term, depth, width, 0L))
    val (wantCells, want) = (cellMap(cleanCells),
      cleanTotals.first().getLong(0))
    def mergedState() = {
      val (c, t) = graft.streaming.EventStreams
        .mergeCountMinLedger(spark.table(table))
      (cellMap(c), t.first().getLong(0))
    }
    val (curCells, curTotal) = mergedState()
    if (curCells == wantCells && curTotal == want) {
      // ledger already netted (an earlier run crashed between the
      // ledger append and the registry append, or the keys were never
      // ingested): heal by registering the keys, append nothing
      if (nNew > 0)
        newDeletes.write.mode("append").format("parquet")
          .saveAsTable(registry)
      return Seq(s"retract_countmin: $table already equals the " +
        s"clean-events sketch — no batch appended; registered $nNew " +
        s"key(s) in $registry")
    }
    if (nNew == 0L)
      return Seq("retract_countmin: VERDICT FAILED — every delete key " +
        s"is already registered in $registry but $table does not " +
        "equal the clean-events sketch (torn earlier run, drifted " +
        s"events relation, or wrong depth/width $depth×$width)")
    // VERIFY BEFORE WRITE: compose ledger + the candidate retraction
    // IN MEMORY and only append once the netted state provably equals
    // the clean-events sketch — a wrong events relation or depth/width
    // must reject without mutating a durable governance table.
    val ledger = spark.table(table)
    val minB = ledger.agg(min(col("batch_id"))).first()
    val batchId =
      math.min(if (minB.isNullAt(0)) -1L else minB.getLong(0), -1L) - 1L
    val retr = graft.streaming.EventStreams
      .countMinRetraction(events, newDeletes, key, term, depth, width,
        batchId)
      .localCheckpoint()
    val (nettedCells, nettedTotals) = graft.streaming.EventStreams
      .mergeCountMinLedger(ledger.unionByName(retr))
    val netted = nettedTotals.first().getLong(0)
    if (cellMap(nettedCells) != wantCells || netted != want)
      return Seq("retract_countmin: VERDICT FAILED — the candidate " +
        s"retraction would NOT net $table to the clean-events sketch " +
        (if (netted != want) s"(sentinel $netted != clean count $want)"
         else "(counter cells differ)") +
        s"; nothing was written. Is ${kwargs("events")} the ledger's " +
        s"true ingest source, at matching depth/width $depth×$width?")
    // ledger first, registry second: if we crash in between, the next
    // run finds the ledger already netted and heals the registry above
    retr.write.mode("append").format("parquet").saveAsTable(table)
    spark.catalog.refreshTable(table)
    newDeletes.write.mode("append").format("parquet")
      .saveAsTable(registry)
    Seq(s"appended retraction batch $batchId to $table " +
      s"($nNew new key(s); registered in $registry)",
      s"retract_countmin: $table netted — merged sentinel $want == " +
        "clean-events count AND every counter cell equals the " +
        "clean-events sketch (CM linearity holds)")
  }

  /** A run-operation's argument checks, in order: every `required` kwarg
    * is present (else the usage line with `example`), then each
    * `(kwarg, label)` relation exists. Empty when the call may proceed. */
  private def usageErrors(spark: SparkSession, op: String,
      kwargs: Map[String, String], required: Seq[String], example: String,
      relations: Seq[(String, String)]): Seq[String] = {
    val missing = required.filterNot(kwargs.contains)
    if (missing.nonEmpty)
      Seq(s"$op: pass ${missing.mkString(", ")} (e.g. --args '$example')")
    else relations.collectFirst {
      case (k, label) if !spark.catalog.tableExists(kwargs(k)) =>
        s"$op: $label ${kwargs(k)} does not exist"
    }.toSeq
  }

  /** Overwrite a ledger `table` in place with `next`, a plan that reads
    * it — the x153 discipline: localCheckpoint pins `next` before the
    * same-table overwrite, and the refresh drops the stale file listing.
    * Returns the row counts before and after. */
  private def overwriteInPlace(spark: SparkSession, table: String,
      next: DataFrame): (Long, Long) = {
    val before = spark.table(table).count()
    val pinned = next.localCheckpoint()
    val after = pinned.count()
    pinned.write.mode("overwrite").format("parquet").saveAsTable(table)
    spark.catalog.refreshTable(table)
    (before, after)
  }

  /** Purge column of a deletes relation: its only column, or the one
    * matching `key` — NEVER a blind columns.head (a multi-column
    * deletes relation whose id column isn't first would anti-join on
    * the wrong values, and a leftover verdict re-using the same wrong
    * values would still print "clean"). Shared by purge_ledger and
    * retract_countmin so the discipline cannot diverge. */
  private def resolveDeletes(spark: SparkSession, rel: String,
      key: String, op: String): Either[String, DataFrame] = {
    val delCols = spark.table(rel).columns
    val delCol =
      if (delCols.length == 1) delCols.head
      else if (delCols.contains(key)) key
      else return Left(s"$op: deletes relation $rel has " +
        s"${delCols.length} columns and none named '$key' — pass a " +
        "single-column relation or one whose purge column matches key " +
        s"(columns: ${delCols.mkString(", ")})")
    Right(spark.table(rel).select(col(delCol).as(key)).distinct())
  }

  /** dbt_project_evaluator analogue (`packages.yml:8-9`,
    * `README.md:281`): advisory lint findings over the project graph —
    * never fails the build (the reference runs it `|| true`). */
  def evaluateProject(graph: ProjectGraph): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val testedModels = graph.nodes.values.collect {
      case t: DataTest => s"model.${t.modelName}"
    }.toSet
    val referenced: Set[String] = graph.edges.values.flatten.toSet
    for ((id, node) <- graph.nodes.toSeq.sortBy(_._1)) node match {
      case m: Model =>
        if (!testedModels.contains(id))
          out += s"untested_model: $id has no data tests"
        val ups = graph.upstream(id)
        if (ups.isEmpty)
          out += s"root_model: $id reads neither ref() nor source() " +
            "(hard-coded input?)"
        val downstream = referenced.contains(id)
        if (!downstream && m.config.materialized == Materialization.Ephemeral)
          out += s"unused_ephemeral: $id is ephemeral but nothing refs it"
        hardCodedRelations(m).foreach(rel =>
          out += s"hard_coded_reference: $id reads '$rel' directly " +
            "- use ref()/source()")
      case s: SourceDef =>
        if (!referenced.contains(s.id))
          out += s"unused_source: ${s.id} declared but never read"
      case _ => ()
    }
    out.toSeq
  }

  /** dbt_project_evaluator's hard-coded-reference lint: SCHEMA-QUALIFIED
    * (dotted) FROM/JOIN targets in a SQL-text model that are not
    * `{{ ref }}`/`{{ source }}` placeholders. Restricting to dotted names
    * avoids false positives on CTE references and on the FROM keyword
    * inside `extract(day FROM col)` / `substring(x FROM 1)` expressions
    * (their operands are never dotted relations); DataFrame models can't
    * hard-code by construction (inputs come through Ctx). */
  private[engine] def hardCodedRelations(m: Model): Seq[String] =
    m.sqlText.toSeq.flatMap { sql =>
      raw"(?i)\b(?:from|join)\s+([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)".r
        .findAllMatchIn(sql.masked).map(_.group(1)).toSeq.distinct
    }

  /** Database-clone workflow (`README.md:221`): Snowflake zero-copy
    * clone becomes a warehouse-directory copy — viable precisely because
    * every reference is 2-part `schema.object` (SURVEY §1.3), so a
    * session pointed at the copy (`spark.sql.warehouse.dir=dest`)
    * resolves identical names against the cloned data. */
  def cloneWarehouse(spark: SparkSession, dest: java.nio.file.Path): Unit = {
    val src = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val files = java.nio.file.Files.walk(src)
    try files.forEach { p =>
      val t = dest.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  /** codegen-package analogue: emit a model stub + schema YAML from a
    * DataFrame's schema. */
  def generateModelYaml(name: String, df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      s"""      - name: ${f.name}\n        data_type: ${f.dataType.simpleString}"""
    }.mkString("\n")
    s"""models:\n  - name: $name\n    columns:\n$cols"""
  }

  /** codegen `generate_source`: sources YAML for every table in a
    * catalog schema (name + column list from the live catalog). */
  def generateSourceYaml(spark: SparkSession, sourceName: String,
      schema: String): String = {
    // SHOW TABLES also lists session temp views (isTemporary) that are
    // not part of the schema — resolving them via schema.name would throw
    val tables = spark.sql(s"SHOW TABLES IN `$schema`")
      .collect().filter(!_.getBoolean(2)).map(_.getString(1)).sorted
    val entries = tables.map { t =>
      val cols = spark.table(s"$schema.$t").schema.fields.map { f =>
        s"""          - name: ${f.name}\n            data_type: ${f.dataType.simpleString}"""
      }.mkString("\n")
      s"""      - name: $t\n        columns:\n$cols"""
    }.mkString("\n")
    s"""sources:\n  - name: $sourceName\n    schema: $schema\n    tables:\n$entries"""
  }

  /** codegen `generate_base_model`: a staging-model SQL stub that
    * selects (and renames nothing from) every source column — the
    * conventional 1:1 base layer over a raw source table. */
  def generateBaseModel(spark: SparkSession, sourceName: String,
      schema: String, table: String): String = {
    val cols = spark.table(s"$schema.$table").schema.fieldNames
      .map(c => s"    $c").mkString(",\n")
    s"""with source as (
      |    select * from {{ source('$sourceName', '$table') }}
      |),
      |renamed as (
      |    select
      |$cols
      |    from source
      |)
      |select * from renamed""".stripMargin
  }
}

/** Least-common-type resolution via Catalyst's own coercion rules
  * (accessed through the GraftSql bridge — TypeCoercion is private[sql]).
  */
object DataTypeUtilsBridge {
  def leastCommonType(a: DataType, b: DataType): Option[DataType] =
    org.apache.spark.sql.GraftSql.findTightestCommonType(a, b)
}
