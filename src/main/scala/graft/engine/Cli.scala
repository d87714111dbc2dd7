package graft.engine

/** Operational command surface over a declared [[Project]] — the
  * `dbt run / build / test / ls / run-operation` entry points
  * (`/root/reference/README.md:88-92,160-166`). Output is returned as
  * lines (and printed) so operations stay print-only — the reference's
  * safety invariant that generated DDL is never auto-executed
  * (`macros/list_orphaned_objects.sql:15,51`).
  */
object Cli {

  /** @param profilesPath profiles file that `--target <name>` resolves
    *                      against (dbt resolves --target in profiles.yml;
    *                      the reference passes `--target prod` to
    *                      run-operation — `list_orphaned_objects.sql:9-11`) */
  def run(project0: Project, args: Seq[String],
      profilesPath: Option[String] = None): Seq[String] = {
    val targetArg = args.sliding(2).collectFirst {
      case Seq("--target", v) => v
    }
    val project = (targetArg, profilesPath) match {
      case (Some(t), Some(path)) =>
        project0.withTarget(Profiles.load(path, target = Some(t)))
      case (Some(t), None) if t == project0.target.name => project0
      case (Some(t), None) =>
        val err = Seq(s"--target $t given but no profiles file is " +
          "configured (pass profilesPath to Cli.run)")
        err.foreach(println)
        return err
      case (None, _) => project0
    }
    val out = args.toList match {
      case (cmd @ ("run" | "build")) :: rest =>
        val res = project.run(selectArg(rest),
          blockOnTestFailure = cmd == "build",
          exclude = excludeArg(rest),
          fullRefresh = rest.contains("--full-refresh"))
        res.results.map(r => s"${r.status.toUpperCase} ${r.id} ${r.durationMs}ms")
      case "test" :: rest =>
        // dbt test only EVALUATES tests against existing relations — it
        // must not materialize models as a side effect (running them
        // would, e.g., append another batch to every incremental table).
        // Unit tests run first (dbt 1.8: `dbt test` includes unit tests;
        // they touch only their mocked inputs, never relations).
        val ut = project.runUnitTests().map(r =>
          s"${if (r.ok) "PASS" else "FAIL"} unit_test.${r.name}" +
          (if (r.detail.nonEmpty) s" (${r.detail})" else ""))
        val res = project.testOnly(selectArg(rest))
        ut ++ res.results.map(r => s"${r.status.toUpperCase} ${r.id}")
      case "ls" :: _ =>
        project.compile().nodes.keys.toSeq.sorted
      case "compile" :: rest =>
        // dbt `compile`: emit each node's placeholder-resolved SQL against
        // physical relations (what dbt writes under target/compiled);
        // DataFrame models compile to Catalyst plans, noted as such
        val graph = project.compile()
        val selected = Selector.select(graph, selectArg(rest))
        graph.topoOrder.filter(selected).flatMap { id =>
          graph.nodes(id) match {
            case m: Model => project.compiledSql(m.name) match {
              case Some(sql) => Seq(s"-- compiled ${m.id}", sql)
              case None => Seq(s"-- ${m.id}: DataFrame model " +
                "(compiles to a Catalyst plan, no SQL text)")
            }
            case a: Analysis =>
              Seq(s"-- compiled ${a.id}") ++ project.compiledSql(a.name)
            case _ => Nil
          }
        }
      case "run-operation" :: "list_orphaned_objects" :: rest =>
        val kwargs = kwargsArg(rest)
        Macros.listOrphanedObjects(project.spark, project.compile(), project,
          schema = kwargs.getOrElse("schema", project.target.schema),
          outputDropCmd = kwargs.get("output_drop_cmd").contains("true"),
          outputRenameCmd = kwargs.get("output_rename_cmd").contains("true"))
      case "run-operation" :: "project_evaluator" :: _ =>
        val findings = Macros.evaluateProject(project.compile())
        if (findings.isEmpty) Seq("project_evaluator: no findings")
        else findings // advisory only — never fails the build
      case "run-operation" :: "compact_ledger" :: rest =>
        // unlike the print-only DDL ops this one EXECUTES (it is the
        // point): compaction is lossless through every merge view
        // (LedgerInvariantsSpec), so in-place rewrite is safe
        Macros.compactLedger(project.spark, kwargsArg(rest))
      case "run-operation" :: "apply_takedown" :: rest =>
        // EXECUTES: partition-scoped rewrite of only needs_rewrite
        // shards; untouched shard files stay byte-identical
        // (TakedownRewriteSpec) and the printed report proves it
        Macros.applyTakedown(project.spark, kwargsArg(rest))
      case "run-operation" :: "purge_ledger" :: rest =>
        // EXECUTES: the takedown's derived-store counterpart — drops
        // the deleted ids' rows from a ledger table in place; the
        // printed verdict proves zero rows of those ids remain
        Macros.purgeLedger(project.spark, kwargsArg(rest))
      case "run-operation" :: "retract_countmin" :: rest =>
        // EXECUTES: the takedown's additive-sketch counterpart —
        // appends the purged keys' NEGATED sketch (recomputed from the
        // raw events) so the merged ledger reads as if they were never
        // ingested; the verdict cross-checks the netted sentinel
        Macros.retractCountMin(project.spark, kwargsArg(rest))
      case "show" :: rest =>
        // dbt `show`: preview a node's rows (compiled query under a
        // LIMIT — reads the materialized relation when one exists, the
        // resolved plan otherwise; analyses preview their compiled plan)
        val limitArg = rest.sliding(2)
          .collectFirst { case Seq("--limit", v) => v }
        limitArg.map(v => (v, v.toIntOption)) match {
          case Some((raw, None)) =>
            Seq(s"show: --limit must be an integer, got '$raw'")
          case other =>
            val limit = other.flatMap(_._2).getOrElse(5)
            rest.sliding(2).collectFirst { case Seq("--select", v) => v } match {
              case None => Seq("show: pass --select <model|snapshot|analysis>")
              case Some(n) =>
                // analyses are routed by NAME membership, not by catching
                // resolution errors — a model whose build fails must keep
                // its own error, not morph into "unknown analysis"
                val dfOrMsg =
                  if (project.hasAnalysis(n)) Right(project.resolveAnalysis(n))
                  else try Right(project.materializedDf(n))
                  catch {
                    case e: org.apache.spark.sql.AnalysisException
                        if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" =>
                      Left(s"show: '$n' is not built yet — run it first " +
                        "(its relation does not exist)")
                    // a name that is no node at all surfaces as the
                    // registry lookup's NoSuchElementException — keep it
                    // a message like the other show error paths
                    case _: NoSuchElementException =>
                      Left(s"show: unknown node '$n' — not a model, " +
                        "snapshot, or analysis in this project")
                  }
                dfOrMsg match {
                  case Left(msg) => Seq(msg)
                  case Right(df) =>
                    val preview = df.limit(limit)
                    val header = preview.columns.mkString(" | ")
                    val rows = preview.collect()
                      .map(_.toSeq.map(String.valueOf).mkString(" | "))
                    header +: rows.toSeq
                }
            }
        }
      case "debug" :: _ =>
        debug(project)
      case "deps" :: _ =>
        // `dbt deps` analogue (README.md:84 — run before anything else).
        // The reference resolves its four packages (`packages.yml:1-9`)
        // into a pinned lock; here the same surfaces are statically
        // linked engine modules, so deps RESOLVES to a lock-style report
        // of each declared package and the module satisfying it — same
        // verb, same outcome (a verified, pinned dependency set), no
        // network. A name without an implementing module would be the
        // analogue of an unresolvable package.
        Seq(
          "resolved: yuki_snowflake_dbt_tags 0.2.5 -> graft.engine.QueryTags + Observability (query tagging, report)",
          "resolved: dbt_utils 1.3.1 -> graft.engine.Macros (star/union_relations/date spine/surrogate key) + GenericTests",
          "resolved: codegen 0.13.1 -> graft.engine.Macros (generateModelYaml/generateSourceYaml/generateBaseModel)",
          "resolved: dbt_project_evaluator 1.1.2 -> graft.engine.Macros.evaluateProject (advisory lints)",
          "deps: 4 packages resolved (statically linked)")
      case "docs" :: "generate" :: rest =>
        val json = Docs.generate(project)
        rest.sliding(2).collectFirst { case Seq("--output", p) => p }
          .foreach { p =>
            java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
          }
        Seq(json)
      case "docs" :: "serve" :: rest =>
        // `dbt docs serve` analogue (README.md:93): the site is ONE
        // self-contained static HTML file — write it and print the
        // file:// URL (a browser serves it; no HTTP process to manage,
        // and the operational surface stays side-effect-free)
        val html = Docs.renderHtml(project)
        val path = rest.sliding(2)
          .collectFirst { case Seq("--output", p) => p }
          .getOrElse("target/graft_docs.html")
        val p = java.nio.file.Paths.get(path).toAbsolutePath
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(p, html)
        Seq(s"docs site written to $p", s"open file://$p")
      case other =>
        Seq(s"unknown command: ${other.mkString(" ")} " +
          "(expected run|build|test|ls|compile|show|run-operation|debug|deps|docs)")
    }
    out.foreach(println)
    out
  }

  /** `dbt debug` (reference first-run flow, `README.md:88`): sanity-check
    * the session before any model runs. One PASS/FAIL line per check —
    * engine reachable, catalog reachable, warehouse writable, every
    * declared source resolvable — never throws (a broken environment is
    * the expected input). */
  private def debug(project: Project): Seq[String] = {
    val spark = project.spark
    def check(name: String)(body: => String): String =
      try { val detail = body; s"PASS $name${if (detail.isEmpty) "" else s" ($detail)"}" }
      catch { case e: Exception =>
        s"FAIL $name: ${String.valueOf(e.getMessage).linesIterator.next()}" }
    val engine = check("engine") {
      spark.sql("SELECT 1").collect(); s"spark ${spark.version}"
    }
    val catalog = check("catalog") {
      s"${spark.catalog.listDatabases().count()} database(s)"
    }
    val warehouse = check("warehouse writable") {
      val dir = java.nio.file.Paths.get(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      java.nio.file.Files.createDirectories(dir)
      val probe = java.nio.file.Files.createTempFile(dir, ".graft_debug", "")
      java.nio.file.Files.delete(probe)
      dir.toString
    }
    val sources = project.sourceDefs.map { sd =>
      check(s"source ${sd.name}") { project.checkSource(sd); "" }
    }
    val lines = Seq(engine, catalog, warehouse) ++ sources
    lines :+ (if (lines.exists(_.startsWith("FAIL")))
      "debug: FAIL" else "debug: all checks passed")
  }

  private def selectArg(rest: Seq[String]): String =
    rest.sliding(2).collectFirst {
      case Seq("--select", v) => v
    }.getOrElse("*")

  private def excludeArg(rest: Seq[String]): String =
    rest.sliding(2).collectFirst {
      case Seq("--exclude", v) => v
    }.getOrElse("")

  /** `--args '{k: v, k2: v2}'` — the reference passes YAML kwargs
    * (`README.md:163`); we accept the same flow-mapping subset.
    * Quote-aware: commas and colons inside 'single' or "double" quoted
    * values don't split, and the quotes are stripped. */
  private def kwargsArg(rest: Seq[String]): Map[String, String] =
    rest.sliding(2).collectFirst { case Seq("--args", v) => v }
      .map(parseKwargs).getOrElse(Map.empty)

  private[engine] def parseKwargs(raw: String): Map[String, String] = {
    val body = raw.trim.stripPrefix("{").stripSuffix("}")
    val items = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var quote: Char = 0
    body.foreach { ch =>
      if (quote != 0) {
        if (ch == quote) quote = 0
        cur.append(ch)
      } else ch match {
        case '\'' | '"' => quote = ch; cur.append(ch)
        case ',' => items += cur.toString; cur.clear()
        case c => cur.append(c)
      }
    }
    if (cur.nonEmpty) items += cur.toString
    def unquote(s: String): String =
      if (s.length >= 2 && (s.head == '\'' || s.head == '"') &&
        s.last == s.head) s.substring(1, s.length - 1)
      else s
    items.iterator.map(splitKeyValue).collect {
      case Array(k, v) => unquote(k.trim) -> unquote(v.trim)
    }.toMap
  }

  /** Split `k: v` on the first colon OUTSIDE quotes (a quoted key could
    * itself contain a colon). */
  private def splitKeyValue(item: String): Array[String] = {
    var quote: Char = 0
    var i = 0
    while (i < item.length) {
      val ch = item.charAt(i)
      if (quote != 0) { if (ch == quote) quote = 0 }
      else if (ch == '\'' || ch == '"') quote = ch
      else if (ch == ':') return Array(item.substring(0, i), item.substring(i + 1))
      i += 1
    }
    Array(item)
  }
}
