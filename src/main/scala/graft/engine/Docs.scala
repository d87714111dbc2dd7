package graft.engine

/** `dbt docs generate` / `dbt docs serve` analogues — the last verbs of
  * the reference's first-run flow (`README.md:93`: debug / run / test /
  * docs generate && docs serve). dbt emits manifest.json + catalog.json
  * and renders them as a site:
  *
  *   - [[generate]] is the machine-readable artifact (lineage tools, CI
  *     diffing): one JSON document with every node (kind, physical
  *     relation, materialization, column name/type), the dependency
  *     edges, and the invocation id that query tags carry ([[QueryTags]])
  *     — linking docs to observability. Print-only; the CLI's `--output`
  *     flag persists it.
  *   - [[renderHtml]] is the human-readable rendering: ONE self-contained
  *     static HTML file (no external assets, no server) with the node
  *     inventory, per-node columns, upstream/downstream lineage links,
  *     and test coverage. `docs serve` writes it and prints the file://
  *     URL — serving static HTML over HTTP is the browser's job, and
  *     keeping the artifact a plain file preserves the print-only/no-
  *     side-effects invariant of the operational surface.
  */
object Docs {

  private def columnsOf(project: Project, node: Node): Seq[(String, String)] = {
    def fromCatalog(physical: String) =
      if (project.spark.catalog.tableExists(physical))
        Some(project.spark.table(physical).schema) else None
    try (node match {
      case m: Model => Some(project.resolve(m.name).schema)
      case s: Seed => fromCatalog(project.physicalName(s))
      case s: Snapshot => fromCatalog(project.physicalName(s))
      case sd: SourceDef => project.sourceSchema(sd)
      case a: Analysis => Some(project.resolveAnalysis(a.name).schema)
      case _: DataTest => None
    }).toSeq.flatMap(_.fields.map(f => f.name -> f.dataType.simpleString))
    catch { case _: Exception => Nil } // docs never fail the project
  }

  private def physicalOf(project: Project, node: Node): Option[String] =
    node match {
      case m: Model => Some(project.physicalName(m))
      case s: Seed => Some(project.physicalName(s))
      case s: Snapshot => Some(project.physicalName(s))
      case sd: SourceDef => Some(sd.location.reader.fold(identity, _.path))
      case _ => None
    }

  private def kindOf(node: Node): String = node match {
    case _: Model => "model"
    case _: Seed => "seed"
    case _: Snapshot => "snapshot"
    case _: SourceDef => "source"
    case _: Analysis => "analysis"
    case _: DataTest => "test"
  }

  private def matOf(node: Node): Option[String] = node match {
    case m: Model => Some(m.config.materialized.toString.toLowerCase)
    case _: Snapshot => Some("snapshot")
    case _ => None
  }

  def generate(project: Project): String = {
    val graph = project.compile()
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    val nodesJson = graph.nodes.toSeq.sortBy(_._1).map { case (id, node) =>
      val cols = columnsOf(project, node)
        .map { case (n, t) => s"{${jstr(n)}: ${jstr(t)}}" }
        .mkString("[", ", ", "]")
      val fields = Seq(
        Some(s"${jstr("kind")}: ${jstr(kindOf(node))}"),
        Some(s"${jstr("name")}: ${jstr(node.name)}"),
        physicalOf(project, node).map(p => s"${jstr("relation")}: ${jstr(p)}"),
        matOf(node).map(m => s"${jstr("materialized")}: ${jstr(m)}"),
        Some(s"${jstr("columns")}: $cols")).flatten
      s"${jstr(id)}: {${fields.mkString(", ")}}"
    }.mkString("{", ", ", "}")

    val edgesJson = graph.edges.toSeq.sortBy(_._1).map { case (id, ups) =>
      s"${jstr(id)}: ${ups.toSeq.sorted.map(jstr).mkString("[", ", ", "]")}"
    }.mkString("{", ", ", "}")

    s"""{${jstr("target")}: ${jstr(project.target.name)}, """ +
      s"""${jstr("invocation_id")}: ${jstr(QueryTags.invocationId)}, """ +
      s"""${jstr("nodes")}: $nodesJson, ${jstr("edges")}: $edgesJson}"""
  }

  /** Self-contained static HTML documentation site (see object scaladoc).
    * Every DAG node gets an anchored card with kind, materialization,
    * physical relation, columns, upstream/downstream links, and (for
    * models/snapshots) the data tests that target it. */
  def renderHtml(project: Project): String = {
    val graph = project.compile()
    def esc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }
    val ids = graph.nodes.keys.toSeq.sorted
    val down: Map[String, Seq[String]] = graph.edges.toSeq
      .flatMap { case (id, ups) => ups.map(_ -> id) }
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.sorted }
    // test coverage: test node -> target (its sole upstream edge)
    val testsByTarget: Map[String, Seq[String]] = graph.nodes.toSeq
      .collect { case (tid, _: DataTest) =>
        graph.upstream(tid).toSeq.map(_ -> tid)
      }.flatten.groupMap(_._1)(_._2).map { case (k, v) => k -> v.sorted }

    def link(id: String): String = s"""<a href="#${esc(id)}">${esc(id)}</a>"""

    val kindCounts = ids.groupBy(id => kindOf(graph.nodes(id)))
      .toSeq.sortBy(_._1)
      .map { case (k, xs) => s"<span class=pill>${esc(k)}: ${xs.size}</span>" }
      .mkString(" ")

    val toc = ids.map(id =>
      s"""<li>${link(id)} <span class=dim>${esc(kindOf(graph.nodes(id)))}</span></li>""")
      .mkString("\n")

    // lineage DAG as an inline SVG (keeps the one-file property: no
    // external assets or scripts). Topological layers: sources at layer
    // 0, every other node one past its deepest upstream; edges are
    // cubic curves carrying data-from/data-to attributes so the graph
    // is queryable/testable straight off the markup.
    val layerOf: Map[String, Int] = {
      val memo = scala.collection.mutable.Map.empty[String, Int]
      def lf(id: String): Int = memo.getOrElseUpdate(id, {
        val ups = graph.upstream(id)
        if (ups.isEmpty) 0 else ups.map(lf).max + 1
      })
      ids.foreach(lf)
      memo.toMap
    }
    val rowOf: Map[String, Int] = ids.groupBy(layerOf).valuesIterator
      .flatMap(_.sorted.zipWithIndex).toMap
    val (boxW, boxH, colW, rowH, pad) = (180, 24, 230, 38, 12)
    def nodeX(id: String): Int = pad + layerOf(id) * colW
    def nodeY(id: String): Int = pad + rowOf(id) * rowH
    // maxOption: a zero-node project renders an empty (but valid) SVG
    // instead of crashing docs generation on values.max
    val svgW = pad * 2 +
      (layerOf.values.maxOption.getOrElse(0) + 1) * colW - (colW - boxW)
    val svgH = pad * 2 +
      (rowOf.values.maxOption.getOrElse(0) + 1) * rowH - (rowH - boxH)
    val svgEdges = graph.edges.toSeq.sortBy(_._1).flatMap { case (id, ups) =>
      ups.toSeq.sorted.map { up =>
        val (x1, y1) = (nodeX(up) + boxW, nodeY(up) + boxH / 2)
        val (x2, y2) = (nodeX(id), nodeY(id) + boxH / 2)
        s"""<path class=edge data-from="${esc(up)}" data-to="${esc(id)}" """ +
          s"""d="M $x1 $y1 C ${x1 + 40} $y1, ${x2 - 40} $y2, $x2 $y2"/>"""
      }
    }.mkString("\n")
    val svgNodes = ids.map { id =>
      val (x, y) = (nodeX(id), nodeY(id))
      val label = if (id.length <= 26) id else id.take(25) + "…"
      s"""<a href="#${esc(id)}"><g class="node ${esc(kindOf(graph.nodes(id)))}">""" +
        s"""<rect x="$x" y="$y" width="$boxW" height="$boxH" rx="6">""" +
        s"""<title>${esc(id)}</title></rect>""" +
        s"""<text x="${x + 8}" y="${y + boxH / 2 + 4}">${esc(label)}</text></g></a>"""
    }.mkString("\n")
    val dagSvg =
      s"""<svg viewBox="0 0 $svgW $svgH" width="$svgW" role="img"
         |  aria-label="lineage DAG">
         |$svgEdges
         |$svgNodes
         |</svg>""".stripMargin

    val cards = ids.map { id =>
      val node = graph.nodes(id)
      val cols = columnsOf(project, node)
      val colRows =
        if (cols.isEmpty) "<tr><td colspan=2 class=dim>no columns resolved</td></tr>"
        else cols.map { case (n, t) =>
          s"<tr><td>${esc(n)}</td><td class=dim>${esc(t)}</td></tr>"
        }.mkString("\n")
      val ups = graph.upstream(id).toSeq.sorted
      val downs = down.getOrElse(id, Nil)
      val tests = testsByTarget.getOrElse(id, Nil)
      val meta = Seq(
        Some(s"<span class=pill>${esc(kindOf(node))}</span>"),
        matOf(node).map(m => s"<span class=pill>${esc(m)}</span>"),
        physicalOf(project, node)
          .map(p => s"<code>${esc(p)}</code>")).flatten.mkString(" ")
      val lineage = Seq(
        if (ups.nonEmpty) Some(s"<p>upstream: ${ups.map(link).mkString(", ")}</p>") else None,
        if (downs.nonEmpty) Some(s"<p>downstream: ${downs.map(link).mkString(", ")}</p>") else None,
        if (tests.nonEmpty) Some(s"<p>tests: ${tests.map(link).mkString(", ")}</p>")
        else node match {
          case _: Model | _: Snapshot => Some("<p class=dim>no data tests</p>")
          case _ => None
        }).flatten.mkString("\n")
      s"""<section class=card id="${esc(id)}">
         |<h3>${esc(id)}</h3>
         |<p>$meta</p>
         |$lineage
         |<table>$colRows</table>
         |</section>""".stripMargin
    }.mkString("\n")

    s"""<!doctype html>
       |<html lang="en"><head><meta charset="utf-8">
       |<title>graft docs — ${esc(project.target.name)}</title>
       |<style>
       |body{font:14px/1.5 system-ui,sans-serif;margin:2rem auto;max-width:60rem;padding:0 1rem;color:#1a1a1a}
       |h1{font-size:1.4rem} h3{margin:0 0 .4rem;font-family:ui-monospace,monospace}
       |.card{border:1px solid #ddd;border-radius:8px;padding:.8rem 1rem;margin:.8rem 0}
       |.pill{background:#eef;border-radius:999px;padding:.1rem .6rem;font-size:.85em}
       |.dim{color:#777} code{background:#f5f5f5;padding:.1rem .3rem;border-radius:4px}
       |table{border-collapse:collapse;margin-top:.4rem}
       |td{border-top:1px solid #eee;padding:.15rem .8rem .15rem 0}
       |a{color:#2456c4;text-decoration:none} a:hover{text-decoration:underline}
       |ul{columns:2;list-style:none;padding:0}
       |svg{display:block;margin:1rem 0;max-width:100%;overflow:visible}
       |svg .edge{fill:none;stroke:#aab;stroke-width:1.5}
       |svg rect{fill:#eef;stroke:#99b} svg .source rect{fill:#efe;stroke:#9b9}
       |svg .test rect{fill:#fee;stroke:#b99}
       |svg text{font:11px ui-monospace,monospace;fill:#1a1a1a}
       |</style></head><body>
       |<h1>graft docs — target ${esc(project.target.name)}</h1>
       |<p class=dim>invocation ${esc(QueryTags.invocationId)}</p>
       |<p>$kindCounts</p>
       |$dagSvg
       |<ul>
       |$toc
       |</ul>
       |$cards
       |</body></html>
       |""".stripMargin
  }
}
