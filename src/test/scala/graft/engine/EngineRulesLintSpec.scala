package graft.engine

import graft.SourceLint._
import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite
import scala.util.matching.Regex

/** Source lint pinning one definition per engine decision: how a source
  * location is read ([[SourceLocation]]'s reader, in Core.scala), how a
  * project [[Ctx]] is built (`Project.ctxFor`), how SQL text is parsed
  * ([[SqlTemplate.parse]]), which node a ref names (`Project.refTarget`),
  * what counts as a physical materialization
  * ([[Materialization.isPhysical]]) and where a streaming query starts
  * (`EventStreams.startStream`). */
class EngineRulesLintSpec extends AnyFunSuite {

  private val engineDir = Paths.get("src/main/scala/graft/engine")

  /** `file:line: code` of every code line matching `pattern` whose
    * (file, top-level method) is not `allowed`. */
  private def hits(pattern: Regex, allowed: (String, String) => Boolean,
      dir: java.nio.file.Path = engineDir): Seq[String] =
    for {
      p <- scalaFiles(dir)
      file = p.getFileName.toString
      lines = codeLines(p)
      i <- linesHitting(pattern, allowed, file, lines)
    } yield s"$file:${i + 1}: ${lines(i).trim}"

  private def linesHitting(pattern: Regex, allowed: (String, String) => Boolean,
      file: String, lines: IndexedSeq[String]): Seq[Int] =
    lines.indices.filter(i => pattern.findFirstIn(lines(i)).isDefined &&
      !allowed(file, methodAt(lines, i)))

  test("one location-to-format definition: path locations only in Core.scala") {
    val h = hits("""\b(?:Parquet|Csv|Json|Orc|Binary)Path\(""".r,
      (file, _) => file == "Core.scala")
    assert(h.isEmpty, h.mkString("\n"))
  }

  test("one Ctx factory: new Ctx only in ctxFor and the unit-test mock") {
    val h = hits("""\bnew Ctx\(""".r, (file, method) =>
      file == "Project.scala" && Set("ctxFor", "runUnitTest")(method))
    assert(h.isEmpty, h.mkString("\n"))
  }

  test("one template parser: placeholder patterns only in SqlTemplate.parse") {
    // RefPat/SrcPat by name, or any regex spelling `{{` — except the
    // profiles' `{{ env_var(..) }}`, the one other template in the engine
    val h = hits(
      """\b(?:RefPat|SrcPat)\b|\\{1,2}\{\\{1,2}\{(?!\\{1,2}s\*env_var\b)""".r,
      (file, method) => file == "Core.scala" && method == "parse")
    assert(h.isEmpty, h.mkString("\n"))
  }

  test("one ref-name rule: refTarget, called by ctxFor and the text-edge pass") {
    // versioned model names (`name_vN`) are spelled only in the rule
    val spelled = hits("""_v[$(]""".r,
      (file, method) => file == "Project.scala" && method == "refTarget")
    assert(spelled.isEmpty, spelled.mkString("\n"))
    val lines = codeLines(engineDir.resolve("Project.scala"))
    val callers = lines.indices
      .filter(i => lines(i).contains("refTarget("))
      .map(methodAt(lines, _)).toSet - "refTarget"
    assert(Set("ctxFor", "textEdges", "persistentViewSql").subsetOf(callers),
      callers)
    assert(callers.subsetOf(Set("ctxFor", "textEdges", "persistentViewSql",
      "compiledRelation", "runUnitTest")), callers)
  }

  test("one physical test: View/Ephemeral matched only where kinds dispatch") {
    // materialize writes each kind its own way, compiledRelation renders
    // an ephemeral inline and a view by name, and the evaluator's
    // unused-ephemeral lint names one kind: none of them asks "physical?"
    val dispatch = Set("Materializer.scala" -> "materialize",
      "Project.scala" -> "compiledRelation",
      "Macros.scala" -> "evaluateProject")
    val h = hits("""\bMaterialization\.(?:View|Ephemeral)\b""".r,
      (file, method) => file == "Core.scala" || dispatch(file -> method)) ++
      hits("""\bdef isPhysical\b""".r, (file, _) => file == "Core.scala")
    assert(h.isEmpty, h.mkString("\n"))
  }

  // a streaming query captures its session's confs at start(), so one
  // helper starts them all and binds what they capture
  private val streamStart = """\.start\(\)|\.toTable\(""".r
  private val inStartStream: (String, String) => Boolean =
    (file, method) => file == "EventStreams.scala" && method == "startStream"

  test("one streaming start: .start()/.toTable( only in EventStreams.startStream") {
    val h = hits(streamStart, inStartStream, Paths.get("src/main/scala/graft"))
    assert(h.isEmpty, h.mkString("\n"))
  }

  test("the streaming-start rule flags each start site it replaced") {
    // the six sites as they read before the rule: a copy of any of them
    // in its old method must fail it
    val sites = Seq(
      ("EventStreams.scala", "hourlyCounts",
        "agg.writeStream.format(\"memory\").queryName(name).start()))"),
      ("EventStreams.scala", "dedupCounts",
        "dedup.writeStream.format(\"memory\").queryName(name).start()))"),
      ("EventStreams.scala", "clickAttribution",
        "val q = joined.writeStream.format(\"memory\").queryName(name).start())"),
      ("EventStreams.scala", "sessionizeStreaming",
        "val q = sessions.toDF().writeStream.queryName(name).start()"),
      ("EventStreams.scala", "runLedger", "runToEnd(stream.writeStream.start())"),
      ("Materializer.scala", "materialize", "df.writeStream.toTable(physical)))"))
    for ((file, method, code) <- sites) {
      val lines = IndexedSeq("object X {", s"  def $method(): Unit = {",
        s"    $code", "  }", "}")
      assert(linesHitting(streamStart, inStartStream, file, lines) == Seq(2), code)
    }
  }
}
