package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Shared reading for the source-lint specs: the Scala files under a
  * directory, their lines with comments blanked (so prose never trips a
  * lint), and the top-level method a line sits in. */
object SourceLint {

  def scalaFiles(dir: Path): Seq[Path] = {
    require(Files.isDirectory(dir), s"$dir not found (run from the repo root)")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  def codeLines(p: Path): IndexedSeq[String] = {
    val noBlocks = "(?s)/\\*.*?\\*/".r.replaceAllIn(
      new String(Files.readAllBytes(p), "UTF-8"),
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.replaceAll("[^\n]", " ")))
    noBlocks.split("\n", -1).toIndexedSeq.map(_.replaceAll("//.*$", ""))
  }

  /** A method defined directly in a top-level class or object. */
  val methodDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored

  /** Index of the top-level method definition line `i` sits in. */
  def methodStart(lines: IndexedSeq[String], i: Int): Option[Int] =
    (i to 0 by -1).find(j => methodDef.matches(lines(j)))

  /** Name of the top-level method line `i` sits in, or `<none>`. */
  def methodAt(lines: IndexedSeq[String], i: Int): String =
    methodStart(lines, i).map(j => methodDef.findFirstMatchIn(lines(j)).get
      .group(1)).getOrElse("<none>")
}
