package graft.operators

import graft.SourceLint._
import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Source lint pinning the one cache-lifetime rule ([[CacheScope]]): an
  * operator-internal persist goes through `CacheScope.persist`, whose
  * lifetime is the caller's `withScope` block. No operator takes a scope
  * parameter, and a bare `persist()`/`cache()` is allowed only for the
  * listed transients, each unpersisted in the method that made it. */
class CacheLifetimeLintSpec extends AnyFunSuite {

  private val mainDir = Paths.get("src/main/scala")
  private val opsDir = mainDir.resolve("graft/operators")

  /** (file, method) of each self-released transient. */
  private val transients = Set(
    "LshTuning.scala" -> "report",
    "Mmr.scala" -> "mmrSelect",
    "PageRank.scala" -> "distributedRanks",
    "Pq.scala" -> "trainCodebooks",
    "Similarity.scala" -> "trainKMeans")

  test("no operator takes a scope parameter or calls CacheScope.route") {
    val hits = for {
      p <- scalaFiles(mainDir)
      (l, i) <- codeLines(p).zipWithIndex
      if l.contains("Option[CacheScope]") || l.contains("CacheScope.route")
    } yield s"${p.getFileName}:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("bare persist()/cache() only in the self-released transients") {
    val persistCall = """(?<!CacheScope)\.(persist|cache)\(""".r
    val valDef = """\bval (\w+)\s*=""".r.unanchored
    val found = for {
      p <- scalaFiles(opsDir) if p.getFileName.toString != "CacheScope.scala"
      lines = codeLines(p)
      i <- lines.indices if persistCall.findFirstIn(lines(i)).isDefined
    } yield {
      val file = p.getFileName.toString
      val start = methodStart(lines, i)
      val method = methodAt(lines, i)
      assert(transients(file -> method),
        s"$file:${i + 1}: bare persist in $method; use CacheScope.persist")
      val end = lines.indices.drop(i + 1)
        .find(j => methodDef.matches(lines(j))).getOrElse(lines.size)
      val name = (i to start.get by -1).iterator
        .flatMap(j => valDef.findFirstMatchIn(lines(j)).map(_.group(1)))
        .next()
      assert(lines.slice(i, end).exists(_.contains(s"$name.unpersist(")),
        s"$file:${i + 1}: $method never unpersists its transient `$name`")
      file -> method
    }
    assert(found.toSet == transients,
      s"allowlisted transients not found: ${transients -- found}")
  }
}
