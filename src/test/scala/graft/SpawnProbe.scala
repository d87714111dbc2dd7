package graft

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Counts the OS processes this JVM starts around a block: an in-process
  * JFR recording of `jdk.ProcessStart` events (JDK 15+), each with the
  * command and the Java stack that started it. */
object SpawnProbe {

  final case class Spawn(command: String, frames: Seq[String])

  def record[T](body: => T): (T, Seq[Spawn]) = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("spawns", ".jfr")
    try {
      r.start()
      val result = try body finally r.stop()
      r.dump(out)
      val spawns = RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Spawn(e.getString("command"),
          Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(f =>
            s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}")))
      (result, spawns)
    } finally { r.close(); Files.deleteIfExists(out) }
  }

  /** A spawn of Hadoop's local filesystem (its `Shell`): the kind the
    * fork-free binding removes. Spark's own spawns are not file I/O of a
    * query: `rm -rf` of a collected session's artifact directory (a
    * cleaner thread, timed by GC) and one `getconf PAGESIZE` per JVM. */
  def hadoopFs(s: Spawn): Boolean = s.frames.exists(_.startsWith("org.apache.hadoop."))

  /** One line per distinct (program, call site) with its count: the
    * program name and the first `depth` frames past the process-start
    * machinery (`java.lang` and Hadoop's `Shell`). */
  def describe(spawns: Seq[Spawn], depth: Int = 12): String =
    spawns.groupBy { s =>
      val program = s.command.takeWhile(_ != ' ').split('/').last
      val site = s.frames.dropWhile(f => f.startsWith("java.lang.") ||
        f.startsWith("org.apache.hadoop.util.Shell")).take(depth)
      (program, site)
    }.toSeq.sortBy(-_._2.size).map { case ((program, site), ss) =>
      s"${ss.size} x $program\n    " + site.mkString("\n    ")
    }.mkString("\n")
}
