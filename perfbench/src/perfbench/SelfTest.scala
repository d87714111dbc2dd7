package perfbench

import graft.engine._
import org.apache.spark.sql.DataFrame
import scala.util.Try

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  *
  * The arithmetic checks are instant. The Spark checks run two traced
  * passes of each gated workload with the same seed (about three
  * minutes) and require that the deterministic counters repeat exactly
  * and that time in jobs plus time outside them adds up to the wall time.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = Try(ok).getOrElse(false)
    println((if (passed) "ok   " else "FAIL ") + name)
    if (!passed) failures += 1
  }

  /** Counters allowed to differ between two same-seed passes, with why.
    * None today: adaptive execution replans identically on identical
    * inputs, and every pass starts from a dropped schema. */
  val knownUnrepeated: Map[String, String] = Map.empty

  def run(runDir: String, inputs: String): Int = {
    arithmetic()
    for (w <- Seq(DbtProject, LedgerStream)) spark(w, s"$runDir/${w.name}", inputs)
    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    if (failures == 0) 0 else 1
  }

  private def arithmetic(): Unit = {
    check("tail of 11 samples is the smallest, at p9.1") {
      val t = Stats.tail((1 to 11).map(_.toDouble))
      t.value == 1.0 && math.abs(t.percentile - 100.0 / 11) < 1e-9
    }
    check("tail leaves exactly ten samples beyond it") {
      val xs = (0 until 200).map(i => (i * 37 % 200).toDouble)
      val t = Stats.tail(xs)
      xs.count(_ > t.value) == 10 && t.percentile == 95.0
    }
    check("tail refuses ten samples") { Try(Stats.tail(Seq.fill(10)(1.0))).isFailure }
    check("median of even and odd counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    check("union of overlapping, nested, disjoint and clipped intervals") {
      Stats.unionWithin(Seq((0L, 10L), (5L, 15L), (6L, 7L), (20L, 30L), (-5L, 2L)), 0, 25) == 20
    }
    check("time outside jobs is the uncovered part of each timed segment") {
      // segments [0, 20) and [30, 50); jobs cover 5..15, 35..40 and 45..60
      val jobs = Seq((5L, 15L), (35L, 40L), (45L, 60L))
      Stats.uncovered(jobs, Seq((0L, 20L), (30L, 50L))) == 20
    }
    check("a job outside the timed window breaks in + outside = wall") {
      // a job during paused bookkeeping (22..28) is in no segment
      val segs = Seq((0L, 20L), (30L, 50L))
      val jobs = Seq((5L, 15L), (22L, 28L))
      val wall = segs.map(s => s._2 - s._1).sum
      Stats.unionWithin(jobs, Long.MinValue, Long.MaxValue) +
        Stats.uncovered(jobs, segs) != wall
    }

    // a diamond a -> {b, c} -> d, plus a test on b that d must wait for
    def model(n: String) = Model(n, ModelConfig(), (_: Ctx) => null: DataFrame)
    val test = DataTest("t_b", "b", identity)
    val g = ProjectGraph(
      Seq(model("a"), model("b"), model("c"), model("d")).map(m => m.id -> (m: Node)).toMap +
        (test.id -> test),
      Map("model.b" -> Set("model.a"), "model.c" -> Set("model.a"),
        "model.d" -> Set("model.b", "model.c"), test.id -> Set("model.b")))
    val waits = DbtProject.waitsFor(g) _
    check("a model waits for its upstreams and their tests; a test only for its model") {
      waits("model.d") == Set("model.b", "model.c", test.id) && waits(test.id) == Set("model.b")
    }
    val dur = Map("model.a" -> 1.0, "model.b" -> 1.0, "model.c" -> 3.0,
      "model.d" -> 2.0, test.id -> 2.5)
    check("critical path follows the slowest chain, tests included") {
      Stats.criticalPath(dur, waits) == 6.5 // a, b, t_b, d
    }
    check("slack is wall time minus the critical path") {
      val wall = 8.0
      wall - Stats.criticalPath(dur, waits) == 1.5
    }
    check("critical path refuses a cycle") {
      Try(Stats.criticalPath(Map("x" -> 1.0, "y" -> 1.0),
        Map("x" -> Set("y"), "y" -> Set("x")))).isFailure
    }
  }

  private def spark(w: Workload, runDir: String, inputs: String): Unit = {
    val threads = Runtime.getRuntime.availableProcessors
    val (session, _) = Main.setUp(w, runDir, inputs, threads)
    try {
      val tracer = new Tracer(session)
      def env = new Env(s"$runDir/data-${Main.SetupRepeats}", s"$runDir/work",
        new scala.util.Random(1), threads, Some(tracer))
      w.prepare(session, env)
      tracer.attach()
      val passes = Seq.fill(2)(Main.runPass(session, w, env, Some(tracer)))
      tracer.detach()
      check(s"${w.name}: every output correct") { passes.forall(_.pass.ops.forall(_.ok)) }
      for (p <- passes) {
        val in = p.layers("scheduler.in_jobs_ms")
        val out = p.layers("scheduler.outside_jobs_ms")
        val wall = p.wallS * 1000
        // each timed segment's two ends are read on the millisecond clock
        val tol = 2 * p.layers("scheduler.segments") + 1
        println(f"     ${w.name}: in_jobs $in%.0f ms + outside_jobs $out%.0f ms, " +
          f"wall $wall%.1f ms, tolerance $tol%.0f ms")
        check(s"${w.name}: in_jobs_ms <= wall") { in > 0 && in <= wall + tol }
        check(s"${w.name}: in_jobs_ms + outside_jobs_ms = wall") {
          out >= 0 && math.abs(in + out - wall) <= tol
        }
      }
      val differ = Layers.unrepeated(passes).filterNot(d => knownUnrepeated.contains(d._1))
      for ((k, vs) <- Layers.unrepeated(passes))
        println(s"     ${w.name}: $k differs ${vs.mkString(" / ")}" +
          knownUnrepeated.get(k).map(c => s" ($c)").getOrElse(""))
      check(s"${w.name}: deterministic counters repeat across same-seed passes") {
        differ.isEmpty
      }
    } finally session.stop()
  }
}
