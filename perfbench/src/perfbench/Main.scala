package perfbench

import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import scala.collection.mutable

/** The benchmark harness: set up, run passes of one workload in a closed
  * loop for the requested time, check every output, and print the metrics.
  *
  * `perfbench/run.py` builds the classes and launches this with a private
  * run directory; see `perfbench/README.md` for the workloads and metrics.
  */
object Main {
  /** Set-up is repeated this many times and reported as the median. */
  val SetupRepeats = 3
  /** A run keeps going until it has this many timed operations, so the
    * tail percentile has at least ten samples beyond it. */
  val MinSamples = 11

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Seq[String]): Args = {
    val kv = args.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      kv.getOrElse("--trace", "0") == "1")
  }

  def session(runDir: String, i: Int, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse-$i")
      .config("spark.local.dir", s"$runDir/local-$i")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start, input staging and warm-up, [[SetupRepeats]] times;
    * returns the last session and each set-up's seconds. */
  def setUp(workload: Workload, runDir: String, inputs: String,
      threads: Int): (SparkSession, Seq[Double]) = {
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(runDir, i, threads)
      Inputs.stage(s"$inputs/${workload.scale}", s"$runDir/data-$i")
      workload.warmUp(spark, s"$runDir/data-$i", threads)
      setups += (System.nanoTime() - t0) / 1e9
    }
    (spark, setups.toSeq)
  }

  /** One pass, timed and (when tracing) read out layer by layer; the
    * driver heap is measured afterwards, outside the timed window. */
  def runPass(spark: SparkSession, workload: Workload, env: Env,
      tracer: Option[Tracer]): PassRecord = {
    val host0 = Host.read()
    env.resetClock()
    tracer.foreach(_.reset())
    val p0 = System.nanoTime()
    val pass = workload.pass(spark, env)
    val wall = (System.nanoTime() - p0 - env.pausedNs) / 1e9
    val traced = tracer.map(_.read()).getOrElse(Map())
    PassRecord(pass, wall, Host.liveHeapMb(spark, env.threads), Host.read().since(host0),
      pass.layers ++ traced)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--generate")) return generate(argv(1))
    val runDir = sys.props.getOrElse("perfbench.runDir", sys.error("-Dperfbench.runDir unset"))
    val inputs = sys.props.getOrElse("perfbench.inputs", sys.error("-Dperfbench.inputs unset"))
    if (argv.headOption.contains("--selftest")) sys.exit(SelfTest.run(runDir, inputs))
    val args = parse(argv.toSeq)
    val workload = Workloads.byName(args.workload).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val threads = Runtime.getRuntime.availableProcessors
    val (spark, setups) = setUp(workload, runDir, inputs, threads)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val env = new Env(s"$runDir/data-$SetupRepeats", s"$runDir/work",
      new scala.util.Random(args.seed), threads, tracer)
    workload.prepare(spark, env)
    tracer.foreach(_.attach())

    val passes = mutable.ArrayBuffer[PassRecord]()
    val t0 = System.nanoTime()
    def samples = passes.flatMap(_.pass.ops.filter(_.timed))
    while (samples.size < MinSamples || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val rec = runPass(spark, workload, env, tracer)
      passes += rec
      println(f"# pass ${passes.size}: wall ${rec.wallS}%.3f s, ${rec.pass.ops.size} ops, " +
        f"${rec.pass.ops.count(!_.ok)} failed, heap_live ${rec.heapMb}%.1f MB, " +
        f"steal ${rec.host.stealPct}%.2f%%, load ${rec.host.load}%.2f")
      rec.pass.ops.filterNot(_.ok).foreach(o => println(s"# FAIL ${o.name}: ${o.detail}"))
      println("# ops " + rec.pass.ops.filter(_.timed)
        .map(o => f"${o.name}=${o.seconds}%.3f").mkString(" "))
    }
    tracer.foreach(_.detach())
    spark.stop()

    val ops = passes.flatMap(_.pass.ops)
    val tail = Stats.tail(samples.map(_.seconds).toSeq)
    println(f"# op_tail_s is p${tail.percentile}%.1f of ${tail.samples} samples " +
      s"(${tail.beyond} beyond); setups ${setups.map(s => f"$s%.3f").mkString(", ")} s")
    val metrics: Seq[(String, Double, String)] = if (!args.trace) Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("pass_s", Stats.median(passes.map(_.wallS).toSeq), "s"),
      ("op_p50_s", Stats.median(samples.map(_.seconds).toSeq), "s"),
      ("op_tail_s", tail.value, "s"),
      ("heap_live_mb", Stats.median(passes.map(_.heapMb).toSeq), "MB"))
    else Layers.report(passes.toSeq)
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${jsonNumber(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ops.forall(_.ok)}, "attempted": ${ops.size}, """ +
      s""""failed": ${ops.count(!_.ok)}, "metrics": {$json}}""")
  }

  /** Write the input tables once per build (see [[Inputs]]). */
  private def generate(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/_warehouse")
      .config("spark.local.dir", s"$dir/_local")
      .getOrCreate()
    try Inputs.generate(spark, dir) finally spark.stop()
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** A finished pass with what the harness measured around it. */
final case class PassRecord(pass: Pass, wallS: Double, heapMb: Double, host: HostNoise,
    layers: Map[String, Double])

final case class HostNoise(stealPct: Double, load: Double)

/** Host-noise evidence and the driver heap, read outside timed windows. */
object Host {
  final case class Cpu(steal: Long, total: Long) {
    def since(before: Cpu): HostNoise = {
      val dt = total - before.total
      HostNoise(if (dt <= 0) 0.0 else 100.0 * (steal - before.steal) / dt, loadAvg())
    }
  }

  /** Aggregate CPU jiffies from /proc/stat (steal is the 8th field). */
  def read(): Cpu =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        Cpu(if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
      } finally f.close()
    } catch { case _: Exception => Cpu(0, 0) }

  def loadAvg(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split(" ")(0).toDouble finally f.close()
    } catch { case _: Exception => 0.0 }

  /** Driver heap still in use after a forced full collection, with what
    * only lingers by accident released first: cached plans, idle
    * state-store providers (normally unloaded by periodic maintenance),
    * and the last task's objects, which an executor thread keeps
    * reachable until it runs another task. Spark frees the blocks of
    * collected plans asynchronously (ContextCleaner), so collect, give the
    * cleaner a moment, and collect again. */
  def liveHeapMb(spark: SparkSession, threads: Int): Double = {
    spark.catalog.clearCache()
    PerfbenchAccess.unloadStateStores()
    spark.range(0, threads * 4L, 1, threads * 4).write.format("noop").mode("overwrite").save()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    Thread.sleep(500)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
