package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Listeners for the traced run. They observe Spark from the outside —
  * scheduler, task metrics, Catalyst phases, streaming progress and
  * external-catalog events — and the benchmark reads them once per pass,
  * after draining the listener bus. Nothing here is attached in an
  * untraced run. */
final class Tracer(spark: SparkSession) {
  private final class Job(val start: Long, var end: Long, val group: String)
  private val jobs = mutable.Map[Int, Job]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val streamStart = mutable.Map[java.util.UUID, Long]()
  private val streamTrigger = mutable.Map[java.util.UUID, Long]().withDefaultValue(0L)
  /** The timed window of the current pass as epoch-ms segments: it opens
    * at [[reset]], closes at [[pause]], reopens at [[resume]] and closes
    * for good at [[read]]. */
  private val segments = mutable.ArrayBuffer[(Long, Long)]()
  private var segmentStart = 0L

  /** Events delivered while paused are dropped: the harness pauses around
    * its own untimed bookkeeping. */
  @volatile private var active = true

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new Job(e.time, Long.MaxValue, group)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) synchronized {
        counts("executor.run_ms") += m.executorRunTime
        counts("executor.cpu_ms") += m.executorCpuTime / 1e6
        counts("executor.gc_ms") += m.jvmGCTime
        counts("executor.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("executor.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("executor.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counts("executor.records_written") += m.outputMetrics.recordsWritten
        counts("executor.output_bytes") += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case c: ExternalCatalogEvent if active && !c.getClass.getSimpleName.endsWith("PreEvent") =>
        add("catalog.events", 1)
        c match {
          case _: CreateTableEvent => add("catalog.create_table", 1)
          case _: DropTableEvent => add("catalog.drop_table", 1)
          case _: AlterTableEvent => add("catalog.alter_table", 1)
          case _ =>
        }
      case _ =>
    }
  }

  private val executionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
          "optimization" -> "catalyst.optimization_ms",
          "planning" -> "catalyst.planning_ms"))
        phases.get(phase).foreach(p => add(key, p.durationMs.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (active) record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (active) synchronized {
      counts("streaming.runs") += 1
      streamStart(e.runId) = System.currentTimeMillis()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (active) synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      counts("streaming.batches") += 1
      for ((k, name) <- Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
          "addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
          "walCommit" -> "wal_commit"))
        counts(s"streaming.${name}_ms") += ms(k)
      streamTrigger(e.progress.runId) += ms("triggerExecution")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
      streamStart.remove(e.runId).foreach { t0 =>
        val wall = System.currentTimeMillis() - t0
        counts("streaming.lifecycle_ms") += math.max(0L, wall - streamTrigger(e.runId))
      }
      streamTrigger.remove(e.runId)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  def pause(): Unit = {
    val t = System.currentTimeMillis()
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    active = false
    synchronized { segments += ((segmentStart, t)) }
  }
  def resume(): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    active = true
    segmentStart = System.currentTimeMillis()
  }

  /** Forget everything seen so far and open the timed window; call right
    * before a pass starts. */
  def reset(): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    synchronized { jobs.clear(); counts.clear(); segments.clear() }
    segmentStart = System.currentTimeMillis()
  }

  /** Close the timed window and return the per-layer figures since
    * [[reset]]; call right after the pass ends.
    *
    * The two scheduler times are measured separately so that checking
    * them against the pass wall time tests something. `in_jobs_ms` is the
    * union of all recorded job intervals, unclipped. `outside_jobs_ms` is
    * the part of the timed window no job covers. If every job lies inside
    * the window, they add up to the pass wall time (within a millisecond
    * of clock rounding per segment end, reported as
    * `scheduler.segments`); a job recorded from untimed bookkeeping, or
    * job times that drift from the pass clock, make them disagree. */
  def read(): Map[String, Double] = {
    val t = System.currentTimeMillis()
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      segments += ((segmentStart, t))
      val js = jobs.values.toSeq
      val spans = js.map(j => (j.start, j.end))
      val inJobs = Stats.unionWithin(spans, Long.MinValue, Long.MaxValue)
      val outside = Stats.uncovered(spans, segments.toSeq)
      val tasks = counts("scheduler.tasks")
      val run = counts("executor.run_ms")
      counts.toMap ++ Map(
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.model_jobs" -> js.count(_.group.startsWith("model.")).toDouble,
        "scheduler.tasks_per_job" -> (if (js.isEmpty) 0.0 else tasks / js.size),
        "scheduler.in_jobs_ms" -> inJobs.toDouble,
        "scheduler.outside_jobs_ms" -> outside.toDouble,
        "scheduler.segments" -> segments.size.toDouble,
        "executor.cpu_share" -> (if (run == 0) 0.0 else counts("executor.cpu_ms") / run))
    }
  }
}
