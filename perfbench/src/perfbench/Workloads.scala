package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import scala.collection.mutable

/** One operation: a registered query, or one dbt node result. Output
  * checks that are not operations of their own carry no latency
  * (`timed = false`) but count as attempted. */
final case class Op(name: String, seconds: Double, ok: Boolean,
    detail: String = "", timed: Boolean = true)

/** One pass over a workload's operation list. `layers` holds the figures
  * measured from the benchmark's own spans; listener figures are added by
  * the harness when tracing. */
final case class Pass(ops: Seq[Op], layers: Map[String, Double])

trait Workload {
  def name: String
  /** The input scale the workload stages, one of [[Inputs.Scales]]. */
  def scale: String = "sf0.01"
  /** Part of every set-up: runs the workload's own code paths once on the
    * staged inputs, so the first timed pass does not pay their first-use
    * (class loading, JIT) cost alone. */
  def warmUp(spark: SparkSession, dataDir: String, threads: Int): Unit
  /** Untimed preparation after setup (e.g. choosing batch split points). */
  def prepare(spark: SparkSession, env: Env): Unit = ()
  def pass(spark: SparkSession, env: Env): Pass
}

/** What a workload gets from the harness: where the inputs are, a private
  * scratch directory, the seeded generator, the thread count, and
  * [[untimed]] for its own bookkeeping (input landing, output checks),
  * which the pass wall time and the tracer both leave out. */
final class Env(val dataDir: String, val workDir: String,
    val rng: scala.util.Random, val threads: Int, tracer: Option[Tracer]) {
  private var paused = 0L
  def pausedNs: Long = paused
  def resetClock(): Unit = paused = 0L
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    tracer.foreach(_.pause())
    try body finally {
      tracer.foreach(_.resume())
      paused += System.nanoTime() - t0
    }
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(DbtProject, OperatorMix, LedgerStream)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Order-insensitive digest of a result: row count, xor and high-word sum
  * of each row's xxhash64 over every column. */
object Digest {
  private def hashed(df: DataFrame): Column = xxhash64(df.schema.fields.toSeq.map { f =>
    val c = df.col(s"`${f.name}`")
    f.dataType match {
      case _: MapType => to_json(c) // maps are not hashable
      case _ => c
    }
  }: _*)

  private def aggs(h: Column): Seq[Column] = Seq(count(lit(1)).as("n"),
    bit_xor(h).as("x"), sum(shiftrightunsigned(h, 32)).as("s"))

  private def format(n: Any, x: Any, s: Any): String = {
    def l(v: Any): Long = Option(v).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    f"${l(n)}%d:${l(x)}%016x:${l(s)}%x"
  }

  /** `df` with the digest attached as observed metrics, read back with
    * [[read]] after the action completes. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val a = aggs(hashed(df))
    df.observe(obs, a.head, a.tail: _*)
  }

  def read(obs: Observation): String = {
    val m = obs.get
    format(m("n"), m("x"), m("s"))
  }

  /** Digest computed by its own aggregation. */
  def of(df: DataFrame): String = {
    val a = aggs(hashed(df))
    val r = df.agg(a.head, a.tail: _*).first()
    format(r.get(0), r.get(1), r.get(2))
  }
}

/** A workload made of registered queries: each operation calls the
  * query's function from `SparkEntry.queries` and forces it with a `noop`
  * write whose observed digest must match the pinned one. Every pass runs
  * the whole list in a seeded order, each query after `clearCache()`. */
abstract class QueryWorkload(val name: String) extends Workload {
  /** Query name -> pinned digest of its output on the benchmark inputs. */
  def expected: Seq[(String, String)]
  /** A query of the same family, not in [[expected]], run by [[warmUp]]. */
  def warmUpQuery: String

  private lazy val fns = graft.SparkEntry.queries

  def warmUp(spark: SparkSession, dataDir: String, threads: Int): Unit =
    fns(warmUpQuery)(spark, dataDir).write.format("noop").mode("overwrite").save()

  def pass(spark: SparkSession, env: Env): Pass = {
    var buildMs, actionMs = 0.0
    val ops = mutable.ArrayBuffer[Op]()
    for ((q, want) <- env.rng.shuffle(expected)) {
      env.untimed(spark.catalog.clearCache())
      val s0 = System.nanoTime()
      val op = try {
        val df = fns(q)(spark, env.dataDir)
        val s1 = System.nanoTime()
        val obs = new Observation(q)
        Digest.observe(df, obs).write.format("noop").mode("overwrite").save()
        val s2 = System.nanoTime()
        val got = Digest.read(obs)
        buildMs += (s1 - s0) / 1e6
        actionMs += (s2 - s1) / 1e6
        Op(q, (s2 - s0) / 1e9, got == want,
          if (got == want) "" else s"digest $got, expected $want")
      } catch {
        case e: Exception => Op(q, (System.nanoTime() - s0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      ops += op
    }
    Pass(ops.toSeq, Map("queries.build_ms" -> buildMs, "queries.action_ms" -> actionMs))
  }
}

/** Read-only batch queries: TPC-H-style aggregates and joins, vector kNN
  * and IVF, graph, text and multimodal operators. No catalog writes, no
  * streaming. */
object OperatorMix extends QueryWorkload("operator_mix") {
  val warmUpQuery = "q06_forecast_revenue"
  val expected = Seq(
    "q01_pricing_summary" -> "6:e93e583db9c679a5:3b4597b6f",
    "q03_top_open_orders" -> "10:aade012843bd65b6:37022026c",
    "q09_profit_by_nation_year" -> "168:4326013f8d10351b:5019df1f7b",
    "q14_top3_orders_per_customer" -> "4497:1ef9b28f14e5b5b9:8b770fb9149",
    "q27_orders_above_customer_avg" -> "1291:e7c3627f011be254:28a53d32361",
    "x05_knn_cosine" -> "1000:34071a98ee960d42:1ec62ce8e98",
    "x14_ivf_ann" -> "1:2f5ef38c1bba1b43:2f5ef38c",
    "x19_dup_components" -> "500:3c4aa2a1c0af2b77:ff8e2cd855",
    "x25_tfidf_top_terms" -> "1500:8ea51053b3dfcad2:2ee96b184f3",
    "x13_multimodal_features" -> "500:21b144e345b290fd:f5cd6f6425")
}

/** The AvailableNow ledger family: each query resets its own landing,
  * checkpoint and table, runs two or three AvailableNow passes that write
  * through the catalog, then reads the ledger back. x24 is the
  * stream-stream join with watermarked state. */
object LedgerStream extends QueryWorkload("ledger_stream") {
  val warmUpQuery = "x94_streaming_countmin"
  val expected = Seq(
    "x58_streaming_dedup_ledger" -> "500:0942a86d064d71da:fba15f686f",
    "x161_streaming_cdc_ledger" -> "500:0942a86d064d71da:fba15f686f",
    "x24_stream_join" -> "36:b5a2a2155aee820e:136ca7677d",
    "x72_streaming_heavy_hitters" -> "8:4e06422dc7bcfa32:41c8a9611",
    "x162_streaming_sample_ledger" -> "240:d1bd05aa7464f8b9:770141115c",
    "x168_streaming_token_ledger" -> "20:2256339bfdf957a9:b0493d8f9",
    "x172_streaming_retention_ledger" -> "5:10ae789534d14d5d:3269a3155",
    "x182_streaming_retraction_ledger" -> "100:a71e17834e620a07:339ca62701",
    "x183_late_arrival_audit" -> "3:12663c9abc287d44:1ee17735c",
    "x197_streaming_burstiness_ledger" -> "150:39a366abce6c7a15:4acca36e4b",
    "x206_streaming_quantile_ledger" -> "60:54417f3bdd2bea54:20209b3779")
}
