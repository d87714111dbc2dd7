package graft.streaming

import graft.{SparkSpec, SpawnProbe}
import graft.io.LocalFsSpec
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The streaming start binds a local filesystem that starts no process:
  * a two-run dedup ledger and a stream-stream join spawn nothing through
  * Hadoop's filesystem, while the same block under the stock binding does
  * (so the probe is seen to see spawns). Spark's own non-I/O spawns are
  * not counted ([[SpawnProbe.hadoopFs]]). Each block's inputs are written
  * before the recording; the second run's files arrive by NIO move. */
class ZeroSpawnSpec extends SparkSpec {

  private def streamingBlock(tag: String): () => Unit = {
    import spark.implicits._
    val landing = Files.createTempDirectory(s"spawn_land_$tag")
    val staged = Files.createTempDirectory(s"spawn_next_$tag")
    val ckpt = Files.createTempDirectory(s"spawn_ckpt_$tag").toString
    val ledger = s"spawn.ledger_$tag"
    spark.sql("CREATE DATABASE IF NOT EXISTS spawn")
    spark.sql(s"DROP TABLE IF EXISTS $ledger")
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(landing.toString)
    Seq((4L, "a b c d e"), (5L, "p q r s t"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(staged.toString)
    val schema = spark.read.parquet(landing.toString).schema
    def run(): Unit = EventStreams.streamingDedupLedger(
      spark, landing.toString, schema, ledger, ckpt, "doc_id", "text")
    def parts(dir: Path): Seq[Path] = Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
    () => {
      run()
      parts(staged).foreach(f => Files.move(f, landing.resolve(f.getFileName)))
      run()
      assert(spark.table(ledger).count() == 20) // 5 docs x 4 bands
      assert(EventStreams.clickAttribution(spark, sf0001).count() > 0)
    }
  }

  test("a two-run ledger and a stream join start no filesystem process") {
    val block = streamingBlock("forkfree")
    val spawns = SpawnProbe.record(block())._2.filter(SpawnProbe.hadoopFs)
    if (spawns.nonEmpty)
      fail(s"${spawns.size} process starts:\n" + SpawnProbe.describe(spawns))
  }

  test("the same block under the stock binding starts filesystem processes") {
    val block = streamingBlock("stock")
    val spawns = SpawnProbe.record(
      EventStreams.localFsBinding.withValue(LocalFsSpec.stockBinding)(block()))
      ._2.filter(SpawnProbe.hadoopFs)
    assert(spawns.nonEmpty, "the probe saw no spawn of the stock filesystem")
  }
}
