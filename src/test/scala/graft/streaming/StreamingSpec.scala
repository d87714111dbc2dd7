package graft.streaming

import graft.SparkSpec
import graft.queries.CoreQueries
import org.apache.spark.sql.functions._

/** Streaming == batch equivalence: the structured-streaming forms must
  * produce the same aggregates as their batch twins over the same
  * events table. */
class StreamingSpec extends SparkSpec {

  test("stateful streaming sessionization matches batch session counts") {
    // the batch twin
    val events = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.functions.EventTime.normalizeTs(
        spark.read.parquet(s"$sf0001/events.parquet"))
    }
    val batch = EventStreams.sessionizeBatch(events, 30)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    val stream = EventStreams.sessionizeStreaming(spark, sf0001, 30)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    assert(batch.exceptAll(stream).isEmpty && stream.exceptAll(batch).isEmpty)
  }

  test("native session_window equals the lag formulation on gap-free-boundary data") {
    val events = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.functions.EventTime.normalizeTs(
        spark.read.parquet(s"$sf0001/events.parquet"))
    }
    // same sessions when no inter-event gap is EXACTLY 30:00 (the one
    // boundary where the two formulations legitimately differ — x37's
    // oracle encodes session_window's >= semantics)
    val native = EventStreams.sessionizeNative(events, 30)
      .select("user_id", "session_start", "n_events", "sum_value")
    val lagForm = EventStreams.sessionizeBatch(events, 30)
      .select("user_id", "session_start", "n_events", "sum_value")
    assert(native.exceptAll(lagForm).isEmpty && lagForm.exceptAll(native).isEmpty)
    assert(native.count() > 0)
  }

  test("RocksDB state store: hourly agg and watermark dedup match the default provider") {
    // the 100 TB state posture: same queries, state off-heap in RocksDB.
    // A bad provider class or a RocksDB-incompatible state schema throws
    // at query start, so green here means the toggle genuinely engaged.
    val (hourlyDefault, dedupDefault) =
      (EventStreams.hourlyCounts(spark, sf0001).collect().toSet,
        EventStreams.dedupCounts(spark, sf0001).collect().toSet)
    graft.engine.SessionConf.withConf(spark,
      EventStreams.StateStoreConf -> "rocksdb") {
      val hourly = EventStreams.hourlyCounts(spark, sf0001).collect().toSet
      val dedup = EventStreams.dedupCounts(spark, sf0001).collect().toSet
      assert(hourly == hourlyDefault)
      assert(dedup == dedupDefault)
      assert(hourly.nonEmpty && dedup.nonEmpty)
    }
    // the provider conf must not leak past the streaming call
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").isEmpty ||
      !spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
  }

  test("StreamingTable materialization: per-run checkpointed catch-up") {
    import graft.engine._
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("streammat").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    def proj(): Project = {
      val p = new Project(spark, Target("dev", "strm", threads = 2))
      p.source("raw", "ev", ParquetPath(srcDir))
      p.model("stream_tbl", ModelConfig(materialized =
        Materialization.StreamingTable())) { ctx =>
        ctx.sourceStream("raw", "ev").filter(col("id") > 0)
      }
      // downstream batch model reads the accumulated table
      p.model("stream_agg", ModelConfig(materialized = Materialization.Table)) {
        ctx => ctx.ref("stream_tbl").agg(count(lit(1)).as("n"))
      }
      p
    }
    assert(proj().run().ok)
    assert(spark.table("strm.stream_tbl").count() == 2)
    assert(spark.table("strm.stream_agg").head().getLong(0) == 2L)
    // new file arrives; second run processes ONLY it (no duplicates)
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(srcDir)
    assert(proj().run().ok)
    val rows = spark.table("strm.stream_tbl").orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 3L), rows)
    // a third run with nothing new appends nothing
    assert(proj().run().ok)
    assert(spark.table("strm.stream_tbl").count() == 3)
    // full refresh drops table AND checkpoint: everything reprocesses once
    assert(proj().run(select = "stream_tbl", fullRefresh = true).ok)
    assert(spark.table("strm.stream_tbl").count() == 3)
    // full refresh resolves file:-URI checkpoints too (a silently-skipped
    // delete would leave the rebuilt table empty)
    val ckptUri = "file:" + java.nio.file.Files
      .createTempDirectory("strmckpt").toString
    val p2 = new Project(spark, Target("dev", "strm2", threads = 2))
    p2.source("raw", "ev", ParquetPath(srcDir))
    p2.model("stream_uri", ModelConfig(materialized =
      Materialization.StreamingTable(Some(ckptUri)))) { ctx =>
      ctx.sourceStream("raw", "ev")
    }
    assert(p2.run(select = "stream_uri").ok)
    assert(p2.run(select = "stream_uri", fullRefresh = true).ok)
    assert(spark.table("strm2.stream_uri").count() == 3)
    // batch ref to an unbuilt StreamingTable fails actionably
    val p3 = new Project(spark, Target("dev", "strm3", threads = 2))
    p3.source("raw", "ev", ParquetPath(srcDir))
    p3.model("never_built", ModelConfig(materialized =
      Materialization.StreamingTable())) { ctx =>
      ctx.sourceStream("raw", "ev")
    }
    p3.model("reader")(ctx => ctx.ref("never_built"))
    val e = intercept[IllegalStateException](p3.materializedDf("reader").count())
    assert(e.getMessage.contains("StreamingTable"), e.getMessage)
  }

  test("streaming dedup ledger: offset log is the cursor, run 2 skips run-1 files") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("strldg_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strldg_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strldgt")
    spark.sql("DROP TABLE IF EXISTS strldgt.ledger")
    // same fixture as EngineSpec's batch-ledger case — the two incremental
    // mechanisms (max-id cursor there, offset log here) must agree
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Unit = EventStreams.streamingDedupLedger(
      spark, landing, schema, "strldgt.ledger", ckpt, "doc_id", "text")
    def verdicts(): Map[Long, Boolean] =
      spark.table("strldgt.ledger").groupBy(col("doc"))
        .agg(max(col("kept")).as("kept")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    run()
    assert(verdicts() == Map(1L -> true, 2L -> false, 3L -> true))
    assert(spark.table("strldgt.ledger").count() == 12) // 3 docs x 4 bands
    // batch 2 lands: 4 dups history, 6 dups 5 in-batch, 7 too short
    // to shingle (sentinel row, always kept)
    Seq((4L, "a b c d e"), (5L, "p q r s t"), (6L, "p q r s t"), (7L, "hi"))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    run()
    assert(verdicts() == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> false, 7L -> true))
    // 12 + (3 docs x 4 bands + 1 sentinel): run-1 files were NOT re-read —
    // a reprocess would double the batch-1 rows
    assert(spark.table("strldgt.ledger").count() == 25)
    // a run with nothing new appends nothing
    run()
    assert(spark.table("strldgt.ledger").count() == 25)
    // batch 3: 8 exactly repeats batch-2 SURVIVOR 5 (multi-generation
    // history must catch it), 9 is fresh
    Seq((8L, "p q r s t"), (9L, "m n o w v"))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    run()
    assert(verdicts() == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> false, 7L -> true,
      8L -> false, 9L -> true))
    assert(spark.table("strldgt.ledger").count() == 33) // +2 docs x 4 bands
  }

  test("streaming embedding ledger equals the batch ledger on the same batches") {
    import spark.implicits._
    import graft.operators.Dedup
    val landing = java.nio.file.Files.createTempDirectory("strvldg_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strvldg_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strvldgt")
    spark.sql("DROP TABLE IF EXISTS strvldgt.ledger")
    val rnd = new scala.util.Random(5)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val v1 = vec(); val v2 = vec()
    // 1/2 identical (in-batch dup), 4 repeats v1 (cross-batch dup),
    // 5 is mis-dimensioned (sentinel row)
    val b1 = Seq((1L, v1), (2L, v1), (3L, v2))
    val b2 = Seq((4L, v1), (5L, Array(1.0f)), (6L, vec()))
    val dim = 8
    // batch-operator expectation over the same two batches
    val empty = Dedup.srpBandPostings(
      b1.toDF("vec_id", "embedding").limit(0), "vec_id", "embedding", dim)
    val l1 = Dedup.embeddingDedupBatchLedger(b1.toDF("vec_id", "embedding"),
      empty, "vec_id", "embedding", dim)
    val l2 = Dedup.embeddingDedupBatchLedger(b2.toDF("vec_id", "embedding"),
      l1.filter(col("kept") && col("band") >= 0), "vec_id", "embedding", dim)
    val want = l1.unionByName(l2).groupBy(col("doc"))
      .agg(max(col("kept")).as("kept")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(want(1L) && !want(2L) && !want(4L) && want(5L), want)
    // the streaming mechanism over the same arrival order
    b1.toDF("vec_id", "embedding").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Unit = EventStreams.streamingEmbeddingDedupLedger(spark,
      landing, schema, "strvldgt.ledger", ckpt, "vec_id", "embedding", dim)
    run()
    b2.toDF("vec_id", "embedding").write.mode("append").parquet(landing)
    run()
    val got = spark.table("strvldgt.ledger").groupBy(col("doc"))
      .agg(max(col("kept")).as("kept")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == want, s"streaming $got != batch $want")
  }

  test("streaming heavy-hitters ledger: bounds hold across increments, history never recounted") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("strhh_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strhh_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strhht")
    spark.sql("DROP TABLE IF EXISTS strhht.sketch")
    // skewed fixture split over two increments: hot terms span both
    val rnd = new scala.util.Random(23)
    val hot = (1 to 6).flatMap(i => Seq.fill(1 << (i + 2))(s"hot$i"))
    val tail = (0 until 300).map(i => s"tail$i")
    val all = rnd.shuffle(hot ++ tail)
    val (b1, b2) = all.splitAt(all.size / 2)
    b1.toDF("term").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val cap = 16
    def run(): Unit = EventStreams.streamingHeavyHitters(spark, landing,
      schema, "strhht.sketch", ckpt, "term", cap)
    run()
    val sentinels1 = spark.table("strhht.sketch")
      .filter(col("term").isNull).agg(sum(col("est"))).first().getLong(0)
    assert(sentinels1 == b1.size, "run 1 sentinel total != batch-1 rows")
    b2.toDF("term").write.mode("append").parquet(landing)
    run()
    val ledger = spark.table("strhht.sketch")
    val (summaryDf, totalsDf) = EventStreams.mergeSketchLedger(ledger)
    // history never recounted: sentinel totals sum to EXACTLY n
    val n = all.size.toLong
    assert(totalsDf.first().getLong(0) == n,
      "sentinel totals double-counted history")
    // merged summary obeys the telescoped MG bounds vs exact counts
    val merged = summaryDf
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = n.toDouble / (cap + 1)
    exact.foreach { case (t, f) =>
      if (f > bound) {
        assert(merged.contains(t), s"qualifying $t evicted from the ledger")
        assert(merged(t) <= f && f - merged(t) <= bound,
          s"$t est=${merged(t)} outside [${f - bound}, $f]")
      }
    }
    merged.foreach { case (t, est) =>
      assert(exact.contains(t) && est <= exact(t), s"phantom/overcount $t")
    }
    // and the report operator agrees end-to-end
    val rep = graft.operators.HeavyHitters.reportFromSummary(
      all.toDF("term"), "term", summaryDf, totalsDf,
      cap, topK = 5).collect()
    assert(rep.map(_.getString(0)).toSeq ==
      Seq("hot6", "hot5", "hot4", "hot3", "hot2"))
    assert(rep.forall(_.getBoolean(3)), rep.mkString(", "))
    // at-least-once replay: re-appending a batch's rows with the SAME
    // batch_id (what a crash-retry does) must not change the merge
    val replay = ledger.filter(col("batch_id") === 0)
    replay.write.mode("append").format("parquet")
      .saveAsTable("strhht.sketch")
    spark.catalog.refreshTable("strhht.sketch")
    val (s2, t2) = EventStreams.mergeSketchLedger(spark.table("strhht.sketch"))
    assert(t2.first().getLong(0) == n,
      "replayed batch double-counted in sentinel totals")
    val m2 = s2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2 == merged, "replayed batch changed the merged summary")
  }

  test("streaming drift ledger: merged counts equal batch counts, replay-safe") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("strdr_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strdr_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strdrt")
    spark.sql("DROP TABLE IF EXISTS strdrt.ledger")
    val docs = Seq(
      (1L, "a", "x x y common"), (2L, "a", "x y y common"),
      (3L, "b", "z z q common"), (4L, "b", "q z y common"),
      (5L, "a", "rare y x common"), (6L, "b", "z q q common")
    )
    val vocab = Seq("x", "y", "z", "common")
    val (b1, b2) = docs.splitAt(3)
    b1.toDF("doc_id", "source", "text").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Unit = EventStreams.streamingDriftLedger(spark, landing,
      schema, "strdrt.ledger", ckpt, "source", "text", vocab)
    run()
    b2.toDF("doc_id", "source", "text").write.mode("append").parquet(landing)
    run()
    // merged ledger == one-shot batch bucket counts
    val merged = EventStreams.mergeDriftLedger(spark.table("strdrt.ledger"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = graft.operators.CorpusDrift.bucketCountsAgainstVocab(
      docs.toDF("doc_id", "source", "text"), "source", "text", vocab)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(merged == batch, s"merged $merged != batch $batch")
    // at-least-once replay: re-append batch 0's rows with the SAME
    // batch_id — the merge must not change
    spark.table("strdrt.ledger").filter(col("batch_id") === 0)
      .write.mode("append").format("parquet").saveAsTable("strdrt.ledger")
    spark.catalog.refreshTable("strdrt.ledger")
    val replayed = EventStreams.mergeDriftLedger(spark.table("strdrt.ledger"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(replayed == batch, "replayed batch changed the merged counts")
    // and the JS report runs off the merged counts
    val js = graft.operators.CorpusDrift.jsFromBucketCounts(
      EventStreams.mergeDriftLedger(spark.table("strdrt.ledger")))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(js.keySet == Set("a", "b") && js.values.forall(v =>
      v >= 0 && v <= math.log(2) + 1e-9), js.toString)
  }

  test("streaming hourly ledger: merged counts equal batch, replay-safe") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("stran_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stran_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strant")
    spark.sql("DROP TABLE IF EXISTS strant.hourly")
    def at(h: Int, m: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 $h%02d:$m%02d:00")
    // both batches contribute to hour 0 — the cross-batch partial merge
    val evs = Seq((at(0, 5), "error"), (at(0, 10), "ok"),
      (at(0, 20), "ok"), (at(1, 5), "error"), (at(1, 6), "error"),
      (at(0, 40), "ok"), (at(1, 30), "ok"))
    val (b1, b2) = evs.splitAt(5)
    b1.toDF("ts", "event_type").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    def run(): Unit = EventStreams.streamingHourlyLedger(spark, landing,
      schema, "strant.hourly", ckpt, "ts", "event_type", "error")
    run()
    b2.toDF("ts", "event_type").write.mode("append").parquet(landing)
    run()
    def merged() = EventStreams
      .mergeHourlyLedger(spark.table("strant.hourly"))
      .collect().map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val expect = Map("2024-01-01 00:00:00.0" -> ((4L, 1L)),
      "2024-01-01 01:00:00.0" -> ((3L, 2L)))
    assert(merged() == expect, merged())
    // at-least-once replay: re-append batch 0's rows with the SAME
    // batch_id — the merge must not change
    spark.table("strant.hourly").filter(col("batch_id") === 0)
      .write.mode("append").format("parquet").saveAsTable("strant.hourly")
    spark.catalog.refreshTable("strant.hourly")
    assert(merged() == expect, "replayed batch changed the merged counts")
    // and the z-test report runs off the merged frame
    val rep = graft.operators.Anomaly.spikesFromHourly(
      EventStreams.mergeHourlyLedger(spark.table("strant.hourly")))
      .collect()
    assert(rep.length == 2 && rep.forall(!_.getBoolean(6)), rep.toSeq)
  }

  test("ledger runner: one file per summary append, caller sees every run") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("toklg_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("toklg_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS toklgt")
    spark.sql("DROP TABLE IF EXISTS toklgt.ledger")
    val docs = (1L to 40L).map(i => (i, s"s${i % 5}", i % 7 + 1))
      .toDF("doc_id", "source", "n_tok")
    def run(): Unit = EventStreams.streamingTokenLedger(spark, landing,
      docs.schema, "toklgt.ledger", ckpt, "source", col("n_tok"))
    def docsSeen(): Long = spark.table("toklgt.ledger")
      .agg(sum(col("docs"))).first().getLong(0)
    docs.filter(col("doc_id") <= 20).write.mode("overwrite").parquet(landing)
    run()
    // the caller's session reads (and caches the listing of) run 1's rows
    assert(docsSeen() == 20L)
    docs.filter(col("doc_id") > 20).write.mode("append").parquet(landing)
    run()
    // the end-of-run refresh: run 2's append is visible to the caller
    assert(docsSeen() == 40L, "caller session missed run 2's append")
    val ledger = spark.table("toklgt.ledger")
    val batches = ledger.select(col("batch_id")).distinct().count()
    assert(batches == 2L)
    // the rebalanced append: one file per groups-sized batch, not one
    // per shuffle partition (4 here)
    assert(ledger.inputFiles.length <= batches,
      s"${ledger.inputFiles.length} files for $batches appended batches")
    val merged = EventStreams.mergeTokenLedger(ledger, "source")
      .agg(sum(col("docs")), sum(col("tokens"))).first()
    assert(merged.getLong(0) == 40L &&
      merged.getLong(1) == (1L to 40L).map(_ % 7 + 1).sum)
  }

  test("streaming hourly aggregation equals batch group-by") {
    val got = EventStreams.hourlyCounts(spark, sf0001)
    val events = graft.functions.EventTime.normalizeTs(
      spark.read.parquet(s"$sf0001/events.parquet"))
    val want = events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming count-min ledger: telescopes to the batch sketch, replay-safe") {
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("strcm_t").toString
    val ckpt = java.nio.file.Files.createTempDirectory("strcm_ck").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS strcmt")
    spark.sql("DROP TABLE IF EXISTS strcmt.sketch")
    val rnd = new scala.util.Random(31)
    val hot = (1 to 4).flatMap(i => Seq.fill(1 << (i + 3))(s"hot$i"))
    val tail = (0 until 200).map(i => s"tail$i")
    val all = rnd.shuffle(hot ++ tail)
    val (b1, b2) = all.splitAt(all.size / 2)
    b1.toDF("term").write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val (depth, width) = (4, 512)
    def run(): Unit = EventStreams.streamingCountMin(spark, landing,
      schema, "strcmt.sketch", ckpt, "term", depth, width)
    run()
    b2.toDF("term").write.mode("append").parquet(landing)
    run()
    val ledger = spark.table("strcmt.sketch")
    // two increments landed, history not re-sketched: batch sentinel
    // totals sum to exactly n
    val (counters, totals) = EventStreams.mergeCountMinLedger(ledger)
    assert(totals.first().getLong(0) == all.size.toLong)
    // CM counters are additive: the merged ledger equals the one-shot
    // batch sketch, counter for counter
    val batchSketch = all.toDF("term")
      .agg(graft.expressions.SketchExpressions
        .countMinSketch(col("term"), depth, width))
      .first().getSeq[Long](0)
    val mergedArr = new Array[Long](depth * width)
    counters.collect().foreach(r =>
      mergedArr(r.getAs[Int]("pos")) = r.getAs[Long]("cnt"))
    assert(mergedArr.toSeq == batchSketch.toSeq,
      "merged ledger != one-shot batch sketch")
    // end-to-end report: never_under always, overcount within bound
    val rep = graft.operators.HeavyHitters.countMinReportFromCounters(
      all.toDF("term"), "term", counters, totals, depth, width, topK = 4)
      .collect()
    assert(rep.map(_.getString(0)).toSeq ==
      Seq("hot4", "hot3", "hot2", "hot1"))
    assert(rep.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      rep.mkString(", "))
    // at-least-once replay: re-appending batch 0's rows with the SAME
    // batch_id must not change the merge
    ledger.filter(col("batch_id") === 0).write.mode("append")
      .format("parquet").saveAsTable("strcmt.sketch")
    spark.catalog.refreshTable("strcmt.sketch")
    val (c2, t2) = EventStreams.mergeCountMinLedger(spark.table("strcmt.sketch"))
    assert(t2.first().getLong(0) == all.size.toLong,
      "replayed batch double-counted in sentinel totals")
    val replayArr = new Array[Long](depth * width)
    c2.collect().foreach(r =>
      replayArr(r.getAs[Int]("pos")) = r.getAs[Long]("cnt"))
    assert(replayArr.toSeq == mergedArr.toSeq,
      "replayed batch changed the merged counters")
  }
}
