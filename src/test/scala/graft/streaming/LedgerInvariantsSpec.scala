package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One parameterized sweep over ALL the append-only ledger shapes
  * (text/embedding dedup postings x50/x56/x58/x64, Misra–Gries x72,
  * drift x84, count-min x94, suppression x115, hourly x145), asserting
  * the two properties every ledger writer+reader pair must hold:
  *
  *   1. REPLAY idempotence — re-appending a batch's rows verbatim (what
  *      an at-least-once foreachBatch crash-retry does) must not change
  *      the merged view;
  *   2. COMPACTION losslessness — compacting must preserve the merged
  *      view exactly while strictly shrinking a multi-batch ledger, and
  *      compacting twice must equal compacting once (idempotent).
  *
  * The sweep runs on synthetic LEDGER TABLES, not live streams: the
  * properties belong to the merge views and compactors, which are pure
  * DataFrame functions of the ledger — StreamingSpec separately proves
  * each writer produces ledgers of exactly these shapes. */
class LedgerInvariantsSpec extends SparkSpec {

  /** name, two-batch ledger, replayed batch rows, merged-view reader
    * (canonical collected value), compactor. */
  private case class Shape(name: String, ledger: () => DataFrame,
      replayBatch: DataFrame => DataFrame,
      view: DataFrame => Any, compact: DataFrame => DataFrame)

  private def shapes: Seq[Shape] = {
    import spark.implicits._
    // batch-stamped additive ledgers: three batches, 0 and 1 sharing
    // keys, so compaction genuinely merges history and strictly shrinks
    val mg = () => Seq(("a", 5L, 0L), ("b", 3L, 0L), (null, 10L, 0L),
      ("a", 2L, 1L), ("c", 4L, 1L), (null, 8L, 1L),
      ("a", 1L, 2L), (null, 4L, 2L))
      .toDF("term", "est", "batch_id")
    val cm = () => Seq((0, 5L, 0L), (3, 2L, 0L), (-1, 7L, 0L),
      (0, 1L, 1L), (5, 9L, 1L), (-1, 10L, 1L),
      (0, 2L, 2L), (-1, 3L, 2L))
      .toDF("pos", "cnt", "batch_id")
    // session ledger: per-batch session summaries (us scale, 1-min
    // gap); batches 0/1 share mergeable intervals so compaction
    // genuinely merges history and strictly shrinks
    val sslg = () => {
      val M = 60000000L
      Seq((1L, 0L, 10 * M, 2L, 0L), (1L, 100 * M, 110 * M, 3L, 0L),
        (1L, 11 * M, 20 * M, 2L, 1L), (2L, 0L, M, 1L, 1L),
        (1L, 200 * M, 210 * M, 1L, 2L))
        .toDF("u", "start_us", "end_us", "n", "batch_id")
    }
    // KMV ledger: per-batch bottom-k hash rows (hex strings); batches
    // 0 and 1 share a hash so compaction collapses history
    val kmvlg = () => Seq(
      ("00000000000010aa", 0L), ("000000000000f0aa", 0L),
      ("00000000000010aa", 1L), ("0000000000002baa", 1L),
      ("00000000000041aa", 2L))
      .toDF("h", "batch_id")
    // burstiness ledger: per-batch gap partials (time-ordered
    // intervals); three batches for user 1 so compaction stitches
    // history and strictly shrinks
    val bulg = () => Seq(
      (1L, 2L, 0L, 10000000L, 10L, BigDecimal(100), 0L),
      (1L, 2L, 20000000L, 40000000L, 20L, BigDecimal(400), 1L),
      (2L, 2L, 0L, 5000000L, 5L, BigDecimal(25), 1L),
      (1L, 1L, 100000000L, 100000000L, 0L, BigDecimal(0), 2L))
      .toDF("u", "n", "first_us", "last_us", "s1", "s2", "batch_id")
    // retraction ledger: signed partials whose batch-1 deltas retract
    // part of batch 0 (bucket 2 nets to zero — still reported; bucket 1
    // nets positive through a negative batch partial)
    val rtl = () => Seq((1L, 5L, 900L, 0L), (2L, 2L, 100L, 0L),
      (1L, -2L, -300L, 1L), (2L, -2L, -100L, 1L),
      (1L, 1L, 50L, 2L))
      .toDF("bucket", "rows_delta", "value_delta", "batch_id")
    val drift = () => Seq(("s1", "x", 4L, 0L), ("s1", "y", 2L, 0L),
      ("s2", "x", 1L, 0L), ("s1", "x", 3L, 1L), ("s2", "z", 6L, 1L),
      ("s1", "y", 1L, 2L))
      .toDF("source", "bterm", "cs", "batch_id")
    val hourly = () => Seq(("h0", 10L, 2L, 0L), ("h1", 5L, 0L, 0L),
      ("h1", 7L, 3L, 1L), ("h2", 4L, 1L, 1L), ("h2", 2L, 0L, 2L))
      .toDF("hour", "n_events", "n_matched", "batch_id")
    val suppress = () => Seq((11L, 0L), (12L, 0L), (12L, 1L), (13L, 1L),
      (14L, 2L))
      .toDF("doc_id", "batch_id")
    // sample ledger: per-batch hash-rank top-n candidates; ids chosen
    // so old batches hold MORE than n=2 candidates per group (so
    // compaction genuinely drops outranked rows and strictly shrinks)
    val sample = () => Seq(
      ("a", 11L, 0L), ("a", 12L, 0L), ("b", 21L, 0L),
      ("a", 13L, 1L), ("a", 14L, 1L), ("b", 22L, 1L),
      ("a", 15L, 2L), ("b", 23L, 2L))
      .toDF("src", "id", "batch_id")
    // retention activity ledger: per-batch distinct (u, week) rows with
    // SET semantics; batches 0 and 1 share a pair so compaction
    // genuinely collapses history and strictly shrinks
    val d1 = java.sql.Date.valueOf("2026-01-05")
    val d2 = java.sql.Date.valueOf("2026-01-12")
    val d3 = java.sql.Date.valueOf("2026-01-19")
    val retlg = () => Seq((1L, d1, 0L), (1L, d2, 0L), (2L, d1, 0L),
      (1L, d1, 1L), (3L, d2, 1L), (1L, d3, 2L))
      .toDF("u", "week", "batch_id")
    // token ledger: groups-sized per-batch (docs, tokens) partials;
    // batches 0 and 1 share sources so compaction genuinely merges
    val toklg = () => Seq(("s1", 3L, 120L, 0L), ("s2", 1L, 40L, 0L),
      ("s1", 2L, 75L, 1L), ("s3", 4L, 200L, 1L), ("s1", 1L, 9L, 2L))
      .toDF("source", "docs", "tokens", "batch_id")
    // quantile ledger: per-batch weighted (g, v) histogram partials;
    // batches 0/1 share (g, v) cells so compaction genuinely merges
    val qtlg = () => Seq(("s1", 10L, 5L, 0L), ("s1", 20L, 3L, 0L),
      ("s2", 10L, 2L, 0L),
      ("s1", 10L, 4L, 1L), ("s1", 30L, 6L, 1L),
      ("s2", 20L, 1L, 2L))
      .toDF("g", "v", "w", "batch_id")
    val profile = () => Seq(
      ("a", "event_type", "click", 4L, 0L),
      ("a", "event_type", null, 1L, 0L),       // null-value count row
      ("b", "event_type", "click", 2L, 0L),
      ("a", "event_type", "click", 3L, 1L),    // same key, later batch
      ("b", "user_id", "7", 5L, 1L),
      ("a", "event_type", "view", 2L, 2L))
      .toDF("slice", "column_name", "value", "c", "batch_id")
    // posting ledgers (no batch_id; batches are append ranges): kept
    // docs own their buckets, dropped docs carry dead postings — the
    // compactLedger target. "Replay" re-appends the last batch's rows.
    val postings = () => Seq(
      (1L, 0, "k1", true), (1L, 1, "k2", true),      // batch 1 kept
      (2L, 0, "k1", false), (2L, 1, "k9", false),    // batch 1 dropped
      (3L, 0, "k3", true), (3L, 1, "k4", true),      // batch 2 kept
      (4L, 0, "k3", false), (4L, 1, "k8", false))    // batch 2 dropped
      .toDF("doc", "band", "key", "kept")
    def postingViews(l: DataFrame): Any = (
      // the three consumer views: probe set, keep-list, cursor
      l.filter(col("kept") && col("band") >= 0).select("band", "key")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet,
      l.groupBy("doc").agg(max(col("kept")).as("kept")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap,
      l.agg(max(col("doc"))).first().getLong(0))
    Seq(
      Shape("heavy-hitters (x72)", mg,
        _.filter(col("batch_id") === 0),
        l => {
          val (s, t) = EventStreams.mergeSketchLedger(l)
          (s.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
            t.first().getLong(0))
        },
        EventStreams.compactBatchLedger(_, Seq("term"), Seq("est"))),
      Shape("count-min (x94)", cm,
        _.filter(col("batch_id") === 0),
        l => {
          val (c, t) = EventStreams.mergeCountMinLedger(l)
          (c.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap,
            t.first().getLong(0))
        },
        EventStreams.compactBatchLedger(_, Seq("pos"), Seq("cnt"))),
      Shape("kmv bottom-k (x201)", kmvlg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeKmvLedger(l, 4).collect()
          .map(_.toSeq).toSet,
        EventStreams.compactSetLedger(_, Seq("h"))),
      Shape("burstiness (x197)", bulg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeBurstinessLedger(l, "u", 1L).collect()
          .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap,
        EventStreams.compactBurstinessLedger(_)),
      Shape("sessions (x196)", sslg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeSessionLedger(l, 1).collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3)))).toMap,
        EventStreams.compactSessionLedger(_, 1)),
      Shape("retraction (x182)", rtl,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeRetractionLedger(l, "bucket").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
        EventStreams.compactBatchLedger(_, Seq("bucket"),
          Seq("rows_delta", "value_delta"))),
      Shape("drift (x84)", drift,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeDriftLedger(l).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
        EventStreams.compactBatchLedger(_, Seq("source", "bterm"),
          Seq("cs"))),
      Shape("hourly (x145)", hourly,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeHourlyLedger(l).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
        EventStreams.compactBatchLedger(_, Seq("hour"),
          Seq("n_events", "n_matched"))),
      Shape("profile (x159)", profile,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeProfileLedger(l).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
            r.getLong(3)).toMap,
        EventStreams.compactBatchLedger(_,
          Seq("slice", "column_name", "value"), Seq("c"))),
      Shape("novelty shingles (x175)", () =>
        // batches 0/1 share sh "a" (re-seen, first batch 0); replays
        // and re-occurrences must collapse through the first-batch min
        Seq(("a", 0L), ("b", 0L), ("a", 1L), ("c", 1L), ("d", 2L))
          .toDF("sh", "batch_id"),
        _.filter(col("batch_id") === 0),
        l => EventStreams.noveltyReport(l).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
        EventStreams.compactSetLedger(_, Seq("sh"))),
      Shape("retention activity (x172)", retlg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeActivityLedger(l).collect()
          .map(r => (r.getLong(0), r.getDate(1).toString)).toSet,
        EventStreams.compactSetLedger(_, Seq("u", "week"))),
      Shape("tokens (x168)", toklg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeTokenLedger(l, "source").collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap,
        EventStreams.compactBatchLedger(_, Seq("source"),
          Seq("docs", "tokens"))),
      Shape("quantiles (x206)", qtlg,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeQuantileLedger(l, "src", "len",
          Seq(500000L, 900000L)).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet,
        EventStreams.compactBatchLedger(_, Seq("g", "v"), Seq("w"))),
      Shape("sample (x162)", sample,
        _.filter(col("batch_id") === 0),
        l => EventStreams.mergeSampleLedger(l, "src", "id", 2).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSet,
        EventStreams.compactSampleLedger(_, "src", "id", 2)),
      Shape("suppression (x115)", suppress,
        _.filter(col("batch_id") === 0),
        l => EventStreams.suppressionSet(l, "doc_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        EventStreams.compactSetLedger(_, Seq("doc_id"))),
      Shape("dedup postings (x50/x58)", postings,
        _.filter(col("doc") >= 3L), // last appended batch
        postingViews, Dedup.compactLedger(_)),
      // embedding ledgers (x56/x64) share the posting SCHEMA and all
      // three views with the text ledger; their keys are SRP band keys
      Shape("embedding postings (x56/x64)", () =>
        postings().withColumn("key", concat(lit("srp:"), col("key"))),
        _.filter(col("doc") >= 3L),
        postingViews, Dedup.compactLedger(_)),
      // CDC chunk ledgers (x160) also share the posting SCHEMA and
      // views; their keys are content-chunk hashes on the constant
      // band 0 (chunk evidence is position-independent)
      Shape("cdc chunk postings (x160)", () =>
        postings().withColumn("key", concat(lit("cdc:"), col("key")))
          .withColumn("band", when(col("band") >= 0, 0)
            .otherwise(col("band"))),
        _.filter(col("doc") >= 3L),
        postingViews, Dedup.compactLedger(_)))
  }

  test("every ledger shape: replay leaves the merged view unchanged") {
    shapes.foreach { s =>
      val base = s.ledger()
      val want = s.view(base)
      val replayed = base.unionByName(s.replayBatch(base))
      assert(s.view(replayed) == want,
        s"${s.name}: replayed batch changed the merged view")
    }
  }

  test("purge: removes exactly the ids' rows, is idempotent, and " +
      "commutes with per-key-lossless compaction") {
    import spark.implicits._
    def rowSet(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // doc-keyed dedup postings (Dedup.purgeLedger — the x208 operator):
    // doc 1 kept (owns k1/k2), doc 2 dropped, doc 3 kept, doc 4 dropped
    val postings = Seq(
      (1L, 0, "k1", true), (1L, 1, "k2", true),
      (2L, 0, "k1", false), (2L, 1, "k9", false),
      (3L, 0, "k3", true), (3L, 1, "k4", true),
      (4L, 0, "k3", false), (4L, 1, "k8", false))
      .toDF("doc", "band", "key", "kept")
    val del = Seq(1L).toDF("doc_id")
    val purged = Dedup.purgeLedger(postings, del)
    assert(purged.filter(col("doc") === 1L).count() == 0,
      "purged id's rows survived")
    // survivors byte-identical: purge touches nothing else
    assert(rowSet(purged) == rowSet(postings.filter(col("doc") =!= 1L)))
    // idempotent
    assert(rowSet(Dedup.purgeLedger(purged, del)) == rowSet(purged))
    // commutes with compactLedger (both per-doc)
    assert(rowSet(Dedup.compactLedger(Dedup.purgeLedger(postings, del)))
      == rowSet(Dedup.purgeLedger(Dedup.compactLedger(postings), del)),
      "purge and compactLedger do not commute")
    // key-keyed ledgers (EventStreams.purgeLedger): retention activity
    // (set semantics, user-keyed) — purge commutes with the per-key-
    // lossless set compactor
    val d1 = java.sql.Date.valueOf("2026-01-05")
    val d2 = java.sql.Date.valueOf("2026-01-12")
    val retlg = Seq((1L, d1, 0L), (1L, d2, 0L), (2L, d1, 0L),
      (1L, d1, 1L), (3L, d2, 1L), (1L, d2, 2L))
      .toDF("u", "week", "batch_id")
    val udel = Seq(1L).toDF("u")
    val rp = EventStreams.purgeLedger(retlg, udel, "u")
    assert(rp.filter(col("u") === 1L).count() == 0 && rp.count() == 2)
    // untouched users' merged view bit-identical
    assert(EventStreams.mergeActivityLedger(rp).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString)).toSet ==
      EventStreams.mergeActivityLedger(retlg).collect()
        .map(r => (r.getLong(0), r.getDate(1).toString)).toSet
        .filterNot(_._1 == 1L))
    assert(rowSet(EventStreams.compactSetLedger(
        EventStreams.purgeLedger(retlg, udel, "u"), Seq("u", "week")))
      == rowSet(EventStreams.purgeLedger(
        EventStreams.compactSetLedger(retlg, Seq("u", "week")), udel, "u")),
      "purge and compactSetLedger do not commute")
    // idempotent on the key-keyed shape too
    assert(rowSet(EventStreams.purgeLedger(rp, udel, "u")) == rowSet(rp))
    // suppression intake (x115): purging an id's rows removes it from
    // the suppression SET (e.g. a takedown request withdrawn) and
    // commutes with the first-batch-preserving compactor
    val suplg = Seq((11L, 0L), (12L, 0L), (12L, 1L), (13L, 1L),
      (14L, 2L)).toDF("doc_id", "batch_id")
    val sdel = Seq(12L).toDF("doc_id")
    val sp = EventStreams.purgeLedger(suplg, sdel, "doc_id")
    assert(EventStreams.suppressionSet(sp, "doc_id").collect()
      .map(_.getLong(0)).toSet == Set(11L, 13L, 14L))
    assert(rowSet(EventStreams.compactSetLedger(
        EventStreams.purgeLedger(suplg, sdel, "doc_id"), Seq("doc_id")))
      == rowSet(EventStreams.purgeLedger(
        EventStreams.compactSetLedger(suplg, Seq("doc_id")),
        sdel, "doc_id")),
      "purge and compactSetLedger (suppression) do not commute")
    // session ledger (x196, user-keyed interval summaries): other
    // users' merged sessions bit-identical after a user purge, and
    // purge commutes with the per-user interval-merging compactor
    val M = 60000000L
    val sslg = Seq((1L, 0L, 10 * M, 2L, 0L), (1L, 100 * M, 110 * M, 3L, 0L),
      (1L, 11 * M, 20 * M, 2L, 1L), (2L, 0L, M, 1L, 1L),
      (1L, 200 * M, 210 * M, 1L, 2L))
      .toDF("u", "start_us", "end_us", "n", "batch_id")
    val ssp = EventStreams.purgeLedger(sslg, Seq(1L).toDF("u"), "u")
    assert(EventStreams.mergeSessionLedger(ssp, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      EventStreams.mergeSessionLedger(sslg, 1).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .filterNot(_._1 == 1L))
    // commutation holds at the MERGE-VIEW level (the semantic
    // contract): raw rows can differ in batch-id bookkeeping when the
    // purged user owned the max batch — compact-first keeps that
    // batch's rows verbatim, purge-first re-stamps survivors against a
    // lower cursor. Both orders must merge identically.
    def sessView(df: org.apache.spark.sql.DataFrame) =
      EventStreams.mergeSessionLedger(df, 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(sessView(EventStreams.compactSessionLedger(ssp, 1))
      == sessView(EventStreams.purgeLedger(
        EventStreams.compactSessionLedger(sslg, 1), Seq(1L).toDF("u"), "u")),
      "purge and compactSessionLedger do not view-commute")
  }

  test("purge re-admission: a re-submitted copy of a purged kept doc " +
      "re-enters; a copy whose blocker survives stays dropped") {
    import spark.implicits._
    // two exact-dup pairs, long enough to shingle (>= 4 tokens):
    // doc 1 (kept) / doc 2 (dropped, dup of 1); doc 3 (kept) / doc 4
    // (dropped, dup of 3)
    val tA = "alpha beta gamma delta epsilon"
    val tB = "one two three four five six"
    val docs = Seq((1L, tA), (2L, tA), (3L, tB), (4L, tB))
      .toDF("doc_id", "text")
    val empty = Dedup.minhashBandPostings(docs.limit(0), "doc_id", "text")
    val ledger = Dedup.dedupBatchLedger(docs, empty, "doc_id", "text")
      .localCheckpoint()
    def keptOf(l: DataFrame): Map[Long, Boolean] =
      l.groupBy(col("doc")).agg(max(col("kept")).as("k")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keptOf(ledger) == Map(1L -> true, 2L -> false,
      3L -> true, 4L -> false))
    // takedown of doc 1 (a kept canonical); doc 3 stays licensed
    val purged = Dedup.purgeLedger(ledger, Seq(1L).toDF("doc_id"))
      .localCheckpoint()
    // re-submit copies of BOTH texts under new ids: the purged text's
    // copy re-enters (no surviving canonical holds its buckets); the
    // still-licensed text's copy is dropped (doc 3 survives)
    val resub = Seq((10L, tA), (11L, tB)).toDF("doc_id", "text")
    val step2 = Dedup.dedupBatchLedger(resub,
      purged.filter(col("kept") && col("band") >= 0), "doc_id", "text")
    assert(keptOf(step2) == Map(10L -> true, 11L -> false),
      "re-admission contract violated")
    // and WITHOUT the purge the re-licensed copy could never re-enter
    val step2NoPurge = Dedup.dedupBatchLedger(resub,
      ledger.filter(col("kept") && col("band") >= 0), "doc_id", "text")
    assert(keptOf(step2NoPurge) == Map(10L -> false, 11L -> false))
  }

  test("every ledger shape: compaction is lossless, shrinking, " +
      "idempotent, and composes with replay") {
    shapes.foreach { s =>
      val base = s.ledger()
      val want = s.view(base)
      val compacted = s.compact(base).localCheckpoint()
      assert(s.view(compacted) == want,
        s"${s.name}: compaction changed the merged view")
      assert(compacted.count() < base.count(),
        s"${s.name}: compaction did not shrink a multi-batch ledger")
      val twice = s.compact(compacted).localCheckpoint()
      assert(s.view(twice) == want &&
        twice.count() == compacted.count(),
        s"${s.name}: compaction is not idempotent")
      if (!s.name.contains("postings")) {
        // a replay arriving AFTER compaction: the only replay-eligible
        // batch under AvailableNow is the max-id one, kept verbatim
        // exactly so its re-delivery still collapses on batch_id.
        // (Posting ledgers have no batch ids; their replay collapse is
        // the max()/set views themselves, asserted in the replay test.)
        val lateReplay = compacted.unionByName(
          compacted.filter(col("batch_id") >= 0))
        assert(s.view(lateReplay) == want,
          s"${s.name}: post-compaction replay of the last batch " +
            "changed the merged view")
      }
    }
  }

  test("every ledger shape: compacting an empty ledger returns it empty") {
    // e.g. `run-operation compact_ledger` after a purge removed every key
    shapes.foreach { s =>
      val empty = s.ledger().limit(0)
      val compacted = s.compact(empty)
      assert(compacted.columns.toSeq == empty.columns.toSeq &&
        compacted.count() == 0,
        s"${s.name}: compacting an empty ledger did not return it empty")
    }
  }

  // --- additive-ledger RETRACTION (x211/x213): the takedown path for
  //     cross-key aggregates a purge cannot reach ------------------------

  test("countMinRetraction: netted ledger == clean-events sketch, " +
      "exactly, and survives merge-replay and compaction") {
    import spark.implicits._
    val ev = (1L to 200L).map(i => (i, i % 7, "t" + (i % 23)))
      .toDF("event_id", "user_id", "term")
    val deletes = ev.filter(col("user_id") === 3L).select(col("user_id"))
    val ledger = EventStreams
      .countMinPartial(ev.filter(col("event_id") <= 100), "term", 4, 64, 0L)
      .unionByName(EventStreams
        .countMinPartial(ev.filter(col("event_id") > 100), "term", 4, 64, 1L))
    val retr = EventStreams.countMinRetraction(ev, deletes, "user_id",
      "term", depth = 4, width = 64, batchId = -2L)
    def viewOf(l: org.apache.spark.sql.DataFrame) = {
      val (counters, totals) = EventStreams.mergeCountMinLedger(l)
      (counters.filter(col("cnt") =!= 0L).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap,
        totals.first().getLong(0))
    }
    val netted = ledger.unionByName(retr).localCheckpoint()
    val clean = ev.join(deletes.distinct(), Seq("user_id"), "left_anti")
    val direct = EventStreams.countMinPartial(clean, "term", 4, 64, 0L)
    assert(viewOf(netted) == viewOf(direct),
      "netting != rebuilding from clean events (CM linearity broken)")
    // pre-compaction replay of the retraction collapses in the merge
    assert(viewOf(netted.unionByName(retr)) == viewOf(direct),
      "replayed retraction batch double-subtracted")
    // compaction folds the retraction losslessly (additive sums)
    val compacted = EventStreams.compactBatchLedger(netted,
      Seq("pos"), Seq("cnt"))
    assert(viewOf(compacted) == viewOf(direct),
      "compaction broke the netted view")
    intercept[IllegalArgumentException] {
      EventStreams.countMinRetraction(ev, deletes, "user_id", "term",
        4, 64, batchId = 0L)
    }
  }

  test("tokenLedgerRetraction: merged totals == clean corpus, " +
      "fully-purged group reports (0, 0)") {
    import spark.implicits._
    val docs = Seq((1L, "a", "x y z"), (2L, "a", "p q"),
      (3L, "b", "only doc of b"), (4L, "c", "keep me"))
      .toDF("doc_id", "source", "text")
    val toks = size(split(col("text"), " ")).cast("long")
    val ledger = EventStreams
      .tokenLedgerPartial(docs.filter(col("doc_id") <= 2), "source", toks, 0L)
      .unionByName(EventStreams
        .tokenLedgerPartial(docs.filter(col("doc_id") > 2), "source", toks, 1L))
    val deletes = Seq(2L, 3L).toDF("doc_id")
    val retr = EventStreams.tokenLedgerRetraction(docs, deletes,
      "doc_id", "source", toks, batchId = -2L)
    val merged = EventStreams
      .mergeTokenLedger(ledger.unionByName(retr), "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(merged == Set(("a", 1L, 3L), ("b", 0L, 0L), ("c", 1L, 2L)),
      s"netted totals wrong: $merged")
  }
}
