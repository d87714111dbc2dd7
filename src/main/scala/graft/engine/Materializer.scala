package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Materialization strategies (SURVEY.md §3.1 stage 5).
  *
  * - `table`   → `CREATE DATABASE IF NOT EXISTS` + `saveAsTable`
  *               (overwrite), parquet in the warehouse dir.
  * - `view`    → a persistent `CREATE VIEW` for a SQL-text model whose
  *               refs read physical models and sources catalog tables
  *               (`Project.persistentViewSql`); else (DataFrame models
  *               too) a session temp view under `schema__alias`.
  * - `ephemeral` → nothing persisted; consumers inline the plan.
  * - `incremental` → first run creates the table; later runs append
  *               (`Append`), append new keys (`InsertNew`) or replace
  *               matching keys by a staged rewrite (`Merge`) — no MERGE
  *               INTO without Delta/Iceberg (SURVEY.md §7.4.1).
  * - seeds     → CSV with header/schema inference → table.
  */
object Materializer {

  private def ensureSchema(p: Project, schema: String): Unit =
    p.spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")

  /** dbt contract enforcement: name/type diff of the built DataFrame
    * against the declared contract; any line present → violation. */
  private[engine] def contractViolations(m: Model,
      df: DataFrame): Seq[String] =
    m.config.contract.toSeq.flatMap { declared =>
      val actual = df.schema.map(f =>
        Ident.normalize(f.name) -> f.dataType.simpleString).toMap
      val dec = declared.map { case (n, t) =>
        Ident.normalize(n) -> Ident.normalize(t) }
      val missing = dec.collect { case (n, _) if !actual.contains(n) =>
        s"missing column '$n'" }
      val mismatched = dec.collect {
        case (n, t) if actual.get(n).exists(_ != t) =>
          s"column '$n' is ${actual(n)}, contract says $t" }
      val extra = (actual.keySet -- dec.map(_._1).toSet).toSeq.sorted
        .map(n => s"extra column '$n' not in contract")
      missing ++ mismatched ++ extra
    }

  def materialize(p: Project, m: Model): Unit = {
    // Exec-time resolution: refs to physical upstreams read the
    // materialized relation (topo order guarantees they're built).
    val df = p.resolveForRun(m.name)
    val violations = contractViolations(m, df)
    if (violations.nonEmpty)
      throw new IllegalStateException(
        s"contract violation in ${m.id}: ${violations.mkString("; ")}")
    val physical = p.physicalName(m)
    if (m.config.materialized.isPhysical) ensureSchema(p, p.schemaFor(m.config))
    m.config.materialized match {
      case Materialization.Ephemeral => ()
      case Materialization.View =>
        p.persistentViewSql(m) match {
          case Some(viewSql) =>
            // SQL-text model whose dependencies are all physical tables:
            // a real catalog view (closes SURVEY §7.4.2's limitation)
            ensureSchema(p, p.schemaFor(m.config))
            p.spark.sql(s"CREATE OR REPLACE VIEW $physical AS $viewSql")
          case None =>
            df.createOrReplaceTempView(physical.replace(".", "__"))
        }
      case Materialization.Table =>
        df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(physical)
      case Materialization.BucketedTable(bucketCols, n, sortCols) =>
        val w = df.write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
         else w).saveAsTable(physical)
      case Materialization.InsertOverwrite(partitionCols) =>
        if (!p.spark.catalog.tableExists(physical)) {
          df.write.mode(SaveMode.Overwrite).format("parquet")
            .partitionBy(partitionCols: _*).saveAsTable(physical)
        } else {
          // only partitions present in `df` are replaced; insertInto is
          // positional and the table stores partition columns last. The
          // conf swap (a DataFrameWriter option does NOT reach
          // insertInto's command) goes through SessionConf so concurrent
          // node builds can't observe — or clobber — the dynamic mode.
          val ordered = df.select(
            (df.columns.filterNot(partitionCols.contains) ++ partitionCols)
              .map(col): _*)
          SessionConf.withConf(p.spark,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
            ordered.write.mode(SaveMode.Overwrite).insertInto(physical)
          }
        }
      case Materialization.StreamingTable(checkpoint) =>
        // AvailableNow: process everything that arrived since the last
        // run's checkpointed offsets, append, stop — per-run incremental
        // catch-up with exactly-once file-source accounting.
        require(df.isStreaming,
          s"${m.id} is materialized StreamingTable but its build returned " +
            "a batch DataFrame — read inputs with ctx.sourceStream")
        val ckpt = streamingCheckpointPath(p, m, checkpoint)
        // startStream holds the SessionConf lock across the start only
        // (start() captures session confs, and run() builds nodes
        // concurrently); await OUTSIDE it so ingest doesn't serialize
        // unrelated builds
        import graft.streaming.EventStreams.{runToEnd, startStream}
        runToEnd(startStream(p.spark, df.writeStream
          .format("parquet")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          table = Some(physical)))
      case Materialization.Incremental(uniqueKey, strategy) =>
        if (!p.spark.catalog.tableExists(physical)) {
          df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(physical)
        } else (uniqueKey, strategy) match {
          case (Some(keys), Materialization.IncrementalStrategy.Merge) =>
            // upsert without MERGE INTO: keep existing rows whose key is
            // NOT in the batch, union the batch, rewrite via staged swap
            // (the table being read cannot be overwritten in place).
            // unionByName(allowMissing) doubles as on_schema_change=
            // append_new_columns: new batch columns arrive NULL-padded.
            val existing = p.spark.table(physical)
            val keep = existing.join(
              df.select(keys.map(col): _*).distinct(), keys, "left_anti")
            val staging = physical + "__staging"
            keep.unionByName(df, allowMissingColumns = true)
              .write.mode(SaveMode.Overwrite).format("parquet")
              .saveAsTable(staging)
            swapTables(p.spark, staging, physical)
          case (Some(keys), _) =>
            df.join(p.spark.table(physical).select(keys.map(col): _*),
                keys, "left_anti")
              .write.mode(SaveMode.Append).format("parquet")
              .saveAsTable(physical)
          case (None, _) =>
            df.write.mode(SaveMode.Append).format("parquet")
              .saveAsTable(physical)
        }
    }
  }

  /** Checkpoint dir of a [[Materialization.StreamingTable]] model (the
    * offset log that makes each run incremental). Shared with
    * `--full-refresh`, which must delete it alongside the table —
    * otherwise the retained offsets say "already processed" and the
    * rebuilt table would stay empty. */
  private[engine] def streamingCheckpointPath(p: Project, m: Model,
      checkpoint: Option[String]): String =
    checkpoint.getOrElse {
      val warehouse = java.nio.file.Paths.get(new java.net.URI(
        p.spark.conf.get("spark.sql.warehouse.dir")).getPath)
      warehouse.resolve(
        s"_graft_checkpoints/${p.physicalName(m).replace('.', '_')}").toString
    }

  /** Local filesystem path of a checkpoint string that may be a plain
    * path or a file: URI. Non-local schemes (hdfs://, s3a://) cannot be
    * deleted through java.nio — full-refresh must FAIL loudly rather
    * than silently keep the offset log (which would leave the rebuilt
    * table permanently empty). A SCHEME-LESS path resolves against the
    * cluster's fs.defaultFS (that is where Spark wrote the offsets), so
    * it is only local when the default filesystem is. */
  private[engine] def checkpointLocalPath(
      spark: org.apache.spark.sql.SparkSession,
      ckpt: String): java.nio.file.Path = {
    def nonLocal(scheme: String): Nothing = throw new IllegalArgumentException(
      s"cannot full-refresh a StreamingTable with a $scheme:// checkpoint " +
        s"('$ckpt') from this process — delete the checkpoint with the " +
        "filesystem's own tooling, then rerun")
    val uri = try new java.net.URI(ckpt) catch {
      case _: java.net.URISyntaxException => null
    }
    Option(uri).flatMap(u => Option(u.getScheme)) match {
      case None =>
        val defaultFs = spark.sparkContext.hadoopConfiguration
          .get("fs.defaultFS", "file:///")
        val defScheme = Option(new java.net.URI(defaultFs).getScheme)
          .getOrElse("file")
        if (defScheme != "file") nonLocal(defScheme)
        java.nio.file.Paths.get(ckpt)
      case Some("file") => java.nio.file.Paths.get(uri)
      case Some(scheme) => nonLocal(scheme)
    }
  }

  /** Recursive local delete (reverse-order walk); shared by full-refresh
    * checkpoint cleanup and test/query warehouse resets. */
  private[graft] def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    }

  /** Swap `staging` into `physical` via backup-rename: a failure at any
    * step leaves a readable table (recover by renaming __backup back). */
  private def swapTables(spark: org.apache.spark.sql.SparkSession,
      staging: String, physical: String): Unit = {
    val backup = physical + "__backup"
    spark.sql(s"DROP TABLE IF EXISTS $backup")
    spark.sql(s"ALTER TABLE $physical RENAME TO $backup")
    spark.sql(s"ALTER TABLE $staging RENAME TO $physical")
    spark.sql(s"DROP TABLE $backup")
  }

  def loadSeed(p: Project, s: Seed): Unit = {
    ensureSchema(p, p.schemaFor(s.config))
    p.spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s.csvPath)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(p.physicalName(s))
  }

  /** dbt surrogate-key pattern: coalesce each check column to a sentinel
    * BEFORE concat_ws (concat_ws silently skips NULL args, so a NULL
    * shift across columns — (x,NULL) vs (NULL,x) — would otherwise hash
    * identically and changed rows would never close out). Separator is
    * the \u0000 ESCAPE, not a raw NUL byte (keeps the source greppable). */
  private def snapshotHashed(df: DataFrame, checkCols: Seq[String]): DataFrame =
    df.withColumn("graft_check", sha2(concat_ws("\u0000",
      checkCols.map(c =>
        coalesce(col(c).cast("string"), lit("_graft_null_"))): _*), 256))

  /** The bucket a key's whole SCD-2 history lives in when the snapshot
    * is partitioned: `pmod(hash(key), n)` — Murmur3, deterministic
    * across runs, so a key never migrates between buckets. */
  private def snapshotPart(uniqueKey: String, n: Int) =
    pmod(hash(col(uniqueKey)), lit(n)).cast("int")

  /** The snapshot table's first-run shape: hashed check key + open SCD-2
    * validity columns (+ the `graft_part` bucket when partitioned).
    * Doubles as the COMPILE-TIME schema of a `ref` to a not-yet-built
    * snapshot (Project.snapshotDf). */
  private[engine] def snapshotFirstRun(fresh: DataFrame,
      checkCols: Seq[String], asOf: java.sql.Timestamp,
      uniqueKey: String = "", partitions: Option[Int] = None): DataFrame = {
    val base = snapshotHashed(fresh, checkCols)
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    partitions match {
      case Some(n) =>
        base.withColumn("graft_part", snapshotPart(uniqueKey, n))
      case None => base
    }
  }

  /** SCD-2 snapshot without MERGE (SURVEY.md §7.4.1): one full-outer join
    * of the current open rows against the new query by unique key
    * (null-safe, so a NULL key is a key like any other), each joined row
    * expanded to its 0-2 output rows — the current row kept
    * open (check hash unchanged) or closed out (`valid_to = asOf`; key
    * changed or gone), and the fresh row inserted open (key new or
    * changed). Closed history is carried over unread by the join. `asOf`
    * is injected for determinism.
    *
    * `partitions = None` (default) rewrites the
    * whole table via staging + atomic RENAME swap. `partitions = Some(n)`
    * is the 100 TB path: the table is bucketed by
    * `graft_part = pmod(hash(uniqueKey), n)`, and each run rewrites ONLY
    * the buckets containing changed / new / disappeared keys (dynamic
    * partition overwrite, the InsertOverwrite machinery) — a steady-state
    * run that touches 1% of keys rewrites ~the same fraction of buckets,
    * not the accumulated history. Unchanged buckets' files are never
    * opened for write (EngineSpec proves them byte-identical across a
    * run); the bucket set is read from the joined rows' changed ones, so
    * this path evaluates the join twice: for the buckets and for the
    * rewrite. Semantics are identical to the full rewrite (SnapshotSpec
    * pins both). */
  def snapshot(p: Project, table: String, fresh: DataFrame,
      uniqueKey: String, checkCols: Seq[String],
      asOf: java.sql.Timestamp, partitions: Option[Int] = None): Unit = {
    val spark = p.spark
    val physical = table
    ensureSchema(p, physical.split('.').head)
    val open = lit(null).cast("timestamp")
    def hashed(df: DataFrame) = snapshotHashed(df, checkCols)
    if (!spark.catalog.tableExists(physical)) {
      val first = snapshotFirstRun(fresh, checkCols, asOf, uniqueKey, partitions)
      val w = first.write.mode(SaveMode.Overwrite).format("parquet")
      partitions match {
        case Some(_) => w.partitionBy("graft_part").saveAsTable(physical)
        case None => w.saveAsTable(physical)
      }
      return
    }
    val current = spark.table(physical)
    val currentClosed = current.filter(col("valid_to").isNotNull)
    val columns = current.columns.toSeq
    val cur = current.filter(col("valid_to").isNull).alias("c")
    val next = hashed(fresh).alias("n")
    val added = next.columns.toSet -- columns
    require(added.isEmpty, s"snapshot $physical: the fresh query has " +
      s"columns the table lacks: ${added.mkString(", ")}")
    // a side is present when its check hash is (sha2 is never NULL; a key can be)
    val hasCur = col("c.graft_check").isNotNull
    val hasNext = col("n.graft_check").isNotNull
    val same = hasCur && hasNext && col("c.graft_check") === col("n.graft_check")
    // one output row of a side; `graft_moved` marks the rows this run
    // changed (closed out or inserted), whose buckets a bucketed rewrite
    // must write
    def side(alias: String, set: Map[String, Column], moved: Column) =
      struct(columns.map(k => set.getOrElse(k, col(s"$alias.$k")).as(k)) :+
        moved.as("graft_moved"): _*)
    val kept = side("c", Map("valid_to" -> when(same, open).otherwise(lit(asOf))),
      !same)
    val inserted = side("n", Map("valid_from" -> lit(asOf), "valid_to" -> open) ++
      partitions.map(k => "graft_part" -> snapshotPart(s"n.$uniqueKey", k)),
      lit(true))
    val rows = cur.join(next, col(s"c.$uniqueKey") <=> col(s"n.$uniqueKey"), "full_outer")
      .select(explode(filter(array(when(hasCur, kept),
        when(hasNext && !same, inserted)), _.isNotNull)).as("r"))
      .select("r.*")
    val result = currentClosed.unionByName(rows.drop("graft_moved"))
    partitions match {
      case None =>
        val staging = physical + "__staging"
        result.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(staging)
        swapTables(spark, staging, physical)
      case Some(_) =>
        // buckets that gained, lost, or changed a key; everything else
        // is untouched on disk. A key's bucket is a pure hash of the key,
        // so its history, its closed-out row and its new version share
        // one bucket. Bounded collect: ≤ partitions.
        val buckets = rows.filter(col("graft_moved")).select(col("graft_part"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (buckets.isEmpty) return // no drift — zero partitions rewritten
        val affected = result.filter(col("graft_part").isin(buckets: _*))
          // eager pin: the rewrite below reads FROM the table it
          // overwrites; cut that lineage before the write (the
          // incremental-merge staging swap's moral equivalent, scoped to
          // the affected buckets)
          .localCheckpoint()
        val ordered = affected.select(
          (affected.columns.filterNot(_ == "graft_part") :+ "graft_part")
            .map(col): _*)
        SessionConf.withConf(spark,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
          ordered.write.mode(SaveMode.Overwrite).insertInto(physical)
        }
    }
  }
}
