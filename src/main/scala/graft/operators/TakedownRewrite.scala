package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Takedown APPLICATION — the capstone the governance family's audit
  * half points at: [[DeletionImpact]] says which shards a delete list
  * touches; this executes the rewrite. Shards are immutable partition
  * files of a published corpus table, so "apply the takedown" means a
  * PARTITION-SCOPED rewrite: only `needs_rewrite` shards are rebuilt
  * (minus the suppressed ids), every untouched shard's files stay
  * byte-identical on disk — the x65/InsertOverwrite incremental
  * discipline, proved rather than presumed (the report carries a
  * files-intact verdict per shard and EngineSpec pins true byte
  * identity).
  *
  * Scale shape: discovery is ONE column-pruned corpus scan — the
  * (id, shard) projection left-joined with the delete list yields every
  * shard's row count and delete-hit count together (finding which
  * shards hold a deleted id requires looking at every id once unless an
  * id→shard index exists; x114's DeletionImpact builds one when that
  * scan must be avoided). Everything after is proportional to the
  * takedown's blast radius: the rewrite reads ONLY touched partitions
  * (partition pruning on the shard filter), anti-joins the delete list
  * (AQE broadcasts a small list), lands via dynamic partition overwrite
  * so untouched partitions are never opened, and the post-rewrite
  * verification re-reads ONLY touched partitions — a delete id can only
  * survive where one was found (untouched shards had zero hits), and an
  * untouched shard's after-count is its before-count, proven unchanged
  * by the files_intact byte-level check rather than recounted.
  */
object TakedownRewrite {

  private def fileState(spark: SparkSession, table: String,
      shardCol: String): Map[String, Set[(String, Long, Long)]] = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = spark.sessionState.catalog.getTableMetadata(ident).location
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(s"$shardCol="))
      .map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).filterNot(_.isDirectory)
            .map(f => (f.getPath.getName, f.getLen,
              f.getModificationTime)).toSet
      }.toMap
  }

  /** Rewrite `table`'s touched shards without the `deletes` ids and
    * report per shard: `(shard, n_docs_before, n_deleted, n_docs_after,
    * rewritten, ids_gone, files_intact)` — `ids_gone` re-checks the
    * post-rewrite table against the delete list (true everywhere or
    * the rewrite failed); `files_intact` is true iff an untouched
    * shard's file set (name, length, mtime) is unchanged (rewritten
    * shards report true by convention — their files are EXPECTED to
    * change). Idempotent by ids: re-applying the same takedown finds
    * zero matches and rewrites nothing. */
  def rewriteShards(spark: SparkSession, table: String,
      deletes: DataFrame, idCol: String, shardCol: String): DataFrame = {
    val del = deletes.select(col(idCol)).distinct()
    val hit = del.withColumn("__hit", lit(1))
    // ONE discovery scan, column-pruned to (id, shard): per-shard row
    // count and delete-hit count in the same aggregation
    val before = spark.table(table)
      .select(col(idCol), col(shardCol))
      .join(hit, Seq(idCol), "left")
      .groupBy(col(shardCol).as("shard"))
      .agg(count(lit(1)).as("n_docs_before"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_deleted"))
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2)))
    // shards-sized driver state (the x65 manifest class): the report
    // and the rewrite filter both need the touched-shard set
    val bad = before.filter(_._3 > 0).map(_._1)
    val pre = fileState(spark, table, shardCol)
    if (bad.nonEmpty) {
      val keepCols = spark.table(table).columns
        .filterNot(_ == shardCol) :+ shardCol // partition col LAST
      val keep = spark.table(table)
        .filter(col(shardCol).isin(bad: _*)) // partition-pruned read
        .join(del, Seq(idCol), "left_anti")
        .select(keepCols.map(col): _*)
        // materialize BEFORE the overwrite: Spark (correctly) refuses
        // to overwrite a path its own plan is still reading; the
        // checkpoint holds only the touched shards' survivors and is
        // released once the surviving shard set is read back from it
        .localCheckpoint()
      graft.engine.SessionConf.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        keep.write.mode(SaveMode.Overwrite).insertInto(table)
      }
      // dynamic overwrite only touches partitions PRESENT in the write:
      // a shard whose every row was taken down writes nothing and would
      // keep its old files — drop those partitions explicitly
      val survived = keep.select(col(shardCol)).distinct()
        .collect().map(_.get(0)).toSet
      CacheScope.releaseCheckpoint(keep)
      bad.filterNot(survived.contains).foreach { sh =>
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION " +
          s"($shardCol = '${sh.toString.replace("'", "''")}')")
      }
      spark.catalog.refreshTable(table)
    }
    val post = fileState(spark, table, shardCol)
    val badSet = bad.toSet
    val intact = before.map { case (sh, _, _) =>
      val key = s"$shardCol=$sh"
      sh -> (badSet.contains(sh) || pre.get(key) == post.get(key))
    }.toMap
    // post-rewrite verification, blast-radius-scoped: only touched
    // partitions are re-read (partition-pruned isin) — a delete id can
    // only survive in a shard that held one, and untouched shards keep
    // their before-count (files_intact proves it byte-for-byte). A
    // fully-taken-down shard is absent here: 0 rows left, ids gone.
    val afterTouched: Map[String, (Long, Long)] =
      if (bad.isEmpty) Map.empty
      else spark.table(table)
        .filter(col(shardCol).isin(bad: _*))
        .select(col(idCol), col(shardCol))
        .join(hit, Seq(idCol), "left")
        .groupBy(col(shardCol).as("shard"))
        .agg(count(lit(1)).as("n_docs_after"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_left"))
        .collect()
        .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2)))
        .toMap
    import spark.implicits._
    before.map { case (sh, nb, nd) =>
      val touched = badSet.contains(sh)
      val (na, nLeft) =
        if (touched) afterTouched.getOrElse(sh.toString, (0L, 0L))
        else (nb, 0L)
      (sh.toString, nb, nd, na, touched, nLeft == 0L, intact(sh))
    }.toSeq
      .toDF("shard", "n_docs_before", "n_deleted", "n_docs_after",
        "rewritten", "ids_gone", "files_intact")
  }
}
