package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side writers (O-52..O-58), re-expressing the reference's S3
  * layouts with Spark writers.
  *
  * Scale posture: `coalesce(1)` is reserved for genuinely tiny outputs
  * (the reference used it everywhere, including data paths — we don't);
  * data-scale writes stay partitioned and rely on dynamic partition
  * overwrite for upserts.
  */
object Writers {

  /** O-52: snappy parquet, overwrite, unpartitioned
    * (ref: glue/data_transform_s3.py:142-148).
    */
  def parquetOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)

  /** O-53: snappy parquet, append, partitioned by a date column
    * (ref: glue/data_quality_dqdl.py:150-160).
    */
  def parquetAppendPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("append").option("compression", "snappy")
      .partitionBy(partitionCol).parquet(path)

  /** O-54: partitioned overwrite with DYNAMIC partition overwrite —
    * only the partitions present in `df` are replaced
    * (ref: glue/data_aggregate_gold.py:16,95-100). This is the
    * reference's fact-table upsert made native: no read-modify-write.
    */
  def parquetDynamicOverwrite(df: DataFrame, path: String, partitionCol: String): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try df.write.mode("overwrite").option("compression", "snappy")
      .partitionBy(partitionCol).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** O-55: JSON DLQ append (ref: glue/data_transform_s3.py:96-101). */
  def dlqAppend(df: DataFrame, path: String): Unit =
    df.write.mode("append").json(path)

  /** O-58: partitioned JSONL bad-records layout
    * `dt=YYYY-MM-DD/hour=HH` (ref: streaming/consumer.py:104-111),
    * derived from an event-time column.
    */
  def badRecordsPartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("hour", date_format(col(tsCol), "HH"))
      // small-files guard: co-locate each (dt, hour) in one task so an
      // output dir gets one file, not one sliver per input partition
      .repartition(col("dt"), col("hour"))
      .write.mode("append").partitionBy("dt", "hour").json(path)

  /** Idempotent exactly-once `foreachBatch` parquet sink: each
    * micro-batch lands in its own `batch_id=<id>` directory with
    * OVERWRITE. Structured Streaming re-runs a failed batch under the
    * SAME batch id, so a replayed batch overwrites its own (possibly
    * partial) previous output instead of appending duplicates — the
    * standard at-least-once → exactly-once upgrade for filesystem
    * sinks. Readers scan `path` and see the union of batch partitions;
    * run [[graft.ext.Layout.compact]] periodically if batches are
    * small.
    */
  def idempotentBatchWrite(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Maintenance compaction for [[idempotentBatchWrite]] stores — the
    * [[graft.stream.Jobs.compactNearDupIndex]] discipline applied to
    * the whole `batch_id=` index family (media/WARC/BM25/CDC-chunk
    * streams): at a production stream's 10⁵ triggers, per-trigger
    * directory listing and parquet footer reads dominate. Folds every
    * partition EXCEPT the newest into one, staged then atomically
    * swapped, so a reader sees the old or the new table, never half.
    *
    * Replay contract preserved: under AvailableNow semantics only the
    * NEWEST partition can be an uncommitted orphan (a crash between
    * its write and the checkpoint commit), and a replayed batch
    * overwrites its own `batch_id=` partition — so the newest
    * partition rides across the swap untouched and a replay lands on
    * it, never on folded rows. Must not run concurrently with the
    * stream itself.
    */
  def compactBatchPartitions(spark: SparkSession, root: String): Unit = {
    recoverStagedSwap(spark, root)
    val ids = listPartitionIds(spark, root, "batch_id")
    if (ids.length <= 2) return // nothing worth folding
    val foldMax = ids(ids.length - 2)
    foldPartitionedStore(spark, root, "batch_id",
      foldMax, ids.filter(_ > foldMax), sortCol = None)
  }

  /** Retention for FULL-SNAPSHOT version stores (the changelog/curate
    * family writes a complete snapshot under `v=<batchId>` per
    * trigger — every superseded version is pure garbage, a full table
    * copy each). Deletes all but the newest `keep` versions;
    * `keep >= 2` preserves the crash-replay window (under AvailableNow
    * only the LAST batch can replay, and it reads the version before
    * itself). Unlike the fold compactions this is plain deletion — no
    * rewrite, no swap — because readers only ever open the latest
    * version ([[graft.stream.Jobs]]'s `publishedVersion` pointer).
    */
  def pruneSnapshotVersions(
      spark: SparkSession, root: String, keep: Int = 2): Unit = {
    require(keep >= 2, "keep >= 2 preserves the crash-replay window")
    val ids = listPartitionIds(spark, root, "v")
    if (ids.length <= keep) return
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ids.dropRight(keep).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=$id"), true)
    }
  }

  /** Completes an interrupted staged swap from ANY intermediate state
    * the [[foldPartitionedStore]] protocol can crash in. The protocol
    * (in order) is: (1) write the folded partition + a survivor
    * manifest into `<root>__staging`; (2) rename root → `<root>__old`;
    * (3) move each manifest-listed survivor old → staging; (4) rename
    * staging → root; (5) delete old + the manifest. So on entry:
    *
    *  - old exists, root exists → crash after (4): the swap committed;
    *    finish cleanup (delete old + manifest).
    *  - old exists, root missing → crash during (2)-(4): staging holds
    *    the complete fold + manifest (it was fully written before (2)),
    *    so ROLL FORWARD — move any manifest survivors still in old,
    *    then rename staging → root and clean up. If staging vanished
    *    (it cannot under the protocol, but be safe) roll BACK by
    *    renaming old → root: the fold is lost, the table is not.
    *  - root missing, staging exists, old missing → a pre-manifest
    *    on-disk layout's final-step crash (staging complete): rename
    *    staging → root.
    *
    * A crash during (1) leaves root untouched and staging partial;
    * the next fold deletes staging and starts over — staging is never
    * the sole copy of anything until (2) has happened, and from (2) on
    * `old` exists to mark it. Every staged-swap writer and stream
    * entry calls this first; no-op in the steady state.
    */
  def recoverStagedSwap(spark: SparkSession, root: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(root + "__staging")
    val old = new org.apache.hadoop.fs.Path(root + "__old")
    if (fs.exists(old)) {
      if (!fs.exists(rootPath)) {
        if (fs.exists(staging)) {
          readFoldManifest(fs, staging).foreach { name =>
            val src = new org.apache.hadoop.fs.Path(old, name)
            val dst = new org.apache.hadoop.fs.Path(staging, name)
            if (!fs.exists(dst) && fs.exists(src)) mustRename(fs, src, dst)
          }
          mustRename(fs, staging, rootPath)
        } else mustRename(fs, old, rootPath) // safety net: abort the fold
      }
      mustDelete(fs, old)
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, ManifestName), false)
      ()
    } else if (!fs.exists(rootPath) && fs.exists(staging)) {
      mustRename(fs, staging, rootPath)
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, ManifestName), false)
      ()
    }
  }

  /** Survivor manifest written into staging before the swap begins —
    * underscore-prefixed so Spark's file listing ignores it if it ever
    * rides into root.
    */
  private val ManifestName = "_fold_manifest"

  private def writeFoldManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, survivors: Seq[String]): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, ManifestName), true)
    try out.write(survivors.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readFoldManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, ManifestName)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Hadoop `FileSystem.rename` reports most failures (missing parent,
    * cross-FS, destination exists) by returning FALSE, not throwing —
    * a silently-failed move must abort the swap, never fall through to
    * a delete of data that was never moved.
    */
  private def mustRename(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"staged swap: rename $src -> $dst failed")

  /** Recursive delete that tolerates already-absent paths but throws
    * when the path still exists after a failed delete.
    */
  private def mustDelete(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"staged swap: delete $p failed")

  /** Sorted numeric partition ids under `root` with prefix
    * `<partCol>=` (empty when the root doesn't exist).
    */
  private[graft] def listPartitionIds(
      spark: SparkSession, root: String, partCol: String): Array[Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) Array.empty
    else fs.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .flatMap(n => scala.util.Try(n.stripPrefix(partCol + "=").toLong).toOption)
      .sorted
  }

  /** The shared staged fold both compactions run: partitions with id ≤
    * `foldTarget` rewrite into ONE `<partCol>=<foldTarget>` partition
    * (optionally range-repartitioned + sorted on `sortCol` so
    * row-group min/max pruning stays tight), `keepIds` ride across
    * untouched, then a rename-based swap commits the new table.
    *
    * Crash-safety (see [[recoverStagedSwap]] for the recovery side):
    * the fold + a survivor manifest land fully in staging FIRST, then
    * root is renamed aside to `<root>__old` before any survivor moves —
    * so at every instant either root holds the complete old table, or
    * `__old` + staging together hold everything and the manifest says
    * how to finish. No step deletes data that another step hasn't
    * already made redundant, and every rename/delete result is checked
    * (Hadoop reports most failures as `false`, not an exception).
    */
  private[graft] def foldPartitionedStore(
      spark: SparkSession, root: String, partCol: String,
      foldTarget: Long, keepIds: Seq[Long], sortCol: Option[String]): Unit = {
    recoverStagedSwap(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = root + "__staging"
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val oldPath = new org.apache.hadoop.fs.Path(root + "__old")
    mustDelete(fs, stagingPath) // leftover pre-swap staging is never the sole copy
    val folded0 = spark.read.parquet(root)
      .filter(org.apache.spark.sql.functions.col(partCol) <= foldTarget)
      .drop(partCol)
    val folded = sortCol match {
      case Some(c) => folded0
        .repartitionByRange(org.apache.spark.sql.functions.col(c))
        .sortWithinPartitions(org.apache.spark.sql.functions.col(c))
      case None => folded0
    }
    folded.write.mode("overwrite").parquet(s"$staging/$partCol=$foldTarget")
    val survivors = keepIds.map(id => s"$partCol=$id")
    writeFoldManifest(fs, stagingPath, survivors)
    mustRename(fs, rootPath, oldPath)
    survivors.foreach { name =>
      mustRename(fs, new org.apache.hadoop.fs.Path(oldPath, name),
        new org.apache.hadoop.fs.Path(stagingPath, name))
    }
    mustRename(fs, stagingPath, rootPath)
    mustDelete(fs, oldPath)
    fs.delete(new org.apache.hadoop.fs.Path(rootPath, ManifestName), false)
    ()
  }

  /** O-56: key-value upsert sink — last write per key wins (DynamoDB
    * `put_item` semantics, ref: streaming/consumer.py:72-83). Modeled
    * as a keyed parquet table merged via the gold-layer upsert; called
    * per micro-batch from `foreachBatch`.
    */
  def kvUpsert(spark: SparkSession, batch: DataFrame, keyCols: Seq[String], path: String): Unit = {
    // a crash between the delete and rename below leaves the merged
    // snapshot stranded in __staging — complete it before reading, or
    // the read-miss would silently drop every previously-stored key
    recoverStagedSwap(spark, path)
    val existing = scala.util.Try(spark.read.schema(batch.schema).parquet(path)).toOption
    val merged = existing match {
      case Some(e) if !e.isEmpty => graft.gold.Star.upsert(e, batch, keyCols)
      case _ => batch
    }
    // write to a temp dir then swap — parquet can't overwrite its own input
    val tmp = path + "__staging"
    merged.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    mustDelete(fs, dst)
    mustRename(fs, new org.apache.hadoop.fs.Path(tmp), dst)
  }
}
