package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Sink surface (SURVEY.md §2.2 "Sinks" row).
  *
  * The reference extension has NO sinks — results go wherever the host
  * query sends them. The Spark engine provides the full write surface:
  * batch `df.write` to partitioned parquet (the 100 TB layout primitive)
  * and checkpointed streaming writers with exactly-once delivery to
  * file sinks (vs the reference's at-least-once per-message commits,
  * kafquack_extension.cpp:199-203).
  */
object Sinks {

  /** Range-clustered batch write: rows are range-partitioned on
    * `rangeCols` and sorted within each partition before writing, so each
    * output file covers a disjoint key range and parquet min/max stats let
    * readers skip whole files on range predicates — the layout primitive
    * for time-series and id-range scans at 100 TB.
    */
  def writeRangeClustered(df: DataFrame, path: String,
      rangeCols: Seq[String], numFiles: Int,
      mode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = rangeCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(mode).parquet(path)
  }

  /** Morton (z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns — bit i of x lands at position 2i, bit i
    * of y at 2i+1. Unrolled over literal shift amounts so the whole key is
    * one codegen'd arithmetic expression (no UDF, no lambda).
    */
  def zOrderKey(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftright}
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      (shiftright(x.cast("long"), i) % 2) * lit(1L << (2 * i)) +
        (shiftright(y.cast("long"), i) % 2) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order-clustered batch write: rows are range-partitioned and sorted
    * on the Morton key of (xCol, yCol), so each output file covers a
    * compact RECTANGLE-ish region of the 2-D key space and parquet min/max
    * stats prune files for predicates on EITHER column — the multi-column
    * locality layout [[writeRangeClustered]]'s single sort order can't
    * give (a file layout sorted on x spans all of y, so a y-range query
    * reads every file). This is the clustering primitive behind
    * lakehouse OPTIMIZE ZORDER BY.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16, mode: String = "overwrite"): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zOrderKey(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Streaming parquet sink with a checkpoint: offsets + file manifest are
    * committed atomically per micro-batch, so restart resumes exactly-once
    * (the delivery-semantics upgrade documented in SURVEY.md §1.4).
    */
  def parquetSink(records: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    records.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** foreachBatch escape hatch: arbitrary batch-writer logic per
    * micro-batch (upserts, multi-table fanout) with the batch id for
    * idempotence.
    */
  def foreachBatchSink(records: DataFrame, checkpoint: String)(
      f: (Dataset[Row], Long) => Unit): StreamingQuery =
    records.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Small-file compaction of ONE leaf parquet directory: rewrite it into
    * ~`targetFileMB` files (count derived from the actual on-disk bytes).
    * Streaming sinks emit one file per micro-batch; left alone, at 100 TB
    * the file-listing metadata throttles every downstream planning step.
    *
    * Scope guards — both refusals are loud because silently proceeding
    * corrupts data:
    *  - a directory carrying a FileStreamSink `_spark_metadata` log is
    *    rejected: deleting/ignoring the log makes log-aware readers drop
    *    every compacted row once the sink appends its next batch (stop the
    *    stream and remove the log first, or compact a downstream copy);
    *  - a partitioned root (`key=value` subdirectories) is rejected:
    *    rewriting it flat would change the layout and re-infer partition
    *    value types. Compact each leaf directory individually — that is
    *    also the right failure/memory domain at scale.
    *
    * Swap is rename-based and never destroys data: the original moves to
    * `path__precompact`, the rewrite moves in, then the backup is deleted —
    * but ONLY after re-listing it against the pre-read snapshot. A file
    * that a concurrent writer appended between the snapshot and the rename
    * (foreachBatch streams and plain batch appenders leave no
    * _spark_metadata for the first guard to catch) would otherwise ride
    * the backup into the final delete; instead compaction fails loudly,
    * KEEPS the backup, and names the strays so the caller can merge them.
    * A crash between the renames likewise leaves the dataset intact at the
    * backup path (readers see a brief absence, never a loss).
    * Returns the target file count.
    *
    * `afterSnapshot` is a test seam: it runs between the listing snapshot
    * and the rewrite, where a concurrent append would land.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileMB: Int = 512,
      afterSnapshot: () => Unit = () => ()): Long = {
    require(targetFileMB > 0)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(p, "_spark_metadata")),
      s"$path carries a FileStreamSink _spark_metadata log; compacting " +
        "would desync it and log-aware readers would drop the compacted " +
        "rows. Stop the stream and clear the log, or compact a copy.")
    require(!fs.listStatus(p).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")),
      s"$path is a partitioned root; compact its leaf directories " +
        "individually")
    val bytes = fs.getContentSummary(p).getLength
    val target = targetFileMB.toLong * 1024 * 1024
    val nFiles = math.max(1L, (bytes + target - 1) / target)
    // Snapshot the files the rewrite is about to cover — (name, length) so
    // an in-place append to an existing file is caught too.
    val snapshot = fs.listStatus(p).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen)).toSet
    afterSnapshot()
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    spark.read.parquet(path).repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(tmp.toString)
    val backup = new org.apache.hadoop.fs.Path(path + "__precompact")
    fs.delete(backup, true)
    require(fs.rename(p, backup), s"rename $p -> $backup failed")
    require(fs.rename(tmp, p),
      s"rename $tmp -> $p failed; original data preserved at $backup")
    // Blind-window guard: a writer that recreated `path` between the two
    // renames makes the second rename NEST the rewrite (HDFS rename-into-
    // existing-dir semantics) as path/<tmp-name> instead of replacing the
    // directory — readers would then see only the stray writer's files.
    // Detect the nesting and stop before touching the backup.
    if (fs.exists(new org.apache.hadoop.fs.Path(p, tmp.getName)))
      throw new IllegalStateException(
        s"compact($path): a concurrent writer recreated the directory " +
          "between the swap renames; the compacted output landed nested " +
          s"at $p/${tmp.getName} and the original data is PRESERVED at " +
          s"$backup. Stop the writer, then restore from the backup.")
    val strays = fs.listStatus(backup).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen))
      .filterNot(snapshot.contains)
    if (strays.nonEmpty)
      throw new IllegalStateException(
        s"compact($path): ${strays.length} file(s) were written " +
          s"concurrently after the compaction snapshot (e.g. " +
          s"${strays.head._1}) and may be missing from the compacted " +
          s"output. The backup is PRESERVED at $backup — merge the " +
          "strays back (or re-run compact after stopping the writer) " +
          "before deleting it.")
    fs.delete(backup, true)
    nFiles
  }
}
