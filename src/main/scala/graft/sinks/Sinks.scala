package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Sink surface (SURVEY.md §2.2 "Sinks" row).
  *
  * The reference extension has NO sinks — results go wherever the host
  * query sends them, and batch writes here go through Spark's own
  * `df.write`. This object holds the checkpointed streaming writers, with
  * exactly-once delivery to file sinks (vs the reference's at-least-once
  * per-message commits, kafquack_extension.cpp:199-203), and the Morton
  * key q50 clusters on.
  */
object Sinks {

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
}
