package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.streaming.StreamOps

class SinkSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("z-order key interleaves x into even bits and y into odd bits") {
    import spark.implicits._
    val pairs = Seq((1L, 0L, 1L), (0L, 1L, 2L), (3L, 3L, 15L),
      (1023L, 0L, 0x55555L), (0L, 1023L, 0xAAAAAL))
    val got = pairs.toDF("x", "y", "z")
      .select(Sinks.zOrderKey(col("x"), col("y"), 10), col("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (key, want) => assert(key === want) }
    intercept[IllegalArgumentException](
      Sinks.zOrderKey(col("x"), col("y"), 0))
    intercept[IllegalArgumentException](
      Sinks.zOrderKey(col("x"), col("y"), 32))
  }

  test("streaming parquet sink is exactly-once across a restart") {
    val out = tmp("sink_stream_out")
    val ckpt = tmp("sink_stream_ckpt")
    def run(): Unit = {
      val q = Sinks.parquetSink(
        StreamOps.replayStream(spark, sf), out, ckpt)
      try { q.awaitTermination(60000) } finally { q.stop() }
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 === Tables.load(spark, sf, "events").count())
    // restart with the same checkpoint and no new data: no duplicates
    run()
    assert(spark.read.parquet(out).count() === n1)
  }

  test("foreachBatch sink receives every row with a batch id") {
    val ckpt = tmp("sink_feb_ckpt")
    val acc = spark.sparkContext.longAccumulator("rows")
    val q = Sinks.foreachBatchSink(
      StreamOps.replayStream(spark, sf), ckpt) { (batch, id) =>
      assert(id >= 0)
      acc.add(batch.count())
    }
    try { q.awaitTermination(60000) } finally { q.stop() }
    assert(acc.value === Tables.load(spark, sf, "events").count())
  }

  test("CREATE VIEW flow from the reference README (31-38) works") {
    val rec = graft.sources.KafkaSource.replay(
      Tables.load(spark, sf, "events"))
    rec.createOrReplaceTempView("kafka_messages")
    val n1 = spark.sql("SELECT * FROM kafka_messages").count()
    val n2 = spark.sql(
      "SELECT count(*) FROM kafka_messages WHERE error IS NULL")
      .collect()(0).getLong(0)
    assert(n1 > 0 && n2 < n1) // error rows exist and views re-query
  }
}

