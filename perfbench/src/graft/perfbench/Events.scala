package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic Kafka-style events for the stream workloads, written
  * as JSON-lines files (one file per slice) into a landing directory.
  *
  * Keys follow a Zipf(1.1) law over `keys` values, a share of rows arrive
  * out of order (event time moved back by less than half the allowed
  * lateness, so none is late), and a share carries a poison payload that
  * fails JSON decoding. Offsets are consecutive from 0 across slices.
  */
final class Events(seed: Long, keys: Int, outOfOrder: Double,
    poison: Double) {
  private val rnd = new scala.util.Random(seed)
  private val cdf = {
    val w = (1 to keys).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  var nextOffset = 0L
  var rows = 0L
  var poisonRows = 0L

  private def zipfKey(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    if (i >= 0) i else math.min(-i - 1, keys - 1)
  }

  /** Write `n` events with event times in [tMs, tMs + spanMs) as
    * `staging/name`, not yet visible to a reader; [[publish]] lands it. */
  def write(staging: Path, name: String, n: Int, tMs: Long,
      spanMs: Long): Path = {
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      val off = nextOffset
      nextOffset += 1
      var ts = tMs + (rnd.nextDouble() * spanMs).toLong
      if (rnd.nextDouble() < outOfOrder)
        ts -= (rnd.nextDouble() * Events.maxDisorderMs).toLong
      val key = zipfKey()
      // Offsets the replay marks as broker errors (offset % 97 == 0) lose
      // their payload, so a poison payload there would never be decoded.
      val bad = off % 97 != 0 && rnd.nextDouble() < poison
      if (bad) poisonRows += 1
      val props = if (bad) s"""{\\"k\\": ${rnd.nextInt(100)}, \\"u"""
        else s"""{\\"k\\": ${rnd.nextInt(100)}, \\"u\\": ${rnd.nextInt(1000)}}"""
      sb.append(s"""{"event_id":$off,"ts_ms":$ts,"event_type":"k$key","props":"$props"}""")
        .append('\n')
    }
    rows += n
    Files.write(staging.resolve(name),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Move a written slice into `landing` by an atomic rename, so a reader
    * never sees a partial slice. */
  def publish(written: Path, landing: Path): Unit =
    Files.move(written, landing.resolve(written.getFileName),
      StandardCopyOption.ATOMIC_MOVE)

  /** Write a slice and land it at once. */
  def slice(staging: Path, landing: Path, name: String, n: Int, tMs: Long,
      spanMs: Long): Unit =
    publish(write(staging, name, n, tMs, spanMs), landing)
}

object Events {
  /** Watermark delay of every stream workload (the engine's default). */
  val lateness = "10 minutes"
  /** Largest step back in event time of an out-of-order row. */
  val maxDisorderMs: Long = 5L * 60 * 1000

  val fileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_ms", LongType),
    StructField("event_type", StringType), StructField("props", StringType)))

  /** The payload schema `KafkaSource.withJsonDecoded` decodes to. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("u", LongType)))

  /** The events table shape `KafkaSource.replay` reads. */
  private def asEvents(df: DataFrame): DataFrame =
    df.select(col("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
      col("event_type"), col("props"))

  def stream(spark: SparkSession, dir: Path): DataFrame =
    asEvents(spark.readStream.schema(fileSchema).json(dir.toString))

  def batch(spark: SparkSession, dir: Path): DataFrame =
    asEvents(spark.read.schema(fileSchema).json(dir.toString))
}
