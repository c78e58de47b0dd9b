package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All graft operators take plain DataFrames; these helpers only centralize
  * the `dir/name.parquet` convention so queries stay one-liners.
  *
  * Timestamp semantics: the fixtures carry `isAdjustedToUTC=false` parquet
  * timestamps, which Spark 4 reads as TIMESTAMP_NTZ — the same naive-local
  * semantics DuckDB's TIMESTAMP has, so oracle comparison is direct. The
  * `events.ts` precision has varied across fixture generations: nanosecond
  * parquet (which Spark rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong=true` — kept set in
  * [[GraftSession]]) vs native microsecond. [[load]] keys off the READ
  * schema: a long `ts` is a nanos fixture and gets floor-divided back to
  * microsecond TIMESTAMP_NTZ (matching DuckDB's nanos→micros truncation);
  * a timestamp `ts` passes through.
  *
  * A loaded table is a per-session snapshot, as a catalog table is: the
  * first [[load]] of `dir/name.parquet` in a session lists its files and
  * infers its schema (one Spark job), and every later load returns that
  * same DataFrame, so files written to the path afterwards are not seen.
  * The memo is [[graft.queries.Shared]]'s, keyed by application and
  * evicted at application end; a second session of the same application
  * reads the path afresh, so a query never runs under another session's
  * conf.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.queries.Shared.memo(spark, dir, s"table:$name")(
      read(spark, dir, name))
    if (df.sparkSession eq spark) df else read(spark, dir, name)
  }

  private def read(spark: SparkSession, dir: String, name: String)
      : DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        d.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      else d
    }
  }

  /** Register every fixture table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
