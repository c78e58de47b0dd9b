package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.KafkaRecord
import graft.streaming.StreamOps

class SinkSpec extends SparkSpec {

  private def classic =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("compaction collapses a fragmented dataset without losing a row") {
    val out = tmp("sink_compact")
    val rec = graft.sources.KafkaSource.replay(
      Tables.load(spark, sf, "events"))
    // fragment deliberately: many small files
    rec.repartition(24).write.mode("overwrite").parquet(out)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFiles)
    }
    val before = parquetFiles(new java.io.File(out)).size
    assert(before >= 24)
    val checksumBefore = spark.read.parquet(out)
      .agg(sum(col("offset")), count(lit(1))).collect()(0)
    val n = Sinks.compact(spark, out, targetFileMB = 512)
    val after = parquetFiles(new java.io.File(out)).size
    assert(n === 1L) // tiny dataset → one target file
    assert(after < before)
    val checksumAfter = spark.read.parquet(out)
      .agg(sum(col("offset")), count(lit(1))).collect()(0)
    assert(checksumAfter === checksumBefore)
    // no leftover staging or backup directories
    assert(!new java.io.File(out + "__compacting").exists())
    assert(!new java.io.File(out + "__precompact").exists())
  }

  test("compaction keeps the backup and fails loudly on a concurrent append") {
    val out = tmp("sink_compact_race")
    val rec = graft.sources.KafkaSource.replay(
      Tables.load(spark, sf, "events"))
    rec.repartition(4).write.mode("overwrite").parquet(out)
    val before = spark.read.parquet(out)
      .agg(sum(col("offset")), count(lit(1))).collect()(0)
    // a writer sneaks a file in AFTER the compaction snapshot — the shape
    // a foreachBatch stream or concurrent batch appender produces, which
    // the _spark_metadata guard cannot see
    val straySrc = tmp("sink_compact_stray_src")
    rec.limit(5).coalesce(1).write.mode("overwrite").parquet(straySrc)
    val straySrcFile = new java.io.File(straySrc).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val stray = new java.io.File(out, "part-stray-concurrent.parquet")
    val e = intercept[IllegalStateException](
      Sinks.compact(spark, out, targetFileMB = 512, afterSnapshot = () => {
        java.nio.file.Files.copy(straySrcFile.toPath, stray.toPath)
        ()
      }))
    assert(e.getMessage.contains("PRESERVED"))
    // nothing lost: the backup holds every original file plus the stray
    val backup = new java.io.File(out + "__precompact")
    assert(backup.isDirectory)
    assert(new java.io.File(backup, stray.getName).exists())
    val restored = spark.read.parquet(
        backup.listFiles().filter(_.getName.endsWith(".parquet"))
          .filterNot(_.getName.contains("stray")).map(_.getPath): _*)
      .agg(sum(col("offset")), count(lit(1))).collect()(0)
    assert(restored === before)
  }

  test("compaction refuses streaming-sink logs and partitioned roots") {
    // a FileStreamSink directory: compacting would desync _spark_metadata
    val streamed = tmp("sink_compact_stream")
    val rec = graft.sources.KafkaSource.replay(
      Tables.load(spark, sf, "events"))
    rec.limit(10).write.mode("overwrite").parquet(streamed)
    new java.io.File(streamed, "_spark_metadata").mkdir()
    val e1 = intercept[IllegalArgumentException](
      Sinks.compact(spark, streamed))
    assert(e1.getMessage.contains("_spark_metadata"))
    // a partitioned root: leaves must be compacted individually
    val parted = tmp("sink_compact_parted")
    rec.write.mode("overwrite").partitionBy("partition").parquet(parted)
    val e2 = intercept[IllegalArgumentException](
      Sinks.compact(spark, parted))
    assert(e2.getMessage.contains("leaf directories"))
    // ...and compacting one leaf works
    val leaf = new java.io.File(parted).listFiles()
      .filter(_.getName.startsWith("partition=")).head.getAbsolutePath
    val before = spark.read.parquet(leaf).count()
    Sinks.compact(spark, leaf)
    assert(spark.read.parquet(leaf).count() === before)
  }

  test("range-clustered write produces disjoint per-file key ranges") {
    val out = tmp("sink_range")
    Sinks.writeRangeClustered(
      Tables.load(spark, sf, "orders"), out, Seq("o_orderkey"), 8)
    // per-file min/max must not overlap across files
    val ranges = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
        val r = d.agg(min(col("o_orderkey")), max(col("o_orderkey")))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"overlapping file ranges: $hi >= $lo2")
    }
    assert(spark.read.parquet(out).count() ===
      Tables.load(spark, sf, "orders").count())
  }

  test("z-ordered write clusters BOTH dimensions: a rectangle query " +
      "prunes files a single-column sort layout cannot") {
    val li = Tables.load(spark, sf, "lineitem")
      .select((col("l_partkey") % 128).as("zx"),
        (col("l_orderkey") % 128).as("zy"))
    val nFiles = 8
    val zOut = tmp("sink_zorder")
    Sinks.writeZOrdered(li, zOut, "zx", "zy", nFiles, bits = 10)
    val xOut = tmp("sink_xsort")
    Sinks.writeRangeClustered(li, xOut, Seq("zx"), nFiles)

    def boxes(path: String): Array[(Long, Long, Long, Long)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(col("zx")), max(col("zx")),
              min(col("zy")), max(col("zy"))).collect()(0)
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    // rectangle in the middle of both ranges
    val (xLo, xHi, yLo, yHi) = (32L, 63L, 32L, 63L)
    def touched(bs: Array[(Long, Long, Long, Long)]): Int =
      bs.count { case (x0, x1, y0, y1) =>
        x1 >= xLo && x0 <= xHi && y1 >= yLo && y0 <= yHi }
    val zb = boxes(zOut)
    val xb = boxes(xOut)
    assert(zb.length > 1 && xb.length > 1)
    // Range-split boundaries come from sampling seeded by rdd.id (a
    // global counter), so exact touched-file counts wobble with test
    // order. The ORDER-ROBUST property of a z-layout is structural:
    // most z files bound BOTH dimensions (a contiguous z-range covers
    // aligned sub-quadrants), while an x-sorted file can never bound
    // zy — its y-span stays ~the full domain.
    val half = 64L
    def boundedBoth(bs: Array[(Long, Long, Long, Long)]): Int =
      bs.count { case (x0, x1, y0, y1) =>
        x1 - x0 <= half && y1 - y0 <= half }
    assert(boundedBoth(zb) >= zb.length / 2,
      s"z files with both spans <= $half: ${boundedBoth(zb)}/${zb.length}")
    assert(boundedBoth(xb) <= 1,
      s"xsort files with both spans <= $half: ${boundedBoth(xb)}/${xb.length}")
    // and the rectangle query never does WORSE on the z layout
    assert(touched(zb) <= touched(xb),
      s"z=${touched(zb)}/${zb.length} files, xsort=${touched(xb)}/${xb.length}")
    // no rows lost, and the written schema carries no helper column
    assert(spark.read.parquet(zOut).count() === li.count())
    assert(spark.read.parquet(zOut).columns.toSeq === Seq("zx", "zy"))
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

  test("stateful offset-gap detector finds holes across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = classic.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def rec(p: Int, off: Long) =
      KafkaRecord("t", p, off, t0, "k", "v", null)
    mem.addData(rec(0, 0), rec(0, 1), rec(0, 2), rec(1, 10))
    mem.addData(rec(0, 5), rec(0, 6), rec(1, 11)) // hole 2->5 on p0
    mem.addData(rec(0, 9), rec(1, 12))            // hole 6->9 on p0
    val q = StreamOps.detectOffsetGaps(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("gaps").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val gaps = spark.table("gaps").as[OffsetGapRow].collect()
      .map(g => (g.partition, g.fromOffset, g.toOffset)).toSet
    assert(gaps === Set((0, 2L, 5L), (0, 6L, 9L)))
  }

  test("batch offset audit agrees with the streaming gap detector on " +
      "the replay fixture") {
    import spark.implicits._
    implicit val sqlCtx = classic.sqlContext
    val replay = graft.sources.KafkaSource.replay(
      Tables.load(spark, sf, "events"))
    val batch = SparkEntry.queries("k06_offset_audit")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(4), r.getLong(5))).toMap
    // drive the SAME records through the stateful streaming detector
    val mem = MemoryStream[graft.sources.KafkaRecord]
    mem.addData(replay.as[graft.sources.KafkaRecord].collect().toSeq)
    val q = StreamOps.detectOffsetGaps(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("audit_gaps").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val stream = spark.table("audit_gaps").as[OffsetGapRow].collect()
      .groupBy(_.partition)
      .map { case (p, gs) => p ->
        ((gs.length.toLong,
          gs.map(g => g.toOffset - g.fromOffset - 1).sum)) }
    // per partition: same gap count and same total missing offsets
    stream.foreach { case (p, (nGaps, missing)) =>
      assert(batch(p) === ((nGaps, missing)), s"partition $p")
    }
    assert(batch.values.map(_._1).sum ===
      stream.values.map(_._1).sum)
    assert(stream.nonEmpty)
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

/** Row shape of the gaps memory table. */
case class OffsetGapRow(topic: String, partition: Int,
    fromOffset: Long, toOffset: Long)
