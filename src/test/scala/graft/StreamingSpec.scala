package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{KafkaRecord, KafkaSource}
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Stream==batch equivalence runs at sf0.01 (10k events), not the smoke
    * fixture — enough volume to exercise real watermark advancement and
    * multi-batch session merging.
    */
  private val sf01 = "/root/testdata/sf0.01"

  test("streaming replay + windowed counts == batch aggregation (sf0.01)") {
    val agg = StreamOps.windowedCounts(StreamOps.replayStream(spark, sf01))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("wc").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("wc")
      .select(col("bucket"), col("key"), col("n")).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap

    val batch = KafkaSource.replay(Tables.load(spark, sf01, "events"))
      .groupBy(window(col("timestamp"), "5 minutes")("start").as("bucket"),
        col("key"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("k19 multi-batch replay: >=3 data micro-batches and nonzero " +
      "watermark-dropped rows (sf0.01)") {
    // The CORRECTNESS row proves the RESULT matches the oracle's cutoff
    // sequence; this proves the run actually was multi-batch with real
    // late drops (VERDICT r8 item 1's 'done' bar).
    val (res, batches, dropped) =
      graft.queries.KafkaParity.multiBatchReplay(spark, sf01)
    assert(batches >= 3, s"expected >=3 data micro-batches, got $batches")
    assert(dropped > 0, s"expected nonzero late-dropped rows, got $dropped")
    assert(res.count() > 0)
  }

  test("watermark and window state survive a checkpointed restart: late " +
      "rows drop against the RESTORED watermark, open windows keep " +
      "accumulating across runs") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-restart-src")
    val out = Files.createTempDirectory("graft-restart-out")
    val cp = Files.createTempDirectory("graft-restart-cp")
    try {
      def writeSlice(name: String, times: Seq[String]): Unit = {
        import spark.implicits._
        val df = times.zipWithIndex.map { case (t, i) =>
          ("t", 0, i.toLong, t, "k", "v", null: String)
        }.toDF("topic", "partition", "offset", "ts0", "key", "value",
          "error")
          // to_timestamp (LTZ; the UTC session makes it value-identical
          // to the naive literal): withWatermark requires TIMESTAMP, and
          // the replay path gets LTZ the same way via date_trunc
          .withColumn("timestamp", to_timestamp(col("ts0")))
          .select("topic", "partition", "offset", "timestamp", "key",
            "value", "error")
        val tmp = Files.createTempDirectory("graft-restart-slice")
        try {
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          import scala.jdk.CollectionConverters._
          val part = scala.util.Using.resource(Files.list(tmp)) { st =>
            st.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          }.head
          Files.move(part, src.resolve(name))
        } finally graft.queries.Shared.deleteTree(tmp)
      }
      def run(): org.apache.spark.sql.streaming.StreamingQuery = {
        val glob = s"$src/*.parquet"
        val schema = spark.read.parquet(glob).schema
        val q = graft.streaming.StreamOps.windowedCounts(
            spark.readStream.schema(schema).parquet(glob))
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      }
      // Run 1: the 10:00 window (2 rows) closes once 10:30 advances the
      // watermark to 10:20; the 10:30 window stays OPEN in the store.
      writeSlice("a.parquet", Seq("2024-01-01 10:00:00",
        "2024-01-01 10:01:00", "2024-01-01 10:30:00"))
      run()
      // Run 2, SAME checkpoint, new file: 10:05 is late ONLY against the
      // restored watermark (its window end 10:10 <= 10:20) -> dropped;
      // 10:31 joins the restored 10:30 window (cross-restart state);
      // 10:50 advances the watermark to 10:40, closing 10:30-10:35.
      writeSlice("b.parquet", Seq("2024-01-01 10:31:00",
        "2024-01-01 10:05:00", "2024-01-01 10:50:00"))
      val q2 = run()
      val dropped = q2.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 1, s"expected exactly the 10:05 row dropped " +
        s"against the restored watermark, got $dropped")
      val got = spark.read.parquet(out.toString)
        .select(date_format(col("bucket"), "HH:mm").as("b"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got === Map(
        "10:00" -> 2L,  // closed in run 1
        "10:30" -> 2L)) // 10:30 (run 1) + 10:31 (run 2)
    } finally {
      graft.queries.Shared.deleteTree(src)
      graft.queries.Shared.deleteTree(out)
      graft.queries.Shared.deleteTree(cp)
    }
  }

  test("streaming sliding windows == batch sliding windows (sf0.01)") {
    val agg = StreamOps.windowedCounts(StreamOps.replayStream(spark, sf01),
      windowLen = "10 minutes", slide = Some("5 minutes"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("swc").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("swc").collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = KafkaSource.replay(Tables.load(spark, sf01, "events"))
      .groupBy(window(col("timestamp"), "10 minutes", "5 minutes")("start")
        .as("bucket"), col("key"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
  }

  test("dropDuplicatesWithinWatermark removes replayed duplicates") {
    import spark.implicits._
    implicit val sqlCtx = classic.sqlContext
    val mem = MemoryStream[KafkaRecord]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def rec(off: Long, key: String) =
      KafkaRecord("t", 0, off, t0, key, s"payload-$off", null)
    // offset 1 delivered three times (at-least-once replay), 2 and 3 once
    mem.addData(rec(1, "a"), rec(1, "a"), rec(2, "b"))
    mem.addData(rec(1, "a"), rec(3, "c"))
    val dedup = StreamOps.dedupWithinWatermark(
      mem.toDF(), Seq("topic", "partition", "offset"))
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dd").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val offsets = spark.table("dd").select("offset").collect()
      .map(_.getLong(0)).sorted
    assert(offsets.toSeq === Seq(1L, 2L, 3L))
  }

  test("streaming session windows == batch session windows (sf0.01)") {
    val sess = StreamOps.sessionCounts(
      StreamOps.replayStream(spark, sf01), keyCol = "key")
    val q = sess.writeStream.outputMode("complete")
      .format("memory").queryName("sess").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val rows = spark.table("sess").cache()
    assert(rows.count() > 0)
    assert(rows.filter(col("session_end") < col("session_start")).count() === 0)
    // exact equivalence with the batch twin (same session_window operator)
    val got = rows
      .select(col("key"), col("session_start"), col("session_end"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.get(1), r.get(2)) -> r.getLong(3)).toMap
    val batch = KafkaSource.replay(Tables.load(spark, sf01, "events"))
      .groupBy(session_window(col("timestamp"), "30 minutes").as("sess"),
        col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), col("sess.start"), col("sess.end"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.get(1), r.get(2)) -> r.getLong(3)).toMap
    assert(got === batch)
  }

  test("streaming near-dedup by canonical fingerprint drops reworded dupes") {
    import spark.implicits._
    implicit val sqlCtx = classic.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((1L, t0, "The quick  Brown fox"),
      (2L, t0, "the quick brown fox"), // same canonical form as 1
      (3L, t0, "something else"))
    val withFp = graft.operators.TextAnalysis.withFingerprint(
      mem.toDF().toDF("doc_id", "ts", "text"))
    val dedup = StreamOps.dedupWithinWatermark(withFp, Seq("fp_md5"), "ts")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("fpdd").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val kept = spark.table("fpdd").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept.size === 2 && kept.contains(3L))
    assert(kept.intersect(Set(1L, 2L)).size === 1)
  }

  test("stream-stream join with watermarks matches the records paired in-range") {
    import spark.implicits._
    implicit val sqlCtx = classic.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    clicks.addData((1L, ts(0)), (2L, ts(5)), (3L, ts(40)))
    buys.addData((1L, ts(3)), (2L, ts(30)), (4L, ts(6)))
    // purchases within 10 minutes after a click by the same user
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user", "click_ts"),
      buys.toDF().toDF("buser", "buy_ts"),
      "user", "buser", "click_ts", "buy_ts", within = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val pairs = spark.table("ssj").select("user").collect()
      .map(_.getLong(0)).toSet
    assert(pairs === Set(1L)) // user 2 bought too late, 3/4 unmatched
  }

  test("streaming IVF cell assignment == batch, bit-exact (stateless " +
      "map over the stream; centroids broadcast, no stream shuffle)") {
    import spark.implicits._
    import graft.operators.Similarity
    val e = Tables.load(spark, sf01, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val cents = Similarity.sampleCentroids(e)
    def key(r: org.apache.spark.sql.Row): (Long, (Long, Long)) =
      r.getLong(0) -> (r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    val batch = Similarity.ivfAssign(e, cents)
      .select(col("id"), col("cell"), col("d2")).collect().map(key).toMap

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Double])]
    ms.addData(e.as[(Long, Seq[Double])].collect().toSeq)
    val out = Similarity.ivfAssign(
      ms.toDF.toDF("vec_id", "embedding"), cents)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sivf").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sivf")
      .select(col("id"), col("cell"), col("d2")).collect().map(key).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming replay preserves the value/error exclusivity invariant") {
    val q = StreamOps.replayStream(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("replay_inv").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val t = spark.table("replay_inv")
    assert(t.count() > 0)
    assert(t.filter(col("value").isNull === col("error").isNull).count() === 0)
  }
}
