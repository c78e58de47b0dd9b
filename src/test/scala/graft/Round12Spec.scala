package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.{Extras6, Extras8}
import graft.streaming.{StreamOps, UserTimedEvent}

/** Round-12 gates (VERDICT r11 + ADVICE r11): the hot-key-only salted
  * interval join's state-row accounting (the whole point of k26 over k24
  * is right-side state staying near the unsalted count), the timer
  * boundary-semantics probe that certifies the k25 oracle's `<=` cutoff
  * rather than assuming it fixture-safe, and the FirstSeenAlertProcessor
  * out-of-order min-merge.
  */
class Round12Spec extends SparkSpec {

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** File-replay harness for the timer probes: each slice becomes one
    * micro-batch (AvailableNow + maxFilesPerTrigger=1, the k25
    * discipline), RocksDB scoped set/restore, watermark delay ZERO so
    * the final watermark is exactly the max event time seen — the probe
    * can then place a timer EXACTLY on the watermark.
    */
  private def runTimerReplay(slices: Seq[Seq[(Long, Long, Long)]],
      gapMs: Long): Seq[(Long, Long)] = {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", rocksProvider)
    val src = java.nio.file.Files.createTempDirectory("graft-r12-src")
    val out = java.nio.file.Files.createTempDirectory("graft-r12-out")
    val cp = java.nio.file.Files.createTempDirectory("graft-r12-cp")
    try {
      val base = System.currentTimeMillis() - 3600000L
      slices.zipWithIndex.foreach { case (rows, k) =>
        val tmp = java.nio.file.Files.createTempDirectory("graft-r12-slice")
        try {
          rows.map { case (u, e, ms) =>
            (u, e, new java.sql.Timestamp(ms))
          }.toDF("user_id", "event_id", "ts")
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          Extras6.pinSlice(tmp, src, k, base)
        } finally graft.queries.Shared.deleteTree(tmp)
      }
      val glob = s"$src/e*.parquet"
      val stream = spark.readStream
        .schema(spark.read.parquet(glob).schema)
        .option("maxFilesPerTrigger", 1).parquet(glob)
        .select(col("user_id").as("userId"), col("event_id").as("eventId"),
          col("ts"))
        .withWatermark("ts", "0 seconds")
        .as[UserTimedEvent]
      val q = StreamOps.firstSeenAlerts(stream, gapMs)
        .toDF("user_id", "alert_ts_ms")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      graft.queries.Shared.deleteTree(src)
      graft.queries.Shared.deleteTree(out)
      graft.queries.Shared.deleteTree(cp)
    }
  }

  test("timer boundary semantics: a timer landing EXACTLY on the final " +
      "watermark fires (certifies the k25 oracle's <= cutoff)") {
    // ADVICE r11: the k25 oracle cuts at first_ms + gap <= watermark;
    // until now that was only fixture-safe (no exact ms tie existed).
    // This probe constructs the tie: with watermark delay 0 the final
    // watermark is the max event time W; user 100's timer lands exactly
    // on W, user 200's strictly below, user 300's strictly above.
    val base = 1700000000000L
    val gap = 1000L
    val got = runTimerReplay(Seq(
      Seq((100L, 1L, base), (200L, 2L, base - 10), (300L, 3L, base + 10)),
      Seq((999L, 4L, base + gap))), // W_final = base + gap == timer(100)
      gap)
    val below = (200L, base - 10 + gap)
    val onEdge = (100L, base + gap)
    assert(got.contains(below), s"strictly-below timer did not fire: $got")
    assert(!got.exists(_._1 == 300L),
      s"strictly-above timer fired early: $got")
    assert(!got.exists(_._1 == 999L), s"W-setter's own timer fired: $got")
    // THE pin: expiry == watermark fires — the engine's comparator is
    // inclusive, matching the oracle's <=. If this ever flips on a Spark
    // upgrade, flip the k25 oracle (and this assertion) together.
    assert(got.contains(onEdge),
      s"engine did not fire a timer landing exactly on the watermark — " +
        s"k25's oracle must switch from <= to < : $got")
  }

  test("FirstSeenAlertProcessor min-merges out-of-order arrivals: a " +
      "later batch carrying an EARLIER event revises the alert time") {
    // ADVICE r11: batch 0 sees user 7 at t1; batch 1 delivers an
    // admissible out-of-order row 4 s EARLIER (the 10 s watermark delay
    // keeps it above W = t1 - 10 s). The alert must be tEarly + gap —
    // the stored first-seen and its registered timer both move. A third
    // batch advances the watermark far past both candidate timers, so a
    // stale (un-deleted) timer at t1 + gap would ALSO fire and fail the
    // exact-sequence assertion below.
    val base = 1700000000000L
    val gap = 60000L
    val t1 = base + 5000
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass", rocksProvider)
    val src = java.nio.file.Files.createTempDirectory("graft-r12b-src")
    val out = java.nio.file.Files.createTempDirectory("graft-r12b-out")
    val cp = java.nio.file.Files.createTempDirectory("graft-r12b-cp")
    try {
      val pin = System.currentTimeMillis() - 3600000L
      val tEarly = t1 - 4000
      def writeSlice(k: Int, rows: Seq[(Long, Long, Long)]): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-r12b-sl")
        try {
          rows.map { case (u, e, ms) =>
            (u, e, new java.sql.Timestamp(ms))
          }.toDF("user_id", "event_id", "ts")
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          Extras6.pinSlice(tmp, src, k, pin)
        } finally graft.queries.Shared.deleteTree(tmp)
      }
      writeSlice(0, Seq((7L, 1L, t1)))
      writeSlice(1, Seq((7L, 2L, tEarly))) // out-of-order, admissible
      writeSlice(2, Seq((9L, 3L, t1 + 7200000L))) // advances W past both
      val glob = s"$src/e*.parquet"
      val stream = spark.readStream
        .schema(spark.read.parquet(glob).schema)
        .option("maxFilesPerTrigger", 1).parquet(glob)
        .select(col("user_id").as("userId"), col("event_id").as("eventId"),
          col("ts"))
        .withWatermark("ts", "10 seconds")
        .as[UserTimedEvent]
      val q = StreamOps.firstSeenAlerts(stream, gap)
        .toDF("user_id", "alert_ts_ms")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val got = spark.read.parquet(out.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got.filter(_._1 == 7L) === Seq((7L, tEarly + gap)),
        s"alert did not track the revised (min-merged) first-seen: $got")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      graft.queries.Shared.deleteTree(src)
      graft.queries.Shared.deleteTree(out)
      graft.queries.Shared.deleteTree(cp)
    }
  }

  test("hot-key-only salting: identical output, LEFT hot share collapses " +
      "like the full-salt twin, RIGHT state stays near the unsalted count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // LEFT skew (the k24 rehearsal shape): 2000 rows, 80% on user 1.
    // RIGHT mostly COLD: 200 rows, only every 20th on the hot key — the
    // workload where full salting is wasteful (it replicates ALL 200
    // right rows ×salts) and hot-only salting is the production shape
    // (replicates just the 10 hot ones).
    def keyL(i: Long): Long = if (i % 10 < 8) 1L else 1000L + i
    def keyR(i: Long): Long = if (i % 20 == 0) 1L else 1000L + (i * 10 + 8)
    val leftRows = (0L until 2000L).map(i => (keyL(i), i,
      new java.sql.Timestamp(t0 + i * 1000L)))
    // right ts drift keeps cold pairs inside the 2 h window for i < 120
    val rightRows = (0L until 200L).map(i => (keyR(i), 100000L + i,
      new java.sql.Timestamp(t0 + i * 70000L)))
    sealed trait Mode
    case object Unsalted extends Mode
    case object FullSalt extends Mode
    case object HotSalt extends Mode
    def run(mode: Mode)
        : (Set[(Long, Long, Long)], Map[Int, Long], Long) = {
      val cp = java.nio.file.Files.createTempDirectory("graft-hot-cp")
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val left = mem.toDF().toDF("user_id", "view_id", "view_ts")
      val memR = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val right = memR.toDF().toDF("buyer_id", "buy_id", "buy_ts")
      val j = (mode match {
        case Unsalted => StreamOps.intervalJoin(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts",
          within = "2 hours", lateness = "1 hour")
        case FullSalt => StreamOps.intervalJoinSalted(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts",
          within = "2 hours", lateness = "1 hour", salts = 32)
        case HotSalt => StreamOps.intervalJoinSaltedHot(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts", hotKeys = Seq(1L),
          within = "2 hours", lateness = "1 hour", salts = 32)
      }).select(col("user_id"), col("view_id"), col("buy_id"))
      val name = s"hot_${mode.toString.toLowerCase}_${System.nanoTime()}"
      val q = j.writeStream.outputMode("append")
        .option("checkpointLocation", cp.toString)
        .format("memory").queryName(name).start()
      try {
        mem.addData(leftRows: _*)
        memR.addData(rightRows: _*)
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      def state(side: String) = spark.read.format("statestore")
        .option("path", cp.toString).option("joinSide", side).load()
      val leftSpread = state("left")
        .groupBy(col("partition_id")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rightRowsInState = state("right").count()
      graft.queries.Shared.deleteTree(cp)
      (out, leftSpread, rightRowsInState)
    }
    val (outU, spreadU, rStateU) = run(Unsalted)
    val (outS, _, rStateS) = run(FullSalt)
    val (outH, spreadH, rStateH) = run(HotSalt)
    // 1) salting — full or hot-only — never changes the output
    assert(outS === outU, "full salting changed the join output")
    assert(outH === outU, "hot-only salting changed the join output")
    assert(outU.nonEmpty)
    // both populations must actually appear in the output, or the cold
    // path was never exercised
    assert(outU.exists(_._1 == 1L), "no hot-key match in the fixture")
    assert(outU.exists(_._1 != 1L), "no cold-key match in the fixture")
    def maxShare(m: Map[Int, Long]): Double =
      m.values.max.toDouble / m.values.sum
    // 2) the skew collapse the salt exists for (the k24-level gate)
    assert(maxShare(spreadU) > 0.5,
      s"probe fixture did not produce left-state skew: $spreadU")
    assert(maxShare(spreadH) < maxShare(spreadU) / 2,
      s"hot-only salting did not spread left state: " +
        s"unsalted=${maxShare(spreadU)} hot=${maxShare(spreadH)}")
    // 3) THE k26 claim: full salting replicates every right row ×32;
    // hot-only replicates just the ~5% hot ones, so right state stays
    // near the unsalted count instead of ×salts on everything.
    info(s"right-state rows: unsalted=$rStateU fullSalt=$rStateS " +
      s"hotSalt=$rStateH")
    assert(rStateS > 10 * rStateU,
      s"full-salt right state should be ~32x unsalted: $rStateS vs $rStateU")
    assert(rStateH < 3 * rStateU,
      s"hot-only right state drifted from the unsalted count: " +
        s"$rStateH vs $rStateU")
    assert(rStateH.toDouble / rStateS < 0.2,
      s"hot-only right state is not far below full-salt: " +
        s"$rStateH vs $rStateS")
  }

  test("q26 register aggregate keeps two-phase codegen HashAggregate " +
      "and each side's scan is pruned to its single key column") {
    val p = SparkEntry.queries("q26_approx_distinct")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the g20/g21 plan discipline on the register mins: fixed-width
    // buffers must stay in two-phase codegen HashAggregate
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    // column pruning: each lineitem scan reads exactly ONE key column —
    // a scan pulling both (or more) would ship dead bytes at 100 TB
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty, p)
    assert(reads.forall(l => "l_\\w+".r.findAllIn(l).toSet.size == 1),
      reads.mkString("\n"))
  }

  test("hotUserKeys detection is deterministic, bounded, and picks the " +
      "actual frequency head") {
    val a = Extras8.hotUserKeys(spark, sf, topK = 16)
    val b = Extras8.hotUserKeys(spark, sf, topK = 16)
    assert(a === b, "hot-key detection is not deterministic")
    assert(a.size <= 16 && a.distinct.size == a.size)
    // the returned keys must be a genuine top-16 by count (ties on
    // user_id, the detection's own ordering)
    val counts = graft.Tables.load(spark, sf, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = counts.sortBy { case (u, n) => (-n, u) }.take(16)
      .map(_._1).toSeq
    assert(a === want, s"hot set $a != recomputed head $want")
  }

  test("k27 MapState/ListState replay: >=3 data micro-batches under an " +
      "ENGAGED RocksDB provider, with genuine cross-batch map growth") {
    val (res, dataBatches, rocks) = Extras8.typeCountsReplay(spark, sf)
    assert(dataBatches >= 3,
      s"expected >= 3 data micro-batches, saw $dataBatches")
    assert(rocks, "rocksdb did not engage for the MapState/ListState query")
    val rows = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    // some user must span >1 batch (the state CARRIED), and for such a
    // user a type's count must be non-decreasing across batch ordinals
    // while the ListState-folded max event id strictly tracks upward
    val multi = rows.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
    assert(multi.nonEmpty, "no user spanned more than one micro-batch")
    multi.foreach { case (_, us) =>
      us.groupBy(_._3).foreach { case (_, tr) =>
        val byBatch = tr.sortBy(_._2).map(_._4).toSeq
        assert(byBatch == byBatch.sorted,
          s"cumulative count regressed across batches: ${tr.toSeq}")
      }
      val eids = us.sortBy(_._2).map(_._5).distinct.toSeq
      assert(eids == eids.sorted,
        s"running max event id regressed: ${us.toSeq}")
    }
  }

  test("k26 replay is row-identical to k20's on the smoke fixture " +
      "(output-invariance end-to-end through MicroBatchExecution)") {
    val k20 = Extras6.intervalJoinReplay(spark, sf)._1.collect().toSeq
    val k26 = Extras8.defs("k26_interval_join_hot")(spark, sf)
      .collect().toSeq
    assert(k26 === k20,
      "hot-key salted replay diverged from the unsalted replay")
    assert(k20.nonEmpty)
  }
}
