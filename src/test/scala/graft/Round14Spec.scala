package graft

import org.apache.spark.sql.functions._

import graft.queries.{Extras6, Extras10}
import graft.streaming.StreamOps

/** Round-14 gates (VERDICT r13): the streaming-dedup state machine's
  * comparators pinned on exact-ms ties (horizon eviction INCLUSIVE,
  * no expiry extension on a dropped duplicate, post-eviction
  * re-emission), the chained join→window query's delayed-watermark
  * emission cutoff (delay == the interval bound, inclusive tie) plus the
  * two-stateful-operators progress gate, the right_outer mirror's
  * preserved-side tie (k28's inclusive rule survives the side swap) and
  * its row-identity with k28 on the fixture, and g23's k=10 profile
  * extending g21's rows.
  */
class Round14Spec extends SparkSpec {

  /** Write `slices` as one pinned-mtime replay file each under a fresh
    * dir (the k19/k20 discipline) and return the dir; rows are
    * (col1, col2, epoch-ms) tuples materialized as (Long, Long,
    * Timestamp) columns.
    */
  private def writeSlices(slices: Seq[Seq[(Long, Long, Long)]],
      cols: Seq[String]): java.nio.file.Path = {
    import spark.implicits._
    val dst = java.nio.file.Files.createTempDirectory("graft-r14-src")
    val pin = System.currentTimeMillis() - 3600000L
    slices.zipWithIndex.foreach { case (rows, k) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-r14-sl")
      try {
        rows.map { case (a, b, ms) =>
          (a, b, new java.sql.Timestamp(ms))
        }.toDF(cols: _*)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        Extras6.pinSlice(tmp, dst, k, pin)
      } finally graft.queries.Shared.deleteTree(tmp)
    }
    dst
  }

  private def fileStream(src: java.nio.file.Path) = {
    val glob = s"$src/e*.parquet"
    spark.readStream.schema(spark.read.parquet(glob).schema)
      .option("maxFilesPerTrigger", 1).parquet(glob)
  }

  private def runToParquet(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.Row] = {
    val out = java.nio.file.Files.createTempDirectory("graft-r14-out")
    val cp = java.nio.file.Files.createTempDirectory("graft-r14-cp")
    try {
      val q = df.writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out.toString).collect().toSeq
    } finally {
      graft.queries.Shared.deleteTree(out)
      graft.queries.Shared.deleteTree(cp)
    }
  }

  test("streaming dedup: horizon-tie eviction is INCLUSIVE (expiry == " +
      "watermark re-emits), surviving state drops the duplicate, a " +
      "dropped duplicate does NOT extend expiry, late input drops, and " +
      "re-emission installs fresh state") {
    val t0 = 1700000000000L
    // lateness 10 s; wprev(k) = cummax(file maxima <= k-2) - 10 s:
    //   wprev(2) = (t0+20000) - 10000 = t0+10000
    //   wprev(3) = (t0+28000) - 10000 = t0+18000
    //  key 3: expiry t0+10000 == wprev(2)  -> TIE: copy 31 re-emits (<=)
    //         31's new expiry t0+25000 > wprev(3) -> copy 32 drops
    //  key 1: expiry t0+15000 > wprev(2)   -> copy 11 drops
    //         t0+15000 < wprev(3)          -> copy 12 re-emits
    //  key 2: copy 21 drops at batch 2; if dropping had extended expiry
    //         to t0+22000 (> wprev(3)) copy 22 would drop — it must
    //         re-emit off the ORIGINAL t0+15000 expiry (< wprev(3))
    //  key 5: copy 51 at t0+17000 < wprev(3) -> late-dropped on input
    val src = writeSlices(Seq(
      Seq((3L, 30L, t0), (1L, 10L, t0 + 5000), (2L, 20L, t0 + 5000),
        (5L, 50L, t0 + 2000), (90L, 900L, t0 + 20000)),
      Seq((91L, 910L, t0 + 28000)),
      Seq((3L, 31L, t0 + 15000), (1L, 11L, t0 + 15000),
        (2L, 21L, t0 + 12000), (92L, 920L, t0 + 60000)),
      Seq((1L, 12L, t0 + 20000), (2L, 22L, t0 + 20000),
        (5L, 51L, t0 + 17000), (3L, 32L, t0 + 35000))),
      Seq("user_id", "event_id", "ts"))
    try {
      val got = runToParquet(StreamOps.dedupWithinWatermark(
          fileStream(src), Seq("user_id"), timeCol = "ts",
          lateness = "10 seconds"))
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got === Seq((1L, 10L), (1L, 12L), (2L, 20L), (2L, 22L),
        (3L, 30L), (3L, 31L), (5L, 50L), (90L, 900L), (91L, 910L),
        (92L, 920L)),
        s"dedup state-machine emission set diverged: $got — if a Spark " +
          "upgrade flips the horizon comparator or adds expiry " +
          "extension, flip the k32 oracle together with this probe")
    } finally graft.queries.Shared.deleteTree(src)
  }

  test("k32 replay: 4 data batches, watermark-late input dropped, state " +
      "GC'd, some keys re-emit after eviction, some duplicates drop") {
    val (res, dataBatches, dropped, removed) =
      Extras10.streamingDedupReplay(spark, sf)
    assert(dataBatches == 4, s"expected 4 data batches, saw $dataBatches")
    assert(dropped > 0, "no watermark-late duplicate was dropped on input")
    assert(removed > 0, "no dedup state row was ever evicted")
    val rows = res.collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    // at least one key re-emitted (post-eviction duplicate), and its two
    // emissions carry distinct event times (the injected +60h shift)
    val multi = rows.groupBy(_._1).filter(_._2.length > 1)
    assert(multi.nonEmpty, "no key re-emitted after state eviction")
    multi.foreach { case (k, rs) =>
      assert(rs.length == 2, s"key $k emitted ${rs.length} times")
      assert(rs.map(_._2).distinct.length == 2,
        s"re-emission for key $k carries a duplicate timestamp")
    }
    // and the duplicate-drop path fired too: fewer emissions than
    // admitted input rows (originals + injected copies − late drops)
    val nInput = spark.read
      .parquet(s"${Extras10.k32Slices(spark, sf)}/e*.parquet").count()
    assert(rows.length < nInput - dropped,
      "no in-horizon duplicate was ever dropped by state")
  }

  test("chained join→window: the downstream watermark is delayed by " +
      "exactly the interval bound, and a window ending ON the delayed " +
      "watermark emits (inclusive tie)") {
    val t0 = 1700000000000L // % 1000 == 0: aligned to the 1 s window grid
    // lateness 0, within 1 s => delayed wf = min(maxL, maxR) − 1 s
    //                        = (t0+2000) − 1000 = t0+1000
    //  pair A: view t0−1000 / buy t0−900 -> window end t0       (emit)
    //  pair B: view t0      / buy t0+100 -> window end t0+1000  (TIE: emit)
    //  pair C: view t0+1000 / buy t0+1100 -> window end t0+2000 (open)
    val lsrc = writeSlices(Seq(Seq((1L, 10L, t0 - 1000), (2L, 11L, t0),
      (3L, 12L, t0 + 1000), (99L, 13L, t0 + 2000))),
      Seq("user_id", "view_id", "view_ts"))
    val rsrc = writeSlices(Seq(Seq((1L, 100L, t0 - 900), (2L, 101L, t0 + 100),
      (3L, 102L, t0 + 1100), (555L, 103L, t0 + 2000))),
      Seq("buyer_id", "buy_id", "buy_ts"))
    try {
      val joined = StreamOps.intervalJoin(fileStream(lsrc), fileStream(rsrc),
        "user_id", "buyer_id", "view_ts", "buy_ts",
        within = "1 seconds", lateness = "0 seconds")
      val agg = joined
        .groupBy(window(col("view_ts"), "1 second").as("win"))
        .agg(count(lit(1)).as("n"), max(col("buy_id")).as("max_buy"))
        .select(col("win.start").as("win_start"), col("n"), col("max_buy"))
      val got = runToParquet(agg)
        .map(r => (r.getTimestamp(0).getTime - t0, r.getLong(1),
          r.getLong(2)))
        .sortBy(_._1)
      assert(got === Seq((-1000L, 1L, 100L), (0L, 1L, 101L)),
        s"delayed-watermark emission set diverged: $got — if a Spark " +
          "upgrade changes the join's output-watermark delta or the " +
          "window-close comparator, flip the k33 oracle with this probe")
    } finally {
      graft.queries.Shared.deleteTree(lsrc)
      graft.queries.Shared.deleteTree(rsrc)
    }
  }

  test("k33 replay: BOTH stateful operators run in one query, across " +
      "multiple batches, and no pair is ever late at the aggregate") {
    val (res, dataBatches, maxStateOps) =
      Extras10.chainedAttributionReplay(spark, sf)
    assert(dataBatches >= 3,
      s"expected >= 3 data micro-batches, saw $dataBatches")
    assert(maxStateOps == 2,
      s"expected 2 stateOperators entries (join + agg), saw $maxStateOps")
    // cross-check against the certified k20 replay: every emitted
    // window's pair count must equal the inner join's pairs in that
    // (day, cohort) bucket — nothing lost between the operators
    val pairs = Extras6.intervalJoinReplay(spark, sf)._1
      .select((col("view_ts").cast("long") / 86400L).cast("long")
          .as("day"),
        (col("user_id") % 10).as("cohort"))
      .groupBy(col("day"), col("cohort")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val got = res.collect().map(r => ((r.getTimestamp(0).getTime / 1000
      / 86400, r.getLong(1)), r.getLong(2)))
    assert(got.nonEmpty, "chained query emitted no windows")
    got.foreach { case (key, n) =>
      assert(pairs.get(key).contains(n),
        s"window $key count $n != inner join's ${pairs.get(key)}")
    }
  }

  test("right_outer mirror: the preserved (view) side keeps k28's " +
      "INCLUSIVE window-close tie after the side swap") {
    val t0 = 1700000000000L
    // lateness 0 => wf = min(max buy_ts, max view_ts) = t0+1000
    //  view A (1,10,t0): window closes AT wf -> null row (the tie)
    //  view C (3,12,t0+1): closes above wf   -> nothing (live)
    //  view E (4,14,t0): matched by buy 101  -> inner row only
    val bsrc = writeSlices(Seq(Seq((555L, 100L, t0 + 1000),
      (4L, 101L, t0 + 500))), Seq("buyer_id", "buy_id", "buy_ts"))
    val vsrc = writeSlices(Seq(Seq((1L, 10L, t0), (3L, 12L, t0 + 1),
      (999L, 13L, t0 + 1000), (4L, 14L, t0))),
      Seq("user_id", "view_id", "view_ts"))
    try {
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      val got = runToParquet(StreamOps.intervalJoinRightAnchor(
          fileStream(bsrc), fileStream(vsrc),
          "buyer_id", "user_id", "buy_ts", "view_ts",
          within = "1 seconds", lateness = "0 seconds",
          joinType = "right_outer")
        .select(col("user_id"), col("view_id"), col("buy_id")))
        .map(r => (opt(r, 0), opt(r, 1), opt(r, 2)))
        .sortBy(t => (t._1, t._2, t._3))
      assert(got === Seq(
        (Some(1L), Some(10L), None), // THE pin: end == watermark evicts
        (Some(4L), Some(14L), Some(101L))),
        s"mirrored outer-join emission set diverged: $got — if a Spark " +
          "upgrade makes eviction comparators side-dependent, fork the " +
          "k34 oracle off k28's with this probe")
    } finally {
      graft.queries.Shared.deleteTree(bsrc)
      graft.queries.Shared.deleteTree(vsrc)
    }
  }

  test("k34 mirror replay is row-identical to k28 on the fixture " +
      "(same inner pairs, same null-padded views)") {
    val k28 = SparkEntry.queries("k28_interval_join_outer")(spark, sf)
      .collect().toSeq
    val k34 = SparkEntry.queries("k34_interval_join_right")(spark, sf)
      .collect().toSeq
    assert(k34.map(_.toString) === k28.map(_.toString),
      "the argument-swapped right_outer replay diverged from k28")
    assert(k34.exists(_.isNullAt(2)), "fixture produced no null-padded " +
      "views — the outer path went unexercised")
  }

  test("g23's k=10 rows equal the full recompute and extend g21's") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1, t._2))
    val g23 = rows(SparkEntry.queries("g23_reach_sketch_k10")(spark, sf))
    // the full recompute: fused hops join every row at every hop. k=6,
    // as a fused plan holds 2^k copies of hop 1 (k=10 stalls in
    // analysis); the fixture graph stops changing before hop 6, so these
    // dists cover g23's changed-set hops and its stop
    val full = rows(graft.operators.Graph.reachSketch(
      graft.queries.Shared.orderGraphEdges(spark, sf),
      graft.queries.Shared.orderGraphSeeds(spark, sf), k = 6, m = 64,
      checkpoint = false, intRegisters = true))
    assert(full.nonEmpty)
    assert(g23.filter(_._2 <= 6) === full,
      "g23's changed-set hops diverged from the full recompute")
    // past the stop every dist repeats the converged estimate
    val tail = g23.filter(_._2 >= 6).groupBy(_._1).values
      .map(_.map(_._3).distinct)
    assert(tail.forall(_.size == 1), "g23 still changed after hop 6")
    val g21 = rows(SparkEntry.queries("g21_reach_sketch_int")(spark, sf))
    assert(g23.filter(_._2 <= 3) === g21,
      "g23's first three dists diverged from g21's")
    assert(g23.map(_._2).distinct.sorted == (1 to 10).toSeq,
      "missing dist levels in the k=10 profile")
  }

  test("adaptiveStatePartitions clamps between the floor and the " +
      "session conf ceiling") {
    // tiny input → the floor (multi-partition semantics stay exercised)
    assert(StreamOps.adaptiveStatePartitions(spark, 1L) === 4)
    assert(StreamOps.adaptiveStatePartitions(spark, 0L) === 4)
    // huge input → the deployment's spark.sql.shuffle.partitions is the
    // ceiling (production submit-conf behavior unchanged)
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(StreamOps.adaptiveStatePartitions(spark, 100L << 40) === conf)
    // mid-range: ceil(bytes / target), floor/ceiling aside
    assert(StreamOps.adaptiveStatePartitions(spark, (64L << 20) * 3 + 1,
      minPartitions = 1) === math.min(conf, 4))
  }

  test("withStatePartitions pins the streaming query's state-partition " +
      "count from input size and restores the session conf") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val cp = java.nio.file.Files.createTempDirectory("graft-r14-adapt-cp")
    try {
      spark.conf.set(key, "16")
      // a 1-byte "input": the adaptive count must be the floor (4),
      // not the raised session value (16)
      val q = StreamOps.withStatePartitions(spark, 1L) {
        // conf is overridden INSIDE the scope…
        assert(spark.conf.get(key) === "4")
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          spark.sqlContext
        val mem = MemoryStream[(java.sql.Timestamp, String)]
        mem.addData((new java.sql.Timestamp(1700000000000L), "a"),
          (new java.sql.Timestamp(1700000300000L), "b"))
        StreamOps.windowedCounts(mem.toDF().toDF("timestamp", "key"))
          .writeStream.format("noop")
          .option("checkpointLocation", cp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination() finally q.stop()
      // …and restored after — batch queries in the session are untouched
      assert(spark.conf.get(key) === "16")
      // the streaming agg materialized exactly 4 state partitions
      import scala.jdk.CollectionConverters._
      val stateDirs = scala.util.Using.resource(
        java.nio.file.Files.list(cp.resolve("state").resolve("0"))) { st =>
        st.iterator().asScala
          .count(p => p.getFileName.toString.forall(_.isDigit))
      }
      assert(stateDirs === 4,
        s"expected 4 state partitions, found $stateDirs")
    } finally {
      spark.conf.set(key, prev)
      graft.queries.Shared.deleteTree(cp)
    }
  }
}
