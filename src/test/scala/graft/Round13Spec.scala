package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.{Extras6, Extras8, Extras9}
import graft.streaming.StreamOps

/** Round-13 gates (VERDICT r12): the LEFT OUTER interval join's
  * null-emission semantics (inner-subset identity with k20, null rows
  * only for watermark-closed windows, and the eviction comparator pinned
  * on an exact-ms tie), update-mode aggregation's emission-set
  * discipline, the k26 hot-set DRIFT probe (a wrong hot set degrades
  * state/skew but never output), the string-keyed hot-salt variant's
  * parity, and g22's changed-set propagation value-invariance.
  */
class Round13Spec extends SparkSpec {

  /** Dual-source file-replay harness for the outer-join boundary probe:
    * left slices become (user_id, view_id, view_ts) micro-batches, right
    * slices (buyer_id, buy_id, buy_ts) — one file per trigger each, the
    * k20 discipline — joined LEFT OUTER with the given bound and
    * lateness, AvailableNow (whose no-data batches flush eviction at the
    * final watermark). Returns (user_id, view_id, Option(buy_id)) rows.
    */
  private def runOuterReplay(
      lSlices: Seq[Seq[(Long, Long, Long)]],
      rSlices: Seq[Seq[(Long, Long, Long)]],
      within: String, lateness: String,
      joinType: String = "left_outer")
      : Seq[(Option[Long], Option[Long], Option[Long])] = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-r13-src")
    val lsrc = java.nio.file.Files.createDirectory(root.resolve("l"))
    val rsrc = java.nio.file.Files.createDirectory(root.resolve("r"))
    val out = java.nio.file.Files.createTempDirectory("graft-r13-out")
    val cp = java.nio.file.Files.createTempDirectory("graft-r13-cp")
    try {
      val pin = System.currentTimeMillis() - 3600000L
      def writeSlices(dst: java.nio.file.Path,
          slices: Seq[Seq[(Long, Long, Long)]], cols: Seq[String]): Unit =
        slices.zipWithIndex.foreach { case (rows, k) =>
          val tmp = java.nio.file.Files.createTempDirectory("graft-r13-sl")
          try {
            rows.map { case (u, e, ms) =>
              (u, e, new java.sql.Timestamp(ms))
            }.toDF(cols: _*)
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            Extras6.pinSlice(tmp, dst, k, pin)
          } finally graft.queries.Shared.deleteTree(tmp)
        }
      writeSlices(lsrc, lSlices, Seq("user_id", "view_id", "view_ts"))
      writeSlices(rsrc, rSlices, Seq("buyer_id", "buy_id", "buy_ts"))
      def fileStream(src: java.nio.file.Path) = {
        val glob = s"$src/e*.parquet"
        spark.readStream.schema(spark.read.parquet(glob).schema)
          .option("maxFilesPerTrigger", 1).parquet(glob)
      }
      val q = StreamOps.intervalJoin(fileStream(lsrc), fileStream(rsrc),
          "user_id", "buyer_id", "view_ts", "buy_ts",
          within = within, lateness = lateness, joinType = joinType)
        .select(col("user_id"), col("view_id"), col("buy_id"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      spark.read.parquet(out.toString).collect()
        .map(r => (opt(r, 0), opt(r, 1), opt(r, 2))).toSeq
        .sortBy(t => (t._1, t._2, t._3))
    } finally {
      graft.queries.Shared.deleteTree(root)
      graft.queries.Shared.deleteTree(out)
      graft.queries.Shared.deleteTree(cp)
    }
  }

  test("outer interval join: null rows emit at eviction, a window " +
      "closing EXACTLY on the final watermark emits (the <= the k28 " +
      "oracle models), live windows emit nothing, matched rows never " +
      "null-pad") {
    val t0 = 1700000000000L
    // lateness 0 => final watermark = min(max view_ts, max buy_ts).
    // Right max == left max == t0 + 1000, so wf = t0 + 1000 exactly.
    //  A (user 1): window [t0, t0+1000) closes AT wf  -> null row (the tie)
    //  B (user 2): closes at t0+999 < wf              -> null row
    //  C (user 3): closes at t0+1001 > wf             -> still live, nothing
    //  D (user 999, the watermark setter): closes t0+2000 > wf -> nothing
    //  E (user 4): matched by buy 101 inside its window -> inner row only
    val got = runOuterReplay(
      lSlices = Seq(Seq(
        (1L, 10L, t0), (2L, 11L, t0 - 1), (3L, 12L, t0 + 1),
        (999L, 13L, t0 + 1000), (4L, 14L, t0))),
      rSlices = Seq(Seq((555L, 100L, t0 + 1000), (4L, 101L, t0 + 500))),
      within = "1 seconds", lateness = "0 seconds")
    assert(got === Seq(
      (Some(1L), Some(10L), None), // THE pin: end == watermark evicts+emits
      (Some(2L), Some(11L), None),
      (Some(4L), Some(14L), Some(101L))),
      s"outer-join emission set diverged: $got")
  }

  test("full outer interval join: the two sides' eviction comparators " +
      "differ on the exact tie — a LEFT window closing ON the final " +
      "watermark null-pads (<=), a RIGHT row sitting ON it does not (<)") {
    val t0 = 1700000000000L
    // watermark delay 0; left max t0+1000 (user 999), right max t0+1000
    // (buyer 555) => wf = t0+1000 exactly.
    //  left A (1): window closes AT wf            -> null-padded (<=)
    //  left C (3): closes above wf                -> nothing (live)
    //  right R1 (556, buy 102) at wf              -> NOTHING (survives: >=)
    //  right R2 (557, buy 103) at wf-1, unmatched -> null-padded (<)
    //  E (4) matched pair                         -> inner row only
    val got = runOuterReplay(
      lSlices = Seq(Seq(
        (1L, 10L, t0), (3L, 12L, t0 + 1), (999L, 13L, t0 + 1000),
        (4L, 14L, t0))),
      rSlices = Seq(Seq(
        (555L, 100L, t0 + 1000), (556L, 102L, t0 + 1000),
        (557L, 103L, t0 + 999), (4L, 101L, t0 + 500))),
      within = "1 seconds", lateness = "0 seconds",
      joinType = "full_outer")
    // NOTE: buyer 555/556's rows sit exactly ON wf and must NOT null-pad;
    // 557's strictly-below row must. The left side keeps k28's inclusive
    // rule. If a Spark upgrade flips either comparator, flip the k30
    // oracle's unmatched_l/unmatched_r bounds together with this probe.
    assert(got === Seq(
      (None, None, Some(103L)),          // right-strict: wf-1 evicts
      (Some(1L), Some(10L), None),       // left-inclusive: tie evicts
      (Some(4L), Some(14L), Some(101L))),
      s"full-outer emission set diverged: $got")
  }

  test("k28 replay: inner subset is row-identical to k20's, null rows " +
      "only for views with a closed window and no surviving match") {
    val k20 = Extras6.intervalJoinReplay(spark, sf)._1.collect().toSeq
    val k28 = Extras9.defs("k28_interval_join_outer")(spark, sf)
      .collect().toSeq
    val (inner, nulls) = k28.partition(!_.isNullAt(2))
    assert(inner === k20,
      "outer join's matched rows diverged from the inner join's output")
    assert(nulls.nonEmpty, "fixture produced no unmatched views")
    // final watermark from the fixture the oracle's way: min of the two
    // sides' ms-truncated maxima − 24 h (late re-slicing never changes a
    // global max)
    val ev = Tables.load(spark, sf, "events")
      .select(date_trunc("millisecond", col("ts")).as("ts"),
        col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
    val mx = ev.groupBy(col("event_type")).agg(max(col("ts")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    val wfMs = math.min(mx("view").getTime, mx("purchase").getTime) -
      24L * 3600 * 1000
    val matchedViews = k20.map(_.getLong(1)).toSet
    nulls.foreach { r =>
      assert(!matchedViews.contains(r.getLong(1)),
        s"null row for a matched view: $r")
      assert(r.isNullAt(4), s"null buy_id but non-null buy_ts: $r")
      assert(r.getTimestamp(3).getTime + 48L * 3600 * 1000 <= wfMs,
        s"null row for a window still open at the final watermark: $r")
    }
    // and completeness' contrapositive on the view side: every view in
    // the outer output exactly once per match, once if unmatched — no
    // view both matched and null-padded (checked above), none duplicated
    val nullViews = nulls.map(_.getLong(1))
    assert(nullViews.distinct.size == nullViews.size,
      "duplicate null-padded rows for one view")
  }

  test("k31 semi replay == DISTINCT left rows of k20's inner output " +
      "(each converting view exactly once, however many purchases hit)") {
    val k20 = Extras6.intervalJoinReplay(spark, sf)._1.collect().toSeq
    val k31 = SparkEntry.queries("k31_interval_join_semi")(spark, sf)
      .collect().toSeq
    val wantViews = k20.map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(3).getTime))
      .distinct.sorted
    val gotViews = k31.map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).sorted
    assert(gotViews === wantViews,
      "semi emission set != distinct matched views of the inner join")
    assert(k31.map(_.getLong(1)).distinct.size == k31.size,
      "a view was semi-emitted more than once")
    assert(k31.nonEmpty && k31.size < k20.size,
      "fixture degenerate: no view had multiple purchases in-window")
  }

  test("k29 update-mode aggregation: >=3 data batches, a key re-emits " +
      "across the batches it appears in — and ONLY those") {
    val (res, dataBatches, updateBatches) =
      Extras9.updateAggReplay(spark, sf)
    assert(dataBatches >= 3,
      s"expected >= 3 data micro-batches, saw $dataBatches")
    assert(updateBatches >= 3,
      s"expected >= 3 batches writing updates, saw $updateBatches")
    val rows = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val allBatches = rows.map(_._2).distinct.sorted
    assert(allBatches.size >= 3)
    val byUser = rows.groupBy(_._1)
    // the update-mode point: some key is emitted in MULTIPLE batches,
    // with its cumulative count strictly increasing
    val multi = byUser.filter(_._2.size > 1)
    assert(multi.nonEmpty, "no user re-emitted across batches")
    multi.foreach { case (u, us) =>
      val ns = us.sortBy(_._2).map(_._3)
      assert(ns == ns.sorted && ns.distinct == ns,
        s"cumulative count not strictly increasing for user $u: $us")
    }
    // the emission-SET point, exactly: a user's row appears for batch k
    // iff the user has input rows in slice k — computed from the slice
    // files themselves, so the assertion holds whether or not the
    // fixture happens to make anyone sparse (at sf0.001 every user is
    // in every quartile; the synthetic probe below covers sparseness)
    val src = graft.queries.Extras7.k23Slices(spark, sf)
    val expected = (0 to 3).flatMap { k =>
      spark.read.parquet(s"$src/e$k.parquet")
        .select(col("user_id")).distinct()
        .collect().map(r => (r.getLong(0), k.toLong))
    }.toSet
    assert(rows.map(t => (t._1, t._2)).toSet === expected,
      "emission set != the per-batch touched-key sets")
  }

  test("k29 emission-set sparseness: a key NOT touched in a batch does " +
      "not re-emit (synthetic 3-batch run)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val agg = mem.toDF().toDF("user_id", "value")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_cum"))
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[Long])]
    val cp = java.nio.file.Files.createTempDirectory("graft-r13k29-cp")
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        val us = batch.collect().map(_.getLong(0)).toSet
        seen.synchronized { seen += ((id, us)) }; ()
      }
      .option("checkpointLocation", cp.toString)
      .start()
    try {
      mem.addData((1L, 1.0), (2L, 1.0)); q.processAllAvailable()
      mem.addData((1L, 2.0)); q.processAllAvailable()
      mem.addData((2L, 3.0), (3L, 1.0)); q.processAllAvailable()
    } finally {
      q.stop()
      graft.queries.Shared.deleteTree(cp)
    }
    val byBatch = seen.synchronized { seen.toSeq }.filter(_._2.nonEmpty)
      .sortBy(_._1).map(_._2)
    assert(byBatch === Seq(Set(1L, 2L), Set(1L), Set(2L, 3L)),
      s"update mode re-emitted untouched keys (or dropped touched " +
        s"ones): $byBatch")
  }

  test("k26 hot-set DRIFT: a deliberately WRONG hot set leaves the " +
      "replay output identical to k20's (staleness degrades efficiency, " +
      "never correctness)") {
    // the maximally-stale hot set: 16 keys ABSENT from the stream
    // entirely (the "cooled hot key" limit — at sf0.001 every real key
    // is inside the true top-16, so absent keys are the only
    // non-overlapping wrong set this fixture can express)
    val maxUser = Tables.load(spark, sf, "events")
      .agg(max(col("user_id"))).collect()(0).getLong(0)
    val coldest = (maxUser + 1 to maxUser + 16).toSeq
    val right = Extras8.hotUserKeys(spark, sf)
    assert(coldest.toSet.intersect(right.toSet).isEmpty,
      "probe fixture degenerate: wrong set overlaps the true head")
    val k20 = Extras6.intervalJoinReplay(spark, sf)._1.collect().toSeq
    val wrong = Extras6.intervalJoinReplay(spark, sf, salts = 8,
      hotKeys = coldest)._1.collect().toSeq
    assert(wrong === k20,
      "a stale hot set changed the join output — invariance broken")
  }

  test("k26 hot-set DRIFT accounting: with a wrong hot set the skew " +
      "collapse disappears and state returns to the unsalted shape") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // the Round12Spec skew fixture: 80% of left rows on user 1, right
    // mostly cold
    def keyL(i: Long): Long = if (i % 10 < 8) 1L else 1000L + i
    def keyR(i: Long): Long = if (i % 20 == 0) 1L else 1000L + (i * 10 + 8)
    val leftRows = (0L until 2000L).map(i => (keyL(i), i,
      new java.sql.Timestamp(t0 + i * 1000L)))
    val rightRows = (0L until 200L).map(i => (keyR(i), 100000L + i,
      new java.sql.Timestamp(t0 + i * 70000L)))
    def run(hotKeys: Option[Seq[Long]])
        : (Set[(Long, Long, Long)], Map[Int, Long], Long) = {
      val cp = java.nio.file.Files.createTempDirectory("graft-r13d-cp")
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val left = mem.toDF().toDF("user_id", "view_id", "view_ts")
      val memR = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val right = memR.toDF().toDF("buyer_id", "buy_id", "buy_ts")
      val j = (hotKeys match {
        case None => StreamOps.intervalJoin(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts",
          within = "2 hours", lateness = "1 hour")
        case Some(hk) => StreamOps.intervalJoinSaltedHot(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts", hotKeys = hk,
          within = "2 hours", lateness = "1 hour", salts = 32)
      }).select(col("user_id"), col("view_id"), col("buy_id"))
      val name = s"drift_${System.nanoTime()}"
      val q = j.writeStream.outputMode("append")
        .option("checkpointLocation", cp.toString)
        .format("memory").queryName(name).start()
      try {
        mem.addData(leftRows: _*)
        memR.addData(rightRows: _*)
        q.processAllAvailable()
      } finally q.stop()
      val outSet = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      def state(side: String) = spark.read.format("statestore")
        .option("path", cp.toString).option("joinSide", side).load()
      val leftSpread = state("left")
        .groupBy(col("partition_id")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rightN = state("right").count()
      graft.queries.Shared.deleteTree(cp)
      (outSet, leftSpread, rightN)
    }
    def maxShare(m: Map[Int, Long]): Double =
      m.values.max.toDouble / m.values.sum
    val (outU, spreadU, rStateU) = run(None)
    val (outRight, spreadRight, _) = run(Some(Seq(1L)))
    // a WRONG hot set: keys that never occur in either stream
    val (outWrong, spreadWrong, rStateWrong) =
      run(Some((900000L to 900015L).toSeq))
    assert(outRight === outU && outWrong === outU,
      "salting with any hot set changed the output")
    // the RIGHT set collapses the hot partition's share…
    assert(maxShare(spreadRight) < maxShare(spreadU) / 2,
      s"right hot set failed to spread: ${maxShare(spreadRight)} vs " +
        s"${maxShare(spreadU)}")
    // …the WRONG set leaves the skew where the unsalted join has it
    // (every row salts to 0) and replicates nothing on the right
    info(s"maxShare unsalted=${maxShare(spreadU)} " +
      s"right=${maxShare(spreadRight)} wrong=${maxShare(spreadWrong)}; " +
      s"right-state unsalted=$rStateU wrong=$rStateWrong")
    assert(maxShare(spreadWrong) > maxShare(spreadU) * 0.8,
      "wrong hot set unexpectedly spread the hot key")
    assert(rStateWrong === rStateU,
      s"wrong hot set replicated right rows: $rStateWrong vs $rStateU")
  }

  test("g22 delta propagation is value-identical to full propagation, " +
      "including after the changed set empties (converged graph)") {
    import spark.implicits._
    // path graph 1->2->3->4: ball(1) keeps growing through hop 3, ball(4)
    // converges at hop 0 — hop 3's changed set is tiny, and node 4's
    // row never re-enters the join
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L, 4L).toDF("seed")
    // k=5 exceeds the path's diameter, so the changed set EMPTIES at
    // hop 4 and hop 5 re-reads hop 4's table — the run must still emit
    // all 5 dists with the stable registers. The rows are those of
    // propagating every node's registers at every hop (recorded from
    // that kernel).
    val full = Seq((1L, 1, 1L), (1L, 2, 3L), (1L, 3, 5L), (1L, 4, 5L),
      (1L, 5, 5L), (2L, 1, 2L), (2L, 2, 4L), (2L, 3, 4L), (2L, 4, 4L),
      (2L, 5, 4L), (3L, 1, 3L), (3L, 2, 3L), (3L, 3, 3L), (3L, 4, 3L),
      (3L, 5, 3L), (4L, 1, 1L), (4L, 2, 1L), (4L, 3, 1L), (4L, 4, 1L),
      (4L, 5, 1L))
    def run(checkpoint: Boolean) =
      graft.operators.Graph.reachSketch(
        edges, seeds, k = 5, m = 8, checkpoint = checkpoint,
        intRegisters = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val dl = run(checkpoint = true)
    assert(dl === full, "delta propagation changed register values")
    assert(run(checkpoint = false) === full,
      "the fused (uncheckpointed) hops changed register values")
    assert(dl.map(_._2).distinct.sorted == Seq(1, 2, 3, 4, 5),
      s"missing dists after convergence: $dl")
    // node 4 has no out-edges, so its ball is itself at every dist
    val n4 = dl.filter(_._1 == 4L).map(_._3)
    assert(n4.distinct.size == 1, s"converged node drifted: $n4")
  }

  test("g22 on the fixture is bit-identical to g21 (shared-oracle " +
      "invariance holds end-to-end, not just in the toy)") {
    // g22 is g21's call, fused at this input size; its hops take the
    // changed-set rule with per-hop checkpoints (above 1 GiB of input),
    // so run that form here against g21's fused rows
    val g21 = SparkEntry.queries("g21_reach_sketch_int")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val g22 = graft.operators.Graph.reachSketch(
        graft.queries.Shared.orderGraphEdges(spark, sf),
        graft.queries.Shared.orderGraphSeeds(spark, sf), k = 3, m = 64,
        checkpoint = true, intRegisters = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(g22 === g21)
    assert(g21.nonEmpty)
  }
}
