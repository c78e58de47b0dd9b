package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.GraftSession
import org.apache.spark.perfbench.ListenerBridge
import graft.sinks.Sinks
import graft.sources.KafkaSource
import graft.streaming.StreamOps

/** The live consumer: an open loop. A bench-owned generator thread writes
  * one seeded event slice every `sliceMs` into a landing directory, at
  * the rates of a fixed ladder, whatever the engine's pace. Two queries
  * consume the directory as it grows:
  *
  *  - records: `KafkaSource.replay` -> `KafkaSource.withJsonDecoded` ->
  *    `Sinks.parquetSink`, the `kafka_consumer` path; lag is measured here;
  *  - counts: `KafkaSource.replay` -> `StreamOps.windowedCounts` ->
  *    `Sinks.parquetSink`, the stateful path.
  *
  * A slice's lag runs from the time the schedule made it due to the
  * commit of the records micro-batch that read it. Event time advances 30
  * s per slice, so 5-minute windows close within the run.
  *
  * Between stretches of the open loop, a fixed backlog is landed at once
  * and both queries are timed through it: rows per second of drain time
  * is what the engine consumes when it is never waiting for input.
  */
object StreamLive {
  val sliceMs = 50L
  /** Offered rates in rows/s, with the share of the window each gets. The
    * first is the nominal rate the lag metrics describe: it runs in
    * `rounds` equal stretches, each followed by drains, and the higher
    * rates follow the last round. */
  val ladder: Seq[(Int, Double)] = Seq(2000 -> 0.5, 8000 -> 0.1,
    16000 -> 0.1)
  /** Rounds of nominal rate and drains. Spread over the run, they let the
    * medians over rounds and drains pass over a stretch in which other
    * work on the host took the CPU. */
  val rounds = 3
  /** A drain lands `drainSlices` slices of `drainSliceRows` rows at once. */
  val drainSlices = 4
  val drainSliceRows = 12500
  /** Seconds one drain takes on a 4-core host. */
  val nominalDrainS = 1.0

  /** Drains per round: the rest of the window after the ladder over the
    * nominal drain time, spread over the rounds. Like the batch passes,
    * the work is fixed before timing starts. One more drain, untimed, goes
    * before the first round: the first large batch of a run is slower
    * than the next ones, and lag in the first round was higher than in
    * later ones without it. */
  def drainsPerRound(seconds: Double): Int = math.max(1, math.round(
    seconds * (1 - ladder.map(_._2).sum) / nominalDrainS / rounds).toInt)
  /** Lag p95 limit of a sustained rate. */
  val lagLimitS = 5.0
  val eventMsPerSlice: Long = 30L * 1000
  val eventBase = 1704067200000L
  /** Rows of the slice each set-up pushes through both queries. */
  val warmupRows = 200

  /** A landed slice: `rung` indexes the ladder, -1 marks a drain's;
    * `round` is the nominal-rate round, -1 outside one. */
  final case class Slice(name: String, rung: Int, round: Int, rows: Int,
      dueMs: Long, writtenMs: Long)

  def run(ctx: Ctx): Outcome = {
    val out = ctx.out
    val tracer = ctx.tracer
    val root = ctx.workDir.resolve("data")
    val progress = new ProgressLog
    var spark: SparkSession = null
    var queries: Seq[StreamingQuery] = Nil
    var dirs: Dirs = null
    var statePartitions = 0
    var events: Events = null
    val createS = ArrayBuffer.empty[Double]
    val setups = ctx.setups { () =>
      queries.foreach(_.stop())
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span(-1, "setup", "session.create")(_ =>
        GraftSession.create("perfbench", (Report.cores - 1).max(1).toString))
      createS += (System.nanoTime() - t0) / 1e9
      spark.streams.addListener(progress)
      Report.deleteTree(root)
      dirs = Dirs(root)
      events = new Events(ctx.seed, keys = 64, outOfOrder = 0.1,
        poison = 0.02)
      statePartitions = StreamOps.adaptiveStatePartitions(spark,
        StreamOps.pathBytes(dirs.landing))
      // started = both queries have carried a first slice to their sinks
      queries = tracer.span(-1, "setup", "stream.start") { _ =>
        val qs = start(spark, dirs)
        events.slice(dirs.staging, dirs.landing, "slice-warmup.json",
          warmupRows, eventBase - eventMsPerSlice, eventMsPerSlice)
        qs.foreach(_.processAllAvailable())
        qs
      }
    }
    progress.clear()
    val Seq(records, counts) = queries

    // ---- the open loop, in rounds with drains between ----
    val slices = ArrayBuffer.empty[Slice]
    val drainSpans = ArrayBuffer.empty[(Long, Long)]
    val w0 = System.nanoTime()
    val workload = tracer.record(-1, ctx.workload, "workload", w0, w0)

    /** Offer `rate` rows/s for `seconds` from the generator thread, on a
      * schedule that does not wait for the engine, then let both queries
      * consume what was offered. */
    def offer(rate: Int, rung: Int, round: Int, seconds: Double): Unit = {
      val t0Ms = System.currentTimeMillis() + 50
      val k0 = slices.size
      val n = (rate * sliceMs / 1000).toInt
      val gen = new Thread(() =>
        (0 until (seconds * 1000 / sliceMs).toInt).foreach { i =>
          val k = k0 + i
          val due = t0Ms + i * sliceMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val name = f"slice-$k%06d.json"
          val g0 = System.nanoTime()
          events.slice(dirs.staging, dirs.landing, name, n,
            eventBase + k * eventMsPerSlice, eventMsPerSlice)
          tracer.record(workload, name, "gen.slice", g0, System.nanoTime())
          slices += Slice(name, rung, round, n, due,
            System.currentTimeMillis())
        }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      queries.foreach(_.processAllAvailable())
    }

    /** Land a fixed backlog at once and time both queries through it;
      * returns its rows per second. */
    def drain(d: Int): Double = {
      val k0 = slices.size
      val written = (0 until drainSlices).map { i =>
        events.write(dirs.staging, f"drain-$d%02d-$i%03d.json",
          drainSliceRows, eventBase + (k0 + i) * eventMsPerSlice,
          eventMsPerSlice)
      }
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      tracer.span(workload, s"drain#$d", "drain") { _ =>
        written.foreach(events.publish(_, dirs.landing))
        written.foreach(w => slices += Slice(w.getFileName.toString, -1, -1,
          drainSliceRows, startMs, startMs))
        queries.foreach(_.processAllAvailable())
      }
      drainSpans += startMs -> System.currentTimeMillis()
      drainSlices * drainSliceRows / ((System.nanoTime() - t0) / 1e9)
    }

    // untimed: warms the batch path before the first round too
    drain(0)
    val perRound = drainsPerRound(ctx.seconds)
    val drainRates = (0 until rounds).flatMap { r =>
      offer(ladder.head._1, 0, r, ctx.seconds * ladder.head._2 / rounds)
      (1 to perRound).map(i => drain(r * perRound + i))
    }
    ladder.zipWithIndex.tail.foreach { case ((rate, share), rung) =>
      offer(rate, rung, -1, ctx.seconds * share)
    }
    tracer.end(workload)
    queries.foreach(_.stop())
    ListenerBridge.drain(spark.sparkContext)

    // ---- lag per slice ----
    val recProg = progress.of(records.id)
    val commitMs: Map[Long, Long] = recProg.map(p => p.batchId ->
      (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)).toMap
    val batchOf = fileBatches(dirs.checkpoint("records"))
    val lagS: Seq[(Slice, Double)] = slices.toSeq.flatMap { s =>
      batchOf.get(s.name).flatMap(commitMs.get).map(c => s -> (c - s.dueMs) / 1000.0)
    }
    val scheduled = slices.toSeq.filter(_.rung >= 0)
    val rungs = ladder.indices.map { r =>
      val xs = lagS.filter(_._1.rung == r)
      val lags = xs.map(_._2)
      val q = xs.size / 4
      // a growing backlog shows as lag rising through the rung
      val growing = Report.median(lags.takeRight(q)) >
        Report.median(lags.take(q)) + 1.0
      // the rate achieved: rows over the time spent writing each stretch
      val stretches = xs.map(_._1).groupBy(_.round).values
      val rate = stretches.map(_.map(_.rows).sum).sum / stretches.map(w =>
        (w.last.writtenMs - w.head.writtenMs + sliceMs) / 1000.0).sum
      (ladder(r)._1, rate, Report.quantile(lags, 0.5), Report.quantile(lags, 0.95),
        growing)
    }
    val nominal = lagS.filter(_._1.rung == 0).map(_._2)
    val byRound = (0 until rounds).map(r =>
      lagS.filter(_._1.round == r).map(_._2))
    /** A lag quantile of each nominal-rate round, and their median. */
    def overRounds(q: Double): (Double, Seq[Double]) = {
      val each = byRound.map(Report.quantile(_, q))
      (Report.median(each), each)
    }
    val (lagP50, lagP50s) = overRounds(0.5)
    val (lagP90, lagP90s) = overRounds(0.9)
    val (lagP95, lagP95s) = overRounds(0.95)

    // ---- correctness ----
    var failed = 0L
    def check(what: String, ok: Boolean): Unit = if (!ok) {
      System.err.println(s"[perfbench] stream-live: $what"); failed += 1 }
    val unread = slices.filterNot(s => batchOf.contains(s.name))
    check(s"${unread.size} slices never read by the records query",
      unread.isEmpty)
    val sink = spark.read.parquet(dirs.sink("records").toString)
    val decodeError = col("error").startsWith("json decode error")
    val broken = col("value").isNull === col("error").isNull
    val r = sink.agg(count(lit(1)), countDistinct(col("offset")),
      min(col("offset")), max(col("offset")),
      count(when(decodeError, 1)), count(when(broken, 1)),
      count(when(broken && !decodeError, 1))).head()
    val Seq(nRows, nDistinct, lo, hi, decodeErrors, xorBroken, xorOther) =
      (0 until 7).map(i => if (r.isNullAt(i)) -1L else r.getLong(i))
    check(s"sink holds $nRows rows, $nDistinct distinct offsets in [$lo, $hi]," +
      s" not each of 0..${events.rows - 1} once", nRows == events.rows &&
      nDistinct == events.rows && lo == 0L && hi == events.rows - 1)
    check(s"decode errors $decodeErrors != poison rows ${events.poisonRows}",
      decodeErrors == events.poisonRows)
    // withJsonDecoded keeps the raw payload on the rows it fails to decode,
    // so those rows alone break the invariant; they are counted below as
    // sink.xor_violation_rows. Any other breach fails the run.
    check(s"$xorOther sink rows other than decode errors break " +
      "value IS NULL XOR error IS NULL", xorOther == 0)
    val countProg = progress.of(counts.id)
    val watermark = countProg.lastOption
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)
    val emitted = spark.read.parquet(dirs.sink("counts").toString)
    val expected = StreamOps.windowedCounts(KafkaSource.replay(
        Events.batch(spark, dirs.landing), "live"))
      .filter(col("bucket") + expr("INTERVAL 5 MINUTES") <=
        timestamp_millis(lit(watermark)))
    val diff = emitted.exceptAll(expected).count() +
      expected.exceptAll(emitted).count()
    check(s"$diff window counts differ from the batch recomputation " +
      s"(watermark $watermark)", diff == 0 && watermark > 0)
    val dropped = countProg.flatMap(_.stateOperators.map(
      _.numRowsDroppedByWatermark)).sum
    check(s"$dropped rows dropped as late", dropped == 0)
    val attempted = slices.size + recProg.size + countProg.size + 5
    out.add("sink.xor_violation_rows", xorBroken.toDouble, "count", 1)

    // ---- metrics ----
    val (topRate, topMeasured, _, _, _) = rungs.filter { case (_, _, _, p95, g) =>
      p95 <= lagLimitS && !g }.lastOption.getOrElse((0, 0.0, 0.0, 0.0, false))
    out.add(Report.Metric("setup_s", Report.median(setups), "s", setups.size,
      Map("samples" -> setups)))
    out.add(Report.Metric("lag_p50_s", lagP50, "s", nominal.size, Map(
      "what" -> "median over rounds of each round's median lag",
      "rounds" -> lagP50s, "p25" -> Report.quantile(nominal, 0.25),
      "p75" -> Report.quantile(nominal, 0.75), "samples" -> nominal)))
    out.add(Report.Metric("lag_p95_s", lagP95, "s", nominal.size,
      Map("rounds" -> lagP95s)))
    out.add(Report.Metric("latency_p50_s", lagP50, "s", nominal.size,
      Map("same_as" -> "lag_p50_s")))
    out.add(Report.Metric("latency_p90_s", lagP90, "s", nominal.size, Map(
      "what" -> "median over rounds of each round's lag p90",
      "rounds" -> lagP90s)))
    val rungDetail = rungs.map { case (r, m, p50, p95, g) => Map(
      "offered" -> r, "measured" -> m, "lag_p50_s" -> p50, "lag_p95_s" -> p95,
      "backlog_growing" -> g) }
    out.add(Report.Metric("sustained_rows_s", topMeasured, "rows/s",
      rungs.size, Map("rate" -> topRate, "rungs" -> rungDetail)))
    out.add(Report.Metric("drain_rows_s", Report.median(drainRates),
      "rows/s", drainRates.size, Map("p25" -> Report.quantile(drainRates, 0.25),
        "p75" -> Report.quantile(drainRates, 0.75),
        "rows" -> drainSlices * drainSliceRows, "samples" -> drainRates)))
    out.add(Report.Metric("throughput_per_s", Report.median(drainRates), "1/s",
      drainRates.size, Map("same_as" -> "drain_rows_s")))

    if (tracer.enabled) {
      out.timing("session.create_s", createS.toSeq)
      (recProg ++ countProg).foreach(p => StreamTrace.record(tracer, workload, p))
      layerMetrics(out, recProg, countProg, statePartitions)
      out.add("source.decode_error_rows", decodeErrors.toDouble, "count", 1)
      // a drain is a backlog by design: its batches are left out
      val open = recProg.filterNot { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        drainSpans.exists { case (a, b) => at >= a && at <= b }
      }
      out.add("source.backlog_rows_p95", backlogP95(recProg, open,
        slices.toSeq), "count", open.size)
      out.add("gen.rows", events.rows.toDouble, "count", slices.size)
      out.add("gen.poison_rows", events.poisonRows.toDouble, "count",
        slices.size)
      val lateP95 = Report.quantile(
        scheduled.map(s => (s.writtenMs - s.dueMs).toDouble), 0.95)
      out.add("gen.late_ms_p95", lateP95, "ms", scheduled.size)
      sinkMetrics(out, dirs.sink("records"), nRows, recProg)
    }
    spark.stop()
    Outcome(attempted, failed)
  }

  final case class Dirs(root: Path) {
    val landing: Path = Files.createDirectories(root.resolve("landing"))
    val staging: Path = Files.createDirectories(root.resolve("staging"))
    def sink(q: String): Path = root.resolve(s"sink-$q")
    def checkpoint(q: String): Path = root.resolve(s"checkpoint-$q")
  }

  private def start(spark: SparkSession, d: Dirs): Seq[StreamingQuery] = {
    val trig = Trigger.ProcessingTime(0L)
    StreamOps.withStatePartitions(spark, StreamOps.pathBytes(d.landing)) {
      val recs = KafkaSource.withJsonDecoded(
        KafkaSource.replay(Events.stream(spark, d.landing), "live"),
        Events.payloadSchema)
      val counts = StreamOps.windowedCounts(
        KafkaSource.replay(Events.stream(spark, d.landing), "live"))
      Seq(Sinks.parquetSink(recs, d.sink("records").toString,
          d.checkpoint("records").toString, trig),
        Sinks.parquetSink(counts, d.sink("counts").toString,
          d.checkpoint("counts").toString, trig))
    }
  }

  /** File name -> the micro-batch that read it, from the file source's
    * offset log in the checkpoint (plain and compacted entries). */
  private def fileBatches(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1))
        .filter(_.trim.nonEmpty)
        .map { l =>
          val n = Report.mapper.readTree(l)
          new java.io.File(new java.net.URI(n.get("path").asText).getPath)
            .getName -> n.get("batchId").asLong
        }.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    }
  }

  /** Rows due at the generator but not yet read, at the start of each
    * batch of `counted`. */
  private def backlogP95(prog: Seq[StreamingQueryProgress],
      counted: Seq[StreamingQueryProgress], slices: Seq[Slice]): Double = {
    val keep = counted.map(_.batchId).toSet
    var consumed = 0L
    val backlog = prog.flatMap { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val due = slices.filter(_.dueMs <= at).map(_.rows.toLong).sum
      val b = math.max(0L, due - consumed).toDouble
      consumed += p.numInputRows
      if (keep(p.batchId)) Some(b) else None
    }
    if (backlog.isEmpty) 0.0 else Report.quantile(backlog, 0.95)
  }

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Report.median(xs)

  /** Source, lifecycle and state-store metrics from micro-batch progress. */
  private def layerMetrics(out: Report.Out, source: Seq[StreamingQueryProgress],
      stateful: Seq[StreamingQueryProgress], partitions: Int): Unit = {
    def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
      ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    val data = source.filter(_.numInputRows > 0)
    out.add("source.rows", source.map(_.numInputRows).sum.toDouble, "count",
      source.size)
    out.add("source.latest_offset_ms_p50", p50(dur(data, "latestOffset")),
      "ms", data.size)
    out.add("source.get_batch_ms_p50", p50(dur(data, "getBatch")), "ms",
      data.size)
    out.add("stream.batches", data.size.toDouble, "count", data.size)
    out.add("stream.rows_per_batch_p50",
      p50(data.map(_.numInputRows.toDouble)), "count", data.size)
    Seq("trigger" -> "triggerExecution", "query_planning" -> "queryPlanning",
      "add_batch" -> "addBatch", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets").foreach { case (n, k) =>
      out.add(s"stream.${n}_ms_p50", p50(dur(data, k)), "ms", data.size)
    }
    val ops = stateful.flatMap(_.stateOperators.headOption)
    out.add("state.partitions", partitions.toDouble, "count", 1)
    out.add("state.rows", ops.lastOption.fold(0.0)(_.numRowsTotal.toDouble),
      "count", ops.size)
    out.add("state.memory_bytes",
      if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes.toDouble).max,
      "bytes", ops.size)
    out.add("state.commit_ms_p50", p50(ops.map(_.commitTimeMs.toDouble)), "ms",
      ops.size)
    out.add("state.rows_dropped_late",
      stateful.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        .toDouble, "count", ops.size)
  }

  /** Files, bytes and rows a file sink committed. The file sink reports
    * no output rows in its progress, so `rows` is read back from it. */
  private def sinkMetrics(out: Report.Out, sink: Path, rows: Long,
      prog: Seq[StreamingQueryProgress]): Unit = {
    val files = scala.util.Using.resource(Files.list(sink)) { st =>
      st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq
    }
    out.add("sink.files", files.size.toDouble, "count", prog.size)
    out.add("sink.bytes", files.map(Files.size).sum.toDouble, "bytes",
      prog.size)
    out.add("sink.rows", rows.toDouble, "count", prog.size)
  }
}
