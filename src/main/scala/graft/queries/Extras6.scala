package graft.queries

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Graph
import graft.streaming.StreamOps

/** Round-10 additions: the two remaining spec-only streaming operators
  * brought under the CORRECTNESS gate (stream-stream interval join k20,
  * session windows k21 — VERDICT r9 items 1 and 3), the exactly-once
  * idempotent-sink demonstration (k22, item 4), and the sketch-based
  * reach profile that replaces the suite's only superlinear shared
  * artifact (g20, item 2). Same oracle discipline as [[Extras5]].
  *
  * Streaming-oracle semantics carried over from k19
  * ([[KafkaParity.multiBatchReplay]]): files replay one micro-batch each
  * (strictly increasing mtimes pin FileStreamSource's order), the
  * watermark during batch k is computed from data through batch k−1, and
  * the LATE-INPUT filter of batch k uses the PREVIOUS batch's watermark
  * (SPARK-40925) — so the late-filter cutoff for file k is
  * cummax(file max event time over files <= k−2) − lateness. Event times
  * are ms-truncated at the source because the watermark itself is
  * tracked in epoch-MILLIS (EventTimeStats), keeping both engines on the
  * same grid.
  */
object Extras6 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dec2 = DecimalType(18, 2)

  /** Quartile index 0..3 in exact BIGINT arithmetic on epoch-micros (the
    * k19 expression, bit-reproducible in DuckDB), with rows whose
    * event_id % 19 == 0 optionally shipped two files later — genuinely
    * late arrivals once the watermark has advanced past their quartile.
    */
  private[graft] def withFidx(df: DataFrame, late: Boolean): DataFrame = {
    // NTZ→LTZ cast is value-preserving under the UTC session; k22 passes
    // the raw NTZ fixture column, k20/k21 an already-LTZ ms truncation.
    val b = df.agg(min(unix_micros(col("ts").cast("timestamp"))).as("mn"),
      max(unix_micros(col("ts").cast("timestamp"))).as("mx"))
    val quart =
      "((unix_micros(cast(ts as timestamp)) - mn) * 4) div (mx - mn + 1)"
    df.crossJoin(broadcast(b)).withColumn("fidx",
      if (late)
        expr(s"CASE WHEN event_id % 19 = 0 THEN least($quart + 2, 3) " +
          s"ELSE $quart END")
      else expr(quart))
  }

  /** Moves the one parquet part file under `partDir` to
    * `dst/e{k}.parquet` with mtime `baseMs + k*10s` — FileStreamSource
    * orders by modification time, so the batch sequence is the file
    * sequence (the k19 discipline). Fails loudly if a slice is missing:
    * an absent file would silently misalign the two-source batch pairing.
    */
  private[graft] def pinSlice(partDir: Path, dst: Path, k: Int,
      baseMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    require(Files.isDirectory(partDir), s"missing replay slice $partDir")
    val part = scala.util.Using.resource(Files.list(partDir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }.headOption.getOrElse(sys.error(s"no parquet part under $partDir"))
    val dest = dst.resolve(s"e$k.parquet")
    Files.move(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(baseMs + k * 10000L))
  }

  /** The eight k20-family replay slices (2 sides × 4 quartiles), built
    * ONCE per (session, fixture dir) via [[Shared.memoDir]] and shared by
    * k20/k24/k26 and every same-session re-run (VERDICT r11 item 4) —
    * the slice files are deterministic read-only inputs; per-run state
    * lives in each run's own out/cp dirs. The pinned mtimes that order
    * the file-stream replay ride along with the cached files.
    */
  private[graft] def k20SliceRoot(s: SparkSession, dir: String)
      : java.nio.file.Path =
    Shared.memoDir(s, dir, "k20-slices") { root =>
      val lsrc = Files.createDirectory(root.resolve("l"))
      val rsrc = Files.createDirectory(root.resolve("r"))
      // ms-truncated LTZ event time: the watermark's native grid (see
      // the object scaladoc); NTZ→LTZ is value-preserving under UTC.
      val ev = t(s, dir, "events").select(col("event_id"),
        date_trunc("millisecond", col("ts")).as("ts"),
        col("user_id"), col("event_type"))
        .filter(col("event_type").isin("view", "purchase"))
      val sliced = withFidx(ev, late = true)
        .select(col("event_id"), col("ts"), col("user_id"),
          when(col("event_type") === "view", "l").otherwise("r")
            .as("side"),
          col("fidx"))
      val baseMs = System.currentTimeMillis() - 3600000L
      // ONE scan writes all eight slices (2 sides × 4 quartiles).
      val tmp = Files.createTempDirectory("graft-k20-slices-build")
      try {
        sliced.repartition(8, col("side"), col("fidx"))
          .write.mode("overwrite").partitionBy("side", "fidx")
          .parquet(tmp.toString)
        (0 to 3).foreach { k =>
          pinSlice(tmp.resolve(s"side=l/fidx=$k"), lsrc, k, baseMs)
          pinSlice(tmp.resolve(s"side=r/fidx=$k"), rsrc, k, baseMs)
        }
      } finally Shared.deleteTree(tmp)
    }

  /** A 4-file quartile slice dir (e0..e3, pinned mtimes), built once per
    * (session, fixture dir, key) via [[Shared.memoDir]] and shared across
    * every same-session replay/bench pass — the single-stream twin of
    * [[k20SliceRoot]]. `sliced` must carry a `fidx` column (usually from
    * [[withFidx]]); contents are deterministic per fixture, so reuse is
    * sound.
    */
  private[graft] def sliceRoot4(s: SparkSession, dir: String, key: String,
      sliced: => DataFrame): java.nio.file.Path =
    Shared.memoDir(s, dir, key) { root =>
      val baseMs = System.currentTimeMillis() - 3600000L
      val tmp = Files.createTempDirectory(s"graft-$key-build")
      try {
        sliced.repartition(4, col("fidx"))
          .write.mode("overwrite").partitionBy("fidx").parquet(tmp.toString)
        (0 to 3).foreach(k => pinSlice(tmp.resolve(s"fidx=$k"), root, k, baseMs))
      } finally Shared.deleteTree(tmp)
    }

  /** k20 core: the events stream split by type into a `view` stream and a
    * `purchase` stream, each quartile-sliced into 4 files (every 19th
    * event two batches late), joined stream-to-stream on user_id with the
    * event-time bound `view_ts <= buy_ts < view_ts + 48h` under 24h
    * watermarks on BOTH sides ([[graft.streaming.StreamOps.intervalJoin]])
    * through MicroBatchExecution. Dual watermarks make BOTH join states
    * GC-able: left rows evict once the (min-of-both-sides) watermark
    * passes view_ts + 48h, right rows once it passes buy_ts — the
    * condition's time range is what bounds unbounded-stream state.
    *
    * Returns (result, dataBatches, rowsDroppedByWatermark,
    * stateRowsRemoved) so the spec can assert the multi-batch, late-drop
    * and state-GC facts the CORRECTNESS row alone cannot show.
    */
  private[graft] def intervalJoinReplay(s: SparkSession, dir: String,
      salts: Int = 0, hotKeys: Seq[Long] = Nil,
      joinType: String = "inner"): (DataFrame, Long, Long, Long) = {
    val sliceRoot = k20SliceRoot(s, dir)
    val left = StreamOps.fileReplay(s, sliceRoot.resolve("l"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val right = StreamOps.fileReplay(s, sliceRoot.resolve("r"))
      .select(col("user_id").as("buyer_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    // salts > 0 routes through the skew-hardened twin (k24): identical
    // output contract, state keys split across `salts` partitions.
    // hotKeys non-empty routes through the hot-key-only twin (k26):
    // same output contract again, but only the listed keys are salted.
    val j = (if (hotKeys.nonEmpty)
        StreamOps.intervalJoinSaltedHot(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts", hotKeys,
          within = "48 hours", lateness = "24 hours",
          salts = math.max(salts, 1))
      else if (salts > 0)
        StreamOps.intervalJoinSalted(left, right,
          "user_id", "buyer_id", "view_ts", "buy_ts",
          within = "48 hours", lateness = "24 hours", salts = salts)
      else StreamOps.intervalJoin(left, right,
        "user_id", "buyer_id", "view_ts", "buy_ts",
        within = "48 hours", lateness = "24 hours",
        joinType = joinType))
      // a semi join emits only the left side's columns
      .select((if (joinType == "left_semi")
          Seq(col("user_id"), col("view_id"), col("view_ts"))
        else Seq(col("user_id"), col("view_id"), col("buy_id"),
          col("view_ts"), col("buy_ts"))): _*)
    val run = StreamOps.runReplay(s, Seq(sliceRoot),
      col("view_id") +: (if (joinType == "left_semi") Nil
        else Seq(col("buy_id"))))(j)
    (run.result, run.dataBatches, run.droppedByWatermark,
      run.stateRowsRemoved)
  }

  /** k21 core: all events quartile-sliced IN ORDER (no late injection —
    * in-order arrival means an emitted session can never be re-opened,
    * which is what makes the batch gaps-and-islands oracle exact; k19/k20
    * already certify the late-drop discipline), streamed one file per
    * micro-batch into [[graft.streaming.StreamOps.sessionCounts]]: per-user
    * session windows with a 12h gap under a 1h watermark. Sessions that
    * straddle a quartile boundary are MERGED ACROSS MICRO-BATCHES in the
    * session-window state store; append mode emits a session once the
    * watermark passes its end, and the AvailableNow no-data flush emits
    * everything below the final watermark — the batch oracle applies the
    * same `session_end <= final watermark` cutoff.
    *
    * Returns (result, dataBatches, stateRowsRemoved).
    */
  private[graft] def sessionReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val src = sliceRoot4(s, dir, "k21-slices", {
      val ev = t(s, dir, "events").select(col("event_id"),
        date_trunc("millisecond", col("ts")).as("ts"), col("user_id"))
      withFidx(ev, late = false)
        .select(col("ts"), col("user_id"), col("fidx"))
    })
    val run = StreamOps.runReplay(s, Seq(src),
        Seq(col("user_id"), col("session_start"))) {
      StreamOps.sessionCounts(StreamOps.fileReplay(s, src),
        keyCol = "user_id", timeCol = "ts", gap = "12 hours",
        lateness = "1 hour")
    }
    (run.result, run.dataBatches, run.stateRowsRemoved)
  }

  /** k22 core: exactly-once delivery to an idempotent sink DEMONSTRATED,
    * not just documented (SURVEY §1.4's claimed upgrade over the
    * reference's commit-before-consumption, kafquack_extension
    * .cpp:199-203). The events replay streams one file per micro-batch
    * into a foreachBatch sink that writes each batch to its OWN
    * batchId-keyed parquet directory in overwrite mode — the idempotence
    * contract. The FIRST run is killed by an injected failure AFTER batch
    * 2's data is fully written but BEFORE its offsets commit (exactly the
    * window where a non-idempotent sink double-writes); the restart
    * replays batch 2 from the checkpoint — the SAME offsets, the file
    * source's exactly-once planning contract — overwrites the same
    * directory, and finishes the stream. The reconciliation result (per
    * type: row count, distinct-id count, exact value sum) must equal the
    * plain batch aggregation: zero duplicates, zero loss.
    *
    * Returns (reconciliation, firstRunCrashed, batchDirs).
    */
  private[graft] def idempotentSinkReplay(s: SparkSession, dir: String)
      : (DataFrame, Boolean, Int) = {
    val out = Files.createTempDirectory("graft-k22-out")
    val cp = Files.createTempDirectory("graft-k22-cp")
    try {
      val src = sliceRoot4(s, dir, "k22-slices", {
        val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"))
        withFidx(ev, late = false).drop("mn", "mx")
      })
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val marker = "graft-k22-injected-crash"
      def runOnce(): Boolean = {
        val q = graft.sinks.Sinks.foreachBatchSink(
            StreamOps.fileReplay(s, src), cp.toString) { (batch, batchId) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
          // Fail AFTER the write, BEFORE the offset commit — the
          // window where at-least-once delivery duplicates.
          if (batchId == 2 && crashed.compareAndSet(false, true))
            throw new RuntimeException(marker)
        }
        try { q.awaitTermination(); false }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
              if Option(e.getMessage).exists(_.contains(marker)) ||
                Option(e.getCause).exists(c =>
                  Option(c.getMessage).exists(_.contains(marker))) =>
            true
        } finally q.stop()
      }
      val firstCrashed = runOnce()
      require(firstCrashed, "k22: the injected mid-run crash did not fire")
      val secondCrashed = runOnce() // restart from the checkpoint
      require(!secondCrashed, "k22: restart crashed unexpectedly")
      import scala.jdk.CollectionConverters._
      val batchDirs = scala.util.Using.resource(Files.list(out)) { st =>
        st.iterator().asScala
          .count(_.getFileName.toString.startsWith("batch_id=")) }
      val res = s.read.parquet(out.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("value").cast(dec2)).cast("double").as("sum_value"))
        .orderBy(col("event_type")).localCheckpoint()
      (res, firstCrashed, batchDirs)
    } finally {
      Shared.deleteTree(out); Shared.deleteTree(cp)
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Stream-stream interval join under the oracle gate (VERDICT r9
    // item 1): purchases within 48h after a view by the same user,
    // replayed as TWO 4-file streams — the watermark advances across
    // four micro-batches, late rows are dropped on input on both sides,
    // and both join states are GC'd as the dual watermark passes their
    // bounds. The DuckDB oracle replays the same per-batch cutoff
    // sequence (see `oracles`).
    "k20_interval_join" -> { (s, dir) => intervalJoinReplay(s, dir)._1 },

    // Streaming session windows under the oracle gate (VERDICT r9
    // item 3): per-user 12h-gap sessions merged ACROSS micro-batches in
    // the session-window state store, emitted in append mode as the
    // watermark closes them.
    "k21_streaming_sessions" -> { (s, dir) => sessionReplay(s, dir)._1 },

    // Exactly-once-to-idempotent-sink, demonstrated via a mid-run crash
    // + checkpoint restart (VERDICT r9 item 4): the reconciliation
    // aggregate over the batchId-keyed sink must equal the plain batch
    // aggregation — zero duplicates, zero loss.
    "k22_exactly_once_sink" -> { (s, dir) => idempotentSinkReplay(s, dir)._1 },

    // Sketch-based reach profile (VERDICT r9 item 2): the HyperANF-style
    // register-propagation twin of the exact 3-hop BFS (g07/g08/g18's
    // shared khop3 artifact, the suite's only ~SF^1.9 path). O(E·m) per
    // hop, state V·m longs, no frontier anywhere; with per-hop
    // checkpoints only rows that changed at the previous hop enter a
    // hop's edge join (the bitset BFS's changed-set rule). The oracle
    // builds the IDENTICAL register grid from the exact ball
    // membership, so the estimate strict-certifies.
    // Calibration vs the exact counts is gated in Round10Spec.
    "g20_reach_sketch" -> { (s, dir) =>
      // per-hop checkpoints follow input size (adaptiveHopCheckpoint
      // scaladoc: cut 4.9 s vs fused 2.1 s at sf0.1, same 2.7× at sf1;
      // multi-GB graphs keep the constant-lineage checkpoints)
      Graph.reachSketch(Shared.orderGraphEdges(s, dir),
        Shared.orderGraphSeeds(s, dir), k = 3, m = 64,
        checkpoint = Graph.adaptiveHopCheckpoint(Shared.orderGraphBytes(dir),
          k = 3))
    })

  /** The k20-family cutoff model as a shared DuckDB CTE prefix (ADVICE
    * r13: it previously existed as four ~50-line copies across
    * k20/k28/k30/k31 that could silently drift from the certified model
    * — the r10 correction changed it once; now it exists ONCE and every
    * family oracle interpolates it). Semantics — the same per-batch
    * cutoff discipline k19 pinned (SPARK-40925: batch k's late filters
    * use the PREVIOUS batch's watermark = the value eviction last
    * applied; wprev(k) = cummax(file maxima over files <= k−2) −
    * lateness), extended to the join's DUAL watermark: the global
    * watermark is the MIN of the two sides' cummax file maxima − 24h.
    * For a pair arriving at batches (bl, br) with m = max(bl, br), the
    * `surv` CTE applies three conditions — established empirically
    * against the run (the uncorrected model missed exactly 5 pairs at
    * sf0.01, all with a late-arriving left row):
    *  1. the left row passes the PLAIN event-time late filter at its own
    *     arrival batch: view_ts >= wprev(bl) — the join drops watermark-
    *     late input rows outright, even when the left STATE watermark
    *     (W − 48h, condition-adjusted) would still have kept them;
    *  2. the left row survives state eviction until the pair completes:
    *     view_ts + 48h > wprev(m) (left state evicts once no future
    *     purchase can land inside [view_ts, view_ts + 48h));
    *  3. the right row passes its late filter and survives until m:
    *     buy_ts >= wprev(m) (the right state watermark carries no delta:
    *     from buy_ts >= view_ts, a purchase below the watermark can
    *     never match a future view) — this subsumes its own-batch filter
    *     since wprev is monotone and br <= m.
    */
  private[graft] val k20CutoffCtes: String = """
      ev AS (SELECT event_id, date_trunc('milliseconds', ts) AS ts,
          user_id, event_type FROM events
        WHERE event_type IN ('view', 'purchase')),
      bnds AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        FROM ev),
      f AS (SELECT ev.*,
          CASE WHEN event_id % 19 = 0
            THEN least(((epoch_us(ts) - mn) * 4) // (mx - mn + 1) + 2, 3)
            ELSE ((epoch_us(ts) - mn) * 4) // (mx - mn + 1)
          END AS fidx
        FROM ev, bnds),
      l AS (SELECT user_id, event_id AS view_id, ts AS view_ts, fidx
        FROM f WHERE event_type = 'view'),
      r AS (SELECT user_id, event_id AS buy_id, ts AS buy_ts, fidx
        FROM f WHERE event_type = 'purchase'),
      lm AS (SELECT fidx, max(view_ts) AS mx FROM l GROUP BY fidx),
      rm AS (SELECT fidx, max(buy_ts) AS mx FROM r GROUP BY fidx),
      wmk AS (SELECT k AS fidx,
          least((SELECT max(mx) FROM lm WHERE lm.fidx <= k - 2),
                (SELECT max(mx) FROM rm WHERE rm.fidx <= k - 2))
            - INTERVAL 24 HOUR AS wprev
        FROM range(4) t(k)),
      pairs AS (SELECT l.user_id, l.view_id, r.buy_id, l.view_ts, r.buy_ts,
          l.fidx AS bl, greatest(l.fidx, r.fidx) AS m
        FROM l JOIN r ON l.user_id = r.user_id
          AND r.buy_ts >= l.view_ts
          AND r.buy_ts < l.view_ts + INTERVAL 48 HOUR),
      surv AS (SELECT user_id, view_id, buy_id, view_ts, buy_ts
        FROM pairs
          JOIN wmk wm ON wm.fidx = pairs.m
          JOIN wmk wb ON wb.fidx = pairs.bl
        WHERE (wb.wprev IS NULL OR view_ts >= wb.wprev)
          AND (wm.wprev IS NULL
               OR (view_ts + INTERVAL 48 HOUR > wm.wprev
                   AND buy_ts >= wm.wprev)))"""

  /** The replay's FINAL watermark (the AvailableNow no-data batch's value
    * — min of the two sides' overall maxima − 24h lateness): the eviction
    * cutoff the outer/chained family applies on top of [[k20CutoffCtes]].
    */
  private[graft] val k20WfinCte: String = """
      wfin AS (SELECT least((SELECT max(mx) FROM lm),
                            (SELECT max(mx) FROM rm))
            - INTERVAL 24 HOUR AS wf)"""

  val oracles: Map[String, String] = Map(

    // The shared cutoff model's surviving-pair set IS the inner join's
    // output: an inner join emits every match immediately, so there is
    // no final-watermark cutoff on the output. (Model semantics: the
    // [[k20CutoffCtes]] scaladoc.)
    "k20_interval_join" -> s"""
      WITH $k20CutoffCtes
      SELECT user_id, view_id, buy_id, view_ts, buy_ts
      FROM surv
      ORDER BY view_id, buy_id""",

    // Batch gaps-and-islands sessionization (q17's certified shape, 12h
    // gap) with the streaming emission cutoff: append mode emits a
    // session once the final watermark (max event time − 1h) passes its
    // end = last event + gap. In-order replay means no row is ever
    // late-dropped and no emitted session is ever re-opened (every
    // future event starts >= lateness past the watermark that emitted
    // it, and the 12h gap exceeds that bound's slack), so the batch
    // sessionization over ALL rows is exact.
    "k21_streaming_sessions" -> """
      WITH ev AS (SELECT user_id, date_trunc('milliseconds', ts) AS ts
        FROM events),
      wf AS (SELECT max(ts) - INTERVAL 1 HOUR AS wfinal FROM ev),
      s AS (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 IS NULL
               OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 + INTERVAL 12 HOUR
          THEN 1 ELSE 0 END AS brk
        FROM ev),
      g AS (SELECT user_id, ts,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM s),
      sess AS (SELECT user_id, min(ts) AS session_start,
          max(ts) + INTERVAL 12 HOUR AS session_end, count(*) AS n
        FROM g GROUP BY user_id, sid)
      SELECT user_id, session_start, session_end, n
      FROM sess, wf WHERE session_end <= wfinal
      ORDER BY user_id, session_start""",

    // Exactly-once reconciliation: the idempotent sink's content must
    // equal the plain batch aggregation of the source — any duplicate
    // (the crash window re-delivering batch 2) or loss (a skipped batch)
    // breaks n_rows, n_ids or sum_value.
    "k22_exactly_once_sink" -> """
      SELECT event_type, count(*) AS n_rows,
        count(DISTINCT event_id) AS n_ids,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""",

    // The IDENTICAL register grid built from the exact ball membership
    // (the g18 BFS chain), then the same min-of-uniforms estimate:
    // register j of ball(seed, d) is the min of
    // md5-hash(j || ':' || node) % 2^40 over members, and
    // est = m·2^40 / Σ registers − 1, half-up — every step integer or one
    // IEEE division, so the sketch strict-certifies (the t37 discipline).
    // Shape discipline: dist-3 members enter as the raw f2⋈e multiset
    // reduced to min-hop per (seed, node) BEFORE the ×64 register
    // expansion, and each distinct node is md5-hashed ONCE per register
    // (min() is idempotent, so the dedup loses nothing) — expanding the
    // raw multiset by 64 first meant ~3e9 md5 calls at sf0.1.
    "g20_reach_sketch" -> """
      WITH cs AS (SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT cust AS src, supp AS dst FROM cs
          UNION ALL SELECT supp AS src, cust AS dst FROM cs)),
      seeds AS (SELECT DISTINCT src AS seed FROM e
        WHERE src < 1000000 AND src % 100 = 0),
      v0 AS (SELECT seed, seed AS node FROM seeds),
      f1 AS MATERIALIZED (SELECT DISTINCT s.seed, e.dst AS node
          FROM v0 s JOIN e ON s.node = e.src
        EXCEPT SELECT * FROM v0),
      v1 AS MATERIALIZED (SELECT * FROM v0 UNION SELECT * FROM f1),
      f2 AS MATERIALIZED (SELECT DISTINCT s.seed, e.dst AS node
          FROM f1 s JOIN e ON s.node = e.src
        EXCEPT SELECT * FROM v1),
      memd AS MATERIALIZED (SELECT seed, node, min(h) AS h FROM (
          SELECT seed, node, 1 AS h FROM v0
          UNION ALL SELECT seed, node, 1 FROM f1
          UNION ALL SELECT seed, node, 2 FROM f2
          UNION ALL SELECT s.seed, e.dst AS node, 3 AS h
            FROM f2 s JOIN e ON s.node = e.src)
        GROUP BY seed, node),
      nreg AS MATERIALIZED (SELECT node, j,
          ('0x' || substr(md5(j || ':' || CAST(node AS VARCHAR)), 1, 15))
            ::BIGINT % 1099511627776 AS hv
        FROM (SELECT DISTINCT node FROM memd), range(64) t(j)),
      grid AS (SELECT seed, j,
          min(CASE WHEN h <= 1 THEN hv END) AS m1,
          min(CASE WHEN h <= 2 THEN hv END) AS m2,
          min(hv) AS m3
        FROM memd JOIN nreg USING (node)
        GROUP BY seed, j),
      sums AS (SELECT seed, CAST(sum(m1) AS BIGINT) AS s1,
          CAST(sum(m2) AS BIGINT) AS s2, CAST(sum(m3) AS BIGINT) AS s3
        FROM grid GROUP BY seed),
      lv AS (SELECT seed, 1 AS dist, s1 AS ssum FROM sums
        UNION ALL SELECT seed, 2, s2 FROM sums
        UNION ALL SELECT seed, 3, s3 FROM sums)
      SELECT seed, CAST(dist AS INT) AS dist,
        CAST(floor(CAST(64 * 1099511627776 AS DOUBLE) /
          CAST(greatest(ssum, 1) AS DOUBLE) - 1.0 + 0.5) AS BIGINT)
          AS est_reach
      FROM lv ORDER BY seed, dist""")
}
