package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph
import graft.streaming.StreamOps

/** Round-14 additions (VERDICT r13): streaming ingest-dedup under the
  * oracle gate (k32, item 1 — `dropDuplicatesWithinWatermark` with
  * injected cross-batch duplicates: within-horizon drops, post-eviction
  * re-emission, the exact-ms horizon-tie comparator pinned by
  * Round14Spec), CHAINED stateful operators (k33, item 2 — an interval
  * join feeding a windowed aggregation in ONE streaming query, the
  * watermark-propagation semantics between stateful operators), the
  * right_outer mirror of the outer interval join (k34, item 3 — retires
  * the last asserted-not-executed join shape against k28's oracle
  * verbatim), and the k=10 reach sketch whose adaptive systolic
  * activation actually FIRES mid-loop (g23, item 5). Same oracle
  * discipline as [[Extras6]]..[[Extras9]].
  */
object Extras10 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** k32 slices: every event (ms-truncated, IN-ORDER quartiles on its own
    * ts) plus three deterministic duplicate families keyed on event_id —
    * the dedup key — whose arrival batch and shifted event time exercise
    * each path of `dropDuplicatesWithinWatermark`'s state machine under a
    * 24 h horizon on the ~7.5-day quartile grid:
    *  - `% 17` (orig in quartile <= 1): a copy TWO batches later at
    *    ts + 60 h — mixes all three cross-batch outcomes by position in
    *    the quartile (early rows: the copy is watermark-late and drops on
    *    input; middle rows: first-occurrence state evicted, the copy
    *    RE-EMITS; late rows: state still live, the copy dedup-drops);
    *  - `% 13` (and not % 17, quartile <= 2): a copy one batch later at
    *    ts + 1 h — always inside the horizon, always dedup-dropped (the
    *    common at-least-once redelivery);
    *  - `% 23` (and neither of the above): an EXACT copy in the SAME
    *    batch — collapses within the micro-batch (copies are identical,
    *    so emission content is deterministic whichever copy wins).
    */
  private[graft] def k32Slices(s: SparkSession, dir: String)
      : java.nio.file.Path =
    Extras6.sliceRoot4(s, dir, "k32-slices", {
      val ev = t(s, dir, "events").select(col("event_id"),
        date_trunc("millisecond", col("ts")).as("ts"), col("user_id"))
      val base = Extras6.withFidx(ev, late = false)
        .select(col("event_id"), col("ts"), col("user_id"), col("fidx"))
      val d17 = base
        .filter(col("event_id") % 17 === 0 && col("fidx") <= 1)
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 60 HOURS")).as("ts"),
          col("user_id"), (col("fidx") + 2).as("fidx"))
      val d13 = base
        .filter(col("event_id") % 13 === 0 &&
          col("event_id") % 17 =!= 0 && col("fidx") <= 2)
        .select(col("event_id"),
          (col("ts") + expr("INTERVAL 1 HOURS")).as("ts"),
          col("user_id"), (col("fidx") + 1).as("fidx"))
      val d23 = base
        .filter(col("event_id") % 23 === 0 &&
          col("event_id") % 17 =!= 0 && col("event_id") % 13 =!= 0)
      base.unionByName(d17).unionByName(d13).unionByName(d23)
    })

  /** k32 core: the duplicate-injected slices streamed one file per
    * micro-batch into
    * [[graft.streaming.StreamOps.dedupWithinWatermark]] (key = event_id,
    * 24 h horizon). Emission is first-sight append; a duplicate drops
    * iff the key's last-emitted occurrence is still in state, and state
    * for an occurrence at time T evicts once the watermark passes
    * T + 24 h INCLUSIVELY (expiry == watermark evicts — Round14Spec pins
    * the tie, the same comparator family as k28's window close). A
    * dropped duplicate does NOT extend the stored expiry (also pinned).
    * State is one (key, expiry) row per key seen within the horizon —
    * bounded by key churn per horizon regardless of stream volume, the
    * 100 TB ingest-dedup contract.
    *
    * Returns (result, dataBatches, rowsDroppedByWatermark,
    * stateRowsRemoved) so the spec can gate the multi-batch, late-drop
    * and state-GC facts the CORRECTNESS row cannot show.
    */
  private[graft] def streamingDedupReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Long, Long) = {
    val src = k32Slices(s, dir)
    // a re-emitted duplicate shares its key's event_id; ts breaks the
    // tie deterministically (the injected copies shift event time)
    val run = StreamOps.runReplay(s, Seq(src),
        Seq(col("event_id"), col("ts"))) {
      StreamOps.dedupWithinWatermark(StreamOps.fileReplay(s, src),
        Seq("event_id"), timeCol = "ts", lateness = "24 hours")
    }
    (run.result, run.dataBatches, run.droppedByWatermark,
      run.stateRowsRemoved)
  }

  /** k33 core: the k20 replay's interval join feeding a tumbling-window
    * aggregation in the SAME streaming query — Spark 4's
    * multiple-stateful-operator support, where the join DELAYS the
    * watermark for downstream operators by the interval bound: the
    * join's output watermark is W − 48h (a pair can emit with view_ts as
    * old as the watermark minus the interval), so the day-window
    * aggregate over view_ts emits a window only once the DELAYED
    * watermark passes its end — win_end <= wf − 48h at the AvailableNow
    * flush, the inclusive comparator Round14Spec pins on an exact-ms
    * tie. Every joined pair reaches the aggregate on time by
    * construction (a pair surviving to batch m has view_ts >
    * wprev(m) − 48h, strictly above the aggregate's late cutoff), so the
    * oracle is the k20 surviving-pair model grouped by day window with
    * the delayed final-watermark cutoff.
    *
    * Returns (result, dataBatches, maxStateOpsPerBatch) — the last gates
    * that BOTH stateful operators ran in one MicroBatchExecution.
    */
  private[graft] def chainedAttributionReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Int) = {
    val sliceRoot = Extras6.k20SliceRoot(s, dir)
    val left = StreamOps.fileReplay(s, sliceRoot.resolve("l"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val right = StreamOps.fileReplay(s, sliceRoot.resolve("r"))
      .select(col("user_id").as("buyer_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val joined = StreamOps.intervalJoin(left, right,
      "user_id", "buyer_id", "view_ts", "buy_ts",
      within = "48 hours", lateness = "24 hours")
    val run = StreamOps.runReplay(s, Seq(sliceRoot),
        Seq(col("win_start"), col("cohort"))) {
      joined
        .groupBy(window(col("view_ts"), "1 day").as("win"),
          (col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_pairs"), max(col("buy_id")).as("max_buy"))
        .select(col("win.start").as("win_start"), col("cohort"),
          col("n_pairs"), col("max_buy"))
    }
    (run.result, run.dataBatches, run.maxStateOperators)
  }

  /** k34 core: the k20 replay with the SIDES SWAPPED — purchases as the
    * join's left input, views as the right — through
    * [[graft.streaming.StreamOps.intervalJoinRightAnchor]] with
    * `right_outer`, so the VIEW side is preserved exactly as in k28.
    * The preserved side's eviction rule follows its state-watermark
    * derivation, not its join side (the view side's expiry is
    * condition-derived, `view_ts + 48h` vs the watermark, on either
    * side), so the output — inner pairs plus one null-padded row per
    * unmatched window-closed view — must equal k28's row for row, and
    * the oracle IS k28's by reference. Round14Spec pins the mirrored
    * exact-ms tie.
    */
  private[graft] def mirrorOuterReplay(s: SparkSession, dir: String)
      : DataFrame = {
    val sliceRoot = Extras6.k20SliceRoot(s, dir)
    val buys = StreamOps.fileReplay(s, sliceRoot.resolve("r"))
      .select(col("user_id").as("buyer_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val views = StreamOps.fileReplay(s, sliceRoot.resolve("l"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    StreamOps.runReplay(s, Seq(sliceRoot),
        Seq(col("view_id"), col("buy_id"))) {
      StreamOps.intervalJoinRightAnchor(
          buys, views, "buyer_id", "user_id", "buy_ts", "view_ts",
          within = "48 hours", lateness = "24 hours",
          joinType = "right_outer")
        .select(col("user_id"), col("view_id"), col("buy_id"),
          col("view_ts"), col("buy_ts"))
    }.result
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming ingest dedup under the oracle gate (VERDICT r13 item 1):
    // dropDuplicatesWithinWatermark over four micro-batches with injected
    // cross-batch duplicates — the at-least-once redelivery shape the
    // reference's per-message-commit model makes the expected failure
    // mode (kafquack_extension.cpp:199-203).
    "k32_streaming_dedup" -> { (s, dir) => streamingDedupReplay(s, dir)._1 },

    // Chained stateful operators (VERDICT r13 item 2): interval join ->
    // tumbling day-window aggregation in ONE streaming query; the
    // between-operator watermark delay (W − 48h) gates window emission.
    "k33_join_then_window" -> { (s, dir) =>
      chainedAttributionReplay(s, dir)._1 },

    // right_outer mirror of k28 (VERDICT r13 item 3): argument-swapped
    // replay, views preserved from the right side, k28's oracle verbatim.
    "k34_interval_join_right" -> { (s, dir) => mirrorOuterReplay(s, dir) },

    // The k=10 reach sketch (VERDICT r13 item 5): the grain where the
    // changed-set rule pays — the order graph's effective diameter is ~5
    // hops, so the changed set shrinks and empties, and dists past the
    // hop that changed nothing re-read its table. Register values stay
    // bit-identical to propagating every row (min is idempotent); the
    // oracle extends the g20/g21 grid to 10 levels via a bounded
    // recursive BFS. At k = 10 the checkpoint policy cuts every hop at
    // any input size (a fused plan would hold 2^10 copies of hop 1).
    "g23_reach_sketch_k10" -> { (s, dir) =>
      Graph.reachSketch(Shared.orderGraphEdges(s, dir),
        Shared.orderGraphSeeds(s, dir), k = 10, m = 64, intRegisters = true,
        checkpoint = Graph.adaptiveHopCheckpoint(Shared.orderGraphBytes(dir),
          k = 10))
    })

  /** The g20/g21 register-grid oracle generalized to 10 distance levels:
    * min-hop membership from a DuckDB recursive BFS bounded at 10 hops
    * (UNION-dedup on (seed, node, h) keeps the working set
    * V·|seeds|·11-bounded), then the identical per-level min-register
    * grid and the g21 INT-width estimate.
    */
  private val g23Oracle: String = {
    val mins = (1 to 10).map(d =>
      if (d == 10) s"min(hv) AS m$d"
      else s"min(CASE WHEN h <= $d THEN hv END) AS m$d")
      .mkString(",\n          ")
    val sums = (1 to 10).map(d => s"CAST(sum(m$d) AS BIGINT) AS s$d")
      .mkString(",\n          ")
    val lv = (1 to 10).map(d =>
        if (d == 1) s"SELECT seed, 1 AS dist, s1 AS ssum FROM sums"
        else s"SELECT seed, $d, s$d FROM sums")
      .mkString("\n        UNION ALL ")
    s"""
      WITH RECURSIVE cs AS (SELECT o_custkey AS cust,
            l_suppkey + 1000000 AS supp
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT cust AS src, supp AS dst FROM cs
          UNION ALL SELECT supp AS src, cust AS dst FROM cs)),
      seeds AS (SELECT DISTINCT src AS seed FROM e
        WHERE src < 1000000 AND src % 100 = 0),
      rr(seed, node, h) AS (
          SELECT seed, seed, 0 FROM seeds
        UNION
          SELECT rr.seed, e.dst, rr.h + 1
          FROM rr JOIN e ON rr.node = e.src WHERE rr.h < 10),
      memd AS MATERIALIZED (SELECT seed, node, min(h) AS h FROM rr
        GROUP BY seed, node),
      nreg AS MATERIALIZED (SELECT node, j,
          ('0x' || substr(md5(j || ':' || CAST(node AS VARCHAR)), 1, 15))
            ::BIGINT % 2147483648 AS hv
        FROM (SELECT DISTINCT node FROM memd), range(64) t(j)),
      grid AS (SELECT seed, j,
          $mins
        FROM memd JOIN nreg USING (node)
        GROUP BY seed, j),
      sums AS (SELECT seed,
          $sums
        FROM grid GROUP BY seed),
      lv AS ($lv)
      SELECT seed, CAST(dist AS INT) AS dist,
        CAST(floor(CAST(64 * 2147483648 AS DOUBLE) /
          CAST(greatest(ssum, 1) AS DOUBLE) - 1.0 + 0.5) AS BIGINT)
          AS est_reach
      FROM lv ORDER BY seed, dist"""
  }

  val oracles: Map[String, String] = Map(

    // The replay's state machine modeled exactly (comparators pinned by
    // the DedupProbe-turned-Round14Spec ties): wprev(k) = cummax(file
    // maxima over files <= k−2) − 24h (file maxima INCLUDE the injected
    // copies); an original emits iff it passes its arrival batch's late
    // filter (in-order slicing makes originals never late on this
    // fixture, but the model applies the filter anyway); a cross-batch
    // copy emits iff it passes ITS batch's late filter AND the
    // first occurrence either never emitted or its state was evicted —
    // expiry orig_ts + 24h <= wprev(copy batch), the INCLUSIVE tie.
    // Same-batch exact copies collapse to the original's single
    // emission. A dropped copy never extends the stored expiry.
    "k32_streaming_dedup" -> """
      WITH ev AS (SELECT event_id, date_trunc('milliseconds', ts) AS ts,
          user_id FROM events),
      bnds AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        FROM ev),
      base AS (SELECT ev.*,
          ((epoch_us(ts) - mn) * 4) // (mx - mn + 1) AS fidx
        FROM ev, bnds),
      d17 AS (SELECT event_id, ts + INTERVAL 60 HOUR AS ts, user_id,
          fidx + 2 AS fidx
        FROM base WHERE event_id % 17 = 0 AND fidx <= 1),
      d13 AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
          fidx + 1 AS fidx
        FROM base WHERE event_id % 13 = 0 AND event_id % 17 <> 0
          AND fidx <= 2),
      d23 AS (SELECT event_id, ts, user_id, fidx FROM base
        WHERE event_id % 23 = 0 AND event_id % 17 <> 0
          AND event_id % 13 <> 0),
      allr AS (SELECT * FROM base UNION ALL SELECT * FROM d17
        UNION ALL SELECT * FROM d13 UNION ALL SELECT * FROM d23),
      fm AS (SELECT fidx, max(ts) AS mx FROM allr GROUP BY fidx),
      wmk AS (SELECT k AS fidx,
          (SELECT max(mx) FROM fm WHERE fm.fidx <= k - 2)
            - INTERVAL 24 HOUR AS wprev
        FROM range(4) t(k)),
      om AS (SELECT b.*, w.wprev FROM base b JOIN wmk w USING (fidx)),
      orig_em AS (SELECT event_id, ts, user_id FROM om
        WHERE wprev IS NULL OR ts >= wprev),
      dups AS (SELECT * FROM d17 UNION ALL SELECT * FROM d13),
      dup_em AS (SELECT d.event_id, d.ts, d.user_id
        FROM dups d
        JOIN wmk w2 ON w2.fidx = d.fidx
        JOIN om o ON o.event_id = d.event_id
        WHERE (w2.wprev IS NULL OR d.ts >= w2.wprev)
          AND CASE WHEN (o.wprev IS NULL OR o.ts >= o.wprev)
              THEN w2.wprev IS NOT NULL
                AND o.ts + INTERVAL 24 HOUR <= w2.wprev
              ELSE TRUE END)
      SELECT event_id, ts, user_id FROM orig_em
      UNION ALL SELECT * FROM dup_em
      ORDER BY event_id, ts""",

    // The shared k20 surviving-pair model grouped by (day window of
    // view_ts, user cohort), emitted iff the window closed at-or-below
    // the DELAYED final watermark wf − 48h (the join's between-operator
    // watermark delay = the interval bound; inclusive tie pinned by
    // Round14Spec). time_bucket's day grid matches Spark's epoch-aligned
    // tumbling window (the k18/k19 precedent).
    "k33_join_then_window" -> s"""
      WITH ${Extras6.k20CutoffCtes},
      ${Extras6.k20WfinCte},
      win AS (SELECT time_bucket(INTERVAL 1 DAY, view_ts) AS win_start,
          user_id % 10 AS cohort, count(*) AS n_pairs,
          max(buy_id) AS max_buy
        FROM surv GROUP BY 1, 2)
      SELECT win_start, cohort, n_pairs, max_buy
      FROM win, wfin
      WHERE win_start + INTERVAL 24 HOUR <= wf - INTERVAL 48 HOUR
      ORDER BY win_start, cohort""",

    // The mirror preserves the view side exactly as k28 does — shared by
    // REFERENCE (the g22 discipline), so the two can never drift.
    "k34_interval_join_right" -> Extras9.oracles("k28_interval_join_outer"),

    "g23_reach_sketch_k10" -> g23Oracle)
}
