package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph
import graft.streaming.{StreamOps, UserEvent, UserTimedEvent}

/** Round-11 additions (VERDICT r10): the INT-register twin of the g20
  * reach sketch (g21, item 2 — the documented lever against the sf3
  * single-box shuffle-byte cliff) and the transformWithState promotion
  * (k23, item 4 — Spark 4's arbitrary-state API moved from the spec
  * surface to an oracle-gated multi-batch streaming run under RocksDB).
  * Same oracle discipline as [[Extras6]].
  */
object Extras7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The k23 replay's 4-file quartile slicing of the events table
    * (user_id, event_id, epoch-micros event time, value — IN ORDER, no
    * late injection), memoized per (session, dir) via
    * [[Extras6.sliceRoot4]] and shared with k29's update-mode replay:
    * both certify per-(user, batch) cumulative stats over the SAME batch
    * grain, so sharing the slices keeps their oracles on one grid and
    * builds the artifact once.
    */
  private[graft] def k23Slices(s: SparkSession, dir: String)
      : java.nio.file.Path =
    Extras6.sliceRoot4(s, dir, "k23-slices", {
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("value"))
      Extras6.withFidx(ev, late = false)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"), col("fidx"))
    })

  /** k23 core: the events table quartile-sliced IN ORDER (the k21
    * discipline — transformWithState with TimeMode.None has no watermark,
    * so in-order arrival is what makes the batch-window oracle exact),
    * streamed one file per micro-batch into
    * [[graft.streaming.StreamOps.userStatsTws]] under the RocksDB state
    * store provider (transformWithState's required provider, scoped
    * set/restore). Each micro-batch emits every active user's cumulative
    * (count, exact DECIMAL(18,2) value sum, max event-time micros) AFTER
    * folding the batch — state carried ACROSS batches in a typed
    * ValueState cell, which is exactly what the oracle's running window
    * over the quartile grain certifies.
    *
    * Returns (result, dataBatches, rocksDbEngaged) so the spec can assert
    * the multi-batch and provider facts the CORRECTNESS row cannot show.
    */
  private[graft] def twsStatsReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Boolean) = {
    import s.implicits._
    val src = k23Slices(s, dir)
    val run = StreamOps.runReplay(s, Seq(src),
        Seq(col("user_id"), col("n_cum")), rocksDb = true) {
      StreamOps.userStatsTws(StreamOps.fileReplay(s, src)
          .select(col("user_id").as("userId"), col("event_id").as("eventId"),
            col("ts_us").as("tsUs"), col("value"))
          .as[UserEvent])
        .toDF("user_id", "n_cum", "sum_cum_dec", "last_ts_us")
        .select(col("user_id"), col("n_cum"),
          col("sum_cum_dec").cast("double").as("sum_cum"),
          col("last_ts_us"))
    }
    (run.result, run.dataBatches, run.rocksDbEngaged)
  }

  /** k25 core: event-time TIMERS through transformWithState (the last
    * sub-surface of the arbitrary-state API after k23's state cells and
    * Round11Spec's TTL): ms-truncated events quartile-sliced IN ORDER,
    * per user ONE timer registered at first_ts + 48 h on first sight;
    * the engine fires it through handleExpiredTimer once the watermark
    * (max event time − 1 h) passes. The emission is (user, first + 48 h)
    * regardless of WHICH batch fires the timer — firing-order
    * independence is what makes the batch oracle exact: alert set =
    * {user : first_ms + 48 h <= final watermark}, with AvailableNow's
    * no-data flush firing everything below the final watermark (the k21
    * flush discipline, on timers instead of the session store).
    *
    * Returns (result, dataBatches, rocksDbEngaged).
    */
  private[graft] def twsTimerReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Boolean) = {
    import s.implicits._
    val src = Extras6.sliceRoot4(s, dir, "k25-slices", {
      // ms-truncated LTZ event time — the watermark's native grid
      val ev = t(s, dir, "events").select(col("event_id"),
        date_trunc("millisecond", col("ts")).as("ts"), col("user_id"))
      Extras6.withFidx(ev, late = false)
        .select(col("user_id"), col("event_id"), col("ts"), col("fidx"))
    })
    val run = StreamOps.runReplay(s, Seq(src), Seq(col("user_id")),
        rocksDb = true) {
      StreamOps.firstSeenAlerts(StreamOps.fileReplay(s, src)
          .select(col("user_id").as("userId"), col("event_id").as("eventId"),
            col("ts"))
          .withWatermark("ts", "1 hour")
          .as[UserTimedEvent])
        .toDF("user_id", "alert_ts_ms")
    }
    (run.result, run.dataBatches, run.rocksDbEngaged)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // INT-register reach sketch (VERDICT r10 item 2): g20's grid with
    // registers over H = 2^31 stored as INT columns — the per-hop
    // shuffle bytes halve, which is the lever against the sf3 single-box
    // page-cache cliff. Same seeds, same m, same estimator; the oracle
    // builds the identical 2^31 grid from the exact ball membership.
    "g21_reach_sketch_int" -> { (s, dir) =>
      // per-hop checkpoints follow input size — see g20 / the
      // adaptiveHopCheckpoint scaladoc (3.37 s cut vs 2.14 s fused at
      // sf0.1, same shape at sf1)
      Graph.reachSketch(Shared.orderGraphEdges(s, dir),
        Shared.orderGraphSeeds(s, dir), k = 3, m = 64, intRegisters = true,
        checkpoint = Graph.adaptiveHopCheckpoint(Shared.orderGraphBytes(dir),
          k = 3))
    },

    // transformWithState under the oracle gate (VERDICT r10 item 4):
    // per-user cumulative (count, exact value sum, max event time)
    // carried across four in-order micro-batches in a typed ValueState
    // under RocksDB, emitted once per (user, batch). The DuckDB oracle
    // replays the quartile grain with a running window.
    "k23_tws_user_stats" -> { (s, dir) => twsStatsReplay(s, dir)._1 },

    // Skew-hardened stream-stream interval join (VERDICT r10 item 3):
    // k20's exact replay routed through
    // [[graft.streaming.StreamOps.intervalJoinSalted]] — state keys
    // split across 8 salts, right side replicated. The output contract
    // is IDENTICAL to the unsalted join (each match survives under
    // exactly one salt), so this certifies against k20's oracle
    // verbatim; Round11Spec carries the Zipf skew probe showing WHY the
    // salted twin exists (per-partition state-row spread).
    "k24_interval_join_salted" -> { (s, dir) =>
      Extras6.intervalJoinReplay(s, dir, salts = 8)._1 },

    // Event-time timers through transformWithState (the API's last
    // sub-surface): one timer per user at first_ts + 48 h, fired by the
    // watermark, emission independent of firing batch — so the batch
    // oracle is a plain group-by with the final-watermark cutoff.
    "k25_tws_timers" -> { (s, dir) => twsTimerReplay(s, dir)._1 })

  val oracles: Map[String, String] = Map(

    // The g20 grid verbatim with H = 2^31 (the hash keeps its 60-bit md5
    // prefix; only the modulus narrows) and est = m·2^31/Σ − 1.
    "g21_reach_sketch_int" -> """
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
            ::BIGINT % 2147483648 AS hv
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
        CAST(floor(CAST(64 * 2147483648 AS DOUBLE) /
          CAST(greatest(ssum, 1) AS DOUBLE) - 1.0 + 0.5) AS BIGINT)
          AS est_reach
      FROM lv ORDER BY seed, dist""",

    // The quartile grain IS the micro-batch grain (in-order slicing, no
    // late rows, no watermark in TimeMode.None), so the processor's
    // per-batch cumulative emission equals a running window over
    // per-(user, quartile) partials. Value sums are DECIMAL(18,2)-exact
    // on both engines before the final double cast.
    "k23_tws_user_stats" -> """
      WITH ev AS (SELECT event_id, ts, user_id, value FROM events),
      bnds AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        FROM ev),
      f AS (SELECT ev.*,
          ((epoch_us(ts) - mn) * 4) // (mx - mn + 1) AS fidx
        FROM ev, bnds),
      per AS (SELECT user_id, fidx, count(*) AS n,
          sum(CAST(value AS DECIMAL(18,2))) AS sv,
          max(epoch_us(ts)) AS mxus
        FROM f GROUP BY 1, 2)
      SELECT user_id,
        CAST(sum(n) OVER w AS BIGINT) AS n_cum,
        CAST(CAST(sum(sv) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS sum_cum,
        CAST(max(mxus) OVER w AS BIGINT) AS last_ts_us
      FROM per
      WINDOW w AS (PARTITION BY user_id ORDER BY fidx
        ROWS UNBOUNDED PRECEDING)
      ORDER BY user_id, n_cum""",

    // Salting is output-invariant by construction, so the skew-hardened
    // join must land on the SAME bits as the unsalted one — k20's oracle
    // verbatim (shared by reference, not copy, so they cannot drift).
    "k24_interval_join_salted" -> Extras6.oracles("k20_interval_join"),

    // Timer alert set: every user whose (ms-floored) first event + 48 h
    // is at or below the final watermark (max ms-floored event time −
    // 1 h). The boundary comparison is CERTIFIED inclusive, not assumed
    // fixture-safe (ADVICE r11): Round12Spec's boundary probe constructs
    // the exact ms tie (timer expiry == final watermark) and pins that
    // the engine fires it — matching this <=. In-order replay means
    // first-per-batch == global first (and the processor now min-merges
    // out-of-order arrivals anyway).
    "k25_tws_timers" -> """
      WITH ev AS (SELECT user_id,
          epoch_us(date_trunc('milliseconds', ts)) // 1000 AS ms
        FROM events),
      wf AS (SELECT max(ms) - 3600000 AS wfinal FROM ev),
      firsts AS (SELECT user_id, min(ms) AS first_ms FROM ev GROUP BY 1)
      SELECT user_id, first_ms + 172800000 AS alert_ts_ms
      FROM firsts, wf
      WHERE first_ms + 172800000 <= wfinal
      ORDER BY user_id""")
}
