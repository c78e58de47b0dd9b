package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{StreamOps, TypedUserEvent}

/** Round-12 additions (VERDICT r11): the HOT-KEY-ONLY salted
  * stream-stream interval join (k26, item 1 — the production shape of
  * the k24 salt discipline: only detected hot keys pay the right-side
  * replication, so right state stays ≈ unsalted instead of ×salts on
  * everything; output-invariant by construction, so k26 certifies
  * against k20's oracle verbatim), and MapState + ListState under the
  * oracle gate (k27 — the two transformWithState cells k23's ValueState
  * left uncovered). Same oracle discipline as [[Extras6]]/[[Extras7]].
  */
object Extras8 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** k27 core: events quartile-sliced IN ORDER (the k23 discipline —
    * TimeMode.None has no watermark, so in-order arrival makes the batch
    * oracle exact), streamed one file per micro-batch into
    * [[graft.streaming.StreamOps.typeCountsTws]] under RocksDB: per user
    * a MapState (type → running count) folded and read back by FULL map
    * iteration each active batch, a ListState journal of per-batch max
    * event ids folded on read into the running max, and a ValueState
    * batch ordinal that identifies the batch without a batch-id column.
    * The DuckDB oracle replays the quartile grain: per (user, active
    * quartile) every type's cumulative count up to that quartile plus
    * the running max event id.
    *
    * Returns (result, dataBatches, rocksDbEngaged) for the spec gates.
    */
  private[graft] def typeCountsReplay(s: SparkSession, dir: String)
      : (DataFrame, Long, Boolean) = {
    import s.implicits._
    val src = Extras6.sliceRoot4(s, dir, "k27-slices", {
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      Extras6.withFidx(ev, late = false)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("fidx"))
    })
    val run = StreamOps.runReplay(s, Seq(src),
        Seq(col("user_id"), col("batch_seq"), col("event_type")),
        rocksDb = true) {
      StreamOps.typeCountsTws(StreamOps.fileReplay(s, src)
          .select(col("user_id").as("userId"), col("event_id").as("eventId"),
            col("event_type").as("eventType"))
          .as[TypedUserEvent])
        .toDF("user_id", "batch_seq", "event_type", "n_cum", "max_eid_cum")
    }
    (run.result, run.dataBatches, run.rocksDbEngaged)
  }

  /** The hot-key set for the k26 replay: a batch pre-scan of the events
    * fixture picks the `topK` most frequent view/purchase user_ids —
    * exactly the detection a production deployment runs (sample the
    * stream / read the state-store distribution, pin the head of the
    * power law as a bind-time parameter). The collect is topK-sized
    * (driver-bounded by construction); ties break on user_id so the set
    * is deterministic per fixture.
    */
  private[graft] def hotUserKeys(s: SparkSession, dir: String,
      topK: Int = 16): Seq[Long] =
    t(s, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(topK)
      .collect().map(_.getLong(0)).toSeq

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Hot-key-only salted stream-stream interval join (VERDICT r11
    // item 1): k20's exact replay routed through
    // [[graft.streaming.StreamOps.intervalJoinSaltedHot]] — only the 16
    // detected hot keys are salted (left per-row, right replicated ×8);
    // every cold key keeps one state row per input row on both sides.
    // Output contract identical to the unsalted join, so this certifies
    // against k20's oracle verbatim; Round12Spec carries the state-row
    // accounting probe (right state ≈ unsalted, max partition share
    // still collapses).
    "k26_interval_join_hot" -> { (s, dir) =>
      Extras6.intervalJoinReplay(s, dir, salts = 8,
        hotKeys = hotUserKeys(s, dir))._1 },

    // MapState + ListState under the oracle gate: per-user per-type
    // running counts in a dynamic map cell, a ListState journal folded
    // on read, and a ValueState batch ordinal — the k23 discipline
    // extended to the API's two remaining typed cells.
    "k27_tws_type_counts" -> { (s, dir) => typeCountsReplay(s, dir)._1 })

  val oracles: Map[String, String] = Map(

    // Hot-key salting is output-invariant by construction (cold×cold
    // matches survive under salt 0, hot×hot under the left row's salt),
    // so k26 must land on the SAME bits as k20/k24 — the oracle is
    // shared by reference, not copy, so the three can never drift.
    "k26_interval_join_hot" -> Extras6.oracles("k20_interval_join"),

    // The quartile grain IS the micro-batch grain (in-order slicing,
    // TimeMode.None — the k23 argument). Per (user, active quartile):
    // the user's batch ordinal (row_number over their active quartiles),
    // every type's cumulative count up to that quartile (MapState
    // iteration), and the running max event id (the ListState journal's
    // fold).
    "k27_tws_type_counts" -> """
      WITH ev AS (SELECT event_id, ts, user_id, event_type FROM events),
      bnds AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        FROM ev),
      f AS (SELECT ev.*,
          ((epoch_us(ts) - mn) * 4) // (mx - mn + 1) AS fidx
        FROM ev, bnds),
      act AS (SELECT user_id, fidx,
          row_number() OVER (PARTITION BY user_id ORDER BY fidx)
            AS batch_seq,
          max(mx_eid) OVER (PARTITION BY user_id ORDER BY fidx
            ROWS UNBOUNDED PRECEDING) AS max_eid_cum
        FROM (SELECT user_id, fidx, max(event_id) AS mx_eid
              FROM f GROUP BY 1, 2)),
      per AS (SELECT user_id, event_type, fidx, count(*) AS n
              FROM f GROUP BY 1, 2, 3)
      SELECT a.user_id, CAST(a.batch_seq AS BIGINT) AS batch_seq,
        p.event_type, CAST(sum(p.n) AS BIGINT) AS n_cum,
        a.max_eid_cum
      FROM act a JOIN per p
        ON p.user_id = a.user_id AND p.fidx <= a.fidx
      GROUP BY a.user_id, a.batch_seq, p.event_type, a.max_eid_cum
      ORDER BY a.user_id, a.batch_seq, p.event_type""")
}
