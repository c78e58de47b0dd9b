package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.SQLExecution

import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.Shared
import org.apache.spark.perfbench.ListenerBridge

/** The batch workload: one client issues a fixed query set in a closed
  * loop, in an order the seed draws afresh for every pass, after the
  * session-shared artifacts the queries read are built in set-up.
  *
  * Each timed query is built, analyzed, optimized, planned and executed by
  * the bench's own calls into `SparkEntry` and Catalyst's
  * `QueryExecution`, and its result is delivered in full: the executed
  * plan's rows are all pulled to the end (the work a noop-sink write
  * does), so the optimizer cannot prune the projections and sorts that a
  * `count()` would let it drop.
  */
object Batch {

  /** One query per family that runs a codegen kernel (minhash signatures,
    * dot products, BPE encoding, payload hashing), between them reading
    * every session-shared artifact: the pair index (g19), the khop3
    * profile and the order-graph edges (g18) and the BPE merges (t14). */
  val llmQueries: Seq[String] = Seq(
    "d02_minhash_pairs", "s01_knn_brute", "t14_bpe_encode",
    "m06_payload_neardup", "g18_reach_summary", "g19_pair_index")

  def family(name: String): String = name.head match {
    case 'd' => "dedup"
    case 's' => "similarity"
    case 't' => "text"
    case 'm' => "multimodal"
    case 'g' => "graph"
    case c => sys.error(s"no family for query prefix '$c' ($name)")
  }

  /** Run the query's executed plan and pull every row of its result,
    * hashing every column the way `xxhash64` does: the work a noop-sink
    * write does, plus the digest. The digest is the row count and the sum
    * of the row hashes, so it does not depend on row order. */
  def deliver(df: DataFrame, label: String = "perfbench"): Golden = {
    val qe = queryExecution(df)
    val types = qe.analyzed.output.map(_.dataType).toArray
    val parts = SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd.mapPartitions { rows =>
        var n = 0L
        var sum = BigInt(0)
        rows.foreach { r =>
          var h = 42L
          var i = 0
          while (i < types.length) {
            h = XxHash64Function.hash(r.get(i, types(i)), types(i), h)
            i += 1
          }
          n += 1
          sum += h
        }
        Iterator((n, sum))
      }.collect()
    }
    Golden(parts.map(_._1).sum, parts.map(_._2).sum.toString)
  }

  private def queryExecution(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  private val phaseNames = Seq("build", "analyze", "optimize", "physical",
    "execute")

  /** Untimed passes before timing: pass times still fall through the
    * second pass as the JIT compiles the driver's and the kernels' code. */
  val warmupPasses = 2

  /** Seconds one warm timed pass over [[llmQueries]] takes on a 4-core
    * host. */
  val nominalPassS = 3.0

  /** Timed passes of a run: the window over the nominal pass time, at
    * least two and even when traced. The work is fixed before timing
    * starts, so a run's statistics never depend on how many passes
    * happened to fit in the window. */
  def passes(seconds: Double, traced: Boolean): Int = {
    val n = math.max(2, math.round(seconds / nominalPassS).toInt)
    if (traced && n % 2 == 1) n + 1 else n
  }

  def run(ctx: Ctx): Outcome = {
    val names = llmQueries
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    val dir = ctx.dataDir
    val out = ctx.out
    val tracer = ctx.tracer
    var failed = 0L
    var attempted = 0L
    def check(name: String, got: Golden): Boolean = {
      val want = ctx.goldens.get(name)
      if (!want.contains(got)) System.err.println(
        s"[perfbench] $name: digest $got != golden ${want.getOrElse("none")}")
      want.contains(got)
    }

    // ---- set-up, several times: session, fixture, shared artifacts ----
    val layer = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(-1, "setup", name.stripSuffix("_s"))(_ => body)
      layer.getOrElseUpdate(name, ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      r
    }
    var spark: SparkSession = null
    var sharedBytes = 0.0
    val setups = ctx.setups { () =>
      if (spark != null) spark.stop()
      spark = timed("session.create_s")(
        GraftSession.create("perfbench", Report.cores.toString))
      timed("tables.warm_s")(Tables.names.foreach(n =>
        Tables.load(spark, dir, n)))
      timed("shared.edges_s")(Shared.orderGraphEdges(spark, dir))
      timed("shared.khop3_s")(Shared.khop3(spark, dir))
      timed("shared.pairs_s")(Shared.pairs(spark, dir))
      timed("shared.bpe_s")(Shared.bpeMerges(spark, dir))
      sharedBytes = spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum +
        Report.childrenBytes(ctx.tmpDir, "graft-pair-index")
    }
    layer.foreach { case (k, xs) => out.timing(k, xs.toSeq) }
    out.add("shared.bytes", sharedBytes, "bytes", 1)

    // ---- untimed warm-up: every query `warmupPasses` times, on the timed
    // path, checked against its golden ----
    (0 until warmupPasses).flatMap(_ => names).foreach { n =>
      attempted += 1
      val ok = try check(n, deliver(SparkEntry.queries(n)(spark, dir)))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $n failed in warm-up: $e"); false }
      if (!ok) failed += 1
    }

    // ---- timed closed loop: a fixed number of whole passes ----
    val counters = new ExecCounters
    if (tracer.enabled) spark.sparkContext.addSparkListener(counters)
    val rnd = new scala.util.Random(ctx.seed)
    val latencies = fns.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    val passWalls = ArrayBuffer.empty[Double]
    val tracedLat = ArrayBuffer.empty[Double]
    val untracedLat = ArrayBuffer.empty[Double]
    val familyExec = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    var execWall = 0.0
    val nPasses = passes(ctx.seconds, tracer.enabled)
    var pass = 0
    // A traced run traces every query in every other pass, half the set in
    // even passes and the other half in odd ones, so each query's traced
    // and untraced executions alternate and JIT warm-up weighs on both
    // alike; the difference is the tracing overhead.
    tracer.span(-1, ctx.workload, "workload") { workload =>
      while (pass < nPasses) {
        val order = rnd.shuffle(fns.zipWithIndex)
        val p0 = System.nanoTime()
        tracer.span(workload, s"pass#$pass", "pass") { passSpan =>
          order.foreach { case ((name, fn), i) =>
            attempted += 1
            val traced = tracer.enabled && (i + pass) % 2 == 1
            val t = if (traced) tracer else Tracer.off
            val trace = s"$name#$pass"
            // the listeners finish with the previous query first, so its
            // bookkeeping is not timed as part of this one
            ListenerBridge.drain(spark.sparkContext)
            val q0 = System.nanoTime()
            try {
              var e0 = 0L
              val got = t.span(passSpan, trace, "query") { q =>
                val df = t.span(q, trace, "build")(_ => fn(spark, dir))
                val qe = queryExecution(df)
                t.span(q, trace, "analyze")(_ => qe.analyzed)
                t.span(q, trace, "optimize")(_ => qe.optimizedPlan)
                t.span(q, trace, "physical")(_ => qe.executedPlan)
                e0 = System.nanoTime()
                t.span(q, trace, "execute")(_ => deliver(df, s"perfbench $name"))
              }
              val q1 = System.nanoTime()
              val lat = (q1 - q0) / 1e9
              latencies(name) += lat
              execWall += (q1 - e0) / 1e9
              if (tracer.enabled) (if (traced) tracedLat else untracedLat) += lat
              if (traced) familyExec(family(name)) += (q1 - e0) / 1e9
              if (!check(name, got)) failed += 1
            } catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] $name failed: $e"); failed += 1 }
          }
        }
        passWalls += (System.nanoTime() - p0) / 1e9
        pass += 1
      }
    }

    // ---- end to end. A query's latency takes in whatever work of the
    // session lands during it (collections, clean-up after earlier
    // queries), so single latencies scatter far more than whole passes;
    // throughput comes from the pass times ----
    val all = latencies.values.flatten.toSeq
    val walls = passWalls.toSeq
    out.add(Report.Metric("setup_s", Report.median(setups), "s", setups.size,
      Map("samples" -> setups)))
    out.timing("pass_s", walls)
    out.add(Report.Metric("query_p50_s", Report.median(all), "s", all.size,
      Map("p25" -> Report.quantile(all, 0.25),
        "p75" -> Report.quantile(all, 0.75),
        "per_query" -> latencies.map { case (k, xs) => k -> xs.toSeq })))
    out.add("query_p90_s", Report.quantile(all, 0.9), "s", all.size)
    out.add(Report.Metric("latency_p50_s", Report.median(all), "s", all.size,
      Map("same_as" -> "query_p50_s")))
    out.add(Report.Metric("latency_p90_s", Report.quantile(all, 0.9), "s",
      all.size, Map("same_as" -> "query_p90_s")))
    out.add(Report.Metric("throughput_per_s", names.size / Report.median(walls),
      "1/s", walls.size, Map("what" -> "queries per second of pass_s",
        "p25" -> names.size / Report.quantile(walls, 0.75),
        "p75" -> names.size / Report.quantile(walls, 0.25))))

    // ---- per layer: seconds per pass; each query was traced once in
    // every two passes ----
    if (tracer.enabled) {
      ListenerBridge.drain(spark.sparkContext)
      val k = pass / 2.0
      val self = tracer.selfTimes
      phaseNames.foreach { ph =>
        val name = if (ph == "execute") "exec.wall_s" else s"plan.${ph}_s"
        out.add(name, self.getOrElse(ph, 0.0) / k, "s", tracedLat.size)
      }
      out.add("trace.unattributed_s", self.getOrElse("query", 0.0) / k, "s",
        tracedLat.size)
      out.add("trace.pass_s", tracedLat.sum / k, "s", tracedLat.size)
      out.add("trace.overhead_frac", tracedLat.sum / untracedLat.sum - 1,
        "ratio", tracedLat.size + untracedLat.size)
      Seq("dedup", "similarity", "text", "multimodal", "graph")
        .foreach(f => out.add(s"exec.${f}_s", familyExec(f) / k, "s",
          tracedLat.size))
      val np = pass.toDouble
      out.add("exec.jobs", counters.jobs / np, "count", pass)
      out.add("exec.stages", counters.stages / np, "count", pass)
      out.add("exec.tasks", counters.tasks / np, "count", pass)
      out.add("exec.task_run_s", counters.runMs / 1e3 / np, "s", pass)
      out.add("exec.task_cpu_s", counters.cpuNs / 1e9 / np, "s", pass)
      out.add("exec.busy_frac", counters.runMs / 1e3 /
        (execWall * Report.cores), "ratio", pass)
      out.add("exec.gc_s", counters.gcMs / 1e3 / np, "s", pass)
      out.add("exec.scan_bytes", counters.scanBytes / np, "bytes", pass)
      out.add("exec.shuffle_read_bytes", counters.shuffleReadBytes / np,
        "bytes", pass)
      out.add("exec.shuffle_write_bytes", counters.shuffleWriteBytes / np,
        "bytes", pass)
      out.add("exec.spill_bytes", counters.spillBytes / np, "bytes", pass)
    }
    spark.stop()
    Outcome(attempted, failed)
  }
}
