package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf

/** A query over inputs below AQE's coalescing floor runs as one stage:
  * [[GraftExtensions.ReadSmallInputInOnePartition]] reads each small scan
  * in one partition and [[GraftExtensions.JoinOnePartitionSidesLocally]]
  * joins one-partition sides without a broadcast. Inputs above the floor,
  * sessions with coalescing off and streaming micro-batches keep their
  * exchanges, and a broadcast that two joins read stays a broadcast.
  */
class SmallInputSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val floorKey = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * back what was there. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Jobs started while `body` runs, read after the listener bus has
    * delivered them all. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.synchronized(seen += e.jobId)
    }
    TestBridge.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; TestBridge.waitListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    seen.synchronized(seen.size)
  }

  /** The final (post-AQE) plan, after running the query. */
  private def executed(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan
  }

  private def exchanges(p: SparkPlan): Seq[SparkPlan] = collect(p) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("a small scan keeps its pushed filters and pruned schema under " +
      "exactly one Coalesce 1") {
    Seq("q02_filter_project", "q04_region_supplier").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val opt = df.queryExecution.optimizedPlan
      val scans = opt.collect { case r: LogicalRelation => r }
      val wraps = opt.collect { case r @ Repartition(1, false, _) => r }
      assert(scans.nonEmpty && wraps.size === scans.size, opt)
      wraps.foreach(w =>
        assert(!w.child.exists(_.isInstanceOf[Repartition]), opt))
      // a second run stacks nothing
      assert(GraftExtensions.ReadSmallInputInOnePartition(opt)
        .fastEquals(opt))
      val plan = executed(df)
      assert(exchanges(plan).isEmpty, plan)
      val fileScans = collect(plan) { case s: FileSourceScanExec => s }
      assert(collect(plan) { case c @ CoalesceExec(1, _) => c }.size ===
        fileScans.size, plan)
    }
    // q02's scan, as PlanSpec pins it at scale
    val p = SparkEntry.queries("q02_filter_project")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_extendedprice") &&
      !read.contains("l_returnflag"), read)
  }

  test("the batch-llm queries run a pinned number of jobs at sf0.001") {
    // a fresh directory builds fresh Shared artifacts, so their layout does
    // not depend on the conf another suite built them under
    val dir = Files.createTempDirectory("graft-small-input")
    try {
      Tables.names.foreach(t => Files.copy(Paths.get(sf, s"$t.parquet"),
        dir.resolve(s"$t.parquet")))
      // the Shared artifacts that g07, g18 and t40 read are sized from
      // what their checkpoints stored, a few KB here, so their scans are
      // small inputs too
      val pinned = Seq("d02_minhash_pairs" -> 1, "s01_knn_brute" -> 1,
        "t14_bpe_encode" -> 1, "m06_payload_neardup" -> 1,
        "g18_reach_summary" -> 1, "g19_pair_index" -> 1,
        "g07_khop" -> 1, "t40_fertility" -> 1)
      val got = pinned.map { case (q, _) =>
        val build = SparkEntry.queries(q)
        build(spark, dir.toString).collect() // builds the artifacts
        val df = build(spark, dir.toString)
        q -> jobsDuring(df.queryExecution.toRdd.count())
      }
      assert(got === pinned)
    } finally graft.queries.Shared.deleteTree(dir)
  }

  test("a checkpoint that did not store every partition keeps its origin " +
      "estimate, and its scan its partitions") {
    // a filter is estimated at its input's 8 MB, above the floor, while
    // the checkpoint stores 100 rows
    def cut(eager: Boolean) = spark.range(0, 1000000, 1, 4).toDF()
      .filter(col("id") < 100).localCheckpoint(eager)
    def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats
      .sizeInBytes
    val floor = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get(floorKey))
    def wrapped(df: DataFrame) = df.groupBy(col("id") % 7).count()
      .queryExecution.optimizedPlan.exists {
        case Repartition(1, false, _) => true
        case _ => false
      }
    val stored = Bridge.sizedFromStoredBlocks(cut(eager = true))
    assert(estimate(stored) < floor && wrapped(stored))
    // a lazy cut stores no block until a job runs it (and then all: the
    // checkpoint computes the partitions the job left out)
    val lazyCut = cut(eager = false)
    val origin = estimate(lazyCut)
    assert(origin > floor)
    val unsized = Bridge.sizedFromStoredBlocks(lazyCut)
    assert(unsized eq lazyCut)
    assert(estimate(unsized) === origin && !wrapped(unsized))
    assert(sorted(unsized) === sorted(stored))
  }

  test("results equal the plans a large input gets") {
    Seq("d02_minhash_pairs", "s01_knn_brute", "t14_bpe_encode",
        "m06_payload_neardup", "g19_pair_index", "q04_region_supplier",
        "q03_top_orders").foreach { q =>
      val small = sorted(SparkEntry.queries(q)(spark, sf))
      val atScale = withConf(floorKey, "1b")(
        sorted(SparkEntry.queries(q)(spark, sf)))
      assert(small.nonEmpty && small === atScale, q)
    }
  }

  test("one-partition sides join in place: hash joins and nested loops " +
      "lose their broadcasts") {
    val q04 = executed(SparkEntry.queries("q04_region_supplier")(spark, sf))
    assert(collect(q04) { case j: ShuffledHashJoinExec => j }.nonEmpty, q04)
    assert(collect(q04) { case j: BroadcastHashJoinExec => j }.isEmpty, q04)
    val s01 = executed(SparkEntry.queries("s01_knn_brute")(spark, sf))
    assert(collect(s01) { case j: CartesianProductExec => j }.nonEmpty, s01)
    assert(collect(s01) {
      case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s01)
  }

  test("a broadcast that two joins read stays a broadcast") {
    def nationNames() = {
      // the hint makes nation the build side of both joins, so both read
      // one canonical broadcast
      val n = broadcast(Tables.load(spark, sf, "nation")
        .select(col("n_nationkey"), col("n_name")))
      val s = Tables.load(spark, sf, "supplier")
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("k"), col("n_name"))
      val c = Tables.load(spark, sf, "customer")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("k"), col("n_name"))
      s.unionByName(c)
    }
    val df = nationNames()
    val plan = executed(df)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size === 2,
      plan)
    assert(collect(plan) { case j: ShuffledHashJoinExec => j }.isEmpty, plan)
    assert(sorted(df) === withConf(floorKey, "1b")(sorted(nationNames())))
  }

  test("an input above the floor keeps its exchanges") {
    val dir = Files.createTempDirectory("graft-above-floor")
    try {
      // 1M longs, the 8 MB range of JobCountSpec's sort case, as a file
      spark.range(0, 1000000, 1, 4).write.mode("overwrite")
        .parquet(dir.resolve("t").toString)
      val df = spark.read.parquet(dir.resolve("t").toString)
        .groupBy(col("id") % 7).count()
      val floor = spark.conf.get(floorKey)
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(floor))
      assert(GraftExtensions.ReadSmallInputInOnePartition(
        df.queryExecution.optimizedPlan).fastEquals(
        df.queryExecution.optimizedPlan))
      val plan = executed(df)
      assert(exchanges(plan).nonEmpty, plan)
      assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, plan)
    } finally graft.queries.Shared.deleteTree(dir)
  }

  test("a session with partition coalescing off keeps its exchanges") {
    withConf(SQLConf.COALESCE_PARTITIONS_ENABLED.key, "false") {
      val plan = executed(SparkEntry.queries("q04_region_supplier")(spark, sf))
      assert(collect(plan) { case b: BroadcastExchangeLike => b }.nonEmpty,
        plan)
      assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, plan)
    }
  }

  test("a streaming micro-batch keeps its exchanges") {
    val dir = Files.createTempDirectory("graft-small-stream")
    try {
      val in = Files.createDirectory(dir.resolve("in"))
      Files.write(in.resolve("a.json"),
        (1 to 20).map(i => s"""{"k": ${i % 3}, "v": $i}""")
          .mkString("\n").getBytes("UTF-8"))
      val q = spark.readStream.schema("k INT, v INT").json(in.toString)
        .repartition(col("k"))
        .writeStream.format("memory").queryName("graft_small_stream")
        .option("checkpointLocation", dir.resolve("ck").toString)
        .start()
      try {
        q.processAllAvailable()
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution
        assert(spark.table("graft_small_stream").count() === 20L)
        assert(!exec.optimizedPlan.exists {
          case Repartition(1, false, _) => true
          case _ => false
        }, exec.optimizedPlan)
        val plan = exec.executedPlan
        assert(collect(plan) { case e: ShuffleExchangeLike => e }.nonEmpty,
          plan)
        assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, plan)
      } finally q.stop()
    } finally graft.queries.Shared.deleteTree(dir)
  }

  test("a small sort over an input the scan rule leaves skips range " +
      "sampling") {
    // spark.range is no file or RDD scan: it keeps its partitions, and the
    // sort's exchange goes to one partition instead of range bounds
    val df = spark.range(0, 1000, 1, 4).toDF().orderBy(desc("id"))
    val plan = executed(df)
    assert(collect(plan) { case e: ShuffleExchangeLike => e }
      .map(_.outputPartitioning.numPartitions) === Seq(1), plan)
  }
}
