package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{RangeExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** Jobs a batch query starts beyond its own: a table already loaded in the
  * session is not inferred again, a global sort of a small input sorts
  * in one partition without a job that samples range bounds,
  * building a fused reach-sketch plan starts none, and a cut one starts
  * only the jobs of its hop cuts.
  */
class JobCountSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Jobs the khop3 build starts at sf0.001 (the seed collect and the
    * per-hop cuts) over order-graph edges sized from their stored blocks,
    * a few KB read in one partition (20 while they carried their origin
    * plan's estimate): its plan must not change otherwise. */
  private val KHop3BuildJobs = 15

  /** Every job started while `body` runs, read by a listener after the
    * listener bus has delivered all of them. */
  private def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] =
    jobsAndActionsDuring(body)._1

  /** The jobs started while `body` runs, and the action each one runs
    * under: the description of its SQL execution, such as
    * "localCheckpoint at Graph.scala:723" (None outside any). */
  private def jobsAndActionsDuring(body: => Unit)
      : (Seq[SparkListenerJobStart], Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[SparkListenerJobStart]
    val actions = scala.collection.mutable.Map.empty[Long, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.synchronized(seen += e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          actions.synchronized(actions(x.executionId) = x.description)
        case _ =>
      }
    }
    TestBridge.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; TestBridge.waitListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    val jobs = seen.synchronized(seen.toList)
    (jobs, actions.synchronized(jobs.map(j =>
      Option(j.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
        .flatMap(id => actions.get(id.toLong)))))
  }

  /** Runs the query's plan and returns the jobs that end in a result
    * stage: the action's own job, plus one per range-bounds sample. */
  private def resultJobs(df: DataFrame): Seq[SparkListenerJobStart] =
    jobsDuring(df.queryExecution.toRdd.count())
      .filter(TestBridge.endsInResultStage)

  /** The partitioning of the exchange nearest the root of the final plan. */
  private def finalExchange(df: DataFrame): Partitioning =
    collectFirst(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.getOrElse(fail("no shuffle exchange in the plan"))

  test("a second Tables.load of one table in a session starts no job") {
    val first = Tables.load(spark, sf, "nation")
    var second: DataFrame = null
    assert(jobsDuring { second = Tables.load(spark, sf, "nation") }.isEmpty)
    assert(second eq first)
    assert(second.count() === 25L)
  }

  test("t14 at sf0.001 sorts in one partition without a sampling job") {
    val df = SparkEntry.queries("t14_bpe_encode")(spark, sf)
    val jobs = resultJobs(df)
    assert(jobs.size === 1, s"result jobs ${jobs.map(_.jobId)}: the action " +
      "and a range-bounds sample")
    // its inputs are read in one partition, so the sort needs no exchange
    assert(collectFirst(df.queryExecution.executedPlan) {
      case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
    }.isEmpty)
  }

  test("building t14 or t40 starts no job once the session has built one") {
    Seq("t14_bpe_encode", "t40_fertility").foreach(SparkEntry.queries(_)(
      spark, sf))
    Seq("t14_bpe_encode", "t40_fertility").foreach { q =>
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sf))
      assert(jobs.isEmpty, s"jobs ${jobs.map(_.jobId)} started while " +
        s"building $q: its merge list is collected once per session")
    }
  }

  test("a sort whose input estimate is above the floor keeps " +
      "RangePartitioning") {
    // 1M longs: an 8 MB estimate against the default 1 MB floor
    val df = spark.range(0, 1000000, 1, 4).toDF().orderBy(desc("id"))
    assert(resultJobs(df).size === 2)
    val partitioning = finalExchange(df)
    assert(partitioning match {
      case RangePartitioning(_, n) => n > 1
      case _ => false
    }, partitioning)
  }

  test("building g22 starts no job and g23 only its hop cuts' jobs once " +
      "the order graph is warm") {
    graft.queries.Shared.orderGraphEdges(spark, sf)
    val g22 = jobsDuring(SparkEntry.queries("g22_reach_sketch_delta")(
      spark, sf))
    assert(g22.isEmpty, s"jobs ${g22.map(_.jobId)} started while only " +
      "building g22's fused plan")
    // g23 cuts every hop, and each cut runs as a localCheckpoint action;
    // a driver-side collect or count per hop would be an action of its own
    val (g23, actions) = jobsAndActionsDuring(
      SparkEntry.queries("g23_reach_sketch_k10")(spark, sf))
    assert(g23.nonEmpty)
    assert(actions.forall(_.exists(_.startsWith("localCheckpoint at "))),
      s"g23 build jobs ran under other actions: ${actions.distinct}")
  }

  test("the khop3 build starts a fixed number of jobs once the order " +
      "graph is warm") {
    val dir = java.nio.file.Files.createTempDirectory("graft-khop3-jobs")
    try {
      // a fresh dir is a fresh memo key: khop3 and the order graph build
      // again here whatever ran before in this session
      Seq("orders.parquet", "lineitem.parquet").foreach(f =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(sf, f),
          dir.resolve(f)))
      graft.queries.Shared.orderGraphEdges(spark, dir.toString)
      val jobs = jobsDuring(graft.queries.Shared.khop3(spark, dir.toString))
      assert(jobs.size === KHop3BuildJobs,
        s"khop3 build jobs ${jobs.map(_.jobId)}")
    } finally graft.queries.Shared.deleteTree(dir)
  }

  test("a node without a logical link is left unchanged") {
    val range = Range(0, 10, 1, Some(1))
    def sortExchange(child: SparkPlan) = ShuffleExchangeExec(
      RangePartitioning(Seq(SortOrder(range.output.head, Ascending)), 4),
      child, ENSURE_REQUIREMENTS)
    val rule = GraftExtensions.SortSmallInputInOnePartition
    val unlinked = sortExchange(RangeExec(range))
    assert(rule(unlinked) eq unlinked)
    // the same plan with its link, a 10-row estimate, is rewritten
    val linked = RangeExec(range)
    linked.setLogicalLink(range)
    assert(rule(sortExchange(linked)).outputPartitioning === SinglePartition)
  }
}
