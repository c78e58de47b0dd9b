package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Jobs a batch query starts beyond its own: a table already loaded in the
  * session is not inferred again, and a global sort of a small input
  * shuffles to one partition without a job that samples range bounds.
  */
class JobCountSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Every job started while `body` runs, read by a listener after the
    * listener bus has delivered all of them. */
  private def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.synchronized(seen += e)
    }
    TestBridge.waitListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; TestBridge.waitListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    seen.synchronized(seen.toList)
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
    assert(finalExchange(df) === SinglePartition)
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
