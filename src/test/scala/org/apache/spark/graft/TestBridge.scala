package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerJobStart

/** Test-only bridge into `private[spark]` scheduler internals: metric
  * assertions (Round11Spec's shuffle-byte comparison) must drain the
  * async listener bus before reading their accumulators, and
  * `listenerBus.waitUntilEmpty()` is the supported way Spark's own test
  * utilities do it. Job-count assertions (JobCountSpec) tell a job that
  * ends in a result stage from one that only writes a shuffle.
  */
object TestBridge {
  def waitListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether the job's final stage, the last one created, is a result
    * stage: an action's job or a range-bounds sample, not a map-stage job
    * that AQE submits to materialize a shuffle. */
  def endsInResultStage(job: SparkListenerJobStart): Boolean =
    job.stageInfos.maxBy(_.stageId).shuffleDepId.isEmpty
}
