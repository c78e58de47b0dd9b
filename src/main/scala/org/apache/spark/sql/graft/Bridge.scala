package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Column <-> Expression bridge for Spark 4's split Column API.
  *
  * The conversion helpers live in `private[sql]` scope since the Connect
  * refactor; this package-placed shim is the standard technique for
  * libraries that define native Catalyst expressions (classic sessions
  * only, which is all this engine targets).
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An eager checkpoint re-planned with the size of what it stored.
    *
    * `localCheckpoint` plans its rows as a `LogicalRDD` that carries the
    * statistics of the plan it came from, which can be far from what it
    * holds (a 3-hop BFS estimates 1E+32 B over a few KB). This gives the
    * same `LogicalRDD` the memory plus disk bytes of its stored blocks as
    * its size, so rules keyed to a size threshold see the true one. When
    * some partition has no stored block (a lazy checkpoint, a lost
    * block) or `df` is no checkpoint, `df` comes back as it is, with its
    * origin estimate.
    */
  def sizedFromStoredBlocks(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.logicalPlan match {
      case lr: LogicalRDD => storedBytes(lr.rdd).fold(df) { bytes =>
        Dataset.ofRows(ds.sparkSession, lr.copy()(ds.sparkSession,
          Some(Statistics(sizeInBytes = bytes)), Some(lr.constraints)))
      }
      case _ => df
    }
  }

  /** Memory plus disk bytes the block manager holds for `rdd`, or None
    * unless every partition has a stored block. Asks the block manager
    * master, which tasks report each block to before they finish, not
    * the listener-fed status store, which can lag a finished job. */
  private def storedBytes(rdd: RDD[_]): Option[BigInt] = {
    val sizes = rdd.sparkContext.env.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, p), st) if id == rdd.id && st.isCached =>
          p -> (st.memSize + st.diskSize)
      }).toMap
    if (rdd.partitions.indices.forall(sizes.contains))
      Some(BigInt(sizes.values.sum))
    else None
  }
}
