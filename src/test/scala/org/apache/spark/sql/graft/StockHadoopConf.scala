package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.internal.SharedState

/** The Hadoop conf a SparkContext and its first session build the stock
  * way: `SparkHadoopUtil.newConfiguration` from the SparkConf, plus the
  * warehouse dir that `SharedState` adds. Both are `private[spark]`,
  * hence this package.
  */
object StockHadoopConf {
  def apply(sc: SparkContext): Configuration = {
    val sparkConf = sc.getConf
    val conf = SparkHadoopUtil.get.newConfiguration(sparkConf)
    SharedState.setWarehousePathConf(sparkConf, conf,
      sparkConf.get("spark.sql.warehouse.dir"))
    conf
  }
}
