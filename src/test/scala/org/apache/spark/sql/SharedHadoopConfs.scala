package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

/** The two Hadoop confs a session shares across every write and scan
  * (`sharedState.hadoopConf` is `private[sql]`), by name.
  */
object SharedHadoopConfs {
  def of(spark: SparkSession): Seq[(String, Configuration)] = Seq(
    "sparkContext.hadoopConfiguration" -> spark.sparkContext.hadoopConfiguration,
    "sharedState.hadoopConf" ->
      spark.asInstanceOf[classic.SparkSession].sharedState.hadoopConf)
}
