package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Minimal access shim: `Dataset.ofRows` is private[sql], and building a
  * DataFrame from a hand-constructed LogicalPlan (the custom operator
  * path, SURVEY §7.3c) needs it; so is the session's typed `SQLConf`,
  * which size-selected operators read. Standard extension-library
  * pattern.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[ClassicSparkSession].sessionState.conf
}
