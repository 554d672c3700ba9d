package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Bridge to the private[sql] `cloneSession`: a new session over the same
  * SparkContext holding a copy of `spark`'s conf, temporary views and
  * functions as they are at the call. Settings made on the copy never
  * reach `spark`.
  */
object SessionClone {
  def apply(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
