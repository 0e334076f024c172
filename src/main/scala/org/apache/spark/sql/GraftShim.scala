package org.apache.spark.sql

/** The two `private[sql]` calls of Spark's classic API that
  * [[graft.GraftSession.fork]] is built on.
  */
object GraftShim {

  /** A child session sharing `spark`'s context and shared state (cache
    * manager, external catalog), with a copy of its runtime conf, temp
    * views and functions that changes independently of the parent.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of `spark`: analysed, planned and
    * executed under that session's conf.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
