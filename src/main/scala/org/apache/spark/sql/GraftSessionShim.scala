package org.apache.spark.sql

/** Main-scope access to the (`private[sql]`) classic session clone and
  * plan-to-frame binding that [[graft.streaming.StreamSessions]] builds
  * its micro-batch sessions from. `cloneSession()` copies the parent's
  * RUNTIME SQL conf (every `spark.conf.set` so far), which
  * `newSession()` drops; `Dataset.ofRows` rebinds an already-analyzed
  * plan onto another session of the same SparkContext. */
object GraftSessionShim {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
