package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two private Spark entry points the harness needs. */
object PerfbenchBridge {

  /** `df`'s already-planned rows (`queryExecution.toRdd`) as a frame, so a
    * writer stores exactly the rows the query produced, under a plan that
    * adds nothing but the write.
    */
  def plannedRows(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)

  /** Wait until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
