package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** The two calls the harness needs that Spark keeps package-private. */
object Shim {
  /** A DataFrame over `df`'s already planned physical plan. Writing it runs
    * that plan as is, so a timed write does not plan the query a second
    * time inside the write command. */
  def planned(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)

  /** Blocks until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
