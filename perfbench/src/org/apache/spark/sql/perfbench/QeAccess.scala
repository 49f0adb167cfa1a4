package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The finished execution's QueryExecution rides on its end event, but
  * the field is package-private to Spark SQL; this reads it so the
  * benchmark's listener gets phase timings and SQL metrics of every
  * action, writes included, without a second listener bus. */
object QeAccess {
  def of(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
