package org.apache.spark.sql.e2ebench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the QueryExecution an execution-end event carries (Spark keeps
  * the field package-private), so planning phases can be matched to the
  * execution, and through it to the request that ran it. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
