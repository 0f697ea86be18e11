package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Catalyst phase time (analysis, optimization, planning) of a finished
  * SQL execution; Spark keeps the execution's QueryExecution on the end
  * event package-private. */
object PerfbenchSql {
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum).getOrElse(0.0)
}
