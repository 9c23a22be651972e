package org.apache.spark.sql

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Hatch into the package-private DataFrame-from-plan constructor: a
  * DataFrame over a V2 [[Table]] built in code, which (unlike one rebuilt
  * from `spark.read` string options) can carry driver-side objects such as
  * accumulators into its scan. Pushdown and pruning apply as usual.
  */
object V2TableFrame {
  def apply(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
