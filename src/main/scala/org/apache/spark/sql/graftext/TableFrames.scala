// In the org.apache.spark.sql namespace because `classic.Dataset.ofRows`
// is private[sql].
package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** A DataFrame straight over a DataSource V2 table object the caller
  * already holds: the relation `spark.read.format(...).load` would
  * build, without the data source lookup and `getTable` call that
  * would make a new table.
  */
object TableFrames {
  def of(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
