package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataFrame over a DataSource-v2 `Table` instance — what
  * `spark.read.format(...).load()` builds after it has resolved the table
  * from string options. The lake's bucket scans hand over the snapshot and
  * bucket groups they already hold instead. `Dataset.ofRows` is
  * `private[sql]`, hence this shim living under `org.apache.spark.sql`. */
object RelationDF {
  def apply(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()))
}
