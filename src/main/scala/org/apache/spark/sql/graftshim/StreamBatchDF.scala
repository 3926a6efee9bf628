package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The single `private[sql]` hook the V1 streaming lake sink and source
  * need: wrap physical rows as a DataFrame via
  * `SparkSession.internalCreateDataFrame`. That method is `private[sql]`,
  * hence this shim living under `org.apache.spark.sql`.
  *
  *  - Sink (`isStreaming = false`): `Sink.addBatch` receives a DataFrame
  *    whose logical plan still contains the streaming relation: any
  *    DataFrame derived from that LOGICAL plan re-analyzes as a streaming
  *    query and fails with "queries with streaming sources must be executed
  *    with writeStream.start()". The supported escape — the one Spark's own
  *    `ForeachBatchSink` uses — is to take the already-incrementalized
  *    PHYSICAL output (`data.queryExecution.toRdd`) and re-wrap it as a
  *    standalone batch DataFrame.
  *  - Source (`isStreaming = true`): `Source.getBatch` must return a
  *    DataFrame flagged as streaming; the changelog source wraps its batch
  *    changelog rows that way, as Spark's own V1 Kafka source does.
  */
object StreamBatchDF {
  def apply(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType,
      isStreaming: Boolean = false): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = isStreaming)
}
