package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The single `private[sql]` surface the graft streaming source needs:
  * a V1 `Source.getBatch` result must be a streaming-tagged plan, and
  * the only constructor for one is
  * `SparkSession.internalCreateDataFrame(_, _, isStreaming = true)` —
  * the same call Spark's own file and socket sources use. Isolated in
  * this shim package (the standard pattern for out-of-tree sources)
  * so the rest of the library stays on public API only.
  */
object StreamingShim {
  def streamingDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse direction, for a V1 `Sink.addBatch`: the micro-batch
    * Dataset arrives streaming-tagged, so batch writers (df.write)
    * refuse it — rewrap its executed RDD as a batch frame (what
    * Delta's V1 sink does before writeFiles). */
  def batchDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)
}

/** Column ⇄ Expression bridge: `ExpressionUtils` is `private[sql]`
  * at the Scala level, so out-of-tree code that wants to wrap a
  * custom Catalyst expression into a Column WITHOUT registering a
  * session function goes through this shim (same pattern as
  * [[StreamingShim]]). */
object ColumnShim {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** `DataSourceStrategy.translateFilter` (`protected[sql]`), for the
  * graft scan rule's manifest pruning. */
object FilterShim {
  def translate(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
