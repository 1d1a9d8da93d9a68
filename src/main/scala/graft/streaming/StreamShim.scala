// Lives in Spark's namespace ON PURPOSE (file kept under graft/streaming
// for discoverability): V1 streaming `Source.getBatch` results must carry
// isStreaming=true — MicroBatchExecution asserts it — and the only
// constructor for such a frame, `SparkSession.internalCreateDataFrame`,
// is private[sql]. A one-method shim inside the sql package is the
// standard external-connector move (Delta's streaming source does the
// identical thing via DeltaLog.createDataFrame). [[PlanShim]] below is
// the same move for the SQL funnel: parsed logical plans and
// expressions cross into DataFrames and Columns through it. No other
// internal API is touched.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset,
  ExpressionUtils}

object StreamShim {

  /** Re-roots `df`'s physical plan under a streaming LogicalRDD. The RDD
    * is the frame's own compiled pipeline, so scan pushdown and codegen
    * are preserved; only the logical flag changes. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = df.asInstanceOf[Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(
      c.queryExecution.toRdd, c.schema, isStreaming = true)
  }

  /** The inverse, for V1 `Sink.addBatch`: the micro-batch arrives as a
    * streaming-flagged frame that batch writers refuse ("streaming
    * sources must be executed with writeStream.start()"); re-root its
    * compiled pipeline as a batch frame (Delta's sink does the same). */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = df.asInstanceOf[Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(
      c.queryExecution.toRdd, c.schema, isStreaming = false)
  }
}

/** The bridge from Spark's own parser output to the public API: a
  * parsed (unresolved) plan becomes a DataFrame, analyzed eagerly like
  * `spark.sql`; parsed expressions and Columns convert both ways. */
object PlanShim {

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Converted now, not deferred to analysis the way
    * `ExpressionUtils.expression` defers it, so callers can rewrite the
    * tree: `expr("s.k")` comes back as its parsed attribute. */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
}
