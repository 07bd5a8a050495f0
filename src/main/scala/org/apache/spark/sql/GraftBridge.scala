package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge for graft's native expressions.
  *
  * Spark 4 wraps Columns around ColumnNodes; converting to/from raw
  * catalyst Expressions is `private[sql]` (`classic.ExpressionUtils`),
  * so this one-file shim lives in the sql package — the standard
  * pattern for libraries that ship custom codegen expressions without
  * forking Spark.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-analyzed logical plan (classic
    * `Dataset.ofRows` is `private[sql]`) — how graft's SQL DML rule
    * hands a MERGE source plan to the store's programmatic merge. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Broadcast the Hadoop configuration for executor-side file IO (the
    * `SerializableConfiguration` companion is `private[spark]`) — how
    * graft's delete-vector reader factory ships the conf its tasks use
    * to open their own bucket's sidecar files. */
  def broadcastConf(sc: org.apache.spark.SparkContext,
                    conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.util.SerializableConfiguration.broadcast(sc, conf)

  /** Every field nullable, nested ones too (`private[spark]`) — what a
    * file source relation declares for its data schema, so a store read
    * built on its own file index types its columns as a listed read
    * does. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
