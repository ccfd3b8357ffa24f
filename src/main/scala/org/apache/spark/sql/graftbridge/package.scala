package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters
  * (Spark 4 moved classic Column internals behind the Connect API
  * split). Lives in the org.apache.spark.sql package solely to reach
  * `classic.ExpressionUtils`; contains no logic.
  */
package object graftbridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)

  def analyzedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** A session with a copy of `spark`'s conf, temp views and functions. */
  def cloneSession(spark: SparkSession): SparkSession =
    classic.ClassicConversions.castToImpl(spark).cloneSession()

  /** Release the executor blocks behind a localCheckpoint()ed frame.
    * Dataset.unpersist is a no-op for checkpoints (they bypass the
    * CacheManager), so without this the blocks linger until RDD GC.
    * Only safe once nothing will read the frame again — a truncated
    * lineage cannot recompute lost blocks.
    */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    classic.ClassicConversions.castToImpl(df).queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
