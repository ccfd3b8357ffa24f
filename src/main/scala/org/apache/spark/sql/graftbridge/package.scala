package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` and `private[spark]` internals:
  * the Column ⇄ Expression converters (Spark 4 moved classic Column
  * internals behind the Connect API split), plans built from Catalyst
  * rows and file statuses, and the listener bus. Lives in the
  * org.apache.spark.sql package solely to reach them; each member is
  * a thin wrapper over Spark's own calls.
  */
package object graftbridge {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)

  def analyzedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** `df`'s rows as Catalyst rows, from its executed plan inside one
    * SQL execution (as `collect` runs it, minus the conversion to
    * external rows). */
  def collectInternal(df: DataFrame): Array[catalyst.InternalRow] = {
    val qe = classic.ClassicConversions.castToImpl(df).queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** A frame over Catalyst `rows` of `schema`, held in the plan as a
    * local relation. */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    ofRows(spark, catalyst.plans.logical.LocalRelation(
      catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `cols` evaluated over Catalyst `rows` of `schema` on the driver,
    * interpreted from the analyzed projection: no query is optimized,
    * planned or run. */
  def evalLocal(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow], cols: Column*): Seq[catalyst.InternalRow] =
    analyzedPlan(localFrame(spark, schema, Nil).select(cols: _*)) match {
      case catalyst.plans.logical.Project(exprs, child) =>
        val project = new catalyst.expressions.InterpretedMutableProjection(exprs, child.output)
        project.initialize(0)
        rows.map(r => project(r).copy())
    }

  /** A parquet scan of `paths` under `schema`, as `read.schema(schema)
    * .parquet(paths)` builds it, except that the file index starts from
    * `known` statuses: a path with a known status is neither listed nor
    * stat'ed, and only the others are looked up. */
  def parquetScan(spark: SparkSession, schema: types.StructType,
      paths: Seq[org.apache.hadoop.fs.Path],
      known: Map[org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus]): DataFrame = {
    import execution.datasources._
    val cache = new FileStatusCache {
      override def getLeafFiles(p: org.apache.hadoop.fs.Path) = known.get(p).map(Array(_))
      override def putLeafFiles(p: org.apache.hadoop.fs.Path,
          files: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, paths, Map.empty, Some(schema), cache)
    val relation = HadoopFsRelation(index, index.partitionSchema, schema.asNullable, None,
      new parquet.ParquetFileFormat, Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation))
  }

  /** Wait up to `timeoutMs` until the listener bus has delivered every
    * event posted so far (a wait that times out just returns). */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

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
