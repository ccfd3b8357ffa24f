package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` and `private[spark]` internals:
  * the Column ⇄ Expression converters (Spark 4 moved classic Column
  * internals behind the Connect API split), plans built from Catalyst
  * rows, the listener bus, and the one scan of a table log's files
  * ([[logScan]]: every sink and Delta read goes through its file
  * index, which takes the file list from the log and lists no
  * directory). Lives in the org.apache.spark.sql package solely to
  * reach them; each member but that index is a thin wrapper over
  * Spark's own calls.
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

  /** One file of a [[logScan]]: its path, its status when the log
    * recorded one, and its partition values. */
  final case class LogFile(path: Path, status: Option[FileStatus], partition: catalyst.InternalRow)

  /** A parquet scan of exactly the `files` a table log lists: the
    * files hold `dataSchema`, and each file's partition values fill
    * `partitionSchema`'s columns. Nothing is listed. A file without a
    * status is looked up here, on the driver, on its own filesystem, so
    * a missing one raises now and names itself. */
  def logScan(spark: SparkSession, dataSchema: types.StructType,
      partitionSchema: types.StructType, files: Seq[LogFile]): DataFrame = {
    import execution.datasources._
    val conf = spark.sparkContext.hadoopConfiguration
    val index = LogFileIndex(partitionSchema, files.map(f =>
      f.status.getOrElse(f.path.getFileSystem(conf).getFileStatus(f.path)) -> f.partition))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable, None,
      new parquet.ParquetFileFormat, Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation))
  }

  /** A fixed list of (status, partition values), as Spark's own
    * log-backed indexes keep it. `listFiles` applies the partition
    * filters itself: the scan does not re-apply partition-only filters
    * after it. */
  private final case class LogFileIndex(partitionSchema: types.StructType,
      files: Seq[(FileStatus, catalyst.InternalRow)])
      extends execution.datasources.FileIndex {
    import catalyst.expressions._
    private lazy val byValues = {
      val groups = files.groupBy(_._2)
      files.map(_._2).distinct.map(v => v -> groups(v).map(_._1).toArray)
    }
    def rootPaths: Seq[Path] = files.map(_._1.getPath)
    def inputFiles: Array[String] = files.map(_._1.getPath.toUri.toString).toArray
    def sizeInBytes: Long = files.map(_._1.getLen).sum
    def refresh(): Unit = ()
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[execution.datasources.PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map(f => Predicate.createInterpreted(f.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }))
      byValues.collect { case (v, fs) if keep.forall(_.eval(v)) =>
        execution.datasources.PartitionDirectory(v, fs)
      }
    }
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
