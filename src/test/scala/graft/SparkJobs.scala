package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code runs, for specs that pin job counts
  * (a plan property: exact and repeatable, unlike timings).
  */
object SparkJobs {

  /** One job and the call site that started it (e.g. `count at
    * CdcSink.scala:590`): its SQL execution's call site, or its
    * result stage's for a job outside any SQL execution. Jobs that
    * run while a DataFrame is still being built, such as parquet
    * footer schema inference, run outside any SQL execution.
    * `cached` says whether one of its stages reads or fills a
    * persisted RDD (a persisted DataFrame's, for example).
    */
  final case class Job(callSite: String, sqlExecution: Boolean, cached: Boolean)

  /** Run `body` and return its result with the jobs it started. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val jobs = new ConcurrentLinkedQueue[Job]
    // adaptive execution runs a query's jobs on its own threads, so a
    // job's stage names do not say which call started it; the SQL
    // execution's start event (posted before its jobs) does
    val executions = new ConcurrentHashMap[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(Job(
          execution.flatMap(id => Option(executions.get(id))).getOrElse(
            e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")),
          execution.isDefined,
          e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // listener events arrive asynchronously: drain the bus (bounded)
    // so every job `body` ran has been seen
    val result =
      try body
      finally {
        org.apache.spark.sql.graftbridge.drainListenerBus(spark, 10000L)
        spark.sparkContext.removeSparkListener(listener)
      }
    (result, jobs.asScala.toSeq)
  }
}
