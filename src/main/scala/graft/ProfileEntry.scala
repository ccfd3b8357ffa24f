package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profiler for one SparkEntry query: runs the entry with a
  * listener that prints every job's wall time and call site, so a
  * multi-action operator's fixed-cost tail is attributable job by
  * job (which stage floors dominate, which artifact builds leak into
  * the timed window).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ProfileEntry dedup_index_maintain [passes]"
  *
  * `SPARK_GRAFT_EXPLAIN=1` also prints the entry's final adaptive
  * plan after pass 1; `SPARK_GRAFT_CONF="k=v;k2=v2"` sets session
  * confs for an experiment.
  */
object ProfileEntry {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileEntry <entry> [passes]")
    val entry = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Spark.session()
    // ad-hoc conf experiments: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(entry,
      sys.error(s"unknown entry $entry"))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tag = j.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '(').trim}:${si.numTasks}").mkString("+")
        starts.put(j.jobId, (System.nanoTime(), tag))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null) {
          val ms = (System.nanoTime() - s._1) / 1e6
          println(f"[job ${j.jobId}%3d] $ms%8.1f ms  ${s._2}")
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          val run = m.executorRunTime
          val cpu = m.executorCpuTime / 1000000
          val deser = m.executorDeserializeTime
          val in = m.inputMetrics.bytesRead / 1024 / 1024.0
          val sr = m.shuffleReadMetrics.totalBytesRead / 1024 / 1024.0
          val sw = m.shuffleWriteMetrics.bytesWritten / 1024 / 1024.0
          val gc = m.jvmGCTime
          if (run > 200) {
            val graftFrames = si.details.linesIterator
              .filter(l => l.contains("graft.") && !l.contains("ProfileEntry"))
              .take(3).map(_.trim.take(80)).mkString(" | ")
            println(f"[stage ${si.stageId}%3d] run=$run%6d ms cpu=$cpu%6d ms deser=$deser%5d ms gc=$gc%5d ms " +
              f"tasks=${si.numTasks}%3d in=$in%7.1fMB sr=$sr%7.1fMB sw=$sw%7.1fMB " +
              graftFrames)
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to passes).foreach { p =>
      println(s"=== pass $p ($entry @ $sfDir) ===")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"=== pass $p total ${(System.nanoTime() - t0) / 1e9}%.2f s ===")
      if (p == 1 && sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
        // the FINAL adaptive plan, from one more untimed run of the
        // entry's own plan: exchange and stage reuse only materialize
        // at runtime, so the static plan can show N copies of a
        // subtree AQE evaluates once (and the reverse). Plan audits
        // read this one.
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        println(s"=== final plan ($entry) ===")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
