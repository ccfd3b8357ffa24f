package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counters recorded at the calls the benchmark makes
  * into each layer. Everything stays in memory and is dumped once, at
  * exit. With `enabled = false` no listener is registered and
  * [[span]] only runs its body, so the untraced run pays nothing.
  *
  * A span's `group` is shared by everything one merge or one query
  * does: the benchmark sets it as a Spark local property, so the jobs
  * that call starts (on the calling thread or the stream thread)
  * carry it into the listener.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** Wall time spent inside the tracer's own callbacks and bookkeeping. */
  val overheadNs = new AtomicLong(0)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val planning = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile private var sc: org.apache.spark.SparkContext = _
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Runs `body` as a span named `name` in `group`; nested spans on the
    * same thread record it as their parent. */
  def span[T](name: String, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent, t0) = timed {
        val id = nextId.getAndIncrement()
        val parent = stack.get().headOption.getOrElse(0L)
        stack.set(id :: stack.get())
        (id, parent, System.nanoTime())
      }
      val prevGroup = sc.getLocalProperty(GroupProp)
      sc.setLocalProperty(GroupProp, group)
      try body
      finally timed {
        val t1 = System.nanoTime()
        sc.setLocalProperty(GroupProp, prevGroup)
        stack.set(stack.get().tail)
        spans.synchronized(spans += Span(id, name, group, parent, t0, t1))
      }
    }

  def install(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val props = Option(e.properties)
        val g = props.flatMap(p => Option(p.getProperty(GroupProp))).getOrElse("-")
        jobs.put(e.jobId, Job(g, e.time, -1L))
        e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
        counters(g).jobs.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        val j = jobs.get(e.jobId)
        if (j != null) jobs.put(e.jobId, j.copy(end = e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
        val si = e.stageInfo
        val g = Option(stageGroup.get(si.stageId)).getOrElse("-")
        val c = counters(g)
        c.stages.incrementAndGet()
        c.tasks.addAndGet(si.numTasks)
        Option(si.taskMetrics).foreach { m =>
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      // the planning phases of each executed query, placed on the span
      // clock by their wall-clock start: the span that covers that
      // instant is the call that planned it
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = timed {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) planning.synchronized(planning += ((
          (phases.map(_.startTimeMs).min - epochOffsetMs) / 1e3, phases.map(_.durationMs).sum / 1e3)))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
        val p = e.progress
        val src = p.sources.headOption
        progress.synchronized(progress += Map(
          "name" -> Option(p.name).getOrElse(""),
          "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
          "start_files" -> src.map(s => Json.stringArray(s.startOffset).size).getOrElse(0),
          "end_files" -> src.map(s => Json.stringArray(s.endOffset).size).getOrElse(0),
          "end_offset_bytes" -> src.map(s => Option(s.endOffset).map(_.length).getOrElse(0)).getOrElse(0)))
      }
    })
  }

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  /** Everything recorded, as JSON-ready maps. */
  def dump(): Map[String, Any] = {
    val jobsByGroup = jobs.asScala.values.groupBy(_.group)
    Map(
      "overhead_s" -> overheadNs.get() / 1e9,
      "spans" -> spans.synchronized(spans.toList).map(s =>
        Map("id" -> s.id, "name" -> s.name, "group" -> s.group, "parent" -> s.parent,
          "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9)),
      "groups" -> groups.asScala.map { case (g, c) =>
        g -> Map(
          "jobs" -> c.jobs.get(), "stages" -> c.stages.get(), "tasks" -> c.tasks.get(),
          "cpu_s" -> c.cpuNs.get() / 1e9, "shuffle_write" -> c.shuffleWrite.get(),
          // listener times are wall-clock millis; spans are nanoTime:
          // the two are aligned with the offset captured at start
          "job_intervals" -> jobsByGroup.getOrElse(g, Nil).filter(_.end >= 0).toList
            .map(j => List((j.start - epochOffsetMs) / 1e3, (j.end - epochOffsetMs) / 1e3)))
      }.toMap,
      "planning" -> planning.synchronized(planning.toList).map { case (start, s) =>
        Map("start_s" -> start, "planning_s" -> s)
      },
      "progress" -> progress.synchronized(progress.toList))
  }

  /** Wall-clock millis minus nanoTime millis, so listener event times
    * (wall clock) and span times (nanoTime) share one axis. */
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}

object Trace {
  val GroupProp = "graftbench.group"

  final case class Span(id: Long, name: String, group: String, parent: Long, start: Long, end: Long)
  final case class Job(group: String, start: Long, end: Long)

  final class Counters {
    val jobs, stages, tasks, cpuNs, shuffleWrite = new AtomicLong(0)
  }
}
