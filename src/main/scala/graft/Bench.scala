package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, graftbridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The suite timer. Runs every `SparkEntry.queries` entry into a noop
  * sink (which evaluates every column) over N passes: pass 0 is the
  * cold pass, passes 1..N-1 the steady ones. Each entry runs under its
  * own job group. One recorder splits each entry's window into the
  * layer fields perfbench defines under `analytics.*` as soon as the
  * entry ends, and keeps no record past it.
  *
  * The map (`BENCH_map.json`) keeps each entry's cold time, its steady
  * min and median, and the layer fields (medians over the steady
  * passes). It is tagged with the host shape and a later run of the
  * same shape folds into it as a min of steady mins. A map of another
  * shape, or one without a tag, is refused before anything is timed.
  * An entry that fails in any pass is listed under `failed` and kept
  * out of every number; the run then exits 1.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (the dataset, required),
  * `SPARK_GRAFT_ONLY=a,b` (an entry subset), `SPARK_GRAFT_PASSES`
  * (default 3, at least 2), `SPARK_GRAFT_MAP_PATH` (default
  * `BENCH_map.json`) and `SPARK_GRAFT_MAP_FRESH=1` (replace the map
  * instead of folding into it).
  */
object Bench {

  /** The shape a map's numbers hold for. */
  final case class Host(sf: String, cores: Int, maxHeapMb: Long)
  /** Per entry: `cold_s`, `min_s`, `median_s` and the [[Layers]]. */
  final case class BenchMap(host: Host, entries: Map[String, Map[String, Double]], failed: Seq[String])

  val Layers: Seq[String] = Seq("planning_s", "jobs", "stages", "tasks", "exec_cpu_s",
    "gc_s", "shuffle_bytes", "driver_gap_s")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Each entry's per-pass (seconds, layers), `None` for a failed pass,
    * summarized; pass 0 is the cold pass and feeds no min or median. */
  def summarize(host: Host, runs: Map[String, Seq[Option[(Double, Map[String, Double])]]]): BenchMap = {
    val (ok, failed) = runs.partition(_._2.forall(_.isDefined))
    BenchMap(host, ok.map { case (name, passes) =>
      val steady = passes.flatten.tail
      name -> (Map("cold_s" -> passes.head.get._1, "min_s" -> steady.map(_._1).min,
        "median_s" -> median(steady.map(_._1))) ++
        Layers.map(f => f -> median(steady.map(_._2(f)))))
    }, failed.keys.toSeq.sorted)
  }

  /** The map a run of `host` folds into: none without one, an error for
    * a map of another shape or one without a host tag. */
  def prior(text: Option[String], host: Host): Either[String, Option[BenchMap]] =
    text.fold[Either[String, Option[BenchMap]]](Right(None)) { t =>
      val root = json.readTree(t)
      Option(root.get("host")) match {
        case None => Left("the map has no host tag")
        case Some(h) =>
          val theirs = Host(h.get("sf").asText, h.get("cores").asInt, h.get("max_heap_mb").asLong)
          if (theirs != host) Left(s"the map is for $theirs, this run is $host")
          else Right(Some(BenchMap(theirs, root.get("entries").properties.asScala.map { e =>
            e.getKey -> e.getValue.properties.asScala.map(f => f.getKey -> f.getValue.asDouble).toMap
          }.toMap, Nil)))
      }
    }

  /** `run` over `prior`: each steady min is the lower of the two; the
    * rest of an entry is this run's. Entries this run lacks stay. */
  def fold(prior: Option[BenchMap], run: BenchMap): BenchMap = prior.fold(run) { p =>
    run.copy(entries = p.entries ++ run.entries.map { case (name, e) =>
      name -> p.entries.get(name).fold(e)(old => e.updated("min_s", old("min_s") min e("min_s")))
    })
  }

  private val json = new ObjectMapper()

  def toJson(m: BenchMap): String = {
    val root = json.createObjectNode()
    val h = root.putObject("host")
    h.put("sf", m.host.sf).put("cores", m.host.cores).put("max_heap_mb", m.host.maxHeapMb)
    val failed = root.putArray("failed")
    m.failed.foreach(n => failed.add(n))
    val entries = root.putObject("entries")
    m.entries.toSeq.sortBy(_._1).foreach { case (name, e) =>
      val o = entries.putObject(name)
      (Seq("cold_s", "min_s", "median_s") ++ Layers).foreach(f => o.put(f, math.rint(e(f) * 1e4) / 1e4))
    }
    json.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Length of the union of `[a, b]` intervals clipped to `[lo, hi]`. */
  private def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    intervals.map { case (a, b) => (a max lo, b min hi) }.sorted
      .foldLeft((0L, lo)) { case ((total, end), (a, b)) =>
        if (b <= end) (total, end) else (total + b - (a max end), b)
      }._1

  /** Jobs, stages and query planning on the wall clock (ms). An entry's
    * window claims what started inside it: streams re-group their jobs
    * under their run id, so a job's group cannot say which entry ran it,
    * but the entries run one at a time. */
  private final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val jobs = new ConcurrentHashMap[Int, (Long, Long)]
    // (submitted, tasks, executor CPU ns, shuffle bytes written)
    private val stages = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]
    private val planning = new ConcurrentLinkedQueue[(Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, (e.time, Long.MaxValue))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => (j._1, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages.add((si.submissionTime.getOrElse(0L), si.numTasks.toLong,
        m.fold(0L)(_.executorCpuTime), m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) planning.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** The layer fields of the window `[from, to]`, once the listener
      * bus has delivered what was posted in it (a bounded wait). Every
      * record that started by `to` is then dropped, so the recorder
      * holds one entry's records at a time. */
    def take(from: Long, to: Long, gcMs: Long): Map[String, Double] = {
      graftbridge.drainListenerBus(spark, 10000L)
      def in(t: Long) = t >= from && t <= to
      val js = jobs.values.asScala.filter(j => in(j._1)).toSeq
      val ss = stages.asScala.filter(s => in(s._1)).toSeq
      val layers = Map("planning_s" -> planning.asScala.filter(p => in(p._1)).map(_._2).sum / 1e3,
        "jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble, "tasks" -> ss.map(_._2).sum.toDouble,
        "exec_cpu_s" -> ss.map(_._3).sum / 1e9, "gc_s" -> gcMs / 1e3,
        "shuffle_bytes" -> ss.map(_._4).sum.toDouble,
        "driver_gap_s" -> (to - from - unionLength(js, from, to)) / 1e3)
      jobs.values.removeIf(_._1 <= to)
      stages.removeIf(_._1 <= to)
      planning.removeIf(_._1 <= to)
      layers
    }
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("SPARK_GRAFT_SF_DIR names no dataset"))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3) max 2
    val mapPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_MAP_PATH", "BENCH_map.json"))
    val fresh = sys.env.get("SPARK_GRAFT_MAP_FRESH").contains("1")
    val spark = Spark.session()
    spark.sparkContext.setLogLevel("WARN")
    val host = Host(sfDir, spark.sparkContext.defaultParallelism, Runtime.getRuntime.maxMemory >> 20)
    val existing = prior(Some(mapPath).filter(p => !fresh && Files.exists(p)).map(Files.readString), host)
      .fold(e => sys.error(s"$mapPath: $e (set SPARK_GRAFT_MAP_FRESH=1 to replace it)"), identity)

    val entries = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.contains(n)) }
    // JIT and the binlog corpus generation stay out of every window
    spark.range(1000000).selectExpr("sum(id)").collect()
    if (entries.exists(_._1 == "cdc_binlog_throughput")) operators.Cdc.ensureBinlogGenerated(spark, sfDir)

    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val wall0 = System.nanoTime()
    // per pass, per entry: (secs, layers), or None
    val raw = (0 until passes).map { pass =>
      if (pass > 0) System.gc()
      val samples = entries.map { case (name, fn) =>
        spark.sparkContext.setJobGroup(name, s"bench pass $pass")
        val (from, gc0, t0) = (System.currentTimeMillis(), gcMs, System.nanoTime())
        val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED in pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val layers = rec.take(from, System.currentTimeMillis(), gcMs - gc0)
        name -> Option.when(ok)((secs, layers))
      }
      spark.sparkContext.clearJobGroup()
      println(f"pass $pass: ${samples.flatMap(_._2).map(_._1).sum}%.3f s")
      samples
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val run = summarize(host, raw.flatten.groupMap(_._1)(_._2))
    Files.writeString(mapPath, toJson(fold(existing, run)))
    def total(f: String) = f"${run.entries.values.map(_(f)).sum}%.3f"
    println(s"""{"entries":${run.entries.size},"failed":[${run.failed.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""cold_total_s":${total("cold_s")},"min_total_s":${total("min_s")},""" +
      s""""median_total_s":${total("median_s")},"wall_s":${f"$wallS%.1f"},"map":"$mapPath"}""")
    spark.stop()
    if (run.failed.nonEmpty) sys.exit(1)
  }
}
