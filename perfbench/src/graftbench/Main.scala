package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` prepares a work directory
  * (`config.properties`, the binlog schedule `files.tsv`, the lookup
  * keys `lookups.txt` and, for analytics_mix, the parquet tables) and
  * starts this main with `--workload <name> --work <dir>`. It runs the
  * workload through graft's public API and writes every raw sample to
  * `<dir>/raw.json`; `run.py` turns those into metrics and checks the
  * outputs this main leaves under `<dir>/out`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work"))
    val conf = new java.util.Properties()
    val in = Files.newBufferedReader(new File(work, "config.properties").toPath)
    try conf.load(in) finally in.close()
    val ctx = new Ctx(work, conf.asScala.toMap, new Trace(opts.getOrElse("trace", "0") == "1"))
    val spark = graft.Spark.session(
      master = s"local[${ctx.int("cores")}]",
      shufflePartitions = ctx.int("shuffle_partitions"),
      appName = "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.trace.install(spark)
    ctx.put("session_start_s", (System.nanoTime() - t0) / 1e9)
    try opts("workload") match {
      case "replica_stream" => Replica.stream(spark, ctx)
      case "analytics_mix" => Mix.run(spark, ctx)
      case w => sys.error(s"unknown workload $w")
    } finally {
      // listener events are delivered asynchronously: let the bus
      // drain before the trace is read
      if (ctx.trace.enabled) Thread.sleep(1000)
      ctx.put("jvm", Jvm.snapshot() + ("live_heap_mb" -> Jvm.liveHeapMb()))
      ctx.put("wall_s", (System.nanoTime() - t0) / 1e9)
      ctx.put("ops", Map("attempted" -> ctx.attempted.get(), "failed" -> ctx.failed.get(),
        "errors" -> ctx.errors.synchronized(ctx.errors.toList)))
      if (ctx.trace.enabled) ctx.put("trace", ctx.trace.dump())
      Files.writeString(new File(work, "raw.json").toPath, Json.write(ctx.result))
      spark.stop()
    }
  }
}

/** Settings, counters and the raw result of one run. */
final class Ctx(val work: File, settings: Map[String, String], val trace: Trace) {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val errors = mutable.ArrayBuffer.empty[String]
  val result = mutable.LinkedHashMap.empty[String, Any]

  def str(k: String): String = settings.getOrElse(k, sys.error(s"config.properties lacks $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  def dir(name: String): File = new File(work, name)
  def put(k: String, v: Any): Unit = result.synchronized(result(k) = v)

  /** Runs one counted operation. A failure is recorded and swallowed,
    * so one failing operation lowers the result instead of ending
    * the run. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        errors.synchronized(errors += s"$what: ${e.toString.take(500)}")
        None
    }
  }

  /** Lines of a tab-separated input file under the work directory. */
  def tsv(name: String): Seq[Array[String]] =
    Files.readAllLines(dir(name).toPath).asScala.toSeq.filter(_.nonEmpty).map(_.split('\t'))
}

object Jvm {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap still in use after full collections: what the process retains. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** GC time, the peak of the heap pools, and the process's peak
    * resident set (VmHWM) as the kernel counts it. */
  def snapshot(): Map[String, Any] = {
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val hwmKb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }.getOrElse(0L)
    Map("gc_s" -> gcSeconds(), "heap_peak_mb" -> heapPeak / 1048576.0,
      "vmhwm_mb" -> hwmKb / 1024.0)
  }
}
