package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of graft: every main, spec and the
  * benchmark get their session here, so they all run with one conf
  * set.
  *
  *  - `local[n]` and n shuffle partitions, n = `SPARK_GRAFT_CPUS`,
  *    else the JVM's processors capped at 32.
  *  - AQE with skew-join splitting on; the session time zone is UTC.
  *  - Dynamic partition overwrite, and the RocksDB state store for
  *    stateful streams.
  *  - graft's SQL functions, as session extensions (a `newSession()`
  *    gets them too).
  *  - The UI off, and a small driver-side status store. The AppStatus
  *    and SQLAppStatus listeners run even with the UI off, and by
  *    default retain about 1000 executions' plan graphs plus their
  *    job, stage and task rollups. Over a 122-execution Bench run
  *    that backlog made later queries 2-4x slower (the same 5 queries
  *    took 4.6 s alone and 19.9 s late in the full suite), so the
  *    store keeps 4 executions, 16 jobs, 32 stages and 500 tasks, and
  *    updates them synchronously.
  *  - `spark.sql.adaptive.coalescePartitions.parallelismFirst` stays
  *    at its default (true): an A/B over Bench's 7 heaviest queries
  *    found coalescing to the advisory size a loss here, since the
  *    small shuffles feeding shingle and gram stages are compute-bound
  *    (dedup_incremental 2.83 -> 3.08 s, text_dup_spans 1.84 -> 2.18 s).
  *
  * A caller that needs another setting sets it on its own session
  * after creation (`spark.conf.set`).
  */
object Spark {

  /** `SPARK_GRAFT_CPUS`, else the JVM's processors capped at 32. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors() min 32)

  def session(
      master: String = s"local[$defaultCpus]",
      shufflePartitions: Int = defaultCpus,
      appName: String = "graft"): SparkSession = {
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "16")
      .config("spark.ui.retainedStages", "32")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }
}
