package graft.cdc

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener surface — the reference's `register_listener(Listener)`
  * callback API (rust-cdc `src/mysql/conn.rs:181-268`) translated to
  * Spark's two callback planes:
  *
  *  - control plane: [[ProgressListener]] — a StreamingQueryListener
  *    counting rows/batches per query, the analog of the reference
  *    listener's per-event bookkeeping on the driver;
  *  - data plane: [[foreachEvent]] — a distributed ForeachWriter
  *    invoked once per change row on executors (the reference calls
  *    its listener once per decoded event; at 100 TB that callback
  *    must run ON the executors, not the driver, which is exactly
  *    what ForeachWriter gives us).
  */
object Listeners {

  /** Driver-side progress bookkeeping per streaming query. */
  final class ProgressListener extends StreamingQueryListener {
    val rowsPerQuery = new ConcurrentHashMap[String, LongAdder]()
    val batchesPerQuery = new ConcurrentHashMap[String, LongAdder]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
      rowsPerQuery.computeIfAbsent(name, _ => new LongAdder)
        .add(e.progress.numInputRows)
      batchesPerQuery.computeIfAbsent(name, _ => new LongAdder).increment()
    }

    def rows(query: String): Long =
      Option(rowsPerQuery.get(query)).map(_.sum()).getOrElse(0L)
    def batches(query: String): Long =
      Option(batchesPerQuery.get(query)).map(_.sum()).getOrElse(0L)
  }

  /** Executor-side per-event callback, mirroring
    * `Listener::new(fn_read)`: `open/process/close` per partition
    * epoch. The callback must be serializable.
    */
  def foreachEvent[T](ds: Dataset[T], onEvent: T => Unit): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreach(new ForeachWriter[T] {
      override def open(partitionId: Long, epochId: Long): Boolean = true
      override def process(value: T): Unit = onEvent(value)
      override def close(errorOrNull: Throwable): Unit = ()
    })

  /** End-to-end probe of both callback planes over the events
    * changelog: streams every change through [[foreachEvent]] (an
    * executor-side LongAccumulator counts per-event callbacks) with a
    * [[ProgressListener]] attached (driver-side numInputRows
    * bookkeeping). Both planes must independently account for every
    * event — the returned two-row frame is oracle-checkable against
    * `COUNT(*)` of the source.
    */
  def probe(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val listener = new ProgressListener
    s.streams.addListener(listener)
    try {
      val qn = s"cdc_listeners_${System.nanoTime()}"
      val acc = s.sparkContext.longAccumulator(qn)
      val keys = Changelog.canonicalize(
        CdcStream.eventsStream(s, dir))
        .select(col("key")).as[String]
      CdcStream.runAvailableNow(s, qn)(_ => foreachEvent[String](keys, _ => acc.add(1)))
      // accumulator values land with task completion (synchronous by
      // awaitTermination); listener events ride the async bus, and
      // every progress event is posted by now — drain the bus (bounded)
      // so the driver plane has seen them all
      org.apache.spark.sql.graftbridge.drainListenerBus(s, 30000L)
      Seq(("driver", listener.rows(qn)), ("executor", acc.value.longValue))
        .toDF("plane", "n_rows").orderBy("plane")
    } finally s.streams.removeListener(listener)
  }
}
