package graftbench

import java.io.{BufferedInputStream, File, FileInputStream}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.{CdcSink, TxnLog}
import graft.sources.binlog.{BinlogGen, BinlogParser}

/** replica_stream, and the pieces analytics_mix shares with it: the
  * standing table, binlog files from the schedule, the micro-batch
  * apply, point lookups and the layer probes of the traced run. */
object Replica {

  /** Row images per transaction, as `plan.py` assumes. */
  val RowsPerTxn = 5

  /** One file of the binlog schedule: `nTxns` transactions from
    * `firstGno`, due `dueS` seconds after the schedule starts. */
  final case class BinlogFile(name: String, firstGno: Long, nTxns: Int, dueS: Double)

  def schedule(ctx: Ctx): Seq[BinlogFile] =
    ctx.tsv("files.tsv").map(a => BinlogFile(a(0), a(1).toLong, a(2).toInt, a(3).toDouble))

  def lookupKeys(ctx: Ctx): Seq[Long] = ctx.tsv("lookups.txt").map(_(0).toLong)

  def writeFile(dir: File, f: BinlogFile): File = {
    val out = new File(dir, f.name)
    BinlogGen.writeReplicaFile(out.getPath, f.firstGno, f.nTxns, RowsPerTxn)
    out
  }

  /** The standing table: transactions 1..nTxns already applied, as a
    * range-clustered bulk import (the bootstrap `cdc_replica_loop`
    * uses). */
  def bootstrap(s: SparkSession, tableDir: File, nTxns: Long): Unit = {
    val nRows = nTxns * RowsPerTxn
    val perFile = math.max(1000L, nRows / 32)
    val rows = s.range(1, nRows + 1, 1, ((nRows + perFile - 1) / perFile).toInt).select(
      col("id").as("key"), lit("c").as("op"),
      expr(s"(id - 1) div $RowsPerTxn + 1").as("offset"),
      concat(lit("row-"), col("id").cast("string")).as("title"),
      lit(0L).as("epoch"), lit("bootstrap").as("source_file"))
    CdcSink.writeSnapshotPreClustered(rows, tableDir.getPath, perFile + RowsPerTxn)
  }

  /** Binlog events of one micro-batch → sink changelog, composed as in
    * `cdc_replica_loop`: each row image takes the xid of the nearest
    * following XID of its file (rows of an unterminated transaction
    * are dropped), the after image is decoded once, and the offset is
    * qualified by the file's sequence number. */
  def changes(batch: DataFrame): DataFrame = {
    val wTxn = Window.partitionBy("file").orderBy(col("log_pos").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = StructType(Seq(StructField("col_0", StringType), StructField("col_1", StringType)))
    batch
      .withColumn("txn_gno", min(when(col("event_type") === "XID", col("xid"))).over(wTxn))
      .filter(col("event_type") === "WRITE_ROWS_V2" && col("txn_gno").isNotNull)
      .withColumn("__a", from_json(col("after"), after))
      .select(
        col("__a.col_0").cast("long").as("key"), lit("c").as("op"),
        (regexp_extract(col("file"), "mysql-bin\\.(\\d+)", 1).cast("long") * 1000000000L +
          col("log_pos")).as("offset"),
        col("__a.col_1").as("title"), lit(1L).as("epoch"), col("file").as("source_file"))
  }

  /** Merges one micro-batch into the table. The traced run also
    * records the table layout before and after, outside the span. */
  def applyBatch(ctx: Ctx, batch: DataFrame, tableDir: File, group: String): Unit = {
    val s = batch.sparkSession
    val before = if (ctx.trace.enabled) Some(Layout.of(s, tableDir)) else None
    ctx.op(s"merge $group") {
      ctx.trace.span("sink.merge", group) {
        CdcSink.merge(s, changes(batch), tableDir.getPath, None)
      }
    }
    before.foreach(b => Layout.record(ctx, tableDir, group, b, Layout.of(s, tableDir)))
  }

  private def startStream(
      s: SparkSession, ctx: Ctx, name: String, source: File, tableDir: File, ckpt: File,
      trigger: Trigger)(onCommit: Long => Unit): StreamingQuery =
    s.readStream.format("binlog").load(source.getPath)
      .writeStream.queryName(name)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(ctx, batch, tableDir, s"$name-merge-$id")
        onCommit(id)
      }
      .start()

  /** New files of each batch, by batch id, from the checkpoint's offset
    * log (each entry lists every file the stream has read so far). */
  def batchFiles(ckpt: File): Seq[(Long, Seq[String])] = {
    val dir = new File(ckpt, "offsets")
    var seen = Set.empty[String]
    dir.listFiles().flatMap(_.getName.toLongOption).sorted.toSeq.map { id =>
      val lines = Files.readAllLines(new File(dir, id.toString).toPath).asScala
      val files = Json.stringArray(lines(2)).map(f => new Path(f).getName)
      val fresh = files.filterNot(seen)
      seen = files.toSet
      id -> fresh
    }
  }

  /** Applies a whole directory of binlog files as one
    * `Trigger.AvailableNow` stream; returns its wall time. */
  def catchUp(s: SparkSession, ctx: Ctx, name: String, backlog: File, tableDir: File, ckpt: File): Double = {
    val t0 = System.nanoTime()
    val q = startStream(s, ctx, name, backlog, tableDir, ckpt, Trigger.AvailableNow())(_ => ())
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  /** The set-up both workloads share. The backlog files (the
    * schedule's entries due before the clock starts) are written and
    * the standing table is bulk-imported, `setup_reps` times from
    * scratch; then a non-empty backlog is applied once as a
    * `Trigger.AvailableNow` catch-up -- a replica back from downtime. */
  def setUp(s: SparkSession, ctx: Ctx, table: File): Unit = {
    val backlog = schedule(ctx).filter(_.dueS < 0)
    val dir = ctx.dir("backlog")
    ctx.put("setup_s", (0 until ctx.int("setup_reps")).map { _ =>
      deleteTree(table); deleteTree(dir); dir.mkdirs()
      val t0 = System.nanoTime()
      backlog.foreach(writeFile(dir, _))
      bootstrap(s, table, ctx.long("standing_txns"))
      (System.nanoTime() - t0) / 1e9
    })
    if (backlog.nonEmpty)
      ctx.put("catchup_s", catchUp(s, ctx, "catchup", dir, table, ctx.dir("catchup-ckpt")))
  }

  // --- replica_stream -------------------------------------------------

  def stream(s: SparkSession, ctx: Ctx): Unit = {
    val files = schedule(ctx).filter(_.dueS >= 0)
    val table = ctx.dir("table")
    setUp(s, ctx, table)
    val watch = ctx.dir("binlog"); val incoming = ctx.dir("incoming")
    watch.mkdirs(); incoming.mkdirs()
    val commits = new ConcurrentHashMap[Long, Double]()
    val q = startStream(s, ctx, "replica_stream", watch, table, ctx.dir("ckpt"),
      Trigger.ProcessingTime(0L)) { id => commits.put(id, System.nanoTime() / 1e9) }
    // open loop: file i is due at start + dueS; it is written under a
    // temporary name and renamed into the watched directory, and its
    // lag counts from the due time, however late the writer ran
    val start = System.nanoTime() / 1e9 + 1.0
    val late = mutable.ArrayBuffer.empty[Double]
    val writer = new Thread(() => files.foreach { f =>
      val wait = start + f.dueS - System.nanoTime() / 1e9
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      late += System.nanoTime() / 1e9 - (start + f.dueS)
      val tmp = writeFile(incoming, f)
      Files.move(tmp.toPath, new File(watch, f.name).toPath, StandardCopyOption.ATOMIC_MOVE)
    }, "graftbench-binlog-writer")
    writer.start()
    writer.join()
    q.processAllAvailable()
    q.stop()
    ctx.put("gen_late_s", late.toList)
    val due = files.map(f => f.name -> (start + f.dueS)).toMap
    ctx.put("batches", batchFiles(ctx.dir("ckpt")).map { case (id, names) =>
      Map("batch" -> id, "files" -> names,
        "lags_s" -> names.map(n => Option(commits.get(id)).map(_ - due(n))))
    })
    // after the window: lookups on the table the stream left, the dump
    // the output check reads, and the traced run's layer probes
    ctx.put("lookups", lookups(s, ctx, table, lookupKeys(ctx)))
    dumpTable(s, table, ctx.dir("out/table"))
    if (ctx.trace.enabled) probes(s, ctx, table, Seq(ctx.dir("backlog"), watch))
  }

  // --- shared by both workloads ----------------------------------------

  /** One `readRange(k, k).collect()` per key, each timed alone. */
  def lookups(s: SparkSession, ctx: Ctx, table: File, keys: Seq[Long]): Seq[Map[String, Any]] = {
    val layout = if (ctx.trace.enabled) Some(Layout.of(s, table)) else None
    keys.zipWithIndex.flatMap { case (k, i) =>
      ctx.op(s"lookup $k") {
        val t0 = System.nanoTime()
        val rows = ctx.trace.span("sink.lookup", s"lookup-$i") {
          CdcSink.readRange(s, table.getPath, k.toString, k.toString)
            .select("key", "title", "source_file").collect()
        }
        Map("key" -> k, "s" -> (System.nanoTime() - t0) / 1e9,
          "rows" -> rows.toList.map(r => List(r.getLong(0), r.getString(1),
            new Path(r.getString(2)).getName)),
          "files_covering" -> layout.map(_.covering(k)))
      }
    }
  }

  /** Full read of the table to the noop sink; returns its wall time. */
  def scan(s: SparkSession, ctx: Ctx, table: File, group: String): Double = {
    val t0 = System.nanoTime()
    ctx.trace.span("sink.scan", group) {
      CdcSink.read(s, table.getPath).write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  def dumpTable(s: SparkSession, table: File, out: File): Unit =
    CdcSink.read(s, table.getPath).select("key", "title", "source_file")
      .coalesce(1).write.mode("overwrite").parquet(out.getPath)

  /** Layer probes of the traced run: a single-threaded parse of every
    * binlog file (timed on its second pass), a batch scan of them to the
    * noop sink, and a full table scan. */
  def probes(s: SparkSession, ctx: Ctx, table: File, binlogDirs: Seq[File]): Unit = {
    val files = binlogDirs.flatMap(d => Option(d.listFiles()).toSeq.flatten).sortBy(_.getName)
    def parseAll(): (Long, Long) = {
      var events = 0L; var records = 0L
      files.foreach { f =>
        val in = new BufferedInputStream(new FileInputStream(f), 1 << 20)
        try {
          var lastPos = -1L
          BinlogParser.parseStream(in).foreach { d =>
            records += 1
            if (d.header.logPos != lastPos) { events += 1; lastPos = d.header.logPos }
          }
        } finally in.close()
      }
      (events, records)
    }
    parseAll()
    val t0 = System.nanoTime()
    val (events, records) = parseAll()
    val parseS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    if (files.nonEmpty) ctx.trace.span("binlog.scan", "binlog-scan") {
      s.read.format("binlog").load(binlogDirs.map(_.getPath): _*)
        .write.format("noop").mode("overwrite").save()
    }
    val scanS = if (files.nonEmpty) (System.nanoTime() - t1) / 1e9 else 0.0
    ctx.put("probes", Map("parse_bytes" -> files.map(_.length()).sum, "parse_events" -> events,
      "parse_records" -> records, "parse_s" -> parseS, "binlog_scan_s" -> scanS,
      "table_scan_s" -> scan(s, ctx, table, "table-scan"),
      "live_files" -> Layout.of(s, table).entries.size))
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A table's live files (from the current manifest) and the bytes of
  * its log and side files, taken by the traced run around each merge. */
final case class Layout(entries: Seq[TxnLog.Entry], logBytes: Long) {
  /** Live files whose key range covers `k`: what a point lookup opens. */
  def covering(k: Long): Int = entries.count(e =>
    (e.min.flatMap(_.toLongOption), e.max.flatMap(_.toLongOption)) match {
      case (Some(lo), Some(hi)) => lo <= k && k <= hi
      case _ => true
    })
}

object Layout {
  def of(s: SparkSession, table: File): Layout = {
    val fs = new Path(table.getPath).getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = TxnLog.current(fs, table.getPath).map(_.entries).getOrElse(Nil)
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
    val top = Option(table.listFiles()).toSeq.flatten
    val logBytes = top.filter(f => f.isFile || f.getName.startsWith("_")).map(bytes).sum
    Layout(entries, logBytes)
  }

  /** The manifest diff of one merge: files it rewrote and added, the
    * rows it wrote, and the log bytes it added. */
  private def footerRows(table: File, path: String): Long = {
    val p = new Path(table.getPath, path)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  def record(ctx: Ctx, table: File, group: String, before: Layout, after: Layout): Unit = {
    val was = before.entries.map(_.path).toSet
    val now = after.entries.map(_.path).toSet
    val added = after.entries.filterNot(e => was(e.path))
    ctx.result.synchronized {
      val prev = ctx.result.getOrElse("merge_layouts", Nil).asInstanceOf[List[Any]]
      ctx.result("merge_layouts") = prev :+ Map(
        "group" -> group,
        "live_before" -> was.size, "live_after" -> now.size,
        "touched" -> (was -- now).size, "added" -> added.size,
        "rows_written" -> added.map(e => e.rows.getOrElse(footerRows(table, e.path))).sum,
        "log_bytes_added" -> (after.logBytes - before.logBytes),
        "carried" -> (was & now).size)
    }
  }
}
