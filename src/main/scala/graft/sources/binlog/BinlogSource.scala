package graft.sources.binlog

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource v2 for MySQL binlog files: `spark.read.format("binlog")
  * .load("/path/to/binlogs")` → one row per event (row events: one
  * row per data row).
  *
  * The unit of parallelism is the file — binlogs are sequential
  * per-source logs, so a 1000-executor backfill reads 1000 files
  * concurrently, one InputPartition each; within a file parsing is a
  * single linear pass (the format is a byte-stream, unsplittable
  * without an index, like gzip).
  *
  * Replaces the reference's socket replica loop (rust-cdc
  * `src/mysql/conn.rs`) for the at-rest half of CDC; the live half is
  * [[graft.cdc.CdcStream]].
  */
class BinlogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "binlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BinlogSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BinlogTable(properties.asScala.toMap)
}

object BinlogSource {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("log_pos", LongType),
    StructField("ts", LongType),
    StructField("server_id", LongType),
    StructField("event_type", StringType),
    StructField("table_id", LongType),
    StructField("schema_name", StringType),
    StructField("table_name", StringType),
    StructField("op", StringType),
    StructField("row_index", IntegerType),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("query", StringType),
    StructField("gtid", StringType),
    StructField("xid", LongType),
    StructField("int_value", LongType),
    StructField("next_binlog", StringType)))

  /** Convenience reader. */
  def events(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binlog").load(path)
}

class BinlogTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"binlog(${properties.getOrElse("path", "")})"
  override def schema(): StructType = BinlogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BinlogScanBuilder(options.asScala.toMap ++ properties)
}

class BinlogScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources.Filter

  private var required: StructType = BinlogSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve canonical field order; empty projection (count(*))
    // keeps one cheap column so rows still materialize
    val names = requiredSchema.fieldNames.toSet
    val pruned = StructType(BinlogSource.schema.fields.filter(f => names(f.name)))
    required = if (pruned.isEmpty) StructType(BinlogSource.schema.fields.take(1)) else pruned
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition(BinlogFilters.pushable)
    pushed = accepted
    // residual stays with Spark; ACCEPTED filters are fully enforced
    // by BinlogPartitionReader.keep() — Spark trusts the source for
    // anything omitted from the returned array, so keep() must stay
    // in lockstep with BinlogFilters.pushable
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new BinlogScan(options, required, pushed)
}

/** The source's pushable-filter dialect: equality / IN / startsWith /
  * IsNotNull on the string dispatch columns, plus And/Or trees of
  * those — the shape [[graft.cdc.MatchStrategy.matchesCols]] compiles
  * a finite `db.table` subscription to. Evaluated on the decoded
  * event BEFORE row materialization (string compares only — cheap),
  * so a non-matching table's rows are skipped at the reader, like
  * the reference filtering before its listener fires (rust-cdc
  * `src/mysql/mod.rs:21-90`).
  */
object BinlogFilters {
  import org.apache.spark.sql.sources._

  // the columns known before materializing row images
  private val pushableCols = Set("event_type", "table_name", "schema_name", "op")

  def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => pushableCols(a)
    case In(a, vs) => pushableCols(a) && vs.forall(_.isInstanceOf[String])
    case IsNull(a) => pushableCols(a)
    case IsNotNull(a) => pushableCols(a)
    case StringStartsWith(a, _) => pushableCols(a)
    case And(l, r) => pushable(l) && pushable(r)
    case Or(l, r) => pushable(l) && pushable(r)
    case _ => false
  }

  def eval(f: Filter, fieldOf: String => String): Boolean = f match {
    case EqualTo(a, v: String) => fieldOf(a) == v
    case In(a, vs) => vs.contains(fieldOf(a))
    case IsNull(a) => fieldOf(a) == null
    case IsNotNull(a) => fieldOf(a) != null
    case StringStartsWith(a, prefix) =>
      val v = fieldOf(a); v != null && v.startsWith(prefix)
    case And(l, r) => eval(l, fieldOf) && eval(r, fieldOf)
    case Or(l, r) => eval(l, fieldOf) || eval(r, fieldOf)
    case _ => true // unknown: keep, Spark re-applies residuals anyway
  }
}

/** Kafka-`subscribe`-style SOURCE OPTIONS: `subscribe.databases` /
  * `subscribe.tables` (comma-separated literal lists; `*` or absent
  * = everything). Spark never applies Catalyst filter pushdown to
  * STREAMING DSv2 scans (MicroBatchExecution builds the scan
  * directly, no V2ScanRelationPushDown pass), so a replica-style
  * subscription expressed as a DataFrame filter is evaluated only
  * AFTER the reader materialized every foreign table's rows. These
  * options compile to the same reader-level Filter dialect the batch
  * pushdown uses and ride the scan into BOTH paths.
  *
  * Events that carry no table (XID, GTID, FORMAT_DESCRIPTION,
  * HEARTBEAT…) always pass — consumers need transaction boundaries
  * and control flow whatever they subscribe to, exactly like the
  * reference's listener (rust-cdc src/mysql/mod.rs:21-90).
  * Wildcard PATTERNS (beyond a bare `*`) are not accepted here —
  * use [[graft.cdc.MatchStrategy.matchesCols]] as a DataFrame
  * filter, which pushes down on batch reads.
  */
object BinlogSubscription {
  import org.apache.spark.sql.sources._

  def filters(options: Map[String, String]): Array[Filter] = {
    def list(key: String): Seq[String] = options.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def sub(colName: String, vs: Seq[String]): Option[Filter] =
      if (vs.isEmpty || vs.contains("*")) None
      else {
        require(vs.forall(!_.contains("*")),
          s"subscribe option for $colName takes literal comma lists " +
            "or '*'; wildcard patterns go through " +
            "MatchStrategy.matchesCols DataFrame filters")
        Some(Or(IsNull(colName), In(colName, vs.toArray)))
      }
    (sub("schema_name", list("subscribe.databases")) ++
      sub("table_name", list("subscribe.tables"))).toArray
  }
}

final case class BinlogInputPartition(path: String) extends InputPartition

class BinlogScan(
    options: Map[String, String],
    required: StructType,
    val pushedDown: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {
  // readers evaluate Catalyst-pushed filters AND the option-derived
  // subscription; only the former is REPORTED via pushedFilters()
  // (Spark re-applies residuals for those — the subscription is the
  // source's own contract, like Kafka's subscribe)
  private def filters = pushedDown ++ BinlogSubscription.filters(options)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BinlogMicroBatchStream(options, required, filters)

  override def planInputPartitions(): Array[InputPartition] =
    BinlogScan.listFiles(options).map(BinlogInputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(required, filters)
}

object BinlogScan {
  /** The session's Hadoop conf (spark.hadoop.* — credentials, fs
    * implementations) when a session is active; default otherwise.
    */
  def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** MySQL's binlog file name: `<base>.<6+ digits>`. The index file,
    * DDL scripts and markers that share a binlog directory never
    * match. */
  private val BinlogName = """[^/]+\.\d{6,}""".r

  /** Expand path/glob options to concrete binlog file paths,
    * name-sorted — binlog files rotate with lexicographically
    * increasing suffixes (mysql-bin.000001, …), so name order IS
    * commit order. Only names of MySQL's binlog form are kept. A path
    * that does not exist, or a glob that matches nothing, raises
    * FileNotFoundException naming it; an existing directory without
    * binlog files lists as empty (a stream may tail a directory that
    * starts empty).
    */
  def listFiles(options: Map[String, String]): Seq[String] = {
    val paths = options.get("paths")
      .map(p => p.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .orElse(options.get("path").map(Seq(_)))
      .getOrElse(Seq.empty)
    val conf = sessionHadoopConf()
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      // glob first (handles plain paths too), then expand directories
      val globbed = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      if (globbed.isEmpty)
        throw new java.io.FileNotFoundException(
          s"binlog path does not exist or matches no file: $p")
      val stats = globbed.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
      }
      stats.filter(s => s.isFile && BinlogName.matches(s.getPath.getName))
        .map(_.getPath.toString)
    }.sorted
  }
}

/** Streaming flavor: the offset is "how many (name-sorted) files are
  * fully processed". Rotation appends new files with larger names →
  * each micro-batch reads exactly the newly appeared files, mirroring
  * how a replica tails the binlog index. Files are immutable once
  * rotated, so replay from a committed offset is deterministic.
  */
class BinlogMicroBatchStream(
    options: Map[String, String],
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // With skipActiveFile=true the largest-named file is assumed to be
  // the one the server is still writing and is withheld until a later
  // file appears (rotation makes binlogs immutable). Default false:
  // this source's contract is rotated/shipped (immutable) files — a
  // file read in a batch is marked done and appended bytes would be
  // missed.
  private val skipActive =
    options.getOrElse("skipActiveFile", "false").toBoolean

  private def snapshot(): Seq[String] = {
    val files = BinlogScan.listFiles(options)
    if (skipActive && files.nonEmpty) files.init else files
  }

  override def initialOffset(): Offset = BinlogFileOffset(Nil)
  override def latestOffset(): Offset = BinlogFileOffset(snapshot())
  override def deserializeOffset(json: String): Offset =
    BinlogFileOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val done = start.asInstanceOf[BinlogFileOffset].files.toSet
    end.asInstanceOf[BinlogFileOffset].files
      .filterNot(done)
      .map(BinlogInputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogReaderFactory(required, filters)
}

final case class BinlogFileOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object BinlogFileOffset {
  def fromJson(json: String): BinlogFileOffset = {
    val files = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
    BinlogFileOffset(files)
  }
}

class BinlogReaderFactory(
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  // driver-side conf captured at planning, shipped to executors
  private val confBytes: Array[Byte] = {
    val conf = BinlogScan.sessionHadoopConf()
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.DataOutputStream(bos)
    conf.write(oos); oos.close()
    bos.toByteArray
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val conf = new Configuration(false)
    conf.readFields(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(confBytes)))
    new BinlogPartitionReader(partition.asInstanceOf[BinlogInputPartition].path, conf, required, filters)
  }
}

class BinlogPartitionReader(
    path: String,
    conf: Configuration,
    required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  // pushed-filter evaluation on the decoded event, before any row
  // materialization (string compares only — cheap)
  private def fieldOf(e: BinlogParser.Decoded)(a: String): String = a match {
    case "event_type" => e.typeName
    case "table_name" => e.tableName
    case "schema_name" => e.schemaName
    case "op" => e.op
    case _ => null
  }

  private def keep(e: BinlogParser.Decoded): Boolean =
    filters.forall(BinlogFilters.eval(_, fieldOf(e)))

  // conjuncts referencing ONLY schema_name/table_name can gate row
  // decode inside the parser (before any image materialization);
  // the rest still apply post-decode via keep()
  private val tableOnly =
    filters.filter(_.references.forall(Set("schema_name", "table_name")))
  private def tableKeep(schema: String, table: String): Boolean =
    tableOnly.forall(BinlogFilters.eval(_, {
      case "schema_name" => schema
      case "table_name" => table
      case _ => null
    }))
  // column pruning: per-field extractors selected once, not per row
  private val extractors: Array[BinlogParser.Decoded => Any] =
    required.fieldNames.map {
      case "file" => (_: BinlogParser.Decoded) => UTF8String.fromString(path)
      case "log_pos" => (e: BinlogParser.Decoded) => e.header.logPos
      case "ts" => (e: BinlogParser.Decoded) => e.header.timestamp
      case "server_id" => (e: BinlogParser.Decoded) => e.header.serverId
      case "event_type" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.typeName)
      case "table_id" => (e: BinlogParser.Decoded) => e.tableId
      case "schema_name" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.schemaName)
      case "table_name" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.tableName)
      case "op" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.op)
      case "row_index" => (e: BinlogParser.Decoded) => e.rowIndex
      case "before" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.before)
      case "after" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.after)
      case "query" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.query)
      case "gtid" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.gtid)
      case "xid" => (e: BinlogParser.Decoded) => e.xid
      case "int_value" => (e: BinlogParser.Decoded) => e.intValue
      case "next_binlog" => (e: BinlogParser.Decoded) => UTF8String.fromString(e.nextBinlog)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
  // the open stream behind `events` — closed by close() (Spark calls
  // it after the scan)
  private var in: org.apache.hadoop.fs.FSDataInputStream = _

  private lazy val events: Iterator[BinlogParser.Decoded] = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    in = fs.open(hp)
    // a listed file is a binlog by name; one without the magic is an
    // error, never an empty result
    val magic = new Array[Byte](4)
    val isBinlog =
      try { in.readFully(0, magic); magic.sameElements(BinlogParser.Magic) }
      catch { case _: java.io.EOFException => false }
    if (!isBinlog) throw new java.io.IOException(s"not a binlog file (no binlog magic): $path")
    // STREAMING parse: O(event) task memory — the reader never holds
    // the file's bytes or its full decoded row set, so 32 concurrent
    // 1 GiB-file tasks cost ~32 events of heap, not ~32 GiB of buffers
    in.seek(0)
    BinlogParser.parseStream(
      new java.io.BufferedInputStream(in, 1 << 16), tableKeep).filter(keep)
  }
  private var current: BinlogParser.Decoded = _

  override def next(): Boolean =
    if (events.hasNext) { current = events.next(); true } else false

  override def get(): InternalRow = {
    val e = current
    InternalRow.fromSeq(extractors.map(f => f(e)).toSeq)
  }

  override def close(): Unit =
    if (in != null) { in.close(); in = null }
}
