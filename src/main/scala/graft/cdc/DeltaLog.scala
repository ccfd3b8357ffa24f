package graft.cdc

import java.util.UUID
import scala.collection.immutable.VectorMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The [[CdcSink]] table's transaction log, and its only one: a
  * public-protocol Delta log under `_delta_log/` — the reference
  * sink's model (rust-cdc `src/delta/writer.rs:56-220`,
  * `src/delta/mod.rs:56-285`: add/remove actions, a checkpoint every
  * 10 commits). This object owns the format; [[TxnLog]] is the table
  * API over it.
  *
  * Protocol (single writer, any number of readers):
  *  - version 0 holds protocol(1,2) + metaData; data versions start
  *    at 1. Data files are plain parquet holding every user column
  *    (partitionColumns=[] — graft duplicates the partition column
  *    INTO the files), so any Delta reader can open the table;
  *  - a commit is published by writing `<v>.json` to a temp name and
  *    renaming it into place; a version that already exists makes the
  *    commit throw `ConcurrentModificationException`;
  *  - each commit carries, atomically with its data: add/remove
  *    actions (per-file key-range stats in `add.stats`), one `txn`
  *    action per source whose committed offset advanced (appId =
  *    source, version = max offset), and `commitInfo.mergeCount`, the
  *    number of merges so far, which sets the compaction cadence;
  *  - every [[CheckpointEvery]]-th version writes
  *    `<v>.checkpoint.parquet` (protocol, metaData, txn and add rows,
  *    stats included) and points `_last_checkpoint` at it.
  *
  * Resolving a version runs no Spark job: the checkpoint parquet is
  * read on the driver through parquet-hadoop, then the JSON commits
  * after it are probed one by one without listing the directory.
  * Reading a version scans exactly the files it lists: [[read]] and
  * [[TxnLog.readEntries]] build their scans through one file index
  * over the log's file list (`graftbridge.logScan`), so no read lists
  * a data directory either. DeltaLogSpec replays the log with an
  * independent reader of the public protocol and checks it against
  * [[TxnLog.read]] at every version.
  */
object DeltaLog {

  val LogDirName = "_delta_log"
  val CheckpointEvery = 10

  /** commitInfo operation of a sink merge: the commits counted by
    * `mergeCount`. */
  val MergeOp = "MERGE"

  // Delta action paths are RFC 2396 percent-encoded URIs relative to
  // the table root (the protocol's `path` spec): encode when WRITING
  // actions, decode only when RESOLVING to the filesystem — the
  // log-space strings stay encoded so add/remove set operations match
  // exactly. Simple names (alnum, '=', '-') are fixpoints of both.
  private[graft] def encodePath(p: String): String =
    new java.net.URI(null, null, p, null).toASCIIString

  /** A log path is ABSOLUTE (externally-located file, spec-allowed:
    * s3://…, hdfs://…, file:/…) only when it is a scheme-qualified
    * URI whose scheme-specific part starts with '/'. Scheme presence
    * alone is NOT enough: a relative filename whose first segment
    * contains a colon ('a:b.parquet' — legal on posix filesystems,
    * and exactly what Java's URI constructor emits un-guarded, so a
    * foreign writer can log it raw) parses as an opaque URI with
    * scheme 'a' and must stay relative.
    */
  private[graft] def isAbsoluteUri(p: String): Boolean =
    try {
      val u = new java.net.URI(p)
      u.getScheme != null && {
        val ssp = u.getRawSchemeSpecificPart
        ssp != null && ssp.startsWith("/")
      }
    } catch { case _: java.net.URISyntaxException => false }

  private[graft] def decodePath(p: String): String =
    if (isAbsoluteUri(p))
      try Option(new java.net.URI(p).getPath).getOrElse(p)
      catch { case _: java.net.URISyntaxException => p }
    else
      // './' guard makes a colon-bearing first segment parse as a
      // PATH rather than a scheme; strip any './' prefixes after so
      // 'a:b.parquet', './a:b.parquet' and 'a%3Ab.parquet' all
      // normalize to the same key
      try {
        var r = new java.net.URI("./" + p).getPath
        while (r.startsWith("./")) r = r.substring(2)
        r
      } catch { case _: java.net.URISyntaxException => p }

  /** Canonical live-set key for an action path: absolute-URI paths
    * keep their full form; relative paths are percent-DECODED so the
    * raw paths a pre-encoding writer logged and the encoded form the
    * current writer logs collide onto the same key — a remove always
    * cancels its add regardless of which era wrote which. For graft's
    * own files the key is the on-disk path relative to the table,
    * i.e. [[TxnLog.Entry.path]].
    */
  private[graft] def normPath(p: String): String =
    if (isAbsoluteUri(p)) p else decodePath(p)

  /** Filesystem location of a normalized live-set key. Relative keys
    * join through the scheme/authority/path constructor, NOT
    * Path(parent, child) — Hadoop's child parse would re-introduce
    * the colon-as-scheme ambiguity isAbsoluteUri just resolved.
    */
  private def resolvePath(tableDir: String, key: String): Path =
    if (isAbsoluteUri(key)) new Path(new java.net.URI(key))
    else {
      val u = new Path(tableDir).toUri
      val base = if (u.getPath.endsWith("/")) u.getPath else u.getPath + "/"
      new Path(u.getScheme, u.getAuthority, base + key)
    }

  def logDir(tableDir: String): Path = new Path(tableDir, LogDirName)

  private def versionFile(d: Path, v: Long): Path = new Path(d, f"$v%020d.json")

  /** Stable table id: derived from the table path so re-opens of the
    * same table agree without any side-channel state.
    */
  private def tableId(tableDir: String): String =
    UUID.nameUUIDFromBytes(
      ("graft:" + new Path(tableDir).toUri.getPath).getBytes("UTF-8")).toString

  // ---- table state ---------------------------------------------------

  /** One live file as its add action records it. `path` stays in log
    * space (percent-encoded); `partitionValues` maps column →
    * Some(value) | None (a JSON null / absent value is a NULL
    * partition value per the spec — graft's own adds carry none).
    */
  private[cdc] final case class AddFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      size: Long,
      modificationTime: Long,
      stats: Option[String])

  /** Table state at `version` (-1 = nothing read yet). `files` is
    * keyed by [[normPath]] and keeps insertion order, so a merge's
    * carried-forward files precede the files it added.
    */
  private[cdc] final case class Snapshot(
      version: Long,
      schemaJson: String,
      partitionCols: Seq[String],
      files: VectorMap[String, AddFile],
      txns: Map[String, Long],
      mergeCount: Long) {

    lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

    def manifest: TxnLog.Manifest = {
      val keyType = schema.fields.find(_.name == TxnLog.StatsKeyCol).map(_.dataType)
      TxnLog.Manifest(version, schemaJson,
        files.iterator.map { case (k, a) => entryOf(k, a, keyType) }.toSeq,
        txns, mergeCount)
    }
  }

  private val emptySnapshot = Snapshot(-1L, "", Nil, VectorMap.empty, Map.empty, 0L)

  private def applyActions(st: Snapshot, version: Long, actions: Seq[JValue]): Snapshot = {
    implicit val fmt: Formats = DefaultFormats
    actions.foldLeft(st.copy(version = version)) {
      case (s, JObject(List((kind, a)))) => kind match {
        case "add" =>
          val p = (a \ "path").extract[String]
          s.copy(files = s.files.updated(normPath(p), AddFile(p,
            partValues(a \ "partitionValues"),
            (a \ "size").extractOrElse[Long](0L),
            (a \ "modificationTime").extractOrElse[Long](0L),
            (a \ "stats").extractOpt[String])))
        case "remove" => s.copy(files = s.files - normPath((a \ "path").extract[String]))
        case "metaData" =>
          val parts = (a \ "partitionColumns") match {
            case JArray(items) => items.collect { case JString(c) => c }
            case _ => Nil
          }
          s.copy(schemaJson = (a \ "schemaString").extract[String], partitionCols = parts)
        case "txn" =>
          s.copy(txns = s.txns.updated((a \ "appId").extract[String], (a \ "version").extract[Long]))
        case "commitInfo" =>
          (a \ "mergeCount").extractOpt[Long].fold(s)(n => s.copy(mergeCount = n))
        case _ => s // protocol, unknown actions
      }
      case (s, _) => s
    }
  }

  private def partValues(jv: JValue): Map[String, Option[String]] = jv match {
    case JObject(fields) => fields.map {
      case (k, JString(v)) => k -> Some(v)
      case (k, _) => k -> None
    }.toMap
    case _ => Map.empty
  }

  /** The JSON actions of one commit file; None when it does not exist
    * (the probe that ends a replay). */
  private def readActions(fs: FileSystem, p: Path): Option[Seq[JValue]] = {
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    Some(txt.split('\n').filter(_.nonEmpty).toSeq.map(JsonMethods.parse(_)))
  }

  /** Table state at `upTo` (the latest version when None), resolved
    * the protocol-standard way: `_last_checkpoint` hint → checkpoint
    * parquet (read on the driver) → the JSON commits after it, probed
    * by name. None when nothing is readable: no log, or a log whose
    * version 0 is gone with no usable checkpoint, or `upTo` beyond
    * the latest version.
    */
  private[cdc] def snapshot(
      fs: FileSystem, tableDir: String, upTo: Option[Long] = None): Option[Snapshot] = {
    val d = logDir(tableDir)
    val fromCheckpoint = lastCheckpoint(fs, d).filter(s => upTo.forall(s.version <= _))
    var s = fromCheckpoint.getOrElse(emptySnapshot)
    var more = true
    while (more && upTo.forall(s.version < _))
      readActions(fs, versionFile(d, s.version + 1)) match {
        case Some(actions) => s = applyActions(s, s.version + 1, actions)
        case None => more = false
      }
    // a checkpoint holds no commitInfo: with no commit after it, the
    // merge count comes from the checkpointed version's own JSON
    if (fromCheckpoint.exists(_.version == s.version))
      s = readActions(fs, versionFile(d, s.version))
        .fold(s)(as => applyActions(s, s.version, as.filter(_ \ "commitInfo" != JNothing)))
    Some(s).filter(s => s.version >= 0 && upTo.forall(_ == s.version))
  }

  /** Normalized paths one commit adds and removes; None when the
    * version's JSON is gone. */
  private[cdc] def fileChanges(
      fs: FileSystem, tableDir: String, version: Long): Option[(Set[String], Set[String])] = {
    implicit val fmt: Formats = DefaultFormats
    readActions(fs, versionFile(logDir(tableDir), version)).map { actions =>
      def paths(kind: String) = actions.map(_ \ kind).collect {
        case a: JObject => normPath((a \ "path").extract[String])
      }.toSet
      (paths("add"), paths("remove"))
    }
  }

  // ---- writer --------------------------------------------------------

  private def protocolJson: JObject =
    JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2)))

  private def metaDataJson(tableDir: String, schema: StructType): JObject =
    JObject("metaData" -> JObject(
      "id" -> JString(tableId(tableDir)),
      "format" -> JObject(
        "provider" -> JString("parquet"),
        "options" -> JObject()),
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(Nil),
      "configuration" -> JObject(),
      "createdTime" -> JInt(BigInt(0))))

  /** Publish `actions` as version `v`: temp file, then rename. The
    * exists-check and rename run under a JVM-wide lock — a local
    * filesystem's rename would silently replace an existing version —
    * and HDFS-style renames refuse an existing target on their own.
    */
  private def publish(fs: FileSystem, tableDir: String, v: Long, actions: Seq[JObject]): Unit = {
    val d = logDir(tableDir)
    fs.mkdirs(d)
    val tmp = new Path(d, s".tmp-${UUID.randomUUID().toString.take(12)}.json")
    val out = fs.create(tmp, false)
    try out.write(actions.map(j => JsonMethods.compact(JsonMethods.render(j)))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    TxnLog.failpoint(TxnLog.Crash.BeforePublish)
    val target = versionFile(d, v)
    val won = synchronized { !fs.exists(target) && fs.rename(tmp, target) }
    if (!won) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"delta log: version $v of $tableDir is already committed")
    }
  }

  /** Commit `entries` as the complete live-file set of `version`,
    * together with the batch's per-source max `offsets`. Version 1
    * lays down version 0 first. Writes only what changed against the
    * current state: removes for dropped files, adds for new files or
    * files whose stats changed, metaData when the schema changed, a
    * txn per source whose offset advanced (offsets are monotone per
    * source: a batch from source B never moves source A's). `read` is
    * the state the caller already resolved (None resolves it here); a
    * writer that committed since then still fails the publish. Returns
    * the committed state.
    */
  private[cdc] def commit(
      fs: FileSystem,
      tableDir: String,
      version: Long,
      schema: StructType,
      entries: Seq[TxnLog.Entry],
      offsets: Map[String, Long],
      operation: String,
      read: Option[Snapshot] = None): Snapshot = {
    val prev = read.orElse(snapshot(fs, tableDir))
    val prevVersion = prev.map(_.version).getOrElse(-1L)
    if (prevVersion >= version)
      throw new java.util.ConcurrentModificationException(
        s"delta log: version $version of $tableDir is already committed")
    require(version == math.max(prevVersion, 0L) + 1,
      s"delta log: version $version of $tableDir would leave a gap after $prevVersion")
    val base = prev.getOrElse {
      val v0 = Seq(protocolJson, metaDataJson(tableDir, schema))
      publish(fs, tableDir, 0L, v0)
      applyActions(emptySnapshot, 0L, v0)
    }
    val keep = entries.map(_.path).toSet
    val actions = Seq.newBuilder[JObject]
    val mergeCount = base.mergeCount + (if (operation == MergeOp) 1 else 0)
    actions += JObject("commitInfo" -> JObject(
      "operation" -> JString(operation),
      "engineInfo" -> JString("graft"),
      "mergeCount" -> JInt(BigInt(mergeCount))))
    if (base.schemaJson != schema.json) actions += metaDataJson(tableDir, schema)
    offsets.foreach { case (src, off) =>
      if (base.txns.get(src).forall(_ < off))
        actions += JObject("txn" -> JObject(
          "appId" -> JString(src), "version" -> JInt(BigInt(off))))
    }
    base.files.foreach { case (k, a) =>
      if (!keep(k))
        actions += JObject("remove" -> JObject(
          "path" -> JString(a.path),
          "deletionTimestamp" -> JInt(BigInt(System.currentTimeMillis())),
          "dataChange" -> JBool(true)))
    }
    entries.foreach { e =>
      val stats = statsJson(e, schema)
      if (!base.files.get(e.path).exists(_.stats == stats)) {
        val (size, mtime) =
          if (e.size > 0) (e.size, e.modificationTime)
          else {
            val st = fs.getFileStatus(new Path(tableDir, e.path))
            (st.getLen, st.getModificationTime)
          }
        actions += JObject("add" -> JObject(List(
          "path" -> JString(encodePath(e.path)),
          "partitionValues" -> JObject(),
          "size" -> JInt(BigInt(size)),
          "modificationTime" -> JInt(BigInt(mtime)),
          "dataChange" -> JBool(true)) ::: stats.map(s => "stats" -> JString(s)).toList))
      }
    }
    val body = actions.result()
    publish(fs, tableDir, version, body)
    val committed = applyActions(base, version, body)
    if (version % CheckpointEvery == 0) writeCheckpoint(fs, tableDir, committed)
    committed
  }

  /** The Delta `stats` string for an entry: numRecords plus the key
    * column's min/max rendered at its schema type (numbers as JSON
    * numbers, booleans as booleans, everything else — string, date,
    * timestamp, decimal — as strings, matching how Delta writers
    * serialize those types in stats). Graft's internal canonical stat
    * form stores timestamps/dates as UTC epoch micros/days; those
    * render as the ISO-8601 strings the Delta spec expects, and
    * [[entryOf]] maps them back. NaN/Infinity float stats are OMITTED
    * — json4s would render the bare token `NaN`, invalid JSON that
    * breaks foreign readers, and a NaN bound cannot prune anyway.
    * None when the entry has no stats at all.
    */
  private def statsJson(e: TxnLog.Entry, schema: StructType): Option[String] = {
    val keyType = schema.fields.find(_.name == TxnLog.StatsKeyCol).map(_.dataType)
    def typed(v: String): Option[JValue] = keyType match {
      case Some(ByteType | ShortType | IntegerType | LongType) => Some(JInt(BigInt(v)))
      case Some(FloatType | DoubleType) =>
        val d = v.toDouble
        if (java.lang.Double.isFinite(d)) Some(JDouble(d)) else None
      case Some(BooleanType) => Some(JBool(v.toBoolean))
      case Some(TimestampType) => Some(JString(java.time.Instant.EPOCH
        .plus(v.toLong, java.time.temporal.ChronoUnit.MICROS).toString))
      case Some(DateType) => Some(JString(java.time.LocalDate.ofEpochDay(v.toLong).toString))
      case _ => Some(JString(v))
    }
    def bound(name: String, v: Option[String]) =
      v.flatMap(typed).map(tv => name -> (JObject(TxnLog.StatsKeyCol -> tv): JValue)).toList
    val fields = e.rows.map(n => "numRecords" -> (JInt(BigInt(n)): JValue)).toList :::
      bound("minValues", e.min) ::: bound("maxValues", e.max)
    if (fields.isEmpty) None else Some(JsonMethods.compact(JsonMethods.render(JObject(fields))))
  }

  /** A live file as a [[TxnLog.Entry]]: the partition fragment comes
    * from the file's `__gp=` directory, size and modification time
    * from its add action, the key range and row count from its stats,
    * mapped back to graft's canonical stat strings (the inverse of
    * [[statsJson]]). A bound that does not decode is dropped — the
    * file then never prunes, which is always sound.
    */
  private def entryOf(key: String, a: AddFile, keyType: Option[DataType]): TxnLog.Entry = {
    val part = key.split('/').find(_.startsWith(TxnLog.PartDirCol + "="))
      .map(_.substring(TxnLog.PartDirCol.length + 1))
    val plain = TxnLog.Entry(key, part, size = a.size, modificationTime = a.modificationTime)
    a.stats.map(JsonMethods.parse(_)) match {
      case None => plain
      case Some(js) =>
        def bound(name: String): Option[String] = for {
          kt <- keyType
          v <- (js \ name \ TxnLog.StatsKeyCol) match {
            case JString(s) => kt match {
              case TimestampType => scala.util.Try(java.time.temporal.ChronoUnit.MICROS
                .between(java.time.Instant.EPOCH, java.time.Instant.parse(s)).toString).toOption
              case DateType =>
                scala.util.Try(java.time.LocalDate.parse(s).toEpochDay.toString).toOption
              case _ => Some(s)
            }
            case JInt(n) => Some(n.toString)
            case JDouble(d) => Some(d.toString)
            case JBool(b) => Some(b.toString)
            case _ => None
          }
        } yield v
        val rows = (js \ "numRecords") match {
          case JInt(n) => Some(n.toLong)
          case _ => None
        }
        plain.copy(min = bound("minValues"), max = bound("maxValues"), rows = rows)
    }
  }

  // ---- checkpoints ---------------------------------------------------

  private val checkpointSchema = MessageTypeParser.parseMessageType(
    """message checkpoint {
      |  optional group txn { required binary appId (STRING); required int64 version; }
      |  optional group protocol { required int32 minReaderVersion; required int32 minWriterVersion; }
      |  optional group metaData {
      |    required binary id (STRING);
      |    optional group format {
      |      required binary provider (STRING);
      |      optional group options (MAP) {
      |        repeated group key_value { required binary key (STRING); optional binary value (STRING); } } }
      |    required binary schemaString (STRING);
      |    optional group partitionColumns (LIST) { repeated group list { optional binary element (STRING); } }
      |    optional group configuration (MAP) {
      |      repeated group key_value { required binary key (STRING); optional binary value (STRING); } }
      |    optional int64 createdTime;
      |  }
      |  optional group add {
      |    required binary path (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value { required binary key (STRING); optional binary value (STRING); } }
      |    required int64 size;
      |    required int64 modificationTime;
      |    required boolean dataChange;
      |    optional binary stats (STRING);
      |  }
      |}""".stripMargin)

  /** Write `s` as `<version>.checkpoint.parquet` on the driver (no
    * Spark job): temp file + rename, then replace the
    * `_last_checkpoint` hint. A crash anywhere in here leaves the
    * previous hint in place, and readers replay a few more JSON
    * commits.
    */
  private def writeCheckpoint(fs: FileSystem, tableDir: String, s: Snapshot): Unit = {
    val d = logDir(tableDir)
    val f = new SimpleGroupFactory(checkpointSchema)
    val tmp = new Path(d, s".tmp-${UUID.randomUUID().toString.take(12)}.checkpoint.parquet")
    // a few rows per file and no readers that skip pages: drop the
    // per-column statistics, which would dominate the file's size
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, fs.getConf))
      .withType(checkpointSchema).withConf(fs.getConf)
      .withStatisticsEnabled(false).withSizeStatisticsEnabled(false)
      .withDictionaryEncoding(false).build()
    var rows = 0
    def row(fill: Group => Unit): Unit = { val g = f.newGroup(); fill(g); w.write(g); rows += 1 }
    try {
      row(_.addGroup("protocol").append("minReaderVersion", 1).append("minWriterVersion", 2))
      row { g =>
        val md = g.addGroup("metaData")
        md.append("id", tableId(tableDir))
        md.addGroup("format").append("provider", "parquet").addGroup("options")
        md.append("schemaString", s.schemaJson)
        val pc = md.addGroup("partitionColumns")
        s.partitionCols.foreach(c => pc.addGroup("list").append("element", c))
        md.addGroup("configuration")
        md.append("createdTime", 0L)
      }
      s.txns.foreach { case (app, v) =>
        row(_.addGroup("txn").append("appId", app).append("version", v))
      }
      s.files.valuesIterator.foreach { a =>
        row { g =>
          val add = g.addGroup("add").append("path", a.path)
          val pv = add.addGroup("partitionValues")
          a.partitionValues.foreach { case (k, v) =>
            val kv = pv.addGroup("key_value").append("key", k)
            v.foreach(kv.append("value", _))
          }
          add.append("size", a.size).append("modificationTime", a.modificationTime)
            .append("dataChange", false)
          a.stats.foreach(add.append("stats", _))
        }
      }
    } finally w.close()
    TxnLog.failpoint(TxnLog.Crash.InCheckpoint)
    val target = new Path(d, f"${s.version}%020d.checkpoint.parquet")
    if (fs.exists(target) || !fs.rename(tmp, target)) fs.delete(tmp, false)
    val hint = JsonMethods.compact(JsonMethods.render(JObject(
      "version" -> JInt(BigInt(s.version)), "size" -> JInt(BigInt(rows)))))
    // replace the hint via tmp + delete + rename: a reader in the
    // window sees either the old hint, no hint (→ full replay), or
    // the new hint — never a torn half-write (the hint parse also
    // tolerates garbage and falls back, belt and braces)
    val hintTmp = new Path(d, s".tmp-${UUID.randomUUID().toString.take(12)}.last_checkpoint")
    val out = fs.create(hintTmp, false)
    try out.write(hint.getBytes("UTF-8")) finally out.close()
    val hintTarget = new Path(d, "_last_checkpoint")
    fs.delete(hintTarget, false)
    if (!fs.rename(hintTmp, hintTarget)) fs.delete(hintTmp, false)
  }

  private[graft] val CheckpointCacheSize = 16

  /** The last checkpoint read per log dir, with the (path, length,
    * modification time) of its files. A checkpoint never changes once
    * renamed into place, and every merge and lookup resolves the
    * current version through it: decoding the parquet costs ~1.5 ms
    * on a 4-core host, a status check ~20 µs. A newer checkpoint, or a
    * table recreated at the same path, changes the identity and is
    * read afresh. The cache holds the [[CheckpointCacheSize]] most
    * recently read tables: a process that makes a table per run (a
    * suite timer's sink entries) would otherwise keep every table's
    * decoded snapshot for its whole life, and a live table is read on
    * every merge, so it stays cached.
    */
  private val checkpoints = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Path, (Seq[(String, Long, Long)], Snapshot)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Path, (Seq[(String, Long, Long)], Snapshot)]): Boolean =
        size > CheckpointCacheSize
    })

  private[graft] def cachedCheckpoints: Int = checkpoints.size

  /** The state `_last_checkpoint` points at, read on the driver. The
    * hint is best-effort by spec: a torn or stale hint (a missing
    * checkpoint file or part), or a checkpoint format we do not read
    * (v2/sidecar), degrades to the JSON replay instead of failing.
    */
  private def lastCheckpoint(fs: FileSystem, d: Path): Option[Snapshot] = {
    implicit val fmt: Formats = DefaultFormats
    val hint: Option[(Long, Option[Int])] =
      try readActions(fs, new Path(d, "_last_checkpoint")).flatMap(_.headOption).map(j =>
        ((j \ "version").extract[Long], (j \ "parts").extractOpt[Int]))
      catch { case scala.util.control.NonFatal(_) => None }
    hint.flatMap { case (v, parts) =>
      // classic single-file or multi-part checkpoint names (public spec)
      val files = parts match {
        case Some(n) => (1 to n).map(i =>
          new Path(d, f"$v%020d.checkpoint.$i%010d.$n%010d.parquet"))
        case None => Seq(new Path(d, f"$v%020d.checkpoint.parquet"))
      }
      val status = files.map(f =>
        try Some(fs.getFileStatus(f)) catch { case _: java.io.FileNotFoundException => None })
      if (status.contains(None)) None
      else {
        val id = status.flatten.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        Option(checkpoints.get(d)).filter(_._1 == id).map(_._2).orElse {
          val s = files.foldLeft(emptySnapshot.copy(version = v)) { (s, f) =>
            // the InputFile builder: the Path one re-derives its read
            // options from the Hadoop conf, ~10x slower on this hot path
            val r = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(f, fs.getConf)) {
              override def getReadSupport() = new GroupReadSupport()
            }.build()
            try Iterator.continually(r.read()).takeWhile(_ != null).foldLeft(s)(applyCheckpointRow)
            finally r.close()
          }
          checkpoints.put(d, (id, s))
          Some(s)
        }
      }
    }
  }

  private def applyCheckpointRow(s: Snapshot, g: Group): Snapshot = {
    def child(g: Group, name: String): Option[Group] =
      if (g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0)
        Some(g.getGroup(name, 0)) else None
    def str(g: Group, name: String): Option[String] =
      if (g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0)
        Some(g.getString(name, 0)) else None
    def long(g: Group, name: String): Long =
      if (g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0)
        g.getLong(name, 0) else 0L
    // MAP and LIST groups wrap one repeated field; read it by
    // position so any writer's naming (key_value/map, list/array) works
    def repeated(g: Option[Group]): Seq[Group] =
      g.toSeq.flatMap(m => (0 until m.getFieldRepetitionCount(0)).map(m.getGroup(0, _)))
    child(g, "add").map { a =>
      val path = str(a, "path").get
      val pv = repeated(child(a, "partitionValues")).map(kv =>
        kv.getString(0, 0) -> (if (kv.getFieldRepetitionCount(1) > 0) Some(kv.getString(1, 0)) else None))
      s.copy(files = s.files.updated(normPath(path),
        AddFile(path, pv.toMap, long(a, "size"), long(a, "modificationTime"), str(a, "stats"))))
    }.orElse(child(g, "txn").map { t =>
      s.copy(txns = s.txns.updated(str(t, "appId").get, long(t, "version")))
    }).orElse(child(g, "metaData").map { md =>
      val parts = child(md, "partitionColumns").toSeq.flatMap { l =>
        (0 until l.getFieldRepetitionCount(0)).map { i =>
          if (l.getType.getType(0).isPrimitive) l.getString(0, i)
          else l.getGroup(0, i).getString(0, 0)
        }
      }
      s.copy(schemaJson = str(md, "schemaString").get, partitionCols = parts)
    }).getOrElse(s)
  }

  // ---- reader: open a Delta table via the public protocol ----------

  /** Read a Delta table at its latest version through the public
    * protocol (checkpoint + JSON actions) — the cross-engine read
    * path, for graft-written and foreign tables alike. It scans
    * exactly the files the log lists, through the same file index as
    * [[TxnLog.readEntries]], and lists no directory. A foreign
    * writer's add `size` is not trusted: each file is looked up on the
    * driver, so a file gone behind the log raises here, naming it. A
    * foreign PARTITIONED table's partition columns come from each add
    * action's partitionValues, cast to the column type (a null value
    * stays null), and the scan prunes its files on filters over them.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = snapshot(fs, tableDir).getOrElse(throw new IllegalArgumentException(
      s"delta read: no readable _delta_log under $tableDir (version 0 gone and no usable checkpoint)"))
    stateFrame(spark, tableDir, st)
  }

  /** Read AS OF `version` — delta time travel over the action log. */
  def readVersion(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = snapshot(fs, tableDir, Some(version)).getOrElse(throw new IllegalArgumentException(
      s"delta read: version $version of $tableDir is not in the log"))
    stateFrame(spark, tableDir, st)
  }

  private def stateFrame(spark: SparkSession, tableDir: String, st: Snapshot): DataFrame = {
    require(st.schemaJson.nonEmpty, "delta read: no metaData action found")
    val schema = st.schema
    val parts = StructType(st.partitionCols.map(schema(_)))
    val data = StructType(schema.filterNot(f => st.partitionCols.contains(f.name)))
    // each distinct partitionValues tuple, cast to the column types once
    def tuple(a: AddFile) = st.partitionCols.map(a.partitionValues.get(_).flatten)
    val tuples = st.files.valuesIterator.map(tuple).toSeq.distinct
    val typed = tuples.zip(graftbridge.evalLocal(spark,
      StructType(parts.map(_.copy(dataType = StringType))),
      tuples.map(t => InternalRow.fromSeq(t.map(_.map(UTF8String.fromString).orNull))),
      parts.map(f => col(f.name).cast(f.dataType)): _*)).toMap
    graftbridge.logScan(spark, data, parts, st.files.iterator.map { case (k, a) =>
      graftbridge.LogFile(resolvePath(tableDir, k), None, typed(tuple(a)))
    }.toSeq).select(schema.fieldNames.toSeq.map(col): _*)
  }
}
