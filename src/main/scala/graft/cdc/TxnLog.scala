package graft.cdc

import java.util.UUID
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Table API of the [[CdcSink]] snapshot store over its transaction
  * log, [[DeltaLog]] (`_delta_log/`, which owns the format).
  *
  * Protocol (single writer, any number of readers):
  *  1. a commit writes its data into a FRESH commit directory
  *     (`c-<version>-<uuid>/`) under the table dir — existing files
  *     are never modified or overwritten;
  *  2. [[commit]] publishes the version's live-file set, per-file key
  *     stats and per-source offsets as ONE Delta commit (temp file +
  *     rename; an existing version fails → concurrent-writer
  *     detection), so data and offsets become visible together;
  *  3. readers resolve the latest version and read exactly the files
  *     it lists — a reader racing a merge sees either the old or the
  *     new version, never a half-written directory;
  *  4. a crash before (2) leaves an orphan commit dir no version
  *     references; [[vacuum]] (run at the compaction cadence) removes
  *     orphans and superseded commit dirs, which ends time travel to
  *     the versions that listed them.
  *
  * A live file's partition value is its `__gp=` directory, so a
  * partition-pruned merge selects files without listing directories.
  */
object TxnLog {

  /** Partition-directory column used inside commit dirs. The user's
    * partition column is DUPLICATED into it before `partitionBy`, so
    * data files keep the original column and logged files can be
    * read directly (no partition-discovery basePath games).
    */
  val PartDirCol = "__gp"

  /** One live data file. `partition` is the Hive-ESCAPED directory
    * fragment (`p%202`, `__HIVE_DEFAULT_PARTITION__`), matching
    * [[CdcSink.hivePartName]] output; None for unpartitioned tables.
    * `min`/`max` are the file's key-column range (the typed min/max,
    * canonically stringified — Delta-style per-file stats): a merge
    * prunes files whose range no batch key can hit. None when the
    * table has no stats-able key column, the file's keys are all
    * null, or the file was committed without stats — all read as
    * "cannot prune, always rewrite" (conservative, never wrong).
    * `size` and `modificationTime` are the file's status as its add
    * action records it (0 when unknown): [[readEntries]] builds its
    * file index from them instead of asking the filesystem.
    */
  final case class Entry(
      path: String,
      partition: Option[String],
      min: Option[String] = None,
      max: Option[String] = None,
      rows: Option[Long] = None,
      size: Long = 0L,
      modificationTime: Long = 0L)

  /** A committed version: its schema, live files, per-source
    * committed offsets and the number of merges committed so far. */
  final case class Manifest(
      version: Long,
      schemaJson: String,
      entries: Seq[Entry],
      offsets: Map[String, Long] = Map.empty,
      mergeCount: Long = 0L) {
    lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Test-only failpoints, each simulating a process crash at one step
    * of a commit: after the data files are written, before the log
    * publish, after the publish (before compaction or vacuum), and
    * inside the checkpoint write.
    */
  private[graft] object Crash extends Enumeration {
    val AfterDataWrite, BeforePublish, AfterPublish, InCheckpoint = Value
  }
  private[graft] var crashAt: Option[Crash.Value] = None

  private[cdc] def failpoint(at: Crash.Value): Unit =
    if (crashAt.contains(at)) throw new RuntimeException(s"txnlog: injected crash at $at")

  /** Latest committed data version, if the table has one. */
  def current(fs: FileSystem, tableDir: String): Option[Manifest] =
    DeltaLog.snapshot(fs, tableDir).filter(_.version >= 1).map(_.manifest)

  /** A version is retained while every commit dir it lists is still
    * on disk ([[vacuum]] deletes whole dirs). */
  private def retained(fs: FileSystem, tableDir: String, paths: Iterable[String],
      seen: scala.collection.mutable.Map[String, Boolean]): Boolean =
    paths.iterator.map(_.split('/').head).forall(d =>
      seen.getOrElseUpdate(d, fs.exists(new Path(tableDir, d))))

  /** Retained data versions, ascending: walking back from the latest,
    * the versions up to the first one [[vacuum]] has made unreadable.
    */
  def versions(fs: FileSystem, tableDir: String): Seq[Long] =
    DeltaLog.snapshot(fs, tableDir) match {
      case None => Nil
      case Some(s) =>
        val seen = scala.collection.mutable.Map.empty[String, Boolean]
        @scala.annotation.tailrec
        def walk(v: Long, live: Set[String], acc: List[Long]): List[Long] =
          if (v < 1 || !retained(fs, tableDir, live, seen)) acc
          else DeltaLog.fileChanges(fs, tableDir, v) match {
            case None => v :: acc
            case Some((added, removed)) => walk(v - 1, live -- added ++ removed, v :: acc)
          }
        walk(s.version, s.files.keySet, Nil)
    }

  /** Manifest at a specific historical version (time travel), if it
    * is still retained. [[vacuum]] reclaims superseded commit dirs at
    * the compaction cadence, so the travel horizon = commits since
    * the last compaction — the same horizon the reference's
    * checkpoint-every-10-commits delta log keeps cheap to reach.
    */
  def manifestAt(fs: FileSystem, tableDir: String, version: Long): Option[Manifest] =
    if (version < 1) None
    else DeltaLog.snapshot(fs, tableDir, Some(version)).map(_.manifest).filter(m =>
      retained(fs, tableDir, m.entries.map(_.path), scala.collection.mutable.Map.empty))

  /** The manifest a read resolves: `version`'s (time travel) when
    * given, else the latest. Throws naming the table when there is
    * none — a version never committed or already vacuumed, or a table
    * with no committed version at all (a first commit that crashed
    * leaves only unpublished commit dirs). A read must not silently
    * fall back to a different state of the data.
    */
  private[cdc] def resolve(fs: FileSystem, tableDir: String, version: Option[Long]): Manifest =
    version match {
      case Some(v) => manifestAt(fs, tableDir, v).getOrElse(
        throw new IllegalArgumentException(
          s"txnlog: version $v of $tableDir is not readable " +
            s"(never committed, or vacuumed; retained: ${versions(fs, tableDir).mkString(",")})"))
      case None => current(fs, tableDir).getOrElse(
        throw new IllegalArgumentException(s"txnlog: $tableDir has no committed version"))
    }

  /** Read the table AS OF `version` ([[resolve]]'s contract). */
  def readVersion(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = resolve(fs, tableDir, Some(version))
    readEntries(spark, tableDir, m.entries, m.schema)
  }

  /** Publish `entries` as the complete live-file set of `version`,
    * with the batch's per-source max `offsets`, in one log commit
    * (see [[DeltaLog.commit]]). Throws
    * `ConcurrentModificationException` if that version already
    * exists (a concurrent writer won). Returns the committed version.
    */
  def commit(
      fs: FileSystem,
      tableDir: String,
      version: Long,
      schema: StructType,
      entries: Seq[Entry],
      offsets: Map[String, Long] = Map.empty,
      operation: String = "WRITE"): Manifest =
    DeltaLog.commit(fs, tableDir, version, schema, entries, offsets, operation).manifest

  /** Size target for commit/compaction output files, in records: no
    * file holds more (`maxRecordsPerFile`), and a full-table write
    * gives a partition value of n records ceil(n/target) write tasks
    * ([[CdcSink]]'s layout rule).
    */
  val TargetRecordsPerFile: Long = 2L * 1000 * 1000

  /** Write `df` into a fresh commit directory for `version`, as the
    * caller laid it out: one file per task and partition value
    * (`partitionBy(__gp)` when partitioned), each cut at
    * `targetRecordsPerFile` records. Returns its entries (paths
    * relative to the table dir) with their stats; nothing is visible
    * to readers until [[commit]] publishes them.
    */
  def writeCommitDir(
      df: DataFrame,
      tableDir: String,
      partitionCol: Option[String],
      version: Long,
      targetRecordsPerFile: Long = TargetRecordsPerFile,
      computeStats: Boolean = true): Seq[Entry] = {
    val spark = df.sparkSession
    val dirName = s"c-$version-${UUID.randomUUID().toString.take(8)}"
    val dest = new Path(tableDir, dirName)
    val writer = partitionCol match {
      case Some(p) => df.withColumn(PartDirCol, col(p)).write.partitionBy(PartDirCol)
      case None => df.write
    }
    writer.option("maxRecordsPerFile", targetRecordsPerFile).parquet(dest.toString)
    failpoint(Crash.AfterDataWrite)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = listParquet(fs, dest)
    val files = statuses.map(_.getPath)
    // Per-file row count and key-range stats (partitioned tables
    // prune first on the partition value, then on these within
    // touched partitions). Every commit takes its row counts, and the
    // common key types' ranges, from the just-written parquet FOOTERS
    // on the driver (no Spark job; ~ms per file). A bulk commit
    // (computeStats) with many files or another stats-able key type
    // pays one single-column scan of the commit dir instead —
    // O(new data), never O(table). Increment commits
    // (computeStats=false) never run that scan, and the caller may
    // fill in a coarser range.
    val keyType = df.schema.fields
      .find(f => f.name == StatsKeyCol && statsSupported(f.dataType))
      .map(_.dataType)
    val footerKey = keyType.filter(footerStatsDecodable)
    val stats: Map[(Option[String], String), (Option[String], Option[String], Long)] =
      if (files.isEmpty) Map.empty
      else keyType match {
        case Some(kt) if computeStats &&
            (footerKey.isEmpty || files.length > FooterStatsMaxFiles) =>
          fileKeyStats(spark, dest, kt)
        case _ => fileKeyStatsFromFooters(spark, tableDir, files, footerKey)
      }
    statuses.map { st =>
      val f = st.getPath
      val rel = relativize(new Path(tableDir), f)
      val part = rel.split('/')
        .find(_.startsWith(PartDirCol + "="))
        .map(_.substring(PartDirCol.length + 1))
      val e = Entry(rel, part, size = st.getLen, modificationTime = st.getModificationTime)
      stats.get((part, f.getName)).fold(e) { case (lo, hi, n) =>
        e.copy(min = lo, max = hi, rows = Some(n))
      }
    }
  }

  /** Key column per-file range stats are computed over — the same
    * column [[CdcApply.snapshot]] folds last-writer-wins by.
    */
  val StatsKeyCol = "key"

  /** Types whose typed min/max survive the canonical stat encoding
    * ([[statExpr]]) round trip, so a stored stat compares correctly
    * after decoding back to the key type at prune time.
    * Unorderable/lossy types get no stats (their files are simply
    * never pruned).
    */
  private[cdc] def statsSupported(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.StringType => true
    case _: org.apache.spark.sql.types.ByteType => true
    case _: org.apache.spark.sql.types.ShortType => true
    case _: org.apache.spark.sql.types.IntegerType => true
    case _: org.apache.spark.sql.types.LongType => true
    case _: org.apache.spark.sql.types.FloatType => true
    case _: org.apache.spark.sql.types.DoubleType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _: org.apache.spark.sql.types.DateType => true
    case _: org.apache.spark.sql.types.TimestampType => true
    case _: org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }

  /** Canonical stat encoding of a key value as a string — the form
    * [[Entry.min]]/[[Entry.max]] store and [[compareStat]] orders.
    * Timestamps and dates encode as UTC epoch micros/days (plain
    * decimal integers): timezone-independent and order-preserving,
    * where a session-timezone rendering misorders across a DST
    * fall-back transition and breaks when stats written under one
    * session timezone are compared against bounds rendered under
    * another. Every other supported type keeps Spark's
    * cast-to-string. Producers ([[fileKeyStats]], the merge's batch
    * bounds agg) and decoders ([[statDecode]]) must stay in lockstep
    * with this — CompareStatSpec pins encode→compare agreement with
    * Spark's own ordering per type.
    */
  private[cdc] def statExpr(dt: DataType, c: Column): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType =>
        org.apache.spark.sql.functions.unix_micros(c).cast("string")
      case DateType =>
        org.apache.spark.sql.functions.unix_date(c).cast("string")
      case _ => c.cast("string")
    }
  }

  /** Inverse of [[statExpr]]: decode a canonical stat string column
    * back to the key's type for typed row-level comparison (refine
    * joins, [[graft.cdc.CdcSink.readRange]] filters).
    */
  private[cdc] def statDecode(dt: DataType, c: Column): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType =>
        org.apache.spark.sql.functions.timestamp_micros(c.cast("long"))
      case DateType =>
        org.apache.spark.sql.functions.date_from_unix_date(c.cast("int"))
      case _ => c.cast(dt)
    }
  }

  /** Driver-side typed comparison of two stored stat strings under
    * the key's data type — negative/zero/positive like compareTo;
    * None when the pair can't be ordered safely (NaN/Infinity floats,
    * parse failure), which callers must treat as "don't prune".
    * Exists so a merge's range pre-check costs ZERO Spark jobs.
    * Date/timestamp stats are epoch numbers ([[statExpr]]) and
    * compare numerically; a legacy ISO-rendered stat fails
    * the numeric parse → None → the file stays un-pruned (sound).
    */
  private[cdc] def compareStat(dt: DataType, a: String, b: String): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType |
           DateType | TimestampType =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case StringType =>
        // Spark orders strings by UTF-8 bytes (code-point order); a
        // java compareTo (UTF-16 code units) would misorder
        // supplementary characters and prune wrongly
        val (ba, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        val n = math.min(ba.length, bb.length)
        var i = 0
        while (i < n) {
          val d = (ba(i) & 0xff) - (bb(i) & 0xff)
          if (d != 0) return Some(d)
          i += 1
        }
        Some(ba.length - bb.length)
      case BooleanType =>
        // "false" < "true" matches boolean ordering
        Some(a.compareTo(b))
      case _ => None
    }
  }

  /** Above this many files a commit's stats come from the distributed
    * scan — driver-serial footer reads would add latency instead of
    * removing a job.
    */
  private val FooterStatsMaxFiles = 512

  /** Key types whose parquet footer statistics decode to EXACTLY the
    * canonical string form the scan path produces (UTF-8 binary →
    * String; int32/int64 → toString). Other supported types (double,
    * decimal, date, timestamp) have representational gaps between
    * footer values and Spark's cast-to-string, so they keep the scan.
    */
  private def footerStatsDecodable(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.StringType => true
    case _: org.apache.spark.sql.types.IntegerType => true
    case _: org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Per-file stats straight from the parquet footers, driver-side —
    * zero Spark jobs. Row counts always; the key range only when
    * `keyType` is given. Statistics missing or unreliable for a file
    * (huge values dropped by the writer, no non-null values) degrade
    * to a row-count-only entry, exactly like the scan path's all-null
    * files. Footer min/max are whole-value (column chunk statistics
    * are not truncated by parquet-mr; only column INDEXES truncate),
    * so the decoded strings match the scan path byte-for-byte —
    * CdcPruneSpec's "footer-derived stats equal an independent scan"
    * test pins the equivalence.
    */
  private def fileKeyStatsFromFooters(
      spark: SparkSession,
      tableDir: String,
      files: Seq[Path],
      keyType: Option[DataType]): Map[(Option[String], String), (Option[String], Option[String], Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // footer opens are independent ms-scale IO: batch them through a
    // bounded pool instead of one-at-a-time (a 512-file commit's
    // stats pass drops from ~0.5 s serial to the slowest stripe)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, files.length)))
    val futs =
      try files.map(f => pool.submit(
        new java.util.concurrent.Callable[((Option[String], String), (Option[String], Option[String], Long))] {
          def call() = footerStatOne(tableDir, f, conf, keyType)
        }))
      finally pool.shutdown()
    futs.map { f =>
      try f.get()
      catch { // surface the worker's own failure, not the pool wrapper
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }.toMap
  }

  private def footerStatOne(
      tableDir: String,
      f: Path,
      conf: org.apache.hadoop.conf.Configuration,
      keyType: Option[DataType]): ((Option[String], String), (Option[String], Option[String], Long)) = {
    import scala.jdk.CollectionConverters._
    {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      val (rows, range) =
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          val perBlock = if (keyType.isEmpty) Nil else blocks.flatMap { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == StatsKeyCol)
              .map(_.getStatistics)
          }
          val usable = perBlock.size == blocks.size &&
            perBlock.forall(s => s != null && !s.isEmpty && s.hasNonNullValue)
          def decode(v: Any): String = v match {
            case b: org.apache.parquet.io.api.Binary =>
              new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
            case other => String.valueOf(other)
          }
          val range =
            if (!usable || perBlock.isEmpty) None
            else {
              val mins = perBlock.map(s => decode(s.genericGetMin))
              val maxs = perBlock.map(s => decode(s.genericGetMax))
              // reduce across blocks with the TYPED comparator — a
              // string min-reduce would misorder numeric blocks
              def pick(vs: Seq[String], wantMin: Boolean): Option[String] =
                vs.map(Option(_)).reduceLeft { (ao, bo) =>
                  for { a <- ao; b <- bo; c <- compareStat(keyType.get, a, b) }
                    yield if ((c <= 0) == wantMin) a else b
                  // an uncomparable pair dissolves to None → no stats
                }
              for { lo <- pick(mins, wantMin = true)
                    hi <- pick(maxs, wantMin = false) } yield (lo, hi)
            }
          (rows, range)
        } finally reader.close()
      val rel = relativize(new Path(tableDir), f)
      val part = rel.split('/')
        .find(_.startsWith(PartDirCol + "="))
        .map(_.substring(PartDirCol.length + 1))
      (part, f.getName) -> (range.map(_._1), range.map(_._2), rows)
    }
  }

  /** Typed per-file min/max of [[StatsKeyCol]] plus the row count
    * under a commit dir, keyed by (partition dir fragment, file name)
    * — unique within one commit: a task reuses its part-NNNNN name
    * across partition subdirs but never within one. The scan-side
    * path is URI-decoded back to the ON-DISK (Hive-escaped) fragment
    * so it joins against what [[writeCommitDir]]'s listing saw; a
    * fragment that fails to decode just loses its stats (never
    * pruned). Files whose keys are all null keep the row count but no
    * range.
    */
  private def fileKeyStats(
      spark: SparkSession,
      dest: Path,
      keyType: DataType): Map[(Option[String], String), (Option[String], Option[String], Long)] = {
    import org.apache.spark.sql.functions.{
      count, input_file_name, lit, max => fmax, min => fmin}
    spark.read.parquet(dest.toString)
      .groupBy(input_file_name().as("_f"))
      .agg(statExpr(keyType, fmin(col(StatsKeyCol))).as("_min"),
        statExpr(keyType, fmax(col(StatsKeyCol))).as("_max"),
        count(lit(1L)).as("_n"))
      .collect()
      .map { r =>
        val raw = r.getString(0)
        val path =
          try new java.net.URI(raw).getPath
          catch { case _: java.net.URISyntaxException => raw }
        val segs = path.split('/')
        val part = segs.takeRight(2).headOption
          .filter(_.startsWith(PartDirCol + "="))
          .map(_.substring(PartDirCol.length + 1))
        (part, segs.last) -> (
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)),
          r.getLong(3))
      }
      .toMap
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    require(s.startsWith(b + "/"), s"$p not under $base")
    s.substring(b.length + 1)
  }

  /** Read the table at its current version ([[resolve]]'s contract);
    * an empty version yields an empty frame with the committed schema.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = resolve(fs, tableDir, None)
    readEntries(spark, tableDir, m.entries, m.schema)
  }

  /** Read a subset of a version's entries under that version's
    * committed `schema` (its [[Manifest.schema]]), through the one
    * scan of log-listed files (`graftbridge.logScan`). The log already
    * knows the schema, so no footer-inference job runs before the
    * scan; a column a file predates reads as null (schema evolution is
    * reconciled from the log, not from footers). It also knows each
    * file's size and modification time, so the scan's file index
    * starts from them: no file is listed or stat'ed. Only an entry
    * without a recorded size is looked up. No entries read as an empty
    * frame.
    */
  def readEntries(
      spark: SparkSession,
      tableDir: String,
      entries: Seq[Entry],
      schema: StructType): DataFrame = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lazy val blockSize = fs.getDefaultBlockSize(root)
    graftbridge.logScan(spark, schema, new StructType, entries.map { e =>
      val p = fs.makeQualified(new Path(root, e.path))
      graftbridge.LogFile(p, Option.when(e.size > 0)(
        new FileStatus(e.size, false, 1, blockSize, e.modificationTime, p)), InternalRow.empty)
    })
  }

  /** Remove commit directories the current version does not reference
    * (crashed commits, superseded versions) and temp files left in the
    * log by crashed publishes. The log itself is kept. Run at the
    * compaction cadence — deferring it keeps just-superseded files
    * alive for in-flight readers.
    */
  def vacuum(fs: FileSystem, tableDir: String): Unit =
    current(fs, tableDir).foreach { m =>
      val live: Set[String] = m.entries.map(_.path.split('/').head).toSet
      fs.listStatus(new Path(tableDir)).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("c-") && !live.contains(n))
          fs.delete(st.getPath, true)
      }
      fs.listStatus(DeltaLog.logDir(tableDir)).map(_.getPath).foreach { p =>
        if (p.getName.startsWith(".tmp-")) fs.delete(p, false)
      }
    }
}
