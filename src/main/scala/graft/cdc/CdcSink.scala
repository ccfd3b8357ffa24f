package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Snapshot-table sink — the reference's Delta ingest re-expressed
  * over parquet + a Delta transaction log, `_delta_log/` ([[TxnLog]]
  * over [[DeltaLog]]; rust-cdc `src/delta/mod.rs`
  * IngestProcessor/DataWriter: partition_field extraction, composite
  * unique_key_fields, buffered upsert flush, transactional add/remove
  * commits, checkpoint every 10 commits, commit offsets, dead-letter
  * table). The table root holds only `_delta_log/` and the `c-*`
  * commit dirs.
  *
  * Design for scale:
  *  - every write lands in a fresh commit directory and becomes
  *    visible only when its log version is atomically published — a
  *    crash mid-merge can never lose or half-expose the table, and a
  *    reader racing a writer sees a consistent version;
  *  - [[merge]] rewrites ONLY the files the incoming changelog can
  *    touch, pruned at two levels: partition value first (each file's
  *    partition value is in its logged path — no directory listing),
  *    then per-file key range within the touched partitions (each
  *    add action's stats carry the typed min/max of the LWW key,
  *    Delta-style data skipping); merge cost tracks the TOUCHED data
  *    volume, not the table;
  *  - the per-source committed offsets ride in the same log commit as
  *    the data (Delta `txn` actions): data and offsets become visible
  *    together, so the committed offsets never run ahead of the data
  *    and a crash loses both or neither. Re-merging a batch is still
  *    a no-op upsert, so recovery is simply re-merging it;
  *  - file layout follows two rules, chosen by the writer and
  *    written as given by [[TxnLog.writeCommitDir]]: an increment
  *    (snapshot write, merge, DDL rewrite) writes one task per
  *    partition value ([[byValue]]); a full-table write (compaction,
  *    clustered bootstrap) writes ceil(rows / target) key-range
  *    clustered tasks per partition value ([[sizedLayout]]), so a
  *    skew-hot value writes in parallel. No file exceeds
  *    [[TxnLog.TargetRecordsPerFile]] records;
  *  - every [[CompactEvery]]-th merge (counted in the log's
  *    commitInfo) compacts accumulated small files and vacuums
  *    crashed/superseded commit dirs;
  *  - undecodable records are appended to a dead-letter directory
  *    (`IngestOptions.dlq_table_uri`).
  */
object CdcSink {

  /** DLQ path for a table — a SIBLING directory, deliberately outside
    * the table dir so snapshot compaction/vacuum can never clear
    * captured records.
    */
  def dlqDir(tableDir: String): String = tableDir.stripSuffix("/") + "_dlq"

  /** Canonical changelog columns every sink input must carry. */
  val requiredCols: Seq[String] = Seq("key", "op", "offset")

  /** Read the snapshot table at its current committed version. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    TxnLog.read(spark, tableDir)

  /** Read only the rows whose key falls in `[lo, hi]` (both
    * inclusive, encoded as canonical stat strings — the value's
    * cast-to-string form; epoch micros/days for timestamp/date keys,
    * see [[TxnLog.statExpr]]), opening ONLY the files whose logged
    * key range intersects it. The read-side complement of the pruned
    * merge: a point lookup on a range-compacted 100 TB table opens
    * one file instead of listing and footer-probing all of them.
    * Files without stats are always read (never wrongly skipped);
    * the row-level filter is applied on top either way, so the
    * result is exact even when stats are absent or conservative. A
    * key type outside [[TxnLog.statsSupported]] (binary, struct, …)
    * never has stats — it degrades to an unpruned read with the
    * bounds compared on the cast-to-string form, instead of throwing
    * on an impossible string→type cast.
    *
    * `asOf` composes the pruned read with time travel: the range is
    * evaluated against THAT version's files and stats. Either version
    * resolves through [[TxnLog.resolve]]: a vacuumed or
    * never-committed version throws rather than silently serving a
    * different state of the data.
    */
  def readRange(
      spark: SparkSession,
      tableDir: String,
      lo: String,
      hi: String,
      asOf: Option[Long] = None): DataFrame = {
    val fs = fsFor(spark, tableDir)
    val k = col(TxnLog.StatsKeyCol)
    def rowFilter(kt: Option[org.apache.spark.sql.types.DataType]) =
      kt match {
        case Some(t) if TxnLog.statsSupported(t) =>
          k.between(TxnLog.statDecode(t, lit(lo)), TxnLog.statDecode(t, lit(hi)))
        case _ => k.cast("string").between(lo, hi)
      }
    val m = TxnLog.resolve(fs, tableDir, asOf)
    val kt = m.schema.fields.find(_.name == TxnLog.StatsKeyCol).map(_.dataType)
    def overlaps(e: TxnLog.Entry): Boolean =
      (for {
        t <- kt
        eLo <- e.min; eHi <- e.max
        c1 <- TxnLog.compareStat(t, eHi, lo) // file.max < lo
        c2 <- TxnLog.compareStat(t, eLo, hi) // file.min > hi
      } yield !(c1 < 0 || c2 > 0)).getOrElse(true)
    TxnLog.readEntries(spark, tableDir, m.entries.filter(overlaps), m.schema)
      .filter(rowFilter(kt))
  }

  private def fsFor(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Full rewrite: materialize the snapshot of `changelog` under
    * `tableDir`, partitioned by `partitionCol` when given. Publishes
    * one new version listing only the new files.
    */
  def writeSnapshot(
      changelog: DataFrame,
      tableDir: String,
      partitionCol: Option[String] = None): Unit = {
    val spark = changelog.sparkSession
    val fs = fsFor(spark, tableDir)
    val snap = CdcApply.snapshot(changelog)
    val version = TxnLog.current(fs, tableDir).map(_.version + 1).getOrElse(1L)
    val entries = TxnLog.writeCommitDir(byValue(snap, partitionCol), tableDir, partitionCol, version)
    TxnLog.commit(fs, tableDir, version, snap.schema, entries, batchOffsets(changelog))
  }

  /** The increment writers' layout ([[writeSnapshot]], the merge fold,
    * [[applyDdl]]'s rewrite): one write task per partition value.
    * Otherwise every upstream task writes a file into every partition
    * dir it holds rows for (shuffle width × partitions small files per
    * commit). One task per value is the right cost for an increment;
    * file size is still bounded by the record target, and
    * [[compact]]'s [[sizedLayout]] restores write parallelism for a
    * value that grew hot.
    */
  private def byValue(df: DataFrame, partitionCol: Option[String]): DataFrame =
    partitionCol.fold(df)(p => df.repartition(col(p)))

  /** Bulk-import a PRE-clustered consistent snapshot: the caller
    * guarantees the rows are (a) final images — one row per key, no
    * per-key dedup needed — and (b) globally range-clustered on
    * [[TxnLog.StatsKeyCol]] across partitions and ascending within
    * them. The write trusts that layout: no snapshot dedup agg, no
    * sample + range exchange — partitions land directly as
    * key-disjoint sorted files with stats. This is the loader-
    * controlled bulk-import shape of a 100 TB initial load: the
    * exporter already emits key ranges, and paying two cluster-wide
    * shuffles to rediscover an ordering the caller constructed is
    * pure waste. Violating the contract does not corrupt data — only
    * the key-range stats lose their pruning power (files overlap).
    */
  def writeSnapshotPreClustered(
      snap: DataFrame,
      tableDir: String,
      targetRecordsPerFile: Long = TxnLog.TargetRecordsPerFile): Unit = {
    val spark = snap.sparkSession
    val fs = fsFor(spark, tableDir)
    val version = TxnLog.current(fs, tableDir).map(_.version + 1).getOrElse(1L)
    val entries = TxnLog.writeCommitDir(
      snap, tableDir, None, version, targetRecordsPerFile)
    TxnLog.commit(fs, tableDir, version, snap.schema, entries, batchOffsets(snap))
  }

  /** Full rewrite like [[writeSnapshot]], but laid out by
    * [[sizedLayout]] in the same pass — equivalent to writeSnapshot
    * followed by [[compact]] without materializing and re-reading the
    * table in between. The 100 TB bootstrap shape: a snapshot load's
    * files come out key-disjoint and sorted on day one, so the very
    * first merge already prunes, and the table never pays a full
    * compaction rewrite just to earn its key-range stats.
    */
  def writeSnapshotClustered(
      changelog: DataFrame,
      tableDir: String,
      targetRecordsPerFile: Long = TxnLog.TargetRecordsPerFile): Unit = {
    val spark = changelog.sparkSession
    val fs = fsFor(spark, tableDir)
    // persisted across the layout's count and the write
    val snap = CdcApply.snapshot(changelog).persist()
    try {
      // one file: a shuffle into one writer keeps the snapshot
      // aggregate parallel
      val out = sizedLayout(snap, None, Nil, targetRecordsPerFile)(_.repartition(1))
      val version = TxnLog.current(fs, tableDir).map(_.version + 1).getOrElse(1L)
      val entries = TxnLog.writeCommitDir(
        out, tableDir, None, version, targetRecordsPerFile)
      TxnLog.commit(fs, tableDir, version, out.schema, entries, batchOffsets(changelog))
    } finally snap.unpersist()
  }

  /** Incremental upsert merge: apply `changes` (a changelog batch)
    * to the existing snapshot, rewriting only the files it touches.
    * The new version carries the untouched files forward unchanged.
    *
    * A batch is increment-sized by contract (bulk loads take
    * [[writeSnapshot]]), so the merge first collects it, bounded at
    * [[RefineMaxKeys]] + 1 rows. A batch that fits is decided on the
    * driver: its [[BatchMeta]] and the file prune run no Spark job, and
    * its rows go back into the plan as a local relation for the fold
    * and the write. Such a merge runs the collect's jobs plus the
    * write's. A larger batch is persisted instead and gets its
    * [[BatchMeta]] from one ROLLUP pass ([[rollupMeta]]); everything
    * after the metadata is shared.
    */
  def merge(
      spark: SparkSession,
      changes: DataFrame,
      tableDir: String,
      partitionCol: Option[String] = None): Unit =
    merge(spark, changes, tableDir, partitionCol, RefineMaxKeys)

  /** [[merge]] with the driver path's row bound as an argument: a
    * bound of 0 sends every non-empty batch down the rollup path. */
  private[cdc] def merge(
      spark: SparkSession,
      changes: DataFrame,
      tableDir: String,
      partitionCol: Option[String],
      driverMaxRows: Long): Unit = {
    val fs = fsFor(spark, tableDir)
    val read = DeltaLog.snapshot(fs, tableDir).filter(_.version >= 1)
    if (read.forall(_.files.isEmpty)) {
      // bootstrap (or post-truncate repopulation — offsets merge in)
      writeSnapshot(changes, tableDir, partitionCol)
      return
    }
    val m = read.get.manifest
    val keyType = changes.schema.fields
      .find(f => f.name == TxnLog.StatsKeyCol &&
        TxnLog.statsSupported(f.dataType))
      .map(_.dataType)
      .filter(kt => m.schema.fields
        .find(_.name == TxnLog.StatsKeyCol).map(_.dataType).contains(kt))
    val rows = graftbridge.collectInternal(changes.limit((driverMaxRows + 1).toInt))
    val (meta, (schema, entries)) =
      if (rows.length <= driverMaxRows) {
        val meta = driverMeta(spark, changes.schema, rows, partitionCol, keyType)
        val keys = () => keyType.fold(Array.empty[Any]) { kt =>
          val i = changes.schema.fieldIndex(TxnLog.StatsKeyCol)
          rows.collect { case r if !r.isNullAt(i) => r.get(i, kt) }
        }
        val local = graftbridge.localFrame(spark, changes.schema, rows.toSeq)
        (meta, rewrite(spark, local, tableDir, partitionCol, m, meta, keys))
      } else {
        // the merge takes several actions over the batch (metadata,
        // the write): cache it once instead of re-running its lineage
        val cached = changes.persist()
        try {
          val meta = rollupMeta(cached, partitionCol, keyType)
          // asked for only when the bound is lowered below RefineMaxKeys
          val keys = () => keyType.fold(Array.empty[Any]) { kt =>
            graftbridge.collectInternal(cached.select(col(TxnLog.StatsKeyCol)).distinct())
              .map(_.get(0, kt))
          }
          (meta, rewrite(spark, cached, tableDir, partitionCol, m, meta, keys))
        } finally cached.unpersist()
      }
    val committed = DeltaLog.commit(fs, tableDir, m.version + 1, schema, entries,
      meta.offsets, DeltaLog.MergeOp, read)
    TxnLog.failpoint(TxnLog.Crash.AfterPublish)
    if (committed.mergeCount % CompactEvery == 0) compact(spark, tableDir, partitionCol)
  }

  /** The shared part of a merge after its metadata: prune the files of
    * manifest `m` against the batch, fold the touched ones with it and
    * write the result. Returns the new version's schema and live files.
    * `keys` gives the batch's non-null keys; only the per-key refine
    * asks for them. */
  private def rewrite(
      spark: SparkSession,
      changes: DataFrame,
      tableDir: String,
      partitionCol: Option[String],
      m: TxnLog.Manifest,
      meta: BatchMeta,
      keys: () => Array[Any]): (StructType, Seq[TxnLog.Entry]) = {
    // Output files get exact per-file stats from their parquet footers
    // (row counts, and key ranges for footer-decodable key types — no
    // Spark job). Files left without a range inherit the FREE
    // commit-level range (batch bounds ∪ touched files' ranges,
    // already on the driver): conservative but sound, and it keeps
    // append-pattern increments key-disjoint.
    def withRange(es: Seq[TxnLog.Entry], range: Option[(String, String)]) =
      es.map(e => range.filter(_ => e.min.isEmpty).fold(e) { case (lo, hi) =>
        e.copy(min = Some(lo), max = Some(hi))
      })
    // touched files are read under the committed schema (a file that
    // predates an evolved column reads it as null) and folded with the
    // batch; allowMissingColumns both ways → the schema EVOLVES when
    // the changelog gains columns (reference DDL propagation: ALTER
    // TABLE ADD COLUMN flows into the table; dropped columns stay,
    // null-filled)
    def fold(pr: PruneSplit, part: Option[String]): (StructType, Seq[TxnLog.Entry]) = {
      val unioned =
        if (pr.touched.isEmpty) changes
        else TxnLog.readEntries(spark, tableDir, pr.touched, m.schema)
          .withColumn("op", lit(Op.Update))
          .unionByName(changes, allowMissingColumns = true)
      val merged = CdcApply.snapshot(unioned)
      val entries = TxnLog.writeCommitDir(
        byValue(merged, part), tableDir, part, m.version + 1, computeStats = false)
      (unionSchema(m.schema, merged.schema), pr.untouched ++ withRange(entries, pr.commitRange))
    }
    partitionCol match {
      // an empty batch commits no file changes (it still counts as a
      // merge toward the compaction cadence)
      case _ if meta.nRows == 0 => (m.schema, m.entries)
      case None =>
        // unpartitioned: key-range-pruned merge. Files whose
        // [min,max] key range no batch key can hit are carried
        // forward untouched (Delta-style data skipping on the logged
        // per-file stats). Stats-less files / key types and null-key
        // batches degrade to everything-touched — a full rewrite,
        // never a wrong prune.
        fold(splitByKeyRange(spark, changes, m.schema, m.entries, meta, keys), None)
      case Some(p) =>
        // first pruning level: the partition values the batch touches
        val touchedEsc = meta.touchedParts.getOrElse(Seq.empty).map(hivePartName).toSet
        val (partTouched, untouchedEntries) =
          m.entries.partition(_.partition.exists(touchedEsc.contains))
        // second pruning level: within the touched PARTITIONS, keep
        // files whose key range no batch key can hit (hot-partition
        // updates rewrite the files they intersect, not the whole
        // partition value); emptied partitions simply have no files
        // in the new version
        val (schema, entries) =
          fold(splitByKeyRange(spark, changes, m.schema, partTouched, meta, keys), Some(p))
        (schema, untouchedEntries ++ entries)
    }
  }

  /** What a merge needs to know about its batch before it touches a
    * file: the row count, the null-key count and the key bounds (which
    * drive file pruning, [[splitByKeyRange]]), the partition values it
    * touches, and the per-source max offsets the commit records next
    * to the data. Key bounds are canonical stat strings
    * ([[TxnLog.statExpr]]); `touchedParts` are the values as `collect`
    * returns them, null included (null partitions land in
    * __HIVE_DEFAULT_PARTITION__ and count as touched). The driver path
    * ([[driverMeta]]) and the rollup path ([[rollupMeta]]) compute
    * the same values.
    */
  private final case class BatchMeta(
      nRows: Long,
      nullKeys: Long,
      lo: Option[String],
      hi: Option[String],
      touchedParts: Option[Seq[Any]],
      offsets: Map[String, Long])

  /** [[BatchMeta]] of a batch collected to the driver (Catalyst rows of
    * `schema`), with no Spark job. Key bounds take Catalyst's ordering
    * for the key type and render through [[TxnLog.statExpr]] evaluated
    * on the driver, so the strings equal the rollup's byte for byte;
    * partition values convert to external values first, as `collect`
    * returns them, so [[hivePartName]] renders them the same way.
    */
  private def driverMeta(
      spark: SparkSession,
      schema: StructType,
      rows: Array[InternalRow],
      partitionCol: Option[String],
      keyType: Option[DataType]): BatchMeta = {
    def external(name: String): InternalRow => Any = {
      val i = schema.fieldIndex(name)
      val dt = schema(i).dataType
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      r => if (r.isNullAt(i)) null else toScala(r.get(i, dt))
    }
    val source: InternalRow => String =
      if (schema.fieldNames.contains("source_file")) {
        val v = external("source_file"); r => String.valueOf(v(r))
      } else _ => "default"
    val offset = external("offset")
    val offsets = rows.foldLeft(Map.empty[String, Long]) { (acc, r) =>
      offset(r) match {
        case null => acc
        case n: Number =>
          val src = source(r)
          acc.updated(src, acc.get(src).fold(n.longValue)(math.max(_, n.longValue)))
      }
    }
    val (nullKeys, lo, hi) = keyType match {
      case None => (0L, None, None)
      case Some(kt) =>
        val i = schema.fieldIndex(TxnLog.StatsKeyCol)
        val ord = TypeUtils.getInterpretedOrdering(kt)
        var (nulls, lo, hi) = (0L, null: Any, null: Any)
        rows.foreach { r =>
          if (r.isNullAt(i)) nulls += 1
          else {
            val k = r.get(i, kt)
            if (lo == null || ord.lt(k, lo)) lo = k
            if (hi == null || ord.gt(k, hi)) hi = k
          }
        }
        val rendered = graftbridge.evalLocal(spark, StructType(Seq(StructField("k", kt))),
            Seq(InternalRow(lo), InternalRow(hi)), TxnLog.statExpr(kt, col("k")))
          .map(r => Option(r.getUTF8String(0)).map(_.toString))
        (nulls, rendered(0), rendered(1))
    }
    val parts = partitionCol.map { p =>
      val v = external(p)
      rows.iterator.map(v).toSeq.distinct
    }
    BatchMeta(rows.length.toLong, nullKeys, lo, hi, parts, offsets)
  }

  /** [[BatchMeta]] of a batch too large for the driver, in one ROLLUP
    * pass over the persisted batch: the grand-total row carries the
    * count, key bounds (native-typed min/max, then
    * [[TxnLog.statExpr]]) and partition set, the per-source rows the
    * max offsets. `collect_set` drops nulls, so a null partition value
    * is re-added from its counted column.
    */
  private def rollupMeta(
      changes: DataFrame,
      partitionCol: Option[String],
      keyType: Option[DataType]): BatchMeta = {
    val src =
      if (changes.columns.contains("source_file")) col("source_file")
      else lit("default")
    val k = col(TxnLog.StatsKeyCol)
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1L)).as("_cnt"), max(col("offset")).as("_moff")) ++
        keyType.toSeq.flatMap(kt => Seq(
          TxnLog.statExpr(kt, min(k)).as("_lo"),
          TxnLog.statExpr(kt, max(k)).as("_hi"),
          sum(when(k.isNull, 1L).otherwise(0L)).as("_knull"))) ++
        partitionCol.toSeq.flatMap(p => Seq(
          collect_set(col(p)).as("_parts"),
          sum(when(col(p).isNull, 1L).otherwise(0L)).as("_pnull")))
    val rows = changes.rollup(src.as("_graft_src"))
      .agg(grouping_id().as("_gid"), aggs: _*)
      .collect()
    val (totals, perSrc) = rows.partition(r => r.getLong(r.fieldIndex("_gid")) != 0L)
    // a source whose offsets are all null records none
    val offsets = perSrc.filterNot(r => r.isNullAt(r.fieldIndex("_moff"))).map(r =>
      String.valueOf(r.get(r.fieldIndex("_graft_src"))) ->
        r.getLong(r.fieldIndex("_moff"))).toMap
    totals.headOption match {
      // an empty batch produces no rollup rows at all (Expand over
      // zero input rows)
      case None =>
        BatchMeta(0L, 0L, None, None, partitionCol.map(_ => Seq.empty), Map.empty)
      case Some(t) =>
        val (nullKeys, lo, hi) = keyType match {
          case Some(_) =>
            (t.getLong(t.fieldIndex("_knull")),
              Option(t.getString(t.fieldIndex("_lo"))),
              Option(t.getString(t.fieldIndex("_hi"))))
          case None => (0L, None, None)
        }
        val parts = partitionCol.map { _ =>
          val s = t.getSeq[Any](t.fieldIndex("_parts"))
          if (t.getLong(t.fieldIndex("_pnull")) > 0L) s :+ (null: Any) else s
        }
        BatchMeta(t.getLong(t.fieldIndex("_cnt")), nullKeys, lo, hi, parts, offsets)
    }
  }

  /** The largest batch a merge decides on the driver: up to this many
    * rows it is collected ([[merge]]) and its keys refine the prune to
    * exactly the files they land in; a larger batch takes the rollup
    * path and prunes at range level only — a bulk redelivery that spans
    * the keyspace must not pay a per-key pass to learn it touches
    * everything.
    */
  private[cdc] val RefineMaxKeys = 200000L

  /** Result of [[splitByKeyRange]]: which live files a batch
    * merge must rewrite, which carry forward, and — when computable
    * with zero extra work — a sound outer key range for the commit's
    * OUTPUT files (batch bounds ∪ touched files' ranges).
    */
  private final case class PruneSplit(
      touched: Seq[TxnLog.Entry],
      untouched: Seq[TxnLog.Entry],
      commitRange: Option[(String, String)])

  /** Split a version's live files into (touched, untouched) for a
    * change batch using the per-file key-range stats, on the driver.
    * Stage 1 compares the batch's key bounds with each file's range;
    * stage 2 (batches of at most [[RefineMaxKeys]] rows that stage 1
    * already pruned) sharpens to exactly the files some batch key
    * lands in. Every uncertainty degrades to touched — a full rewrite,
    * never a wrong prune: stats-less files, unsupported key types,
    * null-key batches, and key-type drift between the batch and the
    * table (the stored stat strings were rendered under the TABLE's
    * key type; comparing them under a different batch type would be
    * cross-type garbage).
    */
  private def splitByKeyRange(
      spark: SparkSession,
      changes: DataFrame,
      tableSchema: StructType,
      entries: Seq[TxnLog.Entry],
      meta: BatchMeta,
      keys: () => Array[Any]): PruneSplit = {
    val all = PruneSplit(entries, Seq.empty, None)
    val keyField = changes.schema.fields
      .find(f => f.name == TxnLog.StatsKeyCol && TxnLog.statsSupported(f.dataType))
    val tableKeyType = tableSchema.fields
      .find(_.name == TxnLog.StatsKeyCol).map(_.dataType)
    val (withStats, statless) =
      entries.partition(e => e.min.isDefined && e.max.isDefined)
    // no stats anywhere (stats-less files), unprunable key type, or a
    // batch whose key TYPE differs from the table's: skip all extra
    // work — batch bounds couldn't prune anything safely
    if (keyField.isEmpty || withStats.isEmpty ||
        !tableKeyType.contains(keyField.get.dataType)) return all
    val kt = keyField.get.dataType
    def foldRanges(
        seed: Option[(String, String)],
        es: Seq[TxnLog.Entry]): Option[(String, String)] =
      es.foldLeft(seed) { (acc, e) =>
        acc.flatMap { case (lo, hi) =>
          for {
            cLo <- TxnLog.compareStat(kt, e.min.get, lo)
            cHi <- TxnLog.compareStat(kt, e.max.get, hi)
          } yield (if (cLo < 0) e.min.get else lo,
            if (cHi > 0) e.max.get else hi)
        }
      }
    if (meta.nullKeys > 0) {
      // null keys can hide in ANY file (ranges only witness non-null
      // keys), so every file is touched — but the OUTPUT's non-null
      // key range is still knowable: min/max over non-null keys stay
      // sound for future non-null batches, and future null-key
      // batches rewrite everything regardless. Without this, one
      // null-key batch would wipe the table's stats until the next
      // compaction.
      val batchRange =
        for { l <- meta.lo; h <- meta.hi } yield (l, h)
      val commitRange =
        if (statless.nonEmpty) None
        else batchRange match {
          case Some(br) => foldRanges(Some(br), withStats)
          case None => foldRanges(
            withStats.headOption.map(e => (e.min.get, e.max.get)),
            withStats.drop(1))
        }
      return PruneSplit(entries, Seq.empty, commitRange)
    }
    val (bLo, bHi) = (meta.lo.get, meta.hi.get)
    // stage 1: a file survives iff its range intersects the batch's
    // [min,max]; an uncomparable pair (NaN etc.) keeps the file touched
    def intersects(e: TxnLog.Entry): Boolean = {
      val misses = for {
        c1 <- TxnLog.compareStat(kt, e.max.get, bLo) // file.max < batch.min
        c2 <- TxnLog.compareStat(kt, e.min.get, bHi) // file.min > batch.max
      } yield c1 < 0 || c2 > 0
      !misses.getOrElse(false)
    }
    val (inRange, outOfRange) = withStats.partition(intersects)
    val touched =
      // stage 2 only when it can prune something: stage 1 showed
      // locality (some file out of range) and more than one file is
      // left; a batch over RefineMaxKeys prunes at range level only
      if (outOfRange.isEmpty || meta.nRows > RefineMaxKeys || inRange.length <= 1)
        inRange
      else {
        // stage 2: a file stays touched iff some batch key lies in
        // its [min, max], decoded to the key type ([[TxnLog.statDecode]]
        // on the driver) — a binary search of the sorted keys per
        // file. A bound that decodes to null keeps its file touched.
        val ord = TypeUtils.getInterpretedOrdering(kt)
        val sorted = keys().sorted(ord)
        val bounds = graftbridge.evalLocal(spark, StructType(Seq(StructField("s", StringType))),
            inRange.flatMap(e => Seq(e.min.get, e.max.get))
              .map(s => InternalRow(UTF8String.fromString(s))),
            TxnLog.statDecode(kt, col("s")))
          .map(r => if (r.isNullAt(0)) null else r.get(0, kt))
        inRange.indices.filter { i =>
          val (lo, hi) = (bounds(2 * i), bounds(2 * i + 1))
          lo == null || hi == null || {
            val j = sorted.search(lo)(ord).insertionPoint
            j < sorted.length && ord.lteq(sorted(j), hi)
          }
        }.map(inRange)
      }
    val touchedSet = touched.map(_.path).toSet
    val allTouched = touched ++ statless
    // sound outer range for the commit's output files: batch bounds ∪
    // every touched file's range — FREE (all on the driver). Unknowable
    // when a stats-less file is being folded in.
    val commitRange: Option[(String, String)] =
      if (statless.nonEmpty) None
      else foldRanges(Some((bLo, bHi)), touched)
    PruneSplit(allTouched, withStats.filterNot(e => touchedSet(e.path)), commitRange)
  }

  /** The committed schema after a pruned merge: the merged frame's
    * fields, plus any committed-schema column the touched slice
    * happened not to carry — untouched files keep columns alive even
    * when no rewritten file holds them.
    */
  private def unionSchema(
      prev: org.apache.spark.sql.types.StructType,
      now: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val have = now.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      now.fields ++ prev.fields.filterNot(f => have(f.name)))
  }

  /** Hive partition-directory encoding for a partition value (null →
    * default-partition marker; special characters percent-escaped the
    * way Spark writes them). This is the form [[TxnLog.Entry]] stores.
    */
  private[graft] def hivePartName(v: Any): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__"
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v.toString)

  /** Compaction every N merges (the merge count is read from the
    * log's commitInfo) — the reference creates a delta checkpoint
    * every 10 commits (`src/delta/mod.rs:262-285`
    * try_create_checkpoint); the analog here is rewriting accumulated
    * small files into one per partition and vacuuming
    * superseded/crashed commit dirs. At 100 TB merge cadence this is
    * what keeps scan task counts (and live-file count) bounded.
    */
  val CompactEvery = 10

  /** Rewrite the table to size-targeted files, laid out by
    * [[sizedLayout]], and vacuum. The split is sized from the log's
    * row counts, so it counts nothing; a table that is one file's
    * worth is read and written by one task, with no shuffle.
    */
  def compact(
      spark: SparkSession,
      tableDir: String,
      partitionCol: Option[String],
      targetRecordsPerFile: Long = TxnLog.TargetRecordsPerFile): Unit = {
    val fs = fsFor(spark, tableDir)
    TxnLog.current(fs, tableDir).foreach { m =>
      if (m.entries.nonEmpty) {
        val snap = TxnLog.readEntries(spark, tableDir, m.entries, m.schema)
        val out = sizedLayout(snap, partitionCol, m.entries, targetRecordsPerFile)(_.coalesce(1))
        val entries = TxnLog.writeCommitDir(
          out, tableDir, partitionCol, m.version + 1, targetRecordsPerFile)
        TxnLog.commit(fs, tableDir, m.version + 1, out.schema, entries,
          operation = "OPTIMIZE")
      }
      TxnLog.vacuum(fs, tableDir)
    }
  }

  /** The one layout rule for a full-table write ([[compact]],
    * [[writeSnapshotClustered]]); increments take [[byValue]].
    *
    * Split count: a partition value of n rows gets ceil(n / `target`)
    * write tasks, so a skew-hot value writes in parallel instead of
    * into one giant single-task file; the write runs their sum. The
    * row counts come from the log when every entry of `logged` (the
    * live files `df` reads) carries one — [[TxnLog.Entry.rows]] is the
    * file's footer row count, so a wrong one could only mis-size the
    * split — else from one count of `df`.
    *
    * Partitioning: rows range-partition on (partition value, key) and
    * sort within each task, so a value's files come out key-disjoint
    * and sorted, and the key-range stats let later merges and reads
    * touch only the files they hit. A key without stats
    * ([[TxnLog.statsSupported]]) is replaced by a hash of the columns
    * Spark can hash (not maps), which spreads a hot value the same way.
    *
    * When the whole write is one split, `single` lays it out instead:
    * each caller knows its cheapest plan for one file.
    */
  private def sizedLayout(
      df: DataFrame,
      partitionCol: Option[String],
      logged: Seq[TxnLog.Entry],
      target: Long)(single: DataFrame => DataFrame): DataFrame = {
    val perValue: Iterable[Long] =
      if (logged.nonEmpty && logged.forall(_.rows.isDefined))
        logged.groupMapReduce(_.partition)(_.rows.get)(_ + _).values
      else df.groupBy(partitionCol.map(col).toSeq: _*).count().collect()
        .map(r => r.getLong(r.length - 1))
    val splits = perValue.map(n => (n + target - 1) / target).sum
    if (splits <= 1) single(df)
    else {
      def hasMap(dt: DataType): Boolean = dt match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case s: StructType => s.fields.exists(f => hasMap(f.dataType))
        case _ => false
      }
      val within =
        if (df.schema.exists(f => f.name == TxnLog.StatsKeyCol && TxnLog.statsSupported(f.dataType)))
          col(TxnLog.StatsKeyCol)
        else hash(df.schema.fields.filterNot(f => hasMap(f.dataType)).map(f => col(f.name)): _*)
      val by = partitionCol.map(col).toSeq :+ within
      df.repartitionByRange(splits.toInt, by: _*).sortWithinPartitions(by: _*)
    }
  }

  /** End-to-end DDL propagation: apply a parsed [[Ddl.Stmt]] to the
    * snapshot table — the reference's handle_* fns (rust-cdc
    * `src/delta/mod.rs` DDL branch) re-expressed over the logged
    * parquet store.
    *
    *  - AddColumn: no rewrite — the table schema evolves lazily on
    *    the next [[merge]] (`unionByName(allowMissingColumns)`; the
    *    log's schema then carries the column and files that predate
    *    it read it as null). Rewriting 100 TB to add a null column
    *    would be the anti-pattern.
    *  - DropColumn / RenameColumn: projection rewrite committed as a
    *    new version (one straight-through column-pruned scan, no
    *    shuffle).
    *  - RenameTable: filesystem rename (metadata-only, O(1)).
    *  - DropTable: recursive delete.
    *  - TruncateTable: publish an EMPTY version; the committed
    *    offsets carry over in the log — the reference truncates data
    *    but the replication position must survive (a resumed stream
    *    must not re-ingest history).
    *
    * Returns the table dir after the statement (differs on rename).
    */
  def applyDdl(
      spark: SparkSession,
      stmt: Ddl.Stmt,
      tableDir: String,
      partitionCol: Option[String] = None): String = {
    val fs = fsFor(spark, tableDir)
    def rewrite(project: DataFrame => DataFrame): Unit =
      TxnLog.current(fs, tableDir).foreach { m =>
        val version = m.version + 1
        val out = project(TxnLog.readEntries(spark, tableDir, m.entries, m.schema))
        // an empty table's schema change still commits, with no files
        val entries =
          if (m.entries.isEmpty) Nil
          else TxnLog.writeCommitDir(byValue(out, partitionCol), tableDir, partitionCol, version)
        TxnLog.commit(fs, tableDir, version, out.schema, entries, operation = "ALTER TABLE")
      }
    stmt match {
      case Ddl.AddColumn(_, _) => tableDir // lazy evolution on next merge
      case Ddl.DropColumn(_, c) =>
        rewrite(df => if (df.columns.contains(c)) df.drop(c) else df)
        tableDir
      case Ddl.RenameColumn(_, from, to) =>
        rewrite(df => if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df)
        tableDir
      case Ddl.RenameTable(_, to) =>
        // sibling dir named after the (unquoted) new table name
        val dest = new Path(new Path(tableDir).getParent, to.stripPrefix("`").stripSuffix("`"))
        fs.rename(new Path(tableDir), dest)
        dest.toString
      case Ddl.DropTable(_) =>
        fs.delete(new Path(tableDir), true); tableDir
      case Ddl.TruncateTable(_) =>
        TxnLog.current(fs, tableDir).foreach { m =>
          TxnLog.commit(fs, tableDir, m.version + 1, m.schema, Nil, operation = "TRUNCATE")
          TxnLog.vacuum(fs, tableDir) // truncated data is gone for good
        }
        tableDir
      case Ddl.Other(_) => tableDir
    }
  }

  /** Merge a changelog batch that may carry interleaved DDL events —
    * the reference ingest loop's QUERY branch: data rows flush in
    * offset order around each DDL, and each DDL applies to the table
    * via [[applyDdl]] before later data lands. DDL rows have
    * `op == Op.Query` and the statement text in `stmtCol`; they are
    * rare, so collecting them to the driver (where schema decisions
    * happen, as in the reference) is O(few), while data rows stay
    * distributed throughout. Returns the table dir after the batch
    * (it changes on RENAME TABLE).
    */
  def mergeWithDdl(
      spark: SparkSession,
      changes: DataFrame,
      tableDir: String,
      partitionCol: Option[String] = None,
      stmtCol: String = "stmt"): String = {
    val ddls: Array[(Long, String)] =
      if (!changes.columns.contains(stmtCol)) Array.empty
      else changes.filter(col("op") === Op.Query && col(stmtCol).isNotNull)
        .select(col("offset"), col(stmtCol))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val data = changes.filter(col("op") =!= Op.Query)
    var dir = tableDir
    var lower = Long.MinValue
    ddls.foreach { case (off, stmt) =>
      val segment = data.filter(col("offset") > lower && col("offset") < off)
      if (!segment.isEmpty) merge(spark, segment, dir, partitionCol)
      dir = applyDdl(spark, Ddl.parse(stmt), dir, partitionCol)
      lower = off
    }
    val rest = data.filter(col("offset") > lower)
    if (!rest.isEmpty) merge(spark, rest, dir, partitionCol)
    dir
  }

  /** Route undecodable records to the dead-letter area. Returns the
    * clean subset. `isBad` marks rows the decoder rejected.
    */
  def deadLetter(
      changes: DataFrame,
      tableDir: String,
      isBad: org.apache.spark.sql.Column): DataFrame = {
    val bad = changes.filter(isBad)
    if (!bad.isEmpty) {
      bad.withColumn("_dlq_ts", current_timestamp())
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dlqDir(tableDir))
    }
    changes.filter(!isBad)
  }

  /** Max offset per source in a snapshot write's input — one agg job
    * (the merge path gets the same numbers from its fused metadata
    * pass).
    */
  private def batchOffsets(changes: DataFrame): Map[String, Long] = {
    val sourceCol =
      if (changes.columns.contains("source_file")) col("source_file")
      else lit("default")
    changes
      .groupBy(sourceCol.as("source"))
      .agg(max(col("offset")).as("committed_offset"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toMap
  }

  /** Committed max offset per source at the current version (the
    * resume point after a restart): the log's `txn` actions, which
    * commit atomically with the data (reference LogCommitter.commit:
    * same-offset re-commit is a no-op).
    */
  def committedOffsets(spark: SparkSession, tableDir: String): Map[String, Long] =
    DeltaLog.snapshot(fsFor(spark, tableDir), tableDir).fold(Map.empty[String, Long])(_.txns)
}
