package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - every [[CompactEvery]]-th merge (counted in the log's
  *    commitInfo) compacts accumulated small files into size-targeted
  *    ones (≤ [[TxnLog.TargetRecordsPerFile]] records; a skew-hot
  *    partition value sub-splits across parallel tasks) and vacuums
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
    * evaluated against THAT version's files and stats,
    * with [[TxnLog.readVersion]]'s contract — a vacuumed or
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
    val manifest = asOf match {
      case Some(v) => Some(TxnLog.manifestAt(fs, tableDir, v).getOrElse(
        throw new IllegalArgumentException(
          s"txnlog: version $v of $tableDir is not readable (never " +
            s"committed, or vacuumed; retained: " +
            s"${TxnLog.versions(fs, tableDir).mkString(",")})")))
      case None => TxnLog.current(fs, tableDir)
    }
    manifest match {
      case Some(m) if m.entries.nonEmpty =>
        val kt = m.schema.fields
          .find(_.name == TxnLog.StatsKeyCol).map(_.dataType)
        def overlaps(e: TxnLog.Entry): Boolean =
          (for {
            t <- kt
            eLo <- e.min; eHi <- e.max
            c1 <- TxnLog.compareStat(t, eHi, lo) // file.max < lo
            c2 <- TxnLog.compareStat(t, eLo, hi) // file.min > hi
          } yield !(c1 < 0 || c2 > 0)).getOrElse(true)
        val live = m.entries.filter(overlaps)
        if (live.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
        else TxnLog.readEntries(spark, tableDir, live, m.schema).filter(rowFilter(kt))
      case Some(m) => // committed but empty version (e.g. post-truncate)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      case None =>
        val full = read(spark, tableDir)
        full.filter(rowFilter(
          full.schema.fields.find(_.name == TxnLog.StatsKeyCol).map(_.dataType)))
    }
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
    val entries = TxnLog.writeCommitDir(snap, tableDir, partitionCol, version)
    TxnLog.commit(fs, tableDir, version, snap.schema, entries, batchOffsets(changelog))
  }

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

  /** Full rewrite like [[writeSnapshot]], but range-clustered by the
    * stats key in the same pass — equivalent to writeSnapshot followed
    * by [[compact]] without materializing and re-reading the table in
    * between. The 100 TB bootstrap shape: a snapshot load's files come
    * out key-disjoint and sorted on day one, so the very first merge
    * already prunes, and the table never pays a full compaction
    * rewrite just to earn its key-range stats. Falls back to plain
    * writeSnapshot when the key column isn't stats-orderable.
    */
  def writeSnapshotClustered(
      changelog: DataFrame,
      tableDir: String,
      targetRecordsPerFile: Long = TxnLog.TargetRecordsPerFile): Unit = {
    val spark = changelog.sparkSession
    val snap0 = CdcApply.snapshot(changelog)
    val rangeKey = snap0.schema.fields.find(f =>
      f.name == TxnLog.StatsKeyCol && TxnLog.statsSupported(f.dataType))
    if (rangeKey.isEmpty) { writeSnapshot(changelog, tableDir, None); return }
    val fs = fsFor(spark, tableDir)
    // persisted across the count+write double pass (same contract as
    // compact's sub-split path)
    val snap = snap0.persist()
    try {
      val n = snap.count()
      val parts = math.max(1L,
        (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
      val out =
        if (parts > 1)
          snap.repartitionByRange(parts, col(TxnLog.StatsKeyCol))
            .sortWithinPartitions(TxnLog.StatsKeyCol)
        else snap.repartition(parts)
      val version = TxnLog.current(fs, tableDir).map(_.version + 1).getOrElse(1L)
      val entries = TxnLog.writeCommitDir(
        out, tableDir, None, version, targetRecordsPerFile)
      TxnLog.commit(fs, tableDir, version, out.schema, entries, batchOffsets(changelog))
    } finally snap.unpersist()
  }

  /** Incremental upsert merge: apply `changes` (a changelog batch)
    * to the existing snapshot, rewriting only touched partitions.
    * The new version carries the untouched partitions' files forward
    * unchanged.
    */
  def merge(
      spark: SparkSession,
      changes0: DataFrame,
      tableDir: String,
      partitionCol: Option[String] = None): Unit = {
    val fs = fsFor(spark, tableDir)
    val manifest = TxnLog.current(fs, tableDir)
    if (manifest.isEmpty || manifest.get.entries.isEmpty) {
      // bootstrap (or post-truncate repopulation — offsets merge in)
      writeSnapshot(changes0, tableDir, partitionCol)
      return
    }
    // a merge takes several actions over the batch (prune bounds /
    // touched partitions and offsets, the write): cache the
    // increment once instead of re-running its lineage per pass —
    // batches are increment-sized by contract (bulk loads take
    // writeSnapshot)
    val changes = changes0.persist()
    try mergeCached(spark, changes, tableDir, partitionCol, manifest.get, fs)
    finally changes.unpersist()
  }

  private def mergeCached(
      spark: SparkSession,
      changes: DataFrame,
      tableDir: String,
      partitionCol: Option[String],
      m: TxnLog.Manifest,
      fs: FileSystem): Unit = {
    // one metadata pass over the cached increment: key bounds,
    // touched partitions and per-source offsets used to be THREE
    // separate driver jobs (plus each one's AQE sub-jobs) over the
    // same persisted batch — [[batchMeta]] fuses them into a single
    // scan; every downstream decision sees the same numbers
    val keyType = changes.schema.fields
      .find(f => f.name == TxnLog.StatsKeyCol &&
        TxnLog.statsSupported(f.dataType))
      .map(_.dataType)
      .filter(kt => m.schema.fields
        .find(_.name == TxnLog.StatsKeyCol).map(_.dataType).contains(kt))
    val meta = batchMeta(changes, partitionCol, keyType)
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
    val (schema, entries) = partitionCol match {
      // an empty batch commits no file changes (it still counts as a
      // merge toward the compaction cadence)
      case _ if meta.nRows == 0 => (m.schema, m.entries)
      case None =>
        // unpartitioned: key-range-pruned merge. Files whose
        // [min,max] key range no batch key can hit are carried
        // forward untouched (Delta-style data skipping on the logged
        // per-file stats); only intersecting files are read, folded
        // with the batch, and rewritten. Stats-less files / key types
        // and null-key batches degrade to everything-touched — a full
        // rewrite, never a wrong prune. allowMissingColumns both ways
        // → schema EVOLVES when the changelog gains columns
        // (reference DDL propagation: ALTER TABLE ADD COLUMN flows
        // into the table; dropped columns stay, null-filled).
        val pr = splitByKeyRange(spark, changes, m.schema, m.entries, meta)
        val unioned =
          if (pr.touched.isEmpty) changes
          else TxnLog.readEntries(spark, tableDir, pr.touched, m.schema)
            .withColumn("op", lit(Op.Update))
            .unionByName(changes, allowMissingColumns = true)
        val merged = CdcApply.snapshot(unioned)
        val entries = TxnLog.writeCommitDir(
          merged, tableDir, None, m.version + 1, computeStats = false)
        (unionSchema(m.schema, merged.schema), pr.untouched ++ withRange(entries, pr.commitRange))
      case Some(p) =>
        // touched partition values come from the fused metadata pass
        // (the SMALL change batch's distinct partition set)
        val touchedEsc = meta.touchedParts.getOrElse(Seq.empty).map(hivePartName).toSet
        val (partTouched, untouchedEntries) =
          m.entries.partition(_.partition.exists(touchedEsc.contains))
        // second pruning level: within the touched PARTITIONS, keep
        // files whose key range no batch key can hit (hot-partition
        // updates rewrite the files they intersect, not the whole
        // partition value)
        val pr = splitByKeyRange(spark, changes, m.schema, partTouched, meta)
        // touched files read under the committed schema: a file that
        // predates an evolved column reads it as null
        val unioned = if (pr.touched.isEmpty) changes else {
          TxnLog.readEntries(spark, tableDir, pr.touched, m.schema)
            .withColumn("op", lit(Op.Update))
            .unionByName(changes, allowMissingColumns = true)
        }
        val merged = CdcApply.snapshot(unioned)
        val newEntries = TxnLog.writeCommitDir(
          merged, tableDir, Some(p), m.version + 1, computeStats = false)
        // emptied partitions simply have no files in the new version
        (unionSchema(m.schema, merged.schema),
          untouchedEntries ++ pr.untouched ++ withRange(newEntries, pr.commitRange))
    }
    val committed = TxnLog.commit(fs, tableDir, m.version + 1, schema, entries,
      meta.offsets, DeltaLog.MergeOp)
    TxnLog.failpoint(TxnLog.Crash.AfterPublish)
    if (committed.mergeCount % CompactEvery == 0) compact(spark, tableDir, partitionCol)
  }

  /** One-pass merge-batch metadata (guide §2.4 — fold sequential
    * driver actions that scan the same frame). A merge needs three
    * increment-sized metadata reads: the key bounds that drive file
    * pruning ([[splitByKeyRange]]), the distinct partition values the
    * batch touches, and the per-source max offsets the commit records
    * next to the data. They used to run as three separate
    * jobs over the persisted batch; one ROLLUP(source) aggregate
    * computes all of them in a single scan — the rollup's grand-total
    * row is EXACTLY the old bounds agg (same native-typed min/max then
    * [[TxnLog.statExpr]] render), the per-source rows are exactly the
    * old offsets groupBy, so every downstream decision and committed
    * stat is bit-identical to the unfused form's. `collect_set` drops
    * nulls, so a null partition value is re-added from its counted
    * column (null partitions land in __HIVE_DEFAULT_PARTITION__ and
    * must count as touched).
    */
  private final case class BatchMeta(
      nRows: Long,
      nullKeys: Long,
      lo: Option[String],
      hi: Option[String],
      touchedParts: Option[Seq[Any]],
      offsets: Map[String, Long])

  private def batchMeta(
      changes: DataFrame,
      partitionCol: Option[String],
      keyType: Option[org.apache.spark.sql.types.DataType]): BatchMeta = {
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
    val offsets = perSrc.map(r =>
      String.valueOf(r.get(r.fieldIndex("_graft_src"))) ->
        r.getLong(r.fieldIndex("_moff"))).toMap
    totals.headOption match {
      // an empty batch produces no rollup rows at all (Expand over
      // zero input rows) — the old plain agg returned a count=0 row;
      // synthesize the same zeros
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

  /** Batches with at most this many rows get per-key prune precision
    * (a distinct + broadcast-stats join); larger batches prune at
    * range level only — a bulk redelivery that spans the keyspace
    * must not pay a distinct pass to learn it touches everything.
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
    * change batch using the per-file key-range stats. Stage 1 runs on
    * the driver with a typed comparator over one cheap bounds agg;
    * stage 2 (increment-sized batches that stage 1 already pruned)
    * sharpens to exactly the files some batch key lands in. Every
    * uncertainty degrades to touched — a full rewrite, never a wrong
    * prune: stats-less files, unsupported key types, null-key
    * batches, and key-type drift between the batch and the table
    * (the stored stat strings were rendered under the TABLE's key
    * type; comparing them under a different batch type would be
    * cross-type garbage).
    */
  private def splitByKeyRange(
      spark: SparkSession,
      changes: DataFrame,
      tableSchema: org.apache.spark.sql.types.StructType,
      entries: Seq[TxnLog.Entry],
      meta: BatchMeta): PruneSplit = {
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
    val k = col(TxnLog.StatsKeyCol)
    // bounds come precomputed from the caller's fused metadata pass
    // ([[batchMeta]]) — same aggregate values the in-line agg produced
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
    val nRows = meta.nRows
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
    // stage 1 on the DRIVER (zero Spark jobs): a file survives iff
    // its range intersects the batch's [min,max]; an uncomparable
    // pair (NaN etc.) keeps the file touched
    def intersects(e: TxnLog.Entry): Boolean = {
      val misses = for {
        c1 <- TxnLog.compareStat(kt, e.max.get, bLo) // file.max < batch.min
        c2 <- TxnLog.compareStat(kt, e.min.get, bHi) // file.min > batch.max
      } yield c1 < 0 || c2 > 0
      !misses.getOrElse(false)
    }
    val (inRange, outOfRange) = withStats.partition(intersects)
    val touched =
      // stage-2 refine only when it can actually prune something:
      // with ≤1 surviving file the join job could at best turn 1
      // file into 0 (a batch landing entirely in a stats gap — rare,
      // and the false rewrite it avoids costs one file), so the
      // per-merge fixed cost of a distinct+broadcast-join pass is
      // not worth paying
      if (outOfRange.isEmpty || nRows > RefineMaxKeys || inRange.length <= 1)
        inRange
      else {
        // stage 2: per-key precision — only when stage 1 already
        // showed locality and the batch is increment-sized, so a
        // scattered bulk redelivery never pays a distinct pass just
        // to learn it touches everything
        import spark.implicits._
        val stats = inRange.map(e => (e.path, e.min.get, e.max.get))
          .toDF("_p", "_min", "_max")
        val touchedPaths = changes.select(k.as("_k")).distinct()
          .join(broadcast(stats),
            col("_k").between(TxnLog.statDecode(kt, col("_min")),
              TxnLog.statDecode(kt, col("_max"))))
          .select("_p").distinct()
          .collect().map(_.getString(0)).toSet
        inRange.filter(e => touchedPaths(e.path))
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

  /** Rewrite the table to size-targeted files (≤ targetRecordsPerFile
    * records each) and vacuum. Partitioned tables cluster + sub-split
    * inside [[TxnLog.writeCommitDir]] — a skew-hot partition value
    * compacts through ceil(n/target) parallel tasks, never one giant
    * single-task file; unpartitioned tables repartition to
    * ceil(rows/target) output files.
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
        val out = partitionCol match {
          case Some(_) => snap // writeCommitDir clusters + sub-splits
          case None =>
            // row count from the log when every entry carries one
            // (merges and stats-bearing bulk commits record it) —
            // saves a full count scan of the table per compaction;
            // files committed without a row count pay the count.
            // Invariant: Entry.rows must equal the file's parquet
            // footer row count (graft writes it from the footer and
            // merge is copy-on-write). A foreign writer's stats with
            // present-but-wrong rows mis-sizes the repartition —
            // performance only, never correctness: writeCommitDir
            // still enforces targetRecordsPerFile sub-splitting
            val n =
              if (m.entries.forall(_.rows.isDefined)) m.entries.flatMap(_.rows).sum
              else snap.count()
            val parts = math.max(1L,
              (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
            // range-cluster by key when it is orderable: compacted
            // files become key-disjoint AND sorted, so the key-range
            // stats turn every later merge into a touch-only-the-
            // files-a-batch-hits rewrite instead of a table rewrite
            val rangeKey = snap.schema.fields
              .find(f => f.name == TxnLog.StatsKeyCol &&
                TxnLog.statsSupported(f.dataType))
            rangeKey match {
              case Some(_) if parts > 1 =>
                // sortWithinPartitions keeps maxRecordsPerFile
                // sub-files disjoint too, not just the range tasks
                snap.repartitionByRange(parts, col(TxnLog.StatsKeyCol))
                  .sortWithinPartitions(TxnLog.StatsKeyCol)
              case _ => snap.repartition(parts)
            }
        }
        val entries = TxnLog.writeCommitDir(
          out, tableDir, partitionCol, m.version + 1, targetRecordsPerFile,
          subSplitHotPartitions = true)
        TxnLog.commit(fs, tableDir, m.version + 1, out.schema, entries,
          operation = "OPTIMIZE")
      }
      TxnLog.vacuum(fs, tableDir)
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
        if (m.entries.isEmpty) {
          // empty table: the schema change still commits
          val out = project(TxnLog.read(spark, tableDir))
          TxnLog.commit(fs, tableDir, version, out.schema, Nil, operation = "ALTER TABLE")
        } else {
          val out = project(TxnLog.readEntries(spark, tableDir, m.entries, m.schema))
          val entries = TxnLog.writeCommitDir(out, tableDir, partitionCol, version)
          TxnLog.commit(fs, tableDir, version, out.schema, entries, operation = "ALTER TABLE")
        }
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
