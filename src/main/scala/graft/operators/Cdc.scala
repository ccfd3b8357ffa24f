package graft.operators

import graft.{QueryDef, Scratch, Tables}
import graft.QueryDef._
import graft.cdc._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC operator suite — SURVEY.md §2 "CDC semantics".
  *
  * The synthetic `events` table plays the binlog: `event_id` =
  * position, `user_id` = unique key, event type → operation (see
  * [[graft.cdc.Changelog]]).
  */
object Cdc {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("cdc_snapshot", snapshot, Some(snapshotSql)),
    QueryDef("cdc_op_stats", opStats, Some(opStatsSql)),
    QueryDef("cdc_match_filter", matchFilter, Some(matchFilterSql)),
    QueryDef("cdc_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("cdc_before_after", beforeAfter, Some(beforeAfterSql)),
    QueryDef("cdc_offset_commit", offsetCommit, Some(offsetCommitSql)),
    QueryDef("cdc_commit_watermark", commitWatermark, Some(commitWatermarkSql)),
    QueryDef("cdc_ddl_parse", ddlParse, Some(ddlParseSql)),
    QueryDef("cdc_type_decode", typeDecode, Some(typeDecodeSql)),
    QueryDef("cdc_binlog_source", binlogSource, None),
    QueryDef("cdc_bloom_dedup", bloomDedup, Some(bloomDedupSql)),
    QueryDef("cdc_binlog_throughput", binlogThroughput, None),
    QueryDef("cdc_gtid_set", gtidSet, Some(gtidSetSql)),
    QueryDef("cdc_sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("cdc_stream_apply", streamApply, Some(snapshotSqlStream)),
    QueryDef("cdc_stream_window", streamWindow, Some(streamWindowSql)),
    QueryDef("cdc_stream_dedup", streamDedup, Some(streamDedupSql)),
    QueryDef("cdc_sink", cdcSink, Some(sinkSql)),
    QueryDef("cdc_ingest", cdcIngest, Some(ingestSql)),
    QueryDef("cdc_listeners", cdcListeners, Some(listenersSql)),
    QueryDef("cdc_binlog_stream", binlogStream, None),
    QueryDef("cdc_binlog_pushdown", binlogPushdown, None),
    QueryDef("cdc_kafka_ingest", kafkaIngest, Some(kafkaIngestSql)),
    QueryDef("cdc_stream_join", streamJoin, Some(streamJoinSql)),
    QueryDef("cdc_time_travel", timeTravel, Some(timeTravelSql)),
    QueryDef("cdc_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
    QueryDef("cdc_compaction", compaction, Some(compactionSql)),
    QueryDef("cdc_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    QueryDef("cdc_scd2", scd2, Some(scd2Sql)),
    QueryDef("cdc_incremental_snapshot", incrementalSnapshot,
      Some(incrementalSnapshotSql)),
    QueryDef("cdc_txn_assemble", txnAssemble, None),
    QueryDef("cdc_bloom_sweep", bloomSweep, None),
    QueryDef("cdc_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("cdc_gtid_resume", gtidResume, Some(gtidResumeSql)),
    QueryDef("cdc_control_events", controlEvents, None),
    QueryDef("cdc_replica_loop", replicaLoop, Some(replicaLoopSql)),
    QueryDef("cdc_wire_handshake", wireHandshake, None),
    QueryDef("cdc_wire_command", wireCommand, None),
    QueryDef("cdc_delta_read", deltaRead, Some(deltaReadSql)),
    QueryDef("cdc_merge_pruned", mergePruned, Some(mergePrunedSql)),
    QueryDef("cdc_offsets_dense", offsetsDense, Some(offsetsDenseSql)),
    QueryDef("cdc_point_lookup", pointLookup, Some(pointLookupSql)),
    QueryDef("cdc_multi_table", multiTable, Some(multiTableSql))
  )

  /** Shared op-mapping SQL fragment — mirror of Changelog.canonicalize. */
  private val changelogSql =
    """SELECT CASE WHEN event_type = 'signup' THEN 'c'
      |            WHEN event_type = 'error' THEN 'd'
      |            ELSE 'u' END AS op,
      |       CAST(user_id AS VARCHAR) AS key,
      |       event_id AS "offset", ts, event_type, "value", props
      |FROM events""".stripMargin

  // --- cdc_snapshot: upsert fold → materialized latest-per-key ---
  private def snapshot(s: SparkSession, dir: String): DataFrame =
    CdcApply.snapshot(Changelog.fromEvents(s, dir))
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")

  private val snapshotSql =
    s"""SELECT key, "offset" AS last_offset, event_type, "value"
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |      FROM ($changelogSql))
       |WHERE rn = 1 AND op <> 'd'
       |ORDER BY key""".stripMargin

  // --- cdc_op_stats: ingest-loop bookkeeping ---
  private def opStats(s: SparkSession, dir: String): DataFrame =
    CdcApply.opStats(Changelog.fromEvents(s, dir)).orderBy("op")

  private val opStatsSql =
    s"""SELECT op, COUNT(*) AS n_events, MIN("offset") AS min_offset,
       | MAX("offset") AS max_offset, COUNT(DISTINCT key) AS n_keys
       |FROM ($changelogSql) GROUP BY op ORDER BY op""".stripMargin

  // --- cdc_match_filter: db.table wildcard subscription ---
  private def matchFilter(s: SparkSession, dir: String): DataFrame = {
    val qualified = concat(lit("appdb."), col("event_type"))
    Tables.events(s, dir)
      .filter(MatchStrategy.matches(qualified, Seq("appdb"), Seq("p*", "click")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  private val matchFilterSql =
    """SELECT event_type, COUNT(*) AS n FROM events
      |WHERE regexp_matches('appdb.' || event_type, '^(appdb\.p(.)*|appdb\.click)$')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- cdc_dedup_exact: redelivered-event suppression ---
  private def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
    CdcApply.opStats(log.unionAll(log).distinct()).orderBy("op")
  }

  private val dedupExactSql =
    s"""SELECT op, COUNT(*) AS n_events, MIN("offset") AS min_offset,
       | MAX("offset") AS max_offset, COUNT(DISTINCT key) AS n_keys
       |FROM (SELECT DISTINCT * FROM
       |   (SELECT * FROM ($changelogSql) UNION ALL SELECT * FROM ($changelogSql)))
       |GROUP BY op ORDER BY op""".stripMargin

  // --- cdc_before_after: Update(before, after) reconstruction ---
  private def beforeAfter(s: SparkSession, dir: String): DataFrame =
    CdcApply.beforeAfter(Changelog.fromEvents(s, dir), col("value"))
      .filter(col("op") === Op.Update)
      .select(col("offset"), col("key"), col("before_value"), col("after_value"))
      .orderBy("offset")

  private val beforeAfterSql =
    s"""SELECT "offset", key, before_value, after_value FROM (
       |  SELECT *, LAG("value", 1) OVER (PARTITION BY key ORDER BY "offset") AS before_value,
       |         "value" AS after_value
       |  FROM ($changelogSql))
       |WHERE op = 'u' ORDER BY "offset"""".stripMargin

  // --- cdc_offset_commit: idempotent LogCommitter semantics ---
  private def offsetCommit(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
    // redelivered changelog: effective commits must not double-count
    CdcApply.offsetCommits(log.unionAll(log)).orderBy("source_file")
  }

  // the offset-ordered replay's watermark degenerates to the offset
  // itself (see CdcApply.offsetCommits) — the oracle states the
  // degenerate form directly
  private val offsetCommitSql =
    s"""SELECT source_file, MAX("offset") AS committed_offset,
       | COUNT(DISTINCT "offset") AS n_commits, COUNT(*) AS n_events
       |FROM (
       |  SELECT 'mysql-bin.000001' AS source_file, "offset"
       |  FROM (SELECT "offset" FROM ($changelogSql)
       |        UNION ALL SELECT "offset" FROM ($changelogSql)))
       |GROUP BY source_file ORDER BY source_file""".stripMargin

  // --- cdc_commit_watermark: out-of-order commits per rotated file ---
  // The NON-degenerate LogCommitter shape (reference src/snapshot:
  // commit only if the position is beyond the source's watermark):
  // replay arrives out of order (deterministic hash scramble), so
  // effective commits = distinct running maxima — a genuine per-
  // source watermark window. Sources are rotated binlog FILES
  // (offset % 8), which is also the parallel unit: each file's
  // commit history is serial by nature (the reference holds one
  // committer per source), so the window partitions by file and the
  // plan scales with file count, never one reducer for everything.
  private def commitWatermark(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
      .select(col("offset"))
      .withColumn("source_file",
        concat(lit("mysql-bin.00000"), (col("offset") % 8).cast("string")))
      .withColumn("arrival",
        graft.functions.DetHash.frac(col("offset"), "arr:"))
    CdcApply.offsetCommits(log, arrivalCol = Some("arrival"))
      .orderBy("source_file")
  }

  private val commitWatermarkSql = {
    val arrival = graft.functions.DetHash.fracOfHexSql(
      """md5('arr:' || CAST("offset" AS VARCHAR))""")
    s"""SELECT source_file, MAX("offset") AS committed_offset,
       | COUNT(DISTINCT wm) AS n_commits, COUNT(*) AS n_events
       |FROM (
       |  SELECT source_file, "offset",
       |         MAX("offset") OVER (PARTITION BY source_file
       |                             ORDER BY arrival, "offset"
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
       |  FROM (
       |    SELECT "offset",
       |           'mysql-bin.00000' || CAST("offset" % 8 AS VARCHAR) AS source_file,
       |           $arrival AS arrival
       |    FROM ($changelogSql)))
       |GROUP BY source_file ORDER BY source_file""".stripMargin
  }

  // --- cdc_ddl_parse: QUERY-event DDL classification ---
  private def ddlParse(s: SparkSession, dir: String): DataFrame = {
    val stmt = when(col("p_partkey") % 6 === 0,
        concat(lit("ALTER TABLE t"), col("p_partkey"), lit(" ADD COLUMN c INT")))
      .when(col("p_partkey") % 6 === 1,
        concat(lit("ALTER TABLE t"), col("p_partkey"), lit(" RENAME COLUMN a TO b")))
      .when(col("p_partkey") % 6 === 2,
        concat(lit("ALTER TABLE t"), col("p_partkey"), lit(" RENAME TO t_new")))
      .when(col("p_partkey") % 6 === 3,
        concat(lit("DROP TABLE IF EXISTS t"), col("p_partkey")))
      .when(col("p_partkey") % 6 === 4,
        concat(lit("TRUNCATE TABLE t"), col("p_partkey")))
      .otherwise(concat(lit("INSERT INTO t"), col("p_partkey"), lit(" VALUES (1)")))
    Tables.part(s, dir)
      .select(Ddl.classify(stmt).as("kind"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n"))
      .orderBy("kind")
  }

  private val ddlParseSql =
    """SELECT kind, COUNT(*) AS n FROM (
      |  SELECT CASE
      |    WHEN regexp_matches(stmt, '(?i)^\s*ALTER\s+TABLE\s+\S+\s+RENAME\s+COLUMN\b') THEN 'rename_column'
      |    WHEN regexp_matches(stmt, '(?i)^\s*ALTER\s+TABLE\s+\S+\s+RENAME\s+TO\b') THEN 'rename_table'
      |    WHEN regexp_matches(stmt, '(?i)^\s*ALTER\s+TABLE\s+\S+\s+ADD\b') THEN 'add_column'
      |    WHEN regexp_matches(stmt, '(?i)^\s*ALTER\s+TABLE\s+\S+\s+DROP\b') THEN 'drop_column'
      |    WHEN regexp_matches(stmt, '(?i)^\s*DROP\s+TABLE\b') THEN 'drop_table'
      |    WHEN regexp_matches(stmt, '(?i)^\s*TRUNCATE\b') THEN 'truncate'
      |    ELSE 'other' END AS kind
      |  FROM (
      |    SELECT CASE p_partkey % 6
      |      WHEN 0 THEN 'ALTER TABLE t' || p_partkey || ' ADD COLUMN c INT'
      |      WHEN 1 THEN 'ALTER TABLE t' || p_partkey || ' RENAME COLUMN a TO b'
      |      WHEN 2 THEN 'ALTER TABLE t' || p_partkey || ' RENAME TO t_new'
      |      WHEN 3 THEN 'DROP TABLE IF EXISTS t' || p_partkey
      |      WHEN 4 THEN 'TRUNCATE TABLE t' || p_partkey
      |      ELSE 'INSERT INTO t' || p_partkey || ' VALUES (1)' END AS stmt
      |    FROM part))
      |GROUP BY kind ORDER BY kind""".stripMargin

  // --- cdc_type_decode: the column-type decode surface, ORACLED ---
  // The reference's core type mapping (rust-cdc src/mysql/event/
  // mod.rs:370-640) exercised through the REAL parse path: three
  // generated binlogs — the typed table (INT, BIT(9), ENUM, SET,
  // DATE), the temporal table (DATETIME2(3), TIMESTAMP2(2), TIME2,
  // JSON, GEOMETRY, legacy TIME/DATETIME, YEAR), and the numeric
  // table (NEWDECIMAL(12,4), FLOAT, DOUBLE, NEWDECIMAL(8,2) crossing
  // zero, BLOB) — stream through the DSv2 source, decode into typed
  // Spark columns, and compare against a DuckDB table re-derived
  // from the generator's OWN arithmetic (the fixture values are
  // formula-of-row-id by construction, so the oracle enumerates the
  // same formulas as SQL literals: a one-bit decode slip in any of
  // the 19 columns — packed BCD sign inversion included — is a hash
  // mismatch, not a pin drift).
  private val TypeDecodeRows = 300

  private def typeDecode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val genDir = ensureGenerated("graft_binlog_typedecode") { tmp =>
      graft.sources.binlog.BinlogGen.writeTypedFile(
        tmp.resolve("mysql-bin.000001").toString, n = TypeDecodeRows)
      graft.sources.binlog.BinlogGen.writeTemporalFile(
        tmp.resolve("mysql-bin.000002").toString, n = TypeDecodeRows)
      graft.sources.binlog.BinlogGen.writeNumericFile(
        tmp.resolve("mysql-bin.000003").toString, n = TypeDecodeRows)
    }
    val ev = graft.sources.binlog.BinlogSource.events(s, genDir)
      .filter(col("event_type") === "WRITE_ROWS_V2")
    def js(n: Int) = StructType(
      (0 until n).map(i => StructField(s"col_$i", StringType)))
    val t = ev.filter(col("table_name") === "typed")
      .select(from_json(col("after"), js(5)).as("a"))
      .select(
        col("a.col_0").cast("int").as("id"),
        col("a.col_1").as("bit_hex"),
        col("a.col_2").cast("int").as("enum_idx"),
        col("a.col_3").cast("int").as("set_mask"),
        col("a.col_4").cast("date").as("d"))
    val x = ev.filter(col("table_name") === "temporal")
      .select(from_json(col("after"), js(10)).as("a"))
      .select(
        col("a.col_0").cast("int").as("id"),
        col("a.col_1").cast("timestamp").as("dt2"),
        col("a.col_2").cast("double").as("ts2_epoch"),
        col("a.col_3").as("time2"),
        col("a.col_4").as("json_hex"),
        col("a.col_5").as("geom_hex"),
        col("a.col_6").as("time_legacy"),
        col("a.col_7").cast("timestamp").as("dt_legacy"),
        col("a.col_8").as("time_neg"),
        col("a.col_9").cast("int").as("yr"))
    // numeric families exit as engine-neutral doubles (the QueryDef
    // convention): decimal casts pin the exact scale first, so both
    // engines convert the SAME decimal to its nearest double
    val nm = ev.filter(col("table_name") === "numeric")
      .select(from_json(col("after"), js(6)).as("a"))
      .select(
        col("a.col_0").cast("int").as("id"),
        col("a.col_1").cast("decimal(12,4)").cast("double").as("dec1"),
        col("a.col_2").cast("float").as("f"),
        col("a.col_3").cast("double").as("dbl"),
        col("a.col_4").cast("decimal(8,2)").cast("double").as("dec2"),
        col("a.col_5").as("blob_txt"))
    t.join(x, Seq("id")).join(nm, Seq("id")).orderBy("id")
  }

  private val typeDecodeSql =
    s"""WITH t AS (SELECT CAST(i AS INT) AS id
       |           FROM generate_series(1, $TypeDecodeRows) g(i))
       |SELECT id,
       |  printf('0x%04x', id % 512) AS bit_hex,
       |  CAST(1 + id % 3 AS INT) AS enum_idx,
       |  CAST(id % 7 AS INT) AS set_mask,
       |  make_date(2024, 1 + id % 12, 1 + id % 28) AS d,
       |  TIMESTAMP '2024-01-02 03:04:05.678' AS dt2,
       |  CAST(1700000000.25 AS DOUBLE) AS ts2_epoch,
       |  '12:34:56' AS time2,
       |  '0x0102' AS json_hex,
       |  '0x0101000000000000000000f03f0000000000000040' AS geom_hex,
       |  '09:34:56' AS time_legacy,
       |  TIMESTAMP '2024-01-02 03:04:05' AS dt_legacy,
       |  '-01:00:00' AS time_neg,
       |  CAST(0 AS INT) AS yr,
       |  CAST(CAST((id * 98765 + 4321) / 10000.0 AS DECIMAL(12,4)) AS DOUBLE) AS dec1,
       |  CAST(id + 0.5 AS REAL) AS f,
       |  CAST(id * 1024.0 + 0.125 AS DOUBLE) AS dbl,
       |  CAST(CAST((14975 - id * 100) / 100.0 AS DECIMAL(8,2)) AS DOUBLE) AS dec2,
       |  'blob-' || id AS blob_txt
       |FROM t ORDER BY id""".stripMargin

  // --- cdc_bloom_dedup: bloom-gated new-key detection --------------
  // Replays the reference's StableBloomFilter front gate: events in
  // the second half of the log survive only if their user was never
  // seen in the first half. The bloom filter has no false negatives,
  // so with the exact back-check the result is exact — the oracle is
  // a plain NOT-IN.
  private def bloomDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "user_id", "event_type")
    val cnt = ev.agg(max("event_id")).head.getLong(0) / 2
    val history = ev.filter(col("event_id") <= cnt)
    val incoming = ev.filter(col("event_id") > cnt)
    BloomDedup.suppressSeen(incoming, history, "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_new_users"))
      .orderBy("event_type")
  }

  private val bloomDedupSql =
    """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_new_users
      |FROM events
      |WHERE event_id > (SELECT MAX(event_id) // 2 FROM events)
      |  AND user_id NOT IN (SELECT user_id FROM events
      |                      WHERE event_id <= (SELECT MAX(event_id) // 2 FROM events))
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- cdc_binlog_throughput: parse a generated binlog at volume ---
  // The reference's headline single-node workload is binlog parsing;
  // this generates a deterministic binlog (size scaled to the SF) on
  // first use, then measures the distributed parse through the DSv2
  // source. 8 files → 8-way parallelism.
  /** Short digest of the generators' class bytes (`BinlogGen` and
    * this object). It is part of every corpus directory's name, so
    * any edit to a generator writes a fresh corpus instead of reading
    * a stale one left in the temp dir by an older build.
    */
  private[graft] lazy val generatorDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq(graft.sources.binlog.BinlogGen.getClass, getClass).foreach { c =>
      val in = c.getResourceAsStream(s"/${c.getName.replace('.', '/')}.class")
      try md.update(in.readAllBytes()) finally in.close()
    }
    md.digest().take(6).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Generate-once publish for a derived binlog corpus, at
    * `<tmpdir>/<name>_<digest>`: write into a temp dir, stamp
    * `_COMPLETE`, ATOMIC_MOVE into place. Losing the rename race to a
    * concurrent generator is benign (the winner's output is
    * identical); any other failure deletes the temp dir before
    * rethrowing, so a crashed generation never leaks. A publish
    * prunes the name's other digests to the newest one: the scratch
    * policy's one generation of grace ([[graft.Scratch.keepNewest]]),
    * so two builds running side by side keep each other's corpus.
    */
  private[graft] def ensureGenerated(name: String, digest: String = generatorDigest)(
      write: java.nio.file.Path => Unit): String = {
    val genDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"${name}_$digest")
    val marker = genDir.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      // stale partial dir from a crashed/pre-marker generation;
      // re-check the marker immediately before deleting so a racer
      // finishing in between is (almost) never torn down — losing the
      // remaining sliver of the race is then caught by the
      // IOException-with-marker branch below
      if (!java.nio.file.Files.exists(marker))
        org.apache.commons.io.FileUtils.deleteQuietly(genDir.toFile)
      val tmp = java.nio.file.Files.createTempDirectory(
        genDir.getParent, s"${name}_tmp_")
      try {
        write(tmp)
        java.nio.file.Files.writeString(tmp.resolve("_COMPLETE"), "ok")
        java.nio.file.Files.move(tmp, genDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val family = java.util.regex.Pattern.quote(name) + "_[^_]+"
        graft.Scratch.keepNewest(genDir.getParent.toFile.listFiles().toSeq
          .filter(f => f.getName.matches(family) && f.toPath != genDir))
      } catch {
        // ANY failure cleans the temp dir (a generator crash must not
        // leak fixture dirs across runs); only the lost publish race
        // — marker present — is swallowed
        case e: Throwable if scala.util.control.NonFatal(e) =>
          org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
          if (!(e.isInstanceOf[java.io.IOException] &&
              java.nio.file.Files.exists(marker))) throw e
      }
    }
    genDir.toString
  }

  def ensureBinlogGenerated(s: SparkSession, dir: String): String = {
    // binlogs cannot be split at arbitrary offsets (length-prefixed
    // events, no sync markers), so DSv2 parallelism = file count;
    // 32 rotated files at the same total volume matches a real
    // deployment's log rotation AND a 32-core box.
    // Volume ∝ scale factor, DERIVED from the orders row count (625
    // rows/file at sf0.001 → 625k at sf1 → 6.25M at sf10) — the old
    // dir-suffix match silently fell to the toy size for any dir it
    // didn't recognize ('…/sf10' matched none of its cases).
    val rowsPerFile = ((Tables.orders(s, dir).count() * 5) / 12).toInt
    val nFiles = 32
    ensureGenerated(s"graft_binlog_gen_$rowsPerFile") { tmp =>
      (1 to nFiles).foreach { i =>
        graft.sources.binlog.BinlogGen.writeFile(
          tmp.resolve(f"mysql-bin.$i%06d").toString, rowsPerFile)
      }
    }
  }

  // --- cdc_control_events: STOP/INCIDENT/IGNORABLE/HEARTBEAT ---
  // The reference decodes the control ids too (rust-cdc
  // src/mysql/event/mod.rs:287,301-338); INCIDENT in particular
  // signals possible replica divergence and must never be silently
  // dropped. A generated stream plants one of each after a normal
  // row batch; the typed INCIDENT rows (number + message) are routed
  // through the sink's dead-letter path and the summary reports, per
  // event type, the stream count, how many of that type the DLQ
  // holds, the decoded incident detail, and HEARTBEAT's log_ident
  // (the idle-master resume-file pointer). Rows-only (binary input),
  // content-pinned in ContentPinSpec.
  private def controlEvents(s: SparkSession, dir: String): DataFrame = {
    val genDir = ensureControlGenerated()
    val ev = graft.sources.binlog.BinlogSource.events(s, genDir)
    val dlq = Scratch.run("cdc_control_events") { gen =>
      val tableDir = gen.resolve("table").toString
      CdcSink.deadLetter(ev, tableDir, col("event_type") === "INCIDENT")
      s.read.parquet(CdcSink.dlqDir(tableDir))
    }
    val summary = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("next_binlog")).as("heartbeat_ident"))
    val dlqSummary = dlq.groupBy("event_type")
      .agg(count(lit(1)).as("n_dlq"),
        max(col("int_value")).as("incident_no"),
        max(col("query")).as("incident_msg"))
    summary.join(dlqSummary, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_dlq"))
      .orderBy("event_type")
  }

  // --- cdc_replica_loop: the reference's whole main loop, socketless ---
  // rust-cdc src/mysql/conn.rs:181-268 composed end-to-end as ONE
  // streaming query: binlog files stream in (readStream.format
  // ("binlog"), the socketless stand-in for COM_BINLOG_DUMP) → each
  // micro-batch assembles transactions (row event → its following
  // XID; xid == gno by generator construction) → transactions whose
  // gno the executed-GTID interval set covers are SKIPPED (the
  // resume-with-holes semantics of cdc_gtid_resume, broadcast
  // interval anti-join — the probe side never shuffles) → surviving
  // row images MERGE into the CdcSink versioned table with offsets
  // committed after data. The table was bootstrapped with the
  // executed epoch's rows (epoch=0); the resumed epoch applies with
  // epoch=1, so the final snapshot proves exactly-the-right txns
  // were replayed. Deterministic planted stream → full DuckDB hash
  // oracle re-derives the end state from the generator's arithmetic.
  private val ReplicaFiles = 8
  private val ReplicaRowsPerTxn = 5

  /** Stream size ∝ scale factor, derived from the orders row count
    * so the DuckDB oracle re-derives the identical size from the
    * same table (integer arithmetic mirrored exactly): sf0.01 →
    * 3,000 txns / 15k row images; sf0.1 → 30k / 150k; sf1 → 300k /
    * 1.5M. The planted stream — and therefore the whole main-loop
    * composition this entry proves — scales with the data, not a
    * fixed ~2 s fixture.
    */
  private def replicaTxns(s: SparkSession, dir: String): Long = {
    val n = (Tables.orders(s, dir).count() / 40) * ReplicaFiles
    // replicaLoopSql's DuckDB oracle enumerates gnos from a fixed
    // range(1, 10M+1) ceiling (range() can't take a subquery there).
    // Above that the oracle would silently truncate while this side
    // keeps scaling — surface the ceiling loudly with its cause
    // instead of as a baffling hash mismatch. 10M txns ≈ sf30.
    require(n <= 10000000L,
      s"replica-loop stream has $n txns, above the 10M ceiling baked " +
        "into replicaLoopSql's DuckDB range(); raise both together")
    n
  }

  private def replicaLoop(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTxns = replicaTxns(s, dir)
    val bound = nTxns * 3 / 5
    // previous epoch's executed set: 60% prefix + ~64 isolated gnos
    // spread through the tail — the resume state a real replica
    // carries is a handful of holes, so the interval count stays
    // BOUNDED (~65) at every scale and the broadcast skip join costs
    // O(events × 65), linear in the stream
    val step = math.max(7L, (nTxns - bound) / 64)
    val genDir = ensureReplicaGenerated(nTxns)
    val qn = s"cdc_replica_loop_${System.nanoTime()}"
    Scratch.run(qn) { gen =>
      val tableDir = gen.resolve("table").toString
      // built as contiguous-range partitions (prefix spans + one tail
      // partition) rather than a filtered single range: the bootstrap
      // below derives keys monotonically from gno, so this layout IS
      // the range-clustering the sink wants — zero-shuffle bulk import.
      // Partition count is sized to the FILE target so partitions are
      // the file plan (a first cut at 32 slices splintered into ~5×
      // the files once maxRecordsPerFile sub-split them, and the extra
      // per-file open cost showed up directly in the cold merges/reads)
      val fileTarget = math.max(1000L, nTxns * ReplicaRowsPerTxn / 32)
      val prefixParts = math.max(1L,
        (bound * ReplicaRowsPerTxn + fileTarget - 1) / fileTarget).toInt
      val executedGnos = s.range(1, bound + 1, 1, prefixParts).toDF("gno")
        .unionAll(s.range(bound + 1, nTxns + 1, 1, 1).toDF("gno")
          .filter((col("gno") - bound) % step === 3))
      val intervals = GtidSet.intervals(
          executedGnos.withColumn("server_id", lit(1L)), "server_id", "gno")
        .select(col("gno_start"), col("gno_end")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // bootstrap: the replica's table already holds the executed epoch
      val bootstrap = executedGnos
        .select(col("gno"),
          explode(sequence(lit(1), lit(ReplicaRowsPerTxn))).as("j"))
        .select(
          ((col("gno") - 1) * ReplicaRowsPerTxn + col("j")).as("key"),
          lit("c").as("op"), col("gno").as("offset"),
          concat(lit("row-"),
            ((col("gno") - 1) * ReplicaRowsPerTxn + col("j"))
              .cast("string")).as("title"),
          lit(0L).as("epoch"), lit("bootstrap").as("source_file"))
      // range-clustered bootstrap with ZERO shuffle (the 100 TB load
      // shape): keys derive monotonically from gno and executedGnos is
      // already contiguous-range partitioned, so each partition's rows
      // come out key-ascending and key-disjoint by construction — the
      // pre-clustered bulk import skips the dedup agg AND the
      // sample+range exchange writeSnapshotClustered would pay to
      // rediscover this exact layout (measured ~3-4 s of the entry's
      // cold window at sf0.1). Key-disjoint sorted files mean each
      // replay merge rewrites only the files its contiguous gno range
      // touches, and the post-loop resume-point lookup has stats to
      // prune against. The record ceiling carries one-txn slack over
      // the file target: range slices are even only to ±1 gno, and a
      // partition a few rows over the exact target must not splinter a
      // 5-row remainder file.
      CdcSink.writeSnapshotPreClustered(bootstrap, tableDir,
        targetRecordsPerFile = fileTarget + ReplicaRowsPerTxn)
      // resume: stream every file; per micro-batch assemble + skip + merge
      CdcStream.runAvailableNow(s, qn)(_ => s.readStream.format("binlog").load(genDir)
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          import ss.implicits._
          val iv = broadcast(intervals.toDF("gno_start", "gno_end"))
          // txn assembly: every event takes the xid of its nearest
          // FOLLOWING XID in file order (files hold whole txns, and
          // micro-batch offsets are file-granular — no split txns).
          // Expressed as a RUNNING min over descending log_pos — the
          // [currentRow, unboundedFollowing] spelling hits Spark's
          // UnboundedFollowingWindowFunctionFrame, which rebuilds the
          // aggregate per row: O(rows²) per file and the whole entry's
          // wall-clock at sf0.1+; the running frame is O(rows)
          val wTxn = Window.partitionBy("file").orderBy(col("log_pos").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val rows = batch
            .withColumn("txn_gno",
              min(when(col("event_type") === "XID", col("xid"))).over(wTxn))
            .filter(col("event_type") === "WRITE_ROWS_V2")
          val live = rows.join(iv,
            col("txn_gno").between(col("gno_start"), col("gno_end")),
            "left_anti")
          // ONE json parse per row image: two get_json_object calls
          // each re-parse the document (no codegen CSE across JSON path
          // expressions) — at sf10 that is 15M double-parses on the
          // entry's hot path
          val changes = live
            .withColumn("__a", from_json(col("after"),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("col_0",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("col_1",
                  org.apache.spark.sql.types.StringType)))))
            .select(
              col("__a.col_0").cast("long").as("key"),
              lit("c").as("op"),
              (regexp_extract(col("file"), "mysql-bin\\.(\\d+)", 1)
                .cast("long") * 1000000000L + col("log_pos")).as("offset"),
              col("__a.col_1").as("title"),
              lit(1L).as("epoch"),
              col("file").as("source_file"))
          CdcSink.merge(ss, changes, tableDir, None)
        })
      // resume-point lookup through the stat-pruned read path (the
      // reference replica answers "did txn N land?" from its store;
      // here it opens only the files whose key range covers the probe,
      // not the table): gno bound+1 is the first REPLAYED txn — it is
      // outside the executed set by construction ((1 % step) != 3) —
      // so its rows must all carry the resumed epoch
      val probe = CdcSink.readRange(s, tableDir,
        (bound * ReplicaRowsPerTxn + 1).toString,
        ((bound + 1) * ReplicaRowsPerTxn).toString)
        .groupBy("epoch").agg(count(lit(1)).as("n")).collect()
      require(probe.toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
        Seq((1L, ReplicaRowsPerTxn.toLong)),
        s"resume-point lookup at gno ${bound + 1} returned " +
          s"${probe.mkString(",")} — expected $ReplicaRowsPerTxn rows all epoch 1")
      CdcSink.read(s, tableDir)
        .select(col("key").as("id"), col("title"), col("epoch"))
        .orderBy("id")
    }
  }

  private val replicaLoopSql = {
    val r = ReplicaRowsPerTxn; val f = ReplicaFiles
    // the oracle re-derives the stream size from the SAME orders
    // table (integer arithmetic mirrored from replicaTxns/replicaLoop
    // exactly); range() can't take subqueries in DuckDB, so a fixed
    // 10M ceiling (covers sf10) is filtered down to n
    s"""WITH sc AS (
       |  SELECT ((count(*) // 40) * $f) AS n,
       |         (((count(*) // 40) * $f) * 3) // 5 AS b
       |  FROM orders),
       |sc2 AS (SELECT n, b, greatest(7, (n - b) // 64) AS st FROM sc),
       |g AS (SELECT i AS gno FROM range(1, 10000001) t(i)
       |      WHERE i <= (SELECT n FROM sc2)),
       |rws AS (SELECT gno, (gno - 1) * $r + j + 1 AS id
       |        FROM g, range(0, $r) s(j))
       |SELECT id, 'row-' || CAST(id AS VARCHAR) AS title,
       |       CAST(CASE WHEN gno <= (SELECT b FROM sc2)
       |                   OR (gno > (SELECT b FROM sc2)
       |                       AND (gno - (SELECT b FROM sc2))
       |                           % (SELECT st FROM sc2) = 3)
       |            THEN 0 ELSE 1 END AS BIGINT) AS epoch
       |FROM rws ORDER BY id""".stripMargin
  }

  /** The set-up the half-snapshot sink entries share (cdc_delta_read,
    * cdc_sink, cdc_time_travel, cdc_snapshot_diff, cdc_compaction):
    * the changelog up to its middle offset bootstraps a table (the
    * first commit), the rest merges into it (the second). A
    * `partitioned` table is partitioned by `part`, the key mod 8:
    * stable per key, so a pruned merge is exact. The table lives in a
    * [[graft.Scratch]] generation of `name`; returns its dir.
    */
  private def halfSnapshotTable(
      s: SparkSession, dir: String, name: String, partitioned: Boolean): String = {
    val changes = Changelog.fromEvents(s, dir)
      .select(col("key"), col("op"), col("offset"), col("event_type"), col("value"))
    val (log, part) =
      if (partitioned) (changes.withColumn("part", pmod(col("key").cast("long"), lit(8))), Some("part"))
      else (changes, None)
    val mid = log.agg(max("offset")).head.getLong(0) / 2
    Scratch.run(name) { gen =>
      val tableDir = gen.resolve("table").toString
      CdcSink.writeSnapshot(log.filter(col("offset") <= mid), tableDir, part)
      CdcSink.merge(s, log.filter(col("offset") > mid), tableDir, part)
      tableDir
    }
  }

  // --- cdc_delta_read: cross-engine read through the _delta_log -----
  // The interop proof in the inventory: a sink table built by
  // bootstrap + merge is re-opened through DeltaLog.read — the
  // PUBLIC Delta protocol (checkpoint discovery + JSON action
  // replay) over the sink's one log, `_delta_log`, with no use of
  // TxnLog's entries, stats or offsets — and must reproduce the
  // exact snapshot the oracle computes from the changelog. This is
  // the read path any foreign engine would take on graft's tables
  // (and graft on theirs). Its scan is the one every sink read uses
  // (`graftbridge.logScan` over the listed files), except that each
  // file's size comes from the filesystem, not from the add action.
  private def deltaRead(s: SparkSession, dir: String): DataFrame = {
    val tableDir = halfSnapshotTable(s, dir, "cdc_delta_read", partitioned = false)
    DeltaLog.read(s, tableDir)
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  // lazy: sinkSql is declared later in this object; a strict val here
  // would capture null at object init
  private lazy val deltaReadSql = sinkSql

  // --- cdc_merge_pruned: key-range data skipping in the merge -------
  // The 100 TB merge shape: bootstrap load → range-clustered
  // compaction (key-disjoint files with min/max stats in the log's
  // add actions) → a key-LOCALIZED change batch (updates + deletes
  // on the first ~1% of the keyspace) merged by rewriting ONLY the
  // files it intersects — every other file carries forward into the
  // new version. The reference reaches the same idea through its
  // delta-rs dependency (add-action stats in the public Delta
  // protocol), which is where graft keeps them too. The oracle
  // replays the full changelog — a wrong prune surfaces as a
  // stale/duplicate key.
  private def mergePruned(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
    val w1 = orders.select(
      format_string("k%012d", col("o_orderkey")).as("key"),
      lit("c").as("op"),
      col("o_orderkey").as("offset"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    Scratch.run("cdc_merge_pruned") { gen =>
      val tableDir = gen.resolve("table").toString
      // one agg pass serves both the clustered-write target and the cut
      val nmk = orders.agg(count(lit(1)), max("o_orderkey")).head
      val (n, cut) = (nmk.getLong(0), nmk.getLong(1) / 100)
      // bootstrap lands range-clustered WITH stats in one pass (r18):
      // the old writeSnapshot → compact pair paid a second full
      // read+rewrite of the table just to earn the key-disjoint layout
      // writeSnapshotClustered produces directly (guide §2.4 — the
      // clustering and the snapshot share one exchange)
      CdcSink.writeSnapshotClustered(w1, tableDir,
        targetRecordsPerFile = math.max(1000L, n / 16))
      val w2 = orders
        .filter(col("o_orderkey") <= cut && col("o_orderkey") % 4 === 0)
        .select(
          format_string("k%012d", col("o_orderkey")).as("key"),
          when(col("o_orderkey") % 8 === 4, lit("d")).otherwise(lit("u")).as("op"),
          (col("o_orderkey") + 1000000000L).as("offset"),
          (-col("o_totalprice")).cast("decimal(18,2)").cast("double").as("value"),
          lit("bin.2").as("source_file"))
      CdcSink.merge(s, w2, tableDir, None)
      CdcSink.read(s, tableDir).select("key", "value").orderBy("key")
    }
  }

  private val mergePrunedSql =
    """WITH w1 AS (
      |  SELECT printf('k%012d', o_orderkey) AS key, 'c' AS op,
      |         o_orderkey AS off,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS value
      |  FROM orders),
      |mx AS (SELECT max(o_orderkey) // 100 AS cut FROM orders),
      |w2 AS (
      |  SELECT printf('k%012d', o_orderkey) AS key,
      |         CASE WHEN o_orderkey % 8 = 4 THEN 'd' ELSE 'u' END AS op,
      |         o_orderkey + 1000000000 AS off,
      |         CAST(CAST(-o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS value
      |  FROM orders, mx WHERE o_orderkey <= cut AND o_orderkey % 4 = 0)
      |SELECT key, value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
      |  FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2))
      |WHERE rn = 1 AND op <> 'd' ORDER BY key""".stripMargin

  // --- cdc_point_lookup: stat-pruned range read + AS-OF compose -----
  // The read-side complement of cdc_merge_pruned: bootstrap →
  // range-clustered compaction → localized merge, then serve a key
  // WINDOW through CdcSink.readRange — which opens only the live
  // files whose min/max intersect the bounds (a point lookup on a
  // 100 TB range-compacted table opens one file, not the table) —
  // both at the current version and AS-OF the pre-merge version
  // (time travel composed with the pruned read). The window
  // deliberately straddles the merge's touched keyspace, so the two
  // states differ and a wrong prune OR a wrong version surfaces as a
  // hash mismatch against the oracle's dual replay. CdcPruneSpec
  // asserts the physical side (files opened < live files).
  private def pointLookup(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
    val w1 = orders.select(
      format_string("k%012d", col("o_orderkey")).as("key"),
      lit("c").as("op"),
      col("o_orderkey").as("offset"),
      col("o_totalprice").cast("decimal(18,2)").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    Scratch.run("cdc_point_lookup") { gen =>
      val tableDir = gen.resolve("table").toString
      // one agg pass serves both the clustered-write target and the bounds
      val nmk = orders.agg(count(lit(1)), max("o_orderkey")).head
      val (n, mk) = (nmk.getLong(0), nmk.getLong(1))
      // bootstrap lands range-clustered WITH stats in one pass (r18) —
      // same fold as cdc_merge_pruned: writeSnapshot → compact paid a
      // second full read+rewrite for the layout the clustered write
      // produces directly
      CdcSink.writeSnapshotClustered(w1, tableDir,
        targetRecordsPerFile = math.max(1000L, n / 16))
      val fs = new org.apache.hadoop.fs.Path(tableDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val preVersion = TxnLog.current(fs, tableDir).get.version
      val cut = mk / 100
      val w2 = orders
        .filter(col("o_orderkey") <= cut && col("o_orderkey") % 4 === 0)
        .select(
          format_string("k%012d", col("o_orderkey")).as("key"),
          when(col("o_orderkey") % 8 === 4, lit("d")).otherwise(lit("u")).as("op"),
          (col("o_orderkey") + 1000000000L).as("offset"),
          (-col("o_totalprice")).cast("decimal(18,2)").cast("double").as("value"),
          lit("bin.2").as("source_file"))
      CdcSink.merge(s, w2, tableDir, None)
      // window [mk/200, mk/100 + mk/200] straddles the touched (<= cut)
      // and untouched keyspace
      val lo = f"k${mk / 200}%012d"
      val hi = f"k${cut + mk / 200}%012d"
      val ranged = CdcSink.readRange(s, tableDir, lo, hi)
      // the physical claim, asserted in-entry: the window covers ~1.5%
      // of the keyspace of a range-compacted table, so the pruned read
      // must open strictly fewer files than the manifest lists.
      // inputFiles is the METADATA-level opened-file count — a
      // post-filter input_file_name() would only count files with
      // surviving rows and pass even if manifest pruning degraded to
      // keep-everything (the row filter alone confines survivors)
      val scanned = ranged.inputFiles.length
      val nEntries = TxnLog.current(fs, tableDir).get.entries.length
      require(scanned < nEntries,
        s"point lookup opened $scanned of $nEntries files — stats pruned nothing")
      val post = ranged
        .select(lit("post").as("state"), col("key"), col("value"))
      val pre = CdcSink.readRange(s, tableDir, lo, hi, asOf = Some(preVersion))
        .select(lit("pre").as("state"), col("key"), col("value"))
      post.unionAll(pre).orderBy("state", "key")
    }
  }

  private val pointLookupSql =
    """WITH w1 AS (
      |  SELECT printf('k%012d', o_orderkey) AS key, 'c' AS op,
      |         o_orderkey AS off,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS value
      |  FROM orders),
      |mx AS (SELECT max(o_orderkey) AS mk FROM orders),
      |w2 AS (
      |  SELECT printf('k%012d', o_orderkey) AS key,
      |         CASE WHEN o_orderkey % 8 = 4 THEN 'd' ELSE 'u' END AS op,
      |         o_orderkey + 1000000000 AS off,
      |         CAST(CAST(-o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS value
      |  FROM orders, mx WHERE o_orderkey <= mk // 100 AND o_orderkey % 4 = 0),
      |bounds AS (SELECT printf('k%012d', mk // 200) AS lo,
      |                  printf('k%012d', mk // 100 + mk // 200) AS hi FROM mx),
      |post AS (
      |  SELECT key, value FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
      |    FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2))
      |  WHERE rn = 1 AND op <> 'd')
      |SELECT 'post' AS state, key, value FROM post, bounds
      |  WHERE key BETWEEN lo AND hi
      |UNION ALL
      |SELECT 'pre' AS state, key, value FROM w1, bounds
      |  WHERE key BETWEEN lo AND hi
      |ORDER BY state, key""".stripMargin

  // --- cdc_multi_table: one stream fans into per-table sinks -------
  // The reference's main loop routes ONE binlog stream into N tables
  // via table_maps + MatchStrategy (rust-cdc src/mysql/conn.rs:181-
  // 268, src/delta/mod.rs:95-124); graft proved the filter
  // (cdc_match_filter) and the single-table sink (cdc_sink,
  // cdc_replica_loop) separately — this entry is the COMPOSITION: a
  // rotated multi-table stream (3 tables interleaved round-robin,
  // txn-per-table, as a real server commits) consumed by one
  // foreachBatch that routes rows by table_name through the
  // MatchStrategy subscription predicate into three versioned sinks,
  // each committing its OWN offsets. The DuckDB oracle re-derives
  // all three tables' contents from the generator's arithmetic; the
  // in-entry require proves every sink committed offsets for every
  // rotated file.
  private val RoutedTables = Seq(101L -> "t_alpha", 102L -> "t_beta", 103L -> "t_gamma")
  private val RoutedRowsPerTxn = 4
  private val RoutedFiles = 8
  private val RoutedGenFiles = 32

  private def routedTxns(s: SparkSession, dir: String): Long = {
    val n = (Tables.orders(s, dir).count() / 40) * RoutedFiles
    // multiTableSql enumerates txns from a fixed range() ceiling —
    // see replicaTxns for why the ceiling must fail loudly
    require(n <= 10000000L,
      s"routed stream has $n txns, above the 10M ceiling baked into " +
        "multiTableSql's DuckDB range(); raise both together")
    n
  }

  private def multiTable(s: SparkSession, dir: String): DataFrame = {
    val nTxns = routedTxns(s, dir)
    // every generated file must hold at least one txn PER TABLE
    // (round-robin ⇒ ≥ tables.size txns/file), or the per-file
    // offset require below would fail spuriously on tiny dirs —
    // shrink the file count rather than assume the invariant
    val genFiles = math.max(1L,
      math.min(RoutedGenFiles.toLong, nTxns / RoutedTables.size)).toInt
    val base = nTxns / genFiles
    val rem = (nTxns % genFiles).toInt
    val genDir = ensureGenerated(s"graft_binlog_routed_$nTxns") { tmp =>
      var firstTxn = 0L
      (1 to genFiles).foreach { f =>
        val count = (base + (if (f <= rem) 1 else 0)).toInt
        if (count > 0) {
          graft.sources.binlog.BinlogGen.writeRoutedFile(
            tmp.resolve(f"mysql-bin.$f%06d").toString,
            RoutedTables, firstTxn, count, RoutedRowsPerTxn)
          firstTxn += count
        }
      }
    }
    val qn = s"cdc_multi_table_${System.nanoTime()}"
    Scratch.run(qn) { gen =>
      val tableDirs = RoutedTables.map { case (_, name) => name -> gen.resolve(name).toString }
      // the subscription rides SOURCE OPTIONS (the Kafka-subscribe
      // idiom): Spark applies no Catalyst pushdown to streaming DSv2
      // scans, so a DataFrame filter would run only after the reader
      // materialized every event — the options drop foreign tables'
      // rows inside the reader (row decode gated in the parser),
      // control events pass for txn boundaries
      CdcStream.runAvailableNow(s, qn)(_ => s.readStream.format("binlog")
        .option("subscribe.databases", "gen")
        .option("subscribe.tables", RoutedTables.map(_._2).mkString(","))
        .load(genDir)
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          // residual re-check of the subscription (reference
          // MatchStrategy semantics) — the heavy lifting happened in
          // the reader via the subscribe.* options above; this keeps
          // the routing correct even against a source without the
          // option contract
          val rows = batch
            .filter(graft.cdc.MatchStrategy.matchesCols(
              col("schema_name"), col("table_name"),
              Seq("gen"), RoutedTables.map(_._2)) &&
              col("event_type") === "WRITE_ROWS_V2")
            .withColumn("__a", from_json(col("after"),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("col_0",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("col_1",
                  org.apache.spark.sql.types.StringType)))))
            .select(col("table_name"),
              col("__a.col_0").cast("long").as("key"),
              lit("c").as("op"),
              (regexp_extract(col("file"), "mysql-bin\\.(\\d+)", 1)
                .cast("long") * 1000000000L + col("log_pos")).as("offset"),
              col("__a.col_1").as("title"),
              col("file").as("source_file"))
            // one routed batch feeds N per-table merges — persist so the
            // parse + json decode run once, not once per table
            .persist()
          // the N per-table merges are INDEPENDENT jobs over disjoint
          // sinks (each its own dir + txn log): submit them from a
          // small thread pool so each merge's straggler tail
          // back-fills with the next table's tasks instead of idling
          // 31 cores (guide §2.6 overlap; job-description locality is
          // thread-local so the UI stays attributable). Sequential
          // form measured ~3 merge windows of pure stage floor per
          // micro-batch at sf0.1.
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            tableDirs.size)
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          try {
            val merges = tableDirs.map { case (name, tdir) =>
              scala.concurrent.Future {
                CdcSink.merge(ss,
                  rows.filter(col("table_name") === name).drop("table_name"),
                  tdir, None)
              }
            }
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(merges),
              scala.concurrent.duration.Duration.Inf)
            ()
          } finally { pool.shutdown(); rows.unpersist() }
        })
      // per-table offset commits: every rotated file holds every
      // table's txns (the generator shrinks the file count so
      // round-robin puts ≥1 txn per table in each file), so each
      // sink must have committed an offset for each file
      val nFiles = new java.io.File(genDir).listFiles()
        .count(_.getName.startsWith("mysql-bin"))
      tableDirs.foreach { case (name, tdir) =>
        val offs = CdcSink.committedOffsets(s, tdir)
        require(offs.size == nFiles,
          s"$name committed offsets for ${offs.size} of $nFiles files")
      }
      tableDirs.map { case (name, tdir) =>
        CdcSink.read(s, tdir)
          .select(lit(name).as("table_name"), col("key"), col("title"))
      }.reduce(_ unionAll _).orderBy("table_name", "key")
    }
  }

  private val multiTableSql = {
    val r = RoutedRowsPerTxn; val f = RoutedFiles
    s"""WITH sc AS (SELECT (count(*) // 40) * $f AS n FROM orders),
       |txns AS (SELECT i AS txn FROM range(0, 10000001) t(i), sc WHERE i < sc.n),
       |rws AS (
       |  SELECT CASE CAST(txn % 3 AS INT)
       |           WHEN 0 THEN 't_alpha' WHEN 1 THEN 't_beta'
       |           ELSE 't_gamma' END AS table_name,
       |         txn * $r + j AS key
       |  FROM txns, range(1, ${r + 1}) g(j))
       |SELECT table_name, key, 'row-' || key AS title
       |FROM rws ORDER BY table_name, key""".stripMargin
  }

  // --- cdc_offsets_dense: Kafka-style offset assignment at width ----
  // Dense per-partition sequence numbers for a topic-shaped changelog
  // (the numbering a broker assigns, re-derived for replays/backfills)
  // via Offsets.densePerGroup: range shuffle + cross-partition prefix
  // sum — identical values to row_number().over(partitionBy(part)),
  // but a 4-partition topic numbers at cluster width instead of
  // through 4 single-task sorts. Summary = per-partition offset
  // checksums so the oracle pins every assigned value.
  private def offsetsDense(s: SparkSession, dir: String): DataFrame = {
    val topic = Tables.events(s, dir)
      .withColumn("partition", col("user_id") % 4)
      .select("partition", "event_id")
    // weighted checksum pins EVERY (event_id → offset) assignment;
    // per-element mod keeps the sum inside BIGINT through sf100
    Offsets.densePerGroup(topic, Seq("partition"), "event_id", "offset")
      .groupBy("partition")
      .agg(count(lit(1)).as("n"),
        max(col("offset")).as("max_offset"),
        sum((col("offset") * col("event_id")) % lit(1000000007L))
          .as("weighted_sum"))
      .orderBy("partition")
  }

  private val offsetsDenseSql =
    """SELECT partition, COUNT(*) AS n,
      |       MAX("offset") AS max_offset,
      |       CAST(SUM(("offset" * event_id) % 1000000007) AS BIGINT) AS weighted_sum
      |FROM (SELECT user_id % 4 AS partition, event_id,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 4
      |                                     ORDER BY event_id) AS BIGINT) AS "offset"
      |      FROM events)
      |GROUP BY partition ORDER BY partition""".stripMargin

  // --- cdc_wire_handshake: connection-phase codec inventory ---------
  // The byte half of the reference's replica transport (rust-cdc
  // handshake.rs/handshake_response.rs/auth.rs/com_binlog_dump.rs)
  // exercised socketlessly: a fleet of deterministic server
  // greetings (plugin/caps/version variants) each runs the full
  // client connection phase — HandshakeV10 decode → auth scramble
  // (native sha1 / caching_sha2) → HandshakeResponse41 build →
  // COM_BINLOG_DUMP encode — partition-locally (pure per-row byte
  // work; trivially embarrassing parallelism at any scale). Output
  // is fully deterministic → content-pinned; WireSpec carries the
  // per-packet layout fixtures.
  private def wireHandshake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.mysql.Wire
    s.range(0, 8).map { i =>
      val plugin =
        if (i % 2 == 0) "caching_sha2_password" else "mysql_native_password"
      val caps = Wire.ClientMysql | Wire.Protocol41 | Wire.SecureConnection |
        Wire.PluginAuth | Wire.PluginAuthLenencData |
        (if (i % 3 == 0) Wire.ConnectWithDb else 0L)
      val nonce = Array.tabulate(20)(j => ((i * 31 + j * 7 + 1) & 0x7f).toByte)
      val greeting = Wire.encodeHandshake(Wire.Handshake(
        10, s"8.0.$i-graft", 1000 + i, caps, 0xff, 2, nonce,
        Some(plugin)))
      val (resp, chosen) = Wire.connectionPhase(
        greeting, s"repl$i", s"pw-$i",
        if (i % 3 == 0) Some("appdb") else None)
      val dump = Wire.encodeComBinlogDump(4L + i * 1000, 33675L + i,
        f"mysql-bin.$i%06d")
      val framed = Wire.framePackets(resp, firstSeq = 1)
      (i, chosen,
        Wire.decodeHandshake(greeting).serverVersion,
        nonce.length, resp.length, framed.length, dump.length,
        Wire.scrambleNative(s"pw-$i", nonce).map("%02x".format(_)).mkString.take(16),
        Wire.scrambleCachingSha2(s"pw-$i", nonce).map("%02x".format(_)).mkString.take(16))
    }.toDF("server", "plugin", "server_version", "nonce_len",
      "response_len", "framed_len", "dump_len", "sha1_prefix", "sha256_prefix")
      .orderBy("server")
  }

  // --- cdc_wire_command: pre-dump command-phase codec inventory -----
  // The OTHER half of the replica transport's byte work (rust-cdc
  // conn.rs:367-460, protocol/text/*.rs, protocol/row.rs,
  // ssl_request.rs), socketless: each deterministic "server" answers
  // COM_PING and the checksum COM_QUERY with OK and `show master
  // status` with a full text resultset (ColumnDefinition41 fleet,
  // EOF-delimited lenenc rows incl. NULLs); the client runs the
  // whole phase — decode the resultset, parse (file, pos, gtid_set),
  // build COM_BINLOG_DUMP from it — plus the SSLRequest prefix and
  // COM_QUIT encodes. Pure partition-local byte work, fully
  // deterministic → content-pinned; per-packet layouts in WireSpec.
  private def wireCommand(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.mysql.Wire
    s.range(0, 8).map { i =>
      val okPayload = Array[Byte](0, 0, 0, 2, 0, 0, 0)
      val cols = Seq("File", "Position", "Binlog_Do_DB",
        "Binlog_Ignore_DB", "Executed_Gtid_Set").map(n =>
        Wire.ColumnDef("def", "", "", "", n, n, 33, 256, 0xfd, 0, 0))
      val gtid = s"3e11fa47-71ca-11e1-9e33-c80aa9429562:1-${100 + i * 7}"
      val row = Seq(
        Some(f"mysql-bin.$i%06d"), Some((4L + i * 12345L).toString),
        if (i % 2 == 0) None else Some("appdb"), None, Some(gtid))
      val statusReply = Wire.encodeResultSet(
        Wire.ResultSet(cols, Seq(row)), firstSeq = 1)
      val phase = Wire.commandPhase(
        Wire.framePackets(okPayload, 1),
        Wire.framePackets(okPayload, 1),
        statusReply, serverId = 33675L + i)
      val (decoded, _) = Wire.decodeResultSet(statusReply, 0)
      val rs = decoded.toOption.get
      val ssl = Wire.encodeSslRequest(
        Wire.ClientMysql | Wire.Protocol41 | Wire.Ssl, 16777216L, 0xff)
      (i, phase.status.file, phase.status.pos, phase.status.gtidSet,
        rs.columnNames.mkString(","),
        rs.rows.head.count(_.isEmpty),
        phase.ping.length, phase.checksumQuery.length,
        phase.statusQuery.length, phase.dump.length,
        phase.dump.map("%02x".format(_)).mkString.take(24),
        ssl.length, Wire.encodeComQuit().head.toInt)
    }.toDF("server", "file", "pos", "gtid_set", "column_names",
      "n_null_cells", "ping_len", "checksum_len", "status_len",
      "dump_len", "dump_hex", "ssl_len", "quit_cmd")
      .orderBy("server")
  }

  /** Rotated-file count of the GENERATED replica stream. Decoupled
    * from [[ReplicaFiles]] (the stream-size multiplier mirrored in
    * the DuckDB oracle): binlogs cannot be split at arbitrary offsets
    * (length-prefixed events, no sync markers), so parse AND the
    * per-file txn-assembly window both run at file-count parallelism
    * — 8 files capped the entry's two heaviest sf10 stages at 8 of
    * 32 cores. 32 rotated files at the SAME total volume matches a
    * real deployment's log rotation and the box.
    */
  private val ReplicaGenFiles = 32

  private def ensureReplicaGenerated(nTxns: Long): String = {
    // contiguous gno ranges with the remainder spread over the first
    // files — nTxns is divisible by ReplicaFiles, not necessarily by
    // ReplicaGenFiles, and a truncating split would drop txns the
    // oracle counts
    val base = nTxns / ReplicaGenFiles
    val rem = (nTxns % ReplicaGenFiles).toInt
    ensureGenerated(s"graft_binlog_replica_$nTxns") { tmp =>
      var firstGno = 1L
      (1 to ReplicaGenFiles).foreach { f =>
        val count = (base + (if (f <= rem) 1 else 0)).toInt
        if (count > 0) {
          graft.sources.binlog.BinlogGen.writeReplicaFile(
            tmp.resolve(f"mysql-bin.$f%06d").toString,
            firstGno = firstGno, nTxns = count,
            rowsPerTxn = ReplicaRowsPerTxn)
          firstGno += count
        }
      }
    }
  }

  private def ensureControlGenerated(): String =
    ensureGenerated("graft_binlog_ctrl") { tmp =>
      graft.sources.binlog.BinlogGen.writeControlFile(
        tmp.resolve("mysql-bin.000001").toString, nRows = 10)
    }

  private def binlogThroughput(s: SparkSession, dir: String): DataFrame = {
    val genDir = ensureBinlogGenerated(s, dir)
    graft.sources.binlog.BinlogSource.events(s, genDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("file")).as("n_files"))
      .orderBy("event_type")
  }

  /** Glob over the eight MySQL 8.0.21 binlog fixtures
    * ([[graft.sources.binlog.BinlogGen.writeReferenceFixtures]], the
    * same bytes BinlogSpec reads from its test resources), written
    * once under the temp dir as `events/<fixture>/<file>`. */
  private def referenceFixtures(): String =
    ensureGenerated("graft_binlog_fixtures") { tmp =>
      graft.sources.binlog.BinlogGen.writeReferenceFixtures(
        tmp.resolve("events").toString)
    } + "/events/*/*"

  // --- cdc_binlog_source: MySQL binlog files → event DataFrame ---
  // Reads the MySQL 8.0.21 binlog fixtures through the DSv2 "binlog"
  // format (rows-only check: the oracle cannot read binlog).
  private def binlogSource(s: SparkSession, dir: String): DataFrame =
    graft.sources.binlog.BinlogSource
      .events(s, referenceFixtures())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("table_id")).as("n_tables"))
      .orderBy("event_type")

  // --- cdc_gtid_set: executed-GTID interval compaction --------------
  // The reference decodes Gtid/PreviousGtids events (uuid:gno pairs);
  // a resuming replica persists them as coalesced intervals. Here the
  // events table plays the transaction log: user_id % 16 = source
  // server, event_id = gno. See [[graft.cdc.GtidSet]].
  private def gtidSet(s: SparkSession, dir: String): DataFrame =
    GtidSet.intervals(
      Tables.events(s, dir).select(
        (col("user_id") % 16).as("server_id"), col("event_id").as("gno")),
      "server_id", "gno")
      .orderBy("server_id", "gno_start")

  private val gtidSetSql =
    """WITH txns AS (
      |  SELECT DISTINCT user_id % 16 AS server_id, event_id AS gno FROM events),
      |isl AS (
      |  SELECT server_id, gno,
      |         gno - ROW_NUMBER() OVER (PARTITION BY server_id ORDER BY gno) AS grp
      |  FROM txns)
      |SELECT server_id, MIN(gno) AS gno_start, MAX(gno) AS gno_end,
      |       COUNT(*) AS n_txns
      |FROM isl GROUP BY server_id, grp
      |ORDER BY server_id, gno_start""".stripMargin

  // --- cdc_sessionize: gap-based sessionization ---------------------
  // Spark side uses the NATIVE session_window (merging gap windows,
  // the streaming-ready shape); the oracle reconstructs sessions via
  // the lag+cumulative-sum formulation. Two independent definitions
  // agreeing pins the semantics.
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
    log.groupBy(col("key"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("event_type")).as("n_types"))
      .select(col("key"),
        date_trunc("second", col("sw.start")).as("session_start"),
        col("n_events"), col("n_types"))
      .orderBy("key", "session_start")
  }

  private val sessionizeSql =
    s"""WITH t AS (
       |  SELECT key, ts,
       |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY key ORDER BY ts, "offset")
       |                   > INTERVAL 30 MINUTE OR
       |              LAG(ts) OVER (PARTITION BY key ORDER BY ts, "offset") IS NULL
       |         THEN 1 ELSE 0 END AS new_session, event_type
       |  FROM ($changelogSql)),
       |sess AS (
       |  SELECT key, ts, event_type,
       |         SUM(new_session) OVER (PARTITION BY key ORDER BY ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM t)
       |SELECT key, CAST(DATE_TRUNC('second', MIN(ts)) AS TIMESTAMP) AS session_start,
       |       COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types
       |FROM sess GROUP BY key, session_id
       |ORDER BY key, session_start""".stripMargin

  // --- cdc_sink: partitioned snapshot store, pruned merge ----------
  // Splits the changelog at the midpoint offset, bootstraps the table
  // from the first half, then MERGES the second half (the incremental
  // path: touched-partition pruning, offset commits, compaction
  // counter). The partition column is derived from the key (stable
  // per key, like the reference's `partition_field`), so a pruned
  // merge is exact. Result table must equal the one-shot snapshot —
  // the oracle is the plain latest-per-key SQL.
  private def cdcSink(s: SparkSession, dir: String): DataFrame = {
    val tableDir = halfSnapshotTable(s, dir, "cdc_sink", partitioned = true)
    CdcSink.read(s, tableDir)
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  // same latest-per-key oracle as cdc_snapshot — an ALIAS so a
  // semantics fix can never drift between the two (ingest/compaction/
  // delta_read already reuse sinkSql by reference)
  private val sinkSql = snapshotSql

  // --- cdc_ingest: streaming foreachBatch ingest == batch snapshot ---
  // The full reference loop (source → buffer → flush-to-table) as a
  // Structured Streaming query: each micro-batch is one flush, merged
  // into the CdcSink table with offsets committed after data. Table
  // and checkpoint share one scratch generation.
  private def cdcIngest(s: SparkSession, dir: String): DataFrame = {
    val qn = s"cdc_ingest_${System.nanoTime()}"
    val tableDir = Scratch.run(qn) { gen =>
      val table = gen.resolve("table").toString
      CdcStream.ingestInto(s, dir, table, queryName = qn)
      table
    }
    CdcSink.read(s, tableDir)
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  private val ingestSql = sinkSql

  // --- cdc_listeners: both callback planes account for every event ---
  private def cdcListeners(s: SparkSession, dir: String): DataFrame =
    Listeners.probe(s, dir)

  private val listenersSql =
    """SELECT * FROM (
      |  SELECT 'driver' AS plane, COUNT(*) AS n_rows FROM events
      |  UNION ALL
      |  SELECT 'executor' AS plane, COUNT(*) AS n_rows FROM events)
      |ORDER BY plane""".stripMargin

  // --- cdc_binlog_stream: readStream.format("binlog") micro-batch path ---
  // Tails the MySQL 8.0.21 binlog fixtures through the DSv2
  // MicroBatchStream (rows-only: the oracle cannot read binlog).
  private def binlogStream(s: SparkSession, dir: String): DataFrame = {
    val qn = s"cdc_binlog_stream_${System.nanoTime()}"
    CdcStream.dropStaleSinks(s, qn)
    CdcStream.runAvailableNow(s, qn)(_ =>
      s.readStream.format("binlog").load(referenceFixtures()).writeStream.format("memory"))
    s.table(qn)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("file")).as("n_files"))
      .orderBy("event_type")
  }

  // --- cdc_binlog_pushdown: DSv2 pruning/pushdown manifest ----------
  // Runs a pruned+filtered scan and reports what actually reached the
  // reader: the read schema must be the projected columns only, the
  // dispatch-column equality must be pushed, and the numeric residual
  // must NOT be (it stays with Spark). Rows-only by design — the
  // manifest is engine-specific.
  private def binlogPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def manifest(probe: String, df: DataFrame): Seq[(String, String, String, Long)] = {
      val nRows = df.count()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }
      scans.collect { case sc: graft.sources.binlog.BinlogScan =>
        (probe,
          sc.readSchema().fieldNames.sorted.mkString(","),
          sc.pushedDown.map(_.toString).sorted.mkString(";"),
          nRows)
      }
    }
    val base = graft.sources.binlog.BinlogSource
      .events(s, referenceFixtures())
    val dispatch = base
      .filter(col("event_type") === "WRITE_ROWS_V2" && col("log_pos") > 0)
      .select("event_type", "table_name", "op")
    // a finite db.table subscription compiles to source-pushable
    // In/StartsWith trees (MatchStrategy.matchesCols) — the
    // reference's pre-listener filtering, pushed to the reader
    val subscription = base
      .filter(MatchStrategy.matchesCols(
        col("schema_name"), col("table_name"),
        Seq("rustcdc"), Seq("rust*", "other")))
      .select("schema_name", "table_name", "op")
    (manifest("dispatch_eq", dispatch) ++ manifest("match_subscription", subscription))
      .toDF("probe", "read_columns", "pushed_filters", "n_rows")
      .orderBy("probe")
  }

  // --- cdc_kafka_ingest: Record::Kafka(partition, offset, body) -----
  // The events table plays a 4-partition Debezium topic: the key
  // hashes to a partition (user_id % 4 — key-stable, like Kafka's
  // partitioner) and offsets are dense per partition (row_number).
  // Delivery 1 ingests partitions 0-1; delivery 2 redelivers the
  // WHOLE topic — the per-partition resume filter must drop the
  // already-committed partitions and merge only 2-3. The final table
  // must equal the one-shot snapshot of the topic.
  private def kafkaIngest(s: SparkSession, dir: String): DataFrame = {
    // dense per-partition offsets via the range-shuffle numbering
    // (Offsets.densePerGroup) — the row_number window twin would sort
    // the whole topic through 4 single-task sorts (10M rows in 4
    // tasks at sf10); the numbering is identical, the width is the
    // cluster's
    // the numbered topic is the DELIVERY BUFFER both deliveries read:
    // persist it once (r18) — the unshared form re-ran the whole
    // range-shuffle numbering (an RDD-serde double pass over the
    // topic) per delivery, and delivery 2 is by design a full
    // redelivery of it (guide §5: reuse beats recompute exactly when
    // the frame is consumed twice)
    val topic = Offsets.densePerGroup(
      Tables.events(s, dir).withColumn("partition", col("user_id") % 4),
      Seq("partition"), "event_id", "offset")
      .withColumn("topic", lit("events"))
      .withColumn("key", col("user_id").cast("string"))
      .withColumn("op", when(col("event_type") === "signup", lit("c"))
        .when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
      .select("topic", "partition", "offset", "key", "op", "event_type", "value")
      .persist()
    try {
      val tableDir = Scratch.run("cdc_kafka_ingest") { gen =>
        val table = gen.resolve("table").toString
        KafkaIngest.ingest(s, topic.filter(col("partition") < 2), table)
        KafkaIngest.ingest(s, topic, table) // full redelivery + the rest
        table
      }
      // the read's lineage is the committed parquet, not `topic` —
      // localCheckpoint is unnecessary; unpersist after the read plan
      // is built is safe
      CdcSink.read(s, tableDir)
        .select(col("key"), col("partition").as("kpart"),
          col("offset").as("last_offset"), col("event_type"), col("value"))
        .orderBy("key")
    } finally topic.unpersist()
  }

  private val kafkaIngestSql =
    """WITH kafka AS (
      |  SELECT CAST(user_id AS VARCHAR) AS key,
      |         user_id % 4 AS kpart,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY event_id) AS BIGINT) AS koff,
      |         CASE WHEN event_type = 'signup' THEN 'c'
      |              WHEN event_type = 'error' THEN 'd'
      |              ELSE 'u' END AS op,
      |         event_type, "value"
      |  FROM events)
      |SELECT key, kpart, koff AS last_offset, event_type, "value"
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY koff DESC) AS rn
      |      FROM kafka)
      |WHERE rn = 1 AND op <> 'd'
      |ORDER BY key""".stripMargin

  // --- cdc_stream_apply: Structured Streaming upsert == batch snapshot ---
  private def streamApply(s: SparkSession, dir: String): DataFrame =
    // 8 state partitions: bounded replay with small per-key state —
    // RocksDB instance spin-up dominates at one store per core
    CdcStream.applyAvailableNow(s, dir,
      s"cdc_stream_apply_${System.nanoTime()}", statePartitions = Some(8))
      .select(col("key"), col("last_offset"), col("event_type"), col("value"))
      .orderBy("key")

  /** The streaming fold must land exactly on the batch snapshot. */
  private val snapshotSqlStream = snapshotSql

  /** State partitions scaled to input volume. RocksDB store spin-up
    * dominates small inputs (a stream-stream join runs FOUR stores
    * per partition per micro-batch), so they stay at 8; past tens of
    * millions of rows the per-partition sort/state work dominates
    * and width wins. Measured on the events ladder (isolated
    * min-of-3, stream-stream join): 100k rows 4.0 s @8 vs 11.6 s
    * @32; 1M 5.8 @8 vs 8.7 @32; 10M 33.9 @8 vs 19.8 @32 — threshold
    * between the last two decades. The count probe is a
    * footer-metadata job, not a scan.
    */
  private def streamStateParts(s: SparkSession, dir: String): Option[Int] =
    // the row count is immutable per generated dir, so the probe
    // (a footer-metadata job, ~0.3-0.5 s of fixed cost) runs once per
    // (session, dir) instead of once per streaming entry
    Some(SessionCache.value(s, s"cdc:stateParts:$dir")(
      Int.box(if (Tables.events(s, dir).count() > 3000000L) 32 else 8)).intValue)

  // --- cdc_stream_join: stream-stream interval join ---------------
  // Two live changelogs correlated on (user, event-time range): each
  // click joined to the same user's purchases within 30 minutes. The
  // oracle is the identical batch self-join — the streaming interval
  // join (watermarks both sides, time-bounded condition, evictable
  // state) must land exactly on it.
  private def streamJoin(s: SparkSession, dir: String): DataFrame =
    CdcStream.streamStreamJoin(s, dir,
      s"cdc_stream_join_${System.nanoTime()}",
      statePartitions = streamStateParts(s, dir))

  private val streamJoinSql =
    """SELECT CAST(DATE_TRUNC('day', c.ts) AS TIMESTAMP) AS day,
      |       COUNT(*) AS n_pairs,
      |       COUNT(DISTINCT c.user_id) AS n_users,
      |       CAST(SUM(CAST(p."value" AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
      |FROM events c JOIN events p
      |  ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |GROUP BY 1 ORDER BY day""".stripMargin

  // --- cdc_time_travel: versioned reads from the txn log ----------
  // The reference's delta log retains historical versions between
  // checkpoints (src/delta/mod.rs:262-285); graft's log keeps every
  // version readable until vacuum, so a reader can pin a version.
  // Bootstrap (changelog prefix) commits v1, the merge commits v2;
  // reading AS OF v1 must equal the prefix-bounded snapshot — the
  // oracle replays the changelog with the same offset cutoff.
  private def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val tableDir = halfSnapshotTable(s, dir, "cdc_time_travel", partitioned = false)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val bootstrapVersion = TxnLog.versions(fs, tableDir).head
    TxnLog.readVersion(s, tableDir, bootstrapVersion)
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  private val timeTravelSql =
    s"""SELECT key, "offset" AS last_offset, event_type, "value"
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |      FROM ($changelogSql)
       |      WHERE "offset" <= (SELECT max(event_id) // 2 FROM events))
       |WHERE rn = 1 AND op <> 'd'
       |ORDER BY key""".stripMargin

  // --- cdc_snapshot_diff: versioned table diff ---------------------
  // The audit primitive versioned storage exists for: what changed
  // between AS OF v1 and v2 — added keys, deleted keys, updated
  // rows (same key, new offset). Exercises the TxnLog versioned
  // read path on BOTH ends (bootstrap version vs latest) and diffs
  // with ONE full-outer key join; unchanged keys are filtered
  // before the output sort, so the result is ∝ churn, not ∝ table.
  // At 100 TB both sides are partition-pruned parquet reads of
  // pinned versions and the join shuffles on the key — the same
  // single-exchange shape as the snapshot fold itself. The oracle
  // replays the changelog with and without the version cutoff and
  // must land on identical verdicts.
  private def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val tableDir = halfSnapshotTable(s, dir, "cdc_snapshot_diff", partitioned = false)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val versions = TxnLog.versions(fs, tableDir)
    val v1 = TxnLog.readVersion(s, tableDir, versions.head)
      .select(col("key"), col("offset").as("old_offset"),
        col("value").as("old_value"))
    val v2 = TxnLog.readVersion(s, tableDir, versions.last)
      .select(col("key"), col("offset").as("new_offset"),
        col("value").as("new_value"))
    v1.join(v2, Seq("key"), "full_outer")
      .withColumn("change_type",
        when(col("old_offset").isNull, "added")
          .when(col("new_offset").isNull, "deleted")
          .when(col("old_offset") =!= col("new_offset"), "updated")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(col("key"), col("change_type"),
        col("old_offset"), col("new_offset"),
        col("old_value"), col("new_value"))
      .orderBy("key")
  }

  private val snapshotDiffSql =
    s"""WITH log AS ($changelogSql),
       |v1 AS (
       |  SELECT key, "offset" AS old_offset, "value" AS old_value
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |        FROM log WHERE "offset" <= (SELECT max(event_id) // 2 FROM events))
       |  WHERE rn = 1 AND op <> 'd'),
       |v2 AS (
       |  SELECT key, "offset" AS new_offset, "value" AS new_value
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |        FROM log)
       |  WHERE rn = 1 AND op <> 'd')
       |SELECT COALESCE(v1.key, v2.key) AS key,
       |  CASE WHEN v1.key IS NULL THEN 'added'
       |       WHEN v2.key IS NULL THEN 'deleted'
       |       WHEN v1.old_offset <> v2.new_offset THEN 'updated'
       |       ELSE 'unchanged' END AS change_type,
       |  v1.old_offset, v2.new_offset, v1.old_value, v2.new_value
       |FROM v1 FULL OUTER JOIN v2 ON v1.key = v2.key
       |WHERE NOT (v1.old_offset = v2.new_offset)
       |   OR v1.key IS NULL OR v2.key IS NULL
       |ORDER BY key""".stripMargin

  // --- cdc_compaction: small-file compaction + vacuum -------------
  // Incremental merges accrete small files and superseded commit dirs
  // (the reference checkpoints its delta log every 10 commits for
  // the same reason). compact() rewrites the live version into one
  // file per partition value and vacuum() reclaims everything
  // unreferenced. The content contract — compaction changes LAYOUT,
  // never DATA — is exactly what the oracle checks: the post-compact
  // read must still equal the plain latest-per-key fold. File-count
  // and version-retention effects are asserted in CdcSinkSpec.
  private def compaction(s: SparkSession, dir: String): DataFrame = {
    val tableDir = halfSnapshotTable(s, dir, "cdc_compaction", partitioned = true)
    CdcSink.compact(s, tableDir, Some("part"))
    CdcSink.read(s, tableDir)
      .select(col("key"), col("offset").as("last_offset"),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  private val compactionSql = sinkSql

  // --- cdc_scd2: slowly-changing-dimension type-2 history ---------
  // The OTHER standard materialization of a changelog (cdc_snapshot
  // keeps only the latest row): every non-delete event becomes a
  // VERSION row with a [valid_from, valid_to) offset interval —
  // valid_to = the key's next event (any op), open (null, is_current)
  // for the live version; a trailing delete closes its predecessor
  // and contributes no version. One lag/lead window per key — the
  // same single keyed exchange as the snapshot fold, history size ∝
  // changelog, no state beyond the window.
  private def scd2(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("offset"))
    Changelog.fromEvents(s, dir)
      .withColumn("valid_to", lead(col("offset"), 1).over(w))
      .filter(col("op") =!= "d")
      .select(col("key"), col("offset").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("event_type"), col("value"))
      .orderBy("key", "valid_from")
  }

  private val scd2Sql =
    s"""SELECT key, "offset" AS valid_from, valid_to,
       |       valid_to IS NULL AS is_current, event_type, "value"
       |FROM (SELECT *, LEAD("offset", 1) OVER (PARTITION BY key ORDER BY "offset") AS valid_to
       |      FROM ($changelogSql))
       |WHERE op <> 'd'
       |ORDER BY key, valid_from""".stripMargin

  // --- cdc_incremental_agg: delta-maintained aggregate view -------
  // Incremental view maintenance — the payoff of ingesting a
  // changelog instead of nightly recompute. The maintained view is
  // groupBy(event_type).agg(count, sum(value)) over LIVE rows; the
  // last 20% of the changelog then arrives as a batch and is merged
  // as deltas (retract each touched key's stored row, add its
  // post-batch row — CdcApply.incrementalAgg). Refresh work is
  // ∝ |batch| + |touched keys|; the base is never re-aggregated and
  // at scale the retract is a key-equijoin against the bucketed
  // state table. The ORACLE is the full recompute over the complete
  // changelog — the hash match proves the delta path lands
  // bit-exactly on recompute (DECIMAL-exact merge, no drift).
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
    val bound = log.agg(expr("max(`offset`) * 4 div 5")).head.getLong(0)
    val base = log.filter(col("offset") <= bound)
    val batch = log.filter(col("offset") > bound)
    val baseState = CdcApply.snapshot(base)
    val maintained = baseState.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("value"))).as("total"))
    CdcApply.incrementalAgg(maintained, baseState, batch, "event_type", "value")
      .select(col("event_type"), col("n_rows"),
        asDouble(col("total")).as("total_value"))
      .orderBy("event_type")
  }

  private val incrementalAggSql =
    s"""WITH log AS ($changelogSql),
       |last AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |  FROM log)
       |SELECT event_type, COUNT(*) AS n_rows,
       |       CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM last WHERE rn = 1 AND op <> 'd'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- cdc_schema_evolution: ALTER TABLE ADD COLUMN mid-stream ----
  // The reference's DDL branch propagates schema changes into the
  // delta table between data batches. Here: bootstrap commits the
  // NARROW schema (no props), an ALTER TABLE ADD COLUMN lands (lazy —
  // no 100 TB rewrite; applyDdl records nothing, the schema evolves
  // on the next merge via unionByName(allowMissingColumns)), then the
  // post-DDL half of the changelog merges WITH props. Partitioned
  // table, so untouched partitions keep files without props — the
  // read under the log's committed schema is what reconciles them.
  // Keys last written pre-DDL must read props=NULL.
  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val log = Changelog.fromEvents(s, dir)
      .select(col("key"), col("op"), col("offset"), col("event_type"),
        col("value"), col("props"))
      .withColumn("part", pmod(col("key").cast("long"), lit(8)))
    val mid = log.agg(max("offset")).head.getLong(0) / 2
    Scratch.run("cdc_schema_evolution") { gen =>
      val tableDir = gen.resolve("table").toString
      CdcSink.writeSnapshot(
        log.filter(col("offset") <= mid).drop("props"), tableDir, Some("part"))
      CdcSink.applyDdl(s,
        Ddl.parse("ALTER TABLE snap ADD COLUMN props VARCHAR"), tableDir, Some("part"))
      CdcSink.merge(s, log.filter(col("offset") > mid), tableDir, Some("part"))
      CdcSink.read(s, tableDir)
        .select(col("key"), col("offset").as("last_offset"),
          col("event_type"), col("value"), col("props"))
        .orderBy("key")
    }
  }

  private val schemaEvolutionSql =
    s"""SELECT key, "offset" AS last_offset, event_type, "value",
       |       CASE WHEN "offset" > (SELECT max(event_id) // 2 FROM events)
       |            THEN props END AS props
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY "offset" DESC) AS rn
       |      FROM ($changelogSql))
       |WHERE rn = 1 AND op <> 'd'
       |ORDER BY key""".stripMargin

  // --- cdc_incremental_snapshot: DBLog chunked snapshot ----------
  // The initial-snapshot problem the reference leaves to "dump +
  // replay from position" (rust-cdc src/mysql/conn.rs binlog start
  // offset): a 100 TB table can't be dumped atomically, so DBLog
  // (Andreakis & Papapanagiotou 2019; Debezium's incremental
  // snapshot) reads it in KEY-SPACE CHUNKS interleaved with log
  // tailing — each chunk SELECTed at the log position it was read
  // (its watermark), and any key whose change lands AFTER its
  // chunk's watermark is served by the log, superseding the chunk
  // row. Here the chunk assignment (deterministic md5 hash of the
  // key, [[graft.functions.DetHash]]) and the per-chunk watermarks
  // (evenly spaced positions in the log's FINAL stretch — the chunk
  // phase races the tail and finishes just before cutover, so chunk
  // c was read with (C−c)/128ths of the log still to replay; tail
  // placement also keeps all three dedup verdicts populated on the
  // synthetic log, whose keys stay hot to the end) are pure
  // functions, so the
  // whole reconciliation is ONE map-side-combined aggregate per
  // key: the final row, the row as the chunk read saw it, and the
  // DBLog dedup verdict (`src`): 'chunk' = chunk row survives
  // untouched, 'log_overwrite' = chunk row superseded by a later
  // change, 'log_new' = key appeared (or was dead at read time and
  // resurrected) after the chunk read. At scale no coordination
  // state exists — no chunk table, no lock; the only driver values
  // are the two global offset bounds (bounded collect, PQ-seeds
  // precedent). Deletes compose: a key whose final op is delete is
  // absent, exactly as in cdc_snapshot.
  private val SnapChunks = 8

  private def incrementalSnapshot(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetHash
    val log = Changelog.fromEvents(s, dir)
    val bounds = log.agg(min("offset"), max("offset")).head
    val (minOff, maxOff) = (bounds.getLong(0), bounds.getLong(1))
    val step = (maxOff - minOff) / 128
    val chunk = pmod(
      DetHash.int48OfHex(md5(concat(lit("chunk:"), col("key")))),
      lit(SnapChunks.toLong))
    val wmOfChunk = lit(maxOff) - (lit(SnapChunks.toLong) - col("chunk")) * lit(step)
    log
      .withColumn("chunk", chunk)
      .withColumn("wm", wmOfChunk)
      .groupBy("key", "chunk", "wm")
      .agg(
        max("offset").as("last_offset"),
        max_by(col("op"), col("offset")).as("op_f"),
        max_by(col("event_type"), col("offset")).as("event_type"),
        max_by(col("value"), col("offset")).as("value"),
        max_by(col("op"), when(col("offset") <= col("wm"), col("offset")))
          .as("op_wm"),
        max_by(col("value"), when(col("offset") <= col("wm"), col("offset")))
          .as("value_wm"))
      .filter(col("op_f") =!= "d")
      .select(col("key"), col("chunk"), col("wm").as("watermark"),
        when(col("last_offset") <= col("wm"), "chunk")
          .when(col("op_wm").isNotNull && col("op_wm") =!= "d", "log_overwrite")
          .otherwise("log_new").as("src"),
        when(col("op_wm") =!= "d", col("value_wm")).as("chunk_value"),
        col("last_offset"), col("event_type"), col("value"))
      .orderBy("key")
  }

  private lazy val incrementalSnapshotSql = {
    val chunkExpr = graft.functions.DetHash.int48OfHexSql("md5('chunk:' || key)")
    s"""WITH log AS ($changelogSql),
       |b AS (SELECT min("offset") AS minv, max("offset") AS maxv FROM log),
       |k AS (
       |  SELECT l.*, $chunkExpr % $SnapChunks AS chunk,
       |         b.maxv - ($SnapChunks - $chunkExpr % $SnapChunks) *
       |           ((b.maxv - b.minv) // 128) AS wm
       |  FROM log l CROSS JOIN b),
       |agg AS (
       |  SELECT key, chunk, wm,
       |    max("offset") AS last_offset,
       |    arg_max(op, "offset") AS op_f,
       |    arg_max(event_type, "offset") AS event_type,
       |    arg_max("value", "offset") AS "value",
       |    arg_max(op, "offset") FILTER (WHERE "offset" <= wm) AS op_wm,
       |    arg_max("value", "offset") FILTER (WHERE "offset" <= wm) AS value_wm
       |  FROM k GROUP BY 1, 2, 3)
       |SELECT key, chunk, wm AS watermark,
       |  CASE WHEN last_offset <= wm THEN 'chunk'
       |       WHEN op_wm IS NOT NULL AND op_wm <> 'd' THEN 'log_overwrite'
       |       ELSE 'log_new' END AS src,
       |  CASE WHEN op_wm <> 'd' THEN value_wm END AS chunk_value,
       |  last_offset, event_type, "value"
       |FROM agg WHERE op_f <> 'd' ORDER BY key""".stripMargin
  }

  // --- cdc_txn_assemble: binlog transaction assembly --------------
  // The reference applies row events transactionally: a MySQL
  // transaction is BEGIN (QUERY event) … row events … XID (commit,
  // rust-cdc src/mysql/event/mod.rs XidEvent) — the XID terminator
  // is the atomic-apply unit a correct sink must respect (commit
  // offsets only at XID boundaries, never mid-transaction). This
  // entry assembles the binlog fixtures back into
  // their transactions: each event joins the NEAREST FOLLOWING
  // commit in its file (min-struct over an unbounded-following
  // window — ONE exchange on file, the binlog's natural parallel
  // unit: a file's history is serial by nature, files scale out),
  // the chunk is then clipped to its BEGIN marker (setup DDL and
  // GTID preambles stay outside), and per-transaction summaries
  // (row images, tables touched, begin/commit positions) come from
  // one more bounded aggregate. Rows-only (binary input; content
  // hash PINNED in ContentPinSpec, boundaries asserted in
  // BinlogSpec).
  /** Reusable assembly over any binlog-events frame (the DSv2
    * source's schema: file/log_pos/event_type/op/table_name/query/
    * xid): per-transaction summary rows keyed by (file, txn_xid).
    * Library-surface form of cdc_txn_assemble.
    */
  def assembleTransactions(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // running min over DESCENDING log_pos = min over [currentRow,
    // unboundedFollowing] ascending, but O(rows) instead of the
    // O(rows²) UnboundedFollowingWindowFunctionFrame
    val w = Window.partitionBy("file").orderBy(col("log_pos").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = ev
      .withColumn("commit", min(when(col("event_type") === "XID",
        struct(col("log_pos"), col("xid")))).over(w))
      .filter(col("commit").isNotNull)
      .withColumn("commit_pos", col("commit.log_pos"))
      .withColumn("txn_xid", col("commit.xid"))
    val begins = assigned.filter(col("query") === "BEGIN")
      .groupBy("file", "txn_xid").agg(max("log_pos").as("begin_pos"))
    assigned.join(begins, Seq("file", "txn_xid"))
      .filter(col("log_pos") >= col("begin_pos"))
      .groupBy(col("file"), col("txn_xid"), col("begin_pos"), col("commit_pos"))
      .agg(count(when(col("op").isNotNull, lit(1))).as("n_row_images"),
        countDistinct(when(col("op").isNotNull, col("table_name"))).as("n_tables"),
        count(lit(1)).as("n_events"))
  }

  private def txnAssemble(s: SparkSession, dir: String): DataFrame =
    assembleTransactions(graft.sources.binlog.BinlogSource
        .events(s, referenceFixtures()))
      .select(regexp_extract(col("file"), "events/([^/]+)/", 1).as("fixture"),
        col("txn_xid"), col("begin_pos"), col("commit_pos"),
        col("n_row_images"), col("n_tables"), col("n_events"))
      .orderBy("fixture", "txn_xid")

  // --- cdc_gtid_resume: replica resume against the executed set ----
  // WHY GtidSet exists (reference Gtid/PreviousGtids decode): a
  // resuming replica must skip every transaction its executed-GTID
  // set covers — including MID-STREAM ones a single resume offset
  // cannot express (parallel appliers commit with gaps). Planted
  // shape: executed = the 60% prefix PLUS ~64 isolated tail gnos
  // per server, so the interval set has real holes and resume both
  // replays the tail AND skips inside it. The executed set
  // compacts to intervals (GtidSet — one exchange), which BROADCAST
  // into an interval-membership left join on the replay (intervals
  // are disjoint ⇒ no fanout; the probe side never shuffles), then
  // one per-server aggregate. At 100 TB: the executed set is
  // bounded resume state (the entire point), the replay pass is
  // scan-local.
  private def gtidResume(s: SparkSession, dir: String): DataFrame = {
    // gno is a dense per-server sequence (row_number over event_id
    // within server_id), mirroring real GTID numbering where each
    // server assigns consecutive gnos. Dense gnos are what makes the
    // executed set COMPACT to O(holes) intervals — with sparse
    // global ids every gno is its own interval and the "bounded
    // resume state" claim is vacuous.
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("server_id").orderBy("event_id")
    val txns = Tables.events(s, dir)
      .select((col("user_id") % 16).as("server_id"), col("event_id"))
      .withColumn("gno", row_number().over(wSeq).cast("long"))
      .select("server_id", "gno")
    // per-server bound: each server's executed set covers the 60%
    // prefix of ITS OWN sequence plus ~64 isolated tail gnos, so
    // every server genuinely exercises resume-with-holes while the
    // interval state stays BOUNDED (~65/server) at any scale — the
    // whole point of GTID resume state. (The previous every-7th tail
    // rule made intervals O(events): the broadcast membership join
    // then compared every probe against O(n) intervals per server —
    // a hidden O(n²) that cost 11.5 s at sf1 and would be minutes at
    // sf10.)
    val executed = txns
      .withColumn("mx", expr("max(gno) over (partition by server_id)"))
      .withColumn("bound", expr("mx * 3 div 5"))
      .withColumn("step",
        greatest(lit(7L), expr("(mx - bound) div 64")))
      .filter(col("gno") <= col("bound") ||
        (col("gno") > col("bound") &&
          (col("gno") - col("bound")) % col("step") === 3))
      .select("server_id", "gno")
    val iv = GtidSet.intervals(executed, "server_id", "gno")
      .select(col("server_id").as("iv_server"),
        col("gno_start"), col("gno_end"))
    txns.join(broadcast(iv),
        col("server_id") === col("iv_server") &&
          col("gno").between(col("gno_start"), col("gno_end")), "left")
      .withColumn("skip", col("iv_server").isNotNull)
      .groupBy("server_id")
      .agg(count(lit(1)).as("n_total"),
        sum(col("skip").cast("long")).as("n_skipped"),
        count(when(!col("skip"), lit(1))).as("n_applied"),
        min(when(!col("skip"), col("gno"))).as("min_applied_gno"),
        max(when(!col("skip"), col("gno"))).as("max_applied_gno"))
      .orderBy("server_id")
  }

  private val gtidResumeSql =
    """WITH txns AS (
      |  SELECT user_id % 16 AS server_id,
      |         ROW_NUMBER() OVER (PARTITION BY user_id % 16 ORDER BY event_id) AS gno
      |  FROM events),
      |b AS (SELECT server_id, max(gno) * 3 // 5 AS bound,
      |             greatest(7, (max(gno) - max(gno) * 3 // 5) // 64) AS st
      |      FROM txns GROUP BY server_id),
      |exec AS (SELECT t.server_id, t.gno FROM txns t JOIN b ON t.server_id = b.server_id
      |         WHERE t.gno <= b.bound
      |            OR (t.gno > b.bound AND (t.gno - b.bound) % b.st = 3)),
      |isl AS (
      |  SELECT server_id, gno,
      |         gno - ROW_NUMBER() OVER (PARTITION BY server_id ORDER BY gno) AS grp
      |  FROM exec),
      |iv AS (SELECT server_id, min(gno) AS s, max(gno) AS e
      |       FROM isl GROUP BY server_id, grp),
      |f AS (
      |  SELECT t.server_id, t.gno,
      |         EXISTS(SELECT 1 FROM iv
      |                WHERE iv.server_id = t.server_id
      |                  AND t.gno BETWEEN iv.s AND iv.e) AS skip
      |  FROM txns t)
      |SELECT server_id, count(*) AS n_total,
      |  CAST(sum(CAST(skip AS INT)) AS BIGINT) AS n_skipped,
      |  CAST(count(*) FILTER (WHERE NOT skip) AS BIGINT) AS n_applied,
      |  min(gno) FILTER (WHERE NOT skip) AS min_applied_gno,
      |  max(gno) FILTER (WHERE NOT skip) AS max_applied_gno
      |FROM f GROUP BY server_id ORDER BY server_id""".stripMargin

  // --- cdc_bloom_sweep: bloom-gate calibration ---------------------
  // The sizing sweep behind the reference's
  // StableBloomFilter::new_default(10_000, 0.01) (rust-cdc
  // src/delta/mod.rs:81): measured false-positive rate vs filter
  // bits, on a seen/probe split with NO true members on the probe
  // side (even keys build the filter, odd keys probe it), so every
  // positive is false by construction. Bloom bits are set by OR —
  // order-independent — and the hashes are xxhash64, so the exact
  // FP COUNTS are deterministic: rows-only (DuckDB has no twin of
  // Spark's sketch) but content-hash PINNED, and the curve is
  // property-pinned in the spec (monotone non-increasing in bits,
  // real FPs at the small end, vanishing at the sized-right end).
  // One seen-scan builds EVERY sweep point's sketch (independent
  // fixed-size aggregate buffers; bytes to the driver — the sketch is
  // the broadcast artifact, scale-correct by design) and one
  // probe-scan counts every point's false positives.
  private val BloomSweepBits = Seq(2000L, 4000L, 8000L, 20000L, 80000L)

  private def bloomSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // EVENT ids, not user keys: redelivery suppression dedups event
    // identities (cdc_dedup_exact / suppressSeen), and the event
    // space is large enough (10³-10⁵) to exercise every regime of
    // the curve — the 150-key space saturates nothing
    val keys = Changelog.fromEvents(s, dir)
      .select(col("offset").as("k")).distinct().persist()
    val seen = keys.filter(col("k") % 2 === 0).select(col("k").cast("string").as("key"))
    val probe = keys.filter(col("k") % 2 === 1).select(col("k").cast("string").as("key"))
    val nSeen = seen.count()
    try {
      // ALL sweep points fold into two scans (r18): every filter is an
      // independent aggregate buffer over the same seen-scan, and every
      // probe an independent sum over the same probe-scan — the
      // per-point form paid 5×2 sequential .head jobs (+AQE re-plans),
      // 28 jobs of pure stage floor per pass, 3.9 s at sf0.1 for
      // ~100 ms of task compute (guide §2.4: fold same-keyed passes).
      // Bits are OR-set per filter, so the per-filter bytes — and the
      // exact FP counts — are identical to the sequential form's.
      val filterRow = seen.agg(
        BloomDedup.bloomAgg(col("key"), nSeen, BloomSweepBits.head).as("bf0"),
        BloomSweepBits.tail.zipWithIndex.map { case (bits, i) =>
          BloomDedup.bloomAgg(col("key"), nSeen, bits).as(s"bf${i + 1}")
        }: _*).head
      val filters = BloomSweepBits.indices.map(filterRow.getAs[Array[Byte]])
      val probeRow = probe.agg(
        count(lit(1)).as("n"),
        filters.zipWithIndex.map { case (bf, i) =>
          sum(BloomDedup.mightContain(lit(bf), col("key")).cast("long")).as(s"fp$i")
        }: _*).head
      BloomSweepBits.zipWithIndex.map { case (bits, i) =>
        (bits, probeRow.getLong(0), probeRow.getLong(1 + i))
      }.toDF("num_bits", "n_probes", "n_fp")
        .withColumn("fp_milli",
          floor(lit(1000.0) * col("n_fp") / col("n_probes")).cast("long"))
        .orderBy("num_bits")
    } finally keys.unpersist()
  }

  // --- cdc_stream_window: watermarked windowed agg ---
  private def streamWindow(s: SparkSession, dir: String): DataFrame =
    CdcStream.windowedAgg(s, dir, s"cdc_stream_window_${System.nanoTime()}",
      statePartitions = Some(8))
      .select(date_trunc("second", col("day")).as("day"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("day", "event_type")

  // --- cdc_stream_dedup: at-least-once → exactly-once -------------
  // Every event is delivered twice; the stateful dropDuplicates
  // must land exactly on the single-delivery batch counts.
  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    CdcStream.streamingDedup(s, dir,
      s"cdc_stream_dedup_${System.nanoTime()}",
      statePartitions = streamStateParts(s, dir))

  private val streamDedupSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val streamWindowSql =
    """SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, event_type,
      | COUNT(*) AS n,
      | CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin
}
