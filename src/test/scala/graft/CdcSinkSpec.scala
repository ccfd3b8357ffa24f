package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{CdcSink, Op, TxnLog}

class CdcSinkSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def changelog(rows: (String, String, Long, String, Double)*): DataFrame =
    rows.toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.1"))

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def table(dir: String): DataFrame = CdcSink.read(spark, dir)

  test("writeSnapshotPreClustered trusts the caller's layout: key-disjoint files with stats, zero extra exchange") {
    val dir = tempDir("graft_sink_pre_").toString
    // contiguous-range partitions with long keys ascending within and
    // disjoint across — the loader-controlled bulk-import contract
    val snap = spark.range(0, 4000, 1, 4).toDF("key")
      .select(col("key"), lit("c").as("op"), col("key").as("offset"),
        concat(lit("v"), col("key")).as("title"),
        lit("bootstrap").as("source_file"))
    assert(snap.queryExecution.executedPlan.toString.indexOf("Exchange") < 0,
      "the pre-clustered import frame itself must plan without a shuffle")
    CdcSink.writeSnapshotPreClustered(snap, dir, targetRecordsPerFile = 1100)
    // rows and content intact
    assert(table(dir).count() == 4000)
    // manifest: every file has key-range stats, and the ranges are
    // pairwise disjoint (no partition was split or reshuffled)
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.nonEmpty)
    val ranges = m.entries.map(e => (e.min.get.toLong, e.max.get.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file key ranges overlap: $ranges")
      case _ => ()
    }
    // offsets committed like every other snapshot write
    assert(CdcSink.committedOffsets(spark, dir) == Map("bootstrap" -> 3999L))
    // a pruned range read opens a subset of files and returns exactly
    // the span
    val got = CdcSink.readRange(spark, dir, "1500", "1510")
      .select("key").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (1500L to 1510L).toSeq)
  }

  test("writeSnapshot + merge: upsert, delete, idempotent re-merge") {
    val dir = tempDir("graft_sink_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, partitionCol = Some("part"))
    assert(table(dir).count() == 2)

    // update a, insert c (p1), delete b (p2)
    val batch = changelog(("a", "u", 3, "p1", 10.0), ("c", "c", 4, "p1", 3.0),
      ("b", "d", 5, "p2", 0.0))
    CdcSink.merge(spark, batch, dir, Some("part"))
    val snap1 = table(dir)
      .select("key", "value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap1 == Map("a" -> 10.0, "c" -> 3.0))

    // re-merging the same batch is a no-op (idempotent recovery)
    CdcSink.merge(spark, batch, dir, Some("part"))
    val snap2 = table(dir)
      .select("key", "value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap2 == snap1)

    assert(CdcSink.committedOffsets(spark, dir) == Map("bin.1" -> 5L))
  }

  test("merge only rewrites touched partitions") {
    val dir = tempDir("graft_sink_prune_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, partitionCol = Some("part"))
    def p2Files = TxnLog.current(fs, dir).get.entries
      .filter(_.partition.contains("p2"))
      .map(e => e.path -> new java.io.File(dir, e.path).lastModified).toMap
    val before = p2Files
    assert(before.nonEmpty)

    CdcSink.merge(spark, changelog(("a", "u", 3, "p1", 9.0)), dir, Some("part"))

    // the new manifest carries p2's files forward untouched
    assert(p2Files == before, "untouched partition was rewritten")
    val a = table(dir).filter($"key" === "a").select("value").head.getDouble(0)
    assert(a == 9.0)
  }

  test("merge handles null and escape-needing partition values") {
    val dir = tempDir("graft_sink_nullpart_").toString
    val withNull = Seq(("a", "c", 1L, null.asInstanceOf[String], 1.0),
      ("b", "c", 2L, "p 2", 2.0)) // space needs Hive path escaping
      .toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.1"))
    CdcSink.writeSnapshot(withNull, dir, Some("part"))
    // update the null-partition key, delete the escaped-partition key
    val batch = Seq(("a", "u", 3L, null.asInstanceOf[String], 9.0),
      ("b", "d", 4L, "p 2", 0.0))
      .toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.1"))
    CdcSink.merge(spark, batch, dir, Some("part"))
    val snap = table(dir).select("key", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap == Map("a" -> 9.0), snap.toString)
    // the emptied escaped partition has no live files in the manifest
    val parts = TxnLog.current(fs, dir).get.entries.flatMap(_.partition).toSet
    assert(!parts.contains("p%202"), parts.toString)
    assert(parts.contains("__HIVE_DEFAULT_PARTITION__"), parts.toString)
  }

  test("commit offsets from different sources merge, not overwrite") {
    val dir = tempDir("graft_sink_multisrc_").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 100, "p1", 1.0)), dir, None)
    val fromOtherSource = Seq(("z", "c", 7L, "p1", 9.9))
      .toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.2"))
    CdcSink.merge(spark, fromOtherSource, dir, None)
    assert(CdcSink.committedOffsets(spark, dir) ==
      Map("bin.1" -> 100L, "bin.2" -> 7L))
  }

  test("fused merge metadata: two sources in ONE batch + null keys — offsets, stats, rows all land") {
    // the merge computes bounds/touched/offsets in one rollup pass
    // (batchMeta); this pins the per-source rows (offsets per source
    // from a single batch) and the null-key degrade path (everything
    // touched, commit range still folds non-null batch ∪ file ranges)
    val dir = tempDir("graft_sink_meta_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p1", 2.0)), dir, None)
    val batch = Seq(
      ("c", "c", 10L, "p1", 3.0, "bin.2"),
      (null.asInstanceOf[String], "c", 11L, "p1", 4.0, "bin.2"),
      ("d", "c", 12L, "p1", 5.0, "bin.3"))
      .toDF("key", "op", "offset", "part", "value", "source_file")
    CdcSink.merge(spark, batch, dir, None)
    // per-source max offsets from the one batch, merged over bin.1's
    assert(CdcSink.committedOffsets(spark, dir) ==
      Map("bin.1" -> 2L, "bin.2" -> 11L, "bin.3" -> 12L))
    // all five keys live (null key is a key like any other)
    assert(table(dir).count() == 5)
    // commit stats survive the null-key batch: non-null batch bounds
    // unioned with the touched files' ranges
    val entries = TxnLog.current(fs, dir).get.entries
    assert(entries.forall(e => e.min.isDefined && e.max.isDefined),
      entries.toString)
    assert(entries.map(_.min.get).min == "a" && entries.map(_.max.get).max == "d",
      entries.toString)
  }

  test("dead letter queue captures and removes bad records") {
    val dir = tempDir("graft_sink_dlq_").resolve("table").toString
    val batch = changelog(("a", "c", 1, "p1", 1.0), ("bad", "c", 2, "p1", -1.0))
    val clean = CdcSink.deadLetter(batch, dir, isBad = col("value") < 0)
    assert(clean.count() == 1)
    val dlq = spark.read.parquet(CdcSink.dlqDir(dir))
    assert(dlq.count() == 1 && dlq.select("key").head.getString(0) == "bad")
  }

  test("DLQ survives merges and compaction (sibling dir)") {
    val dir = tempDir("graft_sink_dlqsafe_").resolve("table").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0)), dir, None)
    CdcSink.deadLetter(changelog(("bad", "c", 2, "p1", -1.0)), dir, col("value") < 0)
      .count() // materialize the DLQ write
    CdcSink.merge(spark, changelog(("z", "c", 3, "p1", 3.0)), dir, None)
    assert(spark.read.parquet(CdcSink.dlqDir(dir)).count() == 1)
    // explicit compaction + vacuum must not touch the sibling dir
    CdcSink.compact(spark, dir, None)
    assert(spark.read.parquet(CdcSink.dlqDir(dir)).count() == 1)
    assert(CdcSink.committedOffsets(spark, dir).nonEmpty)
  }

  test("partitioned merge keeps evolved columns on later merges") {
    val dir = tempDir("graft_sink_pevolve_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, Some("part"))
    // batch with a new column touches only p1
    CdcSink.merge(spark,
      changelog(("a", "u", 3, "p1", 5.0)).withColumn("extra", lit("v1")),
      dir, Some("part"))
    // later batch WITHOUT the new column touches only p2 — the
    // evolved column must survive the re-read + rewrite
    CdcSink.merge(spark, changelog(("b", "u", 4, "p2", 6.0)), dir, Some("part"))
    val snap = table(dir)
    assert(snap.columns.contains("extra"))
    val a = snap.filter($"key" === "a").select("extra").head.getString(0)
    assert(a == "v1")
  }

  test("streaming ingest lands on the batch snapshot") {
    val dir = tempDir("graft_ingest_").toString
    graft.cdc.CdcStream.ingestInto(spark, "/root/testdata/sf0.001", dir,
      queryName = s"ingest_${System.nanoTime()}")
    val viaStream = table(dir)
      .select("key", "offset").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaBatch = SparkEntry.queries("cdc_snapshot")(spark, "/root/testdata/sf0.001")
      .select("key", "last_offset").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaStream == viaBatch)
    val committed = CdcSink.committedOffsets(spark, dir)
    assert(committed.nonEmpty)
    // the committed resume point is the max offset seen in the stream
    assert(committed.values.max == 999L, committed.toString)
  }

  test("merge evolves schema when the changelog gains a column") {
    val dir = tempDir("graft_sink_evolve_").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0)), dir, None)
    // DDL added a column upstream: new batch carries `extra`
    val evolved = changelog(("b", "c", 2, "p1", 2.0))
      .withColumn("extra", lit("new-col"))
    CdcSink.merge(spark, evolved, dir, None)
    val snap = table(dir)
    assert(snap.columns.contains("extra"))
    val byKey = snap.select("key", "extra").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byKey == Map("a" -> None, "b" -> Some("new-col")))
  }

  test("every 10th merge compacts to one live file and vacuums") {
    val dir = tempDir("graft_sink_compact_").toString
    CdcSink.writeSnapshot(changelog(("k0", "c", 0, "p1", 0.0)), dir, None)
    (1 to CdcSink.CompactEvery).foreach { i =>
      CdcSink.merge(spark, changelog((s"k$i", "c", i.toLong, "p1", i.toDouble)), dir, None)
    }
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.length == 1, s"expected 1 compacted live file, got ${m.entries.length}")
    assert(table(dir).count() == CdcSink.CompactEvery + 1)
    // vacuum removed superseded commit dirs (only the live one stays)
    val commitDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c-"))
    assert(commitDirs.length == 1, commitDirs.map(_.getName).mkString(","))
    // offsets survived the compaction rewrite; the merge count that
    // set the cadence lives in the log, beside nothing but commit dirs
    assert(CdcSink.committedOffsets(spark, dir).nonEmpty)
    assert(m.mergeCount == CdcSink.CompactEvery)
    assert(new java.io.File(dir).list().toSet == commitDirs.map(_.getName).toSet + "_delta_log")
  }

  test("compaction sub-splits a skew-hot partition into size-bounded files") {
    val dir = tempDir("graft_sink_skew_").toString
    // hot partition p1: 10,000 rows; cold p2: 10 rows — the shape
    // that used to serialize p1 into ONE write task and one file
    def rows(n: Long, part: String, pfx: String, off: Long): DataFrame =
      spark.range(0, n).select(
        concat(lit(pfx), col("id")).as("key"), lit("c").as("op"),
        (col("id") + off).as("offset"), lit(part).as("part"),
        col("id").cast("double").as("value"),
        lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(
      rows(10000, "p1", "h", 0).unionAll(rows(10, "p2", "c", 20000)),
      dir, Some("part"))
    val before = table(dir).orderBy("key").collect()
    CdcSink.compact(spark, dir, Some("part"), targetRecordsPerFile = 1000L)
    val m = TxnLog.current(fs, dir).get
    val hotFiles = m.entries.filter(_.partition.contains("p1"))
    val coldFiles = m.entries.filter(_.partition.contains("p2"))
    assert(hotFiles.length > 1,
      s"hot partition compacted to ${hotFiles.length} file(s) — not sub-split")
    // the sub-split exists to buy TASK parallelism, not just many
    // files: maxRecordsPerFile alone would pass a file count from ONE
    // task. Distinct part-NNNNN writer-task prefixes prove more than
    // one task wrote the hot value.
    val hotTasks = hotFiles
      .map(e => new java.io.File(e.path).getName.split("-").take(2).mkString("-"))
      .distinct
    assert(hotTasks.length > 1,
      s"hot partition written by ${hotTasks.length} task(s): ${hotTasks.mkString(",")}")
    assert(coldFiles.length == 1,
      s"cold partition fragmented into ${coldFiles.length} files")
    // every output file honors the record target (2x slack for a
    // salt-bucket hash collision sharing a task — the write-side
    // maxRecordsPerFile belt keeps even that bounded)
    hotFiles.foreach { e =>
      val n = spark.read.parquet(s"$dir/${e.path}").count()
      assert(n <= 2000L, s"${e.path} holds $n rows (target 1000)")
    }
    // identical data after the rewrite
    val after = table(dir).orderBy("key").collect()
    assert(after.length == before.length)
    after.zip(before).foreach { case (a, b) => assert(a == b) }
  }

  test("compaction sub-splits tables carrying map columns (unhashable salt)") {
    // Spark's hash() rejects MapType — the sub-split salt must route
    // around map columns instead of failing the whole compaction
    val dir = tempDir("graft_sink_map_").toString
    val rows = spark.range(0, 3000).select(
      concat(lit("k"), col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), lit("p1").as("part"),
      map(lit("a"), col("id").cast("string")).as("props"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(rows, dir, Some("part"))
    val before = table(dir).count()
    CdcSink.compact(spark, dir, Some("part"), targetRecordsPerFile = 1000L)
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.length > 1, "map-column table not sub-split")
    assert(table(dir).count() == before)
  }

  test("compaction sub-splits a hot partition value when the key has no stats (binary key)") {
    // a binary key gets no key-range stats, so the layout spreads a hot
    // value by a hash of the row instead of by key range
    val dir = tempDir("graft_sink_binkey_").toString
    def rows(n: Long, part: String, off: Long): DataFrame =
      spark.range(0, n).select(
        concat(lit(part), col("id").cast("string")).cast("binary").as("key"),
        lit("c").as("op"), (col("id") + off).as("offset"), lit(part).as("part"),
        col("id").cast("double").as("value"), lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(rows(4000, "hot", 0).unionAll(rows(10, "cold", 10000)), dir, Some("part"))
    // the bulk commit records row counts although the key has no stats
    val m0 = TxnLog.current(fs, dir).get
    assert(m0.entries.forall(e => e.rows.isDefined && e.min.isEmpty), m0.entries.toString)
    def content(d: String) = table(d)
      .select(hex(col("key")), col("part"), col("value")).collect().map(_.toString).sorted.toSeq
    val before = content(dir)
    val (_, jobs) = SparkJobs.during(spark)(
      CdcSink.compact(spark, dir, Some("part"), targetRecordsPerFile = 1000L))
    assert(jobs.forall(_.callSite.startsWith("parquet at")), jobs.toString)
    val m = TxnLog.current(fs, dir).get
    val hotTasks = m.entries.filter(_.partition.contains("hot"))
      .map(e => new java.io.File(e.path).getName.split("-").take(2).mkString("-")).distinct
    assert(hotTasks.length > 1, s"hot value written by ${hotTasks.length} task(s)")
    assert(m.entries.forall(_.rows.isDefined), m.entries.toString)
    assert(m.entries.flatMap(_.rows).sum == 4010L)
    assert(content(dir) == before)
  }

  test("crash between data write and manifest publish loses nothing") {
    val dir = tempDir("graft_sink_crash_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, Some("part"))
    val v1 = TxnLog.current(fs, dir).get
    val offsetsBefore = CdcSink.committedOffsets(spark, dir)

    // inject a crash after the merge writes its commit dir but before
    // the manifest publish — the exact window a mid-rewrite kill hits
    val batch = changelog(("a", "u", 3, "p1", 99.0), ("z", "c", 4, "p2", 7.0))
    TxnLog.crashAt = Some(TxnLog.Crash.BeforePublish)
    try intercept[RuntimeException] {
      CdcSink.merge(spark, batch, dir, Some("part"))
    } finally TxnLog.crashAt = None

    // the table still reads at the pre-crash version, offsets intact
    assert(TxnLog.current(fs, dir).get.version == v1.version)
    val snap = table(dir).select("key", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap == Map("a" -> 1.0, "b" -> 2.0), snap.toString)
    assert(CdcSink.committedOffsets(spark, dir) == offsetsBefore)
    // the orphaned commit dir exists but is unreachable...
    val orphans = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"c-${v1.version + 1}-"))
    assert(orphans.nonEmpty, "expected an orphaned commit dir from the crashed merge")

    // ...recovery = simply re-merge the batch (idempotent), which
    // publishes a fresh version; vacuum then reaps the orphan
    CdcSink.merge(spark, batch, dir, Some("part"))
    val snap2 = table(dir).select("key", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(snap2 == Map("a" -> 99.0, "b" -> 2.0, "z" -> 7.0), snap2.toString)
    TxnLog.vacuum(fs, dir)
    val liveDirs = TxnLog.current(fs, dir).get.entries.map(_.path.split('/').head).toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c-")).map(_.getName).toSet
    assert(onDisk == liveDirs, s"vacuum left orphans: ${onDisk -- liveDirs}")
  }

  test("listeners: progress bookkeeping and per-event callbacks fire") {
    import graft.cdc.Listeners
    val pl = new Listeners.ProgressListener
    spark.streams.addListener(pl)
    val qn = s"listener_probe_${System.nanoTime()}"
    try {
      val counter = spark.sparkContext.longAccumulator("events_seen")
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001")
        .selectExpr("event_id")
        .as[Long]
      val q = Listeners.foreachEvent[Long](stream, _ => counter.add(1))
        .queryName(qn)
        .option("checkpointLocation",
          tempDir("listener_ckpt_").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener events are async — poll briefly
      val deadline = System.currentTimeMillis + 10000
      while (pl.rows(qn) < 1000 && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(counter.value == 1000, s"per-event callbacks saw ${counter.value}")
      assert(pl.rows(qn) == 1000, s"progress listener saw ${pl.rows(qn)}")
      assert(pl.batches(qn) >= 1)
    } finally spark.streams.removeListener(pl)
  }

  private def commitDirs(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.startsWith("c-")).toSet

  /** 3,000 string keys compacted into key-disjoint files of at most 500 rows. */
  private def compactedTable(prefix: String): String = {
    val dir = tempDir(prefix).toString
    CdcSink.writeSnapshot(spark.range(0, 3000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), lit("p1").as("part"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 500L)
    dir
  }

  test("an empty batch on an unpartitioned table commits no file changes but counts as a merge") {
    val dir = compactedTable("graft_sink_empty_")
    val m0 = TxnLog.current(fs, dir).get
    assert(m0.entries.length >= 5 && m0.entries.forall(_.min.isDefined))
    val dirs0 = commitDirs(dir)
    CdcSink.merge(spark, changelog(), dir, None)
    val m1 = TxnLog.current(fs, dir).get
    assert(m1.version == m0.version + 1)
    assert(m1.entries == m0.entries, "the empty batch changed the live set")
    assert(commitDirs(dir) == dirs0, "the empty batch wrote a commit dir")
    assert(m1.mergeCount == m0.mergeCount + 1)
    // the next merge touches only the file its key hits
    CdcSink.merge(spark, changelog(("k00100", "u", 9000, "p1", -1.0)), dir, None)
    val m2 = TxnLog.current(fs, dir).get
    val rewritten = m1.entries.map(_.path).toSet -- m2.entries.map(_.path)
    assert(rewritten.size == 1, s"rewrote $rewritten")
    assert(table(dir).filter($"key" === "k00100").select("value").head.getDouble(0) == -1.0)
  }

  test("job counts: a lookup and a scan run one Spark job, merges infer no schema, compaction counts nothing") {
    val dir = compactedTable("graft_sink_jobs_")
    val (_, lookup) = SparkJobs.during(spark) {
      CdcSink.readRange(spark, dir, "k00100", "k00100").collect()
    }
    assert(lookup.length == 1, lookup.toString)
    val (_, scan) = SparkJobs.during(spark) {
      CdcSink.read(spark, dir).write.format("noop").mode("overwrite").save()
    }
    assert(scan.length == 1, scan.toString)
    // merges that read touched files: footer schema inference would be
    // a job outside the merge's SQL executions
    (1 to 3).foreach { i =>
      val (_, merge) = SparkJobs.during(spark) {
        CdcSink.merge(spark, changelog((f"k${i * 700}%05d", "u", 9000L + i, "p1", -1.0)), dir, None)
      }
      assert(merge.forall(_.sqlExecution), merge.toString)
    }
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.forall(_.rows.isDefined), "a merge committed a file without its row count")
    // the compaction sizes its output from the log's row counts
    val (_, compaction) = SparkJobs.during(spark)(CdcSink.compact(spark, dir, None))
    assert(!compaction.exists(_.callSite.startsWith("count at")), compaction.toString)
    assert(compaction.forall(_.sqlExecution), compaction.toString)
    assert(table(dir).count() == 3000)
    // so does a partitioned table's: every job is the write's, and none
    // reads or fills a persisted frame
    val pdir = tempDir("graft_sink_jobs_part_").toString
    CdcSink.writeSnapshot(spark.range(0, 3000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), concat(lit("p"), col("id") % 3).as("part"),
      col("id").cast("double").as("value"), lit("bin.1").as("source_file")), pdir, Some("part"))
    val (_, pcompaction) = SparkJobs.during(spark)(
      CdcSink.compact(spark, pdir, Some("part"), targetRecordsPerFile = 500L))
    assert(pcompaction.nonEmpty && pcompaction.forall(j =>
      j.sqlExecution && j.callSite.startsWith("parquet at") && !j.cached), pcompaction.toString)
    val pm = TxnLog.current(fs, pdir).get
    assert(pm.entries.length >= 6 && pm.entries.forall(_.rows.isDefined), pm.entries.toString)
    // each value's files are key-disjoint: the range layout's order
    // survives the partitioned write
    pm.entries.groupBy(_.partition).values.foreach { es =>
      es.map(e => (e.min.get, e.max.get)).sorted.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $hi vs $lo")
        case _ =>
      }
    }
    assert(table(pdir).count() == 3000)
  }

  test("unpartitioned merge works end-to-end") {
    val dir = tempDir("graft_sink_flat_").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0)), dir, None)
    CdcSink.merge(spark, changelog(("a", "d", 2, "p1", 0.0), ("z", "c", 3, "p1", 7.0)), dir, None)
    val keys = table(dir).select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("z"))
  }

  test("mergeWithDdl: interleaved DDL applies in offset order around data") {
    val root = tempDir("graft_sink_ddlmix_").toString
    val dir = s"$root/t1"
    // offsets: insert a@1, b@2 | TRUNCATE@3 | insert z@4 | RENAME TO t9@5
    val batch = Seq(
      ("a", Op.Insert, 1L, "p1", 1.0, null.asInstanceOf[String]),
      ("b", Op.Insert, 2L, "p1", 2.0, null.asInstanceOf[String]),
      (null.asInstanceOf[String], Op.Query, 3L, "p1", 0.0, "TRUNCATE TABLE t1"),
      ("z", Op.Insert, 4L, "p1", 9.0, null.asInstanceOf[String]),
      (null.asInstanceOf[String], Op.Query, 5L, "p1", 0.0, "ALTER TABLE t1 RENAME TO t9"))
      .toDF("key", "op", "offset", "part", "value", "stmt")
      .withColumn("source_file", lit("bin.1"))
    val finalDir = CdcSink.mergeWithDdl(spark, batch, dir, None)
    assert(finalDir.endsWith("/t9"), finalDir)
    val keys = table(finalDir).select("key").collect().map(_.getString(0)).toSet
    assert(keys == Set("z"), s"truncate between inserts must drop a,b: $keys")
    // the resume point survives the truncate and the rename
    assert(CdcSink.committedOffsets(spark, finalDir) == Map("bin.1" -> 4L))
  }

  test("schema evolution end-to-end: DDL stream drives the snapshot table") {
    import graft.cdc.Ddl
    val root = tempDir("graft_sink_ddl_").toString
    val dir = s"$root/t1"
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)), dir, None)

    // ALTER TABLE t1 ADD COLUMN score: no rewrite; next merge carries
    // the new column and the table schema evolves lazily
    assert(CdcSink.applyDdl(spark, Ddl.parse("ALTER TABLE t1 ADD COLUMN score INT"), dir) == dir)
    val withScore = Seq(("c", "c", 3L, "p1", 3.0, 42))
      .toDF("key", "op", "offset", "part", "value", "score")
      .withColumn("source_file", lit("bin.1"))
    val preDdl = TxnLog.current(fs, dir).get
    CdcSink.merge(spark, withScore, dir, None)
    val snap = table(dir)
    assert(snap.columns.contains("score"))
    val scores = snap.select("key", "score").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(scores("c").contains(42) && scores("a").isEmpty, scores.toString)
    // the batch's key lies above the pre-DDL file's range, so that file
    // is carried untouched; a lookup that opens only it still reads
    // the log's schema, with score null
    assert(preDdl.entries.map(_.path).toSet
      .subsetOf(TxnLog.current(fs, dir).get.entries.map(_.path).toSet))
    val lookup = CdcSink.readRange(spark, dir, "a", "a").select("key", "score").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toSeq
    assert(lookup == Seq("a" -> None), lookup.toString)
    // AS OF the pre-DDL version: that version's columns, no score
    val asOf = TxnLog.readVersion(spark, dir, preDdl.version)
    assert(asOf.columns.toSeq == preDdl.schema.fieldNames.toSeq && !asOf.columns.contains("score"))
    assert(asOf.select("key").collect().map(_.getString(0)).toSet == Set("a", "b"))

    // RENAME COLUMN then DROP COLUMN rewrite as new versions
    CdcSink.applyDdl(spark, Ddl.parse("ALTER TABLE t1 RENAME COLUMN score TO rating"), dir)
    assert(table(dir).columns.contains("rating"))
    CdcSink.applyDdl(spark, Ddl.parse("ALTER TABLE t1 DROP COLUMN rating"), dir)
    assert(!table(dir).columns.contains("rating"))

    // TRUNCATE clears data but the replication position survives
    val committedBefore = CdcSink.committedOffsets(spark, dir)
    assert(committedBefore.nonEmpty)
    CdcSink.applyDdl(spark, Ddl.parse("TRUNCATE TABLE t1"), dir)
    assert(table(dir).count() == 0)
    assert(CdcSink.committedOffsets(spark, dir) == committedBefore)
    // post-truncate merge repopulates (schema from the batch)
    CdcSink.merge(spark, changelog(("z", "c", 9, "p1", 7.0)), dir, None)
    assert(table(dir).count() == 1)

    // RENAME TABLE moves the directory; DROP TABLE removes it
    val dir2 = CdcSink.applyDdl(spark, Ddl.parse("ALTER TABLE t1 RENAME TO `t2`"), dir)
    assert(dir2.endsWith("/t2") && !new java.io.File(dir).exists())
    assert(table(dir2).count() == 1)
    CdcSink.applyDdl(spark, Ddl.parse("DROP TABLE IF EXISTS t2"), dir2)
    assert(!new java.io.File(dir2).exists())
  }

  test("time travel: readVersion pins historical table states") {
    val dir = tempDir("graft_tt_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)), dir, None)
    CdcSink.merge(spark,
      changelog(("a", "u", 3, "p1", 10.0), ("b", "d", 4, "p2", 0.0)), dir, None)
    val vs = TxnLog.versions(fs, dir)
    assert(vs.length == 2 && vs == vs.sorted)

    def snap(df: DataFrame): Map[String, Double] =
      df.select("key", "value").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // AS OF the bootstrap: pre-merge state
    assert(snap(TxnLog.readVersion(spark, dir, vs.head)) == Map("a" -> 1.0, "b" -> 2.0))
    // AS OF the merge == current
    assert(snap(TxnLog.readVersion(spark, dir, vs.last)) == Map("a" -> 10.0))
    assert(snap(table(dir)) == Map("a" -> 10.0))
    // unknown versions fail loudly, never silently fall back
    intercept[IllegalArgumentException](TxnLog.readVersion(spark, dir, 99L))

    // compaction vacuums superseded manifests: the travel horizon is
    // commits-since-compaction, and a vacuumed version fails loudly
    CdcSink.compact(spark, dir, None)
    intercept[IllegalArgumentException](TxnLog.readVersion(spark, dir, vs.head))
    assert(snap(table(dir)) == Map("a" -> 10.0))
  }
}
