package graft.cdc

import graft.SharedSpark
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Structural conformance of the sink's `_delta_log`: an INDEPENDENT
  * reader implementing the public Delta protocol (action-JSON replay,
  * checkpoint-parquet + `_last_checkpoint` discovery) must
  * reconstruct, at every version, exactly the state graft's own
  * TxnLog resolves. The DuckDB delta extension cannot be installed
  * offline, so this replay — which shares zero code with
  * [[DeltaLog]]'s writer — stands in for a cross-engine read.
  */
class DeltaLogSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def fs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def changelog(rows: (String, String, Long, String, Double)*): DataFrame =
    rows.toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.1"))

  // ----- independent Delta reader (public protocol only) -----------

  private case class State(schemaJson: String, live: Map[String, Long])

  private def readJsonActions(p: Path): Seq[JValue] = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.split('\n').filter(_.nonEmpty).toSeq.map(JsonMethods.parse(_))
  }

  private def applyActions(st: State, actions: Seq[JValue]): State = {
    implicit val fmt: Formats = DefaultFormats
    actions.foldLeft(st) { (s, a) =>
      (a \ "metaData") match {
        case JNothing => (a \ "add") match {
          case JNothing => (a \ "remove") match {
            case JNothing => s // commitInfo / protocol / txn
            case r => s.copy(live = s.live - (r \ "path").extract[String])
          }
          case ad => s.copy(live = s.live +
            ((ad \ "path").extract[String] -> (ad \ "size").extract[Long]))
        }
        case md => s.copy(schemaJson = (md \ "schemaString").extract[String])
      }
    }
  }

  /** Replay `_delta_log` from version 0 up to `asOf` (inclusive). */
  private def replay(tableDir: String, asOf: Long): State = {
    val d = new Path(tableDir, "_delta_log")
    (0L to asOf).foldLeft(State("", Map.empty)) { (st, v) =>
      val p = new Path(d, f"$v%020d.json")
      assert(fs.exists(p), s"delta log version $v missing")
      applyActions(st, readJsonActions(p))
    }
  }

  /** Full discovery read, as a foreign engine would do it: consult
    * `_last_checkpoint`, load the checkpoint parquet, then replay
    * only the trailing JSON commits.
    */
  private def discoverLatest(tableDir: String): (Long, State) = {
    val d = new Path(tableDir, "_delta_log")
    val versions = fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong)
    val latest = versions.max
    val lastCkpt = new Path(d, "_last_checkpoint")
    val start: (Long, State) =
      if (!fs.exists(lastCkpt)) (-1L, State("", Map.empty))
      else {
        implicit val fmt: Formats = DefaultFormats
        val in = fs.open(lastCkpt)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val v = (JsonMethods.parse(txt) \ "version").extract[Long]
        val ck = spark.read.parquet(
          new Path(d, f"$v%020d.checkpoint.parquet").toString)
        val schemaJson = ck.filter(col("metaData").isNotNull)
          .select("metaData.schemaString").head.getString(0)
        val adds = ck.filter(col("add").isNotNull)
          .select("add.path", "add.size").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (v, State(schemaJson, adds))
      }
    val st = ((start._1 + 1) to latest).foldLeft(start._2) { (s, v) =>
      applyActions(s, readJsonActions(new Path(d, f"$v%020d.json")))
    }
    (latest, st)
  }

  private def readState(st: State, tableDir: String): DataFrame = {
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    if (st.live.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(
        st.live.keys.map(p => new Path(tableDir, p).toString).toSeq: _*)
  }

  private def sortedRows(df: DataFrame): Seq[String] = {
    val ordered = df.select(df.columns.sorted.map(col): _*)
    ordered.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  // ------------------------------------------------------------------

  test("version 0 carries protocol(1,2) + metaData with the table schema") {
    val dir = tempDir("graft_delta_").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0)), dir, Some("part"))
    implicit val fmt: Formats = DefaultFormats
    val v0 = readJsonActions(new Path(dir, f"_delta_log/${0L}%020d.json"))
    val proto = v0.flatMap(a => (a \ "protocol").toOption)
    assert(proto.nonEmpty)
    assert((proto.head \ "minReaderVersion").extract[Int] == 1)
    assert((proto.head \ "minWriterVersion").extract[Int] == 2)
    val md = v0.flatMap(a => (a \ "metaData").toOption)
    assert(md.nonEmpty)
    val schema = DataType.fromJson((md.head \ "schemaString").extract[String])
      .asInstanceOf[StructType]
    assert(schema.fieldNames.toSet ==
      CdcSink.read(spark, dir).schema.fieldNames.toSet)
    assert((md.head \ "partitionColumns") == JArray(Nil))
    assert((md.head \ "format" \ "provider").extract[String] == "parquet")
  }

  test("action replay reconstructs every graft version, incl. removes + evolution") {
    val dir = tempDir("graft_delta_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, Some("part"))
    // v2: upsert touching p1 (removes p1's old file, adds a new one)
    CdcSink.merge(spark, changelog(("a", "u", 3, "p1", 9.0)), dir, Some("part"))
    // v3: delete all of p2 (partition emptied — pure remove)
    CdcSink.merge(spark, changelog(("b", "d", 4, "p2", 2.0)), dir, Some("part"))
    // v4: schema evolution — changelog gains a column
    val wide = changelog(("c", "c", 5, "p3", 3.0))
      .withColumn("extra", lit(42L))
    CdcSink.merge(spark, wide, dir, Some("part"))
    val versions = TxnLog.versions(fs, dir)
    assert(versions.size >= 4)
    versions.foreach { v =>
      val st = replay(dir, v)
      val mine = TxnLog.readVersion(spark, dir, v)
      assert(sortedRows(readState(st, dir)) == sortedRows(mine),
        s"delta replay of v$v diverges from TxnLog")
      // the replayed live set must be exactly TxnLog's entries
      val manifest = TxnLog.manifestAt(fs, dir, v).get
      assert(st.live.keySet == manifest.entries.map(_.path).toSet)
      assert(st.schemaJson == manifest.schemaJson)
    }
    // evolution emitted a fresh metaData action in v4's commit json
    val v4 = readJsonActions(
      new Path(dir, f"_delta_log/${versions.last}%020d.json"))
    assert(v4.exists(a => (a \ "metaData") != JNothing))
    // add sizes match the filesystem
    implicit val fmt: Formats = DefaultFormats
    versions.flatMap(v => readJsonActions(new Path(dir, f"_delta_log/$v%020d.json")))
      .flatMap(a => (a \ "add").toOption)
      .foreach { ad =>
        val p = new Path(dir, (ad \ "path").extract[String])
        assert(fs.getFileStatus(p).getLen == (ad \ "size").extract[Long])
      }
  }

  test("checkpoint at the 10-commit cadence + _last_checkpoint discovery") {
    val dir = tempDir("graft_delta_").toString
    CdcSink.writeSnapshot(changelog(("k0", "c", 1, "p1", 0.0)), dir, Some("part"))
    (1 to 11).foreach { i =>
      CdcSink.merge(spark,
        changelog((s"k$i", "c", i + 1L, s"p${i % 3}", i.toDouble)),
        dir, Some("part"))
    }
    val d = new Path(dir, "_delta_log")
    assert(fs.exists(new Path(d, f"${10L}%020d.checkpoint.parquet")))
    assert(fs.exists(new Path(d, "_last_checkpoint")))
    // discovery read (checkpoint + trailing commits) == graft read
    val (latest, st) = discoverLatest(dir)
    assert(latest == TxnLog.versions(fs, dir).max)
    assert(sortedRows(readState(st, dir)) ==
      sortedRows(CdcSink.read(spark, dir)))
    // checkpoint contents alone reconstruct version 10 exactly
    val st10 = replay(dir, 10L)
    val ck = spark.read.parquet(new Path(d, f"${10L}%020d.checkpoint.parquet").toString)
    val ckAdds = ck.filter(col("add").isNotNull)
      .select("add.path").collect().map(_.getString(0)).toSet
    assert(ckAdds == st10.live.keySet)
    assert(ck.filter(col("protocol").isNotNull).count() == 1)
    assert(ck.filter(col("metaData").isNotNull).count() == 1)
    // ... and carries what resolution past version 10 needs: each
    // add's stats as logged, and the per-source offsets as txn rows
    implicit val fmt: Formats = DefaultFormats
    val logged = (0L to 10L).flatMap(v => readJsonActions(new Path(d, f"$v%020d.json")))
      .flatMap(a => (a \ "add").toOption)
      .map(ad => (ad \ "path").extract[String] -> (ad \ "stats").extractOpt[String]).toMap
    val ckStats = ck.filter(col("add").isNotNull).select("add.path", "add.stats").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(ckStats.forall { case (p, st) => logged(p) == st } && ckStats.values.exists(_.isDefined))
    val txns = ck.filter(col("txn").isNotNull).select("txn.appId", "txn.version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(txns == Map("bin.1" -> 10L))
  }

  test("multi-part checkpoint: parted files read back; stale part falls back to replay") {
    // The public spec's `parts` form: _last_checkpoint carries
    // {"version":V,"parts":N} and the state lives in N files named
    // V.checkpoint.%010d-of-%010d.parquet — a big table's checkpoint
    // is written by many tasks. Foreign writers produce these; the
    // graft reader must union ALL parts (protocol/metaData/adds can
    // land in different parts) and must treat a missing part as a
    // stale hint (degrade to JSON replay), never serve partial state.
    val dir = tempDir("graft_delta_mp_").toString
    CdcSink.writeSnapshot(changelog(("k0", "c", 1, "p1", 0.0)), dir, Some("part"))
    (1 to 11).foreach { i =>
      CdcSink.merge(spark,
        changelog((s"k$i", "c", i + 1L, s"p${i % 3}", i.toDouble)),
        dir, Some("part"))
    }
    val d = new Path(dir, "_delta_log")
    val single = new Path(d, f"${10L}%020d.checkpoint.parquet")
    assert(fs.exists(single))
    val expect = sortedRows(CdcSink.read(spark, dir))
    // split the single checkpoint's rows across 3 part files so that
    // protocol, metaData, and the adds land in DIFFERENT parts
    val ck = spark.read.parquet(single.toString)
    val rows = ck.collect()
    val protoIdx = ck.columns.indexOf("protocol")
    val metaIdx = ck.columns.indexOf("metaData")
    val proto = rows.filter(r => !r.isNullAt(protoIdx))
    val meta = rows.filter(r => !r.isNullAt(metaIdx))
    val rest = rows.filter(r => r.isNullAt(protoIdx) && r.isNullAt(metaIdx))
    assert(proto.length == 1 && meta.length == 1 && rest.length >= 2,
      "fixture degenerate: need protocol+metaData+adds")
    val nParts = 3
    val slices = Seq(proto.toSeq, meta.toSeq, rest.toSeq)
    slices.zipWithIndex.foreach { case (slice, i) =>
      val tmp = new Path(d, s".ckpt_part_tmp_$i")
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice, 1), ck.schema)
        .coalesce(1).write.parquet(tmp.toString)
      val written = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.endsWith(".parquet")).get
      fs.rename(written,
        new Path(d, f"${10L}%020d.checkpoint.${i + 1}%010d.$nParts%010d.parquet"))
      fs.delete(tmp, true)
    }
    val hint = new Path(d, "_last_checkpoint")
    val out = fs.create(hint, true)
    out.write("""{"version":10,"parts":3}""".getBytes("UTF-8"))
    out.close()
    fs.delete(single, false)
    // parted discovery serves the exact table state
    assert(sortedRows(DeltaLog.read(spark, dir)) == expect)
    // log-cleaned table (JSON 0..9 gone): ONLY the parted checkpoint
    // can seed the replay — still exact
    (0L to 9L).foreach(v => fs.delete(new Path(d, f"$v%020d.json"), false))
    assert(sortedRows(DeltaLog.read(spark, dir)) == expect)
    // a missing part = stale hint: on the log-cleaned table that is
    // unreadable (no silent partial state) …
    val part2 = new Path(d, f"${10L}%020d.checkpoint.${2}%010d.$nParts%010d.parquet")
    val bak = new Path(d, ".part2.bak")
    fs.rename(part2, bak)
    intercept[IllegalArgumentException] { DeltaLog.read(spark, dir) }
    fs.rename(bak, part2)
    assert(sortedRows(DeltaLog.read(spark, dir)) == expect)
  }

  test("DeltaLog.read/readVersion (library reader) agree with TxnLog and the replay") {
    val dir = tempDir("graft_delta_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)),
      dir, Some("part"))
    CdcSink.merge(spark, changelog(("a", "u", 3, "p1", 9.0)), dir, Some("part"))
    CdcSink.merge(spark, changelog(("c", "c", 4, "p3", 7.0)), dir, Some("part"))
    // latest through the public protocol == graft's own read
    assert(sortedRows(DeltaLog.read(spark, dir)) ==
      sortedRows(CdcSink.read(spark, dir)))
    // every historical version == TxnLog versioned read AND the
    // test-side independent replay
    TxnLog.versions(fs, dir).foreach { v =>
      val lib = DeltaLog.readVersion(spark, dir, v)
      assert(sortedRows(lib) == sortedRows(TxnLog.readVersion(spark, dir, v)),
        s"library delta reader diverges from TxnLog at v$v")
      assert(sortedRows(lib) == sortedRows(readState(replay(dir, v), dir)),
        s"library delta reader diverges from replay at v$v")
    }
  }

  test("foreign PARTITIONED delta table: partition columns materialize from add actions") {
    // Hand-built table the way another engine writes it: data files
    // physically hold only (key, value); the partition column p lives
    // in partitionColumns + each add's partitionValues (incl. a JSON
    // null for the null-partition file).
    val dir = tempDir("foreign_delta_").toString
    def writeFile(name: String, rows: Seq[(String, Double)]): Unit =
      rows.toDF("key", "value").coalesce(1).write.parquet(s"$dir/.stage_$name")
    def promote(name: String): Unit = {
      val staged = fs.listStatus(new Path(s"$dir/.stage_$name"))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(staged, new Path(dir, name))
      fs.delete(new Path(s"$dir/.stage_$name"), true)
    }
    writeFile("f1.parquet", Seq(("a", 1.0), ("b", 2.0))); promote("f1.parquet")
    writeFile("f2.parquet", Seq(("c", 3.0))); promote("f2.parquet")
    writeFile("f3.parquet", Seq(("d", 4.0))); promote("f3.parquet")
    val schemaJson = StructType.fromDDL(
      "key string, value double, p int").json
      .replace("\"", "\\\"")
    val log = new Path(dir, "_delta_log")
    fs.mkdirs(log)
    def writeLog(name: String, lines: Seq[String]): Unit = {
      val out = fs.create(new Path(log, name), true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    writeLog("00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"1"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"p":"2"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"f3.parquet","partitionValues":{"p":null},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val df = DeltaLog.read(spark, dir)
    assert(df.schema.fieldNames.toSeq == Seq("key", "value", "p"))
    assert(df.schema("p").dataType.typeName == "integer")
    val got = df.collect().map(r =>
      (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(got == Set(("a", 1.0, Some(1)), ("b", 2.0, Some(1)),
      ("c", 3.0, Some(2)), ("d", 4.0, None)))
    // a filter on p selects exactly that value's rows, and the scan
    // opens only that value's files: the scan does not re-apply a
    // partition-only filter, so the file index must. (A file count,
    // since inputFiles ignores filters.)
    def filtered(f: Column): (Set[String], Long) = {
      val q = DeltaLog.read(spark, dir).filter(f)
      val keys = q.collect().map(_.getString(0)).toSet
      val scans = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }
      (keys, scans.sum)
    }
    assert(filtered(col("p") === 1) == (Set("a", "b"), 1L))
    assert(filtered(col("p").isNull) == (Set("d"), 1L))
    // a remove in a later version drops its partition's rows
    writeLog("00000000000000000001.json", Seq(
      """{"remove":{"path":"f2.parquet","deletionTimestamp":1,"dataChange":true}}"""))
    assert(DeltaLog.read(spark, dir).filter(col("p") === 2).count() == 0)
    assert(DeltaLog.readVersion(spark, dir, 0).count() == 4)
  }

  test("percent-encoded action paths") {
    // Delta action paths are RFC 2396 percent-encoded: a partition
    // value with a space lives on disk as 'p=a b/…' but in the log
    // as 'p=a%20b/…'.
    assert(DeltaLog.encodePath("p=a b/f.parquet") == "p=a%20b/f.parquet")
    assert(DeltaLog.decodePath("p=a%20b/f.parquet") == "p=a b/f.parquet")
    assert(DeltaLog.decodePath("part-0001.parquet") == "part-0001.parquet")
    val dir = tempDir("foreign_delta_enc_").toString
    def writeFile(rel: String, rows: Seq[(String, Double)]): Unit = {
      val stage = s"$dir/.stage"
      rows.toDF("key", "value").coalesce(1).write.mode("overwrite").parquet(stage)
      val staged = fs.listStatus(new Path(stage))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val target = new Path(dir, rel)
      fs.mkdirs(target.getParent)
      fs.rename(staged, target)
      fs.delete(new Path(stage), true)
    }
    writeFile("p=a b/f1.parquet", Seq(("a", 1.0)))
    writeFile("p=c/f2.parquet", Seq(("b", 2.0)))
    val schemaJson = StructType.fromDDL("key string, value double, p string").json
      .replace("\"", "\\\"")
    val log = new Path(dir, "_delta_log")
    fs.mkdirs(log)
    val out = fs.create(new Path(log, "00000000000000000000.json"), true)
    try out.write(Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t3","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"p=a%20b/f1.parquet","partitionValues":{"p":"a b"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"p=c/f2.parquet","partitionValues":{"p":"c"},"size":1,"modificationTime":0,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    def readSet() = DeltaLog.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    val want = Set(("a", 1.0, "a b"), ("b", 2.0, "c"))
    assert(readSet() == want)
  }

  test("colon in a relative path's first segment stays relative") {
    // 'a:b.parquet' is a legal posix filename; java.net.URI parses it
    // as an opaque URI with scheme 'a' — and encodePath emits exactly
    // that ambiguous form, so a log can carry it raw. Classification
    // must look past mere scheme presence.
    assert(!DeltaLog.isAbsoluteUri("a:b.parquet"))
    assert(!DeltaLog.isAbsoluteUri("./a:b.parquet"))
    assert(DeltaLog.isAbsoluteUri("s3://bucket/key.parquet"))
    assert(DeltaLog.isAbsoluteUri("file:/tmp/x.parquet"))
    assert(DeltaLog.isAbsoluteUri("hdfs://nn:8020/t/x.parquet"))
    // all spellings of the colon-bearing relative name normalize to
    // ONE live-set key, so a remove cancels its add across eras
    assert(DeltaLog.normPath("a:b.parquet") == "a:b.parquet")
    assert(DeltaLog.normPath("./a:b.parquet") == "a:b.parquet")
    assert(DeltaLog.normPath("a%3Ab.parquet") == "a:b.parquet")
    // absolute URIs keep their full form
    assert(DeltaLog.normPath("s3://b/k%20e.parquet") == "s3://b/k%20e.parquet")
    // plain names remain fixpoints
    assert(DeltaLog.normPath("part-0001.parquet") == "part-0001.parquet")
    assert(DeltaLog.decodePath("p=a%20b/f.parquet") == "p=a b/f.parquet")
    // end-to-end: the live-set COLLISION is what the fix buys — a
    // remove logged as 'a%3Ab.parquet' must cancel an add logged raw
    // as 'a:b.parquet' (different eras, same file), leaving the table
    // empty without ever touching the data file. (Actually READING a
    // colon-named local file is blocked one layer down: Hadoop's
    // ChecksumFileSystem builds the '.a:b.parquet.crc' sibling with
    // Path(parent, child), which re-parses 'a' as a scheme —
    // HADOOP-14829 — so the misclassified-as-absolute bug could never
    // even reach the filesystem error before this fix.)
    val dir = tempDir("foreign_delta_colon_").toString
    val schemaJson = StructType.fromDDL("key string, value double").json
      .replace("\"", "\\\"")
    val log = new Path(dir, "_delta_log")
    fs.mkdirs(log)
    val out = fs.create(new Path(log, "00000000000000000000.json"), true)
    try out.write(Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t4","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"a:b.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"remove":{"path":"a%3Ab.parquet","deletionTimestamp":1,"dataChange":true}}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    assert(DeltaLog.read(spark, dir).collect().isEmpty,
      "encoded remove failed to cancel the raw colon-path add")
  }

  test("foreign partitioned table via CHECKPOINT discovery (partitionValues in parquet)") {
    // Same foreign-partitioned shape, but state discovered through a
    // checkpoint parquet + _last_checkpoint. The v0 JSON deliberately
    // lists an extra nonexistent file: a reader honoring the
    // checkpoint starts AFTER it and never sees that add — reading
    // correct rows proves the checkpoint branch (incl. its
    // partitionValues decode) was taken, not the JSON replay.
    val dir = tempDir("foreign_delta_ck_").toString
    def writeFile(name: String, rows: Seq[(String, Double)]): Unit = {
      rows.toDF("key", "value").coalesce(1).write.parquet(s"$dir/.stage_$name")
      val staged = fs.listStatus(new Path(s"$dir/.stage_$name"))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(staged, new Path(dir, name))
      fs.delete(new Path(s"$dir/.stage_$name"), true)
    }
    writeFile("f1.parquet", Seq(("a", 1.0)))
    writeFile("f2.parquet", Seq(("b", 2.0)))
    val schemaJson = StructType.fromDDL("key string, value double, p int").json
    val log = new Path(dir, "_delta_log")
    fs.mkdirs(log)
    def put(name: String, body: String): Unit = {
      val out = fs.create(new Path(log, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    put("00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t2","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{},"createdTime":0}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"1"},"size":1,"modificationTime":0,"dataChange":true}}""",
      """{"add":{"path":"MISSING.parquet","partitionValues":{"p":"9"},"size":1,"modificationTime":0,"dataChange":true}}"""
    ).mkString("", "\n", "\n"))
    put("00000000000000000001.json", Seq(
      """{"remove":{"path":"MISSING.parquet","deletionTimestamp":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"p":"2"},"size":1,"modificationTime":0,"dataChange":true}}"""
    ).mkString("", "\n", "\n"))
    // checkpoint at v1 = exactly the correct live state
    import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, MapType, StringType, StructField}
    val ckSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val ckRows = Seq(
      org.apache.spark.sql.Row(org.apache.spark.sql.Row(1, 2), null, null),
      org.apache.spark.sql.Row(null,
        org.apache.spark.sql.Row("t2", schemaJson, Seq("p"), 0L), null),
      org.apache.spark.sql.Row(null, null,
        org.apache.spark.sql.Row("f1.parquet", Map("p" -> "1"), 1L, 0L, false)),
      org.apache.spark.sql.Row(null, null,
        org.apache.spark.sql.Row("f2.parquet", Map("p" -> "2"), 1L, 0L, false)))
    val tmpCk = new Path(log, ".ck-tmp")
    spark.createDataFrame(
        spark.sparkContext.parallelize(ckRows, 1), ckSchema)
      .coalesce(1).write.parquet(tmpCk.toString)
    val part = fs.listStatus(tmpCk).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(log, "00000000000000000001.checkpoint.parquet"))
    fs.delete(tmpCk, true)
    put("_last_checkpoint", """{"version":1,"size":4}""")
    val got = DeltaLog.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
    assert(got == Set(("a", 1.0, 1), ("b", 2.0, 2)))
  }

  test("a file missing behind the log raises from both readers, naming the file") {
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val dir = tempDir("graft_delta_missing_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("b", "c", 2, "p2", 2.0)), dir, Some("part"))
    val v1 = TxnLog.current(fs, dir).get
    // a compaction rewrites every file, so vacuum removes v1's commit dir
    CdcSink.compact(spark, dir, Some("part"))
    TxnLog.vacuum(fs, dir)
    val vacuumed = new Path(dir, v1.entries.head.path)
    assert(!fs.exists(vacuumed))
    val travel = intercept[Exception](DeltaLog.readVersion(spark, dir, v1.version).collect())
    assert(messages(travel).contains(vacuumed.getName), messages(travel))
    // a live file deleted behind the log: the sink's read, which takes
    // each file's size from the log, raises when the scan opens it
    val live = new Path(dir, TxnLog.current(fs, dir).get.entries.head.path)
    fs.delete(live, false)
    val read = intercept[Exception](CdcSink.read(spark, dir).collect())
    assert(messages(read).contains(live.getName), messages(read))
  }

  test("add actions carry public-format stats (numRecords + key min/max)") {
    implicit val fmt: Formats = DefaultFormats
    // string keys → minValues/maxValues as JSON strings
    val dir = tempDir("graft_delta_stats_").toString
    CdcSink.writeSnapshot(
      changelog(("a", "c", 1, "p1", 1.0), ("m", "c", 2, "p1", 2.0),
        ("z", "c", 3, "p2", 3.0)), dir)
    val adds = readJsonActions(
      new Path(new Path(dir, "_delta_log"), f"${1L}%020d.json"))
      .map(_ \ "add").filter(_ != JNothing)
    assert(adds.nonEmpty)
    val stats = adds.map { a =>
      val s = (a \ "stats") match {
        case JString(s) => s
        case other => fail(s"add without stats string: $other")
      }
      JsonMethods.parse(s)
    }
    assert(stats.map(s => (s \ "numRecords").extract[Long]).sum == 3L)
    val mins = stats.map(s => (s \ "minValues" \ "key").extract[String])
    val maxs = stats.map(s => (s \ "maxValues" \ "key").extract[String])
    assert(mins.min == "a" && maxs.max == "z")

    // numeric keys → stats values as JSON numbers, not strings
    val dirN = tempDir("graft_delta_statsn_").toString
    CdcSink.writeSnapshot(
      Seq((7, "c", 1L, 1.0), (1900, "c", 2L, 2.0))
        .toDF("key", "op", "offset", "value")
        .withColumn("source_file", lit("bin.1")), dirN)
    val addsN = readJsonActions(
      new Path(new Path(dirN, "_delta_log"), f"${1L}%020d.json"))
      .map(_ \ "add").filter(_ != JNothing)
    val minsN = addsN.flatMap { a =>
      (a \ "stats") match {
        case JString(s) =>
          (JsonMethods.parse(s) \ "minValues" \ "key") match {
            case JInt(v) => Some(v.toLong)
            case other => fail(s"numeric key min not a JSON number: $other")
          }
        case _ => None
      }
    }
    assert(minsN.min == 7L, "a string-typed stat would sort '1900' < '7'")
  }

  test("vacuum keeps the delta log; current version stays readable through it") {
    val dir = tempDir("graft_delta_").toString
    CdcSink.writeSnapshot(changelog(("a", "c", 1, "p1", 1.0)), dir, Some("part"))
    CdcSink.merge(spark, changelog(("a", "u", 2, "p1", 5.0)), dir, Some("part"))
    TxnLog.vacuum(fs, dir)
    val (latest, st) = discoverLatest(dir)
    assert(sortedRows(readState(st, dir)) ==
      sortedRows(CdcSink.read(spark, dir)))
    assert(latest == TxnLog.versions(fs, dir).max)
  }
}
