package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.binlog.{BinlogParser, BinlogSource}

/** Parser + DSv2 source validated against the repo's binlog
  * fixtures: the test resources `binlog/events/<fixture>/<file>`,
  * eight MySQL 8.0.21 binlogs (CRC32 trailers) each beside the
  * `sql.sql` it logs, written by
  * [[graft.sources.binlog.BinlogGen.writeReferenceFixtures]].
  * Fixture names and value assertions follow rust-cdc's
  * tests/test.rs; literals that encode the fixtures' exact bytes
  * (event counts, content hashes, log positions) derive from the
  * parser-independent declaration in [[BinlogFixtureTable]].
  */
class BinlogSpec extends AnyFunSuite with SharedSpark {

  private val fixtures = java.nio.file.Paths.get(
    getClass.getResource("/binlog/events").toURI).toString

  private def parse(rel: String): Seq[BinlogParser.Decoded] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fixtures/$rel"))
    BinlogParser.parseFile(bytes)
  }

  test("format_description: binlog v4, server 8.0.21, CRC32") {
    val events = parse("15_format_desc/binlog.000002")
    val fde = events.find(_.typeName == "FORMAT_DESCRIPTION").get
    assert(fde.query.contains("binlog_v4"))
    assert(fde.query.contains("8.0.21"))
  }

  test("query events: DDL text round-trips") {
    val events = parse("query/mysql-bin.000001")
    val queries = events.filter(_.typeName == "QUERY")
    assert(queries.exists(q => q.query != null &&
      q.query.contains("DROP TABLE IF EXISTS `rustcdc`")))
    assert(queries.exists(q => q.query != null && q.query.contains("CREATE TABLE")))
    assert(queries.forall(_.schemaName == "rustcdc"))
  }

  test("xid event: xid = 852 (reference test_xid)") {
    val events = parse("16_xid/binlog.000002")
    assert(events.exists(e => e.typeName == "XID" && e.xid == 852L))
  }

  test("table_map: table_id 71, rustcdc.rustcdc, [Long, VarChar(160)] (reference test_table_map)") {
    val events = parse("19_table_map/mysql-bin.000002")
    val tm = events.filter(_.typeName == "TABLE_MAP").last
    assert(tm.tableId == 71)
    assert(tm.schemaName == "rustcdc" && tm.tableName == "rustcdc")
  }

  test("write_rows_v2: row (1, \"cdc-1\") at table 71 (reference test_write_rows_v2)") {
    val events = parse("30_write_rows_v2/mysql-bin.000002")
    val w = events.filter(_.typeName == "WRITE_ROWS_V2")
    assert(w.nonEmpty)
    val row = w.find(_.tableId == 71).get
    assert(row.op == "c")
    assert(row.after == """{"col_0":1,"col_1":"cdc-1"}""", row.after)
    assert(row.before == null)
  }

  test("update_rows_v2: before abc/1.0/2.0/3.0000 → after xd/4.0 (reference test_update_rows_v2)") {
    val events = parse("31_update_rows_v2/mysql-bin.000001")
    val u = events.filter(e => e.typeName == "UPDATE_ROWS_V2" && e.op == "u")
    assert(u.nonEmpty)
    val row = u.head
    assert(row.before.contains("\"col_1\":\"abc\""), row.before)
    assert(row.before.contains("\"col_6\":1"), row.before)   // float 1.0
    assert(row.before.contains("\"col_7\":2"), row.before)   // double 2.0
    assert(row.before.contains("\"col_8\":\"3.0000\""), row.before) // decimal(10,4)
    assert(row.after.contains("\"col_1\":\"xd\""), row.after)
    assert(row.after.contains("\"col_8\":\"4.0000\""), row.after)
  }

  test("delete_rows_v2: deletes the inserted row (reference fixture)") {
    val events = parse("32_delete_rows_v2/mysql-bin.000001")
    val d = events.filter(_.typeName == "DELETE_ROWS_V2")
    assert(d.nonEmpty)
    assert(d.head.op == "d")
    assert(d.head.before != null && d.head.after == null)
    assert(d.head.before.contains("\"col_1\":\"abcde\""), d.head.before)
  }

  test("DSv2 column pruning reaches the binlog scan") {
    val df = BinlogSource.events(spark, s"$fixtures/30_write_rows_v2/*")
      .select("event_type", "xid")
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("event_type"), scanLine)
    assert(!scanLine.contains("next_binlog"), scanLine)
    // pruned read still returns correct values
    assert(df.filter(col("xid") > 0).count() > 0)
    // count(*) over an empty projection still works
    assert(BinlogSource.events(spark, s"$fixtures/30_write_rows_v2/*").count() > 0)
  }

  test("DSv2 filter pushdown drops events at the reader") {
    val base = BinlogSource.events(spark, s"$fixtures/30_write_rows_v2/*")
    val filtered = base.filter(col("event_type") === "WRITE_ROWS_V2")
    val plan = filtered.queryExecution.executedPlan.toString
    // the pushed filter shows on the scan and results stay correct
    assert(filtered.count() == base.filter(col("event_type") === "WRITE_ROWS_V2").collect().length)
    val rows = filtered.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("event_type") == "WRITE_ROWS_V2"))
    // non-pushable predicates still work via Spark-side residual
    assert(base.filter(col("xid") === 852L || col("xid") > 0).count() >= 0)
    // IN-list pushdown
    val in2 = base.filter(col("event_type").isin("XID", "QUERY")).collect()
    assert(in2.forall(r => Set("XID", "QUERY")(r.getAs[String]("event_type"))))
    assert(in2.nonEmpty)
  }

  test("subscribe.* source options drop foreign tables at the reader, keep control events") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_sub_")
    BinlogGen.writeRoutedFile(dir.resolve("mysql-bin.000001").toString,
      Seq(70L -> "t_a", 71L -> "t_b", 72L -> "t_c"),
      firstTxn = 0L, nTxns = 9, rowsPerTxn = 2)
    def read(opts: (String, String)*) = {
      var r = spark.read.format("binlog")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(s"$dir/*").collect()
    }
    val all = read()
    val sub = read("subscribe.databases" -> "gen", "subscribe.tables" -> "t_a,t_b")
    // foreign table's events (TABLE_MAP + rows) dropped at the reader
    val subTables = sub.flatMap(r => Option(r.getAs[String]("table_name"))).toSet
    assert(subTables == Set("t_a", "t_b"), subTables)
    // control events (XID — no table) always pass: one per txn
    assert(sub.count(_.getAs[String]("event_type") == "XID") == 9)
    // subscription equals the post-hoc filter on the table events
    val expected = all.filter { r =>
      val t = r.getAs[String]("table_name"); t == null || t == "t_a" || t == "t_b"
    }.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("log_pos"))).toSet
    assert(sub.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("log_pos"))).toSet
      == expected)
    // '*' and absent behave the same: everything
    assert(read("subscribe.tables" -> "*").length == all.length)
    // streaming path gets the same reader-level subscription (no
    // Catalyst pushdown exists for streaming DSv2 scans)
    val qn = s"binlog_sub_stream_${System.nanoTime()}"
    val q = spark.readStream.format("binlog")
      .option("subscribe.tables", "t_c")
      .load(s"$dir/*")
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        tempDir("binlog_sub_ckpt_").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val st = spark.table(qn).collect()
    assert(st.flatMap(r => Option(r.getAs[String]("table_name"))).toSet == Set("t_c"))
    assert(st.count(_.getAs[String]("event_type") == "XID") == 9)
    // wildcard PATTERNS are rejected loudly, not silently unmatched
    intercept[Exception] { read("subscribe.tables" -> "t_*") }
  }

  test("MatchStrategy subscription pushes In/StartsWith to the binlog scan") {
    import graft.cdc.MatchStrategy
    // finite + prefix patterns compile to a pushable Or tree on the
    // raw schema/table columns — semantics must equal the rlike form
    val base = BinlogSource.events(spark, s"$fixtures/*/*")
    val sub = base.filter(MatchStrategy.matchesCols(
      col("schema_name"), col("table_name"), Seq("rustcdc"), Seq("rust*", "other")))
    val viaRegex = base.filter(MatchStrategy.matches(
      concat(col("schema_name"), lit("."), col("table_name")),
      Seq("rustcdc"), Seq("rust*", "other")))
    val got = sub.select("event_type", "log_pos").collect().toSet
    assert(got.nonEmpty)
    assert(got == viaRegex.select("event_type", "log_pos").collect().toSet)
    // the subscription reached the reader as pushed filters
    val plan = sub.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val pushed = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case sc: graft.sources.binlog.BinlogScan => sc.pushedDown }
      .flatten.map(_.toString).mkString(";")
    assert(pushed.contains("schema_name"), pushed)
    assert(pushed.contains("StringStartsWith(table_name,rust)"), pushed)
    assert(pushed.contains("EqualTo(table_name,other)") ||
      pushed.contains("In(table_name"), pushed)
    // the parser-level gate skips row decode for non-matching tables:
    // subscribing to a table that is NOT in the fixtures yields zero
    // row events even though the files contain rows events
    val none = base.filter(MatchStrategy.matchesCols(
      col("schema_name"), col("table_name"), Seq("rustcdc"), Seq("absent")))
      .filter(col("op").isNotNull)
    assert(none.count() == 0)
    // complex patterns (inner wildcard) stay correct via the residual.
    // Compare on row events only: a match-all table list under
    // matchesCols admits null table_name (per-column semantics),
    // while the concat form nulls the whole qualified string.
    val rowsOnly = col("op").isNotNull
    val complexSub = base.filter(MatchStrategy.matchesCols(
      col("schema_name"), col("table_name"), Seq("rust*dc"), Seq("*")))
      .filter(rowsOnly)
    val complexRegex = base.filter(MatchStrategy.matches(
      concat(col("schema_name"), lit("."), col("table_name")),
      Seq("rust*dc"), Seq("*")))
      .filter(rowsOnly)
    assert(complexSub.count() == complexRegex.count() && complexSub.count() > 0)
  }

  test("generator round-trip: written binlog parses back exactly") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_gen_")
    val f = dir.resolve("mysql-bin.000001").toString
    BinlogGen.writeFile(f, nRows = 1234, rowsPerEvent = 100)
    val events = BinlogParser.parseFile(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    val writes = events.filter(_.typeName == "WRITE_ROWS_V2")
    assert(writes.length == 1234)
    assert(writes.forall(_.tableName == "gen"))
    assert(writes.head.after == """{"col_0":1,"col_1":"row-1"}""", writes.head.after)
    assert(writes.last.after == """{"col_0":1234,"col_1":"row-1234"}""", writes.last.after)
    assert(events.count(_.typeName == "XID") == 13) // one per event batch
    assert(!events.exists(_.typeName.startsWith("CORRUPT")))
    // and through the DSv2 source + CDC apply
    val df = BinlogSource.events(spark, dir.toString)
    assert(df.filter(col("op") === "c").count() == 1234)
  }

  test("randomized round-trip: 30 seeded shapes parse back exactly") {
    import graft.sources.binlog.BinlogGen
    val rnd = new scala.util.Random(20260812L) // fixed seed: deterministic
    val dir = tempDir("binlog_fuzz_")
    (1 to 30).foreach { i =>
      val nRows = 1 + rnd.nextInt(500)
      val perEvent = 1 + rnd.nextInt(nRows)
      val f = dir.resolve(f"mysql-bin.$i%06d").toString
      BinlogGen.writeFile(f, nRows, perEvent)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      val events = BinlogParser.parseFile(bytes)
      val writes = events.filter(_.typeName == "WRITE_ROWS_V2")
      assert(writes.length == nRows, s"shape $i: $nRows rows @ $perEvent/event")
      assert(writes.map(_.after).distinct.length == nRows) // every row distinct
      assert(events.count(_.typeName == "XID") ==
        (nRows + perEvent - 1) / perEvent)
      assert(!events.exists(_.typeName.startsWith("CORRUPT")))
      // arbitrary truncation never crashes and never fabricates rows
      val cut = 20 + rnd.nextInt(math.max(bytes.length - 20, 1))
      val partial = BinlogParser.parseFile(bytes.take(cut))
      assert(partial.count(_.typeName == "WRITE_ROWS_V2") <= nRows)
    }
  }

  test("DSv2 reader: early termination (limit) closes the stream cleanly") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_limit_")
    BinlogGen.writeFile(dir.resolve("mysql-bin.000001").toString, 5000, 50)
    // limit(1) stops the scan long before the file is exhausted —
    // the streaming reader must hand resource cleanup to close()
    // without erroring, and a follow-up full read must see fresh,
    // complete state (no shared-stream leakage between tasks)
    val one = spark.read.format("binlog").load(dir.toString).limit(1).collect()
    assert(one.length == 1)
    val full = spark.read.format("binlog").load(dir.toString)
      .where(col("event_type") === "WRITE_ROWS_V2").count()
    assert(full == 5000L)
  }

  test("parseStream: chunk-starved stream decodes identically to parseFile") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_stream_")
    val f = dir.resolve("mysql-bin.000001").toString
    BinlogGen.writeFile(f, 200, rowsPerEvent = 7)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    // a stream that returns 1-3 bytes per read: readFully must loop,
    // and every header/body boundary lands mid-read at least once
    class Dribble(b: Array[Byte]) extends java.io.InputStream {
      private var pos = 0
      override def read(): Int =
        if (pos >= b.length) -1 else { val v = b(pos) & 0xff; pos += 1; v }
      override def read(dst: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= b.length) return -1
        val n = math.min(1 + pos % 3, math.min(len, b.length - pos))
        System.arraycopy(b, pos, dst, off, n); pos += n; n
      }
    }
    val streamed = BinlogParser.parseStream(new Dribble(bytes)).toSeq
    val whole = BinlogParser.parseFile(bytes)
    assert(streamed == whole)
    assert(streamed.count(_.typeName == "WRITE_ROWS_V2") == 200)
    // truncated mid-body: the intact prefix, never a crash
    val cut = bytes.length - 13
    val partial = BinlogParser.parseStream(
      new Dribble(bytes.take(cut))).toSeq
    assert(partial == BinlogParser.parseFile(bytes.take(cut)))
    // bad magic throws (the DSv2 reader checks magic before calling)
    intercept[IllegalArgumentException] {
      BinlogParser.parseStream(
        new java.io.ByteArrayInputStream("nope".getBytes))
    }
  }

  test("parseStream: hostile event headers stop at the intact prefix") {
    // a corrupt header's declared size must not be trusted: above
    // MySQL's 1 GiB event ceiling → truncated tail; under it but the
    // stream ends first → truncated tail. Neither crashes, neither
    // fabricates events, and (structurally, via the probe read)
    // neither allocates the declared size up front.
    def hdr(eventSize: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(19)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(1700000000)              // timestamp
      b.put(0x02.toByte)                // QUERY
      b.putInt(1)                       // server_id
      b.putInt((eventSize & 0xffffffffL).toInt)
      b.putInt(0)                       // log_pos
      b.putShort(0)                     // flags
      b.array()
    }
    def stream(declared: Long, bodyBytes: Int) =
      new java.io.ByteArrayInputStream(
        BinlogParser.Magic ++ hdr(declared) ++ new Array[Byte](bodyBytes))
    // 2 GiB declared: above MaxEventSize — rejected before any read
    assert(BinlogParser.parseStream(stream(2L << 30, 100)).toSeq.isEmpty)
    // 900 MiB declared, 100 bytes present: probe read hits EOF
    assert(BinlogParser.parseStream(stream(900L << 20, 100)).toSeq.isEmpty)
    // ...and 2 MiB present (a full probe chunk, then EOF mid-commit)
    assert(BinlogParser.parseStream(stream(900L << 20, 2 << 20)).toSeq.isEmpty)
    // an intact event BEFORE the hostile header still parses
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_hostile_")
    val f = dir.resolve("mysql-bin.000001").toString
    BinlogGen.writeFile(f, 3, rowsPerEvent = 1)
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val poisoned = good ++ hdr(2L << 30) ++ new Array[Byte](64)
    assert(BinlogParser.parseStream(
      new java.io.ByteArrayInputStream(poisoned)).toSeq ==
      BinlogParser.parseFile(good))
  }

  test("typed round-trip: BIT/ENUM/SET/DATE decode without misalignment") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_typed_")
    val f = dir.resolve("mysql-bin.000001").toString
    BinlogGen.writeTypedFile(f, n = 300)
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    val writes = events.filter(_.typeName == "WRITE_ROWS_V2")
    assert(writes.length == 300)
    assert(!events.exists(_.typeName.startsWith("CORRUPT")))
    // row i=1: INT 1, BIT(9) 0x0001, ENUM 2, SET 1, DATE 2024-02-02
    assert(writes.head.after ==
      """{"col_0":1,"col_1":"0x0001","col_2":2,"col_3":1,"col_4":"2024-02-02"}""",
      writes.head.after)
    // row i=300: BIT(9) carries the 9th bit (300 = 0x12c)
    assert(writes.last.after.contains("\"col_1\":\"0x012c\""), writes.last.after)
    assert(writes.last.after.contains("\"col_0\":300"), writes.last.after)
  }

  test("temporal2 fractions, JSON/GEOMETRY payloads, legacy temporals decode exactly") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_temporal_")
    val f = dir.resolve("mysql-bin.000001").toString
    BinlogGen.writeTemporalFile(f, n = 5)
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
    assert(!events.exists(_.typeName.startsWith("CORRUPT")))
    val writes = events.filter(_.typeName == "WRITE_ROWS_V2")
    assert(writes.length == 5)
    assert(writes.head.after ==
      """{"col_0":1,"col_1":"2024-01-02 03:04:05.678","col_2":1700000000.25,""" +
      """"col_3":"12:34:56","col_4":"0x0102",""" +
      """"col_5":"0x0101000000000000000000f03f0000000000000040",""" +
      """"col_6":"09:34:56","col_7":"2024-01-02 03:04:05",""" +
      """"col_8":"-01:00:00","col_9":0}""",
      writes.head.after)
    // all 5 rows decode identically except the id — no misalignment drift
    assert(writes.last.after.contains("\"col_0\":5"))
    assert(writes.last.after.endsWith(writes.head.after.dropWhile(_ != ',')))
  }

  test("truncated binlog parses the intact prefix without crashing") {
    val full = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/30_write_rows_v2/mysql-bin.000002"))
    val whole = BinlogParser.parseFile(full)
    // chop mid-event: everything before the cut still decodes
    val truncated = BinlogParser.parseFile(full.take(full.length - 37))
    assert(truncated.nonEmpty)
    assert(truncated.size < whole.size)
    assert(truncated.forall(e => !e.typeName.startsWith("CORRUPT")))
  }

  test("user_var round-trip: string/int/real/null values decode") {
    val dir = tempDir("graft_uservar_")
    val path = s"$dir/mysql-bin.000001"
    graft.sources.binlog.BinlogGen.writeUserVarFile(path, Seq(
      "greeting" -> Some("hello world"),
      "answer" -> Some(42L),
      "pi" -> Some(3.5),
      "nothing" -> None))
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val uv = events.filter(_.typeName == "USER_VAR").map(_.query)
    assert(uv == Seq("@greeting=hello world", "@answer=42", "@pi=3.5", "@nothing=NULL"), uv)
  }

  test("latin1 charset metadata: non-ASCII bytes round-trip, v1 events named") {
    val dir = tempDir("graft_latin1_")
    val path = s"$dir/mysql-bin.000001"
    // café/München carry latin1 bytes (0xE9, 0xFC) that are NOT valid
    // UTF-8 sequences — a UTF-8-assuming decoder garbles them
    graft.sources.binlog.BinlogGen.writeCharsetFile(path,
      Seq("café", "München", "plain"))
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val rows = events.filter(_.op == "c").map(_.after)
    // the last row arrives through a WRITE_ROWS_V1 event — its image
    // decodes through the same path, latin1 charset metadata applied
    assert(rows == Seq(
      """{"col_0":1,"col_1":"café"}""",
      """{"col_0":2,"col_1":"München"}""",
      """{"col_0":3,"col_1":"plain"}""",
      """{"col_0":4,"col_1":"v1-æé"}"""), rows.toString)
    assert(events.exists(_.typeName == "WRITE_ROWS_V1"))
    assert(!events.exists(_.typeName.startsWith("UNKNOWN")))
  }

  test("jsonb decode: hand-laid-out small object and array bytes") {
    // {"a":1,"b":"x"} — offsets computed by hand from the public
    // layout (count/size u16, key entries, value entries, keys,
    // spilled values), NOT produced by the BinlogGen encoder, so an
    // encoder/decoder shared misunderstanding cannot pass this
    val obj = Array(
      0x00, 0x02, 0x00, 0x16, 0x00, // small object, count 2, size 22
      0x12, 0x00, 0x01, 0x00, // key "a" at offset 18, len 1
      0x13, 0x00, 0x01, 0x00, // key "b" at offset 19, len 1
      0x05, 0x01, 0x00, // value int16 1 (inlined)
      0x0c, 0x14, 0x00, // value string at offset 20
      0x61, 0x62, // "a","b"
      0x01, 0x78 // varlen 1, "x"
    ).map(_.toByte)
    assert(graft.sources.binlog.Jsonb.decode(obj).contains("""{"a":1,"b":"x"}"""))
    // [true, null, 300, "hi", 1.5]
    val arr = (Array(
      0x02, 0x05, 0x00, 0x1e, 0x00, // small array, count 5, size 30
      0x04, 0x01, 0x00, 0x04, 0x00, 0x00, // true, null (inlined literals)
      0x05, 0x2c, 0x01, // int16 300 inlined
      0x0c, 0x13, 0x00, // string at offset 19
      0x0b, 0x16, 0x00, // double at offset 22
      0x02, 0x68, 0x69) // varlen 2, "hi"
      ).map(_.toByte) ++
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(java.lang.Double.doubleToLongBits(1.5)).array()
    assert(graft.sources.binlog.Jsonb.decode(arr)
      .contains("""[true,null,300,"hi",1.5]"""))
    // integral doubles keep MySQL's "N.0" JSON text form — the
    // double-vs-int distinction survives the decode
    val arr2 = (Array(
      0x02, 0x01, 0x00, 0x0f, 0x00, // small array, count 1, size 15
      0x0b, 0x07, 0x00) // double at offset 7
      ).map(_.toByte) ++
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(java.lang.Double.doubleToLongBits(2.0)).array()
    assert(graft.sources.binlog.Jsonb.decode(arr2).contains("[2.0]"))
    // malformed payloads (the old fixtures' opaque 0x0102 is a
    // truncated large-object header) must return None, never throw
    assert(graft.sources.binlog.Jsonb.decode(Array(0x01, 0x02).map(_.toByte)).isEmpty)
    assert(graft.sources.binlog.Jsonb.decode(Array.empty[Byte]).isEmpty)
    assert(graft.sources.binlog.Jsonb.decode(Array(0x0c, 0x7f).map(_.toByte)).isEmpty)
  }

  test("json columns decode JSONB payloads to queryable JSON text") {
    import scala.collection.immutable.ListMap
    val dir = tempDir("graft_jsonb_")
    val path = s"$dir/mysql-bin.000001"
    graft.sources.binlog.BinlogGen.writeJsonFile(path, Seq(
      ListMap("id" -> 7, "name" -> "café", "tags" -> Seq("a", "b"),
        "score" -> 2.25, "active" -> true, "note" -> null),
      Seq(1, 2, ListMap("deep" -> ListMap("x" -> -32768))),
      "top-level string",
      42,
      ListMap("big" -> 9007199254740993L, "wide" -> 123456789)))
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val rows = events.filter(_.op == "c").map(_.after)
    assert(rows == Seq(
      """{"col_0":1,"col_1":{"id":7,"name":"café","tags":["a","b"],"score":2.25,"active":true,"note":null}}""",
      """{"col_0":2,"col_1":[1,2,{"deep":{"x":-32768}}]}""",
      """{"col_0":3,"col_1":"top-level string"}""",
      """{"col_0":4,"col_1":42}""",
      """{"col_0":5,"col_1":{"big":9007199254740993,"wide":123456789}}"""),
      rows.mkString("\n"))
    // and the decoded text is directly queryable Spark-side
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("after",
          org.apache.spark.sql.types.StringType))))
    import org.apache.spark.sql.functions._
    val names = df.select(get_json_object(col("after"), "$.col_1.name").as("n"))
      .collect().map(_.getString(0))
    assert(names.contains("café"))
  }

  test("v1 rows events decode row images byte-identically to v2") {
    val dir = tempDir("graft_v1rows_")
    graft.sources.binlog.BinlogGen.writeV1File(s"$dir/v1-bin.000001", 25)
    graft.sources.binlog.BinlogGen.writeV2TwinFile(s"$dir/v2-bin.000001", 25)
    def rowsOf(p: String) = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      .filter(_.op != null)
      .map(e => (e.typeName.stripSuffix("_V1").stripSuffix("_V2"),
        e.op, e.rowIndex, e.before, e.after))
    val v1 = rowsOf(s"$dir/v1-bin.000001")
    val v2 = rowsOf(s"$dir/v2-bin.000001")
    assert(v1.nonEmpty && v1.size == 75) // 25 writes + 25 updates + 25 deletes
    assert(v1 == v2, s"v1 decode diverged from v2:\n${v1.take(3)}\n${v2.take(3)}")
    // update images carry distinct before/after
    val u = v1.filter(_._2 == "u")
    assert(u.forall { case (_, _, _, b, a) =>
      b.contains("row-") && a.contains("upd-") })
    // version suffix is preserved in the type names themselves
    val v1Names = BinlogParser.parseFile(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v1-bin.000001"))).map(_.typeName).distinct
    assert(Seq("WRITE_ROWS_V1", "UPDATE_ROWS_V1", "DELETE_ROWS_V1")
      .forall(v1Names.contains), v1Names.toString)
  }

  test("gbk + utf16 charset metadata: CJK and fixed-width columns round-trip") {
    val dir = tempDir("graft_cjk_")
    val path = s"$dir/mysql-bin.000001"
    // GBK bytes for 数据库 (0xCA/0xFD/0xBE/0xDD/0xBF/0xE2) are not
    // valid UTF-8; UTF-16BE has NUL high bytes that a UTF-8 decode
    // would splice through — both mojibake without the collation map
    val gbkNames = Seq("数据库", "变更数据", "ascii too")
    // the 140-char name encodes to 280 UTF-16BE bytes — longer than
    // one byte can express, so it genuinely requires the 2-byte
    // value length prefix the utf16 column's meta (640 > 255) selects
    val utf16Names = Seq("résumé", "データ", "plain", "デ" * 140)
    graft.sources.binlog.BinlogGen.writeCjkCharsetFile(path, gbkNames, utf16Names)
    val events = BinlogParser.parseFile(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val byTable = events.filter(_.op == "c").groupBy(_.tableName)
    assert(byTable("gbk").map(_.after) == gbkNames.zipWithIndex.map {
      case (n, i) => s"""{"col_0":${i + 1},"col_1":"$n"}""" }, byTable("gbk").toString)
    assert(byTable("utf16").map(_.after) == utf16Names.zipWithIndex.map {
      case (n, i) => s"""{"col_0":${i + 1},"col_1":"$n"}""" }, byTable("utf16").toString)
  }

  test("gtid + previous_gtids parse") {
    val events = parse("gtid_prev_gtid/mysql-bin.000001")
    assert(events.exists(e => e.typeName == "PREVIOUS_GTIDS"))
    assert(events.exists(e =>
      (e.typeName == "GTID" || e.typeName == "ANONYMOUS_GTID") && e.gtid != null))
  }

  test("fromBinlog: typed Dataset[ChangeEvent] feeds CdcApply directly") {
    import graft.api._
    val ds = BinlogSource.events(spark, s"$fixtures/30_write_rows_v2/*").asChangeEvents()
    val evs = ds.collect()
    assert(evs.nonEmpty)
    val e = evs.find(_.key == "1").get
    assert(e.op == "c")
    assert(e.table == "rustcdc.rustcdc")
    assert(e.after.exists(_.contains("cdc-1")) && e.before.isEmpty)
    assert(e.offset > 0 && e.sourceFile.nonEmpty)
    // the typed changelog drops straight into the batch materializer
    val snap = graft.cdc.CdcApply.snapshot(ds.toDF(), keyCols = Seq("table", "key"))
    assert(snap.count() == evs.map(_.key).distinct.length)
  }

  test("end-to-end CDC: binlog fixtures → changelog → sink snapshot") {
    // 32_delete fixture: INSERT (1,'abcde') then DELETE where 1=1 —
    // the materialized snapshot for that table must be EMPTY.
    val delEvents = BinlogSource.events(spark, s"$fixtures/32_delete_rows_v2/*")
      .filter(col("op").isNotNull)
      .select(col("table_name").as("table"), col("op"),
        get_json_object(coalesce(col("after"), col("before")), "$.col_0").as("key"),
        col("log_pos").as("offset"),
        get_json_object(coalesce(col("after"), col("before")), "$.col_1").as("title"))
    val delDir = tempDir("binlog_e2e_del_").toString
    graft.cdc.CdcSink.writeSnapshot(delEvents, delDir)
    assert(graft.cdc.CdcSink.read(spark, delDir).count() == 0,
      "deleted row survived the snapshot")

    // 30_write fixture: two INSERTs land; snapshot holds both rows
    val insEvents = BinlogSource.events(spark, s"$fixtures/30_write_rows_v2/*")
      .filter(col("op").isNotNull && col("table_name") === "rustcdc")
      .select(col("table_name").as("table"), col("op"),
        get_json_object(col("after"), "$.col_0").as("key"),
        col("log_pos").as("offset"),
        get_json_object(col("after"), "$.col_1").as("title"))
    val insDir = tempDir("binlog_e2e_ins_").toString
    graft.cdc.CdcSink.writeSnapshot(insEvents, insDir)
    val rows = graft.cdc.CdcSink.read(spark, insDir).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("title")).toMap
    assert(rows == Map("1" -> "cdc-1", "2" -> "cdc-2"), rows.toString)
  }

  test("streaming: readStream.format(\"binlog\") tails rotated files") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempDir("binlog_stream_")
    Files.copy(Paths.get(s"$fixtures/30_write_rows_v2/mysql-bin.000002"),
      dir.resolve("mysql-bin.000001"), StandardCopyOption.REPLACE_EXISTING)

    val qn = s"binlog_tail_${System.nanoTime()}"
    val q = spark.readStream.format("binlog").load(dir.toString)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        tempDir("binlog_ckpt_").toString)
      .start()
    q.processAllAvailable()
    val n1 = spark.table(qn).count()
    assert(n1 > 0)
    assert(spark.table(qn).filter(col("event_type") === "WRITE_ROWS_V2").count() > 0)

    // rotation: a new file appears; only its events are appended
    Files.copy(Paths.get(s"$fixtures/32_delete_rows_v2/mysql-bin.000001"),
      dir.resolve("mysql-bin.000002"), StandardCopyOption.REPLACE_EXISTING)
    q.processAllAvailable()
    val n2 = spark.table(qn).count()
    q.stop()
    assert(n2 > n1)
    assert(spark.table(qn).filter(col("event_type") === "DELETE_ROWS_V2").count() > 0)
    // no duplicate re-read of file 1
    val perFile = spark.table(qn).groupBy("file").count().collect()
    assert(perFile.length == 2)
  }

  // ---- content-hash teeth for the rows-only gate entries ----------
  // cdc_binlog_source/_stream/_pushdown are rows-only in the DuckDB
  // gate (the oracle cannot read binlog), but the fixture payloads
  // are static, so the decoded CONTENT is assertable: an
  // order-independent hash (decimal sum of per-row xxhash64 over the
  // decoded columns) pinned here catches any decoder drift the
  // row-count check would miss, and the streaming reader must decode
  // byte-identically to the batch reader.

  private def contentHash(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.agg(sum(xxhash64(
      col("event_type"), col("table_name"), col("op"),
      col("before"), col("after"), col("log_pos"))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))
      .collect()(0).getDecimal(0)

  test("fixture content hash is pinned (batch DSv2 reader)") {
    val df = BinlogSource.events(spark, s"$fixtures/*/*")
    assert(df.count() == 76)
    assert(contentHash(df) == new java.math.BigDecimal("-36332968324090015693"))
  }

  test("pushdown-shaped subset content hash is pinned") {
    // the same subset cdc_binlog_pushdown filters (WRITE_ROWS_V2),
    // hashed over its pruned columns
    val h = BinlogSource.events(spark, s"$fixtures/*/*")
      .filter(col("event_type") === "WRITE_ROWS_V2")
      .agg(sum(xxhash64(col("event_type"), col("table_name"), col("op"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"),
        count(lit(1)).as("n")).collect()(0)
    assert(h.getLong(1) == 9)
    assert(h.getDecimal(0) == new java.math.BigDecimal("60743979769577694282"))
  }

  test("streaming reader decodes identically to the batch reader") {
    val qn = s"binlog_hash_${System.nanoTime()}"
    val q = spark.readStream.format("binlog").load(s"$fixtures/*/*")
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        tempDir("binlog_hash_ckpt_").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(contentHash(spark.table(qn)) ==
      new java.math.BigDecimal("-36332968324090015693"))
    spark.sql(s"DROP VIEW IF EXISTS $qn")
    graft.cdc.CdcStream.releaseStreamResources(spark)
  }

  test("fixture declaration: the parser decodes each fixture to its declared events") {
    BinlogFixtureTable.files.foreach { case (fixture, file) =>
      val got = parse(s"$fixture/$file").map(e =>
        (e.typeName, e.tableName, e.op, e.before, e.after, e.header.logPos, e.xid, e.query))
      val declared = BinlogFixtureTable.rows.filter(_.fixture == fixture).map(r =>
        (r.eventType, r.tableName, r.op, r.before, r.after, r.logPos, r.xid, r.query))
      assert(got == declared, fixture)
    }
  }

  test("fixture declaration derives the pinned counts, hashes and positions") {
    import spark.implicits._
    val declared = BinlogFixtureTable.rows
      .map(r => (r.eventType, r.tableName, r.op, r.before, r.after, r.logPos))
      .toDF("event_type", "table_name", "op", "before", "after", "log_pos")
    // "fixture content hash is pinned", "streaming reader decodes
    // identically to the batch reader"
    assert(declared.count() == 76)
    assert(contentHash(declared) == new java.math.BigDecimal("-36332968324090015693"))
    // "pushdown-shaped subset content hash is pinned"
    val writes = declared.filter(col("event_type") === "WRITE_ROWS_V2")
      .agg(sum(xxhash64(col("event_type"), col("table_name"), col("op"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"),
        count(lit(1)).as("n")).collect()(0)
    assert(writes.getLong(1) == 9)
    assert(writes.getDecimal(0) == new java.math.BigDecimal("60743979769577694282"))
    // "cdc_txn_assemble: fixture transactions have exact BEGIN/XID boundaries"
    val txns = BinlogFixtureTable.transactions
    assert(txns.filter(_.fixture == "19_table_map").map(t => (t.xid, t.beginPos, t.commitPos)) ==
      Seq((331L, 310L, 443L), (357L, 597L, 730L)))
    // ContentPinSpec "cdc_txn_assemble content hash is pinned": the
    // hash over all the entry's columns
    val assembled = txns
      .map(t => (t.fixture, t.xid, t.beginPos, t.commitPos, t.nRowImages, t.nTables, t.nEvents))
      .toDF("fixture", "txn_xid", "begin_pos", "commit_pos", "n_row_images", "n_tables", "n_events")
    assert(assembled.count() == 10)
    assert(assembled.agg(sum(xxhash64(assembled.columns.map(col): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0).getDecimal(0) ==
      new java.math.BigDecimal("23386758638519543653"))
  }

  test("committed fixtures are writeReferenceFixtures' bytes, every event CRC32-checked") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def tree(root: Path): Map[String, Array[Byte]] =
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    val committed = tree(Paths.get(fixtures))
    val dir = tempDir("binlog_ref_")
    graft.sources.binlog.BinlogGen.writeReferenceFixtures(dir.toString)
    val written = tree(dir)
    assert(written.keySet == committed.keySet)
    written.foreach { case (rel, bytes) =>
      assert(java.util.Arrays.equals(bytes, committed(rel)), s"$rel differs")
    }
    val binlogs = committed.filter { case (rel, _) => !rel.endsWith("sql.sql") }
    assert(binlogs.keySet ==
      BinlogFixtureTable.files.map { case (f, file) => s"$f/$file" }.toSet)
    // events tile each file: size at header offset 9, log_pos (the
    // event's end) at 13, CRC32 over header + body in the last 4 bytes
    binlogs.foreach { case (rel, bytes) =>
      val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 4
      while (pos < bytes.length) {
        val size = b.getInt(pos + 9)
        assert(b.getInt(pos + 13) == pos + size, s"$rel@$pos: log_pos")
        val crc = new java.util.zip.CRC32
        crc.update(bytes, pos, size - 4)
        assert((b.getInt(pos + size - 4) & 0xffffffffL) == crc.getValue, s"$rel@$pos: CRC32")
        pos += size
      }
      assert(pos == bytes.length, s"$rel: trailing bytes")
    }
  }

  test("a missing binlog path is an error; an existing empty directory reads empty") {
    val missing = tempDir("binlog_missing_").resolve("absent").toString
    def namesPath(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(missing)))
    // a plain path, and a glob that matches nothing
    Seq(missing, s"$missing/*/*").foreach { p =>
      val e = intercept[Exception](BinlogSource.events(spark, p).count())
      assert(namesPath(e), e.toString)
    }
    // a stream's listing
    def stream(path: String) = spark.readStream.format("binlog").load(path)
      .writeStream.format("memory").queryName(s"binlog_missing_${System.nanoTime()}")
      .option("checkpointLocation",
        tempDir("binlog_missing_ckpt_").toString)
      .start()
    val q = stream(missing)
    val e = intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    assert(namesPath(e), e.toString)
    // an existing empty directory lists as empty, batch and stream
    val empty = tempDir("binlog_empty_").toString
    assert(BinlogSource.events(spark, empty).count() == 0)
    val tail = stream(empty)
    try tail.processAllAvailable() finally tail.stop()
    assert(spark.table(tail.name).count() == 0)
  }

  test("only binlog-named files are planned; a listed file without the magic raises") {
    import java.nio.file.Files
    // events/*/* also matches each fixture's sql.sql
    val glob = BinlogSource.events(spark, s"$fixtures/*/*")
    assert(glob.rdd.getNumPartitions == 8)
    val files = BinlogFixtureTable.files.map { case (fixture, file) => s"$fixtures/$fixture/$file" }
    assert(files.size == 8)
    val explicit = spark.read.format("binlog").load(files: _*)
    assert(contentHash(glob) == contentHash(explicit))
    // index, scripts and markers beside the binlogs are never read
    val dir = tempDir("binlog_names_")
    Seq("mysql-bin.index", "sql.sql", "_COMPLETE").foreach(n => Files.writeString(dir.resolve(n), "x"))
    assert(BinlogSource.events(spark, dir.toString).count() == 0)
    val garbage = dir.resolve("mysql-bin.000009")
    Files.writeString(garbage, "not a binlog")
    val e = intercept[Exception](BinlogSource.events(spark, dir.toString).count())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("mysql-bin.000009"))), e.toString)
  }

  test("a generated corpus is keyed by the generators' digest") {
    import java.nio.file.Files
    val name = s"graft_gen_digest_${System.nanoTime()}"
    var writes = 0
    def gen(digest: String) = graft.operators.Cdc.ensureGenerated(name, digest) { tmp =>
      writes += 1
      Files.writeString(tmp.resolve("mysql-bin.000001"), digest)
    }
    val a = gen("aaaa")
    assert(gen("aaaa") == a && writes == 1, "the same digest reuses the directory")
    Thread.sleep(50) // "newest" is by modification time: keep the generations apart
    val b = gen("bbbb")
    assert(b != a && writes == 2, "a new digest writes a new directory")
    assert(Files.readString(java.nio.file.Paths.get(b, "mysql-bin.000001")) == "bbbb")
    Thread.sleep(50)
    val c = gen("cccc")
    assert(!Files.exists(java.nio.file.Paths.get(a)), "a third digest prunes the first")
    assert(Files.exists(java.nio.file.Paths.get(b)), "the newest other digest stays")
    assert(graft.operators.Cdc.generatorDigest.matches("[0-9a-f]{12}"))
    Seq(b, c).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("DSv2: spark.read.format(\"binlog\") over the fixture directory") {
    val df = BinlogSource.events(spark, s"$fixtures/*/*")
    val byType = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.contains("QUERY"))
    assert(byType.contains("WRITE_ROWS_V2"))
    assert(byType.getOrElse("CORRUPT_FORMAT_DESCRIPTION", 0L) == 0)
    // every file contributes a FORMAT_DESCRIPTION
    assert(byType("FORMAT_DESCRIPTION") >= 7)

    // end-to-end CDC: binlog rows → changelog → snapshot via CdcApply
    val changes = df.filter(col("op").isNotNull && col("table_id") === 71)
      .select(col("table_name").as("table"), col("op"),
        get_json_object(coalesce(col("after"), col("before")), "$.col_0").as("key"),
        col("log_pos").as("offset"), col("before"), col("after"))
    val snap = graft.cdc.CdcApply.snapshot(changes, keyCols = Seq("table", "key"))
    assert(snap.count() >= 0) // materializes without error
  }
  test("cdc_txn_assemble: fixture transactions have exact BEGIN/XID boundaries") {
    val rows = SparkEntry.queries("cdc_txn_assemble")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("fixture"), r.getAs[Long]("txn_xid"),
        r.getAs[Long]("begin_pos"), r.getAs[Long]("commit_pos"),
        r.getAs[Long]("n_row_images"), r.getAs[Long]("n_events")))
    // 19_table_map: two committed txns, xids 331/357, one row image
    // each, BEGIN strictly before commit (positions summed from the
    // declared event sizes in BinlogFixtureTable).
    val tm = rows.filter(_._1 == "19_table_map").sortBy(_._2)
    assert(tm.map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((331L, 310L, 443L), (357L, 597L, 730L)))
    // every assembled txn: exactly BEGIN + TABLE_MAP(s) + row
    // event(s) + XID between its boundaries, at least one row image,
    // and the commit strictly after the begin
    rows.foreach { t =>
      assert(t._3 < t._4, s"${t._1}/${t._2}: begin !< commit")
      assert(t._5 >= 1, s"${t._1}/${t._2}: no row images")
      assert(t._6 >= t._5 + 2, s"${t._1}/${t._2}: missing BEGIN/XID envelope")
    }
    // single-txn fixture 16_xid carries MySQL's real xid 852
    assert(rows.filter(_._1 == "16_xid").map(_._2).toSeq == Seq(852L))
  }

  test("control events decode typed: STOP, IGNORABLE, INCIDENT number+message, HEARTBEAT ident") {
    import graft.sources.binlog.BinlogGen
    val dir = tempDir("binlog_ctrl_").toString
    BinlogGen.writeControlFile(s"$dir/mysql-bin.000001", nRows = 5)
    val ev = BinlogSource.events(spark, dir).collect()
    // mirrors rust-cdc src/mysql/event/mod.rs:287,301-338: 0x03 STOP,
    // 0x1a INCIDENT, 0x1c IGNORABLE, 0x1b HEARTBEAT all surface as
    // typed rows
    val byType = ev.groupBy(_.getAs[String]("event_type"))
    assert(byType.contains("STOP"))
    assert(byType.contains("IGNORABLE"))
    val inc = byType("INCIDENT")
    assert(inc.length == 1)
    assert(inc.head.getAs[Long]("int_value") == 1L) // LOST_EVENTS
    assert(inc.head.getAs[String]("query") == "binlog gap on master")
    // HEARTBEAT's body is log_ident — the master's current binlog
    // file name — decoded into next_binlog (the resume-file pointer)
    val hb = byType("HEARTBEAT")
    assert(hb.length == 1)
    assert(hb.head.getAs[String]("next_binlog") == BinlogGen.HeartbeatIdent)
    // control rows ride AFTER the data batch in log order
    val stopPos = byType("STOP").head.getAs[Long]("log_pos")
    val rowPos = byType("WRITE_ROWS_V2").map(_.getAs[Long]("log_pos")).max
    assert(stopPos > rowPos)
    // and the sink surfaces INCIDENT through its dead-letter path
    val out = SparkEntry.queries("cdc_control_events")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_dlq"))).toMap
    assert(out("INCIDENT") == (1L, 1L)) // counted AND dead-lettered
    assert(out("STOP") == (1L, 0L))
    assert(out("IGNORABLE") == (1L, 0L))
    assert(out("HEARTBEAT") == (1L, 0L))
    assert(out("WRITE_ROWS_V2")._2 == 0L)
  }
}
