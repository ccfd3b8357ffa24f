package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

class CdcSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("MatchStrategy mirrors reference wildcard semantics") {
    // bare * anywhere → match-all (reference check_all)
    assert(MatchStrategy.regex(Seq("*"), Seq("*")).isEmpty)
    assert(MatchStrategy.regex(Seq.empty, Seq.empty).isEmpty)
    val r = MatchStrategy.regex(Seq("appdb"), Seq("p*", "click")).get
    assert("appdb.purchase".matches(r))
    assert("appdb.click".matches(r))
    assert(!"appdb.signup".matches(r))
    assert(!"otherdb.purchase".matches(r))
    // db wildcard
    val r2 = MatchStrategy.regex(Seq("app*"), Seq("orders")).get
    assert("appdb.orders".matches(r2))
    assert(!"appdb.orders_x".matches(r2))
  }

  test("Ddl.parse classifies the reference's DDL surface") {
    assert(Ddl.parse("ALTER TABLE t1 ADD COLUMN c INT") == Ddl.AddColumn("t1", "c"))
    assert(Ddl.parse("alter table t1 add c2 varchar(10)") == Ddl.AddColumn("t1", "c2"))
    assert(Ddl.parse("ALTER TABLE t1 DROP COLUMN c") == Ddl.DropColumn("t1", "c"))
    assert(Ddl.parse("ALTER TABLE t1 RENAME COLUMN a TO b") == Ddl.RenameColumn("t1", "a", "b"))
    assert(Ddl.parse("ALTER TABLE t1 RENAME TO t2") == Ddl.RenameTable("t1", "t2"))
    assert(Ddl.parse("DROP TABLE IF EXISTS t1") == Ddl.DropTable("t1"))
    assert(Ddl.parse("TRUNCATE TABLE t1") == Ddl.TruncateTable("t1"))
    assert(Ddl.parse("SELECT 1") == Ddl.Other(""))
    // backtick-quoted identifiers (may contain spaces)
    assert(Ddl.parse("ALTER TABLE `my table` ADD COLUMN c INT") ==
      Ddl.AddColumn("`my table`", "c"))
    // keywords inside table names must not confuse classification
    assert(Ddl.parse("ALTER TABLE user_address DROP COLUMN x") ==
      Ddl.DropColumn("user_address", "x"))
  }

  test("Ddl.classify agrees with Ddl.parse on tricky statements") {
    import spark.implicits._
    val stmts = Seq(
      "ALTER TABLE `my table` ADD COLUMN c INT" -> "add_column",
      "ALTER TABLE user_address DROP COLUMN x" -> "drop_column",
      "ALTER TABLE add_rename RENAME TO t2" -> "rename_table",
      "alter table T rename column a to b" -> "rename_column",
      "DROP TABLE `drop zone`" -> "drop_table",
      "TRUNCATE t" -> "truncate",
      "INSERT INTO adder VALUES (1)" -> "other")
    val got = stmts.map(_._1).toDF("stmt")
      .select(Ddl.classify(org.apache.spark.sql.functions.col("stmt")).as("kind"))
      .collect().map(_.getString(0)).toSeq
    assert(got == stmts.map(_._2), got.mkString(","))
  }

  test("BinlogTypes covers all 31 wire types and 15 parsed events") {
    assert(BinlogTypes.byCode.size == 30) // 31 minus NEWDATE≡DATE duplicate code share
    assert(BinlogTypes.parsedEvents.size == 15)
    import org.apache.spark.sql.types._
    assert(BinlogTypes.byCode(0x03) == IntegerType)
    assert(BinlogTypes.byCode(0xf6) == DecimalType(38, 18))
    assert(BinlogTypes.newDecimal(10, 2) == DecimalType(10, 2))
  }

  /** Minimal in-memory GroupState for exercising the fold function. */
  class TestState[S](initial: Option[S], timedOut: Boolean = false)
      extends org.apache.spark.sql.streaming.GroupState[S] {
    private var v: Option[S] = initial
    private var removed = false
    var timeoutSetTo: Long = Long.MinValue
    override def exists: Boolean = v.isDefined
    override def get: S = v.get
    override def getOption: Option[S] = v
    override def update(s: S): Unit = { v = Some(s); removed = false }
    override def remove(): Unit = { v = None; removed = true }
    override def hasTimedOut: Boolean = timedOut
    override def setTimeoutDuration(d: Long): Unit = ()
    override def setTimeoutDuration(d: String): Unit = ()
    override def setTimeoutTimestamp(t: Long): Unit = { timeoutSetTo = t }
    override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = 0L
    override def getCurrentProcessingTimeMs(): Long = 0L
  }

  test("CdcStream.applyGroup: out-of-order, redelivery, delete-wins") {
    import CdcStream._
    val ts = new java.sql.Timestamp(0L)
    def ch(op: String, off: Long, v: Double) = Change("k", op, off, ts, "t", v)

    // fresh state: updates fold to the max offset, delete at the end drops
    val st1 = new TestState[Upsert](None)
    val out1 = applyGroup("k", Iterator(ch("u", 3, 30), ch("u", 1, 10), ch("u", 2, 20)), st1).toList
    assert(out1.map(u => (u.last_offset, u.value)) == List((3L, 30.0)))

    // delete with the highest offset wins even if delivered first —
    // emitted as a TOMBSTONE that stays in state (blocks resurrection
    // by redelivered pre-delete changes)
    val st2 = new TestState[Upsert](None)
    val out2 = applyGroup("k", Iterator(ch("d", 5, 0), ch("u", 4, 40)), st2).toList
    assert(out2.map(u => (u.last_offset, u.deleted)) == List((5L, true)))
    assert(st2.exists && st2.get.deleted)
    // ...and a later redelivery of offset 4 does not resurrect
    val out2b = applyGroup("k", Iterator(ch("u", 4, 40)), st2).toList
    assert(out2b.map(_.deleted) == List(true))

    // redelivered older offset must not regress existing state
    val st3 = new TestState[Upsert](Some(Upsert("k", 9, "t", 90)))
    val out3 = applyGroup("k", Iterator(ch("u", 7, 70)), st3).toList
    assert(out3.map(_.last_offset) == List(9L))
  }

  test("applyGroupTtl: arms timeouts and reaps timed-out state") {
    import CdcStream._
    val ts = new java.sql.Timestamp(0L)
    // live update: state set, timeout armed at watermark + ttl
    val st = new TestState[Upsert](None)
    val out = applyGroupTtl(60000L)("k",
      Iterator(Change("k", "u", 1, ts, "t", 1.0)), st).toList
    assert(out.nonEmpty && st.exists)
    assert(st.timeoutSetTo == 60000L) // watermark 0 + ttl
    // timed-out group: state reaped, nothing emitted
    val stOld = new TestState[Upsert](
      Some(Upsert("k", 5, "t", 0.0, deleted = true)), timedOut = true)
    val out2 = applyGroupTtl(60000L)("k", Iterator.empty, stOld).toList
    assert(out2.isEmpty && !stOld.exists)
  }

  test("EventTimeTimeout reaps quiet state through the real state store") {
    import CdcStream._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)

    val input = MemoryStream[Change]
    val upserts = input.toDS()
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(applyGroupTtl(1000L))
    val qn = s"ttl_evict_${System.nanoTime()}"
    val q = upserts.writeStream.outputMode("update").format("memory").queryName(qn)
      .option("checkpointLocation",
        tempDir("ttl_ckpt_").toString)
      .start()

    // batch 1: a live row and a delete tombstone — both land in state
    input.addData(
      Change("a", "u", 1, ts(1000), "t", 1.0),
      Change("b", "d", 2, ts(1000), "t", 0.0))
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators(0).numRowsTotal == 2)
    // batch 2: watermark jumps past every armed timeout (they arm
    // against the lagging pre-batch watermark); the watermark-advance
    // no-data batch then reaps all quiet state
    input.addData(Change("c", "u", 3, ts(100000), "t", 1.0))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    assert(stateRows == 0, s"expected quiet state reaped, got $stateRows")

    // documented trade-off: once the tombstone is reaped, a redelivered
    // pre-delete change resurrects the key — TTL must exceed the
    // redelivery horizon
    input.addData(Change("b", "u", 1, ts(100001), "t", 5.0))
    q.processAllAvailable()
    val emitted = spark.table(qn).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Boolean]("deleted")))
    q.stop()
    assert(emitted.count { case (k, d) => k == "b" && !d } == 1, emitted.mkString(","))
  }

  test("batch snapshot and streaming apply agree") {
    val batch = SparkEntry.queries("cdc_snapshot")(spark, sf).collect().toSeq
    val stream = SparkEntry.queries("cdc_stream_apply")(spark, sf).collect().toSeq
    assert(batch.nonEmpty)
    assert(batch == stream)
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("GtidSet coalesces transaction ids into MySQL-style intervals") {
    import spark.implicits._
    // source a: 1,2,3,5,7,8 (+ redelivered 2) → 1-3, 5, 7-8
    // source b: 10 → 10
    val txns = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 5L), ("a", 7L), ("a", 8L),
      ("a", 2L), ("b", 10L)).toDF("src", "gno")
    val ivs = GtidSet.intervals(txns, "src", "gno")
      .orderBy("src", "gno_start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ivs.toSeq == Seq(
      ("a", 1L, 3L, 3L), ("a", 5L, 5L, 1L), ("a", 7L, 8L, 2L),
      ("b", 10L, 10L, 1L)))
    val txt = GtidSet.rendered(txns, "src", "gno")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(txt == Map("a" -> "1-3:5:7-8", "b" -> "10"))
  }

  test("streaming sources read BOTH testdata layouts (flat file and part-dir)") {
    // Regression: pathGlobFilter("events.parquet") on the parent dir
    // silently streams ZERO rows when events.parquet is a DIRECTORY
    // of part files (the production layout) — found at sf1 when
    // cdc_stream_dedup "ran" in 0.15s. Tables.stream must dispatch on
    // the actual layout and read the same rows either way, for the
    // events stream and for the documents stream alike.
    val dirLayout = tempDir("graft_layout_").toString
    Seq("events", "documents").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .repartition(3).write.parquet(s"$dirLayout/$t.parquet")
    }
    val flat = CdcStream.streamingDedup(spark, sf, s"lay_flat_${System.nanoTime()}")
    val parts = CdcStream.streamingDedup(spark, dirLayout, s"lay_dir_${System.nanoTime()}")
    val nFlat = flat.count()
    assert(nFlat > 0)
    assert(parts.count() == nFlat)
    def probe(dir: String) = SparkEntry.queries("dedup_stream_probe")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docsFlat = probe(sf)
    assert(docsFlat.nonEmpty)
    assert(probe(dirLayout) == docsFlat)
  }

  test("streaming cleanup is scoped: active queries survive, stale views drop") {
    import org.apache.spark.sql.functions._
    // a stale prior-run sink view (matches <base>_<digits>, no query behind it)
    spark.range(3).createOrReplaceTempView("guardq_111")
    // a LIVE query with a matching name — must never be dropped
    val live = spark.readStream.format("rate").option("rowsPerSecond", "5").load()
      .writeStream.format("memory").queryName("guardq_222").start()
    try {
      CdcStream.dropStaleSinks(spark, s"guardq_${System.nanoTime()}")
      val names = spark.catalog.listTables().collect().map(_.name).toSet
      assert(!names.contains("guardq_111"), "stale view should be dropped")
      assert(names.contains("guardq_222"), "active query's sink must survive")
      // JVM-global cleanup must no-op while a query is active
      CdcStream.releaseStreamResources(spark)
      assert(live.isActive, "releaseStreamResources must not touch active queries")
    } finally {
      live.stop()
      spark.catalog.dropTempView("guardq_222")
    }
  }

  test("not-yet-existing events.parquet starts an empty stream, not an error") {
    val emptyDir = tempDir("graft_empty_").toString
    val out = CdcStream.streamingDedup(spark, emptyDir, s"empty_${System.nanoTime()}")
    assert(out.count() == 0)
  }

  test("pair-less corpus yields an empty attribution, not a schema error") {
    import org.apache.spark.sql.functions._
    // clicks only: the interval join can never match, the parquet sink
    // commits zero data files, and the read must not throw
    val dir = tempDir("graft_clicks_").toString
    spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "click")
      .write.parquet(s"$dir/events.parquet")
    val got = CdcStream.streamStreamJoin(spark, dir, s"ssj_empty_${System.nanoTime()}")
    assert(got.count() == 0)
  }

  test("incrementalAgg: delta merge equals recompute across every transition kind") {
    import org.apache.spark.sql.functions._
    import graft.QueryDef._
    import spark.implicits._
    // base: k1 live in A, k2 live in A, k3 live in B, k5 DELETED
    val base = Seq(
      ("k1", "c", 1L, "A", 10.0),
      ("k2", "c", 2L, "A", 5.0),
      ("k3", "c", 3L, "B", 7.0),
      ("k5", "c", 4L, "B", 2.0),
      ("k5", "d", 5L, "B", 0.0)
    ).toDF("key", "op", "offset", "grp", "value")
    // batch: group migration (k2 A→B), delete (k3), new key (k4),
    // in-place update (k1), resurrect after base-delete (k5),
    // telescoping intermediate states (k4 updated twice)
    val batch = Seq(
      ("k2", "u", 6L, "B", 6.0),
      ("k3", "d", 7L, "B", 0.0),
      ("k4", "c", 8L, "A", 1.0),
      ("k4", "u", 9L, "A", 9.0),
      ("k1", "u", 10L, "A", 11.0),
      ("k5", "u", 11L, "B", 3.0)
    ).toDF("key", "op", "offset", "grp", "value")
    val baseState = CdcApply.snapshot(base)
    val maintained = baseState.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("value"))).as("total"))
    val got = CdcApply.incrementalAgg(maintained, baseState, batch, "grp", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    // final live: k1=(A,11), k2=(B,6), k4=(A,9), k5=(B,3); k3 gone
    assert(got == Map("A" -> ((2L, 20.0)), "B" -> ((2L, 9.0))))
    // and the delta path equals the full recompute
    val recompute = CdcApply.snapshot(base.unionAll(batch))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("value"))).as("total"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(got == recompute)
  }

  test("incrementalAgg plan: broadcast semi-join retract, no base re-aggregation") {
    import org.apache.spark.sql.functions._
    import graft.QueryDef._
    import spark.implicits._
    val base = (1 to 500).map(i => (s"k$i", "c", i.toLong, s"g${i % 3}", i * 1.0))
      .toDF("key", "op", "offset", "grp", "value")
    val batch = Seq(("k1", "u", 600L, "g1", 2.0)).toDF("key", "op", "offset", "grp", "value")
    val baseState = CdcApply.snapshot(base)
    val maintained = baseState.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("value"))).as("total"))
    val plan = CdcApply.incrementalAgg(maintained, baseState, batch, "grp", "value")
      .queryExecution.executedPlan.toString
    // the touched-key retract must be a semi join with the (small)
    // batch-keys side broadcast — never a cartesian or a sort-merge
    // over the base — so refresh cost stays ∝ batch + touched keys
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incrementalAgg drops a group whose last live row left") {
    import org.apache.spark.sql.functions._
    import graft.QueryDef._
    import spark.implicits._
    val base = Seq(("k1", "c", 1L, "A", 4.0)).toDF("key", "op", "offset", "grp", "value")
    val batch = Seq(("k1", "d", 2L, "A", 0.0)).toDF("key", "op", "offset", "grp", "value")
    val baseState = CdcApply.snapshot(base)
    val maintained = baseState.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("value"))).as("total"))
    val out = CdcApply.incrementalAgg(maintained, baseState, batch, "grp", "value")
    assert(out.count() == 0)
  }

  test("scd2 history: one current version per live key, deletes close history") {
    import org.apache.spark.sql.functions._
    val h = SparkEntry.queries("cdc_scd2")(spark, sf)
    assert(h.count() > 0)
    // at most one open (is_current) version per key
    assert(h.filter(col("is_current")).groupBy("key").count()
      .filter(col("count") > 1).count() == 0)
    // closed intervals are well-formed
    assert(h.filter(col("valid_to").isNotNull && col("valid_from") >= col("valid_to"))
      .count() == 0)
    // a key whose LAST event is a delete has no current version —
    // the tombstone closed its final interval
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("offset").desc)
    val dead = Changelog.fromEvents(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "d").select("key")
    assert(dead.count() > 0, "test data must contain trailing deletes")
    assert(h.filter(col("is_current")).join(dead, "key").count() == 0)
    // history is complete: every non-delete event is a version
    val expected = Changelog.fromEvents(spark, sf).filter(col("op") =!= "d").count()
    assert(h.count() == expected)
  }

  test("offsetCommits: offset-ordered replay degenerates; arrival order does not") {
    import spark.implicits._
    // arrival order 10,30,20,40: watermarks 10,30,30,40 → 3 distinct
    // effective commits (re-committing under the 30 watermark is the
    // idempotent no-op the reference's LogCommitter models)
    val log = Seq((1, 10L), (2, 30L), (3, 20L), (4, 40L))
      .toDF("arrival", "offset")
      .withColumn("source_file",
        org.apache.spark.sql.functions.lit("bin.1"))
    val ooo = graft.cdc.CdcApply
      .offsetCommits(log, arrivalCol = Some("arrival"))
      .collect()(0)
    assert(ooo.getAs[Long]("committed_offset") == 40L)
    assert(ooo.getAs[Long]("n_commits") == 3L)
    assert(ooo.getAs[Long]("n_events") == 4L)
    // default (offset-ordered) form: distinct offsets
    val inOrder = graft.cdc.CdcApply.offsetCommits(log).collect()(0)
    assert(inOrder.getAs[Long]("committed_offset") == 40L)
    assert(inOrder.getAs[Long]("n_commits") == 4L)
  }

  test("canonicalize fails loudly on timestamp unit drift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the r7 failure mode: a mis-declared unit lands every ts 1000×
    // off (1970, or year ~56k), which a windowed agg silently folds
    // into one window. The canonicalize guard must RAISE instead.
    val bad = Seq((1L, 3L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(1234567L))) // 1970-01-01
    val e = intercept[Exception] {
      Changelog.canonicalize(bad).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("timestamp unit drift")),
      s"expected the unit-drift raise_error, got: $e")
    // in-range timestamps pass through exactly
    val ok = bad.withColumn("ts", timestamp_micros(lit(1700000000L * 1000000L)))
    val out = Changelog.canonicalize(ok).select("ts").collect()
    assert(out.head.getTimestamp(0).toInstant.getEpochSecond == 1700000000L)
  }

  test("stream-stream interval join lands exactly on the batch self-join") {
    import org.apache.spark.sql.functions._
    import graft.QueryDef._
    val got = CdcStream.streamStreamJoin(spark, sf,
      s"ssj_spec_${System.nanoTime()}", statePartitions = Some(4))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val log = Changelog.fromEvents(spark, sf)
      .select(col("key"), col("ts"), col("event_type"), col("value"))
    val c = log.filter(col("event_type") === "click")
      .select(col("key"), col("ts").as("cts"))
    val p = log.filter(col("event_type") === "purchase")
      .select(col("key").as("pk"), col("ts").as("pts"), col("value"))
    val want = c.join(p,
        col("key") === col("pk") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(date_trunc("day", col("cts")).as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("key")).as("n_users"),
        dsum(col("value")).as("attributed_value"))
      .orderBy("day")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }
  test("cdc_incremental_snapshot: DBLog chunk/log dedup reconstructs the snapshot") {
    import org.apache.spark.sql.functions._
    // sf0.01: enough keys that all three dedup verdicts appear
    // (sf0.001 has too few live keys for a post-watermark insert).
    val sfd = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("cdc_incremental_snapshot")(spark, sfd).collect()
    // 1. The reconstruction IS the snapshot: same live keys, same
    //    final (offset, value) as the plain upsert fold.
    val snap = CdcApply.snapshot(Changelog.fromEvents(spark, sfd))
      .select(col("key"), col("offset"), col("value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.map(_.getAs[String]("key")).toSet == snap.keySet)
    rows.foreach { r =>
      val (o, v) = snap(r.getAs[String]("key"))
      assert(r.getAs[Long]("last_offset") == o && r.getAs[Double]("value") == v)
    }
    // 2. The dedup verdict is consistent with the watermark: chunk-
    //    served keys saw no later change; log-served keys did.
    rows.foreach { r =>
      val (src, lastO, wm) = (r.getAs[String]("src"),
        r.getAs[Long]("last_offset"), r.getAs[Long]("watermark"))
      if (src == "chunk") assert(lastO <= wm) else assert(lastO > wm)
    }
    // 3. Non-degenerate: the interleave produces all three verdicts
    //    (chunk rows that survive, chunk rows superseded by the log,
    //    keys the chunk read never saw).
    val srcs = rows.map(_.getAs[String]("src")).toSet
    assert(srcs == Set("chunk", "log_overwrite", "log_new"))
    // 4. chunk_value is the key's live value AS OF its watermark —
    //    re-derive independently for every log_overwrite key.
    val log = Changelog.fromEvents(spark, sfd)
      .select("key", "op", "offset", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    rows.filter(_.getAs[String]("src") != "chunk").foreach { r =>
      val wm = r.getAs[Long]("watermark")
      val atWm = log.filter(e => e._1 == r.getAs[String]("key") && e._3 <= wm)
        .sortBy(_._3).lastOption
      val want = atWm.filter(_._2 != "d").map(_._4)
      assert(Option(r.getAs[java.lang.Double]("chunk_value")).map(_.toDouble) == want)
    }
    // 5. Watermarks are per-chunk constants strictly inside the log.
    val byChunk = rows.groupBy(_.getAs[Long]("chunk"))
      .view.mapValues(_.map(_.getAs[Long]("watermark")).toSet)
    byChunk.foreach { case (_, wms) => assert(wms.size == 1) }
    assert(byChunk.keySet.size > 1) // key space actually chunked
  }
  test("cdc_bloom_sweep: the calibration curve is monotone and spans both regimes") {
    // sf0.01: 5000 probe keys exercise saturation through sized-right
    val rows = SparkEntry.queries("cdc_bloom_sweep")(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getAs[Long]("num_bits"), r.getAs[Long]("n_probes"),
        r.getAs[Long]("n_fp"), r.getAs[Long]("fp_milli"))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2000L, 4000L, 8000L, 20000L, 80000L))
    // no true members on the probe side → every positive is false,
    // and more bits can only clear bits' collisions: monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"FP count rose with more bits: $a -> $b")
    }
    // saturated end hurts, sized-right end (16 bits/key) is clean —
    // the trade the reference's new_default(10_000, 0.01) encodes
    assert(rows.head._4 > 500, s"saturated filter too clean: ${rows.head}")
    assert(rows.last._4 <= 1, s"sized filter too dirty: ${rows.last}")
  }
  test("cdc_snapshot_diff: verdicts re-derived from the raw changelog") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("cdc_snapshot_diff")(spark, sf).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("change_type")).toMap
    // driver-side reference: latest per key at the cutoff vs at the end
    val log = Changelog.fromEvents(spark, sf)
      .select("key", "op", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val mid = log.map(_._3).max / 2
    def live(upTo: Long) = log.filter(_._3 <= upTo).groupBy(_._1)
      .view.mapValues(_.maxBy(_._3)).filter(_._2._2 != "d")
      .mapValues(_._3).toMap
    val v1 = live(mid); val v2 = live(Long.MaxValue)
    val want = (v1.keySet ++ v2.keySet).flatMap { k =>
      (v1.get(k), v2.get(k)) match {
        case (None, Some(_))            => Some(k -> "added")
        case (Some(_), None)            => Some(k -> "deleted")
        case (Some(a), Some(b)) if a != b => Some(k -> "updated")
        case _                          => None
      }
    }.toMap
    assert(rows == want)
    // all three verdicts occur on this changelog
    assert(rows.values.toSet == Set("added", "deleted", "updated"))
  }
  test("cdc_gtid_resume: skips exactly the executed set, including mid-tail holes") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("cdc_gtid_resume")(spark, sf).collect()
      .map(r => r.getAs[Long]("server_id") ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_skipped"),
         r.getAs[Long]("n_applied"))).toMap
    // re-derive the executed set driver-side (gno = dense per-server
    // sequence ordered by event_id, as the operator defines it)
    val txns = Tables.events(spark, sf)
      .select((col("user_id") % 16).as("s"), col("event_id").as("e")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (srv, es) =>
        es.map(_._2).sorted.zipWithIndex.map { case (_, i) => (srv, i + 1L) }
      }.toArray
    // per-server bound: 60% prefix of each server's own dense
    // sequence, plus ~64 isolated tail gnos (step derived exactly as
    // the operator does — bounded resume state at any scale)
    val maxes = txns.groupBy(_._1).view
      .mapValues(ts => ts.map(_._2).max).toMap
    val bounds = maxes.view.mapValues(_ * 3 / 5).toMap
    val steps = maxes.map { case (srv, mx) =>
      srv -> math.max(7L, (mx - bounds(srv)) / 64) }
    def isExec(t: (Long, Long)): Boolean = {
      val (srv, gno) = t
      gno <= bounds(srv) ||
        (gno > bounds(srv) && (gno - bounds(srv)) % steps(srv) == 3)
    }
    val executed = txns.filter(isExec).toSet
    txns.groupBy(_._1).foreach { case (srv, ts) =>
      val (tot, skip, app) = rows(srv)
      assert(tot == ts.length)
      assert(skip == ts.count(executed.contains), s"server $srv skipped")
      assert(app == tot - skip)
    }
    // the planted holes are real: every server both skips and applies
    // INSIDE the tail (gnos > bound) — the case one offset can't do
    rows.keys.foreach { srv =>
      val tail = txns.filter(t => t._1 == srv && t._2 > bounds(srv))
      assert(tail.exists(executed.contains) && tail.exists(!executed.contains(_)),
        s"server $srv tail degenerate")
    }
  }

  test("cdc_replica_loop: stream fold applies exactly the non-executed txns") {
    val rows = SparkEntry.queries("cdc_replica_loop")(spark, sf).collect()
    // stream size ∝ sf, re-derived here exactly as replicaLoop does
    val R = 5
    val n = (Tables.orders(spark, sf).count() / 40) * 8
    val bound = n * 3 / 5
    val step = math.max(7L, (n - bound) / 64)
    assert(rows.length == n * R) // every generated row id present once
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      val gno = (id - 1) / R + 1
      val executed = gno <= bound || (gno > bound && (gno - bound) % step == 3)
      // bootstrap rows stayed (epoch 0); the stream replayed ONLY the
      // non-executed transactions (epoch 1) — the GTID skip is exact
      assert(r.getAs[Long]("epoch") == (if (executed) 0L else 1L),
        s"id $id (gno $gno) wrong epoch")
      assert(r.getAs[String]("title") == s"row-$id")
    }
    // the tail genuinely interleaves skip and apply
    val tailEpochs = rows.filter(r =>
      (r.getAs[Long]("id") - 1) / R + 1 > bound).map(_.getAs[Long]("epoch")).toSet
    assert(tailEpochs == Set(0L, 1L))
  }
}
