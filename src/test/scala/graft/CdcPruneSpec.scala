package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{CdcSink, TxnLog}

/** Per-file key-range stats + file-pruned unpartitioned merge.
  *
  * The 100 TB property under test: after a range-clustered
  * compaction, a key-localized delivery rewrites ONLY the files whose
  * [min, max] intersect its keys — every other file's path is carried
  * forward unchanged in the new manifest — and the result is
  * byte-identical to a full merge. Plus the conservative degradations
  * (stats-less manifests, null keys, numeric keys where a string
  * compare would mis-prune).
  */
class CdcPruneSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def strLog(rows: (String, String, Long, Double)*): DataFrame =
    rows.toDF("key", "op", "offset", "value")
      .withColumn("source_file", lit("bin.1"))

  test("manifest entries carry per-file key min/max on unpartitioned writes") {
    val dir = tempDir("graft_prune_stats_").toString
    CdcSink.writeSnapshot(
      strLog(("a", "c", 1, 1.0), ("m", "c", 2, 2.0), ("z", "c", 3, 3.0)), dir)
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.nonEmpty)
    assert(m.entries.forall(e => e.min.isDefined && e.max.isDefined))
    val lo = m.entries.flatMap(_.min).min
    val hi = m.entries.flatMap(_.max).max
    assert(lo == "a" && hi == "z", s"stats range [$lo,$hi]")
    // stats survive the JSON round trip (read back from disk, not memory)
    val reread = TxnLog.manifestAt(fs, dir, m.version).get
    assert(reread.entries.map(e => (e.path, e.min, e.max)).toSet ==
      m.entries.map(e => (e.path, e.min, e.max)).toSet)
  }

  test("footer-derived stats equal an independent scan of the same files") {
    // string keys and int keys take the driver-side parquet-footer
    // fast path; every manifest stat must match what a Spark scan of
    // that exact file computes (min/max canonical strings + rows)
    def check(dir: String): Unit = {
      val m = TxnLog.current(fs, dir).get
      assert(m.entries.nonEmpty)
      m.entries.foreach { e =>
        val r = spark.read.parquet(s"$dir/${e.path}")
          .agg(min(col("key")).cast("string"), max(col("key")).cast("string"),
            count(lit(1L))).head
        assert(e.min.contains(r.getString(0)) && e.max.contains(r.getString(1)),
          s"${e.path}: manifest [${e.min},${e.max}] vs scan [${r.getString(0)},${r.getString(1)}]")
        assert(e.rows.contains(r.getLong(2)), s"${e.path}: rows ${e.rows}")
      }
    }
    val dirS = tempDir("graft_footer_s_").toString
    CdcSink.writeSnapshot(spark.range(0, 5000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dirS)
    CdcSink.compact(spark, dirS, None, targetRecordsPerFile = 1000L)
    check(dirS)
    val dirI = tempDir("graft_footer_i_").toString
    CdcSink.writeSnapshot(spark.range(0, 5000).select(
      (col("id") * 7 % 5000).cast("int").as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dirI)
    CdcSink.compact(spark, dirI, None, targetRecordsPerFile = 1000L)
    check(dirI)
    // double keys take the SCAN path (footer decode gap) — stats must
    // still appear and match
    val dirD = tempDir("graft_footer_d_").toString
    CdcSink.writeSnapshot(spark.range(0, 2000).select(
      (col("id").cast("double") / 8).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dirD)
    check(dirD)
  }

  test("localized delivery rewrites only intersecting files after range compaction") {
    val dir = tempDir("graft_prune_merge_").toString
    // 10k keys k00000..k09999; compact at 1000/file → ~10 key-disjoint files
    val base = spark.range(0, 10000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(base, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 1000L)
    val m0 = TxnLog.current(fs, dir).get
    assert(m0.entries.length >= 8, s"expected ~10 files, got ${m0.entries.length}")
    assert(m0.entries.forall(e => e.min.isDefined && e.max.isDefined))
    // range-clustered: file key ranges must be pairwise disjoint
    val ranges = m0.entries.map(e => (e.min.get, e.max.get)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi vs $lo2")
      case _ =>
    }
    // a delivery touching only keys k00100..k00109 — one file's range
    val batch = strLog((100 to 109).map(i =>
      (f"k$i%05d", "u", 20000L + i, -1.0)): _*)
    CdcSink.merge(spark, batch, dir, None)
    val m1 = TxnLog.current(fs, dir).get
    val carried = m1.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    assert(carried.size >= m0.entries.length - 1,
      s"only ${carried.size}/${m0.entries.length} files carried forward — " +
        "pruning rewrote more than the intersecting file(s)")
    assert(carried.size < m0.entries.length, "no file was rewritten at all")
    // result identical to what a full merge would produce
    val got = CdcSink.read(spark, dir)
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(got.size == 10000)
    (100 to 109).foreach(i => assert(got(f"k$i%05d") == -1.0))
    assert(got("k00099") == 99.0 && got("k00110") == 110.0)
  }

  test("deletes prune the same way and drop the key") {
    val dir = tempDir("graft_prune_del_").toString
    val base = spark.range(0, 3000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(base, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 1000L)
    val m0 = TxnLog.current(fs, dir).get
    CdcSink.merge(spark, strLog(("k00042", "d", 9999L, 0.0)), dir, None)
    val m1 = TxnLog.current(fs, dir).get
    val carried = m1.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    assert(carried.size == m0.entries.length - 1)
    val got = CdcSink.read(spark, dir)
    assert(got.count() == 2999)
    assert(got.filter(col("key") === "k00042").isEmpty)
  }

  test("numeric keys compare typed, not as strings (9 vs 10 trap)") {
    val dir = tempDir("graft_prune_num_").toString
    // int keys 0..2999 → 3 range files [0,999][1000,1999][2000,2999].
    // Key 9's file has min="0", max="999": a STRING compare says
    // "9" > "999" is false... but "9" > "10" would wrongly place 9
    // outside [“10”, …] ranges. Update keys 9 and 1500 — both must
    // land (one row each, new value), with the untouched file carried.
    val base = spark.range(0, 3000).select(
      col("id").cast("int").as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(base, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 1000L)
    val m0 = TxnLog.current(fs, dir).get
    assert(m0.entries.length >= 3 && m0.entries.length <= 5,
      s"expected ~3 range files, got ${m0.entries.length}")
    val batch = Seq((9, "u", 10000L, -9.0), (1500, "u", 10001L, -1500.0))
      .toDF("key", "op", "offset", "value")
      .withColumn("source_file", lit("bin.1"))
    CdcSink.merge(spark, batch, dir, None)
    val m1 = TxnLog.current(fs, dir).get
    val carried = m1.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    // expected untouched = files whose TYPED range misses both 9 and
    // 1500 (a string compare would call "9" > "10" and mis-prune)
    val expectedCarried = m0.entries.filter { e =>
      val (lo, hi) = (e.min.get.toInt, e.max.get.toInt)
      !Seq(9, 1500).exists(k => k >= lo && k <= hi)
    }.map(_.path).toSet
    assert(expectedCarried.nonEmpty, "fixture degenerate: every file intersects")
    assert(carried == expectedCarried,
      s"carried $carried, expected $expectedCarried")
    val got = CdcSink.read(spark, dir)
      .select("key", "value").as[(Int, Double)].collect().toMap
    assert(got.size == 3000, "a mis-pruned file would leave a duplicate key")
    assert(got(9) == -9.0 && got(1500) == -1500.0 && got(42) == 42.0)
  }

  test("append-pattern merges: increments inherit a commit range and stop being rewritten") {
    val dir = tempDir("graft_prune_append_").toString
    CdcSink.writeSnapshot(
      strLog(("a1", "c", 1, 1.0), ("a2", "c", 2, 2.0)), dir)
    val m0 = TxnLog.current(fs, dir).get
    // batch 1 entirely above the bootstrap range → pure append: the
    // bootstrap file must carry forward, and the NEW file must carry
    // its key range (read from its footer, no stats job)
    CdcSink.merge(spark, strLog(("b1", "c", 10, 10.0), ("b2", "c", 11, 11.0)), dir, None)
    val m1 = TxnLog.current(fs, dir).get
    assert(m0.entries.map(_.path).toSet.subsetOf(m1.entries.map(_.path).toSet),
      "bootstrap file was rewritten by a disjoint append batch")
    val inc1 = m1.entries.filterNot(e => m0.entries.map(_.path).contains(e.path))
    assert(inc1.nonEmpty && inc1.forall(e => e.min.contains("b1") && e.max.contains("b2")),
      s"increment files missing their key range: $inc1")
    // batch 2 above again → BOTH earlier files carry forward
    CdcSink.merge(spark, strLog(("c1", "c", 20, 20.0)), dir, None)
    val m2 = TxnLog.current(fs, dir).get
    assert(m1.entries.map(_.path).toSet.subsetOf(m2.entries.map(_.path).toSet),
      "an earlier increment was rewritten by a later disjoint append")
    // and an UPDATE into batch-1's range rewrites exactly that increment
    CdcSink.merge(spark, strLog(("b1", "u", 30, -10.0)), dir, None)
    val m3 = TxnLog.current(fs, dir).get
    assert(m0.entries.map(_.path).toSet.subsetOf(m3.entries.map(_.path).toSet))
    assert(!inc1.map(_.path).toSet.subsetOf(m3.entries.map(_.path).toSet),
      "the increment holding b1 was not rewritten")
    val got = CdcSink.read(spark, dir)
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(got == Map("a1" -> 1.0, "a2" -> 2.0, "b1" -> -10.0,
      "b2" -> 11.0, "c1" -> 20.0))
  }

  test("merge increments record footer row counts; keys whose footers do not decode keep the commit range") {
    // double keys have no exact footer decoding: the increment takes
    // the commit-level range (batch bounds ∪ touched ranges) and its
    // row count from the footer, and no stats scan job runs
    val dir = tempDir("graft_prune_dbl_").toString
    CdcSink.writeSnapshot(spark.range(0, 100).select(
      (col("id").cast("double") / 8).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dir)
    val m0 = TxnLog.current(fs, dir).get
    val batch = Seq((1000.5, "c", 200L, 1.0), (1001.5, "c", 201L, 2.0))
      .toDF("key", "op", "offset", "value").withColumn("source_file", lit("bin.1"))
    val (_, jobs) = SparkJobs.during(spark)(CdcSink.merge(spark, batch, dir, None))
    assert(!jobs.exists(_.callSite.startsWith("collect at TxnLog.scala")), jobs.toString)
    val inc = TxnLog.current(fs, dir).get.entries
      .filterNot(e => m0.entries.map(_.path).contains(e.path))
    assert(inc.nonEmpty && inc.forall(e =>
      e.min.contains("1000.5") && e.max.contains("1001.5")), inc.toString)
    assert(inc.flatMap(_.rows).sum == 2 && inc.forall(_.rows.isDefined), inc.toString)
  }

  test("null batch keys degrade to a full (never wrong) merge") {
    val dir = tempDir("graft_prune_null_").toString
    CdcSink.writeSnapshot(
      strLog(("a", "c", 1, 1.0), ("b", "c", 2, 2.0)), dir)
    val batch = Seq((Option.empty[String], "c", 3L, 3.0), (Some("a"), "u", 4L, 10.0))
      .toDF("key", "op", "offset", "value")
      .withColumn("source_file", lit("bin.1"))
    CdcSink.merge(spark, batch, dir, None)
    val got = CdcSink.read(spark, dir)
    assert(got.count() == 3)
    assert(got.filter(col("key").isNull).select("value").head.getDouble(0) == 3.0)
    assert(got.filter(col("key") === "a").select("value").head.getDouble(0) == 10.0)
  }

  test("partitioned tables prune at two levels: partition value, then file range") {
    val dir = tempDir("graft_prune_part_").toString
    // two partitions × 4000 DISTINCT keys (per-partition prefix — the
    // sink's LWW folds per key, so shared keys would supersede each
    // other); compact at 1000/file → ~4 range files per value
    def rows(part: String, pfx: String, base: Long) = spark.range(0, 4000).select(
      format_string(pfx + "%05d", col("id")).as("key"), lit("c").as("op"),
      (col("id") + base).as("offset"), lit(part).as("part"),
      col("id").cast("double").as("value"), lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(
      rows("p1", "a", 0).unionAll(rows("p2", "b", 10000)), dir, Some("part"))
    CdcSink.compact(spark, dir, Some("part"), targetRecordsPerFile = 1000L)
    val m0 = TxnLog.current(fs, dir).get
    val p1Files = m0.entries.filter(_.partition.contains("p1"))
    assert(p1Files.length >= 3, s"expected ~4 p1 files, got ${p1Files.length}")
    assert(m0.entries.forall(e => e.min.isDefined && e.max.isDefined),
      "compaction output lost its per-file stats on the partitioned path")
    // a batch updating ONE narrow key range in p1 only
    val batch = Seq(("a00100", "u", 99999L, "p1", -1.0))
      .toDF("key", "op", "offset", "part", "value")
      .withColumn("source_file", lit("bin.2"))
    CdcSink.merge(spark, batch, dir, Some("part"))
    val m1 = TxnLog.current(fs, dir).get
    val carried = m1.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    // level 1: every p2 file carried; level 2: all p1 files except
    // the one holding k00100
    val p2Paths = m0.entries.filter(_.partition.contains("p2")).map(_.path).toSet
    assert(p2Paths.subsetOf(carried), "untouched partition was rewritten")
    val expectedP1Carried = p1Files.filter(e =>
      !(e.min.get <= "a00100" && "a00100" <= e.max.get)).map(_.path).toSet
    assert(expectedP1Carried.nonEmpty)
    assert(carried.intersect(p1Files.map(_.path).toSet) == expectedP1Carried,
      "file-level pruning inside the touched partition is off")
    val got = CdcSink.read(spark, dir)
      .select("key", "part", "value").as[(String, String, Double)]
      .collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(got == Map("p1" -> 4000, "p2" -> 4000))
    val v = CdcSink.read(spark, dir)
      .filter(col("key") === "a00100" && col("part") === "p1")
      .select("value").head.getDouble(0)
    assert(v == -1.0)
  }

  test("randomized equivalence: pruned merges == legacy full merges, batch by batch") {
    // the strongest pin on the skipping logic: the SAME seeded random
    // batch stream (creates/updates/deletes, keys clustered AND
    // scattered, occasional nulls) applied to two tables — one keeps
    // its stats manifest (pruned path), the other has stats stripped
    // after every commit (legacy full-rewrite path) — must read back
    // identically after every single merge
    val rnd = new scala.util.Random(20260815L)
    val prunedDir = tempDir("graft_prune_eqA_").toString
    val legacyDir = tempDir("graft_prune_eqB_").toString
    def stripStats(dir: String): Unit = {
      val m = TxnLog.current(fs, dir).get
      TxnLog.commit(fs, dir, m.version + 1, m.schema,
        m.entries.map(_.copy(min = None, max = None)))
    }
    def randBatch(offBase: Long): DataFrame = {
      val n = 20 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        val key: Option[String] =
          if (rnd.nextInt(40) == 0) None
          else if (rnd.nextBoolean()) Some(f"k${rnd.nextInt(400)}%05d") // scattered
          else Some(f"k${3000 + rnd.nextInt(40)}%05d")                  // clustered
        val op = rnd.nextInt(10) match {
          case 0     => "d"
          case 1 | 2 => "c"
          case _     => "u"
        }
        (key, op, offBase + i, rnd.nextDouble())
      }
      rows.toDF("key", "op", "offset", "value")
        .withColumn("source_file", lit("bin.eq"))
    }
    val boot = spark.range(0, 4000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(boot, prunedDir)
    CdcSink.compact(spark, prunedDir, None, targetRecordsPerFile = 500L)
    CdcSink.writeSnapshot(boot, legacyDir)
    CdcSink.compact(spark, legacyDir, None, targetRecordsPerFile = 500L)
    stripStats(legacyDir)
    // a sorted multiset, NOT a map — a wrong prune that leaves a
    // duplicate key must not collapse away in the comparison
    def snap(dir: String): Seq[(String, Double)] =
      CdcSink.read(spark, dir).select("key", "value")
        .collect().map(r => String.valueOf(r.getString(0)) -> r.getDouble(1))
        .toSeq.sorted
    (0 until 8).foreach { i =>
      val batch = randBatch(100000L + i * 1000).persist()
      try {
        CdcSink.merge(spark, batch, prunedDir, None)
        CdcSink.merge(spark, batch, legacyDir, None)
        stripStats(legacyDir)
      } finally batch.unpersist()
      assert(snap(prunedDir) == snap(legacyDir), s"diverged after batch $i")
    }
    // and at least one of those merges actually pruned something
    // (clustered batches against ~8 range files)
    val finalEntries = TxnLog.current(fs, prunedDir).get.entries
    assert(finalEntries.exists(e => e.min.isDefined),
      "pruned table lost all stats — the equivalence proved nothing")
  }

  test("writeSnapshotClustered = writeSnapshot + compact in one pass") {
    // the clustered bootstrap write must produce key-disjoint sorted
    // files (so merges prune from version 1) and the exact snapshot a
    // plain writeSnapshot produces
    val log = spark.range(0, 5000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
      // late update for one key: snapshot semantics (latest offset
      // wins) must apply before clustering
      .unionAll(strLog(("k00042", "u", 99999L, -42.0)))
    val dirC = tempDir("graft_snapclust_").toString
    CdcSink.writeSnapshotClustered(log, dirC, targetRecordsPerFile = 1000L)
    val dirP = tempDir("graft_snapplain_").toString
    CdcSink.writeSnapshot(log, dirP)
    CdcSink.compact(spark, dirP, None, targetRecordsPerFile = 1000L)
    def rows(d: String) = CdcSink.read(spark, d)
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(rows(dirC) == rows(dirP))
    assert(rows(dirC)("k00042") == -42.0)
    val m = TxnLog.current(fs, dirC).get
    assert(m.entries.length >= 4, s"expected ~5 files, got ${m.entries.length}")
    assert(m.entries.forall(e => e.min.isDefined && e.max.isDefined))
    val ranges = m.entries.map(e => (e.min.get, e.max.get)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi vs $lo2")
      case _ =>
    }
    // ...and the very first merge after the clustered load prunes
    val m0 = TxnLog.current(fs, dirC).get
    CdcSink.merge(spark, strLog(("k00100", "u", 200000L, -1.0)), dirC, None)
    val carried = TxnLog.current(fs, dirC).get.entries.map(_.path).toSet
      .intersect(m0.entries.map(_.path).toSet)
    assert(carried.size == m0.entries.length - 1)
  }

  test("readRange opens only intersecting files and is exact regardless") {
    val dir = tempDir("graft_prune_read_").toString
    val base = spark.range(0, 5000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(base, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 1000L)
    val got = CdcSink.readRange(spark, dir, "k01200", "k01399")
      .select("key").as[String].collect().sorted
    assert(got.length == 200 && got.head == "k01200" && got.last == "k01399")
    // the physical proof: the pruned read scans fewer files than the
    // manifest lists (exactly the ones whose range intersects)
    val m = TxnLog.current(fs, dir).get
    val expected = m.entries.count(e =>
      e.min.get <= "k01399" && "k01200" <= e.max.get)
    // inputFiles = metadata-level opened-file count; a post-filter
    // input_file_name() would pass even if pruning kept everything
    val scanned = CdcSink.readRange(spark, dir, "k01200", "k01399")
      .inputFiles.length
    assert(expected < m.entries.length, "fixture degenerate")
    assert(scanned <= expected,
      s"read $scanned files, stats said $expected intersect")
    // int keys: typed bounds (string compare would misplace "9")
    val dirI = tempDir("graft_prune_readi_").toString
    CdcSink.writeSnapshot(spark.range(0, 3000).select(
      col("id").cast("int").as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dirI)
    val gotI = CdcSink.readRange(spark, dirI, "9", "11")
      .select("key").as[Int].collect().sorted
    assert(gotI.toSeq == Seq(9, 10, 11))
    // empty range off the end of the keyspace → zero files, empty frame
    assert(CdcSink.readRange(spark, dir, "z", "zz").isEmpty)
  }

  test("timestamp keys prune correctly across a DST fall-back in a non-UTC session tz") {
    // The wrong-prune trap: under America/Los_Angeles the local
    // renderings around 2026-11-01 01:xx repeat across the fall-back,
    // so a session-tz string encoding would misorder instants an hour
    // apart and a merge could skip a file that holds a batch key.
    // Epoch-micros stats are tz-independent; this runs the full
    // bootstrap → compact → localized merge cycle under the DST zone
    // and checks both the prune (files carried forward) and the fold.
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val dir = tempDir("graft_prune_ts_").toString
      // 6000 keys at 1-minute spacing straddling 2026-11-01 08:30 UTC
      // (the PDT→PST transition minute)
      val t0 = 1793521800000000L - 3000L * 60000000L
      val base = spark.range(0, 6000).select(
        timestamp_micros(lit(t0) + col("id") * 60000000L).as("key"),
        lit("c").as("op"), col("id").as("offset"),
        col("id").cast("double").as("value"), lit("bin.1").as("source_file"))
      CdcSink.writeSnapshot(base, dir)
      CdcSink.compact(spark, dir, None, targetRecordsPerFile = 1000L)
      val m0 = TxnLog.current(fs, dir).get
      assert(m0.entries.length >= 5)
      assert(m0.entries.forall(e => e.min.isDefined && e.max.isDefined))
      // stats are the canonical epoch form — parseable as longs
      m0.entries.foreach(e => e.min.get.toLong)
      // update 10 keys RIGHT AT the transition (ids 2995..3004)
      val batch = spark.range(2995, 3005).select(
        timestamp_micros(lit(t0) + col("id") * 60000000L).as("key"),
        lit("u").as("op"), (col("id") + 100000L).as("offset"),
        lit(-1.0).as("value"), lit("bin.1").as("source_file"))
      CdcSink.merge(spark, batch, dir, None)
      val m1 = TxnLog.current(fs, dir).get
      val carried = m1.entries.map(_.path).toSet
        .intersect(m0.entries.map(_.path).toSet)
      assert(carried.size >= m0.entries.length - 2,
        s"only ${carried.size}/${m0.entries.length} carried — ts stats did not prune")
      assert(carried.size < m0.entries.length, "no file rewritten at all")
      val got = CdcSink.read(spark, dir)
        .select(((unix_micros(col("key")) - t0) / 60000000L).cast("long"), col("value"))
        .as[(Long, Double)].collect().toMap
      assert(got.size == 6000)
      (2995L to 3004L).foreach(i => assert(got(i) == -1.0, s"id $i not folded"))
      assert(got(2994L) == 2994.0 && got(3005L) == 3005.0)
      // readRange point lookup with canonical epoch bounds
      val lo = (t0 + 2995L * 60000000L).toString
      val hi = (t0 + 3004L * 60000000L).toString
      val rr = CdcSink.readRange(spark, dir, lo, hi)
      assert(rr.count() == 10)
      assert(rr.inputFiles.length < m1.entries.length)
    }
  }

  test("readRange composes with AS-OF: pre-merge window, throw contract, empty version") {
    val dir = tempDir("graft_prune_asof_").toString
    val base = spark.range(0, 3000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(base, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 500L)
    val preV = TxnLog.current(fs, dir).get.version
    CdcSink.merge(spark,
      strLog(("k00100", "u", 9999, -1.0), ("k00101", "d", 9998, 0.0)), dir, None)
    // current version: the update and the delete are visible
    val post = CdcSink.readRange(spark, dir, "k00099", "k00102")
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(post == Map("k00099" -> 99.0, "k00100" -> -1.0, "k00102" -> 102.0))
    // AS-OF the pre-merge version: the original window, evaluated
    // against THAT manifest's files and stats
    val pre = CdcSink.readRange(spark, dir, "k00099", "k00102", asOf = Some(preV))
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(pre == Map("k00099" -> 99.0, "k00100" -> 100.0,
      "k00101" -> 101.0, "k00102" -> 102.0))
    // ... and the historical read still prunes physically
    val preM = TxnLog.manifestAt(fs, dir, preV).get
    val scanned = CdcSink.readRange(spark, dir, "k00099", "k00102", asOf = Some(preV))
      .inputFiles.length
    assert(preM.entries.length >= 5, "fixture degenerate")
    assert(scanned < preM.entries.length,
      s"as-of read opened $scanned of ${preM.entries.length} files")
    // a never-committed version throws (readVersion's contract) —
    // time travel must not silently serve a different state
    intercept[IllegalArgumentException] {
      CdcSink.readRange(spark, dir, "a", "z", asOf = Some(9999L))
    }
    // a committed-but-EMPTY version (post-truncate shape) yields an
    // empty frame with the version's schema, not the current table
    val cur = TxnLog.current(fs, dir).get
    TxnLog.commit(fs, dir, cur.version + 1, cur.schema, Seq.empty)
    val empty = CdcSink.readRange(spark, dir, "a", "z", asOf = Some(cur.version + 1))
    assert(empty.isEmpty && empty.columns.contains("key"))
  }

  test("randomized equivalence: readRange == full-scan filter across seeded merge streams") {
    // The property the whole read path hangs on: for ANY window and
    // ANY merge history — clustered and scattered keys, updates,
    // deletes, NULL keys, stats-bearing and stats-less files mixed in
    // one manifest — the pruned read returns exactly what a full scan
    // + row filter returns. Merges record stats for every file they
    // write, so the stats-less files (a legacy or foreign writer's
    // shape) are made on purpose: each merge's new files are
    // republished without stats, and mid-stream half of all entries.
    val rnd = new scala.util.Random(20260815L)
    val dir = tempDir("graft_prune_rreq_").toString
    val boot = spark.range(0, 4000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file"))
    CdcSink.writeSnapshot(boot, dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 500L)
    def randBatch(offBase: Long, withNulls: Boolean): DataFrame = {
      val n = 20 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        val key: Option[String] =
          // nulls only in the LAST batch: a null batch key forces a
          // full rewrite, which would destroy the mixed prunable
          // shape the earlier windows are exercising
          if (withNulls && rnd.nextInt(10) == 0) None
          else if (rnd.nextBoolean()) Some(f"k${rnd.nextInt(400)}%05d") // scattered low
          else Some(f"k${1500 + rnd.nextInt(40)}%05d")                  // clustered mid
        val op = rnd.nextInt(10) match {
          case 0     => "d"
          case 1 | 2 => "c"
          case _     => "u"
        }
        (key, op, offBase + i, rnd.nextDouble())
      }
      rows.toDF("key", "op", "offset", "value")
        .withColumn("source_file", lit("bin.eq"))
    }
    def sortedRows(df: DataFrame): Seq[(String, Double)] =
      df.select("key", "value").collect()
        .map(r => String.valueOf(r.getString(0)) -> r.getDouble(1)).toSeq.sorted
    def stripStats(m: TxnLog.Manifest, strip: TxnLog.Entry => Boolean): Unit =
      TxnLog.commit(fs, dir, m.version + 1, m.schema,
        m.entries.map(e => if (strip(e)) e.copy(min = None, max = None) else e))
    (0 until 5).foreach { b =>
      val before = TxnLog.current(fs, dir).get.entries.map(_.path).toSet
      CdcSink.merge(spark, randBatch(500000L + b * 1000, withNulls = b == 4), dir, None)
      stripStats(TxnLog.current(fs, dir).get, e => !before(e.path))
      if (b == 2) {
        // strip stats from half the entries mid-stream too, compacted
        // files included
        val half = TxnLog.current(fs, dir).get.entries.map(_.path).zipWithIndex
          .collect { case (p, i) if i % 2 == 0 => p }.toSet
        stripStats(TxnLog.current(fs, dir).get, e => half(e.path))
      }
      if (b < 4) {
        // the windows below really run against the mixed shape the
        // property claims (the null-key batch touches every file)
        val m = TxnLog.current(fs, dir).get
        assert(m.entries.exists(_.min.isDefined) && m.entries.exists(_.min.isEmpty),
          s"batch $b: the manifest is not mixed")
      }
      (0 until 3).foreach { _ =>
        val a = rnd.nextInt(4500)
        val (lo, hi) = (f"k$a%05d", f"k${a + rnd.nextInt(400)}%05d")
        val pruned = sortedRows(CdcSink.readRange(spark, dir, lo, hi))
        val full = sortedRows(
          CdcSink.read(spark, dir).filter(col("key").between(lo, hi)))
        assert(pruned == full, s"batch $b window [$lo,$hi] diverged")
      }
      if (b == 3) {
        // pruning still happens deep into the stream (before the
        // null-key batch degrades the table to a full rewrite): a
        // narrow window must open fewer files than the manifest lists
        val m = TxnLog.current(fs, dir).get
        val scanned = CdcSink.readRange(spark, dir, "k02100", "k02200")
          .inputFiles.length
        assert(scanned < m.entries.length,
          s"window opened $scanned of ${m.entries.length} files")
      }
    }
  }

  test("stats-less (legacy) manifests fall back to a full merge") {
    val dir = tempDir("graft_prune_legacy_").toString
    CdcSink.writeSnapshot(
      strLog(("a", "c", 1, 1.0), ("b", "c", 2, 2.0)), dir)
    // republish the manifest with stats stripped — the pre-stats format
    val m = TxnLog.current(fs, dir).get
    TxnLog.commit(fs, dir, m.version + 1, m.schema,
      m.entries.map(_.copy(min = None, max = None)))
    CdcSink.merge(spark, strLog(("b", "u", 3, 20.0)), dir, None)
    val got = CdcSink.read(spark, dir)
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 1.0, "b" -> 20.0))
  }
}
