package graft.cdc

import graft.{SharedSpark, SparkJobs}
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The merge's two metadata paths and the jobs a merge runs. A batch
  * of at most [[CdcSink.RefineMaxKeys]] rows is collected and decided
  * on the driver; a larger one is persisted and measured by a ROLLUP.
  * Both must commit the same table and the same log, and the driver
  * path must run no job beyond collecting the batch and writing the
  * result.
  */
class MergePathSpec extends AnyFunSuite with SharedSpark {

  import MergePathSpec.Case
  import spark.implicits._

  private def fs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 3,000 string keys in key-disjoint files of at most 500 rows. */
  private def compactedTable(prefix: String): String = {
    val dir = tempDir(prefix).toString
    CdcSink.writeSnapshot(spark.range(0, 3000).select(
      format_string("k%05d", col("id")).as("key"), lit("c").as("op"),
      col("id").as("offset"), col("id").cast("double").as("value"),
      lit("bin.1").as("source_file")), dir)
    CdcSink.compact(spark, dir, None, targetRecordsPerFile = 500L)
    dir
  }

  /** The same eight updates as a local relation and as a 4-partition
    * parquet scan. */
  private def batches(keys: Seq[String]): Seq[(String, DataFrame)] = {
    val local = keys.zipWithIndex
      .map { case (k, i) => (k, "u", 9000L + i, -1.0, "bin.1") }
      .toDF("key", "op", "offset", "value", "source_file")
    val dir = tempDir("graft_merge_batch_").toString
    local.repartition(4).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions == 4)
    Seq("local relation" -> local, "4-partition parquet" -> scan)
  }

  private def mergeJobs(batch: DataFrame, dir: String): (Int, Int) = {
    val (_, collect) = SparkJobs.during(spark) {
      batch.limit(CdcSink.RefineMaxKeys.toInt + 1).collect()
    }
    val (_, merge) = SparkJobs.during(spark)(CdcSink.merge(spark, batch, dir, None))
    (collect.length, merge.length)
  }

  test("job counts: a small plain merge runs at most 2 jobs beyond collecting its batch") {
    val keys = (100 until 108).map(i => f"k$i%05d")
    batches(keys).foreach { case (kind, batch) =>
      val dir = compactedTable("graft_merge_plain_")
      val m0 = TxnLog.current(fs, dir).get
      val (collect, merge) = mergeJobs(batch, dir)
      assert(merge <= collect + 2, s"$kind: $merge jobs, $collect to collect the batch")
      if (kind == "local relation") assert(collect == 0)
      val m1 = TxnLog.current(fs, dir).get
      assert((m0.entries.map(_.path).toSet -- m1.entries.map(_.path)).size == 1, kind)
      val got = CdcSink.read(spark, dir).filter($"value" === -1.0).select("key")
        .as[String].collect().sorted.toSeq
      assert(got == keys, kind)
    }
  }

  test("job counts: a refine-firing merge runs at most 2 jobs beyond collecting its batch") {
    // keys at both ends of [k00100, k02003]: stage 1 keeps every file
    // that range meets, and the refine narrows them to the files the
    // keys land in
    val keys = (100 until 104).map(i => f"k$i%05d") ++ (2000 until 2004).map(i => f"k$i%05d")
    batches(keys).foreach { case (kind, batch) =>
      val dir = compactedTable("graft_merge_refine_")
      val m0 = TxnLog.current(fs, dir).get
      val inRange = m0.entries.filter(e => e.min.get <= keys.last && e.max.get >= keys.head)
      val hit = m0.entries.filter(e => keys.exists(k => e.min.get <= k && k <= e.max.get))
      assert(hit.length < inRange.length && inRange.length < m0.entries.length)
      val (collect, merge) = mergeJobs(batch, dir)
      assert(merge <= collect + 2, s"$kind: $merge jobs, $collect to collect the batch")
      val m1 = TxnLog.current(fs, dir).get
      val rewritten = m0.entries.filterNot(e => m1.entries.map(_.path).contains(e.path))
      assert(rewritten.map(_.path).toSet == hit.map(_.path).toSet, s"$kind: $rewritten")
      assert(CdcSink.read(spark, dir).filter($"value" === -1.0).count() == 8, kind)
      assert(CdcSink.read(spark, dir).count() == 3000, kind)
    }
  }

  test("job counts: a read of 40 log entries runs no job outside a SQL execution") {
    val dir = tempDir("graft_merge_read40_").toString
    CdcSink.writeSnapshotPreClustered(spark.range(0, 400, 1, 40).select(
      col("id").as("key"), lit("c").as("op"), col("id").as("offset"),
      lit("bin.1").as("source_file")), dir, targetRecordsPerFile = 10L)
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.length == 40 && m.entries.forall(_.size > 0))
    val (n, jobs) = SparkJobs.during(spark) {
      TxnLog.readEntries(spark, dir, m.entries, m.schema).collect().length
    }
    assert(n == 400)
    assert(jobs.nonEmpty && jobs.forall(_.sqlExecution), jobs.toString)
    // the Delta-protocol read of the same table looks each file up on
    // the driver instead of listing them in a job of its own
    val (delta, deltaJobs) = SparkJobs.during(spark)(DeltaLog.read(spark, dir).collect().length)
    assert(delta == 400)
    assert(deltaJobs.nonEmpty && deltaJobs.forall(_.sqlExecution), deltaJobs.toString)
  }

  test("job counts: a one-file compaction runs 1 job") {
    val dir = compactedTable("graft_merge_compact1_")
    assert(TxnLog.current(fs, dir).get.entries.length > 1)
    val (_, jobs) = SparkJobs.during(spark)(CdcSink.compact(spark, dir, None))
    assert(jobs.length == 1, jobs.toString)
    val m = TxnLog.current(fs, dir).get
    assert(m.entries.length == 1 && m.entries.head.rows.contains(3000L))
    assert(m.entries.head.min.contains("k00000") && m.entries.head.max.contains("k02999"))
    assert(CdcSink.read(spark, dir).count() == 3000)
  }

  // ---- driver path == rollup path --------------------------------------

  private def keyOf(t: DataType, i: Int): Any = t match {
    case StringType => f"k$i%03d"
    case DoubleType => i * 0.25 - 5.0
    case LongType => i * 7L - 100L
  }

  private def day(s: String) = java.sql.Date.valueOf(s)

  private val cases = Seq(
    // 11 merges: the 10th compacts
    Case("string keys, unpartitioned", StringType, None, statless = false, merges = 11),
    Case("string keys, stats-less files", StringType, None, statless = true, merges = 6),
    Case("double keys, string partitions", DoubleType,
      Some(("part", StringType, Seq("p1", "p 2", null))), statless = false, merges = 8),
    Case("long keys, date partitions", LongType,
      Some(("day", DateType, Seq(day("2024-01-01"), day("2024-02-29"), null))),
      statless = false, merges = 8))

  /** The bootstrap (60 keys) and `c.merges` seeded batches. Batches
    * mix creates, updates and deletes over 80 keys from two sources.
    * The second is empty and the third carries null keys (others may
    * too), and from the fourth on they carry an extra column (schema
    * evolution). */
  private def frames(c: Case, seed: Long): (DataFrame, Seq[DataFrame]) = {
    val rnd = new scala.util.Random(seed)
    def schema(extra: Boolean) = StructType(
      Seq(StructField("key", c.keyType), StructField("op", StringType),
        StructField("offset", LongType), StructField("value", DoubleType),
        StructField("source_file", StringType)) ++
        c.part.map { case (p, t, _) => StructField(p, t) } ++
        (if (extra) Seq(StructField("extra", StringType)) else Nil))
    def frame(rows: Seq[Row], extra: Boolean) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema(extra))
    def partValue = c.part.map { case (_, _, vs) => vs(rnd.nextInt(vs.length)) }
    val boot = (0 until 60).map(i =>
      Row.fromSeq(Seq(keyOf(c.keyType, i), "c", i.toLong, i.toDouble, "bin.1") ++ partValue))
    val merges = (1 to c.merges).map { b =>
      val extra = b >= 4
      val n = if (b == 2 || rnd.nextInt(6) == 0) 0 else 1 + rnd.nextInt(12)
      val nullKeys = b == 3 || rnd.nextInt(4) == 0
      val rows = (0 until n).map { j =>
        val key =
          if (nullKeys && (b == 3 && j == 0 || rnd.nextInt(3) == 0)) null
          else keyOf(c.keyType, rnd.nextInt(80))
        val op = rnd.nextInt(10) match {
          case 0 => "d"
          case 1 | 2 => "c"
          case _ => "u"
        }
        Row.fromSeq(Seq(key, op, 1000L * b + j, rnd.nextDouble(),
          if (rnd.nextBoolean()) "bin.1" else "bin.2") ++ partValue ++
          (if (extra) Seq(s"x$b$j") else Nil))
      }
      frame(rows, extra)
    }
    (frame(boot, extra = false), merges)
  }

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    finally walk.close()
  }

  /** The table's rows, and its log as the merges left it: per-file
    * partition, row count and key range, the offsets, the merge count
    * and the schema. */
  private def state(dir: String) = {
    val m = TxnLog.current(fs, dir).get
    (CdcSink.read(spark, dir).collect().map(_.toString).sorted.toSeq,
      m.entries.map(e => (e.partition, e.rows, e.min, e.max)).sortBy(_.toString),
      m.offsets, m.mergeCount, m.schemaJson)
  }

  cases.zipWithIndex.foreach { case (c, ci) =>
    test(s"the driver path and the rollup path commit the same table and log: ${c.name}") {
      val (boot, merges) = frames(c, 20261019L + ci)
      val partCol = c.part.map(_._1)
      val base = tempDir("graft_merge_eq_")
      val seedDir = base.resolve("seed").toString
      CdcSink.writeSnapshot(boot, seedDir, partCol)
      CdcSink.compact(spark, seedDir, partCol, targetRecordsPerFile = 12L)
      if (c.statless) {
        val m = TxnLog.current(fs, seedDir).get
        TxnLog.commit(fs, seedDir, m.version + 1, m.schema,
          m.entries.map(_.copy(min = None, max = None, rows = None)))
      }
      val m0 = TxnLog.current(fs, seedDir).get
      assert(m0.entries.length > 1 && m0.entries.forall(_.min.isDefined != c.statless))
      val driverDir = base.resolve("driver")
      val rollupDir = base.resolve("rollup")
      copyTree(base.resolve("seed"), driverDir)
      copyTree(base.resolve("seed"), rollupDir)
      merges.zipWithIndex.foreach { case (batch, i) =>
        CdcSink.merge(spark, batch, driverDir.toString, partCol)
        CdcSink.merge(spark, batch, rollupDir.toString, partCol, driverMaxRows = 0L)
        val (d, r) = (state(driverDir.toString), state(rollupDir.toString))
        assert(d == r, s"merge ${i + 1} of ${c.name}")
      }
      val last = TxnLog.current(fs, driverDir.toString).get
      assert(last.mergeCount == c.merges)
      assert(last.schema.fieldNames.contains("extra"))
    }
  }
}

object MergePathSpec {

  /** One equivalence case: the key type, the partition column (and
    * its values, null among them), whether the bootstrap files lose
    * their stats, and how many merges run. */
  final case class Case(
      name: String,
      keyType: DataType,
      part: Option[(String, DataType, Seq[Any])],
      statless: Boolean,
      merges: Int)
}
