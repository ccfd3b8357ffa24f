package graft.cdc

import graft.SharedSpark
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The sink's single transaction log under failure: a crash at any
  * step of a commit, then a resume that re-merges the same batch,
  * must land on the snapshot and offsets of a run with no crash; two
  * writers racing for one version must leave the loser's commit
  * invisible; and compaction must keep its every-10th-merge cadence,
  * read from the log alone.
  */
class SinkLogSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def fs: FileSystem =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private type Change = (String, String, Long, Double, String)

  private def frame(rows: Seq[Change]): DataFrame =
    rows.toDF("key", "op", "offset", "value", "source_file")

  /** A 200-key bootstrap and `n` seeded change batches: creates,
    * updates and deletes over 250 keys from two sources. */
  private def stream(seed: Long, n: Int): (Seq[Change], Seq[Seq[Change]]) = {
    val rnd = new scala.util.Random(seed)
    val boot = (0 until 200).map(i => (f"k$i%03d", "c", i.toLong, i.toDouble, "bin.1"))
    val batches = (1 to n).map { b =>
      (0 until 5 + rnd.nextInt(20)).map { j =>
        val op = rnd.nextInt(10) match {
          case 0 => "d"
          case 1 | 2 => "c"
          case _ => "u"
        }
        (f"k${rnd.nextInt(250)}%03d", op, 1000L * b + j, rnd.nextDouble(),
          if (rnd.nextBoolean()) "bin.1" else "bin.2")
      }
    }
    (boot, batches)
  }

  private type State = (Seq[(String, Double)], Map[String, Long])

  private def state(dir: String): State =
    (CdcSink.read(spark, dir).select("key", "value").as[(String, Double)]
      .collect().toSeq.sorted, CdcSink.committedOffsets(spark, dir))

  private def commitDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("c-")).map(_.getName).toSet

  private def liveDirs(dir: String): Set[String] =
    TxnLog.current(fs, dir).toSeq.flatMap(_.entries.map(_.path.split('/').head)).toSet

  private def assertRootLayout(dir: String): Unit = {
    val names = new java.io.File(dir).list().toSet
    assert(names.forall(n => n == DeltaLog.LogDirName || n.startsWith("c-")),
      s"table root holds more than the log and commit dirs: ${names.toSeq.sorted}")
  }

  private val Seed = 20261017L
  // bootstrap = v1 and merge i commits v(i+1): merge 9 writes the
  // v10 checkpoint, merge 10 is the first compacting merge
  private val Merges = 11

  /** Snapshot and offsets of the no-crash run after the bootstrap (0)
    * and after each merge. */
  private lazy val baseline: IndexedSeq[State] = {
    val (boot, batches) = stream(Seed, Merges)
    val dir = Files.createTempDirectory("graft_log_base_").toString
    CdcSink.writeSnapshot(frame(boot), dir)
    state(dir) +: batches.map { b => CdcSink.merge(spark, frame(b), dir); state(dir) }.toIndexedSeq
  }

  /** Run the seeded stream with `at` armed during merge `k`, then
    * resume by re-merging batch k and finish the stream. */
  private def crashRun(at: TxnLog.Crash.Value, k: Int): Unit = {
    val (boot, batches) = stream(Seed, Merges)
    val dir = Files.createTempDirectory("graft_log_crash_").toString
    CdcSink.writeSnapshot(frame(boot), dir)
    batches.zipWithIndex.foreach { case (b, i0) =>
      val i = i0 + 1
      if (i != k) CdcSink.merge(spark, frame(b), dir)
      else {
        TxnLog.crashAt = Some(at)
        try CdcSink.merge(spark, frame(b), dir)
        catch {
          case e: RuntimeException if String.valueOf(e.getMessage).contains("injected crash") => ()
        } finally TxnLog.crashAt = None
        // data and offsets commit together: the table shows the state
        // before the batch or after it, never offsets ahead of data
        val after = state(dir)
        assert(after == baseline(i - 1) || after == baseline(i),
          s"$at at merge $k: data and offsets diverged after the crash")
        val orphans = commitDirs(dir) -- liveDirs(dir)
        CdcSink.merge(spark, frame(b), dir) // resume: re-merge the batch
        assert((liveDirs(dir) & orphans).isEmpty,
          s"$at at merge $k: current reaches an orphan dir")
      }
    }
    assert(state(dir) == baseline.last, s"$at at merge $k: resumed run diverged")
    assertRootLayout(dir)
  }

  test("crash matrix: every commit step, then a re-merge, lands on the no-crash run") {
    import TxnLog.Crash._
    crashRun(AfterDataWrite, 10)
    crashRun(BeforePublish, 10)
    crashRun(AfterPublish, 10) // published; the compaction is lost
    crashRun(InCheckpoint, 9) // v10 published; its checkpoint is not
  }

  test("property: a random crash point in the seeded merge stream recovers exactly") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    val gen = for {
      at <- Gen.oneOf(TxnLog.Crash.values.toSeq)
      k <- Gen.choose(1, Merges)
    } yield (at, k)
    val prop = forAll(gen) { case (at, k) => crashRun(at, k); true }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(3)
        .withInitialSeed(org.scalacheck.rng.Seed(Seed)), prop)
    assert(r.passed, r.status.toString)
  }

  test("two writers commit the same version: the second throws and changes nothing") {
    val (boot, _) = stream(Seed, 0)
    val dir = Files.createTempDirectory("graft_log_race_").toString
    CdcSink.writeSnapshot(frame(boot), dir)
    val m = TxnLog.current(fs, dir).get
    def write(key: String, value: Double) = TxnLog.writeCommitDir(
      CdcSink.read(spark, dir).filter($"key" === key)
        .withColumn("value", org.apache.spark.sql.functions.lit(value)),
      dir, None, m.version + 1)
    // both writers resolved version m and wrote their data files
    val a = write("k001", 100.0)
    val b = write("k002", 200.0)
    TxnLog.commit(fs, dir, m.version + 1, m.schema, m.entries ++ a, Map("bin.1" -> 500L))
    val logDir = new java.io.File(dir, DeltaLog.LogDirName)
    val logBefore = logDir.list().toSet
    val before = state(dir)
    intercept[java.util.ConcurrentModificationException] {
      TxnLog.commit(fs, dir, m.version + 1, m.schema, m.entries ++ b, Map("bin.1" -> 900L))
    }
    assert(logDir.list().toSet == logBefore)
    assert(state(dir) == before)
    assert(before._2 == Map("bin.1" -> 500L))
    // a true race for the next version: exactly one writer wins
    val m2 = TxnLog.current(fs, dir).get
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[scala.util.Try[TxnLog.Manifest]]()
    val racers = Seq(a, b).map(entries => new Thread(() => {
      gate.await()
      outcomes.add(scala.util.Try(TxnLog.commit(fs, dir, m2.version + 1, m2.schema, entries)))
      ()
    }))
    racers.foreach(_.start())
    gate.countDown()
    racers.foreach(_.join())
    val results = outcomes.toArray.toSeq.map(_.asInstanceOf[scala.util.Try[TxnLog.Manifest]])
    assert(results.count(_.isSuccess) == 1, results.toString)
    assert(results.flatMap(_.failed.toOption)
      .forall(_.isInstanceOf[java.util.ConcurrentModificationException]), results.toString)
    assert(TxnLog.current(fs, dir).get.version == m2.version + 1)
  }

  test("compaction fires on every 10th merge, counted in the log; the root holds only the log and commit dirs") {
    val dir = Files.createTempDirectory("graft_log_cadence_").toString
    def batch(i: Int, n: Int): DataFrame =
      (0 until n).map(j => (s"k${i}_$j", "c", i * 100L + j, j.toDouble, s"p${j % 3}", "bin.1"))
        .toDF("key", "op", "offset", "value", "part", "source_file")
    CdcSink.writeSnapshot(batch(0, 6), dir, Some("part"))
    (1 to 2 * CdcSink.CompactEvery + 1).foreach { i =>
      // an empty batch still counts as a merge
      CdcSink.merge(spark, batch(i, if (i == 5) 0 else 4), dir, Some("part"))
      assertRootLayout(dir)
    }
    implicit val fmt: Formats = DefaultFormats
    val infos = (0L to TxnLog.current(fs, dir).get.version).map { v =>
      val in = fs.open(new Path(DeltaLog.logDir(dir), f"$v%020d.json"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.split('\n').map(JsonMethods.parse(_) \ "commitInfo").find(_ != JNothing)
    }
    val ops = infos.flatten.map(ci =>
      ((ci \ "operation").extract[String], (ci \ "mergeCount").extract[Long]))
    // OPTIMIZE commits follow exactly the merges counted 10 and 20
    val compactedAfter = ops.sliding(2).collect {
      case Seq((DeltaLog.MergeOp, n), ("OPTIMIZE", _)) => n
    }.toSeq
    assert(compactedAfter == Seq(10L, 20L), ops.toString)
    assert(ops.count(_._1 == "OPTIMIZE") == 2)
    assert(ops.last == ((DeltaLog.MergeOp, 21L)))
    assert(state(dir)._1.length == 6 + 20 * 4)
  }

  test("checkpoint and JSON replay resolve the same version, stats and offsets included; no Spark job") {
    val dir = Files.createTempDirectory("graft_log_ckpt_").toString
    val (boot, batches) = stream(Seed, 2 * CdcSink.CompactEvery + 3)
    CdcSink.writeSnapshot(frame(boot), dir)
    batches.foreach(b => CdcSink.merge(spark, frame(b), dir))
    val hint = new Path(DeltaLog.logDir(dir), "_last_checkpoint")
    assert(fs.exists(hint))
    val ((viaCheckpoint, offsets, versions), jobs) = graft.SparkJobs.during(spark) {
      (TxnLog.current(fs, dir).get, CdcSink.committedOffsets(spark, dir), TxnLog.versions(fs, dir))
    }
    assert(jobs.isEmpty, s"resolving the current version ran ${jobs.size} Spark job(s)")
    assert(offsets == Map("bin.1" -> batches.flatten.filter(_._5 == "bin.1").map(_._3).max,
      "bin.2" -> batches.flatten.filter(_._5 == "bin.2").map(_._3).max))
    assert(viaCheckpoint.offsets == offsets)
    assert(versions.last == viaCheckpoint.version)
    // version 20 resolves from its checkpoint alone; the JSON replay
    // must agree on every file's stats, the offsets and the count
    val at20 = DeltaLog.snapshot(fs, dir, Some(20L)).get
    assert(at20.files.nonEmpty && at20.files.values.forall(_.stats.isDefined))
    assert(at20.txns.nonEmpty && at20.mergeCount > 0)
    val aside = new Path(DeltaLog.logDir(dir), "hint.aside")
    fs.rename(hint, aside)
    try {
      assert(DeltaLog.snapshot(fs, dir, Some(20L)).get == at20)
      assert(TxnLog.current(fs, dir).get == viaCheckpoint)
    } finally fs.rename(aside, hint)
  }
}
