package graft.cdc

import graft.SharedSpark
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operators leave the caller's session conf alone: nanos `ts` is
  * read through a declared schema, and each stateful stream carries
  * its state settings on a clone of the caller's session. So two
  * stateful streams can run at once on one session without either
  * seeing the other's settings.
  */
class SessionConfSpec extends AnyFunSuite with SharedSpark {

  /** A small events table: µs timestamps spread over a few days, every
    * event type Changelog maps (signup/error/others), 40 users. */
  private lazy val eventsDir: String = {
    val dir = tempDir("session_conf_").toString
    spark.range(2000).select(
        col("id").as("event_id"),
        expr("cast(timestamp_micros(1704067200000000 + id * 211000000) as timestamp_ntz)")
          .as("ts"),
        (col("id") % 40).as("user_id"),
        element_at(array(Seq("signup", "click", "purchase", "view", "error").map(lit): _*),
          (col("id") % 5 + 1).cast("int")).as("event_type"),
        ((col("id") % 17) * 1.5).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("operators leave the caller's session conf unchanged") {
    val s = spark.newSession()
    val dir = eventsDir
    val ops: Seq[(String, () => Any)] = Seq(
      "Tables.events" -> (() => graft.Tables.events(s, dir).count()),
      "Changelog.fromEvents" -> (() => Changelog.fromEvents(s, dir).count()),
      "applyAvailableNow" -> (() => CdcStream.applyAvailableNow(s, dir,
        s"conf_apply_${System.nanoTime()}", statePartitions = Some(3)).count()),
      "streamingDedup" -> (() => CdcStream.streamingDedup(s, dir,
        s"conf_dedup_${System.nanoTime()}", statePartitions = Some(3)).count()),
      "streamStreamJoin" -> (() => CdcStream.streamStreamJoin(s, dir,
        s"conf_join_${System.nanoTime()}", statePartitions = Some(3)).count()),
      "windowedAgg" -> (() => CdcStream.windowedAgg(s, dir,
        s"conf_window_${System.nanoTime()}", statePartitions = Some(3)).count()),
      "ingestInto" -> (() => CdcStream.ingestInto(s, dir,
        tempDir("conf_ingest_").toString,
        queryName = s"conf_ingest_${System.nanoTime()}")),
      "Listeners.probe" -> (() => Listeners.probe(s, dir).count()))
    ops.foreach { case (name, op) =>
      val before = s.conf.getAll
      op()
      assert(s.conf.getAll == before, s"$name changed the session conf")
    }
  }

  /** The numbered partition dirs under `state/0` of the newest
    * scratch generation's checkpoint for one base query name. */
  private def statePartitionsOf(base: String): Int = {
    val gen = graft.Scratch.root.resolve(base).toFile.listFiles()
      .filter(_.getName.startsWith("g_")).maxBy(_.lastModified())
    new java.io.File(gen, "ckpt/state/0").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))
  }

  test("two stateful streams run at once on one session, each with its own state partitions") {
    val s = spark.newSession()
    // a default neither stream asks for, so each count below is its own
    s.conf.set("spark.sql.shuffle.partitions", "5")
    val dir = eventsDir
    def dedup(base: String) = rows(CdcStream.streamingDedup(s, dir,
      s"${base}_${System.nanoTime()}", statePartitions = Some(4)))
    def window(base: String) = rows(CdcStream.windowedAgg(s, dir,
      s"${base}_${System.nanoTime()}", statePartitions = Some(8))
      .orderBy("day", "event_type"))
    val wantDedup = dedup("seq_dedup")
    val wantWindow = window("seq_window")
    assert(wantDedup.nonEmpty && wantWindow.nonEmpty)

    val before = s.conf.getAll
    val both = Future.sequence(Seq(
      Future(dedup("conc_dedup")), Future(window("conc_window"))))
    val Seq(gotDedup, gotWindow) = Await.result(both, 5.minutes)
    assert(gotDedup == wantDedup)
    assert(gotWindow == wantWindow)
    assert(statePartitionsOf("conc_dedup") == 4)
    assert(statePartitionsOf("conc_window") == 8)
    assert(s.conf.getAll == before)
  }
}
