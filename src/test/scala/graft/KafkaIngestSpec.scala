package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{CdcSink, KafkaIngest}

/** One Debezium-style record: (topic, partition, offset) coordinates
  * plus the decoded change body (reference Record::Kafka,
  * src/delta/mod.rs:49).
  */
case class KRec(
    topic: String,
    partition: Int,
    offset: Long,
    key: String,
    op: String,
    event_type: String,
    value: Double)

class KafkaIngestSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def snapshot(dir: String): Map[String, Double] =
    CdcSink.read(spark, dir).select("key", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("batch ingest: per-partition offsets commit monotonically") {
    val dir = tempDir("kafka_batch_").toString
    val d1 = Seq(
      KRec("t", 0, 0, "a", "c", "signup", 1.0),
      KRec("t", 0, 1, "a", "u", "click", 2.0),
      KRec("t", 1, 0, "b", "c", "signup", 3.0)).toDS.toDF
    assert(KafkaIngest.ingest(spark, d1, dir) == 3)
    assert(snapshot(dir) == Map("a" -> 2.0, "b" -> 3.0))
    assert(CdcSink.committedOffsets(spark, dir) == Map("t/0" -> 1L, "t/1" -> 0L))

    // redelivery overlap: partition 0 resends offsets 0-2; only 2 is new
    val d2 = Seq(
      KRec("t", 0, 0, "a", "c", "signup", 1.0),
      KRec("t", 0, 1, "a", "u", "click", 2.0),
      KRec("t", 0, 2, "a", "d", "error", 0.0),
      KRec("t", 1, 1, "b", "u", "purchase", 9.0)).toDS.toDF
    assert(KafkaIngest.ingest(spark, d2, dir) == 2,
      "redelivered offsets must be dropped before the merge")
    assert(snapshot(dir) == Map("b" -> 9.0)) // a deleted at t/0:2
    assert(CdcSink.committedOffsets(spark, dir) == Map("t/0" -> 2L, "t/1" -> 1L))

    // a fully-stale delivery merges nothing
    assert(KafkaIngest.ingest(spark, d1, dir) == 0)
    assert(snapshot(dir) == Map("b" -> 9.0))
  }

  test("streaming ingest resumes across restart without re-applying") {
    val dir = tempDir("kafka_stream_").toString
    val ckpt = tempDir("kafka_ckpt_").toString

    val in1 = MemoryStream[KRec]
    val q1 = KafkaIngest.ingestStream(in1.toDF, dir, s"kingest_${System.nanoTime()}")
      .option("checkpointLocation", ckpt)
      .start()
    in1.addData(
      KRec("t", 0, 0, "a", "c", "signup", 1.0),
      KRec("t", 1, 0, "b", "c", "signup", 2.0))
    q1.processAllAvailable()
    in1.addData(KRec("t", 0, 1, "a", "u", "click", 5.0))
    q1.processAllAvailable()
    q1.stop()
    assert(snapshot(dir) == Map("a" -> 5.0, "b" -> 2.0))
    val committed = CdcSink.committedOffsets(spark, dir)
    assert(committed == Map("t/0" -> 1L, "t/1" -> 0L))

    // "restart": a new consumer replays the whole topic from 0 (the
    // at-least-once worst case) plus one genuinely-new record — the
    // committed offset map, not the stream checkpoint, suppresses the
    // replay
    val in2 = MemoryStream[KRec]
    val q2 = KafkaIngest.ingestStream(in2.toDF, dir, s"kingest_${System.nanoTime()}")
      .option("checkpointLocation", tempDir("kafka_ckpt2_").toString)
      .start()
    in2.addData(
      KRec("t", 0, 0, "a", "c", "signup", 1.0),
      KRec("t", 0, 1, "a", "u", "click", 5.0),
      KRec("t", 1, 0, "b", "c", "signup", 2.0),
      KRec("t", 1, 1, "b", "u", "purchase", 7.0))
    q2.processAllAvailable()
    q2.stop()
    // replayed a@0, a@1, b@0 must NOT regress the table; b@1 applies
    assert(snapshot(dir) == Map("a" -> 5.0, "b" -> 7.0))
    assert(CdcSink.committedOffsets(spark, dir) == Map("t/0" -> 1L, "t/1" -> 1L))
  }
}
