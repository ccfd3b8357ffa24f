package graft.cdc

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** The events table has one `ts` unit, TIMESTAMP(MICROS): graft
  * declares it and probes no footer. An events file in nanos, whether
  * annotated TIMESTAMP(NANOS) or a plain INT64, must raise on every
  * read path rather than return timestamps 1000× off.
  */
class MixedUnitSpec extends AnyFunSuite with SharedSpark {

  private val base = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in nanos
  private val rows = Seq(
    (1L, base + 123456789L, 7L, "signup", 1.5),
    (2L, base + 60000000999L, 7L, "click", 2.5),
    (3L, base + 120000001000L, 8L, "signup", 4.0))

  /** `<dir>/events.parquet` as one file whose `ts` is annotated
    * TIMESTAMP(NANOS,true). */
  private def annotatedNanos(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("nanos_annotated_")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try rows.foreach { case (id, ts, user, typ, v) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ts)
        .append("user_id", user).append("event_type", typ).append("value", v)
        .append("props", "{}"))
    } finally w.close()
    dir.toString
  }

  /** `<dir>/events.parquet` as a dir of parts whose `ts` is a plain
    * INT64 holding nanos. */
  private def plainInt64Nanos(): String = {
    import spark.implicits._
    val dir = tempDir("nanos_int64_")
    rows.map { case (id, ts, user, typ, v) => (id, ts, user, typ, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  /** Spark's own parquet type errors, or canonicalize's year guard. */
  private val typeErrors = Seq("PARQUET_TYPE_ILLEGAL", "PARQUET_COLUMN_DATA_TYPE_MISMATCH",
    "DATATYPE_MISMATCH", "timestamp unit drift")

  test("nanos events raise") {
    for (dir <- Seq(annotatedNanos(), plainInt64Nanos())) {
      val batch = intercept[Exception](Changelog.fromEvents(spark, dir).collect())
      assert(typeErrors.exists(batch.getMessage.contains), batch.getMessage)
      val streamed = intercept[Exception](CdcStream.applyAvailableNow(spark, dir,
        s"nanos_events_${System.nanoTime()}", statePartitions = Some(2)).collect())
      assert(typeErrors.exists(streamed.getMessage.contains), streamed.getMessage)
    }
  }
}
