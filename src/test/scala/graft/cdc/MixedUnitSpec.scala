package graft.cdc

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the setup-time guard for landing dirs that mix timestamp
  * units across part files (advisor, r8): no single stream schema
  * can read nanos-as-long and micros parts together — whichever unit
  * it declares silently corrupts the other files 1000× — so
  * eventsStreamSchema must fail fast with a clear error instead of
  * dispatching on one arbitrary footer.
  */
class MixedUnitSpec extends AnyFunSuite with SharedSpark {

  private def writeOnePart(src: java.io.File, dest: java.io.File): Unit = {
    val part = src.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dest, part.getName).toPath)
  }

  test("a landing dir mixing nanos-as-long and micros parts fails fast at setup") {
    val root = tempDir("mixed_unit_").toFile
    val eventsDir = new java.io.File(root, "events.parquet")
    eventsDir.mkdirs()
    import spark.implicits._
    val scratch = tempDir("mixed_scratch_")
    // micros part: a real annotated TIMESTAMP(MICROS) column (the
    // testdata generator's format — Spark's own default is legacy
    // INT96, which is neither unit)
    val micros = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val mDir = scratch.resolve("m").toString
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      micros.coalesce(1).write.parquet(mDir)
    }
    // nanos-as-long part: plain INT64 ts (the old GenScale write-back)
    val nanos = Seq((2L, 1704067200000000000L, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val nDir = scratch.resolve("n").toString
    nanos.coalesce(1).write.parquet(nDir)
    writeOnePart(new java.io.File(mDir), eventsDir)
    writeOnePart(new java.io.File(nDir), eventsDir)
    val e = intercept[IllegalStateException](
      Tables0.eventsStreamSchema(spark, root.toString))
    assert(e.getMessage.contains("mixes timestamp units"), e.getMessage)
    // homogeneous dirs still dispatch cleanly
    val onlyMicros = tempDir("only_micros_").toFile
    val omDir = new java.io.File(onlyMicros, "events.parquet"); omDir.mkdirs()
    writeOnePart(new java.io.File(mDir), omDir)
    assert(Tables0.eventsStreamSchema(spark, onlyMicros.toString) ==
      Tables0.eventsSchemaMicros)
    val onlyNanos = tempDir("only_nanos_").toFile
    val onDir = new java.io.File(onlyNanos, "events.parquet"); onDir.mkdirs()
    writeOnePart(new java.io.File(nDir), onDir)
    assert(Tables0.eventsStreamSchema(spark, onlyNanos.toString) ==
      Tables0.eventsSchema)
    // a batch read runs the same probe, so it fails fast the same way
    val batch = intercept[IllegalStateException](graft.Tables.events(spark, root.toString))
    assert(batch.getMessage.contains("mixes timestamp units"), batch.getMessage)
  }

  /** `<dir>/events.parquet` as one file whose `ts` is annotated
    * TIMESTAMP(NANOS,true), the unit Spark 4 cannot infer. */
  private def writeTrueNanosEvents(
      dir: java.io.File,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
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
      .builder(new org.apache.hadoop.fs.Path(new java.io.File(dir, "events.parquet").toString))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try rows.foreach { case (id, ts, user, typ, v) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ts)
        .append("user_id", user).append("event_type", typ).append("value", v)
        .append("props", "{}"))
    } finally w.close()
  }

  test("true TIMESTAMP(NANOS) events read on a session without the legacy flag") {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    assert(s.conf.get(flag, "false") == "false")
    val dir = tempDir("true_nanos_").toFile
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z in nanos
    writeTrueNanosEvents(dir, Seq(
      (1L, base + 123456789L, 7L, "signup", 1.5),
      (2L, base + 60000000999L, 7L, "click", 2.5),
      (3L, base + 120000001000L, 8L, "signup", 4.0)))
    // Tables.events: the raw nanos, through the declared long schema
    val raw = graft.Tables.events(s, dir.toString)
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(raw.orderBy("event_id").collect().map(_.getLong(1)).toSeq ==
      Seq(base + 123456789L, base + 60000000999L, base + 120000001000L))
    // Changelog.fromEvents: truncated to the µs instant
    val micros = Changelog.fromEvents(s, dir.toString).orderBy("offset")
      .select(col("ts")).collect().map(_.getTimestamp(0).toInstant).toSeq
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    assert(micros == Seq(t0.plusNanos(123456000L), t0.plusNanos(60000000000L),
      t0.plusNanos(120000001000L)))
    // the streaming upsert reads the same file and lands on the batch fold
    val streamed = CdcStream.applyAvailableNow(s, dir.toString,
      s"true_nanos_${System.nanoTime()}", statePartitions = Some(2))
      .select("key", "last_offset").orderBy("key")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == Seq(("7", 2L), ("8", 3L)))
    assert(s.conf.get(flag, "false") == "false")
  }
}
