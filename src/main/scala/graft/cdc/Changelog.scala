package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Adapts the driver's `events` table into a canonical changelog.
  *
  * The reference turns binlog WriteRows/UpdateRows/DeleteRows events
  * into Add/Update/Delete records keyed by `unique_key_fields`
  * (rust-cdc `src/delta/mod.rs:107-125`). Here the synthetic app
  * events play the role of the binlog: `event_id` is the (strictly
  * increasing) binlog position, `user_id` the unique key, and the
  * event type determines the operation:
  *
  *   signup → c (insert), error → d (delete), others → u (update).
  *
  * Everything is a narrow projection over the parquet scan, so
  * column pruning + predicate pushdown reach the source — at 100 TB
  * the changelog adapter must never force a wide materialization.
  */
object Changelog {

  /** Valid event-time year window for the unit-drift guard in
    * [[canonicalize]]. The testdata generator's timestamp domain is
    * 2023-2025, and a mis-declared parquet unit lands 1000× off
    * (1970 or ~year 56k) — so a century of slack cleanly separates
    * "data domain widened" from "unit drift". A deployment whose
    * event times legitimately leave this window must widen these
    * bounds DELIBERATELY; the guard failing loudly on such data is
    * its contract, not a bug.
    */
  val GuardMinYear = 2000
  val GuardMaxYear = 2100

  def fromEvents(s: SparkSession, dir: String): DataFrame =
    canonicalize(Tables.events(s, dir))

  /** Binlog DSv2 rows → typed `Dataset[ChangeEvent]` — the seam
    * between `spark.read.format("binlog")` and the CDC operators
    * (CdcApply.snapshot / CdcSink take its toDF directly). `keyPath`
    * is the JSON path of the primary key inside the row image; for
    * composite keys pre-extract and concat instead.
    */
  def fromBinlog(
      binlogRows: DataFrame,
      keyPath: String = "$.col_0"): Dataset[ChangeEvent] = {
    val s = binlogRows.sparkSession
    import s.implicits._
    binlogRows
      .filter(col("op").isNotNull)
      .select(
        concat_ws(".", col("schema_name"), col("table_name")).as("table"),
        col("op"),
        get_json_object(coalesce(col("after"), col("before")), keyPath).as("key"),
        col("file").as("sourceFile"),
        col("log_pos").as("offset"),
        timestamp_seconds(col("ts")).as("ts"),
        col("before"),
        col("after"))
      .as[ChangeEvent]
  }

  def canonicalize(events: DataFrame): DataFrame = {
    // Loud unit-drift guard: a timestamp written in another unit
    // lands 1000× off (1970 or year ~56k), which a windowed agg would
    // quietly fold into one window. Fail the scan on the first bad
    // row instead — cheap codegen'd branch, no UDF.
    val ts = col("ts")
    val tsCol = when(ts.isNull || year(ts).between(GuardMinYear, GuardMaxYear), ts)
      .otherwise(raise_error(concat(
        lit(s"events.ts outside years [$GuardMinYear,$GuardMaxYear] — " +
          "timestamp unit drift? got "),
        ts.cast("string"))))
    events.select(
      lit("events").as("table"),
      when(col("event_type") === "signup", Op.Insert)
        .when(col("event_type") === "error", Op.Delete)
        .otherwise(Op.Update).as("op"),
      col("user_id").cast("string").as("key"),
      lit("mysql-bin.000001").as("source_file"),
      col("event_id").as("offset"),
      tsCol.as("ts"),
      col("event_type"),
      col("value"),
      col("props"))
  }
}
