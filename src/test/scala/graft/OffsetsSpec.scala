package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.Offsets

/** [[Offsets.densePerGroup]] must equal the row_number window twin
  * exactly — same dense per-group numbering — while running at range-
  * shuffle width instead of one task per group.
  */
class OffsetsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("densePerGroup equals the row_number window twin") {
    // 4 groups × ~5k rows through 8 range partitions: every group
    // spans multiple partition boundaries, which is the case the
    // cross-partition prefix sum exists for
    val df = spark.range(0, 20000).select(
      (col("id") % 4).as("grp"),
      // scatter the order key so input order ≠ group order
      ((col("id") * 7919L) % 100000L * 100 + col("id")).as("ord"),
      col("id").as("payload"))
    val got = Offsets.densePerGroup(df, Seq("grp"), "ord", "off", numPartitions = Some(8))
      .select("grp", "ord", "off")
    val w = Window.partitionBy(col("grp")).orderBy(col("ord"))
    val want = df.select(col("grp"), col("ord"),
      row_number().over(w).cast("long").as("off"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // dense: per group, offsets are exactly 1..n
    val dense = got.groupBy("grp")
      .agg(count(lit(1)).as("n"), max("off").as("mx"), min("off").as("mn"),
        countDistinct("off").as("nd"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("nd") =!= col("n"))
    assert(dense.isEmpty)
  }

  test("null group values and empty frames") {
    val df = Seq((Some(1L), 10L), (None, 20L), (Some(1L), 5L), (None, 7L))
      .toDF("grp", "ord")
    val got = Offsets.densePerGroup(df, Seq("grp"), "ord", "off")
      .as[(Option[Long], Long, Long)].collect().toSet
    assert(got == Set((Some(1L), 5L, 1L), (Some(1L), 10L, 2L),
      (None, 7L, 1L), (None, 20L, 2L)))
    val empty = Offsets.densePerGroup(
      spark.range(0).select(col("id").as("grp"), col("id").as("ord")),
      Seq("grp"), "ord", "off")
    assert(empty.isEmpty && empty.columns.toSeq == Seq("grp", "ord", "off"))
  }
}
