package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangesSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  test("pointInInterval matches the naive theta join on real tables") {
    val points = Tables.lineitem(spark, sf)
      .select(col("l_shipdate").as("d")).distinct()
    val intervals = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      col("o_orderdate").as("s"),
      expr("timestampadd(DAY, CAST(o_orderkey % 30 AS INT) + 1, o_orderdate)").as("e"))
    val bucketed = operators.Ranges
      .pointInInterval(points, "d", intervals, "s", "e")
      .select("d", "o_orderkey")
    val naive = points.join(intervals, col("d").between(col("s"), col("e")))
      .select("d", "o_orderkey")
    assert(bucketed.count() > 0)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }

  test("pointInInterval plans an equi-join, not a nested loop") {
    val points = Tables.lineitem(spark, sf)
      .select(col("l_shipdate").as("d")).distinct()
    val intervals = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").as("s"),
        expr("timestampadd(DAY, 10, o_orderdate)").as("e"))
    val plan = operators.Ranges
      .pointInInterval(points, "d", intervals, "s", "e")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("interval endpoints are inclusive on both ends") {
    import spark.implicits._
    val points = Seq(
      ts("2024-01-01 00:00:00"), // == start
      ts("2024-01-11 00:00:00"), // == end
      ts("2024-01-11 00:00:01"), // 1s past end
      ts("2023-12-31 23:59:59")  // 1s before start
    ).toDF("p")
    val intervals = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-11 00:00:00"))
    ).toDF("id", "s", "e")
    val got = operators.Ranges.pointInInterval(points, "p", intervals, "s", "e")
      .select("p").collect().map(_.getTimestamp(0)).toSet
    assert(got === Set(ts("2024-01-01 00:00:00"), ts("2024-01-11 00:00:00")))
  }

  test("intervals spanning many buckets and sub-bucket intervals both match once") {
    import spark.implicits._
    val points = Seq(ts("2024-03-15 12:00:00")).toDF("p")
    val intervals = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")), // ~52 buckets
      (2L, ts("2024-03-15 11:00:00"), ts("2024-03-15 13:00:00")), // within one bucket
      (3L, ts("2024-03-16 00:00:00"), ts("2024-03-17 00:00:00"))  // miss
    ).toDF("id", "s", "e")
    val got = operators.Ranges.pointInInterval(points, "p", intervals, "s", "e")
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("intervalOverlap finds each overlapping pair exactly once") {
    import spark.implicits._
    // a1 overlaps b1 (nested, multi-bucket) and b2 (edge touch);
    // a2 overlaps nothing; a3 overlaps b1 only.
    val a = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-03-01 00:00:00")),
      (20L, ts("2025-01-01 00:00:00"), ts("2025-01-02 00:00:00")),
      (30L, ts("2024-02-01 00:00:00"), ts("2024-02-02 00:00:00"))
    ).toDF("a_id", "a_s", "a_e")
    val b = Seq(
      (1L, ts("2024-01-15 00:00:00"), ts("2024-02-15 00:00:00")),
      (2L, ts("2024-03-01 00:00:00"), ts("2024-04-01 00:00:00"))
    ).toDF("b_id", "b_s", "b_e")
    val got = operators.Ranges
      .intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e")
      .groupBy("a_id", "b_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((10L, 1L) -> 1L, (10L, 2L) -> 1L, (30L, 1L) -> 1L))
  }

  test("intervalOverlap matches the naive theta join on real tables") {
    // order windows vs themselves, restricted to two customers so the
    // naive cross check stays small
    val base = Tables.orders(spark, sf).filter(col("o_custkey") <= 2)
    val a = base.select(col("o_orderkey").as("a_id"),
      col("o_orderdate").as("a_s"),
      expr("timestampadd(DAY, CAST(o_orderkey % 30 AS INT) + 1, o_orderdate)").as("a_e"))
    val b = base.select(col("o_orderkey").as("b_id"),
      col("o_orderdate").as("b_s"),
      expr("timestampadd(DAY, CAST(o_orderkey % 20 AS INT) + 1, o_orderdate)").as("b_e"))
    val bucketed = operators.Ranges
      .intervalOverlap(a, "a_s", "a_e", b, "b_s", "b_e").select("a_id", "b_id")
    val naive = a.join(b, col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id")
    assert(bucketed.count() > 0)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
  }
}
