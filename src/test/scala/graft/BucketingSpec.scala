package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located (bucketed) joins — the zero-shuffle fact-fact join
  * shape for 100 TB: both tables pre-bucketed on the join key means
  * the sort-merge join reads bucket i of each side on the same
  * executor, with NO Exchange in the plan. This spec proves the
  * property on the actual executed plan.
  */
class BucketingSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("bucketed fact-fact join plans without any Exchange") {
    // force the sort-merge join path
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the shared warehouse dir may hold these tables from an earlier
      // run — clear both catalog entries and stale locations
      for (t <- Seq("li_bucketed", "ord_bucketed")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        org.apache.commons.io.FileUtils.deleteQuietly(loc)
      }
      Tables.lineitem(spark, sf)
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
      Tables.orders(spark, sf)
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")

      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))

      val plan = joined.queryExecution.executedPlan.toString
      val joinExchanges = plan.linesIterator
        .takeWhile(!_.contains("HashAggregate")) // ignore the final agg exchange
        .count(_.contains("Exchange"))
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // neither join input may shuffle: bucket layout IS the distribution
      val exchangesBeforeJoinInputs = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning(l_orderkey") ||
          l.contains("Exchange hashpartitioning(o_orderkey"))
        .size
      assert(exchangesBeforeJoinInputs == 0,
        s"join inputs shuffled despite bucketing:\n${plan.take(3000)}")

      // and the result is still correct
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets == direct)
    }
  }
}
