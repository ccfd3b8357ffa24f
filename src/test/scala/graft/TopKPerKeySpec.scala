package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopKPerKey

class TopKPerKeySpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.01"

  test("TopKPerKey matches the window row_number formulation") {
    val orders = Tables.orders(spark, sf)
    val viaPlan = TopKPerKey(orders, Seq("o_orderpriority"), "o_totalprice", 5)
      .select("o_orderpriority", "o_totalprice").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted.toSeq }
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
    val viaWindow = orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("o_orderpriority", "o_totalprice").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted.toSeq }
    assert(viaPlan == viaWindow)
  }

  test("plan contains TopKPerKeyExec with exactly one keyed exchange, no sort") {
    val df = TopKPerKey(Tables.orders(spark, sf), Seq("o_orderpriority"), "o_totalprice", 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), plan)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning(o_orderpriority")) == 1, plan)
    assert(!plan.contains("Sort ["), s"unexpected sort in:\n$plan")
  }

  test("k larger than any group returns every row") {
    val n = Tables.orders(spark, sf).count()
    assert(TopKPerKey(Tables.orders(spark, sf), Seq("o_orderpriority"), "o_totalprice",
      1000000).count() == n)
  }

  test("ordered: mixed directions and a string tiebreak match the window form") {
    val orders = Tables.orders(spark, sf)
    // top-4 per priority by totalprice DESC then status ASC — the
    // string tiebreak exercises the GenerateOrdering path (no
    // double-cast possible)
    val viaPlan = TopKPerKey.ordered(orders, Seq("o_orderpriority"),
        Seq(("o_totalprice", false), ("o_orderstatus", true)), 4)
      .select("o_orderpriority", "o_totalprice", "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderstatus").asc)
    val viaWindow = orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
      .select("o_orderpriority", "o_totalprice", "o_orderstatus").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    assert(viaPlan == viaWindow)
  }

  test("ordered: long order column compares natively (values past 2^53)") {
    import spark.implicits._
    // 2^53 and 2^53+1 are the classic double-collapse pair: a
    // double-cast ordering cannot tell them apart, native long
    // ordering must
    val big = 9007199254740992L // 2^53
    val df = Seq(("a", big), ("a", big + 1L), ("a", big - 1L), ("b", 1L))
      .toDF("k", "v")
    val top = TopKPerKey.ordered(df, Seq("k"), Seq(("v", false)), 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(top("a") == big + 1L)
    assert(top("b") == 1L)
  }

  test("cur_tfidf rides the heap: no full-width sort below the rank window") {
    val df = SparkEntry.queries("cur_tfidf")(spark, sf)
    df.collect() // finalize the AQE plan before inspecting it
    val nodes = PlanProbe.nodes(df)
    assert(nodes.exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]), nodes.mkString("\n"))
    // the only doc_id-keyed exchange is the heap's; the ≤3-rows-per-
    // doc rank window reuses it rather than re-partitioning
    assert(PlanProbe.hashExchangesOn(df, "doc_id").length == 1,
      df.queryExecution.executedPlan.toString)
  }

  test("q30_kmv_sketch: estimates land within 20% of exact, via the heap plan") {
    val rows = SparkEntry.queries("q30_kmv_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("est_distinct").toDouble
      val exact = r.getAs[Long]("n_exact").toDouble
      assert(math.abs(est - exact) / exact < 0.2,
        s"flag ${r.getString(0)}: KMV est $est vs exact $exact")
    }
  }
}
