package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Line(l_returnflag: String, l_quantity: Double)

class RelationalSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.01"

  test("q27 approximate sketches land within tolerance of exact values") {
    val approx = SparkEntry.queries("q27_approx_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("p"),
        countDistinct(col("l_orderkey")).as("o"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    exact.foreach { case (flag, (p, o, m)) =>
      val (ap, ao, am) = approx(flag)
      assert(math.abs(ap - p).toDouble / p < 0.1, s"$flag parts: $ap vs $p")
      assert(math.abs(ao - o).toDouble / o < 0.1, s"$flag orders: $ao vs $o")
      assert(math.abs(am - m) / m < 0.05, s"$flag median: $am vs $m")
    }
  }

  // --- plan audit: broadcast-hint discipline at the 100 TB target ---
  // An explicit broadcast() hint pins the strategy regardless of size,
  // so a hint on a table that grows with the scale factor (customer,
  // part, supplier, orders, lineitem) is an OOM at scale even though
  // it "works" at bench SF. Only constant-size tables (nation = 25
  // rows, region = 5 rows) may carry hints.
  private def hintedSources(name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
    plan.collect { case h: ResolvedHint =>
      h.child.collectLeaves().collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      }.mkString(";")
    }
  }

  private val scalingTables =
    Seq("customer", "part", "supplier", "orders", "lineitem", "events", "documents", "embeddings")

  test("plan audit: no broadcast hint references an SF-scaling table") {
    for (q <- Seq("q3_join_agg", "q13_in_subquery", "q15_multi_join", "q4_semi_join", "q5_anti_join")) {
      for (hinted <- hintedSources(q); t <- scalingTables)
        assert(!hinted.contains(s"/$t.parquet"),
          s"$q force-broadcasts SF-scaling table $t — driver OOM at 100× scale")
    }
    // q15 keeps its hints on the constant-size dims only
    val q15Hints = hintedSources("q15_multi_join")
    assert(q15Hints.size == 2, s"q15 expected nation+region hints, got: $q15Hints")
    assert(q15Hints.exists(_.contains("/nation.parquet")) && q15Hints.exists(_.contains("/region.parquet")))
  }

  test("plan audit: size-based planning still picks BroadcastHashJoin at small SF") {
    // With the hints gone, Catalyst/AQE must still collapse the dim
    // joins to BHJ while the dim is below autoBroadcastJoinThreshold —
    // i.e. removing the hint costs nothing at bench scale.
    def bhjCount(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // materialize so AQE finalizes the physical plan
      "BroadcastHashJoin".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    assert(bhjCount("q3_join_agg") >= 1, "q3 customer join should be BHJ at sf0.01")
    assert(bhjCount("q13_in_subquery") >= 1, "q13 part semi join should be BHJ at sf0.01")
    assert(bhjCount("q15_multi_join") >= 3, "q15 dims should be BHJ at sf0.01")
  }

  test("typed Dataset API: case-class encoder aggregation matches untyped") {
    import spark.implicits._
    val ds = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").as[Line]
    val typedResult = ds.groupByKey(_.l_returnflag)
      .mapGroups((flag, it) => (flag, it.map(_.l_quantity).sum))
      .collect().toMap
    val untyped = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(sum("l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    typedResult.foreach { case (flag, v) =>
      assert(math.abs(v - untyped(flag)) / untyped(flag) < 1e-9)
    }
  }
}
