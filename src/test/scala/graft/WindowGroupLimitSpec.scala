package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard for the similarity retrieval shuffles.
  *
  * cosineTopK and quantizedRerankTopK rely on the `rk <= k` predicate
  * over a row_number window planning a WindowGroupLimit whose PARTIAL
  * mode prunes each map partition to its top-k rows per query BEFORE
  * the q_id exchange — that is what bounds the vector-bearing shuffle
  * to partitions × k × |queries| rows instead of corpus × |queries|.
  * A conf change or Spark upgrade that silently dropped the partial
  * prune (spark.sql.window.group.limit.threshold, a rewrite of the
  * InferWindowGroupLimit rule, ...) would keep results identical
  * while turning the shuffle into a scale-killer, which no
  * correctness gate can catch. So assert the executed plan.
  */
class WindowGroupLimitSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** The Partial-mode prune must sit below the exchange; Final mode
    * alone means every scored row crossed the shuffle first.
    * InferWindowGroupLimit is an optimizer rule, so the pre-execution
    * physical plan already shows the node — no execution needed (and
    * executing the frame would NOT finalize df.queryExecution's own
    * adaptive plan anyway: a write action plans its own
    * QueryExecution).
    */
  private def assertPartialPrune(
      df: DataFrame, what: String, minNodes: Int = 1,
      minPartial: Int = 1): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val wglLines = plan.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    assert(wglLines.size >= minNodes,
      s"$what: expected >=$minNodes WindowGroupLimit nodes, got ${wglLines.size}:\n${plan.take(4000)}")
    // count, not exists: with two stages, losing Partial on stage 1
    // (the map-side prune — the scale-critical one) while stage 2
    // keeps it must still fail
    val partialCount = wglLines.count(_.contains("Partial"))
    assert(partialCount >= minPartial,
      s"$what: expected >=$minPartial Partial (map-side) WindowGroupLimit nodes, got $partialCount:\n${wglLines.mkString("\n")}")
  }

  test("cosineTopK plans a Partial WindowGroupLimit below the q_id exchange") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val df = operators.Similarity.cosineTopK(
      emb, "vec_id", "embedding", queries, "q_id", "q_vec", 5)
    assertPartialPrune(df, "cosineTopK")
  }

  test("sim_pq_adc's decimal-ordered top-k keeps the Partial prune") {
    // the ADC score is DECIMAL (order-free sum) — a type-restricted
    // regression of InferWindowGroupLimit would hit this window first
    val df = SparkEntry.queries("sim_pq_adc")(spark, sf)
    assertPartialPrune(df, "sim_pq_adc")
  }

  test("cur_bm25's decimal-scored top-k per query keeps the Partial prune") {
    // BM25 sums DECIMAL(18,9) terms; the per-query rank-limit must
    // prune map-side before the q_id exchange like the ANN top-ks
    val df = SparkEntry.queries("cur_bm25")(spark, sf)
    assertPartialPrune(df, "cur_bm25")
  }

  test("quantizedRerankTopK plans Partial WindowGroupLimits for both stages") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qv_id"), col("embedding").as("qv_vec"))
    val df = operators.Similarity.quantizedRerankTopK(
      emb, "vec_id", "embedding", queries, "qv_id", "qv_vec", 20, 5)
    // Observed plan shape: stage-1 (qdot pool, limit 20) plans
    // Partial+Final around the q_id exchange; stage-2 (cos_sim, limit
    // 5) rides stage-1's exchange so only a Final exists there — rows
    // entering it are already <=20/query and no map boundary sits
    // below it. The scale-critical node is therefore stage-1's
    // Partial: assert it PER-STAGE (a regression that drops it while
    // stage-2 kept some Partial must not slip through an exists()).
    assertPartialPrune(df, "quantizedRerankTopK", minNodes = 3)
    val wgl = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    assert(wgl.exists(l => l.contains("Partial") && l.contains("qdot")),
      s"quantizedRerankTopK: stage-1 (qdot) window lost its Partial prune:\n${wgl.mkString("\n")}")
  }
}
