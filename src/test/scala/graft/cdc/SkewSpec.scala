package graft.cdc

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key (skew) proof for the snapshot fold (r9 verdict item #8).
  *
  * The claim under test: `CdcApply.snapshot` cannot be stragglered
  * by a hot key. A window-based fold CAN — a window's clustered
  * distribution puts every row of a key in one task and AQE's skew
  * splitting never applies to windows (only joins/rebalance) — so
  * the fold is an algebraic `max_by` aggregate instead, whose
  * map-side PARTIAL combine collapses each input partition's slice
  * of the hot key to one buffer row before the shuffle.
  *
  * Three checks: (1) the aggregate and the window formulation are
  * result-identical on a skewed changelog with deletes; (2) the
  * executed plan structurally carries the partial-combine guarantee
  * (a Partial-mode aggregate below the key exchange, no Window
  * node); (3) measured: folding a changelog with 50% of ALL rows on
  * ONE key lands within 2x of the uniform-key fold at the same row
  * count — the straggler a windowed fold would produce is absent.
  */
class SkewSpec extends AnyFunSuite with SharedSpark {

  /** Synthetic changelog: `hotFrac` of rows hit key "0", the rest
    * spread over `nKeys`; ~1/11 of events are deletes, offsets are
    * unique and increasing, payload is a distinct-per-row string. */
  private def changelog(n: Long, nKeys: Long, hot: Boolean): DataFrame =
    spark.range(0, n, 1, 32)
      .select(
        when(lit(hot) && col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % nKeys).cast("string").as("key"),
        col("id").as("offset"),
        when(col("id") % 11 === 0, lit("d")).otherwise(lit("u")).as("op"),
        concat(lit("v"), col("id")).as("value"))

  test("aggregate fold == window fold on a skewed changelog (bit-exact)") {
    val log = changelog(200000L, 5000L, hot = true).persist()
    try {
      val agg = CdcApply.snapshot(log)
      val win = CdcApply.snapshotWindowed(log)
      assert(agg.schema.map(f => (f.name, f.dataType)) ==
        win.schema.map(f => (f.name, f.dataType)))
      assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
      // the hot key itself resolves identically: offsets are unique,
      // so the survivor is the single max-offset non-delete row
      val hotRows = agg.filter(col("key") === "0").collect()
      assert(hotRows.length <= 1)
    } finally log.unpersist()
  }

  test("aggregate fold == window fold over randomized changelog shapes") {
    // deterministic pseudo-random sweep: key cardinality, delete
    // ratio, and payload width vary per seed; offsets stay unique
    // (the fold's documented precondition — ties are the one place
    // both formulations are individually nondeterministic)
    for (seed <- 1 to 4) {
      val n = 20000L + seed * 7000L
      val keys = Seq(17L, 400L, 9000L, 1L)(seed - 1)
      val log = spark.range(0, n, 1, 8)
        .select(
          pmod(xxhash64(col("id"), lit(seed)), lit(keys)).cast("string").as("key"),
          col("id").as("offset"),
          when(pmod(xxhash64(col("id"), lit(seed + 100)), lit(7)) === 0, lit("d"))
            .otherwise(lit("u")).as("op"),
          concat(lit("p"), pmod(col("id"), lit(97))).as("v1"),
          (col("id") % 13).cast("double").as("v2"))
        .persist()
      try {
        val agg = CdcApply.snapshot(log)
        val win = CdcApply.snapshotWindowed(log)
        assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
          s"fold divergence at seed=$seed keys=$keys")
      } finally log.unpersist()
    }
  }

  test("executed plan: Partial-mode combine below the exchange, no Window") {
    val folded = CdcApply.snapshot(changelog(100000L, 5000L, hot = true))
    folded.count() // materialize so AQE finalizes the executed plan
    val plan = folded.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") || plan.contains("Partial"),
      s"no map-side partial aggregate in plan:\n$plan")
    assert(!plan.contains("Window"),
      s"snapshot fold regressed to a window (not skew-splittable):\n$plan")
  }

  test("join-side skew: AQE splits the hot partition (skew=true in executed plan)") {
    // The complementary claim: where a join IS the operator (merge
    // against a snapshot, enrichment against a dim), AQE's skew-join
    // genuinely does split the hot key's sort-merge partition —
    // demonstrated with the thresholds scaled to test data (the
    // defaults fire at 256 MB partitions).
    withConf(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val fact = changelog(2000000L, 100000L, hot = true)
      val dim = spark.range(0, 100000L)
        .select(col("id").cast("string").as("key"),
          concat(lit("d"), col("id")).as("dim_value"))
      val joined = fact.join(dim, "key")
      // run the join's OWN plan (count() would plan a different,
      // aggregate-rewritten query and leave this one un-finalized)
      assert(joined.queryExecution.toRdd.count() == 2000000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot join partition skewed:\n$plan")
    }
  }

  test("50%-hot changelog folds within 2x of uniform keys") {
    // wall-clock ratio assertion — meaningful only on a quiet host,
    // so it runs when explicitly requested (GRAFT_TIMING_ASSERTS=1)
    // and cancels (not fails) otherwise; the plan-shape skew coverage
    // above is load-independent and always runs
    assume(sys.env.get("GRAFT_TIMING_ASSERTS").contains("1"),
      "set GRAFT_TIMING_ASSERTS=1 on a quiet host to run the wall-clock ratio check")
    val n = 4000000L
    def wall(hot: Boolean): Double = {
      val t0 = System.nanoTime()
      CdcApply.snapshot(changelog(n, 200000L, hot)).count()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both shapes once (codegen + JIT), then min-of-3 each —
    // min absorbs a GC pause or host-load blip in any single pass
    wall(hot = false); wall(hot = true)
    val uni = Seq.fill(3)(wall(hot = false)).min
    val hot = Seq.fill(3)(wall(hot = true)).min
    info(f"uniform $uni%.2fs hot $hot%.2fs ratio ${hot / uni}%.2f")
    // floor guards the ratio when the uniform pass is sub-scheduling
    assert(hot <= 2.0 * math.max(uni, 0.25),
      f"hot-key fold stragglered: uniform $uni%.2fs vs hot $hot%.2fs")
  }
}
