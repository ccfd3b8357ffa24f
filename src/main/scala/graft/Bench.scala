package graft

/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR. A short warm-up action runs first so JVM/
  * codegen startup cost doesn't land on an arbitrary first query.
  */
object Bench {

  /** True when a later pass is slower than an earlier one by >15%:
    * the run sat on a loaded/degrading host and its numbers measure
    * the host, not the code. Extracted for the spec. */
  private[graft] def nonMonotone(passTotals: Seq[Double]): Boolean =
    passTotals.sliding(2).exists {
      case Seq(a, b) => b > a * 1.15
      case _         => false
    }

  /** Per-key min-merge decision, artifact-state aware. A number
    * measured over a session-cached artifact ("hit" — a
    * MEMORY_AND_DISK scan) and one that built the artifact in-window
    * ("build") time DIFFERENT work; min-merging them would silently
    * keep whichever regime was faster under the other's label — the
    * same ambiguity the cross-protocol (cold/warm) refusal exists
    * for. When both sides carry a known state and they differ, the
    * fold is REFUSED: the existing entry stays, `refused` flags it.
    * "?" (legacy map, state unrecorded) folds like before and the
    * surviving state is whatever the min-supplier knew.
    * Returns (value, spreadFromNew, artifactState, refused). */
  private[graft] def foldKey(
      exVal: Option[Double], exArt: String,
      newVal: Option[Double], newArt: String): (Double, Boolean, String, Boolean) =
    (exVal, newVal) match {
      case (Some(e), None) => (e, false, exArt, false)
      case (None, Some(n)) => (n, true, newArt, false)
      case (Some(e), Some(n)) =>
        if (exArt != "?" && newArt != "?" && exArt != newArt)
          (e, false, exArt, true) // states conflict: keep existing, flag
        else if (n <= e) (n, true, if (newArt != "?") newArt else exArt, false)
        else (e, false, if (exArt != "?") exArt else newArt, false)
      case (None, None) => (Double.NaN, false, "?", false)
    }

  def main(args: Array[String]): Unit = {
    // Best-effort: drop the guest page cache before timing. On this
    // sandbox VM, page cache accumulated across runs (datasets +
    // shuffle files) degrades shuffle-heavy queries up to 4× — the
    // executor threads sink into KERNEL time (measured: identical
    // code/data read 37.6 s freshly dropped vs 152 s degraded;
    // vmstat showed 57-96% sy). Clean-cache-only drop, no dirty
    // data at risk (sync first); a no-op without root.
    // SPARK_GRAFT_KEEP_CACHES=1 opts out.
    val keepCaches = sys.env.get("SPARK_GRAFT_KEEP_CACHES").contains("1")
    def dropCaches(): Boolean =
      if (keepCaches) false
      else {
        try {
          import scala.sys.process._
          // braces so a non-root redirection failure is silenced by
          // the OUTER 2>/dev/null (redirections resolve left-to-right,
          // so an inner one can't suppress its own open error)
          Seq("sh", "-c",
            "{ sync && echo 3 > /proc/sys/vm/drop_caches; } 2>/dev/null").! == 0
        } catch { case _: Throwable => false }
      }
    // the drop's outcome is a measurement condition, not a detail:
    // record it once so every number in this run is self-describing
    // about which cache regime it timed
    val cacheDropMode =
      if (keepCaches) "keep"
      else if (dropCaches()) "dropped"
      else "noop"
    System.err.println(s"[bench] cache drop mode: $cacheDropMode" + (
      if (cacheDropMode == "noop") " (no root — timings ride whatever page cache the host accumulated)"
      else ""))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Spark.session()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=a,b,c restricts to a subset (local profiling)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

    // warm-up: JVM JIT, codegen, parquet footer cache, benchmark
    // binlog generation (one-time, must not land in a timed window —
    // and only when the run actually includes its consumer: the
    // fixture is sf-proportional now, so generating it for a subset
    // that never reads it would be pure waste)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(10).collect()
    if (only.forall(_.contains("cdc_binlog_throughput")))
      operators.Cdc.ensureBinlogGenerated(spark, sfDir)
    // a full pass's shuffle spill re-fills the cache the startup drop
    // cleared (a 144-query pass writes GBs), and the degradation the
    // drop exists for re-appears WITHIN the pass; per-query drops
    // (between timed windows — the next query re-reads its parquet
    // input at disk speed, a fair cold-ish read a real cluster pays
    // too) keep long runs honest at a few ms each. DEFAULT since
    // round 16 — the object-store posture, where every query pays
    // its input read; SPARK_GRAFT_DROP_EACH_QUERY=0 opts back into
    // warm in-suite reads (KEEP_CACHES implies it). When the drop is
    // a NOOP (no root), the protocol silently degrades to warm reads
    // — so the run must not claim cold_reads=true: tag follows the
    // drop that actually happened, or the min-merge would fold warm
    // timings into a cold-protocol map.
    val dropEachQuery = cacheDropMode == "dropped" &&
      !sys.env.get("SPARK_GRAFT_DROP_EACH_QUERY").contains("0")
    if (cacheDropMode == "noop" &&
        !sys.env.get("SPARK_GRAFT_DROP_EACH_QUERY").contains("0"))
      System.err.println(
        "[bench] drop_caches is a noop on this host — run downgraded to " +
          "cold_reads=false (it cannot honestly claim the cold protocol)")
    // Each timed window is labeled with the SessionCache artifact
    // state it measured: "build" (≥1 artifact built inside the
    // window — first-touch cost), "hit" (artifacts found built — the
    // window times consumers over a MEMORY_AND_DISK scan), "none"
    // (no session artifacts involved). A per-query OS cache drop
    // cannot clear Spark's block manager, so a "hit" number is NOT a
    // cold-read number even under the cold protocol — the map says so.
    def timeAll(): Seq[(String, Double, String)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .map { case (name, fn) =>
        if (dropEachQuery) dropCaches()
        val (b0, h0) = operators.SessionCache.stats
        val t0 = System.nanoTime()
        // noop sink evaluates every column (count() would let Catalyst
        // prune the projections being measured)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          // a failed query would otherwise masquerade as a fast one
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val (b1, h1) = operators.SessionCache.stats
        val art = if (b1 > b0) "build" else if (h1 > h0) "hit" else "none"
        (name, secs, art)
      }
    // 3-decimal rounding keeps the whole JSON line well inside the
    // harness's output tail window (full-precision doubles overflowed
    // it in round 1 and the line failed to parse)
    def r3(v: Double): String = f"$v%.3f"
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // Measurement protocol (round 3, variance-aware): one cold pass
    // (planning + codegen + execution — the first-touch UX) followed by
    // N-1 steady passes in the warmed JVM. Headline = per-query MIN
    // across ALL passes: G1 concurrent-cycle pause windows land on
    // whichever query happens to be running (observed in rounds 1-2 as
    // alphabetically-consecutive 3-7s spikes that move between runs —
    // round 2 recorded q24 at 5.5s / cdc_snapshot at 1.7s in-suite vs
    // 2.6s / 0.53s in isolation), so any single pass measures GC
    // scheduling, not query cost; min-of-N converges on the latter.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3) max 2
    val all = (1 to passes).map { i =>
      // settle the JVM between passes, outside any timed window; the
      // cache drop resets the accumulated-page-cache kernel-time
      // degradation the previous pass built up
      if (i > 1) { System.gc(); dropCaches(); Thread.sleep(2000) }
      timeAll()
    }
    val cold = all.head
    val steady = all.last
    val total = if (cold.nonEmpty) cold.map(_._2).sum else 0.0
    val steadyTotal = if (steady.nonEmpty) steady.map(_._2).sum else 0.0
    // best per query takes its value AND its artifact state from the
    // pass that supplied the min — dedup_minhash's 0.07 s best reads
    // "hit" (a cached pair-table scan), its 14 s pass0 reads "build"
    val best3 = all.transpose.map { samples =>
      val m = samples.minBy(_._2)
      (m._1, m._2, m._3)
    }.toSeq
    val best = best3.map(t => t._1 -> t._2)
    val bestArt = best3.map(t => t._1 -> t._3).toMap
    val bestTotal = best.map(_._2).sum
    // per-pass detail on its own (non-headline) line for humans
    all.zipWithIndex.foreach { case (p, i) =>
      println(s"""pass${i}_queries ${toJson(p.map(t => t._1 -> t._2))}""")
    }
    // one-glance pass health: a pass total far above its neighbors
    // (observed once: a host-level stall turned pass 3 into 272s vs
    // 78s) flags the run as suspect without parsing the per-query maps
    println(s"pass_totals [${all.map(p => r3(p.map(_._2).sum)).mkString(",")}]")
    // contamination self-evidence: per-query median/min across the N
    // passes. On a quiet host this sits near 1 for nearly every query
    // (GC pause windows land on a few); a loaded host inflates it
    // suite-wide. Its own line — never the parsed final line.
    val spread = all.transpose.map { samples =>
      val xs = samples.map(_._2).sorted
      samples.head._1 -> xs(xs.size / 2) / xs.head.max(1e-9)
    }.toSeq
    println(s"""spread_queries ${toJson(spread)}""")
    // the min-of-N per-query map goes on its OWN line: at 87 queries it
    // is ~2.4 KB, and in rounds 1 and 4 a final line that long outgrew
    // the driver's stdout tail window and the whole round lost its
    // bench number ("parsed": null). It prints LAST before the totals
    // line — the round-6 artifact's tail window clipped everything
    // above pass3, so the richest map must sit adjacent to the tail.
    println(s"""best_queries ${toJson(best)}""")
    // entries whose best window involved session artifacts, with the
    // state the min was measured under (file carries the full map)
    val artLine = best3.filter(_._3 != "none")
      .map(t => "\"" + t._1 + "\":\"" + t._3 + "\"").mkString("{", ",", "}")
    println(s"""artifact_queries $artLine""")
    // The COMPLETE per-query detail also lands in a file: by round 8
    // the suite outgrew even the per-line protocol (the artifact's
    // tail window clipped the ~24 alphabetically-first entries of the
    // per-query lines, so round-over-round cdc_* ratios couldn't be
    // audited from the artifact). The file is the audit record; the
    // stdout lines remain the at-a-glance view.
    val mapPath = sys.env.getOrElse("SPARK_GRAFT_MAP_PATH", "BENCH_map.json")
    // Min-MERGE into an existing map by default (round-14 postmortem:
    // an end-of-round overwrite clobbered the committed min-over-N map
    // with one hot run and cost a phantom-regression hunt). --fresh or
    // SPARK_GRAFT_MAP_FRESH=1 restores overwrite semantics.
    val fresh = args.contains("--fresh") ||
      sys.env.get("SPARK_GRAFT_MAP_FRESH").contains("1")
    val passTotals = all.map(_.map(_._2).sum)
    // A run whose pass totals are non-monotone by >15% (a later pass
    // slower than an earlier one beyond noise) ran on a loaded host;
    // its numbers measure the host, not the code — refuse to fold it
    // over an existing map, and say so even when there is no map (a
    // future session must not silently time on a degraded host).
    val suspect = nonMonotone(passTotals)
    if (suspect) System.err.println(
      s"[bench] WARNING: pass totals non-monotone >15% " +
        s"(${passTotals.map(r3).mkString(",")}) — loaded/degrading host, " +
        "treat this run's numbers as suspect")
    val existing: Option[(Map[String, Double], Map[String, Double], Map[String, String], Seq[Double], String)] =
      if (fresh) None
      else try {
        val p = java.nio.file.Paths.get(mapPath)
        if (!java.nio.file.Files.exists(p)) None
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(p))
          def objToMap(name: String): Map[String, Double] = {
            val n = root.get(name)
            if (n == null) Map.empty
            else {
              val it = n.fields()
              val b = Map.newBuilder[String, Double]
              while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
              b.result()
            }
          }
          // per-key artifact states; maps written before the field
          // existed read as "?" (unknown) for every key
          val art: Map[String, String] = {
            val n = root.get("artifact")
            if (n == null) Map.empty
            else {
              val it = n.fields()
              val b = Map.newBuilder[String, String]
              while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
              b.result()
            }
          }
          val hist = Option(root.get("pass_totals")).toSeq.flatMap { n =>
            (0 until n.size()).map(n.get(_).asDouble())
          }
          val sf = Option(root.get("sf")).map(_.asText()).getOrElse("")
          // protocol tag rides the sf slot: a map min-merged across
          // cache regimes would keep stale warm-read minima under
          // cold-read numbers. Legacy maps (no field) read as warm.
          val proto = Option(root.get("cold_reads")).exists(_.asBoolean())
          Some((objToMap("best"), objToMap("spread"), art, hist,
            s"$sf#cold=$proto"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] existing map unreadable, writing fresh: ${e.getMessage}")
        None
      }
    val runTag = s"$sfDir#cold=$dropEachQuery"
    val (mergedBest, mergedSpread, mergedArt, mergedHist, merged) = existing match {
      case Some((exBest, exSpread, exArt, exHist, exSf)) if exSf != runTag =>
        System.err.println(s"[bench] map at $mapPath is for '$exSf' != '$runTag' (sf or cache protocol); writing fresh")
        (best, spread, bestArt, passTotals, false)
      case Some((exBest, exSpread, exArt, exHist, _)) if suspect && exBest.nonEmpty =>
        System.err.println(s"[bench] pass totals non-monotone >15% (${passTotals.map(r3).mkString(",")}): loaded host, NOT folding into $mapPath")
        // keys the map has never seen still enter (a suspect number
        // beats a missing one); existing keys stay untouched
        val novel = best.filter { case (k, _) => !exBest.contains(k) }
        val kept = (exBest.toSeq ++ novel).sortBy(_._1)
        val ns = spread.toMap
        (kept,
         kept.map { case (k, _) =>
           k -> exSpread.getOrElse(k, ns.getOrElse(k, 1.0)) },
         // kept existing values keep the EXISTING artifact state (or
         // "?" if the legacy map has none) — labeling a kept value
         // with the suspect run's state would let value and state
         // disagree and later mislead foldKey's conflict refusal;
         // only novel keys take this run's state (their value is
         // this run's too)
         kept.map { case (k, _) =>
           k -> (if (exBest.contains(k)) exArt.getOrElse(k, "?")
                 else bestArt.getOrElse(k, "?")) }.toMap,
         exHist, true)
      case Some((exBest, exSpread, exArt, exHist, _)) if exBest.nonEmpty =>
        val keys = (exBest.keySet ++ best.map(_._1)).toSeq.sorted
        val newBest = best.toMap
        val newSpread = spread.toMap
        val folded = keys.map { k =>
          k -> foldKey(exBest.get(k), exArt.getOrElse(k, "?"),
                       newBest.get(k), bestArt.getOrElse(k, "?"))
        }
        val refusedKeys = folded.collect { case (k, (_, _, _, true)) => k }
        if (refusedKeys.nonEmpty) System.err.println(
          s"[bench] artifact-state conflict — NOT min-folding " +
            s"${refusedKeys.mkString(", ")} (existing map state differs " +
            "from this run's; the two time different work)")
        val mb = folded.map { case (k, (v, _, _, _)) => k -> v }
        // per-key spread travels with whichever run supplied the min
        val ms = folded.map { case (k, (_, fromNew, _, _)) =>
          k -> (if (fromNew) newSpread.getOrElse(k, 1.0) else exSpread.getOrElse(k, 1.0))
        }
        val ma = folded.map { case (k, (_, _, a, _)) => k -> a }.toMap
        (mb, ms, ma, exHist ++ passTotals, true)
      case _ => (best, spread, bestArt, passTotals, false)
    }
    val mergedTotal = mergedBest.map(_._2).sum
    val mapJson = new StringBuilder("{\n")
    // provenance flag: pass0..N / cold_total / steady_total always
    // describe THIS run; when a suspect run was refused, best/spread
    // came from the prior map and this-run detail must not be read
    // against them (last_run_folded=false marks exactly that)
    val lastFolded = !(suspect && merged)
    mapJson ++= s""""sf":"$sfDir","cold_reads":$dropEachQuery,"cache_drop":"$cacheDropMode","passes":$passes,"nq":${mergedBest.size},"merged":$merged,"last_run_folded":$lastFolded,"""
    mapJson ++= s""""best_total":${r3(mergedTotal)},"cold_total":${r3(total)},"steady_total":${r3(steadyTotal)},"""
    mapJson ++= s""""pass_totals":[${mergedHist.map(r3).mkString(",")}],"""
    mapJson ++= "\n" + all.zipWithIndex.map { case (p, i) =>
      s""""pass$i":${toJson(p.map(t => t._1 -> t._2))}""" }.mkString(",\n")
    mapJson ++= s""",\n"spread":${toJson(mergedSpread)}"""
    // per-key artifact state for every best entry: "build" (window
    // built its session artifacts — first-touch cost), "hit" (window
    // timed consumers over the already-persisted artifact), "none"
    // (no session artifacts), "?" (inherited from a pre-field map)
    mapJson ++= ",\n\"artifact\":" + mergedBest.map { case (k, _) =>
      "\"" + k + "\":\"" + mergedArt.getOrElse(k, "?") + "\""
    }.mkString("{", ",", "}")
    mapJson ++= s""",\n"best":${toJson(mergedBest)}\n}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mapPath), mapJson.toString)
    catch { case e: Throwable =>
      System.err.println(s"[bench] map write failed: ${e.getMessage}")
    }
    // FINAL stdout line = totals only (~120 bytes) so it parses under
    // any tail window; "queries" points at the line above
    println(s"""{"metric":"total","value":${r3(bestTotal)},"unit":"sec","cold_total":${r3(total)},"steady_total":${r3(steadyTotal)},"passes":$passes,"nq":${best.size},"cold_reads":$dropEachQuery,"cache_drop":"$cacheDropMode","sf":"$sfDir"}""")
    spark.stop()
  }
}
