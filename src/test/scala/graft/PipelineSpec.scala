package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the LLM-pipeline operators (SURVEY.md §2). */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dedup_exact finds exactly the duplicated corpus groups") {
    val rows = run("dedup_exact").collect()
    // corpus = docs (unique) + 10% mutants (unique vs originals):
    // every group has exactly 1 copy
    assert(rows.map(_.getLong(0)).toSet == Set(1L))
  }

  test("dedup_incremental equals the batch miner restricted to the increment, verdicts exact") {
    import graft.operators.Dedup
    val mutantBase = 1000000L
    val standing = Tables.parallelized(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val increment = standing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + mutantBase).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val union = standing.unionAll(increment)
    // xxhash64 path here (the production hash); the oracled query
    // covers the md5 path
    val got = Dedup.incrementalDedupVerdicts(
      Dedup.bandSignatures(standing, "doc_id", "text"),
      increment, union, "doc_id", "text").collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // contract: EXACTLY the batch miner on the unioned corpus,
    // restricted to pairs touching the increment — the standing
    // corpus was never re-shingled to get there
    val batch = Dedup.minhashPairs(union, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 >= mutantBase || p._2 >= mutantBase).toSet
    assert(gotPairs.nonEmpty && gotPairs == batch)
    // verify stage: jaccard well-formed and the verdict is the
    // threshold applied to it
    got.foreach { r =>
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= 1.0, r.toString)
      assert((r.getInt(3) == 1) == (j >= 0.7), r.toString)
    }
    // planted (orig, orig+base) mutants drop one word-3-gram, so all
    // but the shortest docs must verify as dups
    val planted = got.filter(r => r.getLong(1) == r.getLong(0) + mutantBase)
    assert(planted.nonEmpty)
    val dupFrac = planted.count(_.getInt(3) == 1).toDouble / planted.length
    assert(dupFrac >= 0.9, s"planted near-dups verified as dups: $dupFrac")
  }

  test("dedup_incremental probe never re-shuffles the standing index") {
    import graft.operators.Dedup
    val standing = Tables.parallelized(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val increment = standing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    // the production shape the entries use: a bucketed-sorted cached
    // index plus its cached per-bucket population
    val idx = Dedup.bandSignatures(standing, "doc_id", "text", 12, 3, false)
      .repartition(col("band"), col("sig"))
      .sortWithinPartitions("band", "sig").persist()
    val pop = idx.groupBy("band", "sig")
      .agg(count(lit(1)).as("__idx_n")).persist()
    try {
      idx.count(); pop.count()
      val cand = Dedup.incrementalCandidates(
        idx, increment, "doc_id", "text", 12, 3, false, 10000, Some(pop))
      cand.collect() // finalize the adaptive plan
      // the 100 TB contract: every (band,sig) exchange in the probe
      // plan carries increment-sized frames — none may sit above the
      // cached index scan (re-shuffling the whole index table to
      // admit a day's arrivals is the plan shape this replaced).
      // Traversal, not plan-string matching: find each shuffle
      // exchange hash-partitioned on a `band` column and assert no
      // in-memory-relation scan anywhere beneath it.
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val bandExchanges = PlanProbe.nodes(cand).collect {
        case e: ShuffleExchangeExec
            if (e.outputPartitioning match {
              case HashPartitioning(exprs, _) =>
                exprs.flatMap(_.references.map(_.name)).contains("band")
              case _ => false
            }) => e
      }
      bandExchanges.foreach { e =>
        val below = PlanProbe.subtree(e.child)
        assert(!below.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"(band,sig) exchange above the cached index scan:\n$e")
      }
      val all = PlanProbe.nodes(cand)
      assert(!all.exists(p =>
          p.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
          p.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        s"banded join degenerated to an all-pairs product:\n${cand.queryExecution.executedPlan.toString.take(4000)}")
    } finally { pop.unpersist(); idx.unpersist() }
  }

  test("dedup_stream_probe lands exactly on the batch new-vs-index join") {
    import graft.operators.Dedup
    val got = SparkEntry.queries("dedup_stream_probe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin of the gate's contract: capped standing index vs the
    // increment's band rows. Equality also proves rowBandSignatures
    // (the stream's stateless per-row form) produces bit-identical
    // signatures to the batch explode+groupBy form.
    val standing = Tables.parallelized(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val index = Dedup.bandSignatures(standing, "doc_id", "text", md5Hash = true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val capped = index.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= Dedup.MaxBucket).drop("bn")
    val inc = standing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val incBands = Dedup.bandSignatures(inc, "doc_id", "text", md5Hash = true)
      .select(col("doc_id").as("inc_id"), col("band"), col("sig"))
    val want = capped.join(incBands, Seq("band", "sig"))
      .select(col("doc_id"), col("inc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("dedup_stream_probe sinks to parquet files, never driver memory") {
    // r8 verdict: the memory sink is a driver collect in disguise —
    // pair volume scales with landing traffic. The returned frame
    // must scan the parquet FILE sink, and no memory-sink temp view
    // may be left behind (the memory sink registers one per query).
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val df = SparkEntry.queries("dedup_stream_probe")(spark, sf)
    val parquetScan = df.queryExecution.optimizedPlan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]
        case _ => false
      }
      case _ => false
    }
    assert(parquetScan,
      s"probe result must read the parquet sink:\n${df.queryExecution.optimizedPlan}")
    val memViews = spark.catalog.listTables().collect()
      .filter(_.name.startsWith("dedup_stream_probe_"))
    assert(memViews.isEmpty,
      s"memory-sink temp views present: ${memViews.map(_.name).mkString(",")}")
  }

  test("standingIndex builds once per (session, dir) and is persisted") {
    import graft.operators.Dedup
    val a = Dedup.standingIndex(spark, sf)
    val b = Dedup.standingIndex(spark, sf)
    assert(a eq b, "second lookup must return the cached index frame")
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk,
      s"index must be persisted, got ${a.storageLevel}")
  }

  test("dedup_index_maintain: day-2 probe sees day-1 admissions through the grown index") {
    val mb = 1000000L
    val rows = run("dedup_index_maintain").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // contract: every verdict touches the day-2 increment
    assert(rows.nonEmpty && rows.forall(p => p._1 >= 2 * mb || p._2 >= 2 * mb))
    // the lifecycle point: day1-vs-day2 pairs (mutants of the same
    // ancestor) are findable ONLY because day-1 bands were appended
    // to the index — a probe against the day-0 index can't see them
    val cross = rows.filter(p => p._1 >= mb && p._1 < 2 * mb && p._2 >= 2 * mb)
    assert(cross.nonEmpty, "no day1-vs-day2 pairs — the index did not grow")
    val sameAncestor = cross.filter(p => p._2 == p._1 + mb)
    assert(sameAncestor.exists(_._4 == 1),
      "same-ancestor day1/day2 mutants should verify as near-dups")
  }

  test("mm_phash finds exactly the planted image variants, nothing else") {
    val pairs = run("mm_phash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val dupBase = graft.operators.Multimodal.PhashDupBase
    // %8∈{0,4}: PNG re-encode / brightness variants; %8==1: JPEG
    // lossy re-encode variants (real baseline-DCT generation loss)
    val planted = docs.filter(id => id % 8 == 0 || id % 8 == 4 || id % 8 == 1)
      .map(id => (id, id + dupBase)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == planted,
      s"expected exactly the ${planted.size} planted pairs, got ${pairs.length}")
    // PNG re-encoded variants are bit-identical; JPEG ones are lossy
    pairs.filter(_._1 % 8 == 0).foreach(p => assert(p._3 == 0, p.toString))
    pairs.foreach(p =>
      assert(p._3 <= graft.operators.Multimodal.PhashMaxHamming, p.toString))
  }

  test("text_crossentropy: formulaic text scores below scrambled text") {
    import spark.implicits._
    // planted contrast inside one corpus: repeated boilerplate
    // bigrams vs a shuffled-vocabulary doc. The boilerplate doc's
    // bigrams dominate the LM, so its per-bigram surprisal must be
    // far lower.
    val boiler = ("the quick brown fox " * 50).trim
    val rare = (0 until 120).map(i => s"tok${i * 7 % 119}x").mkString(" ")
    val docs = (1L to 30L).map(i => (i, boiler)) :+ (99L, rare)
    docs.toDF("doc_id", "text").createOrReplaceTempView("ce_docs")
    val out = graft.operators.TextAnalysis.crossentropyOver(
      spark.table("ce_docs")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2) / r.getLong(1))).toMap
    assert(out(1L) < out(99L) / 4,
      s"boilerplate ${out(1L)} should be far below noise ${out(99L)}")
  }

  test("sim_pq_adc: coded scores still rank real neighbors far above chance") {
    import spark.implicits._
    val pq = run("sim_pq_adc").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact dot-product top-5 (the quantity ADC approximates)
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d").desc, col("n_id"))
    val exact = emb.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.dot_product(col("q_vec"), col("embedding")).as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map(k =>
      (pq.getOrElse(k, Set.empty) & exact(k)).size / 5.0)
    val avg = recalls.sum / recalls.size
    // untrained seed codebooks on unstructured vectors: modest recall
    // by design (the oracle needs plan-time codebooks), but it must
    // sit far above the ~0.01 random-pick baseline (measured 0.275
    // at sf0.01, 0.15 floor leaves variance room)
    assert(avg >= 0.15, s"PQ recall@5 $avg below floor")
  }

  test("cur_semdedup keeps exactly one representative per near-dup cluster") {
    val rows = run("cur_semdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // every mutant (vec_id >= 1M) clusters with its original: the
    // original (smaller id) is the representative, the mutant drops
    val (mutants, originals) = rows.partition(_._1 >= 1000000L)
    assert(mutants.nonEmpty)
    mutants.foreach { case (id, rep, kept) =>
      assert(!kept && rep == id - 1000000L, s"mutant $id rep=$rep kept=$kept")
    }
    originals.foreach { case (id, rep, kept) =>
      assert(kept && rep == id, s"original $id rep=$rep kept=$kept")
    }
    // one kept member per rep_id group
    rows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.count(_._3) == 1, s"cluster $rep")
    }
  }

  test("text_dup_spans: mutant pairs are near-fully covered, others mostly not") {
    val rows = run("text_dup_spans").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    val (pairDocs, others) = rows.partition {
      case (id, _) => id >= 1000000L || id % 10 == 0
    }
    assert(pairDocs.nonEmpty && others.nonEmpty)
    // a mutant shares every 8-gram with its original except those
    // crossing the dropped first word
    pairDocs.foreach { case (id, f) => assert(f >= 0.85, s"doc $id frac $f") }
    val avgOther = others.map(_._2).sum / others.length
    assert(avgOther < 0.5, s"unrelated docs should be mostly uncovered: $avgOther")
  }

  test("text_dup_spans plan: one gram exchange, word/gram arrays never shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = run("text_dup_spans")
    df.collect() // finalize the adaptive plan
    // the covered-positions contract: the tokenize+hash subtree is
    // evaluated once and both distinct-doc windows ride a SINGLE
    // (gh1, gh2) exchange (traversal, not plan-string matching)
    val gramExchanges = PlanProbe.hashExchangesOn(df, "gh1", "gh2")
    assert(gramExchanges.length == 1,
      s"expected 1 gram exchange:\n${df.queryExecution.executedPlan}")
    // and array payloads (token / gram-key arrays) stay inside the
    // map-side codegen stage — only fixed-width rows reach exchanges
    PlanProbe.nodes(df).collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      e.output.foreach(a => assert(
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"array column ${a.name} crosses an exchange:\n$e"))
    }
  }

  test("dedup_minhash candidates include the planted near-dup pairs") {
    val pairs = run("dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val planted = docs.filter(_ % 10 == 0).map(id => (id, id + 1000000L))
    val recall = planted.count(pairs.contains).toDouble / planted.length
    assert(recall > 0.8, s"minhash recall $recall too low")
  }

  test("band-join bucket cap keeps a degenerate corpus linear") {
    import spark.implicits._
    // adversarial corpus: 200 IDENTICAL documents — every band bucket
    // holds all 200 docs, so an uncapped band join would emit
    // 4 bands × C(200,2) ≈ 80k candidate pairs from 200 rows
    val identical = (0L until 200L)
      .map(i => (i, "the same exact document body repeated verbatim"))
      .toDF("doc_id", "text")
    val capped = graft.operators.Dedup.minhashPairs(
      identical, "doc_id", "text", maxBucket = 50)
    assert(capped.count() == 0,
      "over-populated buckets must be dropped, not joined")
    // the degenerate mass is exact-duplicate territory — the exact
    // pass (hash groupBy, linear) is what catches it
    val kept = graft.operators.Dedup.dropExactDuplicates(identical, "doc_id", "text")
    assert(kept.count() == 1)
    // a mixed corpus: the degenerate slice is capped away while a
    // genuine near-dup pair in a small bucket still surfaces
    val nearDup = Seq(
      (500L, "alpha beta gamma delta epsilon zeta eta theta"),
      (501L, "beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val mixed = identical.unionAll(nearDup)
    val pairs = graft.operators.Dedup.minhashPairs(
      mixed, "doc_id", "text", maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((500L, 501L)), pairs.toString)
  }

  test("text_commonness_fast equals the oracled entry exactly") {
    // the xxhash64 production twin must land on the md5-free string
    // entry's exact output: equal unless two distinct corpus bigrams
    // collide in 64 bits (|bigrams|²/2⁶⁵ ≈ 1e-7 here)
    val slow = run("text_commonness").collect().map(_.toSeq).toSeq
    val fast = run("text_commonness_fast").collect().map(_.toSeq).toSeq
    assert(fast == slow)
  }

  test("dedup_minhash_fast (xxhash64) recalls the planted pairs too") {
    val pairs = run("dedup_minhash_fast").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val planted = docs.filter(_ % 10 == 0).map(id => (id, id + 1000000L))
    val recall = planted.count(pairs.contains).toDouble / planted.length
    assert(recall > 0.8, s"fast minhash recall $recall too low")
  }

  test("dedup_simhash: mutant pairs have small hamming distance") {
    val rows = run("dedup_simhash").collect()
    assert(rows.nonEmpty)
    val hams = rows.map(_.getAs[Int]("hamming"))
    // dropping one word must not move the 63-bit fingerprint far
    assert(hams.count(_ <= 16).toDouble / hams.length > 0.9)
  }

  test("dedup_ngram_jaccard: mutants are near, exact formula holds") {
    val rows = run("dedup_ngram_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, common, j) =
        (r.getAs[Int]("n_a"), r.getAs[Int]("n_b"), r.getAs[Int]("n_common"),
         r.getAs[Double]("jaccard"))
      assert(math.abs(j - common.toDouble / (na + nb - common)) < 1e-12)
      assert(j > 0.5, s"mutant pair jaccard $j unexpectedly low")
    }
  }

  test("sim_topk_bruteforce matches exact per-pair cosine") {
    import spark.implicits._
    val out = run("sim_topk_bruteforce").collect()
    assert(out.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      // ranks are 1..k and descending in cos_micro
      val sims = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("cos_micro"))
      assert(sims.sorted.reverse.sameElements(sims))
      rows.foreach { r =>
        val (a, b) = (emb(q), emb(r.getAs[Long]("neighbor_id")))
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val exact = dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
          math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
        assert(math.abs(r.getAs[Long]("cos_micro") / 1e6 - exact) < 1e-4)
      }
    }
  }

  test("sim_ivf_ann: probing 4/16 cells recalls most true neighbors") {
    val exact = run("sim_topk_bruteforce").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = run("sim_ivf_ann").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf.nonEmpty)
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall (expected ≥0.3 at nProbe=4/16)")
  }

  test("sim_quantized: int8 retrieval recalls the exact top-k") {
    val exact = run("sim_topk_bruteforce").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val quant = run("sim_quantized").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(quant.nonEmpty)
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall $recall (unit-sphere 255-step grid)")
  }

  test("dedup_embedding finds the planted jittered near-dups") {
    val pairs = run("dedup_embedding").collect()
    assert(pairs.nonEmpty)
    // jittered copies are cosine≈1 with their originals
    val planted = pairs.filter(r => r.getAs[Long]("vec_b") - r.getAs[Long]("vec_a") == 1000000L)
    assert(planted.nonEmpty)
    planted.foreach(r => assert(r.getAs[Long]("cos_micro") > 999000L))
  }

  test("embedding dedup bucket cap keeps an all-identical corpus linear") {
    import spark.implicits._
    // adversarial corpus: 300 IDENTICAL embeddings — one signature
    // bucket holds all 300, so an uncapped self-join would emit
    // C(300,2) ≈ 45k candidate pairs from 300 rows
    val vec = Array.tabulate(64)(i => (0.1f * (i % 7 + 1)))
    val identical = (0L until 300L).map(i => (i, vec)).toDF("vec_id", "embedding")
    val capped = graft.operators.Similarity.embeddingDedupPairs(
      identical, "vec_id", "embedding", dim = 64, threshold = 0.995, maxBucket = 100)
    assert(capped.count() == 0,
      "over-populated signature buckets must be dropped, not self-joined")
    // a genuine near-dup pair in a small bucket still surfaces
    val jitter = vec.map(_ * 1.001f)
    val other = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val small = Seq((900L, vec), (901L, jitter), (950L, other))
      .toDF("vec_id", "embedding")
    val pairs = graft.operators.Similarity.embeddingDedupPairs(
      small, "vec_id", "embedding", dim = 64, threshold = 0.995, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((900L, 901L)), pairs.toString)
  }

  test("connectedComponents escalates to star contraction on a long chain") {
    import spark.implicits._
    // a 12-vertex path graph has diameter 11: maxIter=2 propagation
    // cannot reach the fixpoint — the declared behavior is to
    // escalate to star contraction (labels stay EXACT), or throw
    // when strict
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val viaFallback = graft.operators.Dedup.connectedComponents(chain, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback.keySet == (0L to 11L).toSet)
    assert(viaFallback.values.toSet == Set(0L),
      "the star-contraction fallback must close diameter 11 exactly")
    intercept[IllegalStateException] {
      graft.operators.Dedup.connectedComponents(chain, maxIter = 2,
        failOnNonConvergence = true).collect()
    }
    // enough rounds → propagation converges on its own, same labels
    val full = graft.operators.Dedup.connectedComponents(chain, maxIter = 16,
      failOnNonConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == viaFallback)
  }

  test("star contraction == propagation on a random graph; O(log n) on a 512-path") {
    import spark.implicits._
    // deterministic pseudo-random graph: 600 vertices, ~900 edges
    val rnd = (0L until 900L).map { i =>
      val a = (i * 179) % 600; val b = (i * i * 31 + 7) % 600
      (a, b)
    }.filter { case (a, b) => a != b }
    val pairs = rnd.toDF("doc_a", "doc_b")
    val prop = graft.operators.Dedup.connectedComponents(pairs, maxIter = 32,
      failOnNonConvergence = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = graft.operators.Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop, "star contraction diverges from label propagation")
    // a 512-vertex path (diameter 511, far beyond any propagation
    // budget) must converge within the O(log n) round bound — the
    // maxRounds=12 ceiling IS the assertion (2*log2(512)=18 with
    // margin below it; propagation would need 511 rounds)
    val path = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.operators.Dedup.connectedComponentsStar(path, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 511L).toSet)
    assert(labels.values.toSet == Set(0L))
    // a vertex whose ONLY edge is a self-pair must keep its own
    // label under BOTH algorithms (canon() drops self-loops from the
    // star edge set; the universe re-attach covers it)
    val withSelf = Seq((1L, 2L), (9L, 9L)).toDF("doc_a", "doc_b")
    val starSelf = graft.operators.Dedup.connectedComponentsStar(withSelf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val propSelf = graft.operators.Dedup.connectedComponents(withSelf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starSelf == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
    assert(starSelf == propSelf)
  }

  test("frontier propagation + quotient escalation == union-find, all budgets") {
    import spark.implicits._
    // driver-side union-find ground truth over the same universe the
    // operator uses (every id appearing in pairs, self-pairs kept as
    // isolated-vertex declarations)
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      parent.keys.map(v => v -> find(v)).toMap
    }
    for (seed <- 1 to 3) {
      val n = 80 + seed * 60
      val rnd = new scala.util.Random(seed)
      val edges = (0 until n * (1 + seed % 3))
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expected = unionFind(edges)
      val df = edges.toDF("doc_a", "doc_b")
      // budget 1 forces quotient-star escalation from barely-moved
      // labels — the adversarial case for the label-composition step;
      // budget 16 converges by frontier propagation alone. Both must
      // equal the union-find labels exactly.
      for (budget <- Seq(1, 16)) {
        val got = graft.operators.Dedup.connectedComponents(df, maxIter = budget)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"seed $seed budget $budget diverged")
      }
    }
  }

  test("dedup_cluster closes 3-chains transitively with one canonical each") {
    val rows = run("dedup_cluster").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"), r.getAs[Boolean]("is_canonical")))
    assert(rows.nonEmpty)
    // exactly one canonical per component, and it IS the component id
    rows.groupBy(_._2).foreach { case (comp, members) =>
      val canon = members.filter(_._3)
      assert(canon.length == 1, s"component $comp canonicals: ${canon.length}")
      assert(canon.head._1 == comp)
    }
    val byDoc = rows.map(r => r._1 -> r._2).toMap
    // transitive closure: wherever a full 3-chain (doc, m1, m2) was
    // mined, all three must share a component — m2 only ever bands
    // with m1, so this is the two-hop property pair mining lacks
    val chains = byDoc.keySet.filter(id =>
      byDoc.contains(id + 1000000L) && byDoc.contains(id + 2000000L))
    assert(chains.nonEmpty, "no full 3-chains mined")
    chains.foreach { id =>
      assert(byDoc(id) == byDoc(id + 1000000L) && byDoc(id) == byDoc(id + 2000000L),
        s"chain at $id split across components")
    }
  }

  test("mm_decode real-codec pipeline covers all four container formats") {
    val rows = run("mm_decode").collect()
    assert(rows.map(_.getString(0)).toSet == Set("png", "jpeg", "wav", "apng"))
    assert(rows.map(_.getAs[Long]("n_assets")).sum ==
      Tables.documents(spark, sf).count())
    // decoded pixel/sample content produces non-degenerate features
    val byFmt = rows.map(r => r.getString(0) -> r.getAs[Double]("avg_feature")).toMap
    assert(byFmt("png") > 0.3 && byFmt("png") < 0.7) // hash pixels ≈ mid-grey
    assert(byFmt("wav") > 0.1) // triangle wave has real RMS
  }

  test("mm_frames: sampled counts match the generated animations/audio") {
    import spark.implicits._
    val rows = run("mm_frames").collect()
    assert(rows.map(_.getAs[String]("kind")).toSet == Set("video", "audio"))
    val byKind = rows.map(r => r.getAs[String]("kind") -> r.getAs[Long]("n_frames_sampled")).toMap
    val ids = Tables.documents(spark, sf).select($"doc_id").as[Long].collect()
    val se = operators.Multimodal.SampleEvery
    val expVideo = ids.filter(mm.MediaGen.modality(_) == 3)
      .map(id => (mm.MediaGen.animationFrameCount(id) + se - 1) / se).sum
    val expAudio = ids.filter(mm.MediaGen.modality(_) == 2)
      .map { id =>
        val nWin = mm.MediaGen.audio(id).samples.length / operators.Multimodal.AudioWindow
        (nWin + se - 1) / se
      }.sum
    assert(byKind("video") == expVideo, s"video ${byKind("video")} vs $expVideo")
    assert(byKind("audio") == expAudio, s"audio ${byKind("audio")} vs $expAudio")
  }

  test("text_compress: boilerplate compresses harder than prose") {
    val rows = run("text_compress").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_boiler_ratio") < r.getAs[Double]("avg_prose_ratio"))
      // ≥95%: a handful of very short docs have degenerate variants
      assert(r.getAs[Long]("n_boiler_more_compressible").toDouble >=
        0.95 * r.getAs[Long]("n_docs"))
    }
  }

  test("text_langid predictions are deterministic and cover the corpus") {
    val n = run("text_langid").collect().map(_.getAs[Long]("n")).sum
    assert(n == Tables.documents(spark, sf).count())
  }

  test("text_pii_scrub redacts every planted email and phone number") {
    import spark.implicits._
    val rows = run("text_pii_scrub").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // every doc has the planted email + phone; corpus text may add more
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") >= 1)
      assert(r.getAs[Long]("n_phones") >= 1)
    }
    // the redactor removes everything it counted
    val scrubbed = Seq("See a.b@x.org or +1 555-867-0042, thanks").toDF("text")
      .select(operators.TextAnalysis.scrubPii($"text")).head.getString(0)
    assert(scrubbed == "See <EMAIL> or <PHONE>, thanks")
  }

  test("text_gopher_rules: rule semantics pinned, flags discriminate") {
    import spark.implicits._
    // hand-built docs hitting each rule edge
    val docs = Seq(
      (1L, ("the a " + Seq.fill(60)("word").mkString(" "))), // all pass
      (2L, "the a short doc"),                               // fails wordcount
      (3L, ("the " + Seq.fill(60)("word").mkString(" "))),   // fails stopwords (1 hit)
      (4L, ("the a " + Seq.fill(60)("x").mkString(" "))),    // mean word len < 3
      (5L, ("the a " + Seq.fill(60)("12345").mkString(" "))) // alpha ratio < 0.8
    ).toDF("doc_id", "text")
    val f = operators.TextAnalysis.gopherRuleFlags(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(1L).getAs[Int]("pass") == 1)
    assert(f(2L).getAs[Int]("r_wordcount") == 0 && f(2L).getAs[Int]("pass") == 0)
    assert(f(3L).getAs[Long]("stop_hits") == 1 && f(3L).getAs[Int]("r_stopwords") == 0)
    assert(f(4L).getAs[Int]("r_meanlen") == 0)
    assert(f(5L).getAs[Int]("r_alpha") == 0 && f(5L).getAs[Int]("r_meanlen") == 1)
    // corpus entry: flags vary (the filter actually separates docs)
    val rows = run("text_gopher_rules").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val passes = rows.map(_.getAs[Int]("pass")).sum
    assert(passes > 0 && passes < rows.length,
      s"degenerate gopher pass rate: $passes/${rows.length}")
  }

  test("stream_quality_gate == batch rule+classifier filter (parity)") {
    val got = run("stream_quality_gate").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("score_milli"))).toSeq
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val batch = operators.Curation.qualityClassifyScores(
      operators.TextAnalysis.gopherRuleFlags(docs, "doc_id", "text")
        .filter(col("pass") === 1),
      "doc_id", "text")
      .filter(col("label") === 1)
      .select("doc_id", "n_words", "score_milli").orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("score_milli"))).toSeq
    assert(got.nonEmpty, "gate admitted nothing — degenerate corpus")
    assert(got == batch)
  }

  test("text_paragraph_dedup surfaces the 7 planted boilerplate footers") {
    val rows = run("text_paragraph_dedup").collect()
    val nDocs = Tables.documents(spark, sf).count()
    // the 7 planted footers each recur across ~1/7 of the corpus; sum
    // of occurrences across the recurring footer groups covers every doc
    val footerOcc = rows.filter(_.getAs[Long]("n_docs") >= nDocs / Footers0 / 2)
      .map(_.getAs[Long]("total_occurrences")).sum
    assert(footerOcc >= nDocs, s"footer occurrences $footerOcc < $nDocs")
  }
  private val Footers0 = 7

  test("text_repetition: rep_frac in [0,1] and exact on a known doc") {
    import spark.implicits._
    val rows = run("text_repetition").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Double]("rep_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_grams"))
    }
    // "a b a b a b" → 3-grams: [a b a, b a b, a b a, b a b] → 4 grams,
    // 2 distinct, rep_frac 0.5 — verify the formula end-to-end
    val one = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val g = one.withColumn("w", split($"text", "\\s+"))
      .selectExpr("size(w) - 2 AS n",
        "size(array_distinct(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1])))) AS nd")
      .head
    assert(g.getInt(0) == 4 && g.getInt(1) == 2)
  }
  test("sim_mmr: diversified selection is valid, exact, and actually diversifies") {
    val rows = run("sim_mmr").collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rs) =>
      // exactly k distinct picks, positions 1..k
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (1 to 5))
      assert(rs.map(_.getAs[Long]("cand_id")).distinct.length == 5)
      val byPos = rs.sortBy(_.getAs[Int]("pos"))
      // pos 1 is the pure-relevance argmax: rel never beaten later
      assert(byPos.tail.forall(r =>
        r.getAs[Long]("rel_micro") <= byPos.head.getAs[Long]("rel_micro")))
      // mmr = 7·rel − 3·max_sim with |sim| ≤ 1e6 (a NEGATIVE
      // nearest-selected cosine legitimately pushes mmr above 7·rel);
      // the seed carries no mmr at all
      assert(byPos.head.isNullAt(byPos.head.fieldIndex("mmr_micro")))
      byPos.tail.foreach { r =>
        val d = r.getAs[Long]("mmr_micro") - 7 * r.getAs[Long]("rel_micro")
        assert(d.abs <= 3000000L)
      }
    }
    // non-degenerate: for at least one query the MMR pick order is
    // NOT the pure-relevance order (else the penalty did nothing on
    // an embedding corpus that HAS planted near-dup structure)
    val diversified = byQ.values.exists { rs =>
      val mmrOrder = rs.sortBy(_.getAs[Int]("pos")).map(_.getAs[Long]("cand_id")).toSeq
      val relOrder = rs.sortBy(r =>
        (-r.getAs[Long]("rel_micro"), r.getAs[Long]("cand_id"))).map(_.getAs[Long]("cand_id")).toSeq
      mmrOrder != relOrder
    }
    assert(diversified)
  }
  test("mm_scene_cut recovers exactly the generator's planted shot structure") {
    val rows = run("mm_scene_cut").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val frames = graft.mm.MediaGen.sceneFrameCount(id)
      val shotLen = graft.mm.MediaGen.sceneShotLen(id)
      val wantShots = (frames + shotLen - 1) / shotLen
      assert(r.getAs[Int]("n_frames") == frames)
      assert(r.getAs[Int]("n_shots") == wantShots,
        s"doc $id: ${r.getAs[Int]("n_shots")} shots, want $wantShots")
      // threshold margin: within-shot jitter and cross-shot jumps
      // must stay on opposite sides with real headroom
      assert(r.getAs[Long]("max_intra_milli") < 70, s"doc $id intra too hot")
      assert(r.getAs[Long]("max_cut_milli") > 250, s"doc $id cuts too soft")
    }
  }
  test("text_dedup_rewrite: removal accounting exact, untouched docs round-trip") {
    val rewritten = run("text_dedup_rewrite").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // n_removed must agree with text_dup_spans' covered-token count
    val coverage = run("text_dup_spans").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_tokens")).toMap
    rewritten.foreach { case (id, r) =>
      assert(r.getAs[Long]("n_removed") == coverage(id), s"doc $id")
      // surviving text has exactly n_tokens - n_removed words
      val kept = r.getAs[String]("kept_text")
      val nKept = kept.split("\\s+").count(_.nonEmpty).toLong
      assert(nKept == r.getAs[Long]("n_tokens") - r.getAs[Long]("n_removed"),
        s"doc $id: $nKept words vs accounting")
    }
    // untouched docs round-trip byte-identical (corpus is already
    // single-spaced, so the canonical rebuild is the identity)
    val texts = operators.Dedup.corpus(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val untouched = rewritten.filter(_._2.getAs[Long]("n_removed") == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, r) =>
      assert(r.getAs[String]("kept_text") == texts(id), s"doc $id mutated")
    }
    // planted mutants share nearly all 8-grams with their original:
    // both sides of each pair must be nearly emptied
    val mutants = rewritten.keys.filter(_ >= 1000000L)
    assert(mutants.nonEmpty)
    val emptiedFrac = mutants.count { id =>
      val r = rewritten(id)
      r.getAs[Long]("n_removed") * 10 >= r.getAs[Long]("n_tokens") * 9
    }.toDouble / mutants.size
    assert(emptiedFrac >= 0.9, s"mutants emptied: $emptiedFrac")
  }
  test("mm_audio_vad recovers exactly the generator's planted speech runs") {
    val rows = run("mm_audio_vad").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Int]("n_segments")).distinct.length > 1,
      "segment counts must vary across docs")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val segs = graft.mm.MediaGen.vadSegCount(id)
      assert(r.getAs[Int]("n_segments") == segs,
        s"doc $id: ${r.getAs[Int]("n_segments")} segments, want $segs")
      // voiced windows = sum of the planted voiced run lengths
      val wantVoiced = (0 until segs)
        .map(k => graft.mm.MediaGen.vadVoicedLen(id, k)).sum
      assert(r.getAs[Int]("n_voiced") == wantVoiced, s"doc $id voiced windows")
      // the gate separates with two orders of margin on each side
      assert(r.getAs[Long]("max_silence_rms_milli") < 30, s"doc $id silence hot")
      assert(r.getAs[Long]("min_voiced_rms_milli") > 120, s"doc $id speech faint")
    }
  }
  test("sim_recall_eval: both arms re-derived from their entries; pq pays, int8 doesn't") {
    val sfd = "/root/testdata/sf0.01"
    def runAt(name: String) = SparkEntry.queries(name)(spark, sfd)
    val rows = runAt("sim_recall_eval").collect()
    assert(rows.length == 16) // 8 queries x {int8, pq4}
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0 && h <= 5)
      assert(r.getAs[Long]("recall_milli") == math.floor(1000.0 * h / 5).toLong)
    }
    // re-derive every hit count from the three underlying entries
    val exact = runAt("sim_topk_bruteforce").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val arms = Map(
      "int8" -> runAt("sim_quantized").collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet,
      "pq4" -> runAt("sim_pq_adc").collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet)
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val want = exact.filter(_._1 == q).count(arms(r.getAs[String]("method")).contains)
      assert(r.getAs[Long]("n_hits") == want, s"query $q ${r.getAs[String]("method")}")
    }
    // the trade the eval exists to show: the 64x-compressed codes
    // lose strictly more recall than the 4x int8 grid
    def total(m: String) = rows.filter(_.getAs[String]("method") == m)
      .map(_.getAs[Long]("n_hits")).sum
    assert(total("int8") > total("pq4"), s"int8 ${total("int8")} vs pq4 ${total("pq4")}")
    assert(total("int8") >= 8 * 4, s"int8 recall too low: ${total("int8")}/40")
  }
  test("mm_phash_cluster: every planted variant lands in its original's cluster") {
    val rows = run("mm_phash_cluster").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Boolean]("is_canonical")))
    assert(rows.nonEmpty)
    val byDoc = rows.map(r => r._1 -> r._2).toMap
    // planted variants: id%8==0 re-encode, id%8==4 brightness-scale
    val base = 3000000L
    val planted = byDoc.keys.filter(_ >= base)
    assert(planted.nonEmpty)
    planted.foreach { v =>
      val orig = v - base
      assert(byDoc.get(orig).contains(byDoc(v)),
        s"variant $v not clustered with original $orig")
    }
    // exactly one canonical per component, and it is the min id
    rows.groupBy(_._2).foreach { case (comp, rs) =>
      assert(rs.count(_._3) == 1, s"component $comp canonicals")
      assert(rs.filter(_._3).head._1 == rs.map(_._1).min)
      assert(comp == rs.map(_._1).min)
    }
  }
}
