package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api._

/** The library surface (`import graft.api._`) on user-shaped tables —
  * not the test corpus — proving the operators are parametric.
  */
class ApiSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("cdcSnapshot folds a changelog, matchingTables filters by pattern") {
    val changelog = Seq(
      ("appdb.orders", "k1", 1L, "c", 10.0),
      ("appdb.orders", "k1", 2L, "u", 20.0),
      ("appdb.orders", "k2", 3L, "c", 30.0),
      ("appdb.orders", "k2", 4L, "d", 0.0),
      ("otherdb.users", "k9", 5L, "c", 1.0)
    ).toDF("table", "key", "offset", "op", "value")

    val snap = changelog
      .matchingTables(col("table"), Seq("appdb"), Seq("ord*"))
      .cdcSnapshot(keyCols = Seq("table", "key"))
      .collect()
    assert(snap.map(r => (r.getAs[String]("key"), r.getAs[Double]("value"))).toSet ==
      Set(("k1", 20.0))) // k2 deleted, otherdb filtered out

    val stats = changelog.cdcOpStats().collect()
    assert(stats.map(_.getAs[String]("op")).toSet == Set("c", "u", "d"))
  }

  test("suppressSeen drops only keys present in history") {
    val history = Seq(1L, 2L, 3L).toDF("id")
    val incoming = Seq(2L, 3L, 4L, 5L).toDF("id")
    val fresh = incoming.suppressSeen(history, "id").collect().map(_.getLong(0)).toSet
    assert(fresh == Set(4L, 5L))
  }

  test("dropExactDuplicates keeps lowest-id canonical per text") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (7L, "the quick brown fox"),
      (3L, "something else entirely")
    ).toDF("id", "body")
    val kept = docs.dropExactDuplicates("id", "body").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhashCandidatePairs finds a planted near-duplicate") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),
      (2L, base + " nu"), // near-dup of 1
      (3L, "totally different words about completely unrelated topics here now friends")
    ).toDF("id", "body")
    val pairs = docs.minhashCandidatePairs("id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs.toString)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // md5 variant agrees on the planted pair
    val pairsMd5 = docs.minhashCandidatePairs("id", "body", md5Hash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsMd5.contains((1L, 2L)))
  }

  test("bandSignatures index + incrementalDedupVerdicts probe an increment; dsirTopK ranks") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val standing = Seq(
      (1L, base),
      (2L, "totally different words about completely unrelated topics here now friends")
    ).toDF("id", "body")
    val arriving = Seq(
      (10L, base + " nu") // near-dup of standing doc 1
    ).toDF("id", "body")
    val index = standing.bandSignatures("id", "body")
    assert(index.columns.toSeq == Seq("doc_id", "band", "sig"))
    val verdicts = arriving
      .incrementalDedupVerdicts(index, standing.unionAll(arriving), "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(verdicts.exists(v => v._1 == 1L && v._2 == 10L && v._3 == 1),
      s"the arriving near-dup must be verified against the index: ${verdicts.toSeq}")
    assert(!verdicts.exists(v => v._1 == 2L),
      "the unrelated standing doc must not appear in any pair")
    // dsirTopK: docs sharing the target's vocabulary rank first
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta alpha beta gamma beta", false),
      (3L, "zeta eta theta zeta eta theta xx", false)
    ).toDF("id", "body", "tgt")
    val ranked = corpus.dsirTopK(col("tgt"), "id", "body", topK = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(ranked.length == 3 && ranked.head._2 == 1L,
      s"the target doc itself must rank first: ${ranked.toSeq}")
    val rankOf = ranked.map(_.swap).toMap
    assert(rankOf(2L) < rankOf(3L),
      "the doc sharing the target vocabulary must outrank the disjoint one")
  }

  test("withTextStats appends the full feature row") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it is a fine day for sitting on mats today ok"),
      (2L, "le chat est dans les jardins pour une promenade dans ce parc pas loin sur")
    ).toDF("id", "body")
    val stats = docs.withTextStats("body").collect().map(r =>
      r.getAs[Long]("id") -> r).toMap
    assert(stats(1L).getAs[String]("lang_pred") == "en")
    assert(stats(2L).getAs[String]("lang_pred") == "fr")
    assert(stats(1L).getAs[Long]("n_ws_tokens") == 18L)
    assert(stats(1L).getAs[Double]("quality_score") > 50.0)
    assert(stats(1L).getAs[Double]("punct_ratio") == 0.0)
  }

  test("gtidIntervals and scrubPii work on user-shaped tables") {
    val txns = Seq(("u1", 1L), ("u1", 2L), ("u1", 4L), ("u2", 9L))
      .toDF("server_uuid", "txn_id")
    val ivs = txns.gtidIntervals("server_uuid", "txn_id")
      .orderBy("server_uuid", "gno_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ivs.toSeq == Seq(("u1", 1L, 2L), ("u1", 4L, 4L), ("u2", 9L, 9L)))

    val scrubbed = Seq((1L, "mail me at a@b.io please"))
      .toDF("id", "body").scrubPii("body")
      .head.getAs[String]("body")
    assert(scrubbed == "mail me at <EMAIL> please")
  }

  test("dropBoilerplateParagraphs removes recurring footers, keeps unique text in order") {
    val docs = Seq(
      (1L, "alpha beta. all rights reserved. gamma delta"),
      (2L, "epsilon zeta. all rights reserved. eta theta"),
      (3L, "iota kappa only")
    ).toDF("doc_id", "text")
    val cleaned = docs.dropBoilerplateParagraphs("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == "alpha beta. gamma delta")
    assert(cleaned(2L) == "epsilon zeta. eta theta")
    assert(cleaned(3L) == "iota kappa only")
  }

  test("withRepetitionScore: exact fraction and degenerate cases") {
    val scored = Seq(
      (1L, "a b a b a b"),   // grams: aba bab aba bab -> 2/4 dup
      (2L, "w x y z"),       // no repetition
      (3L, "one two")        // shorter than n -> 0.0
    ).toDF("doc_id", "text").withRepetitionScore("text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("rep_frac")).toMap
    assert(scored(1L) == 0.5)
    assert(scored(2L) == 0.0)
    assert(scored(3L) == 0.0)
  }

  test("takeByScoreBudget matches the window-cumsum semantics incl. partial bucket") {
    val rows = Seq(
      (1L, 10L, 3.0), (2L, 10L, 3.0), (3L, 10L, 3.0), // boundary bucket
      (4L, 5L, 9.0), (5L, 5L, 9.0),                   // best bucket: 10 total
      (6L, 100L, 1.0))                                // never reached
      .toDF("id", "w", "score")
    // budget 25: bucket 9.0 fully in (10 tokens); boundary bucket 3.0
    // has 15 left -> id 1 (cum 10) fits, id 2 (cum 20) does not
    val got = rows.takeByScoreBudget("id", "w", "score", budget = 25L)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(4L, 5L, 1L), got.toString)
  }

  test("takeByScoreBudget is bounded under raw continuous scores (refinement path)") {
    import org.apache.spark.sql.functions._
    // 20k rows of raw continuous doubles — every score distinct, so
    // the old exact-histogram collect would pull |corpus| rows to the
    // driver. histCap=100 forces the range-refinement path (the path
    // a 100 TB caller with unquantized scores lands on).
    val rows = spark.range(0, 20000).toDF("id")
      .withColumn("w", (xxhash64(col("id")) % 7 + 8).cast("long"))
      .withColumn("score",
        (xxhash64(col("id"), lit(1)).cast("double") / lit(Long.MaxValue)))
      .persist()
    val budget = 60000L
    val refined = operators.TextAnalysis.takeByScoreBudget(
      rows, "id", "w", "score", budget, histCap = 100L)
      .collect().map(_.getLong(0)).toSeq
    // naive global window-cumsum oracle (fine at test scale)
    val wsp = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col("id"))
    val naive = rows.withColumn("__cum", sum(col("w")).over(wsp))
      .filter(col("__cum") <= budget)
      .orderBy(desc("score"), col("id"))
      .collect().map(_.getLong(0)).toSeq
    assert(refined == naive)
    // and the default fast path computes the identical selection
    val fast = rows.takeByScoreBudget("id", "w", "score", budget)
      .collect().map(_.getLong(0)).toSeq
    assert(fast == naive)
    rows.unpersist()
  }

  test("withSplitAssignment partitions deterministically at requested rates") {
    val docs = spark.range(0, 5000).toDF("id")
    val split = docs.withSplitAssignment("id").collect()
      .groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(split.values.sum == 5000)
    assert(split("train") > 4000 && split("val") > 100 && split("test") > 100)
    // stability: re-running yields the identical assignment
    val again = docs.withSplitAssignment("id").collect()
      .groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(split == again)
  }

  test("sampleDeterministic keeps ~rate and is idempotent") {
    val rows = spark.range(0, 2000).toDF("id")
    val kept = rows.sampleDeterministic("id", lit(0.25))
    val n = kept.count()
    assert(n > 350 && n < 650, s"kept $n of 2000 at rate 0.25")
    // deterministic: sampling the sample with the same key changes nothing
    assert(kept.sampleDeterministic("id", lit(0.25)).count() == n)
  }

  test("packSequences: cumulative weights respect the budget per cell") {
    val rows = (1L to 100L).map(i => (i, 10L)).toDF("id", "w")
    val packed = rows.packSequences("id", "w", budget = 35L, shards = 4).collect()
    packed.groupBy(r => (r.getAs[Long]("__shard"), r.getAs[Long]("seq_id")))
      .foreach { case (_, members) =>
        // each doc weighs 10, budget 35 → at most 4 docs per sequence
        assert(members.length <= 4)
      }
  }

  test("temperatureMixSelect: exact tempered shares on a user-shaped table") {
    // custom column names — catches any internal hardcoding of the
    // documents schema. 40 "web" rows vs 10 "ref" rows; budget =
    // 50/10 = 5; shares sqrt(40):sqrt(10) → targets floor(5*.6667)=3
    // and floor(5*.3333)=1.
    val crawl = ((0 until 40).map(i => (i.toLong, "web")) ++
      (100 until 110).map(i => (i.toLong, "ref")))
      .toDF("page_id", "site_kind")
    val kept = crawl.temperatureMixSelect(
        idCol = "page_id", domainCol = "site_kind")
      .collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(kept == Map("web" -> 3, "ref" -> 1), kept.toString)
  }

  test("connectedComponents closes transitive chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = pairs.connectedComponents().collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("label")).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("contaminatedBy flags docs sharing an 8-gram with the eval set") {
    val evalSet = Seq((1L, "a b c d e f g h unique tail")).toDF("id", "text")
    val train = Seq(
      (100L, "x a b c d e f g h y"), // contains the 8-gram a..h
      (101L, "totally different words that never overlap at all ok")
    ).toDF("id", "text")
    val flagged = train.contaminatedBy(evalSet, "id", "text").collect()
    assert(flagged.map(_.getAs[Long]("id")).toSeq == Seq(100L))
    assert(flagged.head.getAs[Long]("n_shared_grams") >= 1L)
    // reserved names are rejected loudly, not silently broken: an id
    // column named like the gram plumbing's outputs/internals would
    // be dropped or joined on
    for (bad <- Seq("pos", "gh1", "gh2", "__gwa")) {
      val df = train.withColumnRenamed("id", bad)
      val e = intercept[IllegalArgumentException] {
        df.contaminatedBy(evalSet, bad, "text")
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
    }
  }

  test("ngramOverlapScores: containment catches wrapped copies Jaccard under-scores") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "header boilerplate alpha beta gamma delta epsilon zeta footer legal"),
      (3L, "unrelated words entirely different content here")
    ).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val scores = docs.ngramOverlapScores(pairs, "id", "text").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Double]("containment_a"), r.getAs[Double]("jaccard"))).toMap
    val (c12, j12) = scores((1L, 2L))
    assert(c12 == 1.0)  // doc 1 fully contained in its wrapped copy
    assert(j12 < 0.6)   // while Jaccard reads it as barely-similar
    val (c13, j13) = scores((1L, 3L))
    assert(c13 == 0.0 && j13 == 0.0)
  }

  test("ngramOverlapScores scores every input pair — short docs and unknown ids reject as 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "word"), // single token: no 2-gram
      (3L, "alpha beta gamma delta epsilon")
    ).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 99L)).toDF("doc_a", "doc_b")
    val rows = docs.ngramOverlapScores(pairs, "id", "text").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"),
          r.getAs[Double]("jaccard"))).toMap
    assert(rows.size == 3, "every proposed pair must get a verdict row")
    assert(rows((1L, 2L)) == ((0.0, 0.0, 0.0))) // short doc → rejected, not dropped
    assert(rows((1L, 99L)) == ((0.0, 0.0, 0.0))) // id absent from docs → rejected
    val (c13, _, j13) = rows((1L, 3L))
    assert(c13 == 1.0 && j13 == 0.75) // 3 common 2-grams of 4 total grams in doc 3
  }

  test("quantizedRerankTopK agrees with exact brute-force on the final ranking") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("id", "emb")
    val queries = corpus.filter($"id" < 2)
      .select($"id".as("q_id"), $"emb".as("q_vec"))
    // pool = corpus: stage 2 sees everything, so the result MUST
    // equal exact brute-force — isolates the rerank plumbing
    val reranked = corpus.quantizedRerankTopK("id", "emb", queries, pool = 60, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val exact = corpus.cosineTopK("id", "emb", queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(reranked.toSeq == exact.toSeq)
    // the scale contract documented on quantizedRerankTopK: the
    // stage-1 pool window must plan a partial WindowGroupLimit so the
    // vector-bearing rows are pruned to top-pool per map partition
    // BEFORE the q_id exchange (shuffle bounded, not corpus-sized)
    val plan = corpus.quantizedRerankTopK("id", "emb", queries, pool = 60, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  test("withQuantizedEmbedding produces exact int8-grid floats") {
    val df = Seq((1L, Seq(0.6f, 0.8f, 0.0f)), (2L, Seq(0f, 0f, 0f)))
      .toDF("id", "emb")
    val q = df.withQuantizedEmbedding("emb").collect()
      .map(r => r.getAs[Long]("id") ->
        r.getAs[scala.collection.Seq[Float]]("qvec")).toMap
    // unit vector (0.6, 0.8, 0) → (76.7, 101.6..) → floor(x+.5)
    assert(q(1L) == Seq(76f, 102f, 0f))
    assert(q(2L) == Seq(0f, 0f, 0f)) // zero vector guard
    q.values.flatten.foreach(v => assert(v == v.floor && v.abs <= 127f))
  }

  test("knnClassifyTopK: majority vote with smaller-label tie-break") {
    // query (1,0,0); k=4 nearest: three label-7 vectors near the x
    // axis and one label-3; majority → 7. Then k=2: one vote each for
    // 7 and 3 → tie breaks to the smaller label 3.
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f), 7),
      (11L, Seq(0.9f, 0.1f, 0.0f), 7),
      (12L, Seq(0.95f, 0.0f, 0.05f), 3),
      (13L, Seq(0.8f, 0.2f, 0.0f), 7),
      (14L, Seq(0.0f, 1.0f, 0.0f), 3)
    ).toDF("vid", "emb", "label")
    val queries = Seq((1L, Seq(1.0f, 0.0f, 0.0f))).toDF("q_id", "q_vec")
    val top4 = corpus.knnClassifyTopK("vid", "emb", "label", queries, k = 4).collect()
    assert(top4.length == 1)
    assert(top4.head.getAs[Int]("predicted_label") == 7)
    assert(top4.head.getAs[Long]("n_votes") == 3L)
    // nearest-2 = vid 10 (label 7) and vid 12 (label 3, cos > vid 11's)
    val top2 = corpus.knnClassifyTopK("vid", "emb", "label", queries, k = 2).collect()
    assert(top2.head.getAs[Int]("predicted_label") == 3)
    assert(top2.head.getAs[Long]("n_votes") == 1L)
  }

  test("gopherRuleFlags + qualityClassifyScores + bpeMerges compose on a user table") {
    val posts = Seq(
      (10L, ("the a " + Seq.fill(55)("content").mkString(" "))),
      (11L, "too short"),
      (12L, ("the a " + Seq.fill(55)("zz").mkString(" ")))
    ).toDF("post_id", "body")

    val flags = posts.gopherRuleFlags("post_id", "body")
      .collect().map(r => r.getAs[Long]("post_id") -> r.getAs[Int]("pass")).toMap
    assert(flags(10L) == 1 && flags(11L) == 0 && flags(12L) == 0)

    val scores = posts.qualityClassifyScores("post_id", "body").collect()
    assert(scores.length == 3)
    assert(scores.forall(r => Set(0, 1)(r.getAs[Int]("label"))))

    // rule gate then classifier then tokenizer training — the
    // quality-pipeline composition the recipes document
    val admitted = posts.join(
      posts.gopherRuleFlags("post_id", "body").filter(col("pass") === 1)
        .select("post_id"),
      "post_id")
    val merges = admitted.bpeMerges("body", rounds = 3).collect()
    assert(merges.length == 3)
    assert(merges.forall(r =>
      r.getAs[String]("merged") == r.getAs[String]("lhs") + r.getAs[String]("rhs")))
  }

  test("cosineTopK ranks the aligned vector first") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.9f, 0.1f, 0.0f)),
      (12L, Seq(0.0f, 1.0f, 0.0f)),
      (13L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vid", "emb")
    val queries = Seq((1L, Seq(1.0f, 0.0f, 0.0f))).toDF("q_id", "q_vec")
    val nn = corpus.cosineTopK("vid", "emb", queries, k = 2).collect()
    assert(nn.length == 2)
    assert(nn.head.getAs[Long]("neighbor_id") == 10L)
    assert(nn.head.getAs[Int]("rk") == 1)
    assert(nn(1).getAs[Long]("neighbor_id") == 11L)
  }
  test("mmrTopK diversifies a user corpus: the near-dup of pick 1 loses slot 2") {
    // corpus: v1 closest to the query, v2 a near-copy of v1 (still
    // 2nd by relevance), v3 orthogonal to v1 yet relevant. Pure
    // relevance ranks (v1, v2, v3): rel ≈ (0.80, 0.76, 0.60), but
    // MMR slot 2 compares 7·0.76 − 3·0.998 ≈ 2.34 against
    // 7·0.60 − 3·0 = 4.2 — the near-copy must lose to diversity.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, -0.06f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("id", "vec")
    val queries = Seq((100L, Array(0.8f, 0.6f, 0.0f)))
      .toDF("q_id", "q_vec")
    val got = corpus.mmrTopK("id", "vec", queries, poolK = 3, selK = 3)
      .collect().map(r => (r.getAs[Int]("pos"), r.getAs[Long]("cand_id")))
      .sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L))
  }

  test("bpeEncodeStats encodes a user table with custom column names") {
    val docs = Seq((10L, "aaab ab"), (11L, "c")).toDF("k", "body")
    val got = docs.bpeEncodeStats(Seq(("a", "a"), ("a", "b")), "k", "body")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens")))
      .toSeq
    assert(got == Seq((10L, 3L), (11L, 1L))) // aaab->[aa,ab], ab->[ab], c->[c]
  }

  test("assembleTransactions groups a user event frame at XID boundaries") {
    val ev = Seq(
      ("f1", 10L, "QUERY", null, null, "BEGIN", -1L),
      ("f1", 20L, "TABLE_MAP", null, "t1", null, -1L),
      ("f1", 30L, "WRITE_ROWS_V2", "c", "t1", null, -1L),
      ("f1", 40L, "XID", null, null, null, 77L),
      ("f1", 50L, "QUERY", null, null, "BEGIN", -1L),
      ("f1", 60L, "UPDATE_ROWS_V2", "u", "t2", null, -1L),
      ("f1", 65L, "DELETE_ROWS_V2", "d", "t1", null, -1L),
      ("f1", 70L, "XID", null, null, null, 78L),
      ("f1", 80L, "QUERY", null, null, "BEGIN", -1L) // uncommitted tail
    ).toDF("file", "log_pos", "event_type", "op", "table_name", "query", "xid")
    val got = ev.assembleTransactions().collect()
      .map(r => (r.getAs[Long]("txn_xid"), r.getAs[Long]("begin_pos"),
        r.getAs[Long]("commit_pos"), r.getAs[Long]("n_row_images"),
        r.getAs[Long]("n_tables"), r.getAs[Long]("n_events")))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (77L, 10L, 40L, 1L, 1L, 4L),
      (78L, 50L, 70L, 2L, 2L, 4L))) // the open tail never becomes a txn
  }
}
