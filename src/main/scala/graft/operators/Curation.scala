package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation: the operations a large-scale LLM data
  * pipeline runs between "raw corpus" and "training shards" —
  * deterministic splits, stratified/weighted sampling, sequence
  * packing, eval-set decontamination, vocabulary statistics and
  * fixed-point tf-idf, and a deterministic global shuffle.
  *
  * Determinism contract: every sampling decision is a pure function
  * of the row key via `hexFrac` (48 bits of md5 as an exact binary
  * fraction), so the same corpus always produces the same splits on
  * any engine — a reproducibility property real pipelines need
  * (re-runs must not resample), and what makes each operator
  * DuckDB-oracle-checkable despite "randomness".
  *
  * Scale notes per operator are inline; the common theme is that
  * nothing here ever materializes an unbounded group on one node:
  * sampling is per-row, packing windows are sharded, the only global
  * sort is top-K (TakeOrderedAndProject).
  */
object Curation extends org.apache.spark.internal.Logging {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("cur_split", splitQ, Some(splitSql)),
    QueryDef("cur_sample_stratified", stratified, Some(stratifiedSql)),
    QueryDef("cur_sample_exact_k", exactK, Some(exactKSql)),
    QueryDef("cur_pack_sequences", pack, Some(packSql)),
    QueryDef("cur_pack_tokens", packTokens, Some(packTokensSql)),
    QueryDef("cur_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("cur_domain_mix", domainMix, Some(domainMixSql)),
    QueryDef("cur_vocab", vocab, Some(vocabSql)),
    QueryDef("cur_tfidf", tfidf, Some(tfidfSql)),
    QueryDef("cur_shuffle", shuffleQ, Some(shuffleSql)),
    QueryDef("cur_semdedup", semdedup, Some(semdedupSql)),
    QueryDef("cur_bm25", bm25, Some(bm25Sql)),
    QueryDef("cur_dsir", dsir, Some(dsirSql)),
    QueryDef("cur_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    QueryDef("cur_quality_classify", qualityClassify, Some(qualityClassifySql)),
    QueryDef("cur_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("cur_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("cur_corpus_stats", corpusStats, Some(corpusStatsSql)),
    QueryDef("cur_chunk_docs", chunkDocs, Some(chunkDocsSql)),
    QueryDef("cur_pipeline_funnel", pipelineFunnel, Some(pipelineFunnelSql)),
    QueryDef("cur_oov_rate", oovRate, Some(oovRateSql)),
    QueryDef("cur_interleave", interleave, Some(interleaveSql))
  )

  // ---------------------------------------------------------------
  // cur_semdedup: semantic dedup (SemDeDup, Abbas et al. 2023) —
  // drop all but ONE representative of each embedding near-dup
  // cluster. Composes the library's own stages: LSH-blocked exact-
  // cosine pairs (embeddingDedupPairs, itself oracled) → connected
  // components (min-label propagation, warm-started) → keep the
  // min-id member per component. Output: every corpus vector with
  // its cluster representative and a kept flag — the row filter a
  // pipeline applies before training.
  //
  // Scale: pair mining is the capped band join (never all-pairs);
  // CC is |pairs|-bounded iteration with rebased lineage; the final
  // membership join is a keyed equijoin against the (small) labeled
  // -vertex set. Nothing corpus-sized crosses the driver.
  // ---------------------------------------------------------------
  private def semdedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = Similarity.embeddingDedupCorpus(s, dir)
    val pairs = Similarity
      .embeddingDedupPairs(corpus, "vec_id", "embedding", dim = 64, threshold = 0.995)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val comps = Dedup.connectedComponents(pairs)
    corpus.select(col("vec_id"))
      .join(comps.select(col("v").as("vec_id"), col("label")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("rep_id"))
      .withColumn("kept", col("vec_id") === col("rep_id"))
      .orderBy("rep_id", "vec_id")
  }

  private lazy val semdedupSql =
    s"""WITH RECURSIVE
       |${Similarity.embeddingPairsCtes},
       |dpairs AS (SELECT vec_a, vec_b FROM cos WHERE cs > 0.995),
       |sym AS (
       |  SELECT vec_a AS v, vec_b AS n FROM dpairs
       |  UNION ALL
       |  SELECT vec_b AS v, vec_a AS n FROM dpairs
       |),
       |reach(v, r) AS (
       |  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
       |  UNION
       |  SELECT sym.v, reach.r FROM sym JOIN reach ON reach.v = sym.n
       |),
       |comp AS (SELECT v, MIN(r) AS rep FROM reach GROUP BY v)
       |SELECT c.vec_id, COALESCE(comp.rep, c.vec_id) AS rep_id,
       |       (COALESCE(comp.rep, c.vec_id) = c.vec_id) AS kept
       |FROM corpus c LEFT JOIN comp ON comp.v = c.vec_id
       |ORDER BY rep_id, vec_id""".stripMargin

  // Deterministic uniform [0,1) from a key: see graft.functions
  // .DetHash (48-bit md5 fraction — exact IEEE arithmetic on both
  // engines, no RNG, no float-summation order anywhere).
  def hexFrac(key: Column, salt: String): Column =
    graft.functions.DetHash.frac(key, salt)

  private def hexFracSql(h: String): String =
    graft.functions.DetHash.fracOfHexSql(h)

  // --- cur_split: train/val/test assignment ----------------------
  // Split membership is a property of the doc key alone — adding
  // data never reshuffles existing docs across splits (the property
  // hash-mod splits are chosen for in practice). Per-row decision +
  // one partial-agg rollup: no skew, no wide shuffle of payloads.
  private def splitQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("f", hexFrac(col("doc_id"), "split:"))
      .withColumn("split",
        when(col("f") < 0.05, "val")
          .when(col("f") < 0.10, "test")
          .otherwise("train"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split", "lang")

  private lazy val splitSql =
    s"""WITH d AS (
       |  SELECT *, md5('split:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
       |), f AS (
       |  SELECT *, ${hexFracSql("h")} AS f FROM d
       |), sp AS (
       |  SELECT *, CASE WHEN f < 0.05 THEN 'val'
       |                 WHEN f < 0.10 THEN 'test'
       |                 ELSE 'train' END AS split
       |  FROM f
       |)
       |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM sp GROUP BY split, lang ORDER BY split, lang""".stripMargin

  // --- cur_sample_stratified: equalize languages -----------------
  // Down-sample every language to the size of the smallest one.
  // Rates are a tiny per-lang table (broadcast); the keep decision
  // is per-row — the corpus itself never shuffles.
  private def stratified(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val target = counts.agg(min(col("n")).as("target"))
    val rates = counts.crossJoin(broadcast(target))
      .select(col("lang"),
        (col("target").cast("double") / col("n").cast("double")).as("rate"))
    d.join(broadcast(rates), "lang")
      .filter(hexFrac(col("doc_id"), "strat:") < col("rate"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  private lazy val stratifiedSql =
    s"""WITH c AS (
       |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
       |), r AS (
       |  SELECT lang,
       |         CAST((SELECT min(n) FROM c) AS DOUBLE) / CAST(n AS DOUBLE) AS rate
       |  FROM c
       |), d AS (
       |  SELECT doc_id, documents.lang AS lang, rate,
       |         md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents JOIN r ON documents.lang = r.lang
       |)
       |SELECT doc_id, lang FROM d
       |WHERE ${hexFracSql("h")} < rate
       |ORDER BY doc_id""".stripMargin

  // --- cur_sample_exact_k: exactly k per group, reproducibly -----
  // Rate-based sampling (above) only hits a target size in
  // expectation; eval-set construction wants EXACTLY k rows per
  // group, stable across runs. Rank rows by their deterministic
  // hash fraction and keep the k smallest per group — via the
  // TopKPerKey bounded-heap plan (one keyed exchange, O(n log k),
  // no per-group sort), the same scale shape as the KMV sketch.
  private val ExactK = 20

  private def exactK(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.DetHash.frac(col("doc_id"), "res:").as("u"))
      .withColumn("negu", -col("u")) // TopKPerKey orders desc
      // doc_id breaks 48-bit-fraction ties (oracle orders by (u,
      // doc_id)): at 1e9-row groups the expected number of boundary
      // hash collisions exceeds 1, and an untied heap would keep
      // whichever colliding row its partition iterated first. negated
      // → ascending under the operator's descending order; exact in a
      // double for ids < 2^53.
      .withColumn("negid", -col("doc_id").cast("double"))
    graft.plans.TopKPerKey(d, Seq("lang"), "negu", ExactK, tiebreakCol = Some("negid"))
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }

  private lazy val exactKSql =
    s"""WITH u AS (
       |  SELECT doc_id, lang, md5('res:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, lang, ${hexFracSql("h")} AS u FROM u
       |), r AS (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
       |  FROM f
       |)
       |SELECT lang, doc_id FROM r WHERE rn <= $ExactK
       |ORDER BY lang, doc_id""".stripMargin

  // --- cur_pack_sequences: greedy char-budget packing ------------
  // Docs are packed into fixed-budget sequences in key order WITHIN
  // a (lang, shard) cell — the window partition is bounded by the
  // shard count, never "all docs of a language on one node" (the
  // global-window formulation that dies at 100 TB). Cross-shard
  // sequences just get independent seq_id spaces, which is what
  // training shards want anyway.
  private val PackBudget = 4000L
  private val PackShards = 8

  private def pack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .withColumn("shard", col("doc_id") % PackShards)
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_chars) div $PackBudget"))
      .groupBy("lang", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_packed"))
      .orderBy("lang", "shard", "seq_id")
  }

  private lazy val packSql =
    s"""WITH w AS (
       |  SELECT lang, doc_id % $PackShards AS shard, n_chars,
       |         sum(n_chars) OVER (PARTITION BY lang, doc_id % $PackShards
       |                            ORDER BY doc_id
       |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents
       |), q AS (
       |  SELECT lang, shard, CAST((cum - n_chars) // $PackBudget AS BIGINT) AS seq_id, n_chars FROM w
       |)
       |SELECT lang, shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_packed
       |FROM q GROUP BY lang, shard, seq_id ORDER BY lang, shard, seq_id""".stripMargin

  // --- cur_pack_tokens: token-TRUE packing (tiling) ---------------
  // cur_pack_sequences budgets by characters; an actual pretraining
  // loader packs by ENCODED TOKENS: the per-cell doc stream is
  // concatenated into one token stream and cut every PackTokBudget
  // tokens — every window is ≤ budget by construction and the tiling
  // is lossless (Σ window tokens = Σ doc tokens; both spec-pinned).
  // Token counts are the REAL tokenizer's (cur_bpe_encode's learned
  // merges, not a whitespace proxy), so the window boundaries are
  // the ones the loader would see.
  //
  // Scale shape: the token counts come from the |vocab|-cost encode
  // join (corpus never re-shingles); each doc then expands to only
  // the windows it TOUCHES (ceil(n_tok/budget) rows, ~1 for typical
  // docs) — never a per-token explode; the window aggregate is one
  // keyed shuffle of those interval rows. Cells are (lang, shard)
  // like cur_pack_sequences, so no global window at any scale.
  // ---------------------------------------------------------------
  private val PackTokBudget = 512L

  private def packTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = bpeEncodeStats(docs.select("doc_id", "text"), learnedMerges(s, dir))
      .select(col("doc_id"), col("n_tokens"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select("doc_id", "lang").join(toks, "doc_id")
      .filter(col("n_tokens") > 0)
      .withColumn("shard", col("doc_id") % PackShards)
      .withColumn("e", sum(col("n_tokens")).over(w))
      .withColumn("s", col("e") - col("n_tokens"))
      .select(col("lang"), col("shard"), col("s"), col("e"),
        explode(expr(s"sequence(s div $PackTokBudget, (e - 1) div $PackTokBudget)"))
          .as("win_id"))
      .groupBy("lang", "shard", "win_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("e"), (col("win_id") + 1) * PackTokBudget) -
          greatest(col("s"), col("win_id") * PackTokBudget)).as("n_tokens"))
      .orderBy("lang", "shard", "win_id")
  }

  private lazy val packTokensSql = {
    // per-doc true token counts via the bpe-encode CTE chain (same
    // construction as cur_bpe_encode's oracle)
    val ctes = (1 to BpeRounds)
      .map(n => s"${bpePairCte(n)},\n${bpeVocabCte(n, carryWord = true)}")
      .mkString(",\n")
    s"""WITH ${bpeWordsCte(carryWord = true)},
       |$ctes,
       |d AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                            x -> length(x) > 0)) AS word
       |  FROM documents),
       |enc AS (SELECT word, len(syms) AS n_tok FROM v$BpeRounds),
       |doctok AS (
       |  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM d JOIN enc USING (word) GROUP BY doc_id),
       |spans AS (
       |  SELECT dd.lang, dd.doc_id % $PackShards AS shard,
       |         sum(t.n_tokens) OVER (PARTITION BY dd.lang, dd.doc_id % $PackShards
       |                               ORDER BY dd.doc_id
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS e,
       |         t.n_tokens
       |  FROM documents dd JOIN doctok t ON dd.doc_id = t.doc_id
       |  WHERE t.n_tokens > 0),
       |iv AS (SELECT lang, shard, e - n_tokens AS s, e FROM spans),
       |win AS (
       |  SELECT lang, shard, s, e,
       |         unnest(range(CAST(s // $PackTokBudget AS BIGINT),
       |                      CAST(((e - 1) // $PackTokBudget) + 1 AS BIGINT)))
       |           AS win_id
       |  FROM iv)
       |SELECT lang, shard, win_id, count(*) AS n_docs,
       |       CAST(sum(least(e, (win_id + 1) * $PackTokBudget) -
       |                greatest(s, win_id * $PackTokBudget)) AS BIGINT) AS n_tokens
       |FROM win GROUP BY lang, shard, win_id
       |ORDER BY lang, shard, win_id""".stripMargin
  }

  // --- cur_decontaminate: eval-set n-gram overlap ----------------
  // Benchmark contamination check: flag training docs sharing any
  // 8-gram with the (small) eval set. Grams explode partition-
  // locally; the join shuffles only (gram, doc_id) pairs — documents
  // themselves never move. At 100 TB the eval gram set is broadcast-
  // sized by construction (evals are small); here AQE picks the
  // strategy.
  private val GramN = 8
  /** planted "plagiarized" training docs get ids above this floor */
  private val PlantBase = 2000000L

  /** (keep..., gh1, gh2) rows — the word n-gram explode shared by the
    * decontamination entry and api.contaminatedBy, so a tokenization
    * or off-by-one fix cannot diverge their contamination verdicts.
    * Grams ship as two independent 64-bit hash lanes, never text —
    * see [[TextAnalysis.hashedWordGramKeys]] for the construction
    * and the collision analysis; both consumers only count/join gram
    * identity, so the join and the distinct shuffle 16-byte keys
    * instead of ~8-word strings.
    */
  private[graft] def wordGramRows(
      t: DataFrame, keep: Seq[Column], textCol: String, n: Int): DataFrame =
    TextAnalysis.hashedWordGramKeys(
      t, keep, split(lower(col(textCol)), "\\s+"), n).drop("pos")

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.parallelized(Tables.documents(s, dir).select(col("doc_id"), col("text")))
    // contamination universe: the synthetic corpus has no organic
    // duplication, so plant full copies of each eval doc on the
    // training side (the ground truth the operator must flag)
    val planted = d.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + PlantBase).as("doc_id"), col("text"))
    val corpus = d.unionAll(planted)
    val grams = wordGramRows(corpus, Seq(col("doc_id")), "text", GramN)
    val isEval = col("doc_id") % 97 === 0 && col("doc_id") < PlantBase
    val evalGrams = grams.filter(isEval).select("gh1", "gh2").distinct()
    grams.filter(!isEval)
      .join(evalGrams, Seq("gh1", "gh2"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gh1"), col("gh2")).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  private lazy val decontaminateSql =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantBase AS doc_id, text FROM documents WHERE doc_id % 97 = 0
       |), t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM corpus
       |), g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, len(toks) - ${GramN - 1}),
       |                i -> array_to_string(list_slice(toks, i + 1, i + $GramN), ' '))) AS gram
       |  FROM t WHERE len(toks) >= $GramN
       |), e AS (
       |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0 AND doc_id < $PlantBase
       |)
       |SELECT g.doc_id AS doc_id,
       |       CAST(count(DISTINCT g.gram) AS BIGINT) AS n_shared_grams
       |FROM g JOIN e ON g.gram = e.gram
       |WHERE NOT (g.doc_id % 97 = 0 AND g.doc_id < $PlantBase)
       |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  // --- cur_domain_mix: rebalance sources to equal char share -----
  // Weighted mixture sampling: each source domain is down-sampled
  // toward an equal share of the total character budget (rate capped
  // at 1 — undersized domains keep everything). Same shape as
  // stratified: tiny broadcast rate table, per-row keep decision.
  private def domainMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val per = d.groupBy("source").agg(sum(col("n_chars")).as("chars"))
    val tot = per.agg(sum(col("chars")).as("total"), count(lit(1)).as("k"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0),
          col("total").cast("double") / col("k").cast("double") /
            col("chars").cast("double")).as("rate"))
    d.join(broadcast(rates), "source")
      .filter(hexFrac(col("doc_id"), "mix:") < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy("source")
  }

  private lazy val domainMixSql =
    s"""WITH per AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(chars) AS BIGINT) AS total, count(*) AS k FROM per
       |), r AS (
       |  SELECT source,
       |         least(CAST(1.0 AS DOUBLE),
       |               CAST(total AS DOUBLE) / CAST(k AS DOUBLE) / CAST(chars AS DOUBLE)) AS rate
       |  FROM per, tot
       |), d AS (
       |  SELECT doc_id, documents.source AS source, n_chars, rate,
       |         md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents JOIN r ON documents.source = r.source
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |FROM d WHERE ${hexFracSql("h")} < rate
       |GROUP BY source ORDER BY source""".stripMargin

  // --- cur_temperature_mix: τ-tempered multinomial mixture -------
  // The LLM-data-recipe sampler (GPT-3/LLaMA style): domain d gets a
  // share ∝ n_d^τ of the doc budget — τ<1 flattens the natural
  // distribution, up-weighting small domains without discarding the
  // head. EXACTLY-t_d docs per domain (not rate-expected — that is
  // cur_sample_stratified), chosen as the t_d smallest deterministic
  // hash fractions, so the selection is reproducible and grows
  // stably as the corpus grows.
  //
  // Scale: pass 1 is a map-side-combined count to |domains| rows,
  // COLLECTED like the PQ seeds/IVF centroids (a bounded driver
  // table) so the main pass never re-runs the agg; its τ-powered
  // integer targets broadcast back. Pass 2 ranks per domain through
  // the TopKPerKey bounded heap (k = max target — O(n log k), no
  // per-domain full sort) and re-ranks only the ≤|domains|·maxT
  // survivors with a window that reuses the heap's keyed exchange.
  // For a domain so large even maxT rows on one reducer hurts, the
  // production variant estimates a per-domain u-threshold from a
  // sample, filters map-side, and exact-trims the remainder — the
  // same two-phase shape, documented here because the suite's
  // domains don't reach it.
  //
  // Numeric determinism: sqrt is IEEE-correctly-rounded on both
  // engines (pow(n, 0.5) is NOT guaranteed to be — avoided); the
  // τ-weight sum rides DECIMAL(18,9) so partial-agg order can't
  // shift an ulp; targets then derive in identical double arithmetic
  // on identical inputs.
  // τ is fixed at 1/2 (share ∝ sqrt(n)) so the power IS sqrt — the
  // one fractional power with an IEEE correctness guarantee; other
  // τ need a pow() whose last-ulp behavior the oracle can't pin.
  private val MixBudgetFrac = 10L // budget = n_total / this

  private def temperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixSelect(Tables.documents(s, dir), "doc_id", "source")

  /** Library form over any (id, domain) frame — see the §2 entry's
    * design notes above. Returns the selected (domain, id) rows. */
  def temperatureMixSelect(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      budgetFrac: Long = MixBudgetFrac): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(domainCol).as("source"))
    val s = docs.sparkSession
    val counts = d.groupBy("source")
      .agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
      .collect()
    val nTot = counts.map(_.getLong(1)).sum
    val z = counts.map(r => BigDecimal(r.getDecimal(2))).sum
    val budget = nTot / budgetFrac
    val targets = counts.map { r =>
      (r.getString(0),
        math.floor(budget.toDouble *
          r.getDecimal(2).doubleValue() / z.toDouble).toLong)
    }
    val maxTL = targets.map(_._2).max max 1L
    // TopKPerKey's heap takes an Int k: a per-domain target past
    // Int.MaxValue would silently wrap negative — refuse with the
    // real remedy (a heap of 2B rows per key is the wrong plan; shard
    // the domain before selecting)
    require(maxTL < Int.MaxValue,
      s"temperature-mix target $maxTL exceeds Int.MaxValue - shard the domain")
    val maxT = maxTL.toInt
    import s.implicits._
    val tDf = broadcast(targets.toSeq.toDF("source", "t"))
    val hashed = d
      .withColumn("u", graft.functions.DetHash.frac(col("doc_id"), "tmix:"))
      .withColumn("negu", -col("u"))
      // doc_id tiebreak for 48-bit-fraction collisions, as in exactK
      .withColumn("negid", -col("doc_id").cast("double"))
    val survivors = graft.plans.TopKPerKey(
      hashed, Seq("source"), "negu", maxT, tiebreakCol = Some("negid"))
    val w = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(w))
      .join(tDf, Seq("source"))
      .filter(col("rk") <= col("t"))
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  private lazy val temperatureMixSql =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY source
       |), cw AS (
       |  SELECT source, n, CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS w FROM c
       |), t AS (
       |  SELECT source,
       |         CAST(floor(CAST((SELECT sum(n) FROM c) // $MixBudgetFrac AS DOUBLE)
       |                    * CAST(w AS DOUBLE)
       |                    / CAST((SELECT sum(w) FROM cw) AS DOUBLE)) AS BIGINT) AS t
       |  FROM cw
       |), f AS (
       |  SELECT doc_id, source, md5('tmix:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY ${hexFracSql("h")}, doc_id) AS rn
       |  FROM f
       |)
       |SELECT r.source AS source, r.doc_id AS doc_id
       |FROM r JOIN t ON r.source = t.source
       |WHERE rn <= t.t
       |ORDER BY r.source, r.doc_id""".stripMargin

  // --- cur_vocab: corpus vocabulary statistics -------------------
  // Token frequency + document frequency, top 100. Map-side partial
  // aggregation absorbs token skew ("the" pre-aggregates in every
  // partition); the global sort is TakeOrderedAndProject, not a full
  // sort.
  private def vocab(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.parallelized(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    toks.groupBy("token")
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)
  }

  private lazy val vocabSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
       |  FROM documents
       |)
       |SELECT token, CAST(count(*) AS BIGINT) AS freq,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |FROM toks WHERE length(token) > 0
       |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin

  // --- cur_tfidf: fixed-point tf-idf top terms per doc -----------
  // idf is FIXED-POINT: (N * 1e6) div df — integer arithmetic, not
  // ln(N/df), because transcendental libm functions are not
  // bit-stable across engines (Java Math.log vs glibc log differ in
  // the last ulp) and this operator is oracle-hash-checked. The
  // ranking it induces is identical to 1/df-idf. Two shuffles:
  // by token (df) and by doc (top-3) — both on small pairs, never
  // the documents. The top-3 runs through the TopKPerKey bounded
  // heap (O(n log 3) per doc, no per-doc sort buffer): at 100 TB a
  // long doc carries thousands of distinct tokens, and a row_number
  // window sorts and materializes all of them to keep 3. The rank
  // column is recovered by a row_number window AFTER the heap —
  // over ≤3 rows per doc, riding the heap's preserved doc_id
  // partitioning (no second exchange).
  private val IdfScale = 1000000L
  private val TfIdfTopK = 3

  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = d
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // df rides tf: tf's rows are already DISTINCT (doc_id, token), so
    // counting them per token IS the document frequency — and because
    // the tf subtree is identical on both join branches, the physical
    // plan reuses its exchange (one tokenize pass, one shuffle)
    // instead of tokenizing the corpus a second time for a distinct.
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfTab, "token").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr(s"(n * $IdfScale) div df"))
      .select("doc_id", "token", "score")
    val top = graft.plans.TopKPerKey.ordered(
      scored, Seq("doc_id"), Seq(("score", false), ("token", true)), TfIdfTopK)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    top.withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("rk"), col("token"), col("score"))
      .orderBy("doc_id", "rk")
  }

  private lazy val tfidfSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, token FROM toks WHERE length(token) > 0
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token
       |), df AS (
       |  SELECT token, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token
       |), n AS (
       |  SELECT count(*) AS n FROM documents
       |), scored AS (
       |  SELECT tf.doc_id AS doc_id, tf.token AS token,
       |         tf.tf * ((n.n * $IdfScale) // df.df) AS score
       |  FROM tf JOIN df ON tf.token = df.token, n
       |), ranked AS (
       |  SELECT doc_id, token, score,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, token) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, rk, token, CAST(score AS BIGINT) AS score
       |FROM ranked WHERE rk <= $TfIdfTopK ORDER BY doc_id, rk""".stripMargin

  // --- cur_bm25: BM25 retrieval scoring over the corpus ----------
  // The standard curation/retrieval scorer cur_tfidf stops short
  // of: Okapi BM25 (k1=1.2, b=0.75) of a small query set against
  // every document — the shape quality-classifier seeding and
  // targeted corpus slicing use ("find the docs about X").
  //
  // Scale shape: the query-term filter is applied BEFORE the tf
  // aggregate, so the only token-keyed shuffle carries just the
  // docs×query-terms pairs, map-side partially aggregated — never
  // the corpus token stream. Doc length needs NO explode at all
  // (size(split(text)) is a projection), so the dl branch shuffles
  // one (doc_id, int) row per doc into the score join. df rides the
  // tf aggregate (its rows are already distinct (doc, token)), the
  // (N, avgdl) scalar and the query table broadcast, and the final
  // top-K per query is the rank-limit window Spark prunes with a
  // Partial WindowGroupLimit before the q_id exchange (asserted in
  // WindowGroupLimitSpec alongside the other top-K operators).
  //
  // FP determinism: idf involves ln() (libm, 1-ulp engine skew), so
  // each (query, doc, term) contribution is rounded to
  // DECIMAL(18,9) BEFORE the per-(query, doc) sum — order-free and
  // bit-stable, the text_crossentropy convention. The rational
  // tf-normalization factor is written with identical
  // parenthesization on both sides (IEEE doubles are deterministic
  // given the same operation order).
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** Gate query set: common corpus-vocabulary terms so every query
    * matches many docs and tf saturation + length normalization both
    * matter (rare terms would reduce BM25 to its idf factor).
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "hash", "join"),
    2 -> Seq("stream", "window", "batch"),
    3 -> Seq("slow", "scan", "filter", "column"))

  private def bm25(s: SparkSession, dir: String): DataFrame =
    bm25TopK(Tables.parallelized(Tables.documents(s, dir)),
      "doc_id", "text", Bm25Queries)
      .orderBy("q_id", "rk")

  /** Parametric library form over any (id, text) frame: top-`topK`
    * docs per query by BM25. `queries` is (q_id, terms); terms are
    * matched lowercase-exact against whitespace tokens. Unsorted
    * for library use; the gate query adds its own ordering.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Int, Seq[String])],
      k1: Double = Bm25K1,
      b: Double = Bm25B,
      topK: Int = Bm25TopK): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val qTerms = broadcast(
      queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("q_id", "token"))
    val allTerms = queries.flatMap(_._2).distinct
    val docsT = docs.select(col(idCol).as("doc_id"),
      split(lower(col(textCol)), "\\s+").as("w"))
    val dl = docsT.select(col("doc_id"), size(col("w")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = docsT
      .select(col("doc_id"), explode(col("w")).as("token"))
      .filter(col("token").isin(allTerms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // identical parenthesization to bm25Sql — IEEE doubles are
    // engine-deterministic given the same operation order; only the
    // ln() differs by ulps and the DECIMAL(18,9) round absorbs it
    val idf = ln(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / col("avgdl"))))
    val terms = tf
      .join(qTerms, Seq("token"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfTab), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        (idf * tfNorm).cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
    val scores = terms.groupBy("q_id", "doc_id")
      .agg(sum(col("term")).as("s"))
    val w = Window.partitionBy("q_id").orderBy(col("s").desc, col("doc_id"))
    scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("rk"), col("doc_id"),
        QueryDef.asDouble(col("s")).as("score"))
  }

  private lazy val bm25Sql = {
    val qVals = Bm25Queries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"($q, '$t')") }
      .mkString(", ")
    val inList = Bm25Queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH q(q_id, token) AS (VALUES $qVals),
       |docs_w AS (
       |  SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS dl
       |  FROM documents),
       |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM docs_w),
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks
       |  WHERE token IN ($inList) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |terms AS (
       |  SELECT q.q_id, tf.doc_id,
       |         CAST(ln(1 + (n - df + 0.5) / (df + 0.5)) *
       |              ((tf * ($Bm25K1 + 1)) /
       |               (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * (dl / avgdl))))
       |              AS DECIMAL(18,9)) AS term
       |  FROM tf JOIN q USING (token) JOIN docs_w USING (doc_id)
       |       JOIN df USING (token) CROSS JOIN stats),
       |scores AS (SELECT q_id, doc_id, SUM(term) AS s
       |           FROM terms GROUP BY q_id, doc_id),
       |ranked AS (
       |  SELECT q_id, doc_id, s,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY s DESC, doc_id) AS rk
       |  FROM scores)
       |SELECT q_id, rk, doc_id, CAST(s AS DOUBLE) AS score
       |FROM ranked WHERE rk <= $Bm25TopK ORDER BY q_id, rk""".stripMargin
  }

  // --- cur_shuffle: deterministic global training order ----------
  // "Shuffle the corpus" as a total order on md5(key): reproducible
  // across runs/engines, and a plain sort-by-computed-key at scale
  // (range-partitioned sort — no single-node window). The checked
  // query takes the first 50 (TakeOrderedAndProject); position
  // numbering happens on the bounded result.
  private def shuffleQ(s: SparkSession, dir: String): DataFrame = {
    val first = Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("h"))
      .orderBy("h").limit(50)
    first.withColumn("pos", row_number().over(Window.orderBy("h")))
      .select(col("pos"), col("doc_id"))
  }

  private lazy val shuffleSql =
    s"""SELECT row_number() OVER (ORDER BY h) AS pos, doc_id
       |FROM (
       |  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents ORDER BY h LIMIT 50
       |)""".stripMargin

  // ---------------------------------------------------------------
  // cur_dsir: data selection via importance resampling (DSIR — Xie
  // et al. 2023, "Data Selection for Language Models via Importance
  // Resampling"). Score every doc by the log-likelihood ratio of its
  // hashed-bigram profile under a TARGET corpus (here: the curated
  // 'src1' source) vs the raw corpus; keep the top-K. The selection
  // knob real pipelines use to tilt a web crawl toward a reference
  // distribution without training a classifier.
  //
  // Scale shape — two passes over the text, and that is the RIGHT
  // trade: pass 1 reduces bigram occurrences to a B-bounded bucket
  // histogram (partial map-side counts; the only exchange carries
  // ≤ B rows per task), both raw and target counts riding the one
  // aggregate via a conditional sum; pass 2 streams occurrences
  // map-side against the BROADCAST B-row weight table and partial-
  // sums per doc before the one doc-sized exchange. The
  // single-exchange alternative (shuffle every token occurrence by
  // bucket, window-count, reshuffle by doc — the crossentropy
  // pattern) would move corpus-token-sized data across the network
  // twice; here the second scan is CPU-only and the weight table is
  // 4096 rows — broadcast beats reshuffle, the opposite conclusion
  // from crossentropy's non-broadcastable LM counts. Top-K is
  // sort-limit (TakeOrderedAndProject), never a corpus-wide window;
  // rank numbering runs on the K-row post-limit frame.
  //
  // Determinism: md5-derived buckets (identical hex both engines),
  // integer counts, one double division per feature with identical
  // parenthesization, and the per-feature DECIMAL(18,9) round
  // absorbing libm ln() ulp skew — the bm25 convention.
  // ---------------------------------------------------------------
  val DsirBuckets = 4096
  val DsirTopK = 100
  private val DsirTarget = "src1"

  private def dsir(s: SparkSession, dir: String): DataFrame =
    dsirTopK(Tables.parallelized(Tables.documents(s, dir)),
      "doc_id", "text", col("source") === DsirTarget)

  /** Library form: DSIR importance scores of `docs` toward the
    * `isTarget` subset, top-K by score. Returns (rk, doc_id,
    * dsir_score). See the query comment for the plan rationale.
    */
  def dsirTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = DsirBuckets,
      topK: Int = DsirTopK): DataFrame = {
    // the weight table is collected (≤`buckets` rows — the
    // DriverQuotientMax / IVF-codebook driver-bound convention);
    // keep that bound sane for library callers
    require(buckets > 0 && buckets <= (1 << 22),
      s"dsirTopK: buckets must be in (0, 2^22], got $buckets")
    val words = docs
      .select(col(idCol).as("doc_id"), isTarget.as("is_t"),
        split(lower(col(textCol)), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
    // per-bigram md5 buckets via the native expression (r18: the
    // builtin transform+concat_ws+md5+conv chain paid an interpreted
    // HOF lambda plus three string allocations per bigram — measured
    // ~22 s of summed task CPU per pass at sf0.1; FunctionsSpec pins
    // bucket equality against the builtin chain)
    val toks = words.select(col("is_t"),
      explode(graft.functions.bigram_md5_buckets(col("w"), buckets)).as("bucket"))
    val hist = toks.groupBy("bucket")
      .agg(count(lit(1)).as("raw_n"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("tgt_n"))
    val wCol = (ln((col("tgt_n") + lit(1.0)) / (col("tgt_tot") + lit(buckets.toDouble))) -
      ln((col("raw_n") + lit(1.0)) / (col("raw_tot") + lit(buckets.toDouble))))
      .cast(org.apache.spark.sql.types.DecimalType(18, 9))
    // totals as a window over the ≤`buckets`-row histogram, NOT a
    // separate hist.agg branch: the agg form re-derived the whole
    // explode lineage a third time (measured — AQE reused only the
    // scan exchange), while this single-partition window runs on a
    // constant-bounded frame after the bucket exchange. Two corpus
    // passes total, by design.
    val wAll = Window.partitionBy(lit(1))
    val weights = hist
      .withColumn("raw_tot", sum(col("raw_n")).over(wAll))
      .withColumn("tgt_tot", sum(col("tgt_n")).over(wAll))
      .select(col("bucket"), wCol.as("wt"))
    // r18 shape change (guide §2.3-2.4): the weight table is ≤`buckets`
    // tiny rows — collect it (driver-bounded by the require above) and
    // score each doc MAP-SIDE in one native expression feeding a
    // partial top-K (TakeOrderedAndProject). The old form broadcast-
    // joined every exploded bigram and shuffled |docs| score rows; now
    // nothing doc-proportional crosses an exchange. Buckets absent
    // from the histogram stay weight-0: pass-2 buckets are by
    // construction ⊆ corpus buckets = histogram keys, so the slot is
    // never read. Decimal weight sums are exact and order-free — the
    // unscaled-long sum is bit-identical to the distributed sum(wt)
    // (oracle-verified rows+schema+hash).
    val wtArr = new Array[Long](buckets)
    weights.collect().foreach { r =>
      wtArr(r.getLong(0).toInt) =
        r.getDecimal(1).setScale(9).unscaledValue().longValueExact()
    }
    val top = words
      .select(col("doc_id"), graft.functions.dsir_score(col("w"), wtArr).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(topK)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("s").desc, col("doc_id"))))
      .select(col("rk"), col("doc_id"),
        QueryDef.asDouble(col("s")).as("dsir_score"))
  }

  private lazy val dsirSql = {
    // nibble-decode the first 8 hex chars of md5(bg) — the Dedup
    // minhash decode, inlined for the bucket hash
    val hex32 = (0 until 8).map(k =>
      s"(instr('0123456789abcdef', substring(h, ${1 + k}, 1)) - 1) * ${1L << (4 * (7 - k))}")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, is_t,
       |         unnest(list_transform(range(1, len(w)),
       |           i -> w[i] || ' ' || w[i+1])) AS bg
       |  FROM (SELECT doc_id, (source = '$DsirTarget') AS is_t,
       |               string_split_regex(lower(text), '\\s+') AS w
       |        FROM documents)
       |  WHERE len(w) >= 2),
       |tb AS (
       |  SELECT doc_id, is_t, CAST(($hex32) AS BIGINT) % $DsirBuckets AS bucket
       |  FROM (SELECT doc_id, is_t, md5(bg) AS h FROM toks)),
       |hist AS (
       |  SELECT bucket, count(*) AS raw_n,
       |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tgt_n
       |  FROM tb GROUP BY bucket),
       |tot AS (SELECT sum(raw_n) AS raw_tot, sum(tgt_n) AS tgt_tot FROM hist),
       |wts AS (
       |  SELECT bucket,
       |         CAST(ln((tgt_n + 1.0) / (tgt_tot + $DsirBuckets.0)) -
       |              ln((raw_n + 1.0) / (raw_tot + $DsirBuckets.0))
       |              AS DECIMAL(18,9)) AS wt
       |  FROM hist CROSS JOIN tot),
       |sc AS (
       |  SELECT doc_id, sum(wt) AS s
       |  FROM tb JOIN wts USING (bucket) GROUP BY doc_id),
       |top AS (SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT $DsirTopK)
       |SELECT row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
       |       doc_id, CAST(s AS DOUBLE) AS dsir_score
       |FROM top ORDER BY rk""".stripMargin
  }

  // ---------------------------------------------------------------
  // cur_quality_classify: model-based quality filtering — the
  // fastText-style linear classifier of the GPT-3/FineWeb-Edu
  // pipelines (hashed bag of unigram+bigram features, linear score,
  // keep/drop label), with the trained weight table replaced by a
  // deterministic hash-derived weight per feature (md5 fold centered
  // at zero) so both engines share the "model" without a weights
  // artifact. Arithmetic is EXACT: weights are 48-bit integers, the
  // doc score is a BIGINT sum (order-independent), and the exported
  // normalized score is floor-milli of that sum — no transcendental
  // sigmoid (monotone in the linear score, so thresholding is
  // unchanged; same fixed-point rationale as cur_tfidf's idf).
  //
  // Scale: entirely per-row map-side — features are built and folded
  // with array HOFs inside codegen, NO explode and NO shuffle before
  // the output sort. At 100 TB this is a single scan-transform; the
  // real-model variant swaps [[classifierWeight]] for a broadcast
  // weight-table lookup with the identical plan shape.
  // ---------------------------------------------------------------
  private[operators] val WeightCenter = 1L << 47

  /** hash-derived signed weight in [-2^47, 2^47) for a feature's
    * md5 HEX — takes the digest, not the feature: int48OfHex expands
    * to 12 references of its argument, and inside an array-HOF
    * lambda there is no subexpression elimination, so inlining the
    * md5 ran the digest 12× per feature (measured: the classifier
    * entry at 18.2s; binding the hex to a lambda variable first
    * → 1.6s, values identical). */
  private def classifierWeightOfHex(hex: Column): Column =
    graft.functions.DetHash.int48OfHex(hex) - lit(WeightCenter)

  /** APPEND the linear-classifier columns (n_features, score_sum,
    * score_milli, label) to any frame with a `textCol` — input
    * columns kept, so it composes with other per-row scorers in
    * batch or streaming plans. Entirely map-side.
    */
  def qualityClassifyScores(
      input: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)
    val input2 = input.withColumn("__qc_ws", ws)
    val bigrams = when(size(col("__qc_ws")) >= 2,
      transform(sequence(lit(1), size(col("__qc_ws")) - 1),
        i => concat(element_at(col("__qc_ws"), i), lit(" "),
          element_at(col("__qc_ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    input2
      .withColumn("__qc_feats", concat(col("__qc_ws"), bigrams))
      .withColumn("n_features", size(col("__qc_feats")).cast("long"))
      // digest once per feature, THEN fold the 12-digit weight over
      // the bound hex variable (see classifierWeightOfHex)
      .withColumn("__qc_hex",
        transform(col("__qc_feats"), f => md5(concat(lit("qw:"), f))))
      .withColumn("score_sum",
        aggregate(col("__qc_hex"), lit(0L),
          (acc, h) => acc + classifierWeightOfHex(h)))
      .withColumn("score_milli",
        floor(col("score_sum").cast("double") * 1000 /
          (col("n_features").cast("double") * WeightCenter)).cast("long"))
      .withColumn("label", (col("score_sum") >= 0).cast("int"))
      .drop("__qc_ws", "__qc_feats", "__qc_hex")
  }

  private def qualityClassify(s: SparkSession, dir: String): DataFrame =
    qualityClassifyScores(
      Tables.parallelized(Tables.documents(s, dir).select(col("doc_id"), col("text"))),
      "doc_id", "text")
      .select(col("doc_id"), col("n_features"), col("score_sum"),
        col("score_milli"), col("label"))
      .orderBy("doc_id")

  private lazy val qualityClassifySql = {
    val w = graft.functions.DetHash.int48OfHexSql("md5('qw:' || f)")
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '\\s+'), w -> length(w) > 0) AS ws
       |  FROM documents
       |), f AS (
       |  SELECT doc_id,
       |         CASE WHEN len(ws) >= 2
       |           THEN list_concat(ws, list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
       |           ELSE ws END AS feats
       |  FROM d
       |), scored AS (
       |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_features,
       |         list_reduce(list_transform(feats, f -> $w - $WeightCenter),
       |                     (a, b) -> a + b) AS score_sum
       |  FROM f
       |)
       |SELECT doc_id, n_features, score_sum,
       |  CAST(floor(CAST(score_sum AS DOUBLE) * 1000 /
       |       (CAST(n_features AS DOUBLE) * $WeightCenter)) AS BIGINT) AS score_milli,
       |  CAST(score_sum >= 0 AS INT) AS label
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // cur_bpe_train: BPE tokenizer training (Sennrich et al. 2016) —
  // learn the first R merge rules from the corpus. The corpus
  // collapses FIRST to its word-frequency table (the classical BPE
  // working set: at 100 TB the vocab is millions of rows, not the
  // corpus), words split to character symbols, then per round: count
  // adjacent symbol pairs weighted by word frequency, take the
  // argmax (tie → lexicographically smallest pair), and merge its
  // occurrences left-to-right non-overlapping in every word.
  //
  // Scale: each round is one |vocab|-bounded aggregation (the pair
  // explode fans ≤ word-length per vocab row) plus a map-side array
  // fold to apply the merge; only the single winning (pair, count)
  // row crosses the driver per round (the bounded-collect precedent
  // of the PQ seeds). The evolving vocab is persisted per round and
  // the predecessor unpersisted, so lineage stays one fold deep.
  //
  // The merge fold needs no skip flag: after a merge the list tail
  // IS the merged symbol p||q, which can never equal p (q nonempty),
  // so the next element can't chain-merge — exactly the left-to-
  // right non-overlapping scan of the reference algorithm. The
  // DuckDB oracle unrolls the R rounds as a CTE chain and folds with
  // a plain VARCHAR[] list_reduce (a struct accumulator would trip a
  // DuckDB 1.0 list_reduce bug that drops lambda-built struct
  // accumulators — measured, not speculation).
  // ---------------------------------------------------------------
  private val BpeRounds = 6

  /** Apply merge (p, q) -> pq left-to-right non-overlapping. */
  private def bpeMergeFold(syms: Column, p: String, q: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          get(acc, size(acc) - 1) === lit(p) && s === lit(q),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(p + q))))
        .otherwise(concat(acc, array(s))))

  /** Driver safety cap on the collected word-frequency table: the
    * trainer sees at most this many words (highest-frequency first,
    * word-ascending tiebreak for determinism). Web-scale text has
    * 10⁸-10⁹ distinct whitespace "words" (mostly noise singletons);
    * the classical BPE working set is the frequent head, and every
    * real tokenizer trainer prunes the tail the same way
    * (min_frequency / vocab cap).
    */
  private[graft] val BpeMaxVocab = 2000000

  /** The |vocab|-bounded word-frequency collect feeding the trainer:
    * min-frequency prune (exact: merges are unchanged whenever every
    * word that can influence a learned pair clears the threshold)
    * then a top-`maxVocab` bounded take — deterministic (freq desc,
    * word asc) and structurally capped, so the driver never holds
    * more than `maxVocab` rows no matter how degenerate the corpus.
    */
  private[graft] def bpeWordFreq(
      input: DataFrame, textCol: String,
      minFreq: Long, maxVocab: Int): Array[(String, Long)] = {
    // collect ONE sentinel row past the cap so truncation is
    // detected (and loudly warned about) rather than silent: when
    // the head doesn't fit, learned merges can differ from the
    // exact unpruned computation
    val probe = if (maxVocab < Int.MaxValue) maxVocab + 1 else maxVocab
    val rows = input
      .select(explode(
        filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("word"))
      .limit(probe)
      .collect()
    if (rows.length > maxVocab)
      logWarning(
        s"bpeMerges: distinct words with freq >= $minFreq " +
          s"exceed maxVocab=$maxVocab — training on the top-$maxVocab " +
          "head; learned merges are approximate vs the unpruned trainer")
    rows.take(maxVocab).map(r => (r.getString(0), r.getLong(1)))
  }

  /** First `rounds` BPE merges over any text column:
    * (rnd, lhs, rhs, merged, cnt). Stops early if no pair remains.
    *
    * ONE Spark job — the |vocab|-bounded word-frequency aggregation
    * (the classical BPE working set: millions of rows at 100 TB, not
    * the corpus), pruned by `minFreq` and hard-capped at `maxVocab`
    * rows before the collect — then the whole R-round merge loop
    * runs driver-side over that table with incremental pair-count
    * maintenance, so R=30k real-tokenizer training is R in-memory
    * iterations, not R serial Spark jobs paying the scheduling
    * floor. The learned merges broadcast back trivially (they ARE a
    * driver Seq; bpeEncodeStats already consumes them as one).
    *
    * Exactness: merges equal the unpruned trainer's whenever every
    * word that can influence a learned pair clears `minFreq` AND the
    * surviving distinct words fit in `maxVocab`. When they don't fit,
    * training proceeds on the top-`maxVocab` head (freq desc, word
    * asc) — an APPROXIMATION, detected and logged as a warning.
    */
  def bpeMerges(input: DataFrame, textCol: String, rounds: Int,
      minFreq: Long = 1L, maxVocab: Int = BpeMaxVocab): DataFrame = {
    val s = input.sparkSession
    val wordFreq = bpeWordFreq(input, textCol, minFreq, maxVocab)
    val merges = bpeTrainDriver(wordFreq, rounds)
    import s.implicits._
    merges.toDF("rnd", "lhs", "rhs", "cnt")
      .select(col("rnd"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
  }

  /** Driver-side BPE merge loop (Sennrich et al. 2016) with
    * incremental pair-count updates: per round, argmax over the live
    * pair-count map (tie -> lexicographically smallest "lhs rhs"),
    * then only the words CONTAINING the winning pair are re-split
    * (their old adjacent-pair contributions subtracted, the merge
    * applied left-to-right non-overlapping, new contributions
    * added). `where` keeps candidate word indices per pair; stale
    * indices (pair destroyed by an earlier overlapping merge) are
    * skipped by the containment re-check. State is O(|vocab| +
    * |live pairs|) — bounded by the vocabulary, never the corpus.
    */
  private[graft] def bpeTrainDriver(
      wordFreq: Array[(String, Long)],
      rounds: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val words: Array[mutable.ArrayBuffer[String]] =
      wordFreq.map { case (w, _) =>
        mutable.ArrayBuffer.tabulate(w.length)(i => w.substring(i, i + 1))
      }
    val freqs: Array[Long] = wordFreq.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def addPairs(i: Int, sign: Long): Unit = {
      val w = words(i)
      var j = 0
      while (j < w.length - 1) {
        val pr = (w(j), w(j + 1))
        val c = counts.getOrElse(pr, 0L) + sign * freqs(i)
        if (c == 0L) counts.remove(pr) else counts.update(pr, c)
        if (sign > 0) where.getOrElseUpdate(pr, mutable.HashSet.empty) += i
        j += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L))
    val out = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      var best: (String, String) = null
      var bestCnt = 0L
      counts.foreach { case (pr, c) =>
        if (c > 0 && (best == null || c > bestCnt ||
            (c == bestCnt &&
              (pr._1 + " " + pr._2) < (best._1 + " " + best._2)))) {
          best = pr; bestCnt = c
        }
      }
      if (best == null) done = true
      else {
        val (p, q) = best
        out += ((r.toLong, p, q, bestCnt))
        val merged = p + q
        val idxs = where.getOrElse(best, mutable.HashSet.empty).toArray
        java.util.Arrays.sort(idxs)
        idxs.foreach { i =>
          val w = words(i)
          var j = 0; var has = false
          while (j < w.length - 1 && !has) {
            if (w(j) == p && w(j + 1) == q) has = true
            j += 1
          }
          if (has) {
            addPairs(i, -1L)
            val nw = mutable.ArrayBuffer.empty[String]
            var k = 0
            while (k < w.length) {
              if (k < w.length - 1 && w(k) == p && w(k + 1) == q) {
                nw += merged; k += 2
              } else { nw += w(k); k += 1 }
            }
            words(i) = nw
            addPairs(i, 1L)
          }
        }
        counts.remove(best)
        where.remove(best)
        r += 1
      }
    }
    out.toSeq
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(s, dir).select(col("text")), "text", BpeRounds)
      .orderBy("rnd")

  // Shared CTE builders for the TWO BPE oracles: the train oracle
  // folds (freq, syms) and reads the merge list; the encode oracle
  // carries word through every fold so v{R} doubles as the encode
  // table. ONE builder serves both (carry flag) so the merge-fold
  // SQL can never drift between cur_bpe_train and cur_bpe_encode.
  private def bpeWordsCte(carryWord: Boolean): String = {
    val sel = if (carryWord) "word, freq" else "freq"
    s"""w AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                              x -> length(x) > 0)) AS word
       |    FROM documents)
       |  GROUP BY word),
       |v0 AS (
       |  SELECT $sel,
       |         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS syms
       |  FROM w)""".stripMargin
  }

  private def bpePairCte(n: Int): String =
    s"""p$n AS (
       |  SELECT split_part(pair, ' ', 1) AS p, split_part(pair, ' ', 2) AS q,
       |         pair, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq,
       |          unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])) AS pair
       |        FROM v${n - 1} WHERE len(syms) >= 2)
       |  GROUP BY 1, 2, 3 ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin

  private def bpeVocabCte(n: Int, carryWord: Boolean): String = {
    val sel = if (carryWord) "word, freq" else "freq"
    s"""v$n AS (
       |  SELECT $sel,
       |    list_reduce(list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
       |      (acc, x) -> CASE WHEN acc[-1] = m.p AND x[1] = m.q
       |         THEN list_concat(acc[1:len(acc)-1], [m.p || m.q])
       |         ELSE list_concat(acc, x) END) AS syms
       |  FROM v${n - 1} CROSS JOIN p$n m)""".stripMargin
  }

  private lazy val bpeTrainSql = {
    val ctes = (1 to BpeRounds).map { n =>
      if (n < BpeRounds) s"${bpePairCte(n)},\n${bpeVocabCte(n, carryWord = false)}"
      else bpePairCte(n)
    }.mkString(",\n")
    val union = (1 to BpeRounds).map { n =>
      s"SELECT CAST($n AS BIGINT) AS rnd, p AS lhs, q AS rhs, p || q AS merged, cnt FROM p$n"
    }.mkString("\nUNION ALL\n")
    s"WITH ${bpeWordsCte(carryWord = false)},\n$ctes\n$union\nORDER BY rnd"
  }

  // ---------------------------------------------------------------
  // cur_corpus_stats: the dataset-card profiling pass — the summary
  // every training-data release ships (per-language doc/source/token
  // totals, length quantiles, exact-dup ratio) and the input to
  // mixture design (cur_domain_mix / cur_temperature_mix read
  // exactly these counts). One map-side token-count projection, one
  // groupBy(lang) aggregate — the two count-distincts ride the same
  // exchange via Expand (3× |corpus| narrow rows, no extra shuffle
  // stage), the interpolated percentiles use the q24 precedent
  // (percentile == quantile_cont, round(4) guard). Ratios exported
  // floor-milli fixed point for engine-stable hashing. At 100 TB
  // this is a single corpus scan with |langs| output rows.
  // ---------------------------------------------------------------
  private def corpusStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens",
        size(filter(split(lower(col("text")), "\\s+"),
          w => length(w) > 0)).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        expr("percentile(n_tokens, array(0.5D, 0.9D))").as("ps"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        col("n_distinct_texts"), col("total_chars"), col("total_tokens"),
        col("min_tokens"), col("max_tokens"),
        round(col("ps")(0), 4).as("p50_tokens"),
        round(col("ps")(1), 4).as("p90_tokens"),
        floor(lit(1000.0) * col("total_tokens") / col("n_docs"))
          .cast("long").as("tokens_per_doc_milli"),
        floor(lit(1000.0) * (col("n_docs") - col("n_distinct_texts")) /
          col("n_docs")).cast("long").as("dup_ratio_milli"))
      .orderBy("lang")

  private val corpusStatsSql =
    """WITH d AS (
      |  SELECT lang, source, text, n_chars,
      |         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |                              x -> length(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  count(DISTINCT source) AS n_sources,
      |  count(DISTINCT text) AS n_distinct_texts,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
      |  ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
      |  ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
      |  CAST(floor(1000.0 * CAST(sum(n_tokens) AS BIGINT) / count(*)) AS BIGINT)
      |    AS tokens_per_doc_milli,
      |  CAST(floor(1000.0 * (count(*) - count(DISTINCT text)) / count(*)) AS BIGINT)
      |    AS dup_ratio_milli
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // cur_interleave: weighted dataset interleaving — the data-loader
  // primitive that merges per-source streams into ONE training
  // order with target mixing rates (HF interleave_datasets /
  // mosaic StreamingDataset semantics): a source with weight w
  // contributes its next doc every 1/w "virtual time" units, so any
  // prefix of the global order holds the sources in ≈w proportion —
  // without materializing or shuffling per-source queues. Virtual
  // time is EXACT integer arithmetic: vt = (rank−1)·(LCM/w) with
  // weights ∈ {1,2,3} and LCM 6, ties → (source, doc). Per-source
  // rank is one keyed window (the source is the parallel unit); the
  // global order is a sort — at 100 TB the position column is
  // computed lazily per epoch shard, not materialized corpus-wide.
  // Weights derive deterministically from the source name (md5 —
  // the DetHash precedent), standing in for a configured mix table.
  // ---------------------------------------------------------------
  private def interleave(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetHash
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("weight",
        (pmod(DetHash.int48OfHex(md5(concat(lit("ilw:"), col("source")))),
          lit(3L)) + 1).cast("int"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("vt", (col("rnk") - 1).cast("long") * (lit(6L) / col("weight")).cast("long"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("vt"), col("source"), col("doc_id"))).cast("long"))
      .select(col("pos"), col("vt"), col("source"), col("weight"), col("doc_id"))
      .orderBy("pos")
  }

  private lazy val interleaveSql = {
    val wexpr = graft.functions.DetHash.int48OfHexSql("md5('ilw:' || source)")
    s"""WITH ranked AS (
       |  SELECT source, doc_id,
       |         CAST($wexpr % 3 + 1 AS INT) AS weight,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
       |  FROM documents),
       |vts AS (
       |  SELECT source, doc_id, weight,
       |         CAST((rnk - 1) * (6 // weight) AS BIGINT) AS vt
       |  FROM ranked)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, source, doc_id) AS BIGINT) AS pos,
       |       vt, source, weight, doc_id
       |FROM vts ORDER BY pos""".stripMargin
  }

  // ---------------------------------------------------------------
  // cur_oov_rate: per-language out-of-vocabulary rate under a
  // SHARED top-V vocabulary — the tokenizer-fairness metric (a
  // vocab trained on the pooled corpus over-serves its dominant
  // language; the per-language OOV spread is the standard evidence,
  // cf. "tokenizers introduce unfairness"). V=16 against this
  // corpus's 31 distinct tokens so the rate is non-degenerate. One
  // token aggregate builds the vocab (|distinct tokens| rows,
  // top-V via TakeOrderedAndProject), which BROADCASTS back against
  // the token stream — the corpus shuffles only as (lang) partial
  // counts. Ties in the vocab cut break on the token string, so
  // membership is deterministic cross-engine.
  // ---------------------------------------------------------------
  private val OovVocabTop = 16

  private def oovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.parallelized(Tables.documents(s, dir))
      .select(col("lang"),
        explode(filter(split(lower(col("text")), "\\s+"),
          w => length(w) > 0)).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(OovVocabTop)
      .select(col("token"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_milli",
        floor(lit(1000.0) * col("n_oov") / col("n_tokens")).cast("long"))
      .orderBy("lang")
  }

  private val oovRateSql =
    s"""WITH toks AS (
       |  SELECT lang,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                            x -> length(x) > 0)) AS token
       |  FROM documents),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS freq FROM toks GROUP BY token
       |    ORDER BY freq DESC, token LIMIT $OovVocabTop))
       |SELECT lang, count(*) AS n_tokens,
       |  CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
       |  CAST(floor(1000.0 * count(*) FILTER (WHERE v.token IS NULL) / count(*)) AS BIGINT) AS oov_milli
       |FROM toks t LEFT JOIN vocab v USING (token)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // cur_pipeline_funnel: the end-to-end curation funnel REPORT —
  // the per-stage survivor accounting every production corpus run
  // publishes (docs and tokens remaining after each gate), here
  // composing the library's own stages over the dedup corpus:
  //   0_raw           the landing corpus (docs ∪ planted mutants)
  //   1_near_dedup    minhash-LSH cluster canonicals survive
  //   2_gopher_rules  rule-bundle pass
  //   3_classifier    linear-classifier keep
  //   4_token_budget  score-ordered take to a fixed token budget
  // Each stage is the §2 operator itself (minhashPairs +
  // connectedComponents, gopherRuleFlags, qualityClassifyScores,
  // takeByScoreBudget) — the funnel proves they COMPOSE, and its
  // oracle re-derives the whole cascade in one DuckDB query
  // (recursive-CTE reachability for the clusters, window cumsum for
  // the budget). Stage frames are persisted while the five
  // one-row aggregates run, then released (production materializes
  // stage tables; the report is Σ|stages| ≈ one corpus scan each).
  // ---------------------------------------------------------------
  private val FunnelBudget = 5000L

  private def pipelineFunnel(s: SparkSession, dir: String): DataFrame = {
    val raw = Dedup.corpus(s, dir)
      .withColumn("n_tok",
        size(filter(split(col("text"), "\\s+"), w => length(w) > 0)).cast("long"))
      .persist()
    // near-dup gate reads the SHARED session artifacts (pair table +
    // CC canonicals over the same corpus, also consumed by
    // dedup_minhash) instead of re-mining — production materializes
    // the pair/canonical tables once per corpus snapshot and every
    // downstream stage joins against them
    val losers = Dedup.cachedCorpusLabelsMd5(s, dir)
      .filter(col("v") =!= col("label")).select(col("v").as("doc_id"))
    val s1 = raw.join(losers, Seq("doc_id"), "left_anti").persist()
    val s2 = TextAnalysis.gopherRuleFlags(s1, "doc_id", "text")
      .filter(col("pass") === 1)
    val s3 = qualityClassifyScores(s2, "doc_id", "text")
      .filter(col("label") === 1)
      .select(col("doc_id"), col("n_tok"), col("score_milli")).persist()
    val s4 = TextAnalysis.takeByScoreBudget(
      s3.withColumn("__sc", col("score_milli").cast("double")),
      "doc_id", "n_tok", "__sc", FunnelBudget)
    def stageRow(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    try
      stageRow("0_raw", raw)
        .unionByName(stageRow("1_near_dedup", s1))
        .unionByName(stageRow("2_gopher_rules", s2))
        .unionByName(stageRow("3_classifier", s3))
        .unionByName(stageRow("4_token_budget", s4))
        .orderBy("stage")
        .localCheckpoint() // sever lineage before the unpersists
    finally { raw.unpersist(); s1.unpersist(); s3.unpersist() }
  }

  private lazy val pipelineFunnelSql = {
    val stopSum = TextAnalysis.GopherStopwords
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
    val wgt = graft.functions.DetHash.int48OfHexSql("md5('qw:' || f)")
    s"""WITH RECURSIVE
       |corpus AS (${Dedup.corpusSql}),
       |tok AS (
       |  SELECT doc_id, text,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tok
       |  FROM corpus),
       |pairs AS (${Dedup.minhashPairsSqlFor(Dedup.corpusSql)}),
       |sym AS (
       |  SELECT doc_a AS v, doc_b AS n FROM pairs
       |  UNION ALL SELECT doc_b AS v, doc_a AS n FROM pairs),
       |reach(v, r) AS (
       |  SELECT v, v FROM (SELECT DISTINCT v FROM sym)
       |  UNION
       |  SELECT sym.v, reach.r FROM sym JOIN reach ON reach.v = sym.n),
       |losers AS (SELECT v FROM reach GROUP BY v HAVING v <> MIN(r)),
       |s1 AS (SELECT t.* FROM tok t WHERE t.doc_id NOT IN (SELECT v FROM losers)),
       |d AS (
       |  SELECT doc_id, text, n_tok,
       |         list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS ws,
       |         list_filter(string_split_regex(lower(text), '\\s+'), w -> length(w) > 0) AS lws
       |  FROM s1),
       |stats AS (
       |  SELECT doc_id, n_tok, lws,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS mwl_milli,
       |    CAST($stopSum AS BIGINT) AS stop_hits,
       |    CAST(floor(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS alpha_milli
       |  FROM d),
       |s2 AS (
       |  SELECT doc_id, n_tok, lws FROM stats
       |  WHERE n_words BETWEEN ${TextAnalysis.GopherMinWords} AND ${TextAnalysis.GopherMaxWords}
       |    AND mwl_milli BETWEEN ${TextAnalysis.GopherMinMwlMilli} AND ${TextAnalysis.GopherMaxMwlMilli}
       |    AND stop_hits >= ${TextAnalysis.GopherMinStop}
       |    AND alpha_milli >= ${TextAnalysis.GopherMinAlphaMilli}),
       |feats AS (
       |  SELECT doc_id, n_tok,
       |         CASE WHEN len(lws) >= 2
       |           THEN list_concat(lws, list_transform(range(1, len(lws)), i -> lws[i] || ' ' || lws[i+1]))
       |           ELSE lws END AS fs
       |  FROM s2),
       |scored AS (
       |  SELECT doc_id, n_tok, CAST(len(fs) AS BIGINT) AS n_features,
       |         list_reduce(list_transform(fs, f -> $wgt - $WeightCenter), (a, b) -> a + b) AS score_sum
       |  FROM feats),
       |s3 AS (
       |  SELECT doc_id, n_tok,
       |    CAST(floor(CAST(score_sum AS DOUBLE) * 1000 /
       |         (CAST(n_features AS DOUBLE) * $WeightCenter)) AS BIGINT) AS score_milli
       |  FROM scored WHERE score_sum >= 0),
       |s4 AS (
       |  SELECT doc_id, n_tok FROM (
       |    SELECT doc_id, n_tok,
       |           SUM(n_tok) OVER (ORDER BY score_milli DESC, doc_id
       |                            ROWS UNBOUNDED PRECEDING) AS cum
       |    FROM s3)
       |  WHERE cum <= $FunnelBudget)
       |SELECT '0_raw' AS stage, count(*) AS n_docs, CAST(COALESCE(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM tok
       |UNION ALL SELECT '1_near_dedup', count(*), CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT '2_gopher_rules', count(*), CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT '3_classifier', count(*), CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT '4_token_budget', count(*), CAST(COALESCE(sum(n_tok), 0) AS BIGINT) FROM s4
       |ORDER BY stage""".stripMargin
  }

  // ---------------------------------------------------------------
  // cur_chunk_docs: overlapping-window document chunking — the
  // long-document splitter every pretraining/RAG pipeline runs
  // (context windows are fixed, documents aren't): chunks of
  // ChunkTokens words starting every ChunkTokens−ChunkOverlap, the
  // last chunk clipped to the doc tail, chunk count
  // k = ceil(max(n−overlap, 1) / stride) in EXACT integer
  // arithmetic. Pure map-side explode — zero shuffles before the
  // output sort; at 100 TB this is a single scan-transform whose
  // output is corpus-sized × the overlap factor, with provenance
  // (doc_id, chunk_idx, start_tok) preserved for lineage-aware
  // dedup downstream.
  // ---------------------------------------------------------------
  private val ChunkTokens = 64
  private val ChunkOverlap = 16

  /** Parametric library form over any (id, text) frame. */
  def chunkDocuments(input: DataFrame, idCol: String, textCol: String,
      size: Int = ChunkTokens, overlap: Int = ChunkOverlap): DataFrame = {
    val stride = size - overlap
    require(stride > 0, "overlap must be smaller than chunk size")
    input
      .withColumn("w", filter(split(col(textCol), "\\s+"), x => length(x) > 0))
      .withColumn("n", org.apache.spark.sql.functions.size(col("w")))
      .select(col(idCol).as("doc_id"), col("w"), col("n"),
        explode(expr(
          s"sequence(0, (greatest(n - $overlap, 1) + ${stride - 1}) div $stride - 1)"))
          .as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(size), col("n") - col("start_tok")).cast("long")
          .as("n_chunk_tokens"),
        expr(s"concat_ws(' ', slice(w, start_tok + 1, least($size, n - start_tok)))")
          .as("chunk_text"))
  }

  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  private lazy val chunkDocsSql = {
    val (sz, ov) = (ChunkTokens, ChunkOverlap)
    val stride = sz - ov
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS w
       |  FROM documents),
       |n AS (SELECT doc_id, w, len(w) AS n FROM d),
       |c AS (
       |  SELECT doc_id, w, n,
       |         unnest(range(0, (greatest(n - $ov, 1) + ${stride - 1}) // $stride)) AS chunk_idx
       |  FROM n)
       |SELECT doc_id, chunk_idx, chunk_idx * $stride AS start_tok,
       |  CAST(least($sz, n - chunk_idx * $stride) AS BIGINT) AS n_chunk_tokens,
       |  COALESCE(array_to_string(
       |    w[chunk_idx * $stride + 1 : chunk_idx * $stride + least($sz, n - chunk_idx * $stride)],
       |    ' '), '') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---------------------------------------------------------------
  // cur_bpe_encode: APPLY the trained tokenizer — the consumer side
  // of cur_bpe_train and the shape of every "tokenize the corpus"
  // job. The learned merge list is tiny (R rows, collected once per
  // (session, dir) — the standingIndex precedent), so encoding is a
  // pure function of the word: the distinct-word table is folded
  // through the R merges IN TRAINING ORDER (the same left-to-right
  // non-overlapping fold as training — chained codegen'd array
  // aggregates, no UDF), giving word → token count at |vocab| cost,
  // NOT corpus cost; per-doc totals are then one (word) hash join +
  // one (doc_id) aggregate. At 100 TB this is the production BPE
  // shape: the corpus never re-shingles, the vocab table is the
  // working set, and the merge table broadcasts. Output per doc:
  // word/token/char counts + chars-per-token (the compression ratio
  // tokenizer quality metric), floor-milli fixed point. The DuckDB
  // oracle re-derives the merges with the training CTE chain (word
  // and freq carried through so the folded chain doubles as the
  // encode table) and must land on identical totals.
  // ---------------------------------------------------------------
  /** Learned merges for `dir`, collected once per (session, dir) —
    * R bounded rows across the driver (PQ-seeds precedent). */
  private[graft] def learnedMerges(
      s: SparkSession, dir: String): Seq[(String, String)] =
    SessionCache.value(s, s"cur:bpe:merges:$dir")(
      bpeMerges(Tables.documents(s, dir).select(col("text")), "text", BpeRounds)
        .orderBy("rnd").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Per-doc BPE encoding stats using `merges` (training order). */
  def bpeEncodeStats(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(filter(split(lower(col(textCol)), "\\s+"),
        w => length(w) > 0)).as("word"))
    val vocab0 = words.select("word").distinct()
      .withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))
    val encoded = merges.foldLeft(vocab0) { case (df, (p, q)) =>
      df.withColumn("syms", bpeMergeFold(col("syms"), p, q))
    }.select(col("word"), size(col("syms")).as("n_tok"))
    words.join(encoded, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token_milli",
        floor(lit(1000.0) * col("n_chars") / col("n_tokens")).cast("long"))
      .orderBy("doc_id")
  }

  private def bpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeStats(Tables.documents(s, dir).select("doc_id", "text"),
      learnedMerges(s, dir))

  private lazy val bpeEncodeSql = {
    // The training chain with word+freq carried through every fold
    // (carryWord), so v{R} IS the encode table (word -> symbol list)
    val ctes = (1 to BpeRounds)
      .map(n => s"${bpePairCte(n)},\n${bpeVocabCte(n, carryWord = true)}")
      .mkString(",\n")
    s"""WITH ${bpeWordsCte(carryWord = true)},
       |$ctes,
       |d AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                            x -> length(x) > 0)) AS word
       |  FROM documents),
       |enc AS (SELECT word, len(syms) AS n_tok FROM v$BpeRounds)
       |SELECT doc_id, count(*) AS n_words,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(length(word)) AS BIGINT) AS n_chars,
       |       CAST(floor(1000.0 * CAST(sum(length(word)) AS BIGINT) /
       |            CAST(sum(n_tok) AS BIGINT)) AS BIGINT) AS chars_per_token_milli
       |FROM d JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
