package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis suite — language ID, quality scoring, token
  * counting, fingerprinting. All built-in expressions (no UDFs):
  * every operator runs inside whole-stage codegen and the only
  * aggregation shuffles are small grouped summaries.
  */
object TextAnalysis {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("text_langid", langid, Some(langidSql)),
    QueryDef("text_quality", quality, Some(qualitySql)),
    QueryDef("text_tokens", tokens, Some(tokensSql)),
    QueryDef("text_fingerprint", fingerprint, Some(fingerprintSql)),
    QueryDef("text_commonness", commonness, Some(commonnessSql)),
    QueryDef("text_commonness_fast", commonnessFast, None),
    QueryDef("text_pii_scrub", piiScrub, Some(piiScrubSql)),
    QueryDef("text_paragraph_dedup", paragraphDedup, Some(paragraphDedupSql)),
    QueryDef("text_repetition", repetition, Some(repetitionSql)),
    QueryDef("text_token_budget", tokenBudget, Some(tokenBudgetSql)),
    QueryDef("text_compress", compress, None),
    QueryDef("text_crossentropy", crossentropy, Some(crossentropySql)),
    QueryDef("text_dup_spans", dupSpans, Some(dupSpansSql)),
    QueryDef("text_gopher_rules", gopherRules, Some(gopherRulesSql)),
    QueryDef("text_dedup_rewrite", dedupRewrite, Some(dedupRewriteSql))
  )

  // ---------------------------------------------------------------
  // text_dup_spans: cross-document duplicated-span coverage — for
  // each doc, the fraction of its tokens inside a word 8-gram that
  // also appears in ANOTHER doc (the span-level dedup signal of
  // Lee et al. 2022, "Deduplicating Training Data Makes Language
  // Models Better"; doc-level near-dup misses partial boilerplate).
  // Runs over the dedup corpus (docs ∪ first-word-dropped mutants)
  // so planted shared spans exist: a mutant shares nearly every
  // 8-gram with its original → coverage ≈ 1, unrelated docs ≈ 0.
  //
  // Scale shape: 8-gram occurrences ship as (md5, doc_id, pos) —
  // the digest is computed map-side, gram TEXT never shuffles; the
  // duplicated-hash set comes from one count-distinct-docs
  // aggregate; coverage is the distinct covered positions of the
  // occurrences joining that set. All keyed shuffles + one 8×
  // position explode bounded by occurrence count.
  // ---------------------------------------------------------------
  private val SpanN = 8

  private def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpanCoverage(Dedup.corpus(s, dir), "doc_id", "text", SpanN)
      .orderBy("doc_id")

  /** Parametric library form over any (id, text) frame: per-doc
    * duplicated-span coverage for word `n`-grams shared with ≥1
    * other doc. Unsorted — callers order as needed.
    */
  def dupSpanCoverage(
      input: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val docs = spanDocs(input, idCol, textCol)
    // covered-token count = Σ merged-interval lengths over the doc's
    // covered STARTS ([s, s+n-1] each): one sorted map-side fold per
    // doc after the start-set aggregation — the r16 form exploded
    // every start to n positions and countDistinct'ed them, an n×
    // bigger doc_id exchange plus a distinct for the same number
    val mergedLen = expr(
      s"""aggregate(array_sort(starts),
         |  named_struct('e', CAST(-1 AS BIGINT), 't', CAST(0 AS BIGINT)),
         |  (acc, s) -> named_struct(
         |    'e', greatest(acc.e, s + ${n - 1}),
         |    't', acc.t + CASE WHEN s > acc.e THEN CAST($n AS BIGINT)
         |                      ELSE s + ${n - 1} - acc.e END),
         |  acc -> acc.t)""".stripMargin)
    val covered = coveredStarts(docs, n)
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("starts"))
      .select(col("doc_id"), mergedLen.as("n_dup_tokens"))
    docs.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_fraction",
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 4))
  }

  private def spanDocs(
      input: DataFrame, idCol: String, textCol: String): DataFrame =
    input.withColumn("w", split(col(textCol), "\\s+"))
      .select(col(idCol).as("doc_id"), col("w"), size(col("w")).as("n_tokens"))

  /** The (doc_id, cp) stream of word positions covered by a
    * cross-document duplicated `n`-gram — the shared core of
    * dupSpanCoverage (counts) and dedupRewriteSpans (removal).
    *
    * Distinct-doc count per gram WITHOUT a join back: repartition on
    * the gram key once, then both windows (first-occurrence flag per
    * (gram, doc); sum of flags per gram) ride that single exchange —
    * hashpartitioning(h1, h2) satisfies both clusterings, so the
    * tokenize+hash subtree is evaluated once, vs twice for the
    * groupBy + join-back formulation (measured 2.45s → 1.7s). State
    * stays O(1) per row (a collect_set window would hold every
    * doc_id of a degenerate universal gram).
    */
  /** (keep..., pos, gh1, gh2) rows: one row per word `n`-gram
    * position of `tokensCol`, keyed by two INDEPENDENT xxhash64
    * lanes (128 bits total), never by gram text. Shared by
    * coveredStarts (span dedup) and Curation.wordGramRows
    * (decontamination) so the tokenize/off-by-one/seed scheme cannot
    * diverge between them.
    *
    * Each word's BYTES are hashed exactly twice, by ONE native
    * codegen call per row ([[graft.functions.WordLaneHashes]] — two
    * primitive long arrays, no per-word boxing; the interpreted HOF
    * struct-array this replaced allocated a boxed struct per word);
    * each per-position key then mixes n precomputed longs inside
    * whole-stage codegen, allocation-free (returning ready-made
    * per-position keys from the native call was tried and LOST —
    * one row allocation per gram position ≈ per token). vs building
    * a gram STRING per position (slice + concat_ws, every word's
    * bytes copied and re-hashed 2n times in interpreted code):
    * 16-byte keys also cut the exchange ~2.5× — at sf10 this stream
    * is ~tokens-count rows and its width was the span entries' spill
    * driver. The lanes are independent per WORD (seed 42 /
    * seed-chained 1L), so a cross-engine count divergence needs the
    * same word pair to collide in BOTH lanes (≈|vocab|²/2¹²⁹) or two
    * co-occurring grams to collide in both mixes (≈|grams|²/2¹²⁹) —
    * negligible at any SF, including the ~1e9-distinct-token 100 TB
    * target.
    */
  private[graft] def hashedWordGramKeys(
      t: DataFrame, keep: Seq[Column], tokensCol: Column, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val mixA = (0 until n).map(k => s"__gwa[__gp + $k]")
      .mkString("xxhash64(", ", ", ")")
    val mixB = (0 until n).map(k => s"__gwb[__gp + $k]")
      .mkString("xxhash64(", ", ", ")")
    // the lane struct gets its OWN projection; the field reads live
    // in the next one. CollapseProject keeps them apart (non-cheap
    // alias referenced twice), so the words are hashed once per row
    // even though two fields are read.
    val withLanes = t
      .filter(size(tokensCol) >= n)
      .select(keep :+ graft.functions.word_lane_hashes(tokensCol).as("__gl"): _*)
    val keepNames = withLanes.columns.filter(_ != "__gl").map(col).toSeq
    withLanes
      .select(keepNames :+ col("__gl.a").as("__gwa") :+ col("__gl.b").as("__gwb"): _*)
      .select(keepNames :+ col("__gwa") :+ col("__gwb") :+
        explode(expr(s"sequence(0, size(__gwa) - $n)")).as("__gp"): _*)
      // fuses with the Generate above in one codegen stage — the lane
      // arrays are per-input-row references, not per-position copies
      .select(keepNames :+ col("__gp").as("pos") :+
        expr(mixA).as("gh1") :+ expr(mixB).as("gh2"): _*)
  }

  /** (doc_id, pos) of every word-`n`-gram START covered by a
    * cross-document duplicate — the pre-explode stream both span
    * entries derive from. Expanding a start to its n covered
    * positions is LEFT to each consumer: the coverage count explodes
    * (it dedups via countDistinct anyway), the rewrite expands
    * map-side AFTER its per-doc aggregation, so the doc_id exchange
    * carries n× fewer rows. */
  private def coveredStarts(docs: DataFrame, n: Int): DataFrame = {
    val occ = hashedWordGramKeys(docs, Seq(col("doc_id")), col("w"), n)
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh1"), col("gh2"), col("doc_id")).orderBy(col("pos"))
    val wGram = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gh1"), col("gh2"))
    occ.repartition(col("gh1"), col("gh2"))
      .withColumn("__first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("__nd", sum(col("__first")).over(wGram))
      .filter(col("__nd") >= 2)
      .select(col("doc_id"), col("pos"))
  }


  // ---------------------------------------------------------------
  // text_dedup_rewrite: span-level dedup REMOVAL — the active
  // sibling of text_dup_spans (Lee et al. 2022 remove duplicated
  // substrings from the corpus rather than dropping whole docs).
  // Every word position covered by a cross-document duplicated
  // 8-gram is cut; the doc is rebuilt from the surviving words
  // (single-space canonical form — the corpus's own form, so
  // untouched docs round-trip byte-identical). Same single
  // repartition(h) exchange as the coverage entry via
  // [[coveredStarts]]; the per-doc covered-start set is
  // bounded by the doc's own length (it rides the SAME row the text
  // does, so no new scale term), and the rebuild is one map-side
  // array filter+transform. Output keeps the removal accounting a
  // curation job logs: tokens before/after, removed count, and the
  // surviving text.
  // ---------------------------------------------------------------
  /** Parametric library form: remove every word inside a shared
    * word-`n`-gram; returns (id, n_tokens, n_removed, kept_text). */
  def dedupRewriteSpans(
      input: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val docs = spanDocs(input, idCol, textCol)
    // per-doc covered-START sets cross the doc_id exchange (n× fewer
    // rows than exploded positions); the start→positions expansion
    // is ONE map-side array pass after the aggregation (r16 shipped
    // every exploded position through the exchange and deduped them
    // in collect_set). Unsorted: the rebuild's array_except hashes
    // cov, and the output column order comes from the left
    // (sequence) side.
    val cov = coveredStarts(docs, n)
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("starts"))
      .select(col("doc_id"), expr(
        s"array_distinct(flatten(transform(starts, s -> sequence(s, s + ${n - 1}))))")
        .as("cov"))
    docs.join(cov, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("array()")))
      .select(col("doc_id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        // array_except (hash-set build + one pass, left order kept),
        // NOT filter+array_contains: the contains scan is O(|cov|)
        // per position, which goes quadratic per doc exactly on the
        // fully-covered mutant docs the corpus plants
        expr("concat_ws(' ', transform(" +
          "array_except(sequence(0, size(w) - 1), cov), p -> w[p]))")
          .as("kept_text"))
  }

  private def dedupRewrite(s: SparkSession, dir: String): DataFrame =
    dedupRewriteSpans(Dedup.corpus(s, dir), "doc_id", "text", SpanN)
      .orderBy("doc_id")

  private val dedupRewriteSql =
    s"""WITH corpus AS (${Dedup.corpusSql}),
       |docs AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w,
       |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
       |  FROM corpus),
       |occ AS (
       |  SELECT doc_id, g['pos'] AS pos, g['h'] AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, len(w) - ${SpanN - 1}),
       |             i -> {'pos': i, 'h': md5(array_to_string(w[i + 1 : i + $SpanN], ' '))})) AS g
       |    FROM docs WHERE len(w) >= $SpanN)),
       |dup AS (
       |  SELECT h FROM occ GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT doc_id, list_sort(list(DISTINCT cp)) AS cov
       |  FROM (SELECT o.doc_id, unnest(range(o.pos, o.pos + $SpanN)) AS cp
       |        FROM occ o JOIN dup USING (h))
       |  GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |  CAST(COALESCE(len(c.cov), 0) AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(list_transform(
       |    list_filter(range(0, len(d.w)),
       |      p -> NOT list_contains(COALESCE(c.cov, []), p)),
       |    p -> d.w[p + 1]), ' '), '') AS kept_text
       |FROM docs d LEFT JOIN cov c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private val dupSpansSql =
    s"""WITH corpus AS (${Dedup.corpusSql}),
       |docs AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w,
       |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
       |  FROM corpus),
       |occ AS (
       |  SELECT doc_id, g['pos'] AS pos, g['h'] AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, len(w) - ${SpanN - 1}),
       |             i -> {'pos': i, 'h': md5(array_to_string(w[i + 1 : i + $SpanN], ' '))})) AS g
       |    FROM docs WHERE len(w) >= $SpanN)),
       |dup AS (
       |  SELECT h FROM occ GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |covered AS (
       |  SELECT doc_id, CAST(COUNT(DISTINCT cp) AS BIGINT) AS n_dup_tokens
       |  FROM (SELECT o.doc_id, unnest(range(o.pos, o.pos + $SpanN)) AS cp
       |        FROM occ o JOIN dup USING (h))
       |  GROUP BY doc_id)
       |SELECT d.doc_id, d.n_tokens,
       |       COALESCE(c.n_dup_tokens, 0) AS n_dup_tokens,
       |       ROUND(CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE) / d.n_tokens, 4) AS dup_fraction
       |FROM docs d LEFT JOIN covered c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_crossentropy: corpus-trained bigram-LM surprisal — the
  // perplexity-style quality filter of large-corpus pipelines
  // (CCNet/Gopher shape), self-contained: the LM IS the corpus's own
  // add-one-smoothed bigram table, so low scores = formulaic text,
  // high = out-of-distribution noise.
  //
  // Scale shape — ONE evaluation of the tokenize+explode subtree.
  // The first cut built c2/c1 as aggregates and joined the bigram
  // stream back against them; its final adaptive plan (what
  // ProfileEntry's SPARK_GRAFT_EXPLAIN prints) evaluated the explode
  // subtree at two stages, ran the Generate 4x, and executed the c2
  // exchange twice with NO ReusedExchange (the r6 verdict's suspicion, confirmed at
  // runtime). This form is the dup_spans pattern instead: the bigram
  // stream is repartition(w1)'d ONCE, and both LM counts ride that
  // single exchange as window counts — n2 over (w1,w2), n1 over (w1)
  // — legal because HashPartitioning(w1) satisfies both windows'
  // clustering and the (w1,w2) sort serves both (prefix), so Spark
  // plans Exchange -> Sort -> Window -> Window with no second
  // shuffle and O(1) per-row window state (count over an unordered
  // full partition). The vocab scalar V (distinct w1) is either
  // caller-supplied (zero cost) or a deliberately narrow concurrent
  // side stage — see the comment at its definition. At 100 TB the
  // exchange is bigram-keyed and skew on a hot head word is AQE's to
  // split; nothing is collected.
  //
  // FP determinism vs the oracle: each instance's term
  // -ln((c2+1)/(c1+V)) is rounded to DECIMAL(18,9) BEFORE summing —
  // decimal sums are exact and order-free, and the rounding absorbs
  // any 1-ulp libm ln() divergence between engines (same convention
  // as the decimal-exact sums everywhere else; a raw double SUM
  // would be addition-order-dependent in BOTH engines).
  // ---------------------------------------------------------------
  private def dec9(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(18, 9))

  private def crossentropy(s: SparkSession, dir: String): DataFrame =
    crossentropyOver(Tables.parallelized(Tables.documents(s, dir)))
      .orderBy("doc_id")

  /** Parametric library form over any (id, text) frame. Unsorted for
    * library use; the gate query adds its own ordering. `vocabSize`
    * short-circuits the distinct-head count when the caller already
    * holds it (corpus profile) — at scale that removes the only
    * second pass this operator makes.
    */
  def crossentropyOver(
      input: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      vocabSize: Option[Long] = None): DataFrame = {
    val docs = input
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("w", split(col("text"), "\\s+"))
      .filter(size(col("w")) >= 2)
    val big = docs.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(w) - 1), i -> named_struct('w1', w[i-1], 'w2', w[i]))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .repartition(col("w1"))
    // The vocab scalar V = distinct-head count. When the caller has
    // it (a corpus profile computed once and reused across queries —
    // the right shape at 100 TB), the derivation branch disappears
    // entirely. When it must be derived, it is a SECOND narrow pass,
    // and deliberately so: column pruning narrows its exchange to w1
    // alone and Generate-pruning rewrites the transform to emit only
    // heads (both observed via --exec), so the duplicate work is one
    // single-column explode, and AQE materializes the stage
    // CONCURRENTLY with the main branch's (independent query
    // stages), hiding most of its wall-clock. Exchange reuse is NOT
    // achievable here without defeating those same prunings
    // (attempted and measured: a checksum aggregate and a
    // nondeterministic-pinned projection were BOTH folded away by
    // the optimizer) — and forcing a wider identical exchange would
    // trade a one-column re-scan for shipping doc_id through the LM
    // branch, the worse deal at scale.
    val v = vocabSize match {
      case Some(vs) =>
        input.sparkSession.range(1).select(lit(vs).as("vv"))
      case None =>
        big.select("w1").distinct().agg(count(lit(1)).as("vv"))
    }
    val w2win = Window.partitionBy("w1", "w2")
    val w1win = Window.partitionBy("w1")
    big
      .withColumn("n2", count(lit(1)).over(w2win))
      .withColumn("n1", count(lit(1)).over(w1win))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        dec9(-log((col("n2") + lit(1)).cast("double") /
          (col("n1") + col("vv")).cast("double"))).as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.QueryDef.asDouble(sum(col("term"))).as("nats_sum"))
      .select(col("doc_id").as(idCol), col("n_bigrams"), col("nats_sum"))
  }

  private val crossentropySql =
    """WITH big AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      |       UNNEST(range(1, len(w))) AS t(i)
      |  WHERE len(w) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT w1) AS vv FROM c2)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CAST(-ln(CAST(n2 + 1 AS DOUBLE) / (n1 + vv)) AS DECIMAL(18,9))) AS DOUBLE) AS nats_sum
      |FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_compress: deflate-compressibility quality signal (native
  // codegen'd CompressRatio expression — see its scaladoc). No
  // DuckDB oracle (no zlib there); planted ground truth instead:
  // each doc also scores a boilerplate variant (its first 8 words
  // repeated to the same length), which MUST compress much harder.
  // Shuffle-free per-row signal + one small rollup.
  // ---------------------------------------------------------------
  private def compress(s: SparkSession, dir: String): DataFrame = {
    val repeated = expr(
      "substring(repeat(concat_ws(' ', slice(split(text, '\\\\s+'), 1, 8), ' '), " +
        "1 + length(text) / 20), 1, length(text))")
    Tables.parallelized(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        graft.functions.compress_ratio(col("text")).as("prose_ratio"),
        graft.functions.compress_ratio(repeated).as("boiler_ratio"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("prose_ratio")), 4).as("avg_prose_ratio"),
        round(avg(col("boiler_ratio")), 4).as("avg_boiler_ratio"),
        sum(when(col("boiler_ratio") < col("prose_ratio"), 1L).otherwise(0L))
          .as("n_boiler_more_compressible"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // text_langid: stopword-ratio n-gram heuristic. Scores per
  // language = |tokens ∩ stopwords| / |tokens|; zh via non-ascii
  // char ratio; argmax with alphabetical tiebreak.
  // ---------------------------------------------------------------
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "on"),
    "es" -> Seq("el", "los", "y", "es", "una", "por", "para", "como", "más", "pero"),
    "fr" -> Seq("le", "les", "et", "est", "une", "pour", "dans", "ce", "pas", "sur"))

  /** Language of a text column: stopword-overlap argmax over the
    * known languages (ties alphabetical: de<en<es<fr), zh when the
    * text is mostly non-ascii, "und" when nothing matches. Pure
    * codegen'd Column — usable on any table.
    */
  def langIdOf(text: Column): Column =
    langIdOfDistinctToks(text, array_distinct(split(text, "\\s+")))

  /** langIdOf with the distinct-token array supplied by the caller —
    * lets a query project split+array_distinct ONCE instead of
    * re-deriving it inside all four per-language scores (the repeated
    * expression tree only partially CSEs in codegen). CollapseProject
    * keeps the projection: since SPARK-36718 it won't inline non-cheap
    * aliases referenced more than once.
    */
  def langIdOfDistinctToks(text: Column, td: Column): Column = {
    val scores = stopwords.map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      lang -> (size(array_intersect(td, arr)).cast("double") / size(td))
    }
    // argmax with deterministic tiebreak: strictly-greater replaces
    val best = scores.foldLeft((lit("und"), lit(-1.0))) {
      case ((bl, bs), (lang, sc)) =>
        (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }._1
    when(nonAsciiRatio(text) < 0.5, best).otherwise(lit("zh"))
  }

  /** fraction of characters outside printable ascii — stripping
    * `[ -~]` leaves exactly the non-ascii characters
    */
  def nonAsciiRatio(text: Column): Column =
    length(regexp_replace(text, "[ -~]", "")).cast("double") / length(text)

  private def langid(s: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.documents(s, dir))
      .withColumn("td", array_distinct(split(col("text"), "\\s+")))
      .select(col("lang").as("lang_actual"),
        langIdOfDistinctToks(col("text"), col("td")).as("lang_pred"))
      .groupBy("lang_actual", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_actual", "lang_pred")

  private val langidSql = {
    val scoreExprs = stopwords.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_intersect(list_distinct(toks), $arr)) AS DOUBLE) / len(list_distinct(toks)) AS score_$lang"
    }.mkString(",\n  ")
    // same fold order as the Scala side: strictly-greater replaces
    val best = stopwords.map(_._1).foldLeft(("'und'", "-1.0")) {
      case ((bl, bs), lang) =>
        (s"(CASE WHEN score_$lang > $bs THEN '$lang' ELSE $bl END)",
         s"(CASE WHEN score_$lang > $bs THEN score_$lang ELSE $bs END)")
    }._1
    s"""SELECT lang_actual, lang_pred, COUNT(*) AS n FROM (
       |  SELECT lang_actual,
       |         CASE WHEN non_ascii_ratio < 0.5 THEN $best ELSE 'zh' END AS lang_pred
       |  FROM (
       |    SELECT doc_id, lang AS lang_actual,
       |      CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS DOUBLE) / length(text) AS non_ascii_ratio,
       |      $scoreExprs
       |    FROM (SELECT *, string_split_regex(text, '\\s+') AS toks FROM documents)))
       |GROUP BY lang_actual, lang_pred ORDER BY lang_actual, lang_pred""".stripMargin
  }

  // ---------------------------------------------------------------
  // text_quality: length / punctuation / stopword / digit ratios
  // folded into a 0-100 score. Per-doc row output (no FP agg).
  // ---------------------------------------------------------------
  /** ratio of characters matched by `charClass` (a regex class) */
  private def charRatio(text: Column, charClass: String): Column =
    (length(text) - length(regexp_replace(text, charClass, "")))
      .cast("double") / length(text)

  def punctRatio(text: Column): Column = charRatio(text, "[\\.,;:!\\?]")
  def digitRatio(text: Column): Column = charRatio(text, "[0-9]")

  def stopwordRatio(text: Column): Column = {
    val toks = split(text, "\\s+")
    val stopArr = array(stopwords.flatMap(_._2).distinct.map(lit): _*)
    size(array_intersect(array_distinct(toks), stopArr)).cast("double") / size(toks)
  }

  /** 0-100 composite quality score: length saturation × punctuation
    * penalty × digit penalty. Usable on any text column.
    */
  def qualityScore(text: Column): Column =
    round(lit(100.0) *
      least(lit(1.0), graft.functions.ws_token_count(text).cast("double") / 20) *
      (lit(1.0) - punctRatio(text)) *
      (lit(1.0) - digitRatio(text)), 4)

  private def quality(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(text).cast("long"))
      .withColumn("n_tokens", graft.functions.ws_token_count(text))
      .withColumn("punct_ratio", punctRatio(text))
      .withColumn("stopword_ratio", stopwordRatio(text))
      .withColumn("digit_ratio", digitRatio(text))
      .withColumn("quality_score", qualityScore(text))
      .drop("text")
      .orderBy("doc_id")
  }

  private val qualitySql = {
    val stopArr = stopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |  CAST(len(list_intersect(list_distinct(toks), $stopArr)) AS DOUBLE) / len(toks) AS stopword_ratio,
       |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) AS digit_ratio,
       |  ROUND(100.0 *
       |    LEAST(1.0, CAST(len(toks) AS DOUBLE) / 20) *
       |    (1.0 - CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) / length(text)) *
       |    (1.0 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)), 4) AS quality_score
       |FROM (SELECT *, string_split_regex(text, '\\s+') AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // text_tokens: whitespace tokens + BPE-ish regex tokens.
  // ---------------------------------------------------------------
  private val bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** whitespace-delimited token count — native single-pass scan,
    * exact-equal to size(split(text, "\\s+")) (FunctionsSpec pins it,
    * incl. the limit=-1 trailing-empty-field semantics)
    */
  def wsTokenCount(text: Column): Column =
    graft.functions.ws_token_count(text)

  /** BPE-ish token count: letter runs, digit runs, single symbols —
    * native single-pass scan, exact-equal to regexp_count(text,
    * bpeish) (FunctionsSpec pins it, incl. multi-byte codepoints)
    */
  def bpeTokenCount(text: Column): Column =
    graft.functions.bpe_token_count(text)

  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        wsTokenCount(col("text")).as("n_ws_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  private val tokensSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$bpeish')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_fingerprint: (a) canonical fingerprint = md5 of the sorted
  // distinct token set (order-insensitive duplicate detector);
  // (b) rolling min-hash = lexicographic min md5 over sliding char
  // 8-grams (winnowing-style content marker).
  // ---------------------------------------------------------------
  private def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("w", array_sort(array_distinct(split(col("text"), "\\s+"))))
      .withColumn("canonical_fp", md5(concat_ws(" ", col("w"))))
    // explode the OFFSETS and substring per row; md5+min stay
    // codegen'd with a map-side partial min, so the exchange carries
    // one row per doc. `parallelized` first: the gram hashing is
    // compute-bound and must not inherit a one-row-group scan's
    // single task.
    val rolling = Tables.parallelized(d.filter(length(col("text")) >= 8))
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, length(text) - 7)")).as("i"))
      .groupBy("doc_id")
      .agg(min(md5(expr("substring(text, i, 8)"))).as("rolling_fp"))
    d.select(col("doc_id"), col("canonical_fp"))
      .join(rolling, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // text_commonness: corpus-LM-style fluency signal. A document's
  // score = fraction of its bigram OCCURRENCES whose bigram appears
  // ≥ 5 times in the whole corpus — the counts-only analog of bigram
  // log-likelihood (integer arithmetic + one division → exact
  // cross-engine). Two shuffles: corpus bigram counts, then the
  // doc-bigram ⨝ counts join re-aggregated per doc.
  // ---------------------------------------------------------------
  private val CommonMin = 5

  private def commonness(s: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.parallelized(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), "\\s+"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))")).as("bg"))
    val counts = bigrams.groupBy("bg").agg(count(lit(1)).as("n_corpus"))
    bigrams.join(counts, "bg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus") >= CommonMin, 1L).otherwise(0L)).as("n_common"))
      .withColumn("commonness",
        col("n_common").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Production twin of [[commonness]]: bigrams hash to xxhash64
    * LONGS map-side, so the count groupBy and the corpus join shuffle
    * and compare 8-byte keys instead of raw bigram strings — the
    * dedup_minhash_fast precedent (xxhash64 differs across engines,
    * so rows-only; TextFastSpec pins it to the oracled entry's exact
    * output, collision odds |bigrams|²/2⁶⁵ ≈ 1e-7 corpus-wide).
    */
  private def commonnessFast(s: SparkSession, dir: String): DataFrame = {
    // hash once per doc, checkpoint the 8-byte/bigram arrays: the
    // corpus-count branch and the per-doc branch both re-explode the
    // materialized longs instead of re-splitting and re-hashing the
    // raw text (the oracled entry's double-explode recomputes both)
    val docBg = Tables.parallelized(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), "\\s+"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(w) - 1), i -> xxhash64(concat_ws(' ', w[i-1], w[i])))").as("bhs"))
      .persist() // corpus-sized: released below, unlike a checkpoint
    val bigrams = docBg.select(col("doc_id"), explode(col("bhs")).as("bh"))
    val counts = bigrams.groupBy("bh").agg(count(lit(1)).as("n_corpus"))
    // the final per-doc frame is small; checkpointing it severs the
    // lineage so the corpus-sized hash arrays can be unpersisted now
    // instead of squatting in executor storage until GC
    try bigrams.join(counts, "bh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus") >= CommonMin, 1L).otherwise(0L)).as("n_common"))
      .withColumn("commonness",
        col("n_common").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
      .localCheckpoint()
    finally docBg.unpersist()
  }

  private val commonnessSql =
    s"""WITH bigrams AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |           i -> w[i] || ' ' || w[i+1])) AS bg
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
       |  WHERE len(w) >= 2),
       |counts AS (SELECT bg, COUNT(*) AS n_corpus FROM bigrams GROUP BY bg)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(CASE WHEN n_corpus >= $CommonMin THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |  CAST(SUM(CASE WHEN n_corpus >= $CommonMin THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS commonness
       |FROM bigrams JOIN counts USING (bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_pii_scrub: PII redaction (emails / phone numbers) — a
  // standard pre-training hygiene pass. The synthetic corpus is
  // PII-free, so deterministic PII is planted from doc_id first;
  // the redactor then has known ground truth to count and remove.
  // Pure regexp built-ins — codegen'd, embarrassingly parallel, the
  // only shuffle is the final presentation sort. Regexes use the
  // common Java-regex / RE2 subset (no alternation, no backrefs) so
  // both engines match identically.
  // ---------------------------------------------------------------
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact emails then phone numbers. Usable on any text column. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  private def plantedPii(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" Contact user"), col("doc_id"), lit("@example.com or +1 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(".")
      ).as("planted"))

  private def piiScrub(s: SparkSession, dir: String): DataFrame =
    plantedPii(s, dir)
      .select(col("doc_id"),
        // regexp_count, not size(regexp_extract_all(..)): same match
        // semantics, no per-row match-array materialization
        regexp_count(col("planted"), lit(emailRe))
          .cast("long").as("n_emails"),
        regexp_count(col("planted"), lit(phoneRe))
          .cast("long").as("n_phones"),
        md5(scrubPii(col("planted"))).as("scrub_md5"))
      .orderBy("doc_id")

  private val piiScrubSql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(planted, '$emailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(planted, '$phoneRe')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(planted, '$emailRe', '<EMAIL>', 'g'),
       |      '$phoneRe', '<PHONE>', 'g')) AS scrub_md5
       |FROM (SELECT doc_id,
       |        text || ' Contact user' || doc_id || '@example.com or +1 555-867-' ||
       |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS planted
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_paragraph_dedup: paragraph-level exact dedup — the C4 /
  // RefinedWeb boilerplate pass (repeated footers, nav text, license
  // blurbs removed at sub-document granularity). The synthetic corpus
  // has no paragraph structure, so each doc gets one of 7
  // deterministic boilerplate footers planted (doc_id % 7), then the
  // operator detects paragraphs recurring across documents: explode
  // on the sentence delimiter → md5 map-side → one shuffle on the
  // 128-bit hash → per-paragraph (n_docs, n_occurrences) → compact
  // histogram. At 100 TB only (hash, doc_id) rows shuffle, never
  // paragraph bodies.
  // ---------------------------------------------------------------
  private val Footers = 7

  private def plantedParagraphs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(". all rights reserved footer "),
        (col("doc_id") % Footers).cast("string"), lit(" terms apply")
      ).as("ptext"))

  private def paragraphDedup(s: SparkSession, dir: String): DataFrame =
    plantedParagraphs(s, dir)
      .select(col("doc_id"), explode(split(col("ptext"), "\\. ")).as("para"))
      .filter(col("para") =!= "")
      .groupBy(md5(col("para")).as("para_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2) // boilerplate = recurs across docs
      .groupBy("n_docs")
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(col("n_occurrences")).as("total_occurrences"),
        min(col("para_hash")).as("first_hash"))
      .orderBy("n_docs")

  private val paragraphDedupSql =
    s"""WITH paras AS (
       |  SELECT doc_id, unnest(string_split_regex(
       |           text || '. all rights reserved footer ' ||
       |           CAST(doc_id % $Footers AS VARCHAR) || ' terms apply',
       |           '\\. ')) AS para
       |  FROM documents),
       |per_para AS (
       |  SELECT md5(para) AS para_hash,
       |         COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
       |  FROM paras WHERE para <> '' GROUP BY md5(para))
       |SELECT n_docs, COUNT(*) AS n_paragraphs,
       |       CAST(SUM(n_occurrences) AS BIGINT) AS total_occurrences,
       |       MIN(para_hash) AS first_hash
       |FROM per_para WHERE n_docs >= 2
       |GROUP BY n_docs ORDER BY n_docs""".stripMargin

  /** Remove paragraphs that recur across ≥ `minDocs` documents (the
    * C4/RefinedWeb boilerplate pass) and reassemble each document in
    * original paragraph order. Plan shape: posexplode → paragraph-hash
    * counts (map-side partial agg, only hashes shuffle) → left-anti
    * join against the recurring set → sort_array(collect_list) rebuild.
    * At 100 TB the recurring-hash set is the small side of the join
    * (boilerplate is by definition few distinct paragraphs) and AQE
    * broadcasts it.
    */
  def dropBoilerplateParagraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\\. ",
      joinSep: String = ". ",
      minDocs: Int = 2): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), sep)).as(Seq("pos", "para")))
      .filter(col("para") =!= "")
      .withColumn("ph", md5(col("para")))
    val recurring = paras.groupBy("ph")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("ph")
    paras.join(recurring, Seq("ph"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
        p => p("para")), joinSep).as(textCol))
  }

  // ---------------------------------------------------------------
  // text_repetition: Gopher-style intra-document repetition — the
  // fraction of word-3-gram occurrences that are duplicates of an
  // earlier occurrence in the SAME document. Array built-ins only
  // (transform/array_distinct), zero shuffles beyond the
  // presentation sort: the signal is per-row, embarrassingly
  // parallel, integer counts + one division.
  // ---------------------------------------------------------------
  /** Duplicate word-n-gram fraction of `text` — 0 for no repetition,
    * →1 as the doc degenerates into repeated phrases. Pure projection
    * (no shuffle); usable as a filter column on any table.
    */
  def repetitionScore(text: Column, n: Int = 3): Column = {
    val w = split(text, "\\s+")
    val g = transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*))
    when(size(w) >= n,
      (size(g) - size(array_distinct(g))).cast("double") / size(g))
      .otherwise(lit(0.0))
  }

  private def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), "\\s+"))
      .filter(size(col("w")) >= 3)
      // trigrams as TWO-lane hashed keys, not concat_ws strings: the
      // distinct count is identical (per-word hashing leaves no
      // concatenation ambiguity), array_distinct compares 16-byte
      // structs instead of allocating a string per position, and —
      // because the oracle compares exact n_distinct — the same
      // double-lane scheme as hashedWordGramKeys makes a cross-engine
      // count divergence need a simultaneous collision in BOTH lanes
      // (≈1e-29 per doc), not one 64-bit lane (which at the 100 TB
      // target's doc count stops being negligible for an exact gate).
      // Words hash once per lane via the native codegen expression.
      .select(col("doc_id"),
        graft.functions.word_lane_hashes(col("w")).as("__gl"))
      .select(col("doc_id"),
        col("__gl.a").as("__ga"), col("__gl.b").as("__gb"))
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(__ga) - 2), i -> struct(
          |  xxhash64(__ga[i-1], __ga[i], __ga[i+1]) AS h1,
          |  xxhash64(__gb[i-1], __gb[i], __gb[i+1]) AS h2))""".stripMargin).as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("rep_frac",
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
      .orderBy("doc_id")

  private val repetitionSql =
    s"""SELECT doc_id,
       |  CAST(len(g) AS BIGINT) AS n_grams,
       |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       |  CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS rep_frac
       |FROM (
       |  SELECT doc_id, list_transform(range(1, len(w) - 1),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
       |  WHERE len(w) >= 3)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_token_budget: budget-bounded corpus curation — take the
  // highest-quality documents, in (quality desc, doc_id) order, until
  // a token budget is exhausted (here: half the corpus's tokens).
  // The naive formulation is a GLOBAL window cumsum — a single-
  // partition sort that dies at 100 TB. The scale shape used here:
  //   1) per-score histogram (one small shuffle: distinct scores are
  //      bounded by the 1e-4 rounding granularity),
  //   2) driver-side threshold scan over the tiny histogram (like the
  //      reference commits offsets driver-side: decisions are O(small)),
  //   3) distributed filter score > threshold, plus a window over the
  //      ONE boundary-score bucket (bounded partition) for the
  //      partial take.
  // The DuckDB oracle IS the naive global-window formulation —
  // proving the distributed decomposition computes exactly it.
  // ---------------------------------------------------------------
  /** Take rows in (scoreCol desc, idCol asc) order until the running
    * sum of `weightCol` exceeds `budget` — exactly what a global
    * `SUM() OVER (ORDER BY score DESC, id) <= budget` selects, but
    * without the single-partition global sort that formulation
    * forces. Shape: per-score histogram (small: distinct scores are
    * bounded by score granularity) → driver threshold scan → one
    * distributed filter + a window over the single boundary-score
    * bucket. The caller supplies `budget`; rows must have a BIGINT
    * weight and non-null numeric score.
    */
  def takeByScoreBudget(
      scored: DataFrame,
      idCol: String,
      weightCol: String,
      scoreCol: String,
      budget: Long): DataFrame =
    takeByScoreBudget(scored, idCol, weightCol, scoreCol, budget,
      histCap = 65536L)

  /** The driver bound is STRUCTURAL, not caller discipline: when the
    * distinct-score cardinality fits `histCap` the exact per-score
    * histogram collects (the quantized-score fast path every graft
    * caller hits); otherwise the boundary score is located by
    * iterative range refinement — each pass buckets the surviving
    * [lo, hi] score interval into ≤1024 equal sub-ranges and
    * collects ONE row per non-empty bucket, narrowing the interval
    * ~1024x per pass — so a caller passing raw continuous doubles
    * over a 100 TB corpus costs a few extra scans, never a
    * corpus-cardinality collect.
    */
  private[graft] def takeByScoreBudget(
      scored: DataFrame,
      idCol: String,
      weightCol: String,
      scoreCol: String,
      budget: Long,
      histCap: Long): DataFrame = {
    val sc0 = col(scoreCol)
    // null scores are uniformly NEVER selected (they cannot rank):
    // dropping them up front keeps every path consistent — the exact
    // histogram would NPE on a null group and the refinement pass
    // would count null weights in the total but never in a bucket
    val ranked = scored.filter(sc0.isNotNull)
    // ONE aggregation job decides the path AND (usually) delivers the
    // whole histogram: collect at most histCap+1 grouped rows — a
    // result of exactly histCap+1 rows means the histogram overflowed
    // the driver bound (arbitrary-truncation rows are discarded) and
    // the range-refinement path takes over; fewer rows IS the
    // complete exact histogram.
    val probe = ranked.groupBy(scoreCol)
      .agg(sum(col(weightCol)).as("__bucket_w"))
      .limit(math.min(histCap, Int.MaxValue - 1L).toInt + 1)
      .collect()
    // (done, boundaryScore, remainingAtBoundary): done=false means
    // the whole input fits the budget
    val (done, boundary, remainingAtBoundary) =
      if (probe.length <= histCap) {
        val hist = probe.map(r => (r.getDouble(0), r.getLong(1)))
          .sortBy { case (v, _) => -v }
        var cum = 0L
        var b = Double.NegativeInfinity
        var rem = 0L
        var crossed = false
        val it = hist.iterator
        while (it.hasNext && !crossed) {
          val (v, w) = it.next()
          if (cum + w <= budget) cum += w
          else { b = v; rem = budget - cum; crossed = true }
        }
        (crossed, b, rem)
      } else refineBoundary(ranked, weightCol, scoreCol, budget)
    val full =
      if (!done) ranked
      else ranked.filter(sc0 > boundary)
    val partial =
      if (!done) ranked.limit(0)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sc0).orderBy(col(idCol))
        ranked.filter(sc0 === boundary)
          .withColumn("__cum", sum(col(weightCol)).over(w))
          .filter(col("__cum") <= remainingAtBoundary)
          .drop("__cum")
      }
    full.unionAll(partial).orderBy(desc(scoreCol), col(idCol))
  }

  /** Locate the budget-crossing boundary score without a data-
    * proportional collect: s* = max score with W(>=s*) > budget.
    * Per pass, rows with score in [lo, hi] bucket into <=1024 equal
    * sub-ranges (one aggregated row each: weight, min/max score);
    * walking buckets from the top, the first whose cumulative
    * crosses the budget contains s*, and the interval narrows to
    * that bucket's [min, max]. Terminates when the bucket holds one
    * distinct score, or (sub-ulp interval / no-progress guard) by
    * collecting the few representable doubles left in [lo, hi].
    */
  private def refineBoundary(
      scored: DataFrame,
      weightCol: String,
      scoreCol: String,
      budget: Long): (Boolean, Double, Long) = {
    val sc0 = col(scoreCol)
    val bounds = scored.agg(
      sum(col(weightCol)).as("t"), min(sc0).as("lo"), max(sc0).as("hi")).head
    if (bounds.isNullAt(0) || bounds.getLong(0) <= budget)
      return (false, Double.NegativeInfinity, 0L)
    var lo = bounds.getDouble(1)
    var hi = bounds.getDouble(2)
    var aboveHiW = 0L // W(> hi)
    val B = 1024
    var pass = 0
    while (pass < 16) {
      pass += 1
      val step = (hi - lo) / B
      if (lo == hi || step <= 0 || !java.lang.Double.isFinite(step) ||
          lo + step == lo) {
        // interval is a single score or a handful of representable
        // doubles: the exact histogram on it is tiny by construction
        return exactOnInterval(scored, weightCol, scoreCol, budget,
          lo, hi, aboveHiW)
      }
      val buckets = scored.filter(sc0.between(lo, hi))
        .groupBy(least(floor((sc0 - lo) / step), lit(B - 1)).as("__b"))
        .agg(sum(col(weightCol)).as("w"), min(sc0).as("mn"), max(sc0).as("mx"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy { case (b, _, _, _) => -b }
      var cum = aboveHiW
      var found = false
      val it = buckets.iterator
      while (it.hasNext && !found) {
        val (_, w, mn, mx) = it.next()
        if (cum + w > budget) {
          if (mn == mx) return (true, mn, budget - cum)
          lo = mn; hi = mx; aboveHiW = cum; found = true
        } else cum += w
      }
      if (!found) return (false, Double.NegativeInfinity, 0L) // can't happen
    }
    // 16 passes shrink the interval by 1024^16 — past double
    // precision for any finite starting range; the guard above fires
    // first. Defensive final exact scan on the (sub-ulp) interval.
    exactOnInterval(scored, weightCol, scoreCol, budget, lo, hi, aboveHiW)
  }

  /** Exact boundary on a sub-ulp [lo, hi] interval: the histogram on
    * it is tiny (a handful of representable doubles) by construction.
    */
  private def exactOnInterval(
      scored: DataFrame, weightCol: String, scoreCol: String,
      budget: Long, lo: Double, hi: Double,
      aboveHiW: Long): (Boolean, Double, Long) = {
    val tiny = scored.filter(col(scoreCol).between(lo, hi))
      .groupBy(scoreCol).agg(sum(col(weightCol)).as("w"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy { case (v, _) => -v }
    var cum = aboveHiW
    var i = 0
    while (i < tiny.length) {
      val (v, w) = tiny(i)
      if (cum + w > budget) return (true, v, budget - cum)
      cum += w
      i += 1
    }
    // unreachable given the invariant aboveHiW <= budget < W(>=lo)
    (true, lo, budget - aboveHiW)
  }

  private def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        bpeTokenCount(col("text")).as("toks"),
        qualityScore(col("text")).as("score"))
    scored.cache()
    try {
      val budget = scored.agg(sum(col("toks"))).head.getLong(0) / 2
      takeByScoreBudget(scored, "doc_id", "toks", "score", budget)
        .localCheckpoint() // sever lineage before uncache
    } finally scored.unpersist()
  }

  private val tokenBudgetSql =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$bpeish')) AS BIGINT) AS toks,
       |    ROUND(100.0 *
       |      LEAST(1.0, CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) / 20) *
       |      (1.0 - CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) / length(text)) *
       |      (1.0 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)), 4) AS score
       |  FROM documents),
       |sel AS (
       |  SELECT doc_id, toks, score,
       |         SUM(toks) OVER (ORDER BY score DESC, doc_id
       |                         ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM scored)
       |SELECT doc_id, toks, score FROM sel
       |WHERE cum <= (SELECT CAST(SUM(toks) AS BIGINT) // 2 FROM scored)
       |ORDER BY score DESC, doc_id""".stripMargin

  private val fingerprintSql =
    s"""SELECT d.doc_id, d.canonical_fp, r.rolling_fp FROM
       |  (SELECT doc_id, md5(list_aggregate(list_sort(list_distinct(string_split_regex(text, '\\s+'))), 'string_agg', ' ')) AS canonical_fp
       |   FROM documents) d
       |LEFT JOIN
       |  (SELECT doc_id, MIN(md5(gram)) AS rolling_fp FROM (
       |     SELECT doc_id, unnest(list_transform(range(1, length(text) - 6), i -> substring(text, i, 8))) AS gram
       |     FROM documents WHERE length(text) >= 8)
       |   GROUP BY doc_id) r
       |USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_gopher_rules: the Gopher quality-rule bundle (Rae et al.
  // 2021, Appendix A1.1 — the rule set FineWeb/Dolma reuse) as
  // per-document boolean flags rather than text_quality's composite
  // score: word-count bounds, mean-word-length bounds, minimum
  // distinct stopwords, minimum alphabetic-word ratio. The stopword
  // set is adapted to the corpus vocabulary ('the'/'a' are its only
  // function words — Gopher's {be,to,of,and,that,have,with} never
  // occur, which would make the >=2-distinct rule vacuously fail).
  //
  // Everything is computed map-side with array HOFs over the split
  // — one narrow scan, zero shuffles before the output sort; at
  // 100 TB this is a pure scan-transform whose cost is I/O. Ratios
  // export as floor(milli) fixed-point: the divisions are exact-int
  // doubles (< 2^53) so floor is engine-stable, and the output
  // schema stays integer for hash comparison.
  // ---------------------------------------------------------------
  private[operators] val GopherMinWords = 50
  private[operators] val GopherMaxWords = 100000
  private[operators] val GopherMinMwlMilli = 3000L // mean word length >= 3
  private[operators] val GopherMaxMwlMilli = 10000L // and <= 10
  private[operators] val GopherMinStop = 2
  private[operators] val GopherMinAlphaMilli = 800L // >= 80% words alphabetic
  private[operators] val GopherStopwords = Seq("the", "a", "be", "to", "of", "and")

  /** APPEND the Gopher stats and rule flags to any frame with a
    * `textCol` (input columns kept — composes with other per-row
    * scorers, batch or streaming). Entirely map-side.
    */
  def gopherRuleFlags(input: DataFrame, idCol: String, textCol: String): DataFrame = {
    val flag = (c: Column) => c.cast("int")
    input
      // split+filter ONCE into a real column: the interpreted HOF
      // gets no codegen CSE, and inlining it left one copy inside
      // size() plus one per array_contains plus the alpha filter —
      // ~8 re-tokenizations per row (the dedup banding fix's exact
      // pathology, Dedup.scala banding comment). CollapseProject
      // won't re-inline it: the alias is non-cheap and multiply
      // referenced.
      .withColumn("__graft_gopher_ws",
        filter(split(col(textCol), "\\s+"), w => length(w) > 0))
      .withColumn("n_words", size(col("__graft_gopher_ws")).cast("long"))
      .withColumn("mwl_milli",
        floor(length(regexp_replace(col(textCol), "\\s+", "")).cast("double")
          * 1000 / col("n_words")).cast("long"))
      .withColumn("stop_hits",
        GopherStopwords.map(w => flag(array_contains(col("__graft_gopher_ws"), w)))
          .reduce(_ + _).cast("long"))
      .withColumn("alpha_milli",
        floor(size(filter(col("__graft_gopher_ws"), w => w.rlike("[A-Za-z]"))).cast("double")
          * 1000 / col("n_words")).cast("long"))
      .drop("__graft_gopher_ws")
      .withColumn("r_wordcount", flag(col("n_words").between(GopherMinWords, GopherMaxWords)))
      .withColumn("r_meanlen", flag(col("mwl_milli").between(GopherMinMwlMilli, GopherMaxMwlMilli)))
      .withColumn("r_stopwords", flag(col("stop_hits") >= GopherMinStop))
      .withColumn("r_alpha", flag(col("alpha_milli") >= GopherMinAlphaMilli))
      .withColumn("pass",
        flag(col("r_wordcount") + col("r_meanlen") + col("r_stopwords") + col("r_alpha") === 4))
  }

  private def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRuleFlags(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")
      .select(col("doc_id"), col("n_words"), col("mwl_milli"), col("stop_hits"),
        col("alpha_milli"), col("r_wordcount"), col("r_meanlen"),
        col("r_stopwords"), col("r_alpha"), col("pass"))
      .orderBy("doc_id")

  private val gopherRulesSql = {
    val stopSum = GopherStopwords
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS ws
       |  FROM documents
       |), stats AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS mwl_milli,
       |    CAST($stopSum AS BIGINT) AS stop_hits,
       |    CAST(floor(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS alpha_milli
       |  FROM d
       |)
       |SELECT doc_id, n_words, mwl_milli, stop_hits, alpha_milli,
       |  CAST(n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS INT) AS r_wordcount,
       |  CAST(mwl_milli BETWEEN $GopherMinMwlMilli AND $GopherMaxMwlMilli AS INT) AS r_meanlen,
       |  CAST(stop_hits >= $GopherMinStop AS INT) AS r_stopwords,
       |  CAST(alpha_milli >= $GopherMinAlphaMilli AS INT) AS r_alpha,
       |  CAST((CAST(n_words BETWEEN $GopherMinWords AND $GopherMaxWords AS INT) +
       |        CAST(mwl_milli BETWEEN $GopherMinMwlMilli AND $GopherMaxMwlMilli AS INT) +
       |        CAST(stop_hits >= $GopherMinStop AS INT) +
       |        CAST(alpha_milli >= $GopherMinAlphaMilli AS INT)) = 4 AS INT) AS pass
       |FROM stats ORDER BY doc_id""".stripMargin
  }
}
