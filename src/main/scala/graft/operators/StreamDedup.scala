package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.CdcStream

/** Streaming landing gate: near-dup screening of ARRIVING documents
  * against the standing corpus, before they are admitted — the
  * streaming face of [[Dedup.incrementalDedupVerdicts]] and the
  * LLM-corpus analog of the reference's ingest-time dedup gate
  * (rust-cdc `src/delta/mod.rs:126-148`, StableBloomFilter checked
  * per record BEFORE the Delta apply).
  *
  * Spark-first composition, all stateless until the final dedup:
  *
  *  - each arriving doc is banded by [[Dedup.rowBandSignatures]] — a
  *    per-row projection (higher-order array ops), NOT the batch
  *    explode + groupBy, which would force a stateful streaming
  *    aggregate;
  *  - the band rows probe the PERSISTED index with a stream-static
  *    equijoin on (band, sig) — Structured Streaming evaluates the
  *    static side per micro-batch with no state store involvement;
  *  - the only state is the pair-level dropDuplicates (a pair can
  *    collide in several bands). A production deployment bounds it
  *    with a watermark on arrival time; the gate query runs
  *    AvailableNow, so its state is the batch's pair set.
  *
  * Cap semantics differ from the batch miner BY DESIGN: the gate
  * drops over-populated STANDING buckets (computable before any
  * arrival — at scale this filter is materialized with the index),
  * but cannot see future increment bucket populations. New-vs-new
  * pairs are likewise left to the next batch compaction — the gate's
  * contract is "does this doc duplicate the CORPUS", not "does it
  * duplicate this micro-batch". The oracle mirrors exactly that
  * contract.
  */
object StreamDedup {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_stream_probe", probe, Some(probeSql)),
    QueryDef("stream_quality_gate", qualityGate, Some(qualityGateSql)))

  /** documents.parquet as a file stream, in either layout. */
  private def docStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    graft.Tables.stream(s, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** The arriving increment probed against the standing index; the
    * increment is the familiar mutant projection (doc_id + 1e6,
    * first word dropped) so the planted near-dups are the ones every
    * batch miner in the suite is graded on. Returns the admitted
    * verdict input: (doc_a standing, doc_b arriving) candidates.
    */
  private def probe(s: SparkSession, dir: String): DataFrame = {
    val qn = s"dedup_stream_probe_${System.nanoTime()}"
    // the PERSISTED, PRE-CAPPED standing index: the gate probes a
    // built index, it never re-shingles the corpus, and it never
    // re-runs the full-index bucket-cap window per micro-batch (the
    // cap is a property of the index alone — materialized with it)
    val capped = Dedup.cappedStandingIndex(s, dir)
    val arriving = docStream(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Dedup.MutantBase).as("inc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .filter(size(split(col("text"), "\\s+")) >= 3)
    // foreachBatch, not a stateful streaming dropDuplicates: the
    // pair-level dedup is scoped to the batch BY CONTRACT (the gate
    // answers "does this arrival duplicate the corpus" — cross-batch
    // re-arrivals fold at the next compaction), and a state store
    // keyed by pair was the entry's whale at scale — |pairs| grows
    // with landing traffic × corpus duplication (4.5M keys at sf10
    // ≈ state-store writes dwarfing the probe itself). A per-batch
    // shuffle distinct costs one exchange of skinny pair rows.
    CdcStream.runGateForeachBatch(s, qn, arriving) { batch =>
      // landing batches arrive as FEW files, and the md5-per-shingle
      // banding is compute-bound: without the spread the whole batch
      // bands in the file-split count of tasks (ONE for a single
      // landed file — measured 9.1s vs 2.3s at sf0.1). The shuffle
      // moves only the increment's text, never the corpus.
      val spread = batch.repartition(s.sparkContext.defaultParallelism)
      spread
        // two-projection banding: the md5-half array materializes
        // once, the k min-hash lanes then read the attribute — see
        // Dedup.rowShingleHalves on why one fused projection re-runs
        // the md5 work per lane
        .select(col("inc_id"), Dedup.rowShingleHalves(col("text")).as("__vs"))
        .select(col("inc_id"),
          explode(Dedup.rowBandsFromHalves(col("__vs"))).as("bs"))
        .select(col("inc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
        .join(capped, Seq("band", "sig")) // static side: cached, pre-capped
        .select(col("doc_id").as("doc_a"), col("inc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .persist()
    }(identity)
  }

  private lazy val probeSql = {
    val standingSql = "SELECT doc_id, text FROM documents"
    val incSql =
      s"""SELECT doc_id + ${Dedup.MutantBase} AS doc_id,
         |       substring(text, instr(text, ' ') + 1) AS text
         |FROM documents WHERE doc_id % 10 = 0""".stripMargin
    s"""WITH ${Dedup.bandsCtesFor(standingSql, "_s")},
       |${Dedup.bandsCtesFor(incSql, "_i")},
       |capped AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY band, sig) AS bn FROM allbands_s)
       |  WHERE bn <= ${Dedup.MaxBucket})
       |SELECT DISTINCT s.doc_id AS doc_a, i.doc_id AS doc_b
       |FROM capped s JOIN allbands_i i ON s.band = i.band AND s.sig = i.sig
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // stream_quality_gate: the OTHER streaming admission gate — quality
  // filtering of arriving documents before they touch the corpus
  // (rule bundle first, classifier on the survivors), the streaming
  // face of text_gopher_rules + cur_quality_classify exactly as
  // dedup_stream_probe is the streaming face of dedup_incremental.
  //
  // Both scorers are pure per-row projections (array HOFs, no
  // aggregate), so the streaming plan needs NO state store at all —
  // not even dropDuplicates. The scoring + admission filter run
  // INSIDE foreachBatch behind a per-batch persist barrier: in the
  // first (pure file-sink) form, predicate pushdown dragged both
  // admission filters — and with them the ENTIRE rule+classifier
  // expression tree — below the landing-batch repartition onto the
  // single-file scan, so the whole gate scored on ONE task and
  // evaluated the classifier fold twice (once in the pushed Filter,
  // again in the output projection): measured 12.8s at sf0.1. The
  // persist barrier pins one parallel evaluation (filters read the
  // materialized columns) → 1.9s. Admitted rows append to the
  // parquet sink per batch; the driver holds a path, never rows —
  // and this is the production shape anyway (cdc_ingest precedent).
  // ---------------------------------------------------------------
  private def qualityGate(s: SparkSession, dir: String): DataFrame = {
    val qn = s"stream_quality_gate_${System.nanoTime()}"
    val arriving = docStream(s, dir).select(col("doc_id"), col("text"))
    CdcStream.runGateForeachBatch(s, qn, arriving) { batch =>
      val spread = batch.repartition(
        batch.sparkSession.sparkContext.defaultParallelism)
      Curation.qualityClassifyScores(
          TextAnalysis.gopherRuleFlags(spread, "doc_id", "text"),
          "doc_id", "text")
        .persist()
    } { scored =>
      scored.filter(col("pass") === 1 && col("label") === 1)
        .select(col("doc_id"), col("n_words"), col("score_milli"))
    }.orderBy("doc_id")
  }

  private lazy val qualityGateSql = {
    val stopSum = TextAnalysis.GopherStopwords
      .map(w => s"CAST(list_contains(ws, '$w') AS INT)").mkString(" + ")
    val wgt = graft.functions.DetHash.int48OfHexSql("md5('qw:' || f)")
    val wc = Curation.WeightCenter
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0) AS ws,
       |         list_filter(string_split_regex(lower(text), '\\s+'), w -> length(w) > 0) AS lws
       |  FROM documents
       |), stats AS (
       |  SELECT doc_id, lws,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS mwl_milli,
       |    CAST($stopSum AS BIGINT) AS stop_hits,
       |    CAST(floor(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) * 1000 / len(ws)) AS BIGINT) AS alpha_milli
       |  FROM d
       |), gated AS (
       |  SELECT doc_id, lws, n_words FROM stats
       |  WHERE n_words BETWEEN ${TextAnalysis.GopherMinWords} AND ${TextAnalysis.GopherMaxWords}
       |    AND mwl_milli BETWEEN ${TextAnalysis.GopherMinMwlMilli} AND ${TextAnalysis.GopherMaxMwlMilli}
       |    AND stop_hits >= ${TextAnalysis.GopherMinStop}
       |    AND alpha_milli >= ${TextAnalysis.GopherMinAlphaMilli}
       |), feats AS (
       |  SELECT doc_id, n_words,
       |         CASE WHEN len(lws) >= 2
       |           THEN list_concat(lws, list_transform(range(1, len(lws)), i -> lws[i] || ' ' || lws[i+1]))
       |           ELSE lws END AS fs
       |  FROM gated
       |), scored AS (
       |  SELECT doc_id, n_words, CAST(len(fs) AS BIGINT) AS n_features,
       |         list_reduce(list_transform(fs, f -> $wgt - $wc), (a, b) -> a + b) AS score_sum
       |  FROM feats
       |)
       |SELECT doc_id, n_words,
       |  CAST(floor(CAST(score_sum AS DOUBLE) * 1000 /
       |       (CAST(n_features AS DOUBLE) * $wc)) AS BIGINT) AS score_milli
       |FROM scored WHERE score_sum >= 0 ORDER BY doc_id""".stripMargin
  }
}
