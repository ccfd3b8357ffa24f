package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (64-dim float
  * vectors).
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (small) query set against the
  *    full corpus: one scan, no shuffle of the corpus, per-partition
  *    partial top-k via the aggregate path of TakeOrderedAndProject;
  *  - the LSH variant buckets vectors by signed random hyperplane
  *    projections (deterministic md5-seeded planes) so candidate
  *    generation is a bucket-equijoin — the shape that survives
  *    100 TB (shuffle ∝ corpus size, not corpus²);
  *  - embedding near-dup pairs bucket by LSH signature and verify
  *    with exact cosine inside each bucket.
  *
  * Float arithmetic IS cross-engine checkable here: both the native
  * CosineSimilarity expression and DuckDB's `list_reduce` fold the
  * array left-to-right in double precision, so the IEEE results are
  * bit-identical and the oracle can hash-match. Scores are exported
  * as `floor(cos * 1e6)` (exact on identical doubles) rather than
  * `round` (whose half-up rule differs between BigDecimal and libm).
  * Even the TRAINED-quantizer entries are fully oracled (r18): the
  * Lloyd mean is half-even-quantized exact-decimal arithmetic, so
  * DuckDB re-derives the centroids through an unrolled two-round CTE
  * chain and hash-matches the probe results — including sim_ivf_pq,
  * whose residual-codebook Lloyd chain and DECIMAL(18,9) ADC stack
  * on top of the same CTE machinery. Every similarity entry is now
  * fully oracled.
  */
object Similarity {

  lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("sim_topk_bruteforce", topk, Some(topkOracle)),
    QueryDef("sim_lsh_ann", lshAnn, Some(lshOracle)),
    QueryDef("sim_ivf_ann", ivfAnn, Some(ivfAnnOracle)),
    QueryDef("sim_ivf_probe_sweep", ivfProbeSweep, Some(ivfSweepOracle)),
    QueryDef("sim_ivf_pq", ivfPq, Some(ivfPqOracle)),
    QueryDef("sim_index_maintain", indexMaintain, Some(maintainOracle)),
    QueryDef("sim_quantized", quantized, Some(quantizedOracle)),
    QueryDef("sim_rerank", rerank, Some(rerankOracle)),
    QueryDef("sim_knn_classify", knnClassify, Some(knnOracle)),
    QueryDef("sim_pq_adc", pqAdc, Some(pqOracle)),
    QueryDef("sim_mmr", mmr, Some(mmrOracle)),
    QueryDef("sim_recall_eval", recallEval, Some(recallOracle)),
    QueryDef("dedup_embedding", embeddingDedup, Some(embeddingDedupOracle))
  )

  // --- product quantization + asymmetric distance (ADC) -----------
  // The billion-scale ANN memory shape (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search"): each vector stores
  // M=8 4-bit codes (4 BYTES instead of 256 — a 64× cut), queries
  // stay full-precision, and scoring sums per-subspace dot products
  // against the coded centroids. Codebooks here are seed-initialized
  // (the first 16 corpus vectors' subvectors) rather than
  // Lloyd-trained: deterministic, plan-time constants — which is
  // what makes the whole operator DuckDB-oracle-checkable (the
  // relational oracle re-derives codes + scores from the same seed
  // table; a trained codebook is engine-local state). sim_ivf_ann
  // carries the trained-quantizer path.
  //
  // FP discipline: encode distances use ONE written order
  // ((x·x − 2·x·c) + c·c, all dot products left-to-right double
  // folds) so argmin inputs are bit-identical; ADC score terms are
  // rounded to DECIMAL(18,9) BEFORE the 8-term sum (exact,
  // order-free — same convention as text_crossentropy).
  //
  // Scale shape: encoding is a per-row projection (no shuffle — the
  // codes travel with the row); scoring broadcasts the 8-query set
  // and the rk<=k predicate plans the Partial WindowGroupLimit, so
  // the shuffle stays ×k-bounded like cosineTopK.
  private val PqSub = 8
  private val PqDsub = 8
  private val PqCodes = 16

  private def pqAdc(s: SparkSession, dir: String): DataFrame = {
    // one codebook collect shared by encode and score (they each
    // accept it as a parameter precisely so this entry doesn't run
    // the 16-row scan-and-collect job twice per invocation)
    val seeds = pqSeeds(s, dir)
    pqScore(s, dir, pqEncode(s, dir, seeds), seeds)
  }

  /** First-PqCodes-vectors codebook, collected driver-side (16 rows). */
  private def pqSeeds(s: SparkSession, dir: String): Map[Int, Array[Float]] =
    Tables.embeddings(s, dir).filter(col("vec_id") < PqCodes)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0).toInt ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap

  private def pqCent(
      seeds: Map[Int, Array[Float]], sub: Int, code: Int): Array[Float] =
    seeds(code).slice(sub * PqDsub, (sub + 1) * PqDsub)

  private def pqSubCol(e: Column, sub: Int): Column =
    slice(e, sub * PqDsub + 1, PqDsub)

  /** The PQ code TABLE — the index artifact a deployment stores (the
    * 64× memory cut is the point of PQ). sim_pq_adc re-encodes per
    * run (it is the build+query entry); sim_recall_eval reads the
    * stored codes through [[SessionCache]].
    */
  private def pqEncode(
      s: SparkSession, dir: String,
      seeds: Map[Int, Array[Float]]): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    // Σ c_i² as a Scala left fold over double-cast floats — the same
    // accumulation order as the oracle's list_reduce, so the constant
    // is bit-identical
    def centNormSq(sub: Int, code: Int): Double =
      pqCent(seeds, sub, code).foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble)
    def centCol(sub: Int, code: Int): Column =
      array(pqCent(seeds, sub, code).map(lit): _*)
    def codeCol(e: Column, sub: Int): Column = {
      val x = pqSubCol(e, sub)
      val xx = graft.functions.dot_product(x, x)
      val dists = array((0 until PqCodes).map { c =>
        (xx - lit(2.0) * graft.functions.dot_product(x, centCol(sub, c))) +
          lit(centNormSq(sub, c))
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    emb.select(
      (col("vec_id") +: (0 until PqSub).map(sb =>
        codeCol(col("embedding"), sb).as(s"c$sb"))): _*)
  }

  /** ADC scoring over a code table: per-query decimal term sums via
    * codebook lookup, top-k per query. */
  private def pqScore(
      s: SparkSession, dir: String, encoded: DataFrame,
      seeds: Map[Int, Array[Float]]): DataFrame = {
    def centCol(sub: Int, code: Int): Column =
      array(pqCent(seeds, sub, code).map(lit): _*)
    val queries = Tables.embeddings(s, dir)
      .filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def dec9(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(18, 9))
    val termCols = (0 until PqSub).map { sb =>
      val centForCode = element_at(
        array((0 until PqCodes).map(c => centCol(sb, c)): _*), col(s"c$sb") + 1)
      dec9(graft.functions.dot_product(pqSubCol(col("q_vec"), sb), centForCode))
    }
    val scored = encoded.join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        termCols.reduce(_ + _).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("neighbor_id"),
        floor(col("score") * lit(1000000)).cast("long").as("score_micro"))
      .orderBy("q_id", "rk")
  }

  /** The PQ encode+score CTE chain up to `ranked` — shared by the
    * pqOracle and sim_recall_eval's PQ arm. */
  private lazy val pqCtes: String = {
    def fold(elem: String): String =
      s"list_reduce(list_transform(range(1, ${PqDsub + 1}), i -> $elem), (acc, x) -> acc + x)"
    val dotXC = fold("CAST(x[i] AS DOUBLE) * CAST(c[i] AS DOUBLE)")
    val dotXX = fold("CAST(x[i] AS DOUBLE) * CAST(x[i] AS DOUBLE)")
    val dotCC = fold("CAST(c[i] AS DOUBLE) * CAST(c[i] AS DOUBLE)")
    val dotQC = fold("CAST(q[i] AS DOUBLE) * CAST(c[i] AS DOUBLE)")
    s"""codebook AS (
       |  SELECT vec_id AS code, sub,
       |         embedding[sub * $PqDsub + 1 : sub * $PqDsub + $PqDsub] AS c
       |  FROM embeddings, UNNEST(range(0, $PqSub)) AS t(sub)
       |  WHERE vec_id < $PqCodes
       |), subs AS (
       |  SELECT vec_id, sub,
       |         embedding[sub * $PqDsub + 1 : sub * $PqDsub + $PqDsub] AS x
       |  FROM embeddings, UNNEST(range(0, $PqSub)) AS t(sub)
       |), dists AS (
       |  SELECT s.vec_id, s.sub, cb.code,
       |         (($dotXX) - 2 * ($dotXC)) + ($dotCC) AS dist
       |  FROM subs s JOIN codebook cb USING (sub)
       |), codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                                 ORDER BY dist, code) AS rn
       |    FROM dists)
       |  WHERE rn = 1
       |), qsubs AS (
       |  SELECT vec_id AS q_id, sub,
       |         embedding[sub * $PqDsub + 1 : sub * $PqDsub + $PqDsub] AS q
       |  FROM embeddings, UNNEST(range(0, $PqSub)) AS t(sub)
       |  WHERE vec_id < $QuerySetSize
       |), terms AS (
       |  SELECT qs.q_id, co.vec_id AS neighbor_id,
       |         CAST(($dotQC) AS DECIMAL(18,9)) AS term
       |  FROM codes co
       |  JOIN qsubs qs ON qs.sub = co.sub AND qs.q_id <> co.vec_id
       |  JOIN codebook cb ON cb.sub = co.sub AND cb.code = co.code
       |), scores AS (
       |  SELECT q_id, neighbor_id, SUM(term) AS score
       |  FROM terms GROUP BY q_id, neighbor_id
       |), ranked AS (
       |  SELECT q_id, neighbor_id, score,
       |         ROW_NUMBER() OVER (PARTITION BY q_id
       |                            ORDER BY score DESC, neighbor_id) AS rk
       |  FROM scores
       |)""".stripMargin
  }

  private lazy val pqOracle: String =
    s"""WITH $pqCtes
       |SELECT q_id, rk, neighbor_id,
       |       CAST(floor(score * 1000000) AS BIGINT) AS score_micro
       |FROM ranked WHERE rk <= $TopK ORDER BY q_id, rk""".stripMargin

  /** cosine(a, b): native codegen'd expression (see
    * graft.functions.CosineSimilarity). The interpreter-only
    * zip_with/aggregate formulation lives in SimilaritySpec as the
    * semantic reference.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.cosine_sim(a, b)

  /** reference formulation via higher-order functions (no codegen) */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  private val QuerySetSize = 8
  private val TopK = 5

  /** Parametric brute-force cosine top-k: broadcast the (small)
    * query set against the full corpus — one scan, the corpus never
    * shuffles; per-partition partial top-k via the window. Query
    * columns (qIdCol, qVecCol) must not collide with corpus names.
    * Library-surface form of sim_topk_bruteforce.
    */
  def cosineTopK(
      corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries), col(qIdCol) =!= col(idCol))
      .select(col(qIdCol).as("q_id"), col(idCol).as("neighbor_id"),
        cosine(col(qVecCol), col(embCol)).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("neighbor_id"),
        floor(col("cos_sim") * lit(1e6)).as("cos_micro"))
      .orderBy("q_id", "rk")
  }

  // --- brute-force cosine top-k (baseline / ground truth) ---
  private def topk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val queries = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    cosineTopK(emb, "vec_id", "embedding", queries, "q_id", "q_vec", TopK)
  }

  // --- kNN label classification: the embedding-quality eval --------
  // Predict each query vector's label by majority vote over its k
  // nearest neighbors (excluding itself) and compare to its own label
  // — the standard check that an embedding space separates classes
  // before it is trusted for retrieval/dedup. Rides cosineTopK (the
  // corpus never shuffles; partial window prune bounds the exchange),
  // then the vote is a k×|queries|-row aggregate — driver-free and
  // corpus-size-independent. Ties break on the smaller label id, so
  // the whole pipeline is deterministic and fully oracled.
  /** Parametric kNN classification — library-surface form of
    * sim_knn_classify. Returns (q_id, predicted_label, n_votes): the
    * majority label over each query's k cosine-nearest corpus rows
    * (ties → the smaller label). Deterministic end to end.
    */
  def knnClassifyTopK(
      corpus: DataFrame, idCol: String, embCol: String, labelCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val nn = cosineTopK(corpus, idCol, embCol, queries, qIdCol, qVecCol, k)
    val votes = nn
      .join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol)), "neighbor_id")
      .groupBy(col("q_id"), col(labelCol))
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("n_votes").desc, col(labelCol))
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("q_id"), col(labelCol).as("predicted_label"), col("n_votes"))
  }

  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val queries = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    knnClassifyTopK(emb, "vec_id", "embedding", "label",
        queries, "q_id", "q_vec", TopK)
      .join(emb.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("predicted_label"), col("n_votes"),
        (col("predicted_label") === col("true_label")).as("correct"))
      .orderBy("q_id")
  }

  private lazy val knnOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         ${cosCte("c.embedding", "q.embedding")}
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), cos AS (
       |  SELECT q_id, neighbor_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM scored
       |), nn AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rk
       |    FROM cos) WHERE rk <= $TopK
       |), votes AS (
       |  SELECT nn.q_id, e.label, COUNT(*) AS n_votes
       |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
       |  GROUP BY nn.q_id, e.label
       |), pred AS (
       |  SELECT q_id, label, n_votes,
       |         row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS rk
       |  FROM votes
       |)
       |SELECT p.q_id, p.label AS predicted_label, p.n_votes,
       |       p.label = q.label AS correct
       |FROM pred p JOIN embeddings q ON q.vec_id = p.q_id
       |WHERE p.rk = 1 ORDER BY p.q_id""".stripMargin

  private val Planes = 12

  /** Deterministic pseudo-random hyperplanes: component sign from
    * md5(plane:dim) parity — reproducible across engines and runs.
    */
  private def signature(vec: Column, dim: Int): Column = {
    val bits = (0 until Planes).map { p =>
      // projection via the NATIVE dot_product (codegen'd; same
      // left-to-right accumulation as the old zip_with/aggregate
      // fold, so signatures are bit-identical — the oracle hashes
      // prove it). ±1 plane components stay exact in float.
      val proj = graft.functions.dot_product(vec, planeCol(p, dim))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  private def planeCol(p: Int, dim: Int): Column = {
    // hex digit parity of md5("p:d") → ±1.0f, precomputed as a literal
    // array (the "random" planes ship with the plan, not the data)
    val comps = (0 until dim).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0f else -1.0f
    }
    array(comps.map(lit): _*)
  }

  /** LSH bucket-population cap (skew guard). A bucket holding more
    * than this many corpus vectors means the hash family failed to
    * localize there (degenerate/duplicated embeddings); joining it
    * would cost |bucket| candidates per query that lands in it. The
    * signature space is only 2^Planes buckets, so the size table is
    * a tiny broadcast and the guard costs no corpus shuffle.
    */
  val MaxBucketAnn = 4096

  // --- LSH-bucketed approximate NN ---
  private def lshAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val dim = 64
    val sigs = emb.select(col("vec_id"), col("embedding"),
      signature(col("embedding"), dim).as("sig"))
    val queries = sigs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("sig").as("q_sig"))
    // skew guard: map-side partial agg → ≤ 2^Planes rows → broadcast
    val keptBuckets = sigs.groupBy("sig")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= MaxBucketAnn)
      .select("sig")
    // candidates share the exact signature bucket
    val cands = sigs.join(broadcast(keptBuckets), Seq("sig"))
      .join(broadcast(queries),
        col("sig") === col("q_sig") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_vec"), col("embedding")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("neighbor_id"),
        floor(col("cos_sim") * lit(1e6)).as("cos_micro"))
      .orderBy("q_id", "rk")
  }

  // --- IVF (inverted-file) approximate NN -------------------------
  // The coarse-quantizer scale path: k-means-lite centroids (seeded
  // deterministically, two Lloyd iterations), every vector indexed
  // under its nearest centroid, queries probe only the nProbe
  // nearest cells. Index build is two scans + a per-dim avg agg;
  // search shuffles only the probed cells — at 100 TB the cell
  // assignment is a partition key, so a probe touches K/nProbe-th of
  // the data and nothing else.
  private val Cells = 16
  private val NProbe = 4

  /** Two Lloyd iterations from deterministic seeds (vec_id < Cells).
    * Centroids are collected to the driver (Cells × dim floats — a
    * constant) and shipped as plan literals.
    *
    * Training runs on a deterministic hash-fraction SAMPLE capped at
    * `maxTrainRows`: coarse-quantizer quality needs a representative
    * sample, not the corpus, so the ~5 sequential driver-loop jobs
    * (2 iterations × assign+agg, plus the seed collect and one
    * count) cost O(maxTrainRows × Cells × dim) however large the
    * corpus is — only the final cell ASSIGNMENT (one map-side
    * projection, no shuffle) ever touches all rows. The sample
    * predicate is xxhash64(vec_id) mod corpus-size < cap: exact,
    * seed-free, and the identity when the corpus fits the cap (all
    * test SFs — ≤2000 vectors — train on every row, so sampling
    * changes nothing the recall spec can observe there).
    */
  /** The deterministic hash-fraction training sample trainCentroids
    * runs Lloyd iterations over: identity when the corpus fits the
    * cap, else `pmod(xxhash64(vec_id), n) < maxTrainRows` — exact,
    * seed-free, expected size ≈ maxTrainRows. Factored out so the
    * at-scale branch is directly testable (IvfSamplingSpec exercises
    * it with the cap forced below the corpus size).
    */
  private[graft] def trainSample(emb: DataFrame, maxTrainRows: Long): DataFrame = {
    val n = emb.count()
    if (n <= maxTrainRows) emb
    else emb.filter(pmod(xxhash64(col("vec_id")), lit(n)) < lit(maxTrainRows))
  }

  def trainCentroids(emb: DataFrame, maxTrainRows: Long = 1L << 16): Array[Array[Float]] = {
    val train = trainSample(emb, maxTrainRows)
    var centroids = emb.filter(col("vec_id") < Cells)
      .orderBy("vec_id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    (0 until 2).foreach { _ =>
      val assigned = train.withColumn("cell", nearestCell(col("embedding"), centroids))
      val updated = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        // exact-decimal sum → double division: float avg over a
        // distributed merge is order-dependent, which would make the
        // trained centroids (and thus IVF assignments) vary run to
        // run; the decimal sum is exact and order-free. The per-value
        // quantization is bround (HALF_EVEN) — a bare float→decimal
        // cast rounds HALF_UP, which DuckDB's double→decimal cast
        // (HALF_EVEN) disagrees with on exact scale-12 ties (5 of
        // 128k sf0.1 embedding floats are dyadic ties); half-even on
        // both sides makes the whole Lloyd chain oracle-rederivable.
        .groupBy("cell", "dim")
        .agg((sum(bround(col("x").cast("double"), 12)
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("x"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("dim"), col("x")))).as("dims"))
        .select(col("cell"), expr("transform(dims, d -> cast(d.x as float))").as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Float]]("centroid").toArray)
        .toMap
      centroids = centroids.indices
        .map(i => updated.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Column: id of the nearest centroid (cosine, tie → lower id). */
  private def nearestCell(vec: Column, centroids: Array[Array[Float]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, lit(c)).as("sim"), lit(-i).as("negid"))
    }
    // struct max compares sim first, then -id (tie → smaller id)
    (-array_max(array(scored: _*)).getField("negid")).cast("int")
  }

  /** Trained centroids + the cell-assigned corpus as per-(session,
    * dir, cap) standing artifacts — the persisted index TABLE a
    * production IVF deployment keeps (the sim_index_maintain /
    * sim_ivf_pq pattern): queries probe a standing index; they do
    * not retrain the quantizer or re-assign the corpus per search.
    * Build cost is charged to the first pass (the bench artifact
    * flag records build vs hit; dedup_index_build's precedent).
    */
  private def cachedIvfIndex(
      s: SparkSession, dir: String,
      maxTrainRows: Long): (Array[Array[Float]], DataFrame) = {
    // centroid training runs several short jobs over the table — the
    // plain scan avoids re-paying the parallelize exchange per job;
    // the one-pass assignment below does want it
    val centroids = SessionCache.value(s, s"sim:ivf:cent:$dir:$maxTrainRows")(
      trainCentroids(Tables.embeddings(s, dir), maxTrainRows))
    val indexed = SessionCache.get(s, s"sim:ivf:idx:$dir:$maxTrainRows",
      Tables.parallelized(Tables.embeddings(s, dir))
        .withColumn("cell", nearestCell(col("embedding"), centroids)))
    (centroids, indexed)
  }

  private def ivfAnn(s: SparkSession, dir: String): DataFrame =
    ivfAnnWith(s, dir, 1L << 16)

  /** maxTrainRows is a parameter (not just trainCentroids') so the
    * sampled-training end-to-end recall path is testable at test SFs,
    * where the default cap exceeds every corpus. */
  private[graft] def ivfAnnWith(
      s: SparkSession, dir: String, maxTrainRows: Long): DataFrame = {
    val (centroids, indexed) = cachedIvfIndex(s, dir, maxTrainRows)
    ivfSearch(indexed, centroids, NProbe).orderBy("q_id", "rk")
  }

  // --- sim_ivf_probe_sweep: the recall/cost tuning curve -----------
  // The sweep every IVF deployment runs to pick nProbe: recall@k vs
  // the exact top-k at nProbe ∈ {1,2,4,8,16}, on ONE shared index
  // (centroids trained once, cell assignment persisted — the sweep
  // costs |sweep| probe passes, never |sweep| index builds). Fully
  // oracled since r18 (the Lloyd CTE chain re-derives the
  // centroids); the CURVE also stays property-pinned in the spec:
  // recall is monotone non-decreasing in nProbe, and at
  // nProbe == Cells probing is exhaustive, so recall == 1000 EXACTLY
  // (the candidate set is the whole corpus minus self — brute force
  // by construction, whatever the centroids did).
  private val SweepProbes = Seq(1, 2, 4, 8, Cells)

  private def ivfProbeSweep(s: SparkSession, dir: String): DataFrame = {
    // index = standing artifact (cachedIvfIndex); the exact-NN
    // ground truth of the FIXED eval query set is a session artifact
    // too — a deployment computes it once and reruns the sweep
    // against it (the brute-force cost itself is what
    // sim_topk_bruteforce measures, uncached, as its own entry)
    val (centroids, indexed) = cachedIvfIndex(s, dir, 1L << 16)
    val exact = SessionCache.get(s, s"sim:ivf:exact:$dir", {
      val emb = Tables.parallelized(Tables.embeddings(s, dir))
      val queries = emb.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id2"), col("embedding").as("q_vec2"))
      cosineTopK(emb, "vec_id", "embedding", queries, "q_id2", "q_vec2", TopK)
        .select(col("q_id"), col("neighbor_id"))
    })
    // ONE plan for every arm, not |sweep| unioned probe plans: rank
    // ALL Cells once per query (the per-arm probed set is its
    // prk <= np prefix), score each candidate once, then explode the
    // np dimension over the scored scalars and run a single window
    // partitioned by (n_probe, q_id). The unioned-arms form repeated
    // the 16-centroid ranking expression and the join+window+agg
    // pipeline per arm — ~27 AQE stage jobs of pure floor at sf0.1
    // for identical results (r18; measured 2.3 s → ~1 s steady).
    val ranked = indexed.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        posexplode(probedCells(col("embedding"), centroids, Cells))
          .as(Seq("pos", "cell")))
      .select(col("q_id"), col("q_vec"), col("cell"),
        (col("pos") + 1).as("prk"))
    val scored = indexed.join(broadcast(ranked), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("prk"), col("vec_id").as("an"),
        cosine(col("q_vec"), col("embedding")).as("cos_sim"))
    val nps = {
      import s.implicits._
      SweepProbes.toDF("n_probe")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_probe"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("an"))
    val appr = scored.join(broadcast(nps), col("prk") <= col("n_probe"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
    val hits = appr.join(exact,
        exact("q_id") === appr("q_id") && col("neighbor_id") === col("an"))
      .groupBy("n_probe").agg(count(lit(1)).as("h"))
    nps.join(hits, Seq("n_probe"), "left")
      .select(col("n_probe"), coalesce(col("h"), lit(0L)).as("n_hits"),
        floor(lit(1000.0) * coalesce(col("h"), lit(0L))
          / lit(QuerySetSize * TopK)).cast("long").as("recall_milli"))
      .orderBy("n_probe")
      .localCheckpoint()
  }

  // --- sim_index_maintain: the ANN index LIFECYCLE -----------------
  // The vector twin of dedup_index_maintain, and the standing-index
  // shape every production retrieval deployment runs: day-1 trains
  // centroids and persists the (vec_id, embedding, cell) assignment
  // table; day-2 admits an embedding increment WITHOUT retraining —
  // new vectors are assigned to the STORED centroids and appended
  // (the standing rows are never touched, never re-shuffled); the
  // recall floor is then re-checked on the grown index with day-2
  // queries, whose hits must include day-1 vectors (the join of old
  // and new data is the point of a maintained index).
  //
  // Output: one row per phase — index size, exact-vs-IVF hits,
  // recall_milli, and how many approximate neighbors came from the
  // day-1 standing set. Fully oracled since r18 (the Lloyd CTE
  // chain trains on the day-1 subset, exactly as cachedDay1Centroids
  // does); the lifecycle properties (index grew, recall floor holds,
  // day-2 queries hit day-1 vectors) stay spec-pinned too.
  //
  // Scale shape: centroid training reads ONLY day-1 (bounded sample);
  // admission is a map-side assignment of the increment (broadcast
  // centroid array, no shuffle of the standing index); the persisted
  // artifacts stand in for the bucketed index tables a 100 TB
  // deployment keeps on storage.
  // -----------------------------------------------------------------
  /** Day-1 centroids for `dir`, trained once per (session, dir). */
  private def cachedDay1Centroids(s: SparkSession, dir: String): Array[Array[Float]] =
    SessionCache.value(s, s"sim:ivf:cent:day1:$dir")(
      trainCentroids(Tables.embeddings(s, dir).filter(col("vec_id") % 10 =!= 0)))

  private def indexMaintain(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val centroids = cachedDay1Centroids(s, dir)
    // day-1 standing index: the persisted assignment table
    val idx1 = SessionCache.get(s, s"sim:ivf:day1:$dir",
      emb.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .withColumn("cell", nearestCell(col("embedding"), centroids)))
    // day-2 admission: assign the increment to the STORED centroids
    // (map-side; no retraining, no standing-row rewrite) and append
    val idx2 = SessionCache.get(s, s"sim:ivf:day2:$dir",
      idx1.unionByName(
        emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id"), col("embedding"))
          .withColumn("cell", nearestCell(col("embedding"), centroids))))
    // day-1 queries come from the standing prefix; day-2 queries are
    // INCREMENT vectors — their neighbors must reach day-1 rows
    val q1 = idx1.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val q2 = emb.filter(col("vec_id") % 10 === 0 &&
        col("vec_id") < 10L * QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

    def phaseRow(phase: String, idx: DataFrame, queries: DataFrame): DataFrame = {
      val approx = ivfSearchFor(idx, centroids, NProbe, queries)
        .select(col("q_id").as("aq"), col("neighbor_id").as("an"))
      val exact = cosineTopK(idx.select("vec_id", "embedding"),
          "vec_id", "embedding",
          queries.select(col("q_id").as("q_id2"), col("q_vec").as("q_vec2")),
          "q_id2", "q_vec2", TopK)
        .select(col("q_id").as("eq"), col("neighbor_id").as("en"))
      val hits = exact
        .join(approx, col("eq") === col("aq") && col("en") === col("an"), "left")
        .agg(count(col("an")).as("n_hits"), count(lit(1)).as("n_exact"))
      val nIdx = idx.agg(count(lit(1)).as("n_indexed"))
      val fromDay1 = approx.filter(col("an") % 10 =!= 0)
        .agg(count(lit(1)).as("n_day1_neighbors"))
      hits.crossJoin(broadcast(nIdx)).crossJoin(broadcast(fromDay1))
        .select(lit(phase).as("phase"), col("n_indexed"),
          col("n_exact"), col("n_hits"),
          floor(lit(1000.0) * col("n_hits") / col("n_exact"))
            .cast("long").as("recall_milli"),
          col("n_day1_neighbors"))
    }
    phaseRow("day1", idx1, q1)
      .unionByName(phaseRow("day2", idx2, q2))
      .orderBy("phase")
  }

  /** The probe+rank half of the IVF pipeline over a cell-`indexed`
    * corpus — nProbe is a parameter so sim_ivf_probe_sweep can walk
    * the recall/cost curve on ONE shared index. */
  private def ivfSearch(
      indexed: DataFrame, centroids: Array[Array[Float]],
      nProbe: Int): DataFrame =
    ivfSearchFor(indexed, centroids, nProbe,
      indexed.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")))

  /** [[ivfSearch]] with an EXPLICIT (q_id, q_vec) query frame — the
    * lifecycle entry probes a grown index with day-2 queries, which
    * are not the default vec_id-prefix set. */
  private def ivfSearchFor(
      indexed: DataFrame, centroids: Array[Array[Float]],
      nProbe: Int, queryFrame: DataFrame): DataFrame = {
    val queries = queryFrame
      .withColumn("cells", probedCells(col("q_vec"), centroids, nProbe))
      .select(col("q_id"), col("q_vec"), explode(col("cells")).as("cell"))
    val cands = indexed.join(broadcast(queries),
        Seq("cell")).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_vec"), col("embedding")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("neighbor_id"),
        floor(col("cos_sim") * lit(1e6)).as("cos_micro"))
  }

  /** Array of the NProbe nearest cell ids for a query vector. Ties
    * rank the SMALLER cell id first (negid trick), matching
    * nearestCell's tiebreak so a vector's own cell is always probed.
    */
  private def probedCells(vec: Column, centroids: Array[Array[Float]],
      nProbe: Int = NProbe): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, lit(c)).as("sim"), lit(-i).as("negid"))
    }: _*)
    transform(slice(reverse(array_sort(scored)), 1, nProbe),
      s => -s.getField("negid"))
  }

  // --- IVF oracles: the full Lloyd chain re-derived in DuckDB ------
  // trainCentroids is order-free by construction (bround half-even
  // per value, exact DECIMAL(28,12) sums, one correctly-rounded
  // double division, float cast — every step bit-identical across
  // engines), so the oracle replays the two Lloyd rounds as an
  // unrolled CTE chain (the cur_bpe_train precedent) and every
  // downstream IVF step is plain relational algebra over identical
  // centroid floats. Valid while |embeddings| <= 2^16 — the
  // trainSample identity regime, which holds at every test SF; past
  // it the oracle would additionally mirror the hash-fraction
  // sample predicate.

  /** CosineSimilarity's exact shape in DuckDB SQL: sequential double
    * fold, denom = sqrt(nx)*sqrt(ny), 0 on zero denom. */
  private def cosSql(a: String, b: String): String = {
    val na = s"sqrt(${dotSql(a, a)})"
    val nb = s"sqrt(${dotSql(b, b)})"
    s"(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE (${dotSql(a, b)}) / ($na * $nb) END)"
  }

  /** nearest-centroid assignment of `src`(vec_id, embedding) against
    * `cent`(cell, c) — cosine DESC, tie → smaller cell, exactly
    * [[nearestCell]]'s struct-max tiebreak. */
  private def asnCte(src: String, cent: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT t.vec_id, t.embedding, c.cell,
       |           row_number() OVER (PARTITION BY t.vec_id
       |             ORDER BY ${cosSql("t.embedding", "c.c")} DESC, c.cell) AS rn
       |    FROM $src t CROSS JOIN $cent c)
       |  WHERE rn = 1
       |)""".stripMargin

  /** one Lloyd mean update: per-(cell, dim) half-even-quantized exact
    * decimal mean cast to float; cells with no members keep `prev`'s
    * centroid (trainCentroids' getOrElse). */
  private def updCte(asnName: String, prev: String, out: String): String =
    s"""${out}_u AS (
       |  SELECT cell, dim,
       |         CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
       |              / COUNT(*) AS REAL) AS x
       |  FROM (SELECT cell, UNNEST(embedding) AS x,
       |               UNNEST(range(0, $Dim)) AS dim FROM $asnName)
       |  GROUP BY cell, dim
       |), $out AS (
       |  SELECT p.cell, COALESCE(u.c, p.c) AS c
       |  FROM $prev p LEFT JOIN (
       |    SELECT cell, list(x ORDER BY dim) AS c FROM ${out}_u GROUP BY cell) u
       |  USING (cell)
       |)""".stripMargin

  /** seeds (vec_id < Cells of the train set, cell = ordinal) + two
    * unrolled Lloyd rounds → `cent2`, plus `idx`: the FULL corpus
    * assigned to the trained centroids. */
  private def ivfIdxCtes(trainWhere: String): String =
    s"""train AS (SELECT vec_id, embedding FROM embeddings WHERE $trainWhere),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS c
       |  FROM train WHERE vec_id < $Cells
       |),
       |${asnCte("train", "cent0", "asn1")},
       |${updCte("asn1", "cent0", "cent1")},
       |${asnCte("train", "cent1", "asn2")},
       |${updCte("asn2", "cent1", "cent2")},
       |${asnCte("embeddings", "cent2", "idx")}""".stripMargin

  /** probed-cell ranking of a (q_id, q_vec) frame against cent2 —
    * [[probedCells]]' tiebreak; callers filter prk <= nProbe. */
  private def probedCte(qSrc: String, out: String): String =
    s"""$out AS (
       |  SELECT q.q_id, q.q_vec, c.cell,
       |         row_number() OVER (PARTITION BY q.q_id
       |           ORDER BY ${cosSql("q.q_vec", "c.c")} DESC, c.cell) AS prk
       |  FROM $qSrc q CROSS JOIN cent2 c
       |)""".stripMargin

  private lazy val ivfAnnOracle: String =
    s"""WITH ${ivfIdxCtes("TRUE")},
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |      WHERE vec_id < $QuerySetSize),
       |${probedCte("q", "pq")},
       |cands AS (
       |  SELECT p.q_id, i.vec_id AS neighbor_id,
       |         ${cosSql("p.q_vec", "i.embedding")} AS cs
       |  FROM idx i JOIN pq p ON i.cell = p.cell AND p.prk <= $NProbe
       |  WHERE i.vec_id <> p.q_id
       |),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cs,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY cs DESC, neighbor_id) AS rk
       |  FROM cands
       |)
       |SELECT q_id, rk, neighbor_id,
       |       CAST(floor(cs * 1e6) AS BIGINT) AS cos_micro
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  private lazy val ivfSweepOracle: String =
    s"""WITH ${ivfIdxCtes("TRUE")},
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |      WHERE vec_id < $QuerySetSize),
       |${probedCte("q", "pq")},
       |exact AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.q_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosSql("q.q_vec", "e.embedding")} DESC, e.vec_id) AS rk
       |    FROM embeddings e CROSS JOIN q
       |    WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= $TopK
       |),
       |nps AS (SELECT UNNEST([${SweepProbes.mkString(", ")}]) AS n_probe),
       |appr AS (
       |  SELECT n_probe, q_id, neighbor_id FROM (
       |    SELECT n.n_probe, p.q_id, i.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY n.n_probe, p.q_id
       |             ORDER BY ${cosSql("p.q_vec", "i.embedding")} DESC, i.vec_id) AS rk
       |    FROM nps n JOIN pq p ON p.prk <= n.n_probe
       |    JOIN idx i ON i.cell = p.cell
       |    WHERE i.vec_id <> p.q_id)
       |  WHERE rk <= $TopK
       |),
       |hits AS (
       |  SELECT a.n_probe, COUNT(*) AS n_hits
       |  FROM appr a JOIN exact e
       |    ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY a.n_probe
       |)
       |SELECT n.n_probe, COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(floor(1000.0 * COALESCE(h.n_hits, 0)
       |            / ${QuerySetSize * TopK}) AS BIGINT) AS recall_milli
       |FROM nps n LEFT JOIN hits h ON h.n_probe = n.n_probe
       |ORDER BY n.n_probe""".stripMargin

  /** sim_ivf_pq fully re-derived in DuckDB (r18): coarse Lloyd chain
    * → FLOAT residuals (REAL−REAL is IEEE-identical across engines,
    * verified on 100k samples) → seeded 2-round residual-codebook
    * Lloyd (bround-half-even decimal means, the trainCentroids
    * convention) → encode → DECIMAL(18,9) ADC with the probe-rank
    * explode — every arm, ceiling, exact ground truth and scan-count
    * from the same relational chain. Valid in the trainSample
    * identity regime (|embeddings| ≤ 2^16, all test SFs).
    */
  private lazy val ivfPqOracle: String = {
    def fold8(elem: String): String =
      s"list_reduce(list_transform(range(1, ${PqDsub + 1}), i -> $elem), (acc, x) -> acc + x)"
    val xx = fold8("CAST(s.x[i] AS DOUBLE) * CAST(s.x[i] AS DOUBLE)")
    val xc = fold8("CAST(s.x[i] AS DOUBLE) * CAST(b.c[i] AS DOUBLE)")
    val cc = fold8("CAST(b.c[i] AS DOUBLE) * CAST(b.c[i] AS DOUBLE)")
    // one Lloyd round: assign every training subvector to its
    // nearest code under `prev`, then half-even decimal means per
    // (sub, code, dim); absent groups keep prev's value
    def round(prev: String, out: String): String =
      s"""${out}_asn AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT s.vec_id, s.sub, b.code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.sub
         |             ORDER BY (($xx) - 2.0 * ($xc)) + ($cc), b.code) AS rn
         |    FROM subs s JOIN ${prev}_vec b USING (sub))
         |  WHERE rn = 1
         |), ${out}_upd AS (
         |  SELECT sub, code, dim,
         |         CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
         |              / COUNT(*) AS REAL) AS val
         |  FROM (SELECT c.sub, c.code, UNNEST(s.x) AS v,
         |               UNNEST(range(0, $PqDsub)) AS dim
         |        FROM ${out}_asn c JOIN subs s
         |          ON s.vec_id = c.vec_id AND s.sub = c.sub)
         |  GROUP BY sub, code, dim
         |), $out AS (
         |  SELECT b.sub, b.code, b.dim, COALESCE(u.val, b.val) AS val
         |  FROM $prev b LEFT JOIN ${out}_upd u
         |    ON u.sub = b.sub AND u.code = b.code AND u.dim = b.dim
         |), ${out}_vec AS (
         |  SELECT sub, code, list(val ORDER BY dim) AS c
         |  FROM $out GROUP BY sub, code
         |)""".stripMargin
    val dotQC = fold8("CAST(qs.q_sub[i] AS DOUBLE) * CAST(b.c[i] AS DOUBLE)")
    val dot64QCent =
      s"list_reduce(list_transform(range(1, ${Dim + 1}), " +
        "i -> CAST(p.q_vec[i] AS DOUBLE) * CAST(c.c[i] AS DOUBLE)), " +
        "(acc, x) -> acc + x)"
    s"""WITH ${ivfIdxCtes("TRUE")},
       |resid AS (
       |  SELECT i.vec_id, i.cell,
       |         list_transform(range(1, ${Dim + 1}),
       |           k -> i.embedding[k] - c.c[k]) AS r
       |  FROM idx i JOIN cent2 c USING (cell)
       |),
       |subs AS (
       |  SELECT vec_id, sub,
       |         r[sub * $PqDsub + 1 : sub * $PqDsub + $PqDsub] AS x
       |  FROM resid, UNNEST(range(0, $PqSub)) t(sub)
       |),
       |books0 AS (
       |  SELECT t.sub, sr.code, u.dim,
       |         sr.r[t.sub * $PqDsub + u.dim + 1] AS val
       |  FROM (SELECT r, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |        FROM (SELECT * FROM resid ORDER BY vec_id LIMIT $PqCodes)) sr,
       |       UNNEST(range(0, $PqSub)) t(sub),
       |       UNNEST(range(0, $PqDsub)) u(dim)
       |),
       |books0_vec AS (
       |  SELECT sub, code, list(val ORDER BY dim) AS c
       |  FROM books0 GROUP BY sub, code
       |),
       |${round("books0", "books1")},
       |${round("books1", "books2")},
       |codesF AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT s.vec_id, s.sub, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.sub
       |             ORDER BY (($xx) - 2.0 * ($xc)) + ($cc), b.code) AS rn
       |    FROM subs s JOIN books2_vec b USING (sub))
       |  WHERE rn = 1
       |),
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |      WHERE vec_id < $QuerySetSize),
       |${probedCte("q", "pq")},
       |qsubs AS (
       |  SELECT q_id, sub,
       |         q_vec[sub * $PqDsub + 1 : sub * $PqDsub + $PqDsub] AS q_sub
       |  FROM q, UNNEST(range(0, $PqSub)) t(sub)
       |),
       |adcterms AS (
       |  SELECT qs.q_id, co.vec_id AS neighbor_id,
       |         CAST(($dotQC) AS DECIMAL(18,9)) AS term
       |  FROM codesF co
       |  JOIN qsubs qs ON qs.sub = co.sub
       |  JOIN books2_vec b ON b.sub = co.sub AND b.code = co.code
       |  WHERE qs.q_id <> co.vec_id
       |),
       |coarse AS (
       |  SELECT p.q_id, i.vec_id AS neighbor_id, p.prk,
       |         CAST(($dot64QCent) AS DECIMAL(18,9)) AS cterm
       |  FROM idx i
       |  JOIN pq p ON p.cell = i.cell AND p.q_id <> i.vec_id
       |  JOIN cent2 c ON c.cell = i.cell
       |),
       |scoredpq AS (
       |  SELECT c.q_id, c.neighbor_id, c.prk,
       |         c.cterm + t.s AS score
       |  FROM coarse c JOIN (
       |    SELECT q_id, neighbor_id, SUM(term) AS s
       |    FROM adcterms GROUP BY q_id, neighbor_id) t
       |    ON t.q_id = c.q_id AND t.neighbor_id = c.neighbor_id
       |),
       |nps AS (SELECT UNNEST([${SweepProbes.mkString(", ")}]) AS n_probe),
       |appr AS (
       |  SELECT n_probe, q_id, neighbor_id FROM (
       |    SELECT n.n_probe, s.q_id, s.neighbor_id,
       |           row_number() OVER (PARTITION BY n.n_probe, s.q_id
       |             ORDER BY s.score DESC, s.neighbor_id) AS rk
       |    FROM scoredpq s JOIN nps n ON s.prk <= n.n_probe)
       |  WHERE rk <= $TopK
       |),
       |ceiling AS (
       |  SELECT q_id, neighbor_id FROM appr WHERE n_probe = $Cells
       |),
       |exact AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.q_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${dotSql("q.q_vec", "e.embedding")} DESC, e.vec_id) AS rk
       |    FROM embeddings e CROSS JOIN q
       |    WHERE e.vec_id <> q.q_id)
       |  WHERE rk <= $TopK
       |),
       |ha AS (
       |  SELECT a.n_probe, COUNT(c.q_id) AS n_hits_adc
       |  FROM appr a LEFT JOIN ceiling c
       |    ON c.q_id = a.q_id AND c.neighbor_id = a.neighbor_id
       |  GROUP BY a.n_probe
       |),
       |he AS (
       |  SELECT a.n_probe, COUNT(e.q_id) AS n_hits_exact
       |  FROM appr a LEFT JOIN exact e
       |    ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY a.n_probe
       |),
       |cellpop AS (SELECT cell, COUNT(*) AS n FROM idx GROUP BY cell),
       |nc AS (
       |  SELECT n.n_probe,
       |         CAST(SUM(cp.n) - $QuerySetSize AS BIGINT) AS n_cands
       |  FROM pq p JOIN nps n ON p.prk <= n.n_probe
       |  JOIN cellpop cp ON cp.cell = p.cell
       |  GROUP BY n.n_probe
       |)
       |SELECT ha.n_probe, nc.n_cands, ha.n_hits_adc,
       |       CAST(floor(1000.0 * ha.n_hits_adc / ${QuerySetSize * TopK}) AS BIGINT)
       |         AS recall_adc_milli,
       |       he.n_hits_exact,
       |       CAST(floor(1000.0 * he.n_hits_exact / ${QuerySetSize * TopK}) AS BIGINT)
       |         AS recall_exact_milli
       |FROM ha JOIN he ON he.n_probe = ha.n_probe
       |JOIN nc ON nc.n_probe = ha.n_probe
       |ORDER BY ha.n_probe""".stripMargin
  }

  private lazy val maintainOracle: String = {
    // approx top-k of `q` probing `idxSrc` (NProbe cells), and the
    // exact top-k on the same index rows — phaseRow's two arms
    def apCte(idxSrc: String, pqSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT p.q_id, i.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY p.q_id
         |             ORDER BY ${cosSql("p.q_vec", "i.embedding")} DESC, i.vec_id) AS rk
         |    FROM $idxSrc i JOIN $pqSrc p ON i.cell = p.cell AND p.prk <= $NProbe
         |    WHERE i.vec_id <> p.q_id)
         |  WHERE rk <= $TopK
         |)""".stripMargin
    def exCte(idxSrc: String, qSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, i.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${cosSql("q.q_vec", "i.embedding")} DESC, i.vec_id) AS rk
         |    FROM $idxSrc i CROSS JOIN $qSrc q
         |    WHERE i.vec_id <> q.q_id)
         |  WHERE rk <= $TopK
         |)""".stripMargin
    def phaseSel(name: String, idxSrc: String, ap: String, ex: String): String =
      s"""SELECT '$name' AS phase,
         |       (SELECT COUNT(*) FROM $idxSrc) AS n_indexed,
         |       (SELECT COUNT(*) FROM $ex) AS n_exact,
         |       (SELECT COUNT(*) FROM $ap a JOIN $ex e
         |          ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id) AS n_hits,
         |       (SELECT COUNT(*) FROM $ap WHERE neighbor_id % 10 <> 0)
         |         AS n_day1_neighbors""".stripMargin
    s"""WITH ${ivfIdxCtes("vec_id % 10 <> 0")},
       |idx1 AS (SELECT * FROM idx WHERE vec_id % 10 <> 0),
       |q1 AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |       WHERE vec_id % 10 <> 0 AND vec_id < $QuerySetSize),
       |q2 AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       |       WHERE vec_id % 10 = 0 AND vec_id < ${10L * QuerySetSize}),
       |${probedCte("q1", "pq1")},
       |${probedCte("q2", "pq2")},
       |${apCte("idx1", "pq1", "ap1")},
       |${exCte("idx1", "q1", "ex1")},
       |${apCte("idx", "pq2", "ap2")},
       |${exCte("idx", "q2", "ex2")},
       |phases AS (
       |  ${phaseSel("day1", "idx1", "ap1", "ex1")}
       |  UNION ALL
       |  ${phaseSel("day2", "idx", "ap2", "ex2")}
       |)
       |SELECT phase, n_indexed, n_exact, n_hits,
       |       CAST(floor(1000.0 * n_hits / n_exact) AS BIGINT) AS recall_milli,
       |       n_day1_neighbors
       |FROM phases ORDER BY phase""".stripMargin
  }

  // --- sim_ivf_pq: IVF cells × PQ residual codes (IndexIVFPQ) ------
  // The production 100 TB ANN layout (Jégou et al. §IV): vectors are
  // coarse-quantized into IVF cells, the RESIDUAL (vector − its cell
  // centroid) is PQ-encoded, and a query ADC-scans only its probed
  // cells. The stored index is (vec_id, cell, 8 codes) — the 64×
  // memory cut of sim_pq_adc plus the |probed|/|corpus| scan cut of
  // sim_ivf_ann; score(q, x) decomposes exactly as
  //   dot(q, x) = dot(q, centroid[cell]) + dot(q, residual)
  //             ≈ dot(q, centroid[cell]) + Σ_sub dot(q_sub, codebook[sub][code])
  // (inner-product ADC; each term rounded to DECIMAL(18,9) before
  // the sum — the pqScore convention, exact and order-free).
  //
  // Output: the deployment's probe sweep — recall vs the exhaustive
  // ADC scan (the PQ ceiling: same scoring metric, full corpus) and
  // vs the exact dot-product top-k. Against the ADC ceiling recall
  // is provably monotone in nProbe and EXACTLY 1000 at
  // nProbe == Cells (candidates = whole corpus ⇒ identical ranking
  // by construction); against exact top-k the Cells row isolates
  // pure quantization error. Fully oracled since r18 (residual
  // Lloyd chain + DECIMAL ADC re-derived in DuckDB, ivfPqOracle);
  // the curve properties stay spec-pinned too.
  //
  // Scale shape: training reads a bounded sample; encoding is a
  // per-row projection (codes travel with the row, no shuffle); the
  // code table is a session artifact (the persisted-index pattern of
  // sim_index_maintain); queries broadcast; the rk<=k window runs on
  // |probed-cell candidates| only.
  // -----------------------------------------------------------------
  private def ivfPqCentroids(s: SparkSession, dir: String): Array[Array[Float]] =
    SessionCache.value(s, s"sim:ivfpq:cent:$dir")(
      trainCentroids(Tables.embeddings(s, dir)))

  private def centMatCol(centroids: Array[Array[Float]]): Column =
    array(centroids.map(c => array(c.map(lit): _*)): _*)

  /** residual = vector − its assigned cell's centroid (float math —
    * deterministic elementwise subtraction, no accumulation) */
  private def residOf(vec: Column, cell: Column,
      centroids: Array[Array[Float]]): Column =
    zip_with(vec, element_at(centMatCol(centroids), cell + 1), (x, c) => x - c)

  /** Residual-space codebooks, Lloyd-trained (2 rounds) per subspace
    * — unlike sim_pq_adc's seed-only codebooks, this entry trains
    * for real, the way a deployed IndexIVFPQ does: initialize from
    * the first PqCodes residuals, then twice re-assign + re-center
    * (and since r18 the trained chain is STILL fully oracled — the
    * bround-half-even decimal means are bit-identical in DuckDB). Each round is one bounded pass (the
    * means collect is ≤ PqSub·PqCodes·PqDsub = 1024 rows on the
    * driver); exact-decimal sums keep the centroids order-free, so
    * codes are deterministic run to run. Cached per (session, dir).
    * Stored as PqCodes full-width vectors whose [[seedSub]] slices
    * are the per-subspace centroids (subspaces are independent). */
  private def ivfPqSeeds(
      s: SparkSession, dir: String,
      centroids: Array[Array[Float]]): Array[Array[Float]] =
    SessionCache.value(s, s"sim:ivfpq:seeds:$dir") {
      // codebooks train on the bounded sample (identity at test SFs;
      // ≤2^16 rows at any scale — the same contract as the coarse
      // quantizer's trainCentroids): Lloyd cost stays
      // O(sample × codes × dim) however large the corpus, and only
      // the one-pass ENCODE in ivfPqIndex ever touches all rows
      val resid = trainSample(
          Tables.parallelized(Tables.embeddings(s, dir)), 1L << 16)
        .withColumn("cell", nearestCell(col("embedding"), centroids))
        .select(col("vec_id"),
          residOf(col("embedding"), col("cell"), centroids).as("resid"))
        .persist()
      try {
        // init from the PqCodes smallest sampled ids (== the first
        // PqCodes corpus rows in the identity regime; a plain
        // vec_id < PqCodes filter would under-fill the codebook when
        // the at-scale sample drops some low ids)
        var books: Array[Array[Float]] =
          resid.orderBy("vec_id").limit(PqCodes).collect()
            .map(_.getAs[scala.collection.Seq[Float]]("resid").toArray)
        (0 until 2).foreach { _ =>
          val bk = books
          def codeCol(sub: Int): Column = {
            val x = pqSubCol(col("resid"), sub)
            val xx = graft.functions.dot_product(x, x)
            val dists = array((0 until PqCodes).map { c =>
              val cent = seedSub(bk, sub, c)
              val cc = cent.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble)
              (xx - lit(2.0) * graft.functions.dot_product(
                x, array(cent.map(lit): _*))) + lit(cc)
            }: _*)
            (array_position(dists, array_min(dists)) - 1).cast("int")
          }
          val perSub = explode(array((0 until PqSub).map(sb =>
            struct(lit(sb).as("sub"), codeCol(sb).as("code"),
              pqSubCol(col("resid"), sb).as("x"))): _*))
          val means = resid.select(perSub.as("e"))
            .select(col("e.sub"), col("e.code"),
              posexplode(col("e.x")).as(Seq("dim", "v")))
            .groupBy("sub", "code", "dim")
            // bround half-even before the exact decimal sum — the
            // trainCentroids convention (r18), which is what lets a
            // DuckDB oracle re-derive the codebooks bit-identically
            .agg((sum(bround(col("v").cast("double"), 12)
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
              .cast("double") / count(lit(1))).as("m"))
            .collect()
          val next = books.map(_.clone())
          means.foreach { r =>
            next(r.getInt(1))(r.getInt(0) * PqDsub + r.getInt(2)) =
              r.getDouble(3).toFloat
          }
          books = next
        }
        books
      } finally resid.unpersist()
    }

  private def seedSub(seeds: Array[Array[Float]], sub: Int, code: Int): Array[Float] =
    seeds(code).slice(sub * PqDsub, (sub + 1) * PqDsub)

  /** The stored IVFPQ index: (vec_id, cell, c0..c7) — built once per
    * session, read by every probe (the index TABLE a deployment
    * keeps; rebuild cost is sim_pq_adc/sim_ivf_ann's measured half). */
  private def ivfPqIndex(
      s: SparkSession, dir: String,
      centroids: Array[Array[Float]],
      seeds: Array[Array[Float]]): DataFrame =
    SessionCache.get(s, s"sim|$dir|ivfpq_index", {
      def centNormSq(sub: Int, code: Int): Double =
        seedSub(seeds, sub, code).foldLeft(0.0)((acc, v) => acc + v.toDouble * v.toDouble)
      def codeCol(resid: Column, sub: Int): Column = {
        val x = pqSubCol(resid, sub)
        val xx = graft.functions.dot_product(x, x)
        val dists = array((0 until PqCodes).map { c =>
          (xx - lit(2.0) * graft.functions.dot_product(
            x, array(seedSub(seeds, sub, c).map(lit): _*))) + lit(centNormSq(sub, c))
        }: _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
      val withCell = Tables.parallelized(Tables.embeddings(s, dir))
        .withColumn("cell", nearestCell(col("embedding"), centroids))
        .withColumn("resid", residOf(col("embedding"), col("cell"), centroids))
      withCell.select(
        (col("vec_id") +: col("cell") +: (0 until PqSub).map(sb =>
          codeCol(col("resid"), sb).as(s"c$sb"))): _*)
    })

  private def ivfPq(s: SparkSession, dir: String): DataFrame = {
    val centroids = ivfPqCentroids(s, dir)
    val seeds = ivfPqSeeds(s, dir, centroids)
    val index = ivfPqIndex(s, dir, centroids, seeds)
    val queries = Tables.embeddings(s, dir).filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def dec9(c: Column): Column =
      c.cast(org.apache.spark.sql.types.DecimalType(18, 9))
    // ALL five probe arms ride ONE plan: each query's 16 cells carry
    // their probe RANK (probedCells over every cell — the same
    // cosine ordering every arm shares), candidates score once, and
    // a candidate at cell-rank r explodes to exactly the arms with
    // nProbe >= r — the union of the five candidate sets with zero
    // re-scoring. One window over (q_id, n_probe) ranks every arm in
    // one pass. The first cut of this entry ran one plan per arm +
    // ground truths (12 driver plans, each carrying the 16×64-float
    // centroid matrix and 8×16×8 codebook literals) and spent its
    // wall on ANALYSIS/codegen, not tasks — measured 11.6 s wall vs
    // ~1.2 s of task time at sf0.1.
    val armsLit = array(SweepProbes.map(lit): _*)
    val cellRanked = queries.select(col("q_id"), col("q_vec"),
        posexplode(probedCells(col("q_vec"), centroids, Cells))
          .as(Seq("rank0", "cell")))
      .withColumn("rank", col("rank0") + 1).drop("rank0")
    val coarse = dec9(graft.functions.dot_product(
      col("q_vec"), element_at(centMatCol(centroids), col("cell") + 1)))
    val terms = (0 until PqSub).map { sb =>
      val centForCode = element_at(
        array((0 until PqCodes).map(c =>
          array(seedSub(seeds, sb, c).map(lit): _*)): _*), col(s"c$sb") + 1)
      dec9(graft.functions.dot_product(pqSubCol(col("q_vec"), sb), centForCode))
    }
    val armed = index.join(broadcast(cellRanked), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        (coarse +: terms).reduce(_ + _).as("score"))
      .select(col("q_id"), col("neighbor_id"), col("score"),
        explode(filter(armsLit, np => np >= col("rank"))).as("n_probe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"), col("n_probe"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val ranked = armed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("n_probe"), col("q_id"), col("neighbor_id")).persist()
    // exact dot top-k ground truth (full-precision, full corpus)
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val exact = {
      val scored = emb.join(broadcast(queries), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          graft.functions.dot_product(col("q_vec"), col("embedding")).as("sc"))
      val we = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sc").desc, col("neighbor_id"))
      scored.withColumn("rk", row_number().over(we)).filter(col("rk") <= TopK)
        .select(col("q_id").as("eq"), col("neighbor_id").as("en"))
    }
    try {
      // the nProbe == Cells slice IS the exhaustive-ADC ceiling
      val ceiling = ranked.filter(col("n_probe") === Cells)
        .select(col("q_id").as("fq"), col("neighbor_id").as("fn"))
      val hitsAdc = ranked.join(ceiling,
          col("q_id") === col("fq") && col("neighbor_id") === col("fn"), "left")
        .groupBy("n_probe").agg(count(col("fn")).as("n_hits_adc"))
      val hitsExact = ranked.join(exact,
          col("q_id") === col("eq") && col("neighbor_id") === col("en"), "left")
        .groupBy(col("n_probe").as("np2")).agg(count(col("en")).as("n_hits_exact"))
      // candidates scanned per probe width — the |probed|/|corpus|
      // scan cut that is the POINT of IVF. Derived from the 16-row
      // per-cell population table, NOT a rescan of the code table:
      // candidates = Σ |probed cell| minus the query's self-row (its
      // own cell is always first-probed — probedCells shares
      // nearestCell's tiebreak)
      val cellPop = index.groupBy("cell").agg(count(lit(1)).as("n"))
      val nCands = cellRanked.join(broadcast(cellPop), Seq("cell"))
        .select(col("q_id"), col("n"),
          explode(filter(armsLit, np => np >= col("rank"))).as("n_probe"))
        .groupBy(col("n_probe").as("np3"))
        .agg((sum(col("n")) - lit(QuerySetSize)).as("n_cands"))
      hitsAdc
        .join(hitsExact, col("n_probe") === col("np2"))
        .join(nCands, col("n_probe") === col("np3"))
        .select(col("n_probe"), col("n_cands"), col("n_hits_adc"),
          floor(lit(1000.0) * col("n_hits_adc") / lit(QuerySetSize * TopK))
            .cast("long").as("recall_adc_milli"),
          col("n_hits_exact"),
          floor(lit(1000.0) * col("n_hits_exact") / lit(QuerySetSize * TopK))
            .cast("long").as("recall_exact_milli"))
        .orderBy("n_probe")
        .localCheckpoint()
    } finally ranked.unpersist()
  }

  // --- int8 scalar quantization + integer-dot retrieval -----------
  // The memory-bound scale path: unit-normalize each vector, snap
  // every component to a 255-step integer grid (int8 range), rank
  // neighbors by the INTEGER dot product (≈ cosine × 127²). 4× less
  // vector memory/bandwidth at search time, and — because the
  // quantized components and their dot products are exact small
  // integers — the whole retrieval is integer arithmetic with a
  // bit-exact DuckDB oracle (no FP ranking anywhere). Components are
  // STORED as floats holding integer values so the codegen'd native
  // DotProduct expression does the scoring (products ≤ 64·127² stay
  // exact in doubles).
  private val QBits = 127.0

  /** unit-normalize then quantize to the int8 grid; zero vectors
    * quantize to zero. The norm rides the NATIVE dot_product
    * expression (codegen'd tight loop) — the interpreted
    * `aggregate` fold here cost 6× on the sf1 corpus scan; the
    * accumulation order is identical, so quantized grids (and the
    * oracle hashes) are bit-for-bit unchanged. */
  def quantizeUnit(vec: Column): Column = {
    val norm = sqrt(graft.functions.dot_product(vec, vec))
    val s = when(norm === 0.0, lit(0.0)).otherwise(lit(QBits) / norm)
    transform(vec, x => floor(x.cast("double") * s + lit(0.5)).cast("float"))
  }

  private def quantized(s: SparkSession, dir: String): DataFrame =
    int8TopK(quantizedCorpus(s, dir))

  /** The int8 corpus table — the stored artifact of the 4× cut;
    * sim_quantized re-quantizes per run (build+query entry),
    * sim_recall_eval reads it through [[SessionCache]]. */
  private def quantizedCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.embeddings(s, dir))
      .select(col("vec_id"), quantizeUnit(col("embedding")).as("qvec"))

  private def int8TopK(emb: DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id"), col("qvec").as("q_qvec"))
    val scored = emb.join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        graft.functions.dot_product(col("q_qvec"), col("qvec"))
          .cast("long").as("qdot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("q_id"), col("rk"), col("neighbor_id"), col("qdot"))
      .orderBy("q_id", "rk")
  }

  // SQL twin of [[quantizeUnit]]: quantize once per vector in a CTE,
  // then rank by the exact-integer dot of quantized components.
  private lazy val quantizedOracle: String =
    s"""WITH norms AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Dim + 1}),
       |           i -> floor(CAST(embedding[i] AS DOUBLE) *
       |                (CASE WHEN nrm = 0 THEN 0.0 ELSE $QBits / nrm END) + 0.5)) AS q
       |  FROM norms
       |), scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         CAST(list_reduce(list_transform(range(1, ${Dim + 1}),
       |                i -> c.q[i] * q.q[i]), (acc, x) -> acc + x) AS BIGINT) AS qdot
       |  FROM qv c JOIN qv q ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT q_id, neighbor_id, qdot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS rk
       |  FROM scored
       |)
       |SELECT q_id, rk, neighbor_id, qdot
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // --- two-stage retrieval: quantized filter → exact rerank -------
  // The production retrieval shape at 100 TB: a CHEAP first pass
  // (int8 integer dot, 4× less memory bandwidth) scans the corpus and
  // keeps a candidate pool per query; the EXPENSIVE exact cosine then
  // touches only |queries| × pool vectors — full precision cost is
  // decoupled from corpus size. Both stages are deterministic
  // (integer stage-1 scores, bit-identical double stage-2 folds), so
  // the final ranking is fully oracle-checkable.
  private val RerankPool = 20

  /** Parametric two-stage retrieval — library-surface form of
    * sim_rerank. Stage 1 quantizes both sides and scans the corpus
    * with the integer dot product (queries broadcast; the corpus
    * never shuffles), keeping a `pool`-sized candidate set per
    * query; stage 2 computes exact double cosine only on the pool.
    * Query columns (qIdCol, qVecCol) must not collide with corpus
    * names.
    *
    * Shuffle shape: the stage-1 rows carry both full-precision
    * vectors (q_vec + the corpus embedding), but the `rk <= pool`
    * predicate over the rank window plans a WindowGroupLimit, whose
    * PARTIAL mode prunes each map partition to its top-`pool` rows
    * per query BEFORE the q_id exchange — so the shuffle moves at
    * most partitions × pool × |queries| vector-bearing rows, bounded
    * and independent of corpus size. (Without that pruning this
    * would shuffle the whole corpus per query and the vectors would
    * have to be re-joined after pooling instead.)
    */
  def quantizedRerankTopK(
      corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      pool: Int, k: Int): DataFrame = {
    val qemb = corpus.select(col(idCol), col(embCol),
      quantizeUnit(col(embCol)).as("__qvec"))
    val qside = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"),
      quantizeUnit(col(qVecCol)).as("__q_qvec"))
    // stage 1: integer dot product over the quantized corpus
    val scored = qemb.join(broadcast(qside), col("q_id") =!= col(idCol))
      .select(col("q_id"), col("q_vec"),
        col(idCol).as("neighbor_id"), col(embCol),
        graft.functions.dot_product(col("__q_qvec"), col("__qvec"))
          .cast("long").as("qdot"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    val pooled = scored.withColumn("prk", row_number().over(w1))
      .filter(col("prk") <= pool)
    // stage 2: exact full-precision cosine on the pool only
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pooled
      .withColumn("cos_sim", cosine(col("q_vec"), col(embCol)))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("neighbor_id"),
        floor(col("cos_sim") * lit(1e6)).as("cos_micro"))
      .orderBy("q_id", "rk")
  }

  private def rerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val queries = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("qv_id"), col("embedding").as("qv_vec"))
    quantizedRerankTopK(emb, "vec_id", "embedding",
      queries, "qv_id", "qv_vec", RerankPool, TopK)
  }

  // Oracle: quantized CTE → integer-dot pool of RerankPool → exact
  // double cosine rerank, mirroring both stages' tiebreaks.
  private lazy val rerankOracle: String =
    s"""WITH norms AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id, embedding,
       |         list_transform(range(1, ${Dim + 1}),
       |           i -> floor(CAST(embedding[i] AS DOUBLE) *
       |                (CASE WHEN nrm = 0 THEN 0.0 ELSE $QBits / nrm END) + 0.5)) AS q
       |  FROM norms
       |), scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         q.embedding AS q_emb, c.embedding AS c_emb,
       |         CAST(list_reduce(list_transform(range(1, ${Dim + 1}),
       |                i -> c.q[i] * q.q[i]), (acc, x) -> acc + x) AS BIGINT) AS qdot
       |  FROM qv c JOIN qv q ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), pool AS (
       |  SELECT * FROM (
       |    SELECT q_id, neighbor_id, q_emb, c_emb,
       |           row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS prk
       |    FROM scored)
       |  WHERE prk <= $RerankPool
       |), exact AS (
       |  SELECT q_id, neighbor_id, ${cosCte("c_emb", "q_emb")}
       |  FROM pool
       |), cos AS (
       |  SELECT q_id, neighbor_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM exact
       |), ranked AS (
       |  SELECT q_id, neighbor_id, cs,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rk
       |  FROM cos
       |)
       |SELECT q_id, rk, neighbor_id, CAST(floor(cs * 1e6) AS BIGINT) AS cos_micro
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // --- embedding-cosine near-duplicate pairs ---

  /** Near-duplicate (id_a, id_b, cos_micro) pairs by LSH-signature
    * blocking + exact cosine verification. Library-surface form of
    * dedup_embedding. Signature buckets holding more than `maxBucket`
    * vectors are dropped before the self-join — the same skew guard
    * as [[MaxBucketAnn]] in lshAnn: a degenerate bucket (all-identical
    * embeddings, zero vectors) would make the self-join quadratic in
    * the bucket size. The count is a window over the sig partition, so
    * it rides the join's own hash exchange (both join inputs are the
    * identical subtree — ONE Exchange, the other side a
    * ReusedExchange; the Planes×dim signature projection runs once per
    * row). The self-join is pinned to shuffle-hash: Catalyst's
    * compressed-size estimate would otherwise broadcast the entire
    * corpus as the build side — duplicating the sig+window subtree
    * and, at scale, putting the whole corpus in every executor — and
    * sort-merge would add two join sorts the hash join doesn't need
    * (measured: SHJ 0.71s vs BHJ-one-sided 0.86s vs SMJ 1.4s at
    * sf0.1; the uncapped floor is 0.59s). Per-partition SHJ build
    * state is bounded by the bucket cap + AQE skew splitting. (The
    * first cut was a groupBy + broadcast-join-back; that re-evaluated
    * the uncached signature subtree ~4× — measured 2.5× wall. Same
    * lesson as [[Dedup.minhashPairs]]'s guard.) Degenerate mass is
    * exact-dup territory: catch it with a hash groupBy on the raw
    * vector bytes, not a pairwise join.
    */
  def embeddingDedupPairs(
      corpus: DataFrame, idCol: String, embCol: String, dim: Int,
      threshold: Double, maxBucket: Int = MaxBucketAnn): DataFrame = {
    val sigs = corpus.select(col(idCol), col(embCol),
      signature(col(embCol), dim).as("sig"))
    CandidatePairs.cappedBandSelfJoin(
      sigs, idCol, Seq("sig"), maxBucket, pinShuffleHash = true)
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"),
        cosine(col(s"a.$embCol"), col(s"b.$embCol")).as("cs"))
      .filter(col("cs") > threshold)
      .select(col("vec_a"), col("vec_b"),
        floor(col("cs") * lit(1e6)).as("cos_micro"))
  }

  /** Duplicate universe for the embedding-dedup queries: embeddings
    * ∪ jittered copies (deterministic ×1.001 scale) of every 10th
    * vector — near-dups the operators must find. Shared with
    * cur_semdedup.
    */
  private[operators] def embeddingDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val mutants = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    emb.unionAll(mutants)
  }

  private def embeddingDedup(s: SparkSession, dir: String): DataFrame =
    embeddingDedupPairs(embeddingDedupCorpus(s, dir),
      "vec_id", "embedding", dim = 64, threshold = 0.995)
      .orderBy("vec_a", "vec_b")

  // --- DuckDB oracles ---------------------------------------------
  // The oracle mirrors the expression arithmetic EXACTLY: left-to-
  // right double folds (DuckDB list_reduce == the expression's while
  // loop), denom = sqrt(nx)*sqrt(ny), score exported as
  // floor(cos*1e6) which is exact on bit-identical doubles.

  private val Dim = 64

  private def foldSql(elem: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> $elem), (acc, x) -> acc + x)"

  // --- sim_mmr: Maximal Marginal Relevance diversified retrieval --
  // Carbonell & Goldstein 1998: after the top-1 by pure relevance,
  // each next slot goes to the candidate maximizing
  //   λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)
  // — the standard de-redundancy rerank for retrieval-augmented
  // selection (a near-duplicate of an already-chosen doc scores
  // low however relevant). λ = 0.7 is applied as the integer pair
  // (7, 3) over the floor-micro cosine grid, so every MMR score,
  // comparison, and tie-break is EXACT integer arithmetic — no
  // cross-engine FP concern anywhere past the (already bit-stable)
  // cosine fold. Scale shape: the pool is |queries|·poolK rows and
  // the pairwise-sim table |queries|·poolK² — both bounded and
  // persisted once (the corpus itself never re-shuffles past the
  // cosineTopK scan); each greedy step is one bounded join + one
  // per-query window argmax, selK−1 steps total, with the growing
  // selection localCheckpoint'ed so plans stay one step deep.
  private val MmrPool = 20
  private val MmrK = 5
  // Driver greedy engages only when the persisted pool (|queries|·poolK
  // rows; counted, never estimated) fits trivially: 2^16 rows of three
  // longs ≈ 1.5 MB, pairwise sims ≤ poolK× that. Beyond it, the
  // distributed per-step loop runs — same tie-breaks, same answer.
  private val MmrDriverPoolMax = 1L << 16

  /** MMR-diversified top-`selK` per query from a `poolK` cosine
    * pool. Returns (q_id, pos, cand_id, rel_micro, mmr_micro) —
    * mmr_micro NULL at pos=1 (pure-relevance seed). */
  def mmrSelect(
      corpus: DataFrame, idCol: String, embCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      poolK: Int, selK: Int): DataFrame = {
    val pool = cosineTopK(corpus, idCol, embCol, queries, qIdCol, qVecCol, poolK)
      .select(col("q_id"), col("neighbor_id"), col("cos_micro").as("rel_micro"))
      .persist()
    val nPool = pool.count() // bounded: |queries|·poolK
    val vecs = corpus.select(col(idCol).as("vid"), col(embCol).as("v"))
    val sims = pool.select(col("q_id"), col("neighbor_id").as("a_id"))
      .join(pool.select(col("q_id"), col("neighbor_id").as("b_id")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .join(vecs.select(col("vid").as("a_id"), col("v").as("va")), "a_id")
      .join(vecs.select(col("vid").as("b_id"), col("v").as("vb")), "b_id")
      .select(col("q_id"), col("a_id"), col("b_id"),
        floor(cosine(col("va"), col("vb")) * lit(1e6)).as("sim_micro"))
      .persist()
    sims.count() // bounded: |queries|·poolK²
    // Greedy rounds. Two shapes, same answer:
    //  - DRIVER-BOUNDED (the repo's DriverQuotientMax pattern): the
    //    greedy state is ≤ |queries|·poolK relevances + |queries|·poolK²
    //    pairwise sims — both already persisted and counted. Under
    //    MmrDriverPoolMax that is at most ~1.3M tiny integer rows, so
    //    the selK−1 rounds collapse into a pure in-memory integer scan
    //    (exact same λ=(7,3) long arithmetic, exact same desc/asc
    //    tie-breaks) instead of selK−1 join+window+checkpoint jobs of
    //    stage floor.
    //  - DISTRIBUTED (above the cap, or any null id/score): the
    //    original bounded per-step loop, unchanged.
    if (nPool <= MmrDriverPoolMax) {
      val poolRows = pool.orderBy("q_id", "neighbor_id").collect()
      val simRows = sims.collect()
      val anyNull =
        poolRows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) ||
          simRows.exists(r => r.anyNull)
      if (!anyNull) {
        val simOf = new scala.collection.mutable.HashMap[(Any, Any, Any), Long]
        simRows.foreach(r => simOf((r.get(0), r.get(1), r.get(2))) = r.getLong(3))
        // candidates per query, a_id-ascending (the collect's sort) —
        // a strictly-greater argmax scan over that order IS the
        // window's (score DESC, id ASC) tie-break.
        val byQ = scala.collection.mutable.LinkedHashMap
          .empty[Any, scala.collection.mutable.ArrayBuffer[(Any, Long)]]
        poolRows.foreach { r =>
          byQ.getOrElseUpdate(r.get(0),
            scala.collection.mutable.ArrayBuffer.empty) += ((r.get(1), r.getLong(2)))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        byQ.foreach { case (q, cands) =>
          var bi = 0
          var i = 1
          while (i < cands.length) {
            if (cands(i)._2 > cands(bi)._2) bi = i
            i += 1
          }
          out += Row(q, 1, cands(bi)._1, cands(bi)._2, null)
          val chosen = scala.collection.mutable.ArrayBuffer[Any](cands(bi)._1)
          val used = scala.collection.mutable.BitSet(bi)
          var pos = 2
          while (pos <= selK && used.size < cands.length) {
            var bestIdx = -1
            var bestMmr = Long.MinValue
            var j = 0
            while (j < cands.length) {
              if (!used(j)) {
                val (aid, rel) = cands(j)
                var ms = Long.MinValue
                chosen.foreach { b =>
                  val v = simOf((q, aid, b)); if (v > ms) ms = v
                }
                val m = 7L * rel - 3L * ms
                if (m > bestMmr) { bestMmr = m; bestIdx = j }
              }
              j += 1
            }
            out += Row(q, pos, cands(bestIdx)._1, cands(bestIdx)._2, bestMmr)
            chosen += cands(bestIdx)._1
            used += bestIdx
            pos += 1
          }
        }
        val qf = pool.schema("q_id")
        val nf = pool.schema("neighbor_id")
        val rf = pool.schema("rel_micro")
        val sch = org.apache.spark.sql.types.StructType(Seq(
          qf,
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          nf.copy(name = "cand_id"),
          rf,
          org.apache.spark.sql.types.StructField("mmr_micro",
            org.apache.spark.sql.types.LongType, nullable = true)))
        pool.unpersist(); sims.unpersist()
        import scala.jdk.CollectionConverters._
        return corpus.sparkSession.createDataFrame(out.asJava, sch)
          .orderBy("q_id", "pos")
      }
    }
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rel_micro").desc, col("neighbor_id"))
    // Greedy state: ONLY `selected` (≤ |queries|·selK rows) is
    // localCheckpoint'ed per step — one bounded job each, keeping
    // every step's plan one fold deep (a fully lazy chain re-expands
    // the step recursion combinatorially: measured 25.9s vs 2s at
    // sf0.1). `remaining` derives lazily as pool ∖ selected.
    var selected = pool.withColumn("rk", row_number().over(w1))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("neighbor_id"), lit(1).as("pos"),
        col("rel_micro"), lit(null).cast("long").as("mmr_micro"))
      .localCheckpoint()
    def remaining = pool.join(
      selected.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_anti")
    for (i <- 2 to selK) {
      val picked = remaining
        .select(col("q_id"), col("neighbor_id").as("a_id"), col("rel_micro"))
        .join(selected.select(col("q_id"), col("neighbor_id").as("b_id")), "q_id")
        .join(sims, Seq("q_id", "a_id", "b_id"))
        .groupBy("q_id", "a_id", "rel_micro")
        .agg(max("sim_micro").as("max_sim"))
        .withColumn("mmr_micro",
          lit(7L) * col("rel_micro") - lit(3L) * col("max_sim"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("mmr_micro").desc, col("a_id"))))
        .filter(col("rk") === 1)
        .select(col("q_id"), col("a_id").as("neighbor_id"), lit(i).as("pos"),
          col("rel_micro"), col("mmr_micro"))
      selected = selected.unionByName(picked).localCheckpoint()
    }
    pool.unpersist(); sims.unpersist()
    selected
      .select(col("q_id"), col("pos"), col("neighbor_id").as("cand_id"),
        col("rel_micro"), col("mmr_micro"))
      .orderBy("q_id", "pos")
  }

  private def mmr(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(s, dir))
    val queries = emb.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("q_id2"), col("embedding").as("q_vec"))
    mmrSelect(emb, "vec_id", "embedding", queries, "q_id2", "q_vec",
      MmrPool, MmrK)
  }

  private lazy val mmrOracle: String = {
    val steps = (2 to MmrK).map { n =>
      s"""cand$n AS (
         |  SELECT p.q_id, p.cand_id, p.rel, 7 * p.rel - 3 * m.msim AS mmr
         |  FROM pool p
         |  JOIN (SELECT s.q_id, s.a_id, max(s.sim) AS msim
         |        FROM sims s JOIN all${n - 1} t
         |          ON t.q_id = s.q_id AND t.cand_id = s.b_id
         |        GROUP BY 1, 2) m
         |    ON m.q_id = p.q_id AND m.a_id = p.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM all${n - 1} t
         |                    WHERE t.q_id = p.q_id AND t.cand_id = p.cand_id)),
         |sel$n AS (
         |  SELECT q_id, cand_id, rel, mmr, $n AS pos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY mmr DESC, cand_id) AS rk FROM cand$n)
         |  WHERE rk = 1),
         |all$n AS (SELECT q_id, cand_id FROM all${n - 1}
         |          UNION ALL SELECT q_id, cand_id FROM sel$n)""".stripMargin
    }.mkString(",\n")
    val union = (1 to MmrK).map(n => s"SELECT * FROM sel$n")
      .mkString("\nUNION ALL\n")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |         ${cosCte("q.embedding", "c.embedding")}
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), cos AS (
       |  SELECT q_id, cand_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM scored
       |), pool AS (
       |  SELECT q_id, cand_id, CAST(floor(cs * 1e6) AS BIGINT) AS rel FROM (
       |    SELECT q_id, cand_id, cs,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, cand_id) AS rk
       |    FROM cos)
       |  WHERE rk <= $MmrPool
       |), pairs AS (
       |  SELECT a.q_id, a.cand_id AS a_id, b.cand_id AS b_id,
       |         ${cosCte("ea.embedding", "eb.embedding")}
       |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.cand_id <> b.cand_id
       |  JOIN embeddings ea ON ea.vec_id = a.cand_id
       |  JOIN embeddings eb ON eb.vec_id = b.cand_id
       |), sims AS (
       |  SELECT q_id, a_id, b_id,
       |         CAST(floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END) * 1e6) AS BIGINT) AS sim
       |  FROM pairs
       |), sel1 AS (
       |  SELECT q_id, cand_id, rel, CAST(NULL AS BIGINT) AS mmr, 1 AS pos FROM (
       |    SELECT q_id, cand_id, rel,
       |           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, cand_id) AS rk
       |    FROM pool)
       |  WHERE rk = 1),
       |all1 AS (SELECT q_id, cand_id FROM sel1),
       |$steps
       |SELECT q_id, pos, cand_id, rel AS rel_micro, mmr AS mmr_micro
       |FROM ($union) ORDER BY q_id, pos""".stripMargin
  }

  private def dotSql(a: String, b: String): String =
    foldSql(s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")

  private def cosCte(a: String, b: String): String =
    s"""${dotSql(a, b)} AS dot,
       |sqrt(${dotSql(a, a)}) AS na,
       |sqrt(${dotSql(b, b)}) AS nb""".stripMargin

  /** The ±1 hyperplane signature, with the plane components inlined
    * as SQL literals (they are plan-time constants derived from
    * md5(plane:dim) parity — same values [[planeCol]] ships).
    */
  private def sigSqlExpr(vec: String): String =
    (0 until Planes).map { p =>
      val plane = (0 until Dim).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) "1.0" else "-1.0"
      }.mkString("[", ", ", "]")
      val proj = foldSql(s"CAST($vec[i] AS DOUBLE) * ($plane)[i]")
      s"(CASE WHEN $proj > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  private lazy val topkOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         ${cosCte("c.embedding", "q.embedding")}
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), cos AS (
       |  SELECT q_id, neighbor_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM scored
       |), ranked AS (
       |  SELECT q_id, neighbor_id, cs,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rk
       |  FROM cos
       |)
       |SELECT q_id, rk, neighbor_id, CAST(floor(cs * 1e6) AS BIGINT) AS cos_micro
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  private lazy val lshOracle: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, embedding, ${sigSqlExpr("embedding")} AS sig
       |  FROM embeddings
       |), kept AS (
       |  SELECT sig FROM sigs GROUP BY sig HAVING count(*) <= $MaxBucketAnn
       |), cand AS (
       |  SELECT q.vec_id AS q_id, s.vec_id AS neighbor_id,
       |         ${cosCte("s.embedding", "q.embedding")}
       |  FROM sigs s
       |  JOIN kept k ON s.sig = k.sig
       |  JOIN sigs q ON q.vec_id < $QuerySetSize AND q.sig = s.sig AND s.vec_id <> q.vec_id
       |), cos AS (
       |  SELECT q_id, neighbor_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM cand
       |), ranked AS (
       |  SELECT q_id, neighbor_id, cs,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rk
       |  FROM cos
       |)
       |SELECT q_id, rk, neighbor_id, CAST(floor(cs * 1e6) AS BIGINT) AS cos_micro
       |FROM ranked WHERE rk <= $TopK""".stripMargin

  // --- sim_recall_eval: compressed-retrieval quality evaluation ----
  // The eval every quantized index runs before deployment: recall@k
  // of the two lossy representations against the exact brute-force
  // top-k, per query — "what did compression cost", int8 (4× cut,
  // sim_quantized) vs 4-bit PQ (64× cut, sim_pq_adc). All three
  // pipelines are deterministic (bit-stable cosine, exact integer
  // dots, DECIMAL term sums, fixed tie-breaks), so the recall
  // METRIC itself is exactly oracle-checkable — rare for an ANN
  // metric, and why the library's recall numbers can gate `sbt
  // test` rather than live in a notebook. Measured shape on this
  // corpus: int8 keeps recall 1.0, pq4 pays a real, per-query-
  // varying loss — exactly the memory/recall trade the two entries
  // exist to show. (An LSH arm was measured first and REJECTED:
  // exact 16-bit-signature collisions almost never contain the
  // global top-5 here, recall 0 for every query — an all-zeros eval
  // teaches nothing.) Composes the §2 entries as-is: three corpus
  // scans, then |queries|·k-row joins.
  private def recallEval(s: SparkSession, dir: String): DataFrame = {
    // The eval of DEPLOYED compressed indexes reads stored artifacts
    // (the SessionCache stand-ins for on-storage tables): the exact
    // ground-truth top-k (built once per corpus — the expensive
    // all-pairs subtree both arms reference), the int8 corpus table,
    // and the PQ code table. What the eval itself pays per run is
    // what production pays: the two approximate RETRIEVALS over the
    // stored representations, plus the recall joins. The index
    // builds stay measured by their own entries (sim_quantized /
    // sim_pq_adc re-encode per run; sim_topk_bruteforce is the
    // ground-truth pass).
    val exact = SessionCache.get(s, s"sim|$dir|exact_topk",
      topk(s, dir).select(col("q_id"), col("neighbor_id")))
    def arm(method: String, approx: DataFrame): DataFrame =
      exact.join(
          approx.select(col("q_id").as("aq"), col("neighbor_id").as("an")),
          col("q_id") === col("aq") && col("neighbor_id") === col("an"), "left")
        .groupBy("q_id")
        .agg(count(col("an")).as("n_hits"))
        .select(col("q_id"), lit(method).as("method"), col("n_hits"),
          floor(lit(1000.0) * col("n_hits") / lit(TopK)).cast("long")
            .as("recall_milli"))
    val int8 = int8TopK(
      SessionCache.get(s, s"sim|$dir|int8_corpus", quantizedCorpus(s, dir)))
    val pqSeed = pqSeeds(s, dir)
    val pq4 = pqScore(s, dir,
      SessionCache.get(s, s"sim|$dir|pq_codes", pqEncode(s, dir, pqSeed)),
      pqSeed)
    arm("int8", int8)
      .unionByName(arm("pq4", pq4))
      .orderBy("q_id", "method")
      .localCheckpoint()
  }

  private lazy val recallOracle: String =
    s"""WITH bscored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         ${cosCte("q.embedding", "c.embedding")}
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), bcos AS (
       |  SELECT q_id, neighbor_id,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM bscored
       |), exact AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, neighbor_id) AS rk
       |    FROM bcos) WHERE rk <= $TopK
       |), norms AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), qv AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Dim + 1}),
       |           i -> floor(CAST(embedding[i] AS DOUBLE) *
       |                (CASE WHEN nrm = 0 THEN 0.0 ELSE $QBits / nrm END) + 0.5)) AS q
       |  FROM norms
       |), ascored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
       |         CAST(list_reduce(list_transform(range(1, ${Dim + 1}),
       |                i -> c.q[i] * q.q[i]), (acc, x) -> acc + x) AS BIGINT) AS qdot
       |  FROM qv c JOIN qv q ON q.vec_id < $QuerySetSize AND c.vec_id <> q.vec_id
       |), approx AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, neighbor_id) AS rk
       |    FROM ascored) WHERE rk <= $TopK
       |),
       |$pqCtes,
       |pqapprox AS (
       |  SELECT q_id, neighbor_id FROM ranked WHERE rk <= $TopK
       |),
       |int8_arm AS (
       |  SELECT e.q_id, 'int8' AS method,
       |    CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       |    CAST(floor(1000.0 * count(a.neighbor_id) / $TopK) AS BIGINT) AS recall_milli
       |  FROM exact e LEFT JOIN approx a
       |    ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.q_id),
       |pq_arm AS (
       |  SELECT e.q_id, 'pq4' AS method,
       |    CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       |    CAST(floor(1000.0 * count(a.neighbor_id) / $TopK) AS BIGINT) AS recall_milli
       |  FROM exact e LEFT JOIN pqapprox a
       |    ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.q_id)
       |SELECT * FROM int8_arm UNION ALL SELECT * FROM pq_arm
       |ORDER BY q_id, method""".stripMargin

  /** CTE chain producing the embedding-dedup universe (`corpus`) and
    * its verified near-dup pairs (`cos` with cosine `cs`) — shared by
    * the dedup_embedding oracle and cur_semdedup's clustering oracle.
    */
  private[operators] lazy val embeddingPairsCtes: String =
    s"""corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding, x -> x * CAST(1.001 AS FLOAT)) AS embedding
       |  FROM embeddings WHERE vec_id % 10 = 0
       |), allsigs AS (
       |  SELECT vec_id, embedding, ${sigSqlExpr("embedding")} AS sig
       |  FROM corpus
       |), kept AS (
       |  SELECT sig FROM allsigs GROUP BY sig HAVING count(*) <= $MaxBucketAnn
       |), sigs AS (
       |  SELECT s.* FROM allsigs s JOIN kept k ON s.sig = k.sig
       |), pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosCte("a.embedding", "b.embedding")}
       |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |), cos AS (
       |  SELECT vec_a, vec_b,
       |         CASE WHEN na * nb = 0 THEN 0.0 ELSE dot / (na * nb) END AS cs
       |  FROM pairs
       |)""".stripMargin

  private lazy val embeddingDedupOracle: String =
    s"""WITH $embeddingPairsCtes
       |SELECT vec_a, vec_b, CAST(floor(cs * 1e6) AS BIGINT) AS cos_micro
       |FROM cos WHERE cs > 0.995""".stripMargin
}

