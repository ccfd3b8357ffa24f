package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-replica recall probe for GenScale-scaled directories — the
  * repeatable form of the "sf1 recall probes" the scale numbers cite.
  *
  * GenScale perturbs replica payloads into NEAR-dups (token caesar
  * edits / embedding jitter), so the planted ground truth at a scaled
  * dir is the (base, base + Stride) pair set: every base row has a
  * replica-1 twin that the near-dup miners must recover. This probe
  * measures that recovery directly with the production miners:
  *
  *  - minhash:   Dedup.minhashPairs (xxhash64 variant) over documents
  *               with >= 3 tokens (the miner's own shingle floor).
  *               LSH recall is THRESHOLD-CONDITIONAL — the banded
  *               (k=12, r=3) collision knee sits at s* = (1/4)^(1/3)
  *               ≈ 0.63, and GenScale's guaranteed per-replica edit
  *               pushes SHORT docs' true Jaccard below it (measured:
  *               overall base→replica recall 0.82, exactly the
  *               theory, not a defect) — so the floor is asserted on
  *               the pairs the operator contracts to find: true
  *               3-shingle Jaccard ≥ 0.7 → recall ≥ 0.9. The
  *               unconditional recall is reported alongside for
  *               context.
  *  - embedding: Similarity.embeddingDedupPairs at the semdedup
  *               threshold (0.995); jitter keeps cosine ≥ 0.9999 and
  *               a 12-plane signature flip needs a near-zero
  *               projection, predicting ≥ 0.99 — floor 0.95
  *               (measured 0.9985 on the first regenerated sf1).
  *
  * [[RecallSpec]] runs it over a corpus it scales in-test and pins
  * the floors.
  */
object RecallProbe {

  /** Floor on pairs with true Jaccard ≥ [[JaccardContract]] — the
    * set banded LSH contracts to recover (knee ≈ 0.63 for 4×3).
    */
  val MinhashFloor = 0.90
  val JaccardContract = 0.7
  val EmbeddingFloor = 0.95

  /** Recall counts over a GenScale-perturbed corpus; recalls are 0
    * when the corresponding expected set is empty (assert the counts
    * before trusting the ratios). */
  final case class Result(
      nDocs: Long, nDocsFound: Long,
      nContract: Long, nContractFound: Long,
      nVecs: Long, nVecsFound: Long) {
    def minhashRecallAll: Double =
      if (nDocs == 0) 0.0 else nDocsFound.toDouble / nDocs
    def minhashRecallContract: Double =
      if (nContract == 0) 0.0 else nContractFound.toDouble / nContract
    def embeddingRecall: Double =
      if (nVecs == 0) 0.0 else nVecsFound.toDouble / nVecs
  }

  /** The measurement itself, over in-memory frames.
    * `docs` = (doc_id, text), `emb` = (vec_id, embedding) with the
    * (base, base + Stride) replica structure GenScale plants.
    */
  def measure(docs0: DataFrame, emb: DataFrame): Result = {
    val stride = GenScale.Stride
    // -- minhash over documents ------------------------------------
    val docs = docs0.select(col("doc_id"), col("text"))
    // exact per-pair 3-shingle Jaccard for the planted twins: the
    // probe's ground truth must be computed independently of the
    // miner (distinct md5 shingle sets, base vs base+Stride)
    val shingles = docs
      .withColumn("w", split(col("text"), "\\s+"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> md5(concat_ws(' ', w[i-1], w[i], w[i+1])))")).as("g"))
      .groupBy("doc_id").agg(collect_set(col("g")).as("gs"))
    val truth = shingles.filter(col("doc_id") < stride)
      .join(shingles.select((col("doc_id") - stride).as("doc_id"), col("gs").as("gs_rep")),
        Seq("doc_id"))
      .select(col("doc_id"),
        (size(array_intersect(col("gs"), col("gs_rep"))).cast("double") /
          size(array_union(col("gs"), col("gs_rep")))).as("jac"))
    val minhashFound = operators.Dedup.minhashPairs(docs, "doc_id", "text")
      .filter(col("doc_b") === col("doc_a") + stride && col("doc_a") < stride)
      .select(col("doc_a").as("doc_id")).distinct()
    val agg = truth.join(minhashFound.withColumn("__hit", lit(1)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_all"),
        sum(col("__hit")).as("hit_all"),
        count(when(col("jac") >= JaccardContract, 1)).as("n_contract"),
        sum(when(col("jac") >= JaccardContract, col("__hit"))).as("hit_contract"))
      .collect()(0)
    val nDocs: Long = agg.getLong(0)
    val nDocsFound: Long = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val nContract: Long = agg.getLong(2)
    val nContractFound: Long = if (agg.isNullAt(3)) 0L else agg.getLong(3)

    // -- embedding pairs over embeddings ---------------------------
    val expectedVecs = emb.select(col("vec_id")).filter(col("vec_id") < stride)
      .join(emb.select((col("vec_id") - stride).as("vec_id")), Seq("vec_id"))
    val embFound = operators.Similarity
      .embeddingDedupPairs(emb, "vec_id", "embedding", dim = 64, threshold = 0.995)
      .filter(col("vec_b") === col("vec_a") + stride && col("vec_a") < stride)
      .select(col("vec_a").as("vec_id")).distinct()
      .join(expectedVecs, Seq("vec_id"))
    Result(nDocs, nDocsFound, nContract, nContractFound,
      expectedVecs.count(), embFound.count())
  }
}
