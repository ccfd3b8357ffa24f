package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the near-dup miners' recall floors in `sbt test` (r7/r8
  * verdict item: RecallProbe was a manual main only, so a miner or
  * generator change that degraded recall needed a human to notice).
  * The corpus is generated IN-TEST with the production scaler
  * (GenScale.scaleTable, factor 2 over sf0.01): base rows plus one
  * perturbed replica at id + Stride — deterministic, so the measured
  * recalls are fixed numbers for this corpus, not statistics.
  */
class RecallSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.01"

  test("minhash and embedding recall floors hold on a GenScale corpus") {
    val docs = Tables.parallelized(GenScale.scaleTable(
      Tables.documents(spark, sf), "documents", 2))
      .select(col("doc_id"), col("text"))
    val emb = Tables.parallelized(GenScale.scaleTable(
      Tables.embeddings(spark, sf), "embeddings", 2))
      .select(col("vec_id"), col("embedding"))
    val r = RecallProbe.measure(docs, emb)
    // the probe must actually have pairs to grade
    assert(r.nDocs > 0 && r.nVecs > 0,
      s"no (base, base+Stride) replica pairs: $r")
    assert(r.nContract > 0,
      s"no pairs at Jaccard >= ${RecallProbe.JaccardContract}: $r")
    assert(r.minhashRecallContract >= RecallProbe.MinhashFloor,
      f"minhash contract recall ${r.minhashRecallContract}%.4f " +
        f"below floor ${RecallProbe.MinhashFloor} ($r)")
    assert(r.embeddingRecall >= RecallProbe.EmbeddingFloor,
      f"embedding recall ${r.embeddingRecall}%.4f " +
        f"below floor ${RecallProbe.EmbeddingFloor} ($r)")
  }
}
