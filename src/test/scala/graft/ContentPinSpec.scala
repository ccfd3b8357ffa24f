package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Content-hash teeth for the rows-only gate entries (the BinlogSpec
  * :342-390 pattern, extended): mm_decode/mm_frames/mm_resize/
  * mm_resample/mm_phash have no DuckDB oracle
  * (binary inputs), but their inputs are
  * deterministic, so the full result CONTENT is pinnable — an
  * order-independent hash (decimal sum of per-row xxhash64 over
  * every output column) catches codec/resampler/type-map drift the
  * gate's row-count check would miss.
  *
  * After this spec, the only assertion-free rows-only entries are
  * the genuinely tolerance-based ones: q27_approx_sketch,
  * sim_ivf_ann, text_compress, dedup_minhash_fast (each bounded by
  * its own recall/tolerance spec instead).
  *
  * The doubles inside these results are round()'d aggregates; a
  * re-pin is only legitimate after an INTENDED behavior change —
  * the new value must come with the spec run that justified it.
  */
class ContentPinSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  /** Order-independent content hash over ALL columns of the result. */
  private def contentHash(df: DataFrame): java.math.BigDecimal =
    df.agg(sum(xxhash64(df.columns.map(col): _*)
      .cast(DecimalType(38, 0))).as("h"))
      .collect()(0).getDecimal(0)

  private def pin(name: String, expectRows: Long, expectHash: String): Unit =
    test(s"$name content hash is pinned") {
      val df = SparkEntry.queries(name)(spark, sf)
      assert(df.count() == expectRows)
      val h = contentHash(df)
      assert(h == new java.math.BigDecimal(expectHash),
        s"$name content drifted: got $h")
    }

  // cdc_txn_assemble re-pinned when the binlog fixtures became the
  // repo's own (test resources binlog/events, written by
  // BinlogGen.writeReferenceFixtures): 10 transactions over the eight
  // MySQL 8.0.21 fixtures. BinlogSpec derives both values from the
  // parser-independent BinlogFixtureTable declaration.
  pin("cdc_txn_assemble", 10, "23386758638519543653")
  pin("cdc_bloom_sweep", 5, "13618715941250525610")
  // mm_decode/mm_resize/mm_phash re-pinned r10: the JPEG modality
  // gained a real baseline-DCT decode (MmCodecSpec round-trip pins
  // justify the change) — jpeg assets now contribute pixels to
  // decode features, thumbs, and the phash corpus (+ lossy
  // re-encode planted pairs).
  pin("mm_decode", 4, "-15644573504322140094")
  pin("mm_frames", 2, "-12434390873768163386")
  pin("mm_resize", 3, "14730103055230714690")
  pin("mm_resample", 1, "-7219080678834481442")
  pin("mm_phash", 188, "-13394221605065237425")
  pin("mm_scene_cut", 125, "16939260401471902718")
  pin("mm_audio_vad", 125, "-20136297477257002396")
  pin("mm_phash_cluster", 376, "84625292651535797446")
  // cdc_control_events re-pinned r14: the stream gained a planted
  // HEARTBEAT (+1 row) and the summary a heartbeat_ident column when
  // the log_ident body decode landed (BinlogSpec asserts the ident
  // value independently — the pin change is justified drift)
  pin("cdc_control_events", 8, "1005756745707448531")
  // cdc_wire_handshake re-pinned r10: the caching_sha2 scramble's
  // concatenation order was corrected to the canonical
  // SHA256(SHA256(SHA256(pw)) || nonce) (digest-of-digest first) —
  // the sha256_prefix column changed with it; WireSpec derives the
  // canonical construction independently and rejects the old order.
  pin("cdc_wire_handshake", 8, "-930587318581623881")
  pin("cdc_wire_command", 8, "3009857077118845075")
}
