package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicate an existing testdata SF directory
  * `factor`× with key-shifted copies, preserving schema, value
  * distributions, skew shape, AND foreign-key consistency (each
  * replica shifts every scaled-table key by the same stride, so
  * lineitem→orders→customer joins keep their fan-out; region/nation
  * stay fixed like real TPC-H dimensions). Produces the sf1-class
  * perf extrapolation point the 100×-scale claims need — correctness
  * stays gated on the driver's own sf0.01 data.
  *
  * Usage: SPARK_GRAFT_SRC=/root/testdata/sf0.1 \
  *        SPARK_GRAFT_DEST=bench-data/sf1 \
  *        SPARK_GRAFT_FACTOR=10  sbt "Test/runMain graft.GenScale"
  *
  * The session is `Spark.session()`'s default, `local[n]` with n =
  * `SPARK_GRAFT_CPUS`.
  */
object GenScale {

  /** Key stride between replicas: far above any base-table key and
    * the +1e6/+2e6 mutant-id offsets the dedup corpora add, and far
    * below 2^53 so double-exact key arithmetic still holds.
    */
  val Stride = 10000000L

  /** Columns to shift per table — the PK/FK families of tables that
    * scale with SF. Dimension FKs (nationkey/regionkey) never shift.
    */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Nil,
    "nation" -> Nil)

  /** Output files per scaled table: enough for 32-way parallel scans
    * (the driver writes one row group per table, which serializes the
    * scan — measured in round 4; don't reproduce that here).
    */
  private val filesFor: Map[String, Int] =
    Map("lineitem" -> 32, "orders" -> 16, "events" -> 16).withDefaultValue(4)

  /** 1-in-N token replacement rate for replica documents. At 1/32:
    * a 3-shingle survives with (31/32)^3 ≈ 0.909 → Jaccard vs the
    * base doc ≈ 0.83 (well above minhash's banded-collision knee),
    * an 8-gram span survives with ≈ 0.776 → dup-span coverage is
    * partial, not total. Replicas are NEAR-dups, not clones.
    */
  val TokenEditRate = 32

  /** ±0.1 % per-coordinate embedding jitter: cosine vs the base
    * vector stays ≥ 0.9999 (above every pair threshold in the
    * suite), but the replica is no longer byte-identical, so exact
    * dedup/hash shortcuts cannot collapse it.
    */
  val EmbedJitter = 0.001

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val LowerRot = Lower.tail + Lower.head

  /** Deterministic near-dup perturbation of replica PAYLOADS
    * (r >= 1; replica 0 is the untouched base corpus). Byte-identical
    * clones made the sf1 dedup/ANN walls degenerate upper bounds —
    * every clone group's candidate pairs were exact dups, so the
    * measured work (jaccard/hamming/cosine verify, span coverage)
    * was not the work a real corpus induces. Replacement keyed on
    * (shifted id, position) — reproducible across runs, different
    * per replica, no rand().
    *
    * documents.text: every ~1/TokenEditRate-th token PLUS one
    * guaranteed hash-chosen token is replaced by its caesar
    * rotation — short docs would otherwise escape the rate edit
    * entirely ((31/32)^20 ≈ 0.53 for a 20-token doc, measured 20%
    * byte-identical replicas on the first cut) and stay exact
    * clones. SAME length and token count, so the n_chars column and
    * any token-count bookkeeping stay consistent with the text.
    * split(' ')/concat_ws(' ') round-trips runs of spaces exactly
    * (empty tokens pass through translate unchanged).
    *
    * embeddings.embedding: per-coordinate scale by
    * (1 ± EmbedJitter·u), u ∈ [-1, 1] from the coordinate hash.
    */
  private def perturbPayload(df: DataFrame, table: String): DataFrame =
    table match {
      case "documents" =>
        df.withColumn("__toks", split(col("text"), " "))
          .withColumn("__forced", expr("pmod(xxhash64(doc_id), size(__toks))"))
          .withColumn("text", expr(
            s"""concat_ws(' ', transform(__toks, (t, i) ->
               |  CASE WHEN i = __forced
               |         OR pmod(xxhash64(doc_id, i), $TokenEditRate) = 0
               |       THEN translate(t, '$Lower', '$LowerRot')
               |       ELSE t END))""".stripMargin))
          .drop("__toks", "__forced")
      case "embeddings" =>
        df.withColumn("embedding", expr(
          s"""transform(embedding, (v, i) -> cast(v * (1.0d +
             |  $EmbedJitter * (cast(pmod(xxhash64(vec_id, i), 2001) as double)
             |                  - 1000.0d) / 1000.0d) as float))""".stripMargin))
      case _ => df
    }

  /** Key-shifted replicas. The shift casts back to the SOURCE column
    * type, so scaled tables keep the source schema exactly (an int
    * key must not silently widen to bigint — operators and oracles
    * read both layouts). Replica payloads (document text, embedding
    * vectors) are deterministically perturbed into NEAR-dups — see
    * [[perturbPayload]]; the cross-replica pairs the sf1 recall
    * probes count survive, but nothing downstream can shortcut them
    * as byte-equal.
    */
  def scaleTable(df: DataFrame, table: String, factor: Int): DataFrame = {
    val shifts = shiftCols.getOrElse(table, Nil)
    if (shifts.isEmpty) df
    else {
      // narrow key types must not wrap: a silent non-ANSI long→int
      // cast on overflow would produce colliding/negative keys and a
      // CORRUPT-but-valid-looking scaled dir. One max() probe per
      // shifted column (offline tool — a scan is fine) guards it.
      val typeMax: Map[org.apache.spark.sql.types.DataType, Long] = Map(
        org.apache.spark.sql.types.IntegerType -> Int.MaxValue.toLong,
        org.apache.spark.sql.types.ShortType -> Short.MaxValue.toLong,
        org.apache.spark.sql.types.ByteType -> Byte.MaxValue.toLong)
      shifts.foreach { c =>
        typeMax.get(df.schema(c).dataType).foreach { mx =>
          val probe = df.agg(max(col(c).cast("long"))).head
          require(!probe.isNullAt(0),
            s"$table.$c: empty table or all-NULL key column — cannot verify shift overflow safety")
          val maxKey = probe.getLong(0)
          require(maxKey + (factor - 1).toLong * Stride <= mx,
            s"$table.$c: max key $maxKey + ${factor - 1}*$Stride overflows ${df.schema(c).dataType}")
        }
      }
      (0 until factor).map { r =>
        val shifted = shifts.foldLeft(df) { (d, c) =>
          val srcType = df.schema(c).dataType
          d.withColumn(c, (col(c).cast("long") + lit(r * Stride)).cast(srcType))
        }
        if (r == 0) shifted else perturbPayload(shifted, table)
      }.reduce(_ unionAll _)
    }
  }


  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val dest = sys.env.getOrElse("SPARK_GRAFT_DEST", "bench-data/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val spark = Spark.session()
    spark.sparkContext.setLogLevel("WARN")
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    names.foreach { t =>
      val in = spark.read.parquet(s"$src/$t.parquet")
      val out = scaleTable(in, t, factor)
      // match the driver's layout: <dest>/<table>.parquet is a DIR of
      // part files here (spark.read.parquet handles both)
      out.repartition(filesFor(t))
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[genscale] $t -> ${spark.read.parquet(s"$dest/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
