package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("cosine_sim native expression equals the HOF formulation") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val self = emb.as("a").join(emb.as("b"),
      col("a.vec_id") === col("b.vec_id") - 1)
    val rows = self.select(
      graft.functions.cosine_sim(col("a.embedding"), col("b.embedding")).as("native"),
      operators.Similarity.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("cosine_sim: identical vector → 1.0, null → null, empty → 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("a", "b")
    val sims = df.select(graft.functions.cosine_sim($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    val withNull = df.select(graft.functions.cosine_sim($"a", lit(null).cast("array<float>")))
      .collect()
    assert(withNull.forall(_.isNullAt(0)))
    val empty = Seq((Array.empty[Float], Array.empty[Float])).toDF("a", "b")
      .select(graft.functions.cosine_sim($"a", $"b")).collect()
    assert(empty.head.getDouble(0) == 0.0)
  }

  test("cosine_sim / dot_product accept array<double> and mixed widths") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0f, 2.0f, 3.0f))
    ).toDF("d", "f")
    // codegen path: double×float mixed, double×double, float×float all agree
    val r = df.select(
      graft.functions.dot_product($"d", $"f").as("mixed"),
      graft.functions.dot_product($"d", $"d").as("dd"),
      graft.functions.dot_product($"f", $"f").as("ff"),
      graft.functions.cosine_sim($"d", $"d").as("cd")).collect().head
    assert(r.getDouble(0) == 14.0 && r.getDouble(1) == 14.0 && r.getDouble(2) == 14.0)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    // interpreted path agrees with codegen
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 0.0)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(0.0, 1.0)))
    assert(expr.eval(null).asInstanceOf[Double] == 0.0)
    // non-numeric arrays still rejected at analysis
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array("x"), Array("y"))).toDF("a", "b")
        .select(graft.functions.dot_product($"a", $"b")).collect()
    }
    assert(bad.getMessage.contains("array<float|double>"))
  }

  test("expressions stay inside WholeStageCodegen") {
    val emb = Tables.embeddings(spark, sf)
    val plan = emb.select(graft.functions.cosine_sim(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen span
    assert(plan.contains("*(1) Project [cosine_sim"), plan)
  }

  test("SQL registration via functionRegistry and GraftExtensions") {
    // registered on a session of its own, so the shared session keeps
    // resolving through the injected GraftExtensions
    val registered = spark.newSession()
    graft.functions.register(registered)
    val r = registered.sql(
      "SELECT cosine_sim(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS c, " +
      "dot_product(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d").collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-12)
    // the arity gate names the function instead of dropping or
    // inventing an argument
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val bad = intercept[Exception](registered.sql("SELECT cosine_sim(array(1.0f))").collect())
    assert(messages(bad).exists(_.contains("cosine_sim expects 2 argument(s), got 1")),
      messages(bad).mkString(" | "))

    // a new session has none of the temp functions `register` added:
    // it resolves the function through the injected GraftExtensions
    val ext = spark.newSession()
    val Seq(temp, injected) = Seq(registered, ext).map(_.sessionState.functionRegistry
      .lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"))
      .map(_.getSource))
    assert(temp.contains("scala_udf") && injected.exists(_ != "scala_udf"), (temp, injected))
    assert(ext.sql("SELECT dot_product(array(1.0f), array(2.0f))").collect()
      .head.getDouble(0) == 2.0)
  }

  test("sorted_intersect_count: codegen == interpreted, empty/null/dup/nullable-element contracts") {
    import spark.implicits._
    val df = Seq(
      ("both", Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)), // overlap 2
      ("disjoint", Seq(1L, 2L), Seq(3L, 4L)),
      ("subset", Seq(2L, 4L), Seq(1L, 2L, 3L, 4L, 5L)),
      ("emptyA", Seq.empty[Long], Seq(1L, 2L)),
      ("emptyB", Seq(1L, 2L), Seq.empty[Long])
    ).toDF("k", "a", "b")
    // codegen path (whole-stage over a projection)
    val got = df.select(col("k"),
      graft.functions.sorted_intersect_count(col("a"), col("b")).as("c"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("both" -> 2, "disjoint" -> 0, "subset" -> 2,
      "emptyA" -> 0, "emptyB" -> 0), got.toString)
    // interpreted eval agrees (direct expression, no codegen)
    import org.apache.spark.sql.catalyst.util.ArrayData
    val e = graft.functions.SortedIntersectCount(null, null)
    def arr(xs: Long*): ArrayData =
      ArrayData.toArrayData(xs.toArray)
    assert(e.nullSafeEval(arr(1L, 3L, 5L, 9L), arr(2L, 3L, 5L, 10L)) == 2)
    assert(e.nullSafeEval(arr(), arr(1L)) == 0)
    // null ARRAY → null result (BinaryExpression null-safety)
    val withNull = df.select(graft.functions.sorted_intersect_count(
      col("a"), lit(null).cast("array<bigint>"))).collect()
    assert(withNull.forall(_.isNullAt(0)))
    // SQL registration works and agrees
    val viaSql = df.selectExpr("sorted_intersect_count(a, b) AS c")
      .collect().map(_.getInt(0)).sum
    assert(viaSql == 4)
    // null ELEMENTS fail loudly, never miscount (getLong on a null
    // slot reads garbage) — a 0L element in the other array would
    // otherwise phantom-match the garbage read
    val err = intercept[Exception] {
      Seq((Seq(0L, 1L), 1)).toDF("b", "i")
        .selectExpr("sorted_intersect_count(array(CAST(NULL AS BIGINT)), b)")
        .collect()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else String.valueOf(t.getMessage) + " | " + rootMsg(t.getCause)
    assert(rootMsg(err).contains("null array element"), rootMsg(err))
  }

  test("token counts: native scan == regex forms on adversarial and random strings") {
    import spark.implicits._
    val adversarial = Seq(
      "", " ", "  ", "\t\n\f\r", "a", " a", "a ", " a ",
      "a b", "  a  b  ", "abc123def", "123", "a1b2", "!!", "a!b",
      "hello, world! 42 times", "a-b_c.d", "...", "tab\there",
      "ünïcödé wörds", "汉字テスト", "mixed汉ascii", "emoji 😀 x",
      " nbsp", "a b", "trailing space ", " leading",
      "1,234.56", "x" * 500, ("ab " * 200).trim)
    // deterministic pseudo-random strings over a mixed alphabet
    val alphabet = "ab1 .!\té汉\n"
    val rnd = new scala.util.Random(42)
    val random = (1 to 200).map { _ =>
      (1 to rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (adversarial ++ random).toDF("t")
    val bad = df.select(
        col("t"),
        graft.functions.ws_token_count(col("t")).as("ws_native"),
        size(split(col("t"), "\\s+")).cast("long").as("ws_regex"),
        graft.functions.bpe_token_count(col("t")).as("bpe_native"),
        regexp_count(col("t"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("bpe_regex"))
      .filter(col("ws_native") =!= col("ws_regex") ||
        col("bpe_native") =!= col("bpe_regex"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // null propagates; SQL registration works (codegen + interpreted agree
    // implicitly: the batch above runs codegen'd, this one exercises eval)
    val viaSql = spark.sql(
      "SELECT ws_token_count(' a  b '), bpe_token_count('hi, 42!'), " +
        "ws_token_count(CAST(NULL AS STRING))").collect().head
    assert(viaSql.getLong(0) == 4L) // ["", "a", "b", ""] — limit -1 keeps both empties
    assert(viaSql.getLong(1) == 4L) // [hi][,][42][!]
    assert(viaSql.isNullAt(2))
  }

  test("word_lane_hashes gram keys == the two-lane HOF form") {
    import spark.implicits._
    // adversarial token streams: empties (split keeps them), unicode,
    // repeats (gram collisions must agree), single-token, exactly-n
    val adversarial = Seq(
      "", " leading", "trailing ", "  double  spaces  ",
      "a", "a b", "a b c", "a b c d", "same same same same same",
      "ünïcödé wörds mixed 汉字 stream ok",
      ("tok " * 300).trim)
    val rnd = new scala.util.Random(7)
    val random = (1 to 100).map { _ =>
      (1 to (3 + rnd.nextInt(40))).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    }
    for (n <- Seq(1, 2, 3, 8)) {
      val df = (adversarial ++ random).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("w", split(col("text"), "\\s+"))
        .filter(size(col("w")) >= n)
      // the HOF form this expression replaced, kept as the spec twin
      val mixA = (0 until n).map(k => s"__gwh[pos + $k].a")
        .mkString("xxhash64(", ", ", ")")
      val mixB = (0 until n).map(k => s"__gwh[pos + $k].b")
        .mkString("xxhash64(", ", ", ")")
      val viaHof = df
        .select(col("doc_id"), transform(col("w"), x =>
          struct(xxhash64(x).as("a"), xxhash64(lit(1L), x).as("b"))).as("__gwh"))
        .select(col("doc_id"), col("__gwh"),
          explode(expr(s"sequence(0, size(__gwh) - $n)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr(mixA).as("gh1"), expr(mixB).as("gh2"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val nMixA = (0 until n).map(k => s"__gwa[pos + $k]")
        .mkString("xxhash64(", ", ", ")")
      val nMixB = (0 until n).map(k => s"__gwb[pos + $k]")
        .mkString("xxhash64(", ", ", ")")
      val viaNative = df
        .select(col("doc_id"),
          graft.functions.word_lane_hashes(col("w")).as("__gl"))
        .select(col("doc_id"),
          col("__gl.a").as("__gwa"), col("__gl.b").as("__gwb"))
        .select(col("doc_id"), col("__gwa"), col("__gwb"),
          explode(expr(s"sequence(0, size(__gwa) - $n)")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr(nMixA).as("gh1"), expr(nMixB).as("gh2"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(viaNative == viaHof, s"n=$n mismatch")
    }
    // null-word contract: the builtin's null-skip is reproduced
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = true))))
    val nullDf = spark.createDataFrame(
      java.util.List.of(Row(Seq("a", null, "b"))), schema)
    val lanes = nullDf
      .select(graft.functions.word_lane_hashes(col("w")).as("gl"))
      .select(col("gl.a"), col("gl.b")).head
    val twin = nullDf.select(
      transform(col("w"), x => xxhash64(x)).as("a"),
      transform(col("w"), x => xxhash64(lit(1L), x)).as("b")).head
    assert(lanes.getSeq[Long](0) == twin.getSeq[Long](0))
    assert(lanes.getSeq[Long](1) == twin.getSeq[Long](1))
  }

  test("compress_ratio: codegen == interpreted, orders quality correctly") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over the lazy dog and keeps going with varied words"
    val boiler = "spam spam spam spam spam spam spam spam spam spam spam spam spam spam"
    val rows = Seq(("p", prose), ("b", boiler), ("e", "")).toDF("k", "t")
      .selectExpr("k", "compress_ratio(t) AS r").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // codegen path (selectExpr above) agrees with direct interpreted eval
    assert(math.abs(rows("p") -
      graft.functions.CompressRatio.ratio(
        org.apache.spark.unsafe.types.UTF8String.fromString(prose))) < 1e-12)
    assert(rows("b") < rows("p"), s"boilerplate ${rows("b")} !< prose ${rows("p")}")
    assert(rows("e") == 1.0) // empty-string convention
    assert(rows.values.forall(r => r > 0.0 && r < 2.0))
  }

  test("bigram_md5_buckets == the builtin transform+md5+conv chain") {
    import spark.implicits._
    val adversarial = Seq(
      "", " leading", "trailing ", "  double  spaces  ",
      "a", "a b", "a b c", "same same same same same",
      "ünïcödé wörds mixed 汉字 stream ok",
      ("tok " * 300).trim)
    val rnd = new scala.util.Random(11)
    val random = (1 to 100).map { _ =>
      (1 to (2 + rnd.nextInt(40))).map(_ => s"w${rnd.nextInt(12)}").mkString(" ")
    }
    for (b <- Seq(7, 4096)) {
      val df = (adversarial ++ random).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .withColumn("w", split(lower(col("text")), "\\s+"))
        .filter(size(col("w")) >= 2)
      // the builtin chain this expression replaced, kept as spec twin
      val viaBuiltin = df
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))")).as("bg"))
        .select(col("doc_id"), expr(
          s"cast(conv(substring(md5(bg), 1, 8), 16, 10) as bigint) % $b").as("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val viaNative = df
        .select(col("doc_id"), explode(
          graft.functions.bigram_md5_buckets(col("w"), b)).as("bucket"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(viaNative == viaBuiltin, s"buckets=$b mismatch")
    }
    // <2 tokens → empty array; null words → null
    val edge = Seq((1L, Seq("only")), (2L, Seq.empty[String]))
      .toDF("doc_id", "w")
      .select(col("doc_id"),
        graft.functions.bigram_md5_buckets(col("w"), 16).as("bk"))
      .collect()
    assert(edge.forall(_.getSeq[Long](1).isEmpty))
    val nul = Seq(Tuple1(1L)).toDF("doc_id")
      .select(graft.functions.bigram_md5_buckets(
        lit(null).cast("array<string>"), 16)).collect()
    assert(nul.head.isNullAt(0))
  }

  test("dsir_score == broadcast-join sum(wt) over exploded bigrams") {
    import spark.implicits._
    val b = 64
    val rnd = new scala.util.Random(23)
    // weight table in DECIMAL(18,9) unscaled longs, mixed signs
    val wts = Array.fill(b)((rnd.nextLong() % 30000000000L))
    val wdf = wts.zipWithIndex.toSeq
      .map { case (w, i) => (i.toLong, BigDecimal(w, 9)) }
      .toDF("bucket", "wt")
      .select(col("bucket"), col("wt").cast("decimal(18,9)").as("wt"))
    val docs = (1 to 80).map { i =>
      (i.toLong, (1 to (2 + rnd.nextInt(60))).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("w", split(lower(col("text")), "\\s+"))
      .filter(size(col("w")) >= 2)
    val viaJoin = docs
      .select(col("doc_id"), explode(
        graft.functions.bigram_md5_buckets(col("w"), b)).as("bucket"))
      .join(broadcast(wdf), Seq("bucket"))
      .groupBy("doc_id").agg(sum(col("wt")).as("s"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).sortBy(_._1).toSeq
    val viaNative = docs
      .select(col("doc_id"), graft.functions.dsir_score(col("w"), wts).as("s"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1))).sortBy(_._1).toSeq
    assert(viaNative.map(_._1) == viaJoin.map(_._1))
    viaNative.zip(viaJoin).foreach { case ((id, n), (_, j)) =>
      assert(n.compareTo(j) == 0, s"doc $id: native=$n join=$j")
    }
  }
}
