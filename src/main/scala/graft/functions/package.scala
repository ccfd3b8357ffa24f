package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}

/** Column-level API over graft's native Catalyst expressions, plus
  * SQL registration (see [[graft.GraftExtensions]] for the
  * SparkSessionExtensions route).
  */
package object functions {

  def cosine_sim(a: Column, b: Column): Column =
    toColumn(CosineSimilarity(toExpr(a), toExpr(b)))

  def dot_product(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpr(a), toExpr(b)))

  def compress_ratio(text: Column): Column =
    toColumn(CompressRatio(toExpr(text)))

  def sorted_intersect_count(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpr(a), toExpr(b)))

  def ws_token_count(text: Column): Column =
    toColumn(WsTokenCount(toExpr(text)))

  def bpe_token_count(text: Column): Column =
    toColumn(BpeTokenCount(toExpr(text)))

  def word_lane_hashes(words: Column): Column =
    toColumn(WordLaneHashes(toExpr(words)))

  def bigram_md5_buckets(words: Column, nBuckets: Int): Column =
    toColumn(BigramMd5Buckets(toExpr(words), nBuckets))

  def dsir_score(words: Column, wts: Array[Long]): Column =
    toColumn(DsirScore(toExpr(words), wts))

  /** One SQL-callable graft expression. `builder` is what both
    * registration routes install: an arity gate, then `build`. The
    * gate keeps extra arguments from being silently discarded and
    * makes a missing one raise a NAMED error, not a bare
    * NoSuchElement from exprs.head. */
  private[graft] final case class SqlFunction(
      name: String,
      exprClass: Class[_ <: Expression],
      arity: Int,
      build: Seq[Expression] => Expression) {
    def builder: Seq[Expression] => Expression = exprs => {
      require(exprs.length == arity,
        s"$name expects $arity argument(s), got ${exprs.length}")
      build(exprs)
    }
  }

  /** The SQL function table; [[register]] and [[graft.GraftExtensions]]
    * both iterate it. */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("cosine_sim", classOf[CosineSimilarity], 2, a => CosineSimilarity(a.head, a(1))),
    SqlFunction("dot_product", classOf[DotProduct], 2, a => DotProduct(a.head, a(1))),
    SqlFunction("compress_ratio", classOf[CompressRatio], 1, a => CompressRatio(a.head)),
    SqlFunction("sorted_intersect_count", classOf[SortedIntersectCount], 2,
      a => SortedIntersectCount(a.head, a(1))),
    SqlFunction("ws_token_count", classOf[WsTokenCount], 1, a => WsTokenCount(a.head)),
    SqlFunction("bpe_token_count", classOf[BpeTokenCount], 1, a => BpeTokenCount(a.head)))

  /** Register graft functions on an existing session (temp scope). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach(f => spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
}
