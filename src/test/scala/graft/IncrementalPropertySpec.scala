package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property check for the incremental-dedup contract on corpora the
  * fixed testdata can't represent: for ANY corpus and increment,
  * probing the standing index with [[graft.operators.Dedup
  * .incrementalDedupVerdicts]] must equal the batch miner run on the
  * unioned corpus restricted to increment-touching pairs, and every
  * emitted jaccard must equal an independently (driver-side)
  * computed word-3-gram Jaccard. Seeded pseudo-random corpora — a
  * failure reproduces exactly.
  */
class IncrementalPropertySpec extends AnyFunSuite with SharedSpark {

  private val IncBase = 1000L

  private def corpusFor(seed: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "nov", "oscar")
    val standing = (0L until 60L).map { id =>
      val n = 2 + rnd.nextInt(14) // some docs BELOW the 3-token floor
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val increment = rnd.shuffle(standing).take(15).map { case (id, text) =>
      val toks = text.split(" ").toBuffer
      // mutate: drop or swap one token — a near-dup of its ancestor
      if (toks.size > 1 && rnd.nextBoolean()) toks.remove(rnd.nextInt(toks.size))
      else toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
      (id + IncBase) -> toks.mkString(" ")
    }
    (standing, increment)
  }

  private def grams(text: String): Set[String] = {
    val w = text.split("\\s+")
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  test("incremental probe == batch miner restricted to the increment, any corpus") {
    import graft.operators.Dedup
    import spark.implicits._
    for (seed <- Seq(7L, 42L, 1337L)) {
      val (standing, increment) = corpusFor(seed)
      val sDf = standing.toDF("doc_id", "text")
      val iDf = increment.toDF("doc_id", "text")
      val union = sDf.unionAll(iDf)
      val got = Dedup.incrementalDedupVerdicts(
        Dedup.bandSignatures(sDf, "doc_id", "text"), iDf, union,
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_ => r.getDouble(2)), r.getInt(3)))
      // batch miner on the union, restricted to increment-touching
      val wantPairs = Dedup.minhashPairs(union, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => p._1 >= IncBase || p._2 >= IncBase).toSet
      assert(got.map(p => (p._1, p._2)).toSet == wantPairs,
        s"seed=$seed candidate sets differ")
      // independent driver-side verify of every verdict
      val texts = (standing ++ increment).toMap
      got.foreach { case (a, b, jac, isDup) =>
        val (ga, gb) = (grams(texts(a)), grams(texts(b)))
        if (ga.isEmpty || gb.isEmpty) {
          assert(jac.isEmpty && isDup == 0, s"seed=$seed ($a,$b): want null verdict")
        } else {
          val expected = ga.intersect(gb).size.toDouble / ga.union(gb).size
          assert(jac.exists(j => math.abs(j - expected) < 1e-12),
            s"seed=$seed ($a,$b): jaccard ${jac} want $expected")
          assert(isDup == (if (expected >= 0.7) 1 else 0), s"seed=$seed ($a,$b)")
        }
      }
      // the probe must surface at least one planted near-dup pair
      assert(got.nonEmpty, s"seed=$seed: no candidates at all")
    }
  }

  test("dailyProbe=true equals the gated path (same corpus, same verdicts)") {
    import graft.operators.Dedup
    import spark.implicits._
    val (standing, increment) = corpusFor(42L)
    val sDf = standing.toDF("doc_id", "text")
    val iDf = increment.toDF("doc_id", "text")
    val union = sDf.unionAll(iDf)
    val index = Dedup.bandSignatures(sDf, "doc_id", "text")
    def runIt(daily: Boolean) = Dedup.incrementalDedupVerdicts(
      index, iDf, union, "doc_id", "text", dailyProbe = daily)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(runIt(daily = true).toSeq == runIt(daily = false).toSeq)
  }

  test("a mislabeled bulk load on the dailyProbe path dies with a NAMED error") {
    import graft.operators.Dedup
    import spark.implicits._
    // the guard streams through the forced broadcast's collection and
    // fails the partition the moment it exceeds the cap — a named
    // error instead of an executor/driver OOM
    val under = Dedup.cappedBroadcastSide(
      spark.range(0, 10, 1, 1).toDF("id"), cap = 100L, what = "test frame")
    assert(under.count() == 10) // under the cap: pure passthrough
    val over = Dedup.cappedBroadcastSide(
      spark.range(0, 500, 1, 1).toDF("id"), cap = 100L, what = "test frame")
    val e = intercept[Throwable] { over.count() }
    // the named message may sit at any depth of the task-failure chain
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("mislabeled as a daily probe"),
      s"want the named dailyProbe guard error, got: $msgs")
  }

  test("the guard's bound is tiered: a many-partition bulk load trips even when every partition is under the flat cap") {
    import graft.operators.Dedup
    // 64 partitions x 500 rows: each partition sits under the flat
    // cap of 1000, but partitions >= 8 are held to cap/1024 = 1 row —
    // the realistic many-input-files backfill shape must die with the
    // named error, not slip under a per-partition-only check
    val bulk = Dedup.cappedBroadcastSide(
      spark.range(0, 32000, 1, 64).toDF("id"), cap = 1000L, what = "test frame")
    val e = intercept[Throwable] { bulk.count() }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("mislabeled as a daily probe"),
      s"want the named tiered-bound error, got: $msgs")
    // a legitimate daily slice spread thin over the same 64
    // partitions passes: 4M-cap tier-2 allowance is cap/1024 ~ 4096
    // rows/partition, far above any daily increment's share
    val thin = Dedup.cappedBroadcastSide(
      spark.range(0, 6400, 1, 64).toDF("id"),
      cap = Dedup.BroadcastBandsMaxForTest, what = "test frame")
    assert(thin.count() == 6400)
  }
}
