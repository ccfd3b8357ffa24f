package graft.cdc

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[TxnLog.compareStat]] must agree with Spark's OWN ordering on the
  * canonical (cast-to-string) stat encodings — the pruning decisions
  * ride on this comparator, and a single misordered pair is a wrong
  * prune. Each type's check: generate value pairs, let Spark compute
  * both the truth (`a < b`, `a = b`) and the canonical strings in one
  * job, then require compareStat's sign to match on every pair.
  */
class CompareStatSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val rnd = new scala.util.Random(13L)

  private def checkPairs(dt: DataType, pairs: org.apache.spark.sql.DataFrame): Unit = {
    val rows = pairs
      .select(TxnLog.statExpr(dt, col("a")).as("sa"),
        TxnLog.statExpr(dt, col("b")).as("sb"),
        (col("a") < col("b")).as("lt"), (col("a") === col("b")).as("eq"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = TxnLog.compareStat(dt, r.getString(0), r.getString(1))
      assert(got.isDefined, s"uncomparable: ${r.getString(0)} vs ${r.getString(1)}")
      val want = if (r.getBoolean(3)) 0 else if (r.getBoolean(2)) -1 else 1
      assert(Integer.signum(got.get) == want,
        s"'${r.getString(0)}' vs '${r.getString(1)}': got ${got.get}, spark says $want")
    }
  }

  test("strings: UTF-8 byte order matches Spark, incl. surrogate pairs") {
    val alphabet = "ab09_\u00fc\u6f22\ud83d\ude00\ue000"
    def randStr() = (0 until 1 + rnd.nextInt(6))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = Seq.fill(300)((randStr(), randStr())) ++
      // the order-sensitive pair: U+E000 (3-byte UTF-8) vs U+1F600
      // (4-byte, surrogate pair) - a UTF-16 code-unit compare orders
      // them the other way round
      Seq(("\ue000", "\ud83d\ude00"), ("\ud83d\ude00", "\ue000"))
    checkPairs(StringType, pairs.toDF("a", "b"))
  }

  test("longs and ints: numeric order via the string encodings") {
    val longs = Seq.fill(300)((rnd.nextLong() % 100000L, rnd.nextLong() % 100000L)) ++
      Seq((9L, 10L), (10L, 9L), (-1L, 0L), (Long.MinValue / 2, Long.MaxValue / 2))
    checkPairs(LongType, longs.toDF("a", "b"))
    val ints = Seq.fill(200)((rnd.nextInt(), rnd.nextInt()))
    checkPairs(IntegerType,
      ints.toDF("a", "b").select(col("a").cast("int").as("a"), col("b").cast("int").as("b")))
  }

  test("doubles: scientific-notation encodings still compare numerically") {
    val ds = Seq.fill(300)((rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10),
      rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10))) ++
      Seq((1.0e10, 2.0), (2.0, 1.0e10), (-0.0015, 0.0015))
    checkPairs(DoubleType, ds.toDF("a", "b"))
  }

  test("timestamps and dates: epoch encodings are order-preserving") {
    val ts = Seq.fill(300) {
      def t() = 1500000000000000L + (rnd.nextLong() % 500000000000000L).abs
      (t(), t())
    }
    checkPairs(TimestampType, ts.toDF("ua", "ub")
      .select(timestamp_micros(col("ua")).as("a"), timestamp_micros(col("ub")).as("b")))
    // BCE dates: negative epoch days must still order numerically (a
    // lexicographic compare of "-0002-…" vs "-0001-…" inverts)
    val days = Seq.fill(200)((rnd.nextInt(40000) - 800000, rnd.nextInt(40000) - 800000))
    checkPairs(DateType, days.toDF("da", "db")
      .select(date_from_unix_date(col("da")).as("a"),
        date_from_unix_date(col("db")).as("b")))
  }

  test("timestamps across a DST fall-back order correctly in any session tz") {
    // 2026-11-01 01:30 America/Los_Angeles happens twice; the
    // session-tz STRING renderings of the two instants are equal (or
    // inverted around the transition), which is exactly the wrong-
    // prune bug the epoch encoding exists to prevent. Encode under
    // the DST zone, compare, and require agreement with instant order.
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      // 2026-11-01 08:30:00 UTC = 01:30:00 PDT; +3600s = 01:30:00 PST
      val base = 1793521800000000L
      val pairs = Seq(
        (base, base + 3600000000L), (base + 3600000000L, base),
        (base - 1800000000L, base + 1800000000L),
        (base + 5400000000L, base - 5400000000L))
      checkPairs(TimestampType, pairs.toDF("ua", "ub")
        .select(timestamp_micros(col("ua")).as("a"),
          timestamp_micros(col("ub")).as("b")))
    }
  }

  test("legacy ISO-rendered date/timestamp stats degrade to None (no prune)") {
    assert(TxnLog.compareStat(TimestampType,
      "2026-11-01 01:30:00", "2026-11-01 01:35:00").isEmpty)
    assert(TxnLog.compareStat(DateType, "2026-11-01", "2026-11-02").isEmpty)
    // the canonical epoch forms compare fine
    assert(TxnLog.compareStat(TimestampType, "1793521800000000", "1793525400000000")
      .exists(_ < 0))
    assert(TxnLog.compareStat(DateType, "-1", "3").exists(_ < 0))
  }

  test("NaN floats are uncomparable (prune must not trust them)") {
    assert(TxnLog.compareStat(DoubleType, "NaN", "1.0").isEmpty)
    assert(TxnLog.compareStat(DoubleType, "1.0", "NaN").isEmpty)
    assert(TxnLog.compareStat(DoubleType, "Infinity", "1.0").isEmpty)
  }
}
