package graft

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.binlog.{BinlogGen, BinlogParser}

/** Property-based wire round-trip for the binlog row decode: generate
  * arbitrary typed values over the encodings the reference's fixture
  * suite covers (rust-cdc `tests/test.rs`) — fsp fractional seconds,
  * NEGATIVE TIME2, BIT widths 1..64, JSON/blob payloads, both VARCHAR
  * length prefixes — encode them with the public wire layout
  * (dev.mysql.com binlog-event docs), parse the file, and compare
  * against independently-computed expected JSON. The fixed-value
  * fixtures in BinlogSpec pin known bytes; this suite walks the value
  * space.
  */
class BinlogPropertySpec extends AnyFunSuite with SharedSpark {

  // ---- wire encoders (test-side, independent of the parser) -------

  private def be(b: ByteBuffer, v: Long, n: Int): Unit =
    ((n - 1) to 0 by -1).foreach(i => b.put(((v >> (8 * i)) & 0xff).toByte))

  private def fspBytes(fsp: Int) = (fsp + 1) / 2
  private def fspMult(fb: Int): Long = fb match {
    case 1 => 10000L; case 2 => 100L; case _ => 1L
  }

  /** fsp-digit fraction f → (stored units, expected rendered digits) */
  private def frac(f: Long, fsp: Int): (Long, String) = {
    if (fsp == 0) return (0L, "")
    val micros = f * math.pow(10, 6 - fsp).toLong
    val units = micros / fspMult(fspBytes(fsp))
    (units, "%06d".format(micros).take(fsp))
  }

  final case class Time2(neg: Boolean, h: Int, m: Int, s: Int, f: Long, fsp: Int) {
    def encode(b: ByteBuffer): Unit = {
      val fb = fspBytes(fsp)
      val (units, _) = frac(f, fsp)
      val mag = ((h.toLong << 12) | (m << 6) | s) << (8 * fb) | units
      val signed = if (neg) -mag else mag
      be(b, signed + (0x800000L << (8 * fb)), 3 + fb)
    }
    def expected: String = {
      val (_, digits) = frac(f, fsp)
      val zero = h == 0 && m == 0 && s == 0 && f == 0
      val sign = if (neg && !zero) "-" else ""
      val base = "%s%02d:%02d:%02d".format(sign, h, m, s)
      "\"" + (if (fsp == 0) base else s"$base.$digits") + "\""
    }
    def nBytes: Int = 3 + fspBytes(fsp)
  }

  final case class Datetime2(y: Int, mo: Int, d: Int, h: Int, mi: Int, s: Int,
      f: Long, fsp: Int) {
    def encode(b: ByteBuffer): Unit = {
      val ymd = ((y * 13 + mo) << 5) | d
      val hms = (h << 12) | (mi << 6) | s
      be(b, (ymd.toLong << 17 | hms) + 0x8000000000L, 5)
      val (units, _) = frac(f, fsp)
      if (fsp > 0) be(b, units, fspBytes(fsp))
    }
    def expected: String = {
      val (_, digits) = frac(f, fsp)
      val base = "%04d-%02d-%02d %02d:%02d:%02d".format(y, mo, d, h, mi, s)
      "\"" + (if (fsp == 0) base else s"$base.$digits") + "\""
    }
    def nBytes: Int = 5 + fspBytes(fsp)
  }

  final case class Timestamp2(secs: Long, f: Long, fsp: Int) {
    def encode(b: ByteBuffer): Unit = {
      be(b, secs, 4)
      val (units, _) = frac(f, fsp)
      if (fsp > 0) be(b, units, fspBytes(fsp))
    }
    // TIMESTAMP2 renders as a bare number (secs[.frac])
    def expected: String = {
      val (_, digits) = frac(f, fsp)
      if (fsp == 0) secs.toString else s"$secs.$digits"
    }
    def nBytes: Int = 4 + fspBytes(fsp)
  }

  // ---- the property ------------------------------------------------

  test("property: NEWDECIMAL encode→parse round-trips over sign/precision/scale") {
    // BinlogGen.decimalBytes is the exact inverse of the parser's
    // packed-BCD decode; walk the (precision, scale, unscaled) space
    // including negatives, -0.xx magnitudes, zero, and scale 0
    import org.scalacheck.{Gen, Prop}
    val dir = tempDir("binlogdecprop").toString
    var fileNo = 0
    val gen = for {
      intg <- Gen.choose(0, 9)
      scale <- Gen.choose(if (intg == 0) 1 else 0, 9)
      bound = BigInt(10).pow(intg + scale) - 1
      mag <- Gen.choose(0L, bound.min(BigInt(Long.MaxValue)).toLong)
      neg <- Gen.oneOf(true, false)
    } yield (intg + scale, scale, if (neg) -mag else mag)
    def expected(precision: Int, scale: Int, unscaled: Long): String = {
      val negSign = if (unscaled < 0) "-" else ""
      val mag = math.abs(unscaled)
      val s10 = (0 until scale).foldLeft(1L)((a, _) => a * 10)
      val ip = mag / s10
      val base = if (precision - scale == 0) "0" else ip.toString
      if (scale > 0) s"$negSign$base." + ("%0" + scale + "d").format(mag % s10)
      else s"$negSign$base"
    }
    val prop = Prop.forAll(Gen.listOfN(20, gen).suchThat(_.nonEmpty)) { rows =>
      // one table per sample: every row shares the list head's shape
      val (precision, scale, _) = rows.head
      val shaped = rows.map { case (_, _, u) =>
        // re-bound each unscaled to THIS table's precision
        val bound = BigInt(10).pow(precision) - 1
        val m = math.abs(u) % (bound.min(BigInt(Long.MaxValue)).toLong + 1)
        if (u < 0) -m else m
      }
      fileNo += 1
      val path = s"$dir/dec-$fileNo.bin"
      BinlogGen.writeGenericFile(path, 91L, "decprop",
        Array(0xf6), Array(precision.toByte, scale.toByte),
        shaped.map(u => BinlogGen.decimalBytes(precision, scale, u)))
      val got = BinlogParser.parseFile(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
        .filter(_.op == "c").map(_.after)
      val want = shaped.map(u => s"""{"col_0":"${expected(precision, scale, u)}"}""")
      got == want
    }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(r.passed, r.status.toString)
  }

  test("property: TIME2/DATETIME2/TIMESTAMP2/BIT/JSON/VARCHAR decode round-trips") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll

    val genTime2 = for {
      fsp <- Gen.choose(0, 6); neg <- Gen.oneOf(true, false)
      h <- Gen.choose(0, 838); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
      f <- Gen.choose(0L, math.pow(10, fsp).toLong - 1)
    } yield Time2(neg, h, m, s, f, fsp)
    val genDt2 = for {
      fsp <- Gen.choose(0, 6)
      y <- Gen.choose(1, 9999); mo <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
      h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
      f <- Gen.choose(0L, math.pow(10, fsp).toLong - 1)
    } yield Datetime2(y, mo, d, h, mi, s, f, fsp)
    val genTs2 = for {
      fsp <- Gen.choose(0, 6)
      secs <- Gen.choose(0L, Int.MaxValue.toLong)
      f <- Gen.choose(0L, math.pow(10, fsp).toLong - 1)
    } yield Timestamp2(secs, f, fsp)
    val genBit = for {
      n <- Gen.choose(1, 64)
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield {
      val nbytes = (n + 7) / 8
      val raw = new Array[Byte](nbytes)
      new scala.util.Random(seed).nextBytes(raw)
      if (n % 8 != 0) raw(0) = (raw(0) & ((1 << (n % 8)) - 1)).toByte
      (n, raw)
    }
    // JSON column payloads: either VALID JSONB (encoded by
    // BinlogGen.jsonb, expected text from the independent printer
    // below — round-trip property for the Jsonb decoder) or
    // guaranteed-INVALID bytes (0xee is no JSONB type) expecting the
    // hex fallback surface. Yields (payloadBytes, expectedJsonFragment).
    def printJson(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => // integral doubles keep MySQL's "N.0" form
        if (d == d.toLong && math.abs(d) < 1e15) d.toLong.toString + ".0"
        else d.toString
      case s: String => "\"" + s + "\"" // alphanumeric-only strings
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => "\"" + k + "\":" + printJson(x) }
          .mkString("{", ",", "}")
      case s: Seq[_] => s.map(printJson).mkString("[", ",", "]")
    }
    val genJsonScalar: Gen[Any] = Gen.oneOf(
      Gen.const(null: Any),
      Gen.oneOf(true, false).map(x => x: Any),
      Gen.choose(-100000, 100000).map(x => x: Any), // int16 and int32 paths
      Gen.choose(-9000000L, 9000000L).map(l => (l * 1000003L): Any), // int64
      Gen.choose(-400, 400).map(k => (k + 0.25): Any), // double
      Gen.choose(-400, 400).map(k => (k.toDouble): Any), // integral double → "N.0"
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString: Any)))
    val genJsonDoc: Gen[(Array[Byte], String)] = Gen.oneOf(
      genJsonScalar,
      Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genJsonScalar).map(l => l: Any)),
      Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genJsonScalar).map(l =>
        scala.collection.immutable.ListMap(
          l.zipWithIndex.map { case (v, i) => s"k$i" -> v }: _*): Any)))
      .map(doc => (BinlogGen.jsonb(doc), printJson(doc)))
    val genJsonInvalid: Gen[(Array[Byte], String)] =
      Gen.choose(0, 30).flatMap(n =>
        Gen.choose(Long.MinValue, Long.MaxValue).map { seed =>
          val raw = new Array[Byte](n + 1)
          new scala.util.Random(seed).nextBytes(raw)
          raw(0) = 0xee.toByte // no such JSONB type → hex fallback
          (raw, "\"0x" + raw.map("%02x".format(_)).mkString + "\"")
        })
    val genJson = Gen.oneOf(genJsonDoc, genJsonInvalid)
    val genStr = Gen.choose(0, 50).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

    val genRow = for {
      t <- genTime2; dt <- genDt2; ts <- genTs2
      bit <- genBit; js <- genJson; s1 <- genStr; s2 <- genStr
    } yield (t, dt, ts, bit, js, s1, s2)

    var fileNo = 0
    val dir = tempDir("graft_prop_")
    val prop = forAll(Gen.nonEmptyListOf(genRow).map(_.take(5))) { rows =>
      // table: TIME2, DATETIME2, TIMESTAMP2, BIT(n), JSON,
      // VARCHAR(300) [u16 len], VARCHAR(100) [u8 len]
      // fsp/bit-width metadata comes from the FIRST row (one table map
      // per file) — encode all rows with that shape
      val shape = rows.head
      val colTypes = Array(0x13, 0x12, 0x11, 0x10, 0xf5, 0x0f, 0x0f)
      val meta = {
        val (nBits, _) = shape._4
        Array[Byte](shape._1.fsp.toByte, shape._2.fsp.toByte, shape._3.fsp.toByte,
          (nBits % 8).toByte, (nBits / 8).toByte, // BIT: bits%8, full bytes
          4.toByte, // JSON: 4 length bytes
          (300 & 0xff).toByte, (300 >> 8).toByte, // VARCHAR(300) u16 LE
          100.toByte, 0.toByte) // VARCHAR(100) u16 LE
      }
      val normRows = rows.map { case (t, dt, ts, (_, bitRaw0), js, s1, s2) =>
        // re-shape per-row variable parts to the table's metadata
        val bitRaw = {
          val (nBits, _) = shape._4
          val nbytes = (nBits + 7) / 8
          val r = java.util.Arrays.copyOf(bitRaw0, nbytes)
          if (nBits % 8 != 0) r(0) = (r(0) & ((1 << (nBits % 8)) - 1)).toByte
          r
        }
        // clamp each row's fraction into the TABLE's fsp range — f was
        // generated against the row's own fsp, and a larger f would
        // overflow the narrower fraction bytes
        def clampF(f: Long, fsp: Int): Long = f % math.pow(10, fsp).toLong.max(1)
        (t.copy(fsp = shape._1.fsp, f = clampF(t.f, shape._1.fsp)),
          dt.copy(fsp = shape._2.fsp, f = clampF(dt.f, shape._2.fsp)),
          ts.copy(fsp = shape._3.fsp, f = clampF(ts.f, shape._3.fsp)),
          bitRaw, js, s1, s2)
      }
      val rowBytes = normRows.map { case (t, dt, ts, bitRaw, js, s1, s2) =>
        val s1b = s1.getBytes("UTF-8"); val s2b = s2.getBytes("UTF-8")
        val b = ByteBuffer.allocate(t.nBytes + dt.nBytes + ts.nBytes +
          bitRaw.length + 4 + js._1.length + 2 + s1b.length + 1 + s2b.length)
          .order(ByteOrder.LITTLE_ENDIAN)
        t.encode(b); dt.encode(b); ts.encode(b)
        b.put(bitRaw)
        b.putInt(js._1.length); b.put(js._1)
        b.putShort(s1b.length.toShort); b.put(s1b) // u16 prefix (meta 300)
        b.put(s2b.length.toByte); b.put(s2b) // u8 prefix (meta 100)
        b.array()
      }
      fileNo += 1
      val path = s"$dir/prop-$fileNo.bin"
      BinlogGen.writeGenericFile(path, 90L, "prop", colTypes, meta, rowBytes)
      val events = BinlogParser.parseFile(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      val got = events.filter(_.op == "c").map(_.after)
      val want = normRows.map { case (t, dt, ts, bitRaw, js, s1, s2) =>
        def hex(a: Array[Byte]) = "\"0x" + a.map("%02x".format(_)).mkString + "\""
        s"""{"col_0":${t.expected},"col_1":${dt.expected},"col_2":${ts.expected},""" +
          s""""col_3":${hex(bitRaw)},"col_4":${js._2},""" +
          s""""col_5":"$s1","col_6":"$s2"}"""
      }
      got == want
    }
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(150), prop)
    assert(r.passed, r.status.toString)
  }
}
