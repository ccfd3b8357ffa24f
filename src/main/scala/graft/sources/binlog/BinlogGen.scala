package graft.sources.binlog

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Deterministic MySQL binlog v4 file generator — the write side of
  * the public format [[BinlogParser]] reads. Used for round-trip
  * parser tests and for throughput benchmarking at realistic volumes
  * (the reference's headline workload is exactly this: parsing a
  * binlog event stream).
  *
  * Layout per file: magic, FORMAT_DESCRIPTION (no checksum), one
  * TABLE_MAP for `gen.gen (id INT, title VARCHAR(160))`, then
  * WRITE_ROWS_V2 events of `rowsPerEvent` rows each, one XID per
  * event. All timestamps fixed → byte-identical output across runs.
  * [[writeReferenceFixtures]] alone writes server-shaped files
  * (MySQL 8.0.21 FDE, GTID events, CRC32 trailers).
  */
object BinlogGen {

  val TableId = 77L
  private val Ts = 1700000000L // fixed
  private val ServerId = 1L

  /** Shared fixture-file scaffold: magic + `fde`, then each emitted
    * event threaded through [[writeEvent]] position accounting; with
    * `checksum` every event, the FDE included, carries a CRC32
    * trailer.
    */
  private def withBinlog(
      path: String, fde: Array[Byte] = fdeBody(), checksum: Boolean = false)(
      body: ((Int, Array[Byte]) => Unit) => Unit): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      out.write(BinlogParser.Magic)
      var pos = 4L
      def emit(eventType: Int, eventBody: Array[Byte]): Unit =
        pos = writeEvent(out, pos, eventType, eventBody, checksum)
      emit(0x0f, fde)
      body(emit)
    } finally out.close()
  }

  def writeFile(path: String, nRows: Int, rowsPerEvent: Int = 100): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, tableMapBody())
      var written = 0
      var rowId = 1
      while (written < nRows) {
        val n = math.min(rowsPerEvent, nRows - written)
        emit(0x1e, writeRowsBody(rowId, n))
        emit(0x10, xidBody(rowId.toLong))
        rowId += n
        written += n
      }
    }
  }

  /** Latin1-charset table: `gen.latin (id INT, name VARCHAR(160)
    * CHARSET latin1)` — the TABLE_MAP carries a DEFAULT_CHARSET
    * optional-metadata block (collation 8 = latin1_swedish_ci) and
    * the row strings are latin1-ENCODED bytes, plus v0/v1 rows-event
    * headers for the named-skip path. Round-trip proves the parser
    * honors TABLE_MAP charset metadata instead of assuming UTF-8.
    */
  val Latin1TableId = 81L

  def writeCharsetFile(path: String, names: Seq[String]): Unit = {
    withBinlog(path) { emit =>
      emit(0x13,
        charsetTableMapBody(Latin1TableId, "latin", 8))
      emit(0x1e, charsetRowsBody(Latin1TableId, names,
        java.nio.charset.StandardCharsets.ISO_8859_1))
      // a v1 write-rows event against the same table — its row image
      // must decode through the shared v1|v2 path WITH the latin1
      // charset metadata applied (and surface as WRITE_ROWS_V1)
      emit(0x17, v1Body(Latin1TableId, update = false, Seq(
        rowImage(names.length + 1, "v1-æé",
          java.nio.charset.StandardCharsets.ISO_8859_1))))
      emit(0x10, xidBody(7L))
    }
  }

  /** CJK/UTF-family charset tables: `gen.gbk` (collation 28 =
    * gbk_chinese_ci, multibyte) and `gen.utf16` (collation 54 =
    * utf16_general_ci, fixed-width big-endian) — round-trip proof
    * that the parser's collation table covers the reference's
    * non-latin families (rust-cdc `src/mysql/collation.rs`), where
    * decoding as UTF-8 would produce mojibake.
    */
  val GbkTableId = 82L
  val Utf16TableId = 83L

  def writeCjkCharsetFile(
      path: String, gbkNames: Seq[String], utf16Names: Seq[String]): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, charsetTableMapBody(GbkTableId, "gbk", 28))
      emit(0x1e, charsetRowsBody(GbkTableId, gbkNames,
        java.nio.charset.Charset.forName("GBK")))
      // utf16 VARCHAR(160) has meta 640 (4 bytes/char max in MySQL):
      // > 255, so these rows carry the 2-byte value length prefix —
      // the branch every real multibyte production binlog exercises
      emit(0x13,
        charsetTableMapBody(Utf16TableId, "utf16", 54, maxLen = 640))
      emit(0x1e, charsetRowsBody(Utf16TableId, utf16Names,
        java.nio.charset.StandardCharsets.UTF_16BE, maxLen = 640))
      emit(0x10, xidBody(9L))
    }
  }

  /** TABLE_MAP for `gen.<table> (id INT, name VARCHAR)` whose
    * DEFAULT_CHARSET optional-metadata TLV carries `collationId`;
    * `maxLen` is the column's max BYTE length (the VARCHAR meta) —
    * above 255 it switches the rows to the protocol's 2-byte value
    * length prefix, the branch real multibyte charsets hit (a
    * VARCHAR(160) utf16 column has meta 640). */
  private def charsetTableMapBody(
      tableId: Long, tableName: String, collationId: Int,
      maxLen: Int = 160): Array[Byte] = {
    require(collationId < 251, "lenenc single-byte collation only")
    val schema = "gen".getBytes("UTF-8")
    val table = tableName.getBytes("UTF-8")
    // optional metadata TLV: DEFAULT_CHARSET(2), len 1, collation id
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + table.length + 1 +
      1 + 2 + 1 + 2 + 1 + 3).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(table.length.toByte); b.put(table); b.put(0.toByte)
    b.put(2.toByte) // col count (lenenc, < 251)
    b.put(0x03.toByte); b.put(0x0f.toByte) // LONG, VARCHAR
    b.put(2.toByte) // meta block length (lenenc)
    b.putShort(maxLen.toShort) // VARCHAR max length u16 LE
    b.put(0.toByte) // nullability bitmap
    b.put(2.toByte) // TLV type: DEFAULT_CHARSET
    b.put(1.toByte) // TLV length (lenenc)
    b.put(collationId.toByte) // default collation (lenenc)
    b.array()
  }

  private def charsetRowsBody(
      tableId: Long, names: Seq[String],
      charset: java.nio.charset.Charset,
      maxLen: Int = 160): Array[Byte] = {
    // the value length prefix width follows the column's meta, the
    // same rule the parser applies: 2 bytes when maxLen > 255, else 1
    val wide = maxLen > 255
    val rows = names.zipWithIndex.map { case (name, i) =>
      val raw = name.getBytes(charset)
      require(raw.length <= maxLen,
        s"charset fixture name encodes to ${raw.length} bytes > VARCHAR($maxLen)")
      val r = ByteBuffer.allocate(1 + 4 + (if (wide) 2 else 1) + raw.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      r.put(0.toByte) // null bitmap: none null
      r.putInt(i + 1)
      if (wide) r.putShort(raw.length.toShort) else r.put(raw.length.toByte)
      r.put(raw)
      r.array()
    }
    val rowBytes = rows.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + 1 + rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.putShort(2) // extra data length (just itself)
    b.put(2.toByte) // col count lenenc
    b.put(0x03.toByte) // columns-present bitmap: both
    rows.foreach(b.put)
    b.array()
  }

  /** FDE + one USER_VAR event per (name, typed value); None = SQL
    * NULL. Mirrors the reference's UserVar event surface.
    */
  def writeUserVarFile(path: String, vars: Seq[(String, Option[Any])]): Unit = {
    withBinlog(path) { emit =>
      vars.foreach { case (name, v) =>
        emit(0x0e, userVarBody(name, v))
      }
    }
  }

  private def userVarBody(name: String, value: Option[Any]): Array[Byte] = {
    val n = name.getBytes("UTF-8")
    val payload: Array[Byte] = value match {
      case None => Array.empty
      case Some(s: String) => s.getBytes("UTF-8")
      case Some(d: Double) =>
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(java.lang.Double.doubleToLongBits(d)).array()
      case Some(l: Long) =>
        ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array()
      case Some(other) => sys.error(s"unsupported user var type: $other")
    }
    val vType = value match {
      case Some(_: String) => 0; case Some(_: Double) => 1; case _ => 2
    }
    val b = ByteBuffer.allocate(4 + n.length + 1 +
      (if (value.isEmpty) 0 else 1 + 4 + 4 + payload.length))
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(n.length); b.put(n)
    b.put(if (value.isEmpty) 1.toByte else 0.toByte) // is_null
    if (value.nonEmpty) {
      b.put(vType.toByte)
      b.putInt(33) // charset (utf8mb3_general_ci)
      b.putInt(payload.length)
      b.put(payload)
    }
    b.array()
  }

  private def writeEvent(
      out: BufferedOutputStream, pos: Long, eventType: Int, body: Array[Byte],
      checksum: Boolean): Long = {
    val size = 19 + body.length + (if (checksum) 4 else 0)
    val h = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
    h.putInt(Ts.toInt)
    h.put(eventType.toByte)
    h.putInt(ServerId.toInt)
    h.putInt(size)
    h.putInt((pos + size).toInt) // log_pos = end of this event
    h.putShort(0)
    out.write(h.array())
    out.write(body)
    if (checksum) { // CRC32 over header + body, u32 LE
      val crc = new java.util.zip.CRC32
      crc.update(h.array()); crc.update(body)
      out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(crc.getValue.toInt).array())
    }
    pos + size
  }

  /** FORMAT_DESCRIPTION body. The default is the generator's own FDE:
    * 39 post-header lengths, checksum algorithm 0 (none). `checksum`
    * lays out an 8.0.20+ server's FDE instead: one post-header length
    * per event type 1..40, then algorithm 1 (CRC32). Post-header
    * lengths are written as zero: the parser reads each event type's
    * fixed layout.
    */
  private def fdeBody(
      serverVersion: String = "8.0.99-graftgen",
      checksum: Boolean = false): Array[Byte] = {
    val nTypes = if (checksum) 40 else 39
    val b = ByteBuffer.allocate(2 + 50 + 4 + 1 + nTypes + 1).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(4) // binlog_version
    val ver = serverVersion.getBytes("UTF-8")
    b.put(ver); b.put(new Array[Byte](50 - ver.length)) // null-padded
    b.putInt(0) // create_timestamp
    b.put(19.toByte) // header length
    b.put(new Array[Byte](nTypes)) // post-header lengths
    b.put((if (checksum) 1 else 0).toByte) // checksum algorithm
    b.array()
  }

  private def tableMapBody(): Array[Byte] = namedTableMapBody(TableId, "gen")

  /** `gen.<name> (id INT, title VARCHAR(160))` table map for an
    * arbitrary (tableId, name) — the multi-table routed stream emits
    * several of these interleaved, as a real server does. */
  private def namedTableMapBody(tableId: Long, name: String): Array[Byte] = {
    val schema = "gen".getBytes("UTF-8")
    val table = name.getBytes("UTF-8")
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + table.length + 1 +
      1 + 2 + 1 + 2 + 1).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(table.length.toByte); b.put(table); b.put(0.toByte)
    b.put(2.toByte) // col count (lenenc, < 251)
    b.put(0x03.toByte); b.put(0x0f.toByte) // LONG, VARCHAR
    b.put(2.toByte) // meta block length (lenenc)
    b.putShort(160) // VARCHAR max length u16 LE
    b.put(0.toByte) // nullability bitmap
    b.array()
  }

  /** One `gen.gen`-shaped row image: null bitmap (none null), INT id,
    * 1-byte-length-prefixed string in `charset`. */
  private def rowImage(
      id: Int, title: String,
      charset: java.nio.charset.Charset =
        java.nio.charset.StandardCharsets.UTF_8): Array[Byte] = {
    val t = title.getBytes(charset)
    val r = ByteBuffer.allocate(1 + 4 + 1 + t.length).order(ByteOrder.LITTLE_ENDIAN)
    r.put(0.toByte) // null bitmap: none null
    r.putInt(id)
    r.put(t.length.toByte); r.put(t)
    r.array()
  }

  /** v1 rows-event body (0x17-0x19): the v2 body MINUS the extra-data
    * field. `images` are pre-built row images — for update (0x18)
    * pass them as (before, after) pairs flattened in order.
    */
  private def v1Body(
      tableId: Long, update: Boolean, images: Seq[Array[Byte]]): Array[Byte] = {
    val rowBytes = images.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 1 + (if (update) 2 else 1) + rowBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.put(2.toByte) // col count lenenc
    b.put(0x03.toByte) // columns-present bitmap (image 1)
    if (update) b.put(0x03.toByte) // columns-present bitmap (image 2)
    images.foreach(b.put)
    b.array()
  }

  /** v1 twin of the [[writeFile]] stream: TABLE_MAP, then
    * WRITE/UPDATE/DELETE_ROWS **V1** over `gen.gen` with the same row
    * payload bytes the v2 writer emits — so a spec can pin that the
    * shared decode path yields byte-identical row images for both
    * versions (MariaDB 10.x / MySQL <=5.5 parity, reference
    * event/mod.rs:190-198).
    */
  def writeV1File(path: String, nRows: Int): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, tableMapBody())
      emit(0x17, v1Body(TableId, update = false,
        (1 to nRows).map(i => rowImage(i, s"row-$i"))))
      emit(0x18, v1Body(TableId, update = true,
        (1 to nRows).flatMap(i =>
          Seq(rowImage(i, s"row-$i"), rowImage(i, s"upd-$i")))))
      emit(0x19, v1Body(TableId, update = false,
        (1 to nRows).map(i => rowImage(i, s"upd-$i"))))
      emit(0x10, xidBody(1L))
    }
  }

  /** v2 twin of [[writeV1File]]'s update/delete tail — same row
    * payloads through the v2 event types, for the v1 == v2 pin. */
  def writeV2TwinFile(path: String, nRows: Int): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, tableMapBody())
      emit(0x1e, writeRowsBody(1, nRows))
      emit(0x1f, v2Body(TableId, update = true,
        (1 to nRows).flatMap(i =>
          Seq(rowImage(i, s"row-$i"), rowImage(i, s"upd-$i")))))
      emit(0x20, v2Body(TableId, update = false,
        (1 to nRows).map(i => rowImage(i, s"upd-$i"))))
      emit(0x10, xidBody(1L))
    }
  }

  /** v2 rows-event body from pre-built images (v1Body + extra-data). */
  private def v2Body(
      tableId: Long, update: Boolean, images: Seq[Array[Byte]]): Array[Byte] = {
    val rowBytes = images.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + (if (update) 2 else 1) + rowBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.putShort(2) // extra data length (just itself)
    b.put(2.toByte) // col count lenenc
    b.put(0x03.toByte)
    if (update) b.put(0x03.toByte)
    images.foreach(b.put)
    b.array()
  }

  private def writeRowsBody(firstId: Int, n: Int): Array[Byte] =
    namedRowsBody(TableId, firstId, n)

  private def namedRowsBody(tableId: Long, firstId: Int, n: Int): Array[Byte] = {
    val rows = (0 until n).map(i => rowImage(firstId + i, s"row-${firstId + i}"))
    val rowBytes = rows.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + 1 + rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1) // flags
    b.putShort(2) // extra data length (just itself)
    b.put(2.toByte) // col count lenenc
    b.put(0x03.toByte) // columns-present bitmap: both (bits 0,1)
    rows.foreach(b.put)
    b.array()
  }

  /** Routed multi-table stream: `nTxns` transactions starting at
    * `firstTxn` (global index — rotation across files keeps the
    * round-robin phase), each touching ONE of `tables` round-robin:
    * TABLE_MAP + WRITE_ROWS_V2 + XID per transaction, the interleaved
    * shape a real server's binlog has when several tables commit
    * (rust-cdc routes these via table_maps + MatchStrategy,
    * src/mysql/conn.rs:181-268). Row ids are globally unique:
    * id = txn · rowsPerTxn + j, j in [1, rowsPerTxn].
    */
  def writeRoutedFile(
      path: String,
      tables: Seq[(Long, String)],
      firstTxn: Long,
      nTxns: Int,
      rowsPerTxn: Int): Unit = {
    withBinlog(path) { emit =>
      (0 until nTxns).foreach { t =>
        val txn = firstTxn + t
        val (tid, name) = tables((txn % tables.size).toInt)
        emit(0x13, namedTableMapBody(tid, name))
        emit(0x1e, namedRowsBody(tid, (txn * rowsPerTxn + 1).toInt, rowsPerTxn))
        emit(0x10, xidBody(txn + 1))
      }
    }
  }

  /** A second table exercising the metadata-bearing types: BIT(9),
    * ENUM (1-byte pack), SET (2-byte pack), DATE. One WRITE_ROWS
    * event with `n` rows.
    */
  val TypedTableId = 78L

  /** Control-event stream: rows, then HEARTBEAT (idle-master
    * keep-alive carrying log_ident), IGNORABLE, INCIDENT (possible
    * replica divergence: number + message), STOP — the reference's
    * control surface (rust-cdc `src/mysql/event/mod.rs:287,301-338`)
    * for the typed-row decode + DLQ-surfacing specs.
    */
  val HeartbeatIdent = "mysql-bin.000042"

  def writeControlFile(path: String, nRows: Int = 10): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, tableMapBody())
      emit(0x1e, writeRowsBody(1, nRows))
      emit(0x10, xidBody(1L))
      emit(0x1b, HeartbeatIdent.getBytes("UTF-8"))
      emit(0x1c, Array.empty[Byte])
      emit(0x1a, incidentBody(1, "binlog gap on master"))
      emit(0x03, Array.empty[Byte])
    }
  }

  /** Replica-loop stream: per transaction, GTID(uuid:gno) +
    * TABLE_MAP + WRITE_ROWS_V2 (`rowsPerTxn` rows) + XID — with
    * xid == gno by construction, so transaction assembly and
    * GTID-resume skip agree on the transaction id. Row ids are
    * globally unique across files: txn `gno` covers ids
    * (gno-1)*rowsPerTxn+1 .. gno*rowsPerTxn.
    */
  def writeReplicaFile(
      path: String, firstGno: Long, nTxns: Int, rowsPerTxn: Int): Unit = {
    withBinlog(path) { emit =>
      (0 until nTxns).foreach { t =>
        val gno = firstGno + t
        emit(0x21, gtidBody(gno))
        emit(0x13, tableMapBody())
        val firstId = ((gno - 1) * rowsPerTxn + 1).toInt
        emit(0x1e, writeRowsBody(firstId, rowsPerTxn))
        emit(0x10, xidBody(gno))
      }
    }
  }

  private def gtidBody(gno: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(1 + 16 + 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte) // commit flag
    b.put(new Array[Byte](15)); b.put(1.toByte) // sid ...0001
    b.putLong(gno)
    b.array()
  }

  private def incidentBody(num: Int, msg: String): Array[Byte] = {
    val m = msg.getBytes("UTF-8")
    val b = ByteBuffer.allocate(2 + 1 + m.length).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(num.toShort); b.put(m.length.toByte); b.put(m)
    b.array()
  }

  def writeTypedFile(path: String, n: Int): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, typedTableMapBody())
      emit(0x1e, typedRowsBody(n))
      emit(0x10, xidBody(1L))
    }
  }

  private def typedTableMapBody(): Array[Byte] = {
    val schema = "gen".getBytes("UTF-8")
    val table = "typed".getBytes("UTF-8")
    // cols: INT(0x03), BIT(0x10, meta 1,1 → 9 bits), ENUM(0xfe, meta f7 01),
    //       SET(0xfe, meta f8 02), DATE(0x0a)
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + table.length + 1 +
      1 + 5 + 1 + 6 + 1).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TypedTableId)
    b.putShort(1)
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(table.length.toByte); b.put(table); b.put(0.toByte)
    b.put(5.toByte) // col count
    b.put(Array[Byte](0x03, 0x10, 0xfe.toByte, 0xfe.toByte, 0x0a))
    b.put(6.toByte) // meta block length
    b.put(1.toByte); b.put(1.toByte) // BIT(9): bits%8=1, bytes=1
    b.put(0xf7.toByte); b.put(1.toByte) // ENUM, 1-byte pack
    b.put(0xf8.toByte); b.put(2.toByte) // SET, 2-byte pack
    b.put(0.toByte) // nullability
    b.array()
  }

  private def typedRowsBody(n: Int): Array[Byte] = {
    val rows = (1 to n).map { i =>
      val r = ByteBuffer.allocate(1 + 4 + 2 + 1 + 2 + 3).order(ByteOrder.LITTLE_ENDIAN)
      r.put(0.toByte) // null bitmap
      r.putInt(i) // INT
      r.put(((i >> 8) & 1).toByte); r.put((i & 0xff).toByte) // BIT(9): 2 bytes
      r.put((1 + i % 3).toByte) // ENUM index
      r.putShort((i % 7).toShort) // SET bitmask (2 bytes LE)
      val (y, m, d) = (2024, 1 + i % 12, 1 + i % 28)
      val packed = d | (m << 5) | (y << 9)
      r.put((packed & 0xff).toByte)
      r.put(((packed >> 8) & 0xff).toByte)
      r.put(((packed >> 16) & 0xff).toByte)
      r.array()
    }
    val rowBytes = rows.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + 1 + rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TypedTableId)
    b.putShort(1)
    b.putShort(2)
    b.put(5.toByte)
    b.put(0x1f.toByte) // all 5 columns present
    rows.foreach(b.put)
    b.array()
  }

  /** A third table exercising the temporal2 fractional encodings,
    * blob-like JSON/GEOMETRY payloads, and the legacy temporal types:
    * INT, DATETIME2(3), TIMESTAMP2(2), TIME2(0), JSON, GEOMETRY,
    * legacy TIME, legacy DATETIME. Values fixed per row (id varies)
    * so the spec can assert exact decode output.
    */
  val TemporalTableId = 79L

  def writeTemporalFile(path: String, n: Int): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, temporalTableMapBody())
      emit(0x1e, temporalRowsBody(n))
      emit(0x10, xidBody(1L))
    }
  }

  private def temporalTableMapBody(): Array[Byte] = {
    val schema = "gen".getBytes("UTF-8")
    val table = "temporal".getBytes("UTF-8")
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + table.length + 1 +
      1 + 10 + 1 + 5 + 2).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TemporalTableId)
    b.putShort(1)
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(table.length.toByte); b.put(table); b.put(0.toByte)
    b.put(10.toByte) // col count
    b.put(Array[Byte](0x03, 0x12, 0x11, 0x13, 0xf5.toByte, 0xff.toByte,
      0x0b, 0x0c, 0x0b, 0x0d))
    b.put(5.toByte) // meta block length
    b.put(3.toByte) // DATETIME2 fsp=3
    b.put(2.toByte) // TIMESTAMP2 fsp=2
    b.put(0.toByte) // TIME2 fsp=0
    b.put(4.toByte) // JSON: 4 length bytes
    b.put(4.toByte) // GEOMETRY: 4 length bytes
    b.put(0.toByte) // nullability
    b.array()
  }

  private def putBE(b: ByteBuffer, v: Long, nBytes: Int): Unit =
    ((nBytes - 1) to 0 by -1).foreach(i => b.put(((v >> (8 * i)) & 0xff).toByte))

  private def temporalRowsBody(n: Int): Array[Byte] = {
    // WKB point(1.0, 2.0): byte-order 01, type 1, x, y — 21 bytes
    val wkb = {
      val g = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
      g.put(1.toByte); g.putInt(1); g.putDouble(1.0); g.putDouble(2.0)
      g.array()
    }
    val json = Array[Byte](0x01, 0x02) // opaque JSONB payload
    val rows = (1 to n).map { i =>
      val r = ByteBuffer.allocate(2 + 4 + 7 + 5 + 3 + (4 + json.length) +
        (4 + wkb.length) + 3 + 8 + 3 + 1).order(ByteOrder.LITTLE_ENDIAN)
      r.put(0.toByte); r.put(0.toByte) // null bitmap (10 cols -> 2 bytes)
      r.putInt(i)
      // DATETIME2(3): 2024-01-02 03:04:05.678
      val ymd = (2024 * 13 + 1) << 5 | 2
      val hms = (3 << 12) | (4 << 6) | 5
      putBE(r, (ymd.toLong << 17 | hms) + 0x8000000000L, 5)
      putBE(r, 6780L, 2) // .678 s in 100µs units
      // TIMESTAMP2(2): epoch 1700000000, .25 s
      putBE(r, 1700000000L, 4)
      putBE(r, 25L, 1)
      // TIME2(0): 12:34:56
      putBE(r, ((12 << 12) | (34 << 6) | 56) + 0x800000L, 3)
      // JSON: 4-byte LE length + payload
      r.putInt(json.length); r.put(json)
      // GEOMETRY: 4-byte LE length + WKB
      r.putInt(wkb.length); r.put(wkb)
      // legacy TIME 09:34:56 → 93456 as 3-byte LE
      val t = 93456
      r.put((t & 0xff).toByte); r.put(((t >> 8) & 0xff).toByte); r.put(((t >> 16) & 0xff).toByte)
      // legacy DATETIME 2024-01-02 03:04:05 → 8-byte LE
      r.putLong(20240102030405L)
      // legacy TIME -01:00:00 → SIGNED -10000 as 3-byte two's complement
      val neg = -10000
      r.put((neg & 0xff).toByte); r.put(((neg >> 8) & 0xff).toByte)
      r.put(((neg >> 16) & 0xff).toByte)
      // YEAR zero value = the year 0000, NOT 1900
      r.put(0.toByte)
      r.array()
    }
    val rowBytes = rows.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + 2 + rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, TemporalTableId)
    b.putShort(1)
    b.putShort(2)
    b.put(10.toByte)
    b.put(0xff.toByte); b.put(0x03.toByte) // all 10 columns present
    rows.foreach(b.put)
    b.array()
  }

  /** A fourth table exercising the NUMERIC/BLOB decode families the
    * typed/temporal fixtures skip: NEWDECIMAL(12,4) (packed BCD,
    * positive), FLOAT, DOUBLE, NEWDECIMAL(8,2) (crosses zero at
    * id=150, pinning the sign/inversion path), BLOB (2 length
    * bytes). Values are formula-of-row-id so the DuckDB oracle
    * re-derives every cell — a one-bit slip in the BCD group packing
    * or IEEE read is a hash mismatch, not a pin drift.
    */
  val NumericTableId = 80L

  def writeNumericFile(path: String, n: Int): Unit = {
    val rows = (1 to n).map { i =>
      val blob = s"blob-$i".getBytes("UTF-8")
      val r = ByteBuffer.allocate(4 + 6 + 4 + 8 + 4 + 2 + blob.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      r.putInt(i)
      r.put(decimalBytes(12, 4, i.toLong * 98765L + 4321L))
      r.putFloat(i + 0.5f)
      r.putDouble(i * 1024.0 + 0.125)
      r.put(decimalBytes(8, 2, 14975L - i.toLong * 100L))
      r.putShort(blob.length.toShort) // BLOB: 2 LE length bytes
      r.put(blob)
      r.array()
    }
    writeGenericFile(path, NumericTableId, "numeric",
      Array(0x03, 0xf6, 0x04, 0x05, 0xf6, 0xfc),
      Array[Byte](12, 4, /*float pack*/ 4, /*double pack*/ 8, 8, 2, 2),
      rows)
  }

  /** MySQL NEWDECIMAL wire encoding (single-group form, intg ≤ 9 and
    * scale ≤ 9 digits): big-endian int group then frac group, sign
    * as top-bit XOR on the first byte, negative values stored as the
    * bitwise complement of the magnitude — the exact inverse of the
    * parser's decodeDecimal (public packed-BCD layout).
    */
  private[graft] def decimalBytes(precision: Int, scale: Int, unscaled: Long): Array[Byte] = {
    val bytesForDigits = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)
    val intg = precision - scale
    require(intg <= 9 && scale <= 9, "generator supports single-group decimals")
    val neg = unscaled < 0
    val mag = math.abs(unscaled)
    val scale10 = (0 until scale).foldLeft(1L)((a, _) => a * 10)
    val ib = bytesForDigits(intg); val fb = bytesForDigits(scale)
    val out = new Array[Byte](ib + fb)
    var v = mag / scale10
    ((ib - 1) to 0 by -1).foreach { i => out(i) = (v & 0xff).toByte; v >>= 8 }
    var f = mag % scale10
    ((ib + fb - 1) to ib by -1).foreach { i => out(i) = (f & 0xff).toByte; f >>= 8 }
    if (neg) out.indices.foreach(i => out(i) = (~out(i)).toByte)
    out(0) = (out(0) ^ 0x80).toByte
    out
  }

  /** Fully parametric single-table file — the property-based
    * round-trip surface: arbitrary column types/metadata and
    * pre-encoded row values (concatenated wire bytes per row, no
    * null bitmap — the writer prepends an all-present, none-null
    * image header). One TABLE_MAP + one WRITE_ROWS_V2 + XID.
    */
  def writeGenericFile(
      path: String,
      tableId: Long,
      table: String,
      colTypes: Array[Int],
      metaBytes: Array[Byte],
      rowValues: Seq[Array[Byte]]): Unit = {
    withBinlog(path) { emit =>
      emit(0x13,
        genericTableMapBody(tableId, table, colTypes, metaBytes))
      emit(0x1e,
        genericRowsBody(tableId, colTypes.length, rowValues))
      emit(0x10, xidBody(1L))
    }
  }

  /** TABLE_MAP for `<schema>.<table>`; `nullable(i)` marks column i
    * nullable (default: none). */
  private def genericTableMapBody(
      tableId: Long, table: String,
      colTypes: Array[Int], metaBytes: Array[Byte],
      schemaName: String = "gen",
      nullable: Int => Boolean = _ => false): Array[Byte] = {
    val schema = schemaName.getBytes("UTF-8")
    val tbl = table.getBytes("UTF-8")
    val nCols = colTypes.length
    require(nCols < 251 && metaBytes.length < 251)
    val nullBits = new Array[Byte]((nCols + 7) / 8)
    (0 until nCols).filter(nullable).foreach(i =>
      nullBits(i / 8) = (nullBits(i / 8) | (1 << (i % 8))).toByte)
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + tbl.length + 1 +
      1 + nCols + 1 + metaBytes.length + nullBits.length).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1)
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(tbl.length.toByte); b.put(tbl); b.put(0.toByte)
    b.put(nCols.toByte)
    colTypes.foreach(t => b.put(t.toByte))
    b.put(metaBytes.length.toByte)
    b.put(metaBytes)
    b.put(nullBits)
    b.array()
  }

  /** v2 rows-event body with every column present in every image;
    * for an update (`update`), `rowValues` are (before, after) pairs
    * flattened in order. */
  private def genericRowsBody(
      tableId: Long, nCols: Int, rowValues: Seq[Array[Byte]],
      update: Boolean = false): Array[Byte] = {
    val nullLen = (nCols + 7) / 8
    val rowBytes = rowValues.map(_.length + nullLen).sum
    val presentLen = (nCols + 7) / 8
    val nPresent = if (update) 2 else 1
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + nPresent * presentLen + rowBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, tableId)
    b.putShort(1)
    b.putShort(2) // extra data length (just itself)
    b.put(nCols.toByte) // col count lenenc (< 251)
    (1 to nPresent).foreach(_ => // all columns present
      b.put(Array.fill(presentLen)(0xff.toByte)))
    rowValues.foreach { v =>
      b.put(new Array[Byte](nullLen)) // null bitmap: none null
      b.put(v)
    }
    b.array()
  }

  // --- reference fixtures: binlogs as a MySQL 8.0.21 server writes them

  /** Writes the eight binlog fixtures the binlog specs and the
    * cdc_binlog_source / _stream / _pushdown and cdc_txn_assemble
    * entries read, as `<dir>/<fixture>/<file>`, each with the
    * `sql.sql` whose statements it logs. Every file is laid out as a
    * MySQL 8.0.21 server with binlog_format=ROW and
    * binlog_checksum=CRC32 writes it: a binlog v4 FDE (server
    * `8.0.21`, CRC32), a PREVIOUS_GTIDS event, then per transaction a
    * GTID event (ANONYMOUS_GTID under gtid_mode=OFF) and its QUERY /
    * TABLE_MAP / rows v2 / XID events, each with a CRC32 trailer.
    * TABLE_MAPs carry no optional-metadata block. The test resources
    * `binlog/events` hold these bytes; BinlogSpec checks them against
    * this writer.
    */
  def writeReferenceFixtures(dir: String): Unit =
    ReferenceFixtures.foreach { f =>
      val d = java.nio.file.Paths.get(dir, f.name)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("sql.sql"), f.sql)
      withBinlog(d.resolve(f.file).toString,
        fdeBody("8.0.21", checksum = true), checksum = true) { emit =>
        emit(0x23, previousGtidsBody(f.executed))
        f.txns.zipWithIndex.foreach { case (t, i) =>
          val rest = t.events.map { case (_, b) => 19 + b.length + 4 }.sum
          emit(if (t.gno == 0) 0x22 else 0x21, gtid80Body(t.gno, i + 1L, rest))
          t.events.foreach { case (et, b) => emit(et, b) }
        }
        f.tail.foreach { case (et, b) => emit(et, b) }
      }
    }

  /** A transaction's events after its GTID event; `gno` 0 is the
    * ANONYMOUS_GTID of a gtid_mode=OFF server. */
  private final case class ServerTxn(events: Seq[(Int, Array[Byte])], gno: Long = 0L)

  /** `executed`: the PREVIOUS_GTIDS set, half-open gno intervals
    * under [[ServerSid]]; `tail`: events after the last transaction. */
  private final case class RefFixture(
      name: String, file: String, sql: String, txns: Seq[ServerTxn],
      executed: Seq[(Long, Long)] = Nil, tail: Seq[(Int, Array[Byte])] = Nil)

  private val RefSchema = "rustcdc"
  /** `rustcdc.rustcdc (id INT NOT NULL, name VARCHAR(40))`; utf8mb4
    * makes the VARCHAR's byte length (its meta) 160. */
  private val RefTableId = 71L
  /** the nine-column `rustcdc.rustcdc` of 31_update_rows_v2 */
  private val RefWideTableId = 72L
  private val ServerSid: Array[Byte] = {
    val u = java.util.UUID.fromString("3e11fa47-71ca-11e1-9e33-c80aa9429562")
    ByteBuffer.allocate(16).putLong(u.getMostSignificantBits)
      .putLong(u.getLeastSignificantBits).array()
  }

  private val DropRef = "DROP TABLE IF EXISTS `rustcdc`"
  private val CreatePair =
    "CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, `name` VARCHAR(40))"
  private val CreateWide =
    "CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, `name` VARCHAR(40), " +
      "`i8` TINYINT, `i16` SMALLINT, `i24` MEDIUMINT, `i64` BIGINT, " +
      "`f` FLOAT, `d` DOUBLE, `num` DECIMAL(10,4))"

  private def sqlFile(file: String, gtidMode: Boolean, statements: String*): String =
    (Seq(
      s"-- Statements logged in $file by MySQL 8.0.21",
      "-- (binlog_format=ROW, binlog_checksum=CRC32, " +
        (if (gtidMode) "gtid_mode=ON," else "gtid_mode=OFF: each transaction"),
      if (gtidMode) "-- server_uuid 3e11fa47-71ca-11e1-9e33-c80aa9429562)."
      else "-- opens with an ANONYMOUS_GTID).",
      "USE rustcdc;") ++ statements).mkString("", "\n", "\n")

  private lazy val ReferenceFixtures: Seq[RefFixture] = Seq(
    RefFixture("15_format_desc", "binlog.000002",
      sqlFile("binlog.000002", gtidMode = false,
        "-- binlog.000002 holds only its FORMAT_DESCRIPTION and",
        "-- PREVIOUS_GTIDS until this flush logs a ROTATE to binlog.000003.",
        "FLUSH BINARY LOGS;"),
      txns = Nil, tail = Seq(0x04 -> rotateBody(4L, "binlog.000003"))),
    RefFixture("16_xid", "binlog.000002",
      sqlFile("binlog.000002", gtidMode = false,
        "INSERT INTO `rustcdc` VALUES (1, 'cdc-1'); -- xid 852"),
      Seq(insertTxn(852L, 1 -> "cdc-1"))),
    RefFixture("19_table_map", "mysql-bin.000002",
      sqlFile("mysql-bin.000002", gtidMode = false,
        "INSERT INTO `rustcdc` VALUES (1, 'cdc-1'); -- xid 331",
        "INSERT INTO `rustcdc` VALUES (2, 'cdc-2'); -- xid 357"),
      Seq(insertTxn(331L, 1 -> "cdc-1"), insertTxn(357L, 2 -> "cdc-2"))),
    RefFixture("30_write_rows_v2", "mysql-bin.000002",
      sqlFile("mysql-bin.000002", gtidMode = false,
        "INSERT INTO `rustcdc` VALUES (1, 'cdc-1'), (2, 'cdc-2'); -- xid 15"),
      Seq(insertTxn(15L, 1 -> "cdc-1", 2 -> "cdc-2"))),
    RefFixture("31_update_rows_v2", "mysql-bin.000001",
      sqlFile("mysql-bin.000001", gtidMode = false,
        s"$DropRef;",
        s"$CreateWide;",
        "INSERT INTO `rustcdc` VALUES (1, 'abc', -1, 300, -70000, 5000000000, 1.0, 2.0, 3.0); -- xid 24",
        "UPDATE `rustcdc` SET `name` = 'xd', `num` = 4.0 WHERE `id` = 1; -- xid 25"),
      Seq(
        ddl(s"$DropRef /* generated by server */"),
        ddl(CreateWide),
        rowsTxn(24L, wideTableMap, 0x1e, genericRowsBody(RefWideTableId, 9,
          Seq(wideRow("abc", 30000L)))),
        rowsTxn(25L, wideTableMap, 0x1f, genericRowsBody(RefWideTableId, 9,
          Seq(wideRow("abc", 30000L), wideRow("xd", 40000L)), update = true)))),
    RefFixture("32_delete_rows_v2", "mysql-bin.000001",
      sqlFile("mysql-bin.000001", gtidMode = false,
        "INSERT INTO `rustcdc` VALUES (1, 'abcde'); -- xid 37",
        "DELETE FROM `rustcdc` WHERE 1 = 1; -- xid 38"),
      Seq(
        insertTxn(37L, 1 -> "abcde"),
        rowsTxn(38L, pairTableMap, 0x20,
          genericRowsBody(RefTableId, 2, Seq(pairRow(1, "abcde")))))),
    RefFixture("gtid_prev_gtid", "mysql-bin.000001",
      sqlFile("mysql-bin.000001", gtidMode = true,
        "-- gtid_executed was 3e11fa47-71ca-11e1-9e33-c80aa9429562:1-2",
        "-- when mysql-bin.000001 opened (its PREVIOUS_GTIDS).",
        "INSERT INTO `rustcdc` VALUES (1, 'cdc-1'); -- gtid :3, xid 49",
        "INSERT INTO `rustcdc` VALUES (2, 'cdc-2'); -- gtid :4, xid 50"),
      Seq(insertTxn(49L, 1 -> "cdc-1").copy(gno = 3L),
        insertTxn(50L, 2 -> "cdc-2").copy(gno = 4L)),
      executed = Seq(1L -> 3L)),
    RefFixture("query", "mysql-bin.000001",
      sqlFile("mysql-bin.000001", gtidMode = false, s"$DropRef;", s"$CreatePair;"),
      Seq(ddl(s"$DropRef /* generated by server */"), ddl(CreatePair))))

  private def ddl(sql: String): ServerTxn = ServerTxn(Seq(0x02 -> queryBody(RefSchema, sql)))

  private def rowsTxn(
      xid: Long, tableMap: Array[Byte], rowsType: Int, rows: Array[Byte]): ServerTxn =
    ServerTxn(Seq(0x02 -> queryBody(RefSchema, "BEGIN"), 0x13 -> tableMap,
      rowsType -> rows, 0x10 -> xidBody(xid)))

  private def insertTxn(xid: Long, rows: (Int, String)*): ServerTxn =
    rowsTxn(xid, pairTableMap, 0x1e, genericRowsBody(RefTableId, 2,
      rows.map { case (id, name) => pairRow(id, name) }))

  private def pairTableMap: Array[Byte] =
    genericTableMapBody(RefTableId, RefSchema, Array(0x03, 0x0f),
      Array(160.toByte, 0.toByte), RefSchema, _ == 1)

  private def pairRow(id: Int, name: String): Array[Byte] = {
    val n = name.getBytes("UTF-8")
    ByteBuffer.allocate(4 + 1 + n.length).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(id).put(n.length.toByte).put(n).array()
  }

  /** INT, VARCHAR(40), TINYINT, SMALLINT, MEDIUMINT, BIGINT, FLOAT,
    * DOUBLE, DECIMAL(10,4); metadata: VARCHAR 160, FLOAT 4, DOUBLE 8,
    * DECIMAL precision 10 and scale 4. */
  private def wideTableMap: Array[Byte] =
    genericTableMapBody(RefWideTableId, RefSchema,
      Array(0x03, 0x0f, 0x01, 0x02, 0x09, 0x08, 0x04, 0x05, 0xf6),
      Array(160, 0, 4, 8, 10, 4).map(_.toByte), RefSchema, _ != 0)

  /** The one row of 31_update_rows_v2, (1, name, -1, 300, -70000,
    * 5000000000, 1.0, 2.0, num / 10^4). */
  private def wideRow(name: String, numUnscaled: Long): Array[Byte] = {
    val n = name.getBytes("UTF-8")
    val i24 = -70000
    ByteBuffer.allocate(4 + 1 + n.length + 1 + 2 + 3 + 8 + 4 + 8 + 5)
      .order(ByteOrder.LITTLE_ENDIAN)
      .putInt(1).put(n.length.toByte).put(n)
      .put((-1).toByte).putShort(300.toShort)
      .put((i24 & 0xff).toByte).put(((i24 >> 8) & 0xff).toByte)
      .put(((i24 >> 16) & 0xff).toByte)
      .putLong(5000000000L).putFloat(1.0f).putDouble(2.0)
      .put(decimalBytes(10, 4, numUnscaled))
      .array()
  }

  /** QUERY body as a MySQL 8.0 server logs a statement on `schema`:
    * thread id, exec time, schema length, error code, then the status
    * variables every statement carries (flags2, the 8.0 default
    * sql_mode, catalog `std`, charset utf8mb4_0900_ai_ci for client,
    * connection and server), the schema and the statement text.
    */
  private def queryBody(schema: String, sql: String): Array[Byte] = {
    val db = schema.getBytes("UTF-8")
    val text = sql.getBytes("UTF-8")
    val status = ByteBuffer.allocate(26).order(ByteOrder.LITTLE_ENDIAN)
      .put(0x00.toByte).putInt(0) // Q_FLAGS2_CODE
      .put(0x01.toByte).putLong(1168113696L) // Q_SQL_MODE_CODE
      .put(0x06.toByte).put(3.toByte).put("std".getBytes("UTF-8")) // Q_CATALOG_NZ_CODE
      .put(0x04.toByte).putShort(255.toShort).putShort(255.toShort)
      .putShort(255.toShort) // Q_CHARSET_CODE
      .array()
    ByteBuffer.allocate(13 + status.length + db.length + 1 + text.length)
      .order(ByteOrder.LITTLE_ENDIAN)
      .putInt(8) // thread_id
      .putInt(0) // exec_time
      .put(db.length.toByte)
      .putShort(0.toShort) // error_code
      .putShort(status.length.toShort)
      .put(status).put(db).put(0.toByte).put(text)
      .array()
  }

  /** PREVIOUS_GTIDS body: the sid count, then per sid its uuid and
    * half-open gno intervals (empty `executed`: no sid). */
  private def previousGtidsBody(executed: Seq[(Long, Long)]): Array[Byte] = {
    val nSids = if (executed.isEmpty) 0 else 1
    val b = ByteBuffer.allocate(8 + nSids * (16 + 8) + 16 * executed.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(nSids)
    if (nSids == 1) {
      b.put(ServerSid); b.putLong(executed.length)
      executed.foreach { case (start, end) => b.putLong(start); b.putLong(end) }
    }
    b.array()
  }

  /** GTID / ANONYMOUS_GTID body as MySQL 8.0.21 writes it: flags, sid
    * (all zero for gno 0), gno, the logical clock (typecode 2,
    * last_committed, sequence_number), the immediate commit
    * timestamp (7 bytes, µs), the transaction length (length-encoded;
    * this event with its CRC plus the `restLen` bytes after it) and
    * the immediate server version.
    */
  private def gtid80Body(gno: Long, seq: Long, restLen: Int): Array[Byte] = {
    val oneByteLen = 19 + 42 + 7 + 1 + 4 + 4 + restLen
    val txnLen = if (oneByteLen < 251) oneByteLen else oneByteLen + 2
    require(txnLen < 65536, "fixture transaction too long")
    val b = ByteBuffer.allocate(42 + 7 + (if (txnLen < 251) 1 else 3) + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte) // flags
    b.put(if (gno == 0) new Array[Byte](16) else ServerSid)
    b.putLong(gno)
    b.put(2.toByte) // logical timestamp typecode
    b.putLong(seq - 1); b.putLong(seq) // last_committed, sequence_number
    val commitUs = Ts * 1000000L
    (0 until 7).foreach(i => b.put(((commitUs >> (8 * i)) & 0xff).toByte))
    if (txnLen < 251) b.put(txnLen.toByte)
    else { b.put(0xfc.toByte); b.putShort(txnLen.toShort) }
    b.putInt(80021) // immediate_server_version
    b.array()
  }

  private def rotateBody(position: Long, nextFile: String): Array[Byte] = {
    val name = nextFile.getBytes("UTF-8")
    ByteBuffer.allocate(8 + name.length).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(position).put(name).array()
  }

  /** JSON-column table: `gen.json (id INT, doc JSON)` — one
    * WRITE_ROWS_V2 with one row per doc, payloads encoded with the
    * [[jsonb]] encoder below. Round-trip surface for the parser's
    * JSONB → JSON text decode.
    */
  val JsonTableId = 84L

  def writeJsonFile(path: String, docs: Seq[Any]): Unit = {
    withBinlog(path) { emit =>
      emit(0x13, jsonTableMapBody())
      emit(0x1e, jsonRowsBody(docs))
      emit(0x10, xidBody(11L))
    }
  }

  private def jsonTableMapBody(): Array[Byte] = {
    val schema = "gen".getBytes("UTF-8")
    val table = "json".getBytes("UTF-8")
    val b = ByteBuffer.allocate(6 + 2 + 1 + schema.length + 1 + 1 + table.length + 1 +
      1 + 2 + 1 + 1 + 1).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, JsonTableId)
    b.putShort(1) // flags
    b.put(schema.length.toByte); b.put(schema); b.put(0.toByte)
    b.put(table.length.toByte); b.put(table); b.put(0.toByte)
    b.put(2.toByte) // col count
    b.put(0x03.toByte); b.put(0xf5.toByte) // LONG, JSON
    b.put(1.toByte) // meta block length
    b.put(2.toByte) // JSON: 2 length bytes
    b.put(0.toByte) // nullability
    b.array()
  }

  private def jsonRowsBody(docs: Seq[Any]): Array[Byte] = {
    val rows = docs.zipWithIndex.map { case (doc, i) =>
      val payload = jsonb(doc)
      val r = ByteBuffer.allocate(1 + 4 + 2 + payload.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      r.put(0.toByte) // null bitmap
      r.putInt(i + 1)
      r.putShort(payload.length.toShort) // 2-byte blob length
      r.put(payload)
      r.array()
    }
    val rowBytes = rows.map(_.length).sum
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + 1 + rowBytes).order(ByteOrder.LITTLE_ENDIAN)
    putU48(b, JsonTableId)
    b.putShort(1)
    b.putShort(2)
    b.put(2.toByte)
    b.put(0x03.toByte)
    rows.foreach(b.put)
    b.array()
  }

  /** Minimal MySQL JSONB encoder (small format only) for fixture
    * payloads — the write side of [[Jsonb.decode]]. Accepts: null,
    * Boolean, Int (int16 when it fits, else int32), Long, Double,
    * String, scala.collection.Map[String, Any] (object, iteration
    * order preserved — pass a ListMap), Seq[Any] (array).
    * Independent of the decoder's internals; BinlogSpec additionally
    * pins hand-laid-out byte arrays so the pair can't share a
    * layout misunderstanding.
    */
  def jsonb(v: Any): Array[Byte] = {
    val (t, payload) = jsonbValue(v) match {
      case (tpe, Left(inline)) =>
        // top level has no value entry to inline into: literals and
        // small ints still carry their payload bytes directly
        val bs = tpe match {
          case 0x04 => Array(inline.toByte)
          case _ => Array((inline & 0xff).toByte, ((inline >> 8) & 0xff).toByte)
        }
        (tpe, bs)
      case (tpe, Right(bs)) => (tpe, bs)
    }
    t.toByte +: payload
  }

  /** value → (type, inlined-u16 | spilled bytes) */
  private def jsonbValue(v: Any): (Int, Either[Int, Array[Byte]]) = v match {
    case null => (0x04, Left(0))
    case b: Boolean => (0x04, Left(if (b) 1 else 2))
    case i: Int if i >= Short.MinValue && i <= Short.MaxValue =>
      (0x05, Left(i & 0xffff))
    case i: Int =>
      (0x07, Right(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(i).array()))
    case l: Long =>
      (0x09, Right(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(l).array()))
    case d: Double =>
      (0x0b, Right(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(java.lang.Double.doubleToLongBits(d)).array()))
    case s: String =>
      val raw = s.getBytes("UTF-8")
      (0x0c, Right(jsonbVarlen(raw.length) ++ raw))
    case m: scala.collection.Map[_, _] =>
      (0x00, Right(jsonbContainer(
        m.toSeq.map { case (k, x) => (k.toString, x) }, obj = true)))
    case s: Seq[_] =>
      (0x02, Right(jsonbContainer(s.map(("", _)), obj = false)))
    case other => sys.error(s"jsonb: unsupported fixture value $other")
  }

  private def jsonbVarlen(n: Int): Array[Byte] = {
    require(n >= 0)
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var v = n
    while ({
      val b = v & 0x7f; v >>= 7
      out += (if (v > 0) (b | 0x80) else b).toByte
      v > 0
    }) ()
    out.toArray
  }

  /** Small-format object/array body (count through spilled values,
    * excluding the leading type byte). Offsets relative to count.
    */
  private def jsonbContainer(
      entries: Seq[(String, Any)], obj: Boolean): Array[Byte] = {
    val n = entries.size
    val keyBytes = entries.map(_._1.getBytes("UTF-8"))
    val vals = entries.map(e => jsonbValue(e._2))
    val headerLen = 4 + (if (obj) n * 4 else 0) + n * 3
    var off = headerLen
    val keyOffs = keyBytes.map { k => val o = off; off += k.length; o }
    val valOffs = vals.map {
      case (_, Left(_)) => -1
      case (_, Right(bs)) => val o = off; off += bs.length; o
    }
    val size = off
    require(size <= 0xffff && n <= 0xffff, "jsonb fixture too large for small format")
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(n.toShort); b.putShort(size.toShort)
    if (obj) keyBytes.zip(keyOffs).foreach { case (k, o) =>
      b.putShort(o.toShort); b.putShort(k.length.toShort)
    }
    vals.zip(valOffs).foreach {
      case ((tpe, Left(inline)), _) =>
        b.put(tpe.toByte); b.putShort(inline.toShort)
      case ((tpe, Right(_)), o) =>
        b.put(tpe.toByte); b.putShort(o.toShort)
    }
    keyBytes.foreach(b.put)
    vals.foreach { case (_, e) => e.foreach(b.put) }
    b.array()
  }

  private def xidBody(xid: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.putLong(xid)
    b.array()
  }

  private def putU48(b: ByteBuffer, v: Long): Unit = {
    b.putInt((v & 0xffffffffL).toInt)
    b.putShort(((v >> 32) & 0xffff).toShort)
  }
}
