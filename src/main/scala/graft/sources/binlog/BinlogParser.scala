package graft.sources.binlog

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Clean-room MySQL binlog (v4) file parser, written against the
  * public MySQL replication protocol documentation
  * (dev.mysql.com/doc/internals/en/binlog-event.html). Covers the
  * same event subset the reference parses (rust-cdc README matrix /
  * `src/mysql/event/mod.rs`): FORMAT_DESCRIPTION, QUERY, ROTATE,
  * INTVAR, USER_VAR, XID, TABLE_MAP, ROWS_QUERY,
  * WRITE/UPDATE/DELETE_ROWS v2, GTID, ANONYMOUS_GTID,
  * PREVIOUS_GTIDS, HEARTBEAT.
  *
  * Pure function of the file bytes → event sequence; no I/O, no
  * shared state, so it parallelizes per-file inside a Spark source
  * (see [[BinlogFileFormat]]).
  */
object BinlogParser extends org.apache.spark.internal.Logging {

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  final case class EventHeader(
      timestamp: Long,
      eventType: Int,
      serverId: Long,
      eventSize: Long,
      logPos: Long,
      flags: Int)

  /** One decoded event. Row events yield one Decoded per data row. */
  final case class Decoded(
      header: EventHeader,
      typeName: String,
      tableId: Long = -1L,
      schemaName: String = null,
      tableName: String = null,
      op: String = null, // c / u / d for row events
      rowIndex: Int = -1,
      before: String = null, // JSON object of col_i -> value
      after: String = null,
      query: String = null,
      gtid: String = null,
      xid: Long = -1L,
      nextBinlog: String = null,
      intValue: Long = -1L)

  final case class TableMapEntry(
      tableId: Long,
      schema: String,
      table: String,
      colTypes: Array[Int],
      colMeta: Array[Int],
      nullable: Array[Boolean],
      charsets: Array[java.nio.charset.Charset] = Array.empty)

  val typeNames: Map[Int, String] = Map(
    // full v4 id space of the reference's EventType::try_from_u8
    // (rust-cdc src/mysql/event/mod.rs:301-338)
    0x00 -> "UNKNOWN", 0x01 -> "START_V3", 0x03 -> "STOP",
    0x06 -> "LOAD", 0x07 -> "SLAVE", 0x08 -> "CREATE_FILE",
    0x09 -> "APPEND_BLOCK", 0x0a -> "EXEC_LOAD", 0x0b -> "DELETE_FILE",
    0x0c -> "NEW_LOAD", 0x0d -> "RAND",
    0x1a -> "INCIDENT", 0x1c -> "IGNORABLE",
    0x02 -> "QUERY", 0x04 -> "ROTATE", 0x05 -> "INTVAR",
    0x0e -> "USER_VAR",
    0x0f -> "FORMAT_DESCRIPTION", 0x10 -> "XID",
    0x11 -> "BEGIN_LOAD_QUERY", 0x12 -> "EXECUTE_LOAD_QUERY",
    0x13 -> "TABLE_MAP", 0x1b -> "HEARTBEAT", 0x1d -> "ROWS_QUERY",
    // v0 (pre-GA) rows events: recognized and name-skipped; v1 row
    // images decode through the same path as v2 (the reference
    // dispatches V1|V2 together, rust-cdc event/mod.rs:190-198 —
    // MariaDB 10.x and MySQL <=5.5 write v1 exclusively)
    0x14 -> "PRE_GA_WRITE_ROWS", 0x15 -> "PRE_GA_UPDATE_ROWS",
    0x16 -> "PRE_GA_DELETE_ROWS",
    0x17 -> "WRITE_ROWS_V1", 0x18 -> "UPDATE_ROWS_V1",
    0x19 -> "DELETE_ROWS_V1",
    0x1e -> "WRITE_ROWS_V2", 0x1f -> "UPDATE_ROWS_V2",
    0x20 -> "DELETE_ROWS_V2", 0x21 -> "GTID",
    0x22 -> "ANONYMOUS_GTID", 0x23 -> "PREVIOUS_GTIDS")

  /** MySQL collation id → Java charset, covering the reference's
    * full table (rust-cdc `src/mysql/collation.rs`) by charset
    * family: single-byte western/cyrillic/greek, the CJK multibyte
    * families (gbk/gb2312/gb18030/big5/sjis/cp932/ujis/eucjpms/
    * euckr/tis620), and the UTF families including fixed-width
    * ucs2/utf16/utf16le/utf32. Ids are public MySQL constants
    * (`SHOW COLLATION`); each family lists its named collations plus
    * the Unicode-collation id block MySQL reserves for it. A charset
    * the running JVM lacks just drops out of the map (→ warned
    * fallback, below).
    */
  private def namedCharset(name: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(name))
    catch { case _: Exception => None }
  private val collationCharset: Map[Int, java.nio.charset.Charset] = {
    val families: Seq[(Seq[Int], String)] = Seq(
      // single-byte
      (Seq(5, 8, 15, 31, 47, 48, 49, 94), "ISO-8859-1"),   // latin1_*
      (Seq(63), "ISO-8859-1"),                             // binary: byte-preserving 1:1
      (Seq(11, 65), "US-ASCII"),                           // ascii_*
      (Seq(2, 9, 21, 27, 77), "ISO-8859-2"),               // latin2_*
      (Seq(25, 70), "ISO-8859-7"),                         // greek_*
      (Seq(16, 71), "ISO-8859-8"),                         // hebrew_*
      (Seq(30, 78), "ISO-8859-9"),                         // latin5_*
      (Seq(41, 42, 79), "ISO-8859-13"),                    // latin7_*
      (Seq(7, 74), "KOI8-R"), (Seq(22, 75), "KOI8-U"),
      (Seq(4, 80), "IBM850"), (Seq(40, 81), "IBM852"),     // cp850/cp852
      (Seq(36, 68), "IBM866"),                             // cp866
      (Seq(26, 34, 44, 66, 99), "windows-1250"),
      (Seq(14, 23, 50, 51, 52), "windows-1251"),
      (Seq(57, 67), "windows-1256"),
      (Seq(29, 58, 59), "windows-1257"),
      (Seq(18, 89), "TIS-620"),                            // tis620 (thai)
      // CJK multibyte
      (Seq(28, 87), "GBK"),
      (Seq(24, 86), "GB2312"),
      (Seq(248, 249, 250), "GB18030"),
      (Seq(1, 84), "Big5"),
      (Seq(13, 88), "Shift_JIS"),                          // sjis
      (Seq(95, 96), "windows-31j"),                        // cp932
      (Seq(12, 91, 97, 98), "EUC-JP"),                     // ujis + eucjpms
      (Seq(19, 85), "EUC-KR"),                             // euckr
      // UTF families (MySQL ucs2/utf16/utf32 are big-endian)
      (Seq(35, 90, 159) ++ (128 to 151), "UTF-16BE"),      // ucs2_*
      (Seq(54, 55) ++ (101 to 124), "UTF-16BE"),           // utf16_*
      (Seq(56, 62), "UTF-16LE"),                           // utf16le_*
      (Seq(60, 61) ++ (160 to 183), "UTF-32BE"),           // utf32_*
      (Seq(33, 76, 83, 223) ++ (192 to 215), "UTF-8"),     // utf8mb3_*
      (Seq(45, 46) ++ (224 to 247) ++ (255 to 323), "UTF-8")) // utf8mb4_* incl. 0900/as_ci blocks
    families.flatMap { case (ids, name) =>
      namedCharset(name).toSeq.flatMap(cs => ids.map(_ -> cs))
    }.toMap
  }

  /** Collation ids seen but not in the table — warned ONCE per id
    * (not per row/file) before falling back to UTF-8; a gbk or ucs2
    * column must never silently round-trip to mojibake.
    */
  private val warnedCollations =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private def lookupCollation(id: Int): Option[java.nio.charset.Charset] = {
    val r = collationCharset.get(id)
    if (r.isEmpty && warnedCollations.add(id))
      logWarning(s"binlog: unmapped collation id $id — " +
        "decoding as UTF-8 (may be mojibake); extend BinlogParser.collationCharset")
    r
  }

  /** Character-typed columns (the ones optional-metadata charset
    * blocks describe): CHAR/VARCHAR/VAR_STRING AND the BLOB family
    * (TEXT columns share type 0xfc; MySQL's is_character_type
    * includes it, so omitting it would shift every later char
    * column's index in the DEFAULT_CHARSET/COLUMN_CHARSET blocks) —
    * ENUM/SET hide under STRING but carry no charset entry.
    */
  private def isCharCol(colType: Int, meta: Int): Boolean = colType match {
    case 0x0f | 0xfd | 0xfc => true
    case 0xfe => val b0 = meta >> 8; b0 != 0xf7 && b0 != 0xf8
    case _ => false
  }

  /** Parse a whole binlog file. Unknown event types are surfaced as
    * UNKNOWN_0xNN rows rather than failing — a 100 TB backfill must
    * not die on one exotic event.
    *
    * `tableFilter(schema, table)` gates ROW-IMAGE materialization:
    * a rows event whose (known) table doesn't match is skipped
    * before its body is decoded — the pushed-down half of the
    * reference's listener-level MatchStrategy filtering (rust-cdc
    * `src/mysql/mod.rs:21-90`); a `db.table` subscription never pays
    * to JSON-ify rows it will drop.
    */
  def parseFile(
      bytes: Array[Byte],
      tableFilter: (String, String) => Boolean = (_, _) => true): Seq[Decoded] = {
    require(bytes.length >= 4 && bytes.take(4).sameElements(Magic),
      "not a binlog file (bad magic)")
    parseStream(new java.io.ByteArrayInputStream(bytes), tableFilter).toSeq
  }

  /** Fill `buf[off, off+n)` from `in`; false on EOF before `n` bytes
    * (a truncated tail — the caller stops at the intact prefix). */
  private def readFully(
      in: java.io.InputStream, buf: Array[Byte], n: Int,
      off: Int = 0): Boolean = {
    var got = 0
    while (got < n) {
      val r = in.read(buf, off + got, n - got)
      if (r < 0) return false
      got += r
    }
    true
  }

  /** MySQL's hard ceiling on a single binlog event (1 GiB — bounded
    * by max_allowed_packet's own maximum). A header declaring more is
    * corruption or a truncated tail, never a real event. */
  val MaxEventSize: Long = 1L << 30

  /** How much of a declared body we read BEFORE trusting the header
    * with a full-size allocation. */
  private val BodyProbeLen = 1 << 20

  /** Probe-then-commit body read: the declared size only earns a
    * full allocation after the first [[BodyProbeLen]] bytes actually
    * arrive, so a corrupt/hostile header over a truncated stream
    * costs O(bytes present + 1 MiB), never an up-front allocation of
    * the declared size. None = EOF mid-body (truncated tail). */
  private def readBody(in: java.io.InputStream, len: Int): Option[Array[Byte]] = {
    val probeLen = math.min(len, BodyProbeLen)
    val probe = new Array[Byte](probeLen)
    if (!readFully(in, probe, probeLen)) return None
    if (probeLen == len) return Some(probe)
    val full = java.util.Arrays.copyOf(probe, len)
    if (readFully(in, full, len - probeLen, probeLen)) Some(full) else None
  }

  /** Streaming parse: one event resident at a time — O(event) memory
    * regardless of file size, so a reader task never holds the whole
    * file's bytes or its full decoded row set. The iterator consumes
    * `in` lazily (headers + length-prefixed bodies; a truncated tail
    * ends the stream at the intact prefix, mirroring [[parseFile]]);
    * the caller owns closing the stream.
    */
  def parseStream(
      in: java.io.InputStream,
      tableFilter: (String, String) => Boolean = (_, _) => true): Iterator[Decoded] = {
    val magic = new Array[Byte](4)
    if (!readFully(in, magic, 4) || !magic.sameElements(Magic))
      throw new IllegalArgumentException("not a binlog file (bad magic)")
    val tables = mutable.Map.empty[Long, TableMapEntry]
    new Iterator[Decoded] {
      private var checksummed = false
      private var done = false
      private var pending: Iterator[Decoded] = Iterator.empty
      private val hdr = new Array[Byte](19)
      private def advance(): Unit =
        while (!done && !pending.hasNext) {
          if (!readFully(in, hdr, 19)) { done = true; return }
          val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
          val h = EventHeader(
            timestamp = u32(hb), eventType = u8(hb), serverId = u32(hb),
            eventSize = u32(hb), logPos = u32(hb), flags = u16(hb))
          if (h.eventSize < 19 || h.eventSize > MaxEventSize) {
            // undersized, or above MySQL's own event ceiling: corrupt
            // header / truncated tail — stop at the intact prefix
            done = true; return
          }
          val bodyLen0 = h.eventSize.toInt - 19
          val body = readBody(in, bodyLen0) match {
            case Some(b) => b
            case None    => done = true; return
          }
          // FDE declares whether a CRC32 trailer follows every event
          if (h.eventType == 0x0f && bodyLen0 >= 5)
            checksummed = body(bodyLen0 - 5) == 1
          val bodyLen = if (checksummed) bodyLen0 - 4 else bodyLen0
          val bb = ByteBuffer.wrap(body, 0, math.max(bodyLen, 0))
            .order(ByteOrder.LITTLE_ENDIAN)
          pending =
            try decodeEvent(h, bb, tables, tableFilter).iterator
            catch {
              case _: Exception => Iterator.single(Decoded(h,
                s"CORRUPT_${typeNames.getOrElse(h.eventType, "0x%02x".format(h.eventType))}"))
            }
        }
      override def hasNext: Boolean = { advance(); pending.hasNext }
      override def next(): Decoded = { advance(); pending.next() }
    }
  }

  private def decodeEvent(
      h: EventHeader,
      b: ByteBuffer,
      tables: mutable.Map[Long, TableMapEntry],
      tableFilter: (String, String) => Boolean): Seq[Decoded] = h.eventType match {

    case 0x0f => // FORMAT_DESCRIPTION
      val binlogVersion = u16(b)
      val serverVersion = fixedString(b, 50)
      Seq(Decoded(h, "FORMAT_DESCRIPTION",
        query = s"binlog_v$binlogVersion server=$serverVersion"))

    case 0x02 => // QUERY
      skip(b, 4 + 4) // thread_id, exec_time
      val schemaLen = u8(b)
      skip(b, 2) // error_code
      val statusLen = u16(b)
      skip(b, statusLen)
      val schema = fixedBytesString(b, schemaLen)
      skip(b, 1) // NUL
      Seq(Decoded(h, "QUERY", schemaName = schema, query = remainingString(b)))

    case 0x04 => // ROTATE
      val pos = u64(b)
      Seq(Decoded(h, "ROTATE", intValue = pos, nextBinlog = remainingString(b)))

    case 0x05 => // INTVAR
      val t = u8(b)
      Seq(Decoded(h, "INTVAR", intValue = u64(b),
        query = if (t == 1) "LAST_INSERT_ID" else if (t == 2) "INSERT_ID" else s"INVALID_$t"))

    case 0x10 => // XID
      Seq(Decoded(h, "XID", xid = u64(b)))

    case 0x0e => // USER_VAR: @name := value (reference UserVar event)
      val nameLen = u32(b).toInt
      val name = fixedBytesString(b, nameLen)
      val isNull = u8(b) == 1
      if (isNull) Seq(Decoded(h, "USER_VAR", query = s"@$name=NULL"))
      else {
        val vType = u8(b)
        skip(b, 4) // charset
        val valLen = u32(b).toInt
        val raw = new Array[Byte](math.min(valLen, b.remaining())); b.get(raw)
        val repr = vType match {
          case 0 => new String(raw, StandardCharsets.UTF_8) // STRING
          case 1 => java.lang.Double.longBitsToDouble( // REAL: 8-byte LE
            ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).getLong).toString
          case 2 => ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).getLong.toString // INT
          case _ => raw.map("%02x".format(_)).mkString // DECIMAL/ROW: hex
        }
        Seq(Decoded(h, "USER_VAR", query = s"@$name=$repr"))
      }

    case 0x11 => // BEGIN_LOAD_QUERY: file_id + raw block
      val fileId = u32(b)
      Seq(Decoded(h, "BEGIN_LOAD_QUERY", intValue = fileId,
        query = remainingString(b)))

    case 0x12 => // EXECUTE_LOAD_QUERY: QUERY post-header + load fields
      skip(b, 4 + 4) // thread_id, exec_time
      val schemaLen = u8(b)
      skip(b, 2) // error_code
      val statusLen = u16(b)
      val fileId = u32(b)
      skip(b, 4 + 4 + 1) // start_pos, end_pos, dup_handling
      skip(b, statusLen)
      val schema = fixedBytesString(b, schemaLen)
      skip(b, 1) // NUL
      Seq(Decoded(h, "EXECUTE_LOAD_QUERY", schemaName = schema,
        intValue = fileId, query = remainingString(b)))

    case 0x1d => // ROWS_QUERY
      skip(b, 1) // length byte (query may still run to event end)
      Seq(Decoded(h, "ROWS_QUERY", query = remainingString(b)))

    case 0x21 | 0x22 => // GTID / ANONYMOUS_GTID
      skip(b, 1) // commit flags
      val sid = new Array[Byte](16); b.get(sid)
      val gno = u64(b)
      val uuid = "%02x%02x%02x%02x-%02x%02x-%02x%02x-%02x%02x-%02x%02x%02x%02x%02x%02x"
        .format(sid.map(x => x: java.lang.Byte): _*)
      Seq(Decoded(h, typeNames(h.eventType), gtid = s"$uuid:$gno"))

    case 0x23 => // PREVIOUS_GTIDS
      val nSids = u64(b)
      val parts = (0L until nSids).map { _ =>
        val sid = new Array[Byte](16); b.get(sid)
        // same dashed form as the GTID event so the two columns
        // string-match for consumers joining across event types
        val uuid = "%02x%02x%02x%02x-%02x%02x-%02x%02x-%02x%02x-%02x%02x%02x%02x%02x%02x"
          .format(sid.map(x => x: java.lang.Byte): _*)
        val nIv = u64(b)
        // the on-wire interval end is EXCLUSIVE (one past the last
        // gno); gtid_executed text prints inclusive ranges and
        // singletons without a dash
        val ivs = (0L until nIv).map { _ =>
          val st = u64(b); val en = u64(b) - 1
          if (st == en) s"$st" else s"$st-$en"
        }.mkString(",")
        s"$uuid:$ivs"
      }
      Seq(Decoded(h, "PREVIOUS_GTIDS", gtid = parts.mkString(";")))

    case 0x13 => // TABLE_MAP
      val tableId = u48(b)
      skip(b, 2) // flags
      val schemaLen = u8(b)
      val schema = fixedBytesString(b, schemaLen); skip(b, 1)
      val tableLen = u8(b)
      val table = fixedBytesString(b, tableLen); skip(b, 1)
      val nCols = lenEnc(b).toInt
      val colTypes = Array.fill(nCols)(u8(b))
      val metaLen = lenEnc(b).toInt
      val metaEnd = b.position() + metaLen
      val colMeta = colTypes.map { t => readMeta(t, b) }
      b.position(metaEnd)
      val nullBytes = new Array[Byte]((nCols + 7) / 8); b.get(nullBytes)
      val nullable = Array.tabulate(nCols)(i => ((nullBytes(i / 8) >> (i % 8)) & 1) == 1)
      val charsets = readOptionalCharsets(b, colTypes, colMeta)
      tables(tableId) = TableMapEntry(tableId, schema, table, colTypes, colMeta,
        nullable, charsets)
      Seq(Decoded(h, "TABLE_MAP", tableId = tableId,
        schemaName = schema, tableName = table))

    // WRITE / UPDATE / DELETE rows, v1 (0x17-0x19, MariaDB 10.x /
    // MySQL <=5.5) and v2 (0x1e-0x20). The v1 body is the v2 body
    // minus the extra-data field — one decode path for both, like
    // the reference (rust-cdc event/mod.rs:190-198).
    case et @ (0x17 | 0x18 | 0x19 | 0x1e | 0x1f | 0x20) =>
      val isUpdate = et == 0x18 || et == 0x1f
      val tableId = u48(b)
      skip(b, 2) // flags
      if (et >= 0x1e) { // v2-only extra-data block
        val extraLen = u16(b)
        skip(b, math.max(extraLen - 2, 0))
      }
      val nCols = lenEnc(b).toInt
      val present1 = bitmap(b, nCols)
      val present2 = if (isUpdate) bitmap(b, nCols) else present1
      val tm = tables.getOrElse(tableId,
        TableMapEntry(tableId, null, null, Array.empty, Array.empty, Array.empty))
      // subscription gate: a known non-matching table skips row-image
      // decode entirely (no JSON materialization, no output rows)
      if (tm.schema != null && !tableFilter(tm.schema, tm.table))
        return Seq.empty
      val op = et match {
        case 0x17 | 0x1e => "c"; case 0x18 | 0x1f => "u"; case _ => "d"
      }
      val rows = mutable.ArrayBuffer.empty[Decoded]
      var idx = 0
      var lastPos = -1
      while (b.remaining() > 0 && tm.colTypes.nonEmpty && b.position() != lastPos) {
        lastPos = b.position()
        val img1 = readRowImage(b, tm, present1)
        val img2 = if (isUpdate) readRowImage(b, tm, present2) else null
        val (before, after) = op match {
          case "c" => (null, img1)
          case "d" => (img1, null)
          case _ => (img1, img2)
        }
        rows += Decoded(h, typeNames(h.eventType), tableId = tableId,
          schemaName = tm.schema, tableName = tm.table, op = op,
          rowIndex = idx, before = before, after = after)
        idx += 1
      }
      if (rows.isEmpty)
        Seq(Decoded(h, typeNames(h.eventType), tableId = tableId, op = op))
      else rows.toSeq

    case 0x1a => // INCIDENT (reference event/mod.rs:332): the master
      // signals the replica that events may have been lost — decoded
      // TYPED (incident number u16; 1 = LOST_EVENTS, plus optional
      // 1-byte-length message) so a sink can divert possible
      // divergence to its dead-letter path instead of dropping it.
      val num = u16(b)
      val msg =
        if (b.remaining() > 0) {
          val n = math.min(u8(b), b.remaining())
          fixedString(b, n)
        } else null
      Seq(Decoded(h, "INCIDENT", intValue = num, query = msg))

    case 0x1b => // HEARTBEAT (reference event/mod.rs:287, decode.rs:266):
      // the master's keep-alive when no events flow for
      // master_heartbeat_period. The body is log_ident — the name of
      // the binlog file the master is currently at, unprefixed,
      // filling the whole (checksum-stripped) body. Decoded into
      // next_binlog so an idle replica can still advance its resume
      // FILE pointer (log_pos in the header gives the offset), the
      // same role ROTATE plays on an active master.
      Seq(Decoded(h, "HEARTBEAT",
        nextBinlog = if (b.remaining() > 0) fixedString(b, b.remaining()) else null))

    // STOP (0x03, clean server shutdown) and IGNORABLE (0x1c) carry
    // no payload — the typed name row from the table below IS their
    // full decode.
    case t =>
      Seq(Decoded(h, typeNames.getOrElse(t, "UNKNOWN_0x%02x".format(t))))
  }

  /** TABLE_MAP optional metadata (TLV block after the nullability
    * bitmap, MySQL 8.0.1+): honors DEFAULT_CHARSET (type 2) and
    * COLUMN_CHARSET (type 3) so latin1/ascii columns round-trip their
    * bytes instead of being mis-decoded as UTF-8. Other TLVs
    * (signedness, enum values, …) are skipped by length. Returns one
    * charset per column (UTF-8 where unspecified).
    */
  private def readOptionalCharsets(
      b: ByteBuffer,
      colTypes: Array[Int],
      colMeta: Array[Int]): Array[java.nio.charset.Charset] = {
    val out = Array.fill[java.nio.charset.Charset](colTypes.length)(StandardCharsets.UTF_8)
    val charCols = colTypes.indices.filter(i => isCharCol(colTypes(i), colMeta(i)))
    while (b.remaining() > 0) {
      val tlvType = u8(b)
      val tlvLen = lenEnc(b).toInt
      val end = b.position() + tlvLen
      tlvType match {
        case 2 => // DEFAULT_CHARSET: default id + (col, id) overrides
          val default = lookupCollation(lenEnc(b).toInt)
          default.foreach(cs => charCols.foreach(i => out(i) = cs))
          while (b.position() < end) {
            val charColIdx = lenEnc(b).toInt // index among CHAR columns
            val cs = lookupCollation(lenEnc(b).toInt)
            if (charColIdx < charCols.length)
              cs.foreach(out(charCols(charColIdx)) = _)
          }
        case 3 => // COLUMN_CHARSET: one id per char column, in order
          var i = 0
          while (b.position() < end && i < charCols.length) {
            lookupCollation(lenEnc(b).toInt).foreach(out(charCols(i)) = _)
            i += 1
          }
        case _ => () // skip by length
      }
      b.position(end)
    }
    out
  }

  // --- column metadata (TABLE_MAP) ---
  private def readMeta(colType: Int, b: ByteBuffer): Int = colType match {
    case 0x04 | 0x05 => u8(b) // FLOAT / DOUBLE: pack length
    case 0x0f | 0xfd => u16(b) // VARCHAR / VAR_STRING: max length
    case 0xf6 => (u8(b) << 8) | u8(b) // NEWDECIMAL: precision, scale
    case 0xf5 => u8(b) // JSON: length-bytes (blob-like)
    case 0xfc => u8(b) // BLOB: length-bytes
    case 0xfe => (u8(b) << 8) | u8(b) // STRING: real type, length
    case 0x10 => (u8(b) << 8) | u8(b) // BIT: bits, bytes
    case 0xff => u8(b) // GEOMETRY
    case 0x11 | 0x12 | 0x13 => u8(b) // TIMESTAMP2/DATETIME2/TIME2: fsp
    case _ => 0
  }

  /** one row image → JSON object keyed col_0..col_{n-1} */
  private def readRowImage(
      b: ByteBuffer, tm: TableMapEntry, present: Array[Boolean]): String = {
    val nPresent = present.count(identity)
    val nullBm = bitmap(b, nPresent)
    val sb = new StringBuilder("{")
    var presentIdx = 0
    var first = true
    var col = 0
    while (col < tm.colTypes.length) {
      if (present(col)) {
        if (!first) sb.append(',')
        first = false
        sb.append("\"col_").append(col).append("\":")
        if (nullBm(presentIdx)) sb.append("null")
        else sb.append(readValueJson(b, tm.colTypes(col), tm.colMeta(col),
          if (col < tm.charsets.length) tm.charsets(col) else StandardCharsets.UTF_8))
        presentIdx += 1
      }
      col += 1
    }
    sb.append('}').toString
  }

  /** decode one value to a JSON fragment */
  private def readValueJson(
      b: ByteBuffer, colType: Int, meta: Int,
      charset: java.nio.charset.Charset = StandardCharsets.UTF_8): String = colType match {
    case 0x01 => b.get().toString // TINY
    case 0x02 => b.getShort.toString // SHORT
    case 0x03 => b.getInt.toString // LONG
    case 0x08 => b.getLong.toString // LONGLONG
    case 0x09 => // INT24 signed
      val v = u8(b) | (u8(b) << 8) | (u8(b) << 16)
      (if ((v & 0x800000) != 0) v - 0x1000000 else v).toString
    case 0x04 => // FLOAT
      val v = b.getFloat
      if (v == v.toLong) v.toLong.toString else v.toString
    case 0x05 => // DOUBLE
      val v = b.getDouble
      if (v == v.toLong) v.toLong.toString else v.toString
    case 0x06 => "null" // NULL: zero bytes on the wire
    case 0x07 => u32(b).toString // legacy TIMESTAMP: 4-byte LE epoch seconds
    case 0x0b => // legacy TIME: SIGNED 3-byte LE packed int HHMMSS
      val raw = u8(b) | (u8(b) << 8) | (u8(b) << 16)
      val v = if ((raw & 0x800000) != 0) raw - 0x1000000 else raw
      val a = math.abs(v)
      val sign = if (v < 0) "-" else ""
      "\"%s%02d:%02d:%02d\"".format(sign, a / 10000, (a / 100) % 100, a % 100)
    case 0x0c => // legacy DATETIME: 8-byte LE packed int YYYYMMDDHHMMSS
      val v = b.getLong
      val (d, t) = (v / 1000000L, v % 1000000L)
      "\"%04d-%02d-%02d %02d:%02d:%02d\"".format(
        d / 10000, (d / 100) % 100, d % 100, t / 10000, (t / 100) % 100, t % 100)
    case 0x0d => // YEAR: stored 0 IS the zero-year 0000, not 1900
      val y = u8(b); if (y == 0) "0" else (1900 + y).toString
    case 0x0a | 0x0e => // DATE / NEWDATE: 3 bytes packed
      val v = u8(b) | (u8(b) << 8) | (u8(b) << 16)
      val (d, m, y) = (v & 0x1f, (v >> 5) & 0x0f, v >> 9)
      "\"%04d-%02d-%02d\"".format(y, m, d)
    case 0x0f | 0xfd => // VARCHAR / VAR_STRING (charset-aware)
      val len = if (meta > 255) u16(b) else u8(b)
      jsonString(fixedBytesString(b, len, charset))
    case 0xfe => // STRING family: real type hides in metadata byte0
      val b0 = meta >> 8
      if (b0 == 0xf7 || b0 == 0xf8) {
        // ENUM / SET: value is a (meta&0xff)-byte little-endian index
        // or bitmask, NOT a length-prefixed string
        val packLen = math.max(meta & 0xff, 1)
        var v = 0L
        (0 until packLen).foreach(i => v |= (u8(b).toLong << (8 * i)))
        v.toString
      } else {
        val realMeta = stringMeta(meta)
        val len = if (realMeta > 255) u16(b) else u8(b)
        jsonString(fixedBytesString(b, len, charset))
      }
    case 0xfc => // BLOB/TEXT: meta = number of length bytes
      var len = 0L
      (0 until meta).foreach(i => len |= (u8(b).toLong << (8 * i)))
      val bytes = new Array[Byte](len.toInt); b.get(bytes)
      // TEXT columns carry their charset in the TABLE_MAP TLVs (the
      // binary collation id 63 maps to the byte-preserving latin1
      // bridge, so binary blobs round-trip losslessly too)
      jsonString(new String(bytes, charset))
    case 0xf5 => // JSON: blob-like length prefix + JSONB payload —
      // decoded to JSON text (beyond the reference, which emits raw
      // blob bytes) so CDC'd JSON columns are directly queryable;
      // malformed payloads fall back to the hex surface losslessly
      var len = 0L
      (0 until meta).foreach(i => len |= (u8(b).toLong << (8 * i)))
      val bytes = new Array[Byte](len.toInt); b.get(bytes)
      Jsonb.decode(bytes).getOrElse(
        "\"0x" + bytes.map("%02x".format(_)).mkString + "\"")
    case 0xff => // GEOMETRY: blob-like length prefix; payload is
      // binary WKB — surface as hex, never reinterpret
      var len = 0L
      (0 until meta).foreach(i => len |= (u8(b).toLong << (8 * i)))
      val bytes = new Array[Byte](len.toInt); b.get(bytes)
      "\"0x" + bytes.map("%02x".format(_)).mkString + "\""
    case 0x11 => // TIMESTAMP2: 4 bytes BE seconds + fsp fraction
      val secs = beLong(b, 4)
      val frac = fracDigits(b, meta)
      if (frac.isEmpty) secs.toString else s"$secs.$frac"
    case 0x12 => // DATETIME2: 5 bytes BE packed + fsp fraction
      val packed = beLong(b, 5) - 0x8000000000L
      val ymd = (packed >> 17).toInt; val hms = (packed & 0x1ffff).toInt
      val ym = ymd >> 5
      val frac = fracDigits(b, meta)
      val base = "%04d-%02d-%02d %02d:%02d:%02d".format(
        ym / 13, ym % 13, ymd & 0x1f, hms >> 12, (hms >> 6) & 0x3f, hms & 0x3f)
      "\"" + (if (frac.isEmpty) base else s"$base.$frac") + "\""
    case 0x13 => // TIME2: sign-offset encoding over 3+fsp bytes BE.
      // The packed hms and the fraction form ONE two's-complement
      // number offset by 0x800000 << 8·fracBytes, so negative times
      // (including negative fractions) decode by magnitude.
      val fb = fspBytes(meta)
      val signed = beLong(b, 3 + fb) - (0x800000L << (8 * fb))
      val neg = signed < 0
      val mag = math.abs(signed)
      val hmsPacked = mag >> (8 * fb)
      val fracUnits = if (fb == 0) 0L else mag & ((1L << (8 * fb)) - 1)
      val micros = fracUnits * (fb match { case 1 => 10000L; case 2 => 100L; case _ => 1L })
      val frac = if (meta == 0) "" else "%06d".format(micros).take(meta)
      val base = "%s%02d:%02d:%02d".format(if (neg) "-" else "",
        (hmsPacked >> 12) & 0x3ff, (hmsPacked >> 6) & 0x3f, hmsPacked & 0x3f)
      "\"" + (if (frac.isEmpty) base else s"$base.$frac") + "\""
    case 0xf6 => // NEWDECIMAL — public packed-BCD layout
      jsonString(decodeDecimal(b, meta >> 8, meta & 0xff))
    case 0x10 => // BIT(n): meta = (n % 8, n / 8); value = ceil(n/8) bytes
      val totalBits = (meta & 0xff) * 8 + (meta >> 8)
      val nbytes = (totalBits + 7) / 8
      val raw = new Array[Byte](nbytes); b.get(raw)
      "\"0x" + raw.map("%02x".format(_)).mkString + "\""
    case t =>
      // unknown: cannot advance reliably — consume rest, emit marker
      skip(b, b.remaining())
      jsonString(s"<unsupported type 0x${"%02x".format(t)}>")
  }

  /** STRING/CHAR metadata unpacking (public upstream layout) */
  private def stringMeta(meta: Int): Int = {
    val b0 = meta >> 8; val b1 = meta & 0xff
    if (b0 == 0) b1
    else if ((b0 & 0x30) != 0x30) b1 | (((b0 & 0x30) ^ 0x30) << 4)
    else b1
  }

  /** NEWDECIMAL: 9-digit groups packed into 4-byte big-endian words,
    * sign in the top bit of the first byte (XOR 0x80).
    */
  private def decodeDecimal(b: ByteBuffer, precision: Int, scale: Int): String = {
    val digitsPerInt = 9
    val bytesForDigits = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)
    val intg = precision - scale
    val intgFull = intg / digitsPerInt; val intgRem = intg % digitsPerInt
    val fracFull = scale / digitsPerInt; val fracRem = scale % digitsPerInt
    val totalBytes = intgFull * 4 + bytesForDigits(intgRem) +
      fracFull * 4 + bytesForDigits(fracRem)
    val raw = new Array[Byte](totalBytes); b.get(raw)
    val negative = (raw(0) & 0x80) == 0
    raw(0) = (raw(0) ^ 0x80).toByte
    if (negative) raw.indices.foreach(i => raw(i) = (~raw(i)).toByte)
    var pos = 0
    def readGroup(nBytes: Int): Long = {
      var v = 0L
      (0 until nBytes).foreach { _ => v = (v << 8) | (raw(pos) & 0xff); pos += 1 }
      v
    }
    val sb = new StringBuilder(if (negative) "-" else "")
    val intPart = new StringBuilder
    if (intgRem > 0) intPart.append(readGroup(bytesForDigits(intgRem)).toString)
    (0 until intgFull).foreach { _ =>
      val g = readGroup(4)
      intPart.append(if (intPart.isEmpty) g.toString else "%09d".format(g))
    }
    sb.append(if (intPart.isEmpty) "0" else intPart.toString)
    if (scale > 0) {
      sb.append('.')
      (0 until fracFull).foreach(_ => sb.append("%09d".format(readGroup(4))))
      if (fracRem > 0)
        sb.append(("%0" + fracRem + "d").format(readGroup(bytesForDigits(fracRem))))
    }
    sb.toString
  }

  // --- primitive readers ---
  private def u8(b: ByteBuffer): Int = b.get() & 0xff
  private def u16(b: ByteBuffer): Int = b.getShort & 0xffff
  private def u32(b: ByteBuffer): Long = b.getInt & 0xffffffffL
  private def u48(b: ByteBuffer): Long = u32(b) | (u16(b).toLong << 32)
  private def u64(b: ByteBuffer): Long = b.getLong
  private def skip(b: ByteBuffer, n: Int): Unit = b.position(b.position() + n)

  private def beLong(b: ByteBuffer, n: Int): Long = {
    var v = 0L
    (0 until n).foreach(_ => v = (v << 8) | u8(b))
    v
  }

  private def fspBytes(fsp: Int): Int = (fsp + 1) / 2

  /** Fractional seconds for the *2 temporal types: fsp digits stored
    * big-endian in ceil(fsp/2) bytes, each unit = 10^(6-2*nBytes) µs.
    * Returns the fsp-digit decimal string ("" when fsp == 0).
    */
  private def fracDigits(b: ByteBuffer, fsp: Int): String = {
    val n = fspBytes(fsp)
    if (n == 0) ""
    else {
      val raw = beLong(b, n)
      val micros = raw * (n match { case 1 => 10000L; case 2 => 100L; case _ => 1L })
      "%06d".format(micros).take(fsp)
    }
  }

  private def lenEnc(b: ByteBuffer): Long = u8(b) match {
    case 0xfb => -1L
    case 0xfc => u16(b)
    case 0xfd => u8(b) | (u8(b) << 8) | (u8(b) << 16)
    case 0xfe => u64(b)
    case v => v
  }

  private def bitmap(b: ByteBuffer, nBits: Int): Array[Boolean] = {
    val bytes = new Array[Byte]((nBits + 7) / 8); b.get(bytes)
    Array.tabulate(nBits)(i => ((bytes(i / 8) >> (i % 8)) & 1) == 1)
  }

  private def fixedString(b: ByteBuffer, n: Int): String = {
    val raw = new Array[Byte](n); b.get(raw)
    new String(raw.takeWhile(_ != 0), StandardCharsets.UTF_8)
  }

  private def fixedBytesString(
      b: ByteBuffer, n: Int,
      charset: java.nio.charset.Charset = StandardCharsets.UTF_8): String = {
    val raw = new Array[Byte](n); b.get(raw)
    new String(raw, charset)
  }

  private def remainingString(b: ByteBuffer): String = {
    val raw = new Array[Byte](b.remaining()); b.get(raw)
    new String(raw, StandardCharsets.UTF_8)
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
}
