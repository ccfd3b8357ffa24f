package graft

/** The binlog fixtures under the test resources `binlog/events`,
  * declared event by event from the statements in each fixture's
  * `sql.sql` and the binlog v4 field widths, without the parser or
  * BinlogGen: every event's size (19-byte header + body + 4-byte
  * CRC32 trailer) is summed here, so each event's log_pos (its end
  * offset) follows from the declaration alone. BinlogSpec checks the
  * parser's decode against [[rows]] and derives from [[rows]] and
  * [[transactions]] the literals its fixture-content tests (and
  * ContentPinSpec's cdc_txn_assemble) pin.
  */
object BinlogFixtureTable {

  /** One row of the binlog source; a rows event yields one per row
    * image, all at the event's log_pos. */
  final case class Row(
      fixture: String, eventType: String, tableName: String, op: String,
      before: String, after: String, logPos: Long, xid: Long, query: String)

  /** One BEGIN … XID transaction as cdc_txn_assemble reports it. */
  final case class Txn(
      fixture: String, xid: Long, beginPos: Long, commitPos: Long,
      nRowImages: Long, nTables: Long, nEvents: Long)

  /** An event: its body size (header and CRC excluded) and what the
    * source decodes from it. */
  private final case class Ev(
      eventType: String, body: Int, table: String = null, op: String = null,
      images: Seq[(String, String)] = Nil, xid: Long = -1L, query: String = null)

  private val Schema = "rustcdc"

  // binlog v4 FDE: version 2 + server version 50 + create time 4 +
  // header length 1 + 40 post-header lengths + checksum algorithm 1
  private val fde = Ev("FORMAT_DESCRIPTION", 2 + 50 + 4 + 1 + 40 + 1,
    query = "binlog_v4 server=8.0.21")

  /** sid count 8, then per sid: uuid 16 + interval count 8 + 16 per
    * interval (one sid here, when there are intervals) */
  private def previousGtids(nIntervals: Int) =
    Ev("PREVIOUS_GTIDS", 8 + (if (nIntervals == 0) 0 else 16 + 8 + 16 * nIntervals))

  /** QUERY: post-header 13 (thread id 4, exec time 4, schema length 1,
    * error code 2, status length 2), status variables 26 (flags2 5,
    * sql_mode 9, catalog 5, charset 7), schema + NUL, text */
  private def query(text: String) =
    Ev("QUERY", 13 + 26 + Schema.length + 1 + text.getBytes("UTF-8").length, query = text)

  /** TABLE_MAP: table id 6, flags 2, schema and table (length byte +
    * name + NUL each), column count 1, types, metadata length 1 +
    * metadata, nullability bitmap; no optional metadata */
  private def tableMap(nCols: Int, metaLen: Int) =
    Ev("TABLE_MAP", 6 + 2 + (1 + Schema.length + 1) + (1 + Schema.length + 1) +
      1 + nCols + 1 + metaLen + (nCols + 7) / 8, table = Schema)

  /** rows v2: table id 6, flags 2, extra-data length 2, column count
    * 1, a columns-present bitmap per image of a row (an update row has
    * two images), then per image a null bitmap and its values;
    * `rows`: (before, after) JSON and the row's value bytes */
  private def rowsEvent(
      eventType: String, op: String, nCols: Int,
      rows: Seq[((String, String), Int)]): Ev = {
    val bitmap = (nCols + 7) / 8
    val imagesPerRow = if (op == "u") 2 else 1
    val rowBytes = rows.map { case (_, valueBytes) => imagesPerRow * bitmap + valueBytes }.sum
    Ev(eventType, 6 + 2 + 2 + 1 + imagesPerRow * bitmap + rowBytes,
      table = Schema, op = op, images = rows.map(_._1))
  }

  private def xidEvent(xid: Long) = Ev("XID", 8, xid = xid)

  /** A transaction after its GTID event (ANONYMOUS_GTID when
    * gtid_mode=OFF). The 8.0.21 GTID body: flags 1, sid 16, gno 8,
    * typecode 1, last_committed 8, sequence_number 8, commit
    * timestamp 7, transaction length (1 byte below 251, else 3; the
    * length counts the GTID event itself), server version 4. */
  private def txn(events: Seq[Ev], gtidType: String = "ANONYMOUS_GTID"): Seq[Ev] = {
    val rest = events.map(e => 19 + e.body + 4).sum
    val oneByte = 19 + 42 + 7 + 1 + 4 + 4 + rest
    val lenBytes = if (oneByte < 251) 1 else 3
    Ev(gtidType, 42 + 7 + lenBytes + 4) +: events
  }

  // rustcdc (id INT, name VARCHAR(40)): id 4 + length byte + name
  private def pairJson(id: Int, name: String) = s"""{"col_0":$id,"col_1":"$name"}"""
  private def pairBytes(name: String) = 4 + 1 + name.length
  private val pairMap = tableMap(nCols = 2, metaLen = 2) // VARCHAR max length u16

  private def insert(xid: Long, rows: (Int, String)*): Seq[Ev] =
    txn(Seq(query("BEGIN"), pairMap,
      rowsEvent("WRITE_ROWS_V2", "c", 2,
        rows.map { case (i, n) => ((null, pairJson(i, n)), pairBytes(n)) }),
      xidEvent(xid)))

  // the nine-column rustcdc of 31_update_rows_v2: INT 4, VARCHAR 1 +
  // length, TINYINT 1, SMALLINT 2, MEDIUMINT 3, BIGINT 8, FLOAT 4,
  // DOUBLE 8, DECIMAL(10,4) 3 + 2
  private def wide(name: String, num: String): String =
    s"""{"col_0":1,"col_1":"$name","col_2":-1,"col_3":300,"col_4":-70000,""" +
      s""""col_5":5000000000,"col_6":1,"col_7":2,"col_8":"$num"}"""
  private def wideBytes(name: String) = 4 + 1 + name.length + 1 + 2 + 3 + 8 + 4 + 8 + 5
  // metadata: VARCHAR 2, FLOAT 1, DOUBLE 1, DECIMAL 2
  private val wideMap = tableMap(nCols = 9, metaLen = 6)

  private val drop = "DROP TABLE IF EXISTS `rustcdc` /* generated by server */"

  /** (fixture, file, events after the 4-byte magic) */
  private val declared: Seq[(String, String, Seq[Ev])] = Seq(
    ("15_format_desc", "binlog.000002", Seq(fde, previousGtids(0),
      Ev("ROTATE", 8 + "binlog.000003".length))),
    ("16_xid", "binlog.000002", Seq(fde, previousGtids(0)) ++ insert(852, 1 -> "cdc-1")),
    ("19_table_map", "mysql-bin.000002", Seq(fde, previousGtids(0)) ++
      insert(331, 1 -> "cdc-1") ++ insert(357, 2 -> "cdc-2")),
    ("30_write_rows_v2", "mysql-bin.000002", Seq(fde, previousGtids(0)) ++
      insert(15, 1 -> "cdc-1", 2 -> "cdc-2")),
    ("31_update_rows_v2", "mysql-bin.000001", Seq(fde, previousGtids(0)) ++
      txn(Seq(query(drop))) ++
      txn(Seq(query("CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, " +
        "`name` VARCHAR(40), `i8` TINYINT, `i16` SMALLINT, `i24` MEDIUMINT, " +
        "`i64` BIGINT, `f` FLOAT, `d` DOUBLE, `num` DECIMAL(10,4))"))) ++
      txn(Seq(query("BEGIN"), wideMap,
        rowsEvent("WRITE_ROWS_V2", "c", 9,
          Seq(((null, wide("abc", "3.0000")), wideBytes("abc")))),
        xidEvent(24))) ++
      txn(Seq(query("BEGIN"), wideMap,
        rowsEvent("UPDATE_ROWS_V2", "u", 9,
          Seq(((wide("abc", "3.0000"), wide("xd", "4.0000")),
            wideBytes("abc") + wideBytes("xd")))),
        xidEvent(25)))),
    ("32_delete_rows_v2", "mysql-bin.000001", Seq(fde, previousGtids(0)) ++
      insert(37, 1 -> "abcde") ++
      txn(Seq(query("BEGIN"), pairMap,
        rowsEvent("DELETE_ROWS_V2", "d", 2,
          Seq(((pairJson(1, "abcde"), null), pairBytes("abcde")))),
        xidEvent(38)))),
    ("gtid_prev_gtid", "mysql-bin.000001", Seq(fde, previousGtids(1)) ++
      txn(insert(49, 1 -> "cdc-1").tail, "GTID") ++
      txn(insert(50, 2 -> "cdc-2").tail, "GTID")),
    ("query", "mysql-bin.000001", Seq(fde, previousGtids(0)) ++
      txn(Seq(query(drop))) ++
      txn(Seq(query("CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, " +
        "`name` VARCHAR(40))")))))

  /** (fixture, binlog file name) */
  val files: Seq[(String, String)] = declared.map { case (f, file, _) => (f, file) }

  val rows: Seq[Row] = declared.flatMap { case (fixture, _, events) =>
    val ends = events.scanLeft(4L)((pos, e) => pos + 19 + e.body + 4).tail
    events.zip(ends).flatMap { case (e, end) =>
      val images = if (e.images.isEmpty) Seq((null, null)) else e.images
      images.map { case (before, after) =>
        Row(fixture, e.eventType, e.table, e.op, before, after, end, e.xid, e.query)
      }
    }
  }

  /** Each XID closes the transaction of the rows since the previous
    * XID; it starts at the last BEGIN among them (the GTID and any DDL
    * before it stay outside). */
  val transactions: Seq[Txn] = rows.groupBy(_.fixture).toSeq.sortBy(_._1).flatMap {
    case (fixture, fileRows) =>
      val xids = fileRows.zipWithIndex.filter(_._1.eventType == "XID")
      xids.zip(-1 +: xids.map(_._2)).flatMap { case ((xid, at), prev) =>
        val chunk = fileRows.slice(prev + 1, at + 1)
        chunk.filter(_.query == "BEGIN").lastOption.map { begin =>
          val inTxn = chunk.filter(_.logPos >= begin.logPos)
          val images = inTxn.filter(_.op != null)
          Txn(fixture, xid.xid, begin.logPos, xid.logPos, images.size,
            images.map(_.tableName).distinct.size, inTxn.size)
        }
      }
  }
}
