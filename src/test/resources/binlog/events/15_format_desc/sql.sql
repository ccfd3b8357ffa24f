-- Statements logged in binlog.000002 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=OFF: each transaction
-- opens with an ANONYMOUS_GTID).
USE rustcdc;
-- binlog.000002 holds only its FORMAT_DESCRIPTION and
-- PREVIOUS_GTIDS until this flush logs a ROTATE to binlog.000003.
FLUSH BINARY LOGS;
