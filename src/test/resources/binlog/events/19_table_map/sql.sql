-- Statements logged in mysql-bin.000002 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=OFF: each transaction
-- opens with an ANONYMOUS_GTID).
USE rustcdc;
INSERT INTO `rustcdc` VALUES (1, 'cdc-1'); -- xid 331
INSERT INTO `rustcdc` VALUES (2, 'cdc-2'); -- xid 357
