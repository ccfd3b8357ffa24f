-- Statements logged in mysql-bin.000001 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=OFF: each transaction
-- opens with an ANONYMOUS_GTID).
USE rustcdc;
INSERT INTO `rustcdc` VALUES (1, 'abcde'); -- xid 37
DELETE FROM `rustcdc` WHERE 1 = 1; -- xid 38
