-- Statements logged in mysql-bin.000001 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=ON,
-- server_uuid 3e11fa47-71ca-11e1-9e33-c80aa9429562).
USE rustcdc;
-- gtid_executed was 3e11fa47-71ca-11e1-9e33-c80aa9429562:1-2
-- when mysql-bin.000001 opened (its PREVIOUS_GTIDS).
INSERT INTO `rustcdc` VALUES (1, 'cdc-1'); -- gtid :3, xid 49
INSERT INTO `rustcdc` VALUES (2, 'cdc-2'); -- gtid :4, xid 50
