-- Statements logged in mysql-bin.000001 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=OFF: each transaction
-- opens with an ANONYMOUS_GTID).
USE rustcdc;
DROP TABLE IF EXISTS `rustcdc`;
CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, `name` VARCHAR(40));
