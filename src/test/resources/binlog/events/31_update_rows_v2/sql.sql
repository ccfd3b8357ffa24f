-- Statements logged in mysql-bin.000001 by MySQL 8.0.21
-- (binlog_format=ROW, binlog_checksum=CRC32, gtid_mode=OFF: each transaction
-- opens with an ANONYMOUS_GTID).
USE rustcdc;
DROP TABLE IF EXISTS `rustcdc`;
CREATE TABLE `rustcdc` (`id` INT NOT NULL PRIMARY KEY, `name` VARCHAR(40), `i8` TINYINT, `i16` SMALLINT, `i24` MEDIUMINT, `i64` BIGINT, `f` FLOAT, `d` DOUBLE, `num` DECIMAL(10,4));
INSERT INTO `rustcdc` VALUES (1, 'abc', -1, 300, -70000, 5000000000, 1.0, 2.0, 3.0); -- xid 24
UPDATE `rustcdc` SET `name` = 'xd', `num` = 4.0 WHERE `id` = 1; -- xid 25
