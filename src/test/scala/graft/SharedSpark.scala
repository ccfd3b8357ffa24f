package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The test JVM's one SparkSession. Every suite runs in the same
  * forked JVM, so a conf one suite leaves set is what every later
  * suite runs with. A spec scopes a conf with [[withConf]]; a suite
  * that leaves the shared conf changed fails in its own report (its
  * `afterAll` names each changed key, then restores it). A spec's
  * scratch dirs come from [[tempDir]], and `afterAll` deletes them.
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = SharedSpark.session

  /** Run `body` with the given session confs, then restore each one
    * (unset again if it was not set before). */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => reset(k, before.get(k)) }
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh dir under the temp dir, deleted in `afterAll`. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  private def reset(key: String, value: Option[String]): Unit = value match {
    case Some(v) => spark.conf.set(key, v)
    case None => spark.conf.unset(key)
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      val initial = SharedSpark.initialConf
      val now = spark.conf.getAll
      val changed = (now.keySet ++ initial.keySet).filter(k => now.get(k) != initial.get(k))
      changed.foreach(k => reset(k, initial.get(k)))
      if (changed.nonEmpty) fail(s"$suiteName left the shared session conf changed: " +
        changed.toSeq.sorted.map(k => s"$k=${now.getOrElse(k, "<unset>")}").mkString(", "))
    }
}

object SharedSpark {
  // the conf is recorded the moment the session is built
  private lazy val built = {
    val s = Spark.session("local[4]", 4, "graft-test")
    (s, s.conf.getAll)
  }
  def session: SparkSession = built._1
  def initialConf: Map[String, String] = built._2
}
