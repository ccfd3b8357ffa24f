package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Spark.session` is the one SparkSession builder: a second builder
  * chain is a second conf set, and in the shared test JVM its runtime
  * confs would land on the one session.
  */
class SessionFactorySpec extends AnyFunSuite with SharedSpark {

  test("only Spark.scala calls the SparkSession builder") {
    val call = "SparkSession" + ".builder()"
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val calls = for {
      f <- scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      // doc and line comments may name the call
      if code.contains(call) && !code.startsWith("*") && !code.startsWith("/")
    } yield s"$f:${i + 1}"
    assert(calls.size == 1 && calls.head.startsWith("src/main/scala/graft/Spark.scala:"), calls)
  }

  test("Spark.session registers graft's SQL functions once") {
    val replaced = "replaced a previously registered function"
    // every log line while `body` runs
    def logged(body: => Unit): Seq[String] = {
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val root = org.apache.logging.log4j.LogManager.getRootLogger
        .asInstanceOf[org.apache.logging.log4j.core.Logger]
      val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "capture", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          lines.add(e.getMessage.getFormattedMessage)
      }
      capture.start()
      root.addAppender(capture)
      try body finally root.removeAppender(capture)
      lines.asScala.toSeq
    }
    spark // built first: the call below meets the session every suite shares
    val fromFactory = logged(Spark.session("local[4]", 4, "graft-test"))
    assert(!fromFactory.exists(_.contains(replaced)), fromFactory.filter(_.contains(replaced)))
    // the capture sees the warning when a registration does replace one
    assert(logged(functions.register(spark.newSession())).exists(_.contains(replaced)))
  }
}
