package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Spark.session` is the one SparkSession builder (no Spark session
  * needed): a second builder chain is a second conf set, and in the
  * shared test JVM its runtime confs would land on the one session.
  */
class SessionFactorySpec extends AnyFunSuite {

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
}
