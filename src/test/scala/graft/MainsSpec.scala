package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library's runtime surfaces are its two mains, `Verify` and
  * `Bench`. A generator or probe with a main of its own lives in test
  * sources, beside the specs that use it.
  */
class MainsSpec extends AnyFunSuite {

  test("only Verify and Bench define a main in src/main") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val withMain =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).filter { f =>
        Files.readAllLines(f).asScala.exists { line =>
          val code = line.trim
          // doc and line comments may name a main
          code.contains("def main(") && !code.startsWith("*") && !code.startsWith("/")
        }
      }.map(_.getFileName.toString).toList.sorted
      finally walk.close()
    assert(withMain == Seq("Bench.scala", "Verify.scala"), withMain)
  }
}
