package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** An entry leaves the session and the disk as it found them, and one
  * mechanism each decides how long its artifacts live: [[Scratch]] for
  * dirs, [[graft.operators.SessionCache]] for per-session values.
  */
class ResidueSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** What a run can leave behind. */
  private case class Residue(
      tmpEntries: Set[String],
      generations: Map[String, Int],
      persistentRdds: Int,
      activeStreams: Int,
      listeners: Int,
      checkpoints: Int)

  private def children(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq

  private def residue(): Residue = Residue(
    children(new File(sys.props("java.io.tmpdir"))).map(_.getName).toSet,
    children(Scratch.root.toFile)
      .map(b => b.getName -> children(b).count(_.getName.startsWith("g_"))).toMap,
    spark.sparkContext.getPersistentRDDs.size,
    spark.streams.active.length,
    spark.streams.listListeners().length,
    cdc.DeltaLog.cachedCheckpoints)

  test("a run after the first adds nothing to the session or the temp dir") {
    // a sink merge, a stateful stream, a table with its dead-letter
    // sibling, a listener probe and a driver-value cache
    val entries = Seq("cdc_sink", "cdc_stream_dedup", "cdc_control_events",
      "cdc_listeners", "cur_bpe_encode")
    def runAll(): Unit = entries.foreach(e => SparkEntry.queries(e)(spark, sf).collect())
    // the first run makes what a run may keep: generated corpora,
    // cached values and the scratch generation of grace
    runAll()
    runAll()
    val first = residue()
    runAll()
    val second = residue()
    assert(second.tmpEntries -- first.tmpEntries == Set.empty)
    assert(second.generations == first.generations)
    assert(second.generations.values.forall(_ <= 2), second.generations)
    assert(second.persistentRdds == first.persistentRdds)
    assert(second.activeStreams == 0)
    assert(second.listeners == first.listeners)
    assert(second.checkpoints <= cdc.DeltaLog.CheckpointCacheSize)
  }

  private def mainSources: Seq[(Path, Seq[String])] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f -> Files.readAllLines(f).asScala.toSeq).toList
    finally walk.close()
  }

  test("src/main makes temp dirs only in Scratch and in the corpus publish") {
    val sites = for {
      (f, lines) <- mainSources
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if code.contains("createTempDirectory") && !code.startsWith("*") && !code.startsWith("/")
    } yield (f, i)
    assert(sites.map(_._1.getFileName.toString).sorted == Seq("Cdc.scala", "Scratch.scala"), sites)
    val (cdcFile, at) = sites.find(_._1.getFileName.toString == "Cdc.scala").get
    val enclosing = Files.readAllLines(cdcFile).asScala.take(at).reverse.find(_.contains(" def "))
    assert(enclosing.exists(_.contains("def ensureGenerated")), enclosing)
  }

  test("a session-keyed weak map lives only in SessionCache and CdcStream.streamedSessions") {
    val map = java.util.regex.Pattern.quote("WeakHashMap[SparkSession")
    val sites = mainSources.flatMap { case (f, lines) =>
      // the type may wrap across lines
      val n = lines.mkString.replaceAll("\\s", "").split(map, -1).length - 1
      Seq.fill(n)(f.getFileName.toString)
    }
    assert(sites.sorted == Seq("CdcStream.scala", "SessionCache.scala"), sites)
  }
}
