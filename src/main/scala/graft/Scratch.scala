package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** The one lifecycle for the directories a run writes: sink tables and
  * their dead-letter siblings, stream checkpoints, file-sink outputs.
  *
  * A run names itself (a query name; a `_<digits>` suffix such as a
  * nanoTime is stripped to the base), and each base owns one root,
  * `<tmpdir>/graft_scratch/<base>`. Each run gets a fresh generation
  * dir in that root and writes everything inside it, so disk stays
  * bounded at two generations per base.
  *
  * The run holds its base's lock: a JVM monitor, plus a file lock so
  * that two JVMs sharing the temp dir (a test run beside a Verify
  * run) are serialized too. On entry it prunes the root to the newest
  * previous generation. Pruning never meets an active run, and it
  * keeps one previous generation because a run returns a lazy frame
  * over its dir: a caller may still read the previous run's frame
  * after a same-base re-run began. A reader two generations stale is
  * outside any interleaving of the callers that share a JVM.
  *
  * A nested run of the same base on the same thread shares the outer
  * run's generation (an entry that calls a runner under its own name).
  *
  * graft deletes only what it creates: the generations under
  * `graft_scratch/<base>`, and the superseded digest dirs of
  * `Cdc.ensureGenerated`'s corpora. The `graft_*` and `cdc_*` dirs
  * that older builds left in the temp dir are not graft's to delete:
  * a sweep by name prefix could delete the data of another build
  * running at the same time.
  */
private[graft] object Scratch {

  val root: Path = Paths.get(sys.props("java.io.tmpdir"), "graft_scratch")

  /** `name` without its `_<digits>` suffix. */
  def base(name: String): String = name.replaceAll("_\\d+$", "")

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private val held = ThreadLocal.withInitial[Map[String, Path]](() => Map.empty)

  /** Runs `body` on a fresh generation dir of `name`'s base. */
  def run[T](name: String)(body: Path => T): T = {
    val b = base(name)
    held.get.get(b) match {
      case Some(gen) => body(gen)
      case None => locks.computeIfAbsent(b, _ => new Object).synchronized {
        val dir = Files.createDirectories(root.resolve(b))
        val lock = FileChannel.open(dir.resolve(".lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          lock.lock()
          keepNewest(dir.toFile.listFiles().filter(_.getName.startsWith("g_")).toSeq)
          val gen = Files.createTempDirectory(dir, "g_")
          held.set(held.get + (b -> gen))
          try body(gen) finally held.set(held.get - b)
        } finally lock.close()
      }
    }
  }

  /** Deletes all of `dirs` but the most recently modified one: the
    * one generation of grace. */
  def keepNewest(dirs: Seq[java.io.File]): Unit =
    dirs.sortBy(-_.lastModified).drop(1)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
}
