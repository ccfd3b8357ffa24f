package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables.
  *
  * Each loader is a plain `spark.read.parquet` so Catalyst sees a
  * relation it can push filters/column pruning into — never cache or
  * materialize here; at 100 TB the scan must stay prunable.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  /** events.ts in nanos (TIMESTAMP(NANOS), which Spark 4 cannot infer,
    * or plain INT64) is read through the declared schema as a raw long
    * and converted to micros in Changelog; µs files infer as usual.
    * A dir mixing both units fails here (see Tables0.tsReadsAsLong).
    */
  def events(s: SparkSession, dir: String): DataFrame =
    if (graft.cdc.Tables0.tsReadsAsLong(s, dir))
      s.read.schema(graft.cdc.Tables0.eventsSchema).parquet(s"$dir/events.parquet")
    else load(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Spread a NARROW scan across the cluster before per-row
    * compute-heavy work (gram hashing, media decode, shingling).
    * Parquet parallelism is bounded by splits (and ultimately row
    * groups), so a small table written as one file pins the whole
    * downstream pipeline to one task. The guard keeps this adaptive:
    * the scan's task count is ESTIMATED from the files' byte sizes
    * against spark.sql.files.maxPartitionBytes — when the scan is
    * already wide enough to saturate the cluster (the 100 TB layout,
    * or a big single file under a small split size) NO exchange is
    * added. The r16 form counted FILES, which round-robin-exchanged
    * a 2 GB single-file fact table at sf10: a full extra shuffle
    * write+read of every surviving column, paid per query under the
    * cold-read protocol, on a scan that splits 16+ ways by itself.
    *
    * CAVEAT (byte-split vs row groups): the estimate assumes parquet
    * splits by bytes, but a file written with few huge row groups
    * yields fewer non-empty tasks than bytes/maxPartitionBytes — for
    * such a layout this guard can skip a repartition that would have
    * helped. Erring toward no-exchange is the right default (the
    * repartition is a full shuffle of every surviving column); a
    * caller that KNOWS its layout is row-group-starved should
    * repartition explicitly.
    */
  def parallelized(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val files = df.inputFiles
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    // one FileSystem stat per input file; testdata/bench layouts
    // carry 1-32 files per table, and the 100 TB layout (thousands
    // of files) short-circuits on file count alone. A file vanishing
    // between listing and stat (compaction racing the reader) must
    // not fail the query at plan time: treat the unknown-size file
    // as 1 task, which biases toward adding the repartition — the
    // safe side for the narrow compute-heavy scans this wraps.
    lazy val scanTasks: Long =
      if (files.length >= cores) cores.toLong
      else files.map { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          val len = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .getFileStatus(p).getLen
          math.max(1L, (len + split - 1) / split)
        } catch { case _: java.io.IOException => 1L }
      }.sum
    if (files.nonEmpty && scanTasks >= cores) df else df.repartition(cores)
  }
}
