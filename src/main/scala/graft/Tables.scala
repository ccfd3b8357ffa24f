package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

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
  def events(s: SparkSession, dir: String): DataFrame    = load(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's schema, declared for its file streams (a
    * stream source takes its schema up front). `ts` has one unit,
    * microseconds: the testdata's TIMESTAMP(MICROS), or Spark's own
    * INT96, reads as it. The reference likewise decodes each temporal
    * type with the one unit it declares (rust-cdc
    * `src/mysql/event/mod.rs:370-640`). A file in nanos raises on
    * read, through Spark's parquet type check or
    * `Changelog.canonicalize`'s year guard.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** `<dir>/<name>.parquet` as a file stream, in either on-disk
    * layout: a single file (the testdata generator's), streamed from
    * the parent dir through a leaf-name glob because a file path
    * cannot be a stream basePath; or a directory of part files (the
    * production layout), streamed directly. A glob on the parent
    * would read ZERO rows from the part-dir layout, whose leaves are
    * `part-*.parquet`. A path that does not exist yet (a landing dir
    * before the first write) takes the glob form: an empty stream
    * that picks files up as they land.
    */
  def stream(s: SparkSession, dir: String, name: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val rs = s.readStream.schema(schema)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) rs.parquet(p.toString)
    else rs.option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

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
