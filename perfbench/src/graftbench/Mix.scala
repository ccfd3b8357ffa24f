package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** analytics_mix: one client runs a fixed ordered list of
  * `SparkEntry.queries` to the noop sink, a point lookup on the
  * replica table after each query, and one full table scan per pass.
  * The replica table is the standing table of replica_stream's set-up,
  * bulk-imported. */
object Mix {

  def run(s: SparkSession, ctx: Ctx): Unit = {
    val data = ctx.dir("data").getPath
    val entries = ctx.str("entries").split(",").toSeq
    val keys = Replica.lookupKeys(ctx)
    val table = ctx.dir("table")
    Replica.setUp(s, ctx, table)

    val lookups = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lookupIx = 0
    // one pass: every entry in order, each followed by a lookup of the
    // next key; the pass time is the queries' own time. The warm-up
    // passes ("w0", "w1", ...) are not recorded; the first one writes
    // each entry's output for the checks instead of to noop
    def pass(tag: String): Map[String, Double] = entries.map { name =>
      val t0 = System.nanoTime()
      ctx.op(s"query $name") {
        ctx.trace.span("analytics.query", s"query-$name-$tag") {
          val w = SparkEntry.queries(name)(s, data).write.mode("overwrite")
          if (tag == "w0") w.parquet(ctx.dir(s"out/$name").getPath) else w.format("noop").save()
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val l = Replica.lookups(s, ctx, table, Seq(keys(lookupIx % keys.size)))
      if (!tag.startsWith("w")) lookups ++= l
      lookupIx += 1
      name -> dt
    }.toMap

    ctx.dir("out").mkdirs()
    val warm = (0 until ctx.int("warmup_passes")).map(p => pass(s"w$p"))
    ctx.put("first_pass_s", warm.head.values.sum)
    Replica.scan(s, ctx, table, "table-scan-0")
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val scans = mutable.ArrayBuffer.empty[Double]
    val budget = ctx.double("seconds")
    val t0 = System.nanoTime()
    while (passes.size < ctx.int("min_rounds") || (System.nanoTime() - t0) / 1e9 < budget) {
      passes += pass((passes.size + 1).toString)
      ctx.op("table scan")(scans += Replica.scan(s, ctx, table, s"table-scan-${passes.size}"))
    }
    ctx.put("pass_s", passes.map(_.values.sum).toList)
    ctx.put("entry_s", entries.map(n => n -> passes.map(_(n)).toList).toMap)
    ctx.put("scan_s", scans.toList)
    ctx.put("lookups", lookups.toList)

    Files.writeString(ctx.dir("out/oracle_sql.json").toPath, Json.write(
      SparkEntry.oracleSql.filter { case (n, _) => entries.contains(n) }))
    Replica.dumpTable(s, table, ctx.dir("out/table"))
    if (ctx.trace.enabled) Replica.probes(s, ctx, table, Nil)
  }
}
