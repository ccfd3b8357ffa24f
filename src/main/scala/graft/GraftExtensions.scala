package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension point: `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) makes graft's
  * native expressions available to pure-SQL users — the engine's
  * public SQL surface, mirroring how the reference exposes its
  * capabilities behind one connection builder (rust-cdc
  * `src/mysql/conn.rs:53-130` MySqlOption).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.plans.TopKPerKey.register(e)
    graft.functions.sqlFunctions.foreach(f => e.injectFunction((
      FunctionIdentifier(f.name),
      new ExpressionInfo(f.exprClass.getName, f.name),
      f.builder)))
  }
}
