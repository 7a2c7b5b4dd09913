package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** A fixed subset of `SparkEntry.queries` (one key per query family plus
  * commit-bound scripts) over the generated tables, run by the traced run
  * of `warehouse_read_mostly`.
  *
  * The first pass writes every result as parquet beside the keys' oracle
  * SQL, for `run.py` to check in DuckDB; it is also the warm-up. The second
  * pass is the measured one: each key materialised to the `noop` sink as
  * `graft.Bench` does, one traced operation per key.
  */
final class QueryKeys(ctx: Ctx) {
  import ctx.{rec, spark}

  def run(): Unit = {
    val sf = s"${ctx.inputs}/base"
    val results = Paths.get(ctx.work, "results")
    Files.createDirectories(results)
    ctx.keys.foreach { k =>
      try SparkEntry.queries(k)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(k).toString)
      catch { case e: Exception => rec.check(s"query.$k.ran", ok = false, e.toString) }
    }
    val oracle = ctx.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.writeString(results.resolve("oracle_sql.json"), Json.render(oracle))
    ctx.keys.foreach { k =>
      rec.op("query", k, withSpans = true)(SparkEntry.queries(k)(spark, sf)
        .write.format("noop").mode("overwrite").save())
    }
  }
}
