package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.model.{ResourceDef, Resources}
import graft.pipeline.Pipeline
import graft.sink.Warehouse
import graft.sources.SObjectSource
import graft.state.WatermarkStore

/** The generated inputs seen as a Salesforce-like source: a directory per
  * table holding the base extract, into which change batch k "arrives" as
  * one more parquet file. The pipeline's strict-`>` watermark filter is what
  * keeps already-loaded rows out of the next extract.
  */
final class SourceDir(inputs: String, val dir: String) {
  val incremental = Seq("orders", "lineitem", "events")
  private val base = Paths.get(inputs, "base")

  Files.createDirectories(Paths.get(dir))
  Resources.testdata.foreach { r =>
    val d = Paths.get(dir, s"${r.name}.parquet")
    Files.createDirectories(d)
    Files.copy(base.resolve(s"${r.name}.parquet").resolve("part-00000.parquet"),
      d.resolve("part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }
  private var applied = 0

  def batches: Int = applied

  def batchFile(k: Int, table: String): Path =
    Paths.get(inputs, "batches", k.toString, s"$table.parquet")

  def hasBatch(k: Int): Boolean = Files.exists(batchFile(k, "orders"))

  /** Make batch `applied + 1` visible to the next extract. */
  def arrive(): Unit = {
    applied += 1
    incremental.foreach(t => Files.copy(batchFile(applied, t),
      Paths.get(dir, s"$t.parquet", f"part-$applied%05d.parquet"),
      StandardCopyOption.REPLACE_EXISTING))
  }

  def config(wh: String, state: String): Pipeline.Config =
    Pipeline.Config(sfDir = dir, warehouseDir = wh, stateDir = state, retries = 0)
}

/** The expected warehouse content, computed with plain DataFrame algebra
  * from the generated inputs (never through the engine).
  */
object Model {
  /** Row count and an order-independent hash (sum of per-row xxhash64).
    * Integral columns hash as 64-bit values: the warehouse's schema lattice
    * stores int32 input columns as int64, which is not a content change.
    */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val cs = cols.map { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType => col(c).cast(LongType)
        case _ => col(c)
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cs: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Live rows of `table` after batches 1..k under its disposition: replace
    * keeps the (unchanged) base; append keeps everything; merge keeps, for
    * every key, all rows of the newest input that carries the key.
    */
  def expected(spark: SparkSession, src: SourceDir, inputs: String, res: ResourceDef,
               k: Int): DataFrame = {
    val base = spark.read.parquet(Paths.get(inputs, "base", s"${res.name}.parquet").toString)
    if (!src.incremental.contains(res.name)) return base
    val parts = base.withColumn("__b", lit(0)) +: (1 to k).map(i =>
      spark.read.parquet(src.batchFile(i, res.name).toString).withColumn("__b", lit(i)))
    val all = parts.reduce(_ unionByName _)
    if (res.mode == graft.model.WriteMode.Append) all.drop("__b")
    else {
      val newest = all.groupBy(res.primaryKeys.map(col): _*).agg(max("__b").as("__m"))
      all.join(newest, res.primaryKeys).filter(col("__b") === col("__m")).drop("__b", "__m")
    }
  }

  /** The watermark the pipeline must have stored after batch k. */
  def watermark(spark: SparkSession, src: SourceDir, res: ResourceDef, k: Int): String = {
    val rk = res.replicationKey.get
    spark.read.parquet(src.batchFile(k, res.name).toString)
      .agg(date_format(max(col(rk)), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")).head().getString(0)
  }

  /** Compare every table of the warehouse, and the stored watermarks, with
    * the model after `src.batches` batches. Returns false on any mismatch.
    * The tables are checked concurrently: each check is a handful of tiny
    * Spark jobs, so the driver's scheduling, not the data, sets its time.
    */
  def checkWarehouse(ctx: Ctx, src: SourceDir, cfg: Pipeline.Config, label: String): Boolean = {
    val wh = new Warehouse(ctx.spark, cfg.warehouseDir)
    val state = new WatermarkStore(cfg.stateDir)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val verdicts = try Await.result(Future.traverse(Resources.testdata) { res => Future {
      val exp = expected(ctx.spark, src, ctx.inputs, res, src.batches)
      val cols = exp.columns.toSeq
      val want = digest(exp, cols)
      val got = digest(wh.load(res.name), cols)
      val rows = (s"$label.${res.name}.rows", got == want, s"rows/hash got=$got want=$want")
      val wm = if (src.batches == 0 || res.replicationKey.isEmpty) None else {
        val w = watermark(ctx.spark, src, res, src.batches)
        val s = state.get(res.name).map(WatermarkStore.canonical)
        Some((s"$label.${res.name}.watermark", s.contains(WatermarkStore.canonical(w)),
          s"stored=$s want=$w"))
      }
      rows +: wm.toSeq
    }}, Duration.Inf).flatten finally pool.shutdown()
    verdicts.map { case (name, ok, detail) => ctx.rec.check(name, ok, detail) }.forall(identity)
  }
}

/** End-of-run facts of a warehouse: live data/delete files per table and
  * bytes on disk per live row.
  */
object WarehouseFacts {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def record(ctx: Ctx, whDir: String): Unit = {
    val wh = new Warehouse(ctx.spark, whDir)
    var rows = 0L
    Resources.testdata.map(_.name).filter(wh.exists).foreach { t =>
      val m = wh.currentManifest(t)
      ctx.rec.sample(s"sink.live_data_files.$t", m.files.size)
      ctx.rec.sample(s"sink.live_delete_files.$t", m.deletes.size)
      rows += wh.load(t).count()
    }
    ctx.rec.sample("sink.storage_bytes_per_row",
      bytesUnder(Paths.get(whDir)).toDouble / math.max(rows, 1L))
  }
}

/** Workload `elt_incremental`: the reference's scheduled job. An initial
  * `Pipeline.run` of the eight resources, then one incremental run per
  * arriving change batch (merge for orders/lineitem, append for events,
  * unchanged full refresh for the dimensions), closed loop, at least three
  * runs after two untimed warm-up runs. Storage and live files are taken
  * after the third timed run.
  *
  * Traced runs alternate the untraced `Pipeline.run` with a layer-by-layer
  * replay of the same run through the public calls `Pipeline.loadOne`
  * makes, so the replay's total can be set beside the real thing.
  */
final class EltIncremental(ctx: Ctx) {
  import ctx.{rec, spark}

  private val WarmRuns = 2

  def run(): Unit = {
    val setup0 = rec.now()
    val src = new SourceDir(ctx.inputs, s"${ctx.work}/src")
    val cfg = src.config(s"${ctx.work}/wh", s"${ctx.work}/state")
    rec.timed("setup.prep_s") {
      rec.timed("pipeline.initial_load_s")(Pipeline.run(spark, cfg))
      // untimed incremental runs warm the timed ones (the first few runs
      // still get faster as the JIT compiles); a traced run also warms the
      // replay, so that replay and Pipeline.run compare warm
      for (_ <- 1 to WarmRuns) { src.arrive(); Pipeline.run(spark, cfg) }
      if (rec.traced) {
        src.arrive()
        replay(src, cfg, record = false)
      }
    }
    Heap.afterFullGc()
    rec.info("setup_jvm_s") = (rec.now() - setup0) / 1000.0

    ctx.closedLoop(minOps = 3)(WarehouseFacts.record(ctx, cfg.warehouseDir)) { i =>
      if (!src.hasBatch(src.batches + 1)) false
      else {
        src.arrive()
        if (rec.traced && i % 2 == 0)
          rec.op("elt_run", "replay", withSpans = true)(replay(src, cfg, record = true))
        else rec.op("elt_run", "pipeline_run")(Pipeline.run(spark, cfg))
        true
      }
    }
    rec.info("batches_applied") = src.batches
    val ok = Model.checkWarehouse(ctx, src, cfg, "elt")
    if (!ok) rec.ops.foreach(o => rec.fail(o, "warehouse differs from the model"))
  }

  /** One incremental run, resource by resource, through the public calls of
    * `Pipeline.loadOne`: watermark get, extract, cache + aggregate, write,
    * watermark advance. Only those calls sit inside the `load.<table>` span;
    * the sink write amplification and source scan counts of each merge are
    * read outside it.
    */
  private def replay(src: SourceDir, cfg: Pipeline.Config, record: Boolean): Unit = {
    val wh = new Warehouse(spark, cfg.warehouseDir)
    val state = new WatermarkStore(cfg.stateDir)
    var rowsRead, rowsExtracted = 0L
    Resources.testdata.foreach { res =>
      val facts = record && src.incremental.contains(res.name)
      val before =
        if (facts && wh.exists(res.name)) wh.currentManifest(res.name).files else Nil
      val (aggDf, rows) = rec.span("pipeline", s"load.${res.name}") {
        val stored = rec.span("state", "get")(state.get(res.name))
        val batch = rec.span("sources", "extract")(
          SObjectSource.extract(spark, cfg.sfDir, res, watermark = stored).cache())
        val aggDf = res.replicationKey match {
          case Some(rk) => batch.agg(count(lit(1)).as("n"),
            date_format(max(col(rk)), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("wm"))
          case None => batch.agg(count(lit(1)).as("n"), lit(null).cast("string").as("wm"))
        }
        // collect(), not head(): head() would execute a separate limit plan and
        // leave this plan's scan metrics empty
        val agg = rec.span("sources", "materialize")(aggDf.collect().head)
        val mode = res.mode.toString.toLowerCase
        rec.span("sink", s"write.$mode")(wh.write(res, batch))
        batch.unpersist()
        Option(agg.getString(1))
          .foreach(w => rec.span("state", "advance")(state.advance(res.name, w)))
        (aggDf, agg.getLong(0))
      }
      if (facts) {
        rowsRead += PlanMetrics.scans(aggDf).map(_.rows).sum
        rowsExtracted += rows
        if (res.mode == graft.model.WriteMode.Merge) sinkFacts(wh, res.name, before, src)
      }
    }
    if (record && rowsExtracted > 0)
      rec.sample("sources.rows_read_per_row_extracted", rowsRead.toDouble / rowsExtracted)
  }

  private def sinkFacts(wh: Warehouse, table: String, before: Seq[graft.sink.DataFile],
                        src: SourceDir): Unit = {
    val after = wh.currentManifest(table).files
    val beforePaths = before.map(_.path).toSet
    val added = after.filterNot(f => beforePaths.contains(f.path))
    val removed = before.size - after.count(f => beforePaths.contains(f.path))
    val dir = Paths.get(wh.tableDirOf(table))
    val written = added.map(f => Files.size(dir.resolve(f.path))).sum
    val change = Files.size(src.batchFile(src.batches, table))
    rec.sample(s"sink.files_rewritten_per_commit.$table", removed)
    rec.sample(s"sink.bytes_written_per_change_byte.$table", written.toDouble / change)
  }
}
