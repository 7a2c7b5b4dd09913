package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one seed, one run.
  *
  * Reads the inputs `run.py` generated, runs the workload's untimed set-up,
  * then its closed loop for `--seconds`, checks every answer, and writes the
  * raw record (operations, spans, jobs, checks, samples) as JSON to `--out`.
  * All arithmetic over that record happens in `run.py`/`stats.py`.
  *
  *   perfbench.Main --workload elt_incremental --seed 1 --seconds 10 --trace 0
  *     --inputs DIR --work DIR --out FILE --threads N [--keys k1,k2]
  *
  * `run.py` passes N = nproc, the CPUs the process may run on.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val threads = args("threads").toInt
    val work = args("work")
    val rec = new Recorder(args("trace") == "1")
    val tStart = rec.now()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = session(threads, work)
    val listener = if (rec.traced) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    rec.info("jvm_start_s") = (tStart - jvmStartMs) / 1000.0
    rec.info("session_start_s") = (rec.now() - tStart) / 1000.0
    rec.info("conditions") = Map(
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)

    val ctx = Ctx(spark, rec, args("inputs"), work, args("seconds").toDouble,
      args("seed").toLong, args.get("keys").map(_.split(",").toSeq).getOrElse(Nil))
    try {
      workload match {
        case "elt_incremental" => new EltIncremental(ctx).run()
        case "warehouse_read_mostly" => new ReadMostly(ctx).run()
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      rec.info("heap_live_peak_mb") = Heap.afterFullGc()
    } catch {
      case e: Throwable =>
        rec.check("workload completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    listener.foreach(_ => org.apache.spark.perfbench.BusDrain(spark.sparkContext))
    val out = rec.toMap + ("jobs" -> listener.map(_.toSeq).getOrElse(Nil))
    Files.writeString(Paths.get(args("out")), Json.render(out))
    spark.stop()
  }

  /** The engine's production session shape (the one its query drivers use),
    * sized to the box: `local[N]` with N shuffle partitions, every scratch
    * and warehouse directory under the run's work directory, and a `graft`
    * catalog over the workload's warehouse.
    */
  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.lateralColumnAlias.enableImplicitResolution", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass", "org.apache.spark.sql." +
        "execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.root", s"$work/wh")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What every workload gets: the session, the recorder and its inputs. */
final case class Ctx(spark: SparkSession, rec: Recorder, inputs: String, work: String,
                     seconds: Double, seed: Long, keys: Seq[String]) {
  /** Run `body` repeatedly until `seconds` have passed and it has run at
    * least `minOps` times, or until it returns false. `atMinOps` runs once,
    * right after the `minOps`-th call: end-of-run facts taken there (storage,
    * live files) do not depend on how many operations the run's length let
    * through, so a faster engine is not charged for the extra commits.
    */
  def closedLoop(minOps: Int)(atMinOps: => Unit)(body: Int => Boolean): Unit = {
    val deadline = rec.now() + seconds * 1000.0
    var i = 0
    var go = true
    while (go && (i < minOps || rec.now() < deadline)) {
      go = body(i)
      i += 1
      if (i == minOps) atMinOps
    }
  }
}

/** Old-generation occupancy right after a forced full collection: the
  * live set, so that retained caches or persisted frames show. Taken at the
  * end of set-up and at the end of the run; the larger one is reported.
  */
object Heap {
  private var peak = 0L

  def afterFullGc(): Double = {
    // the second collection also frees what Spark's ContextCleaner released
    // (broadcast and shuffle blocks) once the first made it unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage))
      .foreach(u => peak = math.max(peak, u.getUsed))
    peak / (1024.0 * 1024.0)
  }
}
