package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.TimestampNTZType

import graft.model.Resources
import graft.pipeline.Pipeline
import graft.sink.Warehouse

object ReadMostly {
  /** One live row of `orders`; money as exact cents, time as epoch micros. */
  final case class ORow(key: Long, cust: Long, status: String, price: Double, micros: Long,
                        prio: String) {
    def cents: BigDecimal = BigDecimal(price).setScale(2, BigDecimal.RoundingMode.HALF_UP)
  }
}

/** Workload `warehouse_read_mostly`: the verification and analysis side.
  *
  * Set-up builds the warehouse with the same `Pipeline.run` initial load
  * plus one incremental merge as `elt_incremental`. The closed loop then
  * cycles a fixed schedule of ten operations on `orders` through SQL on the
  * `graft` catalog: six PK point lookups (three on recent orders, two on
  * uniformly drawn ones, one on an absent key), one watermark-range scan,
  * one grouped aggregate, one top-N by replication key, and one
  * `Warehouse.morMerge` upsert, so delete files pile up beside the reads.
  * Every answer is checked against an in-memory model of the live `orders`
  * rows. A run makes at least three passes of the schedule; storage and
  * live files are taken after them.
  *
  * The traced run also runs the query-key subset ([[QueryKeys]]) after the
  * loop, for the `queries` layer's counters.
  */
final class ReadMostly(ctx: Ctx) {
  import ctx.{rec, spark}
  import ReadMostly.ORow

  private val Schedule = "PPSPAPTPPU"
  private val MergesInSetup = 1
  // every upsert slows the reads after it (by about 0.1 s each at sf0.01),
  // so the run's median read moves with the number of upserts; three
  // passes outlast a 10-second run on 4 cores, which keeps that number fixed
  // and puts the median read in the middle pass, not at a pass boundary
  private val MinPasses = 3
  private val rng = new java.util.SplittableRandom(ctx.seed * 7919L + 17L)

  private val model = mutable.HashMap.empty[Long, Vector[ORow]]
  private var maxKey = 0L
  private var maxMicros = 0L
  private var ntz = true
  private var warming = true

  private def micros(v: Any): Long = v match {
    case l: LocalDateTime => l.toEpochSecond(ZoneOffset.UTC) * 1000000L + l.getNano / 1000
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def tsValue(us: Long): Any = {
    val l = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)
    if (ntz) l else java.sql.Timestamp.valueOf(l)
  }

  private def tsLiteral(us: Long): String = {
    val l = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)
    s"CAST('${l.toString.replace('T', ' ')}' AS ${if (ntz) "TIMESTAMP_NTZ" else "TIMESTAMP"})"
  }

  private def toORow(r: Row): ORow =
    ORow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), micros(r.get(4)),
      r.getString(5))

  private val Cols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  def run(): Unit = {
    val setup0 = rec.now()
    val src = new SourceDir(ctx.inputs, s"${ctx.work}/src")
    val cfg = src.config(s"${ctx.work}/wh", s"${ctx.work}/state")
    rec.timed("setup.prep_s") {
      rec.timed("pipeline.initial_load_s")(Pipeline.run(spark, cfg))
      for (_ <- 1 to MergesInSetup) { src.arrive(); Pipeline.run(spark, cfg) }
    }
    val res = Resources.byName("orders")
    ntz = new Warehouse(spark, cfg.warehouseDir).currentManifest("orders").schema("o_orderdate")
      .dataType == TimestampNTZType
    Model.expected(spark, src, ctx.inputs, res, src.batches)
      .selectExpr(Cols.split(", ").toIndexedSeq: _*).collect().foreach { r =>
        val o = toORow(r)
        model(o.key) = model.getOrElse(o.key, Vector.empty) :+ o
      }
    maxKey = model.keysIterator.max
    maxMicros = model.valuesIterator.flatten.map(_.micros).max
    // warm-up: one untimed pass over the schedule (answers still checked)
    for (c <- Schedule) operation(c, cfg.warehouseDir)
    val warmFailures = rec.ops.filterNot(_.ok).map(o => s"${o.tag}: ${o.error}")
    rec.discard()
    warming = false
    warmFailures.foreach(f => rec.check("warm-up read", ok = false, f))
    Heap.afterFullGc()
    rec.info("setup_jvm_s") = (rec.now() - setup0) / 1000.0

    ctx.closedLoop(minOps = MinPasses * Schedule.length)(
      WarehouseFacts.record(ctx, cfg.warehouseDir)) { i =>
      operation(Schedule(i % Schedule.length), cfg.warehouseDir)
      true
    }
    if (rec.traced) new QueryKeys(ctx).run()
  }

  private def operation(c: Char, whDir: String): Unit = c match {
    case 'P' => point(whDir)
    case 'S' => rangeScan(whDir)
    case 'A' => aggregate(whDir)
    case 'T' => topN(whDir)
    case 'U' => upsert(whDir)
  }

  /** Run one read, then (untimed) record its plan facts and check it. */
  private def read(kind: String, tag: String, whDir: String, sql: String)
                  (want: => Seq[Seq[Any]], ordered: Boolean = true): Unit = {
    var df: DataFrame = null
    var rows: Array[Row] = Array.empty
    val o = rec.op(kind, tag, withSpans = alternate(kind)) {
      df = spark.sql(sql)
      rows = df.collect()
    }
    if (!o.ok) return
    var got = rows.toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => BigDecimal(d)
      case t @ (_: LocalDateTime | _: java.sql.Timestamp) => micros(t)
      case v => v
    })
    var w = want
    if (!ordered) { got = got.sortBy(_.toString); w = w.sortBy(_.toString) }
    if (got != w) rec.fail(o, s"$tag: got ${got.take(3)} want ${w.take(3)}")
    if (rec.traced && !warming) planFacts(kind, o, df, rows.length, whDir)
  }

  private def planFacts(kind: String, o: Recorder.Op, df: DataFrame, returned: Int,
                        whDir: String): Unit = {
    val cls = if (kind == "read_point") "point" else "scan"
    val live = new Warehouse(spark, whDir).currentManifest("orders").files.size
    val (delScans, dataScans) = PlanMetrics.scans(df).partition(_.deletes)
    val plan = PlanMetrics.planSeconds(df)
    val files = dataScans.map(_.files).sum
    rec.sample(s"catalog.plan_s.$cls", plan)
    rec.sample(s"catalog.exec_s.$cls", (o.t1 - o.t0) / 1000.0 - plan)
    rec.sample(s"catalog.files_scanned_per_read.$cls", files.toDouble)
    rec.sample(s"catalog.files_skipped_ratio.$cls",
      if (live == 0) 0.0 else 1.0 - files.toDouble / live)
    rec.sample(s"catalog.rows_scanned_per_row_returned.$cls",
      dataScans.map(_.rows).sum.toDouble / math.max(returned, 1))
    rec.sample(s"catalog.delete_files_applied_per_read.$cls", delScans.map(_.files).sum.toDouble)
  }

  private val perKind = mutable.HashMap.empty[String, Int]

  /** Every other operation of a kind carries spans in a traced run. */
  private def alternate(kind: String): Boolean = {
    val n = perKind.getOrElse(kind, 0)
    perKind(kind) = n + 1
    n % 2 == 0
  }

  private def live: Iterator[ORow] = model.valuesIterator.flatten

  // the key class of the point lookups of one pass, in order: half recent,
  // one absent; fixed so that every seed runs the same mix, since an absent
  // key is pruned away and costs a fraction of a present one
  private val PointClasses = "RURARU"
  private var points = 0

  private def pickKey(): Long = {
    val cls = PointClasses(points % PointClasses.length)
    points += 1
    cls match {
      case 'A' => maxKey + 1000 + rng.nextInt(1000000)
      case 'R' => maxKey - rng.nextLong(math.max(maxKey / 20, 1))
      case 'U' => rng.nextLong(maxKey + 1)
    }
  }

  private def point(whDir: String): Unit = {
    val k = pickKey()
    read("read_point", "point", whDir, s"SELECT $Cols FROM graft.orders WHERE o_orderkey = $k")(
      model.getOrElse(k, Vector.empty)
        .map(r => Seq(r.key, r.cust, r.status, r.price, r.micros, r.prio)), ordered = false)
  }

  private val Day = 86400L * 1000000L
  private var scans = 0

  private def rangeScan(whDir: String): Unit = {
    // a 90-day window: two in three over history, one in three at the tail
    scans += 1
    val (lo, hi) =
      if (scans % 3 != 0) {
        val start = 788918400000000L + rng.nextLong(2300L) * Day  // from 1995-01-01
        (start, start + 90 * Day)
      } else (maxMicros - 30 * Day, maxMicros + 3650 * Day)
    read("read_scan", "range", whDir,
      s"SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s FROM graft.orders " +
        s"WHERE o_orderdate > ${tsLiteral(lo)} AND o_orderdate <= ${tsLiteral(hi)}") ({
      val in = live.filter(r => r.micros > lo && r.micros <= hi).toSeq
      Seq(Seq(in.size.toLong, if (in.isEmpty) null else in.map(_.cents).sum))
    })
  }

  private def aggregate(whDir: String): Unit =
    read("read_scan", "aggregate", whDir,
      "SELECT o_orderpriority, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s " +
        "FROM graft.orders GROUP BY o_orderpriority ORDER BY o_orderpriority") (
      live.toSeq.groupBy(_.prio).toSeq.sortBy(_._1).map { case (p, rs) =>
        Seq(p, rs.size.toLong, rs.map(_.cents).sum)
      })

  private def topN(whDir: String): Unit =
    read("read_scan", "topn", whDir,
      "SELECT o_orderkey, o_orderdate FROM graft.orders " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10") (
      live.toSeq.sortBy(r => (-r.micros, -r.key)).take(10).map(r => Seq(r.key, r.micros)))

  /** A 20-row upsert: 10 updates (half uniform, half recent keys), 8 new
    * keys, 2 in-batch duplicates; dated in the 6 hours after the newest row.
    */
  private def upsert(whDir: String): Unit = {
    val wh = new Warehouse(spark, whDir)
    val schema = wh.currentManifest("orders").schema
    val upd = (0 until 10).map(i =>
      if (i < 5) rng.nextLong(maxKey + 1) else maxKey - rng.nextLong(math.max(maxKey / 20, 1)))
    val fresh = (1 to 8).map(maxKey + _)
    val keys = upd ++ fresh ++ Seq(upd(0), fresh(0))
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val statuses = Array("F", "O", "P")
    val batch = keys.map { k =>
      ORow(k, rng.nextLong(1000), statuses(rng.nextInt(3)),
        (100000 + rng.nextInt(49900000)) / 100.0,
        maxMicros + 1 + rng.nextLong(6L * 3600 * 1000000), prios(rng.nextInt(5)))
    }
    val df = spark.createDataFrame(batch.map(r =>
      Row(r.key, r.cust, r.status, r.price, tsValue(r.micros), r.prio)).asJava, schema)
    val o = rec.op("upsert", "mor_merge", withSpans = alternate("upsert"))(
      wh.morMerge("orders", df, Seq("o_orderkey"), clusterBy = Seq("o_orderkey")))
    if (o.ok) batch.groupBy(_.key).foreach { case (k, rs) => model(k) = rs.toVector }
    maxKey = math.max(maxKey, fresh.max)
    maxMicros = math.max(maxMicros, batch.map(_.micros).max)
  }
}
