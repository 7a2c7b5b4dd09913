package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.ProductQuantization
import graft.sink.{SearchIndexIngest, VectorIndexIngest, Warehouse}
import graft.streaming.CorpusStream

/** Streaming duals of the index-beside-corpus ingesters: a stream-fed index
  * equals the batch-fed index serving-state for serving purposes, and a
  * rebuilt checkpoint replays to zero new rows — the ingesters' own
  * idempotence does all the work, the stream just delivers batches.
  */
class IndexStreamSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def drain(w: org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "stream did not drain in 60s")
    finally q.stop()
  }

  // ---- BM25 search index stream ------------------------------------------

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, docSchema)

  test("streamed BM25 index == batch-built index; fresh-checkpoint replay adds 0") {
    val batchA = Seq(1L -> "spark merge spark join scan",
      2L -> "merge dup merge dup filter", 3L -> "window rank sort order limit")
    val batchB = Seq(4L -> "spark dup spark dup spark",
      5L -> "scan filter project exchange shuffle")
    val query = Seq("spark", "merge", "dup")

    // batch twin: both batches through the plain batch API
    val whB = new Warehouse(spark, tmpDir("isx-batch"))
    val ingB = new SearchIndexIngest(whB, "doc_id", "text")
    ingB.ingest("c", docs(batchA: _*))
    ingB.ingest("c", docs(batchB: _*))
    val want = ingB.search("c", query, k = 10).collect().toSeq

    // streamed twin: same rows arrive as watched parquet drops
    val watch = tmpDir("isx-watch")
    val whS = new Warehouse(spark, tmpDir("isx-stream"))
    val ingS = new SearchIndexIngest(whS, "doc_id", "text")
    docs(batchA: _*).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, docSchema, ingS, "c",
      checkpointDir = Some(tmpDir("isx-cp1"))))
    docs(batchB: _*).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, docSchema, ingS, "c",
      checkpointDir = Some(tmpDir("isx-cp2")))) // fresh checkpoint: batch A replays
    assert(ingS.search("c", query, k = 10).collect().toSeq == want,
      "stream-fed index must serve the batch-fed results bit for bit")
    for (t <- Seq("c", "c__postings", "c__doclens"))
      assert(whS.load(t).count() == whB.load(t).count(), s"$t diverged")

    // pure replay on another fresh checkpoint: nothing anywhere changes
    val counts = Seq("c", "c__postings", "c__doclens").map(t => whS.load(t).count())
    drain(CorpusStream.ingestIndexed(spark, watch, docSchema, ingS, "c",
      checkpointDir = Some(tmpDir("isx-cp3"))))
    assert(Seq("c", "c__postings", "c__doclens").map(t => whS.load(t).count()) == counts,
      "replay must append nothing")
  }

  test("atomic streamed ingest: per-micro-batch transactions serve identically, replay adds 0") {
    val batchA = Seq(1L -> "spark merge spark join scan",
      2L -> "merge dup merge dup filter", 3L -> "window rank sort order limit")
    val batchB = Seq(4L -> "spark dup spark dup spark",
      5L -> "scan filter project exchange shuffle")
    val query = Seq("spark", "merge", "dup")
    val whB = new Warehouse(spark, tmpDir("isa-batch"))
    val ingB = new SearchIndexIngest(whB, "doc_id", "text")
    ingB.ingest("c", docs(batchA: _*)); ingB.ingest("c", docs(batchB: _*))
    val want = ingB.search("c", query, k = 10).collect().toSeq

    val watch = tmpDir("isa-watch")
    val whS = new Warehouse(spark, tmpDir("isa-stream"))
    val ingS = new SearchIndexIngest(whS, "doc_id", "text")
    docs(batchA: _*).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, docSchema, ingS, "c",
      checkpointDir = Some(tmpDir("isa-cp1")), atomic = true))
    // index and corpus in lockstep after every micro-batch (one txn each)
    assert(whS.load("c").count() == whS.load("c__doclens").count())
    docs(batchB: _*).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, docSchema, ingS, "c",
      checkpointDir = Some(tmpDir("isa-cp2")), atomic = true)) // fresh cp: A replays
    assert(ingS.search("c", query, k = 10).collect().toSeq == want)
    for (t <- Seq("c", "c__postings", "c__doclens"))
      assert(whS.load(t).count() == whB.load(t).count(), s"$t diverged")
  }

  // ---- IVF-PQ vector index stream ----------------------------------------

  private val DIM = 8
  private val vecSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("emb", ArrayType(DoubleType))))

  private def block(p: Int) = math.min(p / 3, 2)

  private def vecs(ids: Range) = spark.createDataFrame(ids.map { i =>
    Row(i.toLong, (0 until DIM).map(p =>
      (if (block(p) == i % 3) 10.0 else 0.0) + 0.1 * ((i * 7 + p) % 5)).toArray)
  }.asJava, vecSchema)

  private val cellCents = spark.createDataFrame((0 until 3).map(c =>
    Row(c.toLong, (0 until DIM).map(p => if (block(p) == c) 10.0 else 0.0).toArray)).asJava,
    StructType(Seq(StructField("cell", LongType), StructField("cv", ArrayType(DoubleType)))))

  test("streamed vector index == batch-built index; fresh-checkpoint replay adds 0") {
    val model = ProductQuantization.initCodebook(
      vecs(0 until 16).select(org.apache.spark.sql.functions.col("id").as("vec_id"),
        org.apache.spark.sql.functions.col("emb").as("v")), DIM, 2, 4)
    val probes = vecs(0 until 16)
      .select(org.apache.spark.sql.functions.col("id").as("probe_id"),
        org.apache.spark.sql.functions.col("emb").as("pv"))
      .filter(org.apache.spark.sql.functions.col("probe_id") < 2)

    val whB = new Warehouse(spark, tmpDir("ivx-batch"))
    val ingB = new VectorIndexIngest(whB, "id", "emb", DIM, 2, 4)
    ingB.freeze("v", cellCents, model)
    ingB.ingest("v", vecs(0 until 8))
    ingB.ingest("v", vecs(8 until 16))
    val want = ingB.search("v", probes, nprobe = 2, topK = 5)
      .orderBy("probe_id", "rank").collect().toSeq

    val watch = tmpDir("ivx-watch")
    val whS = new Warehouse(spark, tmpDir("ivx-stream"))
    val ingS = new VectorIndexIngest(whS, "id", "emb", DIM, 2, 4)
    ingS.freeze("v", cellCents, model) // model frozen BEFORE the stream starts
    vecs(0 until 8).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, vecSchema, ingS, "v",
      checkpointDir = Some(tmpDir("ivx-cp1"))))
    vecs(8 until 16).write.mode("append").parquet(watch)
    drain(CorpusStream.ingestIndexed(spark, watch, vecSchema, ingS, "v",
      checkpointDir = Some(tmpDir("ivx-cp2")))) // fresh checkpoint: replay + new
    assert(ingS.search("v", probes, nprobe = 2, topK = 5)
      .orderBy("probe_id", "rank").collect().toSeq == want,
      "stream-fed vector index must serve the batch-fed results bit for bit")
    for (t <- Seq("v", "v__codes"))
      assert(whS.load(t).count() == whB.load(t).count(), s"$t diverged")

    val counts = Seq("v", "v__codes").map(t => whS.load(t).count())
    drain(CorpusStream.ingestIndexed(spark, watch, vecSchema, ingS, "v",
      checkpointDir = Some(tmpDir("ivx-cp3"))))
    assert(Seq("v", "v__codes").map(t => whS.load(t).count()) == counts,
      "replay must append nothing")
  }
}
