package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.functions.TextFns.normalize
import graft.pipeline.CorpusPipeline
import graft.pipeline.CorpusPipeline.Config
import graft.sink.{IndexFamily, Warehouse}

/** Streaming corpus curation: continuous document ingestion through the
  * CorpusPipeline admission gates into a deduplicated warehouse table.
  *
  * Architecture: the in-flight stages are STATELESS (quality filter and
  * benchmark-gram decontamination are per-row / per-batch against a static
  * broadcast set), and the one genuinely global piece of state — "which
  * fingerprints has this corpus ever admitted" — lives in the WAREHOUSE
  * TABLE itself via [[Warehouse.appendDeduped]], not in streaming state.
  * Streaming-state dedup (`dropDuplicates`) grows without bound for a
  * corpus-lifetime key set and dies with the checkpoint; the table probe is
  * durable, survives checkpoint loss, and is exactly the index a batch
  * backfill uses — stream and batch ingestion share one dedup truth.
  *
  * Replay safety falls out for free: a replayed micro-batch's rows are all
  * fingerprint-duplicates by then, so `appendDeduped` admits 0 — no
  * separate file ledger needed for this sink (unlike `incrementalLoad`'s
  * merge path, where rows aren't self-identifying).
  */
object CorpusStream {

  type Writer = DataStreamWriter[org.apache.spark.sql.Row]

  /** The shared stream shape: watch `watchDir` for parquet drops of
    * `schema`, checkpoint under `checkpointDir` (default
    * `<watchDir>/_checkpoint_<streamId>`), run `body` per micro-batch.
    */
  private def drops(spark: SparkSession, watchDir: String, schema: StructType,
      checkpointDir: Option[String], streamId: String)(
      body: (DataFrame, Long) => Unit): Writer =
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch(body)

  /** Watch `watchDir` for parquet document drops and ingest each micro-batch
    * through quality -> decontaminate -> fingerprint-dedup-append into
    * `table`. `evalGrams` is the pre-computed benchmark gram set
    * ([[CorpusPipeline.evalGrams]]) — pass an empty frame to skip
    * decontamination.
    */
  def ingestCurated(spark: SparkSession, watchDir: String, schema: StructType,
      wh: Warehouse, table: String, evalGrams: DataFrame,
      cfg: Config = Config(), checkpointDir: Option[String] = None,
      streamId: String = "corpus"): Writer = {
    val grams = evalGrams.cache() // tiny by contract; reused every trigger
    drops(spark, watchDir, schema, checkpointDir, streamId) { (batch, _) =>
      val q = CorpusPipeline.qualityFilter(batch, cfg)
      val clean =
        if (grams.isEmpty) q
        else CorpusPipeline.decontaminateAgainstGrams(q, grams, cfg)
      wh.appendDeduped(table,
        clean.withColumn("fp", md5(normalize(col("text")))), "fp", "doc_id"): Unit
    }
  }

  /** Streaming dual of an [[IndexFamily]] ([[graft.sink.NearDupIngest]],
    * [[graft.sink.SearchIndexIngest]], [[graft.sink.VectorIndexIngest]]):
    * each micro-batch runs the family's ingest — index tables, then the
    * corpus — so the index serves a continuously-fresh corpus with no
    * rebuild (a near-dup stream rejects a slightly-reworded copy of an
    * admitted document in-flight). Same state architecture as exact dedup:
    * the index IS warehouse tables, shared with batch backfills and durable
    * across checkpoint loss; replay safety is the family's own
    * idempotent-by-pk contract, so a replayed micro-batch — same checkpoint
    * or a rebuilt one — appends nothing new. `atomic` lands each
    * micro-batch's index and corpus appends as ONE transaction. A vector
    * family must be frozen before the stream starts. `streamId` defaults to
    * the family's (`neardup`/`searchindex`/`vectorindex`).
    */
  def ingestIndexed(spark: SparkSession, watchDir: String,
      schema: StructType, ing: IndexFamily, table: String,
      checkpointDir: Option[String] = None,
      streamId: Option[String] = None,
      atomic: Boolean = false): Writer =
    drops(spark, watchDir, schema, checkpointDir, streamId.getOrElse(ing.streamId)) {
      (batch, _) => if (atomic) ing.ingestAtomic(table, batch) else ing.ingest(table, batch): Unit
    }

  /** Streaming CDC upsert: continuous change capture into a keyed warehouse
    * table through [[Warehouse.morMerge]] — each micro-batch lands as ONE
    * O(batch) commit (batch data files + an equality-delete file of its
    * keys), so ingest cost never depends on table size or key scatter; the
    * read side pays the MOR anti-join until [[Warehouse.compactDeletes]]
    * (schedule it via [[Warehouse.maintain]], off the ingest path). This is
    * the Flink/Iceberg streaming "upsert mode" shape at 100 TB.
    *
    * Exactly-once rides the batch-id ledger (the `RollupStream` guard):
    * morMerge replays CONVERGE by value (the replay's delete kills the
    * prior copy), but a skipped replay also avoids accreting duplicate
    * delete/data files — so the ledger is an IO optimization AND the
    * no-churn guarantee, while correctness never rests on it.
    */
  def ingestUpserts(spark: SparkSession, watchDir: String,
      schema: StructType, wh: Warehouse, table: String, pks: Seq[String],
      checkpointDir: Option[String] = None,
      streamId: String = "upsert"): Writer =
    drops(spark, watchDir, schema, checkpointDir, streamId) { (batch, batchId) =>
      if (batchId > wh.lastCommittedBatchId(table, streamId)) {
        wh.morMerge(table, batch, pks)
        wh.recordBatchId(table, streamId, batchId)
      }
    }
}
