package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Incremental INVERTED-INDEX ingestion — the search-serving sibling of
  * [[NearDupIngest]] (q113's BM25 algebra served from index tables instead
  * of a corpus scan).
  *
  * The scale problem this solves: batch-mode search (q113) tokenizes the
  * whole corpus per query — fine for one audit, wrong for a serving path
  * that answers many queries against 100 TB of text. Here ingestion
  * maintains bounded index tables beside the corpus, so a SEARCH reads only
  * the postings of its query terms and two one-row/slim side tables — never
  * corpus text:
  *
  *   `<name>__postings` (term, pk, tf, dl) — the classic posting list with
  *     the doc length denormalized onto each posting (no per-doc join at
  *     query time). Appends are range-CLUSTERED on `term` with per-file
  *     min/max term stats, so a probe prunes to the manifest files whose
  *     term range intersects the query — the LSM-ish analog of a sorted
  *     term dictionary;
  *   `<name>__doclens` (pk, dl) — the append-only fact feeding the corpus
  *     stats rollup;
  *   `<name>__cstats` — ONE-ROW additive rollup (n_docs, total_dl)
  *     maintained by [[IncrementalRollup.maintainFromFeed]] off the doclens
  *     change feed: O(batch) per ingest, ledger-idempotent across replays,
  *     and the BM25 normalizer never rescans doclens.
  *
  * Commit order, replay safety, format stamping and change-feed following
  * are the shared [[IndexFamily]] lifecycle (postings, doclens, the
  * ledger-guarded rollup, corpus LAST). An orphan posting (index committed,
  * corpus append lost, batch never replayed) can surface a pk [[search]]
  * scores but the corpus lacks — callers that must not see them pass
  * `confirmed = true` to semi-join results against corpus membership (one
  * pk-pruned column probe).
  *
  * BM25 scoring matches q113 bit-for-bit: same rational-idf form (no
  * `log()`), per-term parts summed left-to-right in ONE fixed-order per-row
  * expression over term-pivoted tf columns — never a float SUM over posting
  * rows, whose accumulation order is partition-dependent.
  */
final class SearchIndexIngest(protected val wh: Warehouse, protected val pkCol: String,
                              textCol: String) extends IndexFamily {

  type Report = SearchIndexIngest.Report

  private[graft] def streamId = "searchindex"

  private def postingsTable(name: String) = s"${name}__postings"
  private def doclensTable(name: String) = s"${name}__doclens"
  private def cstatsTable(name: String) = s"${name}__cstats"

  private val statsSpec = IncrementalRollup.Spec(Nil, Seq(
    IncrementalRollup.CountStar("n_docs"),
    // dl is a bounded per-doc token count; the DECIMAL sum keeps the corpus
    // total exact (and association-free) at any corpus size
    IncrementalRollup.SumOf(col("dl").cast(
      org.apache.spark.sql.types.DataTypes.createDecimalType(28, 0)), "total_dl")))

  // ---- tokenizer-format stamp -------------------------------------------
  // A change to the tokenization algebra ([[TextFns.TokenizerGeneration]])
  // makes stored postings silently mismatch query-side tokens — searches
  // under-score pre-change documents and dedup-by-terms misses them, with
  // no error anywhere. The stamp rides the postings table's ledger.
  protected def stampTable(name: String) = postingsTable(name)
  protected def stampId = "idxformat"
  private[sink] val formatStamp: Long = TextFns.TokenizerGeneration

  protected def noStampError(name: String) =
    s"search index for '$name' carries no tokenizer-format stamp — it was " +
      "built before format stamping. If it was provably built with the " +
      "CURRENT tokenizer generation, adopt it explicitly with " +
      "adoptFormat(name); otherwise rebuild the index (drop the " +
      "__postings/__doclens/__cstats tables and re-ingest)."

  protected def mismatchError(name: String, got: Long) =
    s"search index for '$name' was built with tokenizer generation $got; this " +
      s"build tokenizes at generation $formatStamp. Stored postings would " +
      "silently mismatch query-side tokens (under-scored or missed documents), " +
      "so the index must be rebuilt (re-ingest), not mixed."

  protected def noIndexError(name: String) = s"no search index for table: $name"

  protected def ledgerTable(name: String) = postingsTable(name)
  protected def retractTables(name: String) = Seq(postingsTable(name), doclensTable(name))
  protected def compactKeys(name: String) = Seq(postingsTable(name) -> "term")

  protected def checkFollow(name: String): Unit =
    require(wh.exists(postingsTable(name)),
      s"no search index for table: $name (ingest first)")

  /** Postings + doclens of `rows` — one tokenization pass feeds both.
    * Postings land range-CLUSTERED on `term`, so each file's [min,max] term
    * stats are TIGHT and [[probePostings]] touches ~query-terms/term-range
    * files, not every batch's.
    */
  protected def stageIndex(name: String, rows: DataFrame): Seq[IndexFamily.Append] = {
    val toks = rows.select(col(pkCol), TextFns.tokens(col(textCol)).as("tk"))
      .select(col(pkCol), col("tk"), size(col("tk")).cast("long").as("dl"))
      .persist()
    try {
      val posts = toks
        .select(col(pkCol), col("dl"), explode(col("tk")).as("term"))
        .groupBy(col("term"), col(pkCol), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .select(col("term"), col(pkCol), col("tf"), col("dl"))
      Seq(
        IndexFamily.Append(postingsTable(name),
          absent(postingsTable(name), posts, distinct = true),
          statsCols = Seq("term", pkCol), clusterBy = Seq("term")),
        IndexFamily.Append(doclensTable(name),
          absent(doclensTable(name), toks.select(col(pkCol), col("dl"))),
          statsCols = Seq(pkCol)))
    } finally toks.unpersist()
  }

  /** Corpus rule: the batch rows whose pk the corpus lacks. */
  protected def stage(name: String, batch: DataFrame): IndexFamily.Staged[Report] = {
    val index = stageIndex(name, batch)
    val fresh = absent(name, batch)
    IndexFamily.Staged(index, fresh,
      v => SearchIndexIngest.Report(v, fresh.count(), index.head.rows.count()))
  }

  /** The cstats rollup follows the doclens CHANGE feed (not the append-only
    * file feed): doclens mutates once followChanges deletes from it, and the
    * signed fold subtracts deleted docs' contributions exactly. Feed- and
    * ledger-driven, so ingest/ingestAtomic/followChanges fold each doclens
    * commit exactly once whichever path made it.
    */
  override protected def afterIndex(name: String): Unit =
    IncrementalRollup.maintainFromChangeFeed(wh, doclensTable(name),
      cstatsTable(name), statsSpec)

  /** Postings of `terms` only ([[IndexFamily.statProbe]] on `term`). */
  private[graft] def probePostings(name: String, terms: Seq[String]): DataFrame =
    statProbe(postingsTable(name), "term", terms)

  /** Top-`k` BM25 over the index: cost ∝ postings of the query terms (a
    * pruned probe), one broadcast one-row stats frame, one TakeOrdered —
    * the corpus text is never read. `confirmed = true` additionally
    * semi-joins hits against corpus membership (crash-orphan shielding).
    */
  def search(name: String, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75,
             confirmed: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    require(terms.distinct.size == terms.size, "query terms must be distinct")
    // one pivot column pair per term: right for the keyword-query shape this
    // serves; a wide "query" (document-sized term sets) belongs on the
    // corpus-scan path (q113's algebra), not a thousand-column pivot
    require(terms.size <= 64,
      s"search supports at most 64 terms (got ${terms.size}); use the corpus-scan BM25 for document-shaped queries")
    require(wh.exists(postingsTable(name)) && wh.exists(cstatsTable(name)),
      s"no search index for table: $name (ingest first)")
    formatGuard(name) // query-side tokens must match the stored postings' era
    // persisted: consumers = per-term df aggregate + the scoring pivot
    val probe = probePostings(name, terms).persist()
    try {
      // one-row broadcast stats: corpus n/total_dl from the rollup, df per
      // term from the probe itself (a posting exists iff tf > 0, so the
      // probe's per-term row count IS the document frequency)
      val corpus = IncrementalRollup.read(wh, cstatsTable(name), statsSpec)
        .select(col("n_docs").as("n"), col("total_dl").cast("double").as("total_dl"))
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df$i") }
      val dfs = probe.agg(dfCols.head, dfCols.tail: _*)
      val stats = corpus.crossJoin(broadcast(dfs)) // one-row frames both sides

      // term-pivoted tf columns: the per-doc score is ONE fixed-order
      // expression (q113's exact shape), bit-stable under any partitioning
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf$i") }
      val pivoted = probe.groupBy(col(pkCol), col("dl"))
        .agg(tfCols.head, tfCols.tail: _*)
      def part(i: Int) =
        ((col(s"tf$i").cast("double") * (k1 + 1.0)
          / (col(s"tf$i").cast("double") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double") * col("n").cast("double")
              / col("total_dl"))))
          * ((col("n") - col(s"df$i")).cast("double") + 0.5)
          / (col(s"df$i").cast("double") + 0.5))
      val scored = pivoted.crossJoin(broadcast(stats))
        .withColumn("n_hits",
          terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("bm25", round(terms.indices.map(part).reduce(_ + _), 6))
        .select(col(pkCol), col("n_hits"), col("bm25"))
      val shielded =
        if (!confirmed) scored
        else scored.join(wh.load(name).select(col(pkCol)), Seq(pkCol), "left_semi")
      shielded.orderBy(col("bm25").desc, col(pkCol)).limit(k)
    } finally probe.unpersist()
  }
}

object SearchIndexIngest {
  final case class Report(version: Long, docs: Long, postings: Long)
}
