package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lifecycle shared by the warehouse-resident indexes maintained BESIDE
  * a corpus table ([[SearchIndexIngest]] BM25 postings, [[VectorIndexIngest]]
  * IVF-PQ codes, [[NearDupIngest]] MinHash bands/sigs) — ONE implementation
  * of the rules that keep a corpus and its index convergent at O(batch) per
  * ingest and O(changes) per follow tick. A family supplies only what
  * differs: its tables, its format stamp and error texts, how a batch
  * becomes index rows ([[stageIndex]]), its corpus-append rule ([[stage]])
  * and its serving calls.
  *
  * '''Format stamp.''' Stored index state is only meaningful under the
  * algebra (tokenizer generation, signing parameters, frozen model shape)
  * that produced it; an index mixing eras degrades SILENTLY. The stamp
  * rides the batch-id ledger of one family table (`stampTable`), every
  * entry point refuses loudly on mismatch, and the stamp lands BEFORE any
  * index rows commit (create-then-stamp), so a committed index is never
  * stampless. An EMPTY stampless stamp table (a crash between create and
  * stamp) reads as fresh. `adoptFormat` is the operator override for a
  * pre-stamp index of known provenance.
  *
  * '''Ingest.''' The batch is deduplicated by pk first (JSON-minimal
  * keeper: deterministic under any partitioning, so a streaming replay of
  * a duplicate-bearing batch converges on the same survivor), then staged:
  * every index frame and the corpus rows are materialized BEFORE the first
  * commit (an anti-join must not re-plan against its own table after the
  * append lands). [[ingest]] commits the index tables first and the corpus
  * LAST — every index append is IDEMPOTENT BY PK (anti-join against the
  * stored pks), so replaying a batch after a crash at ANY commit boundary
  * converges and no table accretes duplicates; an orphan index row (index
  * committed, corpus lost, never replayed) is what the families'
  * corpus-membership shields exist for. [[ingestAtomic]] lands the SAME
  * staged frames inside one [[Warehouse.transact]], where no orphan state
  * exists; the two paths mix freely on one index.
  *
  * '''Follow.''' [[followChanges]] consumes the corpus change feed: the
  * window's retracted pks become ONE equality-delete commit per
  * `retractTables` entry (O(changed pks) metadata, zero index-file
  * rewrites — the MOR discipline), and its inserted rows re-index through
  * the same idempotent staging ingests use. The window consumed is tracked
  * in the `idxfollow:<corpus>` batch ledger on `ledgerTable` (NOT the
  * corpus: the corpus stays writable by parties that know nothing of the
  * index):
  *
  *   - '''advance''' (after an ingest's own corpus append): the index is
  *     synchronous with the corpus THROUGH the ingest's commit, so the
  *     ledger may move past it — but ONLY when nothing foreign is pending.
  *     Judged on the corpus head itself: a foreign deleteWhere/morMerge
  *     landing DURING the ingest must not be fast-forwarded over, so the
  *     ledger advances only when the head is EXACTLY `preAppendVersion + 1`
  *     and the ledger already covered the pre-append head. Anything else
  *     stays in the next window; re-indexing the ingest's own rows there
  *     no-ops through the idempotent anti-joins.
  *   - '''window''' (a follow tick): bootstrap — a corpus never ingested
  *     through the family (ledger unset) — treats the WHOLE current
  *     snapshot as insertions; rows deleted before that first call were
  *     never indexed, so there is nothing to retract. A pk column renamed
  *     inside the window refuses loudly (the index pairs by pk NAME).
  *   - '''record''' (after the tick's commits): the consumed head, making
  *     crashed/replayed ticks converge — re-deleting deleted pks is a no-op
  *     MOR overlay, re-indexing anti-joins to empty.
  *
  * Fault-tolerance trade, stated once for the `localCheckpoint` sites
  * here: they pin multi-consumed staged frames to executor-local blocks,
  * so an executor loss mid-ingest fails the job instead of recomputing —
  * the retry is a REPLAY of the whole ingest, which the idempotent-by-pk
  * commit order makes safe. persist(MEMORY_AND_DISK) would keep lineage
  * but leave the anti-joins able to re-plan AFTER their own table commits,
  * exactly the race the checkpoints close.
  */
abstract class IndexFamily {
  import IndexFamily._

  protected def wh: Warehouse
  protected def pkCol: String

  /** Per-batch outcome of [[ingest]]/[[ingestAtomic]] (family counts). */
  type Report

  /** Default checkpoint id of the family's corpus stream
    * ([[graft.streaming.CorpusStream.ingestIndexed]]).
    */
  private[graft] def streamId: String

  // ---- what each family supplies ----------------------------------------
  /** Table whose batch-id ledger carries the format stamp, and the id. */
  protected def stampTable(name: String): String
  protected def stampId: String
  private[sink] def formatStamp: Long
  protected def noStampError(name: String): String
  protected def mismatchError(name: String, got: Long): String
  /** `adoptFormat`'s refusal when the stamp table does not exist. */
  protected def noIndexError(name: String): String
  /** Table carrying the follower ledger. */
  protected def ledgerTable(name: String): String
  /** Tables a follow tick retracts window deletes from, in commit order. */
  protected def retractTables(name: String): Seq[String]
  /** (table, clusterBy column) pairs [[compact]] rewrites; head first. */
  protected def compactKeys(name: String): Seq[(String, String)]
  /** Entry preconditions beyond the format guard. */
  protected def checkIngest(name: String): Unit = ()
  protected def checkFollow(name: String): Unit
  /** Index appends for `rows` (one row per pk), idempotent by pk. */
  protected def stageIndex(name: String, rows: DataFrame): Seq[Append]
  /** Index appends + corpus rows for a pk-deduplicated ingest batch. */
  protected def stage(name: String, batch: DataFrame): Staged[Report]
  /** Derived state folded after the index commits (BM25 corpus stats). */
  protected def afterIndex(name: String): Unit = ()

  // ---- format stamp -------------------------------------------------------
  protected def formatGuard(name: String): Unit = {
    val t = stampTable(name)
    if (!wh.exists(t)) return
    val got = wh.lastCommittedBatchId(t, stampId)
    if (got == formatStamp) return
    if (got < 0) {
      val man = wh.currentManifest(t)
      if (man.files.isEmpty && man.deletes.isEmpty) return // fresh, pre-stamp crash
    }
    throw new IllegalStateException(
      if (got < 0) noStampError(name) else mismatchError(name, got))
  }

  /** Record this instance's stamp (idempotent). */
  protected def stamp(name: String): Unit =
    if (wh.lastCommittedBatchId(stampTable(name), stampId) != formatStamp)
      wh.recordBatchId(stampTable(name), stampId, formatStamp)

  /** Create-then-stamp, BEFORE any index rows commit. */
  private def ensureStamped(name: String, index: Seq[Append]): Unit = {
    index.find(_.table == stampTable(name)).foreach { a =>
      if (!wh.exists(a.table)) wh.create(a.table, a.rows.schema) }
    stamp(name)
  }

  /** Operator override for a pre-stamp index KNOWN to match this instance's
    * format: records the stamp so the guard passes. Misuse reintroduces the
    * silent cross-era mixing the guard exists to prevent.
    */
  def adoptFormat(name: String): Unit = {
    require(wh.exists(stampTable(name)), noIndexError(name))
    stamp(name)
  }

  // ---- staging ------------------------------------------------------------
  /** One row per pk — the JSON-minimal row (same keeper as
    * [[Warehouse.appendDeduped]]). A duplicate pk would otherwise index
    * twice (two doc lengths, a union signature, a 2M-long code array) and
    * then block a correct re-ingest through the pk anti-joins.
    */
  private def dedup(df: DataFrame): DataFrame = {
    require(!df.columns.contains("__keeper"),
      "column name __keeper is reserved by the index ingest")
    val w = Window.partitionBy(pkCol)
      .orderBy(to_json(struct(df.columns.map(col): _*)).asc)
    df.withColumn("__keeper", row_number().over(w))
      .filter(col("__keeper") === 1).drop("__keeper")
      .localCheckpoint()
  }

  /** `rows` whose pk `table` does not store yet, materialized. `distinct`
    * dedups the probe side where the table holds many rows per pk
    * (postings, bands) — there it makes the probe O(docs).
    */
  protected def absent(table: String, rows: DataFrame,
                       distinct: Boolean = false): DataFrame = (
    if (!wh.exists(table)) rows
    else {
      val pks = wh.load(table).select(col(pkCol))
      rows.join(if (distinct) pks.distinct() else pks, Seq(pkCol), "left_anti")
    }).localCheckpoint()

  private def appendAll(index: Seq[Append]): Unit =
    index.foreach(a => wh.append(a.table, a.rows, a.statsCols, a.clusterBy))

  private def prepare(name: String, df: DataFrame): (Long, Staged[Report]) = {
    checkIngest(name)
    formatGuard(name)
    val preV = if (wh.exists(name)) wh.currentVersion(name) else -1L
    val st = stage(name, dedup(df))
    ensureStamped(name, st.index)
    (preV, st)
  }

  // ---- lifecycle ----------------------------------------------------------
  /** Ingest one batch: index tables first, corpus last; every commit is
    * O(batch).
    */
  def ingest(name: String, df: DataFrame): Report = {
    val (preV, st) = prepare(name, df)
    appendAll(st.index)
    afterIndex(name)
    val version = wh.append(name, st.corpus, statsCols = Seq(pkCol))
    advanceFollowerLedger(name, preV)
    st.report(version)
  }

  /** [[ingest]] with the index and corpus appends fused into ONE
    * [[Warehouse.transact]] unit: no reader can observe an index row
    * without its corpus row, and a crashed transaction commits nothing.
    * Derived state ([[afterIndex]]) stays feed-driven after the commit.
    */
  def ingestAtomic(name: String, df: DataFrame): Report = {
    val (preV, st) = prepare(name, df)
    wh.transact { tx =>
      st.index.foreach(a => tx.append(a.table, a.rows, a.statsCols, a.clusterBy))
      tx.append(name, st.corpus, statsCols = Seq(pkCol))
    }
    afterIndex(name)
    advanceFollowerLedger(name, preV)
    st.report(wh.currentVersion(name))
  }

  private def followId(name: String) = s"idxfollow:$name"

  /** Advance the follower ledger past an ingest's own corpus append — the
    * head == preAppendVersion + 1 rule of the class doc.
    */
  private[graft] def advanceFollowerLedger(name: String, preAppendVersion: Long): Unit = {
    val ledgerClean = preAppendVersion < 0 ||
      wh.lastCommittedBatchId(ledgerTable(name), followId(name)) >= preAppendVersion
    val head = wh.currentVersion(name)
    if (ledgerClean && head == preAppendVersion + 1)
      wh.recordBatchId(ledgerTable(name), followId(name), head)
  }

  /** INCREMENTAL INDEX MAINTENANCE from the corpus change feed (class doc):
    * retract the window's deleted pks, re-index its inserted rows, record
    * the consumed head.
    */
  def followChanges(name: String): FollowReport = {
    checkFollow(name)
    formatGuard(name)
    val last =
      if (wh.exists(ledgerTable(name)))
        wh.lastCommittedBatchId(ledgerTable(name), followId(name))
      else -1L
    val now = wh.currentVersion(name)
    if (now <= last) return FollowReport(now, 0L, 0L)
    val changes = (
      if (last < 0) wh.load(name).withColumn("_change_type", lit("+I"))
      else wh.readChanges(name, last, now)
      ).localCheckpoint()
    require(changes.columns.contains(pkCol),
      s"pk column '$pkCol' absent from $name at v$now — renamed in the window? " +
        "index followers pair by pk NAME; rebuild the index (or a new follower) " +
        "under the new name, or use the $changes_lineage face for rename-immune pairing")
    val delPks = changes.filter(col("_change_type") === "-D")
      .select(col(pkCol)).distinct().localCheckpoint()
    val nDel = delPks.count()
    // retract BEFORE re-indexing: an updated pk's fresh rows (seq > the
    // delete's) are shielded by the strict-< rule, and the re-index
    // anti-joins see the pk as absent
    if (nDel > 0) retractTables(name).foreach(wh.equalityDelete(_, delPks))
    val ins = dedup(changes.filter(col("_change_type") === "+I").drop("_change_type"))
    val nIns = ins.count()
    if (nIns > 0) {
      val index = stageIndex(name, ins)
      ensureStamped(name, index)
      appendAll(index)
    }
    // a pure-delete window still folds its retractions into derived state
    afterIndex(name)
    if (wh.exists(ledgerTable(name)))
      wh.recordBatchId(ledgerTable(name), followId(name), now)
    FollowReport(now, nDel, nIns)
  }

  /** Compact the index tables' ingest-granularity files, each clustered on
    * its probe key: per-batch appends land one key-range file each, and
    * after many small batches their ranges overlap — a probe then opens a
    * file per batch. The rewrite restores few DISJOINT key-range files;
    * results are unchanged (content-preserving, spec-pinned), and pending
    * follow retractions materialize in the process. Returns the first
    * table's version.
    */
  def compact(name: String, smallRows: Long = 100000L): Long =
    compactKeys(name).map { case (t, key) =>
      wh.compactFiles(t, smallRows, clusterBy = Seq(key)) }.head

  /** Rows of `table` whose `key` is one of `values`: manifest-stat file
    * pruning (a file is skipped when NO value falls inside its [min,max]
    * key range — the comparison domain of every other stat prune), read
    * through the MOR overlay (a follow retraction is an equality delete a
    * raw parquet read would resurrect), then the residual `isin` for row
    * groups within kept files.
    */
  protected def statProbe(table: String, key: String, values: Seq[Any]): DataFrame = {
    val man = wh.currentManifest(table)
    val kept = man.files.filter { f =>
      f.stats.get(key) match {
        case Some(ColStat("z", _, _, _)) => false
        case Some(s) => values.exists { v =>
          StatsPruning.cmp(s.kind, s.min, v.toString) <= 0 &&
            StatsPruning.cmp(s.kind, s.max, v.toString) >= 0 }
        case None => true // no stats recorded => cannot prune
      }
    }
    wh.morFrame(table, Manifest(man.schema, kept, man.deletes))
      .filter(col(key).isin(values: _*))
  }
}

object IndexFamily {

  /** One staged index append. */
  final case class Append(table: String, rows: DataFrame, statsCols: Seq[String],
                          clusterBy: Seq[String] = Nil)

  /** One ingest's staged commits; `report` builds the outcome from the
    * corpus version the batch landed at.
    */
  final case class Staged[R](index: Seq[Append], corpus: DataFrame, report: Long => R)

  /** Outcome of one [[IndexFamily.followChanges]] tick. */
  final case class FollowReport(corpusVersion: Long, deletedDocs: Long, indexedDocs: Long)

  /** Stamp layout of the parameterized families: 16-bit generation, then
    * three 16-bit parameters.
    */
  private[sink] def pack(gen: Long, a: Long, b: Long, c: Long): Long =
    (gen << 48) | (a << 32) | (b << 16) | c

  private[sink] def unpack(s: Long): (Long, Long, Long, Long) =
    (s >> 48, (s >> 32) & 0xffff, (s >> 16) & 0xffff, s & 0xffff)
}
