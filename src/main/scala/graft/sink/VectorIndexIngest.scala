package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{IvfPq, ProductQuantization, VectorFns}
import graft.functions.ProductQuantization.PQModel

/** Incremental warehouse-resident VECTOR index — the ANN member of the
  * index-beside-corpus family ([[NearDupIngest]] near-dup, [[SearchIndexIngest]]
  * BM25): IVF-PQ cells and codes maintained as warehouse tables so vector
  * search serves from the index at O(query) while ingestion costs O(batch),
  * never a corpus rescan or a retrain.
  *
  * The scale problem this solves: the batch ANN queries (q60/q65, IvfPq)
  * re-read the float corpus per search and re-train per build — fine for an
  * audit, wrong for a serving path at 100 TB. Here the float corpus is read
  * once per ingest batch and never at query time:
  *
  *   `<name>__cells` (cell, cv) — FROZEN IVF coarse centroids;
  *   `<name>__codebook` (sub_id, cell, cv) — FROZEN PQ codebooks (M*K rows);
  *   `<name>__codes` (pk, cell, codes: array<int>) — the per-vector index
  *     rows, range-CLUSTERED on `cell` with per-file cell/pk stats, so a
  *     search's manifest probe prunes to the files of its `nprobe` cells —
  *     the IVF posting-list analog of [[SearchIndexIngest]]'s term-range
  *     postings.
  *
  * Frozen-artifact discipline (the `BpeMerges` pattern): centroids and
  * codebooks are committed ONCE at [[freeze]] and never drift — every batch
  * is assigned and encoded against the same model, so codes from different
  * batches are mutually comparable and a search result is independent of
  * HOW the corpus was batched (spec-proven). Re-freezing is refused once
  * codes exist: a codebook change would silently invalidate every committed
  * code. Model refresh = a new index name, built beside, swapped by
  * [[swapFamily]] ([[Warehouse.renameAll]] — corpus/cells/codebook/codes
  * move under ONE durable intent, so a reader sees the old family or the
  * new one, never a mix) — the same blue/green trade FAISS shops make.
  *
  * Commit order, replay safety, duplicate-pk keeper and change-feed
  * following are the shared [[IndexFamily]] lifecycle (codes FIRST, corpus
  * LAST). An orphan code row (codes committed, corpus lost, never
  * replayed) can surface a pk search scores but the corpus lacks —
  * `confirmed = true` shields results against corpus membership (one
  * pk-pruned column probe), the family's standard reconciliation.
  *
  * Search algebra is EXACTLY [[IvfPq.search]] (nprobe cells by centroid
  * cosine, broadcast ADC distance table, exact-decimal lookup sums,
  * (adc_d2 ASC, pk ASC) ranking) — the spec pins index-served equals
  * directly-built, and q133 oracle-gates the same algebra end to end.
  */
final class VectorIndexIngest(protected val wh: Warehouse, protected val pkCol: String,
                              vecCol: String, dim: Int, m: Int, k: Int) extends IndexFamily {
  require(dim % m == 0, s"dim $dim not divisible by m $m")
  private val subDim = dim / m

  type Report = VectorIndexIngest.Report

  private[graft] def streamId = "vectorindex"

  private def cellsTable(name: String) = s"${name}__cells"
  private def codebookTable(name: String) = s"${name}__codebook"
  private def codesTable(name: String) = s"${name}__codes"

  // ---- model-format stamp -----------------------------------------------
  // The shape check at [[freeze]] only protects the freezing instance — an
  // ingester constructed later with different (dim, m, k) would
  // reinterpret the stored codebook through ITS shape and compute ADC
  // distances against a foreign codebook, wrong results with no error
  // anywhere; a metric change (generation) has the identical failure mode.
  // The stamp rides the codebook table's ledger, recorded BEFORE the model
  // tables commit (a stamp without tables is inert: every entry point
  // requires the tables). Generation 1 = cosine coarse metric + the
  // current PQ encode algebra.
  protected def stampTable(name: String) = codebookTable(name)
  protected def stampId = "vecformat"
  private[sink] val formatStamp: Long = IndexFamily.pack(1L, dim, m, k)

  protected def noStampError(name: String) =
    s"vector index for '$name' carries no model-format stamp — it was frozen " +
      "before format stamping. If its model provably matches this ingester " +
      s"(generation 1, dim=$dim, m=$m, k=$k), adopt it explicitly with " +
      "adoptFormat(name); otherwise build a new index under a new name and " +
      "swap by swapFamily."

  protected def mismatchError(name: String, got: Long) = {
    val (g, gd, gm, gk) = IndexFamily.unpack(got)
    s"vector index for '$name' was frozen with an incompatible model format " +
      s"(generation $g, dim=$gd, m=$gm, k=$gk; this ingester: generation 1, " +
      s"dim=$dim, m=$m, k=$k). Codes and ADC distances are only meaningful " +
      "against the codebook that produced them — construct VectorIndexIngest " +
      "with the index's parameters, or build a new index and swapFamily."
  }

  protected def noIndexError(name: String) = s"no frozen model for index: $name"

  protected def ledgerTable(name: String) = codesTable(name)
  protected def retractTables(name: String) = Seq(codesTable(name))
  protected def compactKeys(name: String) = Seq(codesTable(name) -> "cell")

  override protected def checkIngest(name: String): Unit =
    require(wh.exists(cellsTable(name)) && wh.exists(codebookTable(name)),
      s"no frozen model for index $name (freeze first)")

  protected def checkFollow(name: String): Unit = {
    checkIngest(name)
    require(wh.exists(codesTable(name)),
      s"no vector index for table: $name (ingest first)")
  }

  /** Commit the frozen model: IVF centroids (cell, cv) + PQ codebook
    * (sub_id, cell, cv). Refused once any codes are committed — codes are
    * only meaningful against the codebook that produced them.
    */
  def freeze(name: String, centroids: DataFrame, model: PQModel): Unit = {
    require(!wh.exists(codesTable(name)),
      s"$name already has committed codes; a model change would invalidate them — " +
        "build a new index under a new name and swap by rename")
    require(model.m == m && model.k == k && model.subDim == subDim,
      s"model shape (m=${model.m}, k=${model.k}, subDim=${model.subDim}) does not " +
        s"match this ingester (m=$m, k=$k, subDim=$subDim)")
    // (no formatGuard here: the codes-exist require above already makes a
    // wholesale model replace safe — nothing encoded against the old model
    // survives it). Stamp FIRST: no crash point leaves a frozen-but-
    // stampless model
    stamp(name)
    // cell ids normalize to long: one comparison domain for the manifest
    // stat prune, the isin residual, and the driver-side probed-cell set
    wh.replace(cellsTable(name), centroids.select(col("cell").cast("long").as("cell"), col("cv")))
    wh.replace(codebookTable(name),
      model.codebook.select(col("sub_id"), col("cell"), col("cv")))
  }

  /** The frozen model — callers have passed [[checkIngest]] + the guard. */
  private def frozen(name: String): (DataFrame, PQModel) =
    (wh.load(cellsTable(name)), PQModel(wh.load(codebookTable(name)), m, k, subDim))

  /** Coarse-assign a batch against the frozen centroids: argmax cosine,
    * ties on cell ASC — bit-identical to [[IvfPq.search]]'s probe-side
    * assignment, so a vector's own cell is always among its probe cells.
    *
    * Argmax as ONE aggregate instead of a row_number window (the
    * [[graft.functions.ProductQuantization]] reassign rationale):
    * `max(struct(cscore, -cell))` is exactly (cscore DESC, cell ASC) —
    * including NaN ordering, since NaN ranks greatest under both the
    * window's DESC sort and struct max — with map-side partial aggregation
    * collapsing the batch × cells fan-out before the exchange.
    */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("cscore", VectorFns.cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max(struct(col("cscore"), (-col("cell")).as("negcell"))).as("__m"))
      .select(col("vec_id"), (-col("__m.negcell")).as("cell"))

  /** Assign + encode `rows` against the frozen model: the NEW pks' code
    * rows, clustered on `cell` so each code file's [min,max] cell stats are
    * TIGHT and a search's manifest probe touches ~nprobe/cells of the
    * files, not every batch's.
    */
  protected def stageIndex(name: String, rows: DataFrame): Seq[IndexFamily.Append] = {
    val (cents, model) = frozen(name)
    val emb = rows.select(col(pkCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val codes = ProductQuantization.encode(emb, model)
      .join(assignCells(emb, cents), "vec_id")
      .select(col("vec_id").as(pkCol), col("cell"), col("codes"))
    Seq(IndexFamily.Append(codesTable(name), absent(codesTable(name), codes),
      statsCols = Seq("cell", pkCol), clusterBy = Seq("cell")))
  }

  /** Corpus rule: the batch rows whose pk the corpus lacks. */
  protected def stage(name: String, batch: DataFrame): IndexFamily.Staged[Report] = {
    val index = stageIndex(name, batch)
    val fresh = absent(name, batch)
    IndexFamily.Staged(index, fresh,
      v => VectorIndexIngest.Report(v, fresh.count(), index.head.rows.count()))
  }

  /** Blue/green swap: promote the complete family built under `from`
    * (corpus + frozen model + codes) to `to` in ONE atomic intent
    * ([[Warehouse.renameAll]]) — a searcher resolves the whole old family
    * or the whole new one, never a frankenindex; a crash mid-swap
    * converges on the next access. The retiring `to` family (when present)
    * moves aside to `<to>__retired_<n>` in the same intent.
    */
  def swapFamily(from: String, to: String): Unit = {
    val parts = Seq("", "__cells", "__codebook", "__codes")
    val retire =
      if (!wh.exists(to)) Nil
      else {
        var n = 0
        while (wh.exists(s"${to}__retired_$n")) n += 1
        parts.map(p => s"$to$p" -> s"${to}__retired_$n$p")
          .filter { case (f, _) => wh.exists(f) }
      }
    wh.renameAll(retire ++
      parts.map(p => s"$from$p" -> s"$to$p").filter { case (f, _) => wh.exists(f) })
  }

  /** Code rows of `cells` only ([[IndexFamily.statProbe]] on `cell`). */
  private[graft] def probeCodes(name: String, cells: Seq[Long]): DataFrame =
    statProbe(codesTable(name), "cell", cells)

  /** Top-`k` ADC search over the index: per-probe `nprobe` cells by frozen-
    * centroid cosine, codes read ONLY from the pruned cell files, scored by
    * [[IvfPq.search]]'s exact algebra — the float corpus is never read.
    * The probed cell set is collected driver-side to drive the manifest
    * prune: bounded by probes x nprobe (and by the cell count), metadata-
    * scale like every other manifest decision. `confirmed = true` shields
    * against crash-orphan codes via corpus membership (pk-pruned probe);
    * `excludeSelf` drops each probe's own corpus row (recall-audit shape).
    */
  def search(name: String, probes: DataFrame, nprobe: Int = 2, topK: Int = 10,
             confirmed: Boolean = false, excludeSelf: Boolean = false): DataFrame = {
    checkIngest(name)
    formatGuard(name) // the stored codebook must match THIS shape/metric
    val (cents, model) = frozen(name)
    val centsB = broadcast(cents).persist() // consumers: cell pick here + IvfPq.search
    try {
      val w = Window.partitionBy("probe_id").orderBy(col("cscore").desc, col("cell").asc)
      val cells = probes.crossJoin(centsB)
        .withColumn("cscore", VectorFns.cosine(col("pv"), col("cv")))
        .withColumn("r", row_number().over(w)).filter(col("r") <= nprobe)
        .select("cell").distinct().collect().map(_.getLong(0)).toSeq.sorted
      val codes0 = probeCodes(name, cells)
        .withColumnRenamed(pkCol, "vec_id")
      val codes =
        if (!confirmed) codes0
        else codes0.join(wh.load(name).select(col(pkCol).as("vec_id")),
          Seq("vec_id"), "left_semi")
      IvfPq.search(probes, IvfPq.Index(centsB, codes, model), nprobe, topK, excludeSelf)
        .withColumnRenamed("vec_id", pkCol)
    } finally centsB.unpersist()
  }
}

object VectorIndexIngest {
  final case class Report(version: Long, appended: Long, codes: Long)
}
