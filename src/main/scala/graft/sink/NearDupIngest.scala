package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Incremental NEAR-duplicate ingestion — [[Warehouse.appendDeduped]]'s
  * MinHash/LSH sibling (q57's algebra applied across commits): append only
  * documents that are not near-duplicates of (a) a kept smaller-key doc in
  * the same batch or (b) any document already in the corpus.
  *
  * The scale problem this solves: batch-mode near-dup (q57) is a self-join
  * over the whole corpus — re-running it on every ingest rescans 100 TB of
  * text. Here the corpus side is two bounded INDEX TABLES maintained beside
  * the corpus, so an ingest's cost depends on the batch, never on corpus
  * text:
  *
  *   `<name>__bands` (pk, band_idx, band_key) — the LSH probe index; a
  *     batch doc's candidates are the stored rows sharing a band key
  *     (equi-join, fan-out bounded by real near-dups + LSH false positives);
  *   `<name>__sigs` (pk, sig: array<string>) — MinHash signatures for
  *     candidate verification: estimated Jaccard = matching positions / k.
  *     No corpus text is ever re-read — the k-element signature IS the
  *     verification state (the standard corpus-scale trade: estimator
  *     variance ~1/sqrt(k) instead of an exact intersect over raw shingle
  *     sets).
  *
  * In-batch semantics are principled, not greedy: candidate pairs at or
  * above the similarity threshold form a graph whose connected components
  * each keep their MINIMUM pk (deterministic under any partitioning, same
  * keeper rule as q71) — so a chain a~b~c keeps only a even when a and c
  * are not directly similar, exactly like the batch-mode dedup pipeline.
  *
  * Replay safety: re-ingesting a batch finds each doc's existing copy at
  * signature similarity 1.0 and appends 0 rows (the near-dup analog of the
  * exact-dedup retry guard). All three appends (sigs, bands, then corpus —
  * index FIRST) are O(batch) manifest commits. Index-first means a crash
  * before the corpus commit leaves orphan index rows rather than
  * index-invisible corpus docs (corpus-first's UNBOUNDED recall hole where
  * every future near-dup of an unindexed doc sails in silently) — and
  * orphans are HEALED, not just tolerated: a full-signature (1.0) match
  * whose pk is missing from the corpus is recognized as a crash orphan at
  * probe time, the doc is admitted, and the idempotent-by-pk index appends
  * fill in exactly the rows the crash lost. Replaying a crashed batch
  * therefore converges to the fully-committed state, whichever commit the
  * crash interrupted.
  */
final class NearDupIngest(protected val wh: Warehouse, protected val pkCol: String,
                          textCol: String, shingleW: Int = 3, k: Int = 16, bands: Int = 4,
                          simT: Double = 0.5) extends IndexFamily {
  require(k % bands == 0, s"bands ($bands) must divide k ($k)")
  private val r = k / bands
  // k hash functions cost k/CHUNK md5 calls per shingle (q57's slicing)
  private val Chunk = 4
  require(k % Chunk == 0, s"signature length k ($k) must be a multiple of $Chunk " +
    "(each salted md5 slices into 4 8-hex sub-hashes)")
  private val salts = k / Chunk
  // positions that must agree for estimated Jaccard >= simT
  private val minMatches = math.ceil(simT * k).toInt

  type Report = NearDupIngest.Report

  private[graft] def streamId = "neardup"

  private def bandsTable(name: String) = s"${name}__bands"
  private def sigsTable(name: String) = s"${name}__sigs"

  // ---- signature-format stamp -------------------------------------------
  // The on-disk signature format changed once already (32-hex per-position-
  // salted md5 → 8-hex substrings of chunk-salted md5): old and new sigs
  // never compare equal and never share band keys, so an index mixing eras
  // SILENTLY finds no cross-era pairs and re-admits near-dups of pre-change
  // content. The stamp on the sigs table encodes the format generation AND
  // the signing parameters (shingleW, k, bands): a parameter change has the
  // identical silent-mixing failure mode.
  protected def stampTable(name: String) = sigsTable(name)
  protected def stampId = "sigformat"
  /** Format generation 2 = the flat chunk-salted-md5 shape of [[signed]]. */
  private[sink] val formatStamp: Long = IndexFamily.pack(2L, shingleW, k, bands)

  protected def noStampError(name: String) =
    s"near-dup index for '$name' carries no signature-format stamp — it was " +
      "built before format stamping (possibly with the old per-position-salted " +
      "signature shape, which never matches current signatures). Rebuild the " +
      "index (drop the __sigs/__bands tables and followChanges/ingest afresh), " +
      "or, if it was provably built with the CURRENT format and parameters, " +
      "adopt it explicitly with adoptFormat(name)."

  protected def mismatchError(name: String, got: Long) = {
    val (g, w, gk, gb) = IndexFamily.unpack(got)
    s"near-dup index for '$name' was built with an incompatible signature " +
      s"format (generation $g, shingleW=$w, k=$gk, bands=$gb; this instance: " +
      s"generation 2, shingleW=$shingleW, k=$k, bands=$bands). Cross-era " +
      "signatures never match and band keys never collide, so pairs would be " +
      "silently lost. Rebuild the index, or construct NearDupIngest with the " +
      "index's parameters."
  }

  protected def noIndexError(name: String) = s"no near-dup index for table: $name"

  protected def ledgerTable(name: String) = bandsTable(name)
  protected def retractTables(name: String) = Seq(bandsTable(name), sigsTable(name))
  protected def compactKeys(name: String) =
    Seq(bandsTable(name) -> "band_key", sigsTable(name) -> pkCol)

  protected def checkFollow(name: String): Unit =
    require(wh.exists(name), s"no corpus table: $name")

  /** (pk, sig, bands) for a batch — q57's FLAT salted-md5 minhash shape:
    * explode the distinct shingles, compute `salts` md5 columns per row as
    * plain codegen'd expressions, and take the k minima (each md5 sliced
    * into 4 8-hex sub-hashes) with one hash aggregate keyed by pk. The
    * nested higher-order form (`transform(sequence(..), j => array_min(
    * transform(sh, ..)))`) computes the same estimator family but runs
    * INTERPRETED — measured 160 s vs ~seconds on the sf0.1 bench (q169)
    * for the same corpus; it was removed with this rewrite.
    *
    * Null/EMPTY-text docs: `tokens(null)` flows through [[TextFns.shingles]]
    * to the single degenerate `md5("")` shingle (`concat_ws` never returns
    * null; `greatest(…, 1)` forces one window), so every such doc gets the
    * IDENTICAL non-null signature and all of them pair at k/k matches.
    * That is intended: empty docs are content-equal to each other, so the
    * ingest admits exactly one (min-pk keeper) and drops the rest — the
    * exact-dedup outcome, reached through the near-dup algebra. The q57/
    * q169 oracles mirror the same degenerate shingle, so the estimator
    * agrees cross-engine. (`explode_outer` is belt-and-braces for a null
    * SHINGLE ARRAY, which the current shingle algebra never produces.)
    */
  private def signed(df: DataFrame): DataFrame = {
    val sh = array_distinct(TextFns.shingles(TextFns.tokens(col(textCol)), shingleW))
    val hashed = df.select(col(pkCol), explode_outer(sh).as("h"))
      .select(col(pkCol) +:
        (0 until salts).map(t => md5(concat(lit(s"$t:"), col("h"))).as(s"m$t")): _*)
    val sigCols = (0 until k).map { j =>
      min(substring(col(s"m${j / Chunk}"), (j % Chunk) * 8 + 1, 8)).as(s"s$j") }
    hashed.groupBy(col(pkCol)).agg(sigCols.head, sigCols.tail: _*)
      .select(col(pkCol), array((0 until k).map(j => col(s"s$j")): _*).as("sig"))
      .withColumn("bands", TextFns.lshBands(col("sig"), bands, r))
  }

  /** Matching signature positions of two k-element signatures. */
  private def sigMatches(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))

  /** Sign `rows` and stage its NEW pks' signature + band rows. */
  protected def stageIndex(name: String, rows: DataFrame): Seq[IndexFamily.Append] = {
    val s = signed(rows).persist() // consumers: sig rows + band rows
    try indexOf(name, s) finally s.unpersist()
  }

  /** Sig + band appends of a signed frame, idempotent by pk (anti-joins
    * through the MOR overlay, so a pk whose rows [[followChanges]] just
    * retracted re-signs cleanly). Sigs before bands: a band row without its
    * signature is a probe hit that cannot verify; the reverse is inert.
    */
  private def indexOf(name: String, signed: DataFrame): Seq[IndexFamily.Append] = Seq(
    IndexFamily.Append(sigsTable(name),
      absent(sigsTable(name), signed.select(col(pkCol), col("sig"))),
      statsCols = Seq(pkCol)),
    IndexFamily.Append(bandsTable(name),
      absent(bandsTable(name), signed.select(col(pkCol),
        posexplode(col("bands")).as(Seq("band_idx", "band_key"))), distinct = true),
      statsCols = Seq("band_key")))

  /** Serve the index's VERIFIED near-dup pairs: banded candidates (equi-join
    * on the stored band keys, fan-out bounded by real near-dups + LSH false
    * positives) verified against the stored signatures — estimated Jaccard
    * = n_match/k >= simT. Both index reads go through the MOR overlay, so
    * pairs of retracted docs cannot resurface. Corpus text is never read:
    * this is the q57 candidate algebra served from O(index) state.
    */
  def pairs(name: String): DataFrame = {
    require(wh.exists(bandsTable(name)) && wh.exists(sigsTable(name)),
      s"no near-dup index for table: $name (ingest or followChanges first)")
    formatGuard(name)
    val bands = wh.load(bandsTable(name))
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$pkCol") < col(s"b.$pkCol"))
      .select(col(s"a.$pkCol").as("d1"), col(s"b.$pkCol").as("d2")).distinct()
    val sigs = wh.load(sigsTable(name))
    cand.join(sigs.select(col(pkCol).as("d1"), col("sig").as("s1")), Seq("d1"))
      .join(sigs.select(col(pkCol).as("d2"), col("sig").as("s2")), Seq("d2"))
      .withColumn("n_match", sigMatches(col("s1"), col("s2")).cast("long"))
      .filter(col("n_match") >= minMatches)
      .select(col("d1"), col("d2"), col("n_match"))
  }

  /** Dedup DECISIONS from the maintained index — q71's connected-components
    * keeper algebra applied to [[pairs]]: every clustered doc labeled with
    * its component's MINIMUM pk (the keeper, the same deterministic rule
    * the ingest admission uses) plus the cluster size and an `is_dup` flag.
    * Consumers of a feed-maintained index get actionable keep/drop
    * decisions, not edges; docs in no near-dup pair are absent (they are
    * their own trivial keeper). Cost: [[pairs]] + the iterative min-label
    * propagation over O(pairs) edges ([[graft.functions.Graph]]) — never
    * corpus text.
    */
  def clusters(name: String): DataFrame = {
    val p = pairs(name).select(col("d1"), col("d2"))
    val comp = graft.functions.Graph.connectedComponents(p)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as(pkCol), col("comp").as("keeper"),
        col("cluster_size"), (col("id") =!= col("comp")).as("is_dup"))
  }

  /** Ingest staging: in-batch near-dup collapse, corpus probe with orphan
    * reconciliation, then the survivors' index appends and corpus rows.
    */
  protected def stage(name: String, batch: DataFrame): IndexFamily.Staged[Report] = {
    val total = batch.count()
    val sigs = signed(batch).persist() // consumers: in-batch pairs, corpus probe, survivor joins
    try {
      // ---- in-batch near-dup: banded candidate pairs -> estimated Jaccard
      // -> connected components -> min-pk keeper per component.
      val banded = sigs.select(col(pkCol), col("sig"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
      val cand = banded.alias("a").join(banded.alias("b"),
          col(s"a.band_idx") === col(s"b.band_idx") &&
            col(s"a.band_key") === col(s"b.band_key") &&
            col(s"a.$pkCol") < col(s"b.$pkCol"))
        .select(col(s"a.$pkCol").as("d1"), col(s"b.$pkCol").as("d2"),
          col("a.sig").as("s1"), col("b.sig").as("s2"))
        .distinct()
      val simPairs = cand
        .filter(sigMatches(col("s1"), col("s2")) >= minMatches)
        .select(col("d1"), col("d2"))
      val comp = graft.functions.Graph.connectedComponents(simPairs)
      // CC ids are the component minimum -> dup rows are id != comp
      val inBatchDups = comp.filter(col("id") =!= col("comp"))
        .select(col("id").as(pkCol))
      val kept = sigs.join(inBatchDups, Seq(pkCol), "left_anti")

      // ---- corpus probe: batch band keys against the stored band index,
      // then signature verification against the stored signatures. The
      // batch side broadcasts (it is one ingest); the index side is a keyed
      // equi-join — never a corpus-text scan.
      val dupVsCorpus =
        if (!wh.exists(bandsTable(name))) kept.limit(0).select(col(pkCol))
        else {
          val keptBands = kept.select(col(pkCol).as("bpk"), col("sig").as("bsig"),
            posexplode(col("bands")).as(Seq("band_idx", "band_key")))
          val hits = wh.load(bandsTable(name))
            .join(broadcast(keptBands.select(col("bpk"), col("band_idx"), col("band_key"))),
              Seq("band_idx", "band_key"))
            .select(col(pkCol).as("epk"), col("bpk")).distinct()
          val verified = wh.load(sigsTable(name)).withColumnRenamed(pkCol, "epk")
            .join(hits, Seq("epk"))
            .join(broadcast(kept.select(col(pkCol).as("bpk"), col("sig").as("bsig"))), "bpk")
            .withColumn("m", sigMatches(col("sig"), col("bsig")))
            .filter(col("m") >= minMatches)
            .select(col("bpk"), col("epk"), (col("m") === k).as("exact"))
          // Orphan reconciliation (crash healing): a FULL-signature match
          // whose index pk is absent from the corpus table is a row a
          // crashed ingest left behind — its doc never landed. Dropping the
          // batch doc against such a row would lose it permanently (the
          // round-8 review's finding), so exact hits are confirmed against
          // corpus membership (semi-join on the pk column — a pruned
          // one-column probe, bounded like the band probe) and unconfirmed
          // ones do not count as duplicates: the replay admits the doc and
          // completes the crashed batch's tail. Sub-1.0 hits never
          // reconcile — near-matching an orphan means near-matching content
          // we intended to admit, so dropping stays correct.
          val exact = verified.filter(col("exact"))
          val inexact = verified.filter(!col("exact")).select(col("bpk"))
          val confirmedExact =
            if (!wh.exists(name)) exact.limit(0).select(col("bpk"))
            else exact.join(wh.load(name).select(col(pkCol).as("epk")),
              Seq("epk"), "left_semi").select(col("bpk"))
          inexact.unionByName(confirmedExact).distinct()
            .withColumnRenamed("bpk", pkCol)
        }
      val survivors = kept.join(dupVsCorpus, Seq(pkCol), "left_anti")
        .select(col(pkCol)).localCheckpoint()

      val keptCount = kept.select(pkCol).count()
      val appended = survivors.count()

      // ---- three O(batch) appends (committed by the shared lifecycle):
      // `ingest` lands them INDEX TABLES FIRST (sigs, then bands), corpus
      // last; the corpus rule is the survivors themselves. Index-first means a crash before the corpus commit leaves
      // orphan index rows, which the reconciliation above heals on replay;
      // corpus-first would instead leave admitted docs INVISIBLE to the
      // index — a silent recall hole where their future near-dups sail in.
      // Sigs before bands keeps every band row verifiable (a sig row
      // without bands is inert — probes key on bands). Both index appends
      // are IDEMPOTENT BY PK (anti-join against the stored pks, one pruned
      // one-column probe each): a reconciled replay re-admits docs whose
      // index rows partially or fully survived the crash, and the index
      // must not accrete duplicates for them. (`ingestAtomic` makes the
      // ordering moot — all three land in one transaction.)
      val index = indexOf(name, sigs.join(survivors, Seq(pkCol)))
      IndexFamily.Staged(index, batch.join(survivors, Seq(pkCol)),
        v => NearDupIngest.Report(v, appended, total - keptCount, keptCount - appended))
    } finally sigs.unpersist()
  }
}

object NearDupIngest {
  final case class Report(version: Long, appended: Long,
    dupInBatch: Long, dupVsCorpus: Long)
}
