package graft.sink

/** Per-file SORT-ORDER marker — a pseudo-stat (`kind "s"`, min == max)
  * recording the FIELD IDS, in order, of the cluster keys each file's rows
  * were written sorted by ([[Warehouse]]'s `writeData(sortedBy = ...)`).
  *
  * Field ids, not names: a rename keeps the marker valid untouched (same
  * id, same bytes), and a dropped column's id is never reused, so a stale
  * marker can only ever fail to RESOLVE — never resolve to the wrong
  * column (the bloom-sidecar discipline). Consumers
  * ([[graft.catalog.KeyGroupedParquetScan]]) prove per-partition ordering
  * from this plus chain-disjoint bounds and report it to Spark
  * (`SupportsReportOrdering`), which is what lets a co-partitioned
  * sort-merge join plan with no per-partition sorts.
  */
/** Row-lineage constants: files produced by a content-preserving REWRITE
  * carry each surviving row's id as a physical column ([[PhysCol]]) and
  * mark the fact with a [[Key]] pseudo-stat (the SortMarker discipline —
  * rename-stable, carried verbatim with the entry). On read, a marked
  * file's row id is `coalesce(physical, firstRowId + ordinal)` — exactly
  * the Iceberg v3 rule: carried rows keep their ids, rows the rewrite
  * introduced (a merge's incoming batch) inherit fresh ids from the file's
  * assigned range.
  */
object RowLineage {
  val Key = "__graft_rowid_mat"
  val PhysCol = "__graft_row_id"

  /** Physical last-updated-version column in materialized files. NULL means
    * "this row's value is as new as the file" ⟹ reads fall back to the
    * file's own data sequence number — which is also why an UPDATE writes
    * null for the rows it changed: under a rebased commit the entry's seq
    * is restamped to the final version and the fallback stays exact, where
    * a stamped literal would freeze the losing attempt's number.
    */
  val VerCol = "__graft_row_ver"
}

object SortMarker {
  val Key = "__graft_sorted"

  /** All sorted field ids recorded in a marker stat, in sort-key order —
    * the longest parseable PREFIX (a malformed token ends the list rather
    * than silently skipping a position, which would misalign the order).
    */
  def ids(st: ColStat): Seq[Long] =
    st.min.split(',').iterator
      .map(s => scala.util.Try(s.trim.toLong).toOption)
      .takeWhile(_.isDefined).map(_.get).toSeq
}
