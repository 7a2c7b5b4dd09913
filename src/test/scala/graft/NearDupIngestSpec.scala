package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.sink.{NearDupIngest, Warehouse}

/** Incremental near-dup ingestion contract: in-batch near-dups collapse to
  * the min-pk component keeper, later batches are checked against the
  * stored band/signature index (never corpus text), replay appends 0, and
  * the index tables track the corpus exactly.
  */
class NearDupIngestSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  // base text: 40 distinct-ish tokens => plenty of 3-gram shingles
  private val baseText = (1 to 40).map(i => s"tok$i").mkString(" ")
  // near-dup: change the last 2 tokens (shingle Jaccard far above 0.5)
  private val nearText = ((1 to 38).map(i => s"tok$i") ++ Seq("zzz", "yyy")).mkString(" ")
  // unrelated: disjoint vocabulary (Jaccard 0)
  private val otherText = (1 to 40).map(i => s"alt$i").mkString(" ")

  private def ingester(wh: Warehouse) = new NearDupIngest(wh, "doc_id", "text")

  test("in-batch near-dups collapse to the min-pk keeper") {
    val wh = new Warehouse(spark, tmpDir("ndi-inbatch"))
    val ing = ingester(wh)
    val r = ing.ingest("corpus", docs(1L -> baseText, 2L -> nearText, 3L -> otherText))
    assert(r.appended == 2, s"keeper 1 + unrelated 3: $r")
    assert(r.dupInBatch == 1 && r.dupVsCorpus == 0, r.toString)
    assert(wh.load("corpus").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("later batch dedups against the corpus via the stored index") {
    val wh = new Warehouse(spark, tmpDir("ndi-cross"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> otherText))
    val otherNear = ((1 to 38).map(i => s"alt$i") ++ Seq("qqq", "www")).mkString(" ")
    val thirdText = (1 to 40).map(i => s"new$i").mkString(" ")
    val r = ing.ingest("corpus", docs(
      10L -> nearText,  // near-dup of corpus doc 1 (mutually unrelated to 11)
      11L -> otherNear, // near-dup of corpus doc 2
      12L -> thirdText)) // novel
    assert(r.appended == 1, s"only the novel doc: $r")
    assert(r.dupVsCorpus == 2 && r.dupInBatch == 0, r.toString)
    assert(wh.load("corpus").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 12L))
  }

  test("duplicate-pk batch: one survivor per pk, signed from the kept row alone") {
    // un-deduped, a pk appearing twice was signed over the UNION of both
    // texts and BOTH rows landed in the corpus
    val wh = new Warehouse(spark, tmpDir("ndi-dup"))
    val ing = ingester(wh)
    val thirdText = (1 to 40).map(i => s"new$i").mkString(" ")
    val r = ing.ingest("corpus", docs(1L -> baseText, 1L -> otherText, 2L -> thirdText))
    assert(r.appended == 2, r.toString)
    val corpus = wh.load("corpus")
    assert(corpus.count() == 2 && corpus.select("doc_id").distinct().count() == 2)
    assert(wh.load("corpus__sigs").count() == 2 && wh.load("corpus__bands").count() == 8)
    // pk 1's signature is exactly its kept row's, as a clean twin signs it
    val kept = corpus.filter(col("doc_id") === 1L).select("text").head().getString(0)
    val twin = new Warehouse(spark, tmpDir("ndi-dup-twin"))
    ingester(twin).ingest("corpus", docs(1L -> kept))
    def sigOf(w: Warehouse) = w.load("corpus__sigs").filter(col("doc_id") === 1L)
      .select("sig").head().getSeq[String](0)
    assert(sigOf(wh) == sigOf(twin))
  }

  test("replaying a batch appends nothing (retry-safe)") {
    val wh = new Warehouse(spark, tmpDir("ndi-replay"))
    val ing = ingester(wh)
    val batch = docs(1L -> baseText, 2L -> otherText)
    ing.ingest("corpus", batch)
    val r = ing.ingest("corpus", batch)
    assert(r.appended == 0 && r.dupVsCorpus == 2, r.toString)
    assert(wh.load("corpus").count() == 2)
  }

  test("index tables track the corpus exactly (one sig row, bands rows per doc)") {
    val wh = new Warehouse(spark, tmpDir("ndi-index"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> nearText))
    ing.ingest("corpus", docs(3L -> otherText))
    val n = wh.load("corpus").count()
    assert(n == 2, "keeper 1 + novel 3")
    assert(wh.load("corpus__sigs").count() == n)
    assert(wh.load("corpus__bands").count() == n * 4, "4 band rows per kept doc")
    // index pks are exactly the corpus pks
    assert(wh.load("corpus__sigs").collect().map(_.getLong(0)).sorted.toSeq ==
      wh.load("corpus").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("chained in-batch components keep only the global min pk") {
    val wh = new Warehouse(spark, tmpDir("ndi-chain"))
    val ing = ingester(wh)
    // 5 copies of the same doc: one component, keeper = min pk
    val r = ing.ingest("corpus", docs((1L to 5L).map(i => i -> baseText): _*))
    assert(r.appended == 1 && r.dupInBatch == 4, r.toString)
    assert(wh.load("corpus").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("unrelated docs never collapse (no false merges at Jaccard 0)") {
    val wh = new Warehouse(spark, tmpDir("ndi-distinct"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText))
    val r = ing.ingest("corpus", docs(2L -> otherText))
    assert(r.appended == 1 && r.dupVsCorpus == 0, r.toString)
    assert(wh.load("corpus").count() == 2)
  }

  test("ingestAtomic: one-transaction ingest — same collapse/dedup, mixes with ingest(), replay-inert") {
    val wh = new Warehouse(spark, tmpDir("ndi-atomic"))
    val ing = ingester(wh)
    val r = ing.ingestAtomic("corpus", docs(1L -> baseText, 2L -> nearText, 3L -> otherText))
    assert(r.appended == 2 && r.dupInBatch == 1 && r.dupVsCorpus == 0, r.toString)
    assert(wh.load("corpus").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // cross-discipline: a multi-commit ingest dedups against the atomic one
    val r2 = ing.ingest("corpus", docs(4L -> nearText))
    assert(r2.appended == 0 && r2.dupVsCorpus == 1, r2.toString)
    // index and corpus in lockstep (no torn state to reconcile)
    assert(wh.load("corpus__sigs").count() == 2 && wh.load("corpus").count() == 2)
    // replaying the atomic batch appends nothing anywhere
    val r3 = ing.ingestAtomic("corpus", docs(1L -> baseText, 3L -> otherText))
    assert(r3.appended == 0, r3.toString)
    assert(wh.load("corpus__sigs").count() == 2 &&
      wh.load("corpus__bands").select("doc_id").distinct().count() == 2)
  }

  test("crash ordering: index appends commit BEFORE the corpus append") {
    val root = tmpDir("ndi-order")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    // make the CORPUS append (and only it) fail deterministically: a plain
    // file squats on the corpus table dir, so Files.createDirectories throws
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "corpus"), "x")
    intercept[java.nio.file.FileAlreadyExistsException](
      ing.ingest("corpus", docs(1L -> baseText)))
    // the crash window left index rows without corpus rows — the bounded
    // direction (orphan probes; see the class scaladoc), never the silent
    // recall hole of an indexed-nowhere corpus doc
    assert(wh.load("corpus__bands").count() == 4)
    assert(wh.load("corpus__sigs").count() == 1)
  }

  test("crash healing: orphan index rows reconcile on replay; index never accretes") {
    val root = tmpDir("ndi-heal")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText))
    val vAfterA = wh.currentVersion("corpus")
    ing.ingest("corpus", docs(2L -> otherText))
    // simulate the crash window between the index appends and the corpus
    // append of batch {2}: roll the corpus back to the pre-batch snapshot,
    // leaving doc 2's sig/band rows orphaned in the index
    wh.restore("corpus", vAfterA)
    assert(wh.load("corpus").count() == 1)
    val sigRows = wh.load("corpus__sigs").count()
    val bandRows = wh.load("corpus__bands").count()
    // replay: without reconciliation doc 2 is dropped as a 1.0 "dup" and
    // permanently lost; with it, the doc is admitted and the idempotent
    // index appends add nothing
    val rep = ing.ingest("corpus", docs(2L -> otherText))
    assert(rep.appended == 1 && rep.dupVsCorpus == 0,
      s"orphan must reconcile, got $rep")
    assert(wh.load("corpus").count() == 2)
    assert(wh.load("corpus__sigs").count() == sigRows, "no duplicate sig rows")
    assert(wh.load("corpus__bands").count() == bandRows, "no duplicate band rows")
    // with all three commits landed, a further replay appends nothing
    val rep2 = ing.ingest("corpus", docs(2L -> otherText))
    assert(rep2.appended == 0 && rep2.dupVsCorpus == 1)
    assert(wh.load("corpus").count() == 2)
  }

  test("crash healing: sigs-only orphan (crash before the bands append) converges too") {
    val root = tmpDir("ndi-heal2")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText))
    val vBands = wh.currentVersion("corpus__bands")
    val vCorpus = wh.currentVersion("corpus")
    ing.ingest("corpus", docs(2L -> otherText))
    // crash right after the sigs append: bands and corpus never committed
    wh.restore("corpus__bands", vBands)
    wh.restore("corpus", vCorpus)
    val sigRows = wh.load("corpus__sigs").count()
    val rep = ing.ingest("corpus", docs(2L -> otherText))
    assert(rep.appended == 1, s"unprobeable sig orphan must not block, got $rep")
    assert(wh.load("corpus").count() == 2)
    assert(wh.load("corpus__sigs").count() == sigRows, "sig rows heal in place")
    // bands now hold exactly one row set per doc (4 bands each)
    assert(wh.load("corpus__bands").count() == 8)
    assert(wh.load("corpus__bands").select("doc_id").distinct().count() == 2)
  }

  test("followChanges: deletes/updates retract at O(changes) — no index rewrites, no phantom pairs") {
    val wh = new Warehouse(spark, tmpDir("ndi-follow"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 3L -> otherText)) // ledger -> head
    // out-of-band append BYPASSES admission: doc 5 is a near-dup of doc 1
    // and lands anyway — only the follower can index it
    wh.append("corpus", docs(5L -> nearText), statsCols = Seq("doc_id"))
    val rep1 = ing.followChanges("corpus")
    assert(rep1.deletedDocs == 0 && rep1.indexedDocs == 1, rep1.toString)
    def pairSet() = ing.pairs("corpus").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 5L)), pairSet().toString)

    // delete doc 1: its pair must vanish WITHOUT rewriting any index file
    val bandFilesBefore = wh.dataFiles("corpus__bands").map(_.path).toSet
    wh.deleteWhere("corpus", col("doc_id") === 1L)
    val rep2 = ing.followChanges("corpus")
    assert(rep2.deletedDocs == 1 && rep2.indexedDocs == 0, rep2.toString)
    val bandFilesAfter = wh.dataFiles("corpus__bands").map(_.path).toSet
    assert(bandFilesBefore == bandFilesAfter,
      "retraction must be an equality-delete commit, never a data-file rewrite")
    assert(pairSet().isEmpty, s"phantom pair from a stale signature: ${pairSet()}")

    // update doc 5's text to near-dup doc 3: old signature retracts, the
    // re-signed doc MOVES to the new neighborhood
    val otherNear = ((1 to 38).map(i => s"alt$i") ++ Seq("q", "w")).mkString(" ")
    wh.morMerge("corpus", docs(5L -> otherNear), Seq("doc_id"))
    val rep3 = ing.followChanges("corpus")
    assert(rep3.deletedDocs == 1 && rep3.indexedDocs == 1, rep3.toString)
    assert(pairSet() == Set((3L, 5L)), pairSet().toString)

    // replay converges: nothing new in the window
    val rep4 = ing.followChanges("corpus")
    assert(rep4.deletedDocs == 0 && rep4.indexedDocs == 0, rep4.toString)
  }

  test("followChanges bootstraps an index over a never-ingested corpus") {
    val wh = new Warehouse(spark, tmpDir("ndi-boot"))
    val ing = ingester(wh)
    wh.append("corpus", docs(1L -> baseText, 2L -> otherText, 5L -> nearText),
      statsCols = Seq("doc_id"))
    val rep = ing.followChanges("corpus")
    assert(rep.indexedDocs == 3, rep.toString)
    assert(ing.pairs("corpus").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 5L)))
    // the ingest probe now sees the bootstrapped index: a near-dup of doc 2
    // is rejected against it
    val otherNear = ((1 to 38).map(i => s"alt$i") ++ Seq("q", "w")).mkString(" ")
    val r = ing.ingest("corpus", docs(9L -> otherNear))
    assert(r.appended == 0 && r.dupVsCorpus == 1, r.toString)
  }

  test("a foreign commit between ingests is never skipped by the follower ledger") {
    val wh = new Warehouse(spark, tmpDir("ndi-foreign"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> otherText))
    wh.deleteWhere("corpus", col("doc_id") === 1L) // foreign
    ing.ingest("corpus", docs(6L -> (1 to 40).map(i => s"new$i").mkString(" ")))
    // the second ingest must NOT have advanced the ledger past the delete
    val rep = ing.followChanges("corpus")
    assert(rep.deletedDocs == 1, rep.toString)
    // doc 1's signature is retracted: a re-ingest of its near-dup is ADMITTED
    val r = ing.ingest("corpus", docs(7L -> nearText))
    assert(r.appended == 1 && r.dupVsCorpus == 0, r.toString)
  }

  test("followChanges refuses loudly when the pk column was renamed in the window") {
    val wh = new Warehouse(spark, tmpDir("ndi-pkrename"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> otherText))
    wh.renameColumn("corpus", "doc_id", "document_id")
    val e = intercept[IllegalArgumentException] { ing.followChanges("corpus") }
    assert(e.getMessage.contains("doc_id") && e.getMessage.contains("renamed"),
      e.getMessage)
  }

  test("compact: index files coalesce band_key-disjoint; pairs unchanged") {
    val wh = new Warehouse(spark, tmpDir("ndi-compact"))
    val ing = ingester(wh)
    // near-dups land by PLAIN append (no admission) and index via the
    // follower, so pairs() actually has edges to preserve
    wh.append("corpus", docs(1L -> baseText, 2L -> nearText), statsCols = Seq("doc_id"))
    ing.followChanges("corpus")
    // many small ingests: one bands file per batch, ranges overlapping
    (0 until 6).foreach { i =>
      val novel = (1 to 40).map(j => s"w${i}t$j").mkString(" ")
      ing.ingest("corpus", docs(100L + i -> novel)): Unit
    }
    val before = ing.pairs("corpus").orderBy("d1", "d2").collect().map(_.toSeq).toSeq
    assert(before.nonEmpty, "premise: some near-dup pairs exist")
    val filesBefore = wh.currentManifest("corpus__bands").files.size
    assert(filesBefore >= 6, s"premise: per-batch band files, got $filesBefore")
    ing.compact("corpus")
    val filesAfter = wh.currentManifest("corpus__bands").files.size
    assert(filesAfter < filesBefore,
      s"compaction must shrink the bands file count: $filesBefore -> $filesAfter")
    assert(ing.pairs("corpus").orderBy("d1", "d2").collect().map(_.toSeq).toSeq == before,
      "compaction must be content-preserving")
    // the index keeps working for admission after compaction
    val again = ing.ingest("corpus",
      docs(999L -> ((1 to 38).map(j => s"w0t$j") ++ Seq("qq", "rr")).mkString(" ")))
    assert(again.dupVsCorpus == 1, s"post-compact probe must still dedup: $again")
  }

  test("signature-format stamp: mismatched parameters refuse loudly, never mix") {
    val wh = new Warehouse(spark, tmpDir("ndi-fmt"))
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> otherText))
    // an instance with different signing parameters (k=8) would write
    // signatures that never compare equal and bands that never collide with
    // the stored ones — every entry point must refuse, not degrade
    val alien = new NearDupIngest(wh, "doc_id", "text", k = 8, bands = 2)
    val e1 = intercept[IllegalStateException](
      alien.ingest("corpus", docs(3L -> nearText)))
    assert(e1.getMessage.contains("incompatible signature format"), e1.getMessage)
    val e2 = intercept[IllegalStateException](alien.followChanges("corpus"))
    assert(e2.getMessage.contains("incompatible"), e2.getMessage)
    val e3 = intercept[IllegalStateException](alien.pairs("corpus"))
    assert(e3.getMessage.contains("incompatible"), e3.getMessage)
    // the matching instance keeps working
    assert(ing.ingest("corpus", docs(3L -> nearText)).appended == 0)
  }

  test("signature-format stamp: a pre-stamp index refuses until adopted") {
    val root = tmpDir("ndi-fmt-adopt")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    ing.ingest("corpus", docs(1L -> baseText, 2L -> otherText))
    // simulate a pre-stamp index: wipe the stamp ledger file
    val stampFile = java.nio.file.Paths.get(root, "corpus__sigs", "_stream_sigformat")
    assert(java.nio.file.Files.exists(stampFile), "fresh ingest must stamp")
    java.nio.file.Files.delete(stampFile)
    val e = intercept[IllegalStateException](ing.pairs("corpus"))
    assert(e.getMessage.contains("no signature-format stamp") &&
      e.getMessage.contains("adoptFormat"), e.getMessage)
    // operator adoption (provenance known: we built it with this instance)
    ing.adoptFormat("corpus")
    assert(ing.ingest("corpus", docs(10L -> nearText)).dupVsCorpus == 1)
  }

  test("signature-format stamp: committed index is never stampless (create-then-stamp order)") {
    // REGRESSION (round-17 advice): ingest/ingestAtomic stamped AFTER their
    // commits, so a crash in between left a committed index with no stamp —
    // which formatGuard then permanently refused as pre-stamp-era. The
    // entry points now create-then-stamp BEFORE any signature rows commit.
    val root = tmpDir("ndi-fmt-crash")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    // the stamp must exist the moment signature rows are committed: after a
    // fresh ingest both the rows and the stamp are present (ordering means a
    // crash after the sigs commit still leaves the stamp behind)
    ing.ingest("corpus", docs(1L -> baseText))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "corpus__sigs", "_stream_sigformat")),
      "stamp must be recorded before/with the first sigs commit")
    // crash window between create and stamp: an EMPTY stampless sigs table
    // must be treated as fresh, not refused — simulate on a second corpus
    val root2 = tmpDir("ndi-fmt-crash2")
    val wh2 = new Warehouse(spark, root2)
    val ing2 = ingester(wh2)
    wh2.create("corpus__sigs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sig", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))))
    // no stamp, zero committed rows: every entry point accepts and heals
    val rep = ing2.ingestAtomic("corpus", docs(1L -> baseText, 2L -> otherText))
    assert(rep.appended == 2, rep.toString)
    assert(ing2.pairs("corpus").collect() != null)
    // and the healed index is stamped
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root2, "corpus__sigs", "_stream_sigformat")))
  }

  test("streaming ingest: near-dup rejected in-flight; fresh-checkpoint replay adds 0") {
    import org.apache.spark.sql.streaming.Trigger
    val watch = tmpDir("ndi-watch")
    val wh = new Warehouse(spark, tmpDir("ndi-swh"))
    val ing = ingester(wh)

    def drain(checkpoint: String): Unit = {
      val q = graft.streaming.CorpusStream
        .ingestIndexed(spark, watch, schema, ing, "corpus",
          checkpointDir = Some(checkpoint))
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(60000), "stream did not drain in 60s")
      finally q.stop()
    }

    docs(1L -> baseText).write.mode("append").parquet(watch)
    drain(tmpDir("ndi-cp1"))
    assert(wh.load("corpus").collect().map(_.getLong(0)).toSeq == Seq(1L))

    // batch 2: near-dup of the stored doc + a novel doc
    docs(10L -> nearText, 11L -> otherText).write.mode("append").parquet(watch)
    drain(tmpDir("ndi-cp2")) // FRESH checkpoint: batch-1 file replays too
    val after = wh.load("corpus").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(1L, 11L), s"got $after")
    assert(wh.load("corpus__sigs").count() == 2, "index tracks the corpus")
  }
}
