package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ProductQuantization
import graft.sink.{IndexFamily, NearDupIngest, SearchIndexIngest, VectorIndexIngest, Warehouse}

/** The follower-ledger contract every [[IndexFamily]] member shares, run
  * over all three families: a foreign corpus commit — between two ingests
  * or DURING one — is never skipped by the ledger, and a pk rename inside
  * the follow window refuses loudly instead of mis-pairing.
  */
class IndexFamilyContractSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** One family under test: `a`/`b` are two disjoint batches (pks 1–3 and
    * 4–5), `ledger` the table carrying the `idxfollow:` ledger, `index` a
    * per-pk index table whose pks must track the corpus.
    */
  private case class Fam(label: String, pk: String, ledger: String, index: String,
                         a: DataFrame, b: DataFrame, mk: Warehouse => IndexFamily)

  private val textSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(ids: Seq[Long]) = spark.createDataFrame(ids.map { i =>
    // disjoint vocabularies: no two docs are near-dups of each other
    Row(i, (1 to 40).map(j => s"d${i}w$j").mkString(" ")) }.asJava, textSchema)

  private val DIM = 8
  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("emb", ArrayType(DoubleType))))
  private def block(p: Int) = math.min(p / 3, 2)
  private def vecs(ids: Seq[Long]) = spark.createDataFrame(ids.map { i =>
    Row(i, (0 until DIM).map(p =>
      (if (block(p) == i % 3) 10.0 else 0.0) + 0.1 * ((i * 7 + p) % 5)).toArray) }.asJava,
    vecSchema)
  private val cellCents = spark.createDataFrame((0 until 3).map(c =>
    Row(c.toLong, (0 until DIM).map(p => if (block(p) == c) 10.0 else 0.0).toArray)).asJava,
    StructType(Seq(StructField("cell", LongType), StructField("cv", ArrayType(DoubleType)))))

  private val families = Seq(
    Fam("search", "doc_id", "c__postings", "c__doclens", docs(1L to 3L), docs(4L to 5L),
      wh => new SearchIndexIngest(wh, "doc_id", "text")),
    Fam("near-dup", "doc_id", "c__bands", "c__sigs", docs(1L to 3L), docs(4L to 5L),
      wh => new NearDupIngest(wh, "doc_id", "text")),
    Fam("vector", "id", "c__codes", "c__codes", vecs(1L to 3L), vecs(4L to 5L), { wh =>
      val ing = new VectorIndexIngest(wh, "id", "emb", DIM, 2, 4)
      ing.freeze("c", cellCents, ProductQuantization.initCodebook(
        vecs(1L to 12L).select(col("id").as("vec_id"), col("emb").as("v")), DIM, 2, 4))
      ing
    }))

  private def indexPks(wh: Warehouse, f: Fam): Set[Long] =
    wh.load(f.index).select(f.pk).distinct().collect().map(_.getLong(0)).toSet

  for (f <- families) {
    test(s"${f.label}: a foreign commit between ingests is never skipped by the ledger") {
      val wh = new Warehouse(spark, tmpDir(s"ifc-between-${f.label}"))
      val ing = f.mk(wh)
      ing.ingest("c", f.a)
      wh.deleteWhere("c", col(f.pk) === 1L) // foreign churn
      // the next ingest must NOT fast-forward the ledger past the delete —
      // that would orphan pk 1's index rows forever
      ing.ingest("c", f.b)
      val rep = ing.followChanges("c")
      assert(rep.deletedDocs == 1L, rep.toString)
      assert(indexPks(wh, f) == Set(2L, 3L, 4L, 5L))
      val rep2 = ing.followChanges("c")
      assert(rep2.deletedDocs == 0 && rep2.indexedDocs == 0, rep2.toString)
    }

    test(s"${f.label}: a foreign commit landing DURING an ingest is never fast-forwarded over") {
      val wh = new Warehouse(spark, tmpDir(s"ifc-during-${f.label}"))
      val ing = f.mk(wh)
      ing.ingest("c", f.a)
      val preV = wh.currentVersion("c")
      // the interleave the sequential API cannot produce: a racing ingest
      // captured preV, a foreign delete landed, then the ingest's own
      // corpus append; its post-append ledger call must refuse to advance
      wh.deleteWhere("c", col(f.pk) === 1L)
      wh.append("c", f.b, statsCols = Seq(f.pk))
      ing.advanceFollowerLedger("c", preV)
      assert(wh.lastCommittedBatchId(f.ledger, "idxfollow:c") == preV,
        "ledger fast-forwarded past a foreign commit that landed during the ingest")
      // the next follow drains the whole gap
      val rep = ing.followChanges("c")
      assert(rep.deletedDocs == 1L && rep.indexedDocs == 2L, rep.toString)
      assert(indexPks(wh, f) == Set(2L, 3L, 4L, 5L))
    }

    test(s"${f.label}: followChanges refuses loudly when the pk column was renamed") {
      val wh = new Warehouse(spark, tmpDir(s"ifc-rename-${f.label}"))
      val ing = f.mk(wh)
      ing.ingest("c", f.a)
      wh.renameColumn("c", f.pk, s"${f.pk}_renamed")
      val e = intercept[IllegalArgumentException](ing.followChanges("c"))
      assert(e.getMessage.contains(f.pk) && e.getMessage.contains("renamed"), e.getMessage)
    }
  }
}
