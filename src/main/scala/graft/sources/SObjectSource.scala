package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.ResourceDef
import graft.schema.SchemaOps

/** Extraction side of the engine (SURVEY.md §2.1-2.2).
  *
  * The reference extracts one sObject at a time through a synthesized SOQL
  * query — projection (compound fields pruned, `attributes` dropped), an
  * optional strict-`>` watermark predicate, `ORDER BY rk ASC`, and a test
  * LIMIT (`salesforce/helpers/records.py:69-94`). In this zero-egress repo
  * the "sObject" is a parquet file under the scale-factor dir; in production
  * the same trait would sit on a DSv2 `TableProvider` with
  * `SupportsPushDownRequiredColumns` / `SupportsPushDownFilters`.
  *
  * All four SOQL clauses are declared as DataFrame transformations so Catalyst
  * pushes projection and predicate into the parquet scan (visible as
  * `PushedFilters` / `ReadSchema` in `explain("formatted")`) — the Spark-first
  * equivalent of the reference pushing them into the Salesforce API.
  */
object SObjectSource {

  /** S1/S2 scan: read one table of the scale-factor dir. */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  /** S3 schema discovery: the catalog/describe() analog is the parquet footer. */
  def describe(spark: SparkSession, sfDir: String, table: String): org.apache.spark.sql.types.StructType =
    read(spark, sfDir, table).schema

  /** S4 + P1-P5 + I1: the full extraction query for a resource.
    *
    * @param watermark  exclusive lower bound on the replication key (strict
    *                   `>`, preserving `salesforce/helpers/records.py:90`)
    * @param limit      optional row cap (the reference's `IS_PRODUCTION=False`
    *                   LIMIT 100, `salesforce/helpers/records.py:93-94`)
    * @param dropCols   compound/envelope columns to prune (P1/P2 analog)
    */
  def extract(
      spark: SparkSession,
      sfDir: String,
      res: ResourceDef,
      watermark: Option[String] = None,
      limit: Option[Int] = None,
      dropCols: Seq[String] = Nil): DataFrame = {
    var df = SchemaOps.normalizeNanos(read(spark, sfDir, res.name), res.nanosCols)
    if (dropCols.nonEmpty) df = df.drop(dropCols: _*)
    queryShape(df, res, watermark, limit)
  }

  /** The WHERE/ORDER BY/LIMIT clauses of the synthesized extraction query
    * (`salesforce/helpers/records.py:87-94`), as pure DataFrame transforms —
    * shared by the parquet stand-in path and the DSv2 connector path, where
    * Catalyst pushes the watermark predicate into the source (parquet
    * `PushedFilters` / connector SOQL `WHERE`).
    */
  def queryShape(
      df0: DataFrame,
      res: ResourceDef,
      watermark: Option[String],
      limit: Option[Int]): DataFrame = {
    var df = df0
    (res.replicationKey, watermark.orElse(res.initialWatermark)) match {
      case (Some(rk), Some(w)) =>
        // Strict `>` — rows exactly at the boundary are excluded (SURVEY §7.6.6).
        // Optional fractional seconds: watermarks persist at µs precision.
        df = df.filter(col(rk) >
            to_timestamp(lit(w.stripSuffix("Z")), "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"))
          .orderBy(col(rk).asc)
      case _ => ()
    }
    limit.foreach(n => df = df.limit(n))
    df
  }

  /** Extraction through the DSv2 connector (the production path): schema from
    * the API's describe() with compound fields already pruned
    * (`records.py:71-84`), watermark/limit pushed into the scan as SOQL.
    * Returns an extractor with the [[graft.pipeline.Pipeline.Config]] shape.
    */
  def dsv2Extractor(rows: Long, pageSize: Int = 1000)
      : (SparkSession, ResourceDef, Option[String], Option[Int]) => DataFrame =
    (spark, res, watermark, limit) => {
      val df = spark.read.format("graft.sources.dsv2.SObjectDataSource")
        .option("sobject", res.apiName)
        .option("rows", rows.toString)
        .option("pageSize", pageSize.toString)
        .load()
      queryShape(df, res, watermark, limit)
    }
}
