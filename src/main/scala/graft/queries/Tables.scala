package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query surface.
  *
  * Cross-engine determinism rules (SURVEY.md §7.6.3 and FIXTURES.md):
  *  - Money/metric aggregates run in DECIMAL(18,2)-derived exact arithmetic
  *    and only the FINAL value is cast to double — a double SUM's value
  *    depends on accumulation order, which Spark and DuckDB do differently;
  *    an exact decimal sum converted once to double is bit-deterministic in
  *    both engines.
  *  - Every query ends in a total ORDER BY (unique tiebreak column included)
  *    so result rows hash identically regardless of partitioning. Catalyst's
  *    EliminateSorts drops these sorts under `count()`-style benchmarks, so
  *    they cost nothing in the bench path.
  *  - Timestamps stay native under a UTC session; sub-second-precision values
  *    from the ns-precision `events.ts` column are only emitted truncated.
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread a compute-heavy narrow table across all cores. Small parquet
    * files arrive as ONE scan partition (maxPartitionBytes never splits a
    * 65 MB file), which would serialize expensive per-row work (md5
    * shingling, vector math) onto a single core; one cheap shuffle of the
    * raw rows buys full parallelism for everything after. The pattern
    * (repartition before compute-bound stages, not before IO-bound ones)
    * is what matters; the partition-count gate below makes it literally a
    * no-op on production many-file inputs.
    *
    * Distribution key: a hash of the row's PROVENANCE — the parquet
    * `_metadata` virtual columns (file_path, row_index) — rather than
    * round-robin. Round-robin `repartition(n)` buys its retry determinism
    * by locally SORTING every input partition first
    * (`spark.sql.execution.sortBeforeRepartition`, guide §2.5) — measured
    * at 2x the exchange cost on the single-row-group bench inputs — while
    * a deterministic key needs no sort (a re-run task re-derives the same
    * assignment from the same rows, the guide's "derive the synthetic key
    * deterministically" remedy). The provenance key references NO data
    * column, so column pruning still reaches the scan (a content hash
    * over all columns would force a full-width read), and (file, index)
    * is unique per row, so the spread is as even as round-robin. Frames
    * without `_metadata` (non-scan inputs) fall back to round-robin.
    */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    // scale gate: a scan already at (or past) core parallelism gains
    // nothing from redistribution — skip the exchange outright, so the
    // pattern costs nothing on production many-file inputs
    if (df.rdd.getNumPartitions >= n) return df
    scala.util.Try(
      df.repartition(n, xxhash64(col("_metadata.file_path"), col("_metadata.row_index")))
    ).getOrElse(df.repartition(n))
  }

  /** Exact decimal view of a double money column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum, emitted as a deterministic double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** avg via exact sum / count — DuckDB's avg(decimal) returns double with
    * its own summation order; sum-then-divide is deterministic in both.
    */
  def davg(c: Column): Column = (sum(dec(c)).cast("double") / count(lit(1)))

  /** Revenue term l_extendedprice * (1 - l_discount) in exact arithmetic. */
  def revenue(price: Column, discount: Column): Column =
    dec(price) * (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) - dec(discount))

  /** Wipe a per-JVM warehouse root's CONTENTS, keeping the directory itself
    * (catalog plugins are cached by name after first load, so the root conf
    * must keep pointing at the same path).
    */
  private[queries] def wipe(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.filter(_ != p).foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private val stableRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The per-JVM STABLE scratch root named `key`, created on first use and
    * never moved — the one implementation of the stable-path discipline
    * every temp-catalog query uses: Spark caches a catalog plugin by name
    * after its first load, so a fresh temp dir per run would silently keep
    * reading the old root. Runs wipe the CONTENTS instead ([[wipe]]).
    */
  private[queries] def stableRoot(key: String): java.nio.file.Path =
    stableRoots.computeIfAbsent(key,
      k => java.nio.file.Files.createTempDirectory(s"graft-$k"))

  /** A warehouse over `key`'s wiped stable root; with `catalog`, also
    * registered as the Spark catalog named `key` (SQL reaches it as
    * `key.<table>`).
    */
  private[queries] def stableWarehouse(s: SparkSession, key: String,
                                       catalog: Boolean = true): graft.sink.Warehouse = {
    val root = stableRoot(key)
    wipe(root)
    if (catalog) {
      s.conf.set(s"spark.sql.catalog.$key", classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$key.root", root.toString)
    }
    new graft.sink.Warehouse(s, root.toString)
  }
}
