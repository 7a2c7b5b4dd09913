package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import Tables._

/** Consumer-side analytic surface over the loaded star schema (SURVEY.md §2.3
  * J2, §2.4, §2.5, §2.6): the queries a user of the reference's warehouse
  * runs after the ELT lands. Broadcast hints mark the dimension sides so the
  * 100 TB plan is map-side joins on facts, shuffle only where keyed
  * aggregation genuinely requires it.
  */
object AnalyticQueries {

  private val BIG_ORDER_QTY = 250 // q116: large-volume order threshold

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: single-pass grouped scan of the biggest fact. Partial
    // aggregation (map-side combine) keeps shuffle rows = #groups, not #rows.
    // spread(): the decimal money algebra (3 double→decimal casts + an
    // exact multiply per row) is the dominant per-row cost of this tier —
    // compute-bound, not IO-bound — so the fact scan redistributes before
    // the aggregate exactly like the text tier does before its shingle
    // HOFs (Tables.spread scaladoc: provenance-keyed, prune-transparent,
    // no-op once the scan itself is parallel).
    "q20_pricing_summary" -> { (s, dir) =>
      spread(read(s, dir, "lineitem"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q5 shape: facts joined to broadcast dims, grouped revenue.
    "q21_revenue_by_nation" -> { (s, dir) =>
      val li = spread(read(s, dir, "lineitem")) // q20's rationale: decimal-bound probe side
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // Storage-partitioned co-located join (q137): the fact-fact orderkey
    // join that q21/q22 shuffle BOTH sides of, re-run through the warehouse
    // with bucket(32, orderkey) declared on both tables. The hive-split
    // writes make every file single-valued per bucket, the scans report
    // KeyGroupedPartitioning (catalog/SpjSupport), and Spark's SPJ machinery
    // zips per-bucket file groups with ZERO join exchanges —
    // BucketedJoinSpec pins the shuffle-free plan; this query pins the
    // ANSWER against DuckDB at full identity. At 100 TB the orderkey
    // shuffle of two fact tables is the single biggest exchange in the
    // suite; bucketing both sides at write time deletes it from every
    // downstream join. Per-iteration cost deliberately includes the
    // bucketed table build (the amortized write that buys shuffle-free
    // serving), mirroring q134's index-build accounting.
    "q137_bucketed_colocated_join" -> { (s, dir) =>
      val conf = s.conf
      val savedConfs = Seq(
        "spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
      val wh = stableWarehouse(s, "gq137")
      try {
        conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        // force a real join of both sides: broadcasting the dim would bypass
        // the exchange this query exists to prove away
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val o = read(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        val li = read(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        wh.create("orders_b", o.schema, Seq("bucket(32,o_orderkey)"))
        wh.create("lineitem_b", li.schema, Seq("bucket(32,l_orderkey)"))
        wh.append("orders_b", o)
        wh.append("lineitem_b", li)
        // eager localCheckpoint detaches the result from the bucketed table
        // files so the per-run warehouse can be wiped (q134 discipline)
        s.sql(
          """SELECT o_orderpriority,
            |  count(*) AS n_items,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
            |FROM gq137.orders_b JOIN gq137.lineitem_b ON o_orderkey = l_orderkey
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
          .localCheckpoint()
      } finally {
        savedConfs.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None)    => conf.unset(k)
        }
        wipe(stableRoot("gq137"))
      }
    },

    // Metadata-only aggregates (q146): global COUNT(*)/MIN/MAX over an
    // unfiltered warehouse scan answered from the MANIFEST — StatsAggRule
    // collapses the whole query to a one-row LocalRelation folded from the
    // commit's own row counts and column bounds: zero file opens, zero
    // Spark jobs on the serving side (StatsAggSpec pins the plan shape and
    // every bail-out). The oracle recomputes the same aggregates from the
    // raw parquet, so a single stale or truncated bound is a hash miss. At
    // 100 TB this is "SELECT count(*) FROM t" in milliseconds from
    // metadata the ingest already paid for (Iceberg snapshot-summary
    // analog), vs a full-table scan — the per-iteration cost here is
    // deliberately the BUILD (append with stats), q134/q137's accounting.
    "q146_metadata_aggregates" -> { (s, dir) =>
      val conf = s.conf
      val wh = stableWarehouse(s, "gq146")
      try {
        val li = read(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
        wh.create("li", org.apache.spark.sql.types.StructType(
          li.schema.fields.map(_.copy(nullable = true))))
        wh.append("li", li,
          statsCols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        s.sql(
          """SELECT count(*) AS n,
            |  min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
            |  min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
            |  min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty,
            |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship
            |FROM gq146.li""".stripMargin)
          .localCheckpoint()
      } finally {
        wipe(stableRoot("gq146"))
      }
    },

    // Top-k file pruning under the oracle (q152): ORDER BY ... LIMIT over a
    // range-clustered warehouse table plans only the files whose manifest
    // bounds can reach the top-k threshold (TopNPruning credit/prune math,
    // SupportsPushDownTopN on the scan builder; TopNPruneSpec pins the
    // planned-file counts and property-tests soundness). Spark keeps the
    // Sort+Limit — the push only shrinks IO — so the answer is exact and
    // DuckDB adjudicates it directly against the raw parquet. At 100 TB
    // this turns "latest 100 events by timestamp" from a full-table
    // TakeOrdered into ~⌈k/rows-per-file⌉ file reads. Build cost is in the
    // iteration by design (q146's accounting); both sort directions serve
    // from the same build to pin asc and desc thresholds.
    "q152_topk_prune" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq152")
      try {
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        wh.create("ord", org.apache.spark.sql.types.StructType(
          o.schema.fields.map(_.copy(nullable = true))))
        // range-cluster on the sort key: files become near-disjoint price
        // ranges, the layout the top-k file selection thrives on
        wh.append("ord", o, statsCols = Seq("o_orderkey", "o_totalprice"),
          clusterBy = Seq("o_totalprice"))
        val top = s.sql(
          """SELECT o_orderkey, o_totalprice, o_orderpriority, 'top' AS side
            |FROM gq152.ord ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
        val bottom = s.sql(
          """SELECT o_orderkey, o_totalprice, o_orderpriority, 'bottom' AS side
            |FROM gq152.ord ORDER BY o_totalprice ASC, o_orderkey LIMIT 100""".stripMargin)
        top.unionAll(bottom)
          .orderBy(col("side").asc, col("o_orderkey").asc)
          .localCheckpoint()
      } finally wipe(stableRoot("gq152"))
    },

    // LIKE-prefix file pruning under the oracle (q155): a warehouse table
    // range-clustered on a STRING key serves `WHERE p_name LIKE 'x%'` by
    // intersecting each file's string bounds with the byte range
    // [p, succ(p)) — ManifestPruneRule's StartsWith conjunct
    // (PrefixPruneSpec pins the range math incl. unicode tails and the
    // planned-file counts; PropertySpec fuzzes LIKE/<=> against raw
    // filters). DuckDB adjudicates the grouped aggregate directly. The
    // 100 TB shape: URL-prefix / date-string-prefix scans over a
    // name-clustered corpus read O(matching range) files.
    "q155_prefix_prune" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq155")
      try {
        val p = read(s, dir, "part").select("p_partkey", "p_name", "p_retailprice")
        wh.create("part", org.apache.spark.sql.types.StructType(
          p.schema.fields.map(_.copy(nullable = true))))
        wh.append("part", p, statsCols = Seq("p_name", "p_partkey"),
          clusterBy = Seq("p_name"))
        s.sql(
          """SELECT substring(p_name, 1, 3) AS pfx, count(*) AS n,
            |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
            |FROM gq155.part WHERE p_name LIKE 'l%'
            |GROUP BY 1 ORDER BY 1""".stripMargin)
          .localCheckpoint()
      } finally wipe(stableRoot("gq155"))
    },

    // Grouped metadata aggregates under the oracle (q154): GROUP BY over an
    // identity-partitioned (hive-split) warehouse table — every file is
    // single-valued on the grouping column, so each group is a union of
    // whole files and StatsAggRule folds count(*)/count(col)/min/max per
    // group straight from the manifest: the serving plan has NO scan and
    // ZERO Spark jobs (StatsAggSpec pins the plan shape and the
    // non-single-valued bail). DuckDB recomputes the same aggregates from
    // raw parquet — one wrong per-file bound or row count is a hash miss.
    // The 100 TB shape: "rows and extremes per region/day" — the dashboard
    // query — served in milliseconds from metadata the ingest already paid
    // for. Build cost (clustered append with stats) is in the iteration by
    // design, q146's accounting.
    // TRANSFORM-grouped metadata aggregates (q157): GROUP BY year(ts) on a
    // years(ts)-partitioned table — q154's sibling where the grouping key
    // is a partition-TRANSFORM expression, not an identity column. The
    // write hive-splits files by the transform value and records its stat
    // (min == max, zero nulls per file), so StatsAggRule folds each year's
    // count/min/max straight from the manifest: the optimized plan is a
    // LocalRelation — NO scan, NO exchange, ZERO file opens at any table
    // size (StatsAggSpec pins the plan shape and the non-aligned bail).
    // The commonest reporting shape on a time-partitioned 100 TB table.
    "q157_transform_grouped_agg" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq157")
      try {
        // parquet ms-timestamps read as NTZ; UTC session makes the cast the
        // identity (the engine-wide convention — skill-documented)
        val o = read(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate"), col("o_totalprice"))
        wh.create("ord", org.apache.spark.sql.types.StructType(
          o.schema.fields.map(_.copy(nullable = true))), Seq("years(o_orderdate)"))
        wh.append("ord", o, statsCols = Seq("o_orderkey", "o_totalprice"))
        s.sql(
          """SELECT year(o_orderdate) AS yr, count(*) AS n,
            |  min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
            |  min(o_totalprice) AS mn_p, max(o_totalprice) AS mx_p
            |FROM gq157.ord GROUP BY year(o_orderdate) ORDER BY yr""".stripMargin)
          .localCheckpoint()
      } finally wipe(stableRoot("gq157"))
    },

    // INCREMENTAL ANALYZE (q158): analyze half the customers, append the
    // other half, refresh incrementally — the refresh scans ONLY the new
    // files and UNIONS their HLL sketches into the stored ones, yet its
    // EXACT fields (row count, per-column null counts, max lengths) must
    // equal DuckDB's direct aggregates over the full data. The NDV estimate
    // is approximate by design and spec-gated (AnalyzeSpec), not here. The
    // 100 TB shape: ANALYZE joins the O(batch) maintenance family — stats
    // refresh costs one pass over the ingest, never a table rescan.
    "q158_incremental_analyze" -> { (s, dir) =>
      val wh = stableWarehouse(s, "q158", catalog = false)
      try {
        val cust = read(s, dir, "customer")
          .select(col("c_custkey"),
            // inject nulls deterministically so null counts carry signal
            when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_name")).as("c_name"),
            col("c_acctbal"))
        wh.create("c", org.apache.spark.sql.types.StructType(
          graft.schema.SchemaOps.widenSchema(cust.schema).fields.map(_.copy(nullable = true))))
        wh.append("c", cust.filter(col("c_custkey") % 2 === 0), statsCols = Seq("c_custkey"))
        wh.analyzeTable("c")
        wh.append("c", cust.filter(col("c_custkey") % 2 === 1), statsCols = Seq("c_custkey"))
        val r = wh.analyzeIncremental("c")
        val rows = Seq(
          ("__rows", r.stats.rows, if (r.incremental) 1L else 0L)) ++
          r.stats.cols.toSeq.map { case (c, e) => (c, e.nullCount, e.maxLen) }
        s.createDataFrame(rows).toDF("col", "n", "max_len")
          .orderBy("col").localCheckpoint()
      } finally wipe(stableRoot("q158"))
    },

    "q154_grouped_metadata_agg" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq154")
      try {
        val li = read(s, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_quantity", "l_shipdate")
        wh.create("li", org.apache.spark.sql.types.StructType(
          li.schema.fields.map(_.copy(nullable = true))), Seq("l_returnflag"))
        wh.append("li", li,
          statsCols = Seq("l_returnflag", "l_orderkey", "l_quantity", "l_shipdate"))
        s.sql(
          """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS nq,
            |  min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
            |  min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty,
            |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship
            |FROM gq154.li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
          .localCheckpoint()
      } finally wipe(stableRoot("gq154"))
    },

    // Bloom point-lookup index under the oracle (q153): per-file Bloom
    // sidecars (Warehouse.buildBloomIndex, O(new files) incremental) let
    // `WHERE h IN (...)` on an md5 key — whose per-file (min,max) spans the
    // whole domain, so range stats prune NOTHING — plan only the files that
    // might hold the probed values (ManifestPruneRule's bloom consult;
    // BloomIndexSpec pins planned-file counts, partial-index safety, and
    // scan-identity on random probes). No false negatives ⇒ the served rows
    // are exact, and DuckDB adjudicates them via the same md5 join over raw
    // parquet. The 100 TB shape: point lookups on an unclustered key read
    // O(probes) files instead of the table.
    "q153_bloom_point_lookup" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq153")
      try {
        val o = read(s, dir, "orders")
          .select(md5(col("o_orderkey").cast("string")).as("h"),
            col("o_orderkey"), col("o_totalprice"))
        wh.create("ord", org.apache.spark.sql.types.StructType(
          o.schema.fields.map(_.copy(nullable = true))))
        wh.append("ord", o, statsCols = Seq("h", "o_orderkey"))
        wh.buildBloomIndex("ord", Seq("h"))
        // probe the 5 smallest keys — literals, so the bloom consult fires
        val probes = o.orderBy("o_orderkey").limit(5)
          .collect().map(r => r.getString(0))
        s.sql(s"""SELECT o_orderkey, o_totalprice FROM gq153.ord
                 |WHERE h IN (${probes.map(p => s"'$p'").mkString(",")})
                 |ORDER BY o_orderkey""".stripMargin)
          .localCheckpoint()
      } finally wipe(stableRoot("gq153"))
    },

    // Partition-spec evolution under the oracle (q143): q137's bucketed
    // fact-fact join served ACROSS an evolution boundary. The orders side
    // is created bucket(16,o_orderkey), half the rows land, the spec
    // evolves to bucket(32) WITHOUT rewriting the old files, and the other
    // half lands under the new layout. Phase 'mixed' joins the mixed-spec
    // table (SPJ correctly refuses co-partitioning — shuffled join, same
    // rows); then compactFiles re-clusters everything under the current
    // spec and phase 'uniform' serves the same join from the re-bucketed
    // layout (the zero-exchange plan, pinned in PartitionSpecEvolutionSpec).
    // Both phases must agree with DuckDB's direct aggregate — evolution is
    // a layout fact, never an answer fact. The 100 TB story: re-bucketing a
    // grown table is one metadata write, rewrite IO is deferred to
    // compaction, and no serving window ever returns wrong rows.
    "q143_spec_evolution_join" -> { (s, dir) =>
      val conf = s.conf
      val savedConfs = Seq(
        "spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
      val wh = stableWarehouse(s, "gq143")
      try {
        conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val o = read(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        val li = read(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        wh.create("orders_e", o.schema, Seq("bucket(16,o_orderkey)"))
        wh.create("lineitem_e", li.schema, Seq("bucket(32,l_orderkey)"))
        wh.append("lineitem_e", li)
        val cut = o.agg(org.apache.spark.sql.functions.expr("percentile(o_orderkey, 0.5)"))
          .head().getDouble(0).toLong
        wh.append("orders_e", o.filter(col("o_orderkey") <= cut))
        wh.updateSpec("orders_e", Seq("bucket(32,o_orderkey)"))
        wh.append("orders_e", o.filter(col("o_orderkey") > cut))
        val q =
          """SELECT o_orderpriority,
            |  count(*) AS n_items,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            |FROM gq143.orders_e JOIN gq143.lineitem_e ON o_orderkey = l_orderkey
            |GROUP BY o_orderpriority""".stripMargin
        val mixed = s.sql(q).withColumn("phase", lit("mixed")).localCheckpoint()
        wh.compactFiles("orders_e", smallRows = Long.MaxValue)
        val uniform = s.sql(q).withColumn("phase", lit("uniform")).localCheckpoint()
        mixed.unionByName(uniform)
          .select("phase", "o_orderpriority", "n_items", "sum_qty")
          .orderBy("phase", "o_orderpriority")
          .localCheckpoint()
      } finally {
        savedConfs.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None)    => conf.unset(k)
        }
        wipe(stableRoot("gq143"))
      }
    },

    // Runtime-pruned join (q138): the DPP serving path under the oracle.
    // The fact (lineitem, bucketed on orderkey) is joined to a dim (orders)
    // carrying a SELECTIVE filter; at execution Spark hands the fact scan
    // the surviving orderkeys (SupportsRuntimeV2Filtering) and
    // V2PredicatePruning drops every fact file whose manifest bounds or
    // bucket projection prove it disjoint — fact IO shrinks to the buckets
    // the dim's keys live in, before any fact byte is read. RuntimeFilterSpec
    // pins the pruning mechanics and the planted dynamicpruning subquery;
    // this query pins the ANSWER against DuckDB. At 100 TB this is the
    // standard star-join shape: dim filters prune fact scans at runtime,
    // which no static pruning can do.
    "q138_runtime_pruned_join" -> { (s, dir) =>
      val conf = s.conf
      val savedConfs = Seq(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats").map(k => k -> conf.getOption(k))
      val wh = stableWarehouse(s, "gq138")
      try {
        // v2 relations carry no row-count stats; the fallback-ratio
        // heuristic is what decides DPP for a fresh catalog in production
        conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
        val li = read(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag")
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_orderstatus")
        wh.create("li_b", li.schema, Seq("bucket(16,l_orderkey)"))
        wh.create("ord", o.schema, Nil)
        wh.append("li_b", li)
        wh.append("ord", o)
        s.sql(
          """SELECT l_returnflag,
            |  count(*) AS n_items,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
            |FROM gq138.li_b JOIN gq138.ord ON l_orderkey = o_orderkey
            |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
          .localCheckpoint()
      } finally {
        savedConfs.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None)    => conf.unset(k)
        }
        wipe(stableRoot("gq138"))
      }
    },

    // Positional MOR delete under the oracle (q139): commit (file, ordinal)
    // delete pairs for a predicate — zero data files rewritten — and serve
    // the table through the merge-on-read anti-join on _metadata.row_index.
    // DuckDB adjudicates the SERVED rows against plain WHERE NOT(pred): the
    // pending-delete read path must be indistinguishable from the rewrite.
    // At 100 TB this is the deferred-IO delete: a retention/GDPR sweep
    // commits O(matched rows) pairs on the ingest path and compactDeletes
    // pays the rewrite later, off-peak (PositionalDeleteSpec pins shielding,
    // materialization, rename survival, and CDC exactness).
    "q139_positional_delete" -> { (s, dir) =>
      val wh = stableWarehouse(s, "q139", catalog = false)
      try {
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        wh.append("orders_m", o, statsCols = Seq("o_totalprice"))
        wh.positionDelete("orders_m",
          col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
        val served = wh.load("orders_m")
        served.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
          .localCheckpoint()
      } finally wipe(stableRoot("q139"))
    },

    // Branch write-audit-publish under the oracle (q147): half the orders
    // land on main, a branch forks (hard-linked manifest, ZERO data IO),
    // the other half plus a MOR price-correction merge land ON THE BRANCH
    // (multi-commit WAP — main serves the untouched pre-fork snapshot the
    // whole time, probed as `main_pre_publish`), then publishBranch
    // fast-forwards main to the branch head in ONE atomic commit whose
    // manifest delta is O(branch changes). DuckDB adjudicates the final
    // published state against the direct CASE form over raw parquet, and
    // the isolation probe against the even-key count — a torn publish, a
    // leaked branch write, or a dropped main commit is a hash miss. At
    // 100 TB this is the audited-backfill workflow: build and validate N
    // commits beside production, publish by pointer swap.
    "q147_branch_wap" -> { (s, dir) =>
      val wh = stableWarehouse(s, "q147", catalog = false)
      try {
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        wh.create("ord", org.apache.spark.sql.types.StructType(
          o.schema.fields.map(_.copy(nullable = true))))
        wh.append("ord", o.filter(col("o_orderkey") % 2 === 0),
          statsCols = Seq("o_orderkey"))
        wh.createBranch("ord", "wap")
        wh.append("ord@wap", o.filter(col("o_orderkey") % 2 === 1),
          statsCols = Seq("o_orderkey"))
        wh.morMerge("ord@wap",
          o.filter(col("o_orderkey") % 10 === 4)
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .withColumn("o_orderstatus", lit("W")),
          Seq("o_orderkey"))
        val mainPre = wh.load("ord").count() // isolation probe: pre-fork snapshot
        wh.publishBranch("ord", "wap")
        wh.load("ord").groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .withColumn("main_pre_publish", lit(mainPre))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      } finally wipe(stableRoot("q147"))
    },

    // Atomic CTAS under the oracle (q148): `CREATE OR REPLACE TABLE ... AS
    // SELECT` through the StagingTableCatalog — the query result writes into
    // an INVISIBLE staged table and exactly ONE snapshot commit publishes
    // (n_commits probes it: the created table's history must be the single
    // v0). DuckDB adjudicates the published content against the direct
    // aggregate over raw parquet. At 100 TB atomic CTAS is the difference
    // between "a reader can observe the empty half-created table" and
    // publish-or-nothing.
    "q148_atomic_ctas" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq148")
      try {
        wh.replace("ord_src",
          read(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice"))
        s.sql(
          """CREATE OR REPLACE TABLE gq148.ord_sum AS
            |SELECT o_orderpriority,
            |  count(*) AS n_orders,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM gq148.ord_src GROUP BY o_orderpriority""".stripMargin)
        val nCommits = wh.history("ord_sum").size
        s.sql("SELECT o_orderpriority, n_orders, total FROM gq148.ord_sum")
          .withColumn("n_commits", lit(nCommits))
          .orderBy("o_orderpriority")
          .localCheckpoint()
      } finally wipe(stableRoot("gq148"))
    },

    // Streaming table sink under the oracle (q149): two disjoint parquet
    // drops (even keys as-is, odd keys transformed) drain through
    // `writeStream.format(GraftSinkProvider)` with disposition=upsert —
    // each micro-batch ONE O(batch) morMerge commit, exactly-once via the
    // warehouse batch-id ledger (maxFilesPerTrigger=1 forces two real
    // batches; disjoint keys make the result batching-order-independent,
    // which is what lets a HASH-exact oracle adjudicate a streaming path).
    // DuckDB sees the latest-state CASE form over raw orders.
    "q149_stream_sink_upsert" -> { (s, dir) =>
      import graft.sink.Warehouse
      val root = stableRoot("q149")
      wipe(root)
      try {
        val watch = root.resolve("watch").toString
        val whRoot = root.resolve("wh").toString
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        o.filter(col("o_orderkey") % 2 === 0)
          .write.mode("append").parquet(watch)
        o.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 3)
          .withColumn("o_orderstatus", lit("S"))
          .write.mode("append").parquet(watch)
        val q = s.readStream.schema(o.schema)
          .option("maxFilesPerTrigger", "1").parquet(watch)
          .writeStream.outputMode("append")
          .format("graft.streaming.GraftSinkProvider")
          .option("root", whRoot).option("table", "orders_s")
          .option("disposition", "upsert").option("keys", "o_orderkey")
          .option("checkpointLocation", root.resolve("cp").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(300000), "q149 stream did not drain")
        q.stop()
        new Warehouse(s, whRoot).load("orders_s")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      } finally wipe(stableRoot("q149"))
    },

    // Persisted SQL views under the oracle (q150): CREATE OR REPLACE VIEW
    // stores the defining SQL as catalog metadata; the SELECT re-resolves it
    // at analysis time against the CURRENT snapshot — including a commit
    // that landed AFTER the view was created (the second append below), so
    // the oracle proves views are metadata over live state, not frozen
    // results. DuckDB adjudicates against the same aggregate over raw
    // parquet.
    "q150_sql_view" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq150")
      try {
        val o = read(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        wh.replace("ord_v", o.filter(col("o_orderkey") % 2 === 0))
        s.sql(
          """CREATE OR REPLACE VIEW gq150.ord_view AS
            |SELECT o_orderpriority,
            |  count(*) AS n_orders,
            |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM gq150.ord_v GROUP BY o_orderpriority""".stripMargin)
        // the view must see THIS commit too — it re-resolves per statement
        wh.append("ord_v", o.filter(col("o_orderkey") % 2 === 1))
        s.sql("SELECT o_orderpriority, n_orders, total FROM gq150.ord_view")
          .orderBy("o_orderpriority")
          .localCheckpoint()
      } finally wipe(stableRoot("gq150"))
    },

    // MOR upsert under the oracle (q140): the merge-on-read ingest path —
    // base table, then ONE O(batch) morMerge commit (batch data files + an
    // equality-delete file of the batch keys, zero target rewrites) — served
    // with the deletes still PENDING. DuckDB adjudicates the anti-joined
    // read against the latest-state CASE form: upsert-by-delete must be
    // indistinguishable from upsert-by-rewrite. At 100 TB this is the CDC
    // fast path: scattered keys would make copy-on-write merge rewrite most
    // files per batch; morMerge defers that IO to compactDeletes, off the
    // ingest path (MorMergeSpec pins merge-equivalence, replay convergence,
    // O(batch) manifests, and CDC exactness).
    "q140_mor_upsert" -> { (s, dir) =>
      val wh = stableWarehouse(s, "q140", catalog = false)
      try {
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        wh.replace("orders_u", o, Seq("o_orderkey"))
        val batch = o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderstatus", lit("U"))
        wh.morMerge("orders_u", batch, Seq("o_orderkey"))
        wh.load("orders_u").groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      } finally wipe(stableRoot("q140"))
    },

    // MOR UPDATE under the oracle (q141): positionUpdate commits the
    // matched rows' (file, ordinal) delete pairs PLUS their updated copies
    // in one O(matched-rows) commit — no untouched row rewritten — and the
    // table is served with the pairs still PENDING (old rows anti-joined
    // away, updated copies unioned in). DuckDB adjudicates against the
    // latest-state CASE form: update-by-pairs must be indistinguishable
    // from update-by-rewrite. At 100 TB this is the scattered-predicate
    // correction (GDPR field fix, backfill repair) where updateWhere would
    // rewrite most files; compactDeletes pays that later, off the ingest
    // path (PositionalDeleteSpec pins swap semantics, chained composition,
    // and no-resurrection).
    "q141_mor_update" -> { (s, dir) =>
      val wh = stableWarehouse(s, "q141", catalog = false)
      try {
        val o = read(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        wh.append("orders_pu", o, statsCols = Seq("o_totalprice"))
        wh.positionUpdate("orders_pu",
          col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0,
          Map("o_totalprice" -> (col("o_totalprice") + 1000.0),
            "o_orderstatus" -> lit("R")))
        wh.load("orders_pu").groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
          .localCheckpoint()
      } finally wipe(stableRoot("q141"))
    },

    // TPC-H Q17 shape: "small-quantity" lineitems vs their part's average —
    // the correlated-scalar-subquery pattern, decorrelated by hand into a
    // per-part aggregate joined back to the fact (what Catalyst's
    // RewriteCorrelatedScalarSubquery produces, stated explicitly). The
    // 0.2·avg threshold is cross-multiplied (qty·5·n < Σqty) so the
    // comparison stays in exact DECIMAL — no float average exists anywhere.
    "q34_small_qty_revenue" -> { (s, dir) =>
      val li = read(s, dir, "lineitem") // spread() A/B'd +0.35 s AGAINST: both consumers
      // re-shuffle by l_partkey immediately, so the spread exchange is pure waste
      val pa = li.groupBy(col("l_partkey").as("pa_partkey"))
        .agg(count(lit(1)).as("n_li"), sum(dec(col("l_quantity"))).as("sq"))
      val p = read(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      li.join(pa, col("l_partkey") === col("pa_partkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(dec(col("l_quantity")) * 5 * col("n_li") < col("sq"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"), dsum(col("l_extendedprice")).as("lost_revenue"))
        .orderBy("p_brand")
    },

    // The salted equi-join (functions/Skew) under the oracle gate: dims
    // replicate to every salt value, facts salt per row, the join runs on
    // (key, salt) — and the result must equal the plain join exactly (the
    // per-nation rollup makes that comparable despite the nondeterministic
    // salt). The manual rewrite for when AQE's skew split isn't in play.
    "q106_salted_join" -> { (s, dir) =>
      val facts = read(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), dec(col("o_totalprice")).as("price"))
      val dims = read(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      graft.functions.Skew.saltedJoin(facts, dims, "custkey", buckets = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
        .orderBy("c_nationkey")
    },

    // Explicit GROUPING SETS (the general form of q25's rollup / q31's
    // cube) with grouping_id disambiguation: three chosen margins from ONE
    // Expand + hash-aggregate pass — not the 2^k the cube would compute,
    // and the gid column makes NULL-vs-ALL unambiguous even on nullable
    // dimensions.
    "q104_grouping_sets" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          // grouping() only resolves INSIDE the grouping-sets aggregate
          (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
            .cast("long").as("gid"),
          count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(col("gid"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("total"))
        .orderBy("gid", "status", "prio")
    },

    // The full ranking-window-function suite in one pass: percent_rank,
    // cume_dist, lag, first_value, nth_value share ONE per-customer window
    // spec (Spark evaluates them in a single Window operator — one shuffle,
    // one per-partition sort); only nth_value needs the full-frame variant.
    "q37_window_suite" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          lag("o_orderkey", 1).over(w).as("prev_ok"),
          first("o_orderkey").over(w).as("first_ok"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Referential-integrity audit — the data-quality sweep an ingest
    // pipeline runs after load: orphaned facts (lineitem without its
    // order), childless parents, dangling FKs. Each check is a left-anti
    // join (never EXISTS-per-row); the three tiny counts union into one
    // report frame.
    "q35_referential_audit" -> { (s, dir) =>
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("check_name"), col("n"))
      cnt(li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti"),
          "lineitem_orphans")
        .unionByName(cnt(o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti"),
          "orders_childless"))
        .unionByName(cnt(o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_anti"),
          "orders_orphan_cust"))
        .orderBy("check_name")
    },

    // TPC-H Q10 shape: top-20 customers by revenue — global top-k via
    // TakeOrderedAndProject, not a full sort.
    "q22_top_customers" -> { (s, dir) =>
      val li = spread(read(s, dir, "lineitem")) // q20's rationale: decimal-bound probe side
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
        .orderBy(col("revenue").desc, col("c_custkey").asc)
    },

    // TPC-H Q4 shape: EXISTS => left semi join, grouped priority counts.
    "q23_order_priority" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      val li = read(s, dir, "lineitem").filter(col("l_discount") > 0.05)
        .select("l_orderkey").distinct()
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // Dim-fact join + multi-metric agg per brand.
    "q24_brand_stats" -> { (s, dir) =>
      val li = spread(read(s, dir, "lineitem")) // q20's rationale: decimal-bound probe side
      val p = read(s, dir, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity")).as("sum_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          min("l_shipdate").as("first_ship"),
          max("l_shipdate").as("last_ship"))
        .orderBy("p_brand")
    },

    // ROLLUP hierarchy totals (region -> nation -> grand total).
    "q25_rollup_geo" -> { (s, dir) =>
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        // Column refs, not strings: the string overload trips Spark 4's
        // ambiguous-self-join detection under grouping sets (false positive).
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },

    // Running aggregate window per key (frame: unbounded preceding..current).
    "q26_running_spend" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Top-k per group via ranked window.
    "q27_topk_per_brand" -> { (s, dir) =>
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      read(s, dir, "part")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("p_brand", "rk", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "rk")
    },

    // NOT EXISTS => left anti join (customers with no open orders; every
    // customer has SOME order in this data, so the plain variant is empty).
    "q28_customers_no_orders" -> { (s, dir) =>
      val c = read(s, dir, "customer")
      val o = read(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select("o_custkey").distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // INTERSECT / EXCEPT over yearly active-customer sets.
    "q29_setops_active" -> { (s, dir) =>
      val o = read(s, dir, "orders")
      def active(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey").as("custkey"))
      val both = active(1996).intersect(active(1997))
        .select(lit("both_96_97").as("tag"), col("custkey"))
      val only96 = active(1996).except(active(1997))
        .select(lit("only_96").as("tag"), col("custkey"))
      both.unionByName(only96).orderBy("tag", "custkey")
    },

    // CUBE over two dims: all grouping-set combinations (order status x
    // priority), incl. both marginals and the grand total.
    "q31_cube_status" -> { (s, dir) =>
      read(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority", "o_totalprice")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // Window over aggregate: each nation's share of its region's revenue —
    // grouped agg feeding a partitioned window, no self-join.
    "q32_revenue_share" -> { (s, dir) =>
      val li = spread(read(s, dir, "lineitem")) // q20's rationale: decimal-bound probe side
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      val byNation = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        // stay DECIMAL through the window sum — a double window-sum's value
        // depends on partition iteration order across engines
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue_dec"))
      val wr = Window.partitionBy("r_name")
      byNation
        .withColumn("region_dec", sum("revenue_dec").over(wr))
        .select(col("r_name"), col("n_name"),
          col("revenue_dec").cast("double").as("revenue"),
          round(col("revenue_dec").cast("double") / col("region_dec").cast("double"), 6).as("share"))
        .orderBy("r_name", "n_name")
    },

    // Conditional aggregation (pivot-style): one row per priority, order
    // counts fanned across status columns via filtered counts.
    "q33_status_pivot" -> { (s, dir) =>
      read(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
          count(lit(1)).as("n_total"))
        .orderBy("o_orderpriority")
    },

    // Multi-way dim chain: supplier -> nation -> region grouped avg balance.
    "q30_supplier_geo" -> { (s, dir) =>
      val sdf = read(s, dir, "supplier")
      val n = read(s, dir, "nation")
      val r = read(s, dir, "region")
      sdf.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
        .orderBy("r_name")
    },

    // Robust per-brand price outliers via MAD (median absolute deviation):
    // med = exact median price, mad = exact median of |x − med|, outlier ⇔
    // |x − med| > 3·mad — the robust-statistics counterpart of q94's
    // mean/stddev z-score (one far outlier can't inflate the threshold and
    // mask the rest). Exact-percentile machinery from q36 (Spark percentile
    // ≡ DuckDB quantile_cont, shared (n−1)·p lerp); two median passes are
    // inherent to MAD. Brand cardinality is tiny, so both median frames
    // broadcast back — the data makes three linear scans, never a wide
    // shuffle, and the deviation comparison is per-row fixed-order double
    // math (bit-identical cross-engine).
    "q115_mad_outliers" -> { (s, dir) =>
      val p = read(s, dir, "part")
        .select(col("p_brand").as("brand"), col("p_retailprice").cast("double").as("x"))
      val med = p.groupBy("brand").agg(expr("percentile(x, 0.5)").as("med"))
      val dev = p.join(broadcast(med), "brand")
        .withColumn("dev", abs(col("x") - col("med")))
      val mad = dev.groupBy("brand").agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "brand")
        .groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          round(max("med"), 6).as("med_price"),
          round(max("mad"), 6).as("mad"),
          sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
          round(max("dev"), 6).as("max_dev"))
        .orderBy("brand")
    },

    // TPC-H Q18 shape (large-volume orders): the grouped-HAVING semi-join —
    // aggregate the fact by order, keep orders above a volume threshold,
    // join order metadata back. The per-order agg is partial+final (shuffle
    // rows = #orders), the filter cuts it to the rare tail BEFORE the join
    // back, and the top-k is TakeOrdered — no global sort. Quantity sums
    // stay DECIMAL through the ORDER BY (exact tie semantics cross-engine);
    // only the emitted column casts to double.
    "q116_large_orders" -> { (s, dir) =>
      val big = read(s, dir, "lineitem") // spread() A/B'd +0.37 s AGAINST: the high-
        // cardinality l_orderkey partial agg barely collapses, so the spread
        // exchange just doubles the shuffled rows
        .groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).as("qty"))
        .filter(col("qty") > BIG_ORDER_QTY)
      read(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("qty"))
        .orderBy(col("qty").desc, col("o_orderkey"))
        .limit(100)
        .withColumn("total_qty", col("qty").cast("double")).drop("qty")
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // double-EXISTS decorrelation — "supplier's item was late AND another
    // supplier shares the order AND no OTHER supplier was late" — rewritten
    // as two keyed aggregates instead of two correlated subqueries: per
    // (order, supplier) any-late, per order supplier/late-supplier counts;
    // the filter (n_supp >= 2, n_late = 1) then reads both existences off
    // one frame. Lateness = shipped > 90 days after order date (this
    // schema's commit/receipt-date stand-in). All-integer counts; top-20
    // via TakeOrdered.
    "q117_waiting_suppliers" -> { (s, dir) =>
      val lo = read(s, dir, "lineitem") // spread() A/B'd +0.18 s AGAINST: the shared
        // l_orderkey repartition below re-exchanges everything anyway
        .join(read(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      // one shared exchange (guide §2.4): everything downstream — the
      // (orderkey, suppkey) aggregate, the per-order rollup, and the
      // osl⋈ord join — is keyed by l_orderkey, and HashPartitioning on
      // l_orderkey satisfies the clustered distribution of all three, so
      // establishing it once replaces three separate shuffles (the join
      // used to reshuffle BOTH derived sides)
      val osl = lo.repartition(col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("s_late"))
      val ord = osl.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("s_late"), 1L).otherwise(0L)).as("n_late"))
      osl.filter(col("s_late"))
        .join(ord, "l_orderkey")
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
        .limit(20)
    },

    // TPC-H Q22 shape (idle capital): customers whose balance beats the
    // positive-balance average AND who have no OPEN orders (q28's liveness
    // test), rolled up by nation. The two classic decorrelations in one
    // query: the correlated scalar subquery (avg) becomes a one-row
    // broadcast cross, and NOT EXISTS becomes a left-anti join. The
    // above-average test is exact cross-multiplication (bal·n_pos >
    // sum_pos, both DECIMAL) — no decimal DIVISION, whose result
    // scale/rounding differs across engines.
    "q127_idle_capital" -> { (s, dir) =>
      val cust = read(s, dir, "customer")
      val thr = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(dec(col("c_acctbal"))).as("sum_pos"), count(lit(1)).as("n_pos"))
      cust.crossJoin(broadcast(thr))
        .filter(dec(col("c_acctbal")) * col("n_pos") > col("sum_pos"))
        .join(read(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(read(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("n_name")
    },

    // Two unrolled PageRank iterations over the customer↔supplier trade
    // graph (who-bought-from-whom, both directions; suppliers offset to a
    // disjoint id space) — the ORACLE-CHECKED face of Graph.pageRank (the
    // open-ended loop, spec-verified, is the q73/q74↔lloydTrain pattern).
    // Ranks are scaled integers (B = 10¹² micro-units) under floor
    // division, so every engine computes bit-identical values — float
    // PageRank sums are partition-order-dependent, integer sums are not.
    // Each iteration is one keyed join + one keyed agg over edges (linear);
    // N and the teleport term ride a one-row broadcast cross (q113's
    // pattern). Symmetric construction ⇒ no dangling mass here; the
    // operator's full dangling model lives in Graph.pageRank.
    "q120_pagerank2" -> { (s, dir) =>
      val B = 1000000000000L
      // spread() A/B'd +0.17 s AGAINST here: the distinct() re-shuffles at once
      val pairs = read(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(read(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000L).as("p"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // deg joined ONCE and the (src, dst, outdeg) frame persisted — both
      // iterations re-read it instead of re-running the pair distinct +
      // degree join (measured 7.0 s -> the shared frame halves the joins)
      val withDeg = edges.join(deg, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nstat = withDeg.select(col("src").as("id")).distinct()
        .agg(count(lit(1)).as("nn"))
      val rank1 = withDeg.crossJoin(broadcast(nstat))
        .select(col("dst"), expr(s"(($B div nn) div outdeg)").as("contrib"), col("nn"))
        .groupBy("dst", "nn").agg(sum("contrib").as("s"))
        .select(col("dst").as("src"),
          expr(s"((15 * ($B div nn)) div 100) + ((85 * s) div 100)").as("r"))
      val rank2 = withDeg.join(rank1, "src")
        .select(col("dst"), expr("r div outdeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("s"))
        .crossJoin(broadcast(nstat))
        .select(col("dst").as("id"),
          expr(s"((15 * ($B div nn)) div 100) + ((85 * s) div 100)").as("rank_u"))
      rank2
        .withColumn("kind", when(col("id") >= 1000000L, "supplier").otherwise("customer"))
        .orderBy(col("rank_u").desc, col("id"))
        .limit(20)
    }
  )

  val oracles: Map[String, String] = Map(
    "q120_pagerank2" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |n AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS nn FROM edges),
        |c1 AS (SELECT e.dst, ((1000000000000 // nn) // outdeg) AS contrib, nn
        |  FROM edges e JOIN deg USING (src) CROSS JOIN n),
        |r1 AS (SELECT dst AS src,
        |    ((15 * (1000000000000 // nn)) // 100)
        |      + ((85 * CAST(sum(contrib) AS BIGINT)) // 100) AS r
        |  FROM c1 GROUP BY dst, nn),
        |c2 AS (SELECT e.dst, (r // outdeg) AS contrib
        |  FROM edges e JOIN deg USING (src) JOIN r1 USING (src)),
        |r2 AS (SELECT dst AS id,
        |    ((15 * (1000000000000 // nn)) // 100)
        |      + ((85 * CAST(sum(contrib) AS BIGINT)) // 100) AS rank_u
        |  FROM c2 CROSS JOIN n GROUP BY dst, nn)
        |SELECT id, rank_u,
        |  CASE WHEN id >= 1000000 THEN 'supplier' ELSE 'customer' END AS kind
        |FROM r2 ORDER BY rank_u DESC, id LIMIT 20""".stripMargin,

    "q127_idle_capital" ->
      """WITH thr AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_pos,
        |    CAST(count(*) AS BIGINT) AS n_pos
        |  FROM customer WHERE c_acctbal > 0.0),
        |rich AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        |  FROM customer c, thr
        |  WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * thr.n_pos > thr.sum_pos
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM rich JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q116_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > $BIG_ORDER_QTY)
         |SELECT o_custkey, o_orderkey, o_orderdate,
         |  CAST(qty AS DOUBLE) AS total_qty
         |FROM orders JOIN big ON o_orderkey = l_orderkey
         |ORDER BY qty DESC, o_orderkey LIMIT 100""".stripMargin,

    "q117_waiting_suppliers" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |osl AS (SELECT l_orderkey, l_suppkey, max(late) AS s_late
        |  FROM lo GROUP BY l_orderkey, l_suppkey),
        |ord AS (SELECT l_orderkey, count(*) AS n_supp,
        |    CAST(sum(CASE WHEN s_late THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM osl GROUP BY l_orderkey)
        |SELECT l_suppkey, count(*) AS numwait
        |FROM osl JOIN ord USING (l_orderkey)
        |WHERE s_late AND n_supp >= 2 AND n_late = 1
        |GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin,

    "q115_mad_outliers" ->
      """WITH p AS (SELECT p_brand AS brand, CAST(p_retailprice AS DOUBLE) AS x
        |  FROM part),
        |med AS (SELECT brand, quantile_cont(x, 0.5) AS med FROM p GROUP BY brand),
        |d AS (SELECT p.brand, p.x, med.med, abs(p.x - med.med) AS dev
        |  FROM p JOIN med USING (brand)),
        |mad AS (SELECT brand, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY brand)
        |SELECT d.brand, count(*) AS n_parts,
        |  round(max(d.med), 6) AS med_price,
        |  round(max(m.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(max(d.dev), 6) AS max_dev
        |FROM d JOIN mad m USING (brand)
        |GROUP BY d.brand ORDER BY d.brand""".stripMargin,

    "q20_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q21_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q22_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    // q137's oracle: the same join over the RAW parquet tables — the
    // bucketed warehouse round-trip and shuffle-free plan must change
    // nothing about the answer.
    "q137_bucketed_colocated_join" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q143's oracle: the same aggregate from the raw parquet, once per
    // phase — layout evolution must be answer-invisible in both states.
    "q143_spec_evolution_join" ->
      """WITH agg AS (
        |  SELECT o_orderpriority, count(*) AS n_items,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderpriority)
        |SELECT phase, o_orderpriority, n_items, sum_qty
        |FROM (VALUES ('mixed'), ('uniform')) p(phase) CROSS JOIN agg
        |ORDER BY phase, o_orderpriority""".stripMargin,

    // q146's oracle: the same global aggregates recomputed from the raw
    // parquet — a manifest-served bound that is stale, truncated, or in
    // the wrong domain is a direct hash miss.
    "q146_metadata_aggregates" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  min(l_orderkey) AS mn_key, max(l_orderkey) AS mx_key,
        |  min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
        |  min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty,
        |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship
        |FROM lineitem""".stripMargin,

    // q147's oracle: the published state must equal the direct CASE form
    // over the raw table (all orders, %10==4 rows price-doubled + status
    // 'W'), and the isolation probe must equal the even-key count — a torn
    // publish, leaked branch write, or dropped main commit is a hash miss.
    "q147_branch_wap" ->
      """SELECT CASE WHEN o_orderkey % 10 = 4 THEN 'W' ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 4 THEN CAST(o_totalprice * 2 AS DECIMAL(18,2)) ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS main_pre_publish
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q138's oracle: the same selectively-filtered star join over the RAW
    // parquet — runtime file pruning must be invisible to the answer.
    "q138_runtime_pruned_join" ->
      """SELECT l_returnflag,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q139's oracle: the positional-delete MOR read must equal a plain
    // WHERE NOT(predicate) over the raw table (NULL-predicate rows kept).
    "q139_positional_delete" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT coalesce(o_orderstatus = 'F' AND o_totalprice < 100000.0, FALSE)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q148's oracle: the atomically-CTAS'd table must equal the direct
    // aggregate over raw parquet, and the single-commit probe must be 1.
    "q148_atomic_ctas" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  1 AS n_commits
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q149's oracle: the stream-sunk upsert table must equal the
    // latest-state CASE form over raw orders (odd keys transformed).
    "q149_stream_sink_upsert" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN 'S' ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_totalprice * 3 AS DECIMAL(18,2)) ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q155's oracle: the prefix-pruned scan's grouped aggregate must equal
    // DuckDB's direct LIKE over raw parquet.
    "q155_prefix_prune" ->
      """SELECT substring(p_name, 1, 3) AS pfx, count(*) AS n,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM part WHERE p_name LIKE 'l%'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q154's oracle: manifest-folded grouped aggregates must equal DuckDB's
    // direct grouped aggregates over raw parquet.
    // q158's oracle: the incrementally refreshed stats' EXACT fields must
    // equal DuckDB's direct aggregates over ALL customers — a union that
    // lost rows, dropped a null, or clipped a length is a hash miss. The
    // incremental flag hardcodes 1: the window IS append-only by
    // construction, so a silent fallback also fails the gate.
    "q158_incremental_analyze" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS c_name,
        |    c_acctbal
        |  FROM customer)
        |SELECT '__rows' AS col, CAST(count(*) AS BIGINT) AS n, CAST(1 AS BIGINT) AS max_len FROM c
        |UNION ALL
        |SELECT 'c_acctbal', CAST(count(*) - count(c_acctbal) AS BIGINT), CAST(-1 AS BIGINT) FROM c
        |UNION ALL
        |SELECT 'c_custkey', CAST(count(*) - count(c_custkey) AS BIGINT), CAST(-1 AS BIGINT) FROM c
        |UNION ALL
        |SELECT 'c_name', CAST(count(*) - count(c_name) AS BIGINT),
        |  CAST(max(length(c_name)) AS BIGINT) FROM c
        |ORDER BY col""".stripMargin,

    // q157's oracle: the transform-grouped, manifest-served aggregate must
    // equal DuckDB's direct per-year fold over raw parquet.
    "q157_transform_grouped_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |  min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
        |  min(o_totalprice) AS mn_p, max(o_totalprice) AS mx_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q154_grouped_metadata_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  count(l_quantity) AS nq,
        |  CAST(min(l_orderkey) AS BIGINT) AS mn_key,
        |  CAST(max(l_orderkey) AS BIGINT) AS mx_key,
        |  min(l_quantity) AS mn_qty, max(l_quantity) AS mx_qty,
        |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q153's oracle: bloom-pruned point lookups must equal the direct md5
    // join over raw parquet (the 5 smallest keys' rows, exactly).
    "q153_bloom_point_lookup" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice,
        |             md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders),
        |k AS (SELECT h FROM t ORDER BY o_orderkey LIMIT 5)
        |SELECT t.o_orderkey, t.o_totalprice FROM t JOIN k USING (h)
        |ORDER BY o_orderkey""".stripMargin,

    // q152's oracle: top-k file pruning may only shrink IO — both
    // directions' top-100 must equal DuckDB's direct sort over raw orders.
    "q152_topk_prune" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
        |top AS (SELECT o_orderkey, o_totalprice, o_orderpriority, 'top' AS side
        |        FROM t ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
        |bottom AS (SELECT o_orderkey, o_totalprice, o_orderpriority, 'bottom' AS side
        |        FROM t ORDER BY o_totalprice ASC, o_orderkey LIMIT 100)
        |SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM bottom)
        |ORDER BY side, o_orderkey""".stripMargin,

    // q150's oracle: the view-served aggregate must equal the same
    // aggregate over ALL raw orders — including the half appended AFTER
    // the view was created.
    "q150_sql_view" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q140's oracle: the pending-delete MOR upsert read must equal the
    // latest-state CASE form over the raw table.
    "q140_mor_upsert" ->
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_totalprice * 2 AS DECIMAL(18,2)) ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q141's oracle: the pending-pairs MOR update read must equal the
    // latest-state CASE form over the raw table.
    "q141_mor_update" ->
      """SELECT CASE WHEN o_orderstatus = 'F' AND o_totalprice < 100000.0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' AND o_totalprice < 100000.0 THEN CAST(o_totalprice + 1000.0 AS DECIMAL(18,2)) ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q106_salted_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q104_grouping_sets" ->
      """SELECT CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS prio,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, status, prio""".stripMargin,

    "q37_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  lag(o_orderkey) OVER w AS prev_ok,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q35_referential_audit" ->
      """SELECT 'lineitem_orphans' AS check_name, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders_childless', CAST(count(*) AS BIGINT) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |UNION ALL
        |SELECT 'orders_orphan_cust', CAST(count(*) AS BIGINT) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |ORDER BY check_name""".stripMargin,

    "q34_small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_li,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue
        |FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pa.n_li < pa.sq
        |GROUP BY p.p_brand ORDER BY p_brand""".stripMargin,

    "q23_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q24_brand_stats" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q25_rollup_geo" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q26_running_spend" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q27_topk_per_brand" ->
      """SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY p_brand
        |    ORDER BY p_retailprice DESC, p_partkey ASC) AS rk FROM part)
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,

    "q28_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q29_setops_active" ->
      """WITH a96 AS (SELECT o_custkey AS custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996),
        |a97 AS (SELECT o_custkey AS custkey FROM orders WHERE extract(year FROM o_orderdate) = 1997)
        |SELECT 'both_96_97' AS tag, custkey FROM (SELECT custkey FROM a96 INTERSECT SELECT custkey FROM a97)
        |UNION ALL
        |SELECT 'only_96' AS tag, custkey FROM (SELECT custkey FROM a96 EXCEPT SELECT custkey FROM a97)
        |ORDER BY tag, custkey""".stripMargin,

    "q32_revenue_share" ->
      """WITH by_nation AS (
        |  SELECT r_name, n_name,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS revenue_dec
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, CAST(revenue_dec AS DOUBLE) AS revenue,
        |  round(CAST(revenue_dec AS DOUBLE) /
        |    CAST(sum(revenue_dec) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share
        |FROM by_nation ORDER BY r_name, n_name""".stripMargin,

    "q33_status_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (o_orderstatus = 'P') AS n_p,
        |  count(*) AS n_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q31_cube_status" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q30_supplier_geo" ->
      """SELECT r_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin
  )
}
