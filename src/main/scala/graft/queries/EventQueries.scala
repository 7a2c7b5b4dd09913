package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import Tables._

/** Event-stream surface over the `events` table (FIXTURES.md §B): JSON
  * property extraction, tumbling event-time windows, gap-based
  * sessionization, and per-type stats — the batch duals of the Structured
  * Streaming jobs in `graft.streaming` (same logical plans, streaming adds
  * watermarks + state).
  *
  * `events.ts` is ns-precision parquet; values are µs-exact, and outputs
  * emit only truncated timestamps so both engines hash identically.
  */
object EventQueries {

  /** `events.ts` is TIMESTAMP(NANOS) parquet, surfaced as long nanos under
    * the legacy `nanosAsLong` flag (set by Verify/Bench/tests) and
    * normalized here (shared logic: SchemaOps.normalizeNanos).
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.schema.SchemaOps.normalizeNanos(read(s, dir, "events"), Seq("ts"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // get_json_object over the props JSON column (engine side); the oracle
    // extracts the same value by regex so it never depends on a DuckDB
    // extension being loadable offline.
    "q40_json_kpis" -> { (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("event_type")
    },

    // Tumbling 1-hour event-time windows (batch dual of
    // groupBy(window($"ts", "1 hour")) — date_trunc is the oracle-stable
    // window-start form).
    "q41_hourly_windows" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour", "event_type")
    },

    // Gap-based sessionization (30-min inactivity): lag -> new-session flag ->
    // running session id -> per-session rollup. Batch dual of
    // session_window / flatMapGroupsWithState.
    "q42_sessions" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull, 0)
            .when(unix_micros(col("ts").cast("timestamp")) - col("prev_us") > gapUs, 1)
            .otherwise(0))
        .withColumn("sid", sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("session_value"),
          (max(unix_micros(col("ts").cast("timestamp"))) -
            min(unix_micros(col("ts").cast("timestamp")))).as("duration_us"))
        .orderBy("user_id", "sid")
    },

    // Per-type stats with a deterministic stddev: exact decimal sums feed one
    // double sqrt — identical in both engines, unlike double-accumulated
    // stddev_samp.
    "q43_event_stats" -> { (s, dir) =>
      val v = dec(col("value"))
      events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"),
          min("value").as("min_value"),
          max("value").as("max_value"),
          sum(v * v).cast("double").as("sum_sq"))
        .withColumn("stddev",
          sqrt((col("sum_sq") - col("sum_value") * col("sum_value") / col("n")) / (col("n") - 1)))
        .drop("sum_sq")
        .orderBy("event_type")
    },

    // AS-OF join: for every purchase, the user's latest click at-or-before
    // it. Spark has no asof operator; the Spark-first composition is a
    // union + keyed ordered window carrying the last click forward — ONE
    // shuffle on user_id, no inequality join (which would plan as a
    // nested-loop at scale). DuckDB's native ASOF JOIN is the oracle.
    // Tie caveat: two clicks of one user at an identical µs would be an
    // unspecified pick in DuckDB vs largest-event_id here (none in data).
    "q45_asof_click_purchase" -> { (s, dir) =>
      val e = events(s, dir).select("event_id", "ts", "user_id", "event_type")
        .filter(col("event_type").isin("click", "purchase"))
      // clicks sort before purchases at identical ts (asof is <=)
      val tagged = e.withColumn("is_click", (col("event_type") === "click").cast("int"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("is_click").desc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_click_id",
          last(when(col("is_click") === 1, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("last_click_us",
          last(when(col("is_click") === 1, unix_micros(col("ts").cast("timestamp"))),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("last_click_id").as("click_id"),
          (unix_micros(col("ts").cast("timestamp")) - col("last_click_us")).as("gap_us"))
        .orderBy("purchase_id")
    },

    // Ordered funnel conversion (view -> click -> purchase): a user advances
    // a stage only with an event STRICTLY AFTER their previous stage's first
    // qualifying event — the classic product-analytics funnel. Each stage is
    // a keyed min-agg plus an equi-join on user_id (linear, shuffle on the
    // user key; no window over the full stream), and the 3-row stage frame
    // gets its conversion ratios from a lag over itself.
    "q87_funnel" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1")).groupBy("user_id").agg(min("ts").as("t2"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2")).groupBy("user_id").agg(min("ts").as("t3"))
      val stages = v.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("stage"), lit("view").as("step"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit(2).as("stage"), lit("view>click").as("step"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit(3).as("stage"), lit("view>click>purchase").as("step"), col("n_users")))
      val w = Window.orderBy("stage")
      stages
        .withColumn("conversion",
          coalesce(round(col("n_users").cast("double") / lag("n_users", 1).over(w), 6),
            lit(1.0)))
        .orderBy("stage")
    },

    // Retention cohort matrix: users grouped by first-seen day, counted on
    // each later active day as an offset — the activation/retention view
    // every events warehouse ships. Distinct (user, day) first (collapses
    // the stream to bounded user-days), then one keyed join against the
    // per-user first day.
    "q88_retention" -> { (s, dir) =>
      val d = events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct()
      val first = d.groupBy("user_id").agg(min("day").as("cohort_day"))
      d.join(first, "user_id")
        .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // Behavioral path analysis: the first-order Markov transition matrix of
    // per-user event sequences — counts and per-source probabilities of
    // each (event_type -> next event_type) step. One per-user ordered lead
    // window (keyed by user, never a global sort), then a tiny
    // (types x types) aggregate; probabilities are exact count ratios
    // (n / row-total) rounded once.
    "q89_transitions" -> { (s, dir) =>
      val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wSrc = Window.partitionBy("event_type")
      events(s, dir)
        .withColumn("next_type", lead("event_type", 1).over(wUser))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") / sum("n").over(wSrc), 6))
        .orderBy("event_type", "next_type")
    },

    // Calendar-spine gap filling: daily purchase revenue with missing days
    // zero-filled and a running cumulative — the time-series completion a
    // dashboard needs when "no rows" must read as "zero", not "absent".
    // The spine is generated (bounds agg → sequence → explode), never
    // stored; the daily frame joins onto it. The cumulative runs
    // unpartitioned, which is fine ONLY because the spine is calendar-sized
    // (days, not rows) — documented exception to the no-global-window rule.
    "q38_gap_fill" -> { (s, dir) =>
      val bounds = events(s, dir)
        .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
      val spine = bounds.select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val daily = events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("rev"), count(lit(1)).as("n"))
      val w = Window.orderBy("day")
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("rev").cast("double"), lit(0.0)).as("rev"),
          coalesce(col("n"), lit(0L)).as("n"),
          sum(coalesce(col("rev"), lit(0))).over(w).cast("double").as("cum_rev"))
        .orderBy("day")
    },

    // PII-style scrubbing: mask digit runs in the props payload and audit
    // how much was redacted, per event type. Pure per-row regex column
    // expressions (codegen'd, zero shuffle until the 5-row aggregate) —
    // the shape of a 100 TB redaction pass: scan, rewrite, count.
    "q90_props_redaction" -> { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          regexp_count(col("props"), lit("[0-9]+")).as("nr"),
          (length(col("props"))
            - length(regexp_replace(col("props"), "[0-9]", ""))).as("nd"),
          regexp_replace(col("props"), "[0-9]+", "#").as("masked"))
        .groupBy("event_type")
        .agg(sum("nr").as("n_redactions"),
          sum("nd").as("n_digit_chars"),
          min("masked").as("sample_masked"))
        .orderBy("event_type")
    },

    // Long-to-wide pivot: per-day event counts, one column per event type.
    // The pivot value list is pinned (no extra distinct pass to discover
    // it); absent cells surface as 0, not null, so the wide frame is
    // directly consumable.
    "q91_daily_pivot" -> { (s, dir) =>
      val types = Seq("view", "click", "purchase", "signup", "error")
      val wide = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types).count()
      wide.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    },

    // Wide-to-long UNPIVOT (q91's inverse): the melt step feature pipelines
    // run before per-metric processing. Spark's native unpivot expands to a
    // zero-shuffle Expand projection — 3 rows out per row in, no join.
    "q101_unpivot" -> { (s, dir) =>
      val types = Seq("view", "click", "purchase")
      val wide = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types).count()
        .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      wide.unpivot(Array(col("day")), types.map(col).toArray, "etype", "n")
        .orderBy("day", "etype")
    },

    // Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (q29 covers the DISTINCT forms). Spark's
    // intersectAll/exceptAll plan as counted hash aggregates + a generate —
    // never a pairwise join — so multiplicity math costs one shuffle per
    // side. Output is the per-user multiplicity of each op, tagged.
    "q102_setops_all" -> { (s, dir) =>
      val p = events(s, dir).filter(col("event_type") === "purchase").select("user_id")
      val e = events(s, dir).filter(col("event_type") === "error").select("user_id")
      def m(df: org.apache.spark.sql.DataFrame, op: String) =
        df.groupBy("user_id").agg(count(lit(1)).as("multiplicity"))
          .select(lit(op).as("op"), col("user_id"), col("multiplicity"))
      m(p.intersectAll(e), "intersect_all")
        .unionByName(m(p.exceptAll(e), "except_all"))
        .orderBy("op", "user_id")
    },

    // Top-3 revenue days per type INCLUDING ties — rank(), not row_number():
    // ties share a rank and all qualify, so the result is stable under any
    // tie-order (no tiebreak column needed for determinism).
    "q103_rank_ties" -> { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy(col("rev").desc)
      events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("rev"))
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("day"), col("rev").cast("double").as("rev"), col("rk"))
        .orderBy("event_type", "rk", "day")
    },

    // Trailing 7-day moving average of per-user daily purchase spend: one
    // keyed aggregate to daily grain, then a RANGE window frame (-6..0 on
    // the day number) — never a self-join, never a global sort. Spend sums
    // in exact DECIMAL; the single sum/count division is the only double op.
    "q92_moving_avg" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("day_num").rangeBetween(-6, 0)
      events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_num"))
        .agg(sum(dec(col("value"))).as("spend"))
        .select(col("user_id"), col("day_num"),
          round(sum(col("spend")).over(w).cast("double") / count(lit(1)).over(w), 6)
            .as("ma7"))
        .orderBy("user_id", "day_num")
    },

    // CUBE over (event_type x day-of-month): all four grouping-set margins
    // in one pass (Spark expands to a single Expand + hash aggregate, not
    // four scans). Day-of-month is the one calendar part with identical
    // numbering in both engines (dow conventions differ); event_type is
    // non-null in this table so the ALL sentinel is unambiguous.
    "q93_cube_day_type" -> { (s, dir) =>
      events(s, dir)
        .withColumn("dom", dayofmonth(col("ts")).cast("long"))
        .cube(col("event_type"), col("dom"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dom").cast("string"), lit("ALL")).as("dom"),
          col("n"), col("total"))
        .orderBy("etype", "dom")
    },

    // Rolling 7-day exact MEDIAN of daily purchase revenue — an ordered-set
    // aggregate evaluated over a window frame (q92's moving average needs
    // only a running sum; a rolling median re-sorts each frame). Frames are
    // ≤7 rows on the calendar-sized daily grain, so the per-frame sort is
    // O(1); inputs to the interpolation are the DECIMAL-exact daily sums
    // cast once to double, identical in both engines.
    "q111_rolling_median" -> { (s, dir) =>
      val w = Window.orderBy("day_num").rangeBetween(-6, 0)
      events(s, dir).filter(col("event_type") === "purchase")
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
        .agg(sum(dec(col("value"))).cast("double").as("rev"))
        .select(col("day_num"),
          round(expr("percentile(rev, 0.5)").over(w), 6).as("med7"))
        .orderBy("day_num")
    },

    // Grouped ordinary least squares — value regressed on the props k, per
    // type — with ALL moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulated in
    // integer/DECIMAL arithmetic: slope, intercept, and r² are RATIONAL in
    // the moments (no sqrt, no float mean), so each is one fixed-order
    // double expression over exact inputs — bit-identical cross-engine.
    // The scan-side shape of distributed regression: one pass, six
    // decomposable sums, model math on the 5-row moment frame.
    "q112_group_regression" -> { (s, dir) =>
      val moments = events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("x"),
          dec(col("value")).as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x").cast(DecimalType(18, 2)) * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val dx = col("n") * col("sxx") - col("sx") * col("sx")
      val slopeRaw = num.cast("double") / dx.cast("double")
      moments
        .withColumn("slope_raw", slopeRaw)
        .select(col("event_type"), col("n"),
          round(col("slope_raw"), 6).as("slope"),
          round((col("sy").cast("double") - col("slope_raw") * col("sx").cast("double"))
            / col("n").cast("double"), 6).as("intercept"),
          round(num.cast("double") * num.cast("double")
            / (dx.cast("double") * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("r2"))
        .orderBy("event_type")
    },

    // Spark's NATIVE session_window (q42 is the hand-rolled lag/cumsum
    // form): one SessionWindowing aggregate, no window functions at all.
    // Boundary semantics differ from q42 by design — native merges while
    // gap < 30min STRICTLY (end-exclusive), q42's manual form keeps
    // exactly-30min gaps together — so this query carries its own oracle
    // written to the native rule (diff >= gap ⇒ new session).
    "q110_native_sessions" -> { (s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts").cast("timestamp"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
        .select(col("user_id"), col("w.start").as("w_start"), col("w.end").as("w_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "w_start")
    },

    // Time-to-convert distribution: minutes from first view to first
    // LATER purchase per user (q87's stage-1→3 edge), summarized with
    // exact percentiles (q36's machinery). Two keyed min-aggs + one
    // equi-join; the µs→minute division stays integer until the final
    // percentile interpolation.
    "q109_time_to_convert" -> { (s, dir) =>
      val ev = events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      v.join(p, "user_id")
        .select((unix_micros(col("t2").cast("timestamp"))
          - unix_micros(col("t1").cast("timestamp"))).as("us"))
        .select(expr("us div 60000000").as("mins")) // integer div, like DuckDB //
        .agg(count(lit(1)).as("n_converted"),
          min("mins").as("fastest_min"),
          round(expr("percentile(CAST(mins AS DOUBLE), 0.5)"), 6).as("med_min"),
          round(expr("percentile(CAST(mins AS DOUBLE), 0.9)"), 6).as("p90_min"),
          max("mins").as("slowest_min"))
    },

    // Market-basket analysis over behavioral sessions: which event types
    // co-occur in the same q42 session more than chance (exact-integer
    // lift, q86's collocation algebra at session grain). The pair join is
    // keyed on (user, session) — fan-out bounded by types-per-session
    // (≤5), never a cross of the stream; n_sessions rides in as a one-row
    // broadcast.
    "q108_session_baskets" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      val st = events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_us").isNull, 0L)
            .when(unix_micros(col("ts").cast("timestamp")) - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("new_s").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "sid", "event_type").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK) // 3 consumers: n, type counts, pairs
      val n = st.select("user_id", "sid").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val tc = st.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val pairs = st.select(col("user_id"), col("sid"), col("event_type").as("t1"))
        .join(st.select(col("user_id"), col("sid"), col("event_type").as("t2")),
          Seq("user_id", "sid"))
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(tc.select(col("event_type").as("t1"), col("n_t").as("n_t1"))), Seq("t1"))
        .join(broadcast(tc.select(col("event_type").as("t2"), col("n_t").as("n_t2"))), Seq("t2"))
        .crossJoin(broadcast(n))
        .select(col("t1"), col("t2"), col("n_ab"),
          round(col("n_ab").cast("double") * col("n_sessions").cast("double")
            / (col("n_t1").cast("double") * col("n_t2").cast("double")), 6).as("lift"))
        .orderBy("t1", "t2")
    },

    // The salted two-phase aggregation (functions/Skew) under the oracle
    // gate: the salt is runtime-nondeterministic (partition id + row id),
    // but the DECIMAL partial-sum fold is associative-exact and min/max/
    // count are order-free, so the RESULT is deterministic and must equal
    // the plain GROUP BY bit-for-bit — which is the whole point of the
    // rewrite being safe to apply to a hot key.
    "q105_salted_agg" -> { (s, dir) =>
      val prep = events(s, dir).select(col("event_type"),
        dec(col("value")).as("sum_value"), col("value").as("lo"), col("value").as("hi"))
      graft.functions.Skew.saltedAgg(prep, "event_type",
          sums = Seq("sum_value"), buckets = 16, mins = Seq("lo"), maxs = Seq("hi"))
        .select(col("event_type"), col("sum_value").cast("double").as("sum_value"),
          col("lo"), col("hi"), col("n"))
        .orderBy("event_type")
    },

    // Exact percentiles (median + p90) per type — the EXACT counterpart of
    // q44's sketches, for when the group count is small enough to afford a
    // per-group sort. Spark's percentile() and DuckDB's quantile_cont share
    // the (n−1)·p linear-interpolation definition; value is 2-decimal so
    // the lerp is well away from round-6 boundaries.
    "q36_exact_percentiles" -> { (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy("event_type")
    },

    // Gaps-and-islands: maximal runs of consecutive same-type events per
    // user (burst/loop detection). Both windows share the user_id partition
    // key so Spark computes them off ONE shuffle: a lag change-flag, then a
    // running sum to number the islands — never the rn−rnt double-window
    // trick (which would shuffle twice on different keys). The oracle uses
    // rn−rnt, so the two formulations verify each other.
    "q98_type_runs" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("chg",
          when(lag("event_type", 1).over(w) === col("event_type"), 0L).otherwise(1L))
        .withColumn("grp", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "event_type", "grp")
        .agg(count(lit(1)).as("run_len"),
          min("event_id").as("first_event"), max("event_id").as("last_event"))
        .filter(col("run_len") >= 3)
        .select(col("user_id"), col("event_type"), col("run_len"),
          col("first_event"), col("last_event"))
        .orderBy("user_id", "first_event")
    },

    // RANGE join, bucket-blocked: errors within 60s after any purchase.
    // A naive inequality join plans as a nested loop; bucketing time into
    // 60s cells and exploding one side to (cell, cell+1) turns it into an
    // equi-join on the cell key — the only range-join shape that survives
    // 100 TB. Exact range predicate re-checked after the join.
    "q46_range_purchase_errors" -> { (s, dir) =>
      val winUs = 60000000L
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("us").as("us_p"),
          expr(s"us div $winUs").as("cell_p"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("us").as("us_e"),
          expr(s"us div $winUs").as("cell"))
      p.withColumn("cell", explode(array(col("cell_p"), col("cell_p") + 1)))
        .join(e, "cell")
        .filter(col("us_e") >= col("us_p") && col("us_e") - col("us_p") <= winUs)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_errors"),
          min(col("us_e") - col("us_p")).as("min_gap_us"))
        .orderBy("purchase_id")
    },

    // Sliding event-time windows (30 min, slide 15): Spark's native
    // window(); the oracle enumerates the two candidate window starts per
    // event explicitly.
    "q47_sliding_windows" -> { (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts").cast("timestamp"), "30 minutes", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("w_start", "event_type")
    },

    // Sketch surface: HLL distinct + approximate percentiles. Raw sketch
    // values differ across engines, so the query emits the EXACT values plus
    // within-documented-error booleans: HLL within 3x the default relativeSD
    // (0.05), percentile_approx(accuracy=1000) within 1% rank error. The
    // oracle reproduces the exact values and asserts literal TRUE for each
    // bound — an out-of-bounds sketch hash-mismatches instead of being
    // permanently unverified.
    "q44_approx_sketches" -> { (s, dir) =>
      val ev = events(s, dir).select(col("event_type"), col("user_id"),
        col("value").cast("double").as("value"))
      val sk = ev.groupBy("event_type").agg(
        approx_count_distinct(col("user_id")).as("au"),
        countDistinct(col("user_id")).as("exact_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95"))
      ev.join(broadcast(sk), "event_type")
        .groupBy("event_type")
        .agg(max(col("au")).as("au"), max(col("exact_users")).as("exact_users"),
          count(lit(1)).as("n"),
          sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") <  col("p50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("p95"), 1L).otherwise(0L)).as("le95"),
          sum(when(col("value") <  col("p95"), 1L).otherwise(0L)).as("lt95"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("au") - col("exact_users")) <= col("exact_users") * 0.15)
            .as("hll_within_bounds"),
          (col("le50") >= col("n") * 0.49 && col("lt50") <= col("n") * 0.51)
            .as("p50_within_bounds"),
          (col("le95") >= col("n") * 0.94 && col("lt95") <= col("n") * 0.96)
            .as("p95_within_bounds"))
        .orderBy("event_type")
    },

    // q40's KPIs served from PARSE-ONCE VARIANT storage instead of a
    // per-query JSON string parse: props is `parse_json`'d ONCE at ingest
    // into a warehouse VARIANT column (written SHREDDED — typed parquet
    // subcolumns), and the query keeps its string-era `get_json_object`
    // face, which [[graft.catalog.VariantJsonCompatRule]] resolves to
    // `variant_get::string` and Spark's variant pushdown moves INTO the
    // scan — the extraction decodes ONE shredded leaf column, zero JSON
    // text touched at query time (plan-asserted in VariantStoreSpec; the
    // 100 TB shape for semi-structured analytics: events.props is read
    // thousands of times per parse). Oracle: identical to q40's — same
    // values, storage is invisible to the answer.
    "q167_variant_kpis" -> { (s, dir) =>
      import graft.sink.Warehouse
      val ev = events(s, dir)
        .select(col("event_type"), parse_json(col("props")).as("props"))
      val whDir = java.nio.file.Files.createTempDirectory("graft-q167")
      val wh = new Warehouse(s, whDir.toString)
      try {
        wh.create("events_v", ev.schema)
        wh.append("events_v", ev)
        wh.load("events_v")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("k").as("sum_k"),
            min("k").as("min_k"),
            max("k").as("max_k"))
          .orderBy("event_type")
          .localCheckpoint()
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(whDir).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    },

    // Variant-path FILE PRUNING (VariantStats + ManifestPruneRule): the
    // corpus is range-clustered by the EXTRACTED JSON field and the
    // declared `vget(props,$.k,long)` stat key records each file's bounds
    // of that extraction — a `variant_get` range predicate then plans
    // O(matching files), the piece shredded storage alone can't provide
    // (VariantPruneSpec asserts the file/segment skip counts; here the
    // oracle gates the VALUES, so an unsound prune that drops a matching
    // file is a hash miss, not just a slow plan). The 100 TB shape:
    // "events where props.k in a band" stops reading the 90% of a
    // k-clustered table outside the band.
    "q168_variant_prune_scan" -> { (s, dir) =>
      val wh = stableWarehouse(s, "gq168")
      try {
        val ev = events(s, dir)
          .select(col("event_id"), col("event_type"), parse_json(col("props")).as("props"))
          .repartitionByRange(16, variant_get(col("props"), "$.k", "long"))
        wh.create("events_v", ev.schema)
        wh.append("events_v", ev, statsCols = Seq("vget(props,$.k,long)"))
        s.sql("REFRESH TABLE gq168.events_v")
        s.sql(
          """SELECT event_type, count(*) AS n,
            |  CAST(sum(variant_get(props, '$.k', 'long')) AS BIGINT) AS sum_k,
            |  min(event_id) AS first_event
            |FROM gq168.events_v
            |WHERE variant_get(props, '$.k', 'long') BETWEEN 10 AND 19
            |GROUP BY event_type ORDER BY event_type""".stripMargin)
          .localCheckpoint()
      } finally wipe(stableRoot("gq168"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q167_variant_kpis" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS min_k,
        |  max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q168_variant_prune_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(event_id) AS first_event
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) BETWEEN 10 AND 19
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q40_json_kpis" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS min_k,
        |  max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q41_hourly_windows" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q42_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, sid, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,

    "q45_asof_click_purchase" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,

    "q89_transitions" ->
      """WITH seq AS (
        |  SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (SELECT event_type, next_type, count(*) AS n FROM seq
        |  WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
        |SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM t ORDER BY event_type, next_type""".stripMargin,

    "q38_gap_fill" ->
      """WITH bounds AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM bounds),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, sum(CAST(value AS DECIMAL(18,2))) AS rev,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type = 'purchase' GROUP BY day)
        |SELECT s.day, coalesce(CAST(d.rev AS DOUBLE), 0.0) AS rev,
        |  coalesce(d.n, 0) AS n,
        |  CAST(sum(coalesce(d.rev, 0)) OVER (ORDER BY s.day) AS DOUBLE) AS cum_rev
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin,

    "q90_props_redaction" ->
      """SELECT event_type,
        |  CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_redactions,
        |  CAST(sum(length(props)
        |    - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS n_digit_chars,
        |  min(regexp_replace(props, '[0-9]+', '#', 'g')) AS sample_masked
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q91_daily_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "q101_unpivot" ->
      """WITH wide AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |    CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase
        |  FROM events GROUP BY day)
        |SELECT day, etype, n FROM wide
        |UNPIVOT (n FOR etype IN (view, click, purchase))
        |ORDER BY day, etype""".stripMargin,

    "q102_setops_all" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id FROM events WHERE event_type = 'error'),
        |i AS (SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM e),
        |x AS (SELECT user_id FROM p EXCEPT ALL SELECT user_id FROM e)
        |SELECT 'intersect_all' AS op, user_id,
        |  CAST(count(*) AS BIGINT) AS multiplicity FROM i GROUP BY user_id
        |UNION ALL
        |SELECT 'except_all', user_id, CAST(count(*) AS BIGINT) FROM x GROUP BY user_id
        |ORDER BY op, user_id""".stripMargin,

    "q103_rank_ties" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  sum(CAST(value AS DECIMAL(18,2))) AS rev FROM events GROUP BY 1, 2)
        |SELECT event_type, day, CAST(rev AS DOUBLE) AS rev, rk FROM (
        |  SELECT *, rank() OVER (PARTITION BY event_type ORDER BY rev DESC) AS rk
        |  FROM d)
        |WHERE rk <= 3 ORDER BY event_type, rk, day""".stripMargin,

    "q92_moving_avg" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
        |    sum(CAST(value AS DECIMAL(18,2))) AS spend
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, 2)
        |SELECT user_id, day_num,
        |  round(CAST(sum(spend) OVER w AS DOUBLE) / count(*) OVER w, 6) AS ma7
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day_num""".stripMargin,

    "q111_rolling_median" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY day_num)
        |SELECT day_num, round(quantile_cont(rev, 0.5) OVER (ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
        |FROM daily ORDER BY day_num""".stripMargin,

    "q112_group_regression" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, sum(y) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx,
        |    sum(CAST(x AS DECIMAL(18,2)) * y) AS sxy,
        |    sum(y*y) AS syy
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |    - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
        |  round(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
        |    / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
        |FROM s ORDER BY event_type""".stripMargin,

    "q110_native_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS w_start, max(ts) + INTERVAL 30 MINUTE AS w_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, w_start""".stripMargin,

    "q109_time_to_convert" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t1 GROUP BY e.user_id),
        |d AS (SELECT (epoch_us(p.t2) - epoch_us(v.t1)) // 60000000 AS mins
        |  FROM v JOIN p ON v.user_id = p.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  min(mins) AS fastest_min,
        |  round(quantile_cont(CAST(mins AS DOUBLE), 0.5), 6) AS med_min,
        |  round(quantile_cont(CAST(mins AS DOUBLE), 0.9), 6) AS p90_min,
        |  max(mins) AS slowest_min
        |FROM d""".stripMargin,

    "q108_session_baskets" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 0
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM marked),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        |n AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions FROM st),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.n_ab,
        |  round(CAST(p.n_ab AS DOUBLE) * CAST(n.n_sessions AS DOUBLE)
        |    / (CAST(c1.n_t AS DOUBLE) * CAST(c2.n_t AS DOUBLE)), 6) AS lift
        |FROM pairs p JOIN tc c1 ON c1.event_type = p.t1
        |  JOIN tc c2 ON c2.event_type = p.t2 CROSS JOIN n
        |ORDER BY t1, t2""".stripMargin,

    "q105_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS lo, max(value) AS hi, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q36_exact_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med,
        |  round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q98_type_runs" ->
      """WITH seq AS (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rnt
        |  FROM events)
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS run_len,
        |  min(event_id) AS first_event, max(event_id) AS last_event
        |FROM seq GROUP BY user_id, event_type, rn - rnt
        |HAVING count(*) >= 3
        |ORDER BY user_id, first_event""".stripMargin,

    "q93_cube_day_type" ->
      """SELECT coalesce(event_type, 'ALL') AS etype,
        |  coalesce(CAST(day(CAST(ts AS DATE)) AS VARCHAR), 'ALL') AS dom,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY CUBE(event_type, day(CAST(ts AS DATE)))
        |ORDER BY etype, dom""".stripMargin,

    "q87_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id),
        |st AS (
        |  SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM v
        |  UNION ALL SELECT 2, 'view>click', count(*) FROM c
        |  UNION ALL SELECT 3, 'view>click>purchase', count(*) FROM p)
        |SELECT stage, step, CAST(n_users AS BIGINT) AS n_users,
        |  coalesce(round(CAST(n_users AS DOUBLE)
        |    / lag(n_users) OVER (ORDER BY stage), 6), 1.0) AS conversion
        |FROM st ORDER BY stage""".stripMargin,

    "q88_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""".stripMargin,

    "q46_range_purchase_errors" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_errors,
        |  min(epoch_us(e.ts) - epoch_us(p.ts)) AS min_gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON epoch_us(e.ts) >= epoch_us(p.ts)
        | AND epoch_us(e.ts) - epoch_us(p.ts) <= 60000000
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin,

    "q47_sliding_windows" ->
      """SELECT w_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT make_timestamp(t.s) AS w_start, event_type, value
        |  FROM events,
        |    unnest([(epoch_us(ts) // 900000000) * 900000000,
        |            (epoch_us(ts) // 900000000) * 900000000 - 900000000]) AS t(s))
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,

    "q43_event_stats" ->
      """SELECT event_type, n, n_users, sum_value, min_value, max_value,
        |  sqrt((sum_sq - sum_value * sum_value / n) / (n - 1)) AS stddev
        |FROM (
        |  SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |    min(value) AS min_value, max(value) AS max_value,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_sq
        |  FROM events GROUP BY event_type)
        |ORDER BY event_type""".stripMargin,

    // Exact distinct counts + literal TRUE per sketch bound: the engine side
    // computes whether each sketch landed within its documented error; a
    // violation flips a boolean and hash-mismatches here.
    "q44_approx_sketches" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  true AS hll_within_bounds,
        |  true AS p50_within_bounds,
        |  true AS p95_within_bounds
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
