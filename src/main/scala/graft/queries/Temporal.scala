package graft.queries

import graft.{QueryModule, Tables}
import graft.ops.Parity.{dec, dec19, fix6, ln6, snap6}
import graft.ops.Stats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal functions (SURVEY.md §2.9 temporal rows) — the reference
  * implements `hour` (scalar.rs:267) and declares ~25 date/time stubs
  * (scalar.rs:205-215, 261-263, 331-344, 459-462, 490-494: date_add,
  * date_trunc, datediff, year/month/quarter/minute/second,
  * months_between, unix_timestamp, …). All are Spark builtins evaluated
  * over orders.o_orderdate (dates) and events.ts (µs timestamps).
  *
  * Cross-engine pins: Spark dayofweek is 1=Sunday vs DuckDB 0=Sunday
  * (+1 in the oracle); Spark months_between uses the 31-day-denominator
  * rule, spelled out as a CASE in the oracle; epoch seconds are floored
  * (not rounded) to match unix_timestamp's truncation.
  */
object Temporal extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // calendar fields + date arithmetic over order dates.
    // narrow-sort-then-derive (the q50 §2.3 shape): o_orderkey is the
    // orders PK, so sorting the 2-column input first and deriving the
    // 19 calendar fields after the range exchange is order- and
    // byte-identical while shuffling ~1/6 the bytes.
    "q40_temporal_date" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
        .withColumn("dt", to_date(col("o_orderdate")))
        .select(
          col("o_orderkey"),
          col("dt"),
          year(col("dt")).as("t_year"),
          quarter(col("dt")).as("t_quarter"),
          month(col("dt")).as("t_month"),
          dayofmonth(col("dt")).as("t_day"),
          dayofweek(col("dt")).as("t_dow"),
          dayofyear(col("dt")).as("t_doy"),
          weekofyear(col("dt")).as("t_week"),
          date_add(col("dt"), 30).as("t_add30"),
          date_sub(col("dt"), 7).as("t_sub7"),
          add_months(col("dt"), 2).as("t_addm"),
          datediff(lit("1998-01-01").cast("date"), col("dt")).as("t_diff"),
          date_trunc("month", col("dt")).cast("date").as("t_trunc_m"),
          trunc(col("dt"), "year").as("t_trunc_y"),
          last_day(col("dt")).as("t_lastday"),
          next_day(col("dt"), "Monday").as("t_nextmon"),
          months_between(lit("1998-01-01").cast("date"), col("dt")).as("t_mb"),
          make_date(year(col("dt")), month(col("dt")), dayofmonth(col("dt")))
            .as("t_remake"),
          date_format(col("dt"), "yyyy-MM-dd").as("t_fmt"))),

    // time-of-day fields + epoch round-trips over event timestamps.
    "q41_temporal_time" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("ts"))
        .orderBy(col("event_id"))
        .select(
          col("event_id"),
          col("ts"),
          hour(col("ts")).as("t_hour"),
          minute(col("ts")).as("t_minute"),
          second(col("ts")).as("t_second"),
          unix_timestamp(col("ts")).as("t_epoch_s"),
          timestamp_micros(unix_micros(col("ts"))).as("t_us_roundtrip"),
          date_trunc("hour", col("ts")).as("t_trunc_h"),
          date_trunc("minute", col("ts")).as("t_trunc_min"),
          to_date(col("ts")).as("t_date"),
          datediff(col("ts"), lit("2024-01-01").cast("date")).as("t_days_since"))),

    // timezone conversions (reference stubs from_utc_timestamp
    // scalar.rs:263, to_utc_timestamp :462): wall-clock shifts through
    // IANA zones plus the from_unixtime seconds-format round-trip. Both
    // engines resolve zones from the same IANA tzdb, so DST-straddling
    // event timestamps convert identically.
    "q42_temporal_tz" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          from_utc_timestamp(col("ts"), "America/New_York").as("t_from_utc"),
          to_utc_timestamp(col("ts"), "America/New_York").as("t_to_utc"),
          from_utc_timestamp(col("ts"), "Asia/Tokyo").as("t_tokyo"),
          hour(from_utc_timestamp(col("ts"), "America/New_York")).as("t_hour_ny"),
          expr("convert_timezone('UTC', 'Europe/Paris', ts)").as("t_paris"),
          from_unixtime(unix_timestamp(col("ts"))).as("t_fmt_unix"))
        .orderBy(col("event_id"))),

    // Cohort retention — the product-analytics matrix every event
    // warehouse serves: users bucketed by first-active week, each
    // cohort's share still active k days on. Three keyed aggregations,
    // no wide row ever materialized: distinct (user, week) activity,
    // per-user cohort assignment (min week), and the (cohort, offset)
    // distinct-user roll-up all shuffle on user_id; the cohort-size
    // frame is |weeks| rows — broadcast side of the final join. The
    // retention ratio is exact-long division (correctly-rounded double,
    // identical cross-engine). At 100 TB the only wide shuffle is the
    // (user, week) distinct — and it's the minimal one: no retention
    // definition exists without per-user week dedup.
    "q126_retention" -> ((s, d) => {
      val active = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohorts = active.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("cohort_size"))
      active.join(cohorts, "user_id")
        .groupBy(col("cohort_week"),
          datediff(col("week"), col("cohort_week")).cast("long")
            .as("days_since"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "cohort_week")
        .select(col("cohort_week"), col("days_since"), col("n_active"),
          col("cohort_size"),
          (col("n_active") / col("cohort_size")).as("retention"))
        .orderBy(col("cohort_week"), col("days_since"))
    }),

    // OHLC downsampling — the open/high/low/close compaction every
    // time-series store runs to keep years of history queryable: events
    // bucketed to 6-hour windows by exact integer µs arithmetic
    // (epoch DIV bucket — no calendar ambiguity, identical
    // cross-engine), then ONE aggregation per (event_type, bucket):
    // open/close via min_by/max_by on a zero-padded (epoch, event_id)
    // string key — a total order, so first/last are well-defined even
    // under duplicate timestamps (plain arg_min(ts) would be
    // nondeterministic there); high/low/count are plain order-free
    // aggregates. No window function, no sort: map-side-combined
    // hash aggregation only — the shape that survives 100 TB of ticks.
    "q145_ohlc_downsample" -> ((s, d) => {
      val B = 6L * 3600 * 1000000
      Tables.events(s, d)
        .withColumn("bucket",
          expr(s"timestamp_micros((unix_micros(ts) DIV ${B}L) * ${B}L)"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(min_by(col("value"), eventOrder).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), eventOrder).as("close"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // Time-series resample + forward fill — the gap-filling primitive
    // every feature pipeline needs before a model sees regular-interval
    // input: per-user daily activity re-gridded to a dense calendar
    // (one row per day between the user's first and last active day),
    // missing days NULL-marked and forward-filled from the last
    // observation. Scale shape: the grid explode is bounded by the
    // calendar (≤ span days per user, never corpus-sized); the daily
    // aggregate keys on (user_id, day) with map-side combine; the
    // grid⋈daily join and the fill window both key on user_id — at
    // 100 TB every shuffle is user-keyed and the widest frame is
    // |users| × |days|, the output itself. The forward fill is
    // last(ignoreNulls) over ROWS UNBOUNDED PRECEDING — a running
    // accumulator, not a per-gap scan; day sums are 4-decimal-rounded
    // on both engines before the fill so the filled doubles are
    // bit-identical cross-engine.
    "q128_resample_ffill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(round(sum(col("value")), 4).as("day_value"),
          count(lit(1)).as("n_events"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(w)
            .as("filled_value"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("day_value").isNull.as("is_gap"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Strict-order conversion funnel (view → click → purchase): a user
    // counts at stage k only with an event AFTER their stage-(k-1)
    // first occurrence. Each stage is a filtered user-keyed min
    // aggregation joined to the previous stage's frame — per-user
    // state is ONE timestamp per stage (never a collected event list),
    // and every shuffle keys on user_id. Stage counts are 1-row frames
    // crossed via broadcast (the q115 shape); conversion rates are
    // exact-long divisions. The funnel matrix every product warehouse
    // serves, with bounded state at 100 TB.
    "q127_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      ev.agg(count_distinct(col("user_id")).as("n0"))
        .crossJoin(broadcast(t1.agg(count(lit(1)).as("n1"))))
        .crossJoin(broadcast(t2.agg(count(lit(1)).as("n2"))))
        .crossJoin(broadcast(t3.agg(count(lit(1)).as("n3"))))
        .select(explode(array(
          // an empty upstream stage NULLs the rate (ANSI ÷0 guard —
          // degenerate probe: a corpus with no 'view' events)
          struct(lit("1_view").as("stage"), col("n1").as("n_users"),
            when(col("n0") > 0, col("n1") / col("n0")).as("rate_from_prev"),
            when(col("n0") > 0, col("n1") / col("n0")).as("rate_from_start")),
          struct(lit("2_click").as("stage"), col("n2").as("n_users"),
            when(col("n1") > 0, col("n2") / col("n1")).as("rate_from_prev"),
            when(col("n0") > 0, col("n2") / col("n0")).as("rate_from_start")),
          struct(lit("3_purchase").as("stage"), col("n3").as("n_users"),
            when(col("n2") > 0, col("n3") / col("n2")).as("rate_from_prev"),
            when(col("n0") > 0, col("n3") / col("n0")).as("rate_from_start")))).as("r"))
        .select(col("r.*"))
        .orderBy(col("stage"))
    }),

    // CDC log apply — materialize the current snapshot from a change
    // stream: events is the log (one change per row), user_id the key,
    // (ts, event_id) the change order, and 'error' the tombstone op.
    // Last-wins per key via max_by on a zero-padded (epoch, event_id)
    // string key — a TOTAL order, so the winner is well-defined under
    // duplicate timestamps — then keys whose latest op is the tombstone
    // drop out. ONE map-side-combined hash aggregation keyed on the CDC
    // key: no window, no sort, no per-key event list. This is the shape
    // that applies a 100 TB change log — Delta/Hudi snapshot
    // reconstruction is exactly this aggregation.
    "q146_cdc_apply" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), eventOrder).as("last_op"),
          max_by(col("value"), eventOrder).as("last_value"),
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_changes"))
        .filter(col("last_op") =!= "error")
        .orderBy(col("user_id"))
    }),

    // Markov transition matrix over the event stream — the
    // state-machine profile (what follows what, and with what
    // probability) behind next-event prediction and anomaly scoring.
    // lead() over the per-user (ts, event_id) order pairs each event
    // with its successor — state is one row, never a collected
    // sequence — then counts key on (from_type, to_type): 25 cells max.
    // The only corpus-sized shuffle is the user-keyed window sort; the
    // conditional probability P(to|from) is a window over the 25-row
    // aggregate (negligible) and a single exact long division.
    "q147_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wf = Window.partitionBy(col("from_type"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_transition",
          col("n") / sum(col("n")).over(wf))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Linear interpolation over the q128 daily grid — the step past
    // forward fill that model-feature pipelines actually want: a gap
    // day gets prev + (next-prev) * elapsed/span from its bracketing
    // observations; a leading/trailing gap falls back to the one
    // neighbor that exists. Both neighbor scans are running
    // accumulators (last/first ignoreNulls over ROWS frames), and both
    // window frames share ONE user-keyed sort — Spark evaluates them in
    // a single Window operator. Only the day SUM is rounded (4
    // decimals, both engines — it is summation-order-sensitive); the
    // interpolant itself is left unrounded because +, −, ×, ÷ over the
    // already-rounded neighbors are IEEE-correctly-rounded in both
    // engines, with identical parenthesization ⇒ bit-identical doubles.
    "q148_interp_linear" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(round(sum(col("value")), 4).as("day_value"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val ord = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("day_value").isNotNull, col("day"))
      grid.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last(col("day_value"), ignoreNulls = true).over(wb))
        .withColumn("pd", last(obsDay, ignoreNulls = true).over(wb))
        .withColumn("nv", first(col("day_value"), ignoreNulls = true).over(wf))
        .withColumn("nd", first(obsDay, ignoreNulls = true).over(wf))
        .select(col("user_id"), col("day"), col("day_value"),
          when(col("day_value").isNotNull, col("day_value"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                (datediff(col("day"), col("pd")).cast("double") /
                  datediff(col("nd"), col("pd")).cast("double")))
            .otherwise(coalesce(col("pv"), col("nv")))
            .as("interp_value"),
          col("day_value").isNull.as("is_gap"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Recency-weighted engagement score — the decay-weighted sum every
    // ranking/CRM pipeline computes so last week counts more than last
    // month. Weight = 1/(1+days_before_anchor): harmonic decay chosen
    // over exp(-λt) deliberately — ÷ and + are IEEE-correctly-rounded
    // in both engines where transcendental exp() is libm-dependent, so
    // the per-row weight is bit-identical cross-engine and only the
    // SUM needs rounding (4 decimals, order-insensitivity). The anchor
    // (corpus max day) is a 1-row broadcast — the corpus never
    // reshuffles for it; the score is ONE map-side-combined user-keyed
    // aggregation. 100 TB shape: broadcast + single hash agg.
    "q150_decay_score" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val anchor = ev.agg(max(col("day")).as("anchor_day"))
      ev.crossJoin(broadcast(anchor))
        .withColumn("w", lit(1.0) /
          (lit(1.0) + datediff(col("anchor_day"), col("day")).cast("double")))
        .groupBy(col("user_id"))
        .agg(round(sum(col("value") * col("w")), 4).as("decayed_score"),
          round(sum(col("value")), 4).as("raw_score"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // Attribution join — each 'view' matched to the FIRST 'purchase'
    // of the same user within 7 days: the marketing-analytics join
    // that is really an as-of with an upper bound. NOT a theta join
    // (view × purchase on user with a range predicate explodes per
    // user); instead the q74 union trick generalized: both event kinds
    // ride ONE user-keyed sort on the zero-padded (ts, event_id) TOTAL
    // order key, and a running min over the FOLLOWING rows surfaces
    // each view's next purchase key — O(n log n) in the user's events,
    // one shuffle, deterministic under duplicate timestamps. The
    // 7-day bound is exact integer µs arithmetic; unattributed views
    // (no following purchase in range) drop out via the null
    // comparison. 100 TB shape: one hash exchange on user_id, window
    // evaluated streaming per partition.
    "q161_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), eventOrder.as("ord_key"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ord_key"))
        .rowsBetween(1, Window.unboundedFollowing)
      ev.withColumn("npk",
          min(when(col("event_type") === "purchase", col("ord_key"))).over(w))
        .filter(col("event_type") === "view")
        .withColumn("p_micros", substring(col("npk"), 1, 20).cast("long"))
        .withColumn("purchase_event_id",
          substring(col("npk"), 22, 12).cast("long"))
        .withColumn("lag_micros", col("p_micros") - unix_micros(col("ts")))
        .filter(col("lag_micros") <= lit(7L * 86400L * 1000000L))
        .select(col("user_id"), col("event_id").as("view_event_id"),
          col("ts").as("view_ts"), col("purchase_event_id"),
          col("lag_micros"))
        .orderBy(col("view_event_id"))
    }),

    // 30-day rolling correlation of two daily series (click vs
    // purchase value sums) — the co-movement diagnostic behind metric
    // alerting. The global-ordered window is CALENDAR-bounded, not
    // corpus-bounded: the corpus aggregates to ≤|days| rows per series
    // BEFORE any window (map-side combined), so the single-partition
    // sort Spark warns about holds a few thousand rows at any sf.
    // Cross-engine determinism: windowed double sums are NOT
    // order-stable (Spark accumulates in frame order, DuckDB merges a
    // segment tree), so the 4-rounded day sums convert to exact
    // 1e-4-unit LONGS and all six component sums (n, Σx, Σy, Σx²,
    // Σy², Σxy) are integer window folds — exact in any order; the
    // correlation is then fixed-parenthesization double arithmetic
    // (×, −, ÷ and sqrt are all correctly rounded ⇒ bit-identical;
    // the unit scale cancels). Degenerate windows (zero variance)
    // yield NULL via the guarded CASE on both engines.
    "q167_rolling_corr" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(round(sum(col("value")), 4).as("day_sum"))
      val x = daily.filter(col("event_type") === "click")
        .select(col("day"), col("day_sum").as("x_sum"))
      val y = daily.filter(col("event_type") === "purchase")
        .select(col("day"), col("day_sum").as("y_sum"))
      val j = x.join(y, "day")
        .select(col("day"), col("x_sum"), col("y_sum"),
          round(col("x_sum") * 10000).cast("long").as("xi"),
          round(col("y_sum") * 10000).cast("long").as("yi"))
      val w = Window.orderBy(col("day")).rowsBetween(-29, 0)
      def d2(c: Column): Column = c.cast("double")
      val r = j
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("xi")).over(w))
        .withColumn("sy", sum(col("yi")).over(w))
        .withColumn("sxx", sum(col("xi") * col("xi")).over(w))
        .withColumn("syy", sum(col("yi") * col("yi")).over(w))
        .withColumn("sxy", sum(col("xi") * col("yi")).over(w))
      val denx = d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx"))
      val deny = d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy"))
      val num = d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy"))
      r.select(col("day"), col("x_sum"), col("y_sum"), col("n"),
          when(denx > 0 && deny > 0, num / (sqrt(denx) * sqrt(deny)))
            .as("rolling_corr"))
        .orderBy(col("day"))
    }),

    // Discrete-time churn hazard life table — the survival-analysis
    // readout behind retention forecasting: for each tenure week w,
    // how many users were still at risk, how many churned (last
    // activity fell in w), and the hazard h(w) = churned/at-risk. One
    // corpus pass collapses to per-user (first, last) activity spans
    // (map-side combined min/max); the life table itself is a
    // ≤|weeks| frame, where at-risk(w) = Σ_{v≥w} churned(v) is a
    // DESCENDING cumulative LONG window sum — integer, so order-free —
    // over the calendar-bounded frame (the q167 note: global window,
    // never corpus-sized). Hazard is one exact-long division.
    "q171_churn_hazard" -> ((s, d) => {
      val spans = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day"))
        .select(col("user_id"),
          expr("CAST(datediff(last_day, first_day) DIV 7 AS BIGINT)")
            .as("last_week"))
      val byWeek = spans.groupBy(col("last_week"))
        .agg(count(lit(1)).as("n_churned"))
      val w = Window.orderBy(col("last_week").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byWeek
        .withColumn("n_at_risk", sum(col("n_churned")).over(w))
        .select(col("last_week"), col("n_churned"), col("n_at_risk"),
          (col("n_churned").cast("double") / col("n_at_risk"))
            .as("hazard"))
        .orderBy(col("last_week"))
    }),

    // Seasonal anomaly detection — events scored against their own
    // (day-of-week, hour) baseline: the traffic-shape z-score that
    // catches "this Tuesday 3 am looks like a Monday noon". Baseline =
    // per-bucket mean/std from the q162 component-sum recipe (n exact,
    // Σv and Σv² snapped — NOT stddev_samp(), whose internal fold is
    // order-sensitive), broadcast back (≤168 rows), flag = pure
    // per-row |v − mean| > 3σ arithmetic. One corpus aggregation, one
    // broadcast join, zero corpus re-shuffles. Spark dayofweek is
    // 1=Sunday vs DuckDB 0=Sunday — the oracle adds 1 (q40 pin).
    "q178_seasonal_anomaly" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
      val base = ev.groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sv"),
          round(sum(col("value") * col("value")), 4).as("svv"))
        .filter(col("n") >= 2)
      val mean = col("sv") / col("n")
      val sd = sqrt((col("n") * col("svv") - col("sv") * col("sv"))
        / (col("n") * (col("n") - 1)))
      ev.join(broadcast(base), Seq("dow", "hr"))
        .withColumn("mean", mean)
        .withColumn("sd", sd)
        .filter(col("sd") > 0
          && abs(col("value") - col("mean")) > lit(3.0) * col("sd"))
        .select(col("event_id"), col("dow"), col("hr"), col("value"),
          col("mean"), col("sd"),
          ((col("value") - col("mean")) / col("sd")).as("z"))
        .orderBy(col("event_id"))
    }),

    // Order fulfillment SLA report — lead-time percentiles by order
    // priority: days from order to the LAST line shipped, p50/p90 and
    // mean per priority class. Scale shape: the per-order max-shipdate
    // aggregation keys on l_orderkey (max is order-free) and joins
    // orders on its own key; the percentile aggregate is the q39b
    // one-call array form (one value→count map per 5-value priority
    // group — lead-time DAYS are small ints, so the map is tiny at any
    // corpus size). Lead days are exact DATE arithmetic; the mean is
    // an exact-long sum ÷ count, divided once in double.
    "q208_fulfillment_sla" -> ((s, d) => {
      val lastShip = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .join(lastShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("last_ship"), col("o_orderdate")).cast("long")
            .as("lead_days"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile(lead_days, array(0.5, 0.9))").as("ps"),
          sum(col("lead_days")).as("sum_days"))
        .select(col("o_orderpriority"), col("n_orders"),
          element_at(col("ps"), 1).as("p50_days"),
          element_at(col("ps"), 2).as("p90_days"),
          (col("sum_days").cast("double") / col("n_orders").cast("double"))
            .as("avg_days"))
        .orderBy(col("o_orderpriority"))
    }),

    // Data-freshness audit — the feed-staleness report every warehouse
    // operator checks before trusting a downstream metric: per event
    // stream (event_type standing in for the feed), last event time,
    // hours behind the freshest feed, and a stale flag. One corpus
    // aggregation (max is order-free); the corpus-wide high-water mark
    // re-aggregates the ≤|types| frame and broadcasts back; lag hours
    // are exact integer microsecond arithmetic (unix_micros), never
    // float timestamp math.
    "q209_freshness_audit" -> ((s, d) => {
      val perType = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
      val hwm = perType.agg(max(col("last_ts")).as("max_ts"))
      perType.crossJoin(broadcast(hwm))
        .select(col("event_type"), col("n_events"), col("last_ts"),
          expr("(unix_micros(max_ts) - unix_micros(last_ts))" +
            " DIV 3600000000").as("hours_behind"))
        .withColumn("stale", col("hours_behind") >= 24L)
        .orderBy(col("event_type"))
    }),

    // Monthly seasonality index — the retail planning staple: each
    // calendar month's revenue share relative to a flat month
    // (index = 12 · month_rev / total_rev; 1.0 = no seasonality),
    // computed over full years only so partial years don't skew the
    // index. ONE corpus-scale aggregation to the ≤12-row month frame
    // (exact decimal revenue, map-side combined); the total
    // re-aggregates that frame and broadcasts back; the index is
    // exact-decimal cross-arithmetic divided once in double.
    "q211_seasonality_index" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
          && col("o_orderdate") < to_timestamp(lit("2001-01-01")))
        .groupBy(month(col("o_orderdate")).as("mth"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("decimal(18,2)").as("rev_dec"),
          count(lit(1)).as("n_orders"))
      val tot = monthly.agg(sum(col("rev_dec")).as("total_dec"))
      monthly.crossJoin(broadcast(tot))
        .select(col("mth"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"),
          ((col("rev_dec") * lit(12L)).cast("double")
            / col("total_dec").cast("double")).as("season_index"))
        .orderBy(col("mth"))
    }),

    // Lagged cross-correlation of two event streams (does `view`
    // activity LEAD `purchase` activity, and by how many days?) — the
    // lead/lag discovery step behind attribution and forecasting
    // features (q161/q162's upstream question). The ONE corpus-scale
    // stage is the (day, type) count aggregation — and the type filter
    // pushes BELOW it into each scan; everything after runs on the
    // ≤|days| daily frame: a 7-way lag explode, a date-shifted
    // equi-join, and per-lag Pearson over component sums. Determinism:
    // counts are exact longs, every Σ is an exact integer fold
    // (order-free) — the cross/second-moment sums accumulate in
    // DECIMAL(38,0) (q213's cents² recipe; DuckDB's sum(BIGINT) is
    // HUGEINT, already 128-bit) because at ~5e8 events/day Σy² exceeds
    // 2^63 — and the final sqrt/division are correctly-rounded IEEE,
    // spelled sqrt(a)·sqrt(b), never sqrt(a·b), so each radicand stays
    // inside DECIMAL(38,0) at any corpus size.
    // Autocorrelation function of the daily event series, lags 1-3 —
    // the single-series companion of q204's cross-correlation and the
    // periodicity detector behind q211's seasonality index (an ACF
    // spike at lag 7 IS weekly seasonality). Mean-centering without
    // floats: multiply through by n so dev_d = n·y_d − S is an exact
    // integer, r_k = Σ dev_d·dev_{d+k} / Σ dev_d² with DECIMAL(19,0)
    // factors and DECIMAL(38,0) sums (the q204 recipe; n·y ≤ 1e12 at
    // 3650 days × 3e8 events/day, squares ≤ 1e24·|days| ≪ 1e38), one
    // double division at the end. Lag pairing is a DATE join, not a
    // row lead, so day gaps pair correctly. Scale shape: ONE corpus
    // pass map-side-combines to the ≤|types|·|days| daily frame;
    // windows, the 3× lag fan-out, and the self-join all run over
    // that bounded frame.
    "q256_acf" -> ((s, d) => {
      val base = Tables.dailyEvents(s, d)
        .withColumn("n_all", count(lit(1)).over(byType))
        .withColumn("s_all", sum(col("n")).over(byType))
        .withColumn("dev", dec19(col("n_all") * col("n") - col("s_all")))
        .withColumn("den", sum(col("dev") * col("dev")).over(byType))
      val a = base.select(col("event_type"), col("day"), col("dev"),
        col("den"), col("n_all"),
        explode(sequence(lit(1), lit(3))).as("lag"))
      val b = base.select(col("event_type").as("et_b"),
        col("day").as("day_b"), col("dev").as("dev_b"))
      a.join(b, col("et_b") === col("event_type")
          && col("day_b") === date_add(col("day"), col("lag")))
        .groupBy(col("event_type"), col("lag"))
        .agg(max(col("n_all")).as("n_days"),
          count(lit(1)).as("n_pairs"),
          sum(col("dev") * col("dev_b")).as("num"),
          max(col("den")).as("den_v"))
        .select(col("event_type"), col("lag"), col("n_days"),
          col("n_pairs"),
          when(col("den_v") > 0, col("num").cast("double")
            / col("den_v").cast("double")).as("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    "q204_lagged_xcorr" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .filter(col("event_type").isin("view", "purchase"))
      val x = daily.filter(col("event_type") === "view")
        .select(col("day").as("dx"), col("n").as("x"))
        .select(col("dx"), col("x"),
          explode(sequence(lit(-3), lit(3))).as("lag"))
      val y = daily.filter(col("event_type") === "purchase")
        .select(col("day").as("dy"), col("n").as("y"))
      val g = x.join(y, col("dy") === date_add(col("dx"), col("lag")))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec19(col("x")) * dec19(col("y"))).as("sxy"),
          sum(dec19(col("x")) * dec19(col("x"))).as("sxx"),
          sum(dec19(col("y")) * dec19(col("y"))).as("syy"))
      val sxd = dec19(col("sx"))
      val syd = dec19(col("sy"))
      val vx = col("n_days") * col("sxx") - sxd * sxd
      val vy = col("n_days") * col("syy") - syd * syd
      g.select(col("lag"), col("n_days"),
          when(vx > 0 && vy > 0,
            (col("n_days") * col("sxy") - sxd * syd)
              .cast("double")
              / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .as("xcorr"))
        .orderBy(col("lag"))
    }),

    // Kaplan-Meier survival curve over user lifetimes — the churn/
    // retention estimator that handles CENSORING correctly (a user
    // still active at corpus end is not a churn event; q126's naive
    // retention conflates the two): lifetime = days between first and
    // last event; users whose last event falls in the final 3 days
    // are censored. The curve is emitted in LOG space — ln S(t) =
    // Σ_{t'≤t, d>0} ln(1 − d/r) with each term 6-snapped — because
    // exp() is not bit-stable cross-engine (q197 recipe); both
    // engines accumulate the cumulative sum in the same fixed t-order,
    // so the running sum is bit-identical. Scale shape: one corpus
    // pass to per-user (lifetime, censored), a map-side-combined
    // re-group to the ≤|days| lifetime frame, and windows over THAT.
    // (If every at-risk user churns at some t the curve hits exact
    // zero and the term is excluded — log-space cannot express S=0;
    // censoring at the corpus edge makes that unreachable here.)
    "q232_kaplan_meier" -> ((s, d) =>
      Stats.riskSet(userLifetimes(s, d), "churned")
        .withColumn("term", when(col("d") > 0 && col("at_risk") > col("d"),
          snap6(log((col("at_risk") - col("d")).cast("double")
            / col("at_risk").cast("double")))).otherwise(lit(0.0)))
        .withColumn("ln_survival", sum(col("term")).over(Stats.wCum))
        .select(col("t"), col("at_risk"), col("d").as("n_churned"),
          col("c").as("n_censored"), col("ln_survival"))
        .orderBy(col("t"))),

    // CUSUM changepoint detection per event stream — "did this feed's
    // daily volume shift level, and when?" (the pipeline-monitoring
    // companion to q224/q225, which detect THAT a distribution moved
    // but not WHEN). CUSUM_k = Σ_{d≤k}(n_d − mean) peaks at the level-
    // shift boundary. Everything stays in EXACT long space by scaling
    // through the day count: D·CUSUM_k = D·cum_k − k·S (cum ≤ corpus
    // rows, D ≤ |days| — the product is exact below ~9e15 rows·days);
    // |·| comparisons and the argmax tie-break (earliest day) are
    // integer, and the two emitted doubles are single correctly-
    // rounded long÷long divisions — no snapping needed anywhere.
    // Scale shape: ONE corpus pass map-side-combines to the ≤|days|
    // daily frame; every window runs over that frame.
    "q237_cusum" -> ((s, d) => {
      val scored = Tables.dailyEvents(s, d)
        .withColumn("n_days", count(lit(1)).over(byType))
        .withColumn("s_total", sum(col("n")).over(byType))
        .withColumn("k", row_number().over(byDay).cast("long"))
        .withColumn("cum", sum(col("n")).over(upToDay))
        .withColumn("c_scaled",
          col("n_days") * col("cum") - col("k") * col("s_total"))
      val wPick = byType.orderBy(abs(col("c_scaled")).desc, col("day"))
      scored.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("changepoint_day"),
          col("n_days"),
          (col("s_total").cast("double") / col("n_days").cast("double"))
            .as("daily_mean"),
          (col("c_scaled").cast("double") / col("n_days").cast("double"))
            .as("peak_cusum"))
        .orderBy(col("event_type"))
    }),

    // Page-Hinkley drift detector per event stream — the SEQUENTIAL
    // mean-shift monitor between q237's offline CUSUM argmax (best
    // split in hindsight) and q309's SPRT (needs pre-declared p₀/p₁):
    // PH tracks m_t = Σ_{i≤t}(x_i − x̄_i) against its running minimum;
    // the excursion m_t − min_{i≤t} m_i crossing λ is the alarm — the
    // streaming-monitoring classic (Page 1954). Determinism: x_i is an
    // exact long; x̄_i = cum_i/i is ONE correctly-rounded division of
    // exact longs; m_t is a cumulative double sum in the FIXED day
    // order (identical operand sequence ⇒ identical IEEE result both
    // engines, the q232 ln_survival argument); min/max over identical
    // doubles are exact. 6-snap only at emit. Scale shape: one corpus
    // pass map-side-combines to the ≤|days| daily frame; every window
    // runs over that bounded frame (q237's shape exactly).
    "q312_page_hinkley" -> ((s, d) => {
      val scored = Tables.dailyEvents(s, d)
        .withColumn("k", row_number().over(byDay).cast("long"))
        .withColumn("cum", sum(col("n")).over(upToDay))
        .withColumn("dev", col("n").cast("double")
          - col("cum").cast("double") / col("k").cast("double"))
        .withColumn("m", sum(col("dev")).over(upToDay))
        .withColumn("m_min", min(col("m")).over(upToDay))
        .withColumn("exc", col("m") - col("m_min"))
      val wPick = byType.orderBy(col("exc").desc, col("day"))
      scored
        .withColumn("n_days", count(lit(1)).over(byType))
        .withColumn("s_total", sum(col("n")).over(byType))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_days"),
          (col("s_total").cast("double") / col("n_days").cast("double"))
            .as("daily_mean"),
          col("day").as("ph_day"), snap6(col("exc")).as("ph_stat"))
        .orderBy(col("event_type"))
    }),

    // Kendall's W — concordance of the k event types' day rankings
    // ("do all feeds agree which days were big?", the k-ranker
    // agreement q288's pairwise τ only answers two-at-a-time; W = 1 ⟺
    // identical rankings, 0 ⟺ no agreement). Dense grid: |days|×|types|
    // with REAL zeros for absent cells (an absent day ranks low, it
    // doesn't vanish). Tie-aware: average ranks as exact 2·rank longs
    // (the q231/q290 RANGE-window trick), per-type tie term
    // ΣT = Σ(t³−t) folded in the same pass via ca·(cv²−1); the scaled
    // numerator Σ(R2_d − k(n+1))² and denominator k²(n³−n) − k·ΣT are
    // exact DECIMAL (W = 3·num/denom after the 4× rank2 scaling
    // cancels), ONE double division, 6-snapped. Scale shape: everything
    // after the daily aggregation lives on the bounded |days|·|types|
    // grid.
    "q326_kendall_w" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
      val days = daily.select(col("day")).distinct()
      val types = daily.select(col("event_type")).distinct()
      val grid = broadcast(days).crossJoin(broadcast(types))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
      // tie-aware doubled ranks within each type, over the day grid
      val wVal = Window.partitionBy(col("event_type"), col("n"))
      val wOrd = byType.orderBy(col("n"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = grid
        .withColumn("cv", count(lit(1)).over(wVal))
        .withColumn("cum", count(lit(1)).over(wOrd))
        .withColumn("rank2",
          lit(2L) * (col("cum") - col("cv")) + col("cv") + 1L)
      val wAll = Window.partitionBy()
      val perDay = ranked.groupBy(col("day"))
        .agg(sum(col("rank2")).as("r2d"), count(lit(1)).as("k"))
      // per-type tie mass Σ(t³−t), folded without a per-value regroup
      val ties = ranked.groupBy(col("event_type"), col("n"))
        .agg(max(col("cv")).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(dec(col("t")) * (dec(col("t")) * dec(col("t")) - 1L))
          .as("tj"))
        .agg(sum(col("tj")).as("t_sum"), count(lit(1)).as("k2"))
      perDay
        .withColumn("nn", count(lit(1)).over(wAll))
        .withColumn("s4", sum(
          (dec(col("r2d")) - dec(col("k")) * dec(col("nn") + 1L))
            * (dec(col("r2d")) - dec(col("k")) * dec(col("nn") + 1L)))
          .over(wAll))
        .groupBy(col("k"), col("nn"), col("s4"))
        .agg(count(lit(1)).as("n_days_check"))
        .crossJoin(broadcast(ties))
        .select(col("k").as("n_rankers"), col("nn").as("n_days"),
          when(dec(col("k")) * dec(col("k"))
              * (dec(col("nn")) * dec(col("nn")) * dec(col("nn"))
                - dec(col("nn")))
              - dec(col("k")) * col("t_sum") > 0,
            snap6((lit(3.0) * col("s4").cast("double"))
              / (dec(col("k")) * dec(col("k"))
                * (dec(col("nn")) * dec(col("nn")) * dec(col("nn"))
                  - dec(col("nn")))
                - dec(col("k")) * col("t_sum")).cast("double")))
            .as("kendall_w"))
    }),

    // Index-of-dispersion monitor per event stream — "is daily volume
    // Poisson (VMR ≈ 1), or over-dispersed/bursty?" — the
    // distributional-shape check q237/q312 (level) and q322
    // (randomness of signs) don't make. Both the variance-to-mean
    // ratio and the χ² dispersion statistic Σ(n_d−mean)²/mean fold
    // through exact cross-products: Σ(n·D − S)² is exact DECIMAL, so
    // VMR = (DΣn²−S²)/((D−1)S) and χ² = Σ(nD−S)²/(D·S) are single
    // divisions of exact operands. Scale shape: one corpus pass to
    // the ≤|days| frame, one bounded fold.
    "q328_poisson_dispersion" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("dd"), sum(col("n")).as("s_tot"),
          sum(dec(col("n")) * dec(col("n"))).as("sn2"))
        .filter(col("dd") > 1L && col("s_tot") > 0L)
        .select(col("event_type"), col("dd").as("n_days"),
          col("s_tot").as("n_events"),
          snap6(col("s_tot").cast("double") / col("dd").cast("double"))
            .as("daily_mean"),
          snap6((dec(col("dd")) * col("sn2")
            - dec(col("s_tot")) * dec(col("s_tot"))).cast("double")
            / ((col("dd") - 1L).cast("double")
              * col("s_tot").cast("double"))).as("vmr"),
          // χ² = Σ(n_d − m)²/m = (DΣn² − S²)/S; χ²/(D−1) equals the
          // VMR above — both emitted because monitors threshold the
          // raw χ² against a df-dependent bound.
          snap6((dec(col("dd")) * col("sn2")
            - dec(col("s_tot")) * dec(col("s_tot"))).cast("double")
            / col("s_tot").cast("double")).as("chi2"))
        .orderBy(col("event_type"))
    }),

    // Wald-Wolfowitz runs test per event stream — "is the daily volume
    // sequence RANDOM around its mean, or does it streak?" (trend and
    // oscillation both fail it; the nonparametric randomness check
    // none of q237/q295/q312's level-shift detectors ask). Sign =
    // strictly-above-mean via the exact cross-multiplication
    // n_d·D > S (never a float mean); runs counted by one lag over
    // the day order; E[R] = 1 + 2n₁n₂/D and Var[R] =
    // 2n₁n₂(2n₁n₂−D)/(D²(D−1)) are single divisions of exact DECIMAL
    // products; z² NULL-guarded on one-sided streams (n₁ or n₂ = 0)
    // and D ≤ 1. Scale shape: one corpus pass to the ≤|days| daily
    // frame, a lag window over it, a bounded fold.
    "q322_runs_test" -> ((s, d) => {
      val marked = Tables.dailyEvents(s, d)
        .withColumn("dd", count(lit(1)).over(byType))
        .withColumn("s_tot", sum(col("n")).over(byType))
        .withColumn("above", col("n") * col("dd") > col("s_tot"))
        .withColumn("flip", when(lag(col("above"), 1).over(byDay).isNull
          || lag(col("above"), 1).over(byDay) =!= col("above"), 1L)
          .otherwise(0L))
      marked.groupBy(col("event_type"))
        .agg(max(col("dd")).as("n_days"),
          sum(when(col("above"), 1L).otherwise(0L)).as("n_above"),
          sum(col("flip")).as("n_runs"))
        .withColumn("n_below", col("n_days") - col("n_above"))
        .withColumn("p2", dec(lit(2L)) * dec(col("n_above"))
          * dec(col("n_below")))
        .withColumn("e_runs", snap6(lit(1.0)
          + col("p2").cast("double") / col("n_days").cast("double")))
        // p2 = D exactly (D = 2, one day each side) zeroes the
        // variance — NULL, never ±inf, like every degenerate ratio.
        .withColumn("z2", when(
          col("n_above") > 0L && col("n_below") > 0L && col("n_days") > 1L
            && col("p2") > dec(col("n_days")),
          snap6(
            (col("n_runs").cast("double") - (lit(1.0)
              + col("p2").cast("double") / col("n_days").cast("double")))
            * (col("n_runs").cast("double") - (lit(1.0)
              + col("p2").cast("double") / col("n_days").cast("double")))
            / ((col("p2") * (col("p2") - dec(col("n_days"))))
              .cast("double")
              / (dec(col("n_days")) * dec(col("n_days"))
                * dec(col("n_days") - 1L)).cast("double")))))
        .select(col("event_type"), col("n_days"), col("n_above"),
          col("n_runs"), col("e_runs"), col("z2"))
        .orderBy(col("event_type"))
    }),

    // Nelson-Aalen cumulative hazard — the estimator-side complement
    // of q232 (KM estimates survival S(t) multiplicatively; NA
    // estimates cumulative hazard H(t) = Σ d_i/r_i additively, the
    // quantity hazard-ratio models consume) with its variance
    // Σ d_i/r_i² alongside. Same user-lifetime frame as q232/q239;
    // every term is a single division of exact longs (r·r stays in
    // long to ~3e9 users), 6-snapped per term, then cumulative sums in
    // the fixed t order — identical operand sequences both engines.
    // Scale shape: one corpus pass to per-user rows, re-group to the
    // ≤|days| lifetime frame, windows over that frame.
    "q313_nelson_aalen" -> ((s, d) =>
      Stats.riskSet(userLifetimes(s, d), "churned")
        .withColumn("term", when(col("d") > 0,
          snap6(col("d").cast("double") / col("at_risk").cast("double")))
          .otherwise(lit(0.0)))
        .withColumn("vterm", when(col("d") > 0,
          snap6(col("d").cast("double")
            / (col("at_risk") * col("at_risk")).cast("double")))
          .otherwise(lit(0.0)))
        .select(col("t"), col("at_risk"), col("d").as("n_churned"),
          col("c").as("n_censored"),
          sum(col("term")).over(Stats.wCum).as("cum_hazard"),
          sum(col("vterm")).over(Stats.wCum).as("hazard_var"))
        .orderBy(col("t"))),

    // Log-rank test — "do two user cohorts have the same survival
    // curve?", the hypothesis-test companion to q232's KM estimator
    // (an A/B readout robust to censoring, which q143's mean-based
    // test is not). Cohort = user_id parity (any deterministic user
    // attribute slots in). Per event time t: observed cohort-A deaths
    // d1, expected E1 = d·r1/r under H0, hypergeometric variance
    // V = (d·r1/r)·((r−r1)/r)·((r−d)/(r−1)). Each factor is a single
    // correctly-rounded long÷long division and the left-to-right
    // double product is spelled identically in the oracle; per-term
    // snap + snapped bounded sums (q222 recipe) make χ² = (O−E)²/V
    // bit-stable. No long/decimal overflow at any scale: products of
    // raw counts never form — only ratios ≤ r multiply. Scale shape:
    // one corpus pass to per-user rows, a map-side-combined re-group
    // to the ≤|days| lifetime frame, windows over THAT (q231 shape).
    "q239_logrank" -> ((s, d) => {
      val users = userLifetimes(s, d)
        .withColumn("grp_a", pmod(col("user_id"), lit(2L)) === 0L)
      val byT = users.groupBy(col("t"))
        .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("dt"),
          sum(when(col("churned") && col("grp_a"), 1L).otherwise(0L))
            .as("d1"),
          count(lit(1)).as("all_t"),
          sum(when(col("grp_a"), 1L).otherwise(0L)).as("a_t"))
      val wAll = Window.partitionBy()
      val dr = col("dt").cast("double") / col("r").cast("double")
      val terms = byT
        .withColumn("n_users", sum(col("all_t")).over(wAll))
        .withColumn("n_a", sum(col("a_t")).over(wAll))
        .withColumn("cum_all", sum(col("all_t")).over(Stats.wCum))
        .withColumn("cum_a", sum(col("a_t")).over(Stats.wCum))
        .withColumn("r", col("n_users") - col("cum_all") + col("all_t"))
        .withColumn("r1", col("n_a") - col("cum_a") + col("a_t"))
        .withColumn("e1", when(col("dt") > 0,
          snap6(dr * col("r1").cast("double"))).otherwise(lit(0.0)))
        .withColumn("v1", when(col("dt") > 0 && col("r") > 1,
          snap6(dr * col("r1").cast("double")
            * ((col("r") - col("r1")).cast("double")
              / col("r").cast("double"))
            * ((col("r") - col("dt")).cast("double")
              / (col("r") - 1L).cast("double"))))
          .otherwise(lit(0.0)))
      terms.agg(
          max(col("n_a")).as("n_group_a"),
          (max(col("n_users")) - max(col("n_a"))).as("n_group_b"),
          sum(col("d1")).as("observed_a"),
          snap6(sum(col("e1"))).as("expected_a"),
          snap6(sum(col("v1"))).as("variance"))
        .withColumn("chi2", when(col("variance") > 0,
          snap6((col("observed_a").cast("double") - col("expected_a"))
            * (col("observed_a").cast("double") - col("expected_a"))
            / col("variance"))).otherwise(lit(0.0)))
    }),

    // Theil-Sen robust trend per event stream — median of all pairwise
    // daily-count slopes: a single outlier day (deploy spike, outage)
    // that drags q162's least-squares line barely moves this one.
    // The pair fan-out runs over the BOUNDED daily frame (days²/2
    // pairs — ~6.6M rows even at ten years of history, never corpus
    // rows); each slope is one correctly-rounded long÷long division;
    // the median is exact — middle-rank rows by integer row_number
    // (both middles averaged on even counts, the same interpolation
    // DuckDB's quantile does, spelled identically in the oracle).
    "q240_theilsen" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .withColumn("x", dayIdx(col("day")))
      val a = daily.select(col("event_type").as("et"),
        col("x").as("xi"), col("n").as("ni"))
      val b = daily.select(col("event_type").as("et2"),
        col("x").as("xj"), col("n").as("nj"))
      val slopes = a
        .join(b, col("et") === col("et2") && col("xj") > col("xi"))
        .select(col("et"), ((col("nj") - col("ni")).cast("double")
          / (col("xj") - col("xi")).cast("double")).as("slope"))
      val wOrd = Window.partitionBy(col("et")).orderBy(col("slope"))
      val wCnt = Window.partitionBy(col("et"))
      slopes
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("m", count(lit(1)).over(wCnt))
        .filter(col("rn") === expr("(m + 1) DIV 2")
          || col("rn") === expr("(m + 2) DIV 2"))
        .groupBy(col("et"))
        .agg(snap6(avg(col("slope"))).as("slope_per_day"),
          max(col("m")).as("n_pairs"))
        .select(col("et").as("event_type"), col("n_pairs"),
          col("slope_per_day"))
        .orderBy(col("event_type"))
    }),

    // Fano factor (variance-to-mean of daily counts) per event stream
    // — the burstiness readout: a Poisson-ish steady feed sits near 1,
    // crawler bursts / incident retries push it far above. Everything
    // is EXACT integer cross-multiplication through the day count:
    // F = (D·Σn² − S²)/(D·S) with Σn² in DECIMAL via decimal(19)
    // factors (daily counts square past long range at corpus scale —
    // the q204 recipe), the bursty flag an exact decimal comparison
    // (2·num > 3·den ⟺ F > 1.5), and the two emitted doubles single
    // snapped divisions. Scale shape: ONE corpus pass map-side-
    // combines to the ≤|days| frame; everything else is per-type
    // arithmetic on that frame.
    "q244_fano" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("dd"), sum(col("n")).as("s"),
          sum(dec19(col("n")) * dec19(col("n"))).as("sq"))
        .withColumn("num", dec19(col("dd")) * col("sq")
          - dec19(col("s")) * dec19(col("s")))
        .withColumn("den", dec19(col("dd")) * dec19(col("s")))
        .select(col("event_type"), col("dd").as("n_days"),
          (col("s").cast("double") / col("dd").cast("double"))
            .as("daily_mean"),
          snap6(col("num").cast("double") / col("den").cast("double"))
            .as("fano"),
          (col("num") * 2 > col("den") * 3).as("bursty"))
        .orderBy(col("event_type"))
    }),

    // Ordered conversion funnel view → click → purchase — the product-
    // analytics staple the reference's eager API can't express (its
    // aggregations panic, evaluation.rs:126) and the event-pipeline
    // sibling of q49's sessionization. Stage k is reached when the
    // user's FIRST stage-k event falls STRICTLY AFTER their first
    // stage-(k−1) event — min-per-user frames chained by user-keyed
    // joins, so each stage is one filtered corpus pass (event_type
    // pushed into the scan) joined to a ≤|users| frame; nothing
    // event×event ever forms. Determinism: first-times are exact-µs
    // mins, stage counts exact longs, conversion ratios single
    // long÷long double divisions, and step latency sums accumulate
    // epoch-µs deltas in DECIMAL(38,0) (q213's recipe — Σµs over 1e9
    // users × 30 d exceeds 2^63; DuckDB's sum(BIGINT) is already
    // HUGEINT) with one division chain spelled identically both
    // engines. Scale shape: three type-pruned scans + two bounded
    // user-keyed joins; the four 1-row stage summaries cross-join at
    // the driver-trivial tail.
    "q285_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // Linear left-join chain — each stage frame is consumed exactly
      // ONCE, so the plan holds at 4 corpus scans (a fan-out shape
      // where v1/c2 feed both the next stage and a count leg would
      // re-plan their whole subtree per consumer — measured 6-10
      // scans). Users that stall at a stage ride through with null
      // stage times; counts fall out of ONE final aggregate.
      val u1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      val u2 = u1.join(clicks,
          col("user_id") === col("c_uid") && col("c_ts") > col("t1"),
          "left")
        .groupBy(col("user_id"), col("t1"))
        .agg(min(col("c_ts")).as("t2"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      val u3 = u2.join(buys,
          col("user_id") === col("p_uid") && col("p_ts") > col("t2"),
          "left")
        .groupBy(col("user_id"), col("t1"), col("t2"))
        .agg(min(col("p_ts")).as("t3"))
      def usDec(a: Column, b: Column): Column =
        dec(unix_micros(a) - unix_micros(b))
      val n = ev.agg(countDistinct(col("user_id")).as("n0"))
        .crossJoin(u3.agg(count(col("t1")).as("n1"),
          count(col("t2")).as("n2"),
          sum(usDec(col("t2"), col("t1"))).as("us12"),
          count(col("t3")).as("n3"),
          sum(usDec(col("t3"), col("t2"))).as("us23")))
      def conv(num: Column, den: Column): Column =
        when(den > 0L, num.cast("double") / den.cast("double"))
          .otherwise(lit(null).cast("double"))
      def hrs(us: Column, cnt: Column): Column =
        when(cnt > 0L, us.cast("double") / cnt.cast("double") / lit(3600e6))
          .otherwise(lit(null).cast("double"))
      val nullD = lit(null).cast("double")
      // One explode over the single 1-row summary (NOT a 4-way union,
      // which re-plans the whole stage subtree per leg — 10 scans
      // instead of 4): the array generator evaluates `n` once and the
      // per-stage rows are pure projections of it.
      def stageRow(name: String, users: Column, prev: Column,
          hours: Column) =
        struct(lit(name).as("stage"), users.as("users"),
          prev.as("conv_from_prev"), hours.as("mean_step_hours"))
      n.select(explode(array(
          stageRow("0_all", col("n0"), nullD, nullD),
          stageRow("1_view", col("n1"), conv(col("n1"), col("n0")), nullD),
          stageRow("2_click", col("n2"), conv(col("n2"), col("n1")),
            hrs(col("us12"), col("n2"))),
          stageRow("3_purchase", col("n3"), conv(col("n3"), col("n2")),
            hrs(col("us23"), col("n3"))))).as("r"))
        .select(col("r.stage").as("stage"), col("r.users").as("users"),
          col("r.conv_from_prev").as("conv_from_prev"),
          col("r.mean_step_hours").as("mean_step_hours"))
        .orderBy(col("stage"))
    }),

    // Weekly cohort-retention matrix — "of the users whose first event
    // fell in week c, how many were still active in week c+k?", the
    // growth-accounting readout behind q232's churn curve (KM gives a
    // single survival function; this keeps cohorts separate so product
    // changes show up as between-cohort differences). Week index is the
    // exact integer (day − 2024-01-01) DIV 7 — no timezone-dependent
    // week-of-year, identical arithmetic both engines. Determinism:
    // everything is dates, longs and one long÷long division. Scale
    // shape: ONE corpus pass; the first-event lookup is a min() window
    // over the user hash-partition (no join), the (cohort, offset)
    // distinct-user count shuffles once on bounded keys, and cohort
    // size is recovered from the offset-0 cell by a window over the
    // ≤|weeks|² cell frame — never a second corpus scan.
    "q286_cohort_retention" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
      val base = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .withColumn("first_day", min(col("day")).over(wU))
        .withColumn("cohort_week",
          expr("CAST(datediff(first_day, DATE '2024-01-01') DIV 7 AS BIGINT)"))
        .withColumn("week_offset",
          expr("CAST(datediff(day, DATE '2024-01-01') DIV 7 AS BIGINT)")
            - col("cohort_week"))
      val cells = base.groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
      val wC = Window.partitionBy(col("cohort_week"))
      cells
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0L, col("active_users")))
            .over(wC))
        .select(col("cohort_week"), col("week_offset"),
          col("active_users"), col("cohort_size"),
          (col("active_users").cast("double")
            / col("cohort_size").cast("double")).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Peak concurrent open orders per month — the interval-overlap
    // sweep-line ("how many orders were in flight at once?"), the
    // capacity question none of the point-in-time queries answer
    // (q125 PIT looks up one date; this sweeps the whole calendar).
    // An order is open from o_orderdate through its last shipment
    // (max l_shipdate). The classic sweep: ±1 boundary deltas, net
    // per day, running sum — NEVER an interval×day fan-out (a join of
    // orders against a calendar spine is |orders|·|span| rows and dies
    // at scale; the sweep is 2 rows per order, map-side combined to
    // |days| deltas). The two boundaries leave ONE scan via the q285
    // explode-over-array trick — a union of two selects re-plans the
    // join subtree per leg (measured 2×). Exactness: all counts are
    // exact longs on exact dates. Scale shape: one orders⋈lineitem
    // join (orderkey-partitioned), deltas map-side combine to the
    // bounded |days| frame; the running sum is a window over that
    // calendar-bounded frame — same bounded-domain argument as q231's
    // value ranks (|days| grows with collection time, not corpus).
    // Month-start seeding: the level is a step function that only
    // changes at delta days, so a month whose carried-in level exceeds
    // every value REACHED inside it (all deltas negative) would
    // understate peak_open, and a month with no boundary events at all
    // would vanish from the output. A zero-delta
    // row at every month's first day (spine from the cheap column-pruned
    // min(o_orderdate)/max(l_shipdate)+1 scans — never a re-run of the
    // join) samples the carried level exactly where each month opens;
    // month-start + every delta day is a complete sample of the step
    // function's per-month maximum.
    "q289_order_concurrency" -> ((s, d) => {
      val span = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("close_day"))
      val deltas = Tables.orders(s, d)
        .join(span, col("o_orderkey") === col("l_orderkey"))
        .select(explode(array(
          struct(to_date(col("o_orderdate")).as("day"), lit(1L).as("delta")),
          struct(date_add(col("close_day"), 1).as("day"),
            lit(-1L).as("delta")))).as("r"))
        .select(col("r.day").as("day"), col("r.delta").as("delta"))
      val lo = Tables.orders(s, d)
        .agg(trunc(min(to_date(col("o_orderdate"))), "month").as("lo"))
      val hi = Tables.lineitem(s, d)
        .agg(trunc(date_add(max(to_date(col("l_shipdate"))), 1), "month")
          .as("hi"))
      val monthSeed = lo.crossJoin(hi)
        .select(explode(expr("sequence(lo, hi, interval 1 month)"))
          .as("day"), lit(0L).as("delta"))
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val series = deltas.union(monthSeed).groupBy(col("day"))
        .agg(sum(col("delta")).as("net"))
        .withColumn("open_orders", sum(col("net")).over(wCum))
        .withColumn("month", trunc(col("day"), "month"))
      val wM = Window.partitionBy(col("month"))
      series.withColumn("pk", max(col("open_orders")).over(wM))
        .filter(col("open_orders") === col("pk"))
        .groupBy(col("month"))
        .agg(max(col("open_orders")).as("peak_open"),
          min(col("day")).as("peak_day"))
        .orderBy(col("month"))
    }),

    // Frequent behavioral trigrams — the order-3 sequential-pattern
    // mine between q147 (bigram transition matrix — memoryless) and
    // q153 (whole session paths — sparse at scale): "which 3-step
    // habits dominate, and how many distinct users share them?"
    // User-keyed lead() windows build each user's ordered trigram
    // stream in ONE corpus pass (the sequence never leaves its hash
    // partition; ties broken by the unique event_id so the order is
    // total); occurrence and distinct-user support are exact longs;
    // top-20 by (occurrences, support, trigram) — a total order, so
    // the cut is deterministic. Scale shape: trigram counting is
    // map-side combined over a ≤|types|³-key space; only the final
    // top-20 rank runs single-partition, over that bounded key frame.
    "q293_event_trigrams" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t1", lead(col("event_type"), 1).over(wU))
        .withColumn("t2", lead(col("event_type"), 2).over(wU))
        .filter(col("t2").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("event_type"), col("t1"), col("t2"))
            .as("trigram"))
        .groupBy(col("trigram"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("user_id")).as("user_support"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("occurrences").desc,
            col("user_support").desc, col("trigram"))).cast("long"))
        .filter(col("rnk") <= 20)
        .select(col("rnk"), col("trigram"), col("occurrences"),
          col("user_support"))
        .orderBy(col("rnk"))
    }),

    // SSE-optimal changepoint per event type — the offline
    // complement of q237's sequential CUSUM (CUSUM flags drift as it
    // accumulates; this picks the single split that maximizes the
    // between-segment sum-of-squares reduction, the binary-
    // segmentation primitive): gain_i = A_i²/(i·(T−i)·T) with
    // A_i = S_i·(T−i) − (S_T−S_i)·i — an EXACT long (daily counts ×
    // the bounded day span), so both engines derive the argmax from
    // IDENTICAL doubles of identical integers; ties break on the
    // earlier day. Means are single divisions of exact longs,
    // 6-snapped. Scale shape: one corpus pass map-side combines to
    // the (type, day) frame; cumulative sums and the argmax rank run
    // per type over the CALENDAR-bounded daily frame (the q288
    // argument — |days| grows with collection time, not corpus rows).
    "q295_changepoint" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .withColumn("i", row_number().over(byDay).cast("long"))
        .withColumn("s", sum(col("n")).over(upToDay))
        .withColumn("t_n", count(lit(1)).over(byType))
        .withColumn("t_s", sum(col("n")).over(byType))
        .filter(col("i") < col("t_n"))
        .withColumn("a", col("s") * (col("t_n") - col("i"))
          - (col("t_s") - col("s")) * col("i"))
        .withColumn("gain", col("a").cast("double") * col("a").cast("double")
          / (col("i").cast("double")
            * (col("t_n") - col("i")).cast("double")
            * col("t_n").cast("double")))
      daily
        .withColumn("rk", row_number().over(
          byType.orderBy(col("gain").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          col("i").as("n_left"), (col("t_n") - col("i")).as("n_right"),
          snap6(col("s").cast("double") / col("i").cast("double"))
            .as("mean_left"),
          snap6((col("t_s") - col("s")).cast("double")
            / (col("t_n") - col("i")).cast("double")).as("mean_right"),
          snap6(col("gain")).as("gain"))
        .orderBy(col("event_type"))
    }),

    // Haar wavelet anomaly localization per event type — the
    // multi-RESOLUTION reading q295's single split and q178's fixed
    // seasonal grid can't give: at every dyadic scale (block size 2,
    // 4, 8, 16, 32 days) report the block whose first-half/second-
    // half volume imbalance (the un-normalized Haar detail
    // coefficient Σ_left y − Σ_right y) is largest — a 2-day glitch
    // and a fortnight-scale drift surface at their own scales.
    // Everything is exact longs: day index is exact date arithmetic,
    // details are signed integer sums, the argmax orders on
    // (|detail| DESC, block ASC) — a total order. Zero-filling never
    // materializes: absent days contribute 0 to every block sum, so
    // the daily frame IS the series. Scale shape: one corpus pass to
    // the (type, day) frame; the 5-level fan-out is an explode over
    // that calendar-bounded frame (≤5·|days|·|types| rows), map-side
    // combined per (type, scale, block).
    "q299_haar_anomaly" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .select(col("event_type"), dayIdx(col("day")).as("idx"),
          col("n").as("y"))
        .filter(col("idx") >= 0L && col("idx") < 32L)
      val tall = daily.select(col("event_type"), col("idx"), col("y"),
          explode(array(lit(2L), lit(4L), lit(8L), lit(16L), lit(32L)))
            .as("bsize"))
      tall
        .withColumn("block", expr("idx DIV bsize"))
        .withColumn("detail",
          when(expr("(idx % bsize) < (bsize DIV 2)"),
            col("y")).otherwise(-col("y")))
        .groupBy(col("event_type"), col("bsize"), col("block"))
        .agg(sum(col("detail")).as("detail"), sum(col("y")).as("block_total"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"), col("bsize"))
            .orderBy(abs(col("detail")).desc, col("block"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("bsize").as("block_days"),
          (col("block") * col("bsize")).as("block_start_idx"),
          col("detail"), col("block_total"))
        .orderBy(col("event_type"), col("block_days"))
    }),

    // Conditional next-event entropy per type — how PREDICTABLE is
    // behavior after each event type? H(next | t) in nats, the
    // information-theoretic readout of the q147 transition matrix
    // (q147 gives the probabilities; this compresses each row to one
    // predictability number — ≈0 after near-deterministic steps,
    // ln|types| after uniform ones). Pure micro-nat integer algebra:
    // H(next|t) = ln c_t − (1/c_t)Σ_b c_tb ln c_tb, carried as
    // (c_t·ln6(c_t) − Σ c_tb·ln6(c_tb)) / (c_t·1e6) with DECIMAL
    // count×µnat accumulations — every operand exact, one final
    // division, 6-snapped. Scale shape: the q293 sequence pass
    // (user-keyed lead window, map-side-combined bigram counts);
    // everything after runs on the ≤|types|² frame.
    "q304_entropy_rate" -> ((s, d) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(wU))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type"), col("nxt"))
        .agg(count(lit(1)).as("c"))
        .withColumn("ct", sum(col("c")).over(byType))
        .groupBy(col("event_type"))
        .agg(max(col("ct")).as("n_next"),
          count(lit(1)).as("n_branches"),
          sum(dec(col("c")) * ln6(col("c"))).as("sl"))
        .select(col("event_type"), col("n_next"), col("n_branches"),
          snap6((dec(col("n_next")) * ln6(col("n_next")) - col("sl"))
            .cast("double")
            / (col("n_next").cast("double") * 1e6)).as("h_cond_nats"))
        .orderBy(col("event_type"))
    }),

    // Hurst exponent via rescaled-range (R/S) analysis per event
    // type — long-range dependence of daily volume (H≈0.5 = memory-
    // less, H→1 = persistent trends, H→0 = mean-reverting), the
    // memory diagnostic q256's fixed-lag ACF can't aggregate: R/S
    // slopes ACROSS dyadic window sizes {4,8,16}. Exact-integer
    // construction: within each FULL block, cumulative deviations
    // carry as z_k = w·cum_k − k·S_w (exact longs — no rational
    // means), R/S = (z_max−z_min)/√(w·Σy²−S_w²) with Σy² in DECIMAL;
    // each block ratio is a double of exact operands snapped to
    // micro-longs BEFORE the per-window mean (exact fold, the q297
    // rule); H is the ln-ln OLS slope over the ≤3 window points with
    // both coordinates as snapped micro-nat longs (q284's recipe) —
    // integer window sums, one final division. Scale shape: one
    // corpus pass to the calendar-bounded daily frame; the 3-scale
    // fan-out and block windows all run on that dimension frame.
    "q306_hurst_rs" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .select(col("event_type"), dayIdx(col("day")).as("idx"),
          col("n").as("y"))
      val wB = Window.partitionBy(col("event_type"), col("w"), col("blk"))
      val scored = daily
        .select(col("event_type"), col("idx"), col("y"),
          explode(array(lit(4L), lit(8L), lit(16L))).as("w"))
        .withColumn("blk", expr("idx DIV w"))
        .withColumn("bn", count(lit(1)).over(wB))
        .filter(col("bn") === col("w"))
        .withColumn("sw", sum(col("y")).over(wB))
        .withColumn("syy", sum(dec(col("y")) * dec(col("y"))).over(wB))
        .withColumn("cum", sum(col("y")).over(
          wB.orderBy(col("idx"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("k", row_number().over(wB.orderBy(col("idx")))
          .cast("long"))
        .withColumn("z", col("w") * col("cum") - col("k") * col("sw"))
      val blocks = scored
        .groupBy(col("event_type"), col("w"), col("blk"))
        .agg(max(col("z")).as("zmax"), min(col("z")).as("zmin"),
          max(col("sw")).as("sw"), max(col("syy")).as("syy"))
        .withColumn("s2", dec(col("w")) * col("syy")
          - dec(col("sw")) * dec(col("sw")))
        .filter(col("s2") > 0)
        .withColumn("rs6", fix6((col("zmax") - col("zmin")).cast("double")
          / sqrt(col("s2").cast("double"))))
      val perW = blocks.groupBy(col("event_type"), col("w"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("rs6")).as("srs"))
        .withColumn("x6", ln6(col("w")))
        .withColumn("y6", ln6(col("srs").cast("double")
          / col("n_blocks").cast("double") / 1e6))
        .withColumn("np", count(lit(1)).over(byType))
        .withColumn("sx", sum(col("x6")).over(byType))
        .withColumn("sy", sum(col("y6")).over(byType))
        .withColumn("sxx", sum(dec(col("x6")) * dec(col("x6"))).over(byType))
        .withColumn("sxy", sum(dec(col("x6")) * dec(col("y6"))).over(byType))
      perW.select(col("event_type"), col("w").as("window_days"),
          col("n_blocks"),
          snap6(col("srs").cast("double")
            / col("n_blocks").cast("double") / 1e6).as("mean_rs"),
          snap6((dec(col("np")) * col("sxy")
              - dec(col("sx")) * dec(col("sy"))).cast("double")
            / (dec(col("np")) * col("sxx")
              - dec(col("sx")) * dec(col("sx"))).cast("double"))
            .as("hurst"))
        .orderBy(col("event_type"), col("window_days"))
    }),

    // Monthly Laspeyres / Paasche / Fisher price indices at brand
    // level — the index-number economics none of the revenue queries
    // do: holding the BASE-month (1995-01) basket fixed separates
    // price movement from volume mix (Laspeyres), the current basket
    // gives the dual (Paasche), Fisher is their geometric mean.
    // Unit values are exact rationals sp/sq (cents via the q213
    // recipe; quantities exact longs), so every basket term
    // p_t·q_0 = sp_t·sq_0/sq_t is one double division of exact
    // DECIMAL products — and the Laspeyres DENOMINATOR collapses to
    // Σ sp_0 exactly. Folds run over the ≤|brands| frame per month
    // (the q290 bounded class). Scale shape: one lineitem⋈part pass
    // to the (brand, month) cell frame; the base month attaches as a
    // brand-window max — never a self-join or second scan.
    "q307_price_index" -> ((s, d) => {
      val baseMonth = lit("1995-01-01").cast("date")
      val cells = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          trunc(to_date(col("l_shipdate")), "month").as("month"))
        .agg((sum(col("l_extendedprice").cast("decimal(12,2)"))
            .cast("decimal(18,2)") * 100).cast("decimal(20,0)").as("sp"),
          sum(col("l_quantity").cast("long")).as("sq"))
      val wBr = Window.partitionBy(col("p_brand"))
      val j = cells
        .withColumn("sp0",
          max(when(col("month") === baseMonth, col("sp"))).over(wBr))
        .withColumn("sq0",
          max(when(col("month") === baseMonth, col("sq"))).over(wBr))
        .filter(col("sp0").isNotNull && col("sq0") > 0 && col("sq") > 0)
      val l = col("lnum") / col("lden")
      val p = col("pnum") / col("pden")
      j.groupBy(col("month"))
        .agg(count(lit(1)).as("n_brands"),
          sum((dec(col("sp")) * dec(col("sq0"))).cast("double")
            / col("sq").cast("double")).as("lnum"),
          sum(col("sp0").cast("double")).as("lden"),
          sum(col("sp").cast("double")).as("pnum"),
          sum((dec(col("sp0")) * dec(col("sq"))).cast("double")
            / col("sq0").cast("double")).as("pden"))
        .select(col("month"), col("n_brands"),
          snap6(l).as("laspeyres"), snap6(p).as("paasche"),
          snap6(sqrt(l * p)).as("fisher"))
        .orderBy(col("month"))
    }),

    // Wald SPRT monitor — sequential A/B readout over the odd-user
    // cohort's daily purchase share: is it running at p₁ = 0.21
    // rather than p₀ = 0.19 (α = β = 0.05)? The SEQUENTIAL design
    // q143's fixed-horizon t-test can't give: the log-likelihood
    // ratio walks day by day and the experiment STOPS the first day
    // it crosses ±ln 19 — the peeking-safe monitoring shape. All
    // arithmetic is exact: per-event µnat increments are Scala
    // constants interpolated into BOTH engines (the q282 single-
    // source rule — no cross-engine log call at all), the walk is a
    // DECIMAL cumsum of count×constant products, and the boundary
    // test is an exact integer comparison. Scale shape: one corpus
    // pass map-side combines to the calendar-bounded daily frame;
    // the walk is a window over it.
    "q309_sprt_monitor" -> ((s, d) => {
      val wOrd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") % 2 === 1)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .withColumn("step", dec(col("n_purchases")) * SprtL1
          + dec(col("n_events") - col("n_purchases")) * SprtL0)
        .withColumn("cum", sum(col("step")).over(wOrd))
        .select(col("day"), col("n_events"), col("n_purchases"),
          snap6(col("cum").cast("double") / 1e6).as("cum_llr"),
          when(col("cum") >= SprtBound, "accept_h1")
            .when(col("cum") <= -SprtBound, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy(col("day"))
    }),

    // Additive seasonal decomposition y = trend + seasonal + resid
    // per event type — the classical STL-style split q178's anomaly
    // grid consumes implicitly, made explicit: trend is the centered
    // 7-observation moving average (full windows only), the weekly
    // seasonal is the day-of-week mean of the DETRENDED series, the
    // residual is what neither explains. Everything stays exact
    // until one final division: detrended carries as d₇ = 7y − S₇
    // (an exact long — no mean materializes), the seasonal numerator
    // is Σd₇ per (type, dow) in DECIMAL, and the residual is
    // (d₇·n_dow − Σd₇)/(7·n_dow) — exact integer numerators, single
    // 6-snapped divisions. Scale shape: one corpus pass to the
    // calendar-bounded daily frame; MA/dow windows run on it.
    "q311_seasonal_decompose" -> ((s, d) => {
      val wMa = byType.orderBy(col("idx")).rowsBetween(-3, 3)
      val daily = Tables.dailyEvents(s, d)
        .select(col("event_type"), col("day"), dayIdx(col("day")).as("idx"),
          col("n").as("y"))
      val wDow = Window.partitionBy(col("event_type"), col("dow"))
      daily
        .withColumn("cnt7", count(lit(1)).over(wMa))
        .withColumn("s7", sum(col("y")).over(wMa))
        .filter(col("cnt7") === 7L)
        .withColumn("d7", lit(7L) * col("y") - col("s7"))
        .withColumn("dow", pmod(col("idx"), lit(7)).cast("long"))
        .withColumn("sdn", sum(dec(col("d7"))).over(wDow))
        .withColumn("ndw", count(lit(1)).over(wDow))
        .select(col("event_type"), col("day"), col("y"),
          snap6(col("s7").cast("double") / 7.0).as("trend"),
          snap6(col("sdn").cast("double")
            / (lit(7.0) * col("ndw").cast("double"))).as("seasonal"),
          snap6((dec(col("d7")) * dec(col("ndw")) - col("sdn"))
            .cast("double")
            / (lit(7.0) * col("ndw").cast("double"))).as("residual"))
        .orderBy(col("event_type"), col("day"))
    }),

    // EWMA control chart per event stream (Roberts 1959 / Phase-I:
    // center line and σ from the series itself) — the small-shift
    // monitor between q237's CUSUM (cumulative) and q312's
    // Page-Hinkley (drift): EWMA_t = λ·x_t + (1−λ)·EWMA_{t−1} seeded
    // at μ₀, flagged when |EWMA_t − μ₀| exceeds
    // L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})), L = 3. λ = 1/2 (the fast-
    // response end of the standard 0.05–0.5 band) is chosen
    // DYADICALLY: with (1−λ) = 1/2, 2^k·EWMA_t = Σ_i n_i·2^i over the
    // trailing k = min(t, 62) observations (+ μ₀ while the window
    // reaches the seed), so the recurrence becomes ONE bounded-array
    // fold of exact long weights in DECIMAL and EWMA_t =
    // (dd·cumw + S)/(dd·2^k) is a single division of exact DECIMALs —
    // no order-sensitive float fold, no per-row recursion. The
    // out-of-control flag compares
    // |EWMA_t − μ₀| > limit3s_t — evaluated on the 1e-6-SNAPPED chart
    // values (the numbers a chart reader actually compares), which are
    // hash-verified identical across engines, so the flag is
    // order-free and deterministic by construction. Horizon guard:
    // the dyadic weights are computed over a TRAILING 62-observation
    // window (k = min(t, 62)) instead of the full history — 2^61 is
    // the last long-exact weight, and the truncated pre-window mass is
    // ≤ max_n·2^{−61}, far below the 1e-6 snap for any per-day count
    // under ~2^40. A full-history exact-integer fold would overflow
    // decimal(38)/HUGEINT around t ≈ 50-55 days (Spark → NULL,
    // DuckDB → error: divergent failure modes).
    // Scale shape: one corpus pass to the ≤|days|·|types| daily
    // frame; every window runs on that dimension frame with a
    // 62-bounded array per row.
    "q330_ewma_chart" -> ((s, d) => {
      val wTrail = byDay.rowsBetween(-61, 0)
      Tables.dailyEvents(s, d)
        .withColumn("dd", count(lit(1)).over(byType))
        .withColumn("s_tot", sum(col("n")).over(byType))
        .withColumn("sn2", sum(dec(col("n")) * dec(col("n"))).over(byType))
        .withColumn("t", row_number().over(byDay).cast("long"))
        .withColumn("k", least(col("t"), lit(62L)))
        .withColumn("arr", collect_list(col("n")).over(wTrail))
        // Σ_i arr[i]·2^i over the chronological trailing window
        // (0-based i: oldest kept observation carries 2^0, current
        // carries 2^{k−1}) — exact long weights folded in DECIMAL.
        .withColumn("cumw", expr(
          "aggregate(transform(arr, (x, i) -> CAST(x AS DECIMAL(38,0))" +
            " * CAST(CAST(pow(2D, i) AS BIGINT) AS DECIMAL(38,0)))," +
            " CAST(0 AS DECIMAL(38,0)), (a, x) -> a + x)"))
        .withColumn("p2", pow(lit(2.0), col("k")).cast("long"))
        .withColumn("p4", dec(col("p2")) * dec(col("p2")))
        // the μ₀ seed term rides only while the window still reaches
        // the seed (k = t); past that it is ≤ 2^{−62} of the value.
        .withColumn("nume", dec(col("dd")) * col("cumw")
          + when(col("t") <= 62L, dec(col("s_tot")))
            .otherwise(dec(lit(0L))))
        .withColumn("vnum", dec(lit(3L))
          * (dec(col("dd")) * col("sn2")
            - dec(col("s_tot")) * dec(col("s_tot"))))
        .withColumn("ewma", snap6(col("nume").cast("double")
          / (dec(col("dd")) * dec(col("p2"))).cast("double")))
        .withColumn("center",
          snap6(col("s_tot").cast("double") / col("dd").cast("double")))
        .withColumn("limit3s", snap6(sqrt(
          col("vnum").cast("double") * (col("p4") - 1L).cast("double")
            / ((dec(col("dd")) * dec(col("dd"))).cast("double")
              * col("p4").cast("double")))))
        .select(col("event_type"), col("day"), col("n"), col("t"),
          col("ewma"), col("center"), col("limit3s"),
          (abs(col("ewma") - col("center")) > col("limit3s"))
            .as("out_of_control"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Durbin-Watson statistic on the OLS-detrended daily series per
    // event type — "after removing the linear trend, are the
    // residuals serially correlated?" (DW ≈ 2 = none, → 0 = positive,
    // → 4 = negative) — the MODEL-ADEQUACY check behind q240's
    // Theil-Sen and q162's forecast that neither makes: a trend fit
    // on autocorrelated noise has understated errors. Fully exact:
    // with integer day rank t and count n, the OLS residual scaled
    // by D·den (den = D·Σt²−(Σt)², slope numerator bn = D·Σtn−ΣtΣn)
    // is the INTEGER E_t = n_t·D·den − (Σn·den − bn·Σt) − D·bn·t,
    // and the scale cancels in DW = Σ(E_t−E_{t−1})²/ΣE_t² — exact
    // DECIMAL sums, one double division (operands stay inside 38
    // digits to ~2 years of days; longer horizons would snap E_t to
    // micro-units first). Scale shape: one corpus pass to the
    // calendar-bounded daily frame; windows on the dimension frame.
    "q334_durbin_watson" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .withColumn("t", row_number().over(byDay).cast("long"))
        .withColumn("dd", count(lit(1)).over(byType))
        .withColumn("st", sum(col("t")).over(byType))
        .withColumn("st2", sum(col("t") * col("t")).over(byType))
        .withColumn("sn", sum(col("n")).over(byType))
        .withColumn("stn", sum(col("t") * col("n")).over(byType))
        .withColumn("den",
          dec(col("dd")) * dec(col("st2")) - dec(col("st")) * dec(col("st")))
        .withColumn("bn",
          dec(col("dd")) * dec(col("stn")) - dec(col("st")) * dec(col("sn")))
        .withColumn("e", dec(col("n")) * dec(col("dd")) * col("den")
          - (dec(col("sn")) * col("den") - col("bn") * dec(col("st")))
          - dec(col("dd")) * col("bn") * dec(col("t")))
        .withColumn("ep", lag(col("e"), 1).over(byDay))
        .groupBy(col("event_type"))
        .agg(max(col("dd")).as("n_days"),
          max(col("bn")).as("bnv"), max(col("den")).as("denv"),
          sum(col("e") * col("e")).as("se2"),
          sum(when(col("ep").isNotNull,
            (col("e") - col("ep")) * (col("e") - col("ep"))))
            .as("sd2"))
        .withColumn("dw6", when(col("se2") > 0,
          snap6(col("sd2").cast("double") / col("se2").cast("double"))))
        .select(col("event_type"), col("n_days"),
          // denv = D·Σt²−(Σt)² = 0 when the stream has a single day —
          // no trend is estimable (NULL, never a decimal div-0 error)
          when(col("denv") > 0, snap6(col("bnv").cast("double")
            / col("denv").cast("double"))).as("trend_slope"),
          col("dw6").as("durbin_watson"),
          when(col("dw6").isNull, "degenerate")
            .when(col("dw6") < 1.5, "positive_autocorr")
            .when(col("dw6") > 2.5, "negative_autocorr")
            .otherwise("none").as("verdict"))
        .orderBy(col("event_type"))
    }),

    // Seasonal-naive forecast backtest per event type — MASE
    // (Hyndman-Koehler), THE scale-free forecast-accuracy metric:
    // the weekly-naive forecast x̂_t = x_{t−7} scored against the
    // one-step naive's in-sample MAE, so MASE < 1 ⟺ weekly
    // seasonality genuinely predicts (the honest readout q211's
    // seasonality index and q311's decomposition both stop short
    // of). Exact: both MAEs are ratios of integer |Δ| sums, so
    // MASE = (S₇·D₁)/(S₁·D₇) is ONE division of exact DECIMAL
    // cross-products; degenerate streams (S₁ = 0 or < 8 days) yield
    // NULL identically. Scale shape: one corpus pass to the daily
    // frame, two lag windows on it, a bounded fold.
    "q336_mase_backtest" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .withColumn("l1", lag(col("n"), 1).over(byDay))
        .withColumn("l7", lag(col("n"), 7).over(byDay))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("l1").isNotNull, abs(col("n") - col("l1"))))
            .as("s1"),
          count(col("l1")).as("d1"),
          sum(when(col("l7").isNotNull, abs(col("n") - col("l7"))))
            .as("s7"),
          count(col("l7")).as("d7"))
        .select(col("event_type"), col("n_days"),
          when(col("d7") > 0,
            snap6(col("s7").cast("double") / col("d7").cast("double")))
            .as("mae_seasonal"),
          when(col("d1") > 0,
            snap6(col("s1").cast("double") / col("d1").cast("double")))
            .as("mae_naive"),
          when(col("d7") > 0 && col("s1") > 0,
            snap6((dec(col("s7")) * dec(col("d1"))).cast("double")
              / (dec(col("s1")) * dec(col("d7"))).cast("double")))
            .as("mase"))
        .orderBy(col("event_type"))
    }),

    // SAX symbolic motifs per event stream (Lin/Keogh symbolic
    // aggregate approximation): z-normalize the daily series,
    // discretize into 4 symbols at the standard-normal quartile
    // breakpoints ±0.6745, slide a 3-day window, and report each
    // stream's dominant symbolic word — the "what shape repeats?"
    // primitive behind motif discovery that q293's event trigrams
    // (categorical) and q256's ACF (linear) don't give. The
    // discretization is EXACT integer algebra: z_t < ±0.6745 ⟺
    // sign(D·n_t − S) and 10⁸·(D·n_t − S)² vs 45495025·(D·Σn²−S²)
    // (0.6745² = 0.45495025 exactly), so no engine ever computes a
    // float z — symbols, words, and counts are all hash-exact.
    // Scale shape: one corpus pass to the daily frame; lag windows
    // and the per-(type, word) count run on dimension frames;
    // top-1 via one rank window.
    "q338_sax_motifs" -> ((s, d) => {
      val sym = Tables.dailyEvents(s, d)
        .withColumn("dd", count(lit(1)).over(byType))
        .withColumn("s_tot", sum(col("n")).over(byType))
        .withColumn("sn2", sum(dec(col("n")) * dec(col("n"))).over(byType))
        .withColumn("zn", dec(col("dd")) * dec(col("n")) - dec(col("s_tot")))
        .withColumn("vnum", dec(col("dd")) * col("sn2")
          - dec(col("s_tot")) * dec(col("s_tot")))
        .withColumn("outer", dec(lit(100000000L)) * col("zn") * col("zn")
          > dec(lit(45495025L)) * col("vnum"))
        .withColumn("sym",
          when(col("zn") < 0 && col("outer"), "a")
            .when(col("zn") < 0, "b")
            .when(!col("outer"), "c")
            .otherwise("d"))
      val words = sym
        .withColumn("s2", lag(col("sym"), 2).over(byDay))
        .withColumn("s1", lag(col("sym"), 1).over(byDay))
        .filter(col("s2").isNotNull)
        .select(col("event_type"),
          concat(col("s2"), col("s1"), col("sym")).as("word"))
        .groupBy(col("event_type"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n_windows", sum(col("cnt")).over(byType))
        .withColumn("rk", row_number().over(
          byType.orderBy(col("cnt").desc, col("word"))))
      words.filter(col("rk") === 1)
        .select(col("event_type"), col("word").as("top_motif"),
          col("cnt").as("motif_count"), col("n_windows"))
        .orderBy(col("event_type"))
    }),

    // Periodogram of the daily series per event type — spectral power
    // at cycle counts k = 1..7 over the observed window, the
    // FREQUENCY-domain periodicity readout (which rhythm dominates?)
    // complementing q256's fixed-lag ACF and q211's calendar-keyed
    // seasonality index: P(k) = (Σₜ n_t·cos(2πkt/D))² +
    // (Σₜ n_t·sin(2πkt/D))². Determinism: each trig value snaps to a
    // micro-unit long BEFORE the fold (the q110/q169 rule — a double
    // Σ over days would be order-sensitive), so both sums are exact
    // DECIMAL count×µtrig, P folds exactly, power = P/(10¹²·D) and
    // share = P_k/ΣP are single divisions, and the dominant flag
    // ranks on the EXACT DECIMAL P (tie → smaller k). 2π is spelled
    // 6.283185307179586 in both engines. Scale shape: one corpus
    // pass to the calendar-bounded daily frame; the k-ladder is a
    // 7× fan-out of that dimension frame.
    "q346_periodogram" -> ((s, d) => {
      val daily = Tables.dailyEvents(s, d)
        .withColumn("t", row_number().over(byDay).cast("long"))
        .withColumn("dd", count(lit(1)).over(byType))
      daily
        .select(col("event_type"), col("n"), col("t"), col("dd"),
          explode(sequence(lit(1L), lit(7L))).as("k"))
        .withColumn("ang", lit(6.283185307179586)
          * col("k").cast("double") * col("t").cast("double")
          / col("dd").cast("double"))
        .withColumn("c6", fix6(cos(col("ang"))))
        .withColumn("s6", fix6(sin(col("ang"))))
        .groupBy(col("event_type"), col("k"))
        .agg(max(col("dd")).as("dd"),
          sum(dec(col("n")) * dec(col("c6"))).as("sc"),
          sum(dec(col("n")) * dec(col("s6"))).as("ss"))
        .withColumn("p", col("sc") * col("sc") + col("ss") * col("ss"))
        .withColumn("ptot", sum(col("p")).over(byType))
        .withColumn("rk", row_number().over(
          byType.orderBy(col("p").desc, col("k"))))
        .select(col("event_type"), col("k").as("cycles"),
          snap6(col("p").cast("double")
            / (lit(1e12) * col("dd").cast("double"))).as("power"),
          when(col("ptot") > 0,
            snap6(col("p").cast("double") / col("ptot").cast("double")))
            .as("power_share"),
          (col("rk") === 1).as("dominant"))
        .orderBy(col("event_type"), col("cycles"))
    }),

    // Day-over-day top-k churn — Jaccard overlap of consecutive
    // shipping days' top-10 parts by shipped quantity, the
    // "heavy-hitter STABILITY" monitor (q287 finds today's heavy
    // hitters; this says whether yesterday's list still holds — a
    // routing/caching layer keyed on hot parts needs the churn rate,
    // not the list). Quantities are integral doubles cast to exact
    // longs; each day's top-10 is one rank window (qty DESC, partkey
    // tie-break); "next day" is the next OBSERVED day via lead on
    // the distinct-day frame (calendar gaps don't fake churn); the
    // overlap count is an equi-join on (next_day, part) between two
    // ≤10-row-per-day frames; Jaccard = c/(k₁+k₂−c) exact. Scale
    // shape: one corpus pass to (day, part) sums (map-side
    // combined); everything after lives on ≤10·|days| frames.
    "q352_topk_churn" -> ((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("day"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val topk = daily
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("day"))
            .orderBy(col("qty").desc, col("l_partkey"))))
        .filter(col("rk") <= 10)
        .select(col("day"), col("l_partkey"))
      val sizes = topk.groupBy(col("day")).agg(count(lit(1)).as("kk"))
      val nextDay = sizes
        .withColumn("next_day", lead(col("day"), 1).over(
          Window.orderBy(col("day"))))
        .filter(col("next_day").isNotNull)
      val common = topk.as("a")
        .join(nextDay.select(col("day"), col("next_day")), Seq("day"))
        .join(topk.select(col("day").as("next_day"),
          col("l_partkey")), Seq("next_day", "l_partkey"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      nextDay
        .join(sizes.select(col("day").as("next_day"),
          col("kk").as("k2")), Seq("next_day"))
        .join(common, Seq("day"), "left")
        .select(col("day"), col("next_day"), col("kk").as("k_today"),
          col("k2").as("k_next"),
          coalesce(col("c"), lit(0L)).as("n_common"),
          snap6(coalesce(col("c"), lit(0L)).cast("double")
            / (col("kk") + col("k2")
              - coalesce(col("c"), lit(0L))).cast("double"))
            .as("jaccard"))
        .orderBy(col("day"))
    }),

    // AR(1) one-step backtest per event stream — fit x_t = a + φ·
    // x_{t−1} by OLS on the lag pairs and score its one-step-ahead
    // MAE against the naive carry-forward: "does yesterday's level
    // LINEARLY predict today better than just repeating it?" — the
    // autoregressive rung between q336's fixed seasonal-naive and
    // q162's trend forecast. Fully exact (the q334 residual
    // recipe): on the n lag pairs, den = nΣx² − (Σx)², φnum = nΣxy
    // − ΣxΣy, and the scaled residual E_t = y_t·n·den − (Σy·den −
    // φnum·Σx) − n·φnum·x_t is an exact INTEGER whose scale cancels
    // in the MAE ratio: skill = 1 − (Σ|E|·Σ|Δ|⁻¹-free cross-product
    // form) — one division of exact DECIMALs. Scale shape: one
    // corpus pass to the daily frame, one lag window, bounded folds.
    "q356_ar1_backtest" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .withColumnRenamed("n", "y")
        .withColumn("x", lag(col("y"), 1).over(byDay))
        .filter(col("x").isNotNull)
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("sx", sum(col("x")).over(byType))
        .withColumn("sy", sum(col("y")).over(byType))
        .withColumn("sxx", sum(dec(col("x")) * dec(col("x"))).over(byType))
        .withColumn("sxy", sum(dec(col("x")) * dec(col("y"))).over(byType))
        .withColumn("den",
          dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
        .withColumn("phn",
          dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
        .withColumn("e", dec(col("y")) * dec(col("n")) * col("den")
          - (dec(col("sy")) * col("den") - col("phn") * dec(col("sx")))
          - dec(col("n")) * col("phn") * dec(col("x")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_pairs"),
          max(col("phn")).as("phnv"), max(col("den")).as("denv"),
          sum(abs(col("e"))).as("sae"),
          sum(abs(dec(col("y")) - dec(col("x")))).as("snaive"))
        .select(col("event_type"), col("n_pairs"),
          when(col("denv") > 0, snap6(col("phnv").cast("double")
            / col("denv").cast("double"))).as("phi"),
          // mae_ar/mae_naive = Σ|E| / (n·den·Σ|Δ|) — the n·den
          // residual scale divides back out against the naive MAE
          when(col("denv") > 0 && col("snaive") > 0,
            snap6(lit(1.0) - col("sae").cast("double")
              / (dec(col("n_pairs")) * col("denv") * col("snaive"))
                .cast("double"))).as("skill_vs_naive"))
        .orderBy(col("event_type"))
    }),

    // Weekly growth accounting — every product team's four-bucket
    // user ledger: each active user-week is NEW (first week ever),
    // RETAINED (also active last week), or RESURRECTED (active, not
    // last week, not new); CHURNED counts last week's actives who
    // went dark. The identity actives_t = new + retained +
    // resurrected and quick ratio (new+res)/churned fall out — the
    // flow decomposition q286's cohort retention (stock view) and
    // q126 don't give. All flags are exact set logic on the distinct
    // (user, week) frame: prev-week membership via one lag-key self
    // join, first week via a per-user min. Scale shape: corpus →
    // distinct user-weeks (map-side combined); joins are
    // user-week-keyed equi-joins; readout is ≤|weeks| rows.
    "q361_growth_accounting" -> ((s, d) => {
      val uw = Tables.events(s, d)
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")),
            lit("2024-01-01").cast("date")) / 7).cast("long").as("wk"))
        .distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val prev = uw.select(col("user_id"), (col("wk") + 1L).as("wk"),
        lit(1L).as("was_active"))
      val cur = uw.join(first, Seq("user_id"))
        .join(prev, Seq("user_id", "wk"), "left")
        .select(col("wk"),
          when(col("wk") === col("fw"), 1L).otherwise(0L).as("is_new"),
          when(col("wk") =!= col("fw")
            && col("was_active").isNotNull, 1L).otherwise(0L)
            .as("is_ret"),
          when(col("wk") =!= col("fw")
            && col("was_active").isNull, 1L).otherwise(0L)
            .as("is_res"))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("actives"), sum(col("is_new")).as("new_u"),
          sum(col("is_ret")).as("retained"),
          sum(col("is_res")).as("resurrected"))
      val churn = uw.select(col("user_id"), (col("wk") + 1L).as("wk"))
        .join(uw.select(col("user_id"), col("wk"),
          lit(1L).as("still")), Seq("user_id", "wk"), "left")
        .groupBy(col("wk"))
        .agg(sum(when(col("still").isNull, 1L).otherwise(0L))
          .as("churned"))
      cur.join(churn, Seq("wk"), "left")
        .select(col("wk").as("week"), col("actives"), col("new_u"),
          col("retained"), col("resurrected"),
          coalesce(col("churned"), lit(0L)).as("churned"),
          when(coalesce(col("churned"), lit(0L)) > 0,
            snap6((col("new_u") + col("resurrected")).cast("double")
              / col("churned").cast("double"))).as("quick_ratio"))
        .orderBy(col("week"))
    }),

    // DAU/WAU stickiness — "of the people active in the trailing
    // 7 days, what share showed up TODAY?" — the engagement-depth
    // ratio (bounded 0..1, the industry habit metric) that q126's
    // churn and q361's weekly ledger don't read. The trailing
    // 7-day distinct count is EXACT via a bounded day-offset
    // fan-out: each distinct (user, day) row casts membership onto
    // days d..d+6 (7×, calendar-bounded), one distinct per (window
    // day, user), never a sliding COUNT DISTINCT window. Emitted
    // only for days with a FULL trailing week (the first 6 days
    // would understate WAU). Scale shape: corpus → distinct
    // user-days (map-side combined), 7× bounded fan-out, per-day
    // counts; ≤|days| rows out.
    "q362_dau_wau" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"),
          col("day"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      val span = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      dau.join(wau, Seq("day"))
        .crossJoin(broadcast(span))
        .filter(datediff(col("day"), col("d0")) >= 6
          && col("day") <= col("d1"))
        .select(col("day"), col("dau"), col("wau"),
          snap6(col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy(col("day"))
    }),

    // Maximum drawdown of the daily-revenue level series — "worst
    // peak-to-trough decline", the risk readout behind any revenue
    // or throughput SLO (q237's CUSUM flags level SHIFTS; drawdown
    // quantifies the worst realized one, in money). All exact cents:
    // running peak via a cumulative max window, drawdown = peak −
    // level per day, argmax via one (drawdown DESC, day) rank —
    // earliest trough on ties; the percentage is one division of
    // exact longs. Scale shape: one corpus pass to the calendar-
    // bounded daily frame, ordered windows on it, one row out.
    "q369_max_drawdown" -> ((s, d) => {
      val wOrd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
        .withColumn("peak", max(col("rev")).over(wOrd))
        .withColumn("dd", col("peak") - col("rev"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("dd").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("day").as("trough_day"),
          snap6(col("rev").cast("double") / 100.0).as("trough_revenue"),
          snap6(col("peak").cast("double") / 100.0).as("peak_revenue"),
          snap6(col("dd").cast("double") / 100.0).as("max_drawdown"),
          when(col("peak") > 0, snap6(col("dd").cast("double")
            / col("peak").cast("double"))).as("drawdown_frac"))
    }),

    // VaR / CVaR of day-over-day revenue changes at 95% — "how bad
    // is a bad day?" (VaR = the 5% worst daily move; CVaR = the
    // MEAN of the tail beyond it, the coherent version risk desks
    // actually use): the tail-risk readout q369's drawdown (one
    // worst path) and q318's L-moments (whole shape) bracket but
    // don't give. Fully exact: deltas are exact cents, the tail is
    // a rank selection (k = ceil(5% of n) via integer arithmetic:
    // k = (n+19) DIV 20 — never a float quantile), VaR is the
    // k-th order statistic and CVaR one division of the exact tail
    // sum. Scale shape: one corpus pass to the daily frame, a lag,
    // one rank-style sort of the ≤|days| frame, one row out.
    "q370_var_cvar" -> ((s, d) => {
      val deltas = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev"))
        .withColumn("dlt",
          col("rev") - lag(col("rev"), 1).over(Window.orderBy(col("day"))))
        .filter(col("dlt").isNotNull)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("dlt"), col("day"))).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("k", expr("(n + 19) DIV 20"))
      deltas
        .groupBy(col("n"), col("k"))
        .agg(max(when(col("rk") === col("k"), col("dlt"))).as("var_c"),
          sum(when(col("rk") <= col("k"), dec(col("dlt")))).as("tail_sum"))
        .select(col("n").as("n_days"), col("k").as("tail_days"),
          snap6(col("var_c").cast("double") / 100.0).as("var95"),
          snap6(col("tail_sum").cast("double")
            / (col("k").cast("double") * 100.0)).as("cvar95"))
    }),

    // Weibull fit of order fulfillment durations by log-moments —
    // the PARAMETRIC rung of the survival family (q232/q313/q239 are
    // nonparametric curves; a fitted shape answers "is fulfillment
    // hazard increasing (k > 1, aging backlog) or memoryless
    // (k ≈ 1)?" and extrapolates beyond the observed horizon): for
    // Weibull, Var[ln X] = π²/6k² and E[ln X] = ln λ − γ/k, so
    // k̂ = (π/√6)/σ_ln and λ̂ = exp(μ_ln + γ/k̂) — closed-form from
    // log-moments. Exactness: durations are integer days; each ln
    // freezes to a µnat long, so μ and σ² are single divisions of
    // exact DECIMAL sums; k̂/λ̂ are deterministic double expressions
    // with π/√6 = 1.2825498301618641 and γ = 0.5772156649015329
    // spelled identically in both engines. Domain contract: the fit
    // covers orders whose last shipment POSTDATES the order (dur ≥ 1
    // — this corpus generates independent synthetic dates, so
    // early-ship orders are outside a duration model's domain);
    // n_orders reports the fitted support, so the restriction is
    // visible, not silent. Scale shape: one order-level pass to
    // per-order durations (map-side max), a 3-counter fold, one row
    // out.
    "q376_weibull_fit" -> ((s, d) => {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(max(to_date(col("l_shipdate"))).as("last_ship")),
          col("o_orderkey") === col("l_orderkey"))
        .select((datediff(col("last_ship"), to_date(col("o_orderdate")))
          + 1).cast("long").as("dur"))
        .filter(col("dur") >= 1L)
        .withColumn("l6", ln6(col("dur")))
        .agg(count(lit(1)).as("n"), sum(dec(col("l6"))).as("s1"),
          sum(dec(col("l6")) * dec(col("l6"))).as("s2"))
        .withColumn("mu",
          col("s1").cast("double") / (col("n").cast("double") * 1e6))
        .withColumn("sg", sqrt((dec(col("n")) * col("s2")
            - col("s1") * col("s1")).cast("double"))
          / (col("n").cast("double") * 1e6))
        .select(col("n").as("n_orders"), snap6(col("mu")).as("mu_ln"),
          snap6(col("sg")).as("sigma_ln"),
          when(col("sg") > 0.0,
            snap6(lit(1.2825498301618641) / col("sg"))).as("shape_k"),
          when(col("sg") > 0.0,
            snap6(exp(col("mu") + lit(0.5772156649015329)
              / (lit(1.2825498301618641) / col("sg")))))
            .as("scale_lambda"))
    }),

    // Chain-ladder development factors on the order→shipment
    // "run-off triangle" (the actuarial reserving primitive, read
    // here as an OPERATIONS forecast: of the value ordered in month
    // i, how much has shipped by lag k, and what factor grows lag-k
    // cumulative into lag-k+1?) — the cohort-maturation view q208's
    // SLA rates and q286's retention don't give. Censoring is
    // handled the classical way: factor f_k sums only order-months
    // whose observed horizon reaches lag k+1, so no month
    // contributes a half-developed number. All exact cents: C(i,k)
    // cumulates over a bounded lag window; each f_k is ONE division
    // of exact DECIMAL sums. Scale shape: one corpus pass to the
    // (order-month, lag) cents frame (map-side combined); everything
    // after runs on that ≤|months|×|lags| dimension frame.
    "q377_chain_ladder" -> ((s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((year(col("o_orderdate")) * 12
            + month(col("o_orderdate"))).cast("long").as("omo"),
          // this corpus ships some lines BEFORE the order month
          // (independent synthetic dates) — clamp to lag 0 so
          // C(i,k) reads "shipped by end of month i+k", never a
          // silently-dropped negative cell
          greatest(((year(col("l_shipdate")) * 12
            + month(col("l_shipdate")))
            - (year(col("o_orderdate")) * 12
              + month(col("o_orderdate")))).cast("long"), lit(0L))
            .as("lag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("cents"))
        .groupBy(col("omo"), col("lag")).agg(sum(col("cents")).as("c"))
      // DENSE (month × lag) grid: a month with a zero-shipment gap
      // at lag k+1 still carries its cumulative forward, so its
      // k→k+1 factor term doesn't silently vanish
      val maxes = cells.agg(max(col("omo") + col("lag")).as("mm"),
        max(col("lag")).as("ml"))
      val cum = cells.select(col("omo")).distinct()
        .crossJoin(broadcast(maxes))
        .select(col("omo"), col("mm"),
          explode(sequence(lit(0L), col("ml"))).as("lag"))
        .join(cells, Seq("omo", "lag"), "left")
        .select(col("omo"), col("lag"), col("mm"),
          coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cumc", sum(col("c")).over(
          Window.partitionBy(col("omo")).orderBy(col("lag"))))
        .withColumn("horizon", col("mm") - col("omo"))
      val a = cum.select(col("omo"), col("lag"), col("cumc"),
        col("horizon"))
      val b = cum.select(col("omo"), (col("lag") - 1L).as("lag"),
        col("cumc").as("cum_next"))
      a.join(b, Seq("omo", "lag"))
        .filter(col("horizon") >= col("lag") + 1L)
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_months"),
          sum(dec(col("cumc"))).as("sk"),
          sum(dec(col("cum_next"))).as("sk1"))
        .filter(col("sk") > 0)
        .select(col("lag").as("dev_lag"), col("n_months"),
          snap6(col("sk1").cast("double") / col("sk").cast("double"))
            .as("dev_factor"))
        .orderBy(col("dev_lag"))
    }),

    // Record-days audit — how many days set a NEW all-time daily-
    // volume high, vs the iid expectation H_D = Σ 1/t? (For any
    // exchangeable series the t-th day is a record with probability
    // exactly 1/t, so the record COUNT is a distribution-free
    // trend/regime detector: records ≫ H_D ⟺ growth regime —
    // the extremes-family companion to q322's runs randomness and
    // q317's rank trend.) Records are exact set logic (strict > the
    // running max of all PRIOR days); the expectation folds as
    // exact µ-longs Σ(10⁶ DIV t) — the same truncated-harmonic
    // spelling both engines; the ratio is one division. Scale
    // shape: one corpus pass to the calendar-bounded daily frame,
    // one ordered window, a bounded fold per type.
    "q379_record_days" -> ((s, d) => {
      val priorDays = byDay.rowsBetween(Window.unboundedPreceding, -1)
      Tables.dailyEvents(s, d)
        .withColumn("prior_max", max(col("n")).over(priorDays))
        .withColumn("t", row_number().over(byDay).cast("long"))
        .withColumn("is_rec",
          col("prior_max").isNull || col("n") > col("prior_max"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("is_rec"), 1L).otherwise(0L)).as("n_records"),
          sum(expr("1000000L DIV t")).as("h6"))
        .select(col("event_type"), col("n_days"), col("n_records"),
          snap6(col("h6").cast("double") / 1e6).as("expected_records"),
          when(col("h6") > 0, snap6(col("n_records").cast("double")
            * 1e6 / col("h6").cast("double"))).as("record_ratio"))
        .orderBy(col("event_type"))
    }),

    // Restricted mean survival time at τ = 7 days for TIME-TO-FIRST-
    // PURCHASE — the AREA under the Kaplan-Meier curve up to a fixed
    // horizon, the one-number survival summary regulators now prefer
    // over hazard ratios (here: "average purchase-free days within a
    // user's first week"): completes the survival family (q232
    // curve, q313 cumulative hazard, q239 group test, q376
    // parametric fit). The endpoint is first purchase (not q232's
    // month-end churn, which never fires inside any horizon on this
    // corpus — a flat curve would exercise nothing); users who never
    // purchase censor at their observed span. Construction: KM steps
    // as in q232; each step's survival freezes to a µ-long
    // S6 = ⌊exp(lnS)·10⁶+½⌋, interval widths are exact integer days
    // clipped at τ (the segment before the first event time carries
    // S = 1), so RMST = ΣS6·width/10⁶ is an exact fold with one
    // division. Scale shape: everything after the per-user pass runs
    // on the ≤|distinct t| frame.
    // KM/RMST core delegates to [[graft.ops.Stats.kmRmst]] (the
    // Frame.stats facade runs the same code path), including the
    // at_risk == d kill step: when every remaining at-risk
    // user purchases at a time, survival steps to ZERO and stays
    // zero — carried as a cumulative kill flag because the log-term
    // recurrence can't express a 0 factor.
    "q381_rmst" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day"),
          min(when(col("event_type") === "purchase",
            to_date(col("ts")))).as("first_purchase"))
        .select(col("user_id"),
          when(col("first_purchase").isNotNull,
            datediff(col("first_purchase"), col("first_day")))
            .otherwise(datediff(col("last_day"), col("first_day")))
            .cast("long").as("t"),
          col("first_purchase").isNotNull.as("purchased"))
      Stats.kmRmst(users, "t", "purchased", tau = 7L)
        .withColumnRenamed("rmst_days", "rmst_purchase_free_days")
    })
  )

  /** Per-type windows over a daily series such as
    * [[Tables.dailyEvents]]: the whole type, its days in order, and the
    * running frame up to the current day. */
  private val byType = Window.partitionBy(col("event_type"))
  private val byDay = byType.orderBy(col("day"))
  private val upToDay =
    byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Days since 2024-01-01, where the events corpus starts, as a LONG. */
  private def dayIdx(day: Column): Column =
    datediff(day, lit("2024-01-01").cast("date")).cast("long")

  /** The total (ts, event_id) order of the events as one string key:
    * zero-padded epoch µs, ":", zero-padded event_id. min_by/max_by on
    * it pick a well-defined first/last event under duplicate
    * timestamps, and the key compares identically in both engines. */
  private val eventOrder: Column = concat(
    lpad(unix_micros(col("ts")).cast("string"), 20, "0"), lit(":"),
    lpad(col("event_id").cast("string"), 12, "0"))

  /** Per-user lifetimes for the survival queries (q232, q313, q239):
    * t = days between the user's first and last event; `churned` iff
    * the last event falls before the final 3 days of the corpus, so a
    * user still active at its edge is censored, not churned. */
  private def userLifetimes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("long").as("t"),
        max(to_date(col("ts"))).as("last_day"))
      .withColumn("churned",
        col("last_day") <= lit("2024-01-27").cast("date"))

  /** q309 SPRT µnat constants — computed ONCE here and interpolated
    * into both engines (p₀=0.19, p₁=0.21, α=β=0.05; boundary ln 19).
    */
  private val SprtL1: Long = fix6(math.log(0.21 / 0.19))
  private val SprtL0: Long = fix6(math.log(0.79 / 0.81))
  private val SprtBound: Long = fix6(math.log(19.0))

  def oracle: Map[String, String] = Map(
    "q289_order_concurrency" ->
      """WITH span AS (SELECT l_orderkey,
        |    max(CAST(l_shipdate AS DATE)) AS close_day
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT CAST(o_orderdate AS DATE) AS o_orderdate, close_day
        |  FROM orders JOIN span ON o_orderkey = l_orderkey),
        |d AS (SELECT o_orderdate AS day, 1 AS delta FROM o
        |  UNION ALL SELECT close_day + 1, -1 FROM o),
        |mb AS (SELECT
        |    date_trunc('month', (SELECT min(CAST(o_orderdate AS DATE))
        |      FROM orders))::DATE AS lo,
        |    date_trunc('month', (SELECT max(CAST(l_shipdate AS DATE)) + 1
        |      FROM lineitem))::DATE AS hi),
        |seed AS (SELECT unnest(generate_series(lo, hi,
        |    INTERVAL 1 MONTH))::DATE AS day, 0 AS delta FROM mb),
        |d2 AS (SELECT * FROM d UNION ALL SELECT * FROM seed),
        |byday AS (SELECT day, sum(delta) AS net FROM d2 GROUP BY 1),
        |series AS (SELECT day,
        |    CAST(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
        |  FROM byday),
        |m AS (SELECT date_trunc('month', day)::DATE AS month, day,
        |    open_orders,
        |    max(open_orders) OVER (PARTITION BY date_trunc('month', day))
        |      AS pk
        |  FROM series)
        |SELECT month, max(open_orders) AS peak_open,
        |  min(day) AS peak_day
        |FROM m WHERE open_orders = pk
        |GROUP BY month ORDER BY month""".stripMargin,

    "q293_event_trigrams" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tri AS (SELECT user_id,
        |    event_type || '>' || t1 || '>' || t2 AS trigram
        |  FROM seq WHERE t2 IS NOT NULL),
        |g AS (SELECT trigram, CAST(count(*) AS BIGINT) AS occurrences,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS user_support
        |  FROM tri GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY occurrences DESC,
        |    user_support DESC, trigram) AS rnk FROM g)
        |SELECT rnk, trigram, occurrences, user_support
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    "q295_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, y,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS t_n,
        |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS t_s
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |g AS (SELECT *, s * (t_n - i) - (t_s - s) * i AS a
        |  FROM c WHERE i < t_n),
        |h AS (SELECT *, CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
        |    / (CAST(i AS DOUBLE) * CAST(t_n - i AS DOUBLE)
        |      * CAST(t_n AS DOUBLE)) AS gain
        |  FROM g),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain DESC, day) AS rk FROM h)
        |SELECT event_type, day AS split_day, i AS n_left,
        |  CAST(t_n - i AS BIGINT) AS n_right,
        |  floor(CAST(s AS DOUBLE) / CAST(i AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS mean_left,
        |  floor(CAST(t_s - s AS DOUBLE) / CAST(t_n - i AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS mean_right,
        |  floor(gain * 1e6 + 0.5) / 1e6 AS gain
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q299_haar_anomaly" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS idx,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT * FROM daily WHERE idx >= 0 AND idx < 32),
        |tall AS (SELECT event_type, idx, y, CAST(b AS BIGINT) AS bsize
        |  FROM f CROSS JOIN (VALUES (2), (4), (8), (16), (32)) lv(b)),
        |blocks AS (SELECT event_type, bsize, idx // bsize AS block,
        |    CAST(sum(CASE WHEN (idx % bsize) < (bsize // 2)
        |      THEN y ELSE -y END) AS BIGINT) AS detail,
        |    CAST(sum(y) AS BIGINT) AS block_total
        |  FROM tall GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type,
        |    bsize ORDER BY abs(detail) DESC, block) AS rk
        |  FROM blocks)
        |SELECT event_type, bsize AS block_days,
        |  CAST(block * bsize AS BIGINT) AS block_start_idx,
        |  detail, block_total
        |FROM r WHERE rk = 1
        |ORDER BY event_type, block_days""".stripMargin,

    "q304_entropy_rate" ->
      """WITH seq AS (SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |bg AS (SELECT event_type, nxt, CAST(count(*) AS BIGINT) AS c
        |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, nxt, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS ct
        |  FROM bg),
        |g AS (SELECT event_type, max(ct) AS n_next,
        |    CAST(count(*) AS BIGINT) AS n_branches,
        |    sum(CAST(c AS HUGEINT)
        |      * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
        |        AS BIGINT)) AS sl
        |  FROM w GROUP BY 1)
        |SELECT event_type, n_next, n_branches,
        |  floor(CAST(CAST(n_next AS HUGEINT)
        |      * CAST(floor(ln(CAST(n_next AS DOUBLE)) * 1e6 + 0.5)
        |        AS BIGINT) - sl AS DOUBLE)
        |    / (CAST(n_next AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS h_cond_nats
        |FROM g ORDER BY event_type""".stripMargin,

    "q306_hurst_rs" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS idx,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tall AS (SELECT event_type, idx, y, CAST(w AS BIGINT) AS w,
        |    idx // CAST(w AS BIGINT) AS blk
        |  FROM daily CROSS JOIN (VALUES (4), (8), (16)) lv(w)),
        |sc AS (SELECT *,
        |    CAST(count(*) OVER pb AS BIGINT) AS bn,
        |    CAST(sum(y) OVER pb AS BIGINT) AS sw,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER pb AS syy,
        |    CAST(sum(y) OVER (PARTITION BY event_type, w, blk
        |      ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (PARTITION BY event_type, w, blk
        |      ORDER BY idx) AS BIGINT) AS k
        |  FROM tall
        |  WINDOW pb AS (PARTITION BY event_type, w, blk)),
        |z AS (SELECT *, w * cum - k * sw AS z FROM sc WHERE bn = w),
        |blocks AS (SELECT event_type, w, blk,
        |    max(z) AS zmax, min(z) AS zmin,
        |    max(sw) AS sw, max(syy) AS syy
        |  FROM z GROUP BY 1, 2, 3),
        |rs AS (SELECT event_type, w,
        |    CAST(floor(CAST(zmax - zmin AS DOUBLE)
        |      / sqrt(CAST(CAST(w AS HUGEINT) * syy
        |        - CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS rs6
        |  FROM blocks
        |  WHERE CAST(w AS HUGEINT) * syy
        |    - CAST(sw AS HUGEINT) * CAST(sw AS HUGEINT) > 0),
        |pw AS (SELECT event_type, w,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(rs6) AS BIGINT) AS srs
        |  FROM rs GROUP BY 1, 2),
        |xy AS (SELECT *,
        |    CAST(floor(ln(CAST(w AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS x6,
        |    CAST(floor(ln(CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE)
        |      / 1e6) * 1e6 + 0.5) AS BIGINT) AS y6
        |  FROM pw),
        |ols AS (SELECT *,
        |    CAST(count(*) OVER pt AS BIGINT) AS np,
        |    CAST(sum(x6) OVER pt AS BIGINT) AS sx,
        |    CAST(sum(y6) OVER pt AS BIGINT) AS sy,
        |    sum(CAST(x6 AS HUGEINT) * CAST(x6 AS HUGEINT)) OVER pt
        |      AS sxx,
        |    sum(CAST(x6 AS HUGEINT) * CAST(y6 AS HUGEINT)) OVER pt
        |      AS sxy
        |  FROM xy
        |  WINDOW pt AS (PARTITION BY event_type))
        |SELECT event_type, w AS window_days, n_blocks,
        |  floor(CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e6
        |    * 1e6 + 0.5) / 1e6 AS mean_rs,
        |  floor(CAST(CAST(np AS HUGEINT) * sxy
        |      - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
        |    / CAST(CAST(np AS HUGEINT) * sxx
        |      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS hurst
        |FROM ols ORDER BY event_type, window_days""".stripMargin,

    "q307_price_index" ->
      """WITH cells AS (SELECT p_brand,
        |    date_trunc('month', CAST(l_shipdate AS DATE))::DATE
        |      AS month,
        |    CAST(round(sum(l_extendedprice::DECIMAL(12,2)), 2) * 100
        |      AS BIGINT) AS sp,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |b AS (SELECT *,
        |    max(CASE WHEN month = DATE '1995-01-01' THEN sp END)
        |      OVER (PARTITION BY p_brand) AS sp0,
        |    max(CASE WHEN month = DATE '1995-01-01' THEN sq END)
        |      OVER (PARTITION BY p_brand) AS sq0
        |  FROM cells),
        |f AS (SELECT * FROM b
        |  WHERE sp0 IS NOT NULL AND sq0 > 0 AND sq > 0),
        |g AS (SELECT month, CAST(count(*) AS BIGINT) AS n_brands,
        |    sum(CAST(CAST(sp AS HUGEINT) * CAST(sq0 AS HUGEINT)
        |      AS DOUBLE) / CAST(sq AS DOUBLE)) AS lnum,
        |    sum(CAST(sp0 AS DOUBLE)) AS lden,
        |    sum(CAST(sp AS DOUBLE)) AS pnum,
        |    sum(CAST(CAST(sp0 AS HUGEINT) * CAST(sq AS HUGEINT)
        |      AS DOUBLE) / CAST(sq0 AS DOUBLE)) AS pden
        |  FROM f GROUP BY 1)
        |SELECT month, n_brands,
        |  floor(lnum / lden * 1e6 + 0.5) / 1e6 AS laspeyres,
        |  floor(pnum / pden * 1e6 + 0.5) / 1e6 AS paasche,
        |  floor(sqrt((lnum / lden) * (pnum / pden)) * 1e6 + 0.5) / 1e6
        |    AS fisher
        |FROM g ORDER BY month""".stripMargin,

    "q309_sprt_monitor" ->
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
         |      ELSE 0 END) AS BIGINT) AS n_purchases
         |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
         |w AS (SELECT *,
         |    sum(CAST(n_purchases AS HUGEINT) * ${SprtL1}
         |      + CAST(n_events - n_purchases AS HUGEINT)
         |        * (${SprtL0})) OVER (ORDER BY day ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM daily)
         |SELECT day, n_events, n_purchases,
         |  floor(CAST(cum AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
         |    AS cum_llr,
         |  CASE WHEN cum >= ${SprtBound} THEN 'accept_h1'
         |    WHEN cum <= -(${SprtBound}) THEN 'accept_h0'
         |    ELSE 'continue' END AS decision
         |FROM w ORDER BY day""".stripMargin,

    "q311_seasonal_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
        |      AS idx,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2, 3),
        |ma AS (SELECT *,
        |    CAST(count(*) OVER wm AS BIGINT) AS cnt7,
        |    CAST(sum(y) OVER wm AS BIGINT) AS s7
        |  FROM daily
        |  WINDOW wm AS (PARTITION BY event_type ORDER BY idx
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dt AS (SELECT *, 7 * y - s7 AS d7,
        |    ((idx % 7) + 7) % 7 AS dow
        |  FROM ma WHERE cnt7 = 7),
        |sw AS (SELECT *,
        |    sum(CAST(d7 AS HUGEINT)) OVER wd AS sdn,
        |    CAST(count(*) OVER wd AS BIGINT) AS ndw
        |  FROM dt
        |  WINDOW wd AS (PARTITION BY event_type, dow))
        |SELECT event_type, day, y,
        |  floor(CAST(s7 AS DOUBLE) / 7.0::DOUBLE * 1e6 + 0.5) / 1e6
        |    AS trend,
        |  floor(CAST(sdn AS DOUBLE)
        |    / (7.0::DOUBLE * CAST(ndw AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS seasonal,
        |  floor(CAST(CAST(d7 AS HUGEINT) * ndw - sdn AS DOUBLE)
        |    / (7.0::DOUBLE * CAST(ndw AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS residual
        |FROM sw ORDER BY event_type, day""".stripMargin,

    "q232_kaplan_meier" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
        |      AS t,
        |    max(CAST(ts AS DATE)) <= DATE '2024-01-27' AS churned
        |  FROM events GROUP BY 1),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |g AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_users FROM bt),
        |w AS (SELECT t, d, c, n_users,
        |    CAST(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
        |  FROM bt, g),
        |r AS (SELECT t, d, c, n_users - cum_all + d + c AS at_risk
        |  FROM w),
        |tm AS (SELECT t, d, c, at_risk,
        |    CASE WHEN d > 0 AND at_risk > d THEN
        |      floor(ln(CAST(at_risk - d AS DOUBLE)
        |        / CAST(at_risk AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    ELSE CAST(0 AS DOUBLE) END AS term
        |  FROM r)
        |SELECT t, at_risk, d AS n_churned, c AS n_censored,
        |  sum(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS ln_survival
        |FROM tm ORDER BY t""".stripMargin,

    "q237_cusum" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_days,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_total,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS k,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM dly),
        |c AS (SELECT event_type, day, n_days, s_total,
        |    n_days * cum - k * s_total AS c_scaled,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n_days * cum - k * s_total) DESC, day) AS rn
        |  FROM s)
        |SELECT event_type, day AS changepoint_day, n_days,
        |  CAST(s_total AS DOUBLE) / CAST(n_days AS DOUBLE) AS daily_mean,
        |  CAST(c_scaled AS DOUBLE) / CAST(n_days AS DOUBLE) AS peak_cusum
        |FROM c WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q312_page_hinkley" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, n,
        |    CAST(row_number() OVER w AS BIGINT) AS k,
        |    CAST(sum(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM dly WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |m AS (SELECT event_type, day, n,
        |    sum(CAST(n AS DOUBLE) - CAST(cum AS DOUBLE)
        |        / CAST(k AS DOUBLE))
        |      OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS mt
        |  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |e AS (SELECT event_type, day, n,
        |    mt - min(mt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS exc
        |  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |p AS (SELECT event_type, day, exc,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_days,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_total,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY exc DESC, day) AS rn
        |  FROM e)
        |SELECT event_type, n_days,
        |  CAST(s_total AS DOUBLE) / CAST(n_days AS DOUBLE) AS daily_mean,
        |  day AS ph_day, floor(exc * 1e6 + 0.5) / 1e6 AS ph_stat
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q326_kendall_w" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |dys AS (SELECT DISTINCT day FROM dly),
        |tps AS (SELECT DISTINCT event_type FROM dly),
        |grid AS (SELECT t.event_type, d.day, coalesce(dly.n, 0) AS n
        |  FROM dys d CROSS JOIN tps t
        |  LEFT JOIN dly ON dly.event_type = t.event_type
        |    AND dly.day = d.day),
        |rk AS (SELECT event_type, day, n,
        |    CAST(count(*) OVER (PARTITION BY event_type, n) AS BIGINT)
        |      AS cv,
        |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY n
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM grid),
        |r2 AS (SELECT event_type, day, n, cv,
        |    2 * (cum - cv) + cv + 1 AS rank2 FROM rk),
        |bd AS (SELECT day, CAST(sum(rank2) AS BIGINT) AS r2d,
        |    CAST(count(*) AS BIGINT) AS k FROM r2 GROUP BY 1),
        |st AS (SELECT r2d, k, CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM bd),
        |s4 AS (SELECT CAST(max(k) AS BIGINT) AS k,
        |    CAST(max(nn) AS BIGINT) AS nn,
        |    sum((CAST(r2d AS HUGEINT)
        |        - CAST(k AS HUGEINT) * CAST(nn + 1 AS HUGEINT))
        |      * (CAST(r2d AS HUGEINT)
        |        - CAST(k AS HUGEINT) * CAST(nn + 1 AS HUGEINT))) AS s4
        |  FROM st),
        |ties AS (SELECT sum(tsum) AS t_sum FROM (
        |  SELECT event_type, sum(CAST(t AS HUGEINT)
        |      * (CAST(t AS HUGEINT) * CAST(t AS HUGEINT) - 1)) AS tsum
        |  FROM (SELECT event_type, n, max(cv) AS t FROM rk
        |    GROUP BY 1, 2) GROUP BY 1))
        |SELECT k AS n_rankers, nn AS n_days,
        |  CASE WHEN CAST(k AS HUGEINT) * CAST(k AS HUGEINT)
        |      * (CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT)
        |        * CAST(nn AS HUGEINT) - CAST(nn AS HUGEINT))
        |      - CAST(k AS HUGEINT) * t_sum > 0 THEN
        |    floor(CAST(3 AS DOUBLE) * CAST(s4 AS DOUBLE)
        |      / CAST(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)
        |        * (CAST(nn AS HUGEINT) * CAST(nn AS HUGEINT)
        |          * CAST(nn AS HUGEINT) - CAST(nn AS HUGEINT))
        |        - CAST(k AS HUGEINT) * t_sum AS DOUBLE) * 1e6 + 0.5)
        |      / 1e6 END AS kendall_w
        |FROM s4, ties""".stripMargin,

    "q328_poisson_dispersion" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dd,
        |    CAST(sum(n) AS BIGINT) AS s_tot,
        |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sn2
        |  FROM dly GROUP BY 1)
        |SELECT event_type, dd AS n_days, s_tot AS n_events,
        |  floor(CAST(s_tot AS DOUBLE) / CAST(dd AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS daily_mean,
        |  floor(CAST(CAST(dd AS HUGEINT) * sn2 - CAST(s_tot AS HUGEINT)
        |      * CAST(s_tot AS HUGEINT) AS DOUBLE)
        |    / (CAST(dd - 1 AS DOUBLE) * CAST(s_tot AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS vmr,
        |  floor(CAST(CAST(dd AS HUGEINT) * sn2 - CAST(s_tot AS HUGEINT)
        |      * CAST(s_tot AS HUGEINT) AS DOUBLE)
        |    / CAST(s_tot AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2
        |FROM g WHERE dd > 1 AND s_tot > 0 ORDER BY event_type""".stripMargin,

    "q322_runs_test" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |mk AS (SELECT event_type, day, n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS dd,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_tot
        |  FROM dly),
        |ab AS (SELECT event_type, day, dd,
        |    n * dd > s_tot AS above
        |  FROM mk),
        |fl AS (SELECT event_type, dd, above,
        |    CASE WHEN lag(above) OVER (PARTITION BY event_type
        |        ORDER BY day) IS DISTINCT FROM above THEN 1 ELSE 0 END
        |      AS flip
        |  FROM ab),
        |g AS (SELECT event_type, CAST(max(dd) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(sum(flip) AS BIGINT) AS n_runs
        |  FROM fl GROUP BY 1),
        |p AS (SELECT *, n_days - n_above AS n_below,
        |    CAST(2 AS HUGEINT) * CAST(n_above AS HUGEINT)
        |      * CAST(n_days - n_above AS HUGEINT) AS p2
        |  FROM g)
        |SELECT event_type, n_days, n_above, n_runs,
        |  floor((CAST(1 AS DOUBLE) + CAST(p2 AS DOUBLE)
        |    / CAST(n_days AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS e_runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1
        |      AND p2 > n_days THEN
        |    floor((CAST(n_runs AS DOUBLE) - (CAST(1 AS DOUBLE)
        |        + CAST(p2 AS DOUBLE) / CAST(n_days AS DOUBLE)))
        |      * (CAST(n_runs AS DOUBLE) - (CAST(1 AS DOUBLE)
        |        + CAST(p2 AS DOUBLE) / CAST(n_days AS DOUBLE)))
        |      / (CAST(p2 * (p2 - CAST(n_days AS HUGEINT)) AS DOUBLE)
        |        / CAST(CAST(n_days AS HUGEINT)
        |          * CAST(n_days AS HUGEINT)
        |          * CAST(n_days - 1 AS HUGEINT) AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 END AS z2
        |FROM p ORDER BY event_type""".stripMargin,

    "q313_nelson_aalen" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
        |      AS t,
        |    max(CAST(ts AS DATE)) <= DATE '2024-01-27' AS churned
        |  FROM events GROUP BY 1),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |g AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_users FROM bt),
        |w AS (SELECT t, d, c, n_users,
        |    CAST(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
        |  FROM bt, g),
        |r AS (SELECT t, d, c, n_users - cum_all + d + c AS at_risk
        |  FROM w),
        |tm AS (SELECT t, d, c, at_risk,
        |    CASE WHEN d > 0 THEN floor(CAST(d AS DOUBLE)
        |      / CAST(at_risk AS DOUBLE) * 1e6 + 0.5) / 1e6
        |      ELSE CAST(0 AS DOUBLE) END AS term,
        |    CASE WHEN d > 0 THEN floor(CAST(d AS DOUBLE)
        |      / CAST(at_risk * at_risk AS DOUBLE) * 1e6 + 0.5) / 1e6
        |      ELSE CAST(0 AS DOUBLE) END AS vterm
        |  FROM r)
        |SELECT t, at_risk, d AS n_churned, c AS n_censored,
        |  sum(term) OVER cw AS cum_hazard,
        |  sum(vterm) OVER cw AS hazard_var
        |FROM tm WINDOW cw AS (ORDER BY t ROWS BETWEEN UNBOUNDED
        |  PRECEDING AND CURRENT ROW) ORDER BY t""".stripMargin,

    "q239_logrank" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
        |      AS t,
        |    max(CAST(ts AS DATE)) <= DATE '2024-01-27' AS churned,
        |    user_id % 2 = 0 AS grp_a
        |  FROM events GROUP BY user_id),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dt,
        |    CAST(sum(CASE WHEN churned AND grp_a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    count(*) AS all_t,
        |    CAST(sum(CASE WHEN grp_a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a_t
        |  FROM u GROUP BY 1),
        |w AS (SELECT t, dt, d1, all_t, a_t,
        |    CAST(sum(all_t) OVER () AS BIGINT) AS n_users,
        |    CAST(sum(a_t) OVER () AS BIGINT) AS n_a,
        |    CAST(sum(all_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all,
        |    CAST(sum(a_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a
        |  FROM bt),
        |r AS (SELECT t, dt, d1, n_users, n_a,
        |    n_users - cum_all + all_t AS r,
        |    n_a - cum_a + a_t AS r1
        |  FROM w),
        |tm AS (SELECT dt, d1, n_users, n_a,
        |    CASE WHEN dt > 0 THEN
        |      floor((CAST(dt AS DOUBLE) / CAST(r AS DOUBLE))
        |        * CAST(r1 AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    ELSE CAST(0 AS DOUBLE) END AS e1,
        |    CASE WHEN dt > 0 AND r > 1 THEN
        |      floor((CAST(dt AS DOUBLE) / CAST(r AS DOUBLE))
        |        * CAST(r1 AS DOUBLE)
        |        * (CAST(r - r1 AS DOUBLE) / CAST(r AS DOUBLE))
        |        * (CAST(r - dt AS DOUBLE) / CAST(r - 1 AS DOUBLE))
        |        * 1e6 + 0.5) / 1e6
        |    ELSE CAST(0 AS DOUBLE) END AS v1
        |  FROM r),
        |a AS (SELECT max(n_a) AS n_group_a,
        |    max(n_users) - max(n_a) AS n_group_b,
        |    CAST(sum(d1) AS BIGINT) AS observed_a,
        |    floor(sum(e1) * 1e6 + 0.5) / 1e6 AS expected_a,
        |    floor(sum(v1) * 1e6 + 0.5) / 1e6 AS variance
        |  FROM tm)
        |SELECT n_group_a, n_group_b, observed_a, expected_a, variance,
        |  CASE WHEN variance > 0 THEN
        |    floor((CAST(observed_a AS DOUBLE) - expected_a)
        |      * (CAST(observed_a AS DOUBLE) - expected_a)
        |      / variance * 1e6 + 0.5) / 1e6
        |  ELSE CAST(0 AS DOUBLE) END AS chi2
        |FROM a""".stripMargin,

    "q240_theilsen" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type,
        |    CAST(day - DATE '2024-01-01' AS BIGINT) AS x, n
        |  FROM dly),
        |p AS (SELECT a.event_type AS et,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
        |      AS slope
        |  FROM d2 a JOIN d2 b
        |    ON a.event_type = b.event_type AND b.x > a.x),
        |r AS (SELECT et, slope,
        |    CAST(row_number() OVER (PARTITION BY et ORDER BY slope)
        |      AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY et) AS m
        |  FROM p)
        |SELECT et AS event_type, CAST(max(m) AS BIGINT) AS n_pairs,
        |  floor(avg(slope) * 1e6 + 0.5) / 1e6 AS slope_per_day
        |FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |GROUP BY et ORDER BY event_type""".stripMargin,

    "q244_fano" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS dd,
        |    CAST(sum(n) AS BIGINT) AS s,
        |    sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))
        |      AS sq
        |  FROM dly GROUP BY 1),
        |f AS (SELECT event_type, dd, s,
        |    CAST(dd AS DECIMAL(19,0)) * sq
        |      - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
        |      AS num,
        |    CAST(dd AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)) AS den
        |  FROM g)
        |SELECT event_type, CAST(dd AS BIGINT) AS n_days,
        |  CAST(s AS DOUBLE) / CAST(dd AS DOUBLE) AS daily_mean,
        |  floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS fano,
        |  num * 2 > den * 3 AS bursty
        |FROM f ORDER BY event_type""".stripMargin,

    "q211_seasonality_index" ->
      """WITH m AS (
        |  SELECT month(o_orderdate) AS mth,
        |    round(sum(o_totalprice::DECIMAL(12,2)), 2) AS rev_dec,
        |    count(*) AS n_orders
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'
        |  GROUP BY 1),
        |t AS (SELECT sum(rev_dec) AS total_dec FROM m)
        |SELECT CAST(mth AS INT) AS mth, n_orders,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec * 12 AS DOUBLE) / CAST(total_dec AS DOUBLE)
        |    AS season_index
        |FROM m, t ORDER BY mth""".stripMargin,

    "q208_fulfillment_sla" ->
      """WITH ls AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |ld AS (SELECT o_orderpriority,
        |    CAST(CAST(last_ship AS DATE) - CAST(o_orderdate AS DATE)
        |      AS BIGINT) AS lead_days
        |  FROM orders JOIN ls ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  quantile_cont(lead_days, 0.5) AS p50_days,
        |  quantile_cont(lead_days, 0.9) AS p90_days,
        |  CAST(sum(lead_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS avg_days
        |FROM ld GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q209_freshness_audit" ->
      """WITH p AS (SELECT event_type, max(ts) AS last_ts,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(last_ts) AS max_ts FROM p)
        |SELECT event_type, n_events, last_ts,
        |  (epoch_us(max_ts) - epoch_us(last_ts)) // 3600000000
        |    AS hours_behind,
        |  (epoch_us(max_ts) - epoch_us(last_ts)) // 3600000000 >= 24
        |    AS stale
        |FROM p, h ORDER BY event_type""".stripMargin,

    "q256_acf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, day, y,
        |    count(*) OVER (PARTITION BY event_type) AS n_all,
        |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_all
        |  FROM daily),
        |dv AS (SELECT event_type, day, n_all,
        |    CAST(n_all * y - s_all AS DECIMAL(19,0)) AS dev
        |  FROM base),
        |dn AS (SELECT event_type, sum(dev * dev) AS den_v
        |  FROM dv GROUP BY 1),
        |a AS (SELECT event_type, day, dev, n_all,
        |    unnest([1, 2, 3]) AS lag
        |  FROM dv),
        |p AS (SELECT a.event_type, a.lag, a.n_all,
        |    a.dev AS dev_a, b.dev AS dev_b
        |  FROM a JOIN dv b ON b.event_type = a.event_type
        |    AND b.day = a.day + a.lag),
        |g AS (SELECT event_type, lag, max(n_all) AS n_days,
        |    count(*) AS n_pairs, sum(dev_a * dev_b) AS num
        |  FROM p GROUP BY 1, 2)
        |SELECT g.event_type, lag, n_days, n_pairs,
        |  CASE WHEN den_v > 0
        |    THEN CAST(num AS DOUBLE) / CAST(den_v AS DOUBLE) END
        |    AS acf
        |FROM g JOIN dn ON dn.event_type = g.event_type
        |ORDER BY g.event_type, lag""".stripMargin,

    "q204_lagged_xcorr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |x AS (SELECT day AS dx, n AS x FROM daily
        |  WHERE event_type = 'view'),
        |y AS (SELECT day AS dy, n AS y FROM daily
        |  WHERE event_type = 'purchase'),
        |l AS (SELECT unnest(range(-3, 4)) AS lag),
        |p AS (SELECT lag, x, y FROM x, l, y
        |  WHERE dy = dx + CAST(lag AS INTEGER)),
        |g AS (SELECT lag, count(*) AS n_days,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n_days,
        |  CASE WHEN n_days * sxx - sx * sx > 0
        |      AND n_days * syy - sy * sy > 0 THEN
        |    CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
        |  END AS xcorr
        |FROM g ORDER BY lag""".stripMargin,

    "q40_temporal_date" ->
      """WITH t AS (SELECT o_orderkey, o_orderdate::DATE AS dt FROM orders)
        |SELECT o_orderkey, dt,
        |  year(dt) AS t_year,
        |  quarter(dt) AS t_quarter,
        |  month(dt) AS t_month,
        |  day(dt) AS t_day,
        |  dayofweek(dt) + 1 AS t_dow,
        |  dayofyear(dt) AS t_doy,
        |  weekofyear(dt) AS t_week,
        |  dt + 30 AS t_add30,
        |  dt - 7 AS t_sub7,
        |  (dt + INTERVAL 2 MONTH)::DATE AS t_addm,
        |  datediff('day', dt, DATE '1998-01-01') AS t_diff,
        |  date_trunc('month', dt)::DATE AS t_trunc_m,
        |  date_trunc('year', dt)::DATE AS t_trunc_y,
        |  last_day(dt) AS t_lastday,
        |  dt + CAST((1 - dayofweek(dt) + 6) % 7 + 1 AS INT) AS t_nextmon,
        |  round((year(DATE '1998-01-01') - year(dt)) * 12
        |      + (month(DATE '1998-01-01') - month(dt))
        |      + CASE WHEN day(DATE '1998-01-01') = day(dt)
        |               OR (DATE '1998-01-01' = last_day(DATE '1998-01-01')
        |                   AND dt = last_day(dt))
        |          THEN 0.0
        |          ELSE (day(DATE '1998-01-01') - day(dt)) / 31.0 END, 8) AS t_mb,
        |  make_date(year(dt), month(dt), day(dt)) AS t_remake,
        |  strftime(dt, '%Y-%m-%d') AS t_fmt
        |FROM t ORDER BY o_orderkey""".stripMargin,

    "q41_temporal_time" ->
      """SELECT event_id, ts,
        |  hour(ts) AS t_hour,
        |  minute(ts) AS t_minute,
        |  CAST(floor(second(ts)) AS INT) AS t_second,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t_epoch_s,
        |  make_timestamp(epoch_us(ts)) AS t_us_roundtrip,
        |  date_trunc('hour', ts) AS t_trunc_h,
        |  date_trunc('minute', ts) AS t_trunc_min,
        |  ts::DATE AS t_date,
        |  datediff('day', DATE '2024-01-01', ts::DATE) AS t_days_since
        |FROM events ORDER BY event_id""".stripMargin,

    "q42_temporal_tz" ->
      """SELECT event_id,
        |  ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS t_from_utc,
        |  ts AT TIME ZONE 'America/New_York' AT TIME ZONE 'UTC' AS t_to_utc,
        |  ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo' AS t_tokyo,
        |  hour(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS t_hour_ny,
        |  ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Paris' AS t_paris,
        |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS t_fmt_unix
        |FROM events ORDER BY event_id""".stripMargin,

    // both engines truncate weeks to Monday 00:00; days_since is an
    // exact day count between week-truncated midnights, and the
    // retention ratio is exact-long division.
    "q126_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week
        |  FROM a GROUP BY user_id),
        |r AS (SELECT c.cohort_week,
        |    date_diff('day', c.cohort_week, a.week) AS days_since,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2),
        |s AS (SELECT cohort_week, count(*) AS cohort_size
        |  FROM c GROUP BY 1)
        |SELECT r.cohort_week, CAST(r.days_since AS BIGINT) AS days_since,
        |  CAST(r.n_active AS BIGINT) AS n_active,
        |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |  r.n_active / s.cohort_size AS retention
        |FROM r JOIN s USING (cohort_week)
        |ORDER BY cohort_week, days_since""".stripMargin,

    // same integer µs bucket arithmetic; the zero-padded VARCHAR order
    // key makes arg_min/arg_max a total order in both engines.
    "q145_ohlc_downsample" ->
      """WITH e AS (SELECT event_type,
        |    make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |      AS bucket,
        |    value,
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
        |      || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
        |  FROM events)
        |SELECT event_type, bucket,
        |  arg_min(value, ord) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  arg_max(value, ord) AS close,
        |  count(*) AS n_events
        |FROM e GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    // both engines round the day sum to 4 decimals BEFORE the fill, so
    // the forward-filled double is the identical bit pattern; the grid
    // join and the fill window agree on SQL equality (null user_id
    // grid rows match nothing in either engine).
    "q128_resample_ffill" ->
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |    round(sum(value), 4) AS day_value, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1)),
        |j AS (SELECT g.user_id, g.day, d.day_value,
        |    coalesce(d.n_events, 0) AS n_events
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, day, day_value,
        |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  day_value IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,

    "q127_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1),
        |c AS (SELECT
        |    (SELECT count(DISTINCT user_id) FROM events) AS n0,
        |    (SELECT count(*) FROM t1) AS n1,
        |    (SELECT count(*) FROM t2) AS n2,
        |    (SELECT count(*) FROM t3) AS n3)
        |SELECT * FROM (
        |  SELECT '1_view' AS stage, CAST(n1 AS BIGINT) AS n_users,
        |    CASE WHEN n0 > 0 THEN n1 / n0 END AS rate_from_prev,
        |    CASE WHEN n0 > 0 THEN n1 / n0 END AS rate_from_start FROM c
        |  UNION ALL SELECT '2_click', CAST(n2 AS BIGINT),
        |    CASE WHEN n1 > 0 THEN n2 / n1 END,
        |    CASE WHEN n0 > 0 THEN n2 / n0 END FROM c
        |  UNION ALL SELECT '3_purchase', CAST(n3 AS BIGINT),
        |    CASE WHEN n2 > 0 THEN n3 / n2 END,
        |    CASE WHEN n0 > 0 THEN n3 / n0 END FROM c)
        |ORDER BY stage""".stripMargin,

    // same zero-padded VARCHAR total-order key; arg_max = max_by.
    "q146_cdc_apply" ->
      """WITH e AS (SELECT user_id, event_type, value, ts,
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
        |      || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
        |  FROM events)
        |SELECT user_id,
        |  arg_max(event_type, ord) AS last_op,
        |  arg_max(value, ord) AS last_value,
        |  max(ts) AS last_ts,
        |  count(*) AS n_changes
        |FROM e GROUP BY user_id
        |HAVING arg_max(event_type, ord) <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q147_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  n / sum(n) OVER (PARTITION BY from_type) AS p_transition
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // both engines round the day sum BEFORE and the interpolant AFTER,
    // so every double is the identical bit pattern; the two neighbor
    // windows use the same ROWS frames as the Spark plan.
    "q148_interp_linear" ->
      """WITH daily AS (SELECT user_id, ts::DATE AS day,
        |    round(sum(value), 4) AS day_value
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1)),
        |j AS (SELECT g.user_id, g.day, d.day_value
        |  FROM grid g LEFT JOIN daily d
        |    ON g.user_id = d.user_id AND g.day = d.day),
        |n AS (SELECT user_id, day, day_value,
        |    last_value(day_value IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN day_value IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wb AS pd,
        |    first_value(day_value IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN day_value IS NOT NULL THEN day END
        |      IGNORE NULLS) OVER wf AS nd
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, day_value,
        |  CASE WHEN day_value IS NOT NULL THEN day_value
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv)
        |        * (CAST(date_diff('day', pd, day) AS DOUBLE)
        |           / CAST(date_diff('day', pd, nd) AS DOUBLE))
        |    ELSE coalesce(pv, nv) END AS interp_value,
        |  day_value IS NULL AS is_gap
        |FROM n ORDER BY user_id, day""".stripMargin,

    // 1.0::DOUBLE — a bare 1.0 is DECIMAL in DuckDB; the weight must be
    // computed in double like Spark's lit(1.0).
    "q150_decay_score" ->
      """WITH a AS (SELECT max(ts::DATE) AS anchor_day FROM events),
        |e AS (SELECT user_id, value,
        |    1.0::DOUBLE / (1.0::DOUBLE + CAST(date_diff('day', ts::DATE,
        |      a.anchor_day) AS DOUBLE)) AS w
        |  FROM events, a)
        |SELECT user_id,
        |  round(sum(value * w), 4) AS decayed_score,
        |  round(sum(value), 4) AS raw_score,
        |  count(*) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q161_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':'
        |      || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |n AS (SELECT *,
        |    min(CASE WHEN event_type = 'purchase' THEN ord_key END)
        |      OVER (PARTITION BY user_id ORDER BY ord_key
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS npk
        |  FROM ev)
        |SELECT user_id, event_id AS view_event_id, ts AS view_ts,
        |  CAST(substr(npk, 22, 12) AS BIGINT) AS purchase_event_id,
        |  CAST(substr(npk, 1, 20) AS BIGINT) - epoch_us(ts) AS lag_micros
        |FROM n
        |WHERE event_type = 'view'
        |  AND CAST(substr(npk, 1, 20) AS BIGINT) - epoch_us(ts)
        |    <= 7::BIGINT * 86400 * 1000000
        |ORDER BY view_event_id""".stripMargin,

    // integer-unit component sums (exact in any window-merge order),
    // then the same fixed-parenthesization double arithmetic as Spark.
    "q167_rolling_corr" ->
      """WITH daily AS (SELECT ts::DATE AS day, event_type,
        |    round(sum(value), 4) AS day_sum
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |x AS (SELECT day, day_sum AS x_sum FROM daily
        |  WHERE event_type = 'click'),
        |y AS (SELECT day, day_sum AS y_sum FROM daily
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT x.day, x_sum, y_sum,
        |    CAST(round(x_sum * 10000) AS BIGINT) AS xi,
        |    CAST(round(y_sum * 10000) AS BIGINT) AS yi
        |  FROM x JOIN y USING (day)),
        |r AS (SELECT day, x_sum, y_sum,
        |    count(*) OVER w AS n,
        |    sum(xi) OVER w AS sx, sum(yi) OVER w AS sy,
        |    sum(xi * xi) OVER w AS sxx, sum(yi * yi) OVER w AS syy,
        |    sum(xi * yi) OVER w AS sxy
        |  FROM j WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT day, x_sum, y_sum, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |      AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS rolling_corr
        |FROM r ORDER BY day""".stripMargin,

    "q171_churn_hazard" ->
      """WITH s AS (SELECT user_id,
        |    date_diff('day', min(ts::DATE), max(ts::DATE)) // 7
        |      AS last_week
        |  FROM events GROUP BY user_id),
        |bw AS (SELECT last_week, count(*) AS n_churned
        |  FROM s GROUP BY last_week),
        |r AS (SELECT last_week, n_churned,
        |    sum(n_churned) OVER (ORDER BY last_week DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS n_at_risk
        |  FROM bw)
        |SELECT CAST(last_week AS BIGINT) AS last_week, n_churned,
        |  CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |  CAST(n_churned AS DOUBLE) / n_at_risk AS hazard
        |FROM r ORDER BY last_week""".stripMargin,

    "q178_seasonal_anomaly" ->
      """WITH ev AS (SELECT event_id, value,
        |    dayofweek(ts) + 1 AS dow, hour(ts) AS hr
        |  FROM events),
        |b AS (SELECT dow, hr, count(*) AS n,
        |    round(sum(value), 4) AS sv,
        |    round(sum(value * value), 4) AS svv
        |  FROM ev GROUP BY 1, 2 HAVING count(*) >= 2),
        |m AS (SELECT ev.event_id, ev.dow, ev.hr, ev.value,
        |    b.sv / b.n AS mean,
        |    sqrt((b.n * b.svv - b.sv * b.sv) / (b.n * (b.n - 1))) AS sd
        |  FROM ev JOIN b ON ev.dow = b.dow AND ev.hr = b.hr)
        |SELECT event_id, CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hr,
        |  value, mean, sd, (value - mean) / sd AS z
        |FROM m WHERE sd > 0 AND abs(value - mean) > 3.0::DOUBLE * sd
        |ORDER BY event_id""".stripMargin,

    "q285_funnel" ->
      """WITH v1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c2 AS (SELECT e.user_id, min(e.ts) AS t2, max(v1.t1) AS t1
        |  FROM events e JOIN v1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v1.t1 GROUP BY 1),
        |p3 AS (SELECT e.user_id, min(e.ts) AS t3, max(c2.t2) AS t2
        |  FROM events e JOIN c2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c2.t2 GROUP BY 1),
        |n AS (SELECT
        |    (SELECT count(DISTINCT user_id) FROM events) AS n0,
        |    (SELECT count(*) FROM v1) AS n1,
        |    (SELECT count(*) FROM c2) AS n2,
        |    (SELECT sum(epoch_us(t2) - epoch_us(t1)) FROM c2) AS us12,
        |    (SELECT count(*) FROM p3) AS n3,
        |    (SELECT sum(epoch_us(t3) - epoch_us(t2)) FROM p3) AS us23)
        |SELECT '0_all' AS stage, CAST(n0 AS BIGINT) AS users,
        |  CAST(NULL AS DOUBLE) AS conv_from_prev,
        |  CAST(NULL AS DOUBLE) AS mean_step_hours FROM n
        |UNION ALL SELECT '1_view', CAST(n1 AS BIGINT),
        |  CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) END,
        |  CAST(NULL AS DOUBLE) FROM n
        |UNION ALL SELECT '2_click', CAST(n2 AS BIGINT),
        |  CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) END,
        |  CASE WHEN n2 > 0 THEN CAST(us12 AS DOUBLE) / CAST(n2 AS DOUBLE)
        |    / 3600e6 END FROM n
        |UNION ALL SELECT '3_purchase', CAST(n3 AS BIGINT),
        |  CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE) END,
        |  CASE WHEN n3 > 0 THEN CAST(us23 AS DOUBLE) / CAST(n3 AS DOUBLE)
        |    / 3600e6 END FROM n
        |ORDER BY stage""".stripMargin,

    "q286_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS first_day FROM e),
        |x AS (SELECT user_id,
        |    CAST((first_day - DATE '2024-01-01') // 7 AS BIGINT)
        |      AS cohort_week,
        |    CAST((day - DATE '2024-01-01') // 7 AS BIGINT)
        |      - CAST((first_day - DATE '2024-01-01') // 7 AS BIGINT)
        |      AS week_offset
        |  FROM f),
        |c AS (SELECT cohort_week, week_offset,
        |    count(DISTINCT user_id) AS active_users FROM x GROUP BY 1, 2),
        |r AS (SELECT cohort_week, week_offset, active_users,
        |    max(CASE WHEN week_offset = 0 THEN active_users END)
        |      OVER (PARTITION BY cohort_week) AS cohort_size FROM c)
        |SELECT cohort_week, week_offset,
        |  CAST(active_users AS BIGINT) AS active_users,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)
        |    AS retention
        |FROM r ORDER BY cohort_week, week_offset""".stripMargin,

    "q330_ewma_chart" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, day, n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS dd,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_tot,
        |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT))
        |      OVER (PARTITION BY event_type) AS sn2,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS t
        |  FROM dly),
        |w AS (SELECT *, least(t, 62) AS k,
        |    list(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 61 PRECEDING AND CURRENT ROW) AS arr
        |  FROM st),
        |c AS (SELECT *, CAST(pow(2.0::DOUBLE, k) AS BIGINT) AS p2,
        |    list_sum(list_transform(arr, (x, i) -> CAST(x AS HUGEINT)
        |      * CAST(pow(2.0::DOUBLE, i - 1) AS HUGEINT))) AS cumw
        |  FROM w),
        |f AS (SELECT *,
        |    CAST(p2 AS HUGEINT) * CAST(p2 AS HUGEINT) AS p4,
        |    CAST(dd AS HUGEINT) * cumw + CASE WHEN t <= 62
        |      THEN CAST(s_tot AS HUGEINT) ELSE 0 END AS nume,
        |    3 * (CAST(dd AS HUGEINT) * sn2
        |      - CAST(s_tot AS HUGEINT) * CAST(s_tot AS HUGEINT))
        |      AS vnum
        |  FROM c),
        |g AS (SELECT event_type, day, n, t,
        |    floor(CAST(nume AS DOUBLE)
        |      / CAST(CAST(dd AS HUGEINT) * p2 AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 AS ewma,
        |    floor(CAST(s_tot AS DOUBLE) / CAST(dd AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 AS center,
        |    floor(sqrt(CAST(vnum AS DOUBLE) * CAST(p4 - 1 AS DOUBLE)
        |      / (CAST(CAST(dd AS HUGEINT) * CAST(dd AS HUGEINT)
        |        AS DOUBLE) * CAST(p4 AS DOUBLE))) * 1e6 + 0.5) / 1e6
        |      AS limit3s
        |  FROM f)
        |SELECT event_type, day, n, t, ewma, center, limit3s,
        |  abs(ewma - center) > limit3s AS out_of_control
        |FROM g ORDER BY event_type, day""".stripMargin,

    "q334_durbin_watson" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS dd,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS sn
        |  FROM dly),
        |s2 AS (SELECT *,
        |    CAST(sum(t) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS stt,
        |    CAST(sum(t * t) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS st2,
        |    CAST(sum(t * n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS stn
        |  FROM st),
        |e AS (SELECT *,
        |    CAST(dd AS HUGEINT) * st2 - CAST(stt AS HUGEINT) * stt
        |      AS den,
        |    CAST(dd AS HUGEINT) * stn - CAST(stt AS HUGEINT) * sn
        |      AS bn
        |  FROM s2),
        |r AS (SELECT event_type, day, dd, bn, den,
        |    CAST(n AS HUGEINT) * dd * den
        |      - (CAST(sn AS HUGEINT) * den - bn * stt)
        |      - CAST(dd AS HUGEINT) * bn * t AS ev
        |  FROM e),
        |l AS (SELECT *, lag(ev) OVER (PARTITION BY event_type
        |    ORDER BY day) AS ep FROM r),
        |g AS (SELECT event_type, CAST(max(dd) AS BIGINT) AS n_days,
        |    max(bn) AS bnv, max(den) AS denv,
        |    sum(ev * ev) AS se2,
        |    sum(CASE WHEN ep IS NOT NULL
        |      THEN (ev - ep) * (ev - ep) END) AS sd2
        |  FROM l GROUP BY 1),
        |f AS (SELECT *, CASE WHEN se2 > 0 THEN
        |    floor(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) * 1e6
        |      + 0.5) / 1e6 END AS dw6
        |  FROM g)
        |SELECT event_type, n_days,
        |  CASE WHEN denv > 0 THEN
        |    floor(CAST(bnv AS DOUBLE) / CAST(denv AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 END AS trend_slope,
        |  dw6 AS durbin_watson,
        |  CASE WHEN dw6 IS NULL THEN 'degenerate'
        |    WHEN dw6 < 1.5::DOUBLE THEN 'positive_autocorr'
        |    WHEN dw6 > 2.5::DOUBLE THEN 'negative_autocorr'
        |    ELSE 'none' END AS verdict
        |FROM f ORDER BY event_type""".stripMargin,

    "q336_mase_backtest" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
        |  FROM dly),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(n - l1) END)
        |      AS BIGINT) AS s1,
        |    CAST(count(l1) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN abs(n - l7) END)
        |      AS BIGINT) AS s7,
        |    CAST(count(l7) AS BIGINT) AS d7
        |  FROM lg GROUP BY 1)
        |SELECT event_type, n_days,
        |  CASE WHEN d7 > 0 THEN floor(CAST(s7 AS DOUBLE)
        |    / CAST(d7 AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS mae_seasonal,
        |  CASE WHEN d1 > 0 THEN floor(CAST(s1 AS DOUBLE)
        |    / CAST(d1 AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS mae_naive,
        |  CASE WHEN d7 > 0 AND s1 > 0 THEN
        |    floor(CAST(CAST(s7 AS HUGEINT) * d1 AS DOUBLE)
        |      / CAST(CAST(s1 AS HUGEINT) * d7 AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 END AS mase
        |FROM g ORDER BY event_type""".stripMargin,

    "q338_sax_motifs" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, day, n,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS dd,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s_tot,
        |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT))
        |      OVER (PARTITION BY event_type) AS sn2
        |  FROM dly),
        |sy AS (SELECT event_type, day,
        |    CASE WHEN CAST(dd AS HUGEINT) * n - s_tot < 0
        |        AND 100000000 * (CAST(dd AS HUGEINT) * n - s_tot)
        |          * (CAST(dd AS HUGEINT) * n - s_tot)
        |          > 45495025 * (CAST(dd AS HUGEINT) * sn2
        |            - CAST(s_tot AS HUGEINT) * s_tot) THEN 'a'
        |      WHEN CAST(dd AS HUGEINT) * n - s_tot < 0 THEN 'b'
        |      WHEN NOT (100000000 * (CAST(dd AS HUGEINT) * n - s_tot)
        |          * (CAST(dd AS HUGEINT) * n - s_tot)
        |          > 45495025 * (CAST(dd AS HUGEINT) * sn2
        |            - CAST(s_tot AS HUGEINT) * s_tot)) THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM st),
        |w AS (SELECT event_type,
        |    lag(sym, 2) OVER (PARTITION BY event_type ORDER BY day)
        |      || lag(sym, 1) OVER (PARTITION BY event_type
        |        ORDER BY day) || sym AS word,
        |    lag(sym, 2) OVER (PARTITION BY event_type ORDER BY day)
        |      AS s2
        |  FROM sy),
        |c AS (SELECT event_type, word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM w WHERE s2 IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type)
        |      AS BIGINT) AS n_windows,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, word) AS rk
        |  FROM c)
        |SELECT event_type, word AS top_motif, cnt AS motif_count,
        |  n_windows
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q346_periodogram" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS dd
        |  FROM dly),
        |f AS (SELECT event_type, n, t, dd, CAST(k AS BIGINT) AS k
        |  FROM st, range(1, 8) r(k)),
        |tr AS (SELECT *,
        |    CAST(floor(cos(6.283185307179586::DOUBLE
        |      * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)
        |      / CAST(dd AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS c6,
        |    CAST(floor(sin(6.283185307179586::DOUBLE
        |      * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)
        |      / CAST(dd AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS s6
        |  FROM f),
        |g AS (SELECT event_type, k, CAST(max(dd) AS BIGINT) AS dd,
        |    sum(CAST(n AS HUGEINT) * c6) AS sc,
        |    sum(CAST(n AS HUGEINT) * s6) AS ss
        |  FROM tr GROUP BY 1, 2),
        |p AS (SELECT *, sc * sc + ss * ss AS p FROM g),
        |w AS (SELECT *, sum(p) OVER (PARTITION BY event_type) AS ptot,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY p DESC, k) AS rk
        |  FROM p)
        |SELECT event_type, k AS cycles,
        |  floor(CAST(p AS DOUBLE) / (1e12 * CAST(dd AS DOUBLE))
        |    * 1e6 + 0.5) / 1e6 AS power,
        |  CASE WHEN ptot > 0 THEN floor(CAST(p AS DOUBLE)
        |    / CAST(ptot AS DOUBLE) * 1e6 + 0.5) / 1e6 END
        |    AS power_share,
        |  rk = 1 AS dominant
        |FROM w ORDER BY event_type, cycles""".stripMargin,

    "q352_topk_churn" ->
      """WITH dly AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |      AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |tk AS (SELECT day, l_partkey FROM (SELECT *,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY qty DESC, l_partkey) AS rk
        |  FROM dly) WHERE rk <= 10),
        |sz AS (SELECT day, CAST(count(*) AS BIGINT) AS kk FROM tk
        |  GROUP BY 1),
        |nx AS (SELECT day, kk,
        |    lead(day) OVER (ORDER BY day) AS next_day
        |  FROM sz),
        |nn AS (SELECT * FROM nx WHERE next_day IS NOT NULL),
        |cm AS (SELECT a.day, CAST(count(*) AS BIGINT) AS c
        |  FROM tk a JOIN nn ON a.day = nn.day
        |  JOIN tk b ON b.day = nn.next_day
        |    AND b.l_partkey = a.l_partkey
        |  GROUP BY 1)
        |SELECT nn.day, nn.next_day, nn.kk AS k_today,
        |  s2.kk AS k_next, coalesce(cm.c, 0) AS n_common,
        |  floor(CAST(coalesce(cm.c, 0) AS DOUBLE)
        |    / CAST(nn.kk + s2.kk - coalesce(cm.c, 0) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM nn JOIN sz s2 ON s2.day = nn.next_day
        |LEFT JOIN cm ON cm.day = nn.day
        |ORDER BY nn.day""".stripMargin,

    "q369_max_drawdown" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (SELECT *, CAST(max(rev) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS peak FROM dly),
        |dd AS (SELECT *, peak - rev AS dd,
        |    row_number() OVER (ORDER BY peak - rev DESC, day) AS rk
        |  FROM p)
        |SELECT day AS trough_day,
        |  floor(CAST(rev AS DOUBLE) / 100.0::DOUBLE * 1e6 + 0.5) / 1e6
        |    AS trough_revenue,
        |  floor(CAST(peak AS DOUBLE) / 100.0::DOUBLE * 1e6 + 0.5)
        |    / 1e6 AS peak_revenue,
        |  floor(CAST(dd AS DOUBLE) / 100.0::DOUBLE * 1e6 + 0.5) / 1e6
        |    AS max_drawdown,
        |  CASE WHEN peak > 0 THEN floor(CAST(dd AS DOUBLE)
        |    / CAST(peak AS DOUBLE) * 1e6 + 0.5) / 1e6 END
        |    AS drawdown_frac
        |FROM dd WHERE rk = 1""".stripMargin,

    "q370_var_cvar" ->
      """WITH dly AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |dl AS (SELECT day, rev - lag(rev) OVER (ORDER BY day) AS dlt
        |  FROM dly),
        |f AS (SELECT day, dlt FROM dl WHERE dlt IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY dlt, day)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM f),
        |k AS (SELECT *, (n + 19) // 20 AS k FROM r)
        |SELECT n AS n_days, CAST(max(k) AS BIGINT) AS tail_days,
        |  floor(CAST(max(CASE WHEN rk = k THEN dlt END) AS DOUBLE)
        |    / 100.0::DOUBLE * 1e6 + 0.5) / 1e6 AS var95,
        |  floor(CAST(sum(CASE WHEN rk <= k THEN CAST(dlt AS HUGEINT)
        |    END) AS DOUBLE) / (CAST(max(k) AS DOUBLE) * 100.0::DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS cvar95
        |FROM k GROUP BY n""".stripMargin,

    "q376_weibull_fit" ->
      """WITH ls AS (SELECT l_orderkey,
        |    max(CAST(l_shipdate AS DATE)) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |du AS (SELECT CAST(last_ship - CAST(o_orderdate AS DATE) + 1
        |      AS BIGINT) AS dur
        |  FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |l6 AS (SELECT CAST(floor(ln(CAST(dur AS DOUBLE)) * 1e6 + 0.5)
        |    AS BIGINT) AS l6
        |  FROM du WHERE dur >= 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l6 AS HUGEINT)) AS s1,
        |    sum(CAST(l6 AS HUGEINT) * l6) AS s2
        |  FROM l6),
        |f AS (SELECT n,
        |    CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mu,
        |    sqrt(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * 1e6) AS sg
        |  FROM a)
        |SELECT n AS n_orders,
        |  floor(mu * 1e6 + 0.5) / 1e6 AS mu_ln,
        |  floor(sg * 1e6 + 0.5) / 1e6 AS sigma_ln,
        |  CASE WHEN sg > 0 THEN floor(1.2825498301618641::DOUBLE / sg
        |    * 1e6 + 0.5) / 1e6 END AS shape_k,
        |  CASE WHEN sg > 0 THEN floor(exp(mu + 0.5772156649015329::DOUBLE
        |    / (1.2825498301618641::DOUBLE / sg)) * 1e6 + 0.5) / 1e6 END
        |    AS scale_lambda
        |FROM f""".stripMargin,

    "q377_chain_ladder" ->
      """WITH cells AS (SELECT
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |      AS BIGINT) AS omo,
        |    greatest(CAST((year(l_shipdate) * 12 + month(l_shipdate))
        |      - (year(o_orderdate) * 12 + month(o_orderdate))
        |      AS BIGINT), 0) AS lag,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS c
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |mx AS (SELECT CAST(max(omo + lag) AS BIGINT) AS mm,
        |    CAST(max(lag) AS BIGINT) AS ml FROM cells),
        |grid AS (SELECT o.omo, mx.mm,
        |    CAST(unnest(range(0, mx.ml + 1)) AS BIGINT) AS lag
        |  FROM (SELECT DISTINCT omo FROM cells) o, mx),
        |den AS (SELECT grid.omo, grid.lag, grid.mm,
        |    coalesce(cells.c, 0) AS c
        |  FROM grid LEFT JOIN cells ON grid.omo = cells.omo
        |    AND grid.lag = cells.lag),
        |cm AS (SELECT *, CAST(sum(c) OVER (PARTITION BY omo
        |      ORDER BY lag) AS BIGINT) AS cumc,
        |    mm - omo AS horizon
        |  FROM den),
        |j AS (SELECT a.lag, a.cumc, b.cumc AS cum_next
        |  FROM cm a JOIN cm b ON a.omo = b.omo AND b.lag = a.lag + 1
        |  WHERE a.horizon >= a.lag + 1),
        |g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_months,
        |    sum(CAST(cumc AS HUGEINT)) AS sk,
        |    sum(CAST(cum_next AS HUGEINT)) AS sk1
        |  FROM j GROUP BY 1)
        |SELECT lag AS dev_lag, n_months,
        |  floor(CAST(sk1 AS DOUBLE) / CAST(sk AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS dev_factor
        |FROM g WHERE sk > 0 ORDER BY dev_lag""".stripMargin,

    "q379_record_days" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n,
        |    max(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prior_max,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS t
        |  FROM dly),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN prior_max IS NULL OR n > prior_max
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
        |    CAST(sum(1000000 // t) AS BIGINT) AS h6
        |  FROM w GROUP BY 1)
        |SELECT event_type, n_days, n_records,
        |  floor(CAST(h6 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
        |    AS expected_records,
        |  CASE WHEN h6 > 0 THEN floor(CAST(n_records AS DOUBLE) * 1e6
        |    / CAST(h6 AS DOUBLE) * 1e6 + 0.5) / 1e6 END
        |    AS record_ratio
        |FROM g ORDER BY event_type""".stripMargin,

    "q381_rmst" ->
      """WITH u0 AS (SELECT user_id,
        |    min(CAST(ts AS DATE)) AS first_day,
        |    max(CAST(ts AS DATE)) AS last_day,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) AS first_purchase
        |  FROM events GROUP BY 1),
        |u AS (SELECT user_id,
        |    CAST(CASE WHEN first_purchase IS NOT NULL
        |      THEN first_purchase - first_day
        |      ELSE last_day - first_day END AS BIGINT) AS t,
        |    first_purchase IS NOT NULL AS purchased
        |  FROM u0),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN purchased THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(sum(CASE WHEN purchased THEN 0 ELSE 1 END) AS BIGINT)
        |      AS c
        |  FROM u GROUP BY 1),
        |tt AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_users FROM bt),
        |st AS (SELECT t, d, c, n_users,
        |    CAST(sum(d + c) OVER (ORDER BY t) AS BIGINT) AS cum_all
        |  FROM bt, tt),
        |tm AS (SELECT *, n_users - cum_all + d + c AS at_risk,
        |    CASE WHEN d > 0 AND n_users - cum_all + d + c > d THEN
        |      floor(ln(CAST(n_users - cum_all + c AS DOUBLE)
        |        / CAST(n_users - cum_all + d + c AS DOUBLE))
        |        * 1e6 + 0.5) / 1e6 ELSE 0.0::DOUBLE END AS term
        |  FROM st),
        |ls AS (SELECT *, sum(term) OVER (ORDER BY t) AS ln_survival,
        |    max(CASE WHEN d > 0 AND at_risk <= d THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t) AS dead
        |  FROM tm),
        |sg AS (SELECT *,
        |    CASE WHEN dead = 1 THEN 0 ELSE
        |      CAST(floor(exp(ln_survival) * 1e6 + 0.5) AS BIGINT) END
        |      AS s6,
        |    coalesce(lead(t) OVER (ORDER BY t), 7) AS t_next,
        |    row_number() OVER (ORDER BY t) AS rn
        |  FROM ls),
        |w AS (SELECT n_users,
        |    CASE WHEN rn = 1 THEN least(t, 7) ELSE 0 END * 1000000
        |      + s6 * greatest(least(t_next, 7) - least(t, 7), 0)
        |      AS a6
        |  FROM sg)
        |SELECT CAST(7 AS BIGINT) AS tau_days,
        |  CAST(max(n_users) AS BIGINT) AS n_users,
        |  floor(CAST(sum(a6) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
        |    AS rmst_purchase_free_days,
        |  floor(CAST(sum(a6) AS DOUBLE) / (7.0::DOUBLE * 1e6)
        |    * 1e6 + 0.5) / 1e6 AS rmst_fraction
        |FROM w""".stripMargin,

    "q356_ar1_backtest" ->
      """WITH dly AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT event_type, day, y,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY day) AS x
        |  FROM dly),
        |p AS (SELECT * FROM pr WHERE x IS NOT NULL),
        |st AS (SELECT event_type, day, y, x,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n,
        |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS sx,
        |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS sy,
        |    sum(CAST(x AS HUGEINT) * x)
        |      OVER (PARTITION BY event_type) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y)
        |      OVER (PARTITION BY event_type) AS sxy
        |  FROM p),
        |e AS (SELECT *,
        |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
        |      AS den,
        |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |      AS phn
        |  FROM st),
        |r AS (SELECT event_type, n, phn, den,
        |    CAST(y AS HUGEINT) * n * den
        |      - (CAST(sy AS HUGEINT) * den - phn * sx)
        |      - CAST(n AS HUGEINT) * phn * x AS ev,
        |    CAST(y AS HUGEINT) - x AS dv
        |  FROM e),
        |g AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
        |    max(phn) AS phnv, max(den) AS denv,
        |    sum(abs(ev)) AS sae, sum(abs(dv)) AS snaive
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_pairs,
        |  CASE WHEN denv > 0 THEN floor(CAST(phnv AS DOUBLE)
        |    / CAST(denv AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS phi,
        |  CASE WHEN denv > 0 AND snaive > 0 THEN
        |    floor((1.0::DOUBLE - CAST(sae AS DOUBLE)
        |      / CAST(CAST(n_pairs AS HUGEINT) * denv * snaive
        |        AS DOUBLE)) * 1e6 + 0.5) / 1e6 END AS skill_vs_naive
        |FROM g ORDER BY event_type""".stripMargin,

    "q361_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7
        |      AS BIGINT) AS wk
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
        |cur AS (SELECT u.wk,
        |    CASE WHEN u.wk = f.fw THEN 1 ELSE 0 END AS is_new,
        |    CASE WHEN u.wk <> f.fw AND p.user_id IS NOT NULL THEN 1
        |      ELSE 0 END AS is_ret,
        |    CASE WHEN u.wk <> f.fw AND p.user_id IS NULL THEN 1
        |      ELSE 0 END AS is_res
        |  FROM uw u JOIN fw f ON u.user_id = f.user_id
        |  LEFT JOIN uw p ON p.user_id = u.user_id
        |    AND p.wk + 1 = u.wk),
        |g AS (SELECT wk, CAST(count(*) AS BIGINT) AS actives,
        |    CAST(sum(is_new) AS BIGINT) AS new_u,
        |    CAST(sum(is_ret) AS BIGINT) AS retained,
        |    CAST(sum(is_res) AS BIGINT) AS resurrected
        |  FROM cur GROUP BY 1),
        |ch AS (SELECT a.wk + 1 AS wk,
        |    CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS churned
        |  FROM uw a LEFT JOIN uw b ON b.user_id = a.user_id
        |    AND b.wk = a.wk + 1
        |  GROUP BY 1)
        |SELECT g.wk AS week, actives, new_u, retained, resurrected,
        |  coalesce(ch.churned, 0) AS churned,
        |  CASE WHEN coalesce(ch.churned, 0) > 0 THEN
        |    floor(CAST(new_u + resurrected AS DOUBLE)
        |      / CAST(ch.churned AS DOUBLE) * 1e6 + 0.5) / 1e6 END
        |    AS quick_ratio
        |FROM g LEFT JOIN ch ON g.wk = ch.wk ORDER BY week""".stripMargin,

    "q362_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |f AS (SELECT DISTINCT user_id,
        |    day + CAST(off AS INTEGER) AS day
        |  FROM ud, range(0, 7) r(off)),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM f
        |  GROUP BY 1),
        |sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud)
        |SELECT dau.day, dau.dau, wau.wau,
        |  floor(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) * 1e6
        |    + 0.5) / 1e6 AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day, sp
        |WHERE dau.day - d0 >= 6 AND dau.day <= d1
        |ORDER BY dau.day""".stripMargin
  )
}
