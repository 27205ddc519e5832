package graft.queries

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.7) — the reference declares the whole
  * catalogue with zero implementation (functions/window.rs:1-11,
  * src/window.rs:8-22 "sticking close to what Spark does" — its spec IS
  * Spark's spec). All ranking/offset/frame forms here, plus event-time
  * tumbling windows (`window()`) which subsume the reference's absent
  * time handling.
  *
  * Partition keys are chosen for scale: l_suppkey / user_id give
  * |keys| ≫ |executors| so the window shuffle balances; nothing
  * partitions on a constant.
  */
object Windows extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ranking family: rank/dense_rank/percent_rank/cume_dist share an
    // order with real ties (quantity); row_number/ntile need a total
    // order to be deterministic.
    "q45_window_rank" -> ((s, d) => {
      val byQty = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc)
      val total = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rnk", rank().over(byQty))
        .withColumn("drnk", dense_rank().over(byQty))
        .withColumn("prnk", round(percent_rank().over(byQty), 6))
        .withColumn("cdist", round(cume_dist().over(byQty), 6))
        .withColumn("rn", row_number().over(total))
        .withColumn("tile", ntile(4).over(total))
        .filter(col("rn") <= 5)
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // value-position family: nth_value (null until the frame holds n
    // rows) and first/last_value with IGNORE NULLS skipping the
    // deterministic null pattern — the gap-fill shape (carry the last
    // observed reading forward past missing values).
    // §2.7 surface demo of nth_value/first/last with running frames —
    // the per-status running scan IS the requested semantic here (a
    // 3-value partition key over raw orders would be a funnel in a
    // pipeline operator; for the window-function catalog demo the
    // partition spec is the point, and users pick their own keys).
    "q45b_window_nth" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("p",
          when(pmod(col("o_custkey"), lit(3)) === 0, lit(null).cast("double"))
            .otherwise(col("o_totalprice")))
        .select(
          col("o_orderkey"),
          nth_value(col("o_totalprice"), 3).over(w).as("nv"),
          first(col("p"), ignoreNulls = true).over(w).as("fv"),
          last(col("p"), ignoreNulls = true).over(w).as("lv"))
        .orderBy(col("o_orderkey"))
    }),

    "q46_window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // running aggregates over a rows frame + a 30-day range frame
    // (epoch-seconds ordering so Spark's long-offset rangeBetween and
    // DuckDB's numeric RANGE agree exactly).
    "q47_window_frames" -> ((s, d) => {
      val rows = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val range = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-30L * 86400, 0)
      Tables.orders(s, d)
        .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
        .withColumn("running_total", round(sum(col("o_totalprice")).over(rows), 2))
        .withColumn("running_n", count(lit(1)).over(rows))
        .withColumn("n_last_30d", count(lit(1)).over(range))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("running_total"), col("running_n"), col("n_last_30d"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }),

    // event-time tumbling window (batch window(); epoch-aligned in both
    // engines for day widths).
    "q48_window_time" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
        .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("v"))
        .orderBy(col("wstart"), col("event_type")))
,
    // event-time session windows (gap-merged): Spark's session_window
    // starts a new session when the next event is >= 30 min after the
    // previous one (window end = last event + gap, end-exclusive). The
    // oracle reproduces that with a lag/step-sum — the standard
    // sessionization idiom. min/max aggregates keep the row exact
    // (summation-order-free) for the hash gate.
    "q49_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("min_value"), col("max_value"))
        .orderBy(col("user_id"), col("session_start"))),

    // SCD2 historization — the dimension-maintenance complement of
    // q106's MERGE upsert: each user's event_type stream is collapsed
    // into versioned validity intervals (gaps-and-islands: a lag-based
    // change flag, a running sum as the run id, lead(valid_from) as the
    // exclusive valid_to; the open row carries a 2200-01-01 open-interval
    // sentinel instead of NULL, which keeps the hash gate away from
    // NaT AND stays inside pandas datetime64[ns] range — the classic
    // 9999-12-31 sentinel silently wraps when pyarrow reads µs/INT96
    // parquet into ns-precision pandas). Scale shape: every window and the run aggregation key
    // on user_id, so ONE hash exchange serves the lag, the running
    // sum, the groupBy (subset-clustering satisfies (user_id, run)),
    // and the lead — no per-version reshuffle.
    // Gaps-and-islands sessionization — the window-function spelling of
    // q49's session_window builtin, for the engines/outputs the builtin
    // can't serve: explicit per-user session NUMBERS (ordinal ids a
    // downstream join can key on) and exact µs durations. new-session
    // flag = lag gap > 30 min, session id = running sum of flags; both
    // windows and the (user, session) aggregate key on user_id, so the
    // whole query rides ONE hash exchange (the q120 subset-clustering
    // shape). Tied timestamps are safe by construction: the default
    // RANGE frame gives peers the same running sum (one session) and
    // their flag total is order-independent. Duration stays in exact
    // integer µs — no float division anywhere.
    "q135_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val gapUs = 30L * 60 * 1000000
      Tables.events(s, d)
        .select(col("user_id"), col("ts"))
        .withColumn("nf",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              > gapUs, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("nf")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"))))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .withColumn("duration_us",
          unix_micros(col("session_end")) - unix_micros(col("session_start")))
        .orderBy(col("user_id"), col("sess_id"))
    }),

    "q120_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val open = lit("2200-01-01 00:00:00").cast("timestamp")
      val wr = Window.partitionBy(col("user_id")).orderBy(col("version"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull
            || lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg")).over(w))
        .groupBy(col("user_id"), col("version"))
        .agg(min(col("event_type")).as("state"),
          min(col("ts")).as("valid_from"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to",
          coalesce(lead(col("valid_from"), 1).over(wr), open))
        .withColumn("is_current", col("valid_to") === open)
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), col("valid_to"), col("is_current"),
          col("n_events"))
        .orderBy(col("user_id"), col("version"))
    }),

    // 2-D skyline (pareto frontier) per brand — the "no part is both
    // cheaper AND bigger" query behind product recommendation and
    // multi-objective pruning. The naive formulation is an O(n²)
    // dominance self-join; in 2-D it collapses to ONE brand-partitioned
    // sort (price asc, size desc) + a running max over the preceding
    // rows: a row survives iff its size beats every earlier (i.e.
    // cheaper-or-equal) size. Distinct (price, size) first so same-tuple
    // ties don't false-dominate. At 100 TB this is sort + linear scan
    // per partition vs the join's quadratic blow-up — the oracle BELOW
    // deliberately runs the quadratic NOT EXISTS form, so the two
    // engines reach the frontier by independent algorithms.
    "q149_skyline" -> ((s, d) => {
      // skyline probe via DistributedRank.withExclMax, not a
      // brand-partitioned window: 25 brands × part-scale
      // frames through one sort task each is the q179 funnel class;
      // the bucketed exclusive running max is value-identical
      // (greatest skips nulls exactly like the empty leading frame).
      graft.ops.DistributedRank.withExclMax(
          Tables.part(s, d)
            .select(col("p_brand"), col("p_retailprice"), col("p_size"))
            .distinct(),
          Seq(col("p_retailprice").asc, col("p_size").desc),
          Seq("p_brand"), col("p_size"), "best_size_so_far")
        .filter(col("best_size_so_far").isNull
          || col("p_size") > col("best_size_so_far"))
        .select(col("p_brand"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_brand"), col("p_retailprice"), col("p_size"))
    }),

    // Session path mining — the clickstream question behind every
    // product-analytics tool: which event SEQUENCES do sessions follow,
    // and how often? Sessions are the q135 gaps-and-islands (30-min
    // inactivity), but ordered by the (ts, event_id) TOTAL order so the
    // path string is well-defined under duplicate timestamps. Per-session
    // state is a collect bounded by session length and capped at 12
    // steps (slice before concat — a runaway session can't make an
    // unbounded string); the path histogram is then a map-side-combined
    // count on the path string. Shuffles: one user-keyed sort shared by
    // the lag and the collect, one path-keyed aggregation of
    // session-sized rows.
    "q153_session_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("nf",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              > gapUs, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("nf")).over(w))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(sort_array(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(array_join(
          slice(transform(col("evs"), e => e.getField("event_type")), 1, 12),
          ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("path"))
    }),

    // Pareto 80/20 contribution analysis — which customers make 80% of
    // each nation's revenue. Revenue aggregates per (nation, customer)
    // first (the corpus stage, map-side combined), then ONE
    // nation-partitioned window sorted (revenue desc, custkey) drives
    // everything. The running total accumulates in DECIMAL, not double:
    // DuckDB evaluates windowed sums over a segment tree, so even an
    // ordered frame does NOT fix the floating addition sequence —
    // decimal arithmetic is exact in any order, making the cumulative
    // total, the partition total (max of the monotone running sum — the
    // revenues are positive), and the 80%-head test (decimal×integer,
    // no 0.8 literal whose scale could differ) bit-identical
    // cross-engine; only the final share is a double division of two
    // exact decimals. A customer is in the head while the PREVIOUS
    // cumulative total sits below 80% (lag, not cum−rev: floating
    // subtraction does not invert accumulation). No global sort — the
    // window keys on nation.
    "q156_pareto" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
      // revenue accumulates in DECIMAL (the q163 recipe): at sf0.1 one
      // customer's round(sum(double), 2) landed exactly on a half-cent
      // (1114395.005 — measured) where Spark's shortest-repr HALF_UP
      // and DuckDB's binary round diverge; 2-decimal factors make the
      // scale-4 products and their sum exact in any order.
      val rev = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)")
              - col("l_discount").cast("decimal(12,2)")))
          .cast("decimal(18,2)").cast("double").as("revenue"))
      // cumulative revenue via DistributedRank, not a nation-
      // partitioned window (the q179 funnel class: 25
      // nations × customer-scale frames through one sort task each).
      // run_rev is the same inclusive DECIMAL prefix sum — exact in
      // any order — so the previous row's cumulative total is
      // recovered as run_rev − revenue (exact decimal subtraction
      // inverts exact accumulation; the "lag, not cum−rev" rule
      // guards FLOATING folds only), and the partition total is the
      // group total the helper already computes.
      graft.ops.DistributedRank.withRank(rev,
          Seq(col("revenue").desc, col("c_custkey")), Seq("c_nationkey"),
          sums = Seq("rev" -> col("revenue").cast("decimal(18,2)")))
        .withColumn("cum_share",
          col("run_rev").cast("double") / col("tot_rev").cast("double"))
        .withColumn("in_top80",
          (col("run_rev") - col("revenue").cast("decimal(18,2)"))
            * lit(10) < col("tot_rev") * lit(8))
        .select(col("c_nationkey"), col("c_custkey"), col("revenue"),
          col("cum_share"), col("in_top80"))
        .orderBy(col("c_nationkey"), col("revenue").desc, col("c_custkey"))
    }),

    // Gini coefficient of customer revenue per nation — the inequality
    // readout behind q156's 80/20 view, one number per nation:
    // G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over ascending-sorted
    // values. Scale shape: the corpus collapses to the per-customer
    // frame first; the rank window partitions by NATION (never a
    // global sort) over a (revenue, custkey) total order. Determinism:
    // revenues convert to exact integer CENTS, so Σx and Σ rank·x are
    // LONG folds — order-free — and the coefficient is one division
    // of exact longs (2·S1 and (n+1)·S0 stay far under 2⁶³). The
    // oracle computes the same closed form independently.
    "q179_gini" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        // exact integer cents straight from the DECIMAL accumulation
        // (the q163/q156 recipe — round(sum(double),2)·100 flips on
        // half-cent boundaries at sf0.1)
        .agg((sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1).cast("decimal(12,2)")
              - col("l_discount").cast("decimal(12,2)")))
          .cast("decimal(18,2)") * 100).cast("long").as("cents"))
      // rank via DistributedRank, not a nation-partitioned window:
      // 25 nations × customer-scale frames would put each
      // nation's whole customer set through ONE sort task — the same
      // funnel as the de-globalized q380 family, one level down
      // (partitioned by a bounded key instead of unpartitioned). The
      // range-bucket rank is byte-identical to row_number over the
      // same (cents, custkey) total order.
      graft.ops.DistributedRank.withRank(rev,
          Seq(col("cents"), col("c_custkey")), Seq("c_nationkey"),
          rkCol = "rnk", nCol = "n_in_nation")
        .withColumn("rnk", col("rnk").cast("long"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("s0"),
          sum(col("rnk") * col("cents")).as("s1"))
        .select(col("c_nationkey"), col("n"),
          ((lit(2L) * col("s1") - (col("n") + 1) * col("s0")).cast("double")
            / (col("n") * col("s0")).cast("double")).as("gini"))
        .orderBy(col("c_nationkey"))
    }),

    // Percent-of-parent hierarchy report (the classic BI drill-down:
    // each nation's revenue as a share of its region and of the grand
    // total). The ONE corpus-scale stage is the (region, nation)
    // aggregation — exact DECIMAL (q163 recipe), map-side combined,
    // keyed on the group; both parent totals are then window sums
    // OVER THE ≤|nations| GROUPED FRAME (25 rows at any scale factor —
    // the single-partition global window is bounded by the dimension,
    // never the corpus). Shares divide exact decimals once, in double,
    // identically spelled on both engines.
    "q201_pct_of_parent" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"), col("r_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      val grouped = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("decimal(18,2)").as("rev_dec"))
      val wRegion = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy()
      grouped
        .withColumn("region_dec", sum(col("rev_dec")).over(wRegion))
        .withColumn("total_dec", sum(col("rev_dec")).over(wAll))
        .select(col("r_name"), col("n_name"),
          col("rev_dec").cast("double").as("revenue"),
          (col("rev_dec").cast("double") / col("region_dec").cast("double"))
            .as("pct_of_region"),
          (col("rev_dec").cast("double") / col("total_dec").cast("double"))
            .as("pct_of_total"))
        .orderBy(col("r_name"), col("n_name"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q135_sessionize" ->
      """WITH x AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS nf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts) AS sess_id
        |  FROM x)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,

    "q45_window_rank" ->
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    rank() OVER wq AS rnk,
        |    dense_rank() OVER wq AS drnk,
        |    round(percent_rank() OVER wq, 6) AS prnk,
        |    round(cume_dist() OVER wq, 6) AS cdist,
        |    row_number() OVER wt AS rn,
        |    ntile(4) OVER wt AS tile
        |  FROM lineitem
        |  WINDOW wq AS (PARTITION BY l_suppkey ORDER BY l_quantity DESC),
        |    wt AS (PARTITION BY l_suppkey
        |           ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC))
        |WHERE rn <= 5 ORDER BY l_suppkey, rn""".stripMargin,

    "q45b_window_nth" ->
      """SELECT o_orderkey,
        |  nth_value(o_totalprice, 3) OVER w AS nv,
        |  first_value(p IGNORE NULLS) OVER w AS fv,
        |  last_value(p IGNORE NULLS) OVER w AS lv
        |FROM (SELECT *, CASE WHEN o_custkey % 3 = 0 THEN NULL
        |                     ELSE o_totalprice END AS p FROM orders)
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q46_window_lag_lead" ->
      """SELECT user_id, event_id, ts, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q47_window_frames" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(sum(o_totalprice) OVER wr, 2) AS running_total,
        |  count(*) OVER wr AS running_n,
        |  count(*) OVER wg AS n_last_30d
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wg AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q48_window_time" ->
      """SELECT time_bucket(INTERVAL '1 day', ts) AS wstart, event_type,
        |  count(*) AS n, round(sum(value), 4) AS v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q49_session_window" ->
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           IS NULL
        |         OR epoch(ts - lag(ts) OVER (PARTITION BY user_id
        |              ORDER BY ts, event_id)) >= 1800
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q120_scd2" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r2 AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS version FROM r),
        |g AS (SELECT user_id, version, min(event_type) AS state,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM r2 GROUP BY user_id, version),
        |f AS (SELECT *, coalesce(lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY version),
        |    TIMESTAMP '2200-01-01 00:00:00') AS valid_to FROM g)
        |SELECT user_id, version, state, valid_from, valid_to,
        |  valid_to = TIMESTAMP '2200-01-01 00:00:00' AS is_current,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM f ORDER BY user_id, version""".stripMargin,

    // independent algorithm on purpose: quadratic NOT-EXISTS dominance
    // over distinct tuples, vs Spark's sort + running-max linear scan.
    "q149_skyline" ->
      """WITH t AS (SELECT DISTINCT p_brand, p_retailprice, p_size
        |  FROM part)
        |SELECT p_brand, p_retailprice, p_size FROM t t1
        |WHERE NOT EXISTS (SELECT 1 FROM t t2
        |  WHERE t2.p_brand = t1.p_brand
        |    AND t2.p_retailprice <= t1.p_retailprice
        |    AND t2.p_size >= t1.p_size
        |    AND (t2.p_retailprice < t1.p_retailprice
        |         OR t2.p_size > t1.p_size))
        |ORDER BY p_brand, p_retailprice, p_size""".stripMargin,

    // list(... ORDER BY ts, event_id) = the Spark sort_array over the
    // same total order; list_slice caps at the same 12 steps.
    "q153_session_paths" ->
      """WITH x AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS nf
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, event_id, event_type,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS sess_id
        |  FROM x),
        |p AS (SELECT array_to_string(list_slice(
        |      list(event_type ORDER BY ts, event_id), 1, 12), '>') AS path
        |  FROM g GROUP BY user_id, sess_id)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY path ORDER BY path""".stripMargin,

    // DECIMAL accumulation: exact in any order, so DuckDB's
    // segment-tree window sum and Spark's running sum agree exactly;
    // the head test is decimal×integer (10·prev < 8·total), no float.
    "q156_pareto" ->
      """WITH rev AS (SELECT c.c_nationkey, c.c_custkey,
        |    CAST(round(sum(l.l_extendedprice::DECIMAL(12,2)
        |      * (1 - l.l_discount::DECIMAL(12,2))), 2) AS DOUBLE)
        |      AS revenue
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |x AS (SELECT c_nationkey, c_custkey, revenue,
        |    sum(CAST(revenue AS DECIMAL(18,2))) OVER (
        |      PARTITION BY c_nationkey
        |      ORDER BY revenue DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM rev),
        |y AS (SELECT *,
        |    lag(cum_rev) OVER (PARTITION BY c_nationkey
        |      ORDER BY revenue DESC, c_custkey) AS prev_cum,
        |    max(cum_rev) OVER (PARTITION BY c_nationkey) AS nation_rev
        |  FROM x)
        |SELECT c_nationkey, c_custkey, revenue,
        |  CAST(cum_rev AS DOUBLE) / CAST(nation_rev AS DOUBLE)
        |    AS cum_share,
        |  coalesce(prev_cum, 0) * 10 < nation_rev * 8 AS in_top80
        |FROM y ORDER BY c_nationkey, revenue DESC, c_custkey""".stripMargin,

    "q179_gini" ->
      """WITH rev AS (SELECT c_nationkey, c_custkey,
        |    CAST(round(sum(l_extendedprice::DECIMAL(12,2)
        |      * (1 - l_discount::DECIMAL(12,2))), 2) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem, orders, customer
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_nationkey, cents,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cents, c_custkey) AS BIGINT) AS rnk
        |  FROM rev),
        |g AS (SELECT c_nationkey, count(*) AS n,
        |    sum(cents) AS s0, sum(rnk * cents) AS s1
        |  FROM r GROUP BY 1)
        |SELECT c_nationkey, CAST(n AS BIGINT) AS n,
        |  CAST(2 * s1 - (n + 1) * s0 AS DOUBLE)
        |    / CAST(n * s0 AS DOUBLE) AS gini
        |FROM g ORDER BY c_nationkey""".stripMargin,

    "q201_pct_of_parent" ->
      """WITH g AS (
        |  SELECT r_name, n_name,
        |    round(sum(o_totalprice::DECIMAL(12,2)), 2) AS rev_dec
        |  FROM orders, customer, nation, region
        |  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE)
        |    / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
        |    AS pct_of_region,
        |  CAST(rev_dec AS DOUBLE)
        |    / CAST(sum(rev_dec) OVER () AS DOUBLE) AS pct_of_total
        |FROM g ORDER BY r_name, n_name""".stripMargin
  )
}
