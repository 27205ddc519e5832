package graft.queries

import graft.{QueryModule, Tables}
import graft.ops.Parity.{dec, dec19, idiv, ln6, snap6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling + exact-decimal arithmetic.
  *
  * q92 is `Dataset.describe()`/`summary()` re-expressed as a verifiable
  * query: one aggregation pass over the table computes
  * count/mean/stddev/min/max for every profiled column (a single
  * partial-agg → 1-row final, no per-column jobs), then `stack` pivots
  * the row into the long form `describe` prints. The reference exposes
  * per-column aggregates (aggregation.rs) but no profile surface; this
  * is the shape its users compose by hand. Means/stddevs are rounded to
  * 6 decimals to absorb parallel-summation order across engines.
  *
  * q94 covers the Decimal type (SURVEY §3 lists it as the one scalar
  * type the reference never constructs): money math on DECIMAL(14,2)
  * with exact (not float) sums, including the widened DECIMAL(29,4)
  * product lattice of price × (1 - discount). Results are emitted as
  * strings so both engines compare the exact decimal digits — no
  * rounding anywhere. At 100 TB this is the difference between a ledger
  * that balances and one that drifts: double sums lose cents at ~1e9
  * rows, decimal sums cannot.
  */
object Profile extends QueryModule {

  private val profiled =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q282's two-sided-geometric inverse-CDF tables, ONE source of
    * truth for both engines: per noise scale α (micro units), the
    * cumulative (threshold_micro, noise) table for magnitudes 0..±4
    * (tail collapsed to −4, the q254 truncation). Thresholds are
    * BigDecimal-exact micro-roundings of P(0)=(1−α)/(1+α),
    * P(±k)=P(0)·α^k — embedded verbatim in the Spark when-chain AND
    * interpolated into the oracle SQL, so the tables cannot drift.
    */
  private val DpAlphas: Seq[(Long, Seq[(Long, Long)])] =
    Seq(BigDecimal(3) / 4, BigDecimal(1) / 2, BigDecimal(1) / 4).map { a =>
      val p0 = (1 - a) / (1 + a)
      val vals = Seq(0L, 1L, -1L, 2L, -2L, 3L, -3L, 4L)
      var cum = BigDecimal(0)
      val table = vals.map { v =>
        cum += (if (v == 0L) p0 else p0 * a.pow(math.abs(v).toInt))
        ((cum * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toLong, v)
      }
      ((a * 1000000).toLong, table)
    }

  /** q258/q281's shared frames over the distinct (event_type,
    * user_id) audience rows. Returns the [[graft.ops.MinHash]]
    * signature rows paired across types (type_a, type_b, p, sig_a,
    * sig_b; type_a < type_b), and a function that attaches the exact
    * Jaccard (n_inter, n_a, n_b, exact_jaccard) to a (type_a,
    * type_b)-keyed estimate. Signature, intersection and set sizes all
    * read the one distinct exchange.
    */
  private def audiencePairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame => DataFrame) = {
    val tu = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val sigs = graft.ops.MinHash.sigRows(tu, Seq("event_type"), "user_id")
    val pairs = sigs.select(col("event_type").as("type_a"), col("p"),
        col("sig").as("sig_a"))
      .join(sigs.select(col("event_type").as("type_b"), col("p"),
        col("sig").as("sig_b")), Seq("p"))
      .filter(col("type_a") < col("type_b"))
    val sizes = tu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val inter = tu.select(col("event_type").as("type_a"),
        col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    (pairs, est => est.join(inter, Seq("type_a", "type_b"))
      .join(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a")), Seq("type_a"))
      .join(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b")), Seq("type_b"))
      .withColumn("exact_jaccard", col("n_inter").cast("double")
        / (col("n_a") + col("n_b") - col("n_inter")).cast("double")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // describe/summary: single-pass stats for all columns, stacked long.
    "q92_describe" -> ((s, d) => {
      val aggs = profiled.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          count(col(c)).as(s"c$i"),
          round(avg(col(c)), 6).as(s"m$i"),
          round(stddev(col(c)), 6).as(s"s$i"),
          min(col(c)).as(s"lo$i"),
          max(col(c)).as(s"hi$i"))
      }
      val stackArgs = profiled.zipWithIndex
        .map { case (c, i) => s"'$c', c$i, m$i, s$i, lo$i, hi$i" }
        .mkString(", ")
      Tables.lineitem(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${profiled.length}, $stackArgs)" +
          " AS (col_name, cnt, mean, std, minv, maxv)")
        .orderBy(col("col_name"))
    }),

    // contingency table (df.stat.crosstab): counts of every
    // returnflag × linestatus combination, one pivoted row per flag.
    // Single shuffle on the group key; the pivot columns ('F','O') are
    // data values, so the oracle spells them as FILTER aggregates.
    "q97_crosstab" -> ((s, d) =>
      Tables.lineitem(s, d)
        .stat.crosstab("l_returnflag", "l_linestatus")
        .orderBy(col("l_returnflag_l_linestatus"))),

    // unionByName with allowMissingColumns: schema-evolution union —
    // two projections with different column sets align BY NAME (not
    // position, unlike positional union/UNION ALL) and absent columns
    // null-fill. The daily-partition backfill shape: yesterday's files
    // lack today's new column.
    "q98_union_byname" -> ((s, d) => {
      val a = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .select(col("o_orderkey"), col("o_totalprice"), lit("a").as("src"))
      val b = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(10)) === 7)
        .select(col("o_orderkey"), col("o_orderpriority"), lit("b").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("o_orderkey"), col("src"))
    }),

    // DataFrameNaFunctions: fill / replace / drop — the null-repair
    // pass every ingest pipeline runs. Nulls are constructed
    // deterministically so both engines see identical null patterns;
    // fill targets one column by name, replace rewrites a non-null
    // value, drop removes rows null in the keyed column only.
    "q99_na_functions" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          expr("nullif(o_orderstatus, 'O')").as("status_n"),
          when(col("o_totalprice") < 150000, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price_n"),
          when(pmod(col("o_custkey"), lit(3)) === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("cust_n"))
        .na.fill(Map("price_n" -> -1.0))
        .na.replace("status_n", Map("F" -> "FINAL"))
        .na.drop(Seq("cust_n"))
        .orderBy(col("o_orderkey"))),

    // exact decimal money math: cast-from-double is exact for the
    // cent-valued corpus (shortest-decimal repr has 2 dp), sums stay in
    // the decimal lattice end-to-end, output as exact digit strings.
    "q94_decimal" -> ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(14,2)")
      val disc = (lit(1) - col("l_discount")).cast("decimal(14,2)")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(price).cast("string").as("sum_price"),
          sum(price * disc).cast("decimal(38,4)").cast("string")
            .as("sum_disc_price"),
          min(price).cast("string").as("min_price"),
          max(price).cast("string").as("max_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Declarative data-quality audit (the Deequ/expectations pattern):
    // a constraint suite evaluated in as few passes as the constraint
    // classes allow — all ROW-LEVEL checks (range, domain, completeness)
    // fold into ONE aggregation scan of the table (conditional sums →
    // a 1-row frame unpivoted to one row per check); key UNIQUENESS
    // needs its own distinct aggregation (its shuffle is keyed, not
    // foldable into the row scan); REFERENTIAL integrity is a
    // broadcast left join + null-probe count (the dimension is the
    // small side — the fact side never reshuffles). At 100 TB this is
    // the nightly gate that decides whether a partition ships: 3
    // bounded-output passes, no row-level violation materialization.
    // The synthetic corpus makes two checks genuinely fail —
    // (l_orderkey, l_linenumber) is NOT unique here, and discounts
    // exceed the 0.08 "business rule" — so the report proves it
    // counts, not rubber-stamps.
    "q121_quality_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val vio = (c: org.apache.spark.sql.Column) =>
        sum(when(c, 1L).otherwise(0L))
      val row = li.agg(
        count(lit(1)).as("n"),
        vio(col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
        vio(col("l_discount") < 0 || col("l_discount") > 0.08).as("v_disc"),
        vio(!col("l_returnflag").isin("A", "N", "R")).as("v_flag"),
        vio(col("l_shipdate").isNull).as("v_ship"))
      val rowChecks = row.select(explode(array(
        struct(lit("li_discount_le_0.08").as("check_name"),
          col("n").as("n_checked"), col("v_disc").as("n_violations")),
        struct(lit("li_flag_domain").as("check_name"),
          col("n").as("n_checked"), col("v_flag").as("n_violations")),
        struct(lit("li_quantity_range").as("check_name"),
          col("n").as("n_checked"), col("v_qty").as("n_violations")),
        struct(lit("li_shipdate_complete").as("check_name"),
          col("n").as("n_checked"), col("v_ship").as("n_violations"))))
        .as("c")).select(col("c.*"))
      val uniq = li
        .agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - count_distinct(struct(col("l_orderkey"),
            col("l_linenumber")))).as("n_violations"))
        .select(lit("li_key_unique").as("check_name"),
          col("n_checked"), col("n_violations"))
      val ri = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"))), col("o_custkey") === col("c_custkey"),
          "left")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("n_violations"))
        .select(lit("orders_custkey_ri").as("check_name"),
          col("n_checked"), col("n_violations"))
      rowChecks.unionByName(uniq).unionByName(ri)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy(col("check_name"))
    }),

    // Snapshot reconciliation diff (the Datafold / data-diff pattern):
    // given two versions of a 100 TB table, report what changed —
    // added / removed / changed / unchanged — WITHOUT comparing wide
    // rows: each side collapses every non-key column into one md5 row
    // digest at scan time, so the full-outer join on the key carries
    // (key, 32-byte digest) and nothing else; classification is digest
    // (in)equality, and the report aggregates to |classes| rows with
    // min/max key as the audit sample. One shuffle per side, both on
    // the key. Doubles enter the digest through DECIMAL(18,2) — the
    // one string rendering both engines share bit-for-bit (raw
    // double-to-string formatting diverges cross-engine).
    // The two snapshots derive deterministically from orders: v1 drops
    // keys ≡0 (mod 97) [later "added"], v2 drops keys ≡0 (mod 89)
    // ["removed"] and bumps the price of keys ≡0 (mod 7) ["changed"].
    "q131_table_diff" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def digest(price: org.apache.spark.sql.Column) =
        md5(concat_ws("|", col("o_orderstatus"), col("o_orderpriority"),
          price.cast("decimal(18,2)").cast("string"),
          to_date(col("o_orderdate")).cast("string")))
      val v1 = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .select(col("o_orderkey").as("k1"),
          digest(col("o_totalprice")).as("h1"))
      val v2 = o.filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
        .select(col("o_orderkey").as("k2"),
          digest(when(pmod(col("o_orderkey"), lit(7)) === 0,
            col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
            .as("h2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .select(
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("diff_class"),
          coalesce(col("k1"), col("k2")).as("k"))
        .groupBy(col("diff_class"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy(col("diff_class"))
    }),

    // Order-independent table checksum — the replication/migration
    // validator: does this 100 TB table on cluster B hold EXACTLY the
    // rows of cluster A? Each row folds to a 60-bit digest (md5 through
    // the q131 DECIMAL rendering; 15 hex chars so the value sits safely
    // in a signed 64-bit lane) and the table folds to ONE value via
    // bit_xor — XOR is commutative/associative, so the checksum is
    // independent of row order, partitioning, and merge order, and
    // needs no sort: a full-scan map + an 8-byte aggregate, ZERO
    // shuffled rows. Any single-row difference flips the checksum;
    // a swapped pair of rows between tables flips both tables'.
    "q138_table_checksum" -> ((s, d) => {
      def fp(df: DataFrame, name: String,
          rowStr: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
          bit_xor(graft.ops.Text.md5Long(rowStr, 15)).as("checksum"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("checksum"))
      val o = fp(Tables.orders(s, d), "orders",
        concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)"),
          to_date(col("o_orderdate"))))
      val c = fp(Tables.customer(s, d), "customer",
        concat_ws("|", col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal").cast("decimal(18,2)"),
          col("c_mktsegment")))
      val l = fp(Tables.lineitem(s, d), "lineitem",
        concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity").cast("decimal(18,2)")))
      o.unionByName(c).unionByName(l).orderBy(col("table_name"))
    }),

    // Robust outlier detection — median/MAD z-scores, the
    // quality-filter that survives what mean/stddev can't (a single
    // wild value drags the mean; the median shrugs). Two grouped exact
    // medians (value, then absolute deviation — the q39b exact-
    // percentile machinery at group granularity; an approx_percentile
    // swap-in is the documented 100 TB relaxation), each joined back as
    // a ≤|groups|-row broadcast, then a pure per-row filter. The score
    // (value−med)/(1.4826·mad) is division/multiplication over
    // interpolated medians — every step IEEE-exact cross-engine, so no
    // rounding anywhere.
    "q155_mad_outliers" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val m1 = ev.groupBy(col("event_type"))
        .agg(median(col("value")).as("med"))
      val dev = ev.join(broadcast(m1), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val m2 = dev.groupBy(col("event_type"))
        .agg(median(col("adev")).as("mad"))
      dev.join(broadcast(m2), "event_type")
        // MAD = 0 (a constant-valued group) leaves the z undefined —
        // NULL, never an ANSI ÷0 (degenerate probe); the |z| filter
        // then drops the group entirely, mirrored in the oracle
        .withColumn("robust_z",
          when(col("mad") > 0,
            (col("value") - col("med")) / (lit(1.4826) * col("mad"))))
        .filter(abs(col("robust_z")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("robust_z"))
        .orderBy(col("event_id"))
    }),

    // RFM customer segmentation — recency/frequency/monetary scoring,
    // the warehouse-native churn/value model. Deliberately NOT ntile():
    // position-based quintiles need a GLOBAL sorted window (every
    // customer through one partition — a scale-killer) and tie-break
    // nondeterministically at bucket edges. Instead the three score
    // dimensions bucket against percentile BOUNDS (20/40/60/80) taken
    // in one global aggregation and broadcast back — the q132
    // winsorize shape: the corpus aggregates once per customer
    // (map-side combined), the bounds are a 1-row broadcast, and
    // scoring is a pure per-row comparison chain, value-based so ties
    // land identically in both engines.
    "q159_rfm_segments" -> ((s, d) => {
      val anchor = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("anchor"))
      val rfm = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey"))
        .agg(
          min(datediff(col("anchor"), to_date(col("o_orderdate"))))
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice")), 2).as("monetary"))
      // exact interpolated percentiles (= DuckDB quantile_cont), each
      // bound snapped to 6 decimals: the two engines arrange the
      // interpolation arithmetic differently, and an unsnapped bound a
      // 1-ulp shy of a data value would flip that value's bucket.
      // Computed by DistributedRank.exactPercentiles (bit-identical
      // to the Percentile aggregate, helper doc) so no task holds a
      // customer-scale value map; rfm is checkpointed once per
      // invocation for its four consumers (q300 rationale). The three
      // metrics share ONE exactPercentiles pipeline — the customer
      // frame melts to a metric-tagged (m, v) frame (each metric cast to
      // double BEFORE the dedup; int days / count longs / 2-decimal
      // money all map injectively and monotonically into double at
      // these magnitudes, so dedup counts, rank order and the
      // interpolation inputs are bit-identical to the per-metric native
      // grouping), so one partCols=metric call plans one range
      // exchange and one checkpoint/probe chain, not three.
      val rfmC = rfm.transform(graft.ops.Materialize.frame)
      val qs = Seq(0.2, 0.4, 0.6, 0.8)
      val melted = rfmC.select(explode(array(
          struct(lit("r").as("m"),
            col("recency_days").cast("double").as("v")),
          struct(lit("f").as("m"), col("frequency").cast("double").as("v")),
          struct(lit("m").as("m"), col("monetary").cast("double").as("v"))))
          .as("e"))
        .select(col("e.m").as("m"), col("e.v").as("v"))
      val bounds = graft.ops.DistributedRank.exactPercentiles(
          melted, col("v"), qs, Seq("m"))
        .groupBy()
        .agg(map_from_entries(collect_list(struct(col("m"), col("ps"))))
          .as("bm"))
        .select(
          transform(element_at(col("bm"), "r"), x => round(x, 6)).as("rb"),
          transform(element_at(col("bm"), "f"), x => round(x, 6)).as("fb"),
          transform(element_at(col("bm"), "m"), x => round(x, 6)).as("mb"))
      def score(v: Column, b: Column, invert: Boolean): Column = {
        val raw = lit(1) +
          (0 to 3).map(i => when(v > element_at(b, i + 1), 1)
            .otherwise(0)).reduce(_ + _)
        if (invert) lit(6) - raw else raw
      }
      rfmC.crossJoin(broadcast(bounds))
        .withColumn("r_score",
          score(col("recency_days").cast("double"), col("rb"), invert = true))
        .withColumn("f_score",
          score(col("frequency").cast("double"), col("fb"), invert = false))
        .withColumn("m_score",
          score(col("monetary"), col("mb"), invert = false))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4
            && col("m_score") >= 4, "champion")
            .when(col("f_score") >= 4, "loyal")
            .when(col("m_score") >= 4, "big_spender")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 2, "hibernating")
            .otherwise("regular"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          col("segment"))
        .orderBy(col("o_custkey"))
    }),

    // Foreign-key orphan audit — the referential-integrity report a
    // warehouse runs after every load, one row per FK relation:
    // reference count, orphan count (left-anti against the distinct
    // dimension keys), orphan rate. Each relation is one anti-join
    // whose build side is the dimension KEY SET (distinct-collapsed
    // before the join, so the probe streams the fact once and the
    // output is counts, never orphan rows); the four relation frames
    // union to a 4-row report. Rates are exact-long divisions.
    "q180_fk_audit" -> ((s, d) => {
      def audit(name: String, fact: DataFrame, key: String,
                dim: DataFrame, dimKey: String): DataFrame = {
        val refs = fact.select(col(key).as("k")).filter(col("k").isNotNull)
        val orphans = refs.join(
          dim.select(col(dimKey).as("k")).distinct(), Seq("k"), "left_anti")
        refs.agg(count(lit(1)).as("n_refs"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("relation"), col("n_refs"),
            col("n_orphans"),
            // empty fact side → rate undefined, NULL not ANSI ÷0
            when(col("n_refs") > 0,
              col("n_orphans").cast("double") / col("n_refs"))
              .as("orphan_rate"))
      }
      audit("lineitem.l_orderkey->orders.o_orderkey",
          Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(audit("lineitem.l_partkey->part.p_partkey",
          Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(audit("lineitem.l_suppkey->supplier.s_suppkey",
          Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionByName(audit("orders.o_custkey->customer.c_custkey",
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy(col("relation"))
    }),

    // Benford first-digit audit — the forensic-accounting screen for
    // fabricated or truncated monetary data: the observed share of
    // each leading digit of o_totalprice against Benford's
    // log10(1 + 1/d) expectation. Determinism: the value converts to
    // exact integer CENTS (the q179 recipe) and the leading digit is
    // the first character of the INTEGER's string — integer→string
    // rendering is identical cross-engine, where a float log10-based
    // digit extraction can flip at exact powers of ten. Scale shape:
    // one per-row projection into a ≤10-group aggregation (map-side
    // combined), the total re-aggregated from the 10-row frame and
    // broadcast back; shares are exact-long divisions and the Benford
    // term is 6-decimal-snapped (the q110 ln recipe).
    // Right-to-be-forgotten purge-impact audit — the compliance
    // dry-run a lakehouse team files before executing a deletion
    // request: for a deterministic deletion cohort (here: customers
    // with deeply negative balances standing in for the request list),
    // how many rows does the cascade touch in each downstream table?
    // customer directly, orders via custkey, lineitem via the affected
    // ORDER key set — the fact table is reached through the semi-joined
    // orders keys (each fact streams ONCE against a broadcast-sized
    // key set; never a 3-way join blow-up), and the output is counts
    // per relation, never the purged rows themselves.
    "q210_purge_audit" -> ((s, d) => {
      val doomed = Tables.customer(s, d)
        .filter(col("c_acctbal") < -900.0).select(col("c_custkey"))
      val custAll = Tables.customer(s, d).agg(count(lit(1)).as("total"))
      val nDoomed = doomed.agg(count(lit(1)).as("hit"))
      val ordersHit = Tables.orders(s, d)
        .join(doomed, col("o_custkey") === col("c_custkey"), "left_semi")
      val ordersCnt = ordersHit.agg(count(lit(1)).as("hit"))
      val ordersAll = Tables.orders(s, d).agg(count(lit(1)).as("total"))
      val liCnt = Tables.lineitem(s, d)
        .join(ordersHit.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(count(lit(1)).as("hit"))
      val liAll = Tables.lineitem(s, d).agg(count(lit(1)).as("total"))
      def row(name: String, hit: DataFrame, all: DataFrame) =
        hit.crossJoin(broadcast(all))
          .select(lit(name).as("relation"), col("hit"), col("total"),
            // empty relation → share undefined, NULL not ANSI ÷0
            when(col("total") > 0,
              col("hit").cast("double") / col("total").cast("double"))
              .as("purge_share"))
      row("customer", nDoomed, custAll)
        .unionByName(row("orders", ordersCnt, ordersAll))
        .unionByName(row("lineitem", liCnt, liAll))
        .orderBy(col("relation"))
    }),

    // Return-rate ranking by Wilson lower bound — the "sort by
    // confidence, not by raw rate" classic (Evan Miller's how-not-to-
    // sort-by-average-rating): a brand with 3 returns in 4 sales must
    // rank below one with 200 in 400, so each brand's return rate gets
    // its 95% Wilson score lower bound and THAT is the ranking key.
    // One corpus-scale brand aggregation (exact long n and r per
    // group); the bound itself is a fixed chain of IEEE double ops on
    // the exact-fraction inputs — deterministic cross-engine when
    // spelled identically (z = 1.96 literal on both sides).
    "q207_wilson_returns" -> ((s, d) => {
      val z = lit(1.96)
      val g = Tables.lineitem(s, d)
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returns"))
      val n = col("n_lines").cast("double")
      val p = col("n_returns").cast("double") / n
      val z2n = z * z / n
      val lb = ((p + z2n / lit(2.0)
        - z * sqrt(p * (lit(1.0) - p) / n + z2n / (lit(4.0) * n)))
        / (lit(1.0) + z2n))
      g.select(col("p_brand"), col("n_lines"), col("n_returns"),
          p.as("return_rate"), lb.as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("p_brand"))
    }),

    // Per-entity mode ("favorite brand") feature extraction — the
    // feature-store staple: each customer's most-purchased brand, then
    // the corpus-level histogram of favorites. BOTH levels are
    // aggregations (the q109 struct-max argmax — no window, no
    // per-customer sort): (customer, brand) counts key on the pair,
    // the per-customer argmax keys on the customer (ties → the
    // lexicographically LAST brand, mirrored in the oracle's
    // row_number ordering), and the favorites histogram is a
    // ≤|brands| regroup. Everything map-side combines; nothing
    // corpus-wide sorts or windows.
    "q206_favorite_brand" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("o_custkey"), col("p_brand"))
        .agg(count(lit(1)).as("n"))
      pairs.groupBy(col("o_custkey"))
        .agg(max(struct(col("n"), col("p_brand"))).as("m"))
        .groupBy(col("m.p_brand").as("favorite_brand"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("favorite_brand"))
    }),

    // Repeat-payment detector — the accounts-payable fraud screen:
    // order pairs from the same customer at suspiciously similar
    // amounts (within $1000) inside a 180-day window. The self-join
    // keys on custkey — an EQUI join whose groups are bounded by
    // orders-per-customer (never a cartesian; the amount band and
    // date band filter the small per-customer pair set), orderkey
    // ordering de-duplicates the pair. Both bands compare the same
    // stored doubles / exact DATE arithmetic on both engines.
    "q205_dup_payments" -> ((s, d) => {
      val o1 = Tables.orders(s, d).select(
        col("o_orderkey").as("k1"), col("o_custkey").as("c1"),
        col("o_totalprice").as("p1"), col("o_orderdate").as("d1"))
      val o2 = Tables.orders(s, d).select(
        col("o_orderkey").as("k2"), col("o_custkey").as("c2"),
        col("o_totalprice").as("p2"), col("o_orderdate").as("d2"))
      o1.join(o2, col("c1") === col("c2") && col("k1") < col("k2"))
        .withColumn("day_gap", abs(datediff(col("d2"), col("d1"))))
        .withColumn("amount_gap", abs(col("p2") - col("p1")))
        .filter(col("day_gap") <= 180 && col("amount_gap") <= 1000.0)
        .select(col("c1").as("o_custkey"), col("k1"), col("k2"),
          col("p1").as("amount1"), col("p2").as("amount2"),
          col("day_gap"))
        .orderBy(col("o_custkey"), col("k1"), col("k2"))
    }),

    // Join-key skew diagnosis — the report an operator pulls BEFORE
    // picking a join strategy at 100 TB: the hottest keys of a
    // prospective join column, each with its share of all rows and its
    // ratio to the mean key (the salting/AQE-skew-split decision
    // inputs; q75/q130 are the mitigations this report motivates).
    // One map-side-combined key aggregation; the (total, key-count)
    // scalar re-aggregates the grouped frame and broadcasts back; the
    // top-10 rides a TakeOrdered bounded heap. ratio = n·keys/total
    // in exact longs, divided once in double.
    "q203_skew_report" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(tot))
        .select(col("l_suppkey"), col("n"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          ((col("n") * col("n_keys")).cast("double")
            / col("total").cast("double")).as("ratio_to_mean"))
        .orderBy(col("n").desc, col("l_suppkey"))
        .limit(10)
    }),

    "q202_benford_audit" -> ((s, d) => {
      val digits = Tables.orders(s, d)
        .select((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("tot"))
      val benford = snap6(log10(lit(1.0) + lit(1.0) / col("digit")))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("share"),
          benford.as("benford"),
          ((col("n").cast("double") / col("tot").cast("double")) - benford)
            .as("deviation"))
        .orderBy(col("digit"))
    }),

    // Two-sample Kolmogorov-Smirnov drift statistic per event type —
    // the distribution-shift monitor a data pipeline runs between two
    // corpus snapshots (here: first vs second half of the time range):
    // KS = max |F_A(x) − F_B(x)| over the pooled value points. Scale
    // shape: the corpus pass is a map-side-combined (type, value)
    // aggregation to per-sample counts (value is 2-decimal money, so
    // the distinct-value frame is BOUNDED, not ~n); the CDFs are
    // cumulative-long windows over that bounded frame, and the max is
    // order-free. Determinism: cum counts are exact longs; each CDF
    // value is one correctly-rounded long÷long division; |Δ| and max
    // of identical doubles are bit-stable — no snapping needed.
    // Delegates to the library op [[graft.ops.Stats.ksDrift]] (the
    // Frame.stats facade runs the same code path).
    "q224_ks_drift" -> ((s, d) =>
      graft.ops.Stats.ksDrift(Tables.events(s, d)
        .select(col("event_type"), col("value"),
          (to_date(col("ts")) <= lit("2024-01-15").cast("date"))
            .as("is_a")),
        "event_type", "value", "is_a")),

    // Population-stability-index drift per event type — the bucketed
    // companion to q224's KS (the score-monitoring staple in risk /
    // feature pipelines): PSI = Σ (p_A−p_B)·ln(p_A/p_B) over fixed
    // equal-width value buckets. Buckets empty on either side are
    // EXCLUDED (no epsilon fudge) and their row mass is reported, so
    // the reader sees exactly what the statistic covered. One
    // map-side-combined (type, bucket) corpus aggregation to a ≤10-row
    // frame per type; totals via windows over that frame. Determinism:
    // counts/shares exact longs + single divisions; ln is 6-decimal-
    // snapped and the ≤10-term sum snapped once more (q222 recipe).
    // Delegates to the library op [[graft.ops.Stats.psiDrift]] (the
    // Frame.stats facade runs the same code path).
    "q225_psi_drift" -> ((s, d) =>
      graft.ops.Stats.psiDrift(Tables.events(s, d)
        .select(col("event_type"), col("value"),
          (to_date(col("ts")) <= lit("2024-01-15").cast("date"))
            .as("is_a")),
        "event_type", "value", "is_a", bucketWidth = 50.0,
        maxBucket = 9)),

    // k-anonymity audit — the privacy readout run before releasing a
    // table: group rows by their quasi-identifier tuple (nation,
    // market segment, account-balance $1000 bucket) and report the
    // equivalence-class size distribution: for each class size k, how
    // many classes, how many rows, the row share, the cumulative
    // at-or-below-k risk mass, and whether that tier violates k=5.
    // The dataset's k-anonymity is the smallest k_size row. Scale
    // shape: ONE map-side-combined corpus aggregation to the QI-class
    // frame (bounded by the QI cardinality product, here ≤1375), a
    // re-group to the ≤max-k size frame, and a cumulative window over
    // THAT — never over corpus rows. Exact longs throughout; the two
    // shares divide once each.
    "q226_kanon_audit" -> ((s, d) => {
      val classes = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long")
            .as("bal_bucket"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          col("bal_bucket"))
        .agg(count(lit(1)).as("k_size"))
      val byK = classes.groupBy(col("k_size"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k_size")).as("n_rows"))
      val tot = byK.agg(sum(col("n_rows")).as("n_total"))
      val wCum = Window.orderBy(col("k_size"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byK.crossJoin(broadcast(tot))
        .withColumn("cum_rows", sum(col("n_rows")).over(wCum))
        .select(col("k_size"), col("n_classes"), col("n_rows"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("row_share"),
          (col("cum_rows").cast("double") / col("n_total").cast("double"))
            .as("cum_risk_share"),
          (col("k_size") < 5).as("violates_k5"))
        .orderBy(col("k_size"))
    }),

    // Cohen's kappa — chance-corrected agreement between two labelers
    // (the inter-annotator-agreement staple for labeled training
    // data; raw accuracy q170 overstates agreement when the label
    // distribution is skewed). Rater A = the gold event_type; rater B
    // = a deterministic value-threshold classifier (stand-in for any
    // second annotator column). κ = (N·Σdiag − Σ_g row_g·col_g) /
    // (N² − Σ_g row_g·col_g): every operand exact — cell counts are
    // longs, the row·col cross-products accumulate in DECIMAL via
    // decimal(19) factors (N² ~ 1e24 at corpus scale; q213 recipe),
    // and the emitted ratios are single divisions, 6-snapped for the
    // decimal→double ulp. Scale shape: ONE map-side-combined corpus
    // pass to the ≤|classes|² confusion frame; the column-total join
    // is on the ≤|classes| frame (broadcast); output is one row.
    "q238_cohens_kappa" -> ((s, d) => {
      val pred = when(col("value") < 80.0, "view")
        .when(col("value") < 160.0, "click")
        .when(col("value") < 240.0, "signup")
        .when(col("value") < 320.0, "purchase")
        .otherwise("error")
      val cells = Tables.events(s, d)
        .select(col("event_type").as("gold"), pred.as("pred"))
        .groupBy(col("gold"), col("pred"))
        .agg(count(lit(1)).as("n"))
      val cols = cells.groupBy(col("pred").as("cls"))
        .agg(sum(col("n")).as("col_n"))
      val rc = cells.join(broadcast(cols), col("gold") === col("cls"))
        .agg(sum(dec19(col("n")) * dec19(col("col_n"))).as("rc"))
      val base = cells.agg(sum(col("n")).as("n_total"),
        sum(when(col("gold") === col("pred"), col("n")).otherwise(0L))
          .as("n_agree"))
      base.crossJoin(broadcast(rc))
        .select(col("n_total"), col("n_agree"),
          (col("n_agree").cast("double") / col("n_total").cast("double"))
            .as("po"),
          snap6(col("rc").cast("double")
            / (dec19(col("n_total")) * dec19(col("n_total"))).cast("double"))
            .as("pe"),
          snap6((dec19(col("n_total")) * dec19(col("n_agree")) - col("rc"))
            .cast("double")
            / (dec19(col("n_total")) * dec19(col("n_total")) - col("rc"))
            .cast("double")).as("kappa"))
    }),

    // l-diversity audit — q226's k-anonymity companion: a class of 50
    // identical quasi-identifiers is still a privacy leak if all 50
    // share one SENSITIVE value (the homogeneity attack k-anonymity
    // misses). QI = (nation, balance bucket); sensitive = market
    // segment; per QI class l = distinct sensitive values, rolled up
    // to the ≤l histogram with the l<3 violation flag and exposed row
    // share. Exact longs, one division. Scale shape: ONE map-side-
    // combined corpus pass to the QI-class frame (count_distinct over
    // a 5-value domain), a re-group to the ≤|l| frame, a window over
    // THAT.
    "q248_ldiversity" -> ((s, d) => {
      val classes = Tables.customer(s, d)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long")
            .as("bal_bucket"),
          col("c_mktsegment"))
        .groupBy(col("c_nationkey"), col("bal_bucket"))
        .agg(countDistinct(col("c_mktsegment")).as("l_div"),
          count(lit(1)).as("k_size"))
      val byL = classes.groupBy(col("l_div"))
        .agg(count(lit(1)).as("n_classes"), sum(col("k_size")).as("n_rows"))
      val wAll = Window.partitionBy()
      byL
        .withColumn("n_total", sum(col("n_rows")).over(wAll))
        .select(col("l_div"), col("n_classes"), col("n_rows"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("row_share"),
          (col("l_div") < 3).as("violates_l3"))
        .orderBy(col("l_div"))
    }),

    // Poisson-bootstrap confidence interval for the per-type mean —
    // THE resampling method that scales: classic bootstrap resamples
    // n-of-n (impossible distributed), Poisson bootstrap gives each
    // row an independent Poisson(1) multiplicity per replica, so B=32
    // replicas are one 32× map-side fan-out. The replica weight is
    // drawn by inverse-CDF on an integer micro-uniform from the
    // shared-md5 recipe against PRECOMPUTED integer thresholds
    // (cum P(k) for Poisson(1), micro units) — no float RNG, no
    // engine randomness, fully reproducible. Money accumulates in
    // exact integer cents (the q213 rule; c·cents ≤ 3.5e5 per row →
    // long-safe past 1e12 rows); each replica mean and the CI bounds
    // (2nd/31st order statistics of 32 replica means, row_number with
    // b tie-break) are single divisions of exact longs. Scale shape:
    // ONE corpus scan, one map-side-combined (type, replica) exchange
    // to a ≤|types|·32 frame; everything downstream runs over that.
    "q252_bootstrap_ci" -> ((s, d) => {
      val reps = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
        .select(col("event_type"), col("event_id"), col("cents"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("u", pmod(graft.ops.Text.md5Long(concat(
          col("event_id").cast("string"), lit(":"),
          col("b").cast("string")), 8), lit(1000000L)))
        .withColumn("c",
          when(col("u") < 367879L, 0L).when(col("u") < 735758L, 1L)
            .when(col("u") < 919698L, 2L).when(col("u") < 981011L, 3L)
            .when(col("u") < 996340L, 4L).when(col("u") < 999405L, 5L)
            .when(col("u") < 999843L, 6L).otherwise(7L))
      val repMeans = reps.groupBy(col("event_type"), col("b"))
        .agg(sum(col("c") * col("cents")).as("wsum"),
          sum(col("c")).as("wn"),
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("cents_all"))
        .withColumn("mean_b", col("wsum").cast("double")
          / col("wn").cast("double") / 100.0)
      val wT = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_b"), col("b"))
      repMeans
        .withColumn("rn", row_number().over(wT))
        .groupBy(col("event_type"))
        .agg(max(when(col("b") === 0, col("n_rows"))).as("n_events"),
          max(when(col("b") === 0, col("cents_all"))).as("cents_sum"),
          min(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
          min(when(col("rn") === 31, col("mean_b"))).as("ci_hi"))
        .select(col("event_type"), col("n_events"),
          (col("cents_sum").cast("double")
            / col("n_events").cast("double") / 100.0).as("mean_value"),
          col("ci_lo"), col("ci_hi"),
          (col("ci_hi") - col("ci_lo")).as("ci_width"))
        .orderBy(col("event_type"))
    }),

    // ε-differential-privacy histogram release — the publication
    // operator that completes the privacy tier (q226 k-anonymity,
    // q248 l-diversity, q210 right-to-be-forgotten): per (event_type,
    // day) counts plus two-sided-geometric noise (the discrete
    // Laplace, α = 1/2 ⇒ ε = ln 2) drawn by inverse-CDF on the
    // shared-md5 micro-uniform seeded from the CELL KEY — a
    // deterministic, audit-replayable release — with small released
    // counts suppressed (< 5, the residual-disclosure rule). The
    // audit emits true count, noise, released count, and suppression
    // flag per cell; a production release would project the released
    // columns only. Pure integer arithmetic end-to-end. Scale shape:
    // ONE map-side-combined corpus pass to the (type, day) frame;
    // noise is a per-cell expression over that bounded frame.
    "q254_dp_release" -> ((s, d) => {
      Tables.dailyEvents(s, d)
        .withColumnRenamed("n", "true_n")
        .withColumn("u", pmod(graft.ops.Text.md5Long(concat(
          col("event_type"), lit(":"), col("day").cast("string")), 8),
          lit(1000000L)))
        .withColumn("noise",
          when(col("u") < 333333L, 0L).when(col("u") < 500000L, 1L)
            .when(col("u") < 666667L, -1L).when(col("u") < 750000L, 2L)
            .when(col("u") < 833333L, -2L).when(col("u") < 875000L, 3L)
            .when(col("u") < 916667L, -3L).when(col("u") < 958334L, 4L)
            .otherwise(-4L))
        .withColumn("released", col("true_n") + col("noise"))
        .withColumn("suppressed", col("released") < 5L)
        .select(col("event_type"), col("day"), col("true_n"),
          col("noise"), col("released"), col("suppressed"))
        .orderBy(col("event_type"), col("day"))
    }),

    // MinHash audience-overlap sketch — the fourth sketch family
    // (after q247 CMS frequency, HLL cardinality, q31b bitmap
    // distinct): pairwise Jaccard of user SETS estimated from k=16
    // per-set minimum hashes. The signature is mergeable (min is
    // commutative — partials combine map-side, partitions/days union
    // by element-wise min), so two 100 TB audiences compare via 2·k
    // longs instead of a user-set join. Self-verifying (q247 style):
    // the exact Jaccard runs alongside on the same distinct frame and
    // the output carries match count, estimate, exact, and |error|.
    // Hashes from the shared-md5 recipe (12 hex chars →
    // 48-bit ints, no engine hashes). Scale shape: the distinct
    // (type, user) frame feeds the 16× signature fan-out, the exact
    // self-join, and the set sizes — planned as two corpus subtrees
    // with the distinct exchange reused across twins (measured:
    // 2 scans, ReusedExchange present); everything downstream is
    // ≤|types|²-sized. A production sketch pipeline persists the
    // signatures and never rebuilds the exact side at all.
    "q258_minhash_overlap" -> ((s, d) => {
      val (pairs, withExact) = audiencePairs(s, d)
      withExact(pairs.groupBy(col("type_a"), col("type_b"))
          .agg(sum(when(col("sig_a") === col("sig_b"), 1L).otherwise(0L))
            .as("matches")))
        .select(col("type_a"), col("type_b"), col("matches"),
          (col("matches").cast("double") / 16.0).as("est_jaccard"),
          col("exact_jaccard"),
          abs(col("matches").cast("double") / 16.0
            - col("exact_jaccard")).as("abs_err"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Mutual information between two metadata columns (lang ⨯ source)
    // — the dataset-audit number behind feature-leakage and
    // dedup-stratification checks: MI ≈ 0 means source tells you
    // nothing about language; MI ≈ H(lang) means source DETERMINES
    // language (a red flag before stratified splitting — q100/q257's
    // strata would collapse). Recipe: ONE corpus scan to the
    // |langs|·|sources| cell frame; marginals/N as window sums OVER
    // THE CELLS (never a rescan); every ln as a snapped micro-nat
    // LONG, per-cell terms c·(L(c)+L(N)−L(c_l)−L(c_s)) in exact
    // DECIMAL products so the cross-cell sums are order-free
    // (documented bound: exact for N ≤ 1e14 rows — DECIMAL(14,0)
    // counts × DECIMAL(9,0) micro-nat terms). Output: one row of
    // H(lang), H(source), H(joint), MI, and the normalized
    // MI/min(H) coefficient — each a single double division.
    "q262_mutual_info" -> ((s, d) => {
      val cells = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy()
      val g = cells
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("cl", sum(col("c"))
          .over(Window.partitionBy(col("lang"))))
        .withColumn("cs", sum(col("c"))
          .over(Window.partitionBy(col("source"))))
      val joint = g.agg(
        max(col("n")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("c").cast("decimal(14,0)")
          * (ln6(col("c")) + ln6(col("n")) - ln6(col("cl")) - ln6(col("cs")))
            .cast("decimal(9,0)")).as("mi_num"),
        sum(col("c").cast("decimal(14,0)")
          * (ln6(col("n")) - ln6(col("c"))).cast("decimal(9,0)"))
          .as("hj_num"))
      def marginal(key: String, out: String) = cells
        .groupBy(col(key)).agg(sum(col("c")).as("ck"))
        .withColumn("n", sum(col("ck")).over(wAll))
        .agg(sum(col("ck").cast("decimal(14,0)")
          * (ln6(col("n")) - ln6(col("ck"))).cast("decimal(9,0)"))
          .as(out))
      joint.crossJoin(marginal("lang", "hl_num"))
        .crossJoin(marginal("source", "hs_num"))
        .select(col("n_docs"), col("n_langs"), col("n_sources"),
          (col("hl_num").cast("double")
            / (col("n_docs").cast("double") * 1e6)).as("h_lang"),
          (col("hs_num").cast("double")
            / (col("n_docs").cast("double") * 1e6)).as("h_source"),
          (col("hj_num").cast("double")
            / (col("n_docs").cast("double") * 1e6)).as("h_joint"),
          (col("mi_num").cast("double")
            / (col("n_docs").cast("double") * 1e6)).as("mi_nats"))
        .withColumn("nmi",
          when(least(col("h_lang"), col("h_source")) > 0.0,
            col("mi_nats") / least(col("h_lang"), col("h_source")))
            .otherwise(lit(0.0)))
    }),

    // Differential-privacy ε-utility curve — the privacy tier's
    // tuning-family member (q254 fixes ε = ln 2; this sweeps the
    // two-sided-geometric scale α ∈ {3/4, 1/2, 1/4} ⇒ ε = ln(1/α)
    // and MEASURES what each ε costs in released-count utility:
    // mean |noise| and the small-cell suppression share). The
    // inverse-CDF threshold tables are generated from ONE Scala
    // constant list and embedded verbatim in BOTH the Spark when-chain
    // and the oracle SQL (single source of truth — no transcription
    // drift); noise stays pure integer arithmetic on the same
    // cell-key-seeded micro-uniform as q254.
    "q282_dp_epsilon_curve" -> ((s, d) => {
      val cells = Tables.dailyEvents(s, d)
        .withColumnRenamed("n", "true_n")
        .withColumn("u", pmod(graft.ops.Text.md5Long(concat(
          col("event_type"), lit(":"), col("day").cast("string")), 8),
          lit(1000000L)))
        .select(col("event_type"), col("day"), col("true_n"), col("u"),
          explode(array(DpAlphas.map { case (am, _) =>
            lit(am)
          }: _*)).as("alpha_m"))
      val noise = DpAlphas.foldLeft(lit(-4L)) {
        case (els, (am, table)) =>
          table.foldRight(els) { case ((t, v), inner) =>
            when(col("alpha_m") === am && col("u") < t, v)
              .otherwise(inner)
          }
      }
      // foldRight over one table nests correctly; guard per alpha via
      // the alpha_m conjunct on every branch
      cells.withColumn("noise", noise)
        .withColumn("released", col("true_n") + col("noise"))
        .groupBy(col("alpha_m"))
        .agg(count(lit(1)).as("n_cells"),
          sum(abs(col("noise"))).as("sum_abs_noise"),
          sum(when(col("released") < 5L, 1L).otherwise(0L))
            .as("n_suppressed"))
        .select((col("alpha_m").cast("double") / 1e6).as("alpha"),
          (col("alpha_m") === 750000L).as("high_privacy"),
          col("n_cells"), col("sum_abs_noise"),
          (col("sum_abs_noise").cast("double")
            / col("n_cells").cast("double")).as("mean_abs_noise"),
          (col("n_suppressed").cast("double")
            / col("n_cells").cast("double")).as("suppressed_share"))
        .orderBy(col("alpha"))
    }),

    // MinHash signature-size error curve — the fifth tuning-family
    // member (q263, q271, q275, q279): how does q258's Jaccard
    // estimate improve as the signature grows k ∈ {4, 8, 16}? The
    // answer sets the bytes-per-set budget of a production sketch
    // store (k longs per set). ONE 16-perm signature build serves all
    // three curve points — a permutation row p contributes to every
    // k > p via a bounded explode, never a re-hash; estimates and the
    // exact Jaccard baseline are single divisions of exact longs.
    "q281_minhash_k_curve" -> ((s, d) => {
      val (pairs, withExact) = audiencePairs(s, d)
      withExact(pairs
          .select(col("type_a"), col("type_b"),
            when(col("sig_a") === col("sig_b"), 1L).otherwise(0L)
              .as("m"),
            explode(expr("filter(array(4, 8, 16), k -> k > p)")).as("k"))
          .groupBy(col("k"), col("type_a"), col("type_b"))
          .agg(sum(col("m")).as("matches")))
        .select(col("k").cast("long").as("k"), col("type_a"),
          col("type_b"), col("matches"),
          (col("matches").cast("double") / col("k").cast("double"))
            .as("est_jaccard"),
          col("exact_jaccard"),
          abs(col("matches").cast("double") / col("k").cast("double")
            - col("exact_jaccard")).as("abs_err"))
        .orderBy(col("k"), col("type_a"), col("type_b"))
    }),

    // HyperLogLog with EXPLICIT registers (m=64, b=6) — the fifth
    // sketch family (q247 CMS, q258 MinHash, q39 HLL-as-blackbox,
    // q31b bitmap), materialized register-by-register so the
    // mergeability is inspectable: register j = MAX rank over the
    // stream (max is commutative — shards/days union by element-wise
    // max, the same contract q258 pins for min). Hash = shared-md5
    // 48 bits; bucket = top 6, rank = leading-zeros-of-42 + 1
    // computed by EXACT integer comparisons (a count of k with
    // 2^(k−1) ≤ rem — no float log2 at bit boundaries). The raw
    // estimator α·m²/Σ2^(−M_j) is bit-exact cross-engine because
    // every 2^(−M) term and their 64-term sum are exactly
    // representable binary fractions (exponent span 6+43 < 53 bits —
    // order-free by analysis, not by snapping). Self-verifying
    // (q247/q258 style): exact distinct runs alongside; output
    // carries estimate, exact, and relative error. No small/large
    // range corrections — the raw estimator is the mergeable object;
    // corrections are a serving-side readout concern.
    "q268_hll_registers" -> ((s, d) => {
      val h = graft.ops.Text.md5Long(col("user_id").cast("string"), 12)
      val regs = Tables.events(s, d)
        .select(col("event_type"), h.as("h"))
        .select(col("event_type"),
          shiftrightunsigned(col("h"), 42).cast("int").as("bucket"),
          (col("h").bitwiseAND(lit((1L << 42) - 1))).as("rem"))
        .withColumn("rank", lit(43) - expr(
          "size(filter(sequence(1, 42), k -> rem >= shiftleft(1L, k - 1)))"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(max(col("rank")).as("m_j"))
      val sketch = regs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hit"),
          sum(lit(1.0) / expr("shiftleft(1L, m_j)").cast("double"))
            .as("s_hit"))
        .withColumn("est_raw", lit(0.709) * 4096.0
          / (col("s_hit") + (lit(64L) - col("n_hit")).cast("double")))
      val exact = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_hit"), col("est_raw"),
          col("exact_users"),
          (abs(col("est_raw") - col("exact_users").cast("double"))
            / col("exact_users").cast("double")).as("rel_err"))
        .orderBy(col("event_type"))
    }),

    // Empirical-Bayes shrinkage of per-user purchase rates — the
    // beta-binomial James-Stein move every leaderboard needs: a
    // 2-event user at 50% must NOT outrank a 100-event user at 30%,
    // so each raw rate x/n is pulled toward the population with
    // strength α+β learned from the population itself (method of
    // moments on the rate distribution: α+β = m(1−m)/v − 1, posterior
    // mean (x+α)/(n+α+β)). Exactness: per-user rates enter the moment
    // fit as exact micro-rate longs (x·1e6 DIV n — the q320 integer-
    // division recipe), so m and v are single divisions of exact
    // DECIMAL sums and every downstream double (α, β, shrunken rate)
    // is the same arithmetic expression of exact operands on both
    // engines; degenerate fits (v = 0 or non-positive α+β) yield NULL
    // identically. Scale shape: one corpus pass to per-user counters
    // (map-side combined), a 1-row moment frame broadcast back,
    // per-row posterior means, TakeOrdered top-20.
    "q332_eb_shrinkage" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"))
        .withColumn("rmu", expr("x * 1000000L DIV n"))
      val fit = per.agg(count(lit(1)).as("uu"),
          sum(dec(col("rmu"))).as("s1"),
          sum(dec(col("rmu")) * dec(col("rmu"))).as("s2"))
        .select(col("uu"),
          (col("s1").cast("double")
            / (col("uu").cast("double") * 1e6)).as("m"),
          ((dec(col("uu")) * col("s2") - col("s1") * col("s1"))
            .cast("double")
            / (col("uu").cast("double") * col("uu").cast("double")
              * 1e12)).as("v"))
        .select(col("uu"), col("m"), col("v"),
          when(col("v") > 0.0,
            col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
            .as("ab"))
      per.crossJoin(broadcast(fit))
        .withColumn("alpha",
          when(col("ab") > 0.0, col("m") * col("ab")))
        .select(col("user_id"), col("n"), col("x"),
          snap6(col("x").cast("double") / col("n").cast("double"))
            .as("raw_rate"),
          snap6(col("alpha")).as("alpha"),
          snap6(when(col("ab") > 0.0,
            (lit(1.0) - col("m")) * col("ab"))).as("beta"),
          snap6(when(col("ab") > 0.0,
            (col("x").cast("double") + col("alpha"))
              / (col("n").cast("double") + col("ab"))))
            .as("shrunk_rate"))
        .orderBy(col("shrunk_rate").desc, col("user_id"))
        .limit(20)
    }),

    // t-closeness audit (Li-Li-Venkatasubramanian) — the third rung
    // of the privacy ladder above q226's k-anonymity (class SIZE) and
    // q248's l-diversity (sensitive-value VARIETY): how far does each
    // quasi-identifier class's distribution of the ORDERED sensitive
    // attribute (account-balance decile) sit from the global one,
    // as the ordered-attribute EMD D = Σᵢ|Σ_{j≤i}(p_j − q_j)|/(m−1)?
    // (l-diverse classes can still leak: 'all balances in this class
    // are top-decile' passes l-diversity and fails t-closeness.)
    // Exactness: deciles come from ntile(10) over the unique total
    // order (c_acctbal, c_custkey) — identical ANSI bucketing both
    // engines; the running gap scales by n_class·N to the exact
    // DECIMAL R_i = Σ_{j≤i}(c_j·N − g_j·n_class) over a DENSE
    // class×decile grid (absent deciles are REAL zeros), so the per-
    // class EMD is one double division of exact operands. Scale
    // shape: the ntile is a rank-style global sort (range-partition
    // at scale); everything after lives on ≤|classes|×10 frames.
    "q335_t_closeness" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("dec10", ntile(10).over(
          Window.orderBy(col("c_acctbal"), col("c_custkey")))
          .cast("long"))
      val glob = cust.groupBy(col("dec10")).agg(count(lit(1)).as("g"))
        .withColumn("n_tot", sum(col("g")).over(Window.partitionBy()))
      val cls = cust
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("dec10"))
        .agg(count(lit(1)).as("c"))
      val wCls = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
      val wCum = wCls.orderBy(col("dec10"))
      cls.select(col("c_nationkey"), col("c_mktsegment")).distinct()
        .crossJoin(broadcast(glob))
        .join(cls, Seq("c_nationkey", "c_mktsegment", "dec10"), "left")
        .select(col("c_nationkey"), col("c_mktsegment"), col("dec10"),
          col("g"), col("n_tot"), coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("n_cls", sum(col("c")).over(wCls))
        .withColumn("ri", sum(dec(col("c")) * dec(col("n_tot"))
          - dec(col("g")) * dec(col("n_cls"))).over(wCum))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(max(col("n_cls")).as("class_size"),
          max(col("n_tot")).as("ntv"), count(lit(1)).as("m"),
          sum(abs(col("ri"))).as("sabs"))
        // m = 1 (the whole corpus collapses to one decile): no
        // distance is measurable over a single bucket — NULL, never a
        // decimal div-0 error
        .withColumn("t_emd", when(col("m") > 1L,
          snap6(col("sabs").cast("double")
            / (dec(col("m") - 1L) * dec(col("class_size"))
              * dec(col("ntv"))).cast("double"))))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("class_size"), col("t_emd"),
          (col("t_emd") > 0.2).as("violates_t02"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // Information gain of each order attribute for the above-mean-
    // price label — the feature-selection screen ("which column
    // PREDICTS high-value orders?") behind decision-tree splits and
    // leakage audits, the supervised complement of q262's pairwise
    // mutual information. Pure micro-nat integer algebra (the q304
    // recipe): with exact-cent prices, the label (pc·N > Σpc) is an
    // exact cross-product comparison; IG·N·1e6 = [N·ln6(N) −
    // Σ_l c_l·ln6(c_l)] − Σ_v[n_v·ln6(n_v) − Σ_l c_vl·ln6(c_vl)] —
    // every operand an exact DECIMAL count×µnat, ONE division per
    // feature. Scale shape: one corpus pass fans out 3 feature rows
    // (map-side combined into the ≤Σ|domains|×2 count frame); the
    // label-entropy 1-row frame broadcasts back; output is 3 rows.
    "q337_info_gain" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("pc"),
        col("o_orderpriority"), col("o_orderstatus"),
        month(col("o_orderdate")).cast("string").as("omonth"))
      val tot = o.agg(count(lit(1)).as("nn"), sum(col("pc")).as("spc"))
      val lab = o.crossJoin(broadcast(tot))
        .withColumn("label",
          dec(col("pc")) * dec(col("nn")) > dec(col("spc")))
      val hLab = lab.groupBy(col("label")).agg(count(lit(1)).as("cl"))
        .agg(sum(col("cl")).as("nn2"),
          sum(dec(col("cl")) * ln6(col("cl"))).as("sll"))
        .select(col("nn2"),
          (dec(col("nn2")) * ln6(col("nn2")) - col("sll")).as("h_num"))
      val melted = lab.select(col("label"), explode(map(
        lit("priority"), col("o_orderpriority"),
        lit("status"), col("o_orderstatus"),
        lit("month"), col("omonth"))).as(Seq("feature", "value")))
      melted.groupBy(col("feature"), col("value"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("feature"), col("value"))
        .agg(sum(col("c")).as("nv"),
          sum(dec(col("c")) * ln6(col("c"))).as("slc"))
        .groupBy(col("feature"))
        .agg(count(lit(1)).as("n_values"),
          sum(dec(col("nv")) * ln6(col("nv")) - col("slc"))
            .as("cond_num"))
        .crossJoin(broadcast(hLab))
        .select(col("feature"), col("n_values"),
          snap6(col("h_num").cast("double")
            / (col("nn2").cast("double") * 1e6)).as("h_label"),
          snap6(col("cond_num").cast("double")
            / (col("nn2").cast("double") * 1e6)).as("h_cond"),
          snap6((col("h_num") - col("cond_num")).cast("double")
            / (col("nn2").cast("double") * 1e6)).as("info_gain"))
        .orderBy(col("info_gain").desc, col("feature"))
    }),

    // Brier score + Murphy decomposition — forecast VERIFICATION:
    // score each user's first-half purchase rate as a probability
    // forecast of the day-25 purchase probe, then split the Brier
    // score into reliability (calibration error — what q294's
    // isotonic fit would remove), resolution (discrimination), and
    // uncertainty (the irreducible base-rate term): the standard
    // decomposition Brier = REL − RES + UNC that says WHY a score is
    // bad, not just THAT it is. Exactness: forecasts are micro-rate
    // longs (x·1e6 DIV n), the Brier numerator Σ(pm − o·10⁶)² is an
    // exact DECIMAL fold, and the per-bin varying-denominator terms
    // freeze to NANO-units via exact decimal integer division (the
    // q324/q327 idiv — truncation ≤ |bins|·10⁻⁹, far under the
    // snap) before their cross-bin sums. Scale shape: one corpus
    // pass to per-user counters; the decomposition runs on the
    // ≤11-bin frame; one row out.
    "q348_brier_decomposition" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(to_date(col("ts"))
            <= lit("2024-01-15").cast("date"), 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === "purchase"
            && to_date(col("ts")) <= lit("2024-01-15").cast("date"),
            1L).otherwise(0L)).as("x1"),
          max(when(col("event_type") === "purchase"
            && to_date(col("ts")) === lit("2024-01-25").cast("date"),
            1L).otherwise(0L)).as("o"))
        .filter(col("n1") > 0L)
        .withColumn("pm", expr("x1 * 1000000L DIV n1"))
        .withColumn("bin", least(expr("pm DIV 100000"), lit(9L)))
      val bins = per.groupBy(col("bin"))
        .agg(count(lit(1)).as("nb"), sum(col("pm")).as("sb"),
          sum(col("o")).as("xb"))
      val tot = per.agg(count(lit(1)).as("uu"), sum(col("o")).as("xx"),
        sum((dec(col("pm")) - dec(col("o")) * lit(1000000L))
          * (dec(col("pm")) - dec(col("o")) * lit(1000000L)))
          .as("bnum"))
      bins.crossJoin(broadcast(tot))
        .withColumn("rel9", idiv(
          (col("sb") - dec(col("xb")) * lit(1000000L))
            * (col("sb") - dec(col("xb")) * lit(1000000L)),
          dec(col("nb")) * lit(1000L)))
        .withColumn("res9", idiv(
          (dec(col("xb")) * dec(col("uu"))
            - dec(col("xx")) * dec(col("nb")))
          * (dec(col("xb")) * dec(col("uu"))
            - dec(col("xx")) * dec(col("nb")))
          * lit(1000000000L), dec(col("nb"))))
        .groupBy(col("uu"), col("xx"), col("bnum"))
        .agg(count(lit(1)).as("n_bins"), sum(col("rel9")).as("srel"),
          sum(col("res9")).as("sres"))
        .select(col("uu").as("n_users"), col("n_bins"),
          snap6(col("bnum").cast("double")
            / (col("uu").cast("double") * 1e12)).as("brier"),
          snap6(col("srel").cast("double")
            / (col("uu").cast("double") * 1e9)).as("reliability"),
          snap6(col("sres").cast("double")
            / (col("uu").cast("double") * col("uu").cast("double")
              * col("uu").cast("double") * 1e9)).as("resolution"),
          snap6((dec(col("xx")) * dec(col("uu") - col("xx")))
            .cast("double")
            / (col("uu").cast("double") * col("uu").cast("double")))
            .as("uncertainty"))
    }),

    // Cumulative gains / lift table — the model-eval readout for
    // "rank users by first-half activity, how fast do we capture the
    // day-25 purchasers?" (the decile chart every targeting model
    // ships with; q169's NDCG grades a retrieval ranking, this
    // grades a PROPENSITY ranking against conversion). Deciles come
    // from ntile(10) over the unique (score DESC, user_id) order —
    // identical ANSI bucketing both engines; cumulative positives
    // ride one ordered window; gain = cumX/X and lift =
    // cumX·U/(X·cumN) are single divisions of exact longs. Scale
    // shape: one corpus pass to per-user counters, a rank-style
    // global sort, ≤10-row readout.
    "q349_cumulative_gains" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(to_date(col("ts"))
            <= lit("2024-01-15").cast("date"), 1L).otherwise(0L))
            .as("score"),
          max(when(col("event_type") === "purchase"
            && to_date(col("ts")) === lit("2024-01-25").cast("date"),
            1L).otherwise(0L)).as("o"))
        .withColumn("dec10", ntile(10).over(
          Window.orderBy(col("score").desc, col("user_id")))
          .cast("long"))
      val wCum = Window.orderBy(col("dec10"))
      per.groupBy(col("dec10"))
        .agg(count(lit(1)).as("n"), sum(col("o")).as("x"))
        .withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("cum_x", sum(col("x")).over(wCum))
        .withColumn("uu", sum(col("n")).over(Window.partitionBy()))
        .withColumn("xx", sum(col("x")).over(Window.partitionBy()))
        .select(col("dec10").as("decile"), col("n").as("n_users"),
          col("x").as("n_positive"), col("cum_x").as("cum_positive"),
          when(col("xx") > 0, snap6(col("cum_x").cast("double")
            / col("xx").cast("double"))).as("gain"),
          when(col("xx") > 0, snap6(
            (dec(col("cum_x")) * dec(col("uu"))).cast("double")
              / (dec(col("xx")) * dec(col("cum_n"))).cast("double")))
            .as("lift"))
        .orderBy(col("decile"))
    }),

    // Gaussian kernel density of account balances at a fixed 11-point
    // grid (h = 500) — the SHAPE readout between q18's histogram
    // (blocky) and q39b's quantiles (inverse view): multimodality and
    // tail mass show directly, and a fixed evaluation grid is exactly
    // how a distributed KDE should run (never pairwise — each corpus
    // row contributes to 11 grid cells, a bounded fan-out). Each
    // kernel value exp(−(x−g)²/2h²) freezes to a NANO-unit long
    // before the fold (the q169 rule — a double Σ over rows would be
    // order-sensitive), so the grid sums are exact DECIMAL and each
    // density Σ/(n·h·√2π·10⁹) is one division of exact operands
    // (√2π spelled 2.5066282746310002 both engines), emitted
    // UNSNAPPED (single deterministic division; snapping ~1e-4
    // densities at 1e-6 would erase the signal). Scale shape: one
    // corpus pass with an 11× bounded fan-out, grid-keyed map-side
    // combine, 11 rows out.
    "q353_kde" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_acctbal").as("x"),
          explode(sequence(lit(0L), lit(10L))).as("gi"))
        .withColumn("g", lit(-1000.0) + col("gi").cast("double") * 1100.0)
        .withColumn("k9", floor(
          exp(-(col("x") - col("g")) * (col("x") - col("g"))
            / lit(500000.0)) * 1e9 + 0.5).cast("long"))
        .groupBy(col("gi"), col("g"))
        .agg(count(lit(1)).as("n"), sum(dec(col("k9"))).as("sk"))
        .select(col("g").as("grid_point"), col("n").as("n_rows"),
          // h·√2π·10⁹ pre-folded to ONE literal: a 3-constant chain
          // lets DuckDB's constant folder reassociate and land 1 ulp
          // off Spark's left-assoc runtime product (measured).
          (col("sk").cast("double")
            / (col("n").cast("double") * lit(1253314137315.5002)))
            .as("density"))
        .orderBy(col("grid_point"))
    }),

    // Mahalanobis outliers in (quantity, price-dollars) — the
    // MULTIVARIATE outlier screen q155's per-column MAD can't make
    // (a 50-unit order at a 50-unit price is normal; a 1-unit order
    // at a 50-unit total is not — only the covariance sees it):
    // d² = (Syy·dx² − 2Sxy·dx·dy + Sxx·dy²)/det over the exact
    // centered coordinates dx = n·x − Σx. The moment matrix entries
    // and det are exact DECIMAL cross-products; each d² is ONE
    // deterministic double expression of those exact operands (no
    // order-sensitive fold — the operands would overflow 38 digits
    // if the numerator stayed in DECIMAL at 10× scale, measured
    // class), 6-snapped, TakeOrdered top-10. Scale shape: one
    // 5-counter moment fold broadcast back, per-row arithmetic,
    // top-k. Degenerate covariance (det ≤ 0) yields no rows
    // identically.
    "q357_mahalanobis" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice")).cast("long").as("y"))
      val m = li.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx2"),
          sum(dec(col("y")) * dec(col("y"))).as("syy2"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy2"))
        .select(col("n"), col("sx"), col("sy"),
          (dec(col("n")) * col("sxx2") - dec(col("sx")) * dec(col("sx")))
            .as("sxx"),
          (dec(col("n")) * col("syy2") - dec(col("sy")) * dec(col("sy")))
            .as("syy"),
          (dec(col("n")) * col("sxy2") - dec(col("sx")) * dec(col("sy")))
            .as("sxy"))
      li.crossJoin(broadcast(m))
        // det in DOUBLE of the exact entries — the DECIMAL product
        // sxx·syy would overflow 38 digits at 10× scale
        .filter(col("sxx").cast("double") * col("syy").cast("double")
          - col("sxy").cast("double") * col("sxy").cast("double") > 0.0)
        .withColumn("dx", (dec(col("n")) * dec(col("x"))
          - dec(col("sx"))).cast("double"))
        .withColumn("dy", (dec(col("n")) * dec(col("y"))
          - dec(col("sy"))).cast("double"))
        .withColumn("d2", (col("syy").cast("double") * col("dx")
            * col("dx")
          - lit(2.0) * col("sxy").cast("double") * col("dx") * col("dy")
          + col("sxx").cast("double") * col("dy") * col("dy"))
          / (col("sxx").cast("double") * col("syy").cast("double")
            - col("sxy").cast("double") * col("sxy").cast("double")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("x").as("quantity"), col("y").as("price_dollars"),
          snap6(col("d2")).as("mahalanobis_d2"))
        .orderBy(col("mahalanobis_d2").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(10)
    })
  )

  def oracle: Map[String, String] = Map(
    "q258_minhash_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sg AS (SELECT event_type, p,
        |    min(('0x' || substr(md5(CAST(p AS VARCHAR) || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) AS sig
        |  FROM tu, range(0, 16) r(p) GROUP BY 1, 2),
        |est AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
        |      AS BIGINT) AS matches
        |  FROM sg a JOIN sg b ON a.p = b.p
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |sz AS (SELECT event_type, count(*) AS n_users
        |  FROM tu GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_inter
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, matches,
        |  CAST(matches AS DOUBLE) / 16.0 AS est_jaccard,
        |  CAST(n_inter AS DOUBLE)
        |    / CAST(sa.n_users + sb.n_users - n_inter AS DOUBLE)
        |    AS exact_jaccard,
        |  abs(CAST(matches AS DOUBLE) / 16.0 - CAST(n_inter AS DOUBLE)
        |    / CAST(sa.n_users + sb.n_users - n_inter AS DOUBLE))
        |    AS abs_err
        |FROM est JOIN iv USING (type_a, type_b)
        |  JOIN sz sa ON sa.event_type = type_a
        |  JOIN sz sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // the CASE chain is interpolated from the same DpAlphas tables the
    // Spark side folds over — one source of truth
    "q282_dp_epsilon_curve" -> {
      val chain = DpAlphas.map { case (am, table) =>
        table.map { case (t, v) =>
          s"WHEN am = $am AND u < $t THEN $v"
        }.mkString(" ")
      }.mkString(" ")
      s"""WITH cells AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    count(*) AS true_n
         |  FROM events GROUP BY 1, 2),
         |uu AS (SELECT event_type, day, true_n,
         |    ('0x' || substr(md5(event_type || ':'
         |      || CAST(day AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u
         |  FROM cells),
         |ex AS (SELECT true_n, u, am
         |  FROM uu, (VALUES (750000), (500000), (250000)) a(am)),
         |nz AS (SELECT am, true_n,
         |    CASE $chain ELSE -4 END AS noise
         |  FROM ex),
         |g AS (SELECT am, count(*) AS n_cells,
         |    CAST(sum(abs(noise)) AS BIGINT) AS sum_abs_noise,
         |    CAST(sum(CASE WHEN true_n + noise < 5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_suppressed
         |  FROM nz GROUP BY 1)
         |SELECT CAST(am AS DOUBLE) / 1e6 AS alpha,
         |  am = 750000 AS high_privacy,
         |  n_cells, sum_abs_noise,
         |  CAST(sum_abs_noise AS DOUBLE) / CAST(n_cells AS DOUBLE)
         |    AS mean_abs_noise,
         |  CAST(n_suppressed AS DOUBLE) / CAST(n_cells AS DOUBLE)
         |    AS suppressed_share
         |FROM g ORDER BY alpha""".stripMargin
    },

    "q281_minhash_k_curve" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sg AS (SELECT event_type, p,
        |    min(('0x' || substr(md5(CAST(p AS VARCHAR) || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT) AS sig
        |  FROM tu, range(0, 16) r(p) GROUP BY 1, 2),
        |mt AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    kk.k,
        |    CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
        |      AS BIGINT) AS matches
        |  FROM sg a JOIN sg b ON a.p = b.p
        |    AND a.event_type < b.event_type
        |  JOIN (VALUES (4), (8), (16)) kk(k) ON kk.k > a.p
        |  GROUP BY 1, 2, 3),
        |sz AS (SELECT event_type, count(*) AS n_users
        |  FROM tu GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_inter
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS k, type_a, type_b, matches,
        |  CAST(matches AS DOUBLE) / CAST(k AS DOUBLE) AS est_jaccard,
        |  CAST(n_inter AS DOUBLE)
        |    / CAST(sa.n_users + sb.n_users - n_inter AS DOUBLE)
        |    AS exact_jaccard,
        |  abs(CAST(matches AS DOUBLE) / CAST(k AS DOUBLE)
        |    - CAST(n_inter AS DOUBLE)
        |    / CAST(sa.n_users + sb.n_users - n_inter AS DOUBLE))
        |    AS abs_err
        |FROM mt JOIN iv USING (type_a, type_b)
        |  JOIN sz sa ON sa.event_type = type_a
        |  JOIN sz sb ON sb.event_type = type_b
        |ORDER BY k, type_a, type_b""".stripMargin,

    "q262_mutual_info" ->
      """WITH cells AS (SELECT lang, source, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT c,
        |    sum(c) OVER () AS n,
        |    sum(c) OVER (PARTITION BY lang) AS cl,
        |    sum(c) OVER (PARTITION BY source) AS cs,
        |    lang, source
        |  FROM cells),
        |joint AS (SELECT CAST(max(n) AS BIGINT) AS n_docs,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources,
        |    sum(CAST(c AS HUGEINT) * CAST(
        |        floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
        |        + floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |        - floor(ln(CAST(cl AS DOUBLE)) * 1e6 + 0.5)
        |        - floor(ln(CAST(cs AS DOUBLE)) * 1e6 + 0.5)
        |      AS HUGEINT)) AS mi_num,
        |    sum(CAST(c AS HUGEINT) * CAST(
        |        floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |        - floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
        |      AS HUGEINT)) AS hj_num
        |  FROM g),
        |hl AS (SELECT sum(CAST(ck AS HUGEINT) * CAST(
        |      floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |      - floor(ln(CAST(ck AS DOUBLE)) * 1e6 + 0.5)
        |    AS HUGEINT)) AS hl_num
        |  FROM (SELECT ck, sum(ck) OVER () AS n FROM
        |    (SELECT sum(c) AS ck FROM cells GROUP BY lang))),
        |hs AS (SELECT sum(CAST(ck AS HUGEINT) * CAST(
        |      floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |      - floor(ln(CAST(ck AS DOUBLE)) * 1e6 + 0.5)
        |    AS HUGEINT)) AS hs_num
        |  FROM (SELECT ck, sum(ck) OVER () AS n FROM
        |    (SELECT sum(c) AS ck FROM cells GROUP BY source)))
        |SELECT n_docs, n_langs, n_sources,
        |  CAST(hl_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
        |    AS h_lang,
        |  CAST(hs_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
        |    AS h_source,
        |  CAST(hj_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
        |    AS h_joint,
        |  CAST(mi_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
        |    AS mi_nats,
        |  CASE WHEN least(
        |      CAST(hl_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6),
        |      CAST(hs_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6))
        |      > 0.0
    |    THEN (CAST(mi_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6))
        |      / least(
        |        CAST(hl_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6),
        |        CAST(hs_num AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6))
        |    ELSE 0.0 END AS nmi
        |FROM joint, hl, hs""".stripMargin,

    "q268_hll_registers" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |      ::BIGINT AS h
        |  FROM events),
        |b AS (SELECT event_type, CAST(h >> 42 AS INT) AS bucket,
        |    h & ((1::BIGINT << 42) - 1) AS rem
        |  FROM h),
        |rk AS (SELECT event_type, bucket,
        |    43 - len(list_filter(range(1, 43),
        |      k -> rem >= (1::BIGINT << (k - 1)))) AS rank
        |  FROM b),
        |regs AS (SELECT event_type, bucket, max(rank) AS m_j
        |  FROM rk GROUP BY 1, 2),
        |sk AS (SELECT event_type,
        |    count(*) AS n_hit,
        |    sum(1.0::DOUBLE
        |      / CAST(1::BIGINT << m_j AS DOUBLE)) AS s_hit
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT event_type,
        |    count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_hit,
        |  0.709::DOUBLE * 4096.0::DOUBLE
        |    / (s_hit + CAST(64 - n_hit AS DOUBLE)) AS est_raw,
        |  exact_users,
        |  abs(0.709::DOUBLE * 4096.0::DOUBLE
        |      / (s_hit + CAST(64 - n_hit AS DOUBLE))
        |    - CAST(exact_users AS DOUBLE)) / CAST(exact_users AS DOUBLE)
        |    AS rel_err
        |FROM sk JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q252_bootstrap_ci" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |reps AS (SELECT event_type, event_id, cents,
        |    unnest(range(32)) AS b
        |  FROM e),
        |ru AS (SELECT event_type, cents, b,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
        |      || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u
        |  FROM reps),
        |rc AS (SELECT event_type, cents, b,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |      WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |      WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
        |      WHEN u < 999843 THEN 6 ELSE 7 END AS c
        |  FROM ru),
        |rm AS (SELECT event_type, b,
        |    CAST(sum(c * cents) AS BIGINT) AS wsum,
        |    CAST(sum(c) AS BIGINT) AS wn,
        |    count(*) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS cents_all
        |  FROM rc GROUP BY 1, 2),
        |rm2 AS (SELECT event_type, b, n_rows, cents_all,
        |    CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE) / 100.0
        |      AS mean_b,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(wsum AS DOUBLE) / CAST(wn AS DOUBLE)
        |        / 100.0, b) AS rn
        |  FROM rm),
        |g AS (SELECT event_type,
        |    max(CASE WHEN b = 0 THEN n_rows END) AS n_events,
        |    max(CASE WHEN b = 0 THEN cents_all END) AS cents_sum,
        |    min(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
        |    min(CASE WHEN rn = 31 THEN mean_b END) AS ci_hi
        |  FROM rm2 GROUP BY 1)
        |SELECT event_type, n_events,
        |  CAST(cents_sum AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0
        |    AS mean_value,
        |  ci_lo, ci_hi, ci_hi - ci_lo AS ci_width
        |FROM g ORDER BY event_type""".stripMargin,

    "q254_dp_release" ->
      """WITH g AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS true_n
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, day, true_n,
        |    ('0x' || substr(md5(event_type || ':'
        |      || CAST(day AS VARCHAR)), 1, 8))::BIGINT % 1000000 AS u
        |  FROM g),
        |r AS (SELECT event_type, day, true_n,
        |    CASE WHEN u < 333333 THEN 0 WHEN u < 500000 THEN 1
        |      WHEN u < 666667 THEN -1 WHEN u < 750000 THEN 2
        |      WHEN u < 833333 THEN -2 WHEN u < 875000 THEN 3
        |      WHEN u < 916667 THEN -3 WHEN u < 958334 THEN 4
        |      ELSE -4 END AS noise
        |  FROM n)
        |SELECT event_type, day, true_n, CAST(noise AS BIGINT) AS noise,
        |  CAST(true_n + noise AS BIGINT) AS released,
        |  true_n + noise < 5 AS suppressed
        |FROM r ORDER BY event_type, day""".stripMargin,

    "q248_ldiversity" ->
      """WITH c AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / CAST(1000 AS DOUBLE)) AS BIGINT)
        |      AS bal_bucket,
        |    count(DISTINCT c_mktsegment) AS l_div,
        |    count(*) AS k_size
        |  FROM customer GROUP BY 1, 2),
        |l AS (SELECT l_div, count(*) AS n_classes,
        |    CAST(sum(k_size) AS BIGINT) AS n_rows
        |  FROM c GROUP BY 1),
        |w AS (SELECT l_div, n_classes, n_rows,
        |    CAST(sum(n_rows) OVER () AS BIGINT) AS n_total
        |  FROM l)
        |SELECT CAST(l_div AS BIGINT) AS l_div, n_classes, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share,
        |  l_div < 3 AS violates_l3
        |FROM w ORDER BY l_div""".stripMargin,

    "q238_cohens_kappa" ->
      """WITH p AS (SELECT event_type AS gold,
        |    CASE WHEN value < 80 THEN 'view'
        |      WHEN value < 160 THEN 'click'
        |      WHEN value < 240 THEN 'signup'
        |      WHEN value < 320 THEN 'purchase'
        |      ELSE 'error' END AS pred
        |  FROM events),
        |cells AS (SELECT gold, pred, count(*) AS n
        |  FROM p GROUP BY 1, 2),
        |c AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS col_n
        |  FROM cells GROUP BY 1),
        |rcx AS (SELECT sum(CAST(n AS DECIMAL(19,0))
        |      * CAST(col_n AS DECIMAL(19,0))) AS rc
        |  FROM cells JOIN c ON gold = cls),
        |b AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM cells)
        |SELECT n_total, n_agree,
        |  CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE) AS po,
        |  floor(CAST(rc AS DOUBLE)
        |    / CAST(CAST(n_total AS DECIMAL(19,0))
        |        * CAST(n_total AS DECIMAL(19,0)) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS pe,
        |  floor(CAST(CAST(n_total AS DECIMAL(19,0))
        |      * CAST(n_agree AS DECIMAL(19,0)) - rc AS DOUBLE)
        |    / CAST(CAST(n_total AS DECIMAL(19,0))
        |      * CAST(n_total AS DECIMAL(19,0)) - rc AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS kappa
        |FROM b, rcx""".stripMargin,

    "q224_ks_drift" ->
      """WITH p AS (SELECT event_type, value,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
        |    sum(ca) OVER (PARTITION BY event_type) AS n_a,
        |    sum(cb) OVER (PARTITION BY event_type) AS n_b
        |  FROM p)
        |SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_a,
        |  CAST(max(n_b) AS BIGINT) AS n_b,
        |  max(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q226_kanon_audit" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / CAST(1000 AS DOUBLE)) AS BIGINT)
        |      AS bal_bucket,
        |    count(*) AS k_size
        |  FROM customer GROUP BY 1, 2, 3),
        |k AS (SELECT k_size, count(*) AS n_classes,
        |    CAST(sum(k_size) AS BIGINT) AS n_rows
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM k),
        |w AS (SELECT k_size, n_classes, n_rows, n_total,
        |    CAST(sum(n_rows) OVER (ORDER BY k_size
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_rows
        |  FROM k, t)
        |SELECT k_size, n_classes, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS row_share,
        |  CAST(cum_rows AS DOUBLE) / CAST(n_total AS DOUBLE)
        |    AS cum_risk_share,
        |  k_size < 5 AS violates_k5
        |FROM w ORDER BY k_size""".stripMargin,

    "q225_psi_drift" ->
      """WITH b AS (SELECT event_type,
        |    CAST(least(floor(value / CAST(50 AS DOUBLE)), 9) AS BIGINT)
        |      AS bucket,
        |    CAST(ts AS DATE) <= DATE '2024-01-15' AS is_a
        |  FROM events),
        |cells AS (SELECT event_type, bucket,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, ca, cb,
        |    sum(ca) OVER (PARTITION BY event_type) AS n_a,
        |    sum(cb) OVER (PARTITION BY event_type) AS n_b,
        |    ca > 0 AND cb > 0 AS used
        |  FROM cells),
        |terms AS (SELECT event_type, ca, cb, n_a, n_b, used,
        |    CASE WHEN used THEN
        |      (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      * (floor(ln((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))
        |          / (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))) * 1e6
        |          + 0.5) / 1e6)
        |    ELSE CAST(0 AS DOUBLE) END AS term
        |  FROM t)
        |SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_a,
        |  CAST(max(n_b) AS BIGINT) AS n_b,
        |  CAST(count(CASE WHEN used THEN 1 END) AS BIGINT)
        |    AS n_buckets_used,
        |  CAST(sum(CASE WHEN NOT used THEN ca ELSE 0 END) AS BIGINT)
        |    AS rows_a_excluded,
        |  CAST(sum(CASE WHEN NOT used THEN cb ELSE 0 END) AS BIGINT)
        |    AS rows_b_excluded,
        |  floor(sum(term) * 1e6 + 0.5) / 1e6 AS psi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,

    "q210_purge_audit" ->
      """WITH doomed AS (SELECT c_custkey FROM customer
        |  WHERE c_acctbal < -900.0),
        |oh AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM doomed)),
        |r AS (
        |  SELECT 'customer' AS relation,
        |    (SELECT count(*) FROM doomed) AS hit,
        |    (SELECT count(*) FROM customer) AS total
        |  UNION ALL SELECT 'orders',
        |    (SELECT count(*) FROM oh),
        |    (SELECT count(*) FROM orders)
        |  UNION ALL SELECT 'lineitem',
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM oh)),
        |    (SELECT count(*) FROM lineitem))
        |SELECT relation, hit, total,
        |  CASE WHEN total > 0 THEN
        |    CAST(hit AS DOUBLE) / CAST(total AS DOUBLE) END AS purge_share
        |FROM r ORDER BY relation""".stripMargin,

    // every fractional literal ::DOUBLE (the q168 decimal-literal
    // trap) and the operator chain spelled in the same association
    // order as the Spark side — the Wilson bound is then the same
    // sequence of IEEE ops on the same exact-fraction inputs.
    "q207_wilson_returns" ->
      """WITH g AS (SELECT p_brand, count(*) AS n_lines,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returns
        |  FROM lineitem, part WHERE l_partkey = p_partkey
        |  GROUP BY p_brand),
        |c AS (SELECT *, CAST(n_lines AS DOUBLE) AS nd,
        |    CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
        |    1.96::DOUBLE * 1.96::DOUBLE / CAST(n_lines AS DOUBLE) AS z2n
        |  FROM g)
        |SELECT p_brand, n_lines, n_returns, p AS return_rate,
        |  (p + z2n / 2.0::DOUBLE
        |    - 1.96::DOUBLE * sqrt(p * (1.0::DOUBLE - p) / nd
        |      + z2n / (4.0::DOUBLE * nd)))
        |  / (1.0::DOUBLE + z2n) AS wilson_lb
        |FROM c ORDER BY wilson_lb DESC, p_brand""".stripMargin,

    // row_number formulation — a different algorithm proving the
    // two-level struct-max argmax equivalent.
    "q206_favorite_brand" ->
      """WITH pairs AS (
        |  SELECT o_custkey, p_brand, count(*) AS n
        |  FROM lineitem, orders, part
        |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
        |  GROUP BY o_custkey, p_brand),
        |fav AS (
        |  SELECT o_custkey, p_brand,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY n DESC, p_brand DESC) AS rk
        |  FROM pairs)
        |SELECT p_brand AS favorite_brand, count(*) AS n_customers
        |FROM fav WHERE rk = 1
        |GROUP BY p_brand
        |ORDER BY n_customers DESC, favorite_brand""".stripMargin,

    "q205_dup_payments" ->
      """SELECT o1.o_custkey, o1.o_orderkey AS k1, o2.o_orderkey AS k2,
        |  o1.o_totalprice AS amount1, o2.o_totalprice AS amount2,
        |  abs(CAST(o2.o_orderdate AS DATE) - CAST(o1.o_orderdate AS DATE))
        |    AS day_gap
        |FROM orders o1, orders o2
        |WHERE o1.o_custkey = o2.o_custkey
        |  AND o1.o_orderkey < o2.o_orderkey
        |  AND abs(o2.o_totalprice - o1.o_totalprice) <= 1000.0::DOUBLE
        |  AND abs(CAST(o2.o_orderdate AS DATE)
        |    - CAST(o1.o_orderdate AS DATE)) <= 180
        |ORDER BY o1.o_custkey, k1, k2""".stripMargin,

    "q203_skew_report" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem
        |  GROUP BY l_suppkey),
        |t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
        |SELECT l_suppkey, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(n * n_keys AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS ratio_to_mean
        |FROM c, t
        |ORDER BY n DESC, l_suppkey
        |LIMIT 10""".stripMargin,

    "q202_benford_audit" ->
      """WITH g AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice::DECIMAL(12,2) * 100
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6 + 0.5) / 1e6
        |    AS benford,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |    - floor(log10(1 + CAST(1 AS DOUBLE) / digit) * 1e6 + 0.5) / 1e6
        |    AS deviation
        |FROM g, t ORDER BY digit""".stripMargin,

    // same row rendering, same 15-hex-char fold; DuckDB's bit_xor over
    // the 0x-prefixed cast reproduces the Spark conv()/cast chain.
    "q138_table_checksum" ->
      """WITH o AS (SELECT 'orders' AS table_name, count(*) AS n_rows,
        |    bit_xor(CAST(concat('0x', substring(md5(
        |      o_orderkey || '|' || o_orderstatus || '|'
        |      || CAST(o_totalprice::DECIMAL(18,2) AS VARCHAR) || '|'
        |      || CAST(o_orderdate::DATE AS VARCHAR)), 1, 15)) AS BIGINT))
        |      AS checksum
        |  FROM orders),
        |c AS (SELECT 'customer', count(*),
        |    bit_xor(CAST(concat('0x', substring(md5(
        |      c_custkey || '|' || c_name || '|' || c_nationkey || '|'
        |      || CAST(c_acctbal::DECIMAL(18,2) AS VARCHAR) || '|'
        |      || c_mktsegment), 1, 15)) AS BIGINT))
        |  FROM customer),
        |l AS (SELECT 'lineitem', count(*),
        |    bit_xor(CAST(concat('0x', substring(md5(
        |      l_orderkey || '|' || l_linenumber || '|' || l_returnflag
        |      || '|' || CAST(l_quantity::DECIMAL(18,2) AS VARCHAR)),
        |      1, 15)) AS BIGINT))
        |  FROM lineitem)
        |SELECT * FROM o UNION ALL SELECT * FROM c UNION ALL
        |SELECT * FROM l ORDER BY table_name""".stripMargin,

    // same derived snapshots, same DECIMAL-rendered md5 digest.
    "q131_table_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k1,
        |    md5(o_orderstatus || '|' || o_orderpriority || '|'
        |      || CAST(o_totalprice::DECIMAL(18,2) AS VARCHAR) || '|'
        |      || CAST(o_orderdate::DATE AS VARCHAR)) AS h1
        |  FROM orders WHERE o_orderkey % 97 != 0),
        |v2 AS (SELECT o_orderkey AS k2,
        |    md5(o_orderstatus || '|' || o_orderpriority || '|'
        |      || CAST((CASE WHEN o_orderkey % 7 = 0
        |            THEN o_totalprice + 1.0
        |            ELSE o_totalprice END)::DECIMAL(18,2) AS VARCHAR)
        |      || '|' || CAST(o_orderdate::DATE AS VARCHAR)) AS h2
        |  FROM orders WHERE o_orderkey % 89 != 0),
        |j AS (SELECT CASE WHEN k1 IS NULL THEN 'added'
        |      WHEN k2 IS NULL THEN 'removed'
        |      WHEN h1 != h2 THEN 'changed'
        |      ELSE 'unchanged' END AS diff_class,
        |    coalesce(k1, k2) AS k
        |  FROM v1 FULL OUTER JOIN v2 ON k1 = k2)
        |SELECT diff_class, count(*) AS n_rows,
        |  min(k) AS min_key, max(k) AS max_key
        |FROM j GROUP BY diff_class ORDER BY diff_class""".stripMargin,

    "q92_describe" -> {
      val rows = profiled.map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS cnt,
           |  round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS std,
           |  min($c) AS minv, max($c) AS maxv FROM lineitem""".stripMargin
      }
      rows.mkString("WITH s AS (", "\nUNION ALL\n", ")\n") +
        "SELECT * FROM s ORDER BY col_name"
    },

    "q97_crosstab" ->
      """SELECT l_returnflag AS l_returnflag_l_linestatus,
        |  count(*) FILTER (l_linestatus = 'F') AS F,
        |  count(*) FILTER (l_linestatus = 'O') AS O
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag_l_linestatus""".stripMargin,

    "q98_union_byname" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(NULL AS VARCHAR) AS o_orderpriority, 'a' AS src
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority, 'b'
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |ORDER BY o_orderkey, src""".stripMargin,

    "q99_na_functions" ->
      """WITH base AS (SELECT o_orderkey,
        |    nullif(o_orderstatus, 'O') AS status_n,
        |    CASE WHEN o_totalprice < 150000 THEN NULL
        |         ELSE o_totalprice END AS price_n,
        |    CASE WHEN o_custkey % 3 = 0 THEN NULL
        |         ELSE o_custkey END AS cust_n
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN status_n = 'F' THEN 'FINAL' ELSE status_n END AS status_n,
        |  coalesce(price_n, -1.0) AS price_n,
        |  cust_n
        |FROM base WHERE cust_n IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q94_decimal" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR)
        |    AS sum_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
        |      * CAST(1 - l_discount AS DECIMAL(14,2))) AS DECIMAL(38,4))
        |    AS VARCHAR) AS sum_disc_price,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR)
        |    AS min_price,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR)
        |    AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q121_quality_audit" ->
      """WITH one AS (SELECT count(*) AS n,
        |    count_if(l_quantity < 1 OR l_quantity > 50) AS v_qty,
        |    count_if(l_discount < 0 OR l_discount > 0.08) AS v_disc,
        |    count_if(NOT l_returnflag IN ('A', 'N', 'R')) AS v_flag,
        |    count_if(l_shipdate IS NULL) AS v_ship
        |  FROM lineitem),
        |rows_out AS (
        |  SELECT 'li_discount_le_0.08' AS check_name,
        |    n AS n_checked, v_disc AS n_violations FROM one
        |  UNION ALL SELECT 'li_flag_domain', n, v_flag FROM one
        |  UNION ALL SELECT 'li_quantity_range', n, v_qty FROM one
        |  UNION ALL SELECT 'li_shipdate_complete', n, v_ship FROM one
        |  UNION ALL SELECT 'li_key_unique', count(*),
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |  FROM lineitem
        |  UNION ALL SELECT 'orders_custkey_ri', count(*),
        |    count_if(c.c_custkey IS NULL)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM rows_out ORDER BY check_name""".stripMargin,

    // DuckDB median over DOUBLE = quantile_cont(0.5) = Spark's
    // interpolating exact median; 1.4826 is the normal-consistency
    // constant, multiplied before the division exactly as in Spark.
    "q155_mad_outliers" ->
      """WITH m1 AS (SELECT event_type, median(value) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m1.med,
        |    abs(e.value - m1.med) AS adev
        |  FROM events e JOIN m1 USING (event_type)),
        |m2 AS (SELECT event_type, median(adev) AS mad
        |  FROM d GROUP BY 1),
        |z AS (SELECT d.event_id, d.event_type, d.value, d.med, m2.mad,
        |    CASE WHEN m2.mad > 0 THEN
        |      (d.value - d.med) / (1.4826::DOUBLE * m2.mad) END AS robust_z
        |  FROM d JOIN m2 USING (event_type))
        |SELECT event_id, event_type, value, med, mad, robust_z
        |FROM z WHERE abs(robust_z) > 3.5
        |ORDER BY event_id""".stripMargin,

    // quantile_cont = Spark's exact interpolating percentile; bounds
    // snapped to 6 decimals on both engines before bucketing.
    "q159_rfm_segments" ->
      """WITH a AS (SELECT max(o_orderdate::DATE) AS anchor FROM orders),
        |rfm AS (SELECT o_custkey,
        |    CAST(min(date_diff('day', o_orderdate::DATE, a.anchor))
        |      AS INT) AS recency_days,
        |    count(*) AS frequency,
        |    round(sum(o_totalprice), 2) AS monetary
        |  FROM orders, a GROUP BY o_custkey),
        |b AS (SELECT
        |    list_transform(quantile_cont(recency_days,
        |      [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS rb,
        |    list_transform(quantile_cont(frequency,
        |      [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS fb,
        |    list_transform(quantile_cont(monetary,
        |      [0.2, 0.4, 0.6, 0.8]), x -> round(x, 6)) AS mb
        |  FROM rfm),
        |sc AS (SELECT rfm.*,
        |    6 - (1 + CASE WHEN recency_days > rb[1] THEN 1 ELSE 0 END
        |           + CASE WHEN recency_days > rb[2] THEN 1 ELSE 0 END
        |           + CASE WHEN recency_days > rb[3] THEN 1 ELSE 0 END
        |           + CASE WHEN recency_days > rb[4] THEN 1 ELSE 0 END)
        |      AS r_score,
        |    1 + CASE WHEN frequency > fb[1] THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > fb[2] THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > fb[3] THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > fb[4] THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN monetary > mb[1] THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > mb[2] THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > mb[3] THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > mb[4] THEN 1 ELSE 0 END AS m_score
        |  FROM rfm, b)
        |SELECT o_custkey, recency_days, CAST(frequency AS BIGINT)
        |    AS frequency, monetary,
        |  CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
        |  CAST(m_score AS INT) AS m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |      THEN 'champion'
        |    WHEN f_score >= 4 THEN 'loyal'
        |    WHEN m_score >= 4 THEN 'big_spender'
        |    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |    WHEN r_score <= 2 THEN 'hibernating'
        |    ELSE 'regular' END AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin,

    "q180_fk_audit" ->
      """SELECT relation, n_refs, n_orphans,
        |  CASE WHEN n_refs > 0 THEN
        |    CAST(n_orphans AS DOUBLE) / n_refs END AS orphan_rate
        |FROM (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS relation,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)
        |      AS n_refs,
        |    (SELECT count(*) FROM lineitem l LEFT JOIN
        |      (SELECT DISTINCT o_orderkey FROM orders) o
        |      ON l.l_orderkey = o.o_orderkey
        |      WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
        |      AS n_orphans
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part.p_partkey',
        |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
        |    (SELECT count(*) FROM lineitem l LEFT JOIN
        |      (SELECT DISTINCT p_partkey FROM part) p
        |      ON l.l_partkey = p.p_partkey
        |      WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
        |    (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
        |    (SELECT count(*) FROM lineitem l LEFT JOIN
        |      (SELECT DISTINCT s_suppkey FROM supplier) sp
        |      ON l.l_suppkey = sp.s_suppkey
        |      WHERE l.l_suppkey IS NOT NULL AND sp.s_suppkey IS NULL)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer.c_custkey',
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
        |    (SELECT count(*) FROM orders o LEFT JOIN
        |      (SELECT DISTINCT c_custkey FROM customer) c
        |      ON o.o_custkey = c.c_custkey
        |      WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL))
        |ORDER BY relation""".stripMargin,

    "q332_eb_shrinkage" ->
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, x * 1000000 // n AS rmu FROM per),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS uu,
        |    sum(CAST(rmu AS HUGEINT)) AS s1,
        |    sum(CAST(rmu AS HUGEINT) * CAST(rmu AS HUGEINT)) AS s2
        |  FROM r),
        |f2 AS (SELECT uu,
        |    CAST(s1 AS DOUBLE) / (CAST(uu AS DOUBLE) * 1e6) AS m,
        |    CAST(CAST(uu AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(uu AS DOUBLE) * CAST(uu AS DOUBLE) * 1e12) AS v
        |  FROM f),
        |f3 AS (SELECT uu, m, v, CASE WHEN v > 0 THEN
        |    m * (1.0::DOUBLE - m) / v - 1.0::DOUBLE END AS ab
        |  FROM f2)
        |SELECT user_id, n, x,
        |  floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS raw_rate,
        |  CASE WHEN ab > 0 THEN floor(m * ab * 1e6 + 0.5) / 1e6 END
        |    AS alpha,
        |  CASE WHEN ab > 0 THEN floor((1.0::DOUBLE - m) * ab * 1e6
        |    + 0.5) / 1e6 END AS beta,
        |  CASE WHEN ab > 0 THEN floor((CAST(x AS DOUBLE) + m * ab)
        |    / (CAST(n AS DOUBLE) + ab) * 1e6 + 0.5) / 1e6 END
        |    AS shrunk_rate
        |FROM r, f3 ORDER BY shrunk_rate DESC, user_id
        |LIMIT 20""".stripMargin,

    "q335_t_closeness" ->
      """WITH cu AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey)
        |      AS BIGINT) AS dec10
        |  FROM customer),
        |gl AS (SELECT dec10, CAST(count(*) AS BIGINT) AS g FROM cu
        |  GROUP BY 1),
        |gt AS (SELECT dec10, g, CAST(sum(g) OVER () AS BIGINT)
        |    AS n_tot FROM gl),
        |cl AS (SELECT c_nationkey, c_mktsegment, dec10,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM cu GROUP BY 1, 2, 3),
        |cls AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM cl),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, gt.dec10,
        |    gt.g, gt.n_tot, coalesce(cl.c, 0) AS c
        |  FROM cls CROSS JOIN gt LEFT JOIN cl
        |    ON cl.c_nationkey = cls.c_nationkey
        |    AND cl.c_mktsegment = cls.c_mktsegment
        |    AND cl.dec10 = gt.dec10),
        |w1 AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_nationkey,
        |    c_mktsegment) AS BIGINT) AS n_cls FROM grid),
        |w2 AS (SELECT *, sum(CAST(c AS HUGEINT) * n_tot
        |      - CAST(g AS HUGEINT) * n_cls)
        |    OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY dec10) AS ri
        |  FROM w1),
        |g2 AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(max(n_cls) AS BIGINT) AS class_size,
        |    CAST(max(n_tot) AS BIGINT) AS ntv,
        |    CAST(count(*) AS BIGINT) AS m, sum(abs(ri)) AS sabs
        |  FROM w2 GROUP BY 1, 2),
        |f AS (SELECT *, CASE WHEN m > 1 THEN
        |    floor(CAST(sabs AS DOUBLE)
        |    / CAST(CAST(m - 1 AS HUGEINT) * class_size * ntv
        |      AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS t_emd
        |  FROM g2)
        |SELECT c_nationkey, c_mktsegment, class_size, t_emd,
        |  t_emd > 0.2::DOUBLE AS violates_t02
        |FROM f ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q337_info_gain" ->
      """WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
        |      AS BIGINT) AS pc,
        |    o_orderpriority, o_orderstatus,
        |    CAST(month(o_orderdate) AS VARCHAR) AS omonth
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |    CAST(sum(pc) AS BIGINT) AS spc FROM o),
        |l AS (SELECT CAST(pc AS HUGEINT) * nn > spc AS label,
        |    o_orderpriority, o_orderstatus, omonth
        |  FROM o, t),
        |hl AS (SELECT CAST(count(*) AS BIGINT) AS cl FROM l
        |  GROUP BY label),
        |hn AS (SELECT CAST(sum(cl) AS BIGINT) AS nn2,
        |    sum(CAST(cl AS HUGEINT) * CAST(floor(ln(CAST(cl AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT)) AS sll
        |  FROM hl),
        |h AS (SELECT nn2, CAST(nn2 AS HUGEINT)
        |    * CAST(floor(ln(CAST(nn2 AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) - sll AS h_num
        |  FROM hn),
        |m AS (SELECT label, 'priority' AS feature,
        |    o_orderpriority AS value FROM l
        |  UNION ALL SELECT label, 'status', o_orderstatus FROM l
        |  UNION ALL SELECT label, 'month', omonth FROM l),
        |c1 AS (SELECT feature, value, label,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM m GROUP BY 1, 2, 3),
        |c2 AS (SELECT feature, value, CAST(sum(c) AS BIGINT) AS nv,
        |    sum(CAST(c AS HUGEINT) * CAST(floor(ln(CAST(c AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT)) AS slc
        |  FROM c1 GROUP BY 1, 2),
        |c3 AS (SELECT feature, CAST(count(*) AS BIGINT) AS n_values,
        |    sum(CAST(nv AS HUGEINT)
        |      * CAST(floor(ln(CAST(nv AS DOUBLE)) * 1e6 + 0.5)
        |        AS BIGINT) - slc) AS cond_num
        |  FROM c2 GROUP BY 1)
        |SELECT feature, n_values,
        |  floor(CAST(h_num AS DOUBLE) / (CAST(nn2 AS DOUBLE) * 1e6)
        |    * 1e6 + 0.5) / 1e6 AS h_label,
        |  floor(CAST(cond_num AS DOUBLE) / (CAST(nn2 AS DOUBLE) * 1e6)
        |    * 1e6 + 0.5) / 1e6 AS h_cond,
        |  floor(CAST(h_num - cond_num AS DOUBLE)
        |    / (CAST(nn2 AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS info_gain
        |FROM c3, h ORDER BY info_gain DESC, feature""".stripMargin,

    "q348_brier_decomposition" ->
      """WITH per0 AS (SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1
        |      ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(max(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS DATE) = DATE '2024-01-25' THEN 1
        |      ELSE 0 END) AS BIGINT) AS o
        |  FROM events GROUP BY 1),
        |per AS (SELECT *, x1 * 1000000 // n1 AS pm,
        |    least(x1 * 1000000 // n1 // 100000, 9) AS bin
        |  FROM per0 WHERE n1 > 0),
        |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(pm) AS BIGINT) AS sb,
        |    CAST(sum(o) AS BIGINT) AS xb
        |  FROM per GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS uu,
        |    CAST(sum(o) AS BIGINT) AS xx,
        |    sum((CAST(pm AS HUGEINT) - CAST(o AS HUGEINT) * 1000000)
        |      * (CAST(pm AS HUGEINT) - CAST(o AS HUGEINT) * 1000000))
        |      AS bnum
        |  FROM per),
        |c AS (SELECT bin, nb, sb, xb, uu, xx, bnum,
        |    (CAST(sb AS HUGEINT) - CAST(xb AS HUGEINT) * 1000000)
        |      * (CAST(sb AS HUGEINT) - CAST(xb AS HUGEINT) * 1000000)
        |      // (CAST(nb AS HUGEINT) * 1000) AS rel9,
        |    (CAST(xb AS HUGEINT) * uu - CAST(xx AS HUGEINT) * nb)
        |      * (CAST(xb AS HUGEINT) * uu - CAST(xx AS HUGEINT) * nb)
        |      * 1000000000 // CAST(nb AS HUGEINT) AS res9
        |  FROM b, t),
        |g AS (SELECT uu, xx, bnum, CAST(count(*) AS BIGINT) AS n_bins,
        |    sum(rel9) AS srel, sum(res9) AS sres
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT uu AS n_users, n_bins,
        |  floor(CAST(bnum AS DOUBLE) / (CAST(uu AS DOUBLE) * 1e12)
        |    * 1e6 + 0.5) / 1e6 AS brier,
        |  floor(CAST(srel AS DOUBLE) / (CAST(uu AS DOUBLE) * 1e9)
        |    * 1e6 + 0.5) / 1e6 AS reliability,
        |  floor(CAST(sres AS DOUBLE) / (CAST(uu AS DOUBLE)
        |    * CAST(uu AS DOUBLE) * CAST(uu AS DOUBLE) * 1e9)
        |    * 1e6 + 0.5) / 1e6 AS resolution,
        |  floor(CAST(CAST(xx AS HUGEINT) * (uu - xx) AS DOUBLE)
        |    / (CAST(uu AS DOUBLE) * CAST(uu AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS uncertainty
        |FROM g""".stripMargin,

    "q349_cumulative_gains" ->
      """WITH per AS (SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |    CAST(max(CASE WHEN event_type = 'purchase'
        |      AND CAST(ts AS DATE) = DATE '2024-01-25' THEN 1
        |      ELSE 0 END) AS BIGINT) AS o
        |  FROM events GROUP BY 1),
        |dq AS (SELECT *, CAST(ntile(10) OVER (ORDER BY score DESC,
        |    user_id) AS BIGINT) AS dec10 FROM per),
        |g AS (SELECT dec10, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o) AS BIGINT) AS x
        |  FROM dq GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(n) OVER (ORDER BY dec10) AS BIGINT) AS cum_n,
        |    CAST(sum(x) OVER (ORDER BY dec10) AS BIGINT) AS cum_x,
        |    CAST(sum(n) OVER () AS BIGINT) AS uu,
        |    CAST(sum(x) OVER () AS BIGINT) AS xx
        |  FROM g)
        |SELECT dec10 AS decile, n AS n_users, x AS n_positive,
        |  cum_x AS cum_positive,
        |  CASE WHEN xx > 0 THEN floor(CAST(cum_x AS DOUBLE)
        |    / CAST(xx AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS gain,
        |  CASE WHEN xx > 0 THEN
        |    floor(CAST(CAST(cum_x AS HUGEINT) * uu AS DOUBLE)
        |      / CAST(CAST(xx AS HUGEINT) * cum_n AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 END AS lift
        |FROM c ORDER BY decile""".stripMargin,

    "q353_kde" ->
      """WITH f AS (SELECT c_acctbal AS x, CAST(gi AS BIGINT) AS gi,
        |    -1000.0::DOUBLE + CAST(gi AS DOUBLE) * 1100.0::DOUBLE AS g
        |  FROM customer, range(0, 11) r(gi)),
        |k AS (SELECT gi, g,
        |    CAST(floor(exp(-(x - g) * (x - g) / 500000.0::DOUBLE)
        |      * 1e9 + 0.5) AS BIGINT) AS k9
        |  FROM f),
        |a AS (SELECT gi, g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(k9 AS HUGEINT)) AS sk
        |  FROM k GROUP BY 1, 2)
        |SELECT g AS grid_point, n AS n_rows,
        |  CAST(sk AS DOUBLE) / (CAST(n AS DOUBLE)
        |    * 1253314137315.5002::DOUBLE) AS density
        |FROM a ORDER BY grid_point""".stripMargin,

    "q357_mahalanobis" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem),
        |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx2,
        |    sum(CAST(y AS HUGEINT) * y) AS syy2,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy2
        |  FROM li),
        |m AS (SELECT n, sx, sy,
        |    CAST(n AS HUGEINT) * sxx2 - CAST(sx AS HUGEINT) * sx
        |      AS sxx,
        |    CAST(n AS HUGEINT) * syy2 - CAST(sy AS HUGEINT) * sy
        |      AS syy,
        |    CAST(n AS HUGEINT) * sxy2 - CAST(sx AS HUGEINT) * sy
        |      AS sxy
        |  FROM m0),
        |r AS (SELECT li.l_orderkey, li.l_linenumber, li.x, li.y,
        |    CAST(CAST(n AS HUGEINT) * li.x - sx AS DOUBLE) AS dx,
        |    CAST(CAST(n AS HUGEINT) * li.y - sy AS DOUBLE) AS dy,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
        |    CAST(sxy AS DOUBLE) AS sxyd
        |  FROM li, m
        |  WHERE CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE) > 0),
        |f AS (SELECT l_orderkey, l_linenumber, x, y,
        |    (syyd * dx * dx - 2.0::DOUBLE * sxyd * dx * dy
        |      + sxxd * dy * dy) / (sxxd * syyd - sxyd * sxyd) AS d2
        |  FROM r)
        |SELECT l_orderkey, l_linenumber, x AS quantity,
        |  y AS price_dollars,
        |  floor(d2 * 1e6 + 0.5) / 1e6 AS mahalanobis_d2
        |FROM f ORDER BY mahalanobis_d2 DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin
  )
}
