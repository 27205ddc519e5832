package graft.queries

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining 15 TPC-H query shapes (Q2, Q4, Q6, Q8, Q9, Q11, Q12,
  * Q13, Q15, Q16, Q17, Q18, Q20, Q21, Q22), completing the full 22-query
  * suite alongside Q1 (q01), Q3 (q107), Q5 (q108), Q7 (q160), Q10 (q163),
  * Q14 (q164) and Q19 (q165). The driver corpus (TESTDATA.md) has no
  * partsupp table, no l_shipmode/l_commitdate/l_receiptdate and no
  * c_phone, so each query keeps the REFERENCE SHAPE — the join topology,
  * subquery structure, and aggregate pattern that make the TPC-H query
  * interesting at scale — with schema-local stand-ins, documented per
  * query: supplier cost → s_acctbal, "late" → l_shipdate more than 90
  * days after o_orderdate, phone country code → c_nationkey.
  *
  * Determinism conventions (see q163's half-cent note in Joins.scala):
  * money sums accumulate in DECIMAL (exact in any partitioning / merge
  * order), snap to 2 decimals in decimal space, and only then cast to
  * double; ratios divide the two exact snapped doubles once (IEEE —
  * bit-identical cross-engine); quantities are integral doubles, so
  * their double sums are exact in any order. Every LIMIT sits under an
  * ORDER BY whose key set is a total order (unique tie-break column).
  */
object Tpch extends QueryModule {

  /** Exact-decimal discounted revenue term: factors carry 2 decimals in
    * the data, so the scale-4 product and its sum are exact.
    */
  private def revDec: Column =
    col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))

  /** Snap a decimal aggregate to 2 decimals and hand it over as double. */
  private def snap2(c: Column): Column =
    c.cast("decimal(18,2)").cast("double")

  /** l_shipdate more than `days` days after o_orderdate — the schema's
    * stand-in for TPC-H's commit/receipt-date lateness (the corpus has
    * no l_commitdate/l_receiptdate).
    */
  private def late(days: Int): Column =
    col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $days DAYS")

  /** The nations of one region, as one broadcast side. region (5 rows)
    * and nation (25 rows) are fixed-cardinality at every scale factor,
    * so both ride explicit broadcasts; supplier grows linearly and is
    * left to stats + AQE.
    */
  private def regionNations(s: SparkSession, d: String, r: String): DataFrame =
    broadcast(Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === r)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name")))

  /** Suppliers of one region with their nation name — the Q2 dimension
    * leg, for a caller that outputs `n_name` (q182). The inner join's
    * size estimate is a product of its sides' sizes, so a consumer that
    * joins it to a fact side cannot broadcast it by stats.
    */
  private def regionSuppliers(s: SparkSession, d: String, r: String): DataFrame =
    Tables.supplier(s, d)
      .join(regionNations(s, d, r), col("s_nationkey") === col("n_nationkey"))

  /** Suppliers of one region, supplier columns only — the Q11/Q20/Q21
    * dimension leg (q187, q194, q195). A left-semi join to the broadcast
    * nation keys, so Spark sizes it as supplier itself and a consumer
    * can broadcast it by stats. Equal to [[regionSuppliers]]'s supplier
    * rows because `n_nationkey` is nation's key (one row per key in
    * `gen_corpus.py`, the testdata corpora and [[graft.DegenCorpus]]);
    * a nation table with a repeated key would make the inner form
    * repeat suppliers and this one not.
    */
  private def regionSupplierRows(s: SparkSession, d: String,
      r: String): DataFrame =
    Tables.supplier(s, d).join(regionNations(s, d, r),
      col("s_nationkey") === col("n_nationkey"), "left_semi")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q2 shape (minimum-cost supplier): for each part in a
    // type/size band, the EUROPE supplier with the lowest cost —
    // s_acctbal standing in for ps_supplycost (no partsupp table; the
    // part↔supplier relation is the distinct (l_partkey, l_suppkey)
    // pair set from lineitem). The part filter prunes lineitem by a
    // left-semi join to the broadcast part side BEFORE the distinct, so
    // only pairs of candidate parts cross the pair exchange. The
    // correlated-min subquery becomes min(s_acctbal) over a p_partkey
    // window and a filter — one exchange, one pass over the candidate
    // rows (the q192 idiom); every supplier tied at a part's minimum
    // stays, as in the oracle. min() over doubles is order-free, and
    // the filter compares the same stored bits.
    "q182_min_cost_supplier" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size").between(10, 20))
        .select(col("p_partkey"), col("p_name"))
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
        .distinct()
      val sup = regionSuppliers(s, d, "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_partkey"))
      pairs.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .withColumn("min_bal", min(col("s_acctbal")).over(w))
        .filter(col("s_acctbal") === col("min_bal"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q4 shape (order-priority checking): orders of one quarter
    // with at least one late lineitem, counted by priority. The EXISTS
    // is a LEFT SEMI join — the fact side streams once, emits each
    // order at most once, and never materializes the match multiplicity
    // (an inner join + distinct would shuffle every matching lineitem).
    // The quarter predicate prunes the orders scan; the lateness
    // condition is part of the join, evaluated before the semi output.
    "q183_order_priority" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01"))
          && col("o_orderdate") < to_timestamp(lit("1996-10-01")))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") && late(90),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q6 shape (forecast revenue change): the pure scan-and-sum —
    // one pushed filter block (year, discount band, quantity cap), zero
    // joins, one global aggregate whose partial runs map-side. The
    // discount literals parse to the identical doubles both engines
    // store, so the band edges cut the same rows. Revenue here is
    // price×discount (the revenue GIVEN UP), exact at scale 4.
    "q184_forecast_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01"))
          && col("l_shipdate") < to_timestamp(lit("1998-01-01"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(snap2(sum(col("l_extendedprice").cast("decimal(12,2)")
          * col("l_discount").cast("decimal(12,2)"))).as("revenue"))
    }),

    // TPC-H Q8 shape (national market share): NATION_3's share of
    // ECONOMY-part revenue sold to AMERICA customers, by order year.
    // The share is ONE conditional aggregation over the star join — no
    // second pass, no join-back; both legs accumulate in exact decimal
    // and the share divides the two snapped doubles once. nation and
    // region are hinted broadcasts (fixed 25/5 rows); part, customer
    // and supplier are stats+AQE (broadcast while they fit, shuffle at
    // 100 TB). The order-date range and part type prune their scans.
    "q185_market_share" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val custAm = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "AMERICA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01"))
          && col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(custAm, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          snap2(sum(when(col("supp_nation") === "NATION_3", revDec)))
            .as("nation_volume"),
          snap2(sum(revDec)).as("total_volume"))
        .select(col("o_year"),
          (col("nation_volume") / col("total_volume")).as("mkt_share"),
          col("nation_volume"), col("total_volume"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape (product-type profit): profit on 'widget' parts by
    // supplier nation and order year. Cost stands in as
    // l_quantity × p_retailprice × 0.5 (no ps_supplycost); all three
    // factors carry ≤2 decimals, so the scale-5 profit term and its sum
    // are exact in any order, and the final half-cent-safe snap happens
    // once in decimal space. The name LIKE prunes part before the join;
    // nation rides a broadcast; the rest is stats+AQE.
    "q186_product_profit" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_name").like("% widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val profit = revDec -
        col("l_quantity").cast("decimal(12,2)") *
          col("p_retailprice").cast("decimal(12,2)") *
          lit(new java.math.BigDecimal("0.5"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(snap2(sum(profit)).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock): parts whose EUROPE-supplied
    // revenue exceeds a threshold derived from the GLOBAL total — the
    // HAVING-against-a-scalar-subquery pattern. The original's fixed
    // fraction-of-total empties as |parts| grows (TPC-H itself rescales
    // it by 1/SF), so the cut here is scale-free: 1.5× the mean
    // per-part value, tested as the exact cross-multiplication
    // 2·value·n > 3·total — decimal × integer products, no division,
    // no rounding, so no row can straddle the cut cross-engine. The
    // grouped frame is computed once; the scalar (total, n) row
    // re-aggregates that SAME ≤|parts| frame (not a second corpus
    // scan) and joins back as a 1-row broadcast.
    "q187_important_parts" -> ((s, d) => {
      val supEur = regionSupplierRows(s, d, "EUROPE").select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(supEur, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(revDec).cast("decimal(18,2)").as("value_dec"))
      val total = perPart.agg(sum(col("value_dec")).as("total_dec"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_dec") * lit(2L) * col("n_parts") >
          lit(3L) * col("total_dec"))
        .select(col("l_partkey"), col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q12 shape (shipping-mode priority): one year's LATE lines
    // split into critical / non-critical order counts per returnflag
    // (standing in for l_shipmode, which the corpus lacks). Both counts
    // come from ONE conditional aggregation over the pruned join — the
    // ship-year predicate reaches the lineitem scan, the lateness
    // predicate runs on the joined row, and counts are exact longs.
    "q188_late_by_flag" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01"))
          && col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(late(60))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q13 shape (customer order distribution): the histogram of
    // per-customer order counts — including the zero bucket, which is
    // why the join must be LEFT OUTER with the priority predicate INSIDE
    // the join condition (a WHERE would erase the never-ordered
    // customers). Two aggregations: per-customer count (keys on
    // c_custkey, the join's own key — no extra shuffle), then the tiny
    // count-of-counts regroup.
    "q189_order_distribution" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey")
          && col("o_orderpriority") =!= "5-LOW", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape (top supplier): the supplier(s) whose quarterly
    // revenue equals the maximum — the create-view + scalar-max
    // pattern. The per-supplier revenue frame is computed once — the
    // explicit isNotNull on the grouping key keeps both consumers'
    // subtrees canonically identical (the supplier join would
    // otherwise infer it on its side only, splitting the twin and
    // forcing a second corpus scan; PlanShapeSpec pins one scan) so
    // AQE reuses the shuffle stage. Its 1-row max joins back as a
    // broadcast; the equality compares exact snapped decimals, so
    // cross-engine ties are impossible to split. supplier joins AFTER
    // the filter — only the winner row(s) reach it.
    "q190_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-10-01"))
          && col("l_shipdate") < to_timestamp(lit("1997-01-01"))
          && col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey"))
        .agg(sum(revDec).cast("decimal(18,2)").as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_dec"))
      rev.crossJoin(broadcast(top))
        .filter(col("rev_dec") === col("max_dec"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape (part/supplier relationship counts): distinct
    // supplier counts per (brand, type, size) bucket, excluding one
    // brand, one type, and "complained-about" suppliers (s_acctbal < 0
    // standing in for the comment LIKE '%Complaints%' — same NOT-IN
    // shape, realized as a LEFT ANTI join so the exclusion set never
    // round-trips through the driver). Both joins run on the lineitem
    // scan against broadcast sides, before any shuffle; the
    // countDistinct de-duplicates (bucket, supplier) in its own partial
    // aggregate, so the oracle's distinct pair set needs no separate
    // exchange — a part's repeated pair counts its supplier once.
    "q191_supplier_counts" -> ((s, d) => {
      val badSup = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(badSup, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): revenue lost if
    // orders below 20% of a part's average quantity were dropped. The
    // correlated per-part average becomes ONE window over the
    // partkey-partitioned slice — a single scan and a single exchange
    // (the group-then-join-back alternative evaluates the filtered
    // slice twice; PlanShapeSpec pins one scan). Per-part groups are
    // bounded (lineitems per part), so no window partition can
    // hot-spot. Quantities are integral doubles — their sums are
    // exact, so avg and the 0.2× threshold are bit-identical
    // cross-engine; the final division happens once, in double, on
    // the exact decimal sum.
    "q192_small_qty_revenue" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double") / lit(7.0)).as("avg_yearly"))
    }),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity tops 250, with their customers. The HAVING runs FIRST —
    // the per-order quantity aggregate keys on l_orderkey and its
    // filter drops ~99% of orders before any dimension join; quantity
    // sums are exact integral doubles. Top-100 by o_totalprice rides a
    // TakeOrderedAndProject bounded heap (o_orderkey breaks ties into a
    // total order), never a global sort.
    "q193_big_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q20 shape (potential part promotion): ASIA suppliers who
    // moved more than 300 units of red parts in 1997. The quantity
    // aggregate (standing in for the partsupp availability subquery)
    // keys on l_suppkey and its >300 filter shrinks the result to a
    // fraction of the supplier table BEFORE the dimension joins; the
    // red-part filter prunes part first and the ship-year predicate
    // prunes the lineitem scan. Inner-joining the aggregate (instead of
    // the pure semi of the original) also surfaces the quantity.
    "q194_promo_suppliers" -> ((s, d) => {
      val redParts = Tables.part(s, d).filter(col("p_name").like("red %"))
        .select(col("p_partkey"))
      val qty = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01"))
          && col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("red_qty"))
        .filter(col("red_qty") > 300)
      regionSupplierRows(s, d, "ASIA")
        .select(col("s_suppkey"), col("s_name"))
        .join(qty, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("red_qty"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): MIDDLE EAST
    // suppliers who were the ONLY late supplier on a multi-supplier
    // finished order. The double EXISTS / NOT EXISTS of the original
    // (two lineitem self-joins) is rewritten as ONE aggregation plus
    // ONE window: lineitem groups to (order, supplier, any-late), and
    // the per-order supplier/late counts come from an unbounded window
    // over l_orderkey on that already-collapsed frame. The 0/1 late
    // flag is computed on the scan side of the exchange, and ONE
    // repartition on l_orderkey feeds both the (order, supplier)
    // aggregate and the window — a single corpus scan (PlanShapeSpec
    // pins it), one l_orderkey exchange, and NO self-join ever multiplies
    // raw lineitem rows. Window partitions are bounded by
    // suppliers-per-order. The DuckDB oracle runs the textbook EXISTS
    // form, proving the rewrite equivalent. Waiting = late on a 90-day
    // standard (no receipt dates in this corpus); count is per (order,
    // supplier), exact.
    "q195_waiting_suppliers" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          when(late(90), 1L).otherwise(0L).as("late_row"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late_row")).as("is_late"))
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late", sum(col("is_late")).over(w))
        .filter(col("is_late") === 1L && col("n_supp") >= 2
          && col("n_late") === 1L)
        .join(regionSupplierRows(s, d, "MIDDLE EAST")
            .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // TPC-H Q22 shape (global sales opportunity): well-funded customers
    // from seven "country codes" (c_nationkey standing in for the phone
    // prefix) with no order since 2000. Three classic pieces: the
    // positive-balance average is a 1-row broadcast scalar (exact
    // decimal sum ÷ long count, divided once in double); the no-recent-
    // orders test is a LEFT ANTI join against the date-pruned orders
    // scan (never a distinct + NOT IN round-trip); per-code balance
    // totals accumulate in exact decimal.
    "q196_sales_opportunity" -> ((s, d) => {
      val codes = Seq(1, 4, 9, 12, 16, 20, 23)
      val cust = Tables.customer(s, d)
        .filter(col("c_nationkey").isin(codes: _*))
        .select(col("c_custkey"), col("c_nationkey").as("cntrycode"),
          col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
          / count(lit(1)).cast("double")).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
            .as("totacctbal"))
        .orderBy(col("cntrycode"))
    })
  )

  private val revSql =
    "sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount::DECIMAL(12,2)))"

  def oracle: Map[String, String] = Map(
    "q182_min_cost_supplier" ->
      """WITH cand AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM cand, eur, part
        |WHERE l_suppkey = s_suppkey AND l_partkey = p_partkey
        |  AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
        |  AND s_acctbal = (SELECT min(e2.s_acctbal) FROM cand c2, eur e2
        |                   WHERE c2.l_partkey = p_partkey
        |                     AND c2.l_suppkey = e2.s_suppkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q183_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q184_forecast_revenue" ->
      """SELECT CAST(round(sum(l_extendedprice::DECIMAL(12,2)
        |    * l_discount::DECIMAL(12,2)), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q185_market_share" ->
      s"""WITH star AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice::DECIMAL(12,2)
        |      * (1 - l_discount::DECIMAL(12,2)) AS rev,
        |    n2.n_name AS supp_nation
        |  FROM lineitem, part, orders, customer, supplier,
        |    nation n1, region, nation n2
        |  WHERE l_partkey = p_partkey AND p_type = 'ECONOMY'
        |    AND l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
        |    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |    AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey)
        |SELECT o_year,
        |  CAST(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev END), 2)
        |      AS DOUBLE)
        |    / CAST(round(sum(rev), 2) AS DOUBLE) AS mkt_share,
        |  CAST(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev END), 2)
        |    AS DOUBLE) AS nation_volume,
        |  CAST(round(sum(rev), 2) AS DOUBLE) AS total_volume
        |FROM star GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q186_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(l_extendedprice::DECIMAL(12,2)
        |      * (1 - l_discount::DECIMAL(12,2))
        |    - l_quantity::DECIMAL(12,2) * p_retailprice::DECIMAL(12,2)
        |      * 0.5), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem, part, supplier, orders, nation
        |WHERE l_partkey = p_partkey AND p_name LIKE '% widget'
        |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND l_orderkey = o_orderkey
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,

    "q187_important_parts" ->
      s"""WITH v AS (
        |  SELECT l_partkey, round($revSql, 2) AS value_dec
        |  FROM lineitem, supplier, nation, region
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM v
        |WHERE value_dec * 2 * (SELECT count(*) FROM v)
        |  > 3 * (SELECT sum(value_dec) FROM v)
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q188_late_by_flag" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q189_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q190_top_supplier" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey, round($revSql, 2) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-10-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q191_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs, part
        |WHERE l_partkey = p_partkey
        |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q192_small_qty_revenue" ->
      """SELECT CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        |  AND l_quantity < 0.2 * (
        |    SELECT avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q193_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250),
        |  orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q194_promo_suppliers" ->
      """SELECT s_suppkey, s_name, red_qty
        |FROM supplier, nation, region,
        |  (SELECT l_suppkey, sum(l_quantity) AS red_qty
        |   FROM lineitem, part
        |   WHERE l_partkey = p_partkey AND p_name LIKE 'red %'
        |     AND l_shipdate >= TIMESTAMP '1997-01-01'
        |     AND l_shipdate < TIMESTAMP '1998-01-01'
        |   GROUP BY l_suppkey HAVING sum(l_quantity) > 300) q
        |WHERE s_suppkey = q.l_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |ORDER BY s_name""".stripMargin,

    "q195_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1, orders
        |  WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |    AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey
        |        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)) w,
        |  supplier, nation, region
        |WHERE w.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'MIDDLE EAST'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q196_sales_opportunity" ->
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(sum(c_acctbal::DECIMAL(12,2)) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (1, 4, 9, 12, 16, 20, 23)
        |  AND c_acctbal > (
        |    SELECT CAST(sum(c_acctbal::DECIMAL(12,2)) AS DOUBLE) / count(*)
        |    FROM customer
        |    WHERE c_acctbal > 0.0
        |      AND c_nationkey IN (1, 4, 9, 12, 16, 20, 23))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin
  )
}
