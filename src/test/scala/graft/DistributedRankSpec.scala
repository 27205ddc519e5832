package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DistributedRank

/** Unit contract for [[graft.ops.DistributedRank]] (round 14): the
  * distributed rank / prefix sum must be BYTE-IDENTICAL to the global
  * sorted window it replaces — including under heavy sort-key ties
  * (broken by the unique tiebreaker), pathological input partitionings
  * (the range boundaries move, the ranks must not), descending orders,
  * per-group partitioning, and the exact Spark `ntile` tile split for
  * every n mod k residue. These are the invariants the seven r14
  * query rewrites (q284/q344/q355/q363/q364/q378/q380) lean on.
  */
class DistributedRankSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // (key, group, value): values carry heavy ties (v = i % 5), key is
  // the unique tiebreaker; 403 rows so n mod 10 = 3 exercises the
  // uneven-tile branch.
  private def base(n: Int) = (1 to n).map { i =>
    (i.toLong, s"g${i % 3}", (i % 5).toLong)
  }

  test("rank and running sum match the global window form") {
    val df = base(403).toDF("k", "g", "v")
    val w = Window.orderBy(col("v"), col("k"))
    val expected = df
      .withColumn("rk_w", row_number().over(w).cast("long"))
      .withColumn("run_w", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("k"), col("rk_w"), col("run_w"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val got = DistributedRank.withRank(df, Seq(col("v"), col("k")),
        sums = Seq("v" -> col("v")))
      .select(col("k"), col("rk"), col("run_v"), col("n_all"), col("tot_v"))
      .collect()
    assert(got.length == 403)
    for (r <- got) {
      val (rkW, runW) = expected(r.getLong(0))
      assert(r.getLong(1) == rkW, s"rank mismatch at k=${r.getLong(0)}")
      assert(r.getLong(2) == runW, s"run mismatch at k=${r.getLong(0)}")
      assert(r.getLong(3) == 403L && r.getLong(4) == 403L * 2L)
    }
  }

  test("ranks are invariant under pathological input partitionings") {
    val rows = base(211)
    def run(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Long)] =
      DistributedRank.withRank(df, Seq(col("v").desc, col("k")),
          sums = Seq("v" -> col("v")))
        .select(col("k"), col("rk"), col("run_v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    val a = run(rows.toDF("k", "g", "v").repartition(1))
    val b = run(rows.toDF("k", "g", "v").repartition(17, col("g")))
    val c = run(rows.reverse.toDF("k", "g", "v").repartition(32))
    assert(a.sameElements(b) && a.sameElements(c),
      "ranks moved with the input partitioning")
  }

  test("per-group ranks match the partitioned window form") {
    val df = base(100).toDF("k", "g", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("k"))
    val expected = df
      .withColumn("rn_w", row_number().over(w).cast("long"))
      .select(col("k"), col("rn_w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = DistributedRank.withRank(df, Seq(col("v"), col("k")),
        partCols = Seq("g"), rkCol = "rn", nCol = "ns")
      .select(col("k"), col("g"), col("rn"), col("ns"))
      .collect()
    for (r <- got) assert(r.getLong(2) == expected(r.getLong(0)))
    val ns = got.groupBy(_.getString(1)).map { case (g, rs) =>
      (g, rs.head.getLong(3))
    }
    assert(ns == Map("g0" -> 33L, "g1" -> 34L, "g2" -> 33L))
  }

  test("ntileOf reproduces Spark's ntile for every n mod k residue") {
    for (n <- Seq(1, 3, 9, 10, 11, 19, 20, 23, 100, 107)) {
      val df = (1 to n).map(i => (i.toLong, (i % 4).toLong))
        .toDF("k", "v")
      val w = Window.orderBy(col("v"), col("k"))
      val expected = df
        .withColumn("t_w", ntile(10).over(w).cast("long"))
        .select(col("k"), col("t_w"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = DistributedRank.withRank(df, Seq(col("v"), col("k")))
        .withColumn("t", DistributedRank.ntileOf("rk", "n_all", 10))
        .select(col("k"), col("t")).collect()
      for (r <- got)
        assert(r.getLong(1) == expected(r.getLong(0)),
          s"n=$n k=${r.getLong(0)}: tile ${r.getLong(1)} != window " +
            s"ntile ${expected(r.getLong(0))}")
    }
  }

  test("all-equal sort values: tiles still match ntile via the tiebreaker") {
    // the q378/q380 tie scenario — every pc/cents identical; decile
    // membership must still be the deterministic ntile split over the
    // (value, key) total order
    val df = (1 to 47).map(i => (i.toLong, 0L)).toDF("k", "v")
    val w = Window.orderBy(col("v"), col("k"))
    val expected = df.withColumn("t_w", ntile(10).over(w).cast("long"))
      .select(col("k"), col("t_w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = DistributedRank.withRank(df.repartition(13),
        Seq(col("v"), col("k")))
      .withColumn("t", DistributedRank.ntileOf("rk", "n_all", 10))
      .select(col("k"), col("t")).collect()
    for (r <- got) assert(r.getLong(1) == expected(r.getLong(0)))
  }

  test("weighted-median histogram granularity matches the row-level form") {
    // The quantized-domain recipe (evaluated for q177 in r14; kept as
    // the documented shape for money-typed value columns, where ranked
    // rows collapse to |distinct cents|): the first DISTINCT value
    // whose inclusive cumulative weight crosses half the group total
    // is exactly the value of the first crossing ROW — within a tie
    // group the cum before the group is < tot/2, so the crossing
    // happens at (or before) the group's last row and min() lands on
    // the same value. Pinned on heavy value ties × skewed weights,
    // per group, against the row-level window reference.
    val df = (1 to 500).map { i =>
      (i.toLong, s"g${i % 7}", (i % 11).toLong, (i % 13 + 1).toLong)
    }.toDF("k", "g", "v", "wt")
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"), col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("cum", sum(col("wt")).over(wCum))
      .withColumn("tot", sum(col("wt")).over(Window.partitionBy(col("g"))))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val hist = df.groupBy(col("g"), col("v")).agg(sum(col("wt")).as("wt"))
    val got = DistributedRank.withRank(hist, Seq(col("v")),
        partCols = Seq("g"), sums = Seq("wt" -> col("wt")))
      .filter(col("run_wt") * 2 >= col("tot_wt"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("empty and single-row inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(DistributedRank.withRank(empty, Seq(col("v"), col("k")))
      .collect().isEmpty)
    val one = DistributedRank.withRank(
        Seq((7L, 5L)).toDF("k", "v"), Seq(col("v"), col("k")),
        sums = Seq("v" -> col("v")))
      .select(col("rk"), col("n_all"), col("run_v"), col("tot_v"))
      .collect()
    assert(one.head.getLong(0) == 1L && one.head.getLong(1) == 1L)
    assert(one.head.getLong(2) == 5L && one.head.getLong(3) == 5L)
  }

  test("a NULL part key is one group in withRank, withExclMax and exactPercentiles") {
    // SQL GROUP BY / PARTITION BY keep a NULL key as a group of its own;
    // the bucket-offset join must not drop those rows
    val df = (1 to 60).map { i =>
      (i.toLong, if (i % 3 == 0) None else Some(s"g${i % 3}"),
        (i % 7).toDouble)
    }.toDF("k", "g", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("k"))
    val expected = df
      .withColumn("rn_w", row_number().over(w).cast("long"))
      .withColumn("mx_w", max(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("k"), col("rn_w"), col("mx_w"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.get(2)))).toMap
    val ranked = DistributedRank.withRank(df, Seq(col("v"), col("k")),
        partCols = Seq("g"))
      .select(col("k"), col("rk"), col("n_all")).collect()
    assert(ranked.length == 60, "rows with a NULL part key were dropped")
    for (r <- ranked) {
      assert(r.getLong(1) == expected(r.getLong(0))._1)
      assert(r.getLong(2) == 20L)
    }
    val mx = DistributedRank.withExclMax(df, Seq(col("v"), col("k")),
        Seq("g"), col("v"), "mx")
      .select(col("k"), col("mx")).collect()
    assert(mx.length == 60)
    for (r <- mx) assert(r.get(1) == expected(r.getLong(0))._2)
    val ps = Seq(0.5, 0.9)
    val agg = df.groupBy(col("g"))
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("ps"))
      .collect().map(r => (Option(r.getString(0)), r.getSeq[Double](1)))
      .toMap
    val got = DistributedRank.exactPercentiles(df, col("v"), ps, Seq("g"))
      .collect().map(r => (Option(r.getString(0)), r.getSeq[Double](1)))
      .toMap
    assert(got.keySet.contains(None))
    assert(got == agg)
  }
}
