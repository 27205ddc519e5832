package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global rank / prefix sum over a TOTAL order — the q101
  * sequence-packing recipe generalized, and the scale-safe replacement
  * for `row_number()/ntile()/sum().over(Window.orderBy(...))` with an
  * empty partition spec (a global sorted window funnels the whole frame
  * through ONE task — the q159 rule; fine for a 10-row decile readout,
  * a scale-killer over an entity-scale frame).
  *
  * Construction (two levels — q101 needed three because its buckets
  * were value-derived and therefore unbounded in number; here buckets
  * come from `repartitionByRange`, so their count is capped by
  * `spark.sql.shuffle.partitions` and the bucket frame is bounded):
  *
  *   1. range-partition the frame on (partCols ++ sortCols) and stamp
  *      each row with its range-bucket id — buckets are CONTIGUOUS in
  *      the total order by construction;
  *   2. per (partCols, bucket): `row_number` and inclusive running
  *      sums via an ordinary PARTITIONED window (parallel, each task
  *      holds ~n/B rows);
  *   3. per-bucket counts/sums collapse to a ≤B-row frame whose
  *      exclusive prefix offsets ride a window over THAT bounded frame
  *      (the dimension-bounded exemption), then broadcast-join back:
  *      global rank = bucket offset + local rank, global running sum =
  *      bucket sum offset + local running sum.
  *
  * Results are independent of where the sampled range boundaries fall
  * (the order is total, equal keys never split across range
  * partitions), so the output is partition-invariant even though
  * `repartitionByRange` samples — PartitionInvarianceSpec pins this.
  *
  * Callers MUST pass sort columns that form a total order within each
  * part key (i.e. include a unique tiebreaker) — every rank/ntile in
  * the catalog already does, for cross-engine determinism.
  */
object DistributedRank {

  /** Appends to `df`:
    *   - `rkCol`: 1-based rank by `sortCols` within each `partCols`
    *     group (global when `partCols` is empty);
    *   - `nCol`: the group's total row count;
    *   - per `(name, expr)` in `sums`: `run_<name>` (inclusive prefix
    *     sum of `expr` in rank order) and `tot_<name>` (group total).
    */
  def withRank(
      df: DataFrame,
      sortCols: Seq[Column],
      partCols: Seq[String] = Nil,
      sums: Seq[(String, Column)] = Nil,
      rkCol: String = "rk",
      nCol: String = "n_all"): DataFrame = {
    val pc = partCols.map(col)
    val ranged = df
      .repartitionByRange((pc ++ sortCols): _*)
      .withColumn("_dr_bkt", spark_partition_id())
    val keys = partCols :+ "_dr_bkt"
    val wLoc = Window.partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(
      ranged.withColumn("_dr_rn", row_number().over(wLoc).cast("long"))) {
      case (acc, (nm, c)) =>
        acc.withColumn(s"_dr_run_$nm", sum(c).over(wRun))
    }
    // Bounded bucket frame: ≤ one row per (part key, range partition).
    val aggCols = count(lit(1)).as("_dr_c") +:
      sums.map { case (nm, c) => sum(c).as(s"_dr_s_$nm") }
    val bucketTotals = ranged.groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val wOff = Window.partitionBy(pc: _*).orderBy(col("_dr_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(pc: _*)
    val offsets = sums.foldLeft(
      bucketTotals
        .withColumn("_dr_off_c", coalesce(sum(col("_dr_c")).over(wOff), lit(0L)))
        .withColumn(nCol, sum(col("_dr_c")).over(wTot))) {
      case (acc, (nm, _)) =>
        acc
          .withColumn(s"_dr_off_$nm",
            sum(col(s"_dr_s_$nm")).over(wOff))
          .withColumn(s"tot_$nm", sum(col(s"_dr_s_$nm")).over(wTot))
    }.select((keys.map(col) :+ col("_dr_off_c") :+ col(nCol)) ++
      sums.flatMap { case (nm, _) =>
        Seq(col(s"_dr_off_$nm"), col(s"tot_$nm"))
      }: _*)
    val joined = joinKeys(local, offsets, keys)
      .withColumn(rkCol, col("_dr_off_c") + col("_dr_rn"))
    sums.foldLeft(joined) { case (acc, (nm, _)) =>
      // first bucket of a group has a null (empty-frame) sum offset
      acc.withColumn(s"run_$nm",
        col(s"_dr_run_$nm") + coalesce(col(s"_dr_off_$nm"), lit(0L)))
        .drop(s"_dr_run_$nm", s"_dr_off_$nm", s"_dr_s_$nm")
    }.drop("_dr_bkt", "_dr_rn", "_dr_off_c", "_dr_c")
  }

  /** Exact percentile ARRAY of `value` within each `partCols` group,
    * computed WITHOUT the `percentile(...)` aggregate. The Percentile
    * aggregate builds a value→count OpenHashMap in every partial
    * buffer and merges them all into ONE final buffer per group — at
    * 100 TB that map holds the group's whole distinct-value set in a
    * single task. Here the same numbers come from the deduped
    * (part, value, count) frame with a [[withRank]] cumulative count,
    * reproducing `PercentileBase.getPercentile` (read from the Spark
    * 4.1.2 bytecode) bit for bit: pos = (n−1)·p, lo/hi =
    * floor/ceil(pos), value-at-rank-k = the smallest value whose
    * cumulative count ≥ k+1, interpolation
    * (hi−pos)·v_lo + (pos−lo)·v_hi with two SHORT-CIRCUITS — pos
    * integral, or v_lo == v_hi, both return v_lo directly (the
    * interpolated form can differ in the last ulp there; the guards
    * are part of bit-equality, not style). NULL values are excluded
    * exactly as the aggregate excludes them; a group whose values are
    * all NULL disappears from the output, while a NULL part key is one
    * group of its own, as in SQL `GROUP BY`.
    *
    * Returns one row per group: (partCols…, `out` array<double>) with
    * the array in the given percentage order. With `bounds`, each
    * element is instead array(v_lo, v_hi): the order statistics at
    * ranks floor(pos) and ceil(pos) that the percentile lies between.
    */
  def exactPercentiles(
      df: DataFrame,
      value: Column,
      ps: Seq[Double],
      partCols: Seq[String] = Nil,
      out: String = "ps",
      bounds: Boolean = false): DataFrame = {
    val pc = partCols.map(col)
    val vt = withRank(
        df.filter(value.isNotNull)
          .groupBy((pc :+ value.as("_ep_x")): _*)
          .agg(count(lit(1)).as("_ep_c")),
        Seq(col("_ep_x")), partCols, sums = Seq("c" -> col("_ep_c")))
      .select((pc ++ Seq(col("_ep_x"), col("run_c"), col("tot_c"))): _*)
      // two consumers (the n frame and the rank probe) — one
      // per-invocation materialization (never a cross-run cache)
      .transform(graft.ops.Materialize.frame)
    val kf = vt.groupBy(pc: _*).agg(max(col("tot_c")).as("_ep_n"))
      .select((pc ++ Seq(
        posexplode(array(ps.map(lit): _*)).as(Seq("_ep_i", "_ep_p")),
        col("_ep_n"))): _*)
      .withColumn("_ep_pos",
        (col("_ep_n") - 1L).cast("double") * col("_ep_p"))
      .withColumn("_ep_lo", floor(col("_ep_pos")))
      .withColumn("_ep_hi", ceil(col("_ep_pos")))
    val probes =
      if (partCols.isEmpty) vt.crossJoin(broadcast(kf))
      else joinKeys(vt, kf, partCols)
    val vlo = col("_ep_vlo").cast("double")
    val vhi = col("_ep_vhi").cast("double")
    probes
      .groupBy((pc ++ Seq(col("_ep_i"), col("_ep_pos"), col("_ep_lo"),
        col("_ep_hi"))): _*)
      .agg(
        min(when(col("run_c") >= col("_ep_lo") + 1L, col("_ep_x")))
          .as("_ep_vlo"),
        min(when(col("run_c") >= col("_ep_hi") + 1L, col("_ep_x")))
          .as("_ep_vhi"))
      .select((pc ++ Seq(col("_ep_i"),
        (if (bounds) array(vlo, vhi)
        else when(col("_ep_lo") === col("_ep_hi")
            || col("_ep_vlo") === col("_ep_vhi"), vlo)
          .otherwise((col("_ep_hi").cast("double") - col("_ep_pos")) * vlo
            + (col("_ep_pos") - col("_ep_lo").cast("double")) * vhi))
          .as("_ep_b"))): _*)
      .groupBy(pc: _*)
      .agg(sort_array(collect_list(struct(col("_ep_i"), col("_ep_b"))))
        .as("_ep_pb"))
      .select((pc :+ transform(col("_ep_pb"), e => e.getField("_ep_b"))
        .as(out)): _*)
  }

  /** Appends `outCol`: the EXCLUSIVE running max of `c` in `sortCols`
    * order within each `partCols` group — the distributed form of
    * `max(c).over(w.rowsBetween(unboundedPreceding, -1))` (q149's
    * skyline probe), built the same way as [[withRank]]: local
    * exclusive max per range bucket, per-bucket maxes collapse to the
    * bounded bucket frame, exclusive prefix max over THAT broadcast
    * back, combined with `greatest` (which skips nulls, so the
    * group-first row stays NULL exactly like the empty window frame).
    * Same total-order requirement as withRank.
    */
  def withExclMax(
      df: DataFrame,
      sortCols: Seq[Column],
      partCols: Seq[String],
      c: Column,
      outCol: String): DataFrame = {
    val pc = partCols.map(col)
    val ranged = df
      .repartitionByRange((pc ++ sortCols): _*)
      .withColumn("_dr_bkt", spark_partition_id())
    val keys = partCols :+ "_dr_bkt"
    val wLoc = Window.partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("_dr_lmax", max(c).over(wLoc))
    val wOff = Window.partitionBy(pc: _*).orderBy(col("_dr_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(keys.map(col): _*)
      .agg(max(c).as("_dr_bmax"))
      .withColumn("_dr_omax", max(col("_dr_bmax")).over(wOff))
      .select((keys.map(col) :+ col("_dr_omax")): _*)
    joinKeys(local, offsets, keys)
      .withColumn(outCol, greatest(col("_dr_lmax"), col("_dr_omax")))
      .drop("_dr_bkt", "_dr_lmax", "_dr_omax")
  }

  /** Inner join of `left` to the broadcast bounded frame `right` on
    * `keys`, with the column layout of `left.join(right, keys)` (keys
    * first). Keys match NULL to NULL (`<=>`): a NULL part key is one
    * group, as in SQL `GROUP BY`, where a USING join would drop its
    * rows.
    */
  private def joinKeys(
      left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val r = keys.foldLeft(right)((acc, k) =>
      acc.withColumnRenamed(k, s"_jk_$k"))
    left.join(broadcast(r),
        keys.map(k => col(k) <=> col(s"_jk_$k")).reduce(_ && _))
      .select((keys ++ left.columns.filterNot(keys.contains) ++
        right.columns.filterNot(keys.contains)).map(col): _*)
  }

  /** Spark/DuckDB `ntile(k)` from a 1-based rank and the group size —
    * exact integer arithmetic (integral DIV, never a double division:
    * the q101 exactness rule), byte-identical to the window function:
    * the first `n mod k` tiles carry `n div k + 1` rows, the rest
    * `n div k`. Takes column NAMES so the expression can use SQL DIV.
    */
  def ntileOf(rkName: String, nName: String, k: Int): Column = {
    val bs = s"($nName DIV $k)"
    val r = s"($nName % $k)"
    val cut = s"($r * ($bs + 1))"
    expr(s"CAST(CASE WHEN $rkName <= $cut" +
      s" THEN ($rkName - 1) DIV ($bs + 1) + 1" +
      s" ELSE $r + ($rkName - $cut - 1) DIV GREATEST($bs, 1) + 1" +
      s" END AS BIGINT)")
  }
}
