package graft.ops

import graft.ops.Parity.{dec, fix6, snap6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Library forms of the monitoring/stats tier: the drift, survival,
  * and capability operators as parameterized DataFrame→DataFrame
  * functions. Each is THE implementation its oracle-pinned catalog
  * query runs (q224/q225/q381/q382 delegate here, and q232/q313 build
  * on [[riskSet]]), so the facade path and the verified path cannot
  * drift — the q60/dedupExact pattern. Exposed to users via
  * [[graft.api.Frame.stats]].
  *
  * Scale shapes match the catalog queries: every
  * statistic folds a map-side-combined bounded frame (distinct values,
  * buckets, event times, one moment row) — no corpus-sized windows.
  */
object Stats {

  /** Two-sample Kolmogorov-Smirnov drift per group: KS =
    * max |F_A(x) − F_B(x)| over the pooled distinct points of
    * `valueCol`, sample A = rows where `isACol` is true (q224). The
    * corpus pass is one (group, value) aggregation to per-point
    * counts; the CDFs are cumulative-long windows over that bounded
    * frame. Output: (groupCol, n_a, n_b, ks).
    */
  private[graft] def ksDrift(df: DataFrame, groupCol: String,
      valueCol: String, isACol: String): DataFrame = {
    val pts = df
      .select(col(groupCol), col(valueCol), col(isACol).as("is_a"))
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    pts
      .withColumn("cum_a", sum(col("ca")).over(wCum))
      .withColumn("cum_b", sum(col("cb")).over(wCum))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      // one-sample groups (n_a or n_b = 0) yield ks = NULL, never an
      // ANSI DIVIDE_BY_ZERO — the q333/q334 NULL-never-error pattern
      // (a group can exist on one side only, e.g. an event_type first
      // seen after the split date)
      .withColumn("diff", when(col("n_a") > 0L && col("n_b") > 0L, abs(
        col("cum_a").cast("double") / col("n_a").cast("double")
          - col("cum_b").cast("double") / col("n_b").cast("double"))))
      .groupBy(col(groupCol))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("diff")).as("ks"))
      .orderBy(col(groupCol))
  }

  /** Population-stability-index drift per group over fixed
    * `bucketWidth` buckets capped at `maxBucket` (q225):
    * PSI = Σ (p_A−p_B)·ln(p_A/p_B); buckets empty on either side are
    * EXCLUDED and their row mass reported. Output: (groupCol, n_a,
    * n_b, n_buckets_used, rows_a_excluded, rows_b_excluded, psi).
    */
  private[graft] def psiDrift(df: DataFrame, groupCol: String,
      valueCol: String, isACol: String, bucketWidth: Double,
      maxBucket: Int): DataFrame = {
    require(bucketWidth > 0.0,
      s"psiDrift bucketWidth must be > 0, got $bucketWidth")
    val cells = df
      .select(col(groupCol),
        least(floor(col(valueCol) / lit(bucketWidth)),
          lit(maxBucket.toDouble)).cast("long").as("bucket"),
        col(isACol).as("is_a"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val wAll = Window.partitionBy(col(groupCol))
    cells
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .withColumn("used", col("ca") > 0 && col("cb") > 0)
      // the divisions live INSIDE the used guard: used ⇒ ca,cb ≥ 1 ⇒
      // n_a,n_b ≥ 1, so no ANSI DIVIDE_BY_ZERO for one-sample groups
      .withColumn("pa", when(col("used"),
        col("ca").cast("double") / col("n_a").cast("double")))
      .withColumn("pb", when(col("used"),
        col("cb").cast("double") / col("n_b").cast("double")))
      .withColumn("term", when(col("used"),
        (col("pa") - col("pb")) * snap6(log(col("pa") / col("pb"))))
        .otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(when(col("used"), lit(1))).as("n_buckets_used"),
        sum(when(not(col("used")), col("ca")).otherwise(0L))
          .as("rows_a_excluded"),
        sum(when(not(col("used")), col("cb")).otherwise(0L))
          .as("rows_b_excluded"),
        // one-sample groups report NULL psi (no distance is defined
        // against an empty sample), mirroring ksDrift
        when(max(col("n_a")) > 0L && max(col("n_b")) > 0L,
          snap6(sum(col("term")))).as("psi"))
      .orderBy(col(groupCol))
  }

  /** The running frame over event time `t`: every row up to this one. */
  private[graft] val wCum: WindowSpec = Window.orderBy(col("t"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The survival risk set over per-subject rows (`t` = integer
    * event/censor time, `eventCol` = true ⟺ the event fired, false ⟺
    * censored at t): one row per distinct t with d events, c
    * censorings, n_users, the running total cum_all, and at_risk =
    * the subjects still observed at t. The corpus work is one
    * map-side-combined re-group to the ≤|distinct t| frame; the
    * running sum windows over that frame. Shared by q232, q313 and
    * [[kmRmst]].
    */
  private[graft] def riskSet(df: DataFrame, eventCol: String): DataFrame = {
    val byT = df.groupBy(col("t"))
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("c"))
    val tot = byT.agg(sum(col("d") + col("c")).as("n_users"))
    byT.crossJoin(broadcast(tot))
      .withColumn("cum_all", sum(col("d") + col("c")).over(wCum))
      .withColumn("at_risk",
        col("n_users") - col("cum_all") + col("d") + col("c"))
  }

  /** Kaplan-Meier restricted mean survival time at horizon `tau` over
    * per-subject rows (`tCol` = integer event/censor time, `eventCol`
    * = true ⟺ the event fired, false ⟺ censored at t) — q381's
    * construction: KM steps with the log-term recurrence, survival
    * frozen to µ-longs, at_risk == d steps survival to zero via the
    * cumulative kill flag. Output: one row (tau_days, n_users,
    * rmst_days, rmst_fraction).
    */
  private[graft] def kmRmst(df: DataFrame, tCol: String,
      eventCol: String, tau: Long): DataFrame = {
    require(tau > 0L, s"kmRmst horizon tau must be > 0, got $tau")
    val steps = riskSet(df
        .select(col(tCol).cast("long").as("t"), col(eventCol).as("ev")),
        "ev")
      .withColumn("term", when(col("d") > 0 && col("at_risk") > col("d"),
        snap6(log((col("at_risk") - col("d")).cast("double")
          / col("at_risk").cast("double")))).otherwise(lit(0.0)))
      .withColumn("dead", max(when(
        col("d") > 0 && col("at_risk") <= col("d"), 1L)
        .otherwise(0L)).over(wCum))
      .withColumn("ln_survival", sum(col("term")).over(wCum))
      .withColumn("s6", when(col("dead") === 1L, lit(0L)).otherwise(
        fix6(exp(col("ln_survival")))))
      .withColumn("t_next", coalesce(lead(col("t"), 1).over(
        Window.orderBy(col("t"))), lit(tau)))
      .withColumn("width", greatest(least(col("t_next"), lit(tau))
        - least(col("t"), lit(tau)), lit(0L)))
      .withColumn("head_width", when(row_number().over(
        Window.orderBy(col("t"))) === 1,
        least(col("t"), lit(tau))).otherwise(0L))
    steps
      .agg(max(col("n_users")).as("n_users"),
        sum(col("head_width") * 1000000L
          + col("s6") * col("width")).as("a6"))
      .select(lit(tau).as("tau_days"), col("n_users"),
        snap6(col("a6").cast("double") / 1e6).as("rmst_days"),
        snap6(col("a6").cast("double")
          / (lit(tau).cast("double") * 1e6)).as("rmst_fraction"))
  }

  /** Cp/Cpk process capability of integer-valued `xCol` against spec
    * limits [lsl, usl] (q382): Cp = (usl−lsl)/6σ, Cpk =
    * min(usl−μ, μ−lsl)/3σ, both from the exact moment fold
    * n·Σx² − (Σx)²; σ = 0 yields NULL, never Infinity. Output: one
    * row (n_rows, mean_x, cp, cpk, out_of_spec_share).
    */
  private[graft] def capability(df: DataFrame, xCol: String,
      lsl: Long, usl: Long): DataFrame = {
    df.select(col(xCol).cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(when(col("x") < lsl || col("x") > usl, 1L).otherwise(0L))
          .as("n_oos"))
      .withColumn("vnum",
        (dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("double"))
      .select(col("n").as("n_rows"),
        snap6(col("sx").cast("double") / col("n").cast("double"))
          .as("mean_x"),
        when(col("vnum") > 0.0, snap6(lit((usl - lsl).toDouble)
          * col("n").cast("double") / (lit(6.0) * sqrt(col("vnum")))))
          .as("cp"),
        when(col("vnum") > 0.0, snap6(
          least(lit(usl) * col("n") - col("sx"),
            col("sx") - lit(lsl) * col("n")).cast("double")
            / (lit(3.0) * sqrt(col("vnum"))))).as("cpk"),
        snap6(col("n_oos").cast("double") / col("n").cast("double"))
          .as("out_of_spec_share"))
  }
}
