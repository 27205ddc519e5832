package graft

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input guards (ADVICE r11): divide-by-zero strata where
  * Spark's Divide yields NULL but an IEEE engine (the DuckDB oracle)
  * yields NaN/inf — invisible on TPC-H-shaped corpora, fatal the day a
  * real corpus ships a single-doc source or an all-tied value column,
  * because one NaN poisons every global normalizer it flows into.
  * These fixtures force each degenerate branch and pin the NULL.
  */
class DegenerateInputSpec extends AnyFunSuite {
  import SparkTestSession._

  // one scratch sfDir with: documents carrying a single-doc stratum,
  // events carrying (a) one constant value → Kruskal-Wallis tie_c = 0
  // and (b) one event_type → Cramér df_star = 0.
  private lazy val dir: String = {
    import spark.implicits._
    val d = Paths.get("target/tmp/degenerate").toAbsolutePath.toString
    Seq(
      (1L, "aa bb", "en", "solo_source", 5L),
      (2L, "cc dd", "en", "big_source", 5L),
      (3L, "ee ff gg", "en", "big_source", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "click", 7.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 11L, "click", 7.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-03 00:00:00"), 12L, "click", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  // ——— round 13 (VERDICT r12 #4): adversarial degenerate corpus for
  // the q312-q382 stats/eval tier. The q289 lesson — when both engines
  // agree, the oracle can't see a semantic gap — means every
  // denominator and rank statistic needs its degenerate branch FORCED:
  // single-element groups (one user, one rater, one item), zero-
  // variance strata (constant value/quantity/price), all-tie ranks
  // (one day), single development year (ship month = order month).
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // fixture rows live in graft.DegenCorpus (shared with DegenProbe)
  private lazy val statsDir: String = DegenCorpus.write(spark,
    Paths.get("target/tmp/degenerate_stats").toAbsolutePath.toString)

  /** Every q312-q382 double column must be NULL or finite on the
    * degenerate corpus — one NaN/Infinity poisons every global
    * normalizer it flows into, and Spark's double division yields
    * ±Inf/NaN where the DuckDB oracle's HUGEINT path errors
    * (divergent failure modes, invisible at any healthy sf).
    */
  private def assertFinite(name: String, rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val doubleIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType ==
        org.apache.spark.sql.types.DoubleType => (f.name, i)
    }
    for (r <- rows; (fn, i) <- doubleIdx; if !r.isNullAt(i)) {
      val v = r.getDouble(i)
      assert(!v.isNaN && !v.isInfinite,
        s"$name: $fn = $v on degenerate input (must be NULL or finite)")
    }
  }

  // round 14: widened from q312-q382 to the WHOLE catalog after a
  // full-catalog probe (graft.DegenProbe) caught 13 crashes the tier
  // filter was hiding — 10 ANSI DIVIDE_BY_ZERO denominators (zero
  // variance / empty strata / lone groups) and 3 out-of-bounds array
  // indexes (4-d embeddings, '#'-less brand). Every catalog query
  // must tolerate a pathological single-element corpus.
  private lazy val statsTier: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted

  private def sweep(dir: String, what: String): Unit = {
    assert(statsTier.size >= 400, s"catalog unexpectedly small: ${statsTier.size}")
    val problems = statsTier.flatMap { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        assertFinite(q, df.collect(), df.schema)
        None
      } catch { case e: Throwable =>
        Some(s"$q: ${e.getMessage.linesIterator.take(2).mkString(" ")}")
      }
    }
    assert(problems.isEmpty,
      s"$what-corpus failures:\n${problems.mkString("\n")}")
  }

  test("full-catalog sweep: degenerate corpus yields no crash and no NaN/Inf") {
    sweep(statsDir, "degenerate")
  }

  // the third corpus of the robustness trilogy (single-element /
  // zero-row / null-payload): every PAYLOAD column NULL, keys intact —
  // a half-corrupt ingest batch. The r14 probe caught an unrankable
  // NULL measure killing the q77 typed top-k encoder and two more ÷0
  // denominators (q301 n=0 strata, q380 zero total revenue).
  test("full-catalog sweep: null-payload corpus yields no crash and no NaN/Inf") {
    sweep(DegenCorpus.write(spark,
      Paths.get("target/tmp/degenerate_nulls").toAbsolutePath.toString,
      nulls = true), "null-payload")
  }

  test("q326: one rater with all-tie ranks yields NULL kendall_w") {
    val rows = SparkEntry.queries("q326_kendall_w")(spark, statsDir)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_rankers") == 1L)
    assert(r.isNullAt(r.fieldIndex("kendall_w")),
      "k = 1 with a degenerate denominator must yield NULL, not NaN")
  }

  test("q333: a single-item instrument yields NULL cronbach_alpha") {
    val rows = SparkEntry.queries("q333_cronbach_alpha")(spark, statsDir)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_items") == 1L)
    assert(r.isNullAt(r.fieldIndex("cronbach_alpha")),
      "k = 1 makes alpha 0/0 — must be NULL, never NaN")
  }

  test("q324: a single user per type is excluded, not divided by zero") {
    val rows = SparkEntry.queries("q324_icc_users")(spark, statsDir)
      .collect()
    assert(rows.isEmpty,
      "g = 1 group cannot support a between/within split - row must drop")
  }

  test("q377: a single development lag yields no factors (empty frame)") {
    val rows = SparkEntry.queries("q377_chain_ladder")(spark, statsDir)
      .collect()
    assert(rows.isEmpty,
      "one dev lag has no k->k+1 transition - factors must be absent")
  }

  test("q382: zero-variance quantity yields NULL cp and cpk") {
    val rows = SparkEntry.queries("q382_process_capability")(spark, statsDir)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.isNullAt(r.fieldIndex("cp")), "sd = 0 must yield NULL cp")
    assert(r.isNullAt(r.fieldIndex("cpk")), "sd = 0 must yield NULL cpk")
    assert(r.getAs[Double]("out_of_spec_share") == 0.0)
  }

  test("q376: zero log-variance durations yield NULL Weibull shape") {
    val rows = SparkEntry.queries("q376_weibull_fit")(spark, statsDir)
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.isNullAt(r.fieldIndex("shape_k")),
      "sigma_ln = 0 must yield NULL shape, not Infinity")
    assert(r.isNullAt(r.fieldIndex("scale_lambda")))
  }

  // q381's at_risk == d step (ADVICE r12): when every remaining
  // at-risk user purchases at the same time, survival steps to ZERO
  // there — the area must stop accumulating, not carry the pre-step
  // survival to the horizon.
  private lazy val kmDir: String = {
    import spark.implicits._
    val d = Paths.get("target/tmp/degenerate_km").toAbsolutePath.toString
    Seq(
      (1L, ts("2024-01-01 09:00:00"), 10L, "click", 1.0, "{}"),
      (2L, ts("2024-01-02 09:00:00"), 10L, "purchase", 1.0, "{}"),
      (3L, ts("2024-01-01 09:00:00"), 11L, "click", 1.0, "{}"),
      (4L, ts("2024-01-02 09:00:00"), 11L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("q381: survival steps to zero when all at-risk users purchase") {
    val rows = SparkEntry.queries("q381_rmst")(spark, kmDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_users") == 2L)
    // both users purchase at t = 1: S = 1 on [0,1), S = 0 from t = 1
    // on, so RMST = 1.0 day (the unfixed skip-the-step recurrence
    // read 7.0 - full survival to the horizon).
    assert(r.getAs[Double]("rmst_purchase_free_days") == 1.0,
      s"at_risk == d step must zero the survival: $r")
  }

  test("q303: a single-doc stratum gets NULL sd and is excluded from shares") {
    val rows = SparkEntry.queries("q303_neyman_allocation")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val solo = rows("solo_source")
    assert(solo.isNullAt(solo.fieldIndex("sd_chars")),
      "n_docs = 1 must yield NULL sd, not NaN")
    assert(solo.isNullAt(solo.fieldIndex("alloc_share")))
    // the surviving stratum absorbs the whole budget — the NULL did
    // NOT poison the global normalizer.
    val big = rows("big_source")
    assert(big.getAs[Double]("alloc_share") == 1.0)
    assert(big.getAs[Long]("alloc_n") == 10000L)
  }

  test("q290: an all-tied value column yields NULL h_adj (tie_c = 0)") {
    val rows = SparkEntry.queries("q290_kruskal_wallis")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    // every row shares one value → tie correction degenerates to 0;
    // the adjusted statistic must be NULL, never Infinity/NaN.
    assert(r.isNullAt(r.fieldIndex("h_adj")))
    assert(r.getAs[Double]("h_stat") == 0.0)
  }

  test("q292: a single event_type yields NULL v_cramer (df_star = 0)") {
    val rows = SparkEntry.queries("q292_cramers_v")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("df_star") == 0L)
    assert(r.isNullAt(r.fieldIndex("v_cramer")))
  }

  // ——— round 14: the DistributedRank query rewrites
  // (q284/q344/q355/q363/q364/q378/q380) on the smallest corpora the
  // rank machinery can see — a ONE-document corpus (every bucket but
  // one empty, the rank self-join's lead() has no next rank, ns = 1
  // forces q344's den = nn - 1 interpolation branch) and the statsDir
  // all-tied orders (already swept above). DistributedRankSpec pins
  // the tie/partitioning invariants at the unit level.
  private lazy val oneDocDir: String = {
    import spark.implicits._
    val d = Paths.get("target/tmp/degenerate_onedoc").toAbsolutePath.toString
    Seq((1L, "aa bb cc dd ee", "en", "s0", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q344: a one-doc corpus interpolates against itself (no crash)") {
    val rows = SparkEntry.queries("q344_quantile_norm")(spark, oneDocDir)
    val got = rows.collect()
    assertFinite("q344_quantile_norm", got, rows.schema)
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("n_docs") == 1L)
    // the global distribution is the doc itself: qnorm == its n_chars
    assert(r.getAs[Double]("mean_qnorm") == 14.0)
    assert(r.getAs[Double]("mean_chars") == 14.0)
  }

  test("q363/q284: a one-doc corpus lands in one bucket/checkpoint") {
    val nov = SparkEntry.queries("q363_novelty_curve")(spark, oneDocDir)
      .collect()
    assert(nov.length == 1)
    // sole doc ranks 1 of 1 → tile 1; all 3 shingles first-seen there
    assert(nov(0).getAs[Long]("bucket") == 1L)
    assert(nov(0).getAs[Long]("n_distinct") == 3L)
    assert(nov(0).getAs[Double]("novelty_rate") == 1.0)
    val heaps = SparkEntry.queries("q284_heaps_law")(spark, oneDocDir)
    val hr = heaps.collect()
    assertFinite("q284_heaps_law", hr, heaps.schema)
    assert(hr.length == 1 && hr(0).getAs[Long]("vocab") == 3L)
  }

  // exactPercentiles has no row for a group whose values are all NULL;
  // the oracle's GROUP BY + quantile_cont keeps the group with NULL
  // percentiles, so q219 must too.
  test("q219: an all-NULL n_chars language keeps its row with NULL percentiles") {
    import spark.implicits._
    val d = Paths.get("target/tmp/degenerate_q219").toAbsolutePath.toString
    Seq[(Long, String, String, String, Option[Long])](
      (1L, "aa bb", "en", "s0", Some(5L)),
      (2L, "cc dd ee", "en", "s0", Some(8L)),
      (3L, "ff gg", "de", "s0", None),
      (4L, "hh", "de", "s0", None))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("q219_tokenizer_fertility")(spark, d)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(rows.keySet == Set("de", "en"))
    val de = rows("de")
    assert(de.getAs[Long]("n_docs") == 2L)
    assert(de.isNullAt(de.fieldIndex("p50_fertility")))
    assert(de.isNullAt(de.fieldIndex("p90_fertility")))
    val en = rows("en")
    assert(!en.isNullAt(en.fieldIndex("p50_fertility")))
    assert(!en.isNullAt(en.fieldIndex("p90_fertility")))
  }

  test("q177: an all-equal-price brand medians at the tie, full weight") {
    // total ties: the cumulative weight crosses tot/2 inside the one
    // tie group, so the median is the tied price with the full weight
    val rows = SparkEntry.queries("q177_weighted_median")(spark, statsDir)
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("weighted_median_price") == 100.0)
    assert(rows(0).getAs[Long]("total_weight") == 20L)
  }

  // ——— ADVICE r13: the Stats facade's divisions on one-sample groups.
  // The catalog corpora always populate both samples, so these
  // branches are only reachable through the public frame.stats path —
  // ksDrift/psiDrift must yield NULL (the q333/q334 NULL-never-error
  // pattern), not throw ANSI DIVIDE_BY_ZERO, and the parameterized
  // denominators must be validated eagerly.
  test("ksDrift/psiDrift: a one-sample group yields NULL, not an ANSI error") {
    import spark.implicits._
    val df = Seq(
      ("both", 1.0, true), ("both", 2.0, false), ("both", 3.0, true),
      ("only_a", 1.0, true), ("only_a", 5.0, true),
      ("only_b", 2.0, false))
      .toDF("g", "v", "is_a")
    val ks = graft.ops.Stats.ksDrift(df, "g", "v", "is_a")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!ks("both").isNullAt(ks("both").fieldIndex("ks")))
    assert(ks("only_a").isNullAt(ks("only_a").fieldIndex("ks")),
      "n_b = 0 must yield NULL ks")
    assert(ks("only_b").isNullAt(ks("only_b").fieldIndex("ks")),
      "n_a = 0 must yield NULL ks")
    val psi = graft.ops.Stats.psiDrift(df, "g", "v", "is_a",
        bucketWidth = 1.0, maxBucket = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!psi("both").isNullAt(psi("both").fieldIndex("psi")))
    assert(psi("only_a").isNullAt(psi("only_a").fieldIndex("psi")))
    assert(psi("only_b").isNullAt(psi("only_b").fieldIndex("psi")))
  }

  test("psiDrift/kmRmst validate their parameter denominators") {
    import spark.implicits._
    val df = Seq(("g", 1.0, true)).toDF("g", "v", "is_a")
    intercept[IllegalArgumentException] {
      graft.ops.Stats.psiDrift(df, "g", "v", "is_a",
        bucketWidth = 0.0, maxBucket = 8)
    }
    val surv = Seq((1L, true)).toDF("t", "ev")
    intercept[IllegalArgumentException] {
      graft.ops.Stats.kmRmst(surv, "t", "ev", tau = 0L)
    }
  }
}
