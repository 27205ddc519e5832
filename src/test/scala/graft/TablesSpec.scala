package graft

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** The corpus schema contract of [[Tables]]: the declared schemas are
  * what the testdata corpora hold, and reading a table through them
  * launches no Spark job while a query is built. Also the shared
  * (event_type, day, n) series [[Tables.dailyEvents]]: its counts, and
  * that the queries built on it, and on the term stream, stay lazy.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val corpora = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(n => Paths.get(sf).getParent.resolve(n).toString)

  private def fields(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))

  test("declared schemas match the inferred schema of every testdata table") {
    for (dir <- corpora; name <- Tables.names) {
      val inferred = spark.read.parquet(Tables.path(dir, name)).schema
      // events.ts: the files carry a naive µs timestamp that the
      // contract declares as a session-zoned TIMESTAMP
      val declared =
        if (name == "events") StructType(Tables.schemas(name).map { f =>
          if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f
        })
        else Tables.schemas(name)
      assert(fields(declared) === fields(inferred), s"$name in $dir")
    }
  }

  test("events.ts reads as the UTC instant of the stored naive timestamp") {
    val raw = spark.read.parquet(Tables.path(sf, "events"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    val declared = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    assert(declared.schema === raw.schema)
    assert(declared.exceptAll(raw).isEmpty && raw.exceptAll(declared).isEmpty)
  }

  /** The Spark jobs started while building query `q` (not running it). */
  private def constructionJobs(q: String): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-build-$q"
    sc.setJobGroup(group, "construction only")
    try {
      SparkEntry.queries(q)(spark, sf)
      // status events arrive in order: once this later job is visible,
      // every job the construction started is visible too
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-sentinel").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("building the tpch_x10 queries launches no Spark job") {
    for (q <- Seq("q182_min_cost_supplier", "q191_supplier_counts",
        "q193_big_orders", "q195_waiting_suppliers"))
      assert(constructionJobs(q) == 0, s"building $q launched Spark jobs")
  }

  test("dailyEvents has one row per (event_type, day), summing to the events per type") {
    val daily = Tables.dailyEvents(spark, sf)
    assert(daily.columns.toSeq === Seq("event_type", "day", "n"))
    assert(daily.groupBy(col("event_type"), col("day")).count()
      .filter(col("count") > 1).isEmpty, "duplicate (event_type, day) key")
    def perType(df: DataFrame, n: Column) =
      df.groupBy(col("event_type")).agg(n.as("n")).collect()
        .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val expected = perType(Tables.events(spark, sf), count(lit(1)))
    assert(expected.nonEmpty)
    assert(perType(daily, sum(col("n"))) === expected)
  }

  /** The queries built on [[Tables.dailyEvents]]: the daily monitors of
    * `Temporal` and the two `Profile` DP releases. */
  private val dailySeriesQueries = Seq(
    "q204_lagged_xcorr", "q237_cusum", "q240_theilsen", "q244_fano",
    "q254_dp_release", "q256_acf", "q282_dp_epsilon_curve",
    "q295_changepoint", "q299_haar_anomaly", "q306_hurst_rs",
    "q311_seasonal_decompose", "q312_page_hinkley", "q322_runs_test",
    "q326_kendall_w", "q328_poisson_dispersion", "q330_ewma_chart",
    "q334_durbin_watson", "q336_mase_backtest", "q338_sax_motifs",
    "q346_periodogram", "q356_ar1_backtest", "q379_record_days")

  test("building the daily-series queries launches no Spark job") {
    // the shared series stays a lazy aggregate: materializing it would
    // start jobs here
    for (q <- dailySeriesQueries)
      assert(constructionJobs(q) == 0, s"building $q launched Spark jobs")
  }

  /** The queries that read their tokens through [[graft.ops.Text.terms]]
    * or [[graft.ops.Text.termCounts]]. */
  private val termStreamQueries = Seq(
    "q110_tfidf_topk", "q129_inverted_index", "q144_distinctive_terms",
    "q168_bm25", "q234_bpe_pairs", "q235_dsir_weights", "q245_zipf_slope",
    "q247_cms_heavy_hitters", "q266_rbo_rankings", "q269_stem_audit",
    "q270_oov_coverage", "q287_heavy_hitters", "q314_renyi_spectrum",
    "q315_good_turing", "q320_burrows_delta", "q323_chao_richness",
    "q325_word_burstiness")

  test("building the term-stream queries launches no Spark job") {
    // the term frame stays lazy: nothing is collected or materialized
    // while the query is built
    for (q <- termStreamQueries)
      assert(constructionJobs(q) == 0, s"building $q launched Spark jobs")
  }

  test("q115/q122 start only their write jobs: the read-back infers nothing") {
    // each writes one aggregate (a shuffle-map job plus the write job)
    // and reads it back with the writer's schema
    for (q <- Seq("q115_sketch_rollup", "q122_incremental_mv"))
      assert(constructionJobs(q) == 2, s"building $q")
  }
}
