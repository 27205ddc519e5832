package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** User-facing facade mirroring the reference's DataFrame/LazyFrame
  * surface (dataframe.rs, lazyframe.rs) so a reference user can switch
  * by renaming imports: same method vocabulary, Spark semantics
  * underneath (each method is a thin delegate — Catalyst still sees the
  * full declarative plan, so nothing here costs optimization).
  *
  * Deliberate semantic upgrades over the reference, per SURVEY §7.3:
  * typed predicates (not f64 casts), correct FULL OUTER and string-key
  * joins, explicit nulls ordering in sort, 1-based substring. The
  * eager/lazy split collapses: every Frame is lazy until an action.
  */
final class Frame private (val df: DataFrame) {

  // §2.2 projections / column ops
  def select(cols: String*): Frame = Frame(df.select(cols.map(col): _*))
  def drop(cols: String*): Frame = Frame(df.drop(cols: _*))
  def withColumn(name: String, c: Column): Frame = Frame(df.withColumn(name, c))
  def withColumnRenamed(from: String, to: String): Frame =
    Frame(df.withColumnRenamed(from, to))
  /** Reference with_id (dataframe.rs:234-249): per-chunk stride ids →
    * Spark's partition-stride `monotonically_increasing_id`.
    */
  def withId(name: String = "id"): Frame =
    Frame(df.withColumn(name, monotonically_increasing_id()))
  def cast(column: String, to: DataType): Frame =
    Frame(df.withColumn(column, col(column).cast(to)))
  def limit(n: Int): Frame = Frame(df.limit(n))

  // §2.3 filters — typed Column predicates
  def filter(cond: Column): Frame = Frame(df.filter(cond))

  // §2.4 joins — JoinCriteria {join_type, criteria: Vec[(l, r)]}
  def join(other: Frame, on: Seq[(String, String)], joinType: String = "inner"): Frame = {
    val cond = on.map { case (l, r) => df(l) === other.df(r) }.reduce(_ && _)
    Frame(df.join(other.df, cond, joinType))
  }

  // §2.5 sort — SortCriteria {column, descending} with explicit nulls order
  def sort(criteria: (String, Boolean)*): Frame =
    Frame(df.orderBy(criteria.map {
      case (c, true) => col(c).desc_nulls_last
      case (c, false) => col(c).asc_nulls_first
    }: _*))

  // §2.6 aggregations — reference aggregate(groups, {column -> [fns]})
  def aggregate(groups: Seq[String], aggs: Seq[(String, String)]): Frame = {
    require(aggs.nonEmpty,
      "aggregate requires at least one (column, function) pair; use uniques/distinct for group keys alone")
    val cols = aggs.map { case (c, fn) =>
      expr(s"$fn($c)").as(s"${fn}_$c")
    }
    Frame(df.groupBy(groups.map(col): _*).agg(cols.head, cols.tail: _*))
  }
  /** Per-key top-k through the native Catalyst operator
    * ([[graft.plans.PerKeyTopKPlan]]): bounded heaps, k·|keys| rows
    * across one shuffle — not a window sort.
    */
  def topK(keys: Seq[String], orderBy: Seq[(String, Boolean)], k: Int): Frame =
    Frame(graft.plans.NativeTopK(df, keys, orderBy, k))

  /** Zero-extra-pass pipeline metrics: observe() attaches aggregate
    * expressions to this node, computed as a side effect of whatever
    * action later materializes the frame — row counts / null rates /
    * value sums for a 100 TB run cost no second scan. Read the values
    * from the returned Observation after an action completes.
    */
  def observed(name: String, metrics: (String, Column)*): (Frame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val exprs = metrics.map { case (n, c) => c.as(n) }
    (Frame(df.observe(obs, exprs.head, exprs.tail: _*)), obs)
  }

  /** Seeded Bernoulli sample: the inspection / train-dev-split
    * primitive for corpora too large to materialize. Deterministic for
    * a fixed (seed, partitioning) — each partition samples
    * independently, no shuffle, no driver involvement.
    */
  def sample(fraction: Double, seed: Long): Frame =
    Frame(df.sample(withReplacement = false, fraction, seed))

  /** Stratified sample: per-stratum fractions (e.g. downsample the
    * majority language, keep all of a rare one) — the class-balance
    * tool for training-data curation.
    */
  def sampleStratified(keyCol: String, fractions: Map[Any, Double],
                       seed: Long): Frame =
    Frame(df.stat.sampleBy(keyCol, fractions, seed))

  def uniques(column: String): Frame = Frame(df.select(column).distinct())
  /** Column::hist (table.rs:244-290): fixed-width numeric histogram;
    * broadcast 1-row bounds, integer bucketing — no collect at any size.
    * NULL values are excluded (they have no bucket — and Spark's
    * null-skipping `least` would otherwise silently dump them in the top
    * bin); a constant column degenerates to a single bucket 0.
    */
  def hist(column: String, buckets: Int): Frame = {
    val bounds = df.agg(min(col(column)).as("lo"), max(col(column)).as("hi"))
    Frame(df.filter(col(column).isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(floor(
            (col(column) - col("lo")) / ((col("hi") - col("lo")) / buckets)),
            lit(buckets - 1)))
          .cast("int"))
      .groupBy(col("bucket"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .orderBy(col("bucket")))
  }

  // §2.8 set ops
  def union(other: Frame): Frame = Frame(df.union(other.df))
  def unionDistinct(other: Frame): Frame = Frame(df.union(other.df).distinct())
  def intersect(other: Frame): Frame = Frame(df.intersect(other.df))
  def except(other: Frame): Frame = Frame(df.except(other.df))
  /** Schema-evolution union: align by NAME, null-fill absent columns
    * (the backfill shape — yesterday's files lack today's new column).
    */
  def unionByName(other: Frame): Frame =
    Frame(df.unionByName(other.df, allowMissingColumns = true))

  /** Single-pass column profile (count/mean/stddev/min/max per column,
    * long form) — the q92_describe shape: one aggregation job however
    * many columns are profiled, never a scan per column.
    */
  def describe(columns: String*): Frame = {
    val cs = if (columns.nonEmpty) columns else df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        f.name
    }.toSeq
    val aggs = cs.zipWithIndex.flatMap { case (c, i) =>
      Seq(org.apache.spark.sql.functions.count(col(c)).as(s"c$i"),
        round(avg(col(c)), 6).as(s"m$i"),
        round(stddev(col(c)), 6).as(s"s$i"),
        min(col(c)).cast("double").as(s"lo$i"),
        max(col(c)).cast("double").as(s"hi$i"))
    }
    val stackArgs = cs.zipWithIndex
      .map { case (c, i) => s"'$c', c$i, m$i, s$i, lo$i, hi$i" }
      .mkString(", ")
    Frame(df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cs.length}, $stackArgs)" +
        " AS (col_name, cnt, mean, std, minv, maxv)")
      .orderBy(col("col_name")))
  }

  // null repair (q99_na_functions surface)
  def fillNa(values: Map[String, Any]): Frame = Frame(df.na.fill(values))
  def dropNa(subset: Seq[String]): Frame = Frame(df.na.drop(subset))
  def replaceNa[T](column: String, replacement: Map[T, T]): Frame =
    Frame(df.na.replace(column, replacement))

  /** Contingency counts of two low-cardinality columns (q97_crosstab). */
  def crosstab(c1: String, c2: String): Frame = Frame(df.stat.crosstab(c1, c2))

  /** Greenwald-Khanna approximate quantiles: one pass, bounded error —
    * the profiling quantile for tables where exact percentile's
    * value-count map would not fit (returns to the driver: quantiles
    * are a scalar summary, not a dataset).
    */
  def approxQuantile(column: String, probabilities: Seq[Double],
                     relativeError: Double): Seq[Double] =
    df.stat.approxQuantile(column, probabilities.toArray, relativeError).toSeq

  /** Heavy hitters with support ≥ `support` (false positives possible,
    * no false negatives — the skew-key detector: feed the result to a
    * salting decision).
    */
  def freqItems(columns: Seq[String], support: Double): Frame =
    Frame(df.stat.freqItems(columns.toArray, support))

  // ——— LLM-data-pipeline tier ———
  // The curation/dedup/analysis operators as library calls, each a
  // thin delegate to the op the oracle-pinned catalog query runs —
  // same plan, same scale shape, no facade-only code path to drift.
  // Input contract: the documents schema (doc_id, text, lang, source,
  // n_chars) unless a method says otherwise.

  /** Exact dedup: normalize → sha256 → keep the lowest-id row per
    * content hash; all columns preserved plus content_hash/n_copies.
    * One shuffle on the hash (q60).
    */
  def dedupExact(idCol: String = "doc_id", textCol: String = "text"): Frame =
    Frame(graft.ops.Dedup.dedupExact(df, idCol, textCol))

  /** MinHash+LSH near-dup pairs verified at exact Jaccard ≥
    * `minJaccardPct`/100: md5 shingle hashes, the shared 16-permutation
    * md5 signature ([[graft.ops.MinHash]]) in 8 bands of 2 rows.
    * Candidates meet only inside shared band buckets, never corpus ×
    * corpus (q61, whose DuckDB oracle replays every stage). Needs
    * doc_id + text.
    */
  def dedupMinhashLsh(minJaccardPct: Int = 80): Frame =
    Frame(graft.ops.Dedup.minhashPairs(df, minJaccardPct))

  /** Per-group heavy hitters via the native Misra-Gries aggregate:
    * ≤k counters per group cross the shuffle however large the
    * corpus; exact when k exceeds the group's distinct count (q287).
    */
  def topFreq(column: String, k: Int, groups: Seq[String] = Nil): Frame =
    Frame(graft.ops.TopKPerKey.topFreq(df, column, k, groups))

  /** Temperature-sampled language mix q_l ∝ p_l^α — the multilingual
    * sampling rule; α = 1/2 (the default) is bit-exact cross-engine
    * (q233).
    */
  def temperatureMix(alpha: Double = 0.5): Frame =
    Frame(graft.ops.Curation.temperatureMix(df, alpha))

  /** Deterministic train/dev/test split on a shared-md5 of doc_id —
    * reproducible across runs, engines, partitionings (q100).
    */
  def hashSplit(): Frame = Frame(graft.ops.Curation.hashSplit(df))

  /** Greedy sequence packing to the context window via a three-level
    * distributed prefix sum (q101).
    */
  def seqPack(): Frame = Frame(graft.ops.Curation.seqPack(df))

  /** Decontamination: drop training docs sharing a 3-shingle with the
    * held-out split (doc_id % evalMod picks the eval set) (q102).
    */
  def decontaminate(evalMod: Long): Frame =
    Frame(graft.ops.Curation.decontaminate(df, evalMod))

  /** Source-weighted epoch mix: per-source token budgets and repeat
    * risk under a fixed total (q104).
    */
  def weightedMix(): Frame = Frame(graft.ops.Curation.weightedMix(df))

  /** PII redaction (emails, phones, ids) with per-doc redaction
    * counts (q103).
    */
  def redact(): Frame = Frame(graft.ops.Curation.redact(df))

  /** Per-language TF-IDF top terms (q110). */
  def tfidfTopK(): Frame = Frame(graft.ops.CorpusSignals.tfidfTopK(df))

  /** Weighted sample WITHOUT replacement (Efraimidis-Spirakis top-k
    * on u^(1/w), weights = n_chars) — exact-k, deterministic across
    * runs/engines/partitionings (q343).
    */
  def weightedSample(k: Int = 20): Frame =
    Frame(graft.ops.Curation.weightedSample(df, k))

  /** Quantile-normalize per-source length distributions onto the
    * global one by exact rational interpolation (q344).
    */
  def quantileNormalize(): Frame =
    Frame(graft.ops.Curation.quantileNormalize(df))

  /** Fixed-size overlapping chunks for retrieval indexing (q122 tier). */
  def chunkDocs(): Frame = Frame(graft.ops.TextAnalysis.chunkDocs(df))

  /** Global 1-based rank over a TOTAL order (include a unique
    * tiebreaker) WITHOUT a single-partition sorted window — the
    * distributed q101-style prefix-sum rank the catalog's decile and
    * cumsum queries run on ([[graft.ops.DistributedRank]]). Appends `rk`
    * and the frame count `n_all`.
    */
  def globalRank(sortCols: Column*): Frame =
    Frame(graft.ops.DistributedRank.withRank(df, sortCols))

  /** Exact Spark-semantics ntile(k) over a TOTAL order, computed from
    * [[globalRank]] — byte-identical to `ntile(k).over(Window.orderBy
    * (...))` including tie splits, with no global window. Appends
    * `tile` (plus `rk`/`n_all`).
    */
  def ntileExact(k: Int, sortCols: Column*): Frame =
    Frame(graft.ops.DistributedRank.withRank(df, sortCols)
      .withColumn("tile",
        graft.ops.DistributedRank.ntileOf("rk", "n_all", k)))

  /** Monitoring / statistics tier: drift, survival, and capability
    * as library calls — each a thin delegate to the op its
    * oracle-pinned catalog query runs (q224/q225/q381/q382), so the
    * facade path and the verified path cannot drift.
    * Heavy-hitter curves are [[topFreq]] above (q287).
    */
  def stats: FrameStats = new FrameStats(df)

  // §2.2 display / actions
  def show(n: Int = 20): Unit = df.show(n)
  def display(n: Int = 20): Unit = show(n)
  def count(): Long = df.count()

  // §2.1 sinks
  def toCsv(path: String, header: Boolean = true, delimiter: String = ","): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path)
  def toJson(path: String): Unit = df.write.mode("overwrite").json(path)
  def toParquet(path: String): Unit = df.write.mode("overwrite").parquet(path)
}

/** §2.1 sources (from_csv dataframe.rs:349-389, from_json :409-448,
  * from_parquet :450-489; SQL reads delegate to [[graft.sources.Jdbc]]).
  */
object Frame {
  def apply(df: DataFrame): Frame = new Frame(df)

  def fromCsv(spark: SparkSession, path: String, header: Boolean = true,
              delimiter: String = ",", inferSchema: Boolean = true): Frame =
    Frame(spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("inferSchema", inferSchema.toString)
      .csv(path))

  def fromJson(spark: SparkSession, path: String): Frame =
    Frame(spark.read.json(path))

  def fromParquet(spark: SparkSession, path: String): Frame =
    Frame(spark.read.parquet(path))

  def fromSqlTable(spark: SparkSession, url: String, table: String,
                   user: String, password: String): Frame =
    Frame(graft.sources.Jdbc.read(spark,
      graft.sources.Jdbc.readerOptions(url, Left(table), user, password)))
}

/** The `frame.stats` sub-surface: monitoring/statistics operators over
  * whatever frame the caller assembled (pick your own group / value /
  * time columns — unlike the corpus-wired catalog queries, nothing
  * here assumes the TPC-H-ish schema). Each method delegates to
  * [[graft.ops.Stats]], the single implementation the DuckDB-verified
  * catalog queries also run.
  */
final class FrameStats private[api] (df: DataFrame) {

  /** Two-sample KS drift per `group`: max CDF gap of `value` between
    * the rows where boolean `isA` is true (sample A) and the rest
    * (q224). Output: (group, n_a, n_b, ks).
    */
  def ksDrift(group: String, value: String, isA: String): Frame =
    Frame(graft.ops.Stats.ksDrift(df, group, value, isA))

  /** PSI drift per `group` over fixed-width `value` buckets
    * (q225) — buckets empty on either side are excluded and their
    * row mass reported.
    */
  def psiDrift(group: String, value: String, isA: String,
               bucketWidth: Double = 50.0, maxBucket: Int = 9): Frame =
    Frame(graft.ops.Stats.psiDrift(df, group, value, isA, bucketWidth,
      maxBucket))

  /** Kaplan-Meier restricted mean survival time at horizon `tau` over
    * per-subject rows: `time` = integer event/censor time, `event` =
    * true ⟺ the event fired (q381; at_risk == d steps survival to
    * zero). Output: one row (tau_days, n_users, rmst_days,
    * rmst_fraction).
    */
  def survival(time: String, event: String, tau: Long = 7L): Frame =
    Frame(graft.ops.Stats.kmRmst(df, time, event, tau))

  /** Cp/Cpk process capability of integer-valued `x` against spec
    * limits [lsl, usl] (q382); zero variance yields NULL indices,
    * never Infinity.
    */
  def capability(x: String, lsl: Long, usl: Long): Frame =
    Frame(graft.ops.Stats.capability(df, x, lsl, usl))
}
