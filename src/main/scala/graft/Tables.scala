package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.ListMap

/** Loaders for the corpus (TESTDATA.md): one parquet file or directory
  * per table under `sfDir`.
  *
  * The ten table schemas are a declared contract, not something read
  * back from the files: `apply` is `spark.read.schema(...).parquet`, so
  * building a query launches no schema-inference job (an inferred read
  * starts one job per table to read a footer). Column order and types
  * are exactly what the testdata corpora, `e2ebench/gen_corpus.py`,
  * [[ScaleGen]] and [[DegenCorpus]] write; `l_shipdate` and
  * `o_orderdate` are naive microsecond timestamps (TIMESTAMP_NTZ).
  * Scans still prune columns and push filters (ReadSchema /
  * PushedFilters) exactly as an inferred read does.
  *
  * Drift is caught in two places: `TablesSpec` checks every declared
  * schema against the inferred schema of all three testdata corpora, and
  * a parquet column whose physical type cannot be read as its declared
  * type fails the scan loudly instead of being adapted.
  */
object Tables {
  /** The declared schema of each table, in `names` order.
    *
    * `events.ts` is the one declared type that differs from the file's:
    * the corpus writes a naive µs timestamp, and declaring it TIMESTAMP
    * reads the same µs value as a session-zoned instant. The session
    * timezone is pinned to UTC ([[Session.builder]]), so the epoch is
    * bit-identical to DuckDB's naive read — the type every downstream
    * query and oracle was verified against.
    */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  val names: Seq[String] = schemas.keys.toSeq

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(sfDir, name))

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Directed nation→nation trade pair counts — the graph tier's shared
    * corpus stage, built here once for every graph query. An edge src→dst with weight `cnt`
    * for every lineitem whose ordering customer sits in nation src and
    * supplying supplier in nation dst; self-loops (src == dst) are kept
    * so every consumer can filter or fold them as its algorithm needs.
    *
    * This is the ONLY corpus-sized stage of the whole graph tier
    * (lineitem⋈orders⋈customer⋈supplier → ≤|nations|² rows). Each
    * query derives it from parquet when it is built and materializes it
    * through [[graft.ops.Materialize.frame]] (never a cross-invocation
    * cache), so its consumers — several graph algorithms read the frame
    * from 2-4 branches plus bounded driver collects — iterate the
    * ≤|nations|² rows instead of re-planning the 4-table join per
    * branch. Under `Materialize.withLazyPlans` the frame is this plan,
    * one scan per base table (`PlanShapeSpec`).
    */
  def nationEdges(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("src")),
        col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey").as("dst")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
      // single-partition materialization: the aggregation itself runs
      // fully parallel (map-side partials + a cpus-way reduce), and
      // only the ≤|nations|² result squeezes into one block; without
      // this every tiny downstream graph stage pays 32-task scheduling
      // (q166/q175 each take ~0.5-1.0 s longer at sf0.1).
      .repartition(1)
      .transform(graft.ops.Materialize.frame)
  }

  /** Events counted per (event_type, day): the (event_type, day, n)
    * series every daily monitor of `Temporal` and `Profile` windows
    * over. A plain lazy aggregate, never materialized: building a
    * query on it starts no Spark job, and a consumer's filter on
    * `event_type` still pushes into the events scan.
    */
  private[graft] def dailyEvents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, to_date}
    events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
  }
}

/** A query module contributes named queries plus (optionally) DuckDB oracle
  * SQL per query. Keys must be unique across modules; `SparkEntry`
  * concatenates all modules.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
