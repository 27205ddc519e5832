package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The canonical DEGENERATE corpus — every table at the smallest
  * cardinality that still exercises the catalog's denominators and
  * rank statistics: single-element groups (one user, one rater, one
  * item, one nation), zero-variance strata (constant value / quantity
  * / price), all-tie ranks (one day), a single development lag (ship
  * month = order month), exact-duplicate documents from one source,
  * an identical embedding pair. Spark's double division yields
  * NULL/±Inf where an IEEE engine errors or NaNs — invisible on
  * TPC-H-shaped corpora, fatal the day a real corpus ships a
  * single-doc source, so `DegenerateInputSpec` sweeps the catalog
  * over this corpus and [[DegenProbe]] replays the sweep standalone.
  */
object DegenCorpus {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Writes the corpus under `dir` (one parquet per table, the same
    * layout and column types as the testdata corpora). Idempotent — callers may share
    * one scratch dir. With `empty = true` every table keeps its schema
    * but carries ZERO rows — the limiting degenerate corpus. With
    * `nulls = true` every PAYLOAD column (strings, text, timestamps,
    * embedding arrays, props) is NULL while the entity keys keep their
    * values — the shape of a half-corrupt ingest batch.
    */
  def write(spark: SparkSession, dir: String,
      empty: Boolean = false, nulls: Boolean = false): String = {
    import spark.implicits._
    // key columns stay populated so joins/groupings still route rows;
    // everything a real feed could deliver as NULL goes NULL
    val keep = Set("r_regionkey", "n_nationkey", "n_regionkey",
      "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey",
      "p_partkey", "o_orderkey", "o_custkey", "l_orderkey",
      "l_partkey", "l_suppkey", "l_linenumber", "event_id", "user_id",
      "doc_id", "vec_id", "label")
    // each table is written with the corpus contract's column types
    // (Tables.schemas; a session-zoned TIMESTAMP goes to disk as the
    // naive µs timestamp the corpus files carry), then cut down
    implicit class Save(df: DataFrame) {
      def save(name: String): Unit = {
        val typed = df.select(Tables.schemas(name).fields.map { f =>
          col(f.name).cast(f.dataType match {
            case TimestampType => TimestampNTZType
            case t => t
          }).as(f.name)
        }.toSeq: _*)
        val cut =
          if (empty) typed.limit(0)
          else if (nulls) typed.select(typed.schema.fields.map { f =>
            if (keep(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
          else typed
        cut.write.mode("overwrite").parquet(Tables.path(dir, name))
      }
    }
    Seq((0, "R0")).toDF("r_regionkey", "r_name")
      .save("region")
    Seq((0, "N0", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .save("nation")
    Seq((1L, "C1", 0, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .save("customer")
    Seq((1L, "S1", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .save("supplier")
    Seq((1L, "P1", "B1", "T1", 1, 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .save("part")
    // two identical-price orders in ONE month from one customer:
    // zero price variance, one order cohort
    Seq(
      (1L, 1L, "O", 100.0, ts("2024-01-10 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 100.0, ts("2024-01-20 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .save("orders")
    // constant-quantity lines shipping INSIDE the order month:
    // zero-variance quantity (Cp/Cpk) and a single development lag
    // (chain ladder)
    Seq(
      (1L, 1L, 1L, 1, 10.0, 100.0, 0.0, 0.0, "N", "O",
        ts("2024-01-15 00:00:00")),
      (2L, 1L, 1L, 1, 10.0, 100.0, 0.0, 0.0, "N", "O",
        ts("2024-01-25 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .save("lineitem")
    // ONE user, ONE day, ONE event type, constant value: one rater
    // (Kendall W), one item (Cronbach), one group (ICC), all-tie
    // ranks, single-day user (survival), zero dispersion
    Seq(
      (1L, ts("2024-01-05 09:00:00"), 10L, "click", 7.0, "{}"),
      (2L, ts("2024-01-05 10:00:00"), 10L, "click", 7.0, "{}"),
      (3L, ts("2024-01-05 11:00:00"), 10L, "click", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .save("events")
    // exact-duplicate documents from one source
    Seq(
      (1L, "aa bb cc dd ee", "en", "s1", 14L),
      (2L, "aa bb cc dd ee", "en", "s1", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .save("documents")
    // an identical vector pair (zero within-pair distance) plus two
    // orthogonal singletons
    Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .save("embeddings")
    dir
  }
}

/** Dev utility: replay the degenerate sweep over the WHOLE catalog
  * (DegenerateInputSpec's enforced sweep covers q312-q382 plus pinned
  * singles) and print one line per failure/NaN — the candidate list
  * for new degenerate pins. Pass `--empty` to sweep the zero-row
  * corpus, `--nulls` for the null-payload corpus. Usage:
  * `sbt "runMain graft.DegenProbe [--empty|--nulls] [queryPrefixFilter]"`.
  */
object DegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val empty = args.contains("--empty")
    val nulls = args.contains("--nulls")
    val prefix = args.filterNot(a => a == "--empty" || a == "--nulls")
      .headOption
    val dir = DegenCorpus.write(spark,
      java.nio.file.Paths.get(
        if (empty) "target/tmp/degen_probe_empty"
        else if (nulls) "target/tmp/degen_probe_nulls"
        else "target/tmp/degen_probe")
        .toAbsolutePath.toString, empty, nulls)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefix.forall(n.startsWith))
    var bad = 0
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val rows = df.collect()
        val doubleIdx = df.schema.fields.zipWithIndex.collect {
          case (f, i) if f.dataType ==
            org.apache.spark.sql.types.DoubleType => (f.name, i)
        }
        for (r <- rows; (fn, i) <- doubleIdx; if !r.isNullAt(i)) {
          val v = r.getDouble(i)
          if (v.isNaN || v.isInfinite) {
            bad += 1; println(s"NONFINITE $name $fn = $v")
          }
        }
      } catch { case e: Throwable =>
        bad += 1
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        println(s"CRASH $name: ${msg.linesIterator.take(2).mkString(" ")}")
      }
    }
    println(s"DEGENPROBE done: ${names.size} queries, $bad problems")
    spark.stop()
  }
}
