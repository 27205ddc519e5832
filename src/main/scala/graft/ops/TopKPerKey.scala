package graft.ops

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-key top-k via bounded heaps instead of window sort.
  *
  * The window formulation (`row_number().over(partitionBy(key).orderBy(
  * ord)) <= k`) must SORT every row of every partition before discarding
  * all but k — at 100 TB that is a full shuffle followed by an O(n log n)
  * sort of n rows to keep k≪n. This operator aggregates instead: each
  * map task keeps a k-bounded ordered buffer per key (partial
  * aggregation — combiner semantics), merges buffers associatively, and
  * only k·|keys| rows ever cross the shuffle. Output and tie-breaking
  * are identical to the window version when the ordering key is total,
  * which is what the DuckDB oracle (a row_number filter) checks.
  *
  * Keys and ordering are encoded by the caller into (key: Long,
  * ord: (Double, Long)) — ord compares descending-by-first then
  * ascending-by-second, covering the "largest value, stable id
  * tie-break" shape. Generalizing to arbitrary Column tuples would need
  * an untyped UDAF; the typed Aggregator keeps the hot path boxed-free.
  */
object TopKPerKey extends QueryModule {

  /** One input row: grouping key, descending measure, ascending
    * tie-break id (must make the order total), opaque payload id.
    */
  final case class In(key: Long, measure: Double, tie: Long)

  private final class TopKAgg(k: Int)
      extends Aggregator[In, List[(Double, Long)], Seq[(Double, Long)]] {

    // ordering: best = highest measure, then lowest tie id.
    private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    /** Insert keeping the list sorted best-first and length ≤ k. */
    private def insert(buf: List[(Double, Long)], v: (Double, Long)): List[(Double, Long)] = {
      val (better, worse) = buf.span(x => lt(x, v))
      val merged = better ::: v :: worse
      if (merged.length > k) merged.take(k) else merged
    }

    override def zero: List[(Double, Long)] = Nil
    override def reduce(b: List[(Double, Long)], a: In): List[(Double, Long)] =
      if (b.length == k && !lt((a.measure, a.tie), b.last)) b
      else insert(b, (a.measure, a.tie))
    override def merge(x: List[(Double, Long)], y: List[(Double, Long)]): List[(Double, Long)] =
      y.foldLeft(x)(insert)
    override def finish(r: List[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: Encoder[List[(Double, Long)]] =
      Encoders.kryo[List[(Double, Long)]]
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** df must have columns (key: Long, measure: Double, tie: Long);
    * returns (key, rank 1..k, measure, tie) — the per-key top k by
    * (measure desc, tie asc). Rows with a NULL key/measure/tie are
    * unrankable and excluded up front — the typed encoder's primitive
    * fields would otherwise throw NOT_NULL_ASSERT_VIOLATION the first
    * time a half-corrupt batch ships a null measure.
    */
  def apply(df: DataFrame, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new TopKAgg(k)
    df.select(col("key"), col("measure"), col("tie"))
      .na.drop("any", Seq("key", "measure", "tie")).as[In]
      .groupByKey(_.key)
      .agg(agg.toColumn.name("top"))
      .toDF("key", "top")
      .select(col("key"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("key"), (col("pos") + 1).cast("long").as("rank"),
        col("entry._1").as("measure"), col("entry._2").as("tie"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // top-5 lineitems per supplier by quantity. (l_orderkey,
    // l_linenumber) is NOT unique in this corpus, but tied rows are
    // identical in every output column, so the result multiset is
    // deterministic and matches the oracle's row_number formulation.
    "q77_topk_perkey" -> ((s, d) =>
      apply(
        Tables.lineitem(s, d).select(
          col("l_suppkey").as("key"),
          col("l_quantity").as("measure"),
          (col("l_orderkey") * 100 + col("l_linenumber")).as("tie")),
        k = 5)
        .orderBy(col("key"), col("rank"))),

    // same semantics through the native Catalyst operator
    // (plans/PerKeyTopK.scala: custom LogicalPlan → optimizer rule →
    // strategy → partial/final physical heaps). The oracle is the
    // identical row_number formulation, so a green row proves the
    // whole custom-plan path end to end.
    "q78_topk_native" -> ((s, d) =>
      graft.plans.NativeTopK(
        Tables.lineitem(s, d).select(
          col("l_suppkey").as("key"),
          col("l_quantity").as("measure"),
          (col("l_orderkey") * 100 + col("l_linenumber")).as("tie")),
        keyCols = Seq("key"),
        orderBy = Seq(("measure", false), ("tie", true)),
        k = 5)
        .orderBy(col("key"), col("measure").desc, col("tie")))
,
    // Per-language heavy-hitter words through the native Misra-Gries
    // aggregate (plans/TopFreq.scala — the kernel set's
    // TypedImperativeAggregate, riding Spark's standard two-phase hash
    // aggregation: k-bounded partial summaries merge associatively, so
    // only ≤k counters per (lang, map task) ever cross the shuffle —
    // the mergeable-summaries shape that replaces a full (lang, word)
    // re-shuffle when only frequent items are wanted at 100 TB).
    // EXACT REGIME on this corpus: k = 64 exceeds the ≤31-word
    // vocabulary, so no decrement ever fires, counts are exact,
    // err_bound = 0, and the result is order- and partition-free —
    // which is what lets a plain count/row_number oracle pin the whole
    // kernel (update, serialize, merge, eval) end to end. The sketch
    // regime (k < distinct) is property-pinned in NativeTopFreqSpec.
    "q287_heavy_hitters" -> ((s, d) =>
      topFreq(
        Text.terms(Tables.documents(s, d), col("lang"))
          .select(col("lang"), col("term").as("word")),
        "word", 64, Seq("lang"))
        .orderBy(col("lang"), col("rank")))
  )

  /** Misra-Gries heavy hitters as a reusable library op (the
    * [[graft.api.Frame]] facade's `topFreq`; q287 is this over
    * per-language words): the native TypedImperativeAggregate
    * (plans/TopFreq.scala) rides Spark's two-phase hash aggregation —
    * k-bounded partial summaries merge associatively, so only ≤k
    * counters per (group, map task) ever cross the shuffle. Output:
    * one row per (group, rank) with the item, its (possibly
    * undercounted) count, and the summary-wide err_bound; exact
    * (err_bound = 0) whenever k exceeds the group's distinct count.
    */
  private[graft] def topFreq(df: DataFrame, column: String, k: Int,
                             groups: Seq[String]): DataFrame =
    df.groupBy(groups.map(col): _*)
      .agg(expr(s"graft_topfreq($column, $k)").as("hh"))
      .select(groups.map(col) :+ col("hh.err_bound").as("err_bound") :+
        posexplode(col("hh.items")).as(Seq("pos", "e")): _*)
      .select(groups.map(col) :+
        (col("pos") + 1).cast("long").as("rank") :+
        col("e.item").as(column) :+ col("e.cnt").as("cnt") :+
        col("err_bound"): _*)

  def oracle: Map[String, String] = Map(
    "q77_topk_perkey" ->
      """SELECT l_suppkey AS key, rn AS rank, l_quantity AS measure,
        |  l_orderkey * 100 + l_linenumber AS tie
        |FROM (SELECT l_suppkey, l_quantity, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_quantity DESC, l_orderkey * 100 + l_linenumber ASC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5 ORDER BY key, rank""".stripMargin,

    "q78_topk_native" ->
      """SELECT l_suppkey AS key, l_quantity AS measure,
        |  l_orderkey * 100 + l_linenumber AS tie
        |FROM (SELECT l_suppkey, l_quantity, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_quantity DESC, l_orderkey * 100 + l_linenumber ASC) AS rn
        |  FROM lineitem)
        |WHERE rn <= 5 ORDER BY key, measure DESC, tie""".stripMargin,

    "q287_heavy_hitters" ->
      """WITH w AS (SELECT lang,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+',
        |      ' ', 'g'))), ' ')) AS word
        |  FROM documents),
        |c AS (SELECT lang, word, count(*) AS cnt FROM w
        |  WHERE word <> '' GROUP BY 1, 2),
        |r AS (SELECT lang, word, cnt,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, word) AS rank
        |  FROM c)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, word,
        |  CAST(cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err_bound
        |FROM r WHERE rank <= 64 ORDER BY lang, rank""".stripMargin
  )
}
