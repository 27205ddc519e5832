package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× (or N×) corpus amplifier for scale-curve evidence
  * (VERDICT r11 #2): the correctness gates all run at sf0.1 (~17 MB),
  * but the brief grades plans at 100 TB — so the heavy tier's wall
  * times must be measured at TWO scales and the growth RATIO read. A
  * query whose time grows ≫ linearly with the corpus (the q310-draft
  * class: a hidden quadratic) shows up immediately as ratio ≫ N.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> [copies]
  * NEVER writes outside outDir; never touches /root/testdata (driver
  * contract — the scratch corpus lives under target/).
  *
  * Design: each table is fanned out by an explode over copy ids in ONE
  * pass. Entity keys shift by copy × (max key + 1) so key cardinality
  * scales with the data and every intra-copy foreign key stays valid
  * (orders⋈lineitem etc. join within a copy, exactly like real growth).
  * Dimension tables (region, nation) and bounded domains (lang, source,
  * event_type, the 30-day calendar) stay FIXED — that is how real
  * corpora grow, and it keeps the bounded-frame arguments honest.
  * Document text is token-salted per copy (`word` → `wordxK`) so
  * cross-copy shingle similarity is ZERO: near-dup workload (cluster
  * sizes, candidate-pair density per doc) stays constant per unit of
  * corpus instead of every doc gaining 9 exact clones — we are
  * measuring PLAN scaling, not an artificial 45× dup-pair workload.
  * Embedding vectors are cyclically rotated per copy for the same
  * reason (identical vectors would inflate within-cell pair counts
  * quadratically by construction).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/scale10"
    val copies = if (args.length > 2) args(2).toInt else 10
    require(!out.startsWith("/root/testdata"), "never write to testdata")
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables(spark, src, name)
    def save(name: String, df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    // per-entity key strides = max + 1, computed once from the source
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    val cs = stride(t("customer"), "c_custkey")
    val ss = stride(t("supplier"), "s_suppkey")
    val ps = stride(t("part"), "p_partkey")
    val os = stride(t("orders"), "o_orderkey")
    val es = stride(t("events"), "event_id")
    val us = stride(t("events"), "user_id")
    val ds = stride(t("documents"), "doc_id")
    val vs = stride(t("embeddings"), "vec_id")

    def fan(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(copies - 1L))))
    def shifted(c: String, s: Long) = (col(c) + col("rep") * s).as(c)

    // dimensions: fixed (real corpora don't grow nations)
    save("region", t("region"), 1)
    save("nation", t("nation"), 1)

    save("customer", fan(t("customer"))
      .select(shifted("c_custkey", cs) +: t("customer").columns.toSeq
        .filter(_ != "c_custkey").map(col): _*), 4)
    save("supplier", fan(t("supplier"))
      .select(shifted("s_suppkey", ss) +: t("supplier").columns.toSeq
        .filter(_ != "s_suppkey").map(col): _*), 2)
    save("part", fan(t("part"))
      .select(shifted("p_partkey", ps) +: t("part").columns.toSeq
        .filter(_ != "p_partkey").map(col): _*), 4)
    save("orders", fan(t("orders"))
      .select(shifted("o_orderkey", os) +: shifted("o_custkey", cs) +:
        t("orders").columns.toSeq
          .filterNot(Set("o_orderkey", "o_custkey")).map(col): _*), 8)
    save("lineitem", fan(t("lineitem"))
      .select(shifted("l_orderkey", os) +: shifted("l_partkey", ps) +:
        shifted("l_suppkey", ss) +: t("lineitem").columns.toSeq
          .filterNot(Set("l_orderkey", "l_partkey", "l_suppkey"))
          .map(col): _*), 16)
    // events.ts reads as a session-zoned TIMESTAMP (Tables.schemas),
    // which parquet would store as INT96: cast back to the naive µs
    // type the corpus files hold
    save("events", fan(t("events"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .select(shifted("event_id", es) +: shifted("user_id", us) +:
        t("events").columns.toSeq
          .filterNot(Set("event_id", "user_id")).map(col): _*), 8)

    // documents: per-copy token salt — copy 0 is the original corpus,
    // copy k > 0 rewrites every token `w` → `wxK`, so shingle sets are
    // disjoint across copies and dup/near-dup density per doc is
    // preserved. n_chars re-derived from the salted text.
    val doc0 = t("documents")
    save("documents", fan(doc0)
      .withColumn("text", when(col("rep") === 0L, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), col("rep")))))
      .select(shifted("doc_id", ds), col("text"), col("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars")), 16)

    // embeddings: cyclic per-copy rotation de-correlates copies while
    // preserving norms and per-vector value distributions. Rotation is
    // rep MOD dim — at copies > dim (the 100× run vs 64-dim vectors) a
    // raw rep would make the slice length negative.
    val emb0 = t("embeddings")
    val dim = size(col("embedding"))
    val rot = pmod(col("rep"), dim.cast("long")).cast("int")
    save("embeddings", fan(emb0)
      .withColumn("embedding",
        when(rot === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), rot + 1, dim - rot),
            slice(col("embedding"), lit(1), rot))))
      .select(shifted("vec_id", vs) +: emb0.columns.toSeq
        .filter(_ != "vec_id").map(col): _*), 8)

    println(s"[scalegen] wrote ${copies}x corpus to $out")
    Tables.names.foreach { n =>
      println(s"[scalegen] $n rows=" +
        Tables(spark, out, n).count())
    }
    spark.stop()
  }
}
