package graft.sources

import graft.{QueryModule, Tables}
import graft.ops.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink round-trips (SURVEY.md §2.1) — the reference's ingestion
  * surface: CSV read/write with header+delimiter options
  * (dataframe.rs:349-389, 527-543; options expression.rs:372-378), JSON
  * read (dataframe.rs:409-448), parquet write (dataframe.rs:545-560).
  *
  * Each query WRITES a real file set under target/tmp (partitioned
  * output, the cluster-shaped path — no coalesce(1) driver funnel),
  * READS it back through schema inference where the reference infers,
  * and aggregates; the oracle computes the same aggregate from the
  * original parquet, so any write/read corruption (quoting, delimiter,
  * type inference, timestamp formats) breaks the hash match.
  */
object IOQueries extends QueryModule {

  /** Per-sf scratch dir inside the repo tree (the sandbox forbids writes
    * elsewhere); the sf tag keeps sf0.001 tests and sf0.01 verify runs
    * from clobbering each other.
    */
  private def scratch(d: String, name: String): String =
    s"target/tmp/io/${d.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** Spread the low 16 bits of `v` to the even bit positions (Morton
    * "part 1 by 1", the classic magic-number ladder). Pure codegen'd
    * bitwise ops — no UDF, stays inside whole-stage codegen.
    */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Min/max-scale `v` into a 16-bit bucket (0..65535). `greatest(.,1)`
    * guards a constant column; `least` pins v == hi to the top bucket.
    */
  private def bucket16(v: Column, lo: Column, hi: Column): Column =
    least(
      floor((v.cast("double") - lo.cast("double")) * 65535.0
        / greatest((hi - lo).cast("double"), lit(1.0))),
      lit(65535.0)).cast("long")

  /** Z-ordered (Morton-interleaved) rewrite of `df` on two numeric
    * columns: bucket each to 16 bits against its global min/max (one
    * tiny aggregate, broadcast as a 1-row frame), interleave the bits,
    * range-partition + sort by the z-value, drop it. The returned frame
    * has `df`'s exact schema and rows — only the physical order (and
    * therefore every file's min/max footprint on BOTH columns) changes.
    */
  private[graft] def zordered(df: DataFrame, c1: String, c2: String,
                              numFiles: Int): DataFrame = {
    val bounds = df.agg(
      min(col(c1)).as("z_lo1"), max(col(c1)).as("z_hi1"),
      min(col(c2)).as("z_lo2"), max(col(c2)).as("z_hi2"))
    df.crossJoin(broadcast(bounds))
      .withColumn("z_val",
        spread16(bucket16(col(c1), col("z_lo1"), col("z_hi1"))).bitwiseOR(
          shiftleft(spread16(bucket16(col(c2), col("z_lo2"), col("z_hi2"))), 1)))
      .repartitionByRange(numFiles, col("z_val"))
      .sortWithinPartitions(col("z_val"))
      .drop("z_val", "z_lo1", "z_hi1", "z_lo2", "z_hi2")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CSV round-trip: header + non-default delimiter + inferred schema.
    "q80_csv_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "csv")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
        .write.mode("overwrite")
        .option("header", "true").option("delimiter", "|")
        .csv(dir)
      s.read
        .option("header", "true").option("delimiter", "|")
        .option("inferSchema", "true")
        .csv(dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"),
          round(sum(col("l_extendedprice")), 2).as("price"),
          min(col("l_shipdate")).cast("date").as("min_ship"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(col("l_returnflag"))
    }),

    // JSON-lines round-trip over the string-heavy documents table.
    "q81_json_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "json")
      val src = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      src.write.mode("overwrite").json(dir)
      // explicit read-back schema: inference over an empty write (a
      // legal state for a filtered 100 TB stage) has no rows to look
      // at and fails the whole job; the writer's schema is authoritative
      s.read.schema(src.schema).json(dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          sum(length(col("text"))).as("text_len"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // parquet write as a first-class verified operator (not just the
    // Verify harness): transformed projection → parquet → read-back.
    "q82_parquet_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "parquet")
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("odate"))
      src.write.mode("overwrite").parquet(dir)
      // read back with the writer's schema: no inference job (q81)
      s.read.schema(src.schema).parquet(dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("odate")).as("first_date"),
          max(col("odate")).as("last_date"))
        .orderBy(col("o_orderstatus"))
    }),

    // hive-style partitioned parquet write + partition-pruned read-back:
    // the layout a 100 TB table actually uses — the filter on the
    // partition column must prune directories at planning time
    // (PartitionFilters in the scan, pinned by SourcesSpec), so the
    // query reads 1/|partitions| of the data.
    "q84_partitioned_write" -> ((s, d) => {
      val dir = scratch(d, "partitioned")
      val src = Tables.orders(s, d)
      src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      // explicit schema (q81 rationale): an all-pruned/empty write
      // leaves no footer to infer from; partition discovery still
      // applies and SourcesSpec pins the PartitionFilters pruning
      s.read.schema(src.schema).parquet(dir)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // custom DataSource V2 connector (see RangeSource): partitioned
    // synthetic scan + filter + aggregate, oracle'd against DuckDB's
    // range(). The sfDir is irrelevant to the source — row count is
    // fixed so the oracle SQL stays static.
    "q83_custom_source" -> ((s, _) =>
      s.read.format("graft.sources.RangeSource")
        .option("rows", "20000").option("slices", "8").load()
        .filter(pmod(col("id"), lit(7L)) === 0)
        .groupBy(col("id_mod"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          max(col("tag")).as("max_tag"))
        .orderBy(col("id_mod")))
,
    // ORC round-trip: the second columnar format Spark ships natively
    // (beyond the reference's CSV/JSON/parquet surface) — same
    // pushdown/pruning machinery, different encoding; the aggregate
    // oracle proves the format conversion is lossless.
    "q79_orc_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "orc")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("price"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(col("l_returnflag"))
    }),

    // Compression-codec round-trip: the same frame written as zstd,
    // gzip, and snappy parquet (zstd is what a 100 TB lake actually
    // stores; snappy is Spark's default; gzip the legacy interop
    // codec), each read back and aggregated. All three codec rows
    // must agree with the oracle's aggregate over the ORIGINAL
    // parquet — a single differing row pins WHICH codec corrupted
    // values in flight. Codec choice changes bytes on disk only;
    // proving value-identity across codecs is exactly the guarantee
    // a storage-tier migration (snappy → zstd rewrite) relies on.
    "q242_codec_roundtrip" -> ((s, d) => {
      val src = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
      val frames = Seq("gzip", "snappy", "zstd").map { c =>
        val dir = scratch(d, s"codec_$c")
        src.write.mode("overwrite").option("compression", c).parquet(dir)
        s.read.parquet(dir)
          .filter(col("l_quantity") > 10)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("price"),
            max(col("l_orderkey")).as("max_key"))
          .withColumn("codec", lit(c))
      }
      frames.reduce(_.union(_))
        .orderBy(col("codec"), col("l_returnflag"))
    }),

    // XML round-trip: Spark 4's NATIVE xml file source (the spark-xml
    // package folded into core — rowTag element per record, task-
    // parallel writes, schema-applied reads). The read-back supplies
    // an explicit schema (XML carries no types; inference would land
    // o_orderkey as its own guess) and the aggregate oracle over the
    // original parquet proves the text encoding round-trips losslessly
    // — doubles survive because the writer emits the shortest decimal
    // repr, which parses back to the identical bits.
    "q230_xml_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "xml")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("o_day"))
        .write.mode("overwrite").option("rowTag", "order")
        .format("xml").save(dir)
      s.read.format("xml").option("rowTag", "order")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, o_day DATE")
        .load(dir)
        .filter(col("o_totalprice") > 1000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_day")).as("first_day"))
        .orderBy(col("o_orderstatus"))
    }),

    // range-partitioned + sorted parquet layout: repartitionByRange on
    // the scan key, sortWithinPartitions, write. Each output file then
    // covers a narrow contiguous key span, so a key-range predicate on
    // the read-back prunes whole files/row-groups from parquet min/max
    // stats — at 100 TB this (or bucketing) is what turns a full scan
    // into a touch of a few files. The oracle recomputes the aggregate
    // from the unsorted original, so the rewrite must be lossless.
    "q95_range_layout" -> ((s, d) => {
      val dir = scratch(d, "rangelayout")
      Tables.lineitem(s, d)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .filter(col("l_orderkey") < 1000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"),
          max(col("l_orderkey")).as("max_key"))
        .orderBy(col("l_returnflag"))
    }),

    // Z-order (Morton curve) multi-column layout: the 2-D complement
    // of q95's 1-D range layout. A sort on ONE key gives min/max
    // pruning on that key only; interleaving the bits of both keys'
    // 16-bit rank buckets makes file order follow the space-filling
    // curve, so EVERY file covers a small rectangle of the
    // (l_orderkey, l_partkey) plane and a predicate box on BOTH
    // columns prunes to the few files whose rectangle it intersects —
    // at 100 TB this is the difference between scanning one key-sorted
    // dimension's worth of files and touching a handful (the layout
    // Delta/Iceberg OPTIMIZE ZORDER productizes; here composed from
    // repartitionByRange + sortWithinPartitions on the z-value). The
    // z-value never leaves the write (dropped before the sink), so the
    // oracle checks the rewrite is lossless and the 2-D box filter
    // exact; SourcesSpec proves the locality (z-layout box touches
    // strictly fewer files than the arrival layout). Bucket bounds come
    // from one tiny min/max aggregate broadcast as a 1-row frame —
    // the same pattern as TF-IDF's corpus-size N, no driver collect.
    "q114_zorder_layout" -> ((s, d) => {
      val dir = scratch(d, "zorder")
      zordered(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 8)
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .filter(col("l_orderkey").between(100L, 2000L)
          && col("l_partkey").between(50L, 500L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("price"),
          max(col("l_orderkey")).as("max_ok"),
          max(col("l_partkey")).as("max_pk"))
        .orderBy(col("l_returnflag"))
    }),

    // Bucketed co-located join: both sides written through the catalog
    // with bucketBy(16, <join key>) + sortBy, so every file holds one
    // murmur3-hash bucket of the key space and the join reads matching
    // buckets side-by-side — ZERO shuffle exchange on either join input
    // (PlanShapeSpec pins that with broadcast disabled). At 100 TB this
    // is THE fact-to-fact join strategy: the shuffle is paid once at
    // write time and amortized over every subsequent join/aggregation
    // on the bucket key, instead of re-shuffling both tables per query.
    // The pre-write repartition(16, key) aligns tasks with buckets so
    // each bucket lands in exactly ONE file (no small-file fan-out, and
    // one-file-per-bucket is what lets the bucketed scan also satisfy
    // the sort order). The oracle recomputes the join+aggregate from
    // the original tables, so the bucketed rewrite must be lossless.
    "q116_bucketed_join" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val ot = s"q116_orders_$tag"
      val ct = s"q116_cust_$tag"
      // the in-memory catalog dies with the JVM but the managed table's
      // warehouse directory survives; a later session's overwrite-write
      // then refuses the "orphaned" location, so drop both catalog entry
      // and location first (what a real table-maintenance job does).
      Seq(ot, ct).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS `$t`")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
      }
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(16, col("o_custkey"))
        .write.mode("overwrite")
        .bucketBy(16, "o_custkey").sortBy("o_custkey")
        .saveAsTable(ot)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .repartition(16, col("c_custkey"))
        .write.mode("overwrite")
        .bucketBy(16, "c_custkey").sortBy("c_custkey")
        .saveAsTable(ct)
      s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // Parquet bloom-filter layout: point lookups on a high-cardinality
    // UNSORTED column are the one case min/max row-group stats can't
    // prune (every row group spans nearly the full key range), and
    // where a per-row-group split-block bloom filter prunes instead —
    // the footer records a bitset per row group, a pushed `id = k` / IN
    // probe tests it, and row groups that can't contain the key are
    // skipped without reading data pages. At 100 TB this turns "find
    // these 40 documents" from a full-column scan into a handful of
    // row-group reads. Written here with bloom enabled on doc_id in
    // arrival (unsorted) order; SourcesSpec asserts the footers carry a
    // bloom offset for doc_id and none for the un-enabled columns; the
    // IN-probe aggregate oracles against the original table.
    "q117_bloom_layout" -> ((s, d) => {
      val dir = scratch(d, "bloom")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "1000000")
        .parquet(dir)
      s.read.parquet(dir)
        .filter(col("doc_id").isin(3L, 97L, 211L, 405L, 1033L, 2048L,
          4097L, 8191L, 16384L, 32771L))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Sharded dataset export + integrity manifest — the packaging step
    // a training run consumes (WebDataset/TFRecord-style shard
    // layout): the corpus hash-routes into 8 shards (deterministic
    // md5-derived shard id, so the layout is reproducible across
    // engines and re-runs — never round-robin), lands partitioned on
    // disk via ONE repartition(shard) exchange (one file per shard
    // directory), and the manifest is computed FROM THE FILES READ
    // BACK: per-shard row count, payload bytes, and the q138
    // order-independent XOR checksum — so the manifest attests what's
    // on disk, not what was meant to be written. A loader can verify
    // any one shard in isolation; the oracle recomputes every manifest
    // row from the original table (routing + round-trip must be
    // lossless).
    "q142_shard_manifest" -> ((s, d) => {
      val dir = scratch(d, "shards")
      val shard = Text.md5Long(col("doc_id").cast("string"), 15) % 8
      val toWrite = Tables.documents(s, d).withColumn("shard", shard)
      toWrite.repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(dir)
      // explicit read-back schema (q81 rationale: an empty write has
      // nothing to infer from) — it also keeps the partition-dir
      // shard values LONG instead of the discovery default INT.
      s.read.schema(toWrite.schema).parquet(dir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          bit_xor(Text.md5Long(concat_ws("|", col("doc_id"),
            coalesce(col("lang"), lit("?")),
            coalesce(col("source"), lit("?"))), 15)).as("checksum"))
        .orderBy(col("shard"))
    }),

    // Small-file compaction: the operational complement of the layout
    // queries. A 100 TB ingest that lands 10^7 kilobyte-files (one per
    // micro-batch per key) poisons every downstream scan with per-file
    // open/footer cost and starves the scheduler; the fix is a periodic
    // rewrite that coalesces to target-sized files WITHOUT a driver
    // funnel (no coalesce(1)) and with a per-file row cap so no output
    // file exceeds the target either. Here: fragment documents into 64
    // shards (the pathological input, one file each), then compact via
    // the REBALANCE hint — AQE's runtime coalescing packs the shuffle
    // outputs to advisory-size partitions, splitting skewed ones —
    // capped by maxRecordsPerFile. SourcesSpec pins the file counts
    // (64 in, ≤8 out at the 500-doc scale, every file ≤ the cap); the
    // aggregate oracle proves the double rewrite is lossless.
    "q118_compaction" -> ((s, d) => {
      val frag = scratch(d, "frag")
      val compact = scratch(d, "compact")
      val src = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      src.repartition(64)
        .write.mode("overwrite").parquet(frag)
      // both re-reads use the writer's schema: no inference job (q81)
      s.read.schema(src.schema).parquet(frag)
        .hint("rebalance")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "2000")
        .parquet(compact)
      s.read.schema(src.schema).parquet(compact)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          count_distinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),

    // Schema evolution on append — the lakehouse reality that a 100 TB
    // table's schema is never final: generation 1 lands without a
    // column, generation 2 adds it (new ingest code), and readers must
    // see ONE unified schema with the old files NULL-filled, without
    // rewriting a byte of generation 1. Parquet supports this natively
    // (per-file footers + mergeSchema read); the writer appends — never
    // overwrites — and the unified read proves both generations
    // survive. The oracle rebuilds the same two-generation union from
    // the original table. A generation tag makes provenance explicit,
    // as a real ingest pipeline would carry.
    "q124_schema_evolution" -> ((s, d) => {
      val dir = scratch(d, "evolve")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), lit(1L).as("generation"))
        .write.mode("overwrite").parquet(dir)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), lit(2L).as("generation"),
          col("n_chars"))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("generation"))
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars"),
          count_distinct(col("lang")).as("n_langs"))
        .orderBy(col("generation"))
    }),

    // Arrow IPC round-trip through the DSV2 file source/sink — the
    // reference's from_arrow/to_arrow surface (dataframe.rs:391-407,
    // 515-525) as a cluster-shaped exchange: write task-parallel .arrow
    // files, read them back one input-partition per file. Exercises the
    // int64/string/timestamp/decimal lanes; correctness gate = the
    // round-tripped contents must equal the source table (DuckDB 1.0
    // has no IPC reader, so the oracle recomputes from parquet — same
    // contract as the CSV/JSON round-trips).
    "q215_arrow_roundtrip" -> ((s, d) => {
      val dir = scratch(d, "arrow")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("price_dec"),
          col("o_orderdate"))
        .write.format("graft.sources.ArrowIpcSource")
        .mode("overwrite").save(dir)
      s.read.format("graft.sources.ArrowIpcSource").load(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price_dec")).cast("decimal(18,2)").cast("double")
            .as("total"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // custom DataSource V2 SINK round-trip (MemTableSource): write
    // through the V2 batch-commit protocol (executor writers →
    // driver-side atomic commit, overwrite = truncate), read back
    // through its pruned scan, aggregate, oracle vs the parquet
    // original — proving writer and reader agree byte-for-byte.
    "q85_mem_sink_roundtrip" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .write.format("graft.sources.MemTableSource")
        .option("name", "q85_orders").mode("overwrite").save()
      s.read.format("graft.sources.MemTableSource")
        .option("name", "q85_orders").load()
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          count_distinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("o_orderstatus"))
    })
  )

  def oracle: Map[String, String] = Map(
    // manifest recomputed from the ORIGINAL table: same md5 routing,
    // same row digests — the disk round-trip must be lossless.
    "q142_shard_manifest" ->
      """SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 8 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  bit_xor(CAST(concat('0x', substring(md5(
        |    doc_id || '|' || coalesce(lang, '?') || '|'
        |    || coalesce(source, '?')), 1, 15)) AS BIGINT)) AS checksum
        |FROM documents
        |GROUP BY shard ORDER BY shard""".stripMargin,

    "q80_csv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice), 2) AS price,
        |  min(l_shipdate)::DATE AS min_ship,
        |  max(l_orderkey) AS max_key
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q81_json_roundtrip" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_len,
        |  min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q82_parquet_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderdate::DATE) AS first_date,
        |  max(o_orderdate::DATE) AS last_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q84_partitioned_write" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q215_arrow_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS total,
        |  min(o_orderdate) AS first_date,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q85_mem_sink_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q242_codec_roundtrip" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
        |    round(sum(l_extendedprice), 2) AS price,
        |    max(l_orderkey) AS max_key
        |  FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag),
        |c AS (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec)
        |SELECT l_returnflag, n, price, max_key, codec
        |FROM a, c ORDER BY codec, l_returnflag""".stripMargin,

    "q79_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS price,
        |  max(l_orderkey) AS max_key
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q230_xml_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(o_orderkey) AS max_key,
        |  min(CAST(o_orderdate AS DATE)) AS first_day
        |FROM orders WHERE o_totalprice > CAST(1000 AS DOUBLE)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q95_range_layout" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  max(l_orderkey) AS max_key
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the z-value is layout-only (dropped before the write), so the
    // oracle is the plain 2-D box aggregate over the original table —
    // any interleaving bug that drops/duplicates/mutates a row breaks
    // the hash.
    "q114_zorder_layout" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS price,
        |  max(l_orderkey) AS max_ok,
        |  max(l_partkey) AS max_pk
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 2000
        |  AND l_partkey BETWEEN 50 AND 500
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // layout-only rewrites: the oracle recomputes from the original
    // tables, so the bucketed/bloom/compacted copies must be lossless.
    "q116_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q117_bloom_layout" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 97, 211, 405, 1033, 2048, 4097, 8191,
        |  16384, 32771)
        |ORDER BY doc_id""".stripMargin,

    "q118_compaction" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // rebuilt two-generation union: gen 1 (even ids) has no n_chars
    // column, gen 2 (odd ids) does — the merged read must NULL-fill
    // gen 1 and keep gen 2 intact.
    "q124_schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, lang, CAST(1 AS BIGINT) AS generation,
        |    CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(2 AS BIGINT), n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT generation, count(*) AS n,
        |  count(n_chars) AS n_with_chars,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM u GROUP BY generation ORDER BY generation""".stripMargin,

    "q83_custom_source" ->
      """SELECT CAST(i % 97 AS INT) AS id_mod, count(*) AS n,
        |  CAST(sum(i) AS BIGINT) AS id_sum,
        |  max('r' || i) AS max_tag
        |FROM range(20000) t(i) WHERE i % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
