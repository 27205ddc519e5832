package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so every entrypoint (Verify, the
  * e2ebench client, tests) runs with identical semantics-affecting conf:
  *
  *   - `spark.sql.legacy.parquet.nanosAsLong` — events.ts shipped as
  *     parquet TIMESTAMP(NANOS) in earlier driver corpus generations;
  *     Spark rejects that type by default, the legacy flag maps it to
  *     LONG which [[Tables.events]] converts exactly. Harmless for the
  *     current µs-typed corpus (no NANOS column exists to remap), kept so
  *     either generation loads. Set here at build time, never mutated
  *     inside a query (shared-session hygiene).
  *   - UTC session timezone — the DuckDB oracle compares timestamps in
  *     UTC.
  *   - shuffle partitions = cores — local[N] has no reason for 200
  *     partitions; on a real cluster this is sized to executors × cores.
  *   - warehouse dir under target/tmp — bucketed tables (q116) go
  *     through `saveAsTable` on the in-memory catalog, and the default
  *     warehouse location would be ./spark-warehouse in the repo root.
  *   - AQE on (default in Spark 4, pinned explicitly): runtime coalescing
  *     of small shuffle partitions + skew-join splitting are the 100 TB
  *     safety nets for the join/agg queries.
  *   - parquet output timestamp type stays the INT96 default ON PURPOSE:
  *     INT96 reads tz-NAIVE on both comparator sides (pyarrow ns, DuckDB
  *     µs), matching the oracle's naive timestamps; TIMESTAMP_MICROS
  *     would be annotated isAdjustedToUTC=true and read tz-AWARE,
  *     breaking every timestamp-emitting query's hash compare (measured
  *     r11). The INT96→ns read means any emitted timestamp must stay
  *     inside pandas datetime64[ns] range (1677-09-21..2262-04-11) —
  *     values outside silently WRAP (the q120 r10 red row); sentinels use
  *     2200-01-01 and tools/dtype_check.py enforces the range.
  */
object Session {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/tmp/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Codegen class cache sized to the catalog (default 100): a
      // full-catalog run churns the default far past capacity between
      // two runs of the same query, so every re-run paid a full
      // driver-side Janino recompile (measured: q308 spent ~2.0 s of
      // single-threaded compile per evicted run, +1.3 s wall vs warm;
      // q261 +0.8 s) — pure fixed cost that cannot hide behind executor
      // parallelism. 2000 entries keeps every generated class of the
      // catalog warm; memory cost is bounded (generated classes are
      // small). The traced e2ebench run reports the compile time per op
      // as exec.codegen_compile_s.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
