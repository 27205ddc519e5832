package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The catalog's one MinHash family, replayable bit for bit in DuckDB:
  * 16 permutations `p`, each the 12-hex-nibble md5 prefix of the
  * string `p ":" e` over a set's elements `e`, minimized per set.
  * Min is commutative, so a signature merges across shards and
  * partitions by element-wise min.
  *
  * Used by q61 (and so `Frame.dedupMinhashLsh`), q258, q271 and q281.
  * DuckDB twin (q271's oracle CTE):
  * {{{
  * list_transform(range(0, 16), j -> list_min(list_transform(set, e ->
  *   ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
  *     || CAST(e AS VARCHAR)), 1, 12))::BIGINT)))
  * }}}
  */
object MinHash {

  /** The signature as rows `(keys…, p, sig)`, one per set and
    * permutation `p` in 0..15: `sig = min over elem of md5Long(p ":"
    * elem, 12)`. The input holds one row per (set, element); repeated
    * elements do not change the min. Hashing runs per exploded row,
    * where `graft_md5_long` stays codegen'd, and the (keys, p)
    * aggregate combines map-side.
    */
  def sigRows(df: DataFrame, keys: Seq[String], elem: String): DataFrame = {
    val k = keys.map(col)
    df.select(k ++ Seq(col(elem),
        explode(sequence(lit(0), lit(15))).as("p")): _*)
      .select(k ++ Seq(col("p"), Text.md5Long(concat(
        col("p").cast("string"), lit(":"), col(elem).cast("string")),
        12).as("hv")): _*)
      .groupBy(k :+ col("p"): _*)
      .agg(min(col("hv")).as("sig"))
  }

  /** LSH band keys `(doc_id, bands, band, key)` from [[sigRows]] keyed
    * by `doc_id`, for each `(bands, rows)` scheme with bands × rows =
    * 16: band `b` holds permutations `b·rows … b·rows + rows − 1`, and
    * its key is their sigs joined by `|` in `p` order — the oracle's
    * `array_to_string(sig[band * r + 1 : band * r + r], '|')`.
    */
  def bandKeys(sig: DataFrame, schemes: Seq[(Int, Int)]): DataFrame =
    sig
      .select(col("doc_id"), col("p"), col("sig"), explode(array(
        schemes.map { case (b, r) =>
          struct(lit(b).as("bands"), (col("p") / r).cast("int").as("band"))
        }: _*)).as("sc"))
      .groupBy(col("doc_id"), col("sc.bands").as("bands"),
        col("sc.band").as("band"))
      .agg(concat_ws("|", transform(array_sort(collect_list(
        struct(col("p"), col("sig")))), x =>
        x.getField("sig").cast("string"))).as("key"))

  /** Distinct candidate pairs `(bands, doc_a, doc_b)`, `doc_a < doc_b`:
    * two documents meet iff some band of the same scheme has equal
    * keys. Only the narrow band rows cross the self-join; callers
    * attach payloads (shingle sets) to the distinct pairs afterwards.
    */
  def candidates(banded: DataFrame): DataFrame = {
    def x(c: String): Column = col(s"x.$c")
    def y(c: String): Column = col(s"y.$c")
    banded.as("x").join(banded.as("y"),
        x("bands") === y("bands") && x("band") === y("band") &&
          x("key") === y("key") && x("doc_id") < y("doc_id"))
      .select(x("bands").as("bands"),
        x("doc_id").as("doc_a"), y("doc_id").as("doc_b"))
      .distinct()
  }
}
