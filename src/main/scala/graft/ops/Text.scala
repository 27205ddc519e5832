package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField,
  StructType}

/** Shared text-normalization columns for the LLM-pipeline operators.
  * Every expression here must have an exact DuckDB twin (the oracle SQL
  * spells the same normalization), so: plain `functions._` only, no UDFs,
  * and all arithmetic over exact integers until the final division.
  */
object Text {

  /** Whitespace-collapsed, trimmed, lowercased text. DuckDB twin:
    * `lower(trim(regexp_replace(text, '\s+', ' ', 'g')))`.
    */
  def norm(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Word tokens of the normalized text. */
  def words(text: Column): Column = split(norm(text), " ")

  /** The term stream of `df`'s `text` column: `(keys…, term)` rows, one
    * per non-empty token of [[words]], repeats kept. The one place NULL,
    * empty and whitespace-only text shed: NULL text explodes to a NULL
    * term and blank text to the single '' token, and the filter drops
    * both, as the oracle's `WHERE term <> ''` does. explode_OUTER: plain
    * explode lets InferFiltersFromGenerate push size()/isnotnull
    * predicates below the projection, and they re-expand the words
    * alias (see [[Curation.decontaminate]]).
    */
  def terms(df: DataFrame, keys: Column*): DataFrame =
    df.select(keys :+ explode_outer(words(col("text"))).as("term"): _*)
      .filter(col("term") =!= "")

  /** [[terms]] counted per `(keys…, term)`, in column `tf`. */
  def termCounts(df: DataFrame, keys: Column*): DataFrame = {
    val t = terms(df, keys: _*)
    t.groupBy(t.columns.toSeq.map(col): _*).agg(count(lit(1)).as("tf"))
  }

  /** The `n` words starting at each position 1 … size(ws) − n + 1, passed
    * to `gram`; an empty array (of `gramType`) when `size(ws) < n`, so
    * no caller needs a size guard. 1-based `element_at` mirrors DuckDB's
    * 1-based list indexing. `ws` is re-read per window word, so pass a
    * column reference, never an inline [[words]] (see q241).
    */
  private def windows(ws: Column, n: Int, gramType: DataType)(
      gram: Seq[Column] => Column): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)), i =>
        gram((0 until n).map(k => element_at(ws, if (k == 0) i else i + k)))))
      // elements non-null, as transform's are: a nullable gram would
      // let the optimizer infer isnotnull filters downstream
      .otherwise(array().cast(ArrayType(gramType, containsNull = false)))

  /** The ordered `n`-word strings (space-joined) of a words column. */
  def ngrams(ws: Column, n: Int): Column =
    windows(ws, n, StringType)(concat_ws(" ", _: _*))

  /** [[ngrams]] as structs `(w1, …, wn)`: a join or group key that
    * hashes the word pointers instead of building the joined string.
    */
  def wordTuples(ws: Column, n: Int): Column = {
    val fields = (1 to n).map(k => s"w$k")
    windows(ws, n, StructType(fields.map(StructField(_, StringType))))(
      g => struct(g.zip(fields).map { case (w, f) => w.as(f) }: _*))
  }

  /** Distinct 3-word shingles. */
  def shingles3(wordsCol: Column): Column = array_distinct(ngrams(wordsCol, 3))

  /** The catalog's seeded-hash idiom
    * `conv(substring(md5(c), 1, k), 16, 10).cast("long")` via the
    * native [[graft.plans.Md5PrefixLong]] kernel — bit-identical value
    * (first k hex nibbles of the digest as an exact long, k ≤ 15), one
    * digest pass, zero intermediate strings. The DuckDB oracle twin
    * stays `('0x' || substr(md5(c), 1, k))::BIGINT`.
    */
  def md5Long(c: Column, k: Int): Column = {
    require(k >= 1 && k <= 15, s"md5Long k must be in [1,15], got $k")
    call_function("graft_md5_long", c, lit(k))
  }

  /** Exact Jaccard numerator/denominator over two distinct-element
    * arrays: (|A∩B|, |A|+|B|-|A∩B|) as integer columns — threshold
    * comparisons stay in exact integer cross-multiplication.
    */
  def jaccardParts(a: Column, b: Column): (Column, Column) = {
    val inter = size(array_intersect(a, b))
    (inter, size(a) + size(b) - inter)
  }
}
