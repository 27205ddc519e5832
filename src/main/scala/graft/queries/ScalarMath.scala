package graft.queries

import graft.{QueryModule, Tables}
import graft.ops.Parity.snap6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Math / trig / bitwise / conditional scalar functions (SURVEY.md §2.9).
  * Covers the reference's implemented set (functions/scalar.rs: add,
  * subtract, divide, multiply, abs, trig family, cbrt, ceil, floor,
  * degrees/radians, exp/expm1, log/log10/log2, hypot, round, sqrt,
  * signum) and the declared-stub catalogue (factorial, greatest/least,
  * when/coalesce/nanvl, bitwise/shift ops). Cot/sec/csc have no Spark
  * builtin → compositions (expression.rs:661-673).
  *
  * Exact ops (abs/ceil/floor/arithmetic/bitwise) are emitted raw —
  * bit-identical across engines. Transcendentals (libm differs in the
  * last ulp between JVM and DuckDB) are snapped to 6 decimals on both
  * sides via [[graft.ops.Parity.snap6]] — floor(x·1e6 + 0.5)/1e6 in
  * pure double ops — rather than `round(_, 6)`: Spark's Round on
  * DoubleType goes through BigDecimal per row (~6 s over 600 k rows ×
  * 15 columns at sf0.1),
  * while the floor form stays inside whole-stage codegen and both
  * engines execute the identical IEEE-754 multiply/add/floor sequence.
  * The transcendental INPUT itself (exp/sin/…) can differ by a last
  * ulp between JVM and DuckDB libm, so the snap absorbs ulp noise
  * everywhere except exactly at a snap boundary — the corpus is
  * verified boundary-free by the oracle hash match (same inherent
  * risk class as round(_, 6), not a regression). Everything is
  * whole-stage-codegen-friendly: pure `functions._` columns, no UDFs.
  */
object ScalarMath extends QueryModule {

  /** Round-14 shape shared by the whole scalar-expression family:
    * sort the NARROW input first, derive the wide expression payload
    * AFTER the range exchange (guide §2.3 "project before the
    * exchange"). The final `orderBy` is a global sort whose
    * RangePartitioning exchange previously carried every derived
    * column (q50: 23 output columns, 59.4 MB shuffled at sf0.1 for a
    * 6-input-column frame); deriving after the sort shuffles only the
    * source columns and computes the expressions post-exchange, where
    * they stay in the same whole-stage-codegen span as the sort's
    * output. Row content and order are byte-identical: the sort keys
    * (l_orderkey, l_linenumber) are the lineitem primary key, so the
    * total order never depended on the derived columns. Catalyst has
    * no project-through-sort rule in either direction, so the written
    * shape is the planned shape (plans/r14/q50_math_{before,after}).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_math" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_tax"), col("l_quantity"),
          col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") + col("l_tax")).as("f_add"),
          (col("l_extendedprice") - col("l_discount")).as("f_sub"),
          (col("l_quantity") * col("l_discount")).as("f_mul"),
          (col("l_extendedprice") / col("l_quantity")).as("f_div"),
          abs(col("l_discount") - lit(0.05)).as("f_abs"),
          ceil(col("l_extendedprice") / 100).as("f_ceil"),
          floor(col("l_extendedprice") / 100).as("f_floor"),
          sqrt(col("l_quantity")).as("f_sqrt"),
          snap6(exp(col("l_discount"))).as("f_exp"),
          snap6(expm1(col("l_discount"))).as("f_expm1"),
          snap6(log(col("l_extendedprice"))).as("f_ln"),
          snap6(log10(col("l_extendedprice"))).as("f_log10"),
          snap6(log2(col("l_quantity"))).as("f_log2"),
          snap6(log(2.0, col("l_quantity"))).as("f_logb"),
          snap6(cbrt(col("l_quantity"))).as("f_cbrt"),
          snap6(hypot(col("l_quantity"), col("l_linenumber"))).as("f_hypot"),
          snap6(pow(col("l_quantity"), lit(1.5))).as("f_pow"),
          signum(col("l_discount") - lit(0.05)).as("f_sign"),
          factorial(col("l_linenumber")).as("f_factorial"),
          greatest(col("l_quantity"), col("l_linenumber") * 10).as("f_greatest"),
          least(col("l_quantity"), col("l_linenumber") * 10).as("f_least"),
          pmod(col("l_orderkey"), lit(7L)).as("f_pmod"))),

    "q51_trig" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_discount"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .withColumn("x", col("l_discount") * 10) // 0..1
        .withColumn("y", col("l_quantity") / 50) // 0.02..1
        .select(
          col("l_orderkey"), col("l_linenumber"),
          snap6(sin(col("x"))).as("f_sin"),
          snap6(cos(col("x"))).as("f_cos"),
          snap6(tan(col("x"))).as("f_tan"),
          snap6(asin(col("y"))).as("f_asin"),
          snap6(acos(col("y"))).as("f_acos"),
          snap6(atan(col("x"))).as("f_atan"),
          snap6(atan2(col("y"), col("x") + 1)).as("f_atan2"),
          snap6(sinh(col("x"))).as("f_sinh"),
          snap6(cosh(col("x"))).as("f_cosh"),
          snap6(tanh(col("x"))).as("f_tanh"),
          snap6(degrees(col("x"))).as("f_degrees"),
          snap6(radians(col("l_quantity"))).as("f_radians"),
          // cot/sec/csc: reference plan IR names with no Spark builtin —
          // compositions (SURVEY.md §2.9).
          snap6(lit(1.0) / tan(col("x") + 1)).as("f_cot"),
          snap6(lit(1.0) / cos(col("x"))).as("f_sec"),
          snap6(lit(1.0) / sin(col("x") + 1)).as("f_csc"))),

    // rounding-mode catalogue on ties constructed to be exact in binary
    // (n + 0.5 is exactly representable): round is HALF_UP (ties away
    // from zero on Spark's shortest-decimal repr), bround/rint are
    // HALF_EVEN. DuckDB round is half-away-from-zero — identical to
    // HALF_UP on these exact ties — and the HALF_EVEN columns get an
    // explicit parity CASE in the oracle. Scale-rounding is exercised
    // only where ties are exact (integer tens), never on .xx5 cent
    // values whose shortest-decimal vs binary reprs disagree.
    "q50b_round_modes" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .withColumn("x", col("l_quantity") + 0.5)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("x"),
          round(col("x")).as("r_up"),
          round(-col("x")).as("r_up_neg"),
          bround(col("x")).as("r_even"),
          bround(-col("x")).as("r_even_neg"),
          rint(col("x")).as("r_rint"),
          rint(col("l_extendedprice")).as("r_rint_price"),
          round(col("l_extendedprice"), -1).as("r_tens"),
          round(col("l_extendedprice"), -2).as("r_hundreds"))),

    // ANSI-safe try_* family: errors become NULLs instead of failed
    // jobs — at 100 TB one malformed row must not kill a stage.
    // Failure rows are deliberately RARE (~1-14%): Spark's TryEval
    // catches a thrown ArithmeticException/parse exception per failing
    // row, and an every-row failure construction costs ~100× the happy
    // path (an earlier draft overflowing on all 600k rows ran 60 s).
    // DuckDB's default semantics already NULL division-by-zero and has
    // TRY_CAST; overflow (which DuckDB raises on) is oracled through
    // HUGEINT arithmetic + TRY_CAST back to BIGINT.
    "q50c_try_family" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, l_linenumber - 1)").as("t_div"),
          expr("try_divide(l_orderkey, l_orderkey % 3)").as("t_div_int"),
          // numeric for 99% of rows; 'x' suffix poisons orderkey%100=99.
          expr("""try_cast(concat(l_orderkey % 100,
            CASE WHEN l_orderkey % 100 = 99 THEN 'x' ELSE '' END) AS INT)""")
            .as("t_cast_bad"),
          expr("try_cast(concat(l_orderkey, '') AS BIGINT)").as("t_cast_ok"),
          // data-dependent month: 02..14, invalid (null) only for
          // linenumber 7 — a CONSTANT bad date here would defeat the
          // rare-failure rule: the try blocks constant folding, so the
          // parse exception would be re-thrown for every row (~5 s/600k).
          expr("""try_cast(concat('2024-',
            lpad(cast(l_linenumber * 2 as string), 2, '0'), '-01') AS DATE)""")
            .as("t_cast_date"),
          // max-98 + (-892..107): addend 98 lands exactly on Long.Max,
          // so it overflows only at %1000 ∈ {991..999}, ~0.9%.
          // Each overflow throws (addExact) and TryEval catches per row:
          // at a 10% rate these two columns cost ~5 s over 600 k rows,
          // at ~1% they are noise — overflow must be the exception, not
          // a mode.
          expr("try_add(9223372036854775709, l_orderkey % 1000 - 892)")
            .as("t_add_ovf"),
          expr("try_add(l_orderkey, 1)").as("t_add_ok"),
          // ~max/6 × factor 7 only when %500 = 0 (0.2% of rows).
          expr("""try_multiply(1537228672809129301,
            cast(CASE WHEN l_orderkey % 500 = 0 THEN 7 ELSE 1 END as bigint))""")
            .as("t_mul_ovf"),
          expr("try_element_at(array(l_returnflag), 10)").as("t_elem_oob"))),

    "q57_conditional" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_discount"), col("l_tax"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .withColumn("d_null", nullif(col("l_discount"), lit(0.0)))
        .withColumn("d_nan",
          when(col("l_discount") === 0.0, lit(Double.NaN)).otherwise(col("l_discount")))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") > 25, "big").otherwise("small").as("c_when"),
          coalesce(col("d_null"), col("l_tax"), lit(-1.0)).as("c_coalesce"),
          col("d_null").isNull.as("c_isnull"),
          col("d_null").isNotNull.as("c_isnotnull"),
          isnan(col("d_nan")).as("c_isnan"),
          nanvl(col("d_nan"), lit(-1.0)).as("c_nanvl"),
          nvl(col("d_null"), lit(9.9)).as("c_nvl"),
          nvl2(col("d_null"), lit("has"), lit("none")).as("c_nvl2"))),

    "q59_bitwise" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          shiftleft(col("l_linenumber"), 2).as("b_shl"),
          shiftright(col("l_orderkey"), 2).as("b_shr"),
          shiftrightunsigned(col("l_orderkey"), 2).as("b_shru"),
          bitwise_not(col("l_linenumber")).as("b_not"),
          (col("l_orderkey").bitwiseAND(255)).as("b_and"),
          (col("l_linenumber").bitwiseOR(8)).as("b_or"),
          (col("l_orderkey").bitwiseXOR(col("l_linenumber"))).as("b_xor"),
          bit_count(col("l_orderkey")).as("b_popcnt")))
  )

  def oracle: Map[String, String] = Map(
    "q50_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice + l_tax AS f_add,
        |  l_extendedprice - l_discount AS f_sub,
        |  l_quantity * l_discount AS f_mul,
        |  l_extendedprice / l_quantity AS f_div,
        |  abs(l_discount - 0.05) AS f_abs,
        |  CAST(ceil(l_extendedprice / 100) AS BIGINT) AS f_ceil,
        |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS f_floor,
        |  sqrt(l_quantity) AS f_sqrt,
        |  floor((exp(l_discount)) * 1000000 + 0.5) / 1000000 AS f_exp,
        |  floor((exp(l_discount) - 1) * 1000000 + 0.5) / 1000000 AS f_expm1,
        |  floor((ln(l_extendedprice)) * 1000000 + 0.5) / 1000000 AS f_ln,
        |  floor((log10(l_extendedprice)) * 1000000 + 0.5) / 1000000 AS f_log10,
        |  floor((log2(l_quantity)) * 1000000 + 0.5) / 1000000 AS f_log2,
        |  floor((log(2.0, l_quantity)) * 1000000 + 0.5) / 1000000 AS f_logb,
        |  floor((cbrt(l_quantity)) * 1000000 + 0.5) / 1000000 AS f_cbrt,
        |  floor((sqrt(l_quantity * l_quantity + l_linenumber * l_linenumber)) * 1000000 + 0.5) / 1000000 AS f_hypot,
        |  floor((pow(l_quantity, 1.5)) * 1000000 + 0.5) / 1000000 AS f_pow,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS f_sign,
        |  CAST(factorial(l_linenumber) AS BIGINT) AS f_factorial,
        |  greatest(l_quantity, l_linenumber * 10) AS f_greatest,
        |  least(l_quantity, l_linenumber * 10) AS f_least,
        |  l_orderkey % 7 AS f_pmod
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q51_trig" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor((sin(x)) * 1000000 + 0.5) / 1000000 AS f_sin, floor((cos(x)) * 1000000 + 0.5) / 1000000 AS f_cos,
        |  floor((tan(x)) * 1000000 + 0.5) / 1000000 AS f_tan,
        |  floor((asin(y)) * 1000000 + 0.5) / 1000000 AS f_asin, floor((acos(y)) * 1000000 + 0.5) / 1000000 AS f_acos,
        |  floor((atan(x)) * 1000000 + 0.5) / 1000000 AS f_atan,
        |  floor((atan2(y, x + 1)) * 1000000 + 0.5) / 1000000 AS f_atan2,
        |  floor(((exp(x) - exp(-x)) / 2) * 1000000 + 0.5) / 1000000 AS f_sinh,
        |  floor(((exp(x) + exp(-x)) / 2) * 1000000 + 0.5) / 1000000 AS f_cosh,
        |  floor(((exp(x) - exp(-x)) / (exp(x) + exp(-x))) * 1000000 + 0.5) / 1000000 AS f_tanh,
        |  floor((degrees(x)) * 1000000 + 0.5) / 1000000 AS f_degrees,
        |  floor((radians(l_quantity)) * 1000000 + 0.5) / 1000000 AS f_radians,
        |  floor((1.0 / tan(x + 1)) * 1000000 + 0.5) / 1000000 AS f_cot,
        |  floor((1.0 / cos(x)) * 1000000 + 0.5) / 1000000 AS f_sec,
        |  floor((1.0 / sin(x + 1)) * 1000000 + 0.5) / 1000000 AS f_csc
        |FROM (SELECT *, l_discount * 10 AS x, l_quantity / 50 AS y FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q50b_round_modes" ->
      """WITH t AS (SELECT *, l_quantity + 0.5 AS x FROM lineitem)
        |SELECT l_orderkey, l_linenumber, x,
        |  round(x) AS r_up,
        |  round(-x) AS r_up_neg,
        |  CASE WHEN CAST(x - 0.5 AS BIGINT) % 2 = 0 THEN x - 0.5 ELSE x + 0.5 END
        |    AS r_even,
        |  -(CASE WHEN CAST(x - 0.5 AS BIGINT) % 2 = 0 THEN x - 0.5 ELSE x + 0.5 END)
        |    AS r_even_neg,
        |  CASE WHEN CAST(x - 0.5 AS BIGINT) % 2 = 0 THEN x - 0.5 ELSE x + 0.5 END
        |    AS r_rint,
        |  CASE WHEN l_extendedprice - floor(l_extendedprice) = 0.5
        |    THEN (CASE WHEN CAST(floor(l_extendedprice) AS BIGINT) % 2 = 0
        |          THEN floor(l_extendedprice) ELSE ceil(l_extendedprice) END)
        |    ELSE round(l_extendedprice) END AS r_rint_price,
        |  round(l_extendedprice, -1) AS r_tens,
        |  round(l_extendedprice, -2) AS r_hundreds
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q50c_try_family" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice / (l_linenumber - 1) AS t_div,
        |  l_orderkey / (l_orderkey % 3) AS t_div_int,
        |  TRY_CAST(CAST(l_orderkey % 100 AS VARCHAR)
        |    || (CASE WHEN l_orderkey % 100 = 99 THEN 'x' ELSE '' END)
        |    AS INTEGER) AS t_cast_bad,
        |  TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS t_cast_ok,
        |  TRY_CAST(concat('2024-',
        |    lpad(CAST(l_linenumber * 2 AS VARCHAR), 2, '0'), '-01') AS DATE)
        |    AS t_cast_date,
        |  TRY_CAST(CAST(9223372036854775709 AS HUGEINT)
        |    + (l_orderkey % 1000 - 892) AS BIGINT) AS t_add_ovf,
        |  l_orderkey + 1 AS t_add_ok,
        |  TRY_CAST(CAST(1537228672809129301 AS HUGEINT)
        |    * (CASE WHEN l_orderkey % 500 = 0 THEN 7 ELSE 1 END)
        |    AS BIGINT) AS t_mul_ovf,
        |  [l_returnflag][10] AS t_elem_oob
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q57_conditional" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS c_when,
        |  coalesce(d_null, l_tax, -1.0) AS c_coalesce,
        |  d_null IS NULL AS c_isnull,
        |  d_null IS NOT NULL AS c_isnotnull,
        |  isnan(d_nan) AS c_isnan,
        |  CASE WHEN isnan(d_nan) THEN -1.0 ELSE d_nan END AS c_nanvl,
        |  ifnull(d_null, 9.9) AS c_nvl,
        |  CASE WHEN d_null IS NOT NULL THEN 'has' ELSE 'none' END AS c_nvl2
        |FROM (SELECT *, nullif(l_discount, 0.0) AS d_null,
        |  CASE WHEN l_discount = 0.0 THEN 'nan'::DOUBLE ELSE l_discount END AS d_nan
        |  FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q59_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_linenumber << 2 AS b_shl,
        |  l_orderkey >> 2 AS b_shr,
        |  l_orderkey >> 2 AS b_shru,
        |  ~l_linenumber AS b_not,
        |  l_orderkey & 255 AS b_and,
        |  l_linenumber | 8 AS b_or,
        |  xor(l_orderkey, l_linenumber) AS b_xor,
        |  bit_count(l_orderkey) AS b_popcnt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
