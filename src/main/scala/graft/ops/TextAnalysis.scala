package graft.ops

import graft.{QueryModule, Tables}
import graft.ops.Parity.{dec, dec19, fix6, lm, ln6, snap6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder brief):
  * token statistics, quality signals, n-gram-heuristic language ID, and
  * document fingerprinting. All per-row expressions (zero shuffles before
  * the final orderBy) and all exact-integer arithmetic until the last
  * division, so every query is bit-exact against its DuckDB oracle.
  */
object TextAnalysis extends QueryModule {

  /** Tiny per-language stopword profiles for the ID heuristic. Real
    * pipelines use char-n-gram models; the operator shape (N profile
    * scores → argmax with deterministic tie-break) is identical.
    */
  private val profiles = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "y", "que", "una", "por"),
    "fr" -> Seq("le", "les", "et", "des", "une", "dans", "pour"))

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Each profile's stopword hit count over the `wrds` column, in
    * `profiles` order. */
  private def langHits: Seq[Column] = profiles.map { case (_, ws) =>
    expr(s"CAST(size(filter(wrds, w -> w IN ${inList(ws)})) AS LONG)")
  }

  /** The language-ID argmax over `hits` with the fixed tie-break
    * en > de > es > fr, and "und" when no profile word occurs. */
  private def predLang(hits: Seq[Column] = langHits): Column = {
    val Seq(en, de, es, fr) = hits
    val best = greatest(en, de, es, fr)
    when(best === 0, "und")
      .when(en === best, "en").when(de === best, "de")
      .when(es === best, "es").otherwise("fr")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Calibration curve + expected calibration error for a cheap
    // quality classifier — the eval-side readout every learned data
    // filter needs before its scores gate a corpus (a mis-calibrated
    // 0.9 is not a 90% keep probability). Predictor = distinct-WORD
    // ratio (the cheap signal); gold = the Gopher-style BIGRAM
    // repetition gate (≥90% unique bigrams — the expensive signal a
    // cheap score stands in for) — correlated, deliberately not
    // identical, so the curve has spread. The per-doc score is snapped to EXACT
    // MICRO-UNITS (a long), so per-bin confidence is an exact-long
    // sum ÷ count — no order-sensitive double folds anywhere;
    // accuracy is exact positives ÷ count; ECE is the ≤10-term
    // weighted gap sum, snapped (q222 recipe). Scale shape: ONE
    // corpus pass of per-row flags map-side-combined to the 10-bin
    // frame; windows run over bins only.
    "q241_calibration" -> ((s, d) => {
      // split ONCE into an alias — the q58b single-parse discipline:
      // inlining Text.words(text) into every derived column re-runs
      // the regex+split per reference in the INTERPRETED projection
      // (the transform HOF keeps this off the codegen/CSE path) —
      // measured 7.5 s → 0.8 s at sf0.1 for this exact query.
      val scored = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .withColumn("n_words", size(col("ws")).cast("long"))
        .withColumn("n_distinct",
          size(array_distinct(col("ws"))).cast("long"))
        .withColumn("n_big_distinct",
          size(array_distinct(Text.ngrams(col("ws"), 2))).cast("long"))
        .filter(col("n_words") >= 2)
        .withColumn("gold",
          col("n_big_distinct") * 10 >= (col("n_words") - 1L) * 9)
        .withColumn("score_micro",
          fix6(col("n_distinct").cast("double")
            / col("n_words").cast("double")))
        .withColumn("bin",
          least(expr("score_micro DIV 100000"), lit(9L)))
      val bins = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score_micro")).as("sum_micro"),
          sum(when(col("gold"), 1L).otherwise(0L)).as("n_pos"))
      val wAll = Window.partitionBy()
      bins
        .withColumn("n_total", sum(col("n_docs")).over(wAll))
        .withColumn("conf", col("sum_micro").cast("double")
          / col("n_docs").cast("double") / lit(1e6))
        .withColumn("acc", col("n_pos").cast("double")
          / col("n_docs").cast("double"))
        .withColumn("gap", abs(col("acc") - col("conf")))
        .withColumn("ece", snap6(sum(
          col("n_docs").cast("double") / col("n_total").cast("double")
            * col("gap")).over(wAll)))
        .select(col("bin"), col("n_docs"), col("conf"), col("acc"),
          col("gap"), col("ece"))
        .orderBy(col("bin"))
    }),
    // Hashed-feature linear classifier inference — the fastText-style
    // quality filter every production corpus runs at ingest, reduced
    // to its serving shape: V=256 hashed unigram buckets (shared-md5
    // recipe, never engine hashes) and a fixed deterministic integer
    // weight table w_b = (b·37 + 11) mod 201 − 100 ∈ [−100, 100]
    // standing in for trained weights — bucket→weight is a generated
    // arithmetic expression, so inference needs no join, no broadcast
    // table, no UDF. The document score accumulates in EXACT LONG
    // weight units inside one HOF fold (a single md5 per token) and
    // the keep decision is a pure integer sign test; the only doubles
    // are the two final divisions, spelled identically in the oracle.
    // Scale shape: ZERO shuffles — pure map-side inference; a 100 TB
    // corpus scores at scan speed (the orderBy is presentation only).
    "q250_quality_classifier" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .withColumn("n_tokens", size(col("ws")).cast("long"))
        .withColumn("score_int",
          aggregate(col("ws"), lit(0L), (acc, w) =>
            acc + ((pmod(Text.md5Long(w, 8), lit(256L))
              * 37L + 11L) % 201L - 100L)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("score_int"),
          (col("score_int").cast("double")
            / col("n_tokens").cast("double") / lit(100.0)).as("score"),
          (col("score_int") >= 0L).as("keep"))
        .orderBy(col("doc_id"))),

    // Per-document Shannon entropy of the word distribution — the
    // information-theoretic upgrade of q64's type/token ratio and the
    // gibberish/repetition detector (low normalized entropy = a few
    // words dominate; H is what boilerplate and keyboard-mash both
    // fail). Deliberately ZERO-shuffle: a per-doc statistic must not
    // pay a corpus exchange, so the word histogram is computed inside
    // the row (distinct words → per-word count via a filter HOF over
    // the ≤|doc| array; V·n ops per doc, embarrassingly parallel at
    // any corpus size) instead of the explode→groupBy shape a naive
    // build would shuffle. Determinism: counts are exact ints; each
    // c·ln c term is snapped, the ≤V-term sum snapped (q222 recipe),
    // H and H/ln n formed by single divisions of identical doubles.
    "q251_word_entropy" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .withColumn("n_tokens", size(col("ws")).cast("long"))
        .withColumn("dw", array_distinct(col("ws")))
        .withColumn("n_types", size(col("dw")).cast("long"))
        .withColumn("sum_clnc", snap6(aggregate(
          transform(col("dw"), w =>
            size(filter(col("ws"), e => e === w)).cast("double")),
          lit(0.0), (acc, c) => acc + c * snap6(log(c)))))
        .filter(col("n_tokens") >= 2L)
        .withColumn("entropy", snap6(snap6(log(col("n_tokens")
          .cast("double")))
          - col("sum_clnc") / col("n_tokens").cast("double")))
        .withColumn("norm_entropy", snap6(col("entropy")
          / snap6(log(col("n_tokens").cast("double")))))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          col("entropy"), col("norm_entropy"),
          (col("norm_entropy") < 0.8).as("repetitive"))
        .orderBy(col("doc_id"))
    }),

    // Rényi entropy spectrum per language — q251 measures ONE point
    // (Shannon, per doc); the spectrum {H₀ Hartley, H₁ Shannon,
    // H₂ collision, H∞ min-entropy} over the corpus-level unigram
    // distribution is the tokenizer/vocab design readout (H₀ = raw
    // vocab size, H₂ = how collision-prone hashing that vocab is,
    // H∞ = the head token's dominance; all in nats, H₀ ≥ H₁ ≥ H₂ ≥ H∞
    // by Jensen — an output-checkable invariant). EXACT recipe, no
    // order-sensitive float folds: H₂ = 2lnN − ln(Σc²) and
    // H∞ = lnN − ln(c_max) take ln of exact integers (snapped);
    // Shannon's Σ c·ln c folds as Σ c·µ(ln c) — an exact DECIMAL sum
    // of micro-nat longs (the q291 recipe), divided once. Scale shape:
    // one tokenize pass map-side-combines to (lang, word) counts; the
    // spectrum folds that frame per language.
    "q314_renyi_spectrum" -> ((s, d) => {
      val cnt = Text.termCounts(Tables.documents(s, d), col("lang"))
      cnt.groupBy(col("lang"))
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(dec(col("tf")) * dec(col("tf"))).as("sum_c2"),
          max(col("tf")).as("c_max"),
          sum(dec(col("tf")) * dec(ln6(col("tf")))).as("sum_cmu"))
        .withColumn("ln_n", snap6(log(col("n_tokens").cast("double"))))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          snap6(log(col("n_types").cast("double"))).as("h0_hartley"),
          snap6(col("ln_n")
            - col("sum_cmu").cast("double") / 1e6
              / col("n_tokens").cast("double")).as("h1_shannon"),
          snap6(lit(2.0) * col("ln_n")
            - snap6(log(col("sum_c2").cast("double")))).as("h2_collision"),
          snap6(col("ln_n") - snap6(log(col("c_max").cast("double"))))
            .as("h_inf_min"))
        .orderBy(col("lang"))
    }),

    // Good-Turing frequency ladder per language — the LM-smoothing
    // mass estimate q255's Kneser-Ney takes as given: from
    // counts-of-counts N_r (how many word types occur exactly r
    // times), the unseen-mass estimate p₀ = N₁/N and the GT adjusted
    // count r* = (r+1)·N_{r+1}/N_r for the low-r ladder (r ≤ 10, where
    // GT applies; higher r keeps raw counts). All exact integer ratios
    // with single divisions; a missing N_{r+1} rung yields NULL r*
    // identically in both engines (NULL, never an error). Scale
    // shape: tokenize → (lang, word) counts → (lang, r) ladder —
    // ≤|langs|·|distinct r| rows; the r+1 lookup is a self-join on
    // that bounded ladder, never on corpus rows.
    "q315_good_turing" -> ((s, d) => {
      val cnt = Text.termCounts(Tables.documents(s, d), col("lang"))
      val ladder = cnt.groupBy(col("lang"), col("tf").as("r"))
        .agg(count(lit(1)).as("n_r"))
      val wLang = Window.partitionBy(col("lang"))
      val up = ladder.select(col("lang").as("lang2"),
        (col("r") - 1L).as("r2"), col("n_r").as("n_r1"))
      ladder
        .withColumn("n_tokens", sum(col("r") * col("n_r")).over(wLang))
        .withColumn("n_1",
          max(when(col("r") === 1L, col("n_r"))).over(wLang))
        .join(up, col("lang") === col("lang2") && col("r") === col("r2"),
          "left")
        .filter(col("r") <= 10L)
        .select(col("lang"), col("r"), col("n_r"),
          snap6((col("r") + 1L).cast("double") * col("n_r1").cast("double")
            / col("n_r").cast("double")).as("r_star"),
          snap6(col("n_1").cast("double") / col("n_tokens").cast("double"))
            .as("p_unseen"))
        .orderBy(col("lang"), col("r"))
    }),

    // Chao1 species-richness estimate per language — "how much
    // vocabulary have we NOT seen yet?", the finite-sample answer to
    // q284's Heaps-law growth fit (Heaps extrapolates the curve; Chao1
    // lower-bounds the asymptote from singletons/doubletons alone, and
    // Good's coverage Ĉ = 1 − N₁/N says what fraction of token mass
    // the observed vocab already explains — the "is more crawling
    // worth it" number). Bias-corrected form V + N₁(N₁−1)/(2(N₂+1))
    // is total on N₂ = 0. Exact longs, two single divisions. Scale
    // shape: tokenize → (lang, word) counts → ≤|langs| fold.
    "q323_chao_richness" -> ((s, d) => {
      val cnt = Text.termCounts(Tables.documents(s, d), col("lang"))
      cnt.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("tf")).as("n_tokens"),
          sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("tf") === 2L, 1L).otherwise(0L)).as("n2"))
        .select(col("lang"), col("n_types"), col("n_tokens"),
          col("n1"), col("n2"),
          snap6(col("n_types").cast("double")
            + (col("n1") * (col("n1") - 1L)).cast("double")
              / (lit(2L) * (col("n2") + 1L)).cast("double"))
            .as("chao1"),
          snap6(lit(1.0) - col("n1").cast("double")
            / col("n_tokens").cast("double")).as("good_coverage"))
        .orderBy(col("lang"))
    }),

    // token counting + lexical stats: whitespace tokens, a BPE-ish regex
    // token count (letters|digits|single other-char), type/token ratio.
    "q64_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .select(
          col("doc_id"), col("lang"),
          size(col("wrds")).cast("long").as("n_words"),
          size(array_distinct(col("wrds"))).cast("long").as("n_distinct"),
          (size(array_distinct(col("wrds"))).cast("double") / size(col("wrds")))
            .as("ttr"),
          aggregate(col("wrds"), lit(0L), (acc, w) => acc + length(w))
            .as("word_chars"),
          (aggregate(col("wrds"), lit(0L), (acc, w) => acc + length(w))
            .cast("double") / size(col("wrds"))).as("avg_word_len"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("n_tokens_re"))
        .orderBy(col("doc_id"))),

    // quality signals: stopword/digit/space ratios + a keep/drop flag
    // decided in exact integer cross-multiplication (5·distinct ≥ words
    // ⟺ TTR ≥ 0.2).
    "q65_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .withColumn("n_words", size(col("wrds")).cast("long"))
        .withColumn("stop_hits",
          expr(s"CAST(size(filter(wrds, w -> w IN ${inList(profiles.head._2)})) AS LONG)"))
        .withColumn("digit_chars",
          size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long"))
        .withColumn("space_chars",
          size(regexp_extract_all(col("text"), lit(" "), lit(0))).cast("long"))
        .select(
          col("doc_id"), col("n_words"), col("stop_hits"),
          (col("stop_hits").cast("double") / col("n_words")).as("stop_ratio"),
          col("digit_chars"), col("space_chars"),
          (col("n_words") >= 10 && col("n_words") <= 2000 &&
            size(array_distinct(col("wrds"))).cast("long") * 5 >= col("n_words"))
            .as("quality_ok"))
        .orderBy(col("doc_id"))),

    // language ID: stopword-profile hit counts → argmax with a fixed
    // tie-break order (en > de > es > fr > und).
    "q66_langid" -> ((s, d) => {
      val hits = langHits
      val hitCols = profiles.zip(hits).map { case ((l, _), h) =>
        h.as(s"${l}_hits")
      }
      Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .select(Seq(col("doc_id"), col("lang")) ++ hitCols
          :+ predLang(hits).as("pred_lang"): _*)
        .withColumn("is_correct", col("pred_lang") === col("lang"))
        .orderBy(col("doc_id"))
    }),

    // end-to-end training-data pipeline composition: quality gate →
    // language ID → fingerprint dedup (keep lowest doc_id per bag
    // fingerprint) → per-predicted-language corpus stats. One declarative
    // plan, so Catalyst fuses the per-row stages into a single codegen'd
    // pass before the one dedup shuffle and the final aggregation —
    // the shape a 100 TB corpus clean actually runs.
    "q69_pipeline" -> ((s, d) => {
      val staged = Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .filter(size(col("wrds")) >= 10 && size(col("wrds")) <= 2000 &&
          size(array_distinct(col("wrds"))).cast("long") * 5 >= size(col("wrds")))
        .withColumn("pred_lang", predLang())
        .withColumn("bag_fp",
          md5(concat_ws(" ", array_sort(array_distinct(col("wrds")))).cast("binary")))
      val keepFirst = Window.partitionBy(col("bag_fp")).orderBy(col("doc_id"))
      staged
        .withColumn("rn", row_number().over(keepFirst))
        .filter(col("rn") === 1)
        .groupBy(col("pred_lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("wrds")).cast("long")).as("total_words"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("pred_lang"))
    }),

    // document fingerprints: an order-insensitive bag fingerprint (md5 of
    // the sorted distinct vocabulary) and a prefix fingerprint (md5 of
    // the first 8 words) — the cheap keys used to pre-cluster before
    // pairwise dedup.
    "q67_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .select(
          col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(col("wrds"))))
            .cast("binary")).as("bag_fp"),
          md5(concat_ws(" ", slice(col("wrds"), 1, 8)).cast("binary"))
            .as("head_fp"),
          size(array_distinct(col("wrds"))).cast("long").as("vocab_size"))
        .orderBy(col("doc_id"))),

    // Classifier evaluation — per-class confusion counts and
    // precision/recall/F1 for the q66 language-ID predictor against
    // the corpus's true labels: the model-eval readout every
    // training-data pipeline runs after a labeling pass. One corpus
    // pass collapses to the ≤|classes|² confusion cells; per-class
    // tp/fn key on the true label, fp on the predicted label, and the
    // full-outer join covers classes that appear only as predictions
    // ('und') or only as truth. All metrics are exact-long divisions
    // (correctly rounded, no output rounding); degenerate classes
    // (zero denominators) yield NULL identically via guarded CASEs.
    // Tokenizer-fertility planning table — tokens burned per character,
    // by language: the readout behind "which languages are expensive to
    // train on under this tokenizer" and per-language token budgeting.
    // Per-doc fertility uses the BPE-ish regex tokenizer (q64's
    // n_tokens_re); the LANGUAGE mean is computed as Σtokens/Σchars
    // (exact long sums, ONE division — never a mean of per-doc doubles,
    // whose summation order is partition-dependent), and the p50/p90 of
    // the per-doc ratio go through the exact percentile aggregate with
    // a 6-decimal floor snap to absorb the engines' 1-ulp interpolation
    // difference. One corpus-scale aggregation to a ≤|langs| frame.
    "q219_tokenizer_fertility" -> ((s, d) => {
      // The per-doc ratio quantiles ride
      // DistributedRank.exactPercentiles (bit-identical, helper doc),
      // not the Percentile aggregate, whose per-lang value map would
      // hold a doc-scale distinct set in one task; the regex-token
      // frame is checkpointed once per invocation for its two
      // consumers (q300 rationale). exactPercentiles drops a lang whose
      // ratios are all NULL (e.g. every n_chars NULL); the left join
      // keeps that row with NULL percentiles, and matches a NULL lang
      // to its own percentiles (`<=>`), as the oracle's GROUP BY +
      // quantile_cont does.
      val t = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("n_toks"))
        .withColumn("r", col("n_toks").cast("double") / col("n_chars"))
        .transform(graft.ops.Materialize.frame)
      t.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("tot_tokens"),
          sum(col("n_chars")).as("tot_chars"))
        .join(graft.ops.DistributedRank.exactPercentiles(
            t, col("r"), Seq(0.5, 0.9), Seq("lang"))
            .withColumnRenamed("lang", "ps_lang"),
          col("lang") <=> col("ps_lang"), "left")
        .select(col("lang"), col("n_docs"), col("tot_tokens"),
          col("tot_chars"),
          (col("tot_tokens").cast("double") / col("tot_chars"))
            .as("fertility"),
          snap6(element_at(col("ps"), 1)).as("p50_fertility"),
          snap6(element_at(col("ps"), 2)).as("p90_fertility"))
        .orderBy(col("lang"))
    }),

    "q170_eval_metrics" -> ((s, d) => {
      val pred = Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .select(col("lang"), predLang().as("pred_lang"))
      val cells = pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val byTrue = cells.groupBy(col("lang").as("cls"))
        .agg(sum(when(col("pred_lang") === col("lang"), col("n"))
            .otherwise(lit(0L))).as("tp"),
          sum(when(col("pred_lang") =!= col("lang"), col("n"))
            .otherwise(lit(0L))).as("fn"))
      val byPred = cells.groupBy(col("pred_lang").as("cls"))
        .agg(sum(when(col("pred_lang") =!= col("lang"), col("n"))
          .otherwise(lit(0L))).as("fp"))
      byTrue.join(byPred, Seq("cls"), "full_outer")
        .select(col("cls"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("fp"), lit(0L)).as("fp"),
          coalesce(col("fn"), lit(0L)).as("fn"))
        .withColumn("prec", when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))))
        .withColumn("rec", when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))))
        .withColumn("f1", when(col("prec") + col("rec") > 0,
          lit(2.0) * col("prec") * col("rec")
            / (col("prec") + col("rec"))))
        .orderBy(col("cls"))
    }),

    // Dataset datasheet ("datasheets for datasets", Gebru et al.) — the
    // one-page corpus card a data release ships with, as a long
    // (metric, value) frame: size, mean length, quality-pass share,
    // exact-duplicate share, language entropy. Every input is a 1-row
    // aggregate broadcast into a single explode — the corpus is
    // scanned a bounded number of times and nothing corpus-sized
    // shuffles. Shares are exact-long divisions; the entropy's
    // −Σ p·ln p runs in 1e-9-unit LONGS over the ≤|langs| frame with
    // the ln snapped (the q169/q175 order-free-sum recipe).
    "q200_chunking" -> ((s, d) => chunkDocs(Tables.documents(s, d))),

    "q176_datasheet" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.withColumn("wrds", Text.words(col("text")))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("wrds")).cast("long")).as("total_words"),
          sum(when(size(col("wrds")) >= 10 && size(col("wrds")) <= 2000
              && size(array_distinct(col("wrds"))).cast("long") * 5
                >= size(col("wrds")), lit(1L)).otherwise(lit(0L)))
            .as("n_quality"))
      val dup = docs.agg(count_distinct(
        sha2(Text.norm(col("text")).cast("binary"), 256)).as("n_unique"))
      val ln6p = snap6(log(col("p")))
      val ent = docs.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .select((col("nl").cast("double") / col("n")).as("p"))
        .select(floor((col("p") * ln6p) * lit(-1e9) + 0.5).cast("long")
          .as("u"))
        .agg(sum(col("u")).as("ent_u"))
      def m(name: String, v: Column) =
        struct(lit(name).as("metric"), v.as("value"))
      // per-doc shares NULL out on an empty corpus (ANSI ÷0 guard,
      // empty-corpus probe), mirrored as CASE WHEN in the oracle
      base.crossJoin(broadcast(dup)).crossJoin(broadcast(ent))
        .select(explode(array(
          m("avg_words", when(col("n_docs") > 0,
            col("total_words").cast("double")
              / col("n_docs").cast("double"))),
          m("exact_dup_share", when(col("n_docs") > 0, lit(1.0)
            - col("n_unique").cast("double") / col("n_docs").cast("double"))),
          m("lang_entropy_nats", col("ent_u").cast("double") / 1e9),
          m("n_docs", col("n_docs").cast("double")),
          m("quality_share", when(col("n_docs") > 0,
            col("n_quality").cast("double")
              / col("n_docs").cast("double"))),
          m("total_words", col("total_words").cast("double"))))
          .as("r"))
        .select(col("r.metric"), col("r.value"))
        .orderBy(col("metric"))
    }),

    // ROUGE-1/-2 between consecutive same-(lang, source) documents —
    // the summarization-eval overlap metric repurposed as a crawl
    // snapshot-drift probe (each doc scored against the NEXT doc from
    // its source+language). Set semantics over shared-md5 60-bit
    // word/bigram hashes; intersections via the native
    // graft_sorted_intersect kernel on ONCE-per-doc sorted distinct
    // arrays (two-pointer merge — no per-pair hash set), pairing via
    // one lead() window, so the whole operator costs ONE
    // (lang, source)-keyed exchange and never a join: at 100 TB the
    // quadratic "each doc vs corpus" form is impossible, but
    // consecutive-pair scoring is shuffle-linear. Partition
    // cardinality: the (lang, source) grid is 25 cells on the
    // synthetic corpus but grows with the REAL source count (a crawl
    // has thousands of feeds), and the alternative — rank-pairing via
    // a self-join — would shuffle the hashed arrays three times
    // instead of once; the single-exchange shape is the deliberate
    // trade. Recall, precision, and F1 are each a single division of
    // exact ints (set-F1 = Dice
    // = 2I/(|A|+|B|), so no compound float chain).
    "q261_rouge_pairs" -> ((s, d) => {
      def h(c: Column): Column = Text.md5Long(c, 15)
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("ws", Text.words(col("text")))
        .withColumn("u",
          array_sort(array_distinct(transform(col("ws"), wd => h(wd)))))
        .withColumn("b", array_sort(array_distinct(
          transform(Text.ngrams(col("ws"), 2), g => h(g)))))
        .select(col("doc_id"), col("lang"), col("source"), col("u"),
          col("b"),
          lead(col("doc_id"), 1).over(w).as("ref_id"),
          lead(col("u"), 1).over(w).as("u2"),
          lead(col("b"), 1).over(w).as("b2"))
        .filter(col("ref_id").isNotNull)
        .select(col("doc_id"), col("ref_id"), col("lang"), col("source"),
          expr("graft_sorted_intersect(u, u2)").cast("long").as("inter1"),
          size(col("u")).cast("long").as("n1_cand"),
          size(col("u2")).cast("long").as("n1_ref"),
          expr("graft_sorted_intersect(b, b2)").cast("long").as("inter2"),
          size(col("b")).cast("long").as("n2_cand"),
          size(col("b2")).cast("long").as("n2_ref"))
        .withColumn("rouge1_recall",
          col("inter1").cast("double") / col("n1_ref").cast("double"))
        .withColumn("rouge1_precision",
          col("inter1").cast("double") / col("n1_cand").cast("double"))
        .withColumn("rouge1_f1", col("inter1").cast("double") * 2.0
          / (col("n1_cand") + col("n1_ref")).cast("double"))
        .withColumn("rouge2_f1",
          when(col("n2_cand") + col("n2_ref") === 0L, lit(0.0))
            .otherwise(col("inter2").cast("double") * 2.0
              / (col("n2_cand") + col("n2_ref")).cast("double")))
        .orderBy(col("doc_id"))
    }),

    // ROUGE-L + token-level diff stats over the same consecutive
    // (lang, source) pairs as q261 — the SEQUENCE member of the ROUGE
    // family (order matters: "a b c" vs "c b a" has full ROUGE-1 but
    // LCS 1). The longest-common-subsequence length comes from the
    // native graft_lcs kernel (plans/LcsLength.scala — the classic
    // rolling-row DP as one codegen'd primitive loop; no HOF
    // composition can express the double recurrence, and levenshtein
    // is character-grain), over once-per-doc hashed token SEQUENCES
    // (shared-md5 60-bit, hashed once per doc — the per-pair work is
    // one long-compare DP). Pairing rides the one lead() window;
    // ROUGE-L F1 = 2·LCS/(|A|+|B|), insertions = |B|−LCS, deletions =
    // |A|−LCS — exact ints, single divisions. DP cost is
    // O(|A|·|B|) per pair on bounded documents — at 100 TB the
    // blocked-pair count scales linearly with the corpus while each
    // DP stays document-bounded.
    "q267_rouge_l" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("ha", transform(Text.words(col("text")), wd =>
          Text.md5Long(wd, 15)))
        .select(col("doc_id"), col("lang"), col("source"), col("ha"),
          lead(col("doc_id"), 1).over(w).as("ref_id"),
          lead(col("ha"), 1).over(w).as("hb"))
        .filter(col("ref_id").isNotNull)
        .select(col("doc_id"), col("ref_id"), col("lang"), col("source"),
          expr("graft_lcs(ha, hb)").cast("long").as("lcs"),
          size(col("ha")).cast("long").as("n_cand"),
          size(col("hb")).cast("long").as("n_ref"))
        .withColumn("rouge_l_f1", col("lcs").cast("double") * 2.0
          / (col("n_cand") + col("n_ref")).cast("double"))
        .withColumn("insertions", col("n_ref") - col("lcs"))
        .withColumn("deletions", col("n_cand") - col("lcs"))
        .orderBy(col("doc_id"))
    }),

    // Suffix-stripping stem audit — the normalization-impact probe a
    // pipeline runs before deciding whether dedup/vocab stages should
    // stem (Porter's first rule family: ing/ed/es/s with minimum-stem
    // guards, first match wins; deterministic CASE chain, no regex
    // backtracking ambiguity). Per language: distinct surface types,
    // distinct stems, the type→stem compression ratio, and the
    // largest stem family size. Scale shape: corpus → distinct
    // (lang, word) vocab frame
    // (map-side combined, vocabulary-sized — the q133 collapse),
    // stems computed per vocab row, ONE lang re-group; the ratio is a
    // single division of exact longs.
    "q269_stem_audit" -> ((s, d) => {
      val w = col("term")
      val stem = when(length(w) >= 5 && w.endsWith("ing"),
          expr("substring(term, 1, length(term) - 3)"))
        .when(length(w) >= 4 && w.endsWith("ed"),
          expr("substring(term, 1, length(term) - 2)"))
        .when(length(w) >= 4 && w.endsWith("es"),
          expr("substring(term, 1, length(term) - 2)"))
        .when(length(w) >= 3 && w.endsWith("s") && !w.endsWith("ss"),
          expr("substring(term, 1, length(term) - 1)"))
        .otherwise(w)
      val vocab = Text.terms(Tables.documents(s, d), col("lang"))
        .distinct()
        .withColumn("stem", stem)
      vocab
        .groupBy(col("lang"), col("stem"))
        .agg(count(lit(1)).as("fam"))
        .groupBy(col("lang"))
        .agg(sum(col("fam")).as("n_types"),
          count(lit(1)).as("n_stems"),
          max(col("fam")).as("max_family"))
        .select(col("lang"), col("n_types"), col("n_stems"),
          (col("n_stems").cast("double")
            / col("n_types").cast("double")).as("stem_ratio"),
          col("max_family"))
        .orderBy(col("lang"))
    }),

    // Length ⨯ type-token-ratio Spearman per language — the
    // selection-bias diagnostic behind every length-based quality
    // filter (TTR falls mechanically with length, so a naive
    // "low TTR = spam" rule silently becomes a "long document" rule;
    // the rank correlation QUANTIFIES how strongly, per language).
    // q236's doubled-rank recipe: integer midpoint ranks (2·rank, so
    // tie midpoints stay integers), centered by the integer mean rank
    // n+1, DECIMAL moment sums, one snapped division. TTR ranks order
    // by the EXACT long n_types·1e6 DIV n_words — no float ordering
    // at rank boundaries. Scale shape: the midpoint rank of a
    // row depends only on its VALUE, so ranks are computed on the
    // per-(lang, value) marginal frames — DOMAIN-bounded (x ≤ max
    // words per doc, y ∈ [0, 1e6] by construction), corpus-
    // independent — and hash-joined back; per-row windows would
    // put corpus/|langs| doc rows through one task per language
    // (|langs| is a bounded domain, the partitions grow with the
    // corpus). Three tokenize scans (main + two marginals) is the
    // q255 statelessness trade.
    "q283_length_ttr_corr" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 1)
        .select(col("lang"), size(col("ws")).cast("long").as("x"),
          (size(array_distinct(col("ws"))).cast("long") * 1000000L
            / size(col("ws")).cast("long")).as("y"))
      // midpoint doubled-rank per (lang, value): 2·(#rows below) +
      // (#ties) + 1, from a cumulative sum over the bounded marginal
      def rankMap(v: String): DataFrame = base
        .groupBy(col("lang"), col(v))
        .agg(count(lit(1)).as("f"))
        .withColumn("cum", sum(col("f")).over(
          Window.partitionBy(col("lang")).orderBy(col(v))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("lang"), col(v),
          (lit(2L) * (col("cum") - col("f")) + col("f") + 1L)
            .as(s"r2_$v"))
      // doubled midranks sum to n(n+1) exactly (ties included), so the
      // centered moments reduce algebraically to raw rank products:
      // Σdxdy = Σr2x·r2y − n(n+1)², Σdx² = Σr2x² − n(n+1)² — no
      // per-row n column, no fourth tokenize scan
      base
        .join(rankMap("x"), Seq("lang", "x"))
        .join(rankMap("y"), Seq("lang", "y"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(dec19(col("r2_x")) * dec19(col("r2_y"))).as("pxy"),
          sum(dec19(col("r2_x")) * dec19(col("r2_x"))).as("pxx"),
          sum(dec19(col("r2_y")) * dec19(col("r2_y"))).as("pyy"))
        .withColumn("c0", dec19(col("n_docs")) * dec19(col("n_docs") + 1L)
          * dec19(col("n_docs") + 1L))
        .select(col("lang"), col("n_docs"),
          (col("pxy") - col("c0")).as("sxy"),
          (col("pxx") - col("c0")).as("sxx"),
          (col("pyy") - col("c0")).as("syy"))
        .select(col("lang"), col("n_docs"),
          when(col("sxx") > 0 && col("syy") > 0,
            snap6(col("sxy").cast("double")
              / (sqrt(col("sxx").cast("double"))
                * sqrt(col("syy").cast("double")))))
            .otherwise(lit(0.0)).as("rho"))
        .orderBy(col("lang"))
    }),

    // Character-bigram entropy per language — the classic langid /
    // gibberish fingerprint one level below q251's word entropy (and
    // the feature family real char-n-gram language models train on):
    // natural text concentrates on a few hundred frequent bigrams;
    // base64 blobs and mojibake flatten the distribution. Bigrams by
    // character-indexed substring (both engines 1-based — no
    // split-on-empty-string semantics to cross-check), corpus
    // aggregated per (lang, bigram) in ONE exchange, per-lang N as a
    // keyed window over that frame, entropy via the q262 recipe
    // (snapped micro-nat longs × exact counts in DECIMAL/HUGEINT,
    // exact for N ≤ 1e14 bigrams, one double division). Top bigram is
    // an exact struct-max (max count, max bigram on ties).
    "q272_char_bigrams" -> ((s, d) => {
      val cells = Tables.documents(s, d)
        .withColumn("nt", Text.norm(col("text")))
        .filter(length(col("nt")) >= 2)
        .select(col("lang"), explode(transform(
          sequence(lit(1), length(col("nt")) - 1), i =>
            col("nt").substr(i, lit(2)))).as("bg"))
        .groupBy(col("lang"), col("bg"))
        .agg(count(lit(1)).as("c"))
      cells
        .withColumn("n", sum(col("c"))
          .over(Window.partitionBy(col("lang"))))
        .groupBy(col("lang"))
        .agg(max(col("n")).cast("long").as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          sum(col("c").cast("decimal(14,0)")
            * (lm(col("n")) - lm(col("c"))).cast("decimal(9,0)"))
            .as("h_num"),
          max(struct(col("c"), col("bg"))).as("mx"))
        .select(col("lang"), col("n_bigrams"), col("n_distinct"),
          (col("h_num").cast("double")
            / (col("n_bigrams").cast("double") * 1e6)).as("entropy"),
          col("mx").getField("bg").as("top_bigram"),
          col("mx").getField("c").as("top_count"))
        .orderBy(col("lang"))
    }),

    // Language-ID confusion matrix — the ERROR STRUCTURE of q66's
    // stopword-profile classifier (q66 scores per-document hits;
    // this aggregates gold × predicted cells with per-gold recall
    // shares), the eval a routing pipeline reads before trusting a
    // language gate: which languages leak into which (zh has no
    // profile here, so its whole row is structural leakage — visible
    // in the matrix, invisible in an accuracy scalar). Exact counts,
    // one division per cell against the gold-row total. Scale shape:
    // one corpus pass (the per-row classifier is a codegen'd filter
    // chain), map-side-combined cell counts, ≤|langs|² rows.
    "q368_langid_confusion" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .select(col("lang"), predLang().as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_gold",
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("pred_lang"), col("n"), col("n_gold"),
          snap6(col("n").cast("double") / col("n_gold").cast("double"))
            .as("gold_share"))
        .orderBy(col("lang"), col("pred_lang"))
    })
  )

  /** Sliding-window document chunking — the pretraining/RAG splitter:
    * each document becomes ceil-many chunks of up to `Size` tokens,
    * starting every `Stride` tokens (overlap = Size − Stride), the
    * final chunk allowed short. The chunk-start count is pure integer
    * arithmetic ((n − S) ceil-div T + 1 — exact on both engines, no
    * float boundaries), the fan-out is bounded by doc length / stride
    * (never corpus-squared), and chunk extraction is a per-row slice —
    * ZERO shuffles before the output sort. Empty/whitespace docs shed
    * like null text (the q110 convention).
    */
  private val ChunkSize = 64
  private val ChunkStride = 48
  private[graft] def chunkDocs(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        filter(Text.words(coalesce(col("text"), lit(""))),
          t => t =!= "").as("ts"))
      .filter(size(col("ts")) >= 1)
      .withColumn("n_tok", size(col("ts")).cast("long"))
    toks
      .withColumn("n_chunks",
        when(col("n_tok") <= ChunkSize, lit(1L))
          .otherwise(expr(
            s"CAST((n_tok - $ChunkSize + $ChunkStride - 1) DIV $ChunkStride AS BIGINT) + 1")))
      .select(col("doc_id"), col("ts"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("chunk",
        slice(col("ts"), (col("chunk_id") * ChunkStride + 1).cast("int"),
          lit(ChunkSize)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  private val wordsCte =
    """WITH w AS (SELECT *,
      |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS wrds
      |  FROM documents)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q241_calibration" ->
      """WITH f AS (SELECT
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ',
        |      'g'))), ' ') AS ws
        |  FROM documents),
        |g AS (SELECT
        |    len(ws) AS n_words,
        |    len(list_distinct(ws)) AS n_distinct,
        |    len(list_distinct(list_transform(range(1, len(ws)),
        |      i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])))
        |      AS n_big_distinct
        |  FROM f),
        |sc AS (SELECT
        |    n_big_distinct * 10 >= (n_words - 1) * 9 AS gold,
        |    CAST(floor(CAST(n_distinct AS DOUBLE)
        |      / CAST(n_words AS DOUBLE)
        |      * 1e6 + 0.5) AS BIGINT) AS score_micro
        |  FROM g WHERE n_words >= 2),
        |b AS (SELECT least(score_micro // 100000, 9) AS bin,
        |    count(*) AS n_docs,
        |    CAST(sum(score_micro) AS BIGINT) AS sum_micro,
        |    CAST(sum(CASE WHEN gold THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos
        |  FROM sc GROUP BY 1),
        |w AS (SELECT bin, n_docs,
        |    CAST(sum(n_docs) OVER () AS BIGINT) AS n_total,
        |    CAST(sum_micro AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6
        |      AS conf,
        |    CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS acc
        |  FROM b),
        |w2 AS (SELECT bin, n_docs, conf, acc, abs(acc - conf) AS gap,
        |    n_total
        |  FROM w)
        |SELECT bin, n_docs, conf, acc, gap,
        |  floor(sum(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)
        |    * gap) OVER () * 1e6 + 0.5) / 1e6 AS ece
        |FROM w2 ORDER BY bin""".stripMargin,

    "q250_quality_classifier" ->
      """WITH ws AS (SELECT doc_id, source, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, source, len(w) AS n_tokens,
        |    unnest(w) AS tk
        |  FROM ws),
        |sc AS (SELECT doc_id, any_value(source) AS source,
        |    CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(((('0x' || substr(md5(tk), 1, 8))::BIGINT % 256)
        |      * 37 + 11) % 201 - 100) AS BIGINT) AS score_int
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, source, n_tokens, score_int,
        |  CAST(score_int AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 100.0
        |    AS score,
        |  score_int >= 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q323_chao_richness" ->
      """WITH ws AS (SELECT lang, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        |  FROM ws WHERE w <> '' GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2
        |  FROM cnt GROUP BY 1)
        |SELECT lang, n_types, n_tokens, n1, n2,
        |  floor((CAST(n_types AS DOUBLE) + CAST(n1 * (n1 - 1) AS DOUBLE)
        |    / CAST(2 * (n2 + 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS chao1,
        |  floor((CAST(1 AS DOUBLE) - CAST(n1 AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS good_coverage
        |FROM g ORDER BY lang""".stripMargin,

    "q314_renyi_spectrum" ->
      """WITH ws AS (SELECT lang, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        |  FROM ws WHERE w <> '' GROUP BY 1, 2),
        |g AS (SELECT lang,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sum_c2,
        |    CAST(max(c) AS BIGINT) AS c_max,
        |    sum(CAST(c AS HUGEINT) * CAST(floor(ln(CAST(c AS DOUBLE))
        |      * 1e6 + 0.5) AS HUGEINT)) AS sum_cmu
        |  FROM cnt GROUP BY 1),
        |e AS (SELECT *, floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6 AS ln_n FROM g)
        |SELECT lang, n_tokens, n_types,
        |  floor(ln(CAST(n_types AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS h0_hartley,
        |  floor((ln_n - CAST(sum_cmu AS DOUBLE) / 1e6
        |    / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS h1_shannon,
        |  floor((CAST(2 AS DOUBLE) * ln_n
        |    - floor(ln(CAST(sum_c2 AS DOUBLE)) * 1e6 + 0.5) / 1e6)
        |    * 1e6 + 0.5) / 1e6 AS h2_collision,
        |  floor((ln_n - floor(ln(CAST(c_max AS DOUBLE)) * 1e6 + 0.5)
        |    / 1e6) * 1e6 + 0.5) / 1e6 AS h_inf_min
        |FROM e ORDER BY lang""".stripMargin,

    "q315_good_turing" ->
      """WITH ws AS (SELECT lang, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        |  FROM ws WHERE w <> '' GROUP BY 1, 2),
        |lad AS (SELECT lang, c AS r, CAST(count(*) AS BIGINT) AS n_r
        |  FROM cnt GROUP BY 1, 2),
        |t AS (SELECT lang, r, n_r,
        |    CAST(sum(r * n_r) OVER (PARTITION BY lang) AS BIGINT)
        |      AS n_tokens,
        |    CAST(max(CASE WHEN r = 1 THEN n_r END)
        |      OVER (PARTITION BY lang) AS BIGINT) AS n_1
        |  FROM lad)
        |SELECT t.lang, t.r, t.n_r,
        |  floor(CAST(t.r + 1 AS DOUBLE) * CAST(u.n_r AS DOUBLE)
        |    / CAST(t.n_r AS DOUBLE) * 1e6 + 0.5) / 1e6 AS r_star,
        |  floor(CAST(t.n_1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS p_unseen
        |FROM t LEFT JOIN lad u ON u.lang = t.lang AND u.r = t.r + 1
        |WHERE t.r <= 10 ORDER BY t.lang, t.r""".stripMargin,

    "q251_word_entropy" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, len(w) AS n_tokens, unnest(w) AS tk
        |  FROM ws),
        |cnt AS (SELECT doc_id, any_value(n_tokens) AS n_tokens, tk,
        |    count(*) AS c
        |  FROM tok GROUP BY doc_id, tk),
        |agg AS (SELECT doc_id,
        |    CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    floor(sum(CAST(c AS DOUBLE)
        |      * (floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) / 1e6))
        |      * 1e6 + 0.5) / 1e6 AS sum_clnc
        |  FROM cnt GROUP BY doc_id),
        |ent AS (SELECT doc_id, n_tokens, n_types,
        |    floor((floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |      - sum_clnc / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |      AS entropy,
        |    floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |      AS ln_n
        |  FROM agg WHERE n_tokens >= 2)
        |SELECT doc_id, n_tokens, n_types, entropy,
        |  floor(entropy / ln_n * 1e6 + 0.5) / 1e6 AS norm_entropy,
        |  floor(entropy / ln_n * 1e6 + 0.5) / 1e6 < 0.8 AS repetitive
        |FROM ent ORDER BY doc_id""".stripMargin,

    "q219_tokenizer_fertility" ->
      """WITH t AS (SELECT lang, n_chars,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS n_toks
        |  FROM documents),
        |r AS (SELECT lang, n_chars, n_toks,
        |    CAST(n_toks AS DOUBLE) / n_chars AS r FROM t)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS tot_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        |  CAST(sum(n_toks) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)
        |    AS fertility,
        |  floor(quantile_cont(r, 0.5) * 1e6 + 0.5) / 1e6 AS p50_fertility,
        |  floor(quantile_cont(r, 0.9) * 1e6 + 0.5) / 1e6 AS p90_fertility
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q200_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(trim(
        |      regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' '),
        |      t -> t <> '') AS ts
        |  FROM documents),
        |t2 AS (SELECT doc_id, ts, len(ts) AS n_tok FROM toks
        |  WHERE len(ts) >= 1),
        |c AS (SELECT doc_id, ts, n_tok,
        |    unnest(range(0, CASE WHEN n_tok <= 64 THEN 1
        |      ELSE (n_tok - 64 + 48 - 1) // 48 + 1 END)) AS chunk_id
        |  FROM t2)
        |SELECT doc_id, chunk_id,
        |  CAST(len(list_slice(ts, chunk_id * 48 + 1, chunk_id * 48 + 64))
        |    AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(ts, chunk_id * 48 + 1,
        |    chunk_id * 48 + 64), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q176_datasheet" -> (wordsCte + """,
        |base AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(wrds)) AS BIGINT) AS total_words,
        |    CAST(sum(CASE WHEN len(wrds) >= 10 AND len(wrds) <= 2000
        |      AND len(list_distinct(wrds)) * 5 >= len(wrds)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
        |  FROM w),
        |dup AS (SELECT count(DISTINCT sha256(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |      AS n_unique
        |  FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |lp AS (SELECT CAST(count(*) AS DOUBLE) / n AS p
        |  FROM documents, nn GROUP BY lang, n),
        |ent AS (SELECT sum(CAST(floor(
        |    (p * (floor(ln(p) * 1e6 + 0.5) / 1e6)) * (-1e9) + 0.5)
        |    AS BIGINT)) AS ent_u
        |  FROM lp)
        |SELECT metric, value FROM (
        |  SELECT 'avg_words' AS metric,
        |    CASE WHEN n_docs > 0 THEN
        |      CAST(total_words AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    END AS value
        |  FROM base
        |  UNION ALL SELECT 'exact_dup_share',
        |    CASE WHEN n_docs > 0 THEN 1.0::DOUBLE
        |      - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) END
        |  FROM base, dup
        |  UNION ALL SELECT 'lang_entropy_nats',
        |    CAST(ent_u AS DOUBLE) / 1e9 FROM ent
        |  UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM base
        |  UNION ALL SELECT 'quality_share',
        |    CASE WHEN n_docs > 0 THEN
        |      CAST(n_quality AS DOUBLE) / CAST(n_docs AS DOUBLE) END
        |  FROM base
        |  UNION ALL SELECT 'total_words', CAST(total_words AS DOUBLE)
        |  FROM base)
        |ORDER BY metric""".stripMargin),

    "q170_eval_metrics" -> (wordsCte + s""",
        |h AS (SELECT doc_id, lang,
        |  ${profiles.map { case (l, ws) =>
             s"len(list_filter(wrds, w -> w IN ${inList(ws)})) AS ${l}_hits"
           }.mkString(",\n|  ")}
        |  FROM w),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
        |    WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
        |    WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
        |    WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
        |    ELSE 'fr' END AS pred_lang
        |  FROM h),
        |cells AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
        |bt AS (SELECT lang AS cls,
        |    sum(CASE WHEN pred_lang = lang THEN n ELSE 0 END) AS tp,
        |    sum(CASE WHEN pred_lang <> lang THEN n ELSE 0 END) AS fn
        |  FROM cells GROUP BY 1),
        |bp AS (SELECT pred_lang AS cls,
        |    sum(CASE WHEN pred_lang <> lang THEN n ELSE 0 END) AS fp
        |  FROM cells GROUP BY 1),
        |j AS (SELECT coalesce(bt.cls, bp.cls) AS cls,
        |    CAST(coalesce(tp, 0) AS BIGINT) AS tp,
        |    CAST(coalesce(fp, 0) AS BIGINT) AS fp,
        |    CAST(coalesce(fn, 0) AS BIGINT) AS fn
        |  FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls),
        |m AS (SELECT cls, tp, fp, fn,
        |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END
        |      AS prec,
        |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END
        |      AS rec
        |  FROM j)
        |SELECT cls, tp, fp, fn, prec, rec,
        |  CASE WHEN prec + rec > 0
        |    THEN 2.0::DOUBLE * prec * rec / (prec + rec) END AS f1
        |FROM m ORDER BY cls""".stripMargin),

    "q64_token_stats" -> (wordsCte +
      """
        |SELECT doc_id, lang,
        |  len(wrds) AS n_words,
        |  len(list_distinct(wrds)) AS n_distinct,
        |  len(list_distinct(wrds)) * 1.0 / len(wrds) AS ttr,
        |  CAST(list_sum(list_transform(wrds, w -> length(w))) AS BIGINT) AS word_chars,
        |  CAST(list_sum(list_transform(wrds, w -> length(w))) AS BIGINT) * 1.0
        |    / len(wrds) AS avg_word_len,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_re
        |FROM w ORDER BY doc_id""".stripMargin),

    "q65_quality" -> (wordsCte +
      s"""
         |SELECT doc_id,
         |  len(wrds) AS n_words,
         |  len(list_filter(wrds, w -> w IN ${inList(profiles.head._2)})) AS stop_hits,
         |  len(list_filter(wrds, w -> w IN ${inList(profiles.head._2)})) * 1.0
         |    / len(wrds) AS stop_ratio,
         |  len(regexp_extract_all(text, '[0-9]')) AS digit_chars,
         |  len(regexp_extract_all(text, ' ')) AS space_chars,
         |  len(wrds) >= 10 AND len(wrds) <= 2000
         |    AND len(list_distinct(wrds)) * 5 >= len(wrds) AS quality_ok
         |FROM w ORDER BY doc_id""".stripMargin),

    "q66_langid" -> (wordsCte + s""",
        |h AS (SELECT doc_id, lang,
        |  ${profiles.map { case (l, ws) =>
              s"len(list_filter(wrds, w -> w IN ${inList(ws)})) AS ${l}_hits"
            }.mkString(",\n|  ")}
        |  FROM w)
        |SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
        |  CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
        |    WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
        |    WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
        |    WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
        |    ELSE 'fr' END AS pred_lang,
        |  pred_lang = lang AS is_correct
        |FROM h ORDER BY doc_id""".stripMargin),

    "q69_pipeline" -> (wordsCte + s""",
        |qual AS (SELECT * FROM w
        |  WHERE len(wrds) >= 10 AND len(wrds) <= 2000
        |    AND len(list_distinct(wrds)) * 5 >= len(wrds)),
        |pred AS (SELECT *,
        |  ${profiles.map { case (l, ws) =>
             s"len(list_filter(wrds, w -> w IN ${inList(ws)})) AS ${l}_hits"
           }.mkString(",\n|  ")},
        |  md5(array_to_string(list_sort(list_distinct(wrds)), ' ')) AS bag_fp
        |  FROM qual),
        |lang AS (SELECT *,
        |  CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
        |    WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
        |    WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
        |    WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
        |    ELSE 'fr' END AS pred_lang
        |  FROM pred),
        |dedup AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (PARTITION BY bag_fp ORDER BY doc_id) AS rn
        |  FROM lang) WHERE rn = 1)
        |SELECT pred_lang, count(*) AS n_docs,
        |  CAST(sum(len(wrds)) AS BIGINT) AS total_words,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM dedup GROUP BY pred_lang ORDER BY pred_lang""".stripMargin),

    "q67_fingerprint" -> (wordsCte +
      """
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(wrds)), ' ')) AS bag_fp,
        |  md5(array_to_string(wrds[1:8], ' ')) AS head_fp,
        |  len(list_distinct(wrds)) AS vocab_size
        |FROM w ORDER BY doc_id""".stripMargin),

    "q261_rouge_pairs" ->
      """WITH ws AS (SELECT doc_id, lang, source, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT doc_id, lang, source,
        |    list_sort(list_distinct(list_transform(w, x ->
        |      ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS u,
        |    CASE WHEN len(w) >= 2 THEN
        |      list_sort(list_distinct(list_transform(range(1, len(w)),
        |        i -> ('0x' || substr(md5(w[i] || ' ' || w[i + 1]),
        |          1, 15))::BIGINT)))
        |    ELSE []::BIGINT[] END AS b
        |  FROM ws),
        |p AS (SELECT doc_id, lang, source, u, b,
        |    lead(doc_id) OVER win AS ref_id,
        |    lead(u) OVER win AS u2, lead(b) OVER win AS b2
        |  FROM st WINDOW win AS (PARTITION BY lang, source
        |    ORDER BY doc_id)),
        |m AS (SELECT doc_id, ref_id, lang, source,
        |    CAST(len(list_intersect(u, u2)) AS BIGINT) AS inter1,
        |    CAST(len(u) AS BIGINT) AS n1_cand,
        |    CAST(len(u2) AS BIGINT) AS n1_ref,
        |    CAST(len(list_intersect(b, b2)) AS BIGINT) AS inter2,
        |    CAST(len(b) AS BIGINT) AS n2_cand,
        |    CAST(len(b2) AS BIGINT) AS n2_ref
        |  FROM p WHERE ref_id IS NOT NULL)
        |SELECT doc_id, ref_id, lang, source, inter1, n1_cand, n1_ref,
        |  inter2, n2_cand, n2_ref,
        |  CAST(inter1 AS DOUBLE) / CAST(n1_ref AS DOUBLE)
        |    AS rouge1_recall,
        |  CAST(inter1 AS DOUBLE) / CAST(n1_cand AS DOUBLE)
        |    AS rouge1_precision,
        |  CAST(inter1 AS DOUBLE) * 2.0
        |    / CAST(n1_cand + n1_ref AS DOUBLE) AS rouge1_f1,
        |  CASE WHEN n2_cand + n2_ref = 0 THEN 0.0
        |    ELSE CAST(inter2 AS DOUBLE) * 2.0
        |      / CAST(n2_cand + n2_ref AS DOUBLE) END AS rouge2_f1
        |FROM m ORDER BY doc_id""".stripMargin,

    // an INDEPENDENT LCS implementation on purpose: the kernel's
    // rolling-row DP re-expressed as nested list_reduce folds (outer
    // fold over A's tokens threads the DP row; inner fold builds the
    // next row left-to-right, reading the old row via the outer
    // accumulator) — a green row proves the native kernel against a
    // from-scratch formulation, not against itself.
    "q267_rouge_l" ->
      """WITH ws AS (SELECT doc_id, lang, source, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (SELECT doc_id, lang, source,
        |    list_transform(w, x ->
        |      ('0x' || substr(md5(x), 1, 15))::BIGINT) AS ha
        |  FROM ws),
        |p AS (SELECT doc_id, lang, source, ha,
        |    lead(doc_id) OVER win AS ref_id,
        |    lead(ha) OVER win AS hb
        |  FROM hs WINDOW win AS (PARTITION BY lang, source
        |    ORDER BY doc_id)),
        |m AS (SELECT doc_id, ref_id, lang, source,
        |    CAST(list_reduce(
        |      list_prepend(
        |        list_transform(range(0, len(hb) + 1), z -> 0::BIGINT),
        |        list_transform(ha, a -> [a])),
        |      (acc, x) -> list_reduce(
        |        list_prepend([0::BIGINT],
        |          list_transform(range(1, len(hb) + 1),
        |            j -> [j::BIGINT])),
        |        (acc2, y) -> list_append(acc2,
        |          CASE WHEN hb[y[1]] = x[1] THEN acc[y[1]] + 1
        |            ELSE greatest(acc[y[1] + 1], acc2[-1]) END)))[-1]
        |      AS BIGINT) AS lcs,
        |    CAST(len(ha) AS BIGINT) AS n_cand,
        |    CAST(len(hb) AS BIGINT) AS n_ref
        |  FROM p WHERE ref_id IS NOT NULL)
        |SELECT doc_id, ref_id, lang, source, lcs, n_cand, n_ref,
        |  CAST(lcs AS DOUBLE) * 2.0 / CAST(n_cand + n_ref AS DOUBLE)
        |    AS rouge_l_f1,
        |  n_ref - lcs AS insertions,
        |  n_cand - lcs AS deletions
        |FROM m ORDER BY doc_id""".stripMargin,

    "q269_stem_audit" ->
      """WITH t AS (SELECT lang, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
        |  FROM documents),
        |v AS (SELECT DISTINCT lang, word FROM t WHERE word <> ''),
        |st AS (SELECT lang, word,
        |    CASE
        |      WHEN length(word) >= 5 AND word LIKE '%ing'
        |        THEN substring(word, 1, length(word) - 3)
        |      WHEN length(word) >= 4 AND word LIKE '%ed'
        |        THEN substring(word, 1, length(word) - 2)
        |      WHEN length(word) >= 4 AND word LIKE '%es'
        |        THEN substring(word, 1, length(word) - 2)
        |      WHEN length(word) >= 3 AND word LIKE '%s'
        |        AND word NOT LIKE '%ss'
        |        THEN substring(word, 1, length(word) - 1)
        |      ELSE word END AS stem
        |  FROM v),
        |fam AS (SELECT lang, stem, count(*) AS fam
        |  FROM st GROUP BY 1, 2)
        |SELECT lang, CAST(sum(fam) AS BIGINT) AS n_types,
        |  count(*) AS n_stems,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(fam) AS DOUBLE)
        |    AS stem_ratio,
        |  max(fam) AS max_family
        |FROM fam GROUP BY lang ORDER BY lang""".stripMargin,

    "q283_length_ttr_corr" ->
      """WITH b AS (SELECT lang,
        |    CAST(len(w) AS BIGINT) AS x,
        |    CAST(len(list_distinct(w)) AS BIGINT) * 1000000
        |      // CAST(len(w) AS BIGINT) AS y
        |  FROM (SELECT lang, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |    FROM documents) WHERE len(w) >= 1),
        |r AS (SELECT lang,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    2 * (count(*) OVER (PARTITION BY lang ORDER BY x
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - count(*) OVER (PARTITION BY lang, x))
        |      + count(*) OVER (PARTITION BY lang, x) + 1 AS r2x,
        |    2 * (count(*) OVER (PARTITION BY lang ORDER BY y
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - count(*) OVER (PARTITION BY lang, y))
        |      + count(*) OVER (PARTITION BY lang, y) + 1 AS r2y
        |  FROM b),
        |dv AS (SELECT lang, n, r2x - (n + 1) AS dx, r2y - (n + 1) AS dy
        |  FROM r),
        |g AS (SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |    sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
        |    sum(dy * dy) AS syy
        |  FROM dv GROUP BY 1)
        |SELECT lang, n_docs,
        |  CASE WHEN sxx > 0 AND syy > 0 THEN
        |    floor(CAST(sxy AS DOUBLE)
        |      / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
        |      * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS rho
        |FROM g ORDER BY lang""".stripMargin,

    // argmax via row_number (c DESC, bg DESC) — the independent
    // formulation of Spark's struct-max tie rule
    "q272_char_bigrams" ->
      """WITH nt AS (SELECT lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |px AS (SELECT lang, t, unnest(range(1, length(t))) AS pos
        |  FROM nt WHERE length(t) >= 2),
        |cells AS (SELECT lang, substr(t, pos, 2) AS bg, count(*) AS c
        |  FROM px GROUP BY 1, 2),
        |g AS (SELECT lang, bg, c,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM cells),
        |a AS (SELECT lang, max(n) AS n_bigrams,
        |    count(*) AS n_distinct,
        |    sum(CAST(c AS HUGEINT) * CAST(
        |      floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |      - floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT))
        |      AS h_num
        |  FROM g GROUP BY lang),
        |tp AS (SELECT lang, bg AS top_bigram, c AS top_count
        |  FROM (SELECT lang, bg, c, row_number() OVER
        |      (PARTITION BY lang ORDER BY c DESC, bg DESC) AS rk
        |    FROM cells) WHERE rk = 1)
        |SELECT a.lang, n_bigrams, n_distinct,
        |  CAST(h_num AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6)
        |    AS entropy,
        |  top_bigram, top_count
        |FROM a JOIN tp ON a.lang = tp.lang ORDER BY a.lang""".stripMargin,

    "q368_langid_confusion" -> (wordsCte + s""",
        |h AS (SELECT lang,
        |  ${profiles.map { case (l, ws) =>
             s"len(list_filter(wrds, w -> w IN ${inList(ws)})) AS ${l}_hits"
           }.mkString(",\n|  ")}
        |  FROM w),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0
        |      THEN 'und'
        |    WHEN en_hits = greatest(en_hits, de_hits, es_hits,
        |      fr_hits) THEN 'en'
        |    WHEN de_hits = greatest(en_hits, de_hits, es_hits,
        |      fr_hits) THEN 'de'
        |    WHEN es_hits = greatest(en_hits, de_hits, es_hits,
        |      fr_hits) THEN 'es'
        |    ELSE 'fr' END AS pred_lang
        |  FROM h),
        |c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2),
        |g AS (SELECT *, CAST(sum(n) OVER (PARTITION BY lang)
        |    AS BIGINT) AS n_gold FROM c)
        |SELECT lang, pred_lang, n, n_gold,
        |  floor(CAST(n AS DOUBLE) / CAST(n_gold AS DOUBLE) * 1e6
        |    + 0.5) / 1e6 AS gold_share
        |FROM g ORDER BY lang, pred_lang""".stripMargin)
  )
}
