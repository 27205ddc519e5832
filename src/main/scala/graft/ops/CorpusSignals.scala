package graft.ops

import graft.{QueryModule, Tables}
import graft.ops.Parity.{dec, dec19, lm, ln6, snap6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text signals that genuinely need aggregation — unlike
  * [[TextAnalysis]]'s per-row expressions, these shuffle, and the whole
  * design question is WHAT they shuffle on: always per-document or
  * per-term keys with map-side partial aggregation, never anything
  * corpus-crossing.
  *
  *   - repetition signals (Gopher-style duplicate/top n-gram fractions,
  *     the quality rule that drops boilerplate and degenerate text);
  *   - exact-substring duplication risk (Lee et al. 20-word window
  *     fingerprints, counted per window group — never document pairs);
  *   - TF-IDF term scoring with per-doc top-k (the classic relevance
  *     primitive a curation pipeline uses for topical filtering).
  *
  * All counts are exact integers; the one transcendental (idf's ln) is
  * 6-decimal-snapped on both engines ([[Parity.snap6]]), so every
  * query is hash-exact against its DuckDB oracle.
  */
object CorpusSignals extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Burrows' Delta between sources — the stylometry/authorship
    // distance (Burrows 2002): over the corpus's top-30 function words,
    // Δ(a,b) = mean_w |z_w(a) − z_w(b)| of per-source relative-
    // frequency z-scores — the "same pipeline, different author/
    // boilerplate?" readout q291's topic-level JSD can't give (Delta
    // normalizes each word by its cross-source spread, so it reads
    // STYLE, not topic mass). Exactness discipline: relative
    // frequencies land as exact micro-frequency longs (c·1e6 DIV N_s —
    // integer division, both engines); per-word spread D = k·ΣF²−(ΣF)²
    // is exact DECIMAL; each |z_a − z_b| = k·|F_a−F_b|/√D folds as a
    // micro-long (floor(x·1e6+0.5)), so the 30-term per-pair sum is an
    // EXACT integer sum — no order-sensitive float fold anywhere. A
    // word with zero spread (D = 0 ⟹ every source identical) is
    // defined to contribute 0. Scale shape: one tokenize pass to
    // (source, word) counts; the top-30 cut, the 30×|sources| dense
    // grid, and the pair frame are all dimension-sized.
    "q320_burrows_delta" -> ((s, d) => {
      val cnt = Text.termCounts(Tables.documents(s, d), col("source"))
      val top = cnt.groupBy(col("term"))
        .agg(sum(col("tf")).as("cw"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cw").desc, col("term"))))
        .filter(col("rk") <= 30)
        .select(col("term"))
      val ns = cnt.groupBy(col("source")).agg(sum(col("tf")).as("n_s"))
      // dense 30 × |sources| grid: absent (source, word) pairs are
      // REAL zeros in the style profile, not missing rows.
      val grid = broadcast(top).crossJoin(broadcast(ns))
        .join(cnt, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          expr("coalesce(tf, 0L) * 1000000L DIV n_s").as("f"))
      val wWord = Window.partitionBy(col("term"))
      val stats = grid
        .withColumn("k", count(lit(1)).over(wWord))
        .withColumn("sf", sum(col("f")).over(wWord))
        .withColumn("sf2", sum(dec(col("f")) * dec(col("f"))).over(wWord))
        .withColumn("dd",
          dec(col("k")) * col("sf2") - dec(col("sf")) * dec(col("sf")))
      val b = stats.select(col("term").as("w_b"), col("source").as("source_b"),
        col("f").as("f_b"))
      stats.join(b,
          col("term") === col("w_b") && col("source") < col("source_b"))
        .withColumn("term_micro", when(col("dd") > 0,
          floor(col("k").cast("double") * abs(col("f") - col("f_b"))
            .cast("double") * 1e6
            / sqrt(col("dd").cast("double")) + 0.5).cast("long"))
          .otherwise(0L))
        .groupBy(col("source").as("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("term_micro")).as("sum_micro"))
        .select(col("source_a"), col("source_b"), col("n_words"),
          (col("sum_micro").cast("double") / 1e6
            / col("n_words").cast("double")).as("delta"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Church-Gale word burstiness — "does this word spread evenly or
    // clump into few documents?", the df-vs-cf diagnostic a stopword
    // or keyword list is built from (uniform function words have
    // cf/df ≈ 1·docs-share; topical/bursty words recur heavily inside
    // few docs). Exact ratios only: cf, df exact longs; burstiness =
    // cf/df and df_share = df/|docs| are single divisions. Top-100 by
    // (cf desc, word) — a total order. Scale shape: one tokenize pass
    // to (word, doc) then map-side-combined word aggregates; the
    // top-100 cut is one TakeOrdered heap; |docs| is a 1-row
    // broadcast.
    "q325_word_burstiness" -> ((s, d) => {
      val tok = Text.terms(Tables.documents(s, d), col("doc_id"))
      val ndocs = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"))
      tok.groupBy(col("term"))
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cf").desc, col("term"))).cast("long"))
        .filter(col("rank") <= 100L)
        .crossJoin(broadcast(ndocs))
        .select(col("rank"), col("term").as("word"), col("cf"), col("df"),
          snap6(col("cf").cast("double") / col("df").cast("double"))
            .as("burstiness"),
          snap6(col("df").cast("double") / col("n_docs").cast("double"))
            .as("df_share"))
        .orderBy(col("rank"))
    }),

    // Kneser-Ney bigram perplexity — the real LM behind CCNet-style
    // quality filtering (KenLM is interpolated KN), upgrading q197's
    // unigram: P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
    //                   + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··),
    // fixed discount D = 0.75 (exactly representable — the 0.75
    // arithmetic is bit-identical cross-engine). Training is the
    // bigram-type frame (one (w1,w2)-keyed corpus aggregation,
    // map-side combined) plus two re-groups of THAT bounded frame
    // for the predecessor/continuation marginals — the exact shape a
    // distributed KenLM trainer materializes; at 100 TB the model
    // stays distributed and scoring is a plain join (AQE broadcasts
    // it while it fits). Determinism: every P_kn is one IEEE chain
    // over exact-long counts with identical parenthesization both
    // engines; −ln P is snapped to 1e-6-unit LONGs (the q197
    // recipe), so per-doc sums are order-free and the final average
    // divides exact operands. Two corpus scans (train + score) — the
    // q197/q111 statelessness trade.
    // Heaps'-law vocabulary-growth exponent — q245-Zipf's companion
    // corpus-health number: distinct vocabulary grows V(n) ≈ K·n^β
    // (natural text β ≈ 0.4-0.6; duplicated/templated corpora bend
    // low, OCR noise bends toward 1). The unit here is the 3-SHINGLE
    // (the dedup tier's unit — the word vocabulary of this synthetic
    // corpus saturates at 31 types by the first checkpoint, which the
    // metric correctly reads as β = 0, i.e. maximally templated;
    // shingles keep growing and measure the actual novelty rate).
    // Measured at 10 doc-order checkpoints WITHOUT any sequential
    // scan: V(k) = count of shingles whose FIRST document (min doc_id
    // per shingle — one vocab-sized aggregation) falls at or before
    // checkpoint k, joined against the broadcast 10-row checkpoint
    // frame; β by q245's OLS recipe (snapped micro-nat ln, DECIMAL
    // moments, one snapped division). The checkpoint position and
    // prefix sums ride DistributedRank's q101-style distributed
    // prefix sum over the DOC frame (a global sorted window would
    // funnel every doc through ONE task); everything shingle-sized
    // is hash-keyed.
    "q284_heaps_law" -> ((s, d) => {
      // the vocab unit is the 60-bit md5 fold of the shingle, hashed
      // on BOTH engines (the q363 recipe: the raw-string
      // first-occurrence aggregate dominated memory at 100× scale —
      // the fold shuffles 8-byte longs and a collision cancels
      // cross-engine because the oracle folds identically); per-doc
      // n_toks counts post-array_distinct rows, so it is unaffected
      val toks = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"),
          explode(Text.shingles3(col("ws"))).as("w"))
        .select(col("doc_id"), Dedup.wordHash(col("w")).as("w"))
      val firstDoc = toks.groupBy(col("w"))
        .agg(min(col("doc_id")).as("fd"))
      val docs = DistributedRank.withRank(
          toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks")),
          Seq(col("doc_id")),
          sums = Seq("toks" -> col("n_toks")))
        .select(col("doc_id"), col("n_toks"), col("rk").as("pos"),
          col("run_toks").as("cum_toks"), col("n_all").as("n_docs"))
      val cps = docs
        .filter(col("pos") * 10L % col("n_docs") < 10L)
        .withColumn("k", expr("CAST(pos * 10 DIV n_docs AS BIGINT)"))
        .filter(col("k") >= 1L)
        .groupBy(col("k"))
        .agg(max(col("doc_id")).as("cp_doc"),
          max(col("cum_toks")).as("cum_toks"))
      val vocab = firstDoc.crossJoin(broadcast(cps))
        .filter(col("fd") <= col("cp_doc"))
        .groupBy(col("k"), col("cp_doc"), col("cum_toks"))
        .agg(count(lit(1)).as("vocab"))
      val pts = vocab
        .withColumn("lx", ln6(col("cum_toks")))
        .withColumn("ly", ln6(col("vocab")))
      val ols = pts.agg(count(lit(1)).as("n_points"),
        sum(dec19(col("lx"))).as("sx"), sum(dec19(col("ly"))).as("sy"),
        sum(dec19(col("lx")) * dec19(col("lx"))).as("sxx"),
        sum(dec19(col("lx")) * dec19(col("ly"))).as("sxy"))
        // a degenerate curve (one checkpoint, or all-equal lx) has no
        // slope: NULL, never 0/0 = NaN (the one-doc-corpus guard,
        // mirrored in the oracle)
        .withColumn("den", (dec19(col("n_points")) * col("sxx")
          - col("sx") * col("sx")).cast("double"))
        .select(col("n_points"),
          when(col("den") =!= 0.0,
            snap6((dec19(col("n_points")) * col("sxy")
              - col("sx") * col("sy")).cast("double") / col("den")))
            .as("beta"))
      pts.select(col("k"), col("cp_doc"), col("cum_toks"), col("vocab"))
        .crossJoin(broadcast(ols))
        .orderBy(col("k"))
    }),

    // Rank-biased overlap between two top-20 term rankings per source
    // (raw TF vs TF-IDF) — the IR-standard prefix-weighted similarity
    // for indefinite rankings (Webber et al.), answering "how much
    // does IDF weighting change what each source looks like"; the
    // same comparator serves ranker A/B eval (q236's Spearman needs
    // full conjoint lists — RBO is built for top-k). Truncated
    // RBO@20, p=0.9: (1−p)·Σ p^(d−1)·|A_d∩B_d|/d over the available
    // prefixes. Exactness: the 20 weights are hard-coded micro-snapped
    // literals on BOTH sides (no cross-libm pow), each depth term is
    // weight·overlap·(LCM(1..20)/d) — pure exact longs (≤ 9.3e16,
    // analyzed) folded in fixed order — and ONE final double division.
    // Scale shape: one corpus → (source, term) exchange, df/idf as a
    // keyed window + broadcast 1-row source count over that frame,
    // two row_number windows, 20-element prefix lists per source —
    // everything after the first exchange is |sources|-bounded.
    "q266_rbo_rankings" -> ((s, d) => {
      val weights = "array(1000000L,900000L,810000L,729000L,656100L," +
        "590490L,531441L,478297L,430467L,387420L,348678L,313811L," +
        "282430L,254187L,228768L,205891L,185302L,166772L,150095L,135085L)"
      val tf = Text.termCounts(Tables.documents(s, d), col("source"))
      // number of sources, derived by RE-AGGREGATING the tf frame
      // (not countDistinct over a fresh corpus subtree — that planned
      // a second scan): the un-foldable tf/nt references keep this
      // branch's (source, term) exchange canonically identical to the
      // main frame's, so ReuseExchange materializes it once (the
      // q110/q255 recipe; PlanShapeSpec pins 1 scan).
      val ns = tf
        .groupBy(col("source"))
        .agg(count(when(col("tf") >= 1, lit(1))).as("nt"))
        .agg(count(when(col("nt") >= 1, lit(1))).as("ns"))
      val idfm = ln6((col("ns").cast("double") + 1.0)
        / (col("df").cast("double") + 1.0))
      val rk = tf
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("term"))))
        .crossJoin(broadcast(ns))
        .withColumn("score",
          col("tf").cast("decimal(14,0)") * idfm.cast("decimal(9,0)"))
        .withColumn("rna", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("tf").desc, col("term").asc)))
        .withColumn("rnb", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("score").desc, col("term").asc)))
      rk.groupBy(col("source"))
        .agg(
          transform(array_sort(collect_list(
            when(col("rna") <= 20, struct(col("rna"), col("term"))))),
            p => p.getField("term")).as("ra"),
          transform(array_sort(collect_list(
            when(col("rnb") <= 20, struct(col("rnb"), col("term"))))),
            p => p.getField("term")).as("rb"))
        .withColumn("num", expr(
          s"""aggregate(sequence(1, 20), 0L, (acc, dd) -> acc
             |  + element_at($weights, dd)
             |  * CAST(size(array_intersect(
             |      slice(ra, 1, dd), slice(rb, 1, dd))) AS BIGINT)
             |  * CAST(232792560 DIV dd AS BIGINT))""".stripMargin))
        .select(col("source"),
          element_at(col("ra"), 1).as("top_tf"),
          element_at(col("rb"), 1).as("top_tfidf"),
          size(array_intersect(col("ra"), col("rb"))).cast("long")
            .as("overlap20"),
          (col("num").cast("double") * 0.1 / 232792560000000.0)
            .as("rbo"))
        .orderBy(col("source"))
    }),

    // Dunning log-likelihood-ratio collocations (G² over the bigram
    // 2×2 contingency table — THE corpus-linguistics collocation
    // test, and the significance upgrade over q173's raw PMI, which
    // over-ranks hapax pairs): top-50 bigrams by
    // G² = 2·[Σ k·ln k (cells) − Σ row/col·ln row/col + N·ln N],
    // observed>expected only. Every c·ln c term is a snapped
    // micro-nat long times an exact count, accumulated per ROW in
    // DECIMAL products (exact for N ≤ 1e14 bigrams; HUGEINT on the
    // DuckDB side), so ranking and the one final division are
    // order-free. Scale shape: q255's window-marginal recipe — one
    // corpus → (w1,w2) exchange, marginals as keyed windows over that
    // frame, the 1-row total broadcast back, TakeOrdered-50 readout
    // (bounded heap, no global sort).
    "q265_collocations" -> ((s, d) => {
      def t(k: Column): Column =
        k.cast("decimal(14,0)") * lm(k).cast("decimal(9,0)")
      val bg = bigrams(Tables.documents(s, d))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
      val tot = bg.agg(sum(col("c")).as("n"))
      bg
        .withColumn("c1", sum(col("c")).over(Window.partitionBy(col("w1"))))
        .withColumn("c2", sum(col("c")).over(Window.partitionBy(col("w2"))))
        .crossJoin(broadcast(tot))
        // positive association only: observed > expected as the exact
        // integer cross-multiplication c·N > c1·c2
        .filter(dec19(col("c")) * dec19(col("n"))
          > dec19(col("c1")) * dec19(col("c2")))
        .withColumn("g2_micros", lit(2).cast("decimal(2,0)") * (
          t(col("c")) + t(col("c1") - col("c"))
            + t(col("c2") - col("c"))
            + t(col("n") - col("c1") - col("c2") + col("c"))
            - t(col("c1")) - t(col("n") - col("c1"))
            - t(col("c2")) - t(col("n") - col("c2"))
            + t(col("n"))))
        .orderBy(col("g2_micros").desc, col("w1"), col("w2"))
        .limit(50)
        .select(col("w1"), col("w2"), col("c"),
          col("c1").cast("long").as("c1"), col("c2").cast("long").as("c2"),
          (col("g2_micros").cast("double") / 1e6).as("g2"))
    }),

    "q255_kn_bigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bg = bigrams(docs, col("doc_id")).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
      // Marginals as KEYED WINDOWS over the one bigram frame, not
      // groupBy+join-back: each join-back branch re-planned the
      // corpus → (w1,w2) subtree (measured: 5 scans; ReuseExchange
      // does not unify the twins across nested broadcast builds),
      // while windows reuse the materialized frame by construction —
      // and stay hash-keyed, so no single-partition funnel at 100 TB.
      // The 1-row nbb branch (count of bigram TYPES) keeps c
      // referenced so its twin stays canonically identical — with
      // the other twins gone ReuseExchange unifies it with the
      // model's bigram stage (measured: 2 scans total = train +
      // score, ReusedExchange present).
      val wW1 = Window.partitionBy(col("w1"))
      val wW2 = Window.partitionBy(col("w2"))
      val nbb = bg.agg(count(when(col("c") >= 1, lit(1))).as("nbb"))
      val model = bg
        .withColumn("cw1", sum(col("c")).over(wW1))
        .withColumn("n1w1", count(lit(1)).over(wW1))
        .withColumn("nw2", count(lit(1)).over(wW2))
        .crossJoin(broadcast(nbb))
        .withColumn("pkn",
          (col("c").cast("double") - 0.75) / col("cw1").cast("double")
            + lit(0.75) * col("n1w1").cast("double")
              / col("cw1").cast("double")
              * (col("nw2").cast("double") / col("nbb").cast("double")))
        .select(col("w1"), col("w2"),
          (-ln6(col("pkn"))).as("cost_micros"))
      bigrams(docs, col("doc_id")).join(model, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("cost_micros")).as("nll_micros"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("nll_micros").cast("double")
            / col("n_bigrams").cast("double") / 1e6).as("avg_nll"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals per document: the fraction of
    // 2-gram occurrences that are duplicates, and the share of the
    // single most frequent 2-gram (argmax with a deterministic
    // tie-break: max count, then max gram string — one struct-max
    // aggregate, no window). The keep flag is exact integer
    // cross-multiplication (top*5 <= total ⟺ top-gram share ≤ 20%,
    // Gopher's drop threshold). Scale shape: explode fans out to
    // (doc, gram) pairs, both aggregations key on doc_id (map-side
    // partials apply), so a 100 TB corpus shuffles two doc-keyed
    // frames and nothing corpus-wide; explode_outer dodges the
    // InferFiltersFromGenerate re-expansion (see Curation.decontaminate).
    "q109_repetition" -> ((s, d) => repetition(Tables.documents(s, d))),

    "q111_dup_substrings" -> ((s, d) => dupSubstrings(Tables.documents(s, d))),

    "q110_tfidf_topk" -> ((s, d) => tfidfTopK(Tables.documents(s, d))),

    "q129_inverted_index" -> ((s, d) => invertedIndex(Tables.documents(s, d))),

    "q133_vocab_encode" -> ((s, d) => vocabEncode(Tables.documents(s, d))),

    // BPE merge statistics — the first tokenizer-training iteration
    // at corpus scale: weighted adjacent-symbol-pair counts over the
    // word-frequency table (chars + an explicit </w> end-of-word
    // symbol, the classic BPE alphabet), top-30 merge candidates.
    // This is exactly the aggregate a distributed BPE trainer
    // materializes each round; q133's vocab/encode consumes its
    // output. Exact longs; ties broken on the pair string. Scale
    // shape: the corpus collapses to the DISTINCT-WORD frame first
    // (vocabulary-sized, map-side-combined), pair fan-out runs over
    // that bounded frame (≤ word-length elements per word — the
    // per-element array rebuild explode re-evaluation is O(len)≈20,
    // nothing like the q216 500-element trap), and the result is one
    // TakeOrdered heap.
    "q234_bpe_pairs" -> ((s, d) => {
      val wf = Text.termCounts(Tables.documents(s, d))
      val w = col("term")
      val pairs = concat(
        when(length(w) >= 2,
          transform(sequence(lit(1), length(w) - 1), i =>
            concat_ws(" ", w.substr(i, lit(1)), w.substr(i + 1, lit(1)))))
          .otherwise(array().cast("array<string>")),
        array(concat_ws(" ", w.substr(length(w), lit(1)), lit("</w>"))))
      wf.select(col("tf"), explode(pairs).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("tf")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)
    }),

    // Zipf-law fit over the top-1000 vocabulary — natural text sits
    // near slope −1 in log-rank/log-frequency space; word salad,
    // boilerplate floods, and template spam bend the curve, so the
    // fitted exponent is a one-number corpus-health check. Exactness:
    // ln(rank) and ln(freq) are snapped to EXACT MICRO-NAT LONGS
    // (micro units cancel in the slope ratio), the OLS moments
    // accumulate in DECIMAL via decimal(19) factors, and the slope is
    // one snapped division — no order-sensitive double fold anywhere.
    // Scale shape: corpus → vocabulary (map-side-combined) → ONE
    // TakeOrdered heap for the top-1000 → rank window + OLS on that
    // bounded frame only.
    "q245_zipf_slope" -> ((s, d) => {
      val top = Text.termCounts(Tables.documents(s, d))
        .orderBy(col("tf").desc, col("term"))
        .limit(1000)
      val wRank = Window.orderBy(col("tf").desc, col("term"))
      top
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .withColumn("lx", ln6(col("rk")))
        .withColumn("ly", ln6(col("tf")))
        .agg(count(lit(1)).as("n_terms"),
          sum(dec19(col("lx"))).as("sx"), sum(dec19(col("ly"))).as("sy"),
          sum(dec19(col("lx")) * dec19(col("lx"))).as("sxx"),
          sum(dec19(col("lx")) * dec19(col("ly"))).as("sxy"))
        .select(col("n_terms"),
          snap6((dec19(col("n_terms")) * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (dec19(col("n_terms")) * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("zipf_slope"))
    }),

    // Count-min sketch heavy hitters — the streaming/mergeable
    // frequency sketch (d=4 rows × w=1024 buckets) built as a plain
    // keyed aggregation: counters are exact longs, buckets come from
    // the shared-md5 recipe (row-salted `j:word`, never engine
    // hashes), so BOTH engines materialize the bit-identical sketch
    // and the min-over-rows estimates agree exactly — the query is
    // self-verifying the way q39 is: it emits each top-20 word's
    // exact count next to its CMS estimate and the ε-bound check
    // est ≤ exact + 2N/w (exact integer cross-multiplication).
    // Scale shape: corpus → vocabulary (map-side-combined) → a 4×
    // fan-out of the VOCAB frame into ≤4096 counters; the top-20
    // probe side is a TakeOrdered heap joined to the broadcast
    // counter table. The counter table is what a 1000-executor
    // streaming job would merge per-batch — partials add.
    "q247_cms_heavy_hitters" -> ((s, d) => {
      val wf = Text.termCounts(Tables.documents(s, d))
      val rows = wf
        .select(col("term"), col("tf"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("bucket",
          pmod(Text.md5Long(
            concat(col("j").cast("string"), lit(":"), col("term")), 8),
            lit(1024L)))
      val counters = rows.groupBy(col("j"), col("bucket"))
        .agg(sum(col("tf")).as("cnt"))
      // every sketch row sums to the exact corpus token count N —
      // read it off row j=0 (the merge-correctness invariant).
      val nTotal = counters.filter(col("j") === 0)
        .agg(sum(col("cnt")).as("n_total"))
      val top = wf.orderBy(col("tf").desc, col("term")).limit(20)
        .select(col("term"), col("tf"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("bucket",
          pmod(Text.md5Long(
            concat(col("j").cast("string"), lit(":"), col("term")), 8),
            lit(1024L)))
      top.join(broadcast(counters), Seq("j", "bucket"))
        .groupBy(col("term"), col("tf"))
        .agg(min(col("cnt")).as("cms_est"))
        .crossJoin(broadcast(nTotal))
        .select(col("term").as("w"), col("tf").as("exact_n"), col("cms_est"),
          (col("cms_est") - col("tf")).as("overcount"),
          // ε-bound at ε = 2/w, exact integer cross-multiplication:
          // (est − exact)·w ≤ 2·N
          ((col("cms_est") - col("tf")) * 1024L <= col("n_total") * 2L)
            .as("bound_ok"))
        .orderBy(col("exact_n").desc, col("w"))
    }),

    "q144_distinctive_terms" -> ((s, d) =>
      distinctiveTerms(Tables.documents(s, d))),

    "q168_bm25" -> ((s, d) => bm25TopK(Tables.documents(s, d))),

    "q173_pmi" -> ((s, d) => pmiPairs(Tables.documents(s, d))),

    "q197_lm_perplexity" -> ((s, d) => lmPerplexity(Tables.documents(s, d))),

    // Pairwise Jensen-Shannon divergence between source unigram
    // distributions — the corpus-mix distance matrix (q225's PSI
    // monitors ONE distribution over time; JSD scores source PAIRS
    // on a symmetric, bounded [0, ln 2] scale — the number a
    // mixing planner (q229) or source-dedup decision reads).
    // OUTPUT CONTRACT: the pair frame is built from an inner join on
    // shared tokens, so only pairs sharing ≥1 token type emit a row;
    // a pair with fully DISJOINT vocabularies (true JSD = ln 2, the
    // maximum) is absent from the matrix by construction — a reader
    // treats a missing pair as "maximally divergent or never
    // compared", which is the right default for a mixing planner
    // (both cases mean "don't merge"). Natural-language sources
    // always share function tokens, so real corpora emit the full
    // matrix. All
    // transcendentals reduce to the micro-nat recipe on EXACT integer
    // ratios: with shared-token counts a, b and totals n_a, n_b,
    // ln(p/m) = ln(2·a·n_b) − ln(a·n_b + b·n_a) — both arguments are
    // exact integer products (DECIMAL→double, identical value both
    // engines), each ln snapped to micro-nat longs. Tokens present in
    // only one source contribute EXACTLY p·ln 2 (q=0 ⇒ 2p/(p+q) = 2),
    // so the whole only-one-side mass folds into (n_a − shared_a)
    // × one shared µ-ln2 constant — the full-outer-join-per-pair a
    // naive JSD needs never materializes; the inner pair join plus
    // per-source totals carry everything. Accumulations are
    // DECIMAL(38,0) (counts × µnats exceed 2^63 at ~10¹³ tokens).
    // Scale shape: one corpus tokenize pass to (source, token) counts
    // (map-side combined); per-source totals ride a window over the
    // SAME frame (no second scan — ReuseExchange collapses the pair
    // self-join, q288's shape); the pair frame is |shared vocab| ×
    // |source pairs| — sources are a curated bounded set.
    "q291_jsd_sources" -> ((s, d) => {
      val muLn2 = 693147L // floor(ln(2)·1e6 + 0.5), spelled both engines
      val ct = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
      val b = ct.select(col("source").as("sb"), col("tok").as("tok_b"),
        col("c").as("cb"), col("n").as("nb"))
      val pairs = ct.join(b,
        col("tok") === col("tok_b") && col("source") < col("sb"))
      pairs.groupBy(col("source").as("source_a"), col("sb").as("source_b"))
        .agg(count(lit(1)).as("shared_types"),
          max(col("n")).as("na"), max(col("nb")).as("nbt"),
          sum(col("c")).as("sha"), sum(col("cb")).as("shb"),
          sum(dec(col("c")) * dec(ln6(dec(col("c")) * 2L * dec(col("nb")))
            - ln6(dec(col("c")) * dec(col("nb"))
              + dec(col("cb")) * dec(col("n"))))).as("s_a"),
          sum(dec(col("cb")) * dec(ln6(dec(col("cb")) * 2L * dec(col("n")))
            - ln6(dec(col("c")) * dec(col("nb"))
              + dec(col("cb")) * dec(col("n"))))).as("s_b"))
        .select(col("source_a"), col("source_b"), col("shared_types"),
          snap6((col("s_a") + dec(col("na") - col("sha")) * muLn2)
              .cast("double") / (lit(2e6) * col("na").cast("double"))
            + (col("s_b") + dec(col("nbt") - col("shb")) * muLn2)
              .cast("double") / (lit(2e6) * col("nbt").cast("double")))
            .as("jsd_nats"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Chapman capture-recapture estimate of the TRUE shingle
    // vocabulary — how much 3-shingle diversity has the corpus NOT
    // yet seen? Two "captures" are the even- and odd-doc_id halves;
    // with n₁, n₂ marked per capture and m recaptured in both,
    // Chapman's (n₁+1)(n₂+1)/(m+1) − 1 estimates total diversity —
    // the forward-looking companion to q284's Heaps exponent (Heaps
    // fits the growth CURVE; this bounds the asymptote) and the
    // q245/q251 corpus-health family. Exactness: membership flags
    // and all four counts are exact longs from ONE per-shingle
    // aggregation; the estimate is a single DECIMAL-product double
    // division, 6-snapped. Scale shape: one tokenize pass, map-side
    // combined per shingle; the readout aggregate is 4 counters.
    "q302_capture_recapture" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(Text.shingles3(col("ws"))).as("g"))
        .groupBy(xxhash64(col("g")).as("h"))
        .agg(max(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
            .as("in_even"),
          max(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
            .as("in_odd"))
        .agg(count(lit(1)).as("observed_vocab"),
          sum(col("in_even")).as("n1"),
          sum(col("in_odd")).as("n2"),
          sum(col("in_even") * col("in_odd")).as("m"))
        .select(col("observed_vocab"), col("n1"), col("n2"), col("m"),
          snap6((dec(col("n1") + 1L) * dec(col("n2") + 1L))
            .cast("double") / (col("m") + 1L).cast("double") - 1.0)
            .as("chapman_est"))
    }),

    // Keyness with FDR control — "which tokens are SIGNIFICANTLY
    // over/under-represented in source src0 vs the rest of the
    // corpus?", the corpus-linguistics screen (Dunning 1993 G²
    // log-likelihood keyness) with Benjamini-Hochberg step-up across
    // the whole vocabulary, the multiple-testing discipline q291's
    // raw divergences and q320's effect sizes both skip (test one
    // source against 10⁶ vocabulary items and 5% of "significant"
    // raw hits are noise — BH caps the expected false-discovery
    // share at α=0.05). Exactness: G² = 2(a·ln(a/Eₐ) + b·ln(b/E_b))
    // folds as count × micro-nat longs of exact DECIMAL-product
    // ratios (ln(a/Eₐ) = ln(a(A+B)) − ln(A(a+b)), the q291 recipe);
    // p = 2(1−Φ(√G²)) — exact for a 1-df χ² — via the Abramowitz &
    // Stegun 26.2.17 polynomial (|ε| < 7.5e-8, far inside the 1e-6
    // snap), identical per-row double formula both engines; the BH
    // step-up is one rank window (p asc, token tie-break) with
    // k* = max{k : p₍ₖ₎ ≤ kα/m} riding the same exchange, compared
    // as p·m ≤ k·α so no per-rank division. Scale shape: one corpus
    // tokenize pass to per-token (a, b) counts (map-side combined),
    // scalar totals broadcast back; the rank window is a single
    // range-partitioned sort of the VOCABULARY frame (tokens, not
    // corpus rows); output is top-15 by G² with the BH verdict.
    "q329_keyness_fdr" -> ((s, d) => {
      val cnt = Tables.documents(s, d)
        .select((col("source") === "src0").as("focus"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(sum(when(col("focus"), 1L).otherwise(0L)).as("a"),
          sum(when(col("focus"), 0L).otherwise(1L)).as("b"))
      val tot = cnt.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      val g2 = cnt.crossJoin(broadcast(tot))
        .filter(col("a") + col("b") >= 5L)
        .withColumn("g2",
          (lit(2L) * (when(col("a") > 0L, dec(col("a"))
              * (ln6(dec(col("a")) * dec(col("na") + col("nb")))
                - ln6(dec(col("na")) * dec(col("a") + col("b")))))
              .otherwise(dec(lit(0L)))
            + when(col("b") > 0L, dec(col("b"))
              * (ln6(dec(col("b")) * dec(col("na") + col("nb")))
                - ln6(dec(col("nb")) * dec(col("a") + col("b")))))
              .otherwise(dec(lit(0L)))))
            .cast("double") / 1e6)
      // A&S 26.2.17 upper-tail Φ̄(z) with t = 1/(1 + 0.2316419·z);
      // p(χ²₁ ≥ g2) = 2·Φ̄(√g2). Same literals spelled in the oracle.
      val z = sqrt(col("g2"))
      val base = lit(1.0) + lit(0.2316419) * z
      val p = when(col("g2") <= 0.0, lit(1.0)).otherwise(
        lit(2.0) * (lit(0.3989422804014327) * exp(-col("g2") / lit(2.0)))
          * (lit(0.319381530) / base
            - lit(0.356563782) * pow(base, lit(-2.0))
            + lit(1.781477937) * pow(base, lit(-3.0))
            - lit(1.821255978) * pow(base, lit(-4.0))
            + lit(1.330274429) * pow(base, lit(-5.0))))
      val wRank = Window.orderBy(col("pval"), col("tok"))
      val wAll = Window.partitionBy()
      // rk/m/k* all ride the ONE single-partition vocabulary exchange
      // the rank itself needs (no second shuffle).
      val ranked = g2.withColumn("pval", p)
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("k_star", coalesce(max(when(
            col("pval") * col("m").cast("double")
              <= col("rk").cast("double") * lit(0.05), col("rk")))
          .over(wAll), lit(0L)))
      ranked
        .select(col("tok"), col("a").as("cnt_focus"),
          col("b").as("cnt_rest"), snap6(col("g2")).as("g2"),
          snap6(col("pval")).as("p_value"), col("rk").as("p_rank"),
          col("m").as("n_tested"), col("k_star").as("n_rejected"),
          (col("rk") <= col("k_star")).as("rejected"))
        .orderBy(col("g2").desc, col("tok"))
        .limit(15)
    }),

    // Corpus novelty curve — split the corpus into 10 ingestion
    // buckets (doc_id order = arrival order) and read, per bucket,
    // the fraction of its DISTINCT 3-shingles never seen in any
    // earlier bucket: the "is new data still new?" decay every
    // data-acquisition pipeline budgets against (q284's Heaps
    // exponent fits the aggregate curve; this localizes WHERE the
    // novelty comes from — a flat late tail means more of the same
    // source adds nothing). Exact set logic: per shingle ONE
    // min-bucket aggregate; per (bucket, shingle) presence is
    // distinct-counted; novel ⟺ bucket = min_bucket; the rate is
    // one division of exact longs. Scale shape: decile bounds come
    // from DistributedRank over a SLIM (doc_id) projection and ride
    // back as a broadcast 9-element array (a global ntile window
    // would drag the text arrays through ONE task); the tokenize
    // pass probes the bounds per row, and the distinct shuffles
    // 8-byte shingle hashes, not ~30-byte strings — the shared
    // 60-bit md5 fold on BOTH engines (the raw-string distinct
    // dominated q363's wall at 100× scale; a fold collision cancels
    // cross-engine because the oracle folds identically, which a
    // one-sided xxhash64 would not).
    "q363_novelty_curve" -> ((s, d) => {
      val docsF = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
      val bounds = DistributedRank.withRank(docsF.select(col("doc_id")),
          Seq(col("doc_id")))
        .withColumn("t", DistributedRank.ntileOf("rk", "n_all", 10))
        .filter(col("t") <= 9L)
        .groupBy(col("t")).agg(max(col("doc_id")).as("b"))
        .agg(sort_array(collect_list(col("b"))).as("bs"))
      val sh = docsF
        .crossJoin(broadcast(bounds))
        .select((lit(1L) + size(filter(col("bs"),
            b => col("doc_id") > b)).cast("long")).as("bkt"),
          explode(Text.shingles3(col("ws"))).as("gs"))
        .select(col("bkt"), Dedup.wordHash(col("gs")).as("g"))
        .distinct()
      // first_bkt as a g-keyed window over the distinct frame (the
      // q261 one-exchange shape) — a groupBy+join-back plans a
      // SECOND corpus tokenize for the join's probe side
      sh.withColumn("first_bkt",
          min(col("bkt")).over(Window.partitionBy(col("g"))))
        .groupBy(col("bkt"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("first_bkt") === col("bkt"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("bkt").as("bucket"), col("n_distinct"),
          col("n_novel"),
          snap6(col("n_novel").cast("double")
            / col("n_distinct").cast("double")).as("novelty_rate"))
        .orderBy(col("bucket"))
    }),

    // Source vocabulary-overlap matrix — set Jaccard of the distinct
    // token vocabularies for every source pair, the SET companion to
    // q291's mass-weighted JSD (JSD reads how differently two
    // sources USE shared words; this reads whether they share words
    // at all — the first question when deciding if two crawls are
    // the same feed). Built on the FULL pair grid (a disjoint-
    // vocabulary pair emits jaccard = 0, not a missing row — the
    // q291-review lesson): per-source vocab sizes cross-join on the
    // bounded source frame, shared counts from one token-keyed
    // equi-join, |∪| = nₐ+n_b−c exact. Scale shape: one tokenize
    // pass to distinct (source, token) (map-side combined); the
    // pair join is token-keyed with bounded source fan-out; the
    // grid is |sources|² — a curated bounded set.
    "q367_vocab_overlap" -> ((s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val shared = st.join(
          st.select(col("source").as("sb"), col("tok")), Seq("tok"))
        .filter(col("source") < col("sb"))
        .groupBy(col("source").as("source_a"), col("sb").as("source_b"))
        .agg(count(lit(1)).as("c"))
      broadcast(sizes.select(col("source").as("source_a"),
          col("nv").as("na")))
        .crossJoin(broadcast(sizes.select(col("source").as("source_b"),
          col("nv").as("nb"))))
        .filter(col("source_a") < col("source_b"))
        .join(shared, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), col("na"), col("nb"),
          coalesce(col("c"), lit(0L)).as("shared_vocab"))
        .withColumn("jaccard", snap6(col("shared_vocab").cast("double")
          / (col("na") + col("nb") - col("shared_vocab")).cast("double")))
        .orderBy(col("source_a"), col("source_b"))
    })
  )

  /** `(keys…, w1, w2)`: one row per adjacent word pair of each document
    * (q255, q265). `keys` are plain column references.
    */
  private def bigrams(docs: DataFrame, keys: Column*): DataFrame = docs
    .withColumn("ws", Text.words(col("text")))
    .filter(size(col("ws")) >= 2)
    .select(keys :+ explode(Text.wordTuples(col("ws"), 2)).as("bg"): _*)
    .select(keys ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)

  /** CCNet-style language-model quality scoring — the canonical
    * "train a small LM on the corpus, score every document by
    * perplexity, drop the tail" filter of LLM-data pipelines. The LM
    * here is the simplest honest member of the family: a top-V
    * unigram model with add-one smoothing over vocab ∪ {UNK}
    * (P(w) = (c(w)+1)/(N+V+1), OOV → 1/(N+V+1)); the score is the
    * average negative log-probability per token (perplexity = e^score
    * — monotone, so the exp is left to the consumer: cross-engine
    * exp() is not guaranteed bit-identical while the snapped-ln sum
    * is). Scale shape: TRAINING is one term-keyed aggregation
    * (map-side combined) capped to V rows by a TakeOrdered heap;
    * SCORING is per-row against ONE broadcast map of pre-snapped
    * per-term costs — zero corpus shuffles, the q133 encode pattern
    * (the corpus is scanned twice, once to train and once to score —
    * the q111 statelessness trade). Cross-engine determinism: each
    * term's −ln P is 6-decimal-snapped (the q110 recipe) and carried
    * as an exact 1e-6-unit LONG, so per-doc sums are order-free; the
    * final avg divides exact operands once per step, identically
    * spelled on both engines.
    */
  private[graft] def lmPerplexity(docs: DataFrame): DataFrame = {
    val V = 256
    val toks = docs
      .select(col("doc_id"),
        filter(Text.words(coalesce(col("text"), lit(""))),
          t => t =!= "").as("ts"))
      .filter(size(col("ts")) >= 1)
    val tf = toks.select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nv = tf.agg(sum(col("c")).as("n_corpus"),
      count(lit(1)).as("n_terms"))
      .select(col("n_corpus"),
        least(col("n_terms"), lit(V.toLong)).as("v"))
    val vocab = tf.orderBy(col("c").desc, col("term").asc).limit(V)
    val costs = vocab.crossJoin(broadcast(nv))
      .select(col("term"),
        (-ln6((col("c") + 1.0) / (col("n_corpus") + col("v") + 1.0)))
          .as("lc"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("lc"))))
        .as("cmap"))
    val oovCost = nv.select(
      (-ln6(lit(1.0) / (col("n_corpus") + col("v") + 1.0))).as("oov_lc"))
    toks.crossJoin(broadcast(costs)).crossJoin(broadcast(oovCost))
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        size(filter(col("ts"), t => element_at(col("cmap"), t).isNull))
          .cast("long").as("oov_tokens"),
        aggregate(col("ts"), lit(0L), (acc, t) =>
          acc + coalesce(element_at(col("cmap"), t), col("oov_lc")))
          .as("nll_micros"))
      .select(col("doc_id"), col("n_tokens"), col("oov_tokens"),
        (col("nll_micros").cast("double") / col("n_tokens") / lit(1e6))
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Pointwise mutual information over the top-20 vocabulary — the
    * collocation signal behind phrase mining and embedding evaluation:
    * PMI(a,b) = ln(N·c_ab / (df_a·df_b)) over document-level
    * co-occurrence. Scale shape: the vocabulary is capped FIRST (a
    * 20-row TakeOrdered broadcast), so the per-doc pair fan-out is
    * ≤C(20,2) = 190 — never |vocab|²; the pair join keys on doc_id
    * (bounded per doc) and the (a,b) counts map-side combine. The
    * ln snaps via the q110 recipe; everything feeding it is exact
    * integer arithmetic cast to double with mirrored parenthesization.
    */
  private[graft] def pmiPairs(docs: DataFrame): DataFrame = {
    val V = 20
    val dt = docs.select(col("doc_id"),
        explode_outer(array_distinct(Text.words(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val dfc = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val top = dfc.orderBy(col("df").desc, col("term")).limit(V)
    val n = docs.agg(count(lit(1)).as("n"))
    val f = dt.join(broadcast(top.select(col("term"))), "term")
    val pairs = f.as("a").join(f.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("c_ab"))
    val pmi6 = snap6(log(col("c_ab").cast("double") * col("n")
      / (col("df_a").cast("double") * col("df_b"))))
    pairs
      .join(broadcast(top.select(col("term").as("term_a"),
        col("df").as("df_a"))), "term_a")
      .join(broadcast(top.select(col("term").as("term_b"),
        col("df").as("df_b"))), "term_b")
      .crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("c_ab"), col("df_a"),
        col("df_b"), pmi6.as("pmi"))
      .orderBy(col("term_a"), col("term_b"))
  }

  /** BM25 top-10 retrieval for a fixed 3-term query — the saturation +
    * length-normalization step past q110's raw tf·idf (Robertson et
    * al.; the idf is Lucene's ln(1 + (N−df+0.5)/(df+0.5)) form, which
    * stays positive where the classic form goes negative for terms in
    * more than half the corpus — this templated corpus puts every
    * query term in ~80% of docs, so the classic form would rank all
    * matches NEGATIVE). Scale shape: tf and dl are the same doc-keyed
    * aggregates every retrieval query shares; df is computed ONLY for
    * the 3 query terms (filter before the groupBy — the term exchange
    * carries 3 keys, not the vocabulary); the final ranking is a
    * TakeOrdered bounded heap. Determinism: idf snaps via the q110
    * floor(ln·1e6+0.5) recipe; avgdl and the per-term scores are
    * correctly-rounded double chains with mirrored parenthesization;
    * the per-doc total sums the 3 per-term columns in FIXED left-assoc
    * order (a groupBy sum over the terms would re-order the floating
    * adds per partition).
    */
  private[graft] def bm25TopK(docs: DataFrame): DataFrame = {
    val K1 = 1.2
    val B = 0.75
    val qterms = Seq("spark", "merge", "window")
    val tf = Text.termCounts(docs, col("doc_id"))
    val dl = Text.terms(docs, col("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val dfq = tf.filter(col("term").isin(qterms: _*))
      .groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val idf6 = snap6(
      log(lit(1.0) + (col("n").cast("double") - col("df") + 0.5)
        / (col("df") + 0.5)))
    val avgdl = col("sumdl").cast("double") / col("n").cast("double")
    // literals spelled as the decimals the oracle SQL parses: K1+1
    // computed in Scala (1.2 + 1) rounds differently than the parsed
    // literal 2.2 at the last bit.
    val score = col("idf") * (col("tf") * lit(2.2)) /
      (col("tf") + lit(K1) * (lit(0.25)
        + lit(B) * (col("dl").cast("double") / col("avgdl"))))
    val scored = tf.filter(col("term").isin(qterms: _*))
      .join(broadcast(dfq.crossJoin(stats)
        .select(col("term"), idf6.as("idf"), avgdl.as("avgdl"))), "term")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("term"), score.as("score"))
    val per = qterms.map(t =>
      coalesce(sum(when(col("term") === t, col("score"))), lit(0.0))
        .as(s"s_$t"))
    scored.groupBy(col("doc_id"))
      .agg(per.head, per.tail: _*)
      .withColumn("bm25",
        col(s"s_${qterms(0)}") + col(s"s_${qterms(1)}")
          + col(s"s_${qterms(2)}"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** Distinctive terms per source (smoothed log-odds) — the corpus-
    * comparison report a curation team reads before mixing sources:
    * which terms does source X over-use relative to the rest of the
    * corpus? score(term, src) = ln((tf+1)/(tot_src−tf+1)) −
    * ln((tf_t+1)/(tot−tf_t+1)) — add-one-smoothed log-odds of the
    * term inside vs. outside the source (the Monroe et al.
    * "Fightin' Words" shape without the prior variance term). Scale:
    * tf keys on (source, term), corpus term totals on term (both
    * map-side combined); per-source totals and the corpus total ride
    * as broadcast frames (|sources| rows / 1 row); per-source top-3
    * is the WindowGroupLimit cap. Both ln() factors are 6-decimal-
    * snapped (the q110 idf recipe) so the difference — and the rank
    * order it induces — is bit-identical cross-engine.
    */
  private[graft] def distinctiveTerms(docs: DataFrame): DataFrame = {
    val tf = Text.termCounts(docs, col("source"))
    val totS = tf.groupBy(col("source")).agg(sum(col("tf")).as("tot_s"))
    val totT = tf.groupBy(col("term")).agg(sum(col("tf")).as("tf_t"))
    val tot = tf.agg(sum(col("tf")).as("tot"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(totS), "source")
      .join(totT, "term")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        snap6(log((col("tf") + 1.0) / (col("tot_s") - col("tf") + 1.0)))
          - snap6(log((col("tf_t") + 1.0)
            / (col("tot") - col("tf_t") + 1.0))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("term"), col("tf"),
        col("score"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Vocabulary build + token-id encoding — the tokenizer-vocab
    * application step of a training-data pipeline: the corpus votes a
    * top-V vocabulary (count desc, term asc tie-break; V=16 here so
    * the OOV path is exercised on the test corpus — a real run sets
    * V≈10^5, still driver-sized), each document's ordered token stream
    * is mapped to ids, out-of-vocabulary tokens to -1. Scale shape:
    * the vocab aggregation keys on the term with map-side combine and
    * TakeOrdered keeps only V rows; the id assignment window runs on
    * that V-row frame (bounded, single partition by construction); the
    * ENCODE pass is the part that must scale — the vocab rides to
    * every task as one broadcast map row, so encoding is a per-row
    * `transform` lookup with ZERO shuffles over the corpus. The id
    * sequence serializes to a CSV string: the exact array content,
    * hashable by the driver comparator (array columns are not).
    */
  private[graft] def vocabEncode(docs: DataFrame): DataFrame = {
    val V = 16
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), Text.words(col("text")).as("toks"))
    val cnt = toks.select(explode(col("toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(V)
    val vocab = cnt.select(col("term"),
      (row_number().over(Window.orderBy(col("cnt").desc, col("term").asc))
        - 1).as("id"))
    val vmap = vocab.agg(
      map_from_entries(collect_list(struct(col("term"), col("id"))))
        .as("vmap"))
    toks.crossJoin(broadcast(vmap))
      .select(col("doc_id"), col("toks"),
        transform(col("toks"), t =>
          coalesce(element_at(col("vmap"), t), lit(-1))).as("enc"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        size(filter(col("enc"), e => e === -1)).as("n_oov"),
        array_join(transform(col("enc"), e => e.cast("string")), ",")
          .as("encoded"))
      .orderBy(col("doc_id"))
  }

  /** Capped inverted index (term → document-frequency + top-k posting
    * rows): the retrieval-side complement of q110's document-side
    * TF-IDF, and the build step behind every corpus search / "which
    * docs contain this term" tool. Per term: df (how many docs), total
    * occurrences, and the 3 highest-tf postings (tie-break doc_id
    * asc). The scale-critical choice is the CAP: a stopword's full
    * posting list is corpus-sized (10^9 rows at 100 TB — the q111
    * boilerplate-skew case), so the list is never materialized;
    * row_number over the term partition is evaluated partially below
    * the exchange by WindowGroupLimit, so each map task forwards at
    * most k rows per term. All three shuffles (tf, per-term stats,
    * window) key on the term; postings emit flat (term, rank) rows —
    * the list shape without an unbounded array in any row.
    */
  private[graft] def invertedIndex(docs: DataFrame): DataFrame = {
    // grouped (term, doc_id), not termCounts' (doc_id, term): the
    // index is term-major, and its exchange keys stay term-first
    val tf = Text.terms(docs, col("doc_id"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    // count(CASE WHEN tf >= 1) — the q110 spelling that keeps this
    // branch's aggregate un-pruned so it shares the tokenize→explode
    // Exchange subtree with the window branch (ReuseExchange).
    val stats = tf.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"),
        sum(col("tf")).as("total_tf"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id").asc)
    tf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .join(stats, "term")
      .select(col("term"), col("df"), col("total_tf"), col("rnk"),
        col("doc_id"), col("tf"))
      .orderBy(col("term"), col("rnk"))
  }

  /** See the `q109_repetition` entry comment above for semantics. */
  private[graft] def repetition(docs: DataFrame): DataFrame = {
    val grams = docs
      .withColumn("wrds", Text.words(col("text")))
      .filter(size(col("wrds")) >= 2)
      .select(col("doc_id"),
        explode_outer(Text.wordTuples(col("wrds"), 2)).as("g"))
    // count per (doc, gram) on the cheap struct key; the gram STRING
    // materializes only for the per-doc distinct grams that survive
    // the first aggregation, never per occurrence.
    val cnt = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"),
        concat_ws(" ", col("g.w1"), col("g.w2")).as("gs"))
    cnt.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .as("dup_gram_occ"),
        max(struct(col("c").as("c"), col("gs").as("gs"))).as("top"))
      .select(col("doc_id"), col("n_grams"), col("dup_gram_occ"),
        col("top.gs").as("top_gram"), col("top.c").as("top_cnt"),
        (col("top.c") * 5 <= col("n_grams")).as("low_repetition"))
      .orderBy(col("doc_id"))
  }

  /** Exact-substring duplication risk (the Lee et al. "Deduplicating
    * Training Data" signal): fingerprint every 20-word window (md5 —
    * the digest both engines share, so the oracle replicates it), and
    * per document report how many of its windows also occur elsewhere
    * in the corpus. The scale-critical choice: duplication is
    * measured per WINDOW GROUP (groupBy fingerprint → occurrence
    * count → join back), never per document PAIR — a boilerplate
    * window shared by a million docs is one group row here but 10^12
    * pairs in a pair formulation. Two shuffles on the window key +
    * one on doc_id, all map-side combined; the high_overlap flag is
    * exact integer cross-multiplication (dup*5 >= total ⟺ ≥20% of
    * the doc is repeated corpus text).
    */
  private[graft] def dupSubstrings(docs: DataFrame): DataFrame = {
    val W = 20
    val w = docs
      .withColumn("wrds", Text.words(col("text")))
      .filter(size(col("wrds")) >= W)
    val win = w.select(col("doc_id"), explode_outer(
      transform(Text.ngrams(col("wrds"), W), g => md5(g))).as("h"))
    // `win` feeds both the occurrence aggregate and the join probe.
    // Pre-aggregating on (h, doc_id) makes the two consumers' shared
    // prefix — Exchange(h, doc_id) over the normalize→explode→md5
    // pipeline, the heaviest stage — a byte-identical subtree, so
    // ReuseExchange materializes it ONCE in shuffle files and both
    // branches read the same stage output: the effect of
    // persist/checkpoint, with the query still a pure stateless
    // DataFrame the oracle can recompute. `c` (a window's within-doc
    // occurrence count) keeps the per-occurrence semantics exact:
    // occ = corpus-total occurrences, n_windows = Σc per doc.
    // The boilerplate-skew case (one window in 10^6 docs) stays a
    // streamed sorted-merge probe against a 1-row-per-key build side,
    // never a buffered window partition.
    val wd = win.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
    val occ = wd.groupBy(col("h")).agg(sum(col("c")).as("occ"))
    wd.join(occ, "h")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("occ") > 1, col("c")).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows") * 5 >= col("n_windows")).as("high_overlap"))
      .orderBy(col("doc_id"))
  }

  /** Distributed TF-IDF with per-doc top-3 terms: tf keys on
    * (doc, term), df on term (both map-side combined; term skew on
    * stopwords is AQE's skew-join case), the corpus size N rides as a
    * one-row broadcast — the only broadcast hint, genuinely bounded.
    * idf = ln((N+1)/(df+1)) is snapped to 6 decimals on both engines,
    * so score = tf · idf6 is the same IEEE-754 product bit-for-bit;
    * the per-doc top-3 is a row_number window that WindowGroupLimit
    * evaluates partially below the doc_id exchange.
    *
    * Degenerate docs (NULL, empty, whitespace-only text) have no terms
    * ([[Text.terms]]), so they get no row and add nothing to df; the
    * oracle applies the identical `term <> ''` predicate.
    */
  private[graft] def tfidfTopK(docs: DataFrame): DataFrame = {
    val tf = Text.termCounts(docs, col("doc_id"))
    // count(CASE WHEN tf >= 1 THEN 1 END), not count(*): tf ≥ 1
    // always, so the value is identical — but the un-foldable tf
    // reference stops ColumnPruning from stripping the count out of
    // this branch's copy of the (doc, term) aggregate (plain
    // count(tf) doesn't survive either: count of a non-nullable
    // column rewrites to count(1) and re-unreferences it). With the
    // column kept, the df branch and the join probe share a
    // canonically identical Exchange(doc_id, term) subtree over the
    // explode, so AQE's ReuseExchange materializes the
    // tokenize→explode→count stage once (the q111 recipe; count(*)
    // planned a pruned functions=[] twin that re-ran the explode —
    // PlanShapeSpec pins the reused shape).
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val idf6 = snap6(log((col("n") + 1.0) / (col("df") + 1.0)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * idf6)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  def oracle: Map[String, String] = Map(
    "q320_burrows_delta" ->
      """WITH tok AS (SELECT source, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE w <> '' GROUP BY 1, 2),
        |top AS (SELECT w FROM (SELECT w,
        |    row_number() OVER (ORDER BY sum(c) DESC, w) AS rk
        |  FROM cnt GROUP BY w) WHERE rk <= 30),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
        |  FROM cnt GROUP BY 1),
        |grid AS (SELECT ns.source, top.w,
        |    (coalesce(cnt.c, 0) * 1000000) // ns.n_s AS f
        |  FROM top CROSS JOIN ns
        |  LEFT JOIN cnt ON cnt.source = ns.source AND cnt.w = top.w),
        |st AS (SELECT source, w, f,
        |    CAST(count(*) OVER (PARTITION BY w) AS BIGINT) AS k,
        |    CAST(sum(f) OVER (PARTITION BY w) AS BIGINT) AS sf,
        |    sum(CAST(f AS HUGEINT) * CAST(f AS HUGEINT))
        |      OVER (PARTITION BY w) AS sf2
        |  FROM grid),
        |dd AS (SELECT *, CAST(k AS HUGEINT) * sf2
        |    - CAST(sf AS HUGEINT) * CAST(sf AS HUGEINT) AS d2 FROM st),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CASE WHEN a.d2 > 0 THEN
        |      CAST(floor(CAST(a.k AS DOUBLE)
        |        * CAST(abs(a.f - b.f) AS DOUBLE) * 1e6
        |        / sqrt(CAST(a.d2 AS DOUBLE)) + 0.5) AS BIGINT)
        |    ELSE 0 END AS tm
        |  FROM dd a JOIN dd b ON a.w = b.w AND a.source < b.source)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(tm) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE)
        |    AS delta
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q325_word_burstiness" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |g AS (SELECT w, CAST(count(*) AS BIGINT) AS cf,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok WHERE w <> '' GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cf DESC, w)
        |    AS BIGINT) AS rank FROM g)
        |SELECT rank, w AS word, cf, df,
        |  floor(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS burstiness,
        |  floor(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6 + 0.5)
        |    / 1e6 AS df_share
        |FROM r, nd WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "q234_bpe_pairs" ->
      """WITH wds AS (SELECT unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS freq
        |  FROM wds WHERE len(w) >= 1 GROUP BY 1),
        |pr AS (SELECT freq, unnest(list_concat(
        |    CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)),
        |        i -> substr(w, CAST(i AS INT), 1) || ' '
        |          || substr(w, CAST(i AS INT) + 1, 1))
        |    ELSE CAST([] AS VARCHAR[]) END,
        |    [substr(w, len(w), 1) || ' </w>'])) AS pair
        |  FROM wf)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM pr GROUP BY 1 ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    "q247_cms_heavy_hitters" ->
      """WITH wds AS (SELECT unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS freq
        |  FROM wds WHERE len(w) >= 1 GROUP BY 1),
        |rows_ AS (SELECT w, freq, unnest([0, 1, 2, 3]) AS j FROM wf),
        |rb AS (SELECT w, freq, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))
        |      ::BIGINT % 1024 AS bucket
        |  FROM rows_),
        |counters AS (SELECT j, bucket, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM rb GROUP BY 1, 2),
        |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total
        |  FROM counters WHERE j = 0),
        |top AS (SELECT w, freq FROM wf ORDER BY freq DESC, w LIMIT 20),
        |tb AS (SELECT w, freq, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 8))
        |      ::BIGINT % 1024 AS bucket
        |  FROM (SELECT w, freq, unnest([0, 1, 2, 3]) AS j FROM top)),
        |est AS (SELECT w, freq, CAST(min(cnt) AS BIGINT) AS cms_est
        |  FROM tb JOIN counters USING (j, bucket) GROUP BY 1, 2)
        |SELECT w, freq AS exact_n, cms_est, cms_est - freq AS overcount,
        |  (cms_est - freq) * 1024 <= n_total * 2 AS bound_ok
        |FROM est, nt ORDER BY exact_n DESC, w""".stripMargin,

    "q245_zipf_slope" ->
      """WITH wds AS (SELECT unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |  FROM documents),
        |top AS (SELECT w, count(*) AS freq
        |  FROM wds WHERE len(w) >= 1 GROUP BY 1
        |  ORDER BY freq DESC, w LIMIT 1000),
        |r AS (SELECT freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT)
        |      AS rk
        |  FROM top),
        |m AS (SELECT
        |    CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS lx,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS ly
        |  FROM r),
        |g AS (SELECT count(*) AS n_terms,
        |    sum(CAST(lx AS DECIMAL(19,0))) AS sx,
        |    sum(CAST(ly AS DECIMAL(19,0))) AS sy,
        |    sum(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
        |      AS sxx,
        |    sum(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM m)
        |SELECT CAST(n_terms AS BIGINT) AS n_terms,
        |  floor(CAST(CAST(n_terms AS DECIMAL(19,0)) * sxy - sx * sy
        |      AS DOUBLE)
        |    / CAST(CAST(n_terms AS DECIMAL(19,0)) * sxx - sx * sx
        |      AS DOUBLE) * 1e6 + 0.5) / 1e6 AS zipf_slope
        |FROM g""".stripMargin,
    "q173_pmi" ->
      """WITH w AS (SELECT doc_id, list_distinct(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
        |      AS ws
        |  FROM documents),
        |dt AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |dtt AS (SELECT doc_id, term FROM dt WHERE term <> ''),
        |dfc AS (SELECT term, count(*) AS df FROM dtt GROUP BY 1),
        |top AS (SELECT term, df FROM dfc ORDER BY df DESC, term LIMIT 20),
        |f AS (SELECT dtt.doc_id, dtt.term FROM dtt
        |  JOIN top ON dtt.term = top.term),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pr AS (SELECT a.term AS term_a, b.term AS term_b,
        |    count(*) AS c_ab
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2)
        |SELECT term_a, term_b, c_ab, ta.df AS df_a, tb.df AS df_b,
        |  floor(ln(CAST(c_ab AS DOUBLE) * n
        |    / (CAST(ta.df AS DOUBLE) * tb.df)) * 1e6 + 0.5) / 1e6 AS pmi
        |FROM pr JOIN top ta ON ta.term = pr.term_a
        |JOIN top tb ON tb.term = pr.term_b, nn
        |ORDER BY term_a, term_b""".stripMargin,

    // integer sums cast ::DOUBLE before every division / ln (bare
    // 1.0 literals would pull DuckDB into exact DECIMAL arithmetic —
    // the q168 trap); the per-term cost is the same 1e-6-unit LONG
    // the Spark side broadcasts, so per-doc sums are exact.
    "q284_heaps_law" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tts AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
        |  FROM ws WHERE len(w) >= 3),
        |tt AS (SELECT doc_id,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT AS w FROM tts),
        |fd AS (SELECT w, min(doc_id) AS fdoc FROM tt GROUP BY 1),
        |dc AS (SELECT doc_id, count(*) AS n_toks FROM tt GROUP BY 1),
        |dw AS (SELECT doc_id, n_toks,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS pos,
        |    CAST(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_toks,
        |    CAST(count(*) OVER () AS BIGINT) AS n_docs
        |  FROM dc),
        |cps AS (SELECT (pos * 10) // n_docs AS k,
        |    max(doc_id) AS cp_doc,
        |    CAST(max(cum_toks) AS BIGINT) AS cum_toks
        |  FROM dw WHERE (pos * 10) % n_docs < 10
        |    AND (pos * 10) // n_docs >= 1
        |  GROUP BY 1),
        |vc AS (SELECT k, cp_doc, cum_toks, count(*) AS vocab
        |  FROM fd, cps WHERE fd.fdoc <= cps.cp_doc GROUP BY 1, 2, 3),
        |pts AS (SELECT k, cp_doc, cum_toks, vocab,
        |    CAST(floor(ln(CAST(cum_toks AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS lx,
        |    CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT) AS ly
        |  FROM vc),
        |ols AS (SELECT count(*) AS n_points,
        |    sum(CAST(lx AS DECIMAL(19,0))) AS sx,
        |    sum(CAST(ly AS DECIMAL(19,0))) AS sy,
        |    sum(CAST(lx AS DECIMAL(19,0)) * CAST(lx AS DECIMAL(19,0)))
        |      AS sxx,
        |    sum(CAST(lx AS DECIMAL(19,0)) * CAST(ly AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM pts)
        |SELECT CAST(k AS BIGINT) AS k, cp_doc, cum_toks,
        |  CAST(vocab AS BIGINT) AS vocab, n_points,
        |  CASE WHEN CAST(CAST(n_points AS DECIMAL(19,0)) * sxx - sx * sx
        |      AS DOUBLE) <> 0
        |    THEN floor(CAST(CAST(n_points AS DECIMAL(19,0)) * sxy - sx * sy
        |        AS DOUBLE)
        |      / CAST(CAST(n_points AS DECIMAL(19,0)) * sxx - sx * sx
        |        AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS beta
        |FROM pts, ols ORDER BY k""".stripMargin,

    "q266_rbo_rankings" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM t
        |  WHERE term <> '' GROUP BY 1, 2),
        |dfw AS (SELECT source, term, tf,
        |    count(*) OVER (PARTITION BY term) AS df FROM tf),
        |ns AS (SELECT count(DISTINCT source) AS ns FROM tf),
        |sc AS (SELECT source, term, tf,
        |    CAST(tf AS HUGEINT) * CAST(floor(ln(
        |      (CAST(ns AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |      * 1e6 + 0.5) AS HUGEINT) AS score
        |  FROM dfw, ns),
        |rk AS (SELECT source, term,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY tf DESC, term) AS rna,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, term) AS rnb
        |  FROM sc),
        |la AS (SELECT source, list(term ORDER BY rna) AS ra
        |  FROM rk WHERE rna <= 20 GROUP BY source),
        |lb AS (SELECT source, list(term ORDER BY rnb) AS rb
        |  FROM rk WHERE rnb <= 20 GROUP BY source),
        |r AS (SELECT source, ra, rb,
        |    list_sum(list_transform(range(1, 21), dd ->
        |      [1000000,900000,810000,729000,656100,590490,531441,
        |       478297,430467,387420,348678,313811,282430,254187,
        |       228768,205891,185302,166772,150095,135085][dd]
        |      * len(list_intersect(ra[1:dd], rb[1:dd]))
        |      * (232792560 // dd))) AS num
        |  FROM la JOIN lb USING (source))
        |SELECT source, ra[1] AS top_tf, rb[1] AS top_tfidf,
        |  CAST(len(list_intersect(ra, rb)) AS BIGINT) AS overlap20,
        |  CAST(num AS DOUBLE) * 0.1::DOUBLE / 232792560000000.0 AS rbo
        |FROM r ORDER BY source""".stripMargin,

    // same window-marginal shape; the nine c·ln c terms expand the
    // t() helper inline (HUGEINT products of snapped micro-nat longs)
    "q265_collocations" ->
      """WITH ws AS (SELECT string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |px AS (SELECT w, unnest(range(1, len(w))) AS pos
        |  FROM ws WHERE len(w) >= 2),
        |bg AS (SELECT w[pos] AS w1, w[pos + 1] AS w2, count(*) AS c
        |  FROM px GROUP BY 1, 2),
        |g AS (SELECT w1, w2, c,
        |    CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        |    CAST(sum(c) OVER (PARTITION BY w2) AS BIGINT) AS c2,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM bg),
        |sc AS (SELECT w1, w2, c, c1, c2,
        |    2 * ((CASE WHEN c > 0 THEN CAST(c AS HUGEINT)
        |        * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      + (CASE WHEN c1 - c > 0 THEN CAST(c1 - c AS HUGEINT)
        |        * CAST(floor(ln(CAST(c1 - c AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      + (CASE WHEN c2 - c > 0 THEN CAST(c2 - c AS HUGEINT)
        |        * CAST(floor(ln(CAST(c2 - c AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      + (CASE WHEN n - c1 - c2 + c > 0
        |        THEN CAST(n - c1 - c2 + c AS HUGEINT)
        |        * CAST(floor(ln(CAST(n - c1 - c2 + c AS DOUBLE))
        |          * 1e6 + 0.5) AS HUGEINT) ELSE 0 END)
        |      - (CASE WHEN c1 > 0 THEN CAST(c1 AS HUGEINT)
        |        * CAST(floor(ln(CAST(c1 AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      - (CASE WHEN n - c1 > 0 THEN CAST(n - c1 AS HUGEINT)
        |        * CAST(floor(ln(CAST(n - c1 AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      - (CASE WHEN c2 > 0 THEN CAST(c2 AS HUGEINT)
        |        * CAST(floor(ln(CAST(c2 AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      - (CASE WHEN n - c2 > 0 THEN CAST(n - c2 AS HUGEINT)
        |        * CAST(floor(ln(CAST(n - c2 AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)
        |      + (CASE WHEN n > 0 THEN CAST(n AS HUGEINT)
        |        * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
        |          AS HUGEINT) ELSE 0 END)) AS g2_micros
        |  FROM g WHERE CAST(c AS HUGEINT) * CAST(n AS HUGEINT)
        |    > CAST(c1 AS HUGEINT) * CAST(c2 AS HUGEINT))
        |SELECT w1, w2, c, c1, c2,
        |  CAST(g2_micros AS DOUBLE) / 1e6 AS g2
        |FROM sc ORDER BY g2_micros DESC, w1, w2 LIMIT 50""".stripMargin,

    "q255_kn_bigram" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |px AS (SELECT doc_id, w, unnest(range(1, len(w))) AS pos
        |  FROM ws WHERE len(w) >= 2),
        |db AS (SELECT doc_id, w[pos] AS w1, w[pos + 1] AS w2 FROM px),
        |bg AS (SELECT w1, w2, count(*) AS c FROM db GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
        |    count(*) AS n1w1
        |  FROM bg GROUP BY 1),
        |m2 AS (SELECT w2, count(*) AS nw2 FROM bg GROUP BY 1),
        |nb AS (SELECT count(*) AS nbb FROM bg),
        |model AS (SELECT w1, w2,
        |    CAST(-floor(ln(
        |      (CAST(c AS DOUBLE) - 0.75::DOUBLE) / CAST(cw1 AS DOUBLE)
        |      + 0.75::DOUBLE * CAST(n1w1 AS DOUBLE)
        |        / CAST(cw1 AS DOUBLE)
        |        * (CAST(nw2 AS DOUBLE) / CAST(nbb AS DOUBLE)))
        |      * 1e6 + 0.5) AS BIGINT) AS cost_micros
        |  FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2), nb),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(cost_micros) AS BIGINT) AS nll
        |  FROM db JOIN model USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST(nll AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e6
        |    AS avg_nll
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q197_lm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM (SELECT doc_id, unnest(string_split(lower(trim(
        |      regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' '))
        |      AS t FROM documents)
        |  WHERE t <> ''),
        |tf AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        |nv AS (SELECT (SELECT sum(c) FROM tf) AS n_corpus,
        |              least((SELECT count(*) FROM tf), 256) AS v),
        |vocab AS (SELECT term, c FROM tf ORDER BY c DESC, term LIMIT 256),
        |cost AS (SELECT term,
        |    -CAST(floor(ln(CAST(c + 1 AS DOUBLE)
        |        / CAST(n_corpus + v + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS lc
        |  FROM vocab, nv),
        |oov AS (SELECT
        |    -CAST(floor(ln(CAST(1 AS DOUBLE)
        |        / CAST(n_corpus + v + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS lc
        |  FROM nv)
        |SELECT doc_id, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE cost.lc IS NULL) AS oov_tokens,
        |  CAST(sum(coalesce(cost.lc, (SELECT lc FROM oov))) AS DOUBLE)
        |    / count(*) / 1e6 AS avg_nll
        |FROM toks LEFT JOIN cost USING (term)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q168_bm25" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY 1),
        |st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        |dfq AS (SELECT term, count(*) AS df FROM tf
        |  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1),
        |qi AS (SELECT term,
        |    floor(ln(1.0::DOUBLE + (CAST(n AS DOUBLE) - df + 0.5)
        |      / (df + 0.5)) * 1e6 + 0.5) / 1e6 AS idf,
        |    CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
        |  FROM dfq, st),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    qi.idf * (tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE
        |      * (0.25::DOUBLE + 0.75::DOUBLE
        |        * (CAST(dl.dl AS DOUBLE) / qi.avgdl))) AS score
        |  FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)),
        |p AS (SELECT doc_id,
        |    coalesce(sum(CASE WHEN term = 'spark' THEN score END),
        |      0.0::DOUBLE) AS s_spark,
        |    coalesce(sum(CASE WHEN term = 'merge' THEN score END),
        |      0.0::DOUBLE) AS s_merge,
        |    coalesce(sum(CASE WHEN term = 'window' THEN score END),
        |      0.0::DOUBLE) AS s_window
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, s_spark, s_merge, s_window,
        |  s_spark + s_merge + s_window AS bm25
        |FROM p ORDER BY bm25 DESC, doc_id
        |LIMIT 10""".stripMargin,

    "q109_repetition" ->
      """WITH w AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS wrds
        |  FROM documents
        |  WHERE len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) >= 2),
        |g AS (SELECT doc_id,
        |    unnest([wrds[i] || ' ' || wrds[i+1] FOR i IN range(1, len(wrds))]) AS gram
        |  FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
        |a AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_grams,
        |    CAST(coalesce(sum(c) FILTER (c > 1), 0) AS BIGINT) AS dup_gram_occ,
        |    max({'c': c, 'gs': gram}) AS top
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_grams, dup_gram_occ,
        |  struct_extract(top, 'gs') AS top_gram,
        |  CAST(struct_extract(top, 'c') AS BIGINT) AS top_cnt,
        |  struct_extract(top, 'c') * 5 <= n_grams AS low_repetition
        |FROM a ORDER BY doc_id""".stripMargin,

    "q111_dup_substrings" ->
      """WITH w AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS wrds
        |  FROM documents
        |  WHERE len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) >= 20),
        |win AS (SELECT doc_id,
        |    unnest([md5(array_to_string(wrds[i:i+19], ' '))
        |            FOR i IN range(1, len(wrds) - 18)]) AS h
        |  FROM w),
        |occ AS (SELECT h, count(*) AS occ FROM win GROUP BY h),
        |j AS (SELECT doc_id, occ FROM win JOIN occ USING (h))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 5 >= count(*) AS high_overlap
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q110_tfidf_topk" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE term != '' GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |    tf * (floor(ln((n + 1.0) / (df + 1.0)) * 1e6 + 0.5) / 1e6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rnk FROM s)
        |SELECT doc_id, rnk, term, tf, df, score
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q129_inverted_index" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM t
        |  WHERE term != '' GROUP BY term, doc_id),
        |s AS (SELECT term, count(*) AS df, sum(tf) AS total_tf
        |  FROM tf GROUP BY term),
        |r AS (SELECT term, doc_id, tf, row_number() OVER (
        |    PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk
        |  FROM tf)
        |SELECT r.term, CAST(s.df AS BIGINT) AS df,
        |  CAST(s.total_tf AS BIGINT) AS total_tf, r.rnk, r.doc_id, r.tf
        |FROM r JOIN s USING (term) WHERE r.rnk <= 3
        |ORDER BY term, rnk""".stripMargin,

    "q133_vocab_encode" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |e AS (SELECT unnest(toks) AS term FROM t),
        |cnt AS (SELECT term, count(*) AS cnt FROM e
        |  WHERE term != '' GROUP BY term),
        |v AS (SELECT term,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) - 1 AS INT)
        |      AS id
        |  FROM cnt ORDER BY cnt DESC, term ASC LIMIT 16),
        |m AS (SELECT map(list(term ORDER BY id), list(id ORDER BY id))
        |    AS vmap FROM v),
        |enc AS (SELECT doc_id, toks,
        |    list_transform(toks, x -> coalesce(map_extract(vmap, x)[1], -1))
        |      AS enc
        |  FROM t CROSS JOIN m)
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_filter(enc, x -> x = -1)) AS INT) AS n_oov,
        |  array_to_string(enc, ',') AS encoded
        |FROM enc ORDER BY doc_id""".stripMargin,

    "q144_distinctive_terms" ->
      """WITH t AS (SELECT source,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM t
        |  WHERE term != '' GROUP BY source, term),
        |ts AS (SELECT source, sum(tf) AS tot_s FROM tf GROUP BY source),
        |tt AS (SELECT term, sum(tf) AS tf_t FROM tf GROUP BY term),
        |tot AS (SELECT sum(tf) AS tot FROM tf),
        |sc AS (SELECT tf.source, tf.term, tf.tf,
        |    floor(ln((tf.tf + 1.0) / (ts.tot_s - tf.tf + 1.0)) * 1e6
        |      + 0.5) / 1e6
        |    - floor(ln((tt.tf_t + 1.0) / (tot.tot - tt.tf_t + 1.0)) * 1e6
        |      + 0.5) / 1e6 AS score
        |  FROM tf JOIN ts USING (source) JOIN tt USING (term)
        |    CROSS JOIN tot),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score DESC, term ASC) AS rnk FROM sc)
        |SELECT source, rnk, term, tf, score
        |FROM r WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,

    "q291_jsd_sources" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
        |ct AS (SELECT source, tok, c,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM cnt),
        |pr AS (SELECT a.source AS sa, b.source AS sb, a.c AS ca,
        |    b.c AS cb, a.n AS na, b.n AS nb
        |  FROM ct a JOIN ct b ON a.tok = b.tok AND a.source < b.source),
        |g AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS shared_types,
        |    max(na) AS na, max(nb) AS nb,
        |    CAST(sum(ca) AS BIGINT) AS sha,
        |    CAST(sum(cb) AS BIGINT) AS shb,
        |    sum(CAST(ca AS HUGEINT)
        |      * (CAST(floor(ln(CAST(CAST(ca AS HUGEINT) * 2 * nb
        |            AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |        - CAST(floor(ln(CAST(CAST(ca AS HUGEINT) * nb
        |            + CAST(cb AS HUGEINT) * na AS DOUBLE)) * 1e6 + 0.5)
        |          AS BIGINT))) AS s_a,
        |    sum(CAST(cb AS HUGEINT)
        |      * (CAST(floor(ln(CAST(CAST(cb AS HUGEINT) * 2 * na
        |            AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |        - CAST(floor(ln(CAST(CAST(ca AS HUGEINT) * nb
        |            + CAST(cb AS HUGEINT) * na AS DOUBLE)) * 1e6 + 0.5)
        |          AS BIGINT))) AS s_b
        |  FROM pr GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, shared_types,
        |  floor((CAST(s_a + CAST(na - sha AS HUGEINT) * 693147
        |      AS DOUBLE) / (2e6 * CAST(na AS DOUBLE))
        |    + CAST(s_b + CAST(nb - shb AS HUGEINT) * 693147
        |      AS DOUBLE) / (2e6 * CAST(nb AS DOUBLE))) * 1e6 + 0.5)
        |    / 1e6 AS jsd_nats
        |FROM g ORDER BY source_a, source_b""".stripMargin,

    "q302_capture_recapture" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tt AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
        |  FROM ws WHERE len(w) >= 3),
        |f AS (SELECT g,
        |    CAST(max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS in_even,
        |    CAST(max(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS in_odd
        |  FROM tt GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS observed_vocab,
        |    CAST(sum(in_even) AS BIGINT) AS n1,
        |    CAST(sum(in_odd) AS BIGINT) AS n2,
        |    CAST(sum(in_even * in_odd) AS BIGINT) AS m
        |  FROM f)
        |SELECT observed_vocab, n1, n2, m,
        |  floor((CAST(CAST(n1 + 1 AS HUGEINT) * CAST(n2 + 1 AS HUGEINT)
        |      AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0::DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS chapman_est
        |FROM a""".stripMargin,

    "q329_keyness_fdr" ->
      """WITH tk AS (SELECT source = 'src0' AS focus,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT tok,
        |    CAST(sum(CASE WHEN focus THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN focus THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM tk WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
        |    CAST(sum(b) AS BIGINT) AS nb FROM cnt),
        |g AS (SELECT tok, a, b,
        |    CAST(2 * (CASE WHEN a > 0 THEN CAST(a AS HUGEINT)
        |        * (CAST(floor(ln(CAST(CAST(a AS HUGEINT) * (na + nb)
        |            AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |          - CAST(floor(ln(CAST(CAST(na AS HUGEINT) * (a + b)
        |              AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) ELSE 0 END
        |      + CASE WHEN b > 0 THEN CAST(b AS HUGEINT)
        |        * (CAST(floor(ln(CAST(CAST(b AS HUGEINT) * (na + nb)
        |            AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |          - CAST(floor(ln(CAST(CAST(nb AS HUGEINT) * (a + b)
        |              AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) ELSE 0 END)
        |      AS DOUBLE) / 1e6 AS g2
        |  FROM cnt, tot WHERE a + b >= 5),
        |p AS (SELECT tok, a, b, g2,
        |    CASE WHEN g2 <= 0 THEN 1.0::DOUBLE ELSE
        |      2.0::DOUBLE * (0.3989422804014327::DOUBLE
        |        * exp(-g2 / 2.0::DOUBLE))
        |      * (0.319381530::DOUBLE / (1.0::DOUBLE
        |          + 0.2316419::DOUBLE * sqrt(g2))
        |        - 0.356563782::DOUBLE * pow(1.0::DOUBLE
        |          + 0.2316419::DOUBLE * sqrt(g2), -2.0::DOUBLE)
        |        + 1.781477937::DOUBLE * pow(1.0::DOUBLE
        |          + 0.2316419::DOUBLE * sqrt(g2), -3.0::DOUBLE)
        |        - 1.821255978::DOUBLE * pow(1.0::DOUBLE
        |          + 0.2316419::DOUBLE * sqrt(g2), -4.0::DOUBLE)
        |        + 1.330274429::DOUBLE * pow(1.0::DOUBLE
        |          + 0.2316419::DOUBLE * sqrt(g2), -5.0::DOUBLE)) END
        |      AS pval
        |  FROM g),
        |rk AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY pval, tok) AS BIGINT)
        |      AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM p),
        |ks AS (SELECT coalesce(max(CASE WHEN pval * CAST(m AS DOUBLE)
        |      <= CAST(rk AS DOUBLE) * 0.05::DOUBLE THEN rk END),
        |    CAST(0 AS BIGINT)) AS k_star FROM rk)
        |SELECT tok, a AS cnt_focus, b AS cnt_rest,
        |  floor(g2 * 1e6 + 0.5) / 1e6 AS g2,
        |  floor(pval * 1e6 + 0.5) / 1e6 AS p_value,
        |  rk AS p_rank, m AS n_tested, k_star AS n_rejected,
        |  rk <= k_star AS rejected
        |FROM rk, ks ORDER BY g2 DESC, tok LIMIT 15""".stripMargin,

    "q363_novelty_curve" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |bk AS (SELECT doc_id,
        |    CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS bkt, w
        |  FROM ws WHERE len(w) >= 3),
        |shs AS (SELECT bkt, unnest(list_transform(
        |    range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs
        |  FROM bk),
        |sh AS (SELECT DISTINCT bkt,
        |    ('0x' || substr(md5(gs), 1, 15))::BIGINT AS g FROM shs),
        |fb AS (SELECT g, min(bkt) AS first_bkt FROM sh GROUP BY 1),
        |j AS (SELECT sh.bkt, CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN fb.first_bkt = sh.bkt THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_novel
        |  FROM sh JOIN fb ON sh.g = fb.g GROUP BY 1)
        |SELECT bkt AS bucket, n_distinct, n_novel,
        |  floor(CAST(n_novel AS DOUBLE) / CAST(n_distinct AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS novelty_rate
        |FROM j ORDER BY bucket""".stripMargin,

    "q367_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT source, tok FROM st WHERE tok <> ''),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM f
        |  GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM f a JOIN f b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2),
        |grid AS (SELECT a.source AS source_a, b.source AS source_b,
        |    a.nv AS na, b.nv AS nb
        |  FROM sz a CROSS JOIN sz b WHERE a.source < b.source)
        |SELECT g.source_a, g.source_b, g.na, g.nb,
        |  coalesce(sh.c, 0) AS shared_vocab,
        |  floor(CAST(coalesce(sh.c, 0) AS DOUBLE)
        |    / CAST(g.na + g.nb - coalesce(sh.c, 0) AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS jaccard
        |FROM grid g LEFT JOIN sh ON g.source_a = sh.source_a
        |  AND g.source_b = sh.source_b
        |ORDER BY g.source_a, g.source_b""".stripMargin
  )
}
