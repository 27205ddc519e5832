package graft.ops

import graft.{QueryModule, Tables}
import graft.ops.Parity.snap6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (builder brief
  * "north star"; absent from the reference, which has no text ops at all —
  * its closest surface is the scalar string kernels, scalar.rs:150-199).
  *
  * Scale design — nothing here is O(n²) over the corpus:
  *   - exact dedup shuffles once on the content hash (map-side partial
  *     count), never compares texts pairwise;
  *   - MinHash/LSH ([[MinHash]]) generates candidates only within
  *     (band, key) buckets — expected bucket size is tiny and AQE
  *     skew-split handles pathological buckets; the exact-Jaccard
  *     verify touches candidate pairs only;
  *   - the n-gram variant blocks on (lang, length-bucket ±1) before any
  *     pairwise work;
  *   - SimHash blocks on exact 16-bit signature chunks (pigeonhole: any
  *     pair with Hamming distance ≤ 3 shares at least one of 4 chunks).
  */
object Dedup extends QueryModule {

  /** doc_id + distinct 3-word shingle set, pre-hashed to longs: all
    * pairwise set work (intersect/union) runs over 8-byte hashes, not
    * ~30-byte shingle strings — 4-5× less compare/shuffle cost, and the
    * Jaccard counts equal the string-set counts unless two distinct
    * shingles collide in xxhash64 (≈2⁻⁶⁴ per pair; the DuckDB oracle
    * computes over raw strings, so any collision would surface as a
    * deterministic mismatch).
    */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    val w = Text.words(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), w.as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        // sorted ONCE per document so pair verification can run the
        // native merge-walk intersect (graft_sorted_intersect) instead
        // of hashing per candidate pair; shingles3 is already distinct.
        array_sort(transform(Text.shingles3(col("words")), x => xxhash64(x)))
          .as("sh"))
  }

  /** Exact prefix-filter candidate pairs for the q62/q91 blocked
    * near-dup family. A self-join on (lang, 32-char length bucket)
    * alone does NOT scale — a growing corpus adds docs to the SAME
    * buckets, so per-block pairwise work grows quadratically (at 100×
    * it spilled > 76 GB of shuffle from a 2 GB corpus and died on
    * disk). Candidates meet in per-shingle posting lists restricted
    * to each doc's PREFIX (its ⌊m/2⌋+1 lowest-hash shingles): for
    * Jaccard ≥ 1/2, two sets must share at least ⌈m/2⌉ shingles, so
    * by pigeonhole their prefixes intersect — EXACT recall, unlike
    * MinHash bands (q61), so q62/q91's oracles can be the exact
    * blocked pair sets. The
    * lang/±1-bucket block condition is part of the pair DEFINITION and
    * is applied as a filter on the posting-list expansion; posting
    * lists ride the q216 explode-first shape (one corpus scan, one
    * shingle-hash exchange, per-token df² expansion bounded by prefix
    * rarity — linear per unit of corpus, measured at 10× and 100×).
    */
  private def blockedPrefixPairs(s: SparkSession, d: String): DataFrame = {
    val wd = Window.partitionBy(col("doc_id"))
    val ex = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        Text.words(col("text")).as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 32).cast("long").as("bkt"),
        explode(Text.shingles3(col("words"))).as("g"))
      .select(col("doc_id"), col("lang"), col("bkt"),
        xxhash64(col("g")).as("h"))
      .withColumn("sz", count(lit(1)).over(wd))
      .withColumn("pos", row_number().over(wd.orderBy(col("h"))))
      .filter(col("pos") <= col("sz") / 2 + 1)
    val cand = ex.groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("lang"), col("bkt")))
        .as("ds"))
      // drop singleton posting lists before the double explode — the
      // overwhelming majority (prefix shingles are rare by
      // construction), and they can't pair (the q216 shape)
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")
        && col("a.lang") === col("b.lang")
        && abs(col("a.bkt") - col("b.bkt")) <= 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, shingled(s, d).select(col("doc_id"), col("sh")), 50)
  }

  /** Exact dedup as a reusable library op (the [[graft.api.Frame]]
    * facade's `dedupExact`): normalize → sha256 → keep the lowest-id
    * row per content hash, every input column preserved plus the hash
    * and its copy count. One shuffle on the 32-byte hash;
    * count/row_number share the window exchange. q60 is this op plus
    * a projection.
    */
  private[graft] def dedupExact(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val h = Window.partitionBy(col("content_hash"))
    docs
      .withColumn("content_hash",
        sha2(Text.norm(col(textCol)).cast("binary"), 256))
      .withColumn("rn", row_number().over(h.orderBy(col(idCol))))
      .withColumn("n_copies", count(lit(1)).over(h))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** MinHash+LSH near-dup pairs as a reusable library op (the facade's
    * `dedupMinhashLsh`): [[MinHash]] signatures over md5-hashed
    * 3-word shingles, 8 bands of 2 rows, exact-Jaccard verification at
    * `minJaccardPct`. Candidates only ever meet inside a shared (band,
    * key) bucket, never pairwise over the corpus. 8×2 puts the S-curve
    * threshold at (1/8)^(1/2) ≈ 0.35, so a pair at Jaccard 0.8 is
    * missed with probability (1 − 0.8²)⁸ ≈ 3·10⁻⁴ (4×4: ≈ 0.12);
    * false candidates cost time, never correctness. Input contract:
    * `doc_id` + `textCol`. q61 is this op on the documents table plus
    * an output sort, and its oracle replays every stage.
    */
  private[graft] def minhashPairs(docs: DataFrame, minJaccardPct: Int = 80,
                                  textCol: String = "text"): DataFrame = {
    // the verify kernel's input and, exploded back, the signature's:
    // one scan feeds both
    val sets = hashSets(shingleHashes(docs, textCol))
    val sig = MinHash.sigRows(
      sets.select(col("doc_id"), explode(col("sh")).as("h")),
      Seq("doc_id"), "h")
    val cand = MinHash.candidates(MinHash.bandKeys(sig, Seq((8, 2))))
      .select(col("doc_a"), col("doc_b"))
    verifyPairs(cand, sets, minJaccardPct)
  }

  /** (doc_id, h): one row per 3-word shingle of each document with
    * at least 3 words, h = its 15-nibble md5 prefix — the MinHash
    * element of q61 and q271 (`sh` in the oracle's `minhashCte`).
    * Shingles explode BEFORE hashing, so md5 and the signature stay
    * codegen'd per row; an in-row HOF signature runs interpreted
    * (q271 measured 10-11 s at sf0.1 that way vs ~2 s).
    */
  private def shingleHashes(docs: DataFrame,
                            textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), Text.words(col(textCol)).as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(Text.shingles3(col("words"))).as("g"))
      .select(col("doc_id"), Text.md5Long(col("g"), 15).as("h"))

  /** (doc_id, sh): each document's sorted distinct `h` values, the
    * input [[verifyPairs]]' sorted-intersect kernel needs.
    */
  private def hashSets(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(array_sort(array_distinct(collect_list(col("h")))).as("sh"))

  /** Exact-Jaccard verification of candidate id pairs: joins the shingle
    * sets back (shuffle on doc_id, candidate-sized input) and keeps pairs
    * with Jaccard ≥ minJaccardPct/100, tested in exact integer arithmetic.
    */
  private def verifyPairs(cand: DataFrame, sh: DataFrame,
                          minJaccardPct: Int): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    // native two-pointer intersect over the pre-sorted distinct hash
    // sets (plans/SortedIntersect.scala): same count as
    // size(array_intersect(...)) but zero per-pair allocation — the
    // verify stage runs this once per CANDIDATE PAIR, which is the
    // hot loop of every dedup query.
    val inter = call_function("graft_sorted_intersect",
      col("sh_a"), col("sh_b"))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    // NOTE: no orderBy here — q61/q62 sort their OUTPUT, but q91 feeds
    // these pairs straight into symmetric edges + aggregation, where a
    // total sort would be pure waste (EliminateSorts usually removes
    // it, but an explicit non-sorted contract is cheaper than trusting
    // the optimizer across refactors).
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", inter)
      .withColumn("uni", uni)
      .filter(col("inter") * 100 >= col("uni") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Burst dedup on the event stream — telemetry's retry/double-click
    // problem: the same (user, type, value) firing repeatedly within
    // an hour is one logical event. Gaps-and-islands WITHOUT island
    // ids: "keep the first of each burst" is exactly the rows whose
    // gap to the previous same-key event exceeds the window — one lag
    // over the key-partitioned exchange, exact integer µs arithmetic
    // (never float timestamp math, the q209 rule), event_id tie-break
    // on equal timestamps. Scale shape: ONE shuffle on the dedup key,
    // then a map-side-combined per-type readout; the kept-row
    // predicate runs on a 100 TB stream unchanged (lag ≡
    // dropDuplicatesWithinWatermark's state lookup in streaming).
    "q246_event_dedup" -> ((s, d) => {
      val wKey = Window
        .partitionBy(col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(wKey))
        .withColumn("keep", col("prev_us").isNull
          || col("us") - col("prev_us") > 3600000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("n_dropped", col("n_events") - col("n_kept"))
        .withColumn("drop_share", col("n_dropped").cast("double")
          / col("n_events").cast("double"))
        .orderBy(col("event_type"))
    }),

    // Segment-level corpus dedup — the CCNet/RefinedWeb "line-level"
    // pass (strip boilerplate repeated across documents), re-expressed
    // over non-overlapping 8-word segments since the synthetic corpus
    // has no newlines. A segment occurrence survives iff it is the
    // corpus-wide FIRST occurrence of its content (row_number over the
    // segment exchange, (doc_id, pos) order) — repeated boilerplate is
    // kept once at its first appearance and stripped everywhere else,
    // including in-document repeats. Reassembly is order-preserving
    // WITHOUT a second window sort: array_sort over (pos, seg) structs
    // inside the per-doc aggregate. Scale shape: ONE shuffle keyed on
    // segment content + ONE re-group to docs — both plain hash
    // exchanges; nothing global, nothing pairwise, so the pass runs on
    // 100 TB exactly as written (segment cardinality ≈ corpus/8).
    "q249_segment_dedup" -> ((s, d) => {
      val segs = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), expr("(size(ws) + 7) DIV 8") - 1),
            i => array_join(
              slice(col("ws"), (i * 8 + 1).cast("int"), lit(8)), " "))))
        .withColumnRenamed("col", "seg")
      val wSeg = Window.partitionBy(col("seg"))
        .orderBy(col("doc_id"), col("pos"))
      segs
        .withColumn("keep", row_number().over(wSeg) === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("seg"))))),
            x => x.getField("seg")), " ").as("kept_text"))
        .withColumn("n_dropped", col("n_segments") - col("n_kept"))
        .withColumn("drop_share", col("n_dropped").cast("double")
          / col("n_segments").cast("double"))
        .select(col("doc_id"), col("n_segments"), col("n_kept"),
          col("n_dropped"), col("drop_share"), col("kept_text"))
        .orderBy(col("doc_id"))
    }),

    // Content-defined chunking dedup — the rsync/dedup-storage
    // boundary trick applied to corpus text, and the insertion-robust
    // complement of q249's fixed grid: a word ENDS its chunk when its
    // shared-md5 bucket ≡ 0 (mod 8), so chunk boundaries move WITH
    // the content (an inserted sentence shifts q249's every segment;
    // here only the chunk it lands in changes). Chunk ids are a
    // running boundary count per doc (one doc-keyed window, whose
    // exchange the (doc, chunk) re-group then reuses — doc_id ⊆ the
    // group keys, so EnsureRequirements plans no second shuffle);
    // shared-chunk attribution is one content-keyed aggregation
    // joined back. Exact longs; one final division. Scale shape:
    // doc-keyed window + content-keyed count — both plain hash
    // exchanges, chunk cardinality ≈ corpus/8.
    "q253_cdc_chunks" -> ((s, d) => {
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .select(col("doc_id"), posexplode(col("ws")))
        .withColumnRenamed("col", "w")
        .withColumn("bnd", when(pmod(Text.md5Long(col("w"), 8),
          lit(8L)) === 0L, 1L)
          .otherwise(0L))
        .withColumn("cid",
          coalesce(sum(col("bnd")).over(wDoc), lit(0L)))
        .groupBy(col("doc_id"), col("cid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("chunk"),
          count(lit(1)).as("chunk_words"))
      val freq = chunks.groupBy(col("chunk"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      chunks.join(freq, Seq("chunk"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L))
            .as("n_shared_chunks"),
          sum(when(col("n_docs_with") > 1, col("chunk_words"))
            .otherwise(0L)).as("shared_words"),
          sum(col("chunk_words")).as("n_words"))
        .withColumn("shared_share", col("shared_words").cast("double")
          / col("n_words").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // Shingle fan-out through the native `graft_shingles` GENERATOR
    // (plans/ShingleGenerator.scala — the UDTF surface): rows come
    // straight out of the Generate node with no intermediate n-gram
    // array materialized per document (the transform+posexplode
    // composition builds and discards a ~|doc|-element string array
    // per row). Per-doc positional shingle stats: count, distinct,
    // max position (pins the 0-based contiguous pos contract),
    // first shingle, duplicate share. One doc-keyed aggregation.
    "q260_shingle_gen" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), expr("graft_shingles(ws, 3)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("shingle")).as("n_distinct"),
          max(col("pos")).cast("long").as("max_pos"),
          min(when(col("pos") === 0, col("shingle")))
            .as("first_shingle"))
        .withColumn("dup_share",
          (col("n_shingles") - col("n_distinct")).cast("double")
            / col("n_shingles").cast("double"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm) — the GUARANTEED-detection local fingerprinting
    // scheme the hash-sampling families here (q67 rolling-hash
    // fingerprint, q258 MinHash) don't give: selecting each window's
    // minimum 3-gram hash guarantees any shared run ≥ w+k−1 words
    // shares a fingerprint, with density ≤ 2/(w+1) — the copy-detector
    // primitive. Window w = 4 over positional (NOT distinct) 3-gram
    // shared-md5 hashes; fingerprints = distinct (doc, h) where h is
    // its window's min; cross-doc sharing counted on the fingerprint
    // frame (corpus/(w/2)-sized, never raw grams). All exact integer;
    // the one division is density, NULL-guarded for docs too short to
    // fill a window (never divide by zero). Scale shape: a per-doc
    // pos window (doc-partitioned exchange), a distinct on (doc, h),
    // one count-distinct join back — no pairwise anything.
    "q316_winnowing" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), posexplode(Text.ngrams(col("ws"), 3)))
        .withColumnRenamed("col", "g")
        .select(col("doc_id"), col("pos").cast("long").as("p"),
          Text.md5Long(col("g"), 15).as("h"))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(-3, Window.currentRow)
      val marked = grams.withColumn("wm", min(col("h")).over(wWin))
      val fp = marked.filter(col("p") >= 3L && col("h") === col("wm"))
        .select(col("doc_id"), col("h")).distinct()
      val shared = fp.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("docs_with"))
      val perDoc = marked.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("p") >= 3L, 1L).otherwise(0L)).as("n_windows"))
      val fpStats = fp.join(shared, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("docs_with") > 1L, 1L).otherwise(0L)).as("n_sh"))
      perDoc.join(fpStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_windows"),
          coalesce(col("n_fp"), lit(0L)).as("n_fingerprints"),
          coalesce(col("n_sh"), lit(0L)).as("n_shared"),
          when(col("n_windows") > 0L,
            coalesce(col("n_fp"), lit(0L)).cast("double")
              / col("n_windows").cast("double")).as("density"))
        .orderBy(col("doc_id"))
    }),

    // exact dedup: normalize → sha256 → keep lowest doc_id per hash.
    // One shuffle on the 32-byte hash; count/row_number share the
    // window. Delegates to the library op [[dedupExact]] (the Frame
    // facade's entry point) — this query is the op plus a projection.
    "q60_dedup_exact" -> ((s, d) =>
      dedupExact(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("content_hash"), col("n_copies"))
        .orderBy(col("doc_id"))),

    // Bloom-filter FPR tuning curve — the fourth member of the
    // sketch-tuning family (q263 SimHash precision, q271 LSH
    // banding, q275 IVF nprobe): before a 100 TB decontamination /
    // delta-dedup pass ships a Bloom pre-filter (the q117 layout), it
    // sweeps (k hashes × m bits) on a sample and MEASURES the
    // false-positive rate. Universe = 3-shingle hashes; train split's
    // distinct shingles populate the filter (a relational Bloom: the
    // DISTINCT (scheme, bit) frame — exactly the bitmap a real filter
    // packs), held-out-only shingles probe it; claimed ⟺ all k bits
    // present (exact count == k). Bloom's no-false-negative law is
    // asserted IN the output (true_pos must equal n_pos_probes).
    // All exchanges ride compact (scheme, bit) / (scheme, h) keys.
    "q279_bloom_fpr" -> ((s, d) => {
      val schemes = Seq((2, 14), (4, 14), (2, 16), (4, 16))
      val schemeArr = explode(array(schemes.map { case (k, lm) =>
        struct(lit(k).as("k"), lit(lm).as("lm"))
      }: _*))
      val sh = Tables.documents(s, d)
        .withColumn("ws", Text.words(col("text")))
        .filter(size(col("ws")) >= 3)
        .withColumn("bkt", (col("doc_id") * 1103515245L + 12345L) % 100L)
        .select(col("bkt"), explode(Text.shingles3(col("ws"))).as("g"))
        .select(col("bkt"),
          Text.md5Long(col("g"), 15).as("h"))
        // train (×3 consumers) and held both re-derive this frame —
        // unmaterialized, the scan+shingle+md5 pipeline plans 4×. One
        // per-invocation localCheckpoint (the q300 rationale; never a
        // cross-run cache) leaves the train/held distincts reading
        // materialized (bkt, h) rows, and their identical subtrees
        // collapse to ReusedExchange in the final plan.
        //
        // The repartition by h before the checkpoint spreads it over
        // every core (the scan of a small local file is one split),
        // and makes both distincts (filters preserve partitioning)
        // exchange-free and parallel: one narrow (bkt, h) exchange
        // instead of one per distinct.
        .repartition(col("h"))
        .transform(graft.ops.Materialize.frame)
      val train = sh.filter(col("bkt") < 80L).select(col("h")).distinct()
      val nTrain = train.agg(count(lit(1)).as("n_train"))
      val held = sh.filter(col("bkt") >= 80L).select(col("h")).distinct()
        .join(train.select(col("h"), lit(1).as("seen")), Seq("h"), "left")
      def bitOf(h: Column): Column = pmod(
        Text.md5Long(concat(col("i").cast("string"), lit(":"),
          h.cast("string")), 12),
        expr("shiftleft(CAST(1 AS BIGINT), lm)"))
      val trainBits = train.select(col("h"), schemeArr.as("sc"))
        .select(col("h"), col("sc.k").as("k"), col("sc.lm").as("lm"))
        .select(col("h"), col("k"), col("lm"),
          explode(sequence(lit(0), col("k") - 1)).as("i"))
        .select(col("k"), col("lm"), bitOf(col("h")).as("bit"))
        .distinct()
      val probeBits = held.select(col("h"), col("seen"), schemeArr.as("sc"))
        .select(col("h"), col("seen"), col("sc.k").as("k"),
          col("sc.lm").as("lm"))
        .select(col("h"), col("seen"), col("k"), col("lm"),
          explode(sequence(lit(0), col("k") - 1)).as("i"))
        .select(col("h"), col("seen"), col("k"), col("lm"),
          bitOf(col("h")).as("bit"))
      probeBits
        .join(trainBits.select(col("k"), col("lm"), col("bit"),
          lit(1).as("hit")), Seq("k", "lm", "bit"), "left")
        .groupBy(col("k"), col("lm"), col("h"), col("seen"))
        .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L))
          .as("present"))
        .withColumn("claimed", col("present") === col("k").cast("long"))
        .groupBy(col("k"), col("lm"))
        .agg(
          sum(when(col("seen").isNull, 1L).otherwise(0L))
            .as("n_neg_probes"),
          sum(when(col("seen").isNull && col("claimed"), 1L)
            .otherwise(0L)).as("false_pos"),
          sum(when(col("seen").isNotNull, 1L).otherwise(0L))
            .as("n_pos_probes"),
          sum(when(col("seen").isNotNull && col("claimed"), 1L)
            .otherwise(0L)).as("true_pos"))
        .crossJoin(broadcast(nTrain))
        .select(col("k").cast("long").as("k"),
          expr("shiftleft(CAST(1 AS BIGINT), lm)").as("m_bits"),
          col("n_train"), col("n_neg_probes"), col("false_pos"),
          // no held-out-only shingles → FPR unmeasurable → NULL,
          // never an ANSI ÷0 (degenerate probe: 2-doc corpus)
          when(col("n_neg_probes") > 0,
            col("false_pos").cast("double")
              / col("n_neg_probes").cast("double")).as("fpr"),
          col("n_pos_probes"), col("true_pos"))
        .orderBy(col("m_bits"), col("k"))
    }),

    // Near-dup transitivity audit — the cluster-quality check before
    // a connected-components dedup (q91) commits: CC treats the
    // pairwise relation as transitive, but Jaccard ≥ τ is NOT
    // transitive, so open wedges (a~b, b~c, a≁c) mean CC will chain
    // unrelated documents through middlemen. Measures the wedge
    // closure rate over the q62-blocked, exactly-verified (τ = 0.5)
    // pair graph: edges → wedges by middle vertex (a < c so each
    // wedge counts once per middle), closed iff (a, c) is itself a
    // verified pair. All joins are on the BOUNDED verified-pair
    // frame, never the corpus; counts exact, one division.
    "q276_transitivity" -> ((s, d) => {
      // The pair graph comes from [[blockedPrefixPairs]]: pairs in
      // the same lang, 32-char length buckets within ±1, exact
      // Jaccard ≥ 1/2, through the q62/q91 prefix-filtered candidate
      // stage, whose work stays linear in the corpus (prefix
      // filtering has exact recall at J ≥ 1/2). A per-invocation
      // eager localCheckpoint serves the four consumers (edges ×2,
      // n_pairs, wedge closure probe) from the materialized bounded
      // pair frame, recomputed from parquet on every invocation.
      val pairs = blockedPrefixPairs(s, d)
        .select(col("doc_a"), col("doc_b")).transform(graft.ops.Materialize.frame)
      val edges = pairs
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst")
      val wedges = edges.as("e1").join(edges.as("e2"),
          col("e1.dst") === col("e2.src") &&
            col("e1.src") < col("e2.dst"))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      val np = pairs.agg(count(lit(1)).as("n_pairs"))
      val out = wedges
        .join(pairs.select(col("doc_a").as("a"), col("doc_b").as("c"),
          lit(1).as("cl")), Seq("a", "c"), "left")
        .agg(count(lit(1)).as("n_wedges"),
          sum(when(col("cl").isNotNull, 1L).otherwise(0L))
            .as("n_closed"))
        .crossJoin(np)
        .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
          when(col("n_wedges") > 0L, col("n_closed").cast("double")
            / col("n_wedges").cast("double")).otherwise(lit(1.0))
            .as("closure_rate"))
      out
    }),

    // Dedup-impact audit — what does exact dedup actually REMOVE?
    // The selection-bias check every pipeline owes itself before
    // trusting post-dedup corpus statistics (if duplicates skew
    // short/templated, dedup silently shifts the length and
    // vocabulary mix). q60's keep-first rule splits the corpus into
    // kept/dropped; per side: docs, total words, distinct-type and
    // stopword totals, with words-per-doc / type-token-ratio /
    // stopword-share as AGGREGATE ratios (sum/sum — exact single
    // divisions; mean-of-per-doc-ratios would need per-doc snapping).
    // One content-hash exchange (the q60 shuffle), per-doc stats
    // computed in-row before it, one 2-row readout.
    "q273_dedup_impact" -> ((s, d) => {
      val stops = Seq("the", "a", "and", "of", "to", "in", "is")
        .map(w => s"'$w'").mkString("(", ", ", ")")
      val h = Window.partitionBy(col("content_hash"))
      Tables.documents(s, d)
        .withColumn("content_hash",
          sha2(Text.norm(col("text")).cast("binary"), 256))
        .withColumn("ws", Text.words(col("text")))
        .withColumn("n_words", size(col("ws")).cast("long"))
        .withColumn("n_types",
          size(array_distinct(col("ws"))).cast("long"))
        .withColumn("n_stops",
          expr(s"CAST(size(filter(ws, w -> w IN $stops)) AS LONG)"))
        .withColumn("rn", row_number().over(h.orderBy(col("doc_id"))))
        .select(when(col("rn") === 1, "kept").otherwise("dropped")
          .as("status"), col("n_words"), col("n_types"), col("n_stops"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_types")).as("total_types"),
          sum(col("n_stops")).as("total_stops"))
        .select(col("status"), col("n_docs"), col("total_words"),
          (col("total_words").cast("double")
            / col("n_docs").cast("double")).as("words_per_doc"),
          (col("total_types").cast("double")
            / col("total_words").cast("double")).as("type_token_ratio"),
          (col("total_stops").cast("double")
            / col("total_words").cast("double")).as("stop_share"))
        .orderBy(col("status"))
    }),

    // Duplicate-cluster size distribution — the dedup DIAGNOSTIC that
    // precedes the q60 pass: how much of the corpus sits in clusters
    // of 1, 2, 3... identical documents, and what share of rows a
    // keep-first dedup would delete. Two keyed aggregations (hash →
    // cluster size, size → cluster count; both map-side combined —
    // no window, unlike q60 which must carry row payloads) plus a
    // 1-row broadcast total; shares are exact-long divisions.
    "q214_dup_profile" -> ((s, d) => {
      val clusters = Tables.documents(s, d)
        .withColumn("content_hash",
          sha2(Text.norm(col("text")).cast("binary"), 256))
        .groupBy(col("content_hash")).agg(count(lit(1)).as("csize"))
      val tot = clusters.agg(sum(col("csize")).as("n_docs"))
      clusters.groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs_in_tier"),
          ((col("csize") - 1) * col("n_clusters")).as("would_delete"),
          ((col("csize") * col("n_clusters")).cast("double")
            / col("n_docs").cast("double")).as("doc_share"))
        .orderBy(col("csize"))
    }),

    // MinHash + LSH near-dup pairs, exact-Jaccard-verified at ≥ 0.8:
    // the library op [[minhashPairs]] (the Frame facade's
    // `dedupMinhashLsh`). The oracle replays the whole pipeline —
    // md5 shingle hashes, signatures, 8×2 band keys, candidate pairs,
    // the exact verify — so a green row pins every stage on any
    // corpus. The exact ≥ 0.8 pair set is q158's oracle.
    "q61_dedup_minhash" -> ((s, d) =>
      minhashPairs(Tables.documents(s, d), 80)
        .orderBy(col("doc_a"), col("doc_b"))),

    // exact n-gram Jaccard near-dup with deterministic blocking: a pair
    // is compared iff same lang and 32-char length buckets within ±1,
    // AND their lowest-hash shingle PREFIXES intersect — the
    // pigeonhole-exact filter that keeps candidate volume linear in
    // the corpus (length buckets alone stop discriminating as the
    // corpus grows: every new doc lands in an existing bucket). The
    // verified pair set is the blocked all-pairs set (prefix
    // filtering has exact recall at Jaccard ≥ 1/2); see
    // [[blockedPrefixPairs]].
    "q62_dedup_ngram" -> ((s, d) =>
      blockedPrefixPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // embedding-cosine near-dup: pairs whose embedding cosine clears the
    // threshold, candidates blocked by the label column (the precomputed
    // IVF coarse cell, as in q76) — within-cell pairwise only, never
    // corpus × corpus. At 100 TB the cell id is the partition key, so
    // each cell's O(|cell|²) pair work is local to its partition and
    // bounded by cell size (AQE skew-split covers pathological cells).
    // The synthetic corpus plants no embedding-space duplicates (max
    // within-cell cosine ≈ 0.47 at sf0.01), so the threshold 0.4 is set
    // to exercise the path on a small non-empty pair set; scores are
    // bit-exact vs the oracle (see Similarity's determinism note), so
    // the boundary comparison cannot flip between engines.
    "q68_dedup_embed" -> ((s, d) => {
      val t = Similarity.corpus(s, d)
      val a = t.select(col("label"), col("vec_id").as("vec_a"),
        col("emb").as("emb_a"), col("nrm").as("nrm_a"))
      val b = t.select(col("label"), col("vec_id").as("vec_b"),
        col("emb").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, "label")
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          (Similarity.dot(col("emb_a"), col("emb_b"))
            / (col("nrm_a") * col("nrm_b"))).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        // dedup decision: the lower id is the canonical survivor.
        .withColumn("keep", col("vec_a"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // near-dup CLUSTERING: pairwise matches only say "a~b"; production
    // dedup needs the transitive closure (a~b, b~c ⟹ one cluster, keep
    // one canonical doc). Connected components via min-label
    // propagation — each iteration is one distributed join + min-agg
    // (the Pregel/GraphX shape; iterations = cluster diameter, 1-3 for
    // near-dup graphs), each round checkpointed so lineage doesn't
    // re-derive the edge set per round and only convergence COUNTS
    // reach the driver, never rows. Edges are q62's blocked ≥0.5-Jaccard pairs (via the
    // prefix-filter candidate stage — see [[blockedPrefixPairs]]); the
    // oracle computes the same closure with a recursive CTE.
    "q91_dedup_clusters" -> ((s, d) => {
      val pairs = blockedPrefixPairs(s, d)
        .select(col("doc_a"), col("doc_b"))
      // Per-invocation eager localCheckpoints, never persist(): a
      // persisted frame would outlive the invocation, and a
      // CacheManager hit from a warm-up pass could serve a timed one;
      // a localCheckpoint LogicalRDD can never match a previous
      // invocation's plan, and stale checkpoint blocks are dropped by
      // the ContextCleaner once the loop releases the reference.
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .transform(graft.ops.Materialize.frame)
      var labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"))
      var changed = 1L
      while (changed > 0) {
        val prop = labels.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), col("comp"))
          .union(labels)
          .groupBy("id").agg(min("comp").as("comp"))
          .transform(graft.ops.Materialize.frame)
        changed = prop.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .filter(col("n.comp") =!= col("o.comp")).count()
        labels = prop
      }
      labels
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("comp"))))
        .select(col("id").as("doc_id"), col("comp"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // SimHash bit-balance health check — the sketch-health audit for
    // the q63 family: each of the 60 fingerprint bits should be ~0.5
    // ones across a healthy corpus (the bit is a random hyperplane
    // sign); a skewed bit carries less than one bit of information,
    // so systematic skew silently degrades Hamming resolution (e.g. a
    // template token dominating every document). One native-kernel
    // pass, a 60× in-row bit fan-out, one 60-row readout; the skew
    // flag |share−0.5| > 0.1 is the exact integer test 5·|2·ones−n| >
    // n. Registers-style mergeability: ones-counts sum across shards.
    "q278_simhash_bits" -> ((s, d) => {
      simhashed(s, d)
        .select(posexplode(expr(
          "transform(sequence(0, 59), b -> shiftrightunsigned(simhash, b) & 1)"))
          .as(Seq("bit", "v")))
        .groupBy(col("bit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("v")).as("ones"))
        .select(col("bit").cast("long").as("bit"), col("n_docs"),
          col("ones"),
          (col("ones").cast("double") / col("n_docs").cast("double"))
            .as("one_share"),
          (abs(col("ones") * 2L - col("n_docs")) * 5L > col("n_docs"))
            .as("skewed"))
        .orderBy(col("bit"))
    }),

    // SimHash: 64-bit bit-majority signature over per-word hashes,
    // computed per-row with a native one-pass kernel (no shuffle), then
    // near-dup pairs via 16-bit chunk blocking + Hamming ≤ 3. The word
    // hash is an md5 prefix (wordHash below) rather than xxhash64
    // precisely so the ENTIRE pipeline — fingerprints, chunk blocking,
    // Hamming gate — is bit-reproducible in the DuckDB oracle: the
    // green row pins every simhash bit cross-engine, the strongest
    // check a sketch operator can get. (An exact-Jaccard oracle was
    // measured and rejected: on this corpus's ~90-word documents the
    // true ≥0.8-Jaccard pairs span Hamming 0-12, so NO simhash
    // parameterization recalls them all — 64-bit simhash bit-majorities
    // concentrate too weakly at that document length. Near-dup mining
    // with recall guarantees is q61's MinHash-LSH; q63 is the
    // fingerprint operator, verified as such.)
    "q63_dedup_simhash" -> ((s, d) => {
      val sim = simhashed(s, d)
      val chunks = sim.select(col("doc_id"), col("simhash"), posexplode(
        array((0 until 4).map { c =>
          shiftrightunsigned(col("simhash"), 16 * c).bitwiseAND(lit(0xFFFFL))
        }: _*)).as(Seq("chunk_id", "chunk_val")))
      chunks.as("x").join(chunks.as("y"),
          col("x.chunk_id") === col("y.chunk_id") &&
            col("x.chunk_val") === col("y.chunk_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        // filter BEFORE distinct: the Hamming predicate is free per row,
        // the distinct is a shuffle — dedupe only verified near-dups,
        // not the whole candidate set.
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // LSH banding-scheme tuning curve — q263's companion for the
    // MinHash side: sweep the three (bands × rows) factorizations of
    // a 16-perm signature (8×2, 4×4, 2×8 — S-curve thresholds ≈
    // (1/b)^(1/r) = 0.35 / 0.71 / 0.92) and measure candidate yield
    // and verified precision (exact Jaccard ≥ 0.8 by [[verifyPairs]]).
    // This is the sweep a team runs ONCE on a sample before committing
    // a banding to the 100 TB pass; q61 serves the 8×2 row. Signatures, band keys and
    // candidates are the shared [[MinHash]] op. Shingle sets attach
    // only to the distinct pairs across all three schemes — the
    // verdict is a function of the pair alone — so the exact-Jaccard
    // kernel runs once per pair, and the verified pairs left-join back
    // to the per-scheme candidate sets. ONE scheme-keyed readout.
    "q271_lsh_tuning" -> ((s, d) => {
      val shex = shingleHashes(Tables.documents(s, d))
        // sets AND the signature consume shex: one per-invocation
        // checkpoint runs the scan+shingle+md5 pipeline once instead
        // of once per consumer. The doc_id repartition before it
        // spreads the 16-hash signature stage over every core (the
        // scan of a sub-128 MB file is one split), and both
        // consumers' (doc_id)- and (doc_id, p)-keyed aggregates are
        // then exchange-free.
        .repartition(col("doc_id"))
        .transform(graft.ops.Materialize.frame)
      val sets = hashSets(shex)
      val cand = MinHash.candidates(MinHash.bandKeys(
        MinHash.sigRows(shex, Seq("doc_id"), "h"),
        Seq((8, 2), (4, 4), (2, 8))))
      val verified = verifyPairs(
        cand.select(col("doc_a"), col("doc_b")).distinct(), sets, 80)
      cand.join(verified, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_candidates"),
          count(col("jaccard")).as("n_verified"))
        .select(col("bands").cast("long").as("bands"),
          expr("CAST(16 DIV bands AS BIGINT)").as("rows_per_band"),
          when(col("bands") === 8, 0.353553)
            .when(col("bands") === 4, 0.707107)
            .otherwise(0.917004).as("s_threshold"),
          col("n_candidates"), col("n_verified"),
          (col("n_verified").cast("double")
            / col("n_candidates").cast("double")).as("precision"))
        .orderBy(col("bands"))
    }),

    // Sketch-quality eval for the q63 SimHash predicate — the tuning
    // loop every sketch deployment needs before committing a 100 TB
    // dedup pass: on the chunk-blocked candidate space, score the
    // cheap predicate (Hamming ≤ 3) against exact ground truth
    // (Jaccard ≥ 0.5, decided by the integer cross-multiplication
    // 3·|A∩B| ≥ |A|+|B| — no float threshold) and emit the confusion
    // matrix + precision. Exact intersections via the native
    // graft_sorted_intersect kernel over once-per-doc sorted distinct
    // word-hash sets — the corpus is never paired, only blocked
    // candidates are verified (the same verify-stage shape as
    // q61/q158); precision and the actual-positive share are single
    // divisions of exact longs.
    "q263_simhash_eval" -> ((s, d) => {
      // one base frame carries BOTH the fingerprint and the sorted
      // word-hash set through the chunk self-join, so the corpus is
      // scanned once and the second side is a ReusedExchange — the
      // joined-back alternative (pairs ⋈ sets ⋈ sets) planned three
      // scans of the md5 pipeline. The u arrays ride the candidate
      // shuffle, the exact verdict is computed per candidate row, and
      // pair dedup happens on the COMPACT (ids, pred, act) projection,
      // never on the arrays.
      //
      // Occupancy cap (structural, so no count-derived sample and
      // no third corpus scan): the chunk-block candidate space is 4 × 2¹⁶ keys, which
      // SATURATES past ~10⁵ docs — per-key occupancy and hence pair
      // count then grow quadratically with the corpus (measured 38×
      // wall for 10× data uncapped). The cap keeps
      // the 8 lowest doc_ids per (chunk_id, chunk_val) posting list —
      // a rank-filtered partitioned window, so WindowGroupLimit bounds
      // each map task at 8 rows per key BEFORE the shuffle and the
      // candidate space is ≤ 4·2¹⁶·C(8,2) pairs at ANY corpus size, no
      // corpus count needed. Keys under 8 docs (every key at the
      // verify/bench sfs' planted-cluster sizes, bar chance 16-bit
      // collisions) are untouched; hot keys contribute a bounded,
      // deterministic candidate sample — the practice the query's own
      // purpose implies (tune the predicate on a bounded eval, commit
      // the banding to the full pass). The cap is mirrored in the
      // DuckDB oracle (QUALIFY row_number over the same posting list).
      val docs0 = Tables.documents(s, d).filter(col("text").isNotNull)
      val wh = transform(
        array_distinct(Text.words(coalesce(col("text"), lit("")))),
        w => wordHash(w))
      val base = docs0
        .select(col("doc_id"), wh.as("wh"))
        .select(col("doc_id"),
          call_function("graft_simhash", col("wh")).as("simhash"),
          array_sort(array_distinct(col("wh"))).as("u"))
      val chunks = base.select(col("doc_id"), col("simhash"), col("u"),
        posexplode(array((0 until 4).map { c =>
          shiftrightunsigned(col("simhash"), 16 * c)
            .bitwiseAND(lit(0xFFFFL))
        }: _*)).as(Seq("chunk_id", "chunk_val")))
        .withColumn("occ", row_number().over(
          Window.partitionBy(col("chunk_id"), col("chunk_val"))
            .orderBy(col("doc_id"))))
        .filter(col("occ") <= 8)
        .drop("occ")
      chunks.as("x").join(chunks.as("y"),
          col("x.chunk_id") === col("y.chunk_id") &&
            col("x.chunk_val") === col("y.chunk_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          (bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
            <= 3).as("pred"),
          (expr("graft_sorted_intersect(x.u, y.u)").cast("long") * 3L
            >= (size(col("x.u")) + size(col("y.u"))).cast("long"))
            .as("act"))
        .distinct()
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("pred") && col("act"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && !col("act"), 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && col("act"), 1L).otherwise(0L))
            .as("fn"),
          sum(when(!col("pred") && !col("act"), 1L).otherwise(0L))
            .as("tn"))
        .withColumn("precision",
          when(col("tp") + col("fp") > 0L, col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double")).otherwise(lit(0.0)))
        .withColumn("actual_share",
          (col("tp") + col("fn")).cast("double")
            / col("n_candidates").cast("double"))
    }),

    // Fuzzy entity matching — edit-distance record linkage, the family
    // MinHash/SimHash can't serve (they see token sets; "old gear" vs
    // "red gear" is a CHARACTER-level near-match). Scale shape: the
    // corpus contributes only a map-side-combined distinct-name
    // dictionary (vocabulary-sized, orders of magnitude below row
    // count — the same collapse q133's vocab build rides); pairwise
    // levenshtein then runs on dictionary × dictionary WITHIN a
    // last-token block (pigeonhole: near-identical product names share
    // their noun), so the quadratic term is |block|², never |corpus|².
    // Each name carries its corpus frequency so downstream merge can
    // pick the canonical (most frequent) spelling.
    "q152_fuzzy_match" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("noun", substring_index(col("p_name"), " ", -1))
      names.as("a").join(names.as("b"),
          col("a.noun") === col("b.noun")
            && col("a.p_name") < col("b.p_name"))
        .withColumn("edit_dist",
          levenshtein(col("a.p_name"), col("b.p_name")))
        .filter(col("edit_dist") <= 2)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          col("edit_dist"),
          col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // Jaro-Winkler entity linkage — q152's edit-distance companion
    // with the similarity measure record-linkage actually standardized
    // on (prefix-weighted, transposition-tolerant — "cold widget" vs
    // "old widget" scores 0.970 where levenshtein just says 1):
    // same last-token blocking (an adjective typo keeps the noun, so
    // candidates stay within noun groups — never all-pairs), scored by
    // the native [[graft.plans.JaroWinklerSim]] codegen kernel and
    // gated at ≥ 0.94. The DuckDB oracle runs its own built-in
    // jaro_winkler_similarity over the same blocked pairs — an
    // independent implementation agreeing on every score (6-decimal
    // snap absorbs final-polynomial association order). Scale: the
    // name-frequency groupBy collapses the corpus to distinct names
    // first; the self-join is blocked equi-join on the noun.
    "q227_jaro_linkage" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("noun", substring_index(col("p_name"), " ", -1))
      names.as("a").join(names.as("b"),
          col("a.noun") === col("b.noun")
            && col("a.p_name") < col("b.p_name"))
        .withColumn("jw", snap6(call_function("graft_jaro_winkler",
          col("a.p_name"), col("b.p_name"))))
        .filter(col("jw") >= 0.94)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          col("jw"),
          col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // Prefix-filtered set-similarity join (the PPJoin/AllPairs family,
    // Xiao et al.) — the THIRD independent candidate scheme in this
    // module (q61 hashes to LSH bands, q62 blocks on lang+length, this
    // one exploits the prefix pigeonhole): fix ONE global total order
    // on the shingle universe, and index only each doc's PREFIX of
    // length |s|−⌈t·|s|⌉+1 under that order — two sets with Jaccard
    // ≥ t MUST share a prefix element (if they disagreed on all of
    // both prefixes, the overlap couldn't reach t), so recall is 100%
    // by construction. The classic papers order by ascending document
    // frequency to shrink posting lists; here the order is the
    // xxhash64 VALUE — a fixed uniform-random permutation of the
    // universe that `shingled` has ALREADY sorted each set by, so the
    // prefix is a zero-shuffle `slice` instead of a df groupBy + join
    // + per-doc row_number window (three extra shuffles and ~8 s of
    // extra lineage recompute at sf0.1; hash order costs ~2× the
    // candidates, 82k vs 43k, which the verify stage absorbs at ~µs
    // each — 1.4 s total). The prefix
    // bound is exact integer arithmetic ((8·sz+9) DIV 10 — a float
    // 0.8·sz could round the prefix SHORT and silently lose recall);
    // the size-ratio prune (min/max ≥ 0.8, implied by the threshold)
    // cuts candidates before the distinct. Shingle space, not word
    // space: the templated corpus has a ~40-word vocabulary, so
    // word-level Jaccard ≥ 0.7 matches ~everything (51k pairs at
    // sf0.01 — measured, a runaway), while 3-word shingles
    // discriminate (25 true pairs at sf0.01). Verification is the
    // shared native sorted-intersect kernel. The oracle (the
    // independent quadratic exact-Jaccard pair set) green proves this
    // candidate scheme has 100% recall, via entirely different
    // mathematics than q61's LSH banding.
    "q158_ppjoin" -> ((s, d) => {
      val sh = shingled(s, d).select(col("doc_id"), col("sh"))
      val pref = sh.select(col("doc_id"), size(col("sh")).as("sz"),
          explode(expr(
            "slice(sh, 1, size(sh) - ((size(sh) * 8 + 9) DIV 10) + 1)"))
            .as("h"))
      // pair generation by posting list, NOT a pref⋈pref self-join: the
      // self-join form makes Catalyst infer isnotnull(sz) from the join
      // condition and push it below the Generate, which re-inlines the
      // whole shingle pipeline (split() re-evaluated per array element)
      // into a pre-join Filter — measured 23 s at sf0.1 for a join
      // whose real work is milliseconds. Grouping the prefix index by
      // shingle and expanding each posting list in place computes the
      // lineage ONCE, shuffles once (on h), and bounds the expansion by
      // the posting-list length (≤ 22 at sf0.1 — prefix shingles are
      // rare by construction). 0.9 s at sf0.1.
      val cand = pref.groupBy(col("h"))
        .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(col("ds")).as("a"), col("ds"))
        .select(col("a.doc_id").as("doc_a"), col("a.sz").as("sz_a"),
          explode(col("ds")).as("b"))
        .filter(col("doc_a") < col("b.doc_id")
          && col("sz_a") * 10 >= col("b.sz") * 8
          && col("b.sz") * 10 >= col("sz_a") * 8)
        .select(col("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyPairs(cand, sh, 80)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Asymmetric shingle CONTAINMENT dedup — q158's symmetric
    // prefix-filter finds near-equal pairs; this finds doc_a CONTAINED
    // in doc_b (|A∩B| ≥ 0.8·|A|, no constraint on |B|): the
    // quote/excerpt/superset case symmetric Jaccard misses by
    // construction (a 10-shingle quote inside a 1000-shingle page has
    // J ≈ 0.01). Prefix pigeonhole still applies on the CONTAINED side
    // only: if B holds ≥ 80% of A's shingles, any ⌈0.2·|A|⌉+1 of A's
    // shingles include one in B — so A explodes just its prefix while
    // B posts its FULL shingle set (the inverted-index leg; linear in
    // corpus shingle count, the same scale class as q129's index).
    // Pair expansion is bounded by full-posting-list length; the
    // verify stage re-checks candidates in exact integer
    // cross-multiplication. Output is DIRECTED (a⊂b and b⊂a are
    // distinct rows; equal sets emit both).
    "q216_containment" -> ((s, d) => {
      val sh = shingled(s, d).select(col("doc_id"), col("sh"))
      // Candidate generation runs on an explode-FIRST frame: raw
      // shingle strings explode straight out of shingles3 and are
      // hashed per exploded row — never explode(array_sort(transform(
      // ...)): Generate re-evaluates the hashed-sorted-array expression
      // per output element, measured 11.3 s vs 0.62 s at sf0.1 (the
      // q158 re-evaluation trap, element-count-scaled). Prefix
      // membership ("A's lowest-hash |A|-⌈0.8·|A|⌉+1 shingles") is
      // recovered by a per-doc row_number in hash order — same prefix
      // set as slicing the sorted array. ONE corpus scan + one doc_id
      // exchange (both windows share it) + one shingle-hash exchange;
      // each per-shingle posting list carries its prefix members
      // in-row, so candidates expand without a second subtree. The
      // verify stage's two sh joins share one exchange (ReuseExchange,
      // both shuffle sh by doc_id) — 2 scans total, pinned.
      val wd = Window.partitionBy(col("doc_id"))
      val ex = Tables.documents(s, d)
        .select(col("doc_id"), Text.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          explode(Text.shingles3(col("words"))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .withColumn("sz", count(lit(1)).over(wd))
        .withColumn("pos", row_number().over(wd.orderBy(col("h"))))
      val cand = ex.groupBy(col("h"))
        .agg(collect_list(struct(col("doc_id"), col("sz"), col("pos")))
          .as("ds"))
        .select(explode(expr(
            "filter(ds, a -> a.pos <= a.sz - ((a.sz * 8 + 9) DIV 10) + 1)"))
            .as("a"), col("ds"))
        .select(col("a.doc_id").as("doc_a"),
          explode(col("ds.doc_id")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .distinct()
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val inter = call_function("graft_sorted_intersect",
        col("sh_a"), col("sh_b"))
      cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("inter", inter)
        .filter(col("inter") * 5 >= size(col("sh_a")) * 4)
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double") / size(col("sh_a")))
            .as("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Per-document n-gram NOVELTY under doc_id arrival order — the
    // "how much does each document add that the corpus hasn't seen
    // yet" curve behind data-ordering and crawl-dedup decisions: a
    // shingle is novel for the doc with the MINIMUM doc_id containing
    // it. Two keyed shuffles at corpus scale (shingle → first-doc
    // attribution, doc → counts), both map-side combined; no pairwise
    // work at all — this is the linear-cost complement of the pair
    // queries above.
    "q217_ngram_novelty" -> ((s, d) => {
      // first-occurrence attribution as a WINDOW over one exchange on
      // the shingle hash, not a groupBy+join-back (the join form
      // instantiates the shingle subtree twice → two corpus scans; the
      // q192/q195 rewrite pattern). Explode-FIRST, hash after: raw
      // shingles explode straight out of shingles3 — exploding the
      // hashed array re-evaluates its expression per element (11.8 s
      // vs 1.0 s at sf0.1; see q216).
      val w = Window.partitionBy(col("h"))
      Tables.documents(s, d)
        .select(col("doc_id"), Text.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          explode(Text.shingles3(col("words"))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .withColumn("first_doc", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles"))
            .as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // Cross-source n-gram leakage matrix — contamination triage one
    // level above q218-style doc pairs: for every source pair, how
    // many distinct shingles appear in both (the corpus has NO
    // cross-source exact duplicates, so hash-level overlap reads zero;
    // shingle-level overlap is where shared boilerplate/quotes
    // surface). Scale shape: distinct (shingle, source) pairs → one
    // shuffle on shingle → per-shingle source set (bounded by
    // |sources|, a catalog-sized constant) → pair fan-out inside the
    // array, counts re-keyed on the ≤|sources|² pair frame. Never
    // doc×doc, never shingle×shingle.
    "q218_source_leakage" -> ((s, d) => {
      // source is carried through the shingle pipeline directly (one
      // corpus scan) instead of joining shingled() back to documents —
      // the join form re-scans and re-shingles the corpus.
      val e = Tables.documents(s, d)
        .select(col("source"), Text.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("source"),
          explode(Text.shingles3(col("words"))).as("g"))
        .select(col("source"), xxhash64(col("g")).as("h"))
        .distinct()
      e.groupBy(col("h"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
        .filter(size(col("srcs")) >= 2)
        .select(explode(col("srcs")).as("src_a"), col("srcs"))
        .select(col("src_a"), explode(col("srcs")).as("src_b"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Incremental (delta-vs-base) dedup — the ingestion-time shape:
    // a new batch (the last 20% of doc_ids, an integer-cross-
    // multiplication cutoff) is deduped AGAINST the existing corpus,
    // never against itself. Per delta doc the disposition is
    // exact_dup (sha256 semi-join against the base hash set),
    // near_dup (best base-side Jaccard ≥ 0.8), or new. The near
    // stage is the q158 prefix filter run ASYMMETRICALLY — delta
    // prefixes join base prefixes only, so candidate work scales with
    // |delta|, not |corpus|² (the whole point of incremental dedup);
    // pigeonhole recall is unchanged, so the oracle's independent
    // quadratic delta×base pair set proves the asymmetric variant
    // loses nothing. best_jaccard is a max over exact integer-ratio
    // scores — order-free.
    "q181_delta_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nn = docs.agg(count(lit(1)).as("n"))
      val flagged = docs.crossJoin(broadcast(nn))
        .withColumn("is_base", col("doc_id") * 10 < col("n") * 8)
      val hash = flagged.select(col("doc_id"), col("is_base"),
        sha2(Text.norm(col("text")).cast("binary"), 256).as("h"))
      val exactDup = hash.filter(!col("is_base"))
        .join(hash.filter(col("is_base")).select(col("h")).distinct(),
          Seq("h"), "left_semi")
        .select(col("doc_id"), lit(true).as("is_exact"))
      val sh = shingled(s, d).select(col("doc_id"), col("sh"))
        .join(flagged.select(col("doc_id"), col("is_base")), "doc_id")
      val pref = sh.select(col("doc_id"), col("is_base"),
        size(col("sh")).as("sz"),
        explode(expr(
          "slice(sh, 1, size(sh) - ((size(sh) * 8 + 9) DIV 10) + 1)"))
          .as("h"))
      // posting-list pair generation, NOT a delta-pref ⋈ base-pref
      // self-join: the join form re-triggers the q158 inferred-
      // isnotnull(sz) pushdown that inlines the shingle pipeline into
      // a pre-join Filter (measured 11 s at sf0.1 for this query;
      // 1.6 s in this form). One groupBy on the shingle, delta×base
      // expansion bounded by the posting-list length.
      val cand = pref.groupBy(col("h"))
        .agg(collect_list(struct(col("doc_id"), col("sz"), col("is_base")))
          .as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(col("ds")).as("a"), col("ds"))
        .filter(!col("a.is_base"))
        .select(col("a.doc_id").as("doc_a"), col("a.sz").as("sz_a"),
          explode(col("ds")).as("b"))
        .filter(col("b.is_base")
          && col("sz_a") * 10 >= col("b.sz") * 8
          && col("b.sz") * 10 >= col("sz_a") * 8)
        .select(col("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val near = verifyPairs(cand, sh.select(col("doc_id"), col("sh")), 80)
        .groupBy(col("doc_a"))
        .agg(max(col("jaccard")).as("best_jaccard"))
        .select(col("doc_a").as("doc_id"), col("best_jaccard"))
      flagged.filter(!col("is_base"))
        .select(col("doc_id"))
        .join(exactDup, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact_dup")
            .when(col("best_jaccard").isNotNull, "near_dup")
            .otherwise("new").as("disposition"),
          col("best_jaccard"))
        .orderBy(col("doc_id"))
    }),

    // Greedy max-coverage selection (k=3) — the facility-location /
    // submodular data-selection primitive ("which k documents cover
    // the most distinct 3-shingles?"), the SELECTION dual of the
    // dedup tier (dedup removes redundancy post hoc; this PICKS the
    // least redundant set up front — the shape behind coreset and
    // seed-set curation). The greedy loop is UNROLLED at fixed k:
    // each round is one coverage count over the remaining shingle
    // postings, an (gain DESC, doc_id) limit-1 argmax — the classic
    // 1−1/e-approximate greedy, with ties made deterministic — and
    // an anti-join that retires every shingle the pick covers
    // (including the pick's own rows, so a document can never be
    // selected twice). Counts are exact longs on xxhash64 shingles
    // (the oracle counts the raw strings — identical modulo the
    // ≈2⁻⁶⁴ collision caveat in this file's header). Scale shape:
    // each round is posting-list-sized (shingle-keyed anti-join +
    // map-side-combined count); the selected side of every join is
    // a ≤k-row frame; nothing pairwise ever forms. k rounds = k
    // bounded passes, the price of exact greedy at fixed k.
    "q300_greedy_coverage" -> ((s, d) => {
      // The unrolled greedy k=3 consumes the (doc_id, h) element frame
      // ~7× (greedy step 1 once, steps 2-3 twice each through covered +
      // remaining, plus the final union) — and ReuseExchange can only
      // collapse some of those into shared exchanges, leaving 5 full
      // scan+shingle+md5+distinct pipelines in the lazy plan. A
      // localCheckpoint materializes the element frame ONCE per
      // invocation (eagerly, inside the timed/verified construction —
      // NOT a cross-run cache: every bench warmup/timed/retry pass and
      // every Verify run recomputes it from parquet) and the greedy
      // rounds iterate over the checkpointed partitions, the guide §5
      // lineage-cut pattern for iterative consumers. Results are
      // unchanged: every consumer is an order-insensitive aggregate
      // with a total-order tie-break.
      val e = Tables.documents(s, d)
        .select(col("doc_id"), Text.words(col("text")).as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), explode(Text.shingles3(col("words"))).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
        .distinct()
        .transform(graft.ops.Materialize.frame)
      def best(rem: DataFrame, rank: Int): DataFrame =
        rem.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("marginal_gain"))
          .orderBy(col("marginal_gain").desc, col("doc_id"))
          .limit(1)
          .select(lit(rank.toLong).as("sel_rank"), col("doc_id"),
            col("marginal_gain"))
      def uncovered(sel: DataFrame): DataFrame = {
        val covered = e.join(sel.select(col("doc_id").as("sd")),
            col("doc_id") === col("sd"), "left_semi")
          .select(col("h")).distinct()
        e.join(covered, Seq("h"), "left_anti")
      }
      val s1 = best(e, 1)
      val s2 = best(uncovered(s1), 2)
      val s3 = best(uncovered(s1.unionAll(s2)), 3)
      s1.unionAll(s2).unionAll(s3)
        .withColumn("cum_coverage", sum(col("marginal_gain")).over(
          Window.orderBy(col("sel_rank"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("sel_rank"))
    })
  )

  /** 60-bit word hash from an md5 prefix: both engines share md5, so
    * unlike xxhash64 this is oracle-reproducible (DuckDB parses the
    * same 15 hex chars with a shift-add fold). 15 hex chars keep the
    * value non-negative in a signed 64-bit lane on both sides; the
    * simhash's top 4 bits then tally -|tokens| and stay 0, which the
    * oracle mirrors by folding bits 0-59 only.
    */
  def wordHash(w: Column): Column = Text.md5Long(w, 15)

  /** doc_id + 64-bit SimHash. Exposed for DedupSpec. */
  def simhashed(s: SparkSession, d: String): DataFrame = {
    // filter(text IS NOT NULL) + coalesce(text, ''): identity on every
    // surviving row, but it matters twice. The filter sheds null-text
    // docs at the SCAN (they contributed no q63 pair anyway — a null
    // simhash explodes to null chunk keys the equi-join drops); the
    // coalesce makes the whole tokenize→md5→simhash chain NON-NULLABLE,
    // so InferFiltersFromConstraints has no isnotnull(simhash) to push.
    // Without it, the inferred null-check lands in the scan as
    // isnotnull(graft_simhash(transform(...))) — the FULL per-word md5
    // pipeline evaluated once in the filter and again in the
    // projection, on BOTH self-join sides: 4× the query's dominant
    // cost for a null test (PlanShapeSpec pins its absence).
    val wh = transform(
      array_distinct(Text.words(coalesce(col("text"), lit("")))),
      w => wordHash(w))
    // native one-pass bit-majority kernel (plans/SimHash.scala): the
    // 64-fold HOF formulation it replaces traverses the token-hash
    // array 64 times per document; OpsSpec pins bit-equality between
    // the kernel, that formulation, and the explode/groupBy one.
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), wh.as("wh"))
      .select(col("doc_id"), call_function("graft_simhash", col("wh")).as("simhash"))
  }

  // DuckDB twins. Shared normalization SQL for the shingle CTE.
  private val shingleCte =
    """WITH w AS (SELECT doc_id, lang, n_chars,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
      |  FROM documents),
      |s AS (SELECT doc_id, lang, n_chars,
      |    list_distinct(list_transform(range(1, len(words) - 1),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM w WHERE len(words) >= 3)""".stripMargin

  // DuckDB twin of the [[MinHash]] pipeline up to the signature:
  // md5-hashed sorted distinct shingle sets (sh) and the 16-slot
  // signature list (sg). q61 and q271 band and verify from here.
  private val minhashCte =
    """WITH w AS (SELECT doc_id, string_split(lower(trim(
      |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    list_sort(list_distinct(list_transform(
      |      list_transform(range(1, len(words) - 1),
      |        i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]),
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS sh
      |  FROM w WHERE len(words) >= 3),
      |sg AS (SELECT doc_id, sh,
      |    list_transform(range(0, 16), j ->
      |      list_min(list_transform(sh, h ->
      |        ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
      |          || CAST(h AS VARCHAR)), 1, 12))::BIGINT))) AS sig
      |  FROM sh),""".stripMargin

  def oracle: Map[String, String] = Map(
    "q316_winnowing" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |  WHERE len(string_split(lower(trim(regexp_replace(text,
        |    '\s+', ' ', 'g'))), ' ')) >= 3),
        |ix AS (SELECT doc_id, w,
        |    unnest(range(1, len(w) - 1)) AS i FROM ws),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' ||
        |      w[i+2]), 1, 15))::BIGINT AS h
        |  FROM ix),
        |m AS (SELECT doc_id, p, h,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, h FROM m
        |  WHERE p >= 3 AND h = wm),
        |sh AS (SELECT h, count(DISTINCT doc_id) AS docs_with
        |  FROM fp GROUP BY 1),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN p >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_windows
        |  FROM m GROUP BY 1),
        |fs AS (SELECT fp.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |    CAST(sum(CASE WHEN sh.docs_with > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_sh
        |  FROM fp JOIN sh USING (h) GROUP BY 1)
        |SELECT pd.doc_id, pd.n_grams, pd.n_windows,
        |  coalesce(fs.n_fp, 0) AS n_fingerprints,
        |  coalesce(fs.n_sh, 0) AS n_shared,
        |  CASE WHEN pd.n_windows > 0 THEN
        |    CAST(coalesce(fs.n_fp, 0) AS DOUBLE)
        |      / CAST(pd.n_windows AS DOUBLE) END AS density
        |FROM pd LEFT JOIN fs ON fs.doc_id = pd.doc_id
        |ORDER BY pd.doc_id""".stripMargin,

    "q246_event_dedup" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type, value
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |k AS (SELECT event_type,
        |    prev_us IS NULL OR us - prev_us > 3600000000 AS keep
        |  FROM e),
        |g AS (SELECT event_type, count(*) AS n_events,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept
        |  FROM k GROUP BY 1)
        |SELECT event_type, n_events, n_kept,
        |  n_events - n_kept AS n_dropped,
        |  CAST(n_events - n_kept AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    AS drop_share
        |FROM g ORDER BY event_type""".stripMargin,

    "q249_segment_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |px AS (SELECT doc_id, w,
        |    unnest(range((len(w) + 7) // 8)) AS pos
        |  FROM ws),
        |segs AS (SELECT doc_id, pos,
        |    array_to_string(w[pos * 8 + 1 : pos * 8 + 8], ' ') AS seg
        |  FROM px),
        |fl AS (SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY doc_id, pos) = 1 AS keep
        |  FROM segs),
        |g AS (SELECT doc_id, count(*) AS n_segments,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    coalesce(string_agg(CASE WHEN keep THEN seg END, ' '
        |      ORDER BY pos), '') AS kept_text
        |  FROM fl GROUP BY 1)
        |SELECT doc_id, n_segments, n_kept,
        |  n_segments - n_kept AS n_dropped,
        |  CAST(n_segments - n_kept AS DOUBLE)
        |    / CAST(n_segments AS DOUBLE) AS drop_share,
        |  kept_text
        |FROM g ORDER BY doc_id""".stripMargin,

    "q253_cdc_chunks" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |px AS (SELECT doc_id, w, unnest(range(len(w))) AS pos
        |  FROM ws),
        |tok AS (SELECT doc_id, pos, w[pos + 1] AS wd FROM px),
        |b AS (SELECT doc_id, pos, wd,
        |    CASE WHEN ('0x' || substr(md5(wd), 1, 8))::BIGINT % 8 = 0
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM tok),
        |c AS (SELECT doc_id, pos, wd,
        |    coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cid
        |  FROM b),
        |ch AS (SELECT doc_id, cid,
        |    string_agg(wd, ' ' ORDER BY pos) AS chunk,
        |    count(*) AS chunk_words
        |  FROM c GROUP BY 1, 2),
        |f AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs_with
        |  FROM ch GROUP BY 1),
        |j AS (SELECT ch.doc_id, ch.chunk_words, f.n_docs_with
        |  FROM ch JOIN f USING (chunk))
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_shared_chunks,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN chunk_words ELSE 0
        |    END) AS BIGINT) AS shared_words,
        |  CAST(sum(chunk_words) AS BIGINT) AS n_words,
        |  CAST(sum(CASE WHEN n_docs_with > 1 THEN chunk_words ELSE 0
        |    END) AS DOUBLE) / CAST(sum(chunk_words) AS DOUBLE)
        |    AS shared_share
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q260_shingle_gen" ->
      """WITH ws AS (SELECT doc_id, string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |px AS (SELECT doc_id, w, unnest(range(len(w) - 2)) AS pos
        |  FROM ws WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, pos,
        |    array_to_string(w[pos + 1 : pos + 3], ' ') AS shingle
        |  FROM px)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
        |  CAST(max(pos) AS BIGINT) AS max_pos,
        |  min(CASE WHEN pos = 0 THEN shingle END) AS first_shingle,
        |  CAST(count(*) - count(DISTINCT shingle) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_share
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // independent algorithm on purpose: quadratic directed containment
    // over raw string shingle sets, vs Spark's prefix-filtered posting
    // lists over xxhash64-hashed sets.
    "q216_containment" -> (shingleCte +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
        |    AS containment
        |FROM s a, s b
        |WHERE a.doc_id <> b.doc_id
        |  AND len(list_intersect(a.sh, b.sh)) * 5 >= len(a.sh) * 4
        |ORDER BY doc_a, doc_b""".stripMargin),

    "q217_ngram_novelty" -> (shingleCte +
      """,
        |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
        |f AS (SELECT h, min(doc_id) AS first_doc FROM e GROUP BY 1)
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) AS novelty
        |FROM e JOIN f USING (h) GROUP BY e.doc_id
        |ORDER BY doc_id""".stripMargin),

    "q218_source_leakage" -> (shingleCte +
      """,
        |e AS (SELECT DISTINCT d.source, unnest(s.sh) AS h
        |  FROM s JOIN documents d USING (doc_id))
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q214_dup_profile" ->
      """WITH c AS (SELECT sha256(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |    count(*) AS csize
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(csize) AS n_docs FROM c)
        |SELECT csize, count(*) AS n_clusters,
        |  CAST(csize * count(*) AS BIGINT) AS n_docs_in_tier,
        |  CAST((csize - 1) * count(*) AS BIGINT) AS would_delete,
        |  CAST(csize * count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    AS doc_share
        |FROM c, t GROUP BY csize, n_docs ORDER BY csize""".stripMargin,

    "q273_dedup_impact" ->
      """WITH w AS (SELECT doc_id,
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |      AS content_hash,
        |    string_split(lower(trim(
        |      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |  FROM documents),
        |st AS (SELECT doc_id, content_hash,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |    CAST(len(list_filter(ws, x -> x IN
        |      ('the', 'a', 'and', 'of', 'to', 'in', 'is')))
        |      AS BIGINT) AS n_stops,
        |    row_number() OVER (PARTITION BY content_hash
        |      ORDER BY doc_id) AS rn
        |  FROM w),
        |g AS (SELECT CASE WHEN rn = 1 THEN 'kept' ELSE 'dropped' END
        |      AS status, n_words, n_types, n_stops
        |  FROM st)
        |SELECT status, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS words_per_doc,
        |  CAST(sum(n_types) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
        |    AS type_token_ratio,
        |  CAST(sum(n_stops) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
        |    AS stop_share
        |FROM g GROUP BY status ORDER BY status""".stripMargin,

    "q60_dedup_exact" ->
      """SELECT doc_id, lang, n_chars, content_hash, n_copies FROM (
        |  SELECT doc_id, lang, n_chars, content_hash,
        |    row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY content_hash) AS n_copies
        |  FROM (SELECT doc_id, lang, n_chars,
        |    sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |    FROM documents))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // replay of minhashPairs: 8×2 band keys over the shared signature,
    // distinct candidates, exact Jaccard ≥ 0.8 on the hashed sets
    "q61_dedup_minhash" -> (minhashCte +
      """
        |bd AS (SELECT doc_id, unnest(range(0, 8)) AS band, sig FROM sg),
        |keyed AS (SELECT doc_id, band,
        |    array_to_string(sig[band * 2 + 1 : band * 2 + 2], '|') AS key
        |  FROM bd),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM keyed x JOIN keyed y ON x.band = y.band AND x.key = y.key
        |    AND x.doc_id < y.doc_id),
        |iu AS (SELECT doc_a, doc_b, len(list_intersect(a.sh, b.sh)) AS i,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
        |  FROM cand JOIN sg a ON a.doc_id = doc_a
        |    JOIN sg b ON b.doc_id = doc_b)
        |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
        |FROM iu WHERE i * 100 >= u * 80
        |ORDER BY doc_a, doc_b""".stripMargin),

    // full bit-exact replica of the SimHash pipeline: md5-prefix word
    // hashes (the same 15 hex chars Spark's conv() parses, folded with
    // shift-adds), 60-bit bit-majority with the kernel's `tally > 0`
    // tie rule, 16-bit chunk blocking, Hamming ≤ 3. A green row pins
    // every fingerprint bit cross-engine.
    "q63_dedup_simhash" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS words
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(words, w ->
        |    list_sum(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)::BIGINT
        |        << (4 * (15 - i))))::BIGINT) AS wh
        |  FROM w),
        |sim AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), b ->
        |      CASE WHEN list_sum(list_transform(wh, x ->
        |          CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1::BIGINT << b ELSE 0::BIGINT END))::BIGINT AS simhash
        |  FROM h),
        |ck AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS chunk_id FROM sim),
        |chunks AS (SELECT doc_id, simhash, chunk_id,
        |    (simhash >> (16 * chunk_id)) & 65535 AS chunk_val FROM ck),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.simhash AS ha, y.simhash AS hb
        |  FROM chunks x JOIN chunks y ON x.chunk_id = y.chunk_id
        |    AND x.chunk_val = y.chunk_val AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q279_bloom_fpr" ->
      """WITH w AS (SELECT doc_id,
        |    (doc_id * 1103515245 + 12345) % 100 AS bkt,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ',
        |      'g'))), ' ') AS words
        |  FROM documents),
        |g AS (SELECT bkt, unnest(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |      AS gg
        |  FROM w WHERE len(words) >= 3),
        |hh AS (SELECT bkt,
        |    ('0x' || substr(md5(gg), 1, 15))::BIGINT AS h FROM g),
        |train AS (SELECT DISTINCT h FROM hh WHERE bkt < 80),
        |nt AS (SELECT count(*) AS n_train FROM train),
        |heldd AS (SELECT DISTINCT h FROM hh WHERE bkt >= 80),
        |held AS (SELECT hd.h,
        |    CASE WHEN t.h IS NULL THEN 0 ELSE 1 END AS seen
        |  FROM heldd hd LEFT JOIN train t ON hd.h = t.h),
        |sch AS (SELECT * FROM (VALUES (2, 14), (4, 14), (2, 16),
        |  (4, 16)) s(k, lm)),
        |tb0 AS (SELECT h, k, lm, unnest(range(0, k)) AS i
        |  FROM train, sch),
        |tb AS (SELECT DISTINCT k, lm,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
        |      || CAST(h AS VARCHAR)), 1, 12))::BIGINT
        |      % (1::BIGINT << lm) AS bit
        |  FROM tb0),
        |pb0 AS (SELECT h, seen, k, lm, unnest(range(0, k)) AS i
        |  FROM held, sch),
        |pb AS (SELECT h, seen, k, lm,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
        |      || CAST(h AS VARCHAR)), 1, 12))::BIGINT
        |      % (1::BIGINT << lm) AS bit
        |  FROM pb0),
        |pr AS (SELECT pb.k, pb.lm, pb.h, pb.seen,
        |    sum(CASE WHEN tb.bit IS NOT NULL THEN 1 ELSE 0 END)
        |      AS present
        |  FROM pb LEFT JOIN tb ON pb.k = tb.k AND pb.lm = tb.lm
        |    AND pb.bit = tb.bit
        |  GROUP BY 1, 2, 3, 4),
        |ag AS (SELECT k, lm,
        |    CAST(sum(CASE WHEN seen = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_neg_probes,
        |    CAST(sum(CASE WHEN seen = 0 AND present = k THEN 1
        |      ELSE 0 END) AS BIGINT) AS false_pos,
        |    CAST(sum(CASE WHEN seen = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos_probes,
        |    CAST(sum(CASE WHEN seen = 1 AND present = k THEN 1
        |      ELSE 0 END) AS BIGINT) AS true_pos
        |  FROM pr GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS k, 1::BIGINT << lm AS m_bits,
        |  n_train, n_neg_probes, false_pos,
        |  CASE WHEN n_neg_probes > 0 THEN
        |    CAST(false_pos AS DOUBLE) / CAST(n_neg_probes AS DOUBLE)
        |  END AS fpr,
        |  n_pos_probes, true_pos
        |FROM ag, nt ORDER BY m_bits, k""".stripMargin,

    "q276_transitivity" -> (shingleCte +
      """,
        |k AS (SELECT doc_id, lang, n_chars // 32 AS bkt FROM s
        |  UNION ALL SELECT doc_id, lang, n_chars // 32 + 1 AS bkt FROM s),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM k x JOIN k y ON x.lang = y.lang AND x.bkt = y.bkt
        |    AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cand JOIN s a ON doc_a = a.doc_id
        |    JOIN s b ON doc_b = b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 100
        |    >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |      * 50),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |wdg AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
        |    AND e1.src < e2.dst),
        |np AS (SELECT count(*) AS n_pairs FROM pairs),
        |cl AS (SELECT count(*) AS n_wedges,
        |    CAST(sum(CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_closed
        |  FROM wdg LEFT JOIN pairs p
        |    ON p.doc_a = wdg.a AND p.doc_b = wdg.c)
        |SELECT n_pairs, n_wedges, n_closed,
        |  CASE WHEN n_wedges > 0
        |    THEN CAST(n_closed AS DOUBLE) / CAST(n_wedges AS DOUBLE)
        |    ELSE 1.0 END AS closure_rate
        |FROM cl, np""".stripMargin),

    "q278_simhash_bits" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS words
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(words, w ->
        |    list_sum(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)::BIGINT
        |        << (4 * (15 - i))))::BIGINT) AS wh
        |  FROM w),
        |sim AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), b ->
        |      CASE WHEN list_sum(list_transform(wh, x ->
        |          CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1::BIGINT << b ELSE 0::BIGINT END))::BIGINT AS simhash
        |  FROM h),
        |bb AS (SELECT unnest(range(0, 60)) AS bit, simhash FROM sim)
        |SELECT CAST(bit AS BIGINT) AS bit, count(*) AS n_docs,
        |  CAST(sum((simhash >> bit) & 1) AS BIGINT) AS ones,
        |  CAST(sum((simhash >> bit) & 1) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS one_share,
        |  5 * abs(2 * CAST(sum((simhash >> bit) & 1) AS BIGINT)
        |    - count(*)) > count(*) AS skewed
        |FROM bb GROUP BY bit ORDER BY bit""".stripMargin,

    "q271_lsh_tuning" -> (minhashCte +
      """
        |sch AS (SELECT * FROM (VALUES (8, 2), (4, 4), (2, 8))
        |  s(b, r)),
        |bd AS (SELECT doc_id, sh, b,
        |    unnest(range(0, b)) AS band, r, sig
        |  FROM sg, sch),
        |keyed AS (SELECT doc_id, sh, b, band,
        |    array_to_string(sig[band * r + 1 : band * r + r], '|')
        |      AS key
        |  FROM bd),
        |cand AS (SELECT DISTINCT x.b AS bands,
        |    x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    (9 * len(list_intersect(x.sh, y.sh))
        |      >= 4 * (len(x.sh) + len(y.sh))) AS ok
        |  FROM keyed x JOIN keyed y ON x.b = y.b AND x.band = y.band
        |    AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT CAST(bands AS BIGINT) AS bands,
        |  CAST(16 // bands AS BIGINT) AS rows_per_band,
        |  CASE WHEN bands = 8 THEN 0.353553::DOUBLE
        |    WHEN bands = 4 THEN 0.707107::DOUBLE
        |    ELSE 0.917004::DOUBLE END AS s_threshold,
        |  count(*) AS n_candidates,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_verified,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS precision
        |FROM cand GROUP BY bands ORDER BY bands""".stripMargin),

    "q263_simhash_eval" ->
      """WITH w AS (SELECT doc_id,
        |    list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS words
        |  FROM documents
        |  WHERE text IS NOT NULL),
        |wsets AS (SELECT doc_id,
        |    list_sort(list_distinct(list_transform(words, x ->
        |      ('0x' || substr(md5(x), 1, 15))::BIGINT))) AS u
        |  FROM w),
        |h AS (SELECT doc_id, list_transform(words, x ->
        |    list_sum(list_transform(range(1, 16), i ->
        |      (strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1)::BIGINT
        |        << (4 * (15 - i))))::BIGINT) AS wh
        |  FROM w),
        |sim AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 60), b ->
        |      CASE WHEN list_sum(list_transform(wh, x ->
        |          CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN 1::BIGINT << b ELSE 0::BIGINT END))::BIGINT AS simhash
        |  FROM h),
        |ck AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS chunk_id FROM sim),
        |chunks AS (SELECT doc_id, simhash, chunk_id,
        |    (simhash >> (16 * chunk_id)) & 65535 AS chunk_val FROM ck
        |  QUALIFY row_number() OVER (PARTITION BY chunk_id,
        |    (simhash >> (16 * chunk_id)) & 65535 ORDER BY doc_id) <= 8),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.simhash, y.simhash)) AS hamming
        |  FROM chunks x JOIN chunks y ON x.chunk_id = y.chunk_id
        |    AND x.chunk_val = y.chunk_val AND x.doc_id < y.doc_id),
        |v AS (SELECT (c.hamming <= 3) AS pred,
        |    (3 * len(list_intersect(a.u, b.u))
        |      >= len(a.u) + len(b.u)) AS act
        |  FROM cand c JOIN wsets a ON a.doc_id = c.doc_a
        |    JOIN wsets b ON b.doc_id = c.doc_b),
        |cm AS (SELECT count(*) AS n_candidates,
        |    CAST(sum(CASE WHEN pred AND act THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN pred AND NOT act THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT pred AND act THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT pred AND NOT act THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM v)
        |SELECT n_candidates, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
        |    ELSE 0.0 END AS precision,
        |  CAST(tp + fn AS DOUBLE) / CAST(n_candidates AS DOUBLE)
        |    AS actual_share
        |FROM cm""".stripMargin,

    "q68_dedup_embed" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_dot_product(a.emb, b.emb)
        |    / (sqrt(list_dot_product(a.emb, a.emb))
        |       * sqrt(list_dot_product(b.emb, b.emb))) AS cos_sim,
        |  a.vec_id AS keep
        |FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb)
        |    / (sqrt(list_dot_product(a.emb, a.emb))
        |       * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,

    // self-contained (not shingleCte) because the recursive member
    // requires the WITH to be declared RECURSIVE.
    "q91_dedup_clusters" -> (
      """WITH RECURSIVE w AS (SELECT doc_id, lang, n_chars,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
        |  FROM documents),
        |s AS (SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(range(1, len(words) - 1),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM w WHERE len(words) >= 3),
        |k AS (SELECT doc_id, lang, n_chars // 32 AS bkt FROM s
        |  UNION ALL SELECT doc_id, lang, n_chars // 32 + 1 AS bkt FROM s),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM k x JOIN k y ON x.lang = y.lang AND x.bkt = y.bkt
        |    AND x.doc_id < y.doc_id),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM cand JOIN s a ON doc_a = a.doc_id JOIN s b ON doc_b = b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 100
        |    >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 50),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |SELECT id AS doc_id, comp,
        |  count(*) OVER (PARTITION BY comp) AS cluster_size
        |FROM comp ORDER BY doc_id""".stripMargin),

    "q62_dedup_ngram" -> (shingleCte +
      """,
        |k AS (SELECT doc_id, lang, n_chars // 32 AS bkt FROM s
        |  UNION ALL SELECT doc_id, lang, n_chars // 32 + 1 AS bkt FROM s),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM k x JOIN k y ON x.lang = y.lang AND x.bkt = y.bkt
        |    AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  len(list_intersect(a.sh, b.sh)) * 1.0
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM cand JOIN s a ON doc_a = a.doc_id JOIN s b ON doc_b = b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 100
        |  >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 50
        |ORDER BY doc_a, doc_b""".stripMargin),

    "q152_fuzzy_match" ->
      """WITH n AS (SELECT p_name, count(*) AS n_parts,
        |    split_part(p_name, ' ', -1) AS noun
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
        |  CAST(a.n_parts AS BIGINT) AS n_a,
        |  CAST(b.n_parts AS BIGINT) AS n_b
        |FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    // independent implementation on purpose: DuckDB's built-in
    // jaro_winkler_similarity vs the repo's native kernel — agreement
    // on every blocked pair's 6-decimal score is the parity proof.
    "q227_jaro_linkage" ->
      """WITH n AS (SELECT p_name, count(*) AS n_parts,
        |    split_part(p_name, ' ', -1) AS noun
        |  FROM part GROUP BY 1),
        |j AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    floor(jaro_winkler_similarity(a.p_name, b.p_name) * 1e6
        |      + 0.5) / 1e6 AS jw,
        |    CAST(a.n_parts AS BIGINT) AS n_a,
        |    CAST(b.n_parts AS BIGINT) AS n_b
        |  FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name)
        |SELECT name_a, name_b, jw, n_a, n_b FROM j
        |WHERE jw >= CAST(0.94 AS DOUBLE)
        |ORDER BY name_a, name_b""".stripMargin,

    // the independent quadratic truth over raw shingle STRINGS (O(n²)
    // is fine for the oracle engine at sf0.01): the oracle's job here
    // is to prove the prefix-filter candidate scheme loses no pair the
    // exact computation finds.
    "q158_ppjoin" -> (shingleCte +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.sh, b.sh)) * 1.0
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 100
        |  >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 80
        |ORDER BY doc_a, doc_b""".stripMargin),

    // independent quadratic delta×base truth for the near stage; the
    // same * 1.0 / spelling q158 pins bit-exact.
    "q181_delta_dedup" -> (shingleCte + """,
        |nn AS (SELECT count(*) AS n FROM documents),
        |fl AS (SELECT doc_id, (doc_id * 10 < n * 8) AS is_base
        |  FROM documents, nn),
        |h AS (SELECT d.doc_id, f.is_base,
        |    sha256(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g'))))
        |      AS h
        |  FROM documents d JOIN fl f ON d.doc_id = f.doc_id),
        |ex AS (SELECT DISTINCT d.doc_id FROM h d
        |  JOIN h b ON d.h = b.h AND b.is_base AND NOT d.is_base),
        |sj AS (SELECT a.doc_id,
        |    max(len(list_intersect(a.sh, b.sh)) * 1.0
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))))
        |      AS best_jaccard
        |  FROM (SELECT s.doc_id, s.sh FROM s JOIN fl
        |      ON s.doc_id = fl.doc_id WHERE NOT fl.is_base) a
        |  JOIN (SELECT s.doc_id, s.sh FROM s JOIN fl
        |      ON s.doc_id = fl.doc_id WHERE fl.is_base) b
        |    ON len(list_intersect(a.sh, b.sh)) * 100
        |      >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |        * 80
        |  GROUP BY 1)
        |SELECT f.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
        |    WHEN sj.best_jaccard IS NOT NULL THEN 'near_dup'
        |    ELSE 'new' END AS disposition,
        |  sj.best_jaccard
        |FROM fl f
        |LEFT JOIN ex ON f.doc_id = ex.doc_id
        |LEFT JOIN sj ON f.doc_id = sj.doc_id
        |WHERE NOT f.is_base
        |ORDER BY f.doc_id""".stripMargin),

    // unrolled greedy on raw shingle strings (hash-free; identical
    // counts modulo the ≈2⁻⁶⁴ collision caveat above)
    "q300_greedy_coverage" -> (shingleCte + """,
        |e AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
        |p1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
        |  FROM e GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |c1 AS (SELECT DISTINCT g FROM e
        |  WHERE doc_id IN (SELECT doc_id FROM p1)),
        |e2 AS (SELECT * FROM e WHERE g NOT IN (SELECT g FROM c1)),
        |p2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
        |  FROM e2 GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |c2 AS (SELECT DISTINCT g FROM e
        |  WHERE doc_id IN (SELECT doc_id FROM p1
        |    UNION SELECT doc_id FROM p2)),
        |e3 AS (SELECT * FROM e WHERE g NOT IN (SELECT g FROM c2)),
        |p3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
        |  FROM e3 GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
        |u AS (SELECT 1 AS sel_rank, doc_id, gain FROM p1
        |  UNION ALL SELECT 2, doc_id, gain FROM p2
        |  UNION ALL SELECT 3, doc_id, gain FROM p3)
        |SELECT CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
        |  gain AS marginal_gain,
        |  CAST(sum(gain) OVER (ORDER BY sel_rank ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_coverage
        |FROM u ORDER BY sel_rank""".stripMargin)
  )
}
