package graft.ops

import graft.{QueryModule, Tables}
import graft.ops.Parity.{dec, fix6, snap6}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (vec_id, embedding
  * FLOAT[64], label) — builder-brief "north star"; no counterpart in the
  * reference (its only array surface is functions/array.rs, no vector
  * math).
  *
  * Numeric determinism: both engines cast FLOAT[] → DOUBLE[] (exact) and
  * fold products left-to-right — Spark's `graft_dot` kernel and DuckDB's
  * `list_dot_product` are both sequential left-assoc sums (verified
  * bit-exact over all sf0.01 pairs), so cosine values compare
  * bit-for-bit with no rounding and ranking can never diverge.
  *
  * Scale: the query set is the small side — broadcast it; the corpus is
  * scanned once with no shuffle before the per-query top-k. The ANN
  * variant replaces the corpus scan per query with LSH-bucketed candidate
  * lookup (4 hash tables × 4 hyperplane bits), the standard
  * recall/latency trade; at 100 TB bucket keys become the partition
  * layout so a query touches only its buckets.
  */
object Similarity extends QueryModule {

  private val TopK = 10
  private val NumQueries = 5

  /** Left-assoc sequential dot product of two DOUBLE arrays over their
    * common prefix: the native codegen kernel [[graft.plans.DotProduct]],
    * which every [[graft.Session.builder]] session registers through
    * GraftExtensions. [[PlansSpec]] checks it bit-exact against the
    * `zip_with`/`aggregate` fold.
    */
  private[ops] def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def dvec(c: Column): Column = c.cast("array<double>")

  /** Corpus and query frames carry a precomputed `nrm`/`q_nrm` column —
    * self-norms are per-vector, so computing them inside the pair loop
    * would triple the fold work in the hot path. `sqrt(fold)` here and
    * `dot/(nrm*q_nrm)` at the pair keep the exact IEEE op order of the
    * inline form, so scores stay bit-identical to the DuckDB oracle.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  private def pairCosine: Column =
    dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))

  /** The normed embedding corpus (vec_id, emb, label, nrm) that every
    * cosine query scans. */
  private[ops] def corpus(s: SparkSession, d: String): DataFrame =
    withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), dvec(col("embedding")).as("emb"), col("label")))

  /** The probe set: the first `n` corpus vectors as queries (query_id,
    * q_emb, q_nrm, q_label) — the small side of every pair join. */
  private def probeSet(corpus: DataFrame, n: Int): DataFrame =
    corpus.filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label"))

  /** Corpus rows joined to their probes → (keys…, query_id, vec_id,
    * cos_sim), self-matches dropped. */
  private def cosPairs(joined: DataFrame, keys: Column*): DataFrame =
    joined.filter(col("vec_id") =!= col("query_id"))
      .select(keys ++ Seq(col("query_id"), col("vec_id"),
        pairCosine.as("cos_sim")): _*)

  /** Brute force: every corpus vector against every (broadcast) probe. */
  private def allPairs(corpus: DataFrame, probes: DataFrame,
      keys: Column*): DataFrame =
    cosPairs(corpus.crossJoin(broadcast(probes)), keys: _*)

  /** IVF over the stored labels: each probe against its own label's
    * vectors. */
  private def sameLabelPairs(corpus: DataFrame, probes: DataFrame): DataFrame =
    corpus.join(broadcast(probes),
        col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), pairCosine.as("cos_sim"))

  /** A pair's exact cosine rank within its query (and the `by` keys):
    * row_number over (cos_sim desc, vec_id asc), so the smaller vec_id
    * wins a tie, as in every oracle. */
  private def cosRank(by: String*): Column =
    row_number().over(Window.partitionBy((by :+ "query_id").map(col): _*)
      .orderBy(col("cos_sim").desc, col("vec_id").asc))

  /** The exact cosine top-k of each query, ranked in `rank`. */
  private def topK(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("rank", cosRank()).filter(col("rank") <= k)

  /** The top-k as a neighbor list (query_id, neighbor_id, rank, cos_sim). */
  private def neighbors(pairs: DataFrame, k: Int): DataFrame =
    topK(pairs, k).select(col("query_id"), col("vec_id").as("neighbor_id"),
      col("rank"), col("cos_sim"))

  /** IVF seeds (cell, c_emb, c_nrm): the min-vec_id vector of each label,
    * a deterministic medoid — float centroid averages would be
    * summation-order-noisy and break the oracle. */
  private def ivfSeeds(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("label").as("cell"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** The corpus with each vector's IVF cell: its nearest seed, the
    * smaller cell on a cosine tie. The argmax is an aggregate, so its
    * map-side partial folds the seed fan-out to one row per vector
    * before any shuffle. */
  private def ivfAssigned(corpus: DataFrame, seeds: DataFrame): DataFrame =
    corpus.join(corpus.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell"),
        (dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
          .as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell")),
      "vec_id")

  /** Each probe's `nprobe` nearest cells (query_id, q_emb, q_nrm, cell,
    * crank), `crank` ranking them by (sim desc, cell asc). */
  private def probeCells(probes: DataFrame, seeds: DataFrame,
      nprobe: Int): DataFrame =
    probes.crossJoin(broadcast(seeds))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
      .withColumn("crank", row_number().over(Window.partitionBy(
        col("query_id")).orderBy(col("sim").desc, col("cell").asc)))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
        col("crank"))

  /** IVF multi-probe top-5 (q76b, q123): the exact top-5 of each probe
    * among the vectors of its probed `cells`. */
  private def ivfTop5(cells: DataFrame, probes: DataFrame): DataFrame =
    neighbors(cosPairs(cells.join(broadcast(probes), Seq("cell"))), 5)
      .orderBy(col("query_id"), col("rank"))

  /** int8-quantized corpus: vec_id, the 6-decimal-snapped symmetric
    * scale 127/max|x| (identical IEEE-754 double in both engines), and
    * the quantized vector q_i = clamp(floor(x_i·scale + 0.5), ±127) —
    * shared by the quantization audit (q112) and the compressed ANN
    * path (q113). Two guards make the int8 contract unconditional:
    * zero-vectors (amax = 0) and vectors whose amax ≥ ~2.54e8 snaps
    * scale6 to exactly 0 (an all-zero qs would give q113 a 0/0 NaN
    * cosine with engine-divergent ordering) are shed; and for amax ≥
    * ~1e6 the snapped scale can overshoot 127/amax by half a
    * quantization step, so the ±127 clamp pins the boundary element
    * back into int8 range. Neither case occurs in the test corpus —
    * the guards exist so the contract holds on arbitrary input.
    */
  private def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("x"))
      .withColumn("amax",
        aggregate(col("x"), lit(0.0), (a, v) => greatest(a, abs(v))))
      .filter(col("amax") > 0)
      .withColumn("scale6",
        snap6(lit(127.0) / col("amax")))
      .filter(col("scale6") > 0)
      .select(col("vec_id"), col("scale6"),
        transform(col("x"), v =>
          greatest(lit(-127L), least(lit(127L),
            floor(v * col("scale6") + 0.5).cast("long")))).as("qs"))

  /** Every corpus vector scored against the `NumQueries` probes. */
  private def scored(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    allPairs(c, probeSet(c, NumQueries))
  }

  /** ANN parameters: `NumTables` hash tables × `Bits` hyperplane sign
    * bits. Hyperplane component r(k,i) = ±1 from the parity of the first
    * hex nibble of md5("hp:k:i") (k = table*Bits + bit, i = dimension) —
    * fully deterministic, no stored model, and reproducible in DuckDB,
    * which shares md5 but not xxhash64 (the q63 recipe), so bucket
    * assignment, candidate generation, and the exact re-rank are all
    * oracle-checked end-to-end. 8×3 favors recall (a vector pair at
    * angle θ collides in a table with (1-θ/π)³, across 8 tables ≈
    * certain for same-cluster pairs; measured ≥0.8 per query at all
    * three test scales); candidate cost is bounded by the exact re-rank
    * touching only bucket-mates.
    */
  private val NumTables = 8
  private val Bits = 3

  /** ±1.0 sign of hyperplane k in dimension i, computed DRIVER-SIDE at
    * plan-build time: the parity of the first hex nibble of
    * md5("hp:k:i"). MessageDigest's md5 is byte-identical to the md5()
    * both SQL engines expose, so the DuckDB oracle replays the same
    * matrix symbolically (strpos on the odd hex digits) and
    * [[SketchSpec]] pins the Scala value against the Spark-expression
    * spelling for every (k, i). Computing the value here instead of
    * emitting when(conv(substring(md5(lit(..))))) per element keeps the
    * plan at 24 array literals — the expression spelling was correct
    * (Catalyst folds it to the same literals) but put ~12k nodes
    * through every analyzer/optimizer rule, ~1 s of driver time per
    * compile of this query.
    */
  private[graft] def planeSignVal(k: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp:$k:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xf) % 2 == 1) 1.0 else -1.0
  }

  /** The Spark-expression spelling of [[planeSignVal]] — kept (test-only)
    * as the cross-engine contract SketchSpec verifies the Scala
    * shortcut against.
    */
  private[graft] def planeSignExpr(k: Int, i: Int): Column =
    when(conv(substring(md5(lit(s"hp:$k:$i")), 1, 1), 16, 10)
      .cast("int") % 2 === 1, lit(1.0)).otherwise(lit(-1.0))

  private def planeVec(k: Int): Column =
    typedLit((0 until 64).map(i => planeSignVal(k, i)))

  /** Bucket id of a vector in hash table t: Bits sign-bits packed. The
    * projection reuses [[dot]] (left-assoc sequential fold), so it is
    * bit-equal to DuckDB's list_dot_product against the same ±1 plane —
    * the sign test `proj > 0` can never diverge cross-engine.
    */
  private def bucket(emb: Column, t: Int): Column =
    (0 until Bits).map { p =>
      val proj = dot(emb, planeVec(t * Bits + p))
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // int8 embedding quantization — the memory-compression step a
    // 100 TB ANN index needs (4x smaller vectors, SIMD-friendly):
    // per-vector symmetric scale 127/max|x|, snapped to 6 decimals so
    // both engines compute the identical IEEE-754 double
    // (`Parity.snap6`), then q_i = floor(x_i·scale + 0.5). Everything is
    // per-row HOFs (zero shuffles before the contract sort) and every
    // emitted stat is an exact integer except the snapped scale itself;
    // zero-vectors (unquantizable: amax = 0) are shed by the guard
    // filter. Saturation count n_sat audits the clip rate — the number
    // a deployment monitors to catch distribution drift.
    // Per-dimension feature scaling stats — the fit half of the
    // standardize/normalize step an embedding pipeline runs before
    // quantization or ANN indexing (q112/q113 consume the result): for
    // each of the d dimensions, corpus-wide n/mean/std/min/max. Scale
    // shape: posexplode fans each vector into d (dim, value) rows, but
    // the aggregation keys on the d-valued dim with map-side combine —
    // the shuffle carries d partial rows per task, never the corpus;
    // the resulting d-row stats frame is the broadcast side of any
    // later per-row transform. Floats widen to double (exact) before
    // aggregating; mean/std are 6-decimal-snapped (summation-order
    // noise), min/max are exact values.
    "q139_feature_scaling" -> ((s, d) =>
      Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"), col("v").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), round(avg(col("v")), 6).as("mean_v"),
          round(stddev_samp(col("v")), 6).as("std_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("dim"))),

    // Label-centroid similarity matrix — the class-confusability /
    // semantic-overlap report a labeled-embedding corpus owes its
    // curators ("are label 3 and label 7 the same thing?"): per-label
    // centroid (the exact per-dimension mean, 6-decimal-snapped like
    // q139), then cosine between every label pair. Scale shape: the
    // only corpus-wide work is the (label, dim) mean — posexplode
    // fan-out, map-side-combined, |labels|·d partial rows per task;
    // centroids assemble via a sort_array(collect_list) over the
    // BOUNDED d rows per label, and the pairwise stage is a broadcast
    // nested-loop over the |labels|-row frame (|labels|² pairs of
    // d-element arrays — driver-sized in any labeled corpus). The
    // dot/norm/divide chain is the q70 bit-exact fold.
    // Label-balance audit over the embedding corpus — class counts,
    // share, ratio-to-uniform, and the Shannon entropy of the label
    // distribution (the "is this dataset balanced enough to train on"
    // readout). ONE corpus-scale count aggregation to the ≤|labels|
    // frame; everything after is broadcast arithmetic on that frame.
    // Determinism: shares are exact-long divisions; ln(share) is
    // 6-decimal-snapped (ln is snap-stable cross-engine, exp is not —
    // see q197's recipe); each entropy term is an IEEE product of
    // identical doubles; the ≤|labels|-term sum is snapped once more
    // to absorb summation order.
    "q222_label_balance" -> ((s, d) => {
      val g = Tables.embeddings(s, d)
        .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      val tot = g.agg(sum(col("n_vecs")).as("n_total"),
        count(lit(1)).as("n_labels"))
      val shares = g.crossJoin(broadcast(tot))
        .withColumn("share",
          col("n_vecs").cast("double") / col("n_total").cast("double"))
        .withColumn("term",
          -col("share") * snap6(log(col("share"))))
      val ent = shares.agg(snap6(sum(col("term"))).as("entropy"))
      shares.crossJoin(broadcast(ent))
        .select(col("label"), col("n_vecs"), col("share"),
          (col("share") * col("n_labels").cast("double"))
            .as("uniform_ratio"),
          col("entropy"))
        .orderBy(col("label"))
    }),

    // Embedding-norm audit per label — the "are these vectors
    // normalized / did a bad batch slip in" check run before any
    // cosine/ANN stage: count, exact min/max of the squared L2 norm,
    // and the snapped median. Each norm² is ONE left-to-right fold
    // over the vector (the same graft_dot kernel as the scoring
    // queries, bit-identical to DuckDB's list_dot_product), so min/max
    // are order-free comparisons of identical doubles; the median goes
    // through the exact percentile with the q219 6-decimal snap.
    "q223_norm_audit" -> ((s, d) => {
      // The median rides DistributedRank.exactPercentiles
      // (bit-identical, helper doc), not the Percentile aggregate,
      // whose per-label value map would hold an embedding-scale
      // distinct set in one task; the dot-product frame is
      // checkpointed once per invocation for its two consumers.
      val n2f = Tables.embeddings(s, d)
        .select(col("label"), dvec(col("embedding")).as("emb"))
        .select(col("label"), dot(col("emb"), col("emb")).as("n2"))
        .transform(graft.ops.Materialize.frame)
      n2f.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("n2")).as("min_norm2"),
          max(col("n2")).as("max_norm2"))
        // `<=>`: a NULL label is one group of the oracle's GROUP BY
        .join(graft.ops.DistributedRank.exactPercentiles(
            n2f, col("n2"), Seq(0.5), Seq("label"))
          .select(col("label").as("ps_label"),
            snap6(element_at(col("ps"), 1)).as("p50_norm2")),
          col("label") <=> col("ps_label"), "left")
        .drop("ps_label")
        .orderBy(col("label"))
    }),

    "q140_label_centroids" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(snap6(avg(col("v").cast("double"))).as("cv"),
          count(lit(1)).as("nv"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
          .as("pairs"), max(col("nv")).as("n"))
        .select(col("label"), col("n"),
          transform(col("pairs"), p => p.getField("cv")).as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      val a = cent.select(col("label").as("label_a"), col("n").as("n_a"),
        col("emb").as("emb_a"), col("nrm").as("nrm_a"))
      val b = cent.select(col("label").as("label_b"), col("n").as("n_b"),
        col("emb").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(broadcast(b), col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          (dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
            .as("cos_sim"))
        .orderBy(col("label_a"), col("label_b"))
    }),

    // Simplified silhouette against the GOLD labels — "are these
    // labels separable in embedding space?", the go/no-go audit
    // before training a classifier on them (q140 says which classes
    // are close; this says how many points sit on the wrong side).
    // Per point: a = distance to own label centroid, b = min distance
    // to any other, s = (b−a)/max(a,b) ∈ [−1,1]. Exactness: q140's
    // snapped per-dim centroid means; distances via the bit-equal
    // left-assoc dot fold as x·x − 2x·c + c·c (clamped at 0 — float
    // cancellation near a centroid can land −ε, and sqrt(−ε) would
    // NaN); per-point s snapped to exact micro-units so per-label
    // means are exact-long sums ÷ counts. Scale shape: the K-centroid
    // frame broadcasts; the corpus fans out K× and folds back to one
    // row per point in the same stage — the irreducible silhouette
    // cost, linear in K·corpus, no point-point pairs anywhere.
    "q243_silhouette" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(snap6(avg(col("v").cast("double"))).as("cv"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
          .as("pairs"))
        .select(col("label").as("cid"),
          transform(col("pairs"), p => p.getField("cv")).as("cemb"))
        .withColumn("cc", dot(col("cemb"), col("cemb")))
      val pts = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"), dvec(col("embedding")).as("x"))
        .withColumn("xx", dot(col("x"), col("x")))
      val den = greatest(sqrt(col("a2")), sqrt(col("b2")))
      pts.crossJoin(broadcast(cent))
        .withColumn("dist2", greatest(
          col("xx") - lit(2.0) * dot(col("x"), col("cemb")) + col("cc"),
          lit(0.0)))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(when(col("label") === col("cid"), col("dist2"))).as("a2"),
          min(when(col("label") =!= col("cid"), col("dist2"))).as("b2"))
        .withColumn("s_micro", when(den > 0,
          fix6((sqrt(col("b2")) - sqrt(col("a2"))) / den))
          .otherwise(lit(0L)))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("s_micro")).cast("double")
            / count(lit(1)).cast("double") / lit(1e6))
            .as("mean_silhouette"),
          (sum(when(col("s_micro") > 0, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double")).as("separated_share"))
        .orderBy(col("label"))
    }),

    // Product quantization — the codebook compression inside every
    // 100 TB ANN index (IVF-PQ): the 64-dim vector split into 8
    // subspaces of 8 dims, each assigned its nearest sub-centroid, so
    // a 256-byte float vector becomes 8 small codes. Codebook here =
    // the per-label sub-centroids (q140's snapped per-dim means — a
    // supervised stand-in for the k-means codebook; the assignment
    // machinery is identical). Exactness is q243's discipline: snapped
    // centroids broadcast, per-(vector, subspace, centroid) distance
    // as the bit-equal fold xx − 2·xc + cc clamped at 0 and snapped
    // to an exact MICRO-LONG, argmin = min(struct(dist, label)) with
    // the label tie-break. Scale shape: corpus scanned once, the
    // 80-row codebook broadcast, the 80× fan-out folds back through
    // ONE vec_id-keyed exchange (groupBy + 8-value pivot — no
    // per-subspace shuffle); reconstruction error is a sum of 8 exact
    // longs, so it is order-free by construction.
    "q264_pq_codes" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), (col("dim") / 8).cast("int").as("sub"),
          col("dim"))
        .agg(snap6(avg(col("v").cast("double"))).as("cv"))
        .groupBy(col("label"), col("sub"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
          .as("pairs"))
        .select(col("label").as("cid"), col("sub"),
          transform(col("pairs"), p => p.getField("cv")).as("csub"))
        .withColumn("cc", dot(col("csub"), col("csub")))
      val pts = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), dvec(col("embedding")).as("x"))
      val assigned = pts.crossJoin(broadcast(cent))
        .withColumn("xs", slice(col("x"), col("sub") * 8 + 1, lit(8)))
        .withColumn("dist", fix6(greatest(
          dot(col("xs"), col("xs"))
            - lit(2.0) * dot(col("xs"), col("csub")) + col("cc"),
          lit(0.0))))
        .select(col("vec_id"), col("sub"),
          struct(col("dist"), col("cid")).as("dc"))
      val piv = assigned.groupBy(col("vec_id"))
        .pivot("sub", 0 to 7).agg(min(col("dc")))
      val codes = concat_ws("-",
        (0 to 7).map(i => col(s"$i").getField("cid").cast("string")): _*)
      val err = (0 to 7).map(i => col(s"$i").getField("dist"))
        .reduce(_ + _)
      piv.select(col("vec_id"), codes.as("codes"),
          err.as("recon_micros"))
        .orderBy(col("vec_id"))
    }),

    // Reciprocal-rank fusion — the hybrid-retrieval merge every modern
    // search stack runs (dense ANN list + sparse lexical list → one
    // ranking): ranker A scores the corpus by cosine to the query
    // VECTOR (vec_id 0), ranker B by 3-shingle Jaccard to the query
    // DOCUMENT (doc_id 0, ids shared with vec_id); each emits only its
    // top-100 (TakeOrdered — bounded, never a global rank over the
    // corpus), ranks assigned on the bounded frame, and RRF fuses the
    // two lists over their id union: score = Σ 1/(60+rank), absent
    // ranker contributes 0 (the standard Cormack/Clarke form). Both
    // similarity chains are the repo's bit-exact recipes (q70 fold,
    // integer Jaccard parts), so ranks — and the fused doubles — are
    // oracle-identical.
    "q141_rrf_fusion" -> ((s, d) => {
      val c = corpus(s, d)
      val qv = c.filter(col("vec_id") === 0)
        .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
      val rankA = c.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"), pairCosine.as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id").asc).limit(100)
        .withColumn("rank_a", row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("id").asc))
          .cast("long"))
        .select(col("id"), col("rank_a"))
      val sh = Tables.documents(s, d)
        .withColumn("wrds", Text.words(col("text")))
        .filter(size(col("wrds")) >= 3)
        .select(col("doc_id"), Text.shingles3(col("wrds")).as("sh"))
      val qd = sh.filter(col("doc_id") === 0).select(col("sh").as("qsh"))
      val jacScored = sh.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(qd))
      val (inter, union) = Text.jaccardParts(col("sh"), col("qsh"))
      val rankB = jacScored
        .select(col("doc_id").as("id"),
          (inter.cast("double") / union).as("jac"))
        .orderBy(col("jac").desc, col("id").asc).limit(100)
        .withColumn("rank_b", row_number()
          .over(Window.orderBy(col("jac").desc, col("id").asc))
          .cast("long"))
        .select(col("id"), col("rank_b"))
      rankA.join(rankB, Seq("id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rank_a")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rank_b")), lit(0.0)))
        .orderBy(col("rrf").desc, col("id").asc).limit(20)
        .select(col("id"), col("rank_a"), col("rank_b"), col("rrf"))
    }),

    "q112_quantize_int8" -> ((s, d) =>
      quantized(s, d)
        .select(
          col("vec_id"), col("scale6"),
          aggregate(col("qs"), lit(0L), (a, v) => a + v).as("sum_q"),
          array_min(col("qs")).as("min_q"),
          array_max(col("qs")).as("max_q"),
          size(filter(col("qs"), v => abs(v) >= 127)).cast("long").as("n_sat"))
        .orderBy(col("vec_id"))),

    // ANN over the QUANTIZED vectors — the compressed search path a
    // 100 TB index actually serves: integer dot products (exact in both
    // engines, no float summation order to worry about) normalized by
    // integer squared norms through sqrt — the one libm function IEEE
    // 754 requires to be correctly rounded, so even the cosine column
    // is bit-equal cross-engine. Same shape as q70: queries broadcast,
    // corpus scanned once, per-query top-k windowed.
    "q113_ann_int8" -> ((s, d) => {
      val qz = quantized(s, d)
        .withColumn("n2", aggregate(col("qs"), lit(0L), (a, v) => a + v * v))
      val probes = qz.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("qs").as("q_qs"),
          col("n2").as("q_n2"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_q").desc, col("vec_id").asc)
      qz.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("dot_q",
          aggregate(zip_with(col("qs"), col("q_qs"), (a, b) => a * b),
            lit(0L), (a, v) => a + v))
        .withColumn("cos_q",
          col("dot_q") / (sqrt(col("n2")) * sqrt(col("q_n2"))))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rank"), col("dot_q"), col("cos_q"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Distributed k-means (Lloyd), the clustering primitive behind
    // SemDeDup-style semantic dedup and corpus bucketing, shaped the
    // way production Spark k-means is shaped: centroids live on the
    // DRIVER (k·(d+1) longs — 8×65 here) and are re-broadcast each
    // iteration as ONE typed literal, so assignment is a pure per-row
    // expression — transform over the centroid literal + array_min on
    // (score, cid) structs — with ZERO shuffle; the only shuffle per
    // iteration is the k-group centroid update, map-side combined to k
    // rows per partition. Cross-engine determinism (float centroid
    // averages are summation-order-noisy — the reason q76 used fixed
    // medoids) comes from running Lloyd in INTEGER space: vectors are
    // int8-quantized with one GLOBAL 6-decimal-snapped scale (so
    // quantized coordinates are comparable across vectors), centroids
    // are kept as exact integer (sum-vector S, count n) pairs, and the
    // assignment objective drops the x-only term from ||x - S/n||²:
    //   score(x, C) = (S·S)/(n·n) - 2·(x·S)/n
    // — two exact-integer dot products pushed through correctly-rounded
    // double division, bit-equal in both engines, ties broken by cid.
    // Seeds: the k rows with the smallest md5(vec_id) (the q63 shared-
    // hash recipe; orderBy+limit plans TakeOrderedAndProject, a
    // distributed top-k, not a single-partition window). Two update
    // rounds + a final assignment; empty clusters are dropped, and a
    // degenerate corpus (global amax snapping the scale to 0) is still
    // deterministic — all-zero vectors tie every score and land in the
    // lowest cid. Each iteration rescans the (cheap) quantized corpus;
    // a production run persists it — the lineage-vs-checkpoint trade
    // documented on q111. Output is all exact BIGINTs: per-cluster
    // size, id range, and cohesion Σ members x·S_final.
    "q119_kmeans" -> ((s, d) => {
      val K = 8
      val Iters = 2
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), v => v.cast("double")).as("x"))
      // Row-based read, not Encoders.scalaDouble: a global max over an
      // EMPTY corpus is one NULL row, and the non-nullable double
      // encoder asserts on it (an empty corpus)
      val amaxG = x
        .agg(max(aggregate(col("x"), lit(0.0), (a, v) => greatest(a, abs(v)))))
        .collect().headOption
        .collect { case r if !r.isNullAt(0) => r.getDouble(0) }
        .getOrElse(0.0)
      if (!(amaxG > 0)) {
        // empty/degenerate corpus: same empty result the oracle's
        // `WHERE amax > 0` one-row gate produces.
        s.range(0).select(col("id").as("cid"), col("id").as("n_members"),
          col("id").as("min_vid"), col("id").as("max_vid"),
          col("id").as("coh_dot"))
      } else {
        // identical IEEE op order to the oracle's floor(127.0/amax*1e6+0.5)/1e6
        val gsc = snap6(127.0 / amaxG)
        val quant = x.select(col("vec_id"),
          transform(col("x"), v => greatest(lit(-127L), least(lit(127L),
            floor(v * lit(gsc) + 0.5).cast("long")))).as("qs"))
        val idot = (a: Column, b: Column) =>
          aggregate(zip_with(a, b, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
        // centroid = (cid, n, S·S, S); seeds are the k min-md5 vectors
        var cents: Seq[(Long, Long, Long, Seq[Long])] = quant
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
          .limit(K).collect().map { r =>
            val s0 = r.getSeq[Long](1)
            (r.getLong(0), 1L, s0.map(v => v * v).sum, s0)
          }.toSeq
        // dimensionality from the data, not a constant: element_at
        // past the array end ANSI-throws (degenerate probe, 4-d corpus)
        val D = cents.map(_._4.length).min
        def assigned = {
          val ca = typedLit(cents)
          val best = array_min(transform(ca, c => {
            val n = c.getField("_2")
            val xs = idot(col("qs"), c.getField("_4"))
            struct(
              (c.getField("_3") / (n * n) - lit(2.0) * xs / n).as("score"),
              c.getField("_1").as("cid"), xs.as("xs"))
          }))
          quant.select(col("vec_id"), col("qs"),
            best.getField("cid").as("cid"), best.getField("xs").as("xs"))
        }
        for (_ <- 1 to Iters) {
          val sums = (0 until D).map(j =>
            sum(element_at(col("qs"), j + 1)).as(s"s$j"))
          cents = assigned.groupBy(col("cid"))
            .agg(count(lit(1)).as("n"), sums: _*)
            .collect().map { r =>
              val sv = (0 until D).map(j => r.getLong(2 + j))
              (r.getLong(0), r.getLong(1), sv.map(v => v * v).sum, sv)
            }.toSeq.sortBy(_._1)
        }
        assigned.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_vid"),
            max(col("vec_id")).as("max_vid"), sum(col("xs")).as("coh_dot"))
          .orderBy(col("cid"))
      }
    }),

    // exact brute-force cosine top-k: the correctness baseline every ANN
    // variant is measured against.
    "q70_cosine_topk" -> ((s, d) =>
      neighbors(scored(s, d), TopK).orderBy(col("query_id"), col("rank"))),

    // NDCG@10 ranking-quality evaluation — the graded complement of
    // q71's recall@k: how close does the IVF-style within-cell ANN
    // ranking (the q76 index shape, top-10) come to the exact
    // brute-force cosine ranking (q70, the ideal)? Gain of a retrieved
    // item = 11 − its EXACT rank (0 if outside the exact top-10);
    // DCG discounts by log2(position+1), IDCG is the exact list's own
    // DCG, NDCG = DCG/IDCG ∈ [0, 1]. Determinism: the log2 discount is
    // transcendental, so it snaps via the q110 floor(·1e6+0.5) recipe;
    // each DCG term then snaps to exact 1e-9 units and the per-query
    // sums are LONG folds — order-free — with the final ratios
    // correctly-rounded divisions of exact longs. Scale shape: both
    // rankings are bounded per-query top-10 frames off broadcast
    // query sets; the eval join touches ≤10·|queries| rows.
    "q169_ndcg" -> ((s, d) => {
      val K = 10
      val exact = topK(scored(s, d), K)
        .select(col("query_id"), col("vec_id"),
          (lit(11) - col("rank")).cast("long").as("rel"), col("rank"))
      val c = corpus(s, d)
      val run = topK(sameLabelPairs(c, probeSet(c, NumQueries)), K)
        .select(col("query_id"), col("vec_id"), col("rank"))
      def units(rel: Column, rank: Column): Column = {
        val disc = snap6(log2(rank.cast("double") + 1.0))
        floor(rel.cast("double") / disc * 1e9 + 0.5).cast("long")
      }
      val dcg = run
        .join(exact.select(col("query_id"), col("vec_id"), col("rel")),
          Seq("query_id", "vec_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("t", units(col("rel"), col("rank")))
        .groupBy(col("query_id")).agg(sum(col("t")).as("dcg_u"))
      val idcg = exact
        .withColumn("t", units(col("rel"), col("rank")))
        .groupBy(col("query_id")).agg(sum(col("t")).as("idcg_u"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"),
          (col("dcg_u").cast("double") / 1e9).as("dcg"),
          (col("idcg_u").cast("double") / 1e9).as("idcg"),
          (col("dcg_u").cast("double") / col("idcg_u").cast("double"))
            .as("ndcg"))
        .orderBy(col("query_id"))
    }),

    // kNN classification readout — predict each query vector's label
    // by majority vote of its 5 exact nearest neighbors (self
    // excluded), then score against the true label: the standard
    // embedding-quality probe (a good embedding space makes kNN a
    // strong classifier). Majority with a TOTAL tie-break — max count,
    // then smallest label — via one struct max_by, no window. All
    // counts and comparisons are exact; cosine is the repo's bit-exact
    // recipe, so neighbor sets are identical cross-engine. Scale
    // shape: per-query top-5 is a bounded window off the broadcast
    // query set; the vote is a ≤5-row aggregate per query.
    "q174_knn_classify" -> ((s, d) => {
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      val truth = labels.select(col("vec_id").as("query_id"),
        col("label").as("true_label"))
      val nn5 = topK(scored(s, d), 5).join(labels, "vec_id")
      val votes = nn5.groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      // vote key packs (votes, -label) into one long — votes ≤ 5 and
      // label ≤ 9, so votes·100 − label is a total order DuckDB's
      // two-arg arg_max can mirror (it has no struct-key overload).
      votes.groupBy(col("query_id"))
        .agg(max_by(col("label"),
            col("n_votes") * 100 - col("label")).as("pred_label"),
          max(col("n_votes")).as("top_votes"))
        .join(broadcast(truth), "query_id")
        .select(col("query_id"), col("pred_label"), col("top_votes"),
          col("true_label"),
          (col("pred_label") === col("true_label")).as("is_correct"))
        .orderBy(col("query_id"))
    }),

    // IVF-style ANN: the label column is the precomputed coarse cell
    // (as a vector store persists cluster assignments); a query probes
    // only its own cell — at 100 TB the cell id is the partition key,
    // so a probe touches 1/|cells| of the corpus. Exact cosine ranks
    // within the cell; bit-exact doubles make this fully oracle-able,
    // unlike the hash-based LSH variant below.
    "q76_ann_ivf" -> ((s, d) => {
      val c = corpus(s, d)
      neighbors(sameLabelPairs(c, probeSet(c, NumQueries)), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF with COMPUTED coarse cells + multi-probe: each vector's cell
    // is its nearest label medoid (`ivfSeeds`, `ivfAssigned`), and a
    // query probes its nprobe=2 nearest cells — the recall knob a real
    // IVF index turns. Exact cosine reranks candidates; everything is
    // bit-exact doubles, so the full index build + probe pipeline is
    // oracle-checked, not just recall-asserted.
    "q76b_ann_ivf_probe" -> ((s, d) => {
      val c = corpus(s, d)
      val seeds = ivfSeeds(c)
      ivfTop5(ivfAssigned(c, seeds),
        probeCells(probeSet(c, NumQueries), seeds, 2))
    }),

    // Embedding split-drift monitor — the dense-space companion of
    // q224/q225's textual KS/PSI drift: split the vector corpus into
    // two halves by the q100 affine hash and compare per-label
    // centroids ACROSS halves (cosine + size balance). Healthy data:
    // cos ≈ 1 per label; an embedding-version mix-up or a skewed
    // ingest shows up as a label whose halves disagree. q140's
    // snapped-centroid recipe per (label, half), the ≤2·|labels|-row
    // centroid frame self-joined — everything after the one
    // (label, half, dim) exchange is label-bounded. At 100 TB the
    // halves are day-over-day or shard-over-shard frames; the
    // comparison object stays centroid-sized.
    "q277_split_drift" -> ((s, d) => {
      val cent = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .withColumn("half",
          (col("vec_id") * 1103515245L + 12345L) % 2L)
        .select(col("label"), col("half"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("half"), col("dim"))
        .agg(snap6(avg(col("v").cast("double"))).as("cv"),
          count(lit(1)).as("nv"))
        .groupBy(col("label"), col("half"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
          .as("pairs"), max(col("nv")).as("n"))
        .select(col("label"), col("half"), col("n"),
          transform(col("pairs"), p => p.getField("cv")).as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      cent.filter(col("half") === 0L)
        .select(col("label"), col("n").as("n_a"),
          col("emb").as("emb_a"), col("nrm").as("nrm_a"))
        .join(cent.filter(col("half") === 1L)
          .select(col("label"), col("n").as("n_b"),
            col("emb").as("emb_b"), col("nrm").as("nrm_b")),
          Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          (dot(col("emb_a"), col("emb_b"))
            / (col("nrm_a") * col("nrm_b"))).as("centroid_cos"),
          (abs(col("n_a") - col("n_b")).cast("double")
            / (col("n_a") + col("n_b")).cast("double"))
            .as("size_imbalance"))
        .orderBy(col("label"))
    }),

    // IVF nprobe recall curve — q271's (LSH banding) and q263's
    // (SimHash) companion for the dense-ANN side, completing the
    // sketch/index TUNING family: measure recall@5 against exact
    // brute-force top-5 for nprobe ∈ {1, 2, 3}, the knob a real IVF
    // deployment turns per its latency budget. A cell ranked c for a
    // query participates in every nprobe ≥ c (one explode — no
    // 3× re-probe), candidates rerank per (nprobe, query), hits join
    // the exact set, recall = hits / |exact| as one division.
    // Bit-exact doubles end-to-end (q76b's discipline), so the whole
    // curve is oracle-checked. The exact side is the same
    // queries-broadcast corpus scan as q70 — the measurement is run
    // on a sample; the INDEX path is what serves at 100 TB.
    "q275_ann_recall" -> ((s, d) => {
      val c = corpus(s, d)
      val seeds = ivfSeeds(c)
      val queries = probeSet(c, NumQueries)
      val exact = topK(allPairs(c, queries), 5)
        .select(col("query_id"), col("vec_id"))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val probes = probeCells(queries, seeds, 3)
        .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
          explode(sequence(col("crank"), lit(3))).as("nprobe"))
      val approx = cosPairs(
          ivfAssigned(c, seeds).join(broadcast(probes), Seq("cell")),
          col("nprobe"))
        .withColumn("rank", cosRank("nprobe"))
      approx
        .withColumn("hit", when(col("rank") <= 5, 1L).otherwise(0L))
        .join(exact.withColumn("ex", lit(1)), Seq("query_id", "vec_id"),
          "left")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("hit") === 1L && col("ex").isNotNull, 1L)
            .otherwise(0L)).as("hits"))
        .crossJoin(broadcast(nExact))
        .select(col("nprobe").cast("long").as("nprobe"),
          col("n_candidates"), col("hits"),
          (col("hits").cast("double") / col("n_exact").cast("double"))
            .as("recall_at_5"))
        .orderBy(col("nprobe"))
    }),

    // The IVF index AS STORAGE LAYOUT — what q76b's in-memory cell
    // assignment becomes in a persisted 100 TB vector store: the
    // cell-assigned corpus (embedding + precomputed norm; doubles
    // round-trip parquet bit-exactly) is written `partitionBy(cell)`,
    // and a probe computes its nprobe=2 cells against the tiny seed
    // table, COLLECTS the probed-cell union on the driver (≤ k cells —
    // the centroid table is driver-sized in any real IVF system), and
    // reads back with `cell IN (...)`: a STATIC partition filter, so
    // the scan touches only the probed cells' directories — 7-8 of 10
    // at the test scales, and 1/|cells| of the corpus at 100 TB where
    // |cells| is thousands. PlanShapeSpec pins the partition filter on
    // the scan and that the probed union genuinely excludes cells.
    // Results are IDENTICAL to q76b (same oracle SQL): the layout
    // changes where bytes live, never the answer.
    "q123_ann_partitioned" -> ((s, d) => {
      val dir =
        s"target/tmp/ann/${d.replaceAll("[^A-Za-z0-9.]", "_")}/ivf_cells"
      val c = corpus(s, d)
      val seeds = ivfSeeds(c)
      val cellsOut = ivfAssigned(c, seeds)
        .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
      cellsOut.write.mode("overwrite").partitionBy("cell").parquet(dir)
      val probes = probeCells(probeSet(c, NumQueries), seeds, 2)
      val probedCells = probes.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).sorted
      // explicit read-back schema (q81 rationale): an empty corpus
      // writes no parquet footers and inference would fail the job
      ivfTop5(s.read.schema(cellsOut.schema).parquet(dir)
        .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*)),
        probes)
    }),

    // LSH-bucketed ANN top-k: candidates = vectors sharing any of the 8
    // table buckets with the query; exact cosine re-ranks candidates.
    // md5-derived hyperplanes (planeSign above) make the WHOLE pipeline
    // — bucket assignment, candidate generation, re-rank, recall —
    // reproducible in the DuckDB oracle, so the row is hash-green, not
    // rows-only. The query stays SELF-VERIFYING on top of that: the
    // exact top-k (q70's plan) is computed alongside and each output
    // row carries its query's recall@k — the per-query quality metric a
    // vector store would report, visible in the result rather than only
    // in OpsSpec (which still pins recall >= 0.5 on the column).
    "q71_ann_lsh" -> ((s, d) => {
      val bucketed = corpus(s, d).select(col("vec_id"), col("emb"), col("nrm"), posexplode(
        array((0 until NumTables).map(t => bucket(col("emb"), t)): _*))
        .as(Seq("table_id", "bucket_id")))
      val qb = bucketed.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"), col("table_id"), col("bucket_id"))
      // cosine is computed BEFORE the candidate dedup: a pair colliding
      // in k of the 8 tables recomputes the (codegen'd) dot product k
      // times, but the dropDuplicates exchange then carries 24-byte
      // (query, vec, cos) rows instead of ~1 KB rows with both
      // embeddings — at cluster scale the shuffle, not the FLOPs, is
      // the bottleneck. cos_sim is a pure function of the pair, so
      // dedup keyed on (query_id, vec_id) is unaffected.
      val cand = cosPairs(
          bucketed.join(broadcast(qb), Seq("table_id", "bucket_id")))
        .dropDuplicates("query_id", "vec_id")
      val lshTop = neighbors(cand, TopK)
      val exactTop = topK(scored(s, d), TopK)
        .select(col("query_id").as("e_qid"), col("vec_id").as("e_vid"))
      val perQuery = Window.partitionBy(col("query_id"))
      lshTop
        .join(exactTop, col("query_id") === col("e_qid")
          && col("neighbor_id") === col("e_vid"), "left")
        .withColumn("recall",
          count(col("e_vid")).over(perQuery) / lit(TopK.toDouble))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cos_sim"), col("recall"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Johnson-Lindenstrauss distortion audit — project 64-d
    // embeddings to 8-d with a ±1 Achlioptas matrix and MEASURE what
    // that does to pairwise L2² (ratio/m ≈ 1 ⇒ the cheap sketch is
    // safe for routing/blocking; the dimensioning answer q112's int8
    // and q264's PQ audits give for quantization, asked for random
    // projection). The sign matrix is derived ONCE in Scala from MD5
    // parity and embedded as ±d_i literals in BOTH the Spark columns
    // and the generated oracle SQL (the q282 single-source rule — no
    // cross-engine hash function needed, no transcription drift).
    // Determinism: float elements widen EXACTLY to double; every sum
    // is a fixed LEFT-ASSOCIATIVE chain spelled identically in both
    // engines (projecting the DIFFERENCE vector, Σₖ(Σᵢ s_ki·dᵢ)², so
    // the two sides share the dᵢ terms); per-pair ratios snap to
    // exact micro-longs BEFORE the per-label mean — the only
    // unordered fold is over exact longs. Scale shape: pairs are the
    // linear vec_id→vec_id+1 chain (never all-pairs), one self-join
    // on adjacent ids riding ReuseExchange; all math is per-row
    // codegen, no shuffle beyond the bounded per-label rollup.
    "q297_jl_distortion" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val b = e.select((col("vec_id") - 1L).as("bid"),
        col("embedding").as("emb_b"))
      val paired = e.join(b, col("vec_id") === col("bid"))
        // audit only full-dimensionality vectors: getItem past the
        // array end ANSI-throws (degenerate probe, 4-d corpus);
        // mirrored as len() >= JlDims in the generated oracle
        .filter(size(col("embedding")) >= JlDims &&
          size(col("emb_b")) >= JlDims)
      val dcols = (0 until JlDims).map(i =>
        col("embedding").getItem(i).cast("double")
          - col("emb_b").getItem(i).cast("double"))
      val orig2 = dcols.map(x => x * x).reduce(_ + _)
      val proj2 = (0 until JlProjDims).map { k =>
        val pk = dcols.zip(JlSigns(k)).map {
          case (c, s) => if (s > 0) c else -c
        }.reduce(_ + _)
        pk * pk
      }.reduce(_ + _)
      paired
        .select(col("label"), orig2.as("orig2"), proj2.as("proj2"))
        .filter(col("orig2") > 0.0)
        .select(col("label"),
          fix6(col("proj2") / (lit(JlProjDims.toDouble) * col("orig2")))
            .as("r6"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_pairs"),
          snap6(sum(col("r6")).cast("double")
            / count(lit(1)).cast("double") / 1e6).as("mean_ratio"),
          (min(col("r6")).cast("double") / 1e6).as("min_ratio"),
          (max(col("r6")).cast("double") / 1e6).as("max_ratio"))
        .orderBy(col("label"))
    }),

    // Simplified silhouette of the embedding labels (Rousseeuw's
    // cluster-quality score in its centroid form — a(i) = distance
    // to own centroid, b(i) = nearest OTHER centroid, s = (b−a)/
    // max(a,b)) — the clustering EVAL the q119/q123 cluster builders
    // and q169's retrieval NDCG don't give: are the given labels
    // actually separated in embedding space? Centroid form keeps it
    // scale-sane (the classic all-pairs silhouette is O(n²)). Exact
    // construction: components quantize to micro-int longs, so per-
    // label per-dim sums S_ld are exact and the squared distance
    // numerator Σ_d(x6_d·cnt_l − S_ld)² is exact DECIMAL — each
    // distance is ONE sqrt of a single division, each s_i freezes to
    // a micro-long before the per-label mean (the q169 fold rule).
    // Scale shape: centroid stats are a bounded |labels|×|dims|
    // frame broadcast back; the distance pass fans each vector row
    // out |labels|× per dim — linear in vectors with a bounded
    // constant; means fold on the label frame.
    "q347_silhouette" -> ((s, d) => {
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(dvec(col("embedding"))).as(Seq("dim", "xv")))
        .withColumn("x6", fix6(col("xv")))
        .select(col("vec_id"), col("label"), col("dim"), col("x6"))
      val cent = x.groupBy(col("label").as("cl"), col("dim"))
        .agg(sum(col("x6")).as("sld"), count(lit(1)).as("cnt"))
      val dists = x.join(broadcast(cent), Seq("dim"))
        .withColumn("diff", dec(col("x6")) * dec(col("cnt")) - col("sld"))
        .groupBy(col("vec_id"), col("label"), col("cl"), col("cnt"))
        .agg(sum(col("diff") * col("diff")).as("num"))
        .select(col("vec_id"), col("label"), col("cl"),
          (sqrt(col("num").cast("double"))
            / (col("cnt").cast("double") * 1e6)).as("dist"))
      val sil = dists.groupBy(col("vec_id"), col("label"))
        .agg(max(when(col("label") === col("cl"), col("dist"))).as("a"),
          min(when(col("label") =!= col("cl"), col("dist"))).as("b"))
        .withColumn("s6", when(greatest(col("a"), col("b")) > 0.0,
          fix6((col("b") - col("a")) / greatest(col("a"), col("b"))))
          .otherwise(0L))
      sil.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          snap6(sum(col("s6")).cast("double")
            / (count(lit(1)).cast("double") * 1e6))
            .as("mean_silhouette"))
        .orderBy(col("label"))
    }),

    // Embedding anisotropy audit (Ethayarajh-style) — how far is the
    // embedding cloud from isotropic? mean cosine of every vector to
    // the corpus centroid: ≈0 for a healthy centered space, →1 when
    // everything points one way (the "narrow cone" pathology that
    // silently breaks cosine retrieval — the space-level health
    // check q70/q76's per-query scores can't see). Exact
    // construction: micro-int components make the per-dim sums S_d
    // exact, so dot(x, m), ‖x‖², and ‖m‖² all carry as exact DECIMAL
    // numerators over SHARED power-of-ten denominators — each cosine
    // is one division + sqrt of exact operands, frozen to a µ-long
    // before the corpus mean (q169 rule). Scale shape: two corpus
    // passes over the (vec, dim) frame (one for S_d — a bounded
    // |dims| aggregate broadcast back — one for the scores);
    // everything folds map-side; one row out.
    "q354_anisotropy" -> ((s, d) => {
      val x = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(dvec(col("embedding"))).as(Seq("dim", "xv")))
        .withColumn("x6", fix6(col("xv")))
        .select(col("vec_id"), col("dim"), col("x6"))
      val cent = x.groupBy(col("dim"))
        .agg(sum(col("x6")).as("sd"), count(lit(1)).as("n"))
      val mnorm = cent.agg(max(col("n")).as("nv"),
        count(lit(1)).as("ndims"),
        sum(dec(col("sd")) * dec(col("sd"))).as("m2"))
      val per = x.join(broadcast(cent.select(col("dim"), col("sd"))),
          Seq("dim"))
        .groupBy(col("vec_id"))
        .agg(sum(dec(col("x6")) * col("sd")).as("dt"),
          sum(dec(col("x6")) * dec(col("x6"))).as("x2"))
      per.crossJoin(broadcast(mnorm))
        .withColumn("c6", when(col("x2") > 0 && col("m2") > 0,
          fix6(col("dt").cast("double")
            / (sqrt(col("x2").cast("double"))
              * sqrt(col("m2").cast("double")))))
          .otherwise(0L))
        .withColumn("nrm6", floor(sqrt(col("x2").cast("double"))
          + 0.5).cast("long"))
        .groupBy(col("nv"), col("ndims"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("c6")).as("sc6"), sum(col("nrm6")).as("sn6"))
        .select(col("n_vecs"), col("ndims").as("n_dims"),
          snap6(col("sn6").cast("double")
            / (col("n_vecs").cast("double") * 1e6)).as("mean_norm"),
          snap6(col("sc6").cast("double")
            / (col("n_vecs").cast("double") * 1e6)).as("anisotropy"))
    }),

    // Label-MRR of exact cosine retrieval — at what rank does the
    // first SAME-LABEL neighbor appear? Mean reciprocal rank per
    // probe label over a 50-probe panel: the "does similarity find
    // my class" retrieval eval between q71's recall (set overlap)
    // and q169's NDCG (graded list) — MRR is the metric when one
    // relevant hit suffices. The probe panel is bounded (the honest
    // eval-sample shape at any corpus size: |probes|×n scored pairs
    // off a broadcast probe side); first-hit rank is a min over the
    // rank window; reciprocal ranks freeze to µ-longs before the
    // per-label mean (q169 rule). Probes with no same-label neighbor
    // contribute rr = 0 (standard MRR).
    "q365_label_mrr" -> ((s, d) => {
      val c = corpus(s, d)
      allPairs(c, probeSet(c, 50), col("q_label"), col("label"))
        .withColumn("rank", cosRank())
        .groupBy(col("query_id"), col("q_label"))
        .agg(min(when(col("label") === col("q_label"), col("rank")))
          .as("first_hit"))
        .withColumn("rr6", coalesce(
          expr("1000000L DIV first_hit"), lit(0L)))
        .groupBy(col("q_label"))
        .agg(count(lit(1)).as("n_probes"),
          snap6(sum(col("rr6")).cast("double")
            / (count(lit(1)).cast("double") * 1e6)).as("mrr"),
          snap6(avg(col("first_hit").cast("double"))).as("mean_first_hit"))
        .orderBy(col("q_label"))
    }),

    // k-NN classification accuracy (k = 5, majority vote, ties →
    // smaller label) over the same 50-probe panel — the END-TO-END
    // readout of embedding quality (q347's silhouette scores
    // geometry; this scores the decision a retrieval system would
    // actually make). Vote counting is exact set logic on the top-5
    // window; the majority is one (count DESC, label) rank; accuracy
    // is a division of exact longs. Same bounded-probe scale shape
    // as q365.
    "q366_knn_accuracy" -> ((s, d) => {
      val c = corpus(s, d)
      val top5 = topK(
        allPairs(c, probeSet(c, 50), col("q_label"), col("label")), 5)
      val pred = top5.groupBy(col("query_id"), col("q_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("label"))))
        .filter(col("vr") === 1)
      pred.groupBy(col("q_label"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("label") === col("q_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .withColumn("accuracy", snap6(col("n_correct").cast("double")
          / col("n_probes").cast("double")))
        .orderBy(col("q_label"))
    })
  )

  /** JL audit dimensions (q297): corpus embedding width and the
    * projected width m; distortion ratios normalize by m. */
  private val JlDims = 64
  private val JlProjDims = 8

  /** The q297 ±1 sign matrix — MD5-parity of "i_k", derived once here
    * and embedded as literals in both engines' expressions (the q282
    * single-source-of-truth rule). */
  private lazy val JlSigns: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until JlProjDims).map { k =>
      (0 until JlDims).map { i =>
        val h = md.digest(s"${i}_${k}".getBytes("UTF-8"))
        if (((h(0) >> 7) & 1) == 0) 1 else -1
      }
    }
  }

  /** Generated q297 oracle: the same left-associative difference,
    * projection, and ratio chains with the same embedded signs. */
  private lazy val JlOracleSql: String = {
    val dDefs = (0 until JlDims).map(i =>
      s"CAST(a.embedding[${i + 1}] AS DOUBLE) - " +
        s"CAST(b.embedding[${i + 1}] AS DOUBLE) AS d$i").mkString(",\n    ")
    val orig2 = (0 until JlDims).map(i => s"d$i * d$i").mkString(" + ")
    val proj2 = (0 until JlProjDims).map { k =>
      val pk = (0 until JlDims).map { i =>
        if (JlSigns(k)(i) > 0) s"d$i" else s"(-d$i)"
      }.mkString(" + ")
      s"(($pk) * ($pk))"
    }.mkString(" + ")
    s"""WITH p AS (SELECT a.label,
       |    $dDefs
       |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |  WHERE len(a.embedding) >= ${JlDims}
       |    AND len(b.embedding) >= ${JlDims}),
       |m AS (SELECT label, $orig2 AS orig2, $proj2 AS proj2 FROM p),
       |r AS (SELECT label,
       |    CAST(floor(proj2 / (CAST(${JlProjDims} AS DOUBLE) * orig2)
       |      * 1e6 + 0.5) AS BIGINT) AS r6
       |  FROM m WHERE orig2 > 0.0)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
       |  floor(CAST(sum(r6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    / 1e6 * 1e6 + 0.5) / 1e6 AS mean_ratio,
       |  CAST(min(r6) AS DOUBLE) / 1e6 AS min_ratio,
       |  CAST(max(r6) AS DOUBLE) / 1e6 AS max_ratio
       |FROM r GROUP BY label ORDER BY label""".stripMargin
  }

  /** Shared oracle for q76b and q123: q123 persists q76b's pipeline
    * partitionBy(cell) and probes via a static partition filter — the
    * layout changes where bytes live, never the answer.
    */
  private val IvfProbeSql: String =
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
        |seeds AS (SELECT label AS cell, emb AS c_emb
        |  FROM (SELECT *, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        |    FROM t) WHERE rn = 1),
        |scored_seeds AS (SELECT t.vec_id, s.cell,
        |    list_dot_product(t.emb, s.c_emb)
        |      / (sqrt(list_dot_product(t.emb, t.emb))
        |         * sqrt(list_dot_product(s.c_emb, s.c_emb))) AS sim
        |  FROM t CROSS JOIN seeds s),
        |assigned AS (SELECT vec_id, cell
        |  FROM (SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, cell ASC) AS rn
        |    FROM scored_seeds) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cell
        |  FROM (SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, cell ASC) AS rn
        |    FROM scored_seeds WHERE vec_id < 5) WHERE rn <= 2),
        |cand AS (SELECT p.query_id, c.vec_id,
        |    list_dot_product(c.emb, q.emb)
        |      / (sqrt(list_dot_product(c.emb, c.emb))
        |         * sqrt(list_dot_product(q.emb, q.emb))) AS cos_sim
        |  FROM t c
        |  JOIN assigned a ON a.vec_id = c.vec_id
        |  JOIN probes p ON p.cell = a.cell
        |  JOIN t q ON q.vec_id = p.query_id
        |  WHERE c.vec_id <> p.query_id),
        |ranked AS (SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM cand)
        |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  def oracle: Map[String, String] = Map(
    "q277_split_drift" ->
      """WITH e AS (SELECT label,
        |    (vec_id * 1103515245 + 12345) % 2 AS half,
        |    unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT label, half, ord,
        |    floor(avg(v) * 1e6 + 0.5) / 1e6 AS cv, count(*) AS nv
        |  FROM e GROUP BY 1, 2, 3),
        |vec AS (SELECT label, half, max(nv) AS n,
        |    list(cv ORDER BY ord) AS emb
        |  FROM c GROUP BY 1, 2),
        |v2 AS (SELECT label, half, n, emb,
        |    sqrt(list_dot_product(emb, emb)) AS nrm FROM vec)
        |SELECT a.label, a.n AS n_a, b.n AS n_b,
        |  list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
        |    AS centroid_cos,
        |  CAST(abs(a.n - b.n) AS DOUBLE) / CAST(a.n + b.n AS DOUBLE)
        |    AS size_imbalance
        |FROM v2 a JOIN v2 b ON a.label = b.label
        |  AND a.half = 0 AND b.half = 1
        |ORDER BY a.label""".stripMargin,

    "q275_ann_recall" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
        |  FROM embeddings),
        |seeds AS (SELECT label AS cell, emb AS c_emb
        |  FROM (SELECT *, row_number() OVER (PARTITION BY label
        |      ORDER BY vec_id) AS rn FROM t) WHERE rn = 1),
        |scored_seeds AS (SELECT t.vec_id, s.cell,
        |    list_dot_product(t.emb, s.c_emb)
        |      / (sqrt(list_dot_product(t.emb, t.emb))
        |         * sqrt(list_dot_product(s.c_emb, s.c_emb))) AS sim
        |  FROM t CROSS JOIN seeds s),
        |assigned AS (SELECT vec_id, cell
        |  FROM (SELECT vec_id, cell, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |    FROM scored_seeds) WHERE rn = 1),
        |qc AS (SELECT vec_id AS query_id, cell, rn AS crank
        |  FROM (SELECT vec_id, cell, row_number() OVER
        |      (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |    FROM scored_seeds WHERE vec_id < 5) WHERE rn <= 3),
        |probes AS (SELECT query_id, cell,
        |    unnest(range(crank, 4)) AS nprobe FROM qc),
        |ex AS (SELECT query_id, vec_id
        |  FROM (SELECT q.vec_id AS query_id, c.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_dot_product(c.emb, q.emb)
        |          / (sqrt(list_dot_product(c.emb, c.emb))
        |             * sqrt(list_dot_product(q.emb, q.emb))) DESC,
        |          c.vec_id ASC) AS rank
        |    FROM t c CROSS JOIN (SELECT * FROM t WHERE vec_id < 5) q
        |    WHERE c.vec_id <> q.vec_id) WHERE rank <= 5),
        |nx AS (SELECT count(*) AS n_exact FROM ex),
        |cand AS (SELECT p.nprobe, p.query_id, c.vec_id,
        |    row_number() OVER (PARTITION BY p.nprobe, p.query_id
        |      ORDER BY list_dot_product(c.emb, q.emb)
        |        / (sqrt(list_dot_product(c.emb, c.emb))
        |           * sqrt(list_dot_product(q.emb, q.emb))) DESC,
        |        c.vec_id ASC) AS rank
        |  FROM t c
        |  JOIN assigned a ON a.vec_id = c.vec_id
        |  JOIN probes p ON p.cell = a.cell
        |  JOIN t q ON q.vec_id = p.query_id
        |  WHERE c.vec_id <> p.query_id)
        |SELECT CAST(nprobe AS BIGINT) AS nprobe,
        |  count(*) AS n_candidates,
        |  CAST(sum(CASE WHEN rank <= 5 AND e.vec_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(sum(CASE WHEN rank <= 5 AND e.vec_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(n_exact AS DOUBLE)
        |    AS recall_at_5
        |FROM cand LEFT JOIN ex e
        |  ON cand.query_id = e.query_id AND cand.vec_id = e.vec_id, nx
        |GROUP BY nprobe, n_exact ORDER BY nprobe""".stripMargin,

    "q222_label_balance" ->
      """WITH g AS (SELECT label, count(*) AS n_vecs FROM embeddings
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |    count(*) AS n_labels FROM g),
        |s AS (SELECT label, n_vecs,
        |    CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
        |    n_labels FROM g, t),
        |e AS (SELECT floor(sum(-share
        |      * (floor(ln(share) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6
        |    AS entropy FROM s)
        |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs, share,
        |  share * CAST(n_labels AS DOUBLE) AS uniform_ratio, entropy
        |FROM s, e ORDER BY label""".stripMargin,

    "q223_norm_audit" ->
      """WITH t AS (SELECT label,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
        |      AS n2
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  min(n2) AS min_norm2, max(n2) AS max_norm2,
        |  floor(quantile_cont(n2, 0.5) * 1e6 + 0.5) / 1e6 AS p50_norm2
        |FROM t GROUP BY label ORDER BY label""".stripMargin,

    // both rankers replayed end-to-end: q70's cosine chain, q62's
    // shingle set, integer Jaccard parts, rank-then-top-100, and the
    // same 1/(60+rank) fusion arithmetic.
    "q141_rrf_fusion" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS q_emb FROM t WHERE vec_id = 0),
        |sa AS (SELECT vec_id AS id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |  FROM t CROSS JOIN q WHERE vec_id <> 0),
        |ra AS (SELECT id, CAST(row_number() OVER (
        |      ORDER BY cos_sim DESC, id) AS BIGINT) AS rank_a
        |  FROM sa ORDER BY cos_sim DESC, id LIMIT 100),
        |w AS (SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS words
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(words) - 1),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM w WHERE len(words) >= 3),
        |qd AS (SELECT sh AS qsh FROM s WHERE doc_id = 0),
        |sb AS (SELECT doc_id AS id,
        |    CAST(len(list_intersect(sh, qsh)) AS DOUBLE)
        |      / (len(sh) + len(qsh) - len(list_intersect(sh, qsh))) AS jac
        |  FROM s CROSS JOIN qd WHERE doc_id <> 0),
        |rb AS (SELECT id, CAST(row_number() OVER (
        |      ORDER BY jac DESC, id) AS BIGINT) AS rank_b
        |  FROM sb ORDER BY jac DESC, id LIMIT 100),
        |f AS (SELECT coalesce(ra.id, rb.id) AS id, rank_a, rank_b,
        |    coalesce(1.0 / (60 + rank_a), 0)
        |      + coalesce(1.0 / (60 + rank_b), 0) AS rrf
        |  FROM ra FULL OUTER JOIN rb ON ra.id = rb.id)
        |SELECT id, rank_a, rank_b, rrf FROM f
        |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    // q140's centroid CTE + the exact-int-through-double distance
    // expansion; every per-point value is deterministic, s is micro-
    // snapped before the exact-long mean.
    // same snapped-centroid + xx−2xc+cc discipline as q243; argmin by
    // a (dist, cid) row_number — a different formulation proving the
    // struct-min equivalent; recon = exact micro-long sum.
    "q264_pq_codes" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT label AS cid, CAST((ord - 1) // 8 AS INT) AS sub,
        |    ord, floor(avg(v) * 1e6 + 0.5) / 1e6 AS cv
        |  FROM e GROUP BY label, ord),
        |cb AS (SELECT cid, sub, list(cv ORDER BY ord) AS csub
        |  FROM c GROUP BY cid, sub),
        |cb2 AS (SELECT cid, sub, csub,
        |    list_dot_product(csub, csub) AS cc FROM cb),
        |p AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT vec_id, sub, cid,
        |    CAST(floor(greatest(list_dot_product(xs, xs)
        |      - 2.0 * list_dot_product(xs, csub) + cc, 0.0)
        |      * 1e6 + 0.5) AS BIGINT) AS dist
        |  FROM (SELECT vec_id, cid, sub, csub, cc,
        |      x[sub * 8 + 1 : sub * 8 + 8] AS xs
        |    FROM p CROSS JOIN cb2)),
        |r AS (SELECT vec_id, sub, dist, cid,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, cid) AS rk
        |  FROM a)
        |SELECT vec_id,
        |  string_agg(CAST(cid AS VARCHAR), '-' ORDER BY sub) AS codes,
        |  CAST(sum(dist) AS BIGINT) AS recon_micros
        |FROM r WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q243_silhouette" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT label, ord,
        |    floor(avg(v) * 1e6 + 0.5) / 1e6 AS cv
        |  FROM e GROUP BY label, ord),
        |vec AS (SELECT label AS cid, list(cv ORDER BY ord) AS cemb
        |  FROM c GROUP BY label),
        |v2 AS (SELECT cid, cemb, list_dot_product(cemb, cemb) AS cc
        |  FROM vec),
        |p AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |px AS (SELECT vec_id, label, x, list_dot_product(x, x) AS xx
        |  FROM p),
        |dd AS (SELECT vec_id, label, cid,
        |    greatest(xx - CAST(2 AS DOUBLE) * list_dot_product(x, cemb)
        |      + cc, CAST(0 AS DOUBLE)) AS dist2
        |  FROM px CROSS JOIN v2),
        |ag AS (SELECT vec_id, label,
        |    min(CASE WHEN label = cid THEN dist2 END) AS a2,
        |    min(CASE WHEN label <> cid THEN dist2 END) AS b2
        |  FROM dd GROUP BY 1, 2),
        |sm AS (SELECT label,
        |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0 THEN
        |      CAST(floor((sqrt(b2) - sqrt(a2))
        |        / greatest(sqrt(a2), sqrt(b2)) * 1e6 + 0.5) AS BIGINT)
        |    ELSE 0 END AS s_micro
        |  FROM ag)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(s_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
        |    AS mean_silhouette,
        |  CAST(sum(CASE WHEN s_micro > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS separated_share
        |FROM sm GROUP BY label ORDER BY label""".stripMargin,

    // per-(label, dim) snapped means -> ordered centroid lists -> the
    // q70 list_dot_product chain; n is the per-label vector count.
    "q140_label_centroids" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS ord
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT label, ord,
        |    floor(avg(v) * 1e6 + 0.5) / 1e6 AS cv, count(*) AS nv
        |  FROM e GROUP BY label, ord),
        |vec AS (SELECT label, CAST(max(nv) AS BIGINT) AS n,
        |    list(cv ORDER BY ord) AS emb
        |  FROM c GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  a.n AS n_a, b.n AS n_b,
        |  list_dot_product(a.emb, b.emb)
        |    / (sqrt(list_dot_product(a.emb, a.emb))
        |       * sqrt(list_dot_product(b.emb, b.emb))) AS cos_sim
        |FROM vec a JOIN vec b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin,

    "q139_feature_scaling" ->
      """SELECT CAST(ord - 1 AS INT) AS dim, count(*) AS n,
        |  round(avg(v), 6) AS mean_v,
        |  round(stddev_samp(v), 6) AS std_v,
        |  CAST(min(v) AS DOUBLE) AS min_v,
        |  CAST(max(v) AS DOUBLE) AS max_v
        |FROM (SELECT unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS ord
        |      FROM embeddings WHERE embedding IS NOT NULL)
        |GROUP BY dim ORDER BY dim""".stripMargin,

    "q112_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings),
        |a AS (SELECT vec_id, x,
        |    list_max(list_transform(x, v -> abs(v))) AS amax FROM e),
        |s AS (SELECT vec_id, x,
        |    floor(127.0 / amax * 1e6 + 0.5) / 1e6 AS scale6
        |  FROM a WHERE amax > 0),
        |q AS (SELECT vec_id, scale6,
        |    list_transform(x, v -> greatest(-127, least(127,
        |      CAST(floor(v * scale6 + 0.5) AS BIGINT)))) AS qs
        |  FROM s WHERE scale6 > 0)
        |SELECT vec_id, scale6, CAST(list_sum(qs) AS BIGINT) AS sum_q,
        |  list_min(qs) AS min_q, list_max(qs) AS max_q,
        |  CAST(len(list_filter(qs, v -> abs(v) >= 127)) AS BIGINT) AS n_sat
        |FROM q ORDER BY vec_id""".stripMargin,

    // integer dot products are order-free exact; list_dot_product's
    // double accumulator is exact too (|sum| < 64·127² « 2^53); the
    // cosine divides by sqrt of integer norms — sqrt is correctly
    // rounded by IEEE 754, so even the double column is bit-equal.
    "q113_ann_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        |  FROM embeddings),
        |a AS (SELECT vec_id, x,
        |    list_max(list_transform(x, v -> abs(v))) AS amax FROM e),
        |s AS (SELECT vec_id, x,
        |    floor(127.0 / amax * 1e6 + 0.5) / 1e6 AS scale6
        |  FROM a WHERE amax > 0),
        |qz AS (SELECT vec_id,
        |    list_transform(x, v -> greatest(-127, least(127,
        |      CAST(floor(v * scale6 + 0.5) AS BIGINT)))) AS qs
        |  FROM s WHERE scale6 > 0),
        |n AS (SELECT vec_id, qs,
        |    CAST(list_sum(list_transform(qs, v -> v * v)) AS BIGINT) AS n2
        |  FROM qz),
        |p AS (SELECT vec_id AS query_id, qs AS q_qs, n2 AS q_n2
        |  FROM n WHERE vec_id < 5),
        |sc AS (SELECT query_id, vec_id,
        |    CAST(list_dot_product(qs, q_qs) AS BIGINT) AS dot_q,
        |    CAST(list_dot_product(qs, q_qs) AS BIGINT)
        |      / (sqrt(n2) * sqrt(q_n2)) AS cos_q
        |  FROM n CROSS JOIN p WHERE vec_id != query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_q DESC, vec_id ASC) AS rank FROM sc)
        |SELECT query_id, vec_id AS neighbor_id, rank, dot_q, cos_q
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the full Lloyd chain replayed as CTEs: global snapped scale,
    // int8 quantization, md5-min seeds, two assign+update rounds, final
    // assignment. The per-dim centroid sums use DuckDB's positional
    // parallel-unnest zip (unnest(qs) ‖ unnest(range)) + ordered
    // array_agg; every compared value is an exact integer, and the
    // assignment score is the same exact-int-through-double-division
    // expression the Spark side evaluates (ties by cid).
    "q119_kmeans" ->
      """WITH x AS (SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |  FROM embeddings),
        |g AS (SELECT max(list_max(list_transform(xd, v -> abs(v)))) AS amax
        |  FROM x),
        |gs AS (SELECT floor(127.0 / amax * 1e6 + 0.5) / 1e6 AS gsc
        |  FROM g WHERE amax > 0),
        |q AS (SELECT vec_id,
        |    list_transform(xd, v -> greatest(-127, least(127,
        |      CAST(floor(v * gsc + 0.5) AS BIGINT)))) AS qs
        |  FROM x CROSS JOIN gs),
        |c0 AS (SELECT vec_id AS cid, qs AS s, CAST(1 AS BIGINT) AS n,
        |    CAST(list_dot_product(qs, qs) AS BIGINT) AS ss
        |  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, cid, qs FROM (
        |    SELECT q.vec_id, c.cid, q.qs,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        c.ss / (c.n * c.n)
        |          - 2.0 * CAST(list_dot_product(q.qs, c.s) AS BIGINT) / c.n
        |          ASC, c.cid ASC) AS rn
        |    FROM q CROSS JOIN c0 c) WHERE rn = 1),
        |c1e AS (SELECT cid, i, CAST(sum(v) AS BIGINT) AS sv
        |  FROM (SELECT cid, unnest(qs) AS v, unnest(range(1, 65)) AS i
        |    FROM a1) GROUP BY cid, i),
        |c1n AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid),
        |c1 AS (SELECT e.cid, any_value(m.n) AS n,
        |    array_agg(e.sv ORDER BY e.i) AS s
        |  FROM c1e e JOIN c1n m USING (cid) GROUP BY e.cid),
        |c1s AS (SELECT cid, n, s,
        |    CAST(list_dot_product(s, s) AS BIGINT) AS ss FROM c1),
        |a2 AS (SELECT vec_id, cid, qs FROM (
        |    SELECT q.vec_id, c.cid, q.qs,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        c.ss / (c.n * c.n)
        |          - 2.0 * CAST(list_dot_product(q.qs, c.s) AS BIGINT) / c.n
        |          ASC, c.cid ASC) AS rn
        |    FROM q CROSS JOIN c1s c) WHERE rn = 1),
        |c2e AS (SELECT cid, i, CAST(sum(v) AS BIGINT) AS sv
        |  FROM (SELECT cid, unnest(qs) AS v, unnest(range(1, 65)) AS i
        |    FROM a2) GROUP BY cid, i),
        |c2n AS (SELECT cid, count(*) AS n FROM a2 GROUP BY cid),
        |c2 AS (SELECT e.cid, any_value(m.n) AS n,
        |    array_agg(e.sv ORDER BY e.i) AS s
        |  FROM c2e e JOIN c2n m USING (cid) GROUP BY e.cid),
        |c2s AS (SELECT cid, n, s,
        |    CAST(list_dot_product(s, s) AS BIGINT) AS ss FROM c2),
        |a3 AS (SELECT vec_id, cid, xs FROM (
        |    SELECT q.vec_id, c.cid,
        |      CAST(list_dot_product(q.qs, c.s) AS BIGINT) AS xs,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        c.ss / (c.n * c.n)
        |          - 2.0 * CAST(list_dot_product(q.qs, c.s) AS BIGINT) / c.n
        |          ASC, c.cid ASC) AS rn
        |    FROM q CROSS JOIN c2s c) WHERE rn = 1)
        |SELECT cid, count(*) AS n_members, min(vec_id) AS min_vid,
        |  max(vec_id) AS max_vid, CAST(sum(xs) AS BIGINT) AS coh_dot
        |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin,

    "q76_ann_ivf" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
        |  FROM t WHERE vec_id < 5),
        |scored AS (SELECT query_id, vec_id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(q_emb, q_emb)))
        |      AS cos_sim
        |  FROM t JOIN q ON label = q_label AND vec_id <> query_id),
        |ranked AS (SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q76b_ann_ivf_probe" -> IvfProbeSql,

    "q174_knn_classify" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM t WHERE vec_id < 5),
        |sc AS (SELECT query_id, t.vec_id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb))
        |        * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |  FROM t CROSS JOIN q WHERE t.vec_id <> query_id),
        |r AS (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM sc),
        |n5 AS (SELECT r.query_id, t.label FROM r
        |  JOIN t ON r.vec_id = t.vec_id WHERE r.rank <= 5),
        |v AS (SELECT query_id, label, count(*) AS n_votes
        |  FROM n5 GROUP BY 1, 2),
        |p AS (SELECT query_id,
        |    arg_max(label, n_votes * 100 - label) AS pred_label,
        |    CAST(max(n_votes) AS BIGINT) AS top_votes
        |  FROM v GROUP BY 1)
        |SELECT p.query_id, p.pred_label, p.top_votes,
        |  t.label AS true_label,
        |  p.pred_label = t.label AS is_correct
        |FROM p JOIN t ON p.query_id = t.vec_id
        |ORDER BY p.query_id""".stripMargin,

    "q169_ndcg" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label
        |  FROM t WHERE vec_id < 5),
        |ex AS (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM (SELECT query_id, t.vec_id,
        |      list_dot_product(emb, q_emb)
        |        / (sqrt(list_dot_product(emb, emb))
        |          * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |    FROM t CROSS JOIN q WHERE t.vec_id <> query_id)),
        |exk AS (SELECT query_id, vec_id, CAST(11 - rank AS BIGINT) AS rel,
        |    rank
        |  FROM ex WHERE rank <= 10),
        |run AS (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM (SELECT query_id, t.vec_id,
        |      list_dot_product(emb, q_emb)
        |        / (sqrt(list_dot_product(emb, emb))
        |          * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |    FROM t JOIN q ON label = q_label AND vec_id <> query_id)),
        |runk AS (SELECT query_id, vec_id, rank FROM run WHERE rank <= 10),
        |dcg AS (SELECT r.query_id,
        |    sum(CAST(floor(CAST(coalesce(e.rel, 0) AS DOUBLE)
        |      / (floor(log2(r.rank + 1.0::DOUBLE) * 1e6 + 0.5) / 1e6)
        |      * 1e9 + 0.5) AS BIGINT)) AS dcg_u
        |  FROM runk r LEFT JOIN exk e
        |    ON r.query_id = e.query_id AND r.vec_id = e.vec_id
        |  GROUP BY 1),
        |idcg AS (SELECT query_id,
        |    sum(CAST(floor(CAST(rel AS DOUBLE)
        |      / (floor(log2(rank + 1.0::DOUBLE) * 1e6 + 0.5) / 1e6)
        |      * 1e9 + 0.5) AS BIGINT)) AS idcg_u
        |  FROM exk GROUP BY 1)
        |SELECT query_id,
        |  CAST(dcg_u AS DOUBLE) / 1e9 AS dcg,
        |  CAST(idcg_u AS DOUBLE) / 1e9 AS idcg,
        |  CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE) AS ndcg
        |FROM dcg JOIN idcg USING (query_id) ORDER BY query_id""".stripMargin,

    // q123 persists the SAME pipeline partitionBy(cell) and probes via
    // a static partition filter — the layout changes where bytes live,
    // never the answer, so the oracle is q76b's verbatim.
    "q123_ann_partitioned" -> IvfProbeSql,


    // the full LSH pipeline replayed: same md5-parity planes (strpos on
    // the odd hex digits = Spark's conv(...)%2 parity), list_dot_product
    // for the projections and cosines (bit-equal to the graft_dot fold),
    // same candidate dedup, same top-k tie-break, same recall join.
    "q71_ann_lsh" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |planes AS (SELECT k, list_transform(range(0,64), i ->
        |    CASE WHEN strpos('13579bdf', substring(md5('hp:' || k || ':' || i), 1, 1)) > 0
        |      THEN 1.0 ELSE -1.0 END) AS sgn
        |  FROM (SELECT unnest(range(0,24)) AS k)),
        |proj AS (SELECT vec_id, k // 3 AS table_id, k % 3 AS p,
        |    list_dot_product(emb, sgn) AS proj
        |  FROM t CROSS JOIN planes),
        |buckets AS (SELECT vec_id, table_id,
        |    sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS bucket_id
        |  FROM proj GROUP BY vec_id, table_id),
        |qb AS (SELECT vec_id AS query_id, table_id, bucket_id
        |  FROM buckets WHERE vec_id < 5),
        |cand AS (SELECT DISTINCT q.query_id, b.vec_id
        |  FROM buckets b JOIN qb q
        |    ON b.table_id = q.table_id AND b.bucket_id = q.bucket_id
        |  WHERE b.vec_id <> q.query_id),
        |scored AS (SELECT c.query_id, c.vec_id,
        |    list_dot_product(c1.emb, c2.emb)
        |      / (sqrt(list_dot_product(c1.emb, c1.emb))
        |         * sqrt(list_dot_product(c2.emb, c2.emb))) AS cos_sim
        |  FROM cand c
        |  JOIN t c1 ON c1.vec_id = c.vec_id
        |  JOIN t c2 ON c2.vec_id = c.query_id),
        |lshtop AS (SELECT query_id, vec_id AS neighbor_id, rank, cos_sim
        |  FROM (SELECT query_id, vec_id, cos_sim,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM scored)
        |  WHERE rank <= 10),
        |ex_scored AS (SELECT q.vec_id AS query_id, c.vec_id,
        |    list_dot_product(c.emb, q.emb)
        |      / (sqrt(list_dot_product(c.emb, c.emb))
        |         * sqrt(list_dot_product(q.emb, q.emb))) AS cos_sim
        |  FROM t c CROSS JOIN (SELECT * FROM t WHERE vec_id < 5) q
        |  WHERE c.vec_id <> q.vec_id),
        |extop AS (SELECT query_id AS e_qid, vec_id AS e_vid
        |  FROM (SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM ex_scored)
        |  WHERE rank <= 10)
        |SELECT l.query_id, l.neighbor_id, l.rank, l.cos_sim,
        |  count(e.e_vid) OVER (PARTITION BY l.query_id) / 10.0 AS recall
        |FROM lshtop l LEFT JOIN extop e
        |  ON l.query_id = e.e_qid AND l.neighbor_id = e.e_vid
        |ORDER BY l.query_id, l.rank""".stripMargin,

    "q70_cosine_topk" ->
      """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM t WHERE vec_id < 5),
        |scored AS (SELECT query_id, vec_id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(q_emb, q_emb)))
        |      AS cos_sim
        |  FROM t CROSS JOIN q WHERE vec_id <> query_id),
        |ranked AS (SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id AS neighbor_id, rank, cos_sim
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "q297_jl_distortion" -> JlOracleSql,

    "q347_silhouette" ->
      """WITH x AS (SELECT vec_id, label,
        |    unnest(range(0, len(embedding))) AS dim,
        |    CAST(floor(unnest(embedding::DOUBLE[]) * 1e6 + 0.5)
        |      AS BIGINT) AS x6
        |  FROM embeddings),
        |cent AS (SELECT label AS cl, dim, CAST(sum(x6) AS BIGINT)
        |      AS sld,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM x GROUP BY 1, 2),
        |ds AS (SELECT x.vec_id, x.label, c.cl, c.cnt,
        |    sum((CAST(x.x6 AS HUGEINT) * c.cnt - c.sld)
        |      * (CAST(x.x6 AS HUGEINT) * c.cnt - c.sld)) AS num
        |  FROM x JOIN cent c ON x.dim = c.dim
        |  GROUP BY 1, 2, 3, 4),
        |dd AS (SELECT vec_id, label, cl,
        |    sqrt(CAST(num AS DOUBLE)) / (CAST(cnt AS DOUBLE) * 1e6)
        |      AS dist
        |  FROM ds),
        |ab AS (SELECT vec_id, label,
        |    max(CASE WHEN label = cl THEN dist END) AS a,
        |    min(CASE WHEN label <> cl THEN dist END) AS b
        |  FROM dd GROUP BY 1, 2),
        |s AS (SELECT label, CASE WHEN greatest(a, b) > 0 THEN
        |    CAST(floor((b - a) / greatest(a, b) * 1e6 + 0.5)
        |      AS BIGINT) ELSE 0 END AS s6
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  floor(CAST(sum(s6) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS mean_silhouette
        |FROM s GROUP BY 1 ORDER BY label""".stripMargin,

    "q354_anisotropy" ->
      """WITH x AS (SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS dim,
        |    CAST(floor(unnest(embedding::DOUBLE[]) * 1e6 + 0.5)
        |      AS BIGINT) AS x6
        |  FROM embeddings),
        |cent AS (SELECT dim, CAST(sum(x6) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM x GROUP BY 1),
        |mn AS (SELECT CAST(max(n) AS BIGINT) AS nv,
        |    CAST(count(*) AS BIGINT) AS ndims,
        |    sum(CAST(sd AS HUGEINT) * sd) AS m2
        |  FROM cent),
        |per AS (SELECT x.vec_id,
        |    sum(CAST(x.x6 AS HUGEINT) * c.sd) AS dt,
        |    sum(CAST(x.x6 AS HUGEINT) * x.x6) AS x2
        |  FROM x JOIN cent c ON x.dim = c.dim
        |  GROUP BY 1),
        |s AS (SELECT nv, ndims,
        |    CASE WHEN x2 > 0 AND m2 > 0 THEN
        |      CAST(floor(CAST(dt AS DOUBLE)
        |        / (sqrt(CAST(x2 AS DOUBLE)) * sqrt(CAST(m2 AS DOUBLE)))
        |        * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS c6,
        |    CAST(floor(sqrt(CAST(x2 AS DOUBLE)) + 0.5) AS BIGINT)
        |      AS nrm6
        |  FROM per, mn)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs, ndims AS n_dims,
        |  floor(CAST(sum(nrm6) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS mean_norm,
        |  floor(CAST(sum(c6) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS anisotropy
        |FROM s GROUP BY ndims""".stripMargin,

    "q365_label_mrr" ->
      """WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label,
        |    emb AS q_emb
        |  FROM t WHERE vec_id < 50),
        |sc AS (SELECT query_id, q_label, t.label, t.vec_id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb))
        |        * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |  FROM t CROSS JOIN q WHERE t.vec_id <> query_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS rk FROM sc),
        |fh AS (SELECT query_id, q_label,
        |    CAST(min(CASE WHEN label = q_label THEN rk END)
        |      AS BIGINT) AS first_hit
        |  FROM rk GROUP BY 1, 2),
        |rr AS (SELECT q_label,
        |    coalesce(1000000 // first_hit, 0) AS rr6, first_hit
        |  FROM fh)
        |SELECT q_label, CAST(count(*) AS BIGINT) AS n_probes,
        |  floor(CAST(sum(rr6) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 1e6) * 1e6 + 0.5) / 1e6
        |    AS mrr,
        |  floor(avg(CAST(first_hit AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |    AS mean_first_hit
        |FROM rr GROUP BY 1 ORDER BY q_label""".stripMargin,

    "q366_knn_accuracy" ->
      """WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label,
        |    emb AS q_emb
        |  FROM t WHERE vec_id < 50),
        |sc AS (SELECT query_id, q_label, t.label, t.vec_id,
        |    list_dot_product(emb, q_emb)
        |      / (sqrt(list_dot_product(emb, emb))
        |        * sqrt(list_dot_product(q_emb, q_emb))) AS cos_sim
        |  FROM t CROSS JOIN q WHERE t.vec_id <> query_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS rk FROM sc),
        |t5 AS (SELECT query_id, q_label, label,
        |    CAST(count(*) AS BIGINT) AS votes
        |  FROM rk WHERE rk <= 5 GROUP BY 1, 2, 3),
        |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS vr FROM t5)
        |SELECT q_label, CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  floor(CAST(sum(CASE WHEN label = q_label THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
        |    AS accuracy
        |FROM pr WHERE vr = 1 GROUP BY 1 ORDER BY q_label""".stripMargin
  )
}
