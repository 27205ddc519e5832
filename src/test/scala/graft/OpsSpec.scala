package graft

import graft.ops.{CorpusSignals, Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the LLM-pipeline operators that a DuckDB oracle does
  * not state: MinHash/LSH recall against the brute-force pair set (q61's
  * oracle replays the LSH pipeline, so it pins the pairs LSH finds, not
  * the ones it misses), SimHash consistency, ANN recall, two
  * cross-query invariants (q123 answers as q76b does; q368 counts q66's
  * predictions), and the multimodal decode stub. Exact-oracle coverage
  * for the rest of graft.ops is the DuckDB oracle check
  * (`tools/oracle_check.py`).
  */
class OpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q61 MinHash/LSH finds exactly the brute-force >=0.8 Jaccard pairs") {
    // brute-force exact pair set (O(n²) is fine at sf0.001).
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), ops.Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), ops.Text.shingles3(col("w")).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val (inter, uni) = ops.Text.jaccardParts(col("sh_a"), col("sh_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(inter * 100 >= uni * 80)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val lsh = Dedup.queries("q61_dedup_minhash")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(lsh.subsetOf(brute), "LSH emitted a pair below the Jaccard threshold")
    assert(brute.subsetOf(lsh), s"LSH missed ${brute -- lsh} (recall < 1 on planted dups)")
  }

  test("simhash per-row HOF implementation agrees with explode/groupBy") {
    val hof = Dedup.simhashed(spark, sf)
    // independent second implementation: explode words, 64 grouped sums.
    val tokens = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(array_distinct(ops.Text.words(col("text")))).as("w"))
      .withColumn("h", ops.Dedup.wordHash(col("w")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"t$i")
    }
    val alt = tokens.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"t$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash2"))
    val joined = hof.join(alt, "doc_id")
      .filter(col("simhash") =!= col("simhash2"))
    assert(joined.count() === 0, "HOF and explode/groupBy simhash disagree")
  }

  test("q63 simhash pairs respect the Hamming bound and pair ordering") {
    val rows = Dedup.queries("q63_dedup_simhash")(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall(r => r.getAs[Int]("hamming") <= 3))
  }

  test("q71 ANN cosines are exact and recall@10 >= 0.5 vs brute force") {
    val exact = Similarity.queries("q70_cosine_topk")(spark, sf).collect()
    val ann = Similarity.queries("q71_ann_lsh")(spark, sf).collect()
    val exactScores = exact.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every ANN hit that is also a true top-k hit reports the identical
    // cosine (same expression ⇒ bit-equal).
    ann.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exactScores.get(k).foreach(c => assert(c === r.getDouble(3)))
    }
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val annSet = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactSet & annSet).size.toDouble / exactSet.size
    assert(recall >= 0.5, s"ANN recall@10 = $recall")
    // the self-reported recall column must agree with the recomputation:
    // per query, |lsh-topk ∩ exact-topk| / k.
    val perQueryExact = exact.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    ann.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val hits = rows.map(_.getLong(1)).toSet & perQueryExact(qid)
      val expected = hits.size.toDouble / 10.0
      rows.foreach { r =>
        assert(r.getAs[Double]("recall") === expected,
          s"query $qid self-reported recall ${r.getAs[Double]("recall")} != $expected")
      }
    }
  }

  test("q123 returns exactly q76b's rows: the partitioned layout keeps the answer") {
    val rows = (q: String) => Similarity.queries(q)(spark, sf).collect().toSeq
    val probe = rows("q76b_ann_ivf_probe")
    assert(probe.nonEmpty)
    assert(rows("q123_ann_partitioned") === probe)
  }

  test("q368's confusion cells are q66's (lang, pred_lang) counts") {
    val cells = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).toSet
    val fromQ66 = ops.TextAnalysis.queries("q66_langid")(spark, sf)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val q368 = ops.TextAnalysis.queries("q368_langid_confusion")(spark, sf)
      .select("lang", "pred_lang", "n")
    assert(cells(fromQ66).nonEmpty)
    assert(cells(q368) === cells(fromQ66))
  }

  test("CentroidAgg matches a single-threaded centroid within 1e-9") {
    import spark.implicits._
    val byLabel = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(ops.CentroidAgg.toColumn.name("centroid"))
      .collect().toMap
    // reference: driver-side exact mean per label (tiny at sf0.001).
    val rows = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val expected = rows.groupBy(_._1).map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> (0 until dim).map(i => vs.map(_._2(i)).sum / vs.length)
    }
    assert(byLabel.keySet === expected.keySet)
    for ((l, c) <- expected; i <- c.indices)
      assert(math.abs(byLabel(l)(i) - c(i)) < 1e-9, s"label $l dim $i")
  }

  test("CentroidAgg ignores null/empty vectors without corrupting counts") {
    val a = ops.CentroidAgg
    val afterEmpty = a.reduce(a.reduce(a.zero, Seq.empty), Seq(4.0))
    assert(afterEmpty._2 === 1L && afterEmpty._1.toSeq === Seq(4.0))
    assert(a.reduce(a.reduce(a.zero, null), Seq(2.0))._2 === 1L)
    val merged = a.merge(a.reduce(a.zero, Seq(2.0)), a.zero)
    assert(merged._2 === 1L)
    assert(a.finish(a.reduce(a.reduce(a.zero, Seq(1.0)), Seq(3.0))) === Seq(2.0))
  }

  test("CentroidAgg rejects ragged vector dimensions") {
    val a = ops.CentroidAgg
    val two = a.reduce(a.zero, Seq(1.0, 2.0))
    intercept[IllegalArgumentException](a.reduce(two, Seq(1.0)))
    intercept[IllegalArgumentException](
      a.merge(a.reduce(a.zero, Seq(1.0, 2.0)), a.reduce(a.zero, Seq(1.0, 2.0, 3.0))))
  }

  test("q109 repetition signals match an independent in-memory recompute") {
    val rows = CorpusSignals.queries("q109_repetition")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(regexp_replace(text, '\\\\s+', ' '))) AS t")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("t")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = docs(id).split(" ")
      val grams = w.iterator.zip(w.iterator.drop(1)).map { case (a, b) => s"$a $b" }.toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      assert(r.getAs[Long]("n_grams") === grams.size.toLong, s"doc $id n_grams")
      assert(r.getAs[Long]("dup_gram_occ") ===
        counts.values.filter(_ > 1).sum, s"doc $id dup occ")
      // argmax with (count, gram) lexicographic tie-break, both max.
      val (topG, topC) = counts.toSeq.map { case (g, c) => (c, g) }.max.swap
      assert(r.getAs[String]("top_gram") === topG, s"doc $id top gram")
      assert(r.getAs[Long]("top_cnt") === topC, s"doc $id top cnt")
      assert(r.getAs[Boolean]("low_repetition") === (topC * 5 <= grams.size),
        s"doc $id flag")
    }
  }

  test("q111 dup-substring counts match an independent in-memory recompute") {
    val rows = CorpusSignals.queries("q111_dup_substrings")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lower(trim(regexp_replace(text, '\\\\s+', ' '))) AS t")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("t").split(" "))
    val wins = docs.collect { case (id, w) if w.length >= 20 =>
      id -> w.sliding(20).map(_.mkString(" ")).toSeq
    }
    val corpusOcc = wins.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    assert(rows.length === wins.length, "one row per >=20-word document")
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, ws) <- wins) {
      val r = byId(id)
      val dup = ws.count(corpusOcc(_) > 1).toLong
      assert(r.getAs[Long]("n_windows") === ws.size.toLong, s"doc $id windows")
      assert(r.getAs[Long]("n_dup_windows") === dup, s"doc $id dup windows")
      assert(r.getAs[Boolean]("high_overlap") === (dup * 5 >= ws.size),
        s"doc $id flag")
    }
    // the corpus's planted near-dups must be detected: some doc carries
    // a duplicated run, and not all docs do.
    assert(rows.exists(_.getAs[Long]("n_dup_windows") > 0),
      "planted near-dups must share exact 20-word runs")
    assert(rows.exists(_.getAs[Long]("n_dup_windows") === 0L))
  }

  test("q110 tf-idf ranks are contiguous, scores non-increasing, idf sane") {
    val rows = CorpusSignals.queries("q110_tfidf_topk")(spark, sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size === Tables.documents(spark, sf).count(),
      "every document gets ranked terms")
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ===
        (1L to sorted.length), s"doc $id ranks")
      assert(sorted.length <= 3, s"doc $id emits more than top-3")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $id scores increase down the ranking")
    }
    // a corpus-wide stopword must carry idf 0 up to the snap: df == N
    // gives ln((N+1)/(N+1)) = 0, so its score is 0 and it can only
    // surface when nothing rarer exists in the doc.
    val n = Tables.documents(spark, sf).count()
    rows.filter(_.getAs[Long]("df") === n)
      .foreach(r => assert(r.getAs[Double]("score") === 0.0))
    // rarer-than-stopword terms score positive.
    assert(rows.exists(r => r.getAs[Long]("df") < n
      && r.getAs[Double]("score") > 0.0))
  }

  test("q112 int8 quantization: range, exact stats, half-step error bound") {
    val rows = Similarity.queries("q112_quantize_int8")(spark, sf).collect()
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    assert(rows.length === embs.size, "no zero-vectors in the corpus")
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val x = embs(id)
      val scale = r.getAs[Double]("scale6")
      val qs = x.map(v => math.floor(v * scale + 0.5).toLong)
      // emitted stats equal the definitionally-recomputed quantization.
      assert(r.getAs[Long]("sum_q") === qs.sum, s"vec $id sum")
      assert(r.getAs[Long]("min_q") === qs.min, s"vec $id min")
      assert(r.getAs[Long]("max_q") === qs.max, s"vec $id max")
      assert(r.getAs[Long]("n_sat") === qs.count(q => math.abs(q) >= 127))
      // int8 range: the snapped scale can overshoot 127/amax by <1e-6,
      // which floor absorbs — quantized values stay in [-127, 127].
      assert(qs.min >= -127L && qs.max <= 127L, s"vec $id out of int8 range")
      // dequantization error is at most half a quantization step.
      x.zip(qs).foreach { case (v, q) =>
        assert(math.abs(v - q / scale) <= 0.5 / scale + 1e-12,
          s"vec $id round-trip error exceeds half a step")
      }
    }
  }

  test("q113 int8 ANN recall vs exact float cosine top-k") {
    val rows = Similarity.queries("q113_ann_int8")(spark, sf).collect()
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet)
    assert(got.keySet === (0L until 5L).toSet)
    val recalls = for (q <- 0L until 5L) yield {
      val qv = embs.find(_._1 == q).get._2
      val exact = embs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      got(q).intersect(exact).size.toDouble / exact.size
    }
    // int8 at 64 dims barely perturbs the ranking: near-perfect recall
    // (1.0 on the sf0.01 driver corpus; allow one swapped tail
    // neighbor per query elsewhere).
    recalls.foreach(r => assert(r >= 0.9, s"int8 recall degraded: $recalls"))
    // cos_q stays a true cosine: within [-1, 1] and close to the exact
    // cosine for the top neighbor.
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_q")
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
    }
  }

  test("q112/q113 int8 guards hold on extreme-magnitude vectors") {
    // the driver corpus never reaches the guard region (amax ~ O(1)),
    // so the unconditional-contract guards are exercised here on a
    // synthetic corpus: a vector with amax >= ~1e6 (the 6-decimal
    // snapped scale overshoots 127/amax by >= half a quantization
    // step, so the unclamped q would emit +128), one with amax >=
    // ~2.54e8 (scale6 snaps to exactly 0 -- an all-zero qs whose n2=0
    // would make q113's cosine 0/0 NaN), and a zero vector.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-extreme-emb").toString
    val dim = 64
    def vec(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    Seq(
      (0L, vec(i => 0.5f + 0.01f * i), 0),            // ordinary
      (1L, vec(i => if (i == 0) 2.0e6f else 1.0f), 0), // clamp region
      (2L, vec(_ => 3.0e8f), 0),                       // scale6 -> 0: shed
      (3L, vec(_ => 0.0f), 0),                         // amax = 0: shed
      (4L, vec(i => 1.0f - 0.01f * i), 0))             // ordinary
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val q = Similarity.queries("q112_quantize_int8")(spark, dir).collect()
    assert(q.map(_.getAs[Long]("vec_id")).toSeq === Seq(0L, 1L, 4L),
      "zero and scale-underflow vectors must be shed")
    q.foreach { r =>
      assert(r.getAs[Long]("min_q") >= -127L && r.getAs[Long]("max_q") <= 127L,
        s"vec ${r.getAs[Long]("vec_id")} outside int8 after clamp")
    }
    // the clamp actually fired for vec 1: its amax element lands
    // exactly on the overshoot boundary (floor(128.5) = 128 -> 127),
    // and the saturation audit counts it.
    val v1 = q.find(_.getAs[Long]("vec_id") == 1L).get
    assert(v1.getAs[Long]("max_q") === 127L)
    assert(v1.getAs[Long]("n_sat") >= 1L)

    val ann = Similarity.queries("q113_ann_int8")(spark, dir).collect()
    assert(ann.nonEmpty, "surviving vectors must still rank")
    ann.foreach { r =>
      val c = r.getAs[Double]("cos_q")
      assert(!c.isNaN && c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12,
        s"NaN/out-of-range cosine leaked through the guards: $c")
      assert(Set(0L, 1L, 4L).contains(r.getAs[Long]("neighbor_id")))
    }
  }

  test("q119 k-means degenerate corpora: all-zero sheds, tiny corpus caps k") {
    import spark.implicits._
    val dim = 64
    def vec(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    // all-zero corpus: global amax = 0, the scale is undefined — the
    // query must return the same EMPTY frame the oracle's
    // `WHERE amax > 0` one-row gate produces, not NaN clusters.
    val zeroDir = java.nio.file.Files
      .createTempDirectory("graft-kmeans-zero").toString
    Seq((0L, vec(_ => 0.0f), 0), (1L, vec(_ => 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$zeroDir/embeddings.parquet")
    val zero = Similarity.queries("q119_kmeans")(spark, zeroDir)
    assert(zero.columns.toSeq ===
      Seq("cid", "n_members", "min_vid", "max_vid", "coh_dot"))
    assert(zero.count() === 0L)
    // corpus smaller than k: seeds cap at |corpus|, clusters partition
    // everything, nothing crashes on the short seed list.
    val tinyDir = java.nio.file.Files
      .createTempDirectory("graft-kmeans-tiny").toString
    Seq((0L, vec(i => 1.0f + i), 0), (1L, vec(i => 2.0f - 0.01f * i), 0),
      (2L, vec(i => -1.0f * i), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tinyDir/embeddings.parquet")
    val tiny = Similarity.queries("q119_kmeans")(spark, tinyDir).collect()
    assert(tiny.nonEmpty && tiny.length <= 3)
    assert(tiny.map(_.getAs[Long]("n_members")).sum === 3L,
      "clusters must partition the tiny corpus")
  }

  test("q119 k-means matches a single-threaded Lloyd recompute exactly") {
    // independent re-implementation of the ENTIRE chain — global snap,
    // int8 quantization, md5-min seeding, two integer Lloyd rounds,
    // final assignment — in plain Scala collections. Exact equality is
    // the point: the integer-space design means the distributed run has
    // NO summation-order freedom to hide in.
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val amax = rows.flatMap(_._2.map(math.abs)).max
    val gsc = math.floor(127.0 / amax * 1e6 + 0.5) / 1e6
    val quant = rows.map { case (id, xs) =>
      (id, xs.map(v =>
        math.max(-127L, math.min(127L, math.floor(v * gsc + 0.5).toLong))))
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    var cents = quant.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(8).map { case (id, q) => (id, 1L, q.map(v => v * v).sum, q) }.toSeq
    def assign() = quant.map { case (id, q) =>
      val best = cents.map { case (cid, n, ss, s) =>
        val xs = q.zip(s).map { case (a, b) => a * b }.sum
        (ss.toDouble / (n * n) - 2.0 * xs / n, cid, xs)
      }.minBy(t => (t._1, t._2))
      (id, best._2, best._3, q)
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, ms) =>
        val s = Array.tabulate(64)(j => ms.map(_._4(j)).sum)
        (cid, ms.length.toLong, s.map(v => v * v).sum, s)
      }
    }
    val expect = assign().groupBy(_._2).toSeq.sortBy(_._1).map {
      case (cid, ms) => (cid, ms.length.toLong, ms.map(_._1).min,
        ms.map(_._1).max, ms.map(_._3).sum)
    }
    val got = Similarity.queries("q119_kmeans")(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === expect)
    assert(got.map(_._2).sum === rows.length.toLong,
      "clusters must partition the corpus")
  }

  test("multimodal decode stub: schema, determinism, distributed shape") {
    val decoded = Multimodal.decodeStub(Multimodal.withPayload(spark, sf))
    assert(decoded.schema === Multimodal.decodedSchema)
    val rows = decoded.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      assert(w >= 1 && w <= 256 && h >= 1 && h <= 256)
      assert(r.getAs[Long]("n_pixels") === w.toLong * h)
      val m = r.getAs[Double]("mean_byte")
      assert(m >= 0.0 && m <= 255.0)
    }
    // deterministic: a second run produces identical rows.
    val again = Multimodal.decodeStub(Multimodal.withPayload(spark, sf)).collect()
    assert(rows.sortBy(_.getLong(0)).sameElements(again.sortBy(_.getLong(0))))
  }
}
