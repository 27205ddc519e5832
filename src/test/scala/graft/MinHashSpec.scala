package graft

import java.security.MessageDigest

import graft.ops.{MinHash, Text}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.ops.MinHash` against a driver-side replay built on
  * `java.security.MessageDigest`: shingle hashes, the 16 signature
  * slots, the `|`-joined band keys DuckDB's `array_to_string(sig[…],
  * '|')` spells, and q61's verified 8×2 pairs.
  */
class MinHashSpec extends AnyFunSuite {
  import SparkTestSession._

  private def md5Prefix(s: String, k: Int): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(k), 16)
  }

  // doc_id -> distinct md5 shingle hashes, from Spark's shingle strings
  private lazy val hashSets: Map[Long, Set[Long]] =
    Tables.documents(spark, sf)
      .select(col("doc_id"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), Text.shingles3(col("w")).as("g"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[String](1).map(md5Prefix(_, 15)).toSet
      }.toMap

  private lazy val replaySig: Map[Long, IndexedSeq[Long]] =
    hashSets.map { case (d, hs) =>
      d -> (0 until 16).map(p => hs.map(h => md5Prefix(s"$p:$h", 12)).min)
    }

  private lazy val elems = Tables.documents(spark, sf)
    .select(col("doc_id"), Text.words(col("text")).as("w"))
    .filter(size(col("w")) >= 3)
    .select(col("doc_id"), explode(Text.shingles3(col("w"))).as("g"))
    .select(col("doc_id"), Text.md5Long(col("g"), 15).as("h"))

  test("signature rows equal the MessageDigest replay for every doc and p") {
    val got = MinHash.sigRows(elems, Seq("doc_id"), "h").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = for ((d, sig) <- replaySig; p <- 0 until 16)
      yield (d, p) -> sig(p)
    assert(replaySig.size > 100)
    assert(got == want)
  }

  test("band keys are the oracle's '|'-joined sig slices") {
    val schemes = Seq((8, 2), (4, 4), (2, 8))
    val got = MinHash.bandKeys(MinHash.sigRows(elems, Seq("doc_id"), "h"),
        schemes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        r.getString(3)).toMap
    val want = for ((d, sig) <- replaySig; (b, r) <- schemes;
                    band <- 0 until b)
      yield (d, b, band) -> sig.slice(band * r, band * r + r).mkString("|")
    assert(got == want)
  }

  test("8x2 candidates verified at Jaccard >= 0.8 equal q61's output") {
    val cand = (for {
      (d, sig) <- replaySig.toSeq
      band <- 0 until 8
    } yield (band, sig(2 * band), sig(2 * band + 1)) -> d)
      .groupBy(_._1).values
      .flatMap { g =>
        val ds = g.map(_._2).sorted
        for (a <- ds; b <- ds if a < b) yield (a, b)
      }.toSet
    val want = cand.toSeq.flatMap { case (a, b) =>
      val i = (hashSets(a) & hashSets(b)).size
      val u = hashSets(a).size + hashSets(b).size - i
      if (i * 100 >= u * 80) Some((a, b, i.toDouble / u)) else None
    }.sorted
    val got = SparkEntry.queries("q61_dedup_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }
}
