package graft

import graft.ops.Text
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The term stream of [[graft.ops.Text]] on a four-document frame: which
  * texts shed, that term counts add up to the terms, and the n-gram
  * window below and at its size.
  */
class TextSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // NULL, empty and whitespace-only text have no terms; the last one
  // has a repeated token and a double space
  private def docs = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, " \t "), (4L, "a  b a"))
    .toDF("doc_id", "text")

  test("terms sheds NULL, empty and whitespace-only text and keeps repeats") {
    val t = Text.terms(docs, col("doc_id"))
    assert(t.columns.toSeq === Seq("doc_id", "term"))
    val rows = t.collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq === Seq((4L, "a"), (4L, "a"), (4L, "b")))
  }

  test("termCounts sums to the terms row count") {
    val tc = Text.termCounts(docs, col("doc_id"))
    assert(tc.columns.toSeq === Seq("doc_id", "term", "tf"))
    val rows = tc.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rows.toSeq === Seq((4L, "a", 2L), (4L, "b", 1L)))
    assert(rows.map(_._3).sum === Text.terms(docs, col("doc_id")).count())
    // without keys: one row per vocabulary term
    assert(Text.termCounts(docs).columns.toSeq === Seq("term", "tf"))
    assert(Text.termCounts(docs).agg(sum(col("tf"))).head().getLong(0) === 3L)
  }

  private val wordLists = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"),
    Seq("a", "b", "c"), Seq("a", "b", "a", "b", "c"))

  private def expected(ws: Seq[String], n: Int): Seq[Seq[String]] =
    if (ws.size < n) Nil else ws.sliding(n).toSeq

  test("ngrams is empty below n, and at n = 3 equals the element_at shingle") {
    val ws = wordLists.toDF("ws")
    for (n <- 1 to 4) {
      val got = ws.select(col("ws"), Text.ngrams(col("ws"), n).as("g"))
        .collect().map(r => r.getSeq[String](0) -> r.getSeq[String](1))
      assert(got.length === wordLists.size)
      for ((w, g) <- got) assert(g === expected(w, n).map(_.mkString(" ")), s"n=$n $w")
    }
    // the 3-shingle expression ngrams replaced, defined for size >= 3
    val old = transform(sequence(lit(1), size(col("ws")) - 2), i =>
      concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2)))
    val cmp = ws.filter(size(col("ws")) >= 3)
      .select(old.as("old"), Text.ngrams(col("ws"), 3).as("new")).collect()
    assert(cmp.length === 2)
    for (r <- cmp) assert(r.getSeq[String](0) === r.getSeq[String](1))
  }

  test("wordTuples holds the ngrams words as (w1, ..., wn) structs") {
    val ws = wordLists.toDF("ws")
    for (n <- 1 to 3) {
      val t = ws.select(col("ws"), Text.wordTuples(col("ws"), n).as("t"))
      assert(t.schema("t").dataType.simpleString ===
        (1 to n).map(k => s"w$k:string").mkString("array<struct<", ",", ">>"))
      for (r <- t.collect()) {
        val got = r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (0 until n).map(s.getString))
        assert(got === expected(r.getSeq[String](0), n), s"n=$n")
      }
    }
  }
}
