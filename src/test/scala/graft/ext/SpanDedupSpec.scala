package graft.ext

import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  // A 10-token passage shared verbatim by docs 1 and 2, embedded at
  // different offsets; doc 3 is all-unique filler.
  private val shared = (0 until 10).map(i => s"dup$i").mkString(" ")
  private val docs = Seq(
    (1L, s"a1 a2 a3 $shared z1 z2"),        // shared at positions 3..12
    (2L, s"$shared b1 b2 b3 b4 b5"),        // shared at positions 0..9
    (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")  // no duplicated grams
  ).toDF("doc_id", "text")

  private def excise(d: org.apache.spark.sql.DataFrame, n: Int) =
    SpanDedup.exciseFromSpans(d, "doc_id", "text",
      SpanDedup.duplicatedSpans(d, "doc_id", "text", n, 2))

  private def spans(n: Int) =
    SpanDedup.duplicatedSpans(docs, "doc_id", "text", n, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet

  test("duplicatedSpans finds the shared passage as ONE maximal span per doc") {
    // With n=8 the 10-token shared run yields 3 overlapping duplicated
    // 8-grams per doc; they must merge into a single maximal span
    // covering exactly the shared tokens.
    assert(spans(8) == Set(
      (1L, 3, 12, 10), // doc 1: tokens 3..12
      (2L, 0, 9, 10))) // doc 2: tokens 0..9; doc 3 absent
  }

  test("documents shorter than n tokens contribute nothing (and must " +
      "not crash the ANSI slice)") {
    // Regression: without the size >= n guard, sequence(0, size - n)
    // runs descending for short docs and slice(ws, 0, n) throws.
    val short = Seq(
      (1L, "a b"),                       // 2 tokens < n = 4
      (2L, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5"),
      (3L, "x1 x2 x3 x4 x5 y1 y2 y3 y4 y5")
    ).toDF("doc_id", "text")
    val out = SpanDedup.duplicatedSpans(short, "doc_id", "text", 4, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out.map(_._1) == Set(2L, 3L)) // the shared x-run; doc 1 silent
  }

  test("within-document repetition alone is not a duplicated span") {
    val solo = Seq(
      (1L, "r1 r2 r3 r4 r1 r2 r3 r4"), // repeats itself, shares nothing
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8")
    ).toDF("doc_id", "text")
    assert(SpanDedup.duplicatedSpans(solo, "doc_id", "text", 4, 2).count() == 0)
  }

  test("xxhash64 gram keys give exactly the spans of a raw-gram " +
      "reference on the fixture") {
    val fixture = graft.Tables.documents(spark, sfDir)
    val got = SpanDedup.duplicatedSpans(fixture, "doc_id", "text", 8, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    val exact = SpanRows.duplicated(
      fixture.select("doc_id", "text").as[(Long, String)].collect().toSeq, 8, 2)
    assert(exact.nonEmpty) // the planted near-dups must share spans
    assert(got == exact)
  }

  test("exciseSpans cuts exactly the duplicated tokens and passes " +
      "span-free docs through byte-identical") {
    val out = excise(docs, 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(out(1L) == (1L, 15L, 10L, "a1 a2 a3 z1 z2"))
    assert(out(2L) == (1L, 15L, 10L, "b1 b2 b3 b4 b5"))
    assert(out(3L) == (0L, 10L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
  }

  test("a fully-duplicated doc excises to the empty string") {
    val twins = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8")
    ).toDF("doc_id", "text")
    val out = excise(twins, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == (8L, ""))
    assert(out(2L) == (8L, ""))
    assert(out(3L) == (0L, "u1 u2 u3 u4 u5 u6 u7 u8"))
  }

  test("excision accounting cross-foots on the fixture corpus") {
    val fixture = graft.Tables.documents(spark, sfDir)
    val rows = excise(fixture, 8).collect()
    assert(rows.exists(_.getLong(3) > 0)) // the planted dups must cut
    rows.foreach { r =>
      val (nSpans, nTok, cut, clean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(cut <= nTok)
      assert((nSpans == 0) == (cut == 0))
      if (cut == nTok) assert(clean.isEmpty)
      else assert(clean.split(" ", -1).length == nTok - cut)
    }
  }

  test("two distant shared grams stay separate spans; close ones chain") {
    val far = Seq(
      (1L, "s1 s2 s3 f1 f2 f3 f4 f5 f6 f7 f8 f9 s1 s2 s3"),
      (2L, "s1 s2 s3 g1 g2 g3 g4 g5 g6 g7 g8 g9 s1 s2 s3")
    ).toDF("doc_id", "text")
    val out = SpanDedup.duplicatedSpans(far, "doc_id", "text", 3, 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    // The shared "s1 s2 s3" occurs at positions 0 and 12 in both docs —
    // 12 apart > n=3, so each doc reports two separate 3-token spans.
    assert(out == Set(
      (1L, 0, 2, 3), (1L, 12, 14, 3),
      (2L, 0, 2, 3), (2L, 12, 14, 3)))
  }
}
