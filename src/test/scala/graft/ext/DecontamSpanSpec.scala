package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** E240 span-level eval decontamination: surgical removal of
  * eval-overlapping text, not doc-level dropping.
  */
class DecontamSpanSpec extends SparkSpec {
  import spark.implicits._

  private val n = 4 // narrow grams so the planted overlap is visible

  test("a doc sharing one 4-gram run with an eval doc loses exactly " +
      "that span; its other text and clean docs survive verbatim") {
    // doc 0 is EVAL (pred: id % 2 == 0 for this test corpus).
    // doc 1 embeds eval's "p q r s t" run mid-document; doc 3 is clean.
    val docs = Seq(
      (0L, "p q r s t u v w"),
      (1L, "alpha beta p q r s t gamma delta epsilon zeta"),
      (3L, "no overlap here at all just words")).toDF("doc_id", "text")
    val pred = col("doc_id") % 2 === 0
    val spans = SpanDedup.contaminationSpans(docs, "doc_id", "text", n, pred)
      .as[(Long, Int, Int, Int)].collect()
    // doc 1: "p q r s t" = positions 2..6; 4-gram hits at pos 2 and 3
    // → island [2, 3+n-1=6], 5 tokens
    assert(spans.toSeq == Seq((1L, 2, 6, 5)), spans.mkString(","))
    val cut = SpanDedup.decontamExciseFromSpans(docs, "doc_id", "text", pred,
        SpanDedup.contaminationSpans(docs, "doc_id", "text", n, pred))
      .select("doc_id", "text_clean", "n_spans", "tokens_cut")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!cut.contains(0L), "eval doc leaked into the corpus output")
    assert(cut(1L)._2 == "alpha beta gamma delta epsilon zeta")
    assert(cut(1L)._3 == 1L && cut(1L)._4 == 5L)
    assert(cut(3L)._2 == "no overlap here at all just words")
    assert(cut(3L)._3 == 0L && cut(3L)._4 == 0L)
  }

  test("eval-internal duplication alone never flags a training doc") {
    // two eval docs share text; the only training doc shares nothing
    val docs = Seq(
      (0L, "e1 e2 e3 e4 e5 e6"),
      (2L, "e1 e2 e3 e4 e5 e6"),
      (1L, "t1 t2 t3 t4 t5 t6")).toDF("doc_id", "text")
    val pred = col("doc_id") % 2 === 0
    assert(SpanDedup.contaminationSpans(docs, "doc_id", "text", n, pred)
      .count() == 0)
  }

  test("fixture: contamination hits exist (planted near-dup families " +
      "cross the eval boundary) and every span lies in a training doc") {
    val spans = SpanDedup.contaminationSpans(
      graft.Tables.documents(spark, sfDir), "doc_id", "text",
      graft.queries.DedupQueries.SpanN,
      col("doc_id") % graft.queries.CurationQueries.DecontamMod === 0)
      .collect()
    assert(spans.nonEmpty, "no contamination found — planting drifted?")
    spans.foreach { r =>
      assert(r.getLong(0) % graft.queries.CurationQueries.DecontamMod != 0,
        s"span in an eval doc ${r.getLong(0)}")
    }
  }

  test("fixture: xxhash64 gram keys give exactly the spans of a " +
      "raw-gram reference") {
    val fixture = graft.Tables.documents(spark, sfDir)
    val mod = graft.queries.CurationQueries.DecontamMod
    val got = SpanDedup.contaminationSpans(fixture, "doc_id", "text",
        graft.queries.DedupQueries.SpanN, col("doc_id") % mod === 0)
      .as[(Long, Int, Int, Int)].collect().toSet
    val exact = SpanRows.contaminated(
      fixture.select("doc_id", "text").as[(Long, String)].collect().toSeq,
      graft.queries.DedupQueries.SpanN, _ % mod == 0)
    assert(exact.nonEmpty && got == exact)
  }
}
