package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** E236 line-frequency boilerplate removal: the chained
  * extract → line-df → drop pipeline on the planted fixture.
  */
class LineBoilerSpec extends SparkSpec {

  test("the corpus-wide repeated entity line is dropped from every " +
      "planted doc; titles and content survive; clean docs untouched") {
    val out = CurationQueries.queries("docs_line_boilerplate")(spark, sfDir)
      .join(graft.Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("text_clean"), col("n_kept"),
        col("n_dropped"), col("text"), col("lang"))
      .collect()
    assert(out.length == 500)
    out.foreach { r =>
      val id = r.getLong(0)
      val clean = r.getString(1)
      if (id % 3 == 0) {
        // extraction kept 3 lines (title, content, entity line); the
        // entity line recurs in ~167 docs -> boilerplate -> dropped
        assert(r.getLong(2) == 2L && r.getLong(3) == 1L, s"doc $id counts")
        assert(clean == s"Doc $id ${r.getString(5)}\n${r.getString(4)}",
          s"doc $id lines")
        assert(!clean.contains("Fish & chips"), s"doc $id kept boilerplate")
      } else {
        assert(clean == r.getString(4), s"doc $id passthrough")
        assert(r.getLong(2) == 1L && r.getLong(3) == 0L)
      }
    }
  }

  test("web pipeline composes the three tiers: normalized single-space " +
      "text, token accounting consistent, both keep verdicts realized") {
    val rows = CurationQueries.queries("docs_web_pipeline")(spark, sfDir)
      .collect()
    assert(rows.length == 500)
    var keeps = 0
    rows.foreach { r =>
      val norm = r.getAs[String]("norm_text")
      assert(!norm.contains("\n") && !norm.contains("  "),
        s"doc ${r.getLong(0)} not collapsed")
      assert(norm == norm.toLowerCase, s"doc ${r.getLong(0)} not lowered")
      val n = r.getAs[Long]("n_tokens")
      assert(n == norm.split(" ", -1).length, s"doc ${r.getLong(0)} tokens")
      val keep = r.getAs[Boolean]("keep")
      assert(keep == (n >= CurationQueries.WebMinTokens))
      if (keep) keeps += 1
    }
    assert(keeps > 0 && keeps < 500, "keep verdict never fires both ways")
  }

  test("join tier retains every document: n_kept + n_dropped equals " +
      "the extract line count per doc (no doc lost to the inner agg)") {
    val out = CurationQueries.queries("docs_line_boilerplate")(spark, sfDir)
    val ex = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(graft.ext.HtmlExtract.extract(CurationQueries.plantedHtml)
          .getField("lines")).cast("long").as("n_lines"))
    val bad = out.join(ex, "doc_id")
      .filter(col("n_kept") + col("n_dropped") =!= col("n_lines"))
    assert(out.count() == 500)
    assert(bad.isEmpty, "a doc's line accounting does not cover extract")
  }

  test("threshold boundary: a line shared by df-1 docs survives, " +
      "df docs dies") {
    import spark.implicits._
    val df = CurationQueries.LineBoilerDf
    // build a corpus through the same operator shape: since the query
    // is fixture-bound, pin the boundary on the raw rule instead —
    // per-line distinct-doc counts against the threshold
    val lines = Seq(
      (1L, "shared-exactly"), (2L, "shared-exactly"), (3L, "shared-exactly"),
      (4L, "shared-under"), (5L, "shared-under"),
      (6L, "unique-line")).toDF("doc_id", "line")
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n"))
      .filter(col("n") >= df)
      .select("line").as[String].collect().toSet
    assert(boiler == Set("shared-exactly"))
  }
}
