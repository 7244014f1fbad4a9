package graft.cdc

import org.apache.spark.SparkException
import graft.SparkSpec

/** R2 parse semantics (reference `kafka.rs:53-55,119-143`; divergences
  * documented in SURVEY.md §7.6.5).
  */
class ParseSpec extends SparkSpec {
  import spark.implicits._

  private def raw(rows: (String, String, String)*) =
    rows.toSeq.toDF("topic", "key", "value")

  test("valid envelope decodes op/db/table; raw value is untouched") {
    val v = """{"before":null,"after":{"id":7},"op":"u","source":{"db":"d1","table":"t1"}}"""
    val out = Parse.parse(raw(("tp", "k1", v))).collect().head
    assert(out.getAs[String]("op") == "u")
    assert(out.getAs[String]("db") == "d1")
    assert(out.getAs[String]("tbl") == "t1")
    assert(out.getAs[String]("value") == v) // byte passthrough
    assert(!out.getAs[Boolean]("_malformed"))
  }

  test("extra envelope fields are ignored, like serde's non-declared skip") {
    val v = """{"op":"c","source":{"db":"d","table":"t","extra":1},"unknown":[1,2]}"""
    val out = Parse.parse(raw(("tp", "k", v))).collect().head
    assert(out.getAs[String]("op") == "c" && !out.getAs[Boolean]("_malformed"))
  }

  test("malformed JSON and non-object JSON are flagged; missing fields are not") {
    val rows = raw(
      ("tp", "bad1", "{not json"),
      ("tp", "bad2", "[1,2]"),
      ("tp", "bad3", ""),
      ("tp", "ok-empty", "{}"),
      ("tp", "ok-partial", """{"op":"c"}"""))
    val parsed = Parse.parse(rows)
    val flagged = parsed.filter($"_malformed").select("key").as[String].collect().toSet
    assert(flagged == Set("bad1", "bad2", "bad3"))
    // {} parses to all-null fields but is a well-formed envelope object
    val okEmpty = parsed.filter($"key" === "ok-empty").collect().head
    assert(okEmpty.getAs[String]("op") == null && !okEmpty.getAs[Boolean]("_malformed"))
  }

  test("strict mode raises on the first malformed envelope (reference panic parity)") {
    val rows = raw(("tp", "k", "{broken"))
    // raise_error surfaces as SparkRuntimeException (driver-side eval)
    // or SparkException (task failure) depending on where it runs.
    val ex = intercept[Exception] {
      Parse.parse(rows, strict = true).collect()
    }
    assert(ex.getMessage.contains("malformed CDC envelope"))
  }

  test("strict mode passes clean input through unchanged") {
    val v = """{"op":"c","source":{"db":"d","table":"t"}}"""
    assert(Parse.parse(raw(("tp", "k", v)), strict = true).count() == 1)
  }
}
