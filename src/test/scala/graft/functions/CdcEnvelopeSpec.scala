package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.cdc.{Envelopes, Parse, ParseJackson}

/** The native envelope decoder's contract, three ways:
  *  1. a semantics table over the kernel (structural edges, escapes,
  *     capture depth, the DuckDB object-verdict rule);
  *  2. a differential run against the `from_json` reference formulation
  *     (`ParseJackson.parse`) over the fixture envelopes plus a seeded
  *     generated corpus of valid, mutated, and junk inputs;
  *  3. plan shape: the expression must survive codegen with fallback
  *     disabled (the whole point of the native kernel is staying inside
  *     whole-stage codegen on the hot path).
  */
class CdcEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private def one(s: String): (String, String, String, Boolean) = {
    val r = CdcEnvelopeImpl.parse(UTF8String.fromString(s))
    def g(i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    (g(0), g(1), g(2), r.getBoolean(3))
  }

  test("well-formed envelopes: fields captured at the right depth only") {
    assert(one("""{"op":"c","source":{"db":"d1","table":"t1"}}""") ==
      ("c", "d1", "t1", false))
    assert(one("""{"before":null,"after":{"id":7,"value_cents":150},"op":"u","source":{"db":"db_1","table":"table_3"}}""") ==
      ("u", "db_1", "table_3", false))
    // nested "op"/"db"/"table" keys must NOT be captured
    assert(one("""{"after":{"op":"x","db":"y"},"op":"d","source":{"table":"t","extra":{"db":"z"}}}""") ==
      ("d", null, "t", false))
    // field order free; whitespace free; missing members are NULL
    assert(one(""" { "source" : { "table" : "t9" } , "op" : "c" } """) ==
      ("c", null, "t9", false))
    assert(one("""{}""") == (null, null, null, false))
    // JSON null fields are SQL NULL; duplicate keys: last wins
    assert(one("""{"op":null,"source":{"db":null}}""") == (null, null, null, false))
    assert(one("""{"op":"a","op":"b"}""") == ("b", null, null, false))
  }

  test("string unescaping matches the engines (incl. unicode + surrogates)") {
    assert(one("""{"op":"a\nb\t\"q\"\\"}""") == ("a\nb\t\"q\"\\", null, null, false))
    assert(one("""{"op":"Aé"}""") == ("Aé", null, null, false))
    // surrogate pair → one astral code point, same UTF-16 route as Jackson
    assert(one("""{"op":"😀"}""") == ("😀", null, null, false))
    // raw multi-byte UTF-8 survives the zero-copy fast path
    assert(one("""{"op":"héllo 中文"}""") == ("héllo 中文", null, null, false))
  }

  test("non-string scalars capture as raw text; non-object source is NULL not malformed") {
    assert(one("""{"op":5}""") == ("5", null, null, false))
    assert(one("""{"op":true}""") == ("true", null, null, false))
    assert(one("""{"op":-0.5}""") == ("-0.5", null, null, false))
    // DuckDB-pinned non-standard number literals: case-insensitive
    // nan/inf/infinity, optional '-', canonical capture, '-nan' → NaN
    assert(one("""{"op":NaN}""") == ("NaN", null, null, false))
    assert(one("""{"op":nan}""") == ("NaN", null, null, false))
    assert(one("""{"op":-NaN}""") == ("NaN", null, null, false))
    assert(one("""{"op":Inf}""") == ("Infinity", null, null, false))
    assert(one("""{"op":infinity}""") == ("Infinity", null, null, false))
    assert(one("""{"op":-Inf}""") == ("-Infinity", null, null, false))
    // spec-pinned divergence from from_json (which corrupt-flags the row):
    // DuckDB path semantics — a valid object with a non-object source
    assert(one("""{"source":5,"op":"c"}""") == ("c", null, null, false))
    assert(one("""{"source":[1,2],"op":"c"}""") == ("c", null, null, false))
  }

  test("the DuckDB verdict: malformed ⇔ not one valid JSON object") {
    val bad = Seq(
      "", "   ", "42", "[1,2]", "\"str\"", "true", "null", // valid JSON, not an object
      "{not json", "[1,2", """{"op":}""", """{"op":"x"}}""",
      """{"op":"x"}junk""", """{"op":"x"} {"op":"y"}""", // trailing garbage
      """{"op":01}""", """{"op":1.}""", """{"op":1e}""", """{"op":+1}""", // bad numbers
      """{"op":'x'}""", """{op:"x"}""", // wrong quoting
      """{"op":"x",}""", """{,}""", """{"op" "x"}""", // bad separators
      "{\"op\":\"ab\"}", // raw control char in string
      """{"op":"\q"}""", "{\"op\":\"\\" + "u12\"}", // bad escapes
      """{"op":tru}""", """{"op":nul}""",
      // the nan/inf laxness stops exactly where DuckDB's does
      """{"op":+Infinity}""", """{"op":infinite}""", """{"op":nankind}""",
      """{"op":Null}""", """{"op":TRUE}""")
    for (s <- bad)
      assert(one(s) == (null, null, null, true), s"input: $s")
    // and the malformed-fixture rows from the correctness gate
    assert(one("""{"x":1}""") == (null, null, null, false)) // valid object, no fields
  }

  test("pathological nesting takes the malformed route, never a stack overflow") {
    // The walker recurses per nesting level; past Jackson's default
    // 1000-depth constraint the input is flagged malformed (the
    // total-function contract: corrupt data must never kill a task).
    def nested(depth: Int) = "{\"x\":" + ("[" * depth) + "1" + ("]" * depth) + "}"
    assert(one(nested(900)) == (null, null, null, false))   // deep but legal
    assert(one(nested(5000)) == (null, null, null, true))   // over the cap
    assert(one("[" * 2000000) == (null, null, null, true))  // truncated bomb
  }

  private val jsonStr: Gen[String] = for {
    n <- Gen.choose(0, 12)
    cs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', '中', ' ', '_', '-'),
      1 -> Gen.oneOf('\n', '\t', '"', '\\', 'A')))
  } yield cs.mkString

  private def q(s: String) = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c => c.toString
  } + "\""

  private val envelope: Gen[String] = for {
    op <- Gen.oneOf(Gen.const("null"), jsonStr.map(q))
    db <- Gen.oneOf(Gen.const("null"), jsonStr.map(q))
    tbl <- Gen.oneOf(Gen.const("null"), jsonStr.map(q))
    id <- Gen.choose(0, 99999)
    withSource <- Gen.oneOf(true, false)
    extra <- Gen.oneOf("", s""","after":{"id":$id,"xs":[1,2,{"k":null}]}""")
  } yield
    if (withSource) s"""{"op":$op,"source":{"db":$db,"table":$tbl}$extra}"""
    else s"""{"op":$op$extra}"""

  private def sample(g: Gen[List[String]]): Seq[String] =
    g.pureApply(Gen.Parameters.default, Seed(42L))

  test("differential vs from_json: strict-valid envelopes agree exactly") {
    // On well-formed strict JSON the native kernel, Jackson, and DuckDB
    // all agree; this pins native ≡ Jackson over the fixture envelopes
    // plus 400 generated ones (random field presence/null-ness, escaped
    // strings, extra nested members).
    val fixture = Envelopes.fromEvents(spark, sfDir)
    val gen = sample(Gen.listOfN(400, envelope)).zipWithIndex
      .map { case (v, i) => ("t-gen", s"g$i", v) }
      .toDF("topic", "key", "value")
    val all = fixture.union(gen)
    val native = Parse.parse(all).select("key", "op", "db", "tbl", "_malformed")
    val jackson = ParseJackson.parse(all).select("key", "op", "db", "tbl", "_malformed")
    assert(native.count() == jackson.count())
    val onlyN = native.exceptAll(jackson).collect()
    val onlyJ = jackson.exceptAll(native).collect()
    assert(onlyN.isEmpty && onlyJ.isEmpty,
      s"native-only: ${onlyN.take(5).mkString("; ")} | jackson-only: ${onlyJ.take(5).mkString("; ")}")
  }

  test("differential vs from_json on junk: native is strictly-stricter, never laxer") {
    // The two reference engines genuinely diverge on malformed input:
    // Spark's from_json defaults are laxer than RFC 8259 (single-quoted
    // strings, NaN/Infinity) and keep PARTIAL field captures on corrupt
    // rows; DuckDB's json_valid — the correctness-gate authority the
    // native kernel implements — rejects all of those. So on arbitrary
    // junk the sound invariants are: (1) whatever the native kernel
    // accepts, Jackson accepts too (native ⊆ Jackson); (2) when both
    // accept, the captured fields agree.
    val junk: Gen[String] = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      2 -> envelope.flatMap(e => Gen.choose(0, e.length).map(e.take)),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("42", "[1,2,3]", "\"s\"", "true", "null", "{}", "[]",
        "{'op':'x'}", """{"op":NaN}""", """{"op":Infinity}"""),
      1 -> envelope.map(_ + "x"))
    val rows = sample(Gen.listOfN(400, junk)).zipWithIndex
      .map { case (v, i) => ("t", s"j$i", v) }
      .toDF("topic", "key", "value")
    val native = Parse.parse(rows)
      .select(col("key"), col("op"), col("db"), col("tbl"), col("_malformed"))
    val jackson = ParseJackson.parse(rows)
      .select(col("key"), col("op").as("j_op"), col("db").as("j_db"),
        col("tbl").as("j_tbl"), col("_malformed").as("j_malformed"))
    val both = native.join(jackson, "key")
    val laxer = both.filter(!col("_malformed") && col("j_malformed")).collect()
    assert(laxer.isEmpty, s"native accepted what Jackson rejected: ${laxer.take(5).mkString("; ")}")
    // Documented divergence on non-finite number captures: Jackson's
    // re-serializer QUOTES them (op = "\"NaN\"") while the native kernel
    // returns DuckDB's canonical bare spelling (op = "NaN") — the gate's
    // oracle adjudicates these via the cdc_parse_errors planted rows, so
    // DuckDB's form is the pinned one; everything else must agree.
    val nonFinite = Set("NaN", "Infinity", "-Infinity")
    def agrees(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      a <=> b || (a.isin(nonFinite.toSeq: _*) && b <=> concat(lit("\""), a, lit("\"")))
    val fieldDiff = both.filter(!col("_malformed") && !col("j_malformed"))
      .filter(!(agrees(col("op"), col("j_op")) && agrees(col("db"), col("j_db")) &&
        agrees(col("tbl"), col("j_tbl")))).collect()
    assert(fieldDiff.isEmpty, s"field mismatch on accepted rows: ${fieldDiff.take(5).mkString("; ")}")
  }

  test("binary input parses identically to string input (no cast copy)") {
    val rows = Seq(
      """{"op":"c","source":{"db":"d","table":"t"}}""",
      """{"op":"héllo"}""", "{bad", "[1]").zipWithIndex
      .map { case (v, i) => ("t", s"k$i", v) }
      .toDF("topic", "key", "value")
    val asBin = rows.withColumn("value", col("value").cast("binary"))
    val a = Parse.parse(rows).select("key", "op", "db", "tbl", "_malformed")
    val b = Parse.parse(asBin).select("key", "op", "db", "tbl", "_malformed")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("survives codegen with fallback disabled, and registers in SQL") {
    val keys = Seq("spark.sql.codegen.fallback",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val parsed = Parse.parse(Envelopes.fromEvents(spark, sfDir))
      assert(parsed.filter(!col("_malformed")).count() > 0)
      GraftFunctions.register(spark)
      val viaSql = spark.sql(
        """SELECT cdc_envelope('{"op":"c","source":{"db":"d","table":"t"}}') AS e""")
        .select("e.op", "e.db", "e.tbl", "e.malformed")
        .as[(String, String, String, Boolean)].head()
      assert(viaSql == ("c", "d", "t", false))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
