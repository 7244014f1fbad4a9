package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.Routing.TransformRule
import graft.functions.RouteTable

/** R4/R8 routing semantics (reference `transform.rs:26-65`): exact
  * topic/db equality, unanchored table regex, FIRST match wins, silent
  * drop on no match, fail-fast regex validation.
  */
class RoutingSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    TransformRule("t1", "db", "tab_[0-4]", "low"),
    TransformRule("t1", "db", "tab_[0-9]+", "rest"),
    TransformRule("t2", "db", "gsms_msg_ticket_sms_[0-9]+", "gsms"))

  private def route(rows: (String, String, String)*) =
    rows.toSeq.toDF("topic", "db", "tbl")
      .withColumn("target", RouteTable(col("topic"), col("db"), col("tbl"), rules))
      .select("tbl", "target").as[(String, String)].collect().toMap

  test("first matching rule wins on overlap; later rules still reachable") {
    val m = route(("t1", "db", "tab_3"), ("t1", "db", "tab_7"))
    assert(m("tab_3") == "low")  // matches both rules -> first
    assert(m("tab_7") == "rest") // only the second
  }

  test("no-match yields null (silent drop after isNotNull filter)") {
    val m = route(("t1", "db", "other"), ("t9", "db", "tab_3"), ("t1", "xx", "tab_3"))
    assert(m.values.forall(_ == null))
  }

  test("table regex is unanchored like Rust Regex::is_match") {
    val m = route(("t2", "db", "prefix_gsms_msg_ticket_sms_123_suffix"))
    assert(m.values.head == "gsms")
  }

  test("regex positive/negative pairs from the reference's own test set") {
    // transform.rs:134-154 semantics: digits required after the prefix
    val m = route(
      ("t2", "db", "gsms_msg_ticket_sms_0"),
      ("t2", "db", "gsms_msg_ticket_sms_"),
      ("t2", "db", "gsms_msg_ticket_mms_1"))
    assert(m("gsms_msg_ticket_sms_0") == "gsms")
    assert(m("gsms_msg_ticket_sms_") == null)
    assert(m("gsms_msg_ticket_mms_1") == null)
  }

  test("records sharing a Kafka key both survive the route") {
    // Two DISTINCT records share key k1 (routine in CDC): both must
    // survive — the round-1 window-over-key formulation collapsed them.
    val parsed = Seq(
      ("t1", "k1", "v1", "c", "db", "tab_1"),
      ("t1", "k1", "v2", "u", "db", "tab_9"),
      ("t1", "k2", "v3", "u", "db", "none"),
      ("t2", "k3", "v4", "u", "db", "gsms_msg_ticket_sms_5"))
      .toDF("topic", "key", "value", "op", "db", "tbl")
    val routed = Pipeline.routeParsed(parsed, rules)
      .select("key", "value", "target_topic").as[(String, String, String)].collect()
    assert(routed.toSet == Set(("k1", "v1", "low"), ("k1", "v2", "rest"),
      ("k3", "v4", "gsms")))
    assert(routed.length == 3)
  }

  test("validate fails fast on an invalid regex, like transform.rs:33") {
    intercept[Exception] {
      Routing.validate(Seq(TransformRule("t", "d", "ta[ble", "x")))
    }
  }

  test("duckdbCase escapes embedded single quotes") {
    val sql = Routing.duckdbCase(
      Seq(TransformRule("o'brien", "d", "t.*", "out")), "topic", "db", "tbl")
    assert(sql.contains("'o''brien'"))
  }

  test("typed facade routes identically to the DataFrame pipeline") {
    val raw = graft.cdc.Envelopes.fromEvents(spark, sfDir)
    val typed = Pipeline.routeTyped(raw.as[CdcSchema.RawRecord])
      .collect().map(r => (r.target_topic, r.key, r.value)).toSet
    val untyped = Pipeline.route(raw)
      .as[(String, String, String)].collect().toSet
    assert(typed == untyped && typed.nonEmpty)
  }
}
