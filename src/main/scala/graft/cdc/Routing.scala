package graft.cdc

/** Ordered first-match routing (reference R4 + R8,
  * `reference/src/config/transform.rs:26-65`, call site `kafka.rs:70-74`).
  *
  * A rule matches when `source_topic` and `db` equal exactly and the
  * pre-compiled `table` regex finds a match (unanchored, like Rust
  * `Regex::is_match`). Rule order is significant — the reference uses
  * `Iterator::find`, i.e. FIRST match wins — and a record matching no rule
  * is silently dropped (`kafka.rs:70` has no else branch).
  *
  * Spark-native form: one [[graft.functions.RouteTable]] expression per
  * row. The rules compile once, like the reference's config-load
  * pre-compilation (`transform.rs:26-38`), into a (topic, db) → ordered
  * (regex, target) table, so a row runs only the regexes of its own
  * (topic, db) pair and the generated code does not grow with the rule
  * count. [[duckdbCase]] is the same lookup as a CASE chain, for the
  * oracle.
  */
object Routing {

  /** One YAML rule (`reference/config.yaml`, `transform.rs:89-95`). */
  final case class TransformRule(
      sourceTopic: String, db: String, tableRegex: String, targetTopic: String)

  /** Fail-fast regex validation at config load, like `transform.rs:33`. */
  def validate(rules: Seq[TransformRule]): Seq[TransformRule] = {
    rules.foreach(r => java.util.regex.Pattern.compile(r.tableRegex))
    rules
  }

  /** The fixture rule set used by the verification queries. Covers: rule
    * overlap (r1 shadows r2 on tables 0-4 → first-match order observable),
    * a rule that never matches (r4, regex from the reference's own test,
    * `transform.rs:136-153`), and events matching no rule (silent drop).
    */
  val DefaultRules: Seq[TransformRule] = validate(Seq(
    TransformRule("flink-1", "db_0", "table_[0-4]",                 "t1-low"),
    TransformRule("flink-1", "db_0", "table_[0-9]+",                "t1-rest"),
    TransformRule("flink-2", "db_1", "table_(1|3|5|7|9)",           "t2-odd"),
    TransformRule("flink-2", "db_2", "gsms_msg_ticket_sms_[0-9]+",  "t-gsms")))

  private def sq(s: String): String = s.replace("'", "''")

  /** The ordered rule list as a DuckDB CASE expression (oracle).
    * Single quotes in rule strings are SQL-escaped (doubled).
    */
  def duckdbCase(rules: Seq[TransformRule],
                 topic: String, db: String, table: String): String =
    rules.map { r =>
      s"WHEN $topic = '${sq(r.sourceTopic)}' AND $db = '${sq(r.db)}' AND " +
        s"regexp_matches($table, '${sq(r.tableRegex)}') THEN '${sq(r.targetTopic)}'"
    }.mkString("CASE ", " ", " END")
}
