package graft.cdc

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.TestSpark
import graft.cdc.Routing.TransformRule
import graft.functions.RouteTable

/** Property-based invariants (SURVEY.md §5.2), run by ScalaCheck's
  * native sbt runner: the routed output is a subset of the input,
  * contains no deletes, and every row's target is exactly what a direct
  * re-implementation of the reference's `search_topic`
  * (`transform.rs:52-65`) computes, for the fixture rules and for
  * random ordered rule sets.
  */
object RoutingPropsSpec extends Properties("Routing") {
  private lazy val spark = TestSpark.spark

  // Each trial runs Spark jobs; 15 well-generated trials beat 100 slow ones.
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(15)

  private val rules = Routing.DefaultRules

  /** Direct Scala port of the reference's first-match lookup over an
    * ordered rule list; a null topic, db or table matches no rule.
    */
  private def searchTopic(rules: Seq[TransformRule])(
      topic: String, db: String, table: String): Option[String] =
    if (topic == null || db == null || table == null) None
    else rules.collectFirst {
      case r if r.sourceTopic == topic && r.db == db &&
        r.tableRegex.r.findFirstIn(table).isDefined => r.targetTopic
    }

  private val genRow: Gen[(String, String, String, String)] = for {
    topic <- Gen.oneOf("flink-1", "flink-2", "flink-3")
    db <- Gen.oneOf("db_0", "db_1", "db_2", "db_9")
    tbl <- Gen.oneOf(
      Gen.oneOf("table_0", "table_3", "table_5", "table_77", "other",
        "gsms_msg_ticket_sms_12", "gsms_msg_ticket_sms_"),
      Gen.alphaNumStr.map("table_" + _),
      // adversarial regex metacharacters in table names
      Gen.oneOf("table_[0-4]", "table_.*", "ta(ble", "t|able", "table_\\d"))
    op <- Gen.oneOf("c", "u", "d", "r", "x")
  } yield (topic, db, tbl, op)

  property("route = reference search_topic; no deletes; no dup records") =
    Prop.forAllNoShrink(Gen.listOfN(60, genRow)) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((t, d, tb, op), i) => (t, s"k$i", s"v$i", op, d, tb) }
        .toDF("topic", "key", "value", "op", "db", "tbl")
      val routed = Filter.dropDeletes(df)
        .withColumn("target_topic",
          RouteTable(col("topic"), col("db"), col("tbl"), rules))
        .filter(col("target_topic").isNotNull)
        .select("key", "value", "target_topic")
        .as[(String, String, String)].collect()

      val expected = rows.zipWithIndex.flatMap { case ((t, d, tb, op), i) =>
        if (op == "d") None
        else searchTopic(rules)(t, d, tb).map(target => (s"k$i", s"v$i", target))
      }.toSet

      routed.toSet == expected && routed.length == expected.size
    }

  private val topics = Seq("t1", "t2")
  private val dbs = Seq("d1", "d2")
  // Valid regexes only (validate rejects the rest at config load):
  // anchors, alternation, escapes, the catch-all ".".
  private val regexes = Seq("tab_[0-4]", "tab_[0-9]+", "^tab_1$", ".",
    "tab_(1|3)", "a\\.b", "\\[x\\]", "t|u", "^$")

  private val genRule: Gen[TransformRule] = for {
    t <- Gen.oneOf(topics)
    d <- Gen.oneOf(dbs)
    re <- Gen.oneOf(regexes)
    target <- Gen.oneOf("out-a", "out-b", "out-c", "out-d")
  } yield TransformRule(t, d, re, target)

  /** Ordered rule lists whose (topic, db) pairs interleave as (A, B, A)
    * up front, then random rules (shadowing is routine over 2 × 2
    * pairs) with a catch-all "." at a random position, then an exact
    * duplicate of an earlier rule.
    */
  private val genRules: Gen[Seq[TransformRule]] = for {
    a <- genRule
    b <- genRule.map(_.copy(sourceTopic = topics.find(_ != a.sourceTopic).get))
    a2 <- genRule.map(_.copy(sourceTopic = a.sourceTopic, db = a.db))
    rest <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, genRule))
    catchAll <- genRule.map(_.copy(tableRegex = "."))
    pos <- Gen.choose(0, rest.length)
    body = Seq(a, b, a2) ++ rest.patch(pos, Seq(catchAll), 0)
    dup <- Gen.oneOf(body)
  } yield body :+ dup

  private def orNull(g: Gen[String]): Gen[String] =
    Gen.frequency(9 -> g, 1 -> Gen.const(null: String))

  private val genKernelRow: Gen[(String, String, String, String)] = for {
    topic <- orNull(Gen.oneOf(topics :+ "t3"))
    db <- orNull(Gen.oneOf(dbs :+ "d3"))
    tbl <- orNull(Gen.oneOf("tab_0", "tab_1", "tab_7", "tab_12", "", "a.b",
      "axb", "[x]", "tab_[0-4]", "ta(b", "u", "other"))
    op <- Gen.oneOf("c", "u", "d")
  } yield (topic, db, tbl, op)

  property("route kernel = reference search_topic over random ordered rule sets") =
    Prop.forAllNoShrink(genRules, Gen.listOfN(40, genKernelRow)) { (rs, rows) =>
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((t, d, tb, op), i) => (t, s"k${i % 7}", s"v$i", op, d, tb) } // shared keys
        .toDF("topic", "key", "value", "op", "db", "tbl")
      val routed = Pipeline.routeParsed(df, rs)
        .select("value", "target_topic").as[(String, String)].collect()
      val expected = rows.zipWithIndex.flatMap { case ((t, d, tb, op), i) =>
        if (op == "d") None else searchTopic(rs)(t, d, tb).map((s"v$i", _))
      }
      routed.sorted.toSeq == expected.sorted
    }
}
