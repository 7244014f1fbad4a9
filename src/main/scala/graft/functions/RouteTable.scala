package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.Routing.TransformRule

/** Ordered first-match CDC routing (reference R4 + R8,
  * `reference/src/config/transform.rs:26-65`) as ONE native expression:
  * `route_table(topic, db, tbl) → target_topic | NULL` over a
  * config-time rule list.
  *
  * The rules are a field, not children: they compile once into a
  * [[RouteDispatch]] table that `doGenCode` passes in through
  * `ctx.addReferenceObj` (the [[CosineArgmaxCell]] discipline), so the
  * generated code is one call whatever the rule count. A `when` chain
  * grew the fused route stage by ~300 bytes of bytecode per rule, which
  * took it past HotSpot's 8,000-byte compile limit at ~28 rules and past
  * the analyzer's stack at a few hundred; RouteTableSpec pins the
  * stage's largest method at the same size for 1 to 10,000 rules.
  *
  * Semantics: topic and db match exactly, the table regex is an
  * unanchored `find()` (Rust `Regex::is_match`), the first rule in
  * declaration order wins, and no match is NULL. A NULL topic, db or
  * table is NULL (TernaryExpression default), as the chain's `when`
  * conditions were.
  */
case class RouteTable(first: Expression, second: Expression, third: Expression,
    rules: Seq[TransformRule])
    extends TernaryExpression {

  @transient private lazy val dispatch: RouteDispatch = new RouteDispatch(rules)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, d, tb) => TypeCheckResult.TypeCheckFailure(
        s"route_table requires (string, string, string), got " +
          s"${t.sql}, ${d.sql}, ${tb.sql}")
    }

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def prettyName: String = "route_table"

  // Plan strings show the columns, not thousands of rules.
  override protected def stringArgs: Iterator[Any] = Iterator(first, second, third)

  override def nullSafeEval(topic: Any, db: Any, tbl: Any): Any =
    dispatch.lookup(topic.asInstanceOf[UTF8String],
      db.asInstanceOf[UTF8String], tbl.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d, tb) => {
      val rt = ctx.addReferenceObj("routeTable", dispatch,
        classOf[RouteDispatch].getName)
      s"""
         |${ev.value} = $rt.lookup($t, $d, $tb);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RouteTable =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RouteTable {
  /** Column-level entry point: the target topic of (topic, db, tbl)
    * under `rules`, NULL when no rule matches.
    */
  def apply(topic: Column, db: Column, tbl: Column,
      rules: Seq[TransformRule]): Column =
    GraftBridge.column(RouteTable(GraftBridge.expression(topic),
      GraftBridge.expression(db), GraftBridge.expression(tbl), rules))
}

/** The compiled rule table: (topic, db) → that pair's rules in
  * declaration order, each a precompiled `Pattern` and its target. Per
  * row, one hash probe and then an ordered `find()` over the pair's
  * candidates only, so a row pays for the rules of its own pair, not
  * for the whole list. The key is the two strings, not their
  * concatenation, which two different pairs could share.
  */
final class RouteDispatch(rules: Seq[TransformRule]) extends Serializable {
  import RouteDispatch.{Candidates, Pair}

  private val byPair: java.util.HashMap[Pair, Candidates] = {
    val grouped = rules.groupBy(r => Pair(
      UTF8String.fromString(r.sourceTopic), UTF8String.fromString(r.db)))
    val m = new java.util.HashMap[Pair, Candidates](grouped.size * 2)
    // groupBy keeps each group's declaration order.
    grouped.foreach { case (p, rs) =>
      m.put(p, Candidates(
        rs.map(r => java.util.regex.Pattern.compile(r.tableRegex)).toArray,
        rs.map(r => UTF8String.fromString(r.targetTopic)).toArray))
    }
    m
  }

  def lookup(topic: UTF8String, db: UTF8String, tbl: UTF8String): UTF8String = {
    val c = byPair.get(Pair(topic, db))
    if (c == null) return null
    val t = tbl.toString
    var i = 0
    while (i < c.patterns.length) {
      if (c.patterns(i).matcher(t).find()) return c.targets(i)
      i += 1
    }
    null
  }
}

object RouteDispatch {
  private final case class Pair(topic: UTF8String, db: UTF8String)

  private final case class Candidates(
      patterns: Array[java.util.regex.Pattern], targets: Array[UTF8String])
}
