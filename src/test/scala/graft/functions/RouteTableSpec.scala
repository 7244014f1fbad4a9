package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.{CodegenSize, SparkSpec}
import graft.cdc.Pipeline
import graft.cdc.Routing.TransformRule

/** The route kernel's generated code does not grow with the rule count.
  * HotSpot does not JIT-compile a method over 8,000 bytes of bytecode
  * (`-XX:HugeMethodLimit`, which deployments do not get to change); the
  * old `when` chain added ~300 bytes per rule to the fused parse+route
  * stage and crossed that limit at ~28 rules, and overflowed the
  * analyzer's stack at a few hundred.
  */
class RouteTableSpec extends SparkSpec {

  private def rules(n: Int): Seq[TransformRule] = (0 until n).map { i =>
    TransformRule(s"flink-${i % 2 + 1}", s"db_${i % 3}",
      s"table_${i % 997}$$", s"t-$i")
  }

  // Every column derives from the row id, so no part of the decode or
  // the route constant-folds out of the stage.
  private def raw: DataFrame = spark.range(4).select(
    concat(lit("flink-"), (col("id") % 2 + 1).cast("string")).as("topic"),
    col("id").cast("string").as("key"),
    concat(lit("""{"op":"c","source":{"db":"db_0","table":"table_"""),
      col("id").cast("string"), lit(""""}}""")).as("value"))

  /** Largest method of the compiled stage that holds the kernel. Plans
    * and compiles only: no Spark job runs.
    */
  private def routeStageMaxMethod(n: Int): Int = {
    val plan = Pipeline.route(raw, rules(n)).queryExecution.executedPlan
    val stages = plan.collect {
      case w: WholeStageCodegenExec if w.child.exists(
          _.expressions.exists(_.exists(_.isInstanceOf[RouteTable]))) => w
    }
    assert(stages.size == 1, s"expected one route stage:\n$plan")
    CodegenSize.maxMethodBytes(stages.head)
  }

  test("route stage's largest method is one size, under 8,000 bytes, " +
    "at 1 to 10,000 rules") {
    val sizes = Seq(1, 32, 1000, 10000).map(n => n -> routeStageMaxMethod(n))
    assert(sizes.forall(_._2 < CodegenSize.HugeMethodLimit),
      s"stage past the JIT limit: $sizes")
    assert(sizes.map(_._2).distinct.size == 1, s"code grows with rules: $sizes")
  }

  test("a 10,000-rule route analyzes and runs, codegen only") {
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val rs = rules(10000)
      val got = Pipeline.route(raw, rs).select("key", "target_topic")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val want = (0 until 4).flatMap { i =>
        rs.find(r => r.sourceTopic == s"flink-${i % 2 + 1}" && r.db == "db_0" &&
            r.tableRegex.r.findFirstIn(s"table_$i").isDefined)
          .map(r => (i.toString, r.targetTopic))
      }.toSet
      assert(got == want && got.nonEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
