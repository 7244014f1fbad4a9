package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.{Dedup, SimHashRows}

/** The native SimHash60 expression must produce the exact fingerprint
  * of the explode + 60-sum aggregate form — the value is oracle-checked
  * in DuckDB, so any drift is a correctness failure, not a perf nit.
  */
class SimHash60Spec extends SparkSpec {
  import spark.implicits._

  private def abCheck(texts: Seq[String]): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = df.select(col("id"), SimHash60(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaAgg = SimHashRows.simhashAgg(
        df.select(col("id"), split(col("text"), " ").as("toks")), "id", "toks")
      .as[(Long, Long)].collect().toMap
    assert(native.keySet == viaAgg.keySet)
    for (id <- native.keySet)
      assert(native(id) == viaAgg(id),
        s"simhash differs for '${texts(id.toInt)}': ${native(id)} vs ${viaAgg(id)}")
  }

  test("fingerprints match the aggregate form on edge cases") {
    abCheck(Seq(
      "the quick brown fox jumps over the lazy dog",
      "token token token repeated weights",
      "x",
      "",
      "a  b   c",
      " padded ",
      "汉字测试文本相似去重",
      "mixte 汉字 et ascii 文本"))
  }

  test("fingerprints match the aggregate form across the fixture corpus") {
    val texts = Tables.documents(spark, sfDir)
      .select("text").as[String].collect().toSeq
    abCheck(texts)
  }

  test("NULL text: expression keeps the row with a NULL fingerprint, " +
      "aggregate drops it — the documented divergence") {
    val df = Seq((0L, Some("real text")), (1L, None))
      .toDF("id", "text")
    val native = df.select(col("id"), SimHash60(col("text")).as("sh"))
      .as[(Long, Option[Long])].collect().toMap
    assert(native.keySet == Set(0L, 1L) && native(1L).isEmpty
      && native(0L).nonEmpty)
    val viaAgg = SimHashRows.simhashAgg(
        df.select(col("id"), split(col("text"), " ").as("toks")), "id", "toks")
      .as[(Long, Long)].collect().toMap
    assert(viaAgg.keySet == Set(0L), "aggregate form must drop NULL-text docs")
    assert(native(0L).contains(viaAgg(0L)))
  }

  test("fingerprints sit in the non-negative 60-bit range") {
    val sh = Tables.documents(spark, sfDir)
      .select(SimHash60(col("text")).as("sh")).as[Long].collect()
    assert(sh.forall(v => v >= 0L && v < (1L << 60)))
  }
}
