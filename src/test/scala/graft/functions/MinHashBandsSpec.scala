package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.{Dedup, MinHashRows}

/** Band keys of the classic signature kernel ([[MinHashClassicSig]]
  * through [[Dedup.bandKeys]]) must be byte-identical to the composable
  * row pipeline's (explode → hash → groupBy-min): candidates, and
  * therefore verified pairs, must not shift when the plan improves.
  */
class MinHashBandsSpec extends SparkSpec {
  import spark.implicits._

  private def abCheck(texts: Seq[String], n: Int, word: Boolean): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = df.select(col("id"),
        Dedup.bandKeys(MinHashClassicSig(col("text"), n, word)).as("bands"))
      .as[(Long, Seq[String])].collect().toMap
    val rows =
      if (word) Dedup.wordShingleRows(df, col("id"), col("text"), n)
      else Dedup.charShingleRows(df, col("id"), col("text"), n)
    val viaRows = MinHashRows.bands(MinHashRows.classicSig(rows))
      .as[(Long, Seq[String])].collect().toMap
    assert(native.keySet == viaRows.keySet)
    for (id <- native.keySet)
      assert(native(id) == viaRows(id), s"bands differ for id=$id: " +
        s"'${texts(id.toInt)}' native=${native(id)} rows=${viaRows(id)}")
  }

  private val edgeTexts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "short",
    "ab",
    "a b",
    "one two",                // < 3 words: whole-text shingle
    "x  y   z",               // runs of spaces → empty tokens
    " leading and trailing ", // boundary empties
    "汉字测试文本相似去重",        // multi-byte chars
    "mixte 汉字 et ascii 文本")  // mixed-width tokens

  test("word 3-gram bands match the row pipeline on edge cases") {
    abCheck(edgeTexts, 3, word = true)
  }

  test("char 6-gram bands match the row pipeline on edge cases") {
    abCheck(edgeTexts, 6, word = false)
  }

  test("bands match the row pipeline across the fixture corpus (both modes)") {
    val texts = Tables.documents(spark, sfDir)
      .select("text").as[String].collect().toSeq
    abCheck(texts, 3, word = true)
    abCheck(texts, 6, word = false)
  }

  test("native near-dup pipeline returns the same verified pairs") {
    val docs = Tables.documents(spark, sfDir)
    val native = Dedup.nearDupPairsNative(docs, "doc_id", "text", 3,
        word = true, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val classic = MinHashRows.classicNearDupPairs(docs, "doc_id",
        d => Dedup.wordShingleRows(d, col("doc_id"), col("text"), 3), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(native == classic && native.nonEmpty)
  }
}
