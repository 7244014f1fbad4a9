package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ext.{Dedup, MinHashRows}

/** The native OPH signature ([[MinHashSig]], one-permutation hashing,
  * the production candidate generator) must produce byte-identical band
  * keys to the composable conditional-min + coalesce-densification
  * pipeline, and the end-to-end OPH near-dup output must equal the
  * classic 32-permutation pipeline's verified pairs on the fixture (both
  * schemes have full recall on the planted similarity gap; exact
  * Jaccard verification makes candidate-set differences invisible).
  */
class MinHashOphSpec extends SparkSpec {
  import spark.implicits._

  private def abCheck(texts: Seq[String], n: Int, word: Boolean): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val native = df.select(col("id"),
        Dedup.bandKeys(MinHashSig(col("text"), n, word)).as("bands"))
      .as[(Long, Seq[String])].collect().toMap
    val rows =
      if (word) Dedup.wordShingleRows(df, col("id"), col("text"), n)
      else Dedup.charShingleRows(df, col("id"), col("text"), n)
    val viaRows = MinHashRows.bands(MinHashRows.ophSig(rows))
      .as[(Long, Seq[String])].collect().toMap
    assert(native.keySet == viaRows.keySet)
    for (id <- native.keySet)
      assert(native(id) == viaRows(id), s"OPH bands differ for id=$id: " +
        s"'${texts(id.toInt)}' native=${native(id)} rows=${viaRows(id)}")
  }

  private val edgeTexts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "short", // single whole-text shingle: 31 bins densify from one
    "ab",
    "a b",
    "one two",
    "x  y   z",
    " leading and trailing ",
    "汉字测试文本相似去重",
    "mixte 汉字 et ascii 文本")

  test("OPH bands match the composable twin on edge cases (both modes)") {
    abCheck(edgeTexts, 3, word = true)
    abCheck(edgeTexts, 6, word = false)
  }

  test("OPH bands match the composable twin across the fixture corpus") {
    val texts = Tables.documents(spark, sfDir)
      .select("text").as[String].collect().toSeq
    abCheck(texts, 3, word = true)
    abCheck(texts, 6, word = false)
  }

  test("MinHashSig matches the composable dense-signature twin") {
    val df = edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for ((n, word) <- Seq((3, true), (6, false))) {
      val native = df.select(col("id"), MinHashSig(col("text"), n, word).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val rows =
        if (word) Dedup.wordShingleRows(df, col("id"), col("text"), n)
        else Dedup.charShingleRows(df, col("id"), col("text"), n)
      val viaRows = MinHashRows.ophSig(rows)
        .as[(Long, Seq[Long])].collect().toMap
      assert(native == viaRows)
    }
  }

  test("agreement prefilter keeps every fixture pair the classic path finds") {
    val docs = Tables.documents(spark, sfDir)
    val sigs = docs.select(col("doc_id").as("id"),
      MinHashSig(col("text"), 6, word = false).as("sig"))
    val pre = Dedup.lshCandidatesSig(sigs, "id", col("sig"), minAgree = 16)
      .as[(Long, Long)].collect().toSet
    val verified = MinHashRows.classicNearDupPairs(docs, "doc_id",
        d => Dedup.charShingleRows(d, col("doc_id"), col("text"), 6), 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(verified.subsetOf(pre),
      s"prefilter dropped true pairs: ${verified -- pre}")
  }

  test("OPH char-6-gram pipeline finds the same verified pairs as classic") {
    val docs = Tables.documents(spark, sfDir)
    val oph = Dedup.nearDupPairsNative(docs, "doc_id", "text", 6,
        word = false, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val classic = MinHashRows.classicNearDupPairs(docs, "doc_id",
        d => Dedup.charShingleRows(d, col("doc_id"), col("text"), 6), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(oph == classic && oph.nonEmpty)
  }

  test("shard-merge algebra (E221): classic signatures min-merge to " +
      "exactly the union's signature; densified OPH structurally does " +
      "NOT — the negative control that makes the classic tier " +
      "load-bearing") {
    def sigOf(text: String, classic: Boolean): Seq[Long] = {
      val df = Seq(Tuple1(text)).toDF("t")
      val c = if (classic) MinHashClassicSig(col("t"), 1, word = true)
        else MinHashSig(col("t"), 1, word = true)
      df.select(c).head().getSeq[Long](0)
    }
    // word 1-grams: "a b" has shingle set {a} ∪ {b} exactly
    val (ca, cb, cab) = (sigOf("a", classic = true),
      sigOf("b", classic = true), sigOf("a b", classic = true))
    assert(ca.zip(cb).map { case (x, y) => math.min(x, y) } == cab,
      "classic min-merge must equal the union signature exactly")
    // densified OPH: 31 of 32 bins of a single-shingle doc are copies;
    // min-merging copies yields values the union's own densification
    // would not produce
    val (oa, ob, oab) = (sigOf("a", classic = false),
      sigOf("b", classic = false), sigOf("a b", classic = false))
    assert(oa.zip(ob).map { case (x, y) => math.min(x, y) } != oab,
      "OPH min-merge unexpectedly matched — the documented hazard " +
        "would be vacuous")
    // and the registered query's verdict holds corpus-wide
    val rows = graft.queries.DedupQueries.queries("docs_sig_shard_merge")(
      spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"),
        s"merge/direct diverged for source ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("n_perms") == Dedup.NumPerms.toLong)
    }
  }
}
