package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.TestSpark

/** Property-based invariants for the dedup family: LSH + verification
  * never reports a pair below threshold, never pairs a doc with
  * itself, orders pairs canonically, and the two simhash formulations
  * agree on arbitrary token streams.
  */
object DedupPropsSpec extends Properties("Dedup") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(8)

  private val word = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private val genDoc: Gen[String] =
    Gen.chooseNum(5, 25).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  property("near-dup pairs respect threshold, ordering, and self-exclusion") =
    Prop.forAllNoShrink(Gen.listOfN(12, genDoc)) { docs =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = Dedup.nearDupPairsNative(df, "doc_id", "text", 2,
          word = true, 0.6)
        .as[(Long, Long, Double)].collect()
      pairs.forall { case (a, b, j) => a < b && j >= 0.6 && j <= 1.0 }
    }

  property("identical docs are always found with jaccard 1.0") =
    Prop.forAllNoShrink(genDoc) { doc =>
      import spark.implicits._
      val df = Seq((0L, doc), (1L, doc)).toDF("doc_id", "text")
      val pairs = Dedup.nearDupPairsNative(df, "doc_id", "text", 2,
          word = true, 0.9)
        .as[(Long, Long, Double)].collect()
      pairs.toSeq == Seq((0L, 1L, 1.0))
    }

  property("simhashAgg equals the HOF simhash on arbitrary token streams") =
    Prop.forAllNoShrink(Gen.listOfN(4, genDoc)) { docs =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val toks = df.select(col("doc_id"), split(col("text"), " ").as("toks"))
      val viaAgg = SimHashRows.simhashAgg(toks, "doc_id", "toks")
        .as[(Long, Long)].collect().toMap
      val viaHof = df.select(col("doc_id"), Dedup.simhash(split(col("text"), " ")))
        .as[(Long, Long)].collect().toMap
      viaAgg == viaHof
    }
}
