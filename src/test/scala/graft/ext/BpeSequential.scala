package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BpeMerge

/** Sequential BPE training — one argmax merge per round — as the
  * reference [[Bpe.train]] is pinned against: the textbook loop
  * (Sennrich et al. 2016) over the same vocabulary, pair counts and
  * (count DESC, lhs, rhs) tie-break.
  */
object BpeSequential {

  def train(docs: DataFrame, rounds: Int): (Seq[Bpe.MergeRule], DataFrame) = {
    var words = Bpe.vocab(docs).localCheckpoint()
    val rules = Seq.newBuilder[Bpe.MergeRule]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = Bpe.pairCounts(words)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) {
        exhausted = true
      } else {
        val lhs = best(0).getAs[String]("lhs")
        val rhs = best(0).getAs[String]("rhs")
        rules += Bpe.MergeRule(r, lhs, rhs, best(0).getAs[Long]("cnt"))
        words = words.select(col("word"), col("freq"),
          BpeMerge(col("sym"), lit(lhs), lit(rhs)).as("sym"))
          .localCheckpoint()
        r += 1
      }
    }
    (rules.result(), words)
  }
}
