package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Dedup.{NumBands, NumPerms, RowsPerBand}

/** The composable MinHash row chains: (id, x) shingle rows, one
  * `xxhash64` per shingle in a flat projection, then `groupBy(id)` with
  * 32 primitive `min` buffers. These are the references the signature
  * kernels ([[graft.functions.MinHashClassicSig]],
  * [[graft.functions.MinHashSig]]) are pinned against bit for bit;
  * duplicate shingle rows are harmless (min is idempotent).
  */
object MinHashRows {

  /** (id, sig): the classic 32-permutation signature. Permutation p of
    * a shingle is the top 32 bits of `xxhash64(p, xxhash64(x))`.
    */
  def classicSig(rows: DataFrame): DataFrame = {
    val base = col("h")
    val chunks = (0 until NumPerms).map { p =>
      shiftright(xxhash64(lit(p), base), 32)
        .bitwiseAND(lit(0xffffffffL)).as(s"h_$p")
    }
    val hashed = rows.select(col("id"), xxhash64(col("x")).as("h"))
      .select(col("id") +: chunks: _*)
    val aggs = (0 until NumPerms).map(p => min(col(s"h_$p")).as(s"m_$p"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until NumPerms).map(p => col(s"m_$p")): _*).as("sig"))
  }

  /** (id, sig): the densified one-permutation signature. The shingle
    * hash's top 5 bits pick the bin and its low 32 bits compete for
    * that bin's minimum; an empty bin borrows the next non-empty bin,
    * cyclically (the coalesce chain).
    */
  def ophSig(rows: DataFrame): DataFrame = {
    val base = xxhash64(col("x"))
    val hashed = rows.select(col("id"),
      shiftrightunsigned(base, 59).cast("int").as("bin"),
      base.bitwiseAND(lit(0xffffffffL)).as("chunk"))
    val aggs = (0 until NumPerms).map(p =>
      min(when(col("bin") === p, col("chunk"))).as(s"m_$p"))
    val dense = (0 until NumPerms).map { p =>
      coalesce((0 until NumPerms).map(q => col(s"m_${(p + q) % NumPerms}")): _*)
    }
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array(dense: _*).as("sig"))
  }

  /** (id, bands) from (id, sig): band b is bins 4b..4b+3 joined by "|". */
  def bands(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), array((0 until NumBands).map { b =>
      concat_ws("|",
        (0 until RowsPerBand).map(r => col("sig").getItem(b * RowsPerBand + r)): _*)
    }: _*).as("bands"))

  /** Verified near-dup pairs with candidates from the classic chain's
    * band buckets: every in-bucket pair, no agreement prefilter.
    */
  def classicNearDupPairs(docs: DataFrame, idColName: String,
                          shingler: DataFrame => DataFrame,
                          threshold: Double): DataFrame =
    Dedup.verifyCandidates(
      Dedup.lshCandidatesSig(classicSig(shingler(docs)), "id", col("sig"),
        minAgree = 0),
      docs, idColName, shingler, threshold)
}
