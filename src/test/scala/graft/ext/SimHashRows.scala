package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Dedup.{SimhashBits, bitContrib}

/** The composable 60-bit SimHash row chain — the reference the native
  * [[graft.functions.SimHash60]] kernel and the HOF [[Dedup.simhash]]
  * are pinned against bit for bit.
  */
object SimHashRows {

  /** (id, simhash) by explode, flat projection and partial aggregate
    * over primitive buffers: one md5 per token (subexpression-eliminated
    * across the 60 bit extracts), 60 `sum` partial aggregates,
    * fingerprint assembled after the aggregate.
    */
  def simhashAgg(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val ex = docs.select(col(idCol).as("id"), explode(col(tokensCol)).as("w"))
    val h = md5(col("w"))
    val contribs = (0 until SimhashBits).map(j => bitContrib(h, j).as(s"b_$j"))
    val hashed = ex.select(col("id") +: contribs: _*)
    val aggs = (0 until SimhashBits).map(j => sum(col(s"b_$j")).as(s"s_$j"))
    val agg = hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val fp = (0 until SimhashBits)
      .map(j => when(col(s"s_$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("id"), fp.as("simhash"))
  }
}
