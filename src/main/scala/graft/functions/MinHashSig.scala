package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signatures for one document in ONE expression
  * evaluation: shingle the text (word or char n-grams), hash every
  * shingle and fold the 32 signature minima, without ever
  * materializing a shingle row. Two forms share the one kernel,
  * [[MinHashImpl.signature]]: [[MinHashSig]] (one-permutation hashing,
  * densified) and [[MinHashClassicSig]] (32 permutations). Band keys
  * come from [[graft.ext.Dedup.bandKeys]] over either.
  *
  * Why a custom `Expression` (SURVEY.md §7.5's escalation path, same
  * rationale as [[DotProduct]]): the composable formulation explodes
  * ~len(text) shingle rows per document through the row pipeline and
  * re-groups them to take the 32 minima — at sf0.1 that is 10M
  * generated rows and a corpus-wide HashAggregate for what is
  * logically a per-row scalar computation; profiled, the
  * explode+aggregate machinery (not the hashing) dominates the
  * near-dup queries. Here the whole signature is computed scan-side
  * inside whole-stage codegen: no generated rows, NO groupBy — the
  * shuffle the aggregate needed disappears from the plan entirely. At
  * 100 TB this turns the signature stage from (corpus-wide explode +
  * shuffle) into a narrow projection pipelined with the parquet scan.
  *
  * The hash chain is bit-identical to the row pipeline
  * (`xxhash64(lit(p), xxhash64(x))`, top-32-bit chunks for the classic
  * form; the one `xxhash64(x)`'s top 5 bits and low 32 bits for OPH),
  * pinned by `MinHashBandsSpec` and `MinHashOphSpec` against the
  * test-scope row chains, so candidate generation is unchanged, just
  * cheaper.
  *
  * Shingle windows are byte ranges over the original UTF-8 buffer —
  * nothing is copied per shingle:
  *  - char mode: chars [i, i+n) (multi-byte aware via the char-offset
  *    walk); texts shorter than n chars yield one whole-text shingle.
  *  - word mode: tokens are the segments between single spaces (split
  *    semantics, empty segments included); window i spans token i's
  *    first byte through token (i+n−1)'s last byte — byte-identical to
  *    `concat_ws(" ", slice(tokens, i, n))` because single-space
  *    joins reproduce the original bytes. Fewer than n tokens yields
  *    the whole text.
  *
  * This form is the densified OPH signature (32 longs): consumers
  * derive band keys AND compare per-bin values from it — the agreement
  * prefilter in [[graft.ext.Dedup.lshCandidatesSig]] needs both from
  * one scan-side projection.
  */
case class MinHashSig(child: Expression, n: Int, word: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string input, got ${t.sql}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(s: Any): Any =
    MinHashImpl.sigArray(s.asInstanceOf[UTF8String], n, word)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashImpl.sigArray($c, $n, $word);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Column-level entry point. */
  def apply(text: Column, n: Int, word: Boolean): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(text), n, word))
}

/** The CLASSIC (32-permutation) signature — min over every permutation
  * for every shingle, no OPH binning, no densification. 32× the fold
  * work of [[MinHashSig]] per shingle, but it carries the property the
  * OPH tier structurally cannot: the signature of a shingle-set UNION
  * is the elementwise min of the parts' signatures (each permutation's
  * min distributes over union), so shard/source-level signatures merge
  * without re-sketching — the MinHash analogue of HLL cell merging
  * (E108). Densified OPH breaks this: a densified bin holds a COPY of
  * a neighbor bin, and min-merging copies yields values the union's
  * own densification would not produce.
  */
case class MinHashClassicSig(child: Expression, n: Int, word: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_classic_sig requires a string input, got ${t.sql}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "minhash_classic_sig"

  override def nullSafeEval(s: Any): Any =
    MinHashImpl.classicSigArray(s.asInstanceOf[UTF8String], n, word)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashImpl.classicSigArray($c, $n, $word);")

  override protected def withNewChildInternal(newChild: Expression): MinHashClassicSig =
    copy(child = newChild)
}

object MinHashClassicSig {
  /** Column-level entry point. */
  def apply(text: Column, n: Int, word: Boolean): Column =
    GraftBridge.column(MinHashClassicSig(GraftBridge.expression(text), n, word))
}

/** Static kernel (separate object so generated Java gets a static
  * forwarder unshadowed by the case class).
  */
object MinHashImpl {

  import graft.ext.Dedup.NumPerms

  /** Per-permutation seeds: `xxhash64(lit(p), base)` evaluates as
    * `hashLong(base, hashInt(p, 42))`, so the `hashInt(p, 42)` prefix
    * is a constant per permutation.
    */
  private val PermSeeds: Array[Long] =
    Array.tabulate(NumPerms)(p => XXH64.hashInt(p, 42L))

  /** The raw 32-element signature. `oph = true` selects
    * one-permutation hashing: instead of folding all 32 permutation
    * minima per shingle (32 `hashLong` calls), the single shingle
    * hash's top 5 bits pick ONE of the 32 signature bins and its low 32
    * bits compete for that bin's minimum — one hash and one compare per
    * shingle, a 32× cut in fold work. Empty bins are densified by
    * borrowing the next non-empty bin's value (cyclic, ascending —
    * Shrivastava & Li's densified OPH), so every band key is always
    * defined. Per-bin collision probability for two J-similar shingle
    * sets is ≈ J, so the 8×4 banding recall analysis is unchanged.
    * This is the 100 TB default for candidate generation
    * ([[MinHashSig]]); the 32-permutation form ([[MinHashClassicSig]])
    * keeps the min-merge property.
    */
  def signature(text: UTF8String, n: Int, word: Boolean, oph: Boolean): Array[Long] = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes

    val mins = new Array[Long](NumPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)

    var windows = 0
    if (word) {
      // token start/end byte offsets: segments between 0x20 bytes
      // (single-space split semantics — empty segments count)
      var starts = new Array[Int](16)
      var ends = new Array[Int](16)
      var nTok = 0
      var i = 0
      var tokStart = 0
      while (i <= len) {
        if (i == len || Platform.getByte(base, off + i) == 0x20) {
          if (nTok == starts.length) {
            starts = java.util.Arrays.copyOf(starts, nTok * 2)
            ends = java.util.Arrays.copyOf(ends, nTok * 2)
          }
          starts(nTok) = tokStart; ends(nTok) = i; nTok += 1
          tokStart = i + 1
        }
        i += 1
      }
      if (nTok < n) {
        foldWindow(base, off, 0, len, mins, oph); windows = 1
      } else {
        var w = 0
        while (w <= nTok - n) {
          foldWindow(base, off, starts(w), ends(w + n - 1), mins, oph)
          w += 1
        }
        windows = nTok - n + 1
      }
    } else {
      // char-offset walk (multi-byte aware); charOff(i) = byte offset
      // of char i, with a trailing sentinel at len
      val nChars = text.numChars()
      if (nChars < n) {
        foldWindow(base, off, 0, len, mins, oph); windows = 1
      } else {
        val charOff = new Array[Int](nChars + 1)
        var i = 0
        var b = 0
        while (i < nChars) {
          charOff(i) = b
          b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
          i += 1
        }
        charOff(nChars) = len
        var w = 0
        while (w <= nChars - n) {
          foldWindow(base, off, charOff(w), charOff(w + n), mins, oph)
          w += 1
        }
        windows = nChars - n + 1
      }
    }
    require(windows > 0)

    if (oph) {
      // Densification: an empty bin borrows the value of the next
      // non-empty bin (cyclic ascending scan). At least one bin is
      // non-empty (windows > 0), so the scan always terminates. Must
      // stay in lockstep with the test-scope OPH row chain's coalesce
      // chain — pinned by MinHashOphSpec.
      val dense = new Array[Long](NumPerms)
      var p = 0
      while (p < NumPerms) {
        var v = mins(p)
        var q = 1
        while (v == Long.MaxValue) {
          v = mins((p + q) & (NumPerms - 1))
          q += 1
        }
        dense(p) = v
        p += 1
      }
      System.arraycopy(dense, 0, mins, 0, NumPerms)
    }
    mins
  }

  /** Boxed-array adapter for the [[MinHashSig]] expression. */
  def sigArray(text: UTF8String, n: Int, word: Boolean): ArrayData =
    new GenericArrayData(signature(text, n, word, oph = true))

  /** Boxed-array adapter for [[MinHashClassicSig]] (no OPH, no
    * densification — the min-merge-able form).
    */
  def classicSigArray(text: UTF8String, n: Int, word: Boolean): ArrayData =
    new GenericArrayData(signature(text, n, word, oph = false))

  /** Hash bytes [start, end) once; then either fold all 32 permutation
    * chunks into the running minima (classic), or — OPH — route the one
    * hash to the bin its top 5 bits select and update only that bin's
    * minimum from its low 32 bits.
    */
  private def foldWindow(base: AnyRef, off: Long, start: Int, end: Int,
                         mins: Array[Long], oph: Boolean): Unit = {
    val h0 = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
    if (oph) {
      val bin = (h0 >>> 59).toInt
      val chunk = h0 & 0xffffffffL
      if (chunk < mins(bin)) mins(bin) = chunk
    } else {
      var p = 0
      while (p < NumPerms) {
        val chunk = (XXH64.hashLong(h0, PermSeeds(p)) >>> 32) & 0xffffffffL
        if (chunk < mins(p)) mins(p) = chunk
        p += 1
      }
    }
  }
}
