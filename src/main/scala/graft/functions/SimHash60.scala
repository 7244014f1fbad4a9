package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit SimHash of a whitespace-tokenized text in one
  * expression evaluation (same escalation rationale as
  * [[MinHashSig]]): the composable form
  * (the test-scope `SimHashRows.simhashAgg`) explodes every token occurrence
  * into a row and runs a 60-column sum aggregate — a corpus-wide
  * generate + shuffle for a per-document scalar. Here the token loop,
  * the md5 per token, and the 60 sign counters all run inside one
  * whole-stage-codegen projection; the fingerprint never leaves the
  * scan stage.
  *
  * Bit semantics are pinned to the aggregate form (A/B-tested by
  * SimHash60Spec): token = every single-space-split segment (empties
  * included, multiplicity weights), bit j of the fingerprint is set
  * iff Σ_tokens (2·bit_j(md5(token)) − 1) ≥ 0, where bit_j of the hex
  * digest = bit (7 − j%8) of raw digest byte j/8 — the identity that
  * lets the kernel read the 16 raw bytes instead of formatting hex.
  * The DuckDB oracle reproduces the same fingerprint from `md5()`
  * hex, so this value is oracle-checked end to end.
  *
  * NULL contract (pinned by SimHash60Spec): NULL text evaluates to a
  * NULL fingerprint — the document row SURVIVES with a NULL value.
  * The aggregate form instead drops the document entirely (exploding a
  * NULL token array emits no rows), so callers on nullable text must
  * filter NULLs before choosing either formulation, or the two produce
  * different row counts.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires a string input, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash60"

  override def nullSafeEval(s: Any): Any =
    SimHashImpl.simhash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashImpl.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  /** Column-level entry point. */
  def apply(text: Column): Column =
    GraftBridge.column(SimHash60(GraftBridge.expression(text)))
}

/** Static kernel (separate object for a clean static forwarder in
  * generated code).
  */
object SimHashImpl {

  import graft.ext.Dedup.SimhashBits

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash(text: UTF8String): Long = {
    // one copy of the doc's bytes; token digests read slices of it
    val bytes = text.getBytes
    val len = bytes.length
    val counts = new Array[Int](SimhashBits)
    val md = md5.get()
    var tokStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, tokStart, i - tokStart)
        val d = md.digest()
        var j = 0
        while (j < SimhashBits) {
          counts(j) += (((d(j >> 3) >>> (7 - (j & 7))) & 1) << 1) - 1
          j += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < SimhashBits) {
      if (counts(j) >= 0) fp |= 1L << j
      j += 1
    }
    fp
  }
}
