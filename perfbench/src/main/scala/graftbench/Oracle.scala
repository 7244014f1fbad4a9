package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** The benchmark's own routing oracle: drop malformed envelopes and
  * deletes, then the first rule (in file order) whose topic and db are
  * equal and whose `java.util.regex` pattern finds a match in the table
  * name gives the target; no match drops the event. It reads the
  * generator's intended (topic, db, table, op) and never parses JSON.
  */
final class Router(rules: Seq[Rule]) extends Serializable {
  @transient private lazy val compiled =
    rules.map(r => (r.topic, r.db, Pattern.compile(r.tableRegex), r.target))
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Option[String]]()

  def target(topic: String, db: String, table: String): Option[String] =
    memo.computeIfAbsent((topic, db, table), _ =>
      compiled.collectFirst {
        case (t, d, p, out) if t == topic && d == db && p.matcher(table).find() => out
      })

  def forwardTarget(e: Envelope): Option[String] =
    if (e.malformed || e.op == 'd') None else target(e.topic, e.db, e.table)
}

/** Order-free totals over a set of events. `hashSum` adds the top 32
  * bits of xxhash64(target_topic, key, value) of every forwarded event,
  * so a lost, duplicated, mis-routed or byte-altered event changes it.
  */
final case class Tally(consumed: Long, parseErrors: Long, deletes: Long,
                       forwarded: Long, hashSum: Long) {
  def +(o: Tally): Tally = Tally(consumed + o.consumed, parseErrors + o.parseErrors,
    deletes + o.deletes, forwarded + o.forwarded, hashSum + o.hashSum)
  def *(k: Long): Tally = Tally(consumed * k, parseErrors * k, deletes * k, forwarded * k, hashSum * k)

  /** Events that are provably wrong in `observed` against this
    * expectation: count differences, or one event when only the
    * checksum differs.
    */
  def failures(observed: Tally): Long = {
    val d = math.abs(consumed - observed.consumed) + math.abs(parseErrors - observed.parseErrors) +
      math.abs(deletes - observed.deletes) + math.abs(forwarded - observed.forwarded)
    if (d == 0 && hashSum != observed.hashSum) 1L else d
  }
}

object Tally {
  val Zero: Tally = Tally(0, 0, 0, 0, 0)

  def of(e: Envelope, router: Router): Tally = {
    val fwd = router.forwardTarget(e)
    Tally(1, if (e.malformed) 1 else 0, if (!e.malformed && e.op == 'd') 1 else 0,
      if (fwd.isDefined) 1 else 0, fwd.map(t => Checksum.hi(t, e.key, e.value)).getOrElse(0L))
  }

  /** Read a tally back from observed-metric rows keyed by column name. */
  def observed(get: String => Long): Tally =
    Tally(get("events_total"), get("parse_errors"), get("deletes"),
      get("forwarded_total"), get("hash_sum"))
}

object Checksum {
  /** Spark's `xxhash64(target, key, value)` computed on the driver:
    * seed 42, each column's bytes hashed with the running hash as seed.
    */
  def xxhash64(target: String, key: Array[Byte], value: Array[Byte]): Long = {
    val t = target.getBytes(UTF_8)
    var h = XXH64.hashUnsafeBytes(t, Platform.BYTE_ARRAY_OFFSET, t.length, 42L)
    h = XXH64.hashUnsafeBytes(key, Platform.BYTE_ARRAY_OFFSET, key.length, h)
    XXH64.hashUnsafeBytes(value, Platform.BYTE_ARRAY_OFFSET, value.length, h)
  }
  def hi(target: String, key: Array[Byte], value: Array[Byte]): Long =
    xxhash64(target, key, value) >>> 32

  /** The consumed-side observation graft exposes, plus the delete count. */
  def consumedCols: Seq[Column] =
    graft.cdc.Pipeline.consumedMetrics :+ count(when(col("op") === "d", 1)).as("deletes")

  /** The forwarded-side observation graft exposes, plus the checksum. */
  def forwardedCols: Seq[Column] =
    graft.cdc.Pipeline.forwardedMetrics :+
      sum(shiftrightunsigned(functions.xxhash64(col("target_topic"), col("key"), col("value")), 32))
        .as("hash_sum")
}
