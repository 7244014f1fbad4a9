package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Delete-event filter (reference R3, `reference/src/mq/kafka.rs:65-68`).
  *
  * Blocklist semantics, exactly as the reference: drop `op == "d"`, pass
  * everything else — including op strings the engine has never seen. An
  * allowlist (`op IN ('c','u')`) would be subtly wrong: Debezium also emits
  * `"r"` (snapshot read) and future op codes must flow through.
  *
  * A null op (malformed envelope in permissive mode) is NOT equal to "d",
  * and `=!=` on null yields null → filtered out. That matches the reference,
  * where a malformed envelope never reaches the filter (it panics earlier);
  * permissive mode flags such rows `_malformed` instead.
  */
object Filter {
  def dropDeletes(parsed: DataFrame): DataFrame =
    parsed.filter(col("op") =!= lit("d"))
}
