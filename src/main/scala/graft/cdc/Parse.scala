package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Projection-only JSON decode of the CDC envelope (reference R2,
  * `reference/src/mq/kafka.rs:53-55,119-143`).
  *
  * The native envelope kernel decodes exactly the fields the pipeline
  * inspects (those of the partial [[CdcSchema.CDC_SCHEMA]]); the raw `value` column is carried through
  * untouched next to the parsed fields so the sink can forward the original
  * bytes bit-identically (reference R5, `kafka.rs:80-82`). Everything stays
  * inside whole-stage codegen — no UDFs.
  *
  * Malformed-input divergence (deliberate, SURVEY.md §7.6.5): the reference
  * panics on bad JSON (`kafka.rs:54-55` `.unwrap()`); a 100 TB batch job must
  * not die on one bad record, so the default here is permissive — malformed
  * envelopes are *flagged* (`_malformed`) — and `strict = true` restores
  * fail-fast semantics.
  *
  * "Malformed" means the value is not a JSON object: a genuine parse
  * failure is told apart from a valid object that merely lacks
  * `op`/`source` — `{"x":1}` is well-formed
  * (serde would decode it to empty strings-absent, not panic the parser),
  * while `[1,2]` or `{not json` is not. This matches the DuckDB oracle
  * predicate `json_valid(value) AND json_type(value) = 'OBJECT'`.
  */
object Parse {

  /** Decode `value` → (`op`, `db`, `tbl`, `_malformed`) columns, keeping
    * `topic`, `key`, and the raw `value` intact. (`tbl` not `table`: avoids
    * the SQL keyword in oracle queries.)
    *
    * Decoding runs through the native single-pass
    * [[graft.functions.CdcEnvelopeParse]] kernel (codegen-resident, no
    * Jackson, no cast-to-string copy — binary Kafka payloads parse
    * directly); the test-scope `ParseJackson` keeps the `from_json`
    * formulation as the differential-test reference implementation.
    */
  def parse(raw: DataFrame, strict: Boolean = false): DataFrame = {
    val parsed = raw
      .withColumn("_cdc", graft.functions.CdcEnvelopeParse.column(col("value")))
      .select(
        col("topic"), col("key"), col("value"),
        col("_cdc.op").as("op"),
        col("_cdc.db").as("db"),
        col("_cdc.tbl").as("tbl"),
        (col("_cdc").isNull || col("_cdc.malformed")).as("_malformed"))
    if (strict) {
      // Fail-fast like the reference: raise on the first undecodable record.
      parsed.withColumn("op",
        when(col("_malformed"),
          raise_error(concat(lit("malformed CDC envelope: "),
            col("value").cast("string"))))
          .otherwise(col("op")))
    } else parsed
  }
}
