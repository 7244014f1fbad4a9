package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The `from_json` decode of the CDC envelope — the reference
  * implementation CdcEnvelopeSpec's differential tests pin the native
  * [[Parse.parse]] kernel against. Known, spec-pinned divergences: a
  * schema-mismatched nested `source` (e.g. `{"source":5}`)
  * corrupt-flags the whole row here but yields NULL fields with
  * `_malformed=false` in the native path (DuckDB semantics).
  */
object ParseJackson {

  /** Corrupt-record capture field. The name is deliberately obscure: the
    * capture column lives in the same namespace as the payload's own
    * fields, so an envelope legitimately containing a top-level
    * `"_corrupt"` key would otherwise be falsely flagged malformed.
    */
  private val CorruptField = "_graft_corrupt_x9q"

  /** Decode schema + corrupt-record capture field. */
  private val ParseSchema = CdcSchema.CDC_SCHEMA.add(CorruptField, StringType)

  /** (`topic`, `key`, `value`, `op`, `db`, `tbl`, `_malformed`), the
    * [[Parse.parse]] shape.
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .withColumn("_cdc",
        from_json(col("value").cast("string"), ParseSchema,
          Map("columnNameOfCorruptRecord" -> CorruptField)))
      .select(
        col("topic"), col("key"), col("value"),
        col("_cdc.op").as("op"),
        col("_cdc.source.db").as("db"),
        col("_cdc.source.table").as("tbl"),
        (col("_cdc").isNull || col(s"_cdc.$CorruptField").isNotNull)
          .as("_malformed"))
}
