package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc._

/** Driver-contract queries for the reference-parity CDC pipeline
  * (SURVEY.md §2 R1-R8), each with a DuckDB oracle over the same parquet.
  *
  * Every oracle starts from the shared envelope-synthesis CTE
  * ([[Envelopes.duckdbCte]]) so both engines derive their input from
  * `events.parquet` with identical expressions.
  */
object CdcQueries {

  private val rules = Routing.DefaultRules

  /** Malformed envelopes injected to exercise permissive-mode parsing
    * (reference panics instead — deliberate divergence, SURVEY.md §7.6.5).
    * Includes valid-JSON-but-not-an-object rows (`[1,2]`, `42`) and a valid
    * object lacking the declared fields (`{"x":1}`) so the Spark
    * corrupt-record predicate and the oracle's
    * `json_valid AND json_type = 'OBJECT'` are exercised on every branch.
    *
    * The second block stresses the native decoder's RFC 8259 strictness
    * with DuckDB as the adjudicator (the oracle rebuilds these same rows,
    * so `json_valid`'s verdict gates each one every round): leading-zero
    * numbers, trailing garbage, single-quoted strings — all invalid —
    * against whitespace-padded, escape-bearing, bare-NaN (a non-standard
    * literal both DuckDB and the native kernel accept), non-object-
    * `source`, and empty-object rows that must stay VALID.
    */
  private val badRows = Seq(
    ("flink-1", "bad-1", "{not json"),
    ("flink-2", "bad-2", ""),
    ("flink-1", "bad-3", "[1,2"),
    ("flink-2", "bad-4", "[1,2]"),
    ("flink-1", "bad-5", "42"),
    ("flink-2", "bad-6", "{\"x\":1}"),
    ("flink-1", "bad-7", "{\"op\":01}"),          // leading zero: invalid
    ("flink-2", "bad-8", "{\"op\":NaN}"),         // non-standard literal: VALID (DuckDB/Jackson laxness)
    ("flink-1", "bad-9", "{\"op\":\"x\"}junk"),   // trailing garbage: invalid
    ("flink-2", "bad-10", "{'op':'x'}"),          // single quotes: invalid
    ("flink-1", "bad-11", "{\"op\":1.}"),         // bare fraction dot: invalid
    ("flink-2", "bad-12", "  {\"a\":1}  "),       // padded object: VALID
    ("flink-1", "bad-13", "{\"op\":\"\\u0041\"}"), // unicode escape: VALID
    ("flink-2", "bad-14", "{\"source\":5}"),      // non-object source: VALID object
    ("flink-1", "bad-15", "{}"))                  // empty object: VALID

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R2: projection-only decode of op/source.db/source.table.
    "cdc_parse" -> ((s, dir) =>
      Parse.parse(Envelopes.fromEvents(s, dir))
        .select("topic", "key", "op", "db", "tbl")),

    // E298: schema-drift watchdog — the Debezium-lane evolution audit:
    // per (db, table), each DISTINCT sorted after-payload key set with
    // its record count, first-seen key id, and the table's version
    // count (n_versions > 1 = the schema changed mid-stream — the
    // signal a downstream MERGE/materialization job must see before
    // it silently drops a new column). The fixture stream is
    // schema-stable by construction, so drift is PLANTED (the E285
    // convention): records with key ≡ 0 (mod 13) gain a promo_cents
    // field — a broken keyset extraction cannot hide behind a
    // drift-free stream. Scale: keyset extraction is scan-side; the
    // aggregate is (tables × versions)-sized.
    "cdc_schema_drift" -> ((s, dir) =>
      schemaDriftParsed(s, dir)
        .groupBy("db", "tbl", "keyset")
        .agg(count(lit(1)).as("n_records"), min(col("kid")).as("first_id"))
        .withColumn("n_versions", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("db", "tbl")))),

    // R3: blocklist delete filter (op != 'd'; unknown ops pass).
    "cdc_filter_deletes" -> ((s, dir) =>
      Filter.dropDeletes(Parse.parse(Envelopes.fromEvents(s, dir)))
        .select("topic", "key", "op", "db", "tbl")),

    // R2 through the SQL surface: the same decode expressed in pure
    // spark.sql over the registered native cdc_envelope function
    // (upgrades the E77 function-registry claim from test-only to
    // oracle-checked — registry, SQL parsing, and the native kernel all
    // sit on the compared path; the oracle is cdc_parse's own).
    "cdc_parse_sql" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Envelopes.fromEvents(s, dir).createOrReplaceTempView("cdc_raw_sql")
      s.sql("""SELECT topic, key, e.op AS op, e.db AS db, e.tbl AS tbl
              |FROM (SELECT topic, key, cdc_envelope(value) AS e
              |      FROM cdc_raw_sql)""".stripMargin)
    }),

    // R2+R3+R4+R5: the full pipeline — parse, filter, ordered first-match
    // regex routing, silent drop on no-match, byte-identical passthrough.
    "cdc_route" -> ((s, dir) =>
      Pipeline.route(Envelopes.fromEvents(s, dir), rules)),

    // E315: the Debezium-over-AVRO input lane — the same envelopes
    // encoded in the Confluent wire format (magic ‖ schema id ‖ Avro
    // binary), REALLY decoded with the Avro runtime on executors, and
    // checked against cdc_parse's own oracle: DuckDB holds no Avro
    // codec, so the hash match proves the encode→decode round trip
    // recovered every field. The reference is JSON-only; this is the
    // second wire format a production Debezium consumer meets.
    "cdc_parse_avro" -> ((s, dir) =>
      ConfluentAvro.decode(ConfluentAvro.fromEvents(s, dir))
        .select("topic", "key", "op", "db", "tbl")),

    // E315: the Avro lane through the UNCHANGED R3+R4 tail — decode
    // swaps in for parse, then the identical delete-filter +
    // first-match route + silent drop runs (Pipeline.routeParsed).
    "cdc_route_avro" -> ((s, dir) =>
      Pipeline.routeParsed(
        ConfluentAvro.decode(ConfluentAvro.fromEvents(s, dir)),
        rules, keep = Seq("key", "op", "db", "tbl"))),

    // The typed Dataset facade over the same pipeline (upgrades the E64
    // typed-API claim from test-only to oracle-checked): RawRecord →
    // RoutedRecord encoders bracket the identical logical plan, and the
    // cdc_route oracle pins that the encoder boundary costs nothing
    // semantically.
    "cdc_route_typed" -> ((s, dir) => {
      import s.implicits._
      Pipeline.routeTyped(
        Envelopes.fromEvents(s, dir).as[CdcSchema.RawRecord]).toDF()
    }),

    // R2-R5 under a multi-partition source — the shape a real Kafka
    // source delivers (one task per topic-partition). Oracle-identical
    // output proves routing is partition-invariant: no operator in the
    // pipeline depends on row co-location or order. At this fixture
    // size the repartition overhead ≈ the compute it parallelizes
    // (cdc_route is already ~1.5× the reference's single-node msg/s on
    // ONE task), so this entry is a correctness witness, not a speedup;
    // at broker scale the same plan runs one task per Kafka partition
    // with no repartition at all.
    "cdc_route_par" -> ((s, dir) =>
      Pipeline.route(
        Envelopes.fromEvents(s, dir, s.sparkContext.defaultParallelism), rules)),

    // R6: consumed-event counter family by (topic, db, table, op).
    "cdc_events_by_label" -> ((s, dir) =>
      Pipeline.eventCounts(Envelopes.fromEvents(s, dir))),

    // R7: forwarded-event counter family by (target_topic, op).
    "cdc_forwarded_by_label" -> ((s, dir) =>
      Pipeline.forwardedCounts(Envelopes.fromEvents(s, dir), rules)),

    // Permissive-mode parse-error accounting (vs reference panic).
    "cdc_parse_errors" -> ((s, dir) => {
      import s.implicits._
      val raw = Envelopes.fromEvents(s, dir)
        .unionByName(badRows.toDF("topic", "key", "value"))
      Parse.parse(raw)
        .groupBy(col("topic"))
        .agg(
          count(when(!col("_malformed"), 1)).as("n_valid"),
          count(when(col("_malformed"), 1)).as("n_invalid"))
    }),

    // R6/R7/R9 observe() analogue of the reference's monotonic counters
    // (`mq/mod.rs:55-101`): shuffle-free totals accumulated inside the
    // forwarding pass itself, read back via `Observation` after the action —
    // the batch stand-in for the `/metrics` endpoint (`main.rs:44-55`).
    "cdc_observed_totals" -> ((s, dir) => {
      import s.implicits._
      val (consumed, forwarded) =
        Pipeline.routeObservedRun(Envelopes.fromEvents(s, dir), rules)
      Seq((consumed._1, consumed._2, forwarded))
        .toDF("events_total", "parse_errors", "forwarded_total")
    }),

    // R8: YAML-configured routing — rules loaded from a config.yaml-shaped
    // classpath fixture (Config.fromResource validates regexes fail-fast
    // like transform.rs:33), then routed and counted per target.
    "cdc_route_yaml" -> ((s, dir) =>
      Pipeline.route(Envelopes.fromEvents(s, dir), yamlRules)
        .groupBy("target_topic").agg(count(lit(1)).as("n"))),

    // Latest-state compaction — the materialization a CDC consumer
    // keeps (SCD-1 snapshot): one surviving row per entity
    // (latestState); an entity whose LATEST op is a delete tombstone
    // leaves the snapshot entirely.
    "cdc_compact" -> ((s, dir) =>
      latestState(labelledEvents(s, dir)).filter(col("op") =!= "d")),

    // CDC MERGE apply (E280): the Debezium→lakehouse materialization —
    // a base snapshot (latest state before the cutoff, tombstones
    // dropped) brought current by MERGE-applying the compacted
    // post-cutoff delta (latest op per entity; 'd' → delete flag)
    // through the E278 operator. The algebra under every incremental
    // table-materialization job: merge-of-compacts MUST equal the
    // full-stream compact — so the oracle IS cdc_compact's oracle,
    // and the hash match proves the incremental path loses nothing.
    // At scale only the delta is re-scanned; the snapshot is
    // yesterday's table.
    "cdc_merge_apply" -> ((s, dir) => {
      val ev = labelledEvents(s, dir)
      val cutoff = lit("2024-01-25").cast("timestamp")
      val target = latestState(ev.filter(col("ts") < cutoff))
        .filter(col("op") =!= "d")
      val delta = latestState(ev.filter(col("ts") >= cutoff))
        .withColumn("is_delete", col("op") === "d")
      // E314: the materialization lands through the transactional
      // table (base snapshot = version 0, merged = version 1), so a
      // crash mid-apply can never expose mixed state to a reader
      val tbl = Materialize.once("txcdcapply", dir) { p =>
        graft.operators.TxTable.commit(target, p)
        graft.operators.TxTable.commit(
          graft.operators.MergeInto(target, delta, "user_id",
            "is_delete"), p)
      }
      graft.operators.TxTable.snapshot(s, tbl)
    }),

    // Snapshot diff / reconciliation (E113): the same change stream
    // compacted to latest-state views at two cutoffs, FULL OUTER joined
    // on the entity key → added / removed / changed rows; identical
    // rows (the overwhelming majority on a real lakehouse table) drop
    // out, so the diff's output — and everything downstream of it —
    // scales with the CHANGE VOLUME, not the table. Each snapshot is
    // the cdc_compact aggregate (partial-aggregatable struct-max, one
    // candidate row per entity per partition on the shuffle); "removed"
    // means a delete tombstone became the entity's latest event between
    // the cutoffs. This is the table-diff primitive behind incremental
    // reconciliation and audit between snapshot versions.
    "cdc_snapshot_diff" -> ((s, dir) => {
      def snap(cutoff: String, prefix: String) =
        latestState(labelledEvents(s, dir)
            .filter(col("ts") < lit(cutoff).cast("timestamp")))
          .filter(col("op") =!= "d")
          .select(col("user_id"),
            col("event_id").as(s"${prefix}_event_id"),
            col("value_cents").as(s"${prefix}_value_cents"))
      snap("2024-01-15", "old")
        .join(snap("2024-01-30", "new"), Seq("user_id"), "full_outer")
        .withColumn("change",
          when(col("old_event_id").isNull, "added")
            .when(col("new_event_id").isNull, "removed")
            .otherwise("changed"))
        .filter(col("old_event_id").isNull || col("new_event_id").isNull ||
          col("old_event_id") =!= col("new_event_id"))
    }),

    // SCD2 history build (extension E86): the change stream per key
    // becomes validity intervals — each non-delete version is effective
    // from its own timestamp until the NEXT change of any kind (a
    // delete closes the open interval without opening a new one), and
    // the last open interval is current. One shuffle on the key serves
    // the lead() window; (ts, event_id) tie-break keeps interval edges
    // deterministic. This is the warehouse-side complement of
    // cdc_compact's latest-state view: same input, full history.
    "cdc_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      labelledEvents(s, dir)
        .withColumn("effective_to", lead(col("ts"), 1).over(w))
        .filter(col("op") =!= "d")
        .select(col("user_id"), col("event_id"), col("op"),
          col("value_cents"), col("ts").as("effective_from"),
          col("effective_to"),
          col("effective_to").isNull.as("is_current"))
    }),

    // Point-in-time temporal join (E117): each probe event is joined to
    // the ENTITY VERSION that was in effect at its timestamp — the
    // feature-store correctness join (training features must reflect
    // state as-of the label's time, never a later version: the standard
    // leakage bug). Versions come from the same stream's SCD2 build;
    // the join is an equi-join on the entity key with the interval
    // containment as a residual (from ≤ ts < to, open interval closed
    // by the next change), so per-key fan-out is the entity's version
    // count, never the corpus — a high-churn key would move to E27's
    // time-bucket replication, plumbing unchanged. Probes that land in
    // a tombstone gap (entity deleted, not yet recreated) match no
    // version and drop out.
    "cdc_temporal_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val versions = labelledEvents(s, dir)
        .withColumn("effective_to", lead(col("ts"), 1).over(w))
        .filter(col("op") =!= "d")
        .select(col("user_id").as("v_user"),
          col("event_id").as("version_event"),
          col("value_cents").as("version_value_cents"),
          col("ts").as("effective_from"), col("effective_to"))
      val probes = graft.Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").as("ts"))
      probes.join(versions,
          col("user_id") === col("v_user") &&
            col("ts") >= col("effective_from") &&
            (col("effective_to").isNull || col("ts") < col("effective_to")))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("version_event"), col("version_value_cents"))
    }))

  /** The event stream labelled as CDC changes — (user_id, ts, event_id,
    * op, value_cents), op by [[Envelopes.opExpr]] — the input of every
    * change-stream row (compact, merge-apply, snapshot diff, SCD2,
    * temporal join).
    */
  private def labelledEvents(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir).select(
      col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      col("event_id"),
      Envelopes.opExpr(col("event_type")).as("op"),
      floor(col("value") * 100).cast("long").as("value_cents"))

  /** Latest state per entity of labelled events: argmax over
    * (ts, event_id) as ONE partial-aggregatable struct-max (no window,
    * no per-key sort — map-side combine means the shuffle carries one
    * candidate row per entity per partition). Delete tombstones are
    * kept; each caller decides what a latest `d` means.
    */
  private def latestState(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("op"),
        col("value_cents"))).as("last"))
      .select(col("user_id"), col("last.ts").as("ts"),
        col("last.event_id").as("event_id"), col("last.op").as("op"),
        col("last.value_cents").as("value_cents"))

  /** Rules from the YAML fixture (R8). Loaded once; both the Spark query
    * and its oracle derive from this single parse.
    */
  lazy val yamlRules: Seq[Routing.TransformRule] =
    Config.fromResource("/graft/rules.yaml").rules

  private val cte = Envelopes.duckdbCte
  private val parsedCte =
    s"""WITH cdc AS ($cte),
       |parsed AS (
       |  SELECT topic, key, value,
       |         json_extract_string(value, '$$.op') AS op,
       |         json_extract_string(value, '$$.source.db') AS db,
       |         json_extract_string(value, '$$.source.table') AS tbl
       |  FROM cdc)""".stripMargin
  private val routeCase = Routing.duckdbCase(rules, "topic", "db", "tbl")
  // SQL-quote the planted values (single quotes doubled): rows like
  // {'op':'x'} carry quotes that would otherwise break the VALUES list.
  private def sqq(s: String) = s.replace("'", "''")
  private val badValues = badRows
    .map { case (t, k, v) => s"('${sqq(t)}','${sqq(k)}','${sqq(v)}')" }
    .mkString(", ")

  /** Full-stream latest-state compaction — shared by cdc_compact and
    * the E280 merge-apply row (merge-of-compacts == full compact is
    * the claim the shared oracle checks).
    */
  private val cdcCompactSql: String =
    """WITH labeled AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
      |                         WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |         CAST(floor(value * 100) AS BIGINT) AS value_cents
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                                   ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM labeled)
      |SELECT user_id, ts, event_id, op, value_cents
      |FROM r WHERE rn = 1 AND op <> 'd'""".stripMargin

  /** E298/E303 shared extraction: planted drift + per-record
    * (kid, db, tbl, keyset) rows — the batch audit aggregates these;
    * the streaming watchdog (DriftStreamSpec) consumes them as its
    * contract feed, so batch and stream read one truth.
    */
  def schemaDriftParsed(s: SparkSession, dir: String): DataFrame = {
    val env = Envelopes.fromEvents(s, dir)
    val drifted = env.withColumn("value",
      when(col("key").cast("long") % 13 === 0,
        expr("replace(value, '{\"id\":', '{\"promo_cents\":0,\"id\":')"))
        .otherwise(col("value")))
    drifted.select(col("key").cast("long").as("kid"),
      get_json_object(col("value"), "$.source.db").as("db"),
      get_json_object(col("value"), "$.source.table").as("tbl"),
      concat_ws(",", array_sort(
        expr("json_object_keys(get_json_object(value, '$.after'))")))
        .as("keyset"))
  }

  val oracles: Map[String, String] = Map(
    "cdc_parse" ->
      s"$parsedCte SELECT topic, key, op, db, tbl FROM parsed",

    // E298: the same planted drift + sorted json_keys census.
    "cdc_schema_drift" ->
      s"""WITH ev AS (${Envelopes.duckdbCte}),
         |drift AS (SELECT key,
         |    CASE WHEN CAST(key AS BIGINT) % 13 = 0
         |         THEN replace(value, '{"id":', '{"promo_cents":0,"id":')
         |         ELSE value END AS value
         |  FROM ev),
         |p AS (SELECT CAST(key AS BIGINT) AS kid,
         |             json_extract_string(value, '$$.source.db') AS db,
         |             json_extract_string(value, '$$.source.table') AS tbl,
         |             array_to_string(list_sort(
         |               json_keys(value, '$$.after')), ',') AS keyset
         |      FROM drift),
         |g AS (SELECT db, tbl, keyset, CAST(count(*) AS BIGINT) AS n_records,
         |             min(kid) AS first_id
         |      FROM p GROUP BY db, tbl, keyset)
         |SELECT db, tbl, keyset, n_records, first_id,
         |       CAST(count(*) OVER (PARTITION BY db, tbl) AS BIGINT)
         |         AS n_versions
         |FROM g""".stripMargin,

    "cdc_filter_deletes" ->
      s"$parsedCte SELECT topic, key, op, db, tbl FROM parsed WHERE op <> 'd'",

    "cdc_parse_sql" ->
      s"$parsedCte SELECT topic, key, op, db, tbl FROM parsed",

    "cdc_route" ->
      s"""$parsedCte
         |SELECT $routeCase AS target_topic, key, value
         |FROM parsed WHERE op <> 'd' AND ($routeCase) IS NOT NULL""".stripMargin,

    // E315: same truth as cdc_parse — one fixture, two wire formats.
    "cdc_parse_avro" ->
      s"$parsedCte SELECT topic, key, op, db, tbl FROM parsed",

    // E315: the routed Avro lane, minus the binary passthrough column
    // (DuckDB holds no Avro codec to rebuild the bytes; the JSON lane
    // already hash-pins byte passthrough via cdc_route).
    "cdc_route_avro" ->
      s"""$parsedCte
         |SELECT $routeCase AS target_topic, key, op, db, tbl
         |FROM parsed WHERE op <> 'd' AND ($routeCase) IS NOT NULL""".stripMargin,

    "cdc_route_par" ->
      s"""$parsedCte
         |SELECT $routeCase AS target_topic, key, value
         |FROM parsed WHERE op <> 'd' AND ($routeCase) IS NOT NULL""".stripMargin,

    "cdc_route_typed" ->
      s"""$parsedCte
         |SELECT $routeCase AS target_topic, key, value
         |FROM parsed WHERE op <> 'd' AND ($routeCase) IS NOT NULL""".stripMargin,

    "cdc_events_by_label" ->
      s"""$parsedCte
         |SELECT topic, db, tbl, op, count(*) AS n
         |FROM parsed GROUP BY topic, db, tbl, op""".stripMargin,

    "cdc_forwarded_by_label" ->
      s"""$parsedCte
         |SELECT $routeCase AS target_topic, op, count(*) AS n
         |FROM parsed WHERE op <> 'd' AND ($routeCase) IS NOT NULL
         |GROUP BY 1, op""".stripMargin,

    "cdc_parse_errors" ->
      s"""WITH cdc AS ($cte),
         |all_rows AS (
         |  SELECT topic, key, value FROM cdc
         |  UNION ALL
         |  SELECT * FROM (VALUES $badValues) t(topic, key, value)),
         |flagged AS (
         |  SELECT topic,
         |         (CASE WHEN json_valid(value)
         |               THEN json_type(value) = 'OBJECT' ELSE false END) AS ok
         |  FROM all_rows)
         |SELECT topic,
         |       count(CASE WHEN ok THEN 1 END) AS n_valid,
         |       count(CASE WHEN NOT ok THEN 1 END) AS n_invalid
         |FROM flagged GROUP BY topic""".stripMargin,

    "cdc_observed_totals" ->
      s"""$parsedCte
         |SELECT count(*) AS events_total,
         |       count(CASE WHEN NOT (CASE WHEN json_valid(value)
         |                            THEN json_type(value) = 'OBJECT'
         |                            ELSE false END)
         |                  THEN 1 END) AS parse_errors,
         |       count(CASE WHEN op <> 'd' AND ($routeCase) IS NOT NULL
         |                  THEN 1 END) AS forwarded_total
         |FROM parsed""".stripMargin,

    "cdc_route_yaml" -> {
      val yamlCase = Routing.duckdbCase(yamlRules, "topic", "db", "tbl")
      s"""$parsedCte
         |SELECT $yamlCase AS target_topic, count(*) AS n
         |FROM parsed WHERE op <> 'd' AND ($yamlCase) IS NOT NULL
         |GROUP BY 1""".stripMargin
    },

    "cdc_compact" -> cdcCompactSql,

    // E280: the SAME truth — merge-of-compacts must equal the
    // full-stream compact.
    "cdc_merge_apply" -> cdcCompactSql,

    "cdc_snapshot_diff" ->
      """WITH labeled AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |                         WHEN 'error' THEN 'd' ELSE 'u' END AS op,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |s1 AS (SELECT user_id, event_id, value_cents FROM (
        |         SELECT *, row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY ts DESC, event_id DESC) AS rn
        |         FROM labeled WHERE ts < TIMESTAMP '2024-01-15')
        |       WHERE rn = 1 AND op <> 'd'),
        |s2 AS (SELECT user_id, event_id, value_cents FROM (
        |         SELECT *, row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY ts DESC, event_id DESC) AS rn
        |         FROM labeled WHERE ts < TIMESTAMP '2024-01-30')
        |       WHERE rn = 1 AND op <> 'd')
        |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
        |       CASE WHEN s1.user_id IS NULL THEN 'added'
        |            WHEN s2.user_id IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change,
        |       s1.event_id AS old_event_id, s2.event_id AS new_event_id,
        |       s1.value_cents AS old_value_cents, s2.value_cents AS new_value_cents
        |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.user_id IS NULL OR s2.user_id IS NULL
        |   OR s1.event_id <> s2.event_id""".stripMargin,

    "cdc_scd2" ->
      """WITH labeled AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |                         WHEN 'error' THEN 'd' ELSE 'u' END AS op,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |iv AS (
        |  SELECT *, lead(ts, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS effective_to
        |  FROM labeled)
        |SELECT user_id, event_id, op, value_cents,
        |       ts AS effective_from, effective_to,
        |       effective_to IS NULL AS is_current
        |FROM iv WHERE op <> 'd'""".stripMargin,

    "cdc_temporal_join" ->
      """WITH labeled AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'purchase' THEN 'u'
        |                         WHEN 'error' THEN 'd' ELSE 'u' END AS op,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents
        |  FROM events),
        |iv AS (
        |  SELECT *, lead(ts, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS effective_to
        |  FROM labeled),
        |v AS (SELECT user_id, event_id AS version_event,
        |             value_cents AS version_value_cents,
        |             ts AS effective_from, effective_to
        |      FROM iv WHERE op <> 'd'),
        |p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts,
        |       v.version_event, v.version_value_cents
        |FROM p JOIN v ON p.user_id = v.user_id
        |             AND p.ts >= v.effective_from
        |             AND (v.effective_to IS NULL OR p.ts < v.effective_to)""".stripMargin)
}
