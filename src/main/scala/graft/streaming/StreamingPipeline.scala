package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.cdc.{Pipeline, Routing}

/** Structured Streaming composition of the engine (SURVEY.md §7.3 step
  * 5 + §7.4 streaming extensions).
  *
  * The CDC forwarding path is *stateless*, so the batch and streaming
  * plans share every operator: [[graft.cdc.Pipeline.route]] applies to
  * a streaming (topic, key, value) frame as it is — append mode, no
  * watermark — and [[routeObserved]] adds the live counters; the
  * MemoryStream parity suite asserts batch and streaming produce
  * identical rows on identical input. Windowed aggregations add
  * watermarked event-time state; [[dedupStream]] shows keyed arbitrary
  * state (`flatMapGroupsWithState`) doing streaming exact-dedup, the
  * streaming tier of [[graft.ext.Dedup]].
  */
object StreamingPipeline {

  /** Tumbling event-time counts with a watermark bounding state: the
    * streaming form of WindowQueries.events_window_tumbling. Late rows
    * beyond `lateness` are dropped deterministically by the watermark.
    */
  def tumblingCounts(events: DataFrame, size: String, lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Session windows per user under a watermark — streaming twin of
    * WindowQueries.events_session.
    */
  def sessionCounts(events: DataFrame, gap: String, lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** The routed stream with `observe()` counters attached — the
    * streaming analogue of the reference's Prometheus families and
    * `/metrics` endpoint (`mq/mod.rs:55-101`, `main.rs:44-55`):
    * `cdc_consumed.events_total` / `.parse_errors` accumulate
    * pre-filter (like `flink_cdc_event_count`), and
    * `cdc_forwarded.forwarded_total` post-route (like
    * `flink_kafka_filter_transform_count`). Metrics surface per
    * micro-batch via [[CounterListener]] — shuffle-free, computed
    * inside the forwarding pass itself.
    */
  def routeObserved(stream: DataFrame,
                    rules: Seq[Routing.TransformRule] = Routing.DefaultRules): DataFrame =
    Pipeline.routeInstrumented(stream, rules)(
      _.observe("cdc_consumed",
        Pipeline.consumedMetrics.head, Pipeline.consumedMetrics.tail: _*),
      _.observe("cdc_forwarded",
        Pipeline.forwardedMetrics.head, Pipeline.forwardedMetrics.tail: _*))

  /** Accumulates every observed metric across micro-batches as
    * monotonic totals keyed `<observation>.<column>` — the live
    * counter registry a `/metrics` scrape would read. Register with
    * `spark.streams.addListener`.
    */
  class CounterListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val counters = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def totals: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      counters.forEach((k, v) => b += (k -> v))
      b.result()
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      e.progress.observedMetrics.forEach { (name, row) =>
        row.schema.fieldNames.foreach { f =>
          row.getAs[Any](f) match {
            case n: Number =>
              counters.merge(s"$name.$f", n.longValue(), (a, b) => a + b)
            case _ => ()
          }
        }
      }
  }

  /** Stream-stream interval join: pair each left event with right
    * events of the same key whose time falls in
    * [left.ts − maxDelay, left.ts]. Both sides carry a watermark equal
    * to the join bound, which lets the state store evict rows older
    * than the watermark − maxDelay — without it a stream-stream join
    * buffers forever. Batch twin: the same `join` call with the same
    * condition (tested for parity in StreamingSpec).
    *
    * Column contract: `left` has (key, lts, ...), `right` has
    * (key, rts, ...) with otherwise disjoint column names.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, maxDelay)
    val r = right.withWatermark(rightTs, maxDelay).withColumnRenamed(keyCol, s"_r_$keyCol")
    l.join(r,
      col(keyCol) === col(s"_r_$keyCol") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxDelay") &&
        col(rightTs) <= col(leftTs))
      .drop(s"_r_$keyCol")
  }

  /** Deterministic batch twin of Spark's streaming
    * `withWatermark(ts, lateness).dropDuplicatesWithinWatermark(keys)`
    * (which keeps the first row per key and evicts a key's state once
    * the watermark passes its event time + lateness): finalized-
    * horizon dedup — the earliest row (ties broken by `tieCol`) per key
    * within each epoch-aligned tumbling `horizon` bucket survives.
    *
    * The streaming operator's contract is arrival-order-dependent at
    * the margins (duplicates farther apart than the lateness may both
    * survive, depending on watermark progress); a batch twin needs a
    * canonical, input-determined rule, and horizon bucketing is the
    * finalized outcome: every kept pair of same-key rows is in distinct
    * buckets. StreamingSpec asserts stream ≡ twin on inputs whose
    * duplicates don't straddle a bucket boundary; the oracle checks the
    * twin exactly. Shape: `min_by` aggregation on (keys, bucket), not a
    * `row_number` window — the aggregate combines map-side, so only one
    * candidate row per group per task crosses the shuffle; a window
    * formulation would shuffle and sort every input row. At 100 TB this
    * is the standard "first event per user per window" reduction.
    */
  def horizonDedupBatch(df: DataFrame, keys: Seq[String], tsCol: String,
                        horizon: String, tieCol: String): DataFrame = {
    val bucket = window(col(tsCol), horizon).getField("start")
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col) :+ bucket.as("__bucket"): _*)
      .agg(min_by(payload, struct(col(tsCol), col(tieCol))).as("__first"))
      .select(df.columns.map(c => col(s"__first.$c")): _*)
  }

  /** Idempotent `foreachBatch` parquet sink: each micro-batch writes a
    * `batch_id=<id>` partition with DYNAMIC partition overwrite, so a
    * replayed batch (restart from checkpoint after a failure between
    * sink write and offset commit) REWRITES its own partition instead
    * of appending duplicates — Structured Streaming's at-least-once
    * batch delivery becomes exactly-once table state, keyed by the
    * engine's deterministic batch ids. This is the file-sink analogue
    * of the transactional Kafka producer the gated R5 adapter would
    * pair with; StreamingSpec replays a batch and pins that the table
    * is byte-identical. Only the replayed batch's partition is
    * touched — other partitions are never rewritten, so the pattern
    * costs one directory swap per batch at any table size.
    */
  def idempotentBatchWriter(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // Overwrite mode is scoped to THIS write via the per-writer option
      // (not a session-conf swap): two concurrent writers on one session
      // must not observe each other's overwrite semantics — a swapped
      // global conf could silently run a concurrent static-mode
      // overwrite in dynamic mode or clobber a concurrent change on
      // restore (ADVICE r04).
      batch.withColumn("batch_id", lit(batchId))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("batch_id").parquet(path)
    }

  /** Streaming ANN-index maintenance (E272): a `foreachBatch` sink
    * that appends each micro-batch of new vectors to a persisted
    * [[graft.ext.AnnIndex]] — the streaming face of the E262
    * incremental-append path. Idempotence needs no side ledger: the
    * index's OWN id set is the ledger. A batch whose ids are all
    * already indexed is a replay (at-least-once delivery after a
    * crash between append and offset commit) and is skipped; all-new
    * ids append; a PARTIAL overlap means a torn previous append —
    * impossible under append's manifest-last protocol — and refuses
    * loudly rather than guessing. At-least-once delivery becomes
    * exactly-once index state.
    */
  def indexAppendSink(indexDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      val ids = batch.select(col("id")).localCheckpoint(false)
      val nb = ids.count()
      if (nb > 0) {
        val present = ids.join(
          graft.ext.AnnIndex.load(spark, indexDir).codes.select(col("id")),
          "id").count()
        if (present == 0)
          graft.ext.AnnIndex.append(
            batch.select(col("id"), col("vec")), indexDir)
        else require(present == nb,
          s"batch overlaps the index on $present of $nb ids — torn " +
            "append state; refusing rather than double-writing")
      }
    }

  /** Streaming exact-dedup with keyed state: emit a key's record the
    * first time the key is seen, suppress replays. State per key is one
    * boolean. This is the streaming tier of exact dedup: at 100 TB/day
    * the key is a content hash ([[graft.ext.TextOps.fingerprint]]) and
    * state lives in the checkpointed state store, sharded by key.
    *
    * `stateTtl` bounds state in production (keys expire after the TTL,
    * so a replay beyond it re-emits — the usual dedup-horizon
    * trade-off). The default is NoTimeout: a registered
    * processing-time timer makes the engine schedule timer-check
    * micro-batches forever, which is right for a 24/7 service but makes
    * drain-and-assert tests (`processAllAvailable`) never settle.
    */
  def dedupStream(spark: SparkSession, keyed: Dataset[(String, String)],
                  stateTtl: Option[String] = None): Dataset[(String, String)] = {
    import spark.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String)](OutputMode.Append, timeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty
          else {
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            rows.take(1)
          }
      }
  }

  /** Per-key running totals on Spark 4's `transformWithState` — the
    * modern arbitrary-state API succeeding `flatMapGroupsWithState`
    * (which [[dedupStream]] keeps as the legacy tier): named, typed
    * state variables (two `ValueState[Long]`s here) instead of one
    * opaque state object, per-variable TTL, and a timer surface. Each
    * micro-batch emits the key's updated lifetime (count, cents total).
    * Requires the RocksDB state store provider (Spark's own constraint
    * on this operator — `StreamingSpec` sets it for the test query);
    * state per key is two longs regardless of traffic, the
    * 100 TB/day-proof shape.
    */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var count: ValueState[Long] = _
    @transient private var cents: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
      cents = getHandle.getValueState[Long]("cents", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var c = if (count.exists()) count.get() else 0L
      var t = if (cents.exists()) cents.get() else 0L
      rows.foreach { case (_, v) => c += 1; t += v }
      count.update(c)
      cents.update(t)
      Iterator((key, c, t))
    }
  }

  /** `transformWithState` wiring for [[RunningTotalProcessor]] over a
    * streaming (key, cents) Dataset.
    */
  def runningTotals(spark: SparkSession,
                    keyed: Dataset[(Long, Long)]): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    keyed.groupByKey(_._1)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming twin of the batch `events_rate_spikes` query (E178 →
    * E182): per-key hourly rate-spike detection over a trailing ring
    * of the last [[SpikeDetectProcessor.windowHours]] CLOSED hourly
    * counts. The contract is "finalized hourly counts arrive per key
    * in hour order" (i.e. downstream of a watermarked tumbling-count
    * aggregation); the processor then
    *  - gap-fills missing hours as ZERO observations, like the batch
    *    twin's calendar spine (skipping them would bias the baseline
    *    up and mask post-outage spikes). One stated divergence: the
    *    stream's spine starts at each KEY's first observed hour (a
    *    processor cannot know a global corpus min before seeing data),
    *    while the batch spine backfills zeros from the GLOBAL min hour
    *    for every type — so a type that starts late can be flagged by
    *    batch on an all-zero baseline where the stream is still in
    *    warmup. Parity is therefore exact only once a key's ring has
    *    filled (StreamingSpec restricts its pin to that overlap);
    *    callers needing global-spine semantics can seed every key with
    *    a synthetic zero at pipeline start hour before the processor.
    *  - applies the same all-integer z>3 test
    *    (d = W·n − S; flag ⇔ full ∧ d > 0 ∧ d² > 9·(W·Q − S²)) so the
    *    streaming and batch verdicts are bit-comparable, and
    *  - bounds pathological hour-jumps: past `maxGapEmit` missing
    *    hours the ring is all-zero anyway, so only the trailing span
    *    emits (state stays O(windowHours) regardless).
    * State per key: ≤ windowHours longs + one watermark-hour long —
    * constant, traffic-independent, the 100 TB/day-proof shape. A
    * late hour (≤ last processed) is dropped: finalized windows
    * cannot legitimately reopen past the watermark.
    */
  class SpikeDetectProcessor(windowHours: Int = 24, maxGapEmit: Int = 168)
      extends StatefulProcessor[String, (String, Long, Long),
        (String, Long, Long, Long, Boolean)] {
    @transient private var ring: ListState[Long] = _
    @transient private var lastHour: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ring = getHandle.getListState[Long]("ring", Encoders.scalaLong, TTLConfig.NONE)
      lastHour = getHandle.getValueState[Long]("lastHour", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long)],
        timers: TimerValues): Iterator[(String, Long, Long, Long, Boolean)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      ring.get().foreach(buf += _)
      var last = if (lastHour.exists()) lastHour.get() else Long.MinValue
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, Boolean)]

      def step(h: Long, n: Long): Unit = {
        val s = buf.sum
        val q = buf.map(x => x * x).sum
        val d = windowHours * n - s
        val flag = buf.size == windowHours && d > 0 &&
          d * d > 9 * (windowHours * q - s * s)
        out += ((key, h, n, s, flag))
        buf += n
        if (buf.size > windowHours) buf.remove(0)
        last = h
      }

      rows.toArray.sortBy(_._2).foreach { case (_, h, n) =>
        if (last == Long.MinValue) step(h, n)
        else if (h > last) {
          var g = last + 3600L
          if ((h - last) / 3600L - 1L > maxGapEmit) {
            g = h - maxGapEmit * 3600L
            buf.clear() // the ring is provably all-zero by this point
          }
          while (g < h) { step(g, 0L); g += 3600L }
          step(h, n)
        }
      }
      ring.put(buf.toArray)
      if (last != Long.MinValue) lastHour.update(last)
      out.iterator
    }
  }

  /** `transformWithState` wiring for [[SpikeDetectProcessor]] over a
    * streaming (event_type, hourEpochSec, count) Dataset of finalized
    * hourly counts.
    */
  def rateSpikes(spark: SparkSession,
                 hourly: Dataset[(String, Long, Long)])
      : Dataset[(String, Long, Long, Long, Boolean)] = {
    import spark.implicits._
    hourly.groupByKey(_._1)
      .transformWithState(new SpikeDetectProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming face of the batch CEP row `events_pattern_match`
    * (E288 → E290): the skip-till-next-match NFA
    * view → click → purchase (within `windowUs`, no error in between)
    * as a `transformWithState` processor keyed by user. Contract
    * input: events arrive per user in (tus, event_id) order (the same
    * finalized-order contract as [[SpikeDetectProcessor]]); a row not
    * strictly after the last processed (tus, event_id) is dropped —
    * finalized order cannot legitimately reopen.
    *
    * State per user is the OPEN PARTIAL MATCHES only:
    *  - stage-1 anchors (view_id, view_tus) awaiting their first
    *    later click,
    *  - stage-2 partials (view_id, view_tus, click_id) awaiting the
    *    first later purchase,
    * and every arriving event first prunes anchors older than
    * `windowUs` (they can no longer complete in time), so state is
    * bounded by the anchors inside one window — constant under
    * steady traffic, never history-sized. A click arms EVERY open
    * stage-1 anchor (it is the earliest later click for each); a
    * purchase completes every stage-2 partial (it is the earliest
    * later purchase for each; the window re-check is belt and
    * braces); an error kills all partials (it would sit between view
    * and purchase of any future completion). StreamingSpec pins the
    * processor row-identical to the batch gate row over the fixture
    * and on planted kill/prune/out-of-order cases.
    */
  class PatternMatchProcessor(windowUs: Long)
      extends StatefulProcessor[Long, (Long, Long, String, Long),
        (Long, Long, Long, Long, Long, Long)] {
    @transient private var s1: ListState[(Long, Long)] = _
    @transient private var s2: ListState[(Long, Long, Long)] = _
    @transient private var last: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      s1 = getHandle.getListState[(Long, Long)]("stage1",
        ExpressionEncoder[(Long, Long)](), TTLConfig.NONE)
      s2 = getHandle.getListState[(Long, Long, Long)]("stage2",
        ExpressionEncoder[(Long, Long, Long)](), TTLConfig.NONE)
      last = getHandle.getValueState[(Long, Long)]("last",
        ExpressionEncoder[(Long, Long)](), TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, String, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long, Long, Long)] = {
      val views = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val armed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      s1.get().foreach(views += _)
      s2.get().foreach(armed += _)
      var (lt, li) =
        if (last.exists()) last.get() else (Long.MinValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Long)]
      rows.toArray.sortBy(r => (r._4, r._2)).foreach { case (u, eid, typ, tus) =>
        if (tus > lt || (tus == lt && eid > li)) {
          views.filterInPlace(v => tus - v._2 <= windowUs)
          armed.filterInPlace(a => tus - a._2 <= windowUs)
          typ match {
            case "view" => views += ((eid, tus))
            case "click" =>
              armed ++= views.map(v => (v._1, v._2, eid))
              views.clear()
            case "purchase" =>
              armed.foreach { case (vid, vtus, cid) =>
                if (tus - vtus <= windowUs)
                  out += ((u, vid, cid, eid, vtus, tus))
              }
              armed.clear()
            case "error" =>
              views.clear()
              armed.clear()
            case _ => () // bystander event types carry no NFA transition
          }
          lt = tus
          li = eid
        }
      }
      // ListState refuses empty puts (ILLEGAL_STATE_STORE_VALUE) —
      // an emptied stage clears instead.
      if (views.isEmpty) s1.clear() else s1.put(views.toArray)
      if (armed.isEmpty) s2.clear() else s2.put(armed.toArray)
      last.update((lt, li))
      out.iterator
    }
  }

  /** `transformWithState` wiring for [[PatternMatchProcessor]] over a
    * streaming (user_id, event_id, event_type, tus) Dataset.
    */
  def patternMatches(spark: SparkSession,
      events: Dataset[(Long, Long, String, Long)], windowUs: Long)
      : Dataset[(Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    events.groupByKey(_._1)
      .transformWithState(new PatternMatchProcessor(windowUs),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming face of the batch schema-drift audit
    * (`cdc_schema_drift`, E298 → E303): a `transformWithState`
    * watchdog keyed by (db, table) that emits a row the FIRST time a
    * key set appears on its table — the alert a CDC operator wants
    * the moment a producer deploys a schema change, not at the next
    * batch audit. State per table is the set of distinct key sets
    * seen — bounded by schema versions (single digits in any real
    * deployment), never by traffic. Input contract: (table key,
    * record id, sorted key-set string) in record-id order per key
    * (the finalized-order contract of the other processors); within
    * a batch rows are sorted by id so the emitted first-sighting id
    * is deterministic. PatternStreamSpec's sibling DriftStreamSpec
    * pins the stream row-identical to the batch audit's
    * first-sighting rows.
    */
  class SchemaDriftProcessor
      extends StatefulProcessor[String, (String, Long, String),
        (String, Long, String)] {
    @transient private var seen: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[String]("seen", Encoders.STRING,
        TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String)],
        timers: TimerValues): Iterator[(String, Long, String)] = {
      val known = scala.collection.mutable.LinkedHashSet.empty[String]
      seen.get().foreach(known += _)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, String)]
      rows.toArray.sortBy(_._2).foreach { case (_, kid, ks) =>
        if (!known.contains(ks)) {
          known += ks
          out += ((key, kid, ks))
        }
      }
      if (known.nonEmpty) seen.put(known.toArray)
      out.iterator
    }
  }

  /** `transformWithState` wiring for [[SchemaDriftProcessor]] over a
    * streaming (table_key, record_id, keyset) Dataset.
    */
  def schemaDrift(spark: SparkSession,
      records: Dataset[(String, Long, String)])
      : Dataset[(String, Long, String)] = {
    import spark.implicits._
    records.groupByKey(_._1)
      .transformWithState(new SchemaDriftProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming Holt forecaster (E308) — the streaming face of the
    * E305 fold: a `transformWithState` processor keyed by series that
    * consumes finalized daily counts in day order, gap-fills missing
    * days as ZERO observations (the batch spine's zero fill — a
    * skipped day would silently bias level and trend), and for every
    * processed day from the second onward emits the ONE-STEP-AHEAD
    * forecast (l + b read BEFORE the update) — the value a live
    * capacity dashboard plots against the arriving actual. State per
    * key: (level, trend, last day, points seen) — four scalars,
    * traffic-independent. HoltStreamSpec pins the stream's forecasts
    * row-identical to the batch fold's one-step predictions
    * (y_t − residual_t from Forecast.holtFitResiduals) over the full
    * zero-filled series.
    */
  class HoltProcessor(alpha: Double, oneMinusAlpha: Double,
      beta: Double, oneMinusBeta: Double, dayMs: Long = 86400000L)
      extends StatefulProcessor[String, (String, Long, Double),
        (String, Long, Double)] {
    @transient private var st: ValueState[(Double, Double, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      st = getHandle.getValueState[(Double, Double, Long, Long)]("holt",
        ExpressionEncoder[(Double, Double, Long, Long)](), TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Double)],
        timers: TimerValues): Iterator[(String, Long, Double)] = {
      var (l, b, lastDay, seen) =
        if (st.exists()) st.get() else (0.0, 0.0, Long.MinValue, 0L)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double)]
      def step(day: Long, y: Double): Unit = {
        if (seen == 0L) { l = y }
        else {
          if (seen == 1L) b = y - l // init trend from the first pair
          out += ((key, day, l + b)) // one-step-ahead, pre-update
          val lPrev = l
          l = alpha * y + oneMinusAlpha * (l + b)
          b = beta * (l - lPrev) + oneMinusBeta * b
        }
        lastDay = day
        seen += 1L
      }
      rows.toArray.sortBy(_._2).foreach { case (_, day, y) =>
        if (day > lastDay) {
          if (lastDay != Long.MinValue) {
            var g = lastDay + dayMs
            while (g < day) { step(g, 0.0); g += dayMs } // zero gap-fill
          }
          step(day, y)
        } // a late day (≤ last processed) is dropped: finalized order
      }
      st.update((l, b, lastDay, seen))
      out.iterator
    }
  }

  /** `transformWithState` wiring for [[HoltProcessor]] over a
    * streaming (series_key, dayEpochMs, count) Dataset.
    */
  def holtForecasts(spark: SparkSession,
      daily: Dataset[(String, Long, Double)], alpha: Double,
      oneMinusAlpha: Double, beta: Double, oneMinusBeta: Double)
      : Dataset[(String, Long, Double)] = {
    import spark.implicits._
    daily.groupByKey(_._1)
      .transformWithState(
        new HoltProcessor(alpha, oneMinusAlpha, beta, oneMinusBeta),
        TimeMode.None(), OutputMode.Update())
  }
}
