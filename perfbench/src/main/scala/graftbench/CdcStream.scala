package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.cdc.Config
import graft.streaming.StreamingPipeline

/** `cdc_stream`: envelopes through `StreamingPipeline.routeObserved` on a
  * MemoryStream with one partition per core, into a `foreachBatch` noop
  * sink. The MemoryStream carries row numbers only; each task looks its
  * envelopes up in a broadcast pool, the way a Kafka source fetches its
  * records on the executors. (A MemoryStream of whole envelopes would
  * serialize every payload into the task descriptors on the driver,
  * which measured as most of each micro-batch.)
  *
  * Phase 1 is an open loop: one generator thread offers `Rate` msg/s in
  * `ChunkRows`-event chunks, on schedule whatever the query does, and each chunk's
  * latency runs from when it was due to the completion of the micro-batch
  * that holds it. Phase 2 is a closed loop: 100k-row micro-batches, each
  * drained before the next is added. Rows are recycled from a fixed pool
  * so the generator's memory stays bounded.
  */
object CdcStream {
  // A quarter of the ~200k/s closed-loop capacity on 4 cores: at 100k/s
  // the micro-batch queue converged too slowly for a steady median.
  val Rate = 50000
  val ChunkRows = 100
  val Pool = 65536
  val Phase2Rows = 100000
  val WarmupS = 4.0
  // The open loop's processing-time trigger. With back-to-back batches the
  // latency is ~1.5 batch times and spread by up to 0.26 of its median
  // across ten runs on a 4-vCPU VM; a fixed trigger adds a wait that does
  // not depend on the machine's speed. A batch of 50k rows takes ~0.4 s.
  val TriggerMs = 1000L

  type Rec = (String, Array[Byte], Array[Byte])
  private val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.BINARY)
  private val longEnc = Encoders.scalaLong

  /** Per-batch progress, recorded for every query of the run. */
  final case class Progress(query: java.util.UUID, batchId: Long, startMs: Double, doneMs: Double, rows: Long,
                            start: Long, end: Long, durations: Map[String, Long])

  final class ProgressLog extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Progress]()
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        batches.add(Progress(p.runId, p.batchId, startMs, startMs + d.getOrElse("triggerExecution", 0L), p.numInputRows,
          Latency.offset(p.sources(0).startOffset), Latency.offset(p.sources(0).endOffset), d))
      }
    }
  }

  /** The fixed row pool and the oracle's running totals over it. */
  final class Rows(gen: CdcGen) {
    val pool = new Array[Rec](Pool)
    private val prefix = new Array[Tally](Pool + 1)
    locally {
      val router = new Router(gen.rules)
      prefix(0) = Tally.Zero
      for (i <- 0 until Pool) {
        val e = gen.envelope(i.toLong)
        pool(i) = (e.topic, e.key, e.value)
        prefix(i + 1) = prefix(i) + Tally.of(e, router)
      }
    }
    /** Row numbers [from, from + n) of the endless recycled sequence. */
    def slice(from: Long, n: Int): Seq[Long] = Seq.tabulate(n)(j => from + j)
    /** Oracle totals over rows [0, n). */
    def expected(n: Long): Tally = prefix(Pool) * (n / Pool) + prefix((n % Pool).toInt)
  }

  final class Query(spark: SparkSession, rules: Seq[graft.cdc.Routing.TransformRule], ckpt: String,
                    cores: Int, pool: Broadcast[Array[Rec]], trigger: Trigger) {
    private val counters = new StreamingPipeline.CounterListener
    spark.streams.addListener(counters)
    val stream: MemoryStream[Long] = MemoryStream[Long](cores)(longEnc, spark.sqlContext)
    private val f = Checksum.forwardedCols.last
    private val envelopes = { val p = pool; stream.toDS().map(i => p.value((i % Pool).toInt))(enc) }
    private val routed: DataFrame = StreamingPipeline.routeObserved(
      envelopes.toDF("topic", "key", "value"), rules).observe("bench_forwarded", f)
    val q: StreamingQuery = routed.writeStream
      .trigger(trigger)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => b.write.format("noop").mode("overwrite").save() }
      .start()
    var offered = 0L

    def add(rows: Seq[Long]): Long = {
      offered += rows.size
      stream.addData(rows).asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
    }

    /** Stop and return what the observations saw, with the delete count
      * (the streaming surface exposes none) taken from `expect`.
      */
    def stop(expect: Tally): Tally = {
      q.processAllAvailable()
      q.stop()
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(counters)
      val t = counters.totals
      Tally(t.getOrElse("cdc_consumed.events_total", 0L), t.getOrElse("cdc_consumed.parse_errors", 0L),
        expect.deletes, t.getOrElse("cdc_forwarded.forwarded_total", 0L),
        t.getOrElse("bench_forwarded.hash_sum", 0L))
    }
  }

  /** Result of the open-loop phase. */
  final case class OpenLoop(latMs: Seq[Double], lateMaxMs: Double, backlogEnd: Long,
                            windowStartMs: Double, windowEndMs: Double)

  /** Offer `Rate` rows/s for `warmup + measure` seconds on one thread;
    * chunks due in the last `measure` seconds are the latency samples.
    */
  def openLoop(q: Query, rows: Rows, log: ProgressLog, tr: Tracer, warmup: Double, measure: Double): OpenLoop = {
    val chunkNs = ChunkRows * 1e9 / Rate
    val chunks = ((warmup + measure) * 1e9 / chunkNs).toInt
    val firstMeasured = (warmup * 1e9 / chunkNs).toInt
    val offsets = new Array[Long](chunks)
    val dueMs = new Array[Double](chunks)
    var lateMax = 0.0
    val t0 = System.nanoTime() + 20000000L
    val t0Ms = tr.nowMs + 20.0
    var k = 0
    while (k < chunks) {
      val due = t0 + (k * chunkNs).toLong
      var now = System.nanoTime()
      while (now < due) {
        LockSupport.parkNanos(math.min(due - now, 500000L))
        now = System.nanoTime()
      }
      if (k >= firstMeasured) lateMax = math.max(lateMax, (now - due) / 1e6)
      dueMs(k) = t0Ms + k * chunkNs / 1e6
      offsets(k) = q.add(rows.slice(q.offered, ChunkRows))
      k += 1
    }
    def batches = log.batches.asScala.toSeq.filter(_.query == q.q.runId)
    val backlog = q.offered - batches.map(_.rows).sum
    q.q.processAllAvailable()
    val done = Latency.completion(offsets.drop(firstMeasured),
      batches.map(b => BatchSpan(b.batchId, b.start, b.end, b.doneMs)))
    val lat = done.indices.map(i => done(i) - dueMs(firstMeasured + i))
    require(!lat.exists(_.isNaN), "a chunk was never processed")
    OpenLoop(lat, lateMax, backlog, dueMs(firstMeasured), dueMs(chunks - 1))
  }

  /** Add `Phase2Rows` and return the seconds until they are drained. */
  def drainOne(q: Query, rows: Rows): Double = {
    q.add(rows.slice(q.offered, Phase2Rows))
    val t = System.nanoTime()
    q.q.processAllAvailable()
    (System.nanoTime() - t) / 1e9
  }

  /** Closed loop: [[drainOne]] for at least `batches` batches and
    * `seconds`; the first batch is not timed.
    */
  def closedLoop(q: Query, rows: Rows, seconds: Double, batches: Int = 7): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    drainOne(q, rows)
    val times = Seq.newBuilder[Double]
    var n = 1
    while (n < batches || System.nanoTime() < end) {
      times += drainOne(q, rows)
      n += 1
    }
    times.result()
  }

  def run(o: Opts, tr: Tracer, r: Result): Unit = {
    val gen = new CdcGen(o.seed)
    val rows = new Rows(gen) // input generation is not set-up
    Main.log("inputs generated")
    val log = new ProgressLog
    var spark: SparkSession = null
    var rules: Seq[graft.cdc.Routing.TransformRule] = null
    var nq = 0
    var pool: Broadcast[Array[Rec]] = null
    def query(trigger: Trigger = Trigger.ProcessingTime(0L)): Query = {
      nq += 1
      new Query(spark, rules, s"${o.work}/ckpt$nq", o.cores, pool, trigger)
    }

    // Set-up, three times: session start, config load, and a warm query
    // over two 100k-row micro-batches.
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(o, s"local[${o.cores}]")
      spark.streams.addListener(log)
      rules = Config.fromString(gen.yaml).rules
      pool = spark.sparkContext.broadcast(rows.pool)
      val q = query()
      closedLoop(q, rows, 0, batches = 2)
      val got = q.stop(rows.expected(q.offered))
      r.check("setup query", q.offered, rows.expected(q.offered).failures(got))
      (System.nanoTime() - t0) / 1e9
    }
    r.put("setup_s", Stats.median(setups), "s")
    Main.log(s"set-up done: ${setups.mkString(", ")}")

    // Latency spreads more between runs than throughput, so the open
    // loop gets the larger share of the run.
    val p1 = o.seconds * 0.6
    val p2 = o.seconds * 0.4
    val heapWatch = new HeapPeak().start()
    if (o.trace) tr.attach(spark)
    // phase 1 on its own query with the fixed trigger, phase 2 on a
    // query whose batches run back to back
    val q1 = query(Trigger.ProcessingTime(TriggerMs))
    var q: Query = null
    val (open, closed) = tr.span("stream") {
      val open = tr.span("open_loop")(openLoop(q1, rows, log, tr, WarmupS, p1))
      val got1 = q1.stop(rows.expected(q1.offered))
      r.check("open-loop events", q1.offered, rows.expected(q1.offered).failures(got1))
      q = query()
      (open, tr.span("closed_loop")(closedLoop(q, rows, p2)))
    }
    val heap = heapWatch.stopMb()
    Main.log(s"measured; closed-loop batches ${closed.map(x => (x * 1000).round).mkString(" ")} ms")
    // tracing overhead: closed-loop batches on the same query, alternately
    // without and with the listeners
    val (untraced, traced) = if (!o.trace) (Nil, Nil) else (1 to 6).map { _ =>
      tr.detach()
      val plain = drainOne(q, rows)
      tr.attach(spark)
      (plain, drainOne(q, rows))
    }.unzip
    tr.detach()
    val got = q.stop(rows.expected(q.offered))
    r.check("stream events", q.offered, rows.expected(q.offered).failures(got))

    val n = open.latMs.size
    require(Stats.highestSupported(n).exists(_ >= 99), s"$n latency samples cannot support a p99")
    val p50 = Stats.percentile(open.latMs, 50)
    val p99 = Stats.percentile(open.latMs, 99)
    r.put("p50_ms", p50, "ms")
    r.put("rate_per_s", Phase2Rows / Stats.median(closed), "1/s")
    r.put("heap_live_peak_mb", heap, "MB")
    println(f"cdc_stream: cdc_lat_p50_ms $p50%.3f, cdc_lat_p99_ms $p99%.3f over $n chunks of $ChunkRows events" +
      f" at $Rate/s; cdc_stream_rps ${Phase2Rows / Stats.median(closed)}%.0f over ${closed.size} batches" +
      f" of $Phase2Rows")

    if (o.trace) {
      Layers.engine(r, tr, "stream", o.cores)
      val mbs = log.batches.asScala.toSeq.filter(b =>
        b.query == q1.q.runId && b.startMs >= open.windowStartMs && b.startMs <= open.windowEndMs)
      def p50Of(k: String) = Stats.median(mbs.map(_.durations.getOrElse(k, 0L).toDouble))
      r.layer("mb.count", mbs.size.toDouble, "count")
      r.layer("mb.rows_p50", Stats.median(mbs.map(_.rows.toDouble)), "count")
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "triggerExecution")
        .foreach(k => r.layer(s"mb.${k}_ms_p50", p50Of(k), "ms"))
      r.layer("mb.fixed_ms_p50", Stats.median(mbs.map(b =>
        (b.durations.getOrElse("triggerExecution", 0L) - b.durations.getOrElse("addBatch", 0L)).toDouble)), "ms")
      r.layer("gen.late_ms_max", open.lateMaxMs, "ms")
      r.layer("mb.backlog_rows_end", open.backlogEnd.toDouble, "count")
      r.layer("stream.lat_p99_ms", p99, "ms")
      r.layer("trace.overhead_pct", (Stats.median(traced) / Stats.median(untraced) - 1) * 100, "%")
      spark = BulkLadder.run(o, tr, r, gen, spark)
    }
  }
}
