package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.cdc.{Envelopes, Pipeline}

/** Structured Streaming parity (SURVEY.md §7.3 step 5): the stateless
  * CDC pipeline must produce identical rows under MemoryStream and
  * batch on identical input; windowed aggregations must agree with
  * their batch twins once the stream is drained.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def runStream(df: org.apache.spark.sql.DataFrame, mode: OutputMode,
                        name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("foreachBatch commit-log sink on a PARTITIONED table (r16, " +
      "VERDICT r15 #7): pruned snapshot reads serve INSIDE the lane " +
      "and equal the batch twin after drain, replays land once") {
    import graft.operators.TxTable
    val dir = java.nio.file.Files
      .createTempDirectory("txstream_part").toString
    val initial = Seq((0L, "en", "seed-a"), (1L, "de", "seed-b"))
      .toDF("id", "lang", "payload")
    TxTable.commitPartitioned(initial, dir, Seq("lang"))
    val stream = MemoryStream[(Long, String, String)]
    val q = stream.toDS().toDF("id", "lang", "payload").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        // the at-least-once replay path: every batch delivered twice
        TxTable.appendIdempotent(b, dir, "q_part", id)
        TxTable.appendIdempotent(b, dir, "q_part", id)
        // the pruned read INSIDE the apply lane: a reader between
        // micro-batches only ever sees committed versions, and its
        // scan stays manifest-pruned to the matching partition dirs
        assert(TxTable.snapshotWhere(spark, dir, Map("lang" -> "en"))
          .inputFiles.forall(_.contains("lang=en")),
          "mid-stream pruned read planned outside lang=en")
        ()
      }.start()
    try {
      stream.addData((2L, "en", "x1"), (3L, "fr", "x2"))
      q.processAllAvailable()
      stream.addData((4L, "en", "x3"))
      q.processAllAvailable()
    } finally q.stop()
    // batch twin: same initial commit + one plain append of all rows
    val dir2 = java.nio.file.Files
      .createTempDirectory("txstream_part_twin").toString
    TxTable.commitPartitioned(initial, dir2, Seq("lang"))
    TxTable.append(
      Seq((2L, "en", "x1"), (3L, "fr", "x2"), (4L, "en", "x3"))
        .toDF("id", "lang", "payload"), dir2)
    val got = TxTable.snapshotWhere(spark, dir, Map("lang" -> "en"))
    val want = TxTable.snapshotWhere(spark, dir2, Map("lang" -> "en"))
    assert(got.count() === 3L, "replayed micro-batches double-landed")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "stream-built pruned snapshot diverged from the batch twin")
    assert(got.inputFiles.nonEmpty &&
      got.inputFiles.forall(_.contains("lang=en")))
    // the r16 range form serves the stream-built table too
    val gr = TxTable.snapshotWhereRange(spark, dir, "id", 2L, 4L)
    assert(gr.count() === 3L)
  }

  test("MemoryStream route equals batch route on the fixture envelopes") {
    val batchIn = Envelopes.fromEvents(spark, sfDir)
    val rows = batchIn.as[(String, String, String)].collect().toSeq

    val stream = MemoryStream[(String, String, String)]
    stream.addData(rows)
    val streamed = runStream(
      Pipeline.route(stream.toDF().toDF("topic", "key", "value")),
      OutputMode.Append, "route_parity")

    val expected = Pipeline.route(batchIn).as[(String, String, String)].collect()
    val got = streamed.as[(String, String, String)].collect()
    assert(got.sorted.toSeq == expected.sorted.toSeq)
    assert(got.nonEmpty)
  }

  test("MemoryStream Avro route equals batch route, incl. a " +
      "malformed-preamble batch (E315 streaming twin, r15)") {
    // the R2 streaming contract the JSON lane has, for the Confluent
    // wire: the per-partition Avro decoder must run identically under
    // the micro-batch engine, and junk frames must survive as
    // unroutable rows (dropped by R4), never crash the stream
    val batchIn = graft.cdc.ConfluentAvro.fromEvents(spark, sfDir)
    val rows = batchIn.as[(String, String, Array[Byte])].collect().toSeq
    val junk: Seq[(String, String, Array[Byte])] = Seq(
      ("flink-1", "j1", null),                      // null value
      ("flink-1", "j2", Array[Byte](0, 0, 0, 0)),   // too short
      ("flink-1", "j3", Array[Byte](1, 0, 0, 0, 7, 2)), // wrong magic
      ("flink-1", "j4", Array[Byte](0, 0, 0, 0, 99, 2)), // unknown id
      ("flink-2", "j5", Array[Byte](0, 0, 0, 0, 7, -1, -1, -1))) // bad body
    def routed(df: org.apache.spark.sql.DataFrame) =
      graft.cdc.Pipeline.routeParsed(
        graft.cdc.ConfluentAvro.decode(df),
        keep = Seq("key", "op", "db", "tbl"))

    val stream = MemoryStream[(String, String, Array[Byte])]
    stream.addData(rows)
    stream.addData(junk) // its own micro-batch
    val streamed = runStream(
      routed(stream.toDF().toDF("topic", "key", "value")),
      OutputMode.Append, "avro_route_parity")

    val expected = routed(batchIn)
      .as[(String, String, String, String, String)].collect()
    val got = streamed
      .as[(String, String, String, String, String)].collect()
    assert(got.sorted.toSeq == expected.sorted.toSeq,
      "Avro stream diverged from the batch lane")
    assert(got.nonEmpty)
    assert(!got.exists(_._2.startsWith("j")),
      "a malformed frame leaked through the route")
  }

  test("streaming tumbling window counts equal the batch window query") {
    // 200 rows keep the state store small: the point is plan parity,
    // not state-store throughput.
    val ev = graft.Tables.events(spark, sfDir).select("ts", "event_type").limit(200)
    val rows = ev.as[(java.sql.Timestamp, String)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, String)]
    stream.addData(rows)
    val streamed = runStream(
      StreamingPipeline.tumblingCounts(
        stream.toDF().toDF("ts", "event_type"), "15 minutes", "10 minutes"),
      OutputMode.Complete, "window_parity")

    val batch = ev.groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("w_start").cast("string"), col("w_end").cast("string"),
          col("event_type"), col("n"))
        .as[(String, String, String, Long)].collect().sorted.toSeq
    assert(norm(streamed) == norm(batch))
    assert(norm(batch).nonEmpty)
  }

  test("streaming session windows equal the batch session_window query") {
    val ev = graft.Tables.events(spark, sfDir).select("ts", "user_id").limit(200)
    val rows = ev.as[(java.sql.Timestamp, Long)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    stream.addData(rows)
    val streamed = runStream(
      StreamingPipeline.sessionCounts(
        stream.toDF().toDF("ts", "user_id"), "5 minutes", "10 minutes"),
      OutputMode.Complete, "session_parity")

    val batch = ev.groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("s_start").cast("string"), col("s_end").cast("string"),
          col("user_id"), col("n"))
        .as[(String, String, Long, Long)].collect().sorted.toSeq
    assert(norm(streamed) == norm(batch))
    assert(norm(batch).nonEmpty)
  }

  test("dedupStream keeps only the first record per key across batches") {
    val stream = MemoryStream[(String, String)]
    val deduped = StreamingPipeline.dedupStream(spark, stream.toDS())
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(("k1", "v1"), ("k2", "v2"), ("k1", "v1-replay"))
      q.processAllAvailable()
      stream.addData(("k2", "v2-replay"), ("k3", "v3"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_stream").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"))
  }

  test("dropDuplicatesWithinWatermark dedups across batches inside the horizon") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val q = stream.toDF().toDF("k", "ts")
      .withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(Seq("k"))
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(("a", t(0)), ("a", t(1)), ("b", t(2)))
      q.processAllAvailable()
      // same batch-2 replay of a within the horizon: suppressed
      stream.addData(("a", t(5)), ("c", t(6)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_wm")
      .select("k").as[String].collect().sorted.toSeq
    assert(out == Seq("a", "b", "c"))
  }

  test("horizonDedupBatch twin equals the streaming dedup when state finalizes") {
    // The twin and dropDuplicatesWithinWatermark provably agree when
    // (a) a key's duplicates are bucket-local and (b) cross-bucket
    // repeats arrive after the watermark evicted the earlier state.
    // Batch 2's lone late-hour event exists to advance the watermark
    // past every batch-1 key's expiry before batch 3 replays them.
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (1L, "a", t(10, 0)), (2L, "a", t(10, 1)), (3L, "b", t(10, 2)),
      (4L, "a", t(10, 5)), (5L, "c", t(10, 6)), // batch 1: dups inside 10:00 bucket
      (6L, "d", t(11, 30)),                     // batch 2: watermark → 11:00
      (7L, "a", t(11, 10)), (8L, "c", t(11, 40))) // batch 3: state evicted, kept
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = stream.toDF().toDF("id", "k", "ts")
      .withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(Seq("k"))
      .writeStream.format("memory").queryName("dedup_wm_twin")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(rows.take(5))
      q.processAllAvailable()
      stream.addData(rows(5))
      q.processAllAvailable()
      stream.addData(rows.drop(6))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dedup_wm_twin")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    val twin = StreamingPipeline.horizonDedupBatch(
        rows.toDF("id", "k", "ts"), Seq("k"), "ts", "30 minutes", "id")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    assert(twin == streamed)
    assert(twin.map(_._1) == Set(1L, 3L, 5L, 6L, 7L, 8L))
  }

  test("stream-static enrich equals the batch join and stays stateless") {
    val dim = Seq(("click", 1L), ("purchase", 10L)).toDF("event_type", "weight")
    val rows = Seq((1L, "click"), (2L, "purchase"), (3L, "click"), (4L, "view"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows)
    val q = stream.toDF().toDF("event_id", "event_type")
      .join(broadcast(dim), Seq("event_type"), "left")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode(OutputMode.Append).start()
    val progress = try { q.processAllAvailable(); q.lastProgress } finally q.stop()
    val got = spark.table("enrich_stream")
      .as[(String, Long, Option[Long])].collect().toSet
    val expected = rows.toDF("event_id", "event_type")
      .join(broadcast(dim), Seq("event_type"), "left")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(got == expected && got.size == 4)
    // stateless: no state store operators engaged
    assert(progress.stateOperators.isEmpty)
  }

  test("watermark drops late rows whose window is already finalized") {
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamingPipeline.tumblingCounts(
      stream.toDF().toDF("ts", "event_type"), "15 minutes", "5 minutes")
      .writeStream.format("memory").queryName("late_data")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: window 10:00-10:15 gets one row; the 10:16 row pushes
      // the watermark to 10:11 after this batch
      stream.addData((t(10, 0), "click"), (t(10, 16), "click"))
      q.processAllAvailable()
      // batch 2: 09:00 is LATE — its window end (09:15) is behind the
      // watermark, so the row must be discarded; 10:05 is late but its
      // window (ends 10:15) is still open, so it is accepted
      stream.addData((t(9, 0), "click"), (t(10, 5), "click"))
      q.processAllAvailable()
      // batch 3: advance the watermark past every open window so all
      // finalized windows flush to the append sink
      stream.addData((t(11, 0), "click"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_data")
      .select(col("w_start").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(!out.contains("2024-01-01 09:00:00"))     // late row dropped
    assert(out("2024-01-01 10:00:00") == 2L)         // on-time + in-window late
    assert(out("2024-01-01 10:15:00") == 1L)
  }

  test("stream-stream interval join equals the batch join on drained input") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val leftRows = Seq((1L, "u1", t(10)), (2L, "u1", t(40)), (3L, "u2", t(20)))
    val rightRows = Seq(("u1", t(5), 100L), ("u1", t(35), 200L), ("u2", t(50), 300L))

    val ls = MemoryStream[(Long, String, java.sql.Timestamp)]
    val rs = MemoryStream[(String, java.sql.Timestamp, Long)]
    ls.addData(leftRows)
    rs.addData(rightRows)
    val joined = StreamingPipeline.intervalJoin(
      ls.toDF().toDF("event_id", "user_id", "lts"),
      rs.toDF().toDF("user_id", "rts", "v"),
      "user_id", "lts", "rts", "15 minutes")
    val streamed = runStream(joined.select("event_id", "v"), OutputMode.Append, "ij_parity")
      .as[(Long, Long)].collect().toSet

    val batch = StreamingPipeline.intervalJoin(
      leftRows.toDF("event_id", "user_id", "lts"),
      rightRows.toDF("user_id", "rts", "v"),
      "user_id", "lts", "rts", "15 minutes")
      .select("event_id", "v").as[(Long, Long)].collect().toSet

    assert(streamed == batch)
    // ground truth: (1: u1@10 <- 100@05), (2: u1@40 <- 200@35); u2@20 has
    // no purchase in [05,20]; 300@50 is after every left event.
    assert(batch == Set((1L, 100L), (2L, 200L)))
  }

  test("observe() counters accumulate across micro-batches via the listener") {
    val listener = new StreamingPipeline.CounterListener
    spark.streams.addListener(listener)
    val stream = MemoryStream[(String, String, String)]
    val q = StreamingPipeline.routeObserved(stream.toDF().toDF("topic", "key", "value"))
      .writeStream.format("memory").queryName("observed_route")
      .outputMode(OutputMode.Append).start()
    try {
      val ok = """{"op":"c","source":{"db":"db_0","table":"table_1"}}"""
      val del = """{"op":"d","source":{"db":"db_0","table":"table_1"}}"""
      stream.addData(("flink-1", "k1", ok), ("flink-1", "k2", del))
      q.processAllAvailable()
      stream.addData(("flink-1", "k3", ok), ("flink-1", "k4", "{bad"))
      q.processAllAvailable()
      // listener events are delivered asynchronously after progress
      val deadline = System.nanoTime() + 10e9.toLong
      while (listener.totals.getOrElse("cdc_consumed.events_total", 0L) < 4L &&
        System.nanoTime() < deadline) Thread.sleep(50)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val t = listener.totals
    assert(t("cdc_consumed.events_total") == 4L)   // pre-filter, like R6
    assert(t("cdc_consumed.parse_errors") == 1L)
    assert(t("cdc_forwarded.forwarded_total") == 2L) // ok rows routed to t1-low
  }

  test("keyed dedup state survives a checkpointed restart") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[(String, String)]
    val deduped = StreamingPipeline.dedupStream(spark, stream.toDS())
    // foreachBatch sink (the memory sink rejects checkpoint recovery);
    // run-2 output collected separately to observe post-restart rows
    val run2Out = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String)]())

    def run(collect: Boolean)(feed: => Unit): Unit = {
      val q = deduped.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, String)], _: Long) =>
          val rows = batch.collect()
          if (collect) rows.foreach(run2Out.add)
        }
        .start()
      try { feed; q.processAllAvailable() } finally q.stop()
    }
    run(collect = false) { stream.addData(("k1", "v1"), ("k2", "v2")) }
    // restart from the same checkpoint: k1/k2 replays must STILL be
    // suppressed — the state store, not driver memory, remembers them
    run(collect = true) {
      stream.addData(("k1", "v1-replay"), ("k3", "v3"), ("k2", "v2-replay"))
    }
    import scala.jdk.CollectionConverters._
    assert(run2Out.asScala.toMap == Map("k3" -> "v3"),
      s"state lost across restart: $run2Out")
  }

  test("statestore reader: checkpoint state queryable as a batch DataFrame") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_read").toString
    val stream = MemoryStream[(String, String)]
    val q = StreamingPipeline.dedupStream(spark, stream.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, String)], _: Long) =>
        // must consume every partition or the state commit validator
        // (rightly) fails the batch
        batch.foreach(_ => ())
      }
      .start()
    try {
      stream.addData(("k1", "v1"), ("k2", "v2"))
      q.processAllAvailable()
      stream.addData(("k1", "dup"), ("k3", "v3"))
      q.processAllAvailable()
    } finally q.stop()

    // discovery first: the metadata source names the stateful operator
    // and pins the batch range the store covers
    val meta = spark.read.format("state-metadata").load(ckpt)
    val op = meta.select("operatorName").as[String].collect().toSet
    assert(op.exists(_.toLowerCase.contains("flatmapgroupswithstate")),
      s"unexpected stateful operators: $op")

    // one state row per dedup key, plain DataFrame ops from here on —
    // this is the skew/size audit surface for production checkpoints
    val state = spark.read.format("statestore").load(ckpt)
    val keys = state.select("key.*").collect().map(_.getString(0)).toSet
    assert(keys == Set("k1", "k2", "k3"), s"state keys: $keys")
    assert(state.count() == 3)

    // time travel: after batch 0 only the first two keys held state
    val b0 = spark.read.format("statestore").option("batchId", "0").load(ckpt)
    assert(b0.select("key.*").collect().map(_.getString(0)).toSet ==
      Set("k1", "k2"))
  }

  test("foreachBatch sink writes partitioned parquet per micro-batch") {
    val out = java.nio.file.Files.createTempDirectory("graft_fb_sink").toString
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDF().toDF("event_type", "n")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").partitionBy("event_type").parquet(out)
      }
      .start()
    try {
      stream.addData(("click", 1L), ("view", 2L))
      q.processAllAvailable()
      stream.addData(("click", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // partition layout is real (directory per event_type)
    assert(back.filter(col("event_type") === "click").count() == 2)
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs.exists(_.startsWith("event_type=click")), s"no partition dirs: $dirs")
  }

  test("idempotent foreachBatch sink: replaying a batch leaves the table unchanged") {
    val out = java.nio.file.Files.createTempDirectory("graft_fb_idem").toString
    val writer = StreamingPipeline.idempotentBatchWriter(out)
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDF().toDF("event_type", "n")
      .writeStream.foreachBatch(writer).start()
    try {
      stream.addData(("click", 1L), ("view", 2L))
      q.processAllAvailable()
      stream.addData(("click", 3L))
      q.processAllAvailable()
    } finally q.stop()
    def snapshot() = spark.read.parquet(out)
      .select("event_type", "n", "batch_id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val before = snapshot()
    assert(before.size == 3 && before.map(_._3).toSet == Set(0L, 1L))
    // Simulate the restart replay: batch 1 is delivered again (same id,
    // same rows — Structured Streaming's replay contract). An append
    // sink would now hold a duplicate; the dynamic-overwrite sink must
    // be byte-identical.
    writer(Seq(("click", 3L)).toDF("event_type", "n"), 1L)
    assert(snapshot() == before, "replay changed the table")
    // and a NEW batch still lands without touching old partitions
    writer(Seq(("view", 4L)).toDF("event_type", "n"), 2L)
    val after = snapshot()
    assert(after.size == 4 && before.toSet.subsetOf(after.toSet))
  }

  test("kill-and-restart: engine replays the uncommitted batch; idempotent " +
      "sink keeps the table exactly-once") {
    // The delivery-semantics claim end-to-end: Structured Streaming
    // commits the sink BEFORE the offset log, so a crash between the
    // two leaves a batch written-but-uncommitted. On restart the engine
    // itself re-runs that batch (same id, same rows) — with the
    // dynamic-overwrite sink the replay must rewrite its own partition,
    // not append a duplicate. The manual-replay test above exercises
    // the writer; this one lets the ENGINE drive the replay from a
    // checkpoint whose commit marker was destroyed, i.e. a real kill.
    val out = java.nio.file.Files.createTempDirectory("graft_kill_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kill_ckpt").toString
    val writer = StreamingPipeline.idempotentBatchWriter(out)
    val stream = MemoryStream[(String, Long)]
    def start() = stream.toDF().toDF("event_type", "n")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(writer).start()

    val q1 = start()
    try {
      stream.addData(("click", 1L), ("view", 2L))
      q1.processAllAvailable()
      stream.addData(("click", 3L))
      q1.processAllAvailable()
    } finally q1.stop()
    def snapshot() = spark.read.parquet(out)
      .select("event_type", "n", "batch_id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val before = snapshot()
    assert(before.size == 3 && before.map(_._3).toSet == Set(0L, 1L))

    // Kill after sink write, before offset commit: batch 1's data is on
    // disk but its commit marker is gone — exactly the torn state a
    // SIGKILL there leaves behind. Delete through the Hadoop FS (not
    // java.io.File): the local FS is checksummed, and an orphaned
    // .1.crc would make the replay's atomic re-commit rename collide.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val commit1 = new org.apache.hadoop.fs.Path(s"$ckpt/commits/1")
    assert(fs.exists(commit1), "checkpoint layout changed: no commits/1")
    assert(fs.delete(commit1, false))

    val q2 = start()
    try {
      q2.processAllAvailable() // recovery replays batch 1 by itself
      assert(snapshot() == before,
        "engine replay duplicated or altered the table")
      stream.addData(("view", 4L)) // and the stream keeps going
      q2.processAllAvailable()
    } finally q2.stop()
    val after = snapshot()
    assert(after.size == 4 && before.toSet.subsetOf(after.toSet) &&
      after.map(_._3).toSet == Set(0L, 1L, 2L))
  }

  test("transformWithState running totals accumulate across micro-batches") {
    // Spark requires RocksDB state store for transformWithState; scope
    // the provider to this query and restore after.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(Long, Long)]
      val out = StreamingPipeline.runningTotals(spark, stream.toDS())
      val q = out.writeStream.format("memory")
        .queryName("twstotals").outputMode("update").start()
      try {
        stream.addData((1L, 100L), (1L, 50L), (2L, 10L))
        q.processAllAvailable()
        stream.addData((1L, 25L), (3L, 7L))
        q.processAllAvailable()
      } finally q.stop()
      // last emission per key wins (update mode re-emits on change)
      val last = spark.table("twstotals")
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 175L)), s"key 1: ${last(1L)}")
      assert(last(2L) == ((2L, 1L, 10L)))
      assert(last(3L) == ((3L, 1L, 7L)))
    } finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("transformWithState final state equals the batch twin's last " +
    "row per key on fixture events") {
    // the cross-proof behind the events_running_totals oracle row: the
    // streaming operator's converged per-key state must equal the
    // batch twin's final (max running_count) row per user on the SAME
    // input. Count/sum state is order-insensitive, so the two-batch
    // split needs no per-key ordering guarantee from MemoryStream.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long)].collect()
      val stream = MemoryStream[(Long, Long)]
      val out = StreamingPipeline.runningTotals(spark, stream.toDS())
      val q = out.writeStream.format("memory")
        .queryName("twstwin").outputMode("update").start()
      try {
        val (a, b) = ev.splitAt(ev.length / 2)
        stream.addData(a.toIndexedSeq)
        q.processAllAvailable()
        stream.addData(b.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("twstwin").as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      val twin = graft.queries.WindowQueries
        .queries("events_running_totals")(spark, sfDir)
        .groupBy(col("user_id"))
        .agg(max(struct(col("running_count"), col("running_cents"))).as("m"))
        .select(col("user_id"), col("m.running_count"), col("m.running_cents"))
        .as[(Long, Long, Long)].collect()
      assert(twin.nonEmpty)
      twin.foreach { case (k, n, c) =>
        assert(streamed(k) == ((k, n, c)),
          s"user $k: stream ${streamed(k)} != twin ($k, $n, $c)")
      }
    } finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("transformWithState spike detector matches the batch rate-spike " +
      "query after the 24h warmup on fixture events") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = graft.queries.AnalyticsQueries
        .queries("events_rate_spikes")(spark, sfDir).collect()
      // the stream's contract input: finalized NONZERO hourly counts in
      // hour order (the zero spine hours are the processor's own job)
      val feed = batch.filter(_.getAs[Long]("n") > 0)
        .map(r => (r.getString(0),
          r.getAs[java.sql.Timestamp]("h").getTime / 1000L,
          r.getAs[Long]("n")))
        .sortBy(_._2)
      assert(feed.nonEmpty)
      val stream = MemoryStream[(String, Long, Long)]
      val out = StreamingPipeline.rateSpikes(spark, stream.toDS())
      val q = out.writeStream.format("memory")
        .queryName("twsspikes").outputMode("update").start()
      try {
        val (a, b) = feed.splitAt(feed.length / 2)
        stream.addData(a.toIndexedSeq)
        q.processAllAvailable()
        stream.addData(b.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("twsspikes")
        .as[(String, Long, Long, Long, Boolean)].collect()
        .map(t => (t._1, t._2) -> t).toMap
      // batch and stream see different leading spines (the batch spine
      // starts at the GLOBAL min hour, the stream at each key's first
      // observation), so compare only once both baselines hold the
      // same 24 hours: h >= firstObserved(key) + 24h, up to
      // lastObserved(key) (the stream never advances past its last
      // fed hour; the batch fills trailing zeros to the global max).
      val firstObs = feed.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      val lastObs = feed.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      var compared = 0
      batch.foreach { r =>
        val k = r.getString(0)
        val h = r.getAs[java.sql.Timestamp]("h").getTime / 1000L
        if (h >= firstObs(k) + 24 * 3600L && h <= lastObs(k)) {
          val t = streamed.getOrElse((k, h),
            fail(s"stream emitted no row for ($k, $h)"))
          assert(t._3 == r.getAs[Long]("n") &&
            t._4 == r.getAs[Long]("win_sum") &&
            t._5 == r.getAs[Boolean]("is_spike"),
            s"($k, $h): stream $t != batch row $r")
          compared += 1
        }
      }
      // the overlap must dominate the series, or the parity is vacuous
      assert(compared > batch.length / 2,
        s"only $compared/${batch.length} rows comparable")
    } finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("spike detector clamps pathological hour jumps: only the " +
      "trailing gap span emits and the post-gap hour flags on a " +
      "zeroed baseline") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[(String, Long, Long)]
      val out = StreamingPipeline.rateSpikes(spark, stream.toDS())
      val q = out.writeStream.format("memory")
        .queryName("twsgap").outputMode("update").start()
      try {
        // 30 observed hours at count 3, then a 1000-hour jump
        stream.addData((0 until 30).map(i => ("k", i * 3600L, 3L)))
        q.processAllAvailable()
        stream.addData(Seq(("k", 1030 * 3600L, 5L)))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("twsgap")
        .as[(String, Long, Long, Long, Boolean)].collect()
        .sortBy(_._2)
      // 30 observed + clamped trailing 168 zero hours + the jump target
      assert(rows.length == 30 + 168 + 1,
        s"expected clamp to 168 gap emissions, got ${rows.length} rows")
      val gapRows = rows.filter(r => r._2 > 29 * 3600L && r._2 < 1030 * 3600L)
      assert(gapRows.length == 168 &&
        gapRows.head._2 == (1030 - 168) * 3600L &&
        gapRows.forall(r => r._3 == 0L && !r._5),
        "gap span wrong: must be the trailing 168 hours, all zero, no flags")
      val target = rows.last
      // after >=24 zero hours the baseline ring is all-zero and full,
      // so any positive count is an infinite-z spike: d=24*5>0, Q=S=0
      assert(target._2 == 1030 * 3600L && target._3 == 5L &&
        target._4 == 0L && target._5,
        s"post-gap row wrong: $target")
    } finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("E182 oracle promotion: the stream equals its hash-checked batch " +
      "twin on EVERY emitted row — fixture feed and a planted " +
      "late-starting key where the twin diverges from the global spine") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def runSpikes(feed: Seq[(String, Long, Long)], name: String) = {
      val stream = MemoryStream[(String, Long, Long)]
      val out = StreamingPipeline.rateSpikes(spark, stream.toDS())
      val q = out.writeStream.format("memory")
        .queryName(name).outputMode("update").start()
      try {
        val (a, b) = feed.splitAt(feed.length / 2)
        stream.addData(a.toIndexedSeq)
        q.processAllAvailable()
        stream.addData(b.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[(String, Long, Long, Long, Boolean)].collect()
    }
    def assertTwinParity(streamed: Array[(String, Long, Long, Long, Boolean)],
        twin: Array[(String, Long, Long, Long, Boolean)]): Unit = {
      assert(twin.nonEmpty && streamed.length == twin.length,
        s"row counts differ: stream ${streamed.length}, twin ${twin.length}")
      val sm = streamed.map(t => (t._1, t._2) -> t).toMap
      twin.foreach { t =>
        assert(sm((t._1, t._2)) == t, s"stream ${sm((t._1, t._2))} != twin $t")
      }
    }
    try {
      // ---- fixture feed: the oracle row's own input ----
      val twin = graft.queries.AnalyticsQueries
        .queries("events_rate_spikes_stream_twin")(spark, sfDir)
        .select(col("event_type"), unix_timestamp(col("h")), col("n"),
          col("win_sum"), col("is_spike"))
        .as[(String, Long, Long, Long, Boolean)].collect()
      val feed = twin.filter(_._3 > 0).map(t => (t._1, t._2, t._3)).sortBy(_._2)
      // twin precondition: no per-key gap beyond the processor's
      // maxGapEmit clamp (the twin does not model the compression path)
      feed.groupBy(_._1).foreach { case (k, v) =>
        val hs = v.map(_._2).sorted
        val gap = hs.zip(hs.tail).map { case (a, b) => (b - a) / 3600L - 1 }
          .foldLeft(0L)(math.max)
        assert(gap <= 168L, s"fixture key $k has a $gap-hour gap; the twin " +
          "would diverge from the maxGapEmit clamp")
      }
      assertTwinParity(runSpikes(feed.toSeq, "twstwinfull"), twin)

      // ---- planted late start: 'late' first appears 48h after
      // 'early', with a big first count. The per-key-spine twin keeps
      // it unflagged (ring empty at first sight, warmup), while a
      // global spine would backfill 48 zeros and flag it on an all-zero
      // full ring — the divergence ADVICE r8 asked to have stated, here
      // made a measured fact through the same helper.
      val planted =
        (0 until 60).map(i => ("early", i * 3600L, 2L)) :+
          (("late", 48 * 3600L, 50L)) :+ (("late", 49 * 3600L, 1L))
      val plantedDf = planted
        .toDF("event_type", "epoch", "n")
        .select(col("event_type"), col("epoch").cast("timestamp").as("h"),
          col("n"))
      def twinOf(h: org.apache.spark.sql.DataFrame) =
        graft.queries.AnalyticsQueries.rateSpikeStreamTwin(h)
          .select(col("event_type"), unix_timestamp(col("h")), col("n"),
            col("win_sum"), col("is_spike"))
          .as[(String, Long, Long, Long, Boolean)].collect()
      val ptwin = twinOf(plantedDf)
      assertTwinParity(runSpikes(planted.sortBy(_._2), "twstwinlate"), ptwin)
      val lateFirst = ptwin.filter(_._1 == "late").minBy(_._2)
      assert(lateFirst == (("late", 48 * 3600L, 50L, 0L, false)),
        s"late key's first hour must be unflagged warmup in the twin: $lateFirst")
      // global-spine semantics over the SAME counts: seed the late key
      // with a zero observation at the global min hour — now the ring
      // is full of backfilled zeros by hour 48 and the spike DOES flag
      val seeded = twinOf(plantedDf.unionAll(
        Seq(("late", 0L, 0L)).toDF("event_type", "epoch", "n")
          .select(col("event_type"), col("epoch").cast("timestamp").as("h"),
            col("n"))))
      val seededFirst = seeded.filter(t => t._1 == "late" && t._3 == 50L).head
      assert(seededFirst._5,
        s"global spine must flag the late key's burst: $seededFirst")
    } finally prev.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
  }

  test("Kafka adapter reports connector availability honestly") {
    // No spark-sql-kafka jar ships in this container (SURVEY.md §7.6.6):
    // the adapter must say so rather than fail deep inside a query.
    assert(!KafkaIO.kafkaAvailable)
  }
}
