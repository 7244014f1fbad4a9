package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** E314: the commit-log contract. Readers see committed versions
  * only — a torn write (data files present, manifest never renamed)
  * is invisible; racing committers get one winner and one loud
  * failure; every version stays readable (time travel); appends
  * share data files across versions without rewriting bytes.
  */
class TxTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"txtable_$tag").toString

  test("commit → snapshot round trip; versions increment from 0") {
    val dir = tmp("rt")
    val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    assert(TxTable.currentVersion(spark, dir) === -1L)
    assert(TxTable.commit(df, dir) === 0L)
    val back = TxTable.snapshot(spark, dir)
    assert(back.count() === 100L)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    assert(TxTable.commit(df.filter(col("id") <= 10), dir) === 1L)
    assert(TxTable.snapshot(spark, dir).count() === 10L)
    TxTable.validate(spark, dir, 0L)
    TxTable.validate(spark, dir, 1L)
  }

  test("a torn write (orphan data files, no committed manifest) is " +
      "invisible to readers") {
    val dir = tmp("torn")
    val df = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    TxTable.commit(df, dir)
    // the crash window: a second writer got its data files down (and
    // even a temp manifest) but died before the atomic rename
    (51 to 99).map(i => (i.toLong, s"torn$i")).toDF("id", "v")
      .write.parquet(s"$dir/data/v1-deadbeef")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_commits", ".tmp-deadbeef"),
      "version=1\tn_files=1\tn_rows=49\ndata/v1-deadbeef/whatever\n"
        .getBytes("UTF-8"))
    assert(TxTable.currentVersion(spark, dir) === 0L,
      "a torn write changed the committed version")
    val back = TxTable.snapshot(spark, dir)
    assert(back.count() === 50L, "reader saw uncommitted files")
    assert(back.filter(col("v").startsWith("torn")).isEmpty,
      "torn rows leaked into the snapshot")
    // and a fresh table with ONLY torn writes refuses to read
    val dir2 = tmp("torn2")
    df.write.parquet(s"$dir2/data/v0-deadbeef")
    val e = intercept[IllegalArgumentException] {
      TxTable.snapshot(spark, dir2)
    }
    assert(e.getMessage.contains("no committed version"))
  }

  test("racing committers: one winner, the loser fails loudly and " +
      "leaves no visible state") {
    val dir = tmp("race")
    val df = (1 to 20).map(i => (i.toLong, "a")).toDF("id", "v")
    TxTable.commit(df, dir)
    // simulate the race: the rival takes version 1 first; the loser
    // has real (already-written) data files — only the rename loses
    val v0Files = TxTable.snapshotAt(spark, dir, 0L).inputFiles.toSeq
      .map(_.split(dir + "/").last).sorted
    TxTable.commitFiles(spark, dir, 1L, v0Files)
    val e = intercept[IllegalStateException] {
      TxTable.commitFiles(spark, dir, 1L, v0Files)
    }
    assert(e.getMessage.contains("commit conflict"))
    assert(TxTable.versions(spark, dir) === Seq(0L, 1L))
  }

  test("time travel: every committed version stays byte-identical " +
      "after later commits") {
    val dir = tmp("tt")
    val v0 = (1 to 30).map(i => (i.toLong, "old")).toDF("id", "v")
    val v1 = (1 to 5).map(i => (i.toLong, "new")).toDF("id", "v")
    TxTable.commit(v0, dir)
    TxTable.commit(v1, dir)
    val t0 = TxTable.snapshotAt(spark, dir, 0L)
    assert(t0.count() === 30L && t0.except(v0).isEmpty)
    val t1 = TxTable.snapshotAt(spark, dir, 1L)
    assert(t1.count() === 5L && t1.except(v1).isEmpty)
    val e = intercept[IllegalArgumentException] {
      TxTable.snapshotAt(spark, dir, 7L)
    }
    assert(e.getMessage.contains("no committed version 7"))
  }

  test("appendIdempotent: a replayed (appId, txnVersion) is a " +
      "committed no-op; distinct apps do not collide") {
    val dir = tmp("idem")
    val b0 = (1 to 10).map(i => (i.toLong, "b0")).toDF("id", "v")
    val b1 = (11 to 15).map(i => (i.toLong, "b1")).toDF("id", "v")
    assert(TxTable.appendIdempotent(b0, dir, "sink", 0L) === 0L)
    assert(TxTable.appendIdempotent(b1, dir, "sink", 1L) === 1L)
    // the at-least-once replays: both skipped, no version minted
    assert(TxTable.appendIdempotent(b1, dir, "sink", 1L) === -1L)
    assert(TxTable.appendIdempotent(b0, dir, "sink", 0L) === -1L)
    assert(TxTable.currentVersion(spark, dir) === 1L)
    assert(TxTable.snapshot(spark, dir).count() === 15L)
    assert(TxTable.committedTxns(spark, dir, "sink") === Set(0L, 1L))
    // a different app's version 0 is NOT the same token
    assert(TxTable.appendIdempotent(
      Seq((99L, "other")).toDF("id", "v"), dir, "other", 0L) === 2L)
    assert(TxTable.snapshot(spark, dir).count() === 16L)
  }

  test("a streaming foreachBatch sink through appendIdempotent lands " +
      "each micro-batch exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("stream")
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the retry path a real engine takes: deliver every batch twice
        TxTable.appendIdempotent(batch, dir, "q1", id)
        TxTable.appendIdempotent(batch, dir, "q1", id)
        ()
      }
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      stream.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.snapshot(spark, dir).count() === 3L,
      "a replayed micro-batch double-landed")
  }

  test("retain drops old versions' manifests and vacuums unreferenced " +
      "snapshot dirs, while append-shared dirs survive") {
    val dir = tmp("retain")
    TxTable.commit((1 to 10).map(i => (i.toLong, "v0")).toDF("id", "v"), dir)
    TxTable.commit((1 to 20).map(i => (i.toLong, "v1")).toDF("id", "v"), dir)
    // v2 appends onto v1 → v2 references v1's snapshot dir
    TxTable.append((21 to 25).map(i => (i.toLong, "inc")).toDF("id", "v"), dir)
    TxTable.commit((1 to 3).map(i => (i.toLong, "v3")).toDF("id", "v"), dir)
    def dataDirs: Set[String] = {
      val p = java.nio.file.Paths.get(dir, "data")
      scala.util.Using.resource(java.nio.file.Files.list(p))(
        _.toArray.toSeq.map(_.toString.split('/').last).toSet)
    }
    assert(dataDirs.size === 4)
    TxTable.retain(spark, dir, keepLast = 2)
    // versions 0 and 1 are gone, 2 and 3 intact
    assert(TxTable.versions(spark, dir) === Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      TxTable.snapshotAt(spark, dir, 0L)
    }
    assert(TxTable.snapshotAt(spark, dir, 2L).count() === 25L)
    assert(TxTable.snapshot(spark, dir).count() === 3L)
    // v0's dir vacuumed; v1's dir SURVIVES (v2's append references it)
    assert(dataDirs.size === 3, s"expected 3 data dirs, have $dataDirs")
    assert(dataDirs.exists(_.startsWith("v1-")),
      "vacuum deleted a dir the retained append-version still references")
    assert(!dataDirs.exists(_.startsWith("v0-")),
      "vacuum left the unreferenced v0 dir")
    // retain is idempotent
    TxTable.retain(spark, dir, keepLast = 2)
    assert(TxTable.versions(spark, dir) === Seq(2L, 3L))
  }

  test("checkpointed token lookup: a long-history table reads ONE " +
      "checkpoint + a bounded manifest tail, and equals the full scan") {
    val dir = tmp("ckpt")
    val nCommits = 25 // crosses two checkpoint boundaries (10, 20)
    (0 until nCommits).foreach { i =>
      TxTable.appendIdempotent(
        Seq((i.toLong, s"b$i")).toDF("id", "v"), dir, "sink", i.toLong)
    }
    // checkpoints landed on the Delta cadence
    assert(TxTable.latestCheckpoint(spark, dir) === Some(20L))
    // read cost: one checkpoint + the ≤N tail headers — NOT one header
    // per version ever committed
    TxTable.headerReads.set(0L)
    val tokens = TxTable.committedTxns(spark, dir, "sink")
    val reads = TxTable.headerReads.get()
    assert(tokens === (0L until nCommits.toLong).toSet)
    assert(reads <= TxTable.CheckpointInterval + 2,
      s"token lookup opened $reads header files for a $nCommits-version " +
        s"table — checkpoint not consulted")
    // equivalence with the full-history scan (which reads every header)
    TxTable.headerReads.set(0L)
    val brute = TxTable.versions(spark, dir)
      .flatMap(TxTable.headerTxn(spark, dir, _))
      .collect { case (a, t) if a == "sink" => t }.toSet
    assert(TxTable.headerReads.get() >= nCommits.toLong)
    assert(brute === tokens, "checkpoint+tail diverged from full scan")
    // replay of a pre-checkpoint token still no-ops via the checkpoint
    assert(TxTable.appendIdempotent(
      Seq((0L, "replay")).toDF("id", "v"), dir, "sink", 0L) === -1L)
  }

  test("commitWithRetry/appendWithRetry: the loser of a version race " +
      "retries onto the next version and wins; bounded attempts") {
    val dir = tmp("retry")
    TxTable.commit((1 to 10).map(i => (i.toLong, "base")).toDF("id", "v"),
      dir)
    // plant a rival at version 1: the retrying append must land at 2
    // ON TOP of the rival's files (optimistic concurrency, no loss)
    val v0Files = TxTable.snapshotAt(spark, dir, 0L).inputFiles.toSeq
      .map(_.split(dir + "/").last).sorted
    TxTable.commitFiles(spark, dir, 1L, v0Files)
    // appendWithRetry recomputes its base per attempt, so even racing
    // the planted rival it extends the CURRENT head
    val v = TxTable.appendWithRetry(
      (11 to 15).map(i => (i.toLong, "inc")).toDF("id", "v"), dir)
    assert(v === 2L)
    assert(TxTable.snapshot(spark, dir).count() === 15L)
    // a first-try append targeting an already-taken version fails
    // loudly; the retry lane turns that loss into the next version
    val v2Files = TxTable.snapshotAt(spark, dir, 2L).inputFiles.toSeq
      .map(_.split(dir + "/").last).sorted
    TxTable.commitFiles(spark, dir, 3L, v2Files)
    val v4 = TxTable.commitWithRetry(
      (1 to 7).map(i => (i.toLong, "w")).toDF("id", "v"), dir)
    assert(v4 === 4L)
    assert(TxTable.snapshot(spark, dir).count() === 7L)
  }

  test("partitioned commit: snapshotWhere plans ONLY the matching " +
      "partitions' files; full snapshot round-trips with the columns") {
    val dir = tmp("part")
    val df = Seq(
      (1L, "A", "x1"), (2L, "A", "x2"), (3L, "B", "x3"),
      (4L, "B", "x4"), (5L, "C", "x5")
    ).toDF("id", "grp", "payload")
    TxTable.commitPartitioned(df, dir, Seq("grp"))
    // full read re-attaches the partition column
    val snap = TxTable.snapshot(spark, dir)
    assert(snap.columns.sorted.toSeq === Seq("grp", "id", "payload"))
    assert(snap.count() === 5L)
    assert(snap.select(col("id"), col("grp"), col("payload"))
      .except(df.select(col("id"), col("grp"), col("payload"))).isEmpty)
    // pruned read: files-read ∝ matching partitions
    val pruned = TxTable.snapshotWhere(spark, dir, Map("grp" -> "B"))
    assert(pruned.count() === 2L)
    val inFiles = pruned.inputFiles.toSeq
    assert(inFiles.nonEmpty && inFiles.forall(_.contains("grp=B")),
      s"pruned scan read outside grp=B: $inFiles")
    val allFiles = snap.inputFiles.length
    assert(inFiles.length < allFiles,
      "pruning read as many files as the full scan")
    // empty match → empty result, full schema, zero data files
    val none = TxTable.snapshotWhere(spark, dir, Map("grp" -> "Z"))
    assert(none.count() === 0L)
    assert(none.columns.sorted.toSeq === Seq("grp", "id", "payload"))
    // appends inherit the partitioning; pruning spans versions
    TxTable.append(Seq((6L, "B", "x6")).toDF("id", "grp", "payload"), dir)
    val p2 = TxTable.snapshotWhere(spark, dir, Map("grp" -> "B"))
    assert(p2.count() === 3L)
    assert(p2.inputFiles.forall(_.contains("grp=B")))
    // non-string partition column refused at commit time
    val e = intercept[IllegalArgumentException] {
      TxTable.commitPartitioned(df.withColumn("grp", lit(1)),
        tmp("partbad"), Seq("grp"))
    }
    assert(e.getMessage.contains("must be STRING"))
    // time travel on the partitioned table keeps working
    assert(TxTable.snapshotAt(spark, dir, 0L).count() === 5L)
  }

  test("TRUE concurrent committers (two racing threads, r16): exactly " +
      "one wins the version, the loser throws, table state is the winner's") {
    val dir = tmp("race2")
    TxTable.commit(Seq((0L, "base")).toDF("id", "v"), dir)
    val v0Files = TxTable.snapshotAt(spark, dir, 0L).inputFiles.toSeq
      .map(_.split(dir + "/").last).sorted
    // both threads aim at version 1 with ALREADY-WRITTEN files — the
    // race is on the manifest publish alone, aligned by a barrier so
    // both are in-flight together (not a pre-existing-target simulation)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        barrier.await()
        try {
          TxTable.commitFiles(spark, dir, 1L, v0Files)
          results.add(Right(()))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    val (losses, wins) = results.toArray(Array.empty[Either[Throwable, Unit]])
      .partition(_.isLeft)
    assert(wins.length === 1, s"expected exactly one winner, got $results")
    assert(losses.length === 1)
    val loss = losses.head.swap.toOption.get
    assert(loss.isInstanceOf[IllegalStateException] &&
      loss.getMessage.contains("commit conflict"),
      s"loser failed with the wrong error: $loss")
    // the log is intact: exactly versions 0 and 1, readable
    assert(TxTable.versions(spark, dir) === Seq(0L, 1L))
    assert(TxTable.snapshot(spark, dir).count() === 1L)
  }

  test("retention keeps the dedup horizon monotone: tokens recorded " +
      "only in the surviving HEAD checkpoint still dedup replays (r16 ADVICE)") {
    val dir = tmp("ckpthead")
    // versions 0..10; v10 writes a checkpoint carrying tokens 0..10
    (0 to 10).foreach { i =>
      TxTable.appendIdempotent(
        Seq((i.toLong, s"b$i")).toDF("id", "v"), dir, "sink", i.toLong)
    }
    assert(TxTable.latestCheckpoint(spark, dir) === Some(10L))
    // retention drops manifests 0..9 — the ONLY surviving record of
    // tokens 0..9 is the head checkpoint AT version 10
    TxTable.retain(spark, dir, keepLast = 1)
    assert(TxTable.versions(spark, dir) === Seq(10L))
    assert(TxTable.committedTxns(spark, dir, "sink") ===
      (0L to 10L).toSet,
      "tokens recorded only in the head checkpoint were forgotten")
    // the duplicate-append window is closed: a replay of a dropped-
    // manifest era token still no-ops
    val rows = TxTable.snapshot(spark, dir).count()
    assert(TxTable.appendIdempotent(
      Seq((3L, "replay")).toDF("id", "v"), dir, "sink", 3L) === -1L)
    assert(TxTable.snapshot(spark, dir).count() === rows,
      "a replayed token double-landed after retention")
  }

  test("partitioned snapshot plans are O(1) in partition count (r16: " +
      "ManifestFileIndex, no per-partition union legs)") {
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.length
    val small = tmp("psmall")
    TxTable.commitPartitioned(
      (1 to 4).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp"),
      small, Seq("grp"))
    val big = tmp("pbig")
    TxTable.commitPartitioned(
      (1 to 48).map(i => (i.toLong, s"g${i % 16}")).toDF("id", "grp"),
      big, Seq("grp"))
    val (nSmall, nBig) =
      (planNodes(TxTable.snapshot(spark, small)),
        planNodes(TxTable.snapshot(spark, big)))
    assert(nBig === nSmall,
      s"plan grew with partition count: $nSmall nodes @2 parts, " +
        s"$nBig @16 — union legs are back")
    assert(nBig <= 3, s"full-snapshot plan has $nBig nodes")
    // catalyst partition pruning works through the index: a filter on
    // the partition column reaches listFiles and prunes actual files
    val pruned = TxTable.snapshot(spark, big)
      .filter(col("grp") === "g3")
    assert(pruned.count() === 3L)
    val scanned = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles
    }.sum
    val total = TxTable.snapshot(spark, big).inputFiles.length.toLong
    assert(scanned < total,
      s"partition filter pruned nothing: $scanned of $total files")
    // and values survive the round trip (no inference: strings stay
    // strings even when they look numeric)
    val numDir = tmp("pnum")
    TxTable.commitPartitioned(
      Seq((1L, "01"), (2L, "1")).toDF("id", "grp"), numDir, Seq("grp"))
    val back = TxTable.snapshot(spark, numDir)
    assert(back.schema("grp").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(back.select("grp").as[String].collect().sorted.toSeq ===
      Seq("01", "1"), "partition value retyped through the path")
  }

  test("snapshotWhere with NO matching partition plans ZERO data files " +
      "(r16 ADVICE: schema from one footer, not a lit(false) full scan)") {
    val dir = tmp("pempty")
    TxTable.commitPartitioned(
      (1 to 6).map(i => (i.toLong, s"g$i", s"x$i")).toDF("id", "grp", "pay"),
      dir, Seq("grp"))
    val none = TxTable.snapshotWhere(spark, dir, Map("grp" -> "nope"))
    assert(none.count() === 0L)
    assert(none.columns.sorted.toSeq === Seq("grp", "id", "pay"))
    assert(none.inputFiles.isEmpty,
      s"empty match still planned files: ${none.inputFiles.toSeq}")
  }

  test("range data skipping (r16): snapshotWhereRange plans only files " +
      "whose recorded min/max overlap the range, across all three stat " +
      "kinds, and absence of stats degrades to scan — never to a wrong " +
      "answer") {
    val dir = tmp("skip")
    val df = (1 to 800).map(i => (i.toLong, s"s${i % 7}", i * 1.5))
      .toDF("id", "v", "x")
    // range-clustered write → near-disjoint per-file id/x bounds; the
    // string column is spread across every file (no skip possible)
    TxTable.commit(df.repartitionByRange(8, col("id")), dir)
    val total = TxTable.snapshot(spark, dir).inputFiles.length
    assert(total === 8)
    // long kind: a 51-id slice should touch a strict file subset
    val r = TxTable.snapshotWhereRange(spark, dir, "id", 100L, 150L)
    assert(r.count() === 51L)
    assert(r.inputFiles.length < total,
      s"range read planned all $total files")
    val expect = df.filter(col("id").between(100, 150))
    assert(r.select("id", "v", "x").except(expect).isEmpty &&
      expect.except(r.select("id", "v", "x")).isEmpty,
      "skipping changed the result")
    // double kind
    val rd = TxTable.snapshotWhereRange(spark, dir, "x", 30.0, 60.0)
    assert(rd.count() === df.filter(col("x").between(30.0, 60.0)).count())
    assert(rd.inputFiles.length < total)
    // string kind: present in every file → zero skip, exact result
    val rs = TxTable.snapshotWhereRange(spark, dir, "v", "s2", "s3")
    assert(rs.count() ===
      df.filter(col("v") >= "s2" && col("v") <= "s3").count())
    // empty overlap → ZERO files planned, schema intact
    val none = TxTable.snapshotWhereRange(spark, dir, "id", 5000L, 6000L)
    assert(none.count() === 0L && none.inputFiles.isEmpty)
    assert(none.columns.sorted.toSeq === Seq("id", "v", "x"))
    // append: inherited files keep their recorded stats (no re-read),
    // the new file gets footer stats — a head-range read plans 1 file
    TxTable.append(
      Seq((2000L, "zz", 1.0)).toDF("id", "v", "x").repartition(1), dir)
    val r2 = TxTable.snapshotWhereRange(spark, dir, "id", 1900L, 2100L)
    assert(r2.count() === 1L)
    assert(r2.inputFiles.length === 1,
      s"head-range read planned ${r2.inputFiles.length} files")
    // a partitioned table skips on DATA columns too, with the
    // partition column re-attached
    val pdir = tmp("skippart")
    TxTable.commitPartitioned(
      (1 to 100).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp"),
      pdir, Seq("grp"))
    val rp = TxTable.snapshotWhereRange(spark, pdir, "id", 10L, 20L)
    assert(rp.count() === 11L)
    assert(rp.columns.sorted.toSeq === Seq("grp", "id"))
    // partition columns route to snapshotWhere
    val e = intercept[IllegalArgumentException] {
      TxTable.snapshotWhereRange(spark, pdir, "grp", "g0", "g1")
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("compact (r16): a small-file table rewrites into the target " +
      "file count as a NEW version, rows identical, history intact, " +
      "and range-clustered compaction repairs skipping") {
    val dir = tmp("compact")
    val df = (1 to 600).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
    // a messy history: a 12-file initial commit + 3 tiny appends,
    // every file's id range wide (hash layout → no skipping possible)
    TxTable.commit(df.filter(col("id") % 4 =!= 3).repartition(12), dir)
    (0 to 2).foreach { r =>
      TxTable.append(df.filter(col("id") % 4 === 3)
        .filter(col("id") % 3 === r).repartition(1), dir)
    }
    val before = TxTable.snapshot(spark, dir)
    assert(before.count() === 600L)
    assert(before.inputFiles.length === 15)
    // pre-compact: the hash layout cannot skip — a narrow range still
    // plans (nearly) every file
    val preSkip = TxTable
      .snapshotWhereRange(spark, dir, "id", 100L, 120L).inputFiles.length
    assert(preSkip >= 12, s"hash layout unexpectedly skipped: $preSkip")
    // compact, range-clustered on id
    val v = TxTable.compact(spark, dir, numFiles = 4,
      clusterBy = Seq("id"))
    assert(v === 4L)
    val after = TxTable.snapshot(spark, dir)
    assert(after.count() === 600L)
    assert(after.inputFiles.length === 4,
      s"compaction produced ${after.inputFiles.length} files")
    assert(after.select("id", "x").except(df).isEmpty &&
      df.except(after.select("id", "x")).isEmpty,
      "compaction changed the rows")
    // skipping is REPAIRED: the same narrow range now plans ≤ 2 files
    val r2 = TxTable.snapshotWhereRange(spark, dir, "id", 100L, 120L)
    assert(r2.count() === 21L)
    assert(r2.inputFiles.length <= 2,
      s"clustered compaction still planned ${r2.inputFiles.length} files")
    // history: the pre-compaction version still time-travels
    assert(TxTable.snapshotAt(spark, dir, 3L).count() === 600L)
    assert(TxTable.snapshotAt(spark, dir, 3L).inputFiles.length === 15)
    // Z-order compaction: BOTH dimensions prune after one rewrite
    val zdir = tmp("compactz")
    TxTable.commit(df.withColumn("y", lit(601L) - col("id"))
      .repartition(9), zdir)
    TxTable.compact(spark, zdir, numFiles = 9,
      clusterBy = Seq("id", "y"))
    val total = TxTable.snapshot(spark, zdir).inputFiles.length
    val onId = TxTable
      .snapshotWhereRange(spark, zdir, "id", 1L, 60L).inputFiles.length
    val onY = TxTable
      .snapshotWhereRange(spark, zdir, "y", 1L, 60L).inputFiles.length
    assert(onId < total && onY < total,
      s"z-order pruned neither dimension: id→$onId, y→$onY of $total")
    // partitioned compaction coalesces per partition, refuses clusterBy
    val pdir = tmp("compactp")
    TxTable.commitPartitioned(
      (1 to 200).map(i => (i.toLong, s"g${i % 2}")).toDF("id", "grp")
        .repartition(10), pdir, Seq("grp"))
    val preFiles = TxTable.snapshot(spark, pdir).inputFiles.length
    TxTable.compact(spark, pdir, numFiles = 2)
    val post = TxTable.snapshot(spark, pdir)
    assert(post.count() === 200L)
    assert(post.inputFiles.length < preFiles)
    assert(post.inputFiles.length <= 4) // ≤ numFiles per partition value
    intercept[IllegalArgumentException] {
      TxTable.compact(spark, pdir, 2, clusterBy = Seq("id"))
    }
  }

  test("append commits a superset file list without rewriting the " +
      "base version's bytes") {
    val dir = tmp("app")
    val base = (1 to 40).map(i => (i.toLong, "base")).toDF("id", "v")
    TxTable.commit(base, dir)
    val baseFiles = TxTable.snapshotAt(spark, dir, 0L).inputFiles.toSet
    TxTable.append((41 to 50).map(i => (i.toLong, "inc")).toDF("id", "v"),
      dir)
    val snap = TxTable.snapshot(spark, dir)
    assert(snap.count() === 50L)
    assert(baseFiles.subsetOf(snap.inputFiles.toSet),
      "append rewrote the base version's files")
    TxTable.validate(spark, dir, 1L)
  }
}
