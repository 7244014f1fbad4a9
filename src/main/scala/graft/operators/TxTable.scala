package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}

/** Minimal transactional commit log for the lakehouse lane (E314,
  * VERDICT r13 "What's missing" #3) — the Delta/Iceberg atomicity
  * CONTRACT rebuilt from public knowledge on two primitives every
  * Hadoop-compatible filesystem offers: immutable data files and an
  * atomic single-file rename. MERGE INTO (E278), CDC apply (E280) and
  * compaction (E107) used to rewrite bare parquet directories, where
  * a crash mid-rewrite leaves mixed state a reader can see; here a
  * reader can only ever observe a COMMITTED version.
  *
  * Layout under one table directory:
  *
  *   data/v<version>-<uuid>/part-*.parquet  — one immutable snapshot
  *                                            dir per commit, never
  *                                            rewritten
  *   _commits/<version 20-digit>.commit     — the version manifest:
  *                                            header + the snapshot's
  *                                            file list (tab-separated
  *                                            text, one atomic file)
  *
  * The protocol (the [[graft.ext.AnnIndex]] manifest discipline,
  * generalized from "one index" to "any table"):
  *
  *  - WRITE: data files land first, under a version+uuid directory no
  *    reader ever lists directly; the manifest is then written to a
  *    temp name and RENAMED into `_commits/` — rename-with-no-
  *    overwrite is the atomic commit point. A crash before the rename
  *    leaves orphan data files that no manifest references: invisible
  *    (TxTableSpec plants exactly that torn write and proves readers
  *    never see it). Two racing committers target the same version
  *    name; the rename admits one, the loser fails LOUDLY (optimistic
  *    concurrency, first-writer-wins) and its orphan files stay
  *    invisible.
  *  - READ: [[snapshot]] = the file list of the HIGHEST committed
  *    version; [[snapshotAt]] = any retained version (time travel —
  *    old snapshots stay readable because commits never delete data
  *    files). Readers list ONE directory (`_commits/`) and read ONE
  *    small manifest — no full-table listing, which is what keeps a
  *    million-file table's planning driver-cheap at 100 TB.
  *  - The commit records the snapshot's row count RE-READ from the
  *    written files (verification at write time, the serve path pays
  *    nothing); [[validate]] re-asserts any version on demand.
  *
  * Copy-on-write semantics by construction: each commit is a full
  * snapshot file-set. That is exactly what MERGE/compaction produce
  * anyway (they rewrite the table); an append-only lane can commit
  * `old snapshot's files ++ new files` without rewriting bytes —
  * [[commitFiles]] exposes that path and [[append]] uses it.
  */
object TxTable {

  private val CommitDirName = "_commits"

  /** Checkpoint cadence (r15, VERDICT r14 "What's missing" #3 — the
    * public Delta checkpoint-every-N discipline): every Nth commit
    * also writes a COMPACTED checkpoint carrying the full snapshot
    * file list plus every idempotence token accumulated since the
    * table's birth, so [[committedTxns]] on a years-old table reads
    * ONE checkpoint + ≤N tail manifest headers instead of one header
    * per version ever committed. Snapshot planning was already O(1)
    * (full-snapshot manifests); the checkpoint closes the remaining
    * O(#versions) read path.
    */
  val CheckpointInterval = 10

  /** Header-file open counter (manifests + checkpoints) — spec
    * instrumentation for the "long-history read cost" pin; not used
    * by any production decision.
    */
  private[graft] val headerReads = new java.util.concurrent.atomic.AtomicLong

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def commitPath(dir: String, v: Long) =
    new Path(dir, f"$CommitDirName/$v%020d.commit")

  private def checkpointPath(dir: String, v: Long) =
    new Path(dir, f"$CommitDirName/$v%020d.checkpoint")

  /** Committed versions in ascending order (empty for a fresh or
    * never-committed directory — orphan data files do not count).
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val cd = new Path(dir, CommitDirName)
    if (!f.exists(cd)) return Seq.empty
    f.listStatus(cd).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".commit"))
      .map(n => n.stripSuffix(".commit").toLong)
      .sorted
  }

  /** Highest committed version, or -1 for an empty table. */
  def currentVersion(spark: SparkSession, dir: String): Long =
    versions(spark, dir).lastOption.getOrElse(-1L)

  /** Write `df`'s parquet files under a fresh uuid'd snapshot dir and
    * return their dir-relative paths — the data half of every commit,
    * shared by the first-try and retry lanes (retries re-commit the
    * SAME files under a later version; bytes are written once). With
    * `partitionBy` nonEmpty the write is hive-partitioned and the
    * relative paths carry the `col=val` segments the partition-pruned
    * read path parses.
    */
  private def writeData(df: DataFrame, dir: String, label: String,
      partitionBy: Seq[String] = Nil): Seq[String] = {
    val spark = df.sparkSession
    val snapDir =
      s"data/$label-${java.util.UUID.randomUUID().toString.take(8)}"
    if (partitionBy.isEmpty) df.write.mode("error").parquet(s"$dir/$snapDir")
    else {
      partitionBy.foreach { c =>
        require(df.schema(c).dataType ==
            org.apache.spark.sql.types.StringType,
          s"partition column $c must be STRING — partition values live " +
            "in file paths and round-trip as strings (Hive convention)")
      }
      val nNull = df.filter(partitionBy.map(col(_).isNull)
        .reduce(_ || _)).count()
      require(nNull == 0,
        s"$nNull rows carry NULL in a partition column — the default-" +
          "partition escape is not part of this table contract")
      df.write.mode("error").partitionBy(partitionBy: _*)
        .parquet(s"$dir/$snapDir")
    }
    val f = fs(spark, dir)
    val prefix = new Path(s"$dir/").toUri.getPath.stripSuffix("/") + "/"
    val it = f.listFiles(new Path(dir, snapDir), true)
    val out = ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(prefix)
      if (st.getPath.getName.startsWith("part-") &&
          st.getPath.getName.endsWith(".parquet")) out += rel
    }
    require(out.nonEmpty, s"commit produced no data files under $snapDir")
    out.toSeq.sorted
  }

  /** COMMIT `df` as the next version's full snapshot. Returns the
    * committed version. Fails loudly (and leaves only invisible
    * orphans) if a racing committer takes the version first.
    */
  def commit(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val v = currentVersion(spark, dir) + 1
    commitFiles(spark, dir, v, writeData(df, dir, s"v$v"))
    v
  }

  /** COMMIT `df` hive-partitioned by `partCols` (r15, VERDICT r14 #7
    * — the Delta add-file partitionValues discipline, carried in the
    * file PATHS): each data file lands under `col=val/` segments, the
    * manifest records the partition columns, and [[snapshotWhere]]
    * plans only the files whose recorded values match a predicate —
    * files-read ∝ matching partitions, pinned by TxTableSpec.
    * Partition columns must be STRING and non-null (values round-trip
    * through paths; no silent type re-inference on read).
    */
  def commitPartitioned(df: DataFrame, dir: String,
      partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "commitPartitioned needs partition columns")
    val spark = df.sparkSession
    val v = currentVersion(spark, dir) + 1
    commitFiles(spark, dir, v, writeData(df, dir, s"v$v", partCols),
      partCols = partCols)
    v
  }

  /** APPEND: commit a new version whose snapshot is the previous
    * version's file list plus `df`'s files — no byte rewriting; the
    * append-only lane of the same contract. On a PARTITIONED table
    * the batch is written under the same partition columns, so every
    * file in every version carries its partition values.
    */
  def append(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val prev = currentVersion(spark, dir)
    require(prev >= 0, s"append to $dir: no committed version to extend")
    val v = prev + 1
    val m = readManifest(spark, dir, prev)
    commitFiles(spark, dir, v,
      m.files ++ writeData(df, dir, s"v$v", m.partCols), partCols = m.partCols)
    v
  }

  /** Bounded optimistic-concurrency retry (r15, VERDICT r14 #3): the
    * data files are written ONCE; on a commit conflict the loser
    * re-reads the now-current version and re-attempts the manifest
    * commit at the next version number — for a FULL-SNAPSHOT commit
    * the content is the same files (last-writer-wins table state,
    * which is what full-snapshot semantics mean), so only the tiny
    * manifest write repeats. Gives up loudly after `maxAttempts`
    * losses (a pathologically hot table should surface, not spin).
    */
  def commitWithRetry(df: DataFrame, dir: String,
      maxAttempts: Int = 5): Long = {
    require(maxAttempts >= 1, "need at least one attempt")
    val spark = df.sparkSession
    val files = writeData(df, dir, s"v${currentVersion(spark, dir) + 1}")
    var attempt = 1
    while (true) {
      val v = currentVersion(spark, dir) + 1
      try { commitFiles(spark, dir, v, files); return v }
      catch {
        case e: IllegalStateException =>
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"commit to $dir lost $maxAttempts races — giving up " +
              "(files orphaned, invisible)", e)
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** [[append]] with the bounded conflict retry: each attempt rebuilds
    * its base file list from the CURRENT version, so a retry lands on
    * top of the racer's commit instead of silently dropping it — the
    * optimistic-concurrency append loop Delta documents.
    */
  def appendWithRetry(df: DataFrame, dir: String,
      maxAttempts: Int = 5): Long = {
    require(maxAttempts >= 1, "need at least one attempt")
    val spark = df.sparkSession
    require(currentVersion(spark, dir) >= 0,
      s"append to $dir: no committed version to extend")
    val first = readManifest(spark, dir, currentVersion(spark, dir))
    val newFiles = writeData(df, dir,
      s"v${currentVersion(spark, dir) + 1}", first.partCols)
    var attempt = 1
    while (true) {
      val prev = currentVersion(spark, dir)
      val m = readManifest(spark, dir, prev)
      require(m.partCols == first.partCols,
        s"partition columns changed under a retrying append: " +
          s"${first.partCols} vs ${m.partCols}")
      try {
        commitFiles(spark, dir, prev + 1, m.files ++ newFiles,
          partCols = m.partCols)
        return prev + 1
      } catch {
        case e: IllegalStateException =>
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"append to $dir lost $maxAttempts races — giving up " +
              "(files orphaned, invisible)", e)
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** The atomic commit point: recount the snapshot, write the
    * manifest to a temp name, rename into place (no-overwrite rename
    * = one winner). `txn`, when present, records an (appId, version)
    * idempotence token in the manifest header — the Delta `txn`
    * action's design, used by [[appendIdempotent]]. Package-private
    * so the spec can drive torn-write scenarios directly.
    */
  private[graft] def commitFiles(spark: SparkSession, dir: String,
      v: Long, files: Seq[String],
      txn: Option[(String, Long)] = None,
      partCols: Seq[String] = Nil): Unit = {
    val nRows = spark.read
      .parquet(files.map(p => s"$dir/$p"): _*).count()
    // r16 (VERDICT r15 #6): per-file size + column min/max ride every
    // manifest line. Inherited files (append lanes) reuse the previous
    // manifest's entries; only NEW files pay one parquet FOOTER read —
    // the footer already carries per-row-group min/max, so stats cost
    // no data scan (the write-side half of the Delta add-file stats
    // discipline, recovered from what parquet persisted anyway).
    val prevMetas: Map[String, FileMeta] =
      if (v <= 0) Map.empty
      else try readManifest(spark, dir, v - 1).metas
        .filter(_.size >= 0).map(m => m.rel -> m).toMap
      catch { case _: IllegalArgumentException => Map.empty }
    // one conf and one set of read options for all the new files
    lazy val conf = spark.sessionState.newHadoopConf()
    lazy val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val metas = files.map(rel =>
      prevMetas.getOrElse(rel, footerMeta(conf, opts, dir, rel)))
    val f = fs(spark, dir)
    val tmp = new Path(dir,
      s"$CommitDirName/.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    val txnField = txn.map { case (app, tv) => s"\ttxn=$app:$tv" }.getOrElse("")
    val partField =
      if (partCols.isEmpty) "" else s"\tpart_cols=${partCols.mkString(",")}"
    def metaLine(m: FileMeta): String =
      s"${m.rel}\tsize=${m.size}" +
        (if (m.stats.isEmpty) "" else s"\tstats=${encodeStats(m.stats)}")
    try {
      out.write((s"version=$v\tn_files=${files.size}\tn_rows=$nRows" +
        s"$txnField$partField\n" +
        metas.map(metaLine).mkString("\n") + "\n").getBytes("UTF-8"))
    } finally out.close()
    val target = commitPath(dir, v)
    try publishNoOverwrite(spark, tmp, target)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        f.delete(tmp, true)
        throw new IllegalStateException(
          s"commit conflict on $dir version $v: another writer committed " +
            "first (this writer's files are orphaned, not visible)", e)
    }
    // only the WINNER of version v reaches this point, so at most one
    // writer races the checkpoint target (and a crashed earlier
    // checkpointer's leftover is detected by the no-overwrite publish)
    if (v > 0 && v % CheckpointInterval == 0)
      writeCheckpoint(spark, dir, v, files, nRows, partCols)
  }

  /** Write the version-`v` CHECKPOINT: the full snapshot file list
    * plus EVERY idempotence token accumulated so far (previous
    * checkpoint's tokens + the manifest headers since), so token
    * lookups never walk more than [[CheckpointInterval]] manifests
    * past the newest checkpoint. Idempotent: if the checkpoint
    * already exists (a crashed previous attempt that got this far,
    * or a replayed commit path), the publish is a silent no-op —
    * checkpoint content is a pure function of the log prefix.
    */
  private def writeCheckpoint(spark: SparkSession, dir: String, v: Long,
      files: Seq[String], nRows: Long, partCols: Seq[String]): Unit = {
    val txns = accumulatedTxns(spark, dir, v, ckptAtOrBelow = v - 1)
    val f = fs(spark, dir)
    val tmp = new Path(dir,
      s"$CommitDirName/.ctmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val partField =
      if (partCols.isEmpty) "" else s"\tpart_cols=${partCols.mkString(",")}"
    val out = f.create(tmp, false)
    try {
      out.write((s"checkpoint=$v\tn_files=${files.size}\tn_rows=$nRows" +
        s"\tn_txns=${txns.size}$partField\n" +
        txns.toSeq.sorted.map { case (a, t) => s"txn=$a:$t" }
          .mkString("", "\n", if (txns.isEmpty) "" else "\n") +
        files.mkString("\n") + "\n").getBytes("UTF-8"))
    } finally out.close()
    try publishNoOverwrite(spark, tmp, checkpointPath(dir, v))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        f.delete(tmp, true) // already checkpointed — same content
    }
  }

  /** Newest checkpoint version at or below `atOrBelow`, if any. */
  private[graft] def latestCheckpoint(spark: SparkSession, dir: String,
      atOrBelow: Long = Long.MaxValue): Option[Long] = {
    val f = fs(spark, dir)
    val cd = new Path(dir, CommitDirName)
    if (!f.exists(cd)) return None
    f.listStatus(cd).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint"))
      .map(n => n.stripSuffix(".checkpoint").toLong)
      .filter(_ <= atOrBelow)
      .sorted.lastOption
  }

  /** All (appId, txnVersion) tokens in commits ≤ `v`: the newest
    * checkpoint ≤ `ckptAtOrBelow` (ONE read, all history behind it)
    * plus the tail manifest headers after it — ≤
    * [[CheckpointInterval]] header reads on a checkpointed table,
    * every version only on a young or never-checkpointed one.
    * Readers pass `ckptAtOrBelow = v` (use the HEAD checkpoint — r16
    * ADVICE: excluding it forgot tokens recorded only there once
    * `retain` dropped the older manifests, a non-monotone dedup
    * horizon with a duplicate-append window); [[writeCheckpoint]]
    * alone passes `v - 1`, because the checkpoint AT v is the one it
    * is about to write.
    */
  private def accumulatedTxns(spark: SparkSession, dir: String,
      v: Long, ckptAtOrBelow: Long): Set[(String, Long)] = {
    val ckpt = latestCheckpoint(spark, dir, atOrBelow = ckptAtOrBelow)
    val base = ckpt.map(readCheckpointTxns(spark, dir, _))
      .getOrElse(Set.empty[(String, Long)])
    val tailStart = ckpt.getOrElse(-1L) + 1
    val tail = versions(spark, dir)
      .filter(x => x >= tailStart && x <= v)
      .flatMap(headerTxn(spark, dir, _))
    base ++ tail
  }

  /** The txn token in version `v`'s manifest header, if any. */
  private[graft] def headerTxn(spark: SparkSession, dir: String,
      v: Long): Option[(String, Long)] = {
    headerReads.incrementAndGet()
    val f = fs(spark, dir)
    val in = f.open(commitPath(dir, v))
    val header = try {
      new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
    } finally in.close()
    header.split("\t").collectFirst {
      case s if s.startsWith("txn=") =>
        val body = s.stripPrefix("txn=")
        val i = body.lastIndexOf(':')
        (body.substring(0, i), body.substring(i + 1).toLong)
    }
  }

  /** Token section of the version-`v` checkpoint. */
  private def readCheckpointTxns(spark: SparkSession, dir: String,
      v: Long): Set[(String, Long)] = {
    headerReads.incrementAndGet()
    val f = fs(spark, dir)
    val in = f.open(checkpointPath(dir, v))
    val lines = ArrayBuffer.empty[String]
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      var l = rd.readLine()
      while (l != null) { if (l.nonEmpty) lines += l; l = rd.readLine() }
    } finally in.close()
    val header = lines.head
    require(header.startsWith(s"checkpoint=$v\t"),
      s"checkpoint for $v is corrupt: header '$header'")
    val nTxns = header.split("\t")
      .collectFirst { case s if s.startsWith("n_txns=") =>
        s.stripPrefix("n_txns=").toInt }
      .getOrElse(0)
    val txnLines = lines.tail.take(nTxns)
    require(txnLines.forall(_.startsWith("txn=")),
      s"checkpoint for $v is torn: expected $nTxns txn lines")
    txnLines.map { l =>
      val body = l.stripPrefix("txn=")
      val i = body.lastIndexOf(':')
      (body.substring(0, i), body.substring(i + 1).toLong)
    }.toSet
  }

  /** Publish `tmp` at `target` failing ATOMICALLY if `target` exists —
    * the commit point's no-overwrite guarantee, which a plain
    * `FileSystem.rename` does NOT give on the local filesystem
    * (RawLocalFileSystem delegates to POSIX rename(2), which silently
    * REPLACES the destination; a non-atomic exists() pre-check leaves
    * a race window where two committers both pass and the later one
    * clobbers the earlier manifest). Two lanes:
    *
    *  - `file:` — POSIX link(2) via `Files.createLink`: the kernel
    *    itself refuses (EEXIST → FileAlreadyExistsException) if the
    *    target appeared, with no check-then-act window at all; the
    *    tmp name is then unlinked.
    *  - everything else — `FileContext.rename(src, dst,
    *    Options.Rename.NONE)`, the public Delta HDFSLogStore
    *    discipline (atomic no-overwrite on HDFS; throws
    *    FileAlreadyExistsException on an occupied destination).
    */
  private def publishNoOverwrite(spark: SparkSession, tmp: Path,
      target: Path): Unit = {
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val f = fs(spark, target.toString)
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            target.toString)
      }
      f.delete(tmp, false) // drops the tmp link (+ checksum sidecar)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sessionState.newHadoopConf())
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
    }
  }

  /** Idempotence tokens already committed for `appId`. Since r15 this
    * rides the checkpoint: ONE checkpoint read + ≤
    * [[CheckpointInterval]] tail manifest headers, instead of one
    * header per version ever committed — the read cost a years-old
    * table's exactly-once sink pays per micro-batch stays O(1).
    * (TxTableSpec pins both the read count and equivalence with the
    * full-history scan.)
    */
  def committedTxns(spark: SparkSession, dir: String,
      appId: String): Set[Long] = {
    val v = currentVersion(spark, dir)
    accumulatedTxns(spark, dir, v, ckptAtOrBelow = v)
      .collect { case (a, t) if a == appId => t }
  }

  /** EXACTLY-ONCE APPEND under at-least-once delivery (E317, the
    * Delta `txn`/`foreachBatch(batchId)` pattern): append `df` tagged
    * with `(appId, txnVersion)`; a REPLAY of an already-committed
    * (appId, txnVersion) is a silent no-op, so a streaming
    * `foreachBatch((batch, id) => appendIdempotent(batch, dir, "q",
    * id))` sink lands each micro-batch exactly once no matter how
    * often the engine retries it. The check and the commit share the
    * rename's atomicity: a racing duplicate that passes the check
    * still loses the no-overwrite rename and fails loudly — at worst
    * a retry observes the token and no-ops. Returns the committed
    * version, or -1 for a skipped replay.
    */
  def appendIdempotent(df: DataFrame, dir: String, appId: String,
      txnVersion: Long): Long = {
    val spark = df.sparkSession
    if (committedTxns(spark, dir, appId).contains(txnVersion)) return -1L
    val prev = currentVersion(spark, dir)
    val v = prev + 1
    val (base, partCols) =
      if (prev >= 0) {
        val m = readManifest(spark, dir, prev)
        (m.files, m.partCols)
      } else (Seq.empty[String], Nil)
    commitFiles(spark, dir, v, base ++ writeData(df, dir, s"v$v", partCols),
      txn = Some((appId, txnVersion)), partCols = partCols)
    v
  }

  /** Per-column min/max recorded for one data file (r16, VERDICT r15
    * #6 — the Delta add-file stats discipline): `kind` selects the
    * comparison domain ('i' signed long, 'd' double, 's' UTF-8 byte
    * order, matching Spark's UTF8String binary compare), `min`/`max`
    * are the encoded bounds. Only columns whose bounds are KNOWN for
    * every row group of the file are recorded — a file with no entry
    * for a column is never skipped (conservative).
    */
  private[graft] final case class ColStat(kind: Char, min: String,
      max: String)

  /** One manifest file entry: relative path, byte size (lets readers
    * plan without any filesystem listing — the log is the source of
    * truth), and the per-column stats.
    */
  private[graft] final case class FileMeta(rel: String, size: Long,
      stats: Map[String, ColStat])

  /** Parsed manifest: file list + partition columns + row count.
    * `metas` carries the r16 per-file size/stats; manifests written
    * before r16 parse with size -1 and empty stats (readers fall back
    * to a filesystem listing and never skip those files).
    */
  private[graft] final case class Manifest(v: Long, nRows: Long,
      files: Seq[String], partCols: Seq[String],
      metas: Seq[FileMeta]) {
    def sizes: Map[String, Long] =
      metas.collect { case m if m.size >= 0 => m.rel -> m.size }.toMap
  }

  /** Parse a version's manifest. */
  private[graft] def readManifest(spark: SparkSession, dir: String,
      v: Long): Manifest = {
    headerReads.incrementAndGet()
    val f = fs(spark, dir)
    val p = commitPath(dir, v)
    require(f.exists(p), s"table $dir has no committed version $v " +
      s"(have: ${versions(spark, dir).mkString(", ")})")
    val in = f.open(p)
    val lines = ArrayBuffer.empty[String]
    try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      var l = rd.readLine()
      while (l != null) { if (l.nonEmpty) lines += l; l = rd.readLine() }
    } finally in.close()
    val header = lines.head
    require(header.startsWith(s"version=$v\t"),
      s"manifest $p is corrupt: header '$header'")
    val fields = header.split("\t")
    val nFiles = fields(1).stripPrefix("n_files=").toInt
    val nRows = fields(2).stripPrefix("n_rows=").toLong
    val partCols = fields.collectFirst {
      case s if s.startsWith("part_cols=") =>
        s.stripPrefix("part_cols=").split(",").toSeq
    }.getOrElse(Nil)
    val metas = lines.tail.toSeq.map(parseFileLine)
    require(metas.size == nFiles,
      s"manifest $p is torn: lists ${metas.size} files, header says $nFiles")
    Manifest(v, nRows, metas.map(_.rel), partCols, metas)
  }

  /** Parse one manifest file line: `rel[\tsize=N][\tstats=…]`.
    * Pre-r16 lines are the bare path (size −1, no stats).
    */
  private def parseFileLine(line: String): FileMeta = {
    val parts = line.split("\t")
    val size = parts.collectFirst {
      case s if s.startsWith("size=") => s.stripPrefix("size=").toLong
    }.getOrElse(-1L)
    val stats = parts.collectFirst {
      case s if s.startsWith("stats=") => decodeStats(s.stripPrefix("stats="))
    }.getOrElse(Map.empty[String, ColStat])
    FileMeta(parts(0), size, stats)
  }

  /** `col:k:min:max;…` with every variable part percent-encoded. */
  private def encodeStats(stats: Map[String, ColStat]): String =
    stats.toSeq.sortBy(_._1).map { case (c, st) =>
      s"${pctEncode(c)}:${st.kind}:${pctEncode(st.min)}:${pctEncode(st.max)}"
    }.mkString(";")

  private def decodeStats(s: String): Map[String, ColStat] =
    if (s.isEmpty) Map.empty
    else s.split(";").map { ent =>
      val p = ent.split(":")
      pctDecode(p(0)) -> ColStat(p(1).charAt(0), pctDecode(p(2)),
        pctDecode(p(3)))
    }.toMap

  /** Percent-encode a value for the tab/colon/semicolon-structured
    * manifest line: every UTF-8 byte outside printable ASCII, plus the
    * delimiters themselves, becomes %XX — so stats round-trip ANY
    * string value, including ones carrying tabs, newlines, or the
    * delimiters. Decoding back yields the exact original bytes, which
    * is also what the 's'-kind comparisons order by.
    */
  private def pctEncode(s: String): String = {
    val bytes = s.getBytes("UTF-8")
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach { b =>
      val c = b & 0xff
      if (c <= 0x20 || c > 0x7e || c == '%' || c == ':' || c == ';')
        sb.append(f"%%$c%02X")
      else sb.append(c.toChar)
    }
    sb.toString
  }

  private def pctDecode(s: String): String =
    new String(pctDecodeBytes(s), "UTF-8")

  private def pctDecodeBytes(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    out.toByteArray
  }

  /** Size + per-column min/max for a freshly written data file, read
    * from its parquet FOOTER (one metadata read; the footer's
    * row-group statistics are aggregated to file bounds — no data
    * scan). A column is recorded only when its bound is sound for
    * range skipping:
    *
    *  - every row group has usable statistics (or is provably
    *    all-null, which cannot satisfy a range predicate),
    *  - the type's comparison domain is one this manifest can encode
    *    faithfully — signed int32/int64 ('i'), float/double ('d',
    *    dropped if a bound is NaN: the parquet spec leaves NaN bounds
    *    unreliable), or UTF-8 strings ('s', byte order = Spark's
    *    UTF8String order; dropped above 256 bytes rather than
    *    truncated, because a truncated max can wrongly exclude).
    *
    * Everything else (dates, timestamps, decimals, nested paths) is
    * simply not recorded — absent stats mean "never skip", so the
    * restriction costs pruning opportunity, never correctness.
    *
    * `opts` are built once per commit from the session `conf` (the
    * [[graft.ext.IndexFiles]] footer discipline): the one-argument
    * parquet file open would build them from a fresh Hadoop
    * `Configuration` per file.
    */
  private def footerMeta(conf: org.apache.hadoop.conf.Configuration,
      opts: org.apache.parquet.ParquetReadOptions, dir: String,
      rel: String): FileMeta = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(dir, rel), conf)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
    val footer = try rd.getFooter finally rd.close()
    val acc = scala.collection.mutable.Map.empty[String, ColStat]
    val dropped = scala.collection.mutable.Set.empty[String]
    for (block <- footer.getBlocks.asScala;
         cc <- block.getColumns.asScala) {
      val pathParts = cc.getPath.toArray
      if (pathParts.length == 1) {
        val name = pathParts(0)
        if (!dropped.contains(name)) {
          val pt = cc.getPrimitiveType
          val ann = pt.getLogicalTypeAnnotation
          val kind: Option[Char] = pt.getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT32 |
                 PrimitiveType.PrimitiveTypeName.INT64 => ann match {
              case null => Some('i')
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                  if i.isSigned => Some('i')
              case _ => None
            }
            case PrimitiveType.PrimitiveTypeName.FLOAT |
                 PrimitiveType.PrimitiveTypeName.DOUBLE =>
              if (ann == null) Some('d') else None
            case PrimitiveType.PrimitiveTypeName.BINARY => ann match {
              case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                Some('s')
              case _ => None
            }
            case _ => None
          }
          val st = cc.getStatistics
          val allNull = st != null && st.isNumNullsSet &&
            st.getNumNulls == cc.getValueCount
          kind match {
            case None =>
              dropped += name
            case Some(_) if allNull =>
              () // contributes no comparable values; bound unchanged
            case Some(k) if st != null && st.hasNonNullValue =>
              val (mn, mx) = k match {
                case 'i' =>
                  (st.genericGetMin.toString, st.genericGetMax.toString)
                case 'd' =>
                  val lo = st.genericGetMin.asInstanceOf[Number].doubleValue()
                  val hi = st.genericGetMax.asInstanceOf[Number].doubleValue()
                  if (lo.isNaN || hi.isNaN) { dropped += name; ("", "") }
                  else (lo.toString, hi.toString)
                case 's' =>
                  val lo = st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  val hi = st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  if (lo.length > 256 || hi.length > 256) {
                    dropped += name; ("", "")
                  } else (new String(lo, "UTF-8"), new String(hi, "UTF-8"))
              }
              if (!dropped.contains(name)) acc.get(name) match {
                case None => acc(name) = ColStat(k, mn, mx)
                case Some(prev) =>
                  acc(name) = ColStat(k,
                    if (statLt(k, mn, prev.min)) mn else prev.min,
                    if (statLt(k, prev.max, mx)) mx else prev.max)
              }
            case Some(_) =>
              dropped += name // a row group without usable stats
          }
        }
      }
    }
    dropped.foreach(acc.remove)
    FileMeta(rel, in.getLength, acc.toMap)
  }

  /** `a < b` in a stat kind's comparison domain. */
  private def statLt(kind: Char, a: String, b: String): Boolean =
    kind match {
      case 'i' => a.toLong < b.toLong
      case 'd' => a.toDouble < b.toDouble
      case _ => // UTF-8 byte order — Spark's UTF8String.compareTo
        val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val d = (x(i) & 0xff) - (y(i) & 0xff)
          if (d != 0) return d < 0
          i += 1
        }
        x.length < y.length
    }

  /** Parse a version's manifest → relative file list. */
  private def manifestFiles(spark: SparkSession, dir: String,
      v: Long): Seq[String] = readManifest(spark, dir, v).files

  /** Recorded row count of version `v` (written at commit time). */
  def committedRows(spark: SparkSession, dir: String, v: Long): Long =
    readManifest(spark, dir, v).nRows

  /** TIME TRAVEL: the table exactly as committed at version `v`. On a
    * partitioned table the partition columns are re-attached from the
    * recorded `col=val` path segments (they are not stored in the
    * data files — the Hive layout), as STRING, per the
    * [[commitPartitioned]] contract.
    */
  def snapshotAt(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val m = readManifest(spark, dir, v)
    if (m.partCols.isEmpty)
      spark.read.parquet(m.files.map(p => s"$dir/$p"): _*)
    else readPartitionedFiles(spark, dir, m.files, m.partCols,
      sizes = m.sizes)
  }

  /** Decode Spark's %XX path escaping for a partition value. */
  private def unescapePart(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values of a recorded relative path, in `partCols`
    * order, parsed from its `col=val` segments.
    */
  private def partValues(rel: String, partCols: Seq[String])
      : Seq[String] = {
    val segs = rel.split("/")
    partCols.map { c =>
      segs.collectFirst {
        case s if s.startsWith(s"$c=") => unescapePart(s.substring(c.length + 1))
      }.getOrElse(throw new IllegalStateException(
        s"file $rel carries no $c= partition segment — manifest and " +
          "layout disagree"))
    }
  }

  /** Read a partitioned snapshot's files with partition columns
    * re-attached from their recorded `col=val` path segments, as ONE
    * relation over a [[ManifestFileIndex]] (r16, VERDICT r15 #2 —
    * replaces a per-partition-value `unionByName` fold whose plan
    * grew one union leg per distinct partition tuple). Deterministic
    * typing (STRING, the commit-side contract) — the FileIndex hands
    * Spark the partition values directly; no path re-inference exists
    * to silently retype a partition column between engines.
    *
    * `files` may be EMPTY (the no-matching-partition read): the scan
    * plans zero data files, with the schema pinned from one footer of
    * `schemaProbe` — the previous implementation planned the FULL
    * file list filtered `lit(false)` just to recover the schema
    * (ADVICE r15), breaking files-read ∝ matching-partitions exactly
    * in the empty case.
    */
  private def readPartitionedFiles(spark: SparkSession, dir: String,
      files: Seq[String], partCols: Seq[String],
      schemaProbe: Option[String] = None,
      sizes: Map[String, Long] = Map.empty): DataFrame = {
    val probe = schemaProbe.orElse(files.headOption).getOrElse(
      throw new IllegalArgumentException(
        "empty file list needs an explicit schema probe file"))
    // ONE footer read pins the data schema — every file of a committed
    // snapshot shares it (single-writer snapshot semantics), matching
    // spark.read.parquet's own first-footer behavior sans mergeSchema
    val dataSchema = spark.read.parquet(s"$dir/$probe").schema
    val partSchema = org.apache.spark.sql.types.StructType(
      partCols.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.StringType, nullable = true)))
    val statuses = fileStatuses(spark, dir, files, sizes)
    val groups = files.zip(statuses)
      .groupBy { case (f, _) => partValues(f, partCols) }
      .toSeq.sortBy(_._1.mkString("/"))
      .map { case (vals, fl) => (vals, fl.map(_._2)) }
    org.apache.spark.sql.graftbridge.GraftBridge.parquetTable(spark,
      new ManifestFileIndex(new Path(dir), groups, partSchema), dataSchema)
  }

  /** `FileStatus` for each manifest-relative path. When the manifest
    * recorded every file's SIZE (r16 format), statuses are built
    * straight from the log — ZERO filesystem metadata calls on the
    * read path, the property that keeps a million-file table's
    * planning driver-cheap. Pre-r16 manifests fall back to ONE
    * `listStatus` per distinct parent directory (not one RPC per
    * file); a missing file fails loudly there — the manifest is the
    * source of truth and data files are immutable under it.
    */
  private def fileStatuses(spark: SparkSession, dir: String,
      files: Seq[String], sizes: Map[String, Long]): Seq[FileStatus] = {
    if (files.isEmpty) return Seq.empty
    val f = fs(spark, dir)
    if (files.forall(sizes.contains))
      return files.map { rel =>
        new FileStatus(sizes(rel), false, 1, 128L * 1024 * 1024, 0L,
          f.makeQualified(new Path(dir, rel)))
      }
    val byParent = files.map(rel => f.makeQualified(new Path(dir, rel)))
      .groupBy(_.getParent)
    val known: Map[Path, FileStatus] = byParent.keysIterator.flatMap { p =>
      f.listStatus(p).iterator.map(st => st.getPath -> st)
    }.toMap
    files.map { rel =>
      known.getOrElse(f.makeQualified(new Path(dir, rel)),
        throw new IllegalStateException(
          s"manifest references missing file $rel — data files were " +
            "deleted behind the log"))
    }
  }

  /** PARTITION-PRUNED snapshot read (r15, VERDICT r14 #7): plan ONLY
    * the current version's files whose recorded partition values
    * match `partFilter` — file pruning happens at the MANIFEST, so
    * the scan's files-read is proportional to matching partitions
    * (TxTableSpec pins `inputFiles` ⊆ the matching `col=val` dirs).
    * An empty match returns the empty table with the full schema.
    */
  def snapshotWhere(spark: SparkSession, dir: String,
      partFilter: Map[String, String]): DataFrame = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"$dir has no committed version — nothing to read")
    val m = readManifest(spark, dir, v)
    require(m.partCols.nonEmpty,
      s"$dir is not partitioned — snapshotWhere prunes by partition " +
        "values recorded at commit time")
    val unknown = partFilter.keySet -- m.partCols.toSet
    require(unknown.isEmpty,
      s"filter names non-partition columns: ${unknown.mkString(", ")}")
    val matching = m.files.filter { f =>
      val vals = m.partCols.zip(partValues(f, m.partCols)).toMap
      partFilter.forall { case (k, w) => vals(k) == w }
    }
    if (matching.isEmpty)
      // zero data files planned; schema pinned from one footer (r16
      // ADVICE — was: plan ALL files filtered lit(false))
      readPartitionedFiles(spark, dir, Nil, m.partCols,
        schemaProbe = Some(m.files.head))
    else readPartitionedFiles(spark, dir, matching, m.partCols,
      sizes = m.sizes)
  }

  /** RANGE-SKIPPING snapshot read (r16, VERDICT r15 #6 — the Delta
    * per-file-stats data-skipping discipline): plan only the current
    * version's files whose recorded `[min, max]` for `column` overlaps
    * `[lower, upper]`, then apply the exact predicate on the scan —
    * files-read ∝ files intersecting the range (exactly proportional
    * when commits cluster the column, e.g. a `repartitionByRange`
    * write; TxTableSpec pins `inputFiles`), results exactly the
    * predicate's (the skip is planning-only). Files without recorded
    * stats for `column` are always planned — stats absence degrades to
    * a full scan, never to a wrong answer. Works on partitioned and
    * unpartitioned tables; partition columns route to [[snapshotWhere]]
    * (their values live in paths, not footers).
    *
    * `lower`/`upper` are inclusive bounds in the column's domain:
    * integral or floating numbers for 'i'/'d' columns, strings for
    * 's' columns (compared in UTF-8 byte order, matching Spark).
    */
  def snapshotWhereRange(spark: SparkSession, dir: String,
      column: String, lower: Any, upper: Any): DataFrame = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"$dir has no committed version — nothing to read")
    val m = readManifest(spark, dir, v)
    require(!m.partCols.contains(column),
      s"$column is a partition column — use snapshotWhere")
    val matching = m.metas.filter(fm =>
      fm.stats.get(column).forall(rangeOverlaps(_, lower, upper)))
    val base =
      if (matching.isEmpty)
        readPartitionedFiles(spark, dir, Nil, m.partCols,
          schemaProbe = Some(m.files.head))
      else readPartitionedFiles(spark, dir, matching.map(_.rel),
        m.partCols, sizes = m.sizes)
    base.filter(col(column) >= lit(lower) && col(column) <= lit(upper))
  }

  /** Does `[lower, upper]` intersect the file's recorded bound? */
  private def rangeOverlaps(st: ColStat, lower: Any,
      upper: Any): Boolean = {
    val (lo, hi) = (lower.toString, upper.toString)
    // empty iff upper < min or lower > max
    !(statLt(st.kind, hi, st.min) || statLt(st.kind, st.max, lo))
  }

  /** The current table = highest committed version; a table with no
    * commits fails loudly (orphan data files are not a table).
    */
  def snapshot(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(spark, dir)
    require(v >= 0, s"$dir has no committed version — nothing to read " +
      "(a crashed initial commit leaves only invisible orphans)")
    snapshotAt(spark, dir, v)
  }

  /** Integrity audit for version `v`: the files exist and their row
    * count equals the count recorded at commit time.
    */
  def validate(spark: SparkSession, dir: String, v: Long): Unit = {
    val got = snapshotAt(spark, dir, v).count()
    val want = committedRows(spark, dir, v)
    require(got == want,
      s"version $v of $dir has $got rows, manifest says $want — " +
        "data files were mutated behind the log")
  }

  /** RETENTION + VACUUM: drop every commit older than the newest
    * `keepLast` versions, then physically delete the snapshot
    * directories no retained manifest references. Deletion order is
    * the crash-safety argument: manifests go FIRST (time travel to a
    * dropped version refuses immediately and atomically, per-version),
    * data files second — a crash between the two leaves only
    * PRESENT-but-unreferenced files, which are invisible to every
    * reader (the torn-write property) and reclaimed by the next
    * retain. A snapshot directory is removed only when NONE of its
    * files is referenced by a retained manifest; append-made versions
    * reference earlier dirs wholesale, so shared dirs survive as long
    * as any retained version needs them. Idempotence tokens riding on
    * dropped commits are forgotten with them — retention bounds the
    * replay-dedup horizon exactly like it bounds time travel, which is
    * the Delta/Iceberg trade stated openly.
    */
  /** COMPACTION (r16 — the Delta `OPTIMIZE [ZORDER BY]` shape on this
    * log): commit the current snapshot rewritten into `numFiles`
    * files as the next version. Old versions stay time-travelable
    * (compaction is just a commit; `retain` reclaims the small files
    * later), readers switch atomically, and the new files' footer
    * stats land in the manifest like any commit's — so compaction is
    * also how a table's SKIPPING gets repaired after many small
    * appends widened per-file bounds.
    *
    * `clusterBy` re-clusters while rewriting (unpartitioned tables):
    *  - one column → range partition + sort within files: tightest
    *    possible single-column bounds for [[snapshotWhereRange]];
    *  - two NUMERIC columns → Z-order (Morton) via [[ZOrder.zValue]]
    *    over each column linearly scaled into its 16-bit lane by the
    *    column's own min/max — both dimensions get small per-file
    *    tiles, so a range read on EITHER prunes (the [[ZOrder]]
    *    scaladoc's ~√F-of-F property). Linear scaling is a layout
    *    heuristic (skewed columns cluster less evenly than rank-based
    *    ids would); it can only cost skipping, never correctness —
    *    the manifest records whatever bounds the files actually have.
    *
    * Partitioned tables compact with `clusterBy = Nil`: the rewrite
    * repartitions by the partition columns so each partition's rows
    * coalesce into few files (per-partition clustering composes with
    * hive pruning; cross-partition Z-order would fight the layout).
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
      clusterBy: Seq[String] = Nil): Long = {
    require(numFiles >= 1, "compaction needs a positive file target")
    val v = currentVersion(spark, dir)
    require(v >= 0, s"$dir has no committed version — nothing to compact")
    val m = readManifest(spark, dir, v)
    val snap = snapshotAt(spark, dir, v)
    if (m.partCols.nonEmpty) {
      require(clusterBy.isEmpty,
        "clusterBy applies to unpartitioned tables — partitioned " +
          "compaction clusters by the partition columns")
      val laid = snap.repartition(numFiles, m.partCols.map(col): _*)
      commitPartitioned(laid, dir, m.partCols)
    } else clusterBy match {
      case Nil =>
        commit(snap.repartition(numFiles), dir)
      case Seq(c) =>
        commit(snap.repartitionByRange(numFiles, col(c))
          .sortWithinPartitions(col(c)), dir)
      case Seq(a, b) =>
        require(!snap.columns.contains("__z"),
          "compact: input already has a __z column; rename it first")
        val bounds = snap.agg(
          min(col(a)).cast("double"), max(col(a)).cast("double"),
          min(col(b)).cast("double"), max(col(b)).cast("double")).head()
        def lane(c: String, lo: Double, hi: Double): org.apache.spark.sql.Column = {
          val span = if (hi > lo) hi - lo else 1.0
          ((col(c).cast("double") - lit(lo)) / lit(span) * lit(65535.0))
            .cast("long")
        }
        val laid = snap
          .withColumn("__z", ZOrder.zValue(
            lane(a, bounds.getDouble(0), bounds.getDouble(1)),
            lane(b, bounds.getDouble(2), bounds.getDouble(3))))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
        commit(laid, dir)
      case other =>
        throw new IllegalArgumentException(
          s"clusterBy supports 1 (range) or 2 (Z-order) columns, " +
            s"got ${other.size}")
    }
  }

  def retain(spark: SparkSession, dir: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "retention must keep at least one version")
    val vs = versions(spark, dir)
    val drop = vs.dropRight(keepLast)
    if (drop.isEmpty) return
    val keep = vs.takeRight(keepLast)
    val referenced = keep.flatMap(v => manifestFiles(spark, dir, v)).toSet
    val f = fs(spark, dir)
    drop.foreach(v => f.delete(commitPath(dir, v), false))
    // checkpoints of dropped versions reference data files the sweep
    // below may reclaim — they go with their manifests. Token-horizon
    // consequence, stated openly: retention bounds the replay-dedup
    // window exactly as before (a checkpoint only outlives its
    // manifest while its version is retained).
    drop.foreach { v =>
      val cp = checkpointPath(dir, v)
      if (f.exists(cp)) f.delete(cp, false)
    }
    val dataDir = new Path(dir, "data")
    if (f.exists(dataDir)) {
      f.listStatus(dataDir).foreach { st =>
        val sub = st.getPath.getName
        val files = f.listStatus(st.getPath).toSeq
          .map(_.getPath.getName)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        if (files.nonEmpty &&
            files.forall(n => !referenced.contains(s"data/$sub/$n")))
          f.delete(st.getPath, true)
      }
    }
  }
}
