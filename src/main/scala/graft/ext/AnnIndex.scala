package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted-index serving contract for the residual IVF-PQ tier
  * (E260, VERDICT r12 #3): a real deployment builds its ANN index
  * ONCE — coarse centroids, trained codebooks, per-vector codes — and
  * serves many queries from the persisted artifact, where every
  * in-repo ANN row so far rebuilt the index inside the query.
  *
  * Artifact layout under one directory (all parquet — the index IS a
  * set of tables, readable by any engine):
  *
  *   centroids.parquet  (cpart, cvec: double[])     — coarse quantizer
  *   codebooks.parquet  (cl, m, cvec: double[])     — trained PQ books
  *   codes.parquet      (id, c0..c{M−1} / cell=K/)  — integer codes,
  *                                                    HIVE-PARTITIONED
  *                                                    by coarse cell
  *   tombstones.parquet (id)                        — deleted, not yet
  *                                                    compacted away
  *   cellstats.parquet  (cell, n)                   — per-cell physical
  *                                                    population
  *   manifest.parquet   (1 row: format/geometry/counts)
  *
  * The cell-partitioned code layout is the on-disk form of IVF's
  * whole point (v3, VERDICT r13 #1): a probe touches probe/cells of
  * the data, so the SERVE scan must read probe/cells of the FILES.
  * [[searchTopK]] resolves each query's probed cells, then scans
  * `codes.parquet` through a static `cell IN (…)` partition filter —
  * directory pruning, pinned by AnnPruneSpec exactly like the E49
  * lang-partition witness — instead of filtering all N rows post-scan.
  * At a billion vectors and 2/32 cells probed, that is 1/16th of the
  * row groups read, and the win grows linearly with the cell count.
  *
  * The manifest is written LAST, so a crashed build never presents a
  * loadable index; [[load]] re-asserts it — format version, geometry
  * arithmetic, and the row count of every table against the counts
  * recorded at build time (a truncated or mixed-version artifact fails
  * loudly, not as silent recall loss). Since v3 that integrity gate
  * runs ONCE PER SESSION per artifact ([[loadCached]]), not once per
  * search — counting four tables per query was serve-path overhead
  * that re-verified what build/append/delete/compact already verified
  * when they rewrote the manifest; writers invalidate the cache so
  * the next search revalidates exactly once. Parquet round-trips IEEE
  * doubles bit-exactly, so a search over the re-loaded artifact is
  * hash-identical to the in-memory chain — AnnIndexSpec pins that, and
  * the `emb_persisted_topk` gate row hashes the read-back search
  * against the same oracle as the in-memory E243 row.
  *
  * Scale shape: the build is the E243 build (one corpus scan per
  * stage, bounded driver state in training); serving reads two small
  * broadcast tables plus the PRUNED slice of the integer code table —
  * the raw vectors never load at query time.
  */
object AnnIndex {

  /** v2 added the tombstone table (E263); v3 hive-partitions
    * `codes.parquet` by `cell` and moves count verification off the
    * per-search path; v4 adds `cellstats.parquet` (cell, n) so the
    * ADAPTIVE probe rule reads build-time population STATISTICS
    * instead of aggregating the whole code table per search; v5 added
    * an optional learned OPQ rotation (`rotation.parquet`,
    * `n_rot_rows`); v6 removes it again — measured below raw PQ recall
    * on the served artifact (SCALING.md, "Round-15 OPQ-composed
    * serving"). The v6 bump matters most there: a rotated v5
    * artifact served with unrotated queries would lose recall
    * silently, so [[load]] refuses it instead. Each bump keeps a
    * reader from mis-reading another version's layout.
    */
  val FormatVersion = 6

  /** Loaded, validated artifact handles. */
  final case class Index(numSub: Int, subDim: Int,
      centroids: DataFrame, codebooks: DataFrame, codes: DataFrame,
      tombstones: DataFrame, cellStats: DataFrame) {
    /** Codes visible to a search: physical rows minus tombstoned ids
      * (the Lucene/FAISS soft-delete read path; [[compact]] makes it
      * physical).
      */
    def liveCodes: DataFrame =
      codes.join(tombstones.select(col("id")), Seq("id"), "left_anti")
  }

  /** Once-per-session validated loads, keyed by artifact directory:
    * the serve path pays the four count scans on FIRST touch, then
    * reuses the validated handles. Every writer [[invalidate]]s its
    * directory, so a post-write search revalidates (and re-lists the
    * changed files) exactly once.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Index]()

  /** Drop the cached validated load for `dir` — for EVERY session
    * (writers call this after rewriting the manifest; tests may call
    * it to force a revalidation).
    */
  def invalidate(dir: String): Unit =
    cache.keySet.removeIf(_._2 == dir)

  /** [[load]] through the session cache — the serve-path entry. The
    * key includes the session's identity: cached DataFrames are bound
    * to the session that loaded them, so a second session in the same
    * JVM (or a test session sequence reusing an artifact dir) gets
    * its OWN validated load rather than handles bound to a stopped
    * session. r16 (ADVICE): the identity half is a per-session UUID
    * from [[SessionToken]] (identityHashCode is not unique) and the
    * key is a TUPLE (no separator to alias a '|'-bearing path).
    * Out-of-process writers are outside the cache's visibility by
    * design — cross-process serving revalidates per session, and
    * same-process writers invalidate explicitly.
    */
  def loadCached(spark: SparkSession, dir: String): Index =
    cache.computeIfAbsent(
      (SessionToken.of(spark), dir), _ => load(spark, dir))

  /** Manifest row describing the tables ON DISK — every writer calls
    * this LAST, after its table writes, with counts re-read from the
    * written files: a crashed build/append/delete/compact leaves a
    * manifest whose counts fail [[load]]'s check, never a silently
    * short or stale index.
    */
  private def writeManifest(spark: SparkSession, dir: String,
      numSub: Int, subDim: Int): Unit = {
    val nCells = spark.read.parquet(s"$dir/centroids.parquet").count()
    val nBook = spark.read.parquet(s"$dir/codebooks.parquet").count()
    val nVecs = spark.read.parquet(s"$dir/codes.parquet").count()
    val nTomb = spark.read.parquet(s"$dir/tombstones.parquet").count()
    val nStat = spark.read.parquet(s"$dir/cellstats.parquet").count()
    import spark.implicits._
    Seq((FormatVersion, numSub, subDim, numSub * subDim,
        Similarity.PqCodewords, Similarity.PqTrainIters,
        nCells, nBook, nVecs, nTomb, nStat))
      .toDF("format_version", "num_sub", "sub_dim", "dim",
        "num_codewords", "train_iters",
        "n_cells", "n_codebook_rows", "n_vectors", "n_tombstones",
        "n_stat_rows")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest.parquet")
    invalidate(dir)
  }

  /** Per-cell PHYSICAL population statistics, recomputed from the
    * WRITTEN code files (the manifest recount discipline) after every
    * build/append/compact. Deliberately NOT maintained by [[delete]]:
    * adaptive probe targeting is a statistics decision (a deployment
    * refreshes stats at compaction), while LIVENESS is enforced by the
    * tombstone anti-join on the candidate set — a slightly-stale
    * population can only widen a probe set, never return a deleted
    * row.
    */
  private def writeCellStats(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/codes.parquet")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/cellstats.parquet")

  /** Build and persist the index for `vecs (id, part, vec)` under
    * `outDir` (`part` seeds the coarse quantizer, the repo-wide IVF
    * convention).
    */
  def build(vecs: DataFrame, numSub: Int, subDim: Int,
      outDir: String): Unit = {
    val spark = vecs.sparkSession
    val (cvecs, cw, codes) = Similarity.residualIndexBuild(
      vecs, numSub, subDim)
    cvecs.write.mode("overwrite").parquet(s"$outDir/centroids.parquet")
    cw.write.mode("overwrite").parquet(s"$outDir/codebooks.parquet")
    codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outDir/codes.parquet")
    // empty tombstone set with the CODES id type — delete() appends to
    // this file, and parquet append demands an identical schema
    spark.read.parquet(s"$outDir/codes.parquet").select(col("id"))
      .limit(0)
      .write.mode("overwrite").parquet(s"$outDir/tombstones.parquet")
    writeCellStats(spark, outDir)
    writeManifest(spark, outDir, numSub, subDim)
  }

  /** Load + validate. Throws (IllegalArgumentException) on a missing,
    * truncated, or wrong-version artifact. The count scans make this
    * the INTEGRITY gate, not the serve path — searches go through
    * [[loadCached]], which runs this once per session per artifact.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val m = spark.read.parquet(s"$dir/manifest.parquet").head()
    def mi(f: String): Int = m.getAs[Int](f)
    def ml(f: String): Long = m.getAs[Long](f)
    require(mi("format_version") == FormatVersion,
      s"index at $dir has format ${mi("format_version")}, " +
        s"this reader speaks $FormatVersion")
    require(mi("num_sub") * mi("sub_dim") == mi("dim"),
      s"manifest geometry inconsistent: ${mi("num_sub")}×${mi("sub_dim")}" +
        s" != ${mi("dim")}")
    val cvecs = spark.read.parquet(s"$dir/centroids.parquet")
    val cw = spark.read.parquet(s"$dir/codebooks.parquet")
    val codes = spark.read.parquet(s"$dir/codes.parquet")
    val tomb = spark.read.parquet(s"$dir/tombstones.parquet")
    val stats = spark.read.parquet(s"$dir/cellstats.parquet")
    def check(name: String, df: DataFrame, want: Long): Unit = {
      val got = df.count()
      require(got == want,
        s"index table $name has $got rows, manifest says $want — " +
          "truncated or mixed-version artifact")
    }
    check("centroids", cvecs, ml("n_cells"))
    check("codebooks", cw, ml("n_codebook_rows"))
    check("codes", codes, ml("n_vectors"))
    check("tombstones", tomb, ml("n_tombstones"))
    check("cellstats", stats, ml("n_stat_rows"))
    Index(mi("num_sub"), mi("sub_dim"), cvecs, cw, codes, tomb, stats)
  }

  /** Incrementally APPEND `newVecs (id, vec)` to a persisted index
    * (E262) — the FAISS `add` semantics: assign + PQ-encode the new
    * batch under the artifact's FROZEN centroids and codebooks (no
    * retraining), append the codes, and rewrite the manifest LAST with
    * the new count (a crashed append leaves a manifest that fails the
    * count check, never a silently short index). Guards: EVERY vector
    * in the batch must match the manifest geometry (min = max = dim,
    * not a first-row sniff — a mixed-width batch must not half-write),
    * and batch ids must be disjoint from the indexed set (this is add,
    * not upsert). Quantizer staleness is the explicit price —
    * AppendSpec measures appended-vs-rebuilt recall instead of
    * assuming the frozen books still fit tomorrow's distribution.
    */
  def append(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val idx = load(spark, dir)
    val dim = idx.numSub * idx.subDim
    val widths = newVecs
      .agg(min(size(col("vec"))).as("lo"), max(size(col("vec"))).as("hi"))
      .head()
    require(widths.getInt(0) == dim && widths.getInt(1) == dim,
      s"append batch has dims in [${widths.getInt(0)}, " +
        s"${widths.getInt(1)}], index geometry says $dim")
    val dup = newVecs.select(col("id"))
      .join(idx.codes.select(col("id")), "id").count()
    require(dup == 0,
      s"append batch shares $dup ids with the indexed set — " +
        "append is add, not upsert")
    Similarity.residualEncodeFrozen(newVecs, idx.centroids,
        idx.codebooks, idx.numSub, idx.subDim)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/codes.parquet")
    writeCellStats(spark, dir)
    writeManifest(spark, dir, idx.numSub, idx.subDim)
  }

  /** DELETE `ids (id)` from the persisted index (E263) — the soft
    * path: ids are appended to the tombstone table and every search
    * anti-joins it ([[Index.liveCodes]]); the codes stay physical
    * until [[compact]]. This is the Lucene/FAISS deletion design —
    * a delete costs O(batch) regardless of index size. Strict by
    * contract: every id must exist and not already be tombstoned
    * (a delete that silently no-ops hides caller bugs). Manifest is
    * rewritten LAST, so a crashed delete fails the tombstone count
    * check rather than serving half a deletion.
    *
    * Note the interaction with [[append]]: a tombstoned id still owns
    * physical code rows, so re-adding it refuses until a [[compact]]
    * reclaims the rows — add-after-delete is a compact-then-append.
    */
  def delete(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val idx = load(spark, dir)
    val n = ids.count()
    val present = ids.select(col("id"))
      .join(idx.codes.select(col("id")), "id").count()
    require(present == n,
      s"delete batch has ${n - present} ids not in the index — " +
        "delete is strict, not a filter")
    val already = ids.select(col("id"))
      .join(idx.tombstones.select(col("id")), "id").count()
    require(already == 0,
      s"$already ids are already tombstoned — double delete")
    ids.select(col("id"))
      .write.mode("append").parquet(s"$dir/tombstones.parquet")
    writeManifest(spark, dir, idx.numSub, idx.subDim)
  }

  /** COMPACT the index (E263): physically drop tombstoned code rows
    * and clear the tombstone table. Search output is identical before
    * and after by construction (the soft path already anti-joins) —
    * AnnDeleteSpec pins that equality; compaction buys back the scan
    * width and re-opens the ids for [[append]]. The rewrite goes to a
    * side directory, then [[IndexFiles.swapIn]] rename-asides the old
    * table (Hadoop FileSystem API, so this works wherever the other
    * writers do): a crash mid-swap leaves `load` refusing AND the old
    * table intact on disk, never a stale view served as fresh or a
    * destroyed only-copy.
    */
  def compact(dir: String): Unit = {
    val spark = SparkSession.active
    val idx = load(spark, dir)
    if (idx.tombstones.isEmpty) return
    idx.liveCodes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "codes")
    spark.read.parquet(s"$dir/codes.parquet").select(col("id")).limit(0)
      .write.mode("overwrite").parquet(s"$dir/tombstones.parquet")
    writeCellStats(spark, dir)
    writeManifest(spark, dir, idx.numSub, idx.subDim)
  }

  /** Serve top-k for `q (qid, qv)` from the persisted index with the
    * fixed multi-probe rule — the same search half the in-memory E243
    * chain runs, pointed at the re-loaded tables, with the code scan
    * PARTITION-PRUNED to the probed cells: the probe set (bounded by
    * the cell count — IVF cell tables are small by construction) is
    * resolved first, and `cell IN (probed)` reaches the scan as a
    * static partition filter, so the files read scale with
    * probe/cells, not with the corpus (AnnPruneSpec pins both the
    * filter and the file count).
    */
  def searchTopK(spark: SparkSession, dir: String, q: DataFrame,
      k: Int, probe: Int): DataFrame = {
    val idx = loadCached(spark, dir)
    // the probe picker only consults queries × centroids (tiny);
    // checkpoint so resolving the pruned cell set does not re-plan it
    val probes = Similarity.fixedProbePicker(probe)(
        q, idx.centroids,
        idx.codes.select(col("id").as("aid"), col("cell")))
      .localCheckpoint(false)
    servePruned(idx, q, k, probes)
  }

  /** Serve top-k with the ADAPTIVE probe rule (E258's picker over the
    * persisted artifact, r14): the target is
    * ceil(targetNum/targetDen · n) in exact integer arithmetic, where
    * n is the PHYSICAL corpus at the last stats refresh —
    * cellstats.parquet counts code rows including tombstoned ids
    * (writeCellStats is deliberately not delete-maintained). On a
    * delete-free artifact this equals the in-memory
    * [[Similarity.pqResidualAdaptiveTopK]] target exactly (same
    * picker definition, so they cannot drift); AFTER deletes the two
    * derive different targets/probe sets, and the divergence is in
    * the SAFE direction only — the stale (larger) n can only WIDEN
    * the probe list, and liveness is enforced downstream by the
    * tombstone anti-join regardless. Cell populations come from the
    * same stats table, and the ADC scan is partition-pruned to the
    * probed cells exactly like the fixed-probe serve.
    */
  def searchTopKAdaptive(spark: SparkSession, dir: String, q: DataFrame,
      k: Int, targetNum: Long, targetDen: Long): DataFrame = {
    val idx = loadCached(spark, dir)
    // populations and the target come from the v4 STATISTICS table —
    // cells × 1 rows, no code-table aggregate on the serve path (the
    // physical-stats contract, see writeCellStats)
    val n = idx.cellStats.agg(sum(col("n"))).head().getLong(0)
    val target = (targetNum * n + targetDen - 1) / targetDen
    val probes = Similarity.adaptiveProbePickerWithPop(target,
        idx.cellStats.select(col("cell"), col("n").as("np")))(
        q, idx.centroids)
      .localCheckpoint(false)
    servePruned(idx, q, k, probes)
  }

  /** Shared pruned-serve tail: resolve the probed cell set (bounded
    * by n_cells), push `cell IN (…)` at the partitioned code scan,
    * run the shared search half over the pruned slice.
    */
  private def servePruned(idx: Index, q: DataFrame, k: Int,
      probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cpart")).distinct()
      .collect().map(_.get(0)).toSeq // ≤ n_cells rows — bounded
    val pruned = idx.liveCodes.filter(col("cell").isin(cells: _*))
    Similarity.residualIndexSearch(idx.centroids, idx.codebooks,
      pruned, q, idx.numSub, idx.subDim, k, (_, _, _) => probes)
  }
}
