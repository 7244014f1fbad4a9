package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, GraphIndex, Similarity}

/** ANN index build service entrypoint (E260, VERDICT r12 #3) — the
  * retrieval twin of [[CurateMain]]: build the residual IVF-PQ index
  * for an embeddings table ONCE, persist it as parquet tables plus a
  * manifest, and prove the round trip by re-loading the artifact and
  * serving a probe search from it.
  *
  * Usage: `IndexMain <embeddingsDir> <indexDir> [numSub]`
  *    or: `IndexMain --graph <embeddingsDir> <indexDir> [graphK] [ef]`
  *        (E291/E304: build the persisted GRAPH index — vectors,
  *        binary seed signatures, kNN edges — and probe-search it
  *        through the FLAT-SEEDED ef-bounded beam, SCALING.md's
  *        measured recall/volume frontier; `ef` is the fourth arg,
  *        default [[DefaultBeamEf]])
  *    or: `IndexMain --tx <fixtureDir> <tableDir>`
  *        (E314/E317 service surface: commit the documents table,
  *        commit a filtered rewrite, read back snapshot + version-0
  *        time travel, retain(1), and prove the vacuumed table still
  *        serves — the commit-log lifecycle end to end from the CLI)
  *
  * `embeddingsDir` must contain `embeddings.parquet` (the fixture
  * layout); `numSub` defaults to [[DefaultSubspaces]] — the 16×4
  * geometry the round-12 PQ sweep measured as the binding constraint
  * (SCALING.md: 16 subspaces of 4 dims, 0.32 point / 0.82 rerank vs
  * ≤ 0.2 for every 4×16 variant).
  */
object IndexMain {

  val DefaultSubspaces = 16
  val DefaultGraphK = 4

  /** Default beam width for the `--graph` probe serve — the efSearch
    * knob of the flat-seeded beam (E325), the measured serving
    * frontier (SCALING.md r15 graph sweep).
    */
  val DefaultBeamEf = 4

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--graph")) return graphMain(args.drop(1))
    if (args.headOption.contains("--tx")) return txMain(args.drop(1))
    require(args.length >= 2,
      "usage: IndexMain <embeddingsDir> <indexDir> [numSub]")
    val numSub = if (args.length > 2) args(2).toInt else DefaultSubspaces
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-index")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (nVectors, served) = runPq(spark, args(0), args(1), numSub)
    val idx = AnnIndex.load(spark, args(1))
    println(s"""{"metric":"index","n_vectors":$nVectors,"n_cells":${idx.centroids.count()},"n_codebook_rows":${idx.codebooks.count()},"num_sub":${idx.numSub},"sub_dim":${idx.subDim},"probe_rows":$served}""")
    spark.stop()
  }

  /** The PQ build + read-back-probe flow behind the default mode —
    * extracted so the spec drives it on the shared session. Returns
    * (n_vectors indexed, probe rows served).
    */
  private[graft] def runPq(spark: SparkSession, embDir: String,
      indexDir: String, numSub: Int): (Long, Long) = {
    val vecs = Tables.embeddings(spark, embDir).select(
      col("vec_id").as("id"), col("label").as("part"),
      Similarity.toDouble(col("embedding")).as("vec"))
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    AnnIndex.build(vecs, numSub, dim / numSub, indexDir)
    // read-back proof: load (manifest re-asserted) and serve one probe
    // query from the persisted artifact
    val idx = AnnIndex.load(spark, indexDir)
    val q = vecs.limit(1).select(col("id").as("qid"), col("vec").as("qv"))
    val served = AnnIndex.searchTopK(spark, indexDir, q, 3, 2).count()
    (idx.codes.count(), served)
  }

  /** `--graph` mode: build + read-back-probe the persisted graph
    * index (E291). Same session/layout conventions as the PQ mode.
    */
  private def graphMain(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IndexMain --graph <embeddingsDir> <indexDir> [graphK] [ef]")
    val graphK = if (args.length > 2) args(2).toInt else DefaultGraphK
    val ef = if (args.length > 3) args(3).toInt else DefaultBeamEf
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-graph-index")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (nVecs, nEdges, served) = runGraph(spark, args(0), args(1), graphK, ef)
    println(s"""{"metric":"graph_index","n_vectors":$nVecs,"n_edges":$nEdges,"graph_k":$graphK,"ef":$ef,"serve":"beam_flat","probe_rows":$served}""")
    spark.stop()
  }

  /** `--tx` mode: drive the E314 commit-log lifecycle end to end. */
  private def txMain(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IndexMain --tx <fixtureDir> <tableDir>")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-tx")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (v0Rows, headRows, headVersion) = runTx(spark, args(0), args(1))
    val (pruned, ckpt, tokens) = runTxV2(spark, args(0), args(1) + "_v2")
    val (skipRows, skipFiles, compRows) =
      runTxV3(spark, args(0), args(1) + "_v3")
    println(s"""{"metric":"tx_table","v0_rows":$v0Rows,"head_rows":$headRows,"head_version":$headVersion,"pruned_rows":$pruned,"checkpoint_version":$ckpt,"cli_tokens":$tokens,"range_rows":$skipRows,"range_files_planned":$skipFiles,"compacted_rows":$compRows}""")
    spark.stop()
  }

  /** The `--tx` flow against a caller-owned session (spec-testable):
    * commit documents (v0), commit the English slice as a rewrite
    * (v1), time-travel-read v0, retain(1) + vacuum, and read the
    * surviving head. Returns (v0 rows as read BEFORE retention,
    * head rows AFTER retention, head version).
    */
  def runTx(spark: SparkSession, fixtureDir: String,
      tableDir: String): (Long, Long, Long) = {
    import graft.operators.TxTable
    val docs = Tables.documents(spark, fixtureDir)
      .select(col("doc_id"), col("lang"), col("source"))
    TxTable.commit(docs, tableDir)
    TxTable.commit(TxTable.snapshot(spark, tableDir)
      .filter(col("lang") === "en"), tableDir)
    val v0Rows = TxTable.snapshotAt(spark, tableDir, 0L).count()
    TxTable.retain(spark, tableDir, keepLast = 1)
    val head = TxTable.currentVersion(spark, tableDir)
    (v0Rows, TxTable.snapshot(spark, tableDir).count(), head)
  }

  /** r15 lifecycle extension (VERDICT r14 #3 "--tx CLI extended"):
    * exercise the ROUND-15 commit-log surface end to end against a
    * second table — partitioned commit + manifest-level pruned read,
    * an append that crosses the every-10th-commit CHECKPOINT through
    * the bounded-retry lane, and the checkpointed token lookup.
    * Returns (prunedRows, checkpointVersion, tokensSeen).
    */
  def runTxV2(spark: SparkSession, fixtureDir: String,
      tableDir: String): (Long, Long, Long) = {
    import graft.operators.TxTable
    val docs = Tables.documents(spark, fixtureDir)
      .select(col("doc_id"), col("lang"), col("source"))
    TxTable.commitPartitioned(docs, tableDir, Seq("lang"))
    // drive the version counter across the checkpoint boundary with
    // idempotent appends (one tiny batch per token), then a retrying
    // append on top
    for (b <- 1L to 10L)
      TxTable.appendIdempotent(docs.filter(col("doc_id") === b),
        tableDir, "cli", b)
    TxTable.appendWithRetry(docs.filter(col("doc_id") === 0L), tableDir)
    val pruned = TxTable.snapshotWhere(spark, tableDir,
      Map("lang" -> "en")).count()
    val ckpt = TxTable.latestCheckpoint(spark, tableDir).getOrElse(-1L)
    val tokens = TxTable.committedTxns(spark, tableDir, "cli").size.toLong
    (pruned, ckpt, tokens)
  }

  /** r16 lifecycle extension (VERDICT r15 #6 surface): hash-layout
    * commit → range-clustered COMPACT → stats-skipped range read —
    * the repair-then-skip story end to end from the CLI. Returns
    * (rangeRows, rangeFilesPlanned, compactedRows).
    */
  def runTxV3(spark: SparkSession, fixtureDir: String,
      tableDir: String): (Long, Long, Long) = {
    import graft.operators.TxTable
    val docs = Tables.documents(spark, fixtureDir)
      .select(col("doc_id"), col("n_chars"))
    TxTable.commit(docs.repartition(12), tableDir)
    TxTable.compact(spark, tableDir, numFiles = 4,
      clusterBy = Seq("doc_id"))
    val r = TxTable.snapshotWhereRange(spark, tableDir, "doc_id",
      100L, 199L)
    (r.count(), r.inputFiles.length.toLong,
      TxTable.snapshot(spark, tableDir).count())
  }

  /** The `--graph` flow against a caller-owned session (spec-testable;
    * the main wrapper owns session lifecycle). Returns
    * (n_vectors, n_edges, probe_rows). The read-back probe serves
    * through the FLAT-SEEDED BEAM, the measured recall/volume
    * frontier.
    */
  def runGraph(spark: SparkSession, embDir: String, indexDir: String,
      graphK: Int, ef: Int = DefaultBeamEf): (Long, Long, Long) = {
    val vecs = Tables.embeddings(spark, embDir).select(
      col("vec_id").as("id"), col("label").as("part"),
      Similarity.toDouble(col("embedding")).as("vec"))
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    GraphIndex.build(vecs, dim, graphK, indexDir)
    val idx = GraphIndex.load(spark, indexDir)
    val served = GraphIndex.searchTopKBeam(spark, indexDir,
      numQueries = 1, seeds = 3, hops = 2, ef = ef, k = 3).count()
    (idx.vectors.count(), idx.edges.count(), served)
  }
}
