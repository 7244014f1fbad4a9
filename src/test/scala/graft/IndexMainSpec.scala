package graft

/** `IndexMain` flows (E260/E304/E314): build + read-back probe against
  * a temp dir, stats cross-foot with the fixture.
  */
class IndexMainSpec extends SparkSpec {

  test("--graph flow builds, reloads, and serves a probe search " +
      "through the flat-seeded beam frontier (r16: ef exposed)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_gidx").toString
    val (nVecs, nEdges, served) =
      IndexMain.runGraph(spark, sfDir, out, graphK = 4, ef = 3)
    assert(nVecs === Tables.embeddings(spark, sfDir).count())
    assert(nEdges > 0 && nEdges <= nVecs * 4, s"edge count $nEdges")
    assert(served === 3, s"probe served $served rows, wanted k = 3")
  }

  test("default flow builds, reloads, and serves a probe search") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_pqidx").toString
    val (nVecs, served) = IndexMain.runPq(spark, sfDir, out, numSub = 16)
    assert(nVecs === Tables.embeddings(spark, sfDir).count())
    assert(served === 3, s"probe served $served rows, wanted k = 3")
  }

  test("--tx flow commits, time travels, retains, and still serves") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_tx").toString
    val (v0Rows, headRows, headVersion) = IndexMain.runTx(spark, sfDir, out)
    val docs = Tables.documents(spark, sfDir)
    assert(v0Rows === docs.count(), "v0 time travel lost rows")
    assert(headRows ===
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en")
        .count(), "head snapshot wrong after retention")
    assert(headVersion === 1L)
    // retention really dropped v0
    intercept[IllegalArgumentException] {
      graft.operators.TxTable.snapshotAt(spark, out, 0L)
    }
  }

  test("--tx v2 lane: partitioned commit + pruned read, checkpoint " +
      "crossed, retry lane lands, tokens readable through the " +
      "checkpoint") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_txv2").toString
    val (pruned, ckpt, tokens) = IndexMain.runTxV2(spark, sfDir, out)
    val docs = Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions.col
    // pruned read equals the plain predicate over the CURRENT head
    // (base docs + the 11 appended rows, all of which are en/by-id)
    val snap = graft.operators.TxTable.snapshot(spark, out)
    assert(pruned === snap.filter(col("lang") === "en").count())
    assert(pruned >= docs.filter(col("lang") === "en").count())
    assert(ckpt === 10L, s"checkpoint landed at $ckpt, wanted 10")
    assert(tokens === 10L, s"token set size $tokens, wanted 10")
    // the pruned scan really only touched lang=en files
    val files = graft.operators.TxTable
      .snapshotWhere(spark, out, Map("lang" -> "en")).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("lang=en")))
  }

  test("--tx v3 lane (r16): compact repairs layout, the range read " +
      "skips files and counts exactly") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_txv3").toString
    val (rangeRows, rangeFiles, compRows) =
      IndexMain.runTxV3(spark, sfDir, out)
    val docs = Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions.col
    assert(compRows === docs.count(), "compaction lost rows")
    assert(rangeRows ===
      docs.filter(col("doc_id").between(100, 199)).count())
    assert(rangeFiles >= 1 && rangeFiles < 4,
      s"range read planned $rangeFiles of the 4 compacted files — " +
        "no skipping happened")
  }
}
