package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AnnIndex v4: the ADAPTIVE serve targets probes from the artifact's
  * population STATISTICS table, not a per-search code-table aggregate
  * — and stays row-identical to the in-memory adaptive chain.
  */
class AdaptiveServeSpec extends SparkSpec {

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  private val (numSub, subDim) = (16, 4)

  test("persisted adaptive serve is row-identical to the in-memory " +
      "adaptive chain (stats-driven targeting changes no value)") {
    val dir = Files.createTempDirectory("annidx_adaptive").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val q = corpus.filter(col("id") < 10)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val persisted = AnnIndex.searchTopKAdaptive(spark, dir, q, 5, 1L, 10L)
    // in-memory reference: the residual build and search halves under
    // the adaptive rule, populations recounted from the built codes
    val (cvecs, cw, codes) =
      Similarity.residualIndexBuild(corpus, numSub, subDim)
    val pop = codes.groupBy(col("cell")).agg(count(lit(1)).as("np"))
    val target = (1L * corpus.count() + 10L - 1) / 10L
    val inMem = Similarity.residualIndexSearch(cvecs, cw, codes, q,
      numSub, subDim, 5, Similarity.adaptiveProbePickerWithPop(target, pop))
    assert(persisted.count() > 0, "vacuous")
    assert(persisted.exceptAll(inMem).isEmpty &&
      inMem.exceptAll(persisted).isEmpty,
      "stats-driven adaptive serve drifted from the in-memory chain")
  }

  test("the stats table equals a recount of the written codes, and " +
      "targeting reads NO code file (statistics only)") {
    val dir = Files.createTempDirectory("annidx_stats").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val idx = AnnIndex.loadCached(spark, dir)
    val recount = idx.codes.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
    assert(idx.cellStats.exceptAll(recount).isEmpty &&
      recount.exceptAll(idx.cellStats).isEmpty,
      "cellstats drifted from the written codes")
    // the probe-selection plan must not touch codes.parquet: its only
    // file scans are centroids and the cells×1 stats table
    val q = corpus.filter(col("id") < 10)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val probes = Similarity.adaptiveProbePickerWithPop(100L,
      idx.cellStats.select(col("cell"), col("n").as("np")))(
      q, idx.centroids)
    val scanned = probes.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths
        .map(_.toString).mkString(",")
    }
    assert(scanned.nonEmpty)
    assert(!scanned.exists(_.contains("codes.parquet")),
      s"adaptive targeting scanned the code table: $scanned")
  }
}
