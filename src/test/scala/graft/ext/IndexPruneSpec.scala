package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The v3 persisted-index layouts must actually prune (VERDICT r13
  * #1): serving reads probe/cells of the code FILES and
  * frontier-buckets/edge_buckets of the edge FILES — a static
  * partition filter on the scan, not a post-scan row filter. Same
  * witness shape as PartitionedScanSpec's E49 lang pin: assert the
  * filter is on the scan's `partitionFilters` AND that the file
  * listing under it is a strict subset of the artifact's files.
  */
class AnnPruneSpec extends SparkSpec {

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  test("persisted ANN serve scan partition-prunes codes to the probed " +
      "cells (files read ∝ probe/cells)") {
    val dir = Files.createTempDirectory("annidx_prune").toString
    AnnIndex.build(corpus, 16, 4, dir)
    val q = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val df = AnnIndex.searchTopK(spark, dir, q, 3, 2)
    // the plan has exchanges → executedPlan is an opaque adaptive
    // root; sparkPlan exposes the scans (PlanAuditSpec convention)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.partitionSchema.exists(_.name == "cell") => s
    }
    assert(scans.nonEmpty, "no cell-partitioned code scan in the plan")
    val pruned = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "cell")))
    assert(pruned.nonEmpty,
      s"no static cell filter reached the code scan: " +
        scans.map(_.partitionFilters.mkString(";")).mkString(" | "))
    val s = pruned.head
    // the optimizer may AND a DynamicPruningSubquery onto the static
    // IN-list (extra runtime pruning, unevaluable at list time) —
    // list under the static filters only
    val staticPf = s.partitionFilters.filterNot(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
    assert(staticPf.nonEmpty, "only dynamic filters on the scan")
    val probedFiles = s.relation.location
      .listFiles(staticPf, Nil)
      .map(_.files.size).sum
    val allFiles = s.relation.location.listFiles(Nil, Nil)
      .map(_.files.size).sum
    assert(probedFiles < allFiles,
      s"pruning is not real: $probedFiles of $allFiles files selected " +
        "(3 queries × 2 probes over 10 cells must skip directories)")
    // and the pruned serve still answers: 3 queries × k=3
    assert(df.count() === 9)
  }
}

/** Edge-scan pruning for the persisted graph tier: each hop's edge
  * read carries a static `bucket IN (frontier buckets)` partition
  * filter, and the listing under it skips directories.
  */
class GraphPruneSpec extends SparkSpec {

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  test("persisted graph serve scan partition-prunes edges to the " +
      "frontier's source buckets") {
    val dir = Files.createTempDirectory("graphidx_prune").toString
    GraphIndex.build(corpus, 64, 4, dir)
    // the walk collects each hop's edges to the driver, so pin the
    // hop builder the serve path itself calls: 2 queries × 2 seeds →
    // ≤ 4 frontier ids → ≤ 4 of the 16 bucket directories
    val idx = GraphIndex.loadCached(spark, dir)
    val seeds = Similarity.hammingTopKSigs(idx.liveSigs, 2, 2)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).distinct
    val df = GraphIndex.hopEdges(idx, seeds.toSeq)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.partitionSchema.exists(_.name == "bucket") => s
    }
    assert(scans.nonEmpty, "no bucket-partitioned edge scan in the plan")
    val pruned = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "bucket")))
    assert(pruned.nonEmpty,
      s"no static bucket filter reached the edge scan: " +
        scans.map(_.partitionFilters.mkString(";")).mkString(" | "))
    val s = pruned.head
    // the optimizer may AND a DynamicPruningSubquery onto the static
    // IN-list (extra runtime pruning, unevaluable at list time) —
    // list under the static filters only
    val staticPf = s.partitionFilters.filterNot(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
    assert(staticPf.nonEmpty, "only dynamic filters on the scan")
    val probedFiles = s.relation.location
      .listFiles(staticPf, Nil)
      .map(_.files.size).sum
    val allFiles = s.relation.location.listFiles(Nil, Nil)
      .map(_.files.size).sum
    assert(probedFiles < allFiles,
      s"pruning is not real: $probedFiles of $allFiles edge files " +
        "selected (≤4 frontier ids over 16 buckets must skip dirs)")
    assert(df.count() > 0, "pruned hop slice is empty — vacuous")
    // and the end-to-end pruned serve still answers
    assert(GraphIndex.searchTopK(spark, dir, numQueries = 2,
      seeds = 2, hops = 1, k = 3).count() > 0)
  }
}
