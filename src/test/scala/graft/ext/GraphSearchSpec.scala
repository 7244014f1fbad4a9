package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Graph-expansion ANN search invariants (E286/E287): the visited set
  * contains every seed and never the query, every non-seed candidate
  * is an out-neighbor of another candidate (expansion closure), the
  * reranked top-k honors the (cos desc, id) contract, candidate
  * volume respects the seeds·(k+1)^hops bound, and expanded hits
  * never fall below seed hits (candidates ⊇ seeds, and any candidate
  * outranking a true-hit seed is itself a true hit).
  */
class GraphSearchSpec extends SparkSpec {
  import Similarity._

  private val Dim = 64
  private val NQ = 10
  private val Seeds = 3
  private val Hops = 3
  private val GK = 4
  private val K = 5

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    toDouble(col("embedding")).as("vec"))

  private lazy val c = corpus.localCheckpoint(false)
  private lazy val cand =
    graphExpandCandidates(c, Dim, NQ, Seeds, Hops, GK).localCheckpoint(false)
  private lazy val top =
    graphExpandTopK(c, Dim, NQ, Seeds, Hops, GK, K).localCheckpoint(false)

  /** The distributed union → distinct walk the shared driver-held walk
    * replaced: each hop unions the visited set with ALL its out-edges;
    * self-hits are kept during the walk and dropped from each snapshot.
    * Snapshots for hops 0..Hops.
    */
  private def unionDistinctWalk(sigs: DataFrame,
      edges: DataFrame): Seq[DataFrame] = {
    var cand = hammingTopKSigs(sigs, NQ, Seeds)
      .select(col("query_id"), col("neighbor_id").as("id"))
    val snaps = scala.collection.mutable.ArrayBuffer(cand)
    for (_ <- 1 to Hops) {
      val expanded = cand.join(edges, col("id") === col("esrc"))
        .select(col("query_id"), col("edst").as("id"))
      cand = cand.union(expanded).distinct().localCheckpoint(false)
      snaps += cand
    }
    snaps.toSeq.map(_.filter(col("query_id") =!= col("id")))
  }

  test("the shared walk's visited set equals the union → distinct " +
      "reference at every hop") {
    val sigs = binarySigs(c, Dim).localCheckpoint(false)
    val edges = knnGraph(c, GK)
      .select(col("src_id").as("esrc"), col("dst_id").as("edst"))
      .localCheckpoint(false)
    val walked = graphWalk(graphSeeds(sigs, NQ, Seeds), Hops,
      edgesOut(edges))(blindFrontier)
    val ref = unionDistinctWalk(sigs, edges)
    assert(ref.size == Hops + 1)
    ref.zipWithIndex.foreach { case (want, h) =>
      val got = walked.filter(col("hop") <= h).select("query_id", "id")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"visited set after hop $h differs from the reference")
    }
    assert(walked.select("query_id", "id").distinct().count() ==
      walked.count(), "a pair was visited twice")
    assert(cand.exceptAll(ref.last).isEmpty &&
      ref.last.exceptAll(cand).isEmpty,
      "graphExpandCandidates is not the walk's final visited set")
  }

  test("visited set contains every seed and never the query itself") {
    val seeds = binaryHammingTopK(c, Dim, NQ, Seeds)
      .select(col("query_id"), col("neighbor_id").as("id"))
    val missing = seeds.join(cand, Seq("query_id", "id"), "left_anti")
    assert(missing.isEmpty, "a seed fell out of the visited set")
    assert(cand.filter(col("query_id") === col("id")).isEmpty,
      "the query itself was visited")
  }

  test("expansion closure: every non-seed candidate is an out-neighbor " +
      "of another candidate of the same query") {
    val seeds = binaryHammingTopK(c, Dim, NQ, Seeds)
      .select(col("query_id"), col("neighbor_id").as("id"))
    val nonSeed = cand.join(seeds, Seq("query_id", "id"), "left_anti")
    val edges = knnGraph(c, GK)
      .select(col("src_id").as("esrc"), col("dst_id").as("edst"))
    // cand rows whose id arrives via SOME candidate's out-edge (the
    // predecessor itself may be the excluded query id, so expansion
    // sources are cand ∪ the query row).
    val sources = cand.union(
      cand.select(col("query_id"), col("query_id").as("id")).distinct())
    val reached = sources.join(edges, col("id") === col("esrc"))
      .select(col("query_id"), col("edst").as("id")).distinct()
    val orphans = nonSeed.join(reached, Seq("query_id", "id"), "left_anti")
    assert(orphans.isEmpty, "a candidate has no expansion predecessor")
    assert(nonSeed.count() > 0, "no expansion happened — vacuous fixture")
  }

  test("top-k contract: contiguous ranks, candidates only, cos " +
      "non-increasing in rank") {
    val badRank = top.groupBy("query_id")
      .agg(count(lit(1)).as("d"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("d") > K || col("mx") =!= col("d") || col("mn") =!= 1)
    assert(badRank.isEmpty, "rank contract violated")
    val outside = top.select(col("query_id"), col("neighbor_id").as("id"))
      .join(cand, Seq("query_id", "id"), "left_anti")
    assert(outside.isEmpty, "a top-k row is not a visited candidate")
    val inv = top.alias("a").join(top.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.rank") < col("b.rank") && col("a.cos") < col("b.cos"))
    assert(inv.isEmpty, "cos increased with rank")
  }

  test("candidate volume respects the seeds*(k+1)^hops bound") {
    val bound = Seeds * math.pow(GK + 1, Hops).toLong
    val over = cand.groupBy("query_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > bound)
    assert(over.isEmpty, s"visited set exceeded the $bound bound")
  }

  test("hop sweep: candidates and hits are monotone in depth, from " +
      "one accumulated walk") {
    val sw = graft.queries.SimilarityQueries
      .queries("emb_graph_hop_sweep")(spark, sfDir)
      .collect().sortBy(_.getInt(0))
    assert(sw.length === Hops + 1)
    sw.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) >= a.getLong(1), "candidate volume shrank")
      assert(b.getLong(2) >= a.getLong(2), "hits shrank with depth")
    }
    assert(sw.last.getLong(2) > sw.head.getLong(2),
      "depth bought no hits — the sweep is vacuous on this fixture")
  }

  test("graph serving pipeline: results come from the visited set, " +
      "ranks contiguous, MMR scores non-increasing") {
    val sv = graft.queries.SimilarityQueries
      .queries("emb_serving_graph")(spark, sfDir).localCheckpoint(false)
    val outside = sv.select(col("query_id"), col("neighbor_id").as("id"))
      .join(cand, Seq("query_id", "id"), "left_anti")
    assert(outside.isEmpty, "a served result was never visited")
    val badRank = sv.groupBy("query_id")
      .agg(count(lit(1)).as("d"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("d") =!= K || col("mx") =!= K || col("mn") =!= 1)
    assert(badRank.isEmpty, "rank contract violated")
    // MMR scores are NOT monotone in rank when cosines go negative
    // (the penalty −(1−λ)·max-sim ADDS score for anti-similar picks),
    // so the pinned invariant is the round-1 contract instead: the
    // first pick is the pure-relevance argmax (rel desc, cid).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val top1 = sv.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val bad1 = top1.filter(col("rank") =!= 1)
    assert(bad1.isEmpty, "rank 1 is not the pure-relevance argmax")
  }

  test("expanded hits never fall below seed hits (measured lift)") {
    val q = c.filter(col("id") < NQ)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = topK(c, q, K)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    val seedHits = binaryHammingTopK(c, Dim, NQ, Seeds)
      .select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("sh"))
    val hits = top.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    val regressed = seedHits.join(hits, Seq("query_id"), "left")
      .filter(coalesce(col("h"), lit(0L)) < col("sh"))
    assert(regressed.isEmpty, "expansion lost a seed-tier hit")
    val lift = hits.agg(sum("h")).collect()(0).getLong(0)
    val base = seedHits.agg(sum("sh")).collect()(0).getLong(0)
    assert(lift >= base, s"total expanded hits $lift < seed hits $base")
  }
}
