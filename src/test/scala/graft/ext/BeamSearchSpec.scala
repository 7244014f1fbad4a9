package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r15 (E325): the ef-bounded beam walk over the persisted graph
  * index — volume-control pins plus the measured recall-vs-volume
  * verdict against the blind walk, recorded either way.
  */
class BeamSearchSpec extends SparkSpec {

  private val (dim, knnK, nq, seeds, hops, ef, k) = (64, 4, 10, 3, 3, 8, 5)

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  test("beam walk: deterministic, self-free, and VOLUME-BOUNDED by " +
      "seeds + hops·ef·graphK per query at any depth") {
    val c = corpus.localCheckpoint(false)
    val out = Files.createTempDirectory("beam").toString
    GraphIndex.build(c, dim, knnK, out)
    val c1 = GraphIndex.expandCandidatesBeam(spark, out, nq, seeds,
      hops, ef).localCheckpoint(false)
    val c2 = GraphIndex.expandCandidatesBeam(spark, out, nq, seeds,
      hops, ef)
    assert(c1.except(c2).isEmpty && c2.except(c1).isEmpty,
      "beam walk is not deterministic")
    assert(c1.filter(col("query_id") === col("id")).isEmpty)
    val bound = (seeds + hops * ef * knnK).toLong
    val worst = c1.groupBy("query_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(worst <= bound,
      s"a query visited $worst candidates — ef bound $bound broken")
    // a DEEPER beam walk stays inside its linear budget (the blind
    // walk's frontier is depth-exponential until saturation)
    val deep = GraphIndex.expandCandidatesBeam(spark, out, nq, seeds,
      hops = 6, ef)
    val deepWorst = deep.groupBy("query_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(deepWorst <= (seeds + 6 * ef * knnK).toLong)
  }

  test("VERDICT (recorded either way): beam vs blind walk — recall " +
      "against exact truth, priced by candidate volume") {
    val c = corpus.localCheckpoint(false)
    val out = Files.createTempDirectory("beamv").toString
    GraphIndex.build(c, dim, knnK, out)
    val q = c.filter(col("id") < nq)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Similarity.topK(c, q, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    def stats(cand: DataFrame): (Long, Double) = {
      val vol = cand.count()
      val top = Similarity.graphRerank(c, cand, nq, k)
        .select(col("query_id"), col("neighbor_id"))
      val hits = top.join(exact, Seq("query_id", "neighbor_id")).count()
      (vol, hits.toDouble / (nq * k))
    }
    val (bVol, bRec) = stats(GraphIndex.expandCandidatesBeam(
      spark, out, nq, seeds, hops, ef).localCheckpoint(false))
    val (fVol, fRec) = stats(GraphIndex.expandCandidates(
      spark, out, nq, seeds, hops).localCheckpoint(false))
    info(f"blind: vol=$fVol recall@$k=$fRec%.2f | " +
      f"beam(ef=$ef): vol=$bVol recall@$k=$bRec%.2f")
    // measure, don't presume — bounds + non-degeneracy only
    assert(bRec >= 0.0 && bRec <= 1.0 && fRec >= 0.0 && fRec <= 1.0)
    assert(bRec > 0.0, "beam walk found nothing — degenerate")
    assert(bVol > 0L && fVol > 0L)
  }
}
