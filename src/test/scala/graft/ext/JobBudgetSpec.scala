package graft.ext

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Spark-job budgets of the persisted-index entrypoints on the spec
  * corpus. Job latency, not data, sets the training build's time, so a
  * reintroduced `count()` or schema-inference read must fail a test —
  * the way RouteTableSpec pins the route kernel's code size. The
  * integrity gate is footer reads on the driver: `load` runs no job.
  * The build and search budgets are the counts measured when these
  * paths were last cut; lowering one is progress, raising one needs a
  * reason.
  */
class JobBudgetSpec extends SparkSpec {

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  /** (result, Spark jobs started while `f` ran). */
  private def jobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerBusDrain.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def within(what: String, got: Int, budget: Int): Unit =
    assert(got <= budget, s"$what ran $got Spark jobs, budget $budget")

  test("AnnIndex: load runs no job; build and search stay in budget") {
    val dir = Files.createTempDirectory("annidx_jobs").toString
    val v = corpus.localCheckpoint()
    val (_, nBuild) = jobs(AnnIndex.build(v, 16, 4, dir))
    val (idx, nLoad) = jobs(AnnIndex.load(spark, dir))
    val q = v.filter(col("id") < 3).select(col("id").as("qid"), col("vec").as("qv"))
      .localCheckpoint()
    val (rows, nSearch) = jobs(AnnIndex.searchTopK(spark, dir, q, 3, 2).collect())
    info(s"build $nBuild, load $nLoad, load + search $nSearch jobs")
    assert(rows.length == 9 && idx.nVectors > 0)
    within("AnnIndex.load", nLoad, 0)
    within("AnnIndex.build", nBuild, BuildPq)
    within("AnnIndex.searchTopK after load", nSearch, SearchPq)
  }

  test("GraphIndex: load runs no job; build and beam search stay in budget") {
    val dir = Files.createTempDirectory("graphidx_jobs").toString
    val v = corpus.localCheckpoint()
    val (_, nBuild) = jobs(GraphIndex.build(v, 64, 4, dir))
    val (idx, nLoad) = jobs(GraphIndex.load(spark, dir))
    val (rows, nSearch) = jobs(GraphIndex.searchTopKBeam(spark, dir,
      numQueries = 2, seeds = 3, hops = 2, ef = 4, k = 3).collect())
    info(s"build $nBuild, load $nLoad, load + beam search $nSearch jobs")
    assert(rows.length == 6 && idx.nEdges > 0)
    within("GraphIndex.load", nLoad, 0)
    within("GraphIndex.build", nBuild, BuildGraph)
    within("GraphIndex.searchTopKBeam after load", nSearch, SearchBeam)
  }

  test("in-memory graph walk stays in budget") {
    val v = corpus.localCheckpoint()
    val (rows, n) = jobs(Similarity.graphExpandCandidates(v, 64, 10,
      seeds = 3, hops = 3, graphK = 4).collect())
    // the distributed union → distinct → checkpoint walk it replaced
    // ran 18 jobs here
    info(s"graphExpandCandidates $n jobs")
    assert(rows.nonEmpty)
    within("Similarity.graphExpandCandidates", n, WalkInMemory)
  }

  private val BuildPq = 24
  private val SearchPq = 9
  private val BuildGraph = 10
  private val SearchBeam = 14
  private val WalkInMemory = 11
}
