package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Invariants of the top-component PCA (E217) the flat oracle hash
  * can't express: unit norm, converged fixed point, the Rayleigh
  * dominance that makes it the TOP component, and projection
  * centering.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("id"),
      expr("transform(embedding, x -> cast(x as double))").as("vec"))
    .localCheckpoint(false)
  private val Dim = 64

  /** Per-dim means (round 6) and the FULL symmetric covariance matrix
    * (round 6, E[XY] − E[X]E[Y] over the 6-rounded fixed points) in the
    * EXPLODE formulation: the Gram aggregator's differential twin.
    */
  private def covarianceExplode(vecs: DataFrame, dim: Int)
      : (IndexedSeq[Double], Array[Array[Double]]) = {
    val x = vecs.select(posexplode(col("vec")).as(Seq("d", "val")))
    val means = x.groupBy(col("d")).agg(round(avg(col("val")), 6).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val m = IndexedSeq.tabulate(dim)(means)
    // Upper-triangle index-pair products built scan-side: the inner
    // slice starts at the outer index, so each (i ≤ j) pair appears
    // once per row — N·d(d+1)/2 exploded rows into ONE aggregation.
    val s = vecs.select(explode(expr(
        "flatten(transform(vec, (xi, i) -> " +
          "transform(slice(vec, i + 1, size(vec) - i), (xj, jj) -> " +
          "struct(i AS i, i + jj AS j, xi * xj AS p))))")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy(col("i"), col("j")).agg(round(avg(col("p")), 6).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val c = Array.tabulate(dim, dim) { (i, j) =>
      val key = (math.min(i, j), math.max(i, j))
      BigDecimal(s(key) - m(i) * m(j))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (m, c)
  }

  test("Gram-aggregator covariance equals the explode formulation " +
      "CELL FOR CELL on the fixture (the round-12 kernel swap's " +
      "differential twin — same fixed points, 4.4x fewer seconds)") {
    val (me, ce) = covarianceExplode(vecs, Dim)
    val (mg, cg) = Pca.covarianceGram(vecs, Dim)
    assert(me == mg, "means diverged")
    for (i <- 0 until Dim; j <- 0 until Dim)
      assert(ce(i)(j) == cg(i)(j), s"cov($i,$j): ${ce(i)(j)} vs ${cg(i)(j)}")
  }

  test("component is unit-norm and each power step is a Rayleigh " +
      "ascent: captured variance never decreases across iterations") {
    val (_, c) = Pca.covariance(vecs, Dim)
    def rayleigh(v: IndexedSeq[Double]): Double = {
      val cv = (0 until Dim).map(i =>
        (0 until Dim).map(j => c(i)(j) * v(j)).sum)
      v.zip(cv).map { case (a, b) => a * b }.sum /
        v.map(x => x * x).sum
    }
    val quotients = (1 to Pca.PowerIters)
      .map(t => rayleigh(Pca.powerIterate(c, t)))
    quotients.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-6,
        s"Rayleigh quotient decreased: $a -> $b (power-iteration law broken)")
    }
    val v = Pca.powerIterate(c, Pca.PowerIters)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4,
      s"component norm drifted: ${v.map(x => x * x).sum}")
  }

  test("variance account: eigenvalue within trace, explained share in " +
      "(0, 1], and consistent with an unrounded Rayleigh recompute") {
    val (_, c) = Pca.covariance(vecs, Dim)
    val v = Pca.powerIterate(c, Pca.PowerIters)
    val (lambda, trace, explained) = Pca.varianceAccount(c, v)
    assert(lambda > 0 && lambda <= trace + 1e-6,
      s"eigenvalue $lambda outside (0, trace=$trace]")
    assert(explained > 0.0 && explained <= 1.0)
    assert(math.abs(explained - lambda / trace) < 1e-5)
    val raw = {
      val cv = (0 until Dim).map(i =>
        (0 until Dim).map(j => c(i)(j) * v(j)).sum)
      v.zip(cv).map { case (a, b) => a * b }.sum /
        v.map(x => x * x).sum
    }
    assert(math.abs(lambda - raw) < 1e-4,
      s"fixed-point eigenvalue $lambda drifted from Rayleigh $raw")
  }

  test("top component dominates every coordinate axis: projected " +
      "variance >= the largest per-dimension variance") {
    val (m, c) = Pca.covariance(vecs, Dim)
    val v = Pca.powerIterate(c, Pca.PowerIters)
    // Rayleigh quotient at the fitted component
    val cv = (0 until Dim).map(i => (0 until Dim).map(j => c(i)(j) * v(j)).sum)
    val lambda = v.zip(cv).map { case (a, b) => a * b }.sum
    val maxDiag = (0 until Dim).map(i => c(i)(i)).max
    assert(lambda >= maxDiag - 1e-6,
      s"top-component variance $lambda below best axis $maxDiag")
    // projections are centered: mean(proj) ~ 0 (x·v − m·v over the
    // same corpus the mean came from)
    val meanProj = Pca.project(vecs, m, v)
      .agg(avg(col("proj"))).as[Double].head()
    assert(math.abs(meanProj) < 1e-3, s"projection mean $meanProj not ~0")
  }
}
