package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.Similarity.{ScoredId, TopKAggregator, TopKBuf}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct expression equals the HOF fold bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(50)((
      Seq.fill(16)(rnd.nextDouble() * 2 - 1),
      Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.toDF("a", "b")
    val out = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v).as("hof"))
      .as[(Double, Double)].collect()
    assert(out.forall { case (n, h) => n == h }) // exact, not approx
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0), Seq(0.0, 5.0))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12 && out(1) == 0.0)
  }

  test("TopKAggregator caps buffers and breaks ties by id") {
    val agg = new TopKAggregator(3)
    val items = Seq(
      ScoredId(0.5, 10), ScoredId(0.9, 4), ScoredId(0.9, 2),
      ScoredId(0.1, 7), ScoredId(0.7, 1))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.items.length == 3)
    val merged = agg.finish(agg.merge(buf, TopKBuf(Seq(ScoredId(0.8, 99)))))
    assert(merged.items.map(_.id) == Seq(2L, 4L, 99L)) // 0.9/id2, 0.9/id4, 0.8
  }

  test("topK returns the true nearest neighbors of a small corpus") {
    val corpus = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(-1.0, 0.0)), (4L, Seq(0.7, 0.7)))
      .toDF("id", "vec")
    val queries = Seq((0L, Seq(1.0, 0.0))).toDF("qid", "qvec")
    val out = Similarity.topK(corpus, queries, 2)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 4L)) // cos: 0.994, 0.707 -- not self, not orthogonal
  }

  test("topKWithinPartition never crosses the coarse cell") {
    val corpus = Seq(
      (0L, 0, Seq(1.0, 0.0)), (1L, 0, Seq(0.9, 0.1)),
      (2L, 1, Seq(1.0, 0.05)), (3L, 1, Seq(0.0, 1.0)))
      .toDF("id", "part", "vec")
    val queries = corpus.select(col("id").as("qid"), col("part"), col("vec").as("qvec"))
    val out = Similarity.topKWithinPartition(corpus, queries, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L && out(1L) == 0L) // cell 0 internal
    assert(out(2L) == 3L && out(3L) == 2L) // cell 1 internal, despite 2~0 being closer
  }

  test("centroids average per cell and dimension") {
    val vecs = Seq(
      (0L, 0, Seq(1.0, 0.0)), (1L, 0, Seq(3.0, 2.0)),
      (2L, 1, Seq(0.0, 8.0)))
      .toDF("id", "part", "vec")
    val out = Similarity.centroids(vecs)
      .as[(Int, Int, Double)].collect().toSet
    assert(out == Set((0, 0, 2.0), (0, 1, 1.0), (1, 0, 0.0), (1, 1, 8.0)))
  }

  test("assignToNearest routes each vector to its closest centroid") {
    val vecs = Seq(
      (0L, 0, Seq(1.0, 0.1)), (1L, 0, Seq(0.9, 0.0)),
      (2L, 1, Seq(0.0, 1.0)), (3L, 1, Seq(0.1, 0.9)),
      (4L, 0, Seq(0.05, 1.0))) // labeled 0 but points at cell 1's centroid
      .toDF("id", "part", "vec")
    val cents = Similarity.centroids(vecs)
    val out = Similarity.assignToNearest(vecs, cents)
      .select("id", "assigned").as[(Long, Int)].collect().toMap
    assert(out(2L) == 1 && out(3L) == 1)
    assert(out(0L) == 0 && out(1L) == 0)
    assert(out(4L) == 1) // reassigned away from its labeled cell
  }

  test("kmeansIterated migrates mis-seeded points and then stabilizes") {
    val vecs = Seq(
      (0L, 0, Seq(1.0, 0.05)), (1L, 0, Seq(0.95, 0.0)),
      (2L, 1, Seq(0.0, 1.0)), (3L, 1, Seq(0.05, 0.95)),
      (4L, 0, Seq(0.0, 0.98))) // seeded into cell 0, belongs with cell 1
      .toDF("id", "part", "vec")
    val one = Similarity.kmeansIterated(vecs, 1)
      .select("id", "assigned").as[(Long, Long)].collect().toMap
    assert(one(4L) == 1L) // first reassignment already moves it
    // separable fixture: a second Lloyd round is a fixed point
    val two = Similarity.kmeansIterated(vecs, 2)
      .select("id", "assigned").as[(Long, Long)].collect().toMap
    assert(two == one)
    assert(two == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("nearDupPairs honors the threshold inside buckets") {
    val vecs = Seq(
      (0L, 0, Seq(1.0, 0.0)), (1L, 0, Seq(0.999, 0.01)),
      (2L, 0, Seq(0.0, 1.0)), (3L, 1, Seq(1.0, 0.0)))
      .toDF("id", "part", "vec")
    val pairs = Similarity.nearDupPairs(vecs, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // 2 below threshold; 3 in another bucket
  }

  test("pqEncode picks each subspace's true argmin codeword on a known layout") {
    // 4-dim vectors, 2 subspaces of 2 dims, TRAINED 2-codeword book:
    // stride seeding over 5 ids picks ranks 0 and 3 → codeword ids 0
    // (seeded at (0,0|0,0)) and 3 (seeded at (9.8,10|10.2,10)); the
    // Lloyd rounds pull each toward its cluster mean per block. A
    // vector near the low cluster in the first block and the high
    // cluster in the second must MIX codes — the property that
    // separates PQ (independent per-subspace choice) from plain
    // nearest-centroid assignment.
    val vecs = Seq(
      (0L, 0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, 0, Seq(0.2, 0.0, 0.1, 0.0)),
      (2L, 1, Seq(10.0, 10.0, 10.0, 10.0)),
      (3L, 1, Seq(9.8, 10.0, 10.2, 10.0)),
      (4L, 0, Seq(0.1, 0.1, 9.9, 10.1))) // mixed: block0→low, block1→high
      .toDF("id", "part", "vec")
    val codes = Similarity.pqEncode(vecs, 2, 2, numCodewords = 2)
      .select("id", "c0", "c1").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(codes(0L) == ((0L, 0L)) && codes(2L) == ((3L, 3L)))
    assert(codes(4L) == ((0L, 3L)), s"mixed vector got ${codes(4L)}")
  }

  test("pqEncodeFromCodebook over a parquet round-tripped codebook " +
      "reproduces pqEncode code-for-code (the r16 shared-artifact swap)") {
    // The bench rows now encode against the persisted pqflat codebook
    // instead of retraining; this pins the substitution exactly: train
    // once via pqAdcBuild, round-trip the codebook through parquet
    // (the artifact path), and the encode-only entry must emit the
    // identical code table.
    val vecs = Seq(
      (0L, 0, Seq(0.0, 0.0, 0.0, 0.0)),
      (1L, 0, Seq(0.2, 0.0, 0.1, 0.0)),
      (2L, 1, Seq(10.0, 10.0, 10.0, 10.0)),
      (3L, 1, Seq(9.8, 10.0, 10.2, 10.0)),
      (4L, 0, Seq(0.1, 0.1, 9.9, 10.1)))
      .toDF("id", "part", "vec")
    val (cw, codes) = Similarity.pqAdcBuild(vecs, 2, 2)
    val dir = java.nio.file.Files.createTempDirectory("pqcb").toString
    cw.write.parquet(s"$dir/cb.parquet")
    val cwBack = spark.read.parquet(s"$dir/cb.parquet")
    val direct = codes.orderBy("id").collect().toSeq
    val viaArtifact = Similarity.pqEncodeFromCodebook(vecs, 2, 2, cwBack)
      .orderBy("id").collect().toSeq
    assert(viaArtifact == direct)
  }

  test("pqCodebooksTrained shrinks quantization error vs the seed book " +
      "and never widens it per round (the Lloyd descent law)") {
    val vecs = graft.Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("id"), col("label").as("part"),
      Similarity.toDouble(col("embedding")).as("vec")).localCheckpoint(false)
    val numSub = 4
    val subDim = 16
    def sqError(cb: org.apache.spark.sql.DataFrame): Double = {
      val cw = Similarity.pqCodewordVecs(cb)
      val sub = vecs.select(col("id"),
          explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("vec"))
        .select(col("id"), col("m"),
          slice(col("vec"), col("m") * subDim + 1, lit(subDim)).as("sv"))
      val d = aggregate(zip_with(col("sv"), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
      sub.join(broadcast(cw), "m")
        .groupBy("id", "m").agg(min(d).as("best"))
        .agg(sum(col("best"))).head().getDouble(0)
    }
    val err1 = sqError(Similarity.pqCodebooksTrained(vecs, numSub, subDim, 1, 8))
    val err2 = sqError(Similarity.pqCodebooksTrained(vecs, numSub, subDim, 2, 8))
    // the 6-decimal recompute rounding perturbs the exact descent by
    // at most the rounding grain per codeword coordinate — allow it
    assert(err2 <= err1 + 1e-3,
      s"round 2 widened distortion: $err1 -> $err2")
    val seedErr = sqError(Similarity.pqCodebooks(vecs, subDim))
    assert(err2 < seedErr,
      s"trained book $err2 not below cell-seeded $seedErr")
  }

  test("pq codes pointwise-dominate the own-cell codeword and shrink " +
      "reconstruction error vs a single global codeword") {
    val vecs = graft.Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("id"), col("label").as("part"),
      Similarity.toDouble(col("embedding")).as("vec"))
    val numSub = 4
    val subDim = 16
    val cw = Similarity.pqCodewordVecs(Similarity.pqCodebooks(vecs, subDim))
    val sub = vecs.select(col("id"), col("part").cast("long").as("own"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("vec"))
      .select(col("id"), col("own"), col("m"),
        slice(col("vec"), col("m") * subDim + 1, lit(subDim)).as("sv"))
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val d = sub.join(broadcast(cw), "m")
      .select(col("id"), col("own"), col("m"), col("cl"),
        l2sq(col("sv"), col("cvec")).as("d"))
    val perSub = d.groupBy("id", "own", "m")
      .agg(min(col("d")).as("best"),
        min(when(col("cl") === col("own"), col("d"))).as("ownD"))
    // argmin is pointwise at least as good as the vector's own cell
    assert(perSub.filter(col("best") > col("ownD")).count() == 0)
    // and the 10-codeword quantizer beats collapsing to one global mean
    val globalMean = vecs
      .select(posexplode(col("vec")).as(Seq("dim", "v")))
      .groupBy("dim").agg(avg(col("v")).as("c"))
      .orderBy("dim").select("c").as[Double].collect()
    val gm = typedLit(globalMean.toSeq)
    val mseGlobal = vecs.select(l2sq(col("vec"), gm).as("e"))
      .agg(avg("e")).as[Double].head()
    val msePq = perSub.agg((sum("best") / countDistinct("id")).as("e"))
      .as[Double].head()
    assert(msePq < mseGlobal,
      s"PQ mse $msePq not better than single-codeword mse $mseGlobal")
  }
}
