package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.Similarity

/** r17 A/B pins: each custom codegen kernel introduced this round must
  * equal the join/aggregate formulation it replaced BIT-FOR-BIT on
  * data that exercises the tie rules (duplicate vectors → equal
  * scores/distances). The legacy formulations are reconstructed inline
  * here so a semantics drift in the kernels fails loudly.
  */
class CodegenAssignSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  // 40 vectors of dim 8, with deliberate duplicates for tie coverage
  private val base = Seq.tabulate(30)(i =>
    (i.toLong, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
  private val vecs = base ++ Seq(
    (30L, base(3)._2), (31L, base(3)._2), (32L, base(11)._2),
    (33L, Seq.fill(8)(0.0))) // zero vector exercises the 0-denom guard
  private def vdf: DataFrame = vecs.toDF("id", "vec")

  test("PqEncodeCodes equals the broadcast-join argmin bit-for-bit") {
    val numSub = 4
    val subDim = 2
    // codebook: 5 codewords per subspace from the first vectors' slices
    val cands = (0 until numSub).map { m =>
      (0 until 5).map { j =>
        (j * 7L, base(j * 3)._2.slice(m * subDim, (m + 1) * subDim)
          .toIndexedSeq)
      }.toIndexedSeq
    }.toIndexedSeq
    val got = vdf.select(col("id"),
        posexplode(PqEncodeCodes.of(col("vec"), cands, subDim))
          .as(Seq("m", "code")))
      .as[(Long, Int, Long)].collect().toSet
    // legacy: explode subvectors, join the codebook, min(struct(d, cl))
    val cw = cands.zipWithIndex.flatMap { case (cs, m) =>
      cs.map { case (cl, cv) => (m, cl, cv) }
    }.toDF("m", "cl", "cvec")
    val sub = vdf.select(col("id"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("vec"))
      .select(col("id"), col("m"),
        slice(col("vec"), col("m") * subDim + 1, lit(subDim)).as("sv"))
    val d = (0 until subDim).foldLeft(lit(0.0)) { (acc, i) =>
      acc + (col("sv").getItem(i) - col("cvec").getItem(i)) *
        (col("sv").getItem(i) - col("cvec").getItem(i))
    }
    val want = sub.join(broadcast(cw), "m")
      .select(col("id"), col("m"), struct(d.as("d"), col("cl")).as("s"))
      .groupBy(col("id"), col("m"))
      .agg(min(col("s")).as("best"))
      .select(col("id"), col("m"), col("best.cl"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got == want)
    // a codebook with no codewords for one subspace fails at plan
    // time, naming the subspace
    val e = intercept[IllegalArgumentException](
      Similarity.pqEncodeFromCodebook(vdf, numSub, subDim,
        cw.filter(col("m") =!= 2)))
    assert(e.getMessage.contains("subspace 2 of 4"))
  }

  test("CosineArgmaxCell equals the broadcast-join max_by bit-for-bit") {
    val cents = (0 until 6).map(j => (j * 3L, base(j * 2)._2.toIndexedSeq))
    val got = vdf.select(col("id"),
        CosineArgmaxCell.of(col("vec"), cents.toIndexedSeq).as("b"))
      .select(col("id"), col("b.cell"), col("b.score"))
      .as[(Long, Long, Double)].collect().toSet
    val cdf = cents.toDF("cpart", "cvec")
    val v = vdf.withColumn("vn",
      sqrt(Similarity.dot(col("vec"), col("vec"))))
    val c = cdf.withColumn("cn",
      sqrt(Similarity.dot(col("cvec"), col("cvec"))))
    val denom = col("vn") * col("cn")
    val score = when(denom === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("vec"), col("cvec")) / denom)
    val want = v.join(broadcast(c))
      .select(col("id"), col("cpart"), score.as("score"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("score"), col("cpart")),
        struct(col("score"), -col("cpart"))).as("best"))
      .select(col("id"), col("best.cpart"), col("best.score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    // an empty centroid table fails at plan time, naming the
    // precondition, in the kernel and in the assignment that feeds it
    val e1 = intercept[IllegalArgumentException](
      CosineArgmaxCell.of(col("vec"), IndexedSeq.empty))
    assert(e1.getMessage.contains("at least one centroid"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.nearestCell(vdf, cdf.limit(0)))
    assert(e2.getMessage.contains("at least one centroid"))
  }

  test("twoLevelAssign (codegen kernel) equals the legacy join chain") {
    val fine = vdf.filter(col("id") < 12)
      .select(col("id").as("cpart"), col("vec").as("cvec"))
      .localCheckpoint()
    val grouping = Similarity.coarsenCentroids(fine)
    val probe = Similarity.TwoLevelProbe
    val got = Similarity.twoLevelAssign(vdf, grouping, probe)
      .as[(Long, Long, Double, Long)].collect().toSet
    // legacy chain: coarse scores → g-bounded collect_list top-probe →
    // id rejoin → fine argmax + candidate count
    val (fineG, coarse) = grouping
    val v = vdf.select(col("id"), col("vec"))
      .withColumn("vn", sqrt(Similarity.dot(col("vec"), col("vec"))))
    val cg = coarse.withColumn("gn",
      sqrt(Similarity.dot(col("gvec"), col("gvec"))))
    val gden = col("vn") * col("gn")
    val gscore = when(gden === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("vec"), col("gvec")) / gden)
    val tops = v.join(broadcast(cg))
      .select(col("id"), col("gpart"), gscore.as("gscore"))
      .groupBy(col("id"))
      .agg(slice(sort_array(collect_list(
        struct((-col("gscore")).as("ns"), col("gpart")))), 1, probe)
        .as("tops"))
      .select(col("id").as("tid"),
        expr("transform(tops, t -> t.gpart)").as("gs"))
    val top = v.join(tops, col("id") === col("tid"))
      .select(col("id"), col("vec"), col("vn"),
        explode(col("gs")).as("gpart"))
    val fc = fineG.withColumn("cn",
      sqrt(Similarity.dot(col("cvec"), col("cvec"))))
    val fden = col("vn") * col("cn")
    val fscore = when(fden === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("vec"), col("cvec")) / fden)
    val want = top.join(broadcast(fc), Seq("gpart"))
      .select(col("id"), col("cpart"), fscore.as("score"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("score"), col("cpart")),
        struct(col("score"), -col("cpart"))).as("best"),
        count(lit(1)).as("n_fine_cand"))
      .select(col("id"), col("best.cpart"), col("best.score"),
        col("n_fine_cand"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == want)
  }

  test("mmrOverCandidates (per-query fold) equals the legacy rank loop") {
    val k = 4
    val lambda = 0.7
    val oneMinusLambda = 0.3
    val q = vdf.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val cand = Similarity.topK(vdf, q, 8)
      .select(col("query_id"), col("neighbor_id").as("cid"),
        col("cos").as("rel")).localCheckpoint()
    val got = Similarity
      .mmrOverCandidates(cand, vdf, k, lambda, oneMinusLambda)
      .as[(Long, Int, Long, Double, Double)].collect().toSet
    // legacy loop (the retired k-round formulation, verbatim)
    val cv = cand.join(vdf.select(col("id").as("vid"), col("vec")),
        col("cid") === col("vid"))
      .select(col("query_id"), col("cid"), col("vec"))
    val pairs = cv.alias("a")
      .join(cv.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cid") =!= col("b.cid"))
      .select(col("a.query_id"), col("a.cid").as("ca"),
        col("b.cid").as("cb"),
        round(Similarity.cosine(col("a.vec"), col("b.vec")), 6).as("sim"))
      .localCheckpoint()
    val pick1 = cand.groupBy("query_id")
      .agg(max_by(struct(col("cid"), col("rel")),
        struct(col("rel"), -col("cid"))).as("w"))
      .select(col("query_id"), col("w.cid").as("cid"),
        col("w.rel").as("rel"),
        (lit(lambda) * col("w.rel")).as("mmr"), lit(1).as("rk"))
    var acc = pick1.localCheckpoint()
    for (i <- 2 to k) {
      val pen = pairs.alias("p")
        .join(acc.alias("s"),
          col("p.query_id") === col("s.query_id") &&
            col("p.cb") === col("s.cid"))
        .groupBy(col("p.query_id").as("query_id"), col("p.ca").as("cid"))
        .agg(max(col("p.sim")).as("pen"))
      val rem = cand.join(acc.select(col("query_id"), col("cid")),
          Seq("query_id", "cid"), "left_anti")
        .join(pen, Seq("query_id", "cid"))
        .select(col("query_id"), col("cid"), col("rel"),
          (lit(lambda) * col("rel") -
            lit(oneMinusLambda) * col("pen")).as("mmr"))
      val pick = rem.groupBy("query_id")
        .agg(max_by(struct(col("cid"), col("rel"), col("mmr")),
          struct(col("mmr"), -col("cid"))).as("w"))
        .select(col("query_id"), col("w.cid").as("cid"),
          col("w.rel").as("rel"), col("w.mmr").as("mmr"),
          lit(i).as("rk"))
      acc = acc.union(pick).localCheckpoint()
    }
    val want = acc.select(col("query_id"),
        col("rk").cast("int").as("rank"), col("cid").as("neighbor_id"),
        round(col("mmr"), 7).as("mmr"), col("rel").as("cos"))
      .as[(Long, Int, Long, Double, Double)].collect().toSet
    assert(got == want)
  }
}
