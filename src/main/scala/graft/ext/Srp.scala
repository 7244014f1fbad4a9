package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed random projections (SRP / random-hyperplane LSH, Charikar
  * 2002) over an embedding column — the bucketed scale path for cosine
  * near-duplicate detection, complementing [[Similarity.nearDupPairs]]
  * (which buckets by a pre-assigned cluster column).
  *
  * Bit i of the signature is `sign(v · r_i)` for a fixed Rademacher
  * hyperplane r_i ∈ {+1, −1}^dim; two vectors at angle θ agree on a
  * bit with probability 1 − θ/π, so banding the bits gives the classic
  * LSH recall curve over cosine similarity. The hyperplanes are a pure
  * function of (plane, dim) via md5, so the DuckDB oracle regenerates
  * the identical matrix and the signature is hash-checkable end to end.
  *
  * Scale notes: the dot products run through the codegen'd
  * [[graft.functions.DotProduct]] against literal arrays — scan-side,
  * no shuffle; candidate generation shuffles (band, key) rows only.
  *
  * ADAPTIVE band width (round-10; the second-decade witness caught the
  * fixed 4-bit banding going 85× superlinear at 10× sf0.1): a band of
  * b bits has 2^b buckets, so under a FROZEN b the expected bucket
  * population — and with it the within-bucket pair work — grows
  * linearly in the corpus and the candidate volume quadratically,
  * exactly the frozen-k disease of the cluster tier. [[adaptiveBits]]
  * picks the smallest b with 2^b · [[TargetBucketPop]] ≥ N (clamped to
  * [4, 15]), so expected population stays ≈ TargetBucketPop and
  * candidate work stays linear; the standard LSH trade is recall —
  * per-band collision probability is (1 − θ/π)^b — which a deployment
  * re-calibrates via [[NumBands]] as b grows (the E203 discipline:
  * measure, don't assume). The 60-plane signature (top 4 bits unused
  * at the widest banding; 60 keeps every shift below the sign bit,
  * the SimHash60 rule) is computed once whatever b is. At the fixture
  * SFs (N ≤ 512·2) the clamp floor keeps b = 4 — bit-identical
  * banding to the pre-adaptive tier.
  */
object Srp {

  val NumPlanes = 60
  val NumBands = 4
  val MinBitsPerBand = 4
  val MaxBitsPerBand: Int = NumPlanes / NumBands // 15: bit 59 max, no sign bit
  val TargetBucketPop = 32

  /** Smallest band width whose bucket space holds the corpus at
    * [[TargetBucketPop]] expected members — integer arithmetic, so the
    * SQL oracle replays it exactly.
    */
  def adaptiveBits(n: Long): Int =
    (MinBitsPerBand to MaxBitsPerBand)
      .find(b => (1L << b) * TargetBucketPop >= n)
      .getOrElse(MaxBitsPerBand)

  /** Rademacher component: +1 when the first hex nibble of
    * md5("<plane>_<dim>") is even — reproduced in the oracle as
    * `strpos('02468ace', substr(md5(i || '_' || j), 1, 1)) > 0`.
    */
  private def component(i: Int, j: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"${i}_${j}".getBytes("UTF-8"))
    if ((((d(0) >> 4) & 0xf) & 1) == 0) 1.0 else -1.0
  }

  /** The NumPlanes × dim hyperplane matrix (driver-side constant —
    * O(planes·dim) doubles, broadcast into codegen as literals).
    */
  def planes(dim: Int): IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(NumPlanes, dim)(component)

  /** [[NumPlanes]]-bit SRP signature of an `array<double>` column. */
  def sig(vec: Column, dim: Int): Column = {
    val r = planes(dim)
    (0 until NumPlanes).map { i =>
      when(Similarity.dot(vec, typedLit(r(i))) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Band key j of a signature at width `bits`: bits [j·bits, (j+1)·bits). */
  def bandKey(sigCol: Column, j: Int, bits: Int): Column =
    shiftrightunsigned(sigCol, j * bits)
      .bitwiseAND(lit((1L << bits) - 1))

  /** SRP-bucketed cosine near-dup pairs: vectors sharing any band key
    * become candidates; candidates are verified with the exact cosine
    * (6-decimal-rounded, matching [[Similarity.nearDupPairs]]) — false
    * positives are impossible, recall follows the banding curve.
    * Input: (id, vec); output: (id_a, id_b, cos), id_a < id_b.
    *
    * Candidate generation follows [[Dedup.lshCandidatesSig]]'s one-pass
    * bucket-group shape (not a band self-join): the signature is
    * computed ONCE, buckets carry sorted id lists capped at
    * [[Dedup.MaxBucketSize]] (a dense hub bucket degrades recall past
    * the cap instead of going quadratic — the oracle assumes the cap
    * never binds, which LSH bucket statistics give at sane band
    * widths), and in-bucket pairs come from a bucket-sparse HOF.
    */
  def nearDupPairs(vecs: DataFrame, dim: Int, threshold: Double): DataFrame = {
    val bits = adaptiveBits(vecs.count()) // one bounded scalar action
    val sigs = vecs.select(col("id"), sig(col("vec"), dim).as("sig"))
    val bands = sigs.select(col("id"),
      posexplode(array((0 until NumBands).map(j => bandKey(col("sig"), j, bits)): _*))
        .as(Seq("band_idx", "band_key")))
    val buckets = bands.groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("ids", slice(col("ids"), 1, Dedup.MaxBucketSize))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("id_a"), b.as("id_b")))))
    val cands = buckets.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    // Per-row norm precompute on the verify join-backs (r16): one dot
    // per candidate pair instead of three, bit-identical to the
    // one-shot cosine and the SQL oracle.
    val withNrm = vecs.select(col("id"), col("vec"),
      Similarity.norm(col("vec")).as("nrm"))
    val cs = Similarity.cosineNormed(col("va"), col("vb"), col("na"),
      col("nb"))
    cands
      .join(withNrm.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na")), "id_a")
      .join(withNrm.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), round(cs, 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
