package graftbench

object Stats {
  /** Linear-interpolated percentile `p` (0-100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `candidates` that leaves at least 10 of `n`
    * samples beyond it, or None when even the lowest does not.
    */
  def highestSupported(n: Int, candidates: Seq[Double] = Seq(50, 90, 99, 99.9, 99.99)): Option[Double] =
    candidates.filter(p => n * (1 - p / 100.0) >= 10 - 1e-9).maxOption
}

/** Micro-batch bookkeeping for the open-loop latency.
  *
  * A generator chunk is added to a MemoryStream as one `addData` call,
  * which returns the chunk's offset. Batch `b` processes offsets in
  * (start, end]; every event of a chunk is emitted when the batch that
  * holds the chunk completes, so the chunk is one latency sample.
  */
final case class BatchSpan(batchId: Long, startExclusive: Long, endInclusive: Long, doneMs: Double)

object Latency {
  /** Completion time of the batch holding each chunk offset (NaN if no
    * batch holds it). `batches` may arrive in any order.
    */
  def completion(chunkOffsets: Array[Long], batches: Seq[BatchSpan]): Array[Double] = {
    val sorted = batches.filter(b => b.endInclusive > b.startExclusive).sortBy(_.endInclusive).toArray
    val ends = sorted.map(_.endInclusive)
    chunkOffsets.map { o =>
      val i = java.util.Arrays.binarySearch(ends, o)
      val j = if (i >= 0) i else -i - 1
      if (j < sorted.length && sorted(j).startExclusive < o) sorted(j).doneMs else Double.NaN
    }
  }

  /** MemoryStream offsets appear in progress reports as a bare number
    * (or null before the first batch).
    */
  def offset(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong
}
