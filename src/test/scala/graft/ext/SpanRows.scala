package graft.ext

/** Exact driver-side references for [[SpanDedup]]'s find stages: grams
  * are grouped by their raw space-joined string, so no key collision is
  * possible. The texts split on single spaces with trailing empty
  * tokens kept, as Spark's `split(text, " ")` does. Spans come back as
  * (doc_id, span_start, span_end, span_tokens).
  */
object SpanRows {

  private def grams(text: String, n: Int): Seq[(String, Int)] = {
    val ws = text.split(" ", -1)
    (0 to ws.length - n).map(i => (ws.slice(i, i + n).mkString(" "), i))
  }

  /** Hit positions merged into maximal spans: a hit starts a new span
    * when the previous hit is more than n positions back.
    */
  private def islands(id: Long, hits: Seq[Int], n: Int): Seq[(Long, Int, Int, Int)] =
    hits.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, p) if p - e <= n => (s, p) :: rest
      case (acc, p) => (p, p) :: acc
    }.map { case (s, e) => (id, s, e + n - 1, e + n - s) }

  /** Spans of grams that occur in at least `minDocs` documents. */
  def duplicated(docs: Seq[(Long, String)], n: Int,
                 minDocs: Int): Set[(Long, Int, Int, Int)] = {
    val g = docs.map { case (id, t) => id -> grams(t, n) }
    val nDocs = g.flatMap { case (id, gs) => gs.map(_._1 -> id) }
      .groupMapReduce(_._1)(p => Set(p._2))(_ ++ _)
    g.flatMap { case (id, gs) =>
      islands(id, gs.collect { case (w, p) if nDocs(w).size >= minDocs => p }, n)
    }.toSet
  }

  /** Spans of training docs (`isEval` false) whose grams occur in any
    * eval doc.
    */
  def contaminated(docs: Seq[(Long, String)], n: Int,
                   isEval: Long => Boolean): Set[(Long, Int, Int, Int)] = {
    val evalGrams = docs.filter(d => isEval(d._1))
      .flatMap(d => grams(d._2, n).map(_._1)).toSet
    docs.filterNot(d => isEval(d._1)).flatMap { case (id, t) =>
      islands(id, grams(t, n).collect { case (w, p) if evalGrams(w) => p }, n)
    }.toSet
  }
}
