package graft.ext

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.{BpeMerge, GraftFunctions}

/** BPE training (E199/E200): the native merge kernel's leftmost-greedy
  * semantics, rule-replay tokenization equivalence, determinism of the
  * learned table on a hand-checkable corpus, and early exhaustion.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def mergeOnce(sym: Seq[String], lhs: String, rhs: String): Seq[String] =
    Seq(Tuple1(sym)).toDF("sym")
      .select(BpeMerge(col("sym"), lit(lhs), lit(rhs)).as("m"))
      .as[Seq[String]].head()

  test("bpe_merge is leftmost-greedy over the INPUT symbols") {
    // overlap run: [a,a,a] under (a,a) takes positions 0-1, leaves 2
    assert(mergeOnce(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(mergeOnce(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(mergeOnce(Seq("a", "a", "a", "a", "a"), "a", "a") ==
      Seq("aa", "aa", "a"))
    // a produced symbol never re-matches within the same pass:
    // [a,b,b] under (a,b) -> [ab,b], NOT [abb]
    assert(mergeOnce(Seq("a", "b", "b"), "a", "b") == Seq("ab", "b"))
    // no match -> unchanged; empty -> empty
    assert(mergeOnce(Seq("x", "y"), "a", "b") == Seq("x", "y"))
    assert(mergeOnce(Seq.empty[String], "a", "b") == Seq.empty[String])
  }

  test("bpe_merge SQL registration agrees with the Column API") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT bpe_merge(array('a','a','b'), 'a', 'a') AS m")
      .as[Seq[String]].head()
    assert(viaSql == Seq("aa", "b"))
  }

  test("train learns the hand-computed merge table on a toy corpus " +
      "and replaying the rules re-derives the final segmentation") {
    // corpus: "low low lower" -> freqs low:2 lower:1
    // round 1 pairs: (l,o):3 (o,w):3 (w,e):1 (e,r):1 -> tie (l,o) vs
    // (o,w) broken lexicographically -> (l,o)
    // round 2: (lo,w):3 (w,e):1 (e,r):1 -> (lo,w)
    // round 3: (low,e):1 (e,r):1 -> tie -> (e,r)
    // round 4: (low,er):1 -> (low,er), fully merging "lower";
    // round 5: no pairs left -> exhausted
    val docs = Seq("low low lower").toDF("text")
    val (rules, words) = Bpe.train(docs, rounds = 8, batch = 1)
    assert(rules.map(r => (r.rank, r.lhs, r.rhs, r.pairCount)) == Seq(
      (1, "l", "o", 3L), (2, "lo", "w", 3L),
      (3, "e", "r", 1L), (4, "low", "er", 1L)))
    val finalSym = words.select(col("word"), col("sym"))
      .as[(String, Seq[String])].collect().toMap
    assert(finalSym == Map("low" -> Seq("low"), "lower" -> Seq("lower")))
    // replaying the learned rules over a raw char split = the final
    // vocabulary segmentation (the OOV-at-inference path)
    val replayed = rules.foldLeft(Seq("l", "o", "w", "e", "r")) {
      case (sym, r) => mergeOnce(sym, r.lhs, r.rhs)
    }
    assert(replayed == finalSym("lower"))
  }

  test("train stops early when the vocabulary is fully merged") {
    val docs = Seq("ab ab").toDF("text")
    val (rules, words) = Bpe.train(docs, rounds = 10, batch = 1)
    assert(rules.map(r => (r.lhs, r.rhs)) == Seq(("a", "b")))
    assert(words.select("sym").as[Seq[String]].head() == Seq("ab"))
  }

  test("on the fixture corpus the learned tokenizer never splits a " +
      "word below 1 symbol or above its character count, and later " +
      "rounds monotonically coarsen the segmentation") {
    val docs = Tables.documents(spark, sfDir)
    val (rules, words) = Bpe.train(docs, Bpe.Rounds, batch = 1)
    assert(rules.nonEmpty && rules.map(_.rank) == (1 to rules.size))
    // pair counts never increase in rank order is NOT guaranteed by
    // BPE (a merge can create a more frequent pair), but bounds are:
    val bad = words
      .filter(size(col("sym")) < 1 || size(col("sym")) > length(col("word")))
      .count()
    assert(bad == 0)
    // applying any merges must strictly shrink the total symbol count
    val n0 = Bpe.vocab(docs).select(sum(size(col("sym")))).as[Long].head()
    val nN = words.select(sum(size(col("sym")))).as[Long].head()
    assert(nN < n0, s"merges applied but symbol count did not shrink ($n0 -> $nN)")
  }

  test("batched training at batch = 1 IS sequential training " +
      "(structural equivalence: the prefix rule degenerates to argmax)") {
    val docs = Seq("low low lower", "ab ab").toDF("text")
    val (seq, sw) = BpeSequential.train(docs, rounds = 6)
    val (bat, bw) = Bpe.train(docs, rounds = 6, batch = 1)
    assert(bat == seq)
    assert(sw.orderBy("word").collect().toSeq ==
      bw.orderBy("word").collect().toSeq)
  }

  test("batched ≡ sequential on the fixture (EMPIRICAL equivalence — " +
      "see comment; value correctness is docs_bpe_merges_batched's " +
      "own oracle, independent of this)") {
    val docs = Tables.documents(spark, sfDir)
    val (bat, _) = Bpe.train(docs,
      graft.queries.TextQueries.BpeBatchRounds,
      graft.queries.TextQueries.BpeBatch)
    assert(bat.nonEmpty)
    // more merges per driver sync than sequential's 1 — the law's point
    assert(bat.size > graft.queries.TextQueries.BpeBatchRounds)
    // NOTE (ADVICE r10): this equivalence is empirical for this
    // fixture, not structural. The conflict cut only stops a batch at
    // symbol-sharing pairs; a merge-CREATED pair (count ≤ its parent's)
    // can still outrank a later symbol-disjoint pair in the same batch,
    // in which case sequential would pick it earlier and the traces
    // diverge. If fixture drift ever trips this assertion, that is the
    // known-benign divergence, not a code bug — the batched tier's
    // values stay oracle-checked by docs_bpe_merges_batched either way.
    val (seq, _) = BpeSequential.train(docs, rounds = bat.size)
    assert(bat == seq,
      "batched trace diverged from sequential on this fixture — " +
        "expected-possible under fixture drift (see NOTE above), " +
        "re-derive the fixture expectation rather than hunting a bug")
  }
}
