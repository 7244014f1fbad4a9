package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BpeMerge

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the
  * corpus → tokenizer step of a training-data pipeline, learned
  * IN-ENGINE instead of assumed (E13/E185 tokenize with a fixed regex;
  * this learns the merge table those audits should be re-run against).
  *
  * Scale design (the reason this is Spark-shaped and not a driver
  * script): training never iterates over the corpus. One corpus-sized
  * aggregation builds the WORD-FREQUENCY table — bounded by
  * vocabulary, not tokens, so a 100 TB corpus collapses to millions of
  * rows before the loop starts. Each merge round then runs over that
  * vocabulary table only:
  *   1. adjacent-pair counts weighted by word frequency — one
  *      vocabulary-sized aggregation (the round's only shuffle);
  *   2. the top-`batch` pairs — `LIMIT batch` collected to the driver:
  *      O(batch) rows per round, the k-means-centroid discipline
  *      (`Similarity.kmeansIterated`);
  *   3. rule application — the native [[graft.functions.BpeMerge]]
  *      codegen pass, a pure narrow projection over the vocabulary;
  *   4. `localCheckpoint` — truncates the per-round lineage exactly
  *      like the connected-components loop (`Clusters`), so N rounds
  *      never build an N-deep plan.
  *
  * Determinism (what lets a SQL oracle replay training exactly): pair
  * counts are exact integers, and the argmax tie-break is total —
  * (count DESC, lhs ASC, rhs ASC), binary string order, identical in
  * Spark and DuckDB for the fixture's ASCII symbols.
  *
  * Pre-tokenization is [[TextOps.bpeTokens]] (letter/digit runs,
  * single symbols); merges never cross word boundaries, the standard
  * BPE contract. No end-of-word marker is appended — fertility
  * comparisons against the fixed-regex tokenizer stay apples-to-apples
  * on the same pre-token stream.
  */
object Bpe {

  /** Merge rounds to learn. The fixture vocabulary (~31 words) fully
    * exercises argmax ties and multi-char merges within 12 rounds;
    * production raises this to vocab-size minus character count
    * without changing any plan shape (each round is one aggregation).
    */
  val Rounds = 12

  /** One learned merge: rank is 1-based acceptance order. */
  final case class MergeRule(rank: Int, lhs: String, rhs: String, pairCount: Long)

  /** Word-frequency vocabulary with initial per-character symbol
    * arrays: (word, freq, sym). The one corpus-sized pass.
    */
  def vocab(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
          .as("sym"))

  /** Adjacent-pair candidates of the current vocabulary, weighted by
    * word frequency (overlapping pairs all count, per Sennrich's
    * `get_stats`). Words reduced to one symbol are filtered BEFORE the
    * pair transform: `sequence(1, 0)` would generate a DESCENDING
    * range in Spark (not an empty one) and index out of bounds.
    */
  private[ext] def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("sym")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(sym) - 1), " +
          "i -> struct(sym[i - 1] AS a, sym[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("lhs"), col("p.b").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** BPE training in `rounds` driver rounds; returns the ranked rules
    * and the final vocabulary (word, freq, sym) — i.e. every word's
    * learned-BPE segmentation, which IS the tokenizer: encoding a
    * corpus is a broadcast join against it (or, for out-of-vocabulary
    * words at inference, replaying the returned rules with
    * [[BpeMerge]]). Stops early when no pairs remain.
    *
    * Per round, ONE pair-count aggregation selects the top-`batch`
    * pairs and applies the longest PREFIX of that ranking that is
    * pairwise symbol-DISJOINT — pair j is accepted only while none of
    * its three symbols (lhs, rhs, lhs‖rhs) collides with any earlier
    * accepted pair's three symbols. The top pair is always accepted,
    * so `batch = 1` is sequential BPE: one argmax merge per round.
    * Disjoint merges commute: applying one never creates, destroys, or
    * shifts another's candidate adjacencies, so their round-start
    * counts equal their would-be sequential counts and simultaneous
    * application equals sequential application in any order (BpeSpec
    * pins `batch = 1` against a sequential reference loop, and a
    * batched run against it on the fixture).
    *
    * THE ROUND-COUNT LAW (why `batch` exists): sequential training
    * costs one vocabulary aggregation + one O(1) driver sync PER MERGE
    * — a production tokenizer's 30k–100k merges would mean 30k–100k
    * driver-synchronized passes over the vocabulary table. Batching
    * divides that by the realized batch width: driver rounds ≈
    * merges / E[accepted per round], with E[accepted] near `batch` in
    * the long Zipf tail where top pairs rarely share symbols. The
    * trade is fidelity at the head (a merge that would have been
    * re-ranked by a just-created pair can be taken a round early) —
    * the standard batched-BPE approximation, accepted for exactly this
    * driver-round economics.
    *
    * Learns up to `rounds × batch` merges in `rounds` driver syncs.
    */
  def train(docs: DataFrame, rounds: Int,
            batch: Int): (Seq[MergeRule], DataFrame) = {
    require(rounds >= 1, "need at least one merge round")
    require(batch >= 1, "batch must be positive")
    var words = vocab(docs).localCheckpoint()
    val rules = Seq.newBuilder[MergeRule]
    var rank = 0
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(batch).collect()
      if (top.isEmpty) {
        exhausted = true
      } else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stop = false
        top.foreach { row =>
          val l = row.getAs[String]("lhs")
          val rh = row.getAs[String]("rhs")
          if (!stop) {
            if (used(l) || used(rh) || used(l + rh)) stop = true
            else {
              accepted += ((l, rh, row.getAs[Long]("cnt")))
              used += l; used += rh; used += (l + rh)
            }
          }
        }
        accepted.foreach { case (l, rh, c) =>
          rank += 1
          rules += MergeRule(rank, l, rh, c)
        }
        words = words.select(col("word"), col("freq"),
          accepted.foldLeft(col("sym")) { case (s, (l, rh, _)) =>
            BpeMerge(s, lit(l), lit(rh))
          }.as("sym"))
          .localCheckpoint()
        r += 1
      }
    }
    (rules.result(), words)
  }

  // -----------------------------------------------------------------
  // DuckDB oracle: the same training replayed as unrolled SQL rounds
  // -----------------------------------------------------------------

  /** CTE chain replaying `rounds` merge rounds in DuckDB over the same
    * parquet `documents`. Representation: long-form (word, freq, p, s)
    * symbol rows, positions renumbered contiguously each round.
    *
    * Per round k (w0 = per-character split of the word-frequency
    * table):
    *   - `p{k}`: adjacent-pair counts (self-join on p+1);
    *   - `b{k}`: the argmax pair under (cnt DESC, lhs, rhs);
    *   - `c{k}`: candidate positions whose (s, next s) equals b{k};
    *   - `a{k}`: accepted candidates — every OTHER candidate within
    *     each run of consecutive candidates, counted from the run
    *     head. This is exactly leftmost-greedy: overlapping candidates
    *     only occur for lhs == rhs runs (see [[graft.functions
    *     .BpeMerge]]), where greedy takes run positions 0, 2, 4, …;
    *   - `w{k}`: rebuild — drop rows consumed as a pair's second
    *     element, concatenate at accepted positions, renumber.
    *
    * This is [[train]] at `batch = 1`. The unrolled chain is
    * generated, not hand-written, so the round count stays a single
    * constant shared with the Spark row.
    */
  def oracleChain(rounds: Int = Rounds): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH dtok AS MATERIALIZED (
         |  SELECT unnest(regexp_extract_all(text,
         |    '${TextOps.BpeTokenPattern}')) AS word
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM dtok GROUP BY word),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq, CAST(t.i AS BIGINT) AS p,
         |         substr(word, CAST(t.i AS INTEGER), 1) AS s
         |  FROM vocab, unnest(generate_series(1, length(word))) AS t(i))""".stripMargin)
    for (k <- 1 to rounds) {
      sb.append(selectBestSql(k,
        s"""b$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k
           |        ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin))
      sb.append(applyRoundSql(k))
    }
    sb.append(",\nmerges AS MATERIALIZED (\n")
    sb.append((1 to rounds).map { k =>
      s"  SELECT CAST($k AS INTEGER) AS merge_rank, lhs, rhs, cnt FROM b$k"
    }.mkString("", "\n  UNION ALL\n", ")"))
    sb.toString
  }

  /** Round k's pair-count CTE plus the caller-supplied selection of the
    * round's merge set `b$k` (one row sequential; a disjoint prefix
    * batched). */
  private def selectBestSql(k: Int, bDef: String): String = {
    val w = s"w${k - 1}"
    s""",
       |p$k AS MATERIALIZED (
       |  SELECT x.s AS lhs, y.s AS rhs, CAST(sum(x.freq) AS BIGINT) AS cnt
       |  FROM $w x JOIN $w y ON y.word = x.word AND y.p = x.p + 1
       |  GROUP BY x.s, y.s),
       |$bDef""".stripMargin
  }

  /** Round k's candidate/accept/rebuild CTEs — identical for the
    * sequential and batched replays: `b$k` may hold several rules, but
    * symbol-disjointness means candidates of different rules are never
    * adjacent, so the every-other-within-run greedy logic and the
    * pair-consuming rebuild apply unchanged.
    */
  private def applyRoundSql(k: Int): String = {
    val w = s"w${k - 1}"
    s""",
       |c$k AS MATERIALIZED (
       |  SELECT x.word, x.p
       |  FROM $w x JOIN $w y ON y.word = x.word AND y.p = x.p + 1
       |  JOIN b$k ON x.s = b$k.lhs AND y.s = b$k.rhs),
       |a$k AS MATERIALIZED (
       |  SELECT word, p FROM (
       |    SELECT word, p, p - min(p) OVER (PARTITION BY word, run) AS off
       |    FROM (SELECT word, p,
       |                 p - row_number() OVER (PARTITION BY word ORDER BY p)
       |                   AS run
       |          FROM c$k))
       |  WHERE off % 2 = 0),
       |w$k AS MATERIALIZED (
       |  SELECT word, freq,
       |         row_number() OVER (PARTITION BY word ORDER BY op) AS p, s
       |  FROM (
       |    SELECT x.word, x.freq, x.p AS op,
       |           CASE WHEN a.word IS NOT NULL THEN x.s || y.s ELSE x.s END
       |             AS s
       |    FROM $w x
       |    LEFT JOIN a$k a ON a.word = x.word AND a.p = x.p
       |    LEFT JOIN a$k d ON d.word = x.word AND d.p = x.p - 1
       |    LEFT JOIN $w y ON y.word = x.word AND y.p = x.p + 1
       |    WHERE d.word IS NULL))""".stripMargin
  }

  /** [[train]] at `batch > 1` replayed as unrolled SQL: per round, the
    * top-`batch` ranking (`tb`), the first conflicted rank (`ct` —
    * a pair conflicts when any of its three symbols collides with an
    * earlier-ranked pair's three symbols), the accepted disjoint
    * prefix (`b`), then the SAME candidate/accept/rebuild CTEs as the
    * sequential chain. `merges` numbers the accepted stream globally
    * in (round, in-round rank) order.
    */
  def oracleChainBatched(batchRounds: Int, batch: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH dtok AS MATERIALIZED (
         |  SELECT unnest(regexp_extract_all(text,
         |    '${TextOps.BpeTokenPattern}')) AS word
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM dtok GROUP BY word),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq, CAST(t.i AS BIGINT) AS p,
         |         substr(word, CAST(t.i AS INTEGER), 1) AS s
         |  FROM vocab, unnest(generate_series(1, length(word))) AS t(i))""".stripMargin)
    for (k <- 1 to batchRounds) {
      sb.append(selectBestSql(k,
        s"""tb$k AS MATERIALIZED (
           |  SELECT * FROM (SELECT lhs, rhs, cnt,
           |           row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rn
           |         FROM p$k)
           |  WHERE rn <= $batch),
           |ct$k AS MATERIALIZED (
           |  SELECT coalesce(min(x.rn), ${batch + 1}) AS cut
           |  FROM tb$k x JOIN tb$k y ON y.rn < x.rn
           |   AND (x.lhs IN (y.lhs, y.rhs, y.lhs || y.rhs)
           |     OR x.rhs IN (y.lhs, y.rhs, y.lhs || y.rhs)
           |     OR (x.lhs || x.rhs) IN (y.lhs, y.rhs, y.lhs || y.rhs))),
           |b$k AS MATERIALIZED (
           |  SELECT lhs, rhs, cnt, rn FROM tb$k, ct$k WHERE rn < cut)""".stripMargin))
      sb.append(applyRoundSql(k))
    }
    sb.append(",\nmerges AS MATERIALIZED (\n")
    sb.append("  SELECT CAST(row_number() OVER (ORDER BY rnd, rn) AS INTEGER)" +
      " AS merge_rank, lhs, rhs, cnt FROM (\n")
    sb.append((1 to batchRounds).map { k =>
      s"  SELECT $k AS rnd, rn, lhs, rhs, cnt FROM b$k"
    }.mkString("", "\n  UNION ALL\n", "))"))
    sb.toString
  }
}
