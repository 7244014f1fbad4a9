package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (north-star
  * extension, SURVEY.md §7.4 — NOT from the reference, which has no
  * dedup surface).
  *
  * Four families. Outputs the DuckDB oracle must reproduce bit for bit
  * are built from Catalyst built-ins (both engines agree on `md5` hex);
  * MinHash candidates come from a native signature kernel, since only
  * their exact-Jaccard-verified output is oracle-checked:
  *
  *  1. '''Exact''' — group by content hash, keep one representative.
  *  2. '''MinHash + LSH''' — one scan-side signature kernel (k=32)
  *     → b=8 bands of r=4 → band buckets for candidates → exact-Jaccard
  *     verify. Never all-pairs: the only shuffle is the band-bucket
  *     groupBy, which is linear in corpus size × band count. At a
  *     planted-dup similarity s ≥ 0.9 the miss probability per pair is
  *     (1 − s⁴)⁸ ≤ 3e-7 — and candidates are verified with the true
  *     Jaccard, so false positives are impossible.
  *  3. '''SimHash''' — 60-bit sign-of-sum fingerprint over token hashes;
  *     near-dup = Hamming distance ≤ t, found via 4×15-bit chunk banding
  *     (pigeonhole: hd ≤ 3 ⇒ at least one of 4 chunks identical, so the
  *     candidate set is provably complete, not probabilistic).
  *  4. '''Embedding cosine''' — cluster-bucketed near-dup over a vector
  *     column (see [[Similarity]] for the cosine kernel).
  *
  * Hash choices: LSH banding uses native `xxhash64` (candidates need
  * determinism + recall, not oracle parity — the DuckDB oracle checks
  * the *verified* exact-Jaccard output via independent all-pairs);
  * SimHash fingerprints use `md5`, because the fingerprint itself is a
  * query output the oracle must reproduce bit-for-bit.
  */
object Dedup {

  /** Fan narrow-input plans out to the session's parallelism when the
    * scan has fewer splits than cores (e.g. a single small parquet file
    * feeding 32 cores, or a union of two feeding 4): every downstream
    * map stage — shingle explode, hashing, checkpoint block writes —
    * otherwise leaves cores idle. The repartition is CONDITIONAL: on a
    * real multi-file corpus the scan already has ≥ parallelism splits
    * and this is a no-op, so the full corpus is never shuffled at
    * 100 TB just to rebalance.
    */
  private[graft] def ensureParallel(df: DataFrame, target: Int = 0): DataFrame = {
    val t =
      if (target > 0) target else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < t) df.repartition(t) else df
  }

  /** Distinct word n-gram shingles of a whitespace-tokenized text.
    * Texts shorter than n words fall back to a single whole-text shingle
    * (Spark `sequence(1, x)` with x < 1 would count *down*, so the guard
    * is required, not cosmetic).
    *
    * Array-building HOFs evaluate interpreted; the production pipeline
    * uses the row-generating twins ([[wordShingleRows]] /
    * [[charShingleRows]]), which stay in whole-stage codegen.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array(text))
  }

  /** Distinct character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array(text))

  /** (id, x) word n-gram shingle rows, flat codegen (possibly with
    * duplicate shingles — [[verifyCandidates]] dedups with
    * `collect_set`): explode a position sequence, assemble the n-gram
    * with `element_at`. A doc with fewer than n words yields its whole
    * text (position sequence clamps to [1,1] and `concat_ws` skips null
    * words).
    */
  def wordShingleRows(df: DataFrame, idCol: Column, text: Column, n: Int): DataFrame = {
    val w = split(text, " ")
    val ex = df.select(idCol.as("id"), w.as("w"),
      explode(sequence(lit(1), greatest(size(w) - (n - 1), lit(1)))).as("i"))
    // get() is 0-based and yields null past the end (element_at would
    // throw under Spark 4's default ANSI mode); concat_ws skips nulls.
    ex.select(col("id"),
      concat_ws(" ", (0 until n).map(o => get(col("w"), col("i") + o - 1)): _*).as("x"))
  }

  /** (id, x) character n-gram shingle rows, flat codegen. Texts shorter
    * than n chars yield one truncated shingle (the whole text).
    */
  def charShingleRows(df: DataFrame, idCol: Column, text: Column, n: Int): DataFrame = {
    val ex = df.select(idCol.as("id"), text.as("t"),
      explode(sequence(lit(1), greatest(length(text) - (n - 1), lit(1)))).as("i"))
    ex.select(col("id"), col("t").substr(col("i"), lit(n)).as("x"))
  }

  /** MinHash layout of the signature kernels
    * ([[graft.functions.MinHashClassicSig]], [[graft.functions.MinHashSig]]):
    * ONE string `xxhash64` per shingle (hashing the string is the
    * expensive step), then 32 permutations as `xxhash64(p, base)` over
    * the resulting 8-byte long — re-hashing a fixed-width long costs
    * nanoseconds, so the per-shingle cost is ~1 string hash regardless
    * of permutation count. Each permutation keeps its top 32 bits:
    * 32-bit chunk space keeps tie/saturation probability negligible
    * even for documents with millions of distinct shingles (16-bit
    * chunks would drive every huge document's min to 0, funneling them
    * all into one bucket); ties only ever *add* candidates (verified
    * away later), never lose them. Band b (of 8) concatenates 4
    * consecutive mins ([[bandKeys]]).
    *
    * Oracle note: banding needs determinism and recall, not oracle
    * parity — the correctness oracle recomputes exact all-pairs
    * Jaccard and never sees the candidate hashes.
    */
  val NumPerms = 32
  val NumBands = 8
  val RowsPerBand = 4

  /** Pair expansion is quadratic per bucket, so a degenerate bucket (a
    * giant cluster of identical content, or adversarial input) is
    * capped at [[MaxBucketSize]] members: the overflow ids (beyond the
    * sorted first 4096) do NOT generate pairs, and such buckets are
    * not expanded. 4096² = 8.4M pairs is the largest per-bucket
    * expansion one task will do (the grouped id array itself is still
    * collected before slicing — a corpus whose single buckets exceed
    * task memory needs a pre-pass exact dedup, which collapses
    * near-identical mega-clusters for free, or bucket salting).
    */
  val MaxBucketSize = 4096

  /** Per-band bucket keys of a 32-bin signature column: band b joins
    * bins 4b..4b+3 with `"|"`. The one band projection, shared by the
    * batch and incremental candidate tiers and the recall audit so a
    * banding parameter change cannot de-sync them.
    */
  def bandKeys(sigCol: Column): Column =
    array((0 until NumBands).map { b =>
      concat_ws("|",
        (0 until RowsPerBand).map(r => sigCol.getItem(b * RowsPerBand + r)): _*)
    }: _*)

  /** Signature agreement = Σ 1[sig_a(i) == sig_b(i)] — HOF-interpreted,
    * but only ever evaluated over in-bucket candidate pairs
    * (LSH-sparse), never the corpus.
    */
  private def sigAgree(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** Candidate pairs from band buckets, in ONE pass over a 32-bin
    * signature column (array<long>, from [[graft.functions.MinHashSig]]
    * or [[graft.functions.MinHashClassicSig]]), with an agreement
    * prefilter: band keys are derived from the signature in-plan
    * ([[bandKeys]]), each bucket's (id, sig) structs are collected and
    * sorted by id, and an in-bucket pair (id_a < id_b) is emitted only
    * when ≥ `minAgree` of the 32 bins agree. `minAgree = 0` emits every
    * in-bucket pair, so its buckets carry bare ids and no agreement is
    * computed: the sorted id sequence of a bucket is the same either
    * way, hence so are the pairs. A self-join formulation would
    * evaluate the whole signature pipeline once per join branch (Spark
    * does not share non-exchanged subplans); here the signature is
    * computed exactly once and the only shuffle is the bucket groupBy.
    * `distinct` collapses pairs that collide in several bands. Per-bin
    * collision probability ≈ the pair's true Jaccard, so
    * `minAgree = threshold × 32` is the sketch-side estimate of the
    * verify threshold: it discards the (dominant, by construction)
    * false candidates before the expensive exact-Jaccard verification
    * ever shingles their documents. Probabilistic-recall caveat: a pair
    * NEAR the threshold can be prefiltered despite true J ≥ threshold —
    * the same caveat 8×4 banding itself already carries (miss
    * probability 0.6 at J = 0.5!); both rest on the corpus similarity
    * gap that LshRecallInvariantSpec asserts (pairs ≥ 0.9 or < 0.3,
    * where both filters are ~lossless). Verification stays exact, so
    * false positives remain impossible.
    */
  def lshCandidatesSig(df: DataFrame, idCol: String, sigCol: Column,
                       minAgree: Int): DataFrame = {
    val keepAll = minAgree <= 0
    val rec =
      if (keepAll) col(idCol) else struct(col(idCol).as("id"), sigCol.as("sig"))
    def id(r: Column): Column = if (keepAll) r else r.getField("id")
    val e = df.select(rec.as("rec"),
      posexplode(bandKeys(sigCol)).as(Seq("band_idx", "band_hash")))
    val buckets = e.groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
      .filter(size(col("recs")) > 1)
      .withColumn("recs", slice(col("recs"), 1, MaxBucketSize))
    val pairs = flatten(transform(col("recs"), (a, i) =>
      transform(slice(col("recs"), i + 2, size(col("recs"))), b => {
        val ids = Seq(id(a).as("id_a"), id(b).as("id_b"))
        if (keepAll) struct(ids: _*)
        else struct(ids :+
          sigAgree(a.getField("sig"), b.getField("sig")).as("agree"): _*)
      })))
    val cands = buckets.select(explode(pairs).as("p")).select(col("p.*"))
    if (keepAll) cands.distinct()
    else cands.distinct().filter(col("agree") >= minAgree)
      .select(col("id_a"), col("id_b"))
  }

  /** [[lshCandidatesSig]] restricted to CROSS-BOUNDARY pairs: each
    * record carries an `isNew` flag, a bucket splits into its
    * historical and new sides, and ONLY historical×new pairs are
    * generated — new×new and old×old combinations are never
    * materialized and never pay the signature-agreement fold, so a
    * bucket with H historical and D new members costs H·D structs (not
    * (H+D)²/2): daily pair work is bounded by the delta's bucket
    * occupancy. The [[MaxBucketSize]] cap applies PER SIDE — a hot
    * historical bucket can never evict the delta records the check
    * exists for (ids are typically time-monotone, so a shared cap
    * sorted by id would cut exactly the new side). This is the
    * incremental-ingestion candidate tier: at 100 TB the historical
    * side's signatures are computed once at ingest and stored.
    */
  def lshCandidatesSigCross(df: DataFrame, idCol: String, sigCol: Column,
                            minAgree: Int, isNew: Column): DataFrame = {
    val e = df.select(
      struct(col(idCol).as("id"), sigCol.as("sig"), isNew.as("nw")).as("rec"),
      posexplode(bandKeys(sigCol)).as(Seq("band_idx", "band_hash")))
    val buckets = e.groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
      .withColumn("olds",
        slice(filter(col("recs"), r => not(r.getField("nw"))), 1, MaxBucketSize))
      .withColumn("news",
        slice(filter(col("recs"), r => r.getField("nw")), 1, MaxBucketSize))
      .filter(size(col("olds")) > 0 && size(col("news")) > 0)
    val pairs = flatten(transform(col("olds"), o =>
      transform(col("news"), n => struct(
        least(o.getField("id"), n.getField("id")).as("id_a"),
        greatest(o.getField("id"), n.getField("id")).as("id_b"),
        sigAgree(o.getField("sig"), n.getField("sig")).as("agree")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.agree"))
      .distinct()
      .filter(col("agree") >= minAgree)
      .select(col("id_a"), col("id_b"))
  }

  /** Incremental NEAR-dup ingestion: today's batch (`isNew`) checked
    * for near-duplicates against the historical corpus — the LSH
    * analogue of [[incrementalSurvivors]]'s exact-hash anti join, and
    * the shape a crawl pipeline actually runs daily: scan-side OPH
    * signatures, cross-boundary-only band candidates
    * ([[lshCandidatesSigCross]]), exact-Jaccard verification on the
    * candidate sliver. Output: (id_a, id_b, jaccard) with id_a < id_b
    * and exactly one side new — callers normalize new-vs-historical
    * roles from the ids.
    */
  def incrementalNearDups(docs: DataFrame, idColName: String,
                          textColName: String, n: Int, word: Boolean,
                          threshold: Double, isNew: Column): DataFrame = {
    val sigs = ophSignatures(docs, idColName, textColName, n, word,
      isNew.as("nw"))
    val minAgree = math.ceil(threshold * NumPerms).toInt
    val cands = lshCandidatesSigCross(sigs, "id", col("sig"), minAgree,
      col("nw"))
    verifyCandidates(cands, docs, idColName,
      shinglerFor(idColName, textColName, n, word), threshold)
  }

  /** Incremental ingestion dedup: rows matching `isNew` (today's
    * batch) that do NOT share an exact content hash with the
    * historical rest of `docs`. Both sides project to the md5 digest
    * BEFORE the anti join, so the corpus-scale shuffle carries 16-byte
    * hashes, never document payloads — the shape that lets a daily
    * batch dedup against a 100 TB history. (The fixture has no exact
    * duplicates at sf0.01, so the oracle row checks engine parity of
    * the join; DedupSpec proves the drop behavior on planted
    * cross-boundary copies.)
    */
  def incrementalSurvivors(docs: DataFrame, isNew: Column): DataFrame = {
    val oldHashes = docs.filter(!isNew)
      .select(md5(col("text")).as("h")).distinct()
    docs.filter(isNew)
      .withColumn("nh", md5(col("text")))
      .join(oldHashes, col("nh") === col("h"), "left_anti")
      .drop("nh")
  }

  /** Exact Jaccard similarity of two pre-distinct shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** The MinHash-LSH near-dup pipeline: scan-side OPH signatures
    * ([[graft.functions.MinHashSig]], one expression call per document,
    * so no corpus-wide shingle explode and no signature aggregate
    * shuffle), 8 bands × 4 rows of candidates with the agreement
    * prefilter ([[lshCandidatesSig]]; at planted-dup similarity
    * s ≥ 0.9 the per-pair banding miss probability is (1 − s⁴)⁸ ≤ 3e-7,
    * and the r=4 rows keep background candidates at J < 0.25 rare),
    * then exact-Jaccard verification at `threshold` that shingles only
    * the candidate documents. Output: (id_a, id_b, jaccard),
    * id_a < id_b.
    */
  def nearDupPairsNative(docs: DataFrame, idColName: String, textColName: String,
                         n: Int, word: Boolean, threshold: Double): DataFrame =
    verifyCandidates(
      nearDupCandidatesNative(docs, idColName, textColName, n, word, threshold),
      docs, idColName, shinglerFor(idColName, textColName, n, word), threshold)

  /** Shared signature preamble for the batch and incremental candidate
    * tiers — one implementation of the guard and projection so a
    * tuning change reaches both paths.
    *
    * Few-partition guard: the signature projection is the compute-heavy
    * stage, and an unsplittable source (e.g. a single parquet row
    * group) would serialize it on one task. Redistributing costs a
    * shuffle of the *input* — only paid when the input is small enough
    * to arrive under-partitioned; a 100 TB scan already carries ≥ cores
    * tasks, so this branch never fires at scale.
    *
    * OPH signature: one hash + one compare per shingle window (vs 32
    * hashLong folds), and the raw bins feed the agreement prefilter in
    * lshCandidatesSig — candidates remain exact-Jaccard verified, so
    * the scheme only affects recall, which the fixture's similarity
    * gap + MinHashOphSpec keep guarded.
    */
  private def ophSignatures(docs: DataFrame, idColName: String,
                            textColName: String, n: Int, word: Boolean,
                            extra: Column*): DataFrame = {
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val src = if (docs.rdd.getNumPartitions < math.max(cores / 2, 2))
      docs.repartition(cores) else docs
    src.select(Seq(col(idColName).as("id"),
      graft.functions.MinHashSig(col(textColName), n, word).as("sig")) ++
      extra: _*)
  }

  private def shinglerFor(idColName: String, textColName: String, n: Int,
                          word: Boolean): DataFrame => DataFrame =
    if (word) d => wordShingleRows(d, col(idColName), col(textColName), n)
    else d => charShingleRows(d, col(idColName), col(textColName), n)

  /** Candidate stage of [[nearDupPairsNative]], exposed so PlanAuditSpec
    * can pin its physical shape: the signature projection must stay
    * scan-side (no shingle `Generate`, no `groupBy(id)` signature
    * exchange) — the property that makes this the 100 TB candidate
    * generator.
    */
  def nearDupCandidatesNative(docs: DataFrame, idColName: String,
                              textColName: String, n: Int, word: Boolean,
                              threshold: Double): DataFrame = {
    val sigs = ophSignatures(docs, idColName, textColName, n, word)
    val minAgree = math.ceil(threshold * NumPerms).toInt
    lshCandidatesSig(sigs, "id", col("sig"), minAgree)
  }

  /** Exact-Jaccard verification of LSH candidate pairs, shingling ONLY
    * candidate documents (broadcast semi-join prune before the shingle
    * generator, so the verify pass never touches the rest of the
    * corpus). The candidate set fans out to the id extraction and the
    * final pair join, and Spark does not share non-exchanged subplans —
    * it is materialized once via lazy `localCheckpoint` rather than
    * `persist`: the blocks are reference-counted by the ContextCleaner
    * and vanish when the query's plan is garbage-collected, where a
    * `persist` with no reachable handle would pin cache for the session
    * lifetime (one leaked entry per near-dup call). Cost of the trade:
    * lineage truncation — losing an executor that holds checkpoint
    * blocks FAILS the query (no lineage to recompute from); the retry
    * belongs at the application level. On a flaky large cluster, swap
    * for a reliable `checkpoint()` against fault-tolerant storage.
    */
  private[graft] def verifyCandidates(candidates: DataFrame, docs: DataFrame,
                                      idColName: String,
                                      shingler: DataFrame => DataFrame,
                                      threshold: Double): DataFrame = {
    val cands = candidates.localCheckpoint(false)
    val candDocIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id")).distinct()
    val candRows = shingler(
      docs.join(broadcast(candDocIds),
        docs(idColName) === candDocIds("cand_id"), "left_semi"))
    val sets = candRows.groupBy(col("id")).agg(collect_set(col("x")).as("sh"))
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) over
    * word n-gram shingles — the asymmetric complement of Jaccard that
    * catches a short document EMBEDDED in a longer one (quote
    * inclusion, boilerplate wrapping), where the union term dilutes
    * Jaccard below any usable threshold. MinHash banding is the WRONG
    * candidate tier here — its recall tracks Jaccard, which is exactly
    * the measure containment pairs evade — so candidates come from a
    * PREFIX-FILTER join (the PPJoin family): rank each document's
    * shingles by global document frequency ascending, keep the
    * ⌊(1−t)·m⌋+1 rarest as its prefix, and join prefixes against the
    * full shingle-row table. If the smaller set S has containment ≥ t,
    * at most ⌊(1−t)·|S|⌋ of its shingles fall outside the
    * intersection, so its prefix must hit a shared shingle — EXACT
    * recall at any size asymmetry (a 3-word quote inside a book is
    * found), no LSH coin-flip. Join keys are each doc's RAREST
    * shingles, so per-key fan-out stays small on natural corpora; the
    * adversarial worst case (many identical docs) has candidate count
    * of the same order as the true output, so the join never exceeds
    * the answer's own scale. Reported pairs are exact-verified.
    */
  def containmentPairs(docs: DataFrame, idColName: String, textColName: String,
                       n: Int, threshold: Double): DataFrame = {
    // The shingle-row table fans out to FOUR consumers (df counts, the
    // ranked prefix, the probe side of the candidate join, the verify
    // sets) and Spark does not share non-exchanged subplans — without a
    // materialization the shingle+distinct shuffle re-runs per consumer.
    // Same lazy-localCheckpoint trade as verifyCandidates (see scaladoc
    // there for the executor-loss caveat). Shingles are collapsed to
    // their xxhash64 scan-side: every downstream exchange, window sort,
    // join key, and collect_set then carries 8 bytes instead of an
    // n-word string. Set sizes and intersections are preserved modulo
    // 64-bit collisions (~p=10^-8 even at 10^9 distinct shingles per
    // pair-neighborhood), the standard shingle-fingerprint trade.
    // Per-doc distinct shingles are produced MAP-SIDE (array_distinct
    // inside wordShingles, then explode) instead of a global
    // `.distinct()`: the pipeline only needs (id, x) unique within each
    // document, and in-doc dedup costs O(shingles) per row where the
    // global distinct costs a full exchange of the shingle table — the
    // one shuffle here that carries no information. The HOF array build
    // is interpreted (2-3× the codegen row generator map-side), a
    // deliberate trade against removing a whole shuffle of the widest
    // intermediate.
    val rows = ensureParallel(docs)
      .select(col(idColName).as("id"),
        explode(wordShingles(col(textColName), n)).as("x"))
      .select(col("id"), xxhash64(col("x")).as("x"))
      .localCheckpoint(false)
    // Document frequency via a COUNT window over the shingle partition
    // rather than groupBy + join-back: one exchange by x instead of an
    // aggregate exchange plus a second full exchange of rows for the
    // join. The two id-partition windows (unordered m, ordered rn)
    // share a single exchange — the planner adds only the sort.
    val wById = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val ranked = rows
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("x"))))
      .withColumn("m", count(lit(1)).over(wById))
      .withColumn("rn", row_number().over(wById.orderBy(col("df"), col("x"))))
    val prefix = ranked
      .filter(col("rn") <= floor((lit(1.0) - threshold) * col("m")) + 1)
      .select(col("id").as("pa"), col("x"))
    val cands = prefix
      .join(rows.select(col("id").as("pb"), col("x")), "x")
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("id_a"),
        greatest(col("pa"), col("pb")).as("id_b"))
      .distinct().localCheckpoint(false)
    // Verify sets only for docs that appear in a candidate pair — at
    // corpus scale the candidates touch a sliver of the documents, so
    // the collect_set aggregate must not shuffle every doc's shingles.
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id")).distinct()
    val sets = rows
      .join(broadcast(candIds), col("id") === col("cand_id"), "left_semi")
      .groupBy(col("id")).agg(collect_set(col("x")).as("sh"))
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Shard-merge MinHash algebra (E221): per-source signatures built
    * TWO genuinely different ways and compared permutation-for-
    * permutation — the property that lets a growing corpus keep
    * source/shard-level sketches current without re-sketching
    * anything (the MinHash analogue of E108's HLL cell merge, and the
    * reason a 1000-shard ingest can maintain per-shard near-dup
    * sketches with one elementwise-min combine step):
    *
    *  - MERGE tier: each doc's CLASSIC 32-permutation signature
    *    ([[graft.functions.MinHashClassicSig]] — scan-side codegen),
    *    elementwise-min-aggregated per source: one narrow shuffle of
    *    (source, perm, min) partial aggregates.
    *  - DIRECT tier: the source's DISTINCT shingle set (exploded
    *    rows), each shingle's own 32 chunks (the classic signature of
    *    a single-window string IS its chunk vector), min per
    *    (source, perm) — never sees document boundaries.
    *
    * min distributes over union, so the two must agree EXACTLY for
    * classic signatures (and provably would NOT for the densified OPH
    * tier, whose bins copy neighbors — documented at
    * [[graft.functions.MinHashClassicSig]]). Output one row per
    * source: (source, n_docs, n_shingles, n_perms, merge_exact).
    * The signatures are xxhash64-chains DuckDB cannot reproduce, so —
    * the E174/E203 sketch-audit pattern — the oracle pins the exact
    * integer counts and the machine-checked boolean.
    */
  def sourceSigMerge(docs: DataFrame, srcCol: String, textCol: String,
      n: Int): DataFrame = {
    // r17: both legs aggregated per-source mins by exploding the
    // 32-element signature into 32 rows per input through a
    // (source, perm)-keyed hash aggregate — 32 hash probes per input
    // row. One groupBy(source) with 32 PRIMITIVE long min buffers (a
    // HashAggregate; string buffers would degrade it to SortAggregate)
    // reads the same signature elements with one probe per row; the
    // per-perm long form is re-derived from the 32 aggregated columns
    // (identical values — min over the same multisets, posexplode pos =
    // the same perm).
    def permMins(rows: DataFrame, sig: Column, out: String): DataFrame = {
      val aggs = (0 until NumPerms).map(p =>
        min(col("sig").getItem(p)).as(s"m_$p"))
      rows.select(col("source"), sig.as("sig"))
        .groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
        .select(col("source"), posexplode(array(
          (0 until NumPerms).map(p => col(s"m_$p")): _*))
          .as(Seq("perm", out)))
    }
    val merged = permMins(docs.select(col(srcCol).as("source"),
        col(textCol).as("t")),
      graft.functions.MinHashClassicSig(col("t"), n, word = true),
      "merged_v")
    val srcShingles = docs.select(col(srcCol).as("source"),
        explode(wordShingles(col(textCol), n)).as("x"))
      .distinct().localCheckpoint(false)
    val direct = permMins(srcShingles,
      graft.functions.MinHashClassicSig(col("x"), n, word = true),
      "direct_v")
    val agree = merged.join(direct, Seq("source", "perm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(col("merged_v") === col("direct_v"), 1L).otherwise(0L))
          .as("n_equal"))
    docs.groupBy(col(srcCol).as("source")).agg(count(lit(1)).as("n_docs"))
      .join(srcShingles.groupBy("source").agg(count(lit(1)).as("n_shingles")),
        Seq("source"))
      .join(agree, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_shingles"),
        col("n_perms"), (col("n_equal") === col("n_perms")).as("merge_exact"))
  }

  /** Blocked edit-distance near-dup pairs — the character-level fuzzy
    * tier of the dedup family (entity-resolution shape): docs sharing a
    * `prefixLen`-char blocking key are compared by Levenshtein distance
    * over their first `window` chars; pairs at distance ≤ `maxDist`
    * survive. Blocking turns the quadratic all-pairs comparison into an
    * equi-join: per-block work is |block|², so the operator scales with
    * the blocking key's selectivity, never the corpus (the standard
    * multi-pass-blocking trade — a pair whose very first chars diverge
    * needs a different key, e.g. a suffix or sorted-token block).
    * The DP comparison itself runs on a fixed `window`, bounding each
    * comparison at O(window²) regardless of document length. Uses
    * Spark's thresholded `levenshtein` (early-exits DP rows above
    * `maxDist`, returning -1 — strictly faster, same surviving pairs).
    */
  /** Sorted-neighborhood edit-distance near-dup pairs (E228) — the
    * classic SECOND PASS of multi-pass blocking (Hernández & Stolfo's
    * SNM): E91's equi-block dies exactly when an edit touches the
    * blocking key, so this pass sorts the corpus by a DIFFERENT key —
    * the reversed text head, i.e. document ENDINGS — and compares each
    * row only to its `window` successors in sort order. A pair whose
    * first characters diverge but whose tail is stable lands adjacent
    * here and is found; candidate volume is EXACTLY N·window by
    * construction (no skew: a hot block cannot blow up, unlike
    * equi-blocking), the known trade being that near-pairs > window
    * apart in sort order are missed (classic SNM: add passes, not
    * window).
    *
    * Scale shape: the global sort rides [[graft.operators.GlobalIndex]]
    * (range exchange + per-partition numbering — never a one-partition
    * window); successor pairing is an EQUI-join on rn+j (each row
    * exploded into `window` probe rows), so the whole pipeline is
    * codegen joins and one bounded explode.
    */
  def editDistanceSnmPairs(docs: DataFrame, idColName: String,
      textColName: String, keyLen: Int, window: Int, headLen: Int,
      maxDist: Int): DataFrame = {
    val base = docs.select(col(idColName).as("id"),
      substring(reverse(col(textColName)), 1, keyLen).as("k"),
      substring(col(textColName), 1, headLen).as("head"))
    val rn = graft.operators.GlobalIndex.globalRowNumbers(
      base.withColumn("ord", struct(col("k"), col("id"))), "ord",
      docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"), col("head"), col("row_num"))
    val probes = rn
      .select(col("id").as("id_a"), col("head").as("head_a"),
        col("row_num").as("ra"),
        explode(sequence(lit(1), lit(window))).as("j"))
      .select(col("id_a"), col("head_a"), (col("ra") + col("j")).as("rb"))
    probes.join(rn.select(col("id").as("id_b"), col("head").as("head_b"),
        col("row_num").as("rb")), "rb")
      .withColumn("dist", levenshtein(col("head_a"), col("head_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("dist").cast("int").as("dist"))
  }

  def editDistancePairs(docs: DataFrame, idColName: String, textColName: String,
                        prefixLen: Int, window: Int, maxDist: Int): DataFrame = {
    val keyed = docs.select(col(idColName).as("id"),
      substring(col(textColName), 1, prefixLen).as("blk"),
      substring(col(textColName), 1, window).as("head"))
    val a = keyed.select(col("id").as("id_a"), col("head").as("head_a"), col("blk"))
    val b = keyed.select(col("id").as("id_b"), col("head").as("head_b"), col("blk"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("head_a"), col("head_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** 60-bit SimHash: bit j of the fingerprint is the sign of
    * Σ_tokens (2·bit_j(md5(token)) − 1), where bit_j reads bit (3−j%4)
    * of hex nibble j/4 — i.e. ONE md5 per token supplies all 60 bits.
    * Token multiplicity weights the sum (standard SimHash). 60 bits
    * keeps the fingerprint inside a non-negative signed 64-bit value in
    * both engines.
    */
  val SimhashBits = 60

  /** ±1 contribution of bit j from a 32-hex md5 column. Nibble value
    * via ascii arithmetic ('0'-'9' → 0-9, 'a'-'f' → 10-15), not
    * `conv(_,16,10)`: same integer, but pure codegen arithmetic where
    * conv's base conversion measured ~1.7× slower across the 60 bit
    * extracts.
    */
  private[graft] def bitContrib(h: Column, j: Int): Column = {
    val a = ascii(substring(h, j / 4 + 1, 1))
    val nib = a - when(a >= 97, 87).otherwise(48)
    shiftright(nib, 3 - j % 4).bitwiseAND(lit(1)) * 2 - 1
  }

  /** HOF formulation (interpreted — tests and small inputs only; the
    * lambda body re-derives the md5 per bit).
    */
  def simhash(tokens: Column): Column =
    (0 until SimhashBits).map { j =>
      val s = aggregate(tokens, lit(0), (acc, w) => acc + bitContrib(md5(w), j))
      when(s >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming (< 4), via
    * 4 chunks of `chunkBits` bits: hd ≤ 3 guarantees an identical chunk
    * (pigeonhole), so banding is exhaustive, and a random chunk
    * collision has probability 2^-chunkBits — the candidate join stays
    * sparse. The default 15 covers the 60-bit SimHash; the perceptual
    * dHash tier (graft.functions.DHash32, 31 bits) passes 8 — coarser
    * buckets, same pigeonhole guarantee (a production 64-bit pHash
    * would pass 16 to keep buckets sparse at corpus scale).
    * Input: (id, simhash). Output: (id_a, id_b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, simhashCol: String,
                   maxHamming: Int, chunkBits: Int = 15): DataFrame = {
    require(maxHamming < 4, "4-chunk banding only guarantees hd <= 3")
    val chunks = array((0 until 4).map { c =>
      shiftright(col(simhashCol), c * chunkBits).bitwiseAND(lit((1L << chunkBits) - 1))
    }: _*)
    // One pass like lshCandidatesSig: bucket by chunk, carry (id, simhash)
    // structs into the bucket, emit in-bucket pairs with both
    // fingerprints in hand — the upstream simhash aggregation is
    // evaluated exactly once and no join-back is needed.
    val e = df.select(
      struct(col(idCol).as("id"), col(simhashCol).as("sh")).as("rec"),
      posexplode(chunks).as(Seq("chunk_idx", "chunk_val")))
    val buckets = e.groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
      .filter(size(col("recs")) > 1)
      .withColumn("recs", slice(col("recs"), 1, MaxBucketSize))
    val pairs = flatten(transform(col("recs"), (a, i) =>
      transform(slice(col("recs"), i + 2, size(col("recs"))),
        b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
          bit_count(a.getField("sh").bitwiseXOR(b.getField("sh"))).as("hamming")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** E203: banding-recall audit — the number E174 (estimator accuracy)
    * and E198 (bucket sizes) do not give: what fraction of the TRUE
    * near-dup pairs (exact Jaccard ≥ τ) the candidate generator
    * actually surfaces, per τ and per banding config. This is the
    * measurement to run on a fixture/sample BEFORE trusting a banding
    * config at a new scale — banding recall is probabilistic
    * ((1−(1−J^r)^b) per pair for classic r×b banding), so "the verify
    * step is exact" says nothing about the pairs banding never
    * surfaced.
    *
    * Ground truth is exact and banding-free: the set-similarity join
    * (distinct (id, shingle-hash) rows self-joined on the shingle key,
    * |A∩B| from the pair count, |A∪B| from per-doc set sizes) — never
    * an all-pairs cross join; work scales with shared-shingle pair
    * multiplicity, which is why this is an audit for fixture/sample
    * scale, run deliberately, not a production dedup path (those stay
    * banded precisely because exact ground truth is quadratic in hub
    * shingles).
    *
    * Output per (config, tau): exact true-pair count, the measured
    * caught count + recall, and the classic banding-formula expectation
    * `avg(1 − (1 − J⁴)⁸)` over the SAME true-pair population — the
    * reference curve the measurement is judged against ("banded32");
    * the densified-OPH config ("oph") is measured against the same
    * curve to EXPOSE its short-doc densification penalty rather than
    * assuming it classic.
    */
  def lshRecallMeasured(universe: DataFrame, n: Int,
      taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty, "need at least one tau")
    // A fixture universe is a union of two one-row-group scans: two
    // tasks for the shingle distinct and both signature legs unless it
    // is spread over the session's cores first.
    val u = ensureParallel(universe)
    // The truth key is the per-shingle xxhash64 LONG, not the shingle
    // string, so the checkpoint carries 8 bytes/row instead of the
    // n-gram text.
    val dsh = wordShingleRows(u, col("id"), col("text"), n)
      .select(col("id"), xxhash64(col("x")).as("k")).distinct()
      .localCheckpoint(false)
    // r17 NEGATIVE RESULT (measured, reverted): routing the exact
    // ground truth through the prefix-filter candidate tier
    // (VERDICT r16 #2's suggestion; lossless for Jaccard — J ≥ τ ⟹
    // inter ≥ τ·m per side, so ⌊(1−τ)·m⌋+1 rarest-shingle prefixes
    // must collide) measured 9.96 s vs 3.56 s here: at τmin = taus.min
    // the prefix keeps ~⌈(1−τmin)·m⌉ of every doc's shingles, so the
    // candidate set stays near the co-occurrence set while every
    // candidate pays an array_intersect over FULL shingle sets —
    // Σ pairs·(sa+sb) ≫ the inverted-index count's Σ df² rows, which
    // partial-aggregate map-side. The count-join form below stays.
    val sizes = dsh.groupBy("id").agg(count(lit(1)).as("sz"))
    val truth = dsh.select(col("id").as("id_a"), col("k"))
      .join(dsh.select(col("id").as("id_b"), col("k")), "k")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter")).cast("double")).as("j"))
      .filter(col("j") >= lit(taus.min))
      // r17: the union below feeds truth into BOTH config branches, and
      // Spark does not share non-exchanged subplans — without this the
      // exact set-similarity self-join (the audit's most expensive leg)
      // executed once per config.
      .localCheckpoint(false)
    // Both configs band scan-side kernel signatures of the universe
    // text; minAgree = 0 keeps every in-bucket pair, so recall is the
    // banding's own.
    def bucketed(sig: Column): DataFrame =
      lshCandidatesSig(u.select(col("id"), sig.as("sig")), "id",
        col("sig"), minAgree = 0)
    val configs = Seq(
      "banded32" -> bucketed(
        graft.functions.MinHashClassicSig(col("text"), n, word = true)),
      "oph" -> bucketed(graft.functions.MinHashSig(col("text"), n, word = true)))
    val flagged = configs.map { case (name, cands) =>
      truth.join(cands.withColumn("hit", lit(1L)), Seq("id_a", "id_b"), "left")
        .select(lit(name).as("config"), col("j"),
          coalesce(col("hit"), lit(0L)).as("hit"))
    }.reduce(_ unionAll _)
    flagged
      .select(col("config"), col("j"), col("hit"),
        explode(array(taus.map(lit): _*)).as("tau"))
      .filter(col("j") >= col("tau"))
      .groupBy("config", "tau")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(col("hit")).as("n_caught"),
        round(avg(lit(1.0) -
          pow(lit(1.0) - pow(col("j"), lit(4.0)), lit(8.0))), 6)
          .as("expected_recall"))
      .withColumn("recall",
        col("n_caught").cast("double") / col("n_true_pairs").cast("double"))
  }
}
