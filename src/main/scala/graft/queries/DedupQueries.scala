package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Dedup

/** Driver-contract queries + DuckDB oracles for the dedup family
  * (SURVEY.md §7.4). The oracles are deliberately *independent* where
  * possible: near-dup oracles compute exact all-pairs Jaccard /
  * Hamming (feasible at sf0.01), so they check the LSH pipeline's
  * end-to-end recall, not merely its arithmetic. The planted fixture
  * dups sit at similarity ≥ 0.96 vs a background < 0.1, and the
  * MinHash parameters put the per-pair miss probability below 1e-11
  * (SimHash banding is pigeonhole-exhaustive, so it has none).
  */
object DedupQueries {

  val WordN = 3 // word shingle width (shared with RelationalQueries' survivors query)
  // Char shingle width 6, not the textbook 4: the fixture's small shared
  // vocabulary pushes background char-4-gram Jaccard to 0.45 (vs the 0.5
  // report threshold) — banding would drown in candidates and the oracle
  // comparison would sit on a knife edge. 6-grams drop background max
  // to 0.24 while planted dups stay ≥ 0.9.
  val CharN = 6 // shared with LshRecallInvariantSpec's gap check
  val JaccardThreshold = 0.5
  // Containment cut 0.9: fixture background containment maxes at 0.27
  // (measured), so the report threshold sits in a wide gap — and the
  // prefix-filter candidate tier is exact-recall regardless.
  val ContainmentThreshold = 0.9
  private val MaxHamming = 3


  /** Shared duplicated-span FIND artifacts (r16): the excision rows
    * re-ran the whole find stage (gram shuffle + islands merge) that
    * their sibling find rows already compute — the artifact is the
    * find output (doc_id, span_start, span_end, span_tokens —
    * longs/ints, parquet-exact), built once per fixture state; the
    * find rows (docs_dup_spans / docs_decontam_spans) stay LIVE as the
    * definitional rows. Production runs exactly this split: find once
    * per corpus snapshot, cut per rewrite batch.
    */
  private def dupSpansShared(s: SparkSession, dir: String): DataFrame = {
    val p = Materialize.once("dup_spans", dir) { out =>
      graft.ext.SpanDedup.duplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", SpanN, 2)
        .write.parquet(s"$out/spans.parquet")
    }
    s.read.parquet(s"$p/spans.parquet")
  }

  private def decontamSpansShared(s: SparkSession, dir: String): DataFrame = {
    val p = Materialize.once("decontam_spans", dir) { out =>
      graft.ext.SpanDedup.contaminationSpans(
        Tables.documents(s, dir), "doc_id", "text", SpanN,
        col("doc_id") % CurationQueries.DecontamMod === 0)
        .write.parquet(s"$out/spans.parquet")
    }
    s.read.parquet(s"$p/spans.parquet")
  }

  /** The shared word-shingle near-dup PAIR set for this fixture state
    * (r16, the VERDICT r13 #5 artifact discipline): TEN registered rows
    * across five files consumed `Dedup.nearDupPairsNative(docs, WordN,
    * word = true, JaccardThreshold)` with byte-identical parameters —
    * each re-running the full MinHash-banding + exact-Jaccard-verify
    * pipeline per invocation. Materialized once per fixture state
    * (longs + an exact-division double round-trip parquet bit-exactly);
    * `docs_dedup_near` stays the LIVE definitional row for the
    * operator itself. The production analogue is exact: the verified
    * pair set is computed once per corpus snapshot and every
    * downstream job (clustering, overlap reports, split assignment)
    * joins against it.
    */
  private[queries] def wordNearDupPairs(s: SparkSession, dir: String)
      : DataFrame = {
    val p = Materialize.once("neardup_pairs_word", dir) { out =>
      Dedup.nearDupPairsNative(Tables.documents(s, dir), "doc_id", "text",
        WordN, word = true, JaccardThreshold)
        .write.parquet(s"$out/pairs.parquet")
    }
    s.read.parquet(s"$p/pairs.parquet")
  }

  /** Connected components over [[wordNearDupPairs]] — (id, label) with
    * label = component-min doc id, shared by every row that needs the
    * duplicate-cluster resolution (sizes, reps, split assignment).
    * `docs_dup_clusters` / `docs_dup_clusters_star` keep their CC
    * fixpoint computations LIVE (they are the definitional rows for
    * the two algorithms) but feed from the shared pair artifact.
    */
  private[queries] def wordDupComponents(s: SparkSession, dir: String)
      : DataFrame = {
    val p = Materialize.once("neardup_components_word", dir) { out =>
      graft.ext.Clusters.connectedComponents(
        wordNearDupPairs(s, dir).select("id_a", "id_b"))
        .write.parquet(s"$out/comp.parquet")
    }
    s.read.parquet(s"$p/comp.parquet")
  }

  /** E266 planner grid: every banding of the production 32-signature
    * budget ([[Dedup.NumPerms]] = NumBands × RowsPerBand). The planner
    * asks, against the corpus's MEASURED pair similarities, which
    * (bands, rows) meets the recall target at the smallest band count
    * (bands ≈ shuffle cost: one bucket key per band per doc).
    */
  private val PlanGrid =
    Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
  private val PlanTargetRecall = 0.9

  /** S-curve P(candidate | jaccard s) = 1 − (1 − s^r)^b with UNROLLED
    * integer powers — left-associated multiplication chains evaluate
    * bit-identically in Spark and DuckDB, where `pow()` carries no
    * cross-engine correctly-rounded guarantee.
    */
  private def sCurveSql(b: Int, r: Int): String = {
    val sr = (1 to r).map(_ => "jaccard").mkString("(", " * ", ")")
    val q = s"(CAST(1 AS DOUBLE) - $sr)"
    s"(CAST(1 AS DOUBLE) - ${(1 to b).map(_ => q).mkString("(", " * ", ")")})"
  }

  private def sCurveCol(b: Int, r: Int): org.apache.spark.sql.Column = {
    val sr = (1 to r).map(_ => col("jaccard")).reduce(_ * _)
    val q = lit(1.0) - sr
    lit(1.0) - (1 to b).map(_ => q).reduce(_ * _)
  }

  /** S-curve at the verify threshold, as one rounded literal embedded
    * in BOTH engines (computed once here — one truth).
    */
  private def pAtThreshold(b: Int, r: Int): Double = {
    val sr = (1 to r).map(_ => JaccardThreshold).reduce(_ * _)
    val q = 1.0 - sr
    val p = 1.0 - (1 to b).map(_ => q).reduce(_ * _)
    BigDecimal.valueOf(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one representative (min doc_id) per content hash.
    // Grouping by md5(text), not text, keeps shuffle rows narrow — the
    // 100 TB form groups by (length, hash) and never moves the payload.
    "docs_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
    }),

    // Incremental ingestion dedup: a "new batch" (doc_id % 5 == 4
    // stands in for today's crawl) anti-joined against the historical
    // corpus on content hash. Both sides project to the hash BEFORE
    // the join, so the shuffle carries 16-byte digests — never
    // document payloads — and the anti join is the only corpus-scale
    // exchange: the shape that lets daily ingestion run against a
    // 100 TB history.
    "docs_incremental_dedup" -> ((s, dir) =>
      Dedup.incrementalSurvivors(Tables.documents(s, dir),
        col("doc_id") % 5 === 4)
        .select("doc_id", "lang")),

    // Bloom PREFILTER in front of the incremental anti-join (E129):
    // Catalyst's own BloomFilterAggregate builds the corpus bits as a
    // distributed aggregate, a scalar subquery feeds them to every
    // probe task, and BloomFilterMightContain answers "definitely new"
    // scan-side — no shuffle for the overwhelming majority of incoming
    // rows at 100 TB. The verdict row machine-checks the two
    // properties the design rests on: zero false negatives (exact, via
    // md5 membership) and a bounded false-positive sliver.
    "docs_bloom_prefilter" -> ((s, dir) =>
      graft.ext.BloomDedup.prefilterVerdict(Tables.documents(s, dir),
        col("text"), col("doc_id") % 5 === 4)),

    // Incremental NEAR-dup ingestion (E153): today's batch
    // (doc_id % 5 == 4) LSH-checked against the historical corpus —
    // the near-dup analogue of docs_incremental_dedup's exact anti
    // join. Candidates are CROSS-BOUNDARY ONLY at the band-bucket
    // stage (never new×new or old×old), so daily pair work is bounded
    // by the delta's bucket occupancy; matches normalized to
    // (new_doc, dup_of) with the exact verified Jaccard.
    "docs_incremental_neardup" -> ((s, dir) => {
      val isNewA = col("id_a") % 5 === 4
      Dedup.incrementalNearDups(Tables.documents(s, dir), "doc_id", "text",
        WordN, word = true, JaccardThreshold, col("doc_id") % 5 === 4)
        .select(
          when(isNewA, col("id_a")).otherwise(col("id_b")).as("new_doc"),
          when(isNewA, col("id_b")).otherwise(col("id_a")).as("dup_of"),
          col("jaccard"))
    }),

    // MinHash-LSH near-dup over word 3-gram shingles, exact-Jaccard
    // verified at 0.5. Never all-pairs: candidates come from the band
    // buckets (Dedup.lshCandidatesSig).
    "docs_dedup_near" -> ((s, dir) =>
      Dedup.nearDupPairsNative(Tables.documents(s, dir), "doc_id", "text",
        WordN, word = true, JaccardThreshold)),

    // Character 6-gram variant (robust to word-boundary edits).
    "docs_ngram_jaccard" -> ((s, dir) =>
      Dedup.nearDupPairsNative(Tables.documents(s, dir), "doc_id", "text",
        CharN, word = false, JaccardThreshold)),

    // Containment near-dup (asymmetric): |A∩B| / min(|A|,|B|) ≥ 0.9
    // over word 3-gram shingles — catches short-doc-inside-long-doc
    // inclusion that Jaccard's union term hides. Candidates via
    // prefix-filter join (exact recall, no banding coin-flip), then
    // exact verification (E87).
    "docs_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        WordN, ContainmentThreshold)),

    // E215: candidate-volume profile for the containment prefix-filter
    // join (round-10 verdict #3 — the E198/E204 instrument pointed at
    // the tier with the steepest measured second-decade slope, 5.75×).
    // The prefix join's work is Σ over join keys of np·(df−1): np =
    // prefix rows carrying the key (docs whose ⌊(1−t)·m⌋+1 RAREST
    // shingles include it), df = the key's document frequency. This
    // groups that sum by df, so the growth is ATTRIBUTED: volume
    // concentrated at df=2..3 is the planted near-dup families (true
    // pairs — candidate count of the answer's own order, the PPJoin
    // guarantee working); a fat high-df tail would be a real blowup
    // (common shingles leaking into prefixes → capacity-adapt the
    // prefix rule). Keys are md5(shingle) here so DuckDB replays the
    // df-tie rank order digest-for-digest; production uses xxhash64
    // keys, which permutes only the arbitrary within-df tie-break —
    // the df histogram this query measures is identical.
    "docs_containment_profile" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val rows = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          explode(Dedup.wordShingles(col("text"), WordN)).as("xs"))
        .select(col("id"), md5(col("xs")).as("x"))
      val ranked = rows
        .withColumn("df", count(lit(1)).over(w.partitionBy(col("x"))))
        .withColumn("m", count(lit(1)).over(w.partitionBy(col("id"))))
        .withColumn("rn", row_number().over(
          w.partitionBy(col("id")).orderBy(col("df"), col("x"))))
      ranked
        .filter(col("rn") <=
          floor((lit(1.0) - lit(ContainmentThreshold)) * col("m")) + 1)
        .groupBy(col("x"), col("df")).agg(count(lit(1)).as("np"))
        .groupBy(col("df"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("np")).as("prefix_rows"),
          sum(col("np") * (col("df") - 1)).as("cand_rows"),
          max(col("np")).as("max_np"))
    }),

    // E221: shard-merge MinHash algebra — per-source signatures via
    // doc-level min-merge AND via the source's distinct-shingle set,
    // compared permutation-for-permutation (min distributes over
    // union, so classic signatures merge without re-sketching — the
    // sketch-algebra property incremental shard ingest runs on).
    "docs_sig_shard_merge" -> ((s, dir) =>
      Dedup.sourceSigMerge(Tables.documents(s, dir), "source", "text",
        WordN)),

    // Blocked edit-distance pairs (E91): Levenshtein ≤ 8 over the first
    // 64 chars, candidates restricted to docs sharing an 8-char prefix
    // block — the character-level fuzzy member of the dedup family,
    // complementing shingle Jaccard (word-level) and SimHash (bitwise).
    "docs_editdist_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id", "text",
        prefixLen = 8, window = 64, maxDist = 8)),

    // E228: the sorted-neighborhood SECOND PASS — sorted by the
    // reversed text head (document endings), each row compared to its
    // 4 sort-order successors: finds the pairs whose leading edit
    // breaks E91's prefix block, with candidate volume pinned at
    // exactly N·window regardless of key skew.
    "docs_editdist_snm" -> ((s, dir) =>
      Dedup.editDistanceSnmPairs(Tables.documents(s, dir), "doc_id",
        "text", keyLen = 24, window = 4, headLen = 64, maxDist = 8)),

    // 60-bit SimHash fingerprint per document — native scan-side
    // expression (graft.functions.SimHash60; A/B-pinned against the
    // explode+aggregate form, which remains for tests).
    "docs_simhash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.SimHash60(col("text")).as("simhash"))),

    // SimHash near-dup pairs at Hamming ≤ 3 via 4×15-bit chunk banding.
    "docs_simhash_pairs" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          graft.functions.SimHash60(col("text")).as("simhash"))
      Dedup.simhashPairs(sh, "id", "simhash", MaxHamming)
    }),

    // E198: LSH bucket-size profile over the SimHash banding — the
    // "no silent caps" audit for every banding tier in this engine:
    // per chunk position, how many buckets exist, the largest bucket,
    // how many buckets actually collide, the total in-bucket candidate
    // pairs (the quadratic-work predictor Σ m·(m−1)/2), and the
    // headroom to Dedup.MaxBucketSize — the slice that silently trades
    // recall for boundedness once a bucket reaches it. Run this BEFORE
    // trusting a banding config at a new scale: headroom near zero
    // means truncation is biting and chunk bits must grow. Exact
    // integers end to end; two small aggregations over 4 rows/doc.
    "docs_simhash_bucket_profile" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.SimHash60(col("text")).as("simhash"))
      val chunks = sh.select(posexplode(array((0 until 4).map { c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(lit((1L << 15) - 1))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
      chunks.groupBy("chunk_idx", "chunk_val")
        .agg(count(lit(1)).as("m"))
        .groupBy("chunk_idx")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("m")).as("n_docs"),
          max(col("m")).as("max_bucket"),
          sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_colliding_buckets"),
          sum(expr("(m * (m - 1)) DIV 2")).as("candidate_pairs"))
        .withColumn("cap_headroom", lit(Dedup.MaxBucketSize.toLong) - col("max_bucket"))
    }),

    // E203: LSH banding-recall audit (round-9 verdict task #3) — the
    // number E174 (estimator accuracy) and E198 (bucket sizes) do not
    // give: per τ and per banding config, what fraction of the TRUE
    // exact-Jaccard ≥ τ pairs the candidate generator surfaces. Ground
    // truth is exact and banding-free (set-similarity join — never an
    // all-pairs cross join) over a universe with PLANTED graded
    // variants (J ≈ 0.33/0.48/0.66/0.90 tiers; without them the
    // fixture's bimodal similarity would leave the mid-range
    // unmeasured). The oracle recomputes the exact ground truth and
    // the classic-formula expectation and pins the two claims
    // (recall ≥ floor; |recall − formula| ≤ 0.2) as booleans — the
    // E174 sketch-audit pattern, since xxhash candidates are not
    // DuckDB-reproducible. DedupSpec asserts the same floors on the
    // measured numbers directly.
    "docs_lsh_recall" -> ((s, dir) => {
      val m = Dedup.lshRecallMeasured(
        recallUniverse(Tables.documents(s, dir)), WordN, RecallTaus)
      val floorCol = RecallTaus.foldLeft(lit(0.0)) { (acc, t) =>
        when(col("tau") === t,
          when(col("config") === "oph", recallFloor("oph", t))
            .otherwise(recallFloor("banded32", t))).otherwise(acc)
      }
      m.select(col("config"), col("tau"), col("n_true_pairs"),
        col("expected_recall"),
        (col("recall") >= floorCol).as("recall_ok"),
        (abs(col("recall") - col("expected_recall")) <=
          lit(RecallFormulaMargin)).as("tracks_formula"))
    }),

    // E164: exact duplicated-substring spans (the Lee et al. 2021
    // sub-document tier): maximal token spans whose every n-gram also
    // appears in another document — the granularity used to CUT
    // duplicated passages out of kept documents. Grams are built
    // scan-side (transform over the token array, no explode+window),
    // the frequency shuffle carries xxhash64(gram) keys, and span
    // merging is a per-document gaps-and-islands window. The oracle
    // keys grams by md5, so the hash check asserts that the 64-bit
    // keys give exactly the right spans (a key collision is the only
    // way they could differ; SpanDedup states the budget).
    "docs_dup_spans" -> ((s, dir) =>
      graft.ext.SpanDedup.duplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", SpanN, 2)),

    // E206: span EXCISION — E164's find stage completed into the cut
    // stage Lee et al. built it for: every doc rewritten with its
    // duplicated spans removed (cut-every-occurrence policy; see
    // SpanDedup.exciseFromSpans for why retain-one is not distributed-
    // friendly), with funnel accounting (n_spans, n_tokens,
    // tokens_cut). Span-free docs pass through byte-identical.
    "docs_span_excise" -> ((s, dir) =>
      // r16: cut over the shared find artifact (bit-identical; the
      // find stage stays live in docs_dup_spans)
      graft.ext.SpanDedup.exciseFromSpans(
        Tables.documents(s, dir), "doc_id", "text",
        dupSpansShared(s, dir))),

    // E240: SPAN-LEVEL eval decontamination — the surgical variant of
    // E69's doc-level overlap flag: for every training doc, the
    // maximal spans whose 8-grams appear verbatim in the eval slice
    // (doc_id % 11 == 0, the E69 convention). Doc-level decontam
    // throws a whole document away for one leaked paragraph;
    // this finds exactly the leaked text. Same gram/island machinery
    // as the duplication tier (one span rule, two hit sources); the
    // eval gram set is eval-slice-bounded and rides a semi-join.
    "docs_decontam_spans" -> ((s, dir) =>
      graft.ext.SpanDedup.contaminationSpans(
        Tables.documents(s, dir), "doc_id", "text", SpanN,
        col("doc_id") % CurationQueries.DecontamMod === 0)),

    // E240's cut stage: the training corpus rewritten with its
    // eval-overlapping spans excised (eval docs are the reference
    // set, not corpus — they are absent from the output).
    "docs_decontam_excise" -> ((s, dir) =>
      // r16: cut over the shared contamination-span artifact
      graft.ext.SpanDedup.decontamExciseFromSpans(
        Tables.documents(s, dir), "doc_id", "text",
        col("doc_id") % CurationQueries.DecontamMod === 0,
        decontamSpansShared(s, dir))),

    // E174: MinHash estimator accuracy audit — the sketch-tolerance
    // row for the dedup tier (the E66/E74/E92 pattern): for every
    // verified near-dup pair, the signature-agreement Jaccard estimate
    // (matching OPH bins / 32) must sit within a stated bound of the
    // exact Jaccard. The signatures are NOT oracle-reproducible
    // (xxhash64), so — like the HLL/CMS rows — the oracle pins the
    // exact value and the machine-checked boolean, and the bound
    // itself is the claim under test. The bound reflects the DENSIFIED
    // OPH estimator's real tails, not classic-MinHash σ: fixture docs
    // carry ~25 shingles against 32 bins, so many bins are densified
    // copies and the agreement variance sits well above sqrt(J(1−J)/32)
    // — measured max |est−J| = 0.284 across every verified pair at
    // sf0.1 (0.09 at sf0.01). 0.35 covers that with margin while a
    // broken hash chain (est ≈ 0 against J ≥ 0.5 pairs) still fails.
    "docs_minhash_accuracy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = wordNearDupPairs(s, dir) // shared artifact (r16)
      val sigs = docs.select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), WordN, word = true).as("sig"))
      pairs
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (abs(
            aggregate(
              zip_with(col("sig_a"), col("sig_b"),
                (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
              lit(0), (acc, v) => acc + v).cast("double") / lit(32.0)
            - col("jaccard")) <= lit(MinHashTolerance)).as("within_tol"))
    }),

    // E279: dedup-tier ROBUSTNESS matrix — which tier still catches a
    // duplicate under which edit? Four deterministic perturbations of
    // a doc slice (case-fold, every-7th-word drop, full word reversal,
    // 80% prefix truncation) scored against five tier predicates
    // applied to the KNOWN (original, perturbed) pairs — a semantic
    // audit of the tiers themselves, no candidate stage to confound
    // it. This is the tier-selection table a dedup deployment reads:
    // exact dies to any edit, the normalized fingerprint only forgives
    // case/punct, SimHash forgives word order (bag of words), 3-gram
    // Jaccard forgives sparse drops but not reordering, containment
    // forgives truncation.
    "docs_dedup_robustness" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text").as("t0"),
          split(col("text"), " ").as("ws0"))
      def pj(c: org.apache.spark.sql.Column) = array_join(c, " ")
      val perts = array(
        struct(lit("case").as("pert"), upper(col("t0")).as("t1")),
        struct(lit("drop7").as("pert"),
          pj(filter(col("ws0"), (_, i) => i % 7 =!= 3)).as("t1")),
        struct(lit("reverse").as("pert"),
          pj(reverse(col("ws0"))).as("t1")),
        struct(lit("trunc80").as("pert"),
          pj(slice(col("ws0"), lit(1),
            greatest(lit(1), expr("(4 * size(ws0)) div 5")))).as("t1")))
      def sh3(ws: org.apache.spark.sql.Column,
          t: org.apache.spark.sql.Column) =
        when(size(ws) >= 3, array_distinct(
          transform(sequence(lit(1), size(ws) - 2), i =>
            concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
              element_at(ws, i + 2)))))
          .otherwise(array(t))
      val p = base.select(col("doc_id"), col("t0"), col("ws0"),
          explode(perts).as("p"))
        .select(col("doc_id"), col("p.pert").as("pert"),
          col("t0"), col("ws0"), col("p.t1").as("t1"),
          split(col("p.t1"), " ").as("ws1"))
        .withColumn("s0", sh3(col("ws0"), col("t0")))
        .withColumn("s1", sh3(col("ws1"), col("t1")))
      val inter = size(array_intersect(col("s0"), col("s1")))
        .cast("double")
      val caught = Map(
        "caught_exact" -> (md5(col("t0")) === md5(col("t1"))),
        "caught_fingerprint" -> (graft.ext.TextOps.fingerprint(col("t0")) ===
          graft.ext.TextOps.fingerprint(col("t1"))),
        "caught_jaccard3" -> (inter /
          size(array_distinct(concat(col("s0"), col("s1"))))
            .cast("double") >= JaccardThreshold),
        "caught_simhash" -> (bit_count(graft.functions.SimHash60(col("t0"))
          .bitwiseXOR(graft.functions.SimHash60(col("t1"))))
          <= MaxHamming),
        "caught_containment" -> (inter /
          least(size(col("s0")), size(col("s1"))).cast("double")
          >= ContainmentThreshold))
      p.groupBy("pert")
        .agg(count(lit(1)).as("n_docs"),
          caught.toSeq.sortBy(_._1).map { case (n, c) =>
            sum(when(c, 1L).otherwise(0L)).as(n)
          }: _*)
    }),

    // E266: LSH banding-parameter PLANNER — the design-time companion
    // to E203's measured banding recall. For every factorization of
    // the production 32-signature budget, the S-curve
    // P(candidate | s) = 1 − (1 − s^r)^b is averaged over the
    // corpus's MEASURED near-dup pair similarities (the verified-pair
    // tier), giving the expected candidate recall each (bands, rows)
    // buys; `chosen` marks the cheapest banding (fewest bucket keys
    // per doc) that meets the 0.9 target. Per-pair probabilities are
    // summed as 9-decimal DECIMALs so the mean is order-free (exact,
    // associative) — double summation order differs across engines.
    "docs_lsh_plan" -> ((s, dir) => {
      val pairs = wordNearDupPairs(s, dir) // shared artifact (r16)
        .select(col("jaccard"))
      val sums = PlanGrid.zipWithIndex.map { case ((b, r), i) =>
        sum(round(sCurveCol(b, r), 9).cast("decimal(20,9)")).as(s"s_$i")
      }
      val one = pairs.agg(count(lit(1)).as("n"), sums: _*)
      val entries = array(PlanGrid.zipWithIndex.map { case ((b, r), i) =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          round(col(s"s_$i").cast("double") / col("n"), 6)
            .as("expected_recall"),
          lit(pAtThreshold(b, r)).as("p_at_threshold"))
      }: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)) // 6-row frame: the window is over the grid
      one.select(col("n").as("n_pairs"), explode(entries).as("g"))
        .select(col("g.bands").as("bands"),
          col("g.rows_per_band").as("rows_per_band"), col("n_pairs"),
          col("g.expected_recall").as("expected_recall"),
          col("g.p_at_threshold").as("p_at_threshold"),
          (col("g.expected_recall") >= PlanTargetRecall).as("meets_target"))
        .withColumn("chosen", col("meets_target") && col("bands") ===
          min(when(col("meets_target"), col("bands"))).over(w))
    }))

  /** |agreement/32 − exact J| bound for the E174 audit — sized to the
    * densified-OPH estimator's measured tails on short docs (max 0.284
    * at sf0.1), deterministic on fixed fixtures, and still far below
    * the ≥0.5 error a broken hash chain would show.
    */
  val MinHashTolerance = 0.35

  /** Span-dedup n-gram width. 8 word-grams: long enough that the
    * fixture's background bag-of-words text almost never collides by
    * chance, short enough that the planted near-dup pairs (≥0.96
    * similarity) produce real shared spans.
    */
  val SpanN = 8

  // -------------------------------------------------------------------
  // E203 banding-recall audit: planted graded universe + thresholds
  // -------------------------------------------------------------------

  /** τ sweep for docs_lsh_recall — bracketed so each planted tier
    * (J ≈ 0.33 / 0.48 / 0.66 / 0.90) enters at a distinct τ.
    */
  val RecallTaus = Seq(0.3, 0.45, 0.6, 0.85)

  /** Every (doc_id % 7 == 3) document gets a graded variant: keep the
    * first (50 + 15·(doc_id % 4))% of its words, replace the tail with
    * per-doc-unique filler — yielding deterministic true pairs at
    * Jaccard ≈ nk/(2n − nk), i.e. ~0.33/0.48/0.66/0.90 tiers. The
    * fixture's own near-dups are bimodal (J ≥ 0.85 or < 0.3,
    * LshRecallInvariantSpec), so WITHOUT planting, the recall curve
    * would be measured on an empty mid-range — the planting pattern of
    * E194/E197 applied to the similarity axis.
    */
  val RecallPlantMod = 7
  val RecallPlantRes = 3
  val RecallPlantOffset = 400000L

  /** Measured-recall floors per (config, τ) for the hash-checked
    * `recall_ok` verdict and the DedupSpec bound — set from measured
    * values at sf0.001/sf0.01/sf0.1 with margin for fixture
    * regeneration (binomial noise over the planted-pair population);
    * a broken hash chain or banding regression (recall collapse at
    * high τ) still fails loudly.
    */
  def recallFloor(config: String, tau: Double): Double = (config, tau) match {
    // measured (sf0.001/0.01/0.1): banded32 0.67-0.70 / 0.79-0.81 /
    // 0.92-0.97 / 1.0; oph 0.72-0.75 / 0.82-0.87 / 0.98-1.0 / 1.0.
    // Floors sit ~4 binomial σ (n≈70-1000 pairs) below the minima.
    case (_, 0.85) => if (config == "oph") 0.90 else 0.95
    case (_, 0.6) => 0.75
    case (_, 0.45) => 0.55
    case _ => 0.45
  }

  /** |measured − classic-formula| bound for the `tracks_formula`
    * verdict — measured deviations are ≤ 0.03 (banded32) and ≤ 0.06
    * (oph, densification bias is ADDITIVE here); 0.2 leaves ~3σ of
    * regeneration margin while a banding bug (e.g. a band slice off by
    * one, collapsing recall at mid-J) still fails.
    */
  val RecallFormulaMargin = 0.2

  /** The audit universe: corpus + graded variants (both engines build
    * the identical texts, so exact ground truth matches bit for bit).
    */
  def recallUniverse(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id").cast("long").as("id"), col("text"))
    val variants = docs
      .filter(pmod(col("doc_id"), lit(RecallPlantMod)) === RecallPlantRes)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nk", greatest(
        expr(s"(size(ws) * (50 + 15 * pmod(doc_id, 4)) + 99) DIV 100"),
        lit(2)))
      .select((col("doc_id") + lit(RecallPlantOffset)).as("id"),
        expr("array_join(transform(sequence(1, size(ws)), i -> " +
          "CASE WHEN i <= nk THEN element_at(ws, i) " +
          "ELSE concat('zz', CAST(doc_id AS STRING), '_', CAST(i AS STRING)) " +
          "END), ' ')").as("text"))
    base.unionAll(variants)
  }

  // -------------------------------------------------------------------
  // DuckDB oracles
  // -------------------------------------------------------------------

  /** Word 3-gram shingle CTE fragment (mirrors Dedup.wordShingles;
    * shared with the docs_near_dedup_survivors oracle).
    */
  val wordShCte =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(ws) >= 3
      |              THEN list_distinct(list_transform(generate_series(1, len(ws)-2),
      |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |              ELSE [text] END AS s
      |       FROM d)""".stripMargin

  /** Char 6-gram shingle CTE fragment (mirrors Dedup.charShingles). */
  private val charShCte =
    s"""WITH sh AS (SELECT doc_id,
       |         CASE WHEN len(text) >= $CharN
       |              THEN list_distinct(list_transform(generate_series(1, len(text)-${CharN - 1}),
       |                     i -> substr(text, CAST(i AS INTEGER), $CharN)))
       |              ELSE [text] END AS s
       |       FROM documents)""".stripMargin

  /** All-pairs verified-Jaccard SELECT over the `sh` CTE (shared with
    * the docs_near_dedup_survivors oracle).
    */
  val jaccardPairsSelect: String =
    s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       len(list_intersect(a.s, b.s))::DOUBLE /
       |         len(list_distinct(list_concat(a.s, b.s))) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
       |        len(list_distinct(list_concat(a.s, b.s))) >= $JaccardThreshold""".stripMargin

  def jaccardPairsSql(shCte: String): String =
    s"$shCte\n$jaccardPairsSelect"

  /** 60-bit SimHash as generated SQL (mirrors Dedup.simhash exactly:
    * bit j = bit (3−j%4) of hex nibble j/4 of md5(token), nibble value
    * via strpos into the hex alphabet — same integer as Spark's conv).
    */
  private def simhashExprOn(ws: String): String = {
    def contrib(j: Int): String = {
      val pos = j / 4 + 1; val sh = 3 - j % 4
      s"((((strpos('0123456789abcdef', substr(md5(w), $pos, 1)) - 1) >> $sh) & 1) * 2 - 1)"
    }
    val terms = (0 until Dedup.SimhashBits).map { j =>
      s"""CASE WHEN list_sum(list_transform($ws, w -> ${contrib(j)})) >= 0
         |  THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }
    terms.mkString("(", " + ", ")")
  }

  private val simhashExpr: String = simhashExprOn("ws")

  private val simhashCte =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash FROM d)""".stripMargin

  /** The E164 span-find truth: md5 gram keys (a 128-bit key DuckDB
    * computes independently of Spark's xxhash64), cross-document
    * distinct-count cut, ≤ n island chaining.
    */
  private lazy val dupSpansSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
       |             md5(array_to_string(ws[u.i + 1 : u.i + $SpanN], ' ')) AS gh
       |      FROM d, unnest(generate_series(0, len(ws) - $SpanN)) AS u(i)),
       |dup AS (SELECT gh FROM (
       |          SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
       |        WHERE nd >= 2),
       |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
       |m AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER
       |               (PARTITION BY doc_id ORDER BY pos) <= $SpanN
       |             THEN 0 ELSE 1 END AS brk
       |      FROM h),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS UNBOUNDED PRECEDING) AS isl
       |      FROM m)
       |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       |       CAST(max(pos) + ${SpanN - 1} AS INTEGER) AS span_end,
       |       CAST(max(pos) + $SpanN - min(pos) AS INTEGER) AS span_tokens
       |FROM i GROUP BY doc_id, isl""".stripMargin

  /** The E206 excision truth (same gram keys as [[dupSpansSql]]).
    */
  private lazy val exciseSpansSql: String =
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
         |           FROM documents),
         |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
         |             md5(array_to_string(ws[u.i + 1 : u.i + $SpanN], ' ')) AS gh
         |      FROM d, unnest(generate_series(0, len(ws) - $SpanN)) AS u(i)),
         |dup AS (SELECT gh FROM (
         |          SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh)
         |        WHERE nd >= 2),
         |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
         |m AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER
         |               (PARTITION BY doc_id ORDER BY pos) <= $SpanN
         |             THEN 0 ELSE 1 END AS brk
         |      FROM h),
         |i AS (SELECT doc_id, pos,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS isl
         |      FROM m),
         |sp AS (SELECT doc_id, min(pos) AS span_start,
         |              max(pos) + ${SpanN - 1} AS span_end,
         |              max(pos) + $SpanN - min(pos) AS span_tokens
         |       FROM i GROUP BY doc_id, isl),
         |agg AS (SELECT doc_id, count(*) AS n_spans,
         |               CAST(sum(span_tokens) AS BIGINT) AS tokens_cut
         |        FROM sp GROUP BY doc_id),
         |tok AS (SELECT d.doc_id, CAST(u.i AS INTEGER) AS pos, ws[u.i + 1] AS w
         |        FROM d JOIN agg ON agg.doc_id = d.doc_id,
         |             unnest(generate_series(0, len(ws) - 1)) AS u(i)),
         |kept AS (SELECT t.doc_id, t.pos, t.w
         |         FROM tok t LEFT JOIN sp
         |           ON sp.doc_id = t.doc_id
         |          AND t.pos BETWEEN sp.span_start AND sp.span_end
         |         WHERE sp.doc_id IS NULL),
         |clean AS (SELECT doc_id,
         |                 string_agg(w, ' ' ORDER BY pos) AS text_clean
         |          FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(agg.n_spans, 0) AS n_spans,
         |       CAST(len(ws) AS BIGINT) AS n_tokens,
         |       coalesce(agg.tokens_cut, 0) AS tokens_cut,
         |       CASE WHEN agg.doc_id IS NULL THEN d.text
         |            ELSE coalesce(clean.text_clean, '') END AS text_clean
         |FROM d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |       LEFT JOIN clean ON clean.doc_id = d.doc_id""".stripMargin

  /** E240 spans: the [[dupSpansSql]] chain with the hit source
    * swapped — eval-slice gram membership instead of cross-doc
    * counts; training side only.
    */
  private lazy val decontamSpansSql: String = {
    val M = CurationQueries.DecontamMod
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
       |             md5(array_to_string(ws[u.i + 1 : u.i + $SpanN], ' ')) AS gh
       |      FROM d, unnest(generate_series(0, len(ws) - $SpanN)) AS u(i)),
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % $M = 0),
       |h AS (SELECT doc_id, pos FROM g JOIN ev USING (gh)
       |      WHERE doc_id % $M <> 0),
       |m AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER
       |               (PARTITION BY doc_id ORDER BY pos) <= $SpanN
       |             THEN 0 ELSE 1 END AS brk
       |      FROM h),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS UNBOUNDED PRECEDING) AS isl
       |      FROM m)
       |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       |       CAST(max(pos) + ${SpanN - 1} AS INTEGER) AS span_end,
       |       CAST(max(pos) + $SpanN - min(pos) AS INTEGER) AS span_tokens
       |FROM i GROUP BY doc_id, isl""".stripMargin
  }

  /** E240 cut: the [[exciseSpansSql]] rewrite over the contamination
    * hit source, output restricted to the training slice.
    */
  private lazy val decontamExciseSql: String = {
    val M = CurationQueries.DecontamMod
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |           FROM documents),
       |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
       |             md5(array_to_string(ws[u.i + 1 : u.i + $SpanN], ' ')) AS gh
       |      FROM d, unnest(generate_series(0, len(ws) - $SpanN)) AS u(i)),
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % $M = 0),
       |h AS (SELECT doc_id, pos FROM g JOIN ev USING (gh)
       |      WHERE doc_id % $M <> 0),
       |m AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER
       |               (PARTITION BY doc_id ORDER BY pos) <= $SpanN
       |             THEN 0 ELSE 1 END AS brk
       |      FROM h),
       |i AS (SELECT doc_id, pos,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS UNBOUNDED PRECEDING) AS isl
       |      FROM m),
       |sp AS (SELECT doc_id, min(pos) AS span_start,
       |              max(pos) + ${SpanN - 1} AS span_end,
       |              max(pos) + $SpanN - min(pos) AS span_tokens
       |       FROM i GROUP BY doc_id, isl),
       |agg AS (SELECT doc_id, count(*) AS n_spans,
       |               CAST(sum(span_tokens) AS BIGINT) AS tokens_cut
       |        FROM sp GROUP BY doc_id),
       |tok AS (SELECT d.doc_id, CAST(u.i AS INTEGER) AS pos, ws[u.i + 1] AS w
       |        FROM d JOIN agg ON agg.doc_id = d.doc_id,
       |             unnest(generate_series(0, len(ws) - 1)) AS u(i)),
       |kept AS (SELECT t.doc_id, t.pos, t.w
       |         FROM tok t LEFT JOIN sp
       |           ON sp.doc_id = t.doc_id
       |          AND t.pos BETWEEN sp.span_start AND sp.span_end
       |         WHERE sp.doc_id IS NULL),
       |clean AS (SELECT doc_id,
       |                 string_agg(w, ' ' ORDER BY pos) AS text_clean
       |          FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(agg.n_spans, 0) AS n_spans,
       |       CAST(len(ws) AS BIGINT) AS n_tokens,
       |       coalesce(agg.tokens_cut, 0) AS tokens_cut,
       |       CASE WHEN agg.doc_id IS NULL THEN d.text
       |            ELSE coalesce(clean.text_clean, '') END AS text_clean
       |FROM d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |       LEFT JOIN clean ON clean.doc_id = d.doc_id
       |WHERE d.doc_id % $M <> 0""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "docs_decontam_spans" -> decontamSpansSql,
    "docs_decontam_excise" -> decontamExciseSql,

    "docs_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "docs_incremental_dedup" ->
      """SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id % 5 = 4
        |  AND NOT EXISTS (SELECT 1 FROM documents o
        |                  WHERE o.doc_id % 5 <> 4
        |                    AND md5(o.text) = md5(d.text))""".stripMargin,

    "docs_bloom_prefilter" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS k FROM documents
        |              WHERE doc_id % 5 <> 4),
        |inc AS (SELECT md5(text) AS k FROM documents WHERE doc_id % 5 = 4)
        |SELECT count(*) AS n_incoming,
        |       CAST(sum(CASE WHEN k IN (SELECT k FROM seen)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
        |       true AS no_false_negatives,
        |       true AS fp_rate_ok
        |FROM inc""".stripMargin,

    // Exact all-pairs Jaccard — independent of the LSH implementation.
    "docs_dedup_near" -> jaccardPairsSql(wordShCte),

    // E279: the same five tier predicates over the same four
    // deterministic perturbations (DuckDB lambda index is 1-based,
    // hence the i - 1).
    "docs_dedup_robustness" -> {
      def sh3(ws: String, t: String) =
        s"""CASE WHEN len($ws) >= 3
           |     THEN list_distinct(list_transform(
           |            generate_series(1, len($ws) - 2),
           |            i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2]))
           |     ELSE [$t] END""".stripMargin
      def fp(t: String) =
        s"substr(md5(trim(regexp_replace(lower($t), '[^a-z0-9]+', ' ', 'g'))), 1, 16)"
      s"""WITH b AS (SELECT doc_id, text AS t0,
         |             string_split(text, ' ') AS ws0
         |           FROM documents WHERE doc_id % 10 = 0),
         |p AS (
         |  SELECT doc_id, t0, ws0, 'case' AS pert, upper(t0) AS t1 FROM b
         |  UNION ALL
         |  SELECT doc_id, t0, ws0, 'drop7',
         |         array_to_string(list_filter(ws0,
         |           (w, i) -> (i - 1) % 7 <> 3), ' ') FROM b
         |  UNION ALL
         |  SELECT doc_id, t0, ws0, 'reverse',
         |         array_to_string(list_reverse(ws0), ' ') FROM b
         |  UNION ALL
         |  SELECT doc_id, t0, ws0, 'trunc80',
         |         array_to_string(ws0[1 : greatest(1, (4 * len(ws0)) // 5)],
         |           ' ') FROM b),
         |q AS (SELECT doc_id, pert, t0, t1, ws0,
         |             string_split(t1, ' ') AS ws1,
         |             ${sh3("ws0", "t0")} AS s0
         |      FROM p),
         |q2 AS (SELECT q.*, ${sh3("ws1", "t1")} AS s1,
         |              CAST(${simhashExprOn("ws0")} AS BIGINT) AS sim0,
         |              CAST(${simhashExprOn("ws1")} AS BIGINT) AS sim1
         |       FROM q)
         |SELECT pert, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN len(list_intersect(s0, s1))::DOUBLE /
         |              least(len(s0), len(s1)) >= $ContainmentThreshold
         |            THEN 1 ELSE 0 END) AS BIGINT) AS caught_containment,
         |       CAST(sum(CASE WHEN md5(t0) = md5(t1) THEN 1 ELSE 0 END)
         |         AS BIGINT) AS caught_exact,
         |       CAST(sum(CASE WHEN ${fp("t0")} = ${fp("t1")}
         |            THEN 1 ELSE 0 END) AS BIGINT) AS caught_fingerprint,
         |       CAST(sum(CASE WHEN len(list_intersect(s0, s1))::DOUBLE /
         |              len(list_distinct(list_concat(s0, s1)))
         |              >= $JaccardThreshold
         |            THEN 1 ELSE 0 END) AS BIGINT) AS caught_jaccard3,
         |       CAST(sum(CASE WHEN bit_count(xor(sim0, sim1)) <= $MaxHamming
         |            THEN 1 ELSE 0 END) AS BIGINT) AS caught_simhash
         |FROM q2 GROUP BY pert""".stripMargin
    },

    // E266: S-curves with unrolled powers over the exact pair
    // similarities; DECIMAL(20,9) sums make the mean order-free.
    "docs_lsh_plan" -> {
      val grid = PlanGrid.map { case (b, r) =>
        s"""  SELECT $b AS bands, $r AS rows_per_band,
           |         round(CAST(sum(CAST(round(${sCurveSql(b, r)}, 9)
           |                 AS DECIMAL(20,9))) AS DOUBLE)
           |           / (SELECT n FROM nn), 6) AS expected_recall,
           |         CAST(${pAtThreshold(b, r)} AS DOUBLE) AS p_at_threshold
           |  FROM jp""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$wordShCte,
         |jp AS MATERIALIZED ($jaccardPairsSelect),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM jp),
         |g AS (
         |$grid
         |),
         |g2 AS (SELECT bands, rows_per_band,
         |              (SELECT n FROM nn) AS n_pairs,
         |              expected_recall, p_at_threshold,
         |              expected_recall >= CAST($PlanTargetRecall AS DOUBLE)
         |                AS meets_target
         |       FROM g),
         |g3 AS (SELECT g2.*, min(CASE WHEN meets_target THEN bands END)
         |                      OVER () AS minb FROM g2)
         |SELECT bands, rows_per_band, n_pairs, expected_recall,
         |       p_at_threshold, meets_target,
         |       (meets_target AND bands = minb) AS chosen
         |FROM g3""".stripMargin
    },

    "docs_incremental_neardup" ->
      s"""$wordShCte
         |SELECT CASE WHEN a.doc_id % 5 = 4 THEN a.doc_id ELSE b.doc_id END
         |         AS new_doc,
         |       CASE WHEN a.doc_id % 5 = 4 THEN b.doc_id ELSE a.doc_id END
         |         AS dup_of,
         |       len(list_intersect(a.s, b.s))::DOUBLE /
         |         len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE (a.doc_id % 5 = 4) <> (b.doc_id % 5 = 4)
         |  AND len(list_intersect(a.s, b.s))::DOUBLE /
         |        len(list_distinct(list_concat(a.s, b.s))) >= $JaccardThreshold"""
        .stripMargin,
    "docs_ngram_jaccard" -> jaccardPairsSql(charShCte),

    // Exact all-pairs containment — same independence property.
    "docs_containment" ->
      s"""$wordShCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.s, b.s))::DOUBLE /
         |         least(len(a.s), len(b.s)) AS containment
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |        least(len(a.s), len(b.s)) >= $ContainmentThreshold""".stripMargin,

    // E215: same per-row shingle table, md5 keys, (df, key) rank and
    // ⌊(1−t)·m⌋+1 prefix cut; integer volume arithmetic per df.
    "docs_containment_profile" ->
      s"""$wordShCte,
         |r AS (SELECT doc_id AS id, md5(u.x) AS x FROM sh, unnest(s) AS u(x)),
         |w AS (SELECT id, x,
         |        count(*) OVER (PARTITION BY x) AS df,
         |        count(*) OVER (PARTITION BY id) AS m
         |      FROM r),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY id
         |                    ORDER BY df, x) AS rn FROM w),
         |p AS (SELECT x, df, count(*) AS np FROM rk
         |      WHERE rn <= floor((CAST(1.0 AS DOUBLE)
         |                         - CAST($ContainmentThreshold AS DOUBLE)) * m) + 1
         |      GROUP BY x, df)
         |SELECT CAST(df AS BIGINT) AS df, count(*) AS n_keys,
         |       CAST(sum(np) AS BIGINT) AS prefix_rows,
         |       CAST(sum(np * (df - 1)) AS BIGINT) AS cand_rows,
         |       CAST(max(np) AS BIGINT) AS max_np
         |FROM p GROUP BY df""".stripMargin,

    // E221: exact per-source doc/distinct-shingle counts; the
    // xxhash64 signature chains live only Spark-side, so the oracle
    // pins the machine-checked equality boolean and the permutation
    // count (the E174/E203 sketch-audit pattern).
    "docs_sig_shard_merge" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |                  string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT source, doc_id,
         |         CASE WHEN len(ws) >= 3
         |              THEN list_distinct(list_transform(generate_series(1, len(ws)-2),
         |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         |              ELSE [text] END AS s
         |       FROM d),
         |x AS (SELECT DISTINCT source, u.x FROM sh, unnest(s) AS u(x)),
         |cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |nsh AS (SELECT source, count(*) AS n_shingles FROM x GROUP BY source)
         |SELECT c.source, c.n_docs, n.n_shingles,
         |       CAST(${Dedup.NumPerms} AS BIGINT) AS n_perms,
         |       true AS merge_exact
         |FROM cnt c JOIN nsh n ON n.source = c.source""".stripMargin,

    // Same blocking + windowed Levenshtein; DuckDB's levenshtein is the
    // same unit-cost edit distance (Spark's thresholded form returns the
    // exact distance whenever it is ≤ the threshold).
    "docs_editdist_pairs" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 8) AS blk,
        |                  substr(text, 1, 64) AS head FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.head, b.head) AS INTEGER) AS dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 8""".stripMargin,

    // E228: same reversed-head sort key, same rn-successor pairing.
    "docs_editdist_snm" ->
      """WITH d AS (SELECT doc_id, substr(reverse(text), 1, 24) AS k,
        |                  substr(text, 1, 64) AS head FROM documents),
        |r AS (SELECT doc_id, head,
        |             row_number() OVER (ORDER BY k, doc_id) AS rn FROM d),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |             levenshtein(a.head, b.head) AS dist
        |      FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4)
        |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
        |       CAST(dist AS INTEGER) AS dist
        |FROM p WHERE dist <= 8""".stripMargin,

    "docs_simhash" -> s"$simhashCte SELECT doc_id, simhash FROM sh",

    // Same 15-bit chunk extraction and integer pair arithmetic.
    "docs_simhash_bucket_profile" ->
      s"""$simhashCte,
         |c AS (SELECT doc_id, CAST(t.c AS INTEGER) AS chunk_idx,
         |             (simhash >> (CAST(t.c AS INTEGER) * 15)) & 32767
         |               AS chunk_val
         |      FROM sh, unnest(generate_series(0, 3)) AS t(c)),
         |b AS (SELECT chunk_idx, chunk_val, count(*) AS m
         |      FROM c GROUP BY chunk_idx, chunk_val)
         |SELECT chunk_idx, count(*) AS n_buckets,
         |       CAST(sum(m) AS BIGINT) AS n_docs,
         |       CAST(max(m) AS BIGINT) AS max_bucket,
         |       CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_colliding_buckets,
         |       CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS candidate_pairs,
         |       CAST(${Dedup.MaxBucketSize} - max(m) AS BIGINT) AS cap_headroom
         |FROM b GROUP BY chunk_idx""".stripMargin,

    // Exact all-pairs Hamming — banding is pigeonhole-complete, so the
    // LSH result must equal this exactly.
    "docs_simhash_pairs" ->
      s"""$simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming""".stripMargin,

    // E174: the oracle pins the exact-Jaccard pair set and the
    // machine-checked tolerance boolean; the estimate itself lives
    // only on the Spark side (xxhash64 signatures are not DuckDB-
    // reproducible) — the E66/E74/E92 sketch-audit pattern.
    "docs_minhash_accuracy" ->
      s"""$wordShCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       len(list_intersect(a.s, b.s))::DOUBLE /
         |         len(list_distinct(list_concat(a.s, b.s))) AS jaccard,
         |       true AS within_tol
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.s, b.s))::DOUBLE /
         |        len(list_distinct(list_concat(a.s, b.s))) >= $JaccardThreshold""".stripMargin,

    // E203: exact ground truth + classic-formula expectation over the
    // same planted universe; the two measured-recall verdicts are
    // pinned true (xxhash candidates live only on the Spark side —
    // the E174 pattern).
    "docs_lsh_recall" -> {
      val tausSql = RecallTaus
        .map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
      s"""WITH doc0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws
         |              FROM documents),
         |u AS MATERIALIZED (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $RecallPlantOffset,
         |         array_to_string(list_transform(generate_series(1, len(ws)),
         |           i -> CASE WHEN i <= greatest(
         |                       (len(ws) * (50 + 15 * (doc_id % 4)) + 99) // 100,
         |                       2)
         |                     THEN ws[i]
         |                     ELSE 'zz' || CAST(doc_id AS VARCHAR) || '_'
         |                          || CAST(i AS VARCHAR) END), ' ')
         |  FROM doc0 WHERE doc_id % $RecallPlantMod = $RecallPlantRes),
         |d AS (SELECT id, text, string_split(text, ' ') AS ws FROM u),
         |sh AS MATERIALIZED (
         |  SELECT id,
         |         CASE WHEN len(ws) >= $WordN
         |              THEN list_distinct(list_transform(
         |                     generate_series(1, len(ws) - 2),
         |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         |              ELSE [text] END AS s
         |  FROM d),
         |t AS MATERIALIZED (
         |  SELECT len(list_intersect(a.s, b.s))::DOUBLE /
         |           len(list_distinct(list_concat(a.s, b.s))) AS j
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE len(list_intersect(a.s, b.s)) > 0),
         |taus(tau) AS (VALUES $tausSql),
         |cfg(config) AS (VALUES ('banded32'), ('oph'))
         |SELECT config, tau, count(*) AS n_true_pairs,
         |       round(avg(1.0 - pow(1.0 - pow(j, 4), 8)), 6)
         |         AS expected_recall,
         |       true AS recall_ok, true AS tracks_formula
         |FROM t, taus, cfg WHERE j >= tau GROUP BY config, tau""".stripMargin
    },

    // Mirrors SpanDedup.duplicatedSpans: same cross-document
    // distinct-count cut, same ≤ n island chaining; grams are keyed by
    // md5 here and by xxhash64 on the Spark side.
    "docs_dup_spans" -> dupSpansSql,

    // Same span chain as docs_dup_spans, then the cut replayed flat:
    // positions inside any span anti-joined away, survivors re-joined
    // in position order. Docs with no spans take the original text
    // verbatim (matching Spark's no-round-trip branch); a doc whose
    // every token is cut yields '' via the coalesce.
    "docs_span_excise" -> exciseSpansSql)
}
