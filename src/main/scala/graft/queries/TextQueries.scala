package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Bpe, LogReg, TextOps}

/** Driver-contract queries + DuckDB oracles for text analysis
  * (SURVEY.md §7.4): token statistics, quality scoring, language-ID,
  * fingerprinting, regex (BPE-ish) tokenization, and typed JSON
  * extraction over `events.props`. Every query is a single narrow
  * projection or one small aggregation — no UDFs, codegen end to end.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-document token statistics + quality score.
    // Per-source quality-percentile filter (E156): keep each source's
    // top 30% of documents by quality score — the "filter each crawl
    // dump by its own quality distribution" curation tier (a global
    // threshold would let a high-quality source's rejects outrank a
    // noisy source's best). percent_rank over (quality, doc_id) is
    // engine-deterministic; the window partitions by source, so no
    // global sort exists, and output aggregates are order-free
    // (count/min/max — never avg over doubles).
    "docs_quality_topfrac" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      scored.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.7)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          min(col("quality")).as("min_quality"),
          max(col("quality")).as("max_quality"))
    }),

    "docs_text_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        TextOps.meanTokenLen(toks).as("mean_token_len"),
        TextOps.stopwordRatio(toks).as("stopword_ratio"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),

    // Heuristic language-ID vs the labeled `lang` column.
    "docs_langid" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.langId(col("text")).as("pred_lang"),
        (TextOps.langId(col("text")) === col("lang")).as("is_correct"))),

    // Normalized-content fingerprint (cheap tier-0 dedup key).
    "docs_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // Global term frequencies (explode + count — the one shuffle here,
    // keyed by token: classic map-side-combinable aggregation).
    "docs_term_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),

    // Shannon word-entropy per document (nats) — the information-
    // theoretic quality signal next to the ratio heuristics of
    // docs_text_stats: spammy low-entropy repetition scores near 0,
    // diverse text near ln(n_tokens). Two map-side-combinable
    // aggregations (token counts, then the entropy fold as
    // H = ln(N) − Σc·ln(c)/N); rounded to 6 so the double fold order
    // can never break the oracle hash.
    "docs_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum("cnt").as("n"),
          sum(col("cnt") * log(col("cnt"))).as("s"))
        .select(col("doc_id"),
          round(log(col("n")) - col("s") / col("n"), 6).as("entropy"))),

    // Unigram log-probability quality score (E115) — the statistical-LM
    // tier of quality filtering (the CCNet/perplexity-filter shape, with
    // a unigram model standing in for the KenLM): corpus-wide token
    // frequencies become -ln p(token), and a document's score is the
    // mean surprise of its tokens — boilerplate scores low, lexically
    // odd or OOV-heavy text scores high. The vocabulary aggregate is
    // corpus-wide but vocabulary-sized (shuffle carries one row per
    // DISTINCT token); the per-doc pass joins tokens to it on the token
    // key; the 1-row corpus total folds in via a broadcast cross join,
    // never a driver collect. ln(cnt)-ln(total) keeps both operands
    // exactly representable, and the 6-decimal round swallows avg()
    // accumulation-order noise in both engines.
    "docs_unigram_logprob" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum(col("c")).as("total"))
      tok.join(vocab, "w")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          (log(col("total").cast("double")) - log(col("c").cast("double")))
            .as("nlp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("nlp")), 6).as("avg_neg_logprob"))
    }),

    // BPE-ish regex tokenizer: per-doc token count.
    "docs_token_bpe" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(TextOps.bpeTokens(col("text"))).as("n_bpe"))),

    // The engine's headline composition: a training-data curation
    // pass — language gate, quality gate, length gate, near-dup
    // removal — producing the kept corpus with its scores. Everything
    // fuses into scans + the dedup pipeline's joins; the gates are
    // pushdown-able predicates.
    "docs_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dupIds = DedupQueries.wordNearDupPairs(s, dir) // shared artifact (r16)
        .select(col("id_b").as("doc_id")).distinct()
      // r16: the quality/length gates ride a 0-or-1 generator (the
      // cdc/Pipeline.forward discipline) instead of a Filter over
      // derived columns — Catalyst pushes such a Filter through the
      // Project by INLINING the aliased expressions into the predicate,
      // re-tokenizing every doc once per predicate occurrence (the
      // corpus-wide duplication audit flagged exactly this query once
      // the LSH subtree moved to the shared artifact). A Generate
      // blocks that inlining: quality and n_tokens are computed ONCE
      // per row; rows and values are identical. The cheap scan-column
      // gate (lang) stays a pushable Filter.
      docs
        .filter(col("lang") === "en")
        .select(col("doc_id"), explode(filter(array(struct(
            size(TextOps.tokens(col("text"))).as("n_tokens"),
            TextOps.qualityScore(col("text")).as("quality"))),
          r => r.getField("n_tokens") >= 20 &&
            r.getField("quality") >= 0.3)).as("g"))
        .join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("g.n_tokens").as("n_tokens"),
          col("g.quality").as("quality"))
    }),

    // Typed JSON extraction over events.props ($.k integer).
    "events_props_extract" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      // explicit sum/count (not avg()): both engines then compute the
      // identical exact-integer sum before one double division
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(k).cast("double") / count(lit(1)).cast("double"), 6).as("avg_k"),
          max(k).as("max_k"))
    }),

    // VARIANT-typed semi-structured lane (E136): Spark 4's modern
    // storage type for heterogeneous JSON — parse_json materializes
    // the binary-encoded variant ONCE, then typed path extraction
    // (variant_get) replaces per-access string re-parsing. At 100 TB
    // this is the difference between parsing the JSON blob once per
    // row and once per referenced field; schemaless columns also skip
    // the rigid from_json schema contract the map lane needs. Output
    // reproduces the schema'd aggregate, so the oracle pins variant
    // semantics (typed get + missing-path null) exactly.
    "events_props_variant" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "long").as("k"),
          variant_get(col("v"), "$.missing", "long").as("absent"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          sum(when(col("absent").isNull, 1L).otherwise(0L))
            .as("n_missing_null"))),

    // MAP-typed column surface: props parsed to map<string,long>, then
    // map_keys / size / null-safe value access — the map-functions
    // checklist row beside the array coverage in events_type_arrays.
    "events_props_map" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).as("m"))
        .select(col("event_id"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_csv"),
          try_element_at(col("m"), lit("k")).as("k_val"),
          size(col("m")).cast("long").as("n_keys"))),

    // E165: interpolated bigram language-model scoring — the KenLM-ish
    // fluency/perplexity quality signal (per-doc mean log probability
    // under a corpus-trained bigram model with unigram add-one
    // backoff). Complements E115's unigram score with word-ORDER
    // sensitivity: shuffled boilerplate scores low even when its
    // unigram profile looks normal. Adjacency is a scan-side positional
    // pair projection (the docs_bigrams doctrine — no per-doc window
    // sort, no shuffle before the counts); re-evaluating it for the
    // scoring join is a narrow re-scan, so nothing is checkpointed.
    // Model tables are vocabulary-sized aggregates joined back in.
    // E238: unicode/typographic normalization — the canonicalization
    // pass between HTML extraction and tokenization: fold accented
    // letters and curly-quote/dash typography to ASCII (1:1 codepoint
    // translate — Spark and DuckDB both verified codepoint-based),
    // lowercase, collapse whitespace. Messy text is PLANTED from doc
    // columns for doc_id % 4 == 1 (uppercased body + an accent/
    // typography suffix with an NBSP); clean docs normalize to
    // themselves (`changed` = false), planted docs back to their
    // lowercase body + folded suffix. Pure codegen projection, no
    // shuffle, no UDF.
    "docs_normalize" -> ((s, dir) => {
      val messy = when(col("doc_id") % 4 === 1,
        concat(upper(col("text")),
          lit(" CAFÉ naïve façade “quoted” it’s – dash — done end")))
        .otherwise(col("text"))
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.foldText(messy).as("normalized"),
        (TextOps.foldText(messy) =!= col("text")).as("changed"))
    }),

    "docs_bigram_lm" -> ((s, dir) => bigramLmScores(s, dir)),

    // E237: interpolated Kneser-Ney bigram LM — the canonical n-gram
    // smoothing (Kneser & Ney 1995; Chen & Goodman 1999) beside
    // E165's fixed-λ mixture: absolute discount D on the raw bigram
    // estimate, the freed mass D·N1+(w·)/c(w) redistributed through
    // the CONTINUATION probability N1+(·w2)/|bigram types| — "how
    // many contexts does w2 complete" rather than "how often does w2
    // occur", the correction that stops high-frequency-but-one-
    // context words (the "San Francisco" effect) from leaking
    // probability. Every statistic is an integer count off the ONE
    // bigram-type table (vocabulary-sized; history marginals,
    // forward/backward type counts, the type total), so the oracle
    // replays the whole estimator term for term; scoring is the same
    // instance-side join shape as E165.
    "docs_bigram_kn" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val bg = docs
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
        .select(col("doc_id"),
          get(col("ws"), col("i") - 1).as("w"),
          get(col("ws"), col("i")).as("w2"))
        .localCheckpoint(false) // feeds type counts AND instance scoring
      val bgc = bg.groupBy("w", "w2").agg(count(lit(1)).as("cb"))
        .localCheckpoint(false) // feeds hist, cont, bt, and the join
      val hist = bgc.groupBy("w")
        .agg(sum(col("cb")).as("c1"), count(lit(1)).as("n1f"))
      val cont = bgc.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val btypes = bgc.agg(count(lit(1)).as("bt"))
      val p =
        greatest(col("cb") - lit(KnDiscount), lit(0.0)) /
          col("c1").cast("double") +
          lit(KnDiscount) * col("n1f").cast("double") /
            col("c1").cast("double") *
            (col("n1b").cast("double") / col("bt").cast("double"))
      bg.join(bgc, Seq("w", "w2"))
        .join(hist, Seq("w"))
        .join(cont, Seq("w2"))
        .crossJoin(broadcast(btypes))
        .select(col("doc_id"), log(p).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 6).as("avg_logprob"))
    }),

    // E189: CCNet-style perplexity bucketing — partition the corpus
    // into head / middle / tail tertiles by LM score (Wenzek et al.
    // 2020: train on head, inspect middle, drop tail — the canonical
    // corpus split that complements the E166 binary gate and the E171
    // DSIR weights with a graded verdict). Scores come from the SAME
    // shared bigram-LM pass as docs_bigram_lm (one definition, no
    // drift); tertile assignment rides the E101 scalable global row
    // numbering over (score DESC, doc_id), never a single-partition
    // ntile: bucket = ⌊(rn−1)·3/N⌋, N broadcast.
    "docs_ppl_buckets" -> ((s, dir) => {
      val scored = bigramLmScores(s, dir)
        .select(col("doc_id"), col("avg_logprob"))
        .withColumn("ord",
          struct((-col("avg_logprob")).as("neg"), col("doc_id")))
      val rn = graft.operators.GlobalIndex.globalRowNumbers(scored, "ord",
        s.sparkContext.defaultParallelism)
      val tot = scored.agg(count(lit(1)).as("nn"))
      rn.crossJoin(broadcast(tot))
        .withColumn("bucket_id",
          floor((col("row_num") - 1) * 3 / col("nn")).cast("long"))
        .select(col("doc_id"), col("avg_logprob"), col("bucket_id"),
          when(col("bucket_id") === 0, "head")
            .when(col("bucket_id") === 1, "middle")
            .otherwise("tail").as("bucket"))
    }),
    // E166: linear quality classifier — a fastText-style logistic
    // gate over the engine's own per-doc features (type-token ratio,
    // stopword ratio, mean token length, token count) with FIXED
    // published weights. The point is the serving shape: model
    // application is one narrow codegen projection per row (no UDF, no
    // shuffle), exactly how a trained filter deploys over 100 TB.
    "docs_quality_logreg" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        logregScore.as("score"), (logregScore >= lit(0.5)).as("keep"))),

    // E184: calibration audit of the E166 gate — decile-bin the scored
    // corpus and report each bin's mean score against the observed
    // positive fraction (lang = 'en' as the proxy label): the
    // reliability curve every deployed classifier gate needs before
    // its threshold is trusted. Binning rides the E101 SCALABLE global
    // row numbering (range exchange + zipWithIndex) — never
    // `ntile() OVER ()`'s single-partition funnel — then
    // bin = ⌊(rn−1)·10/N⌋ with N attached as a 1-row broadcast.
    "docs_logreg_calibration" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"),
        logregScore.as("score"),
        // when/otherwise, not a bare comparison: a NULL lang must be a
        // false label like the oracle's CASE — the comparison form
        // yields NULL (same latent divergence fixed in lrFeatureFrame).
        when(col("lang") === "en", true).otherwise(false).as("label"))
        .withColumn("ord", struct(col("score"), col("doc_id")))
      val rn = graft.operators.GlobalIndex.globalRowNumbers(scored, "ord",
        s.sparkContext.defaultParallelism)
      val tot = scored.agg(count(lit(1)).as("nn"))
      rn.crossJoin(broadcast(tot))
        .withColumn("bin",
          floor((col("row_num") - 1) * 10 / col("nn")).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(avg(col("score")), 6).as("mean_score"),
          round(sum(when(col("label"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6).as("pos_frac"))
    }),

    // E201: logistic-regression quality classifier trained IN-ENGINE
    // (round-9 verdict task #2) — batch gradient descent over the
    // E166 feature set with the lang = 'en' proxy label: one
    // standardization aggregation, then one partial-aggregatable
    // corpus pass per step (five gradient sums + log-loss in a single
    // agg) with an O(1) driver collect — the k-means/BPE iterate
    // discipline; see graft.ext.LogReg. Output is the full step
    // trajectory (weights after k updates + loss at them), so the
    // oracle — the SAME fit unrolled as generated SQL with identical
    // engine-side round points — value-checks every descent step, not
    // just the final weights.
    //
    // Round-9 verdict task #4: the fit consumes ONLY the E205
    // leakage-safe TRAIN split (stats included — val/test rows must
    // not inform standardization either). Fitting on the full corpus
    // was exactly the leak E205 exists to prevent: eval rows shaping
    // the gate's weights.
    "docs_quality_logreg_fit" -> ((s, dir) => {
      val feats = lrSplitFeatures(s, dir).filter(col("split") === "train")
      val x = LogReg.standardized(feats, LogReg.featStats(feats))
        .localCheckpoint()
      s.createDataFrame(LogReg.fit(x))
        .select(col("step"), col("bias"), col("w1").as("w_ttr"),
          col("w2").as("w_stop"), col("w3").as("w_len"),
          col("w4").as("w_ntok"), col("logLoss").as("log_loss"))
    }),

    // E208: held-out evaluation of the fitted gate — mean log-loss of
    // the FINAL weights on the train split vs the leakage-safe VAL
    // split (standardized with the TRAIN stats, the serving contract).
    // The train row reproduces the trajectory's last log_loss by
    // construction; the val row is the generalization number the E205
    // cluster split makes honest (no near-dup of any train doc can sit
    // in val, so the gap is generalization, not memorization). Two
    // O(1) aggregation rows.
    "docs_logreg_val_loss" -> ((s, dir) => {
      val sf = lrSplitFeatures(s, dir)
      val (st, w) = lrFitShared(s, dir)
      val x = LogReg.standardized(sf.filter(col("split") === "train"), st)
      val xv = LogReg.standardized(sf.filter(col("split") === "val"), st)
      LogReg.lossAt(x, w).select(lit("train").as("subset"), col("n"), col("log_loss"))
        .unionAll(LogReg.lossAt(xv, w)
          .select(lit("val").as("subset"), col("n"), col("log_loss")))
    }),

    // E202: the E184 calibration audit re-run over the FITTED weights
    // — decile reliability curve (mean fitted score vs observed
    // positive fraction per bin), closing the fit → audit loop the
    // fixed-weight tier could not. Round-9 verdict task #4: the curve
    // is computed over the leakage-safe VAL split only — calibration
    // read off the training rows flatters the gate (the fit minimized
    // those rows' loss); the val curve is the one a threshold decision
    // may trust. Binning rides the E101 scalable global row numbering,
    // exactly like E184.
    "docs_logreg_fit_calibration" -> ((s, dir) => {
      val sf = lrSplitFeatures(s, dir)
      val (st, w) = lrFitShared(s, dir)
      val z = lit(w.bias) + lit(w.w1) * col("x1") + lit(w.w2) * col("x2") +
        lit(w.w3) * col("x3") + lit(w.w4) * col("x4")
      val scored = LogReg.standardized(sf.filter(col("split") === "val"), st)
        .select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"), col("y"))
        .withColumn("ord", struct(col("score"), col("doc_id")))
      val rn = graft.operators.GlobalIndex.globalRowNumbers(scored, "ord",
        s.sparkContext.defaultParallelism)
      val tot = scored.agg(count(lit(1)).as("nn"))
      rn.crossJoin(broadcast(tot))
        .withColumn("bin",
          floor((col("row_num") - 1) * 10 / col("nn")).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(avg(col("score")), 6).as("mean_score"),
          round(sum(col("y")) / count(lit(1)).cast("double"), 6)
            .as("pos_frac"))
    }),

    // E185: tokenizer fertility audit — per language, characters per
    // BPE token and BPE tokens per whitespace word (fertility): the
    // per-language cost report every multilingual tokenizer ships with
    // (high-fertility languages pay more sequence length per word, so
    // mixture weights and context budgets must see this table). One
    // scan, one |langs|-row aggregation; ratios from exact integer
    // sums, divided once.
    "docs_tokenizer_fertility" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val bpe = TextOps.bpeTokens(col("text"))
      Tables.documents(s, dir)
        .select(col("lang"), length(col("text")).cast("long").as("nc"),
          size(ws).cast("long").as("nw"), size(bpe).cast("long").as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("n_chars"),
          sum(col("nw")).as("n_words"),
          sum(col("nb")).as("n_bpe"))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"),
          col("n_bpe"),
          round(col("n_chars").cast("double") / col("n_bpe").cast("double"), 6)
            .as("chars_per_token"),
          round(col("n_bpe").cast("double") / col("n_words").cast("double"), 6)
            .as("fertility"))
    }),

    // E199: distributed BPE tokenizer TRAINING — the learned merge
    // table (rank, pair, merged symbol, weighted pair count) from
    // iterative pair-count + argmax + native-merge rounds over the
    // word-frequency vocabulary; see graft.ext.Bpe for the scale
    // argument (corpus touched once; every round is one
    // vocabulary-sized aggregation + an O(1) driver collect + a narrow
    // codegen projection). The DuckDB oracle replays the SAME rounds
    // as generated unrolled SQL, so the learned rules — including
    // argmax tie-breaks and leftmost-greedy overlap resolution — are
    // value-checked end to end, not just shape-checked.
    "docs_bpe_merges" -> ((s, dir) => {
      val (rules, _) = Bpe.train(Tables.documents(s, dir), Bpe.Rounds, batch = 1)
      s.createDataFrame(rules)
        .select(col("rank").as("merge_rank"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"),
          col("pairCount").as("pair_count"))
    }),

    // E209: BATCHED BPE training (round-9 verdict task #6) — the
    // driver-round economics a production tokenizer needs: each round's
    // single vocabulary aggregation yields the top-B ranking, and the
    // longest pairwise symbol-DISJOINT prefix is applied at once, so
    // 30k merges cost ~30k/B corpus-vocabulary passes instead of 30k
    // (Bpe.train's Scaladoc states the law). Disjoint merges
    // commute, so the oracle replays the identical selection in SQL —
    // ranking, conflict cut, simultaneous rebuild — and value-checks
    // every accepted rule; BpeSpec additionally pins batched ≡
    // sequential on this fixture and at batch = 1 structurally.
    "docs_bpe_merges_batched" -> ((s, dir) => {
      val (rules, _) = Bpe.train(Tables.documents(s, dir),
        BpeBatchRounds, BpeBatch)
      s.createDataFrame(rules)
        .select(col("rank").as("merge_rank"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"),
          col("pairCount").as("pair_count"))
    }),

    // E200: re-tokenization under the LEARNED merges — the E185
    // fertility audit re-run against the trained tokenizer instead of
    // the fixed regex, closing the corpus → tokenizer → audit loop.
    // Encoding is a broadcast join of the corpus' pre-tokens against
    // the final vocabulary segmentation (vocab-sized build side — at
    // 100 TB the corpus never shuffles; OOV words can't occur here
    // because train() saw the same corpus, and at inference they'd
    // replay the rule list via bpe_merge).
    "docs_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (_, words) = Bpe.train(docs, Bpe.Rounds, batch = 1)
      val rep = words.select(col("word"), size(col("sym")).cast("long").as("n_sub"))
      val dsub = docs
        .select(col("doc_id"), explode(TextOps.bpeTokens(col("text"))).as("word"))
        .join(broadcast(rep), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nw"), sum(col("n_sub")).as("nb"))
      docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("nc"))
        .join(dsub, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
          sum(coalesce(col("nw"), lit(0L))).as("n_words"),
          sum(coalesce(col("nb"), lit(0L))).as("n_bpe"))
        .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"),
          col("n_bpe"),
          round(col("n_chars").cast("double") / col("n_bpe").cast("double"), 6)
            .as("chars_per_token"),
          round(col("n_bpe").cast("double") / col("n_words").cast("double"), 6)
            .as("fertility"))
    }),

    // E169: within-document duplicated n-gram fraction — the Gopher
    // repetition gate family's n-gram tier (fraction of 3-gram
    // occurrences belonging to a 3-gram repeated INSIDE the same doc);
    // completes docs_repetition's top-token/TTR signals with phrase-
    // level self-repetition. Grams are built scan-side; the only
    // shuffle is the (doc, gram) count — keyed by doc so the final
    // per-doc rollup is shuffle-free after it.
    "docs_dupgram_frac" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= DupGramN)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(ws) - $DupGramN), i -> " +
            s"array_join(slice(ws, i + 1, $DupGramN), ' '))")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_grams"),
          sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup"))
        .select(col("doc_id"), col("n_grams"),
          round(col("dup").cast("double") / col("n_grams").cast("double"), 6)
            .as("dup_frac"))),

    // E170: Zipf's-law slope — the lexical-statistics audit (a healthy
    // natural corpus fits ln f ≈ a + s·ln r with s near −1; synthetic
    // or template-generated text bends away). Least squares computed in
    // EXACT fixed point: ln(rank)/ln(freq) are rounded to micro-nats
    // (×1e6, integers), all regression sums are exact integer
    // arithmetic (decimal(38,0) here, HUGEINT in the oracle), and only
    // the final slope division is floating — bit-identical across
    // engines and shuffle orders, the E79 exact-decimal trick adapted
    // to logs.
    // E219: vocabulary coverage curve — for each candidate vocab size
    // V, the fraction of corpus TOKEN INSTANCES covered by the top-V
    // terms (rank by frequency desc, term asc — the Zipf tie rule):
    // the sizing study run before committing a tokenizer/embedding
    // vocabulary, and the quantitative face of Zipf's law E170 fits
    // qualitatively. Scale shape: one corpus aggregation down to the
    // vocabulary, then a vocabulary-sized ranking window and a
    // 3-row broadcast join — corpus rows never meet the window.
    "docs_vocab_coverage" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val rk = tf.withColumn("r",
        row_number().over(Window.orderBy(col("f").desc, col("w"))))
      val tot = tf.agg(sum(col("f")).as("total_tokens"))
      import s.implicits._
      VocabSizes.toDF("v")
        .join(rk, col("r") <= col("v"))
        .groupBy("v")
        .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("v"), col("n_terms"), col("covered_tokens"),
          col("total_tokens"),
          round(col("covered_tokens").cast("double") /
            col("total_tokens").cast("double"), 6).as("coverage"))
    }),

    // E271: Heaps-law vocabulary growth — cumulative total vs DISTINCT
    // tokens at doc-count checkpoints (N/8, N/4, N/2, N in doc_id
    // order), the corpus-diversity audit read before scaling a crawl:
    // a flattening curve means new data is re-treading old vocabulary.
    // Single pass: each token carries its FIRST-occurrence rank, so
    // every checkpoint is a filter over the vocab-sized table, never a
    // re-scan; global ranks via the E101 operator (no one-partition
    // window). Counts are integer-exact; ttr is one exact division.
    "docs_heaps_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val n = docs.count()
      val cps = Seq(n / 8, n / 4, n / 2, n).distinct.filter(_ >= 1)
      import s.implicits._
      val cp = cps.toDF("cpn")
      val ranked = graft.operators.GlobalIndex.globalRowNumbers(docs,
          "doc_id", s.sparkContext.defaultParallelism)
        .localCheckpoint(false) // consumed by totals AND first-ranks
      val tot = ranked
        .select(col("row_num"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .join(broadcast(cp), col("row_num") <= col("cpn"))
        .groupBy("cpn").agg(sum(col("ntok")).as("total_tokens"))
      val dis = ranked
        .select(col("row_num"), explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(min(col("row_num")).as("frn"))
        .join(broadcast(cp), col("frn") <= col("cpn"))
        .groupBy("cpn").agg(count(lit(1)).as("distinct_tokens"))
      tot.join(dis, "cpn")
        .select(col("cpn").as("checkpoint_docs"), col("total_tokens"),
          col("distinct_tokens"),
          round(col("distinct_tokens").cast("double") /
            col("total_tokens").cast("double"), 6).as("ttr"))
    }),

    // E276: the 100 TB tier of the Heaps curve — at scale the exact
    // vocabulary no longer fits a groupBy, so distinct tokens per
    // checkpoint come from the HLL sketch (E28's estimator over token
    // hashes, duplicates welcome), with the E66 machine-checked-claim
    // discipline: the gate row emits the EXACT count (replayable) and
    // a within-tolerance verdict the oracle pins to true — if the
    // estimator drifts out of its band, the hash match breaks loudly.
    "docs_heaps_hll" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val n = docs.count()
      val cps = Seq(n / 8, n / 4, n / 2, n).distinct.filter(_ >= 1)
      import s.implicits._
      val cp = cps.toDF("cpn")
      val toks = graft.operators.GlobalIndex.globalRowNumbers(docs,
          "doc_id", s.sparkContext.defaultParallelism)
        .select(col("row_num"), explode(split(col("text"), " ")).as("w"))
        .localCheckpoint(false) // consumed by the exact AND sketch tiers
      val dis = toks.groupBy("w").agg(min(col("row_num")).as("frn"))
        .join(broadcast(cp), col("frn") <= col("cpn"))
        .groupBy("cpn").agg(count(lit(1)).as("exact_distinct"))
      val est = toks.join(broadcast(cp), col("row_num") <= col("cpn"))
        .groupBy("cpn")
        .agg(graft.ext.Sketches.hllDistinct(xxhash64(col("w"))).as("est"))
      dis.join(est, "cpn")
        .select(col("cpn").as("checkpoint_docs"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) /
            col("exact_distinct") < 0.05).as("within_tol"))
    }),

    "docs_zipf_slope" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      // vocabulary-sized global ranking window: |vocab| rows, never
      // corpus rows
      val rw = Window.orderBy(col("f").desc, col("w"))
      val xy = tf
        .withColumn("r", row_number().over(rw))
        .select(
          round(log(col("r").cast("double")) * lit(1000000.0))
            .cast("long").as("x"),
          round(log(col("f").cast("double")) * lit(1000000.0))
            .cast("long").as("y"))
      val st = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      st.select(col("n").as("n_terms"),
        round(
          (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))).cast("double") /
            (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))).cast("double"),
          6).as("slope"))
    }),

    // E175: Gopher-style composite rule gate (Rae et al. 2021 §A1.1
    // scaled to the fixture's 10–99-token documents): token-count
    // bracket, mean-word-length bracket, a minimum stopword presence,
    // and a minimum alphabetic-token fraction, each reported per rule
    // so a curation run can audit WHICH gate rejects what. Every
    // comparison is integer-exact (the mean-word-length bracket
    // 4 ≤ chars/n ≤ 5 is tested as 4n ≤ chars ≤ 5n, the 80% alpha
    // floor as 5·n_alpha ≥ 4·n) — no float thresholds, so the verdict
    // is bit-identical across engines. One narrow codegen projection,
    // no shuffle: the deploy shape of every rule-based filter at 100 TB.
    "docs_gopher_gate" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val n = size(ws)
      val chars = aggregate(ws, lit(0), (a, t) => a + length(t))
      val nStop = size(filter(ws, t => t.isInCollection(TextOps.Stopwords)))
      val nAlpha = size(filter(ws, t => t.rlike("[A-Za-z]")))
      Tables.documents(s, dir)
        .select(col("doc_id"), n.as("n_tokens"),
          (n >= GopherMinTokens && n <= GopherMaxTokens).as("ok_len"),
          (chars >= n * 4 && chars <= n * 5).as("ok_word_len"),
          (nStop >= 1).as("ok_stopword"),
          (nAlpha * 5 >= n * 4).as("ok_alpha"))
        .withColumn("keep",
          col("ok_len") && col("ok_word_len") &&
            col("ok_stopword") && col("ok_alpha"))
    }),

    // E302: gate-agreement audit — Cohen's κ between the rule-based
    // Gopher gate (E175) and the TRAINED logistic gate (E201/E208) on
    // the held-out val split: the redundancy readout that says
    // whether the two quality signals measure the same thing (κ ≈ 1:
    // one is dispensable; κ ≈ 0: they gate different failure modes
    // and both belong in the pipeline). The logistic verdict is
    // z ≥ 0 — sigmoid is monotone, so the threshold compares the raw
    // linear score and no exp() crosses engines. Contingency cells
    // are exact integers; po/pe/κ are three divisions at the end
    // (pe's numerator stays integer: (a+b)(a+c) + (c+d)(b+d) over n²).
    "docs_gate_agreement" -> ((s, dir) => {
      val sf = lrSplitFeatures(s, dir)
      val (st, w) = lrFitShared(s, dir)
      val z = lit(w.bias) + lit(w.w1) * col("x1") + lit(w.w2) * col("x2") +
        lit(w.w3) * col("x3") + lit(w.w4) * col("x4")
      val lr = LogReg.standardized(sf.filter(col("split") === "val"), st)
        .select(col("doc_id"), (z >= 0.0).as("l_keep"))
      val ws = TextOps.tokens(col("text"))
      val n = size(ws)
      val chars = aggregate(ws, lit(0), (a, t) => a + length(t))
      val nStop = size(filter(ws, t => t.isInCollection(TextOps.Stopwords)))
      val nAlpha = size(filter(ws, t => t.rlike("[A-Za-z]")))
      val gKeep = (n >= GopherMinTokens && n <= GopherMaxTokens) &&
        (chars >= n * 4 && chars <= n * 5) && (nStop >= 1) &&
        (nAlpha * 5 >= n * 4)
      val gk = Tables.documents(s, dir)
        .select(col("doc_id"), gKeep.as("g_keep"))
      val ct = lr.join(gk, Seq("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("g_keep") && col("l_keep"), 1L).otherwise(0L)).as("a"),
          sum(when(col("g_keep") && !col("l_keep"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("g_keep") && col("l_keep"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("g_keep") && !col("l_keep"), 1L).otherwise(0L)).as("d"))
      val peNum = (col("a") + col("b")) * (col("a") + col("c")) +
        (col("c") + col("d")) * (col("b") + col("d"))
      val po = (col("a") + col("d")).cast("double") / col("n").cast("double")
      val pe = peNum.cast("double") / (col("n") * col("n")).cast("double")
      ct.select(col("n"), col("a").as("n_both_keep"),
        col("b").as("n_gopher_only"), col("c").as("n_lr_only"),
        col("d").as("n_both_drop"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        when(col("n") * col("n") === peNum, lit(0.0))
          .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
    }))

  // Gopher-gate brackets, sized to the fixture length distribution
  // (10–99 tokens, median 56) so each rule actually discriminates.
  private val GopherMinTokens = 20
  private val GopherMaxTokens = 90

  private val DupGramN = 3 // within-doc repetition gram width

  // Bigram LM interpolation weight (λ·bigram + (1−λ)·smoothed unigram).
  // Written as two literals so both engines add the SAME doubles.
  private val BigramLambda = 0.7

  /** Absolute discount for the Kneser-Ney estimator (E237) — the
    * Chen & Goodman fixed-D variant; every observed bigram has
    * cb ≥ 1 > D, so the discounted term stays positive.
    */
  private val KnDiscount = 0.75
  private val BigramOneMinus = 0.3
  // Logistic-gate weights: fixed "published model" coefficients.
  /** Batched BPE (E209): 4 rounds × top-4 disjoint prefix learns up to
    * 16 merges in 4 driver syncs — enough fixture rounds to exercise a
    * realized conflict cut AND multi-rule rebuilds, small enough that
    * the unrolled oracle stays readable.
    */
  val BpeBatchRounds = 4
  val BpeBatch = 4

  /** Candidate vocabulary sizes for the E219 coverage curve —
    * power-of-4 spread brackets the fixture vocabulary so the curve
    * shows real saturation, not three identical points.
    */
  val VocabSizes: Seq[Int] = Seq(256, 1024, 4096)

  private val LrBias = -1.5
  private val LrWTtr = 0.8
  private val LrWStop = 1.2
  private val LrWLen = 0.05
  private val LrWNtok = 0.002

  /** The E165 interpolated-bigram-LM per-doc scores — shared by
    * docs_bigram_lm and the E189 perplexity buckets (one definition,
    * no drift). bg feeds BOTH the count training and the scoring
    * join; uni feeds the w1/w2 probability joins AND the model-size
    * total — lazy localCheckpoint each once so neither multi-consumer
    * branch re-derives its scan (the TF-IDF double-eval lesson; uni
    * is vocabulary-sized, bg is the one corpus-sized pass).
    */
  private def bigramLmScores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bg = docs
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"),
        get(col("ws"), col("i") - 1).as("w"),
        get(col("ws"), col("i")).as("w2"))
      .localCheckpoint(false)
    val uni = docs
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .localCheckpoint(false)
    val tot = uni.agg(sum(col("cu")).as("t"), count(lit(1)).as("v"))
    val bgc = bg.groupBy("w", "w2").agg(count(lit(1)).as("cb"))
    val p =
      lit(BigramLambda) * (col("cb").cast("double") / col("cu1").cast("double")) +
        lit(BigramOneMinus) *
          ((col("cu2") + lit(1L)).cast("double") / (col("t") + col("v")).cast("double"))
    bg.join(bgc, Seq("w", "w2"))
      .join(uni.select(col("w"), col("cu").as("cu1")), Seq("w"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(tot)) // 1-row model-size attach
      .select(col("doc_id"), log(p).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), 6).as("avg_logprob"))
  }

  /** The E166 logistic score as a Column — shared by the gate
    * (docs_quality_logreg) and its calibration audit (E184) so the two
    * can never drift.
    */
  private def logregScore: org.apache.spark.sql.Column = {
    val (ttr, swr, mlen, ntok) = lrFeatureCols
    val z = lit(LrBias) +
      lit(LrWTtr) * ttr +
      lit(LrWStop) * swr +
      lit(LrWLen) * mlen +
      lit(LrWNtok) * ntok
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** The four raw E166 features (ttr, stopword ratio, mean token
    * length, token count) — shared between the fixed-weight gate and
    * the in-engine fit (E201) so the two can never drift.
    */
  private def lrFeatureCols = {
    val toks = TextOps.tokens(col("text"))
    val ntok = size(toks).cast("double")
    (size(array_distinct(toks)).cast("double") / ntok,
      TextOps.stopwordRatio(toks),
      TextOps.meanTokenLen(toks),
      ntok)
  }

  /** Raw feature frame for the in-engine fit: (doc_id, y, x1..x4) with
    * the lang = 'en' proxy label as 0.0/1.0. `when/otherwise` rather
    * than a bare boolean cast: a NULL lang must map to y = 0.0 like
    * the oracle's CASE — the cast form would propagate NULL, silently
    * dropping those rows from `sum(resid)` while `count(*)` still
    * counts them (ADVICE r09; latent on this fixture, wrong on any
    * corpus with missing lang).
    */
  private def lrFeatureFrame(docs: DataFrame): DataFrame = {
    val (ttr, swr, mlen, ntok) = lrFeatureCols
    docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      ttr.as("x1"), swr.as("x2"), mlen.as("x3"), ntok.as("x4"))
  }

  /** Feature frame joined with the E205 leakage-safe split label —
    * (doc_id, y, x1..x4, split), materialized ONCE PER FIXTURE STATE
    * (r16, the VERDICT r13 #5 artifact discipline): the LSH +
    * connected-components split pass is the expensive stage, and FOUR
    * registered rows (E201 fit, E208 val loss, E202 fit calibration,
    * E302 gate agreement) consumed it per-invocation — each paying the
    * full MinHash-banding + iterative-CC pipeline again for an
    * identical frame. `Materialize.once` writes the joined frame to
    * parquet (longs/doubles/strings round-trip bit-exactly), so every
    * consumer's timed pass reads a small columnar table and measures
    * ITS OWN stage (the fit, the holdout loss, the κ audit) instead of
    * re-deriving shared plumbing. The production analogue is exact:
    * a split-assignment table is computed once per corpus snapshot and
    * every training/eval job joins against it.
    */
  private def lrSplitFeatures(s: SparkSession, dir: String): DataFrame = {
    val p = Materialize.once("lr_split_features", dir) { out =>
      lrFeatureFrame(Tables.documents(s, dir))
        .join(CurationQueries.leakageSafeSplit(s, dir)
          .select("doc_id", "split"), Seq("doc_id"))
        .write.parquet(s"$out/feats.parquet")
    }
    s.read.parquet(s"$p/feats.parquet")
  }

  /** The E201 fit artifact — TRAIN-split standardization stats + the
    * final descent-step weights, fitted once per fixture state and
    * persisted as a 1-row parquet (all values are engine-side
    * 6-rounded doubles, so the round trip is bit-exact). Three
    * serving-side rows (E208/E202/E302) previously re-ran the
    * identical 9-round gradient fit per invocation; they now read the
    * model the way a deployed gate does — fit once, serve everywhere —
    * while `docs_quality_logreg_fit` (the row whose OPERATOR is the
    * fit) keeps running the live descent trajectory.
    */
  private def lrFitShared(s: SparkSession, dir: String)
      : (LogReg.FeatStats, LogReg.FitStep) = {
    val p = Materialize.once("lr_fit", dir) { out =>
      val train = lrSplitFeatures(s, dir).filter(col("split") === "train")
      val st = LogReg.featStats(train)
      val w = LogReg.fit(LogReg.standardized(train, st).localCheckpoint()).last
      import s.implicits._
      Seq((st.m(0), st.m(1), st.m(2), st.m(3),
        st.s(0), st.s(1), st.s(2), st.s(3),
        w.step, w.bias, w.w1, w.w2, w.w3, w.w4, w.logLoss))
        .toDF("m1", "m2", "m3", "m4", "s1", "s2", "s3", "s4",
          "step", "bias", "w1", "w2", "w3", "w4", "log_loss")
        .write.parquet(s"$out/fit.parquet")
    }
    val r = s.read.parquet(s"$p/fit.parquet").head()
    def d(n: String): Double = r.getDouble(r.fieldIndex(n))
    (LogReg.FeatStats(
      Array(d("m1"), d("m2"), d("m3"), d("m4")),
      Array(d("s1"), d("s2"), d("s3"), d("s4"))),
      LogReg.FitStep(r.getInt(r.fieldIndex("step")), d("bias"),
        d("w1"), d("w2"), d("w3"), d("w4"), d("log_loss")))
  }

  // -------------------------------------------------------------------
  // DuckDB oracles
  // -------------------------------------------------------------------

  private def inList(words: Seq[String]): String =
    words.map(w => s"'${w.replace("'", "''")}'").mkString("(", ", ", ")")

  private val stopIn = inList(TextOps.Stopwords)

  private val docsCte =
    "WITH d AS (SELECT doc_id, text, lang, string_split(text, ' ') AS ws FROM documents)"

  /** langId as a CASE over marker-hit scores (mirrors TextOps.langId:
    * greatest, first-declared language wins ties). `greatest` is
    * inlined into every WHEN — verbose, but avoids correlated-subquery
    * semantics differences.
    */
  private val langIdSql: String = {
    val scores = TextOps.LangMarkers.map { case (lang, m) =>
      lang -> s"len(list_filter(ws, t -> t IN ${inList(m)}))"
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores
      .map { case (lang, s) => s"WHEN $s = $best THEN '$lang'" }
      .mkString(" ")
    s"(CASE $cases END)"
  }

  val oracles: Map[String, String] = Map(
    "docs_quality_topfrac" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |           FROM documents),
         |q AS (SELECT doc_id, source,
         |             round(least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) *
         |                   (1.0 - abs((CASE WHEN len(ws) > 0
         |                     THEN CAST(len(list_filter(ws, t -> t IN $stopIn))
         |                            AS DOUBLE) / CAST(len(ws) AS DOUBLE)
         |                     ELSE 0.0 END) - 0.1)), 6) AS quality
         |      FROM d),
         |r AS (SELECT source, quality,
         |             percent_rank() OVER (PARTITION BY source
         |                                  ORDER BY quality, doc_id) AS pr
         |      FROM q)
         |SELECT source, count(*) AS n_kept,
         |       min(quality) AS min_quality, max(quality) AS max_quality
         |FROM r WHERE pr >= 0.7 GROUP BY source""".stripMargin,

    "docs_text_stats" ->
      s"""$docsCte
         |SELECT doc_id,
         |       CAST(len(ws) AS INTEGER) AS n_tokens,
         |       CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct,
         |       CASE WHEN len(ws) > 0
         |            THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |                   / CAST(len(ws) AS DOUBLE)
         |            ELSE 0.0 END AS mean_token_len,
         |       CASE WHEN len(ws) > 0
         |            THEN CAST(len(list_filter(ws, t -> t IN $stopIn)) AS DOUBLE)
         |                   / CAST(len(ws) AS DOUBLE)
         |            ELSE 0.0 END AS stopword_ratio,
         |       round(least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) *
         |             (1.0 - abs((CASE WHEN len(ws) > 0
         |                   THEN CAST(len(list_filter(ws, t -> t IN $stopIn)) AS DOUBLE)
         |                        / CAST(len(ws) AS DOUBLE)
         |                   ELSE 0.0 END) - 0.1)), 6) AS quality
         |FROM d""".stripMargin,

    "docs_langid" ->
      s"""$docsCte
         |SELECT doc_id, $langIdSql AS pred_lang,
         |       ($langIdSql = lang) AS is_correct
         |FROM d""".stripMargin,

    "docs_fingerprint" ->
      """SELECT doc_id,
        |       substr(md5(trim(regexp_replace(lower(text),
        |         '[^a-z0-9]+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents""".stripMargin,

    "docs_term_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token""".stripMargin,

    "docs_entropy" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(sum(cnt) AS DOUBLE) AS n,
        |             sum(cnt * ln(cnt)) AS s
        |      FROM c GROUP BY 1)
        |SELECT doc_id, round(ln(n) - s / n, 6) AS entropy FROM t""".stripMargin,

    "docs_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |v AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |t AS (SELECT sum(c) AS total FROM v),
        |s AS (SELECT tok.doc_id,
        |             ln(CAST((SELECT total FROM t) AS DOUBLE))
        |               - ln(CAST(v.c AS DOUBLE)) AS nlp
        |      FROM tok JOIN v USING (w))
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(nlp), 6) AS avg_neg_logprob
        |FROM s GROUP BY doc_id""".stripMargin,

    "docs_token_bpe" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text,
         |         '${TextOps.BpeTokenPattern}')) AS INTEGER) AS n_bpe
         |FROM documents""".stripMargin,

    // composed from the same fragments as docs_text_stats (quality) and
    // docs_dedup_near (shingles + Jaccard pairs) so the gates cannot
    // drift from their standalone oracles
    "docs_curation_pipeline" ->
      s"""${DedupQueries.wordShCte},
         |pairs AS (${DedupQueries.jaccardPairsSelect}),
         |scored AS (
         |  SELECT doc_id, lang, ws,
         |         CAST(len(ws) AS INTEGER) AS n_tokens,
         |         round(least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) *
         |               (1.0 - abs((CASE WHEN len(ws) > 0
         |                     THEN CAST(len(list_filter(ws, t -> t IN $stopIn)) AS DOUBLE)
         |                          / CAST(len(ws) AS DOUBLE)
         |                     ELSE 0.0 END) - 0.1)), 6) AS quality
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents))
         |SELECT doc_id, n_tokens, quality FROM scored
         |WHERE lang = 'en' AND n_tokens >= 20 AND quality >= 0.3
         |  AND doc_id NOT IN (SELECT DISTINCT id_b FROM pairs)""".stripMargin,

    "events_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS avg_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "events_props_map" ->
      """SELECT event_id,
        |       array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |       CAST(len(json_keys(props)) AS BIGINT) AS n_keys
        |FROM events""".stripMargin,

    "events_props_variant" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS min_k,
        |       count(*) AS n_missing_null
        |FROM events GROUP BY event_type""".stripMargin,

    // Mirrors docs_bigram_lm expression for expression: same cast
    // points, same literal order (0.7/0.3 written separately, never
    // 1 − λ at query time), ln applied to the identical double.
    // E238: planting + the identical translate/lower/collapse chain;
    // the fold map is embedded from the SAME TextOps constants the
    // Spark side reads, so the two can never drift.
    "docs_normalize" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      s"""WITH m AS (SELECT doc_id, text,
         |  CASE WHEN doc_id % 4 = 1 THEN upper(text) || ' CAFÉ naïve façade “quoted” it’s – dash — done' || chr(160) || 'end'
         |  ELSE text END AS messy
         |  FROM documents),
         |n AS (SELECT doc_id, text,
         |  trim(regexp_replace(lower(translate(messy,
         |    ${lit(graft.ext.TextOps.FoldFrom)},
         |    ${lit(graft.ext.TextOps.FoldTo)})), '\\s+', ' ', 'g')) AS normalized
         |  FROM m)
         |SELECT doc_id, normalized, normalized <> text AS changed
         |FROM n""".stripMargin
    },

    "docs_bigram_lm" ->
      s"""WITH $bigramLmCtes
         |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
         |FROM sc GROUP BY doc_id""".stripMargin,

    // E237: the KN estimator term for term — discounted bigram
    // estimate + history backoff weight × continuation probability,
    // all integer counts off the one bigram-type table.
    "docs_bigram_kn" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, i AS pos, ws[CAST(i AS INTEGER)] AS w
        |      FROM d, unnest(generate_series(1, len(ws))) AS u(i)),
        |bgx AS (SELECT doc_id, w, lead(w) OVER
        |          (PARTITION BY doc_id ORDER BY pos) AS w2
        |        FROM t),
        |b AS (SELECT doc_id, w, w2 FROM bgx WHERE w2 IS NOT NULL),
        |bgc AS MATERIALIZED (SELECT w, w2, count(*) AS cb FROM b GROUP BY w, w2),
        |hist AS (SELECT w, sum(cb) AS c1, count(*) AS n1f FROM bgc GROUP BY w),
        |cont AS (SELECT w2, count(*) AS n1b FROM bgc GROUP BY w2),
        |bt AS (SELECT count(*) AS bt FROM bgc),
        |sc AS (SELECT b.doc_id,
        |         ln(greatest(CAST(bgc.cb AS DOUBLE) - CAST(0.75 AS DOUBLE),
        |                     CAST(0.0 AS DOUBLE)) / CAST(hist.c1 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(hist.n1f AS DOUBLE)
        |                / CAST(hist.c1 AS DOUBLE)
        |                * (CAST(cont.n1b AS DOUBLE) / CAST(bt.bt AS DOUBLE)))
        |           AS lp
        |       FROM b JOIN bgc USING (w, w2)
        |            JOIN hist ON hist.w = b.w
        |            JOIN cont ON cont.w2 = b.w2
        |            CROSS JOIN bt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(lp), 6) AS avg_logprob
        |FROM sc GROUP BY doc_id""".stripMargin,

    "docs_ppl_buckets" ->
      s"""WITH $bigramLmCtes,
         |s AS (SELECT doc_id, round(avg(lp), 6) AS avg_logprob
         |      FROM sc GROUP BY doc_id),
         |r AS (SELECT doc_id, avg_logprob,
         |             row_number() OVER (ORDER BY avg_logprob DESC, doc_id)
         |               AS rn,
         |             count(*) OVER () AS nn
         |      FROM s)
         |SELECT doc_id, avg_logprob,
         |       CAST(floor((rn - 1) * 3.0 / nn) AS BIGINT) AS bucket_id,
         |       CASE CAST(floor((rn - 1) * 3.0 / nn) AS BIGINT)
         |            WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM r""".stripMargin,

    // Mirrors docs_quality_logreg: the feature fragments are the SAME
    // SQL as docs_text_stats' columns (so the features cannot drift
    // from their standalone oracle), the weight chain is added in
    // declaration order, and `keep` compares the ROUNDED score.
    "docs_quality_logreg" ->
      s"""$docsCte
         |SELECT doc_id,
         |       $logregScoreSql AS score,
         |       $logregScoreSql >= 0.5 AS keep
         |FROM d""".stripMargin,

    "docs_logreg_calibration" ->
      s"""$docsCte,
         |sc AS (SELECT doc_id, $logregScoreSql AS score,
         |              (lang = 'en') AS label
         |       FROM d),
         |r AS (SELECT doc_id, score, label,
         |             row_number() OVER (ORDER BY score, doc_id) AS rn,
         |             count(*) OVER () AS nn
         |      FROM sc)
         |SELECT CAST(floor((rn - 1) * 10.0 / nn) AS BIGINT) AS bin,
         |       count(*) AS n,
         |       round(avg(score), 6) AS mean_score,
         |       round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS pos_frac
         |FROM r GROUP BY 1""".stripMargin,

    // Generated unrolled replay of the same standardize + descend
    // steps (see LogReg.oracleChain) over the leakage-safe TRAIN
    // slice — every round point identical.
    "docs_quality_logreg_fit" ->
      s"""$lrFitChain
         |SELECT step, bias, w_ttr, w_stop, w_len, w_ntok, log_loss
         |FROM fitsteps""".stripMargin,

    // Same chain; final weights wt{Steps} evaluated on the train and
    // held-out val slices with the identical loss formula/round point.
    "docs_logreg_val_loss" ->
      s"""$lrFitChain
         |${LogReg.lossAtSql("train", "xs", s"wt${LogReg.Steps}")}
         |UNION ALL
         |${LogReg.lossAtSql("val", "xv", s"wt${LogReg.Steps}")}""".stripMargin,

    // Same chain; scores from the final weight table wt{Steps} over
    // the VAL slice only, then the E184 decile shape.
    "docs_logreg_fit_calibration" ->
      s"""$lrFitChain,
         |scored AS (
         |  SELECT doc_id,
         |         round(1.0 / (1.0 + exp(-(b + w_x1 * x1 + w_x2 * x2
         |                                  + w_x3 * x3 + w_x4 * x4))), 6)
         |           AS score,
         |         y
         |  FROM xv, wt${LogReg.Steps}),
         |r AS (SELECT score, y,
         |             row_number() OVER (ORDER BY score, doc_id) AS rn,
         |             count(*) OVER () AS nn
         |      FROM scored)
         |SELECT CAST(floor((rn - 1) * 10.0 / nn) AS BIGINT) AS bin,
         |       count(*) AS n,
         |       round(avg(score), 6) AS mean_score,
         |       round(sum(y) / count(*), 6) AS pos_frac
         |FROM r GROUP BY 1""".stripMargin,

    "docs_tokenizer_fertility" ->
      s"""WITH t AS (SELECT lang, len(text) AS nc,
         |                  len(string_split(text, ' ')) AS nw,
         |                  len(regexp_extract_all(text,
         |                    '${TextOps.BpeTokenPattern}')) AS nb
         |           FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(nw) AS BIGINT) AS n_words,
         |       CAST(sum(nb) AS BIGINT) AS n_bpe,
         |       round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE), 6)
         |         AS chars_per_token,
         |       round(CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 6)
         |         AS fertility
         |FROM t GROUP BY lang""".stripMargin,

    // Generated unrolled replay of the same Bpe.Rounds training rounds
    // (see Bpe.oracleChain's Scaladoc for the per-round CTE anatomy) —
    // argmax tie-breaks and leftmost-greedy overlap resolution
    // included, so the merge table is value-checked, not shape-checked.
    "docs_bpe_merges" ->
      s"""${Bpe.oracleChain()}
         |SELECT merge_rank, lhs, rhs, lhs || rhs AS merged,
         |       cnt AS pair_count
         |FROM merges""".stripMargin,

    "docs_bpe_merges_batched" ->
      s"""${Bpe.oracleChainBatched(BpeBatchRounds, BpeBatch)}
         |SELECT merge_rank, lhs, rhs, lhs || rhs AS merged,
         |       cnt AS pair_count
         |FROM merges""".stripMargin,

    // Same chain; the final vocabulary w{Rounds} gives each word's
    // learned segmentation length, joined back onto the corpus'
    // pre-token stream and rolled up per language exactly like the
    // fixed-regex fertility oracle above.
    "docs_bpe_tokenize" ->
      s"""${Bpe.oracleChain()},
         |rep AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
         |        FROM w${Bpe.Rounds} GROUP BY word),
         |dt AS (SELECT doc_id, unnest(regexp_extract_all(text,
         |         '${TextOps.BpeTokenPattern}')) AS word
         |       FROM documents),
         |ds AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS nw,
         |              CAST(sum(rep.n_sub) AS BIGINT) AS nb
         |       FROM dt JOIN rep USING (word) GROUP BY dt.doc_id),
         |base AS (SELECT d.doc_id, d.lang, CAST(len(d.text) AS BIGINT) AS nc,
         |                coalesce(ds.nw, 0) AS nw, coalesce(ds.nb, 0) AS nb
         |         FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(nc) AS BIGINT) AS n_chars,
         |       CAST(sum(nw) AS BIGINT) AS n_words,
         |       CAST(sum(nb) AS BIGINT) AS n_bpe,
         |       round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE), 6)
         |         AS chars_per_token,
         |       round(CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 6)
         |         AS fertility
         |FROM base GROUP BY lang""".stripMargin,

    // Mirrors docs_dupgram_frac; the only float op is the final
    // division, and n_grams is CAST back to BIGINT (DuckDB widens
    // integer sums to HUGEINT — the events_running_totals lesson).
    "docs_dupgram_frac" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT doc_id, array_to_string(ws[u.i + 1 : u.i + $DupGramN], ' ') AS g
         |      FROM d, unnest(generate_series(0, len(ws) - $DupGramN)) AS u(i)),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |       round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(c) AS DOUBLE), 6) AS dup_frac
         |FROM c GROUP BY doc_id""".stripMargin,

    // E219: same frequency table, same (f DESC, w) rank, 3-value size
    // list; exact integer sums (BIGINT-cast off DuckDB's HUGEINT).
    "docs_vocab_coverage" -> {
      val vals = VocabSizes.map(v => s"(CAST($v AS INTEGER))").mkString(", ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |tf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
         |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf),
         |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens FROM tf),
         |vs(v) AS (VALUES $vals),
         |c AS (SELECT vs.v, count(*) AS n_terms,
         |             CAST(sum(rk.f) AS BIGINT) AS covered_tokens
         |      FROM vs JOIN rk ON rk.r <= vs.v GROUP BY vs.v)
         |SELECT c.v, c.n_terms, c.covered_tokens, tot.total_tokens,
         |       round(CAST(c.covered_tokens AS DOUBLE) / tot.total_tokens, 6)
         |         AS coverage
         |FROM c, tot""".stripMargin
    },

    // E276: exact distinct replayed, verdict pinned true (E66 pattern).
    "docs_heaps_hll" ->
      """WITH d AS (SELECT text, row_number() OVER (ORDER BY doc_id) AS rn
        |           FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |cp AS (SELECT DISTINCT cpn FROM (
        |         SELECT unnest([n // 8, n // 4, n // 2, n]) AS cpn
        |         FROM nn) u
        |       WHERE cpn >= 1),
        |tok AS (SELECT rn, unnest(string_split(text, ' ')) AS w FROM d),
        |fo AS (SELECT w, min(rn) AS frn FROM tok GROUP BY w)
        |SELECT CAST(cp.cpn AS BIGINT) AS checkpoint_docs,
        |       CAST(count(*) AS BIGINT) AS exact_distinct,
        |       true AS within_tol
        |FROM cp JOIN fo ON fo.frn <= cp.cpn
        |GROUP BY cp.cpn""".stripMargin,

    // E271: first-occurrence ranks make every checkpoint a filter over
    // the vocab table; counts exact, one final division.
    "docs_heaps_curve" ->
      """WITH d AS (SELECT text, row_number() OVER (ORDER BY doc_id) AS rn
        |           FROM documents),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |cp AS (SELECT DISTINCT cpn FROM (
        |         SELECT unnest([n // 8, n // 4, n // 2, n]) AS cpn
        |         FROM nn) u
        |       WHERE cpn >= 1),
        |dt AS (SELECT rn, CAST(len(string_split(text, ' ')) AS BIGINT)
        |                AS ntok FROM d),
        |tot AS (SELECT cp.cpn, CAST(sum(dt.ntok) AS BIGINT) AS total_tokens
        |        FROM cp JOIN dt ON dt.rn <= cp.cpn GROUP BY cp.cpn),
        |tok AS (SELECT rn, unnest(string_split(text, ' ')) AS w FROM d),
        |fo AS (SELECT w, min(rn) AS frn FROM tok GROUP BY w),
        |dis AS (SELECT cp.cpn, CAST(count(*) AS BIGINT) AS distinct_tokens
        |        FROM cp JOIN fo ON fo.frn <= cp.cpn GROUP BY cp.cpn)
        |SELECT CAST(tot.cpn AS BIGINT) AS checkpoint_docs, total_tokens,
        |       distinct_tokens,
        |       round(CAST(distinct_tokens AS DOUBLE) /
        |             CAST(total_tokens AS DOUBLE), 6) AS ttr
        |FROM tot JOIN dis ON dis.cpn = tot.cpn""".stripMargin,

    // Mirrors docs_zipf_slope: identical micro-nat fixed point (the
    // ln → ×1e6 → round → integer pipeline), exact HUGEINT sums, one
    // final double division.
    "docs_zipf_slope" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
        |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM tf),
        |xy AS (SELECT
        |         CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
        |       FROM rk),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
        |FROM s""".stripMargin,

    "docs_gopher_gate" ->
      s"""$docsCte
         |SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_tokens,
         |       (len(ws) BETWEEN $GopherMinTokens AND $GopherMaxTokens) AS ok_len,
         |       (list_sum(list_transform(ws, w -> len(w)))
         |          BETWEEN 4 * len(ws) AND 5 * len(ws)) AS ok_word_len,
         |       (len(list_filter(ws, t -> t IN $stopIn)) >= 1) AS ok_stopword,
         |       (5 * len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
         |          >= 4 * len(ws)) AS ok_alpha,
         |       ((len(ws) BETWEEN $GopherMinTokens AND $GopherMaxTokens)
         |        AND (list_sum(list_transform(ws, w -> len(w)))
         |               BETWEEN 4 * len(ws) AND 5 * len(ws))
         |        AND (len(list_filter(ws, t -> t IN $stopIn)) >= 1)
         |        AND (5 * len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
         |               >= 4 * len(ws))) AS keep
         |FROM d""".stripMargin,

    // E302: both gates replayed (rule brackets + the full fit chain's
    // final weights), contingency in exact integers, κ at the end.
    "docs_gate_agreement" ->
      s"""$lrFitChain,
         |gk AS (SELECT doc_id,
         |    ((len(ws) BETWEEN $GopherMinTokens AND $GopherMaxTokens)
         |     AND (list_sum(list_transform(ws, w -> len(w)))
         |            BETWEEN 4 * len(ws) AND 5 * len(ws))
         |     AND (len(list_filter(ws, t -> t IN $stopIn)) >= 1)
         |     AND (5 * len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
         |            >= 4 * len(ws))) AS g_keep
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents)),
         |lrk AS (SELECT xv.doc_id,
         |    ((b + w_x1 * x1 + w_x2 * x2 + w_x3 * x3 + w_x4 * x4) >= 0.0)
         |      AS l_keep
         |  FROM xv, wt${LogReg.Steps}),
         |j AS (SELECT gk.g_keep, lrk.l_keep FROM lrk
         |      JOIN gk ON gk.doc_id = lrk.doc_id),
         |ct AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) FILTER (g_keep AND l_keep) AS BIGINT) AS a,
         |    CAST(count(*) FILTER (g_keep AND NOT l_keep) AS BIGINT) AS b2,
         |    CAST(count(*) FILTER (NOT g_keep AND l_keep) AS BIGINT) AS c2,
         |    CAST(count(*) FILTER (NOT g_keep AND NOT l_keep) AS BIGINT) AS d2
         |  FROM j)
         |SELECT n, a AS n_both_keep, b2 AS n_gopher_only, c2 AS n_lr_only,
         |       d2 AS n_both_drop,
         |       round(CAST(a + d2 AS DOUBLE) / n, 6) AS po,
         |       round(CAST((a + b2) * (a + c2) + (c2 + d2) * (b2 + d2)
         |                  AS DOUBLE) / (n * n), 6) AS pe,
         |       CASE WHEN n * n = (a + b2) * (a + c2) + (c2 + d2) * (b2 + d2)
         |            THEN 0.0
         |            ELSE round((CAST(a + d2 AS DOUBLE) / n
         |                - CAST((a + b2) * (a + c2) + (c2 + d2) * (b2 + d2)
         |                       AS DOUBLE) / (n * n))
         |              / (1.0 - CAST((a + b2) * (a + c2) + (c2 + d2) * (b2 + d2)
         |                            AS DOUBLE) / (n * n)), 6)
         |       END AS kappa
         |FROM ct""".stripMargin)

  /** Stopword-ratio / mean-token-length fragments shared with the
    * docs_text_stats oracle shape (guarded CASE, same cast points).
    */
  private def stopRatioSql: String =
    s"""(CASE WHEN len(ws) > 0
       |      THEN CAST(len(list_filter(ws, t -> t IN $stopIn)) AS DOUBLE)
       |           / CAST(len(ws) AS DOUBLE)
       |      ELSE 0.0 END)""".stripMargin

  private def meanLenSql: String =
    """(CASE WHEN len(ws) > 0
      |      THEN CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
      |           / CAST(len(ws) AS DOUBLE)
      |      ELSE 0.0 END)""".stripMargin

  /** [[bigramLmScores]]'s CTE chain in DuckDB, up to the per-bigram
    * log-probabilities `sc(doc_id, lp)` — shared by the bigram-LM
    * oracle and the perplexity-bucket oracle.
    */
  private def bigramLmCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, i AS pos, ws[CAST(i AS INTEGER)] AS w
      |      FROM d, unnest(generate_series(1, len(ws))) AS u(i)),
      |bgx AS (SELECT doc_id, w, lead(w) OVER
      |          (PARTITION BY doc_id ORDER BY pos) AS w2
      |        FROM t),
      |b AS (SELECT doc_id, w, w2 FROM bgx WHERE w2 IS NOT NULL),
      |uni AS (SELECT w, count(*) AS cu FROM t GROUP BY w),
      |tot AS (SELECT sum(cu) AS t, count(*) AS v FROM uni),
      |bgc AS (SELECT w, w2, count(*) AS cb FROM b GROUP BY w, w2),
      |sc AS (SELECT b.doc_id,
      |         ln(CAST(0.7 AS DOUBLE)
      |              * (CAST(bgc.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
      |            + CAST(0.3 AS DOUBLE)
      |              * (CAST(u2.cu + 1 AS DOUBLE)
      |                 / CAST(tot.t + tot.v AS DOUBLE))) AS lp
      |       FROM b JOIN bgc USING (w, w2)
      |            JOIN uni u1 ON u1.w = b.w
      |            JOIN uni u2 ON u2.w = b.w2
      |            CROSS JOIN tot)""".stripMargin

  /** Raw-feature CTE (the Spark [[lrFeatureFrame]] in DuckDB) joined
    * with the E205 leakage-safe split ([[CurationQueries
    * .leakageSplitCtes]]), the TRAIN slice feeding the generated
    * standardize/descend chain from [[LogReg.oracleChain]], plus the
    * val slice standardized with the TRAIN stats (`fv`/`xv`) — shared
    * by the fit oracle, the held-out-loss oracle, and the
    * fitted-calibration oracle.
    */
  private def lrFitChain: String =
    s"""${CurationQueries.leakageSplitCtes},
       |fd AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
       |       FROM documents),
       |fall AS MATERIALIZED (
       |  SELECT fd.doc_id, ls.split,
       |         (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS y,
       |         (CAST(len(list_distinct(ws)) AS DOUBLE)
       |            / CAST(len(ws) AS DOUBLE)) AS x1,
       |         $stopRatioSql AS x2,
       |         $meanLenSql AS x3,
       |         CAST(len(ws) AS DOUBLE) AS x4
       |  FROM fd JOIN lsplit ls ON ls.doc_id = fd.doc_id),
       |f AS MATERIALIZED (SELECT doc_id, y, x1, x2, x3, x4 FROM fall
       |                   WHERE split = 'train')${LogReg.oracleChain()},
       |fv AS (SELECT doc_id, y, x1, x2, x3, x4 FROM fall
       |       WHERE split = 'val'),
       |xv AS MATERIALIZED (${LogReg.standardizeSql("fv")})""".stripMargin

  /** [[logregScore]] in DuckDB — one definition, used by the gate
    * oracle and the calibration oracle.
    */
  private def logregScoreSql: String =
    s"""round(1.0 / (1.0 + exp(-(
       |         CAST($LrBias AS DOUBLE)
       |         + CAST($LrWTtr AS DOUBLE) *
       |             (CAST(len(list_distinct(ws)) AS DOUBLE)
       |              / CAST(len(ws) AS DOUBLE))
       |         + CAST($LrWStop AS DOUBLE) * $stopRatioSql
       |         + CAST($LrWLen AS DOUBLE) * $meanLenSql
       |         + CAST($LrWNtok AS DOUBLE) * CAST(len(ws) AS DOUBLE)))), 6)"""
      .stripMargin
}
