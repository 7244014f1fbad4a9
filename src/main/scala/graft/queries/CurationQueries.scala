package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Clusters, Curation, Decontam, Dedup, TextOps}

/** Driver-contract queries + DuckDB oracles for corpus curation
  * (SURVEY.md §7.4): deterministic sampling, train/val/test splitting,
  * token-budget domain mixing, TF-IDF term scoring, and bigram
  * statistics. The sampling family replays bit-identically in DuckDB
  * because selection derives from md5 over the record key
  * ([[Curation.hashBucket]]), not from engine RNG.
  */
object CurationQueries {

  val SampleP = 0.25
  val TestP = 0.1
  val ValP = 0.1
  val WeightedK = 100
  val TfidfTopK = 3
  val MinBigramCount = 5
  val ChunkSize = 64
  val ChunkStride = 32
  val PackBudget = 1024L
  val DecontamMod = 11 // doc_id % 11 == 0 stands in for the eval set
  // E249 k-anonymity: quasi-identifier bundle = (lang, source,
  // n_chars-bucket); groups smaller than KanonK are re-identification
  // risks (Sweeney 2002) and get their source generalized to '*'.
  val KanonK = 5
  val KanonBucket = 200 // chars per size bucket

  // E246 topic clustering: hashed-TF feature dims / topic count / Lloyd
  // rounds. Dims stay small so the dense per-doc vector is a few
  // doubles and the k-means shuffle is (topics × dims) regardless of
  // corpus size.
  val TopicDims = 16
  val TopicK = 8
  val TopicIters = 2

  /** A line appearing in ≥ this many distinct documents is template
    * boilerplate (E236) — the planted entity line recurs in every
    * third doc and crosses it at every SF; titles/content are per-doc
    * unique and never do.
    */
  val LineBoilerDf = 3

  /** Power-of-two caps for docs_length_buckets (1..4096); anything
    * longer lands in the overflow cap. Pure-integer CASE chain in both
    * engines — `2^ceil(log2(n))` in doubles misbuckets exact powers.
    */
  val LengthBucketCaps: Seq[Long] = (0 to 12).map(1L << _)
  val LengthBucketOverflow: Long = 8192L

  /** docs_priority_dedup mirror synthesis: every Mod-th doc gets a
    * second copy re-attributed to top-priority 'src0' (the fixture has
    * no cross-source duplicates of its own), offset out of the real id
    * range.
    */
  val PriorityMirrorMod = 7
  val PriorityMirrorOffset = 100000L

  /** docs_repetition_budget: train on 4× the corpus' tokens, flag any
    * source forced past 4 epochs (the repeated-data falloff point).
    */
  val RepBudgetMult = 4L
  val RepMaxEpochs = 4L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E233: raw-web HTML extraction (VERDICT r11 #2) — the
    // CCNet/RefinedWeb front door: tag strip, link-density
    // boilerplate-line filter, entity decode. HTML is PLANTED
    // deterministically from doc columns for doc_id % 3 == 0 (the
    // E116/E194 precedent — the fixture has no markup of its own):
    // title line (kept), pure-navigation line (dropped: link density
    // 1), the real text in <p> (kept, recovered verbatim), an
    // entity-bearing line (kept, decoded), an anchor-heavy footer
    // (dropped), bare closing tags (dropped: empty visible text).
    // Unplanted docs pass through byte-identical — the operator runs
    // on every row, it cannot know which rows carry markup. One
    // narrow scan-side projection; the oracle replays split, both
    // regexes, the integer link-density rule, and the decode order in
    // DuckDB's RE2 (the patterns deliberately use the Java∩RE2
    // subset, and the hash match proves it).
    "docs_html_extract" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.ext.HtmlExtract.extract(plantedHtml).as("x"))
        .select(col("doc_id"), col("x.text_clean").as("text_clean"),
          col("x.n_kept").as("n_kept"), col("x.n_dropped").as("n_dropped"))),

    // E236: line-frequency boilerplate removal — the CCNet line-dedup
    // pass, CHAINED onto E233's extraction output (raw HTML → visible
    // lines → drop every line that repeats across ≥ LineBoilerDf
    // docs). This is the cross-document complement of E206's
    // within-corpus span excision: a line shared by many documents is
    // template chrome ("subscribe to our newsletter"), whatever its
    // link density. Here the planted entity line recurs in every
    // third doc → dropped corpus-wide; title and content lines are
    // per-doc unique → kept; clean docs pass through byte-identical.
    //
    // Boilerplate membership is a distributed left-anti join on the
    // line digest (AQE broadcasts the digest table when small and
    // shuffles it when web-scale), then per-doc re-assembly by
    // position sort: no driver-side state at any corpus size. On open
    // web text the repeated-line set is corpus-sized, so a tier that
    // collects it to the driver cannot ship (SCALING.md, "Round-13
    // line-boilerplate tier crossover").
    "docs_line_boilerplate" -> ((s, dir) => lineBoilerFrame(s, dir)),

    // E239: the composed web FRONT DOOR — raw (planted) HTML through
    // every round-12 tier in one call: E233 extraction → E236
    // line-frequency boilerplate drop → E238 unicode/typographic
    // normalization → token accounting + a minimum-length keep
    // verdict. This is the query a corpus team actually runs on a
    // crawl drop; each stage is the SAME shared definition its
    // standalone row registers (one definition, no drift — the
    // bigramLmScores pattern), so the composition is pure plumbing:
    // still one scan-side chain plus the line-frequency aggregation.
    "docs_web_pipeline" -> ((s, dir) => {
      val lb = lineBoilerFrame(s, dir)
      val norm = graft.ext.TextOps.foldText(col("text_clean"))
      lb.select(col("doc_id"),
        col("n_kept").as("n_lines_kept"),
        col("n_dropped").as("n_boiler_dropped"),
        norm.as("norm_text"),
        size(split(norm, " ")).cast("long").as("n_tokens"),
        (size(split(norm, " ")) >= WebMinTokens).as("keep"))
    }),

    // E224: matched-pair construction for ablation evals — every
    // treatment doc (source = src0) is paired with a distinct control
    // doc agreeing on (lang, 256-char length bucket), pairing by rank
    // order within the stratum (two per-stratum row_number windows —
    // strata are small by construction, the window never sees the
    // corpus globally); unmatched treatment docs drop (inner join) so
    // the pair set is balanced BY CONSTRUCTION. The matched-control
    // design removes the obvious confounders (language, length)
    // before attributing a metric delta to the treatment source —
    // the eval discipline behind "did adding source X help".
    "docs_matched_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("len_bucket", (col("n_chars") / 256).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("len_bucket")).orderBy(col("doc_id"))
      def ranked(p: org.apache.spark.sql.Column) = docs.filter(p)
        .withColumn("rn", row_number().over(w))
      val t = ranked(col("source") === MatchTreatmentSource)
        .select(col("doc_id").as("treat_id"), col("lang"),
          col("len_bucket"), col("rn"))
      val c = ranked(col("source") =!= MatchTreatmentSource)
        .select(col("doc_id").as("control_id"),
          col("lang").as("c_lang"), col("len_bucket").as("c_lb"),
          col("rn").as("c_rn"))
      t.join(c, col("lang") === col("c_lang") &&
          col("len_bucket") === col("c_lb") && col("rn") === col("c_rn"))
        .select(col("treat_id"), col("control_id"), col("lang"),
          col("len_bucket"))
    }),

    // Benchmark decontamination: distinct word-3-gram overlap of every
    // corpus document against the held-out eval subset (doc_id % 11).
    // The eval n-gram set broadcasts; only matched rows shuffle.
    "docs_decontam" -> ((s, dir) =>
      Decontam.hits(Tables.documents(s, dir), "doc_id", "text", 3,
        col("doc_id") % DecontamMod === 0)),

    // PII redaction as an oracle-checked row (upgrades E42 from
    // test-only): PII-shaped strings are PLANTED deterministically from
    // doc columns (the fixture corpus itself has none), then the
    // sequential regexp_replace passes run — all codegen, no UDF. The
    // oracle applies the IDENTICAL patterns (generated from the same
    // Curation.PiiPatterns list, so the two can never drift) with
    // DuckDB's RE2 engine: the patterns deliberately use only the
    // Java∩RE2 dialect subset, and a hash match here proves it.
    // E281: Luhn-validated card-number detection — the checksum tier
    // above the regex tier: a 16-digit run is only PII-classified when
    // the Luhn mod-10 check passes, killing the false positives a
    // bare [0-9]{16} rule floods a web corpus with. Planted numbers:
    // a deterministic 15-digit prefix per doc; even doc_ids get the
    // true check digit (valid), odd get check+5 mod 10 (provably
    // invalid). detected_correctly pins classifier == plant parity in
    // BOTH engines; LuhnSpec adds the textbook vectors
    // (4111111111111111, 79927398713) for independence from the
    // shared formula.
    "docs_pii_luhn" -> ((s, dir) => {
      val prefix = lpad(((col("doc_id") * 2654435761L) %
        1000000000000000L).cast("string"), 15, "0")
      val check = Curation.luhnCheckDigit(prefix)
      val digit = when(col("doc_id") % 2 === 0, check)
        .otherwise((check + 5) % 10)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(prefix, digit.cast("string")).as("card"))
        .withColumn("luhn_valid", Curation.luhnValid(col("card")))
        .withColumn("detected_correctly",
          col("luhn_valid") === (col("doc_id") % 2 === 0))
    }),

    "docs_pii_redact" -> ((s, dir) => {
      val planted = concat_ws(" ",
        substring(col("text"), 1, 40),
        lit("contact"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        lit("call"),
        concat(lit("+1 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")),
        lit("acct"),
        lpad((col("doc_id") * 37 % 100000000).cast("string"), 8, "0"))
      Tables.documents(s, dir)
        .select(col("doc_id"), Curation.redactPii(planted).as("redacted"))
    }),

    // k-anonymity audit (E249): group sizes over the quasi-identifier
    // bundle — the privacy-governance companion to the PII redaction
    // tier (redaction removes direct identifiers; k-anonymity measures
    // whether the REMAINING attributes still single documents out).
    // One partial-aggregatable pass; groups, not docs, come back.
    "docs_kanon_audit" -> ((s, dir) =>
      kanonAudit(Tables.documents(s, dir))),

    // E249: the suppression step — docs in at-risk QI groups get their
    // source generalized to '*' (one generalization round; the group
    // table is bounded by distinct QI combinations and broadcasts).
    // KNOWN-partial: merged groups can stay sub-k — the fixpoint row
    // below is the one carrying the actual guarantee.
    "docs_kanon_suppress" -> ((s, dir) =>
      kanonSuppress(Tables.documents(s, dir))),

    // E256: the generalization LADDER to fixpoint — source → '*', then
    // size_bucket → −1, then full-row suppression; every surviving
    // row's group is ≥ k by construction (VERDICT r12 #4).
    "docs_kanon_fixpoint" -> ((s, dir) =>
      kanonFixpoint(Tables.documents(s, dir))),

    // E257: the machine-checked guarantee (the E66 pattern): one row
    // whose k_satisfied column the gate hashes — the privacy claim as
    // a checked value, not a comment.
    "docs_kanon_verify" -> ((s, dir) =>
      kanonVerifyStats(Tables.documents(s, dir))),

    // Topic clustering WITHOUT embeddings (E246): k-means over hashed
    // term-frequency features (the hashing trick — md5 token buckets,
    // the same salt-bucket arithmetic as every sampling tier), doc_id-
    // seeded cells, 2 Lloyd rounds via the shared kmeansIterated loop.
    // The topic distribution a mixture scheduler balances on when no
    // encoder is available (the CCNet-style corpus map). Feature build
    // is one token explode + count agg; vectors are TopicDims-dense,
    // so the k-means pass shuffles (cells × dims) doubles only.
    "docs_topic_kmeans" -> ((s, dir) =>
      graft.ext.Similarity.kmeansIterated(
        hashedTfVecs(Tables.documents(s, dir)), TopicIters)),

    // Structural content tagger (E245) — the Dolma-tagger shape: code
    // and list lines are PLANTED deterministically onto a third of the
    // corpus (doc_id % 4 routes), then per-doc line-shape fractions
    // ride ONE regexp_count per signal (no line explode, pure codegen)
    // into a routing tag (code/list/prose) — the signal a mixture
    // scheduler routes on before token budgeting. Oracle replays the
    // identical Java∩RE2 patterns via regexp_extract_all.
    "docs_content_tags" -> ((s, dir) => {
      val planted = when(col("doc_id") % 4 === 0, concat_ws("\n",
          col("text"),
          lit("def f(x):"),
          lit("    return x * 2;"),
          concat(lit("    y = compute("),
            (col("doc_id") % 7).cast("string"), lit(");")),
          lit("}")))
        .when(col("doc_id") % 4 === 1, concat_ws("\n",
          col("text"),
          lit("- first item"),
          concat(lit("- item "), (col("doc_id") % 5).cast("string")),
          lit("* last item")))
        .otherwise(col("text"))
      TextOps.contentTags(
          Tables.documents(s, dir).select(col("doc_id"), planted.as("pl")),
          col("pl"))
        .select(col("doc_id"), col("n_lines"), col("code_frac"),
          col("bullet_frac"), col("tag"))
    }),

    // URL canonicalization (E116): deterministic messy URLs planted
    // from doc columns (uppercase host, default port, trailing slash,
    // utm params, fragment — the variation crawl frontiers actually
    // see), then canonicalized scheme://host/path?query — the collapse
    // step that must run before any content dedup, since two fetches
    // of one page otherwise survive as distinct rows. The oracle
    // replays the identical regex/array pipeline in DuckDB.
    "docs_url_canonical" -> ((s, dir) => {
      val url = plantedUrl
      val canon = Curation.canonicalUrl(url)
      Tables.documents(s, dir).select(
        col("doc_id"), url.as("url"), canon.as("canonical"),
        Curation.urlDomain(canon).as("domain"))
    }),

    // E261: Dolma-style DOMAIN blocklist over the canonical-URL tier
    // (VERDICT r12 #7) — the most common web-curation gate after
    // dedup: canonicalize, extract the registered domain, verdict
    // against the banned-domain set. The list folds into the plan as
    // an InSet probe, the same shape as docs_blocklist.
    "docs_domain_blocklist" -> ((s, dir) =>
      domainFrame(s, dir).select(col("doc_id"), col("domain"),
        col("domain").isInCollection(BlockDomains).as("blocked"))),

    // Deterministic Bernoulli(0.25) sample — same rows on every run,
    // every engine, every partitioning.
    "docs_sample_hash" -> ((s, dir) =>
      Curation.sampleBernoulli(
        Tables.documents(s, dir), col("doc_id"), SampleP, "s1:")
        .select("doc_id", "lang", "source")),

    // Stable train/val/test assignment (10/10/80) — keys never migrate
    // between splits across runs or corpus versions.
    "docs_split_assign" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        Curation.assignSplit(col("doc_id"), TestP, ValP, "split:").as("split"))),

    // E205: leakage-safe split — the per-doc split above leaks: a
    // near-duplicate pair can straddle train/val, and the val member
    // then scores as memorized generalization. Assigning by duplicate
    // CLUSTER (near-dup pairs → connected components; the split hash
    // keys on the component label) makes straddling impossible BY
    // CONSTRUCTION: both members of any pair share a label, so they
    // share a split. Singletons label themselves with their own
    // doc_id under the SAME salt as docs_split_assign, so the
    // non-duplicated bulk of the corpus never migrates when a pipeline
    // upgrades from the per-doc tier. Scale shape: the split itself
    // adds ONE id-keyed left join (cluster labels) to the E37
    // projection — the expensive part is the near-dup pass the
    // pipeline already runs for dedup, reused here, not recomputed
    // semantics.
    "docs_split_leakage_safe" -> ((s, dir) =>
      leakageSafeSplit(s, dir)),

    // E205 audit: the measured leak of each split policy — per method,
    // how many verified near-dup pairs straddle a split boundary. The
    // by_cluster row must read zero (the constructive guarantee,
    // machine-checked); the by_doc row must NOT (the audit is vacuous
    // on a corpus where the naive policy happens to be safe —
    // LeakageSplitSpec pins both). Pairs are joined to the two
    // assignments by id only; payloads never move.
    "docs_split_leakage_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // One LSH pass: the pair set feeds CC and BOTH audit branches —
      // without the checkpoint each union branch re-runs it.
      val pairs = DedupQueries.wordNearDupPairs(s, dir) // shared artifact (r16)
        .select("id_a", "id_b").localCheckpoint()
      val comp = DedupQueries.wordDupComponents(s, dir) // shared artifact (r16)
        .withColumnRenamed("id", "doc_id")
      val byDoc = docs.select(col("doc_id"),
        Curation.assignSplit(col("doc_id"), TestP, ValP, "split:").as("sp"))
      val byCluster = docs.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          Curation.assignSplit(coalesce(col("label"), col("doc_id")),
            TestP, ValP, "split:").as("sp"))
      def audit(assign: DataFrame, method: String): DataFrame = pairs
        .join(assign.select(col("doc_id").as("id_a"), col("sp").as("sp_a")), "id_a")
        .join(assign.select(col("doc_id").as("id_b"), col("sp").as("sp_b")), "id_b")
        .agg(count(lit(1)).as("total_pairs"),
          count(when(col("sp_a") =!= col("sp_b"), lit(1))).as("cross_pairs"))
        .select(lit(method).as("method"), col("total_pairs"),
          col("cross_pairs"), (col("cross_pairs") === 0).as("leak_free"))
      audit(byDoc, "by_doc").unionAll(audit(byCluster, "by_cluster"))
    }),

    // Stratified sampling: rebalance the en-heavy corpus — keep 10% of
    // en, 50% of everything else, deterministically per doc_id.
    "docs_stratified_sample" -> ((s, dir) =>
      Curation.sampleStratified(Tables.documents(s, dir),
        col("doc_id"), col("lang"), Map("en" -> 0.1), 0.5, "strat:")
        .select("doc_id", "lang")),

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // 100 docs drawn with probability proportional to length, the
    // md5-deterministic u making the draw reproducible cross-engine.
    "docs_weighted_sample" -> ((s, dir) =>
      Curation.sampleWeighted(Tables.documents(s, dir),
        col("doc_id"), col("n_chars"), WeightedK, "ws:")
        .select("doc_id", "lang", "n_chars")),

    // Token-budget domain mixing: every source downsampled to the
    // smallest source's token total.
    "docs_domain_mix" -> ((s, dir) =>
      Curation.weightBudgetMix(
        Tables.documents(s, dir),
        col("source"), size(TextOps.tokens(col("text"))).cast("long"),
        col("doc_id"), "mix:")
        .select("doc_id", "source")),

    // Top-3 TF-IDF terms per document (smooth ln idf, rank on the
    // 6-decimal-rounded score so both engines order identically).
    "docs_tfidf_top" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count() // corpus size: one bounded scalar action
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // tf feeds BOTH the document-frequency agg and the score join —
        // materialize, or the explode+agg subplan runs twice (the Dedup
        // lesson, VERDICT r02 #2). Lazy localCheckpoint, not persist:
        // ContextCleaner reclaims the blocks when the plan is GC'd,
        // where an unpersist-less persist leaks one cache entry per call.
        .localCheckpoint(false)
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "token")
        .withColumn("tfidf",
          round(col("tf") *
            log(lit((n + 1).toDouble) / (col("df") + 1).cast("double")), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TfidfTopK)
        .select("doc_id", "token", "tfidf")
    }),

    // Repetition signals (Gopher-style quality gates): per document,
    // the top-token fraction (most frequent token / total tokens) and
    // the type-token ratio (distinct / total). High top-fraction or
    // low TTR ⇒ boilerplate/spam. Two chained aggregations, both
    // map-side combinable; the doc's tokens never leave their
    // partition as anything wider than (doc, token, count).
    "docs_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum("tf").as("total"), max("tf").as("maxf"),
          count(lit(1)).as("ntypes"))
        .select(col("doc_id"),
          round(col("maxf") / col("total"), 6).as("top_token_ratio"),
          round(col("ntypes") / col("total"), 6).as("type_token_ratio"))),

    // Corpus bigram counts ≥ 5: adjacency via the flat positional pair
    // projection (zero shuffle before the count — a lead() window
    // would shuffle every token row by doc and sort by position to
    // recover adjacency the token array already encodes), then one
    // map-side-combinable count.
    "docs_bigrams" -> ((s, dir) =>
      tokenPairs(Tables.documents(s, dir))
        .select(concat_ws(" ", col("token"), col("next")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= MinBigramCount)),

    "docs_pmi" -> ((s, dir) => pmiQuery(s, dir)),

    // Context-window chunking: split each document into token windows
    // of ChunkSize with stride ChunkStride (the training-prep step
    // before tokenizer packing). Pure narrow generate + projection —
    // the corpus is rewritten, never shuffled.
    "docs_chunk" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(ChunkStride))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("start"),
          least(col("n") - col("start"), lit(ChunkSize)).cast("long").as("chunk_len"),
          concat_ws(" ",
            slice(col("toks"), col("start") + 1, lit(ChunkSize))).as("chunk_text"))
    }),

    // Sub-document exact dedup over the E58 chunk grid — the
    // CCNet/RefinedWeb line-dedup shape at chunk granularity: a
    // chunk's FIRST occurrence (lowest (doc_id, start)) is canonical
    // and every later exact copy is reported with its canonical
    // pointer. The groupBy shuffles 32-char digests + two longs (never
    // chunk text), only digests occurring >1× survive to the join
    // back, and that survivor table is bounded by TRUE duplication —
    // not corpus size — so the join side stays broadcastable at
    // 100 TB for any realistically deduplicated corpus.
    "docs_chunk_dedup" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("n") - 1, lit(ChunkStride))).as("i"))
        .select(col("doc_id"), col("i").cast("long").as("start"),
          md5(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(ChunkSize))))
            .as("h"))
      val firsts = chunks.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("start"))).as("f"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .select(col("h"), col("f"))
      chunks.join(firsts, "h")
        .filter(col("doc_id") =!= col("f.doc_id") ||
          col("start") =!= col("f.start"))
        .select(col("doc_id"), col("start"),
          col("f.doc_id").as("first_doc_id"),
          col("f.start").as("first_start"))
    }),

    // Sequence packing: greedy fixed-budget binning of documents by
    // cumulative token count, per language shard. The running sum is a
    // per-shard window (shuffle by lang, sort by doc_id) — packing is
    // inherently sequential, so production packs within shards exactly
    // like this; a global ORDER BY would serialize the corpus.
    "docs_pack" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / lit(PackBudget.toDouble))
            .cast("long").as("bin"))
    }),

    // E171: DSIR importance weights — data selection by log-likelihood
    // ratio under a target-domain LM vs the raw-corpus LM (Xie et al.
    // 2023, unigram form), the principled upgrade over hand-tuned
    // quality gates when a trusted corpus exists. Here source 'src0'
    // plays the trusted target; positive weight = more target-like
    // than the average document.
    "docs_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        col("source") === DsirTargetSource)),

    // E193: length-bucketed batching audit — assign every document to
    // the smallest power-of-two token-length bucket and report, per
    // bucket, the padding cost of batching at that cap versus naively
    // padding the whole corpus to its global max (the sequence-length
    // bucketing question every trainer answers before fixing a batch
    // layout; complements E60, which packs a FIXED budget — this tier
    // measures what bucketing saves before a budget is chosen). One
    // scan, one |buckets|-row aggregation, global cap attached as a
    // 1-row broadcast; every slot count is an exact integer, the one
    // ratio is a single final division. The overflow bucket has no
    // fixed cap, so each bucket pads to greatest(cap, max n_tokens in
    // bucket) — for the bounded buckets that is the cap itself; for
    // the overflow row it keeps wasted_slots >= 0 for arbitrarily
    // long documents instead of going negative past 8192 tokens.
    "docs_length_buckets" -> ((s, dir) => {
      val bucketed = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("bucket_cap",
          LengthBucketCaps.foldRight(lit(LengthBucketOverflow)) { (c, acc) =>
            when(col("n_tokens") <= c, lit(c)).otherwise(acc)
          })
      val perBucket = bucketed.groupBy("bucket_cap").agg(
          count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          max("n_tokens").as("max_tokens"))
        .withColumn("pad_cap", greatest(col("bucket_cap"), col("max_tokens")))
      val globalCap = perBucket.agg(max("pad_cap").as("global_cap"))
      val padded = col("pad_cap") * col("n_docs")
      val wasted = padded - col("sum_tokens")
      perBucket.crossJoin(broadcast(globalCap))
        .select(col("bucket_cap"), col("pad_cap"), col("n_docs"),
          col("sum_tokens"),
          padded.as("padded_slots"),
          wasted.as("wasted_slots"),
          (col("global_cap") * col("n_docs") - col("sum_tokens"))
            .as("naive_wasted_slots"),
          (wasted.cast("double") / padded.cast("double")).as("waste_frac"))
    }),

    // E196: repetition budget check — given a training budget of
    // RepBudgetMult × the corpus' tokens split uniformly across
    // sources (the stress allocation that over-samples small sources),
    // how many epochs must each source repeat to fill its slice?
    // Sources past RepMaxEpochs are flagged: repeated data stops
    // paying for itself around 4 epochs (Muennighoff et al. 2023), so
    // the mixture (E183) or the budget has to give. Pure integer
    // arithmetic end to end (ceil as (a + b - 1) div b); one scan, one
    // |sources|-row aggregation, 1-row broadcast totals.
    "docs_repetition_budget" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(sum(col("n_tok")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("t"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .withColumn("requested_tokens",
          expr(s"(t * $RepBudgetMult) div n_sources"))
        .withColumn("epochs_needed",
          expr("(requested_tokens + n_tokens - 1) div n_tokens"))
        .select(col("source"), col("n_tokens"), col("requested_tokens"),
          col("epochs_needed"),
          (col("epochs_needed") > RepMaxEpochs).as("over_budget"))
    }),

    // E194: cross-source priority dedup — when the same content ships
    // in multiple sources, keep exactly one copy from the
    // highest-priority source (the Dolma/RefinedWeb rule: a curated
    // source's copy beats a crawl's; complements E125, which picks
    // near-dup representatives by QUALITY — this is exact-hash with an
    // explicit source-priority POLICY). Rank comes from the deployed
    // ordered source list (the fixture encodes it as the src suffix);
    // one window shuffle keyed by content hash carrying only
    // (hash, rank, id, source) — payloads never move; ties broken by
    // doc_id so the survivor set is deterministic. The fixture corpus
    // has no cross-source copies, so — like the PII tier plants PII —
    // a deterministic mirror of every 7th doc is re-attributed to
    // 'src0' (top priority): those groups MUST collapse to the mirror
    // (or, for src0 originals, resolve the rank tie by doc_id), which
    // the exact-value oracle checks group by group.
    "docs_priority_dedup" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val mirrored = base.filter(col("doc_id") % PriorityMirrorMod === 0)
        .select((col("doc_id") + PriorityMirrorOffset).as("doc_id"),
          lit("src0").as("source"), col("text"))
      val ranked = base.unionByName(mirrored).select(
        col("doc_id"), col("source"),
        md5(col("text")).as("h"),
        substring(col("source"), 4, 10).cast("int").as("rank"))
      val w = Window.partitionBy("h").orderBy("rank", "doc_id")
      val whole = Window.partitionBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ranked
        .withColumn("rn", row_number().over(w))
        .withColumn("n_copies", count(lit(1)).over(whole))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"), col("rank"), col("n_copies"))
    }),

    // E176: per-domain document cap — keep at most K documents per
    // source, best-quality first (the anti-domination curation rule:
    // without it one mega-crawl source swamps the mixture no matter how the
    // per-source quality gates are tuned; complements E156's top-FRACTION
    // filter, which cannot bound an oversized source's absolute count).
    // One window shuffle keyed by source; ties broken by doc_id so the
    // kept set is deterministic. At 100 TB the window partitions by the
    // low-cardinality source key — skew-prone, so a real deployment
    // composes this with the E101 two-phase rewrite if one source is
    // >1 executor's worth; the fixture pins semantics.
    "docs_domain_cap" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= DomainCapK)
    }),

    // E177: blocklist filter — flag documents containing any of a
    // dictionary of banned terms (distinct-token membership) or exact
    // phrases (space-delimited containment). The deploy shape for a
    // bounded dictionary is what ships here: the list folds into the
    // scan as literals (a broadcast in spirit — zero shuffle, zero
    // join; Catalyst rewrites the IN to an O(1)-probe InSet), the
    // per-row work is one pass over the token array plus one
    // contains() per phrase. SCALING.md ("Blocklist tiers") measured
    // this literal fold 1.1–4.4× faster than a broadcast semi-join at
    // every size from 10 to 10⁵ entries (InSet probes are flat; only
    // the plan-resident list grows).
    "docs_blocklist" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val termHits = size(filter(array_distinct(ws),
        t => t.isInCollection(BlockTerms)))
      val padded = concat(lit(" "), col("text"), lit(" "))
      val phraseHits = BlockPhrases
        .map(p => when(padded.contains(s" $p "), 1).otherwise(0))
        .reduce(_ + _)
      Tables.documents(s, dir).select(col("doc_id"),
        termHits.as("n_term_hits"),
        phraseHits.as("n_phrase_hits"),
        (termHits + phraseHits > 0).as("blocked"))
    }),

    // E179: curation funnel report — the per-stage yield audit every
    // production pipeline publishes ("N in, N after language, … after
    // dedup"): cumulative AND-chain of the engine's own gates
    // (language label, quality ≥ 0.5, Gopher-style length bracket,
    // blocklist, then exact-fingerprint dedup over the survivors).
    // One scan + one 1-row aggregate: the gates are all narrow codegen
    // projections, and the dedup stage needs no join — surviving
    // distinct content is count(DISTINCT fingerprint) among the rows
    // that passed the previous gate, exactly the tier-0 dedup count.
    "docs_funnel_report" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val n = size(ws)
      val g1 = col("lang") === "en"
      val g2 = g1 && TextOps.qualityScore(col("text")) >= 0.5
      val g3 = g2 && n >= 20 && n <= 90
      val termHit = size(filter(ws, t => t.isInCollection(BlockTerms))) > 0
      val g4 = g3 && !termHit
      Tables.documents(s, dir)
        .select(g1.as("g1"), g2.as("g2"), g3.as("g3"), g4.as("g4"),
          TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("g1"), 1L).otherwise(0L)).as("n_lang"),
          sum(when(col("g2"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("g3"), 1L).otherwise(0L)).as("n_length"),
          sum(when(col("g4"), 1L).otherwise(0L)).as("n_blocklist"),
          countDistinct(when(col("g4"), col("fp"))).as("n_dedup"))
    }),

    // E180: deterministic epoch shuffle — the global training-order
    // shuffle: each document gets a salted-hash sort key (a new salt
    // per epoch re-shuffles the corpus with zero coordination), a
    // shard = key mod N, and its position within the shard. This IS
    // how a 100 TB corpus is "randomly" ordered in practice — a hash
    // sort (repartition by shard + sort within), never a global
    // orderBy and never engine RNG (not reproducible across retries);
    // the per-shard window is the partition-local sort made visible.
    // The oracle replays the md5-derived order bit-for-bit.
    "docs_epoch_shuffle" -> ((s, dir) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("sort_key"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Curation.hashBucket(col("doc_id"), EpochSalt).as("sort_key"))
        .withColumn("shard", (col("sort_key") % EpochShards).cast("long"))
        .withColumn("pos", row_number().over(w).cast("long"))
    }),

    // E292: one-pass Poisson-bootstrap replicates — per replicate b,
    // the deterministic-weight effective count and weighted sum (exact
    // integers) plus the replicate mean. B resamples of ≈N rows each,
    // NO resample ever materialized and the corpus scanned once: the
    // (doc_id, n_chars) projection explodes ×B and partial aggregation
    // reduces map-side to B cells. The uncertainty-quantification
    // pattern for 100 TB metrics, where quantile-of-resamples by
    // re-scanning is B full passes.
    "docs_bootstrap_reps" -> ((s, dir) =>
      bootstrapReps(s, dir).select(col("b"), col("n_eff"), col("wx_sum"),
        round(col("wx_sum").cast("double") / col("n_eff").cast("double"),
          6).as("mean_chars"))),

    // E292's terminal row: the point estimate and the percentile CI
    // from the ranked replicate means (ranks ⌈0.025B⌉ / ⌈0.975B⌉, tie
    // by b) — the window ranks B rows, never data.
    "docs_bootstrap_ci" -> ((s, dir) => {
      val m = bootstrapReps(s, dir).select(col("b"),
        (col("wx_sum").cast("double") / col("n_eff").cast("double")).as("m"))
      val w = Window.orderBy(col("m"), col("b"))
      val ranked = m.withColumn("r", row_number().over(w))
        .localCheckpoint(false) // two rank probes
      val lo = ranked.filter(col("r") === BootLoRank)
        .select(round(col("m"), 6).as("ci_lo"))
      val hi = ranked.filter(col("r") === BootHiRank)
        .select(round(col("m"), 6).as("ci_hi"))
      Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tc"))
        .select(col("n_docs"), round(col("tc").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_chars"))
        .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n_docs"), col("mean_chars"), col("ci_lo"),
          col("ci_hi"), lit(BootReps.toLong).as("n_reps"))
    }),

    // E300: STRATIFIED bootstrap — the E292 machinery per source: each
    // stratum gets its own point estimate and percentile CI from the
    // same deterministic weights (weights depend only on doc_id and
    // replicate, so stratum cells are exactly the global cells
    // re-grouped — one exploded pass, |sources|·B cells). The
    // per-source uncertainty readout a mixture designer (E183/E225)
    // needs before trusting a small source's quality mean.
    "docs_bootstrap_by_source" -> ((s, dir) => {
      val reps = s.range(0, BootReps).select(col("id").as("b"))
      val cells = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .crossJoin(broadcast(reps))
        .select(col("source"), col("b"),
          Curation.bootstrapWeight(col("doc_id"), col("b"), BootSalt)
            .as("w"),
          col("n_chars"))
        .groupBy("source", "b")
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("wx_sum"))
        // zero-n_eff replicates contribute no mean (possible for a
        // tiny stratum); rank over the survivors
        .filter(col("n_eff") > 0L)
        .select(col("source"), col("b"),
          (col("wx_sum").cast("double") / col("n_eff").cast("double"))
            .as("m"))
      val w = Window.partitionBy("source").orderBy(col("m"), col("b"))
      val ranked = cells.withColumn("r", row_number().over(w))
        .localCheckpoint(false)
      val lo = ranked.filter(col("r") === BootLoRank)
        .select(col("source"), round(col("m"), 6).as("ci_lo"))
      val hi = ranked.filter(col("r") === BootHiRank)
        .select(col("source"), round(col("m"), 6).as("ci_hi"))
      Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tc"))
        .select(col("source"), col("n_docs"),
          round(col("tc").cast("double") / col("n_docs").cast("double"),
            6).as("mean_chars"))
        .join(lo, Seq("source"), "left")
        .join(hi, Seq("source"), "left")
    }),

    // E181: per-source quantile normalization of quality scores — map
    // each document's quality to its percentile WITHIN its source
    // before any global thresholding (raw scores are not comparable
    // across crawls: one source's 0.6 is another's top decile; the
    // E38/E156 mixing and filtering tiers consume this calibrated
    // score). One window shuffle keyed by source; percent_rank with a
    // doc_id tie-break is engine-deterministic, rounded to 6.
    "docs_quality_qnorm" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      scored.withColumn("calibrated", round(percent_rank().over(w), 6))
    }),

    // E183: temperature-scaled mixture weights — per-source sampling
    // weights ∝ (token share)^α with α = 0.5 (the multilingual /
    // multi-source balancing rule: raw proportional sampling starves
    // small sources, uniform over-trains them; the exponent
    // interpolates). Two source-cardinality aggregations and two
    // 1-row broadcast attaches — the corpus is scanned ONCE and
    // nothing larger than |sources| rows ever shuffles. Downstream,
    // E105's weighted sampler consumes the weight column.
    "docs_mixture_weights" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("t"))
      val share = col("n_tokens").cast("double") / col("t").cast("double")
      val powed = per.crossJoin(broadcast(tot))
        .withColumn("pw", pow(share, lit(MixtureAlpha)))
        .withColumn("raw_share", round(share, 6))
      val z = powed.agg(sum(col("pw")).as("z"))
      powed.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("raw_share"),
          round(col("pw") / col("z"), 6).as("weight"))
    }),

    // E225: water-filling token-budget allocation — the CAP-side
    // complement of E183's mixture exponent: given a global token
    // budget B, find the unique level L where capping every source at
    // L makes the total Σ min(n_tokens, L) hit B — sources under the
    // level keep everything, sources above are cut to L (the "fill
    // water over the histogram" rule that allocates a fixed training
    // budget without starving small sources). Exact integer
    // arithmetic over the SOURCE table (|sources| rows — the corpus
    // is scanned once for token counts, everything after is
    // vocabulary-of-sources sized): sort sources by count, prefix
    // sums, per-rank candidate level (B − P_{i−1}) / (n−i+1), pick
    // the rank whose candidate lands in [c_{i−1}, c_i); budgets ≥ the
    // corpus keep every token. The oracle replays the same windows
    // and integer division.
    "docs_token_budget" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(sum(col("n_tok")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_tokens"), col("source"))
      val wpre = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
      // budget = ⌊90% of the corpus⌋ in exact integer arithmetic — a
      // scale-relative budget, so a water level between the smallest
      // and largest source exists at every SF (near-uniform sources:
      // only the largest get cut)
      val ranked = per
        .withColumn("i", row_number().over(w))
        .withColumn("p_prev", coalesce(sum(col("n_tokens")).over(wpre),
          lit(0L)))
        .crossJoin(broadcast(per.agg(count(lit(1)).as("n_src"),
          sum(col("n_tokens")).as("total_tok"))))
        .withColumn("budget", expr("(total_tok * 9) div 10"))
      // exact BIGINT division (ADVICE r11): `/` on two longs is double
      // division whose 53-bit mantissa diverges from the oracle's `//`
      // past 2^53 total tokens; `div` truncates toward zero exactly
      // like DuckDB's `//` (both verified at -7/2 → -3).
      val cand = expr("(budget - p_prev) div (n_src - i + 1)")
      // valid segment: capping everyone from rank i onward at c_i
      // meets the budget AND the candidate level falls below c_i; the
      // FIRST such rank (min_by i) is the water segment. A budget ≥
      // the corpus has no valid rank → level = max count (keep all).
      val level = ranked
        .withColumn("lcand", cand)
        .filter(col("p_prev") + (col("n_src") - col("i") + 1) *
          col("n_tokens") >= col("budget") &&
          col("lcand") < col("n_tokens"))
        .agg(min_by(col("lcand"), col("i")).as("lvl"))
      per.crossJoin(broadcast(level))
        .crossJoin(broadcast(per.agg(max(col("n_tokens")).as("mx"))))
        .withColumn("water_level", coalesce(col("lvl"), col("mx")))
        .select(col("source"), col("n_tokens"),
          least(col("n_tokens"), col("water_level")).as("allocated"),
          (col("n_tokens") > col("water_level")).as("capped"),
          col("water_level"))
    }),

    // E229: annealed mixture SCHEDULE — E183's temperature exponent
    // turned into a training curriculum: epoch e samples with
    // α_e ∈ {0.3, 0.5, 0.8, 1.0}, flattest (most source-diverse)
    // first, converging to natural token shares by the last epoch —
    // the anneal-to-natural recipe multi-source pretraining runs so
    // early epochs don't overfit the dominant source. One corpus scan
    // for token counts; the schedule itself is |epochs|×|sources|
    // rows of broadcast arithmetic, normalized per epoch.
    "docs_mixture_anneal" -> ((s, dir) => {
      import s.implicits._
      val per = Tables.documents(s, dir)
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(sum(col("n_tok")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("t"))
      val alphas = AnnealAlphas.zipWithIndex
        .map { case (a, e) => (e, a) }.toDF("epoch", "alpha")
      val powed = per.crossJoin(broadcast(tot))
        .crossJoin(broadcast(alphas))
        .withColumn("pw", pow(
          col("n_tokens").cast("double") / col("t").cast("double"),
          col("alpha")))
      val z = powed.groupBy("epoch").agg(sum(col("pw")).as("z"))
      powed.join(z, Seq("epoch"))
        .select(col("epoch"), col("source"), col("alpha"),
          round(col("pw") / col("z"), 6).as("weight"))
    }),

    // E187: PSI drift audit — Population Stability Index between a
    // reference and a current corpus slice (doc_id parity stands in
    // for two crawl epochs) over fixed-width score bins:
    // PSI = Σ (c−p)·ln(c/p), the ops-standard "did the quality
    // distribution move" alarm (<0.1 stable, >0.25 drifted). Shares
    // are Laplace-smoothed ((n+1)/(N+bins)) so an empty bin never
    // divides by zero, counts are exact integers end to end, and only
    // the final ln/multiply is floating (rounded to 6). One scan, one
    // 10-row aggregation, totals attached as a 1-row broadcast.
    "docs_quality_psi" -> ((s, dir) => {
      val q = Tables.documents(s, dir).select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      val binned = q.select(
        least(floor(col("quality") * 10), lit(9)).cast("long").as("bin"),
        (col("doc_id") % 2 === 0).as("is_ref"))
      val counts = binned.groupBy("bin").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      val p = (col("n_ref") + 1).cast("double") / (col("tr") + 10).cast("double")
      val c = (col("n_cur") + 1).cast("double") / (col("tc") + 10).cast("double")
      counts.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round((c - p) * log(c / p), 6).as("psi_contrib"))
    }),

    // E188: shard manifest — the terminal artifact of the
    // curate → shuffle flow (E180): per training shard, document and
    // token counts, the sort-key range, and an order-free id checksum
    // (the manifest a training job reads to size readers and verify
    // shard integrity without re-scanning payloads). One scan + one
    // |shards|-row aggregation; every column is an exact integer.
    "docs_shard_manifest" -> ((s, dir) => {
      val key = Curation.hashBucket(col("doc_id"), EpochSalt)
      Tables.documents(s, dir)
        .select(col("doc_id"), key.as("sort_key"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("shard", (col("sort_key") % EpochShards).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("sort_key")).as("min_key"),
          max(col("sort_key")).as("max_key"),
          sum(col("doc_id")).as("id_checksum"))
    }),

    // E284: the corpus DATA CARD — the human-facing terminal artifact
    // of a curation run (the Datasheets-for-Datasets summary): one
    // tall (metric, value) table of the headline numbers a consumer
    // reads before training. Every value is exact rational arithmetic
    // (counts cast to double, divisions identical in both engines) —
    // no entropy/log metrics here precisely because ln carries no
    // cross-engine rounding guarantee; shares say the same thing.
    "docs_data_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir).localCheckpoint(false)
      def row(name: String, v: org.apache.spark.sql.Column,
          src: DataFrame) =
        src.select(lit(name).as("metric"), v.as("value"))
      val toks = d.select(explode(split(col("text"), " ")).as("w"))
      val nd = d.agg(count(lit(1)).as("n"),
        countDistinct(md5(col("text"))).as("dd"),
        sum(size(split(col("text"), " ")).cast("long")).as("tt"))
      def topShare(c: String) = d.groupBy(col(c))
        .agg(count(lit(1)).as("cn"))
        .agg(max(col("cn")).as("mx"), sum(col("cn")).as("n"))
      row("n_docs", col("n").cast("double"), nd)
        .unionByName(row("total_tokens", col("tt").cast("double"), nd))
        .unionByName(row("distinct_tokens", col("c").cast("double"),
          toks.select(col("w")).distinct().agg(count(lit(1)).as("c"))))
        .unionByName(row("exact_dup_rate",
          round(lit(1.0) - col("dd").cast("double") /
            col("n").cast("double"), 6), nd))
        .unionByName(row("mean_doc_tokens",
          round(col("tt").cast("double") / col("n").cast("double"), 6),
          nd))
        .unionByName(row("top_lang_share",
          round(col("mx").cast("double") / col("n").cast("double"), 6),
          topShare("lang")))
        .unionByName(row("top_source_share",
          round(col("mx").cast("double") / col("n").cast("double"), 6),
          topShare("source")))
    }),

    // E275: token-BALANCED shard assignment — E188's hash sharding is
    // uniform in DOC COUNT but skewed in TOKENS when lengths are; the
    // training-shard contract is equal token work per shard. Snake
    // deal by token-size rank (the distributed LPT approximation:
    // longest docs spread first, direction alternating per block so no
    // shard always gets the block's largest): global ranks via E101,
    // never a one-partition window. rel_load = shard tokens over the
    // perfect-balance mean; ShardBalanceSpec pins snake ≤ hash spread.
    "docs_shard_balance" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("sk",
          struct((-col("n_tok")).as("neg"), col("doc_id").as("id")))
      val ranked = graft.operators.GlobalIndex.globalRowNumbers(t, "sk",
        s.sparkContext.defaultParallelism)
      val pos = expr(s"(row_num - 1) % $EpochShards")
      val shard = when(expr(s"((row_num - 1) div $EpochShards) % 2") === 0,
        pos).otherwise(lit(EpochShards - 1) - pos)
      val g = ranked.withColumn("shard", shard.cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val mean = sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1)))
        .cast("double") / lit(EpochShards.toDouble)
      g.select(col("shard"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / mean, 6).as("rel_load"))
    }))

  /** The E205 leakage-safe assignment as a reusable frame
    * (doc_id, cluster, split): near-dup pairs → connected components →
    * split hash keyed on the component label (singletons label
    * themselves). Shared by docs_split_leakage_safe and the E201/E208
    * classifier fit (which must train on `train` ONLY — fitting on the
    * full corpus is exactly the leak this split exists to prevent).
    * The LSH pair pass is the expensive stage; callers that consume the
    * result more than once should localCheckpoint it.
    */
  /** Planted non-content blocks for the E233 hardening (VERDICT r12
    * #5): a MULTI-LINE script (payload must not leak as visible text;
    * spanning physical lines pins the dotall strip), a style rule, and
    * an HTML comment. One shared constant per block feeds BOTH the
    * Spark planting and the oracle's `h` CTE (via [[sqlStrLit]]), so
    * the two can never drift; the LEAK canaries are asserted absent
    * from every extraction in HtmlExtractSpec.
    */
  private[queries] val PlantScript: String =
    "<script type=\"text/javascript\">\nvar leak = 'SCRIPTLEAK';\n" +
      "track(leak);\n</script>"
  private[queries] val PlantStyle: String =
    "<style>.nav { color: red } /* STYLELEAK */</style>"
  private[queries] val PlantComment: String =
    "<!-- COMMENTLEAK build note -->"

  /** A Scala string as a DuckDB literal: quotes doubled, embedded
    * newlines emitted as `|| chr(10) ||` concatenation (keeps the
    * generated SQL single-line-literal clean).
    */
  private def sqlStrLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** Deterministic HTML planting for docs_html_extract (E233): every
    * third doc is wrapped into a page exercising each rule —
    * title (kept), nav (link density 1 → dropped), content `<p>` (kept,
    * byte-recovered), entities (kept, decoded; `&#39;s&nbsp;` pins the
    * numeric-entity and nbsp paths), a multi-line script block, a
    * style block and an HTML comment (all stripped BEFORE the line
    * split — their payloads must never surface as visible text),
    * anchor-heavy footer (anchors 37 of 46 visible chars → dropped),
    * bare closers (empty → dropped). The rest pass through as raw
    * text.
    */
  private[queries] def plantedHtml: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0,
      concat_ws("\n",
        concat(lit("<html><head><title>Doc "), col("doc_id"), lit(" "),
          col("lang"), lit("</title></head><body>")),
        lit("<div class=\"nav\"><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div>"),
        lit(PlantScript),
        concat(lit("<p>"), col("text"), lit("</p>")),
        lit(PlantStyle),
        lit("<p>Fish &amp; chips &lt;tag&gt; say &quot;hi&quot; " +
          "it&#39;s&nbsp;fine</p>"),
        lit(PlantComment),
        lit("<div class=\"footer\"><a href=\"/tos\">Terms of Service</a> " +
          "<a href=\"/privacy\">Privacy Policy</a> " +
          "<a href=\"/sitemap\">Sitemap</a> | 2024</div>"),
        lit("</body></html>")))
      .otherwise(col("text"))

  /** Minimum token count for the E239 web-pipeline keep verdict —
    * the crude length gate every crawl pipeline applies first.
    */
  val WebMinTokens = 20

  /** E233's extracted kept-lines ARRAY per doc (decoded visible text,
    * document order) — the front end of [[lineBoilerFrame]]. The
    * array is carried straight from `extract`'s struct instead of
    * re-splitting `text_clean` on '\n': a re-split manufactured a
    * phantom single '' line for a zero-kept doc (ADVICE r12).
    */
  private def extractedLines(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.ext.HtmlExtract.extract(plantedHtml)
          .getField("lines").as("lines"))
      .localCheckpoint(false) // feeds the frequency agg AND the rewrite

  /** The E236 chained extract → line-frequency-drop frame, shared by
    * docs_line_boilerplate and docs_web_pipeline: lines explode WITH
    * POSITION, the df ≥ [[LineBoilerDf]] digest table stays
    * distributed and boilerplate membership is a LEFT ANTI join on the
    * 32-char digest (AQE broadcasts it when small, shuffles when the
    * template set is web-scale — no driver collect anywhere), then
    * each doc re-assembles by sorting its surviving (position, line)
    * structs. Docs whose every line dropped — or that kept zero lines
    * at extraction — re-enter via a left join on the extract frame
    * with '' / 0 defaults, matching the oracle's output shape.
    * Shuffle widths: digests + positions + surviving line text (the
    * re-assembly must move kept text once).
    */
  private def lineBoilerFrame(s: SparkSession, dir: String): DataFrame = {
    val ex = extractedLines(s, dir)
    val lx = ex
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("i", "line")))
      .select(col("doc_id"), col("i"), col("line"),
        md5(col("line")).as("dig"))
    val boiler = lx.groupBy(col("dig"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= LineBoilerDf)
      .select("dig")
    val kept = lx.join(boiler, Seq("dig"), "left_anti")
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("nk"),
        array_join(
          transform(array_sort(collect_list(struct(col("i"), col("line")))),
            x => x.getField("line")),
          "\n").as("tc"))
    ex.select(col("doc_id"), size(col("lines")).cast("long").as("n_total"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tc"), lit("")).as("text_clean"),
        coalesce(col("nk"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("nk"), lit(0L))).as("n_dropped"))
  }

  private[queries] def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val comp = DedupQueries.wordDupComponents(s, dir) // shared artifact (r16)
      .withColumnRenamed("id", "doc_id")
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"),
        Curation.assignSplit(coalesce(col("label"), col("doc_id")),
          TestP, ValP, "split:").as("split"))
  }

  /** Mixture temperature for E183: weight ∝ share^α; 0.5 is the
    * common "square-root sampling" compromise.
    */
  private val MixtureAlpha = 0.5

  private val DsirTargetSource = "src0"

  /** Epoch-shuffle parameters for E180: the salt IS the epoch (a new
    * salt is a fresh permutation); shard count is the training-job
    * reader parallelism, not a data property.
    */
  private val EpochSalt = "epoch1:"
  private val EpochShards = 8

  /** Per-source cap for E176 — bites at every fixture SF (25 docs per
    * source at sf0.01, 250 at sf0.1).
    */
  private val DomainCapK = 15

  /** E292 one-pass bootstrap: B replicates, percentile-CI ranks
    * ⌈0.025·B⌉ = 1 and ⌈0.975·B⌉ = 39 over the ranked replicate
    * means.
    */
  private val BootReps = 40
  private val BootSalt = "boot:"
  private val BootLoRank = 1
  private val BootHiRank = 39

  /** Blocklist fixtures for E177/E179: terms hit via distinct-token
    * membership, phrases via exact space-delimited containment. Drawn
    * from the fixture vocabulary so both hit paths exercise.
    */
  private val BlockTerms = Seq("slow", "stream")
  private val BlockPhrases = Seq("big table", "fast merge")

  // -------------------------------------------------------------------
  // queries (continued): collocations
  // -------------------------------------------------------------------

  /** PMI collocation scoring over corpus bigrams: pointwise mutual
    * information log(p(ab) / (p(a)·p(b))) for every bigram with count
    * ≥ [[MinBigramCount]]. Token and pair totals are two bounded
    * scalar actions folded into one scan-side size aggregate (the
    * [[Curation]] driver-scalar pattern); the arithmetic shape is kept
    * identical in the oracle so the rounded doubles agree bit-for-bit.
    */
  val pmiQuery: (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // Corpus totals WITHOUT exploding: token and pair counts are pure
    // functions of each doc's token-array size, so one scan-side
    // aggregate (no generate, no shuffle rows) yields both scalars —
    // the exploded-and-materialized formulation this replaces paid a
    // 10M-row localCheckpoint just to count.
    val sizes = docs.select(size(TextOps.tokens(col("text"))).as("n"))
      .agg(sum(col("n").cast("long")).as("t"),
        sum(greatest(col("n") - 1, lit(0)).cast("long")).as("p"))
      .head()
    val totalTokens = sizes.getLong(0).toDouble
    val totalPairs = sizes.getLong(1).toDouble
    val bi = tokenPairs(docs)
      .groupBy("token", "next").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinBigramCount)
    val uni = docs
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_u"))
    bi
      .join(uni.select(col("token").as("t1"), col("n_u").as("n_a")),
        col("token") === col("t1"))
      .join(uni.select(col("token").as("t2"), col("n_u").as("n_b")),
        col("next") === col("t2"))
      .select(
        concat_ws(" ", col("token"), col("next")).as("bigram"),
        col("n_ab"),
        round(log(
          (col("n_ab").cast("double") / totalPairs) /
            ((col("n_a").cast("double") / totalTokens) *
              (col("n_b").cast("double") / totalTokens))), 6).as("pmi"))
  }

  /** Adjacent token pairs as a flat codegen projection: position i of
    * each doc's token array pairs with i+1 — no explode-then-window,
    * no shuffle, no per-doc sort; adjacency is positional indexing
    * over the array the scan already produced (same zero-shuffle
    * discipline as [[graft.ext.Dedup.wordShingleRows]]).
    */
  private def tokenPairs(docs: DataFrame): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    docs.select(ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("ws"), explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(get(col("ws"), col("i") - 1).as("token"),
        get(col("ws"), col("i")).as("next"))
  }

  // -------------------------------------------------------------------
  // DuckDB oracles
  // -------------------------------------------------------------------

  /** E292 shared core: per-replicate effective count and weighted sum
    * over the deterministic Poisson weights — exact integers, the one
    * corpus scan both bootstrap rows share.
    */
  private def bootstrapReps(s: SparkSession, dir: String): DataFrame = {
    val reps = s.range(0, BootReps).select(col("id").as("b"))
    Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(reps))
      .select(col("b"),
        Curation.bootstrapWeight(col("doc_id"), col("b"), BootSalt).as("w"),
        col("n_chars"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("n_chars")).as("wx_sum"))
  }

  /** [[Curation.bootstrapWeight]] in DuckDB: the same integer
    * thresholds over the replayed hex bucket of `key:replicate`.
    */
  private def bootWeightSql(keyExpr: String): String = {
    val hb = hexBucketSql(keyExpr, BootSalt)
    "(CASE " + Curation.PoissonThresholds.zipWithIndex
      .map { case (t, i) => s"WHEN $hb < $t THEN $i" }.mkString(" ") +
      s" ELSE ${Curation.PoissonThresholds.size} END)"
  }

  /** E292 shared oracle CTEs: replicate spine, weights, per-replicate
    * integer aggregates.
    */
  private lazy val bootAggCtes: String =
    s"""WITH reps AS (SELECT unnest(generate_series(0, ${BootReps - 1})) AS b),
       |wr AS (SELECT b, ${bootWeightSql("doc_id || ':' || b")} AS w, n_chars
       |       FROM documents CROSS JOIN reps),
       |agg AS (SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
       |               CAST(sum(w * n_chars) AS BIGINT) AS wx_sum
       |        FROM wr GROUP BY b)""".stripMargin

  /** [[Curation.hashBucket]] in DuckDB: 4 hex digits of md5(salt ‖ key)
    * decoded positionally (DuckDB has no hex→int cast; strpos over the
    * digit alphabet is dialect-safe). md5 appears once per digit — the
    * oracle optimizes for clarity, not speed.
    */
  private def hexBucketSql(keyExpr: String, salt: String): String = {
    val h = s"md5('$salt' || CAST($keyExpr AS VARCHAR))"
    (0 until 4)
      .map(i => s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) " +
        s"* ${math.pow(16, 3 - i).toInt}")
      .mkString("(", " + ", ")")
  }

  /** [[Curation.assignSplit]] as a SQL CASE over `keyExpr` — one
    * definition for every oracle that replays the split thresholds.
    */
  private[queries] def splitCaseSql(keyExpr: String): String = {
    val t1 = math.floor(TestP * Curation.HashBuckets).toLong
    val t2 = math.floor((TestP + ValP) * Curation.HashBuckets).toLong
    s"""CASE WHEN ${hexBucketSql(keyExpr, "split:")} < $t1 THEN 'test'
       |     WHEN ${hexBucketSql(keyExpr, "split:")} < $t2 THEN 'val'
       |     ELSE 'train' END""".stripMargin
  }

  /** The E205 leakage-safe split replayed in DuckDB, as a WITH-prefix
    * CTE chain ending in `lsplit(doc_id, cluster, split)` (plus the
    * intermediate `pairs` the audit oracle also reads). Recursive —
    * callers append further CTEs with `,` and must not re-open WITH.
    * Shared by the split/audit oracles and the classifier-fit chain.
    */
  /** The E116 canonicalization chain as a full `WITH` prefix ending at
    * `dom(doc_id, url, canonical, domain)` — shared by the
    * docs_url_canonical and docs_domain_blocklist oracles.
    * Raw (non-interpolated) string: the regexes carry `\?`/`\.` that
    * an s-interpolator would mangle (the repo's documented escape
    * trap).
    */
  private val urlChainCte: String =
    """WITH u AS (
      |  SELECT doc_id,
      |         'https://WWW.Site' || CAST(doc_id % 40 AS VARCHAR) || '.COM'
      |         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
      |         || '/Path/p' || CAST(doc_id % 7 AS VARCHAR)
      |         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |         || '?utm_source=x&id=' || CAST(doc_id % 5 AS VARCHAR)
      |         || '#sec' || CAST(doc_id % 9 AS VARCHAR) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
      |parts AS (
      |  SELECT doc_id, url,
      |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |         CASE lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |           WHEN 'https' THEN regexp_replace(
      |             lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      |             ':443$', '')
      |           WHEN 'http' THEN regexp_replace(
      |             lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      |             ':80$', '')
      |           ELSE lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      |         END AS host,
      |         regexp_replace(
      |           regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/+$', '') AS sp,
      |         array_to_string(list_filter(
      |           string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
      |           q -> NOT starts_with(q, 'utm_')), '&') AS kq
      |  FROM p),
      |c AS (
      |  SELECT doc_id, url,
      |         scheme || '://' || host
      |         || CASE WHEN sp = '' THEN '/' ELSE sp END
      |         || CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canonical
      |  FROM parts),
      |dom AS (
      |  SELECT doc_id, url, canonical,
      |         regexp_extract(canonical,
      |           '://(?:[^/?#:]*\.)?([^./?#:]+\.[^./?#:]+)(?::[0-9]+)?(?:[/?#]|$)', 1) AS domain
      |  FROM c)""".stripMargin

  /** E261 docs_domain_blocklist truth — IN-list generated from
    * [[BlockDomains]].
    */
  private lazy val domainBlocklistSql: String =
    urlChainCte + "\nSELECT doc_id, domain, domain IN (" +
      BlockDomains.map(d => s"'$d'").mkString(", ") +
      ") AS blocked FROM dom"

  /** The E256 ladder as CTEs ending at `d3(doc_id, lang, source_anon,
    * size_bucket)` — shared by the fixpoint and verify oracles.
    */
  private lazy val kanonLadderSql: String =
    s"""d0 AS (SELECT doc_id, lang, source,
       |              n_chars // $KanonBucket AS size_bucket
       |       FROM documents),
       |g1 AS (SELECT lang, source, size_bucket, count(*) AS n
       |       FROM d0 GROUP BY 1, 2, 3),
       |d1 AS (SELECT d0.doc_id, d0.lang,
       |         CASE WHEN g1.n < $KanonK THEN '*' ELSE d0.source END AS source,
       |         d0.size_bucket
       |       FROM d0 JOIN g1 USING (lang, source, size_bucket)),
       |g2 AS (SELECT lang, source, size_bucket, count(*) AS n
       |       FROM d1 GROUP BY 1, 2, 3),
       |d2 AS (SELECT d1.doc_id, d1.lang, d1.source,
       |         CASE WHEN g2.n < $KanonK THEN CAST(-1 AS BIGINT)
       |              ELSE d1.size_bucket END AS size_bucket
       |       FROM d1 JOIN g2 USING (lang, source, size_bucket)),
       |g3 AS (SELECT lang, source, size_bucket, count(*) AS n
       |       FROM d2 GROUP BY 1, 2, 3),
       |d3 AS (SELECT d2.doc_id, d2.lang, d2.source AS source_anon,
       |              d2.size_bucket
       |       FROM d2 JOIN g3 USING (lang, source, size_bucket)
       |       WHERE g3.n >= $KanonK)""".stripMargin

  /** The E116 deterministic messy-URL planting (uppercase host,
    * default port, trailing slash, utm params, fragment) — shared by
    * docs_url_canonical and docs_domain_blocklist.
    */
  private[queries] def plantedUrl: org.apache.spark.sql.Column =
    concat(
      lit("https://WWW.Site"), (col("doc_id") % 40).cast("string"), lit(".COM"),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/Path/p"), (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=x&id="), (col("doc_id") % 5).cast("string"),
      lit("#sec"), (col("doc_id") % 9).cast("string"))

  /** (doc_id, domain) over the planted URLs — the E261 front end. */
  private def domainFrame(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      Curation.urlDomain(Curation.canonicalUrl(plantedUrl)).as("domain"))

  /** Banned registered domains for E261 — drawn from the planted URL
    * population (doc_id % 40 → site0..site39), so both verdicts fire
    * at every SF.
    */
  private[queries] val BlockDomains = Seq("site7.com", "site13.com",
    "site21.com")

  /** E249 quasi-identifier projection: (lang, source, n_chars-bucket). */
  private def kanonQi(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
      expr(s"n_chars div $KanonBucket").as("size_bucket"))

  /** E249 audit: QI group sizes + at-risk verdict (< [[KanonK]]). */
  private[queries] def kanonAudit(docs: DataFrame): DataFrame =
    kanonQi(docs)
      .groupBy(col("lang"), col("source"), col("size_bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"), col("size_bucket"), col("n"),
        (col("n") < KanonK).as("at_risk"))

  /** E249 suppression: generalize the at-risk groups' source to '*'
    * (single round; a re-[[kanonAudit]] catches sub-k groups that did
    * not merge — the documented limitation of one-shot generalization).
    */
  private[queries] def kanonSuppress(docs: DataFrame): DataFrame = {
    val d = kanonQi(docs)
    val g = d.groupBy("lang", "source", "size_bucket")
      .agg(count(lit(1)).as("n"))
    d.join(broadcast(g), Seq("lang", "source", "size_bucket"))
      .select(col("doc_id"), col("lang"),
        when(col("n") < KanonK, lit("*")).otherwise(col("source"))
          .as("source_anon"),
        col("size_bucket"))
  }

  /** E256: k-anonymity to FIXPOINT (VERDICT r12 #4) — the single-round
    * [[kanonSuppress]] leaves merged-but-still-sub-k groups behind;
    * this ladder runs the standard generalization hierarchy until the
    * guarantee actually holds, in exactly three deterministic rounds:
    *
    *  1. sub-k groups generalize `source` → '*' (the E249 round);
    *  2. still-sub-k groups generalize `size_bucket` → −1 (merging
    *     across buckets within (lang, source));
    *  3. rows still in a sub-k group are SUPPRESSED (dropped) — the
    *     classic full-row suppression backstop.
    *
    * Dropping whole groups cannot shrink any other group, so every
    * surviving row's group has n ≥ k BY CONSTRUCTION after round 3 —
    * the fixpoint needs no iteration beyond the ladder, and
    * [[kanonVerifyStats]] machine-checks the claim (the E66 pattern).
    * Each round is one |groups|-row broadcast aggregate joined back —
    * three cheap passes, no driver state.
    */
  private[queries] def kanonFixpoint(docs: DataFrame): DataFrame = {
    def sizes(d: DataFrame): DataFrame =
      broadcast(d.groupBy("lang", "source", "size_bucket")
        .agg(count(lit(1)).as("n")))
    val d0 = kanonQi(docs)
    val d1 = d0.join(sizes(d0), Seq("lang", "source", "size_bucket"))
      .select(col("doc_id"), col("lang"),
        when(col("n") < KanonK, lit("*")).otherwise(col("source"))
          .as("source"),
        col("size_bucket"))
    val d2 = d1.join(sizes(d1), Seq("lang", "source", "size_bucket"))
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("n") < KanonK, lit(-1L)).otherwise(col("size_bucket"))
          .as("size_bucket"))
    d2.join(sizes(d2), Seq("lang", "source", "size_bucket"))
      .filter(col("n") >= KanonK)
      .select(col("doc_id"), col("lang"),
        col("source").as("source_anon"), col("size_bucket"))
  }

  /** E257: the machine-checked guarantee row over [[kanonFixpoint]]'s
    * output — (input rows, surviving rows, suppressed rows, group
    * count, minimum group size, k_satisfied). `k_satisfied` must be
    * true for every input; an empty output is vacuously k-anonymous
    * (min coalesces to k).
    */
  private[queries] def kanonVerifyStats(docs: DataFrame): DataFrame = {
    val g = kanonFixpoint(docs)
      .groupBy("lang", "source_anon", "size_bucket")
      .agg(count(lit(1)).as("n"))
    val stats = g.agg(
      count(lit(1)).as("n_groups"),
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      coalesce(min(col("n")), lit(KanonK.toLong)).as("min_group_n"))
    docs.agg(count(lit(1)).as("n_input")).crossJoin(stats)
      .select(col("n_input"), col("n_rows"),
        (col("n_input") - col("n_rows")).as("n_suppressed"),
        col("n_groups"), col("min_group_n"),
        (col("min_group_n") >= KanonK).as("k_satisfied"))
  }

  /** E246 feature build: hashing-trick term-frequency vectors —
    * md5-bucketed tokens (the repo's deterministic hash discipline)
    * counted into a dense [[TopicDims]]-wide double array, doc_id-
    * seeded cells. One explode + one count agg; the dense re-pack is
    * a per-doc map probe over a plan-time-constant sequence.
    */
  private[queries] def hashedTfVecs(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        (Curation.hashBucket(col("tok"), "topic:") % TopicDims).as("b"))
    toks.groupBy("doc_id", "b")
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
        .as("m"))
      .select(col("doc_id").as("id"),
        (col("doc_id") % TopicK).as("part"),
        transform(sequence(lit(0L), lit(TopicDims - 1L)),
          i => coalesce(try_element_at(col("m"), i), lit(0.0))).as("vec"))
  }

  private[queries] val leakageSplitCtes: String =
    s"""${DedupQueries.wordShCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (${DedupQueries.jaccardPairsSelect}),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, x.r FROM reach x JOIN edges e ON e.dst = x.id),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |lab AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
       |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
       |lsplit AS (SELECT doc_id, cluster, ${splitCaseSql("cluster")} AS split
       |           FROM lab)""".stripMargin

  /** The redaction pipeline as nested DuckDB regexp_replace calls,
    * generated from the SAME pattern list the Spark column folds over.
    */
  private val redactSql: String =
    Curation.PiiPatterns.foldLeft("planted") { case (inner, (pat, repl)) =>
      s"regexp_replace($inner, '$pat', '$repl', 'g')"
    }

  /** Treatment source for the E224 matched-pair construction. */
  private[queries] val MatchTreatmentSource = "src0"

  /** Per-epoch temperature schedule for E229 — flattest first,
    * natural shares last; exact decimal literals so both engines pow
    * the identical doubles.
    */
  private[queries] val AnnealAlphas: Seq[Double] = Seq(0.3, 0.5, 0.8, 1.0)

  /** One line's visible text, as DuckDB SQL (RE2 'g' flag ≡ Spark's
    * replace-all default).
    */
  private def visSql(l: String): String =
    s"trim(regexp_replace(regexp_replace($l, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** Entity decode of one already-stripped line, [[visSql]] inside. */
  private def decodeSql(l: String): String =
    s"""replace(replace(replace(replace(replace(replace(${visSql(l)},
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&')""".stripMargin

  /** The E233 extraction chain (planting → split → link-density keep
    * list), ending at `kp(doc_id, lines, k)` — shared by the E233 and
    * E236 oracles so the two can never drift on the front door.
    */
  private val htmlChainSql: String =
    s"""h AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN
       |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' ' || lang || '</title></head><body>' || chr(10) ||
       |    '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>' || chr(10) ||
       |    ${sqlStrLit(PlantScript)} || chr(10) ||
       |    '<p>' || text || '</p>' || chr(10) ||
       |    ${sqlStrLit(PlantStyle)} || chr(10) ||
       |    '<p>Fish &amp; chips &lt;tag&gt; say &quot;hi&quot; it&#39;s&nbsp;fine</p>' || chr(10) ||
       |    ${sqlStrLit(PlantComment)} || chr(10) ||
       |    '<div class="footer"><a href="/tos">Terms of Service</a> <a href="/privacy">Privacy Policy</a> <a href="/sitemap">Sitemap</a> | 2024</div>' || chr(10) ||
       |    '</body></html>'
       |  ELSE text END AS html
       |  FROM documents),
       |hs AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |         '${graft.ext.HtmlExtract.ScriptPattern}', ' ', 'g'),
       |         '${graft.ext.HtmlExtract.StylePattern}', ' ', 'g'),
       |         '${graft.ext.HtmlExtract.CommentPattern}', ' ', 'g') AS html FROM h),
       |ln AS (SELECT doc_id, string_split(html, chr(10)) AS lines FROM hs),
       |kp AS (SELECT doc_id, lines,
       |  list_filter(lines, l -> ${visSql("l")} <> ''
       |    AND 2 * coalesce(length(array_to_string(regexp_extract_all(l, '<[Aa][^>]*>([^<]*)</[Aa]>', 1), '')), 0)
       |        <= length(${visSql("l")})) AS k
       |  FROM ln)""".stripMargin

  /** E236's line-frequency drop as CTEs over [[htmlChainSql]]'s `kp`,
    * ending at `lb(doc_id, text_clean, n_kept, n_dropped)` — shared by
    * docs_line_boilerplate and the E239 composition. `lb` is
    * built by LEFT JOIN from the per-doc `cl` frame, not by grouping
    * the exploded lines: a doc whose extraction kept ZERO lines has no
    * exploded rows at all and would otherwise vanish from the output
    * while Spark emits it with ''/0 (ADVICE r12).
    */
  private val lineBoilerSql: String =
    s"""cl AS (SELECT doc_id,
       |         list_transform(k, l -> ${decodeSql("l")}) AS cls
       |       FROM kp),
       |lx AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |              cls[CAST(i AS INTEGER)] AS line
       |       FROM cl, unnest(generate_series(1, len(cls))) AS t(i)),
       |bf AS (SELECT line FROM lx GROUP BY line
       |       HAVING count(DISTINCT doc_id) >= $LineBoilerDf),
       |mk AS (SELECT doc_id, i, line,
       |              line IN (SELECT line FROM bf) AS isb
       |       FROM lx),
       |lg AS (SELECT doc_id,
       |  coalesce(array_to_string(
       |    list(line ORDER BY i) FILTER (WHERE NOT isb), chr(10)), '')
       |    AS text_clean,
       |  CAST(count(*) FILTER (WHERE NOT isb) AS BIGINT) AS n_kept,
       |  CAST(count(*) FILTER (WHERE isb) AS BIGINT) AS n_dropped
       |FROM mk GROUP BY doc_id),
       |lb AS (SELECT cl.doc_id,
       |  coalesce(lg.text_clean, '') AS text_clean,
       |  coalesce(lg.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  coalesce(lg.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
       |FROM cl LEFT JOIN lg ON lg.doc_id = cl.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // E233: planting, split, tag strip, integer link-density rule,
    // and the entity decode order replayed rule for rule.
    // array_to_string over an EMPTY kept list is NULL in DuckDB where
    // Spark's array_join yields '' — coalesce (the repo's documented
    // empty-list trap; ADVICE r12).
    "docs_html_extract" ->
      s"""WITH $htmlChainSql
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list_transform(k, l -> ${decodeSql("l")}), chr(10)), '')
         |    AS text_clean,
         |  CAST(len(k) AS BIGINT) AS n_kept,
         |  CAST(len(lines) - len(k) AS BIGINT) AS n_dropped
         |FROM kp""".stripMargin,

    // E236: the same chain, then per-line document frequency over the
    // extracted lines and the cross-corpus boilerplate drop. The
    // Spark side groups md5 digests (shuffle width) where the oracle
    // groups raw lines — equivalent modulo md5 collision, the row's
    // accepted birthday budget.
    "docs_line_boilerplate" ->
      s"""WITH $htmlChainSql,
         |$lineBoilerSql
         |SELECT doc_id, text_clean, n_kept, n_dropped FROM lb""".stripMargin,

    // E239: the composed front door — the E233+E236 chain, then the
    // E238 fold/lower/collapse normalization (same TextOps constants)
    // and token accounting with the minimum-length verdict.
    "docs_web_pipeline" -> {
      def slit(s: String) = "'" + s.replace("'", "''") + "'"
      s"""WITH $htmlChainSql,
         |$lineBoilerSql,
         |nm AS (SELECT doc_id, n_kept, n_dropped,
         |  trim(regexp_replace(lower(translate(text_clean,
         |    ${slit(graft.ext.TextOps.FoldFrom)},
         |    ${slit(graft.ext.TextOps.FoldTo)})), '\\s+', ' ', 'g'))
         |    AS norm_text
         |  FROM lb)
         |SELECT doc_id, n_kept AS n_lines_kept,
         |       n_dropped AS n_boiler_dropped, norm_text,
         |       CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens,
         |       len(string_split(norm_text, ' ')) >= $WebMinTokens AS keep
         |FROM nm""".stripMargin
    },

    // E224: same strata, same (stratum, rank) pairing, inner join =
    // drop unmatched treatment docs.
    "docs_matched_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars // 256 AS len_bucket,
         |                  row_number() OVER (PARTITION BY lang, n_chars // 256
         |                                     ORDER BY doc_id) AS rn
         |           FROM documents WHERE source = '$MatchTreatmentSource'),
         |c AS (SELECT doc_id, lang, n_chars // 256 AS len_bucket,
         |             row_number() OVER (PARTITION BY lang, n_chars // 256
         |                                ORDER BY doc_id) AS rn
         |      FROM documents WHERE source <> '$MatchTreatmentSource')
         |SELECT t.doc_id AS treat_id, c.doc_id AS control_id,
         |       t.lang, CAST(t.len_bucket AS BIGINT) AS len_bucket
         |FROM t JOIN c ON c.lang = t.lang AND c.len_bucket = t.len_bucket
         |               AND c.rn = t.rn""".stripMargin,
    "docs_url_canonical" ->
      (urlChainCte + "\nSELECT doc_id, url, canonical, domain FROM dom"),

    // E261: the blocklist is generated from the same BlockDomains
    // constant the Spark row folds.
    "docs_domain_blocklist" -> domainBlocklistSql,
    "docs_kanon_audit" ->
      s"""SELECT lang, source, n_chars // $KanonBucket AS size_bucket,
         |       CAST(count(*) AS BIGINT) AS n,
         |       count(*) < $KanonK AS at_risk
         |FROM documents GROUP BY 1, 2, 3""".stripMargin,

    "docs_kanon_suppress" ->
      s"""WITH d AS (SELECT doc_id, lang, source,
         |                  n_chars // $KanonBucket AS size_bucket
         |           FROM documents),
         |g AS (SELECT lang, source, size_bucket, count(*) AS n
         |      FROM d GROUP BY 1, 2, 3)
         |SELECT d.doc_id, d.lang,
         |       CASE WHEN g.n < $KanonK THEN '*' ELSE d.source END AS source_anon,
         |       d.size_bucket
         |FROM d JOIN g USING (lang, source, size_bucket)""".stripMargin,

    // E256/E257: the three ladder rounds replayed as joined group
    // aggregates — identical CASE thresholds, −1 bucket sentinel, and
    // the n >= k survival filter.
    "docs_kanon_fixpoint" ->
      s"""WITH $kanonLadderSql
         |SELECT doc_id, lang, source_anon, size_bucket FROM d3""".stripMargin,

    "docs_kanon_verify" ->
      s"""WITH $kanonLadderSql,
         |gf AS (SELECT lang, source_anon, size_bucket, count(*) AS n
         |       FROM d3 GROUP BY 1, 2, 3),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
         |              CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
         |              CAST(coalesce(min(n), $KanonK) AS BIGINT) AS min_group_n
         |       FROM gf),
         |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_input FROM documents)
         |SELECT ni.n_input, st.n_rows,
         |       ni.n_input - st.n_rows AS n_suppressed,
         |       st.n_groups, st.min_group_n,
         |       st.min_group_n >= $KanonK AS k_satisfied
         |FROM ni, st""".stripMargin,

    // E246: identical md5 token buckets, dense TopicDims vectors, then
    // the SHARED kmeansIterSql round generator pointed at the hashed-TF
    // feature CTE (same rounded centroids, same argmax ties).
    "docs_topic_kmeans" -> {
      val src =
        s"""WITH dt AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
           |            FROM documents),
           |tb AS (SELECT doc_id,
           |              (${hexBucketSql("tok", "topic:")}) % $TopicDims AS b
           |       FROM dt),
           |cnts AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c
           |         FROM tb GROUP BY doc_id, b),
           |dv AS (SELECT d.doc_id, i.i AS dim,
           |              coalesce(c.c, CAST(0.0 AS DOUBLE)) AS val
           |       FROM (SELECT DISTINCT doc_id FROM documents) d
           |       CROSS JOIN generate_series(0, ${TopicDims - 1}) i(i)
           |       LEFT JOIN cnts c ON c.doc_id = d.doc_id AND c.b = i.i),
           |e AS (SELECT doc_id AS vec_id, doc_id % $TopicK AS label,
           |             list(val ORDER BY dim) AS v FROM dv GROUP BY doc_id)""".stripMargin
      SimilarityQueries.kmeansIterSql(TopicIters, src)
    },

    // E245: identical planted construction, identical Java∩RE2 line
    // patterns (generated from the same TextOps constants — the two
    // can never drift), same rounded-fraction thresholds.
    "docs_content_tags" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 4 = 0 THEN
         |                text || chr(10) || 'def f(x):' || chr(10) ||
         |                '    return x * 2;' || chr(10) ||
         |                '    y = compute(' || CAST(doc_id % 7 AS VARCHAR) ||
         |                ');' || chr(10) || '}'
         |              WHEN doc_id % 4 = 1 THEN
         |                text || chr(10) || '- first item' || chr(10) ||
         |                '- item ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
         |                '* last item'
         |              ELSE text END AS planted
         |  FROM documents),
         |f AS (SELECT doc_id,
         |             len(str_split(planted, chr(10))) AS n_lines,
         |             len(regexp_extract_all(planted, '${TextOps.CodeLineRe}')) AS cc,
         |             len(regexp_extract_all(planted, '${TextOps.BulletLineRe}')) AS bc
         |      FROM p),
         |g AS (SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |             round(CAST(cc AS DOUBLE) / n_lines, 6) AS code_frac,
         |             round(CAST(bc AS DOUBLE) / n_lines, 6) AS bullet_frac
         |      FROM f)
         |SELECT doc_id, n_lines, code_frac, bullet_frac,
         |       CASE WHEN code_frac >= CAST(0.3 AS DOUBLE) THEN 'code'
         |            WHEN bullet_frac >= CAST(0.5 AS DOUBLE) THEN 'list'
         |            ELSE 'prose' END AS tag
         |FROM g""".stripMargin,

    // E281: same modular arithmetic, independently expressed.
    "docs_pii_luhn" -> {
      def luhn(d: String, off: Int) =
        s"""list_reduce(list_transform(
           |    generate_series(1, CAST(len($d) AS INTEGER)), i ->
           |  CASE WHEN (i + $off) % 2 = 0
           |       THEN CASE WHEN 2 * CAST(reverse($d)[i] AS INTEGER) > 9
           |                 THEN 2 * CAST(reverse($d)[i] AS INTEGER) - 9
           |                 ELSE 2 * CAST(reverse($d)[i] AS INTEGER) END
           |       ELSE CAST(reverse($d)[i] AS INTEGER) END),
           |  (p, q) -> p + q)""".stripMargin
      s"""WITH lp AS (SELECT doc_id,
         |              lpad(CAST((doc_id * 2654435761) % 1000000000000000
         |                AS VARCHAR), 15, '0') AS pre
         |            FROM documents),
         |lc AS (SELECT doc_id, pre,
         |              (10 - ${luhn("pre", 1)} % 10) % 10 AS chk
         |       FROM lp),
         |ld AS (SELECT doc_id,
         |              pre || CAST(CASE WHEN doc_id % 2 = 0 THEN chk
         |                               ELSE (chk + 5) % 10 END
         |                AS VARCHAR) AS card
         |       FROM lc),
         |lv AS (SELECT doc_id, card,
         |              (${luhn("card", 0)} % 10 = 0) AS luhn_valid
         |       FROM ld)
         |SELECT doc_id, card, luhn_valid,
         |       (luhn_valid = (doc_id % 2 = 0)) AS detected_correctly
         |FROM lv""".stripMargin
    },

    "docs_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         concat_ws(' ', substr(text, 1, 40), 'contact',
         |           'user' || CAST(doc_id AS VARCHAR) || '@example.com',
         |           'call',
         |           '+1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
         |           'acct',
         |           lpad(CAST(doc_id * 37 % 100000000 AS VARCHAR), 8, '0'))
         |           AS planted
         |  FROM documents)
         |SELECT doc_id, $redactSql AS redacted FROM p""".stripMargin,

    // mirrors DedupQueries.wordShCte's 3-gram construction; the CTE's
    // per-doc list_distinct plus count(DISTINCT g) matches the Spark
    // side's non-deduped shingle rows + countDistinct.
    "docs_decontam" ->
      s"""${DedupQueries.wordShCte},
         |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % $DecontamMod = 0),
         |cg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % $DecontamMod <> 0),
         |h AS (SELECT cg.doc_id, cg.g FROM cg JOIN ev USING (g))
         |SELECT doc_id, count(DISTINCT g) AS n_hits FROM h GROUP BY doc_id""".stripMargin,

    "docs_sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${hexBucketSql("doc_id", "s1:")} <
         |      ${math.floor(SampleP * Curation.HashBuckets).toLong}""".stripMargin,

    "docs_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |         row_number() OVER (ORDER BY
         |           pow((${hexBucketSql("doc_id", "ws:")} + 1)
         |                 / ${Curation.HashBuckets}.0,
         |               1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) DESC,
         |           doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $WeightedK""".stripMargin,

    "docs_split_assign" -> {
      val t1 = math.floor(TestP * Curation.HashBuckets).toLong
      val t2 = math.floor((TestP + ValP) * Curation.HashBuckets).toLong
      s"""SELECT doc_id,
         |       CASE WHEN ${hexBucketSql("doc_id", "split:")} < $t1 THEN 'test'
         |            WHEN ${hexBucketSql("doc_id", "split:")} < $t2 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM documents""".stripMargin
    },

    // True components via a recursive CTE (the docs_dup_clusters
    // pattern), split assignment replayed over the component label.
    "docs_split_leakage_safe" ->
      s"""$leakageSplitCtes
         |SELECT doc_id, cluster, split FROM lsplit""".stripMargin,

    "docs_split_leakage_audit" ->
      s"""$leakageSplitCtes,
         |asg AS (SELECT doc_id,
         |               ${splitCaseSql("doc_id")} AS sp_doc,
         |               split AS sp_cl
         |        FROM lsplit),
         |x AS (SELECT a.sp_doc AS da, b.sp_doc AS db,
         |             a.sp_cl AS ca, b.sp_cl AS cb
         |      FROM pairs p JOIN asg a ON a.doc_id = p.id_a
         |                   JOIN asg b ON b.doc_id = p.id_b)
         |SELECT 'by_doc' AS method, count(*) AS total_pairs,
         |       CAST(count(*) FILTER (WHERE da <> db) AS BIGINT) AS cross_pairs,
         |       count(*) FILTER (WHERE da <> db) = 0 AS leak_free
         |FROM x
         |UNION ALL
         |SELECT 'by_cluster', count(*),
         |       CAST(count(*) FILTER (WHERE ca <> cb) AS BIGINT),
         |       count(*) FILTER (WHERE ca <> cb) = 0
         |FROM x""".stripMargin,

    "docs_stratified_sample" -> {
      val enThr = math.floor(0.1 * Curation.HashBuckets).toLong
      val defThr = math.floor(0.5 * Curation.HashBuckets).toLong
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${hexBucketSql("doc_id", "strat:")} <
         |      CASE WHEN lang = 'en' THEN $enThr ELSE $defThr END""".stripMargin
    },

    "docs_domain_mix" ->
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS wt
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(wt) AS BIGINT) AS tw FROM w GROUP BY source),
         |m AS (SELECT CAST(min(tw) AS DOUBLE) AS mt FROM tot)
         |SELECT w.doc_id, w.source
         |FROM w JOIN tot ON w.source = tot.source CROSS JOIN m
         |WHERE ${hexBucketSql("w.doc_id", "mix:")} / 65536.0
         |      < m.mt / CAST(tot.tw AS DOUBLE)""".stripMargin,

    "docs_tfidf_top" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
         |dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.token,
         |         round(tf.tf * ln((n.n + 1.0) / (dfx.df + 1.0)), 6) AS tfidf
         |  FROM tf JOIN dfx ON tf.token = dfx.token CROSS JOIN n)
         |SELECT doc_id, token, tfidf FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM s)
         |WHERE rn <= $TfidfTopK""".stripMargin,

    "docs_repetition" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token)
        |SELECT doc_id,
        |       round(CAST(max(tf) AS DOUBLE) / sum(tf), 6) AS top_token_ratio,
        |       round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS type_token_ratio
        |FROM tf GROUP BY doc_id""".stripMargin,

    "docs_bigrams" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |t AS (
         |  SELECT doc_id, i AS pos, ws[CAST(i AS INTEGER)] AS token
         |  FROM d, unnest(generate_series(1, len(ws))) AS u(i)),
         |b AS (
         |  SELECT token || ' ' || lead(token) OVER
         |    (PARTITION BY doc_id ORDER BY pos) AS bigram
         |  FROM t)
         |SELECT bigram, count(*) AS n FROM b WHERE bigram IS NOT NULL
         |GROUP BY bigram HAVING count(*) >= $MinBigramCount""".stripMargin,

    // identical arithmetic shape to the Spark side: ln of a ratio of
    // double divisions over exact integer counts, rounded to 6
    "docs_pmi" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |t AS (
         |  SELECT doc_id, i AS pos, ws[CAST(i AS INTEGER)] AS token
         |  FROM d, unnest(generate_series(1, len(ws))) AS u(i)),
         |p AS (
         |  SELECT token, lead(token) OVER
         |    (PARTITION BY doc_id ORDER BY pos) AS next
         |  FROM t),
         |pp AS (SELECT token, next FROM p WHERE next IS NOT NULL),
         |bi AS (SELECT token, next, count(*) AS n_ab FROM pp
         |       GROUP BY token, next HAVING count(*) >= $MinBigramCount),
         |uni AS (SELECT token, count(*) AS n_u FROM t GROUP BY token),
         |tot AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM t) AS tt,
         |               (SELECT CAST(count(*) AS DOUBLE) FROM pp) AS tp)
         |SELECT bi.token || ' ' || bi.next AS bigram, bi.n_ab,
         |       round(ln((CAST(bi.n_ab AS DOUBLE) / tot.tp) /
         |                ((CAST(ua.n_u AS DOUBLE) / tot.tt) *
         |                 (CAST(ub.n_u AS DOUBLE) / tot.tt))), 6) AS pmi
         |FROM bi
         |JOIN uni ua ON bi.token = ua.token
         |JOIN uni ub ON bi.next = ub.token
         |CROSS JOIN tot""".stripMargin,

    "docs_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |                  len(string_split(text, ' ')) AS n
         |           FROM documents),
         |s AS (SELECT doc_id, ws, n, CAST(i AS BIGINT) AS start
         |      FROM d, unnest(generate_series(0, n - 1, $ChunkStride)) AS t(i))
         |SELECT doc_id, start,
         |       CAST(least(n - start, $ChunkSize) AS BIGINT) AS chunk_len,
         |       array_to_string(
         |         ws[CAST(start + 1 AS INTEGER):CAST(least(start + $ChunkSize, n) AS INTEGER)],
         |         ' ') AS chunk_text
         |FROM s""".stripMargin,

    "docs_chunk_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |                  len(string_split(text, ' ')) AS n
         |           FROM documents),
         |s AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |             md5(array_to_string(
         |               ws[CAST(i + 1 AS INTEGER):CAST(least(i + $ChunkSize, n) AS INTEGER)],
         |               ' ')) AS h
         |      FROM d, unnest(generate_series(0, n - 1, $ChunkStride)) AS t(i)),
         |r AS (SELECT doc_id, start, h,
         |             row_number() OVER w AS rn,
         |             first_value(doc_id) OVER w AS first_doc_id,
         |             first_value(start) OVER w AS first_start,
         |             count(*) OVER (PARTITION BY h) AS cnt
         |      FROM s
         |      WINDOW w AS (PARTITION BY h ORDER BY doc_id, start))
         |SELECT doc_id, start, first_doc_id, first_start
         |FROM r WHERE cnt > 1 AND rn > 1""".stripMargin,

    "docs_pack" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents)
         |SELECT doc_id, lang, n_tokens,
         |       CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              - n_tokens) / ${PackBudget}.0) AS BIGINT) AS bin
         |FROM t""".stripMargin,

    // Same generated CASE chain as the Spark side (smallest cap
    // first), exact integer slot arithmetic; sums wrapped in CAST(..
    // AS BIGINT) against the HUGEINT widening, the one double division
    // at the same final point.
    "docs_length_buckets" -> {
      val chain = LengthBucketCaps
        .map(c => s"WHEN n_tokens <= $c THEN CAST($c AS BIGINT)")
        .mkString("CASE ", " ", s" ELSE CAST($LengthBucketOverflow AS BIGINT) END")
      s"""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
         |                    AS n_tokens
         |           FROM documents),
         |b AS (SELECT n_tokens, $chain AS bucket_cap FROM t),
         |p AS (SELECT bucket_cap, count(*) AS n_docs,
         |             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |             greatest(bucket_cap, CAST(max(n_tokens) AS BIGINT))
         |               AS pad_cap
         |      FROM b GROUP BY bucket_cap),
         |g AS (SELECT max(pad_cap) AS global_cap FROM p)
         |SELECT p.bucket_cap, p.pad_cap, p.n_docs, p.sum_tokens,
         |       p.pad_cap * p.n_docs AS padded_slots,
         |       p.pad_cap * p.n_docs - p.sum_tokens AS wasted_slots,
         |       g.global_cap * p.n_docs - p.sum_tokens AS naive_wasted_slots,
         |       CAST(p.pad_cap * p.n_docs - p.sum_tokens AS DOUBLE)
         |         / CAST(p.pad_cap * p.n_docs AS DOUBLE) AS waste_frac
         |FROM p, g""".stripMargin
    },

    // Same integer ceil and uniform split; sums CAST-guarded against
    // HUGEINT.
    "docs_repetition_budget" ->
      s"""WITH per AS (SELECT source,
         |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |                      AS n_tokens
         |             FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t,
         |             count(*) AS n_sources FROM per),
         |r AS (SELECT source, n_tokens,
         |             (t.t * $RepBudgetMult) // t.n_sources AS requested_tokens
         |      FROM per, t)
         |SELECT source, n_tokens, requested_tokens,
         |       (requested_tokens + n_tokens - 1) // n_tokens AS epochs_needed,
         |       (requested_tokens + n_tokens - 1) // n_tokens > $RepMaxEpochs
         |         AS over_budget
         |FROM r""".stripMargin,

    // Same mirror synthesis and (rank, doc_id) total order; rank from
    // the src suffix.
    "docs_priority_dedup" ->
      s"""WITH u AS (SELECT doc_id, source, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + $PriorityMirrorOffset, 'src0', text
        |           FROM documents WHERE doc_id % $PriorityMirrorMod = 0),
        |x AS (SELECT doc_id, source, md5(text) AS h,
        |             CAST(substr(source, 4) AS INTEGER) AS rank
        |      FROM u),
        |r AS (SELECT doc_id, source, rank,
        |             row_number() OVER (PARTITION BY h ORDER BY rank, doc_id)
        |               AS rn,
        |             count(*) OVER (PARTITION BY h) AS n_copies
        |      FROM x)
        |SELECT doc_id, source, rank, n_copies FROM r WHERE rn = 1""".stripMargin,

    // Mirrors Curation.dsirWeights: add-one smoothing over the RAW
    // vocabulary on both LMs, same cast points, ratio as a difference
    // of lns on the identical doubles.
    "docs_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
         |             FROM documents),
         |raw AS (SELECT w, count(*) AS cr FROM tok GROUP BY w),
         |tgt AS (SELECT w, count(*) AS ct FROM tok
         |        WHERE source = '$DsirTargetSource' GROUP BY w),
         |lm AS (SELECT raw.w, raw.cr, coalesce(tgt.ct, 0) AS ct
         |       FROM raw LEFT JOIN tgt USING (w)),
         |tots AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM lm),
         |s AS (SELECT tok.doc_id,
         |        ln(CAST(lm.ct + 1 AS DOUBLE) / CAST(tots.tt + tots.v AS DOUBLE))
         |        - ln(CAST(lm.cr + 1 AS DOUBLE) / CAST(tots.tr + tots.v AS DOUBLE))
         |          AS lr
         |      FROM tok JOIN lm ON lm.w = tok.w CROSS JOIN tots)
         |SELECT doc_id, count(*) AS n_tokens, round(avg(lr), 6) AS dsir_weight
         |FROM s GROUP BY doc_id""".stripMargin,

    "docs_domain_cap" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |           FROM documents),
         |q AS (SELECT doc_id, source, $qualitySql AS quality FROM d),
         |r AS (SELECT doc_id, source, quality,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY quality DESC, doc_id) AS rnk
         |      FROM q)
         |SELECT doc_id, source, quality, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $DomainCapK""".stripMargin,

    "docs_blocklist" -> blocklistSql,

    "docs_funnel_report" ->
      s"""WITH d AS (SELECT doc_id, text, lang,
         |                  string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT doc_id,
         |             (lang = 'en') AS g1,
         |             (lang = 'en' AND $qualitySql >= 0.5) AS g2,
         |             (lang = 'en' AND $qualitySql >= 0.5
         |              AND len(ws) BETWEEN 20 AND 90) AS g3,
         |             (lang = 'en' AND $qualitySql >= 0.5
         |              AND len(ws) BETWEEN 20 AND 90
         |              AND len(list_filter(ws,
         |                    t -> t IN ${inList(BlockTerms)})) = 0) AS g4,
         |             substr(md5(trim(regexp_replace(lower(text),
         |               '[^a-z0-9]+', ' ', 'g'))), 1, 16) AS fp
         |      FROM d)
         |SELECT count(*) AS n_total,
         |       CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
         |       CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |       CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
         |       CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocklist,
         |       count(DISTINCT CASE WHEN g4 THEN fp END) AS n_dedup
         |FROM g""".stripMargin,

    // E292: the replicate weights replay from the same integer
    // thresholds over the replayed md5 bucket; aggregates exact.
    "docs_bootstrap_reps" ->
      s"""$bootAggCtes
         |SELECT b, n_eff, wx_sum,
         |       round(CAST(wx_sum AS DOUBLE) / n_eff, 6) AS mean_chars
         |FROM agg""".stripMargin,

    "docs_bootstrap_ci" ->
      s"""$bootAggCtes,
         |m AS (SELECT b, CAST(wx_sum AS DOUBLE) / n_eff AS m FROM agg),
         |r AS (SELECT b, m, row_number() OVER (ORDER BY m, b) AS rk FROM m),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6)
         |                AS mean_chars
         |       FROM documents)
         |SELECT pt.n_docs, pt.mean_chars,
         |       (SELECT round(m, 6) FROM r WHERE rk = $BootLoRank) AS ci_lo,
         |       (SELECT round(m, 6) FROM r WHERE rk = $BootHiRank) AS ci_hi,
         |       CAST($BootReps AS BIGINT) AS n_reps
         |FROM pt""".stripMargin,

    // E300: the same weights re-grouped by source; per-stratum rank
    // ladder over surviving replicates.
    "docs_bootstrap_by_source" ->
      s"""WITH reps AS (SELECT unnest(generate_series(0, ${BootReps - 1})) AS b),
         |wr AS (SELECT source, b,
         |         ${bootWeightSql("doc_id || ':' || b")} AS w, n_chars
         |       FROM documents CROSS JOIN reps),
         |agg AS (SELECT source, b, CAST(sum(w) AS BIGINT) AS n_eff,
         |               CAST(sum(w * n_chars) AS BIGINT) AS wx_sum
         |        FROM wr GROUP BY source, b),
         |m AS (SELECT source, b, CAST(wx_sum AS DOUBLE) / n_eff AS m
         |      FROM agg WHERE n_eff > 0),
         |r AS (SELECT source, b, m, row_number() OVER (
         |        PARTITION BY source ORDER BY m, b) AS rk FROM m),
         |pt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |              round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6)
         |                AS mean_chars
         |       FROM documents GROUP BY source)
         |SELECT pt.source, pt.n_docs, pt.mean_chars,
         |       lo.ci_lo, hi.ci_hi
         |FROM pt
         |LEFT JOIN (SELECT source, round(m, 6) AS ci_lo FROM r
         |           WHERE rk = $BootLoRank) lo ON lo.source = pt.source
         |LEFT JOIN (SELECT source, round(m, 6) AS ci_hi FROM r
         |           WHERE rk = $BootHiRank) hi ON hi.source = pt.source""".stripMargin,

    "docs_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |                  CAST(${hexBucketSql("doc_id", EpochSalt)} AS BIGINT)
         |                    AS sort_key
         |           FROM documents),
         |s AS (SELECT doc_id, sort_key,
         |             CAST(sort_key % $EpochShards AS BIGINT) AS shard
         |      FROM h)
         |SELECT doc_id, sort_key, shard,
         |       CAST(row_number() OVER (PARTITION BY shard
         |         ORDER BY sort_key, doc_id) AS BIGINT) AS pos
         |FROM s""".stripMargin,

    "docs_quality_qnorm" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |           FROM documents),
         |q AS (SELECT doc_id, source, $qualitySql AS quality FROM d)
         |SELECT doc_id, source, quality,
         |       round(percent_rank() OVER (PARTITION BY source
         |         ORDER BY quality, doc_id), 6) AS calibrated
         |FROM q""".stripMargin,

    // E225: same sorted-source windows, same integer candidate levels,
    // same first-valid-segment rule.
    "docs_token_budget" ->
      s"""WITH per AS (SELECT source,
         |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |                      AS n_tokens
         |             FROM documents GROUP BY source),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_src,
         |              CAST(sum(n_tokens) AS BIGINT) AS total_tok,
         |              CAST((sum(n_tokens) * 9) // 10 AS BIGINT) AS budget,
         |              CAST(max(n_tokens) AS BIGINT) AS mx
         |       FROM per),
         |rk AS (SELECT source, n_tokens,
         |              row_number() OVER (ORDER BY n_tokens, source) AS i,
         |              coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, source
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                0) AS p_prev
         |       FROM per),
         |lv AS (SELECT CAST(min_by((tt.budget - rk.p_prev)
         |                          // (tt.n_src - rk.i + 1), rk.i) AS BIGINT)
         |                AS lvl
         |       FROM rk, tt
         |       WHERE rk.p_prev + (tt.n_src - rk.i + 1) * rk.n_tokens
         |               >= tt.budget
         |         AND (tt.budget - rk.p_prev) // (tt.n_src - rk.i + 1)
         |               < rk.n_tokens)
         |SELECT per.source, per.n_tokens,
         |       least(per.n_tokens, coalesce(lv.lvl, tt.mx)) AS allocated,
         |       per.n_tokens > coalesce(lv.lvl, tt.mx) AS capped,
         |       coalesce(lv.lvl, tt.mx) AS water_level
         |FROM per, lv, tt""".stripMargin,

    // E229: per-epoch alphas as a VALUES spine, E183's pow/normalize
    // replayed per epoch.
    "docs_mixture_anneal" -> {
      val vals = AnnealAlphas.zipWithIndex
        .map { case (a, e) => s"($e, CAST($a AS DOUBLE))" }.mkString(", ")
      s"""WITH per AS (SELECT source,
         |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |                      AS n_tokens
         |             FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
         |ep(epoch, alpha) AS (VALUES $vals),
         |p AS (SELECT ep.epoch, per.source, ep.alpha,
         |             pow(CAST(per.n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE),
         |                 ep.alpha) AS pw
         |      FROM per CROSS JOIN t CROSS JOIN ep),
         |z AS (SELECT epoch, sum(pw) AS z FROM p GROUP BY epoch)
         |SELECT p.epoch, p.source, p.alpha,
         |       round(p.pw / z.z, 6) AS weight
         |FROM p JOIN z ON z.epoch = p.epoch""".stripMargin
    },

    "docs_mixture_weights" ->
      s"""WITH per AS (SELECT source, count(*) AS n_docs,
         |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |                      AS n_tokens
         |             FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
         |p AS (SELECT source, n_docs, n_tokens,
         |             CAST(n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE) AS share,
         |             pow(CAST(n_tokens AS DOUBLE) / CAST(t.t AS DOUBLE),
         |                 $MixtureAlpha) AS pw
         |      FROM per CROSS JOIN t),
         |z AS (SELECT sum(pw) AS z FROM p)
         |SELECT source, n_docs, n_tokens, round(share, 6) AS raw_share,
         |       round(pw / z.z, 6) AS weight
         |FROM p CROSS JOIN z""".stripMargin,

    "docs_quality_psi" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |q AS (SELECT doc_id, $qualitySql AS quality FROM d),
         |b AS (SELECT CAST(least(floor(quality * 10), 9) AS BIGINT) AS bin,
         |             (doc_id % 2 = 0) AS is_ref
         |      FROM q),
         |cnt AS (SELECT bin,
         |               CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
         |                 AS n_ref,
         |               CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
         |                 AS n_cur
         |        FROM b GROUP BY bin),
         |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
         |             CAST(sum(n_cur) AS BIGINT) AS tc FROM cnt)
         |SELECT bin, n_ref, n_cur,
         |       round((CAST(n_cur + 1 AS DOUBLE) / CAST(t.tc + 10 AS DOUBLE)
         |              - CAST(n_ref + 1 AS DOUBLE) / CAST(t.tr + 10 AS DOUBLE))
         |             * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(t.tc + 10 AS DOUBLE))
         |                  / (CAST(n_ref + 1 AS DOUBLE) / CAST(t.tr + 10 AS DOUBLE))),
         |             6) AS psi_contrib
         |FROM cnt CROSS JOIN t""".stripMargin,

    "docs_shard_manifest" ->
      s"""WITH h AS (SELECT doc_id,
         |                  CAST(${hexBucketSql("doc_id", EpochSalt)} AS BIGINT)
         |                    AS sort_key,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT)
         |                    AS n_tok
         |           FROM documents)
         |SELECT CAST(sort_key % $EpochShards AS BIGINT) AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       min(sort_key) AS min_key,
         |       max(sort_key) AS max_key,
         |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM h GROUP BY 1""".stripMargin,

    // E284: identical exact arithmetic, UNION ALL of the seven rows.
    "docs_data_card" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(count(DISTINCT md5(text)) AS BIGINT) AS dd,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |                AS tt
        |            FROM documents),
        |tk AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS c FROM (
        |         SELECT unnest(string_split(text, ' ')) AS w
        |         FROM documents)),
        |tl AS (SELECT CAST(max(cn) AS BIGINT) AS mx,
        |              CAST(sum(cn) AS BIGINT) AS n FROM (
        |         SELECT count(*) AS cn FROM documents GROUP BY lang)),
        |ts AS (SELECT CAST(max(cn) AS BIGINT) AS mx,
        |              CAST(sum(cn) AS BIGINT) AS n FROM (
        |         SELECT count(*) AS cn FROM documents GROUP BY source))
        |SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM nd
        |UNION ALL
        |SELECT 'total_tokens', CAST(tt AS DOUBLE) FROM nd
        |UNION ALL
        |SELECT 'distinct_tokens', CAST(c AS DOUBLE) FROM tk
        |UNION ALL
        |SELECT 'exact_dup_rate',
        |       round(CAST(1 AS DOUBLE)
        |         - CAST(dd AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM nd
        |UNION ALL
        |SELECT 'mean_doc_tokens',
        |       round(CAST(tt AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM nd
        |UNION ALL
        |SELECT 'top_lang_share',
        |       round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM tl
        |UNION ALL
        |SELECT 'top_source_share',
        |       round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM ts"""
        .stripMargin,

    // E275: snake deal by token rank, perfect-balance mean ratio.
    "docs_shard_balance" ->
      s"""WITH t AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |           FROM documents),
         |r AS (SELECT doc_id, n_tok,
         |             row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1
         |               AS k
         |      FROM t),
         |a AS (SELECT n_tok,
         |             CASE WHEN ((k // $EpochShards) % 2) = 0
         |                  THEN k % $EpochShards
         |                  ELSE ${EpochShards - 1} - (k % $EpochShards) END
         |               AS shard
         |      FROM r),
         |g AS (SELECT CAST(shard AS BIGINT) AS shard,
         |             count(*) AS n_docs,
         |             CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |      FROM a GROUP BY shard),
         |m AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM g)
         |SELECT shard, n_docs, n_tokens,
         |       round(CAST(n_tokens AS DOUBLE) /
         |             (CAST((SELECT tt FROM m) AS DOUBLE)
         |                / ${EpochShards}.0), 6) AS rel_load
         |FROM g""".stripMargin)

  /** The TextOps.qualityScore formula over the `ws` token list (same
    * fragment shape as the TextQueries oracles — guarded CASE, same
    * cast points, 6-decimal round).
    */
  private def qualitySql: String =
    s"""round(least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) *
       |      (1.0 - abs((CASE WHEN len(ws) > 0
       |            THEN CAST(len(list_filter(ws, t -> t IN ${inList(TextOps.Stopwords)}))
       |                   AS DOUBLE) / CAST(len(ws) AS DOUBLE)
       |            ELSE 0.0 END) - 0.1)), 6)""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'${w.replace("'", "''")}'").mkString("(", ", ", ")")

  /** The docs_blocklist truth in DuckDB. */
  private def blocklistSql: String = {
    val phraseCases = BlockPhrases
      .map(p => s"(CASE WHEN contains(' ' || text || ' ', ' $p ') " +
        "THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |           FROM documents)
       |SELECT doc_id,
       |       CAST(len(list_filter(list_distinct(ws),
       |              t -> t IN ${inList(BlockTerms)})) AS INTEGER)
       |         AS n_term_hits,
       |       CAST($phraseCases AS INTEGER) AS n_phrase_hits,
       |       (len(list_filter(list_distinct(ws),
       |              t -> t IN ${inList(BlockTerms)}))
       |        + $phraseCases) > 0 AS blocked
       |FROM d""".stripMargin
  }
}
