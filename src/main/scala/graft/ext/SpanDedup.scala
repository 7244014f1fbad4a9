package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring detection (the Lee et al. 2021
  * "Deduplicating Training Data Makes Language Models Better" exact
  * n-gram-span tier): find every token position whose n-gram also
  * occurs in ANOTHER document, then merge overlapping/adjacent
  * duplicated n-grams into maximal spans per document. Complements the
  * document-level tiers (E1 exact, E2/E3 near) and the line-level chunk
  * grid (E137) with sub-document span granularity — the form used to
  * CUT duplicated passages out of kept documents rather than drop the
  * documents.
  *
  * Scale design: the n-grams are built scan-side with `transform` over
  * the token array (no shuffle, no explode-then-window). The lambda
  * evaluates interpreted; a flat explode(sequence)+slice projection is
  * codegen and measured 1.8× faster at fixture lengths — but it drags
  * the WHOLE token array through the generate, O(len²) bytes per doc,
  * which inverts for long documents. The transform form stays
  * O(len·n): each doc materializes its gram array once, rows after the
  * explode carry only (pos, key). Span merging is a per-document
  * gaps-and-islands window — partitioned by doc, never global.
  *
  * Gram key: `xxhash64` of the space-joined gram, so the shuffle
  * carries one long instead of n-token strings (~60× cheaper per call
  * than md5 + hex; bench_per_query.json at sf0.1 reads 1.89 s for the
  * find row with md5 keys and 1.28 s with these).
  * A 64-bit collision merges two distinct grams' doc-counts (it can
  * promote a unique gram to "duplicated", or a training gram to
  * "contaminated"). Over G distinct grams the expected number of
  * colliding pairs is G²/2⁶⁵ — below one up to G ≈ 6·10⁹, and at
  * G = 10¹³ a false-hit fraction of G/2⁶⁴ ≈ 5·10⁻⁷ of the grams: the
  * same birthday budget the MinHash tier accepts. The DuckDB oracles
  * key grams by md5 independently, so the gate checks the 64-bit keys
  * against a 128-bit truth.
  */
object SpanDedup {

  /** Every n-gram of the token array `ws` as a (pos, gh) struct, where
    * gh is the gram key (see the object Scaladoc).
    */
  private def gramKeys(n: Int): Column = expr(
    s"transform(sequence(0, size(ws) - $n), i -> " +
      s"named_struct('pos', i, 'gh', xxhash64(array_join(slice(ws, i + 1, $n), ' '))))")

  /** (doc_id, span_start, span_end, span_tokens) for every maximal
    * duplicated span: positions are 0-based token offsets, spans are
    * closed intervals, and two duplicated n-grams chain into one span
    * when their start positions differ by ≤ n (overlap or touch).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minDocs: Int): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      // The guard is load-bearing, not cosmetic: for size(ws) < n,
      // sequence(0, size - n) runs DESCENDING (Spark defaults step to
      // -1 when start > stop), and the i = -1 row feeds slice a start
      // of 0 — a runtime error under ANSI. Short docs must contribute
      // no grams, exactly like the oracle's empty generate_series.
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(gramKeys(n)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
      // r17: TWO consumers below (the dup-frequency aggregate and the
      // hits join), and Spark does not share non-exchanged subplans —
      // without this the whole tokenize → gram-build → digest pass ran
      // once per consumer. Lazy checkpoint: one gram pass per find.
      .localCheckpoint(false)
    // Grams repeated WITHIN one doc don't make it "duplicated" — the
    // signal is cross-document, hence count(DISTINCT doc).
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gh")
    val hits = grams.join(dup, "gh").select("doc_id", "pos")
    islandSpans(hits, n)
  }

  /** Gaps-and-islands merge of duplicated-gram hit positions into
    * maximal spans: a new island starts when the previous hit is more
    * than n positions back (its span can no longer overlap or touch
    * this one). Shared by the duplication tier and the E240
    * contamination tier — one span rule, two hit sources.
    */
  private def islandSpans(hits: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0)).otherwise(lit(1)))
      .withColumn("isl",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("max_pos"))
      .select(col("doc_id"),
        col("span_start"),
        (col("max_pos") + lit(n - 1)).as("span_end"),
        (col("max_pos") + lit(n) - col("span_start")).as("span_tokens"))
  }

  /** SPAN-LEVEL eval decontamination (E240) — the surgical variant of
    * the doc-level overlap flag (E69): for every TRAINING doc (rows
    * where `evalPred` is false), the maximal spans whose n-grams
    * appear verbatim anywhere in the EVAL slice (`evalPred` true).
    * Doc-level decontam throws away a whole document for one leaked
    * paragraph; span-level finds exactly the leaked text, and
    * [[decontamExciseFromSpans]] cuts it — what production pipelines
    * run when the corpus is too valuable to drop wholesale (the Lee et
    * al. machinery pointed at a reference set instead of at
    * duplication).
    *
    * Scale shape: identical to [[duplicatedSpans]] — gram keys
    * shuffle, text does not; the eval gram set is bounded by the eval
    * slice (by definition tiny next to the corpus) and rides a
    * semi-join, so training grams that match nothing never leave
    * their partition with more than a key.
    */
  def contaminationSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, evalPred: Column): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), evalPred.as("is_eval"),
        split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= n) // same short-doc guard as above
      .select(col("doc_id"), col("is_eval"), explode(gramKeys(n)).as("g"))
      .select(col("doc_id"), col("is_eval"),
        col("g.pos").as("pos"), col("g.gh").as("gh"))
      // r17: same two-consumer dedup as duplicatedSpans (eval-gram set
      // + training-side hits) — one gram pass instead of two.
      .localCheckpoint(false)
    val evalGrams = grams.filter(col("is_eval")).select("gh").distinct()
    val hits = grams.filter(!col("is_eval"))
      .join(evalGrams, Seq("gh"), "left_semi")
      .select("doc_id", "pos")
    islandSpans(hits, n)
  }

  /** The CUT stage over a persisted [[duplicatedSpans]] table (r16):
    * every document rewritten with its duplicated spans excised
    * (tokens at positions inside any span dropped, survivors rejoined
    * with single spaces), plus the accounting a curation funnel
    * reports (span count, token count before, tokens cut). Documents
    * with no spans pass through with their ORIGINAL text byte-for-byte
    * (no split/rejoin round trip to perturb whitespace). Policy: cut
    * every occurrence — the conservative memorization-first variant of
    * Lee et al. 2021 §4 (which retains one occurrence corpus-wide);
    * retaining one would make each doc's output depend on a global
    * argmin over other docs, an ordering a distributed rewrite has no
    * business coupling to.
    *
    * Scale shape: the span table is aggregated to one (start, end)
    * array per affected doc — spans are maximal and disjoint by
    * construction, so a doc carries few of them — and joined back by
    * id. The rewrite is then a single scan-side projection: filter the
    * token array by position against the tiny per-row span array,
    * O(len·spans) with no explode of the corpus token stream (a flat
    * posexplode+anti-join would shuffle every token of every document
    * to cut a sliver of them). The lambda evaluates interpreted (the
    * SpanDedup tradeoff above, same verdict): it touches only
    * span-bearing docs' arrays once; the docs without spans short-
    * circuit on the null join miss before the HOF runs.
    *
    * The span table is the find artifact round-tripped through parquet
    * (longs/ints, exact) — the production shape (Lee et al.): find
    * once per corpus snapshot, and every rewrite batch only cuts.
    */
  def exciseFromSpans(docs: DataFrame, idCol: String, textCol: String,
                      spanTable: DataFrame): DataFrame =
    exciseUsing(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      spanTable)

  /** The CUT stage over a persisted [[contaminationSpans]] table:
    * every TRAINING doc rewritten with its eval-overlapping spans
    * excised, by the same rewrite as [[exciseFromSpans]]; eval docs
    * are not part of the output — they are the reference set, not the
    * corpus.
    */
  def decontamExciseFromSpans(docs: DataFrame, idCol: String,
                              textCol: String, evalPred: Column,
                              spanTable: DataFrame): DataFrame =
    exciseUsing(
      docs.filter(!evalPred).select(col(idCol).as("doc_id"),
        col(textCol).as("text")),
      spanTable)

  /** The cut stage over a caller-supplied span table — shared by the
    * duplication (E206) and contamination (E240) tiers.
    */
  private def exciseUsing(docs: DataFrame, spanTable: DataFrame): DataFrame = {
    val spans = spanTable
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).cast("long").as("tokens_cut"))
    docs
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
        when(col("spans").isNull, col("text")).otherwise(array_join(
          expr("""transform(
                 |  filter(transform(split(text, ' '), (w, i) -> struct(w, i)),
                 |         t -> !exists(spans,
                 |                sp -> t.i >= sp.span_start AND t.i <= sp.span_end)),
                 |  t -> t.w)""".stripMargin), " ")).as("text_clean"))
  }
}
