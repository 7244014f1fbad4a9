package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract meta-invariants: the things a one-character typo
  * could silently break without any query failing.
  */
class ContractSpec extends AnyFunSuite {

  /** Every group of rows whose oracle SQL is the same text, with why
    * each keeps its own row: a shared oracle means the rows answer one
    * question, so each row must gate a feature the others do not.
    */
  private val SharedOracles: Map[Set[String], String] = Map(
    Set("cdc_parse", "cdc_parse_avro", "cdc_parse_sql") ->
      "one decode through three input surfaces: JSON, Confluent Avro, SQL",
    Set("cdc_route", "cdc_route_par", "cdc_route_typed") ->
      "one route through the DataFrame, repartitioned and typed Dataset plans",
    Set("cdc_compact", "cdc_merge_apply") ->
      "cdc_merge_apply gates MergeInto + TxTable",
    Set("events_idempotent_replay", "events_txsink_replay") ->
      "two sinks: dynamic partition overwrite and the TxTable commit log",
    Set("docs_dup_clusters", "docs_dup_clusters_star") ->
      "two connected-components fixpoints, each faster on some graph shape",
    Set("rel_top_orders_native", "rel_top_orders_rewrite") ->
      "the TopKPerKey node and the optimizer rule that plans it",
    Set("emb_pca_merge", "emb_pca_top") ->
      "PCA from merged shard moments against the one-pass fit",
    Set("emb_graph_persisted", "emb_graph_search") ->
      "the persisted graph index round trip",
    Set("emb_persisted_topk", "emb_topk_ivfpq_residual") ->
      "the persisted IVF-PQ index round trip")

  /** Twin rows retired because one tier serves the operator; none of
    * these may come back as a second row on a shared oracle.
    */
  private val RetiredTwins = Set(
    "docs_blocklist_join", "docs_domain_blocklist_join",
    "docs_line_boilerplate_join", "docs_dup_spans_fast",
    "docs_span_excise_fast")

  test("rows that share an oracle are listed with the feature each gates") {
    val groups = SparkEntry.oracleSql.toSeq.groupMap(_._2)(_._1).values
      .filter(_.size > 1).map(_.toSet).toSet
    val unlisted = groups -- SharedOracles.keySet
    assert(unlisted.isEmpty,
      s"rows share an oracle without a listed reason: $unlisted")
    val stale = SharedOracles.keySet -- groups
    assert(stale.isEmpty, s"listed groups no longer share an oracle: $stale")
    assert(RetiredTwins.intersect(SparkEntry.queries.keySet).isEmpty)
  }

  test("every registered query has an oracle and every oracle a query") {
    // A query without an oracle silently downgrades to the driver's
    // weaker rows-only check; an oracle without a query is dead SQL
    // that suggests a renamed/dropped query. All current operators are
    // oracle-checkable, so the sets must match exactly — a future
    // intentionally-oracle-less query should be added to an explicit
    // allowlist here, not slip through.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("query names never collide across family maps") {
    // SparkEntry merges the family maps with ++, which silently keeps
    // the LAST duplicate — a collision would shadow one operator's
    // query with another's.
    val families = Seq(
      "cdc" -> graft.queries.CdcQueries.queries,
      "dedup" -> graft.queries.DedupQueries.queries,
      "similarity" -> graft.queries.SimilarityQueries.queries,
      "text" -> graft.queries.TextQueries.queries,
      "multimodal" -> graft.queries.MultimodalQueries.queries,
      "window" -> graft.queries.WindowQueries.queries,
      "relational" -> graft.queries.RelationalQueries.queries,
      "advanced" -> graft.queries.AdvancedQueries.queries,
      "curation" -> graft.queries.CurationQueries.queries,
      "analytics" -> graft.queries.AnalyticsQueries.queries,
      "source" -> graft.queries.SourceQueries.queries,
      "retrieval" -> graft.queries.RetrievalQueries.queries)
    val all = families.flatMap { case (fam, m) => m.keys.map(_ -> fam) }
    val dups = all.groupMap(_._1)(_._2).filter(_._2.size > 1)
    assert(dups.isEmpty, s"colliding query names: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("oracle SQL is single-statement and names its tables from the fixture set") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // ';' INSIDE a SQL string literal is data (the E233 oracle carries
    // HTML entities like '&amp;'), not a statement separator — strip
    // quoted literals (with '' escapes) before checking.
    def outsideLiterals(sql: String): String = {
      val sb = new StringBuilder
      var i = 0
      var inLit = false
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (c == '\'') inLit = !inLit // '' escape = two toggles, stays out
        else if (!inLit) sb += c
        i += 1
      }
      sb.toString
    }
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!outsideLiterals(sql).contains(";"),
        s"$name: bare ';' would break the driver's single-statement run")
      assert(tables.exists(t => sql.contains(t)),
        s"$name: oracle references no fixture table")
    }
  }
}
