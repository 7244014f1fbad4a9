package graft.queries

import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Plan audits: the physical properties the 100 TB design relies on,
  * pinned as assertions so a refactor that silently loses them fails
  * CI instead of shipping a 100× regression.
  */
class PlanAuditSpec extends SparkSpec {

  private def scans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  test("filter pushdown reaches the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val meta = scans(df).head.metadata
    assert(meta("PushedFilters").contains("GreaterThan(l_quantity"),
      s"no pushed filter: ${meta("PushedFilters")}")
  }

  test("column pruning: a two-column projection reads two columns") {
    val df = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val schema = scans(df).head.requiredSchema.fieldNames.toSet
    assert(schema == Set("l_orderkey", "l_quantity"),
      s"scan reads more than projected: $schema")
  }

  test("small dims broadcast in the revenue join (no dim shuffle)") {
    val plan = RelationalQueries.queries("rel_revenue_by_nation")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("Q3-shape stressor: filters reach every scan and the optimizer " +
      "picks broadcast joins with no hints") {
    val df = RelationalQueries.queries("rel_shipping_priority")(spark, sfDir)
    // (a) each table's selective filter is pushed below the joins, all
    // the way into its parquet scan. sparkPlan, not executedPlan: this
    // query has exchanges, so AQE wraps the executed plan in an opaque
    // AdaptiveSparkPlanExec that a collect() does not traverse.
    val pushed = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(c_mktsegment,BUILDING)")),
      s"customer filter not pushed: $pushed")
    assert(pushed.exists(_.contains("LessThan(o_orderdate")),
      s"orders filter not pushed: $pushed")
    assert(pushed.exists(_.contains("GreaterThan(l_shipdate")),
      s"lineitem filter not pushed: $pushed")
    // (b) run it so AQE finalizes, then assert the joins became
    // broadcast-hash (size estimates alone must get there — the query
    // carries no hints)
    assert(df.collect().nonEmpty)
    // when AQE re-plans, toString prints BOTH "Final Plan" and
    // "Initial Plan" sections — judge only the final section, or a
    // correct runtime SMJ→BHJ conversion would false-fail on the
    // initial plan's text
    val planText = df.queryExecution.executedPlan.toString
    val finalPlan = planText.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"no broadcast join in the finalized plan:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"dim join stayed sort-merge despite broadcastable sides:\n$finalPlan")
  }

  test("emb_topk scores through a BroadcastHashJoin, not a nested loop") {
    val plan = SimilarityQueries.queries("emb_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"brute-force scoring lost its equi-bucket BHJ:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"brute-force scoring regressed to a nested loop:\n$plan")
  }

  test("docs_chunk plans with zero exchanges (one narrow codegen pass)") {
    // sparkPlan, not executedPlan: if a regression ever ADDS a shuffle,
    // AQE would wrap the executed plan in an opaque leaf and the
    // executedPlan collect would vacuously stay empty — the pre-AQE
    // physical plan always exposes the exchange
    val chunk = CurationQueries.queries("docs_chunk")(spark, sfDir)
    val exchanges = chunk.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"docs_chunk gained a shuffle:\n${chunk.queryExecution.sparkPlan}")
  }

  test("similarity scoring carries no interpreted HOF cast " +
      "(native array cast, codegen'd)") {
    val plan = SimilarityQueries.queries("emb_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"),
      s"interpreted HOF found in the scoring plan:\n$plan")
  }

  test("docs_bm25 scores in ONE token pass: no shuffle join, bounded " +
      "exchanges") {
    val df = RetrievalQueries.queries("docs_bm25")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan
    val text = plan.toString
    // the one-pass design has no doc-keyed join at all — stats ride a
    // 1-row broadcast attach; a rewrite that reintroduces the tf×dl
    // join shape would show up as a shuffle join here
    assert(!text.contains("SortMergeJoin") && !text.contains("ShuffledHashJoin"),
      s"BM25 gained a shuffle join:\n$text")
    // exactly: per-doc token agg, 1-row stats agg, global rank window
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 3,
      s"BM25 exchange count grew to ${exchanges.size}:\n$text")
  }

  test("the rule-gate tier (gopher gate, blocklist, logreg) plans as " +
      "pure scan projections: zero exchanges") {
    // the literal-folded deploy shape is the POINT of these operators
    // (E166/E175/E177): a rewrite that sneaks a join or aggregation in
    // front of the per-row verdict breaks the 100 TB story
    // executedPlan strings: exchanges only exist after
    // EnsureRequirements, and sparkPlan-based collect would pass
    // vacuously
    val plans = Seq(
      "docs_gopher_gate" -> TextQueries.queries("docs_gopher_gate"),
      "docs_quality_logreg" -> TextQueries.queries("docs_quality_logreg"),
      "docs_blocklist" -> CurationQueries.queries("docs_blocklist"))
    for ((name, q) <- plans) {
      val text = q(spark, sfDir).queryExecution.executedPlan.toString
      assert(!text.contains("Exchange"), s"$name gained a shuffle:\n$text")
      assert(text.contains("FileScan parquet"), s"$name lost its scan:\n$text")
    }
  }

  test("epoch shuffle exchanges once (the shard hash-partition), " +
      "never globally sorts") {
    // executedPlan, not sparkPlan: exchanges only exist after
    // EnsureRequirements runs
    val text = CurationQueries.queries("docs_epoch_shuffle")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(text).length
    assert(n == 1,
      s"epoch shuffle should hash-exchange exactly once, saw $n:\n$text")
    // a global orderBy would appear as a range partitioning
    assert(!text.contains("rangepartitioning"),
      s"epoch shuffle regressed to a global sort:\n$text")
  }

  test("docs_bigrams derives adjacency without a window sort") {
    // the positional pair projection replaced a lead() window; a
    // regression back would reintroduce Window + Sort before the count
    val plan = CurationQueries.queries("docs_bigrams")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"bigram adjacency regressed to a sorted window:\n$plan")
  }

  test("docs_bigram_lm builds adjacency scan-side too (no window sort)") {
    val plan = TextQueries.queries("docs_bigram_lm")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"),
      s"bigram-LM adjacency regressed to a lead() window:\n$plan")
  }

  test("docs_decontam broadcasts the eval-gram set (corpus never " +
      "shuffles before the match)") {
    val plan = CurationQueries.queries("docs_decontam")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"decontamination lost its broadcast join:\n$plan")
  }

  // Parameterized over sf0.001 AND sf0.1: bucket-join planning can
  // legitimately differ with file counts and relation sizes (bucket
  // pruning, coalescing), so the zero-shuffle claim is pinned at both
  // the iteration scale and the driver's bench scale (VERDICT r7 #3).
  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1"))
  test(s"bucketed co-located join plans without a shuffle exchange ($dir)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val tag = Integer.toHexString(dir.hashCode)
    val (ordersTbl, custTbl) = (s"graft_orders_b_$tag", s"graft_cust_b_$tag")
    val conf = spark.conf
    val prevThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      // force the shuffle-join path so bucketing (not broadcast) is
      // what must eliminate the exchanges; static plan for inspection
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")

      Tables.orders(spark, dir)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey")
        .option("path", s"$tmp/orders_b").saveAsTable(ordersTbl)
      Tables.customer(spark, dir)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey")
        .option("path", s"$tmp/cust_b").saveAsTable(custTbl)

      val joined = spark.table(ordersTbl)
        .join(spark.table(custTbl),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")

      // and it computes the same rows as the plain join
      val expected = Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .count()
      assert(joined.count() == expected && expected > 0)

      // The production rel_bucketed_join query (the oracle-checked path
      // through saveAsTable + catalog read-back + groupBy) may shuffle
      // exactly once — for its aggregation — never for the join.
      val prod = SourceQueries.queries("rel_bucketed_join")(spark, dir)
      val prodExchanges = prod.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(prodExchanges.size <= 1,
        s"rel_bucketed_join's join shuffles at $dir:\n" +
          prod.queryExecution.executedPlan)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql(s"DROP TABLE IF EXISTS $ordersTbl")
      spark.sql(s"DROP TABLE IF EXISTS $custTbl")
    }
  }

  test("Q10-shape: returnflag filter reaches the lineitem scan and " +
      "dims broadcast") {
    val df = AnalyticsQueries.queries("rel_returned_revenue")(spark, sfDir)
    val pushed = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(l_returnflag,R)")),
      s"returnflag filter not pushed: $pushed")
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("Q18-shape: the quantity aggregate runs on lineitem grain " +
      "below the orders join") {
    val df = RelationalQueries.queries("rel_big_qty_orders")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    // the HAVING-subquery aggregate must appear under the join (shrink
    // first, join second), and the customer decode must broadcast
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0, s"no hash aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    // tree renders root-first, so "join above aggregate" in the plan
    // text means the aggregate feeds the join, not vice versa
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && joinIdx < aggIdx,
      s"quantity aggregate is not below the join:\n$plan")
  }

  test("containment prefix-filter join is equi-keyed (no nested loop)") {
    val df = DedupQueries.queries("docs_containment")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment join degenerated to a product:\n$plan")
  }

  test("salted join shuffles on (key, salt), spreading hot keys") {
    val df = AdvancedQueries.queries("events_salted_join")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"salted join is not the pinned shuffle join:\n$plan")
    val keysLine = plan.linesIterator.find(_.contains("SortMergeJoin")).get
    assert(keysLine.contains("salt"),
      s"salt is not a join key — skew would concentrate again:\n$keysLine")
  }

  test("Q5-shape SQL entry: filters push to the scans exactly as in " +
      "DataFrame form") {
    // rel_local_supplier_volume is authored as pure SQL over
    // parquet.`path` refs — the migration path must lose nothing:
    // the region literal and the date range both reach their scans.
    val df = RelationalQueries.queries("rel_local_supplier_volume")(spark, sfDir)
    val pushed = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .map(_.metadata("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(r_name,ASIA)")),
      s"region filter not pushed: $pushed")
    assert(pushed.exists(_.contains("GreaterThanOrEqual(o_orderdate")),
      s"date filter not pushed: $pushed")
  }

  test("SHUFFLE_HASH hint overrides the sort-merge default") {
    // The skew/bucketing toolkit assumes hints are honored; a Spark
    // upgrade that silently drops them would invalidate E99's salted
    // join design. Sanity-pin both directions on the same join.
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    val merged = l.join(o.hint("MERGE"), col("l_orderkey") === col("o_orderkey"))
    assert(merged.queryExecution.sparkPlan.toString.contains("SortMergeJoin"))
    val hashed = l.join(o.hint("SHUFFLE_HASH"),
      col("l_orderkey") === col("o_orderkey"))
    val plan = hashed.queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"hint ignored:\n$plan")
  }

  test("AQE coalesces an over-partitioned aggregate at runtime") {
    // 32 shuffle partitions for 25 rows is the static mistake AQE's
    // coalescing repairs: after execution the shuffle read must have
    // been merged below the static partition count — the runtime
    // repartition knob the 100 TB configs rely on instead of
    // per-query hand tuning.
    val df = Tables.nation(spark, sfDir)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead") &&
        finalPlan.contains("coalesced"),
      s"AQE coalescing did not engage:\n$finalPlan")
  }

  test("Q21-shape: EXISTS/NOT EXISTS plan as semi and anti joins with " +
      "a broadcast supplier decode") {
    val df = RelationalQueries.queries("rel_waiting_supplier")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi join in:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"supplier decode not broadcast in:\n$plan")
    // The semi/anti self-joins must carry only (orderkey, suppkey)
    // pairs: every lineitem scan reads at most those plus the flag.
    val liScans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .filter(_.requiredSchema.fieldNames.exists(_.startsWith("l_")))
    assert(liScans.nonEmpty)
    liScans.foreach { s =>
      val cols = s.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("l_orderkey", "l_suppkey", "l_returnflag")),
        s"self-join scan reads payload columns: $cols")
    }
  }

  test("Q17-shape: the correlated avg subquery decorrelates to one " +
    "per-part aggregate joined back (no per-row re-execution)") {
    val df = RelationalQueries.queries("rel_small_qty_revenue")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    // A surviving correlated subquery shows up as a (Broadcast)NestedLoop
    // or an InSubquery/scalar-subquery node per row; the decorrelated
    // shape is equi-joins only, with an avg aggregate keyed on l_partkey.
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated subquery did not decorrelate:\n$plan")
    assert(plan.contains("avg("), s"no decorrelated avg aggregate:\n$plan")
  }

  test("LATERAL top-k decorrelates to a ranking window, not a " +
    "per-nation re-scan") {
    val df = RelationalQueries.queries("rel_lateral_topk")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"lateral join executed as a product:\n$plan")
    // One customer scan total — per-outer-row re-execution would need
    // the subquery's scan under a nested-loop driver. The window
    // rewrite shows up as the rank filter over one scan.
    val customerScans = "customer\\.parquet".r.findAllIn(plan).length
    assert(customerScans == 1, s"customer scanned $customerScans times:\n$plan")
    assert(plan.contains("rn") || plan.contains("row_number"),
      s"no ranking-window rewrite visible:\n$plan")
  }

  test("Q14-shape: the month filter reaches the lineitem scan and the " +
    "part dim broadcasts") {
    val df = RelationalQueries.queries("rel_promo_revenue")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$plan")
    val liScans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .filter(_.requiredSchema.fieldNames.exists(_.startsWith("l_")))
    assert(liScans.nonEmpty, s"no lineitem scan found:\n$plan")
    assert(liScans.exists(
      _.metadata("PushedFilters").contains("GreaterThanOrEqual(l_shipdate")),
      s"month filter not pushed: ${liScans.map(_.metadata("PushedFilters"))}")
  }

  test("Q22-shape: the anti join's build side reads ONE orders column " +
    "with the date filter pushed") {
    val df = RelationalQueries.queries("rel_idle_customers")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    val ord = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .filter(_.requiredSchema.fieldNames.exists(_.startsWith("o_")))
    assert(ord.nonEmpty, s"no orders scan found:\n$plan")
    assert(ord.exists(_.requiredSchema.fieldNames.toSet ==
      Set("o_custkey", "o_orderdate")),
      s"orders scan reads more than the key+filter columns: " +
        s"${ord.map(_.requiredSchema.fieldNames.mkString("/"))}")
    assert(ord.exists(
      _.metadata("PushedFilters").contains("GreaterThanOrEqual(o_orderdate")),
      s"recency filter not pushed: ${ord.map(_.metadata("PushedFilters"))}")
  }

  test("rolling-distinct sketch series scans events ONCE per branch " +
    "and the day spine broadcasts into the range join") {
    val df = AnalyticsQueries.queries("events_rolling_distinct")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"day spine not broadcast into the window join:\n$plan")
    // Branches: sketch cells, exact anchor, and each branch's tiny day
    // spine — the rolling window itself must NOT re-scan events per
    // day (30 days would mean ~30 scans).
    val eventsScans = "events\\.parquet".r.findAllIn(plan).length
    assert(eventsScans <= 4, s"events scanned $eventsScans times:\n$plan")
  }

  test("Q19-shape: each side's disjunctive envelope is extracted from " +
    "the OR-of-brackets and pushed to its scan") {
    // the brackets constrain (p_brand, p_size) and l_quantity jointly;
    // without CNF extraction neither scan could skip anything and the
    // full tables would flow into the join.
    val pushed = RelationalQueries.queries("rel_bracket_revenue")(spark, sfDir)
      .queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed.exists(p => p.contains("Or(") &&
      p.contains("EqualTo(p_brand,Brand#1)") && p.contains("p_size")),
      s"part-side OR envelope not pushed: $pushed")
    assert(pushed.exists(p => p.contains("Or(") &&
      p.contains("GreaterThanOrEqual(l_quantity,1.0)")),
      s"lineitem-side quantity OR envelope not pushed: $pushed")
  }

  test("production MinHash candidates: signature stays scan-side (no " +
    "shingle Generate, no groupBy(id) signature exchange)") {
    // The r3/r4 win this pins: MinHashSig computes the whole 32-bin
    // signature inside the scan projection, so the plan must carry
    // exactly two hash exchanges — band buckets and the pair distinct —
    // and the only Generates are the 8-wide band posexplode and the
    // pair explode. A regression to the explode pipeline would add a
    // corpus-wide shingle Generate plus a hashpartitioning(id) exchange
    // to rebuild signatures — the two shapes asserted away here.
    // executedPlan (AQE off for traversability): EnsureRequirements is
    // what inserts the aggregate exchanges, so the pre-execution
    // sparkPlan cannot witness them.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.ext.Dedup.nearDupCandidatesNative(
        Tables.documents(spark, sfDir), "doc_id", "text",
        n = 3, word = true, threshold = 0.5)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val hashEx = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashEx.size == 2,
      s"expected band-bucket + distinct exchanges only, got:\n$plan")
    assert(hashEx.exists { e =>
      val p = e.outputPartitioning.toString
      p.contains("band_idx") && p.contains("band_hash")
    }, s"no band-keyed exchange: ${hashEx.map(_.outputPartitioning)}")
    assert(!hashEx.exists(_.outputPartitioning.toString.matches(
      ".*hashpartitioning\\(id#\\d+L?(, \\d+)?\\).*")),
      "signature-wide groupBy(id) exchange reappeared: " +
        s"${hashEx.map(_.outputPartitioning)}")
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 2,
      s"expected band posexplode + pair explode only, got " +
        s"${gens.size} Generates:\n$plan")
    assert(!gens.exists(_.generator.references.exists(_.name == "text")),
      s"a Generate consumes raw text (shingle explode is back):\n$plan")
  }

  test("cdc_route is one narrow stage: zero exchanges, no wide " +
    "operator, rules inside codegen") {
    // SURVEY §4's "single narrow stage" claim, pinned: parse → filter →
    // route → passthrough must plan as a scan→project→generate chain
    // with no exchange and no wide operator anywhere — the shape that
    // runs one task per Kafka partition with zero data movement. The
    // native cdc_envelope decode is codegen-resident (unlike the old
    // JsonToStructs CodegenFallback) and the silent-drop is a 0-or-1
    // Generate (per-row, narrow — a Filter here would be pushed through
    // the parse projection and re-inline the decode per predicate; see
    // Pipeline.forward). executedPlan: with zero exchanges AQE never
    // wraps the plan, and codegen stages only exist
    // post-CollapseCodegenStages.
    val df = CdcQueries.queries("cdc_route")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty, s"cdc_route gained a shuffle:\n$plan")
    val narrow = Set("WholeStageCodegen", "InputAdapter", "Project",
      "Filter", "Generate", "ColumnarToRow", "Scan parquet", "FileScan")
    val wide = plan.collect {
      case n if !narrow.exists(n.nodeName.contains(_)) => n.nodeName
    }
    assert(wide.isEmpty, s"non-narrow operator(s) $wide in:\n$plan")
    // the route kernel runs exactly once per row, inside a codegen span
    // (a second copy is the fold-evaluated-twice-in-Generate regression)
    def kernels(p: SparkPlan) =
      p.expressions.flatMap(_.collect {
        case r: graft.functions.RouteTable => r
      })
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    assert(plan.flatMap(kernels).size == 1,
      s"expected one route_table in the executed plan:\n$plan")
    val inCodegen = plan.collect {
      case w: WholeStageCodegenExec => fused(w.child).flatMap(kernels)
    }.flatten
    assert(inCodegen.size == 1, s"route kernel fell out of codegen:\n$plan")
  }

  test("Q6 shape: every predicate pushed to the scan, four-column read") {
    // rel_forecast_revenue's cost at 100 TB IS the scan — pin that the
    // date range, discount band, and quantity cap all reach
    // PushedFilters and the read schema holds exactly the 4 referenced
    // columns.
    val df = RelationalQueries.queries("rel_forecast_revenue")(spark, sfDir)
    val scan = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    for (p <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(p), s"missing pushed filter $p in: $pushed")
    assert(scan.requiredSchema.fieldNames.toSet ==
      Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"),
      s"scan reads more than needed: ${scan.requiredSchema.fieldNames.toSet}")
  }

  test("Q16 shape: supplier blacklist applies as a broadcast anti join") {
    // Assert on the STATIC plan: at this fixture scale the blacklist
    // is empty, so AQE's empty-relation propagation (correctly)
    // eliminates the runtime join — the property to pin is that the
    // NOT IN shape compiles to a broadcast anti join, never a
    // sort-merge or nested-loop.
    val df = RelationalQueries.queries("rel_part_supplier_counts")(spark, sfDir)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftAnti"),
      s"NOT IN shape lost its anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"one-column blacklist should broadcast, not sort-merge:\n$plan")
  }

  test("self-referencing aggregates scan the fact table ONCE " +
    "(Q15/Q20 shapes)") {
    // An aggregate compared against an aggregate of itself (max-scalar
    // filter, window total, fraction-of-total HAVING) must not
    // recompute its subtree: Q15 and Q11 rely on ReusedExchange (Q15's
    // explicit isNotNull keeps the branches canonically equal), Q20 on
    // the window-over-aggregate formulation. A second lineitem scan
    // here silently doubles the dominant cost at 100 TB.
    for (q <- Seq("rel_top_supplier", "rel_promo_suppliers",
        "rel_important_parts")) {
      val df = RelationalQueries.queries(q)(spark, sfDir)
      assert(df.collect().nonEmpty)
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val liScans = "lineitem\\.parquet".r.findAllIn(finalPlan).length
      assert(liScans == 1,
        s"$q scans lineitem $liScans times:\n$finalPlan")
    }
  }

  test("_metadata provenance columns keep pruning and pushdown intact") {
    // E159: projecting file_name/row_index must stay a reader-local
    // decoration — same two data columns read, a data filter still
    // pushed. If _metadata ever forced a full-schema read (or blocked
    // pushdown), the "free provenance" claim would quietly cost a
    // full-width 100 TB scan.
    val df = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"),
        col("_metadata.file_name"), col("_metadata.row_index"))
    val scan = scans(df).head
    // Spark materializes row_index through a reader-internal
    // `_tmp_metadata_row_index` column (constant-footprint bookkeeping,
    // not a data column) — only real data columns count as "the read".
    val dataCols = scan.requiredSchema.fieldNames
      .filterNot(_ == "_metadata")
      .filterNot(_.startsWith("_tmp_metadata_"))
      .toSet
    assert(dataCols == Set("doc_id", "lang"),
      s"provenance projection widened the read: $dataCols")
    assert(scan.metadata("PushedFilters").contains("EqualTo(lang,en)"),
      s"filter lost under _metadata: ${scan.metadata("PushedFilters")}")
  }

  test("no query's optimizer run multiplies an expensive expression " +
      "(corpus-wide duplication audit)") {
    // The pathology this pins: Catalyst pushes a Filter through a Project
    // by INLINING the aliased expression into the predicate, so a filter
    // over a derived column can re-materialize an expensive decode once
    // per predicate occurrence — the route lane carried TEN copies of the
    // envelope parse in its optimized plan (3× measured) until
    // Pipeline.forward switched to a generator. This audit counts
    // expensive-expression markers in every query's analyzed vs optimized
    // plan and fails on any ≥2× multiplication, so the next
    // filter-over-expensive-projection can't land silently anywhere in
    // the full registered-query surface (338 at r15). Plans only — nothing executes.
    val markers = Seq("regexp_extract", "regexp_replace", "xxhash64",
      "cdc_envelope", "from_json", "transform(", "aggregate(", "md5(",
      "RLIKE", "route_table(", "split(", "sha2(")
    def count(h: String, n: String): Int = {
      var c = 0; var i = h.indexOf(n)
      while (i >= 0) { c += 1; i = h.indexOf(n, i + 1) }
      c
    }
    // Optimizer-INJECTED runtime Bloom filters (InjectRuntimeFilter)
    // legitimately introduce one xxhash64 per bloom_filter_agg build
    // and one per might_contain probe — that is a new beneficial
    // computation (the E85 pattern), not a duplicated user expression;
    // discount those sites before judging multiplication.
    def adjusted(h: String, m: String): Int = {
      val raw = count(h, m)
      if (m == "xxhash64")
        raw - count(h, "bloom_filter_agg(xxhash64") -
          count(h, "might_contain(")
      else raw
    }
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val qe = fn(spark, sfDir).queryExecution
        val an = qe.analyzed.toString
        val op = qe.optimizedPlan.toString
        markers.flatMap { m =>
          val a = adjusted(an, m); val o = adjusted(op, m)
          // ≥2× AND ≥3 extra sites: constant-folding can legitimately
          // clone a marker once or twice (e.g. a literal split shared
          // into two branches); systematic inlining shows up far above
          // that.
          if (o >= 2 * a.max(1) && o - a >= 3) Some(s"$name $m:$a->$o")
          else None
        }
    }
    assert(offenders.isEmpty,
      s"optimizer multiplied expensive expressions:\n${offenders.mkString("\n")}")
  }

  test("no unpartitioned window ranks an UNREDUCED corpus input " +
      "(corpus-wide audit)") {
    // The pathology this pins (VERDICT r14 #1): a ranking window with an
    // EMPTY partitionSpec over a corpus-proportional input plans as ONE
    // SinglePartition WindowExec — every corpus row sorts on one core, the
    // E101/E149 cliff. docs_hybrid_rrf's dense leg did exactly that until
    // r15 routed it through the E6 bounded-heap top-S. The audit walks
    // every registered query's OPTIMIZED logical plan: any Window with no
    // partition keys whose child subtree reaches a fixture-table scan
    // without passing a REDUCING node (Aggregate, Local/GlobalLimit —
    // orderBy+limit plans as the distributed TakeOrderedAndProject heap)
    // fails. Approximation, stated openly: a grouped Aggregate counts as
    // reducing even when its key is high-cardinality — vocabulary ranks,
    // per-group sketch summaries and bootstrap replicates all pass through
    // aggregates and are the documented bounded-window convention; the
    // audit's target is the window-directly-over-scan/join/project shape,
    // which no aggregate can hide. Plans only — nothing executes.
    import org.apache.spark.sql.catalyst.plans.logical._
    val bigTables = Seq("documents", "embeddings", "lineitem", "orders",
      "events", "customer", "partsupp", "supplier", "part")
    def corpusScaled(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: GlobalLimit | _: LocalLimit => false
      case l: LeafNode =>
        val s = l.toString
        bigTables.exists(t => s.contains(s"$t.parquet"))
      case other => other.children.exists(corpusScaled)
    }
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val op = fn(spark, sfDir).queryExecution.optimizedPlan
        op.collect {
          case w: Window if w.partitionSpec.isEmpty &&
              corpusScaled(w.child) => name
        }
    }.distinct
    assert(offenders.isEmpty,
      "unpartitioned window over an unreduced corpus-scaled input:\n" +
        offenders.mkString("\n"))
  }
}
