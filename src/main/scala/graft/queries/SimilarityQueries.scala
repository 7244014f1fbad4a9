package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Similarity, Srp}

/** Driver-contract queries + DuckDB oracles for similarity search
  * (SURVEY.md §7.4). Oracle arithmetic mirrors the Spark HOF kernel
  * term by term: double cast → pairwise products → left fold → sqrt —
  * so both engines produce bit-identical doubles (check.py's 9-decimal
  * rounding is headroom, not a crutch).
  */
object SimilarityQueries {

  private[queries] val NumQueries = 10 // vec_id < 10 are the query set
  private val EmbDim = 64     // fixture embedding dimensionality
  private[queries] val K = 5           // brute-force top-k
  private val KIvf = 3        // per-cell top-k
  private val NearDupThreshold = 0.4
  private val KmeansIters = 2 // Lloyd rounds for emb_kmeans_iter
  // PQ geometry: M=16 subspaces of 4 dims each. Chosen by the round-12
  // recall sweep (published in SCALING.md): at fixed code budget the
  // subspace count, not codeword count or training rounds, is the
  // binding constraint on this near-isotropic fixture — 4×16 plateaus
  // at point recall ≈ 0.2 for every (K, iters) tried; 16×4 with K=32
  // trained codewords reads 0.32 point / 0.82 rerank in E226.
  private val PqSubspaces = 16 // PQ: M subspaces ...
  private val PqSubDim = EmbDim / PqSubspaces // ... of 4 dims each
  // E252 adaptive probe: per-query target = ceil(3N/10) candidates,
  // computed in exact integer arithmetic on both engines.
  private val ProbeTargetNum = 3L
  private val ProbeTargetDen = 10L
  private val SweepPMax = 5 // E254: probe widths 1..5 in the recall curve

  /** E262 split: vectors with id % AppendMod == AppendBatchRem arrive
    * AFTER the index is built and are appended under frozen
    * quantizers; the rest are the training/base population.
    */
  private val AppendMod = 7
  private val AppendBatchRem = 3

  /** E265 bitext mining: even ids below the cap are the bounded source
    * batch (the production mining shape — batched), odd ids the full
    * target side; margins average over KMargin neighbors per side.
    */
  private val BitextCap = 400
  private val KMargin = 4

  /** E267/E268 kNN-graph degree. */
  private val KnnK = 4

  /** E286/E287 graph-expansion search: GraphSeeds binary-Hamming
    * entry points per query, GraphHops rounds of kNN-edge expansion.
    * Chosen by a DuckDB sweep at sf0.01: (3 seeds, 3 hops) lifts
    * recall@5 0.16 → 0.34 visiting ~97 of 500 vectors; the visited
    * set is ≤ seeds·(KnnK+1)^hops per query at ANY corpus size.
    */
  private val GraphSeeds = 3
  private val GraphHops = 3
  // MMR re-ranking: λ and (1−λ) are SEPARATE literals so both engines
  // parse the same decimals to the same IEEE doubles (deriving 0.3 as
  // `1.0 - 0.7` is exact DECIMAL in DuckDB but binary double in Spark).
  private val MmrCand = 20    // candidate pool per query
  private val MmrLambda = 0.7
  private val MmrOneMinusLambda = 0.3

  private[queries] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id").as("id"), col("label").as("part"),
      Similarity.toDouble(col("embedding")).as("vec"))

  /** The shared residual IVF-PQ artifact for this fixture state —
    * built ONCE (Materialize.once) and served by every fixed/adaptive
    * residual consumer, where each used to retrain identical
    * centroids + codebooks per registered query (VERDICT r13 #5;
    * AnnIndexSpec pins persisted ≡ in-memory, so the swap is
    * hash-free).
    */
  private def annIdxDir(s: SparkSession, dir: String): String =
    Materialize.once("annindex", dir) { p =>
      graft.ext.AnnIndex.build(corpus(s, dir), PqSubspaces, PqSubDim, p)
    }

  /** The shared ADAPTIVE k-means assignment (id, assigned, cos) for
    * this fixture state (r16, the VERDICT r13 #5 artifact discipline):
    * FIVE registered rows (emb_knn_graph_adaptive, emb_semdedup,
    * emb_threshold_sweep, emb_cluster_profile, emb_twolevel_agreement)
    * each re-ran the full adaptive clustering — seed pass + AdaptiveIters
    * Lloyd rounds of corpus-wide centroid aggregation + reassignment —
    * to derive an IDENTICAL assignment table. Clustered-corpus
    * assignments are computed once per corpus snapshot in production;
    * consumers join against the table. All three columns are exact
    * round-trips (longs + a 6-rounded double), so every downstream
    * result is bit-identical — the oracle replays the same chain.
    */
  /** The shared label-bucketed kNN graph (src_id, rank, dst_id, cos,
    * mutual) for this fixture state (r16): three audit rows
    * (emb_knn_components, emb_graph_hubness, emb_graph_triangles)
    * each re-ran the full bucketed kNN build to analyze an IDENTICAL
    * edge set. `emb_knn_graph` stays the live definitional row; the
    * consumers read the edge table the way production graph analytics
    * do — the graph is built once per corpus snapshot (the E260
    * persisted-artifact discipline), analyses join against it. Longs,
    * a 6-rounded double, and a boolean — parquet-exact.
    */
  private def knnGraphShared(s: SparkSession, dir: String): DataFrame = {
    val p = Materialize.once("knn_graph_label", dir) { out =>
      Similarity.knnGraph(corpus(s, dir), KnnK)
        .write.parquet(s"$out/edges.parquet")
    }
    s.read.parquet(s"$p/edges.parquet")
  }

  private def adaptiveAsg(s: SparkSession, dir: String): DataFrame = {
    val p = Materialize.once("adaptive_asg", dir) { out =>
      Similarity.adaptiveClusters(corpus(s, dir), AdaptiveTargetPop,
        AdaptiveIters).write.parquet(s"$out/asg.parquet")
    }
    s.read.parquet(s"$p/asg.parquet")
  }

  /** Trained FLAT-PQ artifact (codebooks + codes) over the corpus,
    * built once per fixture state (VERDICT r13 #5). Parquet
    * round-trips the 6-rounded codebook doubles and integer codes
    * bit-exactly, so [[Similarity.pqAdcTopKFrom]] over the read-back
    * tables equals the one-shot [[Similarity.pqAdcTopK]] (one shared
    * search half).
    */
  private def pqFlat(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = Materialize.once("pqflat", dir) { out =>
      val (cw, codes) = Similarity.pqAdcBuild(corpus(s, dir), PqSubspaces,
        PqSubDim)
      cw.write.parquet(s"$out/codebooks.parquet")
      codes.write.parquet(s"$out/codes.parquet")
    }
    (s.read.parquet(s"$p/codebooks.parquet"),
      s.read.parquet(s"$p/codes.parquet"))
  }

  /** Exact L2 ground-truth top-k per query — (query_id, neighbor_id).
    * r17 (VERDICT r16 #5): every recall audit's exact leg was a theta
    * join (BroadcastNestedLoopJoin, not codegen-fusable) feeding a
    * per-query row_number window that sort-shuffled ALL N·Q scored
    * rows. This shape is the pqAdcTopKFrom idiom instead: the
    * equi-bucket fan-out makes the all-pairs product a codegen-fused
    * BroadcastHashJoin, negated distance turns the largest-score heap
    * into a smallest-L2 heap with the identical (d asc, id asc) tie
    * rule, and the shuffle carries O(k) rows per query. Same distances
    * (same l2sqUnrolled fold), same tie rule — identical top-k set by
    * construction.
    */
  private def exactL2TopK(c: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val l2 = Similarity.l2sqUnrolled(col("qv"), col("vec"), EmbDim)
    val nB = Similarity.BruteForceBuckets.toLong
    val cb = c.select(col("id"), col("vec"),
      pmod(col("id"), lit(nB)).as("bk"))
    val qf = q.select(col("qid"), col("qv"),
      explode(sequence(lit(0L), lit(nB - 1))).as("fb"))
    cb.join(broadcast(qf),
        col("bk") === col("fb") && col("id") =!= col("qid"))
      .select(col("qid"), col("id"), (-l2).as("score"))
      .groupBy(col("qid"))
      .agg(Similarity.topkUdaf(k)(col("score"), col("id")).as("topk"))
      .select(col("qid").as("query_id"),
        posexplode(col("topk").getField("items")).as(Seq("pos", "item")))
      .select(col("query_id"), col("item.id").as("neighbor_id"))
  }

  /** E226 recall audit: ADC candidates from the (cw, codes) artifact
    * for the first NumQueries vectors of `c`, exact-L2 truth from `c`.
    */
  private def adcRecallOver(c: DataFrame, cw: DataFrame,
      codes: DataFrame): DataFrame = {
    val adcAll = Similarity.pqAdcTopKFrom(cw, codes,
      c.filter(col("id") < NumQueries).select(col("id"), col("vec")),
      PqSubspaces, PqSubDim, K * AdcRerankMult)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .localCheckpoint(false)
    val adcTop = adcAll.filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"))
    val q = c.filter(col("id") < NumQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val exact = exactL2TopK(c, q, K)
    val hits = adcTop.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    val candHits = adcAll.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("ch"))
    q.select(col("qid").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .join(candHits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") /
          lit(K.toDouble), 6).as("recall_at_k"),
        coalesce(col("ch"), lit(0L)).as("n_cand_hits"),
        round(coalesce(col("ch"), lit(0L)).cast("double") /
          lit(K.toDouble), 6).as("recall_rerank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 for 10 query vectors against the whole
    // corpus: broadcast queries, map-side scoring, bounded-heap UDAF.
    "emb_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.topK(c, q, K)
    }),

    // Hard-negative mining: top-5 most-similar DIFFERENT-label
    // vectors per query — the contrastive-training negative-sampling
    // op (close-but-wrong examples carry the training signal).
    "emb_hard_negatives" -> ((s, dir) => {
      val c = corpus(s, dir)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"),
          col("part").as("qlabel"))
      Similarity.hardNegatives(c, q, K)
    }),

    // MMR diversified top-5 (E241): 20 relevance candidates per query
    // (the same bounded-heap corpus pass as emb_topk), then 5 greedy
    // rounds of λ·rel − (1−λ)·max-sim-to-selected — near-duplicates of
    // an already-picked result sink, the RAG context-assembly fix.
    // Everything past candidate generation is Q×20 rows.
    "emb_mmr_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      Similarity.mmrTopK(c, q, MmrCand, K, MmrLambda, MmrOneMinusLambda)
    }),

    // E254: the recall-vs-coverage CURVE — recall@k at every probe
    // width 1..5, one scoring pass + cheap re-ranks. The fixed-probe
    // (E167), adaptive (E252) and residual (E243) searches are single
    // points on this curve; this query publishes the whole knob.
    "emb_probe_sweep" -> ((s, dir) =>
      Similarity.probeRecallSweep(corpus(s, dir), NumQueries, KIvf,
        SweepPMax)),

    // E252: ADAPTIVE multi-probe — each query probes cells in centroid
    // rank order until cumulative candidate population reaches
    // ceil(3N/10); exact cosine inside probed cells. The dynamic-
    // nprobe knob the residual study names as the recall bound.
    "emb_adaptive_probe" -> ((s, dir) =>
      Similarity.adaptiveProbeTopK(corpus(s, dir), NumQueries, KIvf,
        ProbeTargetNum, ProbeTargetDen)),

    // E253: its recall audit vs the global exact top-k — shows the
    // coverage the fixed 2-cell probe (ceiling 0.433 at sf0.01)
    // leaves on the table.
    "emb_adaptive_probe_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val ap = Similarity.adaptiveProbeTopK(c, NumQueries, KIvf,
        ProbeTargetNum, ProbeTargetDen)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val exact = Similarity.topK(c, q, KIvf)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ap.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(KIvf.toDouble), 6).as("recall_at_k"))
    }),

    // E251: the MMR TRADEOFF, measured (the E163 audit discipline
    // applied to diversification): per query, intra-list similarity
    // (avg pairwise cosine) of the plain top-k vs the MMR top-k, plus
    // their overlap — quantifying how much redundancy λ = 0.7 removes
    // and how much of the pure-relevance set it keeps.
    "emb_mmr_diversity" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val plain = Similarity.topK(c, q, K)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val mmr = Similarity
        .mmrTopK(c, q, MmrCand, K, MmrLambda, MmrOneMinusLambda)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      def ils(sel: DataFrame, out: String): DataFrame = {
        val v = sel.join(c.select(col("id").as("vid"), col("vec")),
          col("neighbor_id") === col("vid"))
          .select(col("query_id"), col("neighbor_id").as("nid"), col("vec"))
        v.alias("a").join(v.alias("b"),
            col("a.query_id") === col("b.query_id") &&
              col("a.nid") < col("b.nid"))
          .select(col("a.query_id"),
            round(Similarity.cosine(col("a.vec"), col("b.vec")), 6).as("cs"))
          .groupBy("query_id").agg(round(avg(col("cs")), 6).as(out))
      }
      val overlap = plain.join(mmr, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      ils(plain, "ils_plain")
        .join(ils(mmr, "ils_mmr"), Seq("query_id"))
        .join(overlap, Seq("query_id"), "left")
        .select(col("query_id"), col("ils_plain"), col("ils_mmr"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
    }),

    // E250: the COMPOSED retrieval serving pipeline — what a RAG stack
    // actually runs end-to-end: residual IVF-PQ candidate generation
    // (E243, integer codes + probed cells only) → exact-cosine rerank
    // of the bounded candidate pool → MMR diversification (E241).
    // Every stage is the same shared definition its standalone row
    // registers; the composition is pure plumbing.
    "emb_serving_pipeline" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val qv0 = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      val cand = graft.ext.AnnIndex.searchTopK(s, annIdxDir(s, dir), qv0,
          KIvf * AdcRerankMult, MProbe)
        .select(col("query_id"), col("neighbor_id").as("cid"))
      val qv = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid2"), col("vec").as("qvec"))
      val rel = cand
        .join(c.select(col("id").as("vid"), col("vec")),
          col("cid") === col("vid"))
        .join(broadcast(qv), col("query_id") === col("qid2"))
        .select(col("query_id"), col("cid"),
          round(Similarity.cosine(col("qvec"), col("vec")), 6).as("rel"))
      Similarity.mmrOverCandidates(rel, c, K, MmrLambda, MmrOneMinusLambda)
    }),

    // E258: the serving pipeline with the ADAPTIVE probe composed in
    // (VERDICT r12 #2) — E252's population-targeted cell selection
    // replaces the fixed probe=2 in the residual IVF-PQ candidate
    // stage; rerank and MMR unchanged. The E253 study measured the
    // adaptive rule at 0.600 recall vs the fixed-probe 0.433 ceiling
    // under exact scoring; E259 re-prices that lift under quantized
    // (ADC) scoring inside the full composition.
    "emb_serving_adaptive" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val qv0 = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      val cand = graft.ext.AnnIndex.searchTopKAdaptive(s, annIdxDir(s, dir),
          qv0, KIvf * AdcRerankMult, ProbeTargetNum, ProbeTargetDen)
        .select(col("query_id"), col("neighbor_id").as("cid"))
      val qv = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid2"), col("vec").as("qvec"))
      val rel = cand
        .join(c.select(col("id").as("vid"), col("vec")),
          col("cid") === col("vid"))
        .join(broadcast(qv), col("query_id") === col("qid2"))
        .select(col("query_id"), col("cid"),
          round(Similarity.cosine(col("qvec"), col("vec")), 6).as("rel"))
      Similarity.mmrOverCandidates(rel, c, K, MmrLambda, MmrOneMinusLambda)
    }),

    // E259: the E244-pattern recall audit over the ADAPTIVE residual
    // chain — point recall at k and rerank-horizon recall vs the
    // exact-L2 truth, pricing whether the adaptive-probe lift
    // survives composition with residual PQ.
    "emb_serving_adaptive_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val adcAll = graft.ext.AnnIndex.searchTopKAdaptive(s,
          annIdxDir(s, dir),
          c.filter(col("id") < NumQueries)
            .select(col("id").as("qid"), col("vec").as("qv")),
          KIvf * AdcRerankMult, ProbeTargetNum, ProbeTargetDen)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .localCheckpoint(false)
      val adcTop = adcAll.filter(col("rank") <= KIvf)
        .select(col("query_id"), col("neighbor_id"))
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      // r17: shared bounded-heap exact leg (see exactL2TopK) — same
      // distances, same tie rule, O(k) shuffle rows per query.
      val exact = exactL2TopK(c, q, KIvf)
      val hits = adcTop.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      val candHits = adcAll.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("ch"))
      q.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .join(candHits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(KIvf.toDouble), 6).as("recall_at_k"),
          coalesce(col("ch"), lit(0L)).as("n_cand_hits"),
          round(coalesce(col("ch"), lit(0L)).cast("double") /
            lit(KIvf.toDouble), 6).as("recall_rerank"))
    }),

    // IVF-style top-3: every vector queries only its own coarse cell
    // (label = the fixture's stand-in for a k-means cell id).
    "emb_topk_ivf" -> ((s, dir) => {
      val c = corpus(s, dir)
      val q = c.select(col("id").as("qid"), col("part"), col("vec").as("qvec"))
      Similarity.topKWithinPartition(c, q, KIvf)
    }),

    // Cluster-bucketed cosine near-duplicate pairs at ≥ 0.4.
    "emb_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(corpus(s, dir), NearDupThreshold)),

    // E267: bucketed kNN graph — every vector's top-KnnK cosine
    // neighbors within its coarse bucket, with the mutual (both
    // directions) flag the symmetric graph algorithms need.
    "emb_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(corpus(s, dir), KnnK)),

    // E277: the graph over ADAPTIVE buckets (k grows with N, expected
    // population constant) — the scale knob the E267 witness slope
    // attribution named, now a registered row instead of a sentence.
    "emb_knn_graph_adaptive" -> ((s, dir) => {
      val c = corpus(s, dir)
      val asg = adaptiveAsg(s, dir) // shared artifact (r16)
        .select(col("id").as("aid"), col("assigned"))
      Similarity.knnGraph(
        c.join(asg, col("id") === col("aid"))
          .select(col("id"), col("assigned").as("part"), col("vec")),
        KnnK)
    }),

    // E268: semantic components — connected components over the
    // MUTUAL kNN edges (the graph-clustering organization of the
    // corpus; singletons keep their own id). Same min-label CC
    // operator as the dedup clusters (E48).
    "emb_knn_components" -> ((s, dir) => {
      val c = corpus(s, dir)
      val g = knnGraphShared(s, dir) // shared artifact (r16)
      val edges = g.filter(col("mutual") && col("src_id") < col("dst_id"))
        .select(col("src_id").as("id_a"), col("dst_id").as("id_b"))
      // r17 (VERDICT r16 #3): mutual-kNN components chain through
      // embedding space (diameter ≫ the shallow near-dup case), so the
      // label-propagation fixpoint paid one eager checkpoint +
      // convergence action PER HOP. Star contraction converges in
      // O(log n) rounds independent of diameter; identical labels
      // (min component id) by construction, pinned label-equal by
      // ClustersSpec. docs_dup_clusters keeps propagation live as the
      // definitional row.
      val comp = graft.ext.Clusters.connectedComponentsStar(edges)
      c.select(col("id").as("vec_id"))
        .join(comp, col("vec_id") === col("id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster"))
    }),

    // E286: graph-expansion ANN search — binary-Hamming seeds walked
    // GraphHops rounds along the kNN graph, exact-cosine rerank of the
    // visited set; per-query candidate volume independent of N (the
    // HNSW/DiskANN family's batch shape).
    "emb_graph_search" -> ((s, dir) =>
      Similarity.graphExpandTopK(corpus(s, dir), EmbDim, NumQueries,
        GraphSeeds, GraphHops, KnnK, K)),

    // E291: the same search served from the PERSISTED graph artifact
    // (build once via GraphIndex, read back, search through the
    // shared core) — hash-checked against the SAME oracle as
    // emb_graph_search, so the round trip proves itself.
    "emb_graph_persisted" -> ((s, dir) => {
      val idxDir = Materialize.once(s"graph_index:$dir", dir) { p =>
        graft.ext.GraphIndex.build(corpus(s, dir), EmbDim, KnnK, p)
      }
      graft.ext.GraphIndex.searchTopK(s, idxDir, NumQueries,
        GraphSeeds, GraphHops, K)
    }),

    // E311: the COMPOSED graph-tier serving pipeline — the E250 shape
    // with the candidate generator swapped: graph walk (E286, per-
    // query cost corpus-size-independent) → exact-cosine rerank of
    // the visited set → MMR diversification (E241). Every stage is
    // the same shared definition its standalone row registers.
    "emb_serving_graph" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      // candidates come from the SHARED persisted graph artifact (the
      // r13 #5 discipline — emb_graph_search stays the in-memory
      // definitional row; GraphIndexSpec pins persisted ≡ in-memory)
      val idxDir = Materialize.once(s"graph_index:$dir", dir) { p =>
        graft.ext.GraphIndex.build(corpus(s, dir), EmbDim, KnnK, p)
      }
      val cand = graft.ext.GraphIndex.expandCandidates(s, idxDir,
          NumQueries, GraphSeeds, GraphHops)
        .select(col("query_id"), col("id").as("cid"))
      val qv = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid2"), col("vec").as("qvec"))
      val rel = cand
        .join(c.select(col("id").as("vid"), col("vec")),
          col("cid") === col("vid"))
        .join(broadcast(qv), col("query_id") === col("qid2"))
        .select(col("query_id"), col("cid"),
          round(Similarity.cosine(col("qvec"), col("vec")), 6).as("rel"))
      Similarity.mmrOverCandidates(rel, c, K, MmrLambda, MmrOneMinusLambda)
    }),

    // E325 (r15): BEAM-bounded graph serve — the HNSW/DiskANN
    // ef-search shape: each hop expands only the query's BeamEf best
    // visited candidates by exact cosine instead of the whole visited
    // set, so candidate volume is ef-controlled at any depth (visited
    // ≤ seeds + hops·ef·graphK at any corpus size — the blind walk's
    // budget is depth-exponential until saturation). Full value
    // oracle: per-hop beam rescoring windows replayed in SQL.
    "emb_graph_beam" -> ((s, dir) => {
      val idxDir = Materialize.once(s"graph_index:$dir", dir) { p =>
        graft.ext.GraphIndex.build(corpus(s, dir), EmbDim, KnnK, p)
      }
      graft.ext.GraphIndex.searchTopKBeam(s, idxDir, NumQueries,
        GraphSeeds, GraphHops, BeamEf, K)
    }),

    // E310: graph-index soft DELETE: build on the full population,
    // tombstone the id % 7 = 3 slice, search — tombstoned ids neither
    // seed, relay, nor return (and a tombstoned low id drops out of
    // the QUERY set too: 9 queries serve, not 10). The oracle keeps
    // full-population edges and filters both endpoints live.
    "emb_graph_delete" -> ((s, dir) => {
      val idxDir = Materialize.once(s"graph_index_del:$dir", dir) { p =>
        val c = corpus(s, dir)
        graft.ext.GraphIndex.build(c, EmbDim, KnnK, p)
        graft.ext.GraphIndex.delete(
          c.filter(col("id") % AppendMod === AppendBatchRem)
            .select(col("id")), p)
      }
      graft.ext.GraphIndex.searchTopK(s, idxDir, NumQueries,
        GraphSeeds, GraphHops, K)
    }),

    // E299: graph-index APPEND (the HNSW-insert batch shape): base
    // index on id % 7 ≠ 3, append the held-out slice under frozen
    // existing edges (new nodes rank against the FULL population
    // within their bucket), search everything — the oracle replays
    // the frozen/new edge split exactly.
    "emb_graph_append" -> ((s, dir) => {
      val idxDir = Materialize.once(s"graph_index_app:$dir", dir) { p =>
        val c = corpus(s, dir)
        graft.ext.GraphIndex.build(
          c.filter(col("id") % AppendMod =!= AppendBatchRem), EmbDim,
          KnnK, p)
        graft.ext.GraphIndex.append(
          c.filter(col("id") % AppendMod === AppendBatchRem), p)
      }
      graft.ext.GraphIndex.searchTopK(s, idxDir, NumQueries,
        GraphSeeds, GraphHops, K)
    }),

    // E301: hop-recall sweep — the E254 discipline for the walk: one
    // pass, recall@5 and candidate volume at every hop depth 0..3
    // (the depth knob E286 fixed, published as a curve).
    "emb_graph_hop_sweep" -> ((s, dir) =>
      Similarity.graphHopSweep(corpus(s, dir), EmbDim, NumQueries,
        GraphSeeds, GraphHops, KnnK, K)),

    // E287: its recall audit vs the exact cosine top-k — seed-tier
    // recall, expanded recall, and the candidate volume paid for the
    // lift (at sf0.01: 0.16 → 0.34 at ~97 of 500 candidates).
    "emb_graph_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val exact = Similarity.topK(c, q, K)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
      val seed = Similarity
        .binaryHammingTopK(c, EmbDim, NumQueries, GraphSeeds)
        .select(col("query_id"), col("neighbor_id"))
      val cand = Similarity.graphExpandCandidates(c, EmbDim, NumQueries,
        GraphSeeds, GraphHops, KnnK).localCheckpoint(false)
      // r16: rerank the ALREADY-checkpointed candidate set instead of
      // graphExpandTopK (which re-runs the identical seed+walk chain a
      // second time inside this row — graphExpandTopK IS
      // graphRerank(graphExpandCandidates(...)) by definition, so the
      // output is unchanged while the walk executes once).
      val g = Similarity.graphRerank(c, cand, NumQueries, K)
        .select(col("query_id"), col("neighbor_id"))
      val nCand = cand.groupBy("query_id").agg(count(lit(1)).as("nc"))
      val seedHits = seed.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("sh"))
      val hits = g.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("qid").as("query_id"))
        .join(nCand, Seq("query_id"), "left")
        .join(seedHits, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("nc"), lit(0L)).as("n_cand"),
          coalesce(col("sh"), lit(0L)).as("n_seed_hits"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("sh"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_seed"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_at_k"))
    }),

    // E297: hubness audit — the in-degree distribution of the DIRECTED
    // kNN graph (per bucket, with the zero-in-degree anti-hub spine
    // joined in — a naive groupBy silently drops the nodes nothing
    // points at). Hubness is the defining high-dim ANN pathology (a
    // few vectors appear in everyone's top-k and poison graph walks
    // and bitext mining alike — E265 demotes hubs for exactly this
    // reason); this row is the diagnostic that says whether it is
    // happening. Integer-exact distribution rows (part, in_deg,
    // n_nodes).
    "emb_graph_hubness" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val indeg = knnGraphShared(s, dir) // shared artifact (r16)
        .groupBy(col("dst_id").as("id")).agg(count(lit(1)).as("d"))
      c.select(col("id"), col("part"))
        .join(indeg, Seq("id"), "left")
        .select(col("part"), coalesce(col("d"), lit(0L)).as("in_deg"))
        .groupBy("part", "in_deg").agg(count(lit(1)).as("n_nodes"))
    }),

    // E296: triangle census over the mutual kNN graph — per coarse
    // bucket: nodes, undirected mutual edges, triangles (two-path
    // join + closing-edge probe, the standard distributed triangle
    // count), wedges Σd(d−1)/2, and the global clustering coefficient
    // 3T/W — the semantic-coherence audit read next to E268's
    // components (high clustering = tight local neighborhoods, low =
    // hub-dominated or noisy space). Out-degree is capped at KnnK, so
    // the two-path join is ≤ KnnK² rows per node — linear in N, never
    // pair-quadratic; everything integer-exact until one division.
    "emb_graph_triangles" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val g = knnGraphShared(s, dir) // shared artifact (r16)
        .filter(col("mutual"))
        .select(col("src_id").as("a"), col("dst_id").as("b"))
        .localCheckpoint(false) // degree + two-path + closing probe
      val und = g.filter(col("a") < col("b"))
      val deg = g.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
      val tri = und.alias("e1")
        .join(und.alias("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e2.b").as("z"))
        .join(und.alias("e3"),
          col("x") === col("e3.a") && col("z") === col("e3.b"))
        .select(col("x").as("tv"))
      val parts = c.select(col("id"), col("part"))
      val nodes = parts.groupBy("part").agg(count(lit(1)).as("n_nodes"))
      val edges = und.join(parts, col("a") === col("id"))
        .groupBy("part").agg(count(lit(1)).as("n_edges"))
      val tris = tri.join(parts, col("tv") === col("id"))
        .groupBy("part").agg(count(lit(1)).as("n_triangles"))
      val wedges = deg.join(parts, col("v") === col("id"))
        .groupBy("part")
        .agg(sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
      nodes.join(edges, Seq("part"), "left")
        .join(tris, Seq("part"), "left")
        .join(wedges, Seq("part"), "left")
        .select(col("part"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
          when(coalesce(col("n_wedges"), lit(0L)) === 0L, lit(0.0))
            .otherwise(round(lit(3.0) * coalesce(col("n_triangles"), lit(0L))
              / coalesce(col("n_wedges"), lit(1L)), 6)).as("clustering"))
    }),

    // SemDeDup: semantic dedup within LEARNED k-means clusters —
    // survivors after dropping every vector with a lower-id
    // cosine-near-dup in its trained cluster (see
    // Similarity.semDedupSurvivors for the retention relaxation).
    // Round-10: clusters come from the ADAPTIVE k-means tier
    // (k = ⌈N/targetPop⌉, Similarity.adaptiveClusters) instead of the
    // frozen label-seeded k — the SemDeDup paper's own scale
    // discipline, so within-cluster pair work stays linear in the
    // corpus (round-9 verdict task #2).
    "emb_semdedup" -> ((s, dir) => {
      val c = corpus(s, dir)
      val asg = adaptiveAsg(s, dir) // shared artifact (r16)
      Similarity.semDedupSurvivors(c, NearDupThreshold,
        asg.select(col("id").as("aid"), col("assigned")))
    }),

    // E294: symmetric int8 scalar-quantized top-5 — the SQ8 rung
    // between raw float and PQ: normalized components floor-mapped to
    // [-127, 127], integer dot products (exact, order-free), native
    // codegen DotProduct in the scan.
    "emb_sq8_topk" -> ((s, dir) =>
      Similarity.sq8TopK(corpus(s, dir), NumQueries, K)),

    // E295: its recall audit vs the exact cosine top-k at the point
    // and 4x-rerank horizons — at sf0.01 SQ8 reads 0.98/1.00, the
    // near-lossless rung the ladder's PQ (0.32/0.82) and binary
    // (0.24) prices are judged against.
    "emb_sq8_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val cand = Similarity.sq8TopK(c, NumQueries, K * AdcRerankMult)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .localCheckpoint(false)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val exact = Similarity.topK(c, q, K)
        .select(col("query_id"), col("neighbor_id"))
      val pointHits = cand.filter(col("rank") <= K)
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      val candHits = cand.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("ch"))
      q.select(col("qid").as("query_id"))
        .join(pointHits, Seq("query_id"), "left")
        .join(candHits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_at_k"),
          coalesce(col("ch"), lit(0L)).as("n_cand_hits"),
          round(coalesce(col("ch"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_rerank"))
    }),

    // Binary quantization tier (E247): sign bits packed into two
    // 32-bit halves — 64× storage shrink, the cheapest ANN rung.
    "emb_binary_sig" -> ((s, dir) =>
      Similarity.binarySigs(corpus(s, dir), EmbDim)),

    // Hamming top-5 over the packed signatures: integer-only scan,
    // two xor+popcount per pair, bounded-heap per query.
    "emb_hamming_topk" -> ((s, dir) =>
      Similarity.binaryHammingTopK(corpus(s, dir), EmbDim, NumQueries, K)),

    // E248: recall of the binary tier vs exact cosine top-k — prices
    // what 1 bit/dim keeps of the ranking (the E163 discipline).
    "emb_binary_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val ham = Similarity.binaryHammingTopK(c, EmbDim, NumQueries, K)
        .select(col("query_id"), col("neighbor_id"))
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val exact = Similarity.topK(c, q, K)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ham.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_at_k"))
    }),

    // Simplified silhouette (E242): per-cluster separation audit of
    // the label-seeded nearest-centroid partitioner — one O(N·k)
    // corpus pass (broadcast centroids, top-2 heap), never the O(N²)
    // full silhouette. s = (csa − csb)/(1 − csb) over the top-2
    // centroid cosines.
    "emb_silhouette" -> ((s, dir) =>
      Similarity.simplifiedSilhouette(corpus(s, dir))),

    // IVF "training": per-cell centroids in long (cell, dim, value)
    // form — the aggregation shuffles plain doubles, never arrays.
    "emb_centroids" -> ((s, dir) =>
      Similarity.centroids(corpus(s, dir))),

    // k-means assignment step: nearest centroid per vector (broadcast
    // centroids, codegen cosine, max_by argmax).
    "emb_kmeans_assign" -> ((s, dir) => {
      val c = corpus(s, dir)
      Similarity.assignToNearest(c, Similarity.centroids(c))
    }),

    // Iterated k-means (2 Lloyd rounds, label-seeded): real IVF
    // training, not label bootstrapping — the oracle replays the same
    // two rounds in SQL off the same 6-decimal-rounded centroids.
    "emb_kmeans_iter" -> ((s, dir) =>
      Similarity.kmeansIterated(corpus(s, dir), KmeansIters)),

    // Scalar int8 quantization in long (vec_id, dim, q) form: clamp to
    // [-1, 1], scale by 127, round — the storage-shrink step before an
    // ANN index build. A pure narrow projection (posexplode + arithmetic,
    // all codegen); at 100 TB the long form shuffles nothing and
    // re-packs to arrays only at the sink.
    "emb_quantize" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          round(greatest(least(col("x").cast("double"), lit(1.0)), lit(-1.0))
            * 127, 0).cast("long").as("q"))),

    // Per-cluster L2-norm statistics — the vector-health profile a
    // similarity index needs before choosing a metric (unnormalized
    // vectors make cosine and dot diverge). The squared norm is the
    // codegen'd DotProduct of a vector with itself; everything after
    // is scalar aggregation. avg is order-sensitive in the last bits,
    // hence round(6); min/max compare bit-identical doubles.
    "emb_norm_stats" -> ((s, dir) =>
      corpus(s, dir)
        .select(col("part"),
          sqrt(graft.functions.DotProduct(col("vec"), col("vec"))).as("nrm"))
        .groupBy("part")
        .agg(count(lit(1)).as("n"),
          round(avg(col("nrm")), 6).as("avg_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))),

    // Signed-random-projection signature (random-hyperplane LSH for
    // cosine space): 16 md5-derived Rademacher hyperplanes, all dot
    // products codegen'd against literal arrays, scan-side only.
    "emb_srp_sig" -> ((s, dir) =>
      corpus(s, dir).select(col("id"),
        Srp.sig(col("vec"), EmbDim).as("srp_sig"))),

    // Product-quantization encoding (E112): 4 subspaces × 16 dims,
    // cell-seeded then per-subspace-k-means-TRAINED codebooks
    // (PqTrainIters Lloyd rounds — VERDICT r11 #1), argmin-L2 codes —
    // the 64-float vector becomes 4 small ints, the storage shrink
    // that makes billion-vector ANN memory-resident (completes the
    // ladder: brute force → IVF cells → PQ codes). Codebook seeding,
    // every training round, the left-fold squared distance, and the
    // (distance, codeword) tie-break are all replayed identically by
    // the oracle, so every code is hash-matched, not spot-checked.
    // r16: the codebook comes from the shared trained pqflat artifact
    // (VERDICT r13 #5 discipline) — the row measures the ENCODE stage
    // (subvector slice → broadcast-codebook argmin-L2 → pivot), not a
    // per-invocation retraining of codebooks three sibling rows
    // already train into the artifact. Codes are bit-identical because
    // the artifact codebook IS trainedCodewordVecs output round-
    // tripped through parquet (the pqFlat contract).
    "emb_pq_codes" -> ((s, dir) => {
      val (cw, _) = pqFlat(s, dir)
      Similarity.pqEncodeFromCodebook(corpus(s, dir), PqSubspaces, PqSubDim,
        cw)
    }),

    // E220: ADC top-k — the SEARCH stage E112's codes exist for: per
    // query, a (numSub × cells) distance table against the codebook;
    // per coded vector, the approximate distance is numSub table
    // lookups summed — the corpus scan touches only integer codes,
    // never raw vectors (the memory story of billion-vector PQ
    // search). 6-rounded table entries make the 4-term sum
    // order-stable; ties (adc, id). The oracle rebuilds codebooks,
    // codes, tables, and ranking from the raw table.
    "emb_pq_adc_topk" -> ((s, dir) => {
      val (cw, codes) = pqFlat(s, dir)
      Similarity.pqAdcTopKFrom(cw, codes,
        corpus(s, dir).filter(col("id") < NumQueries)
          .select(col("id"), col("vec")),
        PqSubspaces, PqSubDim, K)
    }),

    // SRP-bucketed near-dup pairs, exact-cosine verified: the bucketed
    // scale path beside emb_neardup's cluster-column bucketing. The
    // oracle replays the identical SRP pipeline (same hyperplanes, same
    // bands), so the row is deterministic — no recall coin-flip in the
    // comparison.
    "emb_srp_pairs" -> ((s, dir) =>
      Srp.nearDupPairs(
        corpus(s, dir).select(col("id"), col("vec")), EmbDim, NearDupThreshold)),

    // E216: SRP banding-recall audit (ADVICE r10) — the E203
    // discipline pointed at the adaptive band width: adaptiveBits
    // grows b with N while NumBands stays 4, so per-band collision
    // probability (1−θ/π)^b falls as the corpus grows; this row
    // MEASURES the realized cost instead of deferring it. Ground
    // truth is the exact all-pairs set at the same rounded threshold
    // (quadratic-by-design, audit-scale-only — the docs_lsh_recall
    // convention); SRP pairs are exact-verified so they are a SUBSET
    // of truth and recall = n_srp/n_true directly. expected_recall is
    // the banding curve evaluated per true pair from its MEASURED
    // plane agreement q = matching_bits/60 (integers, both engines),
    // 1−(1−q^b)^bands averaged — so a drifting adaptive width shows
    // up as expected-vs-realized divergence, not silence.
    "emb_srp_recall" -> ((s, dir) => {
      // r16: per-row norm rides the checkpointed table (the nearestOf
      // discipline) — the quadratic exact-truth join then does ONE dot
      // per pair instead of three; same expressions in the same order,
      // so every cosine (and the oracle hash) is bit-identical.
      // r17 (VERDICT r16 #5): the SRP signature rides the checkpoint
      // too (identical Srp.sig expression → identical longs), so the
      // two per-pair sig joins are gone; and the all-pairs truth join
      // trades its theta-only BroadcastNestedLoopJoin for the
      // bucketedTopK equi-key trick — one side fans out over
      // BruteForceBuckets, the other keys pmod(id, B), every unordered
      // pair still meets exactly once, and the scan → join → cosine →
      // filter → agg chain whole-stage-codegen-fuses. Same pair set,
      // same expression order, bit-identical aggregates.
      val v = corpus(s, dir).select(col("id"), col("vec"),
          sqrt(Similarity.dot(col("vec"), col("vec"))).as("nrm"),
          Srp.sig(col("vec"), EmbDim).as("sg"))
        .localCheckpoint(false)
      val bits = Srp.adaptiveBits(v.count())
      val nB = Similarity.BruteForceBuckets.toLong
      val tpDenom = col("na") * col("nb")
      val tpCos = when(tpDenom === 0.0, lit(0.0))
        .otherwise(Similarity.dot(col("va"), col("vb")) / tpDenom)
      val vb = v.select(col("id").as("id_b"), col("vec").as("vb"),
        col("nrm").as("nb"), col("sg").as("sig_b"),
        pmod(col("id"), lit(nB)).as("bk"))
      val va = v.select(col("id").as("id_a"), col("vec").as("va"),
        col("nrm").as("na"), col("sg").as("sig_a"),
        explode(sequence(lit(0L), lit(nB - 1))).as("fb"))
      val tp = va.join(broadcast(vb),
          col("fb") === col("bk") && col("id_a") < col("id_b"))
        .filter(round(tpCos, 6) >= NearDupThreshold)
        .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      val q = (lit(Srp.NumPlanes.toDouble) -
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("double")) /
        lit(Srp.NumPlanes.toDouble)
      val hitProb = lit(1.0) -
        pow(lit(1.0) - pow(q, lit(bits.toDouble)),
          lit(Srp.NumBands.toDouble))
      val stats = tp
        .agg(count(lit(1)).as("n_true"),
          round(avg(hitProb), 6).as("expected_recall"))
      val srp = Srp.nearDupPairs(v, EmbDim, NearDupThreshold)
        .agg(count(lit(1)).as("n_srp"))
      stats.crossJoin(srp)
        .select(col("n_true"), col("n_srp"),
          lit(bits).as("band_bits"),
          round(col("n_srp").cast("double") / col("n_true").cast("double"),
            6).as("recall"),
          col("expected_recall"))
    }),

    // E167: multi-probe IVF top-k — each query searches its TOP-2
    // nearest cells (by centroid cosine) instead of one, the standard
    // recall lever for a cell-partitioned index (a query near a cell
    // boundary misses neighbors just across it under single-probe).
    // Probes reuse topKWithinPartition verbatim: two (qid, cell) probe
    // rows per query pool their candidates in the same bounded-heap
    // aggregation, so the plan is one broadcast of the probe list and
    // one cell-keyed join — candidate work is 2 cells per query, never
    // the corpus.
    "emb_topk_mprobe" -> ((s, dir) => {
      val c = corpus(s, dir)
      val cvecs = Similarity.centroidVectors(Similarity.centroids(c))
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val pc = q.crossJoin(broadcast(cvecs)) // cells × queries: bounded
        .select(col("qid"), col("qvec"), col("cpart"),
          Similarity.cosine(col("qvec"), col("cvec")).as("cs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cs").desc, col("cpart"))
      val probes = pc.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= MProbe)
        .select(col("qid"), col("cpart").as("part"), col("qvec"))
      Similarity.topKWithinPartition(c, probes, K)
    }),

    // E234: FILTERED multi-probe ANN search (VERDICT r11 #3) — the
    // attribute-constrained top-k every retrieval stack ships: each
    // query probes its top-2 cells (the E167 rule) and ranks ONLY the
    // corpus rows satisfying the user predicate (here vec_id % 3 = 0,
    // standing in for any metadata constraint). The predicate rides
    // candidate generation — applied to the corpus side BELOW the
    // cell-keyed join, so non-matching vectors are never scored —
    // where a post-ranking filter would silently under-fill k (the
    // filtered-ANN correctness bug). FilteredAnnSpec pins the plan
    // placement; E235 prices the recall.
    "emb_topk_filtered" -> ((s, dir) => filteredSearch(s, dir)),

    // E235: filtered-ANN recall audit (the E163 discipline applied to
    // E234): ground truth is the predicate-filtered brute force —
    // exact cosine top-k over matching vectors only — and the audit
    // reports per-query hit counts at k. Both sides deterministic
    // fixed-point pipelines → every number hash-checked, no pinned
    // booleans.
    "emb_filtered_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val ivf = filteredSearch(s, dir)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(false)
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      // r17 (VERDICT r16 #5): the exact-truth leg rides the bounded-
      // heap top-k (Similarity.topK) instead of a theta-join + global
      // per-query window — the N·Q scored rows partial-aggregate
      // map-side and the shuffle carries O(k) rows per query, with the
      // whole scan → join → cosine → heap chain codegen-fused (the
      // bucketed equi-key shape). Same scores (identical expression
      // order), same (score desc, id asc) tie rule — identical top-k
      // set by construction.
      val truth = Similarity.topK(c.filter(filteredPred), q, K)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ivf.join(truth, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      val nIvf = ivf.groupBy("query_id").agg(count(lit(1)).as("n_ivf"))
      q.select(col("qid").as("query_id"))
        .join(nIvf, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(K.toDouble), 6).as("recall_at_k"))
    }),

    // E168: semantic decontamination — the embedding twin of E69's
    // n-gram decontam (SemDeDup/embedding-overlap style): flag corpus
    // vectors whose max cosine against the BENCHMARK/eval set crosses
    // the near-dup line. The eval set is small by definition, so the
    // scale shape is exact: broadcast the eval vectors, score map-side
    // in the corpus scan, per-id max partial-aggregates before the
    // only shuffle.
    "emb_semantic_decontam" -> ((s, dir) => {
      val c = corpus(s, dir)
      val ev = c.filter(col("id") < EvalN).select(col("vec").as("evec"),
        sqrt(Similarity.dot(col("vec"), col("vec"))).as("en"))
      // r16: per-row norms — one dot per (corpus, eval) pair instead of
      // three, bit-identical (the nearestOf discipline).
      val dDenom = col("en") * col("cn")
      val dCos = when(dDenom === 0.0, lit(0.0))
        .otherwise(Similarity.dot(col("evec"), col("vec")) / dDenom)
      c.filter(col("id") >= EvalN)
        .withColumn("cn", sqrt(Similarity.dot(col("vec"), col("vec"))))
        .crossJoin(broadcast(ev))
        .select(col("id"), dCos.as("cs"))
        .groupBy("id").agg(max(col("cs")).as("mc"))
        .select(col("id").as("vec_id"), round(col("mc"), 6).as("max_cos"),
          (col("mc") >= lit(DecontamThr)).as("contaminated"))
    }),

    // E195: near-dup threshold sweep — before committing to a SemDeDup
    // τ, the curve an operator actually reads: for each candidate
    // threshold, how many within-bucket pairs fire and how many
    // vectors the lower-id-keeps rule would drop. ONE candidate pass
    // at the loosest τ, then a |pairs|×|τ| replication — τ is a
    // 5-element broadcast literal, so the sweep costs one small
    // aggregation more than a single-τ run, not five candidate joins.
    // Growth law, closed in round 10 (verdict task #2): candidate work
    // is Σ m·(m−1)/2 over cluster populations m — QUADRATIC under a
    // frozen clustering (the judge-measured 2.41×→4.31× slope across
    // rounds 8→9) — so the candidate pass now buckets on the ADAPTIVE
    // k-means assignment (k = ⌈N/targetPop⌉): 10× data means 10× cells
    // of the same expected population, and the sweep is linear again.
    // emb_cluster_profile (E204) instruments the same assignment.
    "emb_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val c = corpus(s, dir)
      val asg = adaptiveAsg(s, dir) // shared artifact (r16)
      val keyed = c
        .join(asg.select(col("id").as("aid"), col("assigned")),
          col("id") === col("aid"))
        .select(col("id"), col("assigned").as("part"), col("vec"))
      val pairs = Similarity.nearDupPairs(keyed, SweepThresholds.min)
      val total = c.agg(count(lit(1)).as("n_vecs"))
      val ts = SweepThresholds.toDF("threshold")
      // LEFT from the τ list so a threshold no pair reaches still
      // reports an explicit zero row (count/countDistinct skip the
      // null-extended side).
      ts.join(pairs, col("cos") >= col("threshold"), "left")
        .groupBy("threshold")
        .agg(count(col("id_a")).as("n_pairs"),
          countDistinct(col("id_b")).as("n_dropped"))
        .crossJoin(broadcast(total))
        .select(col("threshold"), col("n_pairs"), col("n_dropped"),
          (col("n_vecs") - col("n_dropped")).as("n_survivors"),
          (col("n_dropped").cast("double") / col("n_vecs").cast("double"))
            .as("drop_frac"))
    }),

    // E204: cluster-bucket profile for the embedding near-dup tier —
    // the E198 "no silent caps" audit applied to the pair tier's
    // buckets. Round-10 (verdict task #2): it now profiles the SAME
    // adaptive assignment the pair tier buckets on (emb_semdedup /
    // emb_threshold_sweep), so the headroom it reports is the headroom
    // those joins actually run under. Under adaptive k the law
    // inverts: instead of telling the operator WHEN to re-cluster, the
    // profile VERIFIES that re-clustering held E[m] at targetPop —
    // ScoringQueriesSpec pins pop_headroom > 0 for every cell. One
    // tiny aggregation (cells × 1 rows); exact integers.
    "emb_cluster_profile" -> ((s, dir) => {
      val asg = adaptiveAsg(s, dir) // shared artifact (r16)
      val sizes = asg.select(col("assigned").as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("m"))
      val tot = sizes.agg(sum(col("m")).as("n_vecs"),
        sum(expr("(m * (m - 1)) DIV 2")).as("total_pairs"))
      sizes.crossJoin(broadcast(tot))
        .select(col("cell"), col("m"),
          expr("(m * (m - 1)) DIV 2").as("candidate_pairs"),
          (col("m").cast("double") / col("n_vecs").cast("double"))
            .as("bucket_frac"),
          (expr("(m * (m - 1)) DIV 2").cast("double") /
            col("total_pairs").cast("double")).as("pair_share"),
          (lit(MaxClusterPop.toLong) - col("m")).as("pop_headroom"))
    }),

    // E211: two-level assignment agreement audit. E207 holds the pair
    // tier linear by growing k with N — which promotes the ASSIGNMENT
    // stage (N·k exact cosine scorings, k = N/targetPop → N²/targetPop
    // flops) to the tier's next quadratic term across decades: the
    // residual 3.9–4.7× second-decade slope SCALING.md measures.
    // Similarity.twoLevelAssign is the IVF coarse-quantizer discipline
    // applied to assignment itself — route each point through
    // g = ⌈√(2k)⌉ coarse centroids (k-means over the centroid table),
    // probe the top-2 groups' fine cells: O(N·√k). The assignment is
    // APPROXIMATE, so this row MEASURES what the cut costs instead of
    // assuming it's free (the E203 discipline): agreement fraction vs
    // the exact argmax over the SAME serving centroids, plus realized
    // candidate work per point (coarse scorings + measured fine
    // probes) against the exact tier's k. One summary row; the
    // centroid-side meta-clustering is k-bounded, the corpus-side
    // passes are the probe itself.
    "emb_twolevel_agreement" -> ((s, dir) => {
      val c = corpus(s, dir).select(col("id"), col("vec"))
        .localCheckpoint(false)
      val asg = adaptiveAsg(s, dir) // shared artifact (r16)
      val fine = Similarity.centroidVectors(Similarity.centroids(
        c.join(asg.select(col("id").as("aid"), col("assigned").as("part")),
          col("id") === col("aid"))
          .select(col("part"), col("vec"))))
        .localCheckpoint(false)
      val exact = Similarity.nearestCell(c, fine)
        .select(col("id"), col("cell").as("ecell"))
      // one meta-clustering, consumed by both the probe and the g
      // count (ADVICE r10: the recompute doubled this stage's work)
      val grouping = Similarity.coarsenCentroids(fine)
      val two = Similarity.twoLevelAssign(c, grouping, TwoLevelProbe)
        .select(col("id"), col("cell").as("tcell"), col("n_fine_cand"))
      val coarse = grouping._2
      val kg = fine.agg(count(lit(1)).as("k_cells"))
        .crossJoin(coarse.agg(count(lit(1)).as("g_groups")))
      exact.join(two, "id")
        .agg(count(lit(1)).as("n_points"),
          sum(when(col("ecell") === col("tcell"), 1L).otherwise(0L))
            .as("agree_n"),
          avg(col("n_fine_cand")).as("avg_fine"))
        .crossJoin(broadcast(kg))
        .select(col("n_points"), col("k_cells"), col("g_groups"),
          col("agree_n"),
          round(col("agree_n").cast("double") / col("n_points"), 4)
            .as("agree_frac"),
          col("k_cells").as("cand_exact_per_point"),
          round(col("g_groups") + col("avg_fine"), 4).as("cand_two_avg"))
    }),

    // E212: farthest-point diversity coreset — greedy k-center maximin
    // selection (seed = smallest id; then "add the point whose max
    // cosine to the selected set is smallest", ties → smaller id).
    // The data-SELECTION complement to dedup: dedup removes
    // redundancy, the coreset ranks what to KEEP for coverage (the
    // k-center 2-approximation that backs coreset-based finetuning
    // data picks). Per round: ONE broadcast center vector, a narrow
    // codegen `greatest` state update over one double per point, a
    // min_by partial agg with an O(1) driver collect — k tiny jobs,
    // nothing corpus-sized leaves the executors.
    "emb_coreset" -> ((s, dir) =>
      Similarity.farthestPointCoreset(
        corpus(s, dir).select(col("id"), col("vec")), CoresetK)),

    // E227: composed IVF-PQ search — the ANN ladder's capstone: the
    // coarse quantizer routes each query to its top-2 cells (E167's
    // multi-probe rule), the product quantizer ADC-ranks only those
    // cells' integer codes (candidates ≈ probe/cells of the corpus,
    // scan never touches raw vectors), the bounded heap caps the
    // shuffle at k rows per query. The oracle composes the centroid,
    // probe, codebook, code, and table chains and replays the whole
    // search value-for-value.
    "emb_topk_ivfpq" -> ((s, dir) =>
      Similarity.pqIvfTopK(corpus(s, dir), PqSubspaces, PqSubDim,
        NumQueries, KIvf, MProbe)),

    // E243: RESIDUAL IVF-PQ — the production FAISS IVFPQ shape: codes
    // quantize v − centroid(cell), the query builds one distance
    // table per probed cell against its per-cell residual. Same
    // trained-codebook, multi-probe, bounded-heap machinery.
    "emb_topk_ivfpq_residual" -> ((s, dir) =>
      Similarity.pqResidualIvfTopK(corpus(s, dir), PqSubspaces, PqSubDim,
        NumQueries, KIvf, MProbe)),

    // E260: serving from the PERSISTED index (VERDICT r12 #3) — the
    // residual IVF-PQ index is built ONCE per fixture state and
    // written as parquet tables + manifest (Materialize.once, the
    // partitioned-scan precedent); the query then LOADS the artifact
    // (manifest re-asserted: version, geometry, per-table row counts)
    // and serves the same fixed-probe search the in-memory E243 row
    // runs. Parquet round-trips doubles bit-exactly, so this hashes
    // against the IDENTICAL oracle as emb_topk_ivfpq_residual — the
    // build→persist→load→search round trip is machine-checked by the
    // gate itself, and AnnIndexSpec pins in-memory equality directly.
    "emb_persisted_topk" -> ((s, dir) => {
      val idx = annIdxDir(s, dir)
      val q = corpus(s, dir).filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      graft.ext.AnnIndex.searchTopK(s, idx, q, KIvf, MProbe)
    }),

    // E262: incremental index APPEND (the FAISS `add` semantics) —
    // the index is built on the BASE corpus (id % 7 ≠ 3), then the
    // held-out batch is appended under the FROZEN centroids and
    // codebooks (no retraining), and the search covers everything.
    // The oracle replays the frozen-quantizer discipline exactly:
    // centroid means and codebook training restricted to the base
    // population, assignment + encoding over all vectors. Staleness
    // (appended vs full-rebuild recall) is measured in AppendSpec —
    // the price of not retraining is a number, not an assumption.
    "emb_index_append" -> ((s, dir) => {
      val c = corpus(s, dir)
      val idx = Materialize.once("annindex_append", dir) { p =>
        graft.ext.AnnIndex.build(
          c.filter(col("id") % AppendMod =!= AppendBatchRem),
          PqSubspaces, PqSubDim, p)
        graft.ext.AnnIndex.append(
          c.filter(col("id") % AppendMod === AppendBatchRem)
            .select(col("id"), col("vec")), p)
      }
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      graft.ext.AnnIndex.searchTopK(s, idx, q, KIvf, MProbe)
    }),

    // E263: tombstone DELETE over the persisted index — built on the
    // FULL corpus (training and codes cover everything), then the
    // id % 7 == 3 slice is tombstoned and the search serves through
    // the soft-delete anti-join (liveCodes). The oracle keeps the
    // full-population training chain and excludes the deleted ids
    // from the CANDIDATE set only — exactly what a tombstone does.
    // Compaction (physical removal) is pinned search-identical to
    // this soft path by AnnDeleteSpec, so one gate row covers both.
    "emb_index_delete" -> ((s, dir) => {
      val c = corpus(s, dir)
      val idx = Materialize.once("annindex_delete", dir) { p =>
        graft.ext.AnnIndex.build(c, PqSubspaces, PqSubDim, p)
        graft.ext.AnnIndex.delete(
          c.filter(col("id") % AppendMod === AppendBatchRem)
            .select(col("id")), p)
      }
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      graft.ext.AnnIndex.searchTopK(s, idx, q, KIvf, MProbe)
    }),

    // E265: margin-based bitext mining (CCMatrix/LASER) — the even-id
    // batch mines its best odd-id partner by MARGIN (cosine over the
    // mean of each side's k-NN cosines), which demotes hub vectors
    // raw cosine would mis-mine; `mutual` marks pairs where the
    // target's best source is the source (the strict acceptance).
    "emb_bitext_margin" -> ((s, dir) => {
      val c = corpus(s, dir)
      graft.ext.Bitext.marginMine(
        c.filter(col("id") % 2 === 0 && col("id") < BitextCap)
          .select(col("id"), col("vec")),
        c.filter(col("id") % 2 === 1).select(col("id"), col("vec")),
        KMargin)
    }),

    // E244: recall audit for the residual chain (the E226 discipline):
    // per query, exact-L2 top-k hits inside the residual IVF-PQ top-k
    // (point recall) and inside its rerank-horizon candidate set —
    // the number that prices residual vs raw-vector quantization.
    "emb_residual_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val adcAll = graft.ext.AnnIndex.searchTopK(s, annIdxDir(s, dir),
        c.filter(col("id") < NumQueries)
          .select(col("id").as("qid"), col("vec").as("qv")),
        KIvf * AdcRerankMult, MProbe)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .localCheckpoint(false)
      val adcTop = adcAll.filter(col("rank") <= KIvf)
        .select(col("query_id"), col("neighbor_id"))
      val q = c.filter(col("id") < NumQueries)
        .select(col("id").as("qid"), col("vec").as("qv"))
      // r17: shared bounded-heap exact leg (see exactL2TopK) — same
      // distances, same tie rule, O(k) shuffle rows per query.
      val exact = exactL2TopK(c, q, KIvf)
      val hits = adcTop.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      val candHits = adcAll.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("ch"))
      q.select(col("qid").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .join(candHits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).as("n_hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") /
            lit(KIvf.toDouble), 6).as("recall_at_k"),
          coalesce(col("ch"), lit(0L)).as("n_cand_hits"),
          round(coalesce(col("ch"), lit(0L)).cast("double") /
            lit(KIvf.toDouble), 6).as("recall_rerank"))
    }),

    // E226: ADC recall audit — the E163 discipline applied to E220:
    // per query, (a) how many ADC top-k survive in the EXACT
    // squared-L2 top-k (point-ranking recall: LOW by design on this
    // fixture — 4×16 PQ over near-isotropic vectors with a
    // 5-codeword-per-subspace codebook has 5⁴ code points for 500
    // vectors, so within-top-5 ranking is mostly quantization noise;
    // the audit MAKES that measurable instead of assumed), and (b)
    // the SERVING-SHAPE recall: how many exact top-k appear in the
    // ADC top-5k CANDIDATE set — candidates-then-exact-rerank is how
    // PQ deploys, and that recall is what the rerank multiplier buys.
    // Unlike the LSH/sketch audits, both sides are deterministic
    // fixed-point pipelines, so every number is hash-checked — no
    // pinned booleans. Deployment levers: trained (k-means) codebooks
    // and more codewords; the audit re-prices them every round.
    "emb_adc_recall" -> ((s, dir) => {
      val c = corpus(s, dir).localCheckpoint(false)
      val (cw, codes) = pqFlat(s, dir)
      adcRecallOver(c, cw, codes)
    }),

    // E218: per-dimension embedding statistics + dead-dimension triage
    // — the embedding-QA companion to E88's per-cluster norms: one
    // partial-aggregatable pass emitting d rows (mean, variance via
    // the same E[X²]−E[X]² fixed points as the PCA fit, min/max), with
    // is_dead flagging collapsed dimensions (a truncated/buggy encoder
    // export shows up as zero-variance columns long before any recall
    // metric moves; the fixture has none — PcaSpec plants one and pins
    // the flag fires).
    "emb_dim_stats" -> ((s, dir) =>
      corpus(s, dir)
        .select(posexplode(col("vec")).as(Seq("d", "val")))
        .groupBy(col("d"))
        .agg(round(avg(col("val")), 6).as("mean"),
          round(avg(col("val") * col("val")), 6).as("s2"),
          min(col("val")).as("min_v"), max(col("val")).as("max_v"))
        .select(col("d"), col("mean"),
          round(col("s2") - col("mean") * col("mean"), 6).as("variance"),
          col("min_v"), col("max_v"),
          (round(col("s2") - col("mean") * col("mean"), 6) <= lit(1e-6))
            .as("is_dead"))),

    // E217: distributed top-component PCA — the dimensionality-
    // reduction primitive of the embedding pipeline (whitening /
    // compression ahead of ANN, dead-dimension triage, model-version
    // drift). Two partial-aggregatable corpus passes (per-dim means,
    // upper-triangle second moments — d²-bounded outputs), power
    // iteration on the DRIVER's 64×64 matrix (O(d²) state, the
    // k-means/BPE iterate discipline), fixed-point rounds at every
    // step so the oracle replays fit AND projection from raw data.
    "emb_pca_top" -> ((s, dir) => {
      val v = corpus(s, dir).select(col("id"), col("vec"))
        .localCheckpoint(false)
      val (m, pc) = graft.ext.Pca.fit(v, EmbDim)
      import s.implicits._
      m.indices.map(d => (d, m(d), pc(d))).toDF("d", "mean", "pc1")
    }),

    // E269: PCA from MERGED SHARD MOMENTS — the incremental-fit
    // algebra (E108/E221 sketch discipline): per-shard (id % 3) raw
    // moments persisted through parquet, merged in shard order on the
    // driver, fitted without re-touching any shard's vectors. The
    // oracle is the MONOLITHIC refit from raw data — the hash match
    // IS the claim that merge loses nothing.
    "emb_pca_merge" -> ((s, dir) => {
      val v = corpus(s, dir).select(col("id"), col("vec"),
        (col("id") % 3).as("sh"))
      val momentsDir = Materialize.once(s"pca_moments:$dir", dir) { p =>
        graft.ext.Pca.shardMoments(v, col("sh"), EmbDim)
          .write.mode("overwrite").parquet(p)
      }
      val (m, pc) = graft.ext.Pca.fitFromShardMoments(
        s.read.parquet(momentsDir), EmbDim)
      import s.implicits._
      m.indices.map(d => (d, m(d), pc(d))).toDF("d", "mean", "pc1")
    }),

    // E232: PCA variance accounting — eigenvalue (Rayleigh quotient at
    // the fitted component, same fixed-point mat-vec as the
    // iteration), total variance (trace), explained share: the
    // keep-or-not number read before any projection ships. One row,
    // driver arithmetic over the d×d state, oracle-refit from raw.
    "emb_pca_var" -> ((s, dir) => {
      val v = corpus(s, dir).select(col("id"), col("vec"))
        .localCheckpoint(false)
      val (_, c) = graft.ext.Pca.covariance(v, EmbDim)
      val comp = graft.ext.Pca.powerIterate(c, graft.ext.Pca.PowerIters)
      val (lambda, trace, explained) = graft.ext.Pca.varianceAccount(c, comp)
      import s.implicits._
      Seq((lambda, trace, explained))
        .toDF("eigval", "trace_var", "explained")
    }),

    // E217 serving shape: each row projected onto the fitted component
    // by ONE codegen DotProduct against literals — scan-side, no
    // shuffle; the oracle refits in SQL and projects independently,
    // so a drifted fit cannot hide behind a matching projection rule.
    "emb_pca_project" -> ((s, dir) => {
      val v = corpus(s, dir).select(col("id"), col("vec"))
        .localCheckpoint(false)
      val (m, pc) = graft.ext.Pca.fit(v, EmbDim)
      graft.ext.Pca.project(v, m, pc)
    }),

    // E213: the ENGAGED two-level assignment path, value-checked at
    // gate scale (round-10 verdict #1). Production adaptiveClusters
    // dispatches each assignment stage through the two-level coarse
    // probe once the stage's centroid count crosses the MEASURED
    // TwoLevelCrossoverK = 8192 (the round-11 kernel study: exact
    // argmax is pipeline-bound and faster through k ≈ 2000) — every
    // shipped fixture AND witness decade (k = 5/5/20/200/1964) sits
    // far below it, so the probe path production takes past the
    // crossover would otherwise run only where no DuckDB oracle
    // exists. This row therefore FORCES the probe (it does not cross
    // the seam): the full seed-probe → Lloyd recompute → probe chain,
    // hash-checked rule for rule by a generated-CTE oracle (the E211
    // replay machinery, applied twice). E211 stays the
    // agreement/accuracy audit; this is the value witness.
    "emb_adaptive_twolevel" -> ((s, dir) =>
      Similarity.adaptiveClustersTwoLevel(
        corpus(s, dir).select(col("id"), col("vec")),
        TwoLevelWitnessPop, AdaptiveIters)))

  /** Bucket-population line for the embedding cluster tier: past this,
    * within-cluster pair work (m²/2 exact cosines) stops being "small
    * bucket" arithmetic and the operator should re-cluster with a
    * larger k before running the pair tier — the embedding analogue of
    * [[graft.ext.Dedup.MaxBucketSize]], surfaced as headroom in
    * emb_cluster_profile rather than enforced as a silent slice (an
    * embedding cluster, unlike an LSH bucket, cannot be truncated
    * without losing specific near-dup pairs the operator asked for).
    */
  private[queries] val MaxClusterPop = 4096

  /** Target expected cluster population for the adaptive pair tier:
    * k = ⌈N/100⌉ gives 5 cells at the 500-vector fixture SFs, 20 at
    * sf0.1's 2000, and 200 at the second-decade witness's 20k — pair
    * work stays ≈ N·targetPop/2 (linear) instead of N²/2k (quadratic
    * under frozen k). Far below [[MaxClusterPop]] by construction;
    * ScoringQueriesSpec pins the realized headroom positive.
    */
  private[queries] val AdaptiveTargetPop = 100

  /** Lloyd rounds after stride seeding. One round is the bucketing
    * sweet spot: each round is a full N·k assignment pass (the
    * adaptive tier's dominant cost — measured two-decade slopes
    * dropped 2.5→1.8-2.2× going 2→1), and the stride-seeded
    * one-round assignment already lands populations within ±15% of
    * targetPop (ScoringQueriesSpec pins the balance). Trained
    * multi-round Lloyd stays demonstrated by emb_kmeans_iter. */
  private[queries] val AdaptiveIters = 1

  /** Coarse groups probed per point by the two-level assignment tier
    * (E211/E213) — aliased from the production constant so the audit,
    * the forced-engage witness, and [[graft.ext.Similarity]]'s
    * crossover dispatch can never probe different widths.
    */
  private[queries] val TwoLevelProbe = Similarity.TwoLevelProbe

  /** Target population for the E213 forced-engage witness. The witness
    * HARD-FORCES [[graft.ext.Similarity.adaptiveClustersTwoLevel]] —
    * the fixture k never approaches the measured crossover
    * [[graft.ext.Similarity.TwoLevelCrossoverK]] = 8192, so the probe
    * engages by fiat, not by crossing the seam. k only needs to give
    * the coarse grouping real structure (g = ⌈√(2k)⌉ ≥ probe, multiple
    * cells per group); it does not need to be large — the forced k is
    * the biggest cost lever on the whole bench line (VERDICT r11 #5).
    */
  private[queries] val TwoLevelWitnessPop = 10

  /** Coreset size for emb_coreset (E212) — 8 greedy maximin rounds:
    * enough to exercise seed, tie rules, and the monotone maximin
    * sequence while keeping the oracle's generated round chain
    * readable.
    */
  private[queries] val CoresetK = 8

  /** Candidate multiplier for the E226 rerank-recall column: ADC
    * serves as candidate generator at k·mult, exact rerank recovers
    * the final top-k — the standard PQ serving shape.
    */
  private[queries] val AdcRerankMult = 5

  /** Attribute constraint for the filtered-ANN pair (E234/E235):
    * vec_id % 3 == 0, standing in for any user metadata predicate —
    * selective enough (~1/3 of the corpus) that the filtered and
    * unfiltered top-k differ, dense enough that every probed cell
    * still holds ≥ k matches.
    */
  private[queries] val FilteredMod = 3
  private[queries] def filteredPred =
    pmod(col("id"), lit(FilteredMod.toLong)) === 0

  /** E234's search, shared with the E235 audit: top-[[MProbe]] cells
    * per query by trained-centroid cosine (the emb_topk_mprobe probe
    * list), then [[graft.ext.Similarity.filteredTopKWithinPartition]]
    * over the probed cells.
    */
  private[queries] def filteredSearch(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val cvecs = Similarity.centroidVectors(Similarity.centroids(c))
    val q = c.filter(col("id") < NumQueries)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val pc = q.crossJoin(broadcast(cvecs)) // cells × queries: bounded
      .select(col("qid"), col("qvec"), col("cpart"),
        Similarity.cosine(col("qvec"), col("cvec")).as("cs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cs").desc, col("cpart"))
    val probes = pc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MProbe)
      .select(col("qid"), col("cpart").as("part"), col("qvec"))
    Similarity.filteredTopKWithinPartition(c, probes, K, filteredPred)
  }

  private val MProbe = 2   // cells probed per query in emb_topk_mprobe
  private val EvalN = 25   // vec_id < 25 play the benchmark/eval set
  // 0.4 = the corpus' near-dup line (emb_neardup/emb_semdedup); fixture
  // background max-cos sits at ~0.37 (p97), planted dups near 0.49.
  private val DecontamThr = 0.4
  // Sweep brackets the corpus' near-dup line from both sides; both
  // engines compare against the identical double literals on the
  // round-6 cosine.
  private[queries] val SweepThresholds: Seq[Double] = Seq(0.3, 0.35, 0.4, 0.45, 0.5)

  // -------------------------------------------------------------------
  // DuckDB oracles
  // -------------------------------------------------------------------

  /** Left-fold dot product, same order as Similarity.dot. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (p, q) -> p + q)"

  private[queries] def cosSql(a: String, b: String): String =
    s"""(CASE WHEN (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) = 0 THEN 0.0
       |ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END)""".stripMargin

  private[queries] val embCte =
    "WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  /** E247 sign-bit pack: sum of disjoint powers of two over half the
    * dims starting at `lo` (0-based) — the same flat fold as
    * Similarity.binarySigs, in plain BIGINT arithmetic.
    */
  private def binPackSql(lo: Int): String =
    "CAST(" + (0 until EmbDim / 2)
      .map(i => s"(CASE WHEN v[${lo + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"

  /** Shared E252/E253 CTEs: label-seeded coarse quantizer (cent2/cv2),
    * argmax assignment `car`, cell populations, per-query ranked cells
    * with a ROWS-frame cumulative population, the minimal probe set
    * `prb` (kept while cum − np < ceil(3N/10), exact integers), and
    * the exact-cosine scores `sc3 (qid, id, score)` inside probed
    * cells.
    */
  private lazy val adaptiveProbeCtes: String =
    s"""$embCte,
       |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
       |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
       |cent2 AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
       |          FROM x GROUP BY label, dim),
       |cv2 AS MATERIALIZED (SELECT cpart, list(c ORDER BY dim) AS cvec
       |        FROM cent2 GROUP BY cpart),
       |scr AS (SELECT e.vec_id, cv2.cpart, ${cosSql("e.v", "cv2.cvec")} AS cs
       |        FROM e CROSS JOIN cv2),
       |car AS MATERIALIZED (SELECT vec_id, cpart AS cell FROM (
       |         SELECT vec_id, cpart, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cs DESC, cpart) AS rn FROM scr) WHERE rn = 1),
       |pop AS (SELECT cell, CAST(count(*) AS BIGINT) AS np
       |        FROM car GROUP BY cell),
       |nn AS (SELECT count(*) AS n FROM e),
       |qq AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $NumQueries),
       |pc AS (SELECT qq.qid, cv2.cpart, ${cosSql("qq.v", "cv2.cvec")} AS cs
       |       FROM qq CROSS JOIN cv2),
       |pcp AS (SELECT pc.qid, pc.cpart, pop.np,
       |               sum(pop.np) OVER (PARTITION BY pc.qid
       |                 ORDER BY pc.cs DESC, pc.cpart
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM pc JOIN pop ON pop.cell = pc.cpart),
       |prb AS MATERIALIZED (SELECT qid, cpart FROM pcp, nn
       |        WHERE cum - np < ($ProbeTargetNum * nn.n + ${ProbeTargetDen - 1})
       |              // $ProbeTargetDen),
       |sc3 AS (SELECT prb.qid, e.vec_id AS id, ${cosSql("qq.v", "e.v")} AS score
       |        FROM e JOIN car ON car.vec_id = e.vec_id
       |               JOIN prb ON prb.cpart = car.cell
       |               JOIN qq ON qq.qid = prb.qid
       |        WHERE e.vec_id <> prb.qid)""".stripMargin

  /** Shared E247/E248 CTEs: packed signatures `sg`, query sigs `qs`,
    * and all-pairs Hamming distances `d (qid, id, dist)`.
    */
  /** E294/E295 shared CTEs: per-row norm, normalized floor-quantized
    * int8 codes `qz (vec_id, q8)` — mirrors Similarity.sq8Codes.
    */
  private lazy val sq8Ctes: String =
    s"""$embCte,
       |nrmv AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |qz AS MATERIALIZED (SELECT vec_id,
       |    list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0
       |      ELSE floor(x / nrm * 127.0 + 0.5) END) AS q8
       |  FROM nrmv)""".stripMargin

  private lazy val binarySigCtes: String =
    s"""$embCte,
       |sg AS MATERIALIZED (SELECT vec_id AS id, ${binPackSql(0)} AS h0,
       |       ${binPackSql(EmbDim / 2)} AS h1 FROM e),
       |qs AS (SELECT id AS qid, h0 AS q0, h1 AS q1 FROM sg
       |       WHERE id < $NumQueries),
       |d AS (SELECT qs.qid, sg.id,
       |             CAST(bit_count(xor(sg.h0, qs.q0)) +
       |                  bit_count(xor(sg.h1, qs.q1)) AS BIGINT) AS dist
       |      FROM qs JOIN sg ON sg.id <> qs.qid)""".stripMargin

  /** SRP signature CTE: regenerates Srp.planes' md5 Rademacher matrix
    * (+1 when the first md5 hex nibble of "<plane>_<dim>" is even) and
    * folds each dot product in the same left-to-right order as the
    * codegen'd DotProduct, so the sign bits — and therefore the whole
    * signature — are bit-identical across engines.
    */
  private val srpSigCte =
    s"""$embCte,
       |r AS (SELECT i, list_transform(generate_series(0, ${EmbDim - 1}), j ->
       |        CASE WHEN strpos('02468ace', substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) > 0
       |             THEN 1.0 ELSE -1.0 END) AS rv
       |      FROM generate_series(0, ${Srp.NumPlanes - 1}) t(i)),
       |dp AS (SELECT e.vec_id AS id, r.i, ${dotSql("e.v", "r.rv")} AS d
       |       FROM e CROSS JOIN r),
       |sg AS (SELECT id, CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS srp_sig
       |       FROM dp GROUP BY id)""".stripMargin

  /** Adaptive-clustering CTE chain (appended after `e`): replays
    * [[graft.ext.Similarity.adaptiveClusters]] — integer-arithmetic
    * k = ⌈n/targetPop⌉ and stride = ⌈n/k⌉ (`kk`), stride-spread seed
    * vectors in global vec_id order (`sd`), seed assignment (`a0`,
    * argmax cosine, ties to the smaller cell), then `iters` Lloyd
    * rounds of 6-decimal-rounded centroid recompute (`ac`/`av`) and
    * reassignment (`a1..`). Ends with `aasg(id, cell)` plus
    * `aj(id, cell, v)` — the re-keyed corpus every adaptive pair-tier
    * oracle joins on.
    */
  private def adaptiveAssignSql(targetPop: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""kk AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |              greatest(1, (count(*) + $targetPop - 1) // $targetPop) AS k
         |       FROM e),
         |rkseed AS (SELECT vec_id, v,
         |                  row_number() OVER (ORDER BY vec_id) - 1 AS rn
         |           FROM e),
         |sd AS (SELECT r.vec_id AS cell, r.v AS cvec
         |       FROM rkseed r, kk
         |       WHERE r.rn % ((kk.n + kk.k - 1) // kk.k) = 0),
         |sc0 AS (SELECT e.vec_id AS id, sd.cell,
         |               ${cosSql("e.v", "sd.cvec")} AS score
         |        FROM e CROSS JOIN sd),
         |a0 AS (SELECT id, cell, score FROM (
         |         SELECT *, row_number() OVER (PARTITION BY id
         |           ORDER BY score DESC, cell) AS rn2 FROM sc0)
         |       WHERE rn2 = 1),
         |ax AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         |              v[CAST(i AS INTEGER)] AS val
         |       FROM e, unnest(generate_series(1, len(v))) AS t(i))""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |ac$i AS (SELECT a${i - 1}.cell, ax.dim,
           |                round(sum(ax.val) / count(*), 6) AS c
           |         FROM ax JOIN a${i - 1} ON ax.vec_id = a${i - 1}.id
           |         GROUP BY a${i - 1}.cell, ax.dim),
           |av$i AS (SELECT cell, list(c ORDER BY dim) AS cvec
           |         FROM ac$i GROUP BY cell),
           |sc$i AS (SELECT e.vec_id AS id, av$i.cell,
           |                ${cosSql("e.v", s"av$i.cvec")} AS score
           |         FROM e CROSS JOIN av$i),
           |a$i AS (SELECT id, cell, score FROM (
           |          SELECT *, row_number() OVER (PARTITION BY id
           |            ORDER BY score DESC, cell) AS rn2 FROM sc$i)
           |        WHERE rn2 = 1)""".stripMargin
    }
    sb ++=
      s""",
         |aasg AS (SELECT id, cell FROM a$iters),
         |aj AS (SELECT g.id, g.cell, e.v
         |       FROM aasg g JOIN e ON e.vec_id = g.id)""".stripMargin
    sb.toString
  }

  private lazy val adaptiveCte: String =
    adaptiveAssignSql(AdaptiveTargetPop, AdaptiveIters)

  /** One two-level assignment stage as a generated CTE block — the
    * E211 replay machinery factored so the E213 oracle can apply it
    * to EVERY assignment stage (seed probe, then per-Lloyd-round).
    * Input: `cent` names a (cell, cvec) centroid CTE; points are the
    * fixed `e(vec_id, v)`. Emits prefix-suffixed CTEs ending in
    * `two_$p(id, cell, score)`: g = ⌈√(2k)⌉ clamped [1,k] (kk), stride
    * seeds over centroid rank (gsd), argmax + 6-rounded coarse
    * recompute + reassign (ga0/gc/gv/ga1), non-empty groups (gne),
    * per-point top-`probe` coarse probe (psc/ptop, ties → smaller
    * gpart), fine argmax within probed groups (pf/two, ties → smaller
    * cell) — rule for rule [[graft.ext.Similarity.twoLevelAssign]].
    */
  private def twoLevelAssignSql(cent: String, p: String): String =
    s"""kk_$p AS (SELECT CAST(count(*) AS BIGINT) AS k2,
       |               least(CAST(count(*) AS BIGINT),
       |                     greatest(CAST(1 AS BIGINT),
       |                              CAST(ceil(sqrt(2.0 * count(*))) AS BIGINT))) AS g
       |        FROM $cent),
       |rkc_$p AS (SELECT cell, cvec, row_number() OVER (ORDER BY cell) - 1 AS rn
       |        FROM $cent),
       |gsd_$p AS (SELECT r.cell AS gpart, r.cvec AS gvec FROM rkc_$p r, kk_$p
       |        WHERE r.rn % ((kk_$p.k2 + kk_$p.g - 1) // kk_$p.g) = 0),
       |gs0_$p AS (SELECT f.cell, s.gpart, ${cosSql("f.cvec", "s.gvec")} AS score
       |        FROM $cent f CROSS JOIN gsd_$p s),
       |ga0_$p AS (SELECT cell, gpart FROM (
       |          SELECT *, row_number() OVER (PARTITION BY cell
       |            ORDER BY score DESC, gpart) AS rn2 FROM gs0_$p)
       |        WHERE rn2 = 1),
       |cfx_$p AS (SELECT cell, CAST(i - 1 AS INTEGER) AS dim,
       |               cvec[CAST(i AS INTEGER)] AS val
       |        FROM $cent, unnest(generate_series(1, len(cvec))) AS t(i)),
       |gc_$p AS (SELECT a.gpart, x.dim, round(sum(x.val) / count(*), 6) AS c
       |       FROM cfx_$p x JOIN ga0_$p a ON x.cell = a.cell
       |       GROUP BY a.gpart, x.dim),
       |gv_$p AS (SELECT gpart, list(c ORDER BY dim) AS gvec
       |       FROM gc_$p GROUP BY gpart),
       |gs1_$p AS (SELECT f.cell, s.gpart, ${cosSql("f.cvec", "s.gvec")} AS score
       |        FROM $cent f CROSS JOIN gv_$p s),
       |ga1_$p AS (SELECT cell, gpart FROM (
       |          SELECT *, row_number() OVER (PARTITION BY cell
       |            ORDER BY score DESC, gpart) AS rn2 FROM gs1_$p)
       |        WHERE rn2 = 1),
       |gne_$p AS (SELECT gv_$p.gpart, gv_$p.gvec FROM gv_$p
       |        WHERE EXISTS (SELECT 1 FROM ga1_$p WHERE ga1_$p.gpart = gv_$p.gpart)),
       |psc_$p AS (SELECT e.vec_id AS id, s.gpart, ${cosSql("e.v", "s.gvec")} AS score
       |        FROM e CROSS JOIN gne_$p s),
       |ptop_$p AS (SELECT id, gpart FROM (
       |           SELECT *, row_number() OVER (PARTITION BY id
       |             ORDER BY score DESC, gpart) AS rnp FROM psc_$p)
       |         WHERE rnp <= $TwoLevelProbe),
       |pf_$p AS (SELECT q.id, f.cell, ${cosSql("e.v", "f.cvec")} AS score
       |       FROM ptop_$p q
       |       JOIN ga1_$p m ON m.gpart = q.gpart
       |       JOIN $cent f ON f.cell = m.cell
       |       JOIN e ON e.vec_id = q.id),
       |two_$p AS (SELECT id, cell, score FROM (
       |          SELECT *, row_number() OVER (PARTITION BY id
       |            ORDER BY score DESC, cell) AS rn2 FROM pf_$p)
       |        WHERE rn2 = 1)""".stripMargin

  /** Generated oracle for `emb_adaptive_twolevel` (E213): replays
    * [[graft.ext.Similarity.adaptiveClustersTwoLevel]] — integer
    * k = ⌈n/targetPop⌉ stride seeding exactly as the exact-tier
    * oracle, then [[twoLevelAssignSql]] for the SEED assignment and
    * again after every 6-rounded Lloyd centroid recompute.
    */
  private def adaptiveTwoLevelSql(targetPop: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""$embCte,
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |              greatest(1, (count(*) + $targetPop - 1) // $targetPop) AS k
         |       FROM e),
         |rkseed AS (SELECT vec_id, v,
         |                  row_number() OVER (ORDER BY vec_id) - 1 AS rn
         |           FROM e),
         |sd AS (SELECT r.vec_id AS cell, r.v AS cvec
         |       FROM rkseed r, kk
         |       WHERE r.rn % ((kk.n + kk.k - 1) // kk.k) = 0),
         |ax AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         |              v[CAST(i AS INTEGER)] AS val
         |       FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |""".stripMargin
    sb ++= twoLevelAssignSql("sd", "r0")
    var prev = "two_r0"
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |ac$i AS (SELECT t.cell, ax.dim, round(sum(ax.val) / count(*), 6) AS c
           |         FROM ax JOIN $prev t ON ax.vec_id = t.id
           |         GROUP BY t.cell, ax.dim),
           |av$i AS (SELECT cell, list(c ORDER BY dim) AS cvec
           |         FROM ac$i GROUP BY cell),
           |""".stripMargin
      sb ++= twoLevelAssignSql(s"av$i", s"r$i")
      prev = s"two_r$i"
    }
    sb ++=
      s"""
         |SELECT id, CAST(cell AS BIGINT) AS assigned, round(score, 6) AS cos
         |FROM $prev""".stripMargin
    sb.toString
  }

  /** Shared PQ CTE chain (E112/E220/E226/E227): cell-SEEDED
    * per-subspace codebooks (cb0), then [[graft.ext.Similarity.PqTrainIters]]
    * generated Lloyd rounds of argmin-L2 assignment (ties → smaller
    * codeword) + 6-rounded codeword recompute (cwt/dt/bt/cb per round
    * — VERDICT r11 #1: the TRAINED codebook, replayed round for round
    * so the count can never drift), ending in the final codebook `cw`,
    * per-doc subvectors `sv`, left-fold squared distances `d`, and
    * argmin codes `b` — the names every downstream PQ oracle consumes.
    * sub0/sv are MATERIALIZED: DuckDB inlines plain CTEs per
    * reference, and the training rounds reference each 2·iters+ times.
    */
  /** `trainFilter` (a predicate over `vec_id`, default all rows)
    * restricts the TRAINING population — seed selection and every
    * Lloyd recompute — while encoding still covers every vector: the
    * frozen-quantizer replay the E262 incremental-append oracle needs.
    */
  private def pqChainSql(iters: Int, prologue: String = "",
      src: String = "x", trainFilter: String = "TRUE"): String = {
    val sb = new StringBuilder
    sb ++=
      s"""$embCte,
         |x AS (SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim,
         |             v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),$prologue
         |sub0 AS MATERIALIZED (SELECT vec_id,
         |                dim // $PqSubDim AS m, dim % $PqSubDim AS sd, val
         |         FROM $src),
         |sv AS MATERIALIZED (SELECT vec_id AS id, m, list(val ORDER BY sd) AS sv
         |       FROM sub0 GROUP BY vec_id, m),
         |pqnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e
         |         WHERE $trainFilter),
         |pqrk AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rn
         |         FROM e WHERE $trainFilter),
         |pqsd AS (SELECT r.vec_id FROM pqrk r, pqnn
         |         WHERE r.rn % ((pqnn.n + $PqCodewordsK - 1) // $PqCodewordsK) = 0),
         |cb0 AS (SELECT s.vec_id AS cl, s.m, s.sd, s.val AS c
         |        FROM sub0 s JOIN pqsd ON s.vec_id = pqsd.vec_id)""".stripMargin
    for (t <- 1 to iters) {
      sb ++=
        s""",
           |cwt${t - 1} AS (SELECT cl, m, list(c ORDER BY sd) AS cvec
           |         FROM cb${t - 1} GROUP BY cl, m),
           |dt$t AS (SELECT sv.id, sv.m, w.cl,
           |             list_reduce(list_transform(generate_series(1, $PqSubDim),
           |               i -> (sv.sv[i] - w.cvec[i]) * (sv.sv[i] - w.cvec[i])),
           |               (p, q) -> p + q) AS d
           |      FROM sv JOIN cwt${t - 1} w ON sv.m = w.m),
           |bt$t AS (SELECT id, m, cl FROM (
           |         SELECT id, m, cl,
           |                row_number() OVER (PARTITION BY id, m ORDER BY d, cl) AS rn
           |         FROM dt$t) WHERE rn = 1),
           |cb$t AS (SELECT a.cl, s.m, s.sd, round(sum(s.val) / count(*), 6) AS c
           |        FROM sub0 s JOIN bt$t a ON s.vec_id = a.id AND s.m = a.m
           |        WHERE a.id IN (SELECT vec_id FROM pqrk)
           |        GROUP BY a.cl, s.m, s.sd)""".stripMargin
    }
    sb ++=
      s""",
         |cw AS MATERIALIZED (SELECT cl, m, list(c ORDER BY sd) AS cvec
         |       FROM cb$iters GROUP BY cl, m),
         |d AS (SELECT sv.id, sv.m, cw.cl,
         |             list_reduce(list_transform(generate_series(1, $PqSubDim),
         |               i -> (sv.sv[i] - cw.cvec[i]) * (sv.sv[i] - cw.cvec[i])),
         |               (p, q) -> p + q) AS d
         |      FROM sv JOIN cw ON sv.m = cw.m),
         |b AS (SELECT id, m, cl,
         |             row_number() OVER (PARTITION BY id, m ORDER BY d, cl) AS rn
         |      FROM d)""".stripMargin
    sb.toString
  }

  /** Codewords per subspace — aliased from the production constant so
    * the Spark training and the oracle's seed stride can never drift.
    */
  private def PqCodewordsK = graft.ext.Similarity.PqCodewords

  private lazy val pqChainCte: String =
    pqChainSql(graft.ext.Similarity.PqTrainIters)

  /** Residual-PQ chain (E243): the [[pqChainSql]] training/encoding
    * replay pointed at RESIDUAL long-form components `xr` — coarse
    * label-seeded centroids (cent2/cv2, the same 6-rounded fixed
    * points as every IVF oracle), argmax-cosine assignment `car`
    * (ties → smaller cell, the Spark max_by rule), residual
    * val = v[i] − centroid[i] in exact IEEE. Ends with the standard
    * chain names (cw, sv, b) plus cv2/car for the search stage.
    */
  private def pqResidualChainSql(trainFilter: String = "TRUE"): String = {
    val prologue =
      s"""
         |cent2 AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |          FROM x WHERE $trainFilter GROUP BY label, dim),
         |cv2 AS MATERIALIZED (SELECT cpart, list(c ORDER BY dim) AS cvec
         |        FROM cent2 GROUP BY cpart),
         |scr AS (SELECT e.vec_id, cv2.cpart, ${cosSql("e.v", "cv2.cvec")} AS cs
         |        FROM e CROSS JOIN cv2),
         |car AS MATERIALIZED (SELECT vec_id, cpart AS cell FROM (
         |         SELECT vec_id, cpart, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cs DESC, cpart) AS rn FROM scr) WHERE rn = 1),
         |xr AS (SELECT e.vec_id, e.label, CAST(i - 1 AS INTEGER) AS dim,
         |              e.v[CAST(i AS INTEGER)] - cv2.cvec[CAST(i AS INTEGER)] AS val
         |       FROM e JOIN car ON car.vec_id = e.vec_id
         |              JOIN cv2 ON cv2.cpart = car.cell,
         |            unnest(generate_series(1, len(e.v))) AS t(i)),""".stripMargin
    pqChainSql(graft.ext.Similarity.PqTrainIters, prologue, "xr", trainFilter)
  }

  private lazy val pqResidualChainCte: String = pqResidualChainSql()

  /** E220 ADC top-k tail over a given PQ chain. */
  private def adcTopKSql(chain: String): String =
    s"""$chain,
       |co AS (SELECT id, m, cl FROM b WHERE rn = 1),
       |qt AS (SELECT sv.id AS qid, sv.m, cw.cl,
       |              round(list_reduce(list_transform(generate_series(1, $PqSubDim),
       |                i -> (sv.sv[i] - cw.cvec[i]) * (sv.sv[i] - cw.cvec[i])),
       |                (p, q) -> p + q), 6) AS dt
       |       FROM sv JOIN cw ON sv.m = cw.m
       |       WHERE sv.id < $NumQueries),
       |sc AS (SELECT qt.qid, co.id, round(sum(qt.dt), 6) AS adc
       |       FROM co JOIN qt ON qt.m = co.m AND qt.cl = co.cl
       |       WHERE co.id <> qt.qid
       |       GROUP BY qt.qid, co.id),
       |rr AS (SELECT qid, id, adc,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY adc, id) AS rank
       |       FROM sc)
       |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
       |       id AS neighbor_id, adc
       |FROM rr WHERE rank <= $K""".stripMargin

  /** E226 recall-audit tail over a given PQ chain — the exact truth
    * reads the raw vectors.
    */
  private def adcRecallSql(chain: String): String =
    s"""$chain,
       |co AS (SELECT id, m, cl FROM b WHERE rn = 1),
       |qt AS (SELECT sv.id AS qid, sv.m, cw.cl,
       |              round(list_reduce(list_transform(generate_series(1, $PqSubDim),
       |                i -> (sv.sv[i] - cw.cvec[i]) * (sv.sv[i] - cw.cvec[i])),
       |                (p, q) -> p + q), 6) AS dt
       |       FROM sv JOIN cw ON sv.m = cw.m
       |       WHERE sv.id < $NumQueries),
       |sc AS (SELECT qt.qid, co.id, round(sum(qt.dt), 6) AS adc
       |       FROM co JOIN qt ON qt.m = co.m AND qt.cl = co.cl
       |       WHERE co.id <> qt.qid
       |       GROUP BY qt.qid, co.id),
       |adcr AS (SELECT qid, id, rank FROM (
       |           SELECT qid, id, row_number() OVER (PARTITION BY qid
       |             ORDER BY adc, id) AS rank FROM sc)
       |         WHERE rank <= ${K * AdcRerankMult}),
       |exd AS (SELECT q.vec_id AS qid, e.vec_id AS id,
       |               list_reduce(list_transform(generate_series(1, len(q.v)),
       |                 i -> (q.v[i] - e.v[i]) * (q.v[i] - e.v[i])),
       |                 (p, qq) -> p + qq) AS d
       |        FROM e q JOIN e ON e.vec_id <> q.vec_id
       |        WHERE q.vec_id < $NumQueries),
       |exr AS (SELECT qid, id FROM (
       |          SELECT qid, id, row_number() OVER (PARTITION BY qid
       |            ORDER BY d, id) AS rank FROM exd)
       |        WHERE rank <= $K),
       |h AS (SELECT a.qid, count(*) AS n FROM adcr a
       |      JOIN exr x ON x.qid = a.qid AND x.id = a.id
       |      WHERE a.rank <= $K GROUP BY a.qid),
       |hc AS (SELECT a.qid, count(*) AS n FROM adcr a
       |       JOIN exr x ON x.qid = a.qid AND x.id = a.id GROUP BY a.qid)
       |SELECT q.vec_id AS query_id,
       |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $K, 6) AS recall_at_k,
       |       CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cand_hits,
       |       round(CAST(coalesce(hc.n, 0) AS DOUBLE) / $K, 6)
       |         AS recall_rerank
       |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |LEFT JOIN hc ON hc.qid = q.vec_id""".stripMargin

  /** Residual IVF-PQ search CTEs shared by the E243/E244 fixed-probe
    * rows and the E258/E259 adaptive rows: probe cell list (the one
    * clause the two families differ on, injected as `prqCte`),
    * PER-PROBED-CELL query residuals and distance tables, probed-cell
    * candidate codes, and the summed ADC `sc2 (qid, id, adc)`.
    */
  /** `candFilter` (a predicate over `id`, default all) restricts the
    * SEARCHABLE code rows — the E263 tombstone-delete oracle excludes
    * deleted ids from candidates while training/assignment still ran
    * over the full build population.
    */
  private def residualSearchCtesWith(prqCte: String,
      chain: String = pqResidualChainCte,
      candFilter: String = "TRUE"): String =
    s"""$chain,
       |co AS (SELECT id, m, cl FROM b WHERE rn = 1 AND ($candFilter)),
       |qq AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $NumQueries),
       |pc AS (SELECT qq.qid, cv2.cpart, ${cosSql("qq.v", "cv2.cvec")} AS cs
       |       FROM qq CROSS JOIN cv2),
       |$prqCte,
       |qrv AS (SELECT prq.qid, prq.cpart,
       |               list_transform(generate_series(1, len(qq.v)),
       |                 i -> qq.v[i] - cv2.cvec[i]) AS rv
       |        FROM prq JOIN qq ON qq.qid = prq.qid
       |               JOIN cv2 ON cv2.cpart = prq.cpart),
       |qsv AS (SELECT qid, cpart, t.m,
       |               list_transform(generate_series(1, $PqSubDim),
       |                 i -> rv[t.m * $PqSubDim + i]) AS sv
       |        FROM qrv, unnest(generate_series(0, ${PqSubspaces - 1})) AS t(m)),
       |qt AS (SELECT qsv.qid, qsv.cpart, qsv.m, cw.cl,
       |              round(list_reduce(list_transform(generate_series(1, $PqSubDim),
       |                i -> (qsv.sv[i] - cw.cvec[i]) * (qsv.sv[i] - cw.cvec[i])),
       |                (p, q) -> p + q), 6) AS dt
       |       FROM qsv JOIN cw ON qsv.m = cw.m),
       |cnd AS (SELECT prq.qid, prq.cpart, co.id, co.m, co.cl
       |        FROM co JOIN car ON car.vec_id = co.id
       |                JOIN prq ON prq.cpart = car.cell
       |        WHERE co.id <> prq.qid),
       |sc2 AS (SELECT c.qid, c.id, round(sum(qt.dt), 6) AS adc
       |        FROM cnd c JOIN qt ON qt.qid = c.qid AND qt.cpart = c.cpart
       |                           AND qt.m = c.m AND qt.cl = c.cl
       |        GROUP BY c.qid, c.id)""".stripMargin

  /** E267/E268/E277 shared CTEs: within-bucket scored pairs and the
    * per-src top-KnnK set (mirrors Similarity.knnGraph exactly);
    * `vvSelect` provides (id, label, v) — fixture labels or the
    * adaptive assignment.
    */
  private def knnTopCtesFrom(vvSelect: String): String =
    s"""vv AS MATERIALIZED ($vvSelect),
       |ksc AS MATERIALIZED (SELECT a.id AS src, b.id AS dst,
       |        ${cosSql("a.v", "b.v")} AS cs
       |      FROM vv a JOIN vv b ON a.label = b.label AND a.id <> b.id),
       |ktp AS (SELECT src, dst, cs, row_number() OVER (
       |        PARTITION BY src ORDER BY cs DESC, dst) AS rn
       |      FROM ksc),
       |ktop AS MATERIALIZED (SELECT src, dst, cs, rn FROM ktp
       |      WHERE rn <= $KnnK)""".stripMargin

  private lazy val knnTopCte: String =
    knnTopCtesFrom("SELECT vec_id AS id, label, v FROM e")

  /** Shared edge-emit tail for the kNN-graph rows. */
  private val knnGraphSelectSql: String =
    s"""SELECT t.src AS src_id, CAST(t.rn AS INTEGER) AS rank,
       |       t.dst AS dst_id, round(t.cs, 6) AS cos,
       |       (b.src IS NOT NULL) AS mutual
       |FROM ktop t LEFT JOIN ktop b
       |  ON b.src = t.dst AND b.dst = t.src""".stripMargin

  /** E286/E287 shared CTEs: Hamming seed tier (binarySigCtes' `d`),
    * the kNN edge set (knnTopCte's `ktop`), GraphHops UNION-expansion
    * rounds, the visited set `cf` (query excluded), exact-cosine
    * rescore `gsc`, and the reranked `gtop` (qid, id, cs, rnk ≤ K) —
    * mirrors Similarity.graphExpandCandidates/graphExpandTopK.
    */
  private def graphExpandCtesOver(edgeCtes: String,
      liveWhere: String = "TRUE"): String = {
    val hopChain = (1 to GraphHops).map(h =>
      s"""c$h AS (SELECT qid, id FROM c${h - 1}
         |  UNION SELECT c${h - 1}.qid, k.dst FROM c${h - 1}
         |  JOIN gedges k ON k.src = c${h - 1}.id)""".stripMargin)
      .mkString(",\n")
    // binarySigCtes with a LIVE filter hook (E310 delete excludes
    // tombstoned ids from seeding, relaying, and querying)
    s"""$embCte,
       |sg AS MATERIALIZED (SELECT vec_id AS id, ${binPackSql(0)} AS h0,
       |       ${binPackSql(EmbDim / 2)} AS h1 FROM e WHERE $liveWhere),
       |qs AS (SELECT id AS qid, h0 AS q0, h1 AS q1 FROM sg
       |       WHERE id < $NumQueries),
       |d AS (SELECT qs.qid, sg.id,
       |             CAST(bit_count(xor(sg.h0, qs.q0)) +
       |                  bit_count(xor(sg.h1, qs.q1)) AS BIGINT) AS dist
       |      FROM qs JOIN sg ON sg.id <> qs.qid),
       |sd AS (SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY dist, id) AS rnk FROM d) WHERE rnk <= $GraphSeeds),
       |$edgeCtes,
       |c0 AS (SELECT qid, id FROM sd),
       |$hopChain,
       |cf AS MATERIALIZED (SELECT qid, id FROM c$GraphHops WHERE id <> qid),
       |gsc AS (SELECT cf.qid, cf.id, ${cosSql("q2.v", "e.v")} AS cs
       |        FROM cf JOIN e q2 ON q2.vec_id = cf.qid
       |                JOIN e ON e.vec_id = cf.id),
       |gtop AS MATERIALIZED (SELECT qid, id, cs, rnk FROM (
       |    SELECT qid, id, cs, row_number() OVER (PARTITION BY qid
       |      ORDER BY cs DESC, id) AS rnk FROM gsc) WHERE rnk <= $K)""".stripMargin
  }

  private lazy val graphExpandCtes: String = graphExpandCtesOver(
    s"$knnTopCte,\ngedges AS (SELECT src, dst FROM ktop)")

  /** Beam width for the ef-bounded serve (E325) — the efSearch knob. */
  private val BeamEf = 8

  /** E325 oracle: the beam walk replayed hop by hop — visited_{h+1} =
    * visited_h ∪ expand(top-ef(visited_h) by (cos DESC, id), self
    * excluded) — then the rescore/rerank tail.
    */
  private lazy val beamExpandCtes: String = {
    val hopChain = (1 to GraphHops).map { h =>
      s"""bs${h - 1} AS (SELECT v.qid, v.id, ${cosSql("q2.v", "e.v")} AS cs
         |     FROM v${h - 1} v JOIN e q2 ON q2.vec_id = v.qid
         |                      JOIN e ON e.vec_id = v.id
         |     WHERE v.id <> v.qid),
         |bm${h - 1} AS (SELECT qid, id FROM (
         |     SELECT qid, id, row_number() OVER (PARTITION BY qid
         |       ORDER BY cs DESC, id) AS rnk FROM bs${h - 1})
         |     WHERE rnk <= $BeamEf),
         |v$h AS (SELECT qid, id FROM v${h - 1}
         |  UNION SELECT b.qid, k.dst FROM bm${h - 1} b
         |  JOIN gedges k ON k.src = b.id)""".stripMargin
    }.mkString(",\n")
    s"""$embCte,
       |sg AS MATERIALIZED (SELECT vec_id AS id, ${binPackSql(0)} AS h0,
       |       ${binPackSql(EmbDim / 2)} AS h1 FROM e),
       |qs AS (SELECT id AS qid, h0 AS q0, h1 AS q1 FROM sg
       |       WHERE id < $NumQueries),
       |d AS (SELECT qs.qid, sg.id,
       |             CAST(bit_count(xor(sg.h0, qs.q0)) +
       |                  bit_count(xor(sg.h1, qs.q1)) AS BIGINT) AS dist
       |      FROM qs JOIN sg ON sg.id <> qs.qid),
       |sd AS (SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY dist, id) AS rnk FROM d) WHERE rnk <= $GraphSeeds),
       |$knnTopCte,
       |gedges AS (SELECT src, dst FROM ktop),
       |v0 AS (SELECT qid, id FROM sd),
       |$hopChain,
       |cf AS MATERIALIZED (SELECT qid, id FROM v$GraphHops WHERE id <> qid),
       |gsc AS (SELECT cf.qid, cf.id, ${cosSql("q2.v", "e.v")} AS cs
       |        FROM cf JOIN e q2 ON q2.vec_id = cf.qid
       |                JOIN e ON e.vec_id = cf.id),
       |gtop AS MATERIALIZED (SELECT qid, id, cs, rnk FROM (
       |    SELECT qid, id, cs, row_number() OVER (PARTITION BY qid
       |      ORDER BY cs DESC, id) AS rnk FROM gsc) WHERE rnk <= $K)""".stripMargin
  }

  /** E299 edge set: base-population kNN edges FROZEN, appended nodes
    * ranked against the FULL population within their bucket — mirrors
    * GraphIndex.append exactly.
    */
  private lazy val graphAppendEdgeCtes: String =
    s"""vvb AS MATERIALIZED (SELECT vec_id AS id, label, v FROM e
       |      WHERE vec_id % $AppendMod <> $AppendBatchRem),
       |kscb AS MATERIALIZED (SELECT a.id AS src, b.id AS dst,
       |        ${cosSql("a.v", "b.v")} AS cs
       |      FROM vvb a JOIN vvb b ON a.label = b.label AND a.id <> b.id),
       |ktpb AS (SELECT src, dst, row_number() OVER (PARTITION BY src
       |        ORDER BY cs DESC, dst) AS rn FROM kscb),
       |vna AS MATERIALIZED (SELECT vec_id AS id, label, v FROM e),
       |nsc AS (SELECT a.id AS src, b.id AS dst,
       |        ${cosSql("a.v", "b.v")} AS cs
       |      FROM vna a JOIN vna b ON a.label = b.label AND a.id <> b.id
       |      WHERE a.id % $AppendMod = $AppendBatchRem),
       |ntp AS (SELECT src, dst, row_number() OVER (PARTITION BY src
       |        ORDER BY cs DESC, dst) AS rn FROM nsc),
       |gedges AS MATERIALIZED (SELECT src, dst FROM ktpb WHERE rn <= $KnnK
       |      UNION ALL SELECT src, dst FROM ntp WHERE rn <= $KnnK)""".stripMargin

  /** E301 oracle: the walk chain's per-hop snapshots rescored and
    * priced against the exact truth — one row per depth.
    */
  private lazy val graphHopSweepSql: String = {
    val perHop = (0 to GraphHops).map { h =>
      s"""cf$h AS (SELECT qid, id FROM c$h WHERE id <> qid),
         |gsc$h AS (SELECT cf$h.qid, cf$h.id, ${cosSql("q2.v", "e.v")} AS cs
         |     FROM cf$h JOIN e q2 ON q2.vec_id = cf$h.qid
         |               JOIN e ON e.vec_id = cf$h.id),
         |gt$h AS (SELECT qid, id FROM (
         |     SELECT qid, id, row_number() OVER (PARTITION BY qid
         |       ORDER BY cs DESC, id) AS rnk FROM gsc$h) WHERE rnk <= $K),
         |ht$h AS (SELECT count(*) AS n FROM gt$h
         |     JOIN xr ON xr.qid = gt$h.qid AND xr.id = gt$h.id),
         |nc$h AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cf$h)""".stripMargin
    }.mkString(",\n")
    val rows = (0 to GraphHops).map { h =>
      s"""SELECT CAST($h AS INTEGER) AS hop,
         |  (SELECT n FROM nc$h) AS n_cand,
         |  CAST((SELECT n FROM ht$h) AS BIGINT) AS n_hits,
         |  round(CAST((SELECT n FROM ht$h) AS DOUBLE)
         |        / ${NumQueries * K}, 6) AS recall_at_k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${graphExpandCtesOver(
          s"$knnTopCte,\ngedges AS (SELECT src, dst FROM ktop)")},
       |s2 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
       |              ${cosSql("q2.v", "e.v")} AS score
       |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
       |       WHERE q2.vec_id < $NumQueries),
       |xr AS (SELECT qid, id FROM (
       |         SELECT qid, id, row_number() OVER (PARTITION BY qid
       |           ORDER BY score DESC, id) AS rank FROM s2)
       |       WHERE rank <= $K),
       |$perHop
       |$rows""".stripMargin
  }

  /** E243/E244 fixed multi-probe: rank ≤ [[MProbe]]. */
  private lazy val fixedPrqCte: String =
    s"""prq AS MATERIALIZED (SELECT qid, cpart FROM (
       |        SELECT qid, cpart, row_number() OVER (PARTITION BY qid
       |          ORDER BY cs DESC, cpart) AS rn FROM pc) WHERE rn <= $MProbe)""".stripMargin

  private lazy val residualSearchCtes: String =
    residualSearchCtesWith(fixedPrqCte)

  /** E258/E259 adaptive probe: cells in centroid rank order while the
    * cumulative population EXCLUDING the cell is below the exact
    * integer target ceil(num·N/den) — the same rule as
    * [[adaptiveProbeCtes]], re-derived over the residual chain's
    * `car` assignment.
    */
  private lazy val residualAdaptiveSearchCtes: String = residualSearchCtesWith(
    s"""rpop AS (SELECT cell, CAST(count(*) AS BIGINT) AS np
       |         FROM car GROUP BY cell),
       |rnn AS (SELECT count(*) AS n FROM e),
       |prq AS MATERIALIZED (SELECT qid, cpart FROM (
       |        SELECT pc.qid, pc.cpart, rpop.np,
       |               sum(rpop.np) OVER (PARTITION BY pc.qid
       |                 ORDER BY pc.cs DESC, pc.cpart
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |        FROM pc JOIN rpop ON rpop.cell = pc.cpart), rnn
       |        WHERE cum - np < ($ProbeTargetNum * rnn.n + ${ProbeTargetDen - 1})
       |              // $ProbeTargetDen)""".stripMargin)

  /** PCA CTE chain (E217): per-dim means (round 6), upper-triangle
    * second moments (round 6), covariance via E[XY] − E[X]E[Y] over
    * the rounded fixed points, mirrored to the full matrix, then
    * `iters` power-iteration steps — w = round(C·v, 9),
    * v = round(w/‖w‖, 6) — generated per step so the round count can
    * never drift from [[graft.ext.Pca.PowerIters]]. Ends with
    * `mm(d, m)` and `v$iters(d, val)`.
    */
  private def pcaCte(iters: Int): String = {
    val sb = new StringBuilder
    // Every multi-referenced CTE is MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, so the 8-level pv chain (each level
    // referencing the last twice via pw/pn) would otherwise
    // re-evaluate the N·d² second-moment join 2^8 times.
    sb ++=
      s"""$embCte,
         |x AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS INTEGER) AS d,
         |             v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |mm AS MATERIALIZED (SELECT d, round(avg(val), 6) AS m
         |      FROM x GROUP BY d),
         |pp AS (SELECT a.d AS i, b.d AS j, round(avg(a.val * b.val), 6) AS s
         |       FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
         |       GROUP BY a.d, b.d),
         |cvx AS (SELECT pp.i, pp.j, round(pp.s - ma.m * mb.m, 6) AS c
         |        FROM pp JOIN mm ma ON ma.d = pp.i
         |                JOIN mm mb ON mb.d = pp.j),
         |cf AS MATERIALIZED (SELECT i, j, c FROM cvx
         |       UNION ALL SELECT j AS i, i AS j, c FROM cvx WHERE i <> j),
         |pv0 AS (SELECT d, CAST(1.0 AS DOUBLE) AS val FROM mm)""".stripMargin
    for (t <- 1 to iters) {
      sb ++=
        s""",
           |pw$t AS MATERIALIZED (
           |        SELECT cf.i AS d, round(sum(cf.c * p.val), 9) AS wv
           |        FROM cf JOIN pv${t - 1} p ON p.d = cf.j GROUP BY cf.i),
           |pn$t AS (SELECT sqrt(sum(wv * wv)) AS nn FROM pw$t),
           |pv$t AS MATERIALIZED (
           |        SELECT d, round(wv / nn, 6) AS val FROM pw$t, pn$t)""".stripMargin
    }
    sb.toString
  }

  /** N-round Lloyd oracle, generated so Spark and SQL can never drift
    * on round count: c1 seeds from `label`; each round builds centroid
    * vectors (6-decimal-rounded means, dims ordered), assigns every
    * vector to its max-cosine centroid (ties to the smaller cell), and
    * feeds the next round's centroid recompute.
    */
  /** `src` must be a WITH clause ending in a CTE named `e` with
    * columns (vec_id, label, v: DOUBLE[]) — the embedding default, or
    * any caller-built feature table (E246 passes hashed term counts).
    */
  private[queries] def kmeansIterSql(iters: Int, src: String = embCte): String = {
    val sb = new StringBuilder
    sb ++= s"$src,\n"
    sb ++= ("x AS (SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim, " +
      "v[CAST(i AS INTEGER)] AS val FROM e, unnest(generate_series(1, len(v))) AS t(i)),\n")
    sb ++= "c1 AS (SELECT label AS cell, dim, round(sum(val) / count(*), 6) AS c FROM x GROUP BY label, dim)"
    for (i <- 1 to iters) {
      sb ++= s",\nv$i AS (SELECT cell, list(c ORDER BY dim) AS cvec FROM c$i GROUP BY cell)"
      sb ++= s",\ns$i AS (SELECT e.vec_id AS id, v$i.cell, ${cosSql("e.v", s"v$i.cvec")} AS score FROM e CROSS JOIN v$i)"
      sb ++= (s",\na$i AS (SELECT id, cell, score FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY id ORDER BY score DESC, cell) AS rn FROM s$i) WHERE rn = 1)")
      if (i < iters)
        sb ++= (s",\nc${i + 1} AS (SELECT a$i.cell, x.dim, round(sum(x.val) / count(*), 6) AS c " +
          s"FROM x JOIN a$i ON x.vec_id = a$i.id GROUP BY a$i.cell, x.dim)")
    }
    sb ++= s"\nSELECT id, CAST(cell AS BIGINT) AS assigned, round(score, 6) AS cos FROM a$iters"
    sb.toString
  }

  /** Generated-CTE replay of [[Similarity.mmrTopK]]'s greedy loop: one
    * (penalty, score, argmax, accumulate) CTE quadruple per selection
    * round, off the SAME 6-decimal-rounded relevance / pair-similarity
    * tables the Spark side checkpoints — so every MMR score is the
    * identical IEEE double. `cand`/`pr`/`acc*` are multi-referenced →
    * MATERIALIZED (DuckDB inlines CTEs per reference; an inlined acc
    * chain re-evaluates 2^depth times).
    */
  private def mmrSql(nCand: Int, k: Int, withFinal: Boolean = true): String = {
    val sb = new StringBuilder
    sb ++= s"$embCte,\n"
    sb ++= s"q AS (SELECT * FROM e WHERE vec_id < $NumQueries),\n"
    sb ++= (s"sc AS (SELECT q.vec_id AS qid, e.vec_id AS cid, " +
      s"${cosSql("q.v", "e.v")} AS score FROM q JOIN e ON e.vec_id <> q.vec_id),\n")
    sb ++= (s"cand AS MATERIALIZED (SELECT qid, cid, round(score, 6) AS rel " +
      s"FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rn FROM sc) " +
      s"WHERE rn <= $nCand)")
    sb ++= mmrRoundsSql(k, withFinal)
    sb.toString
  }

  /** The greedy-round CTEs appended after any WITH chain that defines
    * `e` (vec_id, v) and a MATERIALIZED `cand` (qid, cid, rel) — shared
    * by [[mmrSql]] and the E250 serving-pipeline oracle, mirroring
    * [[graft.ext.Similarity.mmrOverCandidates]] exactly.
    */
  private def mmrRoundsSql(k: Int, withFinal: Boolean = true): String = {
    val lam = s"CAST($MmrLambda AS DOUBLE)"
    val mu = s"CAST($MmrOneMinusLambda AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= ",\ncv AS (SELECT c.qid, c.cid, e.v FROM cand c JOIN e ON e.vec_id = c.cid),\n"
    sb ++= (s"pr AS MATERIALIZED (SELECT a.qid, a.cid AS ca, b.cid AS cb, " +
      s"round(${cosSql("a.v", "b.v")}, 6) AS sim " +
      s"FROM cv a JOIN cv b ON a.qid = b.qid AND a.cid <> b.cid),\n")
    sb ++= (s"acc1 AS MATERIALIZED (SELECT qid, cid, rel, $lam * rel AS mmr, 1 AS rk " +
      s"FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn FROM cand) " +
      s"WHERE rn = 1)")
    for (i <- 2 to k) {
      val prev = s"acc${i - 1}"
      sb ++= (s",\np$i AS (SELECT p.qid, p.ca AS cid, max(p.sim) AS pen " +
        s"FROM pr p JOIN $prev s ON p.qid = s.qid AND p.cb = s.cid GROUP BY p.qid, p.ca)")
      sb ++= (s",\nm$i AS (SELECT c.qid, c.cid, c.rel, $lam * c.rel - $mu * p.pen AS mmr " +
        s"FROM cand c JOIN p$i p ON p.qid = c.qid AND p.cid = c.cid " +
        s"WHERE NOT EXISTS (SELECT 1 FROM $prev s WHERE s.qid = c.qid AND s.cid = c.cid))")
      sb ++= (s",\nacc$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL " +
        s"SELECT qid, cid, rel, mmr, $i AS rk FROM " +
        s"(SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) AS rn FROM m$i) " +
        s"WHERE rn = 1)")
    }
    // round(·,7), not 6: the score is decimal-exact at 7 digits (6-digit
    // inputs × 1-digit weights), so 7 has no half-cases — at 6 EVERY
    // score is a …5 tie and the engines' round() semantics diverge.
    if (withFinal)
      sb ++= (s"\nSELECT qid AS query_id, CAST(rk AS INTEGER) AS rank, " +
        s"cid AS neighbor_id, round(mmr, 7) AS mmr, rel AS cos FROM acc$k")
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "emb_mmr_topk" -> mmrSql(MmrCand, K),
    // E254: one MATERIALIZED candidate frame at pMax cell ranks, then
    // a rank+intersect block generated per probe width.
    "emb_probe_sweep" -> {
      val base =
        s"""$embCte,
           |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
           |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
           |cent2 AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
           |          FROM x GROUP BY label, dim),
           |cv2 AS MATERIALIZED (SELECT cpart, list(c ORDER BY dim) AS cvec
           |        FROM cent2 GROUP BY cpart),
           |scr AS (SELECT e.vec_id, cv2.cpart, ${cosSql("e.v", "cv2.cvec")} AS cs
           |        FROM e CROSS JOIN cv2),
           |car AS MATERIALIZED (SELECT vec_id, cpart AS cell FROM (
           |         SELECT vec_id, cpart, row_number() OVER (PARTITION BY vec_id
           |           ORDER BY cs DESC, cpart) AS rn FROM scr) WHERE rn = 1),
           |qq AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $NumQueries),
           |pc AS (SELECT qq.qid, cv2.cpart, ${cosSql("qq.v", "cv2.cvec")} AS cs
           |       FROM qq CROSS JOIN cv2),
           |pcr AS (SELECT qid, cpart,
           |               row_number() OVER (PARTITION BY qid
           |                 ORDER BY cs DESC, cpart) AS cellrank
           |        FROM pc),
           |cnd AS MATERIALIZED (SELECT pcr.qid, e.vec_id AS id,
           |         ${cosSql("qq.v", "e.v")} AS score, pcr.cellrank
           |       FROM e JOIN car ON car.vec_id = e.vec_id
           |              JOIN pcr ON pcr.cpart = car.cell
           |                          AND pcr.cellrank <= $SweepPMax
           |              JOIN qq ON qq.qid = pcr.qid
           |       WHERE e.vec_id <> pcr.qid),
           |s5 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
           |              ${cosSql("q2.v", "e.v")} AS score
           |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
           |       WHERE q2.vec_id < $NumQueries),
           |xr5 AS MATERIALIZED (SELECT qid, id FROM (
           |         SELECT qid, id, row_number() OVER (PARTITION BY qid
           |           ORDER BY score DESC, id) AS rank FROM s5)
           |       WHERE rank <= $KIvf),
           |ql AS MATERIALIZED (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries)""".stripMargin
      val perP = (1 to SweepPMax).map { p =>
        s""",
           |t$p AS (SELECT qid, id FROM (
           |         SELECT qid, id, row_number() OVER (PARTITION BY qid
           |           ORDER BY score DESC, id) AS rn
           |         FROM cnd WHERE cellrank <= $p) WHERE rn <= $KIvf),
           |h$p AS (SELECT t.qid, count(*) AS n FROM t$p t
           |        JOIN xr5 x2 ON x2.qid = t.qid AND x2.id = t.id
           |        GROUP BY t.qid)""".stripMargin
      }.mkString
      val unions = (1 to SweepPMax).map { p =>
        s"""SELECT $p AS probe, ql.vec_id AS query_id,
           |       CAST(coalesce(h$p.n, 0) AS BIGINT) AS n_hits,
           |       round(CAST(coalesce(h$p.n, 0) AS DOUBLE) / $KIvf, 6) AS recall_at_k
           |FROM ql LEFT JOIN h$p ON h$p.qid = ql.vec_id""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "")
      base + perP + unions
    },

    // E252: probe set = cells whose cumulative population (rank order,
    // ROWS frame) excluding themselves is below ceil(3N/10) — exact
    // integer target, same argmax assignment as every IVF oracle.
    "emb_adaptive_probe" ->
      s"""$adaptiveProbeCtes,
         |r3 AS (SELECT qid, id, score,
         |              row_number() OVER (PARTITION BY qid
         |                                 ORDER BY score DESC, id) AS rank
         |       FROM sc3)
         |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
         |       id AS neighbor_id, round(score, 6) AS cos
         |FROM r3 WHERE rank <= $KIvf""".stripMargin,

    "emb_adaptive_probe_recall" ->
      s"""$adaptiveProbeCtes,
         |apr AS (SELECT qid, id FROM (
         |          SELECT qid, id, row_number() OVER (PARTITION BY qid
         |            ORDER BY score DESC, id) AS rank FROM sc3)
         |        WHERE rank <= $KIvf),
         |s4 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |              ${cosSql("q2.v", "e.v")} AS score
         |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |       WHERE q2.vec_id < $NumQueries),
         |xr4 AS (SELECT qid, id FROM (
         |          SELECT qid, id, row_number() OVER (PARTITION BY qid
         |            ORDER BY score DESC, id) AS rank FROM s4)
         |        WHERE rank <= $KIvf),
         |h AS (SELECT a.qid, count(*) AS n FROM apr a
         |      JOIN xr4 x2 ON x2.qid = a.qid AND x2.id = a.id
         |      GROUP BY a.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $KIvf, 6) AS recall_at_k
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN h ON h.qid = q3.vec_id""".stripMargin,

    // E251: the mmr rounds WITHOUT their final projection, the plain
    // top-k set, pairwise-cosine ILS per set, overlap count.
    "emb_mmr_diversity" ->
      (mmrSql(MmrCand, K, withFinal = false) +
        s""",
           |pl AS (SELECT qid, cid FROM (
           |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
           |           ORDER BY score DESC, cid) AS rn FROM sc) WHERE rn <= $K),
           |mm2 AS (SELECT qid, cid FROM acc$K),
           |plv AS (SELECT p.qid, p.cid, e.v FROM pl p JOIN e ON e.vec_id = p.cid),
           |mmv AS (SELECT m.qid, m.cid, e.v FROM mm2 m JOIN e ON e.vec_id = m.cid),
           |ip AS (SELECT a.qid, round(avg(round(${cosSql("a.v", "b.v")}, 6)), 6) AS ils_plain
           |       FROM plv a JOIN plv b ON a.qid = b.qid AND a.cid < b.cid
           |       GROUP BY a.qid),
           |im AS (SELECT a.qid, round(avg(round(${cosSql("a.v", "b.v")}, 6)), 6) AS ils_mmr
           |       FROM mmv a JOIN mmv b ON a.qid = b.qid AND a.cid < b.cid
           |       GROUP BY a.qid),
           |ov AS (SELECT pl.qid, count(*) AS n FROM pl
           |       JOIN mm2 ON mm2.qid = pl.qid AND mm2.cid = pl.cid
           |       GROUP BY pl.qid)
           |SELECT ip.qid AS query_id, ip.ils_plain, im.ils_mmr,
           |       CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap
           |FROM ip JOIN im ON im.qid = ip.qid
           |LEFT JOIN ov ON ov.qid = ip.qid""".stripMargin),

    // E250: the residual search chain to the rerank horizon, exact
    // cosine over the candidate pool, then the SAME greedy-round
    // generator as emb_mmr_topk.
    "emb_serving_pipeline" ->
      (s"""$residualSearchCtes,
          |cr AS (SELECT qid, id FROM (
          |         SELECT qid, id, row_number() OVER (PARTITION BY qid
          |           ORDER BY adc, id) AS rank FROM sc2)
          |       WHERE rank <= ${KIvf * AdcRerankMult}),
          |cand AS MATERIALIZED (SELECT cr.qid, cr.id AS cid,
          |         round(${cosSql("qe.v", "ce.v")}, 6) AS rel
          |       FROM cr JOIN e qe ON qe.vec_id = cr.qid
          |               JOIN e ce ON ce.vec_id = cr.id)""".stripMargin
        + mmrRoundsSql(K)),

    // E258: identical chain with the adaptive probe CTE swapped in.
    "emb_serving_adaptive" ->
      (s"""$residualAdaptiveSearchCtes,
          |cr AS (SELECT qid, id FROM (
          |         SELECT qid, id, row_number() OVER (PARTITION BY qid
          |           ORDER BY adc, id) AS rank FROM sc2)
          |       WHERE rank <= ${KIvf * AdcRerankMult}),
          |cand AS MATERIALIZED (SELECT cr.qid, cr.id AS cid,
          |         round(${cosSql("qe.v", "ce.v")}, 6) AS rel
          |       FROM cr JOIN e qe ON qe.vec_id = cr.qid
          |               JOIN e ce ON ce.vec_id = cr.id)""".stripMargin
        + mmrRoundsSql(K)),

    // E259: E244's two-cutoff recall arithmetic over the ADAPTIVE
    // residual chain's ADC ranking vs the exact-L2 brute force.
    "emb_serving_adaptive_recall" ->
      s"""$residualAdaptiveSearchCtes,
         |adcr AS (SELECT qid, id, rank FROM (
         |           SELECT qid, id, row_number() OVER (PARTITION BY qid
         |             ORDER BY adc, id) AS rank FROM sc2)
         |         WHERE rank <= ${KIvf * AdcRerankMult}),
         |exd AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |               list_reduce(list_transform(generate_series(1, len(q2.v)),
         |                 i -> (q2.v[i] - e.v[i]) * (q2.v[i] - e.v[i])),
         |                 (p, z) -> p + z) AS d
         |        FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |        WHERE q2.vec_id < $NumQueries),
         |exr AS (SELECT qid, id FROM (
         |          SELECT qid, id, row_number() OVER (PARTITION BY qid
         |            ORDER BY d, id) AS rank FROM exd)
         |        WHERE rank <= $KIvf),
         |h AS (SELECT a.qid, count(*) AS n FROM adcr a
         |      JOIN exr x2 ON x2.qid = a.qid AND x2.id = a.id
         |      WHERE a.rank <= $KIvf GROUP BY a.qid),
         |hc AS (SELECT a.qid, count(*) AS n FROM adcr a
         |       JOIN exr x2 ON x2.qid = a.qid AND x2.id = a.id GROUP BY a.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $KIvf, 6) AS recall_at_k,
         |       CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cand_hits,
         |       round(CAST(coalesce(hc.n, 0) AS DOUBLE) / $KIvf, 6)
         |         AS recall_rerank
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN h ON h.qid = q3.vec_id
         |LEFT JOIN hc ON hc.qid = q3.vec_id""".stripMargin,
    "emb_kmeans_iter" -> kmeansIterSql(KmeansIters),
    "emb_quantize" ->
      s"""$embCte,
         |x AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
         |             v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i))
         |SELECT vec_id, dim,
         |       CAST(round(greatest(least(val, 1.0), -1.0) * 127) AS BIGINT) AS q
         |FROM x""".stripMargin,
    "emb_topk" ->
      s"""$embCte,
         |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
         |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |             ${cosSql("q.v", "e.v")} AS score
         |      FROM q JOIN e ON e.vec_id <> q.vec_id),
         |r AS (SELECT query_id, neighbor_id, score,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |       round(score, 6) AS cos
         |FROM r WHERE rank <= $K""".stripMargin,

    "emb_hard_negatives" ->
      s"""$embCte,
         |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
         |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |             ${cosSql("q.v", "e.v")} AS score
         |      FROM q JOIN e ON e.label <> q.label),
         |r AS (SELECT query_id, neighbor_id, score,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |       round(score, 6) AS cos
         |FROM r WHERE rank <= $K""".stripMargin,

    "emb_topk_ivf" ->
      s"""$embCte,
         |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |             ${cosSql("q.v", "e.v")} AS score
         |      FROM e q JOIN e ON e.label = q.label AND e.vec_id <> q.vec_id),
         |r AS (SELECT query_id, neighbor_id, score,
         |             row_number() OVER (PARTITION BY query_id
         |                                ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |       round(score, 6) AS cos
         |FROM r WHERE rank <= $KIvf""".stripMargin,

    "emb_neardup" ->
      s"""$embCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosSql("a.v", "b.v")}, 6) AS cos
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.v", "b.v")}, 6) >= $NearDupThreshold""".stripMargin,

    // dim is 0-based on the Spark side (posexplode), hence i - 1
    "emb_centroids" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i))
         |SELECT label AS part, dim, round(sum(val) / count(*), 6) AS c
         |FROM x GROUP BY label, dim""".stripMargin,

    "emb_kmeans_assign" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |cent AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |         FROM x GROUP BY label, dim),
         |cvecs AS (SELECT cpart, list(c ORDER BY dim) AS cvec FROM cent GROUP BY cpart),
         |s AS (SELECT e.vec_id AS id, e.label AS part, cv.cpart,
         |             ${cosSql("e.v", "cv.cvec")} AS score
         |      FROM e CROSS JOIN cvecs cv),
         |r AS (SELECT id, part, cpart, score,
         |             row_number() OVER (PARTITION BY id ORDER BY score DESC, cpart) AS rn
         |      FROM s)
         |SELECT id, part, cpart AS assigned, round(score, 6) AS cos
         |FROM r WHERE rn = 1""".stripMargin,

    // E247: the pack is a plain BIGINT sum of disjoint powers of two —
    // generated from the same half-width constant as the Spark fold.
    // E294: normalized floor-quantization replayed per component;
    // integer dot products in double are exact and order-free, so the
    // fold needs no order discipline.
    "emb_sq8_topk" ->
      s"""$sq8Ctes,
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS id,
         |              ${dotSql("a.q8", "b.q8")} AS dq
         |       FROM qz a JOIN qz b ON b.vec_id <> a.vec_id
         |       WHERE a.vec_id < $NumQueries),
         |r AS (SELECT qid, id, dq, row_number() OVER (PARTITION BY qid
         |        ORDER BY dq DESC, id) AS rk FROM sc)
         |SELECT qid AS query_id, CAST(rk AS INTEGER) AS rank,
         |       id AS neighbor_id, CAST(dq AS BIGINT) AS dot_q
         |FROM r WHERE rk <= $K""".stripMargin,

    // E295: point + rerank recall vs the exact cosine truth.
    "emb_sq8_recall" ->
      s"""$sq8Ctes,
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS id,
         |              ${dotSql("a.q8", "b.q8")} AS dq
         |       FROM qz a JOIN qz b ON b.vec_id <> a.vec_id
         |       WHERE a.vec_id < $NumQueries),
         |cand AS (SELECT qid, id, rk FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY dq DESC, id) AS rk FROM sc)
         |  WHERE rk <= ${K * AdcRerankMult}),
         |s2 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |              ${cosSql("q2.v", "e.v")} AS score
         |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |       WHERE q2.vec_id < $NumQueries),
         |xr AS (SELECT qid, id FROM (
         |         SELECT qid, id, row_number() OVER (PARTITION BY qid
         |           ORDER BY score DESC, id) AS rk FROM s2)
         |       WHERE rk <= $K),
         |h AS (SELECT c2.qid, count(*) AS n FROM cand c2
         |      JOIN xr ON xr.qid = c2.qid AND xr.id = c2.id
         |      WHERE c2.rk <= $K GROUP BY c2.qid),
         |ch AS (SELECT c2.qid, count(*) AS n FROM cand c2
         |       JOIN xr ON xr.qid = c2.qid AND xr.id = c2.id
         |       GROUP BY c2.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $K, 6) AS recall_at_k,
         |       CAST(coalesce(ch.n, 0) AS BIGINT) AS n_cand_hits,
         |       round(CAST(coalesce(ch.n, 0) AS DOUBLE) / $K, 6) AS recall_rerank
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN h ON h.qid = q3.vec_id
         |LEFT JOIN ch ON ch.qid = q3.vec_id""".stripMargin,

    "emb_binary_sig" ->
      s"""$embCte
         |SELECT vec_id AS id, ${binPackSql(0)} AS h0,
         |       ${binPackSql(EmbDim / 2)} AS h1
         |FROM e""".stripMargin,

    "emb_hamming_topk" ->
      s"""$binarySigCtes,
         |r AS (SELECT qid, id, dist,
         |             row_number() OVER (PARTITION BY qid
         |                                ORDER BY dist, id) AS rank
         |      FROM d)
         |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
         |       id AS neighbor_id, dist AS hamming
         |FROM r WHERE rank <= $K""".stripMargin,

    "emb_binary_recall" ->
      s"""$binarySigCtes,
         |hr AS (SELECT qid, id FROM (
         |         SELECT qid, id, row_number() OVER (PARTITION BY qid
         |           ORDER BY dist, id) AS rank FROM d) WHERE rank <= $K),
         |s2 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |              ${cosSql("q2.v", "e.v")} AS score
         |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |       WHERE q2.vec_id < $NumQueries),
         |xr2 AS (SELECT qid, id FROM (
         |          SELECT qid, id, row_number() OVER (PARTITION BY qid
         |            ORDER BY score DESC, id) AS rank FROM s2)
         |        WHERE rank <= $K),
         |h AS (SELECT hr.qid, count(*) AS n FROM hr
         |      JOIN xr2 ON xr2.qid = hr.qid AND xr2.id = hr.id
         |      GROUP BY hr.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN h ON h.qid = q3.vec_id""".stripMargin,

    // Top-2 centroid cosines per point replay the heap's (score desc,
    // cell asc) order as rn = 1 / rn = 2; the score algebra is the
    // same IEEE arithmetic on the same 6-decimal-rounded centroids.
    "emb_silhouette" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |cent AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |         FROM x GROUP BY label, dim),
         |cvecs AS (SELECT cpart, list(c ORDER BY dim) AS cvec FROM cent GROUP BY cpart),
         |s AS (SELECT e.vec_id AS id, CAST(cv.cpart AS BIGINT) AS cell,
         |             ${cosSql("e.v", "cv.cvec")} AS cs
         |      FROM e CROSS JOIN cvecs cv),
         |r AS (SELECT id, cell, cs,
         |             row_number() OVER (PARTITION BY id ORDER BY cs DESC, cell) AS rn
         |      FROM s),
         |t AS (SELECT a.id, a.cell AS assigned, a.cs AS csa, b.cs AS csb
         |      FROM r a JOIN r b ON a.id = b.id AND b.rn = 2 WHERE a.rn = 1),
         |sil AS (SELECT assigned,
         |               CASE WHEN (CAST(1.0 AS DOUBLE) - csb) = 0 THEN 0.0
         |                    ELSE (csa - csb) / (CAST(1.0 AS DOUBLE) - csb) END AS sil
         |        FROM t)
         |SELECT assigned, count(*) AS n,
         |       round(avg(sil), 6) AS avg_sil,
         |       round(min(sil), 6) AS min_sil,
         |       round(max(sil), 6) AS max_sil
         |FROM sil GROUP BY assigned""".stripMargin,

    "emb_semdedup" ->
      s"""$embCte,
         |$adaptiveCte,
         |drp AS (SELECT DISTINCT b.id AS did
         |        FROM aj a JOIN aj b ON a.cell = b.cell AND a.id < b.id
         |        WHERE round(${cosSql("a.v", "b.v")}, 6) >= $NearDupThreshold)
         |SELECT id, cell AS assigned FROM aj
         |WHERE id NOT IN (SELECT did FROM drp)""".stripMargin,

    "emb_norm_stats" ->
      s"""$embCte,
         |nr AS (SELECT label AS part, sqrt(${dotSql("v", "v")}) AS nrm FROM e)
         |SELECT part, count(*) AS n,
         |       round(avg(nrm), 6) AS avg_norm,
         |       round(min(nrm), 6) AS min_norm,
         |       round(max(nrm), 6) AS max_norm
         |FROM nr GROUP BY part""".stripMargin,

    "emb_pq_codes" -> {
      val codeSelects = (0 until PqSubspaces)
        .map(m => s"max(CASE WHEN m = $m THEN cl END) AS c$m").mkString(",\n|       ")
      s"""$pqChainCte
         |SELECT id,
         |       $codeSelects
         |FROM b WHERE rn = 1 GROUP BY id""".stripMargin
    },

    // E220: same codebook/code chain, then per-query distance tables
    // (6-rounded) and the lookup-sum ranking.
    "emb_pq_adc_topk" -> adcTopKSql(pqChainCte),

    "emb_srp_sig" ->
      s"""$srpSigCte
         |SELECT id, srp_sig FROM sg""".stripMargin,

    "emb_srp_pairs" ->
      s"""$srpSigCte,
         |nnv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |bw AS (SELECT coalesce(min(t.bb), ${Srp.MaxBitsPerBand}) AS b
         |       FROM generate_series(${Srp.MinBitsPerBand}, ${Srp.MaxBitsPerBand}) t(bb), nnv
         |       WHERE (CAST(1 AS BIGINT) << t.bb) * ${Srp.TargetBucketPop} >= nnv.n),
         |bands AS (SELECT id, t.j AS b,
         |            (srp_sig >> (CAST(t.j AS INTEGER) * bw.b))
         |              & ((CAST(1 AS BIGINT) << bw.b) - 1) AS key
         |          FROM sg CROSS JOIN generate_series(0, ${Srp.NumBands - 1}) t(j)
         |          CROSS JOIN bw),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |         FROM bands x JOIN bands y
         |           ON x.b = y.b AND x.key = y.key AND x.id < y.id)
         |SELECT c.id_a, c.id_b, round(${cosSql("ea.v", "eb.v")}, 6) AS cos
         |FROM cand c JOIN e ea ON c.id_a = ea.vec_id
         |            JOIN e eb ON c.id_b = eb.vec_id
         |WHERE round(${cosSql("ea.v", "eb.v")}, 6) >= $NearDupThreshold""".stripMargin,

    // Same trained-centroid CTE as emb_kmeans_assign; the probe list is
    // the top-2 centroid ranking per query, candidates pool both cells.
    "emb_topk_mprobe" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |cent AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |         FROM x GROUP BY label, dim),
         |cvecs AS (SELECT cpart, list(c ORDER BY dim) AS cvec FROM cent GROUP BY cpart),
         |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
         |pc AS (SELECT q.vec_id AS qid, cv.cpart, ${cosSql("q.v", "cv.cvec")} AS cs
         |       FROM q CROSS JOIN cvecs cv),
         |pr AS (SELECT qid, cpart,
         |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cpart) AS rn
         |       FROM pc),
         |probes AS (SELECT qid, cpart FROM pr WHERE rn <= $MProbe),
         |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |              ${cosSql("q.v", "e.v")} AS score
         |       FROM q JOIN probes p ON p.qid = q.vec_id
         |              JOIN e ON e.label = p.cpart AND e.vec_id <> q.vec_id),
         |r AS (SELECT query_id, neighbor_id, score,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |       round(score, 6) AS cos
         |FROM r WHERE rank <= $K""".stripMargin,

    // E234: the mprobe chain with the user predicate ON the candidate
    // join — non-matching vectors never enter sc, mirroring the Spark
    // plan's below-join filter.
    "emb_topk_filtered" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |cent AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |         FROM x GROUP BY label, dim),
         |cvecs AS (SELECT cpart, list(c ORDER BY dim) AS cvec FROM cent GROUP BY cpart),
         |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
         |pc AS (SELECT q.vec_id AS qid, cv.cpart, ${cosSql("q.v", "cv.cvec")} AS cs
         |       FROM q CROSS JOIN cvecs cv),
         |pr AS (SELECT qid, cpart,
         |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cpart) AS rn
         |       FROM pc),
         |probes AS (SELECT qid, cpart FROM pr WHERE rn <= $MProbe),
         |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |              ${cosSql("q.v", "e.v")} AS score
         |       FROM q JOIN probes p ON p.qid = q.vec_id
         |              JOIN e ON e.label = p.cpart AND e.vec_id <> q.vec_id
         |                    AND e.vec_id % $FilteredMod = 0),
         |r AS (SELECT query_id, neighbor_id, score,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
         |       round(score, 6) AS cos
         |FROM r WHERE rank <= $K""".stripMargin,

    // E235: the E234 chain intersected with the predicate-filtered
    // exact brute force, per query.
    "emb_filtered_recall" ->
      s"""$embCte,
         |x AS (SELECT label, CAST(i - 1 AS INTEGER) AS dim, v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |cent AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |         FROM x GROUP BY label, dim),
         |cvecs AS (SELECT cpart, list(c ORDER BY dim) AS cvec FROM cent GROUP BY cpart),
         |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
         |pc AS (SELECT q.vec_id AS qid, cv.cpart, ${cosSql("q.v", "cv.cvec")} AS cs
         |       FROM q CROSS JOIN cvecs cv),
         |pr AS (SELECT qid, cpart,
         |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cpart) AS rn
         |       FROM pc),
         |probes AS (SELECT qid, cpart FROM pr WHERE rn <= $MProbe),
         |sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |              ${cosSql("q.v", "e.v")} AS score
         |       FROM q JOIN probes p ON p.qid = q.vec_id
         |              JOIN e ON e.label = p.cpart AND e.vec_id <> q.vec_id
         |                    AND e.vec_id % $FilteredMod = 0),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |          SELECT query_id, neighbor_id,
         |                 row_number() OVER (PARTITION BY query_id
         |                   ORDER BY score DESC, neighbor_id) AS rank
         |          FROM sc) WHERE rank <= $K),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |         SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |                row_number() OVER (PARTITION BY q.vec_id
         |                  ORDER BY ${cosSql("q.v", "e.v")} DESC, e.vec_id) AS rank
         |         FROM q JOIN e ON e.vec_id <> q.vec_id
         |                      AND e.vec_id % $FilteredMod = 0)
         |       WHERE rank <= $K),
         |h AS (SELECT i.query_id, count(*) AS h FROM ivf i
         |      JOIN tr t ON t.query_id = i.query_id
         |              AND t.neighbor_id = i.neighbor_id
         |      GROUP BY i.query_id),
         |ni AS (SELECT query_id, count(*) AS n_ivf FROM ivf GROUP BY query_id)
         |SELECT q.vec_id AS query_id,
         |       CAST(coalesce(ni.n_ivf, 0) AS BIGINT) AS n_ivf,
         |       CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.h, 0) AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q
         |LEFT JOIN ni ON ni.query_id = q.vec_id
         |LEFT JOIN h ON h.query_id = q.vec_id""".stripMargin,

    "emb_semantic_decontam" ->
      s"""$embCte,
         |ev AS (SELECT v FROM e WHERE vec_id < $EvalN),
         |corp AS (SELECT vec_id, v FROM e WHERE vec_id >= $EvalN),
         |s AS (SELECT corp.vec_id, max(${cosSql("ev.v", "corp.v")}) AS mc
         |      FROM corp CROSS JOIN ev GROUP BY corp.vec_id)
         |SELECT vec_id, round(mc, 6) AS max_cos,
         |       mc >= CAST($DecontamThr AS DOUBLE) AS contaminated
         |FROM s""".stripMargin,

    // Same within-bucket exact pair set as the adaptive pair tier at
    // the loosest τ, swept against the identical CAST(.. AS DOUBLE)
    // literals (bare VALUES decimals would type-mismatch the hash).
    "emb_threshold_sweep" -> {
      val tvals = SweepThresholds
        .map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
      s"""$embCte,
         |$adaptiveCte,
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |             round(${cosSql("a.v", "b.v")}, 6) AS cos
         |      FROM aj a JOIN aj b ON a.cell = b.cell AND a.id < b.id
         |      WHERE round(${cosSql("a.v", "b.v")}, 6) >= ${SweepThresholds.min}),
         |t(threshold) AS (VALUES $tvals),
         |n AS (SELECT count(*) AS n_vecs FROM e),
         |g AS (SELECT t.threshold, count(p.id_a) AS n_pairs,
         |             count(DISTINCT p.id_b) AS n_dropped
         |      FROM t LEFT JOIN p ON p.cos >= t.threshold
         |      GROUP BY t.threshold)
         |SELECT g.threshold, g.n_pairs, g.n_dropped,
         |       n.n_vecs - g.n_dropped AS n_survivors,
         |       CAST(g.n_dropped AS DOUBLE)
         |         / CAST(n.n_vecs AS DOUBLE) AS drop_frac
         |FROM g, n""".stripMargin
    },

    // E204: exact integer bucket arithmetic over the ADAPTIVE cells —
    // the same assignment the pair-tier oracles join on.
    "emb_cluster_profile" ->
      s"""$embCte,
         |$adaptiveCte,
         |am AS (SELECT cell, count(*) AS m FROM aasg GROUP BY cell),
         |at AS (SELECT CAST(sum(m) AS BIGINT) AS n_vecs,
         |              CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS total_pairs
         |       FROM am)
         |SELECT am.cell, CAST(am.m AS BIGINT) AS m,
         |       CAST((am.m * (am.m - 1)) // 2 AS BIGINT) AS candidate_pairs,
         |       CAST(am.m AS DOUBLE) / CAST(at.n_vecs AS DOUBLE) AS bucket_frac,
         |       CAST((am.m * (am.m - 1)) // 2 AS DOUBLE)
         |         / CAST(at.total_pairs AS DOUBLE) AS pair_share,
         |       $MaxClusterPop - CAST(am.m AS BIGINT) AS pop_headroom
         |FROM am, at""".stripMargin,

    // E211: replays the full two-level chain off the adaptive
    // assignment — serving centroids (acf/avf), g = ⌈√(2k)⌉ clamped
    // [1,k] (kk2: IEEE sqrt+ceil, identical in both engines),
    // stride-spread coarse seeds over the centroid ranks (gsd), one
    // argmax + 6-rounded recompute + reassignment (ga0/gc/gv/ga1),
    // non-empty groups only (gne), per-point top-2 coarse probe
    // (psc/ptop: row_number ties → smaller gpart), fine argmax within
    // probed groups with the realized candidate count (pf/two), exact
    // argmax over all k (exx/exa), then the one agreement row.
    "emb_twolevel_agreement" ->
      s"""$embCte,
         |$adaptiveCte,
         |acf AS (SELECT a.cell, ax.dim, round(sum(ax.val) / count(*), 6) AS c
         |        FROM ax JOIN aasg a ON ax.vec_id = a.id
         |        GROUP BY a.cell, ax.dim),
         |avf AS (SELECT cell, list(c ORDER BY dim) AS cvec FROM acf GROUP BY cell),
         |kk2 AS (SELECT CAST(count(*) AS BIGINT) AS k2,
         |               least(CAST(count(*) AS BIGINT),
         |                     greatest(CAST(1 AS BIGINT),
         |                              CAST(ceil(sqrt(2.0 * count(*))) AS BIGINT))) AS g
         |        FROM avf),
         |rkc AS (SELECT cell, cvec, row_number() OVER (ORDER BY cell) - 1 AS rn
         |        FROM avf),
         |gsd AS (SELECT r.cell AS gpart, r.cvec AS gvec FROM rkc r, kk2
         |        WHERE r.rn % ((kk2.k2 + kk2.g - 1) // kk2.g) = 0),
         |gs0 AS (SELECT f.cell, s.gpart, ${cosSql("f.cvec", "s.gvec")} AS score
         |        FROM avf f CROSS JOIN gsd s),
         |ga0 AS (SELECT cell, gpart FROM (
         |          SELECT *, row_number() OVER (PARTITION BY cell
         |            ORDER BY score DESC, gpart) AS rn2 FROM gs0)
         |        WHERE rn2 = 1),
         |cfx AS (SELECT cell, CAST(i - 1 AS INTEGER) AS dim,
         |               cvec[CAST(i AS INTEGER)] AS val
         |        FROM avf, unnest(generate_series(1, len(cvec))) AS t(i)),
         |gc AS (SELECT ga0.gpart, cfx.dim, round(sum(cfx.val) / count(*), 6) AS c
         |       FROM cfx JOIN ga0 ON cfx.cell = ga0.cell
         |       GROUP BY ga0.gpart, cfx.dim),
         |gv AS (SELECT gpart, list(c ORDER BY dim) AS gvec FROM gc GROUP BY gpart),
         |gs1 AS (SELECT f.cell, s.gpart, ${cosSql("f.cvec", "s.gvec")} AS score
         |        FROM avf f CROSS JOIN gv s),
         |ga1 AS (SELECT cell, gpart FROM (
         |          SELECT *, row_number() OVER (PARTITION BY cell
         |            ORDER BY score DESC, gpart) AS rn2 FROM gs1)
         |        WHERE rn2 = 1),
         |gne AS (SELECT gv.gpart, gv.gvec FROM gv
         |        WHERE EXISTS (SELECT 1 FROM ga1 WHERE ga1.gpart = gv.gpart)),
         |psc AS (SELECT e.vec_id AS id, s.gpart, ${cosSql("e.v", "s.gvec")} AS score
         |        FROM e CROSS JOIN gne s),
         |ptop AS (SELECT id, gpart FROM (
         |           SELECT *, row_number() OVER (PARTITION BY id
         |             ORDER BY score DESC, gpart) AS rnp FROM psc)
         |         WHERE rnp <= $TwoLevelProbe),
         |pf AS (SELECT p.id, f.cell, ${cosSql("e.v", "f.cvec")} AS score
         |       FROM ptop p
         |       JOIN ga1 m ON m.gpart = p.gpart
         |       JOIN avf f ON f.cell = m.cell
         |       JOIN e ON e.vec_id = p.id),
         |two AS (SELECT id, cell AS tcell, nf FROM (
         |          SELECT id, cell,
         |                 count(*) OVER (PARTITION BY id) AS nf,
         |                 row_number() OVER (PARTITION BY id
         |                   ORDER BY score DESC, cell) AS rn2
         |          FROM pf) WHERE rn2 = 1),
         |exx AS (SELECT e.vec_id AS id, f.cell, ${cosSql("e.v", "f.cvec")} AS score
         |        FROM e CROSS JOIN avf f),
         |exa AS (SELECT id, cell AS ecell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY id
         |            ORDER BY score DESC, cell) AS rn2 FROM exx)
         |        WHERE rn2 = 1),
         |kcount AS (SELECT CAST(count(*) AS BIGINT) AS k_cells FROM avf),
         |gcount AS (SELECT CAST(count(*) AS BIGINT) AS g_groups FROM gne)
         |SELECT CAST(count(*) AS BIGINT) AS n_points,
         |       kcount.k_cells,
         |       gcount.g_groups,
         |       CAST(sum(CASE WHEN exa.ecell = two.tcell THEN 1 ELSE 0 END)
         |            AS BIGINT) AS agree_n,
         |       round(CAST(sum(CASE WHEN exa.ecell = two.tcell THEN 1 ELSE 0 END)
         |                  AS DOUBLE) / count(*), 4) AS agree_frac,
         |       kcount.k_cells AS cand_exact_per_point,
         |       round(gcount.g_groups + avg(CAST(two.nf AS DOUBLE)), 4)
         |         AS cand_two_avg
         |FROM exa JOIN two ON exa.id = two.id, kcount, gcount
         |GROUP BY kcount.k_cells, gcount.g_groups""".stripMargin,

    // E213: the forced-engage two-level adaptive tier — every
    // assignment stage replayed through the twoLevelAssignSql block.
    "emb_adaptive_twolevel" ->
      adaptiveTwoLevelSql(TwoLevelWitnessPop, AdaptiveIters),

    // E227: centroid + probe chains composed onto the PQ chain; the
    // candidate set is pruned to probed cells BEFORE scoring, exactly
    // like the Spark plan.
    "emb_topk_ivfpq" ->
      s"""$pqChainCte,
         |cent2 AS (SELECT label AS cpart, dim, round(sum(val) / count(*), 6) AS c
         |          FROM x GROUP BY label, dim),
         |cv2 AS (SELECT cpart, list(c ORDER BY dim) AS cvec
         |        FROM cent2 GROUP BY cpart),
         |qq AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < $NumQueries),
         |pc AS (SELECT qq.qid, cv2.cpart, ${cosSql("qq.v", "cv2.cvec")} AS cs
         |       FROM qq CROSS JOIN cv2),
         |pr AS (SELECT qid, cpart FROM (
         |         SELECT qid, cpart, row_number() OVER (PARTITION BY qid
         |           ORDER BY cs DESC, cpart) AS rn FROM pc)
         |       WHERE rn <= $MProbe),
         |co AS (SELECT id, m, cl FROM b WHERE rn = 1),
         |qt AS (SELECT sv.id AS qid, sv.m, cw.cl,
         |              round(list_reduce(list_transform(generate_series(1, $PqSubDim),
         |                i -> (sv.sv[i] - cw.cvec[i]) * (sv.sv[i] - cw.cvec[i])),
         |                (p, q) -> p + q), 6) AS dt
         |       FROM sv JOIN cw ON sv.m = cw.m
         |       WHERE sv.id < $NumQueries),
         |cand AS (SELECT pr.qid, co.id, co.m, co.cl
         |         FROM co JOIN e ON e.vec_id = co.id
         |                 JOIN pr ON pr.cpart = e.label
         |         WHERE co.id <> pr.qid),
         |sc2 AS (SELECT c.qid, c.id, round(sum(qt.dt), 6) AS adc
         |        FROM cand c JOIN qt ON qt.qid = c.qid AND qt.m = c.m
         |                            AND qt.cl = c.cl
         |        GROUP BY c.qid, c.id),
         |rr2 AS (SELECT qid, id, adc,
         |               row_number() OVER (PARTITION BY qid
         |                                  ORDER BY adc, id) AS rank
         |        FROM sc2)
         |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
         |       id AS neighbor_id, adc
         |FROM rr2 WHERE rank <= $KIvf""".stripMargin,

    // E243: residual chain + per-probed-cell query tables, ranked to k.
    "emb_topk_ivfpq_residual" ->
      s"""$residualSearchCtes,
         |rr2 AS (SELECT qid, id, adc,
         |               row_number() OVER (PARTITION BY qid
         |                                  ORDER BY adc, id) AS rank
         |        FROM sc2)
         |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
         |       id AS neighbor_id, adc
         |FROM rr2 WHERE rank <= $KIvf""".stripMargin,

    // E262: frozen-quantizer replay — training population restricted
    // to the base (vec_id % 7 ≠ 3), assignment/encoding/search over
    // everything.
    "emb_index_append" ->
      (residualSearchCtesWith(fixedPrqCte,
        pqResidualChainSql(s"vec_id % $AppendMod <> $AppendBatchRem")) +
        s""",
           |rr2 AS (SELECT qid, id, adc,
           |               row_number() OVER (PARTITION BY qid
           |                                  ORDER BY adc, id) AS rank
           |        FROM sc2)
           |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
           |       id AS neighbor_id, adc
           |FROM rr2 WHERE rank <= $KIvf""".stripMargin),

    // E267: bucketed kNN graph — within-label exact cosine, per-src
    // top-KnnK, mutual via self-join on the top set.
    "emb_knn_graph" ->
      s"""$embCte,
         |$knnTopCte
         |$knnGraphSelectSql""".stripMargin,

    // E277: the same graph over the ADAPTIVE assignment — the knob the
    // witness named for holding bucket populations (and the slope)
    // constant as N grows.
    "emb_knn_graph_adaptive" ->
      s"""$embCte,
         |$adaptiveCte,
         |${knnTopCtesFrom("SELECT id, cell AS label, v FROM aj")}
         |$knnGraphSelectSql""".stripMargin,

    // E268: recursive reachability over the MUTUAL edge set — min
    // reachable id == component label, singletons keep their own id.
    "emb_knn_components" ->
      s"""${embCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$knnTopCte,
         |me AS (SELECT t.src AS ea, t.dst AS eb FROM ktop t
         |       JOIN ktop b ON b.src = t.dst AND b.dst = t.src
         |       WHERE t.src < t.dst),
         |kedges AS (SELECT ea AS s2, eb AS d2 FROM me
         |           UNION SELECT eb, ea FROM me),
         |reach(id, r) AS (
         |  SELECT s2, s2 FROM kedges
         |  UNION
         |  SELECT e2.s2, x.r FROM reach x JOIN kedges e2 ON e2.d2 = x.id),
         |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         |SELECT vv.id AS vec_id, coalesce(c.cluster, vv.id) AS cluster
         |FROM vv LEFT JOIN comp c ON c.id = vv.id""".stripMargin,

    // E286: graph-expansion search — seeds, hops, rerank replayed as
    // UNION-expansion CTE rounds; ranks by (cs DESC, id), the heap's
    // tie order.
    "emb_graph_search" ->
      s"""$graphExpandCtes
         |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank,
         |       id AS neighbor_id, round(cs, 6) AS cos
         |FROM gtop""".stripMargin,

    // E291: the persisted round trip must read exactly like the
    // in-memory chain — one oracle, two serving paths.
    "emb_graph_persisted" ->
      s"""$graphExpandCtes
         |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank,
         |       id AS neighbor_id, round(cs, 6) AS cos
         |FROM gtop""".stripMargin,

    // E311: walk candidates as the MMR pool — the greedy rounds are
    // the shared mmrRoundsSql replay over the walk's visited set.
    "emb_serving_graph" ->
      (graphExpandCtesOver(
        s"$knnTopCte,\ngedges AS (SELECT src, dst FROM ktop)") +
        s""",
           |cand AS MATERIALIZED (SELECT cf.qid, cf.id AS cid,
           |    round(${cosSql("q2.v", "e.v")}, 6) AS rel
           |  FROM cf JOIN e q2 ON q2.vec_id = cf.qid
           |          JOIN e ON e.vec_id = cf.id)""".stripMargin +
        mmrRoundsSql(K)),

    // E325: the ef-bounded walk replayed hop by hop.
    "emb_graph_beam" ->
      s"""$beamExpandCtes
         |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank,
         |       id AS neighbor_id, round(cs, 6) AS cos
         |FROM gtop""".stripMargin,

    // E310: full-population edges with both endpoints live, live
    // seeds/queries, same walk and rerank.
    "emb_graph_delete" ->
      s"""${graphExpandCtesOver(
            s"""$knnTopCte,
               |gedges AS (SELECT src, dst FROM ktop
               |  WHERE src % $AppendMod <> $AppendBatchRem
               |    AND dst % $AppendMod <> $AppendBatchRem)""".stripMargin,
            s"vec_id % $AppendMod <> $AppendBatchRem")}
         |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank,
         |       id AS neighbor_id, round(cs, 6) AS cos
         |FROM gtop""".stripMargin,

    // E299: the frozen-base + full-population-new edge split, then
    // the same walk and rerank.
    "emb_graph_append" ->
      s"""${graphExpandCtesOver(graphAppendEdgeCtes)}
         |SELECT qid AS query_id, CAST(rnk AS INTEGER) AS rank,
         |       id AS neighbor_id, round(cs, 6) AS cos
         |FROM gtop""".stripMargin,

    // E301: per-hop rescoring of the walk chain's snapshots.
    "emb_graph_hop_sweep" -> graphHopSweepSql,

    // E287: recall audit — seed hits, expanded hits, and the visited
    // candidate volume, against the exact cosine top-K truth.
    "emb_graph_recall" ->
      s"""$graphExpandCtes,
         |s2 AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |              ${cosSql("q2.v", "e.v")} AS score
         |       FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |       WHERE q2.vec_id < $NumQueries),
         |xr AS (SELECT qid, id FROM (
         |         SELECT qid, id, row_number() OVER (PARTITION BY qid
         |           ORDER BY score DESC, id) AS rank FROM s2)
         |       WHERE rank <= $K),
         |nc AS (SELECT qid, count(*) AS n FROM cf GROUP BY qid),
         |sh AS (SELECT sd.qid, count(*) AS n FROM sd
         |       JOIN xr ON xr.qid = sd.qid AND xr.id = sd.id
         |       GROUP BY sd.qid),
         |h AS (SELECT g.qid, count(*) AS n FROM gtop g
         |      JOIN xr ON xr.qid = g.qid AND xr.id = g.id
         |      GROUP BY g.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(nc.n, 0) AS BIGINT) AS n_cand,
         |       CAST(coalesce(sh.n, 0) AS BIGINT) AS n_seed_hits,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(sh.n, 0) AS DOUBLE) / $K, 6) AS recall_seed,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $K, 6) AS recall_at_k
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN nc ON nc.qid = q3.vec_id
         |LEFT JOIN sh ON sh.qid = q3.vec_id
         |LEFT JOIN h ON h.qid = q3.vec_id""".stripMargin,

    // E297: in-degree over the replayed kNN top set, zero-spine via
    // LEFT JOIN from the full vector population.
    "emb_graph_hubness" ->
      s"""$embCte,
         |$knnTopCte,
         |ind AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS d
         |        FROM ktop GROUP BY dst)
         |SELECT e.label AS part,
         |       CAST(coalesce(ind.d, 0) AS BIGINT) AS in_deg,
         |       CAST(count(*) AS BIGINT) AS n_nodes
         |FROM e LEFT JOIN ind ON ind.id = e.vec_id
         |GROUP BY e.label, coalesce(ind.d, 0)""".stripMargin,

    // E296: mutual edges from the replayed kNN top set, the same
    // two-path + closing-edge join, integer census, one division.
    "emb_graph_triangles" ->
      s"""$embCte,
         |$knnTopCte,
         |mg AS MATERIALIZED (SELECT t.src AS a, t.dst AS b FROM ktop t
         |      JOIN ktop r ON r.src = t.dst AND r.dst = t.src),
         |und AS MATERIALIZED (SELECT a, b FROM mg WHERE a < b),
         |deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
         |        FROM mg GROUP BY a),
         |tri AS (SELECT e1.a AS x FROM und e1
         |        JOIN und e2 ON e2.a = e1.b
         |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |parts AS (SELECT vec_id AS id, label AS part FROM e),
         |nodes AS (SELECT part, CAST(count(*) AS BIGINT) AS n_nodes
         |          FROM parts GROUP BY part),
         |edg AS (SELECT p.part, CAST(count(*) AS BIGINT) AS n
         |        FROM und JOIN parts p ON p.id = und.a GROUP BY p.part),
         |trs AS (SELECT p.part, CAST(count(*) AS BIGINT) AS n
         |        FROM tri JOIN parts p ON p.id = tri.x GROUP BY p.part),
         |wdg AS (SELECT p.part, CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n
         |        FROM deg JOIN parts p ON p.id = deg.v GROUP BY p.part)
         |SELECT nodes.part, nodes.n_nodes,
         |       CAST(coalesce(edg.n, 0) AS BIGINT) AS n_edges,
         |       CAST(coalesce(trs.n, 0) AS BIGINT) AS n_triangles,
         |       CAST(coalesce(wdg.n, 0) AS BIGINT) AS n_wedges,
         |       CASE WHEN coalesce(wdg.n, 0) = 0 THEN 0.0
         |            ELSE round(3.0 * coalesce(trs.n, 0)
         |                       / coalesce(wdg.n, 1), 6) END AS clustering
         |FROM nodes LEFT JOIN edg ON edg.part = nodes.part
         |LEFT JOIN trs ON trs.part = nodes.part
         |LEFT JOIN wdg ON wdg.part = nodes.part""".stripMargin,

    // E265: margin mining — neighborhood sums replay the heap's rank
    // order via list(cs ORDER BY rn), so the fold is bit-identical.
    "emb_bitext_margin" ->
      s"""$embCte,
         |sa AS MATERIALIZED (SELECT vec_id AS xid, v FROM e
         |      WHERE vec_id % 2 = 0 AND vec_id < $BitextCap),
         |sb AS MATERIALIZED (SELECT vec_id AS yid, v FROM e
         |      WHERE vec_id % 2 = 1),
         |scb AS MATERIALIZED (SELECT sa.xid, sb.yid,
         |        ${cosSql("sa.v", "sb.v")} AS cs
         |      FROM sa CROSS JOIN sb),
         |fwr AS MATERIALIZED (SELECT xid, yid, cs,
         |        row_number() OVER (PARTITION BY xid
         |          ORDER BY cs DESC, yid) AS rn FROM scb),
         |kaa AS (SELECT xid,
         |          list_reduce(list(cs ORDER BY rn), (p, q) -> p + q)
         |            / $KMargin AS ka
         |        FROM fwr WHERE rn <= $KMargin GROUP BY xid),
         |fb1 AS (SELECT xid, yid, cs FROM fwr WHERE rn = 1),
         |ysd AS (SELECT DISTINCT yid FROM fb1),
         |bwr AS MATERIALIZED (SELECT s2.yid, s2.xid, s2.cs,
         |        row_number() OVER (PARTITION BY s2.yid
         |          ORDER BY s2.cs DESC, s2.xid) AS rn
         |      FROM scb s2 JOIN ysd ON ysd.yid = s2.yid),
         |kbb AS (SELECT yid,
         |          list_reduce(list(cs ORDER BY rn), (p, q) -> p + q)
         |            / $KMargin AS kb
         |        FROM bwr WHERE rn <= $KMargin GROUP BY yid),
         |bb1 AS (SELECT yid, xid AS bx FROM bwr WHERE rn = 1)
         |SELECT fb1.xid AS x_id, fb1.yid AS y_id,
         |       round(fb1.cs, 6) AS cos,
         |       round(fb1.cs / ((kaa.ka + kbb.kb) / 2.0), 6) AS margin,
         |       (bb1.bx = fb1.xid) AS mutual
         |FROM fb1 JOIN kaa ON kaa.xid = fb1.xid
         |         JOIN kbb ON kbb.yid = fb1.yid
         |         JOIN bb1 ON bb1.yid = fb1.yid""".stripMargin,

    // E263: tombstone delete — training over the FULL population (the
    // index was built before the delete), deleted ids excluded from
    // the candidate set only.
    "emb_index_delete" ->
      (residualSearchCtesWith(fixedPrqCte,
        candFilter = s"id % $AppendMod <> $AppendBatchRem") +
        s""",
           |rr2 AS (SELECT qid, id, adc,
           |               row_number() OVER (PARTITION BY qid
           |                                  ORDER BY adc, id) AS rank
           |        FROM sc2)
           |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
           |       id AS neighbor_id, adc
           |FROM rr2 WHERE rank <= $KIvf""".stripMargin),

    // E260: the persisted round trip must reproduce the in-memory
    // chain bit-for-bit — same oracle as emb_topk_ivfpq_residual.
    "emb_persisted_topk" ->
      s"""$residualSearchCtes,
         |rr2 AS (SELECT qid, id, adc,
         |               row_number() OVER (PARTITION BY qid
         |                                  ORDER BY adc, id) AS rank
         |        FROM sc2)
         |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank,
         |       id AS neighbor_id, adc
         |FROM rr2 WHERE rank <= $KIvf""".stripMargin,

    // E244: E226's two-cutoff recall arithmetic over the residual
    // chain's ADC ranking vs the exact-L2 brute force.
    "emb_residual_recall" ->
      s"""$residualSearchCtes,
         |adcr AS (SELECT qid, id, rank FROM (
         |           SELECT qid, id, row_number() OVER (PARTITION BY qid
         |             ORDER BY adc, id) AS rank FROM sc2)
         |         WHERE rank <= ${KIvf * AdcRerankMult}),
         |exd AS (SELECT q2.vec_id AS qid, e.vec_id AS id,
         |               list_reduce(list_transform(generate_series(1, len(q2.v)),
         |                 i -> (q2.v[i] - e.v[i]) * (q2.v[i] - e.v[i])),
         |                 (p, z) -> p + z) AS d
         |        FROM e q2 JOIN e ON e.vec_id <> q2.vec_id
         |        WHERE q2.vec_id < $NumQueries),
         |exr AS (SELECT qid, id FROM (
         |          SELECT qid, id, row_number() OVER (PARTITION BY qid
         |            ORDER BY d, id) AS rank FROM exd)
         |        WHERE rank <= $KIvf),
         |h AS (SELECT a.qid, count(*) AS n FROM adcr a
         |      JOIN exr x2 ON x2.qid = a.qid AND x2.id = a.id
         |      WHERE a.rank <= $KIvf GROUP BY a.qid),
         |hc AS (SELECT a.qid, count(*) AS n FROM adcr a
         |       JOIN exr x2 ON x2.qid = a.qid AND x2.id = a.id GROUP BY a.qid)
         |SELECT q3.vec_id AS query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(CAST(coalesce(h.n, 0) AS DOUBLE) / $KIvf, 6) AS recall_at_k,
         |       CAST(coalesce(hc.n, 0) AS BIGINT) AS n_cand_hits,
         |       round(CAST(coalesce(hc.n, 0) AS DOUBLE) / $KIvf, 6)
         |         AS recall_rerank
         |FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id < $NumQueries) q3
         |LEFT JOIN h ON h.qid = q3.vec_id
         |LEFT JOIN hc ON hc.qid = q3.vec_id""".stripMargin,

    // E226: same ADC chain as E220 ranked to the rerank horizon, exact
    // L2 ranking over raw vectors (same left-fold), per-query
    // intersections at both cutoffs — fully value-checked.
    "emb_adc_recall" -> adcRecallSql(pqChainCte),

    // E218: same explode + fixed-point moment arithmetic.
    "emb_dim_stats" ->
      s"""$embCte,
         |x AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS d,
         |             v[CAST(i AS INTEGER)] AS val
         |      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
         |st AS (SELECT d, round(avg(val), 6) AS mean,
         |              round(avg(val * val), 6) AS s2,
         |              min(val) AS min_v, max(val) AS max_v
         |       FROM x GROUP BY d)
         |SELECT d, mean, round(s2 - mean * mean, 6) AS variance,
         |       min_v, max_v,
         |       round(s2 - mean * mean, 6) <= 1e-6 AS is_dead
         |FROM st""".stripMargin,

    // E217: the fit replayed from raw data — means, covariance, every
    // power-iteration fixed point.
    "emb_pca_top" ->
      s"""${pcaCte(graft.ext.Pca.PowerIters)}
         |SELECT mm.d, mm.m AS mean, pv${graft.ext.Pca.PowerIters}.val AS pc1
         |FROM mm JOIN pv${graft.ext.Pca.PowerIters}
         |  ON pv${graft.ext.Pca.PowerIters}.d = mm.d""".stripMargin,

    // E269: the monolithic refit from raw — matching it is the
    // merge-loses-nothing claim.
    "emb_pca_merge" ->
      s"""${pcaCte(graft.ext.Pca.PowerIters)}
         |SELECT mm.d, mm.m AS mean, pv${graft.ext.Pca.PowerIters}.val AS pc1
         |FROM mm JOIN pv${graft.ext.Pca.PowerIters}
         |  ON pv${graft.ext.Pca.PowerIters}.d = mm.d""".stripMargin,

    // E232: refit, one more fixed-point mat-vec, Rayleigh + trace.
    "emb_pca_var" -> {
      val vT = s"pv${graft.ext.Pca.PowerIters}"
      s"""${pcaCte(graft.ext.Pca.PowerIters)},
         |lw AS (SELECT cf.i AS d, round(sum(cf.c * p.val), 9) AS wv
         |       FROM cf JOIN $vT p ON p.d = cf.j GROUP BY cf.i),
         |lam AS (SELECT round(sum($vT.val * lw.wv), 6) AS eigval
         |        FROM $vT JOIN lw ON lw.d = $vT.d),
         |tr AS (SELECT round(sum(c), 6) AS trace_var FROM cf WHERE i = j)
         |SELECT lam.eigval, tr.trace_var,
         |       round(lam.eigval / tr.trace_var, 6) AS explained
         |FROM lam, tr""".stripMargin
    },

    // E217: independent refit + projection (x·v − m·v, round 6).
    "emb_pca_project" -> {
      val vT = s"pv${graft.ext.Pca.PowerIters}"
      s"""${pcaCte(graft.ext.Pca.PowerIters)},
         |mv AS (SELECT sum(mm.m * $vT.val) AS c
         |       FROM mm JOIN $vT ON $vT.d = mm.d)
         |SELECT x.vec_id AS id, round(sum(x.val * $vT.val) - mv.c, 6) AS proj
         |FROM x JOIN $vT ON $vT.d = x.d, mv
         |GROUP BY x.vec_id, mv.c""".stripMargin
    },

    // E216: same SRP band pipeline as emb_srp_pairs for the candidate
    // count, exact all-pairs truth at the identical rounded threshold,
    // and the banding curve from integer bit agreement.
    "emb_srp_recall" ->
      s"""$srpSigCte,
         |nnv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
         |bw AS (SELECT coalesce(min(t.bb), ${Srp.MaxBitsPerBand}) AS b
         |       FROM generate_series(${Srp.MinBitsPerBand}, ${Srp.MaxBitsPerBand}) t(bb), nnv
         |       WHERE (CAST(1 AS BIGINT) << t.bb) * ${Srp.TargetBucketPop} >= nnv.n),
         |bands AS (SELECT id, t.j AS b,
         |            (srp_sig >> (CAST(t.j AS INTEGER) * bw.b))
         |              & ((CAST(1 AS BIGINT) << bw.b) - 1) AS key
         |          FROM sg CROSS JOIN generate_series(0, ${Srp.NumBands - 1}) t(j)
         |          CROSS JOIN bw),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |         FROM bands x JOIN bands y
         |           ON x.b = y.b AND x.key = y.key AND x.id < y.id),
         |sp AS (SELECT c.id_a, c.id_b
         |       FROM cand c JOIN e ea ON c.id_a = ea.vec_id
         |                   JOIN e eb ON c.id_b = eb.vec_id
         |       WHERE round(${cosSql("ea.v", "eb.v")}, 6) >= $NearDupThreshold),
         |tp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |       FROM e a JOIN e b ON a.vec_id < b.vec_id
         |       WHERE round(${cosSql("a.v", "b.v")}, 6) >= $NearDupThreshold),
         |h AS (SELECT (CAST(${Srp.NumPlanes} AS DOUBLE)
         |               - bit_count(xor(x.srp_sig, y.srp_sig)))
         |             / CAST(${Srp.NumPlanes} AS DOUBLE) AS q
         |      FROM tp t JOIN sg x ON x.id = t.id_a
         |                JOIN sg y ON y.id = t.id_b),
         |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
         |              round(avg(1.0 - pow(1.0 - pow(h.q, bw.b),
         |                                  ${Srp.NumBands})), 6)
         |                AS expected_recall
         |       FROM h, bw GROUP BY bw.b),
         |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_srp FROM sp)
         |SELECT s1.n_true, s2.n_srp, CAST(bw.b AS INTEGER) AS band_bits,
         |       round(CAST(s2.n_srp AS DOUBLE) / s1.n_true, 6) AS recall,
         |       s1.expected_recall
         |FROM s1, s2, bw""".stripMargin,

    // E212: generated round chain — s1 seeds at min(vec_id); each
    // round folds the new center's 6-rounded cosine into the per-point
    // running max (b_i) and picks the argmin outside the selected set
    // (ORDER BY best, id LIMIT 1 ≡ Spark's min_by struct rule). The
    // seed row's maximin_cos is NULL by definition.
    "emb_coreset" -> coresetSql(CoresetK))

  /** Generated SQL for [[graft.ext.Similarity.farthestPointCoreset]]:
    * one CTE trio (s_i select, c_i center vector, b_i state fold) per
    * round, so round count and rules can never drift between engines.
    */
  private def coresetSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""$embCte,
              |s1 AS (SELECT min(vec_id) AS id FROM e),
              |c1 AS (SELECT e.v AS cv FROM e, s1 WHERE e.vec_id = s1.id),
              |b1 AS (SELECT e.vec_id AS id,
              |              round(${cosSql("e.v", "c1.cv")}, 6) AS best
              |       FROM e, c1)""".stripMargin
    for (i <- 2 to k) {
      val prevSel = (1 until i).map(j => s"SELECT id FROM s$j")
        .mkString(" UNION ALL ")
      sb ++=
        s""",
           |s$i AS (SELECT id, best FROM b${i - 1}
           |        WHERE id NOT IN ($prevSel)
           |        ORDER BY best, id LIMIT 1)""".stripMargin
      if (i < k) {
        sb ++=
          s""",
             |c$i AS (SELECT e.v AS cv FROM e, s$i WHERE e.vec_id = s$i.id),
             |b$i AS (SELECT b.id,
             |               greatest(b.best,
             |                        round(${cosSql("e.v", s"c$i.cv")}, 6)) AS best
             |        FROM b${i - 1} b JOIN e ON e.vec_id = b.id, c$i)""".stripMargin
      }
    }
    sb ++= "\nSELECT 1 AS center_rank, s1.id, CAST(NULL AS DOUBLE) AS maximin_cos FROM s1"
    for (i <- 2 to k)
      sb ++= s"\nUNION ALL SELECT $i AS center_rank, id, best AS maximin_cos FROM s$i"
    sb.toString
  }
}
