package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted serving artifact for the graph-expansion ANN tier
  * (E291) — what [[AnnIndex]] (E260) is to residual IVF-PQ, this is
  * to the E286 graph walk: a real deployment builds the kNN graph
  * ONCE (the expensive bucketed pair stage) and serves every query
  * from the persisted tables, where the in-memory row rebuilds graph
  * and signatures per invocation.
  *
  * Artifact layout under one directory (all parquet — the index IS a
  * set of tables, readable by any engine):
  *
  *   vectors.parquet  (id, part, vec: double[])  — for the exact rerank
  *                                                 (HNSW-family indexes
  *                                                 store vectors too)
  *   sigs.parquet     (id, h0, h1)               — binary seed tier
  *   edges.parquet    (src, dst / bucket=B/)     — kNN out-edges,
  *                                                 HIVE-PARTITIONED by
  *                                                 src bucket
  *   tombstones.parquet (id)                     — deleted, not yet
  *                                                 compacted away
  *   manifest.parquet (1 row: format/geometry/counts)
  *
  * The bucket-partitioned edge layout (v3, VERDICT r13 #1) prices the
  * walk by the FRONTIER, not the corpus: each hop's frontier is
  * per-query bounded (≤ seeds·(graphK+1)^hop ids regardless of corpus
  * size — the graph family's defining property), so [[searchTopK]]
  * resolves the frontier's source buckets (`pmod(id, edge_buckets)`,
  * a bounded set) and scans `edges.parquet` through a static
  * `bucket IN (…)` partition filter. A billion-vector index holds
  * ~k·N edges; a 30-node frontier touches ≤ 30 of its
  * `edge_buckets` directories instead of every row group.
  * GraphPruneSpec pins the filter and the file count; the walk's
  * OUTPUT is unchanged — the bucket filter is exactly the set of
  * directories the equi-join on `src` could match.
  *
  * The manifest is written LAST with counts re-read from the written
  * files (the [[AnnIndex]] discipline): a crashed build never
  * presents a loadable index, and [[load]] re-asserts version,
  * geometry, and per-table counts so a truncated artifact fails
  * loudly. Since v3 that integrity gate runs ONCE PER SESSION per
  * artifact ([[loadCached]]) instead of once per search; writers
  * invalidate the cache. Parquet round-trips IEEE doubles bit-exactly
  * and the search half runs the same expansion arithmetic as the
  * in-memory chain, so the round trip is hash-identical —
  * GraphIndexSpec pins it, and the `emb_graph_persisted` gate row
  * hashes the read-back search against the same oracle as
  * `emb_graph_search`.
  *
  * Scale shape: serving touches the integer signature table (seed
  * scan), the PRUNED slice of the (src, dst) edge table (`hops`
  * hash joins), and fetches raw vectors only for the visited set's
  * rerank — per-query work independent of corpus size.
  */
object GraphIndex {

  /** v2 added the tombstone table (E310); v3 hive-partitions
    * `edges.parquet` by `bucket = pmod(src, edge_buckets)` (recorded
    * in the manifest) and moves count verification off the per-search
    * path; v4 added an HNSW-style entry layer (`layeredges.parquet`,
    * `layer_mod`, `n_layer_edges`); v5 removes it again — measured
    * dominated by the flat-seeded beam at equal candidate volume
    * (SCALING.md, "Round-15 layered graph entry"), and its all-pairs
    * kNN over N/layer_mod nodes was quadratic in the corpus. Each bump
    * keeps an older reader from mis-reading the layout.
    */
  val FormatVersion = 5

  /** Default edge-bucket count. At fixture scale this already yields
    * measurable directory pruning; a billion-vector deployment raises
    * it (buckets should comfortably exceed the expected frontier size
    * so the IN-list prunes to frontier/buckets of the files).
    */
  val DefaultEdgeBuckets = 16

  final case class Index(dim: Int, graphK: Int, edgeBuckets: Int,
      vectors: DataFrame, sigs: DataFrame, edges: DataFrame,
      tombstones: DataFrame) {
    /** Soft-delete read paths: tombstoned ids neither seed, relay,
      * nor return — vectors and signatures anti-join the tombstones,
      * and an edge dies if EITHER endpoint is tombstoned (a deleted
      * node must not relay a walk).
      */
    def liveVectors: DataFrame =
      vectors.join(tombstones.select(col("id")), Seq("id"), "left_anti")
    def liveSigs: DataFrame =
      sigs.join(tombstones.select(col("id")), Seq("id"), "left_anti")
    def liveEdges: DataFrame =
      edges
        .join(tombstones.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(tombstones.select(col("id").as("dst")), Seq("dst"), "left_anti")
  }

  /** Once-per-session validated loads (the [[AnnIndex.loadCached]]
    * discipline); writers invalidate via [[invalidate]].
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Index]()

  /** Every-session invalidation for `dir` (writers call it). */
  def invalidate(dir: String): Unit =
    cache.keySet.removeIf(_._2 == dir)

  /** Session-scoped (see [[AnnIndex.loadCached]]): the key carries
    * the session's identity so handles never outlive their session —
    * r16 (ADVICE) a [[SessionToken]] UUID in a tuple key, for the
    * same uniqueness/aliasing reasons as AnnIndex.
    */
  def loadCached(spark: SparkSession, dir: String): Index =
    cache.computeIfAbsent(
      (SessionToken.of(spark), dir), _ => load(spark, dir))

  /** Edge rows carry their hive-partition bucket derived from the
    * SOURCE id — the join side every hop probes.
    */
  private def withBucket(edges: DataFrame, buckets: Int): DataFrame =
    edges.withColumn("bucket",
      pmod(col("src"), lit(buckets.toLong)).cast("int"))

  private def writeManifest(spark: SparkSession, dir: String,
      dim: Int, graphK: Int, edgeBuckets: Int): Unit = {
    val nVecs = spark.read.parquet(s"$dir/vectors.parquet").count()
    val nSigs = spark.read.parquet(s"$dir/sigs.parquet").count()
    val nEdges = spark.read.parquet(s"$dir/edges.parquet").count()
    val nTomb = spark.read.parquet(s"$dir/tombstones.parquet").count()
    import spark.implicits._
    Seq((FormatVersion, dim, graphK, edgeBuckets,
        nVecs, nSigs, nEdges, nTomb))
      .toDF("format_version", "dim", "graph_k", "edge_buckets",
        "n_vectors", "n_sigs", "n_edges", "n_tombstones")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest.parquet")
    invalidate(dir)
  }

  /** Build and persist the graph index for `vecs (id, part, vec)`
    * under `outDir` (`part` buckets the kNN pair stage, the E267
    * convention).
    */
  def build(vecs: DataFrame, dim: Int, graphK: Int, outDir: String,
      edgeBuckets: Int = DefaultEdgeBuckets): Unit = {
    val spark = vecs.sparkSession
    val v = vecs.localCheckpoint(false) // three table writes, one scan
    v.write.mode("overwrite").parquet(s"$outDir/vectors.parquet")
    Similarity.binarySigs(v, dim)
      .write.mode("overwrite").parquet(s"$outDir/sigs.parquet")
    withBucket(Similarity.knnGraph(v, graphK)
        .select(col("src_id").as("src"), col("dst_id").as("dst")),
        edgeBuckets)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/edges.parquet")
    // empty tombstone set with the VECTORS id type — delete() appends
    // to this file, and parquet append demands an identical schema
    spark.read.parquet(s"$outDir/vectors.parquet").select(col("id"))
      .limit(0)
      .write.mode("overwrite").parquet(s"$outDir/tombstones.parquet")
    writeManifest(spark, outDir, dim, graphK, edgeBuckets)
  }

  /** Soft-DELETE `ids (id)` (E310, the E263 design for the graph
    * tier): ids append to the tombstone table — O(batch) regardless
    * of index size — and every read path anti-joins it
    * ([[Index.liveVectors]]/[[Index.liveSigs]]/[[Index.liveEdges]]).
    * Strict: every id must exist and not already be tombstoned.
    * Manifest rewritten LAST. Note [[append]]'s interaction: a
    * tombstoned id still owns vector rows, so re-adding it refuses
    * until [[compact]] reclaims them.
    */
  def delete(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val idx = load(spark, dir)
    val n = ids.count()
    val present = ids.select(col("id"))
      .join(idx.vectors.select(col("id")), "id").count()
    require(present == n,
      s"delete batch has ${n - present} ids not in the index — " +
        "delete is strict, not a filter")
    val already = ids.select(col("id"))
      .join(idx.tombstones.select(col("id")), "id").count()
    require(already == 0,
      s"$already ids are already tombstoned — double delete")
    ids.select(col("id"))
      .write.mode("append").parquet(s"$dir/tombstones.parquet")
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets)
  }

  /** COMPACT (E310): physically drop tombstoned vectors, signatures,
    * and every edge touching a tombstoned endpoint, then clear the
    * tombstones — search output identical before and after by
    * construction (GraphDeleteSpec pins it). Each table rewrites to a
    * side directory and [[IndexFiles.swapIn]] rename-asides it into
    * place through the Hadoop FileSystem API (works wherever
    * build/append/delete do, not just local disk): a crash mid-swap
    * leaves [[load]] refusing AND the old table intact on disk.
    */
  def compact(dir: String): Unit = {
    val spark = SparkSession.active
    val idx = load(spark, dir)
    if (idx.tombstones.isEmpty) return
    idx.liveVectors.write.mode("overwrite")
      .parquet(s"$dir/vectors.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "vectors")
    idx.liveSigs.write.mode("overwrite")
      .parquet(s"$dir/sigs.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "sigs")
    idx.liveEdges.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/edges.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "edges")
    spark.read.parquet(s"$dir/vectors.parquet").select(col("id")).limit(0)
      .write.mode("overwrite").parquet(s"$dir/tombstones.parquet")
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets)
  }

  /** Incrementally APPEND `newVecs (id, part, vec)` to a persisted
    * graph index (E299) — the batch shape of the HNSW insert: each
    * new node gets its top-`graphK` within-bucket out-edges computed
    * against the FULL post-append population (existing ∪ batch), the
    * existing nodes' edge lists stay FROZEN (no rebuild), and the
    * manifest is rewritten LAST with re-read counts (a crashed append
    * fails the count check, never serves a short index). Guards:
    * batch ids disjoint from the indexed set (add, not upsert), and
    * EVERY batch vector's width must match the manifest dim (min =
    * max = dim — a mixed-width batch must not half-write malformed
    * signatures or edges).
    *
    * Write order: the new EDGES go first. Their plan reads
    * `idx.vectors` — the artifact's vector table — so they must
    * materialize before `vectors.parquet` gains the batch rows;
    * writing them IS the materialization (no reliance on a stale
    * cached file listing). A crash after the edge write fails the
    * manifest count check on the next load — fail-loud, like every
    * other torn write here.
    *
    * Reachability contract, stated not hidden: appended nodes are
    * immediately findable through the SEED tier (their signatures
    * join the scan) and through their own out-edges, but existing
    * nodes point no edges AT them until a rebuild — the staleness is
    * the explicit price, and GraphAppendSpec MEASURES appended-vs-
    * rebuilt recall instead of assuming it away (the E262
    * discipline).
    */
  def append(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val idx = load(spark, dir)
    val nv = newVecs.localCheckpoint(false)
    val widths = nv
      .agg(min(size(col("vec"))).as("lo"), max(size(col("vec"))).as("hi"))
      .head()
    require(widths.getInt(0) == idx.dim && widths.getInt(1) == idx.dim,
      s"append batch has dims in [${widths.getInt(0)}, " +
        s"${widths.getInt(1)}], index geometry says ${idx.dim}")
    val dup = nv.select(col("id"))
      .join(idx.vectors.select(col("id")), "id").count()
    require(dup == 0,
      s"append batch shares $dup ids with the indexed set — " +
        "append is add, not upsert")
    val full = idx.vectors.select(col("id"), col("part"), col("vec"))
      .unionByName(nv.select(col("id"), col("part"), col("vec")))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .localCheckpoint(false)
    val q = nv
      .withColumn("qnrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
      .select(col("id").as("nid"), col("part").as("npart"),
        col("vec").as("nvec"), col("qnrm"))
    val denom = col("qnrm") * col("nrm")
    val cs = when(denom === 0.0, lit(0.0))
      .otherwise(Similarity.dot(col("nvec"), col("vec")) / denom)
    val newEdges = q.join(full,
        col("npart") === col("part") && col("nid") =!= col("id"))
      .select(col("nid").as("src0"), col("id").as("dst0"), cs.as("cs"))
      .groupBy(col("src0"))
      .agg(Similarity.topkUdaf(idx.graphK)(col("cs"), col("dst0")).as("t"))
      .select(col("src0").as("src"),
        explode(col("t.items")).as("it"))
      .select(col("src"), col("it.id").as("dst"))
    // edges FIRST (see scaladoc): the plan reads idx.vectors, so it
    // must execute before vectors.parquet changes underneath it
    withBucket(newEdges, idx.edgeBuckets)
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/edges.parquet")
    nv.write.mode("append").parquet(s"$dir/vectors.parquet")
    Similarity.binarySigs(nv, idx.dim)
      .write.mode("append").parquet(s"$dir/sigs.parquet")
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets)
  }

  /** Load + validate. Throws (IllegalArgumentException) on a missing,
    * truncated, or wrong-version artifact. Searches go through
    * [[loadCached]] — this runs once per session per artifact.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val m = spark.read.parquet(s"$dir/manifest.parquet").head()
    def mi(f: String): Int = m.getAs[Int](f)
    def ml(f: String): Long = m.getAs[Long](f)
    require(mi("format_version") == FormatVersion,
      s"graph index at $dir has format ${mi("format_version")}, " +
        s"this reader speaks $FormatVersion")
    val vectors = spark.read.parquet(s"$dir/vectors.parquet")
    val sigs = spark.read.parquet(s"$dir/sigs.parquet")
    val edges = spark.read.parquet(s"$dir/edges.parquet")
    val tomb = spark.read.parquet(s"$dir/tombstones.parquet")
    def check(name: String, df: DataFrame, want: Long): Unit = {
      val got = df.count()
      require(got == want,
        s"graph-index table $name has $got rows, manifest says $want " +
          "— truncated or mixed-version artifact")
    }
    check("vectors", vectors, ml("n_vectors"))
    check("sigs", sigs, ml("n_sigs"))
    check("edges", edges, ml("n_edges"))
    check("tombstones", tomb, ml("n_tombstones"))
    require(ml("n_sigs") == ml("n_vectors"),
      "every vector needs a signature: artifact inconsistent")
    Index(mi("dim"), mi("graph_k"), mi("edge_buckets"),
      vectors, sigs, edges, tomb)
  }

  /** Serve top-k from the persisted artifact: seeds from the stored
    * signatures, `hops` expansion rounds over the stored edges, exact
    * rerank against the stored vectors — the same expansion the
    * in-memory chain runs ([[Similarity.graphExpandCandidatesFrom]]'s
    * arithmetic, inlined so each hop can PRUNE), with every hop's
    * edge scan partition-pruned to the frontier's source buckets.
    * The per-hop bucket resolution is a bounded collect: the frontier
    * is ≤ numQueries·seeds·(graphK+1)^hop ids at ANY corpus size, and
    * the bucket set it maps to is ≤ min(frontier, edge_buckets).
    */
  def searchTopK(spark: SparkSession, dir: String, numQueries: Int,
      seeds: Int, hops: Int, k: Int): DataFrame = {
    val idx = loadCached(spark, dir)
    Similarity.graphRerank(idx.liveVectors.localCheckpoint(false),
      expandCandidates(spark, dir, numQueries, seeds, hops),
      numQueries, k)
  }

  /** The CANDIDATE half of [[searchTopK]] — the pruned walk's visited
    * set `(query_id, id)`, query self-hits excluded — public so
    * composed pipelines (candidate generation → their own rerank →
    * MMR) can serve from the persisted artifact instead of rebuilding
    * the graph per query (the VERDICT r13 #5 shared-artifact
    * discipline applied to the graph tier).
    */
  def expandCandidates(spark: SparkSession, dir: String,
      numQueries: Int, seeds: Int, hops: Int): DataFrame = {
    require(hops >= 1, "need at least one expansion hop")
    val idx = loadCached(spark, dir)
    var cand = Similarity.hammingTopKSigs(
        idx.liveSigs.localCheckpoint(false), numQueries, seeds)
      .select(col("query_id"), col("neighbor_id").as("id"))
      .localCheckpoint(false)
    for (_ <- 1 to hops) {
      val expanded = cand.join(hopEdges(idx, cand), col("id") === col("esrc"))
        .select(col("query_id"), col("edst").as("id"))
      // each hop's visited set feeds the next hop AND the final
      // rerank; checkpoint so the union chain never re-walks
      cand = cand.union(expanded).distinct().localCheckpoint(false)
    }
    cand.filter(col("query_id") =!= col("id"))
  }

  /** One hop's PRUNED edge slice `(esrc, edst)` for the current
    * frontier `cand (query_id, id)`: resolve the frontier's source
    * buckets (a bounded collect — the frontier is per-query bounded
    * at any corpus size) and push `bucket IN (…)` at the partitioned
    * edge scan. Package-private so GraphPruneSpec pins the SERVE
    * path's own scan (the hop output is checkpointed inside
    * [[searchTopK]], which truncates the visible plan).
    */
  private[ext] def hopEdges(idx: Index, cand: DataFrame): DataFrame = {
    val bks = cand
      .select(pmod(col("id"), lit(idx.edgeBuckets.toLong))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    idx.liveEdges.filter(col("bucket").isin(bks: _*))
      .select(col("src").as("esrc"), col("dst").as("edst"))
  }

  /** BEAM-bounded serve (r15, E325 — the HNSW/DiskANN ef-search shape
    * in batch form): instead of expanding EVERY visited node each hop
    * (the blind walk, whose frontier grows (graphK+1)^hop), each hop
    * expands only the query's `ef` best visited candidates by exact
    * cosine — the batched greedy-with-beam discipline. Per-hop work is
    * ef·graphK edge lookups per query, so candidate volume is
    * ef-CONTROLLED at any depth (the knob HNSW exposes as efSearch):
    * visited ≤ seeds + hops·ef·graphK rows regardless of corpus size
    * or hop count, where the blind walk's budget is depth-exponential
    * until it saturates. The walk state per hop: visited_{h+1} =
    * visited_h ∪ expand(beam(visited_h)), beam = top-ef by (cs DESC,
    * id), query self-hits excluded from beam slots. Fully
    * value-replayable (per-hop rescoring windows in SQL), so the gate
    * row carries a complete DuckDB oracle; BeamSearchSpec records the
    * recall-vs-volume verdict against the blind walk either way.
    */
  def searchTopKBeam(spark: SparkSession, dir: String, numQueries: Int,
      seeds: Int, hops: Int, ef: Int, k: Int): DataFrame = {
    val idx = loadCached(spark, dir)
    Similarity.graphRerank(idx.liveVectors.localCheckpoint(false),
      expandCandidatesBeam(spark, dir, numQueries, seeds, hops, ef),
      numQueries, k)
  }

  /** The candidate half of [[searchTopKBeam]]: the ef-bounded walk's
    * visited set `(query_id, id)`, self-hits excluded.
    */
  def expandCandidatesBeam(spark: SparkSession, dir: String,
      numQueries: Int, seeds: Int, hops: Int, ef: Int): DataFrame = {
    require(hops >= 1 && ef >= 1, "need at least one hop and one beam slot")
    val idx = loadCached(spark, dir)
    val v = idx.liveVectors.localCheckpoint(false)
    val qv = v.filter(col("id") < numQueries)
      .select(col("id").as("qid"), col("vec").as("qv"))
    // per-query top-ef of the visited set by exact cosine — the beam
    def beamOf(cand: DataFrame): DataFrame =
      cand.filter(col("query_id") =!= col("id"))
        .join(v.select(col("id").as("vid"), col("vec")),
          col("id") === col("vid"))
        .join(broadcast(qv), col("query_id") === col("qid"))
        .select(col("query_id"), col("id"),
          Similarity.cosine(col("qv"), col("vec")).as("cs"))
        .groupBy(col("query_id"))
        .agg(Similarity.topkUdaf(ef)(col("cs"), col("id")).as("t"))
        .select(col("query_id"), explode(col("t.items")).as("it"))
        .select(col("query_id"), col("it.id").as("id"))
    var visited = Similarity.hammingTopKSigs(
        idx.liveSigs.localCheckpoint(false), numQueries, seeds)
      .select(col("query_id"), col("neighbor_id").as("id"))
      .localCheckpoint(false)
    for (_ <- 1 to hops) {
      val beam = beamOf(visited).localCheckpoint(false)
      val expanded = beam
        .join(hopEdges(idx, beam), col("id") === col("esrc"))
        .select(col("query_id"), col("edst").as("id"))
      visited = visited.union(expanded).distinct().localCheckpoint(false)
    }
    visited.filter(col("query_id") =!= col("id"))
  }
}
