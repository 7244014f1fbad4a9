package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

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
  * The manifest is written LAST with the written files' footer row
  * counts (the [[AnnIndex]] discipline): a crashed build never
  * presents a loadable index, and [[load]] re-asserts version,
  * geometry, and per-table footer counts so a truncated artifact
  * fails loudly — with no Spark job ([[IndexFiles.tableMeta]]). The
  * validated load fills [[loadCached]], so a load followed by a
  * search validates once; writers invalidate the cache. The walk's
  * state — seeds, visited set, beam — is bounded per query, so it
  * lives on the driver between hops: each hop is one pruned edge read
  * (plus, for the beam, one scoring pass), not a checkpoint job chain.
  * Parquet round-trips IEEE doubles bit-exactly
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

  /** Error-message prefix of this artifact's integrity checks. */
  private val Label = "graph-index"

  /** Loaded, validated artifact handles, with the row counts the
    * validated manifest recorded (physical rows, tombstoned ids
    * included until a [[compact]]).
    */
  final case class Index(dim: Int, graphK: Int, edgeBuckets: Int,
      vectors: DataFrame, sigs: DataFrame, edges: DataFrame,
      tombstones: DataFrame,
      nVectors: Long, nEdges: Long, nTombstones: Long) {
    /** Soft-delete read paths: tombstoned ids neither seed, relay,
      * nor return — vectors and signatures anti-join the tombstones,
      * and an edge dies if EITHER endpoint is tombstoned (a deleted
      * node must not relay a walk). With no tombstones the anti-joins
      * are skipped — each would cost its plan a broadcast job.
      */
    def liveVectors: DataFrame =
      if (nTombstones == 0) vectors
      else vectors.join(tombstones.select(col("id")), Seq("id"), "left_anti")
    def liveSigs: DataFrame =
      if (nTombstones == 0) sigs
      else sigs.join(tombstones.select(col("id")), Seq("id"), "left_anti")
    def liveEdges: DataFrame =
      if (nTombstones == 0) edges
      else edges
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
    Option(cache.get((SessionToken.of(spark), dir)))
      .getOrElse(load(spark, dir))

  /** Edge rows carry their hive-partition bucket derived from the
    * SOURCE id — the join side every hop probes.
    */
  private def withBucket(edges: DataFrame, buckets: Int): DataFrame =
    edges.withColumn("bucket",
      pmod(col("src"), lit(buckets.toLong)).cast("int"))

  /** Manifest row with the footer row counts of the written tables —
    * every writer calls this LAST. `vectors` is the footer pass the
    * writer made once after its vector write, also handed to
    * [[IndexFiles.clearTombstones]] (neither rewrites the vector table).
    */
  private def writeManifest(spark: SparkSession, dir: String,
      dim: Int, graphK: Int, edgeBuckets: Int,
      vectors: IndexFiles.TableMeta): Unit = {
    val Seq(nSigs, nEdges, nTomb) = Seq("sigs", "edges", "tombstones")
      .map(IndexFiles.tableMeta(spark, dir, _, Label).rows)
    val nVecs = vectors.rows
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
    val written = IndexFiles.tableMeta(spark, outDir, "vectors", Label)
    IndexFiles.clearTombstones(spark, outDir, "vectors", written.schema)
    writeManifest(spark, outDir, dim, graphK, edgeBuckets, written)
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
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets,
      IndexFiles.tableMeta(spark, dir, "vectors", Label))
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
    if (idx.nTombstones == 0) return
    idx.liveVectors.write.mode("overwrite")
      .parquet(s"$dir/vectors.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "vectors")
    idx.liveSigs.write.mode("overwrite")
      .parquet(s"$dir/sigs.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "sigs")
    idx.liveEdges.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/edges.compacting.parquet")
    IndexFiles.swapIn(spark, dir, "edges")
    val written = IndexFiles.tableMeta(spark, dir, "vectors", Label)
    IndexFiles.clearTombstones(spark, dir, "vectors", written.schema)
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets, written)
  }

  /** Incrementally APPEND `newVecs (id, part, vec)` to a persisted
    * graph index (E299) — the batch shape of the HNSW insert: each
    * new node gets its top-`graphK` within-bucket out-edges computed
    * against the FULL post-append population (existing ∪ batch), the
    * existing nodes' edge lists stay FROZEN (no rebuild), and the
    * manifest is rewritten LAST with footer counts (a crashed append
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
      .withColumn("nrm", Similarity.norm(col("vec")))
      .localCheckpoint(false)
    val q = nv
      .withColumn("qnrm", Similarity.norm(col("vec")))
      .select(col("id").as("nid"), col("part").as("npart"),
        col("vec").as("nvec"), col("qnrm"))
    val cs = Similarity.cosineNormed(col("nvec"), col("vec"), col("qnrm"),
      col("nrm"))
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
    writeManifest(spark, dir, idx.dim, idx.graphK, idx.edgeBuckets,
      IndexFiles.tableMeta(spark, dir, "vectors", Label))
  }

  /** Load + validate. Throws (IllegalArgumentException) on a missing,
    * truncated, corrupt or wrong-version artifact: footer reads on the
    * driver, no Spark job. The validated load fills the
    * [[loadCached]] entry, so the search after a load does not
    * validate again.
    */
  def load(spark: SparkSession, dir: String): Index = {
    val m = IndexFiles.manifest(spark, dir, Label)
    def mi(f: String): Int = IndexFiles.field[Int](m, f, dir)
    def ml(f: String): Long = IndexFiles.field[Long](m, f, dir)
    require(mi("format_version") == FormatVersion,
      s"graph index at $dir has format ${mi("format_version")}, " +
        s"this reader speaks $FormatVersion")
    require(ml("n_sigs") == ml("n_vectors"),
      "every vector needs a signature: artifact inconsistent")
    def table(name: String, count: String): DataFrame =
      IndexFiles.readChecked(spark, dir, name, ml(count), Label)
    val idx = Index(mi("dim"), mi("graph_k"), mi("edge_buckets"),
      table("vectors", "n_vectors"), table("sigs", "n_sigs"),
      table("edges", "n_edges"), table("tombstones", "n_tombstones"),
      ml("n_vectors"), ml("n_edges"), ml("n_tombstones"))
    cache.put((SessionToken.of(spark), dir), idx)
    idx
  }

  /** Serve top-k from the persisted artifact: seeds from the stored
    * signatures, `hops` expansion rounds over the stored edges, exact
    * rerank against the stored vectors — the same walk the in-memory
    * chain runs ([[Similarity.graphExpandCandidatesFrom]]), reading
    * each hop's edges through [[hopEdges]], partition-pruned to the
    * frontier's source buckets. The walk state stays on the driver
    * between hops ([[Similarity.graphWalk]]): the frontier is
    * ≤ numQueries·seeds·(graphK+1)^hop ids at ANY corpus size, and the
    * bucket set it maps to is ≤ min(frontier, edge_buckets).
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
    * discipline applied to the graph tier). It is the blind walk:
    * every hop expands the pairs the previous hop reached
    * ([[Similarity.blindFrontier]]).
    */
  def expandCandidates(spark: SparkSession, dir: String,
      numQueries: Int, seeds: Int, hops: Int): DataFrame = {
    val idx = loadCached(spark, dir)
    Similarity.graphExpandCandidatesFrom(idx.liveSigs.localCheckpoint(false),
      hopEdges(idx, _), numQueries, seeds, hops)
  }

  /** One hop's PRUNED edge slice `(esrc, edst)` out of the frontier
    * node `ids`: the frontier's source buckets (computed on the driver
    * — the frontier is per-query bounded at any corpus size) reach the
    * partitioned edge scan as a static `bucket IN (…)` filter, and the
    * ids themselves as a `src IN (…)` filter. Package-private so
    * GraphPruneSpec pins the SERVE path's own scan.
    */
  private[ext] def hopEdges(idx: Index, ids: Seq[Long]): DataFrame = {
    val bks = ids.map(id => Math.floorMod(id, idx.edgeBuckets.toLong).toInt)
      .distinct
    idx.liveEdges
      .filter(col("bucket").isin(bks: _*) && col("src").isin(ids: _*))
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
    * visited set `(query_id, id)`, self-hits excluded. Each hop scores
    * the visited pairs against their query by exact cosine in ONE
    * narrow pass (the pairs ride as a local relation beside the query
    * vector; only the corpus vectors stay distributed) and keeps the
    * top-ef per query on the driver under the [[Similarity.topkUdaf]]
    * order — (cs DESC, id ASC) — then expands those.
    */
  def expandCandidatesBeam(spark: SparkSession, dir: String,
      numQueries: Int, seeds: Int, hops: Int, ef: Int): DataFrame = {
    require(hops >= 1 && ef >= 1, "need at least one hop and one beam slot")
    val idx = loadCached(spark, dir)
    val v = idx.liveVectors.localCheckpoint(false)
      .select(col("id").as("vid"), col("vec"))
    val qv: Map[Long, Seq[Double]] = v.filter(col("vid") < numQueries)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val pairSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("id", LongType),
      StructField("qv", ArrayType(DoubleType, containsNull = false))))
    // per-query top-ef of the visited set by exact cosine — the beam
    def beamOf(visited: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val pairs = visited.collect {
        case (q, id) if q != id && qv.contains(q) => Row(q, id, qv(q))
      }
      spark.createDataFrame(pairs.asJava, pairSchema)
        .join(v, col("id") === col("vid"))
        .select(col("query_id"), col("id"),
          Similarity.cosine(col("qv"), col("vec")).as("cs"))
        .collect()
        .map(r => (r.getLong(0), Similarity.ScoredId(r.getDouble(2), r.getLong(1))))
        .groupMap(_._1)(_._2).toSeq
        .flatMap { case (q, cands) =>
          cands.sorted(Similarity.topKOrder).take(ef).map(c => (q, c.id)) }
    }
    Similarity.graphWalk(Similarity.graphSeeds(
        idx.liveSigs.localCheckpoint(false), numQueries, seeds),
      hops, hopEdges(idx, _))((visited, _) => beamOf(visited))
      .select(col("query_id"), col("id"))
  }
}
