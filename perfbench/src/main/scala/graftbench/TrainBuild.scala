package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CurateMain
import graft.ext.{AnnIndex, Dedup, GraphIndex, Similarity}

/** `train_build`: the training-data user's three jobs, called through
  * graft's public entrypoints: `CurateMain.run` (gate, near-dup removal,
  * epoch shuffle, sharded write, manifest read-back), the PQ index build
  * + load + probe, and the graph index build + beam probe (the calls
  * `IndexMain.runPq` / `IndexMain.runGraph` make). Bound by Spark job
  * latency, not by data size.
  */
object TrainBuild {
  // The row counts of the sf0.1 `documents` and `embeddings` fixture
  // tables (5,000 documents; 2,000 64-dim vectors in 10 labels), plus
  // 10% injected near-duplicate documents.
  val Docs = 5000
  val DupShare = 0.1
  val Vectors = 2000
  // Two measured builds: a third would not fit the benchmark's time
  // budget (~20 s more per run).
  val Builds = 2
  val NumSub = 16
  val GraphK = 4
  val Ef = 4
  val K = 3
  val Entries = Seq("curate", "index_pq", "index_graph")

  /** The curate oracle: the gate, and the exact 3-word-shingle Jaccard
    * ≥ 0.5 pairs among gated documents with the larger id of each pair
    * as the one to remove. MinHash-LSH finds candidates by chance, so a
    * build may miss a pair: it must remove only droppable documents and
    * at least [[MinRecall]] of them.
    */
  final case class CurateExpect(input: Long, gated: Set[Long], droppable: Set[Long], pairs: Long)
  val MinRecall = 0.95

  def curateExpect(docs: Seq[TrainGen.Doc]): CurateExpect = {
    val stop = Set("the", "a", "of", "and", "to", "in")
    def quality(toks: Array[String]): Double = {
      val n = toks.length.toDouble
      val len = math.min(n / 50.0, 1.0)
      val sw = toks.count(stop).toDouble / n
      BigDecimal(len * (1.0 - math.abs(sw - 0.1))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val gated = docs.filter { d =>
      val toks = d.text.split(" ")
      d.lang == "en" && toks.length >= CurateMain.MinTokens && toks.length <= CurateMain.MaxTokens &&
        quality(toks) >= CurateMain.MinQuality && !toks.exists(CurateMain.BlockTerms.contains)
    }
    val shingles = gated.map(d => d.docId -> d.text.split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
    val posting = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    shingles.foreach { case (id, sh) => sh.foreach(s => posting.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id) }
    val shared = mutable.HashMap.empty[(Long, Long), Int]
    posting.values.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) shared((s(i), s(j))) = shared.getOrElse((s(i), s(j)), 0) + 1
    }
    val pairs = shared.collect { case ((a, b), n) if n.toDouble / (shingles(a).size + shingles(b).size - n) >= 0.5 => (a, b) }
    CurateExpect(docs.size, gated.map(_.docId).toSet, pairs.map(_._2).toSet, pairs.size)
  }

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))

  def writeInputs(spark: SparkSession, docs: Seq[TrainGen.Doc], vecs: Seq[TrainGen.Vec],
                  dir: String, files: Int): Unit = {
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.nChars)), files),
      DocSchema).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(sc.parallelize(vecs.map(v => Row(v.vecId, v.embedding.toSeq, v.label)), files),
      VecSchema).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def vectors(spark: SparkSession, dir: String) =
    graft.Tables.embeddings(spark, dir).select(
      col("vec_id").as("id"), col("label").as("part"), Similarity.toDouble(col("embedding")).as("vec"))

  /** One build: the three entrypoints, each in its own span, outputs checked. */
  def build(spark: SparkSession, tr: Tracer, r: Result, in: String, out: String, n: Int,
            exp: CurateExpect, vectorCount: Long): CurateMain.Summary = {
    val s = tr.span("curate")(CurateMain.run(spark, in, s"$out/curated", s"epoch$n:"))
    r.expect("curate input", s.nInput == exp.input)
    r.expect("curate gated", s.nGated == exp.gated.size)
    r.expect("curate shards", s.nShards == math.min(CurateMain.NumShards.toLong, s.nKept))
    val (pqCodes, pqServed) = tr.span("index_pq") {
      val v = vectors(spark, in)
      val dim = v.select(size(col("vec"))).head().getInt(0)
      AnnIndex.build(v, NumSub, dim / NumSub, s"$out/pq")
      val idx = AnnIndex.load(spark, s"$out/pq")
      val q = v.limit(1).select(col("id").as("qid"), col("vec").as("qv"))
      (idx.codes.count(), AnnIndex.searchTopK(spark, s"$out/pq", q, K, 2).count())
    }
    r.expect("pq codes", pqCodes == vectorCount)
    r.expect("pq probe rows", pqServed == K)
    val (gVecs, gEdges, gServed) = tr.span("index_graph") {
      val v = vectors(spark, in)
      val dim = v.select(size(col("vec"))).head().getInt(0)
      GraphIndex.build(v, dim, GraphK, s"$out/graph")
      val idx = GraphIndex.load(spark, s"$out/graph")
      val served = GraphIndex.searchTopKBeam(spark, s"$out/graph", numQueries = 1, seeds = 3, hops = 2,
        ef = Ef, k = K).count()
      (idx.vectors.count(), idx.edges.count(), served)
    }
    r.expect("graph vectors", gVecs == vectorCount)
    r.expect(s"graph edges ($gEdges)", gEdges >= vectorCount && gEdges <= vectorCount * GraphK * 2)
    r.expect("graph probe rows", gServed == K)
    // the written corpus, read back outside the timed spans
    val written = spark.read.parquet(s"$out/curated/shards").select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = exp.gated -- written
    r.expect("curate kept", s.nKept == written.size && written.subsetOf(exp.gated))
    r.expect("near-dup precision", removed.subsetOf(exp.droppable))
    r.expect(s"near-dup recall (${removed.size} of ${exp.droppable.size})",
      removed.size >= MinRecall * exp.droppable.size)
    val m = spark.read.parquet(s"$out/curated/manifest").agg(sum("n_docs"), sum("id_checksum")).head()
    r.expect("manifest docs", m.getLong(0) == written.size)
    r.expect("manifest id checksum", m.getLong(1) == written.sum)
    s
  }

  def run(o: Opts, tr: Tracer, r: Result): Unit = {
    val docs = TrainGen.documents(o.seed, Docs, DupShare)
    val vecs = TrainGen.embeddings(o.seed, Vectors)
    val exp = curateExpect(docs)
    Main.log("inputs generated")
    val in = s"${o.work}/train"

    // Set-up, five times: session start and a warm pass of the curation
    // gate (one job over the documents). A warm pass through the whole build would cost a
    // build's time per set-up, so the first measured build is each
    // entrypoint's first call in the process.
    var spark: SparkSession = null
    var iter = 0
    val setups = (1 to 5).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(o, s"local[${o.cores}]")
      val t1 = System.nanoTime()
      if (k == 1) writeInputs(spark, docs, vecs, in, o.cores) // input generation is not set-up
      val t2 = System.nanoTime()
      val gated = CurateMain.gate(graft.Tables.documents(spark, in)).count()
      r.expect("warm gate", gated == exp.gated.size)
      ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
    }
    r.put("setup_s", Stats.median(setups), "s")
    Main.log(s"set-up done: ${setups.mkString(", ")}")

    // The measured phase: `Builds` builds. The first is each entrypoint's
    // first call in the process, as from the command line; the second
    // runs warm. `p50_ms` is their median, so with two builds their mean.
    val heapWatch = new HeapPeak().start()
    if (o.trace) tr.attach(spark)
    var sum: CurateMain.Summary = null
    val secs = (1 to Builds).map { _ =>
      iter += 1
      sum = tr.span("build")(build(spark, tr, r, in, s"${o.work}/out$iter", iter, exp, Vectors))
      Entries.map(tr.seconds).sum
    }
    val heap = heapWatch.stopMb()
    Main.log(s"measured: ${secs.mkString(", ")} s")
    val p50 = Stats.median(secs)
    r.put("p50_ms", p50 * 1000, "ms")
    r.put("rate_per_s", (Docs * (1 + DupShare) + Vectors) / p50, "1/s")
    r.put("heap_live_peak_mb", heap, "MB")
    println(f"train_build: build_s ${secs.map(s => f"$s%.3f").mkString(" ")} (first call, then warm)")
    Entries.foreach(e => println(f"train_build: ${e}_s ${Stats.median(tr.all(e).takeRight(Builds)
      .map(s => (s.endMs - s.startMs) / 1000.0))}%.3f s (median of $Builds)"))

    if (o.trace) {
      // per-layer figures of the last (warm) traced build
      Layers.engine(r, tr, "build", o.cores)
      Entries.foreach(e => Layers.entry(r, tr, e))
      r.layer("curate.kept_ratio", sum.nKept.toDouble / sum.nGated, "ratio")
      // tracing overhead: one warm build without listeners between two
      // traced ones (the last measured build and one more); comparing it
      // with their mean cancels a steady warm-up trend
      def extraBuild(): Double = {
        iter += 1
        build(spark, tr, r, in, s"${o.work}/out$iter", iter, exp, Vectors)
        Entries.map(tr.seconds).sum
      }
      tr.detach()
      val untraced = extraBuild()
      tr.attach(spark)
      val traced = (secs.last + extraBuild()) / 2
      tr.detach()
      r.layer("trace.overhead_pct", (traced / untraced - 1) * 100, "%")
      val gated = CurateMain.gate(graft.Tables.documents(spark, in))
      val pairs = Dedup.nearDupPairsNative(gated, "doc_id", "text", n = 3, word = true, threshold = 0.5).count()
      r.expect("dedup pairs", pairs <= exp.pairs && pairs >= MinRecall * exp.pairs)
      r.layer("curate.dedup_pairs", pairs.toDouble, "count")
    }
  }
}
