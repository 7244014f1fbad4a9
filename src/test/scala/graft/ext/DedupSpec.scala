package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.{CodegenSize, SparkSpec}
import graft.functions.{MinHashClassicSig, MinHashSig}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // A/B differ in ONE word of 36 → word-3gram Jaccard ≈ 0.92, firmly in
  // the LSH parameters' guaranteed-recall regime (s ≥ 0.9). A mid-zone
  // pair (e.g. J ≈ 0.55) would be a coin flip by design: banding at
  // b=8/r=4 only promises recall for high-similarity pairs; the report
  // threshold is enforced by exact verification, not by banding.
  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the quiet town " +
      "and every shop closes early because the annual festival starts tomorrow with music " +
      "dancing fireworks and a parade through the old market square"
  private val docA = base
  private val docB = base.replace("fireworks", "lanterns") // 1-word edit
  private val docC = "completely different content with zero overlap whatsoever here"

  private def docs3 = Seq((0L, docA), (1L, docB), (2L, docC)).toDF("doc_id", "text")

  test("wordShingleRows equals the HOF wordShingles set") {
    val viaRows = Dedup.wordShingleRows(docs3, col("doc_id"), col("text"), 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaArr = docs3
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("x"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaRows == viaArr)
  }

  test("charShingleRows equals the HOF charShingles set") {
    val viaRows = Dedup.charShingleRows(docs3, col("doc_id"), col("text"), 6)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaArr = docs3
      .select(col("doc_id"), explode(Dedup.charShingles(col("text"), 6)).as("x"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaRows == viaArr)
  }

  test("jaccard column matches hand-computed set similarity") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].collect().head
    assert(j == 2.0 / 4.0)
  }

  test("near-dup pipeline finds the 1-word edit and not the unrelated doc") {
    val pairs = Dedup.nearDupPairsNative(docs3, "doc_id", "text", 3,
        word = true, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("identical docs produce jaccard exactly 1.0") {
    val df = Seq((0L, docA), (1L, docA)).toDF("doc_id", "text")
    val out = Dedup.nearDupPairsNative(df, "doc_id", "text", 3,
        word = true, 0.9)
      .collect().head
    assert(out.getAs[Double]("jaccard") == 1.0)
  }

  test("simhashAgg equals the HOF simhash formula") {
    val viaAgg = SimHashRows.simhashAgg(
      docs3.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id", "toks")
      .as[(Long, Long)].collect().toMap
    val viaHof = docs3
      .select(col("doc_id"), Dedup.simhash(split(col("text"), " ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg == viaHof)
  }

  test("simhashPairs: near-identical docs within hamming 3, disjoint docs not paired") {
    val sh = SimHashRows.simhashAgg(
      docs3.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id", "toks")
    val all = Dedup.simhashPairs(sh, "id", "simhash", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!all.contains((0L, 2L)) && !all.contains((1L, 2L)))
    // A and B differ by 1 of 36 tokens — hamming must be small
    val hd = sh.as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(hd(0L) ^ hd(1L)) <= 3)
  }

  test("simhash fingerprints stay within 60 bits (sign-safe in both engines)") {
    val sh = SimHashRows.simhashAgg(
      docs3.select(col("doc_id"), split(col("text"), " ").as("toks")), "doc_id", "toks")
      .as[(Long, Long)].collect()
    assert(sh.forall { case (_, v) => v >= 0 && v < (1L << 60) })
  }

  test("incremental dedup drops cross-boundary exact copies, keeps " +
      "fresh content and intra-batch duplicates") {
    val docs = Seq(
      (0L, "history doc one", "en"),
      (1L, "history doc two", "en"),
      (10L, "history doc one", "en"),  // new, copies history doc 0 → drop
      (11L, "genuinely fresh text", "de"),  // new, unique → keep
      (12L, "also fresh content", "en"),    // new, dup of 13 only → keep
      (13L, "also fresh content", "en"))    // intra-batch dup → keep (both)
      .toDF("doc_id", "text", "lang")
    val survivors = Dedup.incrementalSurvivors(docs, col("doc_id") >= 10)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(11L, 12L, 13L),
      s"wrong survivors: $survivors")
  }

  test("incremental NEAR-dup pairs only across the boundary: " +
      "new-vs-history found, new-vs-new and history-vs-history ignored") {
    // docA/docB are a guaranteed-recall near-dup pair (J ≈ 0.92). Plant
    // the pair across the boundary (0 hist, 10 new) AND inside each
    // side (1,2 hist; 11,12 new): only the cross pair may emit — the
    // same-side copies land in the same LSH buckets but the
    // cross-boundary filter must drop them at the candidate stage.
    val docs = Seq(
      (0L, docA), (1L, docA), (2L, docB), // history (1,2 near-dup pair)
      (10L, docB), (11L, docA), (12L, docB), // new (11,12 near-dup pair)
      (13L, docC)) // new, unique
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDups(docs, "doc_id", "text",
      n = 3, word = true, threshold = 0.5, col("doc_id") >= 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a < 10 && b >= 10 },
      s"same-side pair leaked: $pairs")
    assert(pairs == Set((0L, 10L), (0L, 11L), (1L, 10L), (1L, 11L),
      (2L, 10L), (2L, 11L), (0L, 12L), (1L, 12L), (2L, 12L)),
      s"wrong cross pairs: $pairs")
  }

  test("incremental near-dup: a hot historical bucket cannot evict " +
      "the delta (per-side cap)") {
    // MaxBucketSize + 4 identical history docs overflow the bucket cap;
    // the single new near-dup (highest id — ids are time-monotone in
    // real ingest) must still surface. Under a shared id-sorted cap it
    // would be sliced out of every band bucket and silently ingested.
    val hist = (0L until (Dedup.MaxBucketSize + 4L)).map(i => (i, docA))
    val docs = (hist :+ ((90000L, docB))).toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDups(docs, "doc_id", "text",
      n = 3, word = true, threshold = 0.5, col("doc_id") >= 90000L)
    assert(pairs.filter(col("id_b") === 90000L).limit(1).count() == 1,
      "new doc evicted from hot bucket")
  }

  test("containment finds an embedded passage Jaccard would score low") {
    // 24 distinct-token host (22 shingles); the quote is 8 consecutive
    // tokens of it (6 shingles, all ⊂ host) → containment 1.0 but
    // Jaccard 6/22 ≈ 0.27 — below any banding threshold that keeps
    // background noise out.
    val host = (0 until 24).map(i => s"t$i").mkString(" ")
    val quote = (5 until 13).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, host), (1L, quote),
      (2L, "totally unrelated words about completely different things here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(pairs.head._3 == 1.0)
  }

  test("containment prefix filter has exact recall at extreme asymmetry") {
    // A 1-shingle quote inside a 60-token host: Jaccard ~1/58, far
    // below anything MinHash banding could surface — the prefix-filter
    // candidate tier must still find it (the smaller side's prefix IS
    // its only shingle, which the host contains).
    val words = (0 until 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, words), (1L, "w10 w11 w12"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    assert(pairs.head._3 == 1.0)
  }

  test("edit-distance pairs: in-block typo found at true distance, " +
    "cross-block and far pairs dropped") {
    val base = "shared prefix block with a body that continues on"
    val docs = Seq(
      (0L, base),
      (1L, base.replace("body", "bodi")),          // same block, dist 1
      (2L, "different start so another block entirely " + base),
      (3L, base.reverse))                          // same chars, far
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text",
      prefixLen = 8, window = 64, maxDist = 8)
      .as[(Long, Long, Int)].collect()
    // (0,3) shares the block only if the reverse kept the prefix — it
    // does not; (0,2)/(1,2) differ in block; only (0,1) survives.
    assert(pairs.toSet == Set((0L, 1L, 1)))
  }

  test("edit-distance pairs: thresholded distance equals the exact DP value") {
    val a = "aaaa bbbb cccc dddd"
    val b = "aaaa bbXb cccc dYdd" // two substitutions
    val docs = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text", 4, 64, 8)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSet == Set((0L, 1L, 2)))
  }

  test("ensureParallel fans out under-partitioned plans and leaves parallel ones alone") {
    val narrow = Seq.tabulate(100)(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text").coalesce(1)
    assert(Dedup.ensureParallel(narrow, target = 8).rdd.getNumPartitions == 8)
    // an already-parallel plan must NOT be repartitioned (at scale this
    // guard is what keeps the corpus from being shuffled just to
    // rebalance)
    val wide = spark.range(1000).repartition(8)
      .select(col("id").as("doc_id"), col("id").cast("string").as("text"))
    val kept = Dedup.ensureParallel(wide, target = 8)
    assert(kept.rdd.getNumPartitions == 8)
    assert(kept.queryExecution.logical eq wide.queryExecution.logical,
      "plan was rewritten despite sufficient parallelism")
  }

  test("simhash bucket profile cross-foots with the pair query: every " +
      "doc in every chunk position, candidates bound the verified pairs, " +
      "cap headroom positive on the fixture") {
    val profile = graft.queries.DedupQueries
      .queries("docs_simhash_bucket_profile")(spark, sfDir).collect()
    assert(profile.length == 4)
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    profile.foreach { r =>
      assert(r.getAs[Long]("n_docs") == nDocs,
        "bucket sizes per chunk must partition the corpus")
      assert(r.getAs[Long]("cap_headroom") > 0,
        "fixture buckets should sit far from the truncation cap")
      assert(r.getAs[Long]("n_colliding_buckets") > 0,
        "no collisions at all would make the audit vacuous")
    }
    // The banding can only verify pairs it bucketed: the distinct pair
    // count from the pair query is bounded by the summed candidates.
    val candidates = profile.map(_.getAs[Long]("candidate_pairs")).sum
    val verified = graft.queries.DedupQueries
      .queries("docs_simhash_pairs")(spark, sfDir).count()
    assert(verified <= candidates)
  }

  test("E203 banding recall: measured recall clears the shipped floors " +
      "and tracks the classic formula at every tau, on both configs, " +
      "over a non-vacuous graded pair population") {
    import graft.queries.DedupQueries._
    val m = Dedup.lshRecallMeasured(
      recallUniverse(graft.Tables.documents(spark, sfDir)),
      WordN, RecallTaus).collect()
    assert(m.length == RecallTaus.size * 2, "one row per (config, tau)")
    m.foreach { r =>
      val config = r.getAs[String]("config")
      val tau = r.getAs[Double]("tau")
      val recall = r.getAs[Double]("recall")
      val expected = r.getAs[Double]("expected_recall")
      info(f"$config%-9s tau=$tau%.2f n=${r.getAs[Long]("n_true_pairs")}%4d " +
        f"recall=$recall%.4f expected=$expected%.4f")
      assert(recall >= recallFloor(config, tau),
        s"$config recall $recall under floor at tau=$tau")
      assert(math.abs(recall - expected) <= RecallFormulaMargin,
        s"$config recall $recall strays from formula $expected at tau=$tau")
    }
    // non-vacuity: the graded planting must spread pairs across taus —
    // strictly fewer pairs at each higher tau
    val byTau = m.filter(_.getAs[String]("config") == "banded32")
      .sortBy(_.getAs[Double]("tau")).map(_.getAs[Long]("n_true_pairs"))
    assert(byTau.zip(byTau.tail).forall { case (a, b) => a > b },
      s"planted tiers did not grade the pair population: ${byTau.toSeq}")
    // and the sweep must include a genuinely probabilistic zone: some
    // true pair missed at the loosest tau (else the audit shows nothing
    // the exact verify would not)
    val loosest = m.find(r => r.getAs[String]("config") == "banded32" &&
      r.getAs[Double]("tau") == RecallTaus.min).get
    assert(loosest.getAs[Long]("n_caught") < loosest.getAs[Long]("n_true_pairs"),
      "every pair caught at the loosest tau — the mid-J planting is gone")
  }

  test("docs_lsh_recall on the signature kernels: both configs' band keys " +
      "equal the row chains', and the measured rows equal the row-chain " +
      "audit's") {
    import graft.queries.DedupQueries._
    val universe = recallUniverse(graft.Tables.documents(spark, sfDir))
    val rows = Dedup.wordShingleRows(universe, col("id"), col("text"), WordN)
    def bandsOf(df: DataFrame): Map[Long, Seq[String]] =
      df.as[(Long, Seq[String])].collect().toMap
    val configs = Seq(
      "banded32" -> (MinHashClassicSig(col("text"), WordN, word = true),
        MinHashRows.classicSig(rows)),
      "oph" -> (MinHashSig(col("text"), WordN, word = true),
        MinHashRows.ophSig(rows)))
    // Row-chain candidates: every pair in a band bucket, each bucket
    // sorted by id and capped at MaxBucketSize.
    val candidates = configs.map { case (name, (kernel, chain)) =>
      val native = bandsOf(
        universe.select(col("id"), Dedup.bandKeys(kernel).as("bands")))
      val viaRows = bandsOf(MinHashRows.bands(chain))
      assert(native == viaRows, s"$name band keys differ from the row chain")
      val buckets = viaRows.toSeq
        .flatMap { case (id, bs) => bs.zipWithIndex.map(b => b -> id) }
        .groupBy(_._1).values
        .map(_.map(_._2).sorted.take(Dedup.MaxBucketSize))
      name -> buckets.flatMap(_.combinations(2).map(p => (p(0), p(1)))).toSet
    }
    // Exact truth over distinct shingle hashes, all pairs, collected.
    val sets = rows.select(col("id"), xxhash64(col("x")))
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (id, hs) => id -> hs.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    val truth = for {
      a <- ids; b <- ids if a < b
      inter = (sets(a) & sets(b)).size if inter > 0
    } yield (a, b) ->
      inter.toDouble / (sets(a).size + sets(b).size - inter).toDouble
    val expected = for ((name, cands) <- candidates; tau <- RecallTaus) yield {
      val t = truth.filter(_._2 >= tau)
      (name, tau, t.size.toLong, t.count(p => cands.contains(p._1)).toLong)
    }
    val measured = Dedup.lshRecallMeasured(universe, WordN, RecallTaus)
      .select("config", "tau", "n_true_pairs", "n_caught")
      .as[(String, Double, Long, Long)].collect()
    assert(measured.toSet == expected.toSet && measured.length == expected.size)
  }

  test("lshCandidatesSig at minAgree 0 (id-only buckets) emits exactly " +
      "the agreement path's pairs") {
    import graft.queries.DedupQueries._
    val universe = recallUniverse(graft.Tables.documents(spark, sfDir))
    for (sig <- Seq(MinHashClassicSig(col("text"), WordN, word = true),
        MinHashSig(col("text"), WordN, word = true))) {
      val sigs = universe.select(col("id"), sig.as("sig"))
      val idOnly = Dedup.lshCandidatesSig(sigs, "id", col("sig"), 0)
      // every in-bucket pair agrees on its band's 4 bins, so minAgree 1
      // keeps them all — through the (id, sig) structs and the fold
      val viaAgree = Dedup.lshCandidatesSig(sigs, "id", col("sig"), 1)
      assert(idOnly.columns.toSeq == Seq("id_a", "id_b"))
      val (a, b) = (idOnly.as[(Long, Long)].collect(),
        viaAgree.as[(Long, Long)].collect())
      assert(a.nonEmpty && a.length == a.toSet.size)
      assert(a.sorted.toSeq == b.sorted.toSeq)
    }
  }

  test("docs_lsh_recall: no generated method reaches HotSpot's " +
      "8,000-byte JIT limit") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.queries.DedupQueries.queries("docs_lsh_recall")(spark, sfDir)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val sizes = plan.collect {
      case w: WholeStageCodegenExec => CodegenSize.maxMethodBytes(w)
    }
    assert(sizes.nonEmpty, s"no codegen stage:\n$plan")
    assert(sizes.forall(_ < CodegenSize.HugeMethodLimit),
      s"stage past the JIT limit: ${sizes.sorted.reverse}")
  }
}
