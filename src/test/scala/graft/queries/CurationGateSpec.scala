package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Behavioral invariants for the round-8 gate tier (Gopher composite
  * gate, per-domain cap, blocklist, funnel report, rate spikes) —
  * value correctness is the DuckDB oracle's job; these pin the
  * properties the flat hash comparison can't express: rule/keep
  * consistency, top-k dominance, independent-reference agreement, and
  * funnel monotonicity.
  */
class CurationGateSpec extends SparkSpec {

  test("gopher gate: keep is exactly the AND of its rules, and each " +
      "rule matches a from-scratch recomputation") {
    val rows = TextQueries.queries("docs_gopher_gate")(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = r.getAs[String]("text").split(" ", -1)
      val n = ws.length
      val chars = ws.map(_.length).sum
      val nStop = ws.count(graft.ext.TextOps.Stopwords.contains)
      val nAlpha = ws.count(_.exists(_.isLetter))
      assert(r.getAs[Boolean]("ok_len") == (n >= 20 && n <= 90))
      assert(r.getAs[Boolean]("ok_word_len") ==
        (chars >= 4 * n && chars <= 5 * n))
      assert(r.getAs[Boolean]("ok_stopword") == (nStop >= 1))
      assert(r.getAs[Boolean]("ok_alpha") == (5 * nAlpha >= 4 * n))
      assert(r.getAs[Boolean]("keep") ==
        (r.getAs[Boolean]("ok_len") && r.getAs[Boolean]("ok_word_len") &&
          r.getAs[Boolean]("ok_stopword") && r.getAs[Boolean]("ok_alpha")))
    }
    // the gate must discriminate on this fixture: neither all-pass nor
    // all-reject (a degenerate bracket would make the oracle check
    // vacuous)
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length, s"degenerate gate: $kept kept")
  }

  test("domain cap: at most K rows per source, and every kept doc's " +
      "quality dominates every dropped doc's in its source") {
    val capped = CurationQueries.queries("docs_domain_cap")(spark, sfDir)
    val perSource = capped.groupBy("source").agg(count(lit(1)).as("n"))
      .collect()
    assert(perSource.nonEmpty && perSource.forall(_.getAs[Long]("n") <= 15))

    // top-k dominance: min kept quality per source >= max quality among
    // the source's non-kept docs (ties legal: >=)
    val all = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("source"),
      graft.ext.TextOps.qualityScore(col("text")).as("quality"))
    val dropped = all.join(capped.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("source").agg(max(col("quality")).as("max_dropped"))
    val minKept = capped.groupBy("source").agg(min(col("quality")).as("min_kept"))
    val viol = minKept.join(dropped, "source")
      .filter(col("min_kept") < col("max_dropped")).count()
    assert(viol == 0, s"$viol sources keep a worse doc than one dropped")
  }

  test("blocklist: blocked flag agrees with an independent padded-" +
      "substring reference over the whole fixture") {
    val flags = CurationQueries.queries("docs_blocklist")(spark, sfDir)
    val ref = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      (Seq("slow", "stream", "big table", "fast merge")
        .map(p => concat(lit(" "), col("text"), lit(" "))
          .contains(s" $p "))
        .reduce(_ || _)).as("ref_blocked"))
    val diff = flags.join(ref, "doc_id")
      .filter(col("blocked") =!= col("ref_blocked")).count()
    assert(diff == 0, s"$diff docs disagree with the reference")
    // both hit paths must actually fire on the fixture
    val hits = flags.agg(
      sum(when(col("n_term_hits") > 0, 1).otherwise(0)).as("t"),
      sum(when(col("n_phrase_hits") > 0, 1).otherwise(0)).as("p")).head()
    assert(hits.getLong(0) > 0 && hits.getLong(1) > 0,
      s"a blocklist hit path never fired: $hits")
  }

  test("funnel report: stage counts are monotonically non-increasing " +
      "and anchored to the corpus size") {
    val r = CurationQueries.queries("docs_funnel_report")(spark, sfDir).head()
    val total = Tables.documents(spark, sfDir).count()
    val chain = Seq("n_total", "n_lang", "n_quality", "n_length",
      "n_blocklist", "n_dedup").map(c => r.getAs[Long](c))
    assert(chain.head == total)
    chain.sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b, s"funnel not monotone: $chain")
    }
    assert(chain.last > 0, "funnel drained to zero — gates degenerate")
  }

  test("rate spikes: flags match a from-scratch trailing-window " +
      "recomputation over the gap-filled hourly series") {
    val out = AnalyticsQueries.queries("events_rate_spikes")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    // independent reference: rebuild the dense hourly series per type
    // from raw events and run the integer z-test in plain Scala
    val byType = out.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[java.sql.Timestamp]("h").getTime)
      val ns = sorted.map(_.getAs[Long]("n"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val win = ns.slice(math.max(0, i - 24), i)
        val expected = if (win.length < 24) false
        else {
          val s = win.sum; val q = win.map(x => x * x).sum
          val d = 24 * ns(i) - s
          d > 0 && d * d > 9 * (24 * q - s * s)
        }
        assert(r.getAs[Boolean]("is_spike") == expected,
          s"spike flag mismatch at ${r.getAs[java.sql.Timestamp]("h")}")
        if (win.length == 24)
          assert(r.getAs[Long]("win_sum") == win.sum)
      }
    }
    // the dense spine invariant: every type covers every hour exactly once
    val types = byType.size
    assert(out.length % types == 0 &&
      byType.values.map(_.length).toSet.size == 1,
      "hourly spine is ragged across types")
  }

  test("epoch shuffle: every doc appears once, positions are dense per " +
      "shard, and a different salt is a different permutation") {
    val out = CurationQueries.queries("docs_epoch_shuffle")(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(out.count() == total)
    assert(out.select("doc_id").distinct().count() == total)
    // positions dense 1..n within each shard
    val ragged = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        min(col("pos")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1).count()
    assert(ragged == 0, "per-shard positions are not dense 1..n")
    // epoch re-shuffle: a different salt must not reproduce the order
    // (same hash domain, so a collision of the full (shard,pos)
    // assignment would mean the salt is dead)
    val other = Tables.documents(spark, sfDir).select(col("doc_id"),
      graft.ext.Curation.hashBucket(col("doc_id"), "epoch2:").as("k2"))
    val agree = out.join(other, "doc_id")
      .filter(col("sort_key") === col("k2")).count()
    assert(agree < total / 10,
      s"epoch salt barely changes the order ($agree/$total keys equal)")
  }

  test("quality qnorm: calibrated is a [0,1] percentile, monotone in " +
      "quality within each source, topping out at exactly 1") {
    val out = CurationQueries.queries("docs_quality_qnorm")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val sorted = rows.sortBy(r =>
        (r.getAs[Double]("quality"), r.getAs[Long]("doc_id")))
      val cal = sorted.map(_.getAs[Double]("calibrated"))
      assert(cal.head == 0.0 && cal.last == 1.0,
        s"$src percentile range is not [0,1]: ${cal.head}..${cal.last}")
      cal.sliding(2).foreach { case Array(a, b) =>
        assert(a <= b, s"$src calibrated not monotone in (quality, doc_id)")
      }
    }
  }

  test("mixture weights: sum to 1, preserve token-share order, and " +
      "flatten toward uniform (temperature < 1)") {
    val rows = CurationQueries.queries("docs_mixture_weights")(spark, sfDir)
      .collect()
    assert(rows.length > 1)
    val wSum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    // α=0.5 compresses the distribution: w_i > s_i ⇔ s_i < (1/Σ√s_j)²
    // (the exact fixed point of sqrt-normalization — NOT the mean
    // share; sources between the mean and this crossover are boosted
    // too). Every source strictly on either side must move the right
    // way — that redistribution is the operator's purpose.
    val cross = {
      val s = rows.map(_.getAs[Double]("raw_share"))
      val inv = 1.0 / s.map(math.sqrt).sum
      inv * inv
    }
    rows.foreach { r =>
      val share = r.getAs[Double]("raw_share")
      val w = r.getAs[Double]("weight")
      if (share < cross - 1e-6)
        assert(w > share, s"${r.getString(0)}: small source not boosted")
      if (share > cross + 1e-6)
        assert(w < share, s"${r.getString(0)}: large source not shrunk")
    }
    // order preserved: more tokens never means less weight
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens"))
    byTok.map(_.getAs[Double]("weight")).sliding(2).foreach {
      case Array(a, b) => assert(a <= b + 1e-9, "weight order inverted")
    }
  }

  test("domain blocklist: blocked is exactly membership of the " +
      "extracted domain in the list, and both verdicts fire (E261)") {
    val rows = CurationQueries.queries("docs_domain_blocklist")(spark, sfDir)
      .collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("blocked") ==
        CurationQueries.BlockDomains.contains(r.getAs[String]("domain")),
        s"doc ${r.getAs[Long]("doc_id")}: verdict disagrees with the list")
    }
    val blocked = rows.count(_.getAs[Boolean]("blocked"))
    assert(blocked > 0 && blocked < rows.length,
      "domain verdict never fires both ways")
  }

  test("quality PSI: contributions recompute from raw bin counts and " +
      "the doc-parity split is near-stable") {
    val rows = CurationQueries.queries("docs_quality_psi")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val tr = rows.map(_.getAs[Long]("n_ref")).sum
    val tc = rows.map(_.getAs[Long]("n_cur")).sum
    assert(tr + tc == Tables.documents(spark, sfDir).count())
    var psi = 0.0
    rows.foreach { r =>
      val p = (r.getAs[Long]("n_ref") + 1.0) / (tr + 10.0)
      val c = (r.getAs[Long]("n_cur") + 1.0) / (tc + 10.0)
      val expect = math.rint((c - p) * math.log(c / p) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("psi_contrib") - expect) <= 1e-6,
        s"bin ${r.getAs[Long]("bin")}: contrib != recomputation")
      psi += r.getAs[Double]("psi_contrib")
    }
    // doc_id parity is an arbitrary split of ONE corpus — PSI must sit
    // well inside the industry 'stable' band (< 0.1); a drifted value
    // here would mean the binning or share arithmetic is broken
    assert(psi >= 0.0 && psi < 0.1, s"parity-split PSI = $psi")
  }

  test("shard manifest: covers every shard and cross-foots with the " +
      "epoch shuffle's per-shard contents") {
    val manifest = CurationQueries.queries("docs_shard_manifest")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(manifest.keySet == (0L until 8L).toSet)
    assert(manifest.values.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
    // the manifest must describe EXACTLY what the shuffle emits
    val fromShuffle = CurationQueries.queries("docs_epoch_shuffle")(spark, sfDir)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ck"),
        min(col("sort_key")).as("mn"), max(col("sort_key")).as("mx"))
      .collect()
    fromShuffle.foreach { r =>
      val m = manifest(r.getAs[Long]("shard"))
      assert(m.getAs[Long]("n_docs") == r.getAs[Long]("n") &&
        m.getAs[Long]("id_checksum") == r.getAs[Long]("ck") &&
        m.getAs[Long]("min_key") == r.getAs[Long]("mn") &&
        m.getAs[Long]("max_key") == r.getAs[Long]("mx"),
        s"manifest disagrees with shuffle for shard ${r.getAs[Long]("shard")}")
    }
  }

  test("logreg calibration: ten near-equal bins covering the corpus, " +
      "mean score strictly increasing across bins") {
    val rows = TextQueries.queries("docs_logreg_calibration")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("bin"))
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("bin")).toSeq == (0L until 10L),
      s"bins not 0..9: ${rows.map(_.getAs[Long]("bin")).mkString(",")}")
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    val sizes = rows.map(_.getAs[Long]("n"))
    assert(sizes.max - sizes.min <= 1, s"decile sizes ragged: ${sizes.toSeq}")
    rows.map(_.getAs[Double]("mean_score")).sliding(2).foreach {
      case Array(a, b) => assert(a < b, "mean score not increasing by bin")
    }
    rows.foreach { r =>
      val pf = r.getAs[Double]("pos_frac")
      assert(pf >= 0.0 && pf <= 1.0)
    }
  }

  test("logreg calibration: a planted NULL-lang doc is a FALSE label, " +
      "not a dropped row (ADVICE r09 / verdict r10 #5)") {
    // Fixture planting (E194 precedent): the shipped corpus has zero
    // NULL langs, so the when/otherwise-vs-bare-cast divergence is
    // latent there — plant one and pin that the calibration still
    // covers every row and counts the planted doc as a negative.
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val planted = docs.unionByName(
      Seq((maxId + 1L, "the quick brown fox jumps over the lazy dog " * 4,
        Option.empty[String], "planted", 176L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("nulllang").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.queries("docs_logreg_calibration")(spark, dir)
      .collect()
    val n = docs.count() + 1
    assert(rows.map(_.getAs[Long]("n")).sum == n,
      "planted NULL-lang doc fell out of the calibration bins")
    val positives = rows.map(r =>
      math.round(r.getAs[Long]("n") * r.getAs[Double]("pos_frac"))).sum
    val enCount = docs.filter(col("lang") === "en").count()
    assert(positives == enCount,
      s"NULL lang counted as positive: $positives vs $enCount en docs")
    rows.foreach(r => assert(!r.isNullAt(r.fieldIndex("pos_frac"))))
  }

  test("perplexity buckets: near-equal tertiles covering every scored " +
      "doc, head strictly more probable than tail") {
    val rows = TextQueries.queries("docs_ppl_buckets")(spark, sfDir).collect()
    assert(rows.length ==
      TextQueries.queries("docs_bigram_lm")(spark, sfDir).count())
    val byBucket = rows.groupBy(_.getAs[String]("bucket"))
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    val sizes = byBucket.values.map(_.length)
    assert(sizes.max - sizes.min <= 1, s"tertiles ragged: $sizes")
    def mean(b: String) = {
      val v = byBucket(b).map(_.getAs[Double]("avg_logprob")); v.sum / v.length
    }
    assert(mean("head") > mean("middle") && mean("middle") > mean("tail"),
      "bucket order does not follow LM score")
    // every head doc scores >= every tail doc (tertiles partition the
    // sorted order; ties can only straddle adjacent buckets)
    val minHead = byBucket("head").map(_.getAs[Double]("avg_logprob")).min
    val maxTail = byBucket("tail").map(_.getAs[Double]("avg_logprob")).max
    assert(minHead >= maxTail)
  }

  test("tokenizer fertility: covers every language, with >= 1 BPE " +
      "token per word and > 1 char per token") {
    val rows = TextQueries.queries("docs_tokenizer_fertility")(spark, sfDir)
      .collect()
    val langs = Tables.documents(spark, sfDir)
      .select("lang").distinct().count()
    assert(rows.length == langs)
    rows.foreach { r =>
      assert(r.getAs[Double]("fertility") >= 1.0,
        s"${r.getString(0)}: a word split into <1 BPE token")
      assert(r.getAs[Double]("chars_per_token") > 1.0,
        s"${r.getString(0)}: chars/token <= 1 is impossible for word text")
      assert(r.getAs[Long]("n_bpe") >= r.getAs[Long]("n_words"))
    }
  }

  test("length buckets: power-of-two caps, exact slot cross-foot, " +
      "bucketed waste never exceeds naive padding") {
    val rows = CurationQueries.queries("docs_length_buckets")(spark, sfDir)
      .collect()
    assert(rows.length > 1, "one bucket would make the audit vacuous")
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val cap = r.getAs[Long]("bucket_cap")
      assert((cap & (cap - 1)) == 0, s"cap $cap not a power of two")
      val padded = r.getAs[Long]("padded_slots")
      val wasted = r.getAs[Long]("wasted_slots")
      assert(padded == cap * r.getAs[Long]("n_docs"))
      assert(wasted == padded - r.getAs[Long]("sum_tokens"))
      assert(wasted >= 0 && wasted < padded)
      assert(r.getAs[Long]("naive_wasted_slots") >= wasted,
        "padding to the global max can never waste less than bucketing")
      val frac = r.getAs[Double]("waste_frac")
      assert(frac >= 0.0 && frac < 1.0)
    }
  }

  test("priority dedup: one survivor per content group, always the " +
      "(rank, doc_id)-minimal copy, and the mirror policy fires") {
    import spark.implicits._
    val kept = CurationQueries.queries("docs_priority_dedup")(spark, sfDir)
      .collect()
    // Rebuild the mirrored universe and group it from scratch.
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val universe = base ++ base
      .filter(_._1 % CurationQueries.PriorityMirrorMod == 0)
      .map { case (id, _, t) =>
        (id + CurationQueries.PriorityMirrorOffset, "src0", t) }
    val groups = universe.groupBy(_._3)
    assert(kept.length == groups.size)
    val keptById = kept.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    groups.values.foreach { g =>
      val best = g.minBy { case (id, src, _) => (src.drop(3).toInt, id) }
      assert(keptById.get(best._1).contains(g.length.toLong),
        s"group of ${g.length} should keep doc ${best._1}")
    }
    assert(kept.count(_.getAs[Long]("doc_id") >=
      CurationQueries.PriorityMirrorOffset) > 0,
      "no mirror ever won — the priority policy was not exercised")
  }
}
