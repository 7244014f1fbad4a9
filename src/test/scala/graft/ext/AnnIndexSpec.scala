package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted-index serving contract (E260): build → persist → load →
  * search must be hash-identical to the in-memory residual IVF-PQ
  * chain, and the loader must refuse corrupted artifacts.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  private val (numSub, subDim) = (16, 4)

  test("round trip: search over the persisted artifact is row-identical " +
      "to the in-memory chain at both cutoffs") {
    val dir = Files.createTempDirectory("annidx").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val q = corpus.filter(col("id") < 10)
      .select(col("id").as("qid"), col("vec").as("qv"))
    for (k <- Seq(3, 15)) {
      val persisted = AnnIndex.searchTopK(spark, dir, q, k, 2)
      val inMem = Similarity.pqResidualIvfTopK(corpus, numSub, subDim,
        10, k, 2)
      assert(persisted.exceptAll(inMem).isEmpty,
        s"k=$k: persisted rows missing from in-memory")
      assert(inMem.exceptAll(persisted).isEmpty,
        s"k=$k: in-memory rows missing from persisted")
    }
  }

  test("loader refuses a wrong-version manifest") {
    val dir = Files.createTempDirectory("annidx_v").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val manifest = spark.read.parquet(s"$dir/manifest.parquet")
      .localCheckpoint()
    def rewrite(m: org.apache.spark.sql.DataFrame): Unit = {
      m.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/manifest.parquet")
      AnnIndex.invalidate(dir)
    }
    rewrite(manifest.withColumn("format_version", lit(99)))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir)
    }
    assert(e.getMessage.contains("format 99"))
    // a v5 artifact that carried the (removed) OPQ rotation: serving it
    // with unrotated queries would lose recall silently, so the version
    // check must refuse it before anything else is read
    rewrite(manifest.withColumn("format_version", lit(5))
      .withColumn("n_rot_rows", lit(numSub * subDim + 1L)))
    val e5 = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir)
    }
    assert(e5.getMessage.contains(
      s"has format 5, this reader speaks ${AnnIndex.FormatVersion}"))
  }

  test("loader refuses a truncated code table (manifest count mismatch)") {
    val dir = Files.createTempDirectory("annidx_t").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val truncated = spark.read.parquet(s"$dir/codes.parquet")
      .filter(col("id") % 2 === 0).collect()
    val schema = spark.read.parquet(s"$dir/codes.parquet").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(truncated.toIndexedSeq), schema)
      .write.mode("overwrite").parquet(s"$dir/codes.parquet")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir)
    }
    assert(e.getMessage.contains("codes"))
  }

  test("every table: a deleted data file and a file cut to half its " +
      "bytes both refuse to load, naming the table") {
    val dir = Files.createTempDirectory("annidx_torn").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    ArtifactFiles.assertTornTablesRefused(dir, Seq("centroids", "codebooks",
      "codes", "tombstones", "cellstats", "manifest"))(
      AnnIndex.load(spark, _))
    ArtifactFiles.deleteTree(dir)
  }

  test("footer-pinned schemas equal the schemas spark.read.parquet " +
      "infers, partition columns included") {
    val dir = Files.createTempDirectory("annidx_schema").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    for (t <- Seq("centroids", "codebooks", "codes", "tombstones",
        "cellstats", "manifest")) {
      val pinned = IndexFiles.read(spark, dir, t,
        IndexFiles.tableMeta(spark, dir, t, "index").schema).schema
      assert(pinned == spark.read.parquet(s"$dir/$t.parquet").schema, t)
    }
    ArtifactFiles.deleteTree(dir)
  }

  test("missing artifact fails loudly, not as an empty search") {
    intercept[Exception] {
      AnnIndex.load(spark, "/tmp/definitely-absent-annidx")
    }
  }

  test("session caches key on a per-session token: a second session " +
      "gets its own load; invalidate drops every session (r16 ADVICE)") {
    val dir = Files.createTempDirectory("annidx_sess").toString
    AnnIndex.build(corpus, numSub, subDim, dir)
    val s2 = spark.newSession()
    val i1 = AnnIndex.loadCached(spark, dir)
    val i1again = AnnIndex.loadCached(spark, dir)
    val i2 = AnnIndex.loadCached(s2, dir)
    assert(i1 eq i1again, "same session re-validated instead of caching")
    assert(!(i1 eq i2), "two sessions shared one cached Index — " +
      "DataFrames bound to the wrong session")
    AnnIndex.invalidate(dir)
    val i1fresh = AnnIndex.loadCached(spark, dir)
    assert(!(i1fresh eq i1), "invalidate left a stale cached load")
  }
}
