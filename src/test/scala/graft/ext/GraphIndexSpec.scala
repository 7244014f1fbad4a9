package graft.ext

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted graph index (E291): build → read-back → search is
  * row-identical to the in-memory chain, a truncated or wrong-version
  * artifact refuses to load, and a crashed build (no manifest) never
  * serves.
  */
class GraphIndexSpec extends SparkSpec {

  private val Dim = 64
  private val GK = 4
  private val NQ = 10
  private val Seeds = 3
  private val Hops = 3
  private val K = 5

  private def corpus = graft.Tables.embeddings(spark, sfDir).select(
    col("vec_id").as("id"), col("label").as("part"),
    Similarity.toDouble(col("embedding")).as("vec"))

  private def tempDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graphidx_$tag").toString
    sys.addShutdownHook {
      val p = Paths.get(d)
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
    }
    d
  }

  test("round trip: persisted search equals the in-memory chain " +
      "row for row") {
    val dir = tempDir("rt")
    GraphIndex.build(corpus, Dim, GK, dir)
    val persisted = GraphIndex.searchTopK(spark, dir, NQ, Seeds, Hops, K)
      .collect().map(_.toSeq).toSet
    val inMem = Similarity.graphExpandTopK(corpus, Dim, NQ, Seeds, Hops,
      GK, K).collect().map(_.toSeq).toSet
    assert(persisted.nonEmpty, "empty search — vacuous")
    assert(persisted === inMem, "round trip drifted from the in-memory chain")
  }

  test("a truncated edge table refuses to load") {
    val dir = tempDir("trunc")
    GraphIndex.build(corpus, Dim, GK, dir)
    // drop half the edges behind the manifest's back
    val half = spark.read.parquet(s"$dir/edges.parquet")
      .filter(col("src") % 2 === 0)
    half.write.mode("overwrite").parquet(s"$dir/edges_new.parquet")
    val p = Paths.get(s"$dir/edges.parquet")
    Files.walk(p).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    Files.move(Paths.get(s"$dir/edges_new.parquet"), p)
    val e = intercept[IllegalArgumentException] {
      GraphIndex.load(spark, dir)
    }
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }

  test("loader refuses a wrong-version manifest, including a v4 " +
      "artifact with the removed entry layer") {
    val dir = tempDir("ver")
    GraphIndex.build(corpus, Dim, GK, dir)
    val manifest = spark.read.parquet(s"$dir/manifest.parquet")
      .localCheckpoint()
    for ((v, m) <- Seq(
        99 -> manifest.withColumn("format_version", lit(99)),
        4 -> manifest.withColumn("format_version", lit(4))
          .withColumn("layer_mod", lit(4))
          .withColumn("n_layer_edges", lit(1L)))) {
      m.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/manifest.parquet")
      GraphIndex.invalidate(dir)
      val e = intercept[IllegalArgumentException] {
        GraphIndex.load(spark, dir)
      }
      assert(e.getMessage.contains(
        s"has format $v, this reader speaks ${GraphIndex.FormatVersion}"),
        e.getMessage)
    }
  }

  test("every table: a deleted data file and a file cut to half its " +
      "bytes both refuse to load, naming the table") {
    val dir = tempDir("torn")
    GraphIndex.build(corpus, Dim, GK, dir)
    ArtifactFiles.assertTornTablesRefused(dir,
      Seq("vectors", "sigs", "edges", "tombstones", "manifest"))(
      GraphIndex.load(spark, _))
  }

  test("a crashed build (manifest absent) never serves") {
    val dir = tempDir("crash")
    corpus.write.mode("overwrite").parquet(s"$dir/vectors.parquet")
    // no sigs/edges/manifest: the build died mid-way
    assertThrows[Exception] {
      GraphIndex.load(spark, dir)
    }
  }
}
