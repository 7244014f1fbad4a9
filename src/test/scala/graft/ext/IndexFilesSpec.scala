package graft.ext

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The driver-side readers of the integrity gate: [[IndexFiles.driverRows]]
  * decodes a manifest's values through the session-configured record
  * reader, and a manifest or data file cut short still fails with the
  * named "truncated or corrupt artifact" error.
  */
class IndexFilesSpec extends SparkSpec {
  import spark.implicits._

  private def manifestDir(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString
    Seq((6, 7L, 0.5, true, "codes"))
      .toDF("format_version", "n_vectors", "ratio", "ok", "table")
      .coalesce(1).write.parquet(s"$dir/manifest.parquet")
    dir
  }

  test("driverRows reads each column back as its boxed value") {
    val dir = manifestDir("ixf_rows")
    assert(IndexFiles.manifest(spark, dir, "index") == Map(
      "format_version" -> 6, "n_vectors" -> 7L, "ratio" -> 0.5,
      "ok" -> true, "table" -> "codes"))
    ArtifactFiles.deleteTree(dir)
  }

  test("driverRows on a truncated manifest file throws the named " +
      "unreadable-artifact error") {
    val dir = manifestDir("ixf_cut")
    val file = ArtifactFiles.largestDataFile(dir, "manifest")
    ArtifactFiles.cutInHalf(file)
    val e = intercept[IllegalArgumentException] {
      IndexFiles.driverRows(spark, s"$dir/manifest.parquet", "index table manifest")
    }
    assert(e.getMessage.contains(
      s"index table manifest: data file file:$file is unreadable — " +
        "truncated or corrupt artifact"), e.getMessage)
    ArtifactFiles.deleteTree(dir)
  }

  test("tableMeta sums footers per partition and names a cut file") {
    val dir = Files.createTempDirectory("ixf_meta").toString
    (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "cell")
      .repartition(2).write.partitionBy("cell").parquet(s"$dir/codes.parquet")
    val meta = IndexFiles.tableMeta(spark, dir, "codes", "index")
    assert(meta.rows == 30)
    assert(meta.partRows == Map("cell=0" -> 10L, "cell=1" -> 10L,
      "cell=2" -> 10L))
    assert(meta.schema.fieldNames.toSeq == Seq("id"))
    val file = ArtifactFiles.largestDataFile(dir, "codes")
    ArtifactFiles.cutInHalf(file)
    val e = intercept[IllegalArgumentException] {
      IndexFiles.tableMeta(spark, dir, "codes", "index")
    }
    assert(e.getMessage.contains(s"index table codes: data file file:$file " +
      "has no readable parquet footer — truncated or corrupt artifact"),
      e.getMessage)
    ArtifactFiles.deleteTree(dir)
  }

  test("a table with no data file is a truncated artifact") {
    val dir = Files.createTempDirectory("ixf_empty").toString
    Files.createDirectories(Paths.get(dir, "codes.parquet"))
    val e = intercept[IllegalArgumentException] {
      IndexFiles.tableMeta(spark, dir, "codes", "index")
    }
    assert(e.getMessage.contains("index table codes has no data files") &&
      e.getMessage.contains("truncated or mixed-version artifact"))
    ArtifactFiles.deleteTree(dir)
  }
}
