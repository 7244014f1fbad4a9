package graft.ext

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** File surgery on a persisted index artifact, for the loaders'
  * fail-loud specs: copy an artifact, then delete or cut short one
  * data file of one table behind its manifest's back.
  */
object ArtifactFiles {

  /** A fresh copy of the artifact directory `dir`. */
  def copyOf(dir: String, tag: String): String = {
    val src = Paths.get(dir)
    val dst = Files.createTempDirectory(tag)
    Files.walk(src).iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    dst.toString
  }

  /** The largest parquet data file of `table` (hidden `.crc` files and
    * `_SUCCESS` markers are not data).
    */
  def largestDataFile(dir: String, table: String): Path =
    Files.walk(Paths.get(dir, s"$table.parquet")).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .maxBy(Files.size)

  /** Keep the first half of `file`'s bytes. */
  def cutInHalf(file: Path): Unit = {
    val bytes = Files.readAllBytes(file)
    Files.write(file, bytes.take(bytes.length / 2))
  }

  def deleteTree(dir: String): Unit =
    Files.walk(Paths.get(dir)).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))

  /** For each table: a copy with its largest data file deleted must
    * make `load` throw the named "truncated or mixed-version artifact"
    * error, and a copy with that file cut to half its bytes must make
    * `load` throw an error naming the table.
    */
  def assertTornTablesRefused(base: String, tables: Seq[String])(
      load: String => Any): Unit =
    for (t <- tables) {
      val gone = copyOf(base, s"gone_$t")
      Files.delete(largestDataFile(gone, t))
      val e1 = org.scalatest.Assertions.intercept[IllegalArgumentException](
        load(gone))
      org.scalatest.Assertions.assert(
        e1.getMessage.contains(s"table $t") &&
          e1.getMessage.contains("truncated or mixed-version artifact"),
        s"deleted $t file: ${e1.getMessage}")
      deleteTree(gone)
      val cut = copyOf(base, s"cut_$t")
      cutInHalf(largestDataFile(cut, t))
      val e2 = org.scalatest.Assertions.intercept[IllegalArgumentException](
        load(cut))
      org.scalatest.Assertions.assert(e2.getMessage.contains(s"table $t"),
        s"half-cut $t file: ${e2.getMessage}")
      deleteTree(cut)
    }
}
