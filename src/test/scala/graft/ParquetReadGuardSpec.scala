package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side parquet reads (the index integrity gate's footers and
  * manifests, the transaction log's commit stats) run once per data
  * file, so each must take its options from the session's Hadoop conf.
  * Two parquet-mr entry points build a fresh Hadoop `Configuration` on
  * every call instead, and the first read of a fresh one re-parses
  * `core-default.xml` and `core-site.xml` off the classpath — 12–14 ms
  * per footer against 0.2–0.4 ms with options built once (local disk,
  * a 160-file table, 4 cores):
  *
  *  - the one-argument `ParquetFileReader.open(inputFile)`, whose
  *    `ParquetReadOptions` come from a new `HadoopParquetConfiguration`;
  *  - `ParquetReader.builder(readSupport, path)`, which builds a new
  *    `Configuration` before `withConf` replaces it.
  *
  * This spec fails if either call appears in `src/main`. Use
  * `ParquetFileReader.open(file, HadoopReadOptions.builder(conf).build())`
  * and a `ParquetReader.Builder` constructed from a `HadoopInputFile`.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  import ParquetReadGuardSpec.violations

  test("the guard flags both fresh-Configuration calls and passes the " +
      "session-configured forms") {
    assert(violations("ParquetFileReader.open(HadoopInputFile.fromPath(p, c))")
      .nonEmpty)
    assert(violations(
      "org.apache.parquet.hadoop.ParquetFileReader\n  .open(in)").nonEmpty)
    assert(violations(
      "ParquetReader.builder(new GroupReadSupport(), st.getPath)").nonEmpty)
    assert(violations(
      "ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)")
      .isEmpty)
    assert(violations("new GroupReader(HadoopInputFile.fromStatus(st, conf))")
      .isEmpty)
    assert(violations("// ParquetFileReader.open(in) is the slow form")
      .isEmpty)
  }

  test("src/main builds no parquet reader from a fresh Hadoop Configuration") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val found = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .flatMap((p: Path) =>
        violations(Files.readString(p)).map(v => s"$p: $v"))
      .toList
    assert(found.isEmpty, found.mkString("\n"))
  }
}

object ParquetReadGuardSpec {
  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val call =
    """ParquetFileReader\s*\.\s*open\s*\(|ParquetReader\s*\.\s*builder\s*\(""".r

  /** The offending calls in `src`, comments stripped: every
    * `ParquetReader.builder(` (its one public overload is the
    * (readSupport, path) form), and every `ParquetFileReader.open(`
    * whose argument list has no top-level comma.
    */
  def violations(src: String): Seq[String] = {
    val code = comments.replaceAllIn(src, "")
    call.findAllMatchIn(code).flatMap { m =>
      var depth = 1
      var commas = 0
      var i = m.end
      while (i < code.length && depth > 0) {
        code(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ =>
        }
        i += 1
      }
      val text = code.substring(m.start, i).replaceAll("\\s+", " ")
      if (m.matched.contains("builder") || commas == 0) Some(text) else None
    }.toSeq
  }
}
