package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem plumbing shared by the persisted-index writers
  * ([[AnnIndex]], [[GraphIndex]]) — all of it through the Hadoop
  * FileSystem API resolved from the path itself, so compaction works
  * on whatever filesystem build/append/delete already work on
  * (local, HDFS, object stores with a rename-capable committer), not
  * just `java.nio` local disk.
  *
  * The integrity gate lives here too, and it launches no Spark job:
  * row counts are summed from the parquet FOOTERS of the written files
  * ([[tableMeta]]), schemas are pinned from one footer instead of
  * inferred by a Spark job per `spark.read.parquet`, and the one-row
  * manifests are read on the driver ([[driverRows]]). Driver work is
  * one footer read per data file — bounded by the file count, not the
  * row count — at 0.2–0.4 ms per footer (local disk, a 160-file
  * `partitionBy` table, 4 cores). Every read takes its options from
  * the session's Hadoop conf, built once per table: parquet-mr's
  * one-argument file open and its path-based record-reader builder
  * each load a fresh Hadoop `Configuration` instead, re-parsing
  * `core-default.xml`/`core-site.xml` off the classpath at 12–14 ms
  * per file on the same table; `ParquetReadGuardSpec` keeps both out
  * of main.
  */
object IndexFiles {

  /** Swap `dir/name.parquet` for a freshly-written
    * `dir/name.compacting.parquet` via RENAME-ASIDE: the live table
    * first moves to `name.old.parquet`, the fresh table then moves
    * into place, and only then is the aside deleted. Every crash
    * window is recoverable or fail-loud:
    *
    *  - before the first rename: live table untouched, fresh table
    *    orphaned (overwritten by the next compact);
    *  - between the renames: `name.parquet` missing → load refuses,
    *    and the FULL old table still exists at `name.old.parquet`
    *    (rename it back by hand — nothing was deleted);
    *  - after the second rename: the index serves the new table; a
    *    leftover aside is cleaned up on the next swap.
    *
    * Contrast with delete-then-move: its crash window destroys the
    * only copy.
    */
  def swapIn(spark: SparkSession, dir: String, name: String): Unit = {
    val live = new Path(dir, s"$name.parquet")
    val fresh = new Path(dir, s"$name.compacting.parquet")
    val aside = new Path(dir, s"$name.old.parquet")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(aside)) fs.delete(aside, true) // prior-crash leftover
    require(fs.rename(live, aside),
      s"swap failed: could not move $live aside")
    require(fs.rename(fresh, live),
      s"swap failed: could not move $fresh into place " +
        s"(old table preserved at $aside)")
    fs.delete(aside, true)
  }

  /** What the parquet FOOTERS of one written table say, read on the
    * driver with no Spark job (the [[graft.operators.TxTable]]
    * footer-metadata discipline): the row count of every data file,
    * summed overall and per partition directory (`cell=K` → rows;
    * files at the table root key as ""), and the data schema pinned
    * from ONE footer — every file of a table written by one writer
    * shares it, which is what `spark.read.parquet` assumes too when it
    * infers from the first footer without mergeSchema.
    */
  final case class TableMeta(rows: Long, partRows: Map[String, Long],
      schema: StructType)

  /** [[TableMeta]] of `dir/name.parquet`; `label` prefixes errors
    * ("index", "graph-index"). A missing table, one with no data file,
    * or a file whose footer does not parse (a file cut short loses its
    * footer first) throws naming the table — a torn artifact fails
    * loudly, never as a short read.
    */
  def tableMeta(spark: SparkSession, dir: String, name: String,
      label: String): TableMeta = {
    val conf = spark.sessionState.newHadoopConf()
    val opts = HadoopReadOptions.builder(conf).build()
    val (root, files) =
      dataFiles(conf, s"$dir/$name.parquet", s"$label table $name")
    val footers = files.map { st =>
      val footer =
        try {
          val rd = ParquetFileReader.open(
            HadoopInputFile.fromStatus(st, conf), opts)
          try rd.getFooter finally rd.close()
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$label table $name: data file ${st.getPath} has no readable " +
              "parquet footer — truncated or corrupt artifact", e)
        }
      val part = st.getPath.getParent.toUri.getPath
        .stripPrefix(root.toUri.getPath).stripPrefix("/")
      (part, footer.getBlocks.asScala.map(_.getRowCount).sum, footer)
    }
    val fileMeta = footers.head._3.getFileMetaData
    val schema = Option(fileMeta.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(conf)
        .convert(fileMeta.getSchema))
    TableMeta(footers.map(_._2).sum,
      footers.groupMapReduce(_._1)(_._2)(_ + _), schema)
  }

  /** The data files of the table at `table`, as Spark's file index
    * would scan them: hidden (`.`/`_`-prefixed, except `k=v`
    * directories) and in-flight (`._COPYING_`) names are skipped.
    * Returns the qualified table root too. A missing table or one with
    * no data file throws naming `what`.
    */
  private def dataFiles(conf: Configuration, table: String,
      what: String): (Path, Seq[FileStatus]) = {
    val path = new Path(table)
    val fs = path.getFileSystem(conf)
    require(fs.exists(path), s"$what is missing ($path)")
    def visible(p: Path): Boolean = {
      val n = p.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    }
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter(s => visible(s.getPath)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    val files = walk(path).sortBy(_.getPath.toString)
    require(files.nonEmpty, s"$what has no data files under $path — " +
      "truncated or mixed-version artifact")
    (fs.makeQualified(path), files)
  }

  /** `dir/name.parquet` as a DataFrame with its schema pinned from one
    * footer (no schema-inference job); partition columns are still
    * discovered from the `k=v` directories, exactly as
    * `spark.read.parquet` does.
    */
  def read(spark: SparkSession, dir: String, name: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  /** An empty `dir/tombstones.parquet` with the `id` type of table
    * `from`, whose footer-pinned `schema` the caller has already read —
    * deletes append to this file, and parquet append demands an
    * identical schema.
    */
  def clearTombstones(spark: SparkSession, dir: String, from: String,
      schema: StructType): Unit =
    read(spark, dir, from, schema)
      .select(col("id")).limit(0)
      .write.mode("overwrite").parquet(s"$dir/tombstones.parquet")

  /** The integrity gate for one table: its footer row count must equal
    * the count the manifest recorded, else the named "truncated or
    * mixed-version artifact" error. Returns the table, read with the
    * footer-pinned schema — the whole check runs no Spark job.
    */
  def readChecked(spark: SparkSession, dir: String, name: String,
      want: Long, label: String): DataFrame = {
    val meta = tableMeta(spark, dir, name, label)
    require(meta.rows == want,
      s"$label table $name has ${meta.rows} rows, manifest says $want " +
        "— truncated or mixed-version artifact")
    read(spark, dir, name, meta.schema)
  }

  /** The one row of `dir/manifest.parquet`, read on the driver. */
  def manifest(spark: SparkSession, dir: String,
      label: String): Map[String, Any] = {
    val rows = driverRows(spark, s"$dir/manifest.parquet",
      s"$label table manifest")
    require(rows.size == 1, s"$label manifest at $dir has ${rows.size} " +
      "rows, expected 1 — truncated or mixed-version artifact")
    rows.head
  }

  /** Manifest field `f` as `T`; a missing field names the artifact. */
  def field[T](m: Map[String, Any], f: String, dir: String): T =
    m.getOrElse(f, throw new IllegalArgumentException(
      s"manifest at $dir has no $f — mixed-version artifact")).asInstanceOf[T]

  /** Every row of the small flat table at `table` (a manifest: one
    * row per artifact or per shard — bounded by construction), read
    * from its parquet files on the driver — no Spark job. Values are
    * boxed Int/Long/Double/Boolean/String by column name; a null cell
    * is absent from its row's map. Errors name `what`.
    */
  def driverRows(spark: SparkSession, table: String,
      what: String): Seq[Map[String, Any]] = {
    val conf = spark.sessionState.newHadoopConf()
    def fields(g: Group): Map[String, Any] = {
      val t = g.getType
      (0 until t.getFieldCount).filter(g.getFieldRepetitionCount(_) > 0)
        .map { i =>
          val v: Any = t.getType(i).asPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
            case PrimitiveTypeName.INT64 => g.getLong(i, 0)
            case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
            case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
            case PrimitiveTypeName.BINARY => g.getString(i, 0)
            case other => throw new IllegalArgumentException(
              s"$what: column ${t.getFieldName(i)} has unsupported " +
                s"type $other")
          }
          t.getFieldName(i) -> v
        }.toMap
    }
    dataFiles(conf, table, what)._2.flatMap { st =>
      val groups =
        try {
          val rd = new GroupReader(HadoopInputFile.fromStatus(st, conf)).build()
          try Iterator.continually(rd.read()).takeWhile(_ != null).toList
          finally rd.close()
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$what: data file ${st.getPath} is unreadable — truncated " +
              "or corrupt artifact", e)
        }
      groups.map(fields)
    }
  }

  /** A [[Group]] record reader over one file, configured by the
    * file's own (session) conf: this constructor takes its read
    * options from `in`'s conf, where the path-based builder first loads
    * a fresh Hadoop `Configuration` that `withConf` then replaces.
    */
  private final class GroupReader(in: InputFile)
      extends ParquetReader.Builder[Group](in) {
    override protected def getReadSupport: ReadSupport[Group] =
      new GroupReadSupport()
  }
}
