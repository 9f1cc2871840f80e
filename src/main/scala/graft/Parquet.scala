package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import scala.jdk.CollectionConverters._

/** The engine's one parquet reader. `spark.read.parquet` infers the data
  * schema with a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`),
  * one task even with `mergeSchema` off and a single footer to read; a
  * builder that stages and re-reads tables pays that job per read. Here
  * the footer Spark's inference would pick is read on the driver, with
  * Spark's own footer-to-schema conversion under the session's SQL conf
  * (`nanosAsLong` included), and the read gets that schema. Measured on a
  * 4-core VM: 44–56 ms and one job per read before, 5–7 ms and no job
  * after; 6 of a `curation_ingest` pass's 23 jobs were these (SCALE.md).
  * Partition discovery is untouched: partition columns are still inferred
  * from the directory names. Nothing is cached; a footer read is about a
  * millisecond and is always current for directories rewritten in place. */
object Parquet {

  /** The frame `spark.read.parquet(paths: _*)` returns, without the schema
    * job. With no data file under `paths` this is the plain read, so the
    * "Unable to infer schema" and missing-path errors are Spark's own. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, paths).headOption match {
      case None => spark.read.parquet(paths: _*)
      case Some(first) =>
        val footer = readFooter(conf, first, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Row count of the data files under `paths`: the sum of their footers'
    * row-group row counts, the same number `read(...).count()` and
    * DuckDB's `COUNT(*)` return, with no Spark job. */
  def rowCount(spark: SparkSession, paths: String*): Long = {
    val fs = files(spark, paths: _*)
    if (fs.isEmpty) spark.read.parquet(paths: _*).count() else rowGroups(spark, fs)._2
  }

  /** The data files `read(spark, paths: _*)` scans. */
  private[graft] def files(spark: SparkSession, paths: String*): Seq[FileStatus] =
    dataFiles(spark.sessionState.newHadoopConf(), paths)

  /** The number of row groups and of rows in the footers of `files`. */
  private[graft] def rowGroups(spark: SparkSession, files: Seq[FileStatus]): (Int, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val blocks = files.flatMap(f =>
      readFooter(conf, f, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala)
    (blocks.length, blocks.iterator.map(_.getRowCount).sum)
  }

  private def readFooter(conf: Configuration, f: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)

  /** The data files Spark's file index lists for `paths`, sorted by path as
    * its schema inference sorts them: a path that is a file is itself;
    * directories are walked, skipping the names Spark's listing skips
    * (`_`-prefixed ones without `=`, `.`-prefixed ones, `._COPYING_`).
    * Spark would prefer a `_common_metadata`/`_metadata` summary file;
    * nothing here writes one (Spark's default summary level is NONE).
    * Missing paths and globs contribute nothing. */
  private def dataFiles(conf: Configuration, paths: Seq[String]): Seq[FileStatus] = {
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def leaves(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator(st)
      else fs.listStatus(st.getPath).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves(fs, _))
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) leaves(fs, fs.getFileStatus(path)) else Iterator.empty
    }.sortBy(_.getPath.toString)
  }
}
