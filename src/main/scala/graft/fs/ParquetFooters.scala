package graft.fs

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver, with no Spark job.
  *
  * `spark.read.parquet(path)` with no schema infers one through
  * `ParquetUtils.inferSchema`, which reads a single footer in a
  * one-task `mergeSchemasInParallel` job — a job's submission, task
  * deserialization and stage wall (31–45 ms measured at 4 cores) in
  * front of every raw-table read, even of one file. [[read]] learns the
  * same schema from the same footer on the driver and hands it to the
  * reader, so the read plans with no job at all.
  */
object ParquetFooters {

  /** `spark.read.parquet(path)`, with its data schema learned on the
    * driver by [[dataSchema]]. Partition columns of a `partitionBy`
    * directory still come from Spark's partition discovery. Where
    * [[dataSchema]] leaves the choice to Spark — `mergeSchema` on, a
    * missing path, no file to read — this is the plain schema-inferring
    * read, so it merges, or fails with Spark's own exception.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    dataSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The data schema `ParquetUtils.inferSchema` infers for `path` when
    * `mergeSchema` is off, from the same one footer: list the leaf files
    * as Spark's file index does (recursing into directories, skipping
    * the names it hides), then take the first `_common_metadata`, else
    * the first `_metadata`, else the first data file by full path, and
    * convert its footer with the session's parquet conversion confs
    * (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
    * `nanosAsLong`). None when Spark must decide: the session merges
    * schemas, or no file lists under `path` (empty, missing, or a glob).
    */
  private def dataSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val leaves =
      try leafFiles(fs, fs.makeQualified(root)).sortBy(_.getPath.toString)
      catch { case _: FileNotFoundException => Nil }
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(st => !summaries(st.getPath.getName)))
      .map { st =>
        val meta = footer(st, hconf, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
          new ParquetToSparkSchemaConverter(conf))
      }
  }

  /** The footer of one parquet file, row groups kept or dropped by `filter`. */
  private[fs] def footer(st: FileStatus, hconf: Configuration,
      filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hconf), filter)

  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(st => Bridge.hiddenPathName(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st))
}
