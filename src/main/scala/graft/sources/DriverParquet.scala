package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet whose schema is read from one footer on the driver.
  *
  * Spark's inference for a read without a schema starts a one-task job
  * that reads one footer (`SchemaMergeUtils.mergeSchemasInParallel`),
  * on every table or store open. This format reads the same footer
  * in-process instead: the file Spark picks (`_common_metadata`, then
  * `_metadata`, then the first data file in path order), the same footer
  * reader and the same schema converter flags. With no file it returns
  * None, so an empty directory fails with `UNABLE_TO_INFER_SCHEMA` as
  * with Spark's reader. A `mergeSchema` read keeps Spark's parallel merge. Scans,
  * plans and writes are the parent format's. */
class DriverParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    if (new ParquetOptions(options, conf).mergeSchema)
      super.inferSchema(spark, options, files)
    else {
      val sorted = files.sortBy(_.getPath.toString)
      def named(n: String) = sorted.find(_.getPath.getName == n)
      val (common, meta) = (ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(common).orElse(named(meta))
        .orElse(sorted.find(f => f.getPath.getName != common && f.getPath.getName != meta))
        .flatMap(readSchema(spark, options, conf, _))
    }
  }

  private def readSchema(spark: SparkSession, options: Map[String, String],
                         conf: SQLConf, st: FileStatus): Option[StructType] = {
    val footer =
      try Some(ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, getHadoopConf(spark, options)),
        SKIP_ROW_GROUPS))
      catch { case e: RuntimeException =>
        if (new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles) None
        else throw new SparkException("FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER",
          Map("path" -> st.getPath.toString), e)
      }
    // the flags Spark's inference task passes (ParquetFileFormat
    // .mergeSchemasInParallel); the others keep their defaults there too
    footer.map(f => ParquetFileFormat.readSchemaFromFooter(
      new Footer(st.getPath, f),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)))
  }
}

object DriverParquet {
  /** The reader every parquet read in the engine goes through, in place
    * of Spark's `parquet` reader, whose schema inference starts a job:
    * `DriverParquet.read(spark).option(...).load(paths: _*)`. */
  def read(spark: SparkSession): DataFrameReader =
    spark.read.format(classOf[DriverParquet].getName)
}
