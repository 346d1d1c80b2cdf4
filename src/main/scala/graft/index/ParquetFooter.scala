package graft.index

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftInternals, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import graft.core.Partition

/** Driver-side parquet footer reads for discovered files: no Spark job, and
  * no stat call for a file discovery listed.
  *
  * `spark.read.load(file).schema` runs a one-task Spark job to read a single
  * footer (Spark's schema inference always goes through its parallel
  * schema merge). A read that only needs the first file's schema gets the
  * same schema here from one footer read on the driver: Spark's own footer
  * reader and footer-to-schema conversion, with the SQL confs its inference
  * reads, then made nullable as Spark makes every inferred file schema. */
object ParquetFooter {

  /** The footer of one discovered file. A listed file opens from the status
    * its listing captured; a generated name has none, so it is stat'ed. */
  def read(p: Partition, conf: Configuration,
      filter: MetadataFilter = ParquetMetadataConverter.SKIP_ROW_GROUPS): ParquetMetadata = {
    val in = p.fileStatus match {
      case Some(st) => HadoopInputFile.fromStatus(st, conf)
      case None => HadoopInputFile.fromPath(new Path(p.url), conf)
    }
    ParquetFooterReader.readFooter(in, filter)
  }

  /** The data schema Spark's inference gives a file with this footer. */
  private def sparkSchema(spark: SparkSession, path: String, footer: FileMetaData): StructType = {
    val c = spark.sessionState.conf
    // the five confs Spark's inference passes, and nothing else: the
    // SQLConf constructor would also honour the variant-annotation conf,
    // which inference leaves at its default
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
    val full = new ParquetMetadata(footer, java.util.Collections.emptyList())
    GraftInternals.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(path), full), converter))
  }

  /** The schema a read of `format` infers from its first file `first`, when
    * one footer decides it: parquet without `mergeSchema=true`. `footer` is
    * one already read for `first`. None for other formats, for a merged
    * schema, and when the footer cannot be read or converted: the caller
    * then runs Spark's inference, which raises Spark's own error for a bad
    * file. */
  def inferredSchema(
      spark: SparkSession,
      format: String,
      options: Map[String, String],
      first: Partition,
      footer: Option[FileMetaData] = None): Option[StructType] =
    if (format != "parquet" || options.get("mergeSchema").contains("true")) None
    else Try {
      val meta = footer.getOrElse(
        read(first, spark.sessionState.newHadoopConfWithOptions(options)).getFileMetaData)
      sparkSchema(spark, first.url, meta)
    }.toOption
}
