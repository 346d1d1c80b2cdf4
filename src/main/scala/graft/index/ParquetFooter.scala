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
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import graft.core.{Par, Partition}

/** Driver-side parquet footer reads for discovered files: no Spark job, and
  * no stat call for a file discovery listed.
  *
  * `spark.read.load(files).schema` runs a Spark job to read footers (Spark's
  * schema inference always goes through its parallel schema merge), and
  * lists and stats every path it is given. Here the same schema comes from
  * footer reads on the driver: Spark's own footer reader and
  * footer-to-schema conversion with the SQL confs its inference reads,
  * Spark's schema merge in the same file order, then made nullable as
  * Spark makes every inferred file schema. */
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

  /** The data schema Spark's inference gives a file with this footer,
    * before Spark makes it nullable. */
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
    ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(path), full), converter)
  }

  /** The schema Spark's inference gives a read of `format` over exactly
    * `files`, when their footers decide it: parquet only. Like Spark, it
    * takes the first file by path, or under `mergeSchema` (the option, else
    * the session conf) every file's schema, merged in path order. `known`
    * holds footers already read, by url. None for other formats, when
    * Spark would read summary files instead, and when a footer cannot be
    * read, converted or merged: the caller then runs Spark's inference,
    * which raises Spark's own error. */
  def inferredSchema(
      spark: SparkSession,
      format: String,
      options: Map[String, String],
      files: Seq[Partition],
      known: Map[String, FileMetaData] = Map.empty): Option[StructType] =
    if (format != "parquet") None
    else Try {
      val c = spark.sessionState.conf
      val merge = CaseInsensitiveMap(options).get("mergeSchema")
        .fold(c.isParquetSchemaMergingEnabled)(_.toBoolean)
      // respecting summaries, Spark merges only `_metadata` files, which
      // discovery never lists
      if (merge && c.isParquetSchemaRespectSummaries) None
      else {
        val sorted = files.sortBy(p => new Path(p.url).toString)
        lazy val conf = spark.sessionState.newHadoopConfWithOptions(options)
        val schemas = Par.map(if (merge) sorted else sorted.take(1)) { p =>
          sparkSchema(spark, p.url, known.getOrElse(p.url, read(p, conf).getFileMetaData))
        }
        Some(GraftInternals.asNullable(schemas.reduceLeft(
          GraftInternals.merge(_, _, c.caseSensitiveAnalysis))))
      }
    }.toOption.flatten
}
