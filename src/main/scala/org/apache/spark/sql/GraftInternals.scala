package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to package-private Column <-> Expression conversion and
  * LogicalPlan -> DataFrame construction (the standard seams for libraries
  * shipping custom Catalyst expressions and plan nodes). */
object GraftInternals {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an already-resolved logical plan (e.g. a custom node built from
    * analyzed children) as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Every field, nested ones included, made nullable: what Spark applies
    * to an inferred file schema before it builds a relation. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** `left` widened by `right` the way Spark's parquet schema merge does:
    * left's fields first, right's new fields after, nested structs merged
    * alike; incompatible types raise Spark's merge error. */
  def merge(left: types.StructType, right: types.StructType,
      caseSensitive: Boolean): types.StructType = left.merge(right, caseSensitive)

  /** Sentinel sink path reported when an active file sink's target could
    * not be resolved (neither reflection nor the `FileSink[<path>]`
    * rendering worked, e.g. after a Spark-internal refactor). Consumers
    * making destructive decisions MUST treat it as conflicting with every
    * path — the guard fails closed, not open. A real sink path equal to
    * this string (absurd, but representable) errs in the same safe
    * direction: refusal. */
  val UnresolvedSinkPath: String = "<unresolved file sink>"

  /** (sink path, resolved checkpoint root) of every ACTIVE streaming query
    * in the session that writes through a file sink. The path is read
    * reflectively from FileStreamSink's private `path` field, falling back
    * to its stable `FileSink[<path>]` rendering; if BOTH fail (a Spark
    * upgrade changed the internals), the sink is reported with
    * [[UnresolvedSinkPath]] rather than dropped — an active-writer guard
    * built on this listing must refuse, not silently disarm. Only THIS
    * session's queries are visible — writers in other JVMs must be guarded
    * by other means (e.g. modification-time grace windows). */
  def activeFileSinks(spark: SparkSession): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    spark.streams.active.toSeq
      .flatMap {
        case w: StreamingQueryWrapper => Some(w.streamingQuery)
        case s: StreamExecution => Some(s)
        case _ => None
      }
      .flatMap { se =>
        se.sink match {
          case f: FileStreamSink =>
            val reflected =
              try {
                val fld = classOf[FileStreamSink].getDeclaredField("path")
                fld.setAccessible(true)
                Option(fld.get(f)).map(_.toString)
              } catch { case scala.util.control.NonFatal(_) => None }
            val rendered = {
              val s = f.toString
              if (s.startsWith("FileSink[") && s.endsWith("]"))
                Some(s.stripPrefix("FileSink[").stripSuffix("]"))
              else None
            }
            val path = reflected.orElse(rendered).getOrElse {
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                "active FileStreamSink path unresolvable by reflection or " +
                  "rendering — reporting it as conflicting with every path")
              UnresolvedSinkPath
            }
            Some((path, se.resolvedCheckpointRoot))
          case _ => None
        }
      }
  }

  /** Committed data files of a streaming file sink, read from its
    * `_spark_metadata` manifest via Spark's own log reader (compaction
    * batches and deltas handled exactly as the sink wrote them). */
  def sinkManifestFiles(spark: SparkSession, tableUrl: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val logDir = new org.apache.hadoop.fs.Path(tableUrl, "_spark_metadata").toString
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, logDir, None)
    log.allFiles().map(_.sparkPath.toPath).toSeq
  }
}
