package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Partition

/** The custom Catalyst seam (SURVEY §4): a [[FileIndex]] whose file list
  * comes from graft's own hierarchical discovery (partition-grammar parsing,
  * generation, partial-evaluation pruning — all already applied), and whose
  * partition schema surfaces every discovered partition column as StringType
  * (the reference contract: values are verbatim path strings, never
  * type-inferred).
  *
  * Catalyst calls `listFiles(partitionFilters, …)` with any predicates the
  * user later put on partition columns (`df.filter($"year" === "2023")`), so
  * post-hoc partition pruning works exactly as for native tables — EXPLAIN
  * shows the pruned file count — on layouts Spark itself cannot parse
  * (value-only dirs, filename columns, date-range grammars).
  *
  * File statuses come from the discovery listing itself ([[graft.core.FileMeta]]
  * threaded through [[Partition]]) — the index performs NO per-file stat
  * RPCs. Only files whose names were *generated* (grammar pinned the
  * terminal level, so no listing ever ran) fall back to one `listStatus`
  * per distinct parent directory — batched, never one RPC per file; at
  * millions of files a serial per-file stat loop would be the driver-side
  * scan bottleneck.
  */
final class GraftFileIndex(
    spark: SparkSession,
    rootPath: Path,
    partitions: Seq[Partition],
    val partitionColumns: Seq[String]) extends FileIndex {

  private val hadoopConf = spark.sessionState.newHadoopConf()

  /** Files grouped by their partition-value assignment. */
  private lazy val groups: Seq[(Map[String, String], Array[FileStatus])] = {
    // batched fallback for generated (never-listed) file names only
    val missingParents = partitions.filter(_.meta.isEmpty)
      .map(p => new Path(p.url).getParent).distinct
    val listed: Map[String, FileStatus] =
      if (missingParents.isEmpty) Map.empty
      else {
        val fs = rootPath.getFileSystem(hadoopConf)
        missingParents.flatMap { dir =>
          GraftFileIndex.fallbackListCalls.incrementAndGet()
          try fs.listStatus(dir).toSeq.map(st => st.getPath.toString -> st)
          catch { case _: java.io.FileNotFoundException => Nil }
        }.toMap
      }
    def statusFor(p: Partition): FileStatus = p.fileStatus.getOrElse(
      listed.getOrElse(new Path(p.url).toString,
        throw new java.io.FileNotFoundException(
          s"generated path does not exist: ${p.url}")))
    partitions.groupBy(_.columns).toSeq
      .sortBy(_._2.head.url)
      .map { case (cols, ps) =>
        (cols, ps.sortBy(_.url).map(statusFor).toArray)
      }
  }

  override def rootPaths: Seq[Path] = Seq(rootPath)

  override def partitionSchema: StructType =
    StructType(partitionColumns.map(StructField(_, StringType, nullable = true)))

  private def rowFor(cols: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionColumns.map(c =>
      cols.get(c).map(UTF8String.fromString).orNull))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty || partitionColumns.isEmpty) groups
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            BoundReference(partitionColumns.indexOf(a.name), StringType, nullable = true)
        }
        val predicate = Predicate.createInterpreted(bound)
        groups.filter { case (cols, _) => predicate.eval(rowFor(cols)) }
      }
    pruned.map { case (cols, sts) => PartitionDirectory(rowFor(cols), sts) }
  }

  override def inputFiles: Array[String] = partitions.map(_.url).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = groups.map(_._2.map(_.getLen).sum).sum
}

object GraftFileIndex {
  /** Count of fallback listStatus calls (generated-name paths only) — the
    * listing-efficiency tests pin this at zero for listed trees. */
  val fallbackListCalls = new java.util.concurrent.atomic.AtomicLong(0)
}
