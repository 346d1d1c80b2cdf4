package graft.api

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core._

/** A per-file read failure captured in lazy-errors mode.
  * Ref semantics: /root/reference/src/fsql/deser.py:101-117. */
final case class ReadFailure(partition: Partition, reason: String)

/** Partial result + the per-file failures that were tolerated. */
final case class RichResult(data: DataFrame, failures: Seq[ReadFailure])

/** One compaction pass's outcome (see [[Graft.compactPartitionedTable]]). */
final case class CompactionStats(
    partitionsExamined: Int,
    partitionsCompacted: Int,
    filesBefore: Long,
    filesAfter: Long,
    bytesCompacted: Long)

/** One retention-vacuum pass's outcome (see [[Graft.vacuum]]). */
final case class VacuumStats(
    stagingDirs: Int,
    compactDirs: Int,
    tempDirs: Int,
    filesRemoved: Long,
    bytesRemoved: Long,
    skippedRecent: Int)

/** One merge pass's outcome (see [[Graft.mergePartitionedTable]]). */
final case class MergeStats(
    partitionsAffected: Int,
    partitionsDeleted: Int,
    filesMoved: Int)

/** One manifest-reconcile pass's outcome (see
  * [[Graft.reconcilePartitionedSink]]). `inFlightSpared` counts
  * un-committed files younger than the grace window — possibly a live
  * writer's in-flight batch — that were left for a later pass. */
final case class ReconcileStats(
    committedFiles: Long,
    orphansDeleted: Long,
    inFlightSpared: Long = 0L)

/** No leaf files matched the query — mirrors the reference's behavior where
  * an empty concat raises (tests/test_lex_range_query.py:113-114). */
final class GraftEmptyResultException(msg: String) extends RuntimeException(msg)

/** Public facade: metastore-less partitioned-table reading on Spark.
  *
  * The whole reference surface (/root/reference/src/fsql/api.py) re-expressed
  * Spark-first: discovery + pruning happen driver-side (metadata-only; a
  * parquet read's schema is one footer read, so building it runs no Spark
  * job), then ONE relation per file format over the surviving files hands
  * them to Catalyst/Tungsten — predicate pushdown, column pruning,
  * vectorized parquet and whole-stage codegen all apply downstream of this
  * seam. Partition columns are always StringType (reference contract,
  * SURVEY §1.2).
  */
object Graft {

  // ---------------------------------------------------------------- discovery

  /** Driver-side discovery only: which leaf files + partition values match.
    *
    * `fsConf` is a PER-CALL filesystem configuration (the reference's
    * `fs=...` injection, api.py:70-76): merged over the session Hadoop conf
    * for this discovery only — the session conf is never mutated — and,
    * because Hadoop's FileSystem cache ignores conf differences, a non-empty
    * `fsConf` resolves an uncached instance (closed before returning). */
  def discover(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      fsConf: Map[String, String] = Map.empty): Seq[Partition] =
    withFs(spark, url, fsConf) { fs =>
      val qualified = fs.makeQualified(new Path(url)).toString
      Discovery.discoverPartitions(query, parser, Partition.root(qualified), fs)
    }

  /** "Fancy ls" (reference IdentityReader, deser.py:273-303): the matched
    * files + partition values as a small driver-built DataFrame. */
  /** The ONE partition-column ordering convention for driver-built frames
    * (listPartitionedTable, tableStats): first-seen discovery order. */
  private def partitionColNames(parts: Seq[Partition]): Seq[String] =
    parts.flatMap(_.columns.keys).distinct

  /** Small driver-built DataFrame (metadata results; one partition). */
  private def driverFrame(spark: SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  def listPartitionedTable(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto): DataFrame = {
    val parts = discover(spark, url, query, parser)
    val colNames = partitionColNames(parts)
    val schema = StructType(
      StructField("path", StringType, nullable = false) +:
        colNames.map(StructField(_, StringType, nullable = true)))
    val rows = parts.map { p =>
      org.apache.spark.sql.Row.fromSeq(p.url +: colNames.map(c => p.columns.getOrElse(c, null)))
    }
    driverFrame(spark, schema, rows)
  }

  /** Metadata-only table summary: one row per partition DIRECTORY with its
    * partition values, file count, and total bytes — discovery's own
    * listing already carries every number, so a 100 TB table answers "how
    * big, how fragmented, where" without reading a single data byte. The
    * natural input to a compaction plan (`n_files` high + `bytes` low ⇒
    * candidate) and to partition-balance checks before a big join; `query`
    * scopes it like any read. Sizes are null-free for listed trees;
    * generated (never-listed) file names contribute zero bytes and are
    * flagged by `sized_files < n_files`. */
  def tableStats(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      fsConf: Map[String, String] = Map.empty): DataFrame = {
    val parts = discover(spark, url, query, parser, fsConf)
    val colNames = partitionColNames(parts)
    val schema = StructType(
      StructField("dir", StringType, nullable = false) +:
        colNames.map(StructField(_, StringType, nullable = true)) :+
        StructField("n_files", org.apache.spark.sql.types.LongType, nullable = false) :+
        StructField("sized_files", org.apache.spark.sql.types.LongType, nullable = false) :+
        StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false))
    val rows = parts.groupBy(p => new Path(p.url).getParent.toString)
      .toSeq.sortBy(_._1)
      .map { case (dir, files) =>
        val cols = files.head.columns
        org.apache.spark.sql.Row.fromSeq(
          dir +: colNames.map(c => cols.getOrElse(c, null)) :+
            files.size.toLong :+
            files.count(_.meta.isDefined).toLong :+
            files.flatMap(_.meta.map(_.size)).sum)
      }
    driverFrame(spark, schema, rows)
  }

  /** Reference `FileInPartition.consume` (deser.py:279-289): open one
    * matched file and hand the stream to `callback`, closing it afterwards.
    * Pairs with [[discover]] / [[listPartitionedTable]], whose rows carry the
    * file urls. The reference's FileNotFoundError retry leg invalidates the
    * fsspec client-side listing cache and re-opens; Hadoop FileSystems keep
    * no such listing cache, so there is nothing to invalidate and a missing
    * file is simply an error (same reasoning as S19, SURVEY §8.1). */
  def openPartitionedFile[T](spark: SparkSession, path: String,
      fsConf: Map[String, String] = Map.empty)(
      callback: java.io.InputStream => T): T =
    withFs(spark, path, fsConf) { fs =>
      val in = fs.open(new Path(path))
      try callback(in) finally in.close()
    }

  /** Iterator variant: open every file matched by (query, parser) in
    * deterministic discovery order, yielding (partition, callbackResult). */
  def consumePartitionedTable[T](
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      fsConf: Map[String, String] = Map.empty)(
      callback: java.io.InputStream => T): Seq[(Partition, T)] =
    discover(spark, url, query, parser, fsConf).map { p =>
      p -> openPartitionedFile(spark, p.url, fsConf)(callback)
    }

  // ------------------------------------------------------------------- read

  /** Read a partitioned table into a DataFrame (eager error semantics:
    * unreadable file => the job fails, like the reference's default).
    *
    * `fsConf` is the per-call filesystem override (the reference's `fs=`
    * argument, api.py:70-76): Hadoop conf entries applied to THIS call's
    * discovery and scans only — e.g. alternate credentials or endpoint for
    * one read, without touching the session. Merged into the relation's
    * read options, which Spark folds into each scan's per-relation Hadoop
    * conf (`newHadoopConfWithOptions`), so executors see it too. */
  def readPartitionedTable(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "auto",
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      columns: Seq[String] = Nil,
      fsConf: Map[String, String] = Map.empty): DataFrame =
    readInternal(spark, url, query, parser, format, options ++ fsConf, schema,
      columns, lazyErrors = false, fsConf = fsConf).data

  /** Lazy-errors variant: per-file failures are collected, the readable
    * files still produce a (partial) DataFrame. Ref: deser.py:101-117. */
  def readPartitionedTableRich(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "auto",
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      columns: Seq[String] = Nil,
      fsConf: Map[String, String] = Map.empty): RichResult =
    readInternal(spark, url, query, parser, format, options ++ fsConf, schema,
      columns, lazyErrors = true, fsConf = fsConf)

  /** Read EXACTLY the files one tagged append committed (`ingest-<tag>-`
    * part names, [[graft.core.TaggedAppend]]) — the incremental-consumer
    * primitive: a downstream job processes only the batch that arrived,
    * never re-reading the table. Partition pruning (`query`) composes
    * with the tag scope; columns/schema/options behave as in
    * [[readPartitionedTable]].
    *
    * Valid only BEFORE a compaction rewrites the tag's files into
    * untagged ones (the same idempotency window as re-append/abort —
    * see TaggedAppend's scaladoc); a compacted-away tag reads as "no
    * files matched". At 100 TB this is a metadata-only scope: discovery
    * lists the same directories and the filter drops non-batch files by
    * NAME, before any scan. */
  def readTaggedBatch(
      spark: SparkSession,
      url: String,
      tag: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "auto",
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      columns: Seq[String] = Nil,
      fsConf: Map[String, String] = Map.empty): DataFrame = {
    TaggedAppend.requireSafeTag(tag)
    val prefix = TaggedAppend.filePrefix(tag)
    readInternal(spark, url, query, parser, format, options ++ fsConf, schema,
      columns, lazyErrors = false, fsConf = fsConf,
      fileFilter = name => name.startsWith(prefix)).data
  }

  // -------------------------------------------------------------- snapshots

  private def snapshotDir(root: Path) = new Path(root, "_graft_snapshots")

  /** Record a SNAPSHOT of the table's current data-file set: one listing
    * pass (discovery — metadata only), one small manifest file under
    * `<url>/_graft_snapshots/NNNNNN.manifest` holding the sorted relative
    * paths. Returns the snapshot id. Poor-man's time travel for the
    * append-mostly layouts graft writes: later appends (tagged, streamed,
    * routed) don't disturb old manifests, so a pinned reader sees a
    * STABLE table while ingest continues — the reproducibility primitive
    * a training run needs ("data as of the run's start"), without a
    * transaction log.
    *
    * Validity contract: a snapshot lives until a REWRITE invalidates its
    * files — compaction, merge, or vacuum of files it references.
    * [[readSnapshot]] checks and refuses loudly (fail closed, a silent
    * partial read would be a wrong answer). Snapshot ids are a
    * monotonically increasing counter, not wall-clock, so replays and
    * tests are deterministic. */
  def snapshot(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      fsConf: Map[String, String] = Map.empty): Int = {
    val parts = discover(spark, url, query, parser, fsConf)
    require(parts.nonEmpty, s"refusing to snapshot an empty table at $url")
    withFs(spark, url, fsConf) { fs =>
      val root = fs.makeQualified(new Path(url))
      val rootPrefix = root.toString + "/"
      val rels = parts.map { p =>
        val q = fs.makeQualified(new Path(p.url)).toString
        require(q.startsWith(rootPrefix), s"file $q outside table root $root")
        q.substring(rootPrefix.length)
      }.sorted
      val dir = snapshotDir(root)
      if (!fs.exists(dir)) fs.mkdirs(dir)
      val Manifest = """(\d{6})\.manifest""".r
      val next = fs.listStatus(dir).map(_.getPath.getName)
        .collect { case Manifest(n) => n.toInt }
        .foldLeft(0)(math.max) + 1
      val out = fs.create(new Path(dir, f"$next%06d.manifest"), false)
      try out.write(rels.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      next
    }
  }

  /** The snapshots recorded under `url`: one row per id with its file
    * count. Driver-side metadata only. */
  def listSnapshots(
      spark: SparkSession,
      url: String,
      fsConf: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    withFs(spark, url, fsConf) { fs =>
      val dir = snapshotDir(fs.makeQualified(new Path(url)))
      val Manifest = """(\d{6})\.manifest""".r
      val rows =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.map(_.getPath)
          // anchored match, same as snapshot()'s next-id scan: stray files
          // ("000001.manifest.tmp" debris) are skipped, not crashed on
          .flatMap { p =>
            p.getName match {
              case Manifest(n) =>
                Some((n.toInt, readManifest(fs, p).size.toLong))
              case _ => None
            }
          }.sortBy(_._1)
      rows.toDF("snapshot_id", "n_files")
    }
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    } finally in.close()
  }

  /** Read the table EXACTLY as of `snapshotId`: only the manifest's files,
    * with partition columns attached as usual. Files appended after the
    * snapshot are invisible; a manifest file that no longer exists (a
    * rewrite happened) fails loudly — see [[snapshot]]'s validity
    * contract. */
  def readSnapshot(
      spark: SparkSession,
      url: String,
      snapshotId: Int,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "auto",
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      columns: Seq[String] = Nil,
      fsConf: Map[String, String] = Map.empty): DataFrame = {
    val pinned: Seq[Partition] = withFs(spark, url, fsConf) { fs =>
      val root = fs.makeQualified(new Path(url))
      val mf = new Path(snapshotDir(root), f"$snapshotId%06d.manifest")
      require(fs.exists(mf), s"no snapshot $snapshotId at $url")
      val rels = readManifest(fs, mf)
      val abs = rels.map(r => new Path(root, r).toString).toSet
      val present = discover(spark, url, Q.True, parser, fsConf)
        .map(p => fs.makeQualified(new Path(p.url)).toString -> p)
      val gone = abs -- present.map(_._1)
      require(gone.isEmpty,
        s"snapshot $snapshotId is INVALID: ${gone.size} of its files were " +
          s"rewritten or removed (first: ${gone.headOption.getOrElse("")}) " +
          "— compaction/merge/vacuum invalidate older snapshots; a partial " +
          "read would silently drop rows, refusing")
      present.collect { case (q, p) if abs.contains(q) => p }
    }
    // the validation listing is the full table; scoping it by `query` on
    // each file's columns selects what a pruned discovery would list,
    // because partial-evaluation pruning is sound
    readInternal(spark, url, query, parser, format, options ++ fsConf,
      schema, columns, lazyErrors = false, fsConf = fsConf,
      listing = Some(pinned.filter(p => query.evalAll(p.columns)))).data
  }

  /** The ingest batches present under `url`: one row per tag with its
    * committed file count — what an incremental consumer polls to find
    * work. Driver-side metadata only (a listing pass, no scans); tags
    * already compacted away no longer appear, by design. */
  def listIngestTags(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto): DataFrame = {
    import spark.implicits._
    val TagName = """ingest-([A-Za-z0-9_-]+)-\d{5}\.parquet""".r
    discover(spark, url, query, parser)
      .map(p => p.url.substring(p.url.lastIndexOf('/') + 1))
      .collect { case TagName(tag) => tag }
      .groupBy(identity).toSeq
      .map { case (tag, fs) => (tag, fs.size.toLong) }
      .sortBy(_._1)
      .toDF("tag", "n_files")
  }

  /** A matched file; `footer` is the parquet footer metadata the lazy-errors
    * probe already read, so the attach reuses it instead of opening again. */
  private final case class FileEntry(path: String, format: String,
      columns: Map[String, String], meta: Option[FileMeta],
      footer: Option[org.apache.parquet.hadoop.metadata.FileMetaData] = None) {
    def partition: Partition = Partition(path, columns, meta)
  }

  private def readInternal(
      spark: SparkSession,
      url: String,
      query: PartitionQuery,
      parser: ColumnParser,
      format: String,
      options: Map[String, String],
      schema: Option[StructType],
      columns: Seq[String],
      lazyErrors: Boolean,
      fsConf: Map[String, String] = Map.empty,
      fileFilter: String => Boolean = _ => true,
      listing: Option[Seq[Partition]] = None): RichResult = {

    val parts = listing.getOrElse(discover(spark, url, query, parser, fsConf))
      .filter(p => fileFilter(p.url.substring(p.url.lastIndexOf('/') + 1)))
    if (parts.isEmpty)
      throw new GraftEmptyResultException(s"no files matched under $url for $query")
    stringPartitionValues(spark)

    val entries = parts.map(p => FileEntry(p.url, detectFormat(p.url, format), p.columns, p.meta))

    val (good, failures) =
      if (!lazyErrors) (entries, Seq.empty[ReadFailure])
      else probeAll(spark, entries, options, schema, columns)

    if (good.isEmpty) return RichResult(spark.emptyDataFrame, failures)

    // Each format's files get their own GraftFileIndex behind a
    // HadoopFsRelation (xlsx, which Spark has no file format for, gets its
    // own per-file parse), and these relations are unioned by name. A
    // single-format tree, the normal case, is one relation: ONE vectorized
    // scan for ANY layout (hive, value-only, filename columns), partition
    // columns are first-class Catalyst partition values (post-hoc filters
    // prune files in every format's scan), and plan size and build cost
    // are constant in the partition count.
    val root = withFs(spark, url, fsConf) { fs =>
      val q = fs.makeQualified(new Path(url)).toString
      if (q.endsWith("/")) q else q + "/"
    }
    val frames = good.groupBy(_.format).toSeq.sortBy(_._1)
      .map {
        case ("xlsx", files) => xlsxAttach(spark, files, schema)
        case (fmt, files) =>
          fileIndexAttach(spark, root, files, readDefaults(fmt) ++ options, schema)
      }
    // One format's inference can type a column as string where another's
    // types it otherwise; the union would widen it to the non-string type
    // and the first string that does not cast fails the first action. Such
    // a column reads as string in every format, the closest match to the
    // reference's object column (numeric widening stays the union's).
    val asString = frames.flatMap(_.schema.fields).groupBy(_.name).collect {
      case (name, fields) if fields.exists(_.dataType == StringType) &&
          fields.exists(_.dataType != StringType) => name
    }.toSet
    val df = frames
      .map { f =>
        if (!f.columns.exists(asString)) f
        else f.select(f.columns.toSeq.map { c =>
          val ref = f.col("`" + c.replace("`", "``") + "`")
          if (asString(c)) ref.cast(StringType).as(c) else ref
        }: _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))

    val projected =
      if (columns.isEmpty) df
      else {
        val partCols = good.flatMap(_.columns.keys).distinct.filterNot(columns.contains)
        df.select((columns ++ partCols).map(col): _*)
      }
    RichResult(projected, failures)
  }

  /** Build a [[graft.index.GraftFileIndex]] over one format's discovered
    * files and hand it to Catalyst as a HadoopFsRelation — one scan, native
    * partition pruning on our string partition columns (first-seen
    * discovery order), any layout. `opts` are the reader options exactly
    * as the relation gets them. Data schema comes from the user, else from
    * Spark's inference over the first file, or over every file when
    * `inferFromAll` or `mergeSchema=true`; for parquet that is footer
    * reads on the driver ([[graft.index.ParquetFooter]]), so building the
    * read runs no Spark job. */
  private def fileIndexAttach(
      spark: SparkSession,
      root: String,
      files: Seq[FileEntry],
      opts: Map[String, String],
      schema: Option[StructType],
      inferFromAll: Boolean = false): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val fmt = files.head.format
    val partitionCols = files.flatMap(_.columns.keys).distinct
    val inferFrom =
      if (inferFromAll || opts.get("mergeSchema").contains("true")) files
      else files.take(1)
    val dataSchema0 = schema
      .orElse(graft.index.ParquetFooter.inferredSchema(spark, fmt, opts,
        inferFrom.map(_.partition), inferFrom.flatMap(e => e.footer.map(e.path -> _)).toMap))
      .getOrElse(loadWith(spark, fmt, inferFrom.map(_.path), opts, None).schema)
    // a data column shadowed by a partition column would be ambiguous —
    // partition value wins (reference semantics: path value is appended)
    val dataSchema = StructType(dataSchema0.filterNot(f => partitionCols.contains(f.name)))
    val fileFormat = fmt match {
      case "parquet" =>
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      case "csv" => new org.apache.spark.sql.execution.datasources.csv.CSVFileFormat()
      case "json" => new org.apache.spark.sql.execution.datasources.json.JsonFileFormat()
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
      case other => throw new IllegalArgumentException(s"unsupported format $other")
    }
    val index = new graft.index.GraftFileIndex(
      spark, new Path(root), files.map(_.partition), partitionCols)
    val relation = HadoopFsRelation(
      index, index.partitionSchema, dataSchema, None, fileFormat, opts)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** xlsx path: one file is parsed per task ON THE EXECUTORS (driver memory
    * stays O(1 file) no matter how many workbooks the tree holds); only the
    * FIRST file is read driver-side, to learn the header that defines the
    * schema. Within a file there is nothing to distribute (the format caps
    * at ~1M rows), so the scan parallelizes across files. Values surface as
    * strings with the first row as column names (reference pd.read_excel
    * semantics, deser.py:79-95), partition columns appended, and the
    * optional user schema applied as casts. A header mismatch in a non-first
    * file fails the reading task (message preserved in the SparkException
    * cause; use lazyErrors to tolerate). */
  private def xlsxAttach(
      spark: SparkSession,
      files: Seq[FileEntry],
      schema: Option[StructType]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val sorted = files.sortBy(_.path)
    val header = {
      val fs = Discovery.fileSystemFor(sorted.head.path, conf)
      val in = fs.open(new Path(sorted.head.path))
      try graft.sources.Xlsx.read(in)._1 finally in.close()
    }
    val partCols = files.flatMap(_.columns.keys).distinct.filterNot(header.contains)
    val strSchema = StructType(
      (header ++ partCols).map(StructField(_, StringType, nullable = true)))
    val serConf = new graft.core.SerializableHadoopConf(conf)
    // ship only (path, partition values) — one task per file
    val entries = sorted.map(e => (e.path, partCols.map(c => e.columns.getOrElse(c, null))))
    val rdd = spark.sparkContext
      .parallelize(entries, entries.size)
      .flatMap { case (path, pvals) =>
        val p = new Path(path)
        val in = p.getFileSystem(serConf.value).open(p)
        val (hdr, rows) = try graft.sources.Xlsx.read(in) finally in.close()
        require(hdr == header,
          s"xlsx header mismatch in $path: $hdr vs $header (use lazyErrors to tolerate)")
        rows.iterator.map(r => org.apache.spark.sql.Row.fromSeq(r ++ pvals))
      }
    val df = spark.createDataFrame(rdd, strSchema)
    schema match {
      case None => df
      case Some(s) =>
        val typed = header.map(n => s.find(_.name == n)
          .map(f => col(n).cast(f.dataType).as(n)).getOrElse(col(n)))
        df.select(typed ++ partCols.map(col): _*)
    }
  }

  /** FAILFAST preserves the reference's eager error contract (a malformed
    * record raises rather than silently nulling); lazy-errors mode probes
    * and excludes bad files before any load, so it is unaffected. */
  private def readDefaults(fmt: String): Map[String, String] = fmt match {
    case "csv" => Map("header" -> "true", "inferSchema" -> "true", "mode" -> "FAILFAST")
    case "json" => Map("mode" -> "FAILFAST")
    case _ => Map.empty[String, String]
  }

  /** String partition values stay strings (reference contract): every read
    * turns off Spark's partition-value type inference for the session. */
  private def stringPartitionValues(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")

  private def loadWith(
      spark: SparkSession,
      fmt: String,
      paths: Seq[String],
      mergedOptions: Map[String, String],
      schema: Option[StructType]): DataFrame = {
    var reader = spark.read.format(fmt).options(mergedOptions)
    schema.foreach(s => reader = reader.schema(s))
    reader.load(paths: _*)
  }

  private def load(
      spark: SparkSession,
      fmt: String,
      paths: Seq[String],
      options: Map[String, String],
      schema: Option[StructType]): DataFrame =
    loadWith(spark, fmt, paths, readDefaults(fmt) ++ options, schema)

  /** Suffix-based format detection (reference InputFormat.from_url,
    * deser.py:78-95); xlsx is rejected with a clear message (no built-in
    * Spark source; offline env forbids spark-excel). */
  private[api] def detectFormat(url: String, forced: String): String =
    if (forced != "auto") forced
    else url.split("\\.").last.toLowerCase match {
      case "parquet" | "pq" => "parquet"
      case "csv" => "csv"
      case "json" | "jsonl" => "json"
      case "orc" => "orc" // built-in columnar source, common in Spark estates
      case "xlsx" => "xlsx"
      case other =>
        throw new IllegalArgumentException(s"cannot infer format from suffix '$other' ($url)")
    }

  /** Lazy-errors probe: can each file plausibly be read with the requested
    * format/columns? Runs driver-side on a thread pool; the per-file cost is
    * ONE metadata read, never a Spark job:
    *  - parquet: a driver-side footer read opened from the listing's file
    *    status ([[graft.index.ParquetFooter]], no stat call) → real file
    *    schema; the attach reuses the first good file's footer;
    *  - csv: open the file and parse the HEADER LINE only (full-file
    *    inference would be a full data read per probed file — the scan's
    *    schema needs inference on the FIRST file only, done at attach time);
    *  - json: schema inference must yield a non-corrupt field — with a user
    *    schema Spark's PERMISSIVE mode would silently null out a corrupt
    *    file instead of failing, hiding it from the failure list.
    * A user-supplied schema never skips the file open — a corrupt/truncated
    * file must land in `failures`, not blow up the later FAILFAST scan. */
  private def probeAll(
      spark: SparkSession,
      entries: Seq[FileEntry],
      options: Map[String, String],
      schema: Option[StructType],
      columns: Seq[String]): (Seq[FileEntry], Seq[ReadFailure]) = {
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val results = Par.map(entries) { e =>
      val outcome = Try {
        val footer =
          if (e.format != "parquet") None
          else Some(graft.index.ParquetFooter.read(e.partition, hadoopConf,
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
            .getFileMetaData)
        val fileFieldNames: Seq[String] = e.format match {
          case "parquet" =>
            import scala.jdk.CollectionConverters._
            footer.toSeq.flatMap(_.getSchema.getFields.asScala.map(_.getName))
          case "xlsx" =>
            val fs = Discovery.fileSystemFor(e.path, hadoopConf)
            val in = fs.open(new Path(e.path))
            val (hdr, _) = try graft.sources.Xlsx.read(in) finally in.close()
            hdr
          case "csv" =>
            val header = firstLine(Discovery.fileSystemFor(e.path, hadoopConf),
              new Path(e.path)).getOrElse(throw new RuntimeException("empty csv file"))
            val cells = splitCsvHeader(header, csvSep(options), csvQuote(options))
            if ((readDefaults("csv") ++ options).getOrElse("header", "true") == "true")
              cells
            else schema.map(_.fieldNames.toSeq)
              .getOrElse(cells.indices.map(i => s"_c$i"))
          case _ =>
            val inferred = load(spark, e.format, Seq(e.path), options, None).schema
            if (e.format == "json" && inferred.fieldNames.forall(_ == "_corrupt_record"))
              throw new RuntimeException("unparseable json")
            inferred.fieldNames.toSeq
        }
        // requested columns must exist in the file itself (header/footer) or
        // come from the partition path; json falls back to the user schema
        // (its inference is only a corruption check when one is supplied)
        val available =
          (if (e.format == "json") schema.map(_.fieldNames.toSeq).getOrElse(fileFieldNames)
           else fileFieldNames) ++ e.columns.keys
        val missing = columns.filterNot(available.contains)
        if (missing.nonEmpty)
          throw new RuntimeException(s"missing requested columns: ${missing.mkString(",")}")
        e.copy(footer = footer)
      }
      outcome match {
        case Success(probed) => Right(probed)
        case Failure(ex) =>
          Left(ReadFailure(Partition(e.path, e.columns), Option(ex.getMessage).getOrElse(ex.toString)))
      }
    }
    (results.collect { case Right(e) => e }, results.collect { case Left(f) => f })
  }

  /** The first line of a text file, decompressed through Hadoop's codec
    * factory when its suffix names a codec (.csv.gz, .csv.bz2, …) — read
    * raw, a compressed file's "first line" is container bytes. None for
    * an empty file. */
  private def firstLine(fs: org.apache.hadoop.fs.FileSystem, path: Path): Option[String] = {
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      fs.getConf).getCodec(path)
    val raw: java.io.InputStream = fs.open(path)
    val stream = if (codec == null) raw else codec.createInputStream(raw)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      stream, java.nio.charset.StandardCharsets.UTF_8))
    try Option(in.readLine()) finally in.close()
  }

  /** The csv separator and quote character the reader options name, with
    * Spark's defaults; an empty `quote` turns quoting off, as in Spark. */
  private def csvSep(options: Map[String, String]): String =
    options.getOrElse("sep", options.getOrElse("delimiter", ","))
  private def csvQuote(options: Map[String, String]): Char =
    options.get("quote").fold('"')(_.headOption.getOrElse('\u0000'))

  /** Minimal RFC-4180 header-line split, shared by the lazy-errors probe
    * and the compaction's csv field-count guard: honors quoted cells
    * (separator inside quotes, doubled-quote escape) so a header like
    * `"last,first",age` parses as two columns — a naive split-on-separator
    * would mis-report the requested-column check. Unquoted cells are
    * trimmed (matching the previous probe behavior). */
  private[graft] def splitCsvHeader(line: String, sep: String, quote: Char): Seq[String] = {
    val sepStr = if (sep.nonEmpty) sep else ","
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var wasQuoted = false
    def flush(): Unit = {
      out += (if (wasQuoted) cur.result() else cur.result().trim)
      cur.clear(); wasQuoted = false
    }
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == quote) {
          if (i + 1 < line.length && line.charAt(i + 1) == quote) { cur.append(quote); i += 1 }
          else quoted = false
        } else cur.append(c)
        i += 1
      }
      // separator wins over quote-open so a separator beginning with the
      // quote character still splits; full-string match so a multi-char
      // sep like "||" splits once per occurrence instead of on every
      // constituent character
      else if (line.startsWith(sepStr, i)) { flush(); i += sepStr.length }
      else if (c == quote && cur.isEmpty) { quoted = true; wasQuoted = true; i += 1 }
      else { cur.append(c); i += 1 }
    }
    flush()
    out.result()
  }

  /** Deprecated alias for readPartitionedTable (reference: read_s3_table,
    * api.py:59-67). */
  @deprecated("use readPartitionedTable", "0.1.0")
  def readS3Table(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto): DataFrame =
    readPartitionedTable(spark, url, query, parser)

  /** EnumeratedDictReader analog (reference deser.py:240-270): JSON files →
    * enumerated driver-side maps, in sorted file order with partition
    * columns merged in. JSON-only; small-result sugar, not a scan path. */
  def readJsonAsDicts(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto): Seq[(Int, Map[String, Any])] = {
    val parts = discover(spark, url, query, parser).sortBy(_.url)
    if (parts.isEmpty)
      throw new GraftEmptyResultException(s"no files matched under $url for $query")
    parts.foreach { p =>
      val fmt = detectFormat(p.url, "auto")
      require(fmt == "json", s"EnumeratedDictReader supports only json, got $fmt (${p.url})")
    }
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    stringPartitionValues(spark)
    val rows = parts.flatMap { p =>
      val df = load(spark, "json", Seq(p.url), Map.empty, None)
      df.toJSON.collect().toSeq.map { line =>
        JsonMethods.parse(line).values.asInstanceOf[Map[String, Any]] ++ p.columns
      }
    }
    rows.zipWithIndex.map { case (m, i) => (i, m) }
  }

  /** Per-protocol filesystem configuration (reference __init__.py:22-73):
    * programmatic defaults merged into the session's Hadoop conf, e.g.
    * setDefaultConfig(spark, "s3a", Map("access.key" -> ..., "endpoint" ->
    * ...)) → spark.hadoop.fs.s3a.* . */
  def setDefaultConfig(spark: SparkSession, protocol: String,
      config: Map[String, String]): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    config.foreach { case (k, v) => hc.set(s"fs.$protocol.$k", v) }
  }

  /** AWS env var → fs.s3a.* Hadoop key (reference __init__.py:28-66, which
    * maps the same variables to s3fs kwargs — minio-in-place-of-s3 via
    * AWS_ENDPOINT_URL included). */
  private val s3aEnvMapping = Seq(
    "AWS_ACCESS_KEY_ID" -> "access.key",
    "AWS_SECRET_ACCESS_KEY" -> "secret.key",
    "AWS_SESSION_TOKEN" -> "session.token",
    "AWS_ENDPOINT_URL" -> "endpoint",
    "AWS_REGION_NAME" -> "endpoint.region")

  /** Merge environment-driven filesystem defaults into the session's Hadoop
    * conf. Precedence matches the reference (env < setDefaultConfig <
    * per-call config): env values never overwrite keys that are already
    * set, and per-read `options` always win because Spark builds each
    * relation's Hadoop conf with `newHadoopConfWithOptions(options)`.
    * Invoked automatically when an s3 URL reaches the read/write path;
    * `env` is injectable for tests. */
  def applyEnvFsConfig(spark: SparkSession, protocol: String = "s3a",
      env: Map[String, String] = sys.env): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    s3aEnvMapping.foreach { case (envKey, confSuffix) =>
      val key = s"fs.$protocol.$confSuffix"
      env.get(envKey).foreach(v => if (hc.get(key) == null) hc.set(key, v))
    }
  }

  private def maybeApplyEnvConfig(spark: SparkSession, url: String): Unit =
    if (url.startsWith("s3")) applyEnvFsConfig(spark)

  // ------------------------------------------------------------------ write

  /** Write a DataFrame as a SINGLE object at `url` (reference write_object,
    * api.py:110-163): no multi-file dirs, no appends. Implemented as a
    * coalesce(1) write to a temp dir + rename of the lone part file, moved
    * in before an existing object goes ([[StagedCommit.replaceFile]]); a
    * failed rename refuses and leaves the old object readable. */
  def writeObject(
      df: DataFrame,
      url: String,
      format: String = "auto",
      options: Map[String, String] = Map.empty,
      fsConf: Map[String, String] = Map.empty): Unit = {
    val fmt = detectFormat(url, format)
    val spark = df.sparkSession
    // json orient=records/columns: the reference's write_object json branch is
    // pandas to_json (api.py:150-152), whose shapes are a records ARRAY or a
    // column->index->value OBJECT — not json-lines. Like the reference, this
    // is the small-single-object writer, so the frame is collected and
    // serialized driver-side through JsonFile (NaN → null as pandas writes
    // it, dates and timestamps as their strings); the default json path
    // below stays json-lines, Spark's native encoding (SURVEY §8.4).
    if (fmt == "json" && options.contains("orient")) {
      val names = df.schema.fieldNames
      val rows = df.collect()
      val value = options("orient") match {
        case "records" => rows.toSeq
        case "columns" =>
          scala.collection.immutable.VectorMap.from(names.indices.map(i =>
            names(i) -> scala.collection.immutable.VectorMap.from(
              rows.indices.map(idx => idx.toString -> rows(idx).get(i)))))
        case other =>
          throw new IllegalArgumentException(
            s"unsupported json orient '$other' (records|columns)")
      }
      writeRaw(spark, url, JsonFile.bytes(value), fsConf)
      return
    }
    withFs(spark, url, fsConf) { fs =>
      val target = fs.makeQualified(new Path(url))
      val tmp = StagedCommit.objectStaging(target.getParent)
      val defaults = fmt match {
        case "csv" => Map("header" -> "true")
        case _ => Map.empty[String, String]
      }
      // fsConf rides the write options too: the executor-side committer
      // folds them into its per-relation Hadoop conf
      try {
        df.coalesce(1).write.mode("overwrite")
          .options(defaults ++ options ++ fsConf).format(fmt)
          .save(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(p => p.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(s"no part file produced in $tmp"))
        StagedCommit.replaceFile(fs, part, target)
      } finally fs.delete(tmp, true)
    }
  }

  /** Run `f` against the filesystem for `url`: the cached session instance
    * normally, an uncached per-call instance (closed afterwards) when a
    * non-empty `fsConf` overrides the Hadoop conf — Hadoop's FileSystem
    * cache keys ignore conf differences, so a cached instance would leak
    * one call's credentials into the next. */
  private def withFs[T](spark: SparkSession, url: String,
      fsConf: Map[String, String])(f: org.apache.hadoop.fs.FileSystem => T): T = {
    maybeApplyEnvConfig(spark, url)
    val conf = spark.sessionState.newHadoopConf()
    fsConf.foreach { case (k, v) => conf.set(k, v) }
    val fs =
      if (fsConf.isEmpty) Discovery.fileSystemFor(url, conf)
      else Discovery.newFileSystemFor(url, conf)
    try f(fs) finally if (fsConf.nonEmpty) fs.close()
  }

  /** Z-ORDERED (Morton-curve) clustered write: the multi-dimensional
    * generalization of [[writePartitionedTable]]'s `sortBy` clustering.
    * Each of the two `zCols` is scaled to 16 bits over its observed
    * [min, max] (one aggregation), the bits interleave into a 32-bit
    * Morton key — pure codegen'd Column arithmetic — and the frame
    * range-partitions + sorts on that key, so every output file covers a
    * small SQUARE of the 2-D key space instead of a thin full-width
    * stripe. A predicate selective on EITHER column (or both) then skips
    * most files/row-groups on parquet min/max stats, where a linear sort
    * serves only its leading column — the Delta/Iceberg `OPTIMIZE
    * ZORDER BY` layout primitive on the plain-parquet data model.
    * Verify the layout with [[zoneMap]]; ZOrderSpec pins the bounded-
    * per-file-extent property for both dimensions.
    *
    * Cost at 100 TB: one extra range shuffle on the write path (the same
    * price as `sortBy`); `numFiles` sizes output files (≈ table/200 MB).
    * Ties and skew behave like any range partition (AQE balances). Null
    * z-column values sort first (scaled key 0) — they cluster together
    * rather than spraying. The bounds aggregation and the write SCAN THE
    * INPUT TWICE — persist `df` first when its lineage is expensive or
    * nondeterministic (a changing source would give the write different
    * bounds than the aggregation measured). */
  def writeZOrdered(
      df: DataFrame,
      url: String,
      zCols: Seq[String],
      numFiles: Int,
      format: String = "parquet",
      mode: String = "overwrite",
      fsConf: Map[String, String] = Map.empty): Unit = {
    require(zCols.size == 2,
      s"writeZOrdered interleaves exactly 2 columns, got ${zCols.size} " +
        "(for 1 use writePartitionedTable(sortBy); >2 dims dilute each " +
        "dimension's bits — project to the 2 most-filtered columns)")
    require(numFiles > 0, "numFiles must be positive")
    val spark = df.sparkSession
    maybeApplyEnvConfig(spark, url)
    val bounds = df.agg(
      min(col(zCols(0)).cast("double")), max(col(zCols(0)).cast("double")),
      min(col(zCols(1)).cast("double")), max(col(zCols(1)).cast("double"))).head()
    // boxed reads: an empty input (or all-null z-column) yields null
    // min/max, which must degrade to a constant key — getDouble would NPE
    // before any guard could fire
    def bound(i: Int): Option[Double] =
      if (bounds.isNullAt(i)) None else Some(bounds.getDouble(i))
    def scaled(c: String, loOpt: Option[Double], hiOpt: Option[Double]): Column =
      (loOpt, hiOpt) match {
        case (Some(lo), Some(hi)) if lo < hi =>
          least(lit(65535L), greatest(lit(0L),
            floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)
              .cast("long")))
        case _ => lit(0L) // degenerate range: every row to one key
      }
    // spread 16 bits over 32 even positions (standard Morton dilation)
    def spread(in: Column): Column = {
      var x = in
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
      x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
      x
    }
    val morton = spread(scaled(zCols(0), bound(0), bound(1)))
      .bitwiseOR(shiftleft(spread(scaled(zCols(1), bound(2), bound(3))), 1))
    require(!df.columns.contains("__z"),
      "input already has a '__z' column — rename it first")
    df.withColumn("__z", coalesce(morton, lit(0L)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.format(format).options(fsConf).mode(mode).save(url)
  }

  /** The zone map of a parquet table: per (file, row group, column) the
    * footer's min/max/null-count statistics — "what would a stats-pruned
    * scan skip" made inspectable, and the verification surface for
    * [[writeZOrdered]] / `sortBy` layouts. Driver-side metadata reads
    * only (one footer per file, parallel); `cols` restricts output.
    * Values render as strings: integral and string columns round-trip
    * exactly (the s30 gate pins parity with an independent footer
    * reader); float rendering is engine-specific, so filter to the
    * columns you audit. */
  def zoneMap(
      spark: SparkSession,
      url: String,
      cols: Seq[String] = Nil,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      fsConf: Map[String, String] = Map.empty): DataFrame = {
    import scala.jdk.CollectionConverters._
    val hadoopConf = spark.sessionState.newHadoopConf()
    fsConf.foreach { case (k, v) => hadoopConf.set(k, v) }
    val discovered = discover(spark, url, query, parser, fsConf)
    val files = discovered.filter(_.url.endsWith(".parquet")).sortBy(_.url)
    require(files.nonEmpty,
      s"zoneMap: no .parquet files under $url (matched ${discovered.size} " +
        "files total) — footer statistics exist only for parquet")
    val rows = files.flatMap { f =>
      val footer = graft.index.ParquetFooter.read(f, hadoopConf,
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      val base = f.url.substring(f.url.lastIndexOf('/') + 1)
      footer.getBlocks.asScala.zipWithIndex.flatMap {
        case (block, rg) =>
          block.getColumns.asScala.flatMap { cc =>
            val name = cc.getPath.toDotString
            if (cols.nonEmpty && !cols.contains(name)) None
            else {
              val st = cc.getStatistics
              def render(v: Any): String = v match {
                case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
                case other => String.valueOf(other)
              }
              val (mn, mx) =
                if (st == null || !st.hasNonNullValue) (null, null)
                else (render(st.genericGetMin), render(st.genericGetMax))
              Some(org.apache.spark.sql.Row(base, rg.toLong, name, mn, mx,
                if (st == null) null else Long.box(st.getNumNulls),
                block.getRowCount))
            }
          }
      }.toSeq
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("row_group", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("column", StringType, nullable = false),
      StructField("min_value", StringType, nullable = true),
      StructField("max_value", StringType, nullable = true),
      StructField("n_nulls", org.apache.spark.sql.types.LongType, nullable = true),
      StructField("n_rows", org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Raw byte-stream write (reference's StringIO/BytesIO branch). */
  def writeRaw(spark: SparkSession, url: String, bytes: Array[Byte],
      fsConf: Map[String, String] = Map.empty): Unit =
    withFs(spark, url, fsConf) { fs =>
      val out = fs.create(new Path(url), true)
      try out.write(bytes) finally out.close()
    }

  /** Write a partitioned tree the graft/fsql readers understand.
    *
    *  - `layout = "hive"`: Spark's native `partitionBy` (`col=value` dirs).
    *  - `layout = "values"`: the reference's VALUE-ONLY layout (`value`
    *    dirs, read back with `FixedColumnsParser`) — produced by a native
    *    hive write followed by one driver-side rename pass that strips the
    *    `col=` prefixes, one rename per partition DIRECTORY (O(#partitions)
    *    metadata ops; executors never re-shuffle or rewrite data). On
    *    rename-less object stores (raw S3) a directory rename copies the
    *    objects underneath — prefer hive layout there, or write to a
    *    rename-capable FS and lift. Null, empty, and '/'-containing
    *    partition values are rejected (a value-only dir cannot represent
    *    them losslessly: hive's __HIVE_DEFAULT_PARTITION__ escape has no
    *    value-layout equivalent, and a decoded '/' would nest into — or
    *    collide with — a sibling partition's directory), as is
    *    mode="append" (a second write's hive dirs would rename INTO the
    *    previous write's already-stripped value dirs).
    *
    * Partition values round-trip through hive's OWN path escaping
    * (ExternalCatalogUtils.unescapePathName on rename — NOT URL
    * form-decoding, whose '+' → space rule corrupts literal plus signs),
    * and come back as StringType on read — the reference's
    * no-dtype-guessing contract.
    *
    * `sortBy` opts into a CLUSTERED write (range-partition + in-task sort
    * on `partitionCols ++ sortBy`): files within each partition dir carry
    * disjoint sort-key ranges, so selective scans skip whole files and
    * row-groups on parquet min/max stats — the single-column analog of
    * z-ordering, worth one extra shuffle on any table that is filtered by
    * that column at 100 TB. */
  def writePartitionedTable(
      df: DataFrame,
      url: String,
      partitionCols: Seq[String],
      format: String = "parquet",
      layout: String = "hive",
      mode: String = "overwrite",
      sortBy: Seq[String] = Nil,
      fsConf: Map[String, String] = Map.empty): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(layout == "hive" || layout == "values",
      s"layout must be 'hive' or 'values', got $layout")
    val spark = df.sparkSession
    maybeApplyEnvConfig(spark, url)
    if (layout == "values") {
      require(mode != "append",
        "mode=append is not supported with layout=values (the new hive " +
          "dirs' rename targets already exist as stripped value dirs)")
      // ONE validation job: a single aggregate row with one bad-count per
      // partition column (per-column filter jobs would recompute the full
      // lineage once per column)
      val flags = partitionCols.map(c =>
        sum(when(col(c).isNull || col(c) === "" || col(c).contains("/"),
          lit(1L)).otherwise(lit(0L))).as(c))
      val row = df.select(flags: _*).head()
      val bad = partitionCols.zipWithIndex
        .filter { case (_, i) => !row.isNullAt(i) && row.getLong(i) > 0 }
        .map(_._1)
      require(bad.isEmpty,
        s"value-only layout cannot represent null/empty or '/'-containing " +
          s"partition values (columns: ${bad.mkString(", ")})")
    }
    // clustered write: range-partition on (partitionCols ++ sortBy) then
    // sort within tasks, so each hive dir's files carry DISJOINT sortBy
    // ranges and tight parquet row-group min/max stats — a later
    // `col BETWEEN a AND b` scan prunes whole files/row-groups instead of
    // reading the partition. Costs ONE extra range shuffle (plus its
    // sampling pass) at write time; read-side skipping is free forever.
    val prepared =
      if (sortBy.isEmpty) df
      else {
        // resolve like the analyzer would (case-insensitive by default) —
        // a bare .contains would reject names Spark itself accepts
        val resolver = spark.sessionState.analyzer.resolver
        val missing = sortBy.filterNot(c => df.columns.exists(resolver(_, c)))
        require(missing.isEmpty, s"sortBy columns not in schema: ${missing.mkString(", ")}")
        val cluster = (partitionCols ++ sortBy).map(col)
        df.repartitionByRange(cluster: _*).sortWithinPartitions(cluster: _*)
      }
    prepared.write.format(format).mode(mode).options(fsConf)
      .partitionBy(partitionCols: _*).save(url)
    if (layout == "values") withFs(spark, url, fsConf) { fs =>
      def strip(dir: Path, level: Int): Unit = {
        if (level < partitionCols.length) {
          val prefix = partitionCols(level) + "="
          fs.listStatus(dir).filter(_.isDirectory).foreach { st =>
            val name = st.getPath.getName
            val target =
              if (name.startsWith(prefix)) {
                val value = org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.unescapePathName(name.substring(prefix.length))
                // Path(parent, child) URI-parses the child — a ':' in the
                // value reads as a scheme ("Relative path in absolute
                // URI"); the single-string form quotes it instead
                val t = new Path(dir.toString + Path.SEPARATOR + value)
                // HDFS/local-FS rename onto an EXISTING directory moves the
                // source INSIDE it, silently nesting data one level deep —
                // possible when dynamic partitionOverwriteMode leaves prior
                // stripped value dirs in place. Fail loudly instead.
                require(!fs.exists(t),
                  s"target $t already exists (stale value dir from a prior " +
                    "write? value-only layout requires a clean target tree " +
                    "per overwritten partition)")
                require(fs.rename(st.getPath, t),
                  s"rename failed: ${st.getPath} -> $t")
                t
              } else st.getPath // already stripped (idempotent re-run)
            strip(target, level + 1)
          }
        }
      }
      strip(new Path(url), 0)
    }
  }

  /** Reconcile a streaming-sink table with its `_spark_metadata` manifest:
    * delete (or, with `dryRun=true`, just count) data files present on the
    * filesystem but never committed by
    * [[graft.streaming.Streams.writePartitionedStream]] — the orphans a
    * failed micro-batch attempt leaves behind. After a reconcile,
    * LISTING-based readers (graft discovery, non-Spark engines) see exactly
    * the manifest's exactly-once file set.
    *
    * Safe by construction: the manifest is the sink's own commit log (read
    * through Spark's log reader, compactions included), the scan is ONE
    * recursive listing, and only un-committed data files are touched —
    * metadata names (`_`/`.`) are never candidates. Run it after a crashed
    * sink restart, or periodically before handing the table to an external
    * reader.
    *
    * Active-writer safety: a RUNNING query writes micro-batch files
    * BEFORE committing them to the manifest, so a concurrent reconcile
    * would delete in-flight files the imminent commit then points at —
    * silent data loss. Two guards close that window: deleting reconciles
    * REFUSE while this session has an active file-sink query on the path
    * (`dryRun` stays available — it deletes nothing), and files modified
    * within the last `graceMs` (default 5 min) are never orphan
    * candidates, which also covers writers in OTHER sessions that the
    * active-query check cannot see; they are reported as
    * [[ReconcileStats.inFlightSpared]] and picked up by a later pass once
    * either committed or aged past the grace window. `graceMs = 0`
    * restores the unguarded behavior for tables known to have no live
    * writer anywhere. */
  def reconcilePartitionedSink(
      spark: SparkSession,
      url: String,
      dryRun: Boolean = false,
      graceMs: Long = 5L * 60 * 1000): ReconcileStats =
    withFs(spark, url, Map.empty) { fs =>
      // no per-call fsConf here ON PURPOSE: the manifest is read through
      // Spark's own FileStreamSinkLog, which resolves the log dir with the
      // SESSION Hadoop conf — a per-call override would apply to the
      // listing/deletes but NOT the manifest read, and a session-invisible
      // log dir would read as empty and condemn every committed file.
      // Deletions must never ride a half-applied configuration.
      val root = fs.makeQualified(new Path(url))
      require(fs.exists(new Path(root, "_spark_metadata")),
        s"no _spark_metadata manifest under $url — not a streaming-sink table")
      if (!dryRun) {
        val rootStr = root.toString.stripSuffix("/")
        def overlaps(p: String): Boolean = {
          val q = fs.makeQualified(new Path(p)).toString.stripSuffix("/")
          q == rootStr || q.startsWith(rootStr + "/") || rootStr.startsWith(q + "/")
        }
        val conflicting = org.apache.spark.sql.GraftInternals
          .activeFileSinks(spark)
          .filter { case (sinkPath, cpRoot) =>
            // an unresolvable sink path conflicts with EVERYTHING: the
            // guard fails closed rather than letting a Spark-internal
            // rendering change silently disarm the refusal
            sinkPath == org.apache.spark.sql.GraftInternals.UnresolvedSinkPath ||
              overlaps(sinkPath) || overlaps(cpRoot)
          }
        require(conflicting.isEmpty,
          s"refusing to reconcile $url: active streaming quer" +
            s"${if (conflicting.sizeIs > 1) "ies" else "y"} in this session " +
            s"write${if (conflicting.sizeIs > 1) "" else "s"} to it " +
            s"(${conflicting.map(_._1).mkString(", ")}) — a running sink's " +
            "in-flight files look like orphans until its next manifest " +
            "commit; stop the query or inspect with dryRun=true")
      }
      val committed = org.apache.spark.sql.GraftInternals
        .sinkManifestFiles(spark, root.toString)
        .map(p => fs.makeQualified(p).toString).toSet
      // an existing manifest with ZERO committed files means the log could
      // not be read as written (version/path mismatch) far more plausibly
      // than a sink that committed nothing — deleting every data file on
      // that evidence is exactly the catastrophe this op must not cause.
      // dryRun deletes nothing, so the read-only inspection (e.g. counting
      // a crashed-before-first-commit sink's orphans) stays available.
      require(committed.nonEmpty || dryRun,
        s"manifest under $url lists no committed files; refusing to treat " +
          "the whole table as orphans — inspect with dryRun=true or check " +
          "_spark_metadata manually")
      val rootPrefix = root.toString.stripSuffix("/") + "/"
      val cutoff = System.currentTimeMillis() - math.max(graceMs, 0L)
      val it = fs.listFiles(root, true)
      var kept = 0L
      var orphans = 0L
      var spared = 0L
      while (it.hasNext) {
        val st = it.next()
        val qualified = fs.makeQualified(st.getPath).toString
        val rel = qualified.stripPrefix(rootPrefix)
        val hidden = rel.split("/")
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
        if (!hidden) {
          if (committed.contains(qualified)) kept += 1
          else if (st.getModificationTime > cutoff) spared += 1
          else {
            orphans += 1
            if (!dryRun) fs.delete(st.getPath, false)
          }
        }
      }
      ReconcileStats(kept, orphans, spared)
    }

  // -------------------------------------------------------------- compaction

  /** Small-file compaction over a partitioned table — the table-maintenance
    * operator every streaming-ingested (or micro-batch-appended) tree needs:
    * each partition directory whose data files are smaller than one
    * `targetFileBytes`-sized file apiece is rewritten into
    * `ceil(bytes / targetFileBytes)` files.
    *
    * Scale shape (the Delta-OPTIMIZE pattern, sized for thousands of
    * partition dirs over 100 TB):
    *  - candidate selection is metadata-only: discovery already carries each
    *    listed file's size ([[graft.core.FileMeta]]), so no per-file stat
    *    RPCs and no data read happen before the rewrite set is known;
    *  - each candidate dir is rewritten by its own narrow Spark job —
    *    `read(files).coalesce(n).write` (coalesce, not repartition: no
    *    shuffle, data is decoded and re-encoded exactly once) — and up to
    *    `maxConcurrentRewrites` such jobs run at once on the scheduler, so
    *    many small partitions keep the cluster full without one giant
    *    stage's skew coupling them;
    *  - a rewrite reads the dir's files through the pass's own listing
    *    (the same file index a read builds: no re-listing, no per-file
    *    stat), and a parquet dir's merged schema comes from footers read
    *    on the driver, so the write is the dir's only Spark job;
    *  - only matching partitions are touched: `query` scopes the pass
    *    (e.g. yesterday's dirs) exactly like a scoped read.
    *
    * Commit protocol, per directory: [[StagedCommit.moveIn]] from a hidden
    * staging child, new files in before old files out. Readers listing
    * DURING a commit may see a row twice; a crash mid-commit leaves at
    * worst that duplicate window plus the staging dir, never missing rows
    * — duplicates-then-cleanup beats transient data loss.
    *
    * `options` apply to both the read and the write of the rewritten files
    * (e.g. csv `header`). Returns per-pass [[CompactionStats]]; a second
    * pass over an already-compact table is a metadata-only no-op. */
  def compactPartitionedTable(
      spark: SparkSession,
      url: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      maxConcurrentRewrites: Int = 8,
      fsConf: Map[String, String] = Map.empty): CompactionStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxConcurrentRewrites > 0, "maxConcurrentRewrites must be positive")
    val parts = discover(spark, url, query, parser, fsConf)
    val byDir = parts.groupBy(p => new Path(p.url).getParent.toString)
    withFs(spark, url, fsConf) { fs =>
      // a streaming-sink table's _spark_metadata manifest records the
      // ORIGINAL files; compaction would orphan the rewrites from the
      // manifest's point of view (and a later reconcile would delete
      // them). The caller must retire the manifest first — an explicit,
      // destructive-intent step — accepting listing-based reads from then
      // on.
      require(!fs.exists(new Path(fs.makeQualified(new Path(url)), "_spark_metadata")),
        s"$url carries a streaming-sink _spark_metadata manifest; compaction " +
          "would invalidate it (a later reconcilePartitionedSink would delete " +
          "the compacted files). Delete the manifest dir first to opt into " +
          "listing-based reads, then compact.")
      // sizes come from discovery's own listing; generated (never-listed)
      // file names fall back to ONE listStatus for their directory — still
      // O(#dirs) metadata ops, never per-file stats
      val dirStats: Map[String, (Long, Int)] = byDir.map { case (dir, files) =>
        val listed =
          if (files.forall(_.meta.isDefined)) files.flatMap(_.meta.map(_.size))
          else {
            val names = files.map(p => new Path(p.url).getName).toSet
            fs.listStatus(new Path(dir))
              .filter(st => names.contains(st.getPath.getName)).map(_.getLen).toSeq
          }
        dir -> (listed.sum, files.size)
      }
      val candidates = dirStats.toSeq.collect {
        case (dir, (bytes, nFiles))
            if nFiles > 1 && {
              val desired = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
              desired < nFiles
            } =>
          val desired = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
          (dir, bytes, nFiles, desired.toInt)
      }.sortBy(_._1)
      val filesBefore = dirStats.values.map(_._2.toLong).sum

      // csv carries no per-file schema: Spark sizes every row by the FIRST
      // file it infers from, so a dir straddling a column addition would
      // silently and PERMANENTLY drop the newer columns from the compacted
      // files. Guard: the quote-aware field count of each file's first
      // line must agree, else the dir is refused (rewrite it manually with
      // an explicit schema). Skipped under multiLine=true, where a first
      // physical line is not a record. json needs no guard: its inference
      // scans the data and unions keys, so a straddling dir rewrites under
      // the union schema (spec-pinned).
      def csvFirstLineFieldCount(file: String): Int =
        splitCsvHeader(firstLine(fs, new Path(file)).getOrElse(""),
          csvSep(options), csvQuote(options)).size

      def rewrite(dir: String, desired: Int): Int = {
        val staging = StagedCommit.compactStaging(dir)
        // mergeSchema by default for the columnar formats: a dir whose files
        // straddle a column addition (an evolving sink) must rewrite under
        // the UNION schema — first-file inference would silently and
        // permanently drop the newer column from the compacted dir
        val safety =
          if (format == "parquet" || format == "orc") Map("mergeSchema" -> "true")
          else Map.empty[String, String]
        // read through the compaction's own listing, schema inferred from
        // every file of the dir (for parquet: footers read on the driver,
        // no job) and no partition columns, so the rewritten files keep
        // exactly their own columns
        val files = byDir(dir).map(p => FileEntry(p.url, format, Map.empty, p.meta))
        fileIndexAttach(spark, dir, files, safety ++ options ++ fsConf, None, inferFromAll = true)
          .coalesce(desired)
          .write.format(format).options(options ++ fsConf)
          .mode("overwrite").save(staging.toString)
        val moved = StagedCommit.moveIn(fs, staging, new Path(dir),
          byDir(dir).map(p => new Path(p.url)))
        fs.delete(staging, true)
        moved
      }

      // refuse csv schema drift BEFORE any dir rewrites (not mid-pass,
      // where earlier dirs would already be committed)
      // Spark reader options are case-INsensitive — match them, or
      // Map("multiline" -> "true") would still trip the first-line guard
      // on records spanning physical lines
      if (format == "csv" &&
          !options.exists { case (k, v) =>
            k.equalsIgnoreCase("multiLine") && v.equalsIgnoreCase("true") }) {
        candidates.foreach { case (dir, _, _, _) =>
          val counts = byDir(dir).map(p => p.url -> csvFirstLineFieldCount(p.url))
          require(counts.map(_._2).distinct.size <= 1,
            s"csv files in $dir disagree on field count " +
              s"(${counts.map { case (f, n) => s"${new Path(f).getName}=$n" }
                .mkString(", ")}) — compacting would size every row by one " +
              "file's schema and silently drop the extra columns; rewrite " +
              "this dir manually with an explicit schema")
        }
      }
      // Close EVERY tag's idempotency window at compaction, not only the
      // rewritten dirs': a partition skipped by the size heuristic keeps
      // its files, and if their names stayed `ingest-<tag>-…` the tag
      // would remain PARTIALLY addressable — readTaggedBatch would
      // silently return the un-rewritten subset of a batch, and a
      // re-append's sweep would delete only that subset. Renaming to
      // `retired-…` makes "compaction ends all tag windows" an atomic-ish
      // per-file invariant (rename-only, same cost class as the rewrite
      // commit). The sweep deliberately lists the WHOLE table (Q.True),
      // not the compaction's `query` scope: a partition-restricted
      // maintenance pass retiring only its own slice of a tag would
      // recreate exactly the partial-addressability hazard this exists
      // to close. Runs AFTER rewrites so it never races their
      // delete-by-original-name step. A whole-table pass already holds
      // that listing: outside the dirs it rewrote (whose old files are
      // gone and whose new files carry no tag) nothing has changed.
      def retireTags(rewritten: Set[String]): Unit =
        (if (query == Q.True) parts.filterNot(p => rewritten(new Path(p.url).getParent.toString))
         else discover(spark, url, Q.True, parser, fsConf)).foreach { p =>
          val f = new Path(p.url)
          if (f.getName.startsWith("ingest-") && fs.exists(f)) {
            val dest = new Path(f.getParent, "retired-" + f.getName.stripPrefix("ingest-"))
            require(fs.rename(f, dest), s"tag retirement rename failed: $f -> $dest")
          }
        }

      if (candidates.isEmpty) {
        retireTags(Set.empty)
        CompactionStats(dirStats.size, 0, filesBefore, filesBefore, 0L)
      } else {
        // await EVERY rewrite (as Try) before surfacing any failure: a
        // fail-fast rethrow would return control while detached threads
        // keep renaming/deleting under the caller's feet, and would swallow
        // every failure but the first
        val outcomes = Par.map(candidates, maxConcurrentRewrites) {
          case (dir, _, _, desired) =>
            Try(rewrite(dir, desired)).fold(e => Left(dir -> e), Right(_))
        }
        val failures = outcomes.collect { case Left(f) => f }
        if (failures.nonEmpty) {
          val (dir, first) = failures.head
          throw new RuntimeException(
            s"compaction failed for ${failures.size}/${candidates.size} " +
              s"partition dirs (first: $dir); completed dirs are committed, " +
              "failed dirs keep their original files (stage residue is " +
              "hidden) — rerun after fixing the cause", first)
        }
        val newCounts = outcomes.collect { case Right(n) => n }
        retireTags(candidates.map(_._1).toSet)

        CompactionStats(
          partitionsExamined = dirStats.size,
          partitionsCompacted = candidates.size,
          filesBefore = filesBefore,
          filesAfter = filesBefore - candidates.map(_._3.toLong).sum + newCounts.map(_.toLong).sum,
          bytesCompacted = candidates.map(_._2).sum)
      }
    }
  }

  /** Retention vacuum: delete CRASH RESIDUE older than `olderThanMs`, as
    * [[StagedCommit.residue]] names it: the staging dir of any
    * rename-committed write that died before its commit (`stagingDirs`),
    * of a compaction rewrite (`compactDirs`), and Spark `_temporary` trees
    * (`tempDirs`). Metadata-only: one recursive listing, deletes by
    * directory unlink, never a data read.
    *
    * What it deliberately does NOT touch:
    *  - a swap's retired dir ([[StagedCommit.isRetired]]), neither swept
    *    nor descended into: after a crash it may be the complete copy;
    *  - `retired-*.parquet` files: those are LIVE DATA — compaction renames
    *    skipped tagged files to end the tag's addressability, it does not
    *    mark them garbage;
    *  - `_graft_ingest_commit_*` markers: live replay-protection state —
    *    deleting one re-opens exactly-once ingest to a double-commit on a
    *    late replay. They are O(batches) empty files; compact the index to
    *    reclaim them is the wrong trade, so they stay;
    *  - `_spark_metadata`: a streaming sink's manifest (its own contract).
    *
    * The retention contract mirrors every table-maintenance VACUUM: the
    * caller asserts no writer that started before `now − olderThanMs` is
    * still alive (a live staged write younger than that is protected by
    * the age check; one OLDER than the retention is indistinguishable from
    * a crash — that is what the retention window means). Safe default: an
    * hour dwarfs any real append/compaction; `0` is for tests. */
  def vacuum(
      spark: SparkSession,
      url: String,
      olderThanMs: Long = 3600L * 1000,
      fsConf: Map[String, String] = Map.empty): VacuumStats = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val cutoff = System.currentTimeMillis() - olderThanMs
    withFs(spark, url, fsConf) { fs =>
      val root = fs.makeQualified(new Path(url))
      val swept = collection.mutable.Map[StagedCommit.Residue.Value, Int]().withDefaultValue(0)
      var files = 0L; var bytes = 0L; var recent = 0
      def measure(p: Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) measure(st.getPath)
          else { files += 1; bytes += st.getLen }
        }
      def walk(dir: Path): Unit =
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory) {
            val name = st.getPath.getName
            StagedCommit.residue(name) match {
              case Some(kind) =>
                // inclusive: olderThanMs=0 means "any age" — a dir touched
                // in the same millisecond as the call must still sweep
                if (st.getModificationTime <= cutoff) {
                  measure(st.getPath)
                  require(fs.delete(st.getPath, true),
                    s"vacuum: failed to delete ${st.getPath}")
                  swept(kind) += 1
                } else recent += 1
              case None =>
                // descend through data dirs (incl. key=value partitions);
                // other hidden/system trees and retired copies are left
                // alone, unvisited
                if (!name.startsWith(".") && !name.startsWith("_") &&
                    !StagedCommit.isRetired(name)) walk(st.getPath)
            }
          }
        }
      if (fs.exists(root)) walk(root)
      import StagedCommit.Residue._
      VacuumStats(swept(Staging), swept(Compaction), swept(SparkTemporary), files, bytes, recent)
    }
  }

  /** MERGE INTO (upsert + delete) against a hive-partitioned table,
    * rewriting ONLY the partitions the delta touches.
    *
    * Semantics (per key, where the key MUST contain every partition
    * column — enforced, because a key that can move between partitions
    * would require a full-table scan or a key index to find its old home):
    *  - a target row whose key matches a delta row is REPLACED by it;
    *  - a delta row with no matching target key is INSERTED;
    *  - if `deleteCol` is set, delta rows with that boolean true are
    *    tombstones: matching target keys are deleted, nothing inserted.
    *
    * Shape, built for 100 TB tables with small-fraction deltas: the
    * touched-partition list (one `distinct` over the delta's partition
    * columns — driver-bounded by the number of touched DIRS, the same
    * cardinality the swap loop walks) prunes discovery, so the target scan
    * reads only affected partitions; survivors are ONE left-anti join on
    * the key; the union with the delta's inserts writes to a hidden
    * staging tree, committed partition by partition with
    * [[StagedCommit.moveIn]]. Untouched partitions are never read, listed,
    * or rewritten. Partitions whose every row is deleted are removed.
    *
    * Crash contract, compaction's: a re-run with the same delta after a
    * crash BETWEEN partitions converges to the same table, but a crash
    * INSIDE one partition's move-in leaves it with its old files plus some
    * new ones, and the re-run's left-anti join keeps both copies of each
    * surviving row: duplicates in the partition being moved, never lost rows.
    *
    * Partition values are matched in their hive string form: the delta's
    * partition columns are cast to string with Spark's own cast (the same
    * rendering `partitionBy` uses for string/numeric columns — the
    * supported types here; null partition values are refused loudly).
    * The delta's data schema must match the table's. */
  def mergePartitionedTable(
      spark: SparkSession,
      url: String,
      delta: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      deleteCol: Option[String] = None,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      fsConf: Map[String, String] = Map.empty): MergeStats = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(partitionCols.forall(keyCols.contains),
      s"the merge key must contain every partition column (key=$keyCols, " +
        s"partitions=$partitionCols): a key that can change partitions " +
        "cannot be located without scanning the whole table")
    deleteCol.foreach(dc => require(!keyCols.contains(dc),
      s"deleteCol '$dc' cannot be part of the key"))

    // delta with partition columns normalized to their hive string form
    val d0 = partitionCols.foldLeft(delta)((df, c) =>
      df.withColumn(c, col(c).cast("string")))
    val tuples: Seq[Seq[String]] = d0
      .select(partitionCols.map(col): _*).distinct()
      .collect().toSeq.map { r =>
        partitionCols.indices.map { i =>
          require(!r.isNullAt(i) && r.getString(i).nonEmpty,
            s"null/empty value for partition column " +
              s"'${partitionCols(i)}' in the delta — unmappable to a hive dir")
          r.getString(i)
        }
      }
    require(tuples.nonEmpty, "empty delta")

    // exact touched-partition query: OR of per-tuple ANDs — discovery's
    // partial evaluation prunes untouched subtrees level by level
    val q = tuples.map { t =>
      partitionCols.zip(t).map { case (c, v) => Q.eq(c, v) }
        .reduce[PartitionQuery](Q.and)
    }.reduce[PartitionQuery](Q.or)
    val existing: Option[DataFrame] =
      try Some(readPartitionedTable(spark, url, q, format = format,
        options = options, fsConf = fsConf))
      catch { case _: GraftEmptyResultException => None } // all-new partitions

    val inserts = deleteCol.fold(d0)(dc =>
      d0.filter(!coalesce(col(dc).cast("boolean"), lit(false))).drop(dc))
    val deltaKeys = deleteCol.fold(d0)(d0.drop(_)).select(keyCols.map(col): _*)
    val newData = existing match {
      case None => inserts
      case Some(t) =>
        val survivors = t.join(deltaKeys, keyCols, "left_anti")
        survivors.unionByName(inserts.select(survivors.columns.map(col): _*))
    }

    val staging = StagedCommit.mergeStaging(url)
    writePartitionedTable(newData, staging, partitionCols, format = format,
      mode = "overwrite", fsConf = fsConf)

    withFs(spark, url, fsConf) { fs =>
      var moved = 0
      var deleted = 0
      val rootQ = fs.makeQualified(new Path(url))
      try {
        tuples.foreach { t =>
          val rel = partitionCols.zip(t).map { case (c, v) =>
            c + "=" + org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(v)
          }.mkString(Path.SEPARATOR)
          val src = new Path(staging + Path.SEPARATOR + rel)
          val dst = new Path(rootQ + Path.SEPARATOR + rel)
          val oldFiles =
            if (fs.exists(dst)) StagedCommit.visible(fs, dst).filter(_.isFile).map(_.getPath)
            else Seq.empty
          if (fs.exists(src)) {
            if (!fs.exists(dst)) fs.mkdirs(dst)
            moved += StagedCommit.moveIn(fs, src, dst, oldFiles)
          } else if (oldFiles.nonEmpty) {
            // every row of this partition was deleted by the delta
            fs.delete(dst, true)
            deleted += 1
          }
        }
      } finally fs.delete(new Path(staging), true)
      MergeStats(tuples.size, deleted, moved)
    }
  }

  /** Incremental AGGREGATE maintenance — the materialized-rollup step of
    * a lakehouse pipeline: a persisted `(keys…, n_rows, sum_<m>…)`
    * sidecar is advanced by a DELTA batch without ever re-reading the
    * corpus. The delta partially aggregates map-side (count + exact
    * DECIMAL(38,6) sums — associative, so increments compose in any
    * order and the merged sums equal a from-scratch aggregation
    * EXACTLY), unions with the stored sidecar, re-aggregates, and
    * commits by [[StagedCommit.Aggregate]]'s whole-dir swap.
    *
    * Work per increment is O(delta + sidecar) — at 100 TB the sidecar is
    * the small (keys-cardinality) side; the corpus is touched only by
    * the delta's own partial aggregation. Exactly-once: pass the
    * micro-batch/ingest `batchId` and replays become no-ops — the last
    * applied id commits inside the same atomic swap as the data (see
    * [[graft.streaming.Streams.maintainAggregateStream]] for the
    * streaming wiring). Without a batchId, callers own delivery:
    * replaying a delta double-counts, exactly like any partial-aggregate
    * merge. Returns the merged sidecar DataFrame. */
  def maintainAggregate(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      batchId: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    import org.apache.spark.sql.functions._
    val keyCols = keys.map(col)
    def partial(df: DataFrame): DataFrame =
      df.groupBy(keyCols: _*).agg(
        count(lit(1)).as("n_rows"),
        measures.map(m =>
          sum(col(m).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as(s"sum_$m")): _*)
    withFs(spark, path, Map.empty) { fs =>
      val root = fs.makeQualified(new Path(path))
      val swap = StagedCommit.Aggregate.open(fs, root)
      // exactly-once under micro-batch REPLAY: the last applied batch id
      // rides INSIDE the sidecar dir (an underscore file, invisible to
      // the parquet read), so the swap commits data and watermark
      // atomically; a replayed foreachBatch id is a documented no-op
      val metaName = "_graft_last_batch"
      def lastApplied: Option[Long] = {
        val m = new Path(root, metaName)
        if (!fs.exists(m)) None
        else {
          val in = fs.open(m)
          try Some(new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
          finally in.close()
        }
      }
      if (batchId.isDefined && fs.exists(root) &&
          lastApplied.exists(_ >= batchId.get)) {
        spark.read.parquet(root.toString)
      } else {
        swap.sweep()
        val fresh = partial(delta)
        val merged =
          if (!fs.exists(root)) fresh
          else {
            val sumCols = Seq(sum(col("n_rows")).as("n_rows")) ++
              measures.map(m => sum(col(s"sum_$m")).as(s"sum_$m"))
            spark.read.parquet(root.toString).unionByName(fresh)
              .groupBy(keyCols: _*).agg(sumCols.head, sumCols.tail: _*)
          }
        merged.write.mode("overwrite").parquet(swap.staging.toString)
        batchId.foreach { id =>
          val out = fs.create(new Path(swap.staging, metaName), true)
          try out.write(id.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        swap.swapWhole()
        spark.read.parquet(root.toString)
      }
    }
  }

  /** Re-partition a table IN PLACE onto new partition columns — the
    * lifecycle step when query patterns outgrow the original layout
    * ("we always filter by status now, not by date"). The old partition
    * columns become ordinary data columns in the rewritten files (they
    * arrived as STRING columns from the read, and stay strings); the new
    * partition columns move out of the files into the directory tree and
    * therefore read back as strings, the fsql partition-value model.
    *
    * The full table is rewritten into a hidden staging subtree, VERIFIED
    * (the staged row count must equal the live count, else refuse and
    * leave staging for inspection) and swapped in partition dir by
    * partition dir by [[StagedCommit.Relayout]].
    *
    * Refuses streaming-sink tables carrying `_spark_metadata` for the
    * same reason compaction does. One full read + one partitioned write;
    * the shuffle is the `partitionBy` write's task-local routing.
    *
    * Deliberately takes NO partition query: the swap replaces the WHOLE
    * tree, so a filtered read here would silently delete every excluded
    * partition while the row-count verify (comparing two equally-filtered
    * counts) waved it through. Relayout a subset by reading it, writing a
    * NEW table, and retiring the old one explicitly. */
  def relayoutPartitionedTable(
      spark: SparkSession,
      url: String,
      newPartitionCols: Seq[String],
      parser: ColumnParser = AutoParser.auto,
      format: String = "parquet",
      fsConf: Map[String, String] = Map.empty): Unit = {
    require(newPartitionCols.nonEmpty, "newPartitionCols must be non-empty")
    withFs(spark, url, fsConf) { fs =>
      val root = fs.makeQualified(new Path(url))
      require(!fs.exists(new Path(root, "_spark_metadata")),
        s"$url carries a streaming-sink _spark_metadata manifest; relayout " +
          "would invalidate it. Delete the manifest dir first to opt into " +
          "listing-based reads, then relayout.")
      val swap = StagedCommit.Relayout.open(fs, root).sweep()
      val live = readPartitionedTable(spark, url, Q.True, parser,
        format = format, fsConf = fsConf)
      newPartitionCols.foreach(c => require(live.columns.contains(c),
        s"new partition column '$c' not in table columns " +
          live.columns.mkString("[", ",", "]")))
      val liveCount = live.count()
      writePartitionedTable(live, swap.staging.toString, newPartitionCols,
        format = format, fsConf = fsConf)
      val stagedCount = readPartitionedTable(spark, swap.staging.toString,
        Q.True, parser, format = format, fsConf = fsConf).count()
      require(stagedCount == liveCount,
        s"staged relayout has $stagedCount rows vs live $liveCount — " +
          "refusing to swap (staging left for inspection)")
      swap.swapChildren(StagedCommit.visible(fs, _).map(_.getPath.getName))()
    }
  }
}
