package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core._

/** Structured Streaming surface over the events table: file-source stream →
  * watermarked windowed aggregation → sink. For tests/verification the
  * stream is driven synchronously to exhaustion over the finite input
  * (processAllAvailable on a memory sink), which makes a streaming query's
  * result comparable against a batch/DuckDB oracle.
  */
object Streams {

  /** Streaming read of events.parquet (`ts` normalized to TimestampType —
    * nanos-long or TIMESTAMP_NTZ, whichever the fixture carries — by the
    * same type-adaptive shim as the batch reader:
    * [[graft.functions.NanosTimestamp]]). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.NanosTimestamp.enable(spark)
    val schema = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(sfDir).schema
    graft.functions.NanosTimestamp.rebuild(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Streaming read over a partitioned tree (the fsql data model, as a
    * stream): discovery prunes the tree with the partition query ONCE at
    * stream start — only matching directories are watched, so the file
    * stream source never lists pruned subtrees — and partition columns are
    * attached from the file path with codegen'd string expressions
    * (streaming-safe: no joins, no state).
    *
    * New files appearing in the watched directories flow through normally.
    * New PARTITIONS appearing after start: with the default
    * `refreshPartitions=false`, discovery runs once and they are invisible
    * (minimum cost — only matching dirs are ever listed or read); with
    * `refreshPartitions=true` the source instead watches the WHOLE tree
    * recursively and partition pruning becomes a row-level Catalyst filter
    * on the path-extracted partition columns, so a partition directory
    * created mid-stream is picked up on the next micro-batch. The trade-off
    * is real and bigger than listing: every file of every NON-matching
    * partition is also read and decoded once (the filter runs after the
    * scan — input_file_name pruning cannot skip files), so refresh costs
    * one full pass over pruned data, not just extra LIST RPCs. It also
    * requires a Catalyst-expressible query (`PartitionQuery.toColumn`);
    * opaque predicates can only prune at stream start. Files that sit
    * OUTSIDE the partition layout (stray root-level files, wrong-depth
    * nests) are dropped by a layout guard: hive mode requires every
    * partition column to extract non-null, fixed mode requires the exact
    * grammar depth — refresh therefore assumes a uniform layout.
    *
    * Layout support: hive `k=v` levels extract by column name; value-only
    * layouts need the [[FixedColumnsParser]] whose grammar names segments
    * positionally (its filename column is also attached).
    */
  def readPartitionedStream(
      spark: SparkSession,
      url: String,
      query: PartitionQuery = Q.True,
      parser: ColumnParser = AutoParser.auto,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None,
      refreshPartitions: Boolean = false): DataFrame = {
    val parts = graft.api.Graft.discover(spark, url, query, parser)
    if (parts.isEmpty)
      throw new graft.api.GraftEmptyResultException(s"no files matched under $url for $query")

    val rowFilter: Option[Column] =
      if (!refreshPartitions) None
      else Some(query.toColumn.getOrElse(throw new IllegalArgumentException(
        "refreshPartitions=true requires a Catalyst-expressible partition query " +
          "(Q.eq/Q.in/and/or/const); opaque predicates can only prune at stream start")))

    val conf = spark.sessionState.newHadoopConf()
    val fs = Discovery.fileSystemFor(url, conf)
    val root = fs.makeQualified(new Path(url)).toString.stripSuffix("/") + "/"
    val dirs = parts.map(p => new Path(p.url).getParent.toString).distinct.sorted
    val partitionCols = parts.flatMap(_.columns.keys).distinct

    val dataSchema = schema
      .orElse(graft.index.ParquetFooter.inferredSchema(spark, format, options, parts.take(1)))
      .getOrElse(spark.read.format(format).options(options).load(parts.head.url).schema)
    val glob =
      if (dirs == Seq(root.stripSuffix("/"))) root + "*"
      else root + "{" + dirs.map(_.stripPrefix(root)).mkString(",") + "}/*"

    val streamSchema =
      StructType(dataSchema.filterNot(f => partitionCols.contains(f.name)))
    val raw =
      if (refreshPartitions)
        spark.readStream.format(format).schema(streamSchema)
          .option("recursiveFileLookup", "true").options(options).load(root)
      else
        spark.readStream.format(format).schema(streamSchema)
          .options(options).load(glob)

    // input_file_name() is a URI ("file:///..."): the scheme and its
    // slashes become one "/", giving the /authority/path form rootNorm
    // below is built in, so a file's path under the root starts at a
    // fixed offset whatever scheme the source uses
    val file = regexp_replace(input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    val rootNorm = {
      val uri = new Path(root).toUri
      val auth = Option(uri.getAuthority).filter(_.nonEmpty).map("/" + _).getOrElse("")
      (auth + uri.getRawPath).stripSuffix("/") + "/"
    }

    val withCols: DataFrame = parser match {
      case f: FixedColumnsParser =>
        // positional: grammar names the segments under root; last = filename
        val rel = substr(file, lit(rootNorm.length + 1), length(file))
        val segs = split(rel, "/")
        f.grammars.zipWithIndex.foldLeft(raw) { case (d, (g, i)) =>
          d.withColumn(g.name, element_at(segs, i + 1))
        }
      case _ =>
        // hive form: extract k=v by name anywhere on the path
        partitionCols.foldLeft(raw) { (d, c) =>
          d.withColumn(c,
            nullif(regexp_extract(file, "/" + java.util.regex.Pattern.quote(c) + "=([^/]+)/", 1), lit("")))
        }
    }
    // layout guard (refresh mode only): recursiveFileLookup can surface
    // files the glob mode never matched — wrong depth or outside the
    // partition scheme — whose extracted columns would be null/garbage
    val guarded =
      if (!refreshPartitions) withCols
      else parser match {
        case f: FixedColumnsParser =>
          val rel = substr(file, lit(rootNorm.length + 1), length(file))
          withCols.filter(size(split(rel, "/")) === f.grammars.length)
        case _ if partitionCols.nonEmpty =>
          withCols.filter(partitionCols.map(c => col(c).isNotNull).reduce(_ && _))
        case _ => withCols
      }
    rowFilter.fold(guarded)(guarded.filter)
  }

  /** Tumbling-window counts/sums per event type, with a watermark (late data
    * beyond 1 hour dropped). */
  def windowedAgg(events: DataFrame, windowLength: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value"))

  /** Streaming exact deduplication on `keys`: dropDuplicatesWithinWatermark
    * so a key's state is EVICTED once the watermark passes it (a duplicate
    * arriving later than `delay` re-emits — the standard bounded-state
    * trade-off). Plain `dropDuplicates(keys)` would NOT evict here: Spark
    * only cleans dedup state when the event-time column is itself part of
    * the key subset, so with business keys alone the state grows without
    * bound — the within-watermark variant is the one that delivers the
    * bounded contract. State is O(distinct keys in the watermark horizon),
    * one shuffle on the key columns. */
  def streamDedup(
      events: DataFrame,
      keys: Seq[String],
      watermarkCol: String = "ts",
      delay: String = "1 hour"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream join: `right` rows within
    * [left.ts - lookback, left.ts]. Both sides carry watermarks so the join
    * state is bounded — left rows are dropped `delay` past the watermark,
    * right rows once no future left row can reach back to them (watermark +
    * lookback). The 100 TB shape: state is O(rows in the lookback horizon),
    * keyed and co-partitioned on the join key, one shuffle per side.
    *
    * `joinType = "left_outer"` emits a null-extended row for a left event
    * once the watermark proves no matching right row can still arrive
    * (watermark past left.ts, the window's upper bound). Outer results are
    * therefore watermark-LATE by construction: a left row near the head of
    * the stream stays in state until later data (or a no-data micro-batch)
    * advances the watermark beyond it — callers that need every outer row
    * flushed in a bounded replay must push the watermark past the data
    * (see the st15 gate's sentinel-event pattern). */
  def streamTimeJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String = "ts",
      rightTs: String = "ts",
      lookback: String = "10 minutes",
      delay: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lookback") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"),
      joinType)
  }

  /** Streaming WRITE into the partitioned-table layout — the data model's
    * sink half: micro-batches land as hive `k=v` directories under `url`,
    * so the result IS a partitioned table, readable in batch by
    * [[graft.api.Graft.readPartitionedTable]] and incrementally by
    * [[readPartitionedStream]].
    *
    * Exactly-once: the file sink records each batch's committed files in
    * the `_spark_metadata` manifest, so a manifest-aware reader
    * (`spark.read.format(fmt).load(url)`) sees exactly the committed set
    * even across batch retries. Graft's discovery reader instead lists the
    * directory directly (metadata names starting with `_`/`.` are skipped,
    * so the manifest dir itself never surfaces as data); under
    * failure+retry a listing can transiently include a failed attempt's
    * orphan files — at-least-once for listing-based readers. Reconcile
    * against the manifest before handing a prefix to non-Spark readers if
    * that distinction matters.
    *
    * Layout: hive only. The value-only layout's write contract is a
    * post-write rename of each `k=v` dir onto its stripped value name,
    * which needs a clean target per partition — fundamentally incompatible
    * with a sink that APPENDS files into existing partitions every
    * micro-batch (the batch writer rejects mode=append for the same
    * reason).
    *
    * 100 TB shape: `partitionBy` routes rows task-locally — the sink adds
    * no shuffle. When many tasks × many live partition values would spray
    * small files, pre-partition the batch (`repartition(cols)`) upstream,
    * and compact cold partitions offline with
    * [[graft.api.Graft.compactPartitionedTable]]. */
  def writePartitionedStream(
      df: DataFrame,
      url: String,
      partitionCols: Seq[String],
      checkpoint: String,
      format: String = "parquet",
      trigger: Trigger = Trigger.AvailableNow(),
      options: Map[String, String] = Map.empty): StreamingQuery = {
    require(df.isStreaming, "writePartitionedStream needs a streaming DataFrame")
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    // analyzer-style resolution (case-insensitive by default): reject only
    // what Spark itself could not resolve
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val missing = partitionCols.filterNot(c => df.columns.exists(resolver(_, c)))
    require(missing.isEmpty,
      s"partition columns not in stream schema: ${missing.mkString(", ")}")
    df.writeStream
      .format(format)
      .outputMode("append") // the file sink's only mode
      .partitionBy(partitionCols: _*)
      .options(options)
      .option("path", url)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** One INCREMENTAL-BATCH pass — the "daily job over a growing table"
    * shape at 100 TB: an `AvailableNow` run drains whatever the file
    * source hasn't seen yet (per the checkpoint), lands the transform's
    * output exactly-once in the file sink, and terminates. Re-invoking
    * after new files arrive processes ONLY the delta: the checkpoint's
    * source log carries the already-seen file list, so a petabyte of
    * history costs a listing diff, not a re-read — and a crashed run
    * resumes from the same checkpoint without double-writing (file-sink
    * manifest commit). Returns the number of input rows this pass read
    * (the incrementality witness the st13 gate asserts on). */
  def incrementalRun(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpoint: String,
      sinkPath: String)(transform: DataFrame => DataFrame): Long = {
    // the witness accumulates through a listener, NOT q.recentProgress:
    // recentProgress is a ring buffer (default 100 entries), so a large
    // backlog draining in >100 micro-batches would silently undercount.
    // Counts key on query id (known only after start), so the listener
    // records EVERY query's progress and we read ours at the end; the
    // terminated event is posted after the final progress event, so
    // waiting for it makes the count complete despite the async bus.
    val counts = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.atomic.AtomicLong]()
    val terminated = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        counts.computeIfAbsent(e.progress.id,
          _ => new java.util.concurrent.atomic.AtomicLong())
          .addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.add(e.id); ()
      }
    }
    spark.streams.addListener(listener)
    try {
      val src = spark.readStream.schema(schema).parquet(srcDir)
      val q = transform(src).writeStream.format("parquet")
        .outputMode("append")
        .option("path", sinkPath)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val deadline = System.currentTimeMillis() + 60000
      while (!terminated.contains(q.id) &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(terminated.contains(q.id),
        "incrementalRun: listener bus did not drain within 60s")
      Option(counts.get(q.id)).map(_.get()).getOrElse(0L)
    } finally spark.streams.removeListener(listener)
  }

  /** Continuous near-duplicate INGEST GATE: each micro-batch of new
    * documents is matched against the persisted minhash index at
    * `indexPath` ([[graft.operators.Dedup.minhashIndexRead]]), batch docs
    * near-matching the index (exact-jaccard ≥ `threshold` over LSH
    * candidates) are dropped, the survivors land under
    * `survivorsPath/batch=<id>/`, and the survivors' index rows are
    * appended to the index — so a duplicate arriving in a LATER batch is
    * caught by the earlier batch's admission. The gate is index-only:
    * near-dups WITHIN one micro-batch both pass (neither was in the index
    * when the batch was gated) — run a batch [[graft.operators.Dedup
    * .dropNearDuplicates]] downstream when intra-batch exactness matters.
    *
    * Semantics equal the batch composition: folding batches in arrival
    * order with `dropNearDuplicatesAgainst` + append yields the same
    * kept/dropped set, which is what the st8 oracle replays in SQL.
    *
    * Delivery: exactly-once for BOTH sinks under crash-replay. The
    * survivors sink is a per-batch directory overwritten on replay; the
    * index append goes through [[graft.operators.Dedup
    * .minhashIndexTaggedAppend]] (deterministic per-batch file names), and
    * a replayed batch first deletes whatever its failed attempt appended
    * — BEFORE re-reading the index — so the replayed gate decides against
    * exactly the index the first attempt saw. Without that ordering, a
    * crash between append and marker would re-gate the batch against an
    * index containing its own survivors: every survivor self-matches at
    * jaccard 1.0 and the replay overwrites the survivors directory with an
    * empty set — silent data loss, not a benign duplicate. The commit
    * marker is keyed by a SHA-256 prefix of the checkpoint path (injective
    * in practice, unlike a 32-bit hashCode, where one collision between
    * two gates sharing an index would silently skip a batch). Single
    * writer per index assumed (concurrent gates over one index would race
    * the append/marker pair).
    *
    * 100 TB shape: the corpus text is never re-read — only its index
    * (ids + shingle sets + signatures) is scanned per batch, and only the
    * band-key + bucket-join legs of that scan survive pruning; the small
    * batch side broadcasts under AQE. Per-batch cost is O(index scan), so
    * size the trigger interval so batches are worth that scan; the
    * per-batch `minhashIndexRead` also re-reads the (one-file) sidecar.
    * Parameters live in the index sidecar — the gate cannot mismatch
    * shingleSize/numHashes/seed by construction. */
  def minhashIngestGate(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      survivorsPath: String,
      checkpoint: String,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = graft.operators.Dedup.DefaultMaxBucketSize,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(newDocs.isStreaming, "minhashIngestGate needs a streaming DataFrame")
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestGateBatch(batch, batchId, idCol, textCol, indexPath,
          survivorsPath, checkpoint, rowsPerBand, threshold, maxBucketSize)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** STREAMING write-time enforcement: every micro-batch routes through
    * [[graft.operators.Enforce.writeRouted]] under a checkpoint-keyed
    * per-batch tag, composing the two protocols end-to-end — one scan per
    * batch, exhaustive clean/quarantine split with per-row reasons, and
    * exactly-once across micro-batch REPLAYS without commit markers: a
    * replayed batch re-routes under the SAME tag, and writeRouted's
    * abort-stage-rename cycle converges both destinations to one copy
    * (the s32 idempotency contract, inherited rather than re-proven).
    * The quarantine stream is a TABLE, so downstream triage is ordinary
    * batch SQL over `gr_reasons`. */
  def streamEnforce(
      rows: DataFrame,
      checks: Seq[(String, Column)],
      cleanPath: String,
      quarantinePath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(rows.isStreaming, "streamEnforce needs a streaming DataFrame")
    val ctag = checkpointTag(checkpoint)
    rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Enforce.writeRouted(batch, checks,
          cleanPath, quarantinePath, s"enf_${ctag}_b$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Injective-in-practice tag for a gate's commit markers and appends:
    * SHA-256 prefix of the checkpoint path (64 bits; a 32-bit
    * `String.hashCode` collision between two gates sharing one index
    * would silently skip a batch as already-committed). */
  private[graft] def checkpointTag(checkpoint: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** One micro-batch of [[minhashIngestGate]], exposed for direct testing
    * of the crash-replay contract (a spec can run it, delete the marker to
    * simulate a crash after any subset of the writes, and run it again).
    * Returns false when the batch was already committed (replay skipped). */
  private[graft] def ingestGateBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      indexPath: String,
      survivorsPath: String,
      checkpoint: String,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int): Boolean = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = Discovery.fileSystemFor(indexPath, conf)
    // marker carries the checkpoint identity: a REPLAY of this stream
    // (same checkpoint) is skipped, while a different gate stream
    // over the same index never collides on batch ids
    val cpTag = checkpointTag(checkpoint)
    val batchTag = f"${cpTag}_$batchId%020d"
    val marker = new Path(indexPath, s"_graft_ingest_commit_$batchTag")
    if (fs.exists(marker)) {
      log.info(s"graft_ingest_gate: batch $batchId already committed; " +
        "skipping replay")
      false
    } else {
      // FIRST undo anything a crashed attempt of THIS batch appended, so
      // the gate below decides against the same index the first attempt
      // saw (its own survivors in the index would self-match and vanish)
      graft.operators.Dedup.minhashIndexAbortTaggedAppend(
        spark, indexPath, batchTag)
      val index = graft.operators.Dedup.minhashIndexRead(spark, indexPath)
      // three consumers (sink write, index-row build, and the gate's
      // own anti-join) — persist pins one snapshot and one gate pass
      val survivors = index.dropNearDuplicates(batch, idCol, textCol,
          rowsPerBand, threshold, maxBucketSize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        survivors.write.mode("overwrite")
          .parquet(survivorsPath.stripSuffix("/") + s"/batch=$batchId")
        graft.operators.Dedup.minhashIndexTaggedAppend(
          index, survivors, idCol, textCol, indexPath, batchTag)
        fs.create(marker, true).close()
      } finally survivors.unpersist(false)
      true
    }
  }

  /** Continuous ANN index growth — the [[minhashIngestGate]] analog for
    * IVF: each micro-batch of embedding rows is assigned to the persisted
    * index's EXISTING centroids and appended into its partitioned layout
    * ([[graft.operators.Ann.ivfAppend]]), so the index serves probes over
    * everything ingested so far without ever re-clustering or re-reading
    * old vectors. Unlike the dedup gate there is no drop decision — every
    * row is appended — so exactly-once reduces to append idempotency:
    * `ivfAppend` is replay-idempotent per batch tag (staged rename,
    * deterministic file names), and a checkpoint-keyed commit marker skips
    * fully-committed batches on replay. A crash at any point, then
    * replay, converges to exactly one copy of each batch (duplicated
    * index rows would otherwise surface as duplicate ids in every later
    * top-k). Structural mismatches (dim/schema) fail the batch loudly via
    * the index sidecar. Single writer per index assumed. */
  def ivfIngest(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(newVecs, checkpoint, trigger, "ivfIngest") {
      (batch, batchId) =>
        ivfIngestBatch(batch, batchId, idCol, vecCol, indexPath, checkpoint)
    }

  /** One micro-batch of [[ivfIngest]], exposed for direct crash-replay
    * testing. Returns false when the batch was already committed. */
  private[graft] def ivfIngestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, indexPath, checkpoint, "ivf") {
      (spark, tag) =>
        graft.operators.Ann.ivfAppend(spark, indexPath, batch, idCol, vecCol, tag)
    }

  /** [[ivfIngest]]'s analog for a persisted NSW graph index
    * ([[graft.operators.GraphAnn]]): each micro-batch flows through
    * [[graft.operators.GraphAnn.nswAppend]] — frozen-centroid data
    * append PLUS in-place insertion into only the touched clusters'
    * graphs, staleness witness recomputed — under the same
    * replay-idempotent tagged append + commit marker, so the SERVING
    * graph stays fresh across the stream with no rebuild and no window
    * in which a probe would see appended vectors the graph cannot
    * reach. Batches must respect nswAppend's monotone-id contract
    * (streams of freshly-minted ids do by construction). */
  def nswIngest(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(newVecs, checkpoint, trigger, "nswIngest") {
      (batch, batchId) =>
        nswIngestBatch(batch, batchId, idCol, vecCol, indexPath, checkpoint)
    }

  /** One micro-batch of [[nswIngest]], exposed for direct crash-replay
    * testing. Returns false when the batch was already committed. */
  private[graft] def nswIngestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, indexPath, checkpoint, "nsw") {
      (spark, tag) =>
        graft.operators.GraphAnn.nswAppend(spark, indexPath, batch, idCol,
          vecCol, tag)
    }

  /** [[ivfIngest]]'s analog for a persisted PQ index
    * ([[graft.operators.Pq]]): each micro-batch encodes against the
    * STORED codebooks (frozen on append — the PQ maintenance contract)
    * and lands via the same replay-idempotent tagged append + commit
    * marker, so the quantized serving table grows exactly-once across
    * crashes without re-reading or re-encoding old rows. */
  def pqIngest(
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(newVecs, checkpoint, trigger, "pqIngest") {
      (batch, batchId) =>
        pqIngestBatch(batch, batchId, idCol, vecCol, indexPath, checkpoint)
    }

  /** One micro-batch of [[pqIngest]], exposed for direct crash-replay
    * testing. Returns false when the batch was already committed. */
  private[graft] def pqIngestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, indexPath, checkpoint, "pq") {
      (spark, tag) =>
        graft.operators.Pq.pqAppend(spark, indexPath, batch, idCol, vecCol, tag)
    }

  /** Shared foreachBatch shell of the append-only index ingests. */
  private def appendIngest(newVecs: DataFrame, checkpoint: String,
      trigger: Trigger, name: String)(
      runBatch: (DataFrame, Long) => Boolean): StreamingQuery = {
    require(newVecs.isStreaming, s"$name needs a streaming DataFrame")
    newVecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** [[ivfIngest]]'s analog for the persisted seen-URL crawl history
    * ([[graft.operators.Frontier]]): each micro-batch of discovered
    * URLs anti-joins the history and commits exactly its NEVER-SEEN
    * urls under the checkpoint-keyed batch tag — the multi-wave crawl
    * loop as a stream, exactly-once across crashes (the diff excludes
    * the tag's own commits, TaggedAppend converges the files, the
    * commit marker skips fully-committed batches). Each wave's fetch
    * list is durably addressable afterwards as
    * `Graft.readTaggedBatch(historyPath, <batch tag>)`. Normalize URLs
    * upstream ([[graft.functions.TextFunctions.normalizeUrl]]) or two
    * spellings of one page defeat the set. */
  def seenIngest(
      urls: DataFrame,
      urlCol: String,
      historyPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(urls, checkpoint, trigger, "seenIngest") {
      (batch, batchId) =>
        seenIngestBatch(batch, batchId, urlCol, historyPath, checkpoint)
    }

  /** One micro-batch of [[seenIngest]], exposed for direct crash-replay
    * testing. Returns false when the batch was already committed. */
  private[graft] def seenIngestBatch(
      batch: DataFrame,
      batchId: Long,
      urlCol: String,
      historyPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, historyPath, checkpoint, "seen") {
      (_, tag) =>
        graft.operators.Frontier.seenDiffAndRecord(batch, urlCol,
          historyPath, tag)
        ()
    }

  /** [[seenIngest]]'s analog for the FETCH HISTORY — the revalidation
    * loop's write path as a stream: each micro-batch of fetch outcomes
    * (fixed schema `url, ts, h, etag, lm, status` — select/rename
    * upstream, the seenIngest `url` convention) folds through
    * [[graft.operators.Frontier.recordOutcomes]] against the history
    * committed SO FAR (304s reuse the prior hash and carry validators;
    * the batch's own partial files are excluded during replay, so a
    * crashed append recomputes identically and TaggedAppend converges
    * the files) and appends under the checkpoint-keyed batch tag; the
    * commit marker skips fully-committed batches. The first wave must
    * be unconditional fetches — a 304 with no prior history raises,
    * which is recordOutcomes' own (correct) contract. A batch carrying
    * TWO outcomes for one URL is refused loudly: the whole batch folds
    * against the history committed BEFORE it, so the second outcome
    * would resolve against the stale prior (a 304 following a 200 in
    * the same wave would silently carry the pre-batch hash/validators)
    * — split same-URL outcomes across micro-batches instead. Downstream,
    * [[graft.operators.Frontier.fetchHistory]] +
    * [[graft.operators.Frontier.revalidationPlan]] read the live
    * table mid-stream. */
  def outcomeIngest(
      outcomes: DataFrame,
      historyPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(outcomes, checkpoint, trigger, "outcomeIngest") {
      (batch, batchId) =>
        outcomeIngestBatch(batch, batchId, historyPath, checkpoint)
    }

  /** One micro-batch of [[outcomeIngest]], exposed for direct
    * crash-replay testing. Returns false when already committed. */
  private[graft] def outcomeIngestBatch(
      batch: DataFrame,
      batchId: Long,
      historyPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, historyPath, checkpoint, "outcome") {
      (spark, tag) =>
        val hist = graft.operators.Frontier.fetchHistory(
          spark, historyPath, excludeTag = Some(tag))
        // In-plan duplicate-URL refusal: the batch folds against the
        // pre-batch history, so a second outcome for the same URL in
        // one wave would resolve against a stale prior. Wave-sized
        // aggregate + AQE-broadcast join — no driver collect.
        val counts = batch.groupBy(col("url").as("__durl"))
          .agg(count(lit(1)).as("__dn"))
        val checked = batch
          .join(counts, col("url") === col("__durl"))
          .select(
            when(col("__dn") > 1, raise_error(concat(
              lit("outcomeIngestBatch: duplicate outcomes for one URL " +
                "in a single micro-batch (second would fold against a " +
                "stale prior): "), col("url"))))
              .otherwise(col("url")).as("url"),
            col("ts"), col("h"), col("etag"), col("lm"), col("status"))
        val rows = graft.operators.Frontier.recordOutcomes(
          hist, checked, "url", "ts", "h", "etag", "lm", "status")
        graft.core.TaggedAppend.append(rows, historyPath, tag)
        ()
    }

  /** [[seenIngest]]'s analog for the REDIRECT-MOVES table — the 3xx
    * half of the fetch-outcome stream: each micro-batch of redirect
    * responses (fixed schema `url, status, location` — select/rename
    * upstream) resolves through
    * [[graft.operators.Frontier.resolveRedirects]] and appends the
    * resolved rows `(url, final_url, hops, permanent, outcome)` under
    * the checkpoint-keyed batch tag; the commit marker skips
    * fully-committed batches, so a crash at any point then replay
    * converges (resolution is a pure function of the batch).
    * CHAINS ARE BATCH-LOCAL: a fetcher that follows redirects observes
    * the whole chain in one wave, so each batch must carry its chains
    * complete — a chain split across batches resolves each fragment
    * independently. Downstream,
    * [[graft.operators.Frontier.redirectMoves]] reads the live table
    * and [[graft.operators.Frontier.applyRedirectMoves]] folds the
    * permanent moves into any url-keyed table. */
  def redirectIngest(
      redirects: DataFrame,
      movesPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxHops: Int = 5): StreamingQuery =
    appendIngest(redirects, checkpoint, trigger, "redirectIngest") {
      (batch, batchId) =>
        redirectIngestBatch(batch, batchId, movesPath, checkpoint, maxHops)
    }

  /** One micro-batch of [[redirectIngest]], exposed for direct
    * crash-replay testing. Returns false when already committed. */
  private[graft] def redirectIngestBatch(
      batch: DataFrame,
      batchId: Long,
      movesPath: String,
      checkpoint: String,
      maxHops: Int = 5): Boolean =
    appendIngestBatch(batch, batchId, movesPath, checkpoint, "redirect") {
      (spark, tag) =>
        val resolvedWave = graft.operators.Frontier.resolveRedirects(
          batch, "url", "status", "location", maxHops)
        // CROSS-BATCH extension: re-point this wave's resolved targets
        // through the COMMITTED moves (compacted to direct pointers),
        // so A→B committed in an earlier batch and B observed moving
        // now still write direct rows. Replay-deterministic: the read
        // excludes this batch's own tag and the stream cannot have
        // advanced past an uncommitted batch, so a replay sees the
        // identical committed set (the outcomeIngest argument).
        // Residue: committed rows pointing INTO this wave's sources
        // stay one hop short until the next compaction
        // (Frontier.compactRedirectMoves) — eventual consistency.
        val committed = graft.operators.Frontier.redirectMoves(
          spark, movesPath, excludeTag = Some(tag))
        val resolved = graft.operators.Frontier.extendThroughMoves(
          resolvedWave, committed)
        graft.core.TaggedAppend.append(resolved, movesPath, tag)
        ()
    }

  /** [[ivfIngest]]'s analog for the persisted INVERTED INDEX
    * ([[graft.operators.Retrieval.invertedIndexBuildAndWrite]]): each
    * micro-batch of documents appends its postings AND its stats row
    * under the checkpoint-keyed batch tag (both TaggedAppend-backed,
    * so a crash at any point then replay converges — the stats can
    * never double-count because a replayed tag overwrites its own
    * row), and the commit marker skips fully-committed batches. The
    * index is queryable mid-stream; avgdl/N simply reflect the batches
    * committed so far. Batches must carry DISJOINT documents (the
    * append contract). */
  def invertedIngest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendIngest(docs, checkpoint, trigger, "invertedIngest") {
      (batch, batchId) =>
        invertedIngestBatch(batch, batchId, idCol, textCol, indexPath,
          checkpoint)
    }

  /** One micro-batch of [[invertedIngest]], exposed for direct
    * crash-replay testing. Returns false when already committed. */
  private[graft] def invertedIngestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpoint: String): Boolean =
    appendIngestBatch(batch, batchId, indexPath, checkpoint, "inv") {
      (_, tag) =>
        graft.operators.Retrieval.invertedIndexAppend(batch, idCol,
          textCol, indexPath, tag)
    }

  /** Shared exactly-once batch protocol: the append is replay-idempotent
    * per batch tag ([[graft.core.TaggedAppend]] underneath), and a
    * checkpoint-keyed commit marker skips fully-committed batches on
    * replay — a crash at ANY point, then replay, converges to exactly one
    * copy of the batch. Single writer per index assumed. */
  private def appendIngestBatch(batch: DataFrame, batchId: Long,
      indexPath: String, checkpoint: String, family: String)(
      append: (org.apache.spark.sql.SparkSession, String) => Unit): Boolean = {
    val spark = batch.sparkSession
    val fs = Discovery.fileSystemFor(indexPath,
      spark.sessionState.newHadoopConf())
    val batchTag = f"${checkpointTag(checkpoint)}_$batchId%020d"
    val marker = new Path(indexPath, s"_graft_${family}_ingest_commit_$batchTag")
    if (fs.exists(marker)) {
      log.info(s"graft_${family}_ingest: batch $batchId already committed; " +
        "skipping replay")
      false
    } else {
      append(spark, batchTag)
      fs.create(marker, true).close()
      true
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run a (finite-source) streaming query to completion into an in-memory
    * table and return its final result. `outputMode` is "complete" for
    * aggregations, "append" for row-wise operators (dedup, filters). */
  /** Arbitrary-stateful streaming aggregation via `flatMapGroupsWithState`:
    * per-user running (event count, exact sum, click count) maintained in a
    * user-defined state object — the escape hatch for aggregation logic the
    * built-in streaming aggs can't express (multi-field conditional state,
    * custom emission policy). Each micro-batch emits the group's UPDATED
    * running totals (Update output mode), so the memory sink accumulates one
    * row per (user, batch-that-touched-it); the final state per user is the
    * row with the largest `n` (counters are monotone).
    *
    * Determinism: `value` is pre-quantized to DECIMAL(10,2) cents (a Long)
    * BEFORE entering the state function, so the in-state sum is exact
    * integer arithmetic — order-independent across micro-batch and group
    * iterator orderings, and bit-identical to the oracle's
    * `SUM(CAST(value AS DECIMAL(10,2)))`.
    *
    * 100 TB: state is O(distinct users) × 3 longs, partitioned by group key
    * across executors and checkpointed incrementally (RocksDB/HDFS state
    * store on a real cluster); each micro-batch shuffles only its own rows.
    * No timeout is set here (finite replay); a production session-style use
    * would set `GroupStateTimeout.EventTimeTimeout` to bound state for
    * users that go quiet. */
  def userRunningStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
        col("user_id").cast("long").as("user_id"),
        col("event_type"),
        (col("value").cast("decimal(10,2)") * 100).cast("long").as("cents"))
      .as[(Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, cents, clicks) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { case (_, et, c) =>
            n += 1; cents += c; if (et == "click") clicks += 1
          }
          state.update((n, cents, clicks))
          Iterator((uid, n, cents, clicks))
      }
      .toDF("user_id", "n", "cents", "n_click")
      .withColumn("sum_value", (col("cents") / 100.0).cast("double"))
      .drop("cents")
  }

  /** Streaming frontier politeness: per-host fetch slots assigned
    * INCREMENTALLY across micro-batches via `flatMapGroupsWithState` —
    * the state is ONE long per host (slots issued so far), so a URL
    * discovered in batch 7 continues the sequence batch 1 started
    * instead of re-starting at slot 1 and hammering the host. Within a
    * micro-batch a host's URLs order by (priority desc, url) — the
    * batch operator's ([[graft.operators.Frontier.schedule]]) contract
    * — and each row appends exactly once as
    * `(host, url, fetch_seq, eta_ms)`.
    *
    * 100 TB: state is O(distinct hosts) longs, partitioned by host and
    * checkpointed incrementally; each micro-batch shuffles only its own
    * rows. No timeout (a frontier's host set is the working set); a
    * bounded-memory deployment would expire idle hosts with
    * `ProcessingTimeTimeout` and accept sequence restarts for them. */
  def frontierSchedule(
      urls: DataFrame, urlCol: String, priorityCol: String,
      delayMs: Long): DataFrame = {
    require(urls.isStreaming, "frontierSchedule needs a streaming DataFrame")
    require(delayMs >= 0, s"negative delayMs: $delayMs")
    val spark = urls.sparkSession
    import spark.implicits._
    val typed = urls.select(
        graft.functions.TextFunctions.urlHost(col(urlCol)).as("host"),
        col(urlCol).cast("string").as("url"),
        col(priorityCol).cast("long").as("prio"))
      .as[(String, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, String, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[(String, String, Long)],
         state: GroupState[Long]) =>
          var issued = state.getOption.getOrElse(0L)
          val ordered = rows.toArray.sortBy(r => (-r._3, r._2))
          // fetch_seq stays LONG: unlike the batch operator's per-run
          // row_number, this counter is designed to grow for the
          // index's whole lifetime — an Int truncation would wrap it
          // negative after 2^31 slots while eta_ms kept growing
          val out = ordered.map { r =>
            issued += 1
            (host, r._2, issued, (issued - 1L) * delayMs)
          }
          state.update(issued)
          out.iterator
      }
      .toDF("host", "url", "fetch_seq", "eta_ms")
  }

  /** Streaming expectation audit: [[graft.operators.Expect]]'s counters
    * as a STREAMING aggregation — violations accumulate incrementally
    * across micro-batches in the state store (complete-mode counters:
    * O(numChecks) longs of state total), and the final per-check rows
    * equal the batch audit over everything the stream delivered. The
    * ingest-quality monitor shape: on a live pipeline the memory sink
    * becomes any sink and each progress update carries the running
    * counts; here the AvailableNow run pins stream/batch agreement. */
  def streamingAudit(stream: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      name: String): DataFrame = {
    graft.operators.Expect.validate(checks)
    val cs = graft.operators.Expect.counters(checks)
    val one = runToMemory(stream.agg(cs.head, cs.tail: _*), name)
    graft.operators.Expect.shapeRows(one, checks)
  }

  def runToMemory(agg: DataFrame, name: String,
      outputMode: String = "complete"): DataFrame = {
    val spark = agg.sparkSession
    val q = agg.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  /** STREAMING materialized rollup: every micro-batch advances the
    * [[graft.api.Graft.maintainAggregate]] sidecar at `path`. Exactly-once
    * end to end with NO sink manifest: the micro-batch id is passed into
    * the maintenance call, where it commits inside the same atomic
    * rename-swap as the data — a batch replayed after a crash (the
    * foreachBatch at-least-once contract) sees `lastApplied >= batchId`
    * and no-ops, so the sidecar can never double-count. State is the
    * sidecar itself: the aggregation is bounded by key cardinality, not
    * stream length, and a reader at any instant sees a complete,
    * consistent rollup (the swap is all-or-nothing).
    *
    * Run with `processAllAvailable` + stop for a bounded drain, or leave
    * running against a live directory. */
  def maintainAggregateStream(
      events: DataFrame,
      path: String,
      keys: Seq[String],
      measures: Seq[String],
      checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.api.Graft.maintainAggregate(
          batch.sparkSession, path, batch, keys, measures,
          batchId = Some(id))
        ()
      }
      .start()

  /** STREAMING CDC upsert: every micro-batch merges into the partitioned
    * table through [[graft.api.Graft.mergePartitionedTable]] — keyed
    * last-writer-wins upserts, inserts, and (with `deleteCol`) deletes,
    * applied only to the partitions the batch touches. Exactly-once
    * WITHOUT a batch-id protocol: a keyed merge is IDEMPOTENT (re-applying
    * a delta reproduces the same table), and foreachBatch only ever
    * replays the latest uncommitted batch, so a crash-replay cannot
    * regress earlier batches' effects.
    *
    * `orderCol`: CDC feeds often carry several updates for one key in a
    * single batch — merge deltas must be unique per key, so pass the
    * change-sequence column and the wrapper keeps each key's
    * highest-`orderCol` row (deterministic; ties would be a feed bug and
    * surface in the merge's own uniqueness handling). */
  def upsertStream(
      updates: DataFrame,
      url: String,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      checkpoint: String,
      deleteCol: Option[String] = None,
      orderCol: Option[String] = None): StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val compacted = orderCol.fold(batch) { oc =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy(col(oc).desc)
          batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
        graft.api.Graft.mergePartitionedTable(batch.sparkSession, url,
          compacted, keyCols, partitionCols, deleteCol)
        ()
      }
      .start()
}
