package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.NearestCentroids

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Two paths:
  *
  *  - `bruteForceTopK`: exact cosine against every row — one narrow
  *    projection + TakeOrderedAndProject; the right baseline, and already
  *    distributed (each partition computes its local top-k, driver merges k
  *    per partition, never the full table).
  *  - `lshTopK`: random-hyperplane bucketing; only the query's bucket (and
  *    optionally neighboring buckets by Hamming distance) is scanned. At
  *    100 TB the bucket column is what you'd partition/bucket the table by,
  *    turning ANN into a partition-pruned scan.
  *
  * All dot products run through fused codegen'd kernel expressions
  * (CosineSimilarity, NearestCentroids, HyperplaneSketchExpr); the
  * composable zip_with + aggregate forms are kept only as property-test
  * references (Catalyst HOFs are interpreted). No UDFs.
  */
object Ann {

  /** Cosine similarity of two array<float>/<double> columns: fused
    * single-loop codegen'd Expression (graft.functions.CosineSimilarity).
    * Bit-identical to [[cosineHof]] — both are sequential double folds. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Composable higher-order-function formulation (reference semantics for
    * the property test; 3 array traversals + intermediates). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact top-k by cosine against a literal query vector. Returns
    * (idCol, cosine, rank) with deterministic id tiebreak. */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val q = lit(query.map(_.toDouble))
    val scored = df
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
    scored.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("cosine"), col(idCol))))
  }

  /** Batched exact top-k: every query vector scored against the corpus in
    * ONE scan (queries ship as a literal array, exploded map-side — no
    * join, no second scan), then a per-query rank window with `rank <= k`.
    * Catalyst's InferWindowGroupLimit rewrites that pattern into a
    * map-side partial top-k (`WindowGroupLimit ... Partial` BEFORE the
    * exchange), so the shuffle carries at most k rows per query per input
    * partition — never |corpus|×Q — and the final per-query rank touches
    * only those survivors. (A hand-rolled salted two-phase rank would
    * duplicate exactly this and add a shuffle; the plan is asserted in
    * PlanSpec.) For huge query batches route through a sketch or IVF
    * first; for one query [[bruteForceTopK]] (TakeOrdered) avoids the
    * window entirely. Returns (query_id, idCol, cosine, rank). */
  def batchBruteTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    import org.apache.spark.sql.expressions.Window
    val qarr = array(queries.map { case (qid, v) =>
      struct(lit(qid).as("query_id"), lit(v.map(_.toDouble)).as("qvec"))
    }: _*)
    df.filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol), explode(qarr).as("__q"), col(vecCol))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        cosine(col(vecCol), col("__q.qvec")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Batched top-k by HAMMING distance over sign-bit codes
    * ([[graft.operators.Embeddings.binarize]]): the cheap-scan serving path
    * for binary-quantized corpora — the scan touches 1/32 of the float
    * bytes, the distance is `Σ bit_count(xor)` per word (2 ALU ops per 64
    * dims), and the per-query rank window is map-side-pruned by
    * InferWindowGroupLimit exactly like [[batchBruteTopK]]. Ties break to
    * the smaller id, so results are deterministic even on the plateaus a
    * 64-bit code inevitably has. Returns (query_id, idCol, hamming, rank).
    *
    * For serving, follow with [[binaryRerankTopK]]: Hamming shortlist →
    * exact cosine on the short list only (the standard two-phase
    * quantized-search shape, same as the PQ re-rank path). */
  def binaryTopK(
      bits: DataFrame,
      idCol: String,
      bitsCol: String,
      queries: Seq[(Long, Array[Long])],
      k: Int): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    val qWords = queries.head._2.length
    require(qWords >= 1 && queries.forall(_._2.length == qWords),
      "query codes must be non-empty and share one word count")
    import org.apache.spark.sql.expressions.Window
    val qarr = array(queries.map { case (qid, wsArr) =>
      struct(lit(qid).as("query_id"), lit(wsArr).as("qbits"))
    }: _*)
    // a corpus code with a different word count would zip_with-null-pad
    // to hamming = NULL, and NULLS FIRST on the ascending rank would put
    // that row at rank 1 for EVERY query — dimension drift must be loud,
    // not a silently corrupted top-k (the PQ/IVF dim-guard convention).
    // The guard is the LEFT operand of the + on purpose: codegen for a
    // null-intolerant binary op short-circuits the RIGHT child when the
    // left is null, and the mismatch case is exactly the one where the
    // distance side IS null — guard-on-the-right would never evaluate.
    val guard = coalesce(assert_true(size(col("__bits")) === qWords,
      lit(s"binaryTopK: corpus code word count != query's $qWords — " +
        "dimension mismatch between the binarized table and the query " +
        "batch")).cast("int"), lit(0))
    bits
      .select(col(idCol), explode(qarr).as("__q"), col(bitsCol).as("__bits"))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        (guard + expr("aggregate(zip_with(__bits, __q.qbits, " +
          "(a, b) -> bit_count(a ^ b)), 0, (acc, x) -> acc + x)"))
          .as("hamming"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("hamming"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Two-phase binary serving: Hamming shortlist of `shortlist` candidates
    * per query over the codes, then EXACT cosine re-rank of only those
    * candidates against the float vectors (an id equi-join back into the
    * corpus — at 100 TB the join probes |queries|·shortlist rows, never the
    * table). Returns (query_id, idCol, cosine, rank ≤ k). */
  def binaryRerankTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      shortlist: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    import org.apache.spark.sql.expressions.Window
    val bits = Embeddings.binarize(df, idCol, vecCol)
    val short = binaryTopK(bits, idCol, "bits",
      queries.map { case (qid, v) => (qid, Embeddings.signWordsLocal(v)) },
      shortlist).select(col("query_id"), col(idCol))
    val qarr = array(queries.map { case (qid, v) =>
      struct(lit(qid).as("query_id"), lit(v.map(_.toDouble)).as("qvec"))
    }: _*)
    val qvecs = broadcast(
      df.sparkSession.range(1).select(explode(qarr).as("__q"))
        .select(col("__q.query_id").as("query_id"), col("__q.qvec").as("__qvec")))
    short.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(qvecs, "query_id")
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("__qvec")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Matryoshka (MRL) two-phase search — Kusupati et al., NeurIPS'22:
    * embeddings trained with matryoshka representation learning rank
    * usefully on any PREFIX of their dimensions, so the coarse pass
    * scores only the first `prefixDims` components (a `slice` — the scan
    * reads 1/`dim/prefixDims` of the float math, and on a column-pruned
    * layout that stores the prefix separately, 1/… of the bytes), takes a
    * `shortlist`, and the exact full-dimension cosine runs ONLY on the
    * short list after an id equi-join back into the corpus (the
    * [[binaryRerankTopK]] / PQ re-rank shape — this is the third
    * cheap-scan tier, between binary codes and full floats).
    *
    * Both phases are deterministic exact arithmetic over their inputs
    * (no sketch, no training), so unlike IVF/LSH the WHOLE approximation
    * is SQL-replayable: the a13 gate's oracle recomputes shortlist and
    * re-rank bit-for-bit. Returns (idCol, cosine, rank ≤ k). */
  def matryoshkaTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      prefixDims: Int,
      shortlist: Int = 64,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(prefixDims >= 1 && prefixDims <= query.length,
      s"prefixDims must be in [1, ${query.length}], got $prefixDims")
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    import org.apache.spark.sql.expressions.Window
    val qPrefix = lit(query.take(prefixDims).map(_.toDouble))
    val short = df
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol),
        cosine(slice(col(vecCol), 1, prefixDims), qPrefix).as("__coarse"))
      .orderBy(desc("__coarse"), col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    val qFull = lit(query.map(_.toDouble))
    short.join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), cosine(col(vecCol), qFull).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cosine"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) index state: centroid vectors + the input tagged
    * with its nearest-centroid cluster id. At 100 TB the clustered frame is
    * what you write out partitioned by `gr_cluster`, turning every probe into
    * a partition-pruned scan of nprobe/nlist of the data. `vecCol` names the
    * embedding column (recorded in the sidecar on write) so maintenance
    * paths — drift telemetry — can score without the caller re-stating it.
    * `assignTop > 1` means SOFT multi-assignment (the SPANN boundary
    * recipe): every row is stored in its `assignTop` nearest clusters, so
    * a vector near a cluster boundary is found even when only its
    * runner-up cluster is probed — recall at fixed nprobe rises for
    * `assignTop×` storage and scan width (RecallSpec quantifies it). The
    * clustered frame then holds duplicate ids; every probe path dedups
    * by id before ranking (graph ANN builds a node per copy and dedups
    * the walk union the same way), and single-copy consumers (SemDeDup,
    * PQ encode) refuse a multi-assigned index loudly. */
  final case class IvfIndex(centroids: Seq[(Int, Array[Double])],
      clustered: DataFrame, vecCol: String = "embedding",
      assignTop: Int = 1)

  /** Build an IVF index with deterministic centroids: a seeded hash-sample
    * of the data seeds them, then `iterations` rounds of Lloyd refinement
    * (assign by cosine → per-cluster elementwise mean) tighten the
    * partitioning of the space. Each round is ONE distributed aggregation
    * whose result (nlist × dim doubles) collects to the driver — the
    * standard k-means shape on Spark; empty clusters keep their previous
    * centroid so ids stay stable.
    *
    * Centroid seeding is a seeded HASH-sample with a limit: no `count()`
    * pre-scan (a fraction computation would pay a full pass over the data)
    * and no RNG — `xxhash64(id, seed) % 16 == 0` picks ~1/16 of rows and
    * the limit stops the scan as soon as `nlist` are found. Tiny inputs
    * top up from a plain limit.
    *
    * The input is read ONCE: it is persisted (`MEMORY_AND_DISK`) for the
    * build, so the sample, its fallback, every Lloyd round and the final
    * layout read the cached copy, and the copy is released after the
    * first action over the returned `clustered` frame — the index's first
    * consumer (a probe, a graph build, SemDeDup, `ivfWrite`'s data write)
    * reads it too. An input the caller already cached stays the caller's:
    * it is read as is and never released here. */
  def ivfBuild(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      seed: Long = 42L,
      iterations: Int = 2,
      assignTop: Int = 1): IvfIndex = {
    require(assignTop >= 1 && assignTop <= nlist,
      s"assignTop must be in [1, nlist=$nlist], got $assignTop")
    val owned = df.storageLevel == StorageLevel.NONE
    val input = if (owned) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    def vecs(d: DataFrame): Array[Array[Double]] =
      d.collect().map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    val (centroids, clustered) = try {
      // id-ordered takes: a bare limit() is partition-order-dependent, which
      // would make the seeded centroids depend on input layout — orderBy +
      // limit plans as TakeOrdered (per-partition heaps, no full sort)
      val sampled = vecs(input
        .filter(pmod(xxhash64(col(idCol), lit(seed)), lit(16)) === 0)
        .orderBy(col(idCol)).select(col(vecCol)).limit(nlist))
      val sample =
        if (sampled.length >= nlist) sampled
        else vecs(input.orderBy(col(idCol)).select(col(vecCol)).limit(nlist))
      require(sample.nonEmpty, "empty input")
      var cs = sample.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      for (_ <- 1 to iterations) {
        val means = assignClusters(input, cs, vecCol)
          .select(col("gr_cluster"), posexplode(col(vecCol)))
          .groupBy("gr_cluster", "pos").agg(avg(col("col").cast("double")).as("m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
          }
        cs = cs.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
      // Lloyd refinement always runs on the PRIMARY (argmax) assignment;
      // only the final stored layout multi-assigns — soft copies are a
      // serving-recall device, not cluster members for the means
      (cs, assignClusters(input, cs, vecCol, assignTop))
    } catch { case e: Throwable =>
      if (owned) input.unpersist(false)
      throw e
    }
    IvfIndex(centroids,
      if (owned) CacheRelease.afterFirstAction(clustered, Seq(input)) else clustered,
      vecCol, assignTop)
  }

  /** Driver-side cosine between a centroid and a query (tiny: nlist×dim). */
  private[operators] def centroidCos(c: Array[Double], qd: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(c.length, qd.length)) {
      dot += c(i) * qd(i); na += c(i) * c(i); nb += qd(i) * qd(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The `nprobe` cluster ids nearest a query, ranked driver-side. */
  private def probedClusters(index: IvfIndex, qd: Array[Double],
      nprobe: Int): Seq[Int] =
    index.centroids.sortBy { case (_, c) => -centroidCos(c, qd) }
      .take(nprobe).map(_._1)

  /** ANN search against an IVF index: rank centroids driver-side, scan only
    * the `nprobe` nearest clusters, exact cosine top-k on those.
    *
    * `rowFilter` makes this FILTERED vector search (the "top-k products
    * in stock", "top-k docs this tenant may read" serving shape): the
    * predicate applies INSIDE the pruned cluster scan, before ranking —
    * on a persisted index both the cluster pruning (partition dirs) and
    * the predicate push into the parquet scan, so a selective filter
    * costs nothing extra and the k results are all filter-true. Post-hoc
    * filtering of an unfiltered top-k would instead return FEWER than k
    * (or zero) filtered rows; the a12 gate plants exactly that trap. */
  def ivfTopK(
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      nprobe: Int = 4,
      excludeIds: Seq[Long] = Nil,
      rowFilter: Column = lit(true)): DataFrame = {
    val qd = query.map(_.toDouble)
    val probed = probedClusters(index, qd, nprobe)
    val pruned = index.clustered
      .filter(col("gr_cluster").isin(probed: _*))
      .filter(rowFilter)
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
    // soft multi-assignment stores a row in several clusters: a probe
    // covering two of its homes must rank it once (dedup only when the
    // index can actually contain copies — assignTop=1 keeps the plan)
    val candidates =
      if (index.assignTop > 1) pruned.dropDuplicates(idCol) else pruned
    val q = lit(qd)
    val scoredRows = candidates
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
    scoredRows.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("cosine"), col(idCol))))
  }

  /** Batched IVF probe: EVERY query served by ONE scan of the UNION of
    * their probed clusters — the serving shape for query batches at scale
    * (Q separate [[ivfTopK]] calls pay Q pruned scans; this pays one, and
    * on a persisted index the scan is still partition-pruned to the union
    * so an unprobed cluster is never read). Queries ship as a literal
    * array exploded map-side (same pattern as [[batchBruteTopK]]); each
    * (row, query) pair survives only when the row's cluster is in THAT
    * query's probe set, so per-query semantics are identical to
    * [[ivfTopK]] — agreement is spec-pinned. The per-query rank window is
    * rewritten by Catalyst into a map-side partial top-k
    * (WindowGroupLimit), so the shuffle carries at most k rows per query
    * per input partition. Returns (query_id, idCol, cosine, rank). */
  def ivfBatchTopK(
      index: IvfIndex,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Int = 4,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    import org.apache.spark.sql.expressions.Window
    val probes = queries.map { case (qid, qv) =>
      val qd = qv.map(_.toDouble)
      (qid, qd, probedClusters(index, qd, nprobe))
    }
    val allClusters = probes.flatMap(_._3).distinct
    val qarr = array(probes.map { case (qid, qd, cids) =>
      struct(lit(qid).as("query_id"), lit(qd).as("qvec"),
        lit(cids.toArray).as("cids"))
    }: _*)
    val scored = index.clustered
      .filter(col("gr_cluster").isin(allClusters: _*))
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol), col("gr_cluster"), explode(qarr).as("__q"), col(vecCol))
      .filter(array_contains(col("__q.cids"), col("gr_cluster")))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        cosine(col(vecCol), col("__q.qvec")).as("cosine"))
    // multi-assigned copies met by several probed clusters of one query
    // rank once (identical cosines — any survivor is right)
    val perQuery = if (index.assignTop > 1)
      scored.dropDuplicates("query_id", idCol) else scored
    perQuery
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Cosine of each row to its NEAREST centroid — the assignment-quality
    * signal the drift telemetry aggregates (zero shuffle, the assignment
    * kernel's own score, so the assigned cluster and its score can never
    * disagree). */
  private def assignedCos(cs: Seq[(Int, Array[Double])], vecCol: String): Column =
    NearestCentroids(col(vecCol), cs, 1).getItem(0).getField("cos")

  /** Nearest-centroid assignment, zero shuffle, through one fused kernel
    * ([[graft.functions.NearestCentroids]]): each row lands in its
    * `assignTop` nearest clusters (one output row per landing). Rank 1 is
    * the argmax (equal scores break to the LARGER cid, a NaN score ranks
    * first), shared by build, append, [[GraphAnn.nswAppend]] and
    * [[Dedup.semDedupAppend]], so identical vectors always land in the
    * same cluster regardless of which path assigned them. `assignTop = 1`
    * keeps the single-copy plan (no explode). */
  private[operators] def assignClusters(df: DataFrame,
      cs: Seq[(Int, Array[Double])], vecCol: String,
      assignTop: Int = 1): DataFrame = {
    // no leading underscore in the column/dir name ON PURPOSE: `_`-prefixed
    // paths read as metadata to graft discovery (and hive), which would
    // hide the cluster dirs from compaction and any graft-side scan
    require(!df.columns.contains("gr_cluster"),
      "input already carries a 'gr_cluster' column — rename it before indexing")
    val ranked = NearestCentroids(col(vecCol), cs, assignTop)
    df.withColumn("gr_cluster",
      if (assignTop == 1) ranked.getItem(0).getField("cid")
      else explode(ranked.getField("cid")))
  }

  /** Sidecar carrying the structural parameters of a persisted IVF index
    * (`dim`, `nlist`) — the values an append MUST match: appending
    * vectors of another dimensionality silently corrupts every cosine
    * (the kernel folds over min(length)), the exact silent-low-recall
    * failure mode the minhash sidecar kills for LSH. Underscore prefix:
    * parquet scans ignore it. */
  val IvfParamsSidecar = "_graft_ivf_params.json"

  private def ivfFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    graft.core.Discovery.fileSystemFor(path, spark.sessionState.newHadoopConf())

  private def readJsonFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toByteArray
    } finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
  }

  private def readIvfSidecarNode(spark: org.apache.spark.sql.SparkSession,
      path: String): com.fasterxml.jackson.databind.JsonNode = {
    val fs = ivfFs(spark, path)
    val sidecar = new org.apache.hadoop.fs.Path(path, IvfParamsSidecar)
    require(fs.exists(sidecar),
      s"no $IvfParamsSidecar at $path — not a graft IVF index " +
        "(persist with ivfWrite so dim/nlist survive)")
    val node = readJsonFile(fs, sidecar)
    Seq("dim", "nlist").foreach(f => require(node.hasNonNull(f),
      s"$IvfParamsSidecar at $path lacks field '$f'"))
    node
  }

  private def readIvfSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    val node = readIvfSidecarNode(spark, path)
    (node.get("dim").asInt, node.get("nlist").asInt)
  }

  /** Persist an IVF index: the clustered frame written PARTITIONED BY
    * `gr_cluster` (so every probe is a partition-pruned scan of nprobe/nlist
    * of the data — the 100 TB serving shape) plus the centroid table and
    * the [[IvfParamsSidecar]] alongside. The sidecar also records the
    * build-time mean assigned cosine (one extra aggregation over the
    * corpus, same codegen'd kernel as assignment) — the baseline
    * [[ivfDriftReport]] compares every appended batch against. */
  def ivfWrite(index: IvfIndex, path: String): Unit = {
    val spark = index.clustered.sparkSession
    import spark.implicits._
    index.clustered.write.mode("overwrite")
      .partitionBy("gr_cluster").parquet(s"$path/data")
    index.centroids.toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val dim = index.centroids.headOption.map(_._2.length).getOrElse(0)
    val buildMeanCos = index.clustered
      .agg(avg(assignedCos(index.centroids, index.vecCol))).head().getDouble(0)
    val fs = ivfFs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, IvfParamsSidecar), true)
    try out.write(
      (s"""{"dim":$dim,"nlist":${index.centroids.size},""" +
        s""""vec_col":"${index.vecCol}","build_mean_cos":$buildMeanCos,""" +
        s""""assign_top":${index.assignTop}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a persisted IVF index. `gr_cluster` comes back as a partition
    * column, so `ivfTopK`'s cluster filter prunes at the file-listing level
    * — EXPLAIN shows only the probed directories are read. The sidecar is
    * required and cross-checked against the centroid table. */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val node = readIvfSidecarNode(spark, path)
    val (dim, nlist) = (node.get("dim").asInt, node.get("nlist").asInt)
    val vecCol =
      if (node.hasNonNull("vec_col")) node.get("vec_col").asText else "embedding"
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(centroids.size == nlist && centroids.forall(_._2.length == dim),
      s"IVF index at $path is inconsistent with its sidecar " +
        s"(dim=$dim nlist=$nlist vs ${centroids.size} centroids)")
    val clustered = applyTombstones(spark, path,
      spark.read.parquet(s"$path/data")
        .withColumn("gr_cluster", col("gr_cluster").cast("int")))
    val assignTop =
      if (node.hasNonNull("assign_top")) node.get("assign_top").asInt else 1
    IvfIndex(centroids, clustered, vecCol, assignTop)
  }

  private val IvfTombstonesDir = "tombstones"

  /** Anti-join the persisted tombstone set (if any) into a data frame —
    * every read path (probe, rebuild corpus, drift) flows through this so
    * a deleted id can never resurface. The tombstone column name IS the
    * id column (recorded at delete time), so no sidecar change is
    * needed. */
  private def applyTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, data: DataFrame): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(path, IvfTombstonesDir)
    if (!ivfFs(spark, path).exists(t)) data
    else {
      val tomb = spark.read.parquet(t.toString)
      require(tomb.columns.length == 1,
        s"tombstone store at $t must carry exactly one id column, " +
          s"got ${tomb.columns.mkString(",")}")
      val c = tomb.columns.head
      require(data.columns.contains(c),
        s"tombstone id column '$c' not in index data columns")
      data.join(tomb.distinct(), Seq(c), "left_anti")
    }
  }

  /** DELETE from a persisted IVF index by tombstoning — the missing CRUD
    * corner of the index lifecycle (build/write/append/compact/rebuild
    * already exist). Ids land as a parquet tombstone set under the index
    * root; EVERY read path ([[ivfRead]], and therefore every probe,
    * batch probe, join, drift report and [[ivfRebuild]] corpus read)
    * anti-joins it, so deletion is immediately visible without touching
    * the `partitionBy(gr_cluster)` data layout. Physical reclamation is
    * [[ivfRebuild]], which rewrites the data without the tombstoned rows
    * and clears the tombstone set in the same staged swap.
    *
    * `ids` is a one-column DataFrame named exactly the index's id column
    * (corpus-scale delete lists stay distributed; no driver literals).
    * Appending the same ids again is harmless (the anti-join
    * deduplicates). Returns the number of ids recorded. */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    val node = readIvfSidecarNode(spark, path) // loud if not an index
    require(ids.columns.length == 1,
      s"ids must be a one-column frame, got ${ids.columns.mkString(",")}")
    // the column name IS the delete key: a frame named after any other
    // stored column (the cluster id, the vector, a label) would anti-join
    // on THAT column and mass-delete whatever it matches — refuse
    // anything but a plausible id column up front
    val c = ids.columns.head
    val vecCol =
      if (node.hasNonNull("vec_col")) node.get("vec_col").asText else "embedding"
    require(c != "gr_cluster" && c != vecCol,
      s"tombstone column '$c' must be the index's ID column — deleting by " +
        "the cluster or vector column would mass-delete by match, not id")
    val stored = spark.read.parquet(s"$path/data").columns.toSet
    require(stored.contains(c),
      s"tombstone column '$c' is not a stored column " +
        s"(${stored.toSeq.sorted.mkString(",")})")
    val n = ids.count()
    ids.distinct().write.mode("append")
      .parquet(new org.apache.hadoop.fs.Path(path, IvfTombstonesDir).toString)
    n
  }

  /** Incrementally add a batch of vectors to a PERSISTED IVF index — the
    * d11/minhash analog for ANN: a growing embedding corpus must not
    * full-rebuild the index per batch. New vectors are assigned to the
    * EXISTING centroids (same kernel, same tie-break as the build) and
    * appended into the `partitionBy(gr_cluster)` layout, so subsequent
    * probes prune to the same nprobe/nlist fraction including the new
    * rows. The append is REPLAY-IDEMPOTENT per `tag`
    * ([[graft.core.TaggedAppend]]: staged write, deterministic per-tag
    * file names inside each cluster directory, prior attempt swept
    * first), so retrying a failed `ivfAppend("daily-2026-08-13")`
    * converges instead of doubling the batch — duplicated index rows
    * would surface as duplicate ids in every later top-k. Rejects loudly
    * on structural mismatch via the sidecar: every batch vector must have
    * the index's dimensionality (checked with one aggregate over the
    * batch — a wrong-dim vector would otherwise score with a truncated
    * cosine forever), and the batch schema must equal the stored schema.
    * Centroids are NOT refined here (standard IVF practice:
    * assignment-only append, periodic rebuild if drift matters); appended
    * rows shift no existing cluster ids. Returns the number of rows
    * appended. */
  def ivfAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      tag: String): Long = {
    graft.core.TaggedAppend.requireSafeTag(tag)
    val (dim, nlist) = readIvfSidecar(spark, path)
    val stored0 = ivfRead(spark, path)
    val centroids = stored0.centroids
    require(centroids.size == nlist, s"centroid table at $path has " +
      s"${centroids.size} rows but the sidecar claims nlist=$nlist")
    val stored = spark.read.parquet(s"$path/data")
    val expectedCols = stored.columns.toSet - "gr_cluster"
    require(newVecs.columns.toSet == expectedCols,
      s"append schema ${newVecs.columns.sorted.mkString(",")} must equal " +
        s"the stored schema ${expectedCols.toSeq.sorted.mkString(",")}")
    val bad = newVecs.filter(size(col(vecCol)) =!= dim || col(vecCol).isNull)
      .limit(1).count()
    require(bad == 0,
      s"batch contains vectors whose dimensionality differs from the " +
        s"index's dim=$dim — appending them would silently truncate every " +
        "cosine; fix the batch or rebuild the index")
    // a tombstoned id is invisible to every probe, and a rebuild purges it
    // TOGETHER with the tombstone — an append of such an id would be
    // silently undone by the next rebuild. Delete-then-re-add must be
    // explicit: rebuild first (clears the spent set), then append.
    val tomb = new org.apache.hadoop.fs.Path(path, IvfTombstonesDir)
    if (ivfFs(spark, path).exists(tomb)) {
      val tombIds = spark.read.parquet(tomb.toString)
      val c = tombIds.columns.head
      val conflicts = newVecs.join(tombIds.distinct(),
        newVecs(idCol) === tombIds(c), "left_semi").limit(1).count()
      require(conflicts == 0,
        s"batch re-adds tombstoned id(s): the next ivfRebuild would purge " +
          "them together with the tombstone set, silently undoing this " +
          "append. Rebuild first (physically reclaiming deletes and " +
          "clearing the tombstones), then append the corrected rows.")
    }
    // persist for the duration of the call: the append and the drift
    // telemetry are two actions over this frame, and a non-deterministic
    // batch (changing source, sample) re-evaluated per action could record
    // telemetry disagreeing with what was actually appended. The batch
    // multi-assigns exactly like the build did (sidecar assign_top), so
    // appended rows keep the index's boundary-recall contract.
    val assigned =
      assignClusters(newVecs, centroids, vecCol, stored0.assignTop).persist()
    try {
      graft.core.TaggedAppend.append(assigned, s"$path/data", tag,
        Seq("gr_cluster"))
      // drift telemetry: the batch's mean cosine to its assigned centroids
      // (one aggregation over the BATCH, same kernel as assignment), recorded
      // per tag so replay overwrites rather than duplicates. The frozen
      // centroids never see post-build distribution shift otherwise — recall
      // floors only measure the build corpus.
      val stats = assigned.agg(
        avg(assignedCos(centroids, vecCol)).as("mean_cos"),
        count(lit(1)).as("rows")).head()
      val rows = stats.getLong(1)
      val meanCos = if (stats.isNullAt(0)) "null" else stats.getDouble(0).toString
      val fs = ivfFs(spark, path)
      val rec = fs.create(new org.apache.hadoop.fs.Path(
        s"$path/$IvfDriftDir", s"$tag.json"), true)
      try rec.write(s"""{"tag":"$tag","rows":$rows,"mean_cos":$meanCos}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally rec.close()
      rows
    } finally assigned.unpersist(blocking = false)
  }

  /** Per-append drift records live here (one tiny json per tag; underscore
    * prefix keeps parquet scans and graft discovery away). */
  val IvfDriftDir = "_graft_ivf_drift"

  /** Drift report for a persisted, appended-to IVF index: one row per
    * append tag with the batch's mean assigned cosine against the
    * build-time baseline from the sidecar. `drifted` flags batches whose
    * mean cosine fell more than `maxDrop` below the build mean — appends
    * drawn from a shifted distribution land far from every frozen
    * centroid, which is exactly the silent-recall-degradation signal the
    * frozen-centroid contract can't otherwise see. A flagged report is
    * the re-cluster trigger (rebuild with [[ivfBuild]] + [[ivfWrite]]).
    * Driver-side work is bounded: one tiny json per append tag.
    *
    * The baseline is IN-SAMPLE (Lloyd refined on exactly those rows), so
    * fresh same-distribution data sits a generalization gap below it: on
    * corpora with real cluster structure the gap is small and the default
    * `maxDrop` is fine (DriftSpec pins this), but on near-orthogonal
    * random vectors — ANN's worst case — the in-sample bias alone is
    * ~0.1 (RecallSpec measures it); calibrate `maxDrop` to a known-clean
    * append before alerting on such corpora. */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession, path: String,
      maxDrop: Double = 0.05): DataFrame = {
    import spark.implicits._
    val node = readIvfSidecarNode(spark, path)
    require(node.hasNonNull("build_mean_cos"),
      s"$IvfParamsSidecar at $path predates drift telemetry — re-persist " +
        "with ivfWrite to record the build-time baseline")
    val base = node.get("build_mean_cos").asDouble
    val fs = ivfFs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, IvfDriftDir)
    val recs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json"))
        .map { st =>
          val n = readJsonFile(fs, st.getPath)
          (n.get("tag").asText, n.get("rows").asLong,
            if (n.hasNonNull("mean_cos")) Some(n.get("mean_cos").asDouble) else None)
        }.sortBy(_._1)
    recs.toDF("tag", "rows", "mean_cos")
      .withColumn("build_mean_cos", lit(base))
      .withColumn("cos_drop", lit(base) - col("mean_cos"))
      .withColumn("drifted", col("cos_drop") > maxDrop)
  }

  /** Sweep a failed [[ivfAppend]] attempt's files (see
    * [[graft.core.TaggedAppend.abort]]). The streaming ingest calls this
    * implicitly via the append; exposed for manual cleanup. */
  def ivfAbortAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, tag: String): Int =
    graft.core.TaggedAppend.abort(ivfFs(spark, s"$path/data"),
      s"$path/data", tag)

  /** Compact an appended-to IVF index's small files: per-batch tagged
    * appends leave one-or-few small files per (batch, cluster), and a
    * long-running ingest accumulates them — listing and scan overhead at
    * probe time. Delegates to [[graft.api.Graft.compactPartitionedTable]]
    * on the `gr_cluster=` layout (metadata-only candidate selection,
    * per-cluster narrow coalesce rewrites, move-in-before-delete commit);
    * centroids and sidecar are untouched. Run it on a QUIESCED index only
    * — compaction renames data files, so a concurrent tagged append's
    * crash-replay bookkeeping (which sweeps by file name) no longer sees
    * its own files — and note it SEALS every previously-appended tag (the
    * rewrite strips tag prefixes): never reuse a pre-compaction tag after
    * it, use fresh batch ids ([[graft.core.TaggedAppend]]'s contract).
    * Returns the compaction stats. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): graft.api.CompactionStats =
    graft.api.Graft.compactPartitionedTable(spark, s"$path/data",
      targetFileBytes)

  /** Rebuild a persisted IVF index IN PLACE — the operator a flagged
    * [[ivfDriftReport]] calls for: re-cluster the full current corpus
    * (build rows + every append) with fresh Lloyd refinement, so frozen
    * centroids catch up with a shifted distribution. The serving path is
    * never overwritten blind:
    *
    *  1. STAGE — the re-clustered layout (data/centroids/sidecar) writes
    *     to a hidden staging dir under the index root;
    *  2. VERIFY — staged row count must equal the live count, and a
    *     probe against the staged index must return; a verification
    *     failure leaves the live index untouched;
    *  3. SWAP — live dirs move aside, staged dirs move in, THEN the
    *     retired copy is deleted (the compaction commit pattern:
    *     new-in-before-old-gone, so a crash leaves a recoverable extra
    *     copy, never a missing index);
    *  4. RESET — append drift records are cleared (they measured the OLD
    *     centroids) and the sidecar records `generation` + the NEW
    *     build-time mean cosine, so the next [[ivfDriftReport]] compares
    *     fresh appends against the rebuilt baseline.
    *
    * Same quiesce contract as [[ivfCompact]]: single writer, no
    * concurrent appends/probes during the swap window. `nlist = 0` keeps
    * the stored cluster count. Returns the reloaded post-swap index. */
  def ivfRebuild(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      nlist: Int = 0,
      seed: Long = 42L,
      iterations: Int = 2): IvfIndex = {
    val node = readIvfSidecarNode(spark, path)
    val vecCol =
      if (node.hasNonNull("vec_col")) node.get("vec_col").asText else "embedding"
    val gen =
      if (node.hasNonNull("generation")) node.get("generation").asInt else 1
    val useNlist = if (nlist > 0) nlist else node.get("nlist").asInt
    val useTop =
      if (node.hasNonNull("assign_top")) node.get("assign_top").asInt else 1
    val fs = ivfFs(spark, path)
    def p(child: String) = new org.apache.hadoop.fs.Path(path, child)
    val staging = p(".graft_rebuild_staging")
    val retired = p(".graft_rebuild_retired")
    require(!fs.exists(retired),
      s"$retired exists — a previous rebuild crashed mid-swap; recover " +
        "manually (inspect which copy is complete) before rebuilding again")
    fs.delete(staging, true) // sweep a previous attempt that died pre-swap
    // tombstoned rows must not resurrect into the rebuilt index; a
    // multi-assigned layout stores assignTop copies per id — rebuild
    // from the DISTINCT-id corpus and re-multi-assign fresh
    val stored = applyTombstones(spark, path,
      spark.read.parquet(s"$path/data")).drop("gr_cluster")
    val corpus = if (useTop > 1) stored.dropDuplicates(idCol) else stored
    require(corpus.columns.contains(idCol) && corpus.columns.contains(vecCol),
      s"stored schema ${corpus.columns.mkString(",")} lacks $idCol/$vecCol")
    val liveCount = corpus.count()
    ivfWrite(ivfBuild(corpus, idCol, vecCol, useNlist, seed, iterations,
      assignTop = useTop), staging.toString)
    // verify the staged copy before touching the live one (every distinct
    // id lands exactly assignTop times in the multi-assigned layout)
    val stagedCount = spark.read.parquet(s"$staging/data").count()
    require(stagedCount == liveCount * useTop,
      s"staged rebuild has $stagedCount rows vs live $liveCount × " +
        s"assignTop=$useTop — refusing to swap (staging dir left for " +
        "inspection)")
    val probeVec = spark.read.parquet(s"$staging/data")
      .select(col(vecCol)).head().getSeq[Any](0).map {
        case f: Float => f
        case d: Double => d.toFloat
      }.toArray
    require(ivfTopK(ivfRead(spark, staging.toString), idCol, vecCol,
        probeVec, k = 1).count() == 1,
      "staged rebuild failed its probe — refusing to swap")
    // swap: move live aside, move staged in, only then delete the retired
    // copy (a crash mid-swap leaves an extra copy, never a missing index)
    fs.mkdirs(retired)
    def move(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path) =
      require(fs.rename(src, dst), s"rebuild swap: rename $src -> $dst failed")
    move(p("data"), new org.apache.hadoop.fs.Path(retired, "data"))
    move(p("centroids"), new org.apache.hadoop.fs.Path(retired, "centroids"))
    move(new org.apache.hadoop.fs.Path(staging, "data"), p("data"))
    move(new org.apache.hadoop.fs.Path(staging, "centroids"), p("centroids"))
    // drift records measured the RETIRED centroids — clear before the new
    // baseline lands so a crash window can only under-report, never
    // compare stale records against the new baseline
    fs.delete(p(IvfDriftDir), true)
    // the rebuild physically dropped the tombstoned rows — the set is
    // spent (leaving it would re-filter ids that may later be re-added)
    fs.delete(p(IvfTombstonesDir), true)
    val staged = readJsonFile(fs, new org.apache.hadoop.fs.Path(staging,
      IvfParamsSidecar))
    val out = fs.create(p(IvfParamsSidecar), true)
    try out.write(
      (s"""{"dim":${staged.get("dim").asInt},""" +
        s""""nlist":${staged.get("nlist").asInt},""" +
        s""""vec_col":"${staged.get("vec_col").asText}",""" +
        s""""build_mean_cos":${staged.get("build_mean_cos").asDouble},""" +
        s""""assign_top":${staged.get("assign_top").asInt},""" +
        s""""generation":${gen + 1}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(staging, true)
    fs.delete(retired, true)
    ivfRead(spark, path)
  }

  /** Deterministic seeded plane matrix shared by the fused kernel and the
    * HOF reference — bucket assignments depend on these exact doubles, so
    * both formulations must draw them identically. */
  private[graft] def hyperplanes(dim: Int, numPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Seeded random hyperplanes (Gaussian); returns the sign-bit sketch of a
    * vector as a long (numPlanes <= 63). Fused kernel
    * ([[graft.functions.HyperplaneSketchExpr]]): ONE pass over the vector
    * computes every plane's dot — the HOF formulation below is numPlanes
    * interpreted traversals per row. */
  def hyperplaneSketch(vec: Column, dim: Int, numPlanes: Int, seed: Long): Column = {
    require(numPlanes <= 63, "sketch packs into one long")
    graft.functions.HyperplaneSketchExpr(vec, hyperplanes(dim, numPlanes, seed))
  }

  /** Composable higher-order-function formulation — the parity REFERENCE
    * for the property test (Catalyst HOFs are interpreted; not the hot
    * path). */
  private[graft] def hyperplaneSketchHof(
      vec: Column, dim: Int, numPlanes: Int, seed: Long): Column = {
    require(numPlanes <= 63, "sketch packs into one long")
    val bits = hyperplanes(dim, numPlanes, seed).zipWithIndex.map { case (p, i) =>
      val d = aggregate(
        zip_with(vec, lit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Distributed ANN JOIN: top-k nearest corpus rows for EVERY row of a
    * query TABLE — no driver-side query literals, so the query side can be
    * any size (the batch paths [[batchBruteTopK]]/[[ivfBatchTopK]] ship
    * queries as driver literals and cap out at hundreds).
    *
    * Scale shape: both sides are sketched map-side (codegen'd hyperplane
    * kernel, shared seed), the QUERY side fans out to its multi-probe
    * buckets (sketch ⊕ each Hamming-≤`maxHamming` mask — a driver-side
    * mask list, `Σ C(numPlanes, i)` probes per query), and candidates
    * come from ONE shuffle equi-join on the bucket value — never a
    * cross join, never a broadcast of either side. Each (query,
    * candidate) pair matches through exactly one mask (the mask IS
    * qsketch⊕csketch), so no dedup pass is needed. Exact cosine then
    * ranks per query with the WindowGroupLimit rewrite (≤ k rows per
    * query per partition through the final shuffle).
    *
    * Trade-offs at 100 TB: bucket skew is the risk to watch — a hot
    * bucket (near-duplicate cluster, degenerate region of the embedding
    * space) concentrates both sides on one shuffle task. Mitigations, in
    * order: raise `numPlanes` to split buckets structurally, or set
    * `saltFactor > 1` to pre-salt the CORPUS side — each corpus row gets
    * one deterministic salt (`xxhash64(id) mod saltFactor`), each query
    * probe fans out to ALL `saltFactor` salts, and the join key becomes
    * (bucket, salt), spreading a hot bucket's corpus rows over
    * `saltFactor` tasks. Results are IDENTICAL to the unsalted join —
    * every (probe, corpus row) pair still meets exactly once — at the
    * cost of query-side fan-out ×saltFactor (the probe side is the
    * narrow one: id + vector + mask list). Measure first:
    * [[graft.operators.Skew.topKeys]] over the corpus sketch column
    * costs one map-side sketch pass and tells you the hot-bucket share.
    * Recall follows the lshTopK parameter trade-offs (RecallSpec
    * measures them). Returns (queryIdCol, corpusIdCol, cosine, rank). */
  def annJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      numPlanes: Int = 8,
      maxHamming: Int = 1,
      seed: Long = 42L,
      saltFactor: Int = 1): DataFrame = {
    require(numPlanes <= 63, "sketch packs into one long")
    require(maxHamming >= 0 && maxHamming <= 2,
      "maxHamming in {0,1,2} — larger probe sets square the fan-out; " +
        "re-bucket with fewer planes instead")
    require(saltFactor >= 1, "saltFactor must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val masks: Seq[Long] = {
      val singles = (0 until numPlanes).map(i => 1L << i)
      val pairs = for {
        i <- 0 until numPlanes; j <- i + 1 until numPlanes
      } yield (1L << i) | (1L << j)
      Seq(0L) ++ (if (maxHamming >= 1) singles else Nil) ++
        (if (maxHamming >= 2) pairs else Nil)
    }
    val sketch = hyperplaneSketch(col(vecCol), dim, numPlanes, seed)
    val qsBase = queries.select(col(queryIdCol), col(vecCol).as("__qvec"),
        sketch.as("__qsk"))
      .select(col(queryIdCol), col("__qvec"),
        explode(array(masks.map(m => col("__qsk").bitwiseXOR(lit(m))): _*))
          .as("__bucket"))
    val (qs, cs, joinKeys) =
      if (saltFactor == 1)
        (qsBase,
          corpus.select(col(corpusIdCol), col(vecCol).as("__cvec"),
            sketch.as("__bucket")),
          Seq("__bucket"))
      else
        (qsBase.withColumn("__salt",
            explode(sequence(lit(0L), lit(saltFactor - 1L)))),
          corpus.select(col(corpusIdCol), col(vecCol).as("__cvec"),
            sketch.as("__bucket"),
            Skew.saltOf(col(corpusIdCol), saltFactor).as("__salt")),
          Seq("__bucket", "__salt"))
    qs.join(cs, joinKeys)
      .select(col(queryIdCol), col(corpusIdCol),
        cosine(col("__qvec"), col("__cvec")).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(desc("cosine"), col(corpusIdCol))))
      .filter(col("rank") <= k)
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: for every
    * anchor, the `k` most-similar corpus rows that are NOT near-duplicates
    * — similar enough to be informative negatives, distinct enough not to
    * be false negatives (the InfoNCE/DPR curation step). Built on
    * [[annJoin]]'s sketch-bucketed candidate generation, then two exact
    * filters on the kernel cosine — `cosine < dupCosine` (near-dup
    * exclusion) and optional `floorCosine` (drop easy negatives) — and a
    * fresh per-anchor rank over the survivors (re-ranked AFTER the
    * filters, so each anchor still yields up to k usable negatives rather
    * than k-minus-the-excluded).
    *
    * Fully deterministic: candidates, cosines and id tiebreaks are
    * annJoin's (SQL-replayable — the t45 gate replays sketches, filters
    * and re-rank from the persisted plane fixture); the thresholds
    * compare the same doubles on every engine. Candidate recall follows
    * annJoin's bucket contract — raise `candidateK`/`maxHamming` for
    * deeper pools. Returns (queryIdCol, corpusIdCol, cosine, rank ≤ k). */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      dupCosine: Double,
      floorCosine: Double = -1.0,
      candidateK: Int = 64,
      numPlanes: Int = 8,
      maxHamming: Int = 1,
      seed: Long = 42L): DataFrame = {
    require(dupCosine > floorCosine,
      s"dupCosine $dupCosine must exceed floorCosine $floorCosine")
    require(candidateK >= k, s"candidateK $candidateK must be >= k=$k")
    import org.apache.spark.sql.expressions.Window
    annJoin(queries, corpus, queryIdCol, corpusIdCol, vecCol, dim,
        k = candidateK, numPlanes = numPlanes, maxHamming = maxHamming,
        seed = seed)
      .filter(col("cosine") < dupCosine && col("cosine") >= floorCosine)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(desc("cosine"), col(corpusIdCol))))
      .filter(col("rank") <= k)
  }

  /** [[annJoin]]'s routed counterpart: top-k nearest corpus rows for every
    * row of a query TABLE against an IVF index. Probe routing happens
    * EXECUTOR-side — each query row ranks the literal centroid list with
    * the codegen'd cosine kernel (an array of (−score, cid) structs,
    * sorted ascending = score descending with the build's lower-cid tie
    * contract) and explodes to its `nprobe` cluster ids; candidates come
    * from one shuffle equi-join on `gr_cluster`. No driver collect of
    * queries, no cross join. Per-query semantics equal [[ivfTopK]]
    * (spec-pinned). With table-scale query sides every cluster is
    * somebody's probe, so the corpus legitimately shuffles once — the
    * index's value here is CANDIDATE REDUCTION (each query scores
    * nprobe/nlist of the corpus), not partition pruning. k-means clusters
    * are naturally UNBALANCED, so a dominant cluster concentrates its
    * candidates on one shuffle task: `saltFactor > 1` spreads each
    * cluster's corpus rows over that many tasks (deterministic
    * `xxhash64(id) mod saltFactor` salt on the corpus side, probe
    * fan-out ×saltFactor on the query side — [[annJoin]]'s exact
    * contract, results identical to unsalted). Returns
    * (queryIdCol, corpusIdCol, cosine, rank). */
  def ivfJoin(
      queries: DataFrame,
      index: IvfIndex,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      saltFactor: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= index.centroids.size,
      s"nprobe must be in [1, nlist=${index.centroids.size}]")
    require(saltFactor >= 1, "saltFactor must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val scored = array(index.centroids.map { case (cid, c) =>
      struct((-cosine(col(vecCol), lit(c))).as("ns"), lit(cid).as("cid"))
    }: _*)
    val probes = slice(sort_array(scored), 1, nprobe)
    val qsBase = queries.select(col(queryIdCol), col(vecCol).as("__qvec"),
      explode(probes.getField("cid")).as("gr_cluster"))
    val csBase = index.clustered.select(col(corpusIdCol),
      col(vecCol).as("__cvec"), col("gr_cluster"))
    val (qs, cs, joinKeys) =
      if (saltFactor == 1) (qsBase, csBase, Seq("gr_cluster"))
      else
        (qsBase.withColumn("__salt",
            explode(sequence(lit(0L), lit(saltFactor - 1L)))),
          csBase.withColumn("__salt",
            Skew.saltOf(col(corpusIdCol), saltFactor)),
          Seq("gr_cluster", "__salt"))
    val pairs = qs.join(cs, joinKeys)
      .select(col(queryIdCol), col(corpusIdCol),
        cosine(col("__qvec"), col("__cvec")).as("cosine"))
    // multi-assigned corpus copies can meet one query in two probed
    // clusters — rank each (query, corpus) pair once
    val perQuery = if (index.assignTop > 1)
      pairs.dropDuplicates(queryIdCol, corpusIdCol) else pairs
    perQuery
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(desc("cosine"), col(corpusIdCol))))
      .filter(col("rank") <= k)
  }

  /** ANN via hyperplane LSH: scan only rows whose sketch is within
    * `maxHammingProbe` bits of the query's sketch, then exact cosine top-k
    * on that candidate set. probe=0 scans a single bucket. */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 12,
      maxHammingProbe: Int = 2,
      seed: Long = 42L,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    // query sketch computed driver-side with the same seeded planes — drawn
    // through the SAME helper as the row sketches (bucket assignment
    // depends on these exact doubles; a second draw-site is a silent
    // desynchronization waiting to happen)
    val planes = hyperplanes(dim, numPlanes, seed)
    val qSketch = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (w, x) => w * x.toDouble }.sum
      if (d >= 0) 1L << i else 0L
    }.reduce(_ | _)

    val sketch = hyperplaneSketch(col(vecCol), dim, numPlanes, seed)
    val candidates = df
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .withColumn("__sketch", sketch)
      .filter(bit_count(col("__sketch").bitwiseXOR(lit(qSketch))) <= maxHammingProbe)

    val q = lit(query.map(_.toDouble))
    val scored = candidates
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
    scored.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("cosine"), col(idCol))))
  }

  /** Maximal-Marginal-Relevance diversity re-rank (Carbonell & Goldstein,
    * SIGIR'98) over per-query candidate lists: greedily pick `k` results,
    * each step maximizing `λ·relevance − (1−λ)·max cosine to the already-
    * picked set` — the standard de-redundancy pass between ANN retrieval
    * and serving/RAG context assembly.
    *
    * Greedy selection is inherently sequential in k but NOT in queries or
    * candidates — and a candidate list is by definition the OUTPUT of ANN
    * serving (topN per query), so one query's list is bounded and fits one
    * task. The operator therefore runs as ONE grouped kernel for every id
    * and query type: Catalyst's own grouping and sort (one hash exchange
    * on the query, then a sort on (query, id)) hand each query's
    * candidates to one task in ascending id order, which runs all k
    * greedy rounds in memory with the IDENTICAL double arithmetic as a
    * SQL round-by-round replay (sequential-fold cosine, λ·rel − (1−λ)·max,
    * ties to the earlier — smaller-id — candidate, SQL null semantics:
    * null scores order last, null cosines are ignored by the max).
    * `maxCandidatesPerQuery` REFUSES loudly (the nswBuild doctrine) if a
    * "candidate list" arrives corpus-sized — the default (65536) is
    * shortlist-scale so the refusal fires while one task buffers the
    * list, before it holds executor-threatening vectors. The default
    * used to be 1<<20 (1,048,576): a call with more than 65536
    * candidates for one query that passed under the old default now
    * refuses; pass a larger cap explicitly to keep it.
    *
    * Degenerate-input contract: query values group as SQL `GROUP BY`
    * groups them (-0.0 with 0.0, NaNs together, binary by content, all
    * nulls as one query); ties break to the smaller id in Catalyst's
    * ascending order (nulls first, strings by UTF-8 bytes, binary by
    * unsigned bytes); (query, id) pairs must be unique — duplicate rows
    * are separate candidates, each pickable once. ANN serving output
    * (the operator's input by definition) has unique pairs.
    *
    * λ defaults to 0.5 (exact in IEEE), so selection is deterministic
    * and replayable by any engine with the same double cosine — the a11
    * gate's DuckDB oracle replays all k rounds unrolled. Returns
    * (queryCol, idCol, step 1..k).
    */
  def mmrRerank(
      candidates: DataFrame,
      queryCol: String,
      idCol: String,
      vecCol: String,
      relCol: String,
      k: Int,
      lambda: Double = 0.5,
      maxCandidatesPerQuery: Int = 1 << 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val proj = candidates.select(
      col(queryCol).as("__q"), col(idCol).as("__id"),
      col(vecCol).as("__v"), col(relCol).cast("double").as("__rel"))
    val outSchema = StructType(Seq(
      proj.schema("__q").copy(name = queryCol),
      proj.schema("__id").copy(name = idCol),
      StructField("step", IntegerType, nullable = false)))
    val kk = k; val lam = lambda; val cap = maxCandidatesPerQuery
    // the sequential-fold cosine of graft.functions.CosineSimilarity,
    // bit-identical (float/int elements pre-cast to double — exact)
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val n = math.min(x.length, y.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def toVec(v: Any): Array[Double] = v match {
      case null => null
      case s: scala.collection.Seq[_] => s.iterator.map {
        case null => 0.0
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case i: java.lang.Integer => i.toDouble
        case o => o.asInstanceOf[Number].doubleValue()
      }.toArray
      case o => throw new IllegalArgumentException(
        s"mmrRerank: $vecCol must be an array column, got ${o.getClass}")
    }
    // Catalyst's grouping and sort: one exchange on __q, each group's
    // candidates in ascending id order (nulls first)
    val groups = proj.groupBy(col("__q")).as[Row, Row](
      Encoders.row(StructType(Seq(proj.schema("__q")))), Encoders.row(proj.schema))
    groups.flatMapSortedGroups(col("__id")) { (key, it) =>
      val rows = new scala.collection.mutable.ArrayBuffer[
        (Any, Array[Double], java.lang.Double)]()
      for (r <- it) {
        require(rows.length < cap,
          s"mmrRerank: a query's candidate list exceeds " +
            s"maxCandidatesPerQuery=$cap — MMR is a RERANK of a bounded " +
            "shortlist; cut candidates upstream (ANN topN) rather than " +
            "raising the cap")
        rows += ((r.get(1), toVec(r.get(2)),
          if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3))))
      }
      val picked = new Array[Boolean](rows.length)
      val pickedVecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val out = new scala.collection.mutable.ArrayBuffer[Row](kk)
      var step = 1
      var more = true
      while (step <= kk && more) {
        // score = rel on the first pick, λ·rel − (1−λ)·max-cos after;
        // SQL semantics: null rel/msim → null score, null scores last;
        // only a strictly better score displaces the earlier candidate
        var best = -1
        var bestScore: java.lang.Double = null
        for (i <- rows.indices if !picked(i)) {
          val c = rows(i)
          val score: java.lang.Double =
            if (step == 1) c._3
            else if (c._3 == null) null
            else {
              var msim: java.lang.Double = null
              if (c._2 != null) {
                var j = 0
                while (j < pickedVecs.length) {
                  val pv = pickedVecs(j)
                  if (pv != null) {
                    val s = cos(c._2, pv)
                    if (msim == null || java.lang.Double.compare(s, msim) > 0)
                      msim = s
                  }
                  j += 1
                }
              }
              if (msim == null) null
              else lam * c._3.doubleValue() -
                (1.0 - lam) * msim.doubleValue()
            }
          val better = best < 0 || (score != null &&
            (bestScore == null || java.lang.Double.compare(score, bestScore) > 0))
          if (better) { best = i; bestScore = score }
        }
        if (best < 0) more = false
        else {
          picked(best) = true
          pickedVecs += rows(best)._2
          out += Row(key.get(0), rows(best)._1, step)
          step += 1
        }
      }
      out.iterator
    }(Encoders.row(outSchema)).toDF()
  }
}
