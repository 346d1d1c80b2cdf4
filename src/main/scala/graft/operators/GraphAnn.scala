package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph ANN inside the IVF layout: a deterministic navigable-small-world
  * (NSW) graph PER CLUSTER, probed by centroid routing + greedy beam
  * search — the serving-index shape recall/latency-critical retrieval
  * wants, completed per-cluster so it composes with everything the IVF
  * family already provides (partitioned persistence, pruned probes,
  * tombstones on the base layout, append-then-rebuild discipline).
  *
  * Why per-cluster instead of one global hierarchical graph: HNSW's upper
  * layers exist to ROUTE a query into the right neighborhood in O(log n)
  * hops; here the IVF centroid routing already does exactly that (driver-
  * side argmax over nlist centroids), so the hierarchy would duplicate
  * machinery the index has. What remains per cluster is the base-layer
  * neighborhood graph, which is the part that actually buys beam-search
  * locality — and building it per cluster keeps construction
  * embarrassingly parallel (one executor task per cluster, zero shuffle
  * beyond the existing `gr_cluster` partitioning) and bounds memory by
  * cluster width, the same contract as [[Dedup.semDedup]]'s pair scan.
  * At 100 TB the adjacency frame persists PARTITIONED BY `gr_cluster`
  * beside the vectors, so a probe reads nprobe/nlist of both.
  *
  * Everything is deterministic: nodes insert in ascending id order, every
  * priority is `(cosine desc, id asc)`, and degree pruning keeps the
  * nearest `2m` — so the graph (and therefore every probe) is a pure
  * function of the clustered frame, replayable across partitionings.
  * Connectivity invariant: each inserted node links to ≥ 1 earlier node,
  * so every node reaches the entry (the cluster's min id) and a beam of
  * `ef ≥ |cluster|` degenerates to EXACT per-cluster search — the `a15`
  * gate exploits that to pin the whole build+walk+merge path against a
  * planted-truth oracle, while GraphAnnSpec pins the approximate regime.
  */
object GraphAnn {

  /** A built per-cluster NSW graph over an IVF index: `adjacency` is
    * `(gr_cluster, id, neighbors array<long>)`, one row per vector. */
  final case class NswIndex(
      base: Ann.IvfIndex,
      adjacency: DataFrame,
      idCol: String,
      m: Int,
      efConstruction: Int)

  /** Build the per-cluster graphs. `m` is the out-degree target on
    * insertion (degrees are pruned to `2m` as later nodes link back);
    * `efConstruction` is the build-time beam width — wider finds truer
    * neighbors for the links, at linear build cost.
    *
    * One `groupByKey(gr_cluster)` pass; each cluster builds in memory on
    * its executor (ids + vectors + adjacency), which requires clusters
    * sized for one task — the IVF doctrine already demands that (scale
    * nlist with the corpus); `maxClusterNodes` REFUSES loudly instead of
    * silently dropping data, because an index missing a cluster would
    * serve wrong results forever after. */
  def nswBuild(
      index: Ann.IvfIndex,
      idCol: String,
      m: Int = 8,
      efConstruction: Int = 32,
      maxClusterNodes: Int = 1 << 20): NswIndex = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(efConstruction >= m,
      s"efConstruction ($efConstruction) must be >= m ($m)")
    // assignTop > 1 composes: a soft copy is a graph node in EACH of its
    // clusters (per-cluster ids stay unique — multi-assignment lands a
    // row in distinct clusters), probes dedup results by id, and the
    // staleness witness hashes (cluster, id) so copies cannot cancel
    val spark = index.clustered.sparkSession
    import spark.implicits._
    val mm = m
    val efc = efConstruction
    val cap = maxClusterNodes
    // the oversized-cluster guard runs INSIDE the build kernel (counting
    // while buffering, refusing before the buffer exceeds the cap) — the
    // former separate groupBy+collect pre-check cost one full eager pass
    // over the clustered frame per build (r20 optimization round, guide
    // §1.2). Same loud refusal, surfaced at the first action instead of
    // at build-call time.
    val adj = index.clustered
      .select(col("gr_cluster").cast("int").as("c"),
        col(idCol).cast("long").as("i"),
        col(index.vecCol).cast("array<double>").as("v"))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
        for (t <- it) {
          require(buf.length < cap,
            s"cluster $cid exceeds maxClusterNodes=$cap — a graph over it " +
              "would not fit one task. Rebuild the IVF index with a larger " +
              "nlist (the SemDeDup scaling recipe) rather than raising the " +
              "cap.")
          buf += ((t._2, t._3.toArray))
        }
        val nodes = buf.toArray.sortBy(_._1)
        buildCluster(nodes, mm, efc).map { case (id, ns) => (cid, id, ns) }
      }
      .toDF("gr_cluster", "id", "neighbors")
    NswIndex(index, adj, idCol, m, efConstruction)
  }

  /** Beam search against the graph index: centroid-route to `nprobe`
    * clusters, walk each cluster's graph from its entry with beam `ef`,
    * exact-cosine top-k over the union of the walks' candidates.
    * `excludeIds` drop from the RESULTS only — an excluded node still
    * routes the walk (removing it would change the graph, unlike
    * [[Ann.ivfTopK]]'s pre-scan filter). Returns (idCol, cosine, rank),
    * the [[Ann.ivfTopK]] shape. */
  def nswTopK(
      nsw: NswIndex,
      query: Array[Float],
      k: Int,
      nprobe: Int = 4,
      ef: Int = 64,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(k >= 1 && ef >= k, s"need ef ($ef) >= k ($k) >= 1")
    val spark = nsw.base.clustered.sparkSession
    import spark.implicits._
    val qd = query.map(_.toDouble)
    val probed = nsw.base.centroids
      .sortBy { case (_, c) => -Ann.centroidCos(c, qd) }
      .take(nprobe).map(_._1)
    val rows = nsw.base.clustered
      .filter(col("gr_cluster").isin(probed: _*))
      .select(col("gr_cluster").cast("int").as("c"),
        col(nsw.idCol).cast("long").as("id"),
        col(nsw.base.vecCol).cast("array<double>").as("v"))
    val graph = nsw.adjacency
      .filter(col("gr_cluster").isin(probed: _*))
      .select(col("gr_cluster").cast("int").as("c"), col("id"),
        col("neighbors"))
    val excluded = excludeIds.toSet
    val beam = ef
    val hits = rows.join(graph, Seq("c", "id"))
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val nodes = it.toArray.sortBy(_._2)
        if (nodes.isEmpty) Iterator.empty
        else {
          val pos = nodes.iterator.zipWithIndex.map { case (n, p) => n._2 -> p }.toMap
          val vecs = nodes.map(_._3.toArray)
          val adj = nodes.map(_._4.iterator.flatMap(pos.get).toArray.toSeq)
          searchLayer(vecs, adj, entry = 0, qd, beam)
            .iterator
            .map { case (cos, p) => (nodes(p)._2, cos) }
            .filterNot { case (id, _) => excluded.contains(id) }
        }
      }
      .toDF(nsw.idCol, "cosine")
    // soft multi-assignment stores a row in several clusters: two probed
    // walks can both surface it (identical cosine — any survivor is
    // right); dedup only when copies can exist, keeping the simple plan
    // at assignTop = 1 — the ivfTopK convention
    val unique =
      if (nsw.base.assignTop > 1) hits.dropDuplicates(nsw.idCol) else hits
    unique.orderBy(desc("cosine"), col(nsw.idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cosine"), col(nsw.idCol))))
  }

  // -------------------------------------------------------- persistence

  /** Sidecar carrying the graph parameters and the STALENESS WITNESS of
    * the base rows the graph was built over: the row count AND an
    * order-independent id checksum (xor of `xxhash64(id)`). An
    * [[Ann.ivfAppend]] adds vectors but not graph rows, and probing a
    * stale graph silently never surfaces the appended vectors — the
    * silent-low-recall failure mode this engine refuses everywhere. The
    * checksum closes the count-only blind spot: a tombstone-delete of k
    * rows followed by an append of k rows leaves the count equal while
    * the graph is doubly wrong (appends invisible, a tombstoned chain
    * node can disconnect a cluster) — the xor of id hashes changes unless
    * the id SET is unchanged. */
  val NswParamsSidecar = "_graft_nsw_params.json"

  /** `(rows, xor checksum)` over one frame — the witness both sides of
    * the staleness comparison compute. With `perCopy` unset the checksum
    * is xor of `xxhash64(id)` (ids hash at long type on both sides, so
    * the base's id column type cannot skew the comparison). A
    * multi-assigned base stores each id `assignTop` times, and an xor of
    * bare id hashes would CANCEL the copies pairwise (any even assignTop
    * degenerates the checksum to 0) — `perCopy` hashes
    * `xxhash64(gr_cluster, id)` instead, making each stored copy a
    * distinct witness term; assignTop = 1 keeps the original formula so
    * existing sidecars stay valid. A null-yielding cast (a non-numeric
    * id column) would collapse every hash to the null constant and
    * degenerate the checksum to row-count parity — refused loudly
    * instead of silently weakening the staleness guard. */
  private def witness(df: DataFrame, id: Column,
      perCopy: Boolean): (Long, Long) = {
    val h = if (perCopy)
      xxhash64(col("gr_cluster").cast("long"), id.cast("long"))
    else xxhash64(id.cast("long"))
    val r = df.select(id.isNotNull.and(id.cast("long").isNull).as("__bad"),
        h.as("__h"))
      .agg(count(lit(1)).as("__n"),
        coalesce(expr("bit_xor(__h)"), lit(0L)).as("__x"),
        sum(col("__bad").cast("long")).as("__nbad")).head()
    require(r.isNullAt(2) || r.getLong(2) == 0L,
      s"graph-ANN id column does not cast to long losslessly for " +
        s"${if (r.isNullAt(2)) 0 else r.getLong(2)} rows — the xor " +
        "staleness witness would degenerate to count parity; use a " +
        "numeric id column")
    (r.getLong(0), r.getLong(1))
  }

  private def writeSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, m: Int, efConstruction: Int,
      rows: Long, idXor: Long): Unit = {
    val fs = graft.core.Discovery.fileSystemFor(path,
      spark.sessionState.newHadoopConf())
    graft.core.JsonFile.write(fs,
      new org.apache.hadoop.fs.Path(path, NswParamsSidecar),
      "id_col" -> idCol, "m" -> m, "ef_construction" -> efConstruction,
      "rows" -> rows, "id_xor" -> idXor)
  }

  private def readSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String): com.fasterxml.jackson.databind.JsonNode = {
    val fs = graft.core.Discovery.fileSystemFor(path,
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(path, NswParamsSidecar)
    require(fs.exists(p), s"no $NswParamsSidecar sidecar at $path — not a " +
      "graph index (build with nswBuild and persist with nswWrite)")
    graft.core.JsonFile.read(fs, p)
  }

  private def requireFresh(node: com.fasterxml.jackson.databind.JsonNode,
      path: String, have: (Long, Long)): Unit = {
    require(node.hasNonNull("id_xor"),
      s"$NswParamsSidecar at $path predates the id-checksum witness — " +
        "re-persist with nswWrite (a count-only witness cannot see a " +
        "delete-k-then-append-k swap)")
    val (built, builtXor) = (node.get("rows").asLong, node.get("id_xor").asLong)
    require(built == have._1 && builtXor == have._2,
      s"graph at $path was built over $built rows (id checksum $builtXor) " +
        s"but the base data now has ${have._1} rows (checksum ${have._2}) " +
        "— the base changed since the build (append and/or tombstone), so " +
        "a graph walk would silently miss or mis-route. Recover with " +
        "nswAppend (pure monotone appends) or nswWrite(nswBuild(...)).")
  }

  /** Persist the graph index: the base IVF layout ([[Ann.ivfWrite]]) plus
    * the adjacency frame partitioned by `gr_cluster` (a probe reads
    * nprobe/nlist of BOTH), plus the sidecar with the staleness witness
    * (row count + id checksum, computed over the adjacency — one row per
    * base vector by construction). */
  def nswWrite(nsw: NswIndex, path: String): Unit = {
    val spark = nsw.base.clustered.sparkSession
    Ann.ivfWrite(nsw.base, path)
    nsw.adjacency.write.mode("overwrite")
      .partitionBy("gr_cluster").parquet(s"$path/graph")
    val (rows, idXor) = witness(nsw.adjacency, col("id"),
      perCopy = nsw.base.assignTop > 1)
    writeSidecar(spark, path, nsw.idCol, nsw.m, nsw.efConstruction, rows, idXor)
  }

  /** Load a persisted graph index. REFUSES a graph whose base rows no
    * longer match the witness (vectors appended or tombstoned since the
    * build): walking it would silently miss the new rows or route through
    * deleted ones — recover with [[nswAppend]] (for pure appends) or
    * [[nswBuild]] + [[nswWrite]]. */
  def nswRead(spark: org.apache.spark.sql.SparkSession, path: String): NswIndex = {
    val base = Ann.ivfRead(spark, path)
    val node = readSidecar(spark, path)
    val idCol = node.get("id_col").asText
    val adjacency = spark.read.parquet(s"$path/graph")
      .withColumn("gr_cluster", col("gr_cluster").cast("int"))
    requireFresh(node, path,
      witness(base.clustered, col(idCol), perCopy = base.assignTop > 1))
    NswIndex(base, adjacency, idCol,
      node.get("m").asInt, node.get("ef_construction").asInt)
  }

  /** Incrementally grow a PERSISTED graph index — the [[Ann.ivfAppend]]
    * counterpart that keeps the graphs fresh instead of forcing a full
    * [[nswBuild]] per batch. The batch is appended into the base IVF
    * layout first (frozen-centroid assignment, replay-idempotent tagged
    * append, drift telemetry — [[Ann.ivfAppend]] verbatim), then each
    * TOUCHED cluster's graph receives its new nodes through the exact
    * insertion kernel the build uses (same beam, same (cosine desc, id
    * asc) link rule, same chain edge and pruning) — untouched clusters'
    * graph partitions are not rewritten, and the `partitionBy(gr_cluster)`
    * layout means only touched partitions are overwritten (dynamic
    * partition overwrite).
    *
    * The result is BIT-IDENTICAL to a full rebuild in every case
    * (GraphAnnSpec asserts adjacency equality; the `a15b` gate pins the
    * probe), via two per-cluster paths: when every new id exceeds every
    * existing id in its cluster (the ingest norm — graph construction
    * is insertion-ordered and the build inserts in ascending id order,
    * so monotone batches keep insertion order ≡ id order inductively),
    * the batch INSERTS incrementally at O(batch · beam) cost; a cluster
    * that receives a backfilled (non-monotone) id instead REBUILDS its
    * own graph from scratch in id order — same deterministic kernel,
    * same final state, cost O(cluster · beam) for that cluster only,
    * never a whole-index rebuild.
    *
    * Replay-idempotent: a batch node already present in the adjacency
    * (a crashed attempt's partial graph write, or a replayed tag) is
    * treated as existing — re-running the same append converges. The
    * sidecar witness is recomputed from the post-append BASE rows, never
    * incremented, so replays cannot drift it. Returns STORED rows
    * appended — batch × assignTop copies on a multi-assigned index (the
    * [[Ann.ivfAppend]] contract). */
  def nswAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      tag: String,
      maxClusterNodes: Int = 1 << 20): Long = {
    import spark.implicits._
    val node = readSidecar(spark, path)
    require(node.get("id_col").asText == idCol,
      s"graph index at $path was built over id column " +
        s"'${node.get("id_col").asText}', not '$idCol'")
    val (mm, efc) = (node.get("m").asInt, node.get("ef_construction").asInt)
    require(node.hasNonNull("id_xor"),
      s"$NswParamsSidecar at $path predates the id-checksum witness — " +
        "re-persist with nswWrite before appending")
    // PRE-append freshness: the base must equal the graph's witness, or
    // equal witness ⊕ batch (a previous attempt of THIS append crashed
    // after its data write — replay-recoverable because the tagged data
    // append is idempotent and the graph insert diffs by id). Anything
    // else (tombstones, foreign appends) is refused: appending onto a
    // drifted base would launder a broken graph behind a fresh witness.
    val (sRows, sXor) = (node.get("rows").asLong, node.get("id_xor").asLong)
    val preIdx = Ann.ivfRead(spark, path)
    val perCopy = preIdx.assignTop > 1
    // the batch as the STORED layout will hold it: frozen-centroid
    // assignment, one row per (cluster, copy) — both the witness
    // arithmetic and the touched-cluster set must see every copy, or a
    // soft copy's graph home would silently stay stale
    val batchAssigned = Ann.assignClusters(
      newVecs.select(col(idCol), col(vecCol)), preIdx.centroids, vecCol,
      preIdx.assignTop)
    val (bRows, bXor) = witness(batchAssigned, col(idCol), perCopy)
    val pre = witness(preIdx.clustered, col(idCol), perCopy)
    require(pre == ((sRows, sXor)) ||
        pre == ((sRows + bRows, sXor ^ bXor)),
      s"graph index at $path: base rows/id-checksum $pre match neither the " +
        s"witness ($sRows, $sXor) nor witness⊕batch — the base drifted " +
        "outside this append (tombstone or foreign append); rebuild with " +
        "nswBuild + nswWrite.")
    val appended = Ann.ivfAppend(spark, path, newVecs, idCol, vecCol, tag)
    val post = Ann.ivfRead(spark, path)
    val touched = batchAssigned
      .select(col("gr_cluster")).distinct().collect().map(_.getInt(0)).toSeq
    val big = post.clustered.filter(col("gr_cluster").isin(touched: _*))
      .groupBy("gr_cluster").count()
      .filter(col("count") > maxClusterNodes).limit(1).collect()
    require(big.isEmpty,
      s"cluster ${big.headOption.map(_.get(0)).orNull} exceeds " +
        s"maxClusterNodes=$maxClusterNodes after this append — rebuild the " +
        "IVF index with a larger nlist rather than raising the cap.")
    val oldAdj = spark.read.parquet(s"$path/graph")
      .withColumn("gr_cluster", col("gr_cluster").cast("int"))
      .filter(col("gr_cluster").isin(touched: _*))
      .select(col("gr_cluster").as("c"), col("id"), col("neighbors"))
    val rows = post.clustered
      .filter(col("gr_cluster").isin(touched: _*))
      .select(col("gr_cluster").cast("int").as("c"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
    val newAdj = rows.join(oldAdj, Seq("c", "id"), "left")
      .as[(Int, Long, Seq[Double], Option[Seq[Long]])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val all = it.toArray.sortBy(_._2)
        val nOld = all.count(_._4.isDefined)
        val nodes = all.map(t => (t._2, t._3.toArray))
        // monotone batch (every new id above the cluster's existing
        // ids): continue the build's insertion sequence from the
        // persisted state. A backfilled (non-monotone) id instead
        // rebuilds this cluster's graph from scratch in id order — the
        // same deterministic kernel and the same final state a full
        // rebuild would reach, paid only for this cluster. (Appending a
        // duplicate of an existing id is a base-data bug upstream of
        // this operator — ivfAppend's tag idempotency is the guard.)
        val monotone = all.take(nOld).forall(_._4.isDefined) &&
          (nOld == 0 || nOld == all.length ||
            all(nOld)._2 > all(nOld - 1)._2)
        val adj =
          if (monotone)
            appendCluster(nodes,
              all.iterator.take(nOld).map(_._4.get).toArray, mm, efc)
          else buildCluster(nodes, mm, efc)
        adj.map { case (id, ns) => (all.head._1, id, ns) }
      }
      .toDF("gr_cluster", "id", "neighbors")
    newAdj.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("gr_cluster").parquet(s"$path/graph")
    // witness recomputed from the post-append base: idempotent under
    // replay (an increment would double-count a replayed tag)
    val (n, x) = witness(post.clustered, col(idCol), perCopy)
    writeSidecar(spark, path, idCol, mm, efc, n, x)
    appended
  }

  /** Delete ids from a PERSISTED graph index — the [[Ann.ivfDelete]]
    * counterpart that keeps the graphs consistent instead of leaving
    * [[nswRead]] refusing forever. Tombstones write through
    * `ivfDelete` (same single-column id-frame contract), then ONLY the
    * clusters that held a doomed id rebuild their graphs from the
    * surviving rows — deletion breaks the monotone-insertion
    * equivalence an incremental path would need, so the per-cluster
    * rebuild (the build's exact kernel, id order) is the ONLY result
    * bit-identical to a full rebuild, paid per touched cluster only. A
    * cluster whose every row was deleted gets its graph partition
    * REMOVED (dynamic overwrite alone would leave ghost nodes). The
    * sidecar witness recomputes from the post-delete base.
    *
    * Crash contract: a crash between the tombstone write and the graph
    * rewrite leaves base≠witness, and both [[nswRead]] and a replayed
    * `nswDelete` refuse loudly — recover with [[nswBuild]] +
    * [[nswWrite]] (deletes are rare; the window is one partition
    * rewrite). Returns ids tombstoned. */
  def nswDelete(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: DataFrame): Long = {
    import spark.implicits._
    val node = readSidecar(spark, path)
    val idCol = node.get("id_col").asText
    val (mm, efc) = (node.get("m").asInt, node.get("ef_construction").asInt)
    require(node.hasNonNull("id_xor"),
      s"$NswParamsSidecar at $path predates the id-checksum witness — " +
        "re-persist with nswWrite before deleting")
    val preIdx = Ann.ivfRead(spark, path)
    val perCopy = preIdx.assignTop > 1
    val pre = witness(preIdx.clustered, col(idCol), perCopy)
    require(pre == ((node.get("rows").asLong, node.get("id_xor").asLong)),
      s"graph index at $path: base rows/id-checksum $pre do not match the " +
        "witness — the base drifted (foreign append/tombstone, or a prior " +
        "nswDelete crashed mid-rewrite); rebuild with nswBuild + nswWrite.")
    require(ids.columns.length == 1, "ids must be a one-column frame")
    val doomed = ids.distinct().toDF(idCol)
    val touched = preIdx.clustered
      .join(doomed, Seq(idCol), "left_semi")
      .select(col("gr_cluster").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val n = Ann.ivfDelete(spark, path, ids)
    val post = Ann.ivfRead(spark, path)
    if (touched.nonEmpty) {
      val rows = post.clustered
        .filter(col("gr_cluster").isin(touched: _*))
        .select(col("gr_cluster").cast("int").as("c"),
          col(idCol).cast("long").as("i"),
          col(post.vecCol).cast("array<double>").as("v"))
        .as[(Int, Long, Seq[Double])]
        .groupByKey(_._1)
        .flatMapGroups { (cid, it) =>
          val nodes = it.map(t => (t._2, t._3.toArray)).toArray.sortBy(_._1)
          buildCluster(nodes, mm, efc).map { case (id, ns) => (cid, id, ns) }
        }
        .toDF("gr_cluster", "id", "neighbors")
      // survivors derive from the BASE, not from `rows`: collecting the
      // rebuilt frame's cluster ids would evaluate the whole per-cluster
      // graph build once for the collect and AGAIN for the write
      val survivors = post.clustered
        .filter(col("gr_cluster").isin(touched: _*))
        .select(col("gr_cluster").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet
      rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gr_cluster").parquet(s"$path/graph")
      // emptied clusters write no partition — remove their stale graphs
      val fs = graft.core.Discovery.fileSystemFor(path,
        spark.sessionState.newHadoopConf())
      touched.filterNot(survivors).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/graph/gr_cluster=$c"),
          true)
      }
    }
    val (nn, x) = witness(post.clustered, col(idCol), perCopy)
    writeSidecar(spark, path, idCol, mm, efc, nn, x)
    n
  }

  // ------------------------------------------------------------ kernels

  private def cos(a: Array[Double], b: Array[Double]): Double =
    Ann.centroidCos(a, b)

  /** Classic layer beam search, deterministic: candidates pop best-first
    * by (cos desc, id asc); results keep the `ef` best seen; stop when the
    * best open candidate is worse than the worst kept result and the keep
    * set is full. With `ef >= |reachable|` this visits everything. */
  private def searchLayer(
      vecs: Array[Array[Double]],
      adj: Int => scala.collection.Seq[Int],
      entry: Int,
      q: Array[Double],
      ef: Int): Array[(Double, Int)] = {
    // ordering on (cos, pos): better = larger cos, then SMALLER pos
    def better(a: (Double, Int), b: (Double, Int)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    val visited = new java.util.HashSet[Integer]()
    // candidates: best first
    val cand = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.fromLessThan[(Double, Int)]((a, b) => !better(a, b) && a != b))
    // results: worst first (bounded min-heap of size ef)
    val res = mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.fromLessThan[(Double, Int)]((a, b) => better(a, b)))
    val e = (cos(vecs(entry), q), entry)
    visited.add(entry)
    cand.enqueue(e)
    res.enqueue(e)
    while (cand.nonEmpty) {
      val c = cand.dequeue()
      if (res.size >= ef && !better(c, res.head)) {
        cand.clear()
      } else {
        for (n <- adj(c._2) if visited.add(n)) {
          val s = (cos(vecs(n), q), n)
          if (res.size < ef || better(s, res.head)) {
            cand.enqueue(s)
            res.enqueue(s)
            if (res.size > ef) res.dequeue()
          }
        }
      }
    }
    res.dequeueAll.reverse.toArray // best first
  }

  /** Deterministic NSW construction over one cluster's nodes (pre-sorted
    * by id): insert in id order, link each new node to its `m` nearest
    * among an `efConstruction`-beam search of the graph so far, add the
    * reverse links, prune any degree above `2m` to the nearest.
    *
    * Connectivity is GUARANTEED, not hoped for: every node keeps a
    * permanent chain edge to its insertion predecessor that pruning may
    * never remove (so the chain 0–1–…–n always exists and full-beam
    * search is provably exact). Nearest-only pruning without it
    * disconnects on exactly the corpora dedup cares about — a family of
    * near-identical vectors links only within itself, its bridge edges
    * all prune away, and the family becomes an unreachable island (the
    * observed 36-of-150-reachable failure this clause fixed). Total
    * degree is therefore bounded by `2m + 2`: the pruned set plus at
    * most two chain partners. */
  private def buildCluster(
      nodes: Array[(Long, Array[Double])],
      m: Int,
      efC: Int): Iterator[(Long, Array[Long])] = {
    val nbrs = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    insertNodes(nodes.map(_._2), nbrs, from = 1, m, efC)
    emitAdjacency(nodes, nbrs)
  }

  /** [[buildCluster]] continued from a reconstructed prefix: nodes
    * `0 until oldNeighbors.length` carry their persisted adjacency (ids
    * remapped to positions — positions ARE insertion order because the
    * monotone-id contract keeps insertion order ≡ id order), the rest
    * insert through the same kernel. With monotone ids the resulting
    * state evolution is bit-identical to a full [[buildCluster]] over
    * the combined node set. */
  private def appendCluster(
      nodes: Array[(Long, Array[Double])],
      oldNeighbors: Array[Seq[Long]],
      m: Int,
      efC: Int): Iterator[(Long, Array[Long])] = {
    val nOld = oldNeighbors.length
    val pos = nodes.iterator.zipWithIndex
      .map { case (nd, p) => nd._1 -> p }.toMap
    val nbrs = Array.fill(nodes.length)(mutable.ArrayBuffer.empty[Int])
    var p = 0
    while (p < nOld) {
      for (nid <- oldNeighbors(p)) nbrs(p) += pos.getOrElse(nid,
        throw new IllegalStateException(
          s"adjacency references id $nid absent from the base cluster — " +
            "the graph and base diverged; rebuild with nswBuild + nswWrite"))
      p += 1
    }
    insertNodes(nodes.map(_._2), nbrs, from = math.max(nOld, 1), m, efC)
    emitAdjacency(nodes, nbrs)
  }

  /** The shared insertion loop: add nodes `from until n` to a graph whose
    * first `from` nodes are already linked. Chain edges (insertion
    * predecessor/successor, never pruned) guarantee connectivity. */
  private def insertNodes(
      vecs: Array[Array[Double]],
      nbrs: Array[mutable.ArrayBuffer[Int]],
      from: Int,
      m: Int,
      efC: Int): Unit = {
    val n = vecs.length
    val maxDeg = 2 * m
    def isChain(p: Int, o: Int): Boolean = o == p - 1 || o == p + 1
    def prune(p: Int): Unit = {
      val (chain, rest) = nbrs(p).partition(isChain(p, _))
      if (rest.length > maxDeg) {
        val kept = rest.toArray
          .map(o => (cos(vecs(p), vecs(o)), o))
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
          .take(maxDeg).map(_._2)
        nbrs(p).clear()
        nbrs(p) ++= (chain ++ kept).sorted
      }
    }
    var p = math.max(from, 1)
    while (p < n) {
      nbrs(p) += p - 1 // permanent chain edge, never pruned
      nbrs(p - 1) += p
      // beam-search the graph built so far (nodes 0..p-1 are linked)
      val found = searchLayer(vecs, i => nbrs(i), entry = 0,
        vecs(p), math.max(efC, m))
      val links = found.filter(f => f._2 < p && f._2 != p - 1).take(m)
      for ((_, o) <- links) {
        nbrs(p) += o
        nbrs(o) += p
        prune(o)
      }
      prune(p)
      p += 1
    }
  }

  private def emitAdjacency(
      nodes: Array[(Long, Array[Double])],
      nbrs: Array[mutable.ArrayBuffer[Int]]): Iterator[(Long, Array[Long])] =
    nodes.iterator.zipWithIndex.map { case ((id, _), i) =>
      id -> nbrs(i).distinct.toArray.map(o => nodes(o)._1).sorted
    }
}
