package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.JsonFile
import graft.functions.{PqAdcBatchExpr, PqAdcExpr, PqEncodeExpr, PqImpl}

/** Product quantization for embedding-scale ANN — the memory/shuffle
  * representation layer under [[Ann]]'s routing layers.
  *
  * A 100 TB embedding corpus does not fit its float vectors through
  * shuffles or caches: PQ splits each dim-vector into `m` contiguous
  * subvectors and stores only the id of the nearest codeword per subspace
  * (`m` ints vs `dim` floats — 32× narrower for 64-dim float32 at m=8).
  * Queries score candidates with an asymmetric-distance lookup table
  * (LUT): `m` array reads + adds per candidate, zero vector arithmetic —
  * see Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search" (TPAMI 2011).
  *
  * Training is a bounded DRIVER model (same policy as BPE / the bigram
  * LM: tokenizer-style offline estimation from a seeded hash-sample —
  * `sampleN × dim` doubles, never the corpus), per-subspace Lloyd k-means
  * with deterministic seeding and tie-breaks, so retraining on the same
  * data yields bit-identical codebooks on any cluster size. Encoding and
  * scoring are codegen'd expressions over the distributed corpus; nothing
  * about the corpus is ever collected.
  *
  * Every arithmetic path (train assign, encode, LUT build) shares ONE
  * fold order — ascending elements, ascending cells, ascending subspaces
  * — which is what lets the d12/t3b-style fixture oracle replay encode +
  * ADC bit-exactly from the persisted codebook. */
object Pq {

  /** `cells(sub)(cell)` = codeword vector (length dim/m). `trainMse` is
    * the mean squared reconstruction error over the training sample — the
    * drift baseline [[pqDriftReport]] compares appended batches against
    * (NaN for hand-built models; drift telemetry then refuses loudly). */
  final case class PqModel(cells: Array[Array[Array[Double]]],
      trainMse: Double = Double.NaN) {
    def m: Int = cells.length
    def k: Int = cells(0).length
    def dsub: Int = cells(0)(0).length
    def dim: Int = m * dsub
  }

  /** Squared reconstruction error of one vector under the codebooks: the
    * per-subspace nearest-codeword distances summed — the quantization
    * loss every ADC distance inherits. */
  private[operators] def reconSqErr(v: Array[Double], cells: Array[Array[Array[Double]]]): Double = {
    val m = cells.length
    val dsub = cells(0)(0).length
    var s = 0
    var err = 0.0
    while (s < m) {
      val sub = java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
      err += l2sq(sub, cells(s)(nearestCell(sub, cells(s))))
      s += 1
    }
    err
  }

  /** Train per-subspace codebooks on a seeded hash-sample. Deterministic
    * end to end: sampling is `xxhash64(id, seed) % 16 == 0` with a limit
    * and a plain-limit top-up (no RNG, no count pre-scan — the ivfBuild
    * pattern), seeds are the first `k` DISTINCT subvectors in sample
    * order (padded by repetition when the sample has fewer — duplicate
    * cells are unreachable under the ties-to-lower-id assignment, so
    * padding is harmless), Lloyd assignment ties go to the lower cell id,
    * and an emptied cell keeps its previous codeword. */
  def pqTrain(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      k: Int = 16,
      seed: Long = 42L,
      sampleN: Int = 512,
      iterations: Int = 8): PqModel = {
    require(m >= 1 && k >= 1 && sampleN >= k, "need m>=1, k>=1, sampleN>=k")
    def vecs(d: DataFrame): Array[Array[Double]] =
      d.collect().map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case dd: Double => dd
      }.toArray)
    // id-ordered takes: a bare limit() is partition-order-dependent, which
    // would make the trained codebook depend on input layout — orderBy +
    // limit plans as TakeOrdered (per-partition heaps, no full sort)
    val sampled = vecs(df
      .filter(pmod(xxhash64(col(idCol), lit(seed)), lit(16)) === 0)
      .orderBy(col(idCol)).select(col(vecCol)).limit(sampleN))
    val sample =
      if (sampled.length >= math.min(sampleN, k)) sampled
      else vecs(df.orderBy(col(idCol)).select(col(vecCol)).limit(sampleN))
    require(sample.nonEmpty, "empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    require(sample.forall(_.length == dim), "ragged vector lengths in sample")
    val dsub = dim / m

    val cells = Array.tabulate(m) { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // first k distinct subvectors in sample order; pad by repetition
      val distinct = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      var i = 0
      while (i < pts.length && distinct.size < k) {
        if (seen.add(pts(i).toSeq)) distinct += pts(i)
        i += 1
      }
      while (distinct.size < k) distinct += distinct.last
      var cb = distinct.toArray
      for (_ <- 1 to iterations) {
        val sums = Array.fill(k, dsub)(0.0)
        val counts = new Array[Long](k)
        pts.foreach { p =>
          val c = nearestCell(p, cb)
          counts(c) += 1
          var j = 0
          while (j < dsub) { sums(c)(j) += p(j); j += 1 }
        }
        cb = Array.tabulate(k) { c =>
          if (counts(c) == 0) cb(c)
          else {
            val mean = new Array[Double](dsub)
            var j = 0
            while (j < dsub) { mean(j) = sums(c)(j) / counts(c); j += 1 }
            mean
          }
        }
      }
      cb.map(_.clone())
    }
    val trainMse = sample.map(reconSqErr(_, cells)).sum / sample.length
    PqModel(cells, trainMse)
  }

  private def nearestCell(p: Array[Double], cb: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = l2sq(p, cb(0))
    var c = 1
    while (c < cb.length) {
      val d = l2sq(p, cb(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    while (j < a.length) { val x = a(j) - b(j); d += x * x; j += 1 }
    d
  }

  /** Encode the corpus: `(idCol, pq_code array<int>)` — the narrow frame
    * downstream serving shuffles and persists instead of raw vectors.
    * Map-side only (codegen'd kernel, codebook as a reference object). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    df.select(col(idCol), PqEncodeExpr(col(vecCol), model.cells).as("pq_code"))

  /** ADC top-k over an encoded corpus: rank by quantized squared-L2
    * ascending, ties by id. The per-candidate cost is `m` LUT reads — the
    * scan stays in whole-stage codegen and the global top-k is Spark's
    * distributed TakeOrdered (per-partition heaps, no full sort). */
  def pqTopK(
      encoded: DataFrame,
      idCol: String,
      query: Array[Float],
      model: PqModel,
      k: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val lut = PqImpl.buildLut(query.map(_.toDouble), model.cells)
    val scored = encoded
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol), PqAdcExpr(col("pq_code"), lut).as("pq_dist"))
      .filter(col("pq_dist").isNotNull)
      .orderBy(col("pq_dist"), col(idCol))
      .limit(k)
    scored.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("pq_dist"), col(idCol))))
  }

  /** Batched ADC top-k: Q queries served by ONE scan of the code table —
    * the [[graft.functions.PqAdcBatchExpr]] kernel scores each row
    * against every query's LUT in one code walk, and the per-query rank
    * window rewrites into a map-side partial top-k (WindowGroupLimit), so
    * the shuffle carries at most k rows per query per input partition.
    * Per-query semantics identical to [[pqTopK]] (spec-pinned). Returns
    * (query_id, idCol, pq_dist, rank). */
  def pqBatchTopK(
      encoded: DataFrame,
      idCol: String,
      queries: Seq[(Long, Array[Float])],
      model: PqModel,
      k: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(queries.nonEmpty, "empty query batch")
    val luts = queries.map(q => PqImpl.buildLut(q._2.map(_.toDouble), model.cells)).toArray
    val qids = queries.map(_._1).toArray
    encoded
      .filter(if (excludeIds.isEmpty) lit(true) else !col(idCol).isin(excludeIds: _*))
      .select(col(idCol),
        posexplode(PqAdcBatchExpr(col("pq_code"), luts)).as(Seq("__qi", "pq_dist")))
      .select(element_at(lit(qids), col("__qi") + 1).as("query_id"),
        col(idCol), col("pq_dist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("pq_dist"), col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Quantized-candidates + exact re-rank — the standard PQ serving
    * pattern: ADC selects `candidates` ids from the code table (the cheap,
    * 32×-narrower scan), then ONLY those ids join back to the raw vectors
    * for an exact-cosine top-k. The join's build side is k..candidates
    * rows — broadcast-able at any corpus size — so the expensive exact
    * arithmetic touches `candidates` vectors, never the corpus. Ranking
    * quality approaches exact search as `candidates/k` grows while the
    * scan cost stays quantized. Returns (idCol, cosine, rank). */
  def pqTopKRerank(
      encoded: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      model: PqModel,
      k: Int,
      candidates: Int,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    require(candidates >= k, "candidate pool must be at least k")
    val shortList = pqTopK(encoded, idCol, query, model, candidates, excludeIds)
      .select(col(idCol))
    val qd = query.map(_.toDouble)
    raw.join(broadcast(shortList), Seq(idCol))
      .select(col(idCol), Ann.cosine(col(vecCol), lit(qd)).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("cosine"), col(idCol))))
  }

  /** IVF-PQ serving table: each row carries its route (`gr_cluster`, from
    * the IVF index's nearest-centroid assignment) AND its quantized
    * representation (`pq_code`) — the canonical billion-scale ANN layout
    * (FAISS `IVFPQ`): routing prunes the scan to `nprobe/nlist` of the
    * corpus, PQ shrinks what the pruned scan reads and scores to `m` ints
    * per row. Persist with `partitionBy("gr_cluster")` and probes prune at
    * the file-listing level while reading NO float vectors at all. */
  def ivfPqEncode(index: Ann.IvfIndex, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    require(index.assignTop == 1,
      "ivfPqEncode needs a single-assignment index (assignTop = 1): soft " +
        "copies would duplicate ids in the serving table and every top-k")
    index.clustered.select(col(idCol), col("gr_cluster"),
      PqEncodeExpr(col(vecCol), model.cells).as("pq_code"))
  }

  /** ADC top-k over the probed clusters of an IVF-PQ serving table:
    * centroid ranking driver-side (ties keep the LOWER cid — stable sort
    * over the ascending-cid centroid list), cluster filter (partition
    * pruning on a persisted table), then [[pqTopK]]'s quantized scoring.
    * Exactly [[Ann.ivfTopK]]'s probe shape with the exact re-scoring
    * swapped for LUT reads. */
  def ivfPqTopK(
      serving: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      model: PqModel,
      idCol: String,
      query: Array[Float],
      k: Int,
      nprobe: Int = 4,
      excludeIds: Seq[Long] = Nil): DataFrame = {
    val qd = query.map(_.toDouble)
    val probed = centroids.sortBy { case (_, c) => -Ann.centroidCos(c, qd) }
      .take(nprobe).map(_._1)
    pqTopK(serving.filter(col("gr_cluster").isin(probed: _*)),
      idCol, query, model, k, excludeIds)
  }

  /** Query-TABLE serving against an IVF-PQ table — [[graft.operators.Ann.ivfJoin]]'s
    * quantized counterpart and the no-driver-literals completion of the
    * PQ family: each query row ranks the literal centroids executor-side
    * (same (−score, cid) struct sort, same lower-cid ties as the single-
    * query path), explodes to its `nprobe` clusters, equi-joins the
    * serving table on `gr_cluster`, and scores candidates with the
    * table-side ADC kernel ([[graft.functions.PqAdcVecExpr]] — bit-
    * identical arithmetic to the LUT path, per-pair O(dim) instead of
    * O(m) because a table-side query has no driver LUT to amortize; the
    * scan/shuffle still carries m ints per candidate, never a float
    * vector, which is the bound that matters at corpus scale). Per-query
    * semantics equal [[ivfPqTopK]] (spec-pinned). Returns
    * (queryIdCol, corpusIdCol, pq_dist, rank). */
  def ivfPqJoin(
      queries: DataFrame,
      serving: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      model: PqModel,
      queryIdCol: String,
      corpusIdCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, nlist=${centroids.size}]")
    import org.apache.spark.sql.expressions.Window
    val scored = array(centroids.map { case (cid, c) =>
      struct((-Ann.cosine(col(vecCol), lit(c))).as("ns"), lit(cid).as("cid"))
    }: _*)
    val probes = slice(sort_array(scored), 1, nprobe)
    val qs = queries.select(col(queryIdCol), col(vecCol).as("__qvec"),
      explode(probes.getField("cid")).as("gr_cluster"))
    // the ADC kernel yields null on a wrong-dim query vector or a
    // corrupt/mis-sized/out-of-range code — silently dropping such pairs
    // would return EMPTY results for a wrong-dim query table (the exact
    // silent failure the sidecar dim guards exist to kill). Raise instead:
    // assert_true is null on success, so adding it is a no-op.
    val adc = graft.functions.PqAdcVecExpr(col("__qvec"), col("pq_code"),
      model.cells)
    qs.join(serving.select(col(corpusIdCol), col("gr_cluster"), col("pq_code")),
        "gr_cluster")
      .select(col(queryIdCol), col(corpusIdCol),
        (adc + coalesce(assert_true(adc.isNotNull,
          concat(lit("ivfPqJoin: ADC distance is null — query vector not of " +
            s"dim ${model.dim} or corrupt pq_code (expect ${model.m} codes " +
            s"in [0, ${model.k})); offending query id: "),
            col(queryIdCol).cast("string"))).cast("double"), lit(0.0)))
          .as("pq_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("pq_dist"), col(corpusIdCol))))
      .filter(col("rank") <= k)
  }

  val PqParamsSidecar = "_graft_pq_params.json"

  /** Persist codes + codebooks + params sidecar. Layout mirrors the IVF
    * index: `data/` (codes), `codebooks/` (one row per (sub, cell)), and
    * a sidecar that [[pqRead]] and [[pqAppend]] cross-check so an index
    * can never be served or grown with mismatched parameters. */
  def pqWrite(encoded: DataFrame, model: PqModel, path: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    encoded.write.mode("overwrite").parquet(s"$path/data")
    model.cells.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (v, c) => (s, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // a hand-built model carries no train_mse (NaN): it lands as null, and
    // drift reporting refuses without a baseline
    JsonFile.write(pqFs(spark, path),
      new org.apache.hadoop.fs.Path(path, PqParamsSidecar),
      "m" -> model.m, "k" -> model.k, "dsub" -> model.dsub,
      "train_mse" -> model.trainMse)
  }

  private def pqFs(spark: SparkSession, path: String) =
    graft.core.Discovery.fileSystemFor(path, spark.sessionState.newHadoopConf())

  /** The sidecar's `(m, k, dsub, train_mse, generation)`; a missing or null
    * `train_mse` reads as NaN, a missing `generation` as 1. */
  private def readSidecar(spark: SparkSession,
      path: String): (Int, Int, Int, Double, Int) = {
    val p = new org.apache.hadoop.fs.Path(path, PqParamsSidecar)
    val fs = pqFs(spark, path)
    require(fs.exists(p),
      s"no $PqParamsSidecar at $path — not a graft PQ index")
    val node = JsonFile.read(fs, p)
    def field(f: String): Int = {
      require(node.hasNonNull(f), s"$PqParamsSidecar at $path lacks field '$f'")
      node.get(f).asInt
    }
    (field("m"), field("k"), field("dsub"),
      node.path("train_mse").asDouble(Double.NaN), node.path("generation").asInt(1))
  }

  /** Load a persisted PQ index: `(model, codes)`. The codebook table is
    * tiny (m × k rows) and cross-checked against the sidecar. */
  def pqRead(spark: SparkSession, path: String): (PqModel, DataFrame) = {
    val (m, k, dsub, trainMse, _) = readSidecar(spark, path)
    val rows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.length == m * k,
      s"PQ index at $path is inconsistent with its sidecar " +
        s"(m=$m k=$k vs ${rows.length} codebook rows)")
    require(rows.forall(_._3.length == dsub),
      s"PQ codebook at $path has cells of the wrong width (expect dsub=$dsub)")
    val cells = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    (PqModel(cells, trainMse), spark.read.parquet(s"$path/data"))
  }

  /** Grow a persisted PQ index: encode `newVecs` against the STORED
    * codebooks (parameters cross-checked via the sidecar — a dim/m/k
    * mismatch refuses loudly) and append replay-idempotently under `tag`
    * ([[graft.core.TaggedAppend]] — a retried failed append converges
    * instead of duplicating codes). The codebook is frozen: appending
    * never retrains, so existing codes stay valid — the standard PQ
    * maintenance contract (retrain + full re-encode is a separate,
    * deliberate rebuild). */
  def pqAppend(
      spark: SparkSession,
      path: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      tag: String): Unit = {
    graft.core.TaggedAppend.requireSafeTag(tag)
    val (model, _) = pqRead(spark, path)
    // empty batches (possible under streaming replay) skip the probe — an
    // empty append is a no-op either way
    newVecs.select(size(col(vecCol))).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == model.dim,
        s"appended vectors have dim ${r.getInt(0)} but the index at $path " +
          s"was built for dim ${model.dim}")
    }
    graft.core.TaggedAppend.append(
      pqEncode(newVecs, idCol, vecCol, model), s"$path/data", tag)
    // drift telemetry: reconstruction MSE of a bounded seeded sample of the
    // batch under the FROZEN codebooks, recorded per tag (replay
    // overwrites). Sample-estimated for the same reason training is — the
    // signal needs ~hundreds of vectors, not a batch-sized pass; the
    // sampling is the pqTrain pattern (hash-filter + id-ordered limit,
    // plain-limit top-up) so it is deterministic on any cluster size.
    val sampleN = 512
    def vecsOf(d: DataFrame): Array[Array[Double]] =
      d.collect().map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case dd: Double => dd
      }.toArray)
    // small batches defeat the 1/16 hash-sample (a 60-row batch yields a
    // handful of vectors — an estimate noisy enough to flap the ratio
    // gate), so below a floor the whole id-ordered prefix serves instead
    val sampled = vecsOf(newVecs
      .filter(pmod(xxhash64(col(idCol), lit(42L)), lit(16)) === 0)
      .orderBy(col(idCol)).select(col(vecCol)).limit(sampleN))
    val sample =
      if (sampled.length >= 64) sampled
      else vecsOf(newVecs.orderBy(col(idCol)).select(col(vecCol)).limit(sampleN))
    val mse =
      if (sample.isEmpty) null
      else sample.map(reconSqErr(_, model.cells)).sum / sample.length
    JsonFile.write(pqFs(spark, path),
      new org.apache.hadoop.fs.Path(s"$path/$PqDriftDir", s"$tag.json"),
      "tag" -> tag, "sample_n" -> sample.length, "mse" -> mse)
  }

  /** Per-append drift records (one tiny json per tag; underscore prefix
    * keeps parquet scans and graft discovery away). */
  val PqDriftDir = "_graft_pq_drift"

  /** Drift report for a persisted, appended-to PQ index: one row per
    * append tag with the batch's sampled reconstruction MSE against the
    * training-sample baseline from the sidecar. `drifted` flags batches
    * whose MSE exceeds `mseRatioLimit × train_mse` — vectors from a
    * shifted distribution quantize badly under the frozen codebooks,
    * which silently degrades every ADC distance involving them; a flagged
    * report is the retrain-and-re-encode trigger. Bounded driver work:
    * one tiny json per append tag. */
  def pqDriftReport(spark: SparkSession, path: String,
      mseRatioLimit: Double = 2.0): DataFrame = {
    import spark.implicits._
    val (_, _, _, trainMse, _) = readSidecar(spark, path)
    require(java.lang.Double.isFinite(trainMse),
      s"$PqParamsSidecar at $path records no train_mse (hand-built model " +
        "or pre-telemetry index) — re-persist a pqTrain'd model to " +
        "baseline drift")
    val fs = pqFs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path, PqDriftDir)
    val recs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json"))
        .map { st =>
          val n = JsonFile.read(fs, st.getPath)
          (n.path("tag").asText(st.getPath.getName.stripSuffix(".json")),
            n.path("sample_n").asLong(0L),
            Option.when(n.hasNonNull("mse"))(n.get("mse").asDouble))
        }.sortBy(_._1)
    // a zero train_mse (codebooks that perfectly cover a degenerate
    // training sample) would divide-by-zero under ANSI: any nonzero batch
    // error is then infinite drift, a zero one is parity
    recs.toDF("tag", "sample_n", "mse")
      .withColumn("train_mse", lit(trainMse))
      .withColumn("mse_ratio",
        when(lit(trainMse) > 0, col("mse") / lit(trainMse))
          .otherwise(when(col("mse") > 0, lit(Double.PositiveInfinity))
            .otherwise(lit(1.0))))
      .withColumn("drifted", col("mse_ratio") > mseRatioLimit)
  }

  /** Retrain-and-re-encode a persisted PQ index IN PLACE — the operator a
    * flagged [[pqDriftReport]] calls for. A PQ index stores CODES, not
    * vectors, so the caller must supply the current full corpus (build
    * rows + every appended batch — supplying less silently drops rows
    * from the index; the row-count verification only checks against
    * `corpus` itself). Codebooks retrain with the stored (m, k) on the
    * supplied corpus, every row re-encodes, and the staged copy is
    * verified (row count + codebook/sidecar consistency via pqRead) and
    * swapped in by [[graft.core.StagedCommit.Retrain]]. Drift records are cleared
    * (they measured the OLD codebooks) and the sidecar records
    * `generation` + the new train_mse baseline. Same quiesce contract as
    * compaction: single writer, no concurrent appends/probes during the
    * swap window. Returns the reloaded (model, codes). */
  def pqRetrain(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      seed: Long = 42L,
      sampleN: Int = 512,
      iterations: Int = 8): (PqModel, DataFrame) = {
    val (m, k, _, _, gen) = readSidecar(spark, path)
    val fs = pqFs(spark, path)
    def child(base: String, c: String) = new org.apache.hadoop.fs.Path(base, c)
    val swap = graft.core.StagedCommit.Retrain.open(fs, new org.apache.hadoop.fs.Path(path)).sweep()
    val model = pqTrain(corpus, idCol, vecCol, m, k, seed, sampleN, iterations)
    pqWrite(pqEncode(corpus, idCol, vecCol, model), model, swap.staging.toString)
    val corpusCount = corpus.count()
    val stagedCount = spark.read.parquet(s"${swap.staging}/data").count()
    require(stagedCount == corpusCount,
      s"staged retrain has $stagedCount rows vs corpus $corpusCount — " +
        "refusing to swap (staging dir left for inspection)")
    pqRead(spark, swap.staging.toString) // sidecar/codebook consistency probe
    swap.swapChildren(_ => Seq("data", "codebooks")) {
      fs.delete(child(path, PqDriftDir), true)
      val staged = JsonFile.read(fs, child(swap.staging.toString, PqParamsSidecar))
      JsonFile.write(fs, child(path, PqParamsSidecar),
        JsonFile.fields(staged) :+ ("generation" -> (gen + 1)): _*)
    }
    pqRead(spark, path)
  }
}
