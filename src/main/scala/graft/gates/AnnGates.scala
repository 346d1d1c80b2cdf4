package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.{Ann, Pq}

/** Similarity-search gates: `aN_*` is ANN search, `pN_*` product
  * quantization, `eN_*` embedding transforms, `hN_*` hybrid retrieval. */
object AnnGates extends GateFamily {
  import GateSupport._

  gate("a1_ann_brute",
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, CAST(row_number() OVER
           (ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)) DESC, vec_id)
           AS INT) AS rank
         FROM embeddings WHERE vec_id <> 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)) DESC, vec_id
         LIMIT 10""") { (s, dir) =>
    Ann.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryVec(s, dir), k = 10, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private val StandardizeModelFixture = "/tmp/graft_fixtures/std_model.parquet"

  /** Per-dimension whitening: one-pass fit
    * ([[graft.operators.Embeddings.standardizeFit]] over the PCA
    * covariance aggregate), model persisted for the oracle, every z
    * replayed as one subtract + one divide on the stored mean/std. */
  gate("e6_standardize",
      // every z replayed from the persisted model: one subtract, one divide
      """WITH m AS (SELECT mean, std FROM
             read_parquet('/tmp/graft_fixtures/std_model.parquet/*.parquet')),
         x AS (SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS INT) AS i,
             unnest(embedding) AS v
           FROM embeddings)
         SELECT x.vec_id, x.i - 1 AS pos,
           CASE WHEN m.std[x.i] = 0 THEN 0.0
                ELSE (CAST(x.v AS DOUBLE) - m.mean[x.i]) / m.std[x.i] END AS z
         FROM x, m ORDER BY vec_id, pos""") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val m = graft.operators.Embeddings.standardizeFit(e, "embedding")
    Seq((m.mean.toSeq, m.std.toSeq)).toDF("mean", "std")
      .coalesce(1).write.mode("overwrite").parquet(StandardizeModelFixture)
    graft.operators.Embeddings.standardizeApply(e, "vec_id", "embedding", m)
      .orderBy("vec_id", "pos")
  }

  /** Distributed ANN JOIN gate: queries are a TABLE (vec_id < 15), corpus
    * the rest — no driver literals anywhere. The seeded hyperplanes
    * persist as a fixture (the BPE pattern) so DuckDB recomputes BOTH
    * sides' sketches from raw dot products against the same planes, then
    * replays the Hamming-≤1 bucket match and the per-query cosine rank.
    * The hash gate therefore covers the sketch kernel, the multi-probe
    * mask fan-out, the bucket equi-join, and the rank — any drift between
    * driver masks and executor sketches goes red. */
  gate("a6_ann_join",
      // replays the ANN join from the persisted plane fixture: sketches from
      // raw dot products (bit i set iff v·w_i >= 0), candidates from the
      // Hamming<=1 sketch match, rank by exact cosine with id tiebreak
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT q.vec_id AS query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk q JOIN sk c ON bit_count(xor(q.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = q.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id < 15 AND c.vec_id >= 15),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    Ann.annJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 8, maxHamming = 1)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Salted ANN-join gate under PLANTED bucket skew: 200 positive
    * power-of-two-scaled copies of one corpus vector (sign(2^k·v·w) =
    * sign(v·w), so every copy lands in the SAME sketch bucket — a hot
    * bucket by construction, the near-duplicate-cluster shape that
    * concentrates a production corpus). saltFactor = 4 spreads them; the
    * oracle replays the UNSALTED semantics (the salt's whole contract is
    * result-identity — the per-pair cosine set and the (cosine desc, id)
    * rank are unchanged), so the hash gate proves the salted path returns
    * exactly the unsalted answer on skewed data. The per-task bound
    * itself is specced (SkewJoinSpec). */
  gate("a6b_ann_join_salted",
      // a6's replay over the hot-augmented corpus (200 power-of-two-scaled
      // copies of vec 20 — one hot bucket by construction): the SALTED
      // join's oracle is the UNSALTED semantics, because salt's contract is
      // result-identity; scaling by 2^k is exact in float and sign-exact in
      // the sketch, so the replay is bit-faithful
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         hot AS (SELECT 9500000 + t.i AS vec_id,
             CAST([CAST(CAST(x AS DOUBLE) * pow(2.0, (t.i % 5) - 2) AS FLOAT)
                   for x in e0.embedding] AS DOUBLE[]) AS v
           FROM embeddings e0, UNNEST(range(0, 200)) AS t(i)
           WHERE e0.vec_id = 20),
         e AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM hot),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT q.vec_id AS query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk q JOIN sk c ON bit_count(xor(q.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = q.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id < 15 AND c.vec_id >= 15),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    val hot = e.filter(col("vec_id") === 20)
      .select(explode(sequence(lit(0L), lit(199L))).as("i"), col("embedding"))
      .select((col("i") + 9500000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), pmod(col("i"), lit(5L)) - 2)).cast("float"))
          .as("embedding"),
        lit("hot").as("label"))
    Ann.annJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15).unionByName(hot),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 8, maxHamming = 1, saltFactor = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  private val IvfJoinCentroidsFixture = "/tmp/graft_fixtures/ivf_join_centroids.parquet"
  private val IvfJoinAssignFixture = "/tmp/graft_fixtures/ivf_join_assign.parquet"

  /** Routed ANN-join gate: the trained centroids AND the corpus's cluster
    * assignments persist as fixtures (assignment correctness is gated by
    * a3/a3b; here they are INPUT), so DuckDB replays exactly the join's
    * own work — per-query centroid ranking with the lower-cid tie
    * contract, the probe fan-out, the cluster equi-join, and the cosine
    * rank. */
  gate("a7_ann_ivf_join",
      // replays the routed join from the centroid + assignment fixtures:
      // per-query centroid rank (cos DESC, cid — the lower-cid tie
      // contract), nprobe fan-out, cluster equi-join, cosine rank
      """WITH cen AS (SELECT cid, centroid
                      FROM read_parquet('/tmp/graft_fixtures/ivf_join_centroids.parquet/*.parquet')),
         a AS (SELECT vec_id, gr_cluster
               FROM read_parquet('/tmp/graft_fixtures/ivf_join_assign.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 15),
         pr AS (SELECT q.query_id, cen.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cen.centroid) DESC, cen.cid)
               AS rk
           FROM q, cen),
         cand AS (SELECT p.query_id, a.vec_id
           FROM pr p JOIN a ON a.gr_cluster = p.cid WHERE p.rk <= 4),
         m AS (SELECT c.query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM cand c JOIN e qe ON qe.vec_id = c.query_id
             JOIN e ce ON ce.vec_id = c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val idx = Ann.ivfBuild(e.filter(col("vec_id") >= 15), "vec_id",
      "embedding", nlist = 16)
    idx.centroids.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(IvfJoinCentroidsFixture)
    idx.clustered.select("vec_id", "gr_cluster").coalesce(1)
      .write.mode("overwrite").parquet(IvfJoinAssignFixture)
    Ann.ivfJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        idx, "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  private val IvfRebuildCentroidsFixture =
    "/tmp/graft_fixtures/ivf_rebuild_centroids.parquet"
  private val IvfRebuildAssignFixture =
    "/tmp/graft_fixtures/ivf_rebuild_assign.parquet"

  /** Full index-maintenance lifecycle as ONE gate: build → append →
    * staged REBUILD (verify + move-in-before-delete swap + baseline
    * reset) → serve. The rebuilt centroids and assignments persist as
    * fixtures (rebuild correctness of assignment is what the lifecycle
    * produced; here it is INPUT, a7's pattern), so DuckDB replays the
    * post-swap serving exactly — if the swap lost rows, left stale
    * centroids, or broke the layout, the replayed probe disagrees. */
  gate("a9_ivf_rebuild",
      // a7's replay against the POST-REBUILD fixtures: if the staged swap
      // lost rows, kept stale centroids, or broke the partitioned layout,
      // the replayed probe disagrees
      """WITH cen AS (SELECT cid, centroid
                      FROM read_parquet('/tmp/graft_fixtures/ivf_rebuild_centroids.parquet/*.parquet')),
         a AS (SELECT vec_id, gr_cluster
               FROM read_parquet('/tmp/graft_fixtures/ivf_rebuild_assign.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         pr AS (SELECT q.query_id, cen.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cen.centroid) DESC, cen.cid)
               AS rk
           FROM q, cen),
         cand AS (SELECT p.query_id, a.vec_id
           FROM pr p JOIN a ON a.gr_cluster = p.cid WHERE p.rk <= 4),
         m AS (SELECT c.query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM cand c JOIN e qe ON qe.vec_id = c.query_id
             JOIN e ce ON ce.vec_id = c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val path = "/tmp/graft_fixtures/ivf_rebuild_index"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.ivfWrite(Ann.ivfBuild(e.filter(col("vec_id") >= 15), "vec_id",
      "embedding", nlist = 16), path)
    Ann.ivfAppend(s, path,
      e.filter(col("vec_id") >= 5 && col("vec_id") < 15),
      "vec_id", "embedding", "growth")
    val idx = Ann.ivfRebuild(s, path, "vec_id")
    idx.centroids.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(IvfRebuildCentroidsFixture)
    idx.clustered.select("vec_id", "gr_cluster").coalesce(1)
      .write.mode("overwrite").parquet(IvfRebuildAssignFixture)
    Ann.ivfJoin(
        e.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        idx, "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF tombstone delete: ten planted cosine-1.0 copies (ids
    * 9400000+i), the EVEN ones deleted through
    * [[graft.operators.Ann.ivfDelete]] — the probe over the re-read
    * index must surface exactly the five surviving odd ids at ranks
    * 1..5. A delete that failed to reach the probe path would put the
    * smaller even ids back at the top on the id tiebreak and go red. */
  gate("a14_ivf_delete",
      // only the five SURVIVING odd planted ids; a missed delete would
      // rank the smaller even ids first on the tiebreak
      """SELECT CAST(9400001 + 2 * i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(5) t(i) ORDER BY rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + 9400000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit(777).as("label"))
    val path = "/tmp/graft_fixtures/ivf_delete_index"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.ivfWrite(Ann.ivfBuild(e.unionByName(planted), "vec_id",
      "embedding", nlist = 16), path)
    Ann.ivfDelete(s, path,
      planted.filter(col("vec_id") % 2 === 0).select("vec_id"))
    Ann.ivfTopK(Ann.ivfRead(s, path), "vec_id", "embedding",
        queryVec(s, dir), k = 5, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  gate("a4_ann_batch",
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT q.query_id, e.vec_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS c
           FROM embeddings e CROSS JOIN q WHERE e.vec_id NOT IN (0, 1, 2)),
         r AS (SELECT query_id, vec_id, CAST(row_number() OVER
           (PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT) AS rank FROM s)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Ann.batchBruteTopK(e, "vec_id", "embedding", qs, k = 5,
        excludeIds = Seq(0L, 1L, 2L))
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Binary-quantized ANN: sign-bit codes ([[graft.operators.Embeddings
    * .binarize]], 32× narrower than float32) scanned with per-word
    * `bit_count(xor)` Hamming distance, per-query top-3. The oracle
    * recomputes every pair's Hamming distance FROM THE RAW FLOATS
    * (count of sign disagreements), so the gate pins the whole packed
    * path — packing, xor kernel, rank — against first principles.
    * Query batch: the 10 `vec_id % 50 = 0` vectors (bounded driver
    * collect, the documented query-literal contract shared with a4). */
  gate("a10_binary_hamming",
      // Hamming recomputed from the raw floats (sign disagreements)
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
         h AS (SELECT q.query_id, e.vec_id,
             (SELECT count(*) FROM
                (SELECT unnest(q.qv) AS a, unnest(e.embedding) AS b) z
              WHERE (z.a > 0) <> (z.b > 0)) AS hamming
           FROM q CROSS JOIN embeddings e),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY hamming, vec_id) AS rank FROM h)
         SELECT query_id, vec_id, hamming, rank FROM r
         WHERE rank <= 3 ORDER BY query_id, rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        graft.operators.Embeddings.signWordsLocal(r.getSeq[Float](1).toArray)))
      .sortBy(_._1).toSeq
    val bits = graft.operators.Embeddings.binarize(e, "vec_id", "embedding")
    Ann.binaryTopK(bits, "vec_id", "bits", qs, k = 3)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** MMR diversity re-rank: per-query top-12 cosine candidates (the a4
    * batched-brute shape), greedily re-ranked to 4 results by
    * `0.5·rel − 0.5·max-sim-to-picked` ([[graft.operators.Ann.mmrRerank]]).
    * Every quantity the greedy loop compares — relevance cosines AND the
    * candidate-to-picked cosines — is the kernel double that DuckDB's
    * `list_cosine_similarity` reproduces bit-for-bit (the a6/e4 parity
    * contract), so the oracle replays all four greedy rounds UNROLLED and
    * the hash gate pins the whole selection: candidate cut, seed pick,
    * anti-join, max-sim aggregation, λ-arithmetic and id tiebreaks. */
  gate("a11_mmr",
      // all four greedy MMR rounds unrolled: seed = argmax rel, each later
      // round = argmax 0.5*rel - 0.5*max-cos-to-picked over the unpicked
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         c0 AS (SELECT q.qid, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS rel
           FROM embeddings e, q WHERE e.vec_id NOT IN (0, 1, 2)),
         cand AS (SELECT qid, vec_id, v, rel FROM
           (SELECT c0.*, row_number() OVER (PARTITION BY qid
              ORDER BY rel DESC, vec_id) AS rn FROM c0) WHERE rn <= 12),
         s1 AS (SELECT qid, vec_id, v, 1 AS step FROM
           (SELECT cand.*, row_number() OVER (PARTITION BY qid
              ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
         p2 AS (SELECT qid, vec_id, v, 2 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN s1 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM s1 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2),
         p3 AS (SELECT qid, vec_id, v, 3 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN sel2 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM p3),
         p4 AS (SELECT qid, vec_id, v, 4 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN sel3 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM p4)
         SELECT qid AS query_id, vec_id, step FROM sel4
         ORDER BY query_id, step""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val cand = Ann.batchBruteTopK(e, "vec_id", "embedding", qs, k = 12,
        excludeIds = qids)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("embedding"), col("cosine"))
    Ann.mmrRerank(cand, "query_id", "vec_id", "embedding", "cosine", k = 4)
      .orderBy("query_id", "step")
  }

  /** Matryoshka two-phase search: coarse top-50 on the first 16 of 64
    * dimensions, exact re-rank on the full vector
    * ([[graft.operators.Ann.matryoshkaTopK]]). Both phases are exact
    * arithmetic, so the oracle replays the WHOLE approximation —
    * shortlist cut and re-rank — bit-for-bit; nothing planted. */
  gate("a13_matryoshka",
      // the whole two-phase approximation replayed: prefix-dim shortlist,
      // then exact full-dim re-rank within it
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id <> 0),
         sl AS (SELECT vec_id, v FROM
           (SELECT e.vec_id, e.v, row_number() OVER (ORDER BY
              list_cosine_similarity(e.v[1:16], (SELECT qv[1:16] FROM q))
                DESC, e.vec_id) AS rn
            FROM e) WHERE rn <= 50)
         SELECT vec_id, rank FROM
           (SELECT vec_id, CAST(row_number() OVER (ORDER BY
              list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id)
              AS INT) AS rank
            FROM sl) WHERE rank <= 10
         ORDER BY rank""") { (s, dir) =>
    Ann.matryoshkaTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryVec(s, dir), k = 10, prefixDims = 16, shortlist = 50,
        excludeIds = Seq(0L))
      .select(col("vec_id"), col("rank")).orderBy("rank")
  }

  /** Batched IVF probe over a corpus with 5 planted power-of-two-scaled
    * copies PER QUERY (queries 0,1,2 → ids 9700000 + q·100 + i): each
    * query's copies sit at cosine exactly 1.0 for it (scaling by 2^k
    * commutes with double rounding) and in its argmax cluster, which
    * nprobe ≥ 1 always probes — so the enumerable truth is each query's
    * own planted ids at ranks 1..5, tie-broken by vec_id. One scan serves
    * all three queries. */
  gate("a5_ann_ivf_batch",
      // per-query planted copies dominate each query's top-5 at cosine 1.0
      """SELECT CAST(q AS BIGINT) AS query_id,
           CAST(9700000 + q * 100 + i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(3) tq(q) CROSS JOIN range(5) ti(i)
         ORDER BY query_id, rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val planted = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q"), explode(sequence(lit(0L), lit(4L))).as("i"),
        col("embedding"), col("label"))
      .select((lit(9700000L) + col("q") * 100L + col("i")).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 2)).cast("float")).as("embedding"),
        col("label"))
    val corpus = e.unionByName(planted)
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Ann.ivfBatchTopK(index, "vec_id", "embedding", qs, k = 5, nprobe = 4,
        excludeIds = qids)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  gate("a2_ann_lsh",
      // the true top-10 over annCorpus is the planted power-of-two-scaled
      // copies of the query (cosine exactly 1.0, id-order tiebreak) — the hash
      // match gates that the approximate index recalls all of them
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    Ann.lshTopK(annCorpus(s, dir), "vec_id", "embedding", dim = 64,
        queryVec(s, dir), k = 10, numPlanes = 12, maxHammingProbe = 3,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Product-quantization ADC top-10: codebooks train driver-side on a
    * seeded hash-sample (bounded model, BPE policy), persist as a fixture,
    * and the DuckDB oracle REPLAYS encode + asymmetric-distance scoring
    * from that fixture bit-exactly (every arithmetic path shares one fold
    * order — ascending elements/cells/subspaces), then re-ranks. So the
    * gate pins the whole quantized pipeline — subspace split, nearest-cell
    * assignment incl. ties-to-lower, LUT build, ADC sum, rank — not just
    * "runs". Quantized top-k is NOT the exact top-k (that's a1; recall
    * floors live in RecallSpec) — the oracle ranks by the SAME quantized
    * distance, which is the correct contract for a lossy index. */
  gate("p1_ann_pq",
      // replays PQ encode + ADC from the persisted codebook fixture:
      // per-subspace squared-L2 via an ordered positional fold (list_sum
      // over a diff list — the same ascending-element order as the Spark
      // kernel), nearest cell by (distance, cell) so exact ties keep the
      // lower id, per-candidate ADC as an ordered list_sum over subspaces,
      // rank by (quantized distance, vec_id)
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id)
         SELECT vec_id, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT)
           AS rank
         FROM adc WHERE vec_id <> 0
         ORDER BY dist, vec_id LIMIT 10""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    val encoded = Pq.pqEncode(e, "vec_id", "embedding", model)
    Pq.pqTopK(encoded, "vec_id", queryVec(s, dir), model, k = 10,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private val PqCodebooksFixture = "/tmp/graft_fixtures/pq_codebooks.parquet"

  /** Batched PQ ADC: three queries, ONE scan of the code table — the
    * multi-LUT kernel scores each row against every query in one code
    * walk. Same trained model and fixture as p1 (the builder re-trains
    * identically — training is deterministic), so the oracle is p1's
    * replay generalized per query. */
  gate("p3_ann_pq_batch",
      // p1's replay generalized per query: one encode pass, per-query LUTs,
      // per-query rank
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id IN (0, 1, 2)),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb WHERE e.vec_id NOT IN (0, 1, 2)),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT q.query_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT lut.query_id, enc.vec_id,
                   list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell)
                 GROUP BY lut.query_id, enc.vec_id),
         r AS (SELECT query_id, vec_id, CAST(row_number() OVER
                 (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rank
               FROM adc)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    val qids = Seq(0L, 1L, 2L)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Pq.pqBatchTopK(Pq.pqEncode(e, "vec_id", "embedding", model), "vec_id",
        qs, model, k = 5, excludeIds = qids)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** ADC candidates + exact re-rank — the standard quantized serving
    * pattern: top-50 by quantized distance from the code table, then
    * exact cosine over ONLY those 50 (broadcast id join back to the raw
    * vectors). Same model/fixture as p1; the oracle replays the ADC
    * short-list cut (ties by id) and re-ranks it with exact cosine. */
  gate("p4_ann_pq_rerank",
      // p1's ADC replay cut at 50 candidates (ties by id), then exact cosine
      // re-rank over only those ids — the quantized-candidates/exact-rerank
      // serving contract
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb WHERE e.vec_id <> 0),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id),
         short AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT 50),
         exact AS (SELECT s.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT qe FROM q)) AS c
           FROM short s JOIN embeddings e USING (vec_id))
         SELECT vec_id, CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS INT)
           AS rank
         FROM exact ORDER BY c DESC, vec_id LIMIT 10""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    Pq.pqTopKRerank(Pq.pqEncode(e, "vec_id", "embedding", model), e,
        "vec_id", "embedding", queryVec(s, dir), model, k = 10,
        candidates = 50, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** IVF-PQ: cluster routing (nprobe of nlist, the a3 shape) composed with
    * quantized ADC scoring (the p1 shape) — the canonical billion-scale
    * serving layout. BOTH trained artifacts persist as fixtures and the
    * oracle replays the whole serving path: per-row nearest-centroid
    * assignment (cosine argmax, ties to the LARGER cid — the build/append
    * contract), the query's probe set (ties to the SMALLER cid — stable
    * sort), encode, ADC, rank. */
  gate("p2_ann_ivfpq",
      // the p1 replay composed with routing replay: per-row cluster
      // assignment (cosine argmax, ties to the LARGER cid), the query's
      // probe set (ties to the SMALLER cid), then encode+ADC over the
      // probed candidates only
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_codebooks.parquet/*.parquet')),
         cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_centroids.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         asg AS (SELECT vec_id FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 c.vec) DESC, c.cid DESC) AS rn
             FROM embeddings e CROSS JOIN cent c) x
           WHERE rn = 1 AND cid IN (
             SELECT cid FROM cent CROSS JOIN q
             ORDER BY list_cosine_similarity(q.qe, vec) DESC, cid ASC LIMIT 4)),
         cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
                  JOIN asg USING (vec_id) WHERE e.vec_id <> 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM cand e CROSS JOIN cb),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id)
         SELECT vec_id, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT)
           AS rank
         FROM adc ORDER BY dist, vec_id LIMIT 10""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(e, "vec_id", "embedding", nlist = 16)
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqCentroidsFixture)
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqCodebooksFixture)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    Pq.ivfPqTopK(serving, index.centroids, model, "vec_id", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private val IvfPqCentroidsFixture = "/tmp/graft_fixtures/ivfpq_centroids.parquet"
  private val IvfPqCodebooksFixture = "/tmp/graft_fixtures/ivfpq_codebooks.parquet"

  private val IvfPqJoinCentroidsFixture = "/tmp/graft_fixtures/ivfpq_join_centroids.parquet"
  private val IvfPqJoinCodebooksFixture = "/tmp/graft_fixtures/ivfpq_join_codebooks.parquet"
  private val IvfPqJoinServingFixture = "/tmp/graft_fixtures/ivfpq_join_serving.parquet"

  /** Quantized query-TABLE join gate: centroids, codebooks AND the encoded
    * serving table persist as fixtures (encode correctness is p1/p2's
    * gate — here the codes are INPUT), so DuckDB replays exactly the
    * join's own work: per-query centroid ranking (lower-cid ties), probe
    * fan-out, cluster equi-join, per-(query, candidate) ADC from the
    * codebook (ordered positional fold, p1's arithmetic), and the
    * distance rank. */
  gate("a8_ann_ivfpq_join",
      // replays the quantized join from the centroid/codebook/serving
      // fixtures: probe rank (cos DESC, cid), cluster join, per-pair ADC as
      // an ordered positional fold over the codebook (p1's arithmetic)
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_codebooks.parquet/*.parquet')),
         cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_centroids.parquet/*.parquet')),
         srv AS (SELECT vec_id, gr_cluster, pq_code FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_serving.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 15),
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cent.vec) DESC, cent.cid)
               AS rk
             FROM q CROSS JOIN cent) x WHERE rk <= 4),
         lut AS (SELECT q.query_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.v[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM q CROSS JOIN cb),
         cand AS (SELECT p.query_id, s.vec_id, s.pq_code
           FROM pr p JOIN srv s ON s.gr_cluster = p.cid),
         adc AS (SELECT c.query_id, c.vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
           FROM cand c JOIN lut l ON l.query_id = c.query_id
             AND l.cell = c.pq_code[l.sub + 1]
           GROUP BY c.query_id, c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rank
           FROM adc)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") >= 15)
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    val model = Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 16)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqJoinCentroidsFixture)
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqJoinCodebooksFixture)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    serving.coalesce(1).write.mode("overwrite").parquet(IvfPqJoinServingFixture)
    Pq.ivfPqJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        serving, index.centroids, model,
        "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  gate("a3_ann_ivf",
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 16)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Soft multi-assignment (SPANN boundary recipe): the same planted
    * corpus and probe as `a3`, but every row is stored in its TWO
    * nearest clusters. Each planted copy now exists twice, and with
    * nprobe=4 a query probes both homes of many of them — a probe path
    * missing the by-id dedup would emit duplicate vec_ids in the top-10
    * and go red; ranks shifting would catch a tie-break divergence
    * between the multi-assign sort and the build argmax. RecallSpec
    * pins the organic-recall LIFT this layout buys. */
  gate("a16_ivf_multiassign",
      // the planted family again, through the doubly-stored layout: any
      // missing by-id dedup would duplicate vec_ids in the top-10
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding",
      nlist = 16, assignTop = 2)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Per-cluster NSW graph ANN over the same planted corpus and routing
    * as `a3`: graphs build per `gr_cluster`, the probe centroid-routes
    * then beam-walks each cluster's graph from its entry. The beam here
    * covers the probed clusters entirely, so the walk must be EXACT and
    * the planted cosine-1.0 family is the only possible answer — a
    * disconnected graph, a broken walk, or wrong routing all go red.
    * The approximate (narrow-beam) regime is pinned by GraphAnnSpec.
    * See [[graft.operators.GraphAnn]]. */
  gate("a15_graph_ann",
      // same planted truth through the graph path: full-beam NSW walk over
      // the routed clusters must surface exactly the cosine-1.0 family
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 16)
    val nsw = graft.operators.GraphAnn.nswBuild(index, "vec_id",
      m = 8, efConstruction = 32)
    graft.operators.GraphAnn.nswTopK(nsw, queryVec(s, dir), k = 10,
        nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Incremental NSW growth — a3b's analog for the graph index: the
    * graph index is built and persisted from the ORGANIC corpus only,
    * then a batch of 10 planted query-direction copies (ids 9500000+i,
    * power-of-two scaled → cosine exactly 1.0) plus 10 junk vectors
    * (negated → cosine −1) flows through
    * [[graft.operators.GraphAnn.nswAppend]] — frozen-centroid data
    * append plus in-place insertion into only the touched clusters'
    * graphs (monotone ids, so the insertion replays the full rebuild's
    * state evolution bit-for-bit; GraphAnnSpec asserts the adjacency
    * equality). The probe over the RE-READ index (fresh staleness
    * witness) must surface exactly the appended planted ids at ranks
    * 1..10 — a stale graph, a missed cluster, or a broken witness
    * update all go red. */
  gate("a15b_graph_ann_append",
      // the appended planted family (and ONLY it) dominates the walk at
      // cosine 1.0 — green means the graph grew across the append and the
      // re-read witness accepted the grown graph
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val path = "/tmp/graft_fixtures/nsw_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val base = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(base, "vec_id", "embedding", nlist = 16)
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(index, "vec_id",
        m = 8, efConstruction = 32), path)
    val q0 = base.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val planted = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    val junk = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    graft.operators.GraphAnn.nswAppend(s, path, planted.unionByName(junk),
      "vec_id", "embedding", tag = "a15b-batch0")
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, path), queryVec(s, dir),
        k = 10, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Graph-index DELETE (a14's analog through the graph path): the
    * full planted family is built and persisted, the five EVEN planted
    * ids tombstone through [[graft.operators.GraphAnn.nswDelete]] —
    * which rebuilds ONLY the touched clusters' graphs from survivors
    * and refreshes the witness — and the re-read probe at k=5 must
    * surface exactly the five surviving ODD planted ids: a missed
    * delete would rank the smaller even ids first on the id tiebreak,
    * a stale graph would still walk to them, and a stale witness would
    * refuse the read. */
  gate("a15d_graph_ann_delete",
      // only the five SURVIVING odd planted ids through the graph walk; a
      // missed delete ranks the smaller even ids first on the tiebreak
      """SELECT CAST(9000001 + 2 * i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(5) t(i) ORDER BY rank""") { (s, dir) =>
    import s.implicits._
    val path = "/tmp/graft_fixtures/nswdel_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    // start clean EVERY run: ivfWrite overwrites data/graph/sidecar but
    // not the tombstones dir, and a previous run's tombstones would
    // make the fresh witness read as drifted
    val pth = new org.apache.hadoop.fs.Path(path)
    pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
    // drop the fixture's label column before persisting: ANSI union
    // coercion typed it BIGINT against the planted 'planted' string,
    // which explodes the moment a write materializes the cast
    val index = Ann.ivfBuild(
      annCorpus(s, dir).select("vec_id", "embedding"), "vec_id", "embedding",
      nlist = 16)
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(index, "vec_id",
        m = 8, efConstruction = 32), path)
    graft.operators.GraphAnn.nswDelete(s, path,
      (0 until 5).map(i => 9000000L + 2 * i).toDF("vec_id"))
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, path), queryVec(s, dir),
        k = 5, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Graph ANN composed WITH soft multi-assignment (a16 × a15): the
    * index stores every row in its two nearest clusters, so each copy
    * is a node in its cluster's NSW graph and a probe covering two
    * homes of one id walks to it twice — the by-id dedup must collapse
    * the union before ranking or duplicate vec_ids poison the top-10
    * and the hash goes red. Full beam keeps the walk exact, so the
    * planted cosine-1.0 family is the only possible answer; the
    * organic boundary-recall LIFT this composition buys is pinned in
    * GraphAnnSpec (the RecallSpec convention).
    * See [[graft.operators.GraphAnn.nswBuild]]. */
  gate("a15c_graph_ann_multiassign",
      // the planted family through BOTH the doubly-stored layout and the
      // graph walk: a missing by-id dedup of the per-copy walk hits would
      // duplicate vec_ids in the top-10
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding",
      nlist = 16, assignTop = 2)
    val nsw = graft.operators.GraphAnn.nswBuild(index, "vec_id",
      m = 8, efConstruction = 32)
    graft.operators.GraphAnn.nswTopK(nsw, queryVec(s, dir), k = 10,
        nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** FILTERED vector search: two planted cosine-1.0 families — label
    * 777001 ('drop') at ids 9300000+i, label 777002 ('keep') at the
    * LARGER ids 9310000+i — share the query's argmax cluster, so an
    * ivfTopK that ignored (or post-hoc applied) the `label = 777002`
    * predicate would rank the smaller-id 'drop' rows first on the id
    * tiebreak and go red. Green means the predicate reached INSIDE the
    * pruned probe and the k results are all filter-true — the
    * tenancy/stock-filter serving contract. */
  gate("a12_ann_filtered",
      // only the filter-true planted family may surface; the equally-tied
      // smaller-id 'drop' family would win the tiebreak if the predicate
      // were ignored or applied post-hoc
      """SELECT CAST(9310000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    def plant(baseId: Long, lbl: Int) = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + baseId).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit(lbl).as("label"))
    val corpus = e.unionByName(plant(9300000L, 777001))
      .unionByName(plant(9310000L, 777002))
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L),
        rowFilter = col("label") === 777002)
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Incremental ANN — the d11 analog for IVF: the index is built from the
    * ORGANIC corpus only and persisted (partitioned by cluster), then a
    * batch carrying 10 planted copies of the query vector (ids 9500000+i,
    * scaled by powers of two so cosine stays bit-exactly tied) plus 10
    * junk vectors (negated → cosine −1) is APPENDED through
    * [[graft.operators.Ann.ivfAppend]] — assignment against the stored
    * centroids, no rebuild. The probe over the re-read index must surface
    * exactly the appended planted ids at ranks 1..10: power-of-two
    * scaling commutes with double rounding, so every planted copy lands
    * in the query direction's argmax cluster (which nprobe ≥ 1 always
    * probes) and ties break by vec_id. */
  gate("a3b_ann_ivf_append",
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val path = "/tmp/graft_fixtures/ivf_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val base = t(s, dir, "embeddings")
    Ann.ivfWrite(Ann.ivfBuild(base, "vec_id", "embedding", nlist = 16), path)
    val q0 = base.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val planted = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    val junk = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    Ann.ivfAppend(s, path, planted.unionByName(junk), "vec_id", "embedding",
      tag = "a3b-batch0")
    Ann.ivfTopK(Ann.ivfRead(s, path), "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** End-to-end hybrid serving with query TABLES only, through the ONE
    * public call a user makes ([[graft.operators.Retrieval.hybridJoin]]):
    * LSH ANN join (cosine list) ⊕ BM25 join (rounded-score list) ⊕
    * grouped reciprocal-rank fusion at topN=20 per list. The query table
    * carries BOTH modalities per row (embedding + terms); the id spaces
    * coincide by construction (vec_id ≡ doc id for fusion purposes).
    * rrf_score sums at most two 1/(rank+60) doubles — commutative, so
    * hash-stable (t13's argument). Oracle replays BOTH lists (planes
    * fixture + BM25 arithmetic) and the fusion. */
  gate("h1_hybrid_join",
      // both join lists replayed (plane-fixture ANN + BM25 arithmetic),
      // then RRF: 1/(rank+60), at most two additions per (query, doc)
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id),
         lexr AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id) AS r
           FROM sc),
         p AS (SELECT plane_ix, w AS pw FROM
           read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.pw) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT qs.vec_id AS query_id, c.vec_id AS doc_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk qs JOIN sk c ON bit_count(xor(qs.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = qs.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE qs.vec_id < 5 AND c.vec_id >= 15),
         annr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
           FROM m),
         un AS (SELECT query_id, doc_id, 1.0 / (r + 60) AS rr
                FROM annr WHERE r <= 20
                UNION ALL
                SELECT query_id, doc_id, 1.0 / (r + 60) AS rr
                FROM lexr WHERE r <= 20)
         SELECT query_id, doc_id, sum(rr) AS rrf_score,
           CAST(count(*) AS BIGINT) AS n_lists
         FROM un GROUP BY query_id, doc_id ORDER BY query_id, doc_id""") { (s, dir) =>
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(bm25JoinQueries(s), "query_id")
    graft.operators.Retrieval.hybridJoin(
        q, e.filter(col("vec_id") >= 15), "vec_id",
        t(s, dir, "documents"), "doc_id",
        "query_id", "embedding", "terms", "text",
        dim = 64, topN = 20)
      .orderBy("query_id", "doc_id")
  }

  /** qvec is serialized to a comma-joined string for the gate: the driver's
    * comparison harness sorts every output column and raw array cells are
    * unsortable there, so both sides emit the same canonical string form.
    * The engine-facing operator ([[graft.operators.Embeddings.quantize]])
    * still returns the real array<int> column. */
  gate("e1_quantize",
      """WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mx AS (SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS mxv FROM m)
         SELECT vec_id, mxv/127.0 AS scale,
           array_to_string([CASE WHEN mxv = 0 THEN 0
                 ELSE CAST(floor(x*127.0/mxv + 0.5) AS INT) END for x in v], ',')
             AS qvec_str
         FROM mx ORDER BY vec_id""") { (s, dir) =>
    graft.operators.Embeddings.quantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("qvec"), _.cast("string")), ",").as("qvec_str"))
      .orderBy("vec_id")
  }

  /** L2 normalization — posexploded so the gate hashes raw doubles (the
    * comparator cannot sort array cells; see e1's string workaround). The
    * sequential square fold matches DuckDB's list_reduce order, so norm,
    * sqrt, and divisions are bit-identical. */
  gate("e2_l2norm",
      """WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
           FROM m)
         SELECT vec_id, nrm AS norm, CAST(i - 1 AS INT) AS pos,
           CASE WHEN nrm = 0 THEN 0.0 ELSE v[i]/nrm END AS val
         FROM n, UNNEST(range(1, len(v)+1)) AS t(i)
         ORDER BY vec_id, pos""") { (s, dir) =>
    graft.operators.Embeddings.l2normalize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("norm"), posexplode(col("nvec")).as(Seq("pos", "val")))
      .orderBy("vec_id", "pos")
  }

  /** Mean-pooling gate: per-label pooled embedding via the vector_avg
    * TypedImperativeAggregate (bounded buffers through the shuffle, no
    * posexplode in the aggregation); output posexploded + rounded (float
    * sums are summation-order sensitive — e2's determinism contract). */
  gate("e3_meanpool",
      """WITH x AS (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings)
         SELECT label, pos, round(avg(val), 6) AS v
         FROM x GROUP BY label, pos ORDER BY label, pos""") { (s, dir) =>
    graft.operators.Embeddings.meanPool(t(s, dir, "embeddings"), "label", "embedding")
      .select(col("label"), posexplode(col("mean_vec")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"), round(col("v"), 6).as("v"))
      .orderBy("label", "pos")
  }

  /** Per-label centroid similarity matrix: mean-pool per label (the e3
    * native partial aggregate), round coordinates at 6 decimals so both
    * engines cosine over IDENTICAL inputs, then the upper-triangle cosine
    * grid. The pairwise join is over the LABEL frame (bounded by class
    * count — a stats frame, not a corpus), so the nested-loop there is
    * by design. */
  gate("e5_centroid_sim",
      """WITH x AS (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         m AS (SELECT label, pos, round(avg(val), 6) AS v
           FROM x GROUP BY label, pos),
         c AS (SELECT label, list(v ORDER BY pos) AS vec
           FROM m GROUP BY label)
         SELECT a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.vec, b.vec) /
             (sqrt(list_dot_product(a.vec, a.vec)) *
              sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos
         FROM c a JOIN c b ON a.label < b.label
         ORDER BY label_a, label_b""") { (s, dir) =>
    val cents = t(s, dir, "embeddings").groupBy("label")
      .agg(graft.functions.VectorAvgAgg.vectorAvg(col("embedding")).as("c0"))
      .select(col("label"), transform(col("c0"), v => round(v, 6)).as("c"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val a = cents.select(col("label").as("label_a"), col("c").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))),
          6).as("cos"))
      .orderBy("label_a", "label_b")
  }

  private val PcaFixture = "/tmp/graft_fixtures/pca_model.parquet"

  /** Distributed PCA: one-pass covariance fit (native partial aggregate)
    * + driver Jacobi on the 64×64 covariance + shuffle-free projection.
    * The fitted components persist as a fixture and DuckDB replays every
    * projection as `list_dot_product(x, comp) − mean_dot` — the same
    * sequential double arithmetic, so the hash pins bit parity. */
  gate("e4_pca",
      // replay the projection from the persisted components: the dot product
      // is the same sequential double sum in both engines, so no rounding
      """SELECT e.vec_id, f.pc,
           list_dot_product(e.embedding, f.comp) - f.mean_dot AS coord
         FROM embeddings e,
           read_parquet('/tmp/graft_fixtures/pca_model.parquet/*.parquet') f
         ORDER BY e.vec_id, f.pc""") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val model = graft.operators.Pca.fit(emb, "embedding", k = 4)
    graft.operators.Pca.writeModel(s, model, PcaFixture)
    graft.operators.Pca.projectLong(emb, "vec_id", "embedding", model)
      .orderBy("vec_id", "pc")
  }
}
