package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextFunctions
import graft.operators.{Ann, Decontaminate, Dedup, Multimodal}

/** Dedup gates, `dN_*`: exact, fuzzy, span, chunk and embedding
  * deduplication, decontamination and data selection. */
object DedupGates extends GateFamily {
  import GateSupport._

  /** Shared by d10 and d10b: the doc-level span stats do not depend on the
    * span key representation (string vs xxhash64), so both configurations
    * replay against the same SQL. */
  private val SpanStatsOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       sp AS (SELECT doc_id,
                array_to_string(ws[CAST(i AS BIGINT):CAST(i+4 AS BIGINT)], ' ') AS span
              FROM w, UNNEST(range(1, len(ws) - 5 + 2)) AS t(i)
              WHERE len(ws) >= 5),
       d AS (SELECT DISTINCT doc_id, span FROM sp),
       c AS (SELECT span, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY span)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
           AS share_ratio
       FROM d JOIN c USING (span)
       GROUP BY doc_id ORDER BY doc_id"""

  /** d12 / d12b share one SQL: the cleaned text is independent of the
    * chunk-key representation (string vs xxhash64), so both
    * configurations replay against the same chunk-by-chunk rebuild. */
  private val ChunkDedupOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       ch AS (SELECT doc_id, CAST(i AS INT) AS ci,
                array_to_string(ws[CAST(i*4+1 AS BIGINT):CAST(i*4+4 AS BIGINT)],
                  ' ') AS chunk
              FROM w, UNNEST(range(0, (len(ws) + 3) // 4)) AS t(i)),
       sh AS (SELECT chunk FROM (SELECT DISTINCT doc_id, chunk FROM ch)
              GROUP BY chunk HAVING count(*) >= 2),
       k AS (SELECT ch.doc_id, ch.ci, ch.chunk FROM ch
             LEFT JOIN sh USING (chunk) WHERE sh.chunk IS NULL),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
               FROM ch GROUP BY doc_id)
       SELECT tot.doc_id,
         coalesce(string_agg(k.chunk, ' ' ORDER BY k.ci), '') AS text_clean,
         tot.n_chunks,
         tot.n_chunks - CAST(count(k.chunk) AS BIGINT) AS n_removed
       FROM tot LEFT JOIN k USING (doc_id)
       GROUP BY tot.doc_id, tot.n_chunks ORDER BY doc_id"""

  /** d14 / d14b share one SQL (key-representation-independent, like
    * d12): same chunk decomposition, but survival is ownership — a
    * duplicated chunk keeps only its min-doc_id copy. */
  private val KeepFirstOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       ch AS (SELECT doc_id, CAST(i AS INT) AS ci,
                array_to_string(ws[CAST(i*4+1 AS BIGINT):CAST(i*4+4 AS BIGINT)],
                  ' ') AS chunk
              FROM w, UNNEST(range(0, (len(ws) + 3) // 4)) AS t(i)),
       own AS (SELECT chunk, MIN(doc_id) AS owner
               FROM (SELECT DISTINCT doc_id, chunk FROM ch)
               GROUP BY chunk HAVING count(*) >= 2),
       k AS (SELECT ch.doc_id, ch.ci, ch.chunk FROM ch
             LEFT JOIN own USING (chunk)
             WHERE own.owner IS NULL OR own.owner = ch.doc_id),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
               FROM ch GROUP BY doc_id)
       SELECT tot.doc_id,
         coalesce(string_agg(k.chunk, ' ' ORDER BY k.ci), '') AS text_clean,
         tot.n_chunks,
         tot.n_chunks - CAST(count(k.chunk) AS BIGINT) AS n_removed
       FROM tot LEFT JOIN k USING (doc_id)
       GROUP BY tot.doc_id, tot.n_chunks ORDER BY doc_id"""

  /** documents ∪ a shifted copy of itself — guaranteed duplicates with a
    * known id mapping, so dedup results are oracle-expressible. */
  private def docsWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
  }

  gate("d1_dedup_exact",
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents) u
         GROUP BY md5(text) ORDER BY doc_id""") { (s, dir) =>
    Dedup.exact(docsWithCopies(s, dir), "doc_id", "text")
      .select("doc_id", "n_copies").orderBy("doc_id")
  }

  // d2/d3 restrict to the planted copy pairs (id_b == id_a + 1e6): the LSH
  // also (correctly) surfaces organic near-dups in the synthetic corpus,
  // which a SQL oracle cannot enumerate; the planted pairs give an exact
  // recall check — all 500 must be found.
  gate("d2_dedup_minhash",
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         FROM documents ORDER BY id_a, id_b""") { (s, dir) =>
    Dedup.minhashPairs(docsWithCopies(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 8, threshold = 0.9)
      .filter(col("id_b") === col("id_a") + 1000000)
      .select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")
  }

  gate("d3_dedup_simhash",
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INT) AS hamming
         FROM documents ORDER BY id_a, id_b""") { (s, dir) =>
    Dedup.simhashPairs(docsWithCopies(s, dir), "doc_id", "text", maxHamming = 3)
      .filter(col("id_b") === col("id_a") + 1000000)
      .select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")
  }

  gate("d4_ngram_jaccard",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w)
         SELECT a.doc_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS j
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY a.doc_id""") { (s, dir) =>
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = sh.select((col("doc_id") - 1).as("id_a"), col("s").as("sb"))
    a.join(b, Seq("id_a"))
      .select(col("id_a").as("doc_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_distinct(concat(col("sa"), col("sb"))))).as("j"))
      .orderBy("doc_id")
  }

  /** Containment (quote-in-document) similarity: each doc's first 8
    * words, as a derived quote, scored against the NEXT doc — the
    * asymmetric subset measure Jaccard can't express. See
    * [[graft.operators.Dedup.shingleContainment]]. */
  gate("d16_containment",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         shc AS (SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) END) AS s
           FROM w),
         q AS (SELECT doc_id AS q_id, doc_id + 1 AS ref_id,
             ws[1:8] AS qw FROM w),
         shq AS (SELECT q_id, ref_id,
             list_distinct(CASE WHEN len(qw) < 2 THEN [array_to_string(qw, ' ')]
               ELSE list_transform(range(1, len(qw)),
                 i -> qw[i] || ' ' || qw[i+1]) END) AS s
           FROM q)
         SELECT shq.q_id AS doc_id,
           CAST(len(list_intersect(shq.s, shc.s)) AS DOUBLE) / len(shq.s)
             AS containment
         FROM shq JOIN shc ON shc.doc_id = shq.ref_id
         ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val quotes = docs
      .select(col("doc_id").as("q_id"), (col("doc_id") + 1).as("ref_id"),
        array_join(slice(TextFunctions.words(col("text")), 1, 8), " ")
          .as("q_text"))
    graft.operators.Dedup.shingleContainment(
        docs, "doc_id", "text", quotes, "q_id", "ref_id", "q_text")
      .select(col("q_id").as("doc_id"), col("containment"))
      .orderBy("doc_id")
  }

  /** EXACT set-similarity join via prefix filtering: every document pair
    * with 3-word-shingle Jaccard ≥ 3/5, computed through the prefix-token
    * equi-join — and the oracle computes BRUTE-FORCE all-pairs Jaccard, so
    * the hash proves the candidate pruning is lossless. Integer rational
    * threshold (`inter·5 ≥ uni·3`): no float boundary.
    * See [[graft.operators.Dedup.jaccardJoin]]. */
  gate("d18_jaccard_join",
      // brute-force all-pairs Jaccard: prefix filtering must lose nothing
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
             AS ws FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, list_distinct(
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS ts
           FROM w),
         q AS (SELECT doc_id AS q_id, ts AS qs FROM toks
           WHERE doc_id % 10 = 0),
         pairs AS (SELECT q_id, doc_id,
             len(list_intersect(qs, ts)) AS inter,
             len(qs) + len(ts) - len(list_intersect(qs, ts)) AS uni
           FROM q CROSS JOIN toks WHERE doc_id <> q_id)
         SELECT q_id, doc_id, inter, uni FROM pairs
         WHERE inter * 5 >= uni * 3 ORDER BY q_id, doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    graft.operators.Dedup.jaccardJoin(
        queries, "q_id", "q_text", docs, "doc_id", "text",
        thresholdNum = 3, thresholdDen = 5)
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("inter"), col("uni"))
      .orderBy("q_id", "doc_id")
  }

  /** CROSS-MODAL dedup report — the whole-asset view a multimodal corpus
    * pipeline actually runs: per document, the duplicate-group size under
    * each modality's key (exact text hash, image dHash, audio gradient
    * fingerprint, video structural fingerprint) side by side. Every key
    * is closed-form replayable, so the oracle reproduces all four
    * clusterings and the join; any modality key drifting breaks the
    * hash. Four map-side key computations + four (key)-grouped counts +
    * doc_id joins — no modality ever shuffles its payload. */
  gate("d17_multimodal_dedup",
      // all four modality clusterings replayed in closed form, then joined
      """WITH txt AS (SELECT doc_id, md5(text) AS k FROM documents),
         tg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS text_dups
           FROM txt GROUP BY k),
         t2 AS (SELECT doc_id, text_dups FROM txt JOIN tg USING (k)),
         idm AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         ig AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM idm d, UNNEST(range(0, 72)) AS p(p)),
         ib AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM ig a JOIN ig c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         ih AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END)
               AS BIGINT) AS lo
           FROM ib GROUP BY doc_id),
         igr AS (SELECT hi, lo, CAST(COUNT(*) AS BIGINT) AS image_dups
           FROM ih GROUP BY hi, lo),
         i2 AS (SELECT doc_id, image_dups FROM ih JOIN igr USING (hi, lo)),
         adm AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         asm AS (SELECT doc_id, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM adm, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         ab AS (SELECT a.doc_id, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM asm a JOIN asm c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         ah AS (SELECT doc_id,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS lo
           FROM ab GROUP BY doc_id),
         agr AS (SELECT hi, lo, CAST(COUNT(*) AS BIGINT) AS audio_dups
           FROM ah GROUP BY hi, lo),
         a2 AS (SELECT doc_id, audio_dups FROM ah JOIN agr USING (hi, lo)),
         vdm AS (SELECT doc_id, CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents),
         vfr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS fi,
             (f.f * delta * 1000) // tsc AS ts_ms, fs
           FROM vdm, UNNEST(range(0, nf)) f(f)),
         vsq AS (SELECT doc_id,
             string_agg(CAST(fi AS VARCHAR) || ':' ||
               CAST(ts_ms AS VARCHAR) || ':' || CAST(fs AS VARCHAR),
               ',' ORDER BY fi) AS sig
           FROM vfr GROUP BY doc_id),
         vh AS (SELECT doc_id, md5(sig) AS k FROM vsq),
         vgr AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS video_dups
           FROM vh GROUP BY k),
         v2 AS (SELECT doc_id, video_dups FROM vh JOIN vgr USING (k))
         SELECT t2.doc_id, t2.text_dups, i2.image_dups, a2.audio_dups,
           v2.video_dups
         FROM t2 JOIN i2 USING (doc_id) JOIN a2 USING (doc_id)
           JOIN v2 USING (doc_id)
         ORDER BY t2.doc_id""") { (s, dir) =>
    def groupSizes(df: DataFrame, keyCols: Seq[String], out: String): DataFrame = {
      val g = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as(out))
      df.join(g, keyCols).select(col("doc_id"), col(out))
    }
    val text = groupSizes(
      t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("k")),
      Seq("k"), "text_dups")
    val img = groupSizes(
      Multimodal.decodePngDHash(s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
        .filter(col("dhash.format") === "png")
        .select(col("doc_id"), col("dhash.hash_hi").as("hi"),
          col("dhash.hash_lo").as("lo")),
      Seq("hi", "lo"), "image_dups")
    val aud = groupSizes(
      Multimodal.decodeWavFingerprint(
          s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
        .filter(col("afp.format") === "wav")
        .select(col("doc_id"), col("afp.hash_hi").as("hi"),
          col("afp.hash_lo").as("lo")),
      Seq("hi", "lo"), "audio_dups")
    val vid = groupSizes(
      Multimodal.decodeMp4FrameSample(
          s.read.parquet(Fixtures.videoSampleDocs(s, dir)), k = 1)
        .filter(col("frame_sample.format") === "mp4")
        .select(col("doc_id"),
          md5(concat_ws(",", transform(col("frame_sample.frames"),
            f => concat_ws(":", f.getField("frame_idx"),
              f.getField("ts_ms"), f.getField("size"))))).as("k")),
      Seq("k"), "video_dups")
    text.join(img, "doc_id").join(aud, "doc_id").join(vid, "doc_id")
      .select("doc_id", "text_dups", "image_dups", "audio_dups", "video_dups")
      .orderBy("doc_id")
  }

  /** Transitive near-dup clusters over a deterministic chain-edge graph:
    * doc↔doc+1 and doc↔doc+2 edges where bigram-shingle jaccard ≥ 0.05.
    * The +2 edges make transitivity real (a–b–c chains where a,c are
    * not themselves an edge), so the hash gate exercises the closure. */
  gate("d7_connected_components",
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w),
         e0 AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 1
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05
           UNION ALL
           SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 2
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05),
         edges AS (SELECT ia AS src, ib AS dst FROM e0
                   UNION SELECT ib, ia FROM e0),
         reach AS (
           SELECT DISTINCT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""") { (s, dir) =>
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = (1 to 2).map(off =>
      sh.select((col("doc_id") - off).as("id_a"), col("doc_id").as("id_b"), col("s").as("sb")))
      .reduce(_ unionByName _)
    val pairs = a.join(b, Seq("id_a"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_distinct(concat(col("sa"), col("sb")))) >= 0.05)
      .select("id_a", "id_b")
    Dedup.connectedComponents(pairs).orderBy("id")
  }

  /** Keep-BEST near-dup dedup ([[graft.operators.Dedup.dropNearDuplicatesKeepBest]]):
    * d7's organic adjacent-id Jaccard clusters with an external quality
    * score (`doc_id % 7`, the d21 convention — identical text means
    * identical metrics, so the score is deliberately metadata); within
    * each cluster the max-score member survives, ties to the smaller
    * id, unpaired docs untouched. The oracle replays d7's reach
    * machinery, the per-component argmax and the survivor set. */
  gate("d28_neardup_keepbest",
      // d7's reach machinery + the per-component (quality desc, id asc)
      // argmax; unpaired docs survive untouched
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w),
         e0 AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 1
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05
           UNION ALL
           SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 2
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05),
         edges AS (SELECT ia AS src, ib AS dst FROM e0
                   UNION SELECT ib, ia FROM e0),
         reach AS (
           SELECT DISTINCT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         ranked AS (SELECT c.id AS doc_id, c.comp,
             row_number() OVER (PARTITION BY c.comp
               ORDER BY (c.id % 7) DESC, c.id) AS rn
           FROM comp c)
         SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS quality FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp)
         UNION ALL
         SELECT doc_id, CAST(doc_id % 7 AS BIGINT) FROM ranked WHERE rn = 1
         ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).as("quality"))
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = (1 to 2).map(off =>
      sh.select((col("doc_id") - off).as("id_a"), col("doc_id").as("id_b"),
        col("s").as("sb")))
      .reduce(_ unionByName _)
    val pairs = a.join(b, Seq("id_a"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_distinct(concat(col("sa"), col("sb")))) >= 0.05)
      .select("id_a", "id_b")
    Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", pairs, "quality")
      .orderBy("doc_id")
  }

  gate("d5_embed_neardup",
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
         FROM embeddings ORDER BY id_a, id_b""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val both = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000))
    Dedup.embeddingPairs(both, "vec_id", "embedding", dim = 64,
        numPlanes = 16, threshold = 0.999)
      .select("id_a", "id_b").orderBy("id_a", "id_b")
  }

  /** End-to-end dedup pipeline: candidate pairs → greedy drop. Restricted to
    * the planted pairs so survivors are exactly the original corpus. */
  gate("d6_dedup_pipeline", """SELECT doc_id FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = docsWithCopies(s, dir)
    val plantedPairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 8, threshold = 0.9)
      .filter(col("id_b") === col("id_a") + 1000000)
    Dedup.dropNearDuplicates(docs, "doc_id", plantedPairs)
      .select("doc_id").orderBy("doc_id")
  }

  /** The REAL pipeline shape, end-to-end in one lineage: normalize → exact
    * dedup → minhash near-dup pairs → connected components → drop — proving
    * the operators compose without re-staging. Planted structure keeps it
    * oracle-expressible: +1M ids are exact copies (die at the exact stage),
    * +2M ids carry one appended junk token (min planted trigram jaccard is
    * 8/9 ≈ 0.889 on this corpus — comfortably above the 0.8 verify
    * threshold, and with 32 bands of 2 rows the planted candidates are
    * found with probability 1 − (1 − j²)^32 ≈ 1 − 1e-21, deterministic
    * under the fixed seed). Pairs restrict to the planted id mapping
    * because organic near-dups are not SQL-enumerable (same as d2). */
  gate("d9_pipeline_full",
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents
           UNION ALL SELECT doc_id + 2000000, text || ' zzz' FROM documents),
         norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS t FROM corpus),
         ex AS (SELECT min(doc_id) AS doc_id, t FROM norm GROUP BY t),
         w AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS ws FROM ex),
         sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
           FROM w),
         pairs AS (SELECT b.doc_id AS ib
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 2000000
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.8)
         SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT ib FROM pairs)
         ORDER BY doc_id""") { (s, dir) =>
    val d = t(s, dir, "documents")
    val corpus = d
      .unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      .unionByName(d.withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" zzz"))))
    val norm = corpus.select(col("doc_id"),
      TextFunctions.normalize(col("text")).as("text"))
    val survivors = norm.join(
      Dedup.exact(norm, "doc_id", "text").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val pairs = Dedup.minhashPairs(survivors, "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 2, threshold = 0.8)
      .filter(col("id_b") === col("id_a") + 2000000)
    val comps = Dedup.connectedComponents(pairs)
    val drop = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    survivors.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id").orderBy("doc_id")
  }

  /** Substring-level duplication: per-doc count of distinct 5-token spans
    * shared with other docs — the boilerplate signal document-granularity
    * MinHash cannot see. Exact span strings so the DuckDB oracle
    * reproduces the inverted span index verbatim. */
  gate("d10_span_stats", SpanStatsOracleSql) { (s, dir) =>
    Dedup.spanStats(t(s, dir, "documents"), "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id")
  }

  /** The `hashSpans=true` configuration — the one SCALING.md recommends at
    * 100 TB (fixed-width 8-byte keys through the shuffle instead of raw
    * span strings). The final doc-level stats are key-representation-
    * independent (xxhash64 collisions aside — none on this corpus), so
    * the oracle is d10's verbatim: the gate proves the hashed path
    * CHANGES NOTHING downstream, which is the whole point of offering it. */
  gate("d10b_span_stats_hashed",
      // hashed-key configuration: stats are key-representation-independent,
      // so the oracle is IDENTICAL — that invariance is what the gate pins
      SpanStatsOracleSql) { (s, dir) =>
    Dedup.spanStats(t(s, dir, "documents"), "doc_id", "text", n = 5,
        minDocs = 2, hashSpans = true)
      .orderBy("doc_id")
  }

  /** Boilerplate-chunk removal REWRITE: documents partitioned into
    * disjoint 4-word chunks; every chunk occurring in >= 2 distinct docs
    * is stripped from ALL of them and the survivors reassemble in order.
    * n=4 on this corpus strips at least one chunk from ~200 of 500 docs —
    * a non-degenerate rewrite the oracle replays chunk-by-chunk. */
  gate("d12_chunk_dedup", ChunkDedupOracleSql) { (s, dir) =>
    Dedup.stripSharedChunks(t(s, dir, "documents"), "doc_id", "text",
        n = 4, minDocs = 2)
      .orderBy("doc_id")
  }

  /** The `hashKeys=true` configuration (8-byte keys through the count
    * shuffle and anti-join — the 100 TB path). Output is key-
    * representation-independent, so the oracle is d12's verbatim. */
  gate("d12b_chunk_dedup_hashed", ChunkDedupOracleSql) { (s, dir) =>
    Dedup.stripSharedChunks(t(s, dir, "documents"), "doc_id", "text",
        n = 4, minDocs = 2, hashKeys = true)
      .orderBy("doc_id")
  }

  /** Keep-FIRST chunk dedup (the C4 semantic): duplicated 4-word chunks
    * survive only in their minimum-doc_id owner and are stripped from
    * every later document — exactly one copy of each duplicated passage
    * remains corpus-wide. The oracle replays ownership and the rebuild
    * chunk-by-chunk. */
  gate("d14_keepfirst_chunks", KeepFirstOracleSql) { (s, dir) =>
    Dedup.keepFirstChunks(t(s, dir, "documents"), "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  /** The `hashKeys=true` configuration (8-byte keys through the
    * ownership shuffle and decision join — the 100 TB path). Output is
    * key-representation-independent, so the oracle is d14's verbatim. */
  gate("d14b_keepfirst_hashed", KeepFirstOracleSql) { (s, dir) =>
    Dedup.keepFirstChunks(t(s, dir, "documents"), "doc_id", "text", n = 4,
        hashKeys = true)
      .orderBy("doc_id")
  }

  /** Incremental dedup: a new batch (10 verbatim copies + 10 junk docs)
    * matched against the corpus's persisted minhash index — the corpus is
    * never re-shingled. Output restricts to the planted id mapping
    * (organic near-matches are not SQL-enumerable, same policy as d9);
    * verbatim copies match at jaccard exactly 1.0, junk docs match
    * nothing. */
  gate("d11_dedup_incremental",
      // normalize -> exact (min id per normalized text) -> planted near-pair
      // jaccard >= 0.8 -> drop the non-representative side of each component
      """WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         batch AS (
           SELECT doc_id + 5000000 AS new_id, text FROM seed
           UNION ALL
           SELECT doc_id + 6000000 AS new_id,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) AS text FROM seed),
         bw AS (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM batch),
         bsh AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM bw),
         ow AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                FROM documents),
         osh AS (SELECT doc_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM ow),
         j AS (SELECT b.new_id,
                 CAST(len(list_intersect(b.s, o.s)) AS DOUBLE) /
                   len(list_distinct(b.s || o.s)) AS jac0
               FROM bsh b JOIN osh o ON o.doc_id = b.new_id - 5000000)
         SELECT new_id, COALESCE(jac0 >= 0.8, FALSE) AS matched,
                CASE WHEN jac0 >= 0.8 THEN jac0 END AS jac
         FROM batch LEFT JOIN j USING (new_id)
         ORDER BY new_id""") { (s, dir) =>
    val d = t(s, dir, "documents")
    // round-trip through the persisted index + parameter sidecar — the
    // production ingest shape (build once, match every later batch).
    // URL-encoding is injective, so distinct fixture dirs can never
    // collide on the same index path.
    val idxPath = "/tmp/graft_fixtures/minhash_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    Dedup.minhashIndexBuildAndWrite(d, "doc_id", "text", idxPath)
    val index = Dedup.minhashIndexRead(s, idxPath)
    val seedDocs = d.filter(col("doc_id") < 10)
    val batch = seedDocs
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .unionByName(seedDocs.select((col("doc_id") + 6000000L).as("doc_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text")))
    val pairs = index.pairsAgainst(batch, "doc_id", "text", threshold = 0.8)
    val planted = pairs.filter(col("id_b") === col("id_a") - 5000000L)
    batch.select(col("doc_id").as("new_id"))
      .join(planted.select(col("id_a").as("new_id"), col("jaccard")),
        Seq("new_id"), "left")
      .select(col("new_id"), col("jaccard").isNotNull.as("matched"),
        col("jaccard").as("jac"))
      .orderBy("new_id")
  }

  /** Benchmark decontamination: every 100th doc doubles as the "eval set";
    * per-doc trigram overlap against its broadcast n-gram universe. The
    * eval docs themselves come back contamination = 1.0, so the hash gate
    * pins both the exact-overlap arithmetic and the flag threshold. */
  gate("d8_decontam",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh)
         SELECT ex.doc_id,
           CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS matched_ngrams,
           max(ex.total) AS total_ngrams,
           CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / max(ex.total) AS contamination,
           CAST(CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / max(ex.total) >= 0.5 AS INT) AS contaminated
         FROM ex LEFT JOIN bg ON bg.gram = ex.gram
         GROUP BY ex.doc_id ORDER BY ex.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 100 === 0).select("text")
    Decontaminate.ngramOverlap(docs, "doc_id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy("doc_id")
  }

  /** Contamination AUDIT report (the r17 verdict's #7 reach item): two
    * eval sets (every 100th and every 97th doc — overlapping at
    * multiples of 9700, so the per-set legs are genuinely different),
    * the whole corpus histogrammed by integer-bucketed n-gram overlap
    * per set. The oracle recomputes shingles, per-set distinct-gram
    * universes, per-(doc, set) matches, the integer bucket arithmetic
    * and the threshold counts from scratch.
    * See [[graft.operators.Decontaminate.report]]. */
  gate("d27_decontam_report",
      // the audit histogram from scratch: d8's shingle machinery, two
      // per-set gram universes, integer bucket arithmetic, threshold counts
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT 'e100' AS eval_set, gram FROM
                  (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0)
                UNION ALL
                SELECT 'e97', gram FROM
                  (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0)),
         ex AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         m AS (SELECT ex.doc_id, bg.eval_set, CAST(count(*) AS BIGINT) AS mm
               FROM ex JOIN bg ON bg.gram = ex.gram
               GROUP BY ex.doc_id, bg.eval_set),
         tot AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total FROM sh),
         per AS (SELECT s.eval_set, t.doc_id,
                   COALESCE(m.mm, 0) AS mm, t.total
                 FROM tot t
                 CROSS JOIN (VALUES ('e100'), ('e97')) s(eval_set)
                 LEFT JOIN m ON m.doc_id = t.doc_id
                   AND m.eval_set = s.eval_set),
         b AS (SELECT eval_set,
                 CAST(CASE WHEN total > 0 THEN least(mm * 10 // total, 9)
                      ELSE 0 END AS INT) AS bucket,
                 CASE WHEN total > 0 AND CAST(mm AS DOUBLE) / total >= 0.5
                      THEN 1 ELSE 0 END AS c
               FROM per)
         SELECT eval_set, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_contaminated
         FROM b GROUP BY eval_set, bucket
         ORDER BY eval_set, bucket""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    Decontaminate.report(docs, "doc_id", "text",
        Seq(
          "e100" -> docs.filter(col("doc_id") % 100 === 0).select("text"),
          "e97" -> docs.filter(col("doc_id") % 97 === 0).select("text")),
        "text", n = 3, threshold = 0.5, buckets = 10)
      .orderBy("eval_set", "bucket")
  }

  /** FUZZY decontamination vs the exact path, adversarially: planted
    * PARAPHRASES of the eval docs (a unique junk token injected after
    * every 6th word, so no verbatim 8-gram survives — max clean run is
    * 6 words — while roughly half the word trigrams do). The gate pins
    * BOTH verdicts per planted doc: `fuzzy_caught = 1` (minhash/LSH +
    * exact-Jaccard verify at threshold 0.2 finds the eval source) and
    * `exact_caught = 0` (d8's n-gram overlap at n = 8 reads zero — the
    * class of leak it provably misses). Eval set restricted to docs
    * with ≥ 30 words so every plant has enough shingles for the
    * closed-form verdict; minhash is seeded, so the whole pipeline is
    * deterministic. See [[graft.operators.Decontaminate.nearDupOverlap]]. */
  gate("d22_decontam_fuzzy",
      // planted paraphrases: fuzzy catches every one, exact misses every
      // one — stated directly (planted-variant verdict convention)
      """SELECT doc_id + 7000000 AS new_id, doc_id AS eval_id,
           1 AS fuzzy_caught, 0 AS exact_caught
         FROM documents
         WHERE doc_id % 100 = 0 AND len(string_split(text, ' ')) >= 30
         ORDER BY new_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val evalSet = docs
      .filter(col("doc_id") % 100 === 0 && size(split(col("text"), " ")) >= 30)
      .select(col("doc_id"), col("text"))
    val marker = concat(lit("zzq"), col("doc_id").cast("string"), lit("qzz"))
    val para = array_join(
      flatten(transform(split(col("text"), " "),
        (w, i) => when((i + 1) % 6 === 0, array(w, marker))
          .otherwise(array(w)))), " ")
    val planted = evalSet
      .select((col("doc_id") + 7000000L).as("doc_id"), para.as("text"))
    val fuzzy = Decontaminate
      .nearDupOverlap(planted, "doc_id", "text", evalSet, "doc_id", "text")
      // planted mapping only (d11 policy: organic cross-matches are not
      // SQL-enumerable)
      .filter(col("eval_id") === col("doc_id") - 7000000L)
      .select(col("doc_id"), lit(1).as("fuzzy_caught"))
    val exact = Decontaminate
      .ngramOverlap(planted, "doc_id", "text", evalSet.select("text"), "text",
        n = 8, threshold = 0.2)
      .select(col("doc_id"), col("contaminated").cast("int").as("exact_caught"))
    planted.select(col("doc_id"))
      .join(fuzzy, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id").as("new_id"),
        (col("doc_id") - 7000000L).as("eval_id"),
        coalesce(col("fuzzy_caught"), lit(0)).as("fuzzy_caught"),
        col("exact_caught"))
      .orderBy("new_id")
  }

  /** DSIR-style importance resampling (Xie et al., NeurIPS 2023): the
    * eval-like slice (doc_id % 100 = 0) is the TARGET, every doc scores
    * as the sum of smoothed per-bucket log-likelihood ratios over its
    * hashed unigram+bigram instances (1024 buckets, t31's md5-prefix
    * hash), and the top 100 are kept. The oracle replays the ENTIRE
    * estimator — gram extraction, bucket hash, both distributions,
    * Laplace smoothing, the rounded ratio sum and the ranked cut — so
    * feature hashing, the bag-model arithmetic and the selection are
    * one hash. Per-bucket ratios round to 6 decimals BEFORE summation
    * (identical summands in both engines).
    * See [[graft.operators.Dsir]]. */
  gate("d23_dsir_select",
      // the full DSIR estimator replayed: grams, bucket hash, both
      // distributions, smoothing, rounded ratio sums, ranked cut
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         uni AS (SELECT doc_id, unnest(ws) AS g FROM w),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM w WHERE len(ws) >= 2),
         grams AS (SELECT doc_id, g FROM uni
                   UNION ALL SELECT doc_id, g FROM bi),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
               AS bucket
           FROM grams),
         rawn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b GROUP BY bucket),
         tgtn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b WHERE doc_id % 100 = 0 GROUP BY bucket),
         tot AS (SELECT
             (SELECT CAST(count(*) AS DOUBLE) FROM b) AS rt,
             (SELECT CAST(count(*) AS DOUBLE) FROM b WHERE doc_id % 100 = 0)
               AS tt),
         r AS (SELECT rawn.bucket,
             round(ln((coalesce(tgtn.n, 0) + 1) / (tot.tt + 1024))
                 - ln((rawn.n + 1) / (tot.rt + 1024)), 6) AS lr
           FROM rawn LEFT JOIN tgtn USING (bucket), tot),
         sc AS (SELECT b.doc_id, round(sum(r.lr), 6) AS weight
                FROM b JOIN r USING (bucket) GROUP BY b.doc_id),
         rk AS (SELECT doc_id, weight,
             CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT)
               AS rank
           FROM sc)
         SELECT rank, doc_id, weight FROM rk WHERE rank <= 100
         ORDER BY rank""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val target = docs.filter(col("doc_id") % 100 === 0).select("text")
    val w = graft.operators.Dsir.importanceWeights(
      docs, "doc_id", "text", target, "text", numBuckets = 1024)
    graft.operators.Dsir.selectTopK(w, "doc_id", k = 100)
      .select(col("rank"), col("doc_id"), col("weight"))
      .orderBy("rank")
  }

  /** The drop side of decontamination: corpus minus flagged docs. */
  gate("d8b_decontam_drop",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh),
         c AS (SELECT ex.doc_id,
                 CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / max(ex.total) AS contamination
               FROM ex LEFT JOIN bg ON bg.gram = ex.gram GROUP BY ex.doc_id)
         SELECT doc_id FROM c WHERE contamination < 0.5 ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 100 === 0).select("text")
    Decontaminate.decontaminate(docs, "doc_id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  /** Semantic decontamination gate: the embeddings whose `vec_id % 20 == 0`
    * stand in for an eval set; the train side is every other embedding PLUS
    * planted leaks — eval vectors rescaled ×2 under shifted ids (cosine is
    * scale-invariant and ×2 is an exact exponent shift, so each planted
    * row's cosine to its source is exactly 1.0 while sharing no byte with
    * it — un-catchable by the d8/d22 lexical tiers by construction).
    * [[graft.operators.Decontaminate.decontaminateEmbedding]] must drop
    * every planted row and no organic one (the fixture's organic vectors
    * are near-orthogonal — the d13 property — so τ=0.99 separates
    * cleanly); the oracle replays the kernel's own arithmetic
    * (dot/(√na·√nb), the d13 precedent). The eval filter pins ids below
    * the bench replica shift so the 10× leg grows the corpus, not the
    * broadcast side. */
  gate("d25_embed_decontam",
      // replays the semantic tier with the kernel's own arithmetic
      // (dot/(√na·√nb) over DOUBLE[] — the d13 precedent): eval = ids % 20,
      // planted leaks = eval vectors ×2 (exact exponent shift) at +9000000,
      // survivors = train ids with no eval cosine >= 0.99
      """WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         pl AS (SELECT vec_id + 9000000 AS vec_id,
                  CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
                    AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 <> 0
                UNION ALL SELECT vec_id, v FROM pl),
         fl AS (SELECT DISTINCT t.vec_id FROM tr t CROSS JOIN ev e
                WHERE list_dot_product(t.v, e.v) /
                  (sqrt(list_dot_product(t.v, t.v)) *
                   sqrt(list_dot_product(e.v, e.v))) >= 0.99)
         SELECT t.vec_id FROM tr t
         WHERE t.vec_id NOT IN (SELECT vec_id FROM fl)
         ORDER BY vec_id""") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val evalSide = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val planted = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select((col("vec_id") + 9000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    val train = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    Decontaminate.decontaminateEmbedding(
        train, "vec_id", "embedding", evalSide, "eval_id", "ev", tau = 0.99)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private val DecontamPlanesFixture =
    "/tmp/graft_fixtures/decontam_planes.parquet"

  /** d25's scale path: the SAME planted corpus, flags found through the
    * hyperplane-LSH bucket join instead of the exhaustive broadcast scan
    * ([[graft.operators.Decontaminate.embeddingOverlapLsh]]). Positive
    * rescaling preserves every sign bit, so each planted leak sits at
    * Hamming 0 from its source and the LSH path must recover EXACTLY the
    * d25 survivor set — the gate pins the recall claim where it is
    * provable. The oracle recomputes both sides' sketches from the
    * persisted planes (the a6 recipe), replays the Hamming-≤1 pairing
    * and the cosine cut. */
  gate("d25b_embed_decontam_lsh",
      // the LSH replay: both sides' sketches recomputed from the persisted
      // planes (bit i set iff v.w_i >= 0), Hamming <= 1 pairing, kernel
      // cosine cut at 0.99, survivors = train minus flagged
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/decontam_planes.parquet/*.parquet')),
         ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         pl AS (SELECT vec_id + 9000000 AS vec_id,
                  CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
                    AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 <> 0
                UNION ALL SELECT vec_id, v FROM pl),
         esk AS (SELECT e.eval_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM ev e, p GROUP BY e.eval_id),
         tsk AS (SELECT t.vec_id,
             CAST(sum(CASE WHEN list_dot_product(t.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM tr t, p GROUP BY t.vec_id),
         fl AS (SELECT DISTINCT t.vec_id
           FROM tsk JOIN esk ON bit_count(xor(tsk.s, esk.s)) <= 1
             JOIN tr t ON t.vec_id = tsk.vec_id
             JOIN ev e ON e.eval_id = esk.eval_id
           WHERE list_dot_product(t.v, e.v) /
             (sqrt(list_dot_product(t.v, t.v)) *
              sqrt(list_dot_product(e.v, e.v))) >= 0.99)
         SELECT t.vec_id FROM tr t
         WHERE t.vec_id NOT IN (SELECT vec_id FROM fl)
         ORDER BY vec_id""") { (s, dir) =>
    import s.implicits._
    Ann.hyperplanes(64, 8, 42L).zipWithIndex
      .map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(DecontamPlanesFixture)
    val emb = t(s, dir, "embeddings")
    val evalSide = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val planted = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select((col("vec_id") + 9000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    val train = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    Decontaminate.decontaminateEmbeddingLsh(
        train, "vec_id", "embedding", evalSide, "eval_id", "ev",
        tau = 0.99, dim = 64, numPlanes = 8, maxHamming = 1)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private val SemDedupCentroidsFixture =
    "/tmp/graft_fixtures/semdedup_centroids.parquet"

  /** Semantic dedup gate (SemDeDup): the planted corpus (10 bit-exact
    * direction copies of vector 0 at ids 9000000+i) is k-means-clustered,
    * the centroids persist as a fixture, and DuckDB replays EVERYTHING
    * downstream of the clustering with the kernel's own arithmetic
    * (dot/(√na·√nb), larger-cid argmax tie-break): assignment, the
    * within-cluster pair scan at eps=0.95, the min-id representative rule.
    * Expected shape: every planted id drops with rep_id=0 (cosine exactly
    * 1.0 to vector 0, which shares their argmax cluster); the organic
    * near-orthogonal rows survive. */
  gate("d13_semdedup",
      """WITH cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/semdedup_centroids.parquet/*.parquet')),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl AS (SELECT 9000000 + i AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * POW(2.0, i - 5) AS FLOAT)) AS DOUBLE[]) AS v
           FROM range(10) t(i), embeddings e WHERE e.vec_id = 0),
         corp AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
         asg AS (SELECT vec_id, v, cid AS gr_cluster FROM (
             SELECT c.vec_id, c.v, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, cent.vec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(cent.vec, cent.vec))) DESC,
                 cent.cid DESC) AS rk
             FROM corp c CROSS JOIN cent) x WHERE rk = 1),
         reps AS (SELECT b.vec_id AS id, MIN(a.vec_id) AS rep_id
           FROM asg a JOIN asg b
             ON a.gr_cluster = b.gr_cluster AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) >= 0.95
           GROUP BY b.vec_id)
         SELECT g.vec_id AS id, CAST(g.gr_cluster AS INT) AS gr_cluster,
           r.rep_id IS NULL AS kept, r.rep_id
         FROM asg g LEFT JOIN reps r ON r.id = g.vec_id
         ORDER BY id""") { (s, dir) =>
    import s.implicits._
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 8)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(SemDedupCentroidsFixture)
    Dedup.semDedup(index, "vec_id", eps = 0.95, maxClusterSize = 1 << 20)
      .select("id", "gr_cluster", "kept", "rep_id")
      .orderBy("id")
  }

  /** Cross-document repeated-SPAN dedup over planted copies: for every
    * doc_id % 11 == 0 with ≥ 17 words, a planted doc (id 9700000+id)
    * embeds words 6..17 of the source between unique pad markers — a
    * different ALIGNMENT than the source, which is exactly what the
    * sliding-span cut must catch (and fixed chunking misses). The owner
    * (smaller source id) keeps its text; the planted copies lose the
    * 12 copied words and keep the pads. The oracle replays spans,
    * ownership, coverage and reassembly in SQL.
    * See [[graft.operators.Dedup.dropRepeatedSpans]]. */
  gate("d20_span_dedup",
      // spans, ownership, coverage and reassembly replayed in SQL; the
      // planted copies embed a 12-word run of their source at a shifted
      // alignment between unique pad markers
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         pl AS (SELECT 9700000 + doc_id AS doc_id,
             'zz start pad ' || array_to_string(list_slice(ws, 6, 17), ' ')
               || ' zz end pad' AS text
           FROM w0 WHERE doc_id % 11 = 0 AND len(ws) >= 17),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(ws, i, i + 7), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 7)) AS i
             FROM w WHERE len(ws) >= 8)),
         own AS (SELECT s, min(doc_id) AS owner FROM sp
           GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos FROM sp
           JOIN own ON sp.s = own.s AND own.owner <> sp.doc_id),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 7)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("__ws"))
      .filter(col("doc_id") % 11 === 0 && size(col("__ws")) >= 17)
      .select((col("doc_id") + 9700000L).as("doc_id"),
        concat(lit("zz start pad "),
          array_join(slice(col("__ws"), 6, 12), " "),
          lit(" zz end pad")).as("text"))
    graft.operators.Dedup.dropRepeatedSpans(
        docs.unionByName(planted), "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  /** Arbitrary-length EXACT substring dedup (ExactSubstr, keep-first)
    * over three plant families on one corpus: cross-document copies of
    * an OFF-GRID 13-word run (cut from the plant, the earlier source
    * keeps), WITHIN-document twin copies of a reversed 13-run (second
    * copy cut, first kept — the case d20's owner-doc contract cannot
    * express), and a 9-word repeat that must SURVIVE a minLen = 10
    * policy exactly (the boundary d20's fixed scales blur). The Spark
    * side elects first occurrences over doubling-ladder window hashes
    * ([[graft.functions.RunWindowHashExpr]]); the oracle replays
    * windows, first-occurrence election, coverage and reassembly on
    * exact window STRINGS — a hash match therefore also proves the
    * ladder collision-free on the corpus.
    * See [[graft.operators.Dedup.dropRepeatedRuns]]. */
  gate("d24_substr_dedup",
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         plc AS (SELECT 9850000 + doc_id AS doc_id,
             'vv start pad ' || array_to_string(list_slice(ws, 3, 15), ' ')
               || ' vv end pad' AS text
           FROM w0 WHERE doc_id % 7 = 0 AND len(ws) >= 16),
         plw AS (SELECT 9860000 + doc_id AS doc_id,
             'xx alpha '
               || array_to_string(list_reverse(list_slice(ws, 3, 15)), ' ')
               || ' xx beta '
               || array_to_string(list_reverse(list_slice(ws, 3, 15)), ' ')
               || ' xx omega' AS text
           FROM w0 WHERE doc_id % 5 = 0 AND len(ws) >= 16),
         pls AS (SELECT 9870000 + doc_id AS doc_id,
             'uu s pad ' || array_to_string(list_slice(ws, 3, 11), ' ')
               || ' uu e pad' AS text
           FROM w0 WHERE doc_id % 3 = 0 AND len(ws) >= 12),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM plc
           UNION ALL SELECT doc_id, text FROM plw
           UNION ALL SELECT doc_id, text FROM pls),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(ws, i, i + 9), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 9)) AS i
             FROM w WHERE len(ws) >= 10)),
         own AS (SELECT s,
             min(CAST(doc_id AS BIGINT) * 1000000 + pos) AS f FROM sp
           GROUP BY s HAVING count(*) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos FROM sp
           JOIN own ON sp.s = own.s
           WHERE CAST(sp.doc_id AS BIGINT) * 1000000 + sp.pos <> own.f),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 9)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w0 = docs.select(col("doc_id"),
      graft.functions.TextFunctions.words(col("text")).as("__ws"))
    val crossP = w0.filter(col("doc_id") % 7 === 0 && size(col("__ws")) >= 16)
      .select((col("doc_id") + 9850000L).as("doc_id"),
        concat(lit("vv start pad "), array_join(slice(col("__ws"), 3, 13), " "),
          lit(" vv end pad")).as("text"))
    val rev13 = array_join(reverse(slice(col("__ws"), 3, 13)), " ")
    val withinP = w0.filter(col("doc_id") % 5 === 0 && size(col("__ws")) >= 16)
      .select((col("doc_id") + 9860000L).as("doc_id"),
        concat(lit("xx alpha "), rev13, lit(" xx beta "), rev13,
          lit(" xx omega")).as("text"))
    val survP = w0.filter(col("doc_id") % 3 === 0 && size(col("__ws")) >= 12)
      .select((col("doc_id") + 9870000L).as("doc_id"),
        concat(lit("uu s pad "), array_join(slice(col("__ws"), 3, 9), " "),
          lit(" uu e pad")).as("text"))
    graft.operators.Dedup.dropRepeatedRuns(
        docs.unionByName(crossP).unionByName(withinP).unionByName(survP),
        "doc_id", "text", minLen = 10)
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate line removal (C4 §2.2 / CCNet): the
    * fixture gives every document newline-line structure (6-word lines)
    * and plants a "subscribe" footer on every doc_id % 4 == 0 — ~125
    * corpus-wide occurrences, far over the minCount=3 bar, so every
    * planted footer must vanish; natural 6-word lines that happen to
    * repeat ≥ 3× fall under the same rule in BOTH engines. Survivor
    * lines re-join in original order; a doc may lose interior lines and
    * keep its identity. */
  gate("d26_line_boilerplate",
      // exact window strings, first-occurrence election by (id, pos),
      // coverage and reassembly replayed in SQL — validating the Spark
      // side's ladder hashes against ground truth on every corpus doc
      // the fixture's lining and the planted footer replayed, then the
      // C4 frequency rule: count every line occurrence corpus-wide, drop
      // ALL occurrences at count >= 3, reassemble in line order
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         n AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 6.0) AS BIGINT)) AS nl FROM w),
         body AS (SELECT doc_id,
             array_to_string(list_transform(range(0, nl),
               i -> array_to_string(
                 list_slice(ws, CAST(i * 6 + 1 AS INT), CAST(i * 6 + 6 AS INT)),
                 ' ')), chr(10)) AS body
           FROM n),
         doc AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN body || chr(10) ||
               'subscribe to our newsletter today' ELSE body END AS text
           FROM body),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc),
         lines AS (SELECT doc_id, i - 1 AS pos, l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i)),
         freq AS (SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 3),
         kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
           LEFT JOIN freq f ON f.line = l.line WHERE f.line IS NULL),
         agg AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           FROM lines GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(a.text_clean, '') AS text_clean,
           t.n_lines, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""") { (s, dir) =>
    graft.operators.Dedup.dropFrequentLines(linedDocs(s, dir),
        "doc_id", "text", minCount = 3)
      .orderBy("doc_id")
  }

  /** Keep-BEST exact dedup: every 13th document gains two planted
    * copies at shifted ids, each family member carrying a metadata
    * quality score (`doc_id % 7` — identical text means identical
    * text metrics, so the score is deliberately external), and the
    * one-aggregate argmax must keep the max-score member with ties to
    * the smallest id. The oracle replays the family construction and
    * the argmax as a window — the keep-min `d1` convention, upgraded
    * to the curation decision real pipelines make.
    * See [[graft.operators.Dedup.exactKeepBest]]. */
  gate("d21_dedup_keep_best",
      // the argmax replayed as a window over the reconstructed families:
      // max score wins, ties to the smallest id
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9910000, text FROM documents WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 9920000, text FROM documents WHERE doc_id % 13 = 0),
         scored AS (SELECT doc_id, text,
             CAST(doc_id % 7 AS BIGINT) AS score FROM corpus),
         r AS (SELECT doc_id, score,
             row_number() OVER (PARTITION BY text
               ORDER BY score DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies
           FROM scored)
         SELECT doc_id, score, n_copies FROM r WHERE rn = 1
         ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def copies(shift: Long) = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    val corpus = docs.unionByName(copies(9910000L))
      .unionByName(copies(9920000L))
      .withColumn("score", (col("doc_id") % 7).cast("long"))
    Dedup.exactKeepBest(corpus, "doc_id", "text", "score")
      .select("doc_id", "score", "n_copies")
      .orderBy("doc_id")
  }

  /** Multi-scale span dedup: the planted documents embed a SIX-word run
    * of their source between unique pad markers — invisible to any
    * single window of length 12 (and to d20's n=8), but the fine scale
    * (n=5) sees its two sliding windows and the cut intervals merge.
    * Green means the scale union cut the short duplicate the fixed-n
    * operator provably misses, with the whole two-scale ownership and
    * coverage replayed in SQL.
    * See [[graft.operators.Dedup.dropRepeatedSpansMulti]]. */
  gate("d20b_span_dedup_multi",
      // both scales' spans, per-(scale, span) ownership, merged coverage
      // and reassembly replayed in SQL; the planted copies embed a 6-word
      // run (invisible at scale 12, caught at scale 5) between unique pads
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         pl AS (SELECT 9800000 + doc_id AS doc_id,
             'qq start pad ' || array_to_string(list_slice(ws, 6, 11), ' ')
               || ' qq end pad' AS text
           FROM w0 WHERE doc_id % 13 = 0 AND len(ws) >= 11),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos, 5 AS n,
             array_to_string(list_slice(ws, i, i + 4), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 4)) AS i
             FROM w WHERE len(ws) >= 5)
           UNION ALL
           SELECT doc_id, i - 1 AS pos, 12 AS n,
             array_to_string(list_slice(ws, i, i + 11), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 11)) AS i
             FROM w WHERE len(ws) >= 12)),
         own AS (SELECT n, s, min(doc_id) AS owner FROM sp
           GROUP BY n, s HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos, sp.n FROM sp
           JOIN own ON sp.n = own.n AND sp.s = own.s
             AND own.owner <> sp.doc_id),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + n - 1)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("__ws"))
      .filter(col("doc_id") % 13 === 0 && size(col("__ws")) >= 11)
      .select((col("doc_id") + 9800000L).as("doc_id"),
        concat(lit("qq start pad "),
          array_join(slice(col("__ws"), 6, 6), " "),
          lit(" qq end pad")).as("text"))
    graft.operators.Dedup.dropRepeatedSpansMulti(
        docs.unionByName(planted), "doc_id", "text", ns = Seq(5, 12))
      .orderBy("doc_id")
  }

  private val SemDedupAppendCentroidsFixture =
    "/tmp/graft_fixtures/semdedup_append_centroids.parquet"

  /** INCREMENTAL SemDeDup: the index is built from the ORGANIC embeddings
    * only, then a 12-row batch arrives — 10 bit-exact direction copies of
    * vector 0 (ids 9600000+i, power-of-two scaled: each must drop with
    * rep_id 0, the RESIDENT disqualifier), one copy of vector 1 (id
    * 9600010 → rep_id 1), and one one-hot probe (id 9600011, kept or
    * dropped as the replayed truth decides). The oracle recomputes the
    * FULL corpus ∪ batch with the persisted frozen centroids and
    * restricts to batch ids — green means the touched-clusters-only
    * incremental path equals the full re-run exactly.
    * See [[graft.operators.Dedup.semDedupAppend]]. */
  gate("d19_semdedup_append",
      // full-recompute truth for the INCREMENTAL path: corpus ∪ batch
      // assigned with the persisted frozen centroids, the d13 pair rule,
      // restricted to batch ids — must equal semDedupAppend exactly
      """WITH cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/semdedup_append_centroids.parquet/*.parquet')),
         mx AS (SELECT max(vec_id) AS m FROM embeddings),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl AS (SELECT mx.m + 1 + i AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * POW(2.0, i - 5) AS FLOAT)) AS DOUBLE[]) AS v
           FROM range(10) t(i), embeddings e, mx WHERE e.vec_id = 0),
         cp AS (SELECT mx.m + 11 AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
           FROM embeddings e, mx WHERE e.vec_id = 1),
         oh AS (SELECT mx.m + 12 AS vec_id,
             CAST(list_transform(range(1, len(e.embedding) + 1),
               i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
                         ELSE CAST(0.0 AS FLOAT) END) AS DOUBLE[]) AS v
           FROM embeddings e, mx WHERE e.vec_id = 0),
         corp AS (SELECT * FROM base UNION ALL SELECT * FROM pl
           UNION ALL SELECT * FROM cp UNION ALL SELECT * FROM oh),
         asg AS (SELECT vec_id, v, cid AS gr_cluster FROM (
             SELECT c.vec_id, c.v, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, cent.vec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(cent.vec, cent.vec))) DESC,
                 cent.cid DESC) AS rk
             FROM corp c CROSS JOIN cent) x WHERE rk = 1),
         reps AS (SELECT b.vec_id AS id, MIN(a.vec_id) AS rep_id
           FROM asg a JOIN asg b
             ON a.gr_cluster = b.gr_cluster AND a.vec_id < b.vec_id
           WHERE b.vec_id > (SELECT m FROM mx)
             AND list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) >= 0.95
           GROUP BY b.vec_id)
         SELECT g.vec_id AS id, CAST(g.gr_cluster AS INT) AS gr_cluster,
           r.rep_id IS NULL AS kept, r.rep_id
         FROM asg g LEFT JOIN reps r ON r.id = g.vec_id
         WHERE g.vec_id > (SELECT m FROM mx)
         ORDER BY id""") { (s, dir) =>
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(e, "vec_id", "embedding", nlist = 8)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(SemDedupAppendCentroidsFixture)
    // batch ids derive from the corpus MAX (not a fixed literal): the
    // append-only monotone-id contract must hold at EVERY scale factor —
    // the 10x bench replica ids exceed any fixed plant base
    val base = e.agg(max("vec_id")).head().getLong(0) + 1L
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + base).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"))
    val copy1 = e.filter(col("vec_id") === 1)
      .select(lit(base + 10L).as("vec_id"),
        transform(col("embedding"), x => (x * 2).cast("float")).as("embedding"))
    val oneHot = e.filter(col("vec_id") === 0)
      .select(lit(base + 11L).as("vec_id"),
        transform(col("embedding"),
          (_, i) => when(i === 0, lit(1.0f)).otherwise(lit(0.0f)))
          .as("embedding"))
    val batch = planted.unionByName(copy1).unionByName(oneHot)
    Dedup.semDedupAppend(index, batch, "vec_id", eps = 0.95,
        maxClusterSize = 1 << 20)
      .select("id", "gr_cluster", "kept", "rep_id")
      .orderBy("id")
  }

  /** Corpus diff: B = documents with ids %17==0 removed, %13==0 texts
    * suffixed (changed), and 10 fresh ids added — the oracle replays
    * the same derivation with direct text equality. */
  gate("d15_corpus_diff",
      // direct text equality replays the hash-equality status
      """WITH a AS (SELECT doc_id, text FROM documents),
         b AS (SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT 8000000 + i AS doc_id, 'fresh doc' FROM range(10) t(i))
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.text = b.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         ORDER BY doc_id""") { (s, dir) =>
    val a = t(s, dir, "documents").select("doc_id", "text")
    val b = a.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(a.limit(0)
        .unionByName(s.range(10).select(
          (col("id") + 8000000L).as("doc_id"), lit("fresh doc").as("text"))))
    graft.operators.Dedup.corpusDiff(a, b, "doc_id", "text")
      .orderBy("doc_id")
  }
}
