package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.TextFunctions
import graft.operators.{Ann, Decontaminate, Dedup}

/** Text gates, `tN_*`: text analysis and the LLM data-pipeline operators. */
object TextGates extends GateFamily {
  import GateSupport._

  /** DPO preference-pair mining over documents per source (score =
    * n_chars, margin 50): i-th best paired with i-th worst
    * ([[graft.operators.Preference.pairs]]); the oracle replays the
    * rank-symmetric join and the exact integer gap filter. */
  gate("t42_pref_pairs",
      // rank-symmetric pairing: i-th best vs i-th worst per source
      """WITH r AS (SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           FROM documents
           WHERE source IS NOT NULL AND doc_id IS NOT NULL
             AND n_chars IS NOT NULL)
         SELECT a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.n_chars - b.n_chars AS score_gap,
           CAST(a.rn AS INT) AS pair_rank
         FROM r a JOIN r b ON b.source = a.source AND b.rn = a.n + 1 - a.rn
         WHERE a.rn * 2 <= a.n AND a.n_chars - b.n_chars > 50
         ORDER BY a.source, pair_rank""") { (s, dir) =>
    graft.operators.Preference.pairs(t(s, dir, "documents"),
        "source", "doc_id", col("n_chars"), margin = 50L)
      .orderBy("source", "pair_rank")
  }

  private val ContextPlanesFixture =
    "/tmp/graft_fixtures/context_planes.parquet"

  /** In-context-pretraining order ([[graft.operators.ContextOrder]]):
    * the embedding corpus buckets under a persisted 4-plane sketch and
    * each bucket chains greedily from its min id. The oracle recomputes
    * the sketches from the persisted planes (the a6 recipe) and replays
    * the WHOLE greedy walk as a recursive CTE — one LATERAL argmax per
    * step with the identical cosine arithmetic — so a single divergent
    * hop anywhere in any chain breaks the hash. */
  gate("t85_context_order",
      // the whole DoReMi chain replayed: rounded per-source means, global
      // mean, clipped excess, exp, softmax, smoothing, N-preserving
      // weights, then the t10 id-slice replication
      // global curriculum rank replayed as a LITERAL global row_number
      // over the integer proxy — the banded two-level rank must equal it
      // the fastText-quality replay: corpus = docs UNION vowel-flattened
      // corruptions of the even half (translate), trusted-vocab hit-ratio
      // features x10, FIFTEEN GD iterations (ml2's recipe, lr 2.0,
      // 6-decimal weight resync per step), sigmoid scores, cut at 0.5
      // sketches recomputed from the persisted planes, then every chain
      // replayed hop by hop: a recursive CTE whose LATERAL step is the
      // same (cosine desc, id) argmax the kernel runs
      """WITH RECURSIVE p AS (SELECT plane_ix, w FROM
           read_parquet('/tmp/graft_fixtures/context_planes.parquet/*.parquet')),
         m AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         sk AS (SELECT m.id,
             CAST(sum(CASE WHEN list_dot_product(m.v, p.w) >= 0
               THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT)
               AS bucket
           FROM m, p GROUP BY m.id),
         mb AS (SELECT sk.bucket, m.id, m.v FROM sk JOIN m USING (id)),
         nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_bucket
           FROM mb GROUP BY bucket),
         starts AS (SELECT bucket, min(id) AS id FROM mb GROUP BY bucket),
         chain AS (
           SELECT mb.bucket, [mb.id] AS ids, mb.v AS lastv
           FROM mb JOIN starts
             ON starts.bucket = mb.bucket AND starts.id = mb.id
           UNION ALL
           SELECT c.bucket, list_append(c.ids, nx.id), nx.v
           FROM chain c, LATERAL (
             SELECT m2.id, m2.v FROM mb m2
             WHERE m2.bucket = c.bucket AND NOT list_contains(c.ids, m2.id)
             ORDER BY CASE
                 WHEN sqrt(list_dot_product(m2.v, m2.v)) = 0
                   OR sqrt(list_dot_product(c.lastv, c.lastv)) = 0 THEN -2
                 ELSE list_dot_product(c.lastv, m2.v) /
                   (sqrt(list_dot_product(c.lastv, c.lastv)) *
                    sqrt(list_dot_product(m2.v, m2.v))) END DESC,
               m2.id
             LIMIT 1) nx),
         done AS (SELECT c.bucket, c.ids FROM chain c JOIN nb
           ON nb.bucket = c.bucket AND len(c.ids) = nb.n_bucket)
         SELECT d.bucket, CAST(t.i - 1 AS BIGINT) AS seq_ix,
           d.ids[CAST(t.i AS INT)] AS vec_id, nb.n_bucket
         FROM done d JOIN nb ON nb.bucket = d.bucket,
           UNNEST(range(1, len(d.ids) + 1)) AS t(i)
         ORDER BY d.bucket, seq_ix""") { (s, dir) =>
    import s.implicits._
    val planes = graft.operators.Ann.hyperplanes(64, 4, 11L)
    planes.zipWithIndex.map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(ContextPlanesFixture)
    graft.operators.ContextOrder.orderWithinBuckets(
        t(s, dir, "embeddings"), "vec_id", "embedding", planes)
      .orderBy("bucket", "seq_ix")
  }

  /** Hard-negative mining gate: the a6 candidate machinery with the two
    * exact cosine filters (near-dup exclusion < 0.95, easy-negative floor
    * ≥ 0.0) and the post-filter re-rank
    * ([[graft.operators.Ann.hardNegatives]]). The oracle replays
    * sketches, candidate rank, BOTH filters and the re-rank from the
    * plane fixture — a filter applied before/after the wrong rank cut
    * changes the survivor set and goes red. */
  gate("t45_hard_negatives",
      // a6's replay + candidate cut 10, cosine in [0, 0.95), re-rank <= 3
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
         r AS (SELECT query_id, vec_id, cos, ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS crank
           FROM m),
         f AS (SELECT query_id, vec_id, cos FROM r
           WHERE crank <= 10 AND cos < 0.95 AND cos >= 0.0),
         rr AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM f)
         SELECT query_id, vec_id, rank FROM rr WHERE rank <= 3
         ORDER BY query_id, rank""") { (s, dir) =>
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    Ann.hardNegatives(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 3, dupCosine = 0.95, floorCosine = 0.0,
        candidateK = 10, numPlanes = 8, maxHamming = 1)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Persisted inverted index
    * ([[graft.operators.Retrieval.invertedIndexBuildAndWrite]]): the
    * full-vocabulary postings land bucket-partitioned, the gate
    * REQUIRES the query's scan to touch fewer files than the index
    * holds (the pruning is the operator's point), and the top-20 BM25
    * answer must equal the oracle's from-scratch corpus computation —
    * proving the stored postings, the sidecar's integer stats and the
    * pruned df all reproduce [[graft.operators.Retrieval.bm25]]'s
    * arithmetic exactly. */
  gate("t88_inverted_index",
      // the index answer recomputed from the raw corpus: t12b's literal
      // BM25 operation order with the sidecar's integer avgdl convention
      // (sum(dl)/count, not avg), rounded rank keys, top 20
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         tf AS (SELECT doc_id, dl, t.term,
             CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf
           FROM d CROSS JOIN
             (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sdl FROM d),
         dfs AS (SELECT term,
             CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
           FROM tf GROUP BY term),
         contrib AS (SELECT tf.doc_id,
             ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl /
                 (CAST(stats.sdl AS DOUBLE) / stats.n))) AS c
           FROM tf JOIN dfs USING (term) CROSS JOIN stats
           WHERE tf.tf > 0),
         sc AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
           FROM contrib GROUP BY doc_id),
         rk AS (SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
               AS BIGINT) AS rank
           FROM sc)
         SELECT doc_id, score, rank FROM rk WHERE rank <= 20
         ORDER BY rank""") { (s, dir) =>
    val path = s"/tmp/graft_fixtures/invidx_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(path)
    bp.getFileSystem(conf).delete(bp, true)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Retrieval.invertedIndexBuildAndWrite(docs,
      "doc_id", "text", path, numBuckets = 16)
    val terms = Seq("agg", "scan", "window")
    val pruned = graft.operators.Retrieval
      .invertedIndexScan(s, path, terms).inputFiles.length
    val full = s.read.parquet(path).inputFiles.length
    require(pruned > 0 && pruned < full,
      s"bucket pruning must skip partitions: touched $pruned of $full files")
    graft.operators.Retrieval.invertedIndexQuery(s, path, terms, k = 20)
      .orderBy("rank")
  }

  /** k-anonymity suppression ([[graft.operators.Privacy.kAnonymitySuppress]])
    * over the event log's quasi-identifier tuple (cohort, slot,
    * event_type) — ~800 combinations over the corpus, straddling k=10
    * by construction, so both the suppression and the attached group
    * sizes are exercised; the oracle replays the count + floor
    * verbatim. */
  gate("t86_kanon",
      // the count + floor replayed verbatim; the join attaches each
      // surviving row's own crowd size
      """WITH e AS (SELECT event_id, user_id % 23 AS cohort,
             event_id % 7 AS slot, event_type FROM events),
         g AS (SELECT cohort, slot, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY cohort, slot, event_type)
         SELECT e.event_id, e.cohort, e.slot, e.event_type, g.n AS group_n
         FROM e JOIN g USING (cohort, slot, event_type)
         WHERE g.n >= 10 ORDER BY e.event_id""") { (s, dir) =>
    val ev = t(s, dir, "events").select(col("event_id"),
      (col("user_id") % 23).as("cohort"),
      (col("event_id") % 7).as("slot"), col("event_type"))
    graft.operators.Privacy.kAnonymitySuppress(ev,
        Seq("cohort", "slot", "event_type"), k = 10L)
      .select("event_id", "cohort", "slot", "event_type", "group_n")
      .orderBy("event_id")
  }

  /** PDF round trip: every document is written as a structurally valid
    * one-page PDF ([[graft.functions.PdfBuildExpr]] — Flate-compressed
    * content stream on even doc_ids, raw on odd, text split across two
    * Tj show-ops) and read back through the from-scratch extractor
    * ([[graft.functions.PdfExtractExpr]]). The oracle is the identity,
    * which is exactly the point: a parser that fails to inflate,
    * mis-lexes an escape (the builder escapes parens/backslashes/
    * control bytes), or drops a show-op cannot reproduce the corpus.
    * Edge grammar (octal escapes, hex strings, TJ arrays, newline
    * operators, foreign filters) is pinned in PdfSpec. */
  gate("t50_pdf_extract",
      // the identity IS the gate: build → compress (even ids) → extract
      // must reproduce the corpus byte-for-byte (see t50's scaladoc)
      """SELECT doc_id, text AS text_extracted
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.select(col("doc_id"),
        graft.functions.PdfExtractExpr(
          graft.functions.PdfBuildExpr(col("text"), col("doc_id") % 2 === 0))
          .as("text_extracted"))
      .orderBy("doc_id")
  }

  /** DOCX round trip: every document is zipped into a structurally
    * valid OOXML package ([[graft.functions.DocxBuildExpr]] — deflated
    * document.xml on even doc_ids, stored on odd, text split across
    * 24-char runs mid-word) and read back through the from-scratch
    * central-directory walker + WordprocessingML text rules
    * ([[graft.functions.DocxExtractExpr]]). The oracle is the
    * identity, which is the point: a reader that mislocates the
    * central directory, fails the raw inflate, or re-spaces run
    * concatenation cannot reproduce the corpus. Edge grammar is
    * pinned in DocxSpec. */
  gate("t73_docx_extract",
      // identity oracle, like t50: the DOCX build->extract round trip
      // must reproduce every document byte-for-byte
      """SELECT doc_id, text AS text_extracted
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.select(col("doc_id"),
        graft.functions.DocxExtractExpr(
          graft.functions.DocxBuildExpr(col("text"), col("doc_id") % 2 === 0))
          .as("text_extracted"))
      .orderBy("doc_id")
  }

  /** Canonical URL normalization over fixture-built messy URLs (mixed
    * case, default ports, trailing slashes, tracker params, fragments,
    * unsorted query params): both engines normalize INDEPENDENTLY from
    * the same concatenated inputs, so the hash match proves every
    * normalization rule agrees — the correctness contract URL-level
    * dedup keys and host-level crawl policies stand on.
    * See [[graft.functions.TextFunctions.normalizeUrl]]. */
  gate("t51_url_normalize",
      // both engines normalize the same messy URLs independently: scheme/
      // host case, default ports, trailing slashes, tracker params, param
      // sort order and fragments must all agree rule-for-rule
      """WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'HTTP://' END)
           || 'Example' || (doc_id % 20) || '.COM'
           || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE ':80' END)
           || '/Path/' || doc_id
           || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
           || '?utm_source=news&b=2&a=1'
           || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
       n AS (SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
           regexp_extract(url, '\?([^#]*)', 1) AS q
         FROM u),
       n2 AS (SELECT doc_id, url, scheme,
           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END AS h,
           CASE WHEN rawpath = '' OR rawpath = '/' THEN '/'
                ELSE regexp_replace(rawpath, '/+$', '') END AS p,
           array_to_string(list_sort(list_filter(string_split(q, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_')
               AND NOT starts_with(x, 'fbclid')
               AND NOT starts_with(x, 'gclid'))), '&') AS qn
         FROM n)
       SELECT doc_id, url,
         scheme || '://' || h || p ||
           (CASE WHEN qn = '' THEN '' ELSE '?' || qn END) AS url_norm,
         regexp_replace(h, ':[0-9]+$', '') AS host
       FROM n2 ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(
      when(col("doc_id") % 4 === 0, lit("HTTPS://")).otherwise(lit("HTTP://")),
      lit("Example"), (col("doc_id") % 20).cast("string"), lit(".COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit(":80")),
      lit("/Path/"), col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=news&b=2&a=1"),
      when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
    docs.select(col("doc_id"), url.as("url"),
        graft.functions.TextFunctions.normalizeUrl(url).as("url_norm"),
        graft.functions.TextFunctions.urlHost(url).as("host"))
      .orderBy("doc_id")
  }

  /** WARC container round trip: documents are grouped into files
    * (7 files, alternate ones gzip-compressed whole-file), written
    * through the deterministic WARC builder and parsed back through
    * the from-scratch record parser — Content-Length framing, header
    * grammar, multi-record scan and gzip inflation all on the line.
    * The identity oracle proves the crawl front door (this stage feeds
    * `t48` markup / `t50` PDF extraction) loses nothing.
    * See [[graft.functions.WarcRecordsExpr]]. */
  gate("t52_warc_roundtrip",
      // container round trip: group → build (gzip on even file ids) →
      // parse must reproduce every (url, body) pair byte-for-byte
      """SELECT doc_id, 'http://example.com/doc/' || doc_id AS url,
           'response' AS rec_type, text AS text_rt
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(lit("http://example.com/doc/"), col("doc_id")))
    val files = docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("text")))).as("rs"))
      .select(col("file_id"),
        graft.functions.WarcBuildExpr(
          transform(col("rs"), r => struct(
            r.getField("url").as("url"),
            r.getField("text").cast("binary").as("body"))),
          col("file_id") % 2 === 0).as("warc"))
    files
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(col("rec.url").as("url"), col("rec.rec_type").as("rec_type"),
        col("rec.body").cast("string").as("text_rt"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "rec_type", "text_rt")
      .orderBy("doc_id")
  }

  /** The crawl front door COMPOSED end-to-end: documents wrapped as HTML
    * pages behind messy URLs, grouped into (half gzipped) WARC files
    * with REAL-crawl HTTP message framing on every record, then parsed
    * back — HTTP splitting ([[graft.functions.HttpPayloadExpr]], the
    * Common Crawl payload layout) before charset decode, markup
    * extraction and URL canonicalization in one query. Container
    * framing, gzip, HTTP header stripping, the tag state machine and
    * every URL rule must agree with the oracle's independent replay
    * SIMULTANEOUSLY. This is the ingestion shape a real crawl corpus
    * runs before quality/dedup (whose gates consume its outputs). */
  gate("t53_crawl_pipeline",
      // WARC framing + gzip + the markup state machine + every URL rule
      // replayed together: block tags emit newlines, script content drops,
      // tracker param drops, default port strips, fragment drops
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url_norm,
           'Doc ' || doc_id || chr(10) || text AS clean
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(
        lit("HTTP://Site"), (col("doc_id") % 9).cast("string"),
        lit(".COM:80/Doc/"), col("doc_id").cast("string"),
        lit("?utm_source=w&id="), col("doc_id").cast("string"), lit("#top")))
      .withColumn("html", concat(
        lit("<html><body><h1>Doc "), col("doc_id"), lit("</h1><p>"),
        col("text"), lit("</p><script>skip()</script></body></html>")))
    docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("html")))).as("rs"))
      .select(col("file_id"), graft.functions.WarcBuildExpr(
        transform(col("rs"), r => struct(
          r.getField("url").as("url"),
          r.getField("html").cast("binary").as("body"))),
        col("file_id") % 2 === 0, lit(true)).as("warc"))
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(
        regexp_extract(col("rec.url"), "/Doc/([0-9]+)", 1).cast("long")
          .as("doc_id"),
        graft.functions.TextFunctions.normalizeUrl(col("rec.url"))
          .as("url_norm"),
        graft.functions.TextFunctions.extractMarkup(
          graft.functions.DecodeTextExpr(
            graft.functions.HttpPayloadExpr(col("rec.body"))
              .getField("body"))).as("clean"))
      .orderBy("doc_id")
  }

  /** HTTP-framed WARC round trip (the real Common Crawl payload
    * layout): every record's payload is a full HTTP/1.1 message, and
    * the splitter must strip status line + headers, surface the status
    * code and lowercased Content-Type, and hand back the entity
    * byte-for-byte — the identity oracle fails if one header byte
    * leaks into the body. See [[graft.functions.HttpPayloadExpr]]. */
  gate("t59_http_payload",
      // HTTP-framed WARC round trip: the splitter must strip the built
      // status line + headers exactly and surface the framed constants
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
           text AS text_http
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(lit("http://example.com/doc/"), col("doc_id")))
    docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("text")))).as("rs"))
      .select(col("file_id"), graft.functions.WarcBuildExpr(
        transform(col("rs"), r => struct(
          r.getField("url").as("url"),
          r.getField("text").cast("binary").as("body"))),
        col("file_id") % 2 === 0, lit(true)).as("warc"))
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(
        regexp_extract(col("rec.url"), "([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        graft.functions.HttpPayloadExpr(col("rec.body")).as("h"))
      .select(col("doc_id"), col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        col("h.body").cast("string").as("text_http"))
      .orderBy("doc_id")
  }

  /** Chunked transfer-encoding decode (RFC 9112 §7.1): each document
    * becomes a chunk-framed HTTP message built by CONCATENATION in the
    * query itself — first chunk 16 bytes (with a chunk extension the
    * decoder must ignore), remainder as a second chunk, a trailer
    * field after the 0-terminator that must drop — and the splitter
    * must reassemble the exact text. Mixed-case Content-Type pins the
    * lowercasing. Fixture text is pure ASCII (TESTDATA), so byte
    * lengths equal char lengths and `hex()` chunk sizes agree across
    * engines. See [[graft.functions.HttpPayloadExpr]]. */
  gate("t59b_http_chunked",
      // chunked reassembly is the identity on the text; the mixed-case
      // Content-Type must come back lowercased
      """SELECT doc_id, 200 AS status,
           'text/plain; charset=utf-8' AS content_type,
           text AS text_chunked
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val head = substring(col("text"), 1, 16)
    val rest = substring(col("text"), 17, 1 << 24)
    val msg = concat(
      lit("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n" +
        "Content-Type: Text/Plain; Charset=UTF-8\r\n\r\n"),
      hex(length(head)), lit(";ext=\"q\"\r\n"), head, lit("\r\n"),
      when(length(rest) > 0,
        concat(hex(length(rest)), lit("\r\n"), rest, lit("\r\n")))
        .otherwise(lit("")),
      lit("0\r\nX-Trailer: dropped\r\n\r\n"))
    docs.select(col("doc_id"),
        graft.functions.HttpPayloadExpr(msg.cast("binary")).as("h"))
      .select(col("doc_id"), col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        col("h.body").cast("string").as("text_chunked"))
      .orderBy("doc_id")
  }

  /** robots.txt policy over the URL table: nine hosts carry three
    * policy shapes — a `*`-only full block (host 4), an exact-agent
    * allow-all via the empty-Disallow idiom shadowing a `*` full block
    * (host 7), and the general shape (foreign agent blocked, exact
    * agent case-insensitively matched with a Disallow/longer-Allow
    * pair, `*` fallback that must be IGNORED because an exact group
    * exists). The oracle hardcodes the intended verdicts, so parser,
    * group selection, precedence (longest prefix, allow wins ties) and
    * the default-allow path are all on the line.
    * See [[graft.operators.Robots]]. */
  gate("t54_robots",
      // the intended robots verdicts, hardcoded: host 4 fully blocked via
      // '*', host 7 allowed via the exact group's empty Disallow, others
      // blocked on the /Doc/1 prefix unless the longer /Doc/12 Allow wins
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url,
           CASE WHEN doc_id % 9 = 4 THEN FALSE
                WHEN doc_id % 9 = 7 THEN TRUE
                ELSE NOT starts_with(
                       '/Doc/' || doc_id || '?id=' || doc_id, '/Doc/1')
                  OR starts_with(
                       '/Doc/' || doc_id || '?id=' || doc_id, '/Doc/12')
           END AS robots_allowed
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string"),
        lit("?id="), col("doc_id").cast("string")))
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      when(col("id") === 4,
        "User-agent: *\r\nDisallow: / # block everything")
      .when(col("id") === 7,
        "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /")
      .otherwise("User-agent: other\nDisallow: /\n" +
        "User-agent: GraftBot\nDisallow: /Doc/1\nAllow: /Doc/12\n" +
        "User-agent: *\nDisallow: /blocked").as("robots_txt"))
    graft.operators.Robots.check(urls, "url", hosts, "host", "robots_txt",
        agent = "graftbot")
      .select("doc_id", "url", "robots_allowed")
      .orderBy("doc_id")
  }

  /** RFC 9309 wildcard rules + robots-side host normalization: one
    * robots body keyed `WILD.com:80` (must bind `http://wild.com/...`
    * after lowercase+port-strip) carries three wildcard patterns — a
    * star-7-dollar Disallow under /Doc (trailing anchor), the LONGER
    * star-77-dollar Allow that must win precedence over it, and a
    * double-star Disallow on the id=9 query prefix. The oracle replays
    * each pattern as decimal-digit arithmetic on doc_id, so the glob
    * matcher, the `$` anchor, and pattern-length precedence are all
    * hash-pinned. See [[graft.functions.RobotsMatchExpr]]. */
  gate("t54b_robots_wildcard",
      // wildcard verdicts replayed as digit arithmetic: longest pattern
      // wins (the *77$ allow outranks the *7$ disallow), then the
      // double-star id=9 block, else default allow
      """SELECT doc_id,
           CASE WHEN doc_id % 100 = 77 THEN TRUE
                WHEN doc_id % 10 = 7 THEN FALSE
                WHEN CAST(doc_id AS VARCHAR) LIKE '9%' THEN FALSE
                ELSE TRUE END AS robots_allowed
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(lit("http://wild0.com/Doc/"),
        col("doc_id").cast("string"),
        lit("?id="), col("doc_id").cast("string")))
    // host derived from the range id, NOT a pure literal: a foldable
    // host key would constant-fold the equi-join away and the planner
    // would fall back to a nested-loop join — the fixture must keep
    // the operator's real join shape on the line
    val hosts = s.range(1).select(
      concat(lit("WILD"), col("id").cast("string"), lit(".com:80"))
        .as("host"),
      lit("User-agent: graftbot\nDisallow: /Doc/*7$\n" +
        "Allow: /Doc/*77$\nDisallow: /*id=9*").as("robots_txt"))
    graft.operators.Robots.check(urls, "url", hosts, "host", "robots_txt",
        agent = "graftbot")
      .select("doc_id", "robots_allowed")
      .orderBy("doc_id")
  }

  /** Charset auto-detection over a mixed-encoding corpus: even doc_ids
    * arrive as UTF-8 bytes (every tenth with a BOM that must strip),
    * odd ones as Latin-1 bytes carrying accented characters (0xE9 etc.
    * — invalid as UTF-8, so the strict validator must reject and the
    * Latin-1 fallback must map them 1:1). A permissive decode would
    * mojibake the odd rows to U+FFFD and diverge.
    * See [[graft.functions.DecodeTextExpr]]. */
  gate("t55_charset",
      // strict-UTF-8-else-Latin-1: odd rows decode through the fallback
      // (their accented suffix is invalid UTF-8), BOMs strip, even rows
      // pass through — the oracle needs no byte layer at all
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN text || ' café süß'
                ELSE text END AS text_decoded
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val utf8 = encode(col("text"), "UTF-8")
    val bom = lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val latin = encode(concat(col("text"), lit(" café süß")), "ISO-8859-1")
    val bytes = when(col("doc_id") % 10 === 0, concat(bom, utf8))
      .when(col("doc_id") % 2 === 1, latin)
      .otherwise(utf8)
    docs.select(col("doc_id"),
        graft.functions.DecodeTextExpr(bytes).as("text_decoded"))
      .orderBy("doc_id")
  }

  /** Sitemap URL discovery: five sitemap XML bodies built by
    * concatenation (URLs carry the protocol-mandated `&amp;` escaping
    * and whitespace padding inside `<loc>`, plus `<lastmod>` noise
    * elements), extracted back to one row per URL. Entity decoding and
    * trimming must agree with the oracle's plain reconstruction.
    * See [[graft.functions.TextFunctions.sitemapUrls]]. */
  gate("t56_sitemap",
      // <loc> extraction + mandatory &amp; decoding + trim, replayed as a
      // plain URL reconstruction
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p?a=1&id=' || doc_id AS url
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val sitemaps = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc> http://s"), col("site").cast("string"),
          lit(".com/p?a=1&amp;id="), i.cast("string"),
          lit(" </loc><lastmod>2026-01-01</lastmod></url>"))), ""),
        lit("</urlset>")).as("xml"))
    sitemaps
      .select(explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("url"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url")
      .orderBy("doc_id")
  }

  /** Sitemap `<lastmod>` extraction
    * ([[graft.functions.TextFunctions.sitemapEntries]]): per-url change
    * stamps (absent on every 3rd entry → null, the feed-timestamp
    * stance), padded values trimmed, a loc-less ghost block per sitemap
    * dropped. With lastmods a sitemap schedules like a feed — fetch
    * what changed — instead of like a URL list. */
  gate("t56c_sitemap_lastmod",
      // per-entry lastmod carry (absent every 3rd entry -> null), the
      // ghost loc-less block never surfaces
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p?a=1&id=' || doc_id AS url,
           CASE WHEN doc_id % 3 <> 0 THEN 'lm-' || doc_id END AS lastmod
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val sitemaps = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(concat(
        lit("<?xml version=\"1.0\"?><urlset>" +
          "<url><lastmod>ghost</lastmod></url>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc> http://s"), col("site").cast("string"),
          lit(".com/p?a=1&amp;id="), i.cast("string"), lit(" </loc>"),
          when(i % 3 =!= 0,
            concat(lit("<lastmod> lm-"), i.cast("string"),
              lit(" </lastmod>"))).otherwise(lit("")),
          lit("</url>"))), ""),
        lit("</urlset>")).as("xml"))
    sitemaps
      .select(explode(
        graft.functions.TextFunctions.sitemapEntries(col("xml"))).as("e"))
      .select(col("e.loc").as("url"), col("e.lastmod").as("lastmod"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "lastmod")
      .orderBy("doc_id")
  }

  /** One-pass dictionary tagging over the corpus: six terms including a
    * nested pair ("order" inside "column order" — both must report when
    * the longer occurs) and a never-occurring control. The oracle is the
    * K-`contains` formulation the Aho–Corasick kernel replaces, so the
    * automaton's goto/failure/output links are hash-checked against
    * brute force over every document. The final projection joins the
    * tag list to one scalar string (dictionary order preserved on both
    * sides) — gate outputs must be scalar columns (see the Verify
    * registration guard). See [[graft.functions.DictionaryMatchExpr]]. */
  gate("t57_dictionary_tag",
      // the K-contains brute force the automaton replaces — dictionary
      // order preserved on both sides, joined to a scalar string so the
      // gate output stays hashable by any row-sorting checker
      """SELECT doc_id,
           coalesce(array_to_string(
             list_filter(['scan', 'column order', 'order', 'data', 'the',
               'zz never appears'], k -> contains(text, k)), '|'), '')
             AS tags
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val dict = Seq("scan", "column order", "order", "data", "the",
      "zz never appears")
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(
          graft.functions.DictionaryMatchExpr(col("text"), dict), "|")
          .as("tags"))
      .orderBy("doc_id")
  }

  /** Meta-robots compliance ([[graft.operators.Frontier.pageDirectives]]
    * / `indexablePages`): five directive variants — plain noindex,
    * index-follow, uppercase NOINDEX+nofollow, `none` (implies both),
    * and no meta at all (the indexable default) — in both attribute
    * orders; the `kept` column is the ACTUAL survivor set of the
    * filtering operator, left-joined back, so the gate pins the filter
    * itself, not just the parse. */
  gate("t92_meta_robots",
      // the directive table in closed form: %5 picks the variant, `none`
      // implies both flags, absent meta is the indexable default, and
      // kept = NOT noindex is the filter's survivor set
      """SELECT doc_id,
           CAST(doc_id % 5 AS INT) IN (0, 2, 3) AS noindex,
           CAST(doc_id % 5 AS INT) IN (2, 3) AS nofollow,
           CAST(doc_id % 5 AS INT) NOT IN (0, 2, 3) AS kept
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val content = element_at(array(lit("noindex"), lit("index, follow"),
      lit("NOINDEX, nofollow"), lit("none")),
      (col("doc_id") % 5 + 1).cast("int"))
    val meta = when(col("doc_id") % 5 === 4, lit(""))
      .when(col("doc_id") % 2 === 0,
        concat(lit("<meta name=\"robots\" content=\""), content, lit("\">")))
      .otherwise(
        concat(lit("<meta content='"), content, lit("' name='robots'>")))
    val pages = docs.select(col("doc_id"),
      concat(lit("<html><head>"), meta,
        lit("</head><body>x</body></html>")).as("html"))
    val dirs = graft.operators.Frontier.pageDirectives(pages, "html")
    val kept = graft.operators.Frontier.indexablePages(pages, "html")
      .select(col("doc_id"), lit(true).as("kept"))
    dirs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("noindex"), col("nofollow"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("doc_id")
  }

  /** Per-link nofollow compliance
    * ([[graft.operators.Frontier.outlinks]] with `honorNofollow`,
    * [[graft.functions.TextFunctions.htmlFollowableLinks]]): six link
    * shapes per page — plain, quoted rel, list-valued rel before href,
    * BARE unquoted rel after href, an unrelated rel token that must
    * survive, and 'nofollow' in anchor TEXT that must not trip the tag
    * test. `followed` is the honored harvest joined back onto the full
    * harvest, so both paths are pinned against each other. */
  gate("t93_nofollow_links",
      // the six link shapes stated in closed form: three rel variants
      // drop, the unrelated rel and the anchor-text decoy survive
      """WITH b AS (SELECT doc_id,
             'http://s' || (doc_id % 7) || '.com/' AS base
           FROM documents),
         l AS (
           SELECT doc_id, base || 'keep' || doc_id AS outlink,
             true AS followed FROM b
           UNION ALL SELECT doc_id, base || 'nf' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'ugc' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'bare' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'noop' || doc_id, true FROM b
           UNION ALL SELECT doc_id, base || 'text' || doc_id, true FROM b)
         SELECT doc_id, outlink, followed FROM l
         ORDER BY doc_id, outlink""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"/keep"), id, lit("\">k</a>"),
      lit("<a rel=\"nofollow\" href=\"/nf"), id, lit("\">n</a>"),
      lit("<a rel='ugc nofollow' href='/ugc"), id, lit("'>u</a>"),
      lit("<a href=\"/bare"), id, lit("\" rel=nofollow>b</a>"),
      lit("<a rel=\"noopener\" href=\"/noop"), id, lit("\">o</a>"),
      lit("<a href=\"/text"), id, lit("\">rel nofollow text</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("doc_id"),
      concat(lit("http://s"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"), id).as("url"),
      html.as("html"))
    val all = graft.operators.Frontier.outlinks(pages, "url", "html")
    val hon = graft.operators.Frontier
      .outlinks(pages, "url", "html", honorNofollow = true)
      .select(col("url").as("__u"), col("outlink").as("__o"),
        lit(true).as("followed"))
    all.join(hon, all("url") === col("__u") && all("outlink") === col("__o"),
        "left")
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select(col("doc_id"), col("outlink"),
        coalesce(col("followed"), lit(false)).as("followed"))
      .orderBy("doc_id", "outlink")
  }

  /** HTML metadata extraction: title (mixed-case tag, padded, carrying
    * an `&amp;` the decoder must fold), meta description (REVERSED
    * attribute order on odd docs — both orders must parse), canonical
    * link, and the `<html lang>` claim, all from fixture-built pages.
    * The oracle reconstructs each field in closed form, so every regex
    * and the entity decode are hash-pinned.
    * See [[graft.functions.TextFunctions.htmlTitle]]. */
  gate("t60_html_meta",
      // every field reconstructed in closed form: the &amp; in the title
      // must decode, both meta attribute orders must parse
      """SELECT doc_id,
           'Doc & ' || doc_id AS title,
           'sum: ' || split_part(text, ' ', 1) AS description,
           'https://canon.example/p/' || doc_id AS canonical,
           'en-US' AS lang
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // first word, not a fixed-length cut: a cut ending in a space would
    // ride through the entity decoder's whitespace handling
    val d1 = element_at(graft.functions.TextFunctions.words(col("text")), 1)
    val meta = when(col("doc_id") % 2 === 0,
      concat(lit("<meta name=\"description\" content=\"sum: "),
        d1, lit("\">")))
      .otherwise(concat(lit("<meta content=\"sum: "),
        d1, lit("\" name='description'>")))
    val html = concat(
      lit("<!DOCTYPE html><HTML Lang=\"en-US\"><head><TITLE> Doc &amp; "),
      col("doc_id").cast("string"), lit(" </title>"), meta,
      lit("<link rel=\"canonical\" href=\"https://canon.example/p/"),
      col("doc_id").cast("string"), lit("\"></head><body><p>"),
      col("text"), lit("</p></body></html>"))
    docs.select(col("doc_id"),
        graft.functions.TextFunctions.htmlTitle(html).as("title"),
        graft.functions.TextFunctions.htmlMetaContent(html, "description")
          .as("description"),
        graft.functions.TextFunctions.htmlCanonical(html).as("canonical"),
        graft.functions.TextFunctions.htmlLang(html).as("lang"))
      .orderBy("doc_id")
  }

  /** Outlink harvest + RFC 3986 resolution + frontier politeness, the
    * crawl loop's back edge: each fixture page links five ways —
    * absolute, absolute-path, relative with a ../ dot segment,
    * query-only, and a protocol-relative `//host` form (plus a mailto:
    * that must drop) — resolved against the page's own URL, normalized
    * and scheduled per host. The oracle replays every resolution in
    * closed form and the schedule as a window, so the §5.2.2 transform,
    * dot-segment removal, scheme adoption and the politeness window are
    * all one hash. See [[graft.functions.UrlResolveExpr]],
    * [[graft.operators.Frontier]]. */
  gate("t61_outlinks",
      // all five resolutions replayed in closed form (absolute pass-through,
      // rooted, ../ dot-segment removal, query-only, scheme adoption), the
      // mailto: dropped, then the per-host politeness window
      """WITH links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net'
           FROM documents),
         ranked AS (
           SELECT doc_id, outlink,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT doc_id, outlink, fetch_seq,
           CAST((fetch_seq - 1) * 500 AS BIGINT) AS eta_ms
         FROM ranked ORDER BY doc_id, outlink""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html")
    graft.operators.Frontier.schedule(links, "outlink",
        priorityCol = "outlink", delayMs = 500L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms")
      .orderBy("doc_id", "outlink")
  }

  /** Crawl prioritization end to end: the t61 page fixture's outlinks
    * collapse to a host graph (nine site hosts each linking
    * abs.example, mirror.net and themselves), PageRank's integer-exact
    * iteration ranks the hosts ([[graft.operators.Frontier.hostRank]]
    * — the two link targets soak up authority, the sites keep teleport
    * + self-loop mass), and the fetch budget allocates
    * rank-proportionally by integer division
    * ([[graft.operators.Frontier.rankBudget]]). The oracle replays the
    * closed-form host edges and all five iterations g1-style, keyed on
    * host strings — the hash ids are the operator's internals and must
    * not show in the result. */
  gate("t83_crawl_rank",
      // closed-form host edges from the t61 fixture, the g1 iteration
      // unrolled five times keyed on host STRINGS (the operator's hash
      // ids are internals), then the integer-division budget split
      """WITH sh AS (SELECT DISTINCT
             'site' || (doc_id % 9) || '.com' AS src FROM documents),
         e AS (SELECT DISTINCT src, dst FROM (
             SELECT src, unnest(['abs.example', 'mirror.net', src]) AS dst
             FROM sh) x),
         o AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, p),
         c1 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node, p),
         c2 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node, p),
         c3 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node, p),
         c4 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node, p),
         c5 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node, p),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM r5)
         SELECT node AS host, CAST(r AS BIGINT) AS rank_ppb,
           CAST((r * 10000) // t AS BIGINT) AS budget
         FROM r5, tot ORDER BY host""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html")
    val hr = graft.operators.Frontier.hostRank(links, "url", "outlink")
    graft.operators.Frontier.rankBudget(hr, "host", "rank_ppb", 10000L)
      .orderBy("host")
  }

  /** Mojibake repair over the corpus
    * ([[graft.functions.MojibakeRepairExpr]]): every doc_id % 3 == 0
    * document gets a planted misencoded suffix (latin-1 mojibake
    * `cafÃ©`, cp1252 curly-quote `â€™` and
    * em-dash `â€”` shapes) that the byte-level repair
    * must collapse to clean UTF-8, while the untouched ASCII corpus
    * must survive bit-identical — the oracle states both facts in
    * closed form, so a repair that ever fires on clean text (or misses
    * a planted shape) hash-diverges. */
  gate("t84_mojibake",
      // the repair stated in closed form: planted mojibake maps to its
      // clean UTF-8, everything else is the identity
      ("""SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
             THEN text || ' caf""" + "é it’s —" +
        """ done' ELSE text END AS text_fixed,
           doc_id % 3 = 0 AS repaired
         FROM documents ORDER BY doc_id""")) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = " cafÃ© itâ€™s " +
      "â€” done"
    val dirty = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(planted)))
        .otherwise(col("text")).as("text"))
    dirty.select(col("doc_id"),
        graft.functions.MojibakeRepairExpr(col("text")).as("text_fixed"),
        (graft.functions.MojibakeRepairExpr(col("text")) =!= col("text"))
          .as("repaired"))
      .orderBy("doc_id")
  }

  /** Crawl-wave incrementality: two outlink waves against the PERSISTED
    * seen-URL history — wave 1 (even doc ids) lands entirely, wave 2
    * (ids divisible by 3) keeps only urls never seen (odd multiples of
    * 3); rediscoveries are excluded by the anti-join against the
    * TaggedAppend-committed history. The oracle replays both diffs in
    * closed form. Snapshot/replay semantics (pinned file lists, same-tag
    * crash retry convergence) are pinned by FrontierSpec; the fixture
    * history is REPLAY-CLEAN (deleted at gate start — a previous run's
    * table would mark every wave-1 url already seen).
    * See [[graft.operators.Frontier.seenDiffAndRecord]]. */
  gate("t66_seen_urls",
      // wave 1 = all evens (empty history); wave 2 = thirds never seen,
      // i.e. odd multiples of 3 — the anti-join replayed in closed form
      """SELECT * FROM (
           SELECT 1 AS wave, doc_id,
             'http://w.com/p' || doc_id AS url
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 2 AS wave, doc_id,
             'http://w.com/p' || doc_id AS url
           FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0)
         ORDER BY wave, doc_id""") { (s, dir) =>
    val path = "/tmp/graft_fixtures/seen_urls_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(path, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val d = t(s, dir, "documents")
    val url = concat(lit("http://w.com/p"), col("doc_id").cast("string"))
    val wave1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), url.as("url"))
    val wave2 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), url.as("url"))
    val fresh1 = graft.operators.Frontier
      .seenDiffAndRecord(wave1, "url", path, "wave1")
    val fresh2 = graft.operators.Frontier
      .seenDiffAndRecord(wave2, "url", path, "wave2")
    fresh1.withColumn("wave", lit(1))
      .unionByName(fresh2.withColumn("wave", lit(2)))
      .select("wave", "doc_id", "url")
      .orderBy("wave", "doc_id")
  }

  /** The crawl BACK EDGE composed end-to-end (the t53 convention, one
    * hop later in the loop): each page arrives as a framed HTTP/1.1
    * response, the splitter strips the envelope, the main-content
    * classifier reduces the body to its one real paragraph (title/nav/
    * footer chrome drops), the outlink harvester resolves all five
    * reference shapes from the SAME body, and the frontier schedules
    * them under per-host politeness — t59 → t65 → t61 as one hash.
    * `content_words` rides each row so the content extraction and the
    * link schedule are pinned together; the oracle replays every
    * resolution and the window in closed form. Scale shape: HTTP split,
    * content classification and link harvest are map-side kernels; the
    * only shuffles are outlinks' distinct and the per-host window
    * (hosts grow with the corpus — the t61 shape). */
  gate("t67_crawl_backedge",
      // every resolution replayed in closed form (the t61 skeleton) plus
      // the main-content word count (20 filler words + the doc's own)
      """WITH cw AS (
           SELECT doc_id,
             CAST(20 + len(string_split(text, ' ')) AS INT) AS content_words
           FROM documents),
         links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net'
           FROM documents),
         ranked AS (
           SELECT doc_id, outlink,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT r.doc_id, r.outlink, r.fetch_seq,
           CAST((r.fetch_seq - 1) * 500 AS BIGINT) AS eta_ms,
           cw.content_words
         FROM ranked r JOIN cw ON r.doc_id = cw.doc_id
         ORDER BY r.doc_id, r.outlink""") { (s, dir) =>
    val f1 = "Nineteen steady filler words keep this single body " +
      "paragraph comfortably past the content threshold of the shallow " +
      "block classifier here:"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id, lit("</title></head><body>"),
      lit("<nav><a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a></nav>"),
      lit(s"<p>$f1 "), col("text"), lit("</p>"),
      lit("<footer>fin</footer></body></html>"))
    val msg = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
    // ONE HTTP split per page: content_words is computed alongside the
    // body and CARRIED through the harvest (outlinks' carry columns),
    // instead of a second parse branch + a join back onto the schedule
    // (measured: the join-back shape ran the payload kernel twice)
    val pages = docs.select(col("url"),
      graft.functions.HttpPayloadExpr(msg.cast("binary"))
        .getField("body").cast("string").as("html"))
      .withColumn("content_words",
        size(split(graft.functions.TextFunctions.mainContent(col("html")),
          " ")))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html",
      carry = Seq("content_words"))
    graft.operators.Frontier.schedule(links, "outlink",
        priorityCol = "outlink", delayMs = 500L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms", "content_words")
      .orderBy("doc_id", "outlink")
  }

  /** The COMPLETE frontier decision function composed end-to-end —
    * what a fetch fleet actually consumes each wave: outlink harvest
    * (five reference shapes, t61's fixture) → RFC 9309 robots filter
    * (exact-agent group with a `Disallow: /rooted/` rule SHADOWING a
    * block-everything `*` decoy — a group-selection regression blanks
    * the whole plan, loudly) → seen-history anti-join (mirror links of
    * even docs pre-recorded as wave 0) → per-host crawl budget
    * (cap 100, binds on every host at sf0.01) → politeness schedule
    * under robots-declared per-host delays (hosts without robots fall
    * to the 1000 ms fleet default). Five operators, one closed-form
    * oracle: the link derivations, the two exclusions, the capped
    * per-host rank and the eta arithmetic replay directly. History
    * fixture is REPLAY-CLEAN. See [[graft.operators.Frontier]],
    * [[graft.operators.Robots]],
    * [[graft.functions.RobotsCrawlDelayExpr]]. */
  gate("t68_fetch_plan",
      // the composed fetch plan: rooted links robots-blocked, even mirror
      // links already seen, per-host rank capped at 100, eta from the
      // host's declared delay (abs/mirror fall to the 1000 ms default)
      """WITH links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h, CAST(1000 AS BIGINT) AS delay_ms
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com',
             CAST(((doc_id % 9) + 1) * 1000 AS BIGINT) FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com',
             CAST(((doc_id % 9) + 1) * 1000 AS BIGINT) FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net',
             CAST(1000 AS BIGINT)
           FROM documents WHERE doc_id % 2 <> 0),
         ranked AS (
           SELECT doc_id, outlink, h, delay_ms,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT doc_id, outlink, fetch_seq,
           CAST((fetch_seq - 1) * delay_ms AS BIGINT) AS eta_ms
         FROM ranked WHERE fetch_seq <= 100
         ORDER BY outlink""") { (s, dir) =>
    val hist = "/tmp/graft_fixtures/fetch_plan_seen_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(hist, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(hist), true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val candidates = graft.operators.Frontier.outlinks(pages, "url", "html")
    // wave 0: the mirror links of even docs are already crawled
    graft.operators.Frontier.seenDiffAndRecord(
      docs.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("http://mirror.net/m"), id).as("u")),
      "u", hist, "wave0")
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      concat(
        lit("User-agent: graftbot\nDisallow: /rooted/\nCrawl-delay: "),
        (col("id") + 1).cast("string"),
        lit("\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 99"))
        .as("robots_txt"))
    val allowed = graft.operators.Robots.filterAllowed(
      candidates, "outlink", hosts, "host", "robots_txt", "graftbot")
    val unseen = graft.operators.Frontier.seenDiff(allowed, "outlink", hist)
    val budgeted = graft.operators.Frontier.capPerHost(
      unseen, "outlink", priorityCol = "outlink", maxPerHost = 100)
    val delays = hosts.select(col("host"),
      graft.functions.RobotsCrawlDelayExpr(col("robots_txt"),
        lit("graftbot")).as("delay_s"))
    val withDelay = budgeted
      .withColumn("host", TextFunctions.urlHost(col("outlink")))
      .join(delays, Seq("host"), "left")
      .withColumn("delay_ms",
        when(col("delay_s").isNull || col("delay_s") < 0, lit(1000L))
          .otherwise((col("delay_s") * 1000).cast("long")))
      .drop("delay_s")
    graft.operators.Frontier.scheduleWithDelays(
        withDelay, "outlink", priorityCol = "outlink",
        delayMsCol = "delay_ms")
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms")
      .orderBy("outlink")
  }

  /** Recrawl/freshness scheduling over a planted fetch history: each
    * document becomes a URL with `1 + doc_id % 4` fetches whose content
    * hash changes every fetch (even ids) or every second fetch (odd
    * ids), so the walk exercises halve, double, both clamps and the
    * mixed path; the oracle replays the multiplicative backoff with a
    * recursive CTE (the t9_pack recipe) and the due-set comparison in
    * integers. See [[graft.operators.Frontier.revisitSchedule]]. */
  gate("t72_revisit_schedule",
      // the multiplicative revisit backoff replayed fetch-by-fetch with a
      // recursive CTE; integer halve/double with both clamps, due set in
      // integer comparison
      """WITH RECURSIVE f AS (
           SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY url)
         SELECT l.url, l.n AS n_fetches, w.nc AS n_changes,
           w.iv AS interval_sec, l.last_ts + w.iv AS next_due,
           l.last_ts + w.iv <= 250000 AS due
         FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
         ORDER BY l.url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(
        concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"))
    graft.operators.Frontier.revisitSchedule(hist, "url", "ts", "h",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** HTTP conditional revalidation composed end-to-end (t72's planted
    * history extended with RFC 9110 validators): each URL's history
    * carries ETags (even ids) and Last-Modified stamps (ids % 3 == 0);
    * an outcome wave then lands — 304 Not Modified for even ids (no
    * body: the history row reuses the prior hash and carries the
    * validators forward, so the next walk DOUBLES the interval without
    * re-ingesting anything), 200 with fresh content for odd ids (hash
    * replaces → HALVE; validators replace, ids % 5 == 0 get a new
    * ETag). The final plan's backoff arithmetic, due set and the
    * validators a conditional request would send are all replayed by
    * the oracle: the outcome fold in closed form (arg-max-ts carry),
    * then t72's recursive-CTE walk over the composed history. See
    * [[graft.operators.Frontier.recordOutcomes]] /
    * [[graft.operators.Frontier.revalidationPlan]]. */
  gate("t94_revalidation",
      // the outcome fold in closed form (a 304 carries the prior hash and
      // validators; a 200 replaces them) composed with t72's recursive
      // backoff walk over the extended history
      """WITH RECURSIVE f0 AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CASE WHEN doc_id % 2 = 0
               THEN 'et-' || doc_id || '-' || i END AS etag,
             CASE WHEN doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + i * 100 END AS lm,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         o AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(10000000 AS BIGINT) AS ts,
             CASE WHEN doc_id % 2 = 0
               THEN 'v' || CAST(doc_id % 4 AS VARCHAR)
               ELSE 'vnew' END AS h,
             CASE WHEN doc_id % 2 = 0
                 THEN 'et-' || doc_id || '-' || (doc_id % 4)
               WHEN doc_id % 5 = 0 THEN 'et-new-' || doc_id END AS etag,
             CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + (doc_id % 4) * 100
               END AS lm,
             CAST(doc_id % 4 + 2 AS BIGINT) AS k
           FROM documents),
         f AS (SELECT url, ts, h, k FROM f0
               UNION ALL SELECT url, ts, h, k FROM o),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1)
         SELECT o.url, o.k AS n_fetches, CAST(w.nc AS BIGINT) AS n_changes,
           CAST(w.iv AS BIGINT) AS interval_sec,
           CAST(10000000 + w.iv AS BIGINT) AS next_due,
           10000000 + w.iv <= 10000500 AS due,
           o.etag AS if_none_match, o.lm AS if_modified_since,
           (o.etag IS NOT NULL OR o.lm IS NOT NULL) AS conditional
         FROM o JOIN walk w ON w.url = o.url AND w.k = o.k
         ORDER BY o.url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(col("doc_id"), url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("et-"), col("doc_id").cast("string"), lit("-"),
            col("i").cast("string"))).as("etag"),
        when(col("doc_id") % 3 === 0,
          col("doc_id") * 1000 + col("i") * 100).as("lm"))
      .drop("doc_id", "i")
    val outcomes = docs.select(
      url.as("url"), lit(10000000L).as("ts"),
      when(col("doc_id") % 2 =!= 0, lit("vnew")).as("h"),
      when(col("doc_id") % 2 =!= 0 && col("doc_id") % 5 === 0,
        concat(lit("et-new-"), col("doc_id").cast("string"))).as("etag"),
      lit(null).cast("long").as("lm"),
      when(col("doc_id") % 2 === 0, lit(304)).otherwise(lit(200))
        .as("status"))
    val appended = graft.operators.Frontier.recordOutcomes(
      hist, outcomes, "url", "ts", "h", "etag", "lm", "status")
    graft.operators.Frontier.revalidationPlan(
        hist.unionByName(appended), "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** t94's composed plan under RETENTION
    * ([[graft.operators.Frontier.revalidationPlan]] `maxEvents = 3`):
    * per-URL state is bounded permanently — only each URL's last three
    * history rows enter the walk, so `n_fetches` caps at 3 and the
    * interval replays from the suffix. The oracle renumbers each URL's
    * suffix and replays the same recursive walk over it — a retention
    * window that kept the wrong rows (or renumbered off by one) breaks
    * every multi-fetch URL's hash. */
  gate("t94b_revalidation_retained",
      // the retained walk: each URL's history renumbered to its last-3
      // suffix, then the same recursive backoff replay over the suffix
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CASE WHEN doc_id % 2 = 0
               THEN 'et-' || doc_id || '-' || i END AS etag,
             CASE WHEN doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + i * 100 END AS lm,
             CAST(i + 1 AS BIGINT) AS k0,
             CAST(doc_id % 4 + 1 AS BIGINT) AS n
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         fr AS (SELECT url, ts, h, etag, lm,
             k0 - greatest(n - 3, 0) AS k, least(n, 3) AS n
           FROM f WHERE k0 > n - 3),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM fr WHERE k = 1
           UNION ALL
           SELECT fr.url, fr.k, fr.h,
             CASE WHEN fr.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN fr.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN fr ON fr.url = w.url AND fr.k = w.k + 1),
         lastrow AS (SELECT url, ts, etag, lm, n FROM fr WHERE k = n)
         SELECT l.url, l.n AS n_fetches, CAST(w.nc AS BIGINT) AS n_changes,
           CAST(w.iv AS BIGINT) AS interval_sec,
           CAST(l.ts + w.iv AS BIGINT) AS next_due,
           l.ts + w.iv <= 10000500 AS due,
           l.etag AS if_none_match, l.lm AS if_modified_since,
           (l.etag IS NOT NULL OR l.lm IS NOT NULL) AS conditional
         FROM lastrow l JOIN walk w ON w.url = l.url AND w.k = l.n
         ORDER BY l.url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(col("doc_id"), url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("et-"), col("doc_id").cast("string"), lit("-"),
            col("i").cast("string"))).as("etag"),
        when(col("doc_id") % 3 === 0,
          col("doc_id") * 1000 + col("i") * 100).as("lm"))
      .drop("doc_id", "i")
    graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L,
        maxEvents = 3)
      .orderBy("url")
  }

  /** RSS/Atom feed change discovery feeding the frontier (the t56
    * sitemap seam's third leg): per site, even sites publish an Atom
    * feed (entries with `<link rel="alternate" href>` + padded
    * `<updated>`), odd sites RSS 2.0 (mixed-case `<Item>` with
    * text-content `<link>` + `<pubDate>`); both carry feed-level decoy
    * links/timestamps OUTSIDE the entry blocks and mandatory `&amp;`
    * escaping in URLs. Entries already in the crawl history (ids
    * % 3 == 0, recorded as wave 0) anti-join away — extraction AND
    * dedup replayed by the oracle in closed form. See
    * [[graft.operators.Frontier.feedEntries]]. */
  gate("t95_feed_discovery",
      // feed extraction + seen-URL dedup in closed form: every doc's entry
      // surfaces exactly once unless its URL was already crawled
      """SELECT doc_id,
           'http://f' || (doc_id % 5) || '.com/feed.xml' AS feed_url,
           'http://f' || (doc_id % 5) || '.com/a?x=1&id=' || doc_id
             AS entry_url,
           CASE WHEN (doc_id % 5) % 2 = 0 THEN 'ts-' || doc_id
                ELSE 'pd-' || doc_id END AS entry_ts
         FROM documents WHERE doc_id % 3 <> 0 ORDER BY doc_id""") { (s, dir) =>
    val hist = "/tmp/graft_fixtures/feed_seen_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(hist, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(hist), true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val atomXml = concat(
      lit("<?xml version=\"1.0\"?>" +
        "<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>f&amp;d</title>" +
        "<link rel=\"self\" href=\"http://decoy.example/feed\"/>" +
        "<updated>1999-01-01T00:00:00Z</updated>"),
      array_join(transform(col("ids"), i => concat(
        lit("<entry><title>e&amp;t</title>" +
          "<link rel=\"alternate\" href=\"http://f"),
        col("site").cast("string"), lit(".com/a?x=1&amp;id="),
        i.cast("string"),
        lit("\"/><updated> ts-"), i.cast("string"),
        lit(" </updated></entry>"))), ""),
      lit("</feed>"))
    val rssXml = concat(
      lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
        "<title>c</title><link>http://decoy.example/</link>" +
        "<pubDate>Mon, 01 Jan 1999 00:00:00 GMT</pubDate>"),
      array_join(transform(col("ids"), i => concat(
        lit("<Item><title>i</title><link> http://f"),
        col("site").cast("string"), lit(".com/a?x=1&amp;id="),
        i.cast("string"),
        lit(" </link><pubDate>pd-"), i.cast("string"),
        lit("</pubDate></Item>"))), ""),
      lit("</channel></rss>"))
    val feeds = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(
        concat(lit("http://f"), col("site").cast("string"),
          lit(".com/feed.xml")).as("feed_url"),
        when(col("site") % 2 === 0, atomXml).otherwise(rssXml).as("xml"))
    val entries = graft.operators.Frontier.feedEntries(feeds, "feed_url", "xml")
    graft.operators.Frontier.seenDiffAndRecord(
      docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("http://f"), (col("doc_id") % 5).cast("string"),
          lit(".com/a?x=1&id="), col("doc_id").cast("string")).as("u")),
      "u", hist, "wave0")
    graft.operators.Frontier.seenDiff(entries, "entry_url", hist)
      .withColumn("doc_id",
        regexp_extract(col("entry_url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "feed_url", "entry_url", "entry_ts")
      .orderBy("doc_id")
  }

  /** RFC 9111 Cache-Control folded into the revisit plan
    * ([[graft.operators.Frontier.freshnessFloor]]): per url-class, a
    * no-store header (kills the conditional flag and floors at
    * max-age=600), a quoted numeric max-age, an uppercase
    * IMMUTABLE+MAX-AGE pair (case-insensitive parse), or no header at
    * all (plan untouched) — every header prefixed with an `x-max-age`
    * decoy the token-position guard must reject. The oracle replays
    * t72's backoff walk, the directive parse and the floor/flag
    * arithmetic in closed form. */
  gate("t97_cache_control",
      // t72's walk + the directive parse + the freshness-floor arithmetic
      // replayed in closed form per url-class
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         pp AS (SELECT l.doc_id, l.url, l.n, w.nc, w.iv, l.last_ts,
             CASE WHEN l.doc_id % 4 = 0 THEN 600
                  WHEN l.doc_id % 4 = 1 THEN (l.doc_id % 7) * 300
                  WHEN l.doc_id % 4 = 2 THEN 900 END AS ma
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n)
         SELECT url, n AS n_fetches, nc AS n_changes, iv AS interval_sec,
           CAST(greatest(last_ts + iv, last_ts + COALESCE(ma, 0))
             AS BIGINT) AS next_due,
           greatest(last_ts + iv, last_ts + COALESCE(ma, 0)) <= 250000
             AS due,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           (doc_id % 2 = 0 AND doc_id % 4 <> 0) AS conditional,
           CAST(ma AS BIGINT) AS max_age,
           doc_id % 4 = 0 AS no_store,
           doc_id % 4 = 2 AS immutable
         FROM pp ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val plan = graft.operators.Frontier.revalidationPlan(
      hist, "url", "ts", "h", "etag", "lm",
      nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
    val header =
      when(col("doc_id") % 4 === 0,
        lit("x-max-age=9999, no-store, max-age=600"))
      .when(col("doc_id") % 4 === 1,
        concat(lit("public, max-age=\""),
          ((col("doc_id") % 7) * 300).cast("string"), lit("\"")))
      .otherwise(lit("IMMUTABLE, MAX-AGE=900"))
    val headers = docs.filter(col("doc_id") % 4 =!= 3)
      .select(url.as("u"), header.as("cc"))
    graft.operators.Frontier.freshnessFloor(plan, headers, "u", "cc",
        nowSec = 250000L)
      .orderBy("url")
  }

  /** The CONDITIONAL fetch plan — t94's plan driving t68's scheduling
    * seam: the due set of a validator-carrying revisit plan flows
    * through the per-host politeness window with `conditional` /
    * `if_none_match` riding along as schedule carry columns, so the
    * fetch fleet reads, per slot, WHAT to fetch, WHEN, and WHETHER to
    * send If-None-Match. The oracle replays the walk, the due cut and
    * the per-host (priority desc, url asc) sequence in closed form. */
  gate("t98_conditional_fetch_plan",
      // the walk, the due cut and the per-host politeness sequence with
      // validator carry, all in closed form
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    graft.operators.Frontier.schedule(due, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** Crawl-to-crawl diff ([[graft.operators.Frontier.crawlDiff]]): the
    * new crawl drops every 7th url (removed), rewrites every 5th
    * surviving page's hash (changed), adds a shifted-id wave for every
    * 11th doc (added), and leaves the rest byte-identical (unchanged) —
    * all four statuses replayed in closed form with their hashes. */
  gate("t99_crawl_diff",
      // all four statuses and their hashes in closed form (7s removed,
      // surviving 5s changed, 11s' shifted wave added, rest unchanged)
      """SELECT url, status, prev_hash, cur_hash FROM (
           SELECT 'http://c.com/p' || doc_id AS url,
             CASE WHEN doc_id % 7 = 0 THEN 'removed'
                  WHEN doc_id % 5 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             'v' || (doc_id % 3) AS prev_hash,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  WHEN doc_id % 5 = 0 THEN 'w'
                  ELSE 'v' || (doc_id % 3) END AS cur_hash
           FROM documents
           UNION ALL
           SELECT 'http://c.com/p' || (doc_id + 5000000), 'added',
             NULL, 'n'
           FROM documents WHERE doc_id % 11 = 0)
         ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    def url(id: org.apache.spark.sql.Column) =
      concat(lit("http://c.com/p"), id.cast("string"))
    val prev = docs.select(url(col("doc_id")).as("url"),
      concat(lit("v"), (col("doc_id") % 3).cast("string")).as("h"))
    val cur = docs.filter(col("doc_id") % 7 =!= 0)
      .select(url(col("doc_id")).as("url"),
        when(col("doc_id") % 5 === 0, lit("w"))
          .otherwise(concat(lit("v"), (col("doc_id") % 3).cast("string")))
          .as("h"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select(url(col("doc_id") + 5000000L).as("url"), lit("n").as("h")))
    graft.operators.Frontier.crawlDiff(prev, cur, "url", "h")
      .orderBy("url")
  }

  /** Incremental re-processing over the t99 diff
    * ([[graft.operators.Frontier.incrementalReprocess]]): the previous
    * crawl's per-doc token counts survive for unchanged pages, ONLY the
    * added+changed pages re-clean, removed pages vanish — and the
    * composed result must equal cleaning the new crawl from scratch,
    * which is exactly what the oracle computes. The 100 TB point: when
    * 3% of a corpus moved, this re-reads 3%. */
  gate("t100_incremental_clean",
      // the incremental result must equal cleaning the NEW crawl from
      // scratch — which is what this computes (the 5s' suffix re-counted
      // inside the composed text, the 11s' fresh docs at 3 tokens)
      """SELECT url, n_ws FROM (
           SELECT 'http://c.com/p' || doc_id AS url,
             CAST(len(regexp_split_to_array(trim(
               CASE WHEN doc_id % 5 = 0 THEN text || ' zz extra tok'
                    ELSE text END), '\s+')) AS BIGINT) AS n_ws
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT 'http://c.com/p' || (doc_id + 5000000),
             CAST(3 AS BIGINT)
           FROM documents WHERE doc_id % 11 = 0)
         ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def url(id: org.apache.spark.sql.Column) =
      concat(lit("http://c.com/p"), id.cast("string"))
    val prev = docs.select(url(col("doc_id")).as("url"), col("text"))
    val cur = docs.filter(col("doc_id") % 7 =!= 0)
      .select(url(col("doc_id")).as("url"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" zz extra tok")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select(url(col("doc_id") + 5000000L).as("url"),
          concat(lit("fresh doc "), col("doc_id").cast("string"))
            .as("text")))
    def clean(df: DataFrame): DataFrame = df.select(col("url"),
      TextFunctions.tokenCountWhitespace(col("text")).as("n_ws"))
    val diff = graft.operators.Frontier.crawlDiff(
      prev.select(col("url"), md5(col("text")).as("h")),
      cur.select(col("url"), md5(col("text")).as("h")), "url", "h")
    graft.operators.Frontier.incrementalReprocess(
        clean(prev), cur, diff, "url")(clean)
      .orderBy("url")
  }

  /** Host-level TrustRank ([[graft.operators.Frontier.hostTrustRank]]):
    * url-grain links collapse to a 6-host cycle, trust seeds at h0 and
    * decays one hop per iteration — the data-scale work is the url→host
    * collapse (t83's measured story), the iteration runs on the tiny
    * host graph. The oracle enumerates the cycle and replays all five
    * seed-restricted iterations. */
  gate("t102_crawl_trust",
      // the 6-host cycle enumerated, five seed-restricted iterations
      // replayed (outdeg 1 everywhere, so contributions are plain sums)
      """WITH e(src, dst) AS (VALUES ('h0.com', 'h1.com'), ('h1.com', 'h2.com'), ('h2.com', 'h3.com'), ('h3.com', 'h4.com'), ('h4.com', 'h5.com'), ('h5.com', 'h0.com')),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node,
             CASE WHEN node = 'h0.com' THEN 1000000000 ELSE 0 END AS r
           FROM nodes),
         c1 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r0 pr ON pr.node = e.src GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node),
         c2 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r1 pr ON pr.node = e.src GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node),
         c3 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r2 pr ON pr.node = e.src GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node),
         c4 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r3 pr ON pr.node = e.src GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node),
         c5 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r4 pr ON pr.node = e.src GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node)
         SELECT node AS host, CAST(r AS BIGINT) AS trust_ppb
         FROM r5 ORDER BY host""") { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val links = docs.select(
      concat(lit("http://h"), (col("doc_id") % 6).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      concat(lit("http://h"), ((col("doc_id") + 1) % 6).cast("string"),
        lit(".com/x"), col("doc_id").cast("string")).as("outlink"))
    graft.operators.Frontier.hostTrustRank(links, "url", "outlink",
        Seq("h0.com").toDF("host"), "host", iterations = 5)
      .orderBy("host")
  }

  /** Politeness compliance audit
    * ([[graft.operators.Frontier.delayViolations]]): nine hosts fetch
    * at per-host constant cadence 500+h·100 ms against a declared
    * 800 ms crawl-delay — hosts 0–2 violate on every consecutive pair,
    * hosts 3–8 comply; the oracle replays counts, violation counts,
    * the minimum gap and the declared delay per host in closed form. */
  gate("t103_politeness_audit",
      // per-host cadence vs declared delay: the three fast hosts violate
      // on every consecutive pair, the rest comply
      """WITH l AS (SELECT doc_id, doc_id % 9 AS h FROM documents),
         g AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY h)
         SELECT 'site' || h || '.com' AS host, n AS n_fetches,
           CAST(CASE WHEN 500 + h * 100 < 800 AND n > 1 THEN n - 1
                ELSE 0 END AS BIGINT) AS n_violations,
           CASE WHEN n > 1 THEN CAST(500 + h * 100 AS BIGINT) END
             AS min_gap_ms,
           CAST(800 AS BIGINT) AS delay_ms
         FROM g ORDER BY host""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val h = col("doc_id") % 9
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(h)
        .orderBy(col("doc_id")))
    val log = docs.select(
      concat(lit("http://site"), h.cast("string"), lit(".com/p"),
        col("doc_id").cast("string")).as("url"),
      (rn.cast("long") * (lit(500L) + h * 100L)).as("ts_ms"))
    val delays = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit(800L).as("delay_ms"))
    graft.operators.Frontier.delayViolations(log, "url", "ts_ms",
        delays, "host", "delay_ms")
      .orderBy("host")
  }

  /** Per-host fetch health ([[graft.operators.Frontier.hostHealth]]):
    * ten hosts, four failing half their fetches through the four error
    * classes (timeout-0, 429, 500, 503) and one failing half with 404 —
    * the crawler's error, NOT the host's, so it must NOT demote; the
    * oracle replays the classification, the exact ppm division and the
    * demotion rule. */
  gate("t104_host_health",
      // classification, exact ppm division and the demotion rule replayed;
      // the 404 host must NOT demote
      """WITH l AS (SELECT doc_id, doc_id % 10 AS h,
             CASE doc_id % 20 WHEN 0 THEN 0 WHEN 1 THEN 429 WHEN 2 THEN 500
               WHEN 3 THEN 503 WHEN 4 THEN 404 ELSE 200 END AS st
           FROM documents),
         a AS (SELECT h, CAST(count(*) AS BIGINT) AS n_attempts,
             CAST(sum(CASE WHEN st = 0 OR st = 429 OR st >= 500
               THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
           FROM l GROUP BY h)
         SELECT 'site' || h || '.com' AS host, n_attempts, n_errors,
           CAST(n_errors * 1000000 // n_attempts AS BIGINT) AS error_ppm,
           (n_errors * 1000000 // n_attempts >= 500000
             AND n_attempts >= 5) AS demoted
         FROM a ORDER BY host""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val status = when(col("doc_id") % 20 === 0, 0)
      .when(col("doc_id") % 20 === 1, 429)
      .when(col("doc_id") % 20 === 2, 500)
      .when(col("doc_id") % 20 === 3, 503)
      .when(col("doc_id") % 20 === 4, 404)
      .otherwise(200)
    val log = docs.select(
      concat(lit("http://site"), (col("doc_id") % 10).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      status.as("status"))
    graft.operators.Frontier.hostHealth(log, "url", "status")
      .orderBy("host")
  }

  /** Retry-After embargo ([[graft.operators.Frontier.retryAfterEmbargo]]),
    * BOTH RFC 9110 §10.2.3 forms in one log: every third fetch is a 429
    * with a whitespace-padded delta-seconds Retry-After (ts-relative);
    * even 503s carry an absolute IMF-fixdate
    * ([[graft.functions.TextFunctions.retryAfterDateEpoch]]); odd 503s
    * are malformed (null → generic backoff, no embargo row); 200s
    * carrying a stray header must NOT embargo. Per host the LATEST
    * not-before wins; the oracle replays both parses and the max. */
  gate("t105_retry_after",
      // g1's machinery with seed-restricted init and teleport: the
      // trusted four carry all mass at round 0 and all teleport after
      // both Retry-After forms in one log: 429 deltas are ts-relative,
      // the even 503s carry an absolute IMF-fixdate (epoch 7200), the odd
      // 503s are malformed (null, no row); max not-before per host wins
      """WITH e AS (SELECT doc_id % 8 AS h,
             doc_id * 10 + (doc_id % 5) * 30 AS nb
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id % 8 AS h,
             CAST(epoch(strptime('Thu, 01 Jan 1970 02:00:00 GMT',
               '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) AS nb
           FROM documents WHERE doc_id % 3 = 2 AND doc_id % 2 = 0)
         SELECT 'site' || h || '.com' AS host,
           CAST(max(nb) AS BIGINT) AS not_before,
           max(nb) > 4900 AS embargoed
         FROM e GROUP BY h ORDER BY host""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val status = when(col("doc_id") % 3 === 0, 429)
      .when(col("doc_id") % 3 === 1, 200).otherwise(503)
    val header = when(col("doc_id") % 3 === 0,
        concat(lit(" "), ((col("doc_id") % 5) * 30).cast("string"), lit(" ")))
      .when(col("doc_id") % 3 === 1, lit("60"))
      // the 503s carry RFC 9110's OTHER Retry-After form: an absolute
      // IMF-fixdate on the even ones (epoch 7200), garbage on the odd
      // ones (malformed date -> null -> generic backoff, never a row)
      .when(col("doc_id") % 2 === 0, lit("Thu, 01 Jan 1970 02:00:00 GMT"))
      .otherwise(lit("tomorrow"))
    val log = docs.select(
      concat(lit("http://site"), (col("doc_id") % 8).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      (col("doc_id") * 10).as("ts"), status.as("status"),
      header.as("retry_after"))
    graft.operators.Frontier.retryAfterEmbargo(log, "url", "ts",
        "status", "retry_after", nowSec = 4900L)
      .orderBy("host")
  }

  /** The crawl CONTROL LOOP as one query — every round-18 signal
    * composed: t94's revisit due cut, minus hosts t104's health demotes
    * (hosts 0–1 fail every fetch), minus hosts t105's Retry-After
    * embargoes (host 2 is rate-limited until well past now), through
    * t68's per-host politeness window with validator carry. The oracle
    * replays the walk, the three host-class cuts and the sequence in
    * closed form. */
  gate("t106_crawl_control",
      // t98's machinery with the three host-class cuts: demoted (0,1),
      // embargoed (2), then the politeness sequence over the survivors
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000
             AND l.doc_id % 20 NOT IN (0, 1, 2)),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    val healthLog = docs.select(url.as("url"),
      when(col("doc_id") % 20 < 2, 500).otherwise(200).as("status"))
    val demoted = graft.operators.Frontier.hostHealth(healthLog,
        "url", "status")
      .filter(col("demoted")).select(col("host").as("__h"))
    val raLog = docs.filter(col("doc_id") % 20 === 2)
      .select(url.as("url"), lit(0L).as("ts"), lit(429).as("status"),
        lit("900000").as("ra"))
    val embargoed = graft.operators.Frontier.retryAfterEmbargo(raLog,
        "url", "ts", "status", "ra", nowSec = 250000L)
      .filter(col("embargoed")).select(col("host").as("__h"))
    val eligible = due
      .withColumn("__h", TextFunctions.urlHost(col("url")))
      .join(demoted, Seq("__h"), "left_anti")
      .join(embargoed, Seq("__h"), "left_anti")
      .drop("__h")
    graft.operators.Frontier.schedule(eligible, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** HTTP 3xx redirect-chain resolution
    * ([[graft.operators.Frontier.resolveRedirects]]): derived 1–2-hop
    * chains over the documents table (`u<d> → u<d+1>` for d%10 ∈
    * {1,2}, mixed 301/302 so permanence varies) plus planted edges — a
    * 2-cycle, a self-redirect, and a 7-hop chain whose first two
    * sources exceed maxHops=5. The oracle replays the bounded walk as
    * a recursive CTE with list-based loop detection — same hop counts,
    * same permanence conjunction, same terminal flags. */
  gate("t107_redirects",
      // the bounded redirect walk as a recursive CTE: list-based loop
      // detection, hop counting, end-to-end permanence conjunction —
      // terminal rows emitted exactly once, recursion only on open rows
      """WITH RECURSIVE
           derived AS (
             SELECT 'u' || doc_id AS src,
                    CASE WHEN doc_id % 4 < 2 THEN 301 ELSE 302 END AS st,
                    'u' || (doc_id + 1) AS loc
             FROM documents WHERE doc_id % 10 IN (1, 2)),
           planted(src, st, loc) AS (VALUES
             ('loopA', 301, 'loopB'), ('loopB', 308, 'loopA'),
             ('self', 307, 'self'),
             ('c0', 301, 'c1'), ('c1', 308, 'c2'), ('c2', 301, 'c3'),
             ('c3', 308, 'c4'), ('c4', 301, 'c5'), ('c5', 308, 'c6'),
             ('c6', 302, 'c7')),
           m AS (SELECT * FROM derived UNION ALL SELECT * FROM planted),
           walk(url, cur, hops, perm, visited, outcome) AS (
             SELECT src, loc, CAST(1 AS BIGINT), st IN (301, 308), [src],
                    CAST(NULL AS VARCHAR)
             FROM m
             UNION ALL
             SELECT w.url,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.cur ELSE m2.loc END,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.hops ELSE w.hops + 1 END,
               CASE WHEN m2.src IS NULL THEN w.perm
                    WHEN list_contains(w.visited, m2.loc) OR m2.loc = w.cur
                         OR w.hops + 1 > 5 THEN false
                    ELSE w.perm AND m2.st IN (301, 308) END,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.visited ELSE list_append(w.visited, w.cur) END,
               CASE WHEN m2.src IS NULL THEN 'resolved'
                    WHEN list_contains(w.visited, m2.loc) OR m2.loc = w.cur
                    THEN 'loop'
                    WHEN w.hops + 1 > 5 THEN 'exceeded'
                    ELSE NULL END
             FROM walk w LEFT JOIN m m2 ON w.cur = m2.src
             WHERE w.outcome IS NULL)
         SELECT url,
           CASE WHEN outcome = 'resolved' THEN cur END AS final_url,
           hops,
           outcome = 'resolved' AND perm AS permanent,
           outcome
         FROM walk WHERE outcome IS NOT NULL ORDER BY url""") { (s, dir) =>
    import s.implicits._
    val derived = t(s, dir, "documents").select(col("doc_id"))
      .filter((col("doc_id") % 10).isin(1, 2))
      .select(concat(lit("u"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 4 < 2, 301).otherwise(302).as("status"),
        concat(lit("u"), (col("doc_id") + 1).cast("string"))
          .as("location"))
    val planted = Seq(
      ("loopA", 301, "loopB"), ("loopB", 308, "loopA"),
      ("self", 307, "self"),
      ("c0", 301, "c1"), ("c1", 308, "c2"), ("c2", 301, "c3"),
      ("c3", 308, "c4"), ("c4", 301, "c5"), ("c5", 308, "c6"),
      ("c6", 302, "c7")).toDF("url", "status", "location")
    graft.operators.Frontier.resolveRedirects(
        derived.unionByName(planted), "url", "status", "location",
        maxHops = 5)
      .orderBy("url")
  }

  /** Cross-wave redirect-moves compaction
    * ([[graft.operators.Frontier.compactRedirectMoves]]): moves
    * committed in DIFFERENT waves chain — wave 1 renamed a→b, wave 2
    * renamed b→c — and one [[graft.operators.Frontier.applyRedirectMoves]]
    * pass over the raw table stops one hop short. The fixture plants
    * chains of length 1/2/3 by doc_id%3, a permanent move whose target
    * moved only TEMPORARILY (must NOT chain — ambiguous evidence), and
    * pass-through temporary/loop/exceeded rows. The oracle replays the
    * residue-determined transitive ends and summed hops in closed
    * form; the pointer-doubling walk must land every row exactly. */
  gate("t107d_redirect_compaction",
      // cross-wave chains in closed form: by d%3 the a<d> chain ends at
      // b/c/e with summed hops 1/2/3; mid-chain rows compact too; the
      // temporary and loop/exceeded rows pass through untouched
      """WITH d AS (SELECT doc_id, doc_id % 3 AS r
             FROM documents WHERE doc_id % 10 = 3),
         rows AS (
           SELECT 'a' || doc_id AS url,
             (CASE r WHEN 0 THEN 'b' WHEN 1 THEN 'c' ELSE 'e' END)
               || doc_id AS final_url,
             CAST(CASE r WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
               AS BIGINT) AS hops,
             true AS permanent, 'resolved' AS outcome
           FROM d
           UNION ALL
           SELECT 'b' || doc_id,
             (CASE r WHEN 1 THEN 'c' ELSE 'e' END) || doc_id,
             CAST(CASE r WHEN 1 THEN 1 ELSE 2 END AS BIGINT), true,
             'resolved'
           FROM d WHERE r IN (1, 2)
           UNION ALL
           SELECT 'c' || doc_id, 'e' || doc_id, CAST(1 AS BIGINT), true,
             'resolved'
           FROM d WHERE r = 2
           UNION ALL
           SELECT 'b' || doc_id, 'z' || doc_id, CAST(1 AS BIGINT), false,
             'resolved'
           FROM d WHERE r = 0
           UNION ALL
           SELECT 'loopA', 'loopA', CAST(2 AS BIGINT), false, 'loop'
           UNION ALL
           SELECT 'deep0', NULL, CAST(5 AS BIGINT), false, 'exceeded')
         SELECT * FROM rows ORDER BY url""") { (s, dir) =>
    import s.implicits._
    val d = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 3)
    val sid = col("doc_id").cast("string")
    val wave1 = d.select(concat(lit("a"), sid).as("url"),
      concat(lit("b"), sid).as("final_url"), lit(1L).as("hops"),
      lit(true).as("permanent"), lit("resolved").as("outcome"))
    val wave2 = d.filter((col("doc_id") % 3).isin(1, 2))
      .select(concat(lit("b"), sid).as("url"),
        concat(lit("c"), sid).as("final_url"), lit(1L).as("hops"),
        lit(true).as("permanent"), lit("resolved").as("outcome"))
    val wave3 = d.filter(col("doc_id") % 3 === 2)
      .select(concat(lit("c"), sid).as("url"),
        concat(lit("e"), sid).as("final_url"), lit(1L).as("hops"),
        lit(true).as("permanent"), lit("resolved").as("outcome"))
    // a PERMANENT source whose target carries only a TEMPORARY move:
    // a<d> must keep b<d> — identity never migrates on ambiguous
    // evidence
    val tempMoves = d.filter(col("doc_id") % 3 === 0)
      .select(concat(lit("b"), sid).as("url"),
        concat(lit("z"), sid).as("final_url"), lit(1L).as("hops"),
        lit(false).as("permanent"), lit("resolved").as("outcome"))
    val flags = Seq(
      ("loopA", "loopA", 2L, false, "loop"),
      ("deep0", null.asInstanceOf[String], 5L, false, "exceeded"))
      .toDF("url", "final_url", "hops", "permanent", "outcome")
    val moves = wave1.unionByName(wave2).unionByName(wave3)
      .unionByName(tempMoves).unionByName(flags)
      // replay duplicates collapse
      .unionByName(wave2)
    graft.operators.Frontier.compactRedirectMoves(moves)
      .orderBy("url")
  }

  /** Relative-Location redirect chains
    * ([[graft.operators.Frontier.resolveRedirects]]' RFC 3986 leg —
    * RFC 9110 §10.2.2 sends a URI-reference, and real servers emit
    * `../up` and `/abs-path` routinely): each doc's page redirects via
    * a dot-segment relative reference, its RESOLVED spelling is itself
    * a source redirecting via an absolute-path reference — the walk
    * must chain through the resolver's canonical keys. Oracle: the
    * expected RESOLVED spellings in closed form (resolution itself is
    * t51/t61's oracle-pinned kernel). */
  gate("t107c_redirect_relative",
      // the expected RESOLVED spellings in closed form: ../q/r<d> from
      // /dir/p<d> lands at /q/r<d>, whose /final/<d> reference lands at
      // /final/<d>; the 2-hop chain carries the 302's non-permanence
      """WITH d AS (SELECT doc_id, 'http://h' || (doc_id % 7) || '.com'
             AS host
           FROM documents WHERE doc_id % 5 = 1),
         r AS (
           SELECT host || '/dir/p' || doc_id AS url,
             host || '/final/' || doc_id AS final_url,
             CAST(2 AS BIGINT) AS hops, false AS permanent,
             'resolved' AS outcome
           FROM d
           UNION ALL
           SELECT host || '/q/r' || doc_id, host || '/final/' || doc_id,
             CAST(1 AS BIGINT), false, 'resolved'
           FROM d)
         SELECT * FROM r ORDER BY url""") { (s, dir) =>
    val d = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 5 === 1)
    val host = concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
      lit(".com"))
    val sid = col("doc_id").cast("string")
    val redirects = d.select(
        concat(host, lit("/dir/p"), sid).as("url"), lit(301).as("status"),
        concat(lit("../q/r"), sid).as("location"))
      .unionByName(d.select(
        concat(host, lit("/q/r"), sid).as("url"), lit(302).as("status"),
        concat(lit("/final/"), sid).as("location")))
    graft.operators.Frontier.resolveRedirects(redirects,
        "url", "status", "location", maxHops = 5)
      .orderBy("url")
  }

  /** Permanent-redirect identity migration composed with the
    * revalidation plan ([[graft.operators.Frontier.applyRedirectMoves]]
    * after [[graft.operators.Frontier.resolveRedirects]]): every doc's
    * URL has one fetch on record; d%10==1 URLs permanently moved (308)
    * to `v<d>`, d%10==2 temporarily (302) to `w<d>`. The migrated
    * history must carry each moved URL's validators under the NEW name
    * — the plan row for `v<d>` shows the old fetch's ETag — while the
    * temporary targets never rename. Oracle: closed-form rename +
    * single-fetch plan. */
  gate("t107b_redirect_migration",
      // closed-form: d%10==1 renames u<d> -> v<d> (permanent), d%10==2
      // stays u<d> (temporary never renames); single-fetch plan rows —
      // interval = base, validators carried under the migrated name
      """SELECT
           CASE WHEN doc_id % 10 = 1 THEN 'v' || doc_id
                ELSE 'u' || doc_id END AS url,
           CAST(1 AS BIGINT) AS n_fetches,
           CAST(0 AS BIGINT) AS n_changes,
           CAST(400 AS BIGINT) AS interval_sec,
           CAST(doc_id * 100 + 400 AS BIGINT) AS next_due,
           doc_id * 100 + 400 <= 25000 AS due,
           'e' || doc_id AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           true AS conditional
         FROM documents ORDER BY url""") { (s, dir) =>
    val d = t(s, dir, "documents").select(col("doc_id"))
    val u = concat(lit("u"), col("doc_id").cast("string"))
    val redirects = d.filter(col("doc_id") % 10 === 1)
      .select(u.as("url"), lit(308).as("status"),
        concat(lit("v"), col("doc_id").cast("string")).as("location"))
      .unionByName(d.filter(col("doc_id") % 10 === 2)
        .select(u.as("url"), lit(302).as("status"),
          concat(lit("w"), col("doc_id").cast("string")).as("location")))
    val resolved = graft.operators.Frontier.resolveRedirects(
      redirects, "url", "status", "location", maxHops = 5)
    val hist = d.select(u.as("url"), (col("doc_id") * 100).as("ts"),
      concat(lit("h"), col("doc_id").cast("string")).as("h"),
      concat(lit("e"), col("doc_id").cast("string")).as("etag"),
      lit(null).cast("long").as("lm"))
    graft.operators.Frontier.revalidationPlan(
        graft.operators.Frontier.applyRedirectMoves(hist, "url", resolved),
        "url", "ts", "h", "etag", "lm",
        nowSec = 25000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** The COMPLETE budgeted crawl wave as one gated query — t106's
    * control loop (due ∩ ¬demoted ∩ ¬embargoed) with the rank budget
    * folded in ([[graft.operators.Frontier.rankBudget]] over a planted
    * host-rank table → [[graft.operators.Frontier.capPerHostBudgeted]]
    * → politeness [[graft.operators.Frontier.schedule]]): the operator
    * a real crawler actually runs each wave. The budget cut and the
    * schedule share the (priority desc, url) ordering, so survivors
    * keep sequence 1..budget — the oracle replays the walk, the three
    * host-class cuts, the integer budget allocation and the sequence
    * in closed form. */
  gate("t108_budgeted_wave",
      // t106's closed form + the integer budget allocation: host i's rank
      // is i+1, budget = rank*60 DIV 210; the budget cut and the schedule
      // share the (url desc) ordering so survivors keep sequence
      // 1..budget
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000
             AND l.doc_id % 20 NOT IN (0, 1, 2)),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r
         WHERE fetch_seq <= (doc_id % 20 + 1) * 60 // 210
         ORDER BY url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    val healthLog = docs.select(url.as("url"),
      when(col("doc_id") % 20 < 2, 500).otherwise(200).as("status"))
    val demoted = graft.operators.Frontier.hostHealth(healthLog,
        "url", "status")
      .filter(col("demoted")).select(col("host").as("__h"))
    val raLog = docs.filter(col("doc_id") % 20 === 2)
      .select(url.as("url"), lit(0L).as("ts"), lit(429).as("status"),
        lit("900000").as("ra"))
    val embargoed = graft.operators.Frontier.retryAfterEmbargo(raLog,
        "url", "ts", "status", "ra", nowSec = 250000L)
      .filter(col("embargoed")).select(col("host").as("__h"))
    val eligible = due
      .withColumn("__h", TextFunctions.urlHost(col("url")))
      .join(demoted, Seq("__h"), "left_anti")
      .join(embargoed, Seq("__h"), "left_anti")
      .drop("__h")
    // planted host ranks (host index + 1) -> integer-proportional
    // budget over 60 fetch slots
    val ranks = docs.select((col("doc_id") % 20).as("hid")).distinct()
      .select(concat(lit("h"), col("hid").cast("string"),
        lit(".example.com")).as("host"), (col("hid") + 1).as("rank"))
    val budgets = graft.operators.Frontier.rankBudget(
      ranks, "host", "rank", totalBudget = 60L)
    val capped = graft.operators.Frontier.capPerHostBudgeted(
      eligible, "url", "url", budgets, "host", "budget")
    graft.operators.Frontier.schedule(capped, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** Anchor-text harvest ([[graft.operators.Frontier.anchorTexts]]):
    * four link shapes per page — nested inline markup + collapsing
    * whitespace in the label, an entity in the label over a relative
    * href (absolutized), an image link with an EMPTY label (dropped —
    * no supervision signal), and a hrefless named anchor (resolves to
    * the page itself, dropped as a self-link). The oracle reconstructs
    * the two surviving (outlink, anchor) pairs per page in closed
    * form. */
  gate("t96_anchor_text",
      // the two surviving label pairs per page in closed form: nested
      // markup stripped + whitespace collapsed, entity decoded over the
      // absolutized relative href; the empty-label image link and the
      // hrefless self-resolving anchor never appear
      """SELECT doc_id, url, outlink, anchor FROM (
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               AS url,
             'https://abs.example/x' || doc_id AS outlink,
             'Read more here' AS anchor
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'R&D news'
           FROM documents)
         ORDER BY doc_id, outlink""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val url = concat(lit("http://site"), (col("doc_id") % 9).cast("string"),
      lit(".com/a/b/page"), id)
    val html = concat(
      lit("<html><body><a href=\"https://abs.example/x"), id,
      lit("\">Read <b>more</b>  here</a><a href='/rooted/"), id,
      lit("'>R&amp;D news</a><a href=\"/empty"), id,
      lit("\"><img src=\"x.png\"/></a>" +
        "<a name=\"anchor\">no href</a></body></html>"))
    graft.operators.Frontier.anchorTexts(
        docs.select(url.as("url"), html.as("html")), "url", "html")
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "outlink", "anchor")
      .orderBy("doc_id", "outlink")
  }

  /** Unicode NFC canonicalization, cross-validated between the JDK
    * (UAX #15 via java.text.Normalizer) and DuckDB's ICU
    * `nfc_normalize`: the fixture decomposes every `e` into
    * `e` + U+0301 and every `o` into `o` + U+0308, both engines
    * recompose independently, and the equality-with-original boolean
    * rides along so the gate also proves the decomposition CHANGED the
    * bytes (a no-op normalize could not go green by accident).
    * See [[graft.functions.NfcNormalizeExpr]]. */
  gate("t62_nfc_normalize",
      // both engines recompose the SAME decomposed construction; the
      // unchanged boolean proves the decomposition altered the bytes
      """WITH d AS (
           SELECT doc_id,
             replace(replace(text, 'e', 'e' || chr(769)),
               'o', 'o' || chr(776)) AS dec
           FROM documents)
         SELECT doc_id, nfc_normalize(dec) AS text_nfc,
           nfc_normalize(dec) = dec AS unchanged
         FROM d ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // replacement strings are DECOMPOSED sequences: 'e'+U+0301 and
    // 'o'+U+0308 (combining marks) — a precomposed literal would test
    // nothing
    val decomposed = regexp_replace(
      regexp_replace(col("text"), "e", "é"), "o", "ö")
    docs.select(col("doc_id"),
        graft.functions.NfcNormalizeExpr(decomposed).as("text_nfc"),
        (graft.functions.NfcNormalizeExpr(decomposed) === decomposed)
          .as("unchanged"))
      .orderBy("doc_id")
  }

  /** robots.txt sitemap discovery (RFC 9309 §2.3): `Sitemap:` lines
    * bind host-wide, independent of agent groups — planted robots
    * bodies carry them between groups, mixed-case, with a comment line
    * that must not match. One row per discovered sitemap URL.
    * See [[graft.functions.TextFunctions.robotsSitemaps]]. */
  gate("t54c_robots_sitemaps",
      // the two planted Sitemap lines (mixed case, tab-separated, trailing
      // comment) and never the commented-out one
      """SELECT doc_id, u AS sitemap_url FROM (
           SELECT doc_id,
             'http://s' || (doc_id % 9) || '.com/map' || doc_id || '.xml' AS u
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://s' || (doc_id % 9) || '.com/map' || doc_id || 'b.xml'
           FROM documents)
         ORDER BY doc_id, sitemap_url""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val txt = concat(
      lit("User-agent: *\nDisallow: /private\n"),
      lit("SITEMAP: http://s"), (col("doc_id") % 9).cast("string"),
      lit(".com/map"), col("doc_id").cast("string"), lit(".xml\n"),
      lit("# sitemap: http://comment.invalid/nope\n"),
      lit("sitemap:\thttp://s"), (col("doc_id") % 9).cast("string"),
      lit(".com/map"), col("doc_id").cast("string"), lit("b.xml # trail\n"))
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.robotsSitemaps(txt))
          .as("sitemap_url"))
      .orderBy("doc_id", "sitemap_url")
  }

  /** TWO-LEVEL sitemap discovery (sitemapindex → sitemaps → URLs — the
    * layout every site over 50k URLs must publish): per site, a
    * sitemapindex names two child sitemaps, each child carries half the
    * site's documents (by parity), and both extraction levels run the
    * SAME `<loc>` kernel — `<sitemap><loc>` and `<url><loc>` are one
    * grammar by the protocol's design. The oracle reconstructs the
    * final (doc, child) pairing in closed form, so the level-1 fan-out
    * and the level-2 extraction are one hash.
    * See [[graft.functions.TextFunctions.sitemapUrls]]. */
  gate("t56b_sitemap_index",
      // both discovery levels reconstructed in closed form: the padded/
      // unpadded <loc> trim, the child fan-out, and the parity split
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p/' || doc_id AS url,
           'http://s' || (doc_id % 5) || '.com/maps/child'
             || (doc_id % 2) || '.xml' AS child_url
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("site", (col("doc_id") % 5).cast("long"))
    // level 1: one sitemapindex per site naming child maps 0 and 1
    val indexXml = docs.select(col("site")).distinct()
      .select(col("site"), concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc> http://s"), col("site"),
        lit(".com/maps/child0.xml </loc><lastmod>2026-01-01</lastmod></sitemap>"),
        lit("<sitemap><loc>http://s"), col("site"),
        lit(".com/maps/child1.xml</loc></sitemap>"),
        lit("</sitemapindex>")).as("xml"))
    val children = indexXml
      .select(col("site"), explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("child_url"))
      .withColumn("child",
        regexp_extract(col("child_url"), "child([01])\\.xml$", 1).cast("long"))
    // level 2: each child sitemap lists its parity half of the site's docs
    val childXml = docs
      .withColumn("child", col("doc_id") % 2)
      .groupBy("site", "child")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("site"), col("child"), concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc>http://s"), col("site"),
          lit(".com/p/"), i.cast("string"), lit("</loc></url>"))), ""),
        lit("</urlset>")).as("xml"))
    children.join(childXml, Seq("site", "child"))
      .select(col("child_url"), explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("url"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "child_url")
      .orderBy("doc_id")
  }

  /** The CURATION stage composed end-to-end (the t53 convention, one
    * stage later in the pipeline): planted exact duplicates ride along,
    * then language-ID gates to `en`, Gopher-style quality thresholds
    * gate on words/stopword ratio, and exact dedup folds the surviving
    * copies back onto their originals — language selection, both
    * quality formulas, the md5 dedup AND the filter→dedup ordering are
    * all one hash, replayed stage by stage in SQL. Every 17th doc's
    * copy that SURVIVES filtering must fold to `n_copies = 2` on the
    * original id. */
  gate("t64_curation_pipeline",
      // every curation stage replayed: t1's langid CASE, t2's quality
      // formulas, the min-id/count dedup over surviving text, and the
      // filter-before-dedup ordering
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9900000, text FROM documents WHERE doc_id % 17 = 0),
         w AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM corpus),
         s AS (SELECT doc_id, text, ws,
           len(list_filter(lws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(lws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(lws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(lws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(lws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w),
         lang AS (SELECT doc_id, text, ws,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
           FROM s),
         q AS (SELECT doc_id, text,
           CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
           FROM lang WHERE lang_pred = 'en'),
         f AS (SELECT * FROM q
           WHERE n_words >= 20 AND stopword_ratio > 0.03),
         d AS (SELECT min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_copies
           FROM f GROUP BY text)
         SELECT d.doc_id, d.n_copies, f.n_words, f.stopword_ratio
         FROM d JOIN f ON d.doc_id = f.doc_id
         ORDER BY d.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 9900000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(copies)
    val metrics = TextFunctions.qualityMetrics(col("text"),
      TextFunctions.englishStopwords).toMap
    val staged = corpus.select(col("doc_id"), col("text"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      metrics("n_words").as("n_words"),
      metrics("stopword_ratio").as("stopword_ratio"))
    // `filtered` feeds the exact-dedup AND the stats join-back —
    // uncached, the langid + quality-metrics kernels re-ran per
    // consumer (r20 optimization round, guide §5.2)
    val filtered = staged.filter(col("lang_pred") === "en" &&
        col("n_words") >= 20 && col("stopword_ratio") > 0.03)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.CacheRelease.afterFirstAction(
      Dedup.exact(filtered, "doc_id", "text").select("doc_id", "n_copies")
        .join(filtered.select("doc_id", "n_words", "stopword_ratio"),
          "doc_id")
        .select("doc_id", "n_copies", "n_words", "stopword_ratio")
        .orderBy("doc_id"),
      Seq(filtered))
  }

  /** Crawl-delay politeness composed end-to-end: each host's robots
    * declares a delay (exact-agent group shadowing a `*` decoy on most
    * hosts; host 4 exposes a FRACTIONAL `*`-group delay; host 7
    * declares none and must fall to the fleet default), the per-host
    * delay joins onto the URL table, and the frontier schedule turns
    * it into fetch slots — `eta_ms = (fetch_seq − 1) · delay_ms(host)`.
    * The oracle replays delay selection as per-host CASE arithmetic
    * and the schedule as a window, so group selection, the max-delay
    * rule, fractional seconds and the default path are one hash.
    * See [[graft.functions.RobotsCrawlDelayExpr]],
    * [[graft.operators.Frontier.scheduleWithDelays]]. */
  gate("t54d_robots_crawldelay",
      // delay selection replayed as per-host CASE arithmetic (exact
      // group shadows the 99-second decoy; host 4 fractional; host 7
      // defaults), the schedule as the same politeness window
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             doc_id % 7 AS priority,
             CASE WHEN doc_id % 9 = 4 THEN 7500
                  WHEN doc_id % 9 = 7 THEN 1000
                  ELSE (doc_id % 9 + 1) * 1000 END AS delay_ms
           FROM documents),
         r AS (
           SELECT doc_id, url, delay_ms,
             CAST(row_number() OVER (PARTITION BY h
               ORDER BY priority DESC, url) AS INT) AS fetch_seq
           FROM u)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * delay_ms AS BIGINT) AS eta_ms
         FROM r ORDER BY doc_id""") { (s, dir) =>
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("host", concat(
        lit("site"), (col("doc_id") % 9).cast("string"), lit(".com")))
      .withColumn("url", concat(lit("http://"), col("host"),
        lit("/Doc/"), col("doc_id").cast("string")))
      .withColumn("priority", (col("doc_id") % 7).cast("int"))
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      when(col("id") === 4,
        lit("User-agent: *\nCrawl-delay: 7.5\nDisallow: /never"))
      .when(col("id") === 7,
        lit("User-agent: graftbot\nDisallow: /never"))
      .otherwise(concat(
        lit("User-agent: graftbot\nCrawl-delay: "),
        (col("id") + 1).cast("string"),
        lit("\nDisallow: /never\n\nUser-agent: *\nCrawl-delay: 99")))
        .as("robots_txt"))
    val delays = hosts.select(col("host"),
        graft.functions.RobotsCrawlDelayExpr(col("robots_txt"),
          lit("graftbot")).as("delay_s"))
      .withColumn("delay_ms", when(col("delay_s") < 0, lit(1000L))
        .otherwise((col("delay_s") * 1000).cast("long")))
    graft.operators.Frontier.scheduleWithDelays(
        urls.join(delays, "host"), "url", "priority", "delay_ms")
      .select("doc_id", "url", "fetch_seq", "eta_ms")
      .orderBy("doc_id")
  }

  /** Unigram-LM (SentencePiece-style) subword tokenization: the model
    * trains on a bounded, id-ordered sample (deterministic), ships as
    * a codegen reference object, and every document Viterbi-segments
    * per whitespace word. No SQL twin exists for Viterbi-EM, so the
    * gate pins the two claims an oracle CAN check exactly: losslessness
    * (pieces concatenate back to the text with spaces removed — one
    * dropped or doubled byte anywhere diverges) and the by-construction
    * booleans — the corpus's most frequent word must segment as ONE
    * piece (it dominates training by an order of magnitude, so pruning
    * cannot lose it), and every document must use at least one
    * multi-char piece (`compresses`). Viterbi optimality itself is
    * property-tested against brute-force enumeration in UnigramSpec.
    * See [[graft.functions.Unigram]]. */
  gate("t63_unigram_tokens",
      // losslessness is exactly replayable (concat of pieces == text
      // minus spaces); the trained-model claims ride as by-construction
      // booleans (see the gate scaladoc); Viterbi itself is spec-pinned
      """SELECT doc_id, replace(text, ' ', '') AS text_rt,
           TRUE AS compresses, TRUE AS top_word_whole
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = graft.functions.Unigram.trainFromCorpus(
      docs.orderBy("doc_id"), "text", vocabSize = 400, sampleDocs = 256)
    val topWord = docs.orderBy("doc_id").limit(256)
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("w"))
      .groupBy("w").count().orderBy(desc("count"), col("w"))
      .limit(1).head().getString(0)
    val pieces = graft.functions.UnigramEncodeExpr(col("text"), model)
    docs.select(col("doc_id"),
        concat_ws("", pieces).as("text_rt"),
        (size(pieces) < length(regexp_replace(col("text"), " ", "")))
          .as("compresses"),
        (size(graft.functions.UnigramEncodeExpr(lit(topWord), model)) === 1)
          .as("top_word_whole"))
      .orderBy("doc_id")
  }

  /** t63's corpus-exact twin (the r17 verdict's #5 ask): the unigram
    * model trains from the EXACT distributed word histogram
    * ([[graft.functions.Unigram.trainFromCorpusExact]]) and the
    * most-frequent word is the full corpus's, not the sample's — same
    * oracle-checkable claims (lossless round trip, top word stays one
    * piece, every doc compresses), now pinned against the whole-corpus
    * trainer. */
  gate("t63b_unigram_exact",
      // the exact-trainer twin makes the same closed-form claims — over
      // the whole-corpus histogram and the corpus-global top word
      """SELECT doc_id, replace(text, ' ', '') AS text_rt,
           TRUE AS compresses, TRUE AS top_word_whole
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = graft.functions.Unigram.trainFromCorpusExact(
      docs, "text", vocabSize = 400, maxVocab = 4096)
    val topWord = graft.functions.Bpe.wordHistogram(docs, "text", 1)
      .head().getString(0)
    val pieces = graft.functions.UnigramEncodeExpr(col("text"), model)
    docs.select(col("doc_id"),
        concat_ws("", pieces).as("text_rt"),
        (size(pieces) < length(regexp_replace(col("text"), " ", "")))
          .as("compresses"),
        (size(graft.functions.UnigramEncodeExpr(lit(topWord), model)) === 1)
          .as("top_word_whole"))
      .orderBy("doc_id")
  }

  /** TABLE-driven dictionary tagging: the lexicon is a DataFrame built
    * from the corpus's own vocabulary (the first word of every 50th
    * document — data the oracle can re-derive independently), collapsed
    * to a bounded driver-side automaton by
    * [[graft.operators.DictionaryTag]]. The oracle rebuilds the same
    * lexicon in SQL and replays per-document containment with
    * lexicographic tag order, so the collect-distinct-sort contract AND
    * the automaton agree across engines. Output joined to a scalar (the
    * gate convention). */
  gate("t57b_dictionary_tag_table",
      // the lexicon re-derived in SQL (first word of every 50th doc,
      // distinct) and replayed as per-document containment with
      // lexicographic tag order — pins DictionaryTag's collect-distinct-
      // sort contract plus the automaton in one hash
      """WITH dict AS (
           SELECT DISTINCT split_part(text, ' ', 1) AS t
           FROM documents
           WHERE doc_id % 50 = 0 AND split_part(text, ' ', 1) <> '')
         SELECT d.doc_id,
           coalesce((SELECT string_agg(k.t, '|' ORDER BY k.t)
                     FROM dict k WHERE contains(d.text, k.t)), '') AS tags
         FROM documents d ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val terms = docs.filter(col("doc_id") % 50 === 0)
      .select(element_at(
        graft.functions.TextFunctions.words(col("text")), 1).as("term"))
    graft.operators.DictionaryTag.tag(docs, "text", terms, "term")
      .select(col("doc_id"), array_join(col("tags"), "|").as("tags"))
      .orderBy("doc_id")
  }

  /** Compressibility quality signal: every document derives two planted
    * variants with ENUMERABLE verdicts — a 300× repetition of its first
    * word (deflate ratio ≪ 0.1 for any word: pure LZ77 runs) and a
    * 640-hex-char chain of its md5s (ratio ≈ 0.5: 4-bit symbols resist
    * deflate) — and the in-query threshold `deflate·10 < len·3`
    * (ratio < 0.3) must sort them perfectly. Deflate itself has no
    * DuckDB twin, so the planted construction IS the oracle (the
    * sketch-gate convention); organic-text behavior and determinism are
    * pinned in CompressSpec. See [[graft.functions.DeflateSizeExpr]]. */
  gate("t58_compressibility",
      // planted-truth by construction: the repetition variant must read
      // repetitive, the hex-entropy variant must not (see t58's scaladoc)
      """SELECT doc_id, v AS variant, v = 'rep' AS repetitive
         FROM documents, (VALUES ('rep'), ('hex')) t(v)
         ORDER BY doc_id, variant""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("__w", coalesce(
        element_at(graft.functions.TextFunctions.words(col("text")), 1),
        lit("w")))
    val rep = docs.select(col("doc_id"), lit("rep").as("variant"),
      array_join(array_repeat(concat(col("__w"), lit(" x")), 300), " ")
        .as("t"))
    val hex = docs.select(col("doc_id"), lit("hex").as("variant"),
      concat((1 to 20).map(i =>
        md5(concat(col("text"), lit(i.toString)).cast("binary"))): _*).as("t"))
    rep.unionByName(hex)
      .select(col("doc_id"), col("variant"),
        (graft.functions.DeflateSizeExpr(col("t")) * 10 <
          length(col("t")) * 3).as("repetitive"))
      .orderBy("doc_id", "variant")
  }

  /** Margin-based bitext mining over a planted parallel corpus: the
    * "source language" is every 10th embedding, the "target language" is
    * ALL embeddings direction-preserved (×2 float scale, an exponent
    * shift) at shifted ids — each source's true translation is its own
    * copy at cosine exactly 1.0, and the ratio margin must rank it first
    * against the neighborhood averages. Candidates are exhaustive at
    * this scale (the exactness choice for the gate; the 100 TB path
    * feeds ANN-join candidates — see the operator scaladoc). The oracle
    * replays cosines, both neighborhood windows, the rounded margin,
    * threshold and best-per-source in SQL.
    * See [[graft.operators.Retrieval.mineBitext]]. */
  gate("t49_bitext",
      // cosines, both neighborhood windows, rounded ratio margin,
      // threshold and best-per-source replayed in SQL
      """WITH s AS (SELECT vec_id AS src_id,
             CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 10 = 0),
         tg AS (SELECT vec_id + 1000000 AS tgt_id,
             CAST(list_transform(embedding,
               x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
           FROM embeddings),
         c AS (SELECT src_id, tgt_id,
             list_dot_product(s.v, tg.v) /
               (sqrt(list_dot_product(s.v, s.v)) *
                sqrt(list_dot_product(tg.v, tg.v))) AS cos
           FROM s CROSS JOIN tg),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY src_id
               ORDER BY cos DESC, tgt_id) AS rf,
             row_number() OVER (PARTITION BY tgt_id
               ORDER BY cos DESC, src_id) AS rb FROM c),
         a AS (SELECT *,
             avg(CASE WHEN rf <= 4 THEN cos END)
               OVER (PARTITION BY src_id) AS avg_s,
             avg(CASE WHEN rb <= 4 THEN cos END)
               OVER (PARTITION BY tgt_id) AS avg_t FROM r),
         m AS (SELECT src_id, tgt_id, cos,
             round(cos / ((avg_s + avg_t) / 2), 6) AS margin FROM a),
         f AS (SELECT * FROM m WHERE margin >= 1.0),
         b AS (SELECT *, row_number() OVER (PARTITION BY src_id
             ORDER BY margin DESC, tgt_id) AS bf FROM f)
         SELECT src_id, tgt_id, round(cos, 6) AS cosine, margin
         FROM b WHERE bf = 1 ORDER BY src_id""") { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val src = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    val tgt = e.select((col("vec_id") + 1000000L).as("tgt_id"),
      transform(col("embedding"), x => (x * 2).cast("float")).as("tgt_emb"))
    val candidates = src.select("src_id").crossJoin(tgt.select("tgt_id"))
    graft.operators.Retrieval.mineBitext(src, "src_id", "src_emb",
        tgt, "tgt_id", "tgt_emb", candidates, k = 4, marginThreshold = 1.0)
      .orderBy("src_id")
  }

  gate("t1_langid",
      """WITH w AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_filter(ws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(ws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(ws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(ws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(ws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w)
         SELECT doc_id,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           lang
         FROM s ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"),
        col("lang"))
      .orderBy("doc_id")
  }

  gate("t1b_langid_ngram", t1bOracleSql) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.langIdNgram(col("text")).as("lang_pred"),
        col("lang"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for t1b, generated from the SAME trained profiles the
    * Spark expression uses (list-comprehension 1..3-grams + list_intersect
    * scoring + the identical lexicographic-tie/und CASE). */
  private def t1bOracleSql: String = {
    val profiles = TextFunctions.defaultNgramProfiles
    val langs = profiles.keys.toSeq.sorted
    def listLit(gs: Seq[String]): String =
      gs.map(g => "'" + g.replace("'", "''") + "'").mkString("[", ", ", "]")
    val grams = (1 to 3).map(n =>
      s"[substr(pd, i, $n) for i in range(1, greatest(length(pd)-${n - 1}, 1)+1)]")
      .mkString(" || ")
    val scoreCols = langs.map(l =>
      s"len(list_intersect(gs, ${listLit(profiles(l))})) AS s_$l").mkString(",\n           ")
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $g THEN '$l'").mkString(" ")
    s"""WITH p AS (SELECT doc_id, lang,
           ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS pd
           FROM documents),
         gr AS (SELECT doc_id, lang, list_distinct($grams) AS gs FROM p),
         s AS (SELECT doc_id, lang, $scoreCols FROM gr)
         SELECT doc_id,
           CASE WHEN $g = 0 THEN 'und' $cases END AS lang_pred, lang
         FROM s ORDER BY doc_id"""
  }

  gate("t2_quality",
      """WITH w AS (SELECT doc_id, length(text) AS n_chars,
           regexp_split_to_array(trim(text), '\s+') AS ws,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
           FROM documents)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(n_chars - (len(ws) - 1) AS DOUBLE) / len(ws) END AS avg_word_len,
           CASE WHEN n_chars = 0 THEN 0.0
                ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
         FROM w ORDER BY doc_id""") { (s, dir) =>
    val metrics = TextFunctions.qualityMetrics(col("text"), TextFunctions.englishStopwords)
    t(s, dir, "documents")
      .select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  gate("t3_tokens",
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws,
         CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x != ''))
           AS BIGINT) AS n_bpe
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCountWhitespace(col("text")).as("n_ws"),
      TextFunctions.tokenCountBpe(col("text")).as("n_bpe"))
    .orderBy("doc_id")
  }

  /** Real BPE token counts: merges trained offline-style from a bounded,
    * deterministically-ordered sample of the corpus itself; counting runs
    * distributed (mapPartitions batch). The trained merge table is
    * persisted as a fixture and the DuckDB oracle REPLAYS merge
    * application independently (sequential by rank, each merge iterated
    * to fixpoint over a space-separated symbol string), then recounts —
    * so the distributed count is hash-gated, not just unit-tested.
    * Sequential replay equals the priority encode exactly when no merge's
    * output string is a component of an earlier pair
    * ([[graft.functions.Bpe.sequentialReplaySafe]]) — required here, so a
    * retrained model that ever violated it would fail loudly rather than
    * hash-mismatch. Training itself stays Spark-side (pinned by BpeSpec's
    * hand-computed merges); the oracle verifies application + counting. */
  gate("t3b_tokens_bpe",
      // Independent BPE replay: the Spark side persists its trained merges
      // (rank, lhs, rhs) as a fixture; this SQL re-applies them from scratch
      // — sequential by rank, each merge iterated to fixpoint over a
      // space-separated symbol string (words never contain whitespace, so
      // ' a b c ' is unambiguous) — and recounts tokens per document.
      // Sequential replay == priority encode is asserted Spark-side
      // (Bpe.sequentialReplaySafe) before the fixture is written.
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, sum(fin.ntok) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_real
         FROM documents d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable — the DuckDB " +
        "oracle's rank-order replay would diverge from the priority encode")
    // fixed path (last writer wins): the oracle SQL is a static string, so
    // it reads the fixture of the Verify run it is compared against —
    // always the most recent, single-writer like the rest of
    // /tmp/graft_fixtures
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite")
      .parquet(BpeMergesFixture)
    graft.functions.Bpe.tokenCount(docs, "text", model, "n_bpe_real")
      .select("doc_id", "n_bpe_real").orderBy("doc_id")
  }

  private val BpeMergesFixture = "/tmp/graft_fixtures/bpe_merges.parquet"
  private val TokenizePackFixture = "/tmp/graft_fixtures/t34_bpe_merges.parquet"

  /** END-TO-END pretraining data path as ONE gate: train BPE on the
    * corpus → count real BPE tokens per document → greedy-pack documents
    * into 256-token training bins. The oracle replays BOTH stages —
    * merge application from this gate's own fixture (the h1 lesson:
    * every gate whose oracle reads a fixture writes it itself), then the
    * packing recursion over the replayed counts — so a drift anywhere in
    * tokenizer OR packer breaks the hash. Distributed shape is the two
    * components' own: bounded driver merge table, codegen'd counting,
    * sharded O(1)-state packing. */
  gate("t34_tokenize_pack",
      // both stages replayed: BPE merge application (this gate's own
      // fixture) feeding the greedy packing recursion
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t34_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, sum(fin.ntok) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id),
         t AS (SELECT d.doc_id, CAST(d.doc_id % 8 AS BIGINT) AS shard,
             CAST(COALESCE(p.c, 0) AS BIGINT) AS tokens,
             CAST(row_number() OVER (PARTITION BY d.doc_id % 8
               ORDER BY d.doc_id) AS BIGINT) AS rn
           FROM documents d LEFT JOIN percount p USING (doc_id)),
         pack AS (
           SELECT shard, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
             tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tokens,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 256
                  THEN t.tokens ELSE p.fill + t.tokens END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT doc_id, shard, bin, tokens FROM pack ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(TokenizePackFixture)
    val counts = graft.functions.Bpe.tokenCount(docs, "text", model, "tokens")
      .select(col("doc_id"), col("tokens"))
    graft.operators.Pack.packGreedy(counts, "doc_id", "tokens",
        budget = 256, numShards = 8)
      .orderBy("doc_id")
  }

  /** The corpus-exact BPE training INPUT, gated end-to-end: the top-N
    * whitespace-word histogram as one distributed aggregate
    * ([[graft.functions.Bpe.wordHistogram]]) with a deterministic cap
    * boundary (freq desc, word asc). The oracle recomputes the whole
    * histogram in SQL — every word of every document counts, so a
    * sampled trainer's input could never match this gate. The rank
    * window runs over the DISTINCT-WORD table (vocab-bounded, never
    * corpus-sized). */
  gate("t3c_bpe_vocab_exact",
      // the corpus-exact trainer's INPUT, recomputed from scratch: every
      // whitespace word of every document, frequency-ranked with the
      // deterministic (freq desc, word asc) cap boundary
      """WITH wd AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
                     FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         h AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
               FROM wd WHERE word <> '' GROUP BY word),
         r AS (SELECT word, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
                   AS vocab_rank
               FROM h)
         SELECT word, freq, vocab_rank FROM r
         WHERE vocab_rank <= 512 ORDER BY vocab_rank""") { (s, dir) =>
    graft.functions.Bpe.wordHistogram(t(s, dir, "documents"), "text",
        maxVocab = 512)
      .select(col("word"), col("freq"), col("vocab_rank"))
      .orderBy("vocab_rank")
  }

  private val BpeExactFixture = "/tmp/graft_fixtures/t40b_bpe_merges.parquet"

  /** Corpus-exact BPE training feeding token counting (the r17 verdict's
    * #1 ask): the merges learn from [[t3c_bpe_vocab_exact]]'s exact
    * distributed histogram — NOT a document sample — then count real BPE
    * tokens per document. The merge loop is deterministic given the
    * histogram, and the histogram itself is oracle-verified by t3c, so
    * the two gates together pin training input exactness AND merge
    * application: this gate's oracle replays the learned merges from the
    * fixture over every corpus word (the t3b machinery) and recounts. */
  gate("t40b_bpe_exact_counts",
      // t3b's merge-application replay over the corpus-exact trainer's
      // fixture (training-input exactness is t3c's oracle; this one pins
      // that the exactly-trained merges apply and count identically)
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40b_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_exact
         FROM documents d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable — the DuckDB " +
        "oracle's rank-order replay would diverge from the priority encode")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(BpeExactFixture)
    graft.functions.Bpe.tokenCount(docs, "text", model, "n_bpe_exact")
      .select("doc_id", "n_bpe_exact").orderBy("doc_id")
  }

  /** The byte-level BPE gates' corpus: the documents table plus two
    * planted multi-byte rows (Latin diacritics, CJK, an emoji — a
    * non-BMP code point — and a doubled-space run) proving the no-OOV
    * contract on text a word-level tokenizer can only lump whole. */
  private def byteBpeDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100000L, "Grüße 知识 🚀🚀 naïve,  doubled  spaces!"),
        (100001L, "¡Olé! Ωmega ß42"))
        .toDF("doc_id", "text"))
  }

  /** Corpus-exact byte-level pre-token histogram
    * ([[graft.functions.ByteBpe.pretokenHistogram]]) — the byte-BPE
    * trainer's INPUT, recomputed by the oracle from scratch with the
    * same RE2-safe pre-tokenizer (leading-space word runs, number runs,
    * punctuation runs, explicit whitespace class). The planted
    * multi-byte rows put diacritics/CJK/emoji pre-tokens in the
    * histogram itself. */
  gate("t3d_bytebpe_vocab",
      // the byte-level trainer's INPUT recomputed from scratch: the
      // RE2-safe pre-tokenizer (identical segmentation under Java regex
      // and RE2 — first-char-disjoint alternatives, explicit whitespace
      // class), frequency-ranked with the deterministic cap boundary
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         pt AS (SELECT unnest(regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)'))
             AS pretoken
           FROM docs WHERE text IS NOT NULL),
         h AS (SELECT pretoken, CAST(count(*) AS BIGINT) AS freq
               FROM pt GROUP BY pretoken),
         r AS (SELECT pretoken, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, pretoken)
                   AS BIGINT) AS vocab_rank
               FROM h)
         SELECT pretoken, freq, vocab_rank FROM r
         WHERE vocab_rank <= 512 ORDER BY vocab_rank""") { (s, dir) =>
    graft.functions.ByteBpe.pretokenHistogram(
        byteBpeDocs(s, dir), "text", maxVocab = 512)
      .orderBy("vocab_rank")
  }

  private val ByteBpeMergesFixture =
    "/tmp/graft_fixtures/t40c_bytebpe_merges.parquet"
  private val ByteBpeAlphabetFixture =
    "/tmp/graft_fixtures/t40c_bytebpe_alphabet.parquet"

  /** Byte-level BPE counts over the corpus-exact trainer
    * ([[graft.functions.ByteBpe.trainFromCorpusExact]]): the oracle
    * rebuilds every pre-token's symbol string from this gate's OWN
    * alphabet fixture (hex(encode(w)) joined two chars at a time — no
    * lookahead, no blob surgery), replays the merges fixture in rank
    * order to fixpoint (sequentialReplaySafe required, t3b's lesson),
    * and recounts — so a drift in pre-tokenization, byte mapping, merge
    * application or counting all break the hash. Whitespace runs COUNT
    * (byte-level BPE represents formatting); the planted emoji row
    * proves no-OOV end to end. */
  gate("t40c_bytebpe_counts",
      // full byte-level replay from this gate's own fixtures: pre-token →
      // hex(encode(..)) → per-byte symbol join against the alphabet →
      // rank-order merge fixpoint → per-document count (whitespace runs
      // count; the emoji row proves no-OOV)
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40c_bytebpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         bmap AS (SELECT byte_hex, sym
                  FROM read_parquet('/tmp/graft_fixtures/t40c_bytebpe_alphabet.parquet/*.parquet')),
         docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         pt AS (SELECT doc_id, unnest(regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)'))
             AS w
           FROM docs WHERE text IS NOT NULL),
         vocab AS (SELECT DISTINCT w FROM pt),
         vb AS (SELECT w, hex(encode(w)) AS hx FROM vocab),
         bi AS (SELECT w, hx, unnest(range(1, length(hx) // 2 + 1)) AS i
                FROM vb),
         sym AS (SELECT bi.w,
                   ' ' || string_agg(bmap.sym, ' ' ORDER BY bi.i) || ' ' AS s
                 FROM bi JOIN bmap
                   ON substr(bi.hx, CAST(bi.i * 2 - 1 AS BIGINT), 2)
                      = bmap.byte_hex
                 GROUP BY bi.w),
         steps AS (
           SELECT w, s, 0 AS i FROM sym
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT)
                     AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT pt.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS c
                      FROM pt JOIN fin USING (w) GROUP BY pt.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_byte
         FROM docs d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""") { (s, dir) =>
    val docs = byteBpeDocs(s, dir)
    val model = graft.functions.ByteBpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.model.merges),
      "trained byte-BPE merges are not sequentially replayable — the " +
        "DuckDB oracle's rank-order replay would diverge")
    import s.implicits._
    model.model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeMergesFixture)
    graft.functions.ByteBpe.alphabetTable(s)
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeAlphabetFixture)
    graft.functions.ByteBpe.tokenCount(docs, "text", model, "n_bpe_byte")
      .select("doc_id", "n_bpe_byte").orderBy("doc_id")
  }

  private val ByteBpeEncMergesFixture =
    "/tmp/graft_fixtures/t40d_bytebpe_merges.parquet"
  private val ByteBpeEncAlphabetFixture =
    "/tmp/graft_fixtures/t40d_bytebpe_alphabet.parquet"

  /** Full byte-level BPE ENCODE to id sequences — t40's gate transposed
    * to the byte path (t40c gates the counts, this gates every
    * position): corpus-exact training, per-document ordered symbol
    * sequences, ids by sorted-vocabulary rank. The oracle rebuilds each
    * pre-token's symbol string from this gate's OWN alphabet fixture,
    * replays the merge fixpoint, flattens with pre-token ordinality and
    * ranks the vocabulary — every position of every document must
    * match. The planted multi-byte rows mean some ids ARE multi-byte
    * merges. */
  gate("t40d_bytebpe_encode",
      // t40's position-exact replay on the byte path: alphabet join →
      // merge fixpoint → per-pretoken token lists → flatten with
      // pre-token ordinality → sorted-vocabulary ids
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40d_bytebpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         bmap AS (SELECT byte_hex, sym
                  FROM read_parquet('/tmp/graft_fixtures/t40d_bytebpe_alphabet.parquet/*.parquet')),
         docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         psplit AS (SELECT doc_id, regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)')
             AS ps
           FROM docs WHERE text IS NOT NULL),
         pt AS (SELECT doc_id, unnest(ps) AS w,
             generate_subscripts(ps, 1) AS widx FROM psplit),
         vocabw AS (SELECT DISTINCT w FROM pt),
         vb AS (SELECT w, hex(encode(w)) AS hx FROM vocabw),
         bi AS (SELECT w, hx, unnest(range(1, length(hx) // 2 + 1)) AS i
                FROM vb),
         sym AS (SELECT bi.w,
                   ' ' || string_agg(bmap.sym, ' ' ORDER BY bi.i) || ' ' AS s
                 FROM bi JOIN bmap
                   ON substr(bi.hx, CAST(bi.i * 2 - 1 AS BIGINT), 2)
                      = bmap.byte_hex
                 GROUP BY bi.w),
         steps AS (
           SELECT w, s, 0 AS i FROM sym
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         wtoks AS (SELECT w,
             list_filter(string_split(s, ' '), x -> x <> '') AS toks
           FROM steps, nm WHERE i = nm.n),
         flat AS (SELECT pt.doc_id, pt.widx,
             generate_subscripts(wt.toks, 1) AS tp, unnest(wt.toks) AS tok
           FROM pt JOIN wtoks wt USING (w)),
         posd AS (SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY widx, tp) - 1
               AS pos, tok
           FROM flat),
         vocab AS (SELECT tok,
             row_number() OVER (ORDER BY tok) - 1 AS token_id
           FROM (SELECT DISTINCT tok FROM posd))
         SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(v.token_id AS BIGINT) AS token_id
         FROM posd p JOIN vocab v USING (tok)
         ORDER BY p.doc_id, p.pos""") { (s, dir) =>
    val docs = byteBpeDocs(s, dir)
    val model = graft.functions.ByteBpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.model.merges),
      "trained byte-BPE merges are not sequentially replayable")
    import s.implicits._
    model.model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeEncMergesFixture)
    graft.functions.ByteBpe.alphabetTable(s)
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeEncAlphabetFixture)
    val toks = graft.functions.ByteBpe.encodeTokens(docs, "text", model)
      .select(col("doc_id"),
        posexplode(col("bpe_tokens")).as(Seq("pos", "tok")))
    val vocab = toks.select("tok").distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("tok")) - 1).cast("long"))
    toks.join(vocab, "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  private val BpeEncodeFixture = "/tmp/graft_fixtures/t40_bpe_merges.parquet"

  /** Full BPE ENCODE to id sequences — the trainer-facing tokenizer
    * output (t3b gates the counts, this gates every position): train,
    * encode each document to its ordered token sequence, assign ids by
    * sorted-vocabulary rank (binary string order — identical in both
    * engines), emit (doc_id, pos, token_id). The oracle replays merge
    * application from this gate's own fixture to the same segmentation
    * (sequentialReplaySafe required), then the flatten, the positions
    * and the vocabulary ranking. The vocab id window is a
    * vocabulary-sized single-partition sort — bounded by distinct
    * tokens, never the corpus. */
  gate("t40_bpe_encode",
      // segmentation replay (t34's steps machinery) extended to POSITIONS:
      // per-word token lists flattened in word order, ids by sorted vocab
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wsplit AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         wd AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) AS widx FROM wsplit),
         vocabw AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocabw
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         wtoks AS (SELECT w,
             list_filter(string_split(s, ' '), x -> x <> '') AS toks
           FROM steps, nm WHERE i = nm.n),
         flat AS (SELECT wd.doc_id, wd.widx,
             generate_subscripts(wt.toks, 1) AS tp, unnest(wt.toks) AS tok
           FROM wd JOIN wtoks wt USING (w)),
         posd AS (SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY widx, tp) - 1
               AS pos, tok
           FROM flat),
         vocab AS (SELECT tok,
             row_number() OVER (ORDER BY tok) - 1 AS token_id
           FROM (SELECT DISTINCT tok FROM posd))
         SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(v.token_id AS BIGINT) AS token_id
         FROM posd p JOIN vocab v USING (tok)
         ORDER BY p.doc_id, p.pos""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(BpeEncodeFixture)
    val toks = graft.functions.Bpe.encodeTokens(docs, "text", model)
      .select(col("doc_id"), posexplode(col("bpe_tokens")).as(Seq("pos", "tok")))
    val vocab = toks.select("tok").distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("tok")) - 1).cast("long"))
    toks.join(vocab, "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** Data-constrained epoch allocation
    * ([[graft.operators.Mixing.epochWaterfill]]): six sources derived
    * from the documents table (tokens = per-source n_chars sums, caps
    * 1–4 epochs), budget 250 000 — the water level lands at 2.042
    * epochs, so the cap-1 AND cap-2 sources saturate while the cap-3/4
    * sources ride the level. The oracle replays the level walk, the
    * milli-epoch bracket arithmetic and every allocation in SQL. */
  gate("t109_epoch_waterfill",
      // keyed cumsum (CAST - the r16 lesson), priority-desc draw order,
      // budget CASE over the source vocabulary, prefix cut
      // the full water-filling replay: cap-grain level walk, bracket
      // selection, milli-epoch integer λ, per-source min(cap, λ) and the
      // floor-division allocations
      """WITH src AS (SELECT 's' || (doc_id % 6) AS source,
             CAST(sum(n_chars) AS BIGINT) AS tokens,
             CAST((doc_id % 6) % 4 + 1 AS BIGINT) AS cap
           FROM documents GROUP BY doc_id % 6),
         lv AS (SELECT cap, CAST(sum(tokens) AS BIGINT) AS ltok
                FROM src GROUP BY cap),
         wd AS (SELECT cap, ltok,
             CAST(sum(ltok * cap) OVER (ORDER BY cap) AS BIGINT) AS scum,
             CAST(sum(ltok) OVER (ORDER BY cap) AS BIGINT) AS tpre,
             CAST((SELECT sum(tokens) FROM src) AS BIGINT) AS T
           FROM lv),
         br AS (SELECT least(cap * 1000,
               (250000 - (scum - ltok * cap)) * 1000
                 // (T - tpre + ltok)) AS lam
           FROM wd WHERE scum + (T - tpre) * cap >= 250000
           ORDER BY cap LIMIT 1),
         lam AS (SELECT CAST(COALESCE((SELECT lam FROM br),
             (SELECT max(cap) * 1000 FROM src)) AS BIGINT) AS lam)
         SELECT source, tokens, cap AS cap_epochs,
           CAST(least(cap * 1000, lam) AS BIGINT) AS epochs_milli,
           CAST(tokens * least(cap * 1000, lam) // 1000 AS BIGINT)
             AS alloc_tokens,
           cap * 1000 <= lam AS saturated
         FROM src, lam ORDER BY source""") { (s, dir) =>
    val src = t(s, dir, "documents")
      .groupBy((col("doc_id") % 6).as("src_id"))
      .agg(sum(col("n_chars")).as("tokens"))
      .select(concat(lit("s"), col("src_id").cast("string")).as("source"),
        col("tokens"), (col("src_id") % 4 + 1).as("cap"))
    graft.operators.Mixing.epochWaterfill(src, "source", "tokens", "cap",
        budget = 250000L)
      .orderBy("source")
  }

  /** MATERIALIZED epoch draw — t109's closed-form allocation composed
    * into the document stream a trainer actually reads
    * ([[graft.operators.Mixing.epochWaterfill]] →
    * [[graft.operators.Mixing.resample]] with weight
    * epochs_milli/1000 per source, the t75 composition style): each
    * source's drawn row count and token mass must equal the resample
    * rule applied to its milli-epoch level — `copies(doc) =
    * em DIV 1000 + [doc_id mod 1000 < em mod 1000]` — which the oracle
    * replays alongside the waterfill itself. The bounded collect is
    * the K-row source table (the temperatureWeights contract), never
    * corpus rows; a source whose level rounds to zero copies still
    * reports a row (left join, zero counts). */
  gate("t110_epoch_draw",
      // the t109 waterfill CTE, then the resample rule per doc:
      // copies = em DIV 1000 + [doc_id mod 1000 < em mod 1000] — the
      // materialized trainer stream's row and token mass per source
      """WITH src AS (SELECT 's' || (doc_id % 6) AS source,
             CAST(sum(n_chars) AS BIGINT) AS tokens,
             CAST((doc_id % 6) % 4 + 1 AS BIGINT) AS cap
           FROM documents GROUP BY doc_id % 6),
         lv AS (SELECT cap, CAST(sum(tokens) AS BIGINT) AS ltok
                FROM src GROUP BY cap),
         wd AS (SELECT cap, ltok,
             CAST(sum(ltok * cap) OVER (ORDER BY cap) AS BIGINT) AS scum,
             CAST(sum(ltok) OVER (ORDER BY cap) AS BIGINT) AS tpre,
             CAST((SELECT sum(tokens) FROM src) AS BIGINT) AS T
           FROM lv),
         br AS (SELECT least(cap * 1000,
               (250000 - (scum - ltok * cap)) * 1000
                 // (T - tpre + ltok)) AS lam
           FROM wd WHERE scum + (T - tpre) * cap >= 250000
           ORDER BY cap LIMIT 1),
         lam AS (SELECT CAST(COALESCE((SELECT lam FROM br),
             (SELECT max(cap) * 1000 FROM src)) AS BIGINT) AS lam),
         fill AS (SELECT source, tokens, cap AS cap_epochs,
             CAST(least(cap * 1000, lam) AS BIGINT) AS epochs_milli,
             CAST(tokens * least(cap * 1000, lam) // 1000 AS BIGINT)
               AS alloc_tokens,
             cap * 1000 <= lam AS saturated
           FROM src, lam),
         docs AS (SELECT doc_id, n_chars, 's' || (doc_id % 6) AS source
           FROM documents),
         dr AS (SELECT d.source,
             f.epochs_milli // 1000 +
               CASE WHEN d.doc_id % 1000 < f.epochs_milli % 1000
                    THEN 1 ELSE 0 END AS copies,
             d.n_chars
           FROM docs d JOIN fill f USING (source))
         SELECT f.source, f.tokens AS unique_tokens, f.cap_epochs,
           f.epochs_milli, f.alloc_tokens, f.saturated,
           CAST(sum(dr.copies) AS BIGINT) AS n_draw_rows,
           CAST(sum(dr.copies * dr.n_chars) AS BIGINT) AS drawn_tokens
         FROM fill f JOIN dr ON dr.source = f.source
         GROUP BY f.source, f.tokens, f.cap_epochs, f.epochs_milli,
           f.alloc_tokens, f.saturated
         ORDER BY f.source""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        concat(lit("s"), (col("doc_id") % 6).cast("string")).as("source"))
    val src = t(s, dir, "documents")
      .groupBy((col("doc_id") % 6).as("src_id"))
      .agg(sum(col("n_chars")).as("tokens"))
      .select(concat(lit("s"), col("src_id").cast("string")).as("source"),
        col("tokens"), (col("src_id") % 4 + 1).as("cap"))
    // `fill` (source-grain, K rows) is consumed by BOTH the weights
    // collect and the final join — uncached, the second consumer re-ran
    // the corpus aggregate + level walk behind it (r20 optimization
    // round, guide §5.2); the collect materializes the cache
    val fill = graft.operators.Mixing.epochWaterfill(src, "source",
        "tokens", "cap", budget = 250000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weights = fill.select("source", "epochs_milli").collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
    val drawn = graft.operators.Mixing.resample(docs, "doc_id", "source",
        weights)
      .groupBy("source")
      .agg(count(lit(1)).as("__n"), sum(col("n_chars")).as("__t"))
    graft.operators.CacheRelease.afterFirstAction(
      fill.join(drawn, Seq("source"), "left")
        .select(col("source"), col("tokens").as("unique_tokens"),
          col("cap_epochs"), col("epochs_milli"), col("alloc_tokens"),
          col("saturated"),
          coalesce(col("__n"), lit(0L)).as("n_draw_rows"),
          coalesce(col("__t"), lit(0L)).as("drawn_tokens")),
      Seq(fill))
      .orderBy("source")
  }

  /** Trigram stupid-backoff LM gate: trained on the corpus itself, scored
    * distributed; the oracle retrains from scratch in SQL and replays the
    * full backoff chain (α=0.5 keeps every constant exact — see
    * [[graft.functions.LanguageModel.TrigramLm]]). */
  gate("t20_backoff_lm",
      // full LM re-derivation: at gate scale no cap truncates, so the
      // add-k-smoothed bigram model is exactly the corpus counts; scores
      // quantized at 1e-6, perplexity recomputed from the ROUNDED avg so
      // exp() cannot amplify the engines' last-ulp ln() spread across a
      // rounding boundary
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t),
         nn AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
         bi AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT ws[i] || ' ' || ws[i+1] AS b
              FROM w, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2)
           GROUP BY b),
         tri AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
              FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3)
           GROUP BY g),
         pos AS (SELECT doc_id, ws[i+1] AS w2, ws[i+2] AS w3,
             ws[i] || ' ' || ws[i+1] AS k12, ws[i+1] || ' ' || ws[i+2] AS k23,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS k123
           FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
         lp AS (SELECT p.doc_id,
             CASE WHEN tri.c IS NOT NULL AND b12.c IS NOT NULL
                    THEN ln(tri.c / b12.c)
                  WHEN b23.c IS NOT NULL AND u2.c IS NOT NULL
                    THEN ln(0.5 * (b23.c / u2.c))
                  WHEN u3.c IS NOT NULL THEN ln(0.5 * 0.5 * (u3.c / nn.n))
                  ELSE ln(0.5 * 0.5 * (0.5 / nn.n)) END AS l
           FROM pos p LEFT JOIN tri ON tri.g = p.k123
             LEFT JOIN bi b12 ON b12.b = p.k12
             LEFT JOIN bi b23 ON b23.b = p.k23
             LEFT JOIN uni u2 ON u2.t = p.w2
             LEFT JOIN uni u3 ON u3.t = p.w3
             CROSS JOIN nn),
         agg AS (SELECT doc_id, sum(l) / count(*) AS avg0 FROM lp GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           round(avg0, 6) AS avg_ls, round(exp(-round(avg0, 6)), 6) AS bppl
         FROM w LEFT JOIN agg USING (doc_id) ORDER BY w.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val lm = graft.functions.LanguageModel.trainTrigram(docs, "text")
    graft.functions.LanguageModel.backoffScore(docs, "doc_id", "text", lm)
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logscore"), 6).as("avg_ls"),
        round(exp(-round(col("avg_logscore"), 6)), 6).as("bppl"))
      .orderBy("doc_id")
  }

  /** Bigram-LM perplexity over the corpus (trained on itself here; a real
    * pipeline trains on a held-out quality sample). At gate scale the
    * corpus vocabulary sits far under the model caps, so training is
    * untruncated and the whole formula IS SQL-expressible: the oracle
    * re-derives the counts and the add-k smoothing. Scores are quantized
    * at 1e-6 for cross-engine hashing (ln/exp differ in the last ulp
    * between engines; the FP spread is ~1e-13, so a 1e-6 quantum is 7
    * orders of margin) and perplexity is recomputed from the ROUNDED
    * avg_logprob so the exp amplification cannot straddle a boundary. */
  gate("t11_perplexity",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t),
         v AS (SELECT count(*) + 1 AS vv FROM uni),
         docbi AS (SELECT doc_id, ws[i] AS a, ws[i] || ' ' || ws[i+1] AS b
                   FROM w, UNNEST(range(1, len(ws))) AS t(i)
                   WHERE len(ws) >= 2),
         bi AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM docbi GROUP BY b),
         lp AS (SELECT d.doc_id,
                  ln((bi.c + 0.1) / (uni.c + 0.1 * v.vv)) AS l
                FROM docbi d
                JOIN bi ON bi.b = d.b
                JOIN uni ON uni.t = d.a
                CROSS JOIN v),
         agg AS (SELECT doc_id, sum(l) / count(*) AS avg0 FROM lp GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           round(avg0, 6) AS avg_lp,
           round(exp(-round(avg0, 6)), 6) AS ppl
         FROM w LEFT JOIN agg USING (doc_id)
         ORDER BY w.doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val lm = graft.functions.LanguageModel.train(docs, "text")
    graft.functions.LanguageModel.perplexity(docs, "doc_id", "text", lm)
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logprob"), 6).as("avg_lp"),
        round(exp(-round(col("avg_logprob"), 6)), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Posting-list stats for a fixed query-term set — exact integer oracle. */
  gate("t12_termstats",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         tf AS (SELECT doc_id, t.term,
                  CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf,
                  CAST(len(ws) AS BIGINT) AS dl
                FROM w CROSS JOIN
                  (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         p AS (SELECT * FROM tf WHERE tf > 0),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term)
         SELECT doc_id, term, tf, dl, df FROM p JOIN d USING (term)
         ORDER BY doc_id, term""") { (s, dir) =>
    graft.operators.Retrieval.termStats(t(s, dir, "documents"),
        "doc_id", "text", Seq("agg", "scan", "window"))
      .orderBy("doc_id", "term")
  }

  /** BM25 over the same terms, quantized at 1e-6 for cross-engine hashing:
    * the oracle mirrors the exact IEEE operation order (literal-by-literal,
    * so `1.2 + 1` stays a runtime double add in both engines) and the only
    * cross-engine spread is ln()'s last ulp — ~1e-15 on a ≤3-term sum,
    * nine orders under the quantum. */
  gate("t12b_bm25",
      // mirrors Retrieval.bm25's IEEE operation order literal-by-literal:
      // (1.2 + 1) and (1 - 0.75) stay runtime double ops so both engines
      // produce bit-identical constants; only ln() differs (last ulp)
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         tf AS (SELECT doc_id, dl, t.term,
                  CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf
                FROM d CROSS JOIN
                  (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM d),
         dfs AS (SELECT term,
                   CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
                 FROM tf GROUP BY term),
         contrib AS (SELECT tf.doc_id,
             ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl / stats.avgdl)) AS c
           FROM tf JOIN dfs USING (term) CROSS JOIN stats
           WHERE tf.tf > 0)
         SELECT doc_id, round(sum(c), 6) AS score
         FROM contrib GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
    graft.operators.Retrieval.bm25(t(s, dir, "documents"),
        "doc_id", "text", Seq("agg", "scan", "window"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  /** BM25 over a query TABLE (inverted-index join). Scores rounded to 6
    * decimals for the hash gate (t12b's determinism strategy — a per-doc
    * sum's grouping order can move the last ulp). */
  gate("t12c_bm25_join",
      // BM25 join replayed in full: query VALUES, vocabulary-restricted
      // postings, per-term dfs, corpus stats, the t12b scoring arithmetic
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
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""") { (s, dir) =>
    graft.operators.Retrieval.bm25Join(bm25JoinQueries(s),
        t(s, dir, "documents"), "query_id", "terms", "doc_id", "text",
        k = Int.MaxValue)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")
  }

  /** WEIGHTED BM25 join: terms ship as (term, weight) structs and each
    * contribution scales by its weight (Robertson query-tf). Weights are
    * binary-exact literals (.25/.5/1.5/2/3) so DuckDB replays the
    * arithmetic bit-identically before the shared 6-decimal rounding. */
  gate("t12d_bm25_weighted",
      // t12c's replay with per-term query weights multiplied into each
      // contribution (Robertson query-tf): weights are binary-exact
      // literals, so the arithmetic matches bit-for-bit pre-rounding
      """WITH qt(query_id, term, qw) AS (VALUES
           (0, 'agg', 2.0), (0, 'scan', 1.0), (0, 'window', 0.25),
           (1, 'join', 1.5), (1, 'key', 0.5),
           (2, 'the', 0.25), (2, 'vector', 3.0), (2, 'stream', 1.0)),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT term FROM qt),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(qt.qw * ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""") { (s, dir) =>
    import s.implicits._
    val q = Seq(
      (0L, Seq(("agg", 2.0), ("scan", 1.0), ("window", 0.25))),
      (1L, Seq(("join", 1.5), ("key", 0.5))),
      (2L, Seq(("the", 0.25), ("vector", 3.0), ("stream", 1.0)))
    ).toDF("query_id", "terms_raw")
      .select(col("query_id"),
        transform(col("terms_raw"), t => struct(
          t.getField("_1").as("term"),
          t.getField("_2").as("weight"))).as("terms"))
    graft.operators.Retrieval.bm25Join(q, t(s, dir, "documents"),
        "query_id", "terms", "doc_id", "text", k = Int.MaxValue)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")
  }

  /** Hard-negative mining ([[graft.operators.Retrieval.hardNegatives]]):
    * per query, the top-20 BM25 candidates (a FINITE candidateK — the
    * window stays candidate-sized, never corpus-sized) minus planted
    * positive pairs (query q's positives are docs q·100 and q·100+7),
    * re-ranked to the top 5. BOTH cuts use the rounded-rank convention
    * — the oracle replays t12c's full scoring, the candidate top-20 cut
    * by (round(score,6) desc, doc_id), the anti-join, and the same
    * rounded final cut, so candidate membership itself is
    * engine-replayable. */
  gate("t101_hard_negatives",
      // t12c's full scoring + the rounded-rank top-20 CANDIDATE cut +
      // the positive anti-join + the rounded-rank top-5 cut, ties to
      // doc_id — both cuts replay the same (round(score,6), doc_id) key
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         px(query_id, doc_id) AS (VALUES
           (0, 0), (0, 7), (1, 100), (1, 107), (2, 200), (2, 207),
           (3, 300), (3, 307), (4, 400), (4, 407)),
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
         cand AS (SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id) AS INT) AS crank
           FROM sc),
         neg AS (SELECT cand.query_id, cand.doc_id,
             round(cand.score, 6) AS score
           FROM cand WHERE cand.crank <= 20 AND NOT EXISTS
             (SELECT 1 FROM px
              WHERE px.query_id = cand.query_id
                AND px.doc_id = cand.doc_id)),
         r AS (SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS INT) AS neg_rank
           FROM neg)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           neg_rank
         FROM r WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""") { (s, dir) =>
    import s.implicits._
    val positives = (0L to 4L)
      .flatMap(q => Seq((q, q * 100), (q, q * 100 + 7)))
      .toDF("query_id", "doc_id")
    graft.operators.Retrieval.hardNegatives(bm25JoinQueries(s),
        t(s, dir, "documents"), positives, "query_id", "terms",
        "doc_id", "text", k = 5, candidateK = 20)
      .orderBy("query_id", "neg_rank")
  }

  /** Salted BM25 join on the stopword-heavy query set (query 3 carries
    * 'the'/'a' — the hot-term shape): saltFactor = 4 spreads each term's
    * postings over 4 tasks; the oracle is t12c's UNSALTED replay — salt
    * result-identity up to summation order, absorbed by the shared
    * 6-decimal rounding. */
  gate("t12e_bm25_join_salted",
      // the salted join's oracle IS t12c's unsalted replay: the salt's
      // contract is result-identity (same posting matches, same scores up
      // to summation order — absorbed by the 6-decimal rounding)
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
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""") { (s, dir) =>
    graft.operators.Retrieval.bm25Join(bm25JoinQueries(s),
        t(s, dir, "documents"), "query_id", "terms", "doc_id", "text",
        k = Int.MaxValue, saltFactor = 4)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")
  }

  /** Reciprocal-rank fusion of two exact-integer rankings (term frequency
    * and doc length over the 'agg' posting list) — integer ranks and at
    * most two IEEE additions per doc keep the fused double hash-stable
    * cross-engine. */
  gate("t13_rrf",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         p AS (SELECT doc_id,
                 CAST(len(list_filter(ws, x -> x = 'agg')) AS BIGINT) AS tf,
                 CAST(len(ws) AS BIGINT) AS dl
               FROM w WHERE len(list_filter(ws, x -> x = 'agg')) > 0),
         a AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS r
               FROM p),
         b AS (SELECT doc_id, row_number() OVER (ORDER BY dl DESC, doc_id) AS r
               FROM p),
         af AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS rr
                FROM a WHERE r <= 20),
         bf AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS rr
                FROM b WHERE r <= 20)
         SELECT doc_id,
           CASE WHEN af.rr IS NULL THEN bf.rr
                WHEN bf.rr IS NULL THEN af.rr
                ELSE af.rr + bf.rr END AS rrf_score,
           CAST((CASE WHEN af.rr IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN bf.rr IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_lists
         FROM af FULL OUTER JOIN bf USING (doc_id)
         ORDER BY doc_id""") { (s, dir) =>
    val st = graft.operators.Retrieval.termStats(
      t(s, dir, "documents"), "doc_id", "text", Seq("agg"))
    val byTf = st.select(col("doc_id"), col("tf").cast("double").as("s"))
    val byDl = st.select(col("doc_id"), col("dl").cast("double").as("s"))
    graft.operators.Retrieval.rrfFuse(Seq(byTf, byDl), "doc_id", "s",
        k = 60, topN = 20)
      .orderBy("doc_id")
  }

  /** Frequent tokens via the Misra–Gries TypedImperativeAggregate, fed the
    * token ARRAY directly (no explode — each map task folds its rows into
    * one bounded sketch and only sketches cross the shuffle). capacity=64
    * exceeds the corpus's distinct-token count, so the sketch is exact and
    * the SQL top-k oracle pins both the counting and the merge path. */
  gate("t15_heavyhitters",
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item
                    FROM documents
                    WHERE len(trim(text)) > 0),
         c AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY item),
         r AS (SELECT item, n, ROW_NUMBER() OVER (ORDER BY n DESC, item) AS rk
               FROM c)
         SELECT CAST(rk - 1 AS BIGINT) AS rk, item, n FROM r WHERE rk <= 10
         ORDER BY rk""") { (s, dir) =>
    t(s, dir, "documents")
      .agg(graft.functions.HeavyHitters.heavyHitters(
        TextFunctions.words(col("text")), topK = 10, capacity = 64).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rk", "h")))
      .select(col("rk").cast("long").as("rk"),
        col("h.item").as("item"), col("h.count").as("n"))
      .orderBy("rk")
  }

  /** Quantiles of document length via the KLL mergeable sketch
    * ([[graft.functions.KllQuantilesAgg]]). k=8192 exceeds the doc count at
    * gate scale, so no compactor ever fires, the sketch holds every value,
    * and the interpolated result EXACTLY equals quantile_cont — pinning the
    * update, serialize, merge and rank-inversion paths against the oracle
    * (the same exact-regime trick as t15's Misra-Gries gate). */
  gate("t17_quantile_sketch",
      """SELECT CAST(0.1 AS DOUBLE) AS q, round(quantile_cont(n_chars, 0.1), 6) AS v FROM documents
         UNION ALL SELECT CAST(0.25 AS DOUBLE), round(quantile_cont(n_chars, 0.25), 6) FROM documents
         UNION ALL SELECT CAST(0.5 AS DOUBLE), round(quantile_cont(n_chars, 0.5), 6) FROM documents
         UNION ALL SELECT CAST(0.75 AS DOUBLE), round(quantile_cont(n_chars, 0.75), 6) FROM documents
         UNION ALL SELECT CAST(0.9 AS DOUBLE), round(quantile_cont(n_chars, 0.9), 6) FROM documents
         UNION ALL SELECT CAST(0.99 AS DOUBLE), round(quantile_cont(n_chars, 0.99), 6) FROM documents
         ORDER BY q""") { (s, dir) =>
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    t(s, dir, "documents")
      .agg(graft.functions.KllSketch.kllQuantiles(col("n_chars"), 8192, qs).as("qv"))
      .select(posexplode(col("qv")).as(Seq("i", "v")))
      .select(element_at(typedlit(qs), col("i").cast("int") + 1).as("q"),
        round(col("v"), 6).as("v"))
      .orderBy("q")
  }

  /** Grouped companion to t17: one KLL sketch per language (the
    * multi-group ObjectHashAggregate path — per-group buffers created,
    * serialized and merged independently across partials), still in the
    * exact regime since every group is far under k. */
  gate("t17b_quantile_by_group",
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS med
         FROM documents GROUP BY lang ORDER BY lang""") { (s, dir) =>
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(graft.functions.KllSketch.kllQuantile(col("n_chars"), 8192, 0.5).as("med"))
      .select(col("lang"), round(col("med"), 6).as("med"))
      .orderBy("lang")
  }

  /** RAG/context-prep chunking: fixed 200-char windows, 40 shared chars.
    * Map-side generator only — the closed-form boundary arithmetic is the
    * whole contract, and the oracle reproduces it from the parameters. */
  gate("t18_chunk_chars",
      // chunk boundaries replayed from the closed-form window arithmetic:
      // chunk i covers chars [i*160, i*160+200), n = max(1, ceil((len-40)/160))
      """WITH d AS (SELECT doc_id, text,
             greatest(1, CAST(ceil((length(text) - 40.0) / 160) AS BIGINT)) AS n_chunks
           FROM documents),
         e AS (SELECT doc_id, text, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d)
         SELECT doc_id, i AS chunk_ix,
           substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk, n_chunks
         FROM e ORDER BY doc_id, chunk_ix""") { (s, dir) =>
    graft.operators.Chunk.chunkChars(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 40)
      .orderBy("doc_id", "chunk_ix")
  }

  /** Chunk → embed → pool, end to end: t18's char chunks through the
    * deterministic stand-in embedder ([[graft.operators.Embeddings
    * .hashEmbed]] — the model seam, stubbed honestly) into the e3
    * mean-pooling aggregate. The oracle replays chunk boundaries, every
    * md5 component, and the pooled means — the full document-embedding
    * data path hash-checked with zero model dependence. */
  gate("t38_embed_pipeline",
      """WITH d AS (SELECT doc_id, text,
             greatest(1, CAST(ceil((length(text) - 40.0) / 160) AS BIGINT)) AS n_chunks
           FROM documents),
         e AS (SELECT doc_id, text, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d),
         c AS (SELECT doc_id,
             substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk FROM e),
         comp AS (SELECT doc_id, j,
             CAST(concat('0x', substr(md5(concat(chunk, '_emb_',
               CAST(j AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967296.0 * 2.0 - 1.0 AS x
           FROM c, UNNEST(range(0, 8)) AS t(j))
         SELECT doc_id, CAST(j AS INT) AS pos, round(avg(x), 6) AS v
         FROM comp GROUP BY doc_id, j ORDER BY doc_id, pos""") { (s, dir) =>
    val chunks = graft.operators.Chunk.chunkChars(
      t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 40)
    chunks
      .withColumn("vec", graft.operators.Embeddings.hashEmbed(col("chunk"), 8))
      .groupBy("doc_id")
      .agg(graft.functions.VectorAvgAgg.vectorAvg(col("vec")).as("mv"))
      .select(col("doc_id"), posexplode(col("mv")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("pos"), round(col("v"), 6).as("v"))
      .orderBy("doc_id", "pos")
  }

  /** Word-window variant (40 words, 8 shared — the approximate-token
    * windowing); words per the t3 whitespace contract. */
  gate("t18b_chunk_words",
      // word windows under the t3 whitespace contract: 40 words, step 32,
      // chunks re-joined with single spaces
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
             greatest(1, CAST(ceil((len(ws) - 8.0) / 32) AS BIGINT)) AS n_chunks
           FROM w),
         e AS (SELECT doc_id, ws, n_words, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d)
         SELECT doc_id, i AS chunk_ix,
           array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
             CAST(i * 32 + 40 AS INT)), ' ') AS chunk,
           n_words, n_chunks
         FROM e ORDER BY doc_id, chunk_ix""") { (s, dir) =>
    graft.operators.Chunk.chunkWords(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 40, overlap = 8)
      .orderBy("doc_id", "chunk_ix")
  }

  /** Content-defined chunking (window 16, divisor 64 → ~64-char chunks):
    * the polynomial rolling hash is explicit arithmetic, so DuckDB
    * recomputes every window's fold and replays the exact boundaries. */
  gate("t18c_chunk_cdc",
      // CDC boundaries replayed from scratch: per candidate end-position i
      // (1-based, window..n-1 — never the last char) the window's
      // polynomial fold h = (h*257 + codepoint) % 1e9+7 over positions
      // [i-15, i]; boundary where h % 64 = 0; chunks between boundaries
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         pos AS (SELECT doc_id, text, n, unnest(range(16, n)) AS i FROM d),
         h AS (SELECT doc_id, i,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i - 15, i + 1),
                 j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
               (a, b) -> (a * 257 + b) % 1000000007) AS hv
           FROM pos),
         bl AS (SELECT doc_id, list(i ORDER BY i) AS bs
                FROM h WHERE hv % 64 = 0 GROUP BY doc_id),
         wb AS (SELECT d.doc_id, d.text, d.n,
                  COALESCE(bl.bs, CAST([] AS BIGINT[])) AS bs
                FROM d LEFT JOIN bl USING (doc_id)),
         ix AS (SELECT doc_id, text, n, bs, len(bs) + 1 AS n_chunks,
                  unnest(range(0, len(bs) + 1)) AS k FROM wb),
         ch AS (SELECT doc_id, k AS chunk_ix, n_chunks, text,
                  CASE WHEN k = 0 THEN 1 ELSE bs[CAST(k AS INT)] + 1 END AS st,
                  CASE WHEN k = len(bs) THEN n
                       ELSE bs[CAST(k + 1 AS INT)] END AS en
                FROM ix)
         SELECT doc_id, chunk_ix,
           substr(text, CAST(st AS INT), CAST(en - st + 1 AS INT)) AS chunk,
           CAST(n_chunks AS BIGINT) AS n_chunks
         FROM ch ORDER BY doc_id, chunk_ix""") { (s, dir) =>
    graft.operators.Chunk.chunkContentDefined(
        t(s, dir, "documents"), "doc_id", "text", window = 16, divisor = 64)
      .orderBy("doc_id", "chunk_ix")
  }

  /** Deterministic stratified sample: 5 docs per source, selected by salted
    * md5 order — both engines agree on the hash, so the exact same rows
    * come out of DuckDB (and would out of any md5-capable engine). */
  gate("t16_sample",
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('s1' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents) t
         WHERE rk <= 5 ORDER BY source, doc_id""") { (s, dir) =>
    graft.operators.Sampling.sampleByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "source", "doc_id", n = 5, salt = "s1")
      .orderBy("source", "doc_id")
  }

  /** Negative-sampling gate: 4 deterministic negatives per query (first 20
    * docs) from the whole corpus, self-pairs excluded; the oracle replays
    * bucket assignment, draw targeting, the positive anti-join and the
    * rank-1 pick through the identical md5 arithmetic. */
  gate("t21_negatives",
      """WITH c AS (SELECT doc_id AS cid,
             substring(md5('b' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
           FROM documents),
         d AS (SELECT q.doc_id AS qid, t.j,
             substring(md5('q' || CAST(q.doc_id AS VARCHAR) || '_' ||
               CAST(t.j AS VARCHAR)), 1, 2) AS b
           FROM (SELECT doc_id FROM documents WHERE doc_id < 20) q,
             range(4) t(j)),
         cand AS (SELECT d.qid, d.j, c.cid,
             md5(CAST(d.qid AS VARCHAR) || '_' || CAST(d.j AS VARCHAR) ||
               '_' || CAST(c.cid AS VARCHAR)) AS o
           FROM d JOIN c ON c.b = d.b
           WHERE c.cid <> d.qid),
         r AS (SELECT qid, j, cid, ROW_NUMBER() OVER
             (PARTITION BY qid, j ORDER BY o, cid) AS rk
           FROM cand)
         SELECT qid AS doc_id, CAST(j AS BIGINT) AS draw, cid AS neg_id
         FROM r WHERE rk = 1 ORDER BY doc_id, draw""") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 20)
    // positives: the query itself (qId and cId read the same column)
    graft.operators.Sampling.negativeSample(
        queries, docs, "doc_id", "doc_id", k = 4,
        positives = Some(queries.select(col("doc_id"))))
      .orderBy("doc_id", "draw")
  }

  /** Deterministic epoch shuffle: the corpus dealt into 8 shards with an
    * in-shard training order, every assignment a pure function of
    * (salt, doc_id) — the oracle re-deals the identical permutation from
    * md5. See [[graft.operators.Sampling.deterministicShuffle]]. */
  gate("t22_shuffle",
      // identical md5 deal: 24 leading hash bits pick the shard, full-hash
      // order ranks within it
      """WITH h AS (SELECT doc_id,
             md5('epoch1' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         s AS (SELECT doc_id, hh,
             CAST(CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 8 AS INT) AS shard
           FROM h)
         SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
             AS BIGINT) AS pos
         FROM s ORDER BY shard, pos""") { (s, dir) =>
    graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents"), "doc_id", numShards = 8, salt = "epoch1")
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** PMI collocation mining over adjacent word pairs, minCount=20: exact
    * integer counts, one rounded ln (the t20 transcendental convention).
    * The oracle re-derives unigram/pair counts, the totals, and the PMI
    * arithmetic in the identical operation order. See
    * [[graft.operators.Collocations.pmiBigrams]]. */
  gate("t24_pmi",
      // counts re-derived from scratch; the PMI expression mirrors the
      // operator's division order exactly so only ln's last ulp differs,
      // absorbed by the shared 6-decimal rounding
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT u.w, CAST(count(*) AS BIGINT) AS c_w
                 FROM w, UNNEST(ws) AS u(w) GROUP BY u.w),
         pr AS (SELECT ws[i] AS w1, ws[i+1] AS w2
                FROM w, UNNEST(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
         pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
                FROM pr GROUP BY w1, w2),
         tot AS (SELECT (SELECT SUM(c_w) FROM uni) AS n_words,
                        (SELECT SUM(c_pair) FROM pc) AS n_pairs)
         SELECT p.w1, p.w2, p.c_pair,
           round(ln((p.c_pair / CAST(t.n_pairs AS DOUBLE)) /
             ((u1.c_w / CAST(t.n_words AS DOUBLE)) *
              (u2.c_w / CAST(t.n_words AS DOUBLE)))), 6) AS pmi
         FROM pc p JOIN uni u1 ON u1.w = p.w1
           JOIN uni u2 ON u2.w = p.w2, tot t
         WHERE p.c_pair >= 20
         ORDER BY w1, w2""") { (s, dir) =>
    graft.operators.Collocations.pmiBigrams(t(s, dir, "documents"), "text",
        minCount = 20)
      .orderBy("w1", "w2")
  }

  private val t8Weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Leakage-aware split: the split key is the GROUP (source), not the
    * row — all documents of one source land in one split, the grouping
    * an eval/train separation needs when near-duplicates cluster within
    * sources (splitting by row would leak). Same md5 bound arithmetic
    * as t8, keyed on the group. */
  gate("t26_group_split", t26OracleSql) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.deterministicSplit(col("source"), t8Weights, salt = "grp")
          .as("split"))
      .orderBy("doc_id")
  }

  /** Exact-N deterministic global sample (TakeOrdered, no corpus
    * shuffle): the 100 smallest salted md5s. */
  gate("t27_sample_exact",
      // the salt is PREPENDED by sampleExact (the deterministicShuffle
      // convention), unlike deterministicSplit's appended salt
      """SELECT doc_id, source FROM documents
         ORDER BY md5('x1' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""") { (s, dir) =>
    graft.operators.Sampling.sampleExact(t(s, dir, "documents"), "doc_id",
        n = 100, salt = "x1")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Token-distribution drift src0 vs src1: per-term smoothed
    * probabilities and pointwise KL contributions, the WHICH-tokens-moved
    * table. Oracle re-derives counts, joint vocab, and the identical
    * probability/ln arithmetic. */
  gate("t29_kl_drift",
      // identical add-1 smoothing over the joint vocabulary; one rounded ln
      """WITH toks AS (SELECT source AS s, u.term
           FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE source IN ('src0', 'src1')) w,
             UNNEST(ws) AS u(term)),
         c AS (SELECT s, term, CAST(count(*) AS BIGINT) AS c
               FROM toks GROUP BY s, term),
         m AS (SELECT COALESCE(a.term, b.term) AS term,
             COALESCE(a.c, 0) AS c_a, COALESCE(b.c, 0) AS c_b
           FROM (SELECT term, c FROM c WHERE s = 'src0') a
           FULL OUTER JOIN (SELECT term, c FROM c WHERE s = 'src1') b
             ON a.term = b.term),
         t AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b,
             CAST(count(*) AS BIGINT) AS vocab FROM m)
         SELECT m.term, m.c_a, m.c_b,
           round(((m.c_a + 1) / CAST(t.n_a + t.vocab AS DOUBLE)) *
             ln(((m.c_a + 1) / CAST(t.n_a + t.vocab AS DOUBLE)) /
               ((m.c_b + 1) / CAST(t.n_b + t.vocab AS DOUBLE))), 6)
             AS kl_contrib
         FROM m, t ORDER BY m.term""") { (s, dir) =>
    graft.operators.Collocations.tokenKlDrift(t(s, dir, "documents"),
        "text", "source", "src0", "src1")
      .orderBy("term")
  }

  /** Pre-dedup text normalization (lowercase, control/punct strip, space
    * collapse) — dialect-safe regex classes make it exactly oracle-able. */
  gate("t14_normalize",
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
           '[\x00-\x1f\x7f]', ' ', 'g'),
           '[!-/:-@\[-`{-~]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalize(col("text"), dropPunct = true).as("norm"))
      .orderBy("doc_id")
  }

  /** Unicode folding variant. The synthetic documents are pure ASCII, so a
    * fixed accented/full-width suffix is concatenated on BOTH engines to
    * exercise the fold; the literal sticks to plain accent/width variants
    * (no ligatures) because DuckDB's strip_accents — the oracle's analog —
    * does not do NFKD compatibility expansion. */
  gate("t14b_normalize_fold",
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
           lower(strip_accents(text || ' Café NAÏVE àéîõü')),
           '[\x00-\x1f\x7f]', ' ', 'g'),
           '[!-/:-@\[-`{-~]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalize(
          concat(col("text"), lit(" Café NAÏVE àéîõü")),
          dropPunct = true, foldUnicode = true).as("norm"))
      .orderBy("doc_id")
  }

  gate("t4_fingerprint",
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    .orderBy("doc_id")
  }

  gate("t5_quality_filter",
      """WITH w AS (SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         m AS (SELECT doc_id, len(ws) AS n,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                  / len(ws) END AS meanlen,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
                  AS DOUBLE) / len(ws) END AS symratio,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS DOUBLE) / len(ws) END AS alphafrac,
           len(list_filter(ws, x -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it','that',
              'for','on','with','as','at','by','be','this','are','was'], x))) AS nstop
           FROM w),
         r AS (SELECT doc_id,
           n >= 20 AND n <= 200 AS word_count_ok,
           meanlen >= 3.0 AND meanlen <= 10.0 AS mean_word_len_ok,
           symratio <= 0.1 AS symbol_ratio_ok,
           alphafrac >= 0.8 AS alpha_frac_ok,
           nstop >= 2 AS stopword_ok
           FROM m)
         SELECT doc_id, word_count_ok, mean_word_len_ok, symbol_ratio_ok,
           alpha_frac_ok, stopword_ok,
           word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
             AND alpha_frac_ok AND stopword_ok AS keep
         FROM r ORDER BY doc_id""") { (s, dir) =>
    val staged = t(s, dir, "documents").select(col("doc_id"), col("text"),
      TextFunctions.words(col("text")).as("__w"))
    val rules = TextFunctions.gopherRules(col("text"), col("__w"))
    staged.select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  gate("t6_redact_pii",
      """WITH s1 AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
           FROM s1),
         s3 AS (SELECT doc_id, n_email, n_ip,
           CAST(len(regexp_extract_all(t2, '\+?\d[\d() -]{6,}\d')) AS BIGINT) AS n_phone,
           regexp_replace(t2, '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS redacted
           FROM s2)
         SELECT doc_id, n_email, n_ip, n_phone, redacted FROM s3 ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id") +:
        (TextFunctions.piiCounts(col("text")).map { case (n, c) =>
          c.cast("long").as(n)
        } :+ TextFunctions.redactPii(col("text")).as("redacted")): _*)
      .orderBy("doc_id")
  }

  gate("t7_repetition",
      """WITH w AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         m AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS nd,
           list_max([len(list_filter(ws, x -> x = d)) for d in list_distinct(ws)]) AS topn
           FROM w)
         SELECT doc_id,
           CASE WHEN n = 0 THEN 0.0 ELSE 1.0 - CAST(nd AS DOUBLE)/n END AS dup_word_ratio,
           CASE WHEN n = 0 THEN 0.0 ELSE CAST(topn AS DOUBLE)/n END AS top_word_frac
         FROM m ORDER BY doc_id""") { (s, dir) =>
    val staged = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("__w"))
    val metrics = TextFunctions.repetitionMetrics(col("__w"))
    staged.select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  /** Leakage-safe split: keyed on NORMALIZED text, so trivial duplicate
    * variants co-travel ([[graft.functions.TextFunctions
    * .leakageSafeSplit]]); the oracle replays normalize + md5 bounds. */
  gate("t44_leakage_split", t44OracleSql) { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.leakageSafeSplit(col("text"), t8Weights, salt = "leak")
          .as("split"))
      .orderBy("doc_id")
  }

  /** t44's oracle: the t8 bound chain keyed on the replayed normalize. */
  private def t44OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val normSql = """trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
         '[\x00-\x1f\x7f]', ' ', 'g'),
         '[!-/:-@\[-`{-~]', ' ', 'g'),
         ' +', ' ', 'g'))"""
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5($normSql || 'leak'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  gate("t8_split", t8OracleSql) { (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.deterministicSplit(col("doc_id"), t8Weights, salt = "graft")
          .as("split"))
      .orderBy("doc_id")
  }

  private def t8OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  /** t26: identical bound chain keyed on the GROUP column. */
  private def t26OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5(source || 'grp'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, source, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  /** Sharded greedy sequence packing into 128-token bins (8 shards so the
    * sf0.01 recursion-free oracle stays tractable; production default 256). */
  gate("t9_pack",
      """WITH RECURSIVE t AS (
           SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
             CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS BIGINT) AS rn
           FROM documents),
         pack AS (
           SELECT shard, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
             tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tokens,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 128
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 128
                  THEN t.tokens ELSE p.fill + t.tokens END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT doc_id, shard, bin, tokens FROM pack ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packGreedy(docs, "doc_id", "tokens",
        budget = 128, numShards = 8)
      .orderBy("doc_id")
  }

  /** GPT-style concat-and-chop packing: per shard, doc token streams
    * concatenate in id order and cut every 128 tokens ACROSS doc
    * boundaries — one row per (doc, window) overlap with doc-local
    * slice offsets. The oracle replays the per-shard cumulative sum
    * and every boundary in closed form, so the window arithmetic, the
    * slice offsets and the exactly-full-window invariant are one hash.
    * See [[graft.operators.Pack.packChop]]. */
  gate("t69_pack_chop",
      """WITH tk AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           FROM documents),
         c AS (SELECT doc_id, shard, t,
             CAST(COALESCE(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
           FROM tk WHERE t > 0),
         e AS (SELECT doc_id, shard, t, s,
             unnest(range(CAST(s // 128 AS BIGINT),
               CAST((s + t - 1) // 128 + 1 AS BIGINT))) AS window_ix
           FROM c)
         SELECT doc_id, shard, window_ix,
           greatest(0, window_ix * 128 - s) AS tok_start,
           least(t, (window_ix + 1) * 128 - s) AS tok_end,
           least(t, (window_ix + 1) * 128 - s)
             - greatest(0, window_ix * 128 - s) AS n_tokens
         FROM e ORDER BY doc_id, window_ix""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packChop(docs, "doc_id", "tokens",
        budget = 128, numShards = 8)
      .orderBy("doc_id", "window_ix")
  }

  /** Best-fit-decreasing packing
    * ([[graft.operators.Pack.packBestFitDecreasing]]): the oracle
    * replays the ENTIRE bin-state evolution as a recursive CTE — each
    * step's LATERAL argmax is the same (fill DESC, ix) best-fit rule
    * the streaming pass applies — so one divergent placement anywhere
    * in any shard breaks the hash. `maxOpenBins` is set beyond this
    * corpus's bins-per-shard at any driver SF, so the close-fullest
    * rule (pinned in PackBfdSpec) never fires here and the oracle
    * needs no closing clause. */
  gate("t87_bestfit_pack",
      // the bin-state evolution replayed step by step: per-shard
      // descending rank, then a recursive CTE whose LATERAL picks the
      // same (fill DESC, ix) best-fit bin the streaming pass does
      """WITH RECURSIVE tk AS (SELECT doc_id AS id,
             CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           FROM documents),
         o AS (SELECT id, shard, tokens,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY tokens DESC, id) AS BIGINT) AS r
           FROM tk),
         step AS (
           SELECT shard, r, id, tokens, CAST(0 AS BIGINT) AS bin,
             [struct_pack(ix := CAST(0 AS BIGINT), f := tokens)] AS open,
             CAST(1 AS BIGINT) AS nbins
           FROM o WHERE r = 1
           UNION ALL
           SELECT t.shard, t.r, t.id, t.tokens,
             CASE WHEN b.ix IS NULL THEN s.nbins ELSE b.ix END AS bin,
             CASE WHEN b.ix IS NULL
               THEN list_append(s.open,
                 struct_pack(ix := s.nbins, f := t.tokens))
               ELSE list_transform(s.open, x -> CASE WHEN x.ix = b.ix
                 THEN struct_pack(ix := x.ix, f := x.f + t.tokens)
                 ELSE x END) END AS open,
             s.nbins + CASE WHEN b.ix IS NULL THEN 1 ELSE 0 END AS nbins
           FROM step s JOIN o t ON t.shard = s.shard AND t.r = s.r + 1
           LEFT JOIN LATERAL (
             SELECT u.ox.ix AS ix
             FROM (SELECT unnest(s.open) AS ox) u
             WHERE u.ox.f + t.tokens <= 128
             ORDER BY u.ox.f DESC, u.ox.ix LIMIT 1) b ON true)
         SELECT id AS doc_id, shard, bin, tokens
         FROM step ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packBestFitDecreasing(docs, "doc_id", "tokens",
        budget = 128, numShards = 8, maxOpenBins = 4096)
      .orderBy("doc_id")
  }

  /** T5-style span-corruption PLAN (deterministic): one 3-token span
    * per complete 20-token block at a salted-md5 offset — corruption
    * rate exactly 15%, spans non-overlapping by construction, every
    * span stated by the oracle from the same hash arithmetic.
    * See [[graft.operators.Masking.spanCorruptionPlan]]. */
  gate("t70_span_corruption",
      // every corrupted span restated from the same salted-hash arithmetic
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           FROM documents),
         b AS (SELECT doc_id, CAST(t // 20 AS BIGINT) AS nb FROM w),
         e AS (SELECT doc_id,
             unnest(range(CAST(0 AS BIGINT), nb)) AS sentinel_ix
           FROM b WHERE nb > 0)
         SELECT doc_id, sentinel_ix,
           sentinel_ix * 20 + CAST(concat('0x', substr(md5(
             't5:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT) % 18
             AS span_start,
           CAST(3 AS INT) AS span_len
         FROM e ORDER BY doc_id, sentinel_ix""") { (s, dir) =>
    graft.operators.Masking.spanCorruptionPlan(
        t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "sentinel_ix")
  }

  /** UL2 mixture-of-denoisers plan: hash-assigned R/X/S denoiser per
    * document, each planned with its own span geometry — the oracle
    * replays the mode draw, both block planners at their distinct
    * (blockSize, offsets) and the prefix-LM split arithmetic. One
    * denoiser per doc means (doc_id, sentinel_ix) is unique.
    * See [[graft.operators.Masking.ul2Plan]]. */
  gate("t82_ul2_plan",
      // the mode draw and all three denoiser geometries replayed: R/X are
      // the t70 arithmetic at their own (blockSize, offsets), S is the
      // prefix-LM middle-half split
      """WITH w AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n
           FROM documents),
         m AS (SELECT doc_id, n,
             CAST(concat('0x', substr(md5('ul2m:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS mode
           FROM w),
         r AS (SELECT doc_id, 'R' AS denoiser, sentinel_ix,
             sentinel_ix * 20 + CAST(concat('0x', substr(md5(
               'ul2r:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT)
               % 18 AS span_start,
             CAST(3 AS INT) AS span_len
           FROM (SELECT doc_id,
               unnest(range(CAST(0 AS BIGINT), n // 20)) AS sentinel_ix
             FROM m WHERE mode = 0 AND n // 20 > 0) b),
         x AS (SELECT doc_id, 'X' AS denoiser, sentinel_ix,
             sentinel_ix * 24 + CAST(concat('0x', substr(md5(
               'ul2x:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT)
               % 13 AS span_start,
             CAST(12 AS INT) AS span_len
           FROM (SELECT doc_id,
               unnest(range(CAST(0 AS BIGINT), n // 24)) AS sentinel_ix
             FROM m WHERE mode = 1 AND n // 24 > 0) b),
         s AS (SELECT doc_id, 'S' AS denoiser,
             CAST(0 AS BIGINT) AS sentinel_ix, sp AS span_start,
             CAST(n - sp AS INT) AS span_len
           FROM (SELECT doc_id, n,
               n // 4 + CAST(concat('0x', substr(md5('ul2s:' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (n // 2)
                 AS sp
             FROM m WHERE mode = 2 AND n >= 4) b)
         SELECT doc_id, denoiser, sentinel_ix, span_start, span_len
         FROM (SELECT * FROM r UNION ALL SELECT * FROM x
               UNION ALL SELECT * FROM s) u
         ORDER BY doc_id, sentinel_ix""") { (s, dir) =>
    graft.operators.Masking.ul2Plan(
        t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "sentinel_ix")
  }

  /** SFT loss-mask plan over the event log as a chat transcript: per
    * user, turns order by (ts, event_id), token offsets are running
    * word counts of props, and only click/purchase turns train — the
    * chat-fine-tuning mask as data. One keyed window; the oracle
    * replays rank, running sum and the role predicate directly.
    * See [[graft.operators.Masking.sftLossMask]]. */
  gate("t71_sft_mask",
      // rank + running word-count sum + the role predicate, one window
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
             CAST(len(string_split(props, ' ')) AS BIGINT) AS t
           FROM events),
         r AS (SELECT user_id, event_type, t,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - 1 AS BIGINT) AS turn_ix,
             CAST(COALESCE(sum(t) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_start
           FROM e)
         SELECT user_id, turn_ix, event_type AS role, tok_start,
           tok_start + t AS tok_end,
           CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END
             AS trainable
         FROM r ORDER BY user_id, turn_ix""") { (s, dir) =>
    graft.operators.Masking.sftLossMask(Fixtures.events(s, dir),
        "user_id", Seq("ts", "event_id"), "event_type", "props",
        trainRoles = Seq("click", "purchase"))
      .withColumn("trainable", col("trainable").cast("int"))
      .orderBy("user_id", "turn_ix")
  }

  /** The full training-data run composed END-TO-END — the north-star
    * demo: curation (langid + quality floors + exact dedup, the t64
    * stage) → benchmark decontamination (3-gram overlap vs the
    * doc_id%100 eval set, the d8b stage) → DSIR importance selection
    * toward a doc_id%10 target sample (the d23 stage, top-200) →
    * concat-and-chop packing of the selected docs (the t69 stage).
    * Four stages, one DataFrame program, one hash: the oracle replays
    * every stage's arithmetic in a single CTE chain, so any
    * inter-stage contract drift (a filter reordered, a dedup key
    * changed, a weight tie broken differently) goes red — the
    * composition is what's being gated, each stage is already gated
    * alone. Spark shape: each stage keeps its own audited plan
    * (broadcast gram/ratio joins, one anti-join, one TakeOrdered, one
    * per-shard cumsum window) — nothing about composing them adds a
    * shuffle beyond the stages' own. */
  gate("t75_training_run",
      // the per-shard cumsum and every window boundary replayed directly
      // the full four-stage run replayed in ONE CTE chain: t64's
      // curation (langid argmax + quality floors + min-id exact dedup),
      // d8b's 3-gram decontamination against the doc_id%100 eval set,
      // d23's DSIR scoring toward the doc_id%10 target (same +1/+B
      // smoothing, 6-decimal rounding, weight-desc/id tie rule, top
      // 200), and t69's per-shard cumsum chop with the r16 BIGINT cast
      """WITH w0 AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         s0 AS (SELECT doc_id, text, ws,
           len(list_filter(lws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(lws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(lws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(lws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(lws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w0),
         lang AS (SELECT doc_id, text, ws,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
           FROM s0),
         q AS (SELECT doc_id, text, ws,
           CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
           FROM lang WHERE lang_pred = 'en'),
         f AS (SELECT doc_id, text, ws FROM q
           WHERE n_words >= 20 AND stopword_ratio > 0.03),
         dd AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY text),
         kept AS (SELECT f.doc_id, f.text, f.ws FROM f JOIN dd USING (doc_id)),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM kept),
         evw AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE doc_id % 100 = 0),
         bg AS (SELECT DISTINCT unnest(
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)) AS gram
                FROM evw),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh),
         cont AS (SELECT ex.doc_id,
                 CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / max(ex.total) AS contamination
               FROM ex LEFT JOIN bg ON bg.gram = ex.gram GROUP BY ex.doc_id),
         clean AS (SELECT k.doc_id, k.ws FROM kept k
           JOIN cont ON cont.doc_id = k.doc_id WHERE cont.contamination < 0.5),
         uni AS (SELECT doc_id, unnest(ws) AS g FROM clean),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM clean WHERE len(ws) >= 2),
         grams AS (SELECT doc_id, g FROM uni
                   UNION ALL SELECT doc_id, g FROM bi),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
               AS bucket
           FROM grams),
         rawn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b GROUP BY bucket),
         tgtn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b WHERE doc_id % 10 = 1 GROUP BY bucket),
         tot AS (SELECT
             (SELECT CAST(count(*) AS DOUBLE) FROM b) AS rt,
             (SELECT CAST(count(*) AS DOUBLE) FROM b WHERE doc_id % 10 = 1)
               AS tt),
         r AS (SELECT rawn.bucket,
             round(ln((coalesce(tgtn.n, 0) + 1) / (tot.tt + 1024))
                 - ln((rawn.n + 1) / (tot.rt + 1024)), 6) AS lr
           FROM rawn LEFT JOIN tgtn USING (bucket), tot),
         sc AS (SELECT b.doc_id, round(sum(r.lr), 6) AS weight
                FROM b JOIN r USING (bucket) GROUP BY b.doc_id),
         rk AS (SELECT doc_id FROM sc ORDER BY weight DESC, doc_id LIMIT 200),
         tk AS (SELECT c2.doc_id, CAST(c2.doc_id % 4 AS BIGINT) AS shard,
             CAST(len(c2.ws) AS BIGINT) AS t
           FROM clean c2 JOIN rk USING (doc_id)),
         cum AS (SELECT doc_id, shard, t,
             CAST(COALESCE(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
           FROM tk WHERE t > 0),
         e AS (SELECT doc_id, shard, t, s,
             unnest(range(CAST(s // 128 AS BIGINT),
               CAST((s + t - 1) // 128 + 1 AS BIGINT))) AS window_ix
           FROM cum)
         SELECT doc_id, shard, window_ix,
           greatest(0, window_ix * 128 - s) AS tok_start,
           least(t, (window_ix + 1) * 128 - s) AS tok_end,
           least(t, (window_ix + 1) * 128 - s)
             - greatest(0, window_ix * 128 - s) AS n_tokens
         FROM e ORDER BY doc_id, window_ix""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val metrics = TextFunctions.qualityMetrics(col("text"),
      TextFunctions.englishStopwords).toMap
    val staged = docs.select(col("doc_id"), col("text"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      metrics("n_words").as("n_words"),
      metrics("stopword_ratio").as("stopword_ratio"))
    // `filtered` is consumed twice inside `kept` (exact dedup + text
    // join-back) — persist so the langid/metrics kernels run once (the
    // t64 pattern; released with `clean` below)
    val filtered = staged.filter(col("lang_pred") === "en" &&
        col("n_words") >= 20 && col("stopword_ratio") > 0.03)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = Dedup.exact(filtered, "doc_id", "text").select("doc_id")
      .join(filtered.select("doc_id", "text"), "doc_id")
    val evalSet = docs.filter(col("doc_id") % 100 === 0).select("text")
    // `clean` feeds THREE consumers (the DSIR target slice, the DSIR raw
    // side, the token join on the selected docs) — uncached, each one
    // re-runs the full curation + decontamination chain (langid +
    // quality metrics + exact dedup + the 3-gram overlap join). Persist
    // it once per computation and release after the caller's first
    // action (r20 optimization round, guide §5.2; cache cleared between
    // bench passes, so every pass still computes from parquet).
    val clean = Decontaminate.decontaminate(kept, "doc_id", "text",
        evalSet, "text", n = 3, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val target = clean.filter(col("doc_id") % 10 === 1).select("text")
    val weights = graft.operators.Dsir.importanceWeights(
      clean, "doc_id", "text", target, "text", numBuckets = 1024)
    val sel = graft.operators.Dsir.selectTopK(weights, "doc_id", k = 200)
    val toks = sel.select("doc_id")
      .join(clean.select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens")),
        "doc_id")
    graft.operators.CacheRelease.afterFirstAction(
      graft.operators.Pack.packChop(toks, "doc_id", "tokens",
          budget = 128, numShards = 4)
        .orderBy("doc_id", "window_ix"),
      Seq(filtered, clean))
  }

  /** Deterministic source mixing: src0 ×2.5, src1 ×0.5, src2 dropped,
    * seventeen other sources pass through. */
  gate("t10_mix",
      """WITH c AS (SELECT doc_id, source,
           CASE source
             WHEN 'src0' THEN 2 + CASE WHEN doc_id % 1000 < 500 THEN 1 ELSE 0 END
             WHEN 'src1' THEN CASE WHEN doc_id % 1000 < 500 THEN 1 ELSE 0 END
             WHEN 'src2' THEN 0
             ELSE 1 END AS copies
           FROM documents)
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM c ORDER BY doc_id, copy""") { (s, dir) =>
    graft.operators.Mixing.resample(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0), granularity = 1000)
      .orderBy("doc_id", "copy")
  }

  /** Temperature mixing at alpha = 0.5: weights derive from the source
    * counts (w = N·n^(α−1)/Σn^α, rounded to 6 decimals — both engines
    * recompute them from the data in IEEE doubles), then the same
    * deterministic id-slice replication as t10. */
  gate("t10b_mix_temperature",
      // temperature weights recomputed from the data in SQL: same doubles,
      // same 6-decimal rounding, same floor/round slice resolution as the
      // Spark driver — then t10's replication machinery
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
                    FROM documents GROUP BY source),
         zt AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c),
         w AS (SELECT source, round(total * pow(n, 0.5) / (z * n), 6) AS w
               FROM c, zt),
         r AS (SELECT source, CAST(floor(w) AS BIGINT) AS fullc,
                 CAST(round((w - floor(w)) * 1000, 0) AS BIGINT) AS extra
               FROM w),
         cp AS (SELECT d.doc_id, d.source,
                 fullc + (CASE WHEN d.doc_id % 1000 < extra THEN 1 ELSE 0 END)
                   AS copies
                FROM documents d JOIN r USING (source))
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM cp ORDER BY doc_id, copy""") { (s, dir) =>
    graft.operators.Mixing.mixByTemperature(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", alpha = 0.5, granularity = 1000)
      .orderBy("doc_id", "copy")
  }

  /** DoReMi source reweighting end-to-end: a deterministic per-doc
    * difficulty proxy (`n_chars % 97 / 10` — varies within and across
    * sources), the clipped-excess softmax with smoothing 0.01, and the
    * deterministic id-slice resample. The oracle recomputes means,
    * global mean, exp/softmax, smoothing and the replication slices in
    * SQL with the same 6-decimal rounding at every step.
    * See [[graft.operators.Mixing.learnWeights]]. */
  gate("t74_doremi_mix",
      """WITH s AS (SELECT doc_id, source,
             CAST(n_chars % 97 AS DOUBLE) / 10 AS sc FROM documents),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             round(avg(sc), 6) AS m FROM s GROUP BY source),
         g AS (SELECT round(CAST(sum(n * m) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE), 6) AS gm,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS k FROM c),
         e AS (SELECT source, n,
             round(exp(1.0 * greatest(0, round(m - gm, 6))), 6) AS u
           FROM c, g),
         z AS (SELECT CAST(sum(u) AS DOUBLE) AS zz FROM e),
         a AS (SELECT source, n,
             round((1 - 0.01) * round(u / zz, 6) + 0.01 / k, 6) AS alpha
           FROM e, z, g),
         w AS (SELECT source, n,
             round(alpha * total / n, 6) AS w FROM a, g),
         r AS (SELECT source, CAST(floor(w) AS BIGINT) AS fullc,
             CAST(round((w - floor(w)) * 1000, 0) AS BIGINT) AS extra
           FROM w),
         cp AS (SELECT d.doc_id, d.source,
             fullc + (CASE WHEN d.doc_id % 1000 < extra THEN 1 ELSE 0 END)
               AS copies
           FROM documents d JOIN r USING (source))
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM cp ORDER BY doc_id, copy""") { (s, dir) =>
    graft.operators.Mixing.mixByProxy(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          ((col("n_chars") % 97).cast("double") / 10.0).as("sc")),
        "doc_id", "source", "sc", eta = 1.0, smoothing = 0.01,
        granularity = 1000)
      .select("doc_id", "source", "copy")
      .orderBy("doc_id", "copy")
  }

  /** MODEL-based quality filtering — the fastText/CCNet recipe (vs
    * t64's RULES): positives are the real docs, negatives SYNTHETIC
    * corruptions of half of them (vowels flattened to 'q' — trusted-
    * vocabulary hits drop to zero, replayable via `translate`), a
    * logistic classifier trains on trusted-vocab hit-ratio features
    * (15 full-batch GD iterations, the ml2 trainer), and the whole
    * pos∪neg corpus is scored and cut at 0.5. Every corruption drops;
    * real docs with NO trusted-vocab hits drop too (indistinguishable
    * from noise by construction — exactly what a vocab-based quality
    * filter does to vocab-less docs). The oracle replays corpus
    * construction, features, all 15 iterations, scoring and the cut.
    * See [[graft.operators.Regression.fitLogisticGD]]. */
  gate("t78_quality_filter",
      """WITH corpus AS (
           SELECT doc_id, text, 1.0 AS y FROM documents
           UNION ALL
           SELECT doc_id + 9950000, translate(text, 'aeiou', 'qqqqq'), 0.0
           FROM documents WHERE doc_id % 2 = 0),
         w0c AS (SELECT doc_id, y,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws FROM corpus),
         f AS (SELECT doc_id, y,
           CASE WHEN len(lws) = 0 THEN 0.0
                ELSE 10.0 * len(list_filter(lws, x -> list_contains(
                  ['the','and','of','to','in','is','that','it','for','with'], x)))
                  / len(lws) END AS x1,
           CASE WHEN len(lws) = 0 THEN 0.0
                ELSE 10.0 * len(list_filter(lws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x)))
                  / len(lws) END AS x2
           FROM w0c),
         p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
         i1 AS (SELECT
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p),
         i2 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i1 w GROUP BY w.w0, w.w1, w.w2),
         i3 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i2 w GROUP BY w.w0, w.w1, w.w2),
         i4 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i3 w GROUP BY w.w0, w.w1, w.w2),
         i5 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i4 w GROUP BY w.w0, w.w1, w.w2),
         i6 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i5 w GROUP BY w.w0, w.w1, w.w2),
         i7 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i6 w GROUP BY w.w0, w.w1, w.w2),
         i8 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i7 w GROUP BY w.w0, w.w1, w.w2),
         i9 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i8 w GROUP BY w.w0, w.w1, w.w2),
         i10 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i9 w GROUP BY w.w0, w.w1, w.w2),
         i11 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i10 w GROUP BY w.w0, w.w1, w.w2),
         i12 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i11 w GROUP BY w.w0, w.w1, w.w2),
         i13 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i12 w GROUP BY w.w0, w.w1, w.w2),
         i14 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i13 w GROUP BY w.w0, w.w1, w.w2),
         i15 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i14 w GROUP BY w.w0, w.w1, w.w2),
         sc AS (SELECT f.doc_id,
           ROUND(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))), 6) AS score
           FROM f, i15 w)
         SELECT doc_id, score FROM sc WHERE score >= 0.5 ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text"), lit(1.0).as("y"))
      .unionByName(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 9950000L).as("doc_id"),
          translate(col("text"), "aeiou", "qqqqq").as("text"),
          lit(0.0).as("y")))
    val lw = TextFunctions.words(lower(col("text")))
    val counts = graft.functions.TermSetCountsExpr(lw,
      Seq(TextFunctions.langMarkers("en"), TextFunctions.englishStopwords))
    val n = size(lw)
    def ratio(i: Int): Column = when(n === 0, lit(0.0))
      .otherwise(element_at(counts, i).cast("double") * 10.0 / n)
    // the narrow feature frame is consumed by BOTH the 15-iteration GD
    // trainer and the final scoring pass — uncached, the tokenizing
    // feature kernels re-run for each (the trainer caches its OWN
    // internal projection, which doesn't cover the scoring pass).
    // Persist it once per computation, release after the caller's first
    // action (r20 optimization round, guide §5.2)
    val f = corpus.select(col("doc_id"), ratio(1).as("x1"),
        ratio(2).as("x2"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = graft.operators.Regression.fitLogisticGD(f,
      Seq(col("x1"), col("x2")), col("y"), iterations = 15, lr = 2.0)
    graft.operators.CacheRelease.afterFirstAction(
      f.select(col("doc_id"),
          graft.operators.Regression.logisticScore(model,
            Seq(col("x1"), col("x2"))).as("score"))
        .filter(col("score") >= 0.5)
        .orderBy("doc_id"),
      Seq(f))
  }

  /** Retrieval-quality evaluation (recall@k / MRR / nDCG@k,
    * [[graft.operators.Retrieval.rankMetrics]]): a three-query run with
    * md5-derived integer scores (hash-exact ranking in both engines —
    * the BM25 composition is exercised in RankMetricsSpec, where
    * cross-engine float ordering is not at stake) against md5-derived
    * graded judgments (grades 0/1/2). The DCG discount is the
    * integer-scaled table, so DCG/IDCG are exact integer sums and the
    * oracle's replay must match to the last digit. */
  gate("t79_retrieval_metrics",
      // md5 run scores and graded judgments replayed, then the metric
      // arithmetic: integer-scaled DCG discounts (round(1e6/log2(r+1)) —
      // exact integer sums in both engines), single final divisions
      """WITH paired AS (SELECT t.term AS query, d.doc_id
           FROM documents d CROSS JOIN
             (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         run AS (SELECT query, doc_id,
             CAST(concat('0x', substr(md5('run:' || query || ':' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS score
           FROM paired),
         rk AS (SELECT query, doc_id,
             CAST(row_number() OVER (PARTITION BY query
               ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           FROM run),
         rel AS (SELECT query, doc_id, g FROM (
             SELECT query, doc_id,
               CASE WHEN substr(md5('qr:' || query || ':' ||
                   CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
                 THEN CAST(1 AS BIGINT)
                 WHEN substr(md5('qr:' || query || ':' ||
                   CAST(doc_id AS VARCHAR)), 1, 1) IN ('4','5')
                 THEN CAST(2 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS g
             FROM paired) x WHERE g > 0),
         j AS (SELECT rk.query, rk.rnk, COALESCE(rel.g, 0) AS g
           FROM rk LEFT JOIN rel
             ON rel.query = rk.query AND rel.doc_id = rk.doc_id),
         pq AS (SELECT query,
             CAST(sum(CASE WHEN rnk <= 10 AND g > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS hits_at_k,
             min(CASE WHEN g > 0 THEN rnk END) AS first_rel,
             CAST(sum(CASE WHEN rnk <= 10 THEN
                 (CAST(pow(2, g) AS BIGINT) - 1) *
                 CAST(round(1000000.0 / log2(rnk + 1)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS dcg
           FROM j GROUP BY query),
         ideal AS (SELECT query, CAST(count(*) AS BIGINT) AS n_rel,
             CAST(sum(CASE WHEN ir <= 10 THEN
                 (CAST(pow(2, g) AS BIGINT) - 1) *
                 CAST(round(1000000.0 / log2(ir + 1)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS idcg
           FROM (SELECT query, g, CAST(row_number() OVER
                 (PARTITION BY query ORDER BY g DESC, doc_id) AS BIGINT) AS ir
             FROM rel) x GROUP BY query)
         SELECT p.query, COALESCE(i.n_rel, 0) AS n_rel, p.hits_at_k,
           round(CASE WHEN COALESCE(i.n_rel, 0) = 0 THEN 0.0
             ELSE CAST(p.hits_at_k AS DOUBLE) / i.n_rel END, 6)
             AS recall_at_k,
           round(CASE WHEN p.first_rel IS NULL THEN 0.0
             ELSE 1.0 / p.first_rel END, 6) AS mrr,
           round(CASE WHEN COALESCE(i.idcg, 0) = 0 THEN 0.0
             ELSE CAST(p.dcg AS DOUBLE) / i.idcg END, 6) AS ndcg_at_k
         FROM pq p LEFT JOIN ideal i ON i.query = p.query
         ORDER BY p.query""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val terms = Seq("agg", "scan", "window")
    val paired = docs
      .select(col("doc_id"), explode(array(terms.map(lit): _*)).as("query"))
    val run = paired.select(col("query"), col("doc_id"),
      conv(substring(md5(concat_ws(":", lit("run"), col("query"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long").as("score"))
    val h = substring(md5(concat_ws(":", lit("qr"), col("query"),
      col("doc_id").cast("string"))), 1, 1)
    val qrels = paired.select(col("query"), col("doc_id"),
      when(h.isin("0", "1", "2", "3"), 1L)
        .when(h.isin("4", "5"), 2L).otherwise(0L).as("grade"))
    graft.operators.Retrieval.rankMetrics(run, qrels,
        "query", "doc_id", "score", "grade", k = 10)
      .orderBy("query")
  }

  /** Domain-level curation ([[graft.operators.Frontier.dropLowQualityDomains]]):
    * six fixture hosts — two under the multi-label `co.uk` suffix, one a
    * deep `cdn.assets.*` subdomain — must collapse to their eTLD+1
    * (`ads.spamfarm.co.uk` → `spamfarm.co.uk`, NOT `co.uk`), and the
    * spam-farm's hash-biased low scores must flag exactly it; the
    * integer cross-multiplied threshold means both engines flag the
    * same domains with zero float comparisons. */
  gate("t80_domain_rollup",
      // fixture hosts + hash scores replayed, the longest-suffix eTLD+1
      // rule applied literally (this fixture has no >2-label suffixes),
      // the integer cross-multiplied flag, then the anti-join
      """WITH u AS (SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'news.example.com'
               WHEN 1 THEN 'blog.example.co.uk'
               WHEN 2 THEN 'ads.spamfarm.co.uk'
               WHEN 3 THEN 'example.org'
               WHEN 4 THEN 'cdn.assets.example.org'
               ELSE 'static.junk.com' END AS host,
             CAST(concat('0x', substr(md5('dq:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS b
           FROM documents),
         sc AS (SELECT doc_id, host,
             CASE WHEN doc_id % 6 = 2 THEN b % 30 ELSE b % 70 + 30 END
               AS score
           FROM u),
         reg AS (SELECT doc_id, score,
             CASE WHEN ls[nl - 1] || '.' || ls[nl] IN
                 ('co.uk', 'ac.uk', 'github.io')
               THEN ls[nl - 2] || '.' || ls[nl - 1] || '.' || ls[nl]
               ELSE ls[nl - 1] || '.' || ls[nl] END AS domain
           FROM (SELECT doc_id, score, string_split(host, '.') AS ls,
               CAST(len(string_split(host, '.')) AS INT) AS nl FROM sc) x),
         flagged AS (SELECT domain FROM
             (SELECT domain, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(score) AS BIGINT) AS ss
              FROM reg GROUP BY domain) g
           WHERE ss * 1 < n * 40)
         SELECT r.doc_id, r.domain, CAST(r.score AS BIGINT) AS score
         FROM reg r LEFT JOIN flagged f ON f.domain = r.domain
         WHERE f.domain IS NULL ORDER BY r.doc_id""") { (s, dir) =>
    val hosts = array(lit("news.example.com"), lit("blog.example.co.uk"),
      lit("ads.spamfarm.co.uk"), lit("example.org"),
      lit("cdn.assets.example.org"), lit("static.junk.com"))
    val base = conv(substring(md5(concat(lit("dq:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 6 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 6 === 2, base % 30)
          .otherwise(base % 70 + 30).as("score"))
    graft.operators.Frontier.dropLowQualityDomains(urls, "url", "score",
        Seq("com", "org", "net", "co.uk", "ac.uk", "github.io"),
        minMeanNum = 40L)
      .select(col("doc_id"), col("domain"), col("score"))
      .orderBy("doc_id")
  }

  /** Curriculum ordering: global easy→hard schedule by an integer
    * difficulty proxy (milli-chars-per-word — pure integer division,
    * so both engines rank the identical key), dealt round-robin
    * across 4 loader shards so each shard carries the same ramp. The
    * operator's two-level rank (per-band window + broadcast band
    * offsets — the scale-safe form of a global row_number) must equal
    * the oracle's literal global `row_number()`: the gate proves the
    * banded decomposition IS the global order.
    * See [[graft.operators.Mixing.curriculum]]. */
  gate("t76_curriculum",
      """WITH w AS (SELECT doc_id, n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw
           FROM documents),
         p AS (SELECT doc_id, (n_chars * 1000) // nw AS proxy
               FROM w WHERE nw > 0),
         r AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY proxy, doc_id) AS BIGINT) AS rank
           FROM p)
         SELECT doc_id, rank,
           CAST((rank - 1) % 4 AS BIGINT) AS shard,
           CAST((rank - 1) // 4 AS BIGINT) AS position
         FROM r ORDER BY doc_id""") { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(TextFunctions.words(col("text"))).cast("long").as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), expr("(n_chars * 1000) div nw").as("proxy"))
      .withColumn("band", expr("proxy div 100"))
    graft.operators.Mixing.curriculum(docs, "doc_id", "proxy", "band",
        numShards = 4)
      .orderBy("doc_id")
  }

  /** Per-source token-budget fill — the epoch quota draw: named
    * sources get explicit budgets, the long tail a default, docs
    * drawn per source in (priority DESC, id) order while the running
    * token total stays within budget. The oracle replays the keyed
    * cumsum (CAST — the r16 lesson), the draw order and the cut.
    * See [[graft.operators.Mixing.tokenBudgetFill]]. */
  gate("t77_token_budget",
      """WITH d AS (SELECT doc_id, source,
           CAST(doc_id % 7 AS BIGINT) AS priority,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
           FROM documents),
         b AS (SELECT source,
             CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2500
                  WHEN 'src2' THEN 1500 ELSE 800 END AS budget
           FROM (SELECT DISTINCT source FROM documents)),
         w AS (SELECT d.doc_id, d.source, d.tokens,
             CAST(sum(d.tokens) OVER (PARTITION BY d.source
               ORDER BY d.priority DESC, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY d.priority DESC, d.doc_id) AS BIGINT) AS fill_seq,
             b.budget
           FROM d JOIN b USING (source))
         SELECT doc_id, source, tokens, fill_seq, cum_tokens FROM w
         WHERE cum_tokens <= budget ORDER BY doc_id""") { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (col("doc_id") % 7).as("priority"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    val named = Seq(("src0", 4000L), ("src1", 2500L), ("src2", 1500L))
      .toDF("source", "budget")
    val budgets = named.unionByName(
      docs.select("source").distinct()
        .filter(!col("source").isin("src0", "src1", "src2"))
        .withColumn("budget", lit(800L)))
    graft.operators.Mixing.tokenBudgetFill(docs, "doc_id", "tokens",
        "source", "priority", budgets)
      .orderBy("doc_id")
  }

  /** Per-host crawl budget: each of the nine hosts keeps its 13 best
    * URLs by (priority desc, url) — the window-rank filter must plan as
    * a map-side partial top-k (WindowGroupLimit, asserted in
    * FrontierSpec), and the oracle replays the cap as the same rank.
    * See [[graft.operators.Frontier.capPerHost]]. */
  gate("t61b_frontier_cap",
      // the cap replayed as the identical rank — qualify-style
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             CAST(doc_id % 7 AS INT) AS priority
           FROM documents),
         r AS (SELECT doc_id, url, priority,
             row_number() OVER (PARTITION BY h
               ORDER BY priority DESC, url) AS rk
           FROM u)
         SELECT doc_id, url, priority FROM r WHERE rk <= 13
         ORDER BY doc_id""") { (s, dir) =>
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string")))
      .withColumn("priority", (col("doc_id") % 7).cast("int"))
    graft.operators.Frontier.capPerHost(urls, "url", "priority",
        maxPerHost = 13)
      .select("doc_id", "url", "priority")
      .orderBy("doc_id")
  }

  /** Top-3 TF-IDF terms per document over the whole vocabulary. */
  gate("t28_tfidf_topk",
      // whole-vocabulary tf-idf re-derived; identical multiply-then-round
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         tf AS (SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
                FROM w, UNNEST(ws) AS u(term) GROUP BY doc_id, u.term),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(count(*) AS BIGINT) AS N FROM w),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, d.df,
             round(tf.tf * ln(CAST(n.N AS DOUBLE) / d.df), 6) AS score
           FROM tf JOIN d USING (term), n),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS INT) AS rank FROM s)
         SELECT doc_id, term, tf, df, score, rank FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank""") { (s, dir) =>
    graft.operators.Retrieval.tfidfTopK(t(s, dir, "documents"), "doc_id",
        "text", k = 3)
      .orderBy("doc_id", "rank")
  }

  /** Hashing-trick TF vectors at 64 buckets — vocabulary-free featurization;
    * the md5 bucketing replays byte-for-byte in the oracle. */
  gate("t31_feature_hash",
      """WITH w AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 64 AS bucket
           FROM w)
         SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
         FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""") { (s, dir) =>
    graft.operators.Retrieval.hashingTf(t(s, dir, "documents"),
        "doc_id", "text", numBuckets = 64)
      .orderBy("doc_id", "bucket")
  }

  /** Sentence segmentation stats: terminator-run spans, first sentence,
    * exact mean length — the same pattern byte-for-byte in both regex
    * engines. See [[graft.functions.TextFunctions.sentences]]. */
  gate("t35_sentences",
      """WITH sx AS (SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
               s -> s <> '') AS sn
           FROM documents)
         SELECT doc_id, CAST(len(sn) AS BIGINT) AS n_sentences,
           COALESCE(sn[1], '') AS first_sentence,
           CASE WHEN len(sn) > 0 THEN
             CAST(list_sum(list_transform(sn, s -> length(s))) AS DOUBLE)
               / len(sn) END AS mean_len
         FROM sx ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.sentences(col("text")).as("sn"))
      .select(col("doc_id"),
        size(col("sn")).cast("long").as("n_sentences"),
        coalesce(element_at(col("sn"), 1), lit("")).as("first_sentence"),
        when(size(col("sn")) > 0,
          aggregate(col("sn"), lit(0L), (a, x) => a + length(x))
            .cast("double") / size(col("sn"))).as("mean_len"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted Bernoulli sample: inclusion probability =
    * clamped length-based weight, decided by a salted md5 uniform both
    * engines compute identically. See
    * [[graft.operators.Sampling.weightedSample]]. */
  gate("t36_weighted_sample",
      """SELECT doc_id, source, n_chars FROM documents
         WHERE CAST(concat('0x', substr(md5(concat('gw',
             CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0
           < least(1.0, greatest(0.0, n_chars / 800.0))
         ORDER BY doc_id""") { (s, dir) =>
    graft.operators.Sampling.weightedSample(t(s, dir, "documents"),
        "doc_id", weight = col("n_chars") / 800.0)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Distribution-matching downsample: flatten the documents length
    * histogram (400-char bins, uniform target) via
    * [[graft.operators.Sampling.matchDistribution]] — per-bin keep
    * fractions planned by one bounded counting pass, decided per-row by
    * an exact BIGINT cross-multiplied inequality over a salted md5 slice,
    * so the oracle replays every acceptance decision bit-for-bit. */
  gate("t41_dist_match",
      // replays matchDistribution: counts -> cross-multiplied argmax bin ->
      // exact BIGINT acceptance inequality over the salted md5 slice
      """WITH d AS (SELECT doc_id, length(text) // 400 AS bin
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         stats AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(1 AS BIGINT) AS w FROM d GROUP BY bin),
         ref AS (SELECT n AS rn, w AS rw FROM stats s
           WHERE NOT EXISTS (SELECT 1 FROM stats o
             WHERE o.w * s.n > s.w * o.n
                OR (o.w * s.n = s.w * o.n AND o.bin < s.bin)))
         SELECT d.doc_id, d.bin
         FROM d JOIN stats ON d.bin = stats.bin CROSS JOIN ref
         WHERE CAST(concat('0x',
             substr(md5('dm1' || CAST(doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
           * stats.n * ref.rw < 1048576 * stats.w * ref.rn
         ORDER BY doc_id""") { (s, dir) =>
    val d = t(s, dir, "documents")
      .withColumn("bin", expr("CAST(length(text) AS BIGINT) DIV 400"))
    graft.operators.Sampling.matchDistribution(d, "bin", "doc_id", salt = "dm1")
      .select(col("doc_id"), col("bin"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement via deterministic priority
    * sampling ([[graft.operators.Sampling.prioritySample]]): top-100
    * documents by `n_chars / u(doc_id)`. The oracle replays the salted
    * uniform and the division literally. */
  gate("t43_priority_sample",
      // top-k by weight/u with the salted uniform replayed literally
      """SELECT doc_id, source FROM (
           SELECT doc_id, source FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
           ORDER BY CAST(n_chars AS DOUBLE) /
               ((CAST(concat('0x', substr(md5('pw' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) + 1.0) / 4294967296.0) DESC,
             doc_id
           LIMIT 100)
         ORDER BY doc_id""") { (s, dir) =>
    graft.operators.Sampling.prioritySample(t(s, dir, "documents"),
        "doc_id", col("n_chars"), k = 100, salt = "pw")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic θ-sketch overlap: the click-user and view-user KMV
    * sketches (k=64) intersected
    * ([[graft.operators.Theta.intersectEstimate]]); every quantity —
    * θ, shared-hash count, the integer-quotient estimate — is a pure
    * function of the data, so the oracle replays the ESTIMATOR itself. */
  gate("t47_theta_intersect",
      // the whole KMV estimator replayed: hashes, kth-smallest theta,
      // shared hashes below it, exact integer quotient
      """WITH ha AS (SELECT DISTINCT CAST(concat('0x',
             substr(md5('th' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         hb AS (SELECT DISTINCT CAST(concat('0x',
             substr(md5('th' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
         ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         u AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
               ORDER BY h LIMIT 64),
         t AS (SELECT CASE WHEN (SELECT count(*) FROM u) < 64
               THEN 4294967296 ELSE (SELECT max(h) FROM u) END AS theta),
         c AS (SELECT count(*) AS n_common
           FROM (SELECT h FROM ska INTERSECT SELECT h FROM skb) x, t
           WHERE x.h < t.theta)
         SELECT CAST(t.theta AS BIGINT) AS theta,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST(c.n_common * 4294967296 // t.theta AS BIGINT)
             AS est_intersection
         FROM t, c""") { (s, dir) =>
    val ev = Fixtures.events(s, dir)
    def sk(t: String) = graft.operators.Theta.sketch(
      ev.filter(col("event_type") === t).select("user_id"), "user_id", k = 64)
    graft.operators.Theta.intersectEstimate(sk("click"), sk("view"), k = 64)
  }

  /** Markup → clean text over a per-document synthetic HTML wrapper:
    * title/heading blocks, dropped style/script/comment content, entity
    * references, a literal `<`, numeric entities and list items — the
    * extractor must reduce it to the documented text + newline structure,
    * which the oracle states DIRECTLY as a SQL string expression (no
    * HTML parsing in DuckDB; the fixture is built by the same concat on
    * both sides). Edge grammar is pinned by MarkupExtractSpec.
    * See [[graft.functions.MarkupExtractExpr]]. */
  gate("t48_markup_extract",
      // the fixture is built by the same concat on both sides, so the
      // expected extraction is a DIRECT string expression — no HTML
      // parsing in the oracle (title/h1/p/div/li are block tags, style/
      // script/comment content drops, &amp;/&nbsp;/&#97; decode, a bare
      // '< ' stays literal)
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) ||
           'heading ' || doc_id || chr(10) ||
           text || ' & more text' || chr(10) ||
           'bold and italic words < 5 alpha' || chr(10) ||
           'first' || chr(10) || 'second' AS clean
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style type=\"text/css\">body {color: red}</style>"),
      lit("<script>if (1 &lt; 2) { alert(\"x\"); }</script></head>"),
      lit("<body><h1 class=\"t\">heading "), col("doc_id"), lit("</h1>"),
      lit("<!-- hidden "), col("lang"), lit(" --><p>"), col("text"),
      lit(" &amp; more&nbsp;text</p>"),
      lit("<div><b>bold</b> and <i>italic</i> words < 5 &#97;lpha</div>"),
      lit("<ul><li>first</li><li>second</li></ul></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.extractMarkup(html).as("clean"))
      .orderBy("doc_id")
  }

  /** MAIN-CONTENT extraction (t48's tag-stripper plus WSDM 2010 block
    * densitometry and HTML5 landmark pruning) over a per-document page
    * with planted chrome: title, a link-only nav bar, an ad-carrying
    * aside and a footer must ALL drop, while the two long body
    * paragraphs survive — the oracle states the surviving text directly
    * (the t48 convention: fixture built by the same concat on both
    * sides, no HTML parsing in DuckDB). Both filler sentences exceed
    * the classifier's 16-word threshold on their own, so the verdict
    * never depends on the corpus text's length. Classifier contours
    * (teaser pruning, neighbor rescue, missing `</head>`) are pinned by
    * MainContentSpec. See [[graft.functions.MainContentExpr]]. */
  private val mcFiller1 = "Lead filler sentence with comfortably more " +
    "than the sixteen words the shallow classifier needs to call a " +
    "block content:"
  private val mcFiller2 = "A second body paragraph likewise carries " +
    "enough running words to stand as content on its own after the aside:"

  /** The t65/t65b fixture page: planted title/nav/aside/footer chrome
    * around two filler-led body paragraphs. */
  private def mcFixtureHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id"),
    lit("</title></head><body>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
      " <a href=\"/contact\">Contact</a></nav>"),
    lit(s"<p>$mcFiller1 "), col("text"), lit("</p>"),
    lit("<aside>Sponsored <a href=\"/deal"), col("doc_id"),
    lit("\">deal</a> today</aside>"),
    lit(s"<p>$mcFiller2 "), col("text"), lit("</p>"),
    lit("<footer>Copyright "), col("doc_id"),
    lit(" <a href=\"/privacy\">Privacy</a></footer></body></html>"))

  /** The web-to-corpus CLEANING chain composed end to end: the t65
    * fixture page grows a third ≥16-word paragraph of CONSTANT
    * boilerplate (long enough that the shallow content classifier
    * must call it content — exactly the text the cross-document
    * frequency rule exists to catch) and a planted mojibake suffix on
    * every doc_id % 3 == 0 body; main-content extraction, byte-level
    * mojibake repair, d26's corpus-frequency line drop and t80's
    * domain-quality filter then run as ONE DataFrame program. The
    * oracle replays all four stages in a single CTE chain — any
    * inter-stage contract drift (the t75 lesson) goes red. */
  gate("t89_web_clean",
      // all four stages in one CTE chain: the extraction + repair stated
      // closed-form (the t65/t84 conventions), the line-frequency rule
      // counted from scratch, the domain flag cross-multiplied
      ("""WITH clean AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || ' caf""" + "é it’s —" + """ done'
               ELSE text END AS ct
           FROM documents),
         content AS (SELECT doc_id,
             'Lead filler sentence with comfortably more than the sixteen '
               || 'words the shallow classifier needs to call a block '
               || 'content: ' || ct || chr(10) ||
             'A second body paragraph likewise carries enough running '
               || 'words to stand as content on its own after the aside: '
               || ct || chr(10) ||
             'please subscribe to our newsletter today for many more '
               || 'updates delivered directly to your inbox every single '
               || 'morning friend' AS text
           FROM clean),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
           FROM content),
         lines AS (SELECT doc_id, i - 1 AS pos, l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i)),
         freq AS (SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 3),
         kept AS (SELECT li.doc_id, li.pos, li.line FROM lines li
           LEFT JOIN freq f ON f.line = li.line WHERE f.line IS NULL),
         agg AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           FROM lines GROUP BY doc_id),
         cleaned AS (SELECT t.doc_id,
             COALESCE(a.text_clean, '') AS text_clean,
             CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
           FROM tot t LEFT JOIN agg a USING (doc_id)),
         u AS (SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'news.example.com'
               WHEN 1 THEN 'blog.example.co.uk'
               WHEN 2 THEN 'ads.spamfarm.co.uk'
               WHEN 3 THEN 'example.org'
               WHEN 4 THEN 'cdn.assets.example.org'
               ELSE 'static.junk.com' END AS host,
             CAST(concat('0x', substr(md5('dq:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS b
           FROM documents),
         sc AS (SELECT doc_id, host,
             CASE WHEN doc_id % 6 = 2 THEN b % 30 ELSE b % 70 + 30 END
               AS score
           FROM u),
         reg AS (SELECT doc_id, score,
             CASE WHEN lsx[nl - 1] || '.' || lsx[nl] IN
                 ('co.uk', 'ac.uk', 'github.io')
               THEN lsx[nl - 2] || '.' || lsx[nl - 1] || '.' || lsx[nl]
               ELSE lsx[nl - 1] || '.' || lsx[nl] END AS domain
           FROM (SELECT doc_id, score, string_split(host, '.') AS lsx,
               CAST(len(string_split(host, '.')) AS INT) AS nl FROM sc) x),
         flagged AS (SELECT domain FROM
             (SELECT domain, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(score) AS BIGINT) AS ss
              FROM reg GROUP BY domain) g
           WHERE ss * 1 < n * 40)
         SELECT r.doc_id, r.domain, CAST(r.score AS BIGINT) AS score,
           c.text_clean, c.n_dropped
         FROM reg r JOIN cleaned c USING (doc_id)
         LEFT JOIN flagged f ON f.domain = r.domain
         WHERE f.domain IS NULL ORDER BY r.doc_id""")) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val moji = " cafÃ© itâ€™s " +
      "â€” done"
    val boiler = "please subscribe to our newsletter today for many " +
      "more updates delivered directly to your inbox every single " +
      "morning friend"
    val dirty = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(moji))).otherwise(col("text"))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
        " <a href=\"/contact\">Contact</a></nav>"),
      lit(s"<p>$mcFiller1 "), dirty, lit("</p>"),
      lit("<aside>Sponsored <a href=\"/deal"), col("doc_id"),
      lit("\">deal</a> today</aside>"),
      lit(s"<p>$mcFiller2 "), dirty, lit("</p>"),
      lit(s"<p>$boiler</p>"),
      lit("<footer>Copyright "), col("doc_id"),
      lit(" <a href=\"/privacy\">Privacy</a></footer></body></html>"))
    // dropFrequentLines consumes its input THREE times (frequent-line
    // count, anti-join keep, per-doc line count); uncached, the
    // mainContent + mojibake kernels re-ran per consumer. Persist the
    // kernel output once per computation (r20 optimization round, guide
    // §5.2); the cheap split/posexplode still runs per consumer — the
    // shuffle structure (tiny (hash, count) aggregates, anti-join) is
    // unchanged, only the expensive map-side kernels are deduplicated.
    val extracted = docs.select(col("doc_id"),
        graft.functions.MojibakeRepairExpr(
          graft.functions.TextFunctions.mainContent(html)).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lined = graft.operators.Dedup.dropFrequentLines(
      extracted, "doc_id", "text", minCount = 3)
    val hosts = array(lit("news.example.com"), lit("blog.example.co.uk"),
      lit("ads.spamfarm.co.uk"), lit("example.org"),
      lit("cdn.assets.example.org"), lit("static.junk.com"))
    val base = conv(substring(md5(concat(lit("dq:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val scored = lined.select(col("doc_id"), col("text_clean"),
      col("n_dropped"),
      concat(lit("https://"),
        element_at(hosts, (col("doc_id") % 6 + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")).as("url"),
      when(col("doc_id") % 6 === 2, base % 30)
        .otherwise(base % 70 + 30).as("score"))
    graft.operators.CacheRelease.afterFirstAction(
      graft.operators.Frontier.dropLowQualityDomains(scored, "url", "score",
          Seq("com", "org", "net", "co.uk", "ac.uk", "github.io"),
          minMeanNum = 40L)
        .select(col("doc_id"), col("domain"), col("score"),
          col("text_clean"), col("n_dropped"))
        .orderBy("doc_id"),
      Seq(extracted))
  }

  /** JSON-LD structured-data harvest
    * ([[graft.functions.TextFunctions.jsonLdBlocks]] +
    * `get_json_object`): each fixture page carries an Article block
    * (doc-derived name/wordCount), a Product block on doc_id % 5 == 0,
    * and a MALFORMED decoy block whose fields must surface as nulls —
    * never a task kill, never silently dropped (the block itself still
    * counts). The oracle states the planted fields in closed form. */
  gate("t91_jsonld",
      // the planted blocks stated in closed form: Article always at ix 0,
      // Product at ix 1 on the %5 docs, the malformed decoy last with
      // all-null fields (parsed leniently, counted positionally)
      """WITH a AS (SELECT doc_id, 0 AS block_ix, 'Article' AS jtype,
             'Doc ' || doc_id AS name, CAST(n_chars AS BIGINT) AS word_count
           FROM documents),
         p AS (SELECT doc_id, 1 AS block_ix, 'Product' AS jtype,
             'Gadget ' || doc_id AS name, CAST(NULL AS BIGINT) AS word_count
           FROM documents WHERE doc_id % 5 = 0),
         dk AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS block_ix,
             CAST(NULL AS VARCHAR) AS jtype, CAST(NULL AS VARCHAR) AS name,
             CAST(NULL AS BIGINT) AS word_count
           FROM documents)
         SELECT doc_id, CAST(block_ix AS INT) AS block_ix, jtype, name,
           word_count
         FROM (SELECT * FROM a UNION ALL SELECT * FROM p
               UNION ALL SELECT * FROM dk) u
         ORDER BY doc_id, block_ix""") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val article = concat(
      lit("""<script type="application/ld+json">{"@type":"Article","name":"Doc """),
      col("doc_id"), lit("""","wordCount":"""), col("n_chars"),
      lit("}</script>"))
    val product = when(col("doc_id") % 5 === 0, concat(
      lit("""<script TYPE='application/ld+json'> {"@type":"Product","name":"Gadget """),
      col("doc_id"), lit(""""} </script>"""))).otherwise(lit(""))
    val decoy = lit(
      """<script type="application/ld+json">{"@type": broken</script>""")
    val html = concat(lit("<html><head>"), article, product, decoy,
      lit("</head><body><script>var x = 1;</script>ignored</body></html>"))
    docs.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.jsonLdBlocks(html))
          .as(Seq("block_ix", "__b")))
      .select(col("doc_id"), col("block_ix").cast("int").as("block_ix"),
        get_json_object(col("__b"), "$['@type']").as("jtype"),
        get_json_object(col("__b"), "$.name").as("name"),
        get_json_object(col("__b"), "$.wordCount").cast("long")
          .as("word_count"))
      .orderBy("doc_id", "block_ix")
  }

  gate("t65_main_content",
      // planted chrome (title/nav/aside/footer) drops; the two filler-led
      // body paragraphs survive verbatim — stated directly, t48-style
      """SELECT doc_id,
           'Lead filler sentence with comfortably more than the sixteen '
             || 'words the shallow classifier needs to call a block '
             || 'content: ' || text || chr(10) ||
           'A second body paragraph likewise carries enough running '
             || 'words to stand as content on its own after the aside: '
             || text AS content
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.mainContent(mcFixtureHtml)
          .as("content"))
      .orderBy("doc_id")
  }

  /** The per-BLOCK feature table of the same fixture page (the WSDM
    * 2010 shallow features as data): six blocks per document in page
    * order, every word/anchor count, chrome flag and content verdict
    * closed-form — the training-data shape for a custom content
    * classifier, and an audit surface for the built-in verdicts. The
    * blocks→verdict composition identity (content blocks joined = the
    * t65 scalar) is spec-pinned.
    * See [[graft.functions.MainContentBlocksExpr]]. */
  gate("t65b_main_content_blocks",
      // six blocks per doc in page order, every stat and verdict stated
      // directly (filler word counts: 19 each; W = the doc's own words)
      """WITH w AS (SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS INT) AS tw
           FROM documents),
         b AS (
           SELECT doc_id, 0 AS block_ix,
             'Doc ' || doc_id AS btext, 2 AS words, 0 AS anchor_words,
             1 AS chrome, 0 AS is_content FROM w
           UNION ALL
           SELECT doc_id, 1, 'Home About Contact', 3, 3, 1, 0 FROM w
           UNION ALL
           SELECT doc_id, 2,
             'Lead filler sentence with comfortably more than the '
               || 'sixteen words the shallow classifier needs to call a '
               || 'block content: ' || text,
             19 + tw, 0, 0, 1 FROM w
           UNION ALL
           SELECT doc_id, 3, 'Sponsored deal today', 3, 1, 1, 0 FROM w
           UNION ALL
           SELECT doc_id, 4,
             'A second body paragraph likewise carries enough running '
               || 'words to stand as content on its own after the '
               || 'aside: ' || text,
             19 + tw, 0, 0, 1 FROM w
           UNION ALL
           SELECT doc_id, 5, 'Copyright ' || doc_id || ' Privacy',
             3, 1, 1, 0 FROM w)
         SELECT doc_id, CAST(block_ix AS INT) AS block_ix, btext,
           CAST(words AS INT) AS words,
           CAST(anchor_words AS INT) AS anchor_words,
           CAST(chrome AS INT) AS chrome,
           CAST(is_content AS INT) AS is_content
         FROM b ORDER BY doc_id, block_ix""") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.mainContentBlocks(mcFixtureHtml)))
      .select(col("doc_id"), col("pos").cast("int").as("block_ix"),
        col("col.text").as("btext"), col("col.words").as("words"),
        col("col.anchor_words").as("anchor_words"),
        col("col.chrome").cast("int").as("chrome"),
        col("col.is_content").cast("int").as("is_content"))
      .orderBy("doc_id", "block_ix")
  }

  /** Conversation assembly over the event log: per-user ordered
    * transcript of "event_type: props" lines, capped at 50 turns (some
    * users exceed it at this SF, so the WindowGroupLimit cap binds and
    * the oracle replays it). See [[graft.operators.Conversations]]. */
  gate("t30_conversations",
      """WITH r AS (SELECT user_id, event_type || ': ' || props AS line,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS seq
           FROM events),
         k AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
             string_agg(line, chr(10) ORDER BY seq) AS transcript
           FROM r WHERE seq <= 50 GROUP BY user_id)
         SELECT user_id, n_turns, transcript,
           CAST(length(transcript) AS BIGINT) AS n_chars
         FROM k ORDER BY user_id""") { (s, dir) =>
    graft.operators.Conversations.assemble(
        Fixtures.events(s, dir), "user_id", "ts", "event_id",
        roleCol = col("event_type"), textCol = col("props"), maxTurns = 50)
      .orderBy("user_id")
  }
}
