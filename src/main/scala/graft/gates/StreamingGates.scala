package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.core._
import graft.functions.TextFunctions
import graft.operators.{Ann, AsofJoin, Dedup, Pq}

/** Streaming gates, `stN_*`: micro-batch ingest, sinks and stateful
  * streaming operators. */
object StreamingGates extends GateFamily {
  import GateSupport._

  /** Streaming CDC upsert: the s26 delta (doubled prices, inserts,
    * deletes) staged as THREE files and applied micro-batch by
    * micro-batch through [[graft.streaming.Streams.upsertStream]] — the
    * final table must equal the one-shot batch merge, which is exactly
    * s26's oracle (shared verbatim). */
  gate("st17_stream_upsert",
      // streamed in three micro-batches, must equal the one-shot merge
      """WITH upd AS (SELECT o_orderkey, o_orderpriority,
             o_totalprice * 2 AS o_totalprice
           FROM orders WHERE o_orderkey % 7 = 0),
         ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority,
             o_totalprice
           FROM orders WHERE o_orderkey % 11 = 0),
         survivors AS (SELECT o_orderkey, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0)
         SELECT o_orderkey, o_orderpriority, o_totalprice FROM
           (SELECT * FROM survivors UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins)
         ORDER BY o_orderkey""") { (s, dir) =>
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val out = s"/tmp/graft_fixtures/upsert_tbl_$tag"
    val src = s"/tmp/graft_fixtures/upsert_src_$tag"
    val cp = s"/tmp/graft_fixtures/upsert_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(out, src, cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val orders = t(s, dir, "orders")
    Graft.writePartitionedTable(orders, out, Seq("o_orderpriority"))
    val updates = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("__del", lit(false))
    val deletes = orders
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 7 =!= 0)
      .withColumn("__del", lit(true))
    val inserts = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("__del", lit(false))
    for (slice <- Seq(updates, deletes, inserts))
      slice.coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.upsertStream(stream, out,
      keyCols = Seq("o_orderpriority", "o_orderkey"),
      partitionCols = Seq("o_orderpriority"), checkpoint = cp,
      deleteCol = Some("__del"))
    try q.processAllAvailable() finally q.stop()
    Graft.readPartitionedTable(s, out)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Streaming inverted-index ingest
    * ([[graft.streaming.Streams.invertedIngest]]): the even-id half of
    * the corpus builds the base index, the odd half arrives as two
    * micro-batches whose postings AND stats rows commit exactly-once
    * under batch tags — and the post-stream index must answer the
    * t88-style top-k EXACTLY as a from-scratch full-corpus computation
    * (a double-counted stats row or a lost batch shifts avgdl/df and
    * the hash). */
  gate("st24_stream_inverted",
      // the t88 recomputation at k=25: the streamed index must answer as
      // if built from the full corpus in one shot
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
         SELECT doc_id, score, rank FROM rk WHERE rank <= 25
         ORDER BY rank""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/invingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(conf).delete(bp, true)
    val (src, idx, cp) = (s"$base/src", s"$base/idx", s"$base/cp")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Retrieval.invertedIndexBuildAndWrite(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx,
      numBuckets = 16)
    for (part <- Seq(1, 3))
      docs.filter(col("doc_id") % 4 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.invertedIngest(
      stream, "doc_id", "text", idx, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Retrieval.invertedIndexQuery(s, idx,
        Seq("agg", "scan", "window"), k = 25)
      .orderBy("rank")
  }

  /** d26's STREAMING twin: the line-frequency table as a continuously
    * maintained sidecar — docs arrive in micro-batches, each batch's
    * line counts merge exactly-once into the
    * [[graft.api.Graft.maintainAggregate]] rollup, and the boilerplate
    * set at any instant is one filter over the sidecar (bounded by
    * DISTINCT lines, not stream length). The oracle recounts the full
    * fixture from scratch — the maintained counts must equal the batch
    * recount exactly. */
  gate("st23_stream_boilerplate",
      // the full fixture recounted from scratch: the exactly-once
      // maintained sidecar must equal the batch recount
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
         lines AS (SELECT l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i))
         SELECT line, CAST(count(*) AS BIGINT) AS n_rows
         FROM lines GROUP BY line HAVING count(*) >= 3 ORDER BY line""") { (s, dir) =>
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = s"/tmp/graft_fixtures/strline_src_$tag"
    val sidecar = s"/tmp/graft_fixtures/strline_side_$tag"
    val cp = s"/tmp/graft_fixtures/strline_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(src, sidecar, sidecar + ".graft_agg_staging",
        sidecar + ".graft_agg_retired", cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val lined = linedDocs(s, dir)
    for (part <- 0 to 2)
      lined.filter(col("doc_id") % 3 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val lines = stream.select(explode(split(col("text"), "\n")).as("line"))
    val q = graft.streaming.Streams.maintainAggregateStream(
      lines, sidecar, Seq("line"), Seq.empty, cp)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(sidecar).filter(col("n_rows") >= 3)
      .select(col("line"), col("n_rows")).orderBy("line")
  }

  /** Streaming FEED ingest — t95's discovery leg as a stream (st22's
    * exactly-once recipe one stage earlier in the pipeline): two
    * ordered micro-batches of feed FETCHES flow through
    * [[graft.operators.Frontier.feedEntries]] (a stateless map-side
    * transform, so it rides the stream) into
    * [[graft.streaming.Streams.seenIngest]] — wave 1 publishes half of
    * every site's entries (evens), wave 2 the full feeds (every wave-1
    * entry is a REDISCOVERY — exactly what a feed poll looks like).
    * Post-stream, the history must hold every entry URL exactly once. */
  gate("st25_stream_feeds",
      // feed polls streamed: wave 2 re-publishes every wave-1 entry, the
      // anti-join must still land every entry URL exactly once
      """SELECT doc_id,
           'http://f' || (doc_id % 5) || '.com/a?id=' || doc_id AS url,
           CAST(1 AS BIGINT) AS n_copies
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/feed_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    def feedsOf(docs: DataFrame): DataFrame = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(
        concat(lit("http://f"), col("site").cast("string"),
          lit(".com/feed.xml")).as("feed_url"),
        concat(lit("<feed>"),
          array_join(transform(col("ids"), i => concat(
            lit("<entry><link href=\"http://f"), col("site").cast("string"),
            lit(".com/a?id="), i.cast("string"),
            lit("\"/><updated>u</updated></entry>"))), ""),
          lit("</feed>")).as("xml"))
    val w1 = feedsOf(d.filter(col("doc_id") % 2 === 0))
    val w2 = feedsOf(d)
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val entries = graft.operators.Frontier.feedEntries(
      stream, "feed_url", "xml")
    val q = graft.streaming.Streams.seenIngest(entries, "entry_url", hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.seenUrls(s, hist)
      .groupBy("url").agg(count(lit(1)).as("n_copies"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "n_copies")
      .orderBy("doc_id")
  }

  /** Streaming redirect ingest
    * ([[graft.streaming.Streams.redirectIngest]]): wave 1 = single-hop
    * permanent moves (`u<d> → v<d>`, 301) for d%10==1; wave 2 =
    * complete 2-hop chains in one batch (`a<d> → b<d> → c<d>`,
    * 301+308) for d%10==3 — the batch-local chain contract. The
    * post-stream [[graft.operators.Frontier.redirectMoves]] read must
    * show both waves' resolutions exactly once. */
  gate("st27_stream_redirects",
      // two streamed waves in closed form: wave 1 single permanent hops,
      // wave 2 complete 2-hop chains resolved batch-locally
      """WITH r AS (
           SELECT 'u' || doc_id AS url, 'v' || doc_id AS final_url,
                  CAST(1 AS BIGINT) AS hops, true AS permanent,
                  'resolved' AS outcome
           FROM documents WHERE doc_id % 10 = 1
           UNION ALL
           SELECT 'a' || doc_id, 'c' || doc_id, CAST(2 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT 'b' || doc_id, 'c' || doc_id, CAST(1 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           -- the cross-batch chain: wave 2's t -> u extends through the
           -- committed wave-1 move u -> v to the direct t -> v row
           SELECT 't' || doc_id, 'v' || doc_id, CAST(2 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 1)
         SELECT * FROM r ORDER BY url""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/redirect_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, moves, cp) = (s"$base/incoming", s"$base/moves", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    val sid = col("doc_id").cast("string")
    val w1 = d.filter(col("doc_id") % 10 === 1)
      .select(concat(lit("u"), sid).as("url"), lit(301).as("status"),
        concat(lit("v"), sid).as("location"))
    val w2 = d.filter(col("doc_id") % 10 === 3)
      .select(concat(lit("a"), sid).as("url"), lit(301).as("status"),
        concat(lit("b"), sid).as("location"))
      .unionByName(d.filter(col("doc_id") % 10 === 3)
        .select(concat(lit("b"), sid).as("url"), lit(308).as("status"),
          concat(lit("c"), sid).as("location")))
      // CROSS-BATCH chain: t<d> redirects onto u<d>, which wave 1
      // already moved permanently to v<d> — the ingest's
      // extendThroughMoves leg must write the direct t→v row (hops 2,
      // permanent end-to-end), not the stale t→u
      .unionByName(d.filter(col("doc_id") % 10 === 1)
        .select(concat(lit("t"), sid).as("url"), lit(308).as("status"),
          concat(lit("u"), sid).as("location")))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.redirectIngest(stream, moves, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.redirectMoves(s, moves).orderBy("url")
  }

  /** Streaming fetch-outcome ingest
    * ([[graft.streaming.Streams.outcomeIngest]]): wave 1 = the
    * bootstrap 200s (hash v0, ETags on evens), wave 2 = the revisit —
    * 304 Not Modified for evens (the fold must reuse v0 and carry the
    * ETag forward into the appended row), 200 with fresh content for
    * odds. The post-stream [[graft.operators.Frontier.fetchHistory]] +
    * [[graft.operators.Frontier.revalidationPlan]] read must show the
    * doubled interval on the 304 side and the halved one on the 200
    * side — the whole conditional-recrawl loop, exactly-once. */
  gate("st26_stream_outcomes",
      // the streamed conditional-recrawl loop in closed form: the 304
      // side doubles (carried hash + ETag), the 200 side halves
      """SELECT
           'https://h' || (doc_id % 20) || '.example.com/p' || doc_id
             AS url,
           CAST(2 AS BIGINT) AS n_fetches,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS n_changes,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 800 ELSE 200 END AS BIGINT)
             AS interval_sec,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 10000800 ELSE 10000200 END
             AS BIGINT) AS next_due,
           doc_id % 2 <> 0 AS due,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           doc_id % 2 = 0 AS conditional
         FROM documents ORDER BY url""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/outcome_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val w1 = d.select(url.as("url"),
      (col("doc_id") * 1000).as("ts"), lit("v0").as("h"),
      when(col("doc_id") % 2 === 0,
        concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
      lit(null).cast("long").as("lm"), lit(200).as("status"))
    val w2 = d.select(url.as("url"),
      lit(10000000L).as("ts"),
      when(col("doc_id") % 2 =!= 0, lit("v1")).as("h"),
      lit(null).cast("string").as("etag"),
      lit(null).cast("long").as("lm"),
      when(col("doc_id") % 2 === 0, lit(304)).otherwise(lit(200))
        .as("status"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.outcomeIngest(stream, hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.revalidationPlan(
        graft.operators.Frontier.fetchHistory(s, hist),
        "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** Streaming seen-URL ingest — the multi-wave crawl history as a
    * stream (st9's exactly-once recipe applied to URLs): two ordered
    * micro-batches (evens, then thirds) flow through
    * [[graft.streaming.Streams.seenIngest]]; the post-stream history
    * must hold every discovered url EXACTLY once — wave 2's
    * rediscoveries excluded by the anti-join, crash replays converged
    * by the tagged append + commit marker. The oracle states the
    * distinct-union-with-count-1 contract in closed form. */
  gate("st22_stream_seen",
      // the streamed two-wave history: every discovered url exactly once
      """SELECT doc_id, 'http://w.com/p' || doc_id AS url,
           CAST(1 AS BIGINT) AS n_copies
         FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
         ORDER BY doc_id""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/seen_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents")
    val url = concat(lit("http://w.com/p"), col("doc_id").cast("string"))
    val w1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), url.as("url"))
    val w2 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), url.as("url"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.seenIngest(stream, "url", hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.seenUrls(s, hist)
      .groupBy("url").agg(count(lit(1)).as("n_copies"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "n_copies")
      .orderBy("doc_id")
  }

  /** Streaming ANN index growth — st8's analog for IVF: the index is
    * built from the organic corpus, then TWO ordered micro-batches
    * (junk first, then planted near-copies of the query) flow through
    * [[graft.streaming.Streams.ivfIngest]] — per-batch assignment to the
    * stored centroids + replay-idempotent tagged append, no rebuild. The
    * post-stream probe must surface exactly the streamed-in planted ids
    * at ranks 1..10, proving the index grew correctly across batches. */
  gate("st9_stream_ivf_ingest",
      // same enumerable contract: the streamed-in planted copies (and ONLY
      // they) dominate the probe at cosine 1.0, tie-broken by vec_id
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/ivf_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val baseCorpus = t(s, dir, "embeddings")
    Ann.ivfWrite(Ann.ivfBuild(baseCorpus, "vec_id", "embedding", nlist = 16), idx)
    val q0 = baseCorpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.ivfIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    Ann.ivfTopK(Ann.ivfRead(s, idx), "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Streaming GRAPH-index growth — st9's analog for the NSW serving
    * index: the graph index is built and persisted from the organic
    * corpus, then TWO ordered micro-batches (junk at ids 9500000+i
    * first, then planted query copies at the LARGER ids 9600000+i —
    * monotone within every cluster by construction) flow through
    * [[graft.streaming.Streams.nswIngest]] — per-batch frozen-centroid
    * append plus in-place touched-cluster graph insertion, commit
    * markers for exactly-once. The post-stream probe over the RE-READ
    * index (fresh witness on both batches) must surface exactly the
    * streamed-in planted ids at ranks 1..10: a batch whose graph
    * insertion was skipped would leave the planted family unreachable
    * and the witness red. */
  gate("st19_stream_nsw_ingest",
      // the graph-ingest twin: the SECOND streamed batch's planted family
      // must be reachable through the incrementally-grown graphs
      """SELECT CAST(9600000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/nsw_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val baseCorpus = t(s, dir, "embeddings")
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(
        Ann.ivfBuild(baseCorpus, "vec_id", "embedding", nlist = 16),
        "vec_id", m = 8, efConstruction = 32), idx)
    val q0 = baseCorpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.nswIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, idx), queryVec(s, dir),
        k = 10, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Arbitrary stateful streaming (flatMapGroupsWithState): per-user running
    * (count, exact decimal-cents sum, click count) in custom state; Update
    * mode emits the running totals each micro-batch, and the gate keeps each
    * user's FINAL state (largest n — counters are monotone). The oracle is
    * the plain batch aggregate: a correct replay-to-exhaustion of the custom
    * state machine must land on exactly the batch answer. */
  gate("st11_stream_stateful",
      """SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS n_click
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val running = graft.streaming.Streams.userRunningStats(
      graft.streaming.Streams.eventsStream(s, dir))
    val sunk = graft.streaming.Streams.runToMemory(
      running, s"st11_${math.abs(dir.hashCode)}", outputMode = "update")
    val w = Window.partitionBy("user_id").orderBy(col("n").desc)
    sunk.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n", "sum_value", "n_click")
      .orderBy("user_id")
  }

  /** Streaming PQ index growth — st9's analog for the quantized serving
    * table: codes are persisted from the organic corpus, then junk and
    * planted batches stream through [[graft.streaming.Streams.pqIngest]]
    * (encode against the STORED codebooks + replay-idempotent tagged
    * append). The planted batch carries VERBATIM copies of the query at
    * NEGATIVE ids: a verbatim copy's code is per-subspace the argmin cell
    * for the query, so its ADC distance is the global minimum over all
    * possible codes, and negative ids win every tie-break against the
    * organic corpus (ids ≥ 0) — the streamed ids at ranks 1..10 are
    * enumerable truth regardless of how the lossy quantizer treats the
    * organic rows. */
  gate("st10_stream_pq_ingest",
      // streamed verbatim copies of the query at negative ids: global-minimum
      // ADC by construction, ties lost by every organic id >= 0
      """SELECT CAST(i - 10 AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/pq_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val corpus = t(s, dir, "embeddings")
    val model = Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 16)
    Pq.pqWrite(Pq.pqEncode(corpus, "vec_id", "embedding", model), model, idx)
    val q0 = corpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") - 10L).as("vec_id"),
      col("embedding"), col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.pqIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    val (stored, codes) = Pq.pqRead(s, idx)
    Pq.pqTopK(codes, "vec_id", queryVec(s, dir), stored, k = 10,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  gate("st1_stream_window",
      """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""") { (s, dir) =>
    val agg = graft.streaming.Streams.windowedAgg(
      graft.streaming.Streams.eventsStream(s, dir))
    graft.streaming.Streams.runToMemory(agg, s"st1_${math.abs(dir.hashCode)}")
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")
  }

  /** Streaming expectation audit: Expect's counters accumulated ACROSS
    * micro-batches in the state store; the final rows must equal the
    * batch audit over everything delivered (the oracle recomputes). */
  gate("st12_stream_audit",
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN NOT coalesce(value > 0, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v0,
           CAST(SUM(CASE WHEN NOT coalesce(event_type IN
             ('view','click','purchase','signup','error'), FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(SUM(CASE WHEN NOT coalesce(user_id < 150, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(SUM(CASE WHEN NOT coalesce(value < 400, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v3
           FROM events)
         SELECT 'value_positive' AS "check", n AS n_rows,
             v0 AS n_violations, v0 = 0 AS pass FROM a
         UNION ALL SELECT 'type_domain', n, v1, v1 = 0 FROM a
         UNION ALL SELECT 'user_in_dim', n, v2, v2 = 0 FROM a
         UNION ALL SELECT 'value_under_400', n, v3, v3 = 0 FROM a""") { (s, dir) =>
    graft.streaming.Streams.streamingAudit(
      graft.streaming.Streams.eventsStream(s, dir),
      Seq(
        "value_positive" -> (col("value") > 0),
        "type_domain" -> col("event_type")
          .isin("view", "click", "purchase", "signup", "error"),
        "user_in_dim" -> (col("user_id") < 150),
        "value_under_400" -> (col("value") < 400)),
      s"st12_${math.abs(dir.hashCode)}")
  }

  gate("st2_session",
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '10 minutes'
             THEN 1 ELSE 0 END AS ns FROM e),
         y AS (SELECT user_id, ts,
           SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
         FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""") { (s, dir) =>
    Fixtures.events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).cast("timestamp_ntz").as("session_start"))
      .select("user_id", "session_start", "n")
      .orderBy("user_id", "session_start")
  }

  /** Stream-static join: the event stream joined to the (broadcast)
    * customer dimension, then a streaming aggregation — the standard
    * enrich-then-aggregate shape; the static side never recomputes per
    * micro-batch state. */
  gate("st4_stream_static_join",
      """SELECT c_mktsegment, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment, event_type""") { (s, dir) =>
    val ev = graft.streaming.Streams.eventsStream(s, dir)
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val agg = ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    graft.streaming.Streams.runToMemory(agg, s"st4_${math.abs(dir.hashCode)}")
      .orderBy("c_mktsegment", "event_type")
  }

  gate("st3_stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""") { (s, dir) =>
    val deduped = graft.streaming.Streams.streamDedup(
      graft.streaming.Streams.eventsStream(s, dir), Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    graft.streaming.Streams.runToMemory(
        deduped, s"st3_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("user_id", "event_type")
  }

  /** Stream-stream join: each click matched to the same user's views in the
    * preceding 10 minutes, both sides watermarked (bounded state). Output is
    * id pairs only (determinism rule: no raw timestamps in results). */
  gate("st5_stream_stream_join",
      // CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS to microseconds,
      // matching the engine's nanos->micros shim, so boundary rows agree
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id
         FROM e c JOIN e v
           ON v.user_id = c.user_id
          AND c.event_type = 'click' AND v.event_type = 'view'
          AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
         ORDER BY click_id, view_id""") { (s, dir) =>
    val ev = graft.streaming.Streams.eventsStream(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val joined = graft.streaming.Streams.streamTimeJoin(
        clicks, views, "user_id", lookback = "10 minutes")
      .select(col("click_id"), col("view_id"))
    graft.streaming.Streams.runToMemory(
        joined, s"st5_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("click_id", "view_id")
  }

  /** Stream-stream LEFT OUTER join: every click, matched to same-user views
    * in the preceding 10 minutes OR null-extended once the watermark proves
    * no view can still arrive. Outer emission is watermark-gated, so the
    * replay stages the source as ordered files (`maxFilesPerTrigger = 1`)
    * and appends TWO far-future sentinel commits: the first advances the
    * watermark past all real data, the second gives the join a later batch
    * in which to emit the now-provably-unmatched rows — no reliance on
    * no-data micro-batches, no timestamp cutoffs in the result. The oracle
    * is the plain batch LEFT JOIN. */
  gate("st15_stream_outer_join",
      // the left-outer st5: watermark-proven unmatched clicks null-extend
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id
         FROM (SELECT * FROM e WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
           ON v.user_id = c.user_id
          AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
         ORDER BY click_id, view_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/outer_src_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = Fixtures.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select("event_id", "user_id", "ts", "event_type")
    ev.coalesce(1).write.parquet(base)
    def sentinel(days: Int): DataFrame = ev.orderBy(desc("ts")).limit(1)
      .select(explode(array(lit("click"), lit("view"))).as("event_type"),
        (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts"))
      .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        col("ts"), col("event_type"))
    sentinel(30).coalesce(1).write.mode("append").parquet(base)
    sentinel(60).coalesce(1).write.mode("append").parquet(base)
    val schema = s.read.parquet(base).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(base)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val views = stream.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val joined = graft.streaming.Streams.streamTimeJoin(
        clicks, views, "user_id", lookback = "10 minutes",
        delay = "1 minute", joinType = "left_outer")
      .select(col("click_id"), col("view_id"))
    graft.streaming.Streams.runToMemory(
        joined, s"st15_${math.abs(dir.hashCode)}", outputMode = "append")
      .filter(col("click_id") >= 0)
      .orderBy("click_id", "view_id")
  }

  /** Streaming materialized rollup: events staged as three files drain
    * through [[graft.streaming.Streams.maintainAggregateStream]] in three
    * micro-batches, each advancing the sidecar under the batch-id
    * exactly-once protocol. The final sidecar must equal the from-scratch
    * aggregation — the oracle computes exactly that. */
  gate("st16_stream_agg_maintain",
      // the streamed sidecar must ALSO equal the from-scratch aggregation
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = s"/tmp/graft_fixtures/stragg_src_$tag"
    val sidecar = s"/tmp/graft_fixtures/stragg_side_$tag"
    val cp = s"/tmp/graft_fixtures/stragg_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(src, sidecar, sidecar + ".graft_agg_staging",
        sidecar + ".graft_agg_retired", cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val ev = Fixtures.events(s, dir).select("user_id", "event_id", "value")
    for (part <- 0 to 2)
      ev.filter(col("event_id") % 3 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.maintainAggregateStream(
      stream, sidecar, Seq("user_id"), Seq("value"), cp)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(sidecar)
      .select(col("user_id"), col("n_rows"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** Streaming partitioned SINK: the events stream lands as a hive
    * partitioned table (one `event_type=...` dir per type), then the BATCH
    * scan path reads it back — closing the data-model loop
    * (stream in → partitioned tree → batch/stream out). */
  gate("st6_stream_partitioned_sink",
      """SELECT event_id, user_id, value, event_type FROM events
         ORDER BY event_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/stream_sink_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    // the sink appends; a re-run must start from clean output + checkpoint
    Seq(base, base + "_cp").foreach { p =>
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val q = graft.streaming.Streams.writePartitionedStream(
      ev, base, Seq("event_type"), base + "_cp")
    try q.processAllAvailable() finally q.stop()
    Graft.readPartitionedTable(s, base)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy("event_id")
  }

  /** Incremental batch (Trigger.AvailableNow + checkpoint resume): the
    * first pass drains the initial half of events through a filter into a
    * file sink and terminates; the second pass, after the other half
    * arrives, must read ONLY the delta (`require`d on the source's input
    * row count — the incrementality witness) and land it exactly-once.
    * The sink's final aggregate equals the batch truth over everything. */
  gate("st13_incremental",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events WHERE value > 5.0
         GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/incr_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = Fixtures.events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    val first = ev.filter(col("event_id") % 2 === 0)
    val delta = ev.filter(col("event_id") % 2 =!= 0)
    val src = s"$base/src"
    first.write.parquet(src)
    val schema = s.read.parquet(src).schema
    def xform(d: DataFrame): DataFrame = d.filter(col("value") > 5.0)
    val n1 = graft.streaming.Streams.incrementalRun(
      s, src, schema, s"$base/ck", s"$base/sink")(xform)
    require(n1 == first.count(), s"first pass read $n1 rows")
    delta.write.mode("append").parquet(src)
    val n2 = graft.streaming.Streams.incrementalRun(
      s, src, schema, s"$base/ck", s"$base/sink")(xform)
    require(n2 == delta.count(),
      s"second pass must read ONLY the delta: read $n2 of ${delta.count()}")
    s.read.parquet(s"$base/sink")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** STREAMING markup extraction — the crawl-ingest front door as a
    * stream: the per-document HTML wrapper of `t48` flows through
    * `extractMarkup` inside a file-source stream and lands via the
    * exactly-once parquet sink (checkpointed, AvailableNow). Semantics
    * are identical to the batch gate, so t48's direct-SQL oracle gates
    * the STREAMING execution (the st7 same-oracle convention). */
  gate("st18_stream_extract",
      // same direct-SQL truth, gating the STREAMING execution (st7 convention)
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) ||
           'heading ' || doc_id || chr(10) ||
           text || ' & more text' || chr(10) ||
           'bold and italic words < 5 alpha' || chr(10) ||
           'first' || chr(10) || 'second' AS clean
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/stext_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val schema = s.read.option("pathGlobFilter", "documents.parquet")
      .parquet(dir).schema
    val docs = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style type=\"text/css\">body {color: red}</style>"),
      lit("<script>if (1 &lt; 2) { alert(\"x\"); }</script></head>"),
      lit("<body><h1 class=\"t\">heading "), col("doc_id"), lit("</h1>"),
      lit("<!-- hidden "), col("lang"), lit(" --><p>"), col("text"),
      lit(" &amp; more&nbsp;text</p>"),
      lit("<div><b>bold</b> and <i>italic</i> words < 5 &#97;lpha</div>"),
      lit("<ul><li>first</li><li>second</li></ul></body></html>"))
    val q = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.extractMarkup(html).as("clean"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out").orderBy("doc_id")
  }

  /** The crawl front door as a STREAM: WARC files (HTTP-framed, half
    * gzipped — staged by a batch job, because real corpora ARRIVE as
    * WARC files) flow through record parsing → HTTP splitting →
    * charset decode → markup extraction → URL canonicalization under
    * `AvailableNow`, writing parquet exactly-once. Every stage is a
    * map-side kernel, so the streaming plan is the batch plan behind a
    * file source — t53's oracle gates the STREAMING execution (the
    * st7/st18 same-oracle convention). */
  gate("st20_stream_crawl",
      // the same chain executed as a STREAM gates against the identical
      // replay (the st7/st18 same-oracle convention)
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url_norm,
           'Doc ' || doc_id || chr(10) || text AS clean
         FROM documents ORDER BY doc_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/scrawl_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
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
      .write.mode("overwrite").parquet(s"$base/warc")
    val schema = s.read.parquet(s"$base/warc").schema
    val q = s.readStream.schema(schema).parquet(s"$base/warc")
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
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out").orderBy("doc_id")
  }

  /** Stateful streaming frontier: the politeness sequence must CONTINUE
    * across micro-batches — even doc_ids stream first (one run), odd
    * doc_ids arrive later and the SECOND run (same checkpoint, state
    * restored) must hand them the NEXT slots per host, not restart at
    * slot 1. The oracle replays the whole schedule as one window
    * ordered by (arrival batch, priority desc, url), so a state reset,
    * a lost checkpoint, or a per-batch re-sort all go red.
    * See [[graft.streaming.Streams.frontierSchedule]]. */
  gate("st21_stream_frontier",
      // the cross-batch politeness sequence as ONE window: arrival wave
      // (even docs first) outranks priority, priority outranks url — a
      // state reset between waves would restart every host at slot 1
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h, doc_id % 2 AS wave,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             doc_id % 7 AS prio
           FROM documents),
         r AS (
           SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY h
               ORDER BY wave, prio DESC, url) AS BIGINT) AS fetch_seq
           FROM u)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 500 AS BIGINT) AS eta_ms
         FROM r ORDER BY doc_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/sfront_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string")))
      .withColumn("prio", (col("doc_id") % 7).cast("long"))
      .select("doc_id", "url", "prio")
    // one file per wave → one micro-batch per run (deterministic order)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    def runWave(): Unit = {
      val q = graft.streaming.Streams.frontierSchedule(
          s.readStream.schema(schema).parquet(s"$base/src"),
          "url", "prio", delayMs = 500L)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runWave()
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$base/src")
    runWave()
    s.read.parquet(s"$base/out")
      .withColumn("doc_id",
        regexp_extract(col("url"), "/Doc/([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms")
      .orderBy("doc_id")
  }

  /** STREAMING enforcement: the events stream routes through the s32
    * quarantine protocol micro-batch by micro-batch (checkpoint-keyed
    * tags → replay-idempotent in both destinations); the union of the
    * two landed tables must reproduce every verdict the batch oracle
    * computes. */
  gate("st14_stream_enforce",
      // the stream must land on the batch truth: same counters over the
      // whole events table
      """SELECT event_id,
           CASE WHEN r = '' THEN 'ok' ELSE 'quarantined' END AS status,
           r AS gr_reasons
         FROM (SELECT event_id, concat_ws(',',
             CASE WHEN NOT coalesce(value <= 15.0, FALSE)
               THEN 'value_le_15' END,
             CASE WHEN NOT coalesce(event_type <> 'error', FALSE)
               THEN 'not_error' END) AS r
           FROM events)
         ORDER BY event_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/stenf_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    val checks = Seq(
      "value_le_15" -> (col("value") <= 15.0),
      "not_error" -> (col("event_type") =!= "error"))
    val q = graft.streaming.Streams.streamEnforce(
      ev, checks, s"$base/clean", s"$base/quar", s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/clean").withColumn("status", lit("ok"))
      .unionByName(s.read.parquet(s"$base/quar")
        .withColumn("status", lit("quarantined")))
      .select("event_id", "status", "gr_reasons")
      .orderBy("event_id")
  }

  /** STREAMING as-of enrichment: the events stream gains each user's
    * latest order ≤ ts via the broadcast sorted-lookup (no state, no
    * shuffle) — semantics identical to as1, so the same DuckDB batch ASOF
    * oracle gates the streaming execution. */
  gate("st7_stream_asof",
      // identical semantics to as1, executed over the STREAM
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val dim = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select("event_id", "user_id", "ts")
    val enriched = AsofJoin.asofEnrichBroadcast(ev, dim, "ts", "o_date_ts",
      "user_id", "o_custkey", Seq("o_orderkey", "o_totalprice"))
    graft.streaming.Streams.runToMemory(
        enriched.select("event_id", "user_id", "o_orderkey", "o_totalprice"),
        s"st7_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("event_id")
  }

  /** STREAMING minhash ingest gate: two micro-batches of new docs flow
    * through [[graft.streaming.Streams.minhashIngestGate]] against the
    * corpus's persisted index. Batch 1: verbatim copies of docs 0–9
    * (dropped) + junk docs (kept, appended to the index). Batch 2: copies
    * of batch 1's junk — dropped ONLY because batch 1's survivors were
    * appended, the index-growth leg — + novel docs (kept). File mtimes
    * pin the micro-batch order (`maxFilesPerTrigger=1`, oldest first);
    * the oracle replays the same batch-by-batch composition in SQL. */
  gate("st8_stream_ingest_gate",
      // replay the gate batch-by-batch: batch 1 gated against the corpus
      // index, its survivors appended, batch 2 gated against the grown index
      """WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         b1 AS (
           SELECT doc_id + 5000000 AS new_id, text FROM seed
           UNION ALL
           SELECT doc_id + 6000000,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) FROM seed),
         b2 AS (
           SELECT doc_id + 7000000 AS new_id,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) AS text FROM seed
           UNION ALL
           SELECT doc_id + 8000000,
                  'novelq novelr novels ' || CAST(doc_id AS VARCHAR) FROM seed),
         sh1 AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM b1)),
         sh2 AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM b2)),
         shc AS (SELECT list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM documents)),
         m1 AS (SELECT DISTINCT a.new_id FROM sh1 a, shc c
                WHERE CAST(len(list_intersect(a.s, c.s)) AS DOUBLE)
                  / len(list_distinct(a.s || c.s)) >= 0.8),
         k1 AS (SELECT new_id, s FROM sh1
                WHERE new_id NOT IN (SELECT new_id FROM m1)),
         idx1 AS (SELECT s FROM shc UNION ALL SELECT s FROM k1),
         m2 AS (SELECT DISTINCT a.new_id FROM sh2 a, idx1 i
                WHERE CAST(len(list_intersect(a.s, i.s)) AS DOUBLE)
                  / len(list_distinct(a.s || i.s)) >= 0.8)
         SELECT new_id,
           (new_id NOT IN (SELECT new_id FROM m1)
            AND new_id NOT IN (SELECT new_id FROM m2)) AS kept
         FROM (SELECT new_id FROM b1 UNION ALL SELECT new_id FROM b2)
         ORDER BY new_id""") { (s, dir) =>
    val base = "/tmp/graft_fixtures/ingest_gate_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, surv, cp) =
      (s"$base/incoming", s"$base/index", s"$base/survivors", s"$base/cp")
    val seed = t(s, dir, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
    val b1 = seed.select((col("doc_id") + 5000000L).as("new_id"), col("text"))
      .unionByName(seed.select((col("doc_id") + 6000000L).as("new_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text")))
    val b2 = seed.select((col("doc_id") + 7000000L).as("new_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text"))
      .unionByName(seed.select((col("doc_id") + 8000000L).as("new_id"),
        concat(lit("novelq novelr novels "), col("doc_id").cast("string")).as("text")))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    val secondFiles = dataFiles -- firstFiles
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    secondFiles.foreach(p => fs.setTimes(p, 1000000600000L, -1))
    Dedup.minhashIndexBuildAndWrite(t(s, dir, "documents"), "doc_id", "text", idx)
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.minhashIngestGate(stream, "new_id", "text",
      idx, surv, cp, threshold = 0.8)
    try q.processAllAvailable() finally q.stop()
    val kept = s.read.parquet(surv).select(col("new_id"), lit(true).as("kept"))
    b1.unionByName(b2).select("new_id")
      .join(kept, Seq("new_id"), "left")
      .select(col("new_id"), coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("new_id")
  }
}
