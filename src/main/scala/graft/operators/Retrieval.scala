package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Keyword retrieval over a document corpus: posting-list term statistics
  * and BM25 ranking for a bounded query-term set — the classic lexical
  * counterpart to the ANN operators (hybrid search pipelines run both).
  *
  * 100 TB shape: the query's terms are a SMALL literal set, so per-doc term
  * frequencies are pure codegen'd Column arithmetic over the token array —
  * no explode-join against an inverted index, no shuffle of the corpus.
  * The only aggregations are the tiny per-term document frequencies and the
  * one-row corpus stats (N, avgdl), both re-joined by broadcast; the corpus
  * itself streams through map-side work only.
  */
object Retrieval {

  /** Posting-list stats for `terms`: one row per (doc, term) with tf > 0 —
    * (idCol, term, tf, dl, df) where dl = doc token length and df = number
    * of docs containing the term. Exact integer arithmetic end-to-end. */
  def termStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): DataFrame =
    termStatsOver(tokenized(df, idCol, textCol), idCol, terms)

  /** The top-`k` TF-IDF terms of every document over the WHOLE corpus
    * vocabulary (no fixed term list — the keyword-extraction /
    * doc-summarization complement of [[termStats]]):
    * `score = tf · ln(N/df)`, rounded at 6 decimals (the cross-engine
    * transcendental convention), ranked per doc by (score desc, term).
    * `minDf` drops hapax noise before the joins. Returns
    * `(idCol, term, tf, df, score, rank)`.
    *
    * 100 TB shape: one token-explode shuffle builds the (doc, term, tf)
    * table; df is ONE bounded-state aggregation over it (vocabulary-
    * sized output, exchange-reused); N rides a broadcast one-row frame;
    * the per-doc rank rewrites to map-side `WindowGroupLimit`, so the
    * final shuffle carries at most k rows per doc per task. Hot terms
    * ("the") are skew-benign in the df join — one build row per term.
    * The tf table and the corpus total both derive from the tokenize
    * pass, which re-runs per branch (no hidden persist — `bm25`'s
    * caller-persist contract applies to hot corpora here too). */
  def tfidfTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDf: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = tokenized(df, idCol, textCol)
    val tf = toks
      .select(col(idCol), explode(col("__w")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val n = toks.agg(count(lit(1)).as("N"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("score"), col("term"))
    tf.join(dft, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("N").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** (id, __w, dl) staged once — both termStats and bm25's corpus stats
    * aggregate over this single tokenizer pass. */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"), size(col("__w")).cast("long").as("dl"))

  /** Per-term tf as ONE fused kernel pass (shared by the stats aggregation
    * and the posting projection): the composable per-term
    * `size(filter(words, _ === t))` walks the array once per term through
    * an INTERPRETED higher-order function — [[graft.functions.TermFreqsExpr]]
    * walks it once total, codegen'd. */
  private def tfArray(terms: Seq[String]) =
    graft.functions.TermFreqsExpr(col("__w"), terms)

  /** ONE aggregation pass producing every small statistic at once: per-term
    * document frequencies as `__df0..__dfN` plus (optionally) corpus N and
    * avgdl. One row; callers broadcast it. Folding df into the same pass
    * matters: a separate `tfRows.groupBy(term)` aggregation would make
    * Spark recompute the tokenizer for the join's probe side — a whole
    * extra corpus scan at 100 TB. */
  private def statsRow(
      w: DataFrame,
      terms: Seq[String],
      withCorpus: Boolean): DataFrame = {
    val base = w.select(col("dl"), tfArray(terms).as("__tfs"))
    val dfAggs = terms.indices.map(i =>
      sum(when(element_at(col("__tfs"), i + 1) > 0, 1L).otherwise(0L))
        .as(s"__df$i"))
    val aggs =
      if (withCorpus)
        Seq(count(lit(1)).as("N"), avg(col("dl")).as("avgdl")) ++ dfAggs
      else dfAggs
    base.agg(aggs.head, aggs.tail: _*)
  }

  /** The shared posting pass: per-doc tf array + the broadcast stats row,
    * exploded to one (doc, term) row with tf > 0. Both public entry points
    * are thin selections over this — a tf/df wiring fix lands once. */
  private def postingRows(
      w: DataFrame,
      idCol: String,
      terms: Seq[String],
      withCorpus: Boolean): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct == terms, "terms must be distinct")
    val perTerm = explode(array(terms.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("term"),
        element_at(col("__tfs"), i + 1).as("tf"),
        col(s"__df$i").as("df"))
    }: _*))
    val corpusCols = if (withCorpus) Seq(col("N"), col("avgdl")) else Nil
    w.select(col(idCol), col("dl"), tfArray(terms).as("__tfs"))
      .crossJoin(broadcast(statsRow(w, terms, withCorpus)))
      .select(Seq(col(idCol), col("dl")) ++ corpusCols :+ perTerm.as("__s"): _*)
      .select(Seq(col(idCol), col("dl"), col("__s.term").as("term"),
        col("__s.tf").as("tf"), col("__s.df").as("df")) ++ corpusCols: _*)
      .filter(col("tf") > 0)
  }

  private def termStatsOver(
      w: DataFrame,
      idCol: String,
      terms: Seq[String]): DataFrame =
    postingRows(w, idCol, terms, withCorpus = false)
      .select(col(idCol), col("term"), col("tf"), col("dl"), col("df"))

  /** BM25 scores for `terms` over the corpus: (idCol, score), docs matching
    * at least one term. Standard Robertson idf = ln((N - df + .5)/(df + .5)
    * + 1). ALL small statistics — per-term df, corpus N and avgdl — come
    * from ONE aggregation pass and ride a single broadcast one-row cross
    * join into the posting projection, so the whole query is exactly TWO
    * corpus scans (stats + scoring) with no corpus shuffle beyond the
    * per-doc sum. Lazy-execution note: those two scans re-tokenize (no
    * hidden persist) — callers scoring a hot corpus repeatedly should
    * persist the input once themselves. */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    postingRows(tokenized(df, idCol, textCol), idCol, terms, withCorpus = true)
      .withColumn("__idf",
        log((col("N") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__contrib",
        col("__idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("score"))
  }

  /** BM25 for a query TABLE — the lexical counterpart of
    * [[graft.operators.Ann.annJoin]]: each query row carries its own term
    * list, so there are no driver literals and the query side can be any
    * size. This necessarily changes shape versus [[bm25]]: with terms
    * unknown at plan time the corpus explodes to tokens once and joins —
    * the classic distributed inverted index, restricted to the union
    * query vocabulary BEFORE the heavy (term, doc) aggregation so
    * out-of-vocabulary tokens never shuffle. Scoring arithmetic is
    * identical to [[bm25]]. Returns (queryIdCol, idCol, score, rank),
    * rank per query by (score desc, id), capped at `k`.
    *
    * Query-term semantics follow `termsCol`'s type:
    *  - `array<string>`: repeated terms within one query count once (the
    *    standard bag-of-words SET contract).
    *  - `array<struct<term: string, weight: numeric>>`: each term's
    *    contribution scales by its weight — the Robertson query-tf form
    *    (weight = query term frequency, or any caller-chosen emphasis).
    *    Repeated terms within one query have their weights summed;
    *    weight 0 contributes nothing but still costs a posting lookup —
    *    filter zeros upstream.
    *
    * 100 TB shape: one token-explode shuffle builds the vocabulary-
    * restricted postings; query terms shuffle by term to meet them;
    * corpus stats ride one broadcast row. HOT TERMS SKEW — a stopword
    * in many queries concentrates its whole posting list × its query
    * fan-in on one shuffle task. Filter stopwords upstream when recall
    * allows; otherwise set `saltFactor > 1`: each posting row gets one
    * deterministic salt (`xxhash64(docId) mod saltFactor`), each query
    * term fans out to ALL salts, the term join keys on (term, salt) —
    * spreading every term's postings over `saltFactor` tasks — and the
    * per-term df table rides a BROADCAST (it must: re-shuffling by bare
    * term to attach df would re-concentrate the hot key the salt just
    * spread; it is one row per query-vocabulary term, so broadcasting
    * assumes the UNION query vocabulary is broadcast-small — true for
    * natural-language query sets). Results equal the unsalted join up
    * to per-(query, doc) summation order (last-ulp; round for byte
    * gates). Measure first: [[graft.operators.Skew.topKeys]] over the
    * exploded query terms costs one sketch pass and names the hot
    * terms. For a SMALL fixed term set prefer [[bm25]], which never
    * explodes the corpus at all.
    *
    * Like [[bm25]], the corpus TOKENIZES TWICE (the stats row and the
    * postings both derive from the tokenized frame, lazily re-evaluated
    * per scan — no hidden persist): callers running over a hot 100 TB
    * corpus should persist the input once themselves, same caller
    * contract as [[bm25]]'s two scans. */
  /** Hard-negative mining for retrieval training (the DPR recipe,
    * Karpukhin et al. 2020 §4.2: the best negatives are the top BM25
    * hits that are NOT the labeled positive — lexically close enough to
    * be hard, unlabeled so they are negatives): per query, the
    * [[bm25Join]] top-`candidateK` candidates minus that query's
    * `positives` pairs, re-ranked to the top `k`. Pairs naturally with
    * the anchor-text harvest — anchors are the queries, link targets
    * the positives.
    *
    * Rank determinism: BOTH cuts use the same rounded key — the
    * candidate cut at `candidateK` ranks by (round(score, 6) desc, doc
    * id) inside [[bm25Join]] (its `rankRound` knob) and the final
    * `neg_rank` repeats that ordering — so any engine replays candidate
    * membership AND the negative cut; no float-boundary decision
    * anywhere. `candidateK` bounds how many positives can crowd out the
    * window: with up to p positives per query in the candidate set you
    * keep at least `candidateK − p` negatives, so size it ≥ k + max
    * positives per query (finite — a corpus-sized candidateK degrades
    * the window to corpus-grain). Shape: bm25Join's inverted-index join
    * + one anti-join on (query, doc) + a per-query window over
    * ≤ candidateK rows (bounded by construction — never corpus-sized
    * when candidateK is). Returns
    * `(queryIdCol, idCol, score, neg_rank)` with score 6-rounded. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      positives: DataFrame,
      queryIdCol: String,
      termsCol: String,
      idCol: String,
      textCol: String,
      k: Int,
      candidateK: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      saltFactor: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(candidateK >= k,
      s"candidateK ($candidateK) must be >= k ($k) — and leave headroom " +
        "for the positives it must absorb")
    val cand = bm25Join(queries, corpus, queryIdCol, termsCol, idCol,
        textCol, k = candidateK, k1 = k1, b = b, saltFactor = saltFactor,
        rankRound = 6)
      .drop("rank")
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(round(col("score"), 6).desc, col(idCol))
    cand
      .join(positives.select(col(queryIdCol), col(idCol)),
        Seq(queryIdCol, idCol), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col(queryIdCol), col(idCol),
        round(col("score"), 6).as("score"), col("neg_rank"))
  }

  /** `rankRound`: when >= 0 the per-query rank (and so the `k` cut)
    * orders by `(round(score, rankRound) desc, id)` instead of the raw
    * double — the rounded-rank convention, so ANY engine replays the
    * cut membership exactly. Default -1 keeps the raw-double rank
    * (cheaper; fine when the caller keeps every match or rounds
    * downstream, [[hybridJoin]]'s contract). The output `score` column
    * is unrounded either way. */
  def bm25Join(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      termsCol: String,
      idCol: String,
      textCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      saltFactor: Int = 1,
      rankRound: Int = -1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(saltFactor >= 1, "saltFactor must be >= 1")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val weighted = queries.schema(termsCol).dataType match {
      case ArrayType(st: StructType, _) =>
        require(st.fieldNames.contains("term") && st.fieldNames.contains("weight"),
          s"weighted $termsCol must be array<struct<term, weight>>; got " +
            st.fieldNames.mkString("struct<", ",", ">"))
        true
      case _ => false
    }
    // (query_id, term, __qw): weight 1.0 for the set contract (×1.0 is
    // exact in IEEE doubles, so the unweighted arithmetic is unchanged)
    val qt =
      if (weighted)
        queries.select(col(queryIdCol),
            explode(col(termsCol)).as("__t"))
          .select(col(queryIdCol), col("__t.term").as("term"),
            col("__t.weight").cast("double").as("__qw"))
          .groupBy(col(queryIdCol), col("term"))
          .agg(sum(col("__qw")).as("__qw"))
      else
        queries.select(col(queryIdCol), explode(col(termsCol)).as("term"))
          .distinct().withColumn("__qw", lit(1.0))
    val toks = tokenized(corpus, idCol, textCol)
    val stats = toks.agg(count(lit(1)).as("N"), avg(col("dl")).as("avgdl"))
    val vocab = qt.select("term").distinct()
    val postings = toks
      .select(col(idCol), col("dl"), explode(col("__w")).as("term"))
      .join(vocab, "term")
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val matched =
      if (saltFactor == 1) qt.join(postings, "term").join(dfs, "term")
      else
        qt.withColumn("__salt",
            explode(sequence(lit(0L), lit(saltFactor - 1L))))
          .join(postings.withColumn("__salt",
            Skew.saltOf(col(idCol), saltFactor)),
            Seq("term", "__salt"))
          .drop("__salt")
          .join(broadcast(dfs), "term")
    matched
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("N") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__contrib",
        col("__qw") * col("__idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__contrib")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol)).orderBy(
          (if (rankRound >= 0) round(col("score"), rankRound)
           else col("score")).desc,
          col(idCol))))
      .filter(col("rank") <= k)
  }

  /** END-TO-END hybrid serving in one call: the semantic ANN join
    * ([[graft.operators.Ann.annJoin]] over `vecCorpus`) and the lexical
    * BM25 join ([[bm25Join]] over `textCorpus`) fused per query by
    * grouped reciprocal-rank fusion — the full
    * retrieve-both-ways-then-fuse shape a hybrid search system serves,
    * with query TABLES only (no driver literals anywhere; gate h1 runs
    * exactly this composition against a DuckDB replay of all three
    * stages).
    *
    * `queries` carries one row per query: `queryIdCol`, its embedding in
    * `vecCol`, and its term list in `termsCol` (array<string> for set
    * semantics or array<struct<term, weight>> for Robertson query-tf —
    * [[bm25Join]]'s contract). `vecIdCol` and `textIdCol` name the two
    * corpora's id columns and MUST address the same id space (the fusion
    * aggregates per (query, id)); the output uses `textIdCol`.
    *
    * Scale shape is exactly the two joins' documented shapes — bucket
    * equi-join + term equi-join, never a cross product — plus a fusion
    * whose inputs are already ≤ topN rows per query per list;
    * `saltFactor` forwards to BOTH joins (hot sketch buckets and hot
    * terms are the same risk). `lexK` caps the lexical list inside the
    * join (rank by UNROUNDED score): the default keeps every matching
    * doc so fusion ranks on post-rounding order — byte-stable
    * cross-engine, h1's contract; at corpus scale pass `lexK = topN` so
    * the rank window prunes map-side instead of ranking every match.
    * Returns (queryIdCol, textIdCol, rrf_score, n_lists). */
  def hybridJoin(
      queries: DataFrame,
      vecCorpus: DataFrame,
      vecIdCol: String,
      textCorpus: DataFrame,
      textIdCol: String,
      queryIdCol: String,
      vecCol: String,
      termsCol: String,
      textCol: String,
      dim: Int,
      topN: Int = 20,
      rrfK: Int = 60,
      numPlanes: Int = 8,
      maxHamming: Int = 1,
      seed: Long = 42L,
      k1: Double = 1.2,
      b: Double = 0.75,
      saltFactor: Int = 1,
      lexK: Int = Int.MaxValue,
      lexScoreRound: Int = 6,
      maxListSize: Int = 1000000): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val ann = Ann.annJoin(
        queries.select(col(queryIdCol), col(vecCol)), vecCorpus,
        queryIdCol, vecIdCol, vecCol, dim, k = topN,
        numPlanes = numPlanes, maxHamming = maxHamming, seed = seed,
        saltFactor = saltFactor)
      .select(col(queryIdCol), col(vecIdCol).as(textIdCol),
        col("cosine").as("score"))
    val lex = bm25Join(
        queries.select(col(queryIdCol), col(termsCol)), textCorpus,
        queryIdCol, termsCol, textIdCol, textCol, k = lexK,
        k1 = k1, b = b, saltFactor = saltFactor)
      .select(col(queryIdCol), col(textIdCol),
        round(col("score"), lexScoreRound).as("score"))
    rrfFuseGrouped(Seq(ann, lex), queryIdCol, textIdCol, "score",
      k = rrfK, topN = topN, maxListSize = maxListSize)
  }

  /** [[rrfFuse]] for GROUPED result lists — the hybrid-search combiner
    * when each list carries results for MANY queries (the join-operator
    * outputs: [[bm25Join]], `Ann.annJoin`/`ivfJoin`): ranks are computed
    * per (list, group), fusion aggregates per (group, id). Same
    * result-list contract and cap as [[rrfFuse]], enforced per group. */
  def rrfFuseGrouped(
      rankings: Seq[DataFrame],
      groupCol: String,
      idCol: String,
      scoreCol: String,
      k: Int = 60,
      topN: Int = Int.MaxValue,
      maxListSize: Int = 1000000): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, "rrf k must be >= 1")
    require(maxListSize >= 1, "maxListSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(desc(scoreCol), asc(idCol))
    rankings.map { r =>
      val rank = row_number().over(w)
      val guarded = rank + coalesce(
        assert_true(rank <= maxListSize,
          lit(s"rrfFuseGrouped: a group's ranking list exceeds " +
            s"maxListSize=$maxListSize rows — fuse per-query RESULT LISTS, " +
            "not corpora; raise maxListSize explicitly if intended"))
          .cast("int"),
        lit(0))
      r.select(col(groupCol), col(idCol), col(scoreCol))
        .withColumn("__rank", guarded)
        .filter(col("__rank") <= topN)
        .select(col(groupCol), col(idCol),
          (lit(1.0) / (col("__rank") + lit(k))).as("__rr"))
    }.reduce(_ unionByName _)
      .groupBy(col(groupCol), col(idCol))
      .agg(sum(col("__rr")).as("rrf_score"), count(lit(1)).as("n_lists"))
  }

  /** Reciprocal-rank fusion of several RESULT LISTS (hybrid search's
    * standard combiner): score(d) = Σ over lists of 1 / (k + rank_d), rank
    * 1-based by (scoreCol desc, id asc). Returns (idCol, rrf_score,
    * n_lists) for every doc present in at least one list.
    *
    * Inputs are ranked result lists (top-N from BM25 / ANN / …), NOT
    * corpora — each is ranked with a single-partition window, which is the
    * right tool at result-list size; the fusion itself is one small
    * union + aggregation. PRECONDITION: each list contains an id at most
    * once (a duplicated id would contribute twice and inflate n_lists —
    * same caller contract as the as-of join's unique right side). The
    * result-list contract is ENFORCED: any input list larger than
    * `maxListSize` (default 1M) fails the job with a clear message
    * instead of silently sorting a corpus on one task.
    * Determinism note: with ≤2 lists a doc sums at most two doubles and
    * IEEE addition is commutative, so the score is bit-stable; with 3+
    * lists the sum's grouping order can shift the last ulp — fine for
    * ranking, not for byte-exact gating. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      scoreCol: String,
      k: Int = 60,
      topN: Int = Int.MaxValue,
      maxListSize: Int = 1000000): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, "rrf k must be >= 1")
    require(maxListSize >= 1, "maxListSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc(scoreCol), asc(idCol))
    rankings.map { r =>
      // guardrail on the result-list contract: the single-partition window
      // is the right tool at result-list size and a SILENT one-task sort if
      // misapplied to a corpus — fail fast the first time a rank exceeds
      // the cap. assert_true is folded into the score (null on success, so
      // `+ 0.0`) because a dropped guard column would be pruned unevaluated;
      // raise maxListSize to opt in to genuinely larger lists.
      val rank = row_number().over(w)
      val guarded = rank + coalesce(
        assert_true(rank <= maxListSize,
          lit(s"rrfFuse: ranking list exceeds maxListSize=$maxListSize rows " +
            "— rrfFuse is for per-query RESULT LISTS, not corpora; raise " +
            "maxListSize explicitly if the list really is this large"))
          .cast("int"),
        lit(0))
      r.select(col(idCol), col(scoreCol))
        .withColumn("__rank", guarded)
        .filter(col("__rank") <= topN)
        .select(col(idCol),
          (lit(1.0) / (col("__rank") + lit(k))).as("__rr"))
    }.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__rr")).as("rrf_score"), count(lit(1)).as("n_lists"))
  }

  /** Hashing-trick term-frequency vectors (sparse long format): one row
    * per (doc, bucket) with `tf` = number of tokens hashing there.
    * `bucket = first-32-bits-of-md5(token) mod numBuckets` — md5 so ANY
    * engine replays the bucketing byte-for-byte (the repo's cross-engine
    * hash convention; Spark's murmur `hash()` has no DuckDB twin).
    *
    * The hashing trick needs no vocabulary pass — unlike TF-IDF there is
    * no global dictionary to build or broadcast, which is the point at
    * 100 TB: ONE explode + ONE partially-aggregated shuffle keyed on
    * (doc, bucket), output bounded by docs × numBuckets however large the
    * vocabulary grows. Empty documents disappear (sparse semantics —
    * every absent (doc, bucket) is an implicit zero). */
  def hashingTf(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    df.select(col(idCol),
        explode(TextFunctions.words(col(textCol))).as("__w"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("__w")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19 — the
    * LASER/CCMatrix recipe): score candidate cross-lingual pairs by the
    * RATIO margin `cos(x,y) / ((avgTopK_src(x) + avgTopK_tgt(y)) / 2)` —
    * a pair is a translation when its similarity stands OUT of both
    * sides' neighborhoods, which plain cosine thresholds cannot express
    * (hubness: some vectors are near everything).
    *
    * `candidates` supplies the `(srcId, tgtId)` pairs to score — the
    * mining quality/cost knob. At gate scale an exhaustive candidate set
    * makes the result EXACT; at 100 TB feed it the ANN join machinery
    * ([[graft.operators.Ann]]'s LSH/IVF query-table joins or
    * [[graft.operators.GraphAnn]] probes) — neighborhood averages are
    * then computed WITHIN the candidate graph, the standard approximation
    * (exact when candidates cover the true top-k). Margins and cosines
    * round to `scale` decimals (the e3/weight-rounding convention), so
    * ranking, thresholding and the emitted values replay bit-identically
    * across engines and aggregation orders.
    *
    * Spark shape: one equi-join per side to attach vectors (ship ids +
    * vectors of candidate rows only), two stacked windows per side
    * (rank, then conditional avg — same partitioning, one sort each),
    * no shuffle beyond them. Returns `(srcId, tgtId, cosine, margin)`
    * filtered to `margin ≥ marginThreshold`, one best-margin row per
    * src (ties: smaller tgt id); `mutual = true` additionally requires
    * the pair to be the tgt side's best (the highest-precision mode). */
  def mineBitext(
      src: DataFrame, srcId: String, srcVec: String,
      tgt: DataFrame, tgtId: String, tgtVec: String,
      candidates: DataFrame,
      k: Int = 4,
      marginThreshold: Double = 1.0,
      mutual: Boolean = false,
      scale: Int = 6): DataFrame = {
    require(k >= 1, s"neighborhood k must be >= 1, got $k")
    require(srcId != tgtId, "src and tgt id column names must differ")
    // candidate generators (multi-probe ANN joins, unioned passes) can
    // emit a pair more than once; a duplicated pair would score its
    // cosine twice in BOTH rank windows, pushing true neighbors past k
    // and silently skewing the neighborhood averages — dedup up front
    // (cheap: ids only, before the vector joins and window sorts)
    val cand = candidates.dropDuplicates(srcId, tgtId)
    val scored = cand
      .join(src.select(col(srcId), col(srcVec)), srcId)
      .join(tgt.select(col(tgtId), col(tgtVec)), tgtId)
      .select(col(srcId), col(tgtId),
        Ann.cosine(col(srcVec), col(tgtVec)).as("__cos"))
    val wF = Window.partitionBy(srcId).orderBy(desc("__cos"), col(tgtId))
    val wB = Window.partitionBy(tgtId).orderBy(desc("__cos"), col(srcId))
    val ranked = scored
      .withColumn("__rf", row_number().over(wF))
      .withColumn("__rb", row_number().over(wB))
    val withAvg = ranked
      .withColumn("__avg_s",
        avg(when(col("__rf") <= k, col("__cos")))
          .over(Window.partitionBy(srcId)))
      .withColumn("__avg_t",
        avg(when(col("__rb") <= k, col("__cos")))
          .over(Window.partitionBy(tgtId)))
      .withColumn("margin",
        round(col("__cos") / ((col("__avg_s") + col("__avg_t")) / 2), scale))
      .filter(col("margin") >= marginThreshold)
    val wBestF = Window.partitionBy(srcId)
      .orderBy(desc("margin"), col(tgtId))
    val best = withAvg
      .withColumn("__bf", row_number().over(wBestF))
      .filter(col("__bf") === 1)
    val out =
      if (!mutual) best
      else {
        val wBestB = Window.partitionBy(tgtId)
          .orderBy(desc("margin"), col(srcId))
        // tgt-side best computed over the SAME thresholded pair set, then
        // the mutual pair must win both windows
        val bestB = withAvg
          .withColumn("__bb", row_number().over(wBestB))
          .filter(col("__bb") === 1)
          .select(col(srcId).as("__ms"), col(tgtId).as("__mt"))
        best.join(bestB,
          best(srcId) === col("__ms") && best(tgtId) === col("__mt"))
      }
    out.select(col(srcId), col(tgtId),
      round(col("__cos"), scale).as("cosine"), col("margin"))
  }

  // ------------------- persisted inverted index (bucket-pruned serving)

  /** Stats of a persisted inverted index: exact integers, so
    * `avgdl = sumDl/nDocs` is the same double in any engine. The
    * layout parameter (`numBuckets`) lives in an immutable JSON
    * sidecar; the CORPUS stats live as tagged parquet rows under
    * `_stats` — one row per ingested batch, written through
    * [[graft.core.TaggedAppend]] so a crash-replayed batch OVERWRITES
    * its own row instead of double-counting (the exactly-once
    * requirement the streaming ingest inherits). */
  case class InvertedIndexStats(numBuckets: Int, nDocs: Long, sumDl: Long)

  private val InvIdxSidecar = "_graft_bm25_stats.json"
  private val InvIdxStatsDir = "_stats"

  /** The term's bucket — the t31 md5-prefix convention
    * (`int(md5(term)[:8], 16) mod numBuckets`), replayable by any
    * engine and computed driver-side at query time to pick partitions. */
  def termBucket(term: String, numBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16) % numBuckets
  }

  private def invIdxStatsRead(spark: org.apache.spark.sql.SparkSession,
      path: String): InvertedIndexStats = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.core.Discovery.fileSystemFor(path, conf)
    val p = new org.apache.hadoop.fs.Path(path, InvIdxSidecar)
    require(fs.exists(p), s"no $InvIdxSidecar under $path — not an " +
      "inverted index written by invertedIndexBuildAndWrite")
    val node = graft.core.JsonFile.read(fs, p)
    require(node.hasNonNull("numBuckets"),
      s"$InvIdxSidecar at $path lacks 'numBuckets'")
    val row = spark.read.parquet(s"$path/$InvIdxStatsDir")
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("sum_dl")), lit(0L))).head()
    InvertedIndexStats(node.get("numBuckets").asInt,
      row.getLong(0), row.getLong(1))
  }

  private def invIdxPostings(df: DataFrame, idCol: String,
      textCol: String, numBuckets: Int): DataFrame = {
    val toks = tokenized(df, idCol, textCol)
    toks
      .select(col(idCol).cast("long").as("doc_id"), col("dl"),
        explode(col("__w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("gr_bucket",
        pmod(conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong)))
  }

  private def invIdxStatsAppend(df: DataFrame, idCol: String,
      textCol: String, path: String, tag: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val row = tokenized(df, idCol, textCol)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    graft.core.TaggedAppend.append(
      Seq((row.getLong(0), row.getLong(1))).toDF("n_docs", "sum_dl"),
      s"$path/$InvIdxStatsDir", tag)
    ()
  }

  /** Build and persist a FULL-VOCABULARY inverted index, partitioned by
    * the term's md5 bucket (`gr_bucket=`): rows are
    * `(term, doc_id, tf, dl)` postings; corpus stats (doc count, total
    * length — exact integers) land as the `base` tagged stats row and
    * the layout parameter as an immutable JSON sidecar. This is the
    * serving layer [[bm25]] deliberately is not: bm25 re-scans the
    * corpus per query; the index pays one token-explode shuffle ONCE,
    * and every query after reads only its terms' bucket partitions —
    * query cost is bucket-bounded, not corpus-bounded, the
    * `gr_cluster=` IVF story applied to text. Grow it with
    * [[invertedIndexAppend]]. */
  def invertedIndexBuildAndWrite(df: DataFrame, idCol: String,
      textCol: String, path: String, numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1; got $numBuckets")
    val spark = df.sparkSession
    invIdxPostings(df, idCol, textCol, numBuckets)
      .write.partitionBy("gr_bucket").mode("overwrite").parquet(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.core.Discovery.fileSystemFor(path, conf)
    graft.core.JsonFile.write(fs,
      new org.apache.hadoop.fs.Path(path, InvIdxSidecar), "numBuckets" -> numBuckets)
    invIdxStatsAppend(df, idCol, textCol, path, tag = "base")
  }

  /** Append a DISJOINT document batch to a persisted index (caller
    * contract — re-indexing a doc would double its postings, same as
    * every append-mode index here) under a batch `tag`: postings AND
    * the batch's stats row both land through
    * [[graft.core.TaggedAppend]], so a crash-then-replay of the SAME
    * tag converges to exactly one copy of each — the property the
    * streaming ingest ([[graft.streaming.Streams.invertedIngest]])
    * builds its exactly-once protocol on. Bucket layout comes from the
    * stored sidecar (it cannot be mixed by construction). */
  def invertedIndexAppend(df: DataFrame, idCol: String, textCol: String,
      path: String, tag: String): Unit = {
    val spark = df.sparkSession
    val st = invIdxStatsRead(spark, path)
    graft.core.TaggedAppend.append(
      invIdxPostings(df, idCol, textCol, st.numBuckets),
      path, tag, partitionCols = Seq("gr_bucket"))
    invIdxStatsAppend(df, idCol, textCol, path, tag)
  }

  /** The PRUNED posting scan for a term set: lists and reads ONLY the
    * terms' bucket DIRECTORIES (`gr_bucket=<b>`) — pruning by
    * construction, not by trusting a planner filter, so at 100 TB the
    * driver never even lists the other buckets (`.inputFiles` shows
    * exactly the touched partitions). Exposed so callers can audit the
    * skip; [[invertedIndexQuery]] builds on it. A term whose bucket
    * directory does not exist simply contributes nothing. */
  def invertedIndexScan(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "terms must be non-empty and distinct")
    val st = invIdxStatsRead(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = graft.core.Discovery.fileSystemFor(path, conf)
    val dirs = terms.map(termBucket(_, st.numBuckets)).distinct.sorted
      .map(b => s"$path/gr_bucket=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (dirs.isEmpty)
      // rare (every query term's bucket empty): an empty frame with the
      // full schema, via a never-true filter over the base listing
      spark.read.option("basePath", path).parquet(path)
        .filter(lit(false))
        .filter(col("term").isin(terms: _*))
    else
      spark.read.option("basePath", path).parquet(dirs: _*)
        .filter(col("term").isin(terms: _*))
  }

  /** BM25 top-k over the PERSISTED index — [[bm25]]'s arithmetic
    * (Robertson idf, same literal operation order) from stored
    * postings: df comes from the pruned postings themselves, N/avgdl
    * from the sidecar's exact integers. Ranking keys on the
    * `scale`-rounded score (ties to ascending doc id) — the
    * deterministic-serving convention (raw last-ulp float order is not
    * reproducible across engines; the rounded key is). Returns
    * `(doc_id, score, rank)`, rank 1-based, at most `k` rows. */
  def invertedIndexQuery(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, scale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    val st = invIdxStatsRead(spark, path)
    require(st.nDocs > 0, s"index at $path is empty")
    val avgdl = st.sumDl.toDouble / st.nDocs
    val post = invertedIndexScan(spark, path, terms)
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = post.join(broadcast(dfs), "term")
      .withColumn("__idf",
        log((lit(st.nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__contrib",
        col("__idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy("doc_id")
      .agg(round(sum(col("__contrib")), scale).as("score"))
    scored
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score"), col("doc_id"))).cast("long"))
  }

  /** Offline retrieval-quality evaluation — recall@k, MRR and nDCG@k
    * (Järvelin & Kekäläinen 2002) per query over a run table
    * `(queryCol, docCol, scoreCol)` and a relevance-judgment table
    * `(queryCol, docCol, gradeCol)` with grade > 0 meaning relevant.
    * This is the measurement half every serving tier here (BM25, RRF,
    * the ANN indexes) needs before its parameters can be tuned.
    *
    * Determinism contract (the cross-engine gate discipline): the DCG
    * discount 1/log2(rank+1) is materialized as the INTEGER
    * round(1e6 / log2(rank+1)) per rank ≤ k — identical in any IEEE
    * engine because no quotient sits near a .5 boundary for rank ≤ 1000
    * at 1e-6 scale — so DCG/IDCG are EXACT integer sums whatever the
    * summation order, and only the final single divisions round.
    *
    * 100 TB shape: the run is already top-N per query (a serving
    * output), so both windows are narrow keyed-by-query sorts; the
    * qrels side is an eval set — broadcast-sized by nature — and the
    * grade attach is a broadcast left join. Nothing here scans a
    * corpus. Queries with no relevant docs report recall/mrr/ndcg 0
    * rather than null (a run over them is measured, just unrewarded).
    * Returns `(queryCol, n_rel, hits_at_k, recall_at_k, mrr, ndcg_at_k)`. */
  def rankMetrics(
      run: DataFrame,
      qrels: DataFrame,
      queryCol: String,
      docCol: String,
      scoreCol: String,
      gradeCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    def discountInt(rank: Column): Column = {
      // CASE ladder over rank ≤ k: a literal integer per rank, the same
      // table the oracle derives from its own log2
      (1 to k).foldLeft(lit(null).cast("long")) { (acc, r) =>
        when(rank === r,
          lit(math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))).otherwise(acc)
      }
    }
    val rel = qrels.filter(col(gradeCol) > 0)
      .select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(gradeCol).cast("long").as("__g"))
    val wRun = Window.partitionBy(col(queryCol))
      .orderBy(desc(scoreCol), col(docCol))
    val ranked = run
      .withColumn("__rank", row_number().over(wRun).cast("long"))
      .join(broadcast(rel),
        col(queryCol) === col("__q") && col(docCol) === col("__d"), "left")
      .select(col(queryCol), col("__rank"),
        coalesce(col("__g"), lit(0L)).as("__g"))
    val perQuery = ranked.groupBy(col(queryCol)).agg(
      sum(when(col("__rank") <= k && col("__g") > 0, 1L).otherwise(0L))
        .as("hits_at_k"),
      min(when(col("__g") > 0, col("__rank"))).as("__first_rel"),
      sum(when(col("__rank") <= k,
        (pow(lit(2.0), col("__g")).cast("long") - 1L) *
          discountInt(col("__rank"))).otherwise(0L)).as("__dcg_scaled"))
    val wIdeal = Window.partitionBy(col("__q"))
      .orderBy(desc("__g"), col("__d"))
    val ideal = rel
      .withColumn("__ir", row_number().over(wIdeal).cast("long"))
      .groupBy(col("__q")).agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("__ir") <= k,
          (pow(lit(2.0), col("__g")).cast("long") - 1L) *
            discountInt(col("__ir"))).otherwise(0L)).as("__idcg_scaled"))
    perQuery
      .join(broadcast(ideal), col(queryCol) === col("__q"), "left")
      .select(col(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits_at_k"),
        round(when(coalesce(col("n_rel"), lit(0L)) === 0, 0.0)
          .otherwise(col("hits_at_k").cast("double") / col("n_rel")), 6)
          .as("recall_at_k"),
        round(when(col("__first_rel").isNull, 0.0)
          .otherwise(lit(1.0) / col("__first_rel")), 6).as("mrr"),
        round(when(coalesce(col("__idcg_scaled"), lit(0L)) === 0, 0.0)
          .otherwise(col("__dcg_scaled").cast("double") /
            col("__idcg_scaled")), 6).as("ndcg_at_k"))
  }
}
