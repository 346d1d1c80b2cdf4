package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, UrlResolveExpr}

/** Crawl-frontier operators: the step between link extraction and
  * fetching — absolutize outlinks into candidates, then schedule
  * fetches under per-host politeness.
  *
  * Spark shape at corpus scale: [[outlinks]] is map-side (regexp
  * harvest + RFC 3986 resolution inside the scan's codegen stage) plus
  * one distinct; [[schedule]] is ONE window partitioned by host — the
  * per-host sort is the operator's semantics (an explicit fetch order
  * per host), hosts are millions so the partitioning is wide and even,
  * and no global sort or driver state exists anywhere. */
object Frontier {

  /** Harvest `urls`-table outlinks: extract every `<a href>` from
    * `htmlCol`, entity-decode, resolve against the page's own
    * `urlCol` (RFC 3986 — relative links dominate real pages),
    * canonicalize, and de-duplicate. Returns (page url, `carry`…,
    * outlink) rows; self-links and non-http(s) schemes (mailto:,
    * javascript:) are dropped — a frontier cannot fetch them.
    *
    * `carry` columns ride through the harvest and the dedup — for
    * per-PAGE attributes (a content score, a fetch timestamp) this
    * avoids re-deriving them downstream or joining them back onto the
    * exploded links. They must be functionally dependent on the page
    * url, or the distinct's (url, carry…, outlink) grain would
    * duplicate outlink rows.
    *
    * `honorNofollow = true` additionally drops links whose `<a>` tag
    * carries a `nofollow`/`sponsored`/`ugc` rel token
    * ([[TextFunctions.htmlFollowableLinks]]) — the per-LINK compliance
    * half whose per-PAGE half is [[pageDirectives]]. Default off: a
    * seen-set/dedup harvest usually wants every link, a frontier
    * EXPANSION wants only the endorsed ones. */
  def outlinks(pages: DataFrame, urlCol: String, htmlCol: String,
      carry: Seq[String] = Nil, honorNofollow: Boolean = false): DataFrame =
    pages
      .select(col(urlCol).as("url") +: carry.map(col) :+
        explode(
          if (honorNofollow) TextFunctions.htmlFollowableLinks(col(htmlCol))
          else TextFunctions.htmlLinks(col(htmlCol))).as("__href"): _*)
      .select(col("url") +: carry.map(col) :+
        TextFunctions.normalizeUrl(
          UrlResolveExpr(col("url"), col("__href"))).as("outlink"): _*)
      .filter(col("outlink").startsWith("http://") ||
        col("outlink").startsWith("https://"))
      .filter(col("outlink") =!= TextFunctions.normalizeUrl(col("url")))
      .distinct()

  /** Anchor-text harvest — [[outlinks]] with the link LABEL attached:
    * one row per (page, target) with the anchor text humans read for
    * that target, the natural (query, document) supervision signal
    * anchor-text pretraining and DPR-style retrieval training mine from
    * web graphs. Hrefs absolutize + normalize exactly like [[outlinks]]
    * (http/https only, self-links dropped); EMPTY anchors drop — an
    * image link or spacer carries no label worth training on (harvest
    * plain links with [[outlinks]] when coverage matters more than
    * labels). Distinct on (url, outlink, anchor): the same target
    * linked twice with different labels keeps both labels — they are
    * different supervision pairs. Map-side except the distinct. */
  def anchorTexts(pages: DataFrame, urlCol: String,
      htmlCol: String): DataFrame =
    pages
      .select(col(urlCol).as("url"),
        explode(TextFunctions.htmlAnchors(col(htmlCol))).as("__a"))
      .select(col("url"),
        TextFunctions.normalizeUrl(
          UrlResolveExpr(col("url"), col("__a").getField("href")))
          .as("outlink"),
        col("__a").getField("anchor").as("anchor"))
      .filter(col("outlink").startsWith("http://") ||
        col("outlink").startsWith("https://"))
      .filter(col("outlink") =!= TextFunctions.normalizeUrl(col("url")))
      .filter(col("anchor") =!= "")
      .distinct()

  /** Per-host politeness schedule: within each host, URLs fetch in
    * (priority desc, url asc) order as `fetch_seq` 1…n, at
    * `eta_ms = (fetch_seq − 1) · delayMs` — the crawl-delay contract
    * (one request per host per delay window) expressed as data, so
    * the fetch fleet just partitions by host and replays the column.
    * Input columns pass through. */
  def schedule(
      urls: DataFrame, urlCol: String, priorityCol: String,
      delayMs: Long): DataFrame = {
    require(delayMs >= 0, s"negative delayMs: $delayMs")
    scheduleExpr(urls, urlCol, priorityCol, lit(delayMs))
  }

  /** [[schedule]] with a PER-ROW delay column (milliseconds) — the
    * robots `Crawl-delay` composition: join each URL to its host's
    * declared delay ([[graft.functions.RobotsCrawlDelayExpr]], with
    * the fleet default where the site declares none) and the politeness
    * contract becomes site-specific data. The delay is expected
    * constant per host (it rides the host's robots row); if rows
    * disagree (a stale row rode a bad join), the HOST MAX applies —
    * per-row values would schedule slot 3 before slot 2, and when
    * politeness policies conflict the politer one wins (the crawl-delay
    * parser's own rule). Same single window as the sequence — no extra
    * shuffle.
    *
    * A negative or null per-row delay fails LOUDLY (r15 ADVICE): the
    * constant-delay overload rejects `delayMs < 0` at plan time, and a
    * raw `RobotsCrawlDelayExpr` -1.0 "no declaration" sentinel joined
    * through without the caller's default mapping must not silently
    * schedule negative ETAs. The guard rides the eta projection as its
    * LEFT `+` operand (right operands of null-intolerant ops are
    * skipped under codegen when the left is null). */
  def scheduleWithDelays(
      urls: DataFrame, urlCol: String, priorityCol: String,
      delayMsCol: String): DataFrame = {
    val guard = coalesce(assert_true(col(delayMsCol) >= 0, concat(
      lit(s"scheduleWithDelays: negative or null delay in '$delayMsCol': "),
      coalesce(col(delayMsCol).cast("string"), lit("NULL")))).cast("long"),
      lit(0L))
    scheduleExpr(urls, urlCol, priorityCol,
      guard + max(col(delayMsCol)).over(Window.partitionBy(col("__host"))))
  }

  /** Per-host crawl BUDGET: keep each host's `maxPerHost` best URLs by
    * (priority desc, url) — the rank filter Catalyst rewrites into a
    * map-side partial top-k (`WindowGroupLimit`: every input partition
    * pre-prunes to k per host before the shuffle, so the exchange
    * carries at most k·partitions rows per host no matter how lopsided
    * the frontier is). The anti-crawler-trap primitive: a single
    * calendar-generating host cannot flood the fetch fleet. */
  def capPerHost(
      urls: DataFrame, urlCol: String, priorityCol: String,
      maxPerHost: Int): DataFrame = {
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    requireFreeColumns(urls, Seq("__host", "__rk"))
    urls
      .withColumn("__host", TextFunctions.urlHost(col(urlCol)))
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("__host"))
          .orderBy(desc(priorityCol), col(urlCol))))
      .filter(col("__rk") <= maxPerHost)
      .drop("__host", "__rk")
  }

  /** [[capPerHost]] with a PER-HOST budget table — the
    * [[rankBudget]] composition: each host keeps its `budgetCol` best
    * URLs by (priority desc, url) instead of one fleet-wide constant,
    * so trusted hosts get proportionally more of the fetch wave. Hosts
    * ABSENT from the budget table get zero slots (no rank → no budget
    * — an unranked host earns its way in via the rank pass, it doesn't
    * default in). The budget table is host-grain (broadcast-small);
    * the rank window shuffles only the due wave. A data-dependent
    * limit cannot use capPerHost's `WindowGroupLimit` map-side
    * pre-prune — on a lopsided frontier compose `capPerHost(urls,
    * <max budget>)` upstream to bound the window's input first. */
  def capPerHostBudgeted(
      urls: DataFrame, urlCol: String, priorityCol: String,
      budgets: DataFrame, hostCol: String, budgetCol: String): DataFrame = {
    requireFreeColumns(urls, Seq("__host", "__rk", "__budget"))
    urls
      .withColumn("__host", TextFunctions.urlHost(col(urlCol)))
      .join(broadcast(budgets.select(col(hostCol).as("__host"),
        col(budgetCol).cast("long").as("__budget"))), Seq("__host"), "left")
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("__host"))
          .orderBy(desc(priorityCol), col(urlCol))))
      .filter(col("__rk") <= coalesce(col("__budget"), lit(0L)))
      .drop("__host", "__rk", "__budget")
  }

  // ------------------------------------------------- seen-URL set

  /** The persisted crawl HISTORY (seen-URL set) at `path`: flat parquet,
    * one `url STRING` column, committed wave-by-wave through
    * [[graft.core.TaggedAppend]] — the d11 persisted-index recipe
    * applied to URLs, closing the crawl loop ACROSS waves (the frontier
    * schedules and caps within a wave; without the history a multi-wave
    * crawl refetches every rediscovered URL).
    *
    * Read returns the set as of an EXPLICIT file list resolved at call
    * time, optionally excluding one tag's own files — the replay seam:
    * a wave that crashed after committing its append must, on retry,
    * compute the SAME diff it would have computed before the crash, so
    * the diff never reads the wave's own commits. The pinned file list
    * also gives snapshot isolation: re-evaluating the returned plan
    * after the append still reads the pre-append set.
    *
    * 100 TB shape: the listing is metadata-only; the diff is one
    * string-keyed anti-join (shuffle on the url — the canonical
    * bulk-dedup shape; a full wave probes the whole set, so per-file
    * Bloom skipping buys nothing here, unlike point lookups). Compact
    * the table periodically like any TaggedAppend target; normalize
    * URLs ([[graft.functions.TextFunctions.normalizeUrl]]) BEFORE
    * recording or two spellings of one page defeat the set. */
  def seenUrls(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeTag: Option[String] = None): DataFrame = {
    import spark.implicits._
    val fs = graft.core.Discovery.fileSystemFor(path,
      spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val files =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .filterNot(p => excludeTag.exists(t =>
          p.getName.startsWith(graft.core.TaggedAppend.filePrefix(t))))
        .map(_.toString)
    if (files.isEmpty) Seq.empty[String].toDF("url")
    else {
      val df = spark.read.parquet(files: _*)
      require(df.columns.contains("url"),
        s"seen-URL table at $path has columns " +
          s"${df.columns.mkString(",")} — expected a 'url' column; " +
          "is this really a seen-URL set?")
      df.select(col("url"))
    }
  }

  /** Wave outlinks minus the crawl history: rows of `wave` whose
    * `urlCol` is not in the persisted set. `excludeTag` hides that
    * tag's own committed files from the set (see [[seenUrls]]). */
  def seenDiff(wave: DataFrame, urlCol: String, path: String,
      excludeTag: Option[String] = None): DataFrame =
    wave.join(
      seenUrls(wave.sparkSession, path, excludeTag)
        .select(col("url").as(urlCol)),
      Seq(urlCol), "left_anti")

  /** One crawl-wave step: returns the wave's NEW urls (the fetch list)
    * and commits exactly those to the history under `tag`. Replay-
    * idempotent end to end: a retry of the same logical wave (same
    * `tag`, same input) recomputes the same diff (its own commits are
    * excluded from the read) and TaggedAppend converges the files to
    * one copy — crash at any point, rerun, get the same fetch list and
    * the same final table. One tag per wave; concurrent waves need
    * distinct tags (TaggedAppend's single-writer-per-tag contract).
    * Two waves running CONCURRENTLY can both admit a url they discover
    * simultaneously (neither sees the other's in-flight commit) — the
    * history then carries that url twice, which is harmless to every
    * later diff (anti-join semantics are set semantics) and collapses
    * at the next compaction; strictly-once history rows require
    * sequential waves. */
  def seenDiffAndRecord(wave: DataFrame, urlCol: String, path: String,
      tag: String): DataFrame = {
    graft.core.TaggedAppend.requireSafeTag(tag)
    val fresh = seenDiff(wave, urlCol, path, excludeTag = Some(tag))
    graft.core.TaggedAppend.append(
      fresh.select(col(urlCol).as("url")).distinct(), path, tag)
    fresh
  }

  /** Recrawl/freshness scheduling over a FETCH-HISTORY table — the
    * temporal closing of the crawl loop ([[seenUrls]] closes it
    * spatially; without this a crawler never returns to a page). Input:
    * one row per COMPLETED fetch `(urlCol, tsCol seconds, hashCol
    * content hash)`. Per URL, fetches replay in timestamp order through
    * the classic multiplicative revisit policy (the Cho &
    * Garcia-Molina estimator's practical form): the interval starts at
    * `baseSec` after the first fetch; each later fetch HALVES it when
    * the content hash changed (the page is hotter than assumed) and
    * DOUBLES it when unchanged (colder), clamped to
    * `[minSec, maxSec]`. Exponential backoff in both directions —
    * integer arithmetic throughout, so any engine replays it exactly.
    *
    * Returns one row per URL:
    * `(url, n_fetches, n_changes, interval_sec, next_due, due)` with
    * `next_due = last fetch ts + interval` and `due = next_due <=
    * nowSec` — the due set feeds [[schedule]]/[[capPerHost]] exactly
    * like a discovery wave (the t68 fetch-plan seam).
    *
    * Spark shape at 100 TB: ONE groupBy(url) whose state is the URL's
    * own fetch list (per-URL fetch counts are small by construction —
    * this very operator enforces a floor of `minSec` between fetches),
    * walked by a single `aggregate` HOF pass map-side after the
    * shuffle; no window, no join, no driver state. CONTRACT: `tsCol`
    * is unique per URL (two fetches of one URL at the same second have
    * no defined order — the sort breaks ties on the hash, keeping the
    * walk deterministic, but the policy result is then arbitrary
    * between the two). */
  def revisitSchedule(
      history: DataFrame,
      urlCol: String,
      tsCol: String,
      hashCol: String,
      nowSec: Long,
      baseSec: Long = 86400L,
      minSec: Long = 3600L,
      maxSec: Long = 30L * 86400L): DataFrame = {
    require(baseSec >= 1 && minSec >= 1 && maxSec >= minSec &&
      baseSec >= minSec && baseSec <= maxSec,
      s"need 1 <= minSec <= baseSec <= maxSec, got " +
        s"base=$baseSec min=$minSec max=$maxSec")
    val ev = history
      .groupBy(col(urlCol).as("url"))
      .agg(sort_array(collect_list(struct(
        col(tsCol).cast("long").as("ts"),
        col(hashCol).cast("string").as("h")))).as("__ev"))
    ev.select(col("url"),
        size(col("__ev")).cast("long").as("n_fetches"),
        element_at(col("__ev"), -1).getField("ts").as("__last"),
        backoffWalk(col("__ev"), baseSec, minSec, maxSec).as("__w"))
      .select(col("url"), col("n_fetches"),
        col("__w").getField("nc").as("n_changes"),
        col("__w").getField("iv").as("interval_sec"),
        (col("__last") + col("__w").getField("iv")).as("next_due"),
        (col("__last") + col("__w").getField("iv") <= nowSec).as("due"))
  }

  /** The multiplicative backoff walk shared by [[revisitSchedule]] and
    * [[revalidationPlan]]: fold a ts-sorted event array (structs with at
    * least `ts`/`h` fields) into `(ph, iv, nc)` — previous hash, current
    * interval, change count. One `aggregate` HOF pass, map-side. */
  private def backoffWalk(evCol: org.apache.spark.sql.Column,
      baseSec: Long, minSec: Long, maxSec: Long): org.apache.spark.sql.Column = {
    val init = struct(
      element_at(evCol, 1).getField("h").as("ph"),
      lit(baseSec).as("iv"), lit(0L).as("nc"))
    aggregate(
      slice(evCol, lit(2), greatest(lit(0), size(evCol) - 1)),
      init,
      (acc, e) => {
        val changed = e.getField("h") =!= acc.getField("ph")
        struct(
          e.getField("h").as("ph"),
          when(changed,
            greatest(lit(minSec), floor(acc.getField("iv") / 2).cast("long")))
            .otherwise(least(lit(maxSec), acc.getField("iv") * 2)).as("iv"),
          (acc.getField("nc") +
            when(changed, 1L).otherwise(0L)).as("nc"))
      })
  }

  /** HTTP conditional revalidation — [[revisitSchedule]] extended with
    * RFC 9110 validator carry: the fetch history additionally records
    * each response's `ETag` (`etagCol`, string or null) and
    * `Last-Modified` (`lastModCol`, epoch seconds or null), and each
    * URL's plan row surfaces the validators a conditional request
    * should send — `if_none_match` / `if_modified_since` are the LATEST
    * history row's values: validators belong to the currently stored
    * representation, and [[recordOutcomes]] materializes the 304
    * carry-forward into that row (a raw 200 that omitted a validator
    * leaves null — sending an older representation's validator could
    * false-revalidate against reverted content). `conditional` is true
    * when either validator is present — those fetches can be issued as
    * cheap 304-candidates.
    *
    * Same distributed shape as [[revisitSchedule]] (one groupBy(url),
    * per-URL bounded event list, one HOF walk, no window/join/driver
    * state) and the same `tsCol`-unique-per-URL contract.
    *
    * `maxEvents` bounds per-URL state PERMANENTLY: only the most recent
    * `maxEvents` history rows enter the walk, so a multi-year crawl's
    * monotone event growth never inflates the aggregate. The interval
    * is walk-path-dependent, so a suffix replay matches the full
    * history's interval exactly whenever the interval path has
    * saturated (hit `minSec` or `maxSec`) or the suffix spans the last
    * `log2(maxSec/minSec)` direction changes — in practice a few dozen
    * events (RetentionSpec pins both the convergent case and that
    * validators/next_due come from the LAST row regardless);
    * `n_fetches`/`n_changes` become suffix-local counts under
    * retention, by construction. Returns
    * `(url, n_fetches, n_changes, interval_sec, next_due, due,
    * if_none_match, if_modified_since, conditional)`. */
  def revalidationPlan(
      history: DataFrame,
      urlCol: String,
      tsCol: String,
      hashCol: String,
      etagCol: String,
      lastModCol: String,
      nowSec: Long,
      baseSec: Long = 86400L,
      minSec: Long = 3600L,
      maxSec: Long = 30L * 86400L,
      maxEvents: Int = Int.MaxValue): DataFrame = {
    require(baseSec >= 1 && minSec >= 1 && maxSec >= minSec &&
      baseSec >= minSec && baseSec <= maxSec,
      s"need 1 <= minSec <= baseSec <= maxSec, got " +
        s"base=$baseSec min=$minSec max=$maxSec")
    require(maxEvents >= 2,
      s"maxEvents must be >= 2 (one prior + one latest), got $maxEvents")
    val all = sort_array(collect_list(struct(
      col(tsCol).cast("long").as("ts"),
      col(hashCol).cast("string").as("h"),
      col(etagCol).cast("string").as("etag"),
      col(lastModCol).cast("long").as("lm"))))
    val kept =
      if (maxEvents == Int.MaxValue) all
      else when(size(all) <= maxEvents, all)
        .otherwise(slice(all, -maxEvents, maxEvents))
    val ev = history
      .groupBy(col(urlCol).as("url"))
      .agg(kept.as("__ev"))
    ev.select(col("url"),
        size(col("__ev")).cast("long").as("n_fetches"),
        element_at(col("__ev"), -1).getField("ts").as("__last"),
        backoffWalk(col("__ev"), baseSec, minSec, maxSec).as("__w"),
        element_at(col("__ev"), -1).getField("etag").as("if_none_match"),
        element_at(col("__ev"), -1).getField("lm").as("if_modified_since"))
      .select(col("url"), col("n_fetches"),
        col("__w").getField("nc").as("n_changes"),
        col("__w").getField("iv").as("interval_sec"),
        (col("__last") + col("__w").getField("iv")).as("next_due"),
        (col("__last") + col("__w").getField("iv") <= nowSec).as("due"),
        col("if_none_match"), col("if_modified_since"),
        (col("if_none_match").isNotNull ||
          col("if_modified_since").isNotNull).as("conditional"))
  }

  /** The retention companion to [[revalidationPlan]]'s `maxEvents`: the
    * fetch-history rows to KEEP — each URL's most recent `maxEvents`
    * events — for a compaction-time rewrite of the persisted table
    * (read → prune → write-new → swap, the s25 compaction discipline),
    * so the TABLE is bounded on disk, not just the aggregate's state.
    * One groupBy(url) whose state is the URL's own ts list (bounded in
    * practice because the revisit policy floors the spacing BETWEEN
    * fetches at minSec — no flooring happens here; rows are kept or
    * dropped verbatim) + one semi-join back on (url, ts); the history's
    * payload columns never ride the aggregate's shuffle. */
  def pruneFetchHistory(history: DataFrame, urlCol: String, tsCol: String,
      maxEvents: Int): DataFrame = {
    require(maxEvents >= 2,
      s"maxEvents must be >= 2 (one prior + one latest), got $maxEvents")
    val ts = sort_array(collect_list(col(tsCol).cast("long")))
    val keep = history
      .groupBy(col(urlCol).as("__kurl"))
      .agg(when(size(ts) <= maxEvents, ts)
        .otherwise(slice(ts, -maxEvents, maxEvents)).as("__karr"))
      .select(col("__kurl"), explode(col("__karr")).as("__kts"))
    history.join(keep,
      col(urlCol) === col("__kurl") &&
        col(tsCol).cast("long") === col("__kts"),
      "left_semi")
  }

  /** Server-declared freshness folded into a [[revalidationPlan]] — the
    * RFC 9111 half of the conditional-fetch contract (observed change
    * drives the backoff; `Cache-Control` is the server TELLING us the
    * lifetime): `max-age=N` floors the next visit at `last_fetch + N`
    * (revisiting a declared-fresh page is wasted budget — the backoff
    * can only push the visit LATER, never earlier than the server's
    * word), and `no-store` turns the conditional flag off (a crawler
    * honoring no-store keeps no copy, so there is nothing to
    * revalidate against — the next fetch is unconditional). `immutable`
    * rides along as a column (it waives revalidation WITHIN the
    * lifetime, a fetch-time decision, not a scheduling one). URLs with
    * no header row keep their plan untouched; duplicate header rows for
    * one url MERGE with the politer policy winning (max max-age, OR of
    * the flags — the crawl-delay parser's conflict rule) instead of
    * silently duplicating the url's plan row. One aggregate + one join
    * keyed on url — the header table is due-set-sized, AQE broadcasts
    * it when small. Appends `max_age`, `no_store`, `immutable`;
    * rewrites `next_due`, `due`, `conditional`. */
  def freshnessFloor(plan: DataFrame, headers: DataFrame,
      urlCol: String, headerCol: String, nowSec: Long): DataFrame = {
    requireFreeColumns(plan, Seq("max_age", "no_store", "immutable"))
    val cc0 = headers.select(col(urlCol).as("__hurl"),
      TextFunctions.cacheControl(col(headerCol)).as("__cc"))
    val cc = cc0.groupBy("__hurl").agg(
      max(col("__cc").getField("max_age")).as("__ma"),
      (max(col("__cc").getField("no_store").cast("int")) === 1).as("__ns"),
      (max(col("__cc").getField("immutable").cast("int")) === 1).as("__im"))
    val lastTs = col("next_due") - col("interval_sec")
    plan.join(cc, col("url") === col("__hurl"), "left")
      .withColumn("max_age", col("__ma"))
      .withColumn("no_store", coalesce(col("__ns"), lit(false)))
      .withColumn("immutable", coalesce(col("__im"), lit(false)))
      .withColumn("next_due",
        greatest(col("next_due"), lastTs + coalesce(col("max_age"), lit(0L))))
      .withColumn("due", col("next_due") <= nowSec)
      .withColumn("conditional", col("conditional") && !col("no_store"))
      .drop("__hurl", "__ma", "__ns", "__im")
  }

  /** Fold a wave of fetch OUTCOMES into history rows — the 304 half of
    * the conditional-fetch contract: a `304 Not Modified` response
    * carries no body, so its history row reuses the URL's latest prior
    * content hash (unchanged → the next [[revalidationPlan]] walk
    * DOUBLES the interval) and carries the prior validators forward
    * unless the 304 itself refreshed them (RFC 9110 §15.4.5 allows
    * updated ETag/Last-Modified on a 304) — and, crucially, produces NO
    * document-pipeline row: nothing is re-ingested. A `200` response is
    * a new representation: its hash and validators REPLACE the prior
    * ones (a validator the server stopped sending is gone — sending a
    * stale one would revalidate against the wrong representation).
    *
    * `outcomes`: one row per completed fetch with `statusCol` ∈
    * {200, 304} (anything else is refused loudly — redirects and errors
    * are frontier business, not history), plus the same url/ts/hash/
    * validator columns as `history` (validators null-able; a 304 for a
    * URL with no prior history raises — there is nothing to revalidate
    * — and a 200 with a NULL hash raises too: a null-hash history row
    * would make every later [[backoffWalk]] comparison against it
    * null-propagate to "unchanged", silently freezing the backoff and
    * undercounting `n_changes`, the same defect [[crawlDiff]] already
    * refuses loudly). Returns ONLY the new history rows
    * `(url, ts, h, etag, lm)` — append them to the history table
    * (exactly-once via the TaggedAppend/streaming seam the seen-URL
    * history already uses).
    *
    * Shape: one groupBy over prior history (per-URL bounded state) +
    * one join keyed on url — outcome waves are due-set-sized, far under
    * history size, so AQE broadcasts them when small. */
  def recordOutcomes(
      history: DataFrame,
      outcomes: DataFrame,
      urlCol: String,
      tsCol: String,
      hashCol: String,
      etagCol: String,
      lastModCol: String,
      statusCol: String): DataFrame = {
    val prior = history
      .groupBy(col(urlCol).as("__purl"))
      .agg(max_by(struct(
          col(hashCol).cast("string").as("h"),
          col(etagCol).cast("string").as("etag"),
          col(lastModCol).cast("long").as("lm")),
        col(tsCol).cast("long")).as("__p"))
    val st = col(statusCol).cast("int")
    outcomes
      .join(prior, col(urlCol) === col("__purl"), "left")
      .select(
        when(st.isin(200, 304), col(urlCol)).otherwise(raise_error(concat(
          lit("recordOutcomes: status must be 200 or 304, got "),
          st.cast("string"), lit(" for "), col(urlCol)))).as("url"),
        col(tsCol).cast("long").as("ts"),
        when(st === 304,
          when(col("__p").isNull, raise_error(concat(
            lit("recordOutcomes: 304 for a URL with no prior history: "),
            col(urlCol))))
            .otherwise(col("__p").getField("h")))
          .otherwise(
            when(col(hashCol).isNull, raise_error(concat(
              lit("recordOutcomes: 200 with null content hash for "),
              col(urlCol))))
              .otherwise(col(hashCol).cast("string"))).as("h"),
        when(st === 304,
          coalesce(col(etagCol).cast("string"), col("__p").getField("etag")))
          .otherwise(col(etagCol).cast("string")).as("etag"),
        when(st === 304,
          coalesce(col(lastModCol).cast("long"), col("__p").getField("lm")))
          .otherwise(col(lastModCol).cast("long")).as("lm"))
  }

  /** HTTP 3xx redirect-chain resolution — the frontier half of the
    * fetch-outcome state machine ([[recordOutcomes]] owns 200/304 and
    * refuses redirects by contract; this operator is the business it
    * defers). Input: one row per redirect response
    * `(urlCol, statusCol ∈ {301, 302, 307, 308}, locationCol)` — the
    * redirect MAP a fetch wave observed (a non-3xx status or a null
    * Location is refused loudly: a redirect with nowhere to go is a
    * fetch error, not frontier input; one URL redirecting to TWO
    * different RESOLVED targets in one snapshot is refused too — the
    * snapshot is inconsistent and silently picking one would
    * mis-migrate identity). One source observed with MIXED statuses for
    * ONE target (a 302 early in the wave, a 301 later — servers flip
    * redirects permanent mid-wave, CDN nodes disagree) is NOT a
    * conflict: the target is unambiguous, so the hop collapses to the
    * politer reading — permanent only if EVERY observation was 301/308
    * (identity is never migrated on ambiguous evidence, the crawl-delay
    * conflict rule).
    *
    * `Location` may be a RELATIVE reference (RFC 9110 §10.2.2 sends a
    * URI-reference, and real servers routinely emit `/path`, `../up`,
    * or `//host/net-path`): every location is resolved against its
    * SOURCE url through the RFC 3986 resolver ([[
    * graft.functions.UrlResolveExpr]]) before the walk, so chain keys
    * meet the frontier's canonical spellings and `b` vs `./b` from one
    * source are one target, not a conflict. Scheme-less source keys
    * pass the location through untouched (the resolver's unresolvable-
    * base contract), so opaque-key fixtures and pre-canonicalized maps
    * behave as before.
    *
    * Per source URL the chain walks `url → location → …` until the
    * current node is not itself a redirect source (`resolved`), revisits
    * a node already on the chain — including a self-redirect —
    * (`loop`), or would exceed `maxHops` (`exceeded`). Returns one row
    * per SOURCE url:
    * `(url, final_url, hops, permanent, outcome)` — `final_url` the
    * chain's landing page (null unless resolved), `hops` the redirects
    * actually FOLLOWED (a revisiting hop is detected, never taken, so a
    * 2-cycle flags at hops=1), `permanent` true iff resolved AND every
    * hop was 301/308
    * (RFC 9110 §15.4: only a chain permanent end-to-end may migrate the
    * URL's identity — one temporary hop anywhere means the mapping can
    * revert, so the source keeps its name and only the target is
    * fetched), `outcome ∈ {resolved, loop, exceeded}`.
    *
    * 100 TB shape: the walk is `maxHops` rounds of one equi-join of the
    * (shrinking) unresolved state against the redirect map — both
    * redirect-wave-sized, NEVER corpus-sized — composed into one plan and
    * cut every [[Graph.FuseIterationLimit]] rounds as [[Graph.pageRank]]
    * is, so the default walk is one Spark job and no plan is more than 8
    * rounds deep. Loop detection rides a
    * per-row visited array bounded by maxHops+1 entries; no window, no
    * driver state, no collect. Real chains are ≤ 3–5 hops (RFC 9110
    * suggests clients cap around 5), so the default bound is 5. */
  def resolveRedirects(
      redirects: DataFrame,
      urlCol: String,
      statusCol: String,
      locationCol: String,
      maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"maxHops must be in [1, 32], got $maxHops")
    import org.apache.spark.storage.StorageLevel
    val st = col(statusCol).cast("int")
    val rows = redirects.select(
        when(st.isin(301, 302, 307, 308), col(urlCol).cast("string"))
          .otherwise(raise_error(concat(
            lit("resolveRedirects: status must be 301/302/307/308, got "),
            st.cast("string"), lit(" for "), col(urlCol)))).as("__src"),
        st.as("__st"),
        when(col(locationCol).isNull, raise_error(concat(
          lit("resolveRedirects: null Location for "), col(urlCol))))
          .otherwise(graft.functions.UrlResolveExpr(
            col(urlCol).cast("string"), col(locationCol).cast("string")))
          .as("__loc"))
    // one source observed with MIXED statuses for ONE resolved target
    // collapses to the politer reading — permanent only if EVERY
    // observation was 301/308 (identity is never migrated on ambiguous
    // evidence; the crawl-delay conflict rule). Two distinct RESOLVED
    // targets from one source remain a loud refusal.
    val perTarget = rows.groupBy("__src", "__loc")
      .agg(min(when(col("__st").isin(301, 308), 1).otherwise(0))
        .as("__pmin"))
      .select(col("__src"), col("__loc"), (col("__pmin") === 1).as("__perm"))
    val map = perTarget
      .join(perTarget.groupBy("__src").agg(count(lit(1)).as("__n")), "__src")
      .select(
        when(col("__n") > 1, raise_error(concat(
          lit("resolveRedirects: conflicting redirect rows for "),
          col("__src")))).otherwise(col("__src")).as("__src"),
        col("__perm"), col("__loc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // walk state: hop 1 already taken by construction
    var state = map.select(
      col("__src").as("url"), col("__loc").as("cur"), lit(1L).as("hops"),
      col("__perm").as("perm"),
      array(col("__src")).as("visited"),
      lit(null).cast("string").as("outcome"))
    val gens = new Generations(Seq(map))
    for (i <- 1 to maxHops) {
      val open = col("outcome").isNull
      val resolvedC = open && col("__src").isNull
      val loopC = open && col("__src").isNotNull &&
        (array_contains(col("visited"), col("__loc")) ||
          col("__loc") === col("cur"))
      val excC = open && col("__src").isNotNull && !loopC &&
        (col("hops") + 1 > maxHops)
      val terminal = resolvedC || loopC || excC
      // state's output names (url/cur/hops/perm/visited/outcome) and map's
      // (__src/__perm/__loc) are disjoint, so the rounds join and select
      // by bare name; state appears once per round (linear plan)
      state = state
        .join(map, col("cur") === col("__src") && col("outcome").isNull,
          "left")
        .select(
          col("url"),
          when(!open || terminal, col("cur")).otherwise(col("__loc"))
            .as("cur"),
          when(!open || terminal, col("hops")).otherwise(col("hops") + 1)
            .as("hops"),
          when(!open || resolvedC, col("perm"))
            .when(loopC || excC, lit(false))
            .otherwise(col("perm") && col("__perm")).as("perm"),
          when(!open || terminal, col("visited"))
            .otherwise(concat(col("visited"), array(col("cur"))))
            .as("visited"),
          when(!open, col("outcome"))
            .when(resolvedC, lit("resolved"))
            .when(loopC, lit("loop"))
            .when(excC, lit("exceeded"))
            .otherwise(lit(null).cast("string")).as("outcome"))
      if (Graph.cutsAfter(i, maxHops)) state = gens.cut(state)
    }
    // maxHops rounds terminate every row (hops caps at maxHops, and a
    // capped row terminates the next round) — the guard is defensive
    val result = state.select(
      col("url"),
      when(col("outcome").isNull, raise_error(concat(
        lit("resolveRedirects: walk did not terminate for "), col("url"))))
        .when(col("outcome") === "resolved", col("cur")).as("final_url"),
      col("hops"),
      (col("outcome") === "resolved" && col("perm")).as("permanent"),
      col("outcome"))
    gens.releaseAfterFirstAction(result)
  }

  /** Fold PERMANENT resolved redirects into a url-keyed table — the
    * identity migration ([[resolveRedirects]]' scaladoc: only a chain
    * permanent end-to-end renames; temporary/loop/exceeded rows never
    * do). Every row of `table` whose `urlCol` permanently moved gets
    * `urlCol := final_url`; all other rows pass through untouched — so
    * a migrated fetch history carries the old URL's validators under
    * the NEW name and [[revalidationPlan]] issues conditional requests
    * for the page's current address instead of tracking the same page
    * under two keys forever. If the target already has rows, the two
    * histories MERGE (set semantics — the same representation fetched
    * under its old and new name); the `tsCol`-unique-per-URL contract
    * of the history walks must hold post-merge, which real fetch
    * timestamps satisfy. One url-keyed left join against a moves table
    * bounded by the redirect wave (AQE broadcasts it); the table's
    * payload columns never ride a shuffle. */
  def applyRedirectMoves(table: DataFrame, urlCol: String,
      resolved: DataFrame): DataFrame = {
    val moves = resolved
      .filter(col("outcome") === "resolved" && col("permanent"))
      .select(col("url").as("__rfrom"), col("final_url").as("__rto"))
    table.join(moves, col(urlCol) === col("__rfrom"), "left")
      .withColumn(urlCol, coalesce(col("__rto"), col(urlCol)))
      .drop("__rfrom", "__rto")
  }

  /** Transitive compaction of an accumulated redirect-moves table —
    * moves committed across waves can themselves chain: A→B in wave 1
    * and B→C in wave 2 leave two rows, and ONE [[applyRedirectMoves]]
    * pass renames A to B, not C. Compaction rewrites every PERMANENT
    * resolved row's `final_url` to its transitive end (and `hops` to
    * the summed cross-wave chain length), so one compacted pass equals
    * iterated application. Temporary/loop/exceeded rows pass through
    * untouched, and a permanent move whose target moved only
    * TEMPORARILY keeps its one-hop target — identity never migrates on
    * ambiguous evidence (the [[resolveRedirects]] rule). Conflicting
    * permanent targets for one source (divergent waves) and permanent
    * CYCLES (A→…→A is contradictory evidence that both ends are
    * canonical) refuse loudly; exact-duplicate rows from replays
    * collapse. A permanent move with a null `url` names no source to
    * re-point, so it is dropped from the result (temporary/loop/exceeded
    * rows with a null url still pass through).
    *
    * Memory bound of the conflict refusal: the url-keyed aggregation
    * collects a url's DISTINCT permanent `(final_url, hops)` targets into
    * one `collect_set` buffer, and the refusal reads that set's size. So
    * a url with k distinct targets buffers all k in one task's
    * aggregation buffer before the refusal fires. Replay duplicates
    * collapse first and do not count toward k, and a consistent moves
    * table has k = 1 for every url. An adversarially divergent input (one
    * url with millions of distinct targets) can exhaust that task's
    * memory instead of refusing cleanly; check such input upstream
    * (`groupBy(url)` with `countDistinct`) before compacting it.
    *
    * 100 TB shape: pointer doubling — ceil(log2(maxChain)) rounds of
    * one equi-join of the permanent-moves map against ITSELF
    * (moves-sized, never corpus-sized); every round cuts
    * ([[Generations.cut]]: persist, one action, LogicalRDD barrier),
    * keeping each round's plan O(1).
    * EVERY intermediate cache is released before return and the
    * result is materialized via an eager localCheckpoint (lineage
    * cut, blocks freed by the context cleaner once the frame is
    * unreachable) — so the per-micro-batch caller
    * ([[extendThroughMoves]] inside the streaming redirect ingest)
    * cannot accumulate cached blocks across batches. Table-rewrite
    * compaction still belongs at compaction time (the s25
    * discipline). */
  def compactRedirectMoves(moves: DataFrame,
      maxChain: Int = 32): DataFrame = {
    require(maxChain >= 2 && maxChain <= 1024,
      s"maxChain must be in [2, 1024], got $maxChain")
    val isPerm = col("outcome") === "resolved" && col("permanent")
    // ONE url-keyed aggregation builds the deduped map AND the
    // divergent-target refusal (r21 optimization round, guide §2.4): the
    // former distinct() → groupBy-count → self-join spelling cost three
    // exchanges and a persist of the pre-guard frame; collect_set over
    // (final_url, hops) collapses replay duplicates exactly like the
    // distinct (struct equality, nulls equal) and a set wider than one
    // element IS the conflicting-permanent-targets condition the join
    // formulation raised on. The raise reads the set size, so Catalyst
    // cannot fold it below the aggregation. A null url is dropped first:
    // the url-keyed groupBy would keep it as a group of its own, where the
    // join formulation's inner equi-join dropped it.
    val gens = new Generations(Nil)
    var state = gens.cut(moves.filter(isPerm && col("url").isNotNull)
      .groupBy("url")
      .agg(collect_set(struct(col("final_url"), col("hops"))).as("__fs"))
      .select(
        when(size(col("__fs")) > 1, raise_error(concat(
          lit("compactRedirectMoves: conflicting permanent targets for "),
          col("url")))).otherwise(col("url")).as("url"),
        col("__fs").getItem(0).getField("final_url").as("final_url"),
        col("__fs").getItem(0).getField("hops").as("hops")))
    val rounds = 32 - Integer.numberOfLeadingZeros(maxChain - 1) // ceil(log2)
    // NOTE (r20 optimization round): the fused single-plan treatment that
    // sped up pageRank/trustRank/resolveRedirects was tried here and
    // REVERTED — each doubling round references state TWICE (probe + hop
    // side), so a fused plan chains five unmaterialized double-referenced
    // caches; measured: t107d 5.5 s → 10.8 s median with a 90 s worst
    // pass. Pointer doubling genuinely needs the per-round materialize +
    // barrier; the walk operators reference prior state ONCE per round,
    // which is why fusion wins there and loses here.
    // early exit (r20 optimization round, guide §1.2): the doubling
    // fixpoint is usually reached well before ceil(log2(maxChain))
    // rounds (real cross-wave chains are 2–3 hops; 5 rounds cover 32).
    // The materializing action doubles as the convergence probe — it
    // counts the rows that took a hop this round instead of count(),
    // so a converged table stops the loop with ZERO extra jobs. A
    // round that moves nothing is the fixpoint: every later round
    // would left-join to the same misses and change no row.
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      round += 1
      val hop = state.select(col("url").as("__src"),
        col("final_url").as("__dst"), col("hops").as("__h"))
      // the round's one action materializes it while the previous round's
      // cache lives AND reads the moved-row count
      val (stepped, movedN) = gens.cut(state
        .join(hop, col("final_url") === col("__src"), "left")
        .select(col("url"),
          coalesce(col("__dst"), col("final_url")).as("final_url"),
          (col("hops") + coalesce(col("__h"), lit(0L))).as("hops"),
          col("__dst").isNotNull.as("__moved")),
        _.agg(coalesce(sum(when(col("__moved"), 1L).otherwise(0L)), lit(0L)))
          .head.getLong(0))
      state = stepped.select("url", "final_url", "hops")
      converged = movedN == 0L
    }
    // after ceil(log2(maxChain)) doubling rounds every chain of length
    // ≤ maxChain has reached a terminal (a url with no permanent move);
    // a final_url still carried as a map key is a cycle or an
    // over-budget chain — both refuse loudly. Keys come from the
    // BARRIER'D state (same url set as the guard aggregation emits —
    // the conflict guard raises, it never drops).
    val keys = state.select(col("url").as("__k"))
    val compacted = state
      .join(keys, state("final_url") === col("__k"), "left")
      .select(state("url"),
        when(col("__k").isNotNull, raise_error(concat(
          lit("compactRedirectMoves: permanent cycle or chain longer "),
          lit("than maxChain at "), state("url"))))
          .otherwise(state("final_url")).as("final_url"),
        state("hops"),
        lit(true).as("permanent"), lit("resolved").as("outcome"))
    // eager localCheckpoint: materializes the result (running the
    // cycle guard NOW) and cuts the lineage, so unpersisting the last
    // doubling round cannot force a recompute of the whole chain on a
    // later action
    val result = compacted.unionByName(moves.filter(!isPerm))
      .localCheckpoint(true)
    gens.release()
    result
  }

  /** Re-point a wave's RESOLVED rows through an accumulated moves
    * table — the cross-batch loosening of the streaming ingest's
    * batch-local contract: the committed table is first compacted to
    * direct pointers ([[compactRedirectMoves]] — permanent cycles and
    * divergent targets refuse loudly), then ONE left join re-points
    * every resolved row whose landing page had already PERMANENTLY
    * moved (hops sum; `permanent` passes through unchanged — the
    * committed extension is permanent, so end-to-end permanence stays
    * the wave's own). Loop/exceeded rows never re-point. One
    * committed-hop-set extension per call; chains THROUGH the current
    * wave's own sources converge at the next compaction — the
    * eventual-consistency contract. */
  def extendThroughMoves(resolved: DataFrame,
      committedMoves: DataFrame): DataFrame = {
    val compacted = compactRedirectMoves(committedMoves)
      .filter(col("outcome") === "resolved" && col("permanent"))
      .select(col("url").as("__mfrom"), col("final_url").as("__mto"),
        col("hops").as("__mhops"))
    resolved
      .join(compacted, resolved("final_url") === col("__mfrom") &&
        resolved("outcome") === "resolved", "left")
      .select(resolved("url"),
        coalesce(col("__mto"), resolved("final_url")).as("final_url"),
        (resolved("hops") + coalesce(col("__mhops"), lit(0L)))
          .as("hops"),
        resolved("permanent"), resolved("outcome"))
  }

  /** Committed REDIRECT-MOVES table reader — [[resolveRedirects]]'
    * output schema `(url, final_url, hops, permanent, outcome)` under
    * the [[seenUrls]] listing discipline (committed data files only;
    * `excludeTag` hides a tag's own partial files during its replay).
    * Empty/absent table reads as an empty frame with the full schema,
    * so [[applyRedirectMoves]] composes without special-casing the
    * first wave. */
  def redirectMoves(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val fs = graft.core.Discovery.fileSystemFor(path,
      spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val files =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .filterNot(p => excludeTag.exists(t =>
          p.getName.startsWith(graft.core.TaggedAppend.filePrefix(t))))
        .map(_.toString)
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("final_url", StringType),
      StructField("hops", LongType), StructField("permanent", BooleanType),
      StructField("outcome", StringType)))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** The fetch wave a resolved redirect set enqueues: every RESOLVED
    * landing page, permanent or temporary (a 302/307 target is fetched
    * WITHOUT renaming the source — next wave the source is re-tried and
    * may redirect elsewhere, which is the point of a temporary
    * redirect). Loop/exceeded chains enqueue nothing — their flag rows
    * are the signal. Feed through [[seenDiff]] → [[schedule]] /
    * [[capPerHost]] like any discovery wave. */
  def redirectTargets(resolved: DataFrame): DataFrame =
    resolved.filter(col("outcome") === "resolved")
      .select(col("final_url").as("url")).distinct()

  /** RSS/Atom feed change discovery — feeds enter the frontier the way
    * sitemaps do (the t56 seam), but carry CHANGE signal: an entry names
    * a page the publisher says is new or updated, so polling feeds finds
    * fresh content at a fraction of a recrawl's cost (the feed-reader
    * complement to [[revisitSchedule]]'s blind backoff). Input: one row
    * per fetched feed `(urlCol, xmlCol)`. Output: one row per entry —
    * `(feed_url, entry_url, entry_ts)` with `entry_ts` the raw
    * `<updated>`/`<pubDate>` string (see
    * [[TextFunctions.feedEntryTimestamp]] for why it stays unparsed) —
    * ready for [[seenDiff]] against the crawl history and then
    * [[schedule]]/[[capPerHost]] like any discovery wave. Entries with
    * no link are dropped (nothing to fetch); feed-level metadata never
    * leaks in (block extraction sees only entry/item interiors).
    * Map-side only: one regexp pass per feed, explode, two extractions
    * per entry — no shuffle, no join. */
  def feedEntries(feeds: DataFrame, urlCol: String, xmlCol: String): DataFrame =
    feeds.select(col(urlCol).as("feed_url"),
        explode(TextFunctions.feedEntryBlocks(col(xmlCol))).as("__b"))
      .select(col("feed_url"),
        TextFunctions.feedEntryUrl(col("__b")).as("entry_url"),
        TextFunctions.feedEntryTimestamp(col("__b")).as("entry_ts"))
      .filter(col("entry_url").isNotNull)

  /** Per-registrable-domain quality rollup — the aggregation behind
    * domain-level curation (C4's blocklists, RefinedWeb's per-site
    * filters): group documents by eTLD+1
    * ([[TextFunctions.registrableDomain]] over the pinned suffix list)
    * and aggregate count + score sum/mean. ONE hash-aggregate (map-side
    * partial combine) over narrow (domain, score) rows; the output is
    * domain-bounded, not corpus-bounded. URLs with no registrable
    * domain (bare hosts, listed suffixes) group under null — visible,
    * not dropped. Returns
    * `(domain, n_docs, sum_score, mean_score)`. */
  def domainQuality(df: DataFrame, urlCol: String, scoreCol: String,
      suffixes: Seq[String]): DataFrame =
    df.groupBy(TextFunctions.registrableDomain(col(urlCol), suffixes)
        .as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(scoreCol).cast("long")).as("sum_score"),
        round(sum(col(scoreCol).cast("double")) / count(lit(1)), 6)
          .as("mean_score"))

  /** Drop every document of a low-quality DOMAIN: domains whose mean
    * score falls below `minMeanNum/minMeanDen` are flagged and their
    * documents anti-joined out. The threshold is a RATIONAL compared by
    * integer cross-multiplication (`sum·den < num·n`), so the flag is
    * exact in any engine — no float mean ever decides a drop. The
    * flagged-domain table is output-bounded (distinct bad domains), so
    * AQE broadcasts the anti-join when it fits; docs without a
    * registrable domain are never domain-flagged (no collective
    * evidence → judge them individually, not as a site). Appends
    * `domain` to the surviving rows. */
  def dropLowQualityDomains(df: DataFrame, urlCol: String, scoreCol: String,
      suffixes: Seq[String], minMeanNum: Long, minMeanDen: Long = 1L): DataFrame = {
    require(minMeanDen >= 1, s"minMeanDen must be >= 1; got $minMeanDen")
    requireFreeColumns(df, Seq("domain"))
    val flagged = domainQuality(df, urlCol, scoreCol, suffixes)
      .filter(col("domain").isNotNull &&
        col("sum_score") * minMeanDen < col("n_docs") * minMeanNum)
      .select(col("domain").as("__bad"))
    df.withColumn("domain",
        TextFunctions.registrableDomain(col(urlCol), suffixes))
      .join(flagged, col("domain") <=> col("__bad"), "left_anti")
  }

  /** Host-graph PageRank over a harvested link table — the crawl-
    * prioritization signal (Cho, Garcia-Molina & Page 1998: order the
    * frontier by in-link authority): collapse (page url, outlink) rows
    * to DISTINCT (src host, dst host) edges and run
    * [[Graph.pageRank]]'s integer-exact iteration over them.
    *
    * Hosts key into the rank iteration through a 60-bit hash id
    * (`conv(substr(md5(host), 1, 15), 16, 10)` — replayable in any
    * engine, birthday-safe to ~1e9 hosts) and the id→host attach is
    * checked for COLLISIONS: two hosts sharing an id would silently
    * merge their rank mass, so the operator counts ids against hosts
    * and refuses loudly instead (the host table is edge-bounded, so the
    * check is one cheap aggregate). The check is a filter on a one-row
    * frame cross-joined into the result, which column pruning cannot
    * drop, so the refusal fires at any action — a `count()` and a
    * `select("rank_ppb")` included. Returns `(host, rank_ppb)`.
    *
    * 100 TB shape: the link table collapses to host-grain FIRST (one
    * distinct — hosts are millions where links are trillions), and the
    * iteration inherits pageRank's persisted-edge / rank-only-shuffle
    * design. */
  def hostRank(links: DataFrame, urlCol: String, outlinkCol: String,
      iterations: Int = 5, dampingPct: Int = 85): DataFrame =
    hostGraphWalk(links, urlCol, outlinkCol, "rank_ppb", "rank") { (edges, _) =>
      Graph.pageRank(edges, "src", "dst", iterations, dampingPct)
    }

  /** [[hostRank]]'s TrustRank twin ([[graft.operators.Graph.trustRank]]):
    * trust seeded at a curated host whitelist flows along the SAME
    * host-grain link graph — the quality half of crawl prioritization
    * (hostRank says what is linked; this says what is linked FROM
    * trusted ground, the Gyöngyi et al. spam-demotion signal). Same
    * url→host collapse, persisted edge frame, collision-checked md5
    * host ids (refused at any action) and integer-ppb replayability;
    * trusted hosts absent from the graph are refused loudly (trustRank's
    * own guard — a typo'd whitelist entry must not silently strand
    * mass). Returns `(host, trust_ppb)`. */
  def hostTrustRank(links: DataFrame, urlCol: String, outlinkCol: String,
      trustedHosts: DataFrame, hostCol: String,
      iterations: Int = 5, dampingPct: Int = 85): DataFrame =
    hostGraphWalk(links, urlCol, outlinkCol, "trust_ppb", "trust") { (edges, hid) =>
      Graph.trustRank(edges, "src", "dst",
        trustedHosts.select(hid(col(hostCol)).as("sid")), "sid",
        iterations, dampingPct)
    }

  /** The host graph under [[hostRank]] and [[hostTrustRank]]: `walk`
    * gets the host-id edge frame `(src, dst)` and the host-id function,
    * and returns `(node, rankCol)`; the result is `(host, rankCol)`,
    * guarded against host-id collisions (`noun` names the mass in the
    * refusal). */
  private def hostGraphWalk(links: DataFrame, urlCol: String, outlinkCol: String,
      rankCol: String, noun: String)(
      walk: (DataFrame, Column => Column) => DataFrame): DataFrame = {
    def hid(h: Column) = conv(substring(md5(h), 1, 15), 16, 10).cast("long")
    // persist the host-grain edge frame: it is TINY next to the link
    // table it collapses, and everything downstream — the collision
    // check, the walk's own edge prep, the node set, the final host
    // attach — derives from it; without the cache each derivation
    // re-runs the full link harvest (measured 4× the query's cost).
    // Released by the shared one-shot listener after the result's
    // first action.
    val e = links.select(
        TextFunctions.urlHost(col(urlCol)).as("__sh"),
        TextFunctions.urlHost(col(outlinkCol)).as("__dh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hosts = e.select(col("__sh").as("host"))
      .union(e.select(col("__dh").as("host")))
      .distinct()
    // the collision guard rides the result plan as a broadcast one-row
    // gate, so the harvest materializes once inside the single action
    // and both the guard and the walk read the cache (an eager collect
    // would be a separate job paying the harvest before the walk). The
    // refusal is the gate's filter, not a projected column, so pruning
    // the output keeps it.
    val guard = hosts.agg(count(lit(1)).as("__nh"),
        countDistinct(hid(col("host"))).as("__nid"))
      .filter(when(col("__nh") =!= col("__nid"), raise_error(concat(
        lit("host-id hash collision: "), col("__nh").cast("string"),
        lit(" hosts -> "), col("__nid").cast("string"),
        lit(s" ids — $noun mass would silently merge"))))
        .otherwise(lit(true)))
    val ranked = walk(
        e.select(hid(col("__sh")).as("src"), hid(col("__dh")).as("dst")), hid)
      .join(hosts.select(col("host"), hid(col("host")).as("__hid")),
        col("node") === col("__hid"))
      .crossJoin(broadcast(guard))
      .select(col("host"), col(rankCol))
    CacheRelease.afterFirstAction(ranked, Seq(e))
  }

  /** Rank-proportional crawl-budget allocation: each host's share of
    * `totalBudget` fetch slots is `rank · total DIV sum(ranks)` —
    * integer arithmetic end to end, so any engine allocates the same
    * slots (floor division under-allocates the remainder slots rather
    * than inventing an engine-specific largest-remainder tie rule; at
    * crawl scale the lost slots are noise, and a caller that wants
    * them redistributes explicitly). One broadcast total. */
  def rankBudget(hostRanks: DataFrame, hostCol: String, rankCol: String,
      totalBudget: Long): DataFrame = {
    require(totalBudget >= 1, s"totalBudget must be >= 1; got $totalBudget")
    hostRanks
      .crossJoin(broadcast(hostRanks.agg(sum(col(rankCol)).as("__tot"))))
      .select(col(hostCol), col(rankCol),
        expr(s"($rankCol * ${totalBudget}L) DIV __tot").as("budget"))
  }

  /** Page-level robots directives — the `<meta name="robots">` contract
    * complementing robots.txt's site-level RFC 9309 rules: the
    * comma-separated directive list parses case-insensitively and the
    * two flags curation acts on surface as columns (`none` implies
    * both, per the de-facto standard; an absent meta — including a NULL
    * html column — is indexable and followable, the documented crawler
    * default, so the meta content coalesces to "" before parsing and
    * the flags are always non-null). Map-side (one regexp + split per
    * page). Appends `noindex`, `nofollow`. */
  def pageDirectives(pages: DataFrame, htmlCol: String): DataFrame = {
    requireFreeColumns(pages, Seq("noindex", "nofollow"))
    val d = transform(
      split(lower(coalesce(
        TextFunctions.htmlMetaContent(col(htmlCol), "robots"), lit(""))),
        ","), x => trim(x))
    pages
      .withColumn("noindex",
        array_contains(d, "noindex") || array_contains(d, "none"))
      .withColumn("nofollow",
        array_contains(d, "nofollow") || array_contains(d, "none"))
  }

  /** The corpus-side enforcement of [[pageDirectives]]: a page that
    * asked not to be indexed must not land in a training corpus any
    * more than in a search index — compliance is a curation gate, not
    * just a crawler courtesy. Drops `noindex` pages; the directive
    * columns do NOT ride along (the survivors are by definition
    * indexable — re-derive via [[pageDirectives]] when auditing). */
  def indexablePages(pages: DataFrame, htmlCol: String): DataFrame =
    pageDirectives(pages, htmlCol)
      .filter(!col("noindex"))
      .drop("noindex", "nofollow")

  /** Crawl-to-crawl corpus DIFF — what actually changed between two
    * snapshots, by content hash: `added` (url only in the new crawl),
    * `removed` (only in the old), `changed` (both, different hash),
    * `unchanged`. The audit table behind incremental re-processing
    * (only `added`+`changed` re-enter the pipeline) and behind crawl
    * health monitoring (a removed-rate spike is a frontier or
    * politeness regression). CONTRACT: one row per url per snapshot
    * and non-null hashes — a null hash would silently misread as
    * absence, so it is refused loudly. One full-outer shuffle join on
    * url (narrow (url, hash) rows — the text never rides); at 100 TB
    * both sides partition on the join key and nothing else moves.
    * Returns `(url, status, prev_hash, cur_hash)`. */
  def crawlDiff(prev: DataFrame, cur: DataFrame,
      urlCol: String, hashCol: String): DataFrame = {
    def side(df: DataFrame, out: String) = df.select(
      col(urlCol).as("url"),
      when(col(hashCol).isNull, raise_error(concat(
        lit(s"crawlDiff: null $hashCol for "), col(urlCol))))
        .otherwise(col(hashCol).cast("string")).as(out))
    side(prev, "prev_hash").join(side(cur, "cur_hash"),
        Seq("url"), "full_outer")
      .select(col("url"),
        when(col("prev_hash").isNull, "added")
          .when(col("cur_hash").isNull, "removed")
          .when(col("prev_hash") === col("cur_hash"), "unchanged")
          .otherwise("changed").as("status"),
        col("prev_hash"), col("cur_hash"))
  }

  /** Politeness COMPLIANCE AUDIT — did the fleet actually honor the
    * declared crawl-delays? Per host: fetch count, the number of
    * consecutive-fetch gaps SHORTER than the host's declared delay
    * (violations), the smallest observed gap, and the declared delay —
    * the report an operator reads after an incident ("did we hammer
    * site X?") and the audit d27 is for decontamination, applied to
    * politeness. Hosts with no declared delay audit against 0 (nothing
    * to violate); a host fetched once has no gap (`min_gap_ms` null).
    * Ordering contract: fetch timestamps tie-break by url, so equal-ms
    * fetches still audit deterministically (and a 0 gap IS a violation
    * of any positive delay). One keyed window (per-host, the t54d
    * growth shape) + one host-grain aggregate + one join against the
    * host-bounded delay table. Returns
    * `(host, n_fetches, n_violations, min_gap_ms, delay_ms)`. */
  def delayViolations(log: DataFrame, urlCol: String, tsMsCol: String,
      delays: DataFrame, hostCol: String, delayMsCol: String): DataFrame = {
    val w = Window.partitionBy(col("__host"))
      .orderBy(col("__ts"), col(urlCol))
    val gaps = log
      .select(col(urlCol), TextFunctions.urlHost(col(urlCol)).as("__host"),
        col(tsMsCol).cast("long").as("__ts"))
      .withColumn("__gap", col("__ts") - lag(col("__ts"), 1).over(w))
    val d = delays.select(col(hostCol).as("__host"),
      col(delayMsCol).cast("long").as("delay_ms"))
    gaps.join(d, Seq("__host"), "left")
      .groupBy(col("__host").as("host"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(when(col("__gap") < coalesce(col("delay_ms"), lit(0L)), 1L)
          .otherwise(0L)).as("n_violations"),
        min(col("__gap")).as("min_gap_ms"),
        max(coalesce(col("delay_ms"), lit(0L))).as("delay_ms"))
  }

  /** Per-host fetch HEALTH — the error-budget report a fetch fleet acts
    * on: hosts answering mostly 5xx/429/timeouts should be demoted
    * (backed off, not hammered) both for politeness and for budget (a
    * dead host eats fetch slots that earn nothing). Input: one row per
    * completed fetch attempt with an HTTP status (0 OR NULL = no
    * response — timeout/connection failure; a null status is an absent
    * response, which IS the error class, never a free pass). Per host:
    * attempt count, error count
    * (status 0/null, 429, or >= 500 — 4xx-not-429 is the CRAWLER's
    * error, not the host's health), the error rate in exact parts-per-million
    * (`errors · 1e6 DIV attempts` — integer, any engine replays it),
    * and `demoted` = rate ≥ `thresholdPpm` with at least `minAttempts`
    * attempts (below the floor there is no statistics, only noise — a
    * 1-for-1 failure must not blacklist a host). ONE host-grain
    * aggregate with map-side combine. Returns
    * `(host, n_attempts, n_errors, error_ppm, demoted)`. */
  def hostHealth(log: DataFrame, urlCol: String, statusCol: String,
      thresholdPpm: Long = 500000L, minAttempts: Long = 5L): DataFrame = {
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in [0, 1e6]; got $thresholdPpm")
    require(minAttempts >= 1, s"minAttempts must be >= 1; got $minAttempts")
    val st = coalesce(col(statusCol).cast("int"), lit(0))
    val isErr = (st === 0 || st === 429 || st >= 500).cast("long")
    log.groupBy(TextFunctions.urlHost(col(urlCol)).as("host"))
      .agg(count(lit(1)).as("n_attempts"), sum(isErr).as("n_errors"))
      .select(col("host"), col("n_attempts"), col("n_errors"),
        expr("n_errors * 1000000 DIV n_attempts").as("error_ppm"))
      .withColumn("demoted",
        col("error_ppm") >= thresholdPpm && col("n_attempts") >= minAttempts)
  }

  /** The WHEN companion to [[hostHealth]]'s WHETHER: per host, the
    * latest `Retry-After`-derived embargo — `not_before = max(ts +
    * retry_after)` over 429/503 responses that carried the header
    * (RFC 9110 §10.2.3, delta-seconds via
    * [[TextFunctions.retryAfterSeconds]]) — plus `embargoed = not_before
    * > nowSec`. Hosts whose rate-limit responses carried no parseable
    * Retry-After simply don't appear (the caller's generic backoff —
    * [[hostHealth]] demotion — covers them); statuses other than
    * 429/503 never embargo (a 200 with a stray Retry-After is server
    * noise, not a directive). ONE host-grain aggregate. Returns
    * `(host, not_before, embargoed)`. */
  def retryAfterEmbargo(log: DataFrame, urlCol: String, tsCol: String,
      statusCol: String, headerCol: String, nowSec: Long): DataFrame = {
    val st = col(statusCol).cast("int")
    // both RFC 9110 §10.2.3 forms: delta-seconds is relative to the
    // response time (ts + delta), an IMF-fixdate is already absolute;
    // delta keeps precedence (both present can't happen — one header)
    val ra = TextFunctions.retryAfterSeconds(col(headerCol))
    val rad = TextFunctions.retryAfterDateEpoch(col(headerCol))
    log
      .select(TextFunctions.urlHost(col(urlCol)).as("host"),
        when(st.isin(429, 503),
          coalesce(col(tsCol).cast("long") + ra, rad)).as("__nb"))
      .filter(col("__nb").isNotNull)
      .groupBy("host")
      .agg(max(col("__nb")).as("not_before"))
      .withColumn("embargoed", col("not_before") > nowSec)
  }

  /** Read the persisted fetch-history table (TaggedAppend layout — the
    * [[seenUrls]] listing discipline over the validator-carrying
    * schema `(url, ts, h, etag, lm)`): committed data files only,
    * `excludeTag` hides a tag's own partial files during its replay.
    * Empty/absent history reads as an empty frame with the full schema
    * — [[recordOutcomes]] composes without special-casing the first
    * wave (its 304-needs-prior guard still fires, correctly). */
  def fetchHistory(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeTag: Option[String] = None): DataFrame = {
    val fs = graft.core.Discovery.fileSystemFor(path,
      spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val files =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(_.isFile)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .filterNot(p => excludeTag.exists(t =>
          p.getName.startsWith(graft.core.TaggedAppend.filePrefix(t))))
        .map(_.toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("etag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lm",
        org.apache.spark.sql.types.LongType)))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val df = spark.read.parquet(files: _*)
      val missing = schema.fieldNames.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"fetch-history table at $path is missing column(s) " +
          s"${missing.mkString(",")} — is this really a fetch history?")
      df.select(schema.fieldNames.map(col): _*)
    }
  }

  /** Incremental re-processing over a [[crawlDiff]]: keep the PREVIOUS
    * run's results for unchanged keys, run `process` only over the new
    * crawl's added+changed rows, union — at 100 TB this is the
    * difference between re-cleaning everything and re-cleaning the few
    * percent that moved. CONTRACT: `process` must be per-document pure
    * (map-side metrics, extraction, repair, tokenization — each output
    * row a function of its input row alone). CORPUS-GLOBAL stages do
    * NOT compose this way — dedup, line-frequency boilerplate, DSIR
    * distributions change when ANY document changes; use their native
    * incremental forms instead (the tagged-append index family:
    * d11/d13/d19, st8/st24). `prevResult` must be keyed by `keyCol`
    * (one row per key) and cover every `unchanged` key, or results are
    * silently lost — the semi-join cannot invent rows.
    *
    * Shape: one semi-join of the previous results against the unchanged
    * key set + one semi-join of the new crawl against added+changed
    * (both narrow key frames), then a union — no corpus text rides a
    * shuffle beyond what `process` itself does. */
  def incrementalReprocess(prevResult: DataFrame, cur: DataFrame,
      diff: DataFrame, keyCol: String)
      (process: DataFrame => DataFrame): DataFrame = {
    val unchanged = diff.filter(col("status") === "unchanged")
      .select(col("url").as(keyCol))
    val todo = diff.filter(col("status").isin("added", "changed"))
      .select(col("url").as(keyCol))
    prevResult.join(unchanged, Seq(keyCol), "left_semi")
      .unionByName(process(cur.join(todo, Seq(keyCol), "left_semi")))
  }

  /** Silently clobbering an input column is data loss: re-scheduling an
    * already-scheduled frame would overwrite its prior wave's
    * fetch_seq/eta_ms with no error — rename or drop them first, on
    * purpose. */
  private def requireFreeColumns(df: DataFrame, names: Seq[String]): Unit = {
    val taken = names.filter(df.columns.contains)
    require(taken.isEmpty,
      s"input already carries column(s) ${taken.mkString(", ")} — " +
        "the frontier operator would overwrite them; rename or drop first")
  }

  private def scheduleExpr(
      urls: DataFrame, urlCol: String, priorityCol: String,
      delayMs: org.apache.spark.sql.Column): DataFrame = {
    requireFreeColumns(urls, Seq("__host", "fetch_seq", "eta_ms"))
    urls
      .withColumn("__host", TextFunctions.urlHost(col(urlCol)))
      .withColumn("fetch_seq",
        row_number().over(Window.partitionBy(col("__host"))
          .orderBy(desc(priorityCol), col(urlCol))))
      .withColumn("eta_ms",
        (col("fetch_seq") - 1).cast("long") * delayMs.cast("long"))
      .drop("__host")
  }
}
