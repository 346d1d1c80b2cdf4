package graft

import org.apache.spark.sql.functions._
import graft.functions.{NfcNormalizeImpl, TextFunctions}
import graft.operators.Frontier
import org.apache.spark.unsafe.types.UTF8String

/** Crawl-loop back edge: HTML metadata fields, outlink harvest +
  * resolution, per-host politeness scheduling, NFC canonicalization. */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  test("html metadata: title entities, both meta orders, canonical, lang") {
    val html = "<!doctype html><HTML lang='fr'><head>" +
      "<TITLE>\n A &amp; B \n</title>" +
      "<meta content=\"from reversed\" name='description'>" +
      "<link href=\"https://c.example/x\" rel='canonical'>" +
      "</head><body></body></html>"
    val got = Seq(html).toDF("h").select(
      TextFunctions.htmlTitle(col("h")),
      TextFunctions.htmlMetaContent(col("h"), "description"),
      TextFunctions.htmlCanonical(col("h")),
      TextFunctions.htmlLang(col("h"))).head()
    assert(got.getString(0) == "A & B")
    assert(got.getString(1) == "from reversed")
    assert(got.getString(2) == "https://c.example/x")
    assert(got.getString(3) == "fr")
    // tag/attribute boundaries: <article data-href> is NOT a link,
    // data-name/data-lang are NOT the metadata attributes
    val traps = "<html data-lang='x-y'><head>" +
      "<meta data-name='description' content='spam'>" +
      "<link data-rel='canonical' href='http://no'>" +
      "</head><body><article data-href=\"/tracker\">t</article>" +
      "<abbr data-href='/also-not'>a</abbr>" +
      "<a href='/real'>ok</a></body></html>"
    val trapped = Seq(traps).toDF("h").select(
      TextFunctions.htmlLinks(col("h")).as("links"),
      TextFunctions.htmlMetaContent(col("h"), "description"),
      TextFunctions.htmlCanonical(col("h")),
      TextFunctions.htmlLang(col("h"))).head()
    assert(trapped.getSeq[String](0) == Seq("/real"),
      s"phantom link harvested: ${trapped.getSeq[String](0)}")
    assert(trapped.getString(1) == "" && trapped.getString(2) == "" &&
      trapped.getString(3) == "")
    // absent fields come back empty, never null
    val none = Seq("<p>no head</p>").toDF("h").select(
      TextFunctions.htmlTitle(col("h")),
      TextFunctions.htmlMetaContent(col("h"), "description"),
      TextFunctions.htmlCanonical(col("h")),
      TextFunctions.htmlLang(col("h"))).head()
    assert((0 to 3).forall(i => none.getString(i) == ""))
  }

  test("outlinks: resolution, entity decode, scheme filter, self-link " +
      "drop, dedup") {
    val pages = Seq((
      "http://h.com/a/b/page",
      "<a href='../x?m=1&amp;n=2'>r</a><a href=\"/y\">s</a>" +
        "<a href='mailto:z@q'>m</a><a href='javascript:void(0)'>j</a>" +
        "<a href='/y'>dup</a><a href='?'>self</a>"
    )).toDF("url", "html")
    val got = Frontier.outlinks(pages, "url", "html")
      .select("outlink").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("http://h.com/a/x?m=1&n=2", "http://h.com/y"),
      got.toString)
  }

  test("schedule: per-host sequence and eta; plan has no global sort " +
      "beyond the window") {
    val urls = Seq(
      ("http://a.com/1", 5L), ("http://a.com/2", 9L), ("http://A.com:80/3", 9L),
      ("http://b.com/1", 1L)).toDF("url", "prio")
    val got = Frontier.schedule(urls, "url", "prio", delayMs = 300)
      .select("url", "fetch_seq", "eta_ms")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2))))
      .toMap
    // a.com (case/port-normalized host): prio desc, then RAW url asc —
    // 'A' (0x41) sorts before 'a' (0x61) on the tiebreak
    assert(got("http://A.com:80/3") == ((1, 0L)))
    assert(got("http://a.com/2") == ((2, 300L)))
    assert(got("http://a.com/1") == ((3, 600L)))
    assert(got("http://b.com/1") == ((1, 0L)))
  }

  test("nfc: decomposed sequences recompose; composed text fast-paths") {
    // explicit escapes: e + U+0301 (combining acute), o + U+0308
    val dec = "e\u0301te\u0301 o\u0308"
    assert(NfcNormalizeImpl.nfc(UTF8String.fromString(dec)).toString ==
      "\u00e9t\u00e9 \u00f6")
    val composed = UTF8String.fromString("\u00e9t\u00e9 \u00f6 plain ascii")
    // fast path returns the SAME object (no re-encode)
    assert(NfcNormalizeImpl.nfc(composed) eq composed)
  }

  test("crawl-delay: group shadowing, max-of-groups, fractional, " +
      "invalid, absent, stacking termination") {
    import graft.functions.RobotsImpl
    def d(txt: String, agent: String = "bot"): Double =
      RobotsImpl.crawlDelay(UTF8String.fromString(txt),
        UTF8String.fromString(agent))
    assert(d("User-agent: bot\nCrawl-delay: 3\n" +
      "User-agent: *\nCrawl-delay: 99") == 3.0, "exact shadows *")
    assert(d("User-agent: *\nCrawl-delay: 7.5") == 7.5, "fractional")
    assert(d("User-agent: bot\nDisallow: /x") == -1.0, "absent -> -1")
    assert(d("User-agent: bot\nCrawl-delay: nope") == -1.0, "invalid")
    assert(d("User-agent: bot\nCrawl-delay: 2\n\n" +
      "User-agent: bot\nCrawl-delay: 5") == 5.0, "max of binding groups")
    // a Crawl-delay line is group CONTENT: it ends agent stacking, so
    // the second User-agent starts a fresh group that does not bind
    assert(d("User-agent: other\nCrawl-delay: 9\nUser-agent: bot\n" +
      "Disallow: /x") == -1.0)
    // and rules selection is unaffected by delay lines
    val r = RobotsImpl.rules(
      UTF8String.fromString("User-agent: bot\nCrawl-delay: 4\nDisallow: /x"),
      UTF8String.fromString("bot"))
    assert(r.numElements() == 1)
  }

  test("scheduleWithDelays: per-host delay drives the eta") {
    val urls = Seq(
      ("http://a.com/1", 1L, 2000L), ("http://a.com/2", 1L, 2000L),
      ("http://b.com/1", 1L, 500L), ("http://b.com/2", 1L, 500L))
      .toDF("url", "prio", "delay_ms")
    val got = Frontier.scheduleWithDelays(urls, "url", "prio", "delay_ms")
      .select("url", "eta_ms")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("http://a.com/2") == 2000L)
    assert(got("http://b.com/2") == 500L)
    assert(got("http://a.com/1") == 0L && got("http://b.com/1") == 0L)
  }

  test("scheduleWithDelays refuses negative and null per-row delays") {
    // the RobotsCrawlDelayExpr -1.0 sentinel joined through WITHOUT the
    // caller's default mapping must fail loudly, not schedule negative
    // ETAs (r15 ADVICE — mirrors schedule()'s delayMs >= 0 contract)
    val neg = Seq(("http://a.com/1", 1L, -1L), ("http://a.com/2", 1L, 500L))
      .toDF("url", "prio", "delay_ms")
    val e = intercept[Exception] {
      Frontier.scheduleWithDelays(neg, "url", "prio", "delay_ms").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("negative or null"),
      s"unexpected error: ${e.getMessage}")
    val withNull = Seq(("http://a.com/1", 1L, Some(500L)),
      ("http://a.com/2", 1L, None)).toDF("url", "prio", "delay_ms")
    intercept[Exception] {
      Frontier.scheduleWithDelays(withNull, "url", "prio", "delay_ms")
        .collect()
    }
  }

  test("seen-URL set: two-wave diff, crash replay converges, snapshot reads") {
    val path = tmpDir("seen_urls") + "/t"
    def wave(urls: String*) = urls.toDF("url")
    // wave 1 against an empty (missing) table: everything is fresh
    val w1 = Frontier.seenDiffAndRecord(
      wave("http://a/1", "http://a/2", "http://a/2"), "url", path, "w1")
    assert(w1.select("url").distinct().count() == 2)
    // wave 2: rediscoveries of wave-1 urls are excluded
    val w2 = Frontier.seenDiffAndRecord(
      wave("http://a/2", "http://b/1"), "url", path, "w2")
    assert(w2.collect().map(_.getString(0)).toSet == Set("http://b/1"))
    // crash replay: re-running wave 2 (same tag, same input) returns the
    // SAME diff — its own committed files are excluded from the read —
    // and the table converges to one copy per url
    val w2again = Frontier.seenDiffAndRecord(
      wave("http://a/2", "http://b/1"), "url", path, "w2")
    assert(w2again.collect().map(_.getString(0)).toSet == Set("http://b/1"))
    val all = Frontier.seenUrls(spark, path).collect().map(_.getString(0))
    assert(all.sorted.toSeq == Seq("http://a/1", "http://a/2", "http://b/1"),
      s"history must hold each url exactly once, got ${all.toSeq}")
    // snapshot isolation: a diff plan built BEFORE an append still reads
    // the pre-append file list when evaluated after it
    val diffBefore = Frontier.seenDiff(wave("http://c/1"), "url", path)
    Frontier.seenDiffAndRecord(wave("http://c/1"), "url", path, "w3")
    assert(diffBefore.count() == 1,
      "pinned file list must not see the later append")
    // schema guard: a non-seen-table path is refused loudly
    val other = tmpDir("seen_urls_bad") + "/t"
    Seq((1L, "x")).toDF("id", "text").write.parquet(other)
    val e = intercept[IllegalArgumentException] {
      Frontier.seenUrls(spark, other).collect()
    }
    assert(e.getMessage.contains("url"))
  }

  test("seen-URL history survives compaction; diffs stay correct after") {
    val path = tmpDir("seen_compact") + "/t"
    def wave(urls: String*) = urls.toDF("url")
    graft.operators.Frontier.seenDiffAndRecord(
      wave("http://a/1", "http://a/2"), "url", path, "w1")
    graft.operators.Frontier.seenDiffAndRecord(
      wave("http://b/1"), "url", path, "w2")
    val stats = graft.api.Graft.compactPartitionedTable(spark, path)
    assert(stats.filesAfter <= stats.filesBefore && stats.filesBefore >= 2,
      s"compaction saw the tagged files: $stats")
    val urls = Frontier.seenUrls(spark, path).collect().map(_.getString(0))
    assert(urls.sorted.toSeq == Seq("http://a/1", "http://a/2", "http://b/1"),
      s"history content must survive compaction: ${urls.toSeq}")
    // a later wave still diffs correctly against the compacted files
    val w3 = Frontier.seenDiff(
      wave("http://a/2", "http://c/1"), "url", path)
      .collect().map(_.getString(0))
    assert(w3.toSeq == Seq("http://c/1"))
  }

  test("streaming seen ingest: marker skips replays; marker loss converges") {
    val base = tmpDir("seen_ingest_spec")
    val hist = base + "/hist"
    val cp = base + "/cp"
    val batch = Seq("http://a/1", "http://a/2").toDF("url")
    import graft.streaming.Streams
    assert(Streams.seenIngestBatch(batch, 0L, "url", hist, cp))
    assert(!Streams.seenIngestBatch(batch, 0L, "url", hist, cp),
      "a committed batch must be skipped on replay")
    // crash between append and marker: drop the marker, replay — the
    // tagged append converges instead of doubling
    val hp = new org.apache.hadoop.fs.Path(hist)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(hp)
      .filter(_.getPath.getName.startsWith("_graft_seen_ingest_commit"))
      .foreach(st => fs.delete(st.getPath, false))
    assert(Streams.seenIngestBatch(batch, 0L, "url", hist, cp))
    val urls = Frontier.seenUrls(spark, hist).collect().map(_.getString(0))
    assert(urls.sorted.toSeq == Seq("http://a/1", "http://a/2"),
      s"exactly one copy each after marker-loss replay: ${urls.toSeq}")
    // a later wave dedups against the committed history
    val b2 = Seq("http://a/2", "http://b/9").toDF("url")
    assert(Streams.seenIngestBatch(b2, 1L, "url", hist, cp))
    assert(Frontier.seenUrls(spark, hist).count() == 3)
  }

  test("delayViolations: gaps vs declared delay, undeclared hosts, single fetch") {
    val log = Seq(
      ("http://a.com/1", 0L), ("http://a.com/2", 500L),    // gap 500 < 800
      ("http://a.com/3", 1500L),                           // gap 1000 ok
      ("http://b.com/1", 0L), ("http://b.com/2", 0L),      // 0 gap, ties by url
      ("http://c.com/solo", 0L)
    ).toDF("url", "ts_ms")
    val delays = Seq(("a.com", 800L), ("b.com", 100L)).toDF("host", "delay_ms")
    val r = Frontier.delayViolations(log, "url", "ts_ms",
        delays, "host", "delay_ms")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3), x.getLong(4)))).toMap
    assert(r("a.com") == ((3L, 1L, 500L, 800L)), r.toString)
    assert(r("b.com") == ((2L, 1L, 0L, 100L)), r.toString)
    // c.com: declared nothing -> audits against 0, single fetch, no gap
    assert(r("c.com") == ((1L, 0L, -1L, 0L)), r.toString)
  }

  test("retryAfterEmbargo: parse filter, status filter, latest wins") {
    val parsed = Seq(" 30 ", "30", "0", "-5", "3.5",
        "Fri, 01 Jan 2027 00:00:00 GMT", "", null)
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("i", "h")
      .select(col("i"), TextFunctions.retryAfterSeconds(col("h")).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(parsed == Map(0L -> 30L, 1L -> 30L, 2L -> 0L, 3L -> -1L,
      4L -> -1L, 5L -> -1L, 6L -> -1L, 7L -> -1L), parsed.toString)
    val log = Seq(
      ("http://a.com/1", 100L, 429, "50"),    // embargo until 150
      ("http://a.com/2", 200L, 429, "30"),    // later fetch: until 230 (wins)
      ("http://a.com/3", 300L, 200, "999"),   // stray header on a 200: noise
      ("http://b.com/1", 100L, 503, "x"),     // unparseable: falls through
      ("http://c.com/1", 100L, 503, "10")     // until 110, already past
    ).toDF("url", "ts", "status", "ra")
    val r = Frontier.retryAfterEmbargo(log, "url", "ts", "status", "ra",
        nowSec = 200L)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getAs[Boolean]("embargoed")))).toMap
    assert(r == Map("a.com" -> ((230L, true)), "c.com" -> ((110L, false))),
      r.toString)
  }

  test("hostHealth: error classes, exact ppm, min-attempts floor") {
    val log = Seq(
      ("http://a.com/1", 200), ("http://a.com/2", 500), ("http://a.com/3", 0),
      ("http://a.com/4", 429), ("http://a.com/5", 404), ("http://a.com/6", 503),
      ("http://b.com/1", 0),                    // 1-for-1 failure: floor blocks
      ("http://c.com/1", 404), ("http://c.com/2", 403), ("http://c.com/3", 200),
      ("http://c.com/4", 200), ("http://c.com/5", 200)  // 4xx != host error
    ).toDF("url", "status")
    val r = Frontier.hostHealth(log, "url", "status")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3),
          x.getAs[Boolean]("demoted")))).toMap
    // a.com: 4 errors of 6 (500, 0, 429, 503; 404 and 200 are not) ->
    // 666666 ppm, demoted at the 500000 boundary rule
    assert(r("a.com") == ((6L, 4L, 666666L, true)), r.toString)
    assert(r("b.com") == ((1L, 1L, 1000000L, false)),
      "below the attempt floor nothing demotes: " + r.toString)
    assert(r("c.com") == ((5L, 0L, 0L, false)), r.toString)
    // the >= boundary demotes: exactly half errors at 6 attempts —
    // and a NULL status is an absent response, i.e. the error class
    val half = Seq(("http://d.com/1", Some(0)), ("http://d.com/2", Some(200)),
      ("http://d.com/3", None), ("http://d.com/4", Some(200)),
      ("http://d.com/5", Some(0)), ("http://d.com/6", Some(200)))
      .toDF("url", "status")
    val d = Frontier.hostHealth(half, "url", "status").head()
    assert(d.getAs[Boolean]("demoted") && d.getLong(2) == 3L, d.toString)
  }

  test("streaming outcome ingest: 304 fold against committed history; replay converges") {
    val base = tmpDir("outcome_ingest_spec")
    val hist = base + "/hist"
    val cp = base + "/cp"
    import graft.streaming.Streams
    def w(rows: Seq[(String, Long, String, String, java.lang.Long, Int)]) =
      rows.toDF("url", "ts", "h", "etag", "lm", "status")
    // wave 0: bootstrap 200s
    assert(Streams.outcomeIngestBatch(
      w(Seq(("u", 100L, "a", "e1", null, 200),
        ("v", 100L, "x", null, null, 200))), 0L, hist, cp))
    // wave 1: u revalidates 304 (carry a + e1), v changes
    val w1 = w(Seq(("u", 200L, null, null, null, 304),
      ("v", 200L, "y", null, null, 200)))
    assert(Streams.outcomeIngestBatch(w1, 1L, hist, cp))
    assert(!Streams.outcomeIngestBatch(w1, 1L, hist, cp),
      "a committed batch must be skipped on replay")
    def snapshot = Frontier.fetchHistory(spark, hist).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3))).sortBy(x => (x._1, x._2)).toSeq
    val expected = Seq(("u", 100L, "a", "e1"), ("u", 200L, "a", "e1"),
      ("v", 100L, "x", null), ("v", 200L, "y", null))
    assert(snapshot == expected, snapshot.toString)
    // crash between append and marker: drop the marker, replay — the
    // 304 fold recomputes against history MINUS its own partial files
    // (excludeTag) and the tagged append converges
    val hp = new org.apache.hadoop.fs.Path(hist)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(hp)
      .filter(_.getPath.getName.startsWith("_graft_outcome_ingest_commit"))
      .filter(_.getPath.getName.endsWith("1"))
      .foreach(st => fs.delete(st.getPath, false))
    assert(Streams.outcomeIngestBatch(w1, 1L, hist, cp))
    assert(snapshot == expected, s"marker-loss replay diverged: $snapshot")
  }

  test("capPerHost keeps the k best per host and plans WindowGroupLimit") {
    val urls = (0 until 40).map(i =>
      (s"http://h${i % 2}.com/$i", (i % 5).toLong)).toDF("url", "prio")
    val capped = Frontier.capPerHost(urls, "url", "prio", maxPerHost = 3)
    val got = capped.collect()
    assert(got.length == 6, "3 per host × 2 hosts")
    // every kept row has prio 4 (the top band has ≥3 members per host)
    assert(got.forall(_.getLong(1) == 4L))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "the cap must plan as a map-side partial top-k:\n" + plan)
  }

  test("robots sitemap lines: case, tabs, comments") {
    val txt = "User-agent: *\nSITEMAP: http://h/m1.xml\n" +
      "# sitemap: http://h/commented.xml\n" +
      "sitemap:\thttp://h/m2.xml # trailing\nDisallow: /x\n"
    val got = Seq(txt).toDF("t")
      .select(explode(TextFunctions.robotsSitemaps(col("t"))))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("http://h/m1.xml", "http://h/m2.xml"))
  }

  test("revisit schedule: halve on change, double on same, clamped, " +
      "due at the <= boundary") {
    def sched(rows: Seq[(String, Long, String)], now: Long) =
      Frontier.revisitSchedule(rows.toDF("url", "ts", "h"),
          "url", "ts", "h", nowSec = now,
          baseSec = 400L, minSec = 100L, maxSec = 1600L)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getBoolean(5)))).toMap
    // single fetch: interval = base; due boundary is inclusive
    val single = sched(Seq(("u", 1000L, "a")), now = 1400L)
    assert(single("u") == ((1L, 0L, 400L, 1400L, true)), single.toString)
    assert(sched(Seq(("u", 1000L, "a")), now = 1399L)("u")._5 == false)
    // every fetch changes: 400 -> 200 -> 100 -> clamp 100
    val hot = sched(Seq(("u", 0L, "a"), ("u", 10L, "b"), ("u", 20L, "c"),
      ("u", 30L, "d")), now = 0L)
    assert(hot("u") == ((4L, 3L, 100L, 130L, false)), hot.toString)
    // never changes: 400 -> 800 -> 1600 -> clamp 1600
    val cold = sched(Seq(("u", 0L, "a"), ("u", 10L, "a"), ("u", 20L, "a"),
      ("u", 30L, "a")), now = 5000L)
    assert(cold("u") == ((4L, 0L, 1600L, 1630L, true)), cold.toString)
    // mixed walk: change (200), same (400), change (200)
    val mixed = sched(Seq(("u", 0L, "a"), ("u", 10L, "b"), ("u", 20L, "b"),
      ("u", 30L, "c")), now = 0L)
    assert(mixed("u") == ((4L, 2L, 200L, 230L, false)), mixed.toString)
    // per-url independence + out-of-order input rows sort by ts
    val multi = sched(Seq(("v", 20L, "a"), ("v", 0L, "a"), ("v", 10L, "b"),
      ("w", 0L, "x")), now = 1000L)
    // v: a -> b (change, 200) -> a (change again, 100); reverting
    // content counts as a change — hash inequality, not novelty
    assert(multi("v") == ((3L, 2L, 100L, 120L, true)), multi.toString)
    assert(multi("w") == ((1L, 0L, 400L, 400L, true)), multi.toString)
  }

  private def histDf(rows: Seq[(String, Long, String, String, java.lang.Long)]) =
    rows.toDF("url", "ts", "h", "etag", "lm")

  test("property: revalidationPlan's backoff fields equal revisitSchedule's") {
    // seeded random histories: many urls, varying lengths, change patterns
    val rnd = new scala.util.Random(20260816L)
    val rows = (0 until 60).flatMap { u =>
      val n = 1 + rnd.nextInt(6)
      (0 until n).map { i =>
        (s"u$u", i * 100L + rnd.nextInt(50),
          s"v${rnd.nextInt(3)}",
          if (rnd.nextBoolean()) s"e${rnd.nextInt(4)}" else null,
          if (rnd.nextBoolean()) java.lang.Long.valueOf(rnd.nextInt(9))
          else null.asInstanceOf[java.lang.Long])
      }
    }
    val h = histDf(rows)
    val base = Frontier.revisitSchedule(h, "url", "ts", "h",
        nowSec = 700L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    val plan = Frontier.revalidationPlan(h, "url", "ts", "h", "etag", "lm",
        nowSec = 700L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(plan == base,
      "validator carry must not perturb the backoff arithmetic")
  }

  test("revalidationPlan: latest-row validators, same backoff as revisitSchedule") {
    val h = histDf(Seq(
      ("u", 0L, "a", "e1", 50L),
      ("u", 10L, "b", "e2", null),     // latest: etag e2, lm gone (replaced)
      ("v", 0L, "x", null, null)))
    val r = Frontier.revalidationPlan(h, "url", "ts", "h", "etag", "lm",
        nowSec = 1000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .collect().map(x => x.getString(0) -> x).toMap
    val u = r("u")
    // change at fetch 2: 400 -> 200; validators = latest row's only
    assert(u.getLong(3) == 200L && u.getString(6) == "e2")
    assert(u.isNullAt(7), "a 200 that omitted Last-Modified erases it")
    assert(u.getBoolean(8), "etag present -> conditional")
    val v = r("v")
    assert(v.isNullAt(6) && v.isNullAt(7) && !v.getBoolean(8))
  }

  test("cacheControl: token positions, quoting, case; freshnessFloor arithmetic") {
    val cc = Seq(
      (1L, "public, max-age=300"),
      (2L, "x-max-age=99"),                 // decoy only -> all absent
      (3L, "NO-STORE, IMMUTABLE, MAX-AGE=\"60\""),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "h")
      .select(col("id"), TextFunctions.cacheControl(col("h")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(cc(1L).getLong(0) == 300L && !cc(1L).getBoolean(1))
    assert(cc(2L).isNullAt(0) && !cc(2L).getBoolean(1) && !cc(2L).getBoolean(2))
    assert(cc(3L).getLong(0) == 60L && cc(3L).getBoolean(1) && cc(3L).getBoolean(2))
    assert(cc(4L).isNullAt(0) && !cc(4L).getBoolean(1))
    // floor: max-age pushes next_due later, never earlier; no-store
    // kills conditional; headerless urls untouched
    val h = histDf(Seq(
      ("u", 1000L, "a", "e1", null), ("v", 1000L, "a", "e2", null),
      ("w", 1000L, "a", null, null)))
    val plan = Frontier.revalidationPlan(h, "url", "ts", "h", "etag", "lm",
      nowSec = 1300L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
    val hdrs = Seq(("u", "max-age=900"), ("v", "no-store, max-age=100"))
      .toDF("u", "cc")
    val out = Frontier.freshnessFloor(plan, hdrs, "u", "cc", nowSec = 1300L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(4), r.getBoolean(5), r.getBoolean(8)))).toMap
    assert(out("u") == ((1900L, false, true)),  // floored past backoff 1400
      out.toString)
    assert(out("v") == ((1400L, false, false)), // floor 1100 < 1400; no-store
      out.toString)
    assert(out("w") == ((1400L, false, false)), // untouched, no validators
      out.toString)
    // duplicate header rows merge politer-wins instead of duplicating
    // the url's plan row
    val dup = Seq(("u", "max-age=100"), ("u", "no-store, max-age=900"))
      .toDF("u", "cc")
    val merged = Frontier.freshnessFloor(plan, dup, "u", "cc", nowSec = 1300L)
      .filter(col("url") === "u").collect()
    assert(merged.length == 1, "dup headers must not duplicate plan rows")
    assert(merged.head.getLong(4) == 1900L &&
      merged.head.getAs[Boolean]("no_store") &&
      !merged.head.getBoolean(8))
  }

  test("recordOutcomes: 304 carries hash+validators, 200 replaces, refusals loud") {
    val h = histDf(Seq(
      ("u", 0L, "a", "e1", 50L),
      ("u", 10L, "b", "e2", 60L),
      ("w", 0L, "x", "ex", null)))
    val out = Seq(
      ("u", 20L, null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Long], 304),
      ("w", 20L, "y", null.asInstanceOf[String],
        java.lang.Long.valueOf(99L), 200))
      .toDF("url", "ts", "h", "etag", "lm", "status")
    val rec = Frontier.recordOutcomes(h, out, "url", "ts", "h", "etag",
        "lm", "status").collect().map(x => x.getString(0) -> x).toMap
    // 304: prior hash + prior validators carried from the LATEST row
    assert(rec("u").getString(2) == "b" && rec("u").getString(3) == "e2" &&
      rec("u").getLong(4) == 60L)
    // 200: new hash, validators replace (etag erased, lm set)
    assert(rec("w").getString(2) == "y" && rec("w").isNullAt(3) &&
      rec("w").getLong(4) == 99L)
    // a 304 that itself refreshes a validator wins over the carry
    val rec2 = Frontier.recordOutcomes(h,
        Seq(("u", 20L, null.asInstanceOf[String], "e3",
          null.asInstanceOf[java.lang.Long], 304))
          .toDF("url", "ts", "h", "etag", "lm", "status"),
        "url", "ts", "h", "etag", "lm", "status").collect().head
    assert(rec2.getString(3) == "e3" && rec2.getLong(4) == 60L)
    // the composed loop: appending the 304 row doubles the interval
    val plan = Frontier.revalidationPlan(
      h.unionByName(Frontier.recordOutcomes(h, out.filter(col("url") === "u"),
        "url", "ts", "h", "etag", "lm", "status")),
      "url", "ts", "h", "etag", "lm",
      nowSec = 1000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("url") === "u").collect().head
    assert(plan.getLong(3) == 400L, // 400 -> change 200 -> 304 same 400
      s"304 must double the halved interval: $plan")
    // refusals: unexpected status; 304 with no prior history
    intercept[Exception] {
      Frontier.recordOutcomes(h,
        Seq(("u", 20L, "z", null.asInstanceOf[String],
          null.asInstanceOf[java.lang.Long], 500))
          .toDF("url", "ts", "h", "etag", "lm", "status"),
        "url", "ts", "h", "etag", "lm", "status").collect()
    }
    intercept[Exception] {
      Frontier.recordOutcomes(h,
        Seq(("never-seen", 20L, null.asInstanceOf[String],
          null.asInstanceOf[String], null.asInstanceOf[java.lang.Long], 304))
          .toDF("url", "ts", "h", "etag", "lm", "status"),
        "url", "ts", "h", "etag", "lm", "status").collect()
    }
  }

  test("recordOutcomes refusals fire under count(), a one-column select and collect()") {
    val h = histDf(Seq(("u", 0L, "a", "e1", 50L)))
    def outcome(url: String, hash: String, status: Int) =
      Seq((url, 20L, hash, null.asInstanceOf[String],
        null.asInstanceOf[java.lang.Long], status))
        .toDF("url", "ts", "h", "etag", "lm", "status")
    val cases = Seq(
      outcome("u", "z", 500) -> "status must be 200 or 304, got 500 for u",
      outcome("never-seen", null, 304) ->
        "304 for a URL with no prior history: never-seen",
      outcome("u", null, 200) -> "200 with null content hash for u")
    for ((out, msg) <- cases) {
      val r = Frontier.recordOutcomes(h, out, "url", "ts", "h", "etag",
        "lm", "status")
      val actions = Seq[(String, () => Any)](
        "count()" -> (() => r.count()),
        "select(ts).collect()" -> (() => r.select("ts").collect()),
        "collect()" -> (() => r.collect()))
      for ((name, run) <- actions) {
        val e = intercept[Exception](run())
        assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      }
    }
  }
}
