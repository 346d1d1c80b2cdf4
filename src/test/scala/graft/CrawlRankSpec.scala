package graft

import org.apache.spark.sql.functions._
import graft.operators.Frontier

/** Host-graph PageRank + rank-proportional budget allocation. */
class CrawlRankSpec extends SparkSpec {
  import spark.implicits._

  // host edges: a->b, a->a (self), c->b; b is dangling
  private def links = Seq(
    ("http://a.com/1", "http://b.com/x"),
    ("http://a.com/2", "http://a.com/z"),
    ("http://a.com/3", "http://b.com/q"), // same host edge as /1 -> collapses
    ("http://c.com/1", "http://b.com/y")
  ).toDF("url", "outlink")

  test("one iteration matches hand-computed integer arithmetic") {
    val r = Frontier.hostRank(links, "url", "outlink", iterations = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // n=3, r0=333333333, teleport=50000000
    // c(b) = 333333333 div 2 + 333333333 = 499999999
    // c(a) = 333333333 div 2 = 166666666
    assert(r("a.com") == 50000000L + 166666666L * 85 / 100)
    assert(r("b.com") == 50000000L + 499999999L * 85 / 100)
    assert(r("c.com") == 50000000L)
  }

  test("the dangling authority outranks its linkers at depth") {
    val r = Frontier.hostRank(links, "url", "outlink")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("b.com") > r("a.com") && r("a.com") > r("c.com"), r.toString)
  }

  test("duplicate url-level links do not change host ranks") {
    val doubled = links.unionByName(links)
    assert(canon(Frontier.hostRank(links, "url", "outlink")) ==
      canon(Frontier.hostRank(doubled, "url", "outlink")))
  }

  test("the host-id collision guard survives count(), a narrow select and collect()") {
    val trusted = Seq("a.com").toDF("h")
    for ((name, out) <- Seq(
        "hostRank" -> Frontier.hostRank(links, "url", "outlink"),
        "hostTrustRank" -> Frontier.hostTrustRank(links, "url", "outlink", trusted, "h"))) {
      val rankCol = out.columns(1)
      for ((action, df) <- Seq("count()" -> out.groupBy().count(),
          s"select($rankCol)" -> out.select(rankCol), "collect()" -> out))
        assert(df.queryExecution.optimizedPlan.toString.contains("raise_error"),
          s"$name under $action dropped the guard")
      out.collect() // the result's first action releases its edge cache
    }
  }

  test("rankBudget allocates proportional integer slots within total") {
    val hr = Frontier.hostRank(links, "url", "outlink")
    val b = Frontier.rankBudget(hr, "host", "rank_ppb", 10000L).collect()
    val total = b.map(_.getAs[Long]("budget")).sum
    assert(total <= 10000L && total > 9990L, s"floor split, got $total")
    val byRank = b.sortBy(-_.getAs[Long]("rank_ppb")).map(_.getAs[Long]("budget"))
    assert(byRank.sameElements(byRank.sorted.reverse))
  }
}

/** Page-level robots directives. */
class MetaRobotsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Frontier

  private def flags(html: String): (Boolean, Boolean) = {
    val r = Frontier.pageDirectives(Seq((1L, html)).toDF("id", "html"), "html")
      .collect().head
    (r.getAs[Boolean]("noindex"), r.getAs[Boolean]("nofollow"))
  }

  test("directive grammar: spacing, case, none, defaults") {
    assert(flags("""<meta name="robots" content=" NOINDEX , nofollow ">""")
      == ((true, true)))
    assert(flags("""<meta name="robots" content="none">""") == ((true, true)))
    assert(flags("""<meta name="robots" content="index, follow">""")
      == ((false, false)))
    assert(flags("<html>no meta at all</html>") == ((false, false)))
    // unrelated meta must not trip the parse
    assert(flags("""<meta name="description" content="noindex">""")
      == ((false, false)))
  }

  test("indexablePages drops exactly the noindex pages and its columns") {
    val pages = Seq(
      (1L, """<meta name="robots" content="noindex">"""),
      (2L, """<meta name="robots" content="nofollow">"""),
      (3L, "")).toDF("id", "html")
    val kept = Frontier.indexablePages(pages, "html")
    assert(kept.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(!kept.columns.contains("noindex"))
  }

  test("reserved-column collision refused") {
    val pages = Seq((1L, "", true)).toDF("id", "html", "noindex")
    intercept[IllegalArgumentException] {
      Frontier.pageDirectives(pages, "html")
    }
  }

  test("null html defaults to indexable and followable, not dropped") {
    val pages = Seq((1L, null.asInstanceOf[String]), (2L, "<p>x</p>"))
      .toDF("id", "html")
    val d = Frontier.pageDirectives(pages, "html").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("noindex"), r.getAs[Boolean]("nofollow"))).toMap
    assert(d(1L) == ((false, false)) && d(2L) == ((false, false)))
    assert(Frontier.indexablePages(pages, "html")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}

/** Per-link nofollow honoring. */
class FollowableLinksSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TextFunctions

  private def links(html: String): Seq[String] =
    Seq(html).toDF("h")
      .select(TextFunctions.htmlFollowableLinks(org.apache.spark.sql.functions.col("h")))
      .collect().head.getSeq[String](0).toSeq

  test("sponsored and ugc tokens drop; similar words do not") {
    val html = """<a href="/a" rel="sponsored">s</a>""" +
      """<a href="/b" rel="ugc">u</a>""" +
      """<a href="/c" rel="sponsorship">keep</a>""" +   // not a token
      """<a href="/d" rel="external noopener">keep</a>"""
    assert(links(html) == Seq("/c", "/d"))
  }

  test("rel position and quoting variants all count") {
    val html = """<a rel=nofollow href="/a">x</a>""" +
      """<a href="/b" rel='me nofollow'>x</a>""" +
      """<a href="/c">plain</a>"""
    assert(links(html) == Seq("/c"))
  }

  test("entities decode in followable hrefs; hrefless anchors vanish") {
    val html = """<a href="/p?a=1&amp;b=2">x</a><a name="anchor">y</a>"""
    assert(links(html) == Seq("/p?a=1&b=2"))
  }

  test("rel tokens hiding inside other attribute values do not drop the link") {
    val html = """<a href="/out?rel=nofollow">query-string decoy</a>""" +
      """<a title="rel=nofollow" href="/t">attr-value decoy</a>""" +
      """<a title='he said rel="ugc"' href="/q">quoted decoy</a>""" +
      """<a href="/real" rel="nofollow">genuine</a>""" +
      """<a href="/bare" rel=sponsored>bare genuine</a>"""
    assert(links(html) == Seq("/out?rel=nofollow", "/t", "/q"))
  }
}
