package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Frontier

/** RSS/Atom feed entry extraction — the t56-style discovery leg. */
class FeedSpec extends SparkSpec {
  import spark.implicits._

  private def entries(xml: String): Seq[(String, String, String)] =
    Frontier.feedEntries(Seq(("http://h/feed", xml)).toDF("u", "x"), "u", "x")
      .collect().map(r => (r.getString(0),
        r.getString(1), r.getString(2))).toSeq

  test("atom: href link, entity decode, padded updated, feed-level decoys out") {
    val xml =
      """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
        |<title>t</title><link rel="self" href="http://decoy/feed"/>
        |<updated>1999-01-01T00:00:00Z</updated>
        |<entry><title>a</title>
        |  <link rel="alternate" href="http://h/p?a=1&amp;b=2"/>
        |  <updated> 2026-02-01T10:00:00Z </updated></entry>
        |<entry><title>b</title><link href="http://h/q"/></entry>
        |</feed>""".stripMargin
    assert(entries(xml) == Seq(
      ("http://h/feed", "http://h/p?a=1&b=2", "2026-02-01T10:00:00Z"),
      ("http://h/feed", "http://h/q", null)))
  }

  test("rss: text link trimmed+decoded, pubDate, channel metadata out, mixed case") {
    val xml =
      """<rss version="2.0"><channel><title>c</title>
        |<link>http://decoy/</link><pubDate>Mon, 01 Jan 1999</pubDate>
        |<Item><link> http://h/r?x=1&amp;y=2 </link>
        |  <pubDate>Tue, 03 Feb 2026 10:00:00 GMT</pubDate></Item>
        |<item><description>no link at all</description></item>
        |</channel></rss>""".stripMargin
    assert(entries(xml) == Seq(
      ("http://h/feed", "http://h/r?x=1&y=2", "Tue, 03 Feb 2026 10:00:00 GMT")))
  }

  test("updated wins over pubDate when an entry carries both; empty feed empty") {
    val xml = "<feed><entry><link href='http://h/z'/>" +
      "<updated>U</updated><pubDate>P</pubDate></entry></feed>"
    assert(entries(xml) == Seq(("http://h/feed", "http://h/z", "U")))
    assert(entries("<feed><title>empty</title></feed>").isEmpty)
    assert(entries("").isEmpty)
  }

  test("feed/anchor/cache-control extraction is total over markup junk") {
    val rnd = new Random(20260821L)
    val frags = Seq("<entry>", "</entry>", "<item>", "<Item >", "<link",
      " href=\"", "'", "\"", ">", "<updated>", "</pubDate>", "<a ", "rel=",
      "nofollow", "&amp;", "&#x", "max-age=", "no-store", "<url>", "<loc>",
      "</loc>", "<lastmod>", "x")
    val rows = (1 to 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(20))
        .map(_ => frags(rnd.nextInt(frags.length))).mkString)
    }
    val df = rows.toDF("id", "s")
    // every kernel must evaluate over every junk row without throwing
    val n = df.select(
      size(TextFunctions.feedEntryBlocks(col("s"))),
      size(TextFunctions.htmlAnchors(col("s"))),
      size(TextFunctions.sitemapEntries(col("s"))),
      size(TextFunctions.htmlFollowableLinks(col("s"))),
      TextFunctions.cacheControl(col("s"))).count()
    assert(n == 200L)
  }
}
