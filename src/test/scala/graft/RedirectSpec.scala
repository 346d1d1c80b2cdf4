package graft

import org.apache.spark.sql.functions._
import graft.operators.Frontier

/** HTTP 3xx redirect-chain resolution: chain walks, permanence
  * semantics, loop/exceeded flags, identity migration into the fetch
  * history, and the refuse-loudly edges. */
class RedirectSpec extends SparkSpec {
  import spark.implicits._

  private def rmap(rows: (String, Int, String)*) =
    rows.toSeq.toDF("url", "status", "location")

  test("chains resolve with hop counts and end-to-end permanence") {
    val r = Frontier.resolveRedirects(rmap(
        ("a", 301, "b"), ("b", 308, "c"),        // all-permanent chain
        ("p", 301, "q"), ("q", 302, "r"),        // one temporary hop
        ("x", 307, "y")),                        // single temporary hop
      "url", "status", "location").collect()
      .map(x => x.getString(0) -> ((Option(x.getString(1)).orNull,
        x.getLong(2), x.getBoolean(3), x.getString(4)))).toMap
    assert(r("a") == (("c", 2L, true, "resolved")), r.toString)
    assert(r("b") == (("c", 1L, true, "resolved")), r.toString)
    assert(r("p") == (("r", 2L, false, "resolved")),
      "one 302 hop anywhere must defeat permanence: " + r.toString)
    assert(r("q") == (("r", 1L, false, "resolved")), r.toString)
    assert(r("x") == (("y", 1L, false, "resolved")), r.toString)
  }

  test("loops and over-long chains flag instead of resolving") {
    val r = Frontier.resolveRedirects(rmap(
        ("l1", 301, "l2"), ("l2", 301, "l1"),    // 2-cycle
        ("s", 301, "s"),                          // self-redirect
        ("c0", 301, "c1"), ("c1", 301, "c2"), ("c2", 301, "c3"),
        ("c3", 301, "c4")),                       // 4-hop tail from c0
      "url", "status", "location", maxHops = 3).collect()
      .map(x => x.getString(0) -> ((Option(x.getString(1)).orNull,
        x.getLong(2), x.getBoolean(3), x.getString(4)))).toMap
    // hops counts redirects actually FOLLOWED: the revisiting hop is
    // detected, never taken, so a 2-cycle flags at hops=1
    assert(r("l1") == ((null, 1L, false, "loop")), r.toString)
    assert(r("l2") == ((null, 1L, false, "loop")), r.toString)
    assert(r("s") == ((null, 1L, false, "loop")), r.toString)
    // c0 needs 4 hops > 3 -> exceeded at the bound; c1 resolves in 3
    assert(r("c0") == ((null, 3L, false, "exceeded")), r.toString)
    assert(r("c1") == (("c4", 3L, true, "resolved")), r.toString)
    assert(r("c2") == (("c4", 2L, true, "resolved")), r.toString)
  }

  test("refusals: non-3xx status, null location, conflicting snapshot") {
    intercept[Exception] {
      Frontier.resolveRedirects(rmap(("a", 200, "b")),
        "url", "status", "location").collect()
    }
    intercept[Exception] {
      Frontier.resolveRedirects(
        Seq(("a", 301, null.asInstanceOf[String]))
          .toDF("url", "status", "location"),
        "url", "status", "location").collect()
    }
    intercept[Exception] {
      Frontier.resolveRedirects(rmap(("a", 301, "b"), ("a", 301, "c")),
        "url", "status", "location").collect()
    }
    // exact duplicate rows are NOT a conflict (the same observation twice)
    val ok = Frontier.resolveRedirects(
      rmap(("a", 301, "b"), ("a", 301, "b")),
      "url", "status", "location").collect()
    assert(ok.length == 1 && ok.head.getString(1) == "b")
    // MIXED statuses for ONE target are not a conflict either — the hop
    // collapses to the politer reading (permanent only if ALL agree)
    val mixed = Frontier.resolveRedirects(
      rmap(("a", 301, "b"), ("a", 302, "b")),
      "url", "status", "location").collect().head
    assert(mixed.getString(1) == "b" && !mixed.getBoolean(3) &&
      mixed.getString(4) == "resolved", mixed.toString)
    val agreed = Frontier.resolveRedirects(
      rmap(("a", 301, "b"), ("a", 308, "b")),
      "url", "status", "location").collect().head
    assert(agreed.getBoolean(3), "all-permanent observations stay permanent")
  }

  test("relative Locations resolve against the source before the walk") {
    val r = Frontier.resolveRedirects(rmap(
        // /abs-path, ../up, ?query and //net-path forms, chained: the
        // second hop's source is the RESOLVED spelling of the first
        ("http://h.com/dir/a", 301, "../b"),
        ("http://h.com/b", 308, "/c/d"),
        ("http://h.com/c/d", 301, "//h2.com/e"),
        ("http://q.com/p", 302, "?page=2")),
      "url", "status", "location").collect()
      .map(x => x.getString(0) -> ((Option(x.getString(1)).orNull,
        x.getLong(2), x.getBoolean(3), x.getString(4)))).toMap
    assert(r("http://h.com/dir/a") ==
      (("http://h2.com/e", 3L, true, "resolved")), r.toString)
    assert(r("http://h.com/b") ==
      (("http://h2.com/e", 2L, true, "resolved")), r.toString)
    assert(r("http://q.com/p") ==
      (("http://q.com/p?page=2", 1L, false, "resolved")), r.toString)
    // two spellings of ONE target from one source are not a conflict
    val ok = Frontier.resolveRedirects(rmap(
        ("http://h.com/dir/a", 301, "../b"),
        ("http://h.com/dir/a", 301, "/b")),
      "url", "status", "location").collect()
    assert(ok.length == 1 && ok.head.getString(1) == "http://h.com/b")
  }

  test("permanent moves migrate fetch-history identity; temporary don't") {
    val resolved = Frontier.resolveRedirects(rmap(
        ("old", 308, "new"), ("tmp", 302, "t2")),
      "url", "status", "location")
    val hist = Seq(
      ("old", 10L, "h1", "e1", 50L), ("old", 20L, "h2", "e2", 60L),
      ("new", 30L, "h3", "e3", 70L), ("tmp", 40L, "h4", "e4", 80L),
      ("other", 50L, "h5", "e5", 90L))
      .toDF("url", "ts", "h", "etag", "lm")
    val moved = Frontier.applyRedirectMoves(hist, "url", resolved)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // old's rows follow it to new (merging with new's own); tmp stays
    assert(moved == Seq(("new", 10L), ("new", 20L), ("new", 30L),
      ("other", 50L), ("tmp", 40L)), moved.toString)
    // the composed t94 claim: validators follow the moved URL — the
    // revalidation plan for `new` carries e2 (old's latest validator
    // predates new's own row at ts 30 -> latest is h3/e3)
    val plan = Frontier.revalidationPlan(
        Frontier.applyRedirectMoves(hist, "url", resolved),
        "url", "ts", "h", "etag", "lm",
        nowSec = 1000L, baseSec = 100L, minSec = 10L, maxSec = 800L)
      .filter(col("url") === "new").collect().head
    assert(plan.getLong(1) == 3L && plan.getString(6) == "e3",
      plan.toString)
    // enqueue wave: both landing pages, no flags
    val targets = Frontier.redirectTargets(resolved)
      .as[String].collect().sorted.toSeq
    assert(targets == Seq("new", "t2"), targets.toString)
  }

  private def movesDf(rows: (String, String, Long, Boolean, String)*) =
    rows.toSeq.toDF("url", "final_url", "hops", "permanent", "outcome")

  test("compactRedirectMoves: one compacted pass equals iterated " +
      "application, cross-wave chains land at their transitive ends") {
    // wave 1 committed a->b, wave 2 b->c, wave 3 c->e; plus a
    // permanent whose target moved only TEMPORARILY (t->u, u->v temp)
    val moves = movesDf(
      ("a", "b", 1L, true, "resolved"),
      ("b", "c", 1L, true, "resolved"),
      ("c", "e", 1L, true, "resolved"),
      ("t", "u", 1L, true, "resolved"),
      ("u", "v", 1L, false, "resolved"),
      ("lp", "lp", 2L, false, "loop"),
      ("b", "c", 1L, true, "resolved")) // replay duplicate collapses
    val compacted = Frontier.compactRedirectMoves(moves)
    val got = compacted.collect().map(r => r.getString(0) ->
      ((Option(r.getString(1)).orNull, r.getLong(2), r.getBoolean(3),
        r.getString(4)))).toMap
    assert(got("a") == (("e", 3L, true, "resolved")), got.toString)
    assert(got("b") == (("e", 2L, true, "resolved")), got.toString)
    assert(got("c") == (("e", 1L, true, "resolved")), got.toString)
    assert(got("t") == (("u", 1L, true, "resolved")),
      "a temporary target move must not chain: " + got.toString)
    assert(got("u") == (("v", 1L, false, "resolved")), got.toString)
    assert(got("lp") == (("lp", 2L, false, "loop")), got.toString)
    assert(compacted.count() == 6, "replay duplicate must collapse")
    // one pass over the COMPACTED table == applying the raw table
    // until fixpoint (three times here)
    val table = Seq("a", "b", "c", "t", "other").toDF("url")
      .withColumn("payload", col("url"))
    val onePass = Frontier.applyRedirectMoves(table, "url", compacted)
      .orderBy("payload").collect().map(r => (r.getString(0), r.getString(1)))
    // applyRedirectMoves expects url-unique moves (resolveRedirects'
    // per-wave output shape) — dedupe the replayed table first
    val iterated = (1 to 3).foldLeft(table)((t, _) =>
        Frontier.applyRedirectMoves(t, "url", moves.dropDuplicates()))
      .orderBy("payload").collect().map(r => (r.getString(0), r.getString(1)))
    assert(onePass.toSeq == iterated.toSeq,
      s"one-pass $onePass vs iterated $iterated")
  }

  test("compactRedirectMoves early exit: a converged table yields the " +
      "same rows whatever the round budget") {
    // 9-hop chain (needs 4 doubling rounds) + short chains that converge
    // after round 2 — the loop must stop at the moved-rows fixpoint and
    // produce identical results under any budget that covers the chain
    val moves = movesDf(
      ((0 until 9).map(i => (s"c$i", s"c${i + 1}", 1L, true, "resolved")) ++
        Seq(("x", "y", 1L, true, "resolved"),
            ("y", "z", 1L, true, "resolved"))): _*)
    def run(budget: Int): Map[String, (String, Long)] =
      Frontier.compactRedirectMoves(moves, maxChain = budget).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val tight = run(16)   // 4 rounds budgeted, early exit at fixpoint
    val loose = run(1024) // 10 rounds budgeted, must exit early too
    assert(tight == loose, s"$tight vs $loose")
    assert(tight("c0") == (("c9", 9L)) && tight("c8") == (("c9", 1L)))
    assert(tight("x") == (("z", 2L)) && tight("y") == (("z", 1L)))
  }

  test("compactRedirectMoves refuses permanent cycles and divergent " +
      "targets loudly") {
    val cyc = movesDf(
      ("a", "b", 1L, true, "resolved"),
      ("b", "a", 1L, true, "resolved"))
    val e1 = intercept[Exception] {
      Frontier.compactRedirectMoves(cyc).collect()
    }
    assert(e1.getMessage.contains("cycle"), e1.getMessage)
    val div = movesDf(
      ("a", "b", 1L, true, "resolved"),
      ("a", "c", 1L, true, "resolved"))
    val e2 = intercept[Exception] {
      Frontier.compactRedirectMoves(div).collect()
    }
    assert(e2.getMessage.contains("conflicting"), e2.getMessage)
    // a chain longer than maxChain is indistinguishable from a cycle
    // at budget exhaustion: refuse, never silently truncate
    val long = movesDf((0 until 6).map(i =>
      (s"n$i", s"n${i + 1}", 1L, true, "resolved")): _*)
    val e3 = intercept[Exception] {
      Frontier.compactRedirectMoves(long, maxChain = 4).collect()
    }
    assert(e3.getMessage.contains("longer"), e3.getMessage)
    // ... while the default budget lands it fine
    val ok = Frontier.compactRedirectMoves(long).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ok("n0") == "n6" && ok("n5") == "n6", ok.toString)
  }

  test("compactRedirectMoves drops permanent moves with a null url; other rows pass through") {
    val moves = movesDf(
      ("a", "b", 1L, true, "resolved"),
      (null, "b", 1L, true, "resolved"),
      (null, "t", 1L, false, "resolved"))
    val got = Frontier.compactRedirectMoves(moves).collect()
      .map(r => (Option(r.getString(0)), r.getString(1), r.getBoolean(3))).toSet
    assert(got == Set((Some("a"), "b", true), (None, "t", false)), got.toString)
  }
}
