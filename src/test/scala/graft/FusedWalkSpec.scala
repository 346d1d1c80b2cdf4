package graft

import graft.operators.{Frontier, Graph}

/** The walks (pageRank, trustRank, resolveRedirects) have ONE iteration
  * body: rounds compose into one plan, cut after every
  * Graph.FuseIterationLimit-th round that more rounds follow. Each walk is
  * checked against an explicit reference on both sides of the limit: a
  * plain-Scala replay of the integer recurrence for the ranks, and
  * hand-written rows for the redirects. */
class FusedWalkSpec extends SparkSpec {
  import spark.implicits._

  // irregular graph: cycle + dangling sink + fan-in + isolated-from-seed farm
  private val edgeList = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L), (2L, 5L),
    (8L, 9L), (9L, 8L), (8L, 5L))
  private def edges = edgeList.toDF("src", "dst")
  private val nodes = edgeList.flatMap { case (a, b) => Seq(a, b) }.distinct

  /** The walks' recurrence in plain Scala, integer ppb throughout:
    * r'(v) = tele(v) + (Σ_{u→v} r(u) div outdeg(u)) · d div 100. */
  private def replay(init: Map[Long, Long], tele: Long => Long, rounds: Int,
      dampingPct: Int = 85): Map[Long, Long] = {
    val outdeg = edgeList.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    (1 to rounds).foldLeft(init) { (r, _) =>
      val in = edgeList.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / outdeg(u) }.sum }
      nodes.map(v => v -> (tele(v) + in.getOrElse(v, 0L) * dampingPct / 100)).toMap
    }
  }

  private def pageRankReplay(rounds: Int): Map[Long, Long] = {
    val n = nodes.size.toLong
    replay(nodes.map(_ -> Graph.RankScale / n).toMap,
      _ => (Graph.RankScale * 15 / 100) / n, rounds)
  }

  private def checkPageRank(rounds: Int): Unit = {
    val got = Graph.pageRank(edges, "src", "dst", iterations = rounds)
      .as[(Long, Long)].collect().toMap
    assert(got == pageRankReplay(rounds), s"pageRank at $rounds rounds")
  }

  test("pageRank replay: 1, 5 and 8 rounds") {
    assert(Graph.FuseIterationLimit == 8)
    Seq(1, 5, 8).foreach(checkPageRank)
  }

  test("pageRank replay across cuts: 9 and 17 rounds") {
    Seq(9, 17).foreach(checkPageRank)
  }

  test("trustRank replay: 1, 5, 9 and 17 rounds") {
    val seeds = Set(1L, 4L)
    for (rounds <- Seq(1, 5, 9, 17)) {
      val got = Graph.trustRank(edges, "src", "dst", seeds.toSeq.toDF("s"), "s",
          rounds)
        .as[(Long, Long)].collect().toMap
      val want = replay(
        nodes.map(v => v -> (if (seeds(v)) Graph.RankScale / 2 else 0L)).toMap,
        v => if (seeds(v)) (Graph.RankScale * 15 / 100) / 2 else 0L, rounds)
      assert(got == want, s"trustRank at $rounds rounds")
    }
  }

  private type Resolved = (String, Option[String], Long, Boolean, String)

  private def resolve(rows: Seq[(String, Int, String)], maxHops: Int): Set[Resolved] =
    Frontier.resolveRedirects(rows.toDF("url", "status", "location"),
        "url", "status", "location", maxHops = maxHops)
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
        r.getBoolean(3), r.getString(4))).toSet

  private def u(s: String) = s"http://$s/"

  test("resolveRedirects rows at maxHops 3 and 5") {
    // chain a→b→c→d (permanent), loop l1→l2→l1, a chain e1→…→e6 that
    // exceeds maxHops 3, and a mixed-status source (301 and 302 → the
    // politer, temporary reading)
    val rows = Seq(
      (u("a"), 301, u("b")), (u("b"), 308, u("c")), (u("c"), 301, u("d")),
      (u("l1"), 302, u("l2")), (u("l2"), 302, u("l1")),
      (u("e1"), 301, u("e2")), (u("e2"), 301, u("e3")), (u("e3"), 301, u("e4")),
      (u("e4"), 301, u("e5")), (u("e5"), 301, u("e6")),
      (u("m"), 301, u("c")), (u("m"), 302, u("c")))
    def ok(from: String, to: String, hops: Long, perm: Boolean = true): Resolved =
      (u(from), Some(u(to)), hops, perm, "resolved")
    val common = Set[Resolved](
      ok("a", "d", 3), ok("b", "d", 2), ok("c", "d", 1),
      (u("l1"), None, 1L, false, "loop"), (u("l2"), None, 1L, false, "loop"),
      ok("e3", "e6", 3), ok("e4", "e6", 2), ok("e5", "e6", 1),
      ok("m", "d", 2, perm = false))
    assert(resolve(rows, 3) == common ++ Set(
      (u("e1"), None, 3L, false, "exceeded"), (u("e2"), None, 3L, false, "exceeded")))
    assert(resolve(rows, 5) == common ++ Set(ok("e1", "e6", 5), ok("e2", "e6", 4)))
  }

  test("resolveRedirects across a cut: 10-hop chain") {
    // c0→c1→…→c10: the head needs 10 hops, so it resolves at maxHops 12
    // and is exceeded at maxHops 9; both walks cut after round 8
    val chain = (0 until 10).map(i => (u(s"c$i"), 301, u(s"c${i + 1}")))
    val resolvedTail = (1 until 10).map[Resolved](i =>
      (u(s"c$i"), Some(u("c10")), (10 - i).toLong, true, "resolved")).toSet
    assert(resolve(chain, 12) ==
      resolvedTail + ((u("c0"), Some(u("c10")), 10L, true, "resolved")))
    assert(resolve(chain, 9) ==
      resolvedTail + ((u("c0"), None, 9L, false, "exceeded")))
  }
}
