package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.operators.{CacheRelease, Dedup, Frontier, Graph}

/** The iterative operators hold their generations through one helper
  * (graft.operators.Generations): at most one cached generation per chain
  * while the rounds run, and none once the result has been acted on. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Waits up to `ms` for the persisted RDDs outside `keep` to go —
    * releases run on the listener bus, after the action returns. */
  private def awaitOnly(keep: Set[Int], ms: Long = 10000): Set[Int] = {
    val deadline = System.currentTimeMillis() + ms
    while ((persisted -- keep).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    persisted -- keep
  }

  /** Drain what earlier tests released asynchronously, then return what
    * is still persisted: the caches this test did not make. (An earlier
    * result's local checkpoint stays persisted while it is reachable, so
    * the drain does not wait for an empty set.) */
  private def drained(): Set[Int] = { awaitOnly(Set.empty, ms = 1000); persisted }

  private val edgeList = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L), (2L, 5L),
    (8L, 9L), (9L, 8L), (8L, 5L), (3L, 4L))
  private def edges = edgeList.toDF("src", "dst")

  private val redirects = Seq(
      ("http://a/", 301, "http://b/"), ("http://b/", 301, "http://c/"),
      ("http://l1/", 302, "http://l2/"), ("http://l2/", 302, "http://l1/"))
    .toDF("url", "status", "location")

  private def moves = Seq(
      ("a", "b", 1L, true, "resolved"), ("b", "c", 1L, true, "resolved"),
      ("c", "e", 1L, true, "resolved"), ("x", null, 1L, false, "loop"))
    .toDF("url", "final_url", "hops", "permanent", "outcome")

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "pageRank(10)" -> (() => Graph.pageRank(edges, "src", "dst", iterations = 10)),
    "trustRank(10)" -> (() => Graph.trustRank(edges, "src", "dst",
      Seq(1L).toDF("s"), "s", 10)),
    "kCore" -> (() => Graph.kCore(edges, "src", "dst", k = 2)),
    "reachableFrom" -> (() => Graph.reachableFrom(edges, "src", "dst", Seq(1L), 3)),
    "boundedShortestPaths" -> (() => Graph.boundedShortestPaths(
      edges.withColumn("w", col("src") + 1), "src", "dst", "w", Seq(1L), 5)),
    "labelPropagation" -> (() => Graph.labelPropagation(edges, "src", "dst",
      Seq((1L, 7L), (9L, 8L)).toDF("n", "l"), "n", "l")),
    "resolveRedirects(10)" -> (() => Frontier.resolveRedirects(redirects,
      "url", "status", "location", maxHops = 10)),
    "compactRedirectMoves" -> (() => Frontier.compactRedirectMoves(moves)),
    "connectedComponents" -> (() => Dedup.connectedComponents(
      edgeList.toDF("id_a", "id_b"))))

  for ((name, build) <- operators)
    test(s"$name releases its caches after one collect") {
      val before = drained()
      val result = build()
      result.collect()
      // compactRedirectMoves returns an eager localCheckpoint, whose
      // blocks ARE its result; nothing else may stay persisted
      val checkpoint = result.queryExecution.analyzed
        .collect { case r: LogicalRDD => r.rdd.id }.toSet
      val left = awaitOnly(before ++ checkpoint)
      assert(left.isEmpty, s"$name left ${left.size} persisted RDD(s)")
    }

  test("pageRank(20) runs 3 actions: nodes.count() and 2 cuts") {
    assert(actionsDuring(Graph.pageRank(edges, "src", "dst", iterations = 8))._2 == 1)
    assert(actionsDuring(Graph.pageRank(edges, "src", "dst", iterations = 20))._2 == 3)
  }

  test("an abandoned connectedComponents result is released") {
    val before = drained()
    val abandoned = Dedup.connectedComponents(edgeList.toDF("id_a", "id_b"))
    assert((persisted -- before).nonEmpty, "the rounds hold their caches")
    // never acted on: unrelated actions expire its release listener (a
    // local relation collects without a Spark job, so each action is cheap)
    val unrelated = Seq(1).toDF("x")
    (0 to CacheRelease.MaxUnrelatedActions).foreach(_ => unrelated.collect())
    val left = awaitOnly(before)
    assert(left.isEmpty,
      s"${left.size} persisted RDD(s) outlived the abandoned ${abandoned.columns.mkString(",")}")
  }

  test("Dataset.rdd calls neither use nor expire a pending result") {
    // Spark reports each Dataset.rdd as an execution named "rdd" when the
    // RDD is created; it runs nothing, so it must not spend the pending
    // result's unrelated-action budget (nor count as its first action)
    val before = drained()
    val result = Dedup.connectedComponents(edgeList.toDF("id_a", "id_b"))
    val held = persisted -- before
    assert(held.nonEmpty, "the rounds hold their caches")
    val (_, actions) = actionsDuring(
      (0 to CacheRelease.MaxUnrelatedActions).foreach(_ => Seq(1).toDF("x").rdd))
    assert(actions == 0)
    assert(held.subsetOf(persisted), "released before the result's first action")
    result.collect()
    val left = awaitOnly(before)
    assert(left.isEmpty, s"${left.size} persisted RDD(s) outlived the collect")
  }
}
