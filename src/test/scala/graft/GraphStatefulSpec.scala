package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Dedup, Graph}

/** PageRank: exact fixed-point arithmetic makes expected values computable
  * by hand — these tests pin the arithmetic contract the g1 oracle replays. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("3-cycle is a fixed point: uniform ranks survive every iteration") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // r0 = 1e9 div 3 = 333333333; contribution = r (outdeg 1);
    // r' = 150000000 div 3 + (333333333 * 85) div 100 = 50000000 + 283333333 = r0
    val r = Graph.pageRank(edges, "src", "dst", iterations = 7).collect()
    assert(r.length == 3)
    assert(r.forall(_.getLong(1) == 333333333L))
  }

  test("star graph: hand-computed first two iterations, dangling sink") {
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    // n=4, r0=250000000, teleport=37500000; node 0 is dangling (its mass
    // decays — the documented no-redistribution contract)
    val r1 = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(0L) == 37500000L + (3L * 250000000L * 85L) / 100L)
    assert(r1(1L) == 37500000L && r1(2L) == 37500000L && r1(3L) == 37500000L)
    val r2 = Graph.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(0L) == 37500000L + (3L * 37500000L * 85L) / 100L)
    assert(r2(1L) == 37500000L)
  }

  test("trustRank: trust decays with distance from seeds; spam farms score 0") {
    // chain 1 -> 2 -> 3; a dense 2-node farm {8, 9} linking to itself and
    // to 3 — well-linked but unreachable from the seed
    val edges = Seq((1L, 2L), (2L, 3L), (8L, 9L), (9L, 8L), (8L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("s")
    val r1 = Graph.trustRank(edges, "src", "dst", seeds, "s", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0: node 1 = 1e9, rest 0. iter 1: teleport 150000000 on the seed
    // only; node 2 gets 85% of 1e9; farm nodes get 85% of 0 = 0
    assert(r1(1L) == 150000000L)
    assert(r1(2L) == (1000000000L * 85L) / 100L)
    assert(r1(3L) == 0L && r1(8L) == 0L && r1(9L) == 0L)
    val r2 = Graph.trustRank(edges, "src", "dst", seeds, "s", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // trust reaches 3 one hop later and is already attenuated; the farm
    // still has exactly zero whatever its internal link density
    assert(r2(3L) == (r1(2L) * 85L) / 100L)
    assert(r2(8L) == 0L && r2(9L) == 0L)
    // each hop attenuates: the mass arriving at 3 is 85% of what
    // arrived at 2 one iteration earlier
    assert(r2(3L) < r1(2L))
    // refusals: empty seed set; a seed that is not a graph node.
    // trustRank validates the seeds eagerly (one collect before the walk
    // is built), so the refusal is an IllegalArgumentException raised by
    // the call itself; the helper walks the cause chain for the message
    // (the nswBuild guard convention), so it holds whether the refusal
    // comes from the call or from a later action wrapped by Spark
    def refusalMessage(thunk: => org.apache.spark.sql.DataFrame,
        needle: String): Unit = {
      val e = intercept[Exception] { thunk.collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      assert(msgs.contains(needle), msgs)
    }
    refusalMessage(
      Graph.trustRank(edges, "src", "dst", Seq.empty[Long].toDF("s"), "s"),
      "empty trusted seed set")
    refusalMessage(
      Graph.trustRank(edges, "src", "dst", Seq(77L).toDF("s"), "s"),
      "not graph nodes")
  }

  test("total mass never exceeds the scale and hubs outrank leaves") {
    val edges = (0L until 400L).map(i => (i % 37, (i * 48271L) % 37))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iterations = 5).collect()
    assert(r.map(_.getLong(1)).sum <= Graph.RankScale)
    assert(r.forall(_.getLong(1) >= 0L))
  }

  test("partition invariance and duplicate-edge collapse") {
    val base = (0L until 300L).map(i => (i % 23, (i * 7919L) % 23))
    val a = Graph.pageRank(base.toDF("src", "dst").repartition(7),
      "src", "dst", iterations = 3)
    val b = Graph.pageRank((base ++ base ++ base).toDF("src", "dst")
      .repartition(2), "src", "dst", iterations = 3)
    assert(canon(a) == canon(b))
  }
}

/** SemDeDup: within-cluster min-id prune over a k-means clustering. */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // two tight direction groups (ids 0-2 along +x, ids 10-11 along +y) plus
  // two isolated directions; identical vectors MUST co-cluster (shared
  // argmax) so the planted expectations are partition-independent
  private def corpus = Seq(
    (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(2f, 0f, 0f, 0f)),
    (2L, Array(0.5f, 0f, 0f, 0f)),
    (10L, Array(0f, 1f, 0f, 0f)), (11L, Array(0f, 4f, 0f, 0f)),
    (20L, Array(0f, 0f, 1f, 0f)), (21L, Array(0f, 0f, 0f, 1f))
  ).toDF("id", "vec")

  test("identical-direction groups collapse to their min id") {
    val idx = Ann.ivfBuild(corpus, "id", "vec", nlist = 4)
    val r = Dedup.semDedup(idx, "id", eps = 0.95)
      .collect().map(x => x.getLong(0) ->
        (x.getBoolean(2), if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(r(0L) == ((true, -1L)))
    assert(r(1L) == ((false, 0L)) && r(2L) == ((false, 0L)))
    assert(r(10L) == ((true, -1L)) && r(11L) == ((false, 10L)))
    assert(r(20L) == ((true, -1L)) && r(21L) == ((true, -1L)))
  }

  test("eps above 1 keeps everything; cap=1 disables candidacy loudly-logged") {
    val idx = Ann.ivfBuild(corpus, "id", "vec", nlist = 4)
    assert(Dedup.semDedup(idx, "id", eps = 1.01)
      .filter(!col("kept")).count() == 0)
    assert(Dedup.semDedup(idx, "id", eps = 0.95, maxClusterSize = 1)
      .filter(!col("kept")).count() == 0)
  }

  // batch: a copy of KEPT resident 0, a copy of DROPPED resident 1 (the
  // non-recursive rule: a dropped resident still disqualifies), two
  // same-direction new rows (the second's rep must be a resident, not its
  // batch sibling, because resident ids are smaller), and a genuinely
  // novel direction that must stay kept
  private def batch = Seq(
    (100L, Array(3f, 0f, 0f, 0f)),   // dup of resident group x -> rep 0
    (101L, Array(0f, 2f, 0f, 0f)),   // dup of group y -> rep 10
    (102L, Array(0f, 0.5f, 0f, 0f)), // second y dup -> still rep 10
    (103L, Array(0f, 0f, 0f, 2f))    // dup of singleton 21 -> rep 21
  ).toDF("id", "vec")

  test("semDedupAppend equals the full re-run restricted to the batch") {
    val idx = Ann.ivfBuild(corpus, "id", "vec", nlist = 4)
    val dir = java.nio.file.Files.createTempDirectory("semapp").toString
    Ann.ivfWrite(idx, dir)
    Ann.ivfAppend(spark, dir, batch, "id", "vec", tag = "b1")
    val full = Dedup.semDedup(Ann.ivfRead(spark, dir), "id", eps = 0.95)
      .filter(col("id") >= 100L)
    val inc = Dedup.semDedupAppend(idx, batch, "id", eps = 0.95)
    assert(canon(inc) == canon(full))
    val r = inc.collect().map(x => x.getLong(0) ->
      (x.getBoolean(2), if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(r(100L) == ((false, 0L)))
    assert(r(101L) == ((false, 10L)) && r(102L) == ((false, 10L)))
    assert(r(103L) == ((false, 21L)))
  }

  test("a novel-direction batch row stays kept") {
    val idx = Ann.ivfBuild(corpus, "id", "vec", nlist = 4)
    val novel = Seq((200L, Array(1f, 1f, 1f, 1f))).toDF("id", "vec")
    val r = Dedup.semDedupAppend(idx, novel, "id", eps = 0.95).collect()
    assert(r.length == 1 && r.head.getBoolean(2), r.mkString(","))
  }

  test("non-monotonic batch ids refuse loudly; opt-out allows them") {
    val idx = Ann.ivfBuild(corpus, "id", "vec", nlist = 4)
    // id 1 sorts BELOW the touched cluster's resident id 2: old verdicts
    // for 2 would silently change under a full re-run -> must refuse
    val stale = Seq((1L, Array(1.5f, 0f, 0f, 0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Dedup.semDedupAppend(idx, stale, "id", eps = 0.95).collect()
    }
    assert(e.getMessage.contains("sort after"))
    val r = Dedup.semDedupAppend(idx, stale, "id", eps = 0.95,
      requireMonotonicIds = false).collect()
    // batch id 1 competes against resident 0 only (the one smaller id)
    assert(r.length == 1 && !r.head.getBoolean(2) && r.head.getLong(3) == 0L)
  }
}

/** flatMapGroupsWithState: cross-micro-batch state carry-over — the part a
  * single-file replay (one batch) cannot exercise. */
class StatefulStreamSpec extends SparkSpec {
  import spark.implicits._

  test("running per-user stats carry state across micro-batches") {
    val dir = tmpDir("stateful_stream")
    val b1 = Seq((1L, "click", 1.25), (1L, "view", 2.00), (2L, "view", 3.10))
      .toDF("user_id", "event_type", "value")
    val b2 = Seq((1L, "click", 0.75), (2L, "click", 1.90), (3L, "view", 5.00))
      .toDF("user_id", "event_type", "value")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sunk = graft.streaming.Streams.runToMemory(
      graft.streaming.Streams.userRunningStats(stream),
      "stateful_spec_sink", outputMode = "update")
    // final state per user (largest n) must equal the batch aggregate
    val fin = sunk.orderBy(col("n").desc).collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.head }
    assert(fin(1L).getLong(1) == 3 && fin(1L).getLong(2) == 2)
    assert(math.abs(fin(1L).getDouble(3) - 4.00) < 1e-9)
    assert(fin(2L).getLong(1) == 2 && fin(2L).getLong(2) == 1)
    assert(fin(3L).getLong(1) == 1 && fin(3L).getLong(2) == 0)
    // a user present in both files produced MORE THAN ONE update row —
    // proof the state machine ran across at least two micro-batches
    assert(sunk.filter(col("user_id") === 1L).count() >= 2)
  }

  test("streaming audit accumulates violation counters across micro-batches") {
    val dir = tmpDir("stream_audit")
    val b1 = Seq((1L, 5.0), (2L, -1.0)).toDF("id", "v")
    val b2 = Seq((3L, -2.0), (4L, 7.0), (5L, -3.0)).toDF("id", "v")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = graft.streaming.Streams.streamingAudit(stream,
        Seq("v_positive" -> (col("v") > 0), "id_nonnull" -> col("id").isNotNull),
        "stream_audit_spec")
      .collect().map(r => r.getString(0) -> r).toMap
    // totals span BOTH files (5 rows, 3 violations) — a single-batch run
    // of either file alone could not produce these counts
    assert(out("v_positive").getAs[Long]("n_rows") == 5L)
    assert(out("v_positive").getAs[Long]("n_violations") == 3L)
    assert(!out("v_positive").getAs[Boolean]("pass"))
    assert(out("id_nonnull").getAs[Long]("n_violations") == 0L)
    assert(out("id_nonnull").getAs[Boolean]("pass"))
  }
}

/** Bounded Bellman-Ford: driver-replayed distances, round bound semantics,
  * early-exit equivalence, directed mode, loud negative-weight guard. */
class SsspSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Graph

  //        1 --2-- 2 --2-- 3
  //        |               |
  //        9               1
  //        |               |
  //        4 ------1------ 5
  private val edges = Seq(
    (1L, 2L, 2L), (2L, 3L, 2L), (1L, 4L, 9L), (3L, 5L, 1L), (4L, 5L, 1L))

  private def run(maxRounds: Int, undirected: Boolean = true) =
    Graph.boundedShortestPaths(edges.toDF("s", "d", "w"), "s", "d", "w",
        Seq(1L), maxRounds, undirected)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("converged distances take the long-way-around shortcut") {
    // 1->4 direct costs 9; 1->2->3->5->4 costs 2+2+1+1 = 6
    assert(run(10) === Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L, 5L -> 5L))
  }

  test("round bound R yields best path of <= R edges") {
    assert(run(1) === Map(1L -> 0L, 2L -> 2L, 4L -> 9L))
    assert(run(2) === Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 9L, 5L -> 10L))
    // 3 rounds: 5 improves via 1-2-3-5 = 5; 4 still direct 9
    assert(run(3) === Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 9L, 5L -> 5L))
    // 4 rounds: 4 improves via the far side = 6
    assert(run(4) === Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L, 5L -> 5L))
  }

  test("early exit equals any larger round bound after convergence") {
    assert(run(4) === run(25))
  }

  test("directed mode does not mirror edges") {
    val got = Graph.boundedShortestPaths(
        Seq((1L, 2L, 3L), (3L, 1L, 1L)).toDF("s", "d", "w"),
        "s", "d", "w", Seq(1L), 5, undirected = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 0L, 2L -> 3L))
  }

  test("negative weights fail loudly") {
    val e = intercept[Exception] {
      Graph.boundedShortestPaths(
          Seq((1L, 2L, -5L)).toDF("s", "d", "w"),
          "s", "d", "w", Seq(1L), 3)
        .collect()
    }
    assert(e.getMessage != null)
  }
}
