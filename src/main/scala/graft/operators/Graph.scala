package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph algorithms over edge-list DataFrames. Connected
  * components (the dedup-graph workhorse) lives in [[Dedup.connectedComponents]];
  * this object holds the rank/centrality family.
  */
object Graph {

  /** Rank scale: ranks are carried as integer parts-per-billion. */
  val RankScale = 1000000000L

  /** A walk composes up to this many rounds into ONE plan (one Spark job,
    * stages pipelining across rounds), then cuts: it persists the round's
    * ranks, counts them, and re-enters through a LogicalRDD barrier
    * ([[Generations.cut]]) — after every `FuseIterationLimit`-th round
    * that more rounds follow. A walk of n rounds cuts ⌈n/8⌉−1 times, so a
    * walk of ≤ 8 rounds (every declared gate uses 5) is one fused plan,
    * and no plan grows past ~24 joins deep — well inside Catalyst's
    * comfort zone. */
  val FuseIterationLimit = 8

  /** Round `i` of a walk's rounds is followed by a cut. */
  private[operators] def cutsAfter(i: Int, rounds: Int): Boolean =
    i % FuseIterationLimit == 0 && i < rounds

  /** Fixed-iteration PageRank (Page et al. 1999) over an edge list, in
    * EXACT fixed-point arithmetic: ranks are integer parts-per-billion
    * (ppb) and every update is integer multiply/divide/sum — so the result
    * is a pure function of the graph, independent of partitioning,
    * summation order, and floating-point environment (a double-based
    * PageRank sums contributions in shuffle order, which no hash gate
    * could pin). Resolution 1e-9 per iteration is far below anything a
    * ranking consumer can observe.
    *
    * Semantics: `r0 = RankScale div n` per node; each iteration
    * `r' = teleport + (Σ_in (r_src div outdeg_src)) * dampingPct div 100`
    * with `teleport = (RankScale * (100 - dampingPct) div 100) div n`.
    * Dangling-node mass (nodes with no out-edges) is NOT redistributed —
    * total mass decays slightly, the common simplification when ranks are
    * used as relative quality weights (document-graph curation), and the
    * contract the oracle replays. Duplicate edges collapse to one;
    * self-loops participate normally.
    *
    * Spark shape, built for iteration at scale: the (src, dst, outdeg)
    * edge frame is computed ONCE, hash-partitioned by `src`, and persisted
    * — each iteration shuffles only the rank table (|V| rows, two longs)
    * to the edges' existing partitioning, aggregates contributions by
    * `dst` (partial aggregation map-side), and left-joins back to the node
    * set for the teleport term. Rounds compose into one plan, cut every
    * [[FuseIterationLimit]] rounds, so no plan is more than 8 rounds deep
    * and at most one rank generation is cached; every cache is released
    * after the result's first completed action.
    *
    * Returns (node, rank_ppb) — divide by [[RankScale]] for a double rank.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    // e is persisted: BOTH eo (its distinct side and its outdeg side) and
    // the node set derive from it — uncached, the raw edge table is
    // scanned + distinct'd twice (r20 optimization round, guide §2.4:
    // one pass over the heavy input instead of two)
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eo = e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "empty edge list")
    val teleport = (RankScale * (100 - dampingPct) / 100) / n

    val gens = new Generations(Seq(e, eo, nodes))
    var ranks = nodes.select(col("node"), lit(RankScale / n).as("rank_ppb"))
    // One body for every length (r20 optimization round):
    // rounds compose into one plan and one job — no per-round
    // persist/count/barrier, so the walk pays one scheduling round trip
    // per FuseIterationLimit rounds, and round i+1's stages pipeline
    // behind i's inside a single DAG. ranks_{i-1} appears exactly once in
    // ranks_i's plan, so the composed plan grows LINEARLY with rounds
    // (a round that read its predecessor through b branches would grow
    // it as b^rounds). Joins are
    // expressed over disjoint output column names (not df("col") refs):
    // the right side carries the node set's lineage, and name-level
    // resolution is what stays unambiguous.
    for (i <- 1 to iterations) {
      val contrib = eo
        .join(ranks.select(col("node").as("__rn"), col("rank_ppb")),
          col("src") === col("__rn"))
        .select(col("dst"), expr("rank_ppb DIV outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_ppb"))
      ranks = nodes
        .join(contrib.select(col("dst").as("__cd"), col("in_ppb")),
          col("node") === col("__cd"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"(COALESCE(in_ppb, 0L) * $dampingPct) DIV 100"))
            .as("rank_ppb"))
      if (cutsAfter(i, iterations)) ranks = gens.cut(ranks)
    }
    // caches release after the caller's first completed action — the
    // rounds after the last cut still reference e/eo/nodes, so an eager
    // unpersist here would recompute the edge prep once per round
    gens.releaseAfterFirstAction(ranks)
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    * with BOTH the initial mass and the teleport restricted to a
    * TRUSTED seed set — trust flows outward along links, so pages many
    * hops from any trusted site score near zero however well-linked
    * their spam farm is; the standard link-spam demotion signal next to
    * [[pageRank]]'s popularity. Same integer-ppb arithmetic (seed init
    * `RankScale div |seeds|`, seed-only teleport
    * `(RankScale·(100−d) div 100) div |seeds|`, contributions
    * `rank div outdeg` damped `·d div 100`), same one-plan rounds cut
    * every [[FuseIterationLimit]] rounds, so any engine replays it
    * exactly. Seeds must be graph nodes — an unknown seed would
    * silently strand trust mass, so it is refused loudly. Returns
    * `(node, trust_ppb)`. */
  def trustRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 5,
      dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    // e persisted for the same reason as pageRank's (one raw-edge pass)
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eo = e.join(
        e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE job for both seed checks (count + membership) instead of two
    // sequential actions: same two values, same refusals
    val seedChk = sd
      .join(nodes.select(col("node").as("__gn")), col("node") === col("__gn"),
        "left")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__gn").isNull, 1L).otherwise(0L)).as("__unknown"))
      .collect().head
    val nSeeds = seedChk.getLong(0)
    require(nSeeds > 0, "empty trusted seed set")
    val unknown = seedChk.getLong(1)
    require(unknown == 0,
      s"$unknown trusted seed(s) are not graph nodes — their trust " +
        "mass would silently vanish; seed from the graph's own hosts")
    val teleport = (RankScale * (100 - dampingPct) / 100) / nSeeds
    val seedFlag = sd.withColumn("__seed", lit(1))
    var ranks = nodes.join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(RankScale / nSeeds))
          .otherwise(lit(0L)).as("trust_ppb"))
    val gens = new Generations(Seq(e, eo, nodes, sd))
    // pageRank's one body and cut cadence; plan growth is linear in
    // rounds here too
    for (i <- 1 to iterations) {
      val contrib = eo
        .join(ranks.select(col("node").as("__rn"), col("trust_ppb")),
          col("src") === col("__rn"))
        .select(col("dst"), expr("trust_ppb DIV outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_ppb"))
      ranks = nodes
        .join(contrib.select(col("dst").as("__cd"), col("in_ppb")),
          col("node") === col("__cd"), "left")
        .join(seedFlag, Seq("node"), "left")
        .select(col("node"),
          (when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L)) +
            expr(s"(COALESCE(in_ppb, 0L) * $dampingPct) DIV 100"))
            .as("trust_ppb"))
      if (cutsAfter(i, iterations)) ranks = gens.cut(ranks)
    }
    gens.releaseAfterFirstAction(ranks)
  }

  /** The k-core of an undirected simple graph: the maximal subgraph in
    * which every node keeps degree ≥ k — computed by the classic peel
    * (drop all nodes below k, recompute degrees over the induced
    * subgraph, repeat to fixpoint). Cores rank structural robustness
    * where raw degree misleads: a node wired to k leaves dies in round
    * two, a node inside a dense community survives — the
    * spam-farm-vs-community discriminator of link-graph curation, and
    * the degeneracy-ordering building block.
    *
    * Returns the surviving `(node)` set (possibly empty — a k above the
    * graph's degeneracy peels everything, which is an answer, not an
    * error).
    *
    * Spark shape: each round is ONE degree aggregation over the current
    * edge set + two semi-joins back (u-side, v-side); every round cuts
    * ([[Generations.cut]]: persist, count, LogicalRDD barrier) because it
    * reads the edge set three times, so plans stay O(1) deep. Rounds are
    * bounded by the peel depth — O(√m) worst case but single digits on
    * real graphs — and the edge set only SHRINKS, so later rounds cost
    * less. Convergence is detected by edge count (the round's one action,
    * like any iterate-to-fixpoint). */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIterations: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIterations >= 1, "maxIterations must be >= 1")
    val gens = new Generations(Nil)
    var (e, nEdges) = gens.cut(edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct(), _.count())
    var rounds = 0
    var converged = nEdges == 0
    while (!converged && rounds < maxIterations) {
      val keep = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
      val (next, n2) = gens.cut(e
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v"), _.count())
      converged = n2 == nEdges
      nEdges = n2
      e = next
      rounds += 1
    }
    // a silent non-core would be WRONG, not approximate: interior nodes
    // of a long path survive a truncated peel even though the true core
    // is empty — refuse rather than mislead
    val peeled = converged || nEdges == 0
    if (!peeled) gens.release()
    require(peeled,
      s"kCore did not reach its fixpoint in $maxIterations rounds " +
        s"($nEdges edges still peeling) — raise maxIterations; a long-chain " +
        "graph peels O(diameter) rounds")
    gens.releaseAfterFirstAction(e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .distinct())
  }

  /** Bounded-hop BFS over an undirected edge list: every node reachable
    * from `sources` within `maxHops`, with its minimal hop count — the
    * impact/lineage expansion query ("everything within 3 links of the
    * flagged set"). Frontier expansion: each hop joins the CURRENT
    * frontier (not the visited set) to the adjacency list, anti-joins
    * what is already visited, and stops early when a frontier empties —
    * per-hop cost is proportional to the frontier's edge neighborhood,
    * never the graph. Every hop cuts ([[Generations.cut]]) the frontier
    * and the visited set, as [[kCore]] does, so plans stay O(1) deep. */
  def reachableFrom(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: Seq[Long],
      maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "sources must be non-empty")
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val adj = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // two chains of generations, each holding ONE cached frame: the
    // frontier (read by the next hop's expansion) and the visited set
    // (read by its anti-join and union), so the call retains O(1) cached
    // frames, not O(hops)
    val frontiers = new Generations(Nil)
    val visiteds = new Generations(Seq(adj))
    var visited = sources.distinct.toDF("node").withColumn("hops", lit(0L))
    var frontier = visited
    var hop = 0L
    var done = false
    while (!done && hop < maxHops) {
      hop += 1
      val (next, n) = frontiers.cut(frontier.join(adj, col("node") === col("a"))
        .select(col("b").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hops", lit(hop)), _.count())
      if (n == 0) done = true
      else {
        visited = visiteds.cut(visited.unionByName(next))
        frontier = next
      }
    }
    // the result is the visited barrier (or the sources, before any hop):
    // it reads no frontier
    frontiers.release()
    visiteds.releaseAfterFirstAction(visited)
  }

  /** Bounded single-source shortest paths with EXACT integer edge
    * weights: distributed Bellman–Ford, `maxRounds` relaxation rounds —
    * after round R every node holds the exact shortest distance among
    * paths of at most R edges (THE contract: deterministic and
    * SQL-replayable whether or not the graph has converged, which is why
    * the g6 oracle can unroll the rounds). For full convergence pick
    * `maxRounds` ≥ the hop diameter; the loop exits early the first
    * round nothing improves, which by Bellman–Ford monotonicity equals
    * the R-round result for every later R.
    *
    * Non-negative weights required (negative edges would make the
    * bounded-hop distances order-dependent under the early exit).
    * `undirected = true` (default) mirrors each edge.
    *
    * Spark shape: each round is one join of the current distance table
    * against the (persisted) adjacency list + one min-aggregation —
    * shuffles keyed on node id; the distance table holds only REACHED
    * nodes, so early rounds are frontier-sized, not graph-sized. Every
    * round cuts ([[Generations.cut]]), its one action counting the nodes
    * it improved: O(1) cached generations and plan depth. Returns
    * (node, dist). */
  def boundedShortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      sources: Seq[Long],
      maxRounds: Int,
      undirected: Boolean = true): DataFrame = {
    require(sources.nonEmpty, "sources must be non-empty")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val fwd = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"),
      col(weightCol).cast("long").as("w"))
    val adj = (if (undirected)
        fwd.union(fwd.select(col("b").as("a"), col("a").as("b"), col("w")))
      else fwd)
      .filter(col("a") =!= col("b") && col("w").isNotNull)
      // loud contract check, folded into the weight so it is never pruned
      .withColumn("w", col("w") + coalesce(assert_true(col("w") >= 0,
        lit("boundedShortestPaths: negative edge weight")).cast("long"),
        lit(0L)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gens = new Generations(Seq(adj))
    var cur = sources.distinct.toDF("node").withColumn("dist", lit(0L))
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val relaxed = cur.join(adj, col("node") === col("a"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
      // the round's one action counts the nodes it improved: `__old` is
      // the node's distance before the round (null when newly reached)
      val (next, improved) = gens.cut(
        cur.withColumn("__old", col("dist"))
          .unionByName(relaxed.withColumn("__old", lit(null).cast("long")))
          .groupBy("node").agg(min("dist").as("dist"), min("__old").as("__old")),
        _.filter(col("__old").isNull || col("dist") < col("__old")).count())
      cur = next.select("node", "dist")
      done = improved == 0
    }
    // the final round's cache backs the result; release it after the
    // caller's first completed action (the shared CacheRelease contract)
    gens.releaseAfterFirstAction(cur)
  }

  /** Per-node triangle counts over an undirected simple graph (edge list
    * with direction, duplicates and self-loops tolerated — they collapse
    * during canonicalization). Triangles are the workhorse of clustering
    * coefficients, community strength and spam/bot structure detection.
    *
    * Returns `(node, n_triangles)` for every node of the graph (zero for
    * triangle-free nodes); each triangle {a,b,c} counts once for each of
    * its three corners.
    *
    * Algorithm: degree orientation (the standard MapReduce formulation —
    * Suri & Vassilvitskii, WWW'11 "Counting Triangles and the Curse of
    * the Last Reducer"). Every undirected edge is oriented from its
    * lower to its higher endpoint in the total order (degree, id); wedges
    * are built only from each node's OUT-edges and closed against the
    * oriented edge set. Orientation bounds every out-degree by O(√m)
    * regardless of skew — a celebrity node of degree 10^7 contributes
    * wedges only through its (few) higher-degree neighbors, not deg²
    * pairs — so the wedge stage is Σ outdeg² ≤ O(m^1.5) total and the
    * "last reducer" hot key of the naive formulation disappears. That
    * bound is the entire reason this is an operator and not a three-way
    * self-join left to the optimizer.
    *
    * Spark shape: canonicalize + distinct (one shuffle on the edge pair),
    * ONE aggregation for degrees, a broadcast-or-shuffle join to attach
    * orientation keys, a self-join on the wedge apex (hash-partitioned by
    * src — bounded per-key fan-out by the √m argument), and a semi-style
    * closing join against the oriented edges on (b, c). Counts per corner
    * are three cheap aggregations over the triangle set, unioned then
    * re-aggregated (the triangle set is far smaller than the wedge set). */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total order (deg, id) as a comparable struct key per endpoint
    val du = deg.select(col("node").as("u"),
      struct(col("deg").as("d"), col("node").as("n")).as("ku"))
    val dv = deg.select(col("node").as("v"),
      struct(col("deg").as("d"), col("node").as("n")).as("kv"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"))
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("kdst").as("kb"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("kdst").as("kc"))
    val wedges = e1.join(e2, "src").filter(col("kb") < col("kc"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val triangles = wedges.join(closing, Seq("b", "c"))
      .select(col("src").as("a"), col("b"), col("c"))
    val corners = triangles.select(col("a").as("node"))
      .union(triangles.select(col("b").as("node")))
      .union(triangles.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.select(col("node"))
      .join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** SEMI-SUPERVISED label propagation (Zhu & Ghahramani 2002-style
    * clamped seeds, synchronous rounds): seed nodes keep their label
    * forever; every other node adopts, each round, the most frequent
    * label among its LABELED neighbors as of the previous round (ties:
    * smallest label; no labeled neighbor yet: unchanged, possibly still
    * null). Fixed `iterations` — fully deterministic, a pure function of
    * (graph, seeds), so a hash gate can replay every round.
    *
    * The "spread the curated labels" primitive for corpus curation:
    * hand-label a few thousand domains/docs, propagate over the link or
    * near-dup graph ([[Dedup.connectedComponents]]' edges work directly).
    *
    * Spark shape: undirected edge frame built once, hash-partitioned,
    * persisted; each round shuffles only (node, label) messages and one
    * (node, label) count aggregation with map-side combine, then the
    * rank-1 argmax (a WindowGroupLimit-prunable rank filter). Every
    * round cuts ([[Generations.cut]]) because it reads the previous
    * labels twice, so plans stay O(1) deep. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedNodeCol: String,
      seedLabelCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val und = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // null (or null-casting) seed nodes are not addressable — drop them
    // rather than inject a spurious null node into the universe
    val sd = seeds.select(col(seedNodeCol).cast("long").as("node"),
      col(seedLabelCol).cast("long").as("seed_label"))
      .filter(col("node").isNotNull)
    // node universe = graph nodes ∪ seed nodes: a curated label on a
    // not-yet-linked node must survive (clamped), not silently vanish
    val nodes = und.select(col("src").as("node"))
      .union(sd.select(col("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gens = new Generations(Seq(und, nodes))
    var labels = nodes.join(sd, Seq("node"), "left")
      .select(col("node"), col("seed_label"),
        col("seed_label").as("label"))
    for (_ <- 1 to iterations) {
      val msgs = und
        .join(labels.filter(col("label").isNotNull)
          .select(col("node").as("__nbr"), col("label").as("nl")),
          und("dst") === col("__nbr"))
        .select(col("src").as("node"), col("nl"))
      val counts = msgs.groupBy("node", "nl").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("c").desc, col("nl").asc)
      val pick = counts
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("nl"))
      labels = gens.cut(labels.join(pick, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          coalesce(col("seed_label"), col("nl"), col("label")).as("label")))
    }
    gens.releaseAfterFirstAction(labels.select(col("node"), col("label")))
  }
}
