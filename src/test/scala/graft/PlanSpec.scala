package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan assertions: these tests pin the 100 TB-relevant properties
  * of the operators — what shuffles, what gets pruned map-side, what stays
  * inside whole-stage codegen — so a regression in plan shape fails CI even
  * while results stay correct. AQE gotcha: the frame is collect()ed first so
  * `executedPlan` is the FINAL adaptive plan; only the final-plan section is
  * inspected (the printed string also embeds the initial plan).
  */
class PlanSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }
  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  private val dir = "/root/testdata/sf0.001"

  test("a4 batched ANN: map-side WindowGroupLimit prunes before the only hash shuffle") {
    val plan = finalPlan(SparkEntry.queries("a4_ann_batch")(spark, dir))
    // rank<=k rewritten into partial (map-side) + final group limits
    assert(count(plan, "WindowGroupLimit") >= 2, plan.take(2000))
    assert(plan.contains("Partial"), "map-side partial top-k must exist")
    // exactly ONE hash shuffle (the per-query window); orderBy adds a range
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
    assert(count(plan, "CartesianProduct") == 0 && count(plan, "BroadcastNestedLoop") == 0)
  }

  test("e1 quantization: no hash shuffle at all — scan, two projections, sort") {
    val plan = finalPlan(SparkEntry.queries("e1_quantize")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 0, plan.take(2000))
    assert(count(plan, "Exchange rangepartitioning") == 1) // the orderBy only
  }

  test("t5/t7 text metrics: embarrassingly parallel (no hash shuffle)") {
    for (q <- Seq("t5_quality_filter", "t7_repetition", "t1b_langid_ngram")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      assert(count(plan, "Exchange hashpartitioning") == 0, s"$q: ${plan.take(1500)}")
    }
  }

  test("q29 range window: one hash shuffle on the partition key") {
    val plan = finalPlan(SparkEntry.queries("q29_range_window")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
    assert(plan.contains("RANGE BETWEEN") || plan.contains("specifiedwindowframe"))
  }

  test("q28 pivot: two partial-aggregated passes (pre-agg on both keys, then pivot)") {
    val plan = finalPlan(SparkEntry.queries("q28_pivot")(spark, dir))
    // Spark's pivot plan: partial+final sum on (status, flag), then
    // partial+final pivotfirst on (status) — both shuffles carry only
    // aggregated keys, never raw lineitem rows
    assert(count(plan, "Exchange hashpartitioning") == 2, plan.take(2000))
    assert(count(plan, "partial_sum") >= 1 && count(plan, "partial_pivotfirst") >= 1,
      "both aggregation passes must have map-side partials")
  }

  test("q7 top-k plans TakeOrderedAndProject (no global sort of the table)") {
    val plan = finalPlan(SparkEntry.queries("q7_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q6 rank-prune: map-side WindowGroupLimit; frame windows reuse ONE exchange") {
    val plan = finalPlan(SparkEntry.queries("q6_window")(spark, dir))
    // partial (pre-shuffle) + final group limits around a single hash shuffle
    assert(count(plan, "WindowGroupLimit") >= 2, plan.take(2000))
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
  }

  test("q3 single-distinct: no Expand, bounded exchanges (planner two-phases it)") {
    // Spark 4.1's planAggregateWithOneDistinct partial-aggregates by
    // (segment, orderkey) before the shuffle — the same plan the r6
    // hand-written rollup produced (measured at sf0.1); what must never
    // reappear is a row-doubling Expand or an extra data exchange
    val plan = finalPlan(SparkEntry.queries("q3_join_agg")(spark, dir))
    assert(count(plan, "Expand") == 0, "single-distinct must not plan an Expand")
    assert(count(plan, "Exchange hashpartitioning") <= 3, plan.take(2000))
  }

  test("t30 conversations: maxTurns cap is a map-side WindowGroupLimit, one key shuffle") {
    val plan = finalPlan(SparkEntry.queries("t30_conversations")(spark, dir))
    // partial + final group limit: a mapper forwards <=50 rows per user
    assert(count(plan, "WindowGroupLimit") >= 2, plan.take(2000))
    assert(plan.contains("Partial"), "map-side partial cap must exist")
    // window + collect aggregation reuse ONE user_id exchange
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
  }

  test("q44 resample: in-bucket rank prunes map-side; no cartesian anywhere") {
    val plan = finalPlan(SparkEntry.queries("q44_resample")(spark, dir))
    assert(count(plan, "WindowGroupLimit") >= 2, plan.take(2000))
    assert(count(plan, "CartesianProduct") == 0 &&
      count(plan, "BroadcastNestedLoop") == 0, plan.take(2000))
    // grid generation is a generator, not a join against a calendar table
    assert(plan.contains("Generate"), "sequence+explode grid must be a Generate")
  }

  test("q41 unpivot: the melt is a zero-shuffle generator over the aggregate") {
    val plan = finalPlan(SparkEntry.queries("q41_unpivot")(spark, dir))
    // one exchange for the groupBy; the stack() adds none
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
  }

  test("t31 hashing TF: one partially-aggregated shuffle, codegen end-to-end") {
    val plan = finalPlan(SparkEntry.queries("t31_feature_hash")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      "map-side combine must exist")
  }

  test("t43 priority sample: TakeOrdered draw, no corpus hash shuffle") {
    val plan = finalPlan(SparkEntry.queries("t43_priority_sample")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(count(plan, "Exchange hashpartitioning") == 0, plan.take(2000))
  }

  test("q55 group trend: one partially-aggregated key shuffle, no window") {
    val plan = finalPlan(SparkEntry.queries("q55_trend")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 1, plan.take(2000))
    assert(!plan.contains("Window"), "five-sum agg must not plan a window")
  }

  test("q53 ewma and q54 cusum: ONE keyed shuffle serves every window") {
    for (q <- Seq("q53_ewma", "q54_cusum")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      assert(count(plan, "Exchange hashpartitioning") == 1, s"$q: " + plan.take(2000))
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("rj2 interval overlap: bucket equi-join, no cartesian, no nested loop") {
    val plan = finalPlan(SparkEntry.queries("rj2_interval_join")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("t65 main content: embarrassingly parallel (no hash shuffle)") {
    val plan = finalPlan(SparkEntry.queries("t65_main_content")(spark, dir))
    assert(count(plan, "Exchange hashpartitioning") == 0, plan.take(2000))
  }

  test("t67 crawl back edge: equi-joins only, no cartesian/nested-loop") {
    val plan = finalPlan(SparkEntry.queries("t67_crawl_backedge")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("d24 substring dedup: equi-joins only, no cartesian/nested-loop; " +
      "first-occurrence election partially aggregates map-side") {
    val plan = finalPlan(SparkEntry.queries("d24_substr_dedup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // count + min(struct) both carry partial_ aggregates (map-side
    // combine before the one ownership shuffle)
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      plan.take(2000))
  }

  test("d23 DSIR: bucket scoring joins by broadcast hash, no cartesian") {
    // the two one-row totals frames legitimately attach via broadcast
    // nested-loop (the Retrieval/Theta one-row stats convention); what
    // must never appear is a cartesian, and the data-scale gram->ratio
    // join must be a broadcast HASH join on bucket
    val plan = finalPlan(SparkEntry.queries("d23_dsir_select")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("t68 fetch plan: budget cap is a map-side WindowGroupLimit; " +
    "no cartesian/nested-loop across all five composed operators") {
    val plan = finalPlan(SparkEntry.queries("t68_fetch_plan")(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      "capPerHost must plan a partial top-k:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("m16 interleave: no cartesian; window numbering keyed by (shard, bin)") {
    val plan = finalPlan(SparkEntry.queries("m16_interleave")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("d25 embedding decontam: corpus streams against a BROADCAST eval " +
      "(the documented nested-loop attach); no cartesian") {
    val plan = finalPlan(SparkEntry.queries("d25_embed_decontam")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the flag scan is the broadcast nested loop BY CONTRACT (eval is
    // broadcast-sized by definition); the survivors anti-join must be a
    // hash join, not a second nested loop over data-scale sides
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("m17 aspect bucketing: no cartesian/nested-loop; the grouped pack " +
      "exchanges once on the group key") {
    val plan = finalPlan(SparkEntry.queries("m17_aspect_bucket")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("d25b LSH decontam: the corpus joins the probe table by broadcast " +
      "HASH on the sketch bucket — no nested loop, unlike d25's " +
      "documented exhaustive attach") {
    val plan = finalPlan(SparkEntry.queries("d25b_embed_decontam_lsh")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("t78 quality filter: scoring is map-side over the broadcast " +
      "weights; no cartesian/nested-loop") {
    val plan = finalPlan(SparkEntry.queries("t78_quality_filter")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("t75 composed training run: no cartesian; the DSIR ratio join " +
      "stays broadcast-hash through the four-stage composition") {
    val plan = finalPlan(SparkEntry.queries("t75_training_run")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // composing curation -> decontam -> DSIR -> pack must not demote
    // the data-scale gram->ratio join (the d23 plan property); the
    // one-row totals frames legitimately attach via nested loop
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("d26 boilerplate: the frequent-line anti-join broadcasts (the " +
      "set is output-bounded); no cartesian/nested-loop") {
    val plan = finalPlan(SparkEntry.queries("d26_line_boilerplate")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("t80 domain rollup: eTLD+1 is pure projection (no join to a " +
      "suffix table); the flagged-domain anti-join broadcasts") {
    val plan = finalPlan(SparkEntry.queries("t80_domain_rollup")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("t83 crawl rank: no cartesian through harvest -> host distinct " +
      "-> iteration -> budget; the only nested loop is the one-row " +
      "rank-total attach") {
    val plan = finalPlan(SparkEntry.queries("t83_crawl_rank")(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("t85 context order: no join at all — one exchange keys the " +
      "bucket aggregate, the chain is map-side") {
    val plan = finalPlan(SparkEntry.queries("t85_context_order")(spark, dir))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("greedy_chain") || plan.contains("GreedyChain") ||
      plan.contains("greedychain"), plan.take(2000))
  }

  test("t84 mojibake and t82 UL2 plan shuffle-free map kernels") {
    for (q <- Seq("t84_mojibake", "t82_ul2_plan")) {
      val plan = finalPlan(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("Join"), s"$q:\n" + plan.take(2000))
      // the only exchange is the gate's own final orderBy
      assert(!plan.contains("HashAggregate"), s"$q:\n" + plan.take(2000))
    }
  }
}
