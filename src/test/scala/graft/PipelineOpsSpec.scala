package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators._

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq(
    "alpha beta gamma delta epsilon",
    "one two three").toDF("text")

  private val train = Seq(
    (1L, "alpha beta gamma delta epsilon"),       // verbatim eval doc -> 1.0
    (2L, "alpha beta gamma zzz"),                 // 1 of 2 trigrams match -> 0.5
    (3L, "totally unrelated words in this doc"),  // 0.0
    (4L, "one two"))                              // short doc, whole-doc shingle
    .toDF("id", "text")

  test("ngramOverlap computes exact per-doc trigram contamination") {
    val out = Decontaminate.ngramOverlap(train, "id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((3L, 3L, 1.0, true)))
    assert(out(2L) == ((1L, 2L, 0.5, true)))
    assert(out(3L) == ((0L, 4L, 0.0, false)))
    // "one two" collapses to the whole-doc shingle "one two", which is NOT
    // a bench trigram ("one two three" is) -> no match
    assert(out(4L) == ((0L, 1L, 0.0, false)))
  }

  test("decontaminate drops exactly the flagged docs, keeps full rows") {
    val kept = Decontaminate.decontaminate(train, "id", "text", bench, "text",
      n = 3, threshold = 0.5)
    assert(kept.columns.toSeq == Seq("id", "text"))
    assert(kept.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("bench side is broadcast: no shuffle of the training corpus for matching") {
    val plan = Decontaminate.ngramOverlap(train, "id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"gram match must be a broadcast join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the gram match:\n$plan")
  }

  test("broadcastBench=false falls back to a shuffle join with identical results") {
    val bc = Decontaminate.ngramOverlap(train, "id", "text", bench, "text",
      n = 3, threshold = 0.5)
    val sh = Decontaminate.ngramOverlap(train, "id", "text", bench, "text",
      n = 3, threshold = 0.5, broadcastBench = false)
    assert(canon(sh) == canon(bc))
  }

  test("null-text docs keep their contractual row and score clean") {
    val t = Seq((1L, Option("alpha beta gamma delta epsilon")),
      (2L, Option.empty[String])).toDF("id", "text")
    val out = Decontaminate.ngramOverlap(t, "id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(1L, 2L), "one output row per training doc")
    // null text coalesces to the empty doc, whose single whole-doc shingle
    // ("") matches no bench trigram: present, clean, never dropped
    assert(out(2L) == ((0L, 1L, 0.0, false)))
    // decontaminate keeps the null-text doc (it cannot be contaminated)
    val kept = Decontaminate.decontaminate(t, "id", "text", bench, "text",
      n = 3, threshold = 0.5)
    assert(kept.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("report: hand-computed per-set histogram, top bucket inclusive") {
    val sets = Seq(
      "a" -> bench,
      "b" -> Seq("one two three").toDF("text"))
    val r = Decontaminate.report(train, "id", "text", sets, "text",
        n = 3, threshold = 0.5, buckets = 4)
      .collect()
      .map(x => (x.getString(0), x.getInt(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    // set a: doc1 c=1.0 -> bucket 3 (top inclusive, contaminated);
    //        doc2 c=0.5 -> 0.5*4=2 (contaminated); doc3 0 -> b0;
    //        doc4 "one two" whole-doc shingle, no match -> b0
    assert(r(("a", 3)) == ((1L, 1L)), r.toString)
    assert(r(("a", 2)) == ((1L, 1L)), r.toString)
    assert(r(("a", 0)) == ((2L, 0L)), r.toString)
    // set b: only bench doc "one two three"; docs 1-3 no match -> b0;
    //        doc4's whole-doc shingle "one two" != trigram -> b0 too
    assert(r(("b", 0)) == ((4L, 0L)), r.toString)
    assert(r.keySet == Set(("a", 3), ("a", 2), ("a", 0), ("b", 0)))
  }

  test("report refuses duplicate set names, zero threshold, bad buckets") {
    intercept[IllegalArgumentException] {
      Decontaminate.report(train, "id", "text",
        Seq("x" -> bench, "x" -> bench), "text")
    }
    intercept[IllegalArgumentException] {
      Decontaminate.report(train, "id", "text", Seq("x" -> bench), "text",
        threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Decontaminate.report(train, "id", "text", Seq("x" -> bench), "text",
        buckets = 0)
    }
  }
}

class PackSpec extends SparkSpec {
  import spark.implicits._

  test("greedy packing matches the hand-computed bin sequence") {
    val docs = Seq((0L, 4L), (1L, 5L), (2L, 3L), (3L, 10L), (4L, 2L),
      (5L, 12L), (6L, 1L)).toDF("doc_id", "tokens")
    val out = Pack.packGreedy(docs, "doc_id", "tokens", budget = 10, numShards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 4+5 fill bin0; 3 overflows -> bin1; 10 -> bin2; 2 -> bin3;
    // oversized 12 -> bin4 alone; 1 -> bin5
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 6L -> 5L))
  }

  test("shards pack independently, bins restart per shard") {
    val docs = (0L to 5L).map(i => (i, 6L)).toDF("doc_id", "tokens")
    val out = Pack.packGreedy(docs, "doc_id", "tokens", budget = 10, numShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (id, shard, _) => assert(shard == id % 2) }
    // per shard: three 6-token docs into 10-token bins -> bins 0,1,2
    for (sh <- 0 to 1) {
      val bins = out.filter(_._2 == sh).sortBy(_._1).map(_._3).toSeq
      assert(bins == Seq(0L, 1L, 2L), s"shard $sh got $bins")
    }
  }

  test("oversized first doc takes bin 0 alone") {
    val docs = Seq((0L, 99L), (1L, 3L)).toDF("doc_id", "tokens")
    val out = Pack.packGreedy(docs, "doc_id", "tokens", budget = 10, numShards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L))
  }

  test("packing is invariant to input partitioning (the cluster-size property)") {
    // what actually changes between local[32] and 1000 executors is the
    // INPUT partitioning — bin assignment must not
    val rnd = new scala.util.Random(11)
    val docs = (0L until 500L).map(i => (i, (rnd.nextInt(40) + 1).toLong))
    val a = Pack.packGreedy(docs.toDF("doc_id", "tokens"),
      "doc_id", "tokens", budget = 100, numShards = 8)
    val b = Pack.packGreedy(docs.toDF("doc_id", "tokens").repartition(7),
      "doc_id", "tokens", budget = 100, numShards = 8)
    assert(canon(a) == canon(b))
    // no bin exceeds the budget unless it holds a single oversized doc
    val over = Pack.binStats(a, budget = 100)
      .filter(col("fill") > 100 && col("n_docs") > 1).count()
    assert(over == 0, "multi-doc bins must respect the budget")
  }

  test("binStats reports fill and utilization; packing is one exchange") {
    val docs = Seq((0L, 4L), (1L, 5L), (2L, 3L)).toDF("doc_id", "tokens")
    val packed = Pack.packGreedy(docs, "doc_id", "tokens", budget = 10, numShards = 1)
    val stats = Pack.binStats(packed, budget = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(stats.toSet == Set((0L, 2L, 9L, 0.9), (1L, 1L, 3L, 0.3)))
    val plan = packed.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"packing must shuffle exactly once:\n$plan")
  }
}

class AsofNativeSpec extends SparkSpec {
  import spark.implicits._

  private def randSide(seed: Int, n: Int, keys: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextInt(keys).toLong, rnd.nextInt(100).toLong, rnd.nextLong()))
  }

  test("native as-of join agrees with the union+window composition") {
    val left = randSide(1, 400, 7).toDF("k", "t", "lv")
    val right = randSide(2, 300, 7).toDF("k", "t", "rv")
      .dropDuplicates("k", "t") // contract: unique right (key, time)
    val viaWindow = AsofJoin.asofJoin(left, right, "t", "t", "k", "k", Seq("rv"))
    val viaNative = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
    assert(canon(viaNative) == canon(viaWindow))
  }

  test("unmatched, inclusive-equal, and null-key/time semantics") {
    val left = Seq(
      (1L, 10L, "a"),     // exact-time match -> inclusive
      (1L, 5L, "b"),      // before any right row -> null
      (2L, 50L, "c"),     // key with no right rows -> null
      (1L, 99L, "d"))     // latest wins
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("k", "t", "pay")
    val out = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("pay"))
      .collect().map(r => r.getString(2) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out == Map("a" -> 100L, "b" -> -1L, "c" -> -1L, "d" -> 200L))
  }

  test("native as-of plans as AsofJoinExec with one exchange per side") {
    val left = randSide(3, 100, 5).toDF("k", "t", "lv")
    val right = randSide(4, 80, 5).toDF("k", "t", "rv").dropDuplicates("k", "t")
    val df = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // AQE prints final + initial plans; count only the final one
    val plan = full.split("== Initial Plan ==").head
    assert(plan.contains("AsofJoin"), s"expected AsofJoinExec in:\n$plan")
    // dropDuplicates adds its own aggregate exchange; the join itself must
    // add exactly two hash exchanges (one per side), nothing else
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 3, s"expected 3 hash exchanges (2 join + 1 dedup):\n$plan")
  }

  test("filters push through the native as-of node; key predicates prune both sides") {
    val left = randSide(5, 200, 9).toDF("k", "t", "lv")
    val right = randSide(6, 150, 9).toDF("k", "t", "rv").dropDuplicates("k", "t")
    val joined = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
    val filtered = joined.filter(col("k") === 3 && col("lv") > 0)
    // correctness: pushdown must not change results
    assert(canon(filtered) ==
      canon(AsofJoin.asofJoinNative(left.filter(col("k") === 3 && col("lv") > 0),
        right, "t", "t", "k", "k", Seq("rv"))))
    // plan shape: no Filter above the node; left child filtered on k AND lv,
    // right child filtered on the transposed key predicate
    import graft.plans.AsofJoinNode
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val opt = filtered.queryExecution.optimizedPlan
    val nodes = opt.collect { case n: AsofJoinNode => n }
    assert(nodes.length == 1, s"expected one AsofJoinNode in:\n$opt")
    val j = nodes.head
    assert(opt.collectFirst { case f @ LFilter(_, _: AsofJoinNode) => f }.isEmpty,
      s"filter must not remain above the node:\n$opt")
    assert(j.left.collectFirst { case f: LFilter => f }.nonEmpty,
      s"left side must carry the pushed filter:\n$opt")
    assert(j.right.collectFirst { case f: LFilter => f }.nonEmpty,
      s"right side must carry the transposed key filter:\n$opt")
  }

  test("projecting only left columns eliminates the node (left-row-preserving)") {
    val left = randSide(7, 200, 9).toDF("k", "t", "lv")
    val right = randSide(8, 150, 9).toDF("k", "t", "rv").dropDuplicates("k", "t")
    val joined = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
    // a bare count references no right column: the as-of emits exactly one
    // row per left row, so the whole right side (scan + sort + merge) must
    // vanish from the plan — parity with what Catalyst's union pushdown
    // gives the window composition for free
    import graft.plans.AsofJoinNode
    val leftOnlyProj = joined.select(col("k"), col("lv"))
    assert(leftOnlyProj.queryExecution.optimizedPlan
        .collectFirst { case n: AsofJoinNode => n }.isEmpty,
      s"node must be eliminated:\n${leftOnlyProj.queryExecution.optimizedPlan}")
    val counted = joined.groupBy().count()
    assert(counted.queryExecution.optimizedPlan
        .collectFirst { case n: AsofJoinNode => n }.isEmpty,
      s"count must eliminate the node:\n${counted.queryExecution.optimizedPlan}")
    assert(joined.count() == left.count())
    // a projection that touches the payload must KEEP the node
    val withPayload = joined.select(col("k"), col("rv"))
    assert(withPayload.queryExecution.optimizedPlan
      .collectFirst { case n: AsofJoinNode => n }.nonEmpty)
  }

  test("left-time upper bounds mirror onto the right side") {
    val left = randSide(9, 300, 8).toDF("k", "t", "lv")
    val right = randSide(10, 250, 8).toDF("k", "t", "rv").dropDuplicates("k", "t")
    val joined = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
    val filtered = joined.filter(col("t") <= 40)
    // correctness first: the mirrored bound must not change results
    val viaWindow = AsofJoin.asofJoin(left, right, "t", "t", "k", "k", Seq("rv"))
    assert(canon(filtered) == canon(viaWindow.filter(col("t") <= 40)))
    // plan shape: the right child carries a `rt <= 40` filter (backward
    // as-of never needs right rows from after the left bound)
    import graft.plans.AsofJoinNode
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val opt = filtered.queryExecution.optimizedPlan
    val j = opt.collectFirst { case n: AsofJoinNode => n }.getOrElse(
      fail(s"expected AsofJoinNode in:\n$opt"))
    val rFilter = j.right.collectFirst { case f: LFilter => f }
    assert(rFilter.nonEmpty, s"right side must carry the mirrored bound:\n$opt")
    assert(rFilter.get.condition.toString.contains("<= 40"),
      s"expected a <= 40 bound on the right, got: ${rFilter.get.condition}")
    // a LOWER bound must NOT mirror (backward as-of reaches into the past)
    val lower = joined.filter(col("t") >= 40)
    val jl = lower.queryExecution.optimizedPlan
      .collectFirst { case n: AsofJoinNode => n }.get
    assert(jl.right.collectFirst { case f: LFilter => f }.isEmpty,
      "lower bounds must not reach the right side")
  }

  test("empty right side leaves every left row unmatched") {
    val left = Seq((1L, 1L)).toDF("k", "t")
    val right = Seq.empty[(Long, Long, Long)].toDF("k", "t", "rv")
    val out = AsofJoin.asofJoinNative(left, right, "t", "t", "k", "k", Seq("rv"))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(2))
  }
}

class LanguageModelSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.LanguageModel

  private val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the rug"),
    (3L, "the dog sat on the mat"),
    (4L, "a dog ran to the park")).toDF("id", "text")

  test("add-k smoothing matches hand-computed probabilities") {
    val lm = LanguageModel.train(corpus, "text", k = 0.5)
    // "the" appears 7x; "the cat" 2x; V = 11 distinct tokens + 1 OOV = 12
    assert(lm.vocab == 12)
    assert(lm.unigrams("the") == 7L && lm.bigrams("the cat") == 2L)
    val expected = math.log((2 + 0.5) / (7 + 0.5 * 12))
    assert(math.abs(lm.logProb("the", "cat") - expected) < 1e-12)
    // unseen bigram with seen prefix; fully OOV prefix
    assert(math.abs(lm.logProb("the", "zebra") -
      math.log(0.5 / (7 + 0.5 * 12))) < 1e-12)
    assert(math.abs(lm.logProb("zebra", "qux") -
      math.log(0.5 / (0.5 * 12))) < 1e-12)
  }

  test("fluent text scores lower perplexity than scrambled; short docs null") {
    val lm = LanguageModel.train(corpus, "text", k = 0.1)
    val probe = Seq(
      (10L, "the cat sat on the mat"),   // in-distribution
      (11L, "mat the on sat cat the"),   // same tokens, scrambled
      (12L, "one"), (13L, "")).toDF("id", "text")
    val out = LanguageModel.perplexity(probe, "id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(10L).get < out(11L).get,
      s"fluent ${out(10L)} must beat scrambled ${out(11L)}")
    assert(out(12L).isEmpty && out(13L).isEmpty)
  }

  test("short, empty, and null docs neither crash training nor scoring") {
    val messy = (corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((90L, "only"), (91L, ""), (92L, null.asInstanceOf[String])))
      .toDF("id", "text")
    val lm = LanguageModel.train(messy, "text") // must not throw (ANSI sequence/element_at)
    assert(lm.unigrams.contains("only"))
    val out = LanguageModel.perplexity(messy, "id", "text", lm)
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(out(90L) && out(91L) && out(92L), "degenerate docs score null")
    assert(!out(1L), "normal docs still score")
  }

  test("bigrams with truncated-away prefixes are dropped (probabilities stay normalized)") {
    // maxVocab=2 keeps only the two most frequent tokens; any bigram whose
    // prefix is outside that vocab must not survive with a zeroed denominator
    val lm = LanguageModel.train(corpus, "text", k = 0.5, maxVocab = 2)
    assert(lm.bigrams.keys.forall(k => lm.unigrams.contains(k.split(" ", 2).head)),
      s"orphan-prefix bigrams must be dropped: ${lm.bigrams.keys}")
  }

  test("training is deterministic and scoring is shuffle-free") {
    val lm1 = LanguageModel.train(corpus, "text")
    val lm2 = LanguageModel.train(corpus, "text")
    assert(lm1 == lm2)
    val plan = LanguageModel.perplexity(corpus, "id", "text", lm1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }
}

class BackoffLmSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.LanguageModel

  private val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the rug"),
    (3L, "the dog sat on the mat"),
    (4L, "a dog ran to the park")).toDF("id", "text")

  test("every backoff branch matches hand-computed scores") {
    val lm = LanguageModel.trainTrigram(corpus, "text")
    assert(lm.total == 24L) // 4 docs x 6 tokens
    // trigram branch: "the cat sat" 2x / "the cat" 2x -> log 1
    assert(math.abs(lm.logScore("the", "cat", "sat") - math.log(2.0 / 2)) < 1e-12)
    // bigram backoff: trigram "a cat sat" unseen, bigram "cat sat" 2x / "cat" 2x
    assert(math.abs(lm.logScore("a", "cat", "sat") -
      math.log(0.5 * (2.0 / 2))) < 1e-12)
    // unigram backoff: bigram "cat mat" unseen, unigram "mat" 2x / 24
    assert(math.abs(lm.logScore("x", "cat", "mat") -
      math.log(0.5 * 0.5 * (2.0 / 24))) < 1e-12)
    // OOV floor
    assert(math.abs(lm.logScore("x", "y", "zebra") -
      math.log(0.5 * 0.5 * (0.5 / 24))) < 1e-12)
  }

  test("fluent text outscores scrambled; sub-3-token docs null; no shuffle") {
    val lm = LanguageModel.trainTrigram(corpus, "text")
    val probe = Seq(
      (10L, "the cat sat on the mat"),
      (11L, "mat the on sat cat the"),
      (12L, "two words"), (13L, "")).toDF("id", "text")
    val scored = LanguageModel.backoffScore(probe, "id", "text", lm)
    val out = scored.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(10L).get < out(11L).get)
    assert(out(12L).isEmpty && out(13L).isEmpty)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
  }

  test("truncated trigram model backs off instead of dividing by a missing prefix") {
    val lm = LanguageModel.trainTrigram(corpus, "text", maxBigrams = 1)
    // only the most frequent bigram survives; any trigram whose w1w2 prefix
    // was truncated must take the backoff chain, never a missing denominator
    val s = lm.logScore("the", "cat", "sat")
    assert(!s.isNaN && !s.isInfinite)
  }
}

class WritePartitionedSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft
  import graft.core.FixedColumnsParser

  private def tree(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala.map(p => base.relativize(p).toString).filter(_.nonEmpty).toVector
    finally walk.close()
  }

  test("values layout strips col= prefixes; hive layout keeps them; data round-trips") {
    val df = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "a", "y"))
      .toDF("id", "p", "q")
    val hiveOut = tmpDir("wp_hive")
    Graft.writePartitionedTable(df, hiveOut, Seq("p", "q"), layout = "hive")
    assert(tree(hiveOut).exists(_.startsWith("p=a/q=x")), tree(hiveOut).toString)
    val valOut = tmpDir("wp_vals")
    Graft.writePartitionedTable(df, valOut, Seq("p", "q"), layout = "values")
    val t = tree(valOut)
    assert(t.exists(_.startsWith("a/x")) && !t.exists(_.contains("p=")), t.toString)
    val back = Graft.readPartitionedTable(spark, valOut,
        parser = FixedColumnsParser.fromStr("p/q/fname"))
      .select("id", "p", "q")
    assert(canon(back) == canon(df))
  }

  test("hive-escaped partition values decode exactly: plus and percent survive") {
    // '+' is NOT hive-escaped (URL form-decoding would corrupt it to a
    // space); '%' and ':' ARE hive-escaped and must decode back
    val df = Seq((1L, "c++"), (2L, "a%b:c")).toDF("id", "p")
    val out = tmpDir("wp_esc")
    Graft.writePartitionedTable(df, out, Seq("p"), layout = "values")
    val t = tree(out)
    assert(t.exists(_.startsWith("c++")), t.toString)
    assert(t.exists(_.startsWith("a%b:c")), t.toString)
    val back = Graft.readPartitionedTable(spark, out,
        parser = FixedColumnsParser.fromStr("p/fname"))
      .select("id", "p")
    assert(canon(back) == canon(df))
  }

  test("values layout rejects slash values and append mode") {
    val slashed = Seq((1L, "a/c")).toDF("id", "p")
    val e = intercept[IllegalArgumentException] {
      Graft.writePartitionedTable(slashed, tmpDir("wp_slash"), Seq("p"),
        layout = "values")
    }
    assert(e.getMessage.contains("'/'"))
    val ok = Seq((1L, "a")).toDF("id", "p")
    val e2 = intercept[IllegalArgumentException] {
      Graft.writePartitionedTable(ok, tmpDir("wp_app"), Seq("p"),
        layout = "values", mode = "append")
    }
    assert(e2.getMessage.contains("append"))
  }

  test("values overwrite onto stale value dirs fails instead of nesting") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "p")
    val dir = tmpDir("wp_stale")
    Graft.writePartitionedTable(df, dir, Seq("p"), layout = "values")
    // dynamic partitionOverwriteMode leaves the prior stripped value dirs in
    // place; the post-write rename onto an existing dir would nest the new
    // data one level deep on HDFS/local-FS semantics — must refuse
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val e = intercept[IllegalArgumentException] {
        Graft.writePartitionedTable(df, dir, Seq("p"), layout = "values",
          mode = "overwrite")
      }
      assert(e.getMessage.contains("already exists"), e.getMessage)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("values layout rejects null and empty partition values") {
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("ok")))
      .toDF("id", "p")
    val e = intercept[IllegalArgumentException] {
      Graft.writePartitionedTable(withNull, tmpDir("wp_null"), Seq("p"),
        layout = "values")
    }
    assert(e.getMessage.contains("null/empty"))
  }
}

class L2NormalizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Embeddings

  test("l2normalize yields unit vectors; zero vectors stay zero") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f))).toDF("id", "v")
    val out = Embeddings.l2normalize(df, "id", "v")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Double](2))).toMap
    assert(out(1L) == ((5.0, Seq(0.6, 0.8))))
    assert(out(2L) == ((0.0, Seq(0.0, 0.0))))
    assert(out(3L) == ((1.0, Seq(-1.0, 0.0))))
  }
}

class NormalizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TextFunctions

  test("normalize lowercases, strips controls/punct, collapses spaces") {
    val rows = Seq(
      "  Hello,   WORLD!  ",
      "tab\there\u0000and\u001fctl",
      "keep unicode: café naïve",
      "a-b_c.d").toDF("text")
    val out = rows.select(
      TextFunctions.normalize(col("text")).as("keep"),
      TextFunctions.normalize(col("text"), dropPunct = true).as("drop"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out(0) == (("hello, world!", "hello world")))
    assert(out(1) == (("tab here and ctl", "tab here and ctl")))
    // non-ASCII letters survive (ASCII-only classes)
    assert(out(2) == (("keep unicode: café naïve",
      "keep unicode café naïve")))
    assert(out(3) == (("a-b_c.d", "a b c d")))
  }

  test("unicode fold: accents, width, ligatures collapse; ASCII passes through") {
    val rows = Seq(
      "Café",                 // precomposed é
      "Café",                // decomposed e + combining acute
      "Ｃａｆｅ",  // full-width ＣａｆｅC
      "naïve ﬁne",       // ï and the ﬁ ligature
      "plain ascii stays").toDF("text")
    val out = rows.select(
      TextFunctions.normalize(col("text"), foldUnicode = true).as("n"))
      .collect().map(_.getString(0))
    assert(out(0) == "cafe" && out(1) == "cafe" && out(2) == "cafe")
    assert(out(3) == "naive fine")
    assert(out(4) == "plain ascii stays")
  }

  test("folded variants of the same text produce identical shingle sets") {
    val variants = Seq(
      (1L, "the café résumé of a naïve fox"),
      (2L, "the café résumé of a naïve fox"),
      (3L, "the cafe resume of a naive fox")).toDF("id", "text")
    val sets = variants
      .select(col("id"),
        TextFunctions.words(
          TextFunctions.normalize(col("text"), foldUnicode = true)).as("__w"))
      .select(col("id"),
        graft.functions.ShingleHashSetExpr(col("__w"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sets(1L) == sets(3L) && sets(2L) == sets(3L),
      "accent/representation variants must shingle identically after folding")
  }

  test("unicode_fold is callable from SQL text") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT unicode_fold('Café Ａ') AS f")
      .collect().head.getString(0)
    assert(got == "Cafe A", s"got: $got")
  }
}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Retrieval

  private val docs = Seq(
    (1L, "spark query engine"),          // dl 3
    (2L, "query query plan"),            // dl 3, tf(query)=2
    (3L, "storage layer details")).toDF("id", "text") // no match

  test("bm25Join matches per-query bm25 scores; rrfFuseGrouped matches per-group rrfFuse") {
    val corpus = Seq(
      (1L, "spark query engine fast"), (2L, "query query plan"),
      (3L, "storage layer details"), (4L, "fast scan fast engine"),
      (5L, "plan query scan")).toDF("id", "text")
    val queries = Seq(
      (10L, Seq("query", "engine")),
      (11L, Seq("fast", "scan", "scan"))). // repeated term counts once
      toDF("query_id", "terms")
    val joined = Retrieval.bm25Join(queries, corpus, "query_id", "terms",
        "id", "text", k = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for ((qid, terms) <- Seq(10L -> Seq("query", "engine"), 11L -> Seq("fast", "scan"))) {
      val single = Retrieval.bm25(corpus, "id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(joined.keys.count(_._1 == qid) == single.size,
        s"query $qid match sets differ")
      single.foreach { case (id, score) =>
        assert(math.abs(joined((qid, id)) - score) < 1e-9,
          s"query $qid doc $id: join ${joined((qid, id))} vs single $score")
      }
    }
    // grouped RRF == per-group rrfFuse, group by group
    val listA = Seq((10L, 1L, 5.0), (10L, 2L, 4.0), (11L, 1L, 9.0))
      .toDF("query_id", "id", "score")
    val listB = Seq((10L, 2L, 7.0), (10L, 3L, 6.0), (11L, 4L, 1.0))
      .toDF("query_id", "id", "score")
    val grouped = Retrieval.rrfFuseGrouped(Seq(listA, listB),
        "query_id", "id", "score")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3))))
      .toMap
    for (qid <- Seq(10L, 11L)) {
      val perGroup = Retrieval.rrfFuse(
          Seq(listA, listB).map(_.filter(col("query_id") === qid).drop("query_id")),
          "id", "score")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      perGroup.foreach { case (id, v) =>
        assert(grouped((qid, id)) == v, s"group $qid id $id: ${grouped((qid, id))} vs $v")
      }
      assert(grouped.keys.count(_._1 == qid) == perGroup.size)
    }
  }

  test("bm25Join plans as an equi-join on term — no cartesian fallback") {
    val corpus = Seq((1L, "spark query engine"), (2L, "query plan"))
      .toDF("id", "text")
    val queries = Seq((10L, Seq("query"))).toDF("query_id", "terms")
    val df = Retrieval.bm25Join(queries, corpus, "query_id", "terms",
      "id", "text", k = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"bm25Join degraded to a cartesian join:\n$p")
  }

  test("term_freqs kernel matches the composed per-term filter formulation") {
    import spark.implicits._
    val docs2 = Seq(
      (1L, "a b a c a b"), (2L, ""), (3L, "c c c"), (4L, "x y z"),
      (5L, "a  b\ta")).toDF("id", "text")
    val terms = Seq("a", "b", "c")
    val w = docs2.select(col("id"),
      graft.functions.TextFunctions.words(col("text")).as("__w"))
    val fused = w.select(col("id"),
      graft.functions.TermFreqsExpr(col("__w"), terms).as("tfs"))
    val ref = w.select(col("id"),
      array(terms.map(t => size(filter(col("__w"), x => x === lit(t))).cast("long")): _*).as("tfs"))
    assert(canon(fused) == canon(ref))
  }

  test("max_token_freq kernel matches the quadratic HOF formulation") {
    import spark.implicits._
    val docs2 = Seq(
      (1L, "a b a c a b"), (2L, ""), (3L, "c c c c"), (4L, "x y z"),
      (5L, "t t  t\tt u u")).toDF("id", "text")
    val w = docs2.select(col("id"),
      graft.functions.TextFunctions.words(col("text")).as("__w"))
    val fused = w.select(col("id"),
      graft.functions.MaxTokenFreqExpr(col("__w")).as("m"))
    val ref = w.select(col("id"),
      coalesce(array_max(transform(array_distinct(col("__w")),
        d => size(filter(col("__w"), x => x === d)))), lit(0)).cast("long").as("m"))
    assert(canon(fused) == canon(ref))
  }

  test("sorted_jaccard matches array_intersect/union on sorted, unsorted and edge inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows: Seq[(Long, Seq[Long], Seq[Long])] =
      (0L until 300L).map { i =>
        val base = Seq.fill(rng.nextInt(20))(rng.nextLong() % 100)
        val other = Seq.fill(rng.nextInt(20))(rng.nextLong() % 100)
        // mix: sorted-distinct (the kernel contract), raw unsorted with
        // duplicates (fallback path), and shared elements
        val a = if (i % 3 == 0) base.distinct.sorted else base
        // always non-empty: empty-vs-empty is the one input the composable
        // form cannot evaluate under ANSI (see note below)
        val b0 = other ++ base.take(5) :+ (i * 31)
        val b = if (i % 3 == 0) b0.distinct.sorted else b0
        (i, a, b)
      } ++ Seq(
        (1000L, Seq(Long.MinValue, 0L, 5L), Seq(Long.MinValue, 5L)),
        // NOTE: empty-vs-empty is deliberately absent — the composable form
        // throws DIVIDE_BY_ZERO under ANSI while the kernel yields NaN, and
        // the pipeline's shingle sets are never empty (whole-doc collapse)
        (1002L, Seq.empty[Long], Seq(1L, 2L)),
        (1003L, Seq(7L), Seq(7L)))
    val df = rows.toDF("id", "a", "b")
    val fused = df.select(col("id"),
      graft.functions.SortedJaccardExpr(col("a"), col("b")).as("j"))
    val ref = df.select(col("id"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("j"))
    assert(canon(fused) == canon(ref))
  }

  test("char_ngrams kernel matches the composable HOF chain, unicode included") {
    import spark.implicits._
    val docs2 = Seq(
      "The quick  Brown\tfox", "", "   ", "ab", "a",
      "汉字语言识别测试", "mixed 汉字 and Latin", "Café NAÏVE",
      "emoji 😀 astral", "\ttabs\tonly\t").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (maxN <- Seq(1, 3)) {
      val fused = docs2.select(col("id"),
        graft.functions.TextFunctions.charNgrams(col("text"), maxN).as("g"))
      val ref = docs2.select(col("id"),
        graft.functions.TextFunctions.charNgramsComposable(col("text"), maxN).as("g"))
      assert(canon(fused) == canon(ref), s"char_ngrams diverges at maxN=$maxN")
    }
  }

  test("term_set_counts kernel matches per-set filter+array_contains, overlapping sets") {
    import spark.implicits._
    val docs2 = Seq(
      (1L, "de la the und la"), (2L, ""), (3L, "nothing matches here at all"),
      (4L, "the the the de")).toDF("id", "text")
    val sets = Seq(Seq("the", "and"), Seq("de", "la"), Seq("la", "und", "the"))
    val w = docs2.select(col("id"),
      graft.functions.TextFunctions.words(col("text")).as("__w"))
    val fused = w.select(col("id"),
      graft.functions.TermSetCountsExpr(col("__w"), sets).as("c"))
    val ref = w.select(col("id"), array(sets.map(set =>
      size(filter(col("__w"), x => array_contains(lit(set.toArray), x))).cast("long")): _*).as("c"))
    assert(canon(fused) == canon(ref))
  }

  test("termStats emits exact posting rows") {
    val out = Retrieval.termStats(docs, "id", "text", Seq("query", "spark"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      (1L, "query") -> ((1L, 3L, 2L)),
      (2L, "query") -> ((2L, 3L, 2L)),
      (1L, "spark") -> ((1L, 3L, 1L))))
  }

  test("bm25 matches the hand-computed score and ranks tf sensibly") {
    val k1 = 1.2; val b = 0.75
    val out = Retrieval.bm25(docs, "id", "text", Seq("query"), k1, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, df=2, avgdl=3, dl=3 -> length norm = 1
    val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    def s(tf: Double) = idf * tf * (k1 + 1) / (tf + k1)
    assert(math.abs(out(1L) - s(1)) < 1e-12)
    assert(math.abs(out(2L) - s(2)) < 1e-12)
    assert(!out.contains(3L))
    assert(out(2L) > out(1L), "higher tf must outrank")
  }

  test("rrf fusion sums reciprocal ranks across lists, hand-computed") {
    val listA = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "s") // ranks 1,2,3
    val listB = Seq((2L, 8.0), (4L, 2.0)).toDF("id", "s")            // ranks 1,2
    val out = Retrieval.rrfFuse(Seq(listA, listB), "id", "s", k = 60)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out(1L) == ((1.0 / 61, 1L)))
    assert(out(2L) == ((1.0 / 62 + 1.0 / 61, 2L)))
    assert(out(3L) == ((1.0 / 63, 1L)))
    assert(out(4L) == ((1.0 / 62, 1L)))
    // doc in both lists outranks a singly-listed doc with a better rank
    assert(out(2L)._1 > out(1L)._1)
  }

  test("rrfFuse fails fast when a list exceeds maxListSize") {
    val big = (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "s")
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    val e = intercept[Throwable] {
      Retrieval.rrfFuse(Seq(big), "id", "s", maxListSize = 5).collect()
    }
    assert(msgs(e).contains("maxListSize"), s"got: ${msgs(e)}")
    // the guard must see the full list even when topN truncates it
    val e2 = intercept[Throwable] {
      Retrieval.rrfFuse(Seq(big), "id", "s", topN = 3, maxListSize = 5).collect()
    }
    assert(msgs(e2).contains("maxListSize"), s"got: ${msgs(e2)}")
    // within the cap: unchanged
    assert(Retrieval.rrfFuse(Seq(big), "id", "s", maxListSize = 10).count() == 10)
  }

  test("corpus is never shuffled for scoring: stats attach via one broadcast row") {
    val df = Retrieval.termStats(docs, "id", "text", Seq("query"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // every statistic (df per term; N/avgdl for bm25) comes from ONE
    // aggregation pass broadcast as a single row — the posting side joins
    // it keylessly, so no corpus-side exchange of any kind exists
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"stats must attach by broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle to join:\n$plan")
    // bm25 is exactly TWO corpus scans: one stats aggregation (df + N +
    // avgdl in a single pass) and one posting/scoring pass — a separate
    // per-term df aggregation would surface as a third scan here
    val b = Retrieval.bm25(docs, "id", "text", Seq("query"))
    b.collect()
    val bPlan = b.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = "LocalTableScan".r.findAllIn(bPlan).size
    assert(scans == 2, s"bm25 must scan the corpus exactly twice, got $scans:\n$bPlan")
  }
}

class MixingSpec extends SparkSpec {
  import spark.implicits._

  private val rows = (0L to 9L).map(i => (i, if (i < 8) "a" else "b"))
    .toDF("id", "source")

  test("fractional weight resolves to the fixed id slice") {
    // w=1.5, granularity 10: ids with id%10 < 5 get 2 copies, rest 1
    val out = Mixing.resample(rows.filter(col("source") === "a"),
        "id", "source", Map("a" -> 1.5), granularity = 10)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(out(_) == 2L) && (5L to 7L).forall(out(_) == 1L))
  }

  test("zero weight drops, missing source passes through, copy is 0-based") {
    val out = Mixing.resample(rows, "id", "source", Map("a" -> 0.0))
    // only source b (absent from weights -> weight 1.0) survives
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == Set((8L, "b", 0L), (9L, "b", 0L)))
  }

  test("resample refuses inputs that already carry a copy column") {
    val once = Mixing.resample(rows, "id", "source", Map("a" -> 2.0))
    val e = intercept[IllegalArgumentException] {
      Mixing.resample(once, "id", "source", Map("a" -> 1.0))
    }
    assert(e.getMessage.contains("copy"))
  }

  test("non-numeric ids fail loudly instead of silently taking floor(w) copies") {
    val bad = Seq(("doc-x", "a"), ("doc-y", "a")).toDF("id", "source")
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    val e = intercept[Throwable] {
      Mixing.resample(bad, "id", "source", Map("a" -> 1.5), granularity = 10)
        .collect()
    }
    // ANSI sessions throw at the cast itself, non-ANSI hit the guard —
    // either way the job fails with a cast diagnostic, never silence
    val m = msgs(e)
    assert(m.contains("not castable") || m.toUpperCase.contains("CAST"),
      s"got: $m")
  }

  test("integer upsampling emits exact copy indices and no shuffle") {
    val df = Mixing.resample(rows.filter(col("id") === 0), "id", "source",
      Map("a" -> 3.0))
    val copies = df.select("copy").as[Long].collect().sorted.toSeq
    assert(copies == Seq(0L, 1L, 2L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixing must be shuffle-free:\n$plan")
    val report = Mixing.mixtureReport(df, "source").collect()
    assert(report.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 3L)))
  }

  test("temperature weights: alpha=1 is identity, alpha=0 equalizes, N preserved") {
    // 80/20 mixture over dense ids
    val w1 = Mixing.temperatureWeights(rows, "source", alpha = 1.0)
    assert(w1 == Map("a" -> 1.0, "b" -> 1.0))
    // alpha=0: p_i = 1/k, so each source's expected rows = N/k = 5:
    // w_a = 5/8 = 0.625, w_b = 5/2 = 2.5
    val w0 = Mixing.temperatureWeights(rows, "source", alpha = 0.0)
    assert(w0 == Map("a" -> 0.625, "b" -> 2.5))
    // expected total rows preserved at any alpha: sum(w_i * n_i) == N
    val w5 = Mixing.temperatureWeights(rows, "source", alpha = 0.5)
    val n = Map("a" -> 8L, "b" -> 2L)
    val total = w5.map { case (s, w) => w * n(s) }.sum
    assert(math.abs(total - 10.0) < 1e-4, s"weights $w5 drift N: $total")
    // rare source upsampled, common source downsampled, monotone in alpha
    assert(w5("b") > 1.0 && w5("b") < w0("b") && w5("a") < 1.0 && w5("a") > w0("a"))
    // realized mixture through the resample (granularity 10): w_a=.833333
    // -> extra slice 8 covers ids 0..7 (one copy each, 8 rows); w_b =
    // 1.666667 -> 1 full copy + extra slice 7, but b's ids 8,9 sit outside
    // id%10 < 7, so 2 rows — the documented uniform-ids assumption showing
    // up at toy scale
    val mixed = Mixing.mixByTemperature(rows, "id", "source",
      alpha = 0.5, granularity = 10)
    val report = Mixing.mixtureReport(mixed, "source").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report == Map("a" -> 8L, "b" -> 2L), s"got $report")
    intercept[IllegalArgumentException](
      Mixing.temperatureWeights(rows, "source", alpha = 1.5))
  }

  test("DoReMi weights: clipped excess, softmax update, smoothing, " +
      "N preserved; flat scores give the paper's uniform init") {
    import spark.implicits._
    // a: 8 docs at score 2.0; b: 2 docs at 7.0 -> gmean 3.0,
    // excess a = 0 (clipped), b = 4.0; eta 0.5 -> u = (1, exp(2))
    val scored = ((0 until 8).map(i => (i.toLong, "a", 2.0)) ++
      Seq((8L, "b", 7.0), (9L, "b", 7.0))).toDF("id", "source", "sc")
    val w = Mixing.learnWeights(scored, "source", "sc", eta = 0.5)
    assert(w == Map("a" -> 0.149004, "b" -> 4.403985), w.toString)
    // expected rows preserved: sum w_i n_i = N
    assert(math.abs(w("a") * 8 + w("b") * 2 - 10.0) < 1e-4)
    // smoothing pulls the mixture toward uniform
    val ws = Mixing.learnWeights(scored, "source", "sc", eta = 0.5,
      smoothing = 0.5)
    assert(ws("b") < w("b") && ws("a") > w("a"), s"$ws vs $w")
    // flat scores: zero excess everywhere -> the UNIFORM domain
    // distribution (DoReMi's initialization), matching temperature
    // alpha = 0, NOT the natural mixture
    val flat = scored.withColumn("sc", lit(1.5))
    assert(Mixing.learnWeights(flat, "source", "sc") ==
      Map("a" -> 0.625, "b" -> 2.5))
    // stronger eta concentrates more weight on the hard domain
    val hot = Mixing.learnWeights(scored, "source", "sc", eta = 2.0)
    assert(hot("b") > w("b"))
    intercept[IllegalArgumentException](
      Mixing.learnWeights(scored, "source", "sc", eta = 0.0))
    intercept[IllegalArgumentException](
      Mixing.learnWeights(scored, "source", "sc", smoothing = 1.0))
  }

  test("curriculum: banded two-level rank equals the global order; " +
      "round-robin shards share the ramp") {
    // scores deliberately collide across bands' worth of values
    val docs = (0L to 99L).map(i => (i, (i * 37L) % 50L))
      .map { case (i, s) => (i, s, s / 10L) }.toDF("id", "sc", "band")
    val out = Mixing.curriculum(docs, "id", "sc", "band", numShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // global truth: sort by (sc, id)
    val truth = (0L to 99L).map(i => (i, (i * 37L) % 50L))
      .sortBy { case (i, s) => (s, i) }.zipWithIndex
      .map { case ((i, _), k) => i -> (k + 1L) }.toMap
    assert(out.forall { case (id, rank, _, _) => truth(id) == rank },
      out.filterNot { case (id, rank, _, _) => truth(id) == rank }.take(5).toSeq.toString)
    // shard/position arithmetic
    assert(out.forall { case (_, r, sh, p) =>
      sh == (r - 1) % 3 && p == (r - 1) / 3 })
  }

  test("tokenBudgetFill: prefix cut per source, priority-desc order, " +
      "absent sources contribute nothing") {
    val docs = Seq(
      (1L, "a", 5L, 10L), (2L, "a", 5L, 10L), (3L, "a", 1L, 10L),
      (4L, "b", 9L, 7L), (5L, "b", 8L, 7L),
      (6L, "c", 1L, 1L)) // source c absent from budgets
      .toDF("id", "source", "prio", "tok")
    val budgets = Seq(("a", 25L), ("b", 7L)).toDF("source", "budget")
    val out = Mixing.tokenBudgetFill(docs, "id", "tok", "source", "prio",
        budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getLong(4)))
    // a: prio 5,5,1 -> ids 1,2 then 3; cum 10,20,30 -> 3 cut at 25
    // b: prio desc -> id 4 (cum 7 = budget, taken), id 5 cum 14 cut
    // c: no budget row -> absent
    assert(out.toSet == Set((1L, "a", 1L, 10L), (2L, "a", 2L, 20L),
      (4L, "b", 1L, 7L)))
    intercept[IllegalArgumentException](
      Mixing.tokenBudgetFill(docs, "id", "tok", "source", "prio",
        Seq(("a", 1L)).toDF("source", "quota")))
  }
}

class CompactionSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft
  import graft.core.{FixedColumnsParser, Q}

  private def dataFiles(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala.map(p => base.relativize(p).toString)
      .filter(p => p.contains("part-") && !p.contains("crc") &&
        !p.split("/").exists(seg => seg.startsWith("_") || seg.startsWith(".")))
      .toVector
    finally walk.close()
  }

  private def fragmented(prefix: String, nFrag: Int): (String, org.apache.spark.sql.DataFrame) = {
    val df = (0 until 120).map(i => (i.toLong, s"v$i", if (i % 3 == 0) "a" else "b"))
      .toDF("id", "v", "p")
    val out = tmpDir(prefix)
    Graft.writePartitionedTable(df.repartition(nFrag), out, Seq("p"))
    (out, df)
  }

  test("compaction merges small files per partition and preserves rows exactly") {
    val (out, df) = fragmented("compact_basic", 5)
    val before = dataFiles(out)
    assert(before.size > 2, s"fixture must be fragmented: $before")
    val stats = Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
    val after = dataFiles(out)
    assert(after.size == 2, s"one file per partition dir expected: $after")
    assert(stats.partitionsExamined == 2 && stats.partitionsCompacted == 2)
    assert(stats.filesBefore == before.size && stats.filesAfter == 2)
    assert(stats.bytesCompacted > 0)
    // no hidden staging residue
    assert(!tree(out).exists(_.contains(".graft_compact")), tree(out).toString)
    val back = Graft.readPartitionedTable(spark, out).select("id", "v", "p")
    assert(canon(back) == canon(df))
  }

  private def tree(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala.map(p => base.relativize(p).toString).filter(_.nonEmpty).toVector
    finally walk.close()
  }

  test("compaction is size-aware: already-right-sized files are left alone") {
    val (out, _) = fragmented("compact_sized", 4)
    val before = dataFiles(out).toSet
    // 1-byte target: every partition already needs >= its current file count
    val stats = Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L)
    assert(stats.partitionsCompacted == 0)
    assert(stats.filesBefore == stats.filesAfter)
    assert(dataFiles(out).toSet == before, "files must be untouched")
  }

  test("query scopes the pass: only matching partitions are rewritten") {
    val (out, df) = fragmented("compact_scoped", 5)
    val beforeB = dataFiles(out).filter(_.startsWith("p=b")).toSet
    val stats = Graft.compactPartitionedTable(spark, out,
      targetFileBytes = 1L << 30, query = Q.eq("p", "a"))
    assert(stats.partitionsExamined == 1 && stats.partitionsCompacted == 1)
    assert(dataFiles(out).count(_.startsWith("p=a")) == 1)
    assert(dataFiles(out).filter(_.startsWith("p=b")).toSet == beforeB,
      "out-of-scope partition must be untouched")
    val back = Graft.readPartitionedTable(spark, out).select("id", "v", "p")
    assert(canon(back) == canon(df))
  }

  test("value-only layouts compact through their parser; second pass is a no-op") {
    val df = (0 until 60).map(i => (i.toLong, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "p")
    val out = tmpDir("compact_vals")
    Graft.writePartitionedTable(df.repartition(4), out, Seq("p"), layout = "values")
    val parser = FixedColumnsParser.fromStr("p/fname")
    val stats = Graft.compactPartitionedTable(spark, out,
      targetFileBytes = 1L << 30, parser = parser)
    assert(stats.partitionsCompacted == 2)
    assert(dataFiles(out).size == 2)
    val again = Graft.compactPartitionedTable(spark, out,
      targetFileBytes = 1L << 30, parser = parser)
    assert(again.partitionsCompacted == 0 && again.filesAfter == 2)
    val back = Graft.readPartitionedTable(spark, out, parser = parser)
      .select("id", "p")
    assert(canon(back) == canon(df))
  }
}

class VectorAvgSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.VectorAvgAgg.vectorAvg

  test("hand-computed pooled means; merge across partitions") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 6.0f)),
      ("b", Array(10.0f, 0.0f))
    ).toDF("g", "v").repartition(5) // partial buffers MUST merge
    val out = df.groupBy("g").agg(vectorAvg(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(out("a") == Seq(2.0, 4.0))
    assert(out("b") == Seq(10.0, 0.0))
  }

  test("null vectors are skipped; all-null group is null; dim mismatch raises") {
    val df = Seq(("a", Array(2.0, 4.0)), ("a", null.asInstanceOf[Array[Double]]),
      ("b", null.asInstanceOf[Array[Double]]))
      .toDF("g", "v")
    val out = df.groupBy("g").agg(vectorAvg(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a").isDefined && out("b").isEmpty)
    val bad = Seq(("a", Array(1.0)), ("a", Array(1.0, 2.0))).toDF("g", "v")
    val e = intercept[Exception] {
      bad.groupBy("g").agg(vectorAvg(col("v")).as("m")).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("SQL vector_avg works and the plan rides partial object aggregation") {
    GraftExtensions.register(spark)
    Seq((1, Array(1.0, 3.0)), (1, Array(3.0, 5.0))).toDF("g", "v")
      .createOrReplaceTempView("vecs_va")
    val df = spark.sql("SELECT g, vector_avg(v) AS m FROM vecs_va GROUP BY g")
    assert(df.collect().head.getSeq[Double](1) == Seq(2.0, 4.0))
    val plan = df.queryExecution.executedPlan.toString
    // partial + final object-hash aggregation: bounded buffers cross the
    // shuffle, never exploded elements
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan)
  }
}

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.HeavyHitters.heavyHitters

  private def asPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
    df.select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.count"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  test("capacity >= distinct items makes the sketch exact (grouped, merge over shuffle)") {
    val rows = (0 until 3000).map { i =>
      (s"g${i % 3}", s"item${i % (7 + i % 3)}") // per-group skewed vocab
    }.toDF("g", "item").repartition(13) // partial buffers MUST merge
    val got = rows.groupBy("g").agg(heavyHitters(col("item"), 5, 64).as("hh"))
      .select(col("g"), explode(col("hh")).as("h"))
      .select(col("g"), col("h.item").as("item"), col("h.count").as("n"))
    val exact = rows.groupBy("g", "item").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(desc("n"), asc("item"))))
      .filter(col("rk") <= 5).select("g", "item", "n")
    assert(canon(got) == canon(exact))
  }

  test("undercount never exceeds N/(capacity+1); true heavy hitters are retained") {
    // 1 dominant item + a long tail, small capacity forces decrements
    val n = 5000
    val data = ((0 until 1500).map(_ => "hot") ++
      (0 until n - 1500).map(i => s"tail${i % 200}")).toDF("item")
      .repartition(7)
    val cap = 49
    val got = data.agg(heavyHitters(col("item"), cap, cap).as("hh"))
    val pairs = asPairs(got).toMap
    val bound = n.toLong / (cap + 1) + 1 // merges stack two MG stages' bounds
    // estimates never overcount, and undercount respects the bound
    assert(pairs("hot") <= 1500L && pairs("hot") >= 1500L - 2 * bound,
      s"hot=${pairs("hot")} bound=$bound")
    assert(pairs.values.forall(_ > 0))
    // an item with true count > 2N/(cap+1) cannot be evicted
    assert(pairs.contains("hot"))
  }

  test("array input counts elements without an explode; nulls skipped") {
    val df = Seq(
      (1L, Seq("a", "b", "a")),
      (2L, Seq("a", null, "c")),
      (3L, null)).toDF("id", "toks")
    val pairs = asPairs(df.agg(heavyHitters(col("toks"), 3, 16).as("hh")))
    assert(pairs == Seq(("a", 3L), ("b", 1L), ("c", 1L)))
    val plan = df.agg(heavyHitters(col("toks"), 3, 16).as("hh"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"no explode expected:\n$plan")
  }

  test("deterministic ordering under ties: count desc then item asc") {
    val pairs = asPairs(
      Seq("b", "a", "c", "a", "c", "b").toDF("item")
        .agg(heavyHitters(col("item"), 3, 8).as("hh")))
    assert(pairs == Seq(("a", 2L), ("b", 2L), ("c", 2L)))
  }

  test("heavy_hitters is SQL-callable and rejects bad arguments") {
    graft.GraftExtensions.register(spark)
    Seq("x y x", "x z").toDF("t").createOrReplaceTempView("hh_docs")
    val rows = spark.sql(
      """SELECT h.item, h.count FROM (
           SELECT explode(heavy_hitters(split(t, ' '), 2, 100)) AS h
           FROM hh_docs)""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("x", 3L), ("y", 1L)))
    intercept[Exception] {
      spark.sql("SELECT heavy_hitters(split('a', ' '), 0, 10)").collect()
    }
    intercept[Exception] { // capacity < topK
      Seq("a").toDF("t").agg(heavyHitters(col("t"), 10, 5)).collect()
    }
    // non-string input rejected by type check
    val e = intercept[Exception] {
      Seq(1, 2).toDF("n").agg(heavyHitters(col("n"), 2, 8)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}

class ClusteredWriteSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  test("sortBy clusters files: disjoint per-file ranges, sorted rows, skippable scans") {
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle((0 until 4000).toVector)
      .map(i => (i.toLong, s"p${i % 2}")).toDF("v", "p")
      .repartition(8) // deliberately interleaved input
    val out = tmpDir("clustered")
    // AQE would rightly coalesce this toy shuffle into one task (it sizes
    // output files at scale); pin 4 range tasks so multiple files exist
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Graft.writePartitionedTable(df, out, Seq("p"), sortBy = Seq("v"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala.filter(_.toString.endsWith(".parquet")).map(_.toString).toVector
    assert(files.size > 2, s"want multiple files per dir, got $files")

    // per-file: rows sorted; per-dir: file ranges disjoint
    val ranges = files.map { f =>
      val vs = spark.read.parquet(f).select("v").as[Long].collect().toSeq
      assert(vs == vs.sorted, s"rows within $f must be sorted")
      (f.split("/").init.last, vs.min, vs.max)
    }
    ranges.groupBy(_._1).foreach { case (dir, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, hi), (_, lo, _)) =>
          assert(hi < lo, s"$dir: file ranges overlap ($hi >= $lo)")
        case _ =>
      }
    }

    // row-group stats actually skip: a narrow BETWEEN touches a subset of
    // rows at the SCAN (pre-filter) level compared to the unsorted write
    def scanRows(url: String): Long = {
      val q = spark.read.parquet(url).filter(col("v").between(100, 120))
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val unsortedOut = tmpDir("unclustered")
    Graft.writePartitionedTable(df, unsortedOut, Seq("p"))
    assert(scanRows(out) <= scanRows(unsortedOut),
      "clustered table must never scan more rows than the unclustered one")
    // data identical
    assert(canon(spark.read.parquet(out).select("v", "p")) ==
      canon(df.select(col("v"), col("p"))))

    intercept[IllegalArgumentException] {
      Graft.writePartitionedTable(df, tmpDir("bad_sort"), Seq("p"), sortBy = Seq("nope"))
    }
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  private val rows = (0 until 300).map(i =>
    (i.toLong, s"g${i % 3}")).toDF("id", "g")

  test("exact n per group, deterministic across partitionings and reruns") {
    val a = Sampling.sampleByGroup(rows, "g", "id", 7, "salt")
    val b = Sampling.sampleByGroup(rows.repartition(11), "g", "id", 7, "salt")
    assert(a.groupBy("g").count().collect().forall(_.getLong(1) == 7))
    assert(canon(a) == canon(b), "sample must not depend on partitioning")
    // a group smaller than n returns the whole group
    val small = Sampling.sampleByGroup(rows.filter(col("id") < 4), "g", "id", 7)
    assert(small.count() == 4)
  }

  test("salt re-deals the sample; null ids are excluded") {
    val s1 = Sampling.sampleByGroup(rows, "g", "id", 10, "a")
    val s2 = Sampling.sampleByGroup(rows, "g", "id", 10, "b")
    assert(canon(s1) != canon(s2), "different salts must select different rows")
    val withNull = rows.union(Seq((null.asInstanceOf[java.lang.Long], "g0"))
      .map(t => (Option(t._1).map(Long2long).getOrElse(0L), t._2))
      .toDF("id", "g").withColumn("id", lit(null).cast("long")))
    assert(Sampling.sampleByGroup(withNull, "g", "id", 1000).count() == 300)
  }

  test("rank-limit pushes map-side: WindowGroupLimit bounds the shuffle input") {
    val q = Sampling.sampleByGroup(rows, "g", "id", 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must prune before the exchange:\n$plan")
  }

  test("negativeSample: positives excluded, <=1 per draw, partition-invariant") {
    val corpus = (0L until 400L).map(i => (i, s"d$i")).toDF("cid", "payload")
    val queries = (0L until 30L).map(i => (i, "q")).toDF("qid", "tag")
    val pos = (0L until 30L).map(i => (i, i)).toDF("qid", "cid") // self + none else
    val a = Sampling.negativeSample(queries, corpus, "qid", "cid", k = 5,
      positives = Some(pos))
    val b = Sampling.negativeSample(queries.repartition(7),
      corpus.repartition(3), "qid", "cid", k = 5, positives = Some(pos))
    assert(canon(a) == canon(b)) // md5 determinism, not partitioning
    val got = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (q, _, n) => q != n }) // positives never sampled
    assert(got.groupBy(x => (x._1, x._2)).forall(_._2.length == 1)) // 1/draw
    assert(got.groupBy(_._1).forall(_._2.length <= 5))
    // no-positives call and empty-bucket under-delivery stay deterministic
    val c = Sampling.negativeSample(queries, corpus.limit(3), "qid", "cid", k = 4)
    assert(c.count() <= 30 * 4)
    // the per-(query, draw) rank-1 prunes map-side
    a.collect()
    val plan = a.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"), plan)
  }
}

class SpanStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  private val docs = Seq(
    (1L, "a b c d e f"),        // spans: "a b c", "b c d", "c d e", "d e f"
    (2L, "x y a b c d z"),      // shares "a b c" and "b c d" with doc 1
    (3L, "p q r"),              // one span, unshared
    (4L, "s t"),                // shorter than n -> absent from output
    (5L, "m m m m")).toDF("id", "text") // within-doc repeat counts once

  test("per-doc shared-span counts match hand computation") {
    val out = Dedup.spanStats(docs, "id", "text", n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((4L, 2L))) // "a b c","b c d" shared with doc 2
    assert(out(2L) == ((5L, 2L)))
    assert(out(3L) == ((1L, 0L)))
    assert(!out.contains(4L), "docs shorter than n carry no span")
    assert(out(5L) == ((1L, 0L))) // "m m m" twice in doc -> ONE distinct span
  }

  test("hashSpans=true produces identical counts with a narrow shuffle key") {
    val exact = Dedup.spanStats(docs, "id", "text", n = 3)
    val hashed = Dedup.spanStats(docs, "id", "text", n = 3, hashSpans = true)
    assert(canon(exact) == canon(hashed))
  }

  test("span stats are invariant to input partitioning") {
    val wide = (0L until 200L).map(i =>
      (i, s"tok${i % 11} tok${(i + 1) % 11} tok${(i + 2) % 11} shared one two three"))
      .toDF("id", "text")
    val a = Dedup.spanStats(wide, "id", "text", n = 4)
    val b = Dedup.spanStats(wide.repartition(13), "id", "text", n = 4)
    assert(canon(a) == canon(b))
  }

  test("skew-safe plan: ONE bounded span aggregate, NO window, NO full-frame join-back") {
    val q = Dedup.spanStats(docs, "id", "text", n = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // A count-over-window on the span key funnels every occurrence of a hot
    // boilerplate span into ONE WindowExec partition that AQE cannot split;
    // the skew-safe shape is ONE groupBy(span) with O(1) per-key state
    // (count + min/max for minDocs<=3, map-side combined, codegen'd),
    // non-shared spans exploded back to doc ids, and a doc-level join.
    assert(!plan.contains("WindowExec") && !"\\bWindow\\b".r.findFirstIn(plan).isDefined,
      s"span counting must not use a window:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected codegen'd hash aggregate on the span key:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"minDocs<=3 must stay on the codegen'd min/max path:\n$plan")
    assert(plan.contains("Join"), s"expected doc-level rollup join:\n$plan")
  }

  test("minDocs > 3 dispatches to the bounded capped-collect aggregate, same answers") {
    val many = Seq(
      (1L, "s s s t1 one"), (2L, "s s s t2 two"), (3L, "s s s t3 three"),
      (4L, "s s s t4 four"), (5L, "s s s t5 five"),
      (6L, "u v w x y")).toDF("id", "text")
    val q = Dedup.spanStats(many, "id", "text", n = 3, minDocs = 4)
    val rows = q.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // "s s s" appears in docs 1-5 (>=4) -> shared; every other span is rarer
    assert((1L to 5L).forall(d => rows(d)._2 == 1L),
      s"each of docs 1-5 shares exactly the 's s s' span: $rows")
    assert(rows(6L)._2 == 0L)
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("ObjectHashAggregate") && plan.contains("capped_collect"),
      s"minDocs>3 must use the capped-collect path:\n$plan")
    assert(!plan.contains("WindowExec"), s"no window on the span key:\n$plan")
  }
}

class StripSharedChunksSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  private val docs = Seq(
    (1L, "a b c d"),     // chunks "a b","c d" — both shared below
    (2L, "a b x y"),     // "a b" shared with doc 1, "x y" kept
    (3L, "z z"),         // unshared
    (4L, "q"),           // partial chunk, kept
    (5L, ""),            // zero tokens -> zero chunks
    (6L, "c d c d")).toDF("id", "text") // "c d" shared with doc 1, BOTH occurrences go

  private def collected(hashKeys: Boolean) =
    Dedup.stripSharedChunks(docs, "id", "text", n = 2, minDocs = 2,
        hashKeys = hashKeys)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("shared chunks removed from EVERY doc, survivors reassemble in order") {
    val out = collected(hashKeys = false)
    assert(out(1L) == (("", 2L, 2L)), out(1L).toString)
    assert(out(2L) == (("x y", 2L, 1L)), out(2L).toString)
    assert(out(3L) == (("z z", 1L, 0L)))
    assert(out(4L) == (("q", 1L, 0L)), "sub-n partial chunk must survive")
    assert(out(5L) == (("", 0L, 0L)), "empty doc keeps its row with zero chunks")
    assert(out(6L) == (("", 2L, 2L)), "within-doc repeats of a shared chunk all go")
  }

  test("hashKeys=true produces identical output with 8-byte join keys") {
    assert(collected(hashKeys = true) == collected(hashKeys = false))
  }

  test("output is invariant to input partitioning") {
    val wide = (0L until 120L).map(i =>
      (i, s"shared pair tok${i % 7} tok${(i + 3) % 7} tail$i end")).toDF("id", "text")
    val a = Dedup.stripSharedChunks(wide, "id", "text", n = 2)
    val b = Dedup.stripSharedChunks(wide.repartition(13), "id", "text", n = 2)
    assert(canon(a) == canon(b))
  }

  test("skew-safe plan: no window on the chunk key, anti-join against the shared set") {
    val q = Dedup.stripSharedChunks(docs, "id", "text", n = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // removal hits every occurrence — there is no per-key winner to elect,
    // so nothing may funnel a hot boilerplate chunk into one WindowExec
    assert(!plan.contains("WindowExec"), s"no window on the chunk key:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected anti-join against the shared set:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected map-side combined count:\n$plan")
  }
}

class KllSketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.KllSketch.{kllQuantile, kllQuantiles}

  private val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  /** Reference continuous quantile (quantile_cont / numpy linear). */
  private def contQuantile(sorted: Array[Double], q: Double): Double = {
    val t = q * (sorted.length - 1)
    val lo = sorted(math.floor(t).toInt)
    val hi = sorted(math.ceil(t).toInt)
    lo + (t - math.floor(t)) * (hi - lo)
  }

  test("exact regime (k >= n): matches quantile_cont bit-exactly, any partitioning") {
    val rng = new scala.util.Random(11)
    val data = Array.fill(500)(rng.nextDouble() * 1000 - 500)
    val expected = { val s = data.sorted; qs.map(contQuantile(s, _)) }
    for (parts <- Seq(1, 7)) {
      val got = data.toSeq.toDF("v").repartition(parts)
        .agg(kllQuantiles(col("v"), 1024, qs).as("qv"))
        .collect().head.getSeq[Double](0)
      assert(got == expected, s"exact regime must be bit-exact at parts=$parts")
    }
  }

  test("compacting regime: rank error within the sketch bound") {
    val n = 100000
    val rng = new scala.util.Random(23)
    val data = Array.fill(n)(rng.nextGaussian())
    val sorted = data.sorted
    val got = data.toSeq.toDF("v").repartition(16)
      .agg(kllQuantiles(col("v"), 256, qs).as("qv"))
      .collect().head.getSeq[Double](0)
    qs.zip(got).foreach { case (q, v) =>
      // observed rank of the returned value vs target rank, as a fraction
      val rank = sorted.count(_ <= v).toDouble / n
      assert(math.abs(rank - q) < 0.02,
        f"q=$q: returned value has rank $rank%.4f (err ${math.abs(rank - q)}%.4f)")
    }
  }

  test("merge tree invariance stays inside the bound (not bit-identical)") {
    val n = 50000
    val data = (0 until n).map(_.toDouble)
    val a = data.toDF("v").repartition(1)
      .agg(kllQuantile(col("v"), 128, 0.5)).collect().head.getDouble(0)
    val b = data.toDF("v").repartition(31)
      .agg(kllQuantile(col("v"), 128, 0.5)).collect().head.getDouble(0)
    assert(math.abs(a - n / 2.0) / n < 0.03 && math.abs(b - n / 2.0) / n < 0.03,
      s"both merge trees must land near the true median: $a, $b")
  }

  test("grouped aggregation, nulls and NaNs skipped, empty group null") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", None),
      ("b", Some(Double.NaN)), ("b", Some(10.0))).toDF("g", "v")
    val out = df.groupBy("g").agg(kllQuantile(col("v"), 64, 0.5).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 2.0)
    assert(out("b") == 10.0)
    val empty = df.filter(col("g") === "zzz")
      .agg(kllQuantile(col("v"), 64, 0.5)).collect().head
    assert(empty.isNullAt(0))
  }

  test("kll_quantile is SQL-registered; integer columns cast") {
    graft.GraftExtensions.register(spark)
    spark.range(101).createOrReplaceTempView("kll_t")
    val out = spark.sql("SELECT kll_quantile(id, 256, 0.5) AS med FROM kll_t")
      .collect().head.getDouble(0)
    assert(out == 50.0)
  }
}

class WordSpansSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.{TextFunctions, WordSpansExpr}

  // the composable reference formulation the kernel must match bit-exactly
  private def composed(text: org.apache.spark.sql.Column, n: Int) = {
    val w = TextFunctions.words(text)
    when(size(w) >= n,
        array_distinct(transform(sequence(lit(1), size(w) - n + 1),
          i => array_join(slice(w, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  test("fused kernel matches the composed HOF formulation on hostile whitespace") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a",                       // within-doc repeats dedup
      "  leading and trailing spaces  ",
      "\ttab\tstart and end\t",            // spark trim strips SPACES only
      "multi   space\u000Bvt\ffeed mixed\r\nnewline tokens here",
      "", "   ", "\t", "short doc",        // empty / space-only / sub-n
      "exactly three tokens",
      "x   nbsp is not regex whitespace y z w v") // \s misses U+00A0
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val fused = docs.select(col("id"), WordSpansExpr(col("text"), n).as("s"))
      val ref = docs.select(col("id"), composed(col("text"), n).as("s"))
      assert(canon(fused) == canon(ref), s"kernel diverges from HOF form at n=$n")
    }
  }

  test("randomized parity sweep") {
    val rng = new scala.util.Random(7)
    val alphabet = Seq("a", "bb", "ccc", " ", "\t", "  ", "\n")
    val docs = (0L until 300L).map { i =>
      (i, (0 until rng.nextInt(30)).map(_ => alphabet(rng.nextInt(alphabet.size))).mkString)
    }.toDF("id", "text")
    val fused = docs.select(col("id"), WordSpansExpr(col("text"), 3).as("s"))
    val ref = docs.select(col("id"), composed(col("text"), 3).as("s"))
    assert(canon(fused) == canon(ref))
  }

  test("collapse variant matches array_distinct(shingles(words)) incl. whole-doc collapse") {
    import graft.functions.WordShinglesExpr
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a", "short", "two words", "",
      "   ", "\ttab\tonly\t", "x y z w v u t s").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 3, 8)) {
      val fused = docs.select(col("id"), WordShinglesExpr(col("text"), n).as("s"))
      val ref = docs.select(col("id"), TextFunctions.words(col("text")).as("__w"))
        .select(col("id"),
          array_distinct(TextFunctions.shingles(col("__w"), n)).as("s"))
      assert(canon(fused) == canon(ref), s"collapse kernel diverges at n=$n")
    }
    // null text: kernel nulls out, composed form nulls out — same
    val withNull = Seq((1L, Option("a b c")), (2L, Option.empty[String])).toDF("id", "text")
    val f = withNull.select(col("id"), WordShinglesExpr(col("text"), 2).as("s"))
    val r = withNull.select(col("id"), TextFunctions.words(col("text")).as("__w"))
      .select(col("id"), array_distinct(TextFunctions.shingles(col("__w"), 2)).as("s"))
    assert(canon(f) == canon(r))
  }

  test("words kernel matches the composable regex formulation") {
    val rng = new scala.util.Random(13)
    val alphabet = Seq("tok", "x", " ", "\t", "\n", "\u000B", "\f", "\r", "  ")
    val hostile = Seq("", " ", "  ", "\t", "\ta b\t", " a  b ", "a\u000Bb",
      "one", "a\r\nb c") ++
      (0 until 200).map(_ =>
        (0 until rng.nextInt(20)).map(_ => alphabet(rng.nextInt(alphabet.size))).mkString)
    val docs = hostile.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fused = docs.select(col("id"), TextFunctions.words(col("text")).as("w"))
    val ref = docs.select(col("id"), TextFunctions.wordsComposable(col("text")).as("w"))
    assert(canon(fused) == canon(ref))
    // null propagation parity
    val withNull = Seq((1L, Option.empty[String])).toDF("id", "text")
    assert(canon(withNull.select(TextFunctions.words(col("text")).as("w")))
      == canon(withNull.select(TextFunctions.wordsComposable(col("text")).as("w"))))
  }

  test("chunk kernel matches the composed HOF formulation incl. partial tails") {
    import graft.functions.WordChunksExpr
    def composedChunks(text: org.apache.spark.sql.Column, n: Int) = {
      val w = TextFunctions.words(text)
      when(size(w) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), floor((size(w) + n - 1) / lit(n)).cast("int") - 1),
          i => array_join(slice(w, i * n + 1, lit(n)), " ")))
    }
    val rng = new scala.util.Random(29)
    val alphabet = Seq("a", "bb", "ccc", " ", "\t", "  ", "\n")
    val docs = (Seq("", " ", "one", "a b c d e", "a a a a", "\tx y\t") ++
      (0 until 200).map(_ =>
        (0 until rng.nextInt(25)).map(_ => alphabet(rng.nextInt(alphabet.size))).mkString))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 4, 7)) {
      val fused = docs.select(col("id"), WordChunksExpr(col("text"), n).as("c"))
      val ref = docs.select(col("id"), composedChunks(col("text"), n).as("c"))
      assert(canon(fused) == canon(ref), s"chunk kernel diverges at n=$n")
    }
    // chunks partition the token stream: concat of chunks == concat of words
    val joined = docs.select(
      array_join(WordChunksExpr(col("text"), 3), " ").as("a"),
      array_join(TextFunctions.words(col("text")), " ").as("b"))
    assert(joined.filter(col("a") =!= col("b")).count() == 0)
  }

  test("word_spans is SQL-registered") {
    graft.GraftExtensions.register(spark)
    Seq((1L, "a b c d")).toDF("id", "text").createOrReplaceTempView("ws_t")
    val out = spark.sql("SELECT word_spans(text, 2) AS s FROM ws_t")
      .collect().head.getSeq[String](0)
    assert(out == Seq("a b", "b c", "c d"))
  }

  test("words, max_token_freq and char_ngrams are SQL-registered") {
    graft.GraftExtensions.register(spark)
    Seq((1L, "a b  a\tc a")).toDF("id", "text").createOrReplaceTempView("wsql_t")
    val row = spark.sql(
      """SELECT words(text) AS w, max_token_freq(words(text)) AS m,
         char_ngrams('ab', 2) AS g FROM wsql_t""").collect().head
    assert(row.getSeq[String](0) == Seq("a", "b", "a", "c", "a"))
    assert(row.getLong(1) == 3L)
    assert(row.getSeq[String](2) == Seq(" ", "a", "b", " a", "ab", "b "))
  }
}

class CappedCollectSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.CappedCollect.cappedCollect

  private val pairs = Seq(
    ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
    ("b", 10L), ("b", 11L),
    ("c", 7L)).toDF("g", "id")

  test("groups at or under the cap collect their COMPLETE value set") {
    val out = pairs.groupBy("g")
      .agg(cappedCollect(col("id"), 3).as("ids"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Long](1).toSet, r.getLong(2))).toMap
    assert(out("b") == ((Set(10L, 11L), 2L)))
    assert(out("c") == ((Set(7L), 1L)))
  }

  test("groups over the cap retain exactly cap elements, all genuine members") {
    val out = pairs.groupBy("g")
      .agg(cappedCollect(col("id"), 3).as("ids"))
      .filter(col("g") === "a")
      .collect().head.getSeq[Long](1)
    assert(out.size == 3, s"cap must bound the buffer, got $out")
    assert(out.toSet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
  }

  test("cap bounds state under any partitioning (merge path) and skips nulls") {
    val wide = spark.range(10000)
      .select((col("id") % 7).cast("string").as("g"),
        when(col("id") % 13 === 0, lit(null)).otherwise(col("id")).as("id"))
      .repartition(17)
    val out = wide.groupBy("g").agg(cappedCollect(col("id"), 5).as("ids"))
      .collect()
    assert(out.forall(_.getSeq[Long](1).size == 5))
    assert(out.forall(_.getSeq[Long](1).forall(_ % 13 != 0)), "nulls must be skipped")
  }

  test("string ids round-trip through serialize/merge") {
    val df = spark.range(500)
      .select(lit("g").as("g"), concat(lit("doc_"), col("id")).as("id"))
      .repartition(11)
    val out = df.groupBy("g").agg(cappedCollect(col("id"), 4).as("ids"))
      .collect().head.getSeq[String](1)
    assert(out.size == 4 && out.forall(_.startsWith("doc_")))
  }

  test("unsupported element types are rejected at analysis") {
    val err = intercept[Exception] {
      pairs.groupBy("g").agg(cappedCollect(col("id").cast("double"), 3)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("capped_collect"))
  }
}

class OrcFormatSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  test("orc round-trips through the partitioned model: write, auto-detect, prune, compact") {
    val df = Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a")).toDF("id", "v", "p")
    val out = tmpDir("orc_rt")
    Graft.writePartitionedTable(df.repartition(3), out, Seq("p"), format = "orc")
    // suffix auto-detection picks orc; partition pruning applies as usual
    val back = Graft.readPartitionedTable(spark, out)
    assert(canon(back.select("id", "v", "p")) == canon(df))
    val pruned = Graft.readPartitionedTable(spark, out, query = graft.core.Q.eq("p", "a"))
    assert(pruned.count() == 2)
    // maintenance ops speak orc too
    val stats = Graft.compactPartitionedTable(spark, out,
      targetFileBytes = 1L << 30, format = "orc")
    assert(stats.partitionsCompacted >= 1)
    assert(canon(Graft.readPartitionedTable(spark, out).select("id", "v", "p")) == canon(df))
    // lazy-errors probe handles orc files (generic schema branch)
    val rich = Graft.readPartitionedTableRich(spark, out, columns = Seq("id", "nope"))
    assert(rich.failures.nonEmpty && rich.failures.head.reason.contains("nope"))
  }
}

class CompactionHardeningSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  test("mixed-schema dirs rewrite under the UNION schema, never dropping columns") {
    val out = tmpDir("compact_evolve")
    // an evolving sink: the second write adds column c, the third d
    // ahead of c
    Seq((1L, "a")).toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(out)
    Seq((2L, "a", "new")).toDF("id", "p", "c")
      .write.mode("append").partitionBy("p").parquet(out)
    Seq((3L, 4.5, "a", "newer")).toDF("id", "d", "p", "c")
      .write.mode("append").partitionBy("p").parquet(out)
    // the rewrite keeps the schema Spark's merge gives the original files
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$out/p=a").schema
    val stats = Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
    assert(stats.partitionsCompacted == 1 && stats.filesBefore == 3 && stats.filesAfter == 1)
    assert(spark.read.parquet(s"$out/p=a").schema == merged)
    val back = spark.read.parquet(out)
    assert(back.columns.contains("c"), "evolved column must survive compaction")
    val rows = back.select("id", "c", "d").collect().map(r =>
      r.getLong(0) -> (Option(r.getString(1)), Option(r.get(2)))).toMap
    assert(rows == Map(1L -> (None, None), 2L -> (Some("new"), None),
      3L -> (Some("newer"), Some(4.5))))
  }

  /** p=a fragmented into three files plus a tagged append; p=b and p=c
    * one tagged file each, so the size heuristic skips both. */
  private def taggedTable(prefix: String): String = {
    val out = tmpDir(prefix)
    Graft.writePartitionedTable(
      (0 until 30).map(i => (i.toLong, "a")).toDF("id", "p").repartition(3), out, Seq("p"))
    graft.core.TaggedAppend.append(Seq((100L, "a"), (101L, "b")).toDF("id", "p"),
      out, "t1", Seq("p"))
    graft.core.TaggedAppend.append(Seq((102L, "c")).toDF("id", "p"), out, "t2", Seq("p"))
    out
  }

  private def fileNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).sorted.toSeq

  test("a whole-table compaction lists the tree once and runs one job per rewritten dir") {
    import graft.core.Discovery
    val out = taggedTable("compact_once")
    Discovery.resetListingCounter()
    Graft.discover(spark, out)
    val oneListing = Discovery.listingCalls.get()
    Discovery.resetListingCounter()
    val (stats, jobs) = jobsDuring(
      Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30))
    assert(Discovery.listingCalls.get() == oneListing,
      "compaction and tag retirement must share one listing")
    assert(stats.partitionsCompacted == 1)
    assert(jobs == stats.partitionsCompacted, s"$jobs jobs for one rewritten dir")
    assert(Graft.readPartitionedTable(spark, out).count() == 33)
  }

  test("dirs the size heuristic skips still have their ingest files retired, whole-table or scoped") {
    import graft.core.Q
    for (scope <- Seq(Q.True, Q.or(Q.eq("p", "a"), Q.eq("p", "b")))) {
      val out = taggedTable("compact_retire")
      val stats = Graft.compactPartitionedTable(spark, out,
        targetFileBytes = 1L << 30, query = scope)
      assert(stats.partitionsCompacted == 1, scope.toString)
      assert(fileNames(s"$out/p=a").size == 1 &&
        !fileNames(s"$out/p=a").head.startsWith("ingest-"), scope.toString)
      for ((dir, tag) <- Seq("p=b" -> "t1", "p=c" -> "t2")) {
        val names = fileNames(s"$out/$dir")
        assert(names.size == 1 && names.head.startsWith(s"retired-$tag-"), s"$scope $names")
      }
      assert(Graft.listIngestTags(spark, out).count() == 0)
      assert(Graft.readPartitionedTable(spark, out).select("id").as[Long].collect().sorted
        .toSeq == (0L until 30L) ++ Seq(100L, 101L, 102L), scope.toString)
    }
  }

  test("csv dirs straddling a column addition are refused, not silently truncated") {
    val out = tmpDir("compact_csv_evolve")
    Seq((1L, "a")).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").option("header", "true").csv(out)
    Seq((2L, "a", "new")).toDF("id", "p", "c")
      .write.mode("append").partitionBy("p").option("header", "true").csv(out)
    val e = intercept[Exception] {
      Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30,
        format = "csv", options = Map("header" -> "true"))
    }
    assert(e.getMessage.contains("field count"), e.getMessage)
    // originals untouched: both files still there
    assert(new java.io.File(out, "p=a").listFiles()
      .count(_.getName.endsWith(".csv")) == 2)
    // uniform csv dirs still compact fine (quote-aware count: embedded
    // separators inside quotes must not trip the guard)
    val ok = tmpDir("compact_csv_ok")
    Seq((1L, "x,y", "a")).toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").option("header", "true").csv(ok)
    Seq((2L, "z", "a")).toDF("id", "v", "p")
      .write.mode("append").partitionBy("p").option("header", "true").csv(ok)
    val stats = Graft.compactPartitionedTable(spark, ok, targetFileBytes = 1L << 30,
      format = "csv", options = Map("header" -> "true"))
    assert(stats.partitionsCompacted == 1)
    val rows = spark.read.option("header", "true").csv(ok + "/p=a/*.csv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("1" -> "x,y", "2" -> "z"))
  }

  test("csv drift guard decompresses gzip parts and matches multiline case-insensitively") {
    // drifted GZIP csv dir: the guard must read decompressed first lines,
    // not gzip container bytes, and still refuse
    val gz = tmpDir("compact_csv_gz_evolve")
    Seq((1L, "a")).toDF("id", "p").write.mode("overwrite").partitionBy("p")
      .option("header", "true").option("compression", "gzip").csv(gz)
    Seq((2L, "a", "new")).toDF("id", "p", "c").write.mode("append").partitionBy("p")
      .option("header", "true").option("compression", "gzip").csv(gz)
    val e = intercept[Exception] {
      Graft.compactPartitionedTable(spark, gz, targetFileBytes = 1L << 30,
        format = "csv", options = Map("header" -> "true"))
    }
    assert(e.getMessage.contains("field count"), e.getMessage)
    // uniform GZIP dir compacts (no spurious refusal on binary prefixes)
    val ok = tmpDir("compact_csv_gz_ok")
    Seq((1L, "x", "a")).toDF("id", "v", "p").write.mode("overwrite").partitionBy("p")
      .option("header", "true").option("compression", "gzip").csv(ok)
    Seq((2L, "y", "a")).toDF("id", "v", "p").write.mode("append").partitionBy("p")
      .option("header", "true").option("compression", "gzip").csv(ok)
    val stats = Graft.compactPartitionedTable(spark, ok, targetFileBytes = 1L << 30,
      format = "csv", options = Map("header" -> "true", "compression" -> "gzip"))
    assert(stats.partitionsCompacted == 1)
    // lowercase "multiline" key must skip the first-physical-line guard
    // exactly as Spark's case-insensitive reader options do
    val ml = tmpDir("compact_csv_multiline")
    Seq((1L, "line1\nline2", "a"), (2L, "z", "a")).toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").option("header", "true")
      .option("multiLine", "true").csv(ml)
    Seq((3L, "w", "a")).toDF("id", "v", "p")
      .write.mode("append").partitionBy("p").option("header", "true").csv(ml)
    val s2 = Graft.compactPartitionedTable(spark, ml, targetFileBytes = 1L << 30,
      format = "csv", options = Map("header" -> "true", "multiline" -> "true"))
    assert(s2.partitionsCompacted == 1)
  }

  test("csv drift guard splits headers on the whole multi-character separator") {
    // under sep "||" a lone '|' is data: both headers have two fields, so
    // the dir compacts (a per-character count reads 3 and 4 and refuses)
    val dir = tmpDir("compact_csv_multisep")
    for ((name, body) <- Seq("f1.csv" -> "id||v\n1||x\n", "f2.csv" -> "id||v|w\n2||y\n")) {
      val p = java.nio.file.Paths.get(dir, "p=a", name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, body)
    }
    val opts = Map("header" -> "true", "sep" -> "||")
    val stats = Graft.compactPartitionedTable(spark, dir, targetFileBytes = 1L << 30,
      format = "csv", options = opts)
    assert(stats.partitionsCompacted == 1)
    assert(spark.read.options(opts).csv(dir + "/p=a").collect().map(_.getString(0))
      .toSet == Set("1", "2"))
  }

  test("json dirs straddling a column addition rewrite under the union schema") {
    val out = tmpDir("compact_json_evolve")
    Seq((1L, "a")).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").json(out)
    Seq((2L, "a", "new")).toDF("id", "p", "c")
      .write.mode("append").partitionBy("p").json(out)
    val stats = Graft.compactPartitionedTable(spark, out,
      targetFileBytes = 1L << 30, format = "json")
    assert(stats.partitionsCompacted == 1)
    val back = spark.read.json(out + "/p=a/*.json")
    assert(back.columns.contains("c"), "evolved column must survive json compaction")
    val rows = back.select("id", "c").collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows == Map(1L -> null, 2L -> "new"))
  }

  test("a failing rewrite fails loudly after all dirs settle; its originals survive") {
    val df = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "ok" else "bad"))
      .toDF("id", "p")
    val out = tmpDir("compact_fail")
    Graft.writePartitionedTable(df.repartition(3), out, Seq("p"))
    // corrupt ONE data file of p=bad so its rewrite read fails
    val badDir = new java.io.File(out, "p=bad")
    val victim = badDir.listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.write(victim.toPath, "not parquet".getBytes)
    val before = badDir.listFiles().map(_.getName).filterNot(_.endsWith(".crc")).toSet
    val e = intercept[RuntimeException] {
      Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
    }
    assert(e.getMessage.contains("compaction failed"), e.getMessage)
    val after = badDir.listFiles().map(_.getName)
      .filterNot(n => n.endsWith(".crc") || n.startsWith(".")).toSet
    assert(after == before, "failed dir must keep its original files")
    // the healthy partition was still compacted (documented partial commit)
    assert(new java.io.File(out, "p=ok").listFiles()
      .count(_.getName.startsWith("part-")) == 1)
  }
}

class DiagnosticsSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  test("tableStats: per-dir file counts and bytes without reading data") {
    val df = (0 until 60).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "p")
    val out = tmpDir("tstats")
    Graft.writePartitionedTable(df.repartition(4), out, Seq("p"))
    val stats = Graft.tableStats(spark, out).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats.keySet == Set("a", "b"))
    stats.values.foreach { case (n, sized, bytes) =>
      assert(n == 4 && sized == 4 && bytes > 0)
    }
    // scoped like any read
    val scoped = Graft.tableStats(spark, out, query = graft.core.Q.eq("p", "a"))
    assert(scoped.count() == 1)
    // numbers agree with what compaction then does
    val cs = Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
    assert(cs.filesBefore == stats.values.map(_._1).sum)
    assert(Graft.tableStats(spark, out).collect().map(_.getLong(2)).sum == 2)
  }

  test("Skew.topKeys surfaces hot keys with one narrow aggregation") {
    val df = ((0 until 900).map(_ => 7L) ++ (0 until 300).map(i => i.toLong))
      .toDF("k")
    val top = graft.operators.Skew.topKeys(df, "k", k = 1, capacity = 512)
      .collect().head
    assert(top.getString(0) == "7" && top.getLong(1) == 901L) // 900 + k=7 once
    val q = graft.operators.Skew.topKeys(df, "k", 1, 512)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // one sketch aggregation; the Generate explodes the single result row,
    // never corpus data — no join, no exact groupBy of the key column
    assert(plan.contains("ObjectHashAggregate"), s"sketch agg expected:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate(keys=[k"),
      s"topKeys must not exact-group the key column:\n$plan")
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "spark shuffles partition data across the cluster network"),
    (3L, "completely different content about astronomy and telescopes"))
    .toDF("id", "text")

  test("new batch matches the persisted index; corpus text never re-read") {
    val dir = tmpDir("mh_index")
    Dedup.minhashIndex(corpus, "id", "text").write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"), // copy of 1
      (101L, "the quick brown fox jumps over the lazy cat tonight"), // near 1
      (102L, "nothing in common with anything whatsoever here now")) // fresh
      .toDF("id", "text")
    val pairs = Dedup.minhashPairsAgainst(batch, "id", "text", index,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 100L && b == 1L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 101L && b == 1L && j > 0.5 && j < 1.0 })
    assert(!pairs.exists(_._1 == 102L), s"fresh doc must not match: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 2L || p._2 == 3L), s"unrelated corpus docs: ${pairs.toSeq}")
  }

  test("parameter mismatches fail loudly, not with silent low recall") {
    val index = Dedup.minhashIndex(corpus, "id", "text", numHashes = 32)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainst(corpus, "id", "text", index, numHashes = 64)
    }
    assert(e.getMessage.contains("32"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainst(corpus, "id", "text", corpus /* not an index */)
    }
    assert(e2.getMessage.contains("minhashIndex"), e2.getMessage)
  }

  test("incremental agrees with the self-join on the same corpus") {
    // matching the corpus against its own index must find exactly the
    // self-join's pairs (plus the trivial identity matches)
    val index = Dedup.minhashIndex(corpus, "id", "text")
    val incr = Dedup.minhashPairsAgainst(corpus, "id", "text", index, threshold = 0.5)
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b", "jaccard")
    val self = Dedup.minhashPairs(corpus, "id", "text", threshold = 0.5)
    assert(canon(incr) == canon(self))
    // identity matches come back at jaccard 1.0 (re-ingest detection)
    val ids = Dedup.minhashPairsAgainst(corpus, "id", "text", index, threshold = 0.5)
      .filter(col("id_a") === col("id_b"))
    assert(ids.count() == 3 && ids.select("jaccard").collect().forall(_.getDouble(0) == 1.0))
  }
}

class IncrementalDropSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup

  test("dropNearDuplicatesAgainst keeps only genuinely new docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partition data across the cluster network"))
      .toDF("id", "text")
    val index = Dedup.minhashIndex(corpus, "id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "fresh content about gardens and architecture today now"))
      .toDF("id", "text")
    val kept = Dedup.dropNearDuplicatesAgainst(batch, "id", "text", index,
      threshold = 0.5)
    assert(kept.select("id").as[Long].collect().toSeq == Seq(11L))
    assert(kept.columns.toSeq == Seq("id", "text"), "full rows survive")
  }
}

class MinhashIndexSidecarSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup
  import graft.operators.Dedup.MinhashParams

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "spark shuffles partition data across the cluster network"))
    .toDF("id", "text")

  test("buildAndWrite threads the build's parameters — a wrong sidecar is impossible") {
    val dir = tmpDir("mh_sidecar_build")
    // non-default everything: the sidecar must carry THESE, not defaults
    val written = Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", dir,
      shingleSize = 5, numHashes = 32, seed = 7L)
    assert(written.params == MinhashParams(5, 32, 7L))
    val restored = Dedup.minhashIndexRead(spark, dir)
    assert(restored.params == MinhashParams(5, 32, 7L))
    // matching through the handle uses the stored parameters: a verbatim
    // copy comes back at jaccard exactly 1.0 (wrong shingleSize/seed on
    // either side would hash different shingle universes and miss it)
    val batch = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("id", "text")
    val pairs = restored.pairsAgainst(batch, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((100L, 1L, 1.0)), pairs.toSeq.toString)
  }

  test("expect= mismatch fails loudly, per parameter") {
    val dir = tmpDir("mh_sidecar_expect")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", dir,
      shingleSize = 5, numHashes = 32, seed = 7L)
    def err(p: MinhashParams): String = intercept[IllegalArgumentException] {
      Dedup.minhashIndexRead(spark, dir, expect = Some(p))
    }.getMessage
    val e1 = err(MinhashParams(3, 32, 7L))
    assert(e1.contains("shingleSize") && e1.contains("5") && e1.contains("3"), e1)
    val e2 = err(MinhashParams(5, 64, 7L))
    assert(e2.contains("numHashes") && e2.contains("32") && e2.contains("64"), e2)
    val e3 = err(MinhashParams(5, 32, 42L))
    assert(e3.contains("seed") && e3.contains("7") && e3.contains("42"), e3)
    // matching expectation passes
    assert(Dedup.minhashIndexRead(spark, dir,
      expect = Some(MinhashParams(5, 32, 7L))).params == MinhashParams(5, 32, 7L))
  }

  test("missing sidecar fails loudly — a bare parquet dir is not an index") {
    val dir = tmpDir("mh_sidecar_missing")
    Dedup.minhashIndex(corpus, "id", "text").write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexRead(spark, dir)
    }
    assert(e.getMessage.contains("_graft_minhash_params.json") &&
      e.getMessage.contains("minhashIndexBuildAndWrite"), e.getMessage)
  }

  test("raw write path cross-checks numHashes against a stored signature") {
    val dir = tmpDir("mh_sidecar_probe")
    val idx = Dedup.minhashIndex(corpus, "id", "text", numHashes = 32)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexWrite(idx, dir, numHashes = 64): @annotation.nowarn
    }
    assert(e.getMessage.contains("32") && e.getMessage.contains("64"), e.getMessage)
  }

  test("append with different parameters is refused before any write") {
    val dir = tmpDir("mh_sidecar_append")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", dir,
      shingleSize = 5, numHashes = 32, seed = 7L)
    val more = Seq((3L, "completely different content about astronomy and telescopes"))
      .toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexBuildAndWrite(more, "id", "text", dir,
        shingleSize = 3, numHashes = 32, seed = 7L, mode = "append")
    }
    assert(e.getMessage.contains("shingleSize"), e.getMessage)
    // the refused append left the index untouched (2 rows) and readable
    assert(Dedup.minhashIndexRead(spark, dir).data.count() == 2)
    // a matching append goes through and grows the index
    Dedup.minhashIndexBuildAndWrite(more, "id", "text", dir,
      shingleSize = 5, numHashes = 32, seed = 7L, mode = "append")
    val grown = Dedup.minhashIndexRead(spark, dir)
    assert(grown.data.count() == 3 && grown.params == MinhashParams(5, 32, 7L))
  }
}

class IngestGateSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Dedup
  import graft.streaming.Streams

  private def writeBatches(incoming: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(incoming).getFileSystem(conf)
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    batches.zipWithIndex.foldLeft(Set.empty[org.apache.hadoop.fs.Path]) {
      case (seen, (b, i)) =>
        b.coalesce(1).write.mode("append").parquet(incoming)
        val mine = dataFiles -- seen
        mine.foreach(p => fs.setTimes(p, 1000000000000L + i * 600000L, -1))
        seen ++ mine
    }
    ()
  }

  private def runGate(incoming: String, idx: String, surv: String,
      cp: String): Unit = {
    val schema = spark.read.parquet(incoming).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = Streams.minhashIngestGate(stream, "id", "text", idx, surv, cp,
      threshold = 0.5)
    try q.processAllAvailable() finally q.stop()
  }

  test("gate drops index dups, keeps novel docs, and grows the index across batches") {
    val base = tmpDir("ingest_gate")
    val (incoming, idx, surv, cp) =
      (s"$base/in", s"$base/idx", s"$base/surv", s"$base/cp")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "spark shuffles partition data across the cluster network"))
      .toDF("id", "text")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", idx)
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "completely fresh junk about gardens and architecture today"))
      .toDF("id", "text")
    val b2 = Seq(
      // dup of 11 — caught ONLY because batch 1's survivor was appended
      (20L, "completely fresh junk about gardens and architecture today"),
      (21L, "yet another novel doc on astronomy telescopes and stars"))
      .toDF("id", "text")
    writeBatches(incoming, Seq(b1, b2))
    runGate(incoming, idx, surv, cp)
    val kept = spark.read.parquet(surv).select("id").as[Long].collect().toSet
    assert(kept == Set(11L, 21L), s"survivors: $kept")
    // survivors land per-batch: 11 in batch 0's dir, 21 in batch 1's
    val byBatch = spark.read.parquet(surv).select("batch", "id")
      .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    assert(byBatch == Map(0 -> 11L, 1 -> 21L), byBatch.toString)
    // the index grew by exactly the survivors, same parameters
    val grown = Dedup.minhashIndexRead(spark, idx)
    assert(grown.data.select("id").as[Long].collect().toSet == Set(1L, 2L, 11L, 21L))
    assert(grown.params == Dedup.MinhashParams(3, 64, 42L))
  }

  test("a replayed batch (markers present, checkpoint lost) is not re-appended") {
    val base = tmpDir("ingest_gate_replay")
    val (incoming, idx, surv, cp) =
      (s"$base/in", s"$base/idx", s"$base/surv", s"$base/cp")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", idx)
    val b1 = Seq((10L, "totally new content about rivers and mountains here"))
      .toDF("id", "text")
    writeBatches(incoming, Seq(b1))
    runGate(incoming, idx, surv, cp)
    val after1 = Dedup.minhashIndexRead(spark, idx).data.count()
    assert(after1 == 2)
    // lose the checkpoint: the source replays batch 0 from scratch; the
    // commit marker (keyed by the same checkpoint path) must skip it
    val conf = spark.sessionState.newHadoopConf()
    val cpP = new org.apache.hadoop.fs.Path(cp)
    cpP.getFileSystem(conf).delete(cpP, true)
    runGate(incoming, idx, surv, cp)
    assert(Dedup.minhashIndexRead(spark, idx).data.count() == after1,
      "replayed batch must not re-append index rows")
    assert(spark.read.parquet(surv).count() == 1)
  }

  private def fsFor(path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
  }

  private def runBatch(batch: org.apache.spark.sql.DataFrame, idx: String,
      surv: String, cp: String, batchId: Long = 0L): Boolean =
    Streams.ingestGateBatch(batch, batchId, "id", "text", idx, surv, cp,
      rowsPerBand = 4, threshold = 0.5,
      maxBucketSize = Dedup.DefaultMaxBucketSize)

  test("crash between index append and commit marker: replay loses no survivors and duplicates no index rows") {
    val base = tmpDir("ingest_gate_crash")
    val (idx, surv, cp) = (s"$base/idx", s"$base/surv", s"$base/cp")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", idx)
    val b0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (11L, "novel content about rivers mountains and weather patterns"))
      .toDF("id", "text")
    assert(runBatch(b0, idx, surv, cp))
    val keptFirst = spark.read.parquet(s"$surv/batch=0").select("id")
      .as[Long].collect().toSet
    assert(keptFirst == Set(11L), s"first attempt survivors: $keptFirst")
    val idxFirst = Dedup.minhashIndexRead(spark, idx).data
      .select("id").as[Long].collect().toSeq.sorted
    assert(idxFirst == Seq(1L, 11L))
    // crash AFTER the index append but BEFORE the marker: delete the marker
    val tag = Streams.checkpointTag(cp) + "_" + "%020d".format(0L)
    val marker = new org.apache.hadoop.fs.Path(idx, s"_graft_ingest_commit_$tag")
    assert(fsFor(idx).delete(marker, false), "marker must exist to delete")
    // replay: without the abort-before-read ordering, survivor 11 would
    // self-match its own appended index row at jaccard 1.0 and the
    // survivors dir would be overwritten EMPTY — silent data loss
    assert(runBatch(b0, idx, surv, cp))
    val keptReplay = spark.read.parquet(s"$surv/batch=0").select("id")
      .as[Long].collect().toSet
    assert(keptReplay == Set(11L), s"replay survivors: $keptReplay")
    val after = Dedup.minhashIndexRead(spark, idx).data
    assert(after.select("id").as[Long].collect().toSeq.sorted == Seq(1L, 11L),
      "replay must not duplicate index rows")
    // and a further replay with the marker intact is skipped outright
    assert(!runBatch(b0, idx, surv, cp))
  }

  test("crash mid-append (partial tagged files) replays to the complete state") {
    val base = tmpDir("ingest_gate_partial")
    val (idx, surv, cp) = (s"$base/idx", s"$base/surv", s"$base/cp")
    val corpus = Seq((1L, "one two three four five six seven eight nine"))
      .toDF("id", "text")
    Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", idx)
    // two novel docs, written as >=2 partitions so the append commits
    // more than one tagged part file
    val b0 = Seq(
      (20L, "novel astronomy telescopes stars galaxies and nebulae catalog"),
      (21L, "gardening soil compost seedlings irrigation and harvest notes"))
      .toDF("id", "text").repartition(2)
    assert(runBatch(b0, idx, surv, cp))
    val fs = fsFor(idx)
    val tag = Streams.checkpointTag(cp) + "_" + "%020d".format(0L)
    val tagged = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(st => st.isFile && st.getPath.getName.startsWith(s"ingest-$tag-"))
      .map(_.getPath)
    assert(tagged.length >= 2, s"want >=2 tagged part files, got ${tagged.length}")
    // crash mid-append: one tagged file committed, marker never written
    fs.delete(new org.apache.hadoop.fs.Path(idx, s"_graft_ingest_commit_$tag"), false)
    tagged.tail.foreach(p => fs.delete(p, false))
    assert(runBatch(b0, idx, surv, cp))
    val after = Dedup.minhashIndexRead(spark, idx).data
      .select("id").as[Long].collect().toSeq.sorted
    assert(after == Seq(1L, 20L, 21L),
      s"replay must restore the full append exactly once, got $after")
    assert(spark.read.parquet(s"$surv/batch=0").select("id").as[Long]
      .collect().toSet == Set(20L, 21L))
  }

  test("tagged append primitive: retry converges, abort removes, tags are injective-keyed") {
    val base = tmpDir("tagged_append")
    val idx = s"$base/idx"
    val corpus = Seq((1L, "base document alpha beta gamma")).toDF("id", "text")
    val handle = Dedup.minhashIndexBuildAndWrite(corpus, "id", "text", idx)
    val more = Seq((2L, "second document delta epsilon zeta")).toDF("id", "text")
    Dedup.minhashIndexTaggedAppend(handle, more, "id", "text", idx, "t1")
    Dedup.minhashIndexTaggedAppend(handle, more, "id", "text", idx, "t1") // retry
    assert(Dedup.minhashIndexRead(spark, idx).data.count() == 2,
      "same-tag retry must not duplicate rows")
    Dedup.minhashIndexTaggedAppend(handle, more, "id", "text", idx, "t2")
    assert(Dedup.minhashIndexRead(spark, idx).data.count() == 3,
      "a different tag is a different logical append")
    assert(Dedup.minhashIndexAbortTaggedAppend(spark, idx, "t2") == 1)
    assert(Dedup.minhashIndexRead(spark, idx).data.count() == 2)
    // unsafe tags are rejected before touching the filesystem
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexTaggedAppend(handle, more, "id", "text", idx, "a/b")
    }
    // checkpoint tags: deterministic, 16 hex chars, distinct inputs differ
    val (ta, tb) = (Streams.checkpointTag("/cp/a"), Streams.checkpointTag("/cp/b"))
    assert(ta == Streams.checkpointTag("/cp/a") && ta.length == 16 &&
      ta.forall(c => "0123456789abcdef".contains(c)) && ta != tb)
  }
}

class AsofEnrichSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.AsofJoin

  private val left = Seq(
    (1L, 10L, 100L), (2L, 10L, 5L), (3L, 20L, 50L), (4L, 99L, 10L))
    .toDF("eid", "k", "t")
  private val dim = Seq(
    (10L, 3L, "a"), (10L, 100L, "b"), (20L, 50L, "c"))
    .toDF("k", "t", "pay")

  test("broadcast enrichment agrees with the shuffle as-of join") {
    val viaJoin = AsofJoin.asofJoin(left, dim, "t", "t", "k", "k", Seq("pay"))
    val viaBc = AsofJoin.asofEnrichBroadcast(left, dim, "t", "t", "k", "k", Seq("pay"))
    assert(canon(viaBc) == canon(viaJoin))
    // semantics spot-check: inclusive equal, before-first -> null, no key -> null
    val m = viaBc.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(m == Map(1L -> "b", 2L -> "a", 3L -> "c", 4L -> null))
    // zero shuffles: the plan has no Exchange at all
    val plan = viaBc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"enrichment must be shuffle-free:\n$plan")
  }

  test("oversized dims and payload collisions fail loudly before any work") {
    // dim over the cap: clear error, not a driver OOM mid-collect
    val bigDim = spark.range(10).select(col("id").as("k"), col("id").as("t"),
      lit("x").as("pay"))
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofEnrichBroadcast(left, bigDim, "t", "t", "k", "k",
        Seq("pay"), maxDimRows = 5)
    }
    assert(e.getMessage.contains("maxDimRows=5"), e.getMessage)
    // a payload column name already on the left side cannot ride along
    val e2 = intercept[IllegalArgumentException] {
      AsofJoin.asofEnrichBroadcast(left, dim.withColumnRenamed("pay", "eid"),
        "t", "t", "k", "k", Seq("eid"))
    }
    assert(e2.getMessage.contains("eid"), e2.getMessage)
  }

  test("mixed time types normalize: timestamp events vs date dim") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-03-15 12:00:00"), 7L))
      .toDF("eid", "ts", "k")
    val d = Seq(
      (7L, java.sql.Date.valueOf("2024-03-15"), "same-day"),
      (7L, java.sql.Date.valueOf("2024-03-16"), "future"))
      .toDF("k", "d", "pay")
    val out = AsofJoin.asofEnrichBroadcast(ev, d, "ts", "d", "k", "k", Seq("pay"))
    assert(out.select("pay").head.getString(0) == "same-day")
  }

  test("works over a stream (append mode, no state)") {
    val src = tmpDir("enrich_src")
    Seq((1L, 10L, 100L), (2L, 10L, 5L)).toDF("eid", "k", "t")
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val out = graft.streaming.Streams.runToMemory(
      AsofJoin.asofEnrichBroadcast(stream, dim, "t", "t", "k", "k", Seq("pay")),
      "enrich_stream_t", outputMode = "append")
    val m = out.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m == Map(1L -> "b", 2L -> "a"))
  }
}

class WavPcmSpec extends SparkSpec {
  import graft.operators.Multimodal

  test("PCM16 stats match hand computation and javax.sound's decode") {
    // two samples: +100, -200 -> mean -50, rms sqrt((10000+40000)/2)
    val b = Multimodal.syntheticWavBytes(8000, 1, 16, 2) ++
      Array[Byte](100, 0, (-200 & 0xFF).toByte, ((-200 >> 8) & 0xFF).toByte)
    val Some((n, mean, rms)) = Multimodal.wavPcm16Stats(b)
    assert(n == 2 && mean == -50.0 && rms == math.sqrt(25000.0))
    // cross-validate the synthetic generator against the JDK's own decoder
    val wav = Multimodal.syntheticWavPcm16(8000, 7L, 57)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val raw = in.readAllBytes()
    assert(in.getFormat.getChannels == 1 && in.getFormat.getSampleSizeInBits == 16)
    assert(raw.length == 57 * 2)
    val expect0 = (((7L * 131) % 65536) - 32768).toShort
    val got0 = ((((raw(1) & 0xFF) << 8) | (raw(0) & 0xFF)).toShort)
    assert(got0 == expect0, s"JDK-decoded first sample $got0 != $expect0")
  }

  test("undecodable payloads are None: stereo, 24-bit, truncated, header-only") {
    assert(Multimodal.wavPcm16Stats(
      Multimodal.syntheticWavBytes(8000, 2, 16, 4)).isEmpty) // stereo
    assert(Multimodal.wavPcm16Stats(
      Multimodal.syntheticWavBytes(8000, 1, 24, 4)).isEmpty) // 24-bit
    // header declares data it does not carry (the m2 fixture's shape)
    assert(Multimodal.wavPcm16Stats(
      Multimodal.syntheticWavBytes(8000, 1, 16, 4)).isEmpty)
    assert(Multimodal.wavPcm16Stats("not audio".getBytes).isEmpty)
    assert(Multimodal.wavPcm16Stats(null).isEmpty)
  }
}

class SecondReviewFixSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{AsofJoin, Dedup}

  test("bootstrap ingest: an empty index yields zero pairs and keeps every doc") {
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val emptyIndex = Dedup.minhashIndex(docs.limit(0), "id", "text")
    assert(Dedup.minhashPairsAgainst(docs, "id", "text", emptyIndex).count() == 0)
    val kept = Dedup.dropNearDuplicatesAgainst(docs, "id", "text", emptyIndex)
    assert(kept.count() == 1, "first-ever ingest keeps everything")
  }

  test("date normalization follows session-timezone cast semantics") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // event instant 2024-03-14T20:00Z. Dim date 2024-03-15 at JST
      // midnight = 03-14T15:00Z (<= event, matches); at UTC midnight it
      // would be 03-15T00:00Z (> event, silently the older row)
      val evDf = Seq((1L, 7L,
          java.sql.Timestamp.from(java.time.Instant.parse("2024-03-14T20:00:00Z"))))
        .toDF("eid", "k", "ts")
      val dim = Seq((7L, java.sql.Date.valueOf("2024-03-15"), "newer"),
        (7L, java.sql.Date.valueOf("2024-03-10"), "older")).toDF("k", "d", "pay")
      val out = AsofJoin.asofEnrichBroadcast(evDf, dim, "ts", "d", "k", "k", Seq("pay"))
      assert(out.select("pay").head.getString(0) == "newer",
        "JST midnight boundary must apply, not UTC")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("reserved-column collision and empty-manifest dryRun behave predictably") {
    val bad = Seq((1L, 2L, 3L)).toDF("__k", "k", "t")
    intercept[IllegalArgumentException] {
      AsofJoin.asofEnrichBroadcast(bad, bad, "t", "t", "k", "k", Seq("__k"))
    }
  }
}

class RandomizedRobustnessSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  test("compaction preserves rows exactly over randomized two-level trees") {
    val rnd = new scala.util.Random(2024)
    for (trial <- 0 until 3) {
      val nRows = 200 + rnd.nextInt(300)
      val df = (0 until nRows).map { i =>
        (i.toLong, s"v${rnd.nextInt(1000)}",
          s"a${rnd.nextInt(3)}", s"b${rnd.nextInt(2)}")
      }.toDF("id", "v", "p", "q")
      val out = tmpDir(s"rand_compact_$trial")
      Graft.writePartitionedTable(df.repartition(1 + rnd.nextInt(7)), out, Seq("p", "q"))
      val before = Graft.tableStats(spark, out).collect()
        .map(r => (r.getLong(r.length - 3), r.getLong(r.length - 1))) // (n_files, bytes)
      val stats = Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
      // accounting invariants hold regardless of shape
      assert(stats.filesBefore == before.map(_._1).sum, s"trial $trial")
      assert(stats.filesAfter <= stats.filesBefore)
      assert(stats.partitionsCompacted <= stats.partitionsExamined)
      val back = Graft.readPartitionedTable(spark, out).select("id", "v", "p", "q")
      assert(canon(back) == canon(df), s"trial $trial rows must survive")
      // a second pass is always a no-op
      assert(Graft.compactPartitionedTable(spark, out,
        targetFileBytes = 1L << 30).partitionsCompacted == 0)
    }
  }

  test("Misra-Gries retention guarantee holds on randomized skewed streams") {
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 3) {
      val n = 3000 + rnd.nextInt(2000)
      val cap = 20 + rnd.nextInt(30)
      val hotShare = 3 * n / (cap + 1) // comfortably above the N/(cap+1) bound
      val data = ((0 until hotShare).map(_ => "HOT") ++
        (0 until n - hotShare).map(_ => s"t${rnd.nextInt(5000)}"))
      val df = rnd.shuffle(data).toDF("item").repartition(1 + rnd.nextInt(9))
      val pairs = df.agg(graft.functions.HeavyHitters
          .heavyHitters(col("item"), cap, cap).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item"), col("h.count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(pairs.contains("HOT"),
        s"trial $trial: item with freq 3N/(cap+1) must be retained (cap=$cap n=$n)")
      // estimates never exceed true counts
      assert(pairs("HOT") <= hotShare)
    }
  }
}
