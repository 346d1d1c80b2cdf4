package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "a completely different document about spark query engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog and runs far away house"), // near-dup of 1
    (4L, "entirely unrelated text mentioning minhash lsh banding techniques"),
    (5L, "a completely different document about spark query engines and shuffles")) // exact dup of 2

  test("exact dedup keeps min id per content") {
    val df = base.toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").orderBy("id")
    assert(out.count() == 4) // 2 and 5 collapse
    assert(out.filter(col("n_copies") === 2).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("connected components: transitive chains collapse, pointer jumping converges") {
    // a diameter-40 chain: naive min-propagation needs 40 rounds, over the
    // 25-round cap — convergence here proves the path-compression step works
    val pairs = ((0L until 40L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 40L).forall(cc(_) == 0L), "chain must collapse to min id 0")
    assert(cc(100L) == 100L && cc(101L) == 100L)
    assert(cc.size == 43) // only nodes that appear in a pair
  }

  test("fused shingle-hash set: window semantics, distinctness, both eval paths") {
    val rows = Seq(
      (1L, "a b c d e"),          // 3 trigram windows
      (2L, "a b c d e"),          // identical -> identical set
      (3L, "a b"),                // shorter than n -> one whole-doc hash
      (4L, ""),                   // empty -> one hash (of the empty window)
      (5L, "x x x x x x"))        // repeated windows -> ONE distinct hash
      .toDF("id", "text")
    val out = Dedup.shingleSets(rows.toDF("id", "text"), "id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L).length == 3 && out(1L) == out(2L))
    assert(out(3L).length == 1 && out(4L).length == 1 && out(3L) != out(4L))
    assert(out(5L).length == 1)
    assert(out.values.forall(_.forall(h => h >= 0 && h < (1L << 31) - 1)))
    assert(out.values.forall(s => s == s.sorted && s.distinct == s))
    // interpreted eval agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val words = new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b"),
        UTF8String.fromString("c"), UTF8String.fromString("d"),
        UTF8String.fromString("e")))
    val viaEval = graft.functions.ShingleHashSetExpr(
        Literal.create(words, ArrayType(StringType)), 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(viaEval == out(1L))
  }

  test("fused simhash: interpreted eval agrees with codegen; empty doc defined") {
    val df = Seq((1L, "a b c d"), (2L, "")).toDF("id", "text")
    val viaDf = df.select(col("id"), Dedup.simhash64(col("text"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val words = new GenericArrayData(
      Array[Any]("a", "b", "c", "d").map(s => UTF8String.fromString(s.toString)))
    assert(graft.functions.ShingleHashSetImpl.simhash(words, 2) == viaDf(1L))
    // empty doc: one whole-doc window hash -> its own bits, deterministic
    assert(viaDf(2L) == graft.functions.ShingleHashSetImpl.simhash(
      new GenericArrayData(Array.empty[Any]), 2))
  }

  test("minhashSignature column form is comparable with the pipeline's signatures") {
    val df = base.toDF("id", "text")
    val viaPipeline = Dedup.shingleSets(df, "id", "text", 3)
      .select(col("id"),
        Dedup.minhashSignatureFromHashes(col("shingle_set"), 16).as("sig"))
    val viaColumn = df.select(col("id"),
      Dedup.minhashSignature(col("text"), 3, 16).as("sig"))
    assert(canon(viaColumn) == canon(viaPipeline),
      "both public signature forms must produce identical signatures")
  }

  test("minhash LSH finds planted near-dup and exact-dup pairs") {
    val df = base.toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text",
      shingleSize = 3, numHashes = 64, rowsPerBand = 4, threshold = 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 3L)), s"expected near-dup (1,3) in $got")
    assert(got.contains((2L, 5L)), s"expected exact-dup (2,5) in $got")
    assert(!got.exists(p => p == (1L, 2L) || p == (1L, 4L) || p == (2L, 4L)),
      s"unrelated docs must not pair: $got")
    // jaccard of the exact pair is 1.0
    val j = pairs.filter(col("id_a") === 2 && col("id_b") === 5)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("minhash pairs are invariant to input partitioning") {
    // seeded hash families + deterministic plans: the SAME pairs must come
    // out regardless of how the input happens to be partitioned — the
    // property that makes results reproducible across cluster sizes
    val df = base.toDF("id", "text")
    val p1 = Dedup.minhashPairs(df, "id", "text",
      shingleSize = 3, numHashes = 64, rowsPerBand = 4, threshold = 0.5)
    val p2 = Dedup.minhashPairs(df.repartition(5), "id", "text",
      shingleSize = 3, numHashes = 64, rowsPerBand = 4, threshold = 0.5)
    assert(canon(p1) == canon(p2))
  }

  test("dropNearDuplicates removes the larger id of each pair") {
    val df = base.toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(df, "id", pairs)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("hot-bucket cap bounds the candidate join and is not silent") {
    // 100 identical boilerplate docs (the classic mega-bucket: every band
    // key collides) + one distinct near-dup pair. With a cap below 100 the
    // boilerplate bucket is dropped — zero pairs among its members — while
    // the well-behaved pair is still found.
    val boiler = (100L until 200L).map(i =>
      (i, "standard legal boilerplate footer text repeated across every page of the crawl"))
    val df = (base ++ boiler).toDF("id", "text")
    val capped = Dedup.minhashPairs(df, "id", "text", threshold = 0.5,
      maxBucketSize = 16)
    val got = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 3L)) && got.contains((2L, 5L)), s"normal pairs survive: $got")
    assert(!got.exists(p => p._1 >= 100L || p._2 >= 100L),
      s"boilerplate bucket must be dropped entirely, got $got")
    // without the cap the same corpus yields all 100*99/2 boilerplate pairs
    val uncapped = Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
      .filter(col("id_a") >= 100L).count()
    assert(uncapped == 100L * 99 / 2)
    // cap applies to the simhash and embedding paths too
    val sim = Dedup.simhashPairs(df, "id", "text", maxHamming = 12, maxBucketSize = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sim.contains((2L, 5L)) && !sim.exists(_._1 >= 100L), s"simhash capped: $sim")
  }

  test("minhash result is lazy and releases its cache after the first action") {
    def awaitNoCache(msg: String): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (spark.sparkContext.getPersistentRDDs.nonEmpty
          && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, msg)
    }
    awaitNoCache("prior tests' caches must have drained") // async releases
    val df = base.toDF("id", "text")
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.5)
    // construction runs no job (the round-2 localCheckpoint made it eager)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == jobsBefore,
      "minhashPairs must not execute eagerly")
    assert(pairs.count() >= 2)
    // the one-shot listener fires asynchronously after the action completes
    awaitNoCache("shingle cache must be released after the first action")
  }

  test("nondeterministic input plan auto-persists shingles (and still releases)") {
    // decision logic: a rand()-derived column marks the plan nondeterministic
    assert(Dedup.planIsDeterministic(base.toDF("id", "text")))
    assert(!Dedup.planIsDeterministic(
      base.toDF("id", "text").withColumn("noise", rand())))
    // end-to-end on a nondeterministic plan: correct pairs out, cache drains
    // after the first action (the auto-persist is released by the
    // one-shot listener, CacheRelease.afterFirstAction)
    val noisy = base.toDF("id", "text").withColumn("noise", rand())
    val pairs = Dedup.minhashPairs(noisy, "id", "text", threshold = 0.5)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 3L)) && got.contains((2L, 5L)), s"pairs: $got")
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty
        && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "auto-persisted shingle cache must be released after the first action")
  }

  test("simhash: identical texts get identical hash; near-dups low hamming") {
    val df = base.toDF("id", "text")
    val sims = df.select(col("id"), Dedup.simhash64(col("text")).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sims(2L) == sims(5L))
    val ham13 = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    val ham14 = java.lang.Long.bitCount(sims(1L) ^ sims(4L))
    assert(ham13 < ham14, s"near-dup hamming $ham13 should be < unrelated $ham14")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 5L)))
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = vecs.toDF("id", "vec")
    val pairs = Dedup.embeddingPairs(df, "id", "vec", dim = 4,
      numPlanes = 8, threshold = 0.99)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("dropNearDuplicatesKeepBest: max score survives per transitive cluster") {
    // cluster {1,2,3} via chain pairs (1,2),(2,3): doc 3 has the top
    // score and must win even though keep-min-id would pick 1; cluster
    // {5,6} ties on score -> smaller id 5; doc 9 unpaired -> untouched
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (5L, 7L), (6L, 7L),
      (9L, 1L)).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicatesKeepBest(docs, "id", pairs, "score")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 5L, 9L), kept.toString)
    // the greedy keep-min variant picks 1 (every id_b drops) — the
    // two policies genuinely differ on this cluster
    assert(Dedup.dropNearDuplicates(docs, "id", pairs)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L, 9L))
  }
}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  test("annJoin agrees with per-query lshTopK and finds planted copies") {
    val dim = 16
    val corpus = (100 until 400).map(i => (i.toLong, randVec(i, dim))) ++
      // planted exact copies of query vectors 0 and 3 — identical sketch,
      // cosine exactly 1.0, must surface at rank 1
      Seq((9000L, randVec(0, dim)), (9003L, randVec(3, dim)))
    val cdf = corpus.toDF("vec_id", "embedding")
    val queries = (0 until 5).map(i => (i.toLong, randVec(i, dim)))
    val qdf = queries.toDF("query_id", "embedding")
    val joined = Ann.annJoin(qdf, cdf, "query_id", "vec_id", "embedding",
        dim = dim, k = 7, numPlanes = 8, maxHamming = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    // per-query agreement with the single-query LSH path (same planes,
    // same probe budget, same kernel and tiebreak)
    queries.foreach { case (qid, qv) =>
      val single = Ann.lshTopK(cdf, "vec_id", "embedding", dim, qv, k = 7,
          numPlanes = 8, maxHammingProbe = 1)
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val fromJoin = joined.getOrElse(qid, Array.empty)
        .sortBy(_._3).map(t => (t._2, t._3)).toSeq
      assert(fromJoin == single, s"query $qid: join $fromJoin vs lsh $single")
    }
    assert(joined(0L).minBy(_._3)._2 == 9000L)
    assert(joined(3L).minBy(_._3)._2 == 9003L)
    // probe-mask domain guard
    intercept[IllegalArgumentException](
      Ann.annJoin(qdf, cdf, "query_id", "vec_id", "embedding", dim, 5,
        maxHamming = 3))
  }

  test("ivfJoin agrees with per-query ivfTopK (probe sets, scores, ranks)") {
    val dim = 16
    val corpus = (100 until 400).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val idx = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 8)
    val queries = (0 until 6).map(i => (i.toLong, randVec(1000 + i, dim)))
    val joined = Ann.ivfJoin(queries.toDF("query_id", "embedding"), idx,
        "query_id", "vec_id", "embedding", k = 7, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, qv) =>
      val single = Ann.ivfTopK(idx, "vec_id", "embedding", qv, k = 7,
          nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val fromJoin = joined.getOrElse(qid, Array.empty)
        .sortBy(_._3).map(t => (t._2, t._3)).toSeq
      assert(fromJoin == single, s"query $qid: join $fromJoin vs ivf $single")
    }
    intercept[IllegalArgumentException](
      Ann.ivfJoin(queries.toDF("query_id", "embedding"), idx,
        "query_id", "vec_id", "embedding", k = 7, nprobe = 99))
  }

  test("query-table joins plan as equi-joins: no cartesian/nested-loop fallback") {
    val dim = 16
    val corpus = (100 until 250).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (0 until 4).map(i => (i.toLong, randVec(900 + i, dim)))
      .toDF("query_id", "embedding")
    val idx = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 4)
    val model = graft.operators.Pq.pqTrain(corpus, "vec_id", "embedding",
      m = 4, k = 8)
    val serving = graft.operators.Pq.ivfPqEncode(idx, "vec_id", "embedding", model)
    val plans = Seq(
      "annJoin" -> Ann.annJoin(queries, corpus, "query_id", "vec_id",
        "embedding", dim, k = 5),
      "ivfJoin" -> Ann.ivfJoin(queries, idx, "query_id", "vec_id",
        "embedding", k = 5, nprobe = 2),
      "ivfPqJoin" -> graft.operators.Pq.ivfPqJoin(queries, serving,
        idx.centroids, model, "query_id", "vec_id", "embedding",
        k = 5, nprobe = 2))
    plans.foreach { case (name, df) =>
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // a key-type mismatch would silently fall back to a nested-loop
      // or cartesian join — correct results, catastrophic at corpus scale
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name degraded to a non-equi join:\n$p")
    }
  }

  test("brute-force top-k: self is rank 1 with cosine 1") {
    val dim = 16
    val rows = (0 until 50).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Ann.bruteForceTopK(df, "vec_id", "embedding", rows(7)._2, k = 5)
      .collect()
    assert(out.head.getLong(0) == 7L)
    assert(math.abs(out.head.getDouble(1) - 1.0) < 1e-9)
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("fused hyperplane sketch is bit-identical to the HOF formulation") {
    val dim = 24
    val rows = (0 until 200).map(i => (i.toLong, randVec(i, dim))) ++ Seq(
      (1000L, Array.empty[Float]),          // length mismatch -> all bits 0
      (1001L, randVec(7, dim - 3)),         // short vector -> all bits 0
      (1002L, Array.fill(dim)(0.0f)),       // zero vector: every dot 0 -> all signs +
      // NaN dot: Spark's `>= 0` is nan-safe (NaN largest -> bit SET) — the
      // kernel must not use Java's `>= 0`, which is false for NaN
      (1003L, randVec(9, dim).updated(3, Float.NaN)),
      (1004L, Array.fill(dim)(Float.PositiveInfinity).updated(0, Float.NegativeInfinity)))
    val df = rows.toDF("vec_id", "embedding")
    for (seed <- Seq(42L, 7L); numPlanes <- Seq(12, 31)) {
      val fused = df.select(col("vec_id"),
        Ann.hyperplaneSketch(col("embedding"), dim, numPlanes, seed).as("s"))
      val ref = df.select(col("vec_id"),
        References.hyperplaneSketchHof(col("embedding"), dim, numPlanes, seed).as("s"))
      assert(canon(fused) == canon(ref), s"seed=$seed planes=$numPlanes")
    }
  }

  test("codegen minhash signature is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val n = if (i == 0) 0 else rnd.nextInt(200) + 1
      (i.toLong, Seq.fill(n)(rnd.nextLong() & ((1L << 31) - 1)))
    }
    val df = rows.toDF("id", "hashes")
    val both = df.select(
      Dedup.minhashSignatureFromHashes(col("hashes"), 64).as("fast"),
      References.minhashSignatureHof(col("hashes"), 64).as("hof"))
    // array<long> equality is element-wise; the empty-array row yields
    // all-null signatures on both sides, which <=> treats as equal
    val mismatches = both.filter(not(col("fast") <=> col("hof"))).count()
    assert(mismatches == 0, "codegen and HOF minhash must agree exactly")
    // interpreted eval path (no codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit5 = Literal.create(Seq(5L, 123456789L), ArrayType(LongType))
    val viaEval = graft.functions.MinhashSignatureExpr(lit5, 16, 42L)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    val viaDf = Seq(Tuple1(Seq(5L, 123456789L))).toDF("h")
      .select(References.minhashSignatureHof(col("h"), 16).as("s"))
      .head().getSeq[Long](0)
    assert(viaEval == viaDf, "interpreted eval must match HOF")
  }

  test("codegen cosine expression is bit-identical to the HOF formulation") {
    val dim = 32
    val rows = (0 until 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("id", "vec")
    val q = org.apache.spark.sql.functions.lit(randVec(999, dim).map(_.toDouble))
    val both = df.select(
      Ann.cosine(col("vec"), q).as("fast"),
      References.cosineHof(col("vec"), q).as("hof"))
    val mismatches = both.filter(col("fast") =!= col("hof")).count()
    assert(mismatches == 0, "codegen and HOF cosine must agree exactly")
    // SQL registration path
    graft.functions.CosineSimilarity.register(spark)
    df.createOrReplaceTempView("cos_t")
    val viaSql = spark.sql("SELECT cosine_sim(vec, vec) AS c FROM cos_t LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(viaSql.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("IVF top-k recalls the exact nearest neighbor and scans few clusters") {
    val dim = 16
    val rows = (0 until 400).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val index = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8)
    // self-query: the query's own cluster is always probed first
    val out = Ann.ivfTopK(index, "vec_id", "embedding", rows(123)._2, k = 3, nprobe = 2)
    assert(out.collect().head.getLong(0) == 123L)
    // probing fewer clusters scans a strict subset of the data
    val probedRows = index.clustered.filter(col("gr_cluster").isin(0, 1)).count()
    assert(probedRows < 400)
  }

  test("matryoshka two-phase search: exactness limits and prefix behavior") {
    val dim = 32
    val rows = (1 to 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val q = randVec(9999, dim)
    val brute = Ann.bruteForceTopK(df, "vec_id", "embedding", q, k = 5)
      .collect().map(_.getLong(0)).toSeq
    // full-corpus shortlist: the re-rank sees everything -> exact
    val full = Ann.matryoshkaTopK(df, "vec_id", "embedding", q, k = 5,
        prefixDims = 8, shortlist = 300)
      .collect().map(_.getLong(0)).toSeq
    assert(full === brute)
    // prefix = all dims: the coarse phase IS exact, any shortlist >= k works
    val exactCoarse = Ann.matryoshkaTopK(df, "vec_id", "embedding", q, k = 5,
        prefixDims = dim, shortlist = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(exactCoarse === brute)
    intercept[IllegalArgumentException] {
      Ann.matryoshkaTopK(df, "vec_id", "embedding", q, k = 5,
        prefixDims = dim + 1, shortlist = 10)
    }
    intercept[IllegalArgumentException] {
      Ann.matryoshkaTopK(df, "vec_id", "embedding", q, k = 5,
        prefixDims = 8, shortlist = 3)
    }
  }

  test("filtered IVF search applies the predicate inside the probe") {
    val dim = 16
    val q = randVec(999, dim)
    // six verbatim copies of the query (cosine exactly 1): ids 1-3 flag 0,
    // ids 4-6 flag 1; an unfiltered (or post-hoc-filtered) search would
    // surface ids 1-3 on the id tiebreak
    val planted = (1 to 6).map(i => (i.toLong, q, (i - 1) / 3))
    val organic = (100 until 300).map(i => (i.toLong, randVec(i, dim), i % 2))
    val df = (planted ++ organic).toDF("vec_id", "embedding", "flag")
    val index = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 4)
    val got = Ann.ivfTopK(index, "vec_id", "embedding", q, k = 3,
        nprobe = 2, rowFilter = col("flag") === 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(4L, 5L, 6L))
    val unfiltered = Ann.ivfTopK(index, "vec_id", "embedding", q, k = 3,
        nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(unfiltered === Seq(1L, 2L, 3L))
  }

  test("hardNegatives drops near-dups and easy negatives, then re-ranks") {
    val dim = 16
    val anchors = Seq((1000L, randVec(7, dim))).toDF("query_id", "embedding")
    // a verbatim copy (cosine 1.0) must be excluded as a near-dup; the
    // re-rank must then fill k from the survivors
    val corpus = ((1L to 60L).map(i => (i, randVec(i.toInt * 3, dim))) :+
      (999L, randVec(7, dim))).toDF("vec_id", "embedding")
    val got = Ann.hardNegatives(anchors, corpus, "query_id", "vec_id",
        "embedding", dim, k = 5, dupCosine = 0.999, floorCosine = -1.0,
        candidateK = 61, numPlanes = 4, maxHamming = 2)
      .collect()
    assert(!got.map(_.getLong(1)).contains(999L), "near-dup must be excluded")
    assert(got.length == 5)
    assert(got.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    // pass-through thresholds degenerate to the plain ANN join's top-k
    val plain = Ann.annJoin(anchors, corpus, "query_id", "vec_id",
        "embedding", dim, k = 5, numPlanes = 4, maxHamming = 2)
      .collect().map(r => (r.getLong(1), r.getAs[Int]("rank"))).toSet
    val open = Ann.hardNegatives(anchors, corpus, "query_id", "vec_id",
        "embedding", dim, k = 5, dupCosine = 2.0, floorCosine = -2.0,
        candidateK = 61, numPlanes = 4, maxHamming = 2)
      .collect().map(r => (r.getLong(1), r.getAs[Int]("rank"))).toSet
    assert(open == plain)
  }

  test("ivfDelete tombstones are visible to probes and purged by rebuild") {
    val dim = 16
    val rows = (0 until 200).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val path = tmpDir("ivf_del") + "/idx"
    Ann.ivfWrite(Ann.ivfBuild(df, "vec_id", "embedding", nlist = 4), path)
    val q = rows(42)._2
    assert(Ann.ivfTopK(Ann.ivfRead(spark, path), "vec_id", "embedding",
      q, k = 1, nprobe = 2).collect().head.getLong(0) == 42L)
    // delete the self-match: the runner-up takes rank 1
    Ann.ivfDelete(spark, path, Seq(42L).toDF("vec_id"))
    val afterDelete = Ann.ivfTopK(Ann.ivfRead(spark, path), "vec_id",
      "embedding", q, k = 5, nprobe = 2).collect().map(_.getLong(0))
    assert(!afterDelete.contains(42L))
    // appending a tombstoned id refuses loudly: the next rebuild would
    // purge it together with the tombstone, silently undoing the append
    val readd = Seq((42L, rows(42)._2)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.ivfAppend(spark, path, readd, "vec_id", "embedding", "readd-1")
    }
    assert(e.getMessage.contains("tombstoned"))
    // deleting by a non-id column refuses before writing anything
    intercept[IllegalArgumentException] {
      Ann.ivfDelete(spark, path, Seq(1L).toDF("gr_cluster"))
    }
    // re-deleting is harmless; rebuild purges physically and keeps it out
    Ann.ivfDelete(spark, path, Seq(42L).toDF("vec_id"))
    val rebuilt = Ann.ivfRebuild(spark, path, "vec_id")
    assert(rebuilt.clustered.filter(col("vec_id") === 42L).count() == 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "tombstones")))
    val post = Ann.ivfTopK(Ann.ivfRead(spark, path), "vec_id", "embedding",
      q, k = 5, nprobe = 2).collect().map(_.getLong(0))
    assert(!post.contains(42L))
  }

  test("persisted IVF index serves probes as partition-pruned scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dim = 16
    val rows = (0 until 400).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val built = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8)
    val path = tmpDir("ivf_idx")
    Ann.ivfWrite(built, path)
    val index = Ann.ivfRead(spark, path)
    assert(index.centroids.map(_._1) == built.centroids.map(_._1) &&
      index.centroids.zip(built.centroids).forall {
        case ((_, a), (_, b)) => a.sameElements(b) })
    // round-trip preserves the clustering and the search result; AQE is
    // disabled for the probe so the scan node is directly inspectable
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q = rows(123)._2
      val out = Ann.ivfTopK(index, "vec_id", "embedding", q, k = 3, nprobe = 2)
      val got = out.collect()
      assert(got.head.getLong(0) == 123L)
      // the probe's scan must read ONLY the probed cluster directories
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a parquet scan in the probe plan")
      val partsRead = scans.map(_.metrics("numPartitions").value).sum
      val nClusters = index.clustered.select("gr_cluster").distinct().count()
      assert(partsRead <= 2,
        s"probe must scan <= nprobe partitions, read $partsRead of $nClusters")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("batched top-k agrees with per-query brute force") {
    val dim = 16
    val rows = (0 until 150).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val queries = Seq(3L, 77L).map(q => q -> rows(q.toInt)._2)
    val batch = Ann.batchBruteTopK(df, "vec_id", "embedding", queries, k = 4,
        excludeIds = queries.map(_._1))
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val loop = queries.flatMap { case (qid, v) =>
      Ann.bruteForceTopK(df, "vec_id", "embedding", v, k = 4,
          excludeIds = queries.map(_._1)).collect()
        .map(r => (qid, r.getLong(0), r.getInt(2)))
    }.sorted
    assert(batch == loop)
  }

  test("band tuner: S-curve midpoint tracks the threshold, monotone") {
    import graft.operators.Dedup
    assert(Dedup.tuneRowsPerBand(64, 0.5) == 4)  // (1/16)^(1/4) = 0.5 exactly
    val rs = Seq(0.1, 0.3, 0.5, 0.7, 0.9).map(Dedup.tuneRowsPerBand(64, _))
    assert(rs == rs.sorted, s"rowsPerBand must not decrease with threshold: $rs")
    assert(rs.head < rs.last)
    // midpoint of the chosen config is within 0.15 of the ask
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val r = Dedup.tuneRowsPerBand(64, t)
      val mid = math.pow(r.toDouble / 64, 1.0 / r)
      assert(math.abs(mid - t) < 0.15, s"t=$t r=$r mid=$mid")
    }
  }

  test("IVF k-means iterations do not reduce within-cluster cohesion") {
    val dim = 16
    val rows = (0 until 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    def cohesion(iters: Int): Double = {
      val idx = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8, iterations = iters)
      val byCid = idx.centroids.toMap
      idx.clustered.select(col("embedding"), col("gr_cluster")).collect().map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        val c = byCid(r.getInt(1))
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
      }.sum / 300
    }
    val c0 = cohesion(0)
    val c2 = cohesion(2)
    assert(c2 >= c0 - 1e-9, s"cohesion degraded: iter0=$c0 iter2=$c2")
  }

  test("LSH top-k recalls the exact nearest neighbor (self)") {
    val dim = 16
    val rows = (0 until 200).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Ann.lshTopK(df, "vec_id", "embedding", dim, rows(42)._2,
      k = 3, numPlanes = 10, maxHammingProbe = 2)
    assert(out.collect().head.getLong(0) == 42L)
  }

  test("ivfAppend: appended near-neighbor is found; structural mismatches reject") {
    val dim = 16
    val rows = (0 until 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val path = tmpDir("ivf_append")
    Ann.ivfWrite(Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8), path)
    val before = Ann.ivfRead(spark, path)
    // append a planted copy of vector 77 (new id) + an unrelated new vector
    val planted = Seq((9001L, rows(77)._2), (9002L, randVec(8888, dim)))
      .toDF("vec_id", "embedding")
    assert(Ann.ivfAppend(spark, path, planted, "vec_id", "embedding", "b0") == 2L)
    val after = Ann.ivfRead(spark, path)
    // centroids untouched, data grown by exactly the batch
    assert(after.centroids.zip(before.centroids).forall {
      case ((i1, a), (i2, b)) => i1 == i2 && a.sameElements(b) })
    assert(after.clustered.count() == before.clustered.count() + 2)
    // the probe finds the appended copy right behind (or tied with) the
    // original: identical vectors share a cluster by the shared tie-break
    val got = Ann.ivfTopK(after, "vec_id", "embedding", rows(77)._2,
      k = 2, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(got == Set(77L, 9001L), s"expected original+appended copy, got $got")
    // dim mismatch rejects loudly before any write
    val wrongDim = Seq((9100L, randVec(1, dim + 4))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Ann.ivfAppend(spark, path, wrongDim, "vec_id", "embedding", "b1")
    }
    assert(e1.getMessage.contains("dim=" + dim), e1.getMessage)
    assert(Ann.ivfRead(spark, path).clustered.count() == before.clustered.count() + 2,
      "refused append must leave the index untouched")
    // schema mismatch rejects
    val extraCol = Seq((9200L, randVec(2, dim), "x"))
      .toDF("vec_id", "embedding", "extra")
    val e2 = intercept[IllegalArgumentException] {
      Ann.ivfAppend(spark, path, extraCol, "vec_id", "embedding", "b2")
    }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    // a directory without the sidecar is not an appendable index
    val e3 = intercept[IllegalArgumentException] {
      Ann.ivfAppend(spark, tmpDir("not_an_index"), planted, "vec_id",
        "embedding", "b3")
    }
    assert(e3.getMessage.contains(Ann.IvfParamsSidecar), e3.getMessage)
  }

  test("batched IVF probe agrees with per-query ivfTopK and prunes map-side") {
    val dim = 16
    val rows = (0 until 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val index = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8)
    val queries = Seq(7L, 123L, 250L).map(q => q -> rows(q.toInt)._2)
    val batch = Ann.ivfBatchTopK(index, "vec_id", "embedding", queries,
        k = 4, nprobe = 2, excludeIds = queries.map(_._1))
    val got = batch.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val loop = queries.flatMap { case (qid, v) =>
      Ann.ivfTopK(index, "vec_id", "embedding", v, k = 4, nprobe = 2,
          excludeIds = queries.map(_._1)).collect()
        .map(r => (qid, r.getLong(0), r.getInt(2)))
    }.sorted
    assert(got == loop, s"batched IVF must equal per-query probes\n$got\n$loop")
    // the per-query rank is rewritten into a map-side partial top-k
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2, plan.take(1500))
  }

  test("ivfAppend replay-idempotency, streaming ingest crash-replay, and compaction") {
    val dim = 16
    val rows = (0 until 300).map(i => (i.toLong, randVec(i, dim)))
    val df = rows.toDF("vec_id", "embedding")
    val path = tmpDir("ivf_replay")
    Ann.ivfWrite(Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8), path)
    val batch = Seq((9001L, rows(5)._2), (9002L, randVec(4242, dim)))
      .toDF("vec_id", "embedding")
    // same-tag retry converges; a new tag is a new logical append
    Ann.ivfAppend(spark, path, batch, "vec_id", "embedding", "t1")
    Ann.ivfAppend(spark, path, batch, "vec_id", "embedding", "t1")
    assert(Ann.ivfRead(spark, path).clustered.count() == 302,
      "same-tag retry must not duplicate rows")
    assert(Ann.ivfAbortAppend(spark, path, "t1") >= 1)
    assert(Ann.ivfRead(spark, path).clustered.count() == 300)

    // streaming ingest batch: crash between append and marker, then replay
    val cp = tmpDir("ivf_replay_cp")
    import graft.streaming.Streams
    assert(Streams.ivfIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    assert(Ann.ivfRead(spark, path).clustered.count() == 302)
    val tag = Streams.checkpointTag(cp) + "_" + "%020d".format(0L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path, s"_graft_ivf_ingest_commit_$tag"), false)
    assert(Streams.ivfIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    assert(Ann.ivfRead(spark, path).clustered.count() == 302,
      "crash-replay must not duplicate appended vectors")
    // marker intact: replay skipped
    assert(!Streams.ivfIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    // drift telemetry flows through the STREAMING path too: the ingest's
    // tagged append leaves a per-batch record and the report reads it
    val drift = Ann.ivfDriftReport(spark, path)
    assert(drift.filter(col("tag").contains("%020d".format(0L))).count() == 1,
      "streaming ingest batch must leave exactly one drift record")

    // compaction: many appended small files collapse, content unchanged
    for (i <- 2 to 5)
      Ann.ivfAppend(spark, path,
        Seq((9000L + i * 10, randVec(1000 + i, dim))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"t$i")
    val preIds = Ann.ivfRead(spark, path).clustered
      .select("vec_id").as[Long].collect().sorted.toSeq
    val stats = Ann.ivfCompact(spark, path)
    assert(stats.partitionsCompacted >= 1, stats.toString)
    assert(stats.filesAfter < stats.filesBefore, stats.toString)
    val postIds = Ann.ivfRead(spark, path).clustered
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(postIds == preIds, "compaction must preserve every row")
    // probes still partition-pruned and correct after compaction
    val got = Ann.ivfTopK(Ann.ivfRead(spark, path), "vec_id", "embedding",
      rows(5)._2, k = 2, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(got == Set(5L, 9001L), s"got $got")
  }
}

class PqSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Pq
  import graft.functions.{PqAdcExpr, PqEncodeExpr, PqImpl}

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  private val dim = 32
  private lazy val rows = (0 until 400).map(i => (i.toLong, randVec(i, dim)))
  private lazy val df = rows.toDF("vec_id", "embedding")

  test("table-side ADC kernel is bit-identical to the LUT path; ivfPqJoin agrees with ivfPqTopK") {
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val encoded = Pq.pqEncode(df, "vec_id", "embedding", model)
    val q = randVec(2024, dim)
    // kernel parity: PqAdcVecExpr(q, code) == PqAdcExpr(code, buildLut(q))
    val lut = graft.functions.PqImpl.buildLut(q.map(_.toDouble), model.cells)
    val both = encoded
      .select(col("vec_id"),
        graft.functions.PqAdcVecExpr(lit(q.map(_.toDouble)), col("pq_code"),
          model.cells).as("vecside"),
        graft.functions.PqAdcExpr(col("pq_code"), lut).as("lutside"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"ADC paths diverge at ${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
    // per-query agreement of the join with the single-query quantized path
    val index = graft.operators.Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    val queries = (0 until 5).map(i => (i.toLong, randVec(3000 + i, dim)))
    val joined = Pq.ivfPqJoin(queries.toDF("query_id", "embedding"), serving,
        index.centroids, model, "query_id", "vec_id", "embedding",
        k = 7, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, qv) =>
      val single = Pq.ivfPqTopK(serving, index.centroids, model, "vec_id",
          qv, k = 7, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      val fromJoin = joined.getOrElse(qid, Array.empty)
        .sortBy(_._3).map(t => (t._2, t._3)).toSeq
      assert(fromJoin == single, s"query $qid: join $fromJoin vs single $single")
    }
  }

  test("training is deterministic and encode kernel matches the driver fold") {
    val m1 = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val m2 = Pq.pqTrain(df.repartition(7), "vec_id", "embedding", m = 4, k = 8)
    assert(m1.cells.flatten.flatten.toSeq == m2.cells.flatten.flatten.toSeq,
      "retraining on the same data must be bit-identical, any partitioning")
    val enc = Pq.pqEncode(df, "vec_id", "embedding", m1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    rows.foreach { case (id, v) =>
      val expect = PqImpl.encodeVector(v.map(_.toDouble), m1.cells)
      assert(enc(id).toSeq == expect.toSeq, s"kernel/driver encode diverge at $id")
    }
  }

  test("ADC expression equals the driver LUT sum; degenerate inputs null out") {
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val q = randVec(999, dim)
    val lut = PqImpl.buildLut(q.map(_.toDouble), model.cells)
    val got = Pq.pqEncode(df, "vec_id", "embedding", model)
      .select(col("vec_id"), PqAdcExpr(col("pq_code"), lut).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, v) =>
      val codes = PqImpl.encodeVector(v.map(_.toDouble), model.cells)
      val expect = codes.zipWithIndex.foldLeft(0.0) { case (a, (c, s)) => a + lut(s)(c) }
      assert(got(id) == expect, s"ADC diverges at $id")
    }
    // wrong-width vector -> null code; wrong-width codes -> null distance
    val bad = Seq((1L, Array.fill(dim + 1)(0.1f))).toDF("vec_id", "embedding")
    assert(PqEncodeExpr(bad("embedding"), model.cells) != null)
    assert(bad.select(PqEncodeExpr(col("embedding"), model.cells)).head().isNullAt(0))
    val shortCodes = Seq(Tuple1(Array(1, 2))).toDF("pq_code")
    assert(shortCodes.select(PqAdcExpr(col("pq_code"), lut)).head().isNullAt(0))
  }

  test("quantized top-k recalls exact neighbors above the measured floor") {
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 8, k = 16)
    val encoded = Pq.pqEncode(df, "vec_id", "embedding", model)
    val recalls = (0 until 10).map { qi =>
      val q = rows(qi)._2
      val approx = Pq.pqTopK(encoded, "vec_id", q, model, k = 10,
          excludeIds = Seq(rows(qi)._1))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = graft.operators.Ann.bruteForceTopK(df, "vec_id", "embedding",
          q, k = 10, excludeIds = Seq(rows(qi)._1))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    // random gaussian data is PQ's worst case; measured mean recall@10 over
    // these seeds is well above this floor — regression-gate, not a target
    assert(mean >= 0.25, s"mean PQ recall@10 $mean under floor (per-query: $recalls)")
  }

  test("IVF-PQ: probed-cluster ADC equals the composition, persisted probes prune") {
    import graft.operators.Ann
    val index = Ann.ivfBuild(df, "vec_id", "embedding", nlist = 8)
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    val q = randVec(555, dim)
    val got = Pq.ivfPqTopK(serving, index.centroids, model, "vec_id", q,
      k = 5, nprobe = 3)
    // composition semantics: identical to hand-filtering the probed
    // clusters then running flat PQ top-k
    val qd = q.map(_.toDouble)
    def cos(a: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * qd(i); na += a(i) * a(i); nb += qd(i) * qd(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probed = index.centroids.sortBy { case (_, c) => -cos(c) }.take(3).map(_._1)
    val manual = Pq.pqTopK(
      serving.filter(col("gr_cluster").isin(probed: _*)), "vec_id", q, model, k = 5)
    assert(canon(got) == canon(manual))
    // persisted partitionBy(gr_cluster) serving table: probes prune at the
    // file-listing level AND read no float vectors
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    serving.write.mode("overwrite").partitionBy("gr_cluster").parquet(path)
    val onDisk = spark.read.parquet(path)
      .withColumn("gr_cluster", col("gr_cluster").cast("int"))
    val pq = Pq.ivfPqTopK(onDisk, index.centroids, model, "vec_id", q,
      k = 5, nprobe = 3)
    pq.collect()
    val scan = pq.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("gr_cluster"), s"expected partition filters:\n$scan")
    assert(!scan.contains("embedding"), s"serving scan must not read vectors:\n$scan")
  }

  test("batched PQ ADC agrees with per-query pqTopK and prunes map-side") {
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val encoded = Pq.pqEncode(df, "vec_id", "embedding", model)
    val queries = Seq(3L, 57L, 311L).map(q => q -> rows(q.toInt)._2)
    val batch = Pq.pqBatchTopK(encoded, "vec_id", queries, model, k = 4,
        excludeIds = queries.map(_._1))
    val got = batch.select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val loop = queries.flatMap { case (qid, v) =>
      Pq.pqTopK(encoded, "vec_id", v, model, k = 4,
          excludeIds = queries.map(_._1)).collect()
        .map(r => (qid, r.getLong(0), r.getInt(2)))
    }.sorted
    assert(got == loop, s"batched ADC must equal per-query scoring\n$got\n$loop")
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("ADC + exact re-rank converges to brute force as the candidate pool grows") {
    import graft.operators.Ann
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 8, k = 16)
    val encoded = Pq.pqEncode(df, "vec_id", "embedding", model)
    val q = rows(42)._2
    // candidate pool == corpus: the rerank IS brute force, bit for bit
    val full = Pq.pqTopKRerank(encoded, df, "vec_id", "embedding", q, model,
      k = 10, candidates = 400, excludeIds = Seq(42L))
    val brute = Ann.bruteForceTopK(df, "vec_id", "embedding", q, k = 10,
      excludeIds = Seq(42L))
    assert(canon(full.select("vec_id", "rank")) == canon(brute.select("vec_id", "rank")))
    // moderate pool: recall@10 at least matches pure ADC's (re-ranking a
    // superset can only fix ordering, never lose a true neighbor it holds)
    val exact = brute.select("vec_id").collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]) = ids.intersect(exact).size / 10.0
    val adcOnly = Pq.pqTopK(encoded, "vec_id", q, model, k = 10,
      excludeIds = Seq(42L)).select("vec_id").collect().map(_.getLong(0)).toSet
    val reranked = Pq.pqTopKRerank(encoded, df, "vec_id", "embedding", q, model,
      k = 10, candidates = 80, excludeIds = Seq(42L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(recall(reranked) >= recall(adcOnly),
      s"rerank recall ${recall(reranked)} < ADC recall ${recall(adcOnly)}")
  }

  test("pqIngest crash-replay: append-then-crash replays to exactly one copy") {
    import graft.streaming.Streams
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val path = java.nio.file.Files.createTempDirectory("pq_ingest").toString
    Pq.pqWrite(Pq.pqEncode(df, "vec_id", "embedding", model), model, path)
    val cp = java.nio.file.Files.createTempDirectory("pq_cp").toString
    val batch = (2000 until 2015).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    // crash window: the append landed but the commit marker did not —
    // replaying the SAME batch id must converge, not duplicate
    assert(Streams.pqIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    val committed = spark.read.parquet(s"$path/data").count()
    assert(committed == 415)
    // simulate the replay AFTER a crash-before-marker: delete the marker
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(_.getPath.getName.startsWith("_graft_pq_ingest_commit_"))
      .foreach(st => fs.delete(st.getPath, false))
    assert(Streams.pqIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    assert(spark.read.parquet(s"$path/data").count() == 415,
      "replayed append must sweep the prior attempt, not duplicate")
    // fully-committed batch skips on replay
    assert(!Streams.pqIngestBatch(batch, 0L, "vec_id", "embedding", path, cp))
    assert(spark.read.parquet(s"$path/data").count() == 415)
  }

  test("write/read roundtrip, sidecar rejection, and replay-idempotent append") {
    val model = Pq.pqTrain(df, "vec_id", "embedding", m = 4, k = 8)
    val encoded = Pq.pqEncode(df, "vec_id", "embedding", model)
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Pq.pqWrite(encoded, model, path)
    val (loaded, codes) = Pq.pqRead(spark, path)
    assert(loaded.cells.flatten.flatten.toSeq == model.cells.flatten.flatten.toSeq)
    assert(codes.count() == 400)
    // served results from the loaded index match the in-memory ones
    val q = randVec(777, dim)
    assert(canon(Pq.pqTopK(codes, "vec_id", q, loaded, k = 5))
      == canon(Pq.pqTopK(encoded, "vec_id", q, model, k = 5)))
    // append: new ids land once even when the same tag retries
    val extra = (1000 until 1020).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    Pq.pqAppend(spark, path, extra, "vec_id", "embedding", tag = "b1")
    Pq.pqAppend(spark, path, extra, "vec_id", "embedding", tag = "b1")
    val (_, grown) = Pq.pqRead(spark, path)
    assert(grown.count() == 420, "same-tag retry must converge, not duplicate")
    // dim mismatch refuses
    val wrong = Seq((5000L, Array.fill(dim * 2)(0.1f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      Pq.pqAppend(spark, path, wrong, "vec_id", "embedding", tag = "b2"))
    assert(e1.getMessage.contains("dim"), e1.getMessage)
    // missing sidecar refuses
    val bare = java.nio.file.Files.createTempDirectory("pq_bare").toString
    val e2 = intercept[IllegalArgumentException](Pq.pqRead(spark, bare))
    assert(e2.getMessage.contains(Pq.PqParamsSidecar), e2.getMessage)
  }
}

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("langid identifies crafted multilingual sentences") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy with the sun", "en"),
      (2L, "le chat est dans la maison et il aime le soleil de la ville", "fr"),
      (3L, "der hund ist nicht in der stadt und das wetter ist gut", "de"),
      (4L, "el perro es grande y la casa es bonita en la ciudad", "es"),
      (5L, "我 是 一个 学生 的 朋友 和 人 在 这 里", "zh"))
    val out = docs.toDF("id", "text", "expected")
      .withColumn("pred", TextFunctions.langId(col("text")))
    assert(out.filter(col("pred") === col("expected")).count() == 5)
  }

  test("trigram langid beats the marker heuristic on short shared-vocab sentences") {
    // none of these sentences appear in the seed corpus; several have ZERO
    // marker-word hits (no 'the'/'der'/'el'...) or tie across languages on
    // shared function words (la/de), which defeats whole-word markers
    val hard = Seq(
      (1L, "a good book makes a long journey shorter", "en"),
      (2L, "my sister works near a small station", "en"),
      (3L, "what should we cook tonight", "en"),
      (4L, "la grande maison de papier", "fr"),
      (5L, "je voudrais un verre de vin blanc", "fr"),
      (6L, "les enfants jouent toute la journee", "fr"),
      (7L, "das wetter ist heute wirklich schoen", "de"),
      (8L, "ich moechte ein glas wasser bitte", "de"),
      (9L, "die kinder spielen den ganzen tag", "de"),
      (10L, "el tiempo esta muy bueno hoy", "es"),
      (11L, "quisiera un vaso de vino blanco", "es"),
      (12L, "los ninos juegan en la calle", "es"),
      (13L, "今天天气真的很好", "zh"),
      (14L, "我想要一杯白葡萄酒", "zh"),
      (15L, "孩子们整天在街上玩", "zh"))
    val df = hard.toDF("id", "text", "expected")
      .withColumn("marker", TextFunctions.langId(col("text")))
      .withColumn("ngram", TextFunctions.langIdNgram(col("text")))
    val markerAcc = df.filter(col("marker") === col("expected")).count()
    val ngramAcc = df.filter(col("ngram") === col("expected")).count()
    assert(ngramAcc > markerAcc,
      s"ngram ($ngramAcc/15) must beat markers ($markerAcc/15)")
    assert(ngramAcc >= 14, s"ngram accuracy too low: $ngramAcc/15")
  }

  test("ngram profile training is deterministic and charNgrams matches driver logic") {
    val p1 = TextFunctions.trainNgramProfiles(TextFunctions.ngramSeedCorpus)
    val p2 = TextFunctions.trainNgramProfiles(TextFunctions.ngramSeedCorpus)
    assert(p1 == p2 && p1.keySet == Set("en", "fr", "de", "es", "zh"))
    // Column-side n-gram extraction agrees with the driver-side trainer's
    // (both must see identical n-grams or profiles would never match docs)
    val text = "  Hello   wide World "
    val sparkGrams = Seq(text).toDF("t")
      .select(TextFunctions.charNgrams(col("t"))).head.getSeq[String](0).toSet
    val padded = " " + text.trim.toLowerCase.replaceAll("\\s+", " ") + " "
    val driverGrams = (for {
      n <- 1 to 3
      i <- 0 to math.max(padded.length - n, 0)
    } yield padded.substring(i, math.min(i + n, padded.length))).toSet
    assert(sparkGrams == driverGrams)
  }

  test("PII redaction replaces emails, IPs and phones with placeholders") {
    val docs = Seq(
      (1L, "contact alice.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "server at 192.168.0.1 responded; backup 10.0.0.254 did not"),
      (3L, "no pii here at all"))
    val out = docs.toDF("id", "text")
      .select(col("id") +:
        (TextFunctions.piiCounts(col("text")).map { case (n, c) => c.as(n) } :+
          TextFunctions.redactPii(col("text")).as("red")): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(1L) == ((1, 0, 1, "contact <EMAIL> or call <PHONE> now")))
    assert(out(2L)._2 == 2 && out(2L)._4.contains("<IP> responded; backup <IP>"))
    assert(out(3L) == ((0, 0, 0, "no pii here at all")))
  }

  test("gopher rules: each rule trips on a crafted violation, clean doc keeps") {
    val good = (1 to 30).map(i => s"word$i").mkString("the quick it is that ", " ", "")
    val docs = Seq(
      (1L, good), // passes everything
      (2L, "too few words here"), // word_count
      (3L, Seq.fill(25)("a").mkString(" ") + " the it"), // mean word len < 3
      (4L, (1 to 25).map(_ => "####琴").mkString("the it is ", " ", ""))) // alpha frac
    val staged = docs.toDF("id", "text")
      .select(col("id"), col("text"), TextFunctions.words(col("text")).as("__w"))
    val rules = TextFunctions.gopherRules(col("text"), col("__w"))
    val out = staged.select(col("id") +: rules.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6), "clean doc must keep")
    assert(!out(2L).getBoolean(1) && !out(2L).getBoolean(6))
    assert(!out(3L).getBoolean(2) && !out(3L).getBoolean(6))
    assert(!out(4L).getBoolean(4) && !out(4L).getBoolean(6))
  }

  test("repetition metrics flag keyword stuffing") {
    val docs = Seq(
      (1L, "spam spam spam spam ham"),
      (2L, "all words here are fully distinct"))
    val staged = docs.toDF("id", "text")
      .select(col("id"), TextFunctions.words(col("text")).as("__w"))
    val ms = TextFunctions.repetitionMetrics(col("__w"))
    val out = staged.select(col("id") +: ms.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((1.0 - 2.0 / 5.0, 4.0 / 5.0)))
    assert(out(2L) == ((0.0, 1.0 / 6.0)))
  }

  test("deterministic split: stable, exact-threshold proportions, salt re-deals") {
    val keys = (0L until 10000L).toDF("k")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def dist(salt: String): Map[String, Long] =
      keys.select(TextFunctions.deterministicSplit(col("k"), w, salt).as("s"))
        .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d1 = dist("")
    assert(d1 == dist(""), "same salt must be identical")
    assert(math.abs(d1("train") - 8000L) < 200 && math.abs(d1("val") - 1000L) < 150,
      s"proportions off: $d1")
    // a different salt re-deals: assignments must differ for many keys
    val both = keys.select(col("k"),
      TextFunctions.deterministicSplit(col("k"), w, "a").as("s1"),
      TextFunctions.deterministicSplit(col("k"), w, "b").as("s2"))
    assert(both.filter(col("s1") =!= col("s2")).count() > 1000)
    intercept[IllegalArgumentException] {
      TextFunctions.deterministicSplit(col("k"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("int8 quantization round-trips within one quantization step") {
    import graft.operators.Embeddings
    def randVec(seed: Int, dim: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
    }
    val vecs = (0 until 50).map(i => (i.toLong, randVec(i, 16)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = Embeddings.quantize(df, "vec_id", "embedding")
    // dequantized values within scale/2 + float eps of the original
    val joined = df.join(q, "vec_id")
      .select(col("vec_id"),
        aggregate(zip_with(col("embedding"),
            Embeddings.dequantize(col("qvec"), col("scale")),
            (a, b) => abs(a.cast("double") - b)),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"),
        col("scale"))
      .collect()
    joined.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) / 2 + 1e-9,
        s"vec ${r.getLong(0)}: err ${r.getDouble(1)} > half-step ${r.getDouble(2) / 2}")
    }
    // quantized cosine approximates true cosine
    val c = df.filter(col("vec_id") === 0).select(col("embedding")).head.getSeq[Float](0)
    val qc = q.filter(col("vec_id") === 0).select("qvec").head.getSeq[Int](0)
    val cosTrue = { val b = vecs(1)._2
      val dot = c.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(c.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum)) }
    val qb = q.filter(col("vec_id") === 1).select("qvec").head.getSeq[Int](0)
    val cosQ = { val dot = qc.zip(qb).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(qc.map(x => x.toDouble * x).sum) * math.sqrt(qb.map(x => x.toDouble * x).sum)) }
    assert(math.abs(cosTrue - cosQ) < 0.02, s"$cosTrue vs $cosQ")
    // quantizedCosine feeds int codes to the kernel directly — must equal
    // the hand fold bit-for-bit (same sequential accumulation order)
    val a0 = q.filter(col("vec_id") === 0).select(col("qvec").as("qa"))
    val b1 = q.filter(col("vec_id") === 1).select(col("qvec").as("qb"))
    val viaKernel = a0.crossJoin(b1)
      .select(Embeddings.quantizedCosine(col("qa"), col("qb")))
      .head.getDouble(0)
    assert(viaKernel == cosQ, s"int-native kernel $viaKernel vs hand $cosQ")
  }

  test("BPE training learns hand-computed merges and counting applies them") {
    import graft.functions.Bpe
    // corpus {aaab x3, ab x1}: pair counts round 1 are (a,a)=6 > (a,b)=4,
    // round 2 (a,b)=4 > (aa,a)=3, round 3 (aa,ab)=3 — computed by hand
    val model = Bpe.train(Map("aaab" -> 3L, "ab" -> 1L), 3)
    assert(model.merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    assert(model.encodeWord("aaab") == Vector("aaab"))
    assert(model.encodeWord("aab") == Vector("aa", "b"))
    assert(model.encodeWord("ab") == Vector("ab"))
    assert(model.encodeWord("zq") == Vector("z", "q")) // no learned pairs
    assert(model.countTokens("aaab ab zq") == 4)
    assert(model.countTokens("   ") == 0)
    // distributed counting matches the driver-side model exactly
    val df = Seq((1L, "aaab ab"), (2L, "aab zq")).toDF("id", "text")
    val out = Bpe.tokenCount(df, "text", model).orderBy("id")
      .select("n_bpe").as[Long].collect().toSeq
    assert(out == Seq(2L, 4L))
    // training is deterministic (lexicographic tie-break)
    assert(Bpe.train(Map("xy" -> 1L, "ab" -> 1L), 1).merges == Seq(("a", "b")))
    // encodeTokens = per-word encodeWord runs concatenated in order;
    // null/blank texts yield empty sequences
    val seqDf = Seq((1L, "aaab ab"), (2L, "aab zq"), (3L, "   "),
        (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val seqs = Bpe.encodeTokens(seqDf, "text", model).orderBy("id")
      .select("bpe_tokens").as[Seq[String]].collect().toSeq
    assert(seqs == Seq(Seq("aaab", "ab"), Seq("aa", "b", "z", "q"),
      Seq.empty, Seq.empty))
  }

  test("sequential merge replay (the t3b oracle algorithm) equals the priority encode") {
    import graft.functions.Bpe
    // the gate-scale model: trained exactly as t3b trains it
    val docs = spark.read.option("pathGlobFilter", "documents.parquet")
      .parquet("/root/testdata/sf0.01")
    val model = Bpe.trainFromCorpus(docs.orderBy("doc_id"), "text",
      numMerges = 200, sampleDocs = 256)
    assert(Bpe.sequentialReplaySafe(model.merges),
      "trained merges must be sequentially replayable for the DuckDB oracle")
    // empirical equivalence over the full corpus vocabulary
    val vocab = docs.select("text").as[String].collect()
      .flatMap(t => Option(t).map(_.trim).filter(_.nonEmpty)
        .toSeq.flatMap(_.split("\\s+")))
      .distinct
    assert(vocab.nonEmpty)
    vocab.foreach { w =>
      assert(References.encodeSequential(model, w) == model.encodeWord(w),
        s"sequential vs priority encode diverge on '$w'")
    }
    // the safety predicate itself: a later merge re-creating an earlier
    // pair's component string IS flagged (here rank 2 builds "ab", a
    // component of rank 0) while an ordinary chain is not
    assert(!Bpe.sequentialReplaySafe(Seq(("ab", "c"), ("x", "y"), ("a", "b"))))
    assert(Bpe.sequentialReplaySafe(Seq(("a", "b"), ("ab", "c"), ("abc", "d"))))
  }

  test("wordHistogram: exact counts, deterministic cap boundary") {
    import graft.functions.Bpe
    val docs = Seq(
      (1L, "  cat dog\t cat "), (2L, "dog cat"), (3L, "emu dog"),
      (4L, null.asInstanceOf[String]), (5L, "   ")).toDF("id", "text")
    val h = Bpe.wordHistogram(docs, "text", maxVocab = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // cat=3, dog=3 (tie -> word asc), emu=1 falls outside the cap
    assert(h.toSeq.sortBy(_._3) == Seq(("cat", 3L, 1L), ("dog", 3L, 2L)))
    // the cap must plan as a DISTRIBUTED top-N (TakeOrderedAndProject),
    // never a single-partition sort of the full distinct-word table
    val plan = Bpe.wordHistogram(docs, "text", maxVocab = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("exact trainer sees corpus-frequent words a document sample misses") {
    import graft.functions.Bpe
    // docs 1..256 (the sample window) contain only 'aaab'; docs 257..300
    // each repeat 'qqqz' 20x, so corpus-wide qqqz's (q,q) pair count (880)
    // crushes aaab's (a,a) count (512) — invisible to the sampled trainer
    val rows = (1L to 256L).map(i => (i, "aaab aaab")) ++
      (257L to 300L).map(i => (i, Seq.fill(20)("qqqz").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val sampled = Bpe.trainFromCorpus(docs.orderBy("doc_id"), "text",
      numMerges = 2, sampleDocs = 256)
    val exact = Bpe.trainFromCorpusExact(docs, "text",
      numMerges = 2, maxVocab = 1024)
    assert(!sampled.merges.exists { case (l, r) => (l + r).contains("q") },
      s"sample must miss qqqz entirely: ${sampled.merges}")
    assert(exact.merges.head == (("q", "q")),
      s"exact histogram must rank (q,q) first: ${exact.merges}")
    // and the exact trainer is itself deterministic under repartition
    assert(Bpe.trainFromCorpusExact(docs.repartition(7), "text",
      numMerges = 2, maxVocab = 1024).merges == exact.merges)
  }

  test("token counts and quality metrics") {
    val df = Seq((1L, "Hello, world! This is a test.")).toDF("id", "text")
    val r = df.select(
      TextFunctions.tokenCountWhitespace(col("text")).as("ws"),
      TextFunctions.tokenCountBpe(col("text")).as("bpe")).head()
    assert(r.getLong(0) == 6)
    assert(r.getLong(1) == 6) // hello world this is a test
    val metrics = TextFunctions.qualityMetrics(col("text"), TextFunctions.englishStopwords)
    val m = df.select(metrics.map { case (n, c) => c.as(n) }: _*).head()
    assert(m.getAs[Long]("n_words") == 6)
    assert(m.getAs[Double]("stopword_ratio") > 0) // "is", "a"
  }

  test("fingerprint is order- and duplication-insensitive") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma alpha beta alpha"),
      (3L, "alpha beta delta")).toDF("id", "text")
    val fps = df.select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }
}

class AsofSpec extends SparkSpec {
  import spark.implicits._

  test("asof join picks latest right row at or before left time") {
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"))
      .toDF("key", "ts", "event")
    val right = Seq((1L, 10L, "o1"), (1L, 20L, "o2"), (2L, 7L, "o3"))
      .toDF("rkey", "rts", "order_tag")
    val out = AsofJoin.asofJoin(left, right, "ts", "rts", "key", "rkey", Seq("order_tag"))
      .orderBy("key", "ts")
      .select("key", "ts", "event", "order_tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 10L, "e1", "o1"), // inclusive: right at same ts visible
      (1L, 25L, "e2", "o2"),
      (2L, 5L, "e3", null))) // no right row yet
  }

  test("asof join carries all payload columns from the SAME matched right row") {
    val left = Seq((1L, 25L, "e")).toDF("key", "ts", "event")
    val right = Seq(
      (1L, 10L, Option("o1"), Option(100L)),
      (1L, 20L, Option.empty[String], Option(200L))) // tag legitimately NULL
      .toDF("rkey", "rts", "tag", "amount")
    val out = AsofJoin.asofJoin(left, right, "ts", "rts", "key", "rkey",
        Seq("tag", "amount"))
      .select("tag", "amount").head()
    // the match is the rts=20 row: its NULL tag must survive, not be
    // back-filled from the older rts=10 row (row tearing)
    assert(out.isNullAt(0))
    assert(out.getLong(1) == 200L)
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // one hot key (90% of rows) + long tail
    val skewed = ((0 until 900).map(_ => (1L, "hot")) ++
      (0 until 100).map(i => (i.toLong + 2, s"cold$i"))).toDF("k", "v")
    val dims = (0L until 110L).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = skewed.join(dims, Seq("k")).select("k", "v", "name")
    val salted = operators.Skew.saltedJoin(skewed, dims, Seq("k"), factor = 8)
      .select("k", "v", "name")
    assert(canon(salted) == canon(plain))
    assert(plain.count() == 1000)
  }

  test("salted join rejects replicated-side-preserving join types") {
    val a = Seq((1L, "x"), (5L, "z")).toDF("k", "v")
    val b = Seq((1L, "y"), (9L, "w")).toDF("k", "name")
    // unmatched replicated rows would appear `factor` times
    intercept[IllegalArgumentException] {
      operators.Skew.saltedJoin(a, b, Seq("k"), 4, "right_outer")
    }
    intercept[IllegalArgumentException] {
      operators.Skew.saltedJoin(a, b, Seq("k"), 4, "full")
    }
    // left outer stays allowed: unmatched skewed rows survive exactly once
    val lo = operators.Skew.saltedJoin(a, b, Seq("k"), 4, "left")
    assert(lo.count() == 2)
  }
}

/** Skew hardening for the query-table join family: the pre-salt options
  * must (1) return EXACTLY the unsalted result — salting is a physical
  * re-distribution, never a semantic change — and (2) actually split a
  * planted hot key's corpus rows over the salt range, bounding what any
  * one shuffle task can receive. The salt is [[graft.operators.Skew.saltOf]],
  * shared between the operators and these bounds so the spec pins the
  * exact expression the joins key on. */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }

  private val dim = 16

  /** 400 positive multiples of one vector (same hyperplane sketch — one
    * hot bucket by construction) + organic tail. */
  private def hotCorpus = {
    val hotBase = randVec(77, dim)
    val hot = (0 until 400).map { i =>
      (5000L + i, hotBase.map(x => x * (1 << (i % 3)).toFloat))
    }
    val tail = (100 until 300).map(i => (i.toLong, randVec(i, dim)))
    (hot ++ tail).toDF("vec_id", "embedding")
  }

  test("annJoin saltFactor: identical results under a planted hot bucket") {
    val queries = (0 until 5).map(i => (i.toLong, randVec(900 + i, dim)))
      .toDF("query_id", "embedding")
    def run(salt: Int) = operators.Ann.annJoin(queries, hotCorpus,
        "query_id", "vec_id", "embedding", dim, k = 7,
        numPlanes = 6, maxHamming = 1, saltFactor = salt)
      .select("query_id", "vec_id", "rank")
    // cosine per pair is computed identically and the rank window orders
    // by (cosine desc, id) — so salted output is BIT-identical, not
    // merely equivalent
    assert(canon(run(4)) == canon(run(1)))
    intercept[IllegalArgumentException](run(0))
  }

  test("ivfJoin saltFactor: identical results under unbalanced clusters") {
    val idx = operators.Ann.ivfBuild(hotCorpus, "vec_id", "embedding",
      nlist = 4)
    val queries = (0 until 5).map(i => (i.toLong, randVec(800 + i, dim)))
      .toDF("query_id", "embedding")
    def run(salt: Int) = operators.Ann.ivfJoin(queries, idx,
        "query_id", "vec_id", "embedding", k = 7, nprobe = 2,
        saltFactor = salt)
      .select("query_id", "vec_id", "rank")
    assert(canon(run(4)) == canon(run(1)))
  }

  test("the salt bounds a hot key's per-task share") {
    // the operator's own salt expression over the planted hot ids: 400
    // rows share one bucket; over 4 salts no slice may keep more than
    // 45% (binomial mean 100, this sits >9 sigma out — deterministic
    // data, so the assert cannot flap)
    val ids = (0 until 400).map(i => 5000L + i).toDF("vec_id")
    val counts = ids
      .groupBy(operators.Skew.saltOf(col("vec_id"), 4).as("salt"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0L, 1L, 2L, 3L), s"salts: $counts")
    assert(counts.values.max <= 180, s"hot-key salt split too uneven: $counts")
  }

  test("bm25Join saltFactor: same scores under a stopword-heavy query table") {
    val docs = (0 until 120).map { i =>
      (i.toLong, s"the quick doc $i " + ("the " * (i % 7)) + s"word${i % 11}")
    }.toDF("doc_id", "text")
    // every query carries the stopword — the hot-term shape
    val queries = Seq(
      (0L, Seq("the", "word3")), (1L, Seq("the", "quick")),
      (2L, Seq("the", "word7")), (3L, Seq("the", "doc"))
    ).toDF("query_id", "terms")
    def run(salt: Int) = operators.Retrieval.bm25Join(queries, docs,
        "query_id", "terms", "doc_id", "text", k = Int.MaxValue,
        saltFactor = salt)
      .select(col("query_id"), col("doc_id"), round(col("score"), 9).as("s"))
    // equality up to per-(query, doc) summation order — absorbed at 9
    // decimals (scores are O(1) magnitudes)
    assert(canon(run(4)) == canon(run(1)))
    // and the salted plan must not re-concentrate the hot term: no
    // cartesian fallback (the one-row stats cross join is a broadcast
    // nested loop BY DESIGN — t12c's contract), and the df attach rides
    // a BroadcastHashJoin, never a by-term shuffle after the salt
    val salted = run(4)
    salted.collect()
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("hardNegatives: positives excluded, re-rank fills from below, k honored") {
    // doc 1 is the labeled positive AND the top BM25 hit for q0 — the
    // exclusion must bite and rank 1 must fall to the next-best doc
    val docs = Seq(
      (1L, "apple apple apple"),   // top hit, labeled positive
      (2L, "apple apple pear"),
      (3L, "apple pear pear"),
      (4L, "pear pear pear"),      // never matches q0
      (5L, "apple zzz yyy")
    ).toDF("doc_id", "text")
    val queries = Seq((0L, Seq("apple"))).toDF("query_id", "terms")
    val positives = Seq((0L, 1L)).toDF("query_id", "doc_id")
    val r = operators.Retrieval.hardNegatives(queries, docs, positives,
        "query_id", "terms", "doc_id", "text", k = 2,
        candidateK = Int.MaxValue)
      .orderBy("neg_rank")
      .collect().map(x => (x.getLong(1), x.getInt(3)))
    // tf=2 (doc 2) outranks tf=1; docs 3 and 5 tie on tf=1 but doc 3's
    // shorter... all length 3, so tf ties break to the smaller doc_id
    assert(r.length == 2 && r(0) == ((2L, 1)) && r(1)._2 == 2)
    assert(!r.map(_._1).contains(1L), "the positive must never surface")
    intercept[IllegalArgumentException] {
      operators.Retrieval.hardNegatives(queries, docs, positives,
        "query_id", "terms", "doc_id", "text", k = 5, candidateK = 2)
    }
  }

  test("hybridJoin equals the manual annJoin + bm25Join + rrfFuseGrouped composition") {
    val docs = (100 until 160).map { i =>
      (i.toLong, s"alpha doc $i " + ("beta " * (i % 4)) + s"word${i % 9}")
    }.toDF("doc_id", "text")
    val vecs = (100 until 160).map(i => (i.toLong, randVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (0 until 4).map(i =>
        (i.toLong, randVec(700 + i, dim), Seq("alpha", s"word${i * 2}")))
      .toDF("query_id", "embedding", "terms")
    val viaApi = operators.Retrieval.hybridJoin(queries, vecs, "vec_id",
      docs, "doc_id", "query_id", "embedding", "terms", "text",
      dim, topN = 5, numPlanes = 6)
    val ann = operators.Ann.annJoin(queries, vecs, "query_id", "vec_id",
        "embedding", dim, k = 5, numPlanes = 6)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("cosine").as("score"))
    val lex = operators.Retrieval.bm25Join(queries, docs, "query_id",
        "terms", "doc_id", "text", k = Int.MaxValue)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
    val manual = operators.Retrieval.rrfFuseGrouped(Seq(ann, lex),
      "query_id", "doc_id", "score", topN = 5)
    assert(canon(viaApi) == canon(manual))
    assert(viaApi.count() > 0)
    // the wrapper inherits the joins' equi-join guarantee: no cartesian
    // fallback anywhere (the one-row stats broadcast is BNLJ by design)
    viaApi.collect()
    val plan = viaApi.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bm25Join weighted terms: Robertson query-tf scaling") {
    val docs = (0 until 60).map { i =>
      (i.toLong, s"alpha beta doc $i " + ("alpha " * (i % 5)))
    }.toDF("doc_id", "text")
    def weightedQ(w: Double) = Seq((0L, Seq(("alpha", w))))
      .toDF("query_id", "terms_raw")
      .select(col("query_id"), transform(col("terms_raw"),
        t => struct(t.getField("_1").as("term"),
          t.getField("_2").as("weight"))).as("terms"))
    val plainQ = Seq((0L, Seq("alpha"))).toDF("query_id", "terms")
    def score(df: org.apache.spark.sql.DataFrame) =
      operators.Retrieval.bm25Join(df, docs, "query_id", "terms",
          "doc_id", "text", k = Int.MaxValue)
        .select("doc_id", "score")
    // weight 1.0 IS the unweighted arithmetic (×1.0 exact in IEEE)
    assert(canon(score(weightedQ(1.0))) == canon(score(plainQ)))
    // weight 2.0 exactly doubles a single-term query's scores (×2 exact)
    val doubled = score(weightedQ(2.0)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = score(plainQ).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(doubled.keySet == base.keySet)
    base.foreach { case (id, s) =>
      assert(doubled(id) == s * 2.0, s"doc $id: ${doubled(id)} vs ${s * 2.0}")
    }
    // repeated terms: weights sum before scoring (2×0.75 + 0.5 = 2.0)
    val repeated = Seq((0L, Seq(("alpha", 0.75), ("alpha", 0.75), ("alpha", 0.5))))
      .toDF("query_id", "terms_raw")
      .select(col("query_id"), transform(col("terms_raw"),
        t => struct(t.getField("_1").as("term"),
          t.getField("_2").as("weight"))).as("terms"))
    assert(canon(score(repeated)) == canon(score(weightedQ(2.0))))
    // malformed struct fields refuse loudly
    val bad = Seq((0L, Seq(("alpha", 1.0)))).toDF("query_id", "terms_raw")
      .select(col("query_id"), transform(col("terms_raw"),
        t => struct(t.getField("_1").as("word"),
          t.getField("_2").as("weight"))).as("terms"))
    intercept[IllegalArgumentException](score(bad))
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed range join equals naive cross-join filter, any bucket width") {
    val points = (0 until 200).map(i => (i.toLong, i * 3.7)).toDF("pid", "p")
    val ranges = (0 until 50).map(i => (i.toLong, i * 13.0, i * 13.0 + 25.5))
      .toDF("rid", "lo", "hi")
    val naive = points.crossJoin(ranges)
      .filter(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "rid")
    for (w <- Seq(1.0, 10.0, 100.0)) {
      val bucketed = operators.RangeJoin
        .pointInInterval(points, ranges, "p", "lo", "hi", w)
        .select("pid", "rid")
      assert(canon(bucketed) == canon(naive), s"bucketWidth=$w")
    }
    assert(naive.count() > 0)
  }

  test("interval-overlap join equals naive theta-join exactly once, any width") {
    // lengths straddle every tested bucket width; multi-bucket overlaps
    // exercise the canonical-bucket cut
    val a = (0 until 120).map(i => (i.toLong, i * 5.0, i * 5.0 + (i % 40)))
      .toDF("aid", "as", "ae")
    val b = (0 until 60).map(i => (i.toLong, i * 11.0, i * 11.0 + 17.0))
      .toDF("bid", "bs", "be")
    val naive = a.crossJoin(b)
      .filter(col("as") <= col("be") && col("bs") <= col("ae"))
      .select("aid", "bid")
    assert(naive.count() > 0)
    for (w <- Seq(2.0, 16.0, 64.0, 500.0)) {
      val bucketed = operators.RangeJoin
        .intervalOverlap(a, b, "as", "ae", "bs", "be", w)
        .select("aid", "bid")
      // canon preserves multiplicity: equality proves lossless AND
      // duplicate-free in one comparison
      assert(canon(bucketed) == canon(naive), s"bucketWidth=$w")
    }
  }

  test("interval-overlap join: touching endpoints are inclusive") {
    val a = Seq((1L, 0.0, 10.0)).toDF("aid", "as", "ae")
    val b = Seq((2L, 10.0, 20.0), (3L, 20.5, 30.0)).toDF("bid", "bs", "be")
    val got = operators.RangeJoin
      .intervalOverlap(a, b, "as", "ae", "bs", "be", 8.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }
}

class MultimodalSpec extends SparkSpec {

  test("payload + batched decode produces metadata struct per row") {
    import spark.implicits._
    val df = Seq((1L, "hello"), (2L, "a longer document text")).toDF("id", "text")
    val out = Multimodal.decodeImageMeta(Multimodal.withPayload(df, "text"))
    assert(out.schema("media_meta").dataType == Multimodal.mediaMetaType)
    // non-image bytes fall back to the deterministic pseudo-decode
    val r = out.filter(col("id") === 1).select("media_meta.*").head()
    assert(r.getInt(0) == 5 % 640 + 1 && r.getInt(1) == (5 * 7) % 480 + 1)
    assert(r.getString(3) == "fake")
    // frame sampling explodes deterministically
    val frames = Multimodal.sampleFrames(
      Multimodal.withPayload(df, "text"), stride = 10)
    assert(frames.filter(col("id") === 2).count() == 3) // 22 bytes -> offsets 0,10,20
  }

  test("imageHeader parses real encoder output (JDK ImageIO, all 4 formats)") {
    // files produced by the JDK's own encoders — real codecs, no stub bytes
    for ((fmt, w, h, ch) <- Seq(("png", 31, 17, 4), ("gif", 200, 99, 3),
        ("bmp", 64, 48, 3), ("jpg", 320, 240, 3))) {
      val img = new java.awt.image.BufferedImage(w, h,
        if (fmt == "png") java.awt.image.BufferedImage.TYPE_INT_ARGB
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"ImageIO lacks $fmt")
      val parsed = Multimodal.imageHeader(bos.toByteArray)
      val expFmt = if (fmt == "jpg") "jpeg" else fmt
      assert(parsed.exists { case (pw, ph, pc, pf) =>
        pw == w && ph == h && pc == ch && pf == expFmt }, s"$fmt: got $parsed")
    }
  }

  test("audioHeader parses synthetic WAVs, JDK-encoded WAVs, and rejects garbage") {
    // synthetic round-trip
    val b = Multimodal.syntheticWavBytes(16000, 2, 24, 1234L)
    assert(Multimodal.audioHeader(b).contains((16000, 2, 24, 1234L, "wav")))
    // cross-validate against a REAL encoder: javax.sound writes the RIFF
    // container, our parser must invert it
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val fmt = new AudioFormat(22050f, 16, 1, true, false)
    val frames = 777L
    val data = new java.io.ByteArrayInputStream(new Array[Byte]((frames * 2).toInt))
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(data, fmt, frames),
      AudioFileFormat.Type.WAVE, bos)
    assert(Multimodal.audioHeader(bos.toByteArray)
      .contains((22050, 1, 16, 777L, "wav")))
    // rejects: garbage, truncation, images
    assert(Multimodal.audioHeader("not audio at all".getBytes).isEmpty)
    assert(Multimodal.audioHeader(b.take(10)).isEmpty)
    assert(Multimodal.audioHeader(
      Multimodal.syntheticImageBytes("png", 4, 4)).isEmpty)
    assert(Multimodal.audioHeader(null).isEmpty)
    // hostile chunk sizes must terminate (no spin, no index exception):
    // a junk chunk declaring size 0xFFFFFFF8 would advance by 0 with Int math
    val hostile = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "junk".getBytes ++ Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    assert(Multimodal.audioHeader(hostile).isEmpty)
    // a truncated fmt chunk (declared size 4) must NOT yield garbage metadata
    val shortFmt = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ Array[Byte](4, 0, 0, 0) ++ Array[Byte](1, 0, 2, 0) ++
      "data".getBytes ++ Array[Byte](8, 0, 0, 0)
    assert(Multimodal.audioHeader(shortFmt).isEmpty)
  }

  test("videoHeader walks MP4 boxes and rejects non-video payloads") {
    val b = Multimodal.syntheticMp4Bytes(640, 360, 1000, 12345L)
    assert(Multimodal.videoHeader(b).contains((640, 360, 12345L, "mp4")))
    // non-1000 timescale: duration converts to ms with integer arithmetic
    val b2 = Multimodal.syntheticMp4Bytes(1920, 1080, 600, 1234L)
    assert(Multimodal.videoHeader(b2).contains((1920, 1080, 1234L * 1000 / 600, "mp4")))
    assert(Multimodal.videoHeader("definitely not an mp4 file".getBytes).isEmpty)
    assert(Multimodal.videoHeader(b.take(20)).isEmpty) // ftyp only: no moov
    assert(Multimodal.videoHeader(
      Multimodal.syntheticWavBytes(8000, 1, 16, 10)).isEmpty)
    assert(Multimodal.videoHeader(null).isEmpty)
  }

  test("pngPixelStats inverts the synthetic writer across all five filters") {
    for ((colorType, nc) <- Seq((2, 3), (6, 4)); seed <- Seq(0L, 7L, 123L)) {
      val (w, h) = (9, 11) // h > 5 so every filter type 0..4 is exercised
      val b = Multimodal.syntheticPngPixelBytes(seed, w, h, colorType)
      val Some((pw, ph, pc, mean, std)) = Multimodal.pngPixelStats(b)
      assert((pw, ph, pc) == ((w, h, nc)))
      // recompute from the closed-form pixel value
      for (c <- 0 until nc) {
        var sum = 0L; var sumSq = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val v = ((seed + x * 3 + y * 5 + c * 11) % 256).toInt
          sum += v; sumSq += v.toLong * v
        }
        val n = w.toLong * h
        val em = sum.toDouble / n
        val es = math.sqrt(math.max(sumSq.toDouble / n - em * em, 0.0))
        assert(mean(c) == em && std(c) == es, s"ct=$colorType seed=$seed c=$c")
      }
    }
  }

  test("pngPixelStats agrees with the JDK's own PNG encoder (ImageIO)") {
    val (w, h) = (23, 14)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 13 + y) % 256 << 24) | ((x + y * 17) % 256 << 16) |
        ((x * 7) % 256 << 8) | ((y * 29 + x * 3) % 256))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val Some((pw, ph, pc, mean, _)) = Multimodal.pngPixelStats(bos.toByteArray)
    assert((pw, ph, pc) == ((w, h, 4)))
    // PNG channel order R,G,B,A; recompute channel means from the image
    val sums = new Array[Long](4)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      sums(0) += (argb >> 16) & 0xFF; sums(1) += (argb >> 8) & 0xFF
      sums(2) += argb & 0xFF; sums(3) += (argb >>> 24) & 0xFF
    }
    for (c <- 0 until 4)
      assert(mean(c) == sums(c).toDouble / (w * h), s"channel $c")
  }

  test("decodePngPixels tags undecodable payloads instead of guessing") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticPngPixelBytes(1L, 5, 5, 2)),
      (2L, Multimodal.syntheticImageBytes("png", 8, 8)), // header-only, no IDAT
      (3L, Multimodal.syntheticImageBytes("gif", 8, 8)),
      (4L, "not an image".getBytes)).toDF("id", "payload")
    val out = Multimodal.decodePngPixels(rows)
      .select(col("id"), col("pixel_stats.format"), col("pixel_stats.mean"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.isNullAt(2))).toMap
    assert(out(1L) == (("png", false)))
    assert(out(2L) == (("undecodable", true)))
    assert(out(3L) == (("undecodable", true)))
    assert(out(4L) == (("undecodable", true)))
  }

  test("jpegPixelStats inverts the DC-only synthetic encoder exactly (gray + color)") {
    for (color <- Seq(false, true); seed <- Seq(0L, 7L, 123L)) {
      val (w, h) = (13, 10) // 2x2 block grid with edge-cropped blocks
      val b = Multimodal.syntheticJpegDcBytes(seed, w, h, color)
      val Some((pw, ph, pc, mean, std)) = Multimodal.jpegPixelStats(b)
      assert((pw, ph, pc) == ((w, h, if (color) 3 else 1)))
      var sum = 0L; var sumSq = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = 16 + ((seed + (x / 8) * 3 + (y / 8) * 5) % 224).toInt
        sum += v; sumSq += v.toLong * v
      }
      val n = w.toLong * h
      val em = sum.toDouble / n
      val es = math.sqrt(math.max(sumSq.toDouble / n - em * em, 0.0))
      for (c <- 0 until pc) // flat chroma -> R=G=B=Y exactly
        assert(mean(c) == em && std(c) == es, s"color=$color seed=$seed c=$c")
    }
  }

  test("jpegPixelStats decodes the JDK's own JPEG encoder output (real Huffman+IDCT)") {
    // TYPE_BYTE_GRAY -> the JDK writer emits a single-component baseline
    // scan (no chroma subsampling), i.e. real entropy data with real quant
    // tables and nonzero AC coefficients — full-pipeline cross-validation
    val (w, h) = (40, 25)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 11 + y * 23) % 200) + 20
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val Some((pw, ph, pc, mean, std)) = Multimodal.jpegPixelStats(bytes)
    assert((pw, ph, pc) == ((w, h, 1)))
    // reference decode via the JDK reader on the same bytes; lossy codec,
    // but the two IDCT implementations may differ only by rounding -> the
    // channel mean must agree to well under one gray level
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var sum = 0L
    val raster = ref.getRaster
    for (y <- 0 until h; x <- 0 until w) sum += raster.getSample(x, y, 0)
    val refMean = sum.toDouble / (w * h)
    assert(math.abs(mean(0) - refMean) < 0.5,
      s"fused decoder mean ${mean(0)} vs ImageIO $refMean")
    assert(std(0) > 0)
  }

  test("4:2:0 subsampled decode inverts the DC-only encoder exactly") {
    for (seed <- Seq(0L, 7L, 123L); (w, h) <- Seq((13, 10), (16, 16), (33, 18))) {
      val b = Multimodal.syntheticJpegDcBytes(seed, w, h, color = true,
        subsample420 = true)
      val Some((pw, ph, pc, mean, std)) = Multimodal.jpegPixelStats(b)
      assert((pw, ph, pc) == ((w, h, 3)))
      var sum = 0L; var sumSq = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = 16 + ((seed + (x / 8) * 3 + (y / 8) * 5) % 224).toInt
        sum += v; sumSq += v.toLong * v
      }
      val n = w.toLong * h
      val em = sum.toDouble / n
      val es = math.sqrt(math.max(sumSq.toDouble / n - em * em, 0.0))
      for (c <- 0 until 3) // flat 128 chroma upsamples to 128 -> R=G=B=Y
        assert(mean(c) == em && std(c) == es, s"seed=$seed ${w}x$h c=$c")
    }
  }

  test("4:2:0 decode handles the JDK encoder's real color output") {
    // the JDK writer emits 4:2:0 for RGB BufferedImages — real subsampled
    // chroma, real quant tables, nonzero ACs
    val (w, h) = (48, 33)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 5 + y * 2) % 200 + 20
      val g = (x * 3 + y * 7) % 200 + 20
      val bl = (x * 2 + y * 11) % 200 + 20
      img.setRGB(x, y, (r << 16) | (g << 8) | bl)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val Some((pw, ph, pc, mean, _)) = Multimodal.jpegPixelStats(bytes)
    assert((pw, ph, pc) == ((w, h, 3)))
    // reference decode via the JDK reader; our nearest-neighbor chroma
    // upsampling differs from ImageIO's interpolating one near chroma
    // edges, so compare channel MEANS with a small tolerance
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val sums = new Array[Long](3)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = ref.getRGB(x, y)
      sums(0) += (argb >> 16) & 0xFF; sums(1) += (argb >> 8) & 0xFF
      sums(2) += argb & 0xFF
    }
    for (c <- 0 until 3) {
      val refMean = sums(c).toDouble / (w * h)
      assert(math.abs(mean(c) - refMean) < 2.0,
        s"channel $c: fused ${mean(c)} vs ImageIO $refMean")
    }
  }

  test("chroma outsampling luma is rejected, not decoded at half-res luma") {
    // legal T.81 but outside the supported set: Y=1x1, Cb=Cr=2x2. Patch the
    // SOF sampling bytes of a valid 4:2:0 fixture (comp1 at SOF+11, then
    // every 3 bytes) and expect undecodable.
    val b = Multimodal.syntheticJpegDcBytes(5L, 16, 16, color = true,
      subsample420 = true)
    val sof = (0 until b.length - 1).find(i =>
      (b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xFF) == 0xC0).get
    val patched = b.clone()
    patched(sof + 11) = 0x11.toByte // Y 1x1
    patched(sof + 14) = 0x22.toByte // Cb 2x2
    patched(sof + 17) = 0x22.toByte // Cr 2x2
    assert(Multimodal.jpegPixelStats(patched).isEmpty,
      "chroma-outsamples-luma layouts must tag undecodable")
  }

  test("corrupt zero segment length returns None instead of stalling the task") {
    val b = Multimodal.syntheticJpegDcBytes(3L, 9, 9, color = false)
    // zero out the APP0 length bytes (offset 4-5 after SOI + FFE0 marker):
    // pos += len would never advance — the guard must bail out
    val corrupt = b.clone()
    corrupt(4) = 0; corrupt(5) = 0
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => { assert(Multimodal.jpegPixelStats(corrupt).isEmpty); done.set(true) })
    t.setDaemon(true); t.start(); t.join(5000)
    assert(done.get(), "corrupt-length decode must terminate promptly")
  }

  test("decodeJpegPixels tags unsupported/undecodable payloads instead of guessing") {
    import spark.implicits._
    val rows = Seq(
      (1L, Multimodal.syntheticJpegDcBytes(1L, 9, 9, color = false)),
      (2L, Multimodal.syntheticImageBytes("jpeg", 8, 8)), // header-only SOF, no scan
      (3L, Multimodal.syntheticImageBytes("png", 8, 8)),
      (4L, "not an image".getBytes),
      (5L, Multimodal.syntheticJpegDcBytes(2L, 9, 9, color = true).dropRight(10))) // truncated
      .toDF("id", "payload")
    val out = Multimodal.decodeJpegPixels(rows)
      .select(col("id"), col("pixel_stats.format"), col("pixel_stats.mean"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.isNullAt(2))).toMap
    assert(out(1L) == (("jpeg", false)))
    assert(out(2L) == (("undecodable", true)))
    assert(out(3L) == (("undecodable", true)))
    assert(out(4L) == (("undecodable", true)))
    assert(out(5L) == (("undecodable", true)))
  }

  test("imageHeader parses the synthetic fixture bytes and rejects non-images") {
    for (fmt <- Seq("png", "gif", "bmp", "jpeg")) {
      val b = Multimodal.syntheticImageBytes(fmt, 123, 45)
      val parsed = Multimodal.imageHeader(b)
      assert(parsed.exists { case (w, h, _, f) => w == 123 && h == 45 && f == fmt },
        s"$fmt: got $parsed")
    }
    assert(Multimodal.imageHeader("plain text".getBytes).isEmpty)
    assert(Multimodal.imageHeader(Array.emptyByteArray).isEmpty)
    assert(Multimodal.imageHeader(null).isEmpty)
    // truncated headers must not throw
    val png = Multimodal.syntheticImageBytes("png", 9, 9)
    assert(Multimodal.imageHeader(png.take(12)).isEmpty)
  }
}

class StreamsSpec extends SparkSpec {

  test("streaming read over pruned partitioned tree attaches partition columns") {
    import spark.implicits._
    val dir = tmpDir("stream_scan")
    Seq((1, "a"), (2, "b")).toDF("v", "s").write.parquet(s"$dir/p=keep")
    Seq((9, "z")).toDF("v", "s").write.parquet(s"$dir/p=drop")

    val sdf = graft.streaming.Streams.readPartitionedStream(
      spark, dir, query = graft.core.Q.eq("p", "keep"))
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("stream_scan_t").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_scan_t")
    assert(got.count() == 2) // pruned partition never read
    assert(got.select("p").distinct().collect().map(_.getString(0)).toSeq == Seq("keep"))

    // value-only layout via FixedColumnsParser
    val dir2 = tmpDir("stream_scan2")
    Seq((5, "q")).toDF("v", "s").write.parquet(s"$dir2/2024")
    val sdf2 = graft.streaming.Streams.readPartitionedStream(
      spark, dir2, parser = graft.core.FixedColumnsParser.fromStr("yr/fname"))
    val q2 = sdf2.writeStream.outputMode("append")
      .format("memory").queryName("stream_scan_t2").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("stream_scan_t2")
    assert(got2.select("yr").head().getString(0) == "2024")
    assert(got2.select("fname").head().getString(0).endsWith(".parquet"))
  }

  test("refreshPartitions picks up partition dirs created after stream start") {
    import spark.implicits._
    val dir = tmpDir("stream_refresh")
    Seq((1, "a")).toDF("v", "s").write.parquet(s"$dir/p=keep1")
    val sdf = graft.streaming.Streams.readPartitionedStream(
      spark, dir, query = graft.core.Q.in("p", Seq("keep1", "keep2")),
      refreshPartitions = true)
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("stream_refresh_t").start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_refresh_t").count() == 1)
      // NEW partitions appear mid-stream: a matching one and a pruned one
      Seq((2, "b"), (3, "c")).toDF("v", "s").write.parquet(s"$dir/p=keep2")
      Seq((9, "z")).toDF("v", "s").write.parquet(s"$dir/p=drop")
      q.processAllAvailable()
      val got = spark.table("stream_refresh_t")
      assert(got.count() == 3, "mid-stream partition must flow through")
      assert(got.select("p").distinct().collect().map(_.getString(0)).sorted.toSeq
        == Seq("keep1", "keep2"), "row-level partition filter must still prune")
    } finally q.stop()
    // opaque predicates cannot be refreshed — clear error, not silent wrong results
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.readPartitionedStream(
        spark, dir, query = graft.core.Q.atomic(Set("p"))(m => m("p") != "drop"),
        refreshPartitions = true)
    }
  }

  test("refreshPartitions drops stray files outside the partition layout") {
    import spark.implicits._
    val dir = tmpDir("stream_stray")
    Seq((1, "a")).toDF("v", "s").write.parquet(s"$dir/p=keep")
    val sdf = graft.streaming.Streams.readPartitionedStream(
      spark, dir, refreshPartitions = true)
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("stream_stray_t").start()
    try {
      q.processAllAvailable()
      // a stray root-level file and a wrong-depth nest appear mid-stream:
      // their rows must NOT surface with null/garbage partition columns
      Seq((9, "z")).toDF("v", "s").write.parquet(s"$dir/stray_rootdir")
      q.processAllAvailable()
      val got = spark.table("stream_stray_t")
      assert(got.count() == 1, "stray files must be dropped by the layout guard")
      assert(got.select("p").head.getString(0) == "keep")
    } finally q.stop()
  }

  test("streaming windowed agg over finite events source completes and aggregates") {
    val agg = graft.streaming.Streams.windowedAgg(
      graft.streaming.Streams.eventsStream(spark, "/root/testdata/sf0.001"))
    val out = graft.streaming.Streams.runToMemory(agg, "st_test")
    assert(out.count() > 0)
    // total event count preserved
    val total = out.agg(sum("n")).head().getLong(0)
    val batch = Fixtures.events(spark, "/root/testdata/sf0.001").count()
    assert(total == batch)
  }

  test("partitioned sink: stream lands as hive dirs, batch-readable, resumes from checkpoint") {
    import spark.implicits._
    val src = tmpDir("sink_src")
    val out = tmpDir("sink_out") + "/table" // must not pre-exist as empty dir
    val cp = tmpDir("sink_cp")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "p", "v")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    def startSink() = graft.streaming.Streams.writePartitionedStream(
      spark.readStream.schema(schema).parquet(src), out, Seq("p"), cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val q = startSink()
    try q.processAllAvailable() finally q.stop()
    // hive k=v layout on disk, readable through the discovery scan path
    val back1 = graft.api.Graft.readPartitionedTable(spark, out).select("id", "p", "v")
    assert(canon(back1) == canon(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "p", "v")))

    // new source data + a RESTARTED query: the checkpoint must resume (no
    // reprocessing => no duplicate rows), new partition dirs appear
    Seq((3L, "c", 3.5)).toDF("id", "p", "v").write.mode("append").parquet(src)
    val q2 = startSink()
    try q2.processAllAvailable() finally q2.stop()
    val back2 = graft.api.Graft.readPartitionedTable(spark, out).select("id", "p", "v")
    assert(back2.count() == 3, "checkpoint resume must not duplicate batch 0")
    assert(back2.filter(col("p") === "c").count() == 1)
    // the sink's manifest dir exists but never surfaces as data
    assert(new java.io.File(out + "/_spark_metadata").exists())

    // contract checks
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.writePartitionedStream(
        spark.read.parquet(src), out, Seq("p"), cp) // batch df
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.writePartitionedStream(
        spark.readStream.schema(schema).parquet(src), out, Seq("nope"), cp)
    }
  }

  test("manifest reconcile deletes orphans, keeps committed files; compaction guarded") {
    import spark.implicits._
    val src = tmpDir("rec_src")
    val out = tmpDir("rec_out") + "/table"
    val cp = tmpDir("rec_cp")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "p", "v")
      .coalesce(1) // one source file -> one sink task -> one file per p dir
      .write.mode("overwrite").parquet(src)
    val q = graft.streaming.Streams.writePartitionedStream(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      out, Seq("p"), cp)
    try q.processAllAvailable() finally q.stop()

    // plant an orphan: a data-shaped file the manifest never committed
    // (what a failed batch attempt leaves behind)
    val dirA = new java.io.File(out, "p=a")
    val committedFile = dirA.listFiles().filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(dirA, "part-orphan-deadbeef.snappy.parquet")
    java.nio.file.Files.copy(committedFile.toPath, orphan.toPath)

    // listing-based read sees the duplicates (the orphan carries both p=a
    // rows)
    assert(graft.api.Graft.readPartitionedTable(spark, out).count() == 5)
    // the orphan was JUST written — within the grace window it could be
    // another writer's in-flight batch, so it is spared and reported
    val fresh = graft.api.Graft.reconcilePartitionedSink(spark, out)
    assert(fresh.orphansDeleted == 0 && fresh.inFlightSpared == 1 && orphan.exists())
    // age it past the grace window: now a true orphan; dryRun counts but keeps
    assert(orphan.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val dry = graft.api.Graft.reconcilePartitionedSink(spark, out, dryRun = true)
    assert(dry.orphansDeleted == 1 && dry.inFlightSpared == 0 && orphan.exists())
    assert(dry.committedFiles == 2) // one file per partition dir

    val real = graft.api.Graft.reconcilePartitionedSink(spark, out)
    assert(real.orphansDeleted == 1 && !orphan.exists())
    assert(committedFile.exists(), "committed files must survive")
    assert(graft.api.Graft.readPartitionedTable(spark, out)
      .select("id", "p").count() == 3, "back to the exactly-once file set")

    // compacting a manifest-bearing table must refuse (reconcile would
    // otherwise delete the rewrites)
    val e = intercept[IllegalArgumentException] {
      graft.api.Graft.compactPartitionedTable(spark, out)
    }
    assert(e.getMessage.contains("_spark_metadata"))
    // non-sink table refuses reconcile
    val plain = tmpDir("rec_plain")
    Seq((1L, "a")).toDF("id", "p").write.mode("overwrite").partitionBy("p").parquet(plain)
    intercept[IllegalArgumentException] {
      graft.api.Graft.reconcilePartitionedSink(spark, plain)
    }
  }

  test("reconcile refuses while an active query writes to the table; dryRun stays available") {
    import spark.implicits._
    val src = tmpDir("recact_src")
    val out = tmpDir("recact_out") + "/table"
    val cp = tmpDir("recact_cp")
    Seq((1L, "a", 1.0)).toDF("id", "p", "v").write.mode("overwrite").parquet(src)
    val q = graft.streaming.Streams.writePartitionedStream(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
      out, Seq("p"), cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(60000))
    try {
      q.processAllAvailable() // first batch committed; query stays ACTIVE
      val e = intercept[IllegalArgumentException] {
        graft.api.Graft.reconcilePartitionedSink(spark, out)
      }
      assert(e.getMessage.contains("active streaming"), e.getMessage)
      // read-only inspection is allowed mid-stream
      val dry = graft.api.Graft.reconcilePartitionedSink(spark, out, dryRun = true)
      assert(dry.orphansDeleted == 0 && dry.committedFiles == 1)
    } finally q.stop()
    // stopped writer: the deleting pass goes through (and finds no orphans)
    val after = graft.api.Graft.reconcilePartitionedSink(spark, out)
    assert(after.orphansDeleted == 0 && after.committedFiles == 1)
  }

  test("activeFileSinks resolves the sink path reflectively (never the fail-closed sentinel) for a live query") {
    import spark.implicits._
    val src = tmpDir("afs_src")
    val out = tmpDir("afs_out") + "/table"
    val cp = tmpDir("afs_cp")
    Seq((1L, "a")).toDF("id", "p").write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      // a long-interval trigger made processAllAvailable wait out most of
      // a full 60 s period (the test spent 60 s idle); 2 s keeps the query
      // equally live-and-idle at reflection time without the dead wait
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(2000))
      .start()
    try {
      q.processAllAvailable()
      val sinks = org.apache.spark.sql.GraftInternals.activeFileSinks(spark)
      val mine = sinks.filter(_._2.contains(new java.io.File(cp).getName))
      assert(mine.nonEmpty, s"live file sink must be listed; got $sinks")
      assert(mine.forall(_._1.endsWith("/table")),
        s"reflection must recover the real path, got ${mine.map(_._1)}")
      assert(mine.forall(_._1 != org.apache.spark.sql.GraftInternals.UnresolvedSinkPath))
    } finally q.stop()
  }

  test("heavy-hitters sketch aggregates in streaming complete mode (matches batch counts)") {
    val ev = graft.streaming.Streams.eventsStream(spark, "/root/testdata/sf0.001")
    val agg = ev.groupBy().agg(graft.functions.HeavyHitters
      .heavyHitters(col("event_type"), 3, 64).as("hh"))
    val out = graft.streaming.Streams.runToMemory(agg, "st_hh")
      .select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = Fixtures.events(spark, "/root/testdata/sf0.001")
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (k, v) => (-v, k) }.take(3).toSeq
    assert(out == batch, "streaming sketch must equal exact batch top-k")
  }

  test("streaming exact dedup emits one row per key (matches batch distinct)") {
    val ev = graft.streaming.Streams.eventsStream(spark, "/root/testdata/sf0.001")
    val out = graft.streaming.Streams.runToMemory(
      graft.streaming.Streams.streamDedup(ev, Seq("user_id", "event_type"))
        .select("user_id", "event_type"),
      "st_dedup_test", outputMode = "append")
    val batch = Fixtures.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_type").distinct()
    assert(out.count() == batch.count())
    assert(out.exceptAll(batch).count() == 0)
  }

  // ---- fixture-independent operator pins. st2/st5 ride Fixtures.events,
  // whose driver-owned schema has shifted under the repo before (r10:
  // NANOS→MICROS); these synthetic-frame specs keep the OPERATORS' gap/
  // boundary semantics covered even when a fixture shifts.

  test("session_window boundaries on a synthetic frame: exactly-gap merges, one micro past splits") {
    import spark.implicits._
    val minUs = 60L * 1000000L // a minute of epoch-micros
    // user 1: events at 0, 9m59.999999s (< gap, extends), then 25m (new
    // session). user 2: a second event at EXACTLY the 10m gap — touching
    // windows MERGE (Spark's boundary semantics: [0,10m) and [10m,20m)
    // join), so it must CONTINUE the session. user 3: one micro PAST the
    // gap — the first instant that starts a new session. These boundary
    // cases are what a fixture change would otherwise leave unpinned.
    val rows = Seq(
      (1L, 0L), (1L, 10L * minUs - 1L), (1L, 25L * minUs),
      (2L, 0L), (2L, 10L * minUs),
      (3L, 0L), (3L, 10L * minUs + 1L))
    val df = rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val sessions = df
      .groupBy(session_window(col("ts"), "10 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("session_start"))
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sessions == Set(
      (1L, 0L, 2L), (1L, 25L * minUs, 1L),
      (2L, 0L, 2L),
      (3L, 0L, 1L), (3L, 10L * minUs + 1L, 1L)), s"got $sessions")
  }

  test("streamTimeJoin lookback boundaries on synthetic streams (micros precision)") {
    import spark.implicits._
    val minUs = 60L * 1000000L
    val leftDir = tmpDir("stj_left")
    val rightDir = tmpDir("stj_right")
    // one click at t=20m; views at exactly t-10m (included: >= boundary),
    // one micro later (included), at t exactly (included: <= boundary),
    // one micro after t (excluded), and one micro before t-10m (excluded)
    Seq((100L, 7L, 20L * minUs)).toDF("click_id", "user_id", "us")
      .select(col("click_id"), col("user_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(leftDir)
    Seq(
      (1L, 7L, 10L * minUs), (2L, 7L, 10L * minUs + 1L), (3L, 7L, 20L * minUs),
      (4L, 7L, 20L * minUs + 1L), (5L, 7L, 10L * minUs - 1L),
      (6L, 8L, 15L * minUs)) // right user, in range — key must still match
      .toDF("view_id", "user_id", "us")
      .select(col("view_id"), col("user_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(rightDir)
    def stream(dir: String) = {
      val schema = spark.read.parquet(dir).schema
      spark.readStream.schema(schema).parquet(dir)
    }
    val joined = graft.streaming.Streams.streamTimeJoin(
        stream(leftDir), stream(rightDir), "user_id", lookback = "10 minutes")
      .select(col("click_id"), col("view_id"))
    val got = graft.streaming.Streams.runToMemory(
        joined, "stj_boundary_test", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 1L), (100L, 2L), (100L, 3L)), s"got $got")
  }
}

/** Numeric properties of the approximate operators that the hash gates
  * cannot see directly. q19's gate emits exact counts + within-band
  * booleans (oracle-comparable since r12); this suite keeps the RAW
  * estimates pinned — the error band itself, run-to-run determinism, and
  * partition-invariance of the register merge. */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  test("q19 HLL++ counts stay within 5% of exact per group at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val li = spark.read.option("pathGlobFilter", "lineitem.parquet").parquet(dir)
    def approxOf(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("p"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("o"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = approxOf(li)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("p"), countDistinct("l_orderkey").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet, s"groups: ${approx.keySet} vs ${exact.keySet}")
    // the gate's band parameters: |approx-exact|/exact <= 0.05 per group
    // and column — a regression in seed/rsd handling lands far outside this
    exact.foreach { case (flag, (ep, eo)) =>
      val (ap, ao) = approx(flag)
      assert(math.abs(ap - ep).toDouble / ep <= 0.05,
        s"l_partkey group $flag: approx $ap vs exact $ep")
      assert(math.abs(ao - eo).toDouble / eo <= 0.05,
        s"l_orderkey group $flag: approx $ao vs exact $eo")
    }
    // determinism: same sketch parameters, same data -> same estimate, or
    // the gate's band booleans (and any driver re-run) would flap
    assert(approxOf(li) == approx, "approx_count_distinct must be deterministic")
    // and the GATE itself must agree: every band boolean true, exact
    // columns equal to the engine's own countDistinct
    val gate = SparkEntry.queries("q19_approx_hll")(spark, dir).collect()
    assert(gate.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      s"gate band booleans not all true: ${gate.mkString(" | ")}")
    assert(gate.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      == exact, "gate exact columns disagree with countDistinct")
    // partition-invariance: HLL registers merge commutatively, so the SAME
    // rows through ANY partitioning must produce the IDENTICAL estimate —
    // this is what makes the estimate stable across cluster sizes and AQE
    // re-plans at 100 TB, not just across reruns on one layout
    def hllByPartitioning(repartitioned: org.apache.spark.sql.DataFrame) =
      repartitioned.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("p"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("o"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val one = hllByPartitioning(li.repartition(1))
    val byKey = hllByPartitioning(li.repartition(13, col("l_orderkey")))
    val scattered = hllByPartitioning(li.repartition(29, col("l_partkey")))
    assert(one == byKey && one == scattered,
      s"HLL estimate must be partition-invariant: 1-part $one vs " +
        s"13-by-orderkey $byKey vs 29-by-partkey $scattered")
  }
}
