package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Sampling}

/** MMR re-rank pinned against a driver-side reference greedy that uses the
  * IDENTICAL double arithmetic (sequential fold cosine, λ·rel − (1−λ)·max). */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  private def refCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Reference greedy MMR over one query's candidate list. */
  private def refMmr(
      cands: Seq[(Long, Array[Float], Double)],
      k: Int, lambda: Double): Seq[(Long, Int)] = {
    var picked = Vector.empty[(Long, Array[Float])]
    var out = Vector.empty[(Long, Int)]
    for (step <- 1 to k) {
      val remaining = cands.filterNot(c => picked.exists(_._1 == c._1))
      val scored = remaining.map { case (id, v, rel) =>
        val score =
          if (picked.isEmpty) rel
          else lambda * rel -
            (1.0 - lambda) * picked.map(p => refCosine(v, p._2)).max
        (id, v, score)
      }
      val best = scored.minBy { case (id, _, s) => (-s, id) }
      picked :+= ((best._1, best._2))
      out :+= ((best._1, step))
    }
    out
  }

  private def mkCands(queryId: Long, rows: Seq[(Long, Array[Float])],
      query: Array[Float]): Seq[(Long, Array[Float], Double)] =
    rows.map { case (id, v) => (id, v, refCosine(v, query)) }

  /** Deterministic pseudo-random vectors (no RNG in tests that pin values). */
  private def vec(seed: Long, dim: Int): Array[Float] =
    Array.tabulate(dim)(i => (((seed * 31 + i * 17) % 97) - 48) / 48.0f)

  test("mmrRerank equals the reference greedy over pseudo-random candidates") {
    val query = vec(7, 8)
    val rows = (1L to 15L).map(id => (id, vec(id * 13 + 1, 8)))
    val cands = mkCands(0L, rows, query)
    val df = cands.map { case (id, v, rel) => (0L, id, v.toSeq, rel) }
      .toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    for (lambda <- Seq(0.5, 0.7)) {
      val got = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel",
          k = 5, lambda = lambda)
        .orderBy("step").collect()
        .map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(got === refMmr(cands, 5, lambda), s"lambda=$lambda")
    }
  }

  test("lambda = 1.0 degenerates to pure relevance ranking") {
    val query = vec(3, 8)
    val rows = (1L to 10L).map(id => (id, vec(id * 7 + 5, 8)))
    val cands = mkCands(0L, rows, query)
    val df = cands.map { case (id, v, rel) => (0L, id, v.toSeq, rel) }
      .toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel",
        k = 4, lambda = 1.0)
      .orderBy("step").collect().map(_.getLong(1)).toSeq
    val byRel = cands.sortBy { case (id, _, rel) => (-rel, id) }
      .take(4).map(_._1)
    assert(got === byRel)
  }

  test("diversification: near-duplicate of the seed loses to a distinct doc") {
    // seed direction (id 1), an almost-identical duplicate (id 2), and a
    // clearly different direction (id 3); with λ=0.5 the duplicate's
    // marginal gain collapses and step 2 must take the distinct doc
    val a = Array(1.0f, 0.0f, 0.0f, 0.1f)
    val dup = Array(0.999f, 0.01f, 0.0f, 0.1f)
    val div = Array(0.1f, 1.0f, 0.3f, 0.0f)
    val query = Array(0.9f, 0.1f, 0.05f, 0.1f)
    val cands = mkCands(0L, Seq((1L, a), (2L, dup), (3L, div)), query)
    val df = cands.map { case (id, v, rel) => (0L, id, v.toSeq, rel) }
      .toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel", k = 2)
      .orderBy("step").collect().map(_.getLong(1)).toSeq
    assert(got === refMmr(cands, 2, 0.5).map(_._1))
    // the distinct doc displaces the near-duplicate at step 2 — pure
    // relevance (λ=1) would have taken both members of the dup pair
    assert(got(1) === 3L)
    val pureRel = cands.sortBy { case (id, _, rel) => (-rel, id) }
      .take(2).map(_._1)
    assert(pureRel.toSet === Set(1L, 2L))
  }

  /** Long-id candidates for one query (query_id 0) and the reference
    * greedy over them. */
  private def longCands(seed: Long, mult: Long, n: Long = 10L)
      : (DataFrame, Seq[(Long, Array[Float], Double)]) = {
    val cands = mkCands(0L, (1L to n).map(id => (id, vec(id * mult + seed, 8))),
      vec(seed, 8))
    val df = cands.map { case (id, v, rel) => (0L, id, v.toSeq, rel) }
      .toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    (df, cands)
  }

  private def picks(out: DataFrame, id: Row => Long): Seq[(Long, Int)] =
    out.orderBy("step").collect().map(r => (id(r), r.getInt(2))).toSeq

  test("double ids equal the reference greedy") {
    val (long, cands) = longCands(5, 11)
    val dbl = long.withColumn("vec_id", col("vec_id").cast("double"))
    val got = picks(Ann.mmrRerank(dbl, "query_id", "vec_id", "embedding", "rel",
      k = 4), _.getDouble(1).toLong)
    assert(got === refMmr(cands, 4, 0.5))
  }

  test("double query keys run one grouped pass: no join, one hash exchange") {
    val (long, cands) = longCands(9, 7)
    val dblQ = long.withColumn("query_id", col("query_id").cast("double"))
    val out = Ann.mmrRerank(dblQ, "query_id", "vec_id", "embedding", "rel", k = 4)
    assert(picks(out, _.getLong(1)) === refMmr(cands, 4, 0.5))
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), plan)
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
    assert(out.queryExecution.analyzed.toString.contains("MapGroups"),
      out.queryExecution.analyzed.toString)
  }

  test("binary ids equal the reference greedy (byte order is id order)") {
    // 8-byte big-endian positive longs: unsigned byte order = numeric order
    val (long, cands) = longCands(4, 13)
    val bytes = udf((id: Long) => java.nio.ByteBuffer.allocate(8).putLong(id).array())
    val bin = long.withColumn("vec_id", bytes(col("vec_id")))
    val got = picks(Ann.mmrRerank(bin, "query_id", "vec_id", "embedding", "rel",
      k = 4), r => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](1)).getLong)
    assert(got === refMmr(cands, 4, 0.5))
  }

  test("query keys -0.0 and 0.0 are one query") {
    // the k picks are made over the rows of both keys together
    val (long, cands) = longCands(6, 5)
    val split = long.withColumn("query_id",
      when(col("vec_id") % 2 === 0, lit(-0.0)).otherwise(lit(0.0)))
    val got = picks(Ann.mmrRerank(split, "query_id", "vec_id", "embedding", "rel",
      k = 4), _.getLong(1))
    assert(got === refMmr(cands, 4, 0.5))
  }

  test("struct query keys group per struct value") {
    val (a, candsA) = longCands(3, 7, n = 6)
    val (b, candsB) = longCands(8, 3, n = 6)
    val df = a.withColumn("query_id", struct(lit("a").as("s"), lit(1L).as("n")))
      .unionByName(b.withColumn("query_id", struct(lit("a").as("s"), lit(2L).as("n"))))
    val rows = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel", k = 3)
      .collect()
    for ((n, cs) <- Seq(1L -> candsA, 2L -> candsB)) {
      val got = rows.filter(_.getStruct(0).getLong(1) == n).sortBy(_.getInt(2))
        .map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(got === refMmr(cs, 3, 0.5), s"query n=$n")
    }
  }

  test("null query values are one query") {
    val (long, cands) = longCands(2, 9)
    val nulls = long.withColumn("query_id", lit(null).cast("long"))
    val out = Ann.mmrRerank(nulls, "query_id", "vec_id", "embedding", "rel", k = 4)
      .collect()
    assert(out.forall(_.isNullAt(0)))
    assert(out.sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getInt(2))).toSeq ===
      refMmr(cands, 4, 0.5))
  }

  test("a string-id tie breaks by UTF-8 byte order, not UTF-16") {
    // U+FF61 sorts before U+10000 in UTF-8 bytes (EF.. < F0..) but after
    // it in Java's UTF-16 order (FF61 > D800); identical vectors and
    // relevance tie every score
    val df = Seq(("\uD800\uDC00", Seq(1.0f, 0.0f), 0.5), ("\uFF61", Seq(1.0f, 0.0f), 0.5))
      .toDF("vec_id", "embedding", "rel").withColumn("query_id", lit(0L))
    val got = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel", k = 2)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    assert(got === Seq("\uFF61", "\uD800\uDC00"))
  }

  test("the default candidate cap refuses shortlists above 65536") {
    // the default must fire while one task buffers a shortlist-scale
    // list — NOT after it has accumulated a corpus-scale buffer
    val big = spark.range(70000).select(
      lit(0L).as("query_id"), col("id").as("vec_id"),
      array(lit(1.0f), lit(0.5f)).as("embedding"), lit(1.0).as("rel"))
    val e = intercept[org.apache.spark.SparkException] {
      Ann.mmrRerank(big, "query_id", "vec_id", "embedding", "rel", k = 1)
        .collect()
    }
    assert(e.getMessage.contains("maxCandidatesPerQuery") ||
      Option(e.getCause).exists(_.getMessage.contains("maxCandidatesPerQuery")))
  }

  test("kernel refuses a candidate list above maxCandidatesPerQuery") {
    val query = vec(2, 4)
    val rows = (1L to 6L).map(id => (id, vec(id * 3 + 1, 4)))
    val df = mkCands(0L, rows, query)
      .map { case (id, v, rel) => (0L, id, v.toSeq, rel) }
      .toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val e = intercept[org.apache.spark.SparkException] {
      Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel", k = 2,
        maxCandidatesPerQuery = 5).collect()
    }
    assert(e.getMessage.contains("maxCandidatesPerQuery") ||
      Option(e.getCause).exists(_.getMessage.contains("maxCandidatesPerQuery")))
  }

  test("multi-query independence and plan has no cartesian/nested-loop join") {
    val qs = Seq(0L -> vec(3, 8), 1L -> vec(11, 8))
    val rowsPerQ = qs.map { case (qid, query) =>
      qid -> mkCands(qid, (1L to 8L).map(id => (id, vec(id * 5 + qid, 8))), query)
    }
    val df = rowsPerQ.flatMap { case (qid, cs) =>
      cs.map { case (id, v, rel) => (qid, id, v.toSeq, rel) }
    }.toDF("query_id", "vec_id", "embedding", "rel")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Ann.mmrRerank(df, "query_id", "vec_id", "embedding", "rel", k = 3)
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    for ((qid, cs) <- rowsPerQ) {
      val got = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(2))
        .map(_.getLong(1)).toSeq
      assert(got === refMmr(cs, 3, 0.5).map(_._1), s"query $qid")
    }
  }
}

/** Streaming left-outer time join: matched pairs plus watermark-proven
  * null extensions, via the staged-files + sentinel replay pattern. */
class StreamOuterJoinSpec extends SparkSpec {
  import spark.implicits._

  test("unmatched left rows null-extend; matched rows pair as inner") {
    val base = tmpDir("outerjoin") + "/src"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // click 100 has a view 5 min before (match); click 101's only view is
    // 20 min before (outside the 10-min lookback); click 102 has none.
    val data = Seq(
      (100L, 1L, ts(10), "click"), (900L, 1L, ts(5), "view"),
      (101L, 2L, ts(30), "click"), (901L, 2L, ts(10), "view"),
      (102L, 3L, ts(40), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    data.coalesce(1).write.parquet(base)
    def sentinel(days: Int) = Seq(
      (-1L, -1L, new java.sql.Timestamp(t0.getTime + days * 86400000L), "click"),
      (-2L, -1L, new java.sql.Timestamp(t0.getTime + days * 86400000L), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    sentinel(30).coalesce(1).write.mode("append").parquet(base)
    sentinel(60).coalesce(1).write.mode("append").parquet(base)
    val schema = spark.read.parquet(base).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(base)
    val clicks = stream.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts")
    val views = stream.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts")
    val joined = graft.streaming.Streams.streamTimeJoin(
        clicks, views, "user_id", lookback = "10 minutes",
        delay = "1 minute", joinType = "left_outer")
      .select($"click_id", $"view_id")
    val got = graft.streaming.Streams.runToMemory(
        joined, "outer_spec", outputMode = "append")
      .filter($"click_id" >= 0)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(got === Set((100L, Some(900L)), (101L, None), (102L, None)))
  }
}

/** Distribution-matching downsample: every acceptance decision replayed on
  * the driver from the documented BIGINT inequality. */
class MatchDistributionSpec extends SparkSpec {
  import spark.implicits._

  private def h(salt: String, id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + id.toString).getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(3).map(b => f"$b%02x").mkString.take(5), 16)
  }

  private def df(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("id", "bin")

  test("acceptance matches the documented inequality row by row") {
    // bins 0/1/2 with 40/20/10 rows — uniform target makes bin 2 (highest
    // w/n) the keep-everything reference
    val rows = (0L until 70L).map(i => (i, if (i < 40) 0L else if (i < 60) 1L else 2L))
    val got = Sampling.matchDistribution(df(rows), "bin", "id", salt = "s1")
      .select("id").as[Long].collect().toSet
    val n = Map(0L -> 40L, 1L -> 20L, 2L -> 10L)
    val expected = rows.filter { case (id, bin) =>
      h("s1", id) * n(bin) * 1L < 1048576L * 1L * 10L
    }.map(_._1).toSet
    assert(got === expected)
    // the reference bin keeps everything
    assert(rows.filter(_._2 == 2L).map(_._1).toSet.subsetOf(got))
  }

  test("weighted target: zero-weight bin drops entirely, absent bin drops") {
    val rows = (0L until 30L).map(i => (i, i % 3))
    val kept = Sampling.matchDistribution(df(rows), "bin", "id",
        target = Map(0L -> 3L, 1L -> 0L), salt = "s2")
      .select("id", "bin").as[(Long, Long)].collect()
    assert(kept.forall(_._2 == 0L)) // bin 1 zero-weight, bin 2 absent
    assert(kept.map(_._1).toSet === rows.filter(_._2 == 0L).map(_._1).toSet)
  }

  test("partition-invariant: repartitioned input keeps the identical set") {
    val rows = (0L until 200L).map(i => (i, i % 4))
    val a = Sampling.matchDistribution(df(rows), "bin", "id")
      .select("id").as[Long].collect().toSet
    val b = Sampling.matchDistribution(df(rows).repartition(13), "bin", "id")
      .select("id").as[Long].collect().toSet
    assert(a === b)
  }

  test("null bins and null ids are excluded") {
    val rows = Seq((Some(1L), Some(0L)), (None, Some(0L)), (Some(2L), None))
      .toDF("id", "bin")
    val kept = Sampling.matchDistribution(rows, "bin", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
  }
}
