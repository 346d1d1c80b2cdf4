package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Expect, Graph, Sampling, Sessionize}

/** Gap-based batch sessionization: boundary contract, exact measure sums,
  * and the one-shuffle plan shape the scaladoc promises. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gap of exactly the threshold stays in the session; one more second breaks") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0),
      (1L, ts("2024-01-01 01:00:00"), 2.0),   // gap = 3600 s = threshold → stays
      (1L, ts("2024-01-01 02:00:01"), 3.0),   // gap = 3601 s → new session
      (2L, ts("2024-01-01 00:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val out = Sessionize.sessionize(events, "user_id", "ts", gapSeconds = 3600,
        measures = Seq("value" -> "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out.size == 3)
    val s1 = out((1L, 1L))
    assert(s1.getAs[Long]("n_events") == 2L)
    assert(s1.getAs[Double]("sum_value") == 3.0)
    assert(s1.getAs[Timestamp]("session_start") == ts("2024-01-01 00:00:00"))
    assert(s1.getAs[Timestamp]("session_end") == ts("2024-01-01 01:00:00"))
    val s2 = out((1L, 2L))
    assert(s2.getAs[Long]("n_events") == 1L)
    assert(s2.getAs[Double]("sum_value") == 3.0)
    assert(out((2L, 1L)).getAs[Long]("n_events") == 1L)
  }

  test("equal timestamps share a session regardless of input order") {
    val base = Seq(
      (7L, ts("2024-01-01 00:00:00"), 1.0),
      (7L, ts("2024-01-01 00:00:00"), 2.0),
      (7L, ts("2024-01-01 09:00:00"), 3.0))
    val a = Sessionize.sessionize(base.toDF("user_id", "ts", "value"),
      "user_id", "ts", 3600, Seq("value" -> "value"))
    val b = Sessionize.sessionize(base.reverse.toDF("user_id", "ts", "value")
        .repartition(3),
      "user_id", "ts", 3600, Seq("value" -> "value"))
    assert(canon(a) == canon(b))
    assert(a.count() == 2)
  }

  test("one shuffle serves windows and rollup: a single Exchange in the plan") {
    val events = (0 until 200)
      .map(i => (i.toLong % 5, ts(f"2024-01-01 ${i % 24}%02d:00:00"), 1.0))
      .toDF("user_id", "ts", "value").repartition(4)
    val out = Sessionize.sessionize(events, "user_id", "ts", 1800,
      Seq("value" -> "value"))
    out.collect()
    // final-plan section only (AQE echoes the initial plan below it); the
    // test's own round-robin repartition is not a hash exchange
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }
}

/** Nearest as-of, debounce, and tf-idf keyword extraction. */
class NearestDebounceTfidfSpec extends SparkSpec {
  import java.sql.Timestamp
  import spark.implicits._
  import graft.operators.{AsofJoin, Retrieval, Sessionize}

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofNearest: forward beats backward when closer; backward wins ties") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // back at 09:00, fwd at 10:30 → fwd
      (2L, 10L, ts("2024-01-01 09:10:00")), // back at 09:00, fwd at 10:30 → back
      (3L, 10L, ts("2024-01-01 09:45:00")), // 45 min either way → back (tie)
      (4L, 99L, ts("2024-01-01 00:00:00"))  // no right rows → nulls
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), "A"),
      (10L, ts("2024-01-01 10:30:00"), "B")
    ).toDF("rk", "rt", "p")
    val out = AsofJoin.asofNearest(left, right, "id", "t", "rt", "k", "rk", Seq("p"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("p")).toMap
    assert(out == Map(1L -> "B", 2L -> "A", 3L -> "A", 4L -> null))
  }

  test("debounce keeps exactly the session openers; ties pinned by id") {
    val ev = Seq(
      (1L, 7L, ts("2024-01-01 00:00:00")),
      (2L, 7L, ts("2024-01-01 00:00:00")), // tied: only the lower id opens
      (3L, 7L, ts("2024-01-01 00:30:00")), // within gap → dropped
      (4L, 7L, ts("2024-01-01 05:00:00"))  // new burst
    ).toDF("event_id", "user_id", "t")
    val kept = Sessionize.debounce(ev, "user_id", "t", gapSeconds = 3600,
        tieCols = Seq("event_id"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("tfidfTopK: corpus-wide terms rank by tf·ln(N/df), term tie-break") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry apple")
    ).toDF("doc_id", "text")
    val out = Retrieval.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("rank")) -> r.getAs[String]("term"))
      .toMap
    // doc 1: apple tf2·ln(3/2) ≈ 0.81 > banana tf1·ln(3/2)
    assert(out((1L, 1)) == "apple" && out((1L, 2)) == "banana")
    // doc 3: cherry tf3·ln(3/2) ≈ 1.216 > apple 0.405
    assert(out((3L, 1)) == "cherry" && out((3L, 2)) == "apple")
    // doc 2: equal scores (tf1, df2 both) → term order
    assert(out((2L, 1)) == "banana" && out((2L, 2)) == "cherry")
  }

  test("tfidfTopK plan: map-side WindowGroupLimit prunes before the rank shuffle") {
    val docs = (0 until 300)
      .map(i => (i.toLong, (0 until 20).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text").repartition(4)
    val out = Retrieval.tfidfTopK(docs, "doc_id", "text", k = 2)
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }
}

/** Funnel progression and corpus diff. */
class FunnelDiffSpec extends SparkSpec {
  import java.sql.Timestamp
  import spark.implicits._
  import graft.operators.{Dedup, Funnel}

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: strict order — out-of-order and simultaneous steps don't count") {
    val ev = Seq(
      // user 1: full conversion
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      // user 2: click BEFORE the first view → stuck at step 1
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      // user 3: click at the SAME instant as view → strictly-after fails
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "click"),
      // user 4: no qualifying events at all
      (4L, ts("2024-01-01 10:00:00"), "error")
    ).toDF("user_id", "t", "et")
    val out = Funnel.funnel(ev, "user_id", "t", "et", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("steps_completed")).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("funnel: later view can still unlock a later click; partition invariance") {
    val ev = Seq(
      (7L, ts("2024-01-01 09:00:00"), "click"),   // too early
      (7L, ts("2024-01-01 10:00:00"), "view"),
      (7L, ts("2024-01-01 11:00:00"), "click")     // counts (after the view)
    ).toDF("user_id", "t", "et")
    val out = Funnel.funnel(ev, "user_id", "t", "et", Seq("view", "click"))
      .collect()(0)
    assert(out.getAs[Int]("steps_completed") == 2)
    assert(out.getAs[Timestamp]("step_2_ts") == ts("2024-01-01 11:00:00"))
    val big = (0 until 600).map(i =>
      (i.toLong % 20, ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"),
        Seq("view", "click", "purchase")(i % 3))).toDF("user_id", "t", "et")
    val a = Funnel.funnel(big, "user_id", "t", "et", Seq("view", "click", "purchase"))
    val b = Funnel.funnel(big.repartition(7), "user_id", "t", "et",
      Seq("view", "click", "purchase"))
    assert(canon(a) == canon(b))
  }

  test("funnel matches a brute-force sequential reference on random event logs") {
    val rnd = new scala.util.Random(42)
    val types = Seq("view", "click", "purchase", "error")
    val evs = (0 until 800).map { i =>
      (rnd.nextInt(25).toLong, 1704067200000L + rnd.nextInt(1000000) * 1000L,
        types(rnd.nextInt(4)))
    }
    val steps = Seq("view", "click", "purchase")
    // reference: per key, scan time-sorted events advancing a cursor
    val expected = evs.groupBy(_._1).map { case (k, rows) =>
      var completed = 0
      var lastUs = Long.MinValue
      rows.sortBy(_._2).foreach { case (_, ms, t) =>
        if (completed < steps.size && t == steps(completed) && ms > lastUs) {
          lastUs = ms; completed += 1
        }
      }
      k -> completed
    }
    val df = evs.map { case (k, ms, t) => (k, new Timestamp(ms), t) }
      .toDF("k", "t", "et")
    val got = Funnel.funnel(df, "k", "t", "et", steps)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("steps_completed")).toMap
    assert(got == expected)
  }

  test("retention: hand-built cohorts, offset-0 rows equal cohort sizes") {
    val ev = Seq(
      // cohort day 0: users 1, 2
      (1L, ts("2024-01-01 08:00:00")), (2L, ts("2024-01-01 23:59:59")),
      (1L, ts("2024-01-02 01:00:00")),   // u1 back on day 1
      (2L, ts("2024-01-03 12:00:00")),   // u2 back on day 2
      (1L, ts("2024-01-01 17:00:00")),   // same-day repeat: dedupes
      // cohort day 1: user 3, never returns
      (3L, ts("2024-01-02 10:00:00"))
    ).toDF("user_id", "t")
    val out = Funnel.retention(ev, "user_id", "t")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> 2L, ("2024-01-01", 1L) -> 1L,
      ("2024-01-01", 2L) -> 1L, ("2024-01-02", 0L) -> 1L))
    // offset-0 invariant: every cohort's size equals its day-0 actives
    val zeros = out.collect { case ((c, 0L), n) => c -> n }
    assert(zeros.size == 2)
  }

  test("corpusDiff: all four statuses; join carries hashes not text") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "text")
    val b = Seq((2L, "y"), (3L, "z2"), (4L, "new")).toDF("id", "text")
    val out = Dedup.corpusDiff(a, b, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added"))
  }
}

/** One-pass expectation audit: violation semantics and ordering. */
class ExpectSpec extends SparkSpec {
  import spark.implicits._

  test("null predicate counts as violation; caller order preserved") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, null), (null, "b"), (-5L, "a")
    ).toDF("n", "s")
    val out = Expect.audit(df, Seq(
      "n_positive" -> (col("n") > 0),
      "s_domain" -> col("s").isin("a", "b"),
      "always" -> lit(true))).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("n_positive", "s_domain", "always"))
    val byName = out.map(r => r.getString(0) -> r).toMap
    // n > 0: violated by -5 and by null n → 2
    assert(byName("n_positive").getAs[Long]("n_violations") == 2L)
    assert(!byName("n_positive").getAs[Boolean]("pass"))
    // s in (a,b): violated by null s → 1
    assert(byName("s_domain").getAs[Long]("n_violations") == 1L)
    assert(byName("always").getAs[Long]("n_violations") == 0L)
    assert(byName("always").getAs[Boolean]("pass"))
    assert(out.forall(_.getAs[Long]("n_rows") == 4L))
  }

  test("contract errors: empty and duplicate check names") {
    val df = Seq(1).toDF("x")
    intercept[IllegalArgumentException](Expect.audit(df, Nil))
    intercept[IllegalArgumentException](
      Expect.audit(df, Seq("a" -> lit(true), "a" -> lit(false))))
  }

  test("one scan: adding checks adds no exchange beyond the single final agg") {
    val df = (0 until 1000).map(i => (i, i % 7)).toDF("a", "b").repartition(4)
    val out = Expect.audit(df, (0 until 12).map(i => s"c$i" -> (col("a") >= i)))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan)
    assert("Exchange SinglePartition".r.findAllIn(plan).length == 1, plan)
    assert(out.count() == 12)
  }
}

/** Keep-first chunk dedup: ownership semantics vs d12's strip-all. */
class KeepFirstChunksSpec extends SparkSpec {
  import spark.implicits._

  test("duplicated chunk survives only in its min-id owner") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d x y z w"),
      (3L, "x y z w a b c d")
    ).toDF("doc_id", "text")
    // n=4 chunks: doc1 = [abcd]; doc2 = [abcd, xyzw]; doc3 = [xyzw, abcd]
    // owners: "a b c d" → 1, "x y z w" → 2
    val out = Dedup.keepFirstChunks(docs, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("text_clean") == "a b c d")
    assert(out(1L).getAs[Long]("n_removed") == 0L)
    assert(out(2L).getAs[String]("text_clean") == "x y z w")
    assert(out(2L).getAs[Long]("n_removed") == 1L)
    assert(out(3L).getAs[String]("text_clean") == "")
    assert(out(3L).getAs[Long]("n_removed") == 2L)
  }

  test("exactly one copy of every duplicated chunk survives corpus-wide") {
    // every doc = [unique chunk][shared chunk]; "shared shared" owned by doc 0
    val docs = (0 until 40)
      .map(i => (i.toLong, s"a$i b$i shared shared"))
      .toDF("doc_id", "text")
    val out = Dedup.keepFirstChunks(docs, "doc_id", "text", n = 2)
    val survivors = out
      .filter(col("text_clean").contains("shared shared"))
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(out.count() == 40)
    assert(out.filter(col("doc_id") > 0 && col("n_removed") === 1L).count() == 39)
  }

  test("hashKeys parity: 64-bit keyed run equals exact-string run") {
    val docs = (0 until 60)
      .map(i => (i.toLong, (0 until 12).map(j => s"w${(i + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    val a = Dedup.keepFirstChunks(docs, "doc_id", "text", n = 3)
    val b = Dedup.keepFirstChunks(docs.repartition(5), "doc_id", "text", n = 3,
      hashKeys = true)
    assert(canon(a) == canon(b))
  }
}

/** Deterministic epoch shuffle: permutation + reproducibility. */
class DeterministicShuffleSpec extends SparkSpec {
  import spark.implicits._

  test("a permutation: every id once, per-shard positions contiguous from 1") {
    val df = (0 until 500).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
    val out = Sampling.deterministicShuffle(df, "id", numShards = 8, salt = "e1")
    assert(out.select("id").distinct().count() == 500)
    assert(out.count() == 500)
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    assert(perShard.forall(r => r.getAs[Long]("lo") == 1L &&
      r.getAs[Long]("hi") == r.getAs[Long]("n")))
    assert(perShard.map(_.getAs[Int]("shard")).forall(s => s >= 0 && s < 8))
  }

  test("plan: one hash shuffle, no global sort or single-partition rank") {
    val df = (0 until 400).map(i => (i.toLong, i)).toDF("id", "v").repartition(5)
    val out = Sampling.deterministicShuffle(df, "id", 16, "e1")
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
  }

  test("sampleExact: exactly n, deterministic, planned as TakeOrdered") {
    val df = (0 until 1000).map(i => (i.toLong, i % 7)).toDF("id", "v").repartition(5)
    val a = Sampling.sampleExact(df, "id", 50, "s1")
    assert(a.count() == 50)
    val b = Sampling.sampleExact(df.repartition(11), "id", 50, "s1")
    assert(canon(a) == canon(b))
    assert(canon(a) != canon(Sampling.sampleExact(df, "id", 50, "s2")))
    a.collect()
    val p = a.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("group-keyed split never separates a group (leakage guard)") {
    import graft.functions.TextFunctions
    val df = (0 until 300).map(i => (i.toLong, s"src${i % 9}")).toDF("id", "g")
    val out = df.select(col("g"),
      TextFunctions.deterministicSplit(col("g"),
        Seq("train" -> 0.8, "val" -> 0.2), "s").as("split"))
    val perGroup = out.groupBy("g").agg(countDistinct("split").as("k")).collect()
    assert(perGroup.forall(_.getAs[Long]("k") == 1L))
  }

  test("partitioning-independent; salt re-deals; null ids excluded") {
    val df = (0 until 300).map(i => (i.toLong, i)).toDF("id", "v")
    val a = Sampling.deterministicShuffle(df, "id", 4, "e1")
    val b = Sampling.deterministicShuffle(df.repartition(7), "id", 4, "e1")
    assert(canon(a) == canon(b))
    val c = Sampling.deterministicShuffle(df, "id", 4, "e2")
    assert(canon(a) != canon(c))
    val withNull = df.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], 999)).toDF("id", "v")
        .select(col("id").cast("long"), col("v")))
    assert(Sampling.deterministicShuffle(withNull, "id", 4, "e1").count() == 300)
  }
}

/** Z-order clustered writes: both dimensions stay narrow per file. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.Graft

  // per-file extent of a column, normalized by its global range
  private def avgExtent(dir: String, c: String): Double = {
    val zm = Graft.zoneMap(spark, dir, cols = Seq(c))
      .select(col("min_value").cast("double"), col("max_value").cast("double"))
      .collect()
    val lo = zm.map(_.getDouble(0)).min
    val hi = zm.map(_.getDouble(1)).max
    zm.map(r => (r.getDouble(1) - r.getDouble(0)) / (hi - lo)).sum / zm.length
  }

  test("z-order bounds BOTH dimensions; linear sort serves only its leading column") {
    // a 64x64 grid: every (x, y) pair — the layout question in its purest form
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, s"p$x-$y")).toDF("x", "y", "payload")
    val zDir = tmpDir("zorder_grid")
    Graft.writeZOrdered(grid, zDir, Seq("x", "y"), numFiles = 16)
    val linDir = tmpDir("linear_grid")
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(linDir)
    // z-order: each file ≈ a square patch → extent ~1/4 of the range per dim
    assert(avgExtent(zDir, "x") < 0.5, s"x extent ${avgExtent(zDir, "x")}")
    assert(avgExtent(zDir, "y") < 0.5, s"y extent ${avgExtent(zDir, "y")}")
    // linear: x is sliced thin, but every file spans (almost) ALL of y
    assert(avgExtent(linDir, "x") < 0.5)
    assert(avgExtent(linDir, "y") > 0.9,
      s"linear layout unexpectedly bounded y: ${avgExtent(linDir, "y")}")
  }

  test("content round-trips; contract guards") {
    val df = (0 until 500).map(i => (i.toLong, (i * 37 % 100).toLong)).toDF("a", "b")
    val dir = tmpDir("zorder_rt")
    Graft.writeZOrdered(df, dir, Seq("a", "b"), numFiles = 4)
    assert(canon(spark.read.parquet(dir)) == canon(df))
    intercept[IllegalArgumentException](
      Graft.writeZOrdered(df, dir, Seq("a"), numFiles = 4))
    intercept[IllegalArgumentException](
      Graft.writeZOrdered(df, dir, Seq("a", "b"), numFiles = 0))
  }

  test("degenerate inputs: all-null z-column degrades to one key, no crash") {
    val df = Seq((1L, null.asInstanceOf[java.lang.Long]), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("a", "b").select(col("a"), col("b").cast("long"))
    val dir = tmpDir("zorder_nulls")
    Graft.writeZOrdered(df, dir, Seq("a", "b"), numFiles = 2)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("zone map agrees with the data it describes") {
    val df = (0 until 300).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    val dir = tmpDir("zonemap_chk")
    df.repartitionByRange(3, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    val zm = Graft.zoneMap(spark, dir, cols = Seq("k")).collect()
    assert(zm.map(_.getAs[Long]("n_rows")).sum == 300L)
    zm.foreach { r =>
      assert(r.getAs[String]("min_value").toLong <= r.getAs[String]("max_value").toLong)
      assert(r.getAs[Long]("n_nulls") == 0L)
    }
  }
}

/** Nearest-neighbor PNG resize on the shared decoder. */
class ResizeSpec extends SparkSpec {
  import graft.operators.Multimodal

  test("NN thumbnail replays the closed-form pattern; identity resize = decode") {
    val b = Multimodal.syntheticPngPixelBytes(7L, 8, 6, 2) // RGB 8×6, seed 7
    val Some((w, h, c, px)) = Multimodal.pngResizeNearest(b, 4, 3)
    assert((w, h, c) == (8, 6, 3))
    for (yo <- 0 until 3; xo <- 0 until 4; ch <- 0 until 3) {
      val xs = xo * 8 / 4; val ys = yo * 6 / 3
      assert(px((yo * 4 + xo) * 3 + ch) == (7 + xs * 3 + ys * 5 + ch * 11) % 256)
    }
    val Some((_, _, _, full)) = Multimodal.pngResizeNearest(b, 8, 6)
    for (y <- 0 until 6; x <- 0 until 8; ch <- 0 until 3)
      assert(full((y * 8 + x) * 3 + ch) == (7 + x * 3 + y * 5 + ch * 11) % 256)
  }

  test("undecodable payloads and bad targets fail the right way") {
    assert(Multimodal.pngResizeNearest("junk".getBytes, 2, 2).isEmpty)
    intercept[IllegalArgumentException](
      Multimodal.pngResizeNearest(
        Multimodal.syntheticPngPixelBytes(1L, 4, 4, 2), 0, 2))
  }

  test("mp4 frame sampling: sample-table walk replays the closed form") {
    val b = Multimodal.syntheticMp4WithSamples(w = 32, h = 24,
      timescale = 3000, delta = 120, nFrames = 7, frameSize = 10, seed = 5L)
    val Some(all) = Multimodal.mp4FrameSample(b, 1)
    assert(all.size == 7)
    all.foreach { case (f, tsMs, size, sum) =>
      assert(size == 10)
      assert(tsMs == f.toLong * 120 * 1000 / 3000)
      assert(sum == (0 until 10).map(j => (5L + f * 31 + j * 7) % 256).sum)
    }
    val Some(every3) = Multimodal.mp4FrameSample(b, 3)
    assert(every3.map(_._1) == Seq(0, 3, 6))
    // the richer builder stays header-compatible with the m3 decoder
    assert(Multimodal.videoHeader(b).exists { case (w, h, durMs, f) =>
      w == 32 && h == 24 && durMs == 7L * 120 * 1000 / 3000 && f == "mp4" })
    // truncated mdat and junk refuse rather than mis-slice
    assert(Multimodal.mp4FrameSample(b.take(b.length - 200), 1).isEmpty)
    assert(Multimodal.mp4FrameSample("junk".getBytes, 1).isEmpty)
    // a declared-but-absent sample table must yield None, never an
    // out-of-bounds read: corrupt stts entry count in place
    val idx = {
      def find(pat: String): Int = {
        val p = pat.getBytes("US-ASCII")
        (0 until b.length - 4).find(i => p.indices.forall(j => b(i + j) == p(j))).get
      }
      find("stts")
    }
    val evil = b.clone()
    evil(idx + 8) = 0x7F.toByte // entry_count high byte → ~2 billion entries
    assert(Multimodal.mp4FrameSample(evil, 1).isEmpty)
  }
}

/** Column profiling: one-pass summaries and equi-width histograms. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Profile

  test("summary: nulls excluded from mean, caller order, one scan") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, null), (3.0, 30.0)
    ).toDF("a", "b").repartition(3)
    val out = Profile.summary(df, Seq("b", "a"))
    val rows = out.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("b", "a"))
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    assert(byCol("a").getAs[Long]("n_nulls") == 0L)
    assert(byCol("a").getAs[Double]("mean") == 2.0)
    assert(byCol("b").getAs[Long]("n_nulls") == 1L)
    assert(byCol("b").getAs[Double]("mean") == 20.0)
    assert(byCol("b").getAs[Double]("min") == 10.0 &&
      byCol("b").getAs[Double]("max") == 30.0)
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("summary rejects non-numeric and missing columns loudly") {
    val df = Seq((1.0, "x")).toDF("n", "s")
    intercept[IllegalArgumentException](Profile.summary(df, Seq("s")))
    intercept[IllegalArgumentException](Profile.summary(df, Seq("nope")))
  }

  test("histogram: sentinel buckets catch out-of-range, counts are exact") {
    val df = Seq(-5.0, 0.0, 1.0, 9.9, 10.0, 15.0, 25.0).toDF("x")
    val out = Profile.histogram(df, "x", lo = 0.0, hi = 20.0, buckets = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n")).toMap
    // [-inf,0): -5 | [0,10): 0,1,9.9 | [10,20): 10,15 | [20,inf): 25
    assert(out == Map(-1L -> 1L, 0L -> 3L, 1L -> 2L, 2L -> 1L))
  }

  test("histogram bucket bounds are reconstructible from the index") {
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val rows = Profile.histogram(df, "x", 0.0, 100.0, 4).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("bucket_lo") == r.getLong(0) * 25.0)
      assert(r.getAs[Double]("bucket_hi") == (r.getLong(0) + 1) * 25.0)
      assert(r.getAs[Long]("n") == 25L)
    }
  }
}

/** Sweep-line concurrency: boundary semantics + distributed prefix sum. */
class SweepSpec extends SparkSpec {
  import java.sql.Timestamp
  import spark.implicits._
  import graft.operators.Sweep

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hand-computed profile with overlap and inclusive boundaries") {
    val iv = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:10")),
      (ts("2024-01-01 00:00:05"), ts("2024-01-01 00:00:20")),
      // starts exactly when the first ends: inclusive ends → 3 active at :10
      (ts("2024-01-01 00:00:10"), ts("2024-01-01 00:00:30"))
    ).toDF("s", "e")
    val out = Sweep.concurrency(iv, "s", "e")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out("2024-01-01 00:00:00.0") == 1L)
    assert(out("2024-01-01 00:00:05.0") == 2L)
    assert(out("2024-01-01 00:00:10.0") == 3L)
    assert(out("2024-01-01 00:00:10.000001") == 2L) // first interval released
    assert(out("2024-01-01 00:00:20.000001") == 1L)
    assert(out("2024-01-01 00:00:30.000001") == 0L)
  }

  test("cross-midnight intervals carry occupancy into the next day") {
    val iv = Seq(
      (ts("2024-01-01 23:00:00"), ts("2024-01-02 01:00:00")),
      (ts("2024-01-02 00:30:00"), ts("2024-01-02 02:00:00"))
    ).toDF("s", "e")
    val out = Sweep.concurrency(iv, "s", "e")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out("2024-01-02 00:30:00.0") == 2L) // day-2 window alone says 1
    val zeros = out.values.count(_ == 0L)
    assert(zeros == 1) // only after the last end
  }

  test("end before start fails loudly; partition invariance") {
    val bad = Seq((ts("2024-01-01 01:00:00"), ts("2024-01-01 00:00:00"))).toDF("s", "e")
    intercept[Exception](Sweep.concurrency(bad, "s", "e").collect())
    val iv = (0 until 500).map { i =>
      (new Timestamp(1704067200000L + i * 7919L % 86400000L),
        new Timestamp(1704067200000L + i * 7919L % 86400000L + i * 131L % 3600000L))
    }
    val a = Sweep.concurrency(iv.toDF("s", "e"), "s", "e")
    val b = Sweep.concurrency(iv.toDF("s", "e").repartition(7), "s", "e")
    assert(canon(a) == canon(b))
    // occupancy is never negative and ends at zero
    assert(a.filter(col("active") < 0).count() == 0)
    assert(a.orderBy(desc("ts")).limit(1).collect()(0).getLong(1) == 0L)
  }

  test("plan: instants shuffle by hash; only the day-offset window is single-partition") {
    val iv = (0 until 2000).map { i =>
      (new Timestamp(1704067200000L + (i * 97L) % (5 * 86400000L)),
        new Timestamp(1704067200000L + (i * 97L) % (5 * 86400000L) + 60000L))
    }.toDF("s", "e").repartition(6)
    val out = Sweep.concurrency(iv, "s", "e")
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty, p)
  }
}

/** Tag-scoped incremental reads over tagged appends. */
class TaggedReadSpec extends SparkSpec {
  import spark.implicits._
  import graft.api.{Graft, GraftEmptyResultException}
  import graft.core.{Q, TaggedAppend}

  private def freshTable(): String = {
    val dir = tmpDir("graft_tagged")
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    Graft.writePartitionedTable(base, dir, Seq("k"))
    TaggedAppend.append(Seq((3L, "a", 30.0), (4L, "c", 40.0)).toDF("id", "k", "v"),
      dir, "b1", Seq("k"))
    TaggedAppend.append(Seq((5L, "b", 50.0)).toDF("id", "k", "v"),
      dir, "b2", Seq("k"))
    dir
  }

  test("readTaggedBatch returns exactly one batch; full read sees everything") {
    val dir = freshTable()
    val b1 = Graft.readTaggedBatch(spark, dir, "b1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(b1 == Set(3L, 4L))
    val all = Graft.readPartitionedTable(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("tag scope composes with partition pruning") {
    val dir = freshTable()
    val b1a = Graft.readTaggedBatch(spark, dir, "b1", query = Q.eq("k", "a"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(b1a == Set(3L))
  }

  test("listIngestTags reports batches and forgets them after compaction") {
    val dir = freshTable()
    val tags = Graft.listIngestTags(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.keySet == Set("b1", "b2"))
    assert(tags("b1") >= 2L) // two partitions touched → at least two files
    Graft.compactPartitionedTable(spark, dir)
    assert(Graft.listIngestTags(spark, dir).count() == 0)
    // post-compaction the tag window is closed: the batch is unaddressable
    intercept[GraftEmptyResultException](
      Graft.readTaggedBatch(spark, dir, "b1").collect())
    // but no data was lost
    assert(Graft.readPartitionedTable(spark, dir).count() == 5)
  }

  test("a partition-scoped compaction still retires tags table-wide") {
    val dir = freshTable()
    // compact ONLY partition k=a; the b1 batch also lives in k=c
    Graft.compactPartitionedTable(spark, dir, query = Q.eq("k", "a"))
    // the tag window must be closed EVERYWHERE — a partial read would be
    // silently wrong for an incremental consumer
    intercept[GraftEmptyResultException](
      Graft.readTaggedBatch(spark, dir, "b1").collect())
    assert(Graft.listIngestTags(spark, dir).count() == 0)
    assert(Graft.readPartitionedTable(spark, dir).count() == 5) // no data lost
  }

  test("unknown tag fails loudly; unsafe tag rejected") {
    val dir = freshTable()
    intercept[GraftEmptyResultException](
      Graft.readTaggedBatch(spark, dir, "nope").collect())
    intercept[IllegalArgumentException](
      Graft.readTaggedBatch(spark, dir, "../evil"))
  }
}

/** PMI bigram collocations: hand-computed values, shared aggregations. */
class CollocationsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Collocations

  test("hand-computed PMI on a 2-doc corpus; minCount filters") {
    val docs = Seq("a b a b", "a b c").toDF("text")
    val out = Collocations.pmiBigrams(docs, "text", minCount = 2).collect()
    // pairs: (a,b)×3, (b,a)×1, (b,c)×1 → only (a,b) survives minCount=2
    // unigrams a:3 b:3 c:1, n_words=7, n_pairs=5
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getAs[Long]("c_pair") == 3L)
    val expected = BigDecimal(math.log((3.0 / 5) / ((3.0 / 7) * (3.0 / 7))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("pmi") == expected)
  }

  test("single-word and empty docs contribute unigrams but no pairs") {
    val docs = Seq("x", "", "x y", "x y").toDF("text")
    val out = Collocations.pmiBigrams(docs, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("c_pair"))
      .toMap
    assert(out == Map(("x", "y") -> 2L))
  }

  test("tokenKlDrift: hand-computed contributions; absent terms drift positive") {
    val docs = Seq(
      ("A", "x x y"), ("A", "x"),
      ("B", "x y y"), ("B", "z")
    ).toDF("src", "text")
    val out = Collocations.tokenKlDrift(docs, "text", "src", "A", "B")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // counts: A: x=3, y=1 (nA=4); B: x=1, y=2, z=1 (nB=4); vocab=3
    assert(out.keySet == Set("x", "y", "z"))
    def contrib(ca: Long, cb: Long): Double = {
      val pA = (ca + 1).toDouble / 7; val pB = (cb + 1).toDouble / 7
      BigDecimal(pA * math.log(pA / pB))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out("x") == (3L, 1L, contrib(3, 1)))
    assert(out("y") == (1L, 2L, contrib(1, 2)))
    // z absent from A: its smoothed pA < pB → negative contribution;
    // a term absent from B (none here) would drift positive
    assert(out("z")._3 < 0)
    intercept[IllegalArgumentException](
      Collocations.tokenKlDrift(docs, "text", "src", "A", "A"))
  }

  test("plan: the unigram aggregation is computed once and reused") {
    val docs = (0 until 100)
      .map(i => s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7}").toDF("text")
    val out = Collocations.pmiBigrams(docs, "text", minCount = 1)
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p)
  }
}

/** Bloom semi-join reduction: exact results, reduced probe. */
class BloomJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Skew

  test("bloomJoin equals the plain join, with probe keys absent from build") {
    val probe = (0 until 2000).map(i => (i.toLong % 500, i)).toDF("k", "v")
    val build = (0 until 50).map(i => (i.toLong * 7, s"b$i")).toDF("bk", "p")
    val a = Skew.bloomJoin(probe, build, "k", "bk")
    val b = probe.join(build, probe("k") === build("bk"))
    assert(canon(a) == canon(b))
    assert(a.count() > 0)
  }

  test("pre-filter never drops a matching row and reduces a selective probe") {
    val probe = (0 until 5000).map(i => (i.toLong, i)).toDF("k", "v")
    val build = (0 until 5000 by 100).map(i => Tuple1(i.toLong)).toDF("bk")
    val kept = Skew.bloomPreFilter(probe, build, "k", "bk")
    val keptKeys = kept.select("k").collect().map(_.getLong(0)).toSet
    val buildKeys = build.collect().map(_.getLong(0)).toSet
    assert(buildKeys.subsetOf(keptKeys), "bloom false negative")
    // 1%-selective build at fpp=0.01: the filter must do its job
    assert(kept.count() < 1000, s"no reduction: ${kept.count()} of 5000 kept")
  }

  test("null probe keys are dropped explicitly (xxhash64 hashes null to its seed)") {
    val probe = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (2L, "c"))
      .toDF("k", "v").select(col("k").cast("long"), col("v"))
    val build = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y"))
      .toDF("bk", "p").select(col("bk").cast("long"), col("p"))
    val kept = Skew.bloomPreFilter(probe, build, "k", "bk")
      .select("v").collect().map(_.getString(0)).toSet
    assert(!kept.contains("b"), "null probe key must not survive the pre-filter")
    assert(kept.contains("a"))
  }

  test("empty build side yields empty result; left join rejected") {
    val probe = Seq((1L, "a")).toDF("k", "v")
    val build = Seq((1L, "x")).toDF("bk", "p").filter(col("bk") < 0)
    assert(Skew.bloomJoin(probe, build, "k", "bk").count() == 0)
    intercept[IllegalArgumentException](
      Skew.bloomJoin(probe, build, "k", "bk", joinType = "left"))
  }

  test("plan: might_contain filters the probe before an equi-join") {
    // a file-backed probe: on a LocalRelation the optimizer folds the
    // bloom filter at plan time and no Filter node remains to assert on
    val probe = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val build = (0 until 30).map(i => Tuple1(i.toLong * 11)).toDF("bk")
    val out = Skew.bloomJoin(probe, build, "l_orderkey", "bk")
    out.collect()
    val p = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }
}

/** Degree-oriented triangle counting. */
class TriangleSpec extends SparkSpec {
  import spark.implicits._

  // kCore/reachableFrom keep their final small frame cached (pageRank's
  // documented session-eviction convention); this suite runs before the
  // cache-draining assertions in ExtensionsSpec, so drain explicitly.
  private def drainCaches[T](body: => T): T =
    try body
    finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  test("K4: every node sits in 3 of the 4 triangles") {
    val edges = (for { i <- 0 to 3; j <- 0 to 3 if i < j } yield (i.toLong, j.toLong))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst").collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("n_triangles") == 3L))
  }

  test("path graph has zero triangles but reports every node") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst").collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("n_triangles") == 0L))
  }

  test("direction, duplicates and self-loops collapse before counting") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("plan: equi-joins only — no cartesian/nested-loop in wedge or closing join") {
    val base = (0L until 289L).map(i => (i % 17, (i / 17) % 17))
    val df = Graph.triangleCounts(base.toDF("src", "dst"), "src", "dst")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("kCore: cascade peel — a tail triggers chain removal; K4 core survives") { drainCaches {
    // K4 on {0,1,2,3} plus a path 3-4-5: k=2 peels 5, then 4; K4 remains
    val edges = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L))).toDF("src", "dst")
    val core = Graph.kCore(edges, "src", "dst", k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(core == Set(0L, 1L, 2L, 3L))
    // above the degeneracy: everything peels, empty is the answer
    assert(Graph.kCore(edges, "src", "dst", k = 4).count() == 0)
  } }

  test("kCore refuses a truncated peel instead of returning a non-core") { drainCaches {
    // a 20-node path peels one endpoint pair per round: ~10 rounds needed
    val path = (0L until 19L).map(i => (i, i + 1))
    intercept[IllegalArgumentException](
      Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2,
        maxIterations = 3))
    // with room to converge, the true 2-core of a path is empty
    assert(Graph.kCore(path.toDF("src", "dst"), "src", "dst", k = 2).count() == 0)
  } }

  test("kCore: partition invariance and duplicate/direction collapse") { drainCaches {
    val base = (0L until 500L).map(i => (i % 31, (i * 7919L) % 31))
    val a = Graph.kCore(base.toDF("src", "dst"), "src", "dst", k = 10)
    val b = Graph.kCore((base ++ base.map(_.swap)).toDF("src", "dst")
      .repartition(7), "src", "dst", k = 10)
    assert(canon(a) == canon(b))
  } }

  test("reachableFrom: minimal hops on a path, early stop, undirected") { drainCaches {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 8L)).toDF("src", "dst")
    val out = Graph.reachableFrom(edges, "src", "dst", Seq(1L), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // maxHops truncates; direction is ignored (undirected contract)
    val two = Graph.reachableFrom(edges, "src", "dst", Seq(4L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(4L -> 0L, 3L -> 1L, 2L -> 2L))
  } }

  test("kCore invariant: every survivor has degree >= k INSIDE the core; maximality") { drainCaches {
    val rnd = new scala.util.Random(7)
    val base = (0 until 900).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val k = 8
    val core = Graph.kCore(base.toDF("src", "dst"), "src", "dst", k)
      .collect().map(_.getLong(0)).toSet
    // reference peel on canonical undirected edges
    var es = base.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    val expected = es.flatMap(e => Seq(e._1, e._2))
    assert(core == expected)
    // the defining invariant, checked directly on the output
    val inCore = es
    val degIn = inCore.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size }
    assert(core.forall(n => degIn.getOrElse(n, 0) >= k))
  } }

  test("K17 from digit pairs: every node in C(16,2)=120 triangles; partition-invariant") {
    // (i mod 17, i div 17 mod 17) over 0..288 covers every ordered pair →
    // complete graph on 17 nodes after canonicalization
    val base = (0L until 289L).map(i => (i % 17, (i / 17) % 17))
    val a = Graph.triangleCounts(base.toDF("src", "dst"), "src", "dst")
    val b = Graph.triangleCounts(base.toDF("src", "dst").repartition(7),
      "src", "dst")
    assert(canon(a) == canon(b))
    val rows = a.collect()
    assert(rows.length == 17)
    assert(rows.forall(_.getAs[Long]("n_triangles") == 120L))
  }
}

class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  test("labels spread from clamped seeds; ties break to the smaller label") {
    // barbell: 0-1-2 triangle and 5-6-7 triangle joined by 2-3-4-5 path;
    // seeds: 0 -> label 0, 7 -> label 7
    val edges = Seq((0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5),
      (5, 6), (6, 7), (5, 7)).toDF("src", "dst")
    val seeds = Seq((0L, 0L), (7L, 7L)).toDF("node", "label")
    val r = graft.operators.Graph
      .labelPropagation(edges, "src", "dst", seeds, "node", "label", 3)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    // seeds clamped
    assert(r(0L) == 0L && r(7L) == 7L)
    // each triangle adopts its seed's label
    assert(r(1L) == 0L && r(2L) == 0L)
    assert(r(6L) == 7L && r(5L) == 7L)
    // node 3 hears 2(label 0 from round 1) and 4: by round 3 label 0 side
    assert(r(3L) == 0L)
    // node 4 hears both sides equally by round 3 → tie → smaller label
    assert(r(4L) == 0L)
  }

  test("unreached nodes stay null; iteration count bounds the frontier") {
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (10, 11)).toDF("a", "b")
    val seeds = Seq((0L, 42L)).toDF("n", "l")
    val r1 = graft.operators.Graph
      .labelPropagation(edges, "a", "b", seeds, "n", "l", 1)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) null else x.getLong(1))).toMap
    assert(r1(1L) == 42L && r1(2L) == null, r1.toString)
    // disconnected component never labeled
    assert(r1(10L) == null && r1(11L) == null)
    val r3 = graft.operators.Graph
      .labelPropagation(edges, "a", "b", seeds, "n", "l", 3)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) null else x.getLong(1))).toMap
    assert(r3(3L) == 42L && r3(4L) == null)
  }

  test("a seed on an isolated node survives, clamped") {
    import spark.implicits._
    val edges = Seq((0, 1)).toDF("a", "b")
    val seeds = Seq((0L, 9L), (99L, 5L)).toDF("n", "l")
    val r = graft.operators.Graph
      .labelPropagation(edges, "a", "b", seeds, "n", "l", 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(99L) == 5L, "isolated seed must not vanish")
    assert(r(0L) == 9L && r(1L) == 9L)
    // a null seed node is dropped, not injected as a spurious null row
    val withNull = Seq((Some(0L), 9L), (Option.empty[Long], 5L))
      .toDF("n", "l")
    val rn = graft.operators.Graph
      .labelPropagation(edges, "a", "b", withNull, "n", "l", 1)
      .collect()
    assert(rn.forall(!_.isNullAt(0)), rn.mkString(";"))
  }
}

class DHashSpec extends SparkSpec {
  import graft.operators.Multimodal

  test("dHash ignores the alpha channel: RGB and RGBA of the same image agree") {
    for (id <- Seq(3L, 40L, 117L); w <- Seq(5, 12); h <- Seq(4, 9)) {
      val rgb = Multimodal.pngDHash(Multimodal.syntheticPngPixelBytes(id, w, h, 2))
      val rgba = Multimodal.pngDHash(Multimodal.syntheticPngPixelBytes(id, w, h, 6))
      assert(rgb.isDefined && rgb == rgba, s"id=$id ${w}x$h")
    }
  }

  test("dHash is a 64-bit value in unsigned halves; junk bytes decode to None") {
    val Some((hi, lo)) =
      Multimodal.pngDHash(Multimodal.syntheticPngPixelBytes(7L, 8, 8, 2))
    assert(hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32))
    assert(Multimodal.pngDHash("not a png".getBytes).isEmpty)
    // identical images hash identically through the full decode path
    val again =
      Multimodal.pngDHash(Multimodal.syntheticPngPixelBytes(7L, 8, 8, 2))
    assert(again.contains((hi, lo)))
  }
}

class PreflightAuditSpec extends SparkSpec {
  import spark.implicits._

  test("joinCardinality prices the join exactly, including self-joins and skew") {
    // key 1: 3×2 rows, key 2: 1×4, key 3: only left → unmatched
    val a = Seq(1, 1, 1, 2, 3).toDF("k")
    val b = Seq(1, 1, 2, 2, 2, 2).toDF("j")
    // pair counts are DECIMAL(38,0) — the overflow-proof width
    def dec(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[java.math.BigDecimal](c).longValueExact()
    val r = graft.operators.Skew.joinCardinality(a, "k", b, "j").collect()(0)
    assert(dec(r, "total_pairs") == 3 * 2 + 1 * 4)
    assert(r.getAs[Long]("matched_keys") == 2)
    assert(dec(r, "max_key_pairs") == 6)
    assert(r.getAs[String]("top_key") == "1")
    // the prediction equals the actual join size
    assert(a.join(b, a("k") === b("j")).count() == dec(r, "total_pairs"))
    // self-join: sum of squared counts
    val self = graft.operators.Skew.joinCardinality(a, "k", a, "k").collect()(0)
    assert(dec(self, "total_pairs") == 9 + 1 + 1)
    // nulls never match
    val withNull = Seq(Some(1), None).toDF("k")
    val rn = graft.operators.Skew
      .joinCardinality(withNull, "k", withNull, "k").collect()(0)
    assert(dec(rn, "total_pairs") == 1)
    // the overflow case itself: 4e9 × 4e9 pairs (1.6e19) exceeds
    // Long.MaxValue — the decimal arithmetic the operator uses must
    // carry it exactly rather than wrap or throw
    val prod = spark.sql(
      "SELECT CAST(4000000000 AS DECIMAL(19,0)) * CAST(4000000000 AS DECIMAL(19,0)) AS p")
      .collect()(0).getAs[java.math.BigDecimal]("p")
    assert(prod.toBigInteger.toString == "16000000000000000000")
  }

  test("orphans: null FKs counted apart, orphan rows and keys exact") {
    val fact = Seq(Some(1), Some(1), Some(2), Some(9), Some(9), None)
      .toDF("fk")
    val dim = Seq(1, 2, 3).toDF("pk")
    val r = Expect.orphans(fact, "fk", dim, "pk").collect()(0)
    assert(r.getAs[Long]("n_rows") == 6)
    assert(r.getAs[Long]("n_null_keys") == 1)
    assert(r.getAs[Long]("n_orphan_rows") == 2) // the two 9s
    assert(r.getAs[Long]("n_orphan_keys") == 1)
  }

  test("resampleFfill: day step spans multi-day gaps; unsupported units refused") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, Timestamp.valueOf("2024-01-04 09:00:00"), 2L, 4.0))
      .toDF("u", "ts", "eid", "v")
    val r = graft.operators.Timeseries
      .resampleFfill(df, "u", "ts", "eid", "v", "day")
      .orderBy("bucket").collect()
      .map(x => (x.getDouble(2), x.getBoolean(3)))
    assert(r.toSeq == Seq((1.0, true), (1.0, false), (1.0, false), (4.0, true)))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Timeseries.resampleFfill(df, "u", "ts", "eid", "v", "second")
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("resampleFfill: dense grid, forward fill, in-bucket last-event-wins") {
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 0${m / 60}%d:${m % 60}%02d:00")
    val df = Seq(
      (1L, ts(5), 10L, 1.0),   // 00:05
      (1L, ts(20), 11L, 2.0),  // 00:20 → hour 00 keeps 2.0 (later ts)
      (1L, ts(150), 12L, 7.0), // 02:30 → hour 01 is a gap (ffill 2.0)
      (2L, ts(65), 13L, 5.0))  // user 2: single event
      .toDF("u", "ts", "eid", "v")
    val r = graft.operators.Timeseries
      .resampleFfill(df, "u", "ts", "eid", "v", "hour")
      .orderBy("u", "bucket").collect()
      .map(x => (x.getLong(0), x.getDouble(2), x.getBoolean(3)))
    assert(r.toSeq == Seq(
      (1L, 2.0, true), (1L, 2.0, false), (1L, 7.0, true),
      (2L, 5.0, true)))
  }
}

/** In-place relayout: values preserved, tree changed, crash markers and
  * verify failures refuse loudly. */
class RelayoutSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.api.Graft

  private def mkTable(base: String): Unit = {
    val df = (1 to 60).map(i =>
      (i.toLong, s"k${i % 3}", s"p${i % 4}", i * 1.5))
      .toDF("id", "a", "b", "v")
    Graft.writePartitionedTable(df, base, Seq("a"))
  }

  test("relayout preserves every row and rewrites the tree") {
    val base = tmpDir("relayout") + "/t"
    mkTable(base)
    val before = canon(Graft.readPartitionedTable(spark, base)
      .select("id", "a", "b", "v"))
    Graft.relayoutPartitionedTable(spark, base, Seq("b"))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("b=")), dirs.mkString(","))
    val after = canon(Graft.readPartitionedTable(spark, base)
      .select("id", "a", "b", "v"))
    assert(after == before)
  }

  test("a retired marker from a crashed swap refuses the next relayout") {
    val base = tmpDir("relayout_crash") + "/t"
    mkTable(base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(base, ".graft_relayout_retired"))
    val e = intercept[IllegalArgumentException] {
      Graft.relayoutPartitionedTable(spark, base, Seq("b"))
    }
    assert(e.getMessage.contains("crashed mid-swap"))
  }

  test("unknown partition column refuses before any write") {
    val base = tmpDir("relayout_badcol") + "/t"
    mkTable(base)
    val e = intercept[IllegalArgumentException] {
      Graft.relayoutPartitionedTable(spark, base, Seq("nope"))
    }
    assert(e.getMessage.contains("not in table columns"))
  }
}

/** Priority sampling: exact-k, weight-proportional, fully deterministic. */
class PrioritySampleSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Sampling

  private def md5u(salt: String, id: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + id.toString).getBytes("UTF-8"))
    val h = java.lang.Long.parseLong(
      md.take(4).map(b => f"$b%02x").mkString, 16)
    (h.toDouble + 1.0) / 4294967296.0
  }

  test("top-k by weight/u replayed on the driver; exact k, no duplicates") {
    val rows = (1L to 500L).map(i => (i, (i * 7 % 91) + 1))
    val got = Sampling.prioritySample(rows.toDF("id", "w"), "id", col("w"), 50)
      .select("id").as[Long].collect().toSeq
    assert(got.length == 50 && got.distinct.length == 50)
    val expected = rows
      .sortBy { case (id, w) => (-(w.toDouble / md5u("pr", id)), id) }
      .take(50).map(_._1).toSet
    assert(got.toSet === expected)
  }

  test("weight proportionality: heavy rows dominate the sample") {
    // 50 heavy rows (w=1000) among 950 light (w=1): expect most of the
    // sample to be heavy — deterministic given the fixed salt
    val rows = (1L to 1000L).map(i => (i, if (i <= 50) 1000L else 1L))
    val got = Sampling.prioritySample(rows.toDF("id", "w"), "id", col("w"), 40)
      .select("id").as[Long].collect()
    assert(got.count(_ <= 50) >= 30, s"only ${got.count(_ <= 50)} heavy rows")
  }

  test("determinism across partitionings; salt re-deals") {
    val df = (1L to 300L).map(i => (i, i % 17 + 1)).toDF("id", "w")
    val a = Sampling.prioritySample(df, "id", col("w"), 30)
      .select("id").as[Long].collect().toSet
    val b = Sampling.prioritySample(df.repartition(13), "id", col("w"), 30)
      .select("id").as[Long].collect().toSet
    assert(a === b)
    val c = Sampling.prioritySample(df, "id", col("w"), 30, salt = "other")
      .select("id").as[Long].collect().toSet
    assert(a !== c)
  }
}

/** Incremental aggregate maintenance: increments compose to the
  * from-scratch truth; crash marker refuses. */
class MaintainAggregateSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.api.Graft

  test("three increments equal one from-scratch aggregation exactly") {
    val base = tmpDir("aggmaint") + "/sidecar"
    val rows = (1 to 90).map(i => (i % 7L, i.toDouble / 4))
    val df = rows.toDF("k", "v")
    for (part <- 0 until 3)
      Graft.maintainAggregate(spark, base,
        df.filter(col("v") * 4 % 3 === part), Seq("k"), Seq("v"))
    val got = spark.read.parquet(base)
      .select(col("k"), col("n_rows"), col("sum_v").cast("double"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truth = rows.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    for ((k, (n, s)) <- truth) {
      assert(got(k)._1 == n, s"key $k count")
      assert(math.abs(got(k)._2 - s) < 1e-9, s"key $k sum")
    }
  }

  test("a crashed-swap marker refuses the next increment") {
    val base = tmpDir("aggmaint_crash") + "/sidecar"
    val df = Seq((1L, 2.0)).toDF("k", "v")
    Graft.maintainAggregate(spark, base, df, Seq("k"), Seq("v"))
    val retired = new org.apache.hadoop.fs.Path(base + ".graft_agg_retired")
    retired.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(retired)
    val e = intercept[IllegalArgumentException] {
      Graft.maintainAggregate(spark, base, df, Seq("k"), Seq("v"))
    }
    assert(e.getMessage.contains("crashed mid-swap"))
  }

  test("a replayed batch id is a no-op; the next id applies") {
    val base = tmpDir("aggmaint_replay") + "/sidecar"
    val df = Seq((1L, 2.0), (1L, 3.0)).toDF("k", "v")
    def n(): Long = spark.read.parquet(base)
      .select("n_rows").collect().head.getLong(0)
    Graft.maintainAggregate(spark, base, df, Seq("k"), Seq("v"),
      batchId = Some(0L))
    assert(n() == 2L)
    // crash-replay of batch 0: must not double-count
    Graft.maintainAggregate(spark, base, df, Seq("k"), Seq("v"),
      batchId = Some(0L))
    assert(n() == 2L)
    Graft.maintainAggregate(spark, base, df, Seq("k"), Seq("v"),
      batchId = Some(1L))
    assert(n() == 4L)
  }
}

/** Leakage-safe split: trivial duplicate variants land in one split. */
class LeakageSplitSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.functions.TextFunctions

  private val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("case/punctuation/spacing variants share the split; ids don't matter") {
    val variants = Seq(
      (1L, "The quick brown fox."),
      (2L, "the QUICK  brown fox"),
      (3L, "The quick, brown fox!!!"),
      (4L, "  the quick brown fox  "))
    val others = (100L until 400L).map(i => (i, s"document number $i body"))
    val df = (variants ++ others).toDF("id", "text")
    val split = df.select(col("id"),
      TextFunctions.leakageSafeSplit(col("text"), weights).as("split"))
    val v = split.filter(col("id") < 100).select("split")
      .distinct().collect()
    assert(v.length == 1, "all variants must share one split")
    // proportions roughly follow the weights over distinct texts
    val counts = split.filter(col("id") >= 100).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("train", 0L) > 200L)
  }
}

/** Loud-guard additions from the round's second review pass. */
class ReviewGuardSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("prioritySample raises on negative weights instead of dropping") {
    val df = Seq((1L, 5L), (2L, -3L)).toDF("id", "w")
    intercept[Exception] {
      graft.operators.Sampling.prioritySample(df, "id", col("w"), 1).collect()
    }
  }

  test("corrMatrixExact raises when no complete rows exist") {
    val allNull = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
    intercept[Exception] {
      graft.operators.Regression.corrMatrixExact(allNull, Seq("x", "y"))
        .collect()
    }
  }
}

/** exactKeepBest contract pins (r15 ADVICE): integral-id refusal, null
  * scores losing to non-null, all-null family keeping min id. */
class ExactKeepBestSpec extends SparkSpec {
  import spark.implicits._

  test("refuses a non-integral id column at plan time") {
    val df = Seq(("a", "dup", 1.0)).toDF("id", "text", "score")
    val e = intercept[IllegalArgumentException] {
      Dedup.exactKeepBest(df, "id", "text", "score")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("null scores lose to non-null; all-null family keeps min id") {
    val df = Seq(
      (1L, "dup", Some(0.5)), (2L, "dup", None),      // non-null wins
      (3L, "other", Option.empty[Double]), (4L, "other", None))
      .toDF("id", "text", "score")
    val got = Dedup.exactKeepBest(df, "id", "text", "score")
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, Some(0.5)), (3L, None)))
  }
}

/** Fuzzy decontamination: the paraphrased-leak class — caught by
  * minhash near-dup overlap, provably missed by exact n-gram overlap. */
class FuzzyDecontamSpec extends SparkSpec {
  import spark.implicits._

  test("paraphrase: fuzzy catches, exact misses, drop mode composes") {
    val evalDoc = (1 to 40).map(i => s"tok$i").mkString(" ")
    // junk token injected every 6 words: no 8-gram survives, most
    // trigram shingles do
    val para = (1 to 40).flatMap(i =>
      if (i % 6 == 0) Seq(s"tok$i", "junk") else Seq(s"tok$i")).mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val train = Seq((1L, para), (2L, unrelated)).toDF("id", "text")
    val bench = Seq((100L, evalDoc)).toDF("id", "text")
    val pairs = graft.operators.Decontaminate
      .nearDupOverlap(train, "id", "text", bench, "id", "text")
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 100L)), "exactly the paraphrase matches its eval source")
    assert(pairs.head.getDouble(2) >= 0.2 && pairs.head.getDouble(2) < 1.0,
      s"verified jaccard in (0.2, 1): ${pairs.head.getDouble(2)}")
    val exact = graft.operators.Decontaminate
      .ngramOverlap(train, "id", "text", bench.select("text"), "text",
        n = 8, threshold = 0.2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(!exact(1L) && !exact(2L),
      "exact 8-gram overlap must miss the paraphrase entirely")
    val kept = graft.operators.Decontaminate
      .decontaminateNearDup(train, "id", "text", bench, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), "drop mode removes only the paraphrase")
  }
}

/** Interleaved multimodal sequence assembly: element order, token
  * accounting, whole-doc packing, loud ord guard. */
class InterleaveSpec extends SparkSpec {
  import spark.implicits._

  test("chunk/media weave, token costs, window numbering") {
    val docs = Seq((1L, "a b c d e"), (2L, "x y")).toDF("id", "text")
    val media = Seq((1L, 0L), (1L, 1L), (2L, 0L)).toDF("id", "ord")
    val out = graft.operators.Interleave.assemble(
        docs, "id", "text", media, "id", "ord",
        chunkSize = 2, mediaTokens = 64, budget = 1000, numShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getString(5),
        r.getString(6), r.getLong(7))).sortBy(t => (t._1, t._2))
    // doc 1: chunks [a b][c d][e] at 0/2/4, media at 1/3
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, "text", "a b", 2L), (1L, 1L, "media", "<media:0>", 64L),
      (1L, 2L, "text", "c d", 2L), (1L, 3L, "media", "<media:1>", 64L),
      (1L, 4L, "text", "e", 1L)))
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, 0L, "text", "x y", 2L), (2L, 1L, "media", "<media:0>", 64L)))
    // one shard, budget 1000 -> one bin; seq follows (id, elem_ix)
    val seqs = graft.operators.Interleave.assemble(
        docs, "id", "text", media, "id", "ord",
        chunkSize = 2, mediaTokens = 64, budget = 1000, numShards = 1)
      .orderBy("id", "elem_ix")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(seqs.map(_._1).distinct.toSeq == Seq(0L), "single bin")
    assert(seqs.map(_._2).toSeq == (0L until 7L), "seq is dense in weave order")
  }

  test("docs pack whole; a doc over budget gets its own bin") {
    val docs = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("id", "text")
    val media = Seq.empty[(Long, Long)].toDF("id", "ord")
    val bins = graft.operators.Interleave.assemble(
        docs, "id", "text", media, "id", "ord",
        chunkSize = 10, mediaTokens = 1, budget = 6, numShards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 3 tokens each, budget 6: docs 1+2 share bin 0, doc 3 opens bin 1
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("negative or null media ord fails loudly") {
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    val neg = Seq((1L, -1L)).toDF("id", "ord")
    val e = intercept[Exception] {
      graft.operators.Interleave.assemble(docs, "id", "text", neg, "id",
        "ord", 2, 64, 100, 1).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-negative"),
      s"got: ${e.getMessage}")
    val withNull = Seq((1L, Option.empty[Long])).toDF("id", "ord")
    intercept[Exception] {
      graft.operators.Interleave.assemble(docs, "id", "text", withNull,
        "id", "ord", 2, 64, 100, 1).collect()
    }
  }

  test("duplicate (id, ord) media rows fail loudly (r16 ADVICE)") {
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    val dup = Seq((1L, 0L), (1L, 0L)).toDF("id", "ord")
    val e = intercept[Exception] {
      graft.operators.Interleave.assemble(docs, "id", "text", dup, "id",
        "ord", 2, 64, 100, 1).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("duplicate media"),
      s"got: ${e.getMessage}")
    // the guard does not fire on distinct ords for the same doc
    val ok = Seq((1L, 0L), (1L, 1L)).toDF("id", "ord")
    assert(graft.operators.Interleave.assemble(docs, "id", "text", ok, "id",
      "ord", 2, 64, 100, 1).count() > 0)
  }
}

/** DSIR importance resampling: target-like docs outscore off-target
  * docs; the multiset gram kernel counts occurrences. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("word_grams is a multiset in order; under n tokens empty") {
    import org.apache.spark.unsafe.types.UTF8String
    def g(s: String, n: Int) =
      graft.functions.WordSpansImpl.computeAll(UTF8String.fromString(s), n)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
    assert(g("a b a b", 2) == Seq("a b", "b a", "a b"),
      "repeated windows are kept (counts, not sets)")
    assert(g("a b c", 1) == Seq("a", "b", "c"))
    assert(g("a b", 3) == Seq.empty)
    assert(g("", 1) == Seq.empty)
  }

  test("target-like docs outscore off-target docs; top-k ranks them") {
    val topicA = "solar panels convert sunlight into electric power"
    val topicB = "medieval castles defended river crossings with stone walls"
    val raw = Seq(
      (1L, topicA), (2L, topicA + " efficiently"), (3L, topicB),
      (4L, topicB + " forever"), (5L, "solar power stations"))
      .toDF("id", "text")
    val target = Seq(topicA, "solar electric power grids").toDF("text")
    val w = graft.operators.Dsir.importanceWeights(
        raw, "id", "text", target, "text", numBuckets = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 5)
    assert(Seq(1L, 2L, 5L).map(w).min > Seq(3L, 4L).map(w).max,
      s"every solar doc must outscore every castle doc: $w")
    val top = graft.operators.Dsir.selectTopK(
        graft.operators.Dsir.importanceWeights(
          raw, "id", "text", target, "text", numBuckets = 512),
        "id", k = 3)
      .collect().map(r => (r.getInt(2), r.getLong(0)))
    assert(top.map(_._1).toSeq == Seq(1, 2, 3), "dense ranks 1..k")
    assert(top.map(_._2).toSet == Set(1L, 2L, 5L))
  }

  test("a doc with zero grams weighs exactly 0") {
    val raw = Seq((1L, "some words here"), (2L, "")).toDF("id", "text")
    val target = Seq("some words").toDF("text")
    val w = graft.operators.Dsir.importanceWeights(
        raw, "id", "text", target, "text", numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(2L) == 0.0)
  }

  test("zero-gram docs and the null id weigh 0 and leave other weights alone") {
    val raw = Seq[(java.lang.Long, String)]((1L, "some words here"), (2L, ""),
      (3L, null), (null, "more words"), (null, "")).toDF("id", "text")
    val target = Seq("some words").toDF("text")
    // two buckets: every bucket has a ratio, so a zero-gram doc hashed
    // into one (xxhash64 of null is its seed, not null) would score
    for (mode <- Seq("md5", "xxhash64")) {
      def weights(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Dsir.importanceWeights(df, "id", "text", target, "text",
            numBuckets = 2, hashMode = mode)
          .collect().map(r => Option(r.get(0)) -> r.getDouble(1)).toMap
      val w = weights(raw)
      assert(w.size == 4, s"$mode: one row per distinct id, null included: $w")
      assert(w(Some(2L)) == 0.0 && w(Some(3L)) == 0.0 && w(None) == 0.0, s"$mode: $w")
      // zero-gram docs add nothing to the raw distribution; the null-id
      // doc's grams do
      val gramDocs = weights(raw.filter(col("text") =!= ""))
      assert(w(Some(1L)) == gramDocs(Some(1L)) && w(Some(1L)) != 0.0, s"$mode: $w")
    }
  }
}

/** d23 hash pluggability: the xxhash64 production mode must make the
  * same selections as the md5 oracle mode on a clear-signal fixture. */
class DsirHashModeSpec extends SparkSpec {
  import spark.implicits._

  test("md5 and xxhash64 modes select the same docs at matched quantiles") {
    val rnd = new scala.util.Random(17L)
    val solar = Seq("solar", "panel", "sunlight", "electric", "grid",
      "inverter", "watt", "photon")
    val castle = Seq("castle", "moat", "stone", "rampart", "drawbridge",
      "keep", "siege", "garrison")
    def doc(vocab: Seq[String]) =
      Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val raw = ((0L until 20L).map(i => (i, doc(solar))) ++
      ((20L until 40L).map(i => (i, doc(castle))))).toDF("id", "text")
    val target = (0 until 10).map(_ => doc(solar)).toDF("text")
    def topIds(mode: String) = graft.operators.Dsir.selectTopK(
        graft.operators.Dsir.importanceWeights(raw, "id", "text",
          target, "text", numBuckets = 512, hashMode = mode),
        "id", k = 20)
      .collect().map(_.getLong(0)).toSet
    val md5Top = topIds("md5")
    val xxTop = topIds("xxhash64")
    // both modes must recover exactly the solar half at k = half
    assert(md5Top == (0L until 20L).toSet, md5Top.toString)
    assert(xxTop == md5Top, s"modes disagree: ${xxTop.diff(md5Top)}")
    intercept[IllegalArgumentException](
      graft.operators.Dsir.importanceWeights(raw, "id", "text",
        target, "text", hashMode = "fnv").collect())
  }
}

/** Concat-and-chop packing invariants: full windows, disjoint exact
  * doc coverage, cross-boundary splits. */
class PackChopSpec extends SparkSpec {
  import spark.implicits._

  test("windows are exactly full except each shard's last; slices tile docs") {
    val docs = (1L to 40L).map(i => (i, (i % 7) + 1)).toDF("id", "tokens")
    val out = graft.operators.Pack.packChop(docs, "id", "tokens",
        budget = 10, numShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // per-doc slices tile [0, tokens) disjointly and in window order
    val byDoc = out.groupBy(_._1)
    for ((id, rows) <- byDoc) {
      val sorted = rows.sortBy(_._3)
      assert(sorted.head._4 == 0L, s"doc $id starts at offset 0")
      assert(sorted.last._5 == (id % 7) + 1, s"doc $id ends at its length")
      sorted.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        assert(a._5 == b._4, s"doc $id slices must tile: ${sorted.toSeq}")
        assert(a._3 + 1 == b._3,
          s"doc $id windows consecutive: ${sorted.toSeq}")
      }
    }
    // per (shard, window) token sums: budget everywhere but the last
    for ((shard, rows) <- out.groupBy(_._2)) {
      val fills = rows.groupBy(_._3).view.mapValues(_.map(_._6).sum).toMap
      val last = fills.keys.max
      for ((wix, fill) <- fills)
        if (wix < last) assert(fill == 10L, s"shard $shard window $wix: $fill")
        else assert(fill <= 10L && fill > 0L)
    }
    // zero-token docs drop
    val withZero = Seq((1L, 0L), (3L, 5L)).toDF("id", "tokens")
    val z = graft.operators.Pack.packChop(withZero, "id", "tokens", 10, 1)
      .collect()
    assert(z.map(_.getLong(0)).toSet == Set(3L))
  }

  test("non-integral id refused at plan time (r16 ADVICE)") {
    val strIds = Seq(("a", 5L), ("b", 3L)).toDF("id", "tokens")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pack.packChop(strIds, "id", "tokens", 10, 1)
    }
    assert(e.getMessage.contains("must be integral"), s"got: ${e.getMessage}")
  }
}

/** Grouped greedy packing: per-group bins, greedy recurrence, guards. */
class PackGreedyBySpec extends SparkSpec {
  import spark.implicits._

  test("bins are per-group, id-ordered, greedy against the budget") {
    val rows = Seq(
      (1L, 6L, "a"), (2L, 5L, "a"), (3L, 5L, "a"), (4L, 11L, "a"),
      (10L, 4L, "b"), (11L, 4L, "b"), (12L, 4L, "b"))
      .toDF("id", "tokens", "g")
    val out = graft.operators.Pack.packGreedyBy(rows, "id", "tokens",
        budget = 10, groupCols = Seq("g"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    // group a: 6 | 5,5 overflows -> 6 alone? greedy: 6 fits bin0; +5 > 10
    // -> bin1 holds 5; +5 = 10 stays bin1; 11 > 10 opens bin2 (own bin)
    assert(out.filter(_._2 == "a").map(x => x._1 -> x._3).toMap ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // group b restarts at bin 0: 4+4 = 8 fits, +4 overflows
    assert(out.filter(_._2 == "b").map(x => x._1 -> x._3).toMap ==
      Map(10L -> 0L, 11L -> 0L, 12L -> 1L))
  }

  test("composite group keys do not alias across the separator") {
    //  ("ab", "") and ("a", "b") must be DIFFERENT groups
    val rows = Seq((1L, 9L, "ab", ""), (2L, 9L, "a", "b"))
      .toDF("id", "tokens", "g1", "g2")
    val out = graft.operators.Pack.packGreedyBy(rows, "id", "tokens",
        budget = 10, groupCols = Seq("g1", "g2"))
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // if the keys aliased, id 2 would overflow into bin 1; distinct
    // groups both start at bin 0
    assert(out.toMap == Map(1L -> 0L, 2L -> 0L))
  }

  test("non-integral id refused at plan time") {
    val strIds = Seq(("a", 5L, "g")).toDF("id", "tokens", "g")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pack.packGreedyBy(strIds, "id", "tokens", 10, Seq("g"))
    }
    assert(e.getMessage.contains("must be integral"), s"got: ${e.getMessage}")
  }
}

/** Embedding-space decontamination: scale-invariant leak detection,
  * organic survival, broadcast-eval shape. */
class EmbedDecontamSpec extends SparkSpec {
  import spark.implicits._

  test("planted rescaled leaks drop; near-orthogonal organics survive") {
    val eval = Seq((100L, Array(1.0f, 0.0f, 0.0f)),
        (101L, Array(0.0f, 1.0f, 0.0f))).toDF("eval_id", "ev")
    val train = Seq(
      (1L, Array(3.0f, 0.0f, 0.0f)),   // eval 100 rescaled -> leak
      (2L, Array(0.0f, 0.0f, 1.0f)),   // orthogonal -> survives
      (3L, Array(0.0f, -0.5f, 0.0f)),  // NEGATED eval 101: cos = -1, survives
      (4L, Array(0.1f, 0.1f, 0.99f))   // near-orthogonal -> survives
    ).toDF("id", "vec")
    val kept = graft.operators.Decontaminate.decontaminateEmbedding(
        train, "id", "vec", eval, "eval_id", "ev", tau = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
    val flagged = graft.operators.Decontaminate.embeddingOverlap(
        train, "id", "vec", eval, "eval_id", "ev", tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flagged.toSet == Set((1L, 100L)))
  }

  test("tau bounds guarded; eval side broadcasts (no corpus shuffle)") {
    val eval = Seq((1L, Array(1.0f))).toDF("eval_id", "ev")
    val train = Seq((1L, Array(1.0f))).toDF("id", "vec")
    intercept[IllegalArgumentException] {
      graft.operators.Decontaminate.embeddingOverlap(
        train, "id", "vec", eval, "eval_id", "ev", tau = 1.5)
    }
    val plan = graft.operators.Decontaminate.embeddingOverlap(
        train, "id", "vec", eval, "eval_id", "ev", tau = 0.5)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus must stream map-side against a broadcast eval: $plan")
  }
}

/** Objective-prep planners: span bounds/rate, mask offsets. */
class MaskingSpec extends SparkSpec {
  import spark.implicits._

  test("span corruption: one span per complete block, inside its block") {
    val doc = (1 to 47).map(i => s"w$i").mkString(" ") // 2 blocks + tail 7
    val out = graft.operators.Masking.spanCorruptionPlan(
        Seq((1L, doc), (2L, "too short")).toDF("id", "text"), "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    assert(out.forall(_._1 == 1L), "sub-block docs get no spans")
    assert(out.map(_._2).sorted.toSeq == Seq(0L, 1L))
    for ((_, b, start, len) <- out) {
      assert(len == 3)
      assert(start >= b * 20 && start + len <= b * 20 + 20,
        s"span [$start, ${start + len}) must sit inside block $b")
    }
    // deterministic: same inputs, same spans
    val again = graft.operators.Masking.spanCorruptionPlan(
        Seq((1L, doc)).toDF("id", "text"), "id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(again == out.map(t => (t._2, t._3)).toSet)
  }

  test("sft mask: offsets tile the conversation; only train roles flagged") {
    val turns = Seq(
      (1L, 1L, "user", "hello there friend"),
      (1L, 2L, "assistant", "hi"),
      (1L, 3L, "user", "question words here now"),
      (1L, 4L, "assistant", "answer words"))
      .toDF("conv", "seq", "role", "text")
    val out = graft.operators.Masking.sftLossMask(
        turns, "conv", Seq("seq"), "role", "text", Seq("assistant"))
      .orderBy("turn_ix")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (0L, "user", 0L, 3L, false), (1L, "assistant", 3L, 4L, true),
      (2L, "user", 4L, 8L, false), (3L, "assistant", 8L, 10L, true)))
    // a null role is context (trainable = false), never a null flag
    val withNull = Seq((1L, 1L, Option.empty[String], "x y"),
      (1L, 2L, Some("assistant"), "z")).toDF("conv", "seq", "role", "text")
    val flags = graft.operators.Masking.sftLossMask(
        withNull, "conv", Seq("seq"), "role", "text", Seq("assistant"))
      .orderBy("turn_ix").collect().map(_.getBoolean(5))
    assert(flags.toSeq == Seq(false, true))
    // keyCol repeated in orderCols is refused at plan time
    intercept[IllegalArgumentException] {
      graft.operators.Masking.sftLossMask(withNull, "conv",
        Seq("conv", "seq"), "role", "text", Seq("assistant"))
    }
  }
}
