package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.api.{Bucketing, Graft}
import graft.core._

class ApiSurfaceSpec extends SparkSpec {

  private def writeFile(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("S2: deprecated readS3Table alias forwards") {
    val dir = tmpDir("s2")
    writeFile(s"$dir/k=1/f.csv", "c1\n5\n")
    val df = Graft.readS3Table(spark, dir): @annotation.nowarn("cat=deprecation")
    assert(df.count() == 1)
  }

  test("S22: enumerated dict reader returns sorted-order maps with partition cols") {
    val dir = tmpDir("s22")
    writeFile(s"$dir/p=1/b.json", """{"v": 2}""" + "\n")
    writeFile(s"$dir/p=1/a.json", """{"v": 1}""" + "\n")
    writeFile(s"$dir/p=2/c.json", """{"v": 3}""" + "\n")
    val dicts = Graft.readJsonAsDicts(spark, dir)
    assert(dicts.map(_._1) == Seq(0, 1, 2))
    // sorted file order within sorted partition order: a.json before b.json
    assert(dicts(0)._2("v") == 1 && dicts(0)._2("p") == "1")
    assert(dicts(1)._2("v") == 2)
    assert(dicts(2)._2("v") == 3 && dicts(2)._2("p") == "2")
    // non-json rejected
    writeFile(s"$dir/p=3/d.csv", "x\n1\n")
    intercept[IllegalArgumentException](Graft.readJsonAsDicts(spark, dir))
  }

  test("kernel expressions are SQL-callable: shingle_hash_set, simhash64, minhash_sig") {
    graft.GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT size(shingle_hash_set(split('a b c d', ' '), 2)) AS nsh,
                simhash64(split('a b c d', ' '), 2) AS sh,
                size(minhash_sig(shingle_hash_set(split('a b c d', ' '), 2), 16)) AS nsig
      """).head
    assert(row.getInt(0) == 3) // three bigram windows
    assert(row.getInt(2) == 16)
    // SQL form agrees with the Column API
    import spark.implicits._
    val viaCol = Seq("a b c d").toDF("t")
      .select(graft.operators.Dedup.simhash64(org.apache.spark.sql.functions.col("t"), 2))
      .head.getLong(0)
    assert(row.getLong(1) == viaCol)
    // non-literal int parameter is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT simhash64(split('a', ' '), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("literal integer"))
    // a 64-bit seed literal must reach the expression untruncated
    val viaSql = spark.sql(
      """SELECT minhash_sig(shingle_hash_set(split('a b c d', ' '), 2),
                            8, 5000000000) AS s""").head.getSeq[Long](0)
    val viaColSeed = Seq("a b c d").toDF("t")
      .select(graft.operators.Dedup.minhashSignatureFromHashes(
        graft.functions.ShingleHashSetExpr(
          graft.functions.TextFunctions.words(org.apache.spark.sql.functions.col("t")), 2),
        8, 5000000000L))
      .head.getSeq[Long](0)
    assert(viaSql == viaColSeed, "BIGINT seed literal must not truncate")
    // an int-valued position overflowing 32 bits is rejected, not truncated
    val e2 = intercept[Exception] {
      spark.sql("SELECT shingle_hash_set(split('a', ' '), 5000000000)").collect()
    }
    assert(e2.getMessage.contains("32-bit"))
  }

  test("cosine_sim is SQL-callable via GraftExtensions (build-time and live register)") {
    import org.apache.spark.sql.SparkSession
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // a session BUILT with the extensions class has the function with no
    // manual registration (same SparkContext, fresh session state)
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[2]")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    try
      assert(s2.sql("SELECT cosine_sim(array(0.0D, 2.0D), array(0.0D, 1.0D)) AS c")
        .head.getDouble(0) > 0.999)
    finally {
      SparkSession.setActiveSession(spark); SparkSession.setDefaultSession(spark)
    }
  }

  test("S20c: per-call fsConf applies to one discovery and never leaks to the session") {
    val dir = tmpDir("s20c")
    writeFile(s"$dir/k=1/f.csv", "c1\n5\n")
    val parts = Graft.discover(spark, dir,
      fsConf = Map("graft.test.percall" -> "yes", "io.file.buffer.size" -> "8192"))
    assert(parts.size == 1 && parts.head.columns("k") == "1")
    // session Hadoop conf untouched — the per-call map was confined to the call
    assert(spark.sessionState.newHadoopConf().get("graft.test.percall") == null)
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.percall") == null)
  }

  test("S20d: fsConf reaches the full read/write path and is really applied") {
    val dir = tmpDir("s20d")
    writeFile(s"$dir/k=1/f.csv", "c1\n5\n")
    // the happy path: read with a per-call conf, no session leak
    val df = Graft.readPartitionedTable(spark, dir,
      fsConf = Map("graft.test.readcall" -> "yes"))
    assert(df.count() == 1)
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.readcall") == null)
    // the conf is APPLIED, not ignored: a broken file: impl must fail the call
    val e = intercept[Exception] {
      Graft.discover(spark, dir,
        fsConf = Map("fs.file.impl" -> "graft.DoesNotExist"))
    }
    assert(e.getMessage.contains("graft.DoesNotExist") ||
      e.getCause != null, e.getMessage)
    // and the session still works after the broken per-call conf
    assert(Graft.readPartitionedTable(spark, dir).count() == 1)
    // write side: fsConf-parameterized single-object write round-trips
    val out = tmpDir("s20d_out") + "/one.csv"
    Graft.writeObject(df.select("c1"), out,
      fsConf = Map("graft.test.writecall" -> "yes"))
    assert(spark.sparkContext.hadoopConfiguration.get("graft.test.writecall") == null)
    assert(spark.read.option("header", "true").csv(out).count() == 1)
  }

  test("S20: per-protocol config lands in hadoop conf") {
    Graft.setDefaultConfig(spark, "s3a", Map("endpoint" -> "http://localhost:9000"))
    assert(spark.sparkContext.hadoopConfiguration.get("fs.s3a.endpoint")
      == "http://localhost:9000")
  }

  test("S20b: env-var fs config merges with env < setDefaultConfig precedence") {
    val hc = spark.sparkContext.hadoopConfiguration
    val env = Map(
      "AWS_ACCESS_KEY_ID" -> "env-key",
      "AWS_SECRET_ACCESS_KEY" -> "env-secret",
      "AWS_ENDPOINT_URL" -> "http://minio:9000",
      "AWS_REGION_NAME" -> "us-moon-1")
    // use a scratch protocol so this test cannot collide with S20's keys
    Seq("access.key", "secret.key", "session.token", "endpoint", "endpoint.region")
      .foreach(k => hc.unset(s"fs.s3x.$k"))
    // env populates unset keys
    Graft.applyEnvFsConfig(spark, "s3x", env)
    assert(hc.get("fs.s3x.access.key") == "env-key")
    assert(hc.get("fs.s3x.endpoint") == "http://minio:9000")
    assert(hc.get("fs.s3x.endpoint.region") == "us-moon-1")
    assert(hc.get("fs.s3x.session.token") == null) // absent from env -> untouched
    // programmatic defaults win over env regardless of call order
    Graft.setDefaultConfig(spark, "s3x", Map("access.key" -> "prog-key"))
    Graft.applyEnvFsConfig(spark, "s3x", env)
    assert(hc.get("fs.s3x.access.key") == "prog-key")
    // (per-read options win over both: Spark builds each relation's Hadoop
    // conf via newHadoopConfWithOptions(relation options))
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    import spark.implicits._
    val facts = (0 until 1000).map(i => (i.toLong % 50, s"f$i")).toDF("k", "payload")
    val dims = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "name")
    Bucketing.writeBucketed(facts, "graft_facts_b", "k", 8)
    Bucketing.writeBucketed(dims, "graft_dims_b", "k", 8)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = Bucketing.readBucketed(spark, "graft_facts_b")
        .join(Bucketing.readBucketed(spark, "graft_dims_b"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("stateful streaming: flatMapGroupsWithState counts per key across batches") {
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int)](
      spark)
    input.addData(("a", 1), ("a", 2), ("b", 5))

    val counted = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Int), (String, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[(String, Int)]) =>
          val prev = state.getOption.map(_._2).getOrElse(0)
          val add = rows.map(_._2).sum
          val next = (key, prev + add)
          state.update(next)
          Iterator(next)
      }

    val q = counted.writeStream.outputMode("update")
      .format("memory").queryName("state_test").start()
    try {
      q.processAllAvailable()
      input.addData(("a", 10))
      q.processAllAvailable()
    } finally q.stop()
    val res = spark.table("state_test")
      .groupBy("_1").agg(max("_2").as("total"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(res == Map("a" -> 13, "b" -> 5))
  }

  test("snapshots: pinned reads survive appends, fail closed after compaction") {
    import spark.implicits._
    val out = tmpDir("snap_api")
    Graft.writePartitionedTable(
      Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "p"), out, Seq("p"))
    val s1 = Graft.snapshot(spark, out)
    assert(s1 == 1)
    TaggedAppend.append(Seq((4, "a")).toDF("k", "p"), out, "late", Seq("p"))
    val s2 = Graft.snapshot(spark, out)
    assert(s2 == 2)
    // each snapshot sees exactly its own file set
    assert(Graft.readSnapshot(spark, out, s1).select("k")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(Graft.readSnapshot(spark, out, s2).select("k")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(Graft.readPartitionedTable(spark, out).count() == 4)
    val listed = Graft.listSnapshots(spark, out)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(listed.keySet == Set(1, 2))
    // compaction rewrites files → older manifests must refuse, not drop rows
    Graft.compactPartitionedTable(spark, out, targetFileBytes = 1L << 30)
    val e = intercept[IllegalArgumentException] {
      Graft.readSnapshot(spark, out, s1).count()
    }
    assert(e.getMessage.contains("INVALID"))
    // a fresh snapshot over the compacted table works again
    val s3 = Graft.snapshot(spark, out)
    assert(Graft.readSnapshot(spark, out, s3).count() == 4)
  }

  test("vacuum: retention window protects young residue; zero-retention sweeps it") {
    import spark.implicits._
    val out = tmpDir("vacuum_api")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Graft.writePartitionedTable(
      Seq((1, "a"), (2, "b")).toDF("k", "p"), out, Seq("p"))
    def touch(rel: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(out, rel)
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true); o.write(1); o.close()
    }
    touch(".graft_ingest_staging_x/part-0.parquet")
    touch(".graft_route_staging_z/gr_ok=bad/part-0.parquet")
    touch("p=a/.graft_compact_y/part-0.parquet")
    // a generous retention treats the fresh residue as a possibly-live writer
    val kept = Graft.vacuum(spark, out, olderThanMs = 3600L * 1000)
    assert(kept.stagingDirs == 0 && kept.compactDirs == 0 &&
      kept.filesRemoved == 0 && kept.skippedRecent == 3, kept.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(out, ".graft_ingest_staging_x")))
    // zero retention sweeps all three (route staging counts as staging);
    // a second pass is an idempotent no-op
    val swept = Graft.vacuum(spark, out, olderThanMs = 0)
    assert(swept.stagingDirs == 2 && swept.compactDirs == 1 &&
      swept.filesRemoved == 3 && swept.skippedRecent == 0, swept.toString)
    val again = Graft.vacuum(spark, out, olderThanMs = 0)
    assert(again.filesRemoved == 0 &&
      again.stagingDirs + again.compactDirs + again.tempDirs == 0)
    // data unaffected
    assert(Graft.readPartitionedTable(spark, out).count() == 2)
  }

  test("vacuum sweeps every writer's staging dir; a swap's retired copy is never swept") {
    import spark.implicits._
    val out = tmpDir("vacuum_staging")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Graft.writePartitionedTable(
      Seq((1, "a"), (2, "b")).toDF("k", "p"), out, Seq("p"))
    def touch(rel: String, root: String = out): Unit = {
      val p = new org.apache.hadoop.fs.Path(root, rel)
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true); o.write(1); o.close()
    }
    // a merge that failed its staged write, a relayout that died before
    // its swap, and the other whole-set swaps' and writeObject's staging
    touch(".graft_merge_1a2b3c4d/p=a/part-0.parquet")
    touch(".graft_relayout_staging/k=1/part-0.parquet")
    touch(".graft_rebuild_staging/data/part-0.parquet")
    touch(".graft_retrain_staging/data/part-0.parquet")
    touch(".graft_tmp_5e6f7a8b/part-0.csv")
    // a relayout that crashed mid-swap: its retired dir may be the only
    // complete copy
    touch(".graft_relayout_retired/p=a/part-0.parquet")
    val swept = Graft.vacuum(spark, out, olderThanMs = 0)
    assert(swept.stagingDirs == 5 && swept.compactDirs == 0 &&
      swept.filesRemoved == 5, swept.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(out,
      ".graft_relayout_retired/p=a/part-0.parquet")))
    assert(Graft.readPartitionedTable(spark, out).count() == 2)
    // the aggregate swap keeps its staging and retired dirs beside the
    // sidecar; a compaction residue inside the retired copy stays too
    val side = tmpDir("vacuum_agg")
    touch("sums/part-0.parquet", side)
    touch("sums.graft_agg_staging/part-0.parquet", side)
    touch("sums.graft_agg_retired/.graft_compact_x/part-0.parquet", side)
    val agg = Graft.vacuum(spark, side, olderThanMs = 0)
    assert(agg.stagingDirs == 1 && agg.compactDirs == 0 && agg.filesRemoved == 1,
      agg.toString)
    assert(fs.exists(new org.apache.hadoop.fs.Path(side,
      "sums.graft_agg_retired/.graft_compact_x/part-0.parquet")))
  }
}
