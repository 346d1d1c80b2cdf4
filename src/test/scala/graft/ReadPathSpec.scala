package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.functions.{coalesce, col}

import graft.api.{Graft, GraftEmptyResultException}
import graft.core._

/** End-to-end scan-path tests reproducing the reference's golden layouts
  * (FIXTURES.md §A; behavioral source: /root/reference/tests/). */
class ReadPathSpec extends SparkSpec {

  private def writeFile(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private val csv = "c1,c2\n0,hello\n1,world\n"

  test("A1: flat single file, no partitions") {
    val dir = tmpDir("a1")
    writeFile(s"$dir/f1.csv", csv)
    val df = Graft.readPartitionedTable(spark, dir)
    assert(df.columns.toSet == Set("c1", "c2"))
    assert(df.count() == 2)
  }

  test("A1b: a single-file root is the one partition, from one listing") {
    val dir = tmpDir("a1b")
    writeFile(s"$dir/f1.csv", csv)
    Discovery.resetListingCounter()
    val parts = Graft.discover(spark, s"$dir/f1.csv")
    assert(parts.map(_.url.stripPrefix("file:")) == Seq(s"$dir/f1.csv"))
    assert(parts.head.columns.isEmpty && parts.head.meta.exists(_.size == csv.length))
    assert(Discovery.listingCalls.get() == 1)
    val df = Graft.readPartitionedTable(spark, s"$dir/f1.csv")
    assert(df.columns.toSet == Set("c1", "c2"))
    assert(df.count() == 2)
  }

  test("A2: hive-style partitions auto-parsed as strings") {
    val dir = tmpDir("a2")
    writeFile(s"$dir/c3=42/c4=test/f1.csv", csv)
    val df = Graft.readPartitionedTable(spark, dir)
    assert(df.columns.toSet == Set("c1", "c2", "c3", "c4"))
    val r = df.select("c3", "c4").distinct().collect()
    assert(r.length == 1 && r(0).getString(0) == "42" && r(0).getString(1) == "test")
    assert(df.schema("c3").dataType.typeName == "string") // never inferred to int
  }

  test("A3: value-only partitions + filename column via FixedColumnsParser") {
    val dir = tmpDir("a3")
    writeFile(s"$dir/42/test/f1.csv", csv)
    val df = Graft.readPartitionedTable(spark, dir,
      parser = FixedColumnsParser.fromStr("a1/a2/fname"))
    assert(df.columns.toSet == Set("c1", "c2", "a1", "a2", "fname"))
    val r = df.select("a1", "a2", "fname").distinct().collect()
    assert(r.length == 1 && r(0).getString(0) == "42" && r(0).getString(1) == "test"
      && r(0).getString(2) == "f1.csv")
  }

  test("A4: grammar pruning + generation skips listing of pinned levels") {
    val dir = tmpDir("a4")
    writeFile(s"$dir/col1=4/col2=5/colX=a/f1.json", """{"c1":0,"c2":"hello"}""" + "\n")
    writeFile(s"$dir/col1=4/col2=6/colX=b/f2.json", """{"c1":1,"c2":"world"}""" + "\n")
    writeFile(s"$dir/col1=9/col2=6/colX=b/f3.json", """{"c1":2,"c2":"!"}""" + "\n")

    Discovery.resetListingCounter()
    val df = Graft.readPartitionedTable(spark, dir,
      parser = AutoParser.fromStr("col1=4/col2=[5,6]/colX"))
    assert(df.count() == 2)
    assert(df.select("col1").distinct().collect().map(_.getString(0)).toSet == Set("4"))
    // col1 and col2 levels are generated (no ls); we list only the 2 colX
    // level dirs + 2 terminal file dirs
    assert(Discovery.listingCalls.get() == 4)

    // wildcard level + pinned later level
    val df2 = Graft.readPartitionedTable(spark, dir,
      parser = AutoParser.fromStr("col1/col2=[6]/colX"))
    assert(df2.count() == 2)
    assert(df2.select("col2").distinct().collect().map(_.getString(0)).toSet == Set("6"))
  }

  test("A4b: atomic query over parsed columns") {
    val dir = tmpDir("a4b")
    writeFile(s"$dir/col1=4/col2=5/f1.json", """{"c1":0}""" + "\n")
    writeFile(s"$dir/col1=9/col2=6/f2.json", """{"c1":1}""" + "\n")
    val q = Q.and(Q.eq("col1", "9"), Q.atomic(Set("col2"))(m => m("col2").toInt % 2 == 0))
    val df = Graft.readPartitionedTable(spark, dir,
      query = q, parser = AutoParser.fromStr("col1/col2"))
    assert(df.select("col1").distinct().collect().map(_.getString(0)).toSeq == Seq("9"))
  }

  test("A5: numeric atomic + OR combination (reference core matrix)") {
    val dir = tmpDir("a5")
    for (k1 <- 1 to 3; k2 <- 1 to 4)
      writeFile(s"$dir/partK1=$k1/partK2=$k2/d.json", s"""{"val":${k1 * 10 + k2}}""" + "\n")
    val q = Q.or(
      Q.and(Q.eq("partK1", "1"), Q.atomic(Set("partK2"))(m => m("partK2").toInt <= 2)),
      Q.eq("partK1", "3"))
    val df = Graft.readPartitionedTable(spark, dir, query = q)
    val got = df.select("val").collect().map(_.getLong(0)).toSet
    assert(got == Set(11, 12, 31, 32, 33, 34))
  }

  test("A6: lex range over partition tree") {
    val dir = tmpDir("a6")
    var k = 0
    for (c1 <- Seq("a", "b", "c", "d", "e"); c3 <- Seq("a", "b", "c", "d")) {
      writeFile(s"$dir/c1=$c1/c2=z/c3=$c3/f.csv", s"k\n$k\n")
      k += 1
    }
    val q = QLexRange(Seq(
      ColumnRange("c1", "b", "d"), ColumnRange.wild("c2"), ColumnRange("c3", "c", "d")))
    val df = Graft.readPartitionedTable(spark, dir, query = q)
    // accepted: all (c1,c3) with (c1,c3) >= (b,c) and < (d,d), c2 wildcard
    val got = df.select("c1", "c3").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val expected = (for {
      c1 <- Seq("a", "b", "c", "d", "e"); c3 <- Seq("a", "b", "c", "d")
      if Ordering[(String, String)].gteq((c1, c3), ("b", "c"))
      if Ordering[(String, String)].lt((c1, c3), ("d", "d"))
    } yield (c1, c3)).toSet
    assert(got == expected)
  }

  test("A7: date range query == date range generator results") {
    val dir = tmpDir("a7")
    val days = Seq(("2022", "4", "30"), ("2022", "5", "1"), ("2022", "5", "2"))
    for (((y, m, d), i) <- days.zipWithIndex)
      writeFile(s"$dir/year=$y/month=$m/day=$d/f.csv", s"v\n$i\n")

    val viaQuery = Graft.readPartitionedTable(spark, dir,
      query = QDateRange("2022/4/30", "2022/5/2"))
    val viaGen = Graft.readPartitionedTable(spark, dir,
      parser = DateRangeGenerator.build("2022/4/30", "2022/5/2"))
    assert(canon(viaQuery) == canon(viaGen))
    assert(viaQuery.select("v").collect().map(_.getInt(0)).toSet == Set(0, 1))

    // value-only ymd form
    val dir2 = tmpDir("a7b")
    for (((y, m, d), i) <- days.zipWithIndex)
      writeFile(s"$dir2/$y/$m/$d/f.csv", s"v\n$i\n")
    val viaGen2 = Graft.readPartitionedTable(spark, dir2,
      parser = DateRangeGenerator.build("2022/4/30", "2022/5/2",
        includeColumnInPath = false))
    assert(viaGen2.select("v").collect().map(_.getInt(0)).toSet == Set(0, 1))
  }

  test("A8: grammar shorter than tree raises 'no partitions remaining'") {
    val dir = tmpDir("a8")
    writeFile(s"$dir/v1/v2/f1.csv", csv)
    val ex = intercept[Exception] {
      Graft.readPartitionedTable(spark, dir, parser = FixedColumnsParser.fromStr("c1/fname"))
    }
    assert(ex.getMessage.contains("no partitions remaining"))
  }

  test("A8b: empty result raises (reference contract)") {
    val dir = tmpDir("a8b")
    writeFile(s"$dir/c1=a/f1.csv", csv)
    intercept[GraftEmptyResultException] {
      Graft.readPartitionedTable(spark, dir, query = Q.eq("c1", "nope"))
    }
  }

  test("A8c: lazy errors collect per-file failures, good files still load") {
    val dir = tmpDir("a8c")
    writeFile(s"$dir/p=1/good.json", """{"c1":0,"c2":"hello"}""" + "\n")
    writeFile(s"$dir/p=2/bad.json", "whopsie dupsie parsing oopsie\n")
    val rich = Graft.readPartitionedTableRich(spark, dir)
    assert(rich.failures.length == 1)
    assert(rich.failures.head.partition.url.endsWith("bad.json"))
    assert(rich.data.count() == 1)
    // eager mode raises instead
    intercept[Exception] {
      Graft.readPartitionedTable(spark, dir).collect()
    }
  }

  test("A8d: lazy errors probe the file itself even with a user schema") {
    val dir = tmpDir("a8d")
    // good parquet staged by Spark, then placed into the tree
    val stage = tmpDir("a8d-stage")
    spark.range(3).selectExpr("id AS c1").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    Files.createDirectories(Paths.get(s"$dir/p=1"))
    Files.copy(src, Paths.get(s"$dir/p=1/good.parquet"))
    writeFile(s"$dir/p=2/bad.parquet", "definitely not a parquet footer")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.LongType)))
    // with a user schema the probe must still open the footer — the corrupt
    // file lands in failures instead of blowing up the whole FAILFAST scan
    val rich = Graft.readPartitionedTableRich(spark, dir, schema = Some(schema))
    assert(rich.failures.length == 1)
    assert(rich.failures.head.partition.url.endsWith("bad.parquet"))
    assert(rich.data.filter(col("p") === "1").count() == 3)
  }

  test("A8e: probe of a 1000-file parquet tree is metadata-speed (no Spark jobs)") {
    val dir = tmpDir("a8e")
    val stage = tmpDir("a8e-stage")
    spark.range(5).selectExpr("id AS c1").coalesce(1).write.mode("overwrite").parquet(stage)
    val src = Files.list(Paths.get(stage)).iterator()
    var pq: java.nio.file.Path = null
    while (src.hasNext) { val p = src.next(); if (p.toString.endsWith(".parquet")) pq = p }
    for (i <- 0 until 1000) {
      Files.createDirectories(Paths.get(s"$dir/p=$i"))
      Files.copy(pq, Paths.get(s"$dir/p=$i/f.parquet"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.LongType)))
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val t0 = System.nanoTime()
    val rich = Graft.readPartitionedTableRich(spark, dir, schema = Some(schema))
    val probeMs = (System.nanoTime() - t0) / 1e6
    assert(rich.failures.isEmpty)
    // the probe itself must run zero Spark jobs (pure footer reads) ...
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == jobsBefore,
      "parquet probe must not launch Spark jobs")
    // ... and be metadata-speed: ~1 ms/footer on 32 threads (generous bound
    // for CI noise; a per-file DataFrameReader resolution takes minutes)
    assert(probeMs < 3000, s"probe took ${probeMs}ms for 1000 files")
    assert(rich.data.count() == 5000)
  }

  test("A8f: csv probe with a user schema reads only the header line") {
    val dir = tmpDir("a8f")
    writeFile(s"$dir/p=1/good.csv", "c1,c2\n1,hello\n")
    writeFile(s"$dir/p=2/empty.csv", "")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c1", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c2", org.apache.spark.sql.types.StringType)))
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val rich = Graft.readPartitionedTableRich(spark, dir, schema = Some(schema),
      columns = Seq("c2"))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == jobsBefore,
      "csv probe with user schema must not launch Spark jobs")
    assert(rich.failures.length == 1 && rich.failures.head.partition.url.endsWith("empty.csv"))
    assert(rich.data.count() == 1)
    // a header missing a requested column is a probe failure, not a scan blowup
    val rich2 = Graft.readPartitionedTableRich(spark, dir, schema = Some(schema),
      columns = Seq("c9"))
    assert(rich2.failures.length == 2)
  }

  test("A8g: csv probe WITHOUT a user schema is header-line only (O(1) jobs, not O(files))") {
    val dir = tmpDir("a8g")
    for (i <- 0 until 50) writeFile(s"$dir/p=$i/f.csv", s"c1,c2\n$i,hello\n")
    writeFile(s"$dir/p=x/empty.csv", "")
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val rich = Graft.readPartitionedTableRich(spark, dir)
    val jobsRun = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - jobsBefore
    // the probe itself is pure header reads; only the ATTACH may run first-file
    // schema inference (a constant couple of jobs, regardless of file count —
    // per-file inference would be 50+)
    assert(jobsRun <= 3, s"schema-less csv probe ran $jobsRun jobs for 51 files")
    assert(rich.failures.length == 1 && rich.failures.head.partition.url.endsWith("empty.csv"))
    assert(rich.data.count() == 50)
  }

  test("A8h: csv header probe honors quoted cells containing the separator") {
    import graft.api.Graft
    assert(Graft.splitCsvHeader("\"last,first\",age", ",", '"') == Seq("last,first", "age"))
    assert(Graft.splitCsvHeader("a,\"b\"\"c\",d", ",", '"') == Seq("a", "b\"c", "d"))
    assert(Graft.splitCsvHeader("x;y;z", ";", '"') == Seq("x", "y", "z"))
    assert(Graft.splitCsvHeader(" a , b ", ",", '"') == Seq("a", "b"))
    // multi-char separators split on the full string, not its first char
    assert(Graft.splitCsvHeader("a||b||c", "||", '"') == Seq("a", "b", "c"))
    assert(Graft.splitCsvHeader("a|b||c", "||", '"') == Seq("a|b", "c"))
    assert(Graft.splitCsvHeader("\"a||b\"||c", "||", '"') == Seq("a||b", "c"))
    // a separator that BEGINS with a double quote splits rather than
    // opening a quoted cell (separator match precedes quote-open)
    assert(Graft.splitCsvHeader("a\"|b\"|c", "\"|", '"') == Seq("a", "b", "c"))
    // the quote option names the quote character
    assert(Graft.splitCsvHeader("'a,b',c", ",", '\'') == Seq("a,b", "c"))
    val dir = tmpDir("a8h")
    writeFile(s"$dir/p=1/f.csv", "\"last,first\",age\n\"doe,jane\",40\n")
    // a requested quoted column must be SEEN by the probe, not mis-split
    val rich = Graft.readPartitionedTableRich(spark, dir,
      options = Map("header" -> "true"), columns = Seq("last,first"))
    assert(rich.failures.isEmpty, rich.failures.mkString(";"))
  }

  test("A8i: lazy-errors csv probe reads gzip files through their codec") {
    val dir = tmpDir("a8i")
    def gz(path: String, content: String): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    gz(s"$dir/p=1/f.csv.gz", "x,y\n1,a\n2,b\n")
    gz(s"$dir/p=2/f.csv.gz", "x,y\n3,c\n")
    val cols = Seq("x", "y")
    val rich = Graft.readPartitionedTableRich(spark, dir, format = "csv", columns = cols)
    assert(rich.failures.isEmpty, rich.failures.mkString(";"))
    assert(rich.data.count() == 3)
    assert(Graft.readPartitionedTable(spark, dir, format = "csv", columns = cols).count() == 3)
  }

  test("projection pushdown: columns option prunes data columns, keeps partitions") {
    val dir = tmpDir("proj")
    writeFile(s"$dir/p=1/f.csv", csv)
    val df = Graft.readPartitionedTable(spark, dir, columns = Seq("c2"))
    assert(df.columns.toSet == Set("c2", "p"))
  }

  /** A csv+json tree with `n` partitions per format: `p=c<i>` holds one
    * csv row (c1 = i, c2 = "c<i>"), `p=j<i>` one json row (c1 = i + 1000,
    * c3 = "j<i>"). */
  private def mixedTree(prefix: String, n: Int): String = {
    val dir = tmpDir(prefix)
    for (i <- 0 until n) {
      writeFile(s"$dir/p=c$i/f.csv", s"c1,c2\n$i,c$i\n")
      writeFile(s"$dir/p=j$i/f.json", s"""{"c1":${i + 1000},"c3":"j$i"}""" + "\n")
    }
    dir
  }

  /** Files the final plan's scans read after partition pruning. AQE is
    * off while planning so every scan is a leaf of the executed plan. */
  private def filesScanned(df: org.apache.spark.sql.DataFrame): Int = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum }.sum
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("mixed-format tree: one file index per format, same rows at any partition count") {
    val small = Graft.readPartitionedTable(spark, mixedTree("mixed", 4))
    assert(small.count() == 8)
    assert(small.select("p").distinct().count() == 8)
    assert(small.columns.toSet == Set("c1", "c2", "c3", "p"))
    // 70 partitions per format (above any per-partition plan's reach): the
    // same relation shape, and its first 4 partitions per format equal the
    // small tree's read
    val big = Graft.readPartitionedTable(spark, mixedTree("mixed_big", 70))
    assert(big.count() == 140)
    val ps = (0 until 4).flatMap(i => Seq(s"c$i", s"j$i"))
    assert(canon(big.filter(col("p").isin(ps: _*))) == canon(small))
  }

  test("mixed-format tree: each format's rows equal that format's own read") {
    val dir = mixedTree("mixed_parity", 4)
    val mixed = Graft.readPartitionedTable(spark, dir)
    for ((fmt, absent) <- Seq("c" -> "c3", "j" -> "c2")) {
      val ps = (0 until 4).map(i => s"$fmt$i")
      val single = Graft.readPartitionedTable(spark, dir, Q.in("p", ps))
      val slice = mixed.filter(col("p").isin(ps: _*))
      assert(slice.filter(col(absent).isNotNull).count() == 0)
      assert(canon(slice.select(single.columns.toSeq.map(col): _*)) == canon(single),
        s"$fmt partitions differ from the single-format read")
    }
  }

  test("mixed-format tree: post-hoc partition filters prune every format's files") {
    val df = Graft.readPartitionedTable(spark, mixedTree("mixed_prune", 70))
      .filter(col("p").isin("c3", "j5"))
    assert(df.select("p", "c1").collect().map(r => (r.getString(0), r.get(1).toString))
      .toSet == Set(("c3", "3"), ("j5", "1005")))
    val scanned = filesScanned(df)
    assert(scanned == 2, s"expected 2 of 140 files after pruning, got $scanned")
  }

  test("mixed-format tree: building the read runs as many jobs at 4 as at 40 partitions") {
    val small = mixedTree("mixed_jobs4", 4)
    val big = mixedTree("mixed_jobs40", 40)
    val (_, smallJobs) = jobsDuring(Graft.readPartitionedTable(spark, small))
    val (_, bigJobs) = jobsDuring(Graft.readPartitionedTable(spark, big))
    assert(smallJobs == bigJobs,
      s"build jobs grow with partitions: $smallJobs at 4, $bigJobs at 40")
  }

  test("mixed-format tree: a column one format types as string reads as string") {
    val dir = tmpDir("mixed_clash")
    writeFile(s"$dir/p=c/f.csv", "v\n1\n")
    writeFile(s"$dir/p=j/f.json", """{"v":"abc"}""" + "\n")
    val df = Graft.readPartitionedTable(spark, dir)
    assert(df.schema("v").dataType == org.apache.spark.sql.types.StringType)
    assert(df.select("p", "v").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == Set(("c", "1"), ("j", "abc")))
  }

  test("mixed-format tree with xlsx: every row carries its partition values") {
    import graft.sources.Xlsx
    val dir = mixedTree("mixed_xlsx", 2)
    for (i <- 0 until 2) {
      Files.createDirectories(Paths.get(s"$dir/p=x$i"))
      val out = new java.io.FileOutputStream(s"$dir/p=x$i/f.xlsx")
      try Xlsx.write(out, Seq("c1", "c4"), Seq(Seq(i + 2000, s"x$i")))
      finally out.close()
    }
    val df = Graft.readPartitionedTable(spark, dir)
    assert(df.columns.toSet == Set("c1", "c2", "c3", "c4", "p"))
    val rows = df.select(col("p"), col("c1").cast("string"),
        coalesce(col("c2"), col("c3"), col("c4")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == (0 until 2).flatMap(i => Seq(
      (s"c$i", s"$i", s"c$i"), (s"j$i", s"${i + 1000}", s"j$i"),
      (s"x$i", s"${i + 2000}", s"x$i"))).toSet)
  }

  test("post-hoc partition filters prune files through GraftFileIndex") {
    val dir = tmpDir("prune")
    for (y <- 2020 to 2023; f <- Seq("a", "b"))
      writeFile(s"$dir/y=$y/$f.csv", s"v\n${y - 2020}\n")
    // read EVERYTHING (Q.True), filter afterwards on the partition column —
    // pruning must happen at the FileIndex, not per-row
    val df = Graft.readPartitionedTable(spark, dir).filter(col("y") === "2022")
    assert(df.select("v").collect().map(_.getInt(0)).toSeq == Seq(2, 2))
    val scan = df.queryExecution.executedPlan.toString
    val loc = scan.split("\n").find(_.contains("PartitionFilters")).getOrElse("")
    assert(loc.contains("y"), s"expected partition filter in plan: $loc")
    // the scan must read only the 2 matching files
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.size).sum }.sum
    assert(scanned == 2, s"expected 2 files after pruning, got $scanned")
    // value-only layout prunes the same way (Spark itself cannot parse this)
    val dir2 = tmpDir("prune2")
    for (y <- 2020 to 2023)
      writeFile(s"$dir2/$y/data.csv", s"v\n${y - 2020}\n")
    val df2 = Graft.readPartitionedTable(spark, dir2,
        parser = FixedColumnsParser.fromStr("yr/fname"))
      .filter(col("yr") === "2021")
    assert(df2.select("v").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("identity listing returns files + partition values without reading") {
    val dir = tmpDir("ident")
    writeFile(s"$dir/k=1/f1.csv", csv)
    writeFile(s"$dir/k=2/f2.csv", csv)
    val df = Graft.listPartitionedTable(spark, dir)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(df.columns.toSet == Set("path", "k"))
  }

  test("grammar-less AutoParser reads files at every depth (reference quirk)") {
    val dir = tmpDir("quirk")
    writeFile(s"$dir/root.csv", "c1,c2\n9,rootlevel\n")
    writeFile(s"$dir/k=1/deep.csv", csv)
    val df = Graft.readPartitionedTable(spark, dir)
    // both depths load; the shallow file has a null partition value
    assert(df.count() == 3)
    assert(df.filter(col("k").isNull).count() == 1)
    assert(df.filter(col("k") === "1").count() == 2)
  }

  test("AUTO format detection fails on unknown suffix; forced format reads") {
    val dir = tmpDir("forced")
    // csv content in a .json file: auto json read fails fast on eager path
    writeFile(s"$dir/f1.json", csv)
    intercept[Exception] {
      Graft.readPartitionedTable(spark, dir).collect()
    }
    val forced = Graft.readPartitionedTable(spark, dir, format = "csv")
    assert(forced.count() == 2 && forced.columns.toSet == Set("c1", "c2"))
    // unknown suffix
    writeFile(s"$dir/f2.unknownext", "x")
    intercept[IllegalArgumentException] {
      Graft.readPartitionedTable(spark, dir)
    }
  }

  test("corrupt xlsx fails eagerly with a clear parse error") {
    // (round-1 contract was "xlsx unsupported"; the reader is now real, so
    // garbage bytes must fail the zip/worksheet parse with a useful message —
    // the lazyErrors leg of this behavior is pinned in the S9x scan test)
    val dir = tmpDir("xlsx")
    writeFile(s"$dir/wb.xlsx", "not really xlsx")
    val ex = intercept[IllegalArgumentException] {
      Graft.readPartitionedTable(spark, dir).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("xlsx") ||
      ex.getMessage.toLowerCase.contains("zip"))
  }

  test("winnowing fingerprint is stable under small mid-document edits") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val base = ("x" * 40) + "abcdefghijklmnopqrstuvwxyz0123456789" + ("y" * 40)
    val edited = base.replace("mnop", "mnXp") // one local edit
    val df = Seq((1L, base), (2L, edited), (3L, "completely different content here"))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.winnowFingerprint(col("text"), k = 8).as("fp"))
    val fps = df.as[(Long, Long)].collect().toMap
    // min-hash-of-kgrams usually survives a single local edit (the minimum
    // k-gram is unlikely to straddle it); unrelated text differs
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("wide-tree discovery: pruning and generation bound the listing cost") {
    val dir = tmpDir("wide")
    for (i <- 0 until 300) writeFile(s"$dir/k=$i/f.csv", s"c1\n$i\n")
    Discovery.resetListingCounter()
    val all = Graft.discover(spark, dir)
    assert(all.size == 300)
    assert(Discovery.listingCalls.get() == 301) // root + each dir, in parallel
    // equality pruning: only the matching subtree is listed after the root
    Discovery.resetListingCounter()
    val pruned = Graft.discover(spark, dir, Q.eq("k", "42"))
    assert(pruned.size == 1 && Discovery.listingCalls.get() == 2)
    // grammar generation: the root is never listed at all
    Discovery.resetListingCounter()
    val gen = Graft.discover(spark, dir, parser = AutoParser.fromStr("k=[42,43]"))
    assert(gen.size == 2 && Discovery.listingCalls.get() == 2)
    // discovery's listing already captured every file's size/mtime — a full
    // read must add ZERO per-file stat calls (at millions of files a serial
    // driver stat loop would dominate the scan path)
    assert(all.forall(_.meta.exists(_.size > 0)), "listing must capture file meta")
    graft.index.GraftFileIndex.fallbackListCalls.set(0)
    Discovery.resetListingCounter()
    val df = Graft.readPartitionedTable(spark, dir, Q.eq("k", "7"))
    assert(df.count() == 1)
    assert(Discovery.listingCalls.get() == 2) // root + the one matching dir
    assert(graft.index.GraftFileIndex.fallbackListCalls.get() == 0,
      "index must reuse discovery-time file statuses, not re-stat")
  }

  test("discovery pays ONE rpc per directory: no exists/stat probes, overshoot tolerated") {
    val dir = tmpDir("noexists")
    for (i <- Seq(42, 43)) writeFile(s"$dir/k=$i/f.csv", s"c1\n$i\n")
    val conf = new org.apache.hadoop.conf.Configuration()
    val probes = new java.util.concurrent.atomic.AtomicLong()
    val counting = new org.apache.hadoop.fs.FilterFileSystem(
      org.apache.hadoop.fs.FileSystem.getLocal(conf)) {
      override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
        probes.incrementAndGet(); super.exists(p)
      }
      override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
        probes.incrementAndGet(); super.getFileStatus(p)
      }
    }
    Discovery.resetListingCounter()
    // generated grammar that OVERSHOOTS: k=999 has no directory on disk — the
    // miss must be absorbed by the single listStatus call, not a pre-probe
    val parts = Discovery.discoverPartitions(
      Q.True, AutoParser.fromStr("k=[42,43,999]"),
      graft.core.Partition.root(dir + "/"), counting)
    assert(parts.size == 2)
    assert(Discovery.listingCalls.get() == 3) // the 3 generated dirs; root never listed
    assert(probes.get() == 0, "discovery must not exists/stat-probe directories")
  }

  test("S9x: xlsx writer/reader round-trip, sparse cells, escaping, col letters") {
    import graft.sources.Xlsx
    val bos = new java.io.ByteArrayOutputStream()
    Xlsx.write(bos, Seq("id", "name", "score"),
      Seq(Seq(1L, "alice & <bob>", 9.5), Seq(2L, null, 7), Seq(3L, "carol", null)))
    val (hdr, rows) = Xlsx.read(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(hdr == Seq("id", "name", "score"))
    assert(rows == Seq(
      Seq("1", "alice & <bob>", "9.5"),
      Seq("2", null, "7"),
      Seq("3", "carol", null)))
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25
      && Xlsx.colIndex("AA3") == 26 && Xlsx.colIndex("BC12") == 54)
  }

  test("S9x: xlsx scan attaches partition columns and applies the user schema") {
    import graft.sources.Xlsx
    val dir = tmpDir("xlsx_scan")
    for (p <- Seq("a", "b")) {
      Files.createDirectories(Paths.get(s"$dir/p=$p"))
      val out = new java.io.FileOutputStream(s"$dir/p=$p/data.xlsx")
      try Xlsx.write(out, Seq("k", "v"), Seq(Seq(1, s"$p-one"), Seq(2, s"$p-two")))
      finally out.close()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val df = Graft.readPartitionedTable(spark, dir, schema = Some(schema))
    assert(df.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == 4)
    assert(df.filter(col("p") === "b" && col("k") === 2).select("v")
      .head().getString(0) == "b-two")
    // lazy errors: a corrupt xlsx lands in failures, good files load
    writeFile(s"$dir/p=c/broken.xlsx", "this is not a zip file")
    val rich = Graft.readPartitionedTableRich(spark, dir, schema = Some(schema))
    assert(rich.failures.length == 1
      && rich.failures.head.partition.url.endsWith("broken.xlsx"))
    assert(rich.data.count() == 4)
  }

  test("S9x: xlsx parse is executor-side — only the first file touches the driver") {
    import graft.sources.Xlsx
    val dir = tmpDir("xlsx_lazy")
    Files.createDirectories(Paths.get(s"$dir/p=a"))
    val out = new java.io.FileOutputStream(s"$dir/p=a/good.xlsx")
    try Xlsx.write(out, Seq("k", "v"), Seq(Seq(1, "one")))
    finally out.close()
    // a corrupt NON-first file: building the frame must succeed (the driver
    // parses only the first file, for the header — rows stay on executors),
    // and the parse error surfaces lazily at action time on the task
    writeFile(s"$dir/p=z/bad.xlsx", "garbage, not a zip")
    val df = Graft.readPartitionedTable(spark, dir)
    val ex = intercept[Exception] { df.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.toLowerCase.contains("xlsx")))
    // good files alone: full distributed read works and stays correct
    val ok = Graft.readPartitionedTable(spark, s"$dir/p=a")
    assert(ok.select("k", "v").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("1", "one")))
  }

  test("mergeSchema widens divergent parquet schemas across partitions") {
    import spark.implicits._
    val dir = tmpDir("merge")
    Seq((1, "a")).toDF("c1", "c2").write.parquet(s"$dir/p=1")
    Seq((2, "b", 9.5)).toDF("c1", "c2", "c3").write.parquet(s"$dir/p=2")
    // default: first-file schema wins (c3 dropped or present depending on
    // listing order — assert only non-merge succeeds)
    assert(Graft.readPartitionedTable(spark, dir).count() == 2)
    val merged = Graft.readPartitionedTable(spark, dir,
      options = Map("mergeSchema" -> "true"))
    assert(merged.columns.toSet == Set("c1", "c2", "c3", "p"))
    assert(merged.filter(col("p") === "1").select("c3").head().isNullAt(0))
  }

  test("writeObject single-file round trips parquet/csv/json + raw bytes") {
    val dir = tmpDir("wo")
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "s")
    for (fmt <- Seq("parquet", "csv", "json")) {
      val target = s"$dir/out.$fmt"
      Graft.writeObject(df, target)
      assert(Files.isRegularFile(Paths.get(target)), s"$fmt single object")
      val back = Graft.readPartitionedTable(spark, dir,
        query = Q.True, parser = AutoParser.auto, format = fmt,
        options = Map.empty, schema = Some(df.schema))
      assert(back.count() >= 2)
      Files.delete(Paths.get(target))
    }
    Graft.writeRaw(spark, s"$dir/raw.bin", "ahoj".getBytes)
    assert(Files.readString(Paths.get(s"$dir/raw.bin")) == "ahoj")
  }

  test("writeObject json orient=records/columns (reference pandas to_json shapes)") {
    val dir = tmpDir("orient")
    import spark.implicits._
    val df = Seq((1, "a\"quote"), (2, null: String)).toDF("k", "s")
    Graft.writeObject(df, s"$dir/rec.json", options = Map("orient" -> "records"))
    assert(Files.readString(Paths.get(s"$dir/rec.json"))
      == """[{"k":1,"s":"a\"quote"},{"k":2,"s":null}]""")
    // records arrays round-trip through Spark's multiLine json reader
    val back = spark.read.option("multiLine", "true").json(s"$dir/rec.json")
    assert(back.count() == 2 && back.columns.toSet == Set("k", "s"))
    Graft.writeObject(df, s"$dir/col.json", options = Map("orient" -> "columns"))
    assert(Files.readString(Paths.get(s"$dir/col.json"))
      == """{"k":{"0":1,"1":2},"s":{"0":"a\"quote","1":null}}""")
    intercept[IllegalArgumentException] {
      Graft.writeObject(df, s"$dir/x.json", options = Map("orient" -> "split"))
    }
    // NaN is not a JSON token — encode as null (pandas to_json behavior)
    val nan = Seq((1, Double.NaN), (2, 1.5)).toDF("k", "x")
    Graft.writeObject(nan, s"$dir/nan.json", options = Map("orient" -> "records"))
    assert(Files.readString(Paths.get(s"$dir/nan.json"))
      == """[{"k":1,"x":null},{"k":2,"x":1.5}]""")
  }

  test("openPartitionedFile / consumePartitionedTable (reference consume affordance)") {
    val dir = tmpDir("consume")
    writeFile(s"$dir/k=1/f.csv", "c1\nalpha\n")
    writeFile(s"$dir/k=2/f.csv", "c1\nbeta\n")
    val firstLine: java.io.InputStream => String = in =>
      new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
    // single-file open on a discovered url
    val one = Graft.discover(spark, dir, Q.eq("k", "2")).head
    assert(Graft.openPartitionedFile(spark, one.url)(firstLine) == "c1")
    // iterator variant: deterministic order, partition values attached
    val all = Graft.consumePartitionedTable(spark, dir)(in => {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      r.readLine(); r.readLine()
    })
    assert(all.map { case (p, line) => (p.columns("k"), line) }
      == Seq(("1", "alpha"), ("2", "beta")))
  }

  test("bloom sidecar: prunes files, exact answers, stale-fails-closed, string keys") {
    import spark.implicits._
    import graft.index.BloomSidecar
    val out = tmpDir("bloom_tbl")
    // 4 range-clustered files over disjoint key ranges
    (0 until 400).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")).write.mode("overwrite").parquet(out)
    assert(BloomSidecar.write(spark, out, "id", fpp = 0.01,
      expectedPerFile = 1000) == 4)
    // a single-range key set must hit a strict file subset
    val cand = BloomSidecar.candidateFiles(spark, out, "id", Seq(7L, 9L))
    assert(cand.nonEmpty && cand.size < 4, cand.toString)
    // pruned read == full-scan filter, including a key that doesn't exist
    val keys: Seq[Any] = Seq(7L, 9L, 399L, 12345L)
    val pruned = BloomSidecar.readWithSkip(spark, out, "id", keys)
      .select("id").as[Long].collect().sorted
    assert(pruned.toSeq == Seq(7L, 9L, 399L))
    // string-key sidecar round-trips through UTF-8 bytes
    assert(BloomSidecar.write(spark, out, "name", fpp = 0.01,
      expectedPerFile = 1000) == 4)
    val byName = BloomSidecar.readWithSkip(spark, out, "name",
        Seq("name_42", "nope"))
      .select("id").as[Long].collect()
    assert(byName.toSeq == Seq(42L))
    // appending a file AFTER the build must fail the lookup closed
    Seq((9999L, "late")).toDF("id", "name")
      .write.mode("append").parquet(out)
    val e = intercept[IllegalArgumentException] {
      BloomSidecar.candidateFiles(spark, out, "id", Seq(9999L))
    }
    assert(e.getMessage.contains("STALE"))
    // rebuild heals it
    BloomSidecar.write(spark, out, "id", fpp = 0.01, expectedPerFile = 1000)
    assert(BloomSidecar.readWithSkip(spark, out, "id", Seq(9999L))
      .count() == 1)
    // a ZERO-ROW part file (schema-only append) is covered with an empty
    // bloom: no false STALE, and lookups skip it naturally
    spark.range(0).selectExpr("id", "concat('n', id) AS name")
      .coalesce(1).write.mode("append").parquet(out)
    val n = BloomSidecar.write(spark, out, "id",
      fpp = 0.01, expectedPerFile = 1000)
    assert(n == spark.read.parquet(out).inputFiles.length,
      "sidecar must cover every file incl. empty ones")
    assert(BloomSidecar.readWithSkip(spark, out, "id", Seq(7L))
      .count() == 1)
  }


  // ------------------------------------------------ job-free read building

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `df` as ONE Spark-written parquet file (it carries Spark's row
    * metadata) at `dest`. */
  private def sparkParquetFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val stage = tmpDir("spark-pq")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    Files.createDirectories(Paths.get(dest).getParent)
    Files.copy(src, Paths.get(dest))
  }

  /** A parquet-mr file (no Spark row metadata) with schema `message`,
    * holding the rows `fill` adds. */
  private def parquetMrFile(dest: String, message: String)(
      fill: (org.apache.parquet.example.data.simple.SimpleGroupFactory,
        org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group]) => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dest))
      .withConf(spark.sessionState.newHadoopConf())
      .withType(schema)
      .build()
    try fill(new SimpleGroupFactory(schema), writer) finally writer.close()
  }

  /** The read over a tree holding only `file` reports the schema Spark's
    * own inference gives the file, built from the footer without a job;
    * where Spark's inference fails, the read fails with the same class. */
  private def assertSchemaParity(file: String): Unit = {
    def outcome(f: => org.apache.spark.sql.types.StructType) =
      Try(f).toEither.left.map(_.getClass.getName)
    val expected = outcome(spark.read.parquet(file).schema)
    val (got, jobs) = jobsDuring(outcome(
      Graft.readPartitionedTable(spark, Paths.get(file).getParent.toString).schema))
    assert(got == expected, s"$file: graft $got vs Spark $expected")
    if (expected.isRight) assert(jobs == 0, s"$file: building the read ran $jobs jobs")
  }

  test("building parquet reads runs no Spark job: the schema comes from one footer") {
    import spark.implicits._
    val out = tmpDir("nojob")
    Graft.writePartitionedTable(
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "p"), out, Seq("p"))
    TaggedAppend.append(Seq((3L, "c", "x")).toDF("k", "v", "p"), out, "t1", Seq("p"))
    val snap = Graft.snapshot(spark, out)
    val (frames, jobs) = jobsDuring(Seq(
      Graft.readPartitionedTable(spark, out),
      Graft.readPartitionedTable(spark, out, query = Q.eq("p", "x")),
      Graft.readPartitionedTableRich(spark, out).data,
      Graft.readTaggedBatch(spark, out, "t1"),
      Graft.readSnapshot(spark, out, snap)))
    assert(jobs == 0, s"building the reads ran $jobs Spark jobs")
    assert(frames.map(_.count()) == Seq(3L, 2L, 3L, 1L, 3L))
    assert(frames.head.schema.map(f => (f.name, f.dataType.typeName, f.nullable)) ==
      Seq(("k", "long", true), ("v", "string", true), ("p", "string", true)))
  }

  test("footer schema equals Spark's inference across parquet encodings and confs") {
    import org.apache.parquet.io.api.Binary
    // Spark-written, with Spark's row metadata: non-nullable and nested
    // struct, array and map columns
    val spk = s"${tmpDir("parity-spark")}/t/f.parquet"
    sparkParquetFile(spark.range(3).selectExpr("id",
      "named_struct('a', id, 'b', cast(id AS string)) AS s",
      "array(id, id + 1) AS arr", "map(cast(id AS string), id) AS m",
      "cast(id AS decimal(12, 2)) AS dec", "cast(id AS timestamp) AS ts"), spk)
    assertSchemaParity(spk)

    // parquet-mr, required fields (must come back nullable), nested groups
    val req = s"${tmpDir("parity-required")}/t/f.parquet"
    parquetMrFile(req,
      """message m {
        |  required int64 event_id;
        |  optional binary name (STRING);
        |  required group s { required int32 a; optional double b; }
        |  optional group arr (LIST) { repeated group list { required int32 element; } }
        |  optional group m (MAP) { repeated group key_value {
        |    required binary key (STRING); optional int64 value; } }
        |}""".stripMargin) { (f, w) =>
      val g = f.newGroup().append("event_id", 7L).append("name", "x")
      g.addGroup("s").append("a", 1)
      w.write(g)
    }
    assertSchemaParity(req)
    assert(Graft.readPartitionedTable(spark, Paths.get(req).getParent.toString)
      .schema("event_id").nullable, "a required column reads back nullable, as in Spark")

    // INT96 timestamps
    val i96 = s"${tmpDir("parity-int96")}/t/f.parquet"
    parquetMrFile(i96, "message m { required int96 ts; }") { (f, w) =>
      w.write(f.newGroup().append("ts", Binary.fromConstantByteArray(new Array[Byte](12))))
    }
    assertSchemaParity(i96)

    // TIMESTAMP(NANOS) under both legacy nanos settings
    val nanos = s"${tmpDir("parity-nanos")}/t/f.parquet"
    parquetMrFile(nanos, "message m { required int64 ts (TIMESTAMP(NANOS,true)); }") {
      (f, w) => w.write(f.newGroup().append("ts", 1L))
    }
    for (v <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> v)(assertSchemaParity(nanos))

    // un-annotated binary under both binaryAsString settings
    val bin = s"${tmpDir("parity-binary")}/t/f.parquet"
    parquetMrFile(bin, "message m { optional binary b; }") { (f, w) =>
      w.write(f.newGroup().append("b", Binary.fromString("abc")))
    }
    for (v <- Seq("true", "false"))
      withConf("spark.sql.parquet.binaryAsString" -> v)(assertSchemaParity(bin))
  }

  test("a corrupt first parquet file still fails at the read call, as Spark's inference does") {
    val dir = tmpDir("corrupt-first")
    writeFile(s"$dir/p=1/a.parquet", "definitely not a parquet footer")
    sparkParquetFile(spark.range(3).toDF("c1"), s"$dir/p=2/b.parquet")
    val expected = intercept[Exception](spark.read.parquet(s"$dir/p=1/a.parquet").schema)
    val e = intercept[Exception](Graft.readPartitionedTable(spark, dir))
    assert(e.getClass == expected.getClass, s"${e.getClass} vs ${expected.getClass}")
  }

  test("a pruned snapshot read lists the table once and returns the pinned rows") {
    import spark.implicits._
    val out = tmpDir("snap-pruned")
    Graft.writePartitionedTable(
      Seq((1, "a"), (2, "a"), (3, "b"), (4, "c")).toDF("k", "p"), out, Seq("p"))
    val snap = Graft.snapshot(spark, out)
    TaggedAppend.append(Seq((5, "a"), (6, "b")).toDF("k", "p"), out, "late", Seq("p"))
    Discovery.resetListingCounter()
    Graft.discover(spark, out)
    val oneListing = Discovery.listingCalls.get()
    Discovery.resetListingCounter()
    val pruned = Graft.readSnapshot(spark, out, snap,
      query = Q.or(Q.eq("p", "a"), Q.eq("p", "c")))
    assert(Discovery.listingCalls.get() == oneListing,
      "the read must reuse the snapshot's validation listing")
    assert(pruned.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 4))
    assert(canon(pruned) ==
      canon(Graft.readSnapshot(spark, out, snap).filter(col("p") =!= "b")))
  }

  // ------------------------------------------------ merged parquet schemas

  /** One Spark-written parquet file per (name, frame) under `dir`. */
  private def parquetFiles(dir: String, files: (String, org.apache.spark.sql.DataFrame)*): Seq[String] =
    files.map { case (name, df) => val f = s"$dir/$name"; sparkParquetFile(df, f); f }

  test("a mergeSchema read's footer-merged schema equals Spark's merge; a conflict fails alike") {
    import spark.implicits._
    val merge = Map("mergeSchema" -> "true")
    def graftSchema(dir: String) = Graft.readPartitionedTable(spark, dir, options = merge).schema
    def sparkSchema(files: Seq[String]) = spark.read.options(merge).parquet(files: _*).schema
    // added columns in different orders: the union follows path order,
    // whatever order the files were written in
    for ((first, second) <- Seq(("a", "b"), ("b", "a"))) {
      val dir = tmpDir(s"merge-order-$first")
      val files = parquetFiles(dir,
        s"$first.parquet" -> Seq((1, "x")).toDF("c1", "c2"),
        s"$second.parquet" -> Seq((2.5, 2, 7L)).toDF("c3", "c1", "c4"),
        "c.parquet" -> Seq(("y", 3)).toDF("c5", "c1"))
      assert(graftSchema(dir) == sparkSchema(files), dir)
    }
    // a nested struct widened by a later file, plus a non-nullable column
    val nested = tmpDir("merge-nested")
    val nestedFiles = parquetFiles(nested,
      "a.parquet" -> spark.range(2).selectExpr("id", "named_struct('x', id) AS s"),
      "b.parquet" -> spark.range(2).selectExpr(
        "named_struct('x', id, 'y', cast(id AS string)) AS s", "array(id) AS arr"))
    val nestedSchema = graftSchema(nested)
    assert(nestedSchema == sparkSchema(nestedFiles))
    assert(nestedSchema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("x", "y"))
    // across partition dirs: the data schema matches, the partition column follows
    val tree = tmpDir("merge-tree")
    val treeFiles = parquetFiles(tree,
      "p=1/f.parquet" -> Seq((1, "a")).toDF("c1", "c2"),
      "p=2/f.parquet" -> Seq((2, 9.5)).toDF("c1", "c3"))
    assert(graftSchema(tree) == sparkSchema(treeFiles).add("p", "string"))
    // a type conflict: the read call fails with Spark's exception class
    val conflict = tmpDir("merge-conflict")
    val conflictFiles = parquetFiles(conflict,
      "a.parquet" -> Seq(1).toDF("c1"), "b.parquet" -> Seq("x").toDF("c1"))
    val expected = intercept[Exception](sparkSchema(conflictFiles))
    val e = intercept[Exception](graftSchema(conflict))
    assert(e.getClass == expected.getClass, s"${e.getClass} vs ${expected.getClass}")
  }

  test("building a mergeSchema parquet read runs no Spark job") {
    import spark.implicits._
    val out = tmpDir("merge-nojob")
    parquetFiles(out,
      "p=x/a.parquet" -> Seq((1L, "a")).toDF("k", "v"),
      "p=x/b.parquet" -> Seq((2L, 1.5)).toDF("k", "w"),
      "p=y/c.parquet" -> Seq(3L).toDF("k"))
    val merge = Map("mergeSchema" -> "true")
    val (frames, jobs) = jobsDuring(Seq(
      Graft.readPartitionedTable(spark, out, options = merge),
      Graft.readPartitionedTableRich(spark, out, options = merge).data))
    assert(jobs == 0, s"building the reads ran $jobs Spark jobs")
    frames.foreach { df =>
      assert(df.columns.toSeq == Seq("k", "v", "w", "p"))
      assert(df.select("k", "v", "w", "p").as[(Long, String, Option[Double], String)]
        .collect().sortBy(_._1).toSeq ==
        Seq((1L, "a", None, "x"), (2L, null, Some(1.5), "x"), (3L, null, None, "y")))
    }
  }
}
