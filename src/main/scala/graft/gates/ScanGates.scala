package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.core._

/** Scan-path gates, `sNN_*`: the fsql reader (SURVEY §2.1 rows), graft's
  * writes and table maintenance. */
object ScanGates extends GateFamily {
  import GateSupport._

  private val lineitemNoDateCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")

  gate("s1_scan_hive",
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        query = Q.eq("l_returnflag", "R"))
      .select(lineitemNoDateCols.map(col): _*)
      .orderBy("l_orderkey", "l_linenumber")
  }

  gate("s5_scan_grammar",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_returnflag IN ('A','N') AND l_linestatus = 'F'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        parser = AutoParser.fromStr("l_returnflag=[A,N]/l_linestatus=[F]"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  gate("s6_scan_fixed",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         CAST(year(o_orderdate) AS VARCHAR) AS yr, 'data.parquet' AS fname
         FROM orders WHERE year(o_orderdate) >= 1996 AND year(o_orderdate) < 1998
         ORDER BY o_orderkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.valueOnlyOrders(s, dir),
        parser = FixedColumnsParser.fromStr("yr/fname"),
        query = QLexRange(Seq(ColumnRange("yr", "1996", "1998", ColumnComparator.Num))))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"), col("yr"), col("fname"))
      .orderBy("o_orderkey")
  }

  gate("s7_scan_daterange",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month,
         CAST(day(o_orderdate) AS VARCHAR) AS day
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-02-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-04-15'
         ORDER BY o_orderkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        query = QDateRange("1996/2/1", "1996/4/15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("year"), col("month"), col("day"))
      .orderBy("o_orderkey")
  }

  gate("s7b_scan_dategen",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month,
         CAST(day(o_orderdate) AS VARCHAR) AS day
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-02-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-04-15'
         ORDER BY o_orderkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        parser = DateRangeGenerator.build("1996/2/1", "1996/4/15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("year"), col("month"), col("day"))
      .orderBy("o_orderkey")
  }

  gate("s11_scan_atomic",
      """SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996 AND month(o_orderdate) % 2 = 0
         GROUP BY 1, 2 ORDER BY month""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        query = Q.and(Q.eq("year", "1996"),
          Q.atomic(Set("month"))(m => m("month").toInt % 2 == 0)))
      .groupBy("year", "month")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("month")
  }

  gate("s15_scan_lex",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
         WHERE l_returnflag >= 'A' AND l_returnflag < 'R'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        query = QLexRange(Seq(
          ColumnRange("l_returnflag", "A", "R"), ColumnRange.wild("l_linestatus"))))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  gate("s17_write_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_regionkey = 2 ORDER BY n_nationkey""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/write_rt_${dir.replaceAll("[^A-Za-z0-9.]", "_")}.parquet"
    val sub = t(s, dir, "nation").filter(col("n_regionkey") === 2)
    Graft.writeObject(sub, out)
    s.read.parquet(out).orderBy("n_nationkey")
  }

  /** Partitioned WRITE in the reference's value-only layout, read back via
    * FixedColumnsParser — the hash gate compares the full write→rename→
    * discover→read loop against the original table. */
  gate("s24_write_partitioned",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/write_part_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val sub = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_linestatus")
    Graft.writePartitionedTable(sub, out,
      Seq("l_returnflag", "l_linestatus"), layout = "values")
    Graft.readPartitionedTable(s, out,
        parser = FixedColumnsParser.fromStr("l_returnflag/l_linestatus/fname"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_linestatus"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Small-file compaction: a deliberately fragmented hive write (6 shuffle
    * tasks spraying every partition dir) is compacted back to one file per
    * partition, then read through the normal scan path — the hash gate
    * proves the rewrite is row-exact. */
  gate("s25_compact",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/compact_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val sub = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")
      .repartition(6)
    Graft.writePartitionedTable(sub, out, Seq("l_returnflag", "l_linestatus"))
    Graft.compactPartitionedTable(s, out, targetFileBytes = 1L << 30)
    Graft.readPartitionedTable(s, out)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_linestatus"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Schema-evolution read: two partitions written with DIFFERENT column
    * sets (an old batch without the later column, a new batch without the
    * legacy one) union under `mergeSchema` into one frame with nulls
    * where a partition lacks the column — the reference's
    * mismatched-partition-schema quirk (§1.2), resolved explicitly. */
  gate("s36_merge_schema",
      """SELECT n_nationkey, n_name, CAST(NULL AS INT) AS n_regionkey,
           'a' AS batch FROM nation
         UNION ALL
         SELECT n_nationkey, NULL, n_regionkey, 'b' FROM nation
         ORDER BY n_nationkey, batch""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/mschema_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    bp.getFileSystem(conf).delete(bp, true)
    val n = t(s, dir, "nation")
    n.select("n_nationkey", "n_name").write.parquet(s"$out/batch=a")
    n.select("n_nationkey", "n_regionkey").write.parquet(s"$out/batch=b")
    Graft.readPartitionedTable(s, out,
        options = Map("mergeSchema" -> "true"))
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("batch"))
      .orderBy("n_nationkey", "batch")
  }

  /** Retention vacuum: crash residue from all three write protocols is
    * planted in a partitioned table (dead tagged-append staging, dead
    * compaction staging, dead Spark `_temporary`), with a live commit
    * marker alongside. [[graft.api.Graft.vacuum]] must remove exactly the
    * residue (counts and marker survival `require`d in-gate — loud) and
    * the hash gate proves the data files are untouched. */
  gate("s31_vacuum",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/vacuum_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    val fs = bp.getFileSystem(conf)
    fs.delete(bp, true)
    val sub = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_linestatus")
    Graft.writePartitionedTable(sub, out, Seq("l_returnflag", "l_linestatus"))
    def touch(dir: org.apache.hadoop.fs.Path, rel: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true); o.write(120); o.close()
    }
    touch(StagedCommit.ingestStaging(bp, "dead"), "part-00000.parquet")
    touch(StagedCommit.compactStaging(s"$out/l_returnflag=R/l_linestatus=F"), "part-00000.parquet")
    touch(bp, "_temporary/0/_temporary/attempt_x/part-00000.parquet")
    touch(bp, "_graft_ingest_commit_keep")
    val stats = Graft.vacuum(s, out, olderThanMs = 0)
    require(stats.stagingDirs == 1 && stats.compactDirs == 1 &&
        stats.tempDirs == 1 && stats.filesRemoved == 3,
      s"vacuum removed the wrong residue set: $stats")
    require(fs.exists(new org.apache.hadoop.fs.Path(out, "_graft_ingest_commit_keep")),
      "vacuum must not touch commit markers")
    Graft.readPartitionedTable(s, out)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_linestatus"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Training-shard export + integrity manifest
    * ([[graft.operators.Export]]): the corpus hash-shards to 8
    * partitioned directories plus an underscore-hidden manifest (per
    * shard: doc count, token total, order-independent checksum); the
    * gate output is [[graft.operators.Export.verifyShards]]'s
    * recompute-and-compare — every shard must read `ok = 1` and the
    * oracle replays assignment, totals and checksum from the md5-prefix
    * hash convention. */
  gate("s40_export_shards",
      // assignment, totals and the commutative checksum replayed from
      // the md5-prefix hash convention; every shard must verify ok
      """WITH h AS (SELECT
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS dh,
             CAST(n_chars AS BIGINT) AS tok
           FROM documents)
         SELECT dh % 8 AS gr_shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(dh % 1000003) AS BIGINT) AS checksum,
           1 AS ok
         FROM h GROUP BY dh % 8 ORDER BY gr_shard""") { (s, dir) =>
    val path = "/tmp/graft_fixtures/export_shards_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(path, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    graft.operators.Export.writeShards(docs, path, "doc_id", "n_chars",
      numShards = 8)
    graft.operators.Export.verifyShards(s, path, "doc_id", "n_chars")
      .withColumn("ok", col("ok").cast("int"))
      .orderBy("gr_shard")
  }

  /** Incremental aggregate maintenance: a per-user (n_rows, sum_value)
    * rollup advanced by two delta batches (even then odd event_ids)
    * without re-reading the first
    * ([[graft.api.Graft.maintainAggregate]]). The merged sidecar must
    * equal the from-scratch aggregation — the oracle computes exactly
    * that from source, so any double-count or lost delta breaks it. */
  gate("s39_agg_maintain",
      // the merged sidecar must equal the from-scratch aggregation
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/aggmaint_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(base)
    for (p <- bp +: StagedCommit.Aggregate.residueOf(bp))
      p.getFileSystem(conf).delete(p, true)
    val ev = Fixtures.events(s, dir).select("user_id", "event_id", "value")
    Graft.maintainAggregate(s, base, ev.filter(col("event_id") % 2 === 0),
      Seq("user_id"), Seq("value"))
    Graft.maintainAggregate(s, base, ev.filter(col("event_id") % 2 =!= 0),
        Seq("user_id"), Seq("value"))
      .select(col("user_id"), col("n_rows"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** In-place re-partitioning (the layout-outgrown lifecycle step): an
    * orders tree partitioned by `year` is relayouted onto
    * `o_orderpriority` via the staged-swap commit
    * ([[graft.api.Graft.relayoutPartitionedTable]]). The gate `require`s
    * the directory tree really changed, then reads the table back — the
    * oracle recomputes every value from source, so a row lost or
    * duplicated anywhere in rewrite/verify/swap breaks the hash. */
  gate("s38_relayout",
      // every value recomputed from source; partition cols read as strings
      """SELECT o_orderkey, o_orderpriority,
           CAST(year(o_orderdate) AS VARCHAR) AS year
         FROM orders ORDER BY o_orderkey""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/relayout_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(base)
    val fs = bp.getFileSystem(conf)
    fs.delete(bp, true)
    val orders = t(s, dir, "orders")
      .withColumn("year", year(col("o_orderdate")))
    Graft.writePartitionedTable(orders, base, Seq("year"))
    Graft.relayoutPartitionedTable(s, base, Seq("o_orderpriority"))
    val dirs = fs.listStatus(bp).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    require(dirs.nonEmpty && dirs.forall(_.startsWith("o_orderpriority=")),
      s"relayout did not change the tree: ${dirs.mkString(",")}")
    Graft.readPartitionedTable(s, base)
      .select(col("o_orderkey"), col("o_orderpriority"), col("year"))
      .orderBy("o_orderkey")
  }

  /** Snapshot-pinned read: the manifest is taken over the R-flag rows,
    * then a tagged batch of A-flag rows lands in the same table; the
    * current read must see both (`require`d) while the snapshot read
    * returns EXACTLY the pre-append table — the oracle recomputes it from
    * source, so a manifest leak in either direction breaks the hash. */
  gate("s35_snapshot",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/snap_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    bp.getFileSystem(conf).delete(bp, true)
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    Graft.writePartitionedTable(li.filter(col("l_returnflag") === "R"),
      out, Seq("l_returnflag"))
    val snap = Graft.snapshot(s, out)
    TaggedAppend.append(li.filter(col("l_returnflag") === "A"),
      out, tag = "late", partitionCols = Seq("l_returnflag"))
    val nowRows = Graft.readPartitionedTable(s, out).count()
    val snapDf = Graft.readSnapshot(s, out, snap)
    require(nowRows > snapDf.count(),
      "current read must see the post-snapshot append")
    snapDf.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Referential-integrity audit over two FK relations: a truncated
    * orders dim plants real orphans (every l_orderkey ending in 3), the
    * supplier relation is intact — counts must land exactly. */
  gate("s34_fk_audit",
      """WITH ot AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 3),
         r1 AS (SELECT 'li_orders_trunc' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_keys,
             CAST(SUM(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
               (SELECT o_orderkey FROM ot) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphan_rows,
             CAST(COUNT(DISTINCT CASE WHEN l_orderkey NOT IN
               (SELECT o_orderkey FROM ot) THEN l_orderkey END)
               AS BIGINT) AS n_orphan_keys
           FROM lineitem),
         r2 AS (SELECT 'li_supplier' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_keys,
             CAST(SUM(CASE WHEN l_suppkey IS NOT NULL AND l_suppkey NOT IN
               (SELECT s_suppkey FROM supplier) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphan_rows,
             CAST(COUNT(DISTINCT CASE WHEN l_suppkey NOT IN
               (SELECT s_suppkey FROM supplier) THEN l_suppkey END)
               AS BIGINT) AS n_orphan_keys
           FROM lineitem)
         SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY relation""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val ordersTrunc = t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3)
    graft.operators.Expect.orphans(li, "l_orderkey", ordersTrunc, "o_orderkey")
      .withColumn("relation", lit("li_orders_trunc"))
      .unionByName(graft.operators.Expect
        .orphans(li, "l_suppkey", t(s, dir, "supplier"), "s_suppkey")
        .withColumn("relation", lit("li_supplier")))
      .select("relation", "n_rows", "n_null_keys",
        "n_orphan_rows", "n_orphan_keys")
      .orderBy("relation")
  }

  /** Bloom-sidecar file skipping: orders range-clustered on the key into 8
    * files, per-file blooms built in one grouped aggregation, then a
    * 3-key point lookup that must (a) prune files (`require`d in-gate)
    * and (b) return EXACTLY the full-scan answer — the oracle is the
    * plain IN query, so a bloom that skips a live file breaks the hash. */
  gate("s33_bloom_skip",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
         FROM orders WHERE o_orderkey IN (1, 4242, 9999)
         ORDER BY o_orderkey""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/bloom_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    bp.getFileSystem(conf).delete(bp, true)
    t(s, dir, "orders").repartitionByRange(8, col("o_orderkey"))
      .write.parquet(out)
    val covered = graft.index.BloomSidecar.write(s, out, "o_orderkey",
      fpp = 0.01, expectedPerFile = 100000L)
    val keys: Seq[Any] = Seq(1L, 4242L, 9999L)
    val cand = graft.index.BloomSidecar.candidateFiles(s, out, "o_orderkey", keys)
    require(cand.nonEmpty && cand.size < covered,
      s"bloom lookup must prune files: ${cand.size} of $covered")
    graft.index.BloomSidecar.readWithSkip(s, out, "o_orderkey", keys)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** Enforced (quarantine-routed) write: every lineitem row lands either
    * in the clean table or in quarantine with the comma-joined names of
    * the checks it failed — one scan, one partitionBy-routed write, the
    * TaggedAppend idempotency protocol in both destinations. The gate
    * reads BOTH tables back; the oracle recomputes every verdict and
    * reason string, so a row lost, duplicated, or mis-routed anywhere in
    * the stage-and-rename pipeline breaks the hash. */
  gate("s32_quarantine",
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN r = '' THEN 'ok' ELSE 'quarantined' END AS status,
           r AS gr_reasons
         FROM (SELECT l_orderkey, l_linenumber, concat_ws(',',
             CASE WHEN NOT coalesce(l_quantity <= 30, FALSE)
               THEN 'qty_le_30' END,
             CASE WHEN NOT coalesce(l_discount <= 0.08, FALSE)
               THEN 'disc_le_08' END) AS r
           FROM lineitem)
         ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val base = s"/tmp/graft_fixtures/enforce_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(conf).delete(bp, true)
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    val checks = Seq(
      "qty_le_30" -> (col("l_quantity") <= 30),
      "disc_le_08" -> (col("l_discount") <= 0.08))
    val (nOk, nBad) = graft.operators.Enforce.writeRouted(
      li, checks, s"$base/clean", s"$base/quarantine", tag = "b1")
    require(nOk > 0 && nBad > 0, s"expected both routes non-empty: $nOk/$nBad")
    s.read.parquet(s"$base/clean").withColumn("status", lit("ok"))
      .unionByName(s.read.parquet(s"$base/quarantine")
        .withColumn("status", lit("quarantined")))
      .select("l_orderkey", "l_linenumber", "status", "gr_reasons")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** MERGE INTO gate: orders lands as a priority-partitioned table, then one
    * merge applies updates (key%7: price doubled), tombstone deletes
    * (key%13, not %7) and inserts (key%11 under shifted keys) in a single
    * call that rewrites only touched partitions. The oracle replays the
    * merge relationally over the raw table. Exact arithmetic throughout
    * (×2 on doubles is an exponent shift). */
  gate("s26_merge",
      """WITH upd AS (SELECT o_orderkey, o_orderpriority,
             o_totalprice * 2 AS o_totalprice
           FROM orders WHERE o_orderkey % 7 = 0),
         ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority,
             o_totalprice
           FROM orders WHERE o_orderkey % 11 = 0),
         survivors AS (SELECT o_orderkey, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0)
         SELECT o_orderkey, o_orderpriority, o_totalprice FROM
           (SELECT * FROM survivors UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins)
         ORDER BY o_orderkey""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/merge_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    bp.getFileSystem(conf).delete(bp, true)
    val orders = t(s, dir, "orders")
    Graft.writePartitionedTable(orders, out, Seq("o_orderpriority"))
    val delta = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("__del", lit(false))
      .unionByName(orders
        .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 7 =!= 0)
        .withColumn("__del", lit(true)))
      .unionByName(orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("__del", lit(false)))
    Graft.mergePartitionedTable(s, out, delta,
      keyCols = Seq("o_orderpriority", "o_orderkey"),
      partitionCols = Seq("o_orderpriority"), deleteCol = Some("__del"))
    Graft.readPartitionedTable(s, out)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Data-quality expectation audit: six named contracts over lineitem
    * checked in ONE aggregation pass (map-side partial counters, a
    * 7-long final row, per-check explode) — see
    * [[graft.operators.Expect]]. The price bound is deliberately tight
    * enough to fail, so the gate pins real violation counting, not just
    * all-green booleans. */
  gate("s28_expect",
      // one aggregate row replayed per check; NOT coalesce(pred, FALSE)
      // mirrors the operator's null-counts-as-violation contract
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN NOT coalesce(l_quantity > 0, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v0,
           CAST(SUM(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 1,
             FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(SUM(CASE WHEN NOT coalesce(l_tax >= 0, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(SUM(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'),
             FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
           CAST(SUM(CASE WHEN NOT coalesce(l_linestatus IN ('O','F'),
             FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
           CAST(SUM(CASE WHEN NOT coalesce(l_extendedprice < 20000,
             FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5
           FROM lineitem)
         SELECT 'quantity_positive' AS "check", n AS n_rows,
             v0 AS n_violations, v0 = 0 AS pass FROM a
         UNION ALL SELECT 'discount_range', n, v1, v1 = 0 FROM a
         UNION ALL SELECT 'tax_nonneg', n, v2, v2 = 0 FROM a
         UNION ALL SELECT 'returnflag_domain', n, v3, v3 = 0 FROM a
         UNION ALL SELECT 'linestatus_domain', n, v4, v4 = 0 FROM a
         UNION ALL SELECT 'price_under_20k', n, v5, v5 = 0 FROM a""") { (s, dir) =>
    graft.operators.Expect.audit(t(s, dir, "lineitem"), Seq(
      "quantity_positive" -> (col("l_quantity") > 0),
      "discount_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1),
      "tax_nonneg" -> (col("l_tax") >= 0),
      "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "linestatus_domain" -> col("l_linestatus").isin("O", "F"),
      "price_under_20k" -> (col("l_extendedprice") < 20000)))
  }

  /** Tag-scoped incremental read: a partitioned table built from a base
    * write plus two tagged appends; `readTaggedBatch` must return
    * EXACTLY the b1 batch's rows (orderkey % 3 == 1), never the base or
    * b2 — the "process only what arrived" consumer primitive. */
  gate("s27_read_tagged",
      // the tag scope must be invisible in values: batch b1 IS the
      // orderkey % 3 == 1 slice
      """SELECT o_orderkey, o_orderpriority, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 1 ORDER BY o_orderkey""") { (s, dir) =>
    val out = s"/tmp/graft_fixtures/tagged_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    bp.getFileSystem(conf).delete(bp, true)
    val orders = t(s, dir, "orders")
    Graft.writePartitionedTable(orders.filter(col("o_orderkey") % 3 === 0),
      out, Seq("o_orderpriority"))
    graft.core.TaggedAppend.append(orders.filter(col("o_orderkey") % 3 === 1),
      out, "b1", Seq("o_orderpriority"))
    graft.core.TaggedAppend.append(orders.filter(col("o_orderkey") % 3 === 2),
      out, "b2", Seq("o_orderpriority"))
    Graft.readTaggedBatch(s, out, "b1")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** One-pass column profiling of lineitem's numeric measures — the
    * Expect-shaped counter pass, emitting summaries instead of
    * violations. See [[graft.operators.Profile.summary]]. */
  gate("s29_profile",
      // exact-decimal sums divided after the double cast (the q1 dsum
      // convention), one UNION ALL row per profiled column
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn0,
           MIN(CAST(l_quantity AS DOUBLE)) AS mn0, MAX(CAST(l_quantity AS DOUBLE)) AS mx0,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sm0,
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
           MIN(CAST(l_extendedprice AS DOUBLE)) AS mn1, MAX(CAST(l_extendedprice AS DOUBLE)) AS mx1,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sm1,
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
           MIN(CAST(l_discount AS DOUBLE)) AS mn2, MAX(CAST(l_discount AS DOUBLE)) AS mx2,
           CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) AS sm2,
           CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
           MIN(CAST(l_tax AS DOUBLE)) AS mn3, MAX(CAST(l_tax AS DOUBLE)) AS mx3,
           CAST(SUM(CAST(l_tax AS DECIMAL(30,6))) AS DOUBLE) AS sm3
           FROM lineitem)
         SELECT 'l_quantity' AS "column", n AS n_rows, nn0 AS n_nulls,
             mn0 AS min, mx0 AS max, sm0 / (n - nn0) AS mean FROM a
         UNION ALL SELECT 'l_extendedprice', n, nn1, mn1, mx1, sm1 / (n - nn1) FROM a
         UNION ALL SELECT 'l_discount', n, nn2, mn2, mx2, sm2 / (n - nn2) FROM a
         UNION ALL SELECT 'l_tax', n, nn3, mn3, mx3, sm3 / (n - nn3) FROM a""") { (s, dir) =>
    graft.operators.Profile.summary(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
  }

  /** Per-column drift summary between the full lineitem and a planted
    * low-quantity slice — two single-pass audits joined per column. */
  gate("s37_profile_diff",
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn0,
           MIN(CAST(l_quantity AS DOUBLE)) AS mn0, MAX(CAST(l_quantity AS DOUBLE)) AS mx0,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sm0,
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
           MIN(CAST(l_extendedprice AS DOUBLE)) AS mn1, MAX(CAST(l_extendedprice AS DOUBLE)) AS mx1,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sm1,
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
           MIN(CAST(l_discount AS DOUBLE)) AS mn2, MAX(CAST(l_discount AS DOUBLE)) AS mx2,
           CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) AS sm2
           FROM lineitem),
         b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn0,
           MIN(CAST(l_quantity AS DOUBLE)) AS mn0, MAX(CAST(l_quantity AS DOUBLE)) AS mx0,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sm0,
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
           MIN(CAST(l_extendedprice AS DOUBLE)) AS mn1, MAX(CAST(l_extendedprice AS DOUBLE)) AS mx1,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sm1,
           CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
           MIN(CAST(l_discount AS DOUBLE)) AS mn2, MAX(CAST(l_discount AS DOUBLE)) AS mx2,
           CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) AS sm2
           FROM lineitem WHERE l_quantity <= 30)
         SELECT 'l_quantity' AS "column",
           a.n AS n_rows_a, a.nn0 AS n_nulls_a, a.mn0 AS min_a,
           a.mx0 AS max_a, a.sm0 / (a.n - a.nn0) AS mean_a,
           b.n AS n_rows_b, b.nn0 AS n_nulls_b, b.mn0 AS min_b,
           b.mx0 AS max_b, b.sm0 / (b.n - b.nn0) AS mean_b
         FROM a, b
         UNION ALL
         SELECT 'l_extendedprice', a.n, a.nn1, a.mn1, a.mx1,
           a.sm1 / (a.n - a.nn1), b.n, b.nn1, b.mn1, b.mx1,
           b.sm1 / (b.n - b.nn1)
         FROM a, b
         UNION ALL
         SELECT 'l_discount', a.n, a.nn2, a.mn2, a.mx2,
           a.sm2 / (a.n - a.nn2), b.n, b.nn2, b.mn2, b.mx2,
           b.sm2 / (b.n - b.nn2)
         FROM a, b
         ORDER BY "column"""") { (s, dir) =>
    val li = t(s, dir, "lineitem")
    graft.operators.Profile.compare(li,
        li.filter(col("l_quantity") <= 30),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .orderBy("column")
  }

  private val ZorderFixture = "/tmp/graft_fixtures/zorder_orders.parquet"

  /** Z-ordered write + zone-map audit in one gate: orders clustered on
    * the Morton curve of (o_custkey, o_orderkey), then OUR footer reader
    * must agree row-group-by-row-group with DuckDB's independent
    * `parquet_metadata` on the same files — min/max/null-count parity
    * proves both the layout machinery and the stats reader. */
  gate("s30_zonemap",
      // an INDEPENDENT footer reader (DuckDB's) must agree with ours on
      // every row group's min/max/null-count over the z-ordered files
      """SELECT regexp_extract(file_name, '[^/]+$') AS "file",
           CAST(row_group_id AS BIGINT) AS row_group,
           path_in_schema AS "column",
           stats_min_value AS min_value, stats_max_value AS max_value,
           CAST(stats_null_count AS BIGINT) AS n_nulls,
           CAST(row_group_num_rows AS BIGINT) AS n_rows
         FROM parquet_metadata('/tmp/graft_fixtures/zorder_orders.parquet/*.parquet')
         WHERE path_in_schema IN ('o_orderkey', 'o_custkey')
         ORDER BY 1, 2, 3""") { (s, dir) =>
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(ZorderFixture)
    bp.getFileSystem(conf).delete(bp, true)
    Graft.writeZOrdered(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      ZorderFixture, Seq("o_custkey", "o_orderkey"), numFiles = 8)
    Graft.zoneMap(s, ZorderFixture, cols = Seq("o_orderkey", "o_custkey"))
      .orderBy("file", "row_group", "column")
  }

  gate("s18_scan_lazy",
      """SELECT n_nationkey, n_name, n_regionkey,
         'good' AS src FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    val nationSchema = t(s, dir, "nation").schema
    Graft.readPartitionedTableRich(s, Fixtures.lazyNation(s, dir),
        schema = Some(nationSchema))
      .data.orderBy("n_nationkey")
  }

  gate("s21_scan_identity",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    Graft.listPartitionedTable(s, Fixtures.hiveLineitem(s, dir))
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  gate("s9_scan_csv", """SELECT *, 'csv' AS src FROM part ORDER BY p_partkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.csvPart(s, dir),
        schema = Some(t(s, dir, "part").schema))
      .orderBy("p_partkey")
  }

  gate("s9_scan_json", """SELECT *, 'json' AS src FROM customer ORDER BY c_custkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.jsonCustomer(s, dir),
        schema = Some(t(s, dir, "customer").schema))
      .orderBy("c_custkey")
  }

  gate("s9_scan_xlsx", """SELECT *, 'xlsx' AS src FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    Graft.readPartitionedTable(s, Fixtures.xlsxNation(s, dir),
        schema = Some(t(s, dir, "nation").schema))
      .orderBy("n_nationkey")
  }
}
