package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.core._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Naming convention: `sNN_*` = fsql scan-path operators (SURVEY §2.1 rows),
  * `qNN_*` = relational surface (SURVEY §2.2 categories), `dN_*` = dedup,
  * `aN_*` = similarity search, `tN_*` = text analysis, `mN_*` = multimodal,
  * `stN_*` = streaming, extension operators.
  *
  * Determinism rules shared with the DuckDB oracles: double aggregates are
  * computed in DECIMAL(10,2) then cast to double (exact, order-insensitive);
  * every query ends in an ORDER BY on a unique key; no raw timestamp columns
  * are returned (cast to DATE or formatted — parquet TIMESTAMP(UTC) vs
  * DuckDB naive TIMESTAMP would hash differently).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal image of a 2-decimal-place double measure. */
  private def dec(c: Column): Column = c.cast("decimal(10,2)")
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full fsql scan path (hive layout, partition pruning) + aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = Fixtures.hiveLineitem(spark, "/root/testdata/sf0.001")
    Graft.readPartitionedTable(spark, dir, query = Q.eq("l_returnflag", "R"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // =================================================================== scan

  private val lineitemNoDateCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")

  private def s1_scan_hive(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        query = Q.eq("l_returnflag", "R"))
      .select(lineitemNoDateCols.map(col): _*)
      .orderBy("l_orderkey", "l_linenumber")

  private def s5_scan_grammar(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        parser = AutoParser.fromStr("l_returnflag=[A,N]/l_linestatus=[F]"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  private def s6_scan_fixed(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.valueOnlyOrders(s, dir),
        parser = FixedColumnsParser.fromStr("yr/fname"),
        query = QLexRange(Seq(ColumnRange("yr", "1996", "1998", ColumnComparator.Num))))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"), col("yr"), col("fname"))
      .orderBy("o_orderkey")

  private def s7_scan_daterange(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        query = QDateRange("1996/2/1", "1996/4/15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("year"), col("month"), col("day"))
      .orderBy("o_orderkey")

  private def s7b_scan_dategen(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        parser = DateRangeGenerator.build("1996/2/1", "1996/4/15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("year"), col("month"), col("day"))
      .orderBy("o_orderkey")

  private def s11_scan_atomic(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.ymdOrders(s, dir),
        query = Q.and(Q.eq("year", "1996"),
          Q.atomic(Set("month"))(m => m("month").toInt % 2 == 0)))
      .groupBy("year", "month")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("month")

  private def s15_scan_lex(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.hiveLineitem(s, dir),
        query = QLexRange(Seq(
          ColumnRange("l_returnflag", "A", "R"), ColumnRange.wild("l_linestatus"))))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private def s17_write_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_fixtures/write_rt_${dir.replaceAll("[^A-Za-z0-9.]", "_")}.parquet"
    val sub = t(s, dir, "nation").filter(col("n_regionkey") === 2)
    Graft.writeObject(sub, out)
    s.read.parquet(out).orderBy("n_nationkey")
  }

  /** Partitioned WRITE in the reference's value-only layout, read back via
    * FixedColumnsParser — the hash gate compares the full write→rename→
    * discover→read loop against the original table. */
  private def s24_write_partitioned(s: SparkSession, dir: String): DataFrame = {
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
  private def s25_compact(s: SparkSession, dir: String): DataFrame = {
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
  private def s36_merge_schema(s: SparkSession, dir: String): DataFrame = {
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
  private def s31_vacuum(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_fixtures/vacuum_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(out)
    val fs = bp.getFileSystem(conf)
    fs.delete(bp, true)
    val sub = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_linestatus")
    Graft.writePartitionedTable(sub, out, Seq("l_returnflag", "l_linestatus"))
    def touch(rel: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(out, rel)
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true); o.write(120); o.close()
    }
    touch(".graft_ingest_staging_dead/part-00000.parquet")
    touch("l_returnflag=R/l_linestatus=F/.graft_compact_dead/part-00000.parquet")
    touch("_temporary/0/_temporary/attempt_x/part-00000.parquet")
    touch("_graft_ingest_commit_keep")
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

  /** Hourly resample + forward fill of each user's event values over
    * their own span — the gap-filling grid the oracle replays bucket by
    * bucket with generate_series. See [[graft.operators.Timeseries]]. */
  private def q44_resample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Timeseries.resampleFfill(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "value")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("value"), col("had_event"))
      .orderBy("user_id", "hour")

  /** Exact join-cardinality pre-flight (no join executed): a self-join
    * estimate on l_partkey (the pair-dedup price) and a PK-FK estimate
    * against orders — totals, matched keys and the heaviest key, from
    * count tables only. See [[graft.operators.Skew.joinCardinality]]. */
  private def q45_join_card(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    graft.operators.Skew.joinCardinality(li, "l_partkey", li, "l_partkey")
      .withColumn("relation", lit("li_self_partkey"))
      .unionByName(graft.operators.Skew
        .joinCardinality(li, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
        .withColumn("relation", lit("li_orders")))
      // the operator's decimal(38,0) totals guard 1e19-pair pathologies at
      // scale; the GATE narrows to BIGINT (values fit at any test SF) so the
      // oracle's HUGEINT sums can be CAST identically — wide-integer oracle
      // outputs stringify differently across DuckDB client fetch paths
      .select(col("relation"), col("total_pairs").cast("long").as("total_pairs"),
        col("matched_keys"), col("max_key_pairs").cast("long").as("max_key_pairs"),
        col("top_key"))
      .orderBy("relation")
  }

  /** Blocked fuzzy entity-resolution join: part names corrupted by one
    * deterministic character deletion are re-linked to their source rows
    * through multi-pass blocking (first token ∪ last token ∪ 3-char
    * prefix) + exact Levenshtein ≤ 1 + best-match. The oracle is the
    * BRUTE-FORCE all-pairs join, so the gate proves the blocking loses no
    * true pair. See [[graft.operators.Linkage]]. */
  private def q49_fuzzy_link(s: SparkSession, dir: String): DataFrame = {
    val clean = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
    val dirty = clean.filter(col("p_partkey") % 3 === 0)
      .withColumn("__pos",
        expr("cast(2 + p_partkey % (length(p_name) - 2) as int)"))
      .select((col("p_partkey") + 9000000L).as("dirty_id"),
        concat(expr("substring(p_name, 1, __pos - 1)"),
          expr("substring(p_name, __pos + 1)")).as("dirty_name"))
    val pairs = graft.operators.Linkage.fuzzyJoin(
      dirty, "dirty_id", "dirty_name", clean, "p_partkey", "p_name",
      maxDistance = 1)
    graft.operators.Linkage.bestMatch(pairs, "dirty_id", "p_partkey")
      .select(col("dirty_id"), col("p_partkey").as("match_key"),
        col("distance"))
      .orderBy("dirty_id")
  }

  /** First-order event-type Markov transition matrix with EXACT
    * parts-per-million probabilities (pure integer arithmetic — see
    * [[graft.operators.Funnel.transitions]]). */
  private def q50_transitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.transitions(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "event_type")
      .orderBy("from_event", "to_event")

  /** Rolling z-score anomaly flags over each user's event values — the
    * |z| > 3 decision evaluated entirely in BIGINT arithmetic, so the
    * oracle replays it bit-for-bit (no float boundary can flip a flag).
    * See [[graft.operators.Timeseries.anomalies]]. */
  private def q51_anomaly(s: SparkSession, dir: String): DataFrame =
    graft.operators.Timeseries.anomalies(
        Fixtures.events(s, dir), "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")

  /** Two-sample KS drift between click and view `value` distributions
    * ([[graft.operators.Profile.ksDrift]]): one row, all-integer —
    * `d_num/d_den` is the exact statistic, `at_bin` the smallest bin
    * attaining it. The oracle replays bins, CDFs and the cross-
    * multiplied max bit-for-bit. */
  private def q52_ks_drift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.ksDrift(
      Fixtures.events(s, dir), "value", "event_type", "click", "view")

  /** Exact half-life EWMA over each user's event values (cent-scaled,
    * horizon 8): `(ewma_num, ewma_den)` integer fractions at every
    * event position, heads renormalizing automatically
    * ([[graft.operators.Timeseries.ewmaHalfLife]]). The oracle unrolls
    * the same 8 lag terms. */
  private def q53_ewma(s: SparkSession, dir: String): DataFrame =
    graft.operators.Timeseries.ewmaHalfLife(
        Fixtures.events(s, dir).withColumn("v_scaled",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", col("v_scaled"), horizon = 8)
      .select("event_id", "ewma_num", "ewma_den")
      .orderBy("event_id")

  /** CUSUM changepoint statistics per user (cent-scaled values, target
    * 5000 = the series' rough in-control mean, threshold 100000):
    * up/down statistics and shift flags, all BIGINT
    * ([[graft.operators.Timeseries.cusum]]). The oracle replays the
    * closed-form running-sum/min/max windows. */
  private def q54_cusum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Timeseries.cusum(
        Fixtures.events(s, dir).withColumn("v_scaled",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", col("v_scaled"),
        target = 5000L, threshold = 100000L)
      .select("event_id", "cusum_up", "cusum_down",
        "is_shift_up", "is_shift_down")
      .orderBy("event_id")

  /** DPO preference-pair mining over documents per source (score =
    * n_chars, margin 50): i-th best paired with i-th worst
    * ([[graft.operators.Preference.pairs]]); the oracle replays the
    * rank-symmetric join and the exact integer gap filter. */
  private def t42_pref_pairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.pairs(t(s, dir, "documents"),
        "source", "doc_id", col("n_chars"), margin = 50L)
      .orderBy("source", "pair_rank")

  /** Exact pairwise correlation structure over three lineitem measures
    * ([[graft.operators.Regression.corrMatrixExact]]): every pair's
    * Pearson numerator and squared-denominator factors as BIGINTs from
    * ONE aggregation; the oracle replays the moment sums. */
  private def q56_corr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Regression.corrMatrixExact(
        t(s, dir, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("qty"),
          floor(col("l_extendedprice") / 10).cast("long").as("price10"),
          floor(col("l_discount") * 10000).cast("long").as("disc_bp")),
        Seq("qty", "price10", "disc_bp"))
      .orderBy("col_i", "col_j")

  /** Per-user spend-trend slopes as exact integer fractions
    * ([[graft.operators.Regression.groupTrend]]): x = epoch day of the
    * event, y = cents. `slope_num > 0` IS "trending up" — no float
    * anywhere; the oracle replays the five-sum arithmetic. */
  private def q55_trend(s: SparkSession, dir: String): DataFrame =
    graft.operators.Regression.groupTrend(
        Fixtures.events(s, dir), "user_id",
        datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).cast("long"),
        floor(col("value") * 100).cast("long"))
      .orderBy("user_id")

  /** Incremental aggregate maintenance: a per-user (n_rows, sum_value)
    * rollup advanced by two delta batches (even then odd event_ids)
    * without re-reading the first
    * ([[graft.api.Graft.maintainAggregate]]). The merged sidecar must
    * equal the from-scratch aggregation — the oracle computes exactly
    * that from source, so any double-count or lost delta breaks it. */
  /** Training-shard export + integrity manifest
    * ([[graft.operators.Export]]): the corpus hash-shards to 8
    * partitioned directories plus an underscore-hidden manifest (per
    * shard: doc count, token total, order-independent checksum); the
    * gate output is [[graft.operators.Export.verifyShards]]'s
    * recompute-and-compare — every shard must read `ok = 1` and the
    * oracle replays assignment, totals and checksum from the md5-prefix
    * hash convention. */
  private def s40_export_shards(s: SparkSession, dir: String): DataFrame = {
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

  private def s39_agg_maintain(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/aggmaint_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    for (suffix <- Seq("", ".graft_agg_staging", ".graft_agg_retired")) {
      val p = new org.apache.hadoop.fs.Path(base + suffix)
      p.getFileSystem(conf).delete(p, true)
    }
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
  private def s38_relayout(s: SparkSession, dir: String): DataFrame = {
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
  private def s35_snapshot(s: SparkSession, dir: String): DataFrame = {
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
  private def s34_fk_audit(s: SparkSession, dir: String): DataFrame = {
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
  private def s33_bloom_skip(s: SparkSession, dir: String): DataFrame = {
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
  private def s32_quarantine(s: SparkSession, dir: String): DataFrame = {
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
  private def s26_merge(s: SparkSession, dir: String): DataFrame = {
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

  /** Streaming CDC upsert: the s26 delta (doubled prices, inserts,
    * deletes) staged as THREE files and applied micro-batch by
    * micro-batch through [[graft.streaming.Streams.upsertStream]] — the
    * final table must equal the one-shot batch merge, which is exactly
    * s26's oracle (shared verbatim). */
  private def st17_stream_upsert(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val out = s"/tmp/graft_fixtures/upsert_tbl_$tag"
    val src = s"/tmp/graft_fixtures/upsert_src_$tag"
    val cp = s"/tmp/graft_fixtures/upsert_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(out, src, cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val orders = t(s, dir, "orders")
    Graft.writePartitionedTable(orders, out, Seq("o_orderpriority"))
    val updates = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("__del", lit(false))
    val deletes = orders
      .filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 7 =!= 0)
      .withColumn("__del", lit(true))
    val inserts = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("__del", lit(false))
    for (slice <- Seq(updates, deletes, inserts))
      slice.coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.upsertStream(stream, out,
      keyCols = Seq("o_orderpriority", "o_orderkey"),
      partitionCols = Seq("o_orderpriority"), checkpoint = cp,
      deleteCol = Some("__del"))
    try q.processAllAvailable() finally q.stop()
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
  private def s28_expect(s: SparkSession, dir: String): DataFrame =
    graft.operators.Expect.audit(t(s, dir, "lineitem"), Seq(
      "quantity_positive" -> (col("l_quantity") > 0),
      "discount_range" -> (col("l_discount") >= 0 && col("l_discount") <= 1),
      "tax_nonneg" -> (col("l_tax") >= 0),
      "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "linestatus_domain" -> col("l_linestatus").isin("O", "F"),
      "price_under_20k" -> (col("l_extendedprice") < 20000)))

  /** Tag-scoped incremental read: a partitioned table built from a base
    * write plus two tagged appends; `readTaggedBatch` must return
    * EXACTLY the b1 batch's rows (orderkey % 3 == 1), never the base or
    * b2 — the "process only what arrived" consumer primitive. */
  private def s27_read_tagged(s: SparkSession, dir: String): DataFrame = {
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
  private def s29_profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.summary(t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Equi-width histogram of order totals with loud under/overflow
    * sentinel buckets. See [[graft.operators.Profile.histogram]]. */
  private def q36_histogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(t(s, dir, "orders"),
        "o_totalprice", lo = 0.0, hi = 500000.0, buckets = 20)
      .orderBy("bucket")

  /** 2-D equi-width histogram (quantity × price heatmap) — one cell-table
    * aggregation, out-of-range sentinels per axis. */
  private def q46_histogram2d(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram2d(t(s, dir, "lineitem"),
        "l_quantity", 0.0, 50.0, 10, "l_extendedprice", 0.0, 100000.0, 10)
      .orderBy("bx", "by")

  /** Per-column drift summary between the full lineitem and a planted
    * low-quantity slice — two single-pass audits joined per column. */
  private def s37_profile_diff(s: SparkSession, dir: String): DataFrame = {
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
  private def s30_zonemap(s: SparkSession, dir: String): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(ZorderFixture)
    bp.getFileSystem(conf).delete(bp, true)
    Graft.writeZOrdered(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      ZorderFixture, Seq("o_custkey", "o_orderkey"), numFiles = 8)
    Graft.zoneMap(s, ZorderFixture, cols = Seq("o_orderkey", "o_custkey"))
      .orderBy("file", "row_group", "column")
  }

  private def s18_scan_lazy(s: SparkSession, dir: String): DataFrame = {
    val nationSchema = t(s, dir, "nation").schema
    Graft.readPartitionedTableRich(s, Fixtures.lazyNation(s, dir),
        schema = Some(nationSchema))
      .data.orderBy("n_nationkey")
  }

  private def s21_scan_identity(s: SparkSession, dir: String): DataFrame =
    Graft.listPartitionedTable(s, Fixtures.hiveLineitem(s, dir))
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  private def s9_scan_csv(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.csvPart(s, dir),
        schema = Some(t(s, dir, "part").schema))
      .orderBy("p_partkey")

  private def s9_scan_json(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.jsonCustomer(s, dir),
        schema = Some(t(s, dir, "customer").schema))
      .orderBy("c_custkey")

  private def s9_scan_xlsx(s: SparkSession, dir: String): DataFrame =
    Graft.readPartitionedTable(s, Fixtures.xlsxNation(s, dir),
        schema = Some(t(s, dir, "nation").schema))
      .orderBy("n_nationkey")

  // ============================================================= relational

  private def q1_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
      dsum(col("l_quantity")).as("sum_qty"),
      dsum(col("l_extendedprice")).as("sum_base_price"),
      sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("sum_disc_price"),
      sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
        * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
      (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
      count(lit(1)).as("count_order"))
    .orderBy("l_returnflag", "l_linestatus")

  private def q2_filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_quantity") < 30)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  /** Adjudicated (r7, warm medians at sf0.1): Spark 4.1 plans a SINGLE
    * distinct aggregate via planAggregateWithOneDistinct — a partial
    * aggregate keyed (group, distinct) BEFORE the shuffle, NO Expand (the
    * row-doubling Expand only appears with multiple distinct groups). The
    * r6 hand-written two-phase rollup compiled to the byte-identical
    * physical plan (same 3 exchanges, same 147k partial rows shuffled,
    * warm medians 0.61 s vs 0.60 s — noise), so the readable countDistinct
    * form is kept and the r5→r6 "regression" was measurement noise.
    * PlanSpec pins the properties that matter at 100×: no Expand, one data
    * shuffle of per-order partials. */
  private def q3_join_agg(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("c_mktsegment")
  }

  private def q4_semijoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
  }

  private def q5_antijoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Rank-prune FIRST, then compute the frame functions: lag(1) and the
    * running sum at rn <= 3 only ever reference rows rn-1 and 1..rn, all
    * inside the kept prefix, so filtering before the lag/sum window is
    * semantically identical — and the standalone row_number + filter plans
    * a map-side WindowGroupLimit that cuts the shuffle from every lineitem
    * row to ~3 rows per supplier per mapper. The second window reuses the
    * same (l_suppkey) exchange: one shuffle total, frame functions run
    * over 3 rows/key instead of the whole table. */
  private def q6_window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .withColumn("prev_qty", lag("l_quantity", 1).over(w))
      .withColumn("run_qty", sum(dec(col("l_quantity")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_quantity",
        "prev_qty", "run_qty")
      .orderBy("l_suppkey", "rn")
  }

  private def q7_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(20)

  private def q8_setops(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val c = o.filter(col("o_totalprice") > 400000).select("o_custkey")
    a.intersect(b).except(c).orderBy("o_custkey")
  }

  private def q9_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag").agg(
      countDistinct("l_partkey").as("n_parts"),
      countDistinct("l_suppkey").as("n_supps"),
      count(lit(1)).as("n"))
    .orderBy("l_returnflag")

  private def q10_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  private def q18_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pr"),
        col("n"), col("sum_price"))
      .orderBy("st", "pr")

  private def q11_string(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_name"), 1, 8).as("name8"),
      length(col("p_name")).cast("long").as("name_len"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
      expr("replace(p_type, ' ', '_')").as("type_u"),
      lpad(col("p_size").cast("string"), 4, "0").as("size4"))
    .orderBy("p_partkey")

  private def q12_date(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
      last_day(col("o_orderdate")).as("month_end"))
    .orderBy("o_orderkey")

  private def q13_case(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      when(col("o_totalprice") < 50000, "low")
        .when(col("o_totalprice") < 150000, "mid")
        .otherwise("high").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n"))
      .orderBy("band")

  private def q14_having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_partkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 100)
      .orderBy("l_partkey")

  private def q15_math(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_discount") * 100).as("fl"),
      ceil(col("l_tax") * 100).as("ce"),
      abs(col("l_quantity") - 25).as("ab"),
      (col("l_partkey") % 7).as("m7"))
    .orderBy("l_orderkey", "l_linenumber")

  private def q16_array(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("e1"),
      col("label"))
    .orderBy("vec_id")

  private def q17_json(s: SparkSession, dir: String): DataFrame =
    Fixtures.events(s, dir).select(
      col("event_id"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    .orderBy("event_id")

  private def q20_multijoin(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region"); val n = t(s, dir, "nation")
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name")
  }

  /** The engine's SQL-text entry point: the same relational surface through
    * spark.sql over temp views (grouping sets, correlated and scalar
    * subqueries — shapes not expressible through the fluent API alone). */
  private def sqlOn(s: SparkSession, dir: String, tables: Seq[String], sql: String): DataFrame = {
    tables.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  private def q21_grouping_sets(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         ORDER BY rf, ls""")

  private def q22_corr_subquery(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("orders"),
      """SELECT o_custkey, COUNT(*) AS n_big
         FROM orders o
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
                                 / COUNT(*) * 1.5 FROM orders
                               WHERE o_custkey = o.o_custkey)
         GROUP BY o_custkey ORDER BY o_custkey""")

  private def q23_scalar_subquery(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT l_returnflag, COUNT(*) AS n
         FROM lineitem
         WHERE l_quantity > (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
                               / COUNT(*) FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag""")

  private def q26_cte(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("orders", "customer"),
      """WITH big AS (SELECT o_custkey, COUNT(*) AS n
                      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
         seg AS (SELECT c_custkey, c_mktsegment FROM customer)
         SELECT s.c_mktsegment, COUNT(*) AS n_customers,
                CAST(SUM(b.n) AS BIGINT) AS n_big_orders
         FROM big b JOIN seg s ON b.o_custkey = s.c_custkey
         GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""")

  private def q27_union_all(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), lit("hi").as("bucket"))
    val lo = o.filter(col("o_totalprice") < 10000)
      .select(col("o_orderkey"), lit("lo").as("bucket"))
    hi.unionAll(lo).orderBy("o_orderkey", "bucket")
  }

  private def q28_pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_quantity")))
      .orderBy("l_linestatus")

  /** Rolling 30-day sum per customer — RANGE frame over days-since-epoch
    * (integer range frames agree across engines; interval frames differ in
    * syntax). */
  private def q29_range_window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(datediff(col("o_orderdate"), lit("1970-01-01")))
      .rangeBetween(-30, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("rolling_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "rolling_30d")
      .orderBy("o_orderkey")
  }

  /** Sliding ROWS frame: mean of the last 3 orders per customer, ordered by
    * (date, key) — the unique key tiebreak makes the frame deterministic. */
  private def q32_rows_window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    // determinism rule: cast the exact decimal sum to DOUBLE BEFORE dividing
    // (Spark's decimal/decimal division rounds at a different scale than
    // DuckDB's decimal/int→double promotion — last-ulp hash mismatches)
    t(s, dir, "orders")
      .withColumn("avg_last3",
        sum(dec(col("o_totalprice"))).over(w).cast("double") /
          count(lit(1)).over(w))
      .select("o_orderkey", "o_custkey", "avg_last3")
      .orderBy("o_orderkey")
  }

  /** Time-hierarchy ROLLUP over the event log: (year, month, day) with
    * subtotal rows at every level — the OLAP drill-down companion to
    * q14's dimension rollup, on UTC calendar parts both engines extract
    * identically. */
  private def q48_time_rollup(s: SparkSession, dir: String): DataFrame =
    Fixtures.events(s, dir)
      .select(year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), col("value"))
      .rollup("y", "m", "d")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first,
        col("d").asc_nulls_first)

  /** Ranking/navigation window suite — the window functions no other gate
    * exercises: `ntile`, `percent_rank`, `cume_dist`, `lag`, `lead` over one
    * per-customer ordered window. The (date, key) tiebreak makes every peer
    * group a singleton, so rank arithmetic is deterministic; percent_rank /
    * cume_dist are small-integer IEEE divisions, bit-identical across
    * engines; lag/lead pass raw parquet doubles through untouched.
    * ONE shuffle on `o_custkey` serves all five functions. */
  private def q40_window_suite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("tile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy("o_orderkey")
  }

  /** UNPIVOT / melt: wide per-flag measure columns back to long
    * (measure, value) rows via `stack` — the inverse of q28's pivot.
    * The melt is a zero-shuffle generator over the tiny aggregated frame;
    * at 100 TB the same shape melts a wide metrics table map-side. */
  private def q41_unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .select(col("l_returnflag"),
        expr("stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price," +
          " 'sum_disc', sum_disc) AS (measure, value)"))
      .orderBy("l_returnflag", "measure")

  /** Robust outlier detection per group: median + MAD (both exact
    * interpolated percentiles) of customer balances per market segment,
    * outlier = |x − median| > 3 × 1.4826 × MAD (the normal-consistent
    * MAD scale). Two grouped percentile aggregations over the SAME
    * `c_mktsegment` shuffle (the deviation pass reuses the first's
    * partitioning via a broadcast stats join), never a per-row sort.
    * The comparison replays with identical operand order in the oracle,
    * so the IEEE arithmetic is bit-equal. */
  private def q42_outliers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val med = c.groupBy("c_mktsegment")
      .agg(expr("percentile(c_acctbal, 0.5)").as("med"))
    val dev = c.join(broadcast(med), "c_mktsegment")
      .withColumn("adev", abs(col("c_acctbal") - col("med")))
    val mad = dev.groupBy("c_mktsegment")
      .agg(first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"),
        count(lit(1)).as("n"))
    dev.join(broadcast(mad.select("c_mktsegment", "mad")), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .join(mad, "c_mktsegment")
      .select("c_mktsegment", "n", "med", "mad", "n_outliers")
      .orderBy("c_mktsegment")
  }

  /** Equi-depth (quantile) binning — the complement of q36's equi-width
    * histogram: exact p25/p50/p75 boundaries over order totals, then one
    * counting pass with the three boundaries broadcast as a one-row stats
    * frame (the documented crossJoin-on-stats shape). Bins are half-open
    * on the boundary value: bin k holds (q_{k-1}, q_k]. */
  private def q43_equidepth(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val qs = o.agg(
      expr("percentile(o_totalprice, 0.25)").as("q1"),
      expr("percentile(o_totalprice, 0.5)").as("q2"),
      expr("percentile(o_totalprice, 0.75)").as("q3"))
    o.crossJoin(broadcast(qs))
      .select(
        when(col("o_totalprice") <= col("q1"), 0)
          .when(col("o_totalprice") <= col("q2"), 1)
          .when(col("o_totalprice") <= col("q3"), 2)
          .otherwise(3).as("bin"),
        col("q1"), col("q2"), col("q3"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), first(col("q1")).as("q1"),
        first(col("q2")).as("q2"), first(col("q3")).as("q3"))
      .orderBy("bin")
  }

  /** Batch sessionization: 6-hour-gap sessions per user over the event
    * log (median per-user inter-event gap at this SF is ~7.3 h, so the
    * threshold splits streams non-degenerately), with per-session event
    * counts and exact-decimal value totals. One shuffle on `user_id`
    * serves the lag window, the running session counter, and the rollup
    * — see [[graft.operators.Sessionize]]. */
  private def q33_sessionize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.sessionize(
        Fixtures.events(s, dir), "user_id", "ts", gapSeconds = 21600,
        measures = Seq("value" -> "value"))
      .select(col("user_id"), col("session_seq"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_seq")

  /** Bloom semi-join reduction: lineitem (probe) pre-filtered by a Bloom
    * filter of a selective orders key set BEFORE the join shuffle —
    * results are EXACT (false positives drop in the real join), so the
    * oracle is the plain join. See [[graft.operators.Skew.bloomJoin]]. */
  private def q34_bloom_join(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ords = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000)
      .select("o_orderkey", "o_totalprice")
    graft.operators.Skew.bloomJoin(li, ords, "l_orderkey", "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Sweep-line concurrency: events become [ts, ts + floor(value·10) s]
    * intervals; the profile counts active intervals at every boundary
    * instant via the distributed prefix-sum (per-day windows + tiny
    * day-offset carry — no global event sort). floor() on both sides:
    * Spark's double→long cast truncates where DuckDB's rounds. */
  private def q35_concurrency(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select(col("ts").as("start_ts"),
      timestamp_micros(unix_micros(col("ts")) +
        floor(col("value") * 10).cast("long") * 1000000L).as("end_ts"))
    graft.operators.Sweep.concurrency(e, "start_ts", "end_ts")
      .select(col("ts").cast("timestamp_ntz").as("ts"), col("active"))
      .orderBy("ts")
  }

  private def q30_posexplode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(graft.functions.TextFunctions.words(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))
      .orderBy("doc_id", "pos")

  private def q31_array_quantifiers(s: SparkSession, dir: String): DataFrame = {
    val staged = t(s, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.words(col("text")).as("__w"))
    staged.select(col("doc_id"),
        exists(col("__w"), w => w === "the").as("has_the"),
        forall(col("__w"), w => length(w) > 1).as("all_longer_1"),
        size(col("__w")).cast("long").as("n"))
      .orderBy("doc_id")
  }

  private def q25_semi_anti_combo(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") > 48)
    val small = t(s, dir, "lineitem").filter(col("l_quantity") < 2)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .join(small, o("o_orderkey") === small("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
  }

  private def q24_percentile(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("lineitem"),
      """SELECT l_returnflag,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
         percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
         percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  // ====================================================== LLM-pipeline ops

  import graft.functions.TextFunctions
  import graft.operators.{Ann, AsofJoin, Decontaminate, Dedup, Graph, Multimodal, Pq}

  /** documents ∪ a shifted copy of itself — guaranteed duplicates with a
    * known id mapping, so dedup results are oracle-expressible. */
  private def docsWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
  }

  private def d1_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithCopies(s, dir), "doc_id", "text")
      .select("doc_id", "n_copies").orderBy("doc_id")

  // d2/d3 restrict to the planted copy pairs (id_b == id_a + 1e6): the LSH
  // also (correctly) surfaces organic near-dups in the synthetic corpus,
  // which a SQL oracle cannot enumerate; the planted pairs give an exact
  // recall check — all 500 must be found.
  private def d2_dedup_minhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(docsWithCopies(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 8, threshold = 0.9)
      .filter(col("id_b") === col("id_a") + 1000000)
      .select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")

  private def d3_dedup_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docsWithCopies(s, dir), "doc_id", "text", maxHamming = 3)
      .filter(col("id_b") === col("id_a") + 1000000)
      .select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")

  private def d4_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = sh.select((col("doc_id") - 1).as("id_a"), col("s").as("sb"))
    a.join(b, Seq("id_a"))
      .select(col("id_a").as("doc_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_distinct(concat(col("sa"), col("sb"))))).as("j"))
      .orderBy("doc_id")
  }

  /** Containment (quote-in-document) similarity: each doc's first 8
    * words, as a derived quote, scored against the NEXT doc — the
    * asymmetric subset measure Jaccard can't express. See
    * [[graft.operators.Dedup.shingleContainment]]. */
  private def d16_containment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quotes = docs
      .select(col("doc_id").as("q_id"), (col("doc_id") + 1).as("ref_id"),
        array_join(slice(TextFunctions.words(col("text")), 1, 8), " ")
          .as("q_text"))
    graft.operators.Dedup.shingleContainment(
        docs, "doc_id", "text", quotes, "q_id", "ref_id", "q_text")
      .select(col("q_id").as("doc_id"), col("containment"))
      .orderBy("doc_id")
  }

  /** EXACT set-similarity join via prefix filtering: every document pair
    * with 3-word-shingle Jaccard ≥ 3/5, computed through the prefix-token
    * equi-join — and the oracle computes BRUTE-FORCE all-pairs Jaccard, so
    * the hash proves the candidate pruning is lossless. Integer rational
    * threshold (`inter·5 ≥ uni·3`): no float boundary.
    * See [[graft.operators.Dedup.jaccardJoin]]. */
  private def d18_jaccard_join(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    graft.operators.Dedup.jaccardJoin(
        queries, "q_id", "q_text", docs, "doc_id", "text",
        thresholdNum = 3, thresholdDen = 5)
      .filter(col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("inter"), col("uni"))
      .orderBy("q_id", "doc_id")
  }

  /** CROSS-MODAL dedup report — the whole-asset view a multimodal corpus
    * pipeline actually runs: per document, the duplicate-group size under
    * each modality's key (exact text hash, image dHash, audio gradient
    * fingerprint, video structural fingerprint) side by side. Every key
    * is closed-form replayable, so the oracle reproduces all four
    * clusterings and the join; any modality key drifting breaks the
    * hash. Four map-side key computations + four (key)-grouped counts +
    * doc_id joins — no modality ever shuffles its payload. */
  private def d17_multimodal_dedup(s: SparkSession, dir: String): DataFrame = {
    def groupSizes(df: DataFrame, keyCols: Seq[String], out: String): DataFrame = {
      val g = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as(out))
      df.join(g, keyCols).select(col("doc_id"), col(out))
    }
    val text = groupSizes(
      t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("k")),
      Seq("k"), "text_dups")
    val img = groupSizes(
      Multimodal.decodePngDHash(s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
        .filter(col("dhash.format") === "png")
        .select(col("doc_id"), col("dhash.hash_hi").as("hi"),
          col("dhash.hash_lo").as("lo")),
      Seq("hi", "lo"), "image_dups")
    val aud = groupSizes(
      Multimodal.decodeWavFingerprint(
          s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
        .filter(col("afp.format") === "wav")
        .select(col("doc_id"), col("afp.hash_hi").as("hi"),
          col("afp.hash_lo").as("lo")),
      Seq("hi", "lo"), "audio_dups")
    val vid = groupSizes(
      Multimodal.decodeMp4FrameSample(
          s.read.parquet(Fixtures.videoSampleDocs(s, dir)), k = 1)
        .filter(col("frame_sample.format") === "mp4")
        .select(col("doc_id"),
          md5(concat_ws(",", transform(col("frame_sample.frames"),
            f => concat_ws(":", f.getField("frame_idx"),
              f.getField("ts_ms"), f.getField("size"))))).as("k")),
      Seq("k"), "video_dups")
    text.join(img, "doc_id").join(aud, "doc_id").join(vid, "doc_id")
      .select("doc_id", "text_dups", "image_dups", "audio_dups", "video_dups")
      .orderBy("doc_id")
  }

  /** Transitive near-dup clusters over a deterministic chain-edge graph:
    * doc↔doc+1 and doc↔doc+2 edges where bigram-shingle jaccard ≥ 0.05.
    * The +2 edges make transitivity real (a–b–c chains where a,c are
    * not themselves an edge), so the hash gate exercises the closure. */
  private def d7_connected_components(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = (1 to 2).map(off =>
      sh.select((col("doc_id") - off).as("id_a"), col("doc_id").as("id_b"), col("s").as("sb")))
      .reduce(_ unionByName _)
    val pairs = a.join(b, Seq("id_a"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_distinct(concat(col("sa"), col("sb")))) >= 0.05)
      .select("id_a", "id_b")
    Dedup.connectedComponents(pairs).orderBy("id")
  }

  /** Keep-BEST near-dup dedup ([[graft.operators.Dedup.dropNearDuplicatesKeepBest]]):
    * d7's organic adjacent-id Jaccard clusters with an external quality
    * score (`doc_id % 7`, the d21 convention — identical text means
    * identical metrics, so the score is deliberately metadata); within
    * each cluster the max-score member survives, ties to the smaller
    * id, unpaired docs untouched. The oracle replays d7's reach
    * machinery, the per-component argmax and the survivor set. */
  private def d28_neardup_keepbest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).as("quality"))
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("w"), 2)).as("s"))
    val a = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = (1 to 2).map(off =>
      sh.select((col("doc_id") - off).as("id_a"), col("doc_id").as("id_b"),
        col("s").as("sb")))
      .reduce(_ unionByName _)
    val pairs = a.join(b, Seq("id_a"))
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_distinct(concat(col("sa"), col("sb")))) >= 0.05)
      .select("id_a", "id_b")
    Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", pairs, "quality")
      .orderBy("doc_id")
  }

  private def d5_embed_neardup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val both = e.unionByName(e.withColumn("vec_id", col("vec_id") + 1000000))
    Dedup.embeddingPairs(both, "vec_id", "embedding", dim = 64,
        numPlanes = 16, threshold = 0.999)
      .select("id_a", "id_b").orderBy("id_a", "id_b")
  }

  /** End-to-end dedup pipeline: candidate pairs → greedy drop. Restricted to
    * the planted pairs so survivors are exactly the original corpus. */
  private def d6_dedup_pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithCopies(s, dir)
    val plantedPairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 8, threshold = 0.9)
      .filter(col("id_b") === col("id_a") + 1000000)
    Dedup.dropNearDuplicates(docs, "doc_id", plantedPairs)
      .select("doc_id").orderBy("doc_id")
  }

  /** The REAL pipeline shape, end-to-end in one lineage: normalize → exact
    * dedup → minhash near-dup pairs → connected components → drop — proving
    * the operators compose without re-staging. Planted structure keeps it
    * oracle-expressible: +1M ids are exact copies (die at the exact stage),
    * +2M ids carry one appended junk token (min planted trigram jaccard is
    * 8/9 ≈ 0.889 on this corpus — comfortably above the 0.8 verify
    * threshold, and with 32 bands of 2 rows the planted candidates are
    * found with probability 1 − (1 − j²)^32 ≈ 1 − 1e-21, deterministic
    * under the fixed seed). Pairs restrict to the planted id mapping
    * because organic near-dups are not SQL-enumerable (same as d2). */
  private def d9_pipeline_full(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = d
      .unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
      .unionByName(d.withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" zzz"))))
    val norm = corpus.select(col("doc_id"),
      TextFunctions.normalize(col("text")).as("text"))
    val survivors = norm.join(
      Dedup.exact(norm, "doc_id", "text").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val pairs = Dedup.minhashPairs(survivors, "doc_id", "text",
        shingleSize = 3, numHashes = 64, rowsPerBand = 2, threshold = 0.8)
      .filter(col("id_b") === col("id_a") + 2000000)
    val comps = Dedup.connectedComponents(pairs)
    val drop = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    survivors.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id").orderBy("doc_id")
  }

  /** Substring-level duplication: per-doc count of distinct 5-token spans
    * shared with other docs — the boilerplate signal document-granularity
    * MinHash cannot see. Exact span strings so the DuckDB oracle
    * reproduces the inverted span index verbatim. */
  private def d10_span_stats(s: SparkSession, dir: String): DataFrame =
    Dedup.spanStats(t(s, dir, "documents"), "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id")

  /** The `hashSpans=true` configuration — the one SCALING.md recommends at
    * 100 TB (fixed-width 8-byte keys through the shuffle instead of raw
    * span strings). The final doc-level stats are key-representation-
    * independent (xxhash64 collisions aside — none on this corpus), so
    * the oracle is d10's verbatim: the gate proves the hashed path
    * CHANGES NOTHING downstream, which is the whole point of offering it. */
  private def d10b_span_stats_hashed(s: SparkSession, dir: String): DataFrame =
    Dedup.spanStats(t(s, dir, "documents"), "doc_id", "text", n = 5,
        minDocs = 2, hashSpans = true)
      .orderBy("doc_id")

  /** Boilerplate-chunk removal REWRITE: documents partitioned into
    * disjoint 4-word chunks; every chunk occurring in >= 2 distinct docs
    * is stripped from ALL of them and the survivors reassemble in order.
    * n=4 on this corpus strips at least one chunk from ~200 of 500 docs —
    * a non-degenerate rewrite the oracle replays chunk-by-chunk. */
  private def d12_chunk_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.stripSharedChunks(t(s, dir, "documents"), "doc_id", "text",
        n = 4, minDocs = 2)
      .orderBy("doc_id")

  /** The `hashKeys=true` configuration (8-byte keys through the count
    * shuffle and anti-join — the 100 TB path). Output is key-
    * representation-independent, so the oracle is d12's verbatim. */
  private def d12b_chunk_dedup_hashed(s: SparkSession, dir: String): DataFrame =
    Dedup.stripSharedChunks(t(s, dir, "documents"), "doc_id", "text",
        n = 4, minDocs = 2, hashKeys = true)
      .orderBy("doc_id")

  /** Keep-FIRST chunk dedup (the C4 semantic): duplicated 4-word chunks
    * survive only in their minimum-doc_id owner and are stripped from
    * every later document — exactly one copy of each duplicated passage
    * remains corpus-wide. The oracle replays ownership and the rebuild
    * chunk-by-chunk. */
  private def d14_keepfirst_chunks(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirstChunks(t(s, dir, "documents"), "doc_id", "text", n = 4)
      .orderBy("doc_id")

  /** The `hashKeys=true` configuration (8-byte keys through the
    * ownership shuffle and decision join — the 100 TB path). Output is
    * key-representation-independent, so the oracle is d14's verbatim. */
  private def d14b_keepfirst_hashed(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirstChunks(t(s, dir, "documents"), "doc_id", "text", n = 4,
        hashKeys = true)
      .orderBy("doc_id")

  /** Incremental dedup: a new batch (10 verbatim copies + 10 junk docs)
    * matched against the corpus's persisted minhash index — the corpus is
    * never re-shingled. Output restricts to the planted id mapping
    * (organic near-matches are not SQL-enumerable, same policy as d9);
    * verbatim copies match at jaccard exactly 1.0, junk docs match
    * nothing. */
  private def d11_dedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // round-trip through the persisted index + parameter sidecar — the
    // production ingest shape (build once, match every later batch).
    // URL-encoding is injective, so distinct fixture dirs can never
    // collide on the same index path.
    val idxPath = "/tmp/graft_fixtures/minhash_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    Dedup.minhashIndexBuildAndWrite(d, "doc_id", "text", idxPath)
    val index = Dedup.minhashIndexRead(s, idxPath)
    val seedDocs = d.filter(col("doc_id") < 10)
    val batch = seedDocs
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .unionByName(seedDocs.select((col("doc_id") + 6000000L).as("doc_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text")))
    val pairs = index.pairsAgainst(batch, "doc_id", "text", threshold = 0.8)
    val planted = pairs.filter(col("id_b") === col("id_a") - 5000000L)
    batch.select(col("doc_id").as("new_id"))
      .join(planted.select(col("id_a").as("new_id"), col("jaccard")),
        Seq("new_id"), "left")
      .select(col("new_id"), col("jaccard").isNotNull.as("matched"),
        col("jaccard").as("jac"))
      .orderBy("new_id")
  }

  /** Benchmark decontamination: every 100th doc doubles as the "eval set";
    * per-doc trigram overlap against its broadcast n-gram universe. The
    * eval docs themselves come back contamination = 1.0, so the hash gate
    * pins both the exact-overlap arithmetic and the flag threshold. */
  private def d8_decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 100 === 0).select("text")
    Decontaminate.ngramOverlap(docs, "doc_id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy("doc_id")
  }

  /** Contamination AUDIT report (the r17 verdict's #7 reach item): two
    * eval sets (every 100th and every 97th doc — overlapping at
    * multiples of 9700, so the per-set legs are genuinely different),
    * the whole corpus histogrammed by integer-bucketed n-gram overlap
    * per set. The oracle recomputes shingles, per-set distinct-gram
    * universes, per-(doc, set) matches, the integer bucket arithmetic
    * and the threshold counts from scratch.
    * See [[graft.operators.Decontaminate.report]]. */
  private def d27_decontam_report(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Decontaminate.report(docs, "doc_id", "text",
        Seq(
          "e100" -> docs.filter(col("doc_id") % 100 === 0).select("text"),
          "e97" -> docs.filter(col("doc_id") % 97 === 0).select("text")),
        "text", n = 3, threshold = 0.5, buckets = 10)
      .orderBy("eval_set", "bucket")
  }

  /** FUZZY decontamination vs the exact path, adversarially: planted
    * PARAPHRASES of the eval docs (a unique junk token injected after
    * every 6th word, so no verbatim 8-gram survives — max clean run is
    * 6 words — while roughly half the word trigrams do). The gate pins
    * BOTH verdicts per planted doc: `fuzzy_caught = 1` (minhash/LSH +
    * exact-Jaccard verify at threshold 0.2 finds the eval source) and
    * `exact_caught = 0` (d8's n-gram overlap at n = 8 reads zero — the
    * class of leak it provably misses). Eval set restricted to docs
    * with ≥ 30 words so every plant has enough shingles for the
    * closed-form verdict; minhash is seeded, so the whole pipeline is
    * deterministic. See [[graft.operators.Decontaminate.nearDupOverlap]]. */
  private def d22_decontam_fuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs
      .filter(col("doc_id") % 100 === 0 && size(split(col("text"), " ")) >= 30)
      .select(col("doc_id"), col("text"))
    val marker = concat(lit("zzq"), col("doc_id").cast("string"), lit("qzz"))
    val para = array_join(
      flatten(transform(split(col("text"), " "),
        (w, i) => when((i + 1) % 6 === 0, array(w, marker))
          .otherwise(array(w)))), " ")
    val planted = evalSet
      .select((col("doc_id") + 7000000L).as("doc_id"), para.as("text"))
    val fuzzy = Decontaminate
      .nearDupOverlap(planted, "doc_id", "text", evalSet, "doc_id", "text")
      // planted mapping only (d11 policy: organic cross-matches are not
      // SQL-enumerable)
      .filter(col("eval_id") === col("doc_id") - 7000000L)
      .select(col("doc_id"), lit(1).as("fuzzy_caught"))
    val exact = Decontaminate
      .ngramOverlap(planted, "doc_id", "text", evalSet.select("text"), "text",
        n = 8, threshold = 0.2)
      .select(col("doc_id"), col("contaminated").cast("int").as("exact_caught"))
    planted.select(col("doc_id"))
      .join(fuzzy, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id").as("new_id"),
        (col("doc_id") - 7000000L).as("eval_id"),
        coalesce(col("fuzzy_caught"), lit(0)).as("fuzzy_caught"),
        col("exact_caught"))
      .orderBy("new_id")
  }

  /** DSIR-style importance resampling (Xie et al., NeurIPS 2023): the
    * eval-like slice (doc_id % 100 = 0) is the TARGET, every doc scores
    * as the sum of smoothed per-bucket log-likelihood ratios over its
    * hashed unigram+bigram instances (1024 buckets, t31's md5-prefix
    * hash), and the top 100 are kept. The oracle replays the ENTIRE
    * estimator — gram extraction, bucket hash, both distributions,
    * Laplace smoothing, the rounded ratio sum and the ranked cut — so
    * feature hashing, the bag-model arithmetic and the selection are
    * one hash. Per-bucket ratios round to 6 decimals BEFORE summation
    * (identical summands in both engines).
    * See [[graft.operators.Dsir]]. */
  private def d23_dsir_select(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val target = docs.filter(col("doc_id") % 100 === 0).select("text")
    val w = graft.operators.Dsir.importanceWeights(
      docs, "doc_id", "text", target, "text", numBuckets = 1024)
    graft.operators.Dsir.selectTopK(w, "doc_id", k = 100)
      .select(col("rank"), col("doc_id"), col("weight"))
      .orderBy("rank")
  }

  /** The drop side of decontamination: corpus minus flagged docs. */
  private def d8b_decontam_drop(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 100 === 0).select("text")
    Decontaminate.decontaminate(docs, "doc_id", "text", bench, "text",
        n = 3, threshold = 0.5)
      .select("doc_id").orderBy("doc_id")
  }

  /** Semantic decontamination gate: the embeddings whose `vec_id % 20 == 0`
    * stand in for an eval set; the train side is every other embedding PLUS
    * planted leaks — eval vectors rescaled ×2 under shifted ids (cosine is
    * scale-invariant and ×2 is an exact exponent shift, so each planted
    * row's cosine to its source is exactly 1.0 while sharing no byte with
    * it — un-catchable by the d8/d22 lexical tiers by construction).
    * [[graft.operators.Decontaminate.decontaminateEmbedding]] must drop
    * every planted row and no organic one (the fixture's organic vectors
    * are near-orthogonal — the d13 property — so τ=0.99 separates
    * cleanly); the oracle replays the kernel's own arithmetic
    * (dot/(√na·√nb), the d13 precedent). The eval filter pins ids below
    * the bench replica shift so the 10× leg grows the corpus, not the
    * broadcast side. */
  private def d25_embed_decontam(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val evalSide = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val planted = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select((col("vec_id") + 9000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    val train = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    Decontaminate.decontaminateEmbedding(
        train, "vec_id", "embedding", evalSide, "eval_id", "ev", tau = 0.99)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private val DecontamPlanesFixture =
    "/tmp/graft_fixtures/decontam_planes.parquet"

  private val ContextPlanesFixture =
    "/tmp/graft_fixtures/context_planes.parquet"

  /** In-context-pretraining order ([[graft.operators.ContextOrder]]):
    * the embedding corpus buckets under a persisted 4-plane sketch and
    * each bucket chains greedily from its min id. The oracle recomputes
    * the sketches from the persisted planes (the a6 recipe) and replays
    * the WHOLE greedy walk as a recursive CTE — one LATERAL argmax per
    * step with the identical cosine arithmetic — so a single divergent
    * hop anywhere in any chain breaks the hash. */
  private def t85_context_order(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planes = graft.operators.Ann.hyperplanes(64, 4, 11L)
    planes.zipWithIndex.map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(ContextPlanesFixture)
    graft.operators.ContextOrder.orderWithinBuckets(
        t(s, dir, "embeddings"), "vec_id", "embedding", planes)
      .orderBy("bucket", "seq_ix")
  }

  /** d25's scale path: the SAME planted corpus, flags found through the
    * hyperplane-LSH bucket join instead of the exhaustive broadcast scan
    * ([[graft.operators.Decontaminate.embeddingOverlapLsh]]). Positive
    * rescaling preserves every sign bit, so each planted leak sits at
    * Hamming 0 from its source and the LSH path must recover EXACTLY the
    * d25 survivor set — the gate pins the recall claim where it is
    * provable. The oracle recomputes both sides' sketches from the
    * persisted planes (the a6 recipe), replays the Hamming-≤1 pairing
    * and the cosine cut. */
  private def d25b_embed_decontam_lsh(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Ann.hyperplanes(64, 8, 42L).zipWithIndex
      .map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(DecontamPlanesFixture)
    val emb = t(s, dir, "embeddings")
    val evalSide = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
    val planted = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 100000000L)
      .select((col("vec_id") + 9000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(2.0f)).cast("float"))
          .as("embedding"))
    val train = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    Decontaminate.decontaminateEmbeddingLsh(
        train, "vec_id", "embedding", evalSide, "eval_id", "ev",
        tau = 0.99, dim = 64, numPlanes = 8, maxHamming = 1)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private def queryVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  private def a1_ann_brute(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryVec(s, dir), k = 10, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")

  /** embeddings ∪ ten planted copies of the query vector scaled by exact
    * powers of two (2^-5 … 2^4): direction is preserved BIT-EXACTLY (power-
    * of-two scaling is an exponent shift), so each planted row's cosine with
    * the query is exactly 1.0 and the true top-10 is the planted id range in
    * id order. Approximate search over this corpus is therefore fully
    * oracle-expressible, and the hash match IS the recall gate: any
    * sketch/routing inconsistency (e.g. driver-side vs executor-side sketch
    * drift, mis-probed cluster) loses a planted row and goes red. */
  private def annCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + 9000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit("planted").as("label"))
    e.unionByName(planted)
  }

  private val StandardizeModelFixture = "/tmp/graft_fixtures/std_model.parquet"

  /** Per-dimension whitening: one-pass fit
    * ([[graft.operators.Embeddings.standardizeFit]] over the PCA
    * covariance aggregate), model persisted for the oracle, every z
    * replayed as one subtract + one divide on the stored mean/std. */
  private def e6_standardize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val m = graft.operators.Embeddings.standardizeFit(e, "embedding")
    Seq((m.mean.toSeq, m.std.toSeq)).toDF("mean", "std")
      .coalesce(1).write.mode("overwrite").parquet(StandardizeModelFixture)
    graft.operators.Embeddings.standardizeApply(e, "vec_id", "embedding", m)
      .orderBy("vec_id", "pos")
  }

  private val AnnPlanesFixture = "/tmp/graft_fixtures/ann_planes.parquet"

  /** The seeded hyperplanes persisted for DuckDB's sketch replay. Written
    * by EVERY gate whose oracle reads it (a6 AND h1) — an oracle fixture
    * owned by a different gate's runner desyncs the moment that gate's
    * parameters change, and breaks filtered verify runs on a clean host. */
  private def writeAnnPlanesFixture(s: SparkSession): Unit = {
    import s.implicits._
    Ann.hyperplanes(64, 8, 42L).zipWithIndex
      .map { case (w, i) => (i, w.toSeq) }
      .toDF("plane_ix", "w")
      .coalesce(1).write.mode("overwrite").parquet(AnnPlanesFixture)
  }

  /** Distributed ANN JOIN gate: queries are a TABLE (vec_id < 15), corpus
    * the rest — no driver literals anywhere. The seeded hyperplanes
    * persist as a fixture (the BPE pattern) so DuckDB recomputes BOTH
    * sides' sketches from raw dot products against the same planes, then
    * replays the Hamming-≤1 bucket match and the per-query cosine rank.
    * The hash gate therefore covers the sketch kernel, the multi-probe
    * mask fan-out, the bucket equi-join, and the rank — any drift between
    * driver masks and executor sketches goes red. */
  private def a6_ann_join(s: SparkSession, dir: String): DataFrame = {
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    Ann.annJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 8, maxHamming = 1)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining gate: the a6 candidate machinery with the two
    * exact cosine filters (near-dup exclusion < 0.95, easy-negative floor
    * ≥ 0.0) and the post-filter re-rank
    * ([[graft.operators.Ann.hardNegatives]]). The oracle replays
    * sketches, candidate rank, BOTH filters and the re-rank from the
    * plane fixture — a filter applied before/after the wrong rank cut
    * changes the survivor set and goes red. */
  private def t45_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    Ann.hardNegatives(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 3, dupCosine = 0.95, floorCosine = 0.0,
        candidateK = 10, numPlanes = 8, maxHamming = 1)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Salted ANN-join gate under PLANTED bucket skew: 200 positive
    * power-of-two-scaled copies of one corpus vector (sign(2^k·v·w) =
    * sign(v·w), so every copy lands in the SAME sketch bucket — a hot
    * bucket by construction, the near-duplicate-cluster shape that
    * concentrates a production corpus). saltFactor = 4 spreads them; the
    * oracle replays the UNSALTED semantics (the salt's whole contract is
    * result-identity — the per-pair cosine set and the (cosine desc, id)
    * rank are unchanged), so the hash gate proves the salted path returns
    * exactly the unsalted answer on skewed data. The per-task bound
    * itself is specced (SkewJoinSpec). */
  private def a6b_ann_join_salted(s: SparkSession, dir: String): DataFrame = {
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    val hot = e.filter(col("vec_id") === 20)
      .select(explode(sequence(lit(0L), lit(199L))).as("i"), col("embedding"))
      .select((col("i") + 9500000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), pmod(col("i"), lit(5L)) - 2)).cast("float"))
          .as("embedding"),
        lit("hot").as("label"))
    Ann.annJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        e.filter(col("vec_id") >= 15).unionByName(hot),
        "query_id", "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 8, maxHamming = 1, saltFactor = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  private val IvfJoinCentroidsFixture = "/tmp/graft_fixtures/ivf_join_centroids.parquet"
  private val IvfJoinAssignFixture = "/tmp/graft_fixtures/ivf_join_assign.parquet"

  /** Routed ANN-join gate: the trained centroids AND the corpus's cluster
    * assignments persist as fixtures (assignment correctness is gated by
    * a3/a3b; here they are INPUT), so DuckDB replays exactly the join's
    * own work — per-query centroid ranking with the lower-cid tie
    * contract, the probe fan-out, the cluster equi-join, and the cosine
    * rank. */
  private def a7_ann_ivf_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val idx = Ann.ivfBuild(e.filter(col("vec_id") >= 15), "vec_id",
      "embedding", nlist = 16)
    idx.centroids.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(IvfJoinCentroidsFixture)
    idx.clustered.select("vec_id", "gr_cluster").coalesce(1)
      .write.mode("overwrite").parquet(IvfJoinAssignFixture)
    Ann.ivfJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        idx, "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  private val IvfRebuildCentroidsFixture =
    "/tmp/graft_fixtures/ivf_rebuild_centroids.parquet"
  private val IvfRebuildAssignFixture =
    "/tmp/graft_fixtures/ivf_rebuild_assign.parquet"

  /** Full index-maintenance lifecycle as ONE gate: build → append →
    * staged REBUILD (verify + move-in-before-delete swap + baseline
    * reset) → serve. The rebuilt centroids and assignments persist as
    * fixtures (rebuild correctness of assignment is what the lifecycle
    * produced; here it is INPUT, a7's pattern), so DuckDB replays the
    * post-swap serving exactly — if the swap lost rows, left stale
    * centroids, or broke the layout, the replayed probe disagrees. */
  private def a9_ivf_rebuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val path = "/tmp/graft_fixtures/ivf_rebuild_index"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.ivfWrite(Ann.ivfBuild(e.filter(col("vec_id") >= 15), "vec_id",
      "embedding", nlist = 16), path)
    Ann.ivfAppend(s, path,
      e.filter(col("vec_id") >= 5 && col("vec_id") < 15),
      "vec_id", "embedding", "growth")
    val idx = Ann.ivfRebuild(s, path, "vec_id")
    idx.centroids.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(IvfRebuildCentroidsFixture)
    idx.clustered.select("vec_id", "gr_cluster").coalesce(1)
      .write.mode("overwrite").parquet(IvfRebuildAssignFixture)
    Ann.ivfJoin(
        e.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id"),
        idx, "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF tombstone delete: ten planted cosine-1.0 copies (ids
    * 9400000+i), the EVEN ones deleted through
    * [[graft.operators.Ann.ivfDelete]] — the probe over the re-read
    * index must surface exactly the five surviving odd ids at ranks
    * 1..5. A delete that failed to reach the probe path would put the
    * smaller even ids back at the top on the id tiebreak and go red. */
  private def a14_ivf_delete(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + 9400000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit(777).as("label"))
    val path = "/tmp/graft_fixtures/ivf_delete_index"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Ann.ivfWrite(Ann.ivfBuild(e.unionByName(planted), "vec_id",
      "embedding", nlist = 16), path)
    Ann.ivfDelete(s, path,
      planted.filter(col("vec_id") % 2 === 0).select("vec_id"))
    Ann.ivfTopK(Ann.ivfRead(s, path), "vec_id", "embedding",
        queryVec(s, dir), k = 5, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private def a4_ann_batch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Ann.batchBruteTopK(e, "vec_id", "embedding", qs, k = 5,
        excludeIds = Seq(0L, 1L, 2L))
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Binary-quantized ANN: sign-bit codes ([[graft.operators.Embeddings
    * .binarize]], 32× narrower than float32) scanned with per-word
    * `bit_count(xor)` Hamming distance, per-query top-3. The oracle
    * recomputes every pair's Hamming distance FROM THE RAW FLOATS
    * (count of sign disagreements), so the gate pins the whole packed
    * path — packing, xor kernel, rank — against first principles.
    * Query batch: the 10 `vec_id % 50 = 0` vectors (bounded driver
    * collect, the documented query-literal contract shared with a4). */
  private def a10_binary_hamming(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        graft.operators.Embeddings.signWordsLocal(r.getSeq[Float](1).toArray)))
      .sortBy(_._1).toSeq
    val bits = graft.operators.Embeddings.binarize(e, "vec_id", "embedding")
    Ann.binaryTopK(bits, "vec_id", "bits", qs, k = 3)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** MMR diversity re-rank: per-query top-12 cosine candidates (the a4
    * batched-brute shape), greedily re-ranked to 4 results by
    * `0.5·rel − 0.5·max-sim-to-picked` ([[graft.operators.Ann.mmrRerank]]).
    * Every quantity the greedy loop compares — relevance cosines AND the
    * candidate-to-picked cosines — is the kernel double that DuckDB's
    * `list_cosine_similarity` reproduces bit-for-bit (the a6/e4 parity
    * contract), so the oracle replays all four greedy rounds UNROLLED and
    * the hash gate pins the whole selection: candidate cut, seed pick,
    * anti-join, max-sim aggregation, λ-arithmetic and id tiebreaks. */
  private def a11_mmr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val cand = Ann.batchBruteTopK(e, "vec_id", "embedding", qs, k = 12,
        excludeIds = qids)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("embedding"), col("cosine"))
    Ann.mmrRerank(cand, "query_id", "vec_id", "embedding", "cosine", k = 4)
      .orderBy("query_id", "step")
  }

  /** Matryoshka two-phase search: coarse top-50 on the first 16 of 64
    * dimensions, exact re-rank on the full vector
    * ([[graft.operators.Ann.matryoshkaTopK]]). Both phases are exact
    * arithmetic, so the oracle replays the WHOLE approximation —
    * shortlist cut and re-rank — bit-for-bit; nothing planted. */
  private def a13_matryoshka(s: SparkSession, dir: String): DataFrame =
    Ann.matryoshkaTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryVec(s, dir), k = 10, prefixDims = 16, shortlist = 50,
        excludeIds = Seq(0L))
      .select(col("vec_id"), col("rank")).orderBy("rank")

  /** Batched IVF probe over a corpus with 5 planted power-of-two-scaled
    * copies PER QUERY (queries 0,1,2 → ids 9700000 + q·100 + i): each
    * query's copies sit at cosine exactly 1.0 for it (scaling by 2^k
    * commutes with double rounding) and in its argmax cluster, which
    * nprobe ≥ 1 always probes — so the enumerable truth is each query's
    * own planted ids at ranks 1..5, tie-broken by vec_id. One scan serves
    * all three queries. */
  private def a5_ann_ivf_batch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qids = Seq(0L, 1L, 2L)
    val planted = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q"), explode(sequence(lit(0L), lit(4L))).as("i"),
        col("embedding"), col("label"))
      .select((lit(9700000L) + col("q") * 100L + col("i")).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 2)).cast("float")).as("embedding"),
        col("label"))
    val corpus = e.unionByName(planted)
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Ann.ivfBatchTopK(index, "vec_id", "embedding", qs, k = 5, nprobe = 4,
        excludeIds = qids)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private def a2_ann_lsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(annCorpus(s, dir), "vec_id", "embedding", dim = 64,
        queryVec(s, dir), k = 10, numPlanes = 12, maxHammingProbe = 3,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")

  /** Product-quantization ADC top-10: codebooks train driver-side on a
    * seeded hash-sample (bounded model, BPE policy), persist as a fixture,
    * and the DuckDB oracle REPLAYS encode + asymmetric-distance scoring
    * from that fixture bit-exactly (every arithmetic path shares one fold
    * order — ascending elements/cells/subspaces), then re-ranks. So the
    * gate pins the whole quantized pipeline — subspace split, nearest-cell
    * assignment incl. ties-to-lower, LUT build, ADC sum, rank — not just
    * "runs". Quantized top-k is NOT the exact top-k (that's a1; recall
    * floors live in RecallSpec) — the oracle ranks by the SAME quantized
    * distance, which is the correct contract for a lossy index. */
  private def p1_ann_pq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    val encoded = Pq.pqEncode(e, "vec_id", "embedding", model)
    Pq.pqTopK(encoded, "vec_id", queryVec(s, dir), model, k = 10,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private val PqCodebooksFixture = "/tmp/graft_fixtures/pq_codebooks.parquet"

  /** Batched PQ ADC: three queries, ONE scan of the code table — the
    * multi-LUT kernel scores each row against every query in one code
    * walk. Same trained model and fixture as p1 (the builder re-trains
    * identically — training is deterministic), so the oracle is p1's
    * replay generalized per query. */
  private def p3_ann_pq_batch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    val qids = Seq(0L, 1L, 2L)
    val qs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    Pq.pqBatchTopK(Pq.pqEncode(e, "vec_id", "embedding", model), "vec_id",
        qs, model, k = 5, excludeIds = qids)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** ADC candidates + exact re-rank — the standard quantized serving
    * pattern: top-50 by quantized distance from the code table, then
    * exact cosine over ONLY those 50 (broadcast id join back to the raw
    * vectors). Same model/fixture as p1; the oracle replays the ADC
    * short-list cut (ties by id) and re-ranks it with exact cosine. */
  private def p4_ann_pq_rerank(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(PqCodebooksFixture)
    Pq.pqTopKRerank(Pq.pqEncode(e, "vec_id", "embedding", model), e,
        "vec_id", "embedding", queryVec(s, dir), model, k = 10,
        candidates = 50, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** IVF-PQ: cluster routing (nprobe of nlist, the a3 shape) composed with
    * quantized ADC scoring (the p1 shape) — the canonical billion-scale
    * serving layout. BOTH trained artifacts persist as fixtures and the
    * oracle replays the whole serving path: per-row nearest-centroid
    * assignment (cosine argmax, ties to the LARGER cid — the build/append
    * contract), the query's probe set (ties to the SMALLER cid — stable
    * sort), encode, ADC, rank. */
  private def p2_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(e, "vec_id", "embedding", nlist = 16)
    val model = Pq.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
    import s.implicits._
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqCentroidsFixture)
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqCodebooksFixture)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    Pq.ivfPqTopK(serving, index.centroids, model, "vec_id", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private val IvfPqCentroidsFixture = "/tmp/graft_fixtures/ivfpq_centroids.parquet"
  private val IvfPqCodebooksFixture = "/tmp/graft_fixtures/ivfpq_codebooks.parquet"

  private val IvfPqJoinCentroidsFixture = "/tmp/graft_fixtures/ivfpq_join_centroids.parquet"
  private val IvfPqJoinCodebooksFixture = "/tmp/graft_fixtures/ivfpq_join_codebooks.parquet"
  private val IvfPqJoinServingFixture = "/tmp/graft_fixtures/ivfpq_join_serving.parquet"

  /** Quantized query-TABLE join gate: centroids, codebooks AND the encoded
    * serving table persist as fixtures (encode correctness is p1/p2's
    * gate — here the codes are INPUT), so DuckDB replays exactly the
    * join's own work: per-query centroid ranking (lower-cid ties), probe
    * fan-out, cluster equi-join, per-(query, candidate) ADC from the
    * codebook (ordered positional fold, p1's arithmetic), and the
    * distance rank. */
  private def a8_ann_ivfpq_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") >= 15)
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    val model = Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 16)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqJoinCentroidsFixture)
    model.cells.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (v, c) => (sub, c, v.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(IvfPqJoinCodebooksFixture)
    val serving = Pq.ivfPqEncode(index, "vec_id", "embedding", model)
    serving.coalesce(1).write.mode("overwrite").parquet(IvfPqJoinServingFixture)
    Pq.ivfPqJoin(
        e.filter(col("vec_id") < 15).withColumnRenamed("vec_id", "query_id"),
        serving, index.centroids, model,
        "query_id", "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Linear quality probe, fit and applied in one gate: exact normal
    * equations over INTEGER features (char count, whitespace token count;
    * label = is-English), so every sufficient statistic is an exact decimal
    * sum and the Cramer solve + scoring are fixed IEEE expression
    * sequences — the oracle replays training AND scoring bit-for-bit, no
    * rounding tolerance anywhere. */
  private def ml1_linprobe(s: SparkSession, dir: String): DataFrame = {
    val f = t(s, dir, "documents").select(col("doc_id"),
      col("n_chars").cast("long").as("x1"),
      TextFunctions.tokenCountWhitespace(col("text")).cast("long").as("x2"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val model = graft.operators.Regression.fitLinearExact(f, Seq("x1", "x2"), "y")
    f.select(col("doc_id"),
        graft.operators.Regression.linearScore(model,
          Seq(col("x1"), col("x2"))).as("score"))
      .orderBy("doc_id")
  }

  /** Logistic quality classifier: 3 full-batch GD iterations, each ONE
    * distributed gradient aggregation; weights round to 6 decimals per
    * iteration (the cross-engine resync — float sums and exp differ in the
    * last ulp), scores round the same way. The oracle replays all three
    * iterations and the sigmoid scoring. */
  private def ml2_logreg(s: SparkSession, dir: String): DataFrame = {
    val f = t(s, dir, "documents").select(col("doc_id"),
      (col("n_chars") / 100.0).as("x1"),
      (TextFunctions.tokenCountWhitespace(col("text")) / 20.0).as("x2"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val model = graft.operators.Regression.fitLogisticGD(f,
      Seq(col("x1"), col("x2")), col("y"), iterations = 3, lr = 0.5)
    f.select(col("doc_id"),
        graft.operators.Regression.logisticScore(model,
          Seq(col("x1"), col("x2"))).as("score"))
      .orderBy("doc_id")
  }

  /** Clamped-seed label propagation: six seed communities spread over the
    * g3 event graph for three synchronous rounds; the oracle replays
    * every round's neighbor-vote argmax (count desc, label asc). */
  private def g5_label_prop(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
    val seeds = s.range(6).select(col("id").as("node"), col("id").as("label"))
    Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label",
        iterations = 3)
      .orderBy("node")
  }

  /** Daily new + cumulative distinct users over the event log — the
    * growth curve companion to q39's retention matrix. */
  private def q47_cumulative_distinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.newAndCumulative(
        Fixtures.events(s, dir), "user_id", "ts")
      .orderBy("day")

  /** Multinomial naive Bayes classifying each document's `source` from
    * its tokens: fully distributed train + score, per-(doc, class)
    * rounded log-scores and the rounded-argmax prediction. The oracle
    * retrains from scratch relationally — counts, add-1 likelihoods,
    * priors, the rounded decision — so the whole estimator is replayed,
    * not just the scores. See [[graft.operators.NaiveBayes]]. */
  private def ml3_naive_bayes(s: SparkSession, dir: String): DataFrame =
    graft.operators.NaiveBayes.trainScore(t(s, dir, "documents"),
        "doc_id", "text", "source")
      .orderBy("doc_id", "label")

  /** Reliability bins + ECE ([[graft.operators.Regression.calibrationBins]])
    * over a hash-scored classifier whose labels are drawn so that
    * P(label=1 | score) ≈ score — a nearly-calibrated fixture, so acc
    * tracks conf per bin and the exact integer-micro arithmetic is
    * what the oracle checks: per-bin sums are exact integers in both
    * engines, only the final divisions round. */
  private def ml4_calibration(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.calibrationBins(scored, "score", "label",
        nBins = 10)
      .orderBy("bin")
  }

  /** Persisted inverted index
    * ([[graft.operators.Retrieval.invertedIndexBuildAndWrite]]): the
    * full-vocabulary postings land bucket-partitioned, the gate
    * REQUIRES the query's scan to touch fewer files than the index
    * holds (the pruning is the operator's point), and the top-20 BM25
    * answer must equal the oracle's from-scratch corpus computation —
    * proving the stored postings, the sidecar's integer stats and the
    * pruned df all reproduce [[graft.operators.Retrieval.bm25]]'s
    * arithmetic exactly. */
  private def t88_inverted_index(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_fixtures/invidx_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(path)
    bp.getFileSystem(conf).delete(bp, true)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Retrieval.invertedIndexBuildAndWrite(docs,
      "doc_id", "text", path, numBuckets = 16)
    val terms = Seq("agg", "scan", "window")
    val pruned = graft.operators.Retrieval
      .invertedIndexScan(s, path, terms).inputFiles.length
    val full = s.read.parquet(path).inputFiles.length
    require(pruned > 0 && pruned < full,
      s"bucket pruning must skip partitions: touched $pruned of $full files")
    graft.operators.Retrieval.invertedIndexQuery(s, path, terms, k = 20)
      .orderBy("rank")
  }

  /** Streaming inverted-index ingest
    * ([[graft.streaming.Streams.invertedIngest]]): the even-id half of
    * the corpus builds the base index, the odd half arrives as two
    * micro-batches whose postings AND stats rows commit exactly-once
    * under batch tags — and the post-stream index must answer the
    * t88-style top-k EXACTLY as a from-scratch full-corpus computation
    * (a double-counted stats row or a lost batch shifts avgdl/df and
    * the hash). */
  private def st24_stream_inverted(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/invingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(conf).delete(bp, true)
    val (src, idx, cp) = (s"$base/src", s"$base/idx", s"$base/cp")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.Retrieval.invertedIndexBuildAndWrite(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx,
      numBuckets = 16)
    for (part <- Seq(1, 3))
      docs.filter(col("doc_id") % 4 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.invertedIngest(
      stream, "doc_id", "text", idx, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Retrieval.invertedIndexQuery(s, idx,
        Seq("agg", "scan", "window"), k = 25)
      .orderBy("rank")
  }

  /** Exact tie-corrected ROC-AUC over the ml4 fixture
    * ([[graft.operators.Regression.aucExact]]): labels are drawn with
    * P(y=1 | score) ≈ score, giving a discriminative-but-imperfect
    * scorer whose exact rank statistic the oracle replays — the
    * doubled numerator is an exact integer in both engines, so the
    * hash pins every tie's ½ credit. */
  private def ml5_auc(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.aucExact(scored, "score", "label")
  }

  /** Operating-point metrics at threshold 0.5 over the ml4 fixture
    * ([[graft.operators.Regression.confusionAtThreshold]]): exact
    * micro-unit split, integer-rational F1, every division final. */
  private def ml6_confusion(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.confusionAtThreshold(scored,
      "score", "label", threshold = 0.5)
  }

  /** The threshold SWEEP over the ml4 fixture
    * ([[graft.operators.Regression.confusionSweep]]): five operating
    * points in one aggregate — the table a filter designer reads to
    * pick the cut ml5's AUC only says exists. Thresholds key as exact
    * micro-units; the oracle replays each point's conditional sums. */
  private def ml7_confusion_sweep(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String) = conv(substring(md5(concat(lit(tag),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
    val scored = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        (h("cs:").cast("double") / 1000000.0).as("score"),
        when(h("cl:") < h("cs:"), 1L).otherwise(0L).as("label"))
    graft.operators.Regression.confusionSweep(scored, "score", "label",
        thresholds = Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      .orderBy("t_micro")
  }

  /** k-anonymity suppression ([[graft.operators.Privacy.kAnonymitySuppress]])
    * over the event log's quasi-identifier tuple (cohort, slot,
    * event_type) — ~800 combinations over the corpus, straddling k=10
    * by construction, so both the suppression and the attached group
    * sizes are exercised; the oracle replays the count + floor
    * verbatim. */
  private def t86_kanon(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"),
      (col("user_id") % 23).as("cohort"),
      (col("event_id") % 7).as("slot"), col("event_type"))
    graft.operators.Privacy.kAnonymitySuppress(ev,
        Seq("cohort", "slot", "event_type"), k = 10L)
      .select("event_id", "cohort", "slot", "event_type", "group_n")
      .orderBy("event_id")
  }

  /** PageRank gate: a deterministic 200-node link graph derived from the
    * events table (src = event_id mod 200, dst = event_id·48271 mod 200 — a
    * Lehmer-style mixing constant so the graph is irregular), 5 exact
    * fixed-point iterations. The oracle replays the derivation AND every
    * iteration with the same integer arithmetic — bit-exact, no float
    * tolerance anywhere. */
  private def g1_pagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    Graph.pageRank(edges, "src", "dst", iterations = 5)
      .orderBy("node")
  }

  /** TrustRank over g1's graph ([[graft.operators.Graph.trustRank]]):
    * four trusted seeds, trust mass seeded and teleported ONLY there —
    * nodes far from every seed score near zero whatever their in-degree
    * (the link-spam demotion contract). The oracle replays all five
    * iterations of the seed-restricted integer arithmetic, g1's CTE
    * machinery with the seed-modified init and teleport. */
  private def g7_trustrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    val seeds = Seq(0L, 50L, 100L, 150L).toDF("host_id")
    Graph.trustRank(edges, "src", "dst", seeds, "host_id", iterations = 5)
      .orderBy("node")
  }

  /** Triangle counting: degree-oriented wedge join
    * ([[graft.operators.Graph.triangleCounts]] — Σ outdeg² bounded by
    * O(m^1.5) under ANY skew). The edges decompose event_id as a base-60
    * digit pair, thinned by a pair-deterministic keep rule — g1's
    * multiplicative derivation is a PERMUTATION of the node set (cycles
    * only, zero triangles), which would make this gate vacuous; the digit
    * graph is triangle-rich with irregular per-node counts. Counts are
    * orientation-independent, so the oracle enumerates canonical u<y<z
    * triples directly. */
  private def g2_triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
      .filter((col("src") * 31 + col("dst") * 17) % 5 =!= 0)
    Graph.triangleCounts(edges, "src", "dst").orderBy("node")
  }

  /** k-core over an irregular-degree digit graph ((s·d) mod 7 thinning:
    * degrees 24–59): k=25 peels to a 35-node core in 4 cascade rounds —
    * a proper nonempty subset, so the gate pins real peeling, not a
    * no-op or a collapse. Oracle replays 6 peel rounds (fixpoint + 2). */
  private def g3_kcore(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 60).as("src"),
        (expr("event_id DIV 60") % 60).as("dst"))
      .filter((col("src") * col("dst")) % 7 < 3)
    Graph.kCore(edges, "src", "dst", k = 25).orderBy("node")
  }

  /** Bounded BFS on g1's permutation graph (disjoint cycles, so hops
    * genuinely layer instead of saturating): everything within 6 hops of
    * node 1, with minimal hop counts. */
  private def g4_bfs(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"))
    Graph.reachableFrom(edges, "src", "dst", Seq(1L), maxHops = 6)
      .orderBy("node")
  }

  /** Bounded weighted SSSP over the g4 synthetic graph (weights
    * `event_id % 7 + 1`): exact shortest distances among paths of ≤ 6
    * edges from node 1 ([[graft.operators.Graph.boundedShortestPaths]]).
    * The round-bounded contract is what makes an unrolled SQL replay
    * possible whether or not the graph converged. */
  private def g6_sssp(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "events")
      .select((col("event_id") % 200).as("src"),
        ((col("event_id") * 48271L) % 200).as("dst"),
        (col("event_id") % 7 + 1).as("w"))
    Graph.boundedShortestPaths(edges, "src", "dst", "w", Seq(1L, 2L, 3L),
        maxRounds = 6)
      .orderBy("node")
  }

  private val SemDedupCentroidsFixture =
    "/tmp/graft_fixtures/semdedup_centroids.parquet"

  /** Semantic dedup gate (SemDeDup): the planted corpus (10 bit-exact
    * direction copies of vector 0 at ids 9000000+i) is k-means-clustered,
    * the centroids persist as a fixture, and DuckDB replays EVERYTHING
    * downstream of the clustering with the kernel's own arithmetic
    * (dot/(√na·√nb), larger-cid argmax tie-break): assignment, the
    * within-cluster pair scan at eps=0.95, the min-id representative rule.
    * Expected shape: every planted id drops with rep_id=0 (cosine exactly
    * 1.0 to vector 0, which shares their argmax cluster); the organic
    * near-orthogonal rows survive. */
  private def d13_semdedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 8)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(SemDedupCentroidsFixture)
    Dedup.semDedup(index, "vec_id", eps = 0.95, maxClusterSize = 1 << 20)
      .select("id", "gr_cluster", "kept", "rep_id")
      .orderBy("id")
  }

  /** Cross-document repeated-SPAN dedup over planted copies: for every
    * doc_id % 11 == 0 with ≥ 17 words, a planted doc (id 9700000+id)
    * embeds words 6..17 of the source between unique pad markers — a
    * different ALIGNMENT than the source, which is exactly what the
    * sliding-span cut must catch (and fixed chunking misses). The owner
    * (smaller source id) keeps its text; the planted copies lose the
    * 12 copied words and keep the pads. The oracle replays spans,
    * ownership, coverage and reassembly in SQL.
    * See [[graft.operators.Dedup.dropRepeatedSpans]]. */
  private def d20_span_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("__ws"))
      .filter(col("doc_id") % 11 === 0 && size(col("__ws")) >= 17)
      .select((col("doc_id") + 9700000L).as("doc_id"),
        concat(lit("zz start pad "),
          array_join(slice(col("__ws"), 6, 12), " "),
          lit(" zz end pad")).as("text"))
    graft.operators.Dedup.dropRepeatedSpans(
        docs.unionByName(planted), "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  /** Arbitrary-length EXACT substring dedup (ExactSubstr, keep-first)
    * over three plant families on one corpus: cross-document copies of
    * an OFF-GRID 13-word run (cut from the plant, the earlier source
    * keeps), WITHIN-document twin copies of a reversed 13-run (second
    * copy cut, first kept — the case d20's owner-doc contract cannot
    * express), and a 9-word repeat that must SURVIVE a minLen = 10
    * policy exactly (the boundary d20's fixed scales blur). The Spark
    * side elects first occurrences over doubling-ladder window hashes
    * ([[graft.functions.RunWindowHashExpr]]); the oracle replays
    * windows, first-occurrence election, coverage and reassembly on
    * exact window STRINGS — a hash match therefore also proves the
    * ladder collision-free on the corpus.
    * See [[graft.operators.Dedup.dropRepeatedRuns]]. */
  private def d24_substr_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w0 = docs.select(col("doc_id"),
      graft.functions.TextFunctions.words(col("text")).as("__ws"))
    val crossP = w0.filter(col("doc_id") % 7 === 0 && size(col("__ws")) >= 16)
      .select((col("doc_id") + 9850000L).as("doc_id"),
        concat(lit("vv start pad "), array_join(slice(col("__ws"), 3, 13), " "),
          lit(" vv end pad")).as("text"))
    val rev13 = array_join(reverse(slice(col("__ws"), 3, 13)), " ")
    val withinP = w0.filter(col("doc_id") % 5 === 0 && size(col("__ws")) >= 16)
      .select((col("doc_id") + 9860000L).as("doc_id"),
        concat(lit("xx alpha "), rev13, lit(" xx beta "), rev13,
          lit(" xx omega")).as("text"))
    val survP = w0.filter(col("doc_id") % 3 === 0 && size(col("__ws")) >= 12)
      .select((col("doc_id") + 9870000L).as("doc_id"),
        concat(lit("uu s pad "), array_join(slice(col("__ws"), 3, 9), " "),
          lit(" uu e pad")).as("text"))
    graft.operators.Dedup.dropRepeatedRuns(
        docs.unionByName(crossP).unionByName(withinP).unionByName(survP),
        "doc_id", "text", minLen = 10)
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate line removal (C4 §2.2 / CCNet): the
    * fixture gives every document newline-line structure (6-word lines)
    * and plants a "subscribe" footer on every doc_id % 4 == 0 — ~125
    * corpus-wide occurrences, far over the minCount=3 bar, so every
    * planted footer must vanish; natural 6-word lines that happen to
    * repeat ≥ 3× fall under the same rule in BOTH engines. Survivor
    * lines re-join in original order; a doc may lose interior lines and
    * keep its identity. */
  /** The d26/st23 fixture: every document re-lined into 6-word
    * newline-lines, a "subscribe" footer planted on doc_id % 4 == 0. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ws = graft.functions.TextFunctions.words(col("text"))
    docs
      .select(col("doc_id"), ws.as("__w"),
        greatest(lit(1L), ceil(size(ws) / lit(6.0)).cast("long")).as("__nl"))
      .select(col("doc_id"),
        concat_ws("\n", transform(sequence(lit(0L), col("__nl") - 1),
          i => concat_ws(" ",
            slice(col("__w"), (i * 6 + 1).cast("int"), lit(6))))).as("__body"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("__body"), lit("\nsubscribe to our newsletter today")))
          .otherwise(col("__body")).as("text"))
  }

  private def d26_line_boilerplate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dropFrequentLines(linedDocs(s, dir),
        "doc_id", "text", minCount = 3)
      .orderBy("doc_id")

  /** d26's STREAMING twin: the line-frequency table as a continuously
    * maintained sidecar — docs arrive in micro-batches, each batch's
    * line counts merge exactly-once into the
    * [[graft.api.Graft.maintainAggregate]] rollup, and the boilerplate
    * set at any instant is one filter over the sidecar (bounded by
    * DISTINCT lines, not stream length). The oracle recounts the full
    * fixture from scratch — the maintained counts must equal the batch
    * recount exactly. */
  private def st23_stream_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = s"/tmp/graft_fixtures/strline_src_$tag"
    val sidecar = s"/tmp/graft_fixtures/strline_side_$tag"
    val cp = s"/tmp/graft_fixtures/strline_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(src, sidecar, sidecar + ".graft_agg_staging",
        sidecar + ".graft_agg_retired", cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val lined = linedDocs(s, dir)
    for (part <- 0 to 2)
      lined.filter(col("doc_id") % 3 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val lines = stream.select(explode(split(col("text"), "\n")).as("line"))
    val q = graft.streaming.Streams.maintainAggregateStream(
      lines, sidecar, Seq("line"), Seq.empty, cp)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(sidecar).filter(col("n_rows") >= 3)
      .select(col("line"), col("n_rows")).orderBy("line")
  }

  /** PDF round trip: every document is written as a structurally valid
    * one-page PDF ([[graft.functions.PdfBuildExpr]] — Flate-compressed
    * content stream on even doc_ids, raw on odd, text split across two
    * Tj show-ops) and read back through the from-scratch extractor
    * ([[graft.functions.PdfExtractExpr]]). The oracle is the identity,
    * which is exactly the point: a parser that fails to inflate,
    * mis-lexes an escape (the builder escapes parens/backslashes/
    * control bytes), or drops a show-op cannot reproduce the corpus.
    * Edge grammar (octal escapes, hex strings, TJ arrays, newline
    * operators, foreign filters) is pinned in PdfSpec. */
  private def t50_pdf_extract(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.select(col("doc_id"),
        graft.functions.PdfExtractExpr(
          graft.functions.PdfBuildExpr(col("text"), col("doc_id") % 2 === 0))
          .as("text_extracted"))
      .orderBy("doc_id")
  }

  /** DOCX round trip: every document is zipped into a structurally
    * valid OOXML package ([[graft.functions.DocxBuildExpr]] — deflated
    * document.xml on even doc_ids, stored on odd, text split across
    * 24-char runs mid-word) and read back through the from-scratch
    * central-directory walker + WordprocessingML text rules
    * ([[graft.functions.DocxExtractExpr]]). The oracle is the
    * identity, which is the point: a reader that mislocates the
    * central directory, fails the raw inflate, or re-spaces run
    * concatenation cannot reproduce the corpus. Edge grammar is
    * pinned in DocxSpec. */
  private def t73_docx_extract(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.select(col("doc_id"),
        graft.functions.DocxExtractExpr(
          graft.functions.DocxBuildExpr(col("text"), col("doc_id") % 2 === 0))
          .as("text_extracted"))
      .orderBy("doc_id")
  }

  /** Canonical URL normalization over fixture-built messy URLs (mixed
    * case, default ports, trailing slashes, tracker params, fragments,
    * unsorted query params): both engines normalize INDEPENDENTLY from
    * the same concatenated inputs, so the hash match proves every
    * normalization rule agrees — the correctness contract URL-level
    * dedup keys and host-level crawl policies stand on.
    * See [[graft.functions.TextFunctions.normalizeUrl]]. */
  private def t51_url_normalize(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(
      when(col("doc_id") % 4 === 0, lit("HTTPS://")).otherwise(lit("HTTP://")),
      lit("Example"), (col("doc_id") % 20).cast("string"), lit(".COM"),
      when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit(":80")),
      lit("/Path/"), col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=news&b=2&a=1"),
      when(col("doc_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
    docs.select(col("doc_id"), url.as("url"),
        graft.functions.TextFunctions.normalizeUrl(url).as("url_norm"),
        graft.functions.TextFunctions.urlHost(url).as("host"))
      .orderBy("doc_id")
  }

  /** WARC container round trip: documents are grouped into files
    * (7 files, alternate ones gzip-compressed whole-file), written
    * through the deterministic WARC builder and parsed back through
    * the from-scratch record parser — Content-Length framing, header
    * grammar, multi-record scan and gzip inflation all on the line.
    * The identity oracle proves the crawl front door (this stage feeds
    * `t48` markup / `t50` PDF extraction) loses nothing.
    * See [[graft.functions.WarcRecordsExpr]]. */
  private def t52_warc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(lit("http://example.com/doc/"), col("doc_id")))
    val files = docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("text")))).as("rs"))
      .select(col("file_id"),
        graft.functions.WarcBuildExpr(
          transform(col("rs"), r => struct(
            r.getField("url").as("url"),
            r.getField("text").cast("binary").as("body"))),
          col("file_id") % 2 === 0).as("warc"))
    files
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(col("rec.url").as("url"), col("rec.rec_type").as("rec_type"),
        col("rec.body").cast("string").as("text_rt"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "rec_type", "text_rt")
      .orderBy("doc_id")
  }

  /** The crawl front door COMPOSED end-to-end: documents wrapped as HTML
    * pages behind messy URLs, grouped into (half gzipped) WARC files
    * with REAL-crawl HTTP message framing on every record, then parsed
    * back — HTTP splitting ([[graft.functions.HttpPayloadExpr]], the
    * Common Crawl payload layout) before charset decode, markup
    * extraction and URL canonicalization in one query. Container
    * framing, gzip, HTTP header stripping, the tag state machine and
    * every URL rule must agree with the oracle's independent replay
    * SIMULTANEOUSLY. This is the ingestion shape a real crawl corpus
    * runs before quality/dedup (whose gates consume its outputs). */
  private def t53_crawl_pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(
        lit("HTTP://Site"), (col("doc_id") % 9).cast("string"),
        lit(".COM:80/Doc/"), col("doc_id").cast("string"),
        lit("?utm_source=w&id="), col("doc_id").cast("string"), lit("#top")))
      .withColumn("html", concat(
        lit("<html><body><h1>Doc "), col("doc_id"), lit("</h1><p>"),
        col("text"), lit("</p><script>skip()</script></body></html>")))
    docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("html")))).as("rs"))
      .select(col("file_id"), graft.functions.WarcBuildExpr(
        transform(col("rs"), r => struct(
          r.getField("url").as("url"),
          r.getField("html").cast("binary").as("body"))),
        col("file_id") % 2 === 0, lit(true)).as("warc"))
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(
        regexp_extract(col("rec.url"), "/Doc/([0-9]+)", 1).cast("long")
          .as("doc_id"),
        graft.functions.TextFunctions.normalizeUrl(col("rec.url"))
          .as("url_norm"),
        graft.functions.TextFunctions.extractMarkup(
          graft.functions.DecodeTextExpr(
            graft.functions.HttpPayloadExpr(col("rec.body"))
              .getField("body"))).as("clean"))
      .orderBy("doc_id")
  }

  /** HTTP-framed WARC round trip (the real Common Crawl payload
    * layout): every record's payload is a full HTTP/1.1 message, and
    * the splitter must strip status line + headers, surface the status
    * code and lowercased Content-Type, and hand back the entity
    * byte-for-byte — the identity oracle fails if one header byte
    * leaks into the body. See [[graft.functions.HttpPayloadExpr]]. */
  private def t59_http_payload(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(lit("http://example.com/doc/"), col("doc_id")))
    docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("text")))).as("rs"))
      .select(col("file_id"), graft.functions.WarcBuildExpr(
        transform(col("rs"), r => struct(
          r.getField("url").as("url"),
          r.getField("text").cast("binary").as("body"))),
        col("file_id") % 2 === 0, lit(true)).as("warc"))
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(
        regexp_extract(col("rec.url"), "([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        graft.functions.HttpPayloadExpr(col("rec.body")).as("h"))
      .select(col("doc_id"), col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        col("h.body").cast("string").as("text_http"))
      .orderBy("doc_id")
  }

  /** Chunked transfer-encoding decode (RFC 9112 §7.1): each document
    * becomes a chunk-framed HTTP message built by CONCATENATION in the
    * query itself — first chunk 16 bytes (with a chunk extension the
    * decoder must ignore), remainder as a second chunk, a trailer
    * field after the 0-terminator that must drop — and the splitter
    * must reassemble the exact text. Mixed-case Content-Type pins the
    * lowercasing. Fixture text is pure ASCII (TESTDATA), so byte
    * lengths equal char lengths and `hex()` chunk sizes agree across
    * engines. See [[graft.functions.HttpPayloadExpr]]. */
  private def t59b_http_chunked(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val head = substring(col("text"), 1, 16)
    val rest = substring(col("text"), 17, 1 << 24)
    val msg = concat(
      lit("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n" +
        "Content-Type: Text/Plain; Charset=UTF-8\r\n\r\n"),
      hex(length(head)), lit(";ext=\"q\"\r\n"), head, lit("\r\n"),
      when(length(rest) > 0,
        concat(hex(length(rest)), lit("\r\n"), rest, lit("\r\n")))
        .otherwise(lit("")),
      lit("0\r\nX-Trailer: dropped\r\n\r\n"))
    docs.select(col("doc_id"),
        graft.functions.HttpPayloadExpr(msg.cast("binary")).as("h"))
      .select(col("doc_id"), col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        col("h.body").cast("string").as("text_chunked"))
      .orderBy("doc_id")
  }

  /** robots.txt policy over the URL table: nine hosts carry three
    * policy shapes — a `*`-only full block (host 4), an exact-agent
    * allow-all via the empty-Disallow idiom shadowing a `*` full block
    * (host 7), and the general shape (foreign agent blocked, exact
    * agent case-insensitively matched with a Disallow/longer-Allow
    * pair, `*` fallback that must be IGNORED because an exact group
    * exists). The oracle hardcodes the intended verdicts, so parser,
    * group selection, precedence (longest prefix, allow wins ties) and
    * the default-allow path are all on the line.
    * See [[graft.operators.Robots]]. */
  private def t54_robots(s: SparkSession, dir: String): DataFrame = {
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string"),
        lit("?id="), col("doc_id").cast("string")))
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      when(col("id") === 4,
        "User-agent: *\r\nDisallow: / # block everything")
      .when(col("id") === 7,
        "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /")
      .otherwise("User-agent: other\nDisallow: /\n" +
        "User-agent: GraftBot\nDisallow: /Doc/1\nAllow: /Doc/12\n" +
        "User-agent: *\nDisallow: /blocked").as("robots_txt"))
    graft.operators.Robots.check(urls, "url", hosts, "host", "robots_txt",
        agent = "graftbot")
      .select("doc_id", "url", "robots_allowed")
      .orderBy("doc_id")
  }

  /** RFC 9309 wildcard rules + robots-side host normalization: one
    * robots body keyed `WILD.com:80` (must bind `http://wild.com/...`
    * after lowercase+port-strip) carries three wildcard patterns — a
    * star-7-dollar Disallow under /Doc (trailing anchor), the LONGER
    * star-77-dollar Allow that must win precedence over it, and a
    * double-star Disallow on the id=9 query prefix. The oracle replays
    * each pattern as decimal-digit arithmetic on doc_id, so the glob
    * matcher, the `$` anchor, and pattern-length precedence are all
    * hash-pinned. See [[graft.functions.RobotsMatchExpr]]. */
  private def t54b_robots_wildcard(s: SparkSession, dir: String): DataFrame = {
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(lit("http://wild0.com/Doc/"),
        col("doc_id").cast("string"),
        lit("?id="), col("doc_id").cast("string")))
    // host derived from the range id, NOT a pure literal: a foldable
    // host key would constant-fold the equi-join away and the planner
    // would fall back to a nested-loop join — the fixture must keep
    // the operator's real join shape on the line
    val hosts = s.range(1).select(
      concat(lit("WILD"), col("id").cast("string"), lit(".com:80"))
        .as("host"),
      lit("User-agent: graftbot\nDisallow: /Doc/*7$\n" +
        "Allow: /Doc/*77$\nDisallow: /*id=9*").as("robots_txt"))
    graft.operators.Robots.check(urls, "url", hosts, "host", "robots_txt",
        agent = "graftbot")
      .select("doc_id", "robots_allowed")
      .orderBy("doc_id")
  }

  /** Charset auto-detection over a mixed-encoding corpus: even doc_ids
    * arrive as UTF-8 bytes (every tenth with a BOM that must strip),
    * odd ones as Latin-1 bytes carrying accented characters (0xE9 etc.
    * — invalid as UTF-8, so the strict validator must reject and the
    * Latin-1 fallback must map them 1:1). A permissive decode would
    * mojibake the odd rows to U+FFFD and diverge.
    * See [[graft.functions.DecodeTextExpr]]. */
  private def t55_charset(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val utf8 = encode(col("text"), "UTF-8")
    val bom = lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val latin = encode(concat(col("text"), lit(" café süß")), "ISO-8859-1")
    val bytes = when(col("doc_id") % 10 === 0, concat(bom, utf8))
      .when(col("doc_id") % 2 === 1, latin)
      .otherwise(utf8)
    docs.select(col("doc_id"),
        graft.functions.DecodeTextExpr(bytes).as("text_decoded"))
      .orderBy("doc_id")
  }

  /** Sitemap URL discovery: five sitemap XML bodies built by
    * concatenation (URLs carry the protocol-mandated `&amp;` escaping
    * and whitespace padding inside `<loc>`, plus `<lastmod>` noise
    * elements), extracted back to one row per URL. Entity decoding and
    * trimming must agree with the oracle's plain reconstruction.
    * See [[graft.functions.TextFunctions.sitemapUrls]]. */
  private def t56_sitemap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val sitemaps = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc> http://s"), col("site").cast("string"),
          lit(".com/p?a=1&amp;id="), i.cast("string"),
          lit(" </loc><lastmod>2026-01-01</lastmod></url>"))), ""),
        lit("</urlset>")).as("xml"))
    sitemaps
      .select(explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("url"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url")
      .orderBy("doc_id")
  }

  /** Sitemap `<lastmod>` extraction
    * ([[graft.functions.TextFunctions.sitemapEntries]]): per-url change
    * stamps (absent on every 3rd entry → null, the feed-timestamp
    * stance), padded values trimmed, a loc-less ghost block per sitemap
    * dropped. With lastmods a sitemap schedules like a feed — fetch
    * what changed — instead of like a URL list. */
  private def t56c_sitemap_lastmod(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val sitemaps = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(concat(
        lit("<?xml version=\"1.0\"?><urlset>" +
          "<url><lastmod>ghost</lastmod></url>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc> http://s"), col("site").cast("string"),
          lit(".com/p?a=1&amp;id="), i.cast("string"), lit(" </loc>"),
          when(i % 3 =!= 0,
            concat(lit("<lastmod> lm-"), i.cast("string"),
              lit(" </lastmod>"))).otherwise(lit("")),
          lit("</url>"))), ""),
        lit("</urlset>")).as("xml"))
    sitemaps
      .select(explode(
        graft.functions.TextFunctions.sitemapEntries(col("xml"))).as("e"))
      .select(col("e.loc").as("url"), col("e.lastmod").as("lastmod"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "lastmod")
      .orderBy("doc_id")
  }

  /** One-pass dictionary tagging over the corpus: six terms including a
    * nested pair ("order" inside "column order" — both must report when
    * the longer occurs) and a never-occurring control. The oracle is the
    * K-`contains` formulation the Aho–Corasick kernel replaces, so the
    * automaton's goto/failure/output links are hash-checked against
    * brute force over every document. The final projection joins the
    * tag list to one scalar string (dictionary order preserved on both
    * sides) — gate outputs must be scalar columns (see the Verify
    * registration guard). See [[graft.functions.DictionaryMatchExpr]]. */
  private def t57_dictionary_tag(s: SparkSession, dir: String): DataFrame = {
    val dict = Seq("scan", "column order", "order", "data", "the",
      "zz never appears")
    t(s, dir, "documents")
      .select(col("doc_id"),
        array_join(
          graft.functions.DictionaryMatchExpr(col("text"), dict), "|")
          .as("tags"))
      .orderBy("doc_id")
  }

  /** HTML metadata extraction: title (mixed-case tag, padded, carrying
    * an `&amp;` the decoder must fold), meta description (REVERSED
    * attribute order on odd docs — both orders must parse), canonical
    * link, and the `<html lang>` claim, all from fixture-built pages.
    * The oracle reconstructs each field in closed form, so every regex
    * and the entity decode are hash-pinned.
    * See [[graft.functions.TextFunctions.htmlTitle]]. */
  /** Meta-robots compliance ([[graft.operators.Frontier.pageDirectives]]
    * / `indexablePages`): five directive variants — plain noindex,
    * index-follow, uppercase NOINDEX+nofollow, `none` (implies both),
    * and no meta at all (the indexable default) — in both attribute
    * orders; the `kept` column is the ACTUAL survivor set of the
    * filtering operator, left-joined back, so the gate pins the filter
    * itself, not just the parse. */
  private def t92_meta_robots(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val content = element_at(array(lit("noindex"), lit("index, follow"),
      lit("NOINDEX, nofollow"), lit("none")),
      (col("doc_id") % 5 + 1).cast("int"))
    val meta = when(col("doc_id") % 5 === 4, lit(""))
      .when(col("doc_id") % 2 === 0,
        concat(lit("<meta name=\"robots\" content=\""), content, lit("\">")))
      .otherwise(
        concat(lit("<meta content='"), content, lit("' name='robots'>")))
    val pages = docs.select(col("doc_id"),
      concat(lit("<html><head>"), meta,
        lit("</head><body>x</body></html>")).as("html"))
    val dirs = graft.operators.Frontier.pageDirectives(pages, "html")
    val kept = graft.operators.Frontier.indexablePages(pages, "html")
      .select(col("doc_id"), lit(true).as("kept"))
    dirs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("noindex"), col("nofollow"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("doc_id")
  }

  /** Per-link nofollow compliance
    * ([[graft.operators.Frontier.outlinks]] with `honorNofollow`,
    * [[graft.functions.TextFunctions.htmlFollowableLinks]]): six link
    * shapes per page — plain, quoted rel, list-valued rel before href,
    * BARE unquoted rel after href, an unrelated rel token that must
    * survive, and 'nofollow' in anchor TEXT that must not trip the tag
    * test. `followed` is the honored harvest joined back onto the full
    * harvest, so both paths are pinned against each other. */
  private def t93_nofollow_links(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"/keep"), id, lit("\">k</a>"),
      lit("<a rel=\"nofollow\" href=\"/nf"), id, lit("\">n</a>"),
      lit("<a rel='ugc nofollow' href='/ugc"), id, lit("'>u</a>"),
      lit("<a href=\"/bare"), id, lit("\" rel=nofollow>b</a>"),
      lit("<a rel=\"noopener\" href=\"/noop"), id, lit("\">o</a>"),
      lit("<a href=\"/text"), id, lit("\">rel nofollow text</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("doc_id"),
      concat(lit("http://s"), (col("doc_id") % 7).cast("string"),
        lit(".com/p"), id).as("url"),
      html.as("html"))
    val all = graft.operators.Frontier.outlinks(pages, "url", "html")
    val hon = graft.operators.Frontier
      .outlinks(pages, "url", "html", honorNofollow = true)
      .select(col("url").as("__u"), col("outlink").as("__o"),
        lit(true).as("followed"))
    all.join(hon, all("url") === col("__u") && all("outlink") === col("__o"),
        "left")
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select(col("doc_id"), col("outlink"),
        coalesce(col("followed"), lit(false)).as("followed"))
      .orderBy("doc_id", "outlink")
  }

  private def t60_html_meta(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // first word, not a fixed-length cut: a cut ending in a space would
    // ride through the entity decoder's whitespace handling
    val d1 = element_at(graft.functions.TextFunctions.words(col("text")), 1)
    val meta = when(col("doc_id") % 2 === 0,
      concat(lit("<meta name=\"description\" content=\"sum: "),
        d1, lit("\">")))
      .otherwise(concat(lit("<meta content=\"sum: "),
        d1, lit("\" name='description'>")))
    val html = concat(
      lit("<!DOCTYPE html><HTML Lang=\"en-US\"><head><TITLE> Doc &amp; "),
      col("doc_id").cast("string"), lit(" </title>"), meta,
      lit("<link rel=\"canonical\" href=\"https://canon.example/p/"),
      col("doc_id").cast("string"), lit("\"></head><body><p>"),
      col("text"), lit("</p></body></html>"))
    docs.select(col("doc_id"),
        graft.functions.TextFunctions.htmlTitle(html).as("title"),
        graft.functions.TextFunctions.htmlMetaContent(html, "description")
          .as("description"),
        graft.functions.TextFunctions.htmlCanonical(html).as("canonical"),
        graft.functions.TextFunctions.htmlLang(html).as("lang"))
      .orderBy("doc_id")
  }

  /** Outlink harvest + RFC 3986 resolution + frontier politeness, the
    * crawl loop's back edge: each fixture page links five ways —
    * absolute, absolute-path, relative with a ../ dot segment,
    * query-only, and a protocol-relative `//host` form (plus a mailto:
    * that must drop) — resolved against the page's own URL, normalized
    * and scheduled per host. The oracle replays every resolution in
    * closed form and the schedule as a window, so the §5.2.2 transform,
    * dot-segment removal, scheme adoption and the politeness window are
    * all one hash. See [[graft.functions.UrlResolveExpr]],
    * [[graft.operators.Frontier]]. */
  private def t61_outlinks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html")
    graft.operators.Frontier.schedule(links, "outlink",
        priorityCol = "outlink", delayMs = 500L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms")
      .orderBy("doc_id", "outlink")
  }

  /** Crawl prioritization end to end: the t61 page fixture's outlinks
    * collapse to a host graph (nine site hosts each linking
    * abs.example, mirror.net and themselves), PageRank's integer-exact
    * iteration ranks the hosts ([[graft.operators.Frontier.hostRank]]
    * — the two link targets soak up authority, the sites keep teleport
    * + self-loop mass), and the fetch budget allocates
    * rank-proportionally by integer division
    * ([[graft.operators.Frontier.rankBudget]]). The oracle replays the
    * closed-form host edges and all five iterations g1-style, keyed on
    * host strings — the hash ids are the operator's internals and must
    * not show in the result. */
  private def t83_crawl_rank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html")
    val hr = graft.operators.Frontier.hostRank(links, "url", "outlink")
    graft.operators.Frontier.rankBudget(hr, "host", "rank_ppb", 10000L)
      .orderBy("host")
  }

  /** Mojibake repair over the corpus
    * ([[graft.functions.MojibakeRepairExpr]]): every doc_id % 3 == 0
    * document gets a planted misencoded suffix (latin-1 mojibake
    * `cafÃ©`, cp1252 curly-quote `â€™` and
    * em-dash `â€”` shapes) that the byte-level repair
    * must collapse to clean UTF-8, while the untouched ASCII corpus
    * must survive bit-identical — the oracle states both facts in
    * closed form, so a repair that ever fires on clean text (or misses
    * a planted shape) hash-diverges. */
  private def t84_mojibake(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = " cafÃ© itâ€™s " +
      "â€” done"
    val dirty = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(planted)))
        .otherwise(col("text")).as("text"))
    dirty.select(col("doc_id"),
        graft.functions.MojibakeRepairExpr(col("text")).as("text_fixed"),
        (graft.functions.MojibakeRepairExpr(col("text")) =!= col("text"))
          .as("repaired"))
      .orderBy("doc_id")
  }

  /** Crawl-wave incrementality: two outlink waves against the PERSISTED
    * seen-URL history — wave 1 (even doc ids) lands entirely, wave 2
    * (ids divisible by 3) keeps only urls never seen (odd multiples of
    * 3); rediscoveries are excluded by the anti-join against the
    * TaggedAppend-committed history. The oracle replays both diffs in
    * closed form. Snapshot/replay semantics (pinned file lists, same-tag
    * crash retry convergence) are pinned by FrontierSpec; the fixture
    * history is REPLAY-CLEAN (deleted at gate start — a previous run's
    * table would mark every wave-1 url already seen).
    * See [[graft.operators.Frontier.seenDiffAndRecord]]. */
  private def t66_seen_urls(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/seen_urls_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(path, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val d = t(s, dir, "documents")
    val url = concat(lit("http://w.com/p"), col("doc_id").cast("string"))
    val wave1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), url.as("url"))
    val wave2 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), url.as("url"))
    val fresh1 = graft.operators.Frontier
      .seenDiffAndRecord(wave1, "url", path, "wave1")
    val fresh2 = graft.operators.Frontier
      .seenDiffAndRecord(wave2, "url", path, "wave2")
    fresh1.withColumn("wave", lit(1))
      .unionByName(fresh2.withColumn("wave", lit(2)))
      .select("wave", "doc_id", "url")
      .orderBy("wave", "doc_id")
  }

  /** The crawl BACK EDGE composed end-to-end (the t53 convention, one
    * hop later in the loop): each page arrives as a framed HTTP/1.1
    * response, the splitter strips the envelope, the main-content
    * classifier reduces the body to its one real paragraph (title/nav/
    * footer chrome drops), the outlink harvester resolves all five
    * reference shapes from the SAME body, and the frontier schedules
    * them under per-host politeness — t59 → t65 → t61 as one hash.
    * `content_words` rides each row so the content extraction and the
    * link schedule are pinned together; the oracle replays every
    * resolution and the window in closed form. Scale shape: HTTP split,
    * content classification and link harvest are map-side kernels; the
    * only shuffles are outlinks' distinct and the per-host window
    * (hosts grow with the corpus — the t61 shape). */
  private def t67_crawl_backedge(s: SparkSession, dir: String): DataFrame = {
    val f1 = "Nineteen steady filler words keep this single body " +
      "paragraph comfortably past the content threshold of the shallow " +
      "block classifier here:"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id, lit("</title></head><body>"),
      lit("<nav><a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a></nav>"),
      lit(s"<p>$f1 "), col("text"), lit("</p>"),
      lit("<footer>fin</footer></body></html>"))
    val msg = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
    // ONE HTTP split per page: content_words is computed alongside the
    // body and CARRIED through the harvest (outlinks' carry columns),
    // instead of a second parse branch + a join back onto the schedule
    // (measured: the join-back shape ran the payload kernel twice)
    val pages = docs.select(col("url"),
      graft.functions.HttpPayloadExpr(msg.cast("binary"))
        .getField("body").cast("string").as("html"))
      .withColumn("content_words",
        size(split(graft.functions.TextFunctions.mainContent(col("html")),
          " ")))
    val links = graft.operators.Frontier.outlinks(pages, "url", "html",
      carry = Seq("content_words"))
    graft.operators.Frontier.schedule(links, "outlink",
        priorityCol = "outlink", delayMs = 500L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms", "content_words")
      .orderBy("doc_id", "outlink")
  }

  /** The COMPLETE frontier decision function composed end-to-end —
    * what a fetch fleet actually consumes each wave: outlink harvest
    * (five reference shapes, t61's fixture) → RFC 9309 robots filter
    * (exact-agent group with a `Disallow: /rooted/` rule SHADOWING a
    * block-everything `*` decoy — a group-selection regression blanks
    * the whole plan, loudly) → seen-history anti-join (mirror links of
    * even docs pre-recorded as wave 0) → per-host crawl budget
    * (cap 100, binds on every host at sf0.01) → politeness schedule
    * under robots-declared per-host delays (hosts without robots fall
    * to the 1000 ms fleet default). Five operators, one closed-form
    * oracle: the link derivations, the two exclusions, the capped
    * per-host rank and the eta arithmetic replay directly. History
    * fixture is REPLAY-CLEAN. See [[graft.operators.Frontier]],
    * [[graft.operators.Robots]],
    * [[graft.functions.RobotsCrawlDelayExpr]]. */
  private def t68_fetch_plan(s: SparkSession, dir: String): DataFrame = {
    val hist = "/tmp/graft_fixtures/fetch_plan_seen_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(hist, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(hist), true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/a/b/page"), col("doc_id").cast("string")))
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body>"),
      lit("<a href=\"https://abs.example/x"), id, lit("\">a</a>"),
      lit("<a href='/rooted/"), id, lit("'>b</a>"),
      lit("<a href=\"../up/"), id, lit("\">c</a>"),
      lit("<a href=\"?q="), id, lit("\">d</a>"),
      lit("<a href=\"//mirror.net/m"), id, lit("\">e</a>"),
      lit("<a href=\"mailto:x@example.com\">f</a>"),
      lit("</body></html>"))
    val pages = docs.select(col("url"), html.as("html"))
    val candidates = graft.operators.Frontier.outlinks(pages, "url", "html")
    // wave 0: the mirror links of even docs are already crawled
    graft.operators.Frontier.seenDiffAndRecord(
      docs.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("http://mirror.net/m"), id).as("u")),
      "u", hist, "wave0")
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      concat(
        lit("User-agent: graftbot\nDisallow: /rooted/\nCrawl-delay: "),
        (col("id") + 1).cast("string"),
        lit("\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 99"))
        .as("robots_txt"))
    val allowed = graft.operators.Robots.filterAllowed(
      candidates, "outlink", hosts, "host", "robots_txt", "graftbot")
    val unseen = graft.operators.Frontier.seenDiff(allowed, "outlink", hist)
    val budgeted = graft.operators.Frontier.capPerHost(
      unseen, "outlink", priorityCol = "outlink", maxPerHost = 100)
    val delays = hosts.select(col("host"),
      graft.functions.RobotsCrawlDelayExpr(col("robots_txt"),
        lit("graftbot")).as("delay_s"))
    val withDelay = budgeted
      .withColumn("host", TextFunctions.urlHost(col("outlink")))
      .join(delays, Seq("host"), "left")
      .withColumn("delay_ms",
        when(col("delay_s").isNull || col("delay_s") < 0, lit(1000L))
          .otherwise((col("delay_s") * 1000).cast("long")))
      .drop("delay_s")
    graft.operators.Frontier.scheduleWithDelays(
        withDelay, "outlink", priorityCol = "outlink",
        delayMsCol = "delay_ms")
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "outlink", "fetch_seq", "eta_ms")
      .orderBy("outlink")
  }

  /** Recrawl/freshness scheduling over a planted fetch history: each
    * document becomes a URL with `1 + doc_id % 4` fetches whose content
    * hash changes every fetch (even ids) or every second fetch (odd
    * ids), so the walk exercises halve, double, both clamps and the
    * mixed path; the oracle replays the multiplicative backoff with a
    * recursive CTE (the t9_pack recipe) and the due-set comparison in
    * integers. See [[graft.operators.Frontier.revisitSchedule]]. */
  private def t72_revisit_schedule(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(
        concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), col("doc_id").cast("string")).as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"))
    graft.operators.Frontier.revisitSchedule(hist, "url", "ts", "h",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** HTTP conditional revalidation composed end-to-end (t72's planted
    * history extended with RFC 9110 validators): each URL's history
    * carries ETags (even ids) and Last-Modified stamps (ids % 3 == 0);
    * an outcome wave then lands — 304 Not Modified for even ids (no
    * body: the history row reuses the prior hash and carries the
    * validators forward, so the next walk DOUBLES the interval without
    * re-ingesting anything), 200 with fresh content for odd ids (hash
    * replaces → HALVE; validators replace, ids % 5 == 0 get a new
    * ETag). The final plan's backoff arithmetic, due set and the
    * validators a conditional request would send are all replayed by
    * the oracle: the outcome fold in closed form (arg-max-ts carry),
    * then t72's recursive-CTE walk over the composed history. See
    * [[graft.operators.Frontier.recordOutcomes]] /
    * [[graft.operators.Frontier.revalidationPlan]]. */
  private def t94_revalidation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(col("doc_id"), url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("et-"), col("doc_id").cast("string"), lit("-"),
            col("i").cast("string"))).as("etag"),
        when(col("doc_id") % 3 === 0,
          col("doc_id") * 1000 + col("i") * 100).as("lm"))
      .drop("doc_id", "i")
    val outcomes = docs.select(
      url.as("url"), lit(10000000L).as("ts"),
      when(col("doc_id") % 2 =!= 0, lit("vnew")).as("h"),
      when(col("doc_id") % 2 =!= 0 && col("doc_id") % 5 === 0,
        concat(lit("et-new-"), col("doc_id").cast("string"))).as("etag"),
      lit(null).cast("long").as("lm"),
      when(col("doc_id") % 2 === 0, lit(304)).otherwise(lit(200))
        .as("status"))
    val appended = graft.operators.Frontier.recordOutcomes(
      hist, outcomes, "url", "ts", "h", "etag", "lm", "status")
    graft.operators.Frontier.revalidationPlan(
        hist.unionByName(appended), "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** t94's composed plan under RETENTION
    * ([[graft.operators.Frontier.revalidationPlan]] `maxEvents = 3`):
    * per-URL state is bounded permanently — only each URL's last three
    * history rows enter the walk, so `n_fetches` caps at 3 and the
    * interval replays from the suffix. The oracle renumbers each URL's
    * suffix and replays the same recursive walk over it — a retention
    * window that kept the wrong rows (or renumbered off by one) breaks
    * every multi-fetch URL's hash. */
  private def t94b_revalidation_retained(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(col("doc_id"), url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("et-"), col("doc_id").cast("string"), lit("-"),
            col("i").cast("string"))).as("etag"),
        when(col("doc_id") % 3 === 0,
          col("doc_id") * 1000 + col("i") * 100).as("lm"))
      .drop("doc_id", "i")
    graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L,
        maxEvents = 3)
      .orderBy("url")
  }

  /** RSS/Atom feed change discovery feeding the frontier (the t56
    * sitemap seam's third leg): per site, even sites publish an Atom
    * feed (entries with `<link rel="alternate" href>` + padded
    * `<updated>`), odd sites RSS 2.0 (mixed-case `<Item>` with
    * text-content `<link>` + `<pubDate>`); both carry feed-level decoy
    * links/timestamps OUTSIDE the entry blocks and mandatory `&amp;`
    * escaping in URLs. Entries already in the crawl history (ids
    * % 3 == 0, recorded as wave 0) anti-join away — extraction AND
    * dedup replayed by the oracle in closed form. See
    * [[graft.operators.Frontier.feedEntries]]. */
  private def t95_feed_discovery(s: SparkSession, dir: String): DataFrame = {
    val hist = "/tmp/graft_fixtures/feed_seen_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    graft.core.Discovery.fileSystemFor(hist, s.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(hist), true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val atomXml = concat(
      lit("<?xml version=\"1.0\"?>" +
        "<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>f&amp;d</title>" +
        "<link rel=\"self\" href=\"http://decoy.example/feed\"/>" +
        "<updated>1999-01-01T00:00:00Z</updated>"),
      array_join(transform(col("ids"), i => concat(
        lit("<entry><title>e&amp;t</title>" +
          "<link rel=\"alternate\" href=\"http://f"),
        col("site").cast("string"), lit(".com/a?x=1&amp;id="),
        i.cast("string"),
        lit("\"/><updated> ts-"), i.cast("string"),
        lit(" </updated></entry>"))), ""),
      lit("</feed>"))
    val rssXml = concat(
      lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
        "<title>c</title><link>http://decoy.example/</link>" +
        "<pubDate>Mon, 01 Jan 1999 00:00:00 GMT</pubDate>"),
      array_join(transform(col("ids"), i => concat(
        lit("<Item><title>i</title><link> http://f"),
        col("site").cast("string"), lit(".com/a?x=1&amp;id="),
        i.cast("string"),
        lit(" </link><pubDate>pd-"), i.cast("string"),
        lit("</pubDate></Item>"))), ""),
      lit("</channel></rss>"))
    val feeds = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(
        concat(lit("http://f"), col("site").cast("string"),
          lit(".com/feed.xml")).as("feed_url"),
        when(col("site") % 2 === 0, atomXml).otherwise(rssXml).as("xml"))
    val entries = graft.operators.Frontier.feedEntries(feeds, "feed_url", "xml")
    graft.operators.Frontier.seenDiffAndRecord(
      docs.filter(col("doc_id") % 3 === 0)
        .select(concat(lit("http://f"), (col("doc_id") % 5).cast("string"),
          lit(".com/a?x=1&id="), col("doc_id").cast("string")).as("u")),
      "u", hist, "wave0")
    graft.operators.Frontier.seenDiff(entries, "entry_url", hist)
      .withColumn("doc_id",
        regexp_extract(col("entry_url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "feed_url", "entry_url", "entry_ts")
      .orderBy("doc_id")
  }

  /** RFC 9111 Cache-Control folded into the revisit plan
    * ([[graft.operators.Frontier.freshnessFloor]]): per url-class, a
    * no-store header (kills the conditional flag and floors at
    * max-age=600), a quoted numeric max-age, an uppercase
    * IMMUTABLE+MAX-AGE pair (case-insensitive parse), or no header at
    * all (plan untouched) — every header prefixed with an `x-max-age`
    * decoy the token-position guard must reject. The oracle replays
    * t72's backoff walk, the directive parse and the floor/flag
    * arithmetic in closed form. */
  private def t97_cache_control(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val plan = graft.operators.Frontier.revalidationPlan(
      hist, "url", "ts", "h", "etag", "lm",
      nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
    val header =
      when(col("doc_id") % 4 === 0,
        lit("x-max-age=9999, no-store, max-age=600"))
      .when(col("doc_id") % 4 === 1,
        concat(lit("public, max-age=\""),
          ((col("doc_id") % 7) * 300).cast("string"), lit("\"")))
      .otherwise(lit("IMMUTABLE, MAX-AGE=900"))
    val headers = docs.filter(col("doc_id") % 4 =!= 3)
      .select(url.as("u"), header.as("cc"))
    graft.operators.Frontier.freshnessFloor(plan, headers, "u", "cc",
        nowSec = 250000L)
      .orderBy("url")
  }

  /** The CONDITIONAL fetch plan — t94's plan driving t68's scheduling
    * seam: the due set of a validator-carrying revisit plan flows
    * through the per-host politeness window with `conditional` /
    * `if_none_match` riding along as schedule carry columns, so the
    * fetch fleet reads, per slot, WHAT to fetch, WHEN, and WHETHER to
    * send If-None-Match. The oracle replays the walk, the due cut and
    * the per-host (priority desc, url asc) sequence in closed form. */
  private def t98_conditional_fetch_plan(
      s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    graft.operators.Frontier.schedule(due, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** Crawl-to-crawl diff ([[graft.operators.Frontier.crawlDiff]]): the
    * new crawl drops every 7th url (removed), rewrites every 5th
    * surviving page's hash (changed), adds a shifted-id wave for every
    * 11th doc (added), and leaves the rest byte-identical (unchanged) —
    * all four statuses replayed in closed form with their hashes. */
  private def t99_crawl_diff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    def url(id: org.apache.spark.sql.Column) =
      concat(lit("http://c.com/p"), id.cast("string"))
    val prev = docs.select(url(col("doc_id")).as("url"),
      concat(lit("v"), (col("doc_id") % 3).cast("string")).as("h"))
    val cur = docs.filter(col("doc_id") % 7 =!= 0)
      .select(url(col("doc_id")).as("url"),
        when(col("doc_id") % 5 === 0, lit("w"))
          .otherwise(concat(lit("v"), (col("doc_id") % 3).cast("string")))
          .as("h"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select(url(col("doc_id") + 5000000L).as("url"), lit("n").as("h")))
    graft.operators.Frontier.crawlDiff(prev, cur, "url", "h")
      .orderBy("url")
  }

  /** Incremental re-processing over the t99 diff
    * ([[graft.operators.Frontier.incrementalReprocess]]): the previous
    * crawl's per-doc token counts survive for unchanged pages, ONLY the
    * added+changed pages re-clean, removed pages vanish — and the
    * composed result must equal cleaning the new crawl from scratch,
    * which is exactly what the oracle computes. The 100 TB point: when
    * 3% of a corpus moved, this re-reads 3%. */
  private def t100_incremental_clean(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def url(id: org.apache.spark.sql.Column) =
      concat(lit("http://c.com/p"), id.cast("string"))
    val prev = docs.select(url(col("doc_id")).as("url"), col("text"))
    val cur = docs.filter(col("doc_id") % 7 =!= 0)
      .select(url(col("doc_id")).as("url"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" zz extra tok")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select(url(col("doc_id") + 5000000L).as("url"),
          concat(lit("fresh doc "), col("doc_id").cast("string"))
            .as("text")))
    def clean(df: DataFrame): DataFrame = df.select(col("url"),
      TextFunctions.tokenCountWhitespace(col("text")).as("n_ws"))
    val diff = graft.operators.Frontier.crawlDiff(
      prev.select(col("url"), md5(col("text")).as("h")),
      cur.select(col("url"), md5(col("text")).as("h")), "url", "h")
    graft.operators.Frontier.incrementalReprocess(
        clean(prev), cur, diff, "url")(clean)
      .orderBy("url")
  }

  /** Streaming FEED ingest — t95's discovery leg as a stream (st22's
    * exactly-once recipe one stage earlier in the pipeline): two
    * ordered micro-batches of feed FETCHES flow through
    * [[graft.operators.Frontier.feedEntries]] (a stateless map-side
    * transform, so it rides the stream) into
    * [[graft.streaming.Streams.seenIngest]] — wave 1 publishes half of
    * every site's entries (evens), wave 2 the full feeds (every wave-1
    * entry is a REDISCOVERY — exactly what a feed poll looks like).
    * Post-stream, the history must hold every entry URL exactly once. */
  private def st25_stream_feeds(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/feed_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    def feedsOf(docs: DataFrame): DataFrame = docs
      .groupBy((col("doc_id") % 5).as("site"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(
        concat(lit("http://f"), col("site").cast("string"),
          lit(".com/feed.xml")).as("feed_url"),
        concat(lit("<feed>"),
          array_join(transform(col("ids"), i => concat(
            lit("<entry><link href=\"http://f"), col("site").cast("string"),
            lit(".com/a?id="), i.cast("string"),
            lit("\"/><updated>u</updated></entry>"))), ""),
          lit("</feed>")).as("xml"))
    val w1 = feedsOf(d.filter(col("doc_id") % 2 === 0))
    val w2 = feedsOf(d)
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val entries = graft.operators.Frontier.feedEntries(
      stream, "feed_url", "xml")
    val q = graft.streaming.Streams.seenIngest(entries, "entry_url", hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.seenUrls(s, hist)
      .groupBy("url").agg(count(lit(1)).as("n_copies"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "id=([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "n_copies")
      .orderBy("doc_id")
  }

  /** Host-level TrustRank ([[graft.operators.Frontier.hostTrustRank]]):
    * url-grain links collapse to a 6-host cycle, trust seeds at h0 and
    * decays one hop per iteration — the data-scale work is the url→host
    * collapse (t83's measured story), the iteration runs on the tiny
    * host graph. The oracle enumerates the cycle and replays all five
    * seed-restricted iterations. */
  private def t102_crawl_trust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val links = docs.select(
      concat(lit("http://h"), (col("doc_id") % 6).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      concat(lit("http://h"), ((col("doc_id") + 1) % 6).cast("string"),
        lit(".com/x"), col("doc_id").cast("string")).as("outlink"))
    graft.operators.Frontier.hostTrustRank(links, "url", "outlink",
        Seq("h0.com").toDF("host"), "host", iterations = 5)
      .orderBy("host")
  }

  /** Politeness compliance audit
    * ([[graft.operators.Frontier.delayViolations]]): nine hosts fetch
    * at per-host constant cadence 500+h·100 ms against a declared
    * 800 ms crawl-delay — hosts 0–2 violate on every consecutive pair,
    * hosts 3–8 comply; the oracle replays counts, violation counts,
    * the minimum gap and the declared delay per host in closed form. */
  private def t103_politeness_audit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val h = col("doc_id") % 9
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(h)
        .orderBy(col("doc_id")))
    val log = docs.select(
      concat(lit("http://site"), h.cast("string"), lit(".com/p"),
        col("doc_id").cast("string")).as("url"),
      (rn.cast("long") * (lit(500L) + h * 100L)).as("ts_ms"))
    val delays = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      lit(800L).as("delay_ms"))
    graft.operators.Frontier.delayViolations(log, "url", "ts_ms",
        delays, "host", "delay_ms")
      .orderBy("host")
  }

  /** Per-host fetch health ([[graft.operators.Frontier.hostHealth]]):
    * ten hosts, four failing half their fetches through the four error
    * classes (timeout-0, 429, 500, 503) and one failing half with 404 —
    * the crawler's error, NOT the host's, so it must NOT demote; the
    * oracle replays the classification, the exact ppm division and the
    * demotion rule. */
  private def t104_host_health(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val status = when(col("doc_id") % 20 === 0, 0)
      .when(col("doc_id") % 20 === 1, 429)
      .when(col("doc_id") % 20 === 2, 500)
      .when(col("doc_id") % 20 === 3, 503)
      .when(col("doc_id") % 20 === 4, 404)
      .otherwise(200)
    val log = docs.select(
      concat(lit("http://site"), (col("doc_id") % 10).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      status.as("status"))
    graft.operators.Frontier.hostHealth(log, "url", "status")
      .orderBy("host")
  }

  /** Retry-After embargo ([[graft.operators.Frontier.retryAfterEmbargo]]),
    * BOTH RFC 9110 §10.2.3 forms in one log: every third fetch is a 429
    * with a whitespace-padded delta-seconds Retry-After (ts-relative);
    * even 503s carry an absolute IMF-fixdate
    * ([[graft.functions.TextFunctions.retryAfterDateEpoch]]); odd 503s
    * are malformed (null → generic backoff, no embargo row); 200s
    * carrying a stray header must NOT embargo. Per host the LATEST
    * not-before wins; the oracle replays both parses and the max. */
  private def t105_retry_after(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val status = when(col("doc_id") % 3 === 0, 429)
      .when(col("doc_id") % 3 === 1, 200).otherwise(503)
    val header = when(col("doc_id") % 3 === 0,
        concat(lit(" "), ((col("doc_id") % 5) * 30).cast("string"), lit(" ")))
      .when(col("doc_id") % 3 === 1, lit("60"))
      // the 503s carry RFC 9110's OTHER Retry-After form: an absolute
      // IMF-fixdate on the even ones (epoch 7200), garbage on the odd
      // ones (malformed date -> null -> generic backoff, never a row)
      .when(col("doc_id") % 2 === 0, lit("Thu, 01 Jan 1970 02:00:00 GMT"))
      .otherwise(lit("tomorrow"))
    val log = docs.select(
      concat(lit("http://site"), (col("doc_id") % 8).cast("string"),
        lit(".com/p"), col("doc_id").cast("string")).as("url"),
      (col("doc_id") * 10).as("ts"), status.as("status"),
      header.as("retry_after"))
    graft.operators.Frontier.retryAfterEmbargo(log, "url", "ts",
        "status", "retry_after", nowSec = 4900L)
      .orderBy("host")
  }

  /** The crawl CONTROL LOOP as one query — every round-18 signal
    * composed: t94's revisit due cut, minus hosts t104's health demotes
    * (hosts 0–1 fail every fetch), minus hosts t105's Retry-After
    * embargoes (host 2 is rate-limited until well past now), through
    * t68's per-host politeness window with validator carry. The oracle
    * replays the walk, the three host-class cuts and the sequence in
    * closed form. */
  private def t106_crawl_control(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    val healthLog = docs.select(url.as("url"),
      when(col("doc_id") % 20 < 2, 500).otherwise(200).as("status"))
    val demoted = graft.operators.Frontier.hostHealth(healthLog,
        "url", "status")
      .filter(col("demoted")).select(col("host").as("__h"))
    val raLog = docs.filter(col("doc_id") % 20 === 2)
      .select(url.as("url"), lit(0L).as("ts"), lit(429).as("status"),
        lit("900000").as("ra"))
    val embargoed = graft.operators.Frontier.retryAfterEmbargo(raLog,
        "url", "ts", "status", "ra", nowSec = 250000L)
      .filter(col("embargoed")).select(col("host").as("__h"))
    val eligible = due
      .withColumn("__h", TextFunctions.urlHost(col("url")))
      .join(demoted, Seq("__h"), "left_anti")
      .join(embargoed, Seq("__h"), "left_anti")
      .drop("__h")
    graft.operators.Frontier.schedule(eligible, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** HTTP 3xx redirect-chain resolution
    * ([[graft.operators.Frontier.resolveRedirects]]): derived 1–2-hop
    * chains over the documents table (`u<d> → u<d+1>` for d%10 ∈
    * {1,2}, mixed 301/302 so permanence varies) plus planted edges — a
    * 2-cycle, a self-redirect, and a 7-hop chain whose first two
    * sources exceed maxHops=5. The oracle replays the bounded walk as
    * a recursive CTE with list-based loop detection — same hop counts,
    * same permanence conjunction, same terminal flags. */
  private def t107_redirects(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val derived = t(s, dir, "documents").select(col("doc_id"))
      .filter((col("doc_id") % 10).isin(1, 2))
      .select(concat(lit("u"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 4 < 2, 301).otherwise(302).as("status"),
        concat(lit("u"), (col("doc_id") + 1).cast("string"))
          .as("location"))
    val planted = Seq(
      ("loopA", 301, "loopB"), ("loopB", 308, "loopA"),
      ("self", 307, "self"),
      ("c0", 301, "c1"), ("c1", 308, "c2"), ("c2", 301, "c3"),
      ("c3", 308, "c4"), ("c4", 301, "c5"), ("c5", 308, "c6"),
      ("c6", 302, "c7")).toDF("url", "status", "location")
    graft.operators.Frontier.resolveRedirects(
        derived.unionByName(planted), "url", "status", "location",
        maxHops = 5)
      .orderBy("url")
  }

  /** Cross-wave redirect-moves compaction
    * ([[graft.operators.Frontier.compactRedirectMoves]]): moves
    * committed in DIFFERENT waves chain — wave 1 renamed a→b, wave 2
    * renamed b→c — and one [[graft.operators.Frontier.applyRedirectMoves]]
    * pass over the raw table stops one hop short. The fixture plants
    * chains of length 1/2/3 by doc_id%3, a permanent move whose target
    * moved only TEMPORARILY (must NOT chain — ambiguous evidence), and
    * pass-through temporary/loop/exceeded rows. The oracle replays the
    * residue-determined transitive ends and summed hops in closed
    * form; the pointer-doubling walk must land every row exactly. */
  private def t107d_redirect_compaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 3)
    val sid = col("doc_id").cast("string")
    val wave1 = d.select(concat(lit("a"), sid).as("url"),
      concat(lit("b"), sid).as("final_url"), lit(1L).as("hops"),
      lit(true).as("permanent"), lit("resolved").as("outcome"))
    val wave2 = d.filter((col("doc_id") % 3).isin(1, 2))
      .select(concat(lit("b"), sid).as("url"),
        concat(lit("c"), sid).as("final_url"), lit(1L).as("hops"),
        lit(true).as("permanent"), lit("resolved").as("outcome"))
    val wave3 = d.filter(col("doc_id") % 3 === 2)
      .select(concat(lit("c"), sid).as("url"),
        concat(lit("e"), sid).as("final_url"), lit(1L).as("hops"),
        lit(true).as("permanent"), lit("resolved").as("outcome"))
    // a PERMANENT source whose target carries only a TEMPORARY move:
    // a<d> must keep b<d> — identity never migrates on ambiguous
    // evidence
    val tempMoves = d.filter(col("doc_id") % 3 === 0)
      .select(concat(lit("b"), sid).as("url"),
        concat(lit("z"), sid).as("final_url"), lit(1L).as("hops"),
        lit(false).as("permanent"), lit("resolved").as("outcome"))
    val flags = Seq(
      ("loopA", "loopA", 2L, false, "loop"),
      ("deep0", null.asInstanceOf[String], 5L, false, "exceeded"))
      .toDF("url", "final_url", "hops", "permanent", "outcome")
    val moves = wave1.unionByName(wave2).unionByName(wave3)
      .unionByName(tempMoves).unionByName(flags)
      // replay duplicates collapse
      .unionByName(wave2)
    graft.operators.Frontier.compactRedirectMoves(moves)
      .orderBy("url")
  }

  /** Relative-Location redirect chains
    * ([[graft.operators.Frontier.resolveRedirects]]' RFC 3986 leg —
    * RFC 9110 §10.2.2 sends a URI-reference, and real servers emit
    * `../up` and `/abs-path` routinely): each doc's page redirects via
    * a dot-segment relative reference, its RESOLVED spelling is itself
    * a source redirecting via an absolute-path reference — the walk
    * must chain through the resolver's canonical keys. Oracle: the
    * expected RESOLVED spellings in closed form (resolution itself is
    * t51/t61's oracle-pinned kernel). */
  private def t107c_redirect_relative(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 5 === 1)
    val host = concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
      lit(".com"))
    val sid = col("doc_id").cast("string")
    val redirects = d.select(
        concat(host, lit("/dir/p"), sid).as("url"), lit(301).as("status"),
        concat(lit("../q/r"), sid).as("location"))
      .unionByName(d.select(
        concat(host, lit("/q/r"), sid).as("url"), lit(302).as("status"),
        concat(lit("/final/"), sid).as("location")))
    graft.operators.Frontier.resolveRedirects(redirects,
        "url", "status", "location", maxHops = 5)
      .orderBy("url")
  }

  /** Permanent-redirect identity migration composed with the
    * revalidation plan ([[graft.operators.Frontier.applyRedirectMoves]]
    * after [[graft.operators.Frontier.resolveRedirects]]): every doc's
    * URL has one fetch on record; d%10==1 URLs permanently moved (308)
    * to `v<d>`, d%10==2 temporarily (302) to `w<d>`. The migrated
    * history must carry each moved URL's validators under the NEW name
    * — the plan row for `v<d>` shows the old fetch's ETag — while the
    * temporary targets never rename. Oracle: closed-form rename +
    * single-fetch plan. */
  private def t107b_redirect_migration(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    val u = concat(lit("u"), col("doc_id").cast("string"))
    val redirects = d.filter(col("doc_id") % 10 === 1)
      .select(u.as("url"), lit(308).as("status"),
        concat(lit("v"), col("doc_id").cast("string")).as("location"))
      .unionByName(d.filter(col("doc_id") % 10 === 2)
        .select(u.as("url"), lit(302).as("status"),
          concat(lit("w"), col("doc_id").cast("string")).as("location")))
    val resolved = graft.operators.Frontier.resolveRedirects(
      redirects, "url", "status", "location", maxHops = 5)
    val hist = d.select(u.as("url"), (col("doc_id") * 100).as("ts"),
      concat(lit("h"), col("doc_id").cast("string")).as("h"),
      concat(lit("e"), col("doc_id").cast("string")).as("etag"),
      lit(null).cast("long").as("lm"))
    graft.operators.Frontier.revalidationPlan(
        graft.operators.Frontier.applyRedirectMoves(hist, "url", resolved),
        "url", "ts", "h", "etag", "lm",
        nowSec = 25000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** The COMPLETE budgeted crawl wave as one gated query — t106's
    * control loop (due ∩ ¬demoted ∩ ¬embargoed) with the rank budget
    * folded in ([[graft.operators.Frontier.rankBudget]] over a planted
    * host-rank table → [[graft.operators.Frontier.capPerHostBudgeted]]
    * → politeness [[graft.operators.Frontier.schedule]]): the operator
    * a real crawler actually runs each wave. The budget cut and the
    * schedule share the (priority desc, url) ordering, so survivors
    * keep sequence 1..budget — the oracle replays the walk, the three
    * host-class cuts, the integer budget allocation and the sequence
    * in closed form. */
  private def t108_budgeted_wave(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val hist = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 4)).as("i"))
      .select(url.as("url"),
        (col("doc_id") * 1000 + col("i") * 100).as("ts"),
        concat(lit("v"), floor(col("i") /
          (lit(1) + col("doc_id") % 2)).cast("long").cast("string")).as("h"),
        when(col("doc_id") % 2 === 0,
          concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
        lit(null).cast("long").as("lm"))
    val due = graft.operators.Frontier.revalidationPlan(
        hist, "url", "ts", "h", "etag", "lm",
        nowSec = 250000L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .filter(col("due"))
      .select(col("url"), col("conditional"), col("if_none_match"))
    val healthLog = docs.select(url.as("url"),
      when(col("doc_id") % 20 < 2, 500).otherwise(200).as("status"))
    val demoted = graft.operators.Frontier.hostHealth(healthLog,
        "url", "status")
      .filter(col("demoted")).select(col("host").as("__h"))
    val raLog = docs.filter(col("doc_id") % 20 === 2)
      .select(url.as("url"), lit(0L).as("ts"), lit(429).as("status"),
        lit("900000").as("ra"))
    val embargoed = graft.operators.Frontier.retryAfterEmbargo(raLog,
        "url", "ts", "status", "ra", nowSec = 250000L)
      .filter(col("embargoed")).select(col("host").as("__h"))
    val eligible = due
      .withColumn("__h", TextFunctions.urlHost(col("url")))
      .join(demoted, Seq("__h"), "left_anti")
      .join(embargoed, Seq("__h"), "left_anti")
      .drop("__h")
    // planted host ranks (host index + 1) -> integer-proportional
    // budget over 60 fetch slots
    val ranks = docs.select((col("doc_id") % 20).as("hid")).distinct()
      .select(concat(lit("h"), col("hid").cast("string"),
        lit(".example.com")).as("host"), (col("hid") + 1).as("rank"))
    val budgets = graft.operators.Frontier.rankBudget(
      ranks, "host", "rank", totalBudget = 60L)
    val capped = graft.operators.Frontier.capPerHostBudgeted(
      eligible, "url", "url", budgets, "host", "budget")
    graft.operators.Frontier.schedule(capped, "url", priorityCol = "url",
        delayMs = 1000L)
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms", "conditional",
        "if_none_match")
      .orderBy("url")
  }

  /** Streaming redirect ingest
    * ([[graft.streaming.Streams.redirectIngest]]): wave 1 = single-hop
    * permanent moves (`u<d> → v<d>`, 301) for d%10==1; wave 2 =
    * complete 2-hop chains in one batch (`a<d> → b<d> → c<d>`,
    * 301+308) for d%10==3 — the batch-local chain contract. The
    * post-stream [[graft.operators.Frontier.redirectMoves]] read must
    * show both waves' resolutions exactly once. */
  private def st27_stream_redirects(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/redirect_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, moves, cp) = (s"$base/incoming", s"$base/moves", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    val sid = col("doc_id").cast("string")
    val w1 = d.filter(col("doc_id") % 10 === 1)
      .select(concat(lit("u"), sid).as("url"), lit(301).as("status"),
        concat(lit("v"), sid).as("location"))
    val w2 = d.filter(col("doc_id") % 10 === 3)
      .select(concat(lit("a"), sid).as("url"), lit(301).as("status"),
        concat(lit("b"), sid).as("location"))
      .unionByName(d.filter(col("doc_id") % 10 === 3)
        .select(concat(lit("b"), sid).as("url"), lit(308).as("status"),
          concat(lit("c"), sid).as("location")))
      // CROSS-BATCH chain: t<d> redirects onto u<d>, which wave 1
      // already moved permanently to v<d> — the ingest's
      // extendThroughMoves leg must write the direct t→v row (hops 2,
      // permanent end-to-end), not the stale t→u
      .unionByName(d.filter(col("doc_id") % 10 === 1)
        .select(concat(lit("t"), sid).as("url"), lit(308).as("status"),
          concat(lit("u"), sid).as("location")))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.redirectIngest(stream, moves, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.redirectMoves(s, moves).orderBy("url")
  }

  /** Streaming fetch-outcome ingest
    * ([[graft.streaming.Streams.outcomeIngest]]): wave 1 = the
    * bootstrap 200s (hash v0, ETags on evens), wave 2 = the revisit —
    * 304 Not Modified for evens (the fold must reuse v0 and carry the
    * ETag forward into the appended row), 200 with fresh content for
    * odds. The post-stream [[graft.operators.Frontier.fetchHistory]] +
    * [[graft.operators.Frontier.revalidationPlan]] read must show the
    * doubled interval on the 304 side and the halved one on the 200
    * side — the whole conditional-recrawl loop, exactly-once. */
  private def st26_stream_outcomes(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/outcome_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents").select(col("doc_id"))
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example.com/p"), col("doc_id").cast("string"))
    val w1 = d.select(url.as("url"),
      (col("doc_id") * 1000).as("ts"), lit("v0").as("h"),
      when(col("doc_id") % 2 === 0,
        concat(lit("e"), col("doc_id").cast("string"))).as("etag"),
      lit(null).cast("long").as("lm"), lit(200).as("status"))
    val w2 = d.select(url.as("url"),
      lit(10000000L).as("ts"),
      when(col("doc_id") % 2 =!= 0, lit("v1")).as("h"),
      lit(null).cast("string").as("etag"),
      lit(null).cast("long").as("lm"),
      when(col("doc_id") % 2 === 0, lit(304)).otherwise(lit(200))
        .as("status"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.outcomeIngest(stream, hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.revalidationPlan(
        graft.operators.Frontier.fetchHistory(s, hist),
        "url", "ts", "h", "etag", "lm",
        nowSec = 10000500L, baseSec = 400L, minSec = 100L, maxSec = 1600L)
      .orderBy("url")
  }

  /** Anchor-text harvest ([[graft.operators.Frontier.anchorTexts]]):
    * four link shapes per page — nested inline markup + collapsing
    * whitespace in the label, an entity in the label over a relative
    * href (absolutized), an image link with an EMPTY label (dropped —
    * no supervision signal), and a hrefless named anchor (resolves to
    * the page itself, dropped as a self-link). The oracle reconstructs
    * the two surviving (outlink, anchor) pairs per page in closed
    * form. */
  private def t96_anchor_text(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val url = concat(lit("http://site"), (col("doc_id") % 9).cast("string"),
      lit(".com/a/b/page"), id)
    val html = concat(
      lit("<html><body><a href=\"https://abs.example/x"), id,
      lit("\">Read <b>more</b>  here</a><a href='/rooted/"), id,
      lit("'>R&amp;D news</a><a href=\"/empty"), id,
      lit("\"><img src=\"x.png\"/></a>" +
        "<a name=\"anchor\">no href</a></body></html>"))
    graft.operators.Frontier.anchorTexts(
        docs.select(url.as("url"), html.as("html")), "url", "html")
      .withColumn("doc_id",
        regexp_extract(col("url"), "page([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "outlink", "anchor")
      .orderBy("doc_id", "outlink")
  }

  /** Streaming seen-URL ingest — the multi-wave crawl history as a
    * stream (st9's exactly-once recipe applied to URLs): two ordered
    * micro-batches (evens, then thirds) flow through
    * [[graft.streaming.Streams.seenIngest]]; the post-stream history
    * must hold every discovered url EXACTLY once — wave 2's
    * rediscoveries excluded by the anti-join, crash replays converged
    * by the tagged append + commit marker. The oracle states the
    * distinct-union-with-count-1 contract in closed form. */
  private def st22_stream_seen(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/seen_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, hist, cp) = (s"$base/incoming", s"$base/history", s"$base/cp")
    val d = t(s, dir, "documents")
    val url = concat(lit("http://w.com/p"), col("doc_id").cast("string"))
    val w1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), url.as("url"))
    val w2 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), url.as("url"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    w1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    w2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(w1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.seenIngest(stream, "url", hist, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.Frontier.seenUrls(s, hist)
      .groupBy("url").agg(count(lit(1)).as("n_copies"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "p([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "n_copies")
      .orderBy("doc_id")
  }

  /** Unicode NFC canonicalization, cross-validated between the JDK
    * (UAX #15 via java.text.Normalizer) and DuckDB's ICU
    * `nfc_normalize`: the fixture decomposes every `e` into
    * `e` + U+0301 and every `o` into `o` + U+0308, both engines
    * recompose independently, and the equality-with-original boolean
    * rides along so the gate also proves the decomposition CHANGED the
    * bytes (a no-op normalize could not go green by accident).
    * See [[graft.functions.NfcNormalizeExpr]]. */
  private def t62_nfc_normalize(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // replacement strings are DECOMPOSED sequences: 'e'+U+0301 and
    // 'o'+U+0308 (combining marks) — a precomposed literal would test
    // nothing
    val decomposed = regexp_replace(
      regexp_replace(col("text"), "e", "é"), "o", "ö")
    docs.select(col("doc_id"),
        graft.functions.NfcNormalizeExpr(decomposed).as("text_nfc"),
        (graft.functions.NfcNormalizeExpr(decomposed) === decomposed)
          .as("unchanged"))
      .orderBy("doc_id")
  }

  /** robots.txt sitemap discovery (RFC 9309 §2.3): `Sitemap:` lines
    * bind host-wide, independent of agent groups — planted robots
    * bodies carry them between groups, mixed-case, with a comment line
    * that must not match. One row per discovered sitemap URL.
    * See [[graft.functions.TextFunctions.robotsSitemaps]]. */
  private def t54c_robots_sitemaps(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val txt = concat(
      lit("User-agent: *\nDisallow: /private\n"),
      lit("SITEMAP: http://s"), (col("doc_id") % 9).cast("string"),
      lit(".com/map"), col("doc_id").cast("string"), lit(".xml\n"),
      lit("# sitemap: http://comment.invalid/nope\n"),
      lit("sitemap:\thttp://s"), (col("doc_id") % 9).cast("string"),
      lit(".com/map"), col("doc_id").cast("string"), lit("b.xml # trail\n"))
    docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.robotsSitemaps(txt))
          .as("sitemap_url"))
      .orderBy("doc_id", "sitemap_url")
  }

  /** TWO-LEVEL sitemap discovery (sitemapindex → sitemaps → URLs — the
    * layout every site over 50k URLs must publish): per site, a
    * sitemapindex names two child sitemaps, each child carries half the
    * site's documents (by parity), and both extraction levels run the
    * SAME `<loc>` kernel — `<sitemap><loc>` and `<url><loc>` are one
    * grammar by the protocol's design. The oracle reconstructs the
    * final (doc, child) pairing in closed form, so the level-1 fan-out
    * and the level-2 extraction are one hash.
    * See [[graft.functions.TextFunctions.sitemapUrls]]. */
  private def t56b_sitemap_index(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("site", (col("doc_id") % 5).cast("long"))
    // level 1: one sitemapindex per site naming child maps 0 and 1
    val indexXml = docs.select(col("site")).distinct()
      .select(col("site"), concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc> http://s"), col("site"),
        lit(".com/maps/child0.xml </loc><lastmod>2026-01-01</lastmod></sitemap>"),
        lit("<sitemap><loc>http://s"), col("site"),
        lit(".com/maps/child1.xml</loc></sitemap>"),
        lit("</sitemapindex>")).as("xml"))
    val children = indexXml
      .select(col("site"), explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("child_url"))
      .withColumn("child",
        regexp_extract(col("child_url"), "child([01])\\.xml$", 1).cast("long"))
    // level 2: each child sitemap lists its parity half of the site's docs
    val childXml = docs
      .withColumn("child", col("doc_id") % 2)
      .groupBy("site", "child")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("site"), col("child"), concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(col("ids"), i => concat(
          lit("<url><loc>http://s"), col("site"),
          lit(".com/p/"), i.cast("string"), lit("</loc></url>"))), ""),
        lit("</urlset>")).as("xml"))
    children.join(childXml, Seq("site", "child"))
      .select(col("child_url"), explode(
        graft.functions.TextFunctions.sitemapUrls(col("xml"))).as("url"))
      .withColumn("doc_id",
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "child_url")
      .orderBy("doc_id")
  }

  /** Keep-BEST exact dedup: every 13th document gains two planted
    * copies at shifted ids, each family member carrying a metadata
    * quality score (`doc_id % 7` — identical text means identical
    * text metrics, so the score is deliberately external), and the
    * one-aggregate argmax must keep the max-score member with ties to
    * the smallest id. The oracle replays the family construction and
    * the argmax as a window — the keep-min `d1` convention, upgraded
    * to the curation decision real pipelines make.
    * See [[graft.operators.Dedup.exactKeepBest]]. */
  private def d21_dedup_keep_best(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    def copies(shift: Long) = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + shift).as("doc_id"), col("text"))
    val corpus = docs.unionByName(copies(9910000L))
      .unionByName(copies(9920000L))
      .withColumn("score", (col("doc_id") % 7).cast("long"))
    Dedup.exactKeepBest(corpus, "doc_id", "text", "score")
      .select("doc_id", "score", "n_copies")
      .orderBy("doc_id")
  }

  /** The CURATION stage composed end-to-end (the t53 convention, one
    * stage later in the pipeline): planted exact duplicates ride along,
    * then language-ID gates to `en`, Gopher-style quality thresholds
    * gate on words/stopword ratio, and exact dedup folds the surviving
    * copies back onto their originals — language selection, both
    * quality formulas, the md5 dedup AND the filter→dedup ordering are
    * all one hash, replayed stage by stage in SQL. Every 17th doc's
    * copy that SURVIVES filtering must fold to `n_copies = 2` on the
    * original id. */
  private def t64_curation_pipeline(
      s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 9900000L).as("doc_id"), col("text"))
    val corpus = docs.unionByName(copies)
    val metrics = TextFunctions.qualityMetrics(col("text"),
      TextFunctions.englishStopwords).toMap
    val staged = corpus.select(col("doc_id"), col("text"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      metrics("n_words").as("n_words"),
      metrics("stopword_ratio").as("stopword_ratio"))
    // `filtered` feeds the exact-dedup AND the stats join-back —
    // uncached, the langid + quality-metrics kernels re-ran per
    // consumer (r20 optimization round, guide §5.2)
    val filtered = staged.filter(col("lang_pred") === "en" &&
        col("n_words") >= 20 && col("stopword_ratio") > 0.03)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.CacheRelease.afterFirstAction(
      Dedup.exact(filtered, "doc_id", "text").select("doc_id", "n_copies")
        .join(filtered.select("doc_id", "n_words", "stopword_ratio"),
          "doc_id")
        .select("doc_id", "n_copies", "n_words", "stopword_ratio")
        .orderBy("doc_id"),
      Seq(filtered))
  }

  /** Crawl-delay politeness composed end-to-end: each host's robots
    * declares a delay (exact-agent group shadowing a `*` decoy on most
    * hosts; host 4 exposes a FRACTIONAL `*`-group delay; host 7
    * declares none and must fall to the fleet default), the per-host
    * delay joins onto the URL table, and the frontier schedule turns
    * it into fetch slots — `eta_ms = (fetch_seq − 1) · delay_ms(host)`.
    * The oracle replays delay selection as per-host CASE arithmetic
    * and the schedule as a window, so group selection, the max-delay
    * rule, fractional seconds and the default path are one hash.
    * See [[graft.functions.RobotsCrawlDelayExpr]],
    * [[graft.operators.Frontier.scheduleWithDelays]]. */
  private def t54d_robots_crawldelay(
      s: SparkSession, dir: String): DataFrame = {
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("host", concat(
        lit("site"), (col("doc_id") % 9).cast("string"), lit(".com")))
      .withColumn("url", concat(lit("http://"), col("host"),
        lit("/Doc/"), col("doc_id").cast("string")))
      .withColumn("priority", (col("doc_id") % 7).cast("int"))
    val hosts = s.range(9).select(
      concat(lit("site"), col("id").cast("string"), lit(".com")).as("host"),
      when(col("id") === 4,
        lit("User-agent: *\nCrawl-delay: 7.5\nDisallow: /never"))
      .when(col("id") === 7,
        lit("User-agent: graftbot\nDisallow: /never"))
      .otherwise(concat(
        lit("User-agent: graftbot\nCrawl-delay: "),
        (col("id") + 1).cast("string"),
        lit("\nDisallow: /never\n\nUser-agent: *\nCrawl-delay: 99")))
        .as("robots_txt"))
    val delays = hosts.select(col("host"),
        graft.functions.RobotsCrawlDelayExpr(col("robots_txt"),
          lit("graftbot")).as("delay_s"))
      .withColumn("delay_ms", when(col("delay_s") < 0, lit(1000L))
        .otherwise((col("delay_s") * 1000).cast("long")))
    graft.operators.Frontier.scheduleWithDelays(
        urls.join(delays, "host"), "url", "priority", "delay_ms")
      .select("doc_id", "url", "fetch_seq", "eta_ms")
      .orderBy("doc_id")
  }

  /** Unigram-LM (SentencePiece-style) subword tokenization: the model
    * trains on a bounded, id-ordered sample (deterministic), ships as
    * a codegen reference object, and every document Viterbi-segments
    * per whitespace word. No SQL twin exists for Viterbi-EM, so the
    * gate pins the two claims an oracle CAN check exactly: losslessness
    * (pieces concatenate back to the text with spaces removed — one
    * dropped or doubled byte anywhere diverges) and the by-construction
    * booleans — the corpus's most frequent word must segment as ONE
    * piece (it dominates training by an order of magnitude, so pruning
    * cannot lose it), and every document must use at least one
    * multi-char piece (`compresses`). Viterbi optimality itself is
    * property-tested against brute-force enumeration in UnigramSpec.
    * See [[graft.functions.Unigram]]. */
  private def t63_unigram_tokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = graft.functions.Unigram.trainFromCorpus(
      docs.orderBy("doc_id"), "text", vocabSize = 400, sampleDocs = 256)
    val topWord = docs.orderBy("doc_id").limit(256)
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("w"))
      .groupBy("w").count().orderBy(desc("count"), col("w"))
      .limit(1).head().getString(0)
    val pieces = graft.functions.UnigramEncodeExpr(col("text"), model)
    docs.select(col("doc_id"),
        concat_ws("", pieces).as("text_rt"),
        (size(pieces) < length(regexp_replace(col("text"), " ", "")))
          .as("compresses"),
        (size(graft.functions.UnigramEncodeExpr(lit(topWord), model)) === 1)
          .as("top_word_whole"))
      .orderBy("doc_id")
  }

  /** t63's corpus-exact twin (the r17 verdict's #5 ask): the unigram
    * model trains from the EXACT distributed word histogram
    * ([[graft.functions.Unigram.trainFromCorpusExact]]) and the
    * most-frequent word is the full corpus's, not the sample's — same
    * oracle-checkable claims (lossless round trip, top word stays one
    * piece, every doc compresses), now pinned against the whole-corpus
    * trainer. */
  private def t63b_unigram_exact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = graft.functions.Unigram.trainFromCorpusExact(
      docs, "text", vocabSize = 400, maxVocab = 4096)
    val topWord = graft.functions.Bpe.wordHistogram(docs, "text", 1)
      .head().getString(0)
    val pieces = graft.functions.UnigramEncodeExpr(col("text"), model)
    docs.select(col("doc_id"),
        concat_ws("", pieces).as("text_rt"),
        (size(pieces) < length(regexp_replace(col("text"), " ", "")))
          .as("compresses"),
        (size(graft.functions.UnigramEncodeExpr(lit(topWord), model)) === 1)
          .as("top_word_whole"))
      .orderBy("doc_id")
  }

  /** TABLE-driven dictionary tagging: the lexicon is a DataFrame built
    * from the corpus's own vocabulary (the first word of every 50th
    * document — data the oracle can re-derive independently), collapsed
    * to a bounded driver-side automaton by
    * [[graft.operators.DictionaryTag]]. The oracle rebuilds the same
    * lexicon in SQL and replays per-document containment with
    * lexicographic tag order, so the collect-distinct-sort contract AND
    * the automaton agree across engines. Output joined to a scalar (the
    * gate convention). */
  private def t57b_dictionary_tag_table(
      s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val terms = docs.filter(col("doc_id") % 50 === 0)
      .select(element_at(
        graft.functions.TextFunctions.words(col("text")), 1).as("term"))
    graft.operators.DictionaryTag.tag(docs, "text", terms, "term")
      .select(col("doc_id"), array_join(col("tags"), "|").as("tags"))
      .orderBy("doc_id")
  }

  /** Compressibility quality signal: every document derives two planted
    * variants with ENUMERABLE verdicts — a 300× repetition of its first
    * word (deflate ratio ≪ 0.1 for any word: pure LZ77 runs) and a
    * 640-hex-char chain of its md5s (ratio ≈ 0.5: 4-bit symbols resist
    * deflate) — and the in-query threshold `deflate·10 < len·3`
    * (ratio < 0.3) must sort them perfectly. Deflate itself has no
    * DuckDB twin, so the planted construction IS the oracle (the
    * sketch-gate convention); organic-text behavior and determinism are
    * pinned in CompressSpec. See [[graft.functions.DeflateSizeExpr]]. */
  private def t58_compressibility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("__w", coalesce(
        element_at(graft.functions.TextFunctions.words(col("text")), 1),
        lit("w")))
    val rep = docs.select(col("doc_id"), lit("rep").as("variant"),
      array_join(array_repeat(concat(col("__w"), lit(" x")), 300), " ")
        .as("t"))
    val hex = docs.select(col("doc_id"), lit("hex").as("variant"),
      concat((1 to 20).map(i =>
        md5(concat(col("text"), lit(i.toString)).cast("binary"))): _*).as("t"))
    rep.unionByName(hex)
      .select(col("doc_id"), col("variant"),
        (graft.functions.DeflateSizeExpr(col("t")) * 10 <
          length(col("t")) * 3).as("repetitive"))
      .orderBy("doc_id", "variant")
  }

  /** Multi-scale span dedup: the planted documents embed a SIX-word run
    * of their source between unique pad markers — invisible to any
    * single window of length 12 (and to d20's n=8), but the fine scale
    * (n=5) sees its two sliding windows and the cut intervals merge.
    * Green means the scale union cut the short duplicate the fixed-n
    * operator provably misses, with the whole two-scale ownership and
    * coverage replayed in SQL.
    * See [[graft.operators.Dedup.dropRepeatedSpansMulti]]. */
  private def d20b_span_dedup_multi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("__ws"))
      .filter(col("doc_id") % 13 === 0 && size(col("__ws")) >= 11)
      .select((col("doc_id") + 9800000L).as("doc_id"),
        concat(lit("qq start pad "),
          array_join(slice(col("__ws"), 6, 6), " "),
          lit(" qq end pad")).as("text"))
    graft.operators.Dedup.dropRepeatedSpansMulti(
        docs.unionByName(planted), "doc_id", "text", ns = Seq(5, 12))
      .orderBy("doc_id")
  }

  /** Margin-based bitext mining over a planted parallel corpus: the
    * "source language" is every 10th embedding, the "target language" is
    * ALL embeddings direction-preserved (×2 float scale, an exponent
    * shift) at shifted ids — each source's true translation is its own
    * copy at cosine exactly 1.0, and the ratio margin must rank it first
    * against the neighborhood averages. Candidates are exhaustive at
    * this scale (the exactness choice for the gate; the 100 TB path
    * feeds ANN-join candidates — see the operator scaladoc). The oracle
    * replays cosines, both neighborhood windows, the rounded margin,
    * threshold and best-per-source in SQL.
    * See [[graft.operators.Retrieval.mineBitext]]. */
  private def t49_bitext(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val src = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    val tgt = e.select((col("vec_id") + 1000000L).as("tgt_id"),
      transform(col("embedding"), x => (x * 2).cast("float")).as("tgt_emb"))
    val candidates = src.select("src_id").crossJoin(tgt.select("tgt_id"))
    graft.operators.Retrieval.mineBitext(src, "src_id", "src_emb",
        tgt, "tgt_id", "tgt_emb", candidates, k = 4, marginThreshold = 1.0)
      .orderBy("src_id")
  }

  private val SemDedupAppendCentroidsFixture =
    "/tmp/graft_fixtures/semdedup_append_centroids.parquet"

  /** INCREMENTAL SemDeDup: the index is built from the ORGANIC embeddings
    * only, then a 12-row batch arrives — 10 bit-exact direction copies of
    * vector 0 (ids 9600000+i, power-of-two scaled: each must drop with
    * rep_id 0, the RESIDENT disqualifier), one copy of vector 1 (id
    * 9600010 → rep_id 1), and one one-hot probe (id 9600011, kept or
    * dropped as the replayed truth decides). The oracle recomputes the
    * FULL corpus ∪ batch with the persisted frozen centroids and
    * restricts to batch ids — green means the touched-clusters-only
    * incremental path equals the full re-run exactly.
    * See [[graft.operators.Dedup.semDedupAppend]]. */
  private def d19_semdedup_append(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(e, "vec_id", "embedding", nlist = 8)
    index.centroids.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite")
      .parquet(SemDedupAppendCentroidsFixture)
    // batch ids derive from the corpus MAX (not a fixed literal): the
    // append-only monotone-id contract must hold at EVERY scale factor —
    // the 10x bench replica ids exceed any fixed plant base
    val base = e.agg(max("vec_id")).head().getLong(0) + 1L
    val planted = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + base).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"))
    val copy1 = e.filter(col("vec_id") === 1)
      .select(lit(base + 10L).as("vec_id"),
        transform(col("embedding"), x => (x * 2).cast("float")).as("embedding"))
    val oneHot = e.filter(col("vec_id") === 0)
      .select(lit(base + 11L).as("vec_id"),
        transform(col("embedding"),
          (_, i) => when(i === 0, lit(1.0f)).otherwise(lit(0.0f)))
          .as("embedding"))
    val batch = planted.unionByName(copy1).unionByName(oneHot)
    Dedup.semDedupAppend(index, batch, "vec_id", eps = 0.95,
        maxClusterSize = 1 << 20)
      .select("id", "gr_cluster", "kept", "rep_id")
      .orderBy("id")
  }

  private def a3_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 16)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Soft multi-assignment (SPANN boundary recipe): the same planted
    * corpus and probe as `a3`, but every row is stored in its TWO
    * nearest clusters. Each planted copy now exists twice, and with
    * nprobe=4 a query probes both homes of many of them — a probe path
    * missing the by-id dedup would emit duplicate vec_ids in the top-10
    * and go red; ranks shifting would catch a tie-break divergence
    * between the multi-assign sort and the build argmax. RecallSpec
    * pins the organic-recall LIFT this layout buys. */
  private def a16_ivf_multiassign(s: SparkSession, dir: String): DataFrame = {
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding",
      nlist = 16, assignTop = 2)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Per-cluster NSW graph ANN over the same planted corpus and routing
    * as `a3`: graphs build per `gr_cluster`, the probe centroid-routes
    * then beam-walks each cluster's graph from its entry. The beam here
    * covers the probed clusters entirely, so the walk must be EXACT and
    * the planted cosine-1.0 family is the only possible answer — a
    * disconnected graph, a broken walk, or wrong routing all go red.
    * The approximate (narrow-beam) regime is pinned by GraphAnnSpec.
    * See [[graft.operators.GraphAnn]]. */
  private def a15_graph_ann(s: SparkSession, dir: String): DataFrame = {
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding", nlist = 16)
    val nsw = graft.operators.GraphAnn.nswBuild(index, "vec_id",
      m = 8, efConstruction = 32)
    graft.operators.GraphAnn.nswTopK(nsw, queryVec(s, dir), k = 10,
        nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Incremental NSW growth — a3b's analog for the graph index: the
    * graph index is built and persisted from the ORGANIC corpus only,
    * then a batch of 10 planted query-direction copies (ids 9500000+i,
    * power-of-two scaled → cosine exactly 1.0) plus 10 junk vectors
    * (negated → cosine −1) flows through
    * [[graft.operators.GraphAnn.nswAppend]] — frozen-centroid data
    * append plus in-place insertion into only the touched clusters'
    * graphs (monotone ids, so the insertion replays the full rebuild's
    * state evolution bit-for-bit; GraphAnnSpec asserts the adjacency
    * equality). The probe over the RE-READ index (fresh staleness
    * witness) must surface exactly the appended planted ids at ranks
    * 1..10 — a stale graph, a missed cluster, or a broken witness
    * update all go red. */
  private def a15b_graph_ann_append(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/nsw_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val base = t(s, dir, "embeddings")
    val index = Ann.ivfBuild(base, "vec_id", "embedding", nlist = 16)
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(index, "vec_id",
        m = 8, efConstruction = 32), path)
    val q0 = base.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val planted = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    val junk = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    graft.operators.GraphAnn.nswAppend(s, path, planted.unionByName(junk),
      "vec_id", "embedding", tag = "a15b-batch0")
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, path), queryVec(s, dir),
        k = 10, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Graph-index DELETE (a14's analog through the graph path): the
    * full planted family is built and persisted, the five EVEN planted
    * ids tombstone through [[graft.operators.GraphAnn.nswDelete]] —
    * which rebuilds ONLY the touched clusters' graphs from survivors
    * and refreshes the witness — and the re-read probe at k=5 must
    * surface exactly the five surviving ODD planted ids: a missed
    * delete would rank the smaller even ids first on the id tiebreak,
    * a stale graph would still walk to them, and a stale witness would
    * refuse the read. */
  private def a15d_graph_ann_delete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = "/tmp/graft_fixtures/nswdel_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    // start clean EVERY run: ivfWrite overwrites data/graph/sidecar but
    // not the tombstones dir, and a previous run's tombstones would
    // make the fresh witness read as drifted
    val pth = new org.apache.hadoop.fs.Path(path)
    pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
    // drop the fixture's label column before persisting: ANSI union
    // coercion typed it BIGINT against the planted 'planted' string,
    // which explodes the moment a write materializes the cast
    val index = Ann.ivfBuild(
      annCorpus(s, dir).select("vec_id", "embedding"), "vec_id", "embedding",
      nlist = 16)
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(index, "vec_id",
        m = 8, efConstruction = 32), path)
    graft.operators.GraphAnn.nswDelete(s, path,
      (0 until 5).map(i => 9000000L + 2 * i).toDF("vec_id"))
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, path), queryVec(s, dir),
        k = 5, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Graph ANN composed WITH soft multi-assignment (a16 × a15): the
    * index stores every row in its two nearest clusters, so each copy
    * is a node in its cluster's NSW graph and a probe covering two
    * homes of one id walks to it twice — the by-id dedup must collapse
    * the union before ranking or duplicate vec_ids poison the top-10
    * and the hash goes red. Full beam keeps the walk exact, so the
    * planted cosine-1.0 family is the only possible answer; the
    * organic boundary-recall LIFT this composition buys is pinned in
    * GraphAnnSpec (the RecallSpec convention).
    * See [[graft.operators.GraphAnn.nswBuild]]. */
  private def a15c_graph_ann_multiassign(
      s: SparkSession, dir: String): DataFrame = {
    val index = Ann.ivfBuild(annCorpus(s, dir), "vec_id", "embedding",
      nlist = 16, assignTop = 2)
    val nsw = graft.operators.GraphAnn.nswBuild(index, "vec_id",
      m = 8, efConstruction = 32)
    graft.operators.GraphAnn.nswTopK(nsw, queryVec(s, dir), k = 10,
        nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** FILTERED vector search: two planted cosine-1.0 families — label
    * 777001 ('drop') at ids 9300000+i, label 777002 ('keep') at the
    * LARGER ids 9310000+i — share the query's argmax cluster, so an
    * ivfTopK that ignored (or post-hoc applied) the `label = 777002`
    * predicate would rank the smaller-id 'drop' rows first on the id
    * tiebreak and go red. Green means the predicate reached INSIDE the
    * pruned probe and the k results are all filter-true — the
    * tenancy/stock-filter serving contract. */
  private def a12_ann_filtered(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    def plant(baseId: Long, lbl: Int) = e.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"), col("embedding"))
      .select((col("i") + baseId).as("vec_id"),
        transform(col("embedding"),
          x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
        lit(lbl).as("label"))
    val corpus = e.unionByName(plant(9300000L, 777001))
      .unionByName(plant(9310000L, 777002))
    val index = Ann.ivfBuild(corpus, "vec_id", "embedding", nlist = 16)
    Ann.ivfTopK(index, "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L),
        rowFilter = col("label") === 777002)
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Incremental ANN — the d11 analog for IVF: the index is built from the
    * ORGANIC corpus only and persisted (partitioned by cluster), then a
    * batch carrying 10 planted copies of the query vector (ids 9500000+i,
    * scaled by powers of two so cosine stays bit-exactly tied) plus 10
    * junk vectors (negated → cosine −1) is APPENDED through
    * [[graft.operators.Ann.ivfAppend]] — assignment against the stored
    * centroids, no rebuild. The probe over the re-read index must surface
    * exactly the appended planted ids at ranks 1..10: power-of-two
    * scaling commutes with double rounding, so every planted copy lands
    * in the query direction's argmax cluster (which nprobe ≥ 1 always
    * probes) and ties break by vec_id. */
  private def a3b_ann_ivf_append(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/ivf_idx_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val base = t(s, dir, "embeddings")
    Ann.ivfWrite(Ann.ivfBuild(base, "vec_id", "embedding", nlist = 16), path)
    val q0 = base.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val planted = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    val junk = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    Ann.ivfAppend(s, path, planted.unionByName(junk), "vec_id", "embedding",
      tag = "a3b-batch0")
    Ann.ivfTopK(Ann.ivfRead(s, path), "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Streaming ANN index growth — st8's analog for IVF: the index is
    * built from the organic corpus, then TWO ordered micro-batches
    * (junk first, then planted near-copies of the query) flow through
    * [[graft.streaming.Streams.ivfIngest]] — per-batch assignment to the
    * stored centroids + replay-idempotent tagged append, no rebuild. The
    * post-stream probe must surface exactly the streamed-in planted ids
    * at ranks 1..10, proving the index grew correctly across batches. */
  private def st9_stream_ivf_ingest(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/ivf_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val baseCorpus = t(s, dir, "embeddings")
    Ann.ivfWrite(Ann.ivfBuild(baseCorpus, "vec_id", "embedding", nlist = 16), idx)
    val q0 = baseCorpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.ivfIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    Ann.ivfTopK(Ann.ivfRead(s, idx), "vec_id", "embedding", queryVec(s, dir),
        k = 10, nprobe = 4, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Streaming GRAPH-index growth — st9's analog for the NSW serving
    * index: the graph index is built and persisted from the organic
    * corpus, then TWO ordered micro-batches (junk at ids 9500000+i
    * first, then planted query copies at the LARGER ids 9600000+i —
    * monotone within every cluster by construction) flow through
    * [[graft.streaming.Streams.nswIngest]] — per-batch frozen-centroid
    * append plus in-place touched-cluster graph insertion, commit
    * markers for exactly-once. The post-stream probe over the RE-READ
    * index (fresh witness on both batches) must surface exactly the
    * streamed-in planted ids at ranks 1..10: a batch whose graph
    * insertion was skipped would leave the planted family unreachable
    * and the witness red. */
  private def st19_stream_nsw_ingest(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/nsw_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val baseCorpus = t(s, dir, "embeddings")
    graft.operators.GraphAnn.nswWrite(
      graft.operators.GraphAnn.nswBuild(
        Ann.ivfBuild(baseCorpus, "vec_id", "embedding", nlist = 16),
        "vec_id", m = 8, efConstruction = 32), idx)
    val q0 = baseCorpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9500000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"),
        x => (x * pow(lit(2.0), col("i") - 5)).cast("float")).as("embedding"),
      col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.nswIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    graft.operators.GraphAnn.nswTopK(
        graft.operators.GraphAnn.nswRead(s, idx), queryVec(s, dir),
        k = 10, nprobe = 4, ef = 512, excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  /** Streaming PQ index growth — st9's analog for the quantized serving
    * table: codes are persisted from the organic corpus, then junk and
    * planted batches stream through [[graft.streaming.Streams.pqIngest]]
    * (encode against the STORED codebooks + replay-idempotent tagged
    * append). The planted batch carries VERBATIM copies of the query at
    * NEGATIVE ids: a verbatim copy's code is per-subspace the argmin cell
    * for the query, so its ADC distance is the global minimum over all
    * possible codes, and negative ids win every tie-break against the
    * organic corpus (ids ≥ 0) — the streamed ids at ranks 1..10 are
    * enumerable truth regardless of how the lossy quantizer treats the
    * organic rows. */
  /** Arbitrary stateful streaming (flatMapGroupsWithState): per-user running
    * (count, exact decimal-cents sum, click count) in custom state; Update
    * mode emits the running totals each micro-batch, and the gate keeps each
    * user's FINAL state (largest n — counters are monotone). The oracle is
    * the plain batch aggregate: a correct replay-to-exhaustion of the custom
    * state machine must land on exactly the batch answer. */
  private def st11_stream_stateful(s: SparkSession, dir: String): DataFrame = {
    val running = graft.streaming.Streams.userRunningStats(
      graft.streaming.Streams.eventsStream(s, dir))
    val sunk = graft.streaming.Streams.runToMemory(
      running, s"st11_${math.abs(dir.hashCode)}", outputMode = "update")
    val w = Window.partitionBy("user_id").orderBy(col("n").desc)
    sunk.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n", "sum_value", "n_click")
      .orderBy("user_id")
  }

  private def st10_stream_pq_ingest(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/pq_ingest_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, cp) = (s"$base/incoming", s"$base/index", s"$base/cp")
    val corpus = t(s, dir, "embeddings")
    val model = Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 16)
    Pq.pqWrite(Pq.pqEncode(corpus, "vec_id", "embedding", model), model, idx)
    val q0 = corpus.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(0L), lit(9L))).as("i"),
        col("embedding"), col("label"))
    val b1 = q0.select((col("i") + 9600000L).as("vec_id"),
      transform(col("embedding"), x => (-x).cast("float")).as("embedding"),
      col("label"))
    val b2 = q0.select((col("i") - 10L).as("vec_id"),
      col("embedding"), col("label"))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    (dataFiles -- firstFiles).foreach(p => fs.setTimes(p, 1000000600000L, -1))
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.pqIngest(stream, "vec_id", "embedding",
      idx, cp)
    try q.processAllAvailable() finally q.stop()
    val (stored, codes) = Pq.pqRead(s, idx)
    Pq.pqTopK(codes, "vec_id", queryVec(s, dir), stored, k = 10,
        excludeIds = Seq(0L))
      .select("vec_id", "rank").orderBy("rank")
  }

  private def t1_langid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"),
        col("lang"))
      .orderBy("doc_id")

  private def t1b_langid_ngram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.langIdNgram(col("text")).as("lang_pred"),
        col("lang"))
      .orderBy("doc_id")

  /** DuckDB oracle for t1b, generated from the SAME trained profiles the
    * Spark expression uses (list-comprehension 1..3-grams + list_intersect
    * scoring + the identical lexicographic-tie/und CASE). */
  private def t1bOracleSql: String = {
    val profiles = TextFunctions.defaultNgramProfiles
    val langs = profiles.keys.toSeq.sorted
    def listLit(gs: Seq[String]): String =
      gs.map(g => "'" + g.replace("'", "''") + "'").mkString("[", ", ", "]")
    val grams = (1 to 3).map(n =>
      s"[substr(pd, i, $n) for i in range(1, greatest(length(pd)-${n - 1}, 1)+1)]")
      .mkString(" || ")
    val scoreCols = langs.map(l =>
      s"len(list_intersect(gs, ${listLit(profiles(l))})) AS s_$l").mkString(",\n           ")
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = $g THEN '$l'").mkString(" ")
    s"""WITH p AS (SELECT doc_id, lang,
           ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS pd
           FROM documents),
         gr AS (SELECT doc_id, lang, list_distinct($grams) AS gs FROM p),
         s AS (SELECT doc_id, lang, $scoreCols FROM gr)
         SELECT doc_id,
           CASE WHEN $g = 0 THEN 'und' $cases END AS lang_pred, lang
         FROM s ORDER BY doc_id"""
  }

  private def t2_quality(s: SparkSession, dir: String): DataFrame = {
    val metrics = TextFunctions.qualityMetrics(col("text"), TextFunctions.englishStopwords)
    t(s, dir, "documents")
      .select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  private def t3_tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCountWhitespace(col("text")).as("n_ws"),
      TextFunctions.tokenCountBpe(col("text")).as("n_bpe"))
    .orderBy("doc_id")

  /** Real BPE token counts: merges trained offline-style from a bounded,
    * deterministically-ordered sample of the corpus itself; counting runs
    * distributed (mapPartitions batch). The trained merge table is
    * persisted as a fixture and the DuckDB oracle REPLAYS merge
    * application independently (sequential by rank, each merge iterated
    * to fixpoint over a space-separated symbol string), then recounts —
    * so the distributed count is hash-gated, not just unit-tested.
    * Sequential replay equals the priority encode exactly when no merge's
    * output string is a component of an earlier pair
    * ([[graft.functions.Bpe.sequentialReplaySafe]]) — required here, so a
    * retrained model that ever violated it would fail loudly rather than
    * hash-mismatch. Training itself stays Spark-side (pinned by BpeSpec's
    * hand-computed merges); the oracle verifies application + counting. */
  private def t3b_tokens_bpe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable — the DuckDB " +
        "oracle's rank-order replay would diverge from the priority encode")
    // fixed path (last writer wins): the oracle SQL is a static string, so
    // it reads the fixture of the Verify run it is compared against —
    // always the most recent, single-writer like the rest of
    // /tmp/graft_fixtures
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite")
      .parquet(BpeMergesFixture)
    graft.functions.Bpe.tokenCount(docs, "text", model, "n_bpe_real")
      .select("doc_id", "n_bpe_real").orderBy("doc_id")
  }

  private val BpeMergesFixture = "/tmp/graft_fixtures/bpe_merges.parquet"
  private val TokenizePackFixture = "/tmp/graft_fixtures/t34_bpe_merges.parquet"

  /** END-TO-END pretraining data path as ONE gate: train BPE on the
    * corpus → count real BPE tokens per document → greedy-pack documents
    * into 256-token training bins. The oracle replays BOTH stages —
    * merge application from this gate's own fixture (the h1 lesson:
    * every gate whose oracle reads a fixture writes it itself), then the
    * packing recursion over the replayed counts — so a drift anywhere in
    * tokenizer OR packer breaks the hash. Distributed shape is the two
    * components' own: bounded driver merge table, codegen'd counting,
    * sharded O(1)-state packing. */
  private def t34_tokenize_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(TokenizePackFixture)
    val counts = graft.functions.Bpe.tokenCount(docs, "text", model, "tokens")
      .select(col("doc_id"), col("tokens"))
    graft.operators.Pack.packGreedy(counts, "doc_id", "tokens",
        budget = 256, numShards = 8)
      .orderBy("doc_id")
  }

  /** The corpus-exact BPE training INPUT, gated end-to-end: the top-N
    * whitespace-word histogram as one distributed aggregate
    * ([[graft.functions.Bpe.wordHistogram]]) with a deterministic cap
    * boundary (freq desc, word asc). The oracle recomputes the whole
    * histogram in SQL — every word of every document counts, so a
    * sampled trainer's input could never match this gate. The rank
    * window runs over the DISTINCT-WORD table (vocab-bounded, never
    * corpus-sized). */
  private def t3c_bpe_vocab_exact(s: SparkSession, dir: String): DataFrame =
    graft.functions.Bpe.wordHistogram(t(s, dir, "documents"), "text",
        maxVocab = 512)
      .select(col("word"), col("freq"), col("vocab_rank"))
      .orderBy("vocab_rank")

  private val BpeExactFixture = "/tmp/graft_fixtures/t40b_bpe_merges.parquet"

  /** Corpus-exact BPE training feeding token counting (the r17 verdict's
    * #1 ask): the merges learn from [[t3c_bpe_vocab_exact]]'s exact
    * distributed histogram — NOT a document sample — then count real BPE
    * tokens per document. The merge loop is deterministic given the
    * histogram, and the histogram itself is oracle-verified by t3c, so
    * the two gates together pin training input exactness AND merge
    * application: this gate's oracle replays the learned merges from the
    * fixture over every corpus word (the t3b machinery) and recounts. */
  private def t40b_bpe_exact_counts(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable — the DuckDB " +
        "oracle's rank-order replay would diverge from the priority encode")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(BpeExactFixture)
    graft.functions.Bpe.tokenCount(docs, "text", model, "n_bpe_exact")
      .select("doc_id", "n_bpe_exact").orderBy("doc_id")
  }

  /** The byte-level BPE gates' corpus: the documents table plus two
    * planted multi-byte rows (Latin diacritics, CJK, an emoji — a
    * non-BMP code point — and a doubled-space run) proving the no-OOV
    * contract on text a word-level tokenizer can only lump whole. */
  private def byteBpeDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100000L, "Grüße 知识 🚀🚀 naïve,  doubled  spaces!"),
        (100001L, "¡Olé! Ωmega ß42"))
        .toDF("doc_id", "text"))
  }

  /** Corpus-exact byte-level pre-token histogram
    * ([[graft.functions.ByteBpe.pretokenHistogram]]) — the byte-BPE
    * trainer's INPUT, recomputed by the oracle from scratch with the
    * same RE2-safe pre-tokenizer (leading-space word runs, number runs,
    * punctuation runs, explicit whitespace class). The planted
    * multi-byte rows put diacritics/CJK/emoji pre-tokens in the
    * histogram itself. */
  private def t3d_bytebpe_vocab(s: SparkSession, dir: String): DataFrame =
    graft.functions.ByteBpe.pretokenHistogram(
        byteBpeDocs(s, dir), "text", maxVocab = 512)
      .orderBy("vocab_rank")

  private val ByteBpeMergesFixture =
    "/tmp/graft_fixtures/t40c_bytebpe_merges.parquet"
  private val ByteBpeAlphabetFixture =
    "/tmp/graft_fixtures/t40c_bytebpe_alphabet.parquet"

  /** Byte-level BPE counts over the corpus-exact trainer
    * ([[graft.functions.ByteBpe.trainFromCorpusExact]]): the oracle
    * rebuilds every pre-token's symbol string from this gate's OWN
    * alphabet fixture (hex(encode(w)) joined two chars at a time — no
    * lookahead, no blob surgery), replays the merges fixture in rank
    * order to fixpoint (sequentialReplaySafe required, t3b's lesson),
    * and recounts — so a drift in pre-tokenization, byte mapping, merge
    * application or counting all break the hash. Whitespace runs COUNT
    * (byte-level BPE represents formatting); the planted emoji row
    * proves no-OOV end to end. */
  private def t40c_bytebpe_counts(s: SparkSession, dir: String): DataFrame = {
    val docs = byteBpeDocs(s, dir)
    val model = graft.functions.ByteBpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.model.merges),
      "trained byte-BPE merges are not sequentially replayable — the " +
        "DuckDB oracle's rank-order replay would diverge")
    import s.implicits._
    model.model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeMergesFixture)
    graft.functions.ByteBpe.alphabetTable(s)
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeAlphabetFixture)
    graft.functions.ByteBpe.tokenCount(docs, "text", model, "n_bpe_byte")
      .select("doc_id", "n_bpe_byte").orderBy("doc_id")
  }

  private val ByteBpeEncMergesFixture =
    "/tmp/graft_fixtures/t40d_bytebpe_merges.parquet"
  private val ByteBpeEncAlphabetFixture =
    "/tmp/graft_fixtures/t40d_bytebpe_alphabet.parquet"

  /** Full byte-level BPE ENCODE to id sequences — t40's gate transposed
    * to the byte path (t40c gates the counts, this gates every
    * position): corpus-exact training, per-document ordered symbol
    * sequences, ids by sorted-vocabulary rank. The oracle rebuilds each
    * pre-token's symbol string from this gate's OWN alphabet fixture,
    * replays the merge fixpoint, flattens with pre-token ordinality and
    * ranks the vocabulary — every position of every document must
    * match. The planted multi-byte rows mean some ids ARE multi-byte
    * merges. */
  private def t40d_bytebpe_encode(s: SparkSession, dir: String): DataFrame = {
    val docs = byteBpeDocs(s, dir)
    val model = graft.functions.ByteBpe.trainFromCorpusExact(
      docs, "text", numMerges = 200, maxVocab = 4096)
    require(graft.functions.Bpe.sequentialReplaySafe(model.model.merges),
      "trained byte-BPE merges are not sequentially replayable")
    import s.implicits._
    model.model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeEncMergesFixture)
    graft.functions.ByteBpe.alphabetTable(s)
      .coalesce(1).write.mode("overwrite").parquet(ByteBpeEncAlphabetFixture)
    val toks = graft.functions.ByteBpe.encodeTokens(docs, "text", model)
      .select(col("doc_id"),
        posexplode(col("bpe_tokens")).as(Seq("pos", "tok")))
    val vocab = toks.select("tok").distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("tok")) - 1).cast("long"))
    toks.join(vocab, "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  private val BpeEncodeFixture = "/tmp/graft_fixtures/t40_bpe_merges.parquet"

  /** Full BPE ENCODE to id sequences — the trainer-facing tokenizer
    * output (t3b gates the counts, this gates every position): train,
    * encode each document to its ordered token sequence, assign ids by
    * sorted-vocabulary rank (binary string order — identical in both
    * engines), emit (doc_id, pos, token_id). The oracle replays merge
    * application from this gate's own fixture to the same segmentation
    * (sequentialReplaySafe required), then the flatten, the positions
    * and the vocabulary ranking. The vocab id window is a
    * vocabulary-sized single-partition sort — bounded by distinct
    * tokens, never the corpus. */
  private def t40_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.functions.Bpe.trainFromCorpus(
      docs.orderBy("doc_id"), "text", numMerges = 200, sampleDocs = 256)
    require(graft.functions.Bpe.sequentialReplaySafe(model.merges),
      "trained BPE merges are not sequentially replayable")
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(BpeEncodeFixture)
    val toks = graft.functions.Bpe.encodeTokens(docs, "text", model)
      .select(col("doc_id"), posexplode(col("bpe_tokens")).as(Seq("pos", "tok")))
    val vocab = toks.select("tok").distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("tok")) - 1).cast("long"))
    toks.join(vocab, "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** Data-constrained epoch allocation
    * ([[graft.operators.Mixing.epochWaterfill]]): six sources derived
    * from the documents table (tokens = per-source n_chars sums, caps
    * 1–4 epochs), budget 250 000 — the water level lands at 2.042
    * epochs, so the cap-1 AND cap-2 sources saturate while the cap-3/4
    * sources ride the level. The oracle replays the level walk, the
    * milli-epoch bracket arithmetic and every allocation in SQL. */
  private def t109_epoch_waterfill(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents")
      .groupBy((col("doc_id") % 6).as("src_id"))
      .agg(sum(col("n_chars")).as("tokens"))
      .select(concat(lit("s"), col("src_id").cast("string")).as("source"),
        col("tokens"), (col("src_id") % 4 + 1).as("cap"))
    graft.operators.Mixing.epochWaterfill(src, "source", "tokens", "cap",
        budget = 250000L)
      .orderBy("source")
  }

  /** MATERIALIZED epoch draw — t109's closed-form allocation composed
    * into the document stream a trainer actually reads
    * ([[graft.operators.Mixing.epochWaterfill]] →
    * [[graft.operators.Mixing.resample]] with weight
    * epochs_milli/1000 per source, the t75 composition style): each
    * source's drawn row count and token mass must equal the resample
    * rule applied to its milli-epoch level — `copies(doc) =
    * em DIV 1000 + [doc_id mod 1000 < em mod 1000]` — which the oracle
    * replays alongside the waterfill itself. The bounded collect is
    * the K-row source table (the temperatureWeights contract), never
    * corpus rows; a source whose level rounds to zero copies still
    * reports a row (left join, zero counts). */
  private def t110_epoch_draw(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        concat(lit("s"), (col("doc_id") % 6).cast("string")).as("source"))
    val src = t(s, dir, "documents")
      .groupBy((col("doc_id") % 6).as("src_id"))
      .agg(sum(col("n_chars")).as("tokens"))
      .select(concat(lit("s"), col("src_id").cast("string")).as("source"),
        col("tokens"), (col("src_id") % 4 + 1).as("cap"))
    // `fill` (source-grain, K rows) is consumed by BOTH the weights
    // collect and the final join — uncached, the second consumer re-ran
    // the corpus aggregate + level walk behind it (r20 optimization
    // round, guide §5.2); the collect materializes the cache
    val fill = graft.operators.Mixing.epochWaterfill(src, "source",
        "tokens", "cap", budget = 250000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weights = fill.select("source", "epochs_milli").collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
    val drawn = graft.operators.Mixing.resample(docs, "doc_id", "source",
        weights)
      .groupBy("source")
      .agg(count(lit(1)).as("__n"), sum(col("n_chars")).as("__t"))
    graft.operators.CacheRelease.afterFirstAction(
      fill.join(drawn, Seq("source"), "left")
        .select(col("source"), col("tokens").as("unique_tokens"),
          col("cap_epochs"), col("epochs_milli"), col("alloc_tokens"),
          col("saturated"),
          coalesce(col("__n"), lit(0L)).as("n_draw_rows"),
          coalesce(col("__t"), lit(0L)).as("drawn_tokens")),
      Seq(fill))
      .orderBy("source")
  }

  /** Bigram-LM perplexity over the corpus (trained on itself here; a real
    * pipeline trains on a held-out quality sample). At gate scale the
    * corpus vocabulary sits far under the model caps, so training is
    * untruncated and the whole formula IS SQL-expressible: the oracle
    * re-derives the counts and the add-k smoothing. Scores are quantized
    * at 1e-6 for cross-engine hashing (ln/exp differ in the last ulp
    * between engines; the FP spread is ~1e-13, so a 1e-6 quantum is 7
    * orders of margin) and perplexity is recomputed from the ROUNDED
    * avg_logprob so the exp amplification cannot straddle a boundary. */
  /** Trigram stupid-backoff LM gate: trained on the corpus itself, scored
    * distributed; the oracle retrains from scratch in SQL and replays the
    * full backoff chain (α=0.5 keeps every constant exact — see
    * [[graft.functions.LanguageModel.TrigramLm]]). */
  private def t20_backoff_lm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lm = graft.functions.LanguageModel.trainTrigram(docs, "text")
    graft.functions.LanguageModel.backoffScore(docs, "doc_id", "text", lm)
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logscore"), 6).as("avg_ls"),
        round(exp(-round(col("avg_logscore"), 6)), 6).as("bppl"))
      .orderBy("doc_id")
  }

  private def t11_perplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lm = graft.functions.LanguageModel.train(docs, "text")
    graft.functions.LanguageModel.perplexity(docs, "doc_id", "text", lm)
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logprob"), 6).as("avg_lp"),
        round(exp(-round(col("avg_logprob"), 6)), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Posting-list stats for a fixed query-term set — exact integer oracle. */
  private def t12_termstats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.termStats(t(s, dir, "documents"),
        "doc_id", "text", Seq("agg", "scan", "window"))
      .orderBy("doc_id", "term")

  /** BM25 over the same terms, quantized at 1e-6 for cross-engine hashing:
    * the oracle mirrors the exact IEEE operation order (literal-by-literal,
    * so `1.2 + 1` stays a runtime double add in both engines) and the only
    * cross-engine spread is ln()'s last ulp — ~1e-15 on a ≤3-term sum,
    * nine orders under the quantum. */
  private def t12b_bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25(t(s, dir, "documents"),
        "doc_id", "text", Seq("agg", "scan", "window"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")

  /** The query TABLE for the lexical join gates: constructed as a
    * DataFrame (the operator's contract — no driver literals inside the
    * operator), replayed verbatim as a VALUES list in the oracle. */
  private def bm25JoinQueries(s: SparkSession) = {
    import s.implicits._
    Seq(
      (0L, Seq("agg", "scan", "window")),
      (1L, Seq("join", "key")),
      (2L, Seq("vector", "batch", "stream")),
      (3L, Seq("the", "a")),
      (4L, Seq("merge", "sort", "filter"))
    ).toDF("query_id", "terms")
  }

  /** BM25 over a query TABLE (inverted-index join). Scores rounded to 6
    * decimals for the hash gate (t12b's determinism strategy — a per-doc
    * sum's grouping order can move the last ulp). */
  private def t12c_bm25_join(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25Join(bm25JoinQueries(s),
        t(s, dir, "documents"), "query_id", "terms", "doc_id", "text",
        k = Int.MaxValue)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")

  /** WEIGHTED BM25 join: terms ship as (term, weight) structs and each
    * contribution scales by its weight (Robertson query-tf). Weights are
    * binary-exact literals (.25/.5/1.5/2/3) so DuckDB replays the
    * arithmetic bit-identically before the shared 6-decimal rounding. */
  private def t12d_bm25_weighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Seq(
      (0L, Seq(("agg", 2.0), ("scan", 1.0), ("window", 0.25))),
      (1L, Seq(("join", 1.5), ("key", 0.5))),
      (2L, Seq(("the", 0.25), ("vector", 3.0), ("stream", 1.0)))
    ).toDF("query_id", "terms_raw")
      .select(col("query_id"),
        transform(col("terms_raw"), t => struct(
          t.getField("_1").as("term"),
          t.getField("_2").as("weight"))).as("terms"))
    graft.operators.Retrieval.bm25Join(q, t(s, dir, "documents"),
        "query_id", "terms", "doc_id", "text", k = Int.MaxValue)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")
  }

  /** Hard-negative mining ([[graft.operators.Retrieval.hardNegatives]]):
    * per query, the top-20 BM25 candidates (a FINITE candidateK — the
    * window stays candidate-sized, never corpus-sized) minus planted
    * positive pairs (query q's positives are docs q·100 and q·100+7),
    * re-ranked to the top 5. BOTH cuts use the rounded-rank convention
    * — the oracle replays t12c's full scoring, the candidate top-20 cut
    * by (round(score,6) desc, doc_id), the anti-join, and the same
    * rounded final cut, so candidate membership itself is
    * engine-replayable. */
  private def t101_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val positives = (0L to 4L)
      .flatMap(q => Seq((q, q * 100), (q, q * 100 + 7)))
      .toDF("query_id", "doc_id")
    graft.operators.Retrieval.hardNegatives(bm25JoinQueries(s),
        t(s, dir, "documents"), positives, "query_id", "terms",
        "doc_id", "text", k = 5, candidateK = 20)
      .orderBy("query_id", "neg_rank")
  }

  /** Salted BM25 join on the stopword-heavy query set (query 3 carries
    * 'the'/'a' — the hot-term shape): saltFactor = 4 spreads each term's
    * postings over 4 tasks; the oracle is t12c's UNSALTED replay — salt
    * result-identity up to summation order, absorbed by the shared
    * 6-decimal rounding. */
  private def t12e_bm25_join_salted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25Join(bm25JoinQueries(s),
        t(s, dir, "documents"), "query_id", "terms", "doc_id", "text",
        k = Int.MaxValue, saltFactor = 4)
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy("query_id", "doc_id")

  /** End-to-end hybrid serving with query TABLES only, through the ONE
    * public call a user makes ([[graft.operators.Retrieval.hybridJoin]]):
    * LSH ANN join (cosine list) ⊕ BM25 join (rounded-score list) ⊕
    * grouped reciprocal-rank fusion at topN=20 per list. The query table
    * carries BOTH modalities per row (embedding + terms); the id spaces
    * coincide by construction (vec_id ≡ doc id for fusion purposes).
    * rrf_score sums at most two 1/(rank+60) doubles — commutative, so
    * hash-stable (t13's argument). Oracle replays BOTH lists (planes
    * fixture + BM25 arithmetic) and the fusion. */
  private def h1_hybrid_join(s: SparkSession, dir: String): DataFrame = {
    writeAnnPlanesFixture(s)
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(bm25JoinQueries(s), "query_id")
    graft.operators.Retrieval.hybridJoin(
        q, e.filter(col("vec_id") >= 15), "vec_id",
        t(s, dir, "documents"), "doc_id",
        "query_id", "embedding", "terms", "text",
        dim = 64, topN = 20)
      .orderBy("query_id", "doc_id")
  }

  /** Reciprocal-rank fusion of two exact-integer rankings (term frequency
    * and doc length over the 'agg' posting list) — integer ranks and at
    * most two IEEE additions per doc keep the fused double hash-stable
    * cross-engine. */
  private def t13_rrf(s: SparkSession, dir: String): DataFrame = {
    val st = graft.operators.Retrieval.termStats(
      t(s, dir, "documents"), "doc_id", "text", Seq("agg"))
    val byTf = st.select(col("doc_id"), col("tf").cast("double").as("s"))
    val byDl = st.select(col("doc_id"), col("dl").cast("double").as("s"))
    graft.operators.Retrieval.rrfFuse(Seq(byTf, byDl), "doc_id", "s",
        k = 60, topN = 20)
      .orderBy("doc_id")
  }

  /** Pre-dedup text normalization (lowercase, control/punct strip, space
    * collapse) — dialect-safe regex classes make it exactly oracle-able. */
  /** Frequent tokens via the Misra–Gries TypedImperativeAggregate, fed the
    * token ARRAY directly (no explode — each map task folds its rows into
    * one bounded sketch and only sketches cross the shuffle). capacity=64
    * exceeds the corpus's distinct-token count, so the sketch is exact and
    * the SQL top-k oracle pins both the counting and the merge path. */
  private def t15_heavyhitters(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .agg(graft.functions.HeavyHitters.heavyHitters(
        TextFunctions.words(col("text")), topK = 10, capacity = 64).as("hh"))
      .select(posexplode(col("hh")).as(Seq("rk", "h")))
      .select(col("rk").cast("long").as("rk"),
        col("h.item").as("item"), col("h.count").as("n"))
      .orderBy("rk")

  /** Quantiles of document length via the KLL mergeable sketch
    * ([[graft.functions.KllQuantilesAgg]]). k=8192 exceeds the doc count at
    * gate scale, so no compactor ever fires, the sketch holds every value,
    * and the interpolated result EXACTLY equals quantile_cont — pinning the
    * update, serialize, merge and rank-inversion paths against the oracle
    * (the same exact-regime trick as t15's Misra-Gries gate). */
  private def t17_quantile_sketch(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    t(s, dir, "documents")
      .agg(graft.functions.KllSketch.kllQuantiles(col("n_chars"), 8192, qs).as("qv"))
      .select(posexplode(col("qv")).as(Seq("i", "v")))
      .select(element_at(typedlit(qs), col("i").cast("int") + 1).as("q"),
        round(col("v"), 6).as("v"))
      .orderBy("q")
  }

  /** Grouped companion to t17: one KLL sketch per language (the
    * multi-group ObjectHashAggregate path — per-group buffers created,
    * serialized and merged independently across partials), still in the
    * exact regime since every group is far under k. */
  private def t17b_quantile_by_group(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(graft.functions.KllSketch.kllQuantile(col("n_chars"), 8192, 0.5).as("med"))
      .select(col("lang"), round(col("med"), 6).as("med"))
      .orderBy("lang")

  /** RAG/context-prep chunking: fixed 200-char windows, 40 shared chars.
    * Map-side generator only — the closed-form boundary arithmetic is the
    * whole contract, and the oracle reproduces it from the parameters. */
  private def t18_chunk_chars(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk.chunkChars(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 40)
      .orderBy("doc_id", "chunk_ix")

  /** Chunk → embed → pool, end to end: t18's char chunks through the
    * deterministic stand-in embedder ([[graft.operators.Embeddings
    * .hashEmbed]] — the model seam, stubbed honestly) into the e3
    * mean-pooling aggregate. The oracle replays chunk boundaries, every
    * md5 component, and the pooled means — the full document-embedding
    * data path hash-checked with zero model dependence. */
  private def t38_embed_pipeline(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Chunk.chunkChars(
      t(s, dir, "documents"), "doc_id", "text", chunkSize = 200, overlap = 40)
    chunks
      .withColumn("vec", graft.operators.Embeddings.hashEmbed(col("chunk"), 8))
      .groupBy("doc_id")
      .agg(graft.functions.VectorAvgAgg.vectorAvg(col("vec")).as("mv"))
      .select(col("doc_id"), posexplode(col("mv")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("pos"), round(col("v"), 6).as("v"))
      .orderBy("doc_id", "pos")
  }

  /** Word-window variant (40 words, 8 shared — the approximate-token
    * windowing); words per the t3 whitespace contract. */
  private def t18b_chunk_words(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk.chunkWords(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 40, overlap = 8)
      .orderBy("doc_id", "chunk_ix")

  /** Content-defined chunking (window 16, divisor 64 → ~64-char chunks):
    * the polynomial rolling hash is explicit arithmetic, so DuckDB
    * recomputes every window's fold and replays the exact boundaries. */
  private def t18c_chunk_cdc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunk.chunkContentDefined(
        t(s, dir, "documents"), "doc_id", "text", window = 16, divisor = 64)
      .orderBy("doc_id", "chunk_ix")

  /** Deterministic stratified sample: 5 docs per source, selected by salted
    * md5 order — both engines agree on the hash, so the exact same rows
    * come out of DuckDB (and would out of any md5-capable engine). */
  private def t16_sample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleByGroup(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "source", "doc_id", n = 5, salt = "s1")
      .orderBy("source", "doc_id")

  /** Negative-sampling gate: 4 deterministic negatives per query (first 20
    * docs) from the whole corpus, self-pairs excluded; the oracle replays
    * bucket assignment, draw targeting, the positive anti-join and the
    * rank-1 pick through the identical md5 arithmetic. */
  private def t21_negatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = docs.filter(col("doc_id") < 20)
    // positives: the query itself (qId and cId read the same column)
    graft.operators.Sampling.negativeSample(
        queries, docs, "doc_id", "doc_id", k = 4,
        positives = Some(queries.select(col("doc_id"))))
      .orderBy("doc_id", "draw")
  }

  /** Deterministic epoch shuffle: the corpus dealt into 8 shards with an
    * in-shard training order, every assignment a pure function of
    * (salt, doc_id) — the oracle re-deals the identical permutation from
    * md5. See [[graft.operators.Sampling.deterministicShuffle]]. */
  private def t22_shuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents"), "doc_id", numShards = 8, salt = "epoch1")
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  /** PMI collocation mining over adjacent word pairs, minCount=20: exact
    * integer counts, one rounded ln (the t20 transcendental convention).
    * The oracle re-derives unigram/pair counts, the totals, and the PMI
    * arithmetic in the identical operation order. See
    * [[graft.operators.Collocations.pmiBigrams]]. */
  private def t24_pmi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.pmiBigrams(t(s, dir, "documents"), "text",
        minCount = 20)
      .orderBy("w1", "w2")

  /** Leakage-aware split: the split key is the GROUP (source), not the
    * row — all documents of one source land in one split, the grouping
    * an eval/train separation needs when near-duplicates cluster within
    * sources (splitting by row would leak). Same md5 bound arithmetic
    * as t8, keyed on the group. */
  private def t26_group_split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.deterministicSplit(col("source"), t8Weights, salt = "grp")
          .as("split"))
      .orderBy("doc_id")

  /** Exact-N deterministic global sample (TakeOrdered, no corpus
    * shuffle): the 100 smallest salted md5s. */
  private def t27_sample_exact(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleExact(t(s, dir, "documents"), "doc_id",
        n = 100, salt = "x1")
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Token-distribution drift src0 vs src1: per-term smoothed
    * probabilities and pointwise KL contributions, the WHICH-tokens-moved
    * table. Oracle re-derives counts, joint vocab, and the identical
    * probability/ln arithmetic. */
  private def t29_kl_drift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.tokenKlDrift(t(s, dir, "documents"),
        "text", "source", "src0", "src1")
      .orderBy("term")

  private def t14_normalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalize(col("text"), dropPunct = true).as("norm"))
      .orderBy("doc_id")

  /** Unicode folding variant. The synthetic documents are pure ASCII, so a
    * fixed accented/full-width suffix is concatenated on BOTH engines to
    * exercise the fold; the literal sticks to plain accent/width variants
    * (no ligatures) because DuckDB's strip_accents — the oracle's analog —
    * does not do NFKD compatibility expansion. */
  private def t14b_normalize_fold(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalize(
          concat(col("text"), lit(" Café NAÏVE àéîõü")),
          dropPunct = true, foldUnicode = true).as("norm"))
      .orderBy("doc_id")

  private def t4_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    .orderBy("doc_id")

  private def t5_quality_filter(s: SparkSession, dir: String): DataFrame = {
    val staged = t(s, dir, "documents").select(col("doc_id"), col("text"),
      TextFunctions.words(col("text")).as("__w"))
    val rules = TextFunctions.gopherRules(col("text"), col("__w"))
    staged.select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  private def t6_redact_pii(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id") +:
        (TextFunctions.piiCounts(col("text")).map { case (n, c) =>
          c.cast("long").as(n)
        } :+ TextFunctions.redactPii(col("text")).as("redacted")): _*)
      .orderBy("doc_id")

  private def t7_repetition(s: SparkSession, dir: String): DataFrame = {
    val staged = t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("__w"))
    val metrics = TextFunctions.repetitionMetrics(col("__w"))
    staged.select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  private val t8Weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Leakage-safe split: keyed on NORMALIZED text, so trivial duplicate
    * variants co-travel ([[graft.functions.TextFunctions
    * .leakageSafeSplit]]); the oracle replays normalize + md5 bounds. */
  private def t44_leakage_split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.leakageSafeSplit(col("text"), t8Weights, salt = "leak")
          .as("split"))
      .orderBy("doc_id")

  /** t44's oracle: the t8 bound chain keyed on the replayed normalize. */
  private def t44OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val normSql = """trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
         '[\x00-\x1f\x7f]', ' ', 'g'),
         '[!-/:-@\[-`{-~]', ' ', 'g'),
         ' +', ' ', 'g'))"""
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5($normSql || 'leak'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  private def t8_split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.deterministicSplit(col("doc_id"), t8Weights, salt = "graft")
          .as("split"))
      .orderBy("doc_id")

  private def t8OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  /** t26: identical bound chain keyed on the GROUP column. */
  private def t26OracleSql: String = {
    val bounds = TextFunctions.splitBounds(t8Weights)
    val cases = bounds.init.map { case (l, b) =>
      s"WHEN substr(md5(source || 'grp'), 1, 4) < '$b' THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, source, CASE $cases ELSE '${bounds.last._1}' END AS split
       FROM documents ORDER BY doc_id"""
  }

  /** Sharded greedy sequence packing into 128-token bins (8 shards so the
    * sf0.01 recursion-free oracle stays tractable; production default 256). */
  private def t9_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packGreedy(docs, "doc_id", "tokens",
        budget = 128, numShards = 8)
      .orderBy("doc_id")
  }

  /** Interleaved multimodal sequence assembly: 32-word text chunks and
    * `<media:ord>` placeholders (doc_id % 3 media items per doc, 64
    * tokens each) woven chunk0-media0-chunk1-media1, documents packed
    * whole into 256-token windows (8 shards), elements numbered within
    * each window. Every boundary is closed-form — the oracle replays
    * chunk slicing (t18b's skeleton), the interleave positions, the
    * t9-style recursive greedy pack at budget 256 and the window
    * numbering, so assembly order, token accounting and the pack are
    * one hash. See [[graft.operators.Interleave.assemble]]. */
  private def m16_interleave(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val media = docs.filter(col("doc_id") % 3 > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 3 - 1)).as("ord"))
    graft.operators.Interleave.assemble(
        docs, "doc_id", "text", media, "doc_id", "ord",
        chunkSize = 32, mediaTokens = 64, budget = 256, numShards = 8)
      .orderBy("doc_id", "elem_ix")
  }

  /** [[m16_interleave]] composed with the REAL image decoder: each
    * document carries one media item whose placeholder is the decoded
    * `<image:WxH>` from [[graft.operators.Multimodal.decodeImageMeta]]
    * over the synthetic-but-valid PNG/GIF/BMP/JPEG payloads — the
    * byte-level header parse feeds the sequence assembly, and the
    * oracle replays BOTH: m1's dimension construction arithmetic
    * inside m16's chunk/pack/window skeleton. The multimodal family
    * and the assembly family compose as one hash. */
  private def m16b_interleave_media(
      s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val media = Multimodal
      .decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), lit(0L).as("ord"),
        concat(lit("<image:"), col("media_meta.width").cast("string"),
          lit("x"), col("media_meta.height").cast("string"), lit(">"))
          .as("ph"))
    graft.operators.Interleave.assemble(
        docs, "doc_id", "text", media, "doc_id", "ord",
        chunkSize = 32, mediaTokens = 64, budget = 256, numShards = 8,
        placeholderCol = "ph")
      .orderBy("doc_id", "elem_ix")
  }

  /** Aspect-ratio bucketing for vision training (the SDXL/NovelAI batch
    * recipe: images batch with SAME-shape peers so a batch shares one
    * crop geometry): REAL decoders ([[graft.operators.Multimodal
    * .decodeImageMeta]] — PNG/GIF/BMP/JPEG headers) surface width and
    * height, integer cross-multiplication assigns one of five aspect
    * buckets (no float ratio anywhere, so the oracle replays the rule
    * exactly), and [[graft.operators.Pack.packGreedyBy]] packs each
    * (bucket, id%4 shard) stream into ~1 Mpx batches in id order. The
    * oracle recomputes w/h from the media fixture's closed-form
    * dimensions and replays the greedy recurrence per group — decode,
    * bucket rule and bin boundaries are all one hash. */
  private def m17_aspect_bucket(s: SparkSession, dir: String): DataFrame = {
    val meta = Multimodal
      .decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), col("media_meta.width").cast("long").as("w"),
        col("media_meta.height").cast("long").as("h"))
    val bucketed = meta
      .withColumn("bucket",
        when(col("w") * 3 < col("h") * 2, "tall")
          .when(col("w") * 10 < col("h") * 9, "portrait")
          .when(col("w") * 10 <= col("h") * 11, "square")
          .when(col("w") * 2 < col("h") * 3, "landscape")
          .otherwise("wide"))
      .withColumn("shard", col("doc_id") % 4)
      .withColumn("px", col("w") * col("h"))
    graft.operators.Pack.packGreedyBy(bucketed, "doc_id", "px",
        budget = 1000000L, groupCols = Seq("bucket", "shard"))
      .orderBy("doc_id")
  }

  /** GPT-style concat-and-chop packing: per shard, doc token streams
    * concatenate in id order and cut every 128 tokens ACROSS doc
    * boundaries — one row per (doc, window) overlap with doc-local
    * slice offsets. The oracle replays the per-shard cumulative sum
    * and every boundary in closed form, so the window arithmetic, the
    * slice offsets and the exactly-full-window invariant are one hash.
    * See [[graft.operators.Pack.packChop]]. */
  private def t69_pack_chop(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packChop(docs, "doc_id", "tokens",
        budget = 128, numShards = 8)
      .orderBy("doc_id", "window_ix")
  }

  /** Best-fit-decreasing packing
    * ([[graft.operators.Pack.packBestFitDecreasing]]): the oracle
    * replays the ENTIRE bin-state evolution as a recursive CTE — each
    * step's LATERAL argmax is the same (fill DESC, ix) best-fit rule
    * the streaming pass applies — so one divergent placement anywhere
    * in any shard breaks the hash. `maxOpenBins` is set beyond this
    * corpus's bins-per-shard at any driver SF, so the close-fullest
    * rule (pinned in PackBfdSpec) never fires here and the oracle
    * needs no closing clause. */
  private def t87_bestfit_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    graft.operators.Pack.packBestFitDecreasing(docs, "doc_id", "tokens",
        budget = 128, numShards = 8, maxOpenBins = 4096)
      .orderBy("doc_id")
  }

  /** T5-style span-corruption PLAN (deterministic): one 3-token span
    * per complete 20-token block at a salted-md5 offset — corruption
    * rate exactly 15%, spans non-overlapping by construction, every
    * span stated by the oracle from the same hash arithmetic.
    * See [[graft.operators.Masking.spanCorruptionPlan]]. */
  private def t70_span_corruption(s: SparkSession, dir: String): DataFrame =
    graft.operators.Masking.spanCorruptionPlan(
        t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "sentinel_ix")

  /** UL2 mixture-of-denoisers plan: hash-assigned R/X/S denoiser per
    * document, each planned with its own span geometry — the oracle
    * replays the mode draw, both block planners at their distinct
    * (blockSize, offsets) and the prefix-LM split arithmetic. One
    * denoiser per doc means (doc_id, sentinel_ix) is unique.
    * See [[graft.operators.Masking.ul2Plan]]. */
  private def t82_ul2_plan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Masking.ul2Plan(
        t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "sentinel_ix")

  /** SFT loss-mask plan over the event log as a chat transcript: per
    * user, turns order by (ts, event_id), token offsets are running
    * word counts of props, and only click/purchase turns train — the
    * chat-fine-tuning mask as data. One keyed window; the oracle
    * replays rank, running sum and the role predicate directly.
    * See [[graft.operators.Masking.sftLossMask]]. */
  private def t71_sft_mask(s: SparkSession, dir: String): DataFrame =
    graft.operators.Masking.sftLossMask(Fixtures.events(s, dir),
        "user_id", Seq("ts", "event_id"), "event_type", "props",
        trainRoles = Seq("click", "purchase"))
      .withColumn("trainable", col("trainable").cast("int"))
      .orderBy("user_id", "turn_ix")

  /** The full training-data run composed END-TO-END — the north-star
    * demo: curation (langid + quality floors + exact dedup, the t64
    * stage) → benchmark decontamination (3-gram overlap vs the
    * doc_id%100 eval set, the d8b stage) → DSIR importance selection
    * toward a doc_id%10 target sample (the d23 stage, top-200) →
    * concat-and-chop packing of the selected docs (the t69 stage).
    * Four stages, one DataFrame program, one hash: the oracle replays
    * every stage's arithmetic in a single CTE chain, so any
    * inter-stage contract drift (a filter reordered, a dedup key
    * changed, a weight tie broken differently) goes red — the
    * composition is what's being gated, each stage is already gated
    * alone. Spark shape: each stage keeps its own audited plan
    * (broadcast gram/ratio joins, one anti-join, one TakeOrdered, one
    * per-shard cumsum window) — nothing about composing them adds a
    * shuffle beyond the stages' own. */
  private def t75_training_run(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val metrics = TextFunctions.qualityMetrics(col("text"),
      TextFunctions.englishStopwords).toMap
    val staged = docs.select(col("doc_id"), col("text"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      metrics("n_words").as("n_words"),
      metrics("stopword_ratio").as("stopword_ratio"))
    // `filtered` is consumed twice inside `kept` (exact dedup + text
    // join-back) — persist so the langid/metrics kernels run once (the
    // t64 pattern; released with `clean` below)
    val filtered = staged.filter(col("lang_pred") === "en" &&
        col("n_words") >= 20 && col("stopword_ratio") > 0.03)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kept = Dedup.exact(filtered, "doc_id", "text").select("doc_id")
      .join(filtered.select("doc_id", "text"), "doc_id")
    val evalSet = docs.filter(col("doc_id") % 100 === 0).select("text")
    // `clean` feeds THREE consumers (the DSIR target slice, the DSIR raw
    // side, the token join on the selected docs) — uncached, each one
    // re-runs the full curation + decontamination chain (langid +
    // quality metrics + exact dedup + the 3-gram overlap join). Persist
    // it once per computation and release after the caller's first
    // action (r20 optimization round, guide §5.2; cache cleared between
    // bench passes, so every pass still computes from parquet).
    val clean = Decontaminate.decontaminate(kept, "doc_id", "text",
        evalSet, "text", n = 3, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val target = clean.filter(col("doc_id") % 10 === 1).select("text")
    val weights = graft.operators.Dsir.importanceWeights(
      clean, "doc_id", "text", target, "text", numBuckets = 1024)
    val sel = graft.operators.Dsir.selectTopK(weights, "doc_id", k = 200)
    val toks = sel.select("doc_id")
      .join(clean.select(col("doc_id"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens")),
        "doc_id")
    graft.operators.CacheRelease.afterFirstAction(
      graft.operators.Pack.packChop(toks, "doc_id", "tokens",
          budget = 128, numShards = 4)
        .orderBy("doc_id", "window_ix"),
      Seq(filtered, clean))
  }

  /** Deterministic source mixing: src0 ×2.5, src1 ×0.5, src2 dropped,
    * seventeen other sources pass through. */
  private def t10_mix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixing.resample(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0), granularity = 1000)
      .orderBy("doc_id", "copy")

  /** Temperature mixing at alpha = 0.5: weights derive from the source
    * counts (w = N·n^(α−1)/Σn^α, rounded to 6 decimals — both engines
    * recompute them from the data in IEEE doubles), then the same
    * deterministic id-slice replication as t10. */
  private def t10b_mix_temperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixing.mixByTemperature(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", alpha = 0.5, granularity = 1000)
      .orderBy("doc_id", "copy")

  /** DoReMi source reweighting end-to-end: a deterministic per-doc
    * difficulty proxy (`n_chars % 97 / 10` — varies within and across
    * sources), the clipped-excess softmax with smoothing 0.01, and the
    * deterministic id-slice resample. The oracle recomputes means,
    * global mean, exp/softmax, smoothing and the replication slices in
    * SQL with the same 6-decimal rounding at every step.
    * See [[graft.operators.Mixing.learnWeights]]. */
  private def t74_doremi_mix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixing.mixByProxy(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          ((col("n_chars") % 97).cast("double") / 10.0).as("sc")),
        "doc_id", "source", "sc", eta = 1.0, smoothing = 0.01,
        granularity = 1000)
      .select("doc_id", "source", "copy")
      .orderBy("doc_id", "copy")

  /** MODEL-based quality filtering — the fastText/CCNet recipe (vs
    * t64's RULES): positives are the real docs, negatives SYNTHETIC
    * corruptions of half of them (vowels flattened to 'q' — trusted-
    * vocabulary hits drop to zero, replayable via `translate`), a
    * logistic classifier trains on trusted-vocab hit-ratio features
    * (15 full-batch GD iterations, the ml2 trainer), and the whole
    * pos∪neg corpus is scored and cut at 0.5. Every corruption drops;
    * real docs with NO trusted-vocab hits drop too (indistinguishable
    * from noise by construction — exactly what a vocab-based quality
    * filter does to vocab-less docs). The oracle replays corpus
    * construction, features, all 15 iterations, scoring and the cut.
    * See [[graft.operators.Regression.fitLogisticGD]]. */
  private def t78_quality_filter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text"), lit(1.0).as("y"))
      .unionByName(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 9950000L).as("doc_id"),
          translate(col("text"), "aeiou", "qqqqq").as("text"),
          lit(0.0).as("y")))
    val lw = TextFunctions.words(lower(col("text")))
    val counts = graft.functions.TermSetCountsExpr(lw,
      Seq(TextFunctions.langMarkers("en"), TextFunctions.englishStopwords))
    val n = size(lw)
    def ratio(i: Int): Column = when(n === 0, lit(0.0))
      .otherwise(element_at(counts, i).cast("double") * 10.0 / n)
    // the narrow feature frame is consumed by BOTH the 15-iteration GD
    // trainer and the final scoring pass — uncached, the tokenizing
    // feature kernels re-run for each (the trainer caches its OWN
    // internal projection, which doesn't cover the scoring pass).
    // Persist it once per computation, release after the caller's first
    // action (r20 optimization round, guide §5.2)
    val f = corpus.select(col("doc_id"), ratio(1).as("x1"),
        ratio(2).as("x2"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = graft.operators.Regression.fitLogisticGD(f,
      Seq(col("x1"), col("x2")), col("y"), iterations = 15, lr = 2.0)
    graft.operators.CacheRelease.afterFirstAction(
      f.select(col("doc_id"),
          graft.operators.Regression.logisticScore(model,
            Seq(col("x1"), col("x2"))).as("score"))
        .filter(col("score") >= 0.5)
        .orderBy("doc_id"),
      Seq(f))
  }

  /** Retrieval-quality evaluation (recall@k / MRR / nDCG@k,
    * [[graft.operators.Retrieval.rankMetrics]]): a three-query run with
    * md5-derived integer scores (hash-exact ranking in both engines —
    * the BM25 composition is exercised in RankMetricsSpec, where
    * cross-engine float ordering is not at stake) against md5-derived
    * graded judgments (grades 0/1/2). The DCG discount is the
    * integer-scaled table, so DCG/IDCG are exact integer sums and the
    * oracle's replay must match to the last digit. */
  private def t79_retrieval_metrics(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val terms = Seq("agg", "scan", "window")
    val paired = docs
      .select(col("doc_id"), explode(array(terms.map(lit): _*)).as("query"))
    val run = paired.select(col("query"), col("doc_id"),
      conv(substring(md5(concat_ws(":", lit("run"), col("query"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long").as("score"))
    val h = substring(md5(concat_ws(":", lit("qr"), col("query"),
      col("doc_id").cast("string"))), 1, 1)
    val qrels = paired.select(col("query"), col("doc_id"),
      when(h.isin("0", "1", "2", "3"), 1L)
        .when(h.isin("4", "5"), 2L).otherwise(0L).as("grade"))
    graft.operators.Retrieval.rankMetrics(run, qrels,
        "query", "doc_id", "score", "grade", k = 10)
      .orderBy("query")
  }

  /** Domain-level curation ([[graft.operators.Frontier.dropLowQualityDomains]]):
    * six fixture hosts — two under the multi-label `co.uk` suffix, one a
    * deep `cdn.assets.*` subdomain — must collapse to their eTLD+1
    * (`ads.spamfarm.co.uk` → `spamfarm.co.uk`, NOT `co.uk`), and the
    * spam-farm's hash-biased low scores must flag exactly it; the
    * integer cross-multiplied threshold means both engines flag the
    * same domains with zero float comparisons. */
  private def t80_domain_rollup(s: SparkSession, dir: String): DataFrame = {
    val hosts = array(lit("news.example.com"), lit("blog.example.co.uk"),
      lit("ads.spamfarm.co.uk"), lit("example.org"),
      lit("cdn.assets.example.org"), lit("static.junk.com"))
    val base = conv(substring(md5(concat(lit("dq:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        concat(lit("https://"),
          element_at(hosts, (col("doc_id") % 6 + 1).cast("int")),
          lit("/p/"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 6 === 2, base % 30)
          .otherwise(base % 70 + 30).as("score"))
    graft.operators.Frontier.dropLowQualityDomains(urls, "url", "score",
        Seq("com", "org", "net", "co.uk", "ac.uk", "github.io"),
        minMeanNum = 40L)
      .select(col("doc_id"), col("domain"), col("score"))
      .orderBy("doc_id")
  }

  /** Curriculum ordering: global easy→hard schedule by an integer
    * difficulty proxy (milli-chars-per-word — pure integer division,
    * so both engines rank the identical key), dealt round-robin
    * across 4 loader shards so each shard carries the same ramp. The
    * operator's two-level rank (per-band window + broadcast band
    * offsets — the scale-safe form of a global row_number) must equal
    * the oracle's literal global `row_number()`: the gate proves the
    * banded decomposition IS the global order.
    * See [[graft.operators.Mixing.curriculum]]. */
  private def t76_curriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(TextFunctions.words(col("text"))).cast("long").as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), expr("(n_chars * 1000) div nw").as("proxy"))
      .withColumn("band", expr("proxy div 100"))
    graft.operators.Mixing.curriculum(docs, "doc_id", "proxy", "band",
        numShards = 4)
      .orderBy("doc_id")
  }

  /** Per-source token-budget fill — the epoch quota draw: named
    * sources get explicit budgets, the long tail a default, docs
    * drawn per source in (priority DESC, id) order while the running
    * token total stays within budget. The oracle replays the keyed
    * cumsum (CAST — the r16 lesson), the draw order and the cut.
    * See [[graft.operators.Mixing.tokenBudgetFill]]. */
  private def t77_token_budget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        (col("doc_id") % 7).as("priority"),
        size(TextFunctions.words(col("text"))).cast("long").as("tokens"))
    val named = Seq(("src0", 4000L), ("src1", 2500L), ("src2", 1500L))
      .toDF("source", "budget")
    val budgets = named.unionByName(
      docs.select("source").distinct()
        .filter(!col("source").isin("src0", "src1", "src2"))
        .withColumn("budget", lit(800L)))
    graft.operators.Mixing.tokenBudgetFill(docs, "doc_id", "tokens",
        "source", "priority", budgets)
      .orderBy("doc_id")
  }

  /** qvec is serialized to a comma-joined string for the gate: the driver's
    * comparison harness sorts every output column and raw array cells are
    * unsortable there, so both sides emit the same canonical string form.
    * The engine-facing operator ([[graft.operators.Embeddings.quantize]])
    * still returns the real array<int> column. */
  private def e1_quantize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.quantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("qvec"), _.cast("string")), ",").as("qvec_str"))
      .orderBy("vec_id")

  /** L2 normalization — posexploded so the gate hashes raw doubles (the
    * comparator cannot sort array cells; see e1's string workaround). The
    * sequential square fold matches DuckDB's list_reduce order, so norm,
    * sqrt, and divisions are bit-identical. */
  private def e2_l2norm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.l2normalize(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("norm"), posexplode(col("nvec")).as(Seq("pos", "val")))
      .orderBy("vec_id", "pos")

  /** Mean-pooling gate: per-label pooled embedding via the vector_avg
    * TypedImperativeAggregate (bounded buffers through the shuffle, no
    * posexplode in the aggregation); output posexploded + rounded (float
    * sums are summation-order sensitive — e2's determinism contract). */
  private def e3_meanpool(s: SparkSession, dir: String): DataFrame =
    graft.operators.Embeddings.meanPool(t(s, dir, "embeddings"), "label", "embedding")
      .select(col("label"), posexplode(col("mean_vec")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"), round(col("v"), 6).as("v"))
      .orderBy("label", "pos")

  /** Per-label centroid similarity matrix: mean-pool per label (the e3
    * native partial aggregate), round coordinates at 6 decimals so both
    * engines cosine over IDENTICAL inputs, then the upper-triangle cosine
    * grid. The pairwise join is over the LABEL frame (bounded by class
    * count — a stats frame, not a corpus), so the nested-loop there is
    * by design. */
  private def e5_centroid_sim(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "embeddings").groupBy("label")
      .agg(graft.functions.VectorAvgAgg.vectorAvg(col("embedding")).as("c0"))
      .select(col("label"), transform(col("c0"), v => round(v, 6)).as("c"))
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val a = cents.select(col("label").as("label_a"), col("c").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))),
          6).as("cos"))
      .orderBy("label_a", "label_b")
  }

  private val PcaFixture = "/tmp/graft_fixtures/pca_model.parquet"

  /** Distributed PCA: one-pass covariance fit (native partial aggregate)
    * + driver Jacobi on the 64×64 covariance + shuffle-free projection.
    * The fitted components persist as a fixture and DuckDB replays every
    * projection as `list_dot_product(x, comp) − mean_dot` — the same
    * sequential double arithmetic, so the hash pins bit parity. */
  private def e4_pca(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val model = graft.operators.Pca.fit(emb, "embedding", k = 4)
    graft.operators.Pca.writeModel(s, model, PcaFixture)
    graft.operators.Pca.projectLong(emb, "vec_id", "embedding", model)
      .orderBy("vec_id", "pc")
  }

  /** Real header decode over synthetic-but-valid PNG/GIF/BMP/JPEG payloads:
    * the oracle reproduces the fixture's construction arithmetic, so the
    * hash match proves the byte-level parse inverts the construction. */
  private def m1_multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageMeta(s.read.parquet(Fixtures.mediaDocs(s, dir)))
      .select(col("doc_id"), length(col("payload")).cast("long").as("byte_len"),
        col("media_meta.width"), col("media_meta.height"),
        col("media_meta.channels"), col("media_meta.format"))
      .orderBy("doc_id")

  /** FULL PNG pixel decode (inflate + all-filter unfilter + per-channel
    * stats); the oracle recomputes mean/std from the fixture's closed-form
    * pixel arithmetic over a generated (x, y, channel) grid — the decode
    * must invert deflate AND all five scanline filters exactly to match. */
  /** Shared gate shape for the pixel decoders (m4/m6/m7): per-channel
    * stats posexploded to (doc_id, width, height, channel, mean, std),
    * rounded and ordered — ONE definition so the three gates cannot
    * silently diverge. */
  private def pixelStatsGate(decoded: DataFrame): DataFrame =
    decoded
      .select(col("doc_id"), col("pixel_stats.width"), col("pixel_stats.height"),
        posexplode(arrays_zip(col("pixel_stats.mean"), col("pixel_stats.std"))))
      .select(col("doc_id"), col("width"), col("height"),
        col("pos").as("channel"), round(col("col.mean"), 6).as("mean"),
        round(col("col.std"), 6).as("std"))
      .orderBy("doc_id", "channel")

  /** Decode→resize: 4×4 nearest-neighbor thumbnails of the synthetic
    * PNGs (docs < 20), one row per output pixel. Pure-integer source
    * indexing means the oracle reproduces EVERY pixel value from the
    * closed-form pattern and the dimension derivation alone. */
  private def m8_resize(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePngResize(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)).filter(col("doc_id") < 20),
        outW = 4, outH = 4)
      .filter(col("resized.format") === "png")
      .select(col("doc_id"), col("resized.width").as("width"),
        col("resized.height").as("height"),
        col("resized.channels").as("channels"),
        posexplode(col("resized.pixels")).as(Seq("pos", "v")))
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("pos").cast("long").as("pos"), col("v").cast("long").as("v"))
      .orderBy("doc_id", "pos")

  /** Perceptual image dedup key: dHash over every synthetic PNG (real
    * decode → 9×8 thumbnail → gradient bits) plus the duplicate-group
    * size per hash. The oracle replays the ENTIRE pipeline in closed
    * form — resize index arithmetic, ITU-601 grayscale, bit packing —
    * so a one-bit drift anywhere in decode/resize/hash goes red.
    * Same-dimension images collapse into groups by construction (the
    * gradient field is brightness-invariant), giving real dup clusters. */
  private def m11_image_dhash(s: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("doc_id"), col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val groups = h.groupBy("hash_hi", "hash_lo")
      .agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("hash_hi", "hash_lo"))
      .select("doc_id", "hash_hi", "hash_lo", "group_size")
      .orderBy("doc_id")
  }

  /** The bench scale fixture's replica index (`doc_id div 1e8` — replica
    * ids shift by 1e8·r, organic fixture ids are far below 1e8, so this
    * is IDENTICALLY ZERO on the verify corpus) times an odd 64-bit
    * constant. XORed into a perceptual signature it keeps every
    * cross-replica salt pair ≥ 25 Hamming bits apart (verified), so the
    * 10× leg's duplicate groups stay replica-disjoint — a verbatim
    * replica corpus would merge same-dimension hash groups across
    * replicas and grow the PAIR set quadratically by construction,
    * measuring an artifact instead of the band join's scale-out (the
    * same reasoning as the scaled documents' per-replica token
    * suffixes, Bench.buildScaledDir). Identity at 1×: gates and oracles
    * are byte-identical on the verify corpus. */
  private def replicaSalt(id: Column): Column = {
    // floor of the double quotient: exact while ids stay below 2^52,
    // and bench replica ids top out near 1e9. xxhash64 (not an odd-
    // constant multiply, which ANSI mode rejects as long overflow)
    // spreads the salts; replica 0 pins to literal zero so the 1×
    // identity is by construction, not by a hash coincidence.
    val r = floor(id.cast("long") / lit(100000000L)).cast("long")
    when(r === 0L, lit(0L)).otherwise(xxhash64(r))
  }

  /** Perceptual image near-dup JOIN, collapse-first (the production
    * recipe): exact-duplicate signatures collapse to ONE representative
    * row (min doc_id) + group size BEFORE the banded join, so the
    * [[graft.operators.Dedup.hashPairs64]] (4×16 pigeonhole) runs over
    * DISTINCT signatures — a viral image repeated 10M times costs one
    * signature row, bucket sizes are bounded by signature DIVERSITY
    * (not corpus size), and the pair output is near-dup CLASS links
    * with both member counts attached. The earlier join-over-raw-rows
    * shape measured super-linear at 10× (pair sets grow quadratically
    * in duplicate-group size — by definition of near-dup density, not
    * an operator bug); collapsing first is how the same machine stays
    * linear at 100 TB. The oracle recomputes every hash from the
    * closed-form synthetic pixels and replays collapse + brute-force
    * Hamming ≤ 3 over the distinct signatures. Signatures carry the
    * (1×-identity) [[replicaSalt]] so the 10× slope measures
    * replica-disjoint linear growth. */
  private def m14_image_dedup_join(s: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      // bitwise packing: shiftleft|or cannot overflow (an arithmetic
      // hi*2^32 would raise under ANSI once the hash's sign bit is set)
      .select(col("doc_id"),
        shiftleft(col("dhash.hash_hi").cast("long"), 32)
          .bitwiseOR(col("dhash.hash_lo").cast("long"))
          .bitwiseXOR(replicaSalt(col("doc_id"))).as("h64"))
    val sig = h.groupBy("h64").agg(min("doc_id").as("rep_id"),
      count(lit(1)).as("group_size"))
    graft.operators.Dedup.hashPairs64(sig, "rep_id", "h64", maxHamming = 3)
      .join(sig.select(col("rep_id").as("id_a"),
        col("group_size").as("size_a")), "id_a")
      .join(sig.select(col("rep_id").as("id_b"),
        col("group_size").as("size_b")), "id_b")
      .select("id_a", "id_b", "hamming", "size_a", "size_b")
      .orderBy("id_a", "id_b")
  }

  /** Audio near-dup JOIN: the m12 gradient fingerprints through the same
    * collapse-first + generalized band join as m14 — one banding machine
    * serves text (d3), image (m14) and audio signatures. The oracle
    * recomputes every fingerprint from the closed-form PCM and replays
    * collapse + brute-force Hamming ≤ 2 over distinct signatures.
    * [[replicaSalt]] as in m14. */
  private def m15_audio_dedup_join(s: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.decodeWavFingerprint(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
      .filter(col("afp.format") === "wav")
      .select(col("doc_id"),
        shiftleft(col("afp.hash_hi").cast("long"), 32)
          .bitwiseOR(col("afp.hash_lo").cast("long"))
          .bitwiseXOR(replicaSalt(col("doc_id"))).as("h64"))
    val sig = h.groupBy("h64").agg(min("doc_id").as("rep_id"),
      count(lit(1)).as("group_size"))
    graft.operators.Dedup.hashPairs64(sig, "rep_id", "h64", maxHamming = 2)
      .join(sig.select(col("rep_id").as("id_a"),
        col("group_size").as("size_a")), "id_a")
      .join(sig.select(col("rep_id").as("id_b"),
        col("group_size").as("size_b")), "id_b")
      .select("id_a", "id_b", "hamming", "size_a", "size_b")
      .orderBy("id_a", "id_b")
  }

  private def m4_pixels(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePngPixels(s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .select(col("doc_id"), col("pixel_stats.width"), col("pixel_stats.height"),
        posexplode(arrays_zip(col("pixel_stats.mean"), col("pixel_stats.std"))))
      .select(col("doc_id"), col("width"), col("height"),
        col("pos").as("channel"), col("col.mean").as("mean"),
        col("col.std").as("std"))
      .orderBy("doc_id", "channel")

  /** FULL baseline-JPEG decode (real Huffman entropy decode + IDCT, JDK
    * only): the fixture encodes flat DC-only blocks with an all-8s quant
    * table, so the lossy pipeline is exact by construction and the oracle
    * rebuilds the decoded per-channel stats from the closed-form block
    * values (odd docs are 4:4:4 color with flat chroma → R=G=B=Y). */
  private def m6_jpeg_pixels(s: SparkSession, dir: String): DataFrame =
    pixelStatsGate(
      Multimodal.decodeJpegPixels(s.read.parquet(Fixtures.jpegPixelDocs(s, dir))))

  /** 4:2:0 chroma-subsampled decode — the layout nearly every real-world
    * JPEG uses (T.81 A.2.3 MCU interleave, per-component subsampled
    * planes, nearest-neighbor upsampling). The fixture's flat-chroma
    * construction keeps the decode exact, so the oracle is the same
    * closed form as m6 with three channels and larger block-spanning
    * dims (up to 26×22 — multi-MCU images with cropped edge MCUs). */
  private def m7_jpeg_420(s: SparkSession, dir: String): DataFrame =
    pixelStatsGate(
      Multimodal.decodeJpegPixels(s.read.parquet(Fixtures.jpeg420PixelDocs(s, dir))))

  /** Real RIFF/WAVE chunk-walk decode; oracle verifies the parse inverts
    * the fixture's construction arithmetic (same pattern as m1). */
  /** FULL audio payload decode: every PCM16 sample folded into exact
    * integer sums; the oracle reproduces mean/RMS from the fixture's
    * closed-form sample arithmetic (same pattern as m4's pixel stats). */
  private def m5_audio_pcm(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWavPcmStats(s.read.parquet(Fixtures.audioPcmDocs(s, dir)))
      .select(col("doc_id"), col("pcm_stats.n_samples"),
        col("pcm_stats.mean_amp"), col("pcm_stats.rms"))
      .orderBy("doc_id")

  /** Sample-decimation (every 7th PCM sample) on the audio fixture:
    * output j is input j·7 by contract, so the oracle replays every
    * decimated value from the closed-form sample arithmetic. */
  private def m9_audio_decimate(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWavDecimate(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)).filter(col("doc_id") < 20),
        k = 7)
      .filter(col("decimated.format") === "wav")
      .select(col("doc_id"), col("decimated.n_in").as("n_in"),
        posexplode(col("decimated.samples")).as(Seq("j", "v")))
      .select(col("doc_id"), col("n_in"), col("j").cast("long").as("j"),
        col("v").cast("long").as("v"))
      .orderBy("doc_id", "j")

  /** Audio near-dup key: gradient fingerprint over k=3-decimated PCM,
    * with duplicate-group sizes — the m11 dHash's audio sibling, oracle
    * replayed in closed form from the synthetic sample formula. */
  private def m12_audio_fingerprint(s: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.decodeWavFingerprint(
        s.read.parquet(Fixtures.audioPcmDocs(s, dir)), k = 3)
      .filter(col("afp.format") === "wav")
      .select(col("doc_id"), col("afp.n_in").as("n_in"),
        col("afp.hash_hi").as("hash_hi"), col("afp.hash_lo").as("hash_lo"))
    val groups = h.groupBy("hash_hi", "hash_lo")
      .agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("hash_hi", "hash_lo"))
      .select("doc_id", "n_in", "hash_hi", "hash_lo", "group_size")
      .orderBy("doc_id")
  }

  /** Video frame sampling from the container's own sample table: every
    * 3rd frame's index, timing and content checksum, sliced out of mdat
    * via stts/stsz/stco — the oracle reproduces all of it from the
    * fixture's closed-form derivation. */
  private def m10_frame_sample(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMp4FrameSample(
        s.read.parquet(Fixtures.videoSampleDocs(s, dir)).filter(col("doc_id") < 20),
        k = 3)
      .filter(col("frame_sample.format") === "mp4")
      .select(col("doc_id"), explode(col("frame_sample.frames")).as("__f"))
      .select(col("doc_id"), col("__f.frame_idx").as("frame_idx"),
        col("__f.ts_ms").as("ts_ms"), col("__f.size").as("size"),
        col("__f.byte_sum").as("byte_sum"))
      .orderBy("doc_id", "frame_idx")

  /** Video near-dup key from container STRUCTURE: md5 over the full
    * (frame_idx, ts_ms, size) sequence — identical timing+size layouts
    * collapse into genuine duplicate groups (content checksums then
    * confirm; the structural key is the cheap first pass). Every frame
    * (k=1), decoded from the real sample table; oracle replays the
    * sequence and the hash in closed form. */
  private def m13_video_fingerprint(s: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.decodeMp4FrameSample(
        s.read.parquet(Fixtures.videoSampleDocs(s, dir)), k = 1)
      .filter(col("frame_sample.format") === "mp4")
      .select(col("doc_id"),
        md5(concat_ws(",", transform(col("frame_sample.frames"),
          f => concat_ws(":", f.getField("frame_idx"), f.getField("ts_ms"),
            f.getField("size"))))).as("vfp"))
    val groups = h.groupBy("vfp").agg(count(lit(1)).as("group_size"))
    h.join(groups, Seq("vfp"))
      .select("doc_id", "vfp", "group_size")
      .orderBy("doc_id")
  }

  /** Shot-boundary detection over the container's frames
    * ([[graft.operators.Multimodal.mp4ShotBoundaries]]): the
    * shot-structured fixture's cross-cut byte jumps must cut exactly
    * where the within-shot drift must not — the oracle recomputes every
    * frame byte from the builder's closed form, replays the integer
    * mean-abs-diff rule and the cut set. */
  private def m18_shot_detect(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMp4Shots(
        s.read.parquet(Fixtures.videoShotDocs(s, dir)), threshold100 = 8000)
      .filter(col("shot_sample.format") === "mp4")
      .select(col("doc_id"), explode(col("shot_sample.shots")).as("shot"))
      .select(col("doc_id"), col("shot.shot_ix").as("shot_ix"),
        col("shot.start_frame").as("start_frame"),
        col("shot.start_ms").as("start_ms"))
      .orderBy("doc_id", "shot_ix")

  /** Silence segmentation ([[graft.operators.Multimodal.wavSilenceSegments]]):
    * two planted 80-sample quiet runs per doc must cut, voiced segments
    * trim to their voiced extent, and any ACCIDENTAL quiet runs the m5
    * sample formula produces fall under the same replayed rule — the
    * oracle recomputes every sample, finds the ≥50 quiet islands, and
    * groups voiced samples by pauses-before. */
  private def m19_audio_vad(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWavSegments(
        s.read.parquet(Fixtures.audioVadDocs(s, dir)),
        ampThreshold = 100, minRun = 50)
      .filter(col("vad.format") === "wav")
      .select(col("doc_id"), explode(col("vad.segments")).as("seg"))
      .select(col("doc_id"), col("seg.seg_ix").as("seg_ix"),
        col("seg.start_sample").as("start_sample"),
        col("seg.end_sample").as("end_sample"))
      .orderBy("doc_id", "seg_ix")

  /** PDF embedded-image extraction (the r17 verdict's #4 ask): walk each
    * planted PDF's XObject streams, inflate the FlateDecode DeviceRGB
    * image and hand the DCTDecode payload to the from-scratch baseline
    * JPEG decoder, then dHash the ACTUAL samples of both — the oracle
    * replays dictionary parse, the flate closed-form pixels, the JPEG's
    * exact flat-block decode, the 9×8 nearest resize, ITU-601 gray and
    * the bit packing, so a drift anywhere in the PDF walk OR either
    * codec path goes red. See
    * [[graft.operators.Multimodal.decodePdfImages]]. */
  private def m20_pdf_images(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePdfImages(
        s.read.parquet(Fixtures.pdfImageDocs(s, dir)))
      .select(col("doc_id"), col("image_ix"), col("width"), col("height"),
        col("channels"), col("filter"), col("hash_hi"), col("hash_lo"))
      .orderBy("doc_id", "image_ix")

  /** CROSS-FORMAT image dedup — the claim behind m20 made a gate: a
    * figure embedded in a PDF and the same pixels shipped as a PNG are
    * the same image, and because both paths hash the DECODED SAMPLES
    * through one dHash kernel ([[graft.operators.Multimodal.dhashFromPixels]]),
    * they land in the same dedup clusters. The PNG corpus (m11's
    * fixture) exact-hash-joins the PDF flate images (m20's fixture —
    * same pixel formula by construction); per PNG doc, the match count
    * must equal its m11 duplicate-group size, which the oracle replays
    * from both closed forms. */
  private def m21_crossformat_dedup(s: SparkSession, dir: String): DataFrame = {
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("doc_id"), col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val pdf = Multimodal.decodePdfImages(
        s.read.parquet(Fixtures.pdfImageDocs(s, dir)))
      .filter(col("filter") === "flate")
      .select(col("hash_hi"), col("hash_lo"))
    png.join(pdf, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_pdf_matches"))
      .orderBy("doc_id")
  }

  /** Cross-format image dedup EXTENDED to the web's other two formats
    * ([[graft.operators.Multimodal.decodeWebImageDHash]] over the
    * [[Fixtures.webpGifDocs]] re-encodes — GIF on evens, VP8L WebP on
    * odds): every web image must land in its PNG twin's dHash cluster
    * through the shared [[graft.operators.Multimodal.dhashFromPixels]]
    * core. The oracle replays the closed-form hash for both sides and
    * the exact-hash join (accidental collisions included) — a drift in
    * EITHER codec's pixel output breaks the hash. */
  private def m22_webformat_dedup(s: SparkSession, dir: String): DataFrame = {
    val web = Multimodal.decodeWebImageDHash(
        s.read.parquet(Fixtures.webpGifDocs(s, dir)))
      .filter(col("dhash.format").isin("gif", "webp"))
      .select(col("doc_id"), col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    web.join(png, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "format").agg(count(lit(1)).as("n_png_matches"))
      .orderBy("doc_id")
  }

  /** EXIF decode + GPS-PII scrub
    * ([[graft.operators.Multimodal.decodeExifMeta]] / `stripExif` over
    * [[Fixtures.exifJpegDocs]]): every planted tag replays in closed
    * form — orientation, zero-padded DateTime, Make, GPS presence and
    * the exactly-dividing microdegree coordinates — and the scrub is
    * pinned IN the gate: after [[graft.functions.ExifImpl.strip]] the
    * payload parses Exif-free while its pixel statistics (the m6 exact
    * flat-block decode) are bit-identical, so the scrub provably
    * removed the metadata and ONLY the metadata. The release-gate
    * tri-state rides along: the scrub reports `scrub_status`
    * "scrubbed" (every fixture carries Exif), re-scrubbing the clean
    * payload reports "clean", and the parse walk reports "ok" — so a
    * fail-open walk (unparseable JPEG shipped as clean, the r19 ADVICE
    * item) can no longer hide behind a bare null. */
  private def m23_exif(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(Fixtures.exifJpegDocs(s, dir))
    val stripped = Multimodal.stripExif(docs)
    val after = Multimodal.decodeExifMeta(
      stripped.select(col("doc_id"), col("payload_clean").as("payload")),
      metaCol = "exif_after")
    val restrip = Multimodal.stripExif(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"), col("scrub_status").as("restrip_status"))
    val parseStatus = Multimodal.decodeExifMeta(docs, "payload",
        "exif_ps", "parse_status")
      .select(col("doc_id"), col("parse_status"))
    val pxBefore = Multimodal.decodeJpegPixels(docs)
      .select(col("doc_id"),
        round(element_at(col("pixel_stats.mean"), 1), 6).as("__mb"))
    val pxAfter = Multimodal.decodeJpegPixels(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"),
        round(element_at(col("pixel_stats.mean"), 1), 6).as("__ma"))
    Multimodal.decodeExifMeta(docs)
      .select(col("doc_id"),
        col("exif.orientation").as("orientation"),
        col("exif.date_time").as("date_time"),
        col("exif.make").as("make"),
        col("exif.has_gps").as("has_gps"),
        col("exif.lat_micro").as("lat_micro"),
        col("exif.lon_micro").as("lon_micro"))
      .join(after.select(col("doc_id"),
        col("exif_after").isNull.as("exif_gone")), Seq("doc_id"))
      .join(stripped.select(col("doc_id"), col("scrub_status")),
        Seq("doc_id"))
      .join(restrip, Seq("doc_id"))
      .join(parseStatus, Seq("doc_id"))
      .join(pxBefore, Seq("doc_id")).join(pxAfter, Seq("doc_id"))
      .withColumn("pixels_intact", col("__mb") === col("__ma"))
      .drop("__mb", "__ma")
      .orderBy("doc_id")
  }

  /** Orientation-normalized image dedup
    * ([[graft.operators.Multimodal.orientedDHash]] over
    * [[Fixtures.orientedPixelDocs]]): every doc's pixels are STORED
    * under a planted EXIF rotation (orientation doc_id%8+1, dims
    * swapped for 5–8) — normalization must reproduce the upright image
    * exactly, so each normalized hash joins the m11 PNG closed-form
    * cluster of the SAME doc. The oracle replays the upright hash on
    * both sides (the m21/m22 pattern) plus the orientation label; a
    * transform that maps even one coordinate wrong perturbs the 9×8
    * sampling grid and goes red. */
  private def m24_oriented_dedup(s: SparkSession, dir: String): DataFrame = {
    val oriented = Multimodal.orientedDHash(
        s.read.parquet(Fixtures.orientedPixelDocs(s, dir)),
        "w", "h", "channels", "px", "orientation")
      .select(col("doc_id"), col("orientation"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val png = Multimodal.decodePngDHash(
        s.read.parquet(Fixtures.pngPixelDocs(s, dir)))
      .filter(col("dhash.format") === "png")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    oriented.join(png, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "orientation")
      .agg(count(lit(1)).as("n_png_matches"))
      .orderBy("doc_id")
  }

  /** Progressive-JPEG image dedup
    * ([[graft.operators.Multimodal.decodeJpegDHash]] over
    * [[Fixtures.progressiveJpegDocs]] — SOF2 multi-scan streams:
    * DC first + refinement, per-component AC bands + refinements, EOB
    * runs, grayscale / 4:4:4 / 4:2:0 rotating by id): each progressive
    * re-encode carries the SAME quantized coefficients as its
    * [[Fixtures.jpegPixelDocs]] baseline twin, so the decoded pixels
    * are bit-identical and the hashes exact-join. The `format` column
    * pins that the SOF2 path actually decoded (an `undecodable`
    * fallback would go red on format AND counts); the oracle replays
    * the m6 flat-block closed form on both sides plus the join. */
  private def m25_progressive_dedup(s: SparkSession, dir: String): DataFrame = {
    val prog = Multimodal.decodeJpegDHash(
        s.read.parquet(Fixtures.progressiveJpegDocs(s, dir)))
      .select(col("doc_id"), col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val base = Multimodal.decodeJpegDHash(
        s.read.parquet(Fixtures.jpegPixelDocs(s, dir)))
      .filter(col("dhash.format") === "jpeg")
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    prog.join(base, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "format")
      .agg(count(lit(1)).as("n_baseline_matches"))
      .orderBy("doc_id")
  }

  /** Orientation-normalized dedup END-TO-END from JPEG bytes
    * ([[graft.operators.Multimodal.exifOrientedJpegDHash]] over
    * [[Fixtures.orientedJpegDocs]]): each payload is a real
    * EXIF-tagged rotated JPEG — the full camera-photo composition
    * (APP1 parse → pixel decode → display transform → shared dHash)
    * the m23/m24 gates proved piecewise. Every normalized hash must
    * exact-join its upright twin's; the `orientation` column pins the
    * EXIF parse and the constant format pins the decode+transform
    * path. Oracle: the upright flat-block closed form at 8-multiple
    * dims on both sides plus the join, collisions included. */
  private def m26_oriented_jpeg(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(Fixtures.orientedJpegDocs(s, dir))
    val oriented = Multimodal.exifOrientedJpegDHash(
        docs.select(col("doc_id"), col("payload_oriented").as("payload")))
      .select(col("doc_id"), col("orientation"),
        col("dhash.format").as("format"),
        col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    val upright = Multimodal.decodeJpegDHash(
        docs.select(col("doc_id"), col("payload_upright").as("payload")))
      .select(col("dhash.hash_hi").as("hash_hi"),
        col("dhash.hash_lo").as("hash_lo"))
    oriented.join(upright, Seq("hash_hi", "hash_lo"))
      .groupBy("doc_id", "orientation", "format")
      .agg(count(lit(1)).as("n_upright_matches"))
      .orderBy("doc_id")
  }

  /** WebP container metadata incl. the LOSSY-VP8 header layer
    * ([[graft.operators.Multimodal.decodeWebpMeta]] over
    * [[Fixtures.webpLossyDocs]]): lossless frames report their VP8L
    * dims; lossy key frames report the RFC 6386 first-partition
    * header — dims, version, quantizer index (`y_ac_qi`, the
    * compression-quality curation signal), loop-filter setup,
    * partition count, quant deltas — parsed through planted
    * segmentation and filter-adjustment sub-headers by the
    * from-scratch bool decoder; VP8X wrapping surfaces the canvas.
    * The oracle replays every planted field in closed form — a
    * one-bit drift anywhere in the bool coder or the header walk
    * shifts every later field and goes red. */
  private def m27_webp_meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWebpMeta(
        s.read.parquet(Fixtures.webpLossyDocs(s, dir)))
      .select(col("doc_id"),
        col("webp_meta.kind").as("kind"),
        col("webp_meta.width").as("width"),
        col("webp_meta.height").as("height"),
        col("webp_meta.extended").as("extended"),
        col("webp_meta.canvas_w").as("canvas_w"),
        col("webp_meta.canvas_h").as("canvas_h"),
        col("webp_meta.version").as("version"),
        col("webp_meta.y_ac_qi").as("y_ac_qi"),
        col("webp_meta.y_dc_delta").as("y_dc_delta"),
        col("webp_meta.uv_ac_delta").as("uv_ac_delta"),
        col("webp_meta.filter_type").as("filter_type"),
        col("webp_meta.filter_level").as("filter_level"),
        col("webp_meta.sharpness").as("sharpness"),
        col("webp_meta.token_partitions").as("token_partitions"))
      .orderBy("doc_id")

  /** WebP EXIF + GPS-PII scrub — m23's release-gate contract extended
    * to the WebP container ([[graft.operators.Multimodal.decodeWebpMeta]]'s
    * exif leg + [[graft.operators.Multimodal.stripWebpExif]] over the
    * EXIF-carrying [[Fixtures.webpLossyDocs]]): planted orientation /
    * GPS microdegrees replay in closed form through BOTH wild payload
    * forms (bare TIFF and "Exif\0\0"-prefixed), the scrub removes the
    * EXIF chunk and clears the VP8X feature flag (post-strip meta
    * shows no EXIF), statuses are the release tri-state, and lossless
    * frames prove pixels survive byte-identically via the dHash. */
  private def m28_webp_exif(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(Fixtures.webpLossyDocs(s, dir))
    val before = Multimodal.decodeWebpMeta(docs)
      .select(col("doc_id"),
        col("webp_meta.kind").as("kind"),
        col("webp_meta.has_exif").as("has_exif"),
        col("webp_meta.exif_orientation").as("exif_orientation"),
        col("webp_meta.exif_has_gps").as("exif_has_gps"),
        col("webp_meta.exif_lat_micro").as("exif_lat_micro"),
        col("webp_meta.exif_lon_micro").as("exif_lon_micro"))
    val stripped = Multimodal.stripWebpExif(docs)
    val after = Multimodal.decodeWebpMeta(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")),
        metaCol = "webp_after")
      .select(col("doc_id"),
        (col("webp_after.has_exif") === false).as("exif_gone"))
    val hb = Multimodal.decodeWebImageDHash(docs)
      .select(col("doc_id"), col("dhash.hash_hi").as("__hb1"),
        col("dhash.hash_lo").as("__hb2"))
    val ha = Multimodal.decodeWebImageDHash(
        stripped.select(col("doc_id"), col("payload_clean").as("payload")))
      .select(col("doc_id"), col("dhash.hash_hi").as("__ha1"),
        col("dhash.hash_lo").as("__ha2"))
    before
      .join(stripped.select(col("doc_id"), col("scrub_status")), Seq("doc_id"))
      .join(after, Seq("doc_id"))
      .join(hb, Seq("doc_id")).join(ha, Seq("doc_id"))
      .withColumn("pixels_intact",
        when(col("doc_id") % 2 === 0,
          col("__hb1") === col("__ha1") && col("__hb2") === col("__ha2")))
      .drop("__hb1", "__hb2", "__ha1", "__ha2")
      .orderBy("doc_id")
  }

  /** GIF animation metadata
    * ([[graft.operators.Multimodal.decodeGifMeta]] over
    * [[Fixtures.gifAnimDocs]]): frame counts, summed Graphic Control
    * delays and Netscape loop counts replay in closed form — a block
    * mis-skip anywhere in the walk shifts the frame count and goes
    * red. Complements m22's poster-frame decode with the
    * stills-vs-animations curation split. */
  private def m30_gif_anim(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeGifMeta(s.read.parquet(Fixtures.gifAnimDocs(s, dir)))
      .select(col("doc_id"),
        col("gif_meta.width").as("width"),
        col("gif_meta.height").as("height"),
        col("gif_meta.frames").as("frames"),
        col("gif_meta.animated").as("animated"),
        col("gif_meta.total_delay_cs").as("total_delay_cs"),
        col("gif_meta.loop_count").as("loop_count"))
      .orderBy("doc_id")

  /** MP3 frame-walk metadata
    * ([[graft.operators.Multimodal.decodeMp3Meta]] over
    * [[Fixtures.mp3Docs]]): version rotation across MPEG-1/2/2.5,
    * bitrate/sample-rate tables, padded frame sizes, VBR detection,
    * ID3v2 envelopes — the oracle replays every field including the
    * exact frame-walk duration in closed form, so a one-byte frame-
    * size error desyncs the walk and goes red on frames/duration. */
  private def m29_mp3_meta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMp3Meta(s.read.parquet(Fixtures.mp3Docs(s, dir)))
      .select(col("doc_id"),
        col("mp3_meta.version").as("version"),
        col("mp3_meta.bitrate_kbps").as("bitrate_kbps"),
        col("mp3_meta.sample_rate").as("sample_rate"),
        col("mp3_meta.channels").as("channels"),
        col("mp3_meta.frames").as("frames"),
        col("mp3_meta.duration_ms").as("duration_ms"),
        col("mp3_meta.vbr").as("vbr"),
        col("mp3_meta.has_id3").as("has_id3"))
      .orderBy("doc_id")

  private def m2_audio(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudioMeta(s.read.parquet(Fixtures.audioDocs(s, dir)))
      .select(col("doc_id"), col("audio_meta.sample_rate"),
        col("audio_meta.channels"), col("audio_meta.bits"),
        col("audio_meta.n_samples"), col("audio_meta.format"))
      .orderBy("doc_id")

  /** Real ISO-BMFF box-walk decode (mvhd + tkhd); oracle inverts the
    * fixture construction arithmetic like m1/m2. */
  private def m3_video(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoMeta(s.read.parquet(Fixtures.videoDocs(s, dir)))
      .select(col("doc_id"), col("video_meta.width"), col("video_meta.height"),
        col("video_meta.duration_ms"), col("video_meta.format"))
      .orderBy("doc_id")

  private def st1_stream_window(s: SparkSession, dir: String): DataFrame = {
    val agg = graft.streaming.Streams.windowedAgg(
      graft.streaming.Streams.eventsStream(s, dir))
    graft.streaming.Streams.runToMemory(agg, s"st1_${math.abs(dir.hashCode)}")
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")
  }

  /** Streaming expectation audit: Expect's counters accumulated ACROSS
    * micro-batches in the state store; the final rows must equal the
    * batch audit over everything delivered (the oracle recomputes). */
  private def st12_stream_audit(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingAudit(
      graft.streaming.Streams.eventsStream(s, dir),
      Seq(
        "value_positive" -> (col("value") > 0),
        "type_domain" -> col("event_type")
          .isin("view", "click", "purchase", "signup", "error"),
        "user_in_dim" -> (col("user_id") < 150),
        "value_under_400" -> (col("value") < 400)),
      s"st12_${math.abs(dir.hashCode)}")

  private def st2_session(s: SparkSession, dir: String): DataFrame =
    Fixtures.events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).cast("timestamp_ntz").as("session_start"))
      .select("user_id", "session_start", "n")
      .orderBy("user_id", "session_start")

  /** Stream-static join: the event stream joined to the (broadcast)
    * customer dimension, then a streaming aggregation — the standard
    * enrich-then-aggregate shape; the static side never recomputes per
    * micro-batch state. */
  private def st4_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Streams.eventsStream(s, dir)
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val agg = ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    graft.streaming.Streams.runToMemory(agg, s"st4_${math.abs(dir.hashCode)}")
      .orderBy("c_mktsegment", "event_type")
  }

  private def st3_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val deduped = graft.streaming.Streams.streamDedup(
      graft.streaming.Streams.eventsStream(s, dir), Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    graft.streaming.Streams.runToMemory(
        deduped, s"st3_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("user_id", "event_type")
  }

  /** Stream-stream join: each click matched to the same user's views in the
    * preceding 10 minutes, both sides watermarked (bounded state). Output is
    * id pairs only (determinism rule: no raw timestamps in results). */
  private def st5_stream_stream_join(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Streams.eventsStream(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val joined = graft.streaming.Streams.streamTimeJoin(
        clicks, views, "user_id", lookback = "10 minutes")
      .select(col("click_id"), col("view_id"))
    graft.streaming.Streams.runToMemory(
        joined, s"st5_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("click_id", "view_id")
  }

  /** Stream-stream LEFT OUTER join: every click, matched to same-user views
    * in the preceding 10 minutes OR null-extended once the watermark proves
    * no view can still arrive. Outer emission is watermark-gated, so the
    * replay stages the source as ordered files (`maxFilesPerTrigger = 1`)
    * and appends TWO far-future sentinel commits: the first advances the
    * watermark past all real data, the second gives the join a later batch
    * in which to emit the now-provably-unmatched rows — no reliance on
    * no-data micro-batches, no timestamp cutoffs in the result. The oracle
    * is the plain batch LEFT JOIN. */
  private def st15_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/outer_src_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = Fixtures.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select("event_id", "user_id", "ts", "event_type")
    ev.coalesce(1).write.parquet(base)
    def sentinel(days: Int): DataFrame = ev.orderBy(desc("ts")).limit(1)
      .select(explode(array(lit("click"), lit("view"))).as("event_type"),
        (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts"))
      .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        col("ts"), col("event_type"))
    sentinel(30).coalesce(1).write.mode("append").parquet(base)
    sentinel(60).coalesce(1).write.mode("append").parquet(base)
    val schema = s.read.parquet(base).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(base)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val views = stream.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
    val joined = graft.streaming.Streams.streamTimeJoin(
        clicks, views, "user_id", lookback = "10 minutes",
        delay = "1 minute", joinType = "left_outer")
      .select(col("click_id"), col("view_id"))
    graft.streaming.Streams.runToMemory(
        joined, s"st15_${math.abs(dir.hashCode)}", outputMode = "append")
      .filter(col("click_id") >= 0)
      .orderBy("click_id", "view_id")
  }

  /** Streaming materialized rollup: events staged as three files drain
    * through [[graft.streaming.Streams.maintainAggregateStream]] in three
    * micro-batches, each advancing the sidecar under the batch-id
    * exactly-once protocol. The final sidecar must equal the from-scratch
    * aggregation — the oracle computes exactly that. */
  private def st16_stream_agg_maintain(s: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val src = s"/tmp/graft_fixtures/stragg_src_$tag"
    val sidecar = s"/tmp/graft_fixtures/stragg_side_$tag"
    val cp = s"/tmp/graft_fixtures/stragg_cp_$tag"
    val conf = s.sessionState.newHadoopConf()
    for (p <- Seq(src, sidecar, sidecar + ".graft_agg_staging",
        sidecar + ".graft_agg_retired", cp)) {
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val ev = Fixtures.events(s, dir).select("user_id", "event_id", "value")
    for (part <- 0 to 2)
      ev.filter(col("event_id") % 3 === part)
        .coalesce(1).write.mode("append").parquet(src)
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.Streams.maintainAggregateStream(
      stream, sidecar, Seq("user_id"), Seq("value"), cp)
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(sidecar)
      .select(col("user_id"), col("n_rows"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** Streaming partitioned SINK: the events stream lands as a hive
    * partitioned table (one `event_type=...` dir per type), then the BATCH
    * scan path reads it back — closing the data-model loop
    * (stream in → partitioned tree → batch/stream out). */
  private def st6_stream_partitioned_sink(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/stream_sink_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val conf = s.sessionState.newHadoopConf()
    // the sink appends; a re-run must start from clean output + checkpoint
    Seq(base, base + "_cp").foreach { p =>
      val pp = new org.apache.hadoop.fs.Path(p)
      pp.getFileSystem(conf).delete(pp, true)
    }
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    val q = graft.streaming.Streams.writePartitionedStream(
      ev, base, Seq("event_type"), base + "_cp")
    try q.processAllAvailable() finally q.stop()
    Graft.readPartitionedTable(s, base)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy("event_id")
  }

  /** Incremental batch (Trigger.AvailableNow + checkpoint resume): the
    * first pass drains the initial half of events through a filter into a
    * file sink and terminates; the second pass, after the other half
    * arrives, must read ONLY the delta (`require`d on the source's input
    * row count — the incrementality witness) and land it exactly-once.
    * The sink's final aggregate equals the batch truth over everything. */
  private def st13_incremental(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/incr_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = Fixtures.events(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    val first = ev.filter(col("event_id") % 2 === 0)
    val delta = ev.filter(col("event_id") % 2 =!= 0)
    val src = s"$base/src"
    first.write.parquet(src)
    val schema = s.read.parquet(src).schema
    def xform(d: DataFrame): DataFrame = d.filter(col("value") > 5.0)
    val n1 = graft.streaming.Streams.incrementalRun(
      s, src, schema, s"$base/ck", s"$base/sink")(xform)
    require(n1 == first.count(), s"first pass read $n1 rows")
    delta.write.mode("append").parquet(src)
    val n2 = graft.streaming.Streams.incrementalRun(
      s, src, schema, s"$base/ck", s"$base/sink")(xform)
    require(n2 == delta.count(),
      s"second pass must read ONLY the delta: read $n2 of ${delta.count()}")
    s.read.parquet(s"$base/sink")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** STREAMING enforcement: the events stream routes through the s32
    * quarantine protocol micro-batch by micro-batch (checkpoint-keyed
    * tags → replay-idempotent in both destinations); the union of the
    * two landed tables must reproduce every verdict the batch oracle
    * computes. */
  /** STREAMING markup extraction — the crawl-ingest front door as a
    * stream: the per-document HTML wrapper of `t48` flows through
    * `extractMarkup` inside a file-source stream and lands via the
    * exactly-once parquet sink (checkpointed, AvailableNow). Semantics
    * are identical to the batch gate, so t48's direct-SQL oracle gates
    * the STREAMING execution (the st7 same-oracle convention). */
  private def st18_stream_extract(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/stext_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val schema = s.read.option("pathGlobFilter", "documents.parquet")
      .parquet(dir).schema
    val docs = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style type=\"text/css\">body {color: red}</style>"),
      lit("<script>if (1 &lt; 2) { alert(\"x\"); }</script></head>"),
      lit("<body><h1 class=\"t\">heading "), col("doc_id"), lit("</h1>"),
      lit("<!-- hidden "), col("lang"), lit(" --><p>"), col("text"),
      lit(" &amp; more&nbsp;text</p>"),
      lit("<div><b>bold</b> and <i>italic</i> words < 5 &#97;lpha</div>"),
      lit("<ul><li>first</li><li>second</li></ul></body></html>"))
    val q = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.extractMarkup(html).as("clean"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out").orderBy("doc_id")
  }

  /** The crawl front door as a STREAM: WARC files (HTTP-framed, half
    * gzipped — staged by a batch job, because real corpora ARRIVE as
    * WARC files) flow through record parsing → HTTP splitting →
    * charset decode → markup extraction → URL canonicalization under
    * `AvailableNow`, writing parquet exactly-once. Every stage is a
    * map-side kernel, so the streaming plan is the batch plan behind a
    * file source — t53's oracle gates the STREAMING execution (the
    * st7/st18 same-oracle convention). */
  private def st20_stream_crawl(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/scrawl_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("url", concat(
        lit("HTTP://Site"), (col("doc_id") % 9).cast("string"),
        lit(".COM:80/Doc/"), col("doc_id").cast("string"),
        lit("?utm_source=w&id="), col("doc_id").cast("string"), lit("#top")))
      .withColumn("html", concat(
        lit("<html><body><h1>Doc "), col("doc_id"), lit("</h1><p>"),
        col("text"), lit("</p><script>skip()</script></body></html>")))
    docs
      .groupBy((col("doc_id") % 7).as("file_id"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("url"), col("html")))).as("rs"))
      .select(col("file_id"), graft.functions.WarcBuildExpr(
        transform(col("rs"), r => struct(
          r.getField("url").as("url"),
          r.getField("html").cast("binary").as("body"))),
        col("file_id") % 2 === 0, lit(true)).as("warc"))
      .write.mode("overwrite").parquet(s"$base/warc")
    val schema = s.read.parquet(s"$base/warc").schema
    val q = s.readStream.schema(schema).parquet(s"$base/warc")
      .select(explode(graft.functions.WarcRecordsExpr(col("warc"))).as("rec"))
      .select(
        regexp_extract(col("rec.url"), "/Doc/([0-9]+)", 1).cast("long")
          .as("doc_id"),
        graft.functions.TextFunctions.normalizeUrl(col("rec.url"))
          .as("url_norm"),
        graft.functions.TextFunctions.extractMarkup(
          graft.functions.DecodeTextExpr(
            graft.functions.HttpPayloadExpr(col("rec.body"))
              .getField("body"))).as("clean"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/out").orderBy("doc_id")
  }

  /** Per-host crawl budget: each of the nine hosts keeps its 13 best
    * URLs by (priority desc, url) — the window-rank filter must plan as
    * a map-side partial top-k (WindowGroupLimit, asserted in
    * FrontierSpec), and the oracle replays the cap as the same rank.
    * See [[graft.operators.Frontier.capPerHost]]. */
  private def t61b_frontier_cap(s: SparkSession, dir: String): DataFrame = {
    val urls = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string")))
      .withColumn("priority", (col("doc_id") % 7).cast("int"))
    graft.operators.Frontier.capPerHost(urls, "url", "priority",
        maxPerHost = 13)
      .select("doc_id", "url", "priority")
      .orderBy("doc_id")
  }

  /** Stateful streaming frontier: the politeness sequence must CONTINUE
    * across micro-batches — even doc_ids stream first (one run), odd
    * doc_ids arrive later and the SECOND run (same checkpoint, state
    * restored) must hand them the NEXT slots per host, not restart at
    * slot 1. The oracle replays the whole schedule as one window
    * ordered by (arrival batch, priority desc, url), so a state reset,
    * a lost checkpoint, or a per-batch re-sort all go red.
    * See [[graft.streaming.Streams.frontierSchedule]]. */
  private def st21_stream_frontier(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/sfront_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("url", concat(
        lit("http://site"), (col("doc_id") % 9).cast("string"),
        lit(".com/Doc/"), col("doc_id").cast("string")))
      .withColumn("prio", (col("doc_id") % 7).cast("long"))
      .select("doc_id", "url", "prio")
    // one file per wave → one micro-batch per run (deterministic order)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/src")
    val schema = s.read.parquet(s"$base/src").schema
    def runWave(): Unit = {
      val q = graft.streaming.Streams.frontierSchedule(
          s.readStream.schema(schema).parquet(s"$base/src"),
          "url", "prio", delayMs = 500L)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runWave()
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$base/src")
    runWave()
    s.read.parquet(s"$base/out")
      .withColumn("doc_id",
        regexp_extract(col("url"), "/Doc/([0-9]+)$", 1).cast("long"))
      .select("doc_id", "url", "fetch_seq", "eta_ms")
      .orderBy("doc_id")
  }

  private def st14_stream_enforce(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_fixtures/stenf_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val bp = new org.apache.hadoop.fs.Path(base)
    bp.getFileSystem(s.sessionState.newHadoopConf()).delete(bp, true)
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select("event_id", "user_id", "event_type", "value")
    val checks = Seq(
      "value_le_15" -> (col("value") <= 15.0),
      "not_error" -> (col("event_type") =!= "error"))
    val q = graft.streaming.Streams.streamEnforce(
      ev, checks, s"$base/clean", s"$base/quar", s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/clean").withColumn("status", lit("ok"))
      .unionByName(s.read.parquet(s"$base/quar")
        .withColumn("status", lit("quarantined")))
      .select("event_id", "status", "gr_reasons")
      .orderBy("event_id")
  }

  /** STREAMING as-of enrichment: the events stream gains each user's
    * latest order ≤ ts via the broadcast sorted-lookup (no state, no
    * shuffle) — semantics identical to as1, so the same DuckDB batch ASOF
    * oracle gates the streaming execution. */
  private def st7_stream_asof(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val dim = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    val ev = graft.streaming.Streams.eventsStream(s, dir)
      .select("event_id", "user_id", "ts")
    val enriched = AsofJoin.asofEnrichBroadcast(ev, dim, "ts", "o_date_ts",
      "user_id", "o_custkey", Seq("o_orderkey", "o_totalprice"))
    graft.streaming.Streams.runToMemory(
        enriched.select("event_id", "user_id", "o_orderkey", "o_totalprice"),
        s"st7_${math.abs(dir.hashCode)}", outputMode = "append")
      .orderBy("event_id")
  }

  /** STREAMING minhash ingest gate: two micro-batches of new docs flow
    * through [[graft.streaming.Streams.minhashIngestGate]] against the
    * corpus's persisted index. Batch 1: verbatim copies of docs 0–9
    * (dropped) + junk docs (kept, appended to the index). Batch 2: copies
    * of batch 1's junk — dropped ONLY because batch 1's survivors were
    * appended, the index-growth leg — + novel docs (kept). File mtimes
    * pin the micro-batch order (`maxFilesPerTrigger=1`, oldest first);
    * the oracle replays the same batch-by-batch composition in SQL. */
  private def st8_stream_ingest_gate(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_fixtures/ingest_gate_" +
      java.net.URLEncoder.encode(dir, "UTF-8")
    val conf = s.sessionState.newHadoopConf()
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    val (incoming, idx, surv, cp) =
      (s"$base/incoming", s"$base/index", s"$base/survivors", s"$base/cp")
    val seed = t(s, dir, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
    val b1 = seed.select((col("doc_id") + 5000000L).as("new_id"), col("text"))
      .unionByName(seed.select((col("doc_id") + 6000000L).as("new_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text")))
    val b2 = seed.select((col("doc_id") + 7000000L).as("new_id"),
        concat(lit("junka junkb junkc "), col("doc_id").cast("string")).as("text"))
      .unionByName(seed.select((col("doc_id") + 8000000L).as("new_id"),
        concat(lit("novelq novelr novels "), col("doc_id").cast("string")).as("text")))
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getPath).toSet
    b1.coalesce(1).write.mode("append").parquet(incoming)
    val firstFiles = dataFiles
    b2.coalesce(1).write.mode("append").parquet(incoming)
    val secondFiles = dataFiles -- firstFiles
    firstFiles.foreach(p => fs.setTimes(p, 1000000000000L, -1))
    secondFiles.foreach(p => fs.setTimes(p, 1000000600000L, -1))
    Dedup.minhashIndexBuildAndWrite(t(s, dir, "documents"), "doc_id", "text", idx)
    val stream = s.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val q = graft.streaming.Streams.minhashIngestGate(stream, "new_id", "text",
      idx, surv, cp, threshold = 0.8)
    try q.processAllAvailable() finally q.stop()
    val kept = s.read.parquet(surv).select(col("new_id"), lit(true).as("kept"))
    b1.unionByName(b2).select("new_id")
      .join(kept, Seq("new_id"), "left")
      .select(col("new_id"), coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("new_id")
  }

  /** NEAREST as-of: same deterministic right side as as1, but each event
    * takes the CLOSEST order in time (backward wins distance ties) —
    * two as-of merges + an id-keyed recombination. The oracle picks the
    * same row with a lateral min-|Δt| (backward-preferring) query. */
  private def as4_asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast(e.schema("ts").dataType).as("o_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofNearest(e, o, "event_id", "ts", "o_ts", "user_id",
        "o_custkey", Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Tolerance-bounded as-of (the pandas `merge_asof(tolerance=…)`
    * contract): as1's enrichment, but matches staler than ~25.4 years
    * are nulled — a bound that genuinely splits this fixture (orders
    * span the 1990s, events sit in 2024). One merge + a codegen mask. */
  private def as5_asof_tolerance(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast(e.schema("ts").dataType).as("o_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinTolerance(e, o, "ts", "o_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"), toleranceSeconds = 800000000L)
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Leading-edge debounce at the q33 gap: exactly the session-opening
    * events; event_id pins equal-timestamp ties. */
  private def q37_debounce(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.debounce(
        Fixtures.events(s, dir).select("event_id", "user_id", "ts"),
        "user_id", "ts", gapSeconds = 21600, tieCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"))
      .orderBy("event_id")

  /** Top-3 TF-IDF terms per document over the whole vocabulary. */
  private def t28_tfidf_topk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfidfTopK(t(s, dir, "documents"), "doc_id",
        "text", k = 3)
      .orderBy("doc_id", "rank")

  /** Hashing-trick TF vectors at 64 buckets — vocabulary-free featurization;
    * the md5 bucketing replays byte-for-byte in the oracle. */
  private def t31_feature_hash(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.hashingTf(t(s, dir, "documents"),
        "doc_id", "text", numBuckets = 64)
      .orderBy("doc_id", "bucket")

  /** Sentence segmentation stats: terminator-run spans, first sentence,
    * exact mean length — the same pattern byte-for-byte in both regex
    * engines. See [[graft.functions.TextFunctions.sentences]]. */
  private def t35_sentences(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.sentences(col("text")).as("sn"))
      .select(col("doc_id"),
        size(col("sn")).cast("long").as("n_sentences"),
        coalesce(element_at(col("sn"), 1), lit("")).as("first_sentence"),
        when(size(col("sn")) > 0,
          aggregate(col("sn"), lit(0L), (a, x) => a + length(x))
            .cast("double") / size(col("sn"))).as("mean_len"))
      .orderBy("doc_id")

  /** Deterministic weighted Bernoulli sample: inclusion probability =
    * clamped length-based weight, decided by a salted md5 uniform both
    * engines compute identically. See
    * [[graft.operators.Sampling.weightedSample]]. */
  private def t36_weighted_sample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(t(s, dir, "documents"),
        "doc_id", weight = col("n_chars") / 800.0)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  /** Distribution-matching downsample: flatten the documents length
    * histogram (400-char bins, uniform target) via
    * [[graft.operators.Sampling.matchDistribution]] — per-bin keep
    * fractions planned by one bounded counting pass, decided per-row by
    * an exact BIGINT cross-multiplied inequality over a salted md5 slice,
    * so the oracle replays every acceptance decision bit-for-bit. */
  private def t41_dist_match(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("bin", expr("CAST(length(text) AS BIGINT) DIV 400"))
    graft.operators.Sampling.matchDistribution(d, "bin", "doc_id", salt = "dm1")
      .select(col("doc_id"), col("bin"))
      .orderBy("doc_id")
  }

  /** Weighted sampling without replacement via deterministic priority
    * sampling ([[graft.operators.Sampling.prioritySample]]): top-100
    * documents by `n_chars / u(doc_id)`. The oracle replays the salted
    * uniform and the division literally. */
  private def t43_priority_sample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.prioritySample(t(s, dir, "documents"),
        "doc_id", col("n_chars"), k = 100, salt = "pw")
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Deterministic θ-sketch overlap: the click-user and view-user KMV
    * sketches (k=64) intersected
    * ([[graft.operators.Theta.intersectEstimate]]); every quantity —
    * θ, shared-hash count, the integer-quotient estimate — is a pure
    * function of the data, so the oracle replays the ESTIMATOR itself. */
  private def t47_theta_intersect(s: SparkSession, dir: String): DataFrame = {
    val ev = Fixtures.events(s, dir)
    def sk(t: String) = graft.operators.Theta.sketch(
      ev.filter(col("event_type") === t).select("user_id"), "user_id", k = 64)
    graft.operators.Theta.intersectEstimate(sk("click"), sk("view"), k = 64)
  }

  /** Markup → clean text over a per-document synthetic HTML wrapper:
    * title/heading blocks, dropped style/script/comment content, entity
    * references, a literal `<`, numeric entities and list items — the
    * extractor must reduce it to the documented text + newline structure,
    * which the oracle states DIRECTLY as a SQL string expression (no
    * HTML parsing in DuckDB; the fixture is built by the same concat on
    * both sides). Edge grammar is pinned by MarkupExtractSpec.
    * See [[graft.functions.MarkupExtractExpr]]. */
  private def t48_markup_extract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style type=\"text/css\">body {color: red}</style>"),
      lit("<script>if (1 &lt; 2) { alert(\"x\"); }</script></head>"),
      lit("<body><h1 class=\"t\">heading "), col("doc_id"), lit("</h1>"),
      lit("<!-- hidden "), col("lang"), lit(" --><p>"), col("text"),
      lit(" &amp; more&nbsp;text</p>"),
      lit("<div><b>bold</b> and <i>italic</i> words < 5 &#97;lpha</div>"),
      lit("<ul><li>first</li><li>second</li></ul></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.extractMarkup(html).as("clean"))
      .orderBy("doc_id")
  }

  /** MAIN-CONTENT extraction (t48's tag-stripper plus WSDM 2010 block
    * densitometry and HTML5 landmark pruning) over a per-document page
    * with planted chrome: title, a link-only nav bar, an ad-carrying
    * aside and a footer must ALL drop, while the two long body
    * paragraphs survive — the oracle states the surviving text directly
    * (the t48 convention: fixture built by the same concat on both
    * sides, no HTML parsing in DuckDB). Both filler sentences exceed
    * the classifier's 16-word threshold on their own, so the verdict
    * never depends on the corpus text's length. Classifier contours
    * (teaser pruning, neighbor rescue, missing `</head>`) are pinned by
    * MainContentSpec. See [[graft.functions.MainContentExpr]]. */
  private val mcFiller1 = "Lead filler sentence with comfortably more " +
    "than the sixteen words the shallow classifier needs to call a " +
    "block content:"
  private val mcFiller2 = "A second body paragraph likewise carries " +
    "enough running words to stand as content on its own after the aside:"

  /** The t65/t65b fixture page: planted title/nav/aside/footer chrome
    * around two filler-led body paragraphs. */
  private def mcFixtureHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id"),
    lit("</title></head><body>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
      " <a href=\"/contact\">Contact</a></nav>"),
    lit(s"<p>$mcFiller1 "), col("text"), lit("</p>"),
    lit("<aside>Sponsored <a href=\"/deal"), col("doc_id"),
    lit("\">deal</a> today</aside>"),
    lit(s"<p>$mcFiller2 "), col("text"), lit("</p>"),
    lit("<footer>Copyright "), col("doc_id"),
    lit(" <a href=\"/privacy\">Privacy</a></footer></body></html>"))

  /** The web-to-corpus CLEANING chain composed end to end: the t65
    * fixture page grows a third ≥16-word paragraph of CONSTANT
    * boilerplate (long enough that the shallow content classifier
    * must call it content — exactly the text the cross-document
    * frequency rule exists to catch) and a planted mojibake suffix on
    * every doc_id % 3 == 0 body; main-content extraction, byte-level
    * mojibake repair, d26's corpus-frequency line drop and t80's
    * domain-quality filter then run as ONE DataFrame program. The
    * oracle replays all four stages in a single CTE chain — any
    * inter-stage contract drift (the t75 lesson) goes red. */
  private def t89_web_clean(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val moji = " cafÃ© itâ€™s " +
      "â€” done"
    val boiler = "please subscribe to our newsletter today for many " +
      "more updates delivered directly to your inbox every single " +
      "morning friend"
    val dirty = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(moji))).otherwise(col("text"))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
        " <a href=\"/contact\">Contact</a></nav>"),
      lit(s"<p>$mcFiller1 "), dirty, lit("</p>"),
      lit("<aside>Sponsored <a href=\"/deal"), col("doc_id"),
      lit("\">deal</a> today</aside>"),
      lit(s"<p>$mcFiller2 "), dirty, lit("</p>"),
      lit(s"<p>$boiler</p>"),
      lit("<footer>Copyright "), col("doc_id"),
      lit(" <a href=\"/privacy\">Privacy</a></footer></body></html>"))
    // dropFrequentLines consumes its input THREE times (frequent-line
    // count, anti-join keep, per-doc line count); uncached, the
    // mainContent + mojibake kernels re-ran per consumer. Persist the
    // kernel output once per computation (r20 optimization round, guide
    // §5.2); the cheap split/posexplode still runs per consumer — the
    // shuffle structure (tiny (hash, count) aggregates, anti-join) is
    // unchanged, only the expensive map-side kernels are deduplicated.
    val extracted = docs.select(col("doc_id"),
        graft.functions.MojibakeRepairExpr(
          graft.functions.TextFunctions.mainContent(html)).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lined = graft.operators.Dedup.dropFrequentLines(
      extracted, "doc_id", "text", minCount = 3)
    val hosts = array(lit("news.example.com"), lit("blog.example.co.uk"),
      lit("ads.spamfarm.co.uk"), lit("example.org"),
      lit("cdn.assets.example.org"), lit("static.junk.com"))
    val base = conv(substring(md5(concat(lit("dq:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val scored = lined.select(col("doc_id"), col("text_clean"),
      col("n_dropped"),
      concat(lit("https://"),
        element_at(hosts, (col("doc_id") % 6 + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string")).as("url"),
      when(col("doc_id") % 6 === 2, base % 30)
        .otherwise(base % 70 + 30).as("score"))
    graft.operators.CacheRelease.afterFirstAction(
      graft.operators.Frontier.dropLowQualityDomains(scored, "url", "score",
          Seq("com", "org", "net", "co.uk", "ac.uk", "github.io"),
          minMeanNum = 40L)
        .select(col("doc_id"), col("domain"), col("score"),
          col("text_clean"), col("n_dropped"))
        .orderBy("doc_id"),
      Seq(extracted))
  }

  /** JSON-LD structured-data harvest
    * ([[graft.functions.TextFunctions.jsonLdBlocks]] +
    * `get_json_object`): each fixture page carries an Article block
    * (doc-derived name/wordCount), a Product block on doc_id % 5 == 0,
    * and a MALFORMED decoy block whose fields must surface as nulls —
    * never a task kill, never silently dropped (the block itself still
    * counts). The oracle states the planted fields in closed form. */
  private def t91_jsonld(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val article = concat(
      lit("""<script type="application/ld+json">{"@type":"Article","name":"Doc """),
      col("doc_id"), lit("""","wordCount":"""), col("n_chars"),
      lit("}</script>"))
    val product = when(col("doc_id") % 5 === 0, concat(
      lit("""<script TYPE='application/ld+json'> {"@type":"Product","name":"Gadget """),
      col("doc_id"), lit(""""} </script>"""))).otherwise(lit(""))
    val decoy = lit(
      """<script type="application/ld+json">{"@type": broken</script>""")
    val html = concat(lit("<html><head>"), article, product, decoy,
      lit("</head><body><script>var x = 1;</script>ignored</body></html>"))
    docs.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.jsonLdBlocks(html))
          .as(Seq("block_ix", "__b")))
      .select(col("doc_id"), col("block_ix").cast("int").as("block_ix"),
        get_json_object(col("__b"), "$['@type']").as("jtype"),
        get_json_object(col("__b"), "$.name").as("name"),
        get_json_object(col("__b"), "$.wordCount").cast("long")
          .as("word_count"))
      .orderBy("doc_id", "block_ix")
  }

  private def t65_main_content(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.mainContent(mcFixtureHtml)
          .as("content"))
      .orderBy("doc_id")

  /** The per-BLOCK feature table of the same fixture page (the WSDM
    * 2010 shallow features as data): six blocks per document in page
    * order, every word/anchor count, chrome flag and content verdict
    * closed-form — the training-data shape for a custom content
    * classifier, and an audit surface for the built-in verdicts. The
    * blocks→verdict composition identity (content blocks joined = the
    * t65 scalar) is spec-pinned.
    * See [[graft.functions.MainContentBlocksExpr]]. */
  private def t65b_main_content_blocks(
      s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.mainContentBlocks(mcFixtureHtml)))
      .select(col("doc_id"), col("pos").cast("int").as("block_ix"),
        col("col.text").as("btext"), col("col.words").as("words"),
        col("col.anchor_words").as("anchor_words"),
        col("col.chrome").cast("int").as("chrome"),
        col("col.is_content").cast("int").as("is_content"))
      .orderBy("doc_id", "block_ix")

  /** Conversation assembly over the event log: per-user ordered
    * transcript of "event_type: props" lines, capped at 50 turns (some
    * users exceed it at this SF, so the WindowGroupLimit cap binds and
    * the oracle replays it). See [[graft.operators.Conversations]]. */
  private def t30_conversations(s: SparkSession, dir: String): DataFrame =
    graft.operators.Conversations.assemble(
        Fixtures.events(s, dir), "user_id", "ts", "event_id",
        roleCol = col("event_type"), textCol = col("props"), maxTurns = 50)
      .orderBy("user_id")

  /** Ordered-step funnel view→click→purchase per user: each step's first
    * strictly-later completion, one shuffle, stacked same-partition
    * windows. See [[graft.operators.Funnel]]. */
  private def q38_funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnel(Fixtures.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .select(col("user_id"), col("steps_completed"),
        col("step_1_ts").cast("timestamp_ntz").as("step_1_ts"),
        col("step_2_ts").cast("timestamp_ntz").as("step_2_ts"),
        col("step_3_ts").cast("timestamp_ntz").as("step_3_ts"))
      .orderBy("user_id")

  /** Corpus diff: B = documents with ids %17==0 removed, %13==0 texts
    * suffixed (changed), and 10 fresh ids added — the oracle replays
    * the same derivation with direct text equality. */
  private def d15_corpus_diff(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "documents").select("doc_id", "text")
    val b = a.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(a.limit(0)
        .unionByName(s.range(10).select(
          (col("id") + 8000000L).as("doc_id"), lit("fresh doc").as("text"))))
    graft.operators.Dedup.corpusDiff(a, b, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Cohort retention over events: users cohorted by first-seen UTC day,
    * distinct-active counts per (cohort, day offset). */
  private def q39_retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.retention(Fixtures.events(s, dir), "user_id", "ts")
      .orderBy("cohort_date", "day_offset")

  private def as1_asof(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    // deterministic right side: one order per (custkey, date) — largest key
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    AsofJoin.asofJoin(e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Same query as as1 through the native plan node (AsofJoinExec) —
    * o_orderdate is cast to timestamp because the native merge requires
    * identical time types (the union composition coerced implicitly).
    * The orders side is repartitioned by custkey FIRST: HashPartitioning
    * (custkey) satisfies both the dedup window's (custkey, orderdate)
    * clustering and the join's ClusteredDistribution(custkey), so the
    * whole right side rides ONE exchange end-to-end. */
  private def as2_asof_native(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .repartition(col("o_custkey"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinNative(e, o, "ts", "o_date_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
      .orderBy("event_id")
  }

  /** Payload-consuming aggregate over the NATIVE as-of join. Exists so the
    * bench has an as-of entry whose `count()` cannot be optimized into
    * join elimination (as1/as2's bare counts elide the join entirely, on
    * both the composition and — via AsofJoinPushdown's left-preserving
    * rule — the native node): the per-user sum references the right
    * payload, so this measures the actual co-partitioned merge. Decimal
    * cast before the sum keeps the oracle comparison order-independent. */
  private def as3_asof_sum(s: SparkSession, dir: String): DataFrame = {
    val e = Fixtures.events(s, dir).select("event_id", "user_id", "ts")
    val w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(desc("o_orderkey"))
    val o = t(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp").as("o_date_ts"),
        col("o_orderkey"), col("o_totalprice"))
    AsofJoin.asofJoinNative(e, o, "ts", "o_date_ts", "user_id", "o_custkey",
        Seq("o_orderkey", "o_totalprice"))
      .groupBy("user_id")
      .agg(count(col("o_orderkey")).as("n_matched"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("matched_total"))
      .orderBy("user_id")
  }

  private def rj1_range_join(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val points = Fixtures.events(s, dir)
      .select(col("event_id"), (col("value") * 1000).as("p"))
    val ranges = t(s, dir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice") - 100).as("lo"), (col("p_retailprice") + 100).as("hi"))
    RangeJoin.pointInInterval(points, ranges, "p", "lo", "hi", bucketWidth = 200.0)
      .groupBy("event_id").agg(count(lit(1)).as("n_parts"))
      .orderBy("event_id")
  }

  /** Interval-OVERLAP join, blocking proven lossless: "which shipments
    * were in flight during each audit window" — lineitem
    * [l_shipdate, l_receiptdate] (epoch days) against 25 synthetic
    * 15-day windows spread over the data range. The oracle is the
    * BRUTE-FORCE overlap theta-join, so a pair lost to bucket
    * fragmentation, or duplicated by a missing canonical-bucket cut,
    * breaks the hash. Counts per window keep the output bounded. */
  private def rj2_interval_join(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val epoch = to_date(lit("1970-01-01"))
    val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), epoch).cast("long").as("s"))
      // no receipt date in this testdata: a deterministic 5-25 day transit
      .withColumn("e", col("s") + col("l_linenumber").cast("long") * 5L)
    val base = datediff(to_date(lit("1992-01-01")), epoch).cast("long")
    val w = t(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("window_id"),
      (base + col("n_nationkey") * 100L).as("ws"),
      (base + col("n_nationkey") * 100L + 15L).as("we"))
    RangeJoin.intervalOverlap(li, w, "s", "e", "ws", "we", bucketWidth = 32.0)
      .groupBy("window_id").agg(count(lit(1)).as("n_in_flight"))
      .orderBy("window_id")
  }

  /** HLL++ distinct counts, emitted ORACLE-COMPARABLY: per group the EXACT
    * distinct counts (recomputable in any engine) plus `within_band`
    * booleans asserting |approx − exact|/exact ≤ 5% computed IN-QUERY from
    * the HLL++ estimate. The estimates themselves are engine-specific
    * register states that can never hash-match another engine — the band
    * booleans CAN, so the gate is machine-checkable end-to-end: an HLL
    * seed/rsd/merge regression beyond the band flips a boolean and the
    * hash goes red (the raw-estimate properties — determinism,
    * partition-invariance, the band itself — stay pinned in ApproxSpec).
    * rsd = 0.02 (4096 registers — still O(1) per group at any corpus
    * size) puts the 5% band at 2.5σ; the default rsd = 0.05 measurably
    * exceeds it on this data (8.6% on one group). The exact countDistinct
    * columns are GATE scaffolding — a 100 TB job runs the approx alone
    * (that being the point of HLL); the gate pays them to make the band
    * hash-checkable. */
  private def q19_approx_hll(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("__ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("__ao"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("__ap") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("parts_in_band"),
        (abs(col("__ao") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.05).as("orders_in_band"))
      .orderBy("l_returnflag")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_scan_hive" -> (s1_scan_hive _),
    "s5_scan_grammar" -> (s5_scan_grammar _),
    "s6_scan_fixed" -> (s6_scan_fixed _),
    "s7_scan_daterange" -> (s7_scan_daterange _),
    "s7b_scan_dategen" -> (s7b_scan_dategen _),
    "s11_scan_atomic" -> (s11_scan_atomic _),
    "s15_scan_lex" -> (s15_scan_lex _),
    "s17_write_roundtrip" -> (s17_write_roundtrip _),
    "s24_write_partitioned" -> (s24_write_partitioned _),
    "s31_vacuum" -> (s31_vacuum _),
    "s32_quarantine" -> (s32_quarantine _),
    "s33_bloom_skip" -> (s33_bloom_skip _),
    "s34_fk_audit" -> (s34_fk_audit _),
    "q45_join_card" -> (q45_join_card _),
    "q44_resample" -> (q44_resample _),
    "q49_fuzzy_link" -> (q49_fuzzy_link _),
    "q50_transitions" -> (q50_transitions _),
    "q51_anomaly" -> (q51_anomaly _),
    "q52_ks_drift" -> (q52_ks_drift _),
    "q53_ewma" -> (q53_ewma _),
    "q54_cusum" -> (q54_cusum _),
    "q55_trend" -> (q55_trend _),
    "q56_corr" -> (q56_corr _),
    "s38_relayout" -> (s38_relayout _),
    "s39_agg_maintain" -> (s39_agg_maintain _),
    "s40_export_shards" -> (s40_export_shards _),
    "t42_pref_pairs" -> (t42_pref_pairs _),
    "d18_jaccard_join" -> (d18_jaccard_join _),
    "a10_binary_hamming" -> (a10_binary_hamming _),
    "a11_mmr" -> (a11_mmr _),
    "a12_ann_filtered" -> (a12_ann_filtered _),
    "a13_matryoshka" -> (a13_matryoshka _),
    "a14_ivf_delete" -> (a14_ivf_delete _),
    "m14_image_dedup_join" -> (m14_image_dedup_join _),
    "m15_audio_dedup_join" -> (m15_audio_dedup_join _),
    "s35_snapshot" -> (s35_snapshot _),
    "s25_compact" -> (s25_compact _),
    "s26_merge" -> (s26_merge _),
    "s27_read_tagged" -> (s27_read_tagged _),
    "s28_expect" -> (s28_expect _),
    "s29_profile" -> (s29_profile _),
    "s30_zonemap" -> (s30_zonemap _),
    "q36_histogram" -> (q36_histogram _),
    "q46_histogram2d" -> (q46_histogram2d _),
    "s37_profile_diff" -> (s37_profile_diff _),
    "q40_window_suite" -> (q40_window_suite _),
    "q41_unpivot" -> (q41_unpivot _),
    "q42_outliers" -> (q42_outliers _),
    "q43_equidepth" -> (q43_equidepth _),
    "t30_conversations" -> (t30_conversations _),
    "t31_feature_hash" -> (t31_feature_hash _),
    "t41_dist_match" -> (t41_dist_match _),
    "t43_priority_sample" -> (t43_priority_sample _),
    "t44_leakage_split" -> (t44_leakage_split _),
    "t45_hard_negatives" -> (t45_hard_negatives _),
    "t47_theta_intersect" -> (t47_theta_intersect _),
    "t48_markup_extract" -> (t48_markup_extract _),
    "t65_main_content" -> (t65_main_content _),
    "t65b_main_content_blocks" -> (t65b_main_content_blocks _),
    "t49_bitext" -> (t49_bitext _),
    "st18_stream_extract" -> (st18_stream_extract _),
    "st20_stream_crawl" -> (st20_stream_crawl _),
    "st21_stream_frontier" -> (st21_stream_frontier _),
    "t61b_frontier_cap" -> (t61b_frontier_cap _),
    "t56b_sitemap_index" -> (t56b_sitemap_index _),
    "s18_scan_lazy" -> (s18_scan_lazy _),
    "s21_scan_identity" -> (s21_scan_identity _),
    "s9_scan_csv" -> (s9_scan_csv _),
    "s9_scan_json" -> (s9_scan_json _),
    "s9_scan_xlsx" -> (s9_scan_xlsx _),
    "q1_agg" -> (q1_agg _),
    "q2_filter" -> (q2_filter _),
    "q3_join_agg" -> (q3_join_agg _),
    "q4_semijoin" -> (q4_semijoin _),
    "q5_antijoin" -> (q5_antijoin _),
    "q6_window" -> (q6_window _),
    "q7_topk" -> (q7_topk _),
    "q8_setops" -> (q8_setops _),
    "q9_distinct" -> (q9_distinct _),
    "q10_rollup" -> (q10_rollup _),
    "q11_string" -> (q11_string _),
    "q12_date" -> (q12_date _),
    "q13_case" -> (q13_case _),
    "q14_having" -> (q14_having _),
    "q15_math" -> (q15_math _),
    "q16_array" -> (q16_array _),
    "q17_json" -> (q17_json _),
    "q18_cube" -> (q18_cube _),
    "q19_approx_hll" -> (q19_approx_hll _),
    "q20_multijoin" -> (q20_multijoin _),
    "q21_grouping_sets" -> (q21_grouping_sets _),
    "q22_corr_subquery" -> (q22_corr_subquery _),
    "q23_scalar_subquery" -> (q23_scalar_subquery _),
    "q24_percentile" -> (q24_percentile _),
    "q25_semi_anti_combo" -> (q25_semi_anti_combo _),
    "q26_cte" -> (q26_cte _),
    "q27_union_all" -> (q27_union_all _),
    "q28_pivot" -> (q28_pivot _),
    "q29_range_window" -> (q29_range_window _),
    "q30_posexplode" -> (q30_posexplode _),
    "q31_array_quantifiers" -> (q31_array_quantifiers _),
    "q32_rows_window" -> (q32_rows_window _),
    "q33_sessionize" -> (q33_sessionize _),
    "q34_bloom_join" -> (q34_bloom_join _),
    "q35_concurrency" -> (q35_concurrency _),
    "d1_dedup_exact" -> (d1_dedup_exact _),
    "d2_dedup_minhash" -> (d2_dedup_minhash _),
    "d3_dedup_simhash" -> (d3_dedup_simhash _),
    "d4_ngram_jaccard" -> (d4_ngram_jaccard _),
    "d5_embed_neardup" -> (d5_embed_neardup _),
    "d13_semdedup" -> (d13_semdedup _),
    "d19_semdedup_append" -> (d19_semdedup_append _),
    "d20_span_dedup" -> (d20_span_dedup _),
    "d20b_span_dedup_multi" -> (d20b_span_dedup_multi _),
    "d24_substr_dedup" -> (d24_substr_dedup _),
    "d26_line_boilerplate" -> (d26_line_boilerplate _),
    "t50_pdf_extract" -> (t50_pdf_extract _),
    "t73_docx_extract" -> (t73_docx_extract _),
    "t51_url_normalize" -> (t51_url_normalize _),
    "t52_warc_roundtrip" -> (t52_warc_roundtrip _),
    "t53_crawl_pipeline" -> (t53_crawl_pipeline _),
    "t54_robots" -> (t54_robots _),
    "t54b_robots_wildcard" -> (t54b_robots_wildcard _),
    "t59_http_payload" -> (t59_http_payload _),
    "t59b_http_chunked" -> (t59b_http_chunked _),
    "t60_html_meta" -> (t60_html_meta _),
    "t61_outlinks" -> (t61_outlinks _),
    "t66_seen_urls" -> (t66_seen_urls _),
    "t67_crawl_backedge" -> (t67_crawl_backedge _),
    "st22_stream_seen" -> (st22_stream_seen _),
    "st25_stream_feeds" -> (st25_stream_feeds _),
    "st26_stream_outcomes" -> (st26_stream_outcomes _),
    "t107_redirects" -> (t107_redirects _),
    "t107b_redirect_migration" -> (t107b_redirect_migration _),
    "t107c_redirect_relative" -> (t107c_redirect_relative _),
    "t107d_redirect_compaction" -> (t107d_redirect_compaction _),
    "st27_stream_redirects" -> (st27_stream_redirects _),
    "t68_fetch_plan" -> (t68_fetch_plan _),
    "t72_revisit_schedule" -> (t72_revisit_schedule _),
    "t94_revalidation" -> (t94_revalidation _),
    "t94b_revalidation_retained" -> (t94b_revalidation_retained _),
    "t95_feed_discovery" -> (t95_feed_discovery _),
    "t96_anchor_text" -> (t96_anchor_text _),
    "t97_cache_control" -> (t97_cache_control _),
    "t98_conditional_fetch_plan" -> (t98_conditional_fetch_plan _),
    "t99_crawl_diff" -> (t99_crawl_diff _),
    "t100_incremental_clean" -> (t100_incremental_clean _),
    "t62_nfc_normalize" -> (t62_nfc_normalize _),
    "t54c_robots_sitemaps" -> (t54c_robots_sitemaps _),
    "t63_unigram_tokens" -> (t63_unigram_tokens _),
    "t63b_unigram_exact" -> (t63b_unigram_exact _),
    "t54d_robots_crawldelay" -> (t54d_robots_crawldelay _),
    "t64_curation_pipeline" -> (t64_curation_pipeline _),
    "d21_dedup_keep_best" -> (d21_dedup_keep_best _),
    "t55_charset" -> (t55_charset _),
    "t56_sitemap" -> (t56_sitemap _),
    "t56c_sitemap_lastmod" -> (t56c_sitemap_lastmod _),
    "t57_dictionary_tag" -> (t57_dictionary_tag _),
    "t57b_dictionary_tag_table" -> (t57b_dictionary_tag_table _),
    "t58_compressibility" -> (t58_compressibility _),
    "g1_pagerank" -> (g1_pagerank _),
    "g2_triangles" -> (g2_triangles _),
    "g3_kcore" -> (g3_kcore _),
    "g4_bfs" -> (g4_bfs _),
    "g6_sssp" -> (g6_sssp _),
    "g7_trustrank" -> (g7_trustrank _),
    "t102_crawl_trust" -> (t102_crawl_trust _),
    "t103_politeness_audit" -> (t103_politeness_audit _),
    "t104_host_health" -> (t104_host_health _),
    "t105_retry_after" -> (t105_retry_after _),
    "t106_crawl_control" -> (t106_crawl_control _),
    "t108_budgeted_wave" -> (t108_budgeted_wave _),
    "ml1_linprobe" -> (ml1_linprobe _),
    "ml2_logreg" -> (ml2_logreg _),
    "ml3_naive_bayes" -> (ml3_naive_bayes _),
    "g5_label_prop" -> (g5_label_prop _),
    "q47_cumulative_distinct" -> (q47_cumulative_distinct _),
    "d6_dedup_pipeline" -> (d6_dedup_pipeline _),
    "d7_connected_components" -> (d7_connected_components _),
    "d28_neardup_keepbest" -> (d28_neardup_keepbest _),
    "d8_decontam" -> (d8_decontam _),
    "d8b_decontam_drop" -> (d8b_decontam_drop _),
    "d27_decontam_report" -> (d27_decontam_report _),
    "d22_decontam_fuzzy" -> (d22_decontam_fuzzy _),
    "d23_dsir_select" -> (d23_dsir_select _),
    "d25_embed_decontam" -> (d25_embed_decontam _),
    "d25b_embed_decontam_lsh" -> (d25b_embed_decontam_lsh _),
    "d9_pipeline_full" -> (d9_pipeline_full _),
    "d10_span_stats" -> (d10_span_stats _),
    "d10b_span_stats_hashed" -> (d10b_span_stats_hashed _),
    "d12_chunk_dedup" -> (d12_chunk_dedup _),
    "d12b_chunk_dedup_hashed" -> (d12b_chunk_dedup_hashed _),
    "d14_keepfirst_chunks" -> (d14_keepfirst_chunks _),
    "d14b_keepfirst_hashed" -> (d14b_keepfirst_hashed _),
    "d11_dedup_incremental" -> (d11_dedup_incremental _),
    "a1_ann_brute" -> (a1_ann_brute _),
    "a2_ann_lsh" -> (a2_ann_lsh _),
    "a4_ann_batch" -> (a4_ann_batch _),
    "a6_ann_join" -> (a6_ann_join _),
    "a6b_ann_join_salted" -> (a6b_ann_join_salted _),
    "a9_ivf_rebuild" -> (a9_ivf_rebuild _),
    "a7_ann_ivf_join" -> (a7_ann_ivf_join _),
    "a8_ann_ivfpq_join" -> (a8_ann_ivfpq_join _),
    "a5_ann_ivf_batch" -> (a5_ann_ivf_batch _),
    "a3_ann_ivf" -> (a3_ann_ivf _),
    "a16_ivf_multiassign" -> (a16_ivf_multiassign _),
    "a15_graph_ann" -> (a15_graph_ann _),
    "a15b_graph_ann_append" -> (a15b_graph_ann_append _),
    "a15c_graph_ann_multiassign" -> (a15c_graph_ann_multiassign _),
    "a15d_graph_ann_delete" -> (a15d_graph_ann_delete _),
    "p1_ann_pq" -> (p1_ann_pq _),
    "p2_ann_ivfpq" -> (p2_ann_ivfpq _),
    "p3_ann_pq_batch" -> (p3_ann_pq_batch _),
    "p4_ann_pq_rerank" -> (p4_ann_pq_rerank _),
    "a3b_ann_ivf_append" -> (a3b_ann_ivf_append _),
    "st9_stream_ivf_ingest" -> (st9_stream_ivf_ingest _),
    "st19_stream_nsw_ingest" -> (st19_stream_nsw_ingest _),
    "st10_stream_pq_ingest" -> (st10_stream_pq_ingest _),
    "st11_stream_stateful" -> (st11_stream_stateful _),
    "st12_stream_audit" -> (st12_stream_audit _),
    "st13_incremental" -> (st13_incremental _),
    "st14_stream_enforce" -> (st14_stream_enforce _),
    "t1_langid" -> (t1_langid _),
    "t1b_langid_ngram" -> (t1b_langid_ngram _),
    "t2_quality" -> (t2_quality _),
    "t3_tokens" -> (t3_tokens _),
    "t3b_tokens_bpe" -> (t3b_tokens_bpe _),
    "t3c_bpe_vocab_exact" -> (t3c_bpe_vocab_exact _),
    "t40b_bpe_exact_counts" -> (t40b_bpe_exact_counts _),
    "t3d_bytebpe_vocab" -> (t3d_bytebpe_vocab _),
    "t40c_bytebpe_counts" -> (t40c_bytebpe_counts _),
    "t40d_bytebpe_encode" -> (t40d_bytebpe_encode _),
    "t4_fingerprint" -> (t4_fingerprint _),
    "t5_quality_filter" -> (t5_quality_filter _),
    "t6_redact_pii" -> (t6_redact_pii _),
    "t7_repetition" -> (t7_repetition _),
    "t8_split" -> (t8_split _),
    "t9_pack" -> (t9_pack _),
    "t69_pack_chop" -> (t69_pack_chop _),
    "t70_span_corruption" -> (t70_span_corruption _),
    "t71_sft_mask" -> (t71_sft_mask _),
    "t75_training_run" -> (t75_training_run _),
    "m16_interleave" -> (m16_interleave _),
    "m16b_interleave_media" -> (m16b_interleave_media _),
    "m17_aspect_bucket" -> (m17_aspect_bucket _),
    "t10_mix" -> (t10_mix _),
    "t10b_mix_temperature" -> (t10b_mix_temperature _),
    "t74_doremi_mix" -> (t74_doremi_mix _),
    "t76_curriculum" -> (t76_curriculum _),
    "t78_quality_filter" -> (t78_quality_filter _),
    "t79_retrieval_metrics" -> (t79_retrieval_metrics _),
    "t80_domain_rollup" -> (t80_domain_rollup _),
    "t82_ul2_plan" -> (t82_ul2_plan _),
    "t83_crawl_rank" -> (t83_crawl_rank _),
    "t84_mojibake" -> (t84_mojibake _),
    "ml4_calibration" -> (ml4_calibration _),
    "t85_context_order" -> (t85_context_order _),
    "t86_kanon" -> (t86_kanon _),
    "st23_stream_boilerplate" -> (st23_stream_boilerplate _),
    "t87_bestfit_pack" -> (t87_bestfit_pack _),
    "m18_shot_detect" -> (m18_shot_detect _),
    "ml5_auc" -> (ml5_auc _),
    "t88_inverted_index" -> (t88_inverted_index _),
    "t89_web_clean" -> (t89_web_clean _),
    "st24_stream_inverted" -> (st24_stream_inverted _),
    "m19_audio_vad" -> (m19_audio_vad _),
    "m20_pdf_images" -> (m20_pdf_images _),
    "m21_crossformat_dedup" -> (m21_crossformat_dedup _),
    "m22_webformat_dedup" -> (m22_webformat_dedup _),
    "m23_exif" -> (m23_exif _),
    "m24_oriented_dedup" -> (m24_oriented_dedup _),
    "m25_progressive_dedup" -> (m25_progressive_dedup _),
    "m26_oriented_jpeg" -> (m26_oriented_jpeg _),
    "m27_webp_meta" -> (m27_webp_meta _),
    "m28_webp_exif" -> (m28_webp_exif _),
    "m29_mp3_meta" -> (m29_mp3_meta _),
    "m30_gif_anim" -> (m30_gif_anim _),
    "ml6_confusion" -> (ml6_confusion _),
    "ml7_confusion_sweep" -> (ml7_confusion_sweep _),
    "t91_jsonld" -> (t91_jsonld _),
    "t92_meta_robots" -> (t92_meta_robots _),
    "t93_nofollow_links" -> (t93_nofollow_links _),
    "t77_token_budget" -> (t77_token_budget _),
    "t109_epoch_waterfill" -> (t109_epoch_waterfill _),
    "t110_epoch_draw" -> (t110_epoch_draw _),
    "t11_perplexity" -> (t11_perplexity _),
    "t20_backoff_lm" -> (t20_backoff_lm _),
    "t12_termstats" -> (t12_termstats _),
    "t12b_bm25" -> (t12b_bm25 _),
    "t12c_bm25_join" -> (t12c_bm25_join _),
    "t101_hard_negatives" -> (t101_hard_negatives _),
    "t12d_bm25_weighted" -> (t12d_bm25_weighted _),
    "t12e_bm25_join_salted" -> (t12e_bm25_join_salted _),
    "h1_hybrid_join" -> (h1_hybrid_join _),
    "t13_rrf" -> (t13_rrf _),
    "t14_normalize" -> (t14_normalize _),
    "t15_heavyhitters" -> (t15_heavyhitters _),
    "t16_sample" -> (t16_sample _),
    "t21_negatives" -> (t21_negatives _),
    "t22_shuffle" -> (t22_shuffle _),
    "t24_pmi" -> (t24_pmi _),
    "t29_kl_drift" -> (t29_kl_drift _),
    "t26_group_split" -> (t26_group_split _),
    "t27_sample_exact" -> (t27_sample_exact _),
    "t17_quantile_sketch" -> (t17_quantile_sketch _),
    "t17b_quantile_by_group" -> (t17b_quantile_by_group _),
    "t18_chunk_chars" -> (t18_chunk_chars _),
    "t18b_chunk_words" -> (t18b_chunk_words _),
    "t18c_chunk_cdc" -> (t18c_chunk_cdc _),
    "t14b_normalize_fold" -> (t14b_normalize_fold _),
    "e1_quantize" -> (e1_quantize _),
    "e2_l2norm" -> (e2_l2norm _),
    "e3_meanpool" -> (e3_meanpool _),
    "e4_pca" -> (e4_pca _),
    "e6_standardize" -> (e6_standardize _),
    "e5_centroid_sim" -> (e5_centroid_sim _),
    "d16_containment" -> (d16_containment _),
    "s36_merge_schema" -> (s36_merge_schema _),
    "t34_tokenize_pack" -> (t34_tokenize_pack _),
    "t35_sentences" -> (t35_sentences _),
    "t36_weighted_sample" -> (t36_weighted_sample _),
    "t38_embed_pipeline" -> (t38_embed_pipeline _),
    "t40_bpe_encode" -> (t40_bpe_encode _),
    "m1_multimodal" -> (m1_multimodal _),
    "m4_pixels" -> (m4_pixels _),
    "m8_resize" -> (m8_resize _),
    "m11_image_dhash" -> (m11_image_dhash _),
    "m12_audio_fingerprint" -> (m12_audio_fingerprint _),
    "m13_video_fingerprint" -> (m13_video_fingerprint _),
    "d17_multimodal_dedup" -> (d17_multimodal_dedup _),
    "q48_time_rollup" -> (q48_time_rollup _),
    "m6_jpeg_pixels" -> (m6_jpeg_pixels _),
    "m7_jpeg_420" -> (m7_jpeg_420 _),
    "m2_audio" -> (m2_audio _),
    "m9_audio_decimate" -> (m9_audio_decimate _),
    "m10_frame_sample" -> (m10_frame_sample _),
    "m5_audio_pcm" -> (m5_audio_pcm _),
    "m3_video" -> (m3_video _),
    "st1_stream_window" -> (st1_stream_window _),
    "st2_session" -> (st2_session _),
    "st3_stream_dedup" -> (st3_stream_dedup _),
    "st4_stream_static_join" -> (st4_stream_static_join _),
    "st5_stream_stream_join" -> (st5_stream_stream_join _),
    "st15_stream_outer_join" -> (st15_stream_outer_join _),
    "st16_stream_agg_maintain" -> (st16_stream_agg_maintain _),
    "st17_stream_upsert" -> (st17_stream_upsert _),
    "st6_stream_partitioned_sink" -> (st6_stream_partitioned_sink _),
    "st7_stream_asof" -> (st7_stream_asof _),
    "st8_stream_ingest_gate" -> (st8_stream_ingest_gate _),
    "as1_asof" -> (as1_asof _),
    "as2_asof_native" -> (as2_asof_native _),
    "as3_asof_sum" -> (as3_asof_sum _),
    "as4_asof_nearest" -> (as4_asof_nearest _),
    "as5_asof_tolerance" -> (as5_asof_tolerance _),
    "q37_debounce" -> (q37_debounce _),
    "q38_funnel" -> (q38_funnel _),
    "q39_retention" -> (q39_retention _),
    "d15_corpus_diff" -> (d15_corpus_diff _),
    "t28_tfidf_topk" -> (t28_tfidf_topk _),
    "rj1_range_join" -> (rj1_range_join _),
    "rj2_interval_join" -> (rj2_interval_join _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared by d10 and d10b: the doc-level span stats do not depend on the
    * span key representation (string vs xxhash64), so both configurations
    * replay against the same SQL. */
  private val SpanStatsOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       sp AS (SELECT doc_id,
                array_to_string(ws[CAST(i AS BIGINT):CAST(i+4 AS BIGINT)], ' ') AS span
              FROM w, UNNEST(range(1, len(ws) - 5 + 2)) AS t(i)
              WHERE len(ws) >= 5),
       d AS (SELECT DISTINCT doc_id, span FROM sp),
       c AS (SELECT span, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY span)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
           AS share_ratio
       FROM d JOIN c USING (span)
       GROUP BY doc_id ORDER BY doc_id"""

  /** d12 / d12b share one SQL: the cleaned text is independent of the
    * chunk-key representation (string vs xxhash64), so both
    * configurations replay against the same chunk-by-chunk rebuild. */
  private val ChunkDedupOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       ch AS (SELECT doc_id, CAST(i AS INT) AS ci,
                array_to_string(ws[CAST(i*4+1 AS BIGINT):CAST(i*4+4 AS BIGINT)],
                  ' ') AS chunk
              FROM w, UNNEST(range(0, (len(ws) + 3) // 4)) AS t(i)),
       sh AS (SELECT chunk FROM (SELECT DISTINCT doc_id, chunk FROM ch)
              GROUP BY chunk HAVING count(*) >= 2),
       k AS (SELECT ch.doc_id, ch.ci, ch.chunk FROM ch
             LEFT JOIN sh USING (chunk) WHERE sh.chunk IS NULL),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
               FROM ch GROUP BY doc_id)
       SELECT tot.doc_id,
         coalesce(string_agg(k.chunk, ' ' ORDER BY k.ci), '') AS text_clean,
         tot.n_chunks,
         tot.n_chunks - CAST(count(k.chunk) AS BIGINT) AS n_removed
       FROM tot LEFT JOIN k USING (doc_id)
       GROUP BY tot.doc_id, tot.n_chunks ORDER BY doc_id"""

  /** d14 / d14b share one SQL (key-representation-independent, like
    * d12): same chunk decomposition, but survival is ownership — a
    * duplicated chunk keeps only its min-doc_id copy. */
  private val KeepFirstOracleSql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                  FROM documents),
       ch AS (SELECT doc_id, CAST(i AS INT) AS ci,
                array_to_string(ws[CAST(i*4+1 AS BIGINT):CAST(i*4+4 AS BIGINT)],
                  ' ') AS chunk
              FROM w, UNNEST(range(0, (len(ws) + 3) // 4)) AS t(i)),
       own AS (SELECT chunk, MIN(doc_id) AS owner
               FROM (SELECT DISTINCT doc_id, chunk FROM ch)
               GROUP BY chunk HAVING count(*) >= 2),
       k AS (SELECT ch.doc_id, ch.ci, ch.chunk FROM ch
             LEFT JOIN own USING (chunk)
             WHERE own.owner IS NULL OR own.owner = ch.doc_id),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
               FROM ch GROUP BY doc_id)
       SELECT tot.doc_id,
         coalesce(string_agg(k.chunk, ' ' ORDER BY k.ci), '') AS text_clean,
         tot.n_chunks,
         tot.n_chunks - CAST(count(k.chunk) AS BIGINT) AS n_removed
       FROM tot LEFT JOIN k USING (doc_id)
       GROUP BY tot.doc_id, tot.n_chunks ORDER BY doc_id"""

  def oracleSql: Map[String, String] = Map(
    "s1_scan_hive" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "s5_scan_grammar" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_returnflag IN ('A','N') AND l_linestatus = 'F'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "s6_scan_fixed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
         CAST(year(o_orderdate) AS VARCHAR) AS yr, 'data.parquet' AS fname
         FROM orders WHERE year(o_orderdate) >= 1996 AND year(o_orderdate) < 1998
         ORDER BY o_orderkey""",
    "s7_scan_daterange" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month,
         CAST(day(o_orderdate) AS VARCHAR) AS day
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-02-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-04-15'
         ORDER BY o_orderkey""",
    "s7b_scan_dategen" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month,
         CAST(day(o_orderdate) AS VARCHAR) AS day
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-02-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-04-15'
         ORDER BY o_orderkey""",
    "s11_scan_atomic" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
         CAST(month(o_orderdate) AS VARCHAR) AS month, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE year(o_orderdate) = 1996 AND month(o_orderdate) % 2 = 0
         GROUP BY 1, 2 ORDER BY month""",
    "s15_scan_lex" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
         WHERE l_returnflag >= 'A' AND l_returnflag < 'R'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "s17_write_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_regionkey = 2 ORDER BY n_nationkey""",
    "s24_write_partitioned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "s25_compact" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "s31_vacuum" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "s32_quarantine" ->
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN r = '' THEN 'ok' ELSE 'quarantined' END AS status,
           r AS gr_reasons
         FROM (SELECT l_orderkey, l_linenumber, concat_ws(',',
             CASE WHEN NOT coalesce(l_quantity <= 30, FALSE)
               THEN 'qty_le_30' END,
             CASE WHEN NOT coalesce(l_discount <= 0.08, FALSE)
               THEN 'disc_le_08' END) AS r
           FROM lineitem)
         ORDER BY l_orderkey, l_linenumber""",
    "s33_bloom_skip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
         FROM orders WHERE o_orderkey IN (1, 4242, 9999)
         ORDER BY o_orderkey""",
    "s34_fk_audit" ->
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
         SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY relation""",
    "s35_snapshot" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q45_join_card" ->
      """WITH ca AS (SELECT CAST(l_partkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         p1 AS (SELECT k, CAST(c AS BIGINT) * CAST(c AS BIGINT) AS pairs FROM ca),
         s1 AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(MAX(pairs) AS BIGINT) AS max_key_pairs FROM p1),
         t1 AS (SELECT min(k) AS top_key FROM p1
           WHERE pairs = (SELECT max(pairs) FROM p1)),
         cl AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
         co AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS c
             FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
         p2 AS (SELECT cl.k, CAST(cl.c AS BIGINT) * CAST(co.c AS BIGINT) AS pairs
           FROM cl JOIN co USING (k)),
         s2 AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(MAX(pairs) AS BIGINT) AS max_key_pairs FROM p2),
         t2 AS (SELECT min(k) AS top_key FROM p2
           WHERE pairs = (SELECT max(pairs) FROM p2))
         SELECT 'li_self_partkey' AS relation, s1.*, t1.* FROM s1, t1
         UNION ALL
         SELECT 'li_orders', s2.*, t2.* FROM s2, t2
         ORDER BY relation""",
    "q44_resample" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             value, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
           FROM events),
         lastv AS (SELECT user_id, h, value FROM
           (SELECT *, row_number() OVER (PARTITION BY user_id, h
              ORDER BY ts DESC, event_id DESC) AS rn FROM e)
           WHERE rn = 1),
         bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1
           FROM e GROUP BY user_id),
         grid AS (SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM bounds),
         j AS (SELECT g.user_id, g.h, l.value,
             l.value IS NOT NULL AS had_event
           FROM grid g LEFT JOIN lastv l
             ON g.user_id = l.user_id AND g.h = l.h)
         SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value,
           had_event
         FROM j ORDER BY user_id, hour""",
    // brute-force all-pairs linkage: the blocked join must equal it exactly
    "q49_fuzzy_link" ->
      """WITH d AS (SELECT p_partkey + 9000000 AS dirty_id,
             concat(substr(p_name, 1, pos - 1), substr(p_name, pos + 1))
               AS dirty_name
           FROM (SELECT p_partkey, p_name,
                   CAST(2 + p_partkey % (length(p_name) - 2) AS INT) AS pos
                 FROM part WHERE p_partkey % 3 = 0)),
         pairs AS (SELECT dirty_id, p_partkey,
             levenshtein(dirty_name, p_name) AS distance
           FROM d CROSS JOIN part
           WHERE levenshtein(dirty_name, p_name) <= 1),
         best AS (SELECT *, row_number() OVER (PARTITION BY dirty_id
             ORDER BY distance, p_partkey) AS rn FROM pairs)
         SELECT dirty_id, p_partkey AS match_key, distance
         FROM best WHERE rn = 1 ORDER BY dirty_id""",
    "q50_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             event_type FROM events),
         p AS (SELECT event_type AS from_event,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_event
           FROM e),
         m AS (SELECT from_event, to_event, count(*) AS n FROM p
           WHERE to_event IS NOT NULL GROUP BY 1, 2)
         SELECT from_event, to_event, n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_event)
             AS BIGINT) AS per_million
         FROM m ORDER BY from_event, to_event""",
    "q51_anomaly" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v FROM events),
         w AS (SELECT user_id, event_id, v,
             count(v) OVER win AS w_n,
             sum(v) OVER win AS w_sum,
             sum(v * v) OVER win AS w_sumsq
           FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, v AS v_scaled, w_n,
           CAST(w_sum AS BIGINT) AS w_sum,
           (w_n >= 8 AND (w_n*v - w_sum)*(w_n*v - w_sum)*(w_n - 1)
              > 9*w_n*(w_n*w_sumsq - w_sum*w_sum)) AS is_anomaly
         FROM w ORDER BY user_id, event_id""",
    // bins -> per-side counts -> running CDFs -> cross-multiplied max
    "q52_ks_drift" ->
      """WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS bin,
             event_type AS side FROM events
           WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
         pb AS (SELECT bin,
             CAST(sum(CASE WHEN side = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN side = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
           FROM v GROUP BY bin),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM pb),
         c AS (SELECT bin,
             CAST(sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
             CAST(sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
           FROM pb),
         d AS (SELECT bin, abs(cuma * nb - cumb * na) AS dnum
           FROM c CROSS JOIN t)
         SELECT na AS n_a, nb AS n_b,
           (SELECT max(dnum) FROM d) AS d_num,
           na * nb AS d_den,
           (SELECT min(bin) FROM d
            WHERE dnum = (SELECT max(dnum) FROM d)) AS at_bin
         FROM t""",
    // the 8 half-life lag terms unrolled; heads renormalize via the den
    "q53_ewma" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 100) AS BIGINT) AS v FROM events)
         SELECT event_id,
           COALESCE(v * 128, 0)
             + COALESCE(lag(v, 1) OVER win * 64, 0)
             + COALESCE(lag(v, 2) OVER win * 32, 0)
             + COALESCE(lag(v, 3) OVER win * 16, 0)
             + COALESCE(lag(v, 4) OVER win * 8, 0)
             + COALESCE(lag(v, 5) OVER win * 4, 0)
             + COALESCE(lag(v, 6) OVER win * 2, 0)
             + COALESCE(lag(v, 7) OVER win * 1, 0) AS ewma_num,
           CASE WHEN v IS NULL THEN 0 ELSE 128 END
             + CASE WHEN lag(v, 1) OVER win IS NULL THEN 0 ELSE 64 END
             + CASE WHEN lag(v, 2) OVER win IS NULL THEN 0 ELSE 32 END
             + CASE WHEN lag(v, 3) OVER win IS NULL THEN 0 ELSE 16 END
             + CASE WHEN lag(v, 4) OVER win IS NULL THEN 0 ELSE 8 END
             + CASE WHEN lag(v, 5) OVER win IS NULL THEN 0 ELSE 4 END
             + CASE WHEN lag(v, 6) OVER win IS NULL THEN 0 ELSE 2 END
             + CASE WHEN lag(v, 7) OVER win IS NULL THEN 0 ELSE 1 END AS ewma_den
         FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",
    // closed-form CUSUM: running residual sum minus its prefix min
    // (incl. the virtual R0 = 0), and the mirror for downward shifts
    "q54_cusum" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 100) AS BIGINT) - 5000 AS r FROM events),
         w1 AS (SELECT event_id, user_id, ts,
             CAST(sum(r) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
           FROM e),
         w AS (SELECT event_id, run,
             CAST(min(run) OVER win2 AS BIGINT) AS runmin,
             CAST(max(run) OVER win2 AS BIGINT) AS runmax
           FROM w1 WINDOW win2 AS (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING))
         SELECT event_id,
           run - least(CAST(0 AS BIGINT), runmin) AS cusum_up,
           greatest(CAST(0 AS BIGINT), runmax) - run AS cusum_down,
           run - least(CAST(0 AS BIGINT), runmin) > 100000 AS is_shift_up,
           greatest(CAST(0 AS BIGINT), runmax) - run > 100000 AS is_shift_down
         FROM w ORDER BY event_id""",
    // the streamed sidecar must ALSO equal the from-scratch aggregation
    "st16_stream_agg_maintain" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    // the merged sidecar must equal the from-scratch aggregation
    "s39_agg_maintain" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(38, 6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    // every value recomputed from source; partition cols read as strings
    "s38_relayout" ->
      """SELECT o_orderkey, o_orderpriority,
           CAST(year(o_orderdate) AS VARCHAR) AS year
         FROM orders ORDER BY o_orderkey""",
    // the five-sum OLS slope fraction replayed in BIGINTs
    "q55_trend" ->
      """WITH e AS (SELECT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS x,
             CAST(floor(value * 100) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM e GROUP BY user_id)
         SELECT user_id, n, n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den
         FROM g ORDER BY user_id""",
    // pairwise moment sums replayed; num/den factors exact BIGINTs
    "q56_corr" ->
      """WITH m AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
             CAST(floor(l_extendedprice / 10) AS BIGINT) AS p,
             CAST(floor(l_discount * 10000) AS BIGINT) AS d
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(q * q) AS BIGINT) AS sqq,
             CAST(sum(q * p) AS BIGINT) AS sqp,
             CAST(sum(q * d) AS BIGINT) AS sqd,
             CAST(sum(p * p) AS BIGINT) AS spp,
             CAST(sum(p * d) AS BIGINT) AS spd,
             CAST(sum(d * d) AS BIGINT) AS sdd
           FROM m)
         SELECT col_i, col_j, n, num, den_i, den_j FROM (
           SELECT 'qty' AS col_i, 'qty' AS col_j, n,
               n * sqq - sq * sq AS num,
               n * sqq - sq * sq AS den_i, n * sqq - sq * sq AS den_j FROM g
           UNION ALL SELECT 'qty', 'price10', n, n * sqp - sq * sp,
               n * sqq - sq * sq, n * spp - sp * sp FROM g
           UNION ALL SELECT 'qty', 'disc_bp', n, n * sqd - sq * sd,
               n * sqq - sq * sq, n * sdd - sd * sd FROM g
           UNION ALL SELECT 'price10', 'price10', n, n * spp - sp * sp,
               n * spp - sp * sp, n * spp - sp * sp FROM g
           UNION ALL SELECT 'price10', 'disc_bp', n, n * spd - sp * sd,
               n * spp - sp * sp, n * sdd - sd * sd FROM g
           UNION ALL SELECT 'disc_bp', 'disc_bp', n, n * sdd - sd * sd,
               n * sdd - sd * sd, n * sdd - sd * sd FROM g)
         ORDER BY col_i, col_j""",
    // rank-symmetric pairing: i-th best vs i-th worst per source
    "t42_pref_pairs" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           FROM documents
           WHERE source IS NOT NULL AND doc_id IS NOT NULL
             AND n_chars IS NOT NULL)
         SELECT a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           a.n_chars - b.n_chars AS score_gap,
           CAST(a.rn AS INT) AS pair_rank
         FROM r a JOIN r b ON b.source = a.source AND b.rn = a.n + 1 - a.rn
         WHERE a.rn * 2 <= a.n AND a.n_chars - b.n_chars > 50
         ORDER BY a.source, pair_rank""",
    // brute-force all-pairs Jaccard: prefix filtering must lose nothing
    "d18_jaccard_join" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
             AS ws FROM documents WHERE trim(text) <> ''),
         toks AS (SELECT doc_id, list_distinct(
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS ts
           FROM w),
         q AS (SELECT doc_id AS q_id, ts AS qs FROM toks
           WHERE doc_id % 10 = 0),
         pairs AS (SELECT q_id, doc_id,
             len(list_intersect(qs, ts)) AS inter,
             len(qs) + len(ts) - len(list_intersect(qs, ts)) AS uni
           FROM q CROSS JOIN toks WHERE doc_id <> q_id)
         SELECT q_id, doc_id, inter, uni FROM pairs
         WHERE inter * 5 >= uni * 3 ORDER BY q_id, doc_id""",
    // Hamming recomputed from the raw floats (sign disagreements)
    "a10_binary_hamming" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
         h AS (SELECT q.query_id, e.vec_id,
             (SELECT count(*) FROM
                (SELECT unnest(q.qv) AS a, unnest(e.embedding) AS b) z
              WHERE (z.a > 0) <> (z.b > 0)) AS hamming
           FROM q CROSS JOIN embeddings e),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY hamming, vec_id) AS rank FROM h)
         SELECT query_id, vec_id, hamming, rank FROM r
         WHERE rank <= 3 ORDER BY query_id, rank""",
    // all four greedy MMR rounds unrolled: seed = argmax rel, each later
    // round = argmax 0.5*rel - 0.5*max-cos-to-picked over the unpicked
    "a11_mmr" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         c0 AS (SELECT q.qid, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS rel
           FROM embeddings e, q WHERE e.vec_id NOT IN (0, 1, 2)),
         cand AS (SELECT qid, vec_id, v, rel FROM
           (SELECT c0.*, row_number() OVER (PARTITION BY qid
              ORDER BY rel DESC, vec_id) AS rn FROM c0) WHERE rn <= 12),
         s1 AS (SELECT qid, vec_id, v, 1 AS step FROM
           (SELECT cand.*, row_number() OVER (PARTITION BY qid
              ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
         p2 AS (SELECT qid, vec_id, v, 2 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN s1 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM s1 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2),
         p3 AS (SELECT qid, vec_id, v, 3 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN sel2 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM sel2 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM p3),
         p4 AS (SELECT qid, vec_id, v, 4 AS step FROM
           (SELECT t.*, row_number() OVER (PARTITION BY qid
              ORDER BY score DESC, vec_id) AS rn FROM
             (SELECT c.qid, c.vec_id, c.v,
                 CAST(0.5 AS DOUBLE) * max(c.rel)
                   - CAST(0.5 AS DOUBLE) * max(list_cosine_similarity(c.v, s.v)) AS score
              FROM cand c JOIN sel3 s ON s.qid = c.qid
              WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
              GROUP BY c.qid, c.vec_id, c.v) t) WHERE rn = 1),
         sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM p4)
         SELECT qid AS query_id, vec_id, step FROM sel4
         ORDER BY query_id, step""",
    "s18_scan_lazy" ->
      """SELECT n_nationkey, n_name, n_regionkey,
         'good' AS src FROM nation ORDER BY n_nationkey""",
    "s21_scan_identity" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "s9_scan_csv" ->
      """SELECT *, 'csv' AS src FROM part ORDER BY p_partkey""",
    "s9_scan_json" ->
      """SELECT *, 'json' AS src FROM customer ORDER BY c_custkey""",
    "s9_scan_xlsx" ->
      """SELECT *, 'xlsx' AS src FROM nation ORDER BY n_nationkey""",
    // streamed in three micro-batches, must equal the one-shot merge
    "st17_stream_upsert" ->
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
         ORDER BY o_orderkey""",
    "s26_merge" ->
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
         ORDER BY o_orderkey""",
    // the tag scope must be invisible in values: batch b1 IS the
    // orderkey % 3 == 1 slice
    "s27_read_tagged" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 1 ORDER BY o_orderkey""",
    // an INDEPENDENT footer reader (DuckDB's) must agree with ours on
    // every row group's min/max/null-count over the z-ordered files
    "s30_zonemap" ->
      """SELECT regexp_extract(file_name, '[^/]+$') AS "file",
           CAST(row_group_id AS BIGINT) AS row_group,
           path_in_schema AS "column",
           stats_min_value AS min_value, stats_max_value AS max_value,
           CAST(stats_null_count AS BIGINT) AS n_nulls,
           CAST(row_group_num_rows AS BIGINT) AS n_rows
         FROM parquet_metadata('/tmp/graft_fixtures/zorder_orders.parquet/*.parquet')
         WHERE path_in_schema IN ('o_orderkey', 'o_custkey')
         ORDER BY 1, 2, 3""",
    // exact-decimal sums divided after the double cast (the q1 dsum
    // convention), one UNION ALL row per profiled column
    "s29_profile" ->
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
         UNION ALL SELECT 'l_tax', n, nn3, mn3, mx3, sm3 / (n - nn3) FROM a""",
    // identical IEEE subtract/divide/floor bucket arithmetic
    "q36_histogram" ->
      """WITH b AS (SELECT CASE
             WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN -1
             WHEN CAST(o_totalprice AS DOUBLE) >= 500000.0 THEN 20
             ELSE CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 25000.0)
               AS BIGINT) END AS bucket
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT bucket, 0.0 + bucket * 25000.0 AS bucket_lo,
           0.0 + (bucket + 1) * 25000.0 AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q46_histogram2d" ->
      """WITH b AS (SELECT
             CASE WHEN CAST(l_quantity AS DOUBLE) < 0.0 THEN -1
                  WHEN CAST(l_quantity AS DOUBLE) >= 50.0 THEN 10
                  ELSE CAST(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0)
                    AS BIGINT) END AS bx,
             CASE WHEN CAST(l_extendedprice AS DOUBLE) < 0.0 THEN -1
                  WHEN CAST(l_extendedprice AS DOUBLE) >= 100000.0 THEN 10
                  ELSE CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0)
                    / 10000.0) AS BIGINT) END AS by
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
         SELECT bx, by,
           0.0 + bx * 5.0 AS x_lo, 0.0 + (bx + 1) * 5.0 AS x_hi,
           0.0 + by * 10000.0 AS y_lo, 0.0 + (by + 1) * 10000.0 AS y_hi,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM b GROUP BY bx, by ORDER BY bx, by""",
    "s37_profile_diff" ->
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
         ORDER BY "column"""",
    "q40_window_suite" ->
      """SELECT o_orderkey, o_custkey,
           CAST(ntile(4) OVER w AS INT) AS tile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_orderkey""",
    "q41_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS sum_disc
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_price', sum_price FROM a
         UNION ALL
         SELECT l_returnflag, 'sum_disc', sum_disc FROM a
         ORDER BY l_returnflag, measure""",
    "q42_outliers" ->
      """WITH med AS (SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.5) AS med
           FROM customer GROUP BY c_mktsegment),
         dev AS (SELECT c.c_mktsegment, m.med,
             abs(c.c_acctbal - m.med) AS adev
           FROM customer c JOIN med m USING (c_mktsegment)),
         mad AS (SELECT c_mktsegment, min(med) AS med,
             quantile_cont(adev, 0.5) AS mad,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM dev GROUP BY c_mktsegment),
         o AS (SELECT d.c_mktsegment,
             CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           FROM dev d JOIN mad m USING (c_mktsegment)
           GROUP BY d.c_mktsegment)
         SELECT m.c_mktsegment, m.n, m.med, m.mad, o.n_outliers
         FROM mad m JOIN o USING (c_mktsegment)
         ORDER BY m.c_mktsegment""",
    "q43_equidepth" ->
      """WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.5) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
           FROM orders),
         b AS (SELECT CASE WHEN o_totalprice <= q.q1 THEN 0
             WHEN o_totalprice <= q.q2 THEN 1
             WHEN o_totalprice <= q.q3 THEN 2
             ELSE 3 END AS bin, q.q1, q.q2, q.q3
           FROM orders, q)
         SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           min(q1) AS q1, min(q2) AS q2, min(q3) AS q3
         FROM b GROUP BY bin ORDER BY bin""",
    "t30_conversations" ->
      """WITH r AS (SELECT user_id, event_type || ': ' || props AS line,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS seq
           FROM events),
         k AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
             string_agg(line, chr(10) ORDER BY seq) AS transcript
           FROM r WHERE seq <= 50 GROUP BY user_id)
         SELECT user_id, n_turns, transcript,
           CAST(length(transcript) AS BIGINT) AS n_chars
         FROM k ORDER BY user_id""",
    "t31_feature_hash" ->
      """WITH w AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents WHERE trim(text) <> ''),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 64 AS bucket
           FROM w)
         SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
         FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""",
    // the whole KMV estimator replayed: hashes, kth-smallest theta,
    // shared hashes below it, exact integer quotient
    "t47_theta_intersect" ->
      """WITH ha AS (SELECT DISTINCT CAST(concat('0x',
             substr(md5('th' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         hb AS (SELECT DISTINCT CAST(concat('0x',
             substr(md5('th' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
         ska AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         skb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         u AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
               ORDER BY h LIMIT 64),
         t AS (SELECT CASE WHEN (SELECT count(*) FROM u) < 64
               THEN 4294967296 ELSE (SELECT max(h) FROM u) END AS theta),
         c AS (SELECT count(*) AS n_common
           FROM (SELECT h FROM ska INTERSECT SELECT h FROM skb) x, t
           WHERE x.h < t.theta)
         SELECT CAST(t.theta AS BIGINT) AS theta,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST(c.n_common * 4294967296 // t.theta AS BIGINT)
             AS est_intersection
         FROM t, c""",
    // the fixture is built by the same concat on both sides, so the
    // expected extraction is a DIRECT string expression — no HTML
    // parsing in the oracle (title/h1/p/div/li are block tags, style/
    // script/comment content drops, &amp;/&nbsp;/&#97; decode, a bare
    // '< ' stays literal)
    "t48_markup_extract" ->
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) ||
           'heading ' || doc_id || chr(10) ||
           text || ' & more text' || chr(10) ||
           'bold and italic words < 5 alpha' || chr(10) ||
           'first' || chr(10) || 'second' AS clean
         FROM documents ORDER BY doc_id""",
    // planted chrome (title/nav/aside/footer) drops; the two filler-led
    // body paragraphs survive verbatim — stated directly, t48-style
    "t65_main_content" ->
      """SELECT doc_id,
           'Lead filler sentence with comfortably more than the sixteen '
             || 'words the shallow classifier needs to call a block '
             || 'content: ' || text || chr(10) ||
           'A second body paragraph likewise carries enough running '
             || 'words to stand as content on its own after the aside: '
             || text AS content
         FROM documents ORDER BY doc_id""",
    // six blocks per doc in page order, every stat and verdict stated
    // directly (filler word counts: 19 each; W = the doc's own words)
    "t65b_main_content_blocks" ->
      """WITH w AS (SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS INT) AS tw
           FROM documents),
         b AS (
           SELECT doc_id, 0 AS block_ix,
             'Doc ' || doc_id AS btext, 2 AS words, 0 AS anchor_words,
             1 AS chrome, 0 AS is_content FROM w
           UNION ALL
           SELECT doc_id, 1, 'Home About Contact', 3, 3, 1, 0 FROM w
           UNION ALL
           SELECT doc_id, 2,
             'Lead filler sentence with comfortably more than the '
               || 'sixteen words the shallow classifier needs to call a '
               || 'block content: ' || text,
             19 + tw, 0, 0, 1 FROM w
           UNION ALL
           SELECT doc_id, 3, 'Sponsored deal today', 3, 1, 1, 0 FROM w
           UNION ALL
           SELECT doc_id, 4,
             'A second body paragraph likewise carries enough running '
               || 'words to stand as content on its own after the '
               || 'aside: ' || text,
             19 + tw, 0, 0, 1 FROM w
           UNION ALL
           SELECT doc_id, 5, 'Copyright ' || doc_id || ' Privacy',
             3, 1, 1, 0 FROM w)
         SELECT doc_id, CAST(block_ix AS INT) AS block_ix, btext,
           CAST(words AS INT) AS words,
           CAST(anchor_words AS INT) AS anchor_words,
           CAST(chrome AS INT) AS chrome,
           CAST(is_content AS INT) AS is_content
         FROM b ORDER BY doc_id, block_ix""",
    // same direct-SQL truth, gating the STREAMING execution (st7 convention)
    "st18_stream_extract" ->
      """SELECT doc_id,
           'Doc ' || doc_id || chr(10) ||
           'heading ' || doc_id || chr(10) ||
           text || ' & more text' || chr(10) ||
           'bold and italic words < 5 alpha' || chr(10) ||
           'first' || chr(10) || 'second' AS clean
         FROM documents ORDER BY doc_id""",
    // both engines normalize the same messy URLs independently: scheme/
    // host case, default ports, trailing slashes, tracker params, param
    // sort order and fragments must all agree rule-for-rule
    "t51_url_normalize" ->
      """WITH u AS (SELECT doc_id,
           (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'HTTP://' END)
           || 'Example' || (doc_id % 20) || '.COM'
           || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE ':80' END)
           || '/Path/' || doc_id
           || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
           || '?utm_source=news&b=2&a=1'
           || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
       n AS (SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
           regexp_extract(url, '\?([^#]*)', 1) AS q
         FROM u),
       n2 AS (SELECT doc_id, url, scheme,
           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END AS h,
           CASE WHEN rawpath = '' OR rawpath = '/' THEN '/'
                ELSE regexp_replace(rawpath, '/+$', '') END AS p,
           array_to_string(list_sort(list_filter(string_split(q, '&'),
             x -> x <> '' AND NOT starts_with(x, 'utm_')
               AND NOT starts_with(x, 'fbclid')
               AND NOT starts_with(x, 'gclid'))), '&') AS qn
         FROM n)
       SELECT doc_id, url,
         scheme || '://' || h || p ||
           (CASE WHEN qn = '' THEN '' ELSE '?' || qn END) AS url_norm,
         regexp_replace(h, ':[0-9]+$', '') AS host
       FROM n2 ORDER BY doc_id""",
    // the lexicon re-derived in SQL (first word of every 50th doc,
    // distinct) and replayed as per-document containment with
    // lexicographic tag order — pins DictionaryTag's collect-distinct-
    // sort contract plus the automaton in one hash
    "t57b_dictionary_tag_table" ->
      """WITH dict AS (
           SELECT DISTINCT split_part(text, ' ', 1) AS t
           FROM documents
           WHERE doc_id % 50 = 0 AND split_part(text, ' ', 1) <> '')
         SELECT d.doc_id,
           coalesce((SELECT string_agg(k.t, '|' ORDER BY k.t)
                     FROM dict k WHERE contains(d.text, k.t)), '') AS tags
         FROM documents d ORDER BY doc_id""",
    // planted-truth by construction: the repetition variant must read
    // repetitive, the hex-entropy variant must not (see t58's scaladoc)
    "t58_compressibility" ->
      """SELECT doc_id, v AS variant, v = 'rep' AS repetitive
         FROM documents, (VALUES ('rep'), ('hex')) t(v)
         ORDER BY doc_id, variant""",
    // the K-contains brute force the automaton replaces — dictionary
    // order preserved on both sides, joined to a scalar string so the
    // gate output stays hashable by any row-sorting checker
    "t57_dictionary_tag" ->
      """SELECT doc_id,
           coalesce(array_to_string(
             list_filter(['scan', 'column order', 'order', 'data', 'the',
               'zz never appears'], k -> contains(text, k)), '|'), '')
             AS tags
         FROM documents ORDER BY doc_id""",
    // <loc> extraction + mandatory &amp; decoding + trim, replayed as a
    // plain URL reconstruction
    "t56_sitemap" ->
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p?a=1&id=' || doc_id AS url
         FROM documents ORDER BY doc_id""",
    // per-entry lastmod carry (absent every 3rd entry -> null), the
    // ghost loc-less block never surfaces
    "t56c_sitemap_lastmod" ->
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p?a=1&id=' || doc_id AS url,
           CASE WHEN doc_id % 3 <> 0 THEN 'lm-' || doc_id END AS lastmod
         FROM documents ORDER BY doc_id""",
    // strict-UTF-8-else-Latin-1: odd rows decode through the fallback
    // (their accented suffix is invalid UTF-8), BOMs strip, even rows
    // pass through — the oracle needs no byte layer at all
    "t55_charset" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN text || ' café süß'
                ELSE text END AS text_decoded
         FROM documents ORDER BY doc_id""",
    // the intended robots verdicts, hardcoded: host 4 fully blocked via
    // '*', host 7 allowed via the exact group's empty Disallow, others
    // blocked on the /Doc/1 prefix unless the longer /Doc/12 Allow wins
    "t54_robots" ->
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url,
           CASE WHEN doc_id % 9 = 4 THEN FALSE
                WHEN doc_id % 9 = 7 THEN TRUE
                ELSE NOT starts_with(
                       '/Doc/' || doc_id || '?id=' || doc_id, '/Doc/1')
                  OR starts_with(
                       '/Doc/' || doc_id || '?id=' || doc_id, '/Doc/12')
           END AS robots_allowed
         FROM documents ORDER BY doc_id""",
    // the argmax replayed as a window over the reconstructed families:
    // max score wins, ties to the smallest id
    "d21_dedup_keep_best" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9910000, text FROM documents WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 9920000, text FROM documents WHERE doc_id % 13 = 0),
         scored AS (SELECT doc_id, text,
             CAST(doc_id % 7 AS BIGINT) AS score FROM corpus),
         r AS (SELECT doc_id, score,
             row_number() OVER (PARTITION BY text
               ORDER BY score DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies
           FROM scored)
         SELECT doc_id, score, n_copies FROM r WHERE rn = 1
         ORDER BY doc_id""",
    // every curation stage replayed: t1's langid CASE, t2's quality
    // formulas, the min-id/count dedup over surviving text, and the
    // filter-before-dedup ordering
    "t64_curation_pipeline" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 9900000, text FROM documents WHERE doc_id % 17 = 0),
         w AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM corpus),
         s AS (SELECT doc_id, text, ws,
           len(list_filter(lws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(lws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(lws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(lws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(lws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w),
         lang AS (SELECT doc_id, text, ws,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
           FROM s),
         q AS (SELECT doc_id, text,
           CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
           FROM lang WHERE lang_pred = 'en'),
         f AS (SELECT * FROM q
           WHERE n_words >= 20 AND stopword_ratio > 0.03),
         d AS (SELECT min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_copies
           FROM f GROUP BY text)
         SELECT d.doc_id, d.n_copies, f.n_words, f.stopword_ratio
         FROM d JOIN f ON d.doc_id = f.doc_id
         ORDER BY d.doc_id""",
    // delay selection replayed as per-host CASE arithmetic (exact
    // group shadows the 99-second decoy; host 4 fractional; host 7
    // defaults), the schedule as the same politeness window
    "t54d_robots_crawldelay" ->
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             doc_id % 7 AS priority,
             CASE WHEN doc_id % 9 = 4 THEN 7500
                  WHEN doc_id % 9 = 7 THEN 1000
                  ELSE (doc_id % 9 + 1) * 1000 END AS delay_ms
           FROM documents),
         r AS (
           SELECT doc_id, url, delay_ms,
             CAST(row_number() OVER (PARTITION BY h
               ORDER BY priority DESC, url) AS INT) AS fetch_seq
           FROM u)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * delay_ms AS BIGINT) AS eta_ms
         FROM r ORDER BY doc_id""",
    // losslessness is exactly replayable (concat of pieces == text
    // minus spaces); the trained-model claims ride as by-construction
    // booleans (see the gate scaladoc); Viterbi itself is spec-pinned
    "t63_unigram_tokens" ->
      """SELECT doc_id, replace(text, ' ', '') AS text_rt,
           TRUE AS compresses, TRUE AS top_word_whole
         FROM documents ORDER BY doc_id""",
    // the exact-trainer twin makes the same closed-form claims — over
    // the whole-corpus histogram and the corpus-global top word
    "t63b_unigram_exact" ->
      """SELECT doc_id, replace(text, ' ', '') AS text_rt,
           TRUE AS compresses, TRUE AS top_word_whole
         FROM documents ORDER BY doc_id""",
    // every field reconstructed in closed form: the &amp; in the title
    // must decode, both meta attribute orders must parse
    "t60_html_meta" ->
      """SELECT doc_id,
           'Doc & ' || doc_id AS title,
           'sum: ' || split_part(text, ' ', 1) AS description,
           'https://canon.example/p/' || doc_id AS canonical,
           'en-US' AS lang
         FROM documents ORDER BY doc_id""",
    // all five resolutions replayed in closed form (absolute pass-through,
    // rooted, ../ dot-segment removal, query-only, scheme adoption), the
    // mailto: dropped, then the per-host politeness window
    "t61_outlinks" ->
      """WITH links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net'
           FROM documents),
         ranked AS (
           SELECT doc_id, outlink,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT doc_id, outlink, fetch_seq,
           CAST((fetch_seq - 1) * 500 AS BIGINT) AS eta_ms
         FROM ranked ORDER BY doc_id, outlink""",
    // every resolution replayed in closed form (the t61 skeleton) plus
    // the main-content word count (20 filler words + the doc's own)
    "t67_crawl_backedge" ->
      """WITH cw AS (
           SELECT doc_id,
             CAST(20 + len(string_split(text, ' ')) AS INT) AS content_words
           FROM documents),
         links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com' FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net'
           FROM documents),
         ranked AS (
           SELECT doc_id, outlink,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT r.doc_id, r.outlink, r.fetch_seq,
           CAST((r.fetch_seq - 1) * 500 AS BIGINT) AS eta_ms,
           cw.content_words
         FROM ranked r JOIN cw ON r.doc_id = cw.doc_id
         ORDER BY r.doc_id, r.outlink""",
    // the composed fetch plan: rooted links robots-blocked, even mirror
    // links already seen, per-host rank capped at 100, eta from the
    // host's declared delay (abs/mirror fall to the 1000 ms default)
    "t68_fetch_plan" ->
      """WITH links AS (
           SELECT doc_id, 'https://abs.example/x' || doc_id AS outlink,
             'abs.example' AS h, CAST(1000 AS BIGINT) AS delay_ms
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/up/' || doc_id,
             'site' || (doc_id % 9) || '.com',
             CAST(((doc_id % 9) + 1) * 1000 AS BIGINT) FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               || '?q=' || doc_id,
             'site' || (doc_id % 9) || '.com',
             CAST(((doc_id % 9) + 1) * 1000 AS BIGINT) FROM documents
           UNION ALL
           SELECT doc_id, 'http://mirror.net/m' || doc_id, 'mirror.net',
             CAST(1000 AS BIGINT)
           FROM documents WHERE doc_id % 2 <> 0),
         ranked AS (
           SELECT doc_id, outlink, h, delay_ms,
             CAST(row_number() OVER (PARTITION BY h ORDER BY outlink DESC)
               AS INT) AS fetch_seq
           FROM links)
         SELECT doc_id, outlink, fetch_seq,
           CAST((fetch_seq - 1) * delay_ms AS BIGINT) AS eta_ms
         FROM ranked WHERE fetch_seq <= 100
         ORDER BY outlink""",
    // the multiplicative revisit backoff replayed fetch-by-fetch with a
    // recursive CTE; integer halve/double with both clamps, due set in
    // integer comparison
    "t72_revisit_schedule" ->
      """WITH RECURSIVE f AS (
           SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY url)
         SELECT l.url, l.n AS n_fetches, w.nc AS n_changes,
           w.iv AS interval_sec, l.last_ts + w.iv AS next_due,
           l.last_ts + w.iv <= 250000 AS due
         FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
         ORDER BY l.url""",
    // the outcome fold in closed form (a 304 carries the prior hash and
    // validators; a 200 replaces them) composed with t72's recursive
    // backoff walk over the extended history
    "t94_revalidation" ->
      """WITH RECURSIVE f0 AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CASE WHEN doc_id % 2 = 0
               THEN 'et-' || doc_id || '-' || i END AS etag,
             CASE WHEN doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + i * 100 END AS lm,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         o AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(10000000 AS BIGINT) AS ts,
             CASE WHEN doc_id % 2 = 0
               THEN 'v' || CAST(doc_id % 4 AS VARCHAR)
               ELSE 'vnew' END AS h,
             CASE WHEN doc_id % 2 = 0
                 THEN 'et-' || doc_id || '-' || (doc_id % 4)
               WHEN doc_id % 5 = 0 THEN 'et-new-' || doc_id END AS etag,
             CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + (doc_id % 4) * 100
               END AS lm,
             CAST(doc_id % 4 + 2 AS BIGINT) AS k
           FROM documents),
         f AS (SELECT url, ts, h, k FROM f0
               UNION ALL SELECT url, ts, h, k FROM o),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1)
         SELECT o.url, o.k AS n_fetches, CAST(w.nc AS BIGINT) AS n_changes,
           CAST(w.iv AS BIGINT) AS interval_sec,
           CAST(10000000 + w.iv AS BIGINT) AS next_due,
           10000000 + w.iv <= 10000500 AS due,
           o.etag AS if_none_match, o.lm AS if_modified_since,
           (o.etag IS NOT NULL OR o.lm IS NOT NULL) AS conditional
         FROM o JOIN walk w ON w.url = o.url AND w.k = o.k
         ORDER BY o.url""",
    // the retained walk: each URL's history renumbered to its last-3
    // suffix, then the same recursive backoff replay over the suffix
    "t94b_revalidation_retained" ->
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CASE WHEN doc_id % 2 = 0
               THEN 'et-' || doc_id || '-' || i END AS etag,
             CASE WHEN doc_id % 3 = 0
               THEN CAST(doc_id AS BIGINT) * 1000 + i * 100 END AS lm,
             CAST(i + 1 AS BIGINT) AS k0,
             CAST(doc_id % 4 + 1 AS BIGINT) AS n
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         fr AS (SELECT url, ts, h, etag, lm,
             k0 - greatest(n - 3, 0) AS k, least(n, 3) AS n
           FROM f WHERE k0 > n - 3),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM fr WHERE k = 1
           UNION ALL
           SELECT fr.url, fr.k, fr.h,
             CASE WHEN fr.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN fr.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN fr ON fr.url = w.url AND fr.k = w.k + 1),
         lastrow AS (SELECT url, ts, etag, lm, n FROM fr WHERE k = n)
         SELECT l.url, l.n AS n_fetches, CAST(w.nc AS BIGINT) AS n_changes,
           CAST(w.iv AS BIGINT) AS interval_sec,
           CAST(l.ts + w.iv AS BIGINT) AS next_due,
           l.ts + w.iv <= 10000500 AS due,
           l.etag AS if_none_match, l.lm AS if_modified_since,
           (l.etag IS NOT NULL OR l.lm IS NOT NULL) AS conditional
         FROM lastrow l JOIN walk w ON w.url = l.url AND w.k = l.n
         ORDER BY l.url""",
    // feed extraction + seen-URL dedup in closed form: every doc's entry
    // surfaces exactly once unless its URL was already crawled
    "t95_feed_discovery" ->
      """SELECT doc_id,
           'http://f' || (doc_id % 5) || '.com/feed.xml' AS feed_url,
           'http://f' || (doc_id % 5) || '.com/a?x=1&id=' || doc_id
             AS entry_url,
           CASE WHEN (doc_id % 5) % 2 = 0 THEN 'ts-' || doc_id
                ELSE 'pd-' || doc_id END AS entry_ts
         FROM documents WHERE doc_id % 3 <> 0 ORDER BY doc_id""",
    // t72's walk + the directive parse + the freshness-floor arithmetic
    // replayed in closed form per url-class
    "t97_cache_control" ->
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         pp AS (SELECT l.doc_id, l.url, l.n, w.nc, w.iv, l.last_ts,
             CASE WHEN l.doc_id % 4 = 0 THEN 600
                  WHEN l.doc_id % 4 = 1 THEN (l.doc_id % 7) * 300
                  WHEN l.doc_id % 4 = 2 THEN 900 END AS ma
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n)
         SELECT url, n AS n_fetches, nc AS n_changes, iv AS interval_sec,
           CAST(greatest(last_ts + iv, last_ts + COALESCE(ma, 0))
             AS BIGINT) AS next_due,
           greatest(last_ts + iv, last_ts + COALESCE(ma, 0)) <= 250000
             AS due,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           (doc_id % 2 = 0 AND doc_id % 4 <> 0) AS conditional,
           CAST(ma AS BIGINT) AS max_age,
           doc_id % 4 = 0 AS no_store,
           doc_id % 4 = 2 AS immutable
         FROM pp ORDER BY url""",
    // the incremental result must equal cleaning the NEW crawl from
    // scratch — which is what this computes (the 5s' suffix re-counted
    // inside the composed text, the 11s' fresh docs at 3 tokens)
    "t100_incremental_clean" ->
      """SELECT url, n_ws FROM (
           SELECT 'http://c.com/p' || doc_id AS url,
             CAST(len(regexp_split_to_array(trim(
               CASE WHEN doc_id % 5 = 0 THEN text || ' zz extra tok'
                    ELSE text END), '\s+')) AS BIGINT) AS n_ws
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT 'http://c.com/p' || (doc_id + 5000000),
             CAST(3 AS BIGINT)
           FROM documents WHERE doc_id % 11 = 0)
         ORDER BY url""",
    // all four statuses and their hashes in closed form (7s removed,
    // surviving 5s changed, 11s' shifted wave added, rest unchanged)
    "t99_crawl_diff" ->
      """SELECT url, status, prev_hash, cur_hash FROM (
           SELECT 'http://c.com/p' || doc_id AS url,
             CASE WHEN doc_id % 7 = 0 THEN 'removed'
                  WHEN doc_id % 5 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             'v' || (doc_id % 3) AS prev_hash,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  WHEN doc_id % 5 = 0 THEN 'w'
                  ELSE 'v' || (doc_id % 3) END AS cur_hash
           FROM documents
           UNION ALL
           SELECT 'http://c.com/p' || (doc_id + 5000000), 'added',
             NULL, 'n'
           FROM documents WHERE doc_id % 11 = 0)
         ORDER BY url""",
    // t98's machinery with the three host-class cuts: demoted (0,1),
    // embargoed (2), then the politeness sequence over the survivors
    "t106_crawl_control" ->
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000
             AND l.doc_id % 20 NOT IN (0, 1, 2)),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r ORDER BY url""",
    // t106's closed form + the integer budget allocation: host i's rank
    // is i+1, budget = rank*60 DIV 210; the budget cut and the schedule
    // share the (url desc) ordering so survivors keep sequence
    // 1..budget
    "t108_budgeted_wave" ->
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000
             AND l.doc_id % 20 NOT IN (0, 1, 2)),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r
         WHERE fetch_seq <= (doc_id % 20 + 1) * 60 // 210
         ORDER BY url""",
    // the walk, the due cut and the per-host politeness sequence with
    // validator carry, all in closed form
    "t98_conditional_fetch_plan" ->
      """WITH RECURSIVE f AS (
           SELECT doc_id,
             'https://h' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(doc_id AS BIGINT) * 1000 + i * 100 AS ts,
             'v' || CAST(i // (1 + doc_id % 2) AS VARCHAR) AS h,
             CAST(i + 1 AS BIGINT) AS k
           FROM (SELECT doc_id, unnest(range(0, doc_id % 4 + 1)) AS i
             FROM documents)),
         walk AS (
           SELECT url, k, h AS ph, CAST(400 AS BIGINT) AS iv,
             CAST(0 AS BIGINT) AS nc
           FROM f WHERE k = 1
           UNION ALL
           SELECT f.url, f.k, f.h,
             CASE WHEN f.h <> w.ph THEN greatest(100, w.iv // 2)
                  ELSE least(1600, w.iv * 2) END,
             w.nc + CASE WHEN f.h <> w.ph THEN 1 ELSE 0 END
           FROM walk w JOIN f ON f.url = w.url AND f.k = w.k + 1),
         last AS (SELECT doc_id, url, max(ts) AS last_ts, max(k) AS n
           FROM f GROUP BY doc_id, url),
         due AS (SELECT l.doc_id, l.url
           FROM last l JOIN walk w ON w.url = l.url AND w.k = l.n
           WHERE l.last_ts + w.iv <= 250000),
         r AS (SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY doc_id % 20
               ORDER BY url DESC) AS INT) AS fetch_seq
           FROM due)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 1000 AS BIGINT) AS eta_ms,
           doc_id % 2 = 0 AS conditional,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match
         FROM r ORDER BY url""",
    // the two surviving label pairs per page in closed form: nested
    // markup stripped + whitespace collapsed, entity decoded over the
    // absolutized relative href; the empty-label image link and the
    // hrefless self-resolving anchor never appear
    "t96_anchor_text" ->
      """SELECT doc_id, url, outlink, anchor FROM (
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id
               AS url,
             'https://abs.example/x' || doc_id AS outlink,
             'Read more here' AS anchor
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://site' || (doc_id % 9) || '.com/a/b/page' || doc_id,
             'http://site' || (doc_id % 9) || '.com/rooted/' || doc_id,
             'R&D news'
           FROM documents)
         ORDER BY doc_id, outlink""",
    // the streamed two-wave history: every discovered url exactly once
    "st22_stream_seen" ->
      """SELECT doc_id, 'http://w.com/p' || doc_id AS url,
           CAST(1 AS BIGINT) AS n_copies
         FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
         ORDER BY doc_id""",
    // the bounded redirect walk as a recursive CTE: list-based loop
    // detection, hop counting, end-to-end permanence conjunction —
    // terminal rows emitted exactly once, recursion only on open rows
    "t107_redirects" ->
      """WITH RECURSIVE
           derived AS (
             SELECT 'u' || doc_id AS src,
                    CASE WHEN doc_id % 4 < 2 THEN 301 ELSE 302 END AS st,
                    'u' || (doc_id + 1) AS loc
             FROM documents WHERE doc_id % 10 IN (1, 2)),
           planted(src, st, loc) AS (VALUES
             ('loopA', 301, 'loopB'), ('loopB', 308, 'loopA'),
             ('self', 307, 'self'),
             ('c0', 301, 'c1'), ('c1', 308, 'c2'), ('c2', 301, 'c3'),
             ('c3', 308, 'c4'), ('c4', 301, 'c5'), ('c5', 308, 'c6'),
             ('c6', 302, 'c7')),
           m AS (SELECT * FROM derived UNION ALL SELECT * FROM planted),
           walk(url, cur, hops, perm, visited, outcome) AS (
             SELECT src, loc, CAST(1 AS BIGINT), st IN (301, 308), [src],
                    CAST(NULL AS VARCHAR)
             FROM m
             UNION ALL
             SELECT w.url,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.cur ELSE m2.loc END,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.hops ELSE w.hops + 1 END,
               CASE WHEN m2.src IS NULL THEN w.perm
                    WHEN list_contains(w.visited, m2.loc) OR m2.loc = w.cur
                         OR w.hops + 1 > 5 THEN false
                    ELSE w.perm AND m2.st IN (301, 308) END,
               CASE WHEN m2.src IS NULL OR list_contains(w.visited, m2.loc)
                         OR m2.loc = w.cur OR w.hops + 1 > 5
                    THEN w.visited ELSE list_append(w.visited, w.cur) END,
               CASE WHEN m2.src IS NULL THEN 'resolved'
                    WHEN list_contains(w.visited, m2.loc) OR m2.loc = w.cur
                    THEN 'loop'
                    WHEN w.hops + 1 > 5 THEN 'exceeded'
                    ELSE NULL END
             FROM walk w LEFT JOIN m m2 ON w.cur = m2.src
             WHERE w.outcome IS NULL)
         SELECT url,
           CASE WHEN outcome = 'resolved' THEN cur END AS final_url,
           hops,
           outcome = 'resolved' AND perm AS permanent,
           outcome
         FROM walk WHERE outcome IS NOT NULL ORDER BY url""",
    // the expected RESOLVED spellings in closed form: ../q/r<d> from
    // /dir/p<d> lands at /q/r<d>, whose /final/<d> reference lands at
    // /final/<d>; the 2-hop chain carries the 302's non-permanence
    "t107c_redirect_relative" ->
      """WITH d AS (SELECT doc_id, 'http://h' || (doc_id % 7) || '.com'
             AS host
           FROM documents WHERE doc_id % 5 = 1),
         r AS (
           SELECT host || '/dir/p' || doc_id AS url,
             host || '/final/' || doc_id AS final_url,
             CAST(2 AS BIGINT) AS hops, false AS permanent,
             'resolved' AS outcome
           FROM d
           UNION ALL
           SELECT host || '/q/r' || doc_id, host || '/final/' || doc_id,
             CAST(1 AS BIGINT), false, 'resolved'
           FROM d)
         SELECT * FROM r ORDER BY url""",
    // cross-wave chains in closed form: by d%3 the a<d> chain ends at
    // b/c/e with summed hops 1/2/3; mid-chain rows compact too; the
    // temporary and loop/exceeded rows pass through untouched
    "t107d_redirect_compaction" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS r
             FROM documents WHERE doc_id % 10 = 3),
         rows AS (
           SELECT 'a' || doc_id AS url,
             (CASE r WHEN 0 THEN 'b' WHEN 1 THEN 'c' ELSE 'e' END)
               || doc_id AS final_url,
             CAST(CASE r WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
               AS BIGINT) AS hops,
             true AS permanent, 'resolved' AS outcome
           FROM d
           UNION ALL
           SELECT 'b' || doc_id,
             (CASE r WHEN 1 THEN 'c' ELSE 'e' END) || doc_id,
             CAST(CASE r WHEN 1 THEN 1 ELSE 2 END AS BIGINT), true,
             'resolved'
           FROM d WHERE r IN (1, 2)
           UNION ALL
           SELECT 'c' || doc_id, 'e' || doc_id, CAST(1 AS BIGINT), true,
             'resolved'
           FROM d WHERE r = 2
           UNION ALL
           SELECT 'b' || doc_id, 'z' || doc_id, CAST(1 AS BIGINT), false,
             'resolved'
           FROM d WHERE r = 0
           UNION ALL
           SELECT 'loopA', 'loopA', CAST(2 AS BIGINT), false, 'loop'
           UNION ALL
           SELECT 'deep0', NULL, CAST(5 AS BIGINT), false, 'exceeded')
         SELECT * FROM rows ORDER BY url""",
    // closed-form: d%10==1 renames u<d> -> v<d> (permanent), d%10==2
    // stays u<d> (temporary never renames); single-fetch plan rows —
    // interval = base, validators carried under the migrated name
    "t107b_redirect_migration" ->
      """SELECT
           CASE WHEN doc_id % 10 = 1 THEN 'v' || doc_id
                ELSE 'u' || doc_id END AS url,
           CAST(1 AS BIGINT) AS n_fetches,
           CAST(0 AS BIGINT) AS n_changes,
           CAST(400 AS BIGINT) AS interval_sec,
           CAST(doc_id * 100 + 400 AS BIGINT) AS next_due,
           doc_id * 100 + 400 <= 25000 AS due,
           'e' || doc_id AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           true AS conditional
         FROM documents ORDER BY url""",
    // two streamed waves in closed form: wave 1 single permanent hops,
    // wave 2 complete 2-hop chains resolved batch-locally
    "st27_stream_redirects" ->
      """WITH r AS (
           SELECT 'u' || doc_id AS url, 'v' || doc_id AS final_url,
                  CAST(1 AS BIGINT) AS hops, true AS permanent,
                  'resolved' AS outcome
           FROM documents WHERE doc_id % 10 = 1
           UNION ALL
           SELECT 'a' || doc_id, 'c' || doc_id, CAST(2 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT 'b' || doc_id, 'c' || doc_id, CAST(1 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           -- the cross-batch chain: wave 2's t -> u extends through the
           -- committed wave-1 move u -> v to the direct t -> v row
           SELECT 't' || doc_id, 'v' || doc_id, CAST(2 AS BIGINT), true,
                  'resolved'
           FROM documents WHERE doc_id % 10 = 1)
         SELECT * FROM r ORDER BY url""",
    // the streamed conditional-recrawl loop in closed form: the 304
    // side doubles (carried hash + ETag), the 200 side halves
    "st26_stream_outcomes" ->
      """SELECT
           'https://h' || (doc_id % 20) || '.example.com/p' || doc_id
             AS url,
           CAST(2 AS BIGINT) AS n_fetches,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS n_changes,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 800 ELSE 200 END AS BIGINT)
             AS interval_sec,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 10000800 ELSE 10000200 END
             AS BIGINT) AS next_due,
           doc_id % 2 <> 0 AS due,
           CASE WHEN doc_id % 2 = 0 THEN 'e' || doc_id END
             AS if_none_match,
           CAST(NULL AS BIGINT) AS if_modified_since,
           doc_id % 2 = 0 AS conditional
         FROM documents ORDER BY url""",
    // feed polls streamed: wave 2 re-publishes every wave-1 entry, the
    // anti-join must still land every entry URL exactly once
    "st25_stream_feeds" ->
      """SELECT doc_id,
           'http://f' || (doc_id % 5) || '.com/a?id=' || doc_id AS url,
           CAST(1 AS BIGINT) AS n_copies
         FROM documents ORDER BY doc_id""",
    // wave 1 = all evens (empty history); wave 2 = thirds never seen,
    // i.e. odd multiples of 3 — the anti-join replayed in closed form
    "t66_seen_urls" ->
      """SELECT * FROM (
           SELECT 1 AS wave, doc_id,
             'http://w.com/p' || doc_id AS url
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 2 AS wave, doc_id,
             'http://w.com/p' || doc_id AS url
           FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0)
         ORDER BY wave, doc_id""",
    // both engines recompose the SAME decomposed construction; the
    // unchanged boolean proves the decomposition altered the bytes
    "t62_nfc_normalize" ->
      """WITH d AS (
           SELECT doc_id,
             replace(replace(text, 'e', 'e' || chr(769)),
               'o', 'o' || chr(776)) AS dec
           FROM documents)
         SELECT doc_id, nfc_normalize(dec) AS text_nfc,
           nfc_normalize(dec) = dec AS unchanged
         FROM d ORDER BY doc_id""",
    // the two planted Sitemap lines (mixed case, tab-separated, trailing
    // comment) and never the commented-out one
    "t54c_robots_sitemaps" ->
      """SELECT doc_id, u AS sitemap_url FROM (
           SELECT doc_id,
             'http://s' || (doc_id % 9) || '.com/map' || doc_id || '.xml' AS u
           FROM documents
           UNION ALL
           SELECT doc_id,
             'http://s' || (doc_id % 9) || '.com/map' || doc_id || 'b.xml'
           FROM documents)
         ORDER BY doc_id, sitemap_url""",
    // HTTP-framed WARC round trip: the splitter must strip the built
    // status line + headers exactly and surface the framed constants
    "t59_http_payload" ->
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
           text AS text_http
         FROM documents ORDER BY doc_id""",
    // chunked reassembly is the identity on the text; the mixed-case
    // Content-Type must come back lowercased
    "t59b_http_chunked" ->
      """SELECT doc_id, 200 AS status,
           'text/plain; charset=utf-8' AS content_type,
           text AS text_chunked
         FROM documents ORDER BY doc_id""",
    // wildcard verdicts replayed as digit arithmetic: longest pattern
    // wins (the *77$ allow outranks the *7$ disallow), then the
    // double-star id=9 block, else default allow
    "t54b_robots_wildcard" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 100 = 77 THEN TRUE
                WHEN doc_id % 10 = 7 THEN FALSE
                WHEN CAST(doc_id AS VARCHAR) LIKE '9%' THEN FALSE
                ELSE TRUE END AS robots_allowed
         FROM documents ORDER BY doc_id""",
    // both discovery levels reconstructed in closed form: the padded/
    // unpadded <loc> trim, the child fan-out, and the parity split
    "t56b_sitemap_index" ->
      """SELECT doc_id,
           'http://s' || (doc_id % 5) || '.com/p/' || doc_id AS url,
           'http://s' || (doc_id % 5) || '.com/maps/child'
             || (doc_id % 2) || '.xml' AS child_url
         FROM documents ORDER BY doc_id""",
    // the cap replayed as the identical rank — qualify-style
    "t61b_frontier_cap" ->
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             CAST(doc_id % 7 AS INT) AS priority
           FROM documents),
         r AS (SELECT doc_id, url, priority,
             row_number() OVER (PARTITION BY h
               ORDER BY priority DESC, url) AS rk
           FROM u)
         SELECT doc_id, url, priority FROM r WHERE rk <= 13
         ORDER BY doc_id""",
    // the cross-batch politeness sequence as ONE window: arrival wave
    // (even docs first) outranks priority, priority outranks url — a
    // state reset between waves would restart every host at slot 1
    "st21_stream_frontier" ->
      """WITH u AS (
           SELECT doc_id, doc_id % 9 AS h, doc_id % 2 AS wave,
             'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id AS url,
             doc_id % 7 AS prio
           FROM documents),
         r AS (
           SELECT doc_id, url,
             CAST(row_number() OVER (PARTITION BY h
               ORDER BY wave, prio DESC, url) AS BIGINT) AS fetch_seq
           FROM u)
         SELECT doc_id, url, fetch_seq,
           CAST((fetch_seq - 1) * 500 AS BIGINT) AS eta_ms
         FROM r ORDER BY doc_id""",
    // the same chain executed as a STREAM gates against the identical
    // replay (the st7/st18 same-oracle convention)
    "st20_stream_crawl" ->
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url_norm,
           'Doc ' || doc_id || chr(10) || text AS clean
         FROM documents ORDER BY doc_id""",
    // WARC framing + gzip + the markup state machine + every URL rule
    // replayed together: block tags emit newlines, script content drops,
    // tracker param drops, default port strips, fragment drops
    "t53_crawl_pipeline" ->
      """SELECT doc_id,
           'http://site' || (doc_id % 9) || '.com/Doc/' || doc_id
             || '?id=' || doc_id AS url_norm,
           'Doc ' || doc_id || chr(10) || text AS clean
         FROM documents ORDER BY doc_id""",
    // container round trip: group → build (gzip on even file ids) →
    // parse must reproduce every (url, body) pair byte-for-byte
    "t52_warc_roundtrip" ->
      """SELECT doc_id, 'http://example.com/doc/' || doc_id AS url,
           'response' AS rec_type, text AS text_rt
         FROM documents ORDER BY doc_id""",
    // the identity IS the gate: build → compress (even ids) → extract
    // must reproduce the corpus byte-for-byte (see t50's scaladoc)
    "t50_pdf_extract" ->
      """SELECT doc_id, text AS text_extracted
         FROM documents ORDER BY doc_id""",
    // identity oracle, like t50: the DOCX build->extract round trip
    // must reproduce every document byte-for-byte
    "t73_docx_extract" ->
      """SELECT doc_id, text AS text_extracted
         FROM documents ORDER BY doc_id""",
    // cosines, both neighborhood windows, rounded ratio margin,
    // threshold and best-per-source replayed in SQL
    "t49_bitext" ->
      """WITH s AS (SELECT vec_id AS src_id,
             CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 10 = 0),
         tg AS (SELECT vec_id + 1000000 AS tgt_id,
             CAST(list_transform(embedding,
               x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
           FROM embeddings),
         c AS (SELECT src_id, tgt_id,
             list_dot_product(s.v, tg.v) /
               (sqrt(list_dot_product(s.v, s.v)) *
                sqrt(list_dot_product(tg.v, tg.v))) AS cos
           FROM s CROSS JOIN tg),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY src_id
               ORDER BY cos DESC, tgt_id) AS rf,
             row_number() OVER (PARTITION BY tgt_id
               ORDER BY cos DESC, src_id) AS rb FROM c),
         a AS (SELECT *,
             avg(CASE WHEN rf <= 4 THEN cos END)
               OVER (PARTITION BY src_id) AS avg_s,
             avg(CASE WHEN rb <= 4 THEN cos END)
               OVER (PARTITION BY tgt_id) AS avg_t FROM r),
         m AS (SELECT src_id, tgt_id, cos,
             round(cos / ((avg_s + avg_t) / 2), 6) AS margin FROM a),
         f AS (SELECT * FROM m WHERE margin >= 1.0),
         b AS (SELECT *, row_number() OVER (PARTITION BY src_id
             ORDER BY margin DESC, tgt_id) AS bf FROM f)
         SELECT src_id, tgt_id, round(cos, 6) AS cosine, margin
         FROM b WHERE bf = 1 ORDER BY src_id""",
    // top-k by weight/u with the salted uniform replayed literally
    "t43_priority_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
           ORDER BY CAST(n_chars AS DOUBLE) /
               ((CAST(concat('0x', substr(md5('pw' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) + 1.0) / 4294967296.0) DESC,
             doc_id
           LIMIT 100)
         ORDER BY doc_id""",
    // replays matchDistribution: counts -> cross-multiplied argmax bin ->
    // exact BIGINT acceptance inequality over the salted md5 slice
    "t41_dist_match" ->
      """WITH d AS (SELECT doc_id, length(text) // 400 AS bin
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         stats AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(1 AS BIGINT) AS w FROM d GROUP BY bin),
         ref AS (SELECT n AS rn, w AS rw FROM stats s
           WHERE NOT EXISTS (SELECT 1 FROM stats o
             WHERE o.w * s.n > s.w * o.n
                OR (o.w * s.n = s.w * o.n AND o.bin < s.bin)))
         SELECT d.doc_id, d.bin
         FROM d JOIN stats ON d.bin = stats.bin CROSS JOIN ref
         WHERE CAST(concat('0x',
             substr(md5('dm1' || CAST(doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
           * stats.n * ref.rw < 1048576 * stats.w * ref.rn
         ORDER BY doc_id""",
    "t35_sentences" ->
      """WITH sx AS (SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
               s -> s <> '') AS sn
           FROM documents)
         SELECT doc_id, CAST(len(sn) AS BIGINT) AS n_sentences,
           COALESCE(sn[1], '') AS first_sentence,
           CASE WHEN len(sn) > 0 THEN
             CAST(list_sum(list_transform(sn, s -> length(s))) AS DOUBLE)
               / len(sn) END AS mean_len
         FROM sx ORDER BY doc_id""",
    "t36_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE CAST(concat('0x', substr(md5(concat('gw',
             CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0
           < least(1.0, greatest(0.0, n_chars / 800.0))
         ORDER BY doc_id""",
    // the stream must land on the batch truth: same counters over the
    // whole events table
    "st14_stream_enforce" ->
      """SELECT event_id,
           CASE WHEN r = '' THEN 'ok' ELSE 'quarantined' END AS status,
           r AS gr_reasons
         FROM (SELECT event_id, concat_ws(',',
             CASE WHEN NOT coalesce(value <= 15.0, FALSE)
               THEN 'value_le_15' END,
             CASE WHEN NOT coalesce(event_type <> 'error', FALSE)
               THEN 'not_error' END) AS r
           FROM events)
         ORDER BY event_id""",
    "st13_incremental" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events WHERE value > 5.0
         GROUP BY event_type ORDER BY event_type""",
    "st12_stream_audit" ->
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN NOT coalesce(value > 0, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v0,
           CAST(SUM(CASE WHEN NOT coalesce(event_type IN
             ('view','click','purchase','signup','error'), FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v1,
           CAST(SUM(CASE WHEN NOT coalesce(user_id < 150, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
           CAST(SUM(CASE WHEN NOT coalesce(value < 400, FALSE)
             THEN 1 ELSE 0 END) AS BIGINT) AS v3
           FROM events)
         SELECT 'value_positive' AS "check", n AS n_rows,
             v0 AS n_violations, v0 = 0 AS pass FROM a
         UNION ALL SELECT 'type_domain', n, v1, v1 = 0 FROM a
         UNION ALL SELECT 'user_in_dim', n, v2, v2 = 0 FROM a
         UNION ALL SELECT 'value_under_400', n, v3, v3 = 0 FROM a""",
    // one aggregate row replayed per check; NOT coalesce(pred, FALSE)
    // mirrors the operator's null-counts-as-violation contract
    "s28_expect" ->
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
         UNION ALL SELECT 'price_under_20k', n, v5, v5 = 0 FROM a""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2))) * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_quantity < 30
         ORDER BY l_orderkey, l_linenumber""",
    "q3_join_agg" ->
      """SELECT c_mktsegment,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
         COUNT(DISTINCT o_orderkey) AS n_orders, COUNT(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q4_semijoin" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         ORDER BY o_orderkey""",
    "q5_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""",
    "q6_window" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_quantity, prev_qty, run_qty
         FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             row_number() OVER w AS rn,
             lag(l_quantity, 1) OVER w AS prev_qty,
             CAST(SUM(CAST(l_quantity AS DECIMAL(10,2)))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
           FROM lineitem
           WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
         ) sub WHERE rn <= 3 ORDER BY l_suppkey, rn""",
    "q7_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q8_setops" ->
      """SELECT o_custkey FROM (
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         ) sub ORDER BY o_custkey""",
    "q9_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q10_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "q11_string" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 8) AS name8,
         CAST(length(p_name) AS BIGINT) AS name_len,
         concat(p_brand, '#', p_type) AS bt,
         replace(p_type, ' ', '_') AS type_u,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4
         FROM part ORDER BY p_partkey""",
    "q12_date" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(day(o_orderdate) AS BIGINT) AS d,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         last_day(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders ORDER BY o_orderkey""",
    "q13_case" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                     WHEN o_totalprice < 150000 THEN 'mid'
                     ELSE 'high' END AS band, COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY band""",
    "q14_having" ->
      """SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_partkey
         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) > 100
         ORDER BY l_partkey""",
    "q15_math" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(floor(l_discount * 100) AS BIGINT) AS fl,
         CAST(ceil(l_tax * 100) AS BIGINT) AS ce,
         abs(l_quantity - 25) AS ab,
         l_partkey % 7 AS m7
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q16_array" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         CAST(embedding[1] AS DOUBLE) AS e1, label
         FROM embeddings ORDER BY vec_id""",
    "q17_json" ->
      """SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "q18_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pr,
         COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY st, pr""",
    // the HLL gate's band booleans: the oracle recomputes the EXACT counts
    // and expects every within-band flag true — Spark's in-query band
    // check makes the approximate operator hash-comparable (the estimates
    // themselves are engine-specific and never would be)
    "q19_approx_hll" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         count(DISTINCT l_orderkey) AS exact_orders,
         true AS parts_in_band, true AS orders_in_band
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q21_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         ORDER BY rf, ls""",
    "q26_cte" ->
      """WITH big AS (SELECT o_custkey, COUNT(*) AS n
                      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
         seg AS (SELECT c_custkey, c_mktsegment FROM customer)
         SELECT s.c_mktsegment, COUNT(*) AS n_customers,
                CAST(SUM(b.n) AS BIGINT) AS n_big_orders
         FROM big b JOIN seg s ON b.o_custkey = s.c_custkey
         GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""",
    "q27_union_all" ->
      """SELECT o_orderkey, bucket FROM (
           SELECT o_orderkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 400000
           UNION ALL
           SELECT o_orderkey, 'lo' AS bucket FROM orders WHERE o_totalprice < 10000
         ) u ORDER BY o_orderkey, bucket""",
    "q28_pivot" ->
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN l_returnflag = 'A'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "A",
           CAST(sum(CASE WHEN l_returnflag = 'N'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "N",
           CAST(sum(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_quantity AS DECIMAL(10,2)) END) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q29_range_window" ->
      """SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
         FROM orders ORDER BY o_orderkey""",
    "q30_posexplode" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents WHERE doc_id < 20)
         SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos,
           unnest(ws) AS word
         FROM w ORDER BY doc_id, pos""",
    "q31_array_quantifiers" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents)
         SELECT doc_id, list_contains(ws, 'the') AS has_the,
           len(list_filter(ws, x -> length(x) > 1)) = len(ws) AS all_longer_1,
           CAST(len(ws) AS BIGINT) AS n
         FROM w ORDER BY doc_id""",
    "q32_rows_window" ->
      """SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER w AS DOUBLE)
             / count(*) OVER w AS avg_last3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "q25_semi_anti_combo" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 48)
           AND NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o_orderkey AND l_quantity < 2)
         ORDER BY o_orderkey""",
    "q24_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_extendedprice, 0.9) AS p90_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_corr_subquery" ->
      """SELECT o_custkey, COUNT(*) AS n_big
         FROM orders o
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
                                 / COUNT(*) * 1.5 FROM orders
                               WHERE o_custkey = o.o_custkey)
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q23_scalar_subquery" ->
      """SELECT l_returnflag, COUNT(*) AS n
         FROM lineitem
         WHERE l_quantity > (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE)
                               / COUNT(*) FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents) u
         GROUP BY md5(text) ORDER BY doc_id""",
    "d2_dedup_minhash" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         FROM documents ORDER BY id_a, id_b""",
    "d3_dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INT) AS hamming
         FROM documents ORDER BY id_a, id_b""",
    "d4_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w)
         SELECT a.doc_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS j
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY a.doc_id""",
    "d16_containment" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         shc AS (SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) END) AS s
           FROM w),
         q AS (SELECT doc_id AS q_id, doc_id + 1 AS ref_id,
             ws[1:8] AS qw FROM w),
         shq AS (SELECT q_id, ref_id,
             list_distinct(CASE WHEN len(qw) < 2 THEN [array_to_string(qw, ' ')]
               ELSE list_transform(range(1, len(qw)),
                 i -> qw[i] || ' ' || qw[i+1]) END) AS s
           FROM q)
         SELECT shq.q_id AS doc_id,
           CAST(len(list_intersect(shq.s, shc.s)) AS DOUBLE) / len(shq.s)
             AS containment
         FROM shq JOIN shc ON shc.doc_id = shq.ref_id
         ORDER BY doc_id""",
    "e5_centroid_sim" ->
      """WITH x AS (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings),
         m AS (SELECT label, pos, round(avg(val), 6) AS v
           FROM x GROUP BY label, pos),
         c AS (SELECT label, list(v ORDER BY pos) AS vec
           FROM m GROUP BY label)
         SELECT a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.vec, b.vec) /
             (sqrt(list_dot_product(a.vec, a.vec)) *
              sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos
         FROM c a JOIN c b ON a.label < b.label
         ORDER BY label_a, label_b""",
    "s36_merge_schema" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS INT) AS n_regionkey,
           'a' AS batch FROM nation
         UNION ALL
         SELECT n_nationkey, NULL, n_regionkey, 'b' FROM nation
         ORDER BY n_nationkey, batch""",
    "d5_embed_neardup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
         FROM embeddings ORDER BY id_a, id_b""",
    "ml1_linprobe" ->
      """WITH f AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x1,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x2,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s00,
             CAST(SUM(x1) AS DOUBLE) AS s01, CAST(SUM(x2) AS DOUBLE) AS s02,
             CAST(SUM(x1*x1) AS DOUBLE) AS s11,
             CAST(SUM(x1*x2) AS DOUBLE) AS s12,
             CAST(SUM(x2*x2) AS DOUBLE) AS s22,
             CAST(SUM(y) AS DOUBLE) AS b0, CAST(SUM(x1*y) AS DOUBLE) AS b1,
             CAST(SUM(x2*y) AS DOUBLE) AS b2
           FROM f),
         w AS (SELECT
             (s00 * (s11 * s22 - s12 * s12) - s01 * (s01 * s22 - s12 * s02)
               + s02 * (s01 * s12 - s11 * s02)) AS det,
             (b0 * (s11 * s22 - s12 * s12) - s01 * (b1 * s22 - s12 * b2)
               + s02 * (b1 * s12 - s11 * b2)) AS n0,
             (s00 * (b1 * s22 - s12 * b2) - b0 * (s01 * s22 - s12 * s02)
               + s02 * (s01 * b2 - b1 * s02)) AS n1,
             (s00 * (s11 * b2 - b1 * s12) - s01 * (s01 * b2 - b1 * s02)
               + b0 * (s01 * s12 - s11 * s02)) AS n2
           FROM g),
         ww AS (SELECT n0 / det AS w0, n1 / det AS w1, n2 / det AS w2 FROM w)
         SELECT f.doc_id, ww.w0 + ww.w1 * f.x1 + ww.w2 * f.x2 AS score
         FROM f, ww ORDER BY doc_id""",
    "ml2_logreg" ->
      """WITH f AS (SELECT doc_id, n_chars / 100.0 AS x1,
             len(regexp_split_to_array(trim(text), '\s+')) / 20.0 AS x2,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
         p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
         i1 AS (SELECT
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(0.0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p),
         i2 AS (SELECT
             ROUND(w.w0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i1 w GROUP BY w.w0, w.w1, w.w2),
         i3 AS (SELECT
             ROUND(w.w0 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 0.5 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i2 w GROUP BY w.w0, w.w1, w.w2)
         SELECT f.doc_id,
           ROUND(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))), 6) AS score
         FROM f, i3 w ORDER BY doc_id""",
    // three synchronous clamped-seed rounds, each replayed: labeled-
    // neighbor votes, count-desc/label-asc argmax, seeds immutable
    "g5_label_prop" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT event_id % 60 AS s,
             (event_id // 60) % 60 AS d
           FROM events WHERE (event_id % 60) <> ((event_id // 60) % 60)),
         und AS MATERIALIZED (SELECT DISTINCT s, d FROM
           (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0)),
         nodes AS (SELECT DISTINCT s AS node FROM und),
         l0 AS (SELECT node,
             CASE WHEN node < 6 THEN node END AS label FROM nodes),
         m1 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l0 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c1 AS (SELECT node, nl, COUNT(*) AS c FROM m1 GROUP BY node, nl),
         p1 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c1)
           WHERE rn = 1),
         l1 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l0 l LEFT JOIN p1 p ON p.node = l.node),
         m2 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l1 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c2 AS (SELECT node, nl, COUNT(*) AS c FROM m2 GROUP BY node, nl),
         p2 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c2)
           WHERE rn = 1),
         l2 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l1 l LEFT JOIN p2 p ON p.node = l.node),
         m3 AS (SELECT u.s AS node, l.label AS nl FROM und u
           JOIN l2 l ON l.node = u.d WHERE l.label IS NOT NULL),
         c3 AS (SELECT node, nl, COUNT(*) AS c FROM m3 GROUP BY node, nl),
         p3 AS (SELECT node, nl FROM (SELECT *, row_number() OVER
             (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM c3)
           WHERE rn = 1),
         l3 AS (SELECT l.node, CASE WHEN l.node < 6 THEN l.node
             ELSE COALESCE(p.nl, l.label) END AS label
           FROM l2 l LEFT JOIN p3 p ON p.node = l.node)
         SELECT node, label FROM l3 ORDER BY node""",
    "q47_cumulative_distinct" ->
      """WITH fd AS (SELECT user_id,
             min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT))
               AS fday
           FROM events GROUP BY user_id),
         d AS (SELECT fday, CAST(COUNT(*) AS BIGINT) AS new_keys
           FROM fd GROUP BY fday)
         SELECT CAST(DATE '1970-01-01' + to_days(CAST(fday AS INT)) AS DATE)
             AS day,
           new_keys,
           CAST(SUM(new_keys) OVER (ORDER BY fday
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_keys
         FROM d ORDER BY day""",
    "ml3_naive_bayes" ->
      """WITH w AS (SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents WHERE trim(text) <> ''),
         tok AS (SELECT doc_id, source, unnest(ws) AS t FROM w),
         labels AS (SELECT DISTINCT source AS label FROM documents),
         v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vv FROM tok),
         ct AS (SELECT l.label, COALESCE(t0.tot0, 0) AS tot
           FROM labels l LEFT JOIN (SELECT source AS label,
             CAST(count(*) AS BIGINT) AS tot0 FROM tok GROUP BY source) t0
           USING (label)),
         wc AS (SELECT t, source AS label, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY t, source),
         dtf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, t),
         pri AS (SELECT source AS label,
             ln(CAST(count(*) AS DOUBLE) /
               (SELECT count(*) FROM documents)) AS lp
           FROM documents GROUP BY source),
         contrib AS (SELECT d.doc_id, l.label,
             d.tf * ln((COALESCE(wc.c, 0) + 1.0) /
               (ct.tot + 1.0 * CAST(v.vv AS DOUBLE))) AS x
           FROM dtf d CROSS JOIN labels l
           LEFT JOIN wc ON wc.t = d.t AND wc.label = l.label
           JOIN ct ON ct.label = l.label
           CROSS JOIN v),
         sc AS (SELECT c.doc_id, c.label,
             round(p.lp + sum(c.x), 6) AS score
           FROM contrib c JOIN pri p ON p.label = c.label
           GROUP BY c.doc_id, c.label, p.lp),
         pred AS (SELECT doc_id, label AS predicted FROM
           (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, label) AS rn FROM sc)
           WHERE rn = 1)
         SELECT s.doc_id, s.label, s.score, p.predicted
         FROM sc s JOIN pred p USING (doc_id)
         ORDER BY s.doc_id, s.label""",
    // six chained peel rounds (fixpoint at 4, +2 idempotent) — each round
    // recomputes degrees over the induced subgraph exactly as the engine
    "g3_kcore" ->
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
           FROM (SELECT event_id % 60 AS s, (event_id // 60) % 60 AS d
                 FROM events)
           WHERE s <> d AND (s * d) % 7 < 3),
         k1 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e0 UNION ALL
                 SELECT v FROM e0) GROUP BY node HAVING count(*) >= 25),
         e1 AS MATERIALIZED (SELECT e0.u, e0.v FROM e0
                JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v),
         k2 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e1 UNION ALL
                 SELECT v FROM e1) GROUP BY node HAVING count(*) >= 25),
         e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
                JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v),
         k3 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e2 UNION ALL
                 SELECT v FROM e2) GROUP BY node HAVING count(*) >= 25),
         e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2
                JOIN k3 a ON a.node = e2.u JOIN k3 b ON b.node = e2.v),
         k4 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e3 UNION ALL
                 SELECT v FROM e3) GROUP BY node HAVING count(*) >= 25),
         e4 AS MATERIALIZED (SELECT e3.u, e3.v FROM e3
                JOIN k4 a ON a.node = e3.u JOIN k4 b ON b.node = e3.v),
         k5 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e4 UNION ALL
                 SELECT v FROM e4) GROUP BY node HAVING count(*) >= 25),
         e5 AS MATERIALIZED (SELECT e4.u, e4.v FROM e4
                JOIN k5 a ON a.node = e4.u JOIN k5 b ON b.node = e4.v),
         k6 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e5 UNION ALL
                 SELECT v FROM e5) GROUP BY node HAVING count(*) >= 25),
         e6 AS MATERIALIZED (SELECT e5.u, e5.v FROM e5
                JOIN k6 a ON a.node = e5.u JOIN k6 b ON b.node = e5.v)
         SELECT node FROM (SELECT u AS node FROM e6 UNION SELECT v FROM e6)
         ORDER BY node""",
    // layered expansion, MIN over hop labels = BFS distance (≤ 6)
    "g4_bfs" ->
      """WITH raw AS (SELECT event_id % 200 AS s,
             (event_id * 48271) % 200 AS d FROM events),
         adj AS (SELECT DISTINCT s AS a, d AS b FROM raw WHERE s <> d
                 UNION SELECT DISTINCT d, s FROM raw WHERE s <> d),
         h0 AS (SELECT CAST(1 AS BIGINT) AS node),
         h1 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h0 ON adj.a = h0.node),
         h2 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h1 ON adj.a = h1.node),
         h3 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h2 ON adj.a = h2.node),
         h4 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h3 ON adj.a = h3.node),
         h5 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h4 ON adj.a = h4.node),
         h6 AS (SELECT DISTINCT adj.b AS node FROM adj JOIN h5 ON adj.a = h5.node),
         r AS (SELECT node, 0 AS hops FROM h0
               UNION ALL SELECT node, 1 FROM h1
               UNION ALL SELECT node, 2 FROM h2
               UNION ALL SELECT node, 3 FROM h3
               UNION ALL SELECT node, 4 FROM h4
               UNION ALL SELECT node, 5 FROM h5
               UNION ALL SELECT node, 6 FROM h6)
         SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
         FROM r GROUP BY node ORDER BY node""",
    // six Bellman-Ford relaxation rounds unrolled: dist after round R =
    // exact shortest distance among paths of <= R edges
    "g6_sssp" ->
      """WITH raw AS (SELECT event_id % 200 AS s,
             (event_id * 48271) % 200 AS d,
             CAST((event_id % 7) + 1 AS BIGINT) AS w FROM events),
         adj AS (SELECT s AS a, d AS b, w FROM raw WHERE s <> d
                 UNION ALL SELECT d, s, w FROM raw WHERE s <> d),
         d0 AS (SELECT CAST(n AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
                FROM (VALUES (1), (2), (3)) AS t(n)),
         d1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d0 UNION ALL
             SELECT adj.b, d0.dist + adj.w FROM adj JOIN d0 ON adj.a = d0.node)
           GROUP BY node),
         d2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d1 UNION ALL
             SELECT adj.b, d1.dist + adj.w FROM adj JOIN d1 ON adj.a = d1.node)
           GROUP BY node),
         d3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d2 UNION ALL
             SELECT adj.b, d2.dist + adj.w FROM adj JOIN d2 ON adj.a = d2.node)
           GROUP BY node),
         d4 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d3 UNION ALL
             SELECT adj.b, d3.dist + adj.w FROM adj JOIN d3 ON adj.a = d3.node)
           GROUP BY node),
         d5 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d4 UNION ALL
             SELECT adj.b, d4.dist + adj.w FROM adj JOIN d4 ON adj.a = d4.node)
           GROUP BY node),
         d6 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d5 UNION ALL
             SELECT adj.b, d5.dist + adj.w FROM adj JOIN d5 ON adj.a = d5.node)
           GROUP BY node)
         SELECT node, dist FROM d6 ORDER BY node""",
    // canonical u<y<z triple enumeration — orientation-independent truth
    // for the engine's degree-oriented wedge join
    "g2_triangles" ->
      """WITH raw AS (SELECT s, d FROM
             (SELECT event_id % 60 AS s, (event_id // 60) % 60 AS d
              FROM events)
           WHERE (s * 31 + d * 17) % 5 <> 0),
         e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
               FROM raw WHERE s <> d),
         n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                 FROM e a JOIN e b ON b.u = a.u AND b.v > a.v
                 JOIN e c ON c.u = a.v AND c.v = b.v),
         corners AS (SELECT x AS node FROM tri
                     UNION ALL SELECT y FROM tri
                     UNION ALL SELECT z FROM tri),
         cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
                 FROM corners GROUP BY node)
         SELECT n.node, coalesce(cnt.n_triangles, 0) AS n_triangles
         FROM n LEFT JOIN cnt USING (node) ORDER BY node""",
    // the 6-host cycle enumerated, five seed-restricted iterations
    // replayed (outdeg 1 everywhere, so contributions are plain sums)
    "t102_crawl_trust" ->
      """WITH e(src, dst) AS (VALUES ('h0.com', 'h1.com'), ('h1.com', 'h2.com'), ('h2.com', 'h3.com'), ('h3.com', 'h4.com'), ('h4.com', 'h5.com'), ('h5.com', 'h0.com')),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node,
             CASE WHEN node = 'h0.com' THEN 1000000000 ELSE 0 END AS r
           FROM nodes),
         c1 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r0 pr ON pr.node = e.src GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node),
         c2 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r1 pr ON pr.node = e.src GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node),
         c3 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r2 pr ON pr.node = e.src GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node),
         c4 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r3 pr ON pr.node = e.src GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node),
         c5 AS (SELECT e.dst AS node, SUM(pr.r) AS c
           FROM e JOIN r4 pr ON pr.node = e.src GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (CASE WHEN nd.node = 'h0.com' THEN 150000000 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node)
         SELECT node AS host, CAST(r AS BIGINT) AS trust_ppb
         FROM r5 ORDER BY host""",
    // g1's machinery with seed-restricted init and teleport: the
    // trusted four carry all mass at round 0 and all teleport after
    // both Retry-After forms in one log: 429 deltas are ts-relative,
    // the even 503s carry an absolute IMF-fixdate (epoch 7200), the odd
    // 503s are malformed (null, no row); max not-before per host wins
    "t105_retry_after" ->
      """WITH e AS (SELECT doc_id % 8 AS h,
             doc_id * 10 + (doc_id % 5) * 30 AS nb
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id % 8 AS h,
             CAST(epoch(strptime('Thu, 01 Jan 1970 02:00:00 GMT',
               '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) AS nb
           FROM documents WHERE doc_id % 3 = 2 AND doc_id % 2 = 0)
         SELECT 'site' || h || '.com' AS host,
           CAST(max(nb) AS BIGINT) AS not_before,
           max(nb) > 4900 AS embargoed
         FROM e GROUP BY h ORDER BY host""",
    // classification, exact ppm division and the demotion rule replayed;
    // the 404 host must NOT demote
    "t104_host_health" ->
      """WITH l AS (SELECT doc_id, doc_id % 10 AS h,
             CASE doc_id % 20 WHEN 0 THEN 0 WHEN 1 THEN 429 WHEN 2 THEN 500
               WHEN 3 THEN 503 WHEN 4 THEN 404 ELSE 200 END AS st
           FROM documents),
         a AS (SELECT h, CAST(count(*) AS BIGINT) AS n_attempts,
             CAST(sum(CASE WHEN st = 0 OR st = 429 OR st >= 500
               THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
           FROM l GROUP BY h)
         SELECT 'site' || h || '.com' AS host, n_attempts, n_errors,
           CAST(n_errors * 1000000 // n_attempts AS BIGINT) AS error_ppm,
           (n_errors * 1000000 // n_attempts >= 500000
             AND n_attempts >= 5) AS demoted
         FROM a ORDER BY host""",
    // per-host cadence vs declared delay: the three fast hosts violate
    // on every consecutive pair, the rest comply
    "t103_politeness_audit" ->
      """WITH l AS (SELECT doc_id, doc_id % 9 AS h FROM documents),
         g AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY h)
         SELECT 'site' || h || '.com' AS host, n AS n_fetches,
           CAST(CASE WHEN 500 + h * 100 < 800 AND n > 1 THEN n - 1
                ELSE 0 END AS BIGINT) AS n_violations,
           CASE WHEN n > 1 THEN CAST(500 + h * 100 AS BIGINT) END
             AS min_gap_ms,
           CAST(800 AS BIGINT) AS delay_ms
         FROM g ORDER BY host""",
    // assignment, totals and the commutative checksum replayed from
    // the md5-prefix hash convention; every shard must verify ok
    "s40_export_shards" ->
      """WITH h AS (SELECT
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS dh,
             CAST(n_chars AS BIGINT) AS tok
           FROM documents)
         SELECT dh % 8 AS gr_shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(dh % 1000003) AS BIGINT) AS checksum,
           1 AS ok
         FROM h GROUP BY dh % 8 ORDER BY gr_shard""",
    "g7_trustrank" ->
      """WITH e AS (SELECT DISTINCT event_id % 200 AS src,
             (event_id * 48271) % 200 AS dst FROM events),
         o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node,
             CASE WHEN node IN (0, 50, 100, 150)
               THEN 1000000000 // 4 ELSE 0 END AS r
           FROM nodes),
         c1 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node),
         c2 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node),
         c3 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node),
         c4 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node),
         c5 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (CASE WHEN nd.node IN (0, 50, 100, 150)
                THEN 150000000 // 4 ELSE 0 END)
               + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node)
         SELECT node, CAST(r AS BIGINT) AS trust_ppb FROM r5 ORDER BY node""",
    "g1_pagerank" ->
      """WITH e AS (SELECT DISTINCT event_id % 200 AS src,
             (event_id * 48271) % 200 AS dst FROM events),
         o AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         p AS (SELECT COUNT(*) AS n FROM nodes),
         r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, p),
         c1 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node, p),
         c2 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node, p),
         c3 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node, p),
         c4 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node, p),
         c5 AS (SELECT e.dst AS node, SUM(pr.r // o.outdeg) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node, p)
         SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r5 ORDER BY node""",
    "d13_semdedup" ->
      """WITH cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/semdedup_centroids.parquet/*.parquet')),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl AS (SELECT 9000000 + i AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * POW(2.0, i - 5) AS FLOAT)) AS DOUBLE[]) AS v
           FROM range(10) t(i), embeddings e WHERE e.vec_id = 0),
         corp AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
         asg AS (SELECT vec_id, v, cid AS gr_cluster FROM (
             SELECT c.vec_id, c.v, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, cent.vec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(cent.vec, cent.vec))) DESC,
                 cent.cid DESC) AS rk
             FROM corp c CROSS JOIN cent) x WHERE rk = 1),
         reps AS (SELECT b.vec_id AS id, MIN(a.vec_id) AS rep_id
           FROM asg a JOIN asg b
             ON a.gr_cluster = b.gr_cluster AND a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) >= 0.95
           GROUP BY b.vec_id)
         SELECT g.vec_id AS id, CAST(g.gr_cluster AS INT) AS gr_cluster,
           r.rep_id IS NULL AS kept, r.rep_id
         FROM asg g LEFT JOIN reps r ON r.id = g.vec_id
         ORDER BY id""",
    // full-recompute truth for the INCREMENTAL path: corpus ∪ batch
    // assigned with the persisted frozen centroids, the d13 pair rule,
    // restricted to batch ids — must equal semDedupAppend exactly
    "d19_semdedup_append" ->
      """WITH cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/semdedup_append_centroids.parquet/*.parquet')),
         mx AS (SELECT max(vec_id) AS m FROM embeddings),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl AS (SELECT mx.m + 1 + i AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * POW(2.0, i - 5) AS FLOAT)) AS DOUBLE[]) AS v
           FROM range(10) t(i), embeddings e, mx WHERE e.vec_id = 0),
         cp AS (SELECT mx.m + 11 AS vec_id,
             CAST(list_transform(e.embedding,
               x -> CAST(x * 2 AS FLOAT)) AS DOUBLE[]) AS v
           FROM embeddings e, mx WHERE e.vec_id = 1),
         oh AS (SELECT mx.m + 12 AS vec_id,
             CAST(list_transform(range(1, len(e.embedding) + 1),
               i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
                         ELSE CAST(0.0 AS FLOAT) END) AS DOUBLE[]) AS v
           FROM embeddings e, mx WHERE e.vec_id = 0),
         corp AS (SELECT * FROM base UNION ALL SELECT * FROM pl
           UNION ALL SELECT * FROM cp UNION ALL SELECT * FROM oh),
         asg AS (SELECT vec_id, v, cid AS gr_cluster FROM (
             SELECT c.vec_id, c.v, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, cent.vec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(cent.vec, cent.vec))) DESC,
                 cent.cid DESC) AS rk
             FROM corp c CROSS JOIN cent) x WHERE rk = 1),
         reps AS (SELECT b.vec_id AS id, MIN(a.vec_id) AS rep_id
           FROM asg a JOIN asg b
             ON a.gr_cluster = b.gr_cluster AND a.vec_id < b.vec_id
           WHERE b.vec_id > (SELECT m FROM mx)
             AND list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) >= 0.95
           GROUP BY b.vec_id)
         SELECT g.vec_id AS id, CAST(g.gr_cluster AS INT) AS gr_cluster,
           r.rep_id IS NULL AS kept, r.rep_id
         FROM asg g LEFT JOIN reps r ON r.id = g.vec_id
         WHERE g.vec_id > (SELECT m FROM mx)
         ORDER BY id""",
    // spans, ownership, coverage and reassembly replayed in SQL; the
    // planted copies embed a 12-word run of their source at a shifted
    // alignment between unique pad markers
    "d20_span_dedup" ->
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         pl AS (SELECT 9700000 + doc_id AS doc_id,
             'zz start pad ' || array_to_string(list_slice(ws, 6, 17), ' ')
               || ' zz end pad' AS text
           FROM w0 WHERE doc_id % 11 = 0 AND len(ws) >= 17),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(ws, i, i + 7), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 7)) AS i
             FROM w WHERE len(ws) >= 8)),
         own AS (SELECT s, min(doc_id) AS owner FROM sp
           GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos FROM sp
           JOIN own ON sp.s = own.s AND own.owner <> sp.doc_id),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 7)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""",
    // both scales' spans, per-(scale, span) ownership, merged coverage
    // and reassembly replayed in SQL; the planted copies embed a 6-word
    // run (invisible at scale 12, caught at scale 5) between unique pads
    "d20b_span_dedup_multi" ->
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         pl AS (SELECT 9800000 + doc_id AS doc_id,
             'qq start pad ' || array_to_string(list_slice(ws, 6, 11), ' ')
               || ' qq end pad' AS text
           FROM w0 WHERE doc_id % 13 = 0 AND len(ws) >= 11),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM pl),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos, 5 AS n,
             array_to_string(list_slice(ws, i, i + 4), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 4)) AS i
             FROM w WHERE len(ws) >= 5)
           UNION ALL
           SELECT doc_id, i - 1 AS pos, 12 AS n,
             array_to_string(list_slice(ws, i, i + 11), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 11)) AS i
             FROM w WHERE len(ws) >= 12)),
         own AS (SELECT n, s, min(doc_id) AS owner FROM sp
           GROUP BY n, s HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos, sp.n FROM sp
           JOIN own ON sp.n = own.n AND sp.s = own.s
             AND own.owner <> sp.doc_id),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + n - 1)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""",
    // exact window strings, first-occurrence election by (id, pos),
    // coverage and reassembly replayed in SQL — validating the Spark
    // side's ladder hashes against ground truth on every corpus doc
    // the fixture's lining and the planted footer replayed, then the
    // C4 frequency rule: count every line occurrence corpus-wide, drop
    // ALL occurrences at count >= 3, reassemble in line order
    "d26_line_boilerplate" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         n AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 6.0) AS BIGINT)) AS nl FROM w),
         body AS (SELECT doc_id,
             array_to_string(list_transform(range(0, nl),
               i -> array_to_string(
                 list_slice(ws, CAST(i * 6 + 1 AS INT), CAST(i * 6 + 6 AS INT)),
                 ' ')), chr(10)) AS body
           FROM n),
         doc AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN body || chr(10) ||
               'subscribe to our newsletter today' ELSE body END AS text
           FROM body),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc),
         lines AS (SELECT doc_id, i - 1 AS pos, l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i)),
         freq AS (SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 3),
         kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
           LEFT JOIN freq f ON f.line = l.line WHERE f.line IS NULL),
         agg AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           FROM lines GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(a.text_clean, '') AS text_clean,
           t.n_lines, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
         FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""",
    "d24_substr_dedup" ->
      """WITH w0 AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         plc AS (SELECT 9850000 + doc_id AS doc_id,
             'vv start pad ' || array_to_string(list_slice(ws, 3, 15), ' ')
               || ' vv end pad' AS text
           FROM w0 WHERE doc_id % 7 = 0 AND len(ws) >= 16),
         plw AS (SELECT 9860000 + doc_id AS doc_id,
             'xx alpha '
               || array_to_string(list_reverse(list_slice(ws, 3, 15)), ' ')
               || ' xx beta '
               || array_to_string(list_reverse(list_slice(ws, 3, 15)), ' ')
               || ' xx omega' AS text
           FROM w0 WHERE doc_id % 5 = 0 AND len(ws) >= 16),
         pls AS (SELECT 9870000 + doc_id AS doc_id,
             'uu s pad ' || array_to_string(list_slice(ws, 3, 11), ' ')
               || ' uu e pad' AS text
           FROM w0 WHERE doc_id % 3 = 0 AND len(ws) >= 12),
         corp AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM plc
           UNION ALL SELECT doc_id, text FROM plw
           UNION ALL SELECT doc_id, text FROM pls),
         w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM corp),
         sp AS (SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(ws, i, i + 9), ' ') AS s
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws) - 9)) AS i
             FROM w WHERE len(ws) >= 10)),
         own AS (SELECT s,
             min(CAST(doc_id AS BIGINT) * 1000000 + pos) AS f FROM sp
           GROUP BY s HAVING count(*) >= 2),
         cuts AS (SELECT sp.doc_id, sp.pos FROM sp
           JOIN own ON sp.s = own.s
           WHERE CAST(sp.doc_id AS BIGINT) * 1000000 + sp.pos <> own.f),
         cov AS (SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + 9)) AS j
           FROM cuts),
         wj AS (SELECT doc_id, j - 1 AS j, ws[j] AS word
           FROM (SELECT doc_id, ws,
               unnest(generate_series(1, len(ws))) AS j FROM w)),
         clean AS (SELECT wj.doc_id,
             string_agg(word, ' ' ORDER BY wj.j)
               FILTER (WHERE cov.j IS NULL) AS text_clean,
             count(*) AS n_words,
             count(cov.j) AS n_removed
           FROM wj LEFT JOIN cov
             ON cov.doc_id = wj.doc_id AND cov.j = wj.j
           GROUP BY wj.doc_id)
         SELECT corp.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           CAST(coalesce(clean.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(clean.n_removed, 0) AS BIGINT) AS n_removed
         FROM corp LEFT JOIN clean ON clean.doc_id = corp.doc_id
         ORDER BY corp.doc_id""",
    "d6_dedup_pipeline" ->
      """SELECT doc_id FROM documents ORDER BY doc_id""",
    "d7_connected_components" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w),
         e0 AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 1
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05
           UNION ALL
           SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 2
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05),
         edges AS (SELECT ia AS src, ib AS dst FROM e0
                   UNION SELECT ib, ia FROM e0),
         reach AS (
           SELECT DISTINCT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""",
    // d7's reach machinery + the per-component (quality desc, id asc)
    // argmax; unpaired docs survive untouched
    "d28_neardup_keepbest" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS s
                FROM w),
         e0 AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 1
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05
           UNION ALL
           SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
             ON b.doc_id = a.doc_id + 2
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.05),
         edges AS (SELECT ia AS src, ib AS dst FROM e0
                   UNION SELECT ib, ia FROM e0),
         reach AS (
           SELECT DISTINCT src AS id, src AS comp FROM edges
           UNION
           SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
         ranked AS (SELECT c.id AS doc_id, c.comp,
             row_number() OVER (PARTITION BY c.comp
               ORDER BY (c.id % 7) DESC, c.id) AS rn
           FROM comp c)
         SELECT doc_id, CAST(doc_id % 7 AS BIGINT) AS quality FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp)
         UNION ALL
         SELECT doc_id, CAST(doc_id % 7 AS BIGINT) FROM ranked WHERE rn = 1
         ORDER BY doc_id""",
    "d8_decontam" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh)
         SELECT ex.doc_id,
           CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS matched_ngrams,
           max(ex.total) AS total_ngrams,
           CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / max(ex.total) AS contamination,
           CAST(CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / max(ex.total) >= 0.5 AS INT) AS contaminated
         FROM ex LEFT JOIN bg ON bg.gram = ex.gram
         GROUP BY ex.doc_id ORDER BY ex.doc_id""",
    // the audit histogram from scratch: d8's shingle machinery, two
    // per-set gram universes, integer bucket arithmetic, threshold counts
    "d27_decontam_report" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT 'e100' AS eval_set, gram FROM
                  (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0)
                UNION ALL
                SELECT 'e97', gram FROM
                  (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 97 = 0)),
         ex AS (SELECT doc_id, unnest(g) AS gram FROM sh),
         m AS (SELECT ex.doc_id, bg.eval_set, CAST(count(*) AS BIGINT) AS mm
               FROM ex JOIN bg ON bg.gram = ex.gram
               GROUP BY ex.doc_id, bg.eval_set),
         tot AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total FROM sh),
         per AS (SELECT s.eval_set, t.doc_id,
                   COALESCE(m.mm, 0) AS mm, t.total
                 FROM tot t
                 CROSS JOIN (VALUES ('e100'), ('e97')) s(eval_set)
                 LEFT JOIN m ON m.doc_id = t.doc_id
                   AND m.eval_set = s.eval_set),
         b AS (SELECT eval_set,
                 CAST(CASE WHEN total > 0 THEN least(mm * 10 // total, 9)
                      ELSE 0 END AS INT) AS bucket,
                 CASE WHEN total > 0 AND CAST(mm AS DOUBLE) / total >= 0.5
                      THEN 1 ELSE 0 END AS c
               FROM per)
         SELECT eval_set, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_contaminated
         FROM b GROUP BY eval_set, bucket
         ORDER BY eval_set, bucket""",
    // planted paraphrases: fuzzy catches every one, exact misses every
    // one — stated directly (planted-variant verdict convention)
    "d22_decontam_fuzzy" ->
      """SELECT doc_id + 7000000 AS new_id, doc_id AS eval_id,
           1 AS fuzzy_caught, 0 AS exact_caught
         FROM documents
         WHERE doc_id % 100 = 0 AND len(string_split(text, ' ')) >= 30
         ORDER BY new_id""",
    // the full DSIR estimator replayed: grams, bucket hash, both
    // distributions, smoothing, rounded ratio sums, ranked cut
    "d23_dsir_select" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         uni AS (SELECT doc_id, unnest(ws) AS g FROM w),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM w WHERE len(ws) >= 2),
         grams AS (SELECT doc_id, g FROM uni
                   UNION ALL SELECT doc_id, g FROM bi),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
               AS bucket
           FROM grams),
         rawn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b GROUP BY bucket),
         tgtn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b WHERE doc_id % 100 = 0 GROUP BY bucket),
         tot AS (SELECT
             (SELECT CAST(count(*) AS DOUBLE) FROM b) AS rt,
             (SELECT CAST(count(*) AS DOUBLE) FROM b WHERE doc_id % 100 = 0)
               AS tt),
         r AS (SELECT rawn.bucket,
             round(ln((coalesce(tgtn.n, 0) + 1) / (tot.tt + 1024))
                 - ln((rawn.n + 1) / (tot.rt + 1024)), 6) AS lr
           FROM rawn LEFT JOIN tgtn USING (bucket), tot),
         sc AS (SELECT b.doc_id, round(sum(r.lr), 6) AS weight
                FROM b JOIN r USING (bucket) GROUP BY b.doc_id),
         rk AS (SELECT doc_id, weight,
             CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT)
               AS rank
           FROM sc)
         SELECT rank, doc_id, weight FROM rk WHERE rank <= 100
         ORDER BY rank""",
    // replays the semantic tier with the kernel's own arithmetic
    // (dot/(√na·√nb) over DOUBLE[] — the d13 precedent): eval = ids % 20,
    // planted leaks = eval vectors ×2 (exact exponent shift) at +9000000,
    // survivors = train ids with no eval cosine >= 0.99
    "d25_embed_decontam" ->
      """WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         pl AS (SELECT vec_id + 9000000 AS vec_id,
                  CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
                    AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 <> 0
                UNION ALL SELECT vec_id, v FROM pl),
         fl AS (SELECT DISTINCT t.vec_id FROM tr t CROSS JOIN ev e
                WHERE list_dot_product(t.v, e.v) /
                  (sqrt(list_dot_product(t.v, t.v)) *
                   sqrt(list_dot_product(e.v, e.v))) >= 0.99)
         SELECT t.vec_id FROM tr t
         WHERE t.vec_id NOT IN (SELECT vec_id FROM fl)
         ORDER BY vec_id""",
    // the LSH replay: both sides' sketches recomputed from the persisted
    // planes (bit i set iff v.w_i >= 0), Hamming <= 1 pairing, kernel
    // cosine cut at 0.99, survivors = train minus flagged
    "d25b_embed_decontam_lsh" ->
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/decontam_planes.parquet/*.parquet')),
         ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         pl AS (SELECT vec_id + 9000000 AS vec_id,
                  CAST(list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
                    AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000),
         tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 <> 0
                UNION ALL SELECT vec_id, v FROM pl),
         esk AS (SELECT e.eval_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM ev e, p GROUP BY e.eval_id),
         tsk AS (SELECT t.vec_id,
             CAST(sum(CASE WHEN list_dot_product(t.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM tr t, p GROUP BY t.vec_id),
         fl AS (SELECT DISTINCT t.vec_id
           FROM tsk JOIN esk ON bit_count(xor(tsk.s, esk.s)) <= 1
             JOIN tr t ON t.vec_id = tsk.vec_id
             JOIN ev e ON e.eval_id = esk.eval_id
           WHERE list_dot_product(t.v, e.v) /
             (sqrt(list_dot_product(t.v, t.v)) *
              sqrt(list_dot_product(e.v, e.v))) >= 0.99)
         SELECT t.vec_id FROM tr t
         WHERE t.vec_id NOT IN (SELECT vec_id FROM fl)
         ORDER BY vec_id""",
    "d8b_decontam_drop" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM w),
         bg AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % 100 = 0),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh),
         c AS (SELECT ex.doc_id,
                 CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / max(ex.total) AS contamination
               FROM ex LEFT JOIN bg ON bg.gram = ex.gram GROUP BY ex.doc_id)
         SELECT doc_id FROM c WHERE contamination < 0.5 ORDER BY doc_id""",
    // normalize -> exact (min id per normalized text) -> planted near-pair
    // jaccard >= 0.8 -> drop the non-representative side of each component
    "d11_dedup_incremental" ->
      """WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         batch AS (
           SELECT doc_id + 5000000 AS new_id, text FROM seed
           UNION ALL
           SELECT doc_id + 6000000 AS new_id,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) AS text FROM seed),
         bw AS (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM batch),
         bsh AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM bw),
         ow AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                FROM documents),
         osh AS (SELECT doc_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM ow),
         j AS (SELECT b.new_id,
                 CAST(len(list_intersect(b.s, o.s)) AS DOUBLE) /
                   len(list_distinct(b.s || o.s)) AS jac0
               FROM bsh b JOIN osh o ON o.doc_id = b.new_id - 5000000)
         SELECT new_id, COALESCE(jac0 >= 0.8, FALSE) AS matched,
                CASE WHEN jac0 >= 0.8 THEN jac0 END AS jac
         FROM batch LEFT JOIN j USING (new_id)
         ORDER BY new_id""",
    "d10_span_stats" -> SpanStatsOracleSql,
    // hashed-key configuration: stats are key-representation-independent,
    // so the oracle is IDENTICAL — that invariance is what the gate pins
    "d10b_span_stats_hashed" -> SpanStatsOracleSql,
    "d12_chunk_dedup" -> ChunkDedupOracleSql,
    "d12b_chunk_dedup_hashed" -> ChunkDedupOracleSql,
    "d14_keepfirst_chunks" -> KeepFirstOracleSql,
    "d14b_keepfirst_hashed" -> KeepFirstOracleSql,
    "d9_pipeline_full" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents
           UNION ALL SELECT doc_id + 2000000, text || ' zzz' FROM documents),
         norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS t FROM corpus),
         ex AS (SELECT min(doc_id) AS doc_id, t FROM norm GROUP BY t),
         w AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS ws FROM ex),
         sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
           FROM w),
         pairs AS (SELECT b.doc_id AS ib
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 2000000
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)) >= 0.8)
         SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT ib FROM pairs)
         ORDER BY doc_id""",
    "a1_ann_brute" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, CAST(row_number() OVER
           (ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)) DESC, vec_id)
           AS INT) AS rank
         FROM embeddings WHERE vec_id <> 0
         ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)) DESC, vec_id
         LIMIT 10""",
    // replays the ANN join from the persisted plane fixture: sketches from
    // raw dot products (bit i set iff v·w_i >= 0), candidates from the
    // Hamming<=1 sketch match, rank by exact cosine with id tiebreak
    "a6_ann_join" ->
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT q.vec_id AS query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk q JOIN sk c ON bit_count(xor(q.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = q.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id < 15 AND c.vec_id >= 15),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // a6's replay + candidate cut 10, cosine in [0, 0.95), re-rank <= 3
    "t45_hard_negatives" ->
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT q.vec_id AS query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk q JOIN sk c ON bit_count(xor(q.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = q.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id < 15 AND c.vec_id >= 15),
         r AS (SELECT query_id, vec_id, cos, ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS crank
           FROM m),
         f AS (SELECT query_id, vec_id, cos FROM r
           WHERE crank <= 10 AND cos < 0.95 AND cos >= 0.0),
         rr AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM f)
         SELECT query_id, vec_id, rank FROM rr WHERE rank <= 3
         ORDER BY query_id, rank""",
    // a6's replay over the hot-augmented corpus (200 power-of-two-scaled
    // copies of vec 20 — one hot bucket by construction): the SALTED
    // join's oracle is the UNSALTED semantics, because salt's contract is
    // result-identity; scaling by 2^k is exact in float and sign-exact in
    // the sketch, so the replay is bit-faithful
    "a6b_ann_join_salted" ->
      """WITH p AS (SELECT plane_ix, w
                    FROM read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         hot AS (SELECT 9500000 + t.i AS vec_id,
             CAST([CAST(CAST(x AS DOUBLE) * pow(2.0, (t.i % 5) - 2) AS FLOAT)
                   for x in e0.embedding] AS DOUBLE[]) AS v
           FROM embeddings e0, UNNEST(range(0, 200)) AS t(i)
           WHERE e0.vec_id = 20),
         e AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM hot),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.w) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT q.vec_id AS query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk q JOIN sk c ON bit_count(xor(q.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = q.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE q.vec_id < 15 AND c.vec_id >= 15),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // replays the quantized join from the centroid/codebook/serving
    // fixtures: probe rank (cos DESC, cid), cluster join, per-pair ADC as
    // an ordered positional fold over the codebook (p1's arithmetic)
    "a8_ann_ivfpq_join" ->
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_codebooks.parquet/*.parquet')),
         cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_centroids.parquet/*.parquet')),
         srv AS (SELECT vec_id, gr_cluster, pq_code FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_join_serving.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 15),
         pr AS (SELECT query_id, cid FROM (
             SELECT q.query_id, cent.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cent.vec) DESC, cent.cid)
               AS rk
             FROM q CROSS JOIN cent) x WHERE rk <= 4),
         lut AS (SELECT q.query_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.v[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM q CROSS JOIN cb),
         cand AS (SELECT p.query_id, s.vec_id, s.pq_code
           FROM pr p JOIN srv s ON s.gr_cluster = p.cid),
         adc AS (SELECT c.query_id, c.vec_id,
             list_sum(list(l.d ORDER BY l.sub)) AS dist
           FROM cand c JOIN lut l ON l.query_id = c.query_id
             AND l.cell = c.pq_code[l.sub + 1]
           GROUP BY c.query_id, c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rank
           FROM adc)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // replays the routed join from the centroid + assignment fixtures:
    // per-query centroid rank (cos DESC, cid — the lower-cid tie
    // contract), nprobe fan-out, cluster equi-join, cosine rank
    "a7_ann_ivf_join" ->
      """WITH cen AS (SELECT cid, centroid
                      FROM read_parquet('/tmp/graft_fixtures/ivf_join_centroids.parquet/*.parquet')),
         a AS (SELECT vec_id, gr_cluster
               FROM read_parquet('/tmp/graft_fixtures/ivf_join_assign.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 15),
         pr AS (SELECT q.query_id, cen.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cen.centroid) DESC, cen.cid)
               AS rk
           FROM q, cen),
         cand AS (SELECT p.query_id, a.vec_id
           FROM pr p JOIN a ON a.gr_cluster = p.cid WHERE p.rk <= 4),
         m AS (SELECT c.query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM cand c JOIN e qe ON qe.vec_id = c.query_id
             JOIN e ce ON ce.vec_id = c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // a7's replay against the POST-REBUILD fixtures: if the staged swap
    // lost rows, kept stale centroids, or broke the partitioned layout,
    // the replayed probe disagrees
    "a9_ivf_rebuild" ->
      """WITH cen AS (SELECT cid, centroid
                      FROM read_parquet('/tmp/graft_fixtures/ivf_rebuild_centroids.parquet/*.parquet')),
         a AS (SELECT vec_id, gr_cluster
               FROM read_parquet('/tmp/graft_fixtures/ivf_rebuild_assign.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         pr AS (SELECT q.query_id, cen.cid, ROW_NUMBER() OVER
               (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.v, cen.centroid) DESC, cen.cid)
               AS rk
           FROM q, cen),
         cand AS (SELECT p.query_id, a.vec_id
           FROM pr p JOIN a ON a.gr_cluster = p.cid WHERE p.rk <= 4),
         m AS (SELECT c.query_id, c.vec_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM cand c JOIN e qe ON qe.vec_id = c.query_id
             JOIN e ce ON ce.vec_id = c.vec_id),
         r AS (SELECT query_id, vec_id, CAST(ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
           FROM m)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // replays PQ encode + ADC from the persisted codebook fixture:
    // per-subspace squared-L2 via an ordered positional fold (list_sum
    // over a diff list — the same ascending-element order as the Spark
    // kernel), nearest cell by (distance, cell) so exact ties keep the
    // lower id, per-candidate ADC as an ordered list_sum over subspaces,
    // rank by (quantized distance, vec_id)
    "p1_ann_pq" ->
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id)
         SELECT vec_id, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT)
           AS rank
         FROM adc WHERE vec_id <> 0
         ORDER BY dist, vec_id LIMIT 10""",
    // p1's ADC replay cut at 50 candidates (ties by id), then exact cosine
    // re-rank over only those ids — the quantized-candidates/exact-rerank
    // serving contract
    "p4_ann_pq_rerank" ->
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb WHERE e.vec_id <> 0),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id),
         short AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT 50),
         exact AS (SELECT s.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               (SELECT qe FROM q)) AS c
           FROM short s JOIN embeddings e USING (vec_id))
         SELECT vec_id, CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS INT)
           AS rank
         FROM exact ORDER BY c DESC, vec_id LIMIT 10""",
    // p1's replay generalized per query: one encode pass, per-query LUTs,
    // per-query rank
    "p3_ann_pq_batch" ->
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/pq_codebooks.parquet/*.parquet')),
         q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id IN (0, 1, 2)),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM embeddings e CROSS JOIN cb WHERE e.vec_id NOT IN (0, 1, 2)),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT q.query_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT lut.query_id, enc.vec_id,
                   list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell)
                 GROUP BY lut.query_id, enc.vec_id),
         r AS (SELECT query_id, vec_id, CAST(row_number() OVER
                 (PARTITION BY query_id ORDER BY dist, vec_id) AS INT) AS rank
               FROM adc)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // the p1 replay composed with routing replay: per-row cluster
    // assignment (cosine argmax, ties to the LARGER cid), the query's
    // probe set (ties to the SMALLER cid), then encode+ADC over the
    // probed candidates only
    "p2_ann_ivfpq" ->
      """WITH cb AS (SELECT sub, cell, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_codebooks.parquet/*.parquet')),
         cent AS (SELECT cid, vec FROM
           read_parquet('/tmp/graft_fixtures/ivfpq_centroids.parquet/*.parquet')),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
               WHERE vec_id = 0),
         asg AS (SELECT vec_id FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                 c.vec) DESC, c.cid DESC) AS rn
             FROM embeddings e CROSS JOIN cent c) x
           WHERE rn = 1 AND cid IN (
             SELECT cid FROM cent CROSS JOIN q
             ORDER BY list_cosine_similarity(q.qe, vec) DESC, cid ASC LIMIT 4)),
         cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
                  JOIN asg USING (vec_id) WHERE e.vec_id <> 0),
         dists AS (SELECT e.vec_id, cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> CAST(e.embedding[cb.sub * len(cb.vec) + j] AS DOUBLE)
                        - cb.vec[j]),
               x -> x * x)) AS d
           FROM cand e CROSS JOIN cb),
         enc AS (SELECT vec_id, sub, cell FROM (
             SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
         lut AS (SELECT cb.sub, cb.cell,
             list_sum(list_transform(
               list_transform(range(1, len(cb.vec) + 1),
                 j -> q.qe[cb.sub * len(cb.vec) + j] - cb.vec[j]),
               x -> x * x)) AS d
           FROM cb CROSS JOIN q),
         adc AS (SELECT enc.vec_id, list_sum(list(lut.d ORDER BY enc.sub)) AS dist
                 FROM enc JOIN lut USING (sub, cell) GROUP BY enc.vec_id)
         SELECT vec_id, CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT)
           AS rank
         FROM adc ORDER BY dist, vec_id LIMIT 10""",
    "a4_ann_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
         s AS (SELECT q.query_id, e.vec_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS c
           FROM embeddings e CROSS JOIN q WHERE e.vec_id NOT IN (0, 1, 2)),
         r AS (SELECT query_id, vec_id, CAST(row_number() OVER
           (PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT) AS rank FROM s)
         SELECT query_id, vec_id, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // per-query planted copies dominate each query's top-5 at cosine 1.0
    "a5_ann_ivf_batch" ->
      """SELECT CAST(q AS BIGINT) AS query_id,
           CAST(9700000 + q * 100 + i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(3) tq(q) CROSS JOIN range(5) ti(i)
         ORDER BY query_id, rank""",
    // the true top-10 over annCorpus is the planted power-of-two-scaled
    // copies of the query (cosine exactly 1.0, id-order tiebreak) — the hash
    // match gates that the approximate index recalls all of them
    "a2_ann_lsh" ->
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    "a3_ann_ivf" ->
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // the planted family again, through the doubly-stored layout: any
    // missing by-id dedup would duplicate vec_ids in the top-10
    "a16_ivf_multiassign" ->
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // same planted truth through the graph path: full-beam NSW walk over
    // the routed clusters must surface exactly the cosine-1.0 family
    "a15_graph_ann" ->
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // the appended planted family (and ONLY it) dominates the walk at
    // cosine 1.0 — green means the graph grew across the append and the
    // re-read witness accepted the grown graph
    "a15b_graph_ann_append" ->
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // the planted family through BOTH the doubly-stored layout and the
    // graph walk: a missing by-id dedup of the per-copy walk hits would
    // duplicate vec_ids in the top-10
    "a15c_graph_ann_multiassign" ->
      """SELECT CAST(9000000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // only the five SURVIVING odd planted ids through the graph walk; a
    // missed delete ranks the smaller even ids first on the tiebreak
    "a15d_graph_ann_delete" ->
      """SELECT CAST(9000001 + 2 * i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(5) t(i) ORDER BY rank""",
    // only the filter-true planted family may surface; the equally-tied
    // smaller-id 'drop' family would win the tiebreak if the predicate
    // were ignored or applied post-hoc
    "a12_ann_filtered" ->
      """SELECT CAST(9310000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // only the five SURVIVING odd planted ids; a missed delete would
    // rank the smaller even ids first on the tiebreak
    "a14_ivf_delete" ->
      """SELECT CAST(9400001 + 2 * i AS BIGINT) AS vec_id,
           CAST(i + 1 AS INT) AS rank
         FROM range(5) t(i) ORDER BY rank""",
    // the whole two-phase approximation replayed: prefix-dim shortlist,
    // then exact full-dim re-rank within it
    "a13_matryoshka" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id <> 0),
         sl AS (SELECT vec_id, v FROM
           (SELECT e.vec_id, e.v, row_number() OVER (ORDER BY
              list_cosine_similarity(e.v[1:16], (SELECT qv[1:16] FROM q))
                DESC, e.vec_id) AS rn
            FROM e) WHERE rn <= 50)
         SELECT vec_id, rank FROM
           (SELECT vec_id, CAST(row_number() OVER (ORDER BY
              list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id)
              AS INT) AS rank
            FROM sl) WHERE rank <= 10
         ORDER BY rank""",
    "a3b_ann_ivf_append" ->
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // same enumerable contract: the streamed-in planted copies (and ONLY
    // they) dominate the probe at cosine 1.0, tie-broken by vec_id
    "st9_stream_ivf_ingest" ->
      """SELECT CAST(9500000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // the graph-ingest twin: the SECOND streamed batch's planted family
    // must be reachable through the incrementally-grown graphs
    "st19_stream_nsw_ingest" ->
      """SELECT CAST(9600000 + i AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    // streamed verbatim copies of the query at negative ids: global-minimum
    // ADC by construction, ties lost by every organic id >= 0
    "st10_stream_pq_ingest" ->
      """SELECT CAST(i - 10 AS BIGINT) AS vec_id, CAST(i + 1 AS INT) AS rank
         FROM range(10) t(i) ORDER BY rank""",
    "t1_langid" ->
      """WITH w AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_filter(ws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(ws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(ws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(ws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(ws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w)
         SELECT doc_id,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           lang
         FROM s ORDER BY doc_id""",
    "t1b_langid_ngram" -> t1bOracleSql,
    "t2_quality" ->
      """WITH w AS (SELECT doc_id, length(text) AS n_chars,
           regexp_split_to_array(trim(text), '\s+') AS ws,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
           FROM documents)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(n_chars - (len(ws) - 1) AS DOUBLE) / len(ws) END AS avg_word_len,
           CASE WHEN n_chars = 0 THEN 0.0
                ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
         FROM w ORDER BY doc_id""",
    "t3_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws,
         CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x != ''))
           AS BIGINT) AS n_bpe
         FROM documents ORDER BY doc_id""",
    // Independent BPE replay: the Spark side persists its trained merges
    // (rank, lhs, rhs) as a fixture; this SQL re-applies them from scratch
    // — sequential by rank, each merge iterated to fixpoint over a
    // space-separated symbol string (words never contain whitespace, so
    // ' a b c ' is unambiguous) — and recounts tokens per document.
    // Sequential replay == priority encode is asserted Spark-side
    // (Bpe.sequentialReplaySafe) before the fixture is written.
    "t3b_tokens_bpe" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, sum(fin.ntok) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_real
         FROM documents d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""",
    // the corpus-exact trainer's INPUT, recomputed from scratch: every
    // whitespace word of every document, frequency-ranked with the
    // deterministic (freq desc, word asc) cap boundary
    "t3c_bpe_vocab_exact" ->
      """WITH wd AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
                     FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         h AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
               FROM wd WHERE word <> '' GROUP BY word),
         r AS (SELECT word, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
                   AS vocab_rank
               FROM h)
         SELECT word, freq, vocab_rank FROM r
         WHERE vocab_rank <= 512 ORDER BY vocab_rank""",
    // the byte-level trainer's INPUT recomputed from scratch: the
    // RE2-safe pre-tokenizer (identical segmentation under Java regex
    // and RE2 — first-char-disjoint alternatives, explicit whitespace
    // class), frequency-ranked with the deterministic cap boundary
    "t3d_bytebpe_vocab" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         pt AS (SELECT unnest(regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)'))
             AS pretoken
           FROM docs WHERE text IS NOT NULL),
         h AS (SELECT pretoken, CAST(count(*) AS BIGINT) AS freq
               FROM pt GROUP BY pretoken),
         r AS (SELECT pretoken, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, pretoken)
                   AS BIGINT) AS vocab_rank
               FROM h)
         SELECT pretoken, freq, vocab_rank FROM r
         WHERE vocab_rank <= 512 ORDER BY vocab_rank""",
    // full byte-level replay from this gate's own fixtures: pre-token →
    // hex(encode(..)) → per-byte symbol join against the alphabet →
    // rank-order merge fixpoint → per-document count (whitespace runs
    // count; the emoji row proves no-OOV)
    "t40c_bytebpe_counts" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40c_bytebpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         bmap AS (SELECT byte_hex, sym
                  FROM read_parquet('/tmp/graft_fixtures/t40c_bytebpe_alphabet.parquet/*.parquet')),
         docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         pt AS (SELECT doc_id, unnest(regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)'))
             AS w
           FROM docs WHERE text IS NOT NULL),
         vocab AS (SELECT DISTINCT w FROM pt),
         vb AS (SELECT w, hex(encode(w)) AS hx FROM vocab),
         bi AS (SELECT w, hx, unnest(range(1, length(hx) // 2 + 1)) AS i
                FROM vb),
         sym AS (SELECT bi.w,
                   ' ' || string_agg(bmap.sym, ' ' ORDER BY bi.i) || ' ' AS s
                 FROM bi JOIN bmap
                   ON substr(bi.hx, CAST(bi.i * 2 - 1 AS BIGINT), 2)
                      = bmap.byte_hex
                 GROUP BY bi.w),
         steps AS (
           SELECT w, s, 0 AS i FROM sym
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT)
                     AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT pt.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS c
                      FROM pt JOIN fin USING (w) GROUP BY pt.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_byte
         FROM docs d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""",
    // t40's position-exact replay on the byte path: alphabet join →
    // merge fixpoint → per-pretoken token lists → flatten with
    // pre-token ordinality → sorted-vocabulary ids
    "t40d_bytebpe_encode" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40d_bytebpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         bmap AS (SELECT byte_hex, sym
                  FROM read_parquet('/tmp/graft_fixtures/t40d_bytebpe_alphabet.parquet/*.parquet')),
         docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (100000, 'Grüße 知识 🚀🚀 naïve,  doubled  spaces!'),
             (100001, '¡Olé! Ωmega ß42'))),
         psplit AS (SELECT doc_id, regexp_extract_all(text,
             '( ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+)')
             AS ps
           FROM docs WHERE text IS NOT NULL),
         pt AS (SELECT doc_id, unnest(ps) AS w,
             generate_subscripts(ps, 1) AS widx FROM psplit),
         vocabw AS (SELECT DISTINCT w FROM pt),
         vb AS (SELECT w, hex(encode(w)) AS hx FROM vocabw),
         bi AS (SELECT w, hx, unnest(range(1, length(hx) // 2 + 1)) AS i
                FROM vb),
         sym AS (SELECT bi.w,
                   ' ' || string_agg(bmap.sym, ' ' ORDER BY bi.i) || ' ' AS s
                 FROM bi JOIN bmap
                   ON substr(bi.hx, CAST(bi.i * 2 - 1 AS BIGINT), 2)
                      = bmap.byte_hex
                 GROUP BY bi.w),
         steps AS (
           SELECT w, s, 0 AS i FROM sym
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         wtoks AS (SELECT w,
             list_filter(string_split(s, ' '), x -> x <> '') AS toks
           FROM steps, nm WHERE i = nm.n),
         flat AS (SELECT pt.doc_id, pt.widx,
             generate_subscripts(wt.toks, 1) AS tp, unnest(wt.toks) AS tok
           FROM pt JOIN wtoks wt USING (w)),
         posd AS (SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY widx, tp) - 1
               AS pos, tok
           FROM flat),
         vocab AS (SELECT tok,
             row_number() OVER (ORDER BY tok) - 1 AS token_id
           FROM (SELECT DISTINCT tok FROM posd))
         SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(v.token_id AS BIGINT) AS token_id
         FROM posd p JOIN vocab v USING (tok)
         ORDER BY p.doc_id, p.pos""",
    // t3b's merge-application replay over the corpus-exact trainer's
    // fixture (training-input exactness is t3c's oracle; this one pins
    // that the exactly-trained merges apply and count identically)
    "t40b_bpe_exact_counts" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40b_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, CAST(sum(fin.ntok) AS BIGINT) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id)
         SELECT d.doc_id, CAST(COALESCE(p.c, 0) AS BIGINT) AS n_bpe_exact
         FROM documents d LEFT JOIN percount p USING (doc_id)
         ORDER BY doc_id""",
    // both stages replayed: BPE merge application (this gate's own
    // fixture) feeding the greedy packing recursion
    "t34_tokenize_pack" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t34_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wd AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         vocab AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocab
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         fin AS (SELECT w,
                   CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
                 FROM steps, nm WHERE i = nm.n),
         percount AS (SELECT wd.doc_id, sum(fin.ntok) AS c
                      FROM wd JOIN fin USING (w) GROUP BY wd.doc_id),
         t AS (SELECT d.doc_id, CAST(d.doc_id % 8 AS BIGINT) AS shard,
             CAST(COALESCE(p.c, 0) AS BIGINT) AS tokens,
             CAST(row_number() OVER (PARTITION BY d.doc_id % 8
               ORDER BY d.doc_id) AS BIGINT) AS rn
           FROM documents d LEFT JOIN percount p USING (doc_id)),
         pack AS (
           SELECT shard, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
             tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tokens,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 256
                  THEN t.tokens ELSE p.fill + t.tokens END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT doc_id, shard, bin, tokens FROM pack ORDER BY doc_id""",
    // segmentation replay (t34's steps machinery) extended to POSITIONS:
    // per-word token lists flattened in word order, ids by sorted vocab
    "t40_bpe_encode" ->
      """WITH RECURSIVE
         merges AS (SELECT CAST(merge_rank AS INT) AS r, lhs, rhs
                    FROM read_parquet('/tmp/graft_fixtures/t40_bpe_merges.parquet/*.parquet')),
         nm AS (SELECT COALESCE(max(r) + 1, 0) AS n FROM merges),
         wsplit AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         wd AS (SELECT doc_id, unnest(ws) AS w,
             generate_subscripts(ws, 1) AS widx FROM wsplit),
         vocabw AS (SELECT DISTINCT w FROM wd),
         steps AS (
           SELECT w, regexp_replace(w, '(.)', ' \1', 'g') || ' ' AS s, 0 AS i
           FROM vocabw
           UNION ALL
           SELECT w, s2 AS s, CASE WHEN s2 = s THEN i + 1 ELSE i END AS i
           FROM (SELECT st.w, st.s, st.i,
                   replace(st.s, ' ' || m.lhs || ' ' || m.rhs || ' ',
                                 ' ' || m.lhs || m.rhs || ' ') AS s2
                 FROM steps st JOIN merges m ON m.r = st.i) x),
         wtoks AS (SELECT w,
             list_filter(string_split(s, ' '), x -> x <> '') AS toks
           FROM steps, nm WHERE i = nm.n),
         flat AS (SELECT wd.doc_id, wd.widx,
             generate_subscripts(wt.toks, 1) AS tp, unnest(wt.toks) AS tok
           FROM wd JOIN wtoks wt USING (w)),
         posd AS (SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY widx, tp) - 1
               AS pos, tok
           FROM flat),
         vocab AS (SELECT tok,
             row_number() OVER (ORDER BY tok) - 1 AS token_id
           FROM (SELECT DISTINCT tok FROM posd))
         SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
           CAST(v.token_id AS BIGINT) AS token_id
         FROM posd p JOIN vocab v USING (tok)
         ORDER BY p.doc_id, p.pos""",
    "t4_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "t5_quality_filter" ->
      """WITH w AS (SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         m AS (SELECT doc_id, len(ws) AS n,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                  / len(ws) END AS meanlen,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
                  AS DOUBLE) / len(ws) END AS symratio,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS DOUBLE) / len(ws) END AS alphafrac,
           len(list_filter(ws, x -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it','that',
              'for','on','with','as','at','by','be','this','are','was'], x))) AS nstop
           FROM w),
         r AS (SELECT doc_id,
           n >= 20 AND n <= 200 AS word_count_ok,
           meanlen >= 3.0 AND meanlen <= 10.0 AS mean_word_len_ok,
           symratio <= 0.1 AS symbol_ratio_ok,
           alphafrac >= 0.8 AS alpha_frac_ok,
           nstop >= 2 AS stopword_ok
           FROM m)
         SELECT doc_id, word_count_ok, mean_word_len_ok, symbol_ratio_ok,
           alpha_frac_ok, stopword_ok,
           word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
             AND alpha_frac_ok AND stopword_ok AS keep
         FROM r ORDER BY doc_id""",
    "t6_redact_pii" ->
      """WITH s1 AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
           FROM s1),
         s3 AS (SELECT doc_id, n_email, n_ip,
           CAST(len(regexp_extract_all(t2, '\+?\d[\d() -]{6,}\d')) AS BIGINT) AS n_phone,
           regexp_replace(t2, '\+?\d[\d() -]{6,}\d', '<PHONE>', 'g') AS redacted
           FROM s2)
         SELECT doc_id, n_email, n_ip, n_phone, redacted FROM s3 ORDER BY doc_id""",
    "t7_repetition" ->
      """WITH w AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         m AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS nd,
           list_max([len(list_filter(ws, x -> x = d)) for d in list_distinct(ws)]) AS topn
           FROM w)
         SELECT doc_id,
           CASE WHEN n = 0 THEN 0.0 ELSE 1.0 - CAST(nd AS DOUBLE)/n END AS dup_word_ratio,
           CASE WHEN n = 0 THEN 0.0 ELSE CAST(topn AS DOUBLE)/n END AS top_word_frac
         FROM m ORDER BY doc_id""",
    "t8_split" -> t8OracleSql,
    "t44_leakage_split" -> t44OracleSql,
    "t26_group_split" -> t26OracleSql,
    // the salt is PREPENDED by sampleExact (the deterministicShuffle
    // convention), unlike deterministicSplit's appended salt
    "t27_sample_exact" ->
      """SELECT doc_id, source FROM documents
         ORDER BY md5('x1' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 100""",
    "t12_termstats" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         tf AS (SELECT doc_id, t.term,
                  CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf,
                  CAST(len(ws) AS BIGINT) AS dl
                FROM w CROSS JOIN
                  (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         p AS (SELECT * FROM tf WHERE tf > 0),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term)
         SELECT doc_id, term, tf, dl, df FROM p JOIN d USING (term)
         ORDER BY doc_id, term""",
    // full LM re-derivation: at gate scale no cap truncates, so the
    // add-k-smoothed bigram model is exactly the corpus counts; scores
    // quantized at 1e-6, perplexity recomputed from the ROUNDED avg so
    // exp() cannot amplify the engines' last-ulp ln() spread across a
    // rounding boundary
    "t20_backoff_lm" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t),
         nn AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
         bi AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT ws[i] || ' ' || ws[i+1] AS b
              FROM w, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2)
           GROUP BY b),
         tri AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM
             (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
              FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3)
           GROUP BY g),
         pos AS (SELECT doc_id, ws[i+1] AS w2, ws[i+2] AS w3,
             ws[i] || ' ' || ws[i+1] AS k12, ws[i+1] || ' ' || ws[i+2] AS k23,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS k123
           FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i) WHERE len(ws) >= 3),
         lp AS (SELECT p.doc_id,
             CASE WHEN tri.c IS NOT NULL AND b12.c IS NOT NULL
                    THEN ln(tri.c / b12.c)
                  WHEN b23.c IS NOT NULL AND u2.c IS NOT NULL
                    THEN ln(0.5 * (b23.c / u2.c))
                  WHEN u3.c IS NOT NULL THEN ln(0.5 * 0.5 * (u3.c / nn.n))
                  ELSE ln(0.5 * 0.5 * (0.5 / nn.n)) END AS l
           FROM pos p LEFT JOIN tri ON tri.g = p.k123
             LEFT JOIN bi b12 ON b12.b = p.k12
             LEFT JOIN bi b23 ON b23.b = p.k23
             LEFT JOIN uni u2 ON u2.t = p.w2
             LEFT JOIN uni u3 ON u3.t = p.w3
             CROSS JOIN nn),
         agg AS (SELECT doc_id, sum(l) / count(*) AS avg0 FROM lp GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           round(avg0, 6) AS avg_ls, round(exp(-round(avg0, 6)), 6) AS bppl
         FROM w LEFT JOIN agg USING (doc_id) ORDER BY w.doc_id""",
    "t11_perplexity" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                 FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t),
         v AS (SELECT count(*) + 1 AS vv FROM uni),
         docbi AS (SELECT doc_id, ws[i] AS a, ws[i] || ' ' || ws[i+1] AS b
                   FROM w, UNNEST(range(1, len(ws))) AS t(i)
                   WHERE len(ws) >= 2),
         bi AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM docbi GROUP BY b),
         lp AS (SELECT d.doc_id,
                  ln((bi.c + 0.1) / (uni.c + 0.1 * v.vv)) AS l
                FROM docbi d
                JOIN bi ON bi.b = d.b
                JOIN uni ON uni.t = d.a
                CROSS JOIN v),
         agg AS (SELECT doc_id, sum(l) / count(*) AS avg0 FROM lp GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           round(avg0, 6) AS avg_lp,
           round(exp(-round(avg0, 6)), 6) AS ppl
         FROM w LEFT JOIN agg USING (doc_id)
         ORDER BY w.doc_id""",
    // mirrors Retrieval.bm25's IEEE operation order literal-by-literal:
    // (1.2 + 1) and (1 - 0.75) stay runtime double ops so both engines
    // produce bit-identical constants; only ln() differs (last ulp)
    "t12b_bm25" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         tf AS (SELECT doc_id, dl, t.term,
                  CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf
                FROM d CROSS JOIN
                  (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(dl) AS avgdl FROM d),
         dfs AS (SELECT term,
                   CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
                 FROM tf GROUP BY term),
         contrib AS (SELECT tf.doc_id,
             ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl / stats.avgdl)) AS c
           FROM tf JOIN dfs USING (term) CROSS JOIN stats
           WHERE tf.tf > 0)
         SELECT doc_id, round(sum(c), 6) AS score
         FROM contrib GROUP BY doc_id ORDER BY doc_id""",
    "t16_sample" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('s1' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents) t
         WHERE rk <= 5 ORDER BY source, doc_id""",
    "t21_negatives" ->
      """WITH c AS (SELECT doc_id AS cid,
             substring(md5('b' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
           FROM documents),
         d AS (SELECT q.doc_id AS qid, t.j,
             substring(md5('q' || CAST(q.doc_id AS VARCHAR) || '_' ||
               CAST(t.j AS VARCHAR)), 1, 2) AS b
           FROM (SELECT doc_id FROM documents WHERE doc_id < 20) q,
             range(4) t(j)),
         cand AS (SELECT d.qid, d.j, c.cid,
             md5(CAST(d.qid AS VARCHAR) || '_' || CAST(d.j AS VARCHAR) ||
               '_' || CAST(c.cid AS VARCHAR)) AS o
           FROM d JOIN c ON c.b = d.b
           WHERE c.cid <> d.qid),
         r AS (SELECT qid, j, cid, ROW_NUMBER() OVER
             (PARTITION BY qid, j ORDER BY o, cid) AS rk
           FROM cand)
         SELECT qid AS doc_id, CAST(j AS BIGINT) AS draw, cid AS neg_id
         FROM r WHERE rk = 1 ORDER BY doc_id, draw""",
    // identical add-1 smoothing over the joint vocabulary; one rounded ln
    "t29_kl_drift" ->
      """WITH toks AS (SELECT source AS s, u.term
           FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE source IN ('src0', 'src1')) w,
             UNNEST(ws) AS u(term)),
         c AS (SELECT s, term, CAST(count(*) AS BIGINT) AS c
               FROM toks GROUP BY s, term),
         m AS (SELECT COALESCE(a.term, b.term) AS term,
             COALESCE(a.c, 0) AS c_a, COALESCE(b.c, 0) AS c_b
           FROM (SELECT term, c FROM c WHERE s = 'src0') a
           FULL OUTER JOIN (SELECT term, c FROM c WHERE s = 'src1') b
             ON a.term = b.term),
         t AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b,
             CAST(count(*) AS BIGINT) AS vocab FROM m)
         SELECT m.term, m.c_a, m.c_b,
           round(((m.c_a + 1) / CAST(t.n_a + t.vocab AS DOUBLE)) *
             ln(((m.c_a + 1) / CAST(t.n_a + t.vocab AS DOUBLE)) /
               ((m.c_b + 1) / CAST(t.n_b + t.vocab AS DOUBLE))), 6)
             AS kl_contrib
         FROM m, t ORDER BY m.term""",
    // counts re-derived from scratch; the PMI expression mirrors the
    // operator's division order exactly so only ln's last ulp differs,
    // absorbed by the shared 6-decimal rounding
    "t24_pmi" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         uni AS (SELECT u.w, CAST(count(*) AS BIGINT) AS c_w
                 FROM w, UNNEST(ws) AS u(w) GROUP BY u.w),
         pr AS (SELECT ws[i] AS w1, ws[i+1] AS w2
                FROM w, UNNEST(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
         pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
                FROM pr GROUP BY w1, w2),
         tot AS (SELECT (SELECT SUM(c_w) FROM uni) AS n_words,
                        (SELECT SUM(c_pair) FROM pc) AS n_pairs)
         SELECT p.w1, p.w2, p.c_pair,
           round(ln((p.c_pair / CAST(t.n_pairs AS DOUBLE)) /
             ((u1.c_w / CAST(t.n_words AS DOUBLE)) *
              (u2.c_w / CAST(t.n_words AS DOUBLE)))), 6) AS pmi
         FROM pc p JOIN uni u1 ON u1.w = p.w1
           JOIN uni u2 ON u2.w = p.w2, tot t
         WHERE p.c_pair >= 20
         ORDER BY w1, w2""",
    // identical md5 deal: 24 leading hash bits pick the shard, full-hash
    // order ranks within it
    "t22_shuffle" ->
      """WITH h AS (SELECT doc_id,
             md5('epoch1' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         s AS (SELECT doc_id, hh,
             CAST(CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 8 AS INT) AS shard
           FROM h)
         SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
             AS BIGINT) AS pos
         FROM s ORDER BY shard, pos""",
    "t17_quantile_sketch" ->
      """SELECT CAST(0.1 AS DOUBLE) AS q, round(quantile_cont(n_chars, 0.1), 6) AS v FROM documents
         UNION ALL SELECT CAST(0.25 AS DOUBLE), round(quantile_cont(n_chars, 0.25), 6) FROM documents
         UNION ALL SELECT CAST(0.5 AS DOUBLE), round(quantile_cont(n_chars, 0.5), 6) FROM documents
         UNION ALL SELECT CAST(0.75 AS DOUBLE), round(quantile_cont(n_chars, 0.75), 6) FROM documents
         UNION ALL SELECT CAST(0.9 AS DOUBLE), round(quantile_cont(n_chars, 0.9), 6) FROM documents
         UNION ALL SELECT CAST(0.99 AS DOUBLE), round(quantile_cont(n_chars, 0.99), 6) FROM documents
         ORDER BY q""",
    "t17b_quantile_by_group" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS med
         FROM documents GROUP BY lang ORDER BY lang""",
    // BM25 join replayed in full: query VALUES, vocabulary-restricted
    // postings, per-term dfs, corpus stats, the t12b scoring arithmetic
    "t12c_bm25_join" ->
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""",
    // t12c's full scoring + the rounded-rank top-20 CANDIDATE cut +
    // the positive anti-join + the rounded-rank top-5 cut, ties to
    // doc_id — both cuts replay the same (round(score,6), doc_id) key
    "t101_hard_negatives" ->
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         px(query_id, doc_id) AS (VALUES
           (0, 0), (0, 7), (1, 100), (1, 107), (2, 200), (2, 207),
           (3, 300), (3, 307), (4, 400), (4, 407)),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id),
         cand AS (SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id) AS INT) AS crank
           FROM sc),
         neg AS (SELECT cand.query_id, cand.doc_id,
             round(cand.score, 6) AS score
           FROM cand WHERE cand.crank <= 20 AND NOT EXISTS
             (SELECT 1 FROM px
              WHERE px.query_id = cand.query_id
                AND px.doc_id = cand.doc_id)),
         r AS (SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS INT) AS neg_rank
           FROM neg)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           neg_rank
         FROM r WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""",
    // t12c's replay with per-term query weights multiplied into each
    // contribution (Robertson query-tf): weights are binary-exact
    // literals, so the arithmetic matches bit-for-bit pre-rounding
    "t12d_bm25_weighted" ->
      """WITH qt(query_id, term, qw) AS (VALUES
           (0, 'agg', 2.0), (0, 'scan', 1.0), (0, 'window', 0.25),
           (1, 'join', 1.5), (1, 'key', 0.5),
           (2, 'the', 0.25), (2, 'vector', 3.0), (2, 'stream', 1.0)),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT term FROM qt),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(qt.qw * ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""",
    // the salted join's oracle IS t12c's unsalted replay: the salt's
    // contract is result-identity (same posting matches, same scores up
    // to summation order — absorbed by the 6-decimal rounding)
    "t12e_bm25_join_salted" ->
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           round(score, 6) AS score
         FROM sc ORDER BY query_id, doc_id""",
    // both join lists replayed (plane-fixture ANN + BM25 arithmetic),
    // then RRF: 1/(rank+60), at most two additions per (query, doc)
    "h1_hybrid_join" ->
      """WITH q(query_id, terms) AS (VALUES
           (0, ['agg', 'scan', 'window']), (1, ['join', 'key']),
           (2, ['vector', 'batch', 'stream']), (3, ['the', 'a']),
           (4, ['merge', 'sort', 'filter'])),
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         toks AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
                    unnest(ws) AS term FROM w),
         vocab AS (SELECT DISTINCT unnest(terms) AS term FROM q),
         post AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
                  FROM toks JOIN vocab USING (term) GROUP BY term, doc_id, dl),
         dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM post GROUP BY term),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(ws)) AS avgdl
                FROM w),
         qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
         sc AS (SELECT qt.query_id, post.doc_id,
             sum(ln((st.N - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
               * (post.tf * 2.2)
               / (post.tf + 1.2 * (0.25 + 0.75 * post.dl / st.avgdl))) AS score
           FROM qt JOIN post USING (term) JOIN dfs USING (term) CROSS JOIN st
           GROUP BY qt.query_id, post.doc_id),
         lexr AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY round(score, 6) DESC, doc_id) AS r
           FROM sc),
         p AS (SELECT plane_ix, w AS pw FROM
           read_parquet('/tmp/graft_fixtures/ann_planes.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sk AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.pw) >= 0
                 THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT) AS s
           FROM e, p GROUP BY e.vec_id),
         m AS (SELECT qs.vec_id AS query_id, c.vec_id AS doc_id,
             list_cosine_similarity(qe.v, ce.v) AS cos
           FROM sk qs JOIN sk c ON bit_count(xor(qs.s, c.s)) <= 1
             JOIN e qe ON qe.vec_id = qs.vec_id
             JOIN e ce ON ce.vec_id = c.vec_id
           WHERE qs.vec_id < 5 AND c.vec_id >= 15),
         annr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER
               (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r
           FROM m),
         un AS (SELECT query_id, doc_id, 1.0 / (r + 60) AS rr
                FROM annr WHERE r <= 20
                UNION ALL
                SELECT query_id, doc_id, 1.0 / (r + 60) AS rr
                FROM lexr WHERE r <= 20)
         SELECT query_id, doc_id, sum(rr) AS rrf_score,
           CAST(count(*) AS BIGINT) AS n_lists
         FROM un GROUP BY query_id, doc_id ORDER BY query_id, doc_id""",
    // CDC boundaries replayed from scratch: per candidate end-position i
    // (1-based, window..n-1 — never the last char) the window's
    // polynomial fold h = (h*257 + codepoint) % 1e9+7 over positions
    // [i-15, i]; boundary where h % 64 = 0; chunks between boundaries
    "t18c_chunk_cdc" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         pos AS (SELECT doc_id, text, n, unnest(range(16, n)) AS i FROM d),
         h AS (SELECT doc_id, i,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i - 15, i + 1),
                 j -> CAST(unicode(substr(text, CAST(j AS INT), 1)) AS BIGINT))),
               (a, b) -> (a * 257 + b) % 1000000007) AS hv
           FROM pos),
         bl AS (SELECT doc_id, list(i ORDER BY i) AS bs
                FROM h WHERE hv % 64 = 0 GROUP BY doc_id),
         wb AS (SELECT d.doc_id, d.text, d.n,
                  COALESCE(bl.bs, CAST([] AS BIGINT[])) AS bs
                FROM d LEFT JOIN bl USING (doc_id)),
         ix AS (SELECT doc_id, text, n, bs, len(bs) + 1 AS n_chunks,
                  unnest(range(0, len(bs) + 1)) AS k FROM wb),
         ch AS (SELECT doc_id, k AS chunk_ix, n_chunks, text,
                  CASE WHEN k = 0 THEN 1 ELSE bs[CAST(k AS INT)] + 1 END AS st,
                  CASE WHEN k = len(bs) THEN n
                       ELSE bs[CAST(k + 1 AS INT)] END AS en
                FROM ix)
         SELECT doc_id, chunk_ix,
           substr(text, CAST(st AS INT), CAST(en - st + 1 AS INT)) AS chunk,
           CAST(n_chunks AS BIGINT) AS n_chunks
         FROM ch ORDER BY doc_id, chunk_ix""",
    // chunk boundaries replayed from the closed-form window arithmetic:
    // chunk i covers chars [i*160, i*160+200), n = max(1, ceil((len-40)/160))
    "t18_chunk_chars" ->
      """WITH d AS (SELECT doc_id, text,
             greatest(1, CAST(ceil((length(text) - 40.0) / 160) AS BIGINT)) AS n_chunks
           FROM documents),
         e AS (SELECT doc_id, text, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d)
         SELECT doc_id, i AS chunk_ix,
           substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk, n_chunks
         FROM e ORDER BY doc_id, chunk_ix""",
    "t38_embed_pipeline" ->
      """WITH d AS (SELECT doc_id, text,
             greatest(1, CAST(ceil((length(text) - 40.0) / 160) AS BIGINT)) AS n_chunks
           FROM documents),
         e AS (SELECT doc_id, text, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d),
         c AS (SELECT doc_id,
             substr(text, CAST(i * 160 + 1 AS INT), 200) AS chunk FROM e),
         comp AS (SELECT doc_id, j,
             CAST(concat('0x', substr(md5(concat(chunk, '_emb_',
               CAST(j AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967296.0 * 2.0 - 1.0 AS x
           FROM c, UNNEST(range(0, 8)) AS t(j))
         SELECT doc_id, CAST(j AS INT) AS pos, round(avg(x), 6) AS v
         FROM comp GROUP BY doc_id, j ORDER BY doc_id, pos""",
    // word windows under the t3 whitespace contract: 40 words, step 32,
    // chunks re-joined with single spaces
    "t18b_chunk_words" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
             greatest(1, CAST(ceil((len(ws) - 8.0) / 32) AS BIGINT)) AS n_chunks
           FROM w),
         e AS (SELECT doc_id, ws, n_words, n_chunks,
             unnest(range(0, n_chunks)) AS i FROM d)
         SELECT doc_id, i AS chunk_ix,
           array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
             CAST(i * 32 + 40 AS INT)), ' ') AS chunk,
           n_words, n_chunks
         FROM e ORDER BY doc_id, chunk_ix""",
    "t15_heavyhitters" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item
                    FROM documents
                    WHERE len(trim(text)) > 0),
         c AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY item),
         r AS (SELECT item, n, ROW_NUMBER() OVER (ORDER BY n DESC, item) AS rk
               FROM c)
         SELECT CAST(rk - 1 AS BIGINT) AS rk, item, n FROM r WHERE rk <= 10
         ORDER BY rk""",
    "t14_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
           '[\x00-\x1f\x7f]', ' ', 'g'),
           '[!-/:-@\[-`{-~]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""",
    "t14b_normalize_fold" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
           lower(strip_accents(text || ' Café NAÏVE àéîõü')),
           '[\x00-\x1f\x7f]', ' ', 'g'),
           '[!-/:-@\[-`{-~]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm
         FROM documents ORDER BY doc_id""",
    "t13_rrf" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         p AS (SELECT doc_id,
                 CAST(len(list_filter(ws, x -> x = 'agg')) AS BIGINT) AS tf,
                 CAST(len(ws) AS BIGINT) AS dl
               FROM w WHERE len(list_filter(ws, x -> x = 'agg')) > 0),
         a AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS r
               FROM p),
         b AS (SELECT doc_id, row_number() OVER (ORDER BY dl DESC, doc_id) AS r
               FROM p),
         af AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS rr
                FROM a WHERE r <= 20),
         bf AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + r) AS rr
                FROM b WHERE r <= 20)
         SELECT doc_id,
           CASE WHEN af.rr IS NULL THEN bf.rr
                WHEN bf.rr IS NULL THEN af.rr
                ELSE af.rr + bf.rr END AS rrf_score,
           CAST((CASE WHEN af.rr IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN bf.rr IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_lists
         FROM af FULL OUTER JOIN bf USING (doc_id)
         ORDER BY doc_id""",
    // m16's skeleton with the decoded-dimension placeholder: media
    // content = '<image:' || m1's width/height construction || '>'
    "m16b_interleave_media" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         d AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 32.0) AS BIGINT)) AS n_chunks
           FROM w),
         ch AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM d),
         chunkrows AS (
           SELECT doc_id, i * 2 AS elem_ix, 'text' AS kind,
             array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT)), ' ') AS content,
             CAST(len(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT))) AS BIGINT) AS tokens
           FROM ch),
         mediarows AS (
           SELECT doc_id, 1 AS elem_ix, 'media' AS kind,
             '<image:' || (doc_id % 640 + 1) || 'x'
               || ((doc_id * 7) % 480 + 1) || '>' AS content,
             CAST(64 AS BIGINT) AS tokens
           FROM documents),
         elements AS (
           SELECT * FROM chunkrows UNION ALL SELECT * FROM mediarows),
         totals AS (SELECT doc_id, sum(tokens) AS tk FROM elements
                    GROUP BY doc_id),
         t AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, tk,
             CAST(row_number() OVER (PARTITION BY doc_id % 8
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM totals),
         pack AS (
           SELECT shard, rn, doc_id, tk, CAST(0 AS BIGINT) AS bin, tk AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tk,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN t.tk ELSE p.fill + t.tk END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT e.doc_id, p.shard, p.bin,
           CAST(row_number() OVER (PARTITION BY p.shard, p.bin
             ORDER BY e.doc_id, e.elem_ix) - 1 AS BIGINT) AS seq,
           e.elem_ix, e.kind, e.content, e.tokens
         FROM elements e JOIN pack p USING (doc_id)
         ORDER BY e.doc_id, e.elem_ix""",
    // chunk slicing (t18b skeleton) + interleave positions + the
    // t9-style recursive greedy pack at 256 + window numbering
    // replays decode (closed-form fixture dims), the integer
    // cross-multiplication bucket rule and the per-(bucket, shard)
    // greedy recurrence — the t9 recursive-CTE recipe over explicit
    // group keys
    "m17_aspect_bucket" ->
      """WITH RECURSIVE m AS (
           SELECT doc_id,
             CAST(doc_id % 640 + 1 AS BIGINT) AS w,
             CAST((doc_id * 7) % 480 + 1 AS BIGINT) AS h
           FROM documents),
         b AS (SELECT doc_id, w, h,
             CASE WHEN w*3 < h*2 THEN 'tall'
                  WHEN w*10 < h*9 THEN 'portrait'
                  WHEN w*10 <= h*11 THEN 'square'
                  WHEN w*2 < h*3 THEN 'landscape'
                  ELSE 'wide' END AS bucket,
             CAST(doc_id % 4 AS BIGINT) AS shard,
             w * h AS px
           FROM m),
         t AS (SELECT doc_id, bucket, shard, px,
             CAST(row_number() OVER (PARTITION BY bucket, shard
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM b),
         pack AS (
           SELECT bucket, shard, rn, doc_id, px, CAST(0 AS BIGINT) AS bin,
             px AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.bucket, t.shard, t.rn, t.doc_id, t.px,
             CASE WHEN p.fill > 0 AND p.fill + t.px > 1000000
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.px > 1000000
                  THEN t.px ELSE p.fill + t.px END
           FROM pack p JOIN t ON t.bucket = p.bucket AND t.shard = p.shard
             AND t.rn = p.rn + 1)
         SELECT doc_id, bucket, shard, bin, px AS tokens FROM pack
         ORDER BY doc_id""",
    "m16_interleave" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
           FROM documents),
         d AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 32.0) AS BIGINT)) AS n_chunks
           FROM w),
         ch AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS i FROM d),
         chunkrows AS (
           SELECT doc_id, i * 2 AS elem_ix, 'text' AS kind,
             array_to_string(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT)), ' ') AS content,
             CAST(len(list_slice(ws, CAST(i * 32 + 1 AS INT),
               CAST(i * 32 + 32 AS INT))) AS BIGINT) AS tokens
           FROM ch),
         mediarows AS (
           SELECT doc_id, ord * 2 + 1 AS elem_ix, 'media' AS kind,
             '<media:' || ord || '>' AS content, CAST(64 AS BIGINT) AS tokens
           FROM (SELECT doc_id, unnest(range(0, doc_id % 3)) AS ord
                 FROM documents WHERE doc_id % 3 > 0)),
         elements AS (
           SELECT * FROM chunkrows UNION ALL SELECT * FROM mediarows),
         totals AS (SELECT doc_id, sum(tokens) AS tk FROM elements
                    GROUP BY doc_id),
         t AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, tk,
             CAST(row_number() OVER (PARTITION BY doc_id % 8
               ORDER BY doc_id) AS BIGINT) AS rn
           FROM totals),
         pack AS (
           SELECT shard, rn, doc_id, tk, CAST(0 AS BIGINT) AS bin, tk AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tk,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tk > 256
                  THEN t.tk ELSE p.fill + t.tk END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT e.doc_id, p.shard, p.bin,
           CAST(row_number() OVER (PARTITION BY p.shard, p.bin
             ORDER BY e.doc_id, e.elem_ix) - 1 AS BIGINT) AS seq,
           e.elem_ix, e.kind, e.content, e.tokens
         FROM elements e JOIN pack p USING (doc_id)
         ORDER BY e.doc_id, e.elem_ix""",
    // every corrupted span restated from the same salted-hash arithmetic
    "t70_span_corruption" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           FROM documents),
         b AS (SELECT doc_id, CAST(t // 20 AS BIGINT) AS nb FROM w),
         e AS (SELECT doc_id,
             unnest(range(CAST(0 AS BIGINT), nb)) AS sentinel_ix
           FROM b WHERE nb > 0)
         SELECT doc_id, sentinel_ix,
           sentinel_ix * 20 + CAST(concat('0x', substr(md5(
             't5:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT) % 18
             AS span_start,
           CAST(3 AS INT) AS span_len
         FROM e ORDER BY doc_id, sentinel_ix""",
    // rank + running word-count sum + the role predicate, one window
    "t71_sft_mask" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
             CAST(len(string_split(props, ' ')) AS BIGINT) AS t
           FROM events),
         r AS (SELECT user_id, event_type, t,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - 1 AS BIGINT) AS turn_ix,
             CAST(COALESCE(sum(t) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_start
           FROM e)
         SELECT user_id, turn_ix, event_type AS role, tok_start,
           tok_start + t AS tok_end,
           CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END
             AS trainable
         FROM r ORDER BY user_id, turn_ix""",
    // the per-shard cumsum and every window boundary replayed directly
    // the full four-stage run replayed in ONE CTE chain: t64's
    // curation (langid argmax + quality floors + min-id exact dedup),
    // d8b's 3-gram decontamination against the doc_id%100 eval set,
    // d23's DSIR scoring toward the doc_id%10 target (same +1/+B
    // smoothing, 6-decimal rounding, weight-desc/id tie rule, top
    // 200), and t69's per-shard cumsum chop with the r16 BIGINT cast
    "t75_training_run" ->
      """WITH w0 AS (SELECT doc_id, text,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws,
           regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         s0 AS (SELECT doc_id, text, ws,
           len(list_filter(lws, x -> list_contains(
             ['der','die','das','und','ist','nicht','ein','eine','mit','von'], x))) AS de,
           len(list_filter(lws, x -> list_contains(
             ['the','and','of','to','in','is','that','it','for','with'], x))) AS en,
           len(list_filter(lws, x -> list_contains(
             ['el','la','los','las','de','y','es','que','un','una','en'], x))) AS es,
           len(list_filter(lws, x -> list_contains(
             ['le','la','les','de','des','et','un','une','est','que','dans'], x))) AS fr,
           len(list_filter(lws, x -> list_contains(
             ['的','是','了','在','我','有','和','人','这','不'], x))) AS zh
           FROM w0),
         lang AS (SELECT doc_id, text, ws,
           CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
                WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
           FROM s0),
         q AS (SELECT doc_id, text, ws,
           CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) = 0 THEN 0.0
                ELSE CAST(len(list_filter(ws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x))) AS DOUBLE)
                  / len(ws) END AS stopword_ratio
           FROM lang WHERE lang_pred = 'en'),
         f AS (SELECT doc_id, text, ws FROM q
           WHERE n_words >= 20 AND stopword_ratio > 0.03),
         dd AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY text),
         kept AS (SELECT f.doc_id, f.text, f.ws FROM f JOIN dd USING (doc_id)),
         sh AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS g
                FROM kept),
         evw AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                 FROM documents WHERE doc_id % 100 = 0),
         bg AS (SELECT DISTINCT unnest(
                  list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END)) AS gram
                FROM evw),
         ex AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS total, unnest(g) AS gram
                FROM sh),
         cont AS (SELECT ex.doc_id,
                 CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / max(ex.total) AS contamination
               FROM ex LEFT JOIN bg ON bg.gram = ex.gram GROUP BY ex.doc_id),
         clean AS (SELECT k.doc_id, k.ws FROM kept k
           JOIN cont ON cont.doc_id = k.doc_id WHERE cont.contamination < 0.5),
         uni AS (SELECT doc_id, unnest(ws) AS g FROM clean),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS g
           FROM clean WHERE len(ws) >= 2),
         grams AS (SELECT doc_id, g FROM uni
                   UNION ALL SELECT doc_id, g FROM bi),
         b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 1024
               AS bucket
           FROM grams),
         rawn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b GROUP BY bucket),
         tgtn AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n
                  FROM b WHERE doc_id % 10 = 1 GROUP BY bucket),
         tot AS (SELECT
             (SELECT CAST(count(*) AS DOUBLE) FROM b) AS rt,
             (SELECT CAST(count(*) AS DOUBLE) FROM b WHERE doc_id % 10 = 1)
               AS tt),
         r AS (SELECT rawn.bucket,
             round(ln((coalesce(tgtn.n, 0) + 1) / (tot.tt + 1024))
                 - ln((rawn.n + 1) / (tot.rt + 1024)), 6) AS lr
           FROM rawn LEFT JOIN tgtn USING (bucket), tot),
         sc AS (SELECT b.doc_id, round(sum(r.lr), 6) AS weight
                FROM b JOIN r USING (bucket) GROUP BY b.doc_id),
         rk AS (SELECT doc_id FROM sc ORDER BY weight DESC, doc_id LIMIT 200),
         tk AS (SELECT c2.doc_id, CAST(c2.doc_id % 4 AS BIGINT) AS shard,
             CAST(len(c2.ws) AS BIGINT) AS t
           FROM clean c2 JOIN rk USING (doc_id)),
         cum AS (SELECT doc_id, shard, t,
             CAST(COALESCE(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
           FROM tk WHERE t > 0),
         e AS (SELECT doc_id, shard, t, s,
             unnest(range(CAST(s // 128 AS BIGINT),
               CAST((s + t - 1) // 128 + 1 AS BIGINT))) AS window_ix
           FROM cum)
         SELECT doc_id, shard, window_ix,
           greatest(0, window_ix * 128 - s) AS tok_start,
           least(t, (window_ix + 1) * 128 - s) AS tok_end,
           least(t, (window_ix + 1) * 128 - s)
             - greatest(0, window_ix * 128 - s) AS n_tokens
         FROM e ORDER BY doc_id, window_ix""",
    "t69_pack_chop" ->
      """WITH tk AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t
           FROM documents),
         c AS (SELECT doc_id, shard, t,
             CAST(COALESCE(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s
           FROM tk WHERE t > 0),
         e AS (SELECT doc_id, shard, t, s,
             unnest(range(CAST(s // 128 AS BIGINT),
               CAST((s + t - 1) // 128 + 1 AS BIGINT))) AS window_ix
           FROM c)
         SELECT doc_id, shard, window_ix,
           greatest(0, window_ix * 128 - s) AS tok_start,
           least(t, (window_ix + 1) * 128 - s) AS tok_end,
           least(t, (window_ix + 1) * 128 - s)
             - greatest(0, window_ix * 128 - s) AS n_tokens
         FROM e ORDER BY doc_id, window_ix""",
    "t9_pack" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
             CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
               AS BIGINT) AS rn
           FROM documents),
         pack AS (
           SELECT shard, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
             tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.shard, t.rn, t.doc_id, t.tokens,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 128
                  THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill > 0 AND p.fill + t.tokens > 128
                  THEN t.tokens ELSE p.fill + t.tokens END
           FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         SELECT doc_id, shard, bin, tokens FROM pack ORDER BY doc_id""",
    "t10_mix" ->
      """WITH c AS (SELECT doc_id, source,
           CASE source
             WHEN 'src0' THEN 2 + CASE WHEN doc_id % 1000 < 500 THEN 1 ELSE 0 END
             WHEN 'src1' THEN CASE WHEN doc_id % 1000 < 500 THEN 1 ELSE 0 END
             WHEN 'src2' THEN 0
             ELSE 1 END AS copies
           FROM documents)
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM c ORDER BY doc_id, copy""",
    // temperature weights recomputed from the data in SQL: same doubles,
    // same 6-decimal rounding, same floor/round slice resolution as the
    // Spark driver — then t10's replication machinery
    "t10b_mix_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
                    FROM documents GROUP BY source),
         zt AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c),
         w AS (SELECT source, round(total * pow(n, 0.5) / (z * n), 6) AS w
               FROM c, zt),
         r AS (SELECT source, CAST(floor(w) AS BIGINT) AS fullc,
                 CAST(round((w - floor(w)) * 1000, 0) AS BIGINT) AS extra
               FROM w),
         cp AS (SELECT d.doc_id, d.source,
                 fullc + (CASE WHEN d.doc_id % 1000 < extra THEN 1 ELSE 0 END)
                   AS copies
                FROM documents d JOIN r USING (source))
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM cp ORDER BY doc_id, copy""",
    // the whole DoReMi chain replayed: rounded per-source means, global
    // mean, clipped excess, exp, softmax, smoothing, N-preserving
    // weights, then the t10 id-slice replication
    // global curriculum rank replayed as a LITERAL global row_number
    // over the integer proxy — the banded two-level rank must equal it
    // the fastText-quality replay: corpus = docs UNION vowel-flattened
    // corruptions of the even half (translate), trusted-vocab hit-ratio
    // features x10, FIFTEEN GD iterations (ml2's recipe, lr 2.0,
    // 6-decimal weight resync per step), sigmoid scores, cut at 0.5
    // sketches recomputed from the persisted planes, then every chain
    // replayed hop by hop: a recursive CTE whose LATERAL step is the
    // same (cosine desc, id) argmax the kernel runs
    "t85_context_order" ->
      """WITH RECURSIVE p AS (SELECT plane_ix, w FROM
           read_parquet('/tmp/graft_fixtures/context_planes.parquet/*.parquet')),
         m AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         sk AS (SELECT m.id,
             CAST(sum(CASE WHEN list_dot_product(m.v, p.w) >= 0
               THEN CAST(1 AS BIGINT) << p.plane_ix ELSE 0 END) AS BIGINT)
               AS bucket
           FROM m, p GROUP BY m.id),
         mb AS (SELECT sk.bucket, m.id, m.v FROM sk JOIN m USING (id)),
         nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_bucket
           FROM mb GROUP BY bucket),
         starts AS (SELECT bucket, min(id) AS id FROM mb GROUP BY bucket),
         chain AS (
           SELECT mb.bucket, [mb.id] AS ids, mb.v AS lastv
           FROM mb JOIN starts
             ON starts.bucket = mb.bucket AND starts.id = mb.id
           UNION ALL
           SELECT c.bucket, list_append(c.ids, nx.id), nx.v
           FROM chain c, LATERAL (
             SELECT m2.id, m2.v FROM mb m2
             WHERE m2.bucket = c.bucket AND NOT list_contains(c.ids, m2.id)
             ORDER BY CASE
                 WHEN sqrt(list_dot_product(m2.v, m2.v)) = 0
                   OR sqrt(list_dot_product(c.lastv, c.lastv)) = 0 THEN -2
                 ELSE list_dot_product(c.lastv, m2.v) /
                   (sqrt(list_dot_product(c.lastv, c.lastv)) *
                    sqrt(list_dot_product(m2.v, m2.v))) END DESC,
               m2.id
             LIMIT 1) nx),
         done AS (SELECT c.bucket, c.ids FROM chain c JOIN nb
           ON nb.bucket = c.bucket AND len(c.ids) = nb.n_bucket)
         SELECT d.bucket, CAST(t.i - 1 AS BIGINT) AS seq_ix,
           d.ids[CAST(t.i AS INT)] AS vec_id, nb.n_bucket
         FROM done d JOIN nb ON nb.bucket = d.bucket,
           UNNEST(range(1, len(d.ids) + 1)) AS t(i)
         ORDER BY d.bucket, seq_ix""",
    // the t88 recomputation at k=25: the streamed index must answer as
    // if built from the full corpus in one shot
    "st24_stream_inverted" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         tf AS (SELECT doc_id, dl, t.term,
             CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf
           FROM d CROSS JOIN
             (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sdl FROM d),
         dfs AS (SELECT term,
             CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
           FROM tf GROUP BY term),
         contrib AS (SELECT tf.doc_id,
             ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl /
                 (CAST(stats.sdl AS DOUBLE) / stats.n))) AS c
           FROM tf JOIN dfs USING (term) CROSS JOIN stats
           WHERE tf.tf > 0),
         sc AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
           FROM contrib GROUP BY doc_id),
         rk AS (SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
               AS BIGINT) AS rank
           FROM sc)
         SELECT doc_id, score, rank FROM rk WHERE rank <= 25
         ORDER BY rank""",
    // all four stages in one CTE chain: the extraction + repair stated
    // closed-form (the t65/t84 conventions), the line-frequency rule
    // counted from scratch, the domain flag cross-multiplied
    "t89_web_clean" ->
      ("""WITH clean AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || ' caf""" + "é it’s —" + """ done'
               ELSE text END AS ct
           FROM documents),
         content AS (SELECT doc_id,
             'Lead filler sentence with comfortably more than the sixteen '
               || 'words the shallow classifier needs to call a block '
               || 'content: ' || ct || chr(10) ||
             'A second body paragraph likewise carries enough running '
               || 'words to stand as content on its own after the aside: '
               || ct || chr(10) ||
             'please subscribe to our newsletter today for many more '
               || 'updates delivered directly to your inbox every single '
               || 'morning friend' AS text
           FROM clean),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
           FROM content),
         lines AS (SELECT doc_id, i - 1 AS pos, l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i)),
         freq AS (SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 3),
         kept AS (SELECT li.doc_id, li.pos, li.line FROM lines li
           LEFT JOIN freq f ON f.line = li.line WHERE f.line IS NULL),
         agg AS (SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           FROM lines GROUP BY doc_id),
         cleaned AS (SELECT t.doc_id,
             COALESCE(a.text_clean, '') AS text_clean,
             CAST(t.n_lines - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
           FROM tot t LEFT JOIN agg a USING (doc_id)),
         u AS (SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'news.example.com'
               WHEN 1 THEN 'blog.example.co.uk'
               WHEN 2 THEN 'ads.spamfarm.co.uk'
               WHEN 3 THEN 'example.org'
               WHEN 4 THEN 'cdn.assets.example.org'
               ELSE 'static.junk.com' END AS host,
             CAST(concat('0x', substr(md5('dq:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS b
           FROM documents),
         sc AS (SELECT doc_id, host,
             CASE WHEN doc_id % 6 = 2 THEN b % 30 ELSE b % 70 + 30 END
               AS score
           FROM u),
         reg AS (SELECT doc_id, score,
             CASE WHEN lsx[nl - 1] || '.' || lsx[nl] IN
                 ('co.uk', 'ac.uk', 'github.io')
               THEN lsx[nl - 2] || '.' || lsx[nl - 1] || '.' || lsx[nl]
               ELSE lsx[nl - 1] || '.' || lsx[nl] END AS domain
           FROM (SELECT doc_id, score, string_split(host, '.') AS lsx,
               CAST(len(string_split(host, '.')) AS INT) AS nl FROM sc) x),
         flagged AS (SELECT domain FROM
             (SELECT domain, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(score) AS BIGINT) AS ss
              FROM reg GROUP BY domain) g
           WHERE ss * 1 < n * 40)
         SELECT r.doc_id, r.domain, CAST(r.score AS BIGINT) AS score,
           c.text_clean, c.n_dropped
         FROM reg r JOIN cleaned c USING (doc_id)
         LEFT JOIN flagged f ON f.domain = r.domain
         WHERE f.domain IS NULL ORDER BY r.doc_id"""),
    // the index answer recomputed from the raw corpus: t12b's literal
    // BM25 operation order with the sidecar's integer avgdl convention
    // (sum(dl)/count, not avg), rounded rank keys, top 20
    "t88_inverted_index" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
         tf AS (SELECT doc_id, dl, t.term,
             CAST(len(list_filter(ws, x -> x = t.term)) AS BIGINT) AS tf
           FROM d CROSS JOIN
             (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sdl FROM d),
         dfs AS (SELECT term,
             CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
           FROM tf GROUP BY term),
         contrib AS (SELECT tf.doc_id,
             ln((stats.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
               (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * tf.dl /
                 (CAST(stats.sdl AS DOUBLE) / stats.n))) AS c
           FROM tf JOIN dfs USING (term) CROSS JOIN stats
           WHERE tf.tf > 0),
         sc AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
           FROM contrib GROUP BY doc_id),
         rk AS (SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
               AS BIGINT) AS rank
           FROM sc)
         SELECT doc_id, score, rank FROM rk WHERE rank <= 20
         ORDER BY rank""",
    // the six link shapes stated in closed form: three rel variants
    // drop, the unrelated rel and the anchor-text decoy survive
    "t93_nofollow_links" ->
      """WITH b AS (SELECT doc_id,
             'http://s' || (doc_id % 7) || '.com/' AS base
           FROM documents),
         l AS (
           SELECT doc_id, base || 'keep' || doc_id AS outlink,
             true AS followed FROM b
           UNION ALL SELECT doc_id, base || 'nf' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'ugc' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'bare' || doc_id, false FROM b
           UNION ALL SELECT doc_id, base || 'noop' || doc_id, true FROM b
           UNION ALL SELECT doc_id, base || 'text' || doc_id, true FROM b)
         SELECT doc_id, outlink, followed FROM l
         ORDER BY doc_id, outlink""",
    // the directive table in closed form: %5 picks the variant, `none`
    // implies both flags, absent meta is the indexable default, and
    // kept = NOT noindex is the filter's survivor set
    "t92_meta_robots" ->
      """SELECT doc_id,
           CAST(doc_id % 5 AS INT) IN (0, 2, 3) AS noindex,
           CAST(doc_id % 5 AS INT) IN (2, 3) AS nofollow,
           CAST(doc_id % 5 AS INT) NOT IN (0, 2, 3) AS kept
         FROM documents ORDER BY doc_id""",
    // the planted blocks stated in closed form: Article always at ix 0,
    // Product at ix 1 on the %5 docs, the malformed decoy last with
    // all-null fields (parsed leniently, counted positionally)
    "t91_jsonld" ->
      """WITH a AS (SELECT doc_id, 0 AS block_ix, 'Article' AS jtype,
             'Doc ' || doc_id AS name, CAST(n_chars AS BIGINT) AS word_count
           FROM documents),
         p AS (SELECT doc_id, 1 AS block_ix, 'Product' AS jtype,
             'Gadget ' || doc_id AS name, CAST(NULL AS BIGINT) AS word_count
           FROM documents WHERE doc_id % 5 = 0),
         dk AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS block_ix,
             CAST(NULL AS VARCHAR) AS jtype, CAST(NULL AS VARCHAR) AS name,
             CAST(NULL AS BIGINT) AS word_count
           FROM documents)
         SELECT doc_id, CAST(block_ix AS INT) AS block_ix, jtype, name,
           word_count
         FROM (SELECT * FROM a UNION ALL SELECT * FROM p
               UNION ALL SELECT * FROM dk) u
         ORDER BY doc_id, block_ix""",
    // the exact micro-unit split at t=0.5, then only final divisions
    "ml6_confusion" ->
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT CASE WHEN m >= 500000 THEN 1 ELSE 0 END AS p,
             CASE WHEN lm < m THEN 1 ELSE 0 END AS y
           FROM sc),
         c AS (SELECT
             CAST(sum(p * y) AS BIGINT) AS tp,
             CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
             CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn,
             CAST(sum((1 - p) * y) AS BIGINT) AS fn
           FROM r)
         SELECT tp, fp, tn, fn,
           round(CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           round(CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
             ELSE CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6) AS f1,
           round(CASE WHEN tp + fp + tn + fn = 0 THEN NULL
             ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) END, 6)
             AS accuracy
         FROM c""",
    // each operating point's conditional sums replayed per micro-unit
    // threshold — the ml6 arithmetic swept over a VALUES table
    "ml7_confusion_sweep" ->
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         th(t) AS (VALUES (100000), (250000), (500000), (750000),
           (900000)),
         r AS (SELECT th.t,
             CASE WHEN sc.m >= th.t THEN 1 ELSE 0 END AS p,
             CASE WHEN sc.lm < sc.m THEN 1 ELSE 0 END AS y
           FROM sc, th),
         c AS (SELECT t,
             CAST(sum(p * y) AS BIGINT) AS tp,
             CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
             CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn,
             CAST(sum((1 - p) * y) AS BIGINT) AS fn
           FROM r GROUP BY t)
         SELECT CAST(t AS BIGINT) AS t_micro, tp, fp, tn, fn,
           round(CASE WHEN tp + fp = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
           round(CASE WHEN tp + fn = 0 THEN NULL
             ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           round(CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
             ELSE CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6)
             AS f1,
           round(CASE WHEN tp + fp + tn + fn = 0 THEN NULL
             ELSE CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) END, 6)
             AS accuracy
         FROM c ORDER BY t_micro""",
    // the Mann-Whitney statistic replayed on distinct micro-scores:
    // one ordered prefix sum, the doubled numerator an exact integer
    "ml5_auc" ->
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT m, CASE WHEN lm < m THEN 1 ELSE 0 END AS y FROM sc),
         g AS (SELECT m AS s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p
           FROM r GROUP BY m),
         gg AS (SELECT s, n, p, n - p AS neg,
             CAST(COALESCE(sum(n - p) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS negbelow
           FROM g),
         t AS (SELECT
             CAST(sum(p * (negbelow * 2 + neg)) AS BIGINT) AS num2,
             CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg
           FROM gg)
         SELECT n_pos, n_neg,
           round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
             ELSE CAST(num2 AS DOUBLE) / (n_pos * n_neg * 2) END, 6) AS auc
         FROM t""",
    // micro-unit integer sums per bin (exact in any engine), then the
    // three final divisions round
    "ml4_calibration" ->
      """WITH sc AS (SELECT doc_id,
             CAST(concat('0x', substr(md5('cs:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS m,
             CAST(concat('0x', substr(md5('cl:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS lm
           FROM documents),
         r AS (SELECT least(m * 10 // 1000000, 9) AS bin, m,
             CASE WHEN lm < m THEN 1 ELSE 0 END AS y
           FROM sc),
         b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(m) AS BIGINT) AS s
           FROM r GROUP BY bin),
         tot AS (SELECT
             CAST(sum(abs(s - n_pos * 1000000)) AS BIGINT) AS num,
             CAST(sum(n) AS BIGINT) AS nn
           FROM b)
         SELECT bin, n, n_pos,
           round(CAST(s AS DOUBLE) / (n * 1000000), 6) AS conf,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS acc,
           round(CAST(num AS DOUBLE) / (nn * 1000000), 6) AS ece
         FROM b, tot ORDER BY bin""",
    // every sample recomputed, quiet islands of >= minRun found by the
    // gaps-and-islands grouping, voiced samples grouped by pauses-before
    "m19_audio_vad" ->
      """WITH d AS (SELECT doc_id,
             CAST(400 + doc_id % 200 AS BIGINT) AS n FROM documents),
         s AS (SELECT doc_id, t.i AS i,
             CASE WHEN (t.i >= n // 4 AND t.i < n // 4 + 80)
                 OR (t.i >= (5 * n) // 8 AND t.i < (5 * n) // 8 + 80)
               THEN (doc_id + t.i) % 7 - 3
               ELSE ((doc_id * 131 + t.i * 31) % 65536) - 32768 END AS v
           FROM d, UNNEST(range(0, n)) AS t(i)),
         q AS (SELECT doc_id, i,
             CASE WHEN abs(v) < 100 THEN 1 ELSE 0 END AS quiet FROM s),
         runs AS (SELECT doc_id, min(i) AS rs, max(i) AS re
           FROM (SELECT doc_id, i,
               i - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i)
                 AS BIGINT) AS grp
             FROM q WHERE quiet = 1) x
           GROUP BY doc_id, grp HAVING count(*) >= 50),
         voiced AS (SELECT doc_id, i FROM q WHERE quiet = 0),
         pc AS (SELECT v.doc_id, v.i,
             CAST(count(r.re) AS BIGINT) AS g
           FROM voiced v LEFT JOIN runs r
             ON r.doc_id = v.doc_id AND r.re < v.i
           GROUP BY v.doc_id, v.i),
         segs AS (SELECT doc_id, g,
             CAST(min(i) AS BIGINT) AS start_sample,
             CAST(max(i) + 1 AS BIGINT) AS end_sample
           FROM pc GROUP BY doc_id, g)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY start_sample) - 1 AS INT) AS seg_ix,
           start_sample, end_sample
         FROM segs ORDER BY doc_id, seg_ix""",
    // every frame byte recomputed from the builder's closed form, the
    // integer mean-abs-diff rule applied per consecutive pair, frame 0
    // unioned in as every doc's shot 0
    "m18_shot_detect" ->
      """WITH d AS (SELECT doc_id,
             CAST(18 + (doc_id % 5) * 3 AS BIGINT) AS nf,
             CAST(40 + (doc_id % 7) * 4 AS BIGINT) AS fs
           FROM documents),
         pairs AS (SELECT doc_id, fs, CAST(t.f AS BIGINT) AS f
           FROM d, UNNEST(range(1, nf)) AS t(f)),
         db AS (SELECT doc_id, fs, f,
             abs(
               (((doc_id * 7 + ((f - 1) // 6 + 1) * 101 + 13) % 251)
                 + (f - 1) * 31 + u.j * 7) % 256
               - (((doc_id * 7 + (f // 6 + 1) * 101 + 13) % 251)
                 + f * 31 + u.j * 7) % 256) AS ad
           FROM pairs, UNNEST(range(0, fs)) AS u(j)),
         sums AS (SELECT doc_id, fs, f, CAST(sum(ad) AS BIGINT) AS s
           FROM db GROUP BY doc_id, fs, f),
         cuts AS (SELECT doc_id, f FROM sums WHERE s * 100 >= 8000 * fs
           UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM d),
         shots AS (SELECT doc_id, f AS start_frame,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1
               AS INT) AS shot_ix
           FROM cuts)
         SELECT doc_id, shot_ix, CAST(start_frame AS INT) AS start_frame,
           CAST(start_frame * 40 AS BIGINT) AS start_ms
         FROM shots ORDER BY doc_id, shot_ix""",
    // the bin-state evolution replayed step by step: per-shard
    // descending rank, then a recursive CTE whose LATERAL picks the
    // same (fill DESC, ix) best-fit bin the streaming pass does
    "t87_bestfit_pack" ->
      """WITH RECURSIVE tk AS (SELECT doc_id AS id,
             CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           FROM documents),
         o AS (SELECT id, shard, tokens,
             CAST(row_number() OVER (PARTITION BY shard
               ORDER BY tokens DESC, id) AS BIGINT) AS r
           FROM tk),
         step AS (
           SELECT shard, r, id, tokens, CAST(0 AS BIGINT) AS bin,
             [struct_pack(ix := CAST(0 AS BIGINT), f := tokens)] AS open,
             CAST(1 AS BIGINT) AS nbins
           FROM o WHERE r = 1
           UNION ALL
           SELECT t.shard, t.r, t.id, t.tokens,
             CASE WHEN b.ix IS NULL THEN s.nbins ELSE b.ix END AS bin,
             CASE WHEN b.ix IS NULL
               THEN list_append(s.open,
                 struct_pack(ix := s.nbins, f := t.tokens))
               ELSE list_transform(s.open, x -> CASE WHEN x.ix = b.ix
                 THEN struct_pack(ix := x.ix, f := x.f + t.tokens)
                 ELSE x END) END AS open,
             s.nbins + CASE WHEN b.ix IS NULL THEN 1 ELSE 0 END AS nbins
           FROM step s JOIN o t ON t.shard = s.shard AND t.r = s.r + 1
           LEFT JOIN LATERAL (
             SELECT u.ox.ix AS ix
             FROM (SELECT unnest(s.open) AS ox) u
             WHERE u.ox.f + t.tokens <= 128
             ORDER BY u.ox.f DESC, u.ox.ix LIMIT 1) b ON true)
         SELECT id AS doc_id, shard, bin, tokens
         FROM step ORDER BY doc_id""",
    // the full fixture recounted from scratch: the exactly-once
    // maintained sidecar must equal the batch recount
    "st23_stream_boilerplate" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         n AS (SELECT doc_id, ws,
             greatest(1, CAST(ceil(len(ws) / 6.0) AS BIGINT)) AS nl FROM w),
         body AS (SELECT doc_id,
             array_to_string(list_transform(range(0, nl),
               i -> array_to_string(
                 list_slice(ws, CAST(i * 6 + 1 AS INT), CAST(i * 6 + 6 AS INT)),
                 ' ')), chr(10)) AS body
           FROM n),
         doc AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN body || chr(10) ||
               'subscribe to our newsletter today' ELSE body END AS text
           FROM body),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc),
         lines AS (SELECT l[CAST(i AS INT)] AS line
           FROM ls, UNNEST(range(1, len(l) + 1)) AS t(i))
         SELECT line, CAST(count(*) AS BIGINT) AS n_rows
         FROM lines GROUP BY line HAVING count(*) >= 3 ORDER BY line""",
    // the count + floor replayed verbatim; the join attaches each
    // surviving row's own crowd size
    "t86_kanon" ->
      """WITH e AS (SELECT event_id, user_id % 23 AS cohort,
             event_id % 7 AS slot, event_type FROM events),
         g AS (SELECT cohort, slot, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY cohort, slot, event_type)
         SELECT e.event_id, e.cohort, e.slot, e.event_type, g.n AS group_n
         FROM e JOIN g USING (cohort, slot, event_type)
         WHERE g.n >= 10 ORDER BY e.event_id""",
    // the repair stated in closed form: planted mojibake maps to its
    // clean UTF-8, everything else is the identity
    "t84_mojibake" ->
      ("""SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
             THEN text || ' caf""" + "é it’s —" +
        """ done' ELSE text END AS text_fixed,
           doc_id % 3 = 0 AS repaired
         FROM documents ORDER BY doc_id"""),
    // closed-form host edges from the t61 fixture, the g1 iteration
    // unrolled five times keyed on host STRINGS (the operator's hash
    // ids are internals), then the integer-division budget split
    "t83_crawl_rank" ->
      """WITH sh AS (SELECT DISTINCT
             'site' || (doc_id % 9) || '.com' AS src FROM documents),
         e AS (SELECT DISTINCT src, dst FROM (
             SELECT src, unnest(['abs.example', 'mirror.net', src]) AS dst
             FROM sh) x),
         o AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         r0 AS (SELECT node, 1000000000 // n AS r FROM nodes, p),
         c1 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r0 pr ON pr.node = e.src
           GROUP BY e.dst),
         r1 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c1 c ON c.node = nd.node, p),
         c2 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r1 pr ON pr.node = e.src
           GROUP BY e.dst),
         r2 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c2 c ON c.node = nd.node, p),
         c3 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r2 pr ON pr.node = e.src
           GROUP BY e.dst),
         r3 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c3 c ON c.node = nd.node, p),
         c4 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r3 pr ON pr.node = e.src
           GROUP BY e.dst),
         r4 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c4 c ON c.node = nd.node, p),
         c5 AS (SELECT e.dst AS node,
             CAST(SUM(pr.r // o.outdeg) AS BIGINT) AS c
           FROM e JOIN o ON e.src = o.src JOIN r4 pr ON pr.node = e.src
           GROUP BY e.dst),
         r5 AS (SELECT nd.node,
             (150000000 // n) + (COALESCE(c.c, 0) * 85) // 100 AS r
           FROM nodes nd LEFT JOIN c5 c ON c.node = nd.node, p),
         tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM r5)
         SELECT node AS host, CAST(r AS BIGINT) AS rank_ppb,
           CAST((r * 10000) // t AS BIGINT) AS budget
         FROM r5, tot ORDER BY host""",
    // the mode draw and all three denoiser geometries replayed: R/X are
    // the t70 arithmetic at their own (blockSize, offsets), S is the
    // prefix-LM middle-half split
    "t82_ul2_plan" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n
           FROM documents),
         m AS (SELECT doc_id, n,
             CAST(concat('0x', substr(md5('ul2m:' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS mode
           FROM w),
         r AS (SELECT doc_id, 'R' AS denoiser, sentinel_ix,
             sentinel_ix * 20 + CAST(concat('0x', substr(md5(
               'ul2r:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT)
               % 18 AS span_start,
             CAST(3 AS INT) AS span_len
           FROM (SELECT doc_id,
               unnest(range(CAST(0 AS BIGINT), n // 20)) AS sentinel_ix
             FROM m WHERE mode = 0 AND n // 20 > 0) b),
         x AS (SELECT doc_id, 'X' AS denoiser, sentinel_ix,
             sentinel_ix * 24 + CAST(concat('0x', substr(md5(
               'ul2x:' || doc_id || ':' || sentinel_ix), 1, 8)) AS BIGINT)
               % 13 AS span_start,
             CAST(12 AS INT) AS span_len
           FROM (SELECT doc_id,
               unnest(range(CAST(0 AS BIGINT), n // 24)) AS sentinel_ix
             FROM m WHERE mode = 1 AND n // 24 > 0) b),
         s AS (SELECT doc_id, 'S' AS denoiser,
             CAST(0 AS BIGINT) AS sentinel_ix, sp AS span_start,
             CAST(n - sp AS INT) AS span_len
           FROM (SELECT doc_id, n,
               n // 4 + CAST(concat('0x', substr(md5('ul2s:' ||
                 CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (n // 2)
                 AS sp
             FROM m WHERE mode = 2 AND n >= 4) b)
         SELECT doc_id, denoiser, sentinel_ix, span_start, span_len
         FROM (SELECT * FROM r UNION ALL SELECT * FROM x
               UNION ALL SELECT * FROM s) u
         ORDER BY doc_id, sentinel_ix""",
    // fixture hosts + hash scores replayed, the longest-suffix eTLD+1
    // rule applied literally (this fixture has no >2-label suffixes),
    // the integer cross-multiplied flag, then the anti-join
    "t80_domain_rollup" ->
      """WITH u AS (SELECT doc_id,
             CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 'news.example.com'
               WHEN 1 THEN 'blog.example.co.uk'
               WHEN 2 THEN 'ads.spamfarm.co.uk'
               WHEN 3 THEN 'example.org'
               WHEN 4 THEN 'cdn.assets.example.org'
               ELSE 'static.junk.com' END AS host,
             CAST(concat('0x', substr(md5('dq:' || CAST(doc_id AS VARCHAR)),
               1, 8)) AS BIGINT) AS b
           FROM documents),
         sc AS (SELECT doc_id, host,
             CASE WHEN doc_id % 6 = 2 THEN b % 30 ELSE b % 70 + 30 END
               AS score
           FROM u),
         reg AS (SELECT doc_id, score,
             CASE WHEN ls[nl - 1] || '.' || ls[nl] IN
                 ('co.uk', 'ac.uk', 'github.io')
               THEN ls[nl - 2] || '.' || ls[nl - 1] || '.' || ls[nl]
               ELSE ls[nl - 1] || '.' || ls[nl] END AS domain
           FROM (SELECT doc_id, score, string_split(host, '.') AS ls,
               CAST(len(string_split(host, '.')) AS INT) AS nl FROM sc) x),
         flagged AS (SELECT domain FROM
             (SELECT domain, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(score) AS BIGINT) AS ss
              FROM reg GROUP BY domain) g
           WHERE ss * 1 < n * 40)
         SELECT r.doc_id, r.domain, CAST(r.score AS BIGINT) AS score
         FROM reg r LEFT JOIN flagged f ON f.domain = r.domain
         WHERE f.domain IS NULL ORDER BY r.doc_id""",
    // md5 run scores and graded judgments replayed, then the metric
    // arithmetic: integer-scaled DCG discounts (round(1e6/log2(r+1)) —
    // exact integer sums in both engines), single final divisions
    "t79_retrieval_metrics" ->
      """WITH paired AS (SELECT t.term AS query, d.doc_id
           FROM documents d CROSS JOIN
             (SELECT unnest(['agg', 'scan', 'window']) AS term) t),
         run AS (SELECT query, doc_id,
             CAST(concat('0x', substr(md5('run:' || query || ':' ||
               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS score
           FROM paired),
         rk AS (SELECT query, doc_id,
             CAST(row_number() OVER (PARTITION BY query
               ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           FROM run),
         rel AS (SELECT query, doc_id, g FROM (
             SELECT query, doc_id,
               CASE WHEN substr(md5('qr:' || query || ':' ||
                   CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
                 THEN CAST(1 AS BIGINT)
                 WHEN substr(md5('qr:' || query || ':' ||
                   CAST(doc_id AS VARCHAR)), 1, 1) IN ('4','5')
                 THEN CAST(2 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS g
             FROM paired) x WHERE g > 0),
         j AS (SELECT rk.query, rk.rnk, COALESCE(rel.g, 0) AS g
           FROM rk LEFT JOIN rel
             ON rel.query = rk.query AND rel.doc_id = rk.doc_id),
         pq AS (SELECT query,
             CAST(sum(CASE WHEN rnk <= 10 AND g > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS hits_at_k,
             min(CASE WHEN g > 0 THEN rnk END) AS first_rel,
             CAST(sum(CASE WHEN rnk <= 10 THEN
                 (CAST(pow(2, g) AS BIGINT) - 1) *
                 CAST(round(1000000.0 / log2(rnk + 1)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS dcg
           FROM j GROUP BY query),
         ideal AS (SELECT query, CAST(count(*) AS BIGINT) AS n_rel,
             CAST(sum(CASE WHEN ir <= 10 THEN
                 (CAST(pow(2, g) AS BIGINT) - 1) *
                 CAST(round(1000000.0 / log2(ir + 1)) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS idcg
           FROM (SELECT query, g, CAST(row_number() OVER
                 (PARTITION BY query ORDER BY g DESC, doc_id) AS BIGINT) AS ir
             FROM rel) x GROUP BY query)
         SELECT p.query, COALESCE(i.n_rel, 0) AS n_rel, p.hits_at_k,
           round(CASE WHEN COALESCE(i.n_rel, 0) = 0 THEN 0.0
             ELSE CAST(p.hits_at_k AS DOUBLE) / i.n_rel END, 6)
             AS recall_at_k,
           round(CASE WHEN p.first_rel IS NULL THEN 0.0
             ELSE 1.0 / p.first_rel END, 6) AS mrr,
           round(CASE WHEN COALESCE(i.idcg, 0) = 0 THEN 0.0
             ELSE CAST(p.dcg AS DOUBLE) / i.idcg END, 6) AS ndcg_at_k
         FROM pq p LEFT JOIN ideal i ON i.query = p.query
         ORDER BY p.query""",
    "t78_quality_filter" ->
      """WITH corpus AS (
           SELECT doc_id, text, 1.0 AS y FROM documents
           UNION ALL
           SELECT doc_id + 9950000, translate(text, 'aeiou', 'qqqqq'), 0.0
           FROM documents WHERE doc_id % 2 = 0),
         w0c AS (SELECT doc_id, y,
           regexp_split_to_array(trim(lower(text)), '\s+') AS lws FROM corpus),
         f AS (SELECT doc_id, y,
           CASE WHEN len(lws) = 0 THEN 0.0
                ELSE 10.0 * len(list_filter(lws, x -> list_contains(
                  ['the','and','of','to','in','is','that','it','for','with'], x)))
                  / len(lws) END AS x1,
           CASE WHEN len(lws) = 0 THEN 0.0
                ELSE 10.0 * len(list_filter(lws, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','at','by','be','this','are','was'], x)))
                  / len(lws) END AS x2
           FROM w0c),
         p AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
         i1 AS (SELECT
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(0.0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x1 + 0.0 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p),
         i2 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i1 w GROUP BY w.w0, w.w1, w.w2),
         i3 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i2 w GROUP BY w.w0, w.w1, w.w2),
         i4 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i3 w GROUP BY w.w0, w.w1, w.w2),
         i5 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i4 w GROUP BY w.w0, w.w1, w.w2),
         i6 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i5 w GROUP BY w.w0, w.w1, w.w2),
         i7 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i6 w GROUP BY w.w0, w.w1, w.w2),
         i8 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i7 w GROUP BY w.w0, w.w1, w.w2),
         i9 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i8 w GROUP BY w.w0, w.w1, w.w2),
         i10 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i9 w GROUP BY w.w0, w.w1, w.w2),
         i11 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i10 w GROUP BY w.w0, w.w1, w.w2),
         i12 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i11 w GROUP BY w.w0, w.w1, w.w2),
         i13 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i12 w GROUP BY w.w0, w.w1, w.w2),
         i14 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i13 w GROUP BY w.w0, w.w1, w.w2),
         i15 AS (SELECT
             ROUND(w.w0 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * 1.0) / MAX(p.n), 6) AS w0,
             ROUND(w.w1 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1) / MAX(p.n), 6) AS w1,
             ROUND(w.w2 - 2.0 * SUM((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2) / MAX(p.n), 6) AS w2
           FROM f, p, i14 w GROUP BY w.w0, w.w1, w.w2),
         sc AS (SELECT f.doc_id,
           ROUND(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))), 6) AS score
           FROM f, i15 w)
         SELECT doc_id, score FROM sc WHERE score >= 0.5 ORDER BY doc_id""",
    "t76_curriculum" ->
      """WITH w AS (SELECT doc_id, n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw
           FROM documents),
         p AS (SELECT doc_id, (n_chars * 1000) // nw AS proxy
               FROM w WHERE nw > 0),
         r AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY proxy, doc_id) AS BIGINT) AS rank
           FROM p)
         SELECT doc_id, rank,
           CAST((rank - 1) % 4 AS BIGINT) AS shard,
           CAST((rank - 1) // 4 AS BIGINT) AS position
         FROM r ORDER BY doc_id""",
    // keyed cumsum (CAST - the r16 lesson), priority-desc draw order,
    // budget CASE over the source vocabulary, prefix cut
    // the full water-filling replay: cap-grain level walk, bracket
    // selection, milli-epoch integer λ, per-source min(cap, λ) and the
    // floor-division allocations
    "t109_epoch_waterfill" ->
      """WITH src AS (SELECT 's' || (doc_id % 6) AS source,
             CAST(sum(n_chars) AS BIGINT) AS tokens,
             CAST((doc_id % 6) % 4 + 1 AS BIGINT) AS cap
           FROM documents GROUP BY doc_id % 6),
         lv AS (SELECT cap, CAST(sum(tokens) AS BIGINT) AS ltok
                FROM src GROUP BY cap),
         wd AS (SELECT cap, ltok,
             CAST(sum(ltok * cap) OVER (ORDER BY cap) AS BIGINT) AS scum,
             CAST(sum(ltok) OVER (ORDER BY cap) AS BIGINT) AS tpre,
             CAST((SELECT sum(tokens) FROM src) AS BIGINT) AS T
           FROM lv),
         br AS (SELECT least(cap * 1000,
               (250000 - (scum - ltok * cap)) * 1000
                 // (T - tpre + ltok)) AS lam
           FROM wd WHERE scum + (T - tpre) * cap >= 250000
           ORDER BY cap LIMIT 1),
         lam AS (SELECT CAST(COALESCE((SELECT lam FROM br),
             (SELECT max(cap) * 1000 FROM src)) AS BIGINT) AS lam)
         SELECT source, tokens, cap AS cap_epochs,
           CAST(least(cap * 1000, lam) AS BIGINT) AS epochs_milli,
           CAST(tokens * least(cap * 1000, lam) // 1000 AS BIGINT)
             AS alloc_tokens,
           cap * 1000 <= lam AS saturated
         FROM src, lam ORDER BY source""",
    // the t109 waterfill CTE, then the resample rule per doc:
    // copies = em DIV 1000 + [doc_id mod 1000 < em mod 1000] — the
    // materialized trainer stream's row and token mass per source
    "t110_epoch_draw" ->
      """WITH src AS (SELECT 's' || (doc_id % 6) AS source,
             CAST(sum(n_chars) AS BIGINT) AS tokens,
             CAST((doc_id % 6) % 4 + 1 AS BIGINT) AS cap
           FROM documents GROUP BY doc_id % 6),
         lv AS (SELECT cap, CAST(sum(tokens) AS BIGINT) AS ltok
                FROM src GROUP BY cap),
         wd AS (SELECT cap, ltok,
             CAST(sum(ltok * cap) OVER (ORDER BY cap) AS BIGINT) AS scum,
             CAST(sum(ltok) OVER (ORDER BY cap) AS BIGINT) AS tpre,
             CAST((SELECT sum(tokens) FROM src) AS BIGINT) AS T
           FROM lv),
         br AS (SELECT least(cap * 1000,
               (250000 - (scum - ltok * cap)) * 1000
                 // (T - tpre + ltok)) AS lam
           FROM wd WHERE scum + (T - tpre) * cap >= 250000
           ORDER BY cap LIMIT 1),
         lam AS (SELECT CAST(COALESCE((SELECT lam FROM br),
             (SELECT max(cap) * 1000 FROM src)) AS BIGINT) AS lam),
         fill AS (SELECT source, tokens, cap AS cap_epochs,
             CAST(least(cap * 1000, lam) AS BIGINT) AS epochs_milli,
             CAST(tokens * least(cap * 1000, lam) // 1000 AS BIGINT)
               AS alloc_tokens,
             cap * 1000 <= lam AS saturated
           FROM src, lam),
         docs AS (SELECT doc_id, n_chars, 's' || (doc_id % 6) AS source
           FROM documents),
         dr AS (SELECT d.source,
             f.epochs_milli // 1000 +
               CASE WHEN d.doc_id % 1000 < f.epochs_milli % 1000
                    THEN 1 ELSE 0 END AS copies,
             d.n_chars
           FROM docs d JOIN fill f USING (source))
         SELECT f.source, f.tokens AS unique_tokens, f.cap_epochs,
           f.epochs_milli, f.alloc_tokens, f.saturated,
           CAST(sum(dr.copies) AS BIGINT) AS n_draw_rows,
           CAST(sum(dr.copies * dr.n_chars) AS BIGINT) AS drawn_tokens
         FROM fill f JOIN dr ON dr.source = f.source
         GROUP BY f.source, f.tokens, f.cap_epochs, f.epochs_milli,
           f.alloc_tokens, f.saturated
         ORDER BY f.source""",
    "t77_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(doc_id % 7 AS BIGINT) AS priority,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
           FROM documents),
         b AS (SELECT source,
             CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2500
                  WHEN 'src2' THEN 1500 ELSE 800 END AS budget
           FROM (SELECT DISTINCT source FROM documents)),
         w AS (SELECT d.doc_id, d.source, d.tokens,
             CAST(sum(d.tokens) OVER (PARTITION BY d.source
               ORDER BY d.priority DESC, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens,
             CAST(row_number() OVER (PARTITION BY d.source
               ORDER BY d.priority DESC, d.doc_id) AS BIGINT) AS fill_seq,
             b.budget
           FROM d JOIN b USING (source))
         SELECT doc_id, source, tokens, fill_seq, cum_tokens FROM w
         WHERE cum_tokens <= budget ORDER BY doc_id""",
    "t74_doremi_mix" ->
      """WITH s AS (SELECT doc_id, source,
             CAST(n_chars % 97 AS DOUBLE) / 10 AS sc FROM documents),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             round(avg(sc), 6) AS m FROM s GROUP BY source),
         g AS (SELECT round(CAST(sum(n * m) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE), 6) AS gm,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS k FROM c),
         e AS (SELECT source, n,
             round(exp(1.0 * greatest(0, round(m - gm, 6))), 6) AS u
           FROM c, g),
         z AS (SELECT CAST(sum(u) AS DOUBLE) AS zz FROM e),
         a AS (SELECT source, n,
             round((1 - 0.01) * round(u / zz, 6) + 0.01 / k, 6) AS alpha
           FROM e, z, g),
         w AS (SELECT source, n,
             round(alpha * total / n, 6) AS w FROM a, g),
         r AS (SELECT source, CAST(floor(w) AS BIGINT) AS fullc,
             CAST(round((w - floor(w)) * 1000, 0) AS BIGINT) AS extra
           FROM w),
         cp AS (SELECT d.doc_id, d.source,
             fullc + (CASE WHEN d.doc_id % 1000 < extra THEN 1 ELSE 0 END)
               AS copies
           FROM documents d JOIN r USING (source))
         SELECT doc_id, source, unnest(range(0, copies)) AS copy
         FROM cp ORDER BY doc_id, copy""",
    "e1_quantize" ->
      """WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mx AS (SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS mxv FROM m)
         SELECT vec_id, mxv/127.0 AS scale,
           array_to_string([CASE WHEN mxv = 0 THEN 0
                 ELSE CAST(floor(x*127.0/mxv + 0.5) AS INT) END for x in v], ',')
             AS qvec_str
         FROM mx ORDER BY vec_id""",
    "e2_l2norm" ->
      """WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
           FROM m)
         SELECT vec_id, nrm AS norm, CAST(i - 1 AS INT) AS pos,
           CASE WHEN nrm = 0 THEN 0.0 ELSE v[i]/nrm END AS val
         FROM n, UNNEST(range(1, len(v)+1)) AS t(i)
         ORDER BY vec_id, pos""",
    "e3_meanpool" ->
      """WITH x AS (SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
           FROM embeddings)
         SELECT label, pos, round(avg(val), 6) AS v
         FROM x GROUP BY label, pos ORDER BY label, pos""",
    // replay the projection from the persisted components: the dot product
    // is the same sequential double sum in both engines, so no rounding
    "e4_pca" ->
      """SELECT e.vec_id, f.pc,
           list_dot_product(e.embedding, f.comp) - f.mean_dot AS coord
         FROM embeddings e,
           read_parquet('/tmp/graft_fixtures/pca_model.parquet/*.parquet') f
         ORDER BY e.vec_id, f.pc""",
    // every z replayed from the persisted model: one subtract, one divide
    "e6_standardize" ->
      """WITH m AS (SELECT mean, std FROM
             read_parquet('/tmp/graft_fixtures/std_model.parquet/*.parquet')),
         x AS (SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS INT) AS i,
             unnest(embedding) AS v
           FROM embeddings)
         SELECT x.vec_id, x.i - 1 AS pos,
           CASE WHEN m.std[x.i] = 0 THEN 0.0
                ELSE (CAST(x.v AS DOUBLE) - m.mean[x.i]) / m.std[x.i] END AS z
         FROM x, m ORDER BY vec_id, pos""",
    "st3_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS to microseconds,
    // matching the engine's nanos->micros shim, so boundary rows agree
    "st5_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id
         FROM e c JOIN e v
           ON v.user_id = c.user_id
          AND c.event_type = 'click' AND v.event_type = 'view'
          AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
         ORDER BY click_id, view_id""",
    // the left-outer st5: watermark-proven unmatched clicks null-extend
    "st15_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id
         FROM (SELECT * FROM e WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
           ON v.user_id = c.user_id
          AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
         ORDER BY click_id, view_id""",
    "st6_stream_partitioned_sink" ->
      """SELECT event_id, user_id, value, event_type FROM events
         ORDER BY event_id""",
    // identical semantics to as1, executed over the STREAM
    "st7_stream_asof" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""",
    // replay the gate batch-by-batch: batch 1 gated against the corpus
    // index, its survivors appended, batch 2 gated against the grown index
    "st8_stream_ingest_gate" ->
      """WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
         b1 AS (
           SELECT doc_id + 5000000 AS new_id, text FROM seed
           UNION ALL
           SELECT doc_id + 6000000,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) FROM seed),
         b2 AS (
           SELECT doc_id + 7000000 AS new_id,
                  'junka junkb junkc ' || CAST(doc_id AS VARCHAR) AS text FROM seed
           UNION ALL
           SELECT doc_id + 8000000,
                  'novelq novelr novels ' || CAST(doc_id AS VARCHAR) FROM seed),
         sh1 AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM b1)),
         sh2 AS (SELECT new_id,
                   list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT new_id, regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM b2)),
         shc AS (SELECT list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                     ELSE list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS s
                 FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
                       FROM documents)),
         m1 AS (SELECT DISTINCT a.new_id FROM sh1 a, shc c
                WHERE CAST(len(list_intersect(a.s, c.s)) AS DOUBLE)
                  / len(list_distinct(a.s || c.s)) >= 0.8),
         k1 AS (SELECT new_id, s FROM sh1
                WHERE new_id NOT IN (SELECT new_id FROM m1)),
         idx1 AS (SELECT s FROM shc UNION ALL SELECT s FROM k1),
         m2 AS (SELECT DISTINCT a.new_id FROM sh2 a, idx1 i
                WHERE CAST(len(list_intersect(a.s, i.s)) AS DOUBLE)
                  / len(list_distinct(a.s || i.s)) >= 0.8)
         SELECT new_id,
           (new_id NOT IN (SELECT new_id FROM m1)
            AND new_id NOT IN (SELECT new_id FROM m2)) AS kept
         FROM (SELECT new_id FROM b1 UNION ALL SELECT new_id FROM b2)
         ORDER BY new_id""",
    "st4_stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment, event_type""",
    "m3_video" ->
      """SELECT doc_id,
         CAST(doc_id % 1920 + 16 AS INT) AS width,
         CAST((doc_id * 3) % 1080 + 16 AS INT) AS height,
         CAST(doc_id % 100000 + 1000 AS BIGINT) AS duration_ms,
         'mp4' AS format
         FROM documents ORDER BY doc_id""",
    // frame timing = ticks·1000 div movie timescale; checksum = the
    // closed-form byte sum — both pure functions of doc_id
    "m10_frame_sample" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents WHERE doc_id < 20),
         fr AS (SELECT d.doc_id, d.fs, d.tsc, d.delta,
               CAST(f.f AS INT) AS frame_idx
             FROM d, UNNEST(range(0, d.nf)) f(f) WHERE f.f % 3 = 0)
         SELECT doc_id, frame_idx,
           CAST((frame_idx * delta * 1000) // tsc AS BIGINT) AS ts_ms,
           fs AS size,
           CAST((SELECT SUM((fr.doc_id + fr.frame_idx * 31 + j.j * 7) % 256)
             FROM UNNEST(range(0, fr.fs)) j(j)) AS BIGINT) AS byte_sum
         FROM fr ORDER BY doc_id, frame_idx""",
    // all four modality clusterings replayed in closed form, then joined
    "d17_multimodal_dedup" ->
      """WITH txt AS (SELECT doc_id, md5(text) AS k FROM documents),
         tg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS text_dups
           FROM txt GROUP BY k),
         t2 AS (SELECT doc_id, text_dups FROM txt JOIN tg USING (k)),
         idm AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         ig AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM idm d, UNNEST(range(0, 72)) AS p(p)),
         ib AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM ig a JOIN ig c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         ih AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END)
               AS BIGINT) AS lo
           FROM ib GROUP BY doc_id),
         igr AS (SELECT hi, lo, CAST(COUNT(*) AS BIGINT) AS image_dups
           FROM ih GROUP BY hi, lo),
         i2 AS (SELECT doc_id, image_dups FROM ih JOIN igr USING (hi, lo)),
         adm AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         asm AS (SELECT doc_id, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM adm, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         ab AS (SELECT a.doc_id, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM asm a JOIN asm c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         ah AS (SELECT doc_id,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS lo
           FROM ab GROUP BY doc_id),
         agr AS (SELECT hi, lo, CAST(COUNT(*) AS BIGINT) AS audio_dups
           FROM ah GROUP BY hi, lo),
         a2 AS (SELECT doc_id, audio_dups FROM ah JOIN agr USING (hi, lo)),
         vdm AS (SELECT doc_id, CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents),
         vfr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS fi,
             (f.f * delta * 1000) // tsc AS ts_ms, fs
           FROM vdm, UNNEST(range(0, nf)) f(f)),
         vsq AS (SELECT doc_id,
             string_agg(CAST(fi AS VARCHAR) || ':' ||
               CAST(ts_ms AS VARCHAR) || ':' || CAST(fs AS VARCHAR),
               ',' ORDER BY fi) AS sig
           FROM vfr GROUP BY doc_id),
         vh AS (SELECT doc_id, md5(sig) AS k FROM vsq),
         vgr AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS video_dups
           FROM vh GROUP BY k),
         v2 AS (SELECT doc_id, video_dups FROM vh JOIN vgr USING (k))
         SELECT t2.doc_id, t2.text_dups, i2.image_dups, a2.audio_dups,
           v2.video_dups
         FROM t2 JOIN i2 USING (doc_id) JOIN a2 USING (doc_id)
           JOIN v2 USING (doc_id)
         ORDER BY t2.doc_id""",
    "m13_video_fingerprint" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 30 + 5 AS INT) AS nf,
             CAST(doc_id % 50 + 20 AS INT) AS fs,
             1000 * (doc_id % 3 + 1) AS tsc, 40 * (doc_id % 2 + 1) AS delta
           FROM documents),
         fr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS fi,
             (f.f * delta * 1000) // tsc AS ts_ms, fs
           FROM d, UNNEST(range(0, nf)) f(f)),
         seqs AS (SELECT doc_id,
             string_agg(CAST(fi AS VARCHAR) || ':' ||
               CAST(ts_ms AS VARCHAR) || ':' || CAST(fs AS VARCHAR),
               ',' ORDER BY fi) AS sig
           FROM fr GROUP BY doc_id),
         h AS (SELECT doc_id, md5(sig) AS vfp FROM seqs),
         g AS (SELECT vfp, CAST(COUNT(*) AS BIGINT) AS group_size
           FROM h GROUP BY vfp)
         SELECT h.doc_id, h.vfp, g.group_size FROM h JOIN g USING (vfp)
         ORDER BY h.doc_id""",
    "q48_time_rollup" ->
      """SELECT EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)) AS y,
           EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)) AS m,
           EXTRACT(DAY FROM CAST(ts AS TIMESTAMP)) AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY ROLLUP (
           EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)),
           EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)),
           EXTRACT(DAY FROM CAST(ts AS TIMESTAMP)))
         ORDER BY y NULLS FIRST, m NULLS FIRST, d NULLS FIRST""",
    // decimated index j maps to source sample j*7 of the closed form
    "m9_audio_decimate" ->
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents
                    WHERE doc_id < 20),
         s AS (SELECT doc_id, CAST(n AS BIGINT) AS n_in, CAST(j AS BIGINT) AS j,
               CAST(((doc_id * 131 + (j * 7) * 31) % 65536) - 32768 AS BIGINT) AS v
               FROM d, UNNEST(range(0, (n + 6) // 7)) AS t(j))
         SELECT doc_id, n_in, j, v FROM s ORDER BY doc_id, j""",
    "m12_audio_fingerprint" ->
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, CAST(n AS BIGINT) AS n_in, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM d, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         b AS (SELECT a.doc_id, a.n_in, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM s a JOIN s c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         hsh AS (SELECT doc_id, CAST(max(n_in) AS BIGINT) AS n_in,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS hash_lo
           FROM b GROUP BY doc_id),
         grp AS (SELECT hash_hi, hash_lo,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hash_hi, hash_lo)
         SELECT h.doc_id, h.n_in, h.hash_hi, h.hash_lo, g.group_size
         FROM hsh h JOIN grp g USING (hash_hi, hash_lo)
         ORDER BY h.doc_id""",
    // m12's closed-form fingerprints -> brute-force Hamming<=2 pairs
    "m15_audio_dedup_join" ->
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, j,
             CAST(((doc_id * 131 + (j * 3) * 31) % 65536) - 32768 AS BIGINT) AS v
           FROM d, UNNEST(range(0, (n + 2) // 3)) AS t(j)),
         b AS (SELECT a.doc_id, a.j,
             CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
           FROM s a JOIN s c ON a.doc_id = c.doc_id AND c.j = a.j + 1
           WHERE a.j < 64),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN j >= 32
               THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END)
               AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN j < 32
               THEN CAST(bit AS BIGINT) << j ELSE 0 END)
               AS BIGINT) AS lo
           FROM b GROUP BY doc_id),
         sig AS (SELECT hi, lo, MIN(doc_id) AS rep_id,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hi, lo)
         SELECT a.rep_id AS id_a, c.rep_id AS id_b,
           CAST(bit_count(xor(a.hi, c.hi))
              + bit_count(xor(a.lo, c.lo)) AS INT) AS hamming,
           a.group_size AS size_a, c.group_size AS size_b
         FROM sig a JOIN sig c ON a.rep_id < c.rep_id
         WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 2
         ORDER BY id_a, id_b""",
    "m5_audio_pcm" ->
      """WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
         s AS (SELECT doc_id, ((doc_id * 131 + i * 31) % 65536) - 32768 AS v
               FROM d, UNNEST(range(0, n)) AS t(i))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_amp,
           SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms
         FROM s GROUP BY doc_id ORDER BY doc_id""",
    "m2_audio" ->
      """SELECT doc_id,
         CAST(8000 * (doc_id % 3 + 1) AS INT) AS sample_rate,
         CAST(doc_id % 2 + 1 AS INT) AS channels,
         CAST(CASE doc_id % 2 WHEN 0 THEN 16 ELSE 24 END AS INT) AS bits,
         CAST(doc_id % 1000 + 1 AS BIGINT) AS n_samples,
         'wav' AS format
         FROM documents ORDER BY doc_id""",
    "m1_multimodal" ->
      """SELECT doc_id,
         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 13
              WHEN 2 THEN 54 ELSE 21 END AS BIGINT) AS byte_len,
         CAST(doc_id % 640 + 1 AS INT) AS width,
         CAST((doc_id * 7) % 480 + 1 AS INT) AS height,
         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 4 ELSE 3 END AS INT) AS channels,
         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
              WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format
         FROM documents ORDER BY doc_id""",
    // recompute the decoded stats from the fixture's closed-form pixel
    // value (seed + x*3 + y*5 + c*11) mod 256 over a generated grid
    // every thumbnail pixel replayed: position → (xo, yo, c) → integer
    // NN source index → closed-form pattern value
    "m8_resize" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) AS nc
           FROM documents WHERE doc_id < 20),
         px AS (SELECT d.doc_id, d.width, d.height, d.nc,
               CAST(p.p AS BIGINT) AS pos,
               (p.p // d.nc) % 4 AS xo, p.p // (4 * d.nc) AS yo, p.p % d.nc AS c
             FROM d, UNNEST(range(0, 16 * d.nc)) AS p(p))
         SELECT doc_id, width, height, nc AS channels, pos,
           CAST((doc_id + ((xo * width) // 4) * 3 + ((yo * height) // 4) * 5
             + c * 11) % 256 AS BIGINT) AS v
         FROM px ORDER BY doc_id, pos""",
    // closed-form replay of decode → 9×8 NN thumbnail → ITU-601 gray →
    // gradient bits; same construction arithmetic as m8's oracle
    "m11_image_dhash" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hash_hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS hash_lo
           FROM b GROUP BY doc_id),
         grp AS (SELECT hash_hi, hash_lo,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hash_hi, hash_lo)
         SELECT hsh.doc_id, hsh.hash_hi, hsh.hash_lo, grp.group_size
         FROM hsh JOIN grp USING (hash_hi, hash_lo)
         ORDER BY hsh.doc_id""",
    // both embedded images' dHashes replayed in closed form: the flate
    // leg from the raw-sample formula (m11's machinery), the DCT leg
    // from the JPEG's exact flat-block decode (m6's closed form, R=G=B
    // so gray == the block value)
    "m20_pdf_images" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w1,
             CAST(doc_id % 11 + 4 AS INT) AS h1,
             CAST(doc_id % 23 + 4 AS INT) AS w2,
             CAST(doc_id % 19 + 4 AS INT) AS h2
           FROM documents),
         g AS (
           SELECT doc_id, 0 AS image_ix, w1 AS width, h1 AS height,
             'flate' AS filter, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5) % 256)
            + 587 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5 + 11) % 256)
            + 114 * ((doc_id + ((p.p % 9) * w1 // 9) * 3
                      + ((p.p // 9) * h1 // 8) * 5 + 22) % 256)) // 1000
               AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)
           UNION ALL
           SELECT doc_id, 1, w2, h2, 'dct', p.p % 9, p.p // 9,
             16 + ((doc_id + (((p.p % 9) * w2 // 9) // 8) * 3
                    + (((p.p // 9) * h2 // 8) // 8) * 5) % 224)
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.image_ix, a.width, a.height, a.filter,
             a.x, a.y, CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c ON a.doc_id = c.doc_id
             AND a.image_ix = c.image_ix AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8)
         SELECT doc_id, CAST(image_ix AS INT) AS image_ix, width, height,
           CAST(3 AS INT) AS channels, filter,
           CAST(SUM(CASE WHEN y * 8 + x >= 32
             THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
             ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(SUM(CASE WHEN y * 8 + x < 32
             THEN CAST(bit AS BIGINT) << (y * 8 + x)
             ELSE 0 END) AS BIGINT) AS hash_lo
         FROM b GROUP BY doc_id, image_ix, width, height, filter
         ORDER BY doc_id, image_ix""",
    // cross-format: PNG-side and PDF-flate-side hashes share one closed
    // form, so the exact-hash join's per-doc match count IS the m11
    // duplicate-group size — replayed once and self-joined
    "m21_crossformat_dedup" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pdf_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    // every planted EXIF tag in closed form, the microdegree integer
    // arithmetic included; the scrub flags are constants BY CONTRACT
    // (exif gone, pixels bit-identical) — a strip that damaged the
    // entropy stream or left the segment flips them and goes red
    "m23_exif" ->
      """SELECT doc_id,
           CAST(doc_id % 8 + 1 AS INT) AS orientation,
           '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || ' 12:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
             || ':00' AS date_time,
           'cam' || (doc_id % 5) AS make,
           doc_id % 3 = 0 AS has_gps,
           CASE WHEN doc_id % 3 = 0
             THEN CAST((doc_id % 90) * 1000000 AS BIGINT) END AS lat_micro,
           CASE WHEN doc_id % 3 = 0
             THEN CAST((doc_id % 180) * 1000000 AS BIGINT) END AS lon_micro,
           true AS exif_gone,
           'scrubbed' AS scrub_status,
           'clean' AS restrip_status,
           'ok' AS parse_status,
           true AS pixels_intact
         FROM documents ORDER BY doc_id""",
    // the normalized hashes equal the upright closed form BY THE
    // TRANSFORM'S CORRECTNESS — the oracle replays the m21 hash CTE on
    // both sides, the join (collisions included) and the orientation
    "m24_oriented_dedup" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CAST(a.doc_id % 8 + 1 AS INT) AS orientation,
           CAST(count(*) AS BIGINT) AS n_png_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    // the m6 flat-block closed form (gray = blockVal at the 9x8
    // sample grid — R=G=B=Y for color, identity for grayscale, so ONE
    // formula covers every variant) on BOTH sides of the
    // progressive-vs-baseline join, collisions included; the constant
    // format pins that the SOF2 decode path actually ran
    "m25_progressive_dedup" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             16 + ((d.doc_id
                    + (((p.p % 9) * d.w // 9) // 8) * 3
                    + (((p.p // 9) * d.h // 8) // 8) * 5) % 224) AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id, 'jpeg_progressive' AS format,
           CAST(count(*) AS BIGINT) AS n_baseline_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    // the upright flat-block closed form at 8-multiple dims on BOTH
    // sides of the oriented-vs-upright join: normalization must
    // reproduce the upright image exactly, so the normalized hash
    // equals the upright closed form; orientation pins the EXIF parse
    "m26_oriented_jpeg" ->
      """WITH d AS (SELECT doc_id,
             CAST(8 * (doc_id % 3 + 1) AS INT) AS w,
             CAST(8 * (doc_id % 2 + 1) AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             16 + ((d.doc_id
                    + (((p.p % 9) * d.w // 9) // 8) * 3
                    + (((p.p // 9) * d.h // 8) // 8) * 5) % 224) AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CAST(a.doc_id % 8 + 1 AS INT) AS orientation,
           'jpeg_oriented' AS format,
           CAST(count(*) AS BIGINT) AS n_upright_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    // every planted WebP header field in closed form by doc residue:
    // lossless dims on evens, the full lossy key-frame header on odds
    // (VP8X canvas on the id%8==5 subset)
    "m27_webp_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'lossless' ELSE 'lossy' END
             AS kind,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 13 + 4
                ELSE doc_id % 977 + 16 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 11 + 4
                ELSE (doc_id * 3) % 761 + 16 END AS INT) AS height,
           doc_id % 8 = 5 OR doc_id % 3 = 0 AS extended,
           CAST(CASE WHEN doc_id % 8 = 5 OR doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 13 + 4
                  ELSE doc_id % 977 + 16 END END AS INT) AS canvas_w,
           CAST(CASE WHEN doc_id % 8 = 5 OR doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 11 + 4
                  ELSE (doc_id * 3) % 761 + 16 END END AS INT)
             AS canvas_h,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 4 END AS INT)
             AS version,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 128 END AS INT)
             AS y_ac_qi,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 15 - 7 END AS INT)
             AS y_dc_delta,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 9 - 4 END AS INT)
             AS uv_ac_delta,
           CAST(CASE WHEN doc_id % 2 = 1 THEN (doc_id // 2) % 2 END
             AS INT) AS filter_type,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 64 END AS INT)
             AS filter_level,
           CAST(CASE WHEN doc_id % 2 = 1 THEN doc_id % 8 END AS INT)
             AS sharpness,
           CAST(CASE WHEN doc_id % 2 = 1 THEN
             CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                  ELSE 8 END END AS INT) AS token_partitions
         FROM documents ORDER BY doc_id""",
    // planted WebP-EXIF fields + the scrub contract in closed form:
    // id%3==0 carries EXIF (both wild payload forms), GPS on id%9==0
    // with the m23 exactly-dividing microdegrees; post-strip EXIF is
    // gone everywhere and lossless pixels hash identically
    "m28_webp_exif" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'lossless' ELSE 'lossy' END
             AS kind,
           doc_id % 3 = 0 AS has_exif,
           CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 8 + 1 END AS INT)
             AS exif_orientation,
           CASE WHEN doc_id % 3 = 0 THEN doc_id % 9 = 0 END
             AS exif_has_gps,
           CAST(CASE WHEN doc_id % 9 = 0
             THEN (doc_id % 90) * 1000000 END AS BIGINT)
             AS exif_lat_micro,
           CAST(CASE WHEN doc_id % 9 = 0
             THEN (doc_id % 180) * 1000000 END AS BIGINT)
             AS exif_lon_micro,
           CASE WHEN doc_id % 3 = 0 THEN 'scrubbed' ELSE 'clean' END
             AS scrub_status,
           true AS exif_gone,
           CASE WHEN doc_id % 2 = 0 THEN true END AS pixels_intact
         FROM documents ORDER BY doc_id""",
    // every planted MP3 header field by residue — the bitrate and
    // sample-rate tables inline as lists, the frame-walk duration in
    // integer arithmetic
    "m29_mp3_meta" ->
      """WITH d AS (SELECT doc_id,
             doc_id % 3 AS vr, (doc_id // 3) % 3 AS rix,
             doc_id % 14 + 1 AS bix, doc_id % 50 + 5 AS nf
           FROM documents),
         e AS (SELECT doc_id,
             CASE vr WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END
               AS version,
             CAST(CASE WHEN vr = 0
               THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,
                      320])[bix]
               ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,
                      160])[bix]
               END AS INT) AS bitrate_kbps,
             CAST(CASE vr
               WHEN 0 THEN ([44100,48000,32000])[rix + 1]
               WHEN 1 THEN ([22050,24000,16000])[rix + 1]
               ELSE ([11025,12000,8000])[rix + 1] END AS INT)
               AS sample_rate,
             CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT)
               AS channels,
             CAST(nf AS BIGINT) AS frames,
             CASE WHEN vr = 0 THEN 1152 ELSE 576 END AS spf
           FROM d)
         SELECT doc_id, version, bitrate_kbps, sample_rate, channels,
           frames,
           CAST(frames * spf * 1000 // sample_rate AS BIGINT)
             AS duration_ms,
           doc_id % 5 = 0 AS vbr,
           doc_id % 3 = 0 AS has_id3
         FROM e ORDER BY doc_id""",
    // planted GIF animation structure by residue: uniform per-frame
    // delays sum in closed form, loops on the id%4==0 subset
    "m30_gif_anim" ->
      """SELECT doc_id,
           CAST(doc_id % 300 + 10 AS INT) AS width,
           CAST(doc_id % 200 + 10 AS INT) AS height,
           CAST(doc_id % 20 + 1 AS INT) AS frames,
           doc_id % 20 + 1 > 1 AS animated,
           CAST((doc_id % 20 + 1) * (doc_id % 30 + 2) AS BIGINT)
             AS total_delay_cs,
           CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 10 END AS INT)
             AS loop_count
         FROM documents ORDER BY doc_id""",
    // m21's closed-form dHash on BOTH sides of the web-format join:
    // the GIF/WebP re-encodes carry pixel-identical images, so their
    // hashes equal the PNG side's closed form; the exact-hash join
    // (collisions included) and the format labels replay exactly
    "m22_webformat_dedup" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id)
         SELECT a.doc_id,
           CASE WHEN a.doc_id % 2 = 0 THEN 'gif' ELSE 'webp' END AS format,
           CAST(count(*) AS BIGINT) AS n_png_matches
         FROM hsh a JOIN hsh p ON p.hi = a.hi AND p.lo = a.lo
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    // m11's closed-form hashes -> BRUTE-FORCE Hamming<=3 pairs: the
    // 4x16 pigeonhole banding must lose nothing and duplicate nothing
    "m14_image_dedup_join" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS w,
             CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         g AS (SELECT d.doc_id, p.p % 9 AS x, p.p // 9 AS y,
             (299 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5) % 256)
            + 587 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 11) % 256)
            + 114 * ((d.doc_id + ((p.p % 9) * d.w // 9) * 3
                      + ((p.p // 9) * d.h // 8) * 5 + 22) % 256)) // 1000
             AS gray
           FROM d, UNNEST(range(0, 72)) AS p(p)),
         b AS (SELECT a.doc_id, a.x, a.y,
             CASE WHEN a.gray < c.gray THEN 1 ELSE 0 END AS bit
           FROM g a JOIN g c
             ON a.doc_id = c.doc_id AND a.y = c.y AND c.x = a.x + 1
           WHERE a.x < 8),
         hsh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN y * 8 + x >= 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x - 32)
               ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN y * 8 + x < 32
               THEN CAST(bit AS BIGINT) << (y * 8 + x)
               ELSE 0 END) AS BIGINT) AS lo
           FROM b GROUP BY doc_id),
         sig AS (SELECT hi, lo, MIN(doc_id) AS rep_id,
             CAST(COUNT(*) AS BIGINT) AS group_size
           FROM hsh GROUP BY hi, lo)
         SELECT a.rep_id AS id_a, c.rep_id AS id_b,
           CAST(bit_count(xor(a.hi, c.hi))
              + bit_count(xor(a.lo, c.lo)) AS INT) AS hamming,
           a.group_size AS size_a, c.group_size AS size_b
         FROM sig a JOIN sig c ON a.rep_id < c.rep_id
         WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
         ORDER BY id_a, id_b""",
    "m4_pixels" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INT) AS nc
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST((d.doc_id + x.x*3 + y.y*5 + c.c*11) % 256 AS BIGINT) AS v
             FROM d,
               generate_series(0, 15) AS x(x),
               generate_series(0, 13) AS y(y),
               generate_series(0, 3) AS c(c)
             WHERE x.x < d.width AND y.y < d.height AND c.c < d.nc)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           CAST(SUM(v) AS DOUBLE) / (width * height) AS mean,
           sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""",
    "m6_jpeg_pixels" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 13 + 4 AS INT) AS width,
             CAST(doc_id % 11 + 4 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS nc
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST(16 + (d.doc_id + (x.x // 8) * 3 + (y.y // 8) * 5) % 224 AS BIGINT) AS v
             FROM d,
               generate_series(0, 15) AS x(x),
               generate_series(0, 13) AS y(y),
               generate_series(0, 2) AS c(c)
             WHERE x.x < d.width AND y.y < d.height AND c.c < d.nc)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           round(CAST(SUM(v) AS DOUBLE) / (width * height), 6) AS mean,
           round(sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)), 6) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""",
    "m7_jpeg_420" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id % 23 + 4 AS INT) AS width,
             CAST(doc_id % 19 + 4 AS INT) AS height
           FROM documents),
         px AS (SELECT d.doc_id, d.width, d.height, c.c AS channel,
               CAST(16 + (d.doc_id + (x.x // 8) * 3 + (y.y // 8) * 5) % 224 AS BIGINT) AS v
             FROM d,
               generate_series(0, 25) AS x(x),
               generate_series(0, 21) AS y(y),
               generate_series(0, 2) AS c(c)
             WHERE x.x < d.width AND y.y < d.height)
         SELECT doc_id, width, height, CAST(channel AS INT) AS channel,
           round(CAST(SUM(v) AS DOUBLE) / (width * height), 6) AS mean,
           round(sqrt(GREATEST(
             CAST(SUM(v*v) AS DOUBLE) / (width * height) -
             (CAST(SUM(v) AS DOUBLE) / (width * height)) *
             (CAST(SUM(v) AS DOUBLE) / (width * height)), 0)), 6) AS std
         FROM px GROUP BY doc_id, width, height, channel
         ORDER BY doc_id, channel""",
    "st11_stream_stateful" ->
      """SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS n_click
         FROM events GROUP BY user_id ORDER BY user_id""",
    "st1_stream_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
    "st2_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '10 minutes'
             THEN 1 ELSE 0 END AS ns FROM e),
         y AS (SELECT user_id, ts,
           SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
         FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // the bloom pre-filter never changes join RESULTS (only shuffle
    // volume), so the truth is the plain join
    "q34_bloom_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
         FROM lineitem l JOIN
           (SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000) o
           ON l.l_orderkey = o.o_orderkey
         ORDER BY l.l_orderkey, l.l_linenumber""",
    // the oracle's one global window over unique instants IS the spec;
    // the engine reaches the same sums through per-day windows + carry
    "q35_concurrency" ->
      """WITH iv AS (SELECT epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value*10) AS BIGINT)*1000000 AS e
           FROM events),
         d AS (SELECT s AS us, 1 AS dd FROM iv
               UNION ALL SELECT e + 1, -1 FROM iv),
         g AS (SELECT us, CAST(SUM(dd) AS BIGINT) AS dd FROM d GROUP BY us)
         SELECT make_timestamp(us) AS ts,
           CAST(SUM(dd) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS active
         FROM g ORDER BY ts""",
    // same lag+running-sum replay as st2, plus the session ordinal, end
    // bound and exact-decimal value total; integer-microsecond gap
    // arithmetic mirrors the operator bit-for-bit
    "q33_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(ts) AS us, value FROM events),
         x AS (SELECT user_id, ts, us, value,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                  <= 21600000000 THEN 0 ELSE 1 END AS ns FROM e),
         y AS (SELECT user_id, ts, value,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM x)
         SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
         FROM y GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "rj1_range_join" ->
      """SELECT e.event_id, COUNT(*) AS n_parts
         FROM (SELECT event_id, value * 1000 AS p FROM events) e
         JOIN (SELECT p_partkey, p_retailprice - 100 AS lo, p_retailprice + 100 AS hi
               FROM part) r
           ON e.p >= r.lo AND e.p <= r.hi
         GROUP BY e.event_id ORDER BY e.event_id""",
    // brute-force interval-overlap theta-join: fragmentation must lose
    // nothing and the canonical-bucket cut must duplicate nothing
    "rj2_interval_join" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             date_diff('day', DATE '1970-01-01', l_shipdate) AS s,
             date_diff('day', DATE '1970-01-01', l_shipdate)
               + l_linenumber * 5 AS e
           FROM lineitem),
         w AS (SELECT CAST(n_nationkey AS BIGINT) AS window_id,
             date_diff('day', DATE '1970-01-01', DATE '1992-01-01')
               + n_nationkey * 100 AS ws,
             date_diff('day', DATE '1970-01-01', DATE '1992-01-01')
               + n_nationkey * 100 + 15 AS we
           FROM nation)
         SELECT window_id, CAST(count(*) AS BIGINT) AS n_in_flight
         FROM li JOIN w ON li.s <= w.we AND w.ws <= li.e
         GROUP BY window_id ORDER BY window_id""",
    // lateral min-|Δt| with the backward-preferring tie rule the
    // operator's recombination applies
    "as4_asof_nearest" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
             ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, n.o_orderkey, n.o_totalprice
         FROM events e LEFT JOIN LATERAL (
           SELECT o_orderkey, o_totalprice FROM r
           WHERE r.o_custkey = e.user_id
           ORDER BY abs(epoch_us(CAST(r.o_orderdate AS TIMESTAMP))
               - epoch_us(CAST(e.ts AS TIMESTAMP))),
             CASE WHEN CAST(r.o_orderdate AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)
               THEN 0 ELSE 1 END
           LIMIT 1) n ON TRUE
         ORDER BY e.event_id""",
    // chained window CTEs: each step's conditional MIN references the
    // previous step's (partition-constant) completion time
    "q38_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS t
                    FROM events),
         s1 AS (SELECT *, MIN(CASE WHEN t = 'view' THEN us END)
                  OVER (PARTITION BY user_id) AS v FROM e),
         s2 AS (SELECT *, MIN(CASE WHEN t = 'click' AND us > v THEN us END)
                  OVER (PARTITION BY user_id) AS c FROM s1),
         s3 AS (SELECT *, MIN(CASE WHEN t = 'purchase' AND us > c THEN us END)
                  OVER (PARTITION BY user_id) AS p FROM s2)
         SELECT DISTINCT user_id,
           CAST((CASE WHEN v IS NULL THEN 0 ELSE 1 END) +
                (CASE WHEN c IS NULL THEN 0 ELSE 1 END) +
                (CASE WHEN p IS NULL THEN 0 ELSE 1 END) AS INT)
             AS steps_completed,
           make_timestamp(v) AS step_1_ts, make_timestamp(c) AS step_2_ts,
           make_timestamp(p) AS step_3_ts
         FROM s3 ORDER BY user_id""",
    // epoch-day integer arithmetic on both sides; offset 0 = cohort size
    "q39_retention" ->
      """WITH d AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day FROM events),
         c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
         SELECT CAST(make_timestamp(c.cohort * 86400000000) AS DATE)
             AS cohort_date,
           d.day - c.cohort AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
         FROM d JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // direct text equality replays the hash-equality status
    "d15_corpus_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
         b AS (SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT 8000000 + i AS doc_id, 'fresh doc' FROM range(10) t(i))
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.text = b.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         ORDER BY doc_id""",
    "q37_debounce" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
         x AS (SELECT event_id, user_id,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) <= 21600000000
             THEN 0 ELSE 1 END AS k FROM e)
         SELECT event_id, user_id FROM x WHERE k = 1 ORDER BY event_id""",
    // whole-vocabulary tf-idf re-derived; identical multiply-then-round
    "t28_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
                    FROM documents),
         tf AS (SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
                FROM w, UNNEST(ws) AS u(term) GROUP BY doc_id, u.term),
         d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         n AS (SELECT CAST(count(*) AS BIGINT) AS N FROM w),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, d.df,
             round(tf.tf * ln(CAST(n.N AS DOUBLE) / d.df), 6) AS score
           FROM tf JOIN d USING (term), n),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS INT) AS rank FROM s)
         SELECT doc_id, term, tf, df, score, rank FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    // the as1 ASOF replay with the staleness mask applied to BOTH payload
    // columns from the matched row's own time (micros, inclusive bound)
    "as5_asof_tolerance" ->
      """WITH r AS (SELECT o_custkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_ts, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
             ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id,
           CASE WHEN r.o_ts IS NOT NULL AND
               epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(r.o_ts)
                 <= 800000000000000
             THEN r.o_orderkey END AS o_orderkey,
           CASE WHEN r.o_ts IS NOT NULL AND
               epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(r.o_ts)
                 <= 800000000000000
             THEN r.o_totalprice END AS o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND CAST(e.ts AS TIMESTAMP) >= r.o_ts
         ORDER BY e.event_id""",
    "as1_asof" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""",
    // identical semantics to as1 — the native plan node must reproduce the
    // composition's results exactly
    "as2_asof_native" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1)
         SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""",
    "as3_asof_sum" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
           FROM orders QUALIFY rn = 1),
         j AS (SELECT e.user_id, r.o_orderkey, r.o_totalprice
           FROM events e ASOF LEFT JOIN r
             ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate)
         SELECT user_id, COUNT(o_orderkey) AS n_matched,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS matched_total
         FROM j GROUP BY user_id ORDER BY user_id""",
    "q20_multijoin" ->
      """SELECT r_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
  )
}
