package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** The benchmark's JVM side: builds one workload's inputs, warms up, runs
  * the workload's op mix in a closed loop for the given seconds, checks
  * every result, and prints its metrics. `perfbench/run.py` builds and
  * launches it; perfbench/README.md describes the metrics.
  *
  * Arguments: `--workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --out DIR --data DIR --cores N [--tiny 1] [--plant OP]`. */
object Main {

  /** One timed pass of the op mix. */
  final case class Pass(ix: Int, traced: Boolean, seconds: Double, startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    val tiny = opt.get("tiny").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogHygiene.silenceBoundedWindowWarn()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    log(s"session ready: $workload seed=$seed seconds=$seconds trace=$trace")

    val pipeline = workload == "pipeline_ops"
    val wl: Workload = workload match {
      case "read_partitioned" => new ReadPartitioned(spark, seed, tiny)
      case "ingest_cycle" => new IngestCycle(spark, seed, tiny, opt("data"))
      case "pipeline_ops" => new PipelineOps(spark, seed, tiny, opt("data"), s"$work/check")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(false)
    val runner = new Runner(spark, tracer, opt.get("plant"))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)

    // ---- set-up: inputs built three times into fresh directories (the
    // median is kept), expectations, warm-up passes (the first also writes
    // the pipeline_ops outputs for the oracle check)
    val prepS = (1 to 3).map { i =>
      if (i > 1) LocalFiles.delete(s"$work/input${i - 1}")
      time(wl.prepare(s"$work/input$i"))
    }
    log("inputs built")
    val expectS = time(wl.expectations())
    runner.pass = -1
    val warmS = time((1 to wl.warmPasses).foreach { _ => wl.pass(runner); wl.afterPass() })
    log("warm-up done")
    put("setup_s", sessionS + Stats.median(prepS) + expectS + warmS, "s")
    put("setup.session_s", sessionS, "s")
    put("setup.inputs_s", Stats.median(prepS), "s")
    put("setup.expectations_s", expectS, "s")
    put("setup.warmup_s", warmS, "s")

    // ---- timed region: whole passes, as many as fit in `seconds` of pass
    // time judged by the last pass (at least one; two in a traced run). A traced run
    // alternates untraced and traced passes, so JIT warm-up that is still
    // going on weighs on both alike.
    System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val exec = new ExecListener
    val writes = new WriteListener
    val passes = mutable.ArrayBuffer.empty[Pass]
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(writes)
    }
    reference(spark, opt("data")) // warms the yardstick up
    val refs = mutable.ArrayBuffer.empty[Double]
    def runPass(): Unit = {
      runner.pass = passes.size
      tracer.enabled = trace && runner.pass % 2 == 1
      runner.writeListener = if (tracer.enabled) Some(writes) else None
      val startMs = System.currentTimeMillis()
      val dt = time(tracer.span(s"pass ${runner.pass}", "bench")(wl.pass(runner)))
      passes += Pass(runner.pass, tracer.enabled, dt, startMs, System.currentTimeMillis())
      wl.afterPass()
      log(f"pass ${runner.pass}: $dt%.3fs (traced=${tracer.enabled})")
      refs += reference(spark, opt("data"))
    }
    def measured = passes.map(_.seconds).sum
    do runPass() while (measured + passes.last.seconds <= seconds || (trace && passes.size < 2))
    tracer.enabled = false
    ListenerBusDrain(spark.sparkContext)
    log(s"timed region done: ${passes.size} passes")
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // the yardstick: after each pass, then four more times after a GC;
    // the median is kept
    System.gc()
    refs ++= Seq.fill(4)(reference(spark, opt("data")))
    val ref = Stats.median(refs.toSeq)

    // ---- end-to-end metrics, from the untraced passes
    val recs = runner.records.toSeq
    val uPasses = passes.filterNot(_.traced).toSeq
    val uIx = uPasses.map(_.ix).toSet
    val u = recs.filter(r => uIx(r.pass))
    put("ref_s", ref, "s")
    put("wall_s", Stats.median(uPasses.map(_.seconds)), "s")
    put("wall_rel", Stats.median(uPasses.map(_.seconds)) / ref, "ratio")
    put("rows_per_s", u.map(_.rows).sum / uPasses.map(_.seconds).sum, "1/s")
    def latency(prefix: String, xs: Seq[OpRecord]): Unit = if (xs.nonEmpty) {
      val (tv, tp, tn) = Stats.tail(xs.map(_.seconds))
      put(s"${prefix}_p50_s", Stats.median(xs.map(_.seconds)), "s")
      put(s"${prefix}_tail_s", tv, "s")
      put(s"${prefix}_tail_pct", tp, "%")
      put(s"${prefix}_samples", tn, "count")
    }
    latency("op", u)
    put("op_p50_rel", Stats.median(u.map(_.seconds)) / ref, "ratio")
    val perOp = u.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      name -> Stats.median(rs.map(_.seconds))
    }
    perOp.foreach { case (name, m) => put(s"ops.$name.p50_s", m, "s") }
    val geomean = math.exp(perOp.map(o => math.log(o._2)).sum / perOp.size)
    put("op_geomean_s", geomean, "s")
    put("op_geomean_rel", geomean / ref, "ratio")
    Seq("read", "write", "query").foreach(k => latency(k, u.filter(_.kind == k)))
    val failed = recs.count(_.error.isDefined)
    put("failed_frac", failed.toDouble / recs.size, "fraction")
    def perPass(f: OpRecord => Long) =
      Stats.median(uPasses.map(p => u.filter(_.pass == p.ix).map(f).sum.toDouble))
    put("list_calls_per_run", perPass(_.fs.list), "count")
    put("fs_calls_per_run", perPass(_.fs.total), "count")
    put("stored_bytes_per_input_byte", wl.storedBytesPerInputByte, "ratio")
    put("driver_heap_peak_mb", heapPeakMb, "MB")
    put("passes", uPasses.size, "count")

    if (trace) traced(tracer, exec, recs, passes.filter(_.traced).toSeq, uPasses, cores, put,
      pipeline, wl)

    // ---- report and result line
    val tracePath = Paths.get(opt("out"), s"trace-$workload.json")
    if (trace) Files.write(tracePath, traceJson(tracer, exec).getBytes(UTF_8))
    out.foreach { case (k, (v, unit)) => println(f"metric $k%-40s $v%.6f $unit") }
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> recs.size, "failed" -> failed,
      "metrics" -> out.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) })
    wl match {
      case p: PipelineOps =>
        result("oracle") = Map("check_dir" -> s"$work/check", "sql" -> p.oracleSql,
          "ops" -> recs.groupBy(_.name).map { case (k, v) => k -> v.size })
      case _ =>
    }
    println("PERFBENCH_RESULT " + Json(result))
    log("result printed")
    spark.stop()
    log("session stopped")
  }

  /** Per-layer metrics from the traced passes, each per pass. */
  private def traced(tracer: Tracer, exec: ExecListener, recs: Seq[OpRecord],
      tPasses: Seq[Pass], uPasses: Seq[Pass], cores: Int,
      put: (String, Double, String) => Unit, pipeline: Boolean, wl: Workload): Unit = {
    val n = tPasses.size.toDouble
    val tIx = tPasses.map(_.ix).toSet
    val t = recs.filter(r => tIx(r.pass))
    val spans = tracer.spans.toSeq
    val opKind = t.map(r => r.span -> r.kind).toMap
    val children = spans.filter(s => opKind.contains(s.parent))
    def sumS(ss: Seq[Span]) = ss.map(_.seconds).sum / n
    def attr(ss: Seq[Span], k: String) =
      ss.flatMap(_.attrs.get(k)).map(_.toString.toDouble).sum / n
    val discover = children.filter(_.name == "Graft.discover")
    val builds = children.filter(s => s.name != "action" && s.name != "Graft.discover" &&
      opKind(s.parent) != "write")

    val listCalls = attr(children.filterNot(_.name == "Graft.discover"), "list_calls")
    put("core.list_calls", listCalls, "count")
    put("index.fallback_list_calls", t.map(_.fallbackListCalls).sum / n, "count")
    // the traced run's discovery probes are trace overhead, not the op's calls
    val fs = (t.map(_.fs) ++ discover.flatMap(_.attrs.get("fs_calls")).collect {
      case f: FsCalls => FsCalls.zero - f
    }).foldLeft(FsCalls.zero)(_ + _)
    put("fs.list_calls", fs.list / n, "count")
    put("fs.status_calls", fs.status / n, "count")
    put("fs.open_calls", fs.open / n, "count")
    put("fs.write_calls", fs.write / n, "count")
    put("core.files_matched", attr(discover, "files_matched"), "count")
    val discoverCalls = attr(discover, "list_calls")
    put("core.files_per_list_call",
      if (discoverCalls > 0) attr(discover, "files_matched") / discoverCalls else 0.0, "ratio")
    put("core.discover_s", sumS(discover), "s")
    put("api.build_s", sumS(builds), "s")
    put("api.action_s", sumS(children.filter(_.name == "action")), "s")
    put("api.bytes_written", t.flatMap(_.writes).map(_.bytes).sum / n, "bytes")
    put("api.files_written", t.flatMap(_.writes).map(_.files).sum / n, "count")

    val groups = t.map(r => s"op-${r.span}").toSet
    val tot = exec.synchronized(exec.byGroup.filter(g => groups(g._1)).values.toSeq)
    def ex(f: exec.Totals => Long) = tot.map(f).sum / n
    put("exec.jobs", ex(_.jobs), "count")
    put("exec.stages", ex(_.stages), "count")
    put("exec.tasks", ex(_.tasks), "count")
    put("exec.executor_run_s", ex(_.runMs) / 1e3, "s")
    put("exec.executor_cpu_s", ex(_.cpuNs) / 1e9, "s")
    put("exec.input_bytes", ex(_.inBytes), "bytes")
    put("exec.input_records", ex(_.inRecords), "count")
    put("exec.shuffle_write_bytes", ex(_.shWrite), "bytes")
    put("exec.shuffle_read_bytes", ex(_.shRead), "bytes")
    put("exec.spill_bytes", ex(_.spill), "bytes")
    val tWall = tPasses.map(_.seconds).sum
    put("exec.task_slot_util", ex(_.runMs) / 1e3 * n / (tWall * cores), "ratio")
    val jobs = exec.synchronized(exec.jobs.values.filter(_.end >= 0).toSeq)
    put("driver.nonjob_s", tPasses.map { p =>
      val iv = jobs.map(j => (math.max(j.start, p.startMs), math.min(j.end, p.endMs)))
        .filter { case (a, b) => b > a }
      (p.endMs - p.startMs - Intervals.covered(iv)) / 1e3
    }.sum / n, "s")
    put("bench.trace_overhead_s",
      Stats.median(tPasses.map(_.seconds)) - Stats.median(uPasses.map(_.seconds)), "s")

    // layer self time, and each op's split (build, run, jobs, shuffle)
    val self = tracer.selfSeconds
    spans.filter(s => opKind.contains(s.id) || opKind.contains(s.parent)).groupBy(_.layer)
      .toSeq.sortBy(_._1).foreach { case (layer, ss) =>
        put(s"layer.$layer.self_s", ss.map(s => self(s.id)).sum / n, "s")
      }
    t.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val k = rs.size.toDouble
      val kids = children.filter(c => rs.exists(_.span == c.parent))
      val opTot = exec.synchronized(rs.flatMap(r => exec.byGroup.get(s"op-${r.span}")))
      put(s"ops.$name.s", rs.map(_.seconds).sum / k, "s")
      put(s"ops.$name.build_s", kids.filter(c => c.name != "action" && c.name != "Graft.discover")
        .map(_.seconds).sum / k, "s")
      put(s"ops.$name.run_s", kids.filter(_.name == "action").map(_.seconds).sum / k, "s")
      put(s"ops.$name.jobs", opTot.map(_.jobs).sum / k, "count")
      put(s"ops.$name.shuffle_bytes", opTot.map(o => o.shWrite + o.shRead).sum / k, "bytes")
      rs.flatMap(_.writes).map(_.path).distinct.foreach { p =>
        if (pipeline) println(s"FIXTURE_WRITE query=$name path=$p (inside the timed call)")
      }
      if (name == "compact") put("api.files_after_compact",
        attr(kids.filter(_.name == "Graft.compactPartitionedTable"), "files_after_compact") * n / k,
        "count")
    }
    wl match {
      case p: PipelineOps =>
        p.countSeconds().toSeq.sortBy(_._1).foreach { case (q, c) =>
          put(s"ops.$q.count_s", c, "s")
          val run = t.filter(_.name == q).map(_.seconds)
          put(s"ops.$q.materialized_over_count", Stats.median(run) / c, "ratio")
        }
      case _ =>
    }
  }

  private def traceJson(tracer: Tracer, exec: ExecListener): String = {
    val self = tracer.selfSeconds
    val origin = tracer.spans.headOption.map(_.start).getOrElse(0L)
    Json(Map(
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_s" -> (s.start - origin) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> self(s.id), "attrs" -> s.attrs.toMap)),
      "jobs" -> exec.synchronized(exec.jobs.toSeq.map { case (id, j) =>
        Map("job" -> id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end)
      }),
      "stages" -> exec.synchronized(exec.stages.toSeq.map(st => Map("stage" -> st.id,
        "group" -> st.group, "tasks" -> st.tasks, "executor_run_ms" -> st.runMs))),
      "groups" -> exec.synchronized(exec.byGroup.toSeq.map { case (g, o) =>
        Map("group" -> g, "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
          "executor_run_ms" -> o.runMs, "executor_cpu_ns" -> o.cpuNs,
          "input_bytes" -> o.inBytes, "shuffle_write_bytes" -> o.shWrite,
          "shuffle_read_bytes" -> o.shRead, "spill_bytes" -> o.spill)
      })))
  }

  /** Fixed plain-Spark work, no graft code: a scan of the fixed lineitem copy
    * and a shuffled aggregate. Timed in the same JVM after every pass and
    * after the timed region, it is the yardstick the `_rel` metrics divide
    * by: co-tenant load slows it and the passes alike, so their ratio keeps
    * what graft's own work changes. */
  private def reference(spark: SparkSession, data: String): Double = time {
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus", "l_linenumber")
      .agg(sum("l_quantity"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
  }

  /** A progress line on the run log, with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2fs] $msg")

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** JSON for the result line and the trace file. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
