package graft.tools
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, TableCacheQueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for named gates to files — the
  * optimization-round evidence artifacts (plans/rNN/<query>_<tag>.txt).
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...>
  * Session config mirrors Bench (local[cpus], shuffle.partitions=cpus,
  * AQE on) so the dumped plan is the plan the bench actually runs. Each
  * dump's header gives the Spark jobs the query's build (its eager
  * actions) and its run started, the cached-frame reads in its final plan
  * (each such read is a cache query stage that submits its own job), the
  * generated classes Janino compiled during build and run (the
  * `CodegenMetrics` compile-count delta: a hit in Spark's codegen cache
  * compiles nothing) and their wall time. */
object PlanDump {

  private val Fence = "plandump_fence_"

  /** Builds a frame with `build`, runs `action` on it and returns the
    * frame, the QueryExecution the action reported and the Spark jobs
    * each step started (a build may run eager actions of its own). A
    * `df.write` runs a NEW QueryExecution, so only a listener sees the one
    * whose adaptive plan is final. A fence follows each step: a
    * collected inline table, which runs on the driver and starts no job.
    * Job starts and executions share the listener queue, so when a
    * fence's execution arrives every job before it has been counted, and
    * the action's execution is the last one before the action's fence. */
  private def captured(spark: SparkSession)(build: => DataFrame)(action: DataFrame => Unit)
      : (DataFrame, QueryExecution, Int, Int) = {
    val jobs = new AtomicInteger
    val seen = new LinkedBlockingQueue[Either[String, QueryExecution]]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f != "rdd") seen.put(qe.analyzed.output.map(_.name) match {
          case Seq(n) if n.startsWith(Fence) => Left(n)
          case _ => Right(qe)
        })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    /** The last execution before the fence, and the jobs counted since the previous fence. */
    def fence(name: String): (Option[QueryExecution], Int) = {
      spark.sql(s"SELECT * FROM VALUES (1) AS t($Fence$name)").collect()
      var last = Option.empty[QueryExecution]
      var e = seen.poll(60, TimeUnit.SECONDS)
      while (e != null && e != Left(Fence + name)) {
        e.foreach(qe => last = Some(qe))
        e = seen.poll(60, TimeUnit.SECONDS)
      }
      require(e != null, s"the $name fence reported no execution within 60 s")
      (last, jobs.getAndSet(0))
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(executionListener)
    try {
      val df = build
      val (_, buildJobs) = fence("build")
      action(df)
      val (qe, runJobs) = fence("action")
      require(qe.isDefined, "the action reported no execution")
      (df, qe.get, buildJobs, runJobs)
    } finally {
      spark.listenerManager.unregister(executionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, qcsv) = args.take(3)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (q <- qcsv.split(",")) {
      try {
        val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime
        val (df, run, buildJobs, jobs) = captured(spark)(graft.SparkEntry.queries(q)(spark, dir)) {
          _.write.format("noop").mode("overwrite").save()
        }
        val ms = (System.nanoTime - t0) / 1000000
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore
        val initial = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val finalPlan = run.executedPlan
        val cacheReads = new AdaptiveSparkPlanHelper {}
          .collectWithSubqueries(finalPlan) { case s: TableCacheQueryStageExec => s }.size
        val header = s"$q: $buildJobs build jobs, $jobs jobs, $cacheReads TableCacheQueryStage, " +
          s"$compiled classes compiled, $ms ms"
        Files.writeString(Paths.get(s"$outDir/${q}_$tag.txt"),
          s"== $header ==\n" +
            s"== explain(formatted), initial plan ==\n$initial\n" +
            s"== executedPlan of the run (AQE-final) ==\n$finalPlan\n")
        println(s"[plandump] wrote $header")
      } catch { case e: Throwable =>
        println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
