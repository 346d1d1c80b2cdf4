package graft.tools
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, TableCacheQueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for named gates to files — the
  * optimization-round evidence artifacts (plans/rNN/<query>_<tag>.txt).
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...>
  * Session config mirrors Bench (local[cpus], shuffle.partitions=cpus,
  * AQE on) so the dumped plan is the plan the bench actually runs. Each
  * dump's header gives the Spark jobs the query's run started and the
  * cached-frame reads in its final plan (each such read is a cache query
  * stage that submits its own job). */
object PlanDump {

  /** Runs `body` (one action) and returns the QueryExecution it reported
    * and the Spark jobs started meanwhile. A `df.write` runs a NEW
    * QueryExecution, so only a listener sees the one whose adaptive plan
    * is final. Job starts and the execution's end share the listener
    * queue, so every job has been counted when the execution arrives. */
  private def captured(spark: SparkSession)(body: => Unit): (QueryExecution, Int) = {
    val jobs = new AtomicInteger
    val seen = new LinkedBlockingQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f != "rdd") seen.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(executionListener)
    try {
      body
      val qe = seen.poll(60, TimeUnit.SECONDS)
      require(qe != null, "the action reported no execution within 60 s")
      (qe, jobs.get)
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
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val initial = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val (run, jobs) = captured(spark) {
          df.write.format("noop").mode("overwrite").save()
        }
        val finalPlan = run.executedPlan
        val cacheReads = new AdaptiveSparkPlanHelper {}
          .collectWithSubqueries(finalPlan) { case s: TableCacheQueryStageExec => s }.size
        Files.writeString(Paths.get(s"$outDir/${q}_$tag.txt"),
          s"== $q: $jobs jobs, $cacheReads TableCacheQueryStage ==\n" +
            s"== explain(formatted), initial plan ==\n$initial\n" +
            s"== executedPlan of the run (AQE-final) ==\n$finalPlan\n")
        println(s"[plandump] wrote $q: $jobs jobs, $cacheReads TableCacheQueryStage")
      } catch { case e: Throwable =>
        println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
