package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    .getOrCreate()
  // the suite's global windows are operator-bounded by contract; the
  // per-execution WindowExec WARN was the dominant line in captured
  // test-output tails (see graft.core.LogHygiene)
  graft.core.LogHygiene.silenceBoundedWindowWarn()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs, counted by a listener. A fence
    * job before and after bounds the count: the listener bus delivers
    * events in order, so once the closing fence arrives every job `body`
    * started has been seen, and nothing queued before the opening fence
    * is counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.fence"
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val fences = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(f) => fences.put(f)
          case None => starts.incrementAndGet()
        }
    }
    def fence(name: String): Unit = {
      sc.setLocalProperty(key, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(fences.poll(60, java.util.concurrent.TimeUnit.SECONDS) == name)
    }
    sc.addSparkListener(listener)
    try {
      fence("open")
      starts.set(0)
      val out = body
      fence("close")
      (out, starts.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Dataset actions (count, collect, write, …) completed while `body`
    * runs, as the QueryExecutions a QueryExecutionListener saw — one per
    * action however many jobs AQE splits it into. `Dataset.rdd` reports to
    * the listener as an execution named "rdd" but runs no job, so it is not
    * kept. Fenced as [[jobsDuring]] is: a fence action is recognised by its
    * one output column's name. */
  def executionsDuring[T](body: => T)
      : (T, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val prefix = "graft_test_fence_"
    val seenQes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val fences = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      private def seen(funcName: String, qe: QueryExecution): Unit =
        qe.analyzed.output.map(_.name) match {
          case Seq(f) if f.startsWith(prefix) => fences.put(f.stripPrefix(prefix))
          case _ => if (funcName != "rdd") seenQes.add(qe)
        }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen(f, qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen(f, qe)
    }
    def fence(name: String): Unit = {
      spark.sql(s"SELECT 1 AS $prefix$name").collect()
      assert(fences.poll(60, java.util.concurrent.TimeUnit.SECONDS) == name)
    }
    spark.listenerManager.register(listener)
    try {
      fence("open")
      seenQes.clear()
      val out = body
      fence("close")
      (out, seenQes.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** How many Dataset actions completed while `body` ran
    * ([[executionsDuring]]). */
  def actionsDuring[T](body: => T): (T, Int) = {
    val (out, qes) = executionsDuring(body)
    (out, qes.size)
  }

  /** Order-insensitive comparison: sorted rows of string-rendered values. */
  def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString(""))
  }
}
