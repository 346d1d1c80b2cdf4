package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is the repo module the call belongs to
  * ("bench" for the run and op spans). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, var end: Long = -1L, attrs: mutable.Map[String, Any] = mutable.Map.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans form a tree through the call stack of the
  * benchmark's own calls into each layer; nothing is written until the run
  * ends. While `enabled` is false every call runs its body and records
  * nothing. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def current: Int = stack.headOption.map(_.id).getOrElse(-1)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, current, name, layer, System.nanoTime())
      spans += s
      stack.push(s)
      try body
      finally { s.end = System.nanoTime(); stack.pop() }
    }

  def set(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      s.id -> (s.end - s.start - Intervals.covered(kids)) / 1e9
    }.toMap
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total + curE - curS else total
  }
}

/** Spark job, stage and task totals, keyed by the job group the benchmark
  * sets to the id of the op span that ran them. */
/** A Spark job's group and its start and end, epoch milliseconds; `end` is
  * -1 while it runs. */
final case class Job(group: String, start: Long, var end: Long = -1L)

/** A completed Spark stage: its job group, tasks and executor run time. */
final case class Stage(id: Int, group: String, tasks: Int, runMs: Long)

final class ExecListener extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var inBytes = 0L; var inRecords = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    totals(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "")
    val t = totals(g)
    stages += Stage(info.stageId, g, info.numTasks,
      Option(info.taskMetrics).fold(0L)(_.executorRunTime))
    t.stages += 1
    t.tasks += info.numTasks
    Option(info.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.inBytes += m.inputMetrics.bytesRead
      t.inRecords += m.inputMetrics.recordsRead
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Files Spark writes, with their output path, so a query whose timed call
  * writes fixtures shows up and written bytes are counted. */
final case class SparkWrite(path: String, files: Long, bytes: Long)

final class WriteListener extends QueryExecutionListener {
  val writes = mutable.ArrayBuffer.empty[SparkWrite]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            def m(k: String) = i.metrics.get(k).map(_.value).getOrElse(0L)
            writes += SparkWrite(i.outputPath.toString, m("numFiles"), m("numOutputBytes"))
          case _ =>
        }
        case _ =>
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
