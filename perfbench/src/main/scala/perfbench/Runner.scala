package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Discovery
import graft.index.GraftFileIndex

/** What an op reports: rows it materialized or committed, and why its
  * result is wrong, if it is. */
final case class Outcome(rows: Long, wrong: Option[String] = None)

/** One executed op. `fallbackListCalls` is the delta of the file index's
  * fallback-listing counter across the op, `fs` the filesystem calls made
  * during it; `span` is its span id in a traced pass (-1 otherwise) and
  * `writes` the files Spark wrote for it (traced passes only). */
final case class OpRecord(pass: Int, name: String, kind: String, seconds: Double,
    rows: Long, error: Option[String], fallbackListCalls: Long,
    fs: FsCalls, span: Int, writes: Seq[SparkWrite])

/** Runs ops in a closed loop with one client: each op starts when the
  * previous one has returned. Every op's result is checked; an exception or
  * a wrong result counts the op as failed and its reason is printed. */
final class Runner(val spark: SparkSession, val tracer: Tracer, plant: Option[String]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Set while tracing, so each op's writes are attributed to it. */
  var writeListener: Option[WriteListener] = None
  var pass = 0
  private var currentOp = ""

  def op(name: String, kind: String)(body: => Outcome): Unit =
    tracer.span(name, "bench") {
      currentOp = name
      val sc = spark.sparkContext
      sc.setJobGroup(s"op-${tracer.current}", name)
      val f0 = GraftFileIndex.fallbackListCalls.get
      val fs0 = CountingLocalFileSystem.snapshot
      val t0 = System.nanoTime()
      val (rows, error) =
        try { val o = body; (o.rows, o.wrong) }
        catch { case NonFatal(e) => (0L, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      val writes = writeListener.toSeq.flatMap { w =>
        org.apache.spark.ListenerBusDrain(sc)
        w.synchronized { val ws = w.writes.toList; w.writes.clear(); ws }
      }
      records += OpRecord(pass, name, kind, dt, rows, error,
        GraftFileIndex.fallbackListCalls.get - f0,
        CountingLocalFileSystem.snapshot - fs0, if (tracer.enabled) tracer.current else -1, writes)
      error.foreach(e => println(s"FAILED op=$name pass=$pass reason=${e.replace('\n', ' ')}"))
    }

  /** A call into one layer, recorded as a child span of the current op. */
  def call[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer) {
    val l0 = Discovery.listingCalls.get
    val fs0 = CountingLocalFileSystem.snapshot
    try body
    finally {
      tracer.set("list_calls", Discovery.listingCalls.get - l0)
      tracer.set("fs_calls", CountingLocalFileSystem.snapshot - fs0)
    }
  }

  /** Compares a result's (rows, checksum) with its expectation. The op
    * named by `--plant` gets a deliberately wrong expectation, which the
    * self-check uses to prove a wrong result is caught. */
  def expect(got: (Long, Long), want: (Long, Long)): Outcome = {
    val w = if (plant.contains(currentOp)) (want._1 + 1, want._2) else want
    Outcome(got._1,
      if (got == w) None
      else Some(s"wrong result: rows=${got._1} checksum=${got._2}, expected rows=${w._1} checksum=${w._2}"))
  }

  def check(ok: Boolean, rows: Long, why: => String): Outcome =
    Outcome(rows, if (ok && !plant.contains(currentOp)) None else Some(s"wrong result: $why"))
}

/** The benchmark's sink and its order-insensitive checksum. */
object Sink {
  /** Hash of the named columns of a row, taken in name order. */
  def hashOf(cols: Seq[String]): Column =
    pmod(xxhash64(cols.sorted.map(c => col(s"`$c`")): _*), lit(2147483647L))

  def rowHash(df: DataFrame): Column = hashOf(df.columns.toSeq)

  /** Runs `df` into a noop sink that reads every column and returns
    * (rows, sum of `sumOf`) observed on the way. */
  def materialize(df: DataFrame, sumOf: DataFrame => Column = rowHash): (Long, Long) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), sum(sumOf(df)).as("sum"))
      .write.format("noop").mode("overwrite").save()
    observed(obs)
  }

  /** Same as [[materialize]], but writes the rows as parquet to `path`. */
  def writeChecked(df: DataFrame, path: String): (Long, Long) = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df)).as("sum"))
      .write.mode("overwrite").parquet(path)
    observed(obs)
  }

  /** The same numbers from one plain aggregate over `df`, for several
    * expectations at once: each is (name, row filter, columns hashed). */
  def checksums(df: DataFrame, specs: Seq[(String, Column, Seq[String])]): Map[String, (Long, Long)] = {
    val aggs = specs.flatMap { case (_, keep, cols) =>
      Seq(count(when(keep, lit(1))), coalesce(sum(when(keep, hashOf(cols))), lit(0L)))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    specs.zipWithIndex.map { case ((name, _, _), i) => name -> (r.getLong(2 * i), r.getLong(2 * i + 1)) }.toMap
  }

  private def observed(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], Option(m("sum")).fold(0L)(_.asInstanceOf[Long]))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); with ten samples or fewer, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
