package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The lazy-operator cache-release contract shared by every operator that
  * persists frames backing its RESULT (the iterative ones through
  * [[Generations]]): it arms a one-shot listener so a long-lived session
  * calling it repeatedly accumulates no cached frames, while the result
  * stays a plain lazy DataFrame. If a second action races the release it may
  * recompute (or briefly reuse) the cache — both are correct; only the
  * first action is guaranteed the cached plan. */
private[graft] object CacheRelease {

  /** Unrelated completed actions tolerated before a listener gives up
    * waiting and releases anyway: bounds the leak when a caller builds a
    * result but never acts on it (exploratory sessions, abandoned
    * branches). A released-early cache just recomputes if the stale
    * result is used later — correct, merely slower. */
  private[graft] val MaxUnrelatedActions = 200

  /** After the first completed action whose plan contains `result`,
    * run `onAction(qe)` (e.g. read observed metrics and warn), unpersist
    * `release`, and unregister. If `MaxUnrelatedActions` other actions
    * complete first, release and unregister WITHOUT the callback — the
    * caches must not outlive an abandoned result. `Dataset.rdd` reports
    * to the listener as an execution named "rdd" when the RDD is
    * CREATED, and the RDD's own actions are never reported, so "rdd"
    * executions count neither as a use nor as an unrelated action: a
    * result consumed only through `.rdd` is released by expiry. */
  def afterFirstAction(result: DataFrame, release: Seq[DataFrame],
      onAction: QueryExecution => Unit = _ => ()): DataFrame = {
    val spark = result.sparkSession
    val key = result.queryExecution.analyzed.canonicalized
    val listener = new QueryExecutionListener {
      private val done = new AtomicBoolean(false)
      private val unrelated = new java.util.concurrent.atomic.AtomicInteger(0)
      private def maybeRelease(funcName: String, qe: QueryExecution): Unit =
        if (funcName != "rdd") {
          val uses = try qe.analyzed.exists(_.canonicalized == key)
            catch { case _: Throwable => false }
          val expired = !uses && unrelated.incrementAndGet() > MaxUnrelatedActions
          if ((uses || expired) && done.compareAndSet(false, true)) {
            if (uses) try onAction(qe) catch { case _: Throwable => () }
            release.foreach(_.unpersist(false))
            spark.listenerManager.unregister(this)
          }
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = maybeRelease(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = maybeRelease(funcName, qe)
    }
    spark.listenerManager.register(listener)
    result
  }
}

/** The cached generations of ONE iterative operator call. Every round
  * that must stop its lineage from compounding goes through [[cut]]:
  * persist the round's frame, run the round's one materializing action,
  * re-enter the plan through a LogicalRDD barrier (so the next round's
  * plan is O(1) deep however many rounds came before), and only THEN
  * release the generation held before — the action may still read it.
  * At most one generation is held at a time. `inputs` are the operator's
  * own persisted inputs (edge frames, maps), released with the last
  * generation: lazily after the result's first action
  * ([[releaseAfterFirstAction]]), or at once ([[release]]) when the
  * result no longer reads them or the operator refuses. */
private[graft] final class Generations(inputs: Seq[DataFrame]) {
  private var held: Option[DataFrame] = None

  /** Cut after `frame`: `probe` is the round's one action over the
    * persisted frame (a count, a moved-row sum, an improvement check);
    * returns the barrier and the probe's answer. */
  def cut[A](frame: DataFrame, probe: DataFrame => A): (DataFrame, A) = {
    val persisted = frame.persist(StorageLevel.MEMORY_AND_DISK)
    val answer = probe(persisted)
    val barrier = frame.sparkSession.createDataFrame(persisted.rdd, persisted.schema)
    held.foreach(_.unpersist(false))
    held = Some(persisted)
    (barrier, answer)
  }

  /** [[cut]] with a count as the round's action. */
  def cut(frame: DataFrame): DataFrame = cut(frame, _.count())._1

  /** `result` reads the held generation (and, when no round cut after
    * the last use of them, the inputs): release them all after its first
    * completed action. */
  def releaseAfterFirstAction(result: DataFrame): DataFrame =
    CacheRelease.afterFirstAction(result, inputs ++ held)

  /** Release the held generation and the inputs now. */
  def release(): Unit = (inputs ++ held).foreach(_.unpersist(false))
}
