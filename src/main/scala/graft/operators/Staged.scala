package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Persist lifecycle for operator-internal staged tables.
  *
  * Several operators stage an intermediate frame (a shingle table, an
  * inverted index, a survivors frame) that the RETURNED lazy result
  * references more than once — persisted so the expensive stage runs
  * once per action. `Dataset.persist`/`localCheckpoint` blocks outlive
  * the operator call, so a caller composing several operators in one
  * session (the bench harness, the curation pipeline, any library user)
  * needs a release path. The contract:
  *
  *  - operators stage frames via [[persist]] / [[checkpoint]] — both
  *    register a release handle in the ACTIVE registry (the session-wide
  *    one by default, a scope-local one inside [[scope]]);
  *  - the caller, after MATERIALIZING the returned result (action,
  *    write, collect), calls [[releaseAll]] — every staged block in the
  *    active registry is dropped; the returned frame stays valid
  *    (persist-backed stages recompute lazily if re-run;
  *    checkpoint-backed RESULTS are released only via releaseAll, so
  *    call it when done, not between actions on the same frame);
  *  - concurrent library callers wrap each logical query in [[scope]]
  *    so one caller's release never drops another's staged blocks.
  *
  * Iterative operators ([[Graph]]'s component fixpoint) use the
  * unregistered [[checkpointOwned]]/[[release]] pair instead: round
  * n−1's checkpoint blocks are dropped as soon as round n has
  * materialized, capping in-flight storage at two rounds regardless of
  * iteration count.
  */
object Staged {

  private val global = new ConcurrentLinkedQueue[() => Unit]()

  /** Active registry: the global queue, or the innermost [[scope]]'s
    * own queue on this thread (DynamicVariable → inheritable
    * thread-local, so a scope covers threads the body spawns). */
  private val active = new scala.util.DynamicVariable[ConcurrentLinkedQueue[() => Unit]](global)

  /** Eagerly `localCheckpoint` `df`, returning the flattened frame AND
    * the persistent blocks backing it. The block set is derived from
    * the RETURNED plan's own `LogicalRDD` — never from a global
    * before/after diff of `getPersistentRDDs`, which under concurrent
    * operator calls could capture (and later release) another thread's
    * checkpoint blocks; a released local checkpoint is unrecoverable
    * (lineage truncated), so ownership must be exact. The caller owns
    * the blocks: drop them with [[release]] once every consumer of the
    * frame has materialized. */
  private[graft] def checkpointOwned(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val out = df.localCheckpoint() // eager: materializes here
    val owned = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(owned.nonEmpty, "localCheckpoint must plan a LogicalRDD backing the checkpointed frame")
    (out, owned)
  }

  private[graft] def release(blocks: Seq[RDD[_]]): Unit =
    blocks.foreach { r =>
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }

  /** `localCheckpoint` with the blocks registered for [[releaseAll]] —
    * for iterative RESULTS whose lineage cannot stay lazy. */
  def checkpoint(df: DataFrame): DataFrame = {
    val (out, blocks) = checkpointOwned(df)
    register(blocks)
    out
  }

  /** Hand ownership of already-created blocks to the active registry. */
  private[graft] def register(blocks: Seq[RDD[_]]): Unit =
    if (blocks.nonEmpty) active.value.add(() => release(blocks))

  /** MEMORY_AND_DISK persist with the frame registered for
    * [[releaseAll]] — for staged tables referenced multiple times by a
    * returned lazy result. After release the result stays correct
    * (stages recompute), just uncached. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    active.value.add { () =>
      try { ds.unpersist(blocking = false); () }
      catch { case _: Throwable => () }
    }
    ds
  }

  private def drain(q: ConcurrentLinkedQueue[() => Unit]): Unit = {
    var f = q.poll()
    while (f != null) { f(); f = q.poll() }
  }

  /** Run `body` against a PRIVATE registry: staged blocks registered
    * inside are released when the scope exits — and only those, so
    * concurrent callers each wrapping their queries in scope never
    * drop each other's staged blocks (the session-global registry is
    * untouched). Nests: the innermost scope wins. Returns `body`'s
    * result; the result must be MATERIALIZED inside the scope
    * (checkpoint-backed frames do not survive their scope). */
  def scope[T](body: => T): T = {
    val local = new ConcurrentLinkedQueue[() => Unit]()
    try active.withValue(local)(body)
    finally drain(local)
  }

  /** Drop every staged block operators registered on behalf of returned
    * results — in the ACTIVE registry: the session-global one outside
    * [[scope]] (the bench/verify harnesses call it per query), the
    * scope's own inside. Single-threaded callers sharing the global
    * registry should serialize releaseAll behind their
    * materializations; concurrent callers should use [[scope]]. */
  def releaseAll(): Unit = drain(active.value)

  /** Release handles waiting in the active registry. */
  private[graft] def pending: Int = active.value.size
}
