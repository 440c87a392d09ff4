package graft.iteration

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

/**
 * Termination criteria for driver-loop iteration — the Spark-side
 * counterpart of the reference's criteria stream
 * (flink-ml-core common/iteration/TerminateOnMaxIter.java,
 * TerminateOnMaxIterOrTol.java). A criterion is consulted BEFORE each
 * round with the number of completed rounds and the last round's
 * reported criterion value (e.g. reduced loss / total weight).
 */
sealed trait Termination extends Serializable {
  def shouldStop(roundsCompleted: Int, lastCriterion: Option[Double]): Boolean
}

/** Run exactly `maxIter` rounds (reference TerminateOnMaxIter.java:
  * continue while epochWatermark + 1 < maxIter). */
final case class TerminateOnMaxIter(maxIter: Int) extends Termination {
  def shouldStop(rounds: Int, last: Option[Double]): Boolean = rounds >= maxIter
}

/** At most `maxIter` rounds, stopping early once a round's criterion
  * is ≤ `tol` (reference TerminateOnMaxIterOrTol.java: "terminate
  * once any input value is smaller than or equal to the given tol" —
  * note ≤, not <; SGD.java:134-142 feeds it totalLoss/totalWeight). */
final case class TerminateOnMaxIterOrTol(maxIter: Int, tol: Double) extends Termination {
  def shouldStop(rounds: Int, last: Option[Double]): Boolean =
    rounds >= maxIter || last.exists(_ <= tol)
}

/** Result of a [[Loop]] run: the final state, rounds executed, and
  * every round's reported criterion value in order. The graph operators
  * return one too, so concurrent calls each read their own rounds. */
final case class LoopResult[S](state: S, rounds: Int, history: Array[Double])

object LoopResult {
  import scala.language.implicitConversions

  /** Code written when the graph operators' `run` returned the bare frame
    * still compiles against the `LoopResult` they return now. Its only
    * user is `perfbench/` (`Workloads.scala` sinks the results of
    * `ConnectedComponents.run` and `PageRank.run` as frames); the next
    * change to the benchmark should call `.state` there and delete this
    * conversion. New code reads `.state` and keeps `rounds`/`history`. */
  implicit def frameOf(r: LoopResult[DataFrame]): DataFrame = r.state
}

/**
 * Driver-loop iteration: the Spark-first replacement for the
 * reference's user-composable iteration API
 * (flink-ml-iteration Iterations.java:124,
 * `iterateBoundedStreamsUntilTermination`). The reference runs an
 * epoch-watermarked dataflow cycle; on Spark the same algorithms are
 * a driver while-loop whose per-round work is ordinary distributed
 * jobs (broadcast state out, treeAggregate feedback in) — Catalyst
 * and the scheduler handle the distribution, the loop stays on the
 * driver. KMeans and SGD run on this utility; it is public so users
 * can build their own iterative algorithms the way reference users
 * call Iterations directly.
 *
 * DataFrame loops pay a fixed driver and scheduler cost for every job
 * they launch, so a round should launch as few as it can: the exchanges
 * its plan needs, plus ONE job that both stores the round's frame and
 * computes what the driver must know about it (a convergence count, a
 * signature, the next round's scalar). [[materialize]] is that job;
 * [[release]] frees what it stored, and [[keep]] stores the frame a loop
 * returns before releasing the loop's own. ConnectedComponents,
 * PageRank, LabelPropagation, Hits, Bfs and [[iterateDataFrame]] are
 * built on them.
 */
object Loop {

  /**
   * Iterate `body` from `init` until `termination` fires. The body
   * receives (state, 0-based round index) and returns the next state
   * plus an optional criterion value fed to the termination check
   * (and recorded in the result's history).
   *
   * State persistence is the CALLER's concern here — driver-resident
   * state (model arrays) needs none; for DataFrame-valued state use
   * [[iterateDataFrame]], which owns the persist/unpersist/checkpoint
   * lifecycle.
   */
  def iterate[S](init: S, termination: Termination)(
      body: (S, Int) => (S, Option[Double])): LoopResult[S] = {
    var state = init
    var rounds = 0
    var last: Option[Double] = None
    val history = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (!termination.shouldStop(rounds, last)) {
      val (next, crit) = body(state, rounds)
      state = next
      crit.foreach(history += _)
      last = crit
      rounds += 1
    }
    LoopResult(state, rounds, history.toArray)
  }

  /**
   * [[iterate]] for DataFrame-valued state, with the lineage
   * management every long Spark loop needs and the reference's
   * runtime did implicitly: each round's output is persisted and
   * materialized ([[materialize]], one job), the previous round's is
   * unpersisted, and every `checkpointEvery` rounds the plan is
   * truncated with a localCheckpoint instead — without which plan depth
   * grows per round and Catalyst re-analysis makes round N cost O(N)
   * (the lesson baked into ConnectedComponents/BpeTrainer, here for
   * user algorithms).
   *
   * `criterion(previous, current)` — if supplied — is evaluated AFTER
   * the round's frame is persisted and materialized, so a delta
   * aggregate (the usual convergence test) reads two cached frames
   * instead of recomputing the round.
   */
  def iterateDataFrame(init: DataFrame, termination: Termination, checkpointEvery: Int = 10,
      criterion: (DataFrame, DataFrame) => Option[Double] = (_, _) => None)(
      body: (DataFrame, Int) => DataFrame): LoopResult[DataFrame] = {
    var prev: Option[DataFrame] = None
    iterate(init, termination) { (state, round) =>
      // materialized before the parent is released
      val (next, _) = materialize(body(state, round),
        checkpoint = checkpointEvery > 0 && (round + 1) % checkpointEvery == 0, 0L)(
        (n, _) => n + 1, _ + _)
      val crit = criterion(state, next)
      prev.foreach(release)
      prev = Some(next)
      (next, crit)
    }
  }

  /**
   * Store one loop frame and fold its rows, in ONE Spark job.
   *
   * The frame is persisted (MEMORY_AND_DISK, lineage kept) or, with
   * `checkpoint`, local-checkpointed lazily (lineage cut when the job
   * ends). The job that fills the cache or the checkpoint also folds
   * every partition from `zero` with `seqOp`; the driver combines the
   * per-partition results with `combOp` in partition-index order, so a
   * floating-point fold is deterministic for a fixed partitioning
   * (`RDD.reduce` merges in task-completion order and is not).
   *
   * An eager `localCheckpoint(true)`, or a persist followed by a
   * separate `count()` or `agg(...).head`, costs more: under AQE a global
   * SQL aggregate is a map-stage job plus a result job on top of the job
   * that materialized the frame. The frame's own exchanges still run as
   * map-stage jobs first.
   *
   * Pass a frame no action has run on: a sameResult-equal frame that is
   * already cached would make the persist a no-op, and [[release]] would
   * then drop the other holder's cache.
   *
   * @return the stored frame (release it with [[release]]) and the fold.
   */
  def materialize[A: ClassTag](df: DataFrame, checkpoint: Boolean, zero: A)(
      seqOp: (A, Row) => A, combOp: (A, A) => A): (DataFrame, A) = {
    val kept =
      if (checkpoint) df.localCheckpoint(eager = false)
      else df.persist(StorageLevel.MEMORY_AND_DISK)
    (kept, fold(kept, zero)(seqOp, combOp))
  }

  /** Fold the rows of a frame [[materialize]] stored, in ONE job, in
    * partition order: a second pass for a fold that needs what the store
    * job returned (HITS' hub delta needs the hub sum). */
  def fold[A: ClassTag](stored: DataFrame, zero: A)(
      seqOp: (A, Row) => A, combOp: (A, A) => A): A = {
    val qe = stored.queryExecution
    // the job runs on the stored rows directly: the checkpoint RDD, whose
    // blocks it writes, or a scan of the new cache entry, whose buffers
    // it builds. Reading the cache through a query instead would let AQE
    // fill it in a job of its own first (a table-cache query stage). It
    // runs as an SQL execution, like any Dataset action: outside one, the
    // cached plan's generated code misses the codegen cache and is
    // compiled again on every call.
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rows = qe.logical match {
        case r: LogicalRDD => r.rdd
        case _ =>
          val rel = qe.sparkSession.sharedState.cacheManager
            .lookupCachedData(qe.sparkSession, qe.analyzed)
            .getOrElse(throw new IllegalStateException("persisted frame has no cache entry"))
            .cachedRepresentation
          InMemoryTableScanExec(rel.output, Nil, rel).execute()
      }
      val schema = stored.schema
      val partials = rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        it.foldLeft(zero)((a, r) => seqOp(a, toRow(r).asInstanceOf[Row]))
      })
      partials.foldLeft(zero)(combOp)
    }
  }

  /**
   * Free what [[materialize]] stored for `df`: its cache entry, or its
   * local checkpoint's blocks. A released checkpoint cannot be
   * recomputed, so release a frame only once nothing will read it —
   * including through the lineage of a cache that may need rebuilding.
   */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Store `out`, the frame a loop call returns (one job), then [[release]]
    * `frames`, the stored frames and cached inputs it reads: the caller's
    * `unpersist` then frees all the call stored. As with [[materialize]],
    * `out` must not match a frame already cached. */
  def keep(out: DataFrame, frames: DataFrame*): DataFrame = {
    val (kept, _) = materialize(out, checkpoint = false, 0L)((n, _) => n + 1, _ + _)
    frames.foreach(release)
    kept
  }
}
