package graft.graph

import graft.iteration.{Loop, LoopResult, TerminateOnMaxIterOrTol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Distributed HITS — hubs and authorities (Kleinberg, "Authoritative
 * sources in a hyperlinked environment", JACM 1999) — the graph
 * tier's fourth member next to [[PageRank]], [[LabelPropagation]] and
 * [[graft.dedup.ConnectedComponents]]. Where PageRank assigns ONE
 * importance score, HITS separates "pages that point at good content"
 * (hubs: link directories, aggregator pages) from "content good pages
 * point at" (authorities) — on a crawl corpus the hub score is itself
 * a curation signal (boilerplate link farms score hub-high/
 * authority-low). The reference has no graph tier — beyond-reference
 * addition.
 *
 * Semantics (synchronous, per-step L1 normalization):
 *
 *   h₀(v) = 1/N
 *   a_{t+1}(v) = Σ_{(u,v)∈E} h_t(u)·w(u,v),   then a ← a / Σa
 *   h_{t+1}(v) = Σ_{(v,u)∈E} a_{t+1}(u)·w(v,u), then h ← h / Σh
 *
 * Kleinberg normalizes by L2; the iteration is LINEAR, so any
 * positive per-step scaling leaves every ratio — and therefore every
 * RANKING — identical, and L1 makes both score columns sum to 1
 * (comparable across graphs, same invariant as PageRank) and keeps
 * the fixed-iteration run exactly replayable in SQL. Vertices with no
 * in-edges get authority 0; vertices with no out-edges get hub 0;
 * self-loops are legal and kept (a self-link is both an out- and an
 * in-edge). Parallel edges vote with multiplicity, or with summed
 * `weightCol` weights (must be positive).
 *
 * Scale shape (100 TB link graph): the aggregated edge table persists
 * TWICE — hash-partitioned on src for the authority step's hub lookup
 * and on dst for the hub step's authority lookup — so the edge table
 * is never RE-partitioned after those two up-front shuffles; each
 * half-step's groupBy still exchanges the joined edge-sized
 * contribution table, but partial aggregation (map-side combine)
 * reduces the bytes that actually move to O(V) rows per round. Each
 * half-step stores its unnormalized sums as a local checkpoint, and
 * the one job that writes it ([[graft.iteration.Loop.materialize]])
 * also folds the L1 constant, which the next step divides by in a flat
 * projection (see the in-loop comment for why per-half-step
 * checkpointing is load-bearing here, unlike PageRank's every-4th-round
 * cut). A half-step's checkpoint is released once its successor is
 * written. With `tol` > 0 the loop stops early once the hub vector's
 * L1 movement falls below it — same convergence contract as
 * [[PageRank]]; the hub step's checkpoint carries the hub it replaces,
 * so the movement is one more pass over that checkpoint.
 *
 * Cache-release contract: the call runs under
 * [[graft.iteration.Loop.scoped]]; the final (id, hub, authority) frame
 * is stored before every internal cache and checkpoint is released, so
 * after the caller's `unpersist()`, or after a call that throws, nothing
 * of the call remains. Executor loss: see [[graft.iteration.Loop]].
 */
object Hits {

  /** A half-step's stored scores: the checkpoint `raw` (id, s, …) of
    * unnormalized sums s and their L1 constant z. */
  private final case class Step(raw: DataFrame, z: Double) {
    def scores(name: String): DataFrame = raw.select(col("id"), (col("s") / z).as(name))
  }

  /**
   * @param edges     (src, dst [, weight]) rows; any orderable vertex type.
   * @param srcCol    edge-source column name.
   * @param dstCol    edge-destination column name.
   * @param numIter   maximum iteration count (exact count when tol = 0,
   *                  for deterministic replay).
   * @param tol       when > 0, stop early once Σ|h_{t+1} − h_t| < tol
   *                  (the hub vector moves last each round, so its L1
   *                  delta bounds the authority one by linearity).
   * @param weightCol optional edge-weight column name; "" = unweighted.
   * @param idOut     output vertex-id column name.
   * @param hubOut    output hub-score column name.
   * @param authOut   output authority-score column name.
   * @return in `state`, one row per vertex appearing in `edges`; hub
   *         and authority each sum to 1. `rounds` run and, in
   *         `history`, the hub L1 deltas checked (tol > 0; none after
   *         the last allowed round).
   */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      numIter: Int = 20, tol: Double = 0.0, weightCol: String = "",
      idOut: String = "id", hubOut: String = "hub",
      authOut: String = "authority"): LoopResult[DataFrame] = {
    require(numIter > 0, s"numIter must be positive, got $numIter")
    require(tol >= 0.0, s"tol must be >= 0, got $tol")

    // the guard tests the CASTED value for null, so a non-numeric
    // string weight raises like a non-positive one instead of casting
    // to null and silently dropping the edge inside sum()
    val w =
      if (weightCol.isEmpty) lit(1.0)
      else {
        val wd = col(weightCol).cast("double")
        when(wd.isNull || wd <= 0.0,
            raise_error(concat(lit(s"Hits: non-positive/null/non-numeric weight in '$weightCol' on edge "),
              col(srcCol).cast("string"), lit(" -> "), col(dstCol).cast("string")))
              .cast("double"))
          .otherwise(wd)
      }

    Loop.scoped { stored =>
      // distinct() already leaves the table hash-partitioned on id — an
      // explicit repartition(id) on top would be a second identical
      // exchange of the same O(V) rows. Stored and counted in one job.
      val (nodes, n) = Loop.materialize(edges.select(col(srcCol).as("id"))
        .union(edges.select(col(dstCol).as("id")))
        .distinct(), checkpoint = false, 0L)((c, _) => c + 1, _ + _)
      stored(nodes)
      require(n > 0, "HITS on an empty edge list is undefined")

      val agg = edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      val bySrc = stored(agg.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK))
      // derived from the CACHED src-keyed table, not from agg: the merge
      // aggregation scans the edge input once instead of twice (bySrc is
      // always materialized first — the authority half-step runs before
      // the hub half-step in round 1)
      val byDst = stored(bySrc.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK))

      // Every half-step stores the UNNORMALIZED per-vertex sums of `base`'s
      // vertices (0 where no mass arrives, base's other columns carried) as
      // a local checkpoint, and the job that writes it folds their L1
      // constant; the normalization is a flat projection with the constant
      // as a literal. Checkpointing per half-step is not optional here: a
      // two-table iteration chains FOUR InMemoryRelations per round, and
      // IMR string rendering re-prints its child tree — measured ×16
      // plan-TEXT growth per round, 300 MB of explain string by round 3
      // (AQE renders it on every plan update), an OOM on any modest
      // driver. With the checkpoint the plan is a LogicalRDD scan every
      // round: flat forever.
      def halfStep(base: DataFrame, sums: DataFrame): Step = {
        val (raw, z) = Loop.materialize(base.join(sums, Seq("id"), "left")
            .select(col("id") +: coalesce(col("s"), lit(0.0)).as("s") +: base.columns.tail.map(col): _*),
          checkpoint = true, 0.0)((z, r) => z + r.getDouble(1), _ + _)
        Step(stored(raw), z)
      }
      // h₀ = 1/n: unit sums over the node table, constant n
      val h0 = Step(nodes.select(col("id"), lit(1.0).as("s")), n.toDouble)
      // TerminateOnMaxIterOrTol stops at delta ≤ its tol: one ulp below
      // `tol` makes that delta < tol, the documented rule
      val result = Loop.iterate((h0, Option.empty[Step]),
          TerminateOnMaxIterOrTol(numIter, math.nextDown(tol))) { case ((h, a), round) =>
        // authority step: hub mass flows along edge direction
        val na = halfStep(nodes, bySrc.join(h.scores("h").withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("w") * col("h")).as("s")))
        // hub step: authority mass flows AGAINST edge direction; the frame
        // keeps the hub it replaces (hp) for the tol check
        val nh = halfStep(h.scores("hp"), byDst.join(na.scores("a").withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("w") * col("a")).as("s")))
        if (round > 0) Loop.release(h.raw)
        a.foreach(s => Loop.release(s.raw))
        val delta =
          if (tol > 0.0 && round + 1 < numIter)
            Some(Loop.fold(nh.raw, 0.0)((d, r) => d + math.abs(r.getDouble(1) / nh.z - r.getDouble(2)),
              _ + _))
          else None
        ((nh, Some(na)), delta)
      }
      val (h, Some(a)) = result.state
      val out = h.scores("h").join(a.scores("a"), "id")
        .select(col("id").as(idOut), col("h").as(hubOut), col("a").as(authOut))
      result.copy(state = Loop.keep(out))
    }
  }
}
