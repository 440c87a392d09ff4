package graft.graph

import graft.iteration.{Loop, LoopResult, TerminateOnMaxIterOrTol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multi-source BFS hop distances — the graph tier's fifth member next
 * to [[PageRank]], [[Hits]], [[LabelPropagation]] and
 * [[graft.dedup.ConnectedComponents]]: every vertex's minimum hop
 * count from a SEED SET over an unweighted edge list. On a crawl
 * corpus this is crawl depth from the seed whitelist (a standard
 * quality prior: pages many hops from any trusted seed are
 * boilerplate/spam-heavy), and the same loop is "distance from
 * labeled gold data" on any entity graph. The reference has no graph
 * tier — beyond-reference addition.
 *
 * Semantics: synchronous frontier expansion. d(seed) = 0; round k
 * settles exactly the vertices first reachable in k hops (minimality
 * by induction — a vertex is settled the first round it appears, and
 * rounds expand one hop at a time). Directed by default (distance
 * along edge direction); `undirected = true` symmetrizes the edge
 * list once up front. Seeds absent from the graph still emit d = 0
 * rows (a seed is at distance 0 from itself whether or not it has
 * edges); unreached vertices emit NO row — distance is undefined,
 * and the caller's left join + coalesce picks its own sentinel.
 * Self-loops and parallel edges are harmless (they never relax
 * anything).
 *
 * Scale shape (100 TB link graph): the edge table is hash-partitioned
 * on src ONCE and persisted; each round joins only the FRONTIER
 * (vertices settled last round) against it, so total join work across
 * the whole run is O(E) — every edge is expanded exactly once, the
 * textbook BFS bound, not O(E·rounds). Only each round's FRONTIER is
 * stored, as a local checkpoint whose one write job also counts it
 * ([[graft.iteration.Loop.materialize]]); the settled set is a lazy
 * union of the flat checkpointed frontier legs (the per-round anti-join
 * reads that union, and each leg is already a LogicalRDD, so plan depth
 * stays O(1) per leg — the HITS lesson). Total checkpoint
 * MATERIALIZATION is therefore O(V), not the O(V·depth) a per-round
 * settled rewrite pays — on a CC-style 1,000-hop chain that is the
 * difference between writing the visited set once and writing it a
 * thousand times. Once there are [[graft.iteration.Loop.LeafBound]] (32)
 * legs, every leg but the frontier is compacted into a single checkpoint
 * and released, so the leg fan-in and per-round analysis stay bounded on
 * deep graphs (amortized materialization O(V·depth/32), still ~97% below
 * the per-round rewrite). Early-stops the round the frontier empties (that
 * empty frontier is released at once, and not counted as a round).
 *
 * Cache-release contract: the call runs under
 * [[graft.iteration.Loop.scoped]] and its (idOut, distOut) frame is
 * stored before the legs and the edge table are released, so after the
 * caller's `unpersist()`, or after a call that throws, nothing of the
 * call remains. Executor loss: see [[graft.iteration.Loop]].
 *
 * Exactly SQL-replayable: distances are INTEGERS and each round is a
 * min over (settled ∪ frontier-expansion) — the oracle replays k
 * rounds as chained CTEs with no float concerns (the LPA
 * integer-replay precedent).
 */
object Bfs {

  /**
   * @param edges    (src, dst) rows; any orderable vertex type.
   * @param seeds    one column of seed vertex ids (duplicates fine).
   * @param srcCol   edge-source column name.
   * @param dstCol   edge-destination column name.
   * @param seedCol  seed-id column name in `seeds`.
   * @param maxIter  hop cap: vertices farther than this emit no row.
   * @param undirected symmetrize edges before expanding.
   * @param idOut    output vertex-id column name.
   * @param distOut  output hop-distance column name (integer).
   * @return in `state`, one row per REACHED vertex: (idOut, distOut);
   *         `rounds` = non-empty frontiers settled (the seed round not
   *         counted) and, in `history`, their sizes.
   */
  def run(edges: DataFrame, seeds: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", seedCol: String = "id", maxIter: Int = 20,
      undirected: Boolean = false, idOut: String = "id",
      distOut: String = "distance"): LoopResult[DataFrame] = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")

    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e0 = if (undirected) fwd.union(
      edges.select(col(dstCol).as("src"), col(srcCol).as("dst"))) else fwd
    def union(legs: Seq[DataFrame]): DataFrame = legs.reduce(_ union _)
    Loop.scoped { stored =>
      val bySrc = stored.cache(e0.distinct().repartition(col("src")))
      def checkpointed(frontier: DataFrame): (DataFrame, Long) = {
        val (kept, size) = Loop.materialize(frontier, checkpoint = true, 0L)((c, _) => c + 1, _ + _)
        (stored(kept), size)
      }
      val (seeded, _) = checkpointed(seeds.select(col(seedCol).as("id")).distinct()
        .select(col("id"), lit(0).as("d")))
      // state: the settled set's legs, the frontier last; the criterion is
      // the frontier size, so an empty one stops the loop
      val result = Loop.iterate(Vector(seeded), TerminateOnMaxIterOrTol(maxIter, 0.0)) { (legs, k) =>
        // shuffle_hash on the settled side: the anti-join's build side
        // is the visited set — hashing it beats sort-merge's per-round
        // O(V log V) sort of the whole union (the frontier side is
        // usually far smaller than the settled set on deep graphs)
        val (next, size) = checkpointed(bySrc.join(legs.last.select(col("id").as("src")), "src")
          .select(col("dst").as("id")).distinct()
          .join(union(legs).hint("shuffle_hash"), Seq("id"), "left_anti")
          .select(col("id"), lit(k + 1).as("d")))
        if (size == 0) {
          Loop.release(next)
          (legs, Some(0.0))
        } else if (legs.size + 1 < Loop.LeafBound) (legs :+ next, Some(size.toDouble))
        else {
          val (compact, _) = checkpointed(union(legs))
          legs.foreach(Loop.release)
          (Vector(compact, next), Some(size.toDouble))
        }
      }
      val sizes = result.history.takeWhile(_ > 0)
      val out = union(result.state).select(col("id").as(idOut), col("d").as(distOut))
      LoopResult(Loop.keep(out), sizes.length, sizes)
    }
  }
}
