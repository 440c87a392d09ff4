package graft.graph

import graft.iteration.{Loop, LoopResult, TerminateOnMaxIterOrTol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/**
 * Synchronous label propagation (Raghavan, Albert & Kumara 2007,
 * "Near linear time algorithm to detect community structures in
 * large-scale networks") — community detection over an edge list, the
 * third member of the graph tier next to [[PageRank]] and
 * [[graft.dedup.ConnectedComponents]]. A crawl-curation pipeline uses
 * it to group hosts/pages into link communities (spam farms and
 * mirror rings cluster; topical neighborhoods emerge) — structure CC
 * cannot see (it merges everything reachable) and PageRank does not
 * expose (it ranks, it does not partition). The reference has no
 * graph tier — beyond-reference addition.
 *
 * Deterministic semantics (exact, replayable in SQL):
 *   label₀(v) = v
 *   label_{t+1}(v) = the most frequent label among v's neighbors,
 *                    ties broken by the SMALLEST label; vertices with
 *                    no neighbors keep their current label.
 * Neighbor multiplicity counts (parallel edges are stronger votes);
 * self-loops are dropped (a self-vote would freeze the start state).
 * By default the graph is treated as UNDIRECTED (edges symmetrized —
 * the standard LPA setting); `directed = true` propagates along edge
 * direction only. Synchronous updates can 2-cycle on bipartite
 * structures — `numIter` bounds the loop, and the result's `rounds`
 * shows whether the early stop (no label changed) fired instead.
 *
 * Scale shape (100 TB link graph): the symmetrized edge table
 * persists HASH-PARTITIONED ON src, so every iteration's label join
 * reuses that partitioning and only the O(V) label table shuffles per
 * round; the (dst, label) vote count is map-side combined; the
 * argmax-with-min-tiebreak is two O(V·distinct-neighbor-labels)
 * aggregates, no window over raw edges. Each round's frame carries
 * its own `changed` flag, and the one job that stores the round
 * ([[graft.iteration.Loop.materialize]]) counts the flags — the early
 * stop costs no job of its own (the minlabel ConnectedComponents
 * round). A round is released once its successor is stored, and a
 * local checkpoint every few rounds keeps the plan flat.
 *
 * Cache-release contract: the (idOut, labelOut) frame is stored before
 * every internal cache and checkpoint is released, so after the
 * caller's `unpersist()` nothing of the call remains.
 * Executor loss: see [[graft.iteration.Loop]].
 *
 * Semantic communities at scale (the SemDeDup-shaped composition):
 * build the edge list with
 * [[graft.dedup.CosineDeduplicator.edges]] (banded sign-LSH
 * candidates + exact-cosine filter — brute-force kNN is O(n²) and
 * stops being an option past ~1e5 vectors) and feed it here.
 * Community recovery needs HIGHER pair recall than pair-dedup: a
 * block fragments when its connecting edges are missed together
 * (band weakness is correlated through the cluster centroid), so
 * turn the recall knob via MORE BANDS (linear cost), not fewer bits
 * (collision count grows 4× per 2 bits). Measured at 200k×64 with
 * 16 bands × 16 bits: per-pair recall 0.993, 12 / 200k mislabeled
 * (`ScaleUp semantic_communities`, BASELINE row).
 */
object LabelPropagation {

  private val CheckpointEvery = 4

  /**
   * @param weightCol optional edge-weight column; "" = unweighted
   *                  (every edge votes 1). Weighted votes generalize
   *                  the multiplicity rule: a neighbor's label counts
   *                  its incident edges' total weight — the natural
   *                  setting when edges carry similarity scores (e.g.
   *                  a cosine-kNN graph). Weights must be positive.
   *                  Determinism caveat: vote counts are double SUMs,
   *                  so the exact-replay guarantee above holds for
   *                  INTEGER-VALUED weights (every partial sum exactly
   *                  representable); with float weights a near-tie is
   *                  ulp-sensitive to accumulation order and argmax
   *                  results can differ run-to-run at the margin.
   * @return in `state`, (idOut, labelOut) — one row per vertex; `rounds`
   *         run and, in `history`, each round's changed-label count.
   */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      numIter: Int = 10, directed: Boolean = false, weightCol: String = "",
      idOut: String = "id", labelOut: String = "label"): LoopResult[DataFrame] = {
    require(numIter > 0, s"numIter must be positive, got $numIter")

    // the guard tests the CASTED value for null, so a non-numeric
    // string weight raises like a non-positive one instead of casting
    // to null and silently dropping the edge inside sum()
    val w =
      if (weightCol.isEmpty) lit(1.0)
      else {
        val wd = col(weightCol).cast("double")
        when(wd.isNull || wd <= 0.0,
            raise_error(concat(
              lit(s"LabelPropagation: non-positive/null/non-numeric weight in '$weightCol' on edge "),
              col(srcCol).cast("string"), lit(" -> "), col(dstCol).cast("string")))
              .cast("double"))
          .otherwise(wd)
      }
    Loop.scoped { stored =>
      // distinct() already leaves the table hash-partitioned on id — an
      // explicit repartition(id) on top would be a second identical
      // exchange of the same O(V) rows. label₀(v) = v, stored and counted
      // in one job.
      val (labels0, n) = Loop.materialize(
        edges.select(col(srcCol).as("id")).union(edges.select(col(dstCol).as("id")))
          .distinct().withColumn("lab", col("id")),
        checkpoint = false, 0L)((c, _) => c + 1, _ + _)
      stored(labels0)
      require(n > 0, "LabelPropagation on an empty edge list is undefined")

      val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
        .where(col("src") =!= col("dst")) // self-votes would freeze the start state
      val sym =
        if (directed) raw
        else raw.union(raw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      // partitioned on src: the per-iteration label join reuses this,
      // only the O(V) label table shuffles per round
      val adj = stored.cache(sym.repartition(col("src")))

      // argmax with min-label tiebreak. Labels are vertex ids, so for
      // integral ids ONE aggregation does it: max over (cnt, ~lab) struct
      // ordering picks the highest count and, on ties, the smallest label
      // (A/B at 2.5M vertices / 10M edges: the generic two-aggregation path
      // re-shuffles the vote table per round). Bitwise NOT, not negation:
      // ~x = -x-1 is a strictly DECREASING bijection over the whole signed
      // domain, so hash-derived ids at Long.MinValue stay exact where -x
      // would overflow (silently in non-ANSI mode, an error under ANSI).
      // Non-integral ids fall back to max-count-then-min-label.
      val integralLabels = labels0.schema("lab").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      // the criterion is the round's changed-label count: stop at 0
      val result = Loop.iterate(labels0, TerminateOnMaxIterOrTol(numIter, 0.0)) { (labels, round) =>
        // votes: neighbor labels arriving at each dst — edge-weight sums
        // (multiplicity when unweighted: every edge votes 1.0)
        val votes = adj.join(labels.select(col("id").as("src"), col("lab")), "src")
          .groupBy(col("dst").as("id"), col("lab"))
          .agg(sum("w").as("cnt"))
        val picked =
          if (integralLabels)
            votes.groupBy("id")
              .agg(max(struct(col("cnt").as("c"), bitwise_not(col("lab")).as("nl"))).as("m"))
              .select(col("id"), bitwise_not(col("m.nl")).as("newLab"))
          else {
            val best = votes.groupBy("id").agg(max("cnt").as("mc"))
            votes.join(best, "id")
              .where(col("cnt") === col("mc"))
              .groupBy("id").agg(min("lab").as("newLab"))
          }
        val next = labels.join(picked, Seq("id"), "left")
          .select(col("id"), coalesce(col("newLab"), col("lab")).as("lab"),
            coalesce(col("newLab") =!= col("lab"), lit(false)).as("changed"))
        val (mat, changed) = Loop.materialize(next, checkpoint = (round + 1) % CheckpointEvery == 0,
          0L)((c, r) => if (r.getBoolean(2)) c + 1 else c, _ + _)
        stored(mat)
        Loop.release(labels)
        (mat, Some(changed.toDouble))
      }
      val last = result.state
      result.copy(state = Loop.keep(last.select(col("id").as(idOut), col("lab").as(labelOut))))
    }
  }
}
