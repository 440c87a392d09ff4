package graft.graph

import graft.iteration.{Loop, LoopResult, TerminateOnMaxIterOrTol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Distributed PageRank over an edge list (Brin & Page 1998) — the
 * link-graph centrality primitive a crawl-curation pipeline ranks
 * hosts/pages with (Common Crawl publishes exactly this as its
 * host-level ranking). Sits next to
 * [[graft.dedup.ConnectedComponents]] as this engine's second graph
 * operator; the reference has no graph tier at all — beyond-reference
 * addition.
 *
 * Semantics (the standard formulation, dangling mass redistributed
 * uniformly): with damping d over N vertices,
 *
 *   r₀(v) = 1/N
 *   r_{t+1}(v) = (1−d)/N + d·( Σ_{(u,v)∈E} r_t(u)·w(u,v)/out(u) + D_t/N )
 *
 * where out(u) is u's total out-weight (edge COUNT when unweighted —
 * parallel edges contribute multiply) and D_t = Σ r_t(u) over DANGLING
 * vertices (no out-edges), so every iteration's ranks sum to 1 — the
 * probability-distribution invariant that makes ranks comparable
 * across graphs. Self-loops are legal and kept.
 *
 * Scale shape (100 TB link graph): the edge table is aggregated once
 * to (src, dst, share = w/out) and persisted HASH-PARTITIONED ON src —
 * every iteration's rank join then reuses that partitioning, so only
 * the O(V) rank table shuffles per round, never the O(E) edges; the
 * per-destination contribution sum is map-side combined to O(V) rows.
 * The node table is built by one groupBy(id) exchange and carries each
 * vertex's dangling flag into the rank frame, so the dangling mass
 * needs no join: the one job that stores round t
 * ([[graft.iteration.Loop.materialize]]) also sums D_t for round t+1,
 * in partition order, so two runs give bit-identical ranks. Lineage is
 * cut with a local checkpoint every few rounds, never in the last one
 * (the ConnectedComponents lesson: iterative plans must not nest). The
 * loop runs on [[graft.iteration.Loop.iterate]] under
 * [[graft.iteration.Loop.scoped]]: a round is released once its
 * successor is stored, checkpoint rounds included, and a call that
 * throws leaves nothing stored. A round after a released checkpoint,
 * and the result, therefore cannot be rebuilt once a cached block of
 * theirs is lost: the running call, or a later read of the result,
 * fails instead of recomputing (see [[graft.iteration.Loop]]).
 */
object PageRank {

  private val CheckpointEvery = 4

  /**
   * @param edges     (src, dst [, weight]) rows; any orderable vertex type.
   * @param dampingFactor classic 0.85.
   * @param numIter   fixed iteration count (deterministic replay).
   * @param tol       when > 0, stop early once Σ|r_{t+1} − r_t| < tol
   *                  (checked with one extra O(V) aggregate per round;
   *                  an early stop stores the final (id, r) table with
   *                  one more job).
   * @param weightCol optional edge-weight column name; "" = unweighted.
   *                  Weights must be positive (zero/negative raise).
   * @param idOut     output vertex-id column name (callers that would
   *                  otherwise rename via a `.select` projection should
   *                  pass the final name here instead — see @return).
   * @param rankOut   output rank column name.
   * @return in `state`, (idOut, rankOut) — one row per vertex appearing
   *         in `edges`; ranks sum to 1. `rounds` is the rounds run and
   *         `history` each checked round's L1 delta (tol > 0 only). The
   *         frame is stored, as every graph operator's result is, and
   *         nothing else of the call remains after its `unpersist()`. It
   *         is a same-order rename of the stored final rank table, so
   *         callers must NOT re-project it with a different column ORDER
   *         before unpersisting (a reordered projection matches no cache
   *         entry; rename through idOut/rankOut instead).
   */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      dampingFactor: Double = 0.85, numIter: Int = 20, tol: Double = 0.0,
      weightCol: String = "", idOut: String = "id",
      rankOut: String = "pagerank"): LoopResult[DataFrame] =
    runImpl(edges, srcCol, dstCol, dampingFactor, numIter, tol, weightCol,
      idOut, rankOut, teleport = None)

  /**
   * PERSONALIZED PageRank (Haveliwala, "Topic-Sensitive PageRank",
   * WWW 2002): the teleport distribution concentrates on a SEED SET
   * instead of being uniform —
   *
   *   r₀(v) = p(v),  r_{t+1}(v) = (1−d)·p(v) + d·( Σ contribs + D_t·p(v) )
   *
   * with p(v) = 1/|S| for seeds, 0 elsewhere (dangling mass also
   * returns to the seeds — ranks still sum to 1). The seed-relative
   * centrality a crawl-curation pipeline ranks hosts with when it has
   * a trusted whitelist: "how reachable is this page from pages I
   * already trust" — the seed-expansion primitive for quality-biased
   * corpus selection.
   *
   * @param seeds   one column of vertex ids (`seedCol`); duplicates
   *                ignored. Seeds that do not appear in `edges` are
   *                ignored (they have no edges to spread rank through);
   *                at least one seed must be present in the graph.
   * Other params and the result's storage: see [[run]].
   */
  def runPersonalized(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "id", dampingFactor: Double = 0.85,
      numIter: Int = 20, tol: Double = 0.0, weightCol: String = "",
      idOut: String = "id", rankOut: String = "pagerank"): LoopResult[DataFrame] =
    runImpl(edges, srcCol, dstCol, dampingFactor, numIter, tol, weightCol,
      idOut, rankOut, teleport = Some((seeds, seedCol)))

  private def runImpl(edges: DataFrame, srcCol: String, dstCol: String,
      dampingFactor: Double, numIter: Int, tol: Double,
      weightCol: String, idOut: String, rankOut: String,
      teleport: Option[(DataFrame, String)]): LoopResult[DataFrame] = {
    require(dampingFactor > 0.0 && dampingFactor < 1.0,
      s"dampingFactor must be in (0, 1), got $dampingFactor")
    require(numIter > 0, s"numIter must be positive, got $numIter")
    val d = dampingFactor

    // the guard tests the CASTED value for null, so a non-numeric
    // string weight raises like a non-positive one instead of casting
    // to null and silently dropping the edge inside sum()
    val w =
      if (weightCol.isEmpty) lit(1.0)
      else {
        val wd = col(weightCol).cast("double")
        when(wd.isNull || wd <= 0.0,
            raise_error(concat(lit(s"PageRank: non-positive/null/non-numeric weight in '$weightCol' on edge "),
              col(srcCol).cast("string"), lit(" -> "), col(dstCol).cast("string")))
              .cast("double"))
          .otherwise(wd)
      }

    Loop.scoped { stored =>
      // (src, dst, share) with share = w / out(src); parallel edges keep
      // their multiplicity through the weight sum. Partitioned on src so
      // the per-iteration rank join never reshuffles the edge table.
      // out(src) is a WINDOW sum over the merged edge table rather than
      // a groupBy + self-join: the window's hash(src) exchange IS the
      // partitioning the loop needs, so setup pays two exchanges total
      // (the (src,dst) merge, then src) instead of four (merge, the
      // outW groupBy, re-exchange of the merged table for the join, and
      // the explicit repartition) — round-16 measurement, setup-bound
      // queries (numIter=3 graph rows) drop ~15-20%. The window sums the
      // identical merged per-(src,dst) weights, but its accumulation
      // ORDER differs from the old groupBy+join (row order after the
      // hash exchange vs partial-agg merge order), so shares agree only
      // within FP tolerance — do not rely on bit identity here; the
      // declared queries round at 1e-10, far above ulp drift.
      val agg = edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      val srcWindow = org.apache.spark.sql.expressions.Window.partitionBy("src")
      val shares = stored(agg
        .withColumn("share", col("w") / sum("w").over(srcWindow))
        .select(col("src"), col("dst"), col("share"))
        .persist(StorageLevel.MEMORY_AND_DISK))

      // ONE node table (id, dangling[, seed]), persisted HASH-PARTITIONED
      // ON id by its single groupBy(id) exchange: every vertex, whether it
      // has no out-edge, and — personalized — whether it is a seed (seed
      // rows carry a null `out`, so seeds outside the graph drop out). The
      // per-round join against it reuses that partitioning (the rank table
      // inherits it through the join), so only the rank→src shuffle moves
      // data each round; and the rank frame carries the dangling flag, so
      // no round joins a dangling table.
      val personalized = teleport.isDefined
      val endpoints = edges.select(col(srcCol).as("id"), lit(true).as("out"))
        .union(edges.select(col(dstCol).as("id"), lit(false).as("out")))
      val dangling = (!bool_or(col("out"))).as("dangling")
      val flagged = teleport match {
        case None => endpoints.groupBy("id").agg(dangling)
        case Some((seedDf, seedCol)) =>
          endpoints.withColumn("seed", lit(false))
            .union(seedDf.select(col(seedCol).as("id"), lit(null).cast("boolean").as("out"),
              lit(true).as("seed")))
            .groupBy("id").agg(dangling, bool_or(col("seed")).as("seed"))
            .where(col("dangling").isNotNull)
      }
      // (vertices, teleport vertices, dangling teleport vertices) in the
      // job that stores the table; classic teleport is every vertex
      val (nodes, (n, s, danglingSeeds)) = Loop.materialize(flagged, checkpoint = false,
        (0L, 0L, 0L))(
        (a, r) => {
          val seed = !personalized || r.getBoolean(2)
          (a._1 + 1, if (seed) a._2 + 1 else a._2, if (seed && r.getBoolean(1)) a._3 + 1 else a._3)
        },
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      stored(nodes)
      require(n > 0, "PageRank on an empty edge list is undefined")
      require(s > 0, "personalized PageRank: no seed appears in the graph")

      // teleport p: uniform 1/n (classic), or 1/|seeds∩graph| on the seed
      // set and 0 elsewhere (personalized)
      val p =
        if (personalized) when(col("seed"), lit(1.0 / s)).otherwise(lit(0.0))
        else lit(1.0 / n)
      // r₀ = p, a projection of the cached node table; D₀ = Σ p over the
      // dangling vertices. The criterion is the round's L1 delta (tol > 0
      // only); TerminateOnMaxIterOrTol stops at delta ≤ its tol, and one
      // ulp below `tol` makes that delta < tol, the documented rule
      val ranks0 = nodes.select(col("id"), p.as("r"), col("dangling"))
      val result = Loop.iterate((ranks0, danglingSeeds.toDouble / s),
          TerminateOnMaxIterOrTol(numIter, math.nextDown(tol))) { case ((ranks, danglingMass), iter) =>
        val contribs = shares.join(ranks.select(col("id").as("src"), col("r")), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum(col("share") * col("r")).as("c"))
        // the uniform branch keeps the EXACT r12 expression ((1-d)/n and
        // dm/n as divisions): x/n and x*(1/n) differ at the ulp level,
        // and the classic path's oracle parity (ROUND(r, 10) after 3
        // iterations) is pinned to the division form
        val rankExpr =
          if (personalized)
            lit(1.0 - d) * p + lit(d) * (coalesce(col("c"), lit(0.0)) + lit(danglingMass) * p)
          else
            lit((1.0 - d) / n) +
              lit(d) * (coalesce(col("c"), lit(0.0)) + lit(danglingMass / n))
        // the last round stores exactly (id, r), never as a checkpoint: the
        // returned rename projection below matches its cache entry, so it
        // is the call's result and not registered. The others keep the
        // flag, and the job that stores the round sums the next round's
        // dangling mass
        val last = iter == numIter - 1
        val next = nodes.join(contribs, Seq("id"), "left")
          .select(Seq(col("id"), rankExpr.as("r")) ++ (if (last) Nil else Seq(col("dangling"))): _*)
        val (mat, nextMass) = Loop.materialize(next,
          checkpoint = !last && (iter + 1) % CheckpointEvery == 0, 0.0)(
          (m, r) => if (!last && r.getBoolean(2)) m + r.getDouble(1) else m, _ + _)
        if (!last) stored(mat)
        // a delta job that throws must not leave the unregistered last
        // round stored (releasing a registered round again is a no-op)
        val delta =
          try {
            if (tol > 0.0)
              Some(mat.join(ranks.select(col("id"), col("r").as("r0")), "id")
                .agg(sum(abs(col("r") - col("r0")))).head().getDouble(0))
            else None
          } catch { case e: Throwable => Loop.release(mat); throw e }
        if (iter > 0) Loop.release(ranks)
        ((mat, nextMass), delta)
      }
      // tol stopped the loop before its last round: store (id, r) now
      val ranks =
        if (result.rounds < numIter) Loop.keep(result.state._1.select("id", "r"))
        else result.state._1
      // SAME-ORDER pure-rename projection, deliberately: canonicalization
      // collapses such a Project, so the returned plan sameResult-matches
      // the final rank table's cache entry — result.storageLevel reports
      // it and result.unpersist() genuinely releases it (probed on Spark
      // 4.1.2: a REORDERED projection does NOT collapse and its unpersist
      // silently leaks the cache, which is why the rename happens here,
      // through idOut/rankOut, and not at call sites). Persisting this
      // projection instead would be worse than useless: the persist
      // no-ops against the sameResult-matching entry and an internal
      // unpersist would then drop the caller's data out from under it.
      LoopResult(ranks.select(col("id").as(idOut), col("r").as(rankOut)), result.rounds,
        result.history)
    }
  }
}
