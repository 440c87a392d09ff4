package graft.dedup

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import graft.iteration.{Loop, LoopResult, TerminateOnMaxIterOrTol}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Distributed connected components over an edge list, used to group
 * near-duplicate pairs into clusters.
 *
 * Two distributed algorithms behind one surface:
 *
 *  - `minlabel`: iterative min-label propagation on the symmetrized
 *    edge list. Each round every vertex takes the minimum label among
 *    itself and its neighbors; convergence after O(graph diameter)
 *    rounds, one shuffle-join + map-side-combined min aggregate per
 *    round, and one job that stores the round and counts its changed
 *    labels. Right for LSH near-duplicate clusters, which are dense
 *    (diameter typically ≤ 3).
 *
 *  - `star` (the default distributed path): alternating
 *    large-star/small-star contraction (Kiveris et al., "Connected
 *    Components in MapReduce and Beyond", SOCC 2014). Each round
 *    rewires every vertex's larger neighbors (large-star) then its
 *    smaller neighbors (small-star) to the minimum of its closed
 *    neighborhood; components contract to stars centered at their
 *    minimum vertex in O(log n) rounds REGARDLESS of diameter — a
 *    path of length 1000 converges in ~10 rounds where min-label
 *    needs 1000.
 *
 * Scale notes (100 TB design): the edge list produced by an LSH
 * similarity join is orders of magnitude smaller than the corpus
 * (only colliding pairs under the distance threshold). Lineage is
 * truncated with a local checkpoint every round (star) or every fifth
 * (minlabel) so the plan does not grow with iterations. Both loops run
 * on [[graft.iteration.Loop.iterate]] under
 * [[graft.iteration.Loop.scoped]]: every round is stored by
 * [[graft.iteration.Loop.materialize]], whose one job also returns what
 * the driver needs to decide convergence, and released once the next
 * round is stored; the returned frame is stored by
 * [[graft.iteration.Loop.keep]], so after the caller's `unpersist`, or
 * after a call that throws, no cache or checkpoint of the call remains.
 * Executor loss: see [[graft.iteration.Loop]].
 */
object ConnectedComponents {

  /** Edge lists at or under this size run union-find on the driver:
    * an LSH dedup join typically leaves a few thousand edges, where
    * the distributed loop's per-iteration job overhead (join + agg +
    * convergence action, several rounds) costs seconds for work a
    * single core finishes in microseconds. Above the bound the
    * shuffle loop takes over unchanged. */
  val DriverEdgeLimit: Long = 1L << 20

  /**
   * @param edges DataFrame with two columns naming vertex pairs; any
   *              orderable vertex type (long ids, strings, ...).
   * @param algorithm distributed algorithm: "star" (alternating
   *        large-star/small-star, O(log n) rounds at any diameter),
   *        "minlabel" (O(diameter) rounds, slightly cheaper per
   *        round — fine for dense low-diameter dedup clusters).
   * @return in `state`, the frame (id, component) — one row per vertex
   *         that appears in `edges`; `component` is the minimum vertex
   *         id reachable from `id` (a canonical cluster representative).
   *         The distributed paths return it persisted (MEMORY_AND_DISK),
   *         the driver path as a local relation; callers may
   *         `unpersist()` it once consumed. `rounds` counts
   *         large-star+small-star passes (`star`) or label passes
   *         (`minlabel`), 0 on the driver path; `history` holds each
   *         round's changed-label count (`minlabel`) or, for `star`,
   *         the edge count of every round that moved the edge set and 0
   *         for the last round, which confirms the fixpoint; either way
   *         a converged call's history ends in 0.
   * @throws IllegalStateException if labels have not converged within
   *         `maxIter` rounds (labels spread one hop per round, so
   *         graphs with diameter > maxIter need a higher setting) —
   *         partial labels would silently under-deduplicate.
   */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 50, driverEdgeLimit: Long = DriverEdgeLimit,
      algorithm: String = "star"): LoopResult[DataFrame] = {
    require(algorithm == "star" || algorithm == "minlabel",
      s"unknown algorithm '$algorithm' (expected star or minlabel)")
    val symRaw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
    // persist + count only where they pay: the driver-path decision
    // needs the count (and the count doubles as the materializing
    // action), and minlabel reads sym twice (adj + labels). The star
    // path with the driver check disabled reads sym exactly ONCE
    // (into the first localCheckpoint), so persisting and counting it
    // there was a wasted cache build plus a wasted O(E) job per call.
    val checkDriver = driverEdgeLimit > 0
    val persisted = checkDriver || algorithm == "minlabel"
    Loop.scoped { stored =>
      // only a frame this call persisted is registered: releasing the
      // unpersisted symRaw would drop a caller's sameResult-equal cache
      val sym = if (persisted) stored(symRaw.persist(StorageLevel.MEMORY_AND_DISK)) else symRaw
      if (checkDriver && sym.count() <= driverEdgeLimit)
        LoopResult(runOnDriver(sym, edges.schema(edges.columns.indexOf(srcCol)).dataType), 0,
          Array.empty[Double])
      else if (algorithm == "star") runStar(sym, persisted, maxIter, stored)
      else runMinLabel(sym, maxIter, stored)
    }
  }

  /** Min-label propagation: every round each vertex takes the minimum
    * label of itself and its neighbors; the criterion is the round's
    * changed-label count, and the loop stops at 0. */
  private def runMinLabel(sym: DataFrame, maxIter: Int, stored: Loop.Stored): LoopResult[DataFrame] = {
    // edge table persisted HASH-PARTITIONED ON v, the per-round join
    // key (the PageRank/LabelPropagation discipline): each round then
    // joins the O(V) label table against it without re-exchanging the
    // O(E) edges — one setup exchange instead of one per round
    val adj = stored(sym.repartition(col("v")).persist(StorageLevel.MEMORY_AND_DISK))
    val labels0 = stored(sym.select(col("u").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK))

    val result = Loop.iterate(labels0, TerminateOnMaxIterOrTol(maxIter, 0.0)) { (labels, round) =>
      // min neighbor label per vertex (partial aggregation map-side)
      val nbrMin = adj.join(labels.select(col("id").as("v"), col("component")), "v")
        .groupBy(col("u").as("id")).agg(min("component").as("nbrMin"))
      // the round's frame carries its own `changed` flag, and the job
      // that stores it also counts the flags: one job per round decides
      // convergence. The state is always the stored frame itself:
      // releasing a projection of it would match no cache entry and
      // leak one O(V) cache per round.
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbrMin"), col("component"))).as("component"),
          coalesce(col("nbrMin") < col("component"), lit(false)).as("changed"))
      val (mat, changed) = Loop.materialize(next, checkpoint = (round + 1) % 5 == 0, 0L)(
        (n, r) => if (r.getBoolean(2)) n + 1 else n, _ + _)
      stored(mat)
      Loop.release(labels)
      (mat, Some(changed.toDouble))
    }
    if (!result.history.lastOption.contains(0.0))
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxIter rounds — component labels " +
          "would be partial (members of one cluster keeping different canonical ids). " +
          "Raise maxIter past the graph diameter.")
    result.copy(state = Loop.keep(result.state.select("id", "component")))
  }

  /**
   * Alternating large-star/small-star contraction (Kiveris et al.,
   * SOCC 2014). Works on a CANONICAL edge set (u, v) with u > v:
   *
   *  - large-star(u): m = min(Γ(u) ∪ {u}); rewire every neighbor
   *    v > u to m — emitted (v, m) keeps v > u ≥ m canonical.
   *  - small-star(u): over edges keyed by their larger endpoint, so
   *    Γ⁻(u) is all smaller; m = min(Γ⁻(u)); rewire every v ∈ Γ⁻(u)
   *    and u itself to m.
   *
   * Both preserve connectivity; a full round at least halves the
   * min-distance of every vertex, so components contract to stars
   * centered at their minimum in O(log n) rounds.
   *
   * Round structure: each star op is ONE `min(v) over (partition by u)`
   * window — one exchange, and every input row emits exactly one output
   * row, so neither op needs a self-join or a distinct of its own. One
   * `distinct` per round restores the edge SET. Small-star reads the
   * large-star output once, inside the same plan, so nothing between
   * them is persisted.
   *
   * Each round's edge set is local-checkpointed: the plan would
   * otherwise nest every earlier round. The job that writes the
   * checkpoint also folds an order-insensitive set signature (count,
   * xor of per-edge 64-bit hashes) — no separate aggregate job. Equal
   * signatures on two consecutive rounds mean a fixpoint up to a hash
   * collision, which the exact `except` rules out, so the expensive
   * check runs once, at the true final round. A round's checkpoint is
   * released once the next one is written and checked; the last one is
   * released once the returned (id, component) frame is stored.
   */
  private def runStar(sym: DataFrame, symStored: Boolean, maxIter: Int,
      stored: Loop.Stored): LoopResult[DataFrame] = {
    val byU = Window.partitionBy("u")
    def largeStar(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(col("u"), min("v").over(byU)))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    // the row holding m itself stands for u's own rewire (u, m)
    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min("v").over(byU))
        .select(when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
          col("m").as("v"))
    def checkpointed(e: DataFrame): (DataFrame, (Long, Long)) = {
      val (kept, sig) = Loop.materialize(e, checkpoint = true, (0L, 0L))(
        (s, r) => (s._1 + 1, s._2 ^ edgeHash(r.get(0), r.get(1))),
        (a, b) => (a._1 + b._1, a._2 ^ b._2))
      (stored(kept), sig)
    }

    val first = checkpointed(sym.where(col("u") > col("v")).select("u", "v"))
    if (symStored) Loop.release(sym)

    // the criterion is the round's edge count while the edge set moves,
    // and 0 for the round that confirms the fixpoint, which stops the loop
    val result = Loop.iterate(first, TerminateOnMaxIterOrTol(maxIter, 0.0)) {
      case ((edges, sig), _) =>
        val (next, nextSig) = checkpointed(smallStar(largeStar(edges)).distinct())
        val fixpoint = nextSig == sig && next.except(edges).isEmpty
        Loop.release(edges)
        ((next, nextSig), Some(if (fixpoint) 0.0 else nextSig._1.toDouble))
    }
    if (!result.history.lastOption.contains(0.0))
      throw new IllegalStateException(
        s"ConnectedComponents(star) did not converge within $maxIter rounds — " +
          "component labels would be partial. Raise maxIter (rounds grow with " +
          "log of the largest component, so this indicates a pathological input).")
    // the fixpoint is a star forest: one (member, center) row per member
    // (already a set), plus one (center, center) row per center
    val (edges, _) = result.state
    val out = Loop.keep(edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct()))
    LoopResult(out, result.rounds, result.history)
  }

  /** 64-bit hash of an edge for the set signature (splitmix64 finalizer
    * over both endpoints' hash codes). Only equal signatures matter, and
    * a collision is caught by the exact check, so any fixed mix serves. */
  private def edgeHash(u: Any, v: Any): Long = {
    var z = (u.##.toLong << 32) ^ (v.## & 0xffffffffL)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Union-find over a collected edge list; component = min member
    * (vertex values are boxed JVM types, all Comparable). */
  private def runOnDriver(sym: DataFrame, idType: DataType): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    @tailrec def root(x: Any): Any = {
      val p = parent.getOrDefault(x, x)
      if (p == x) x else root(p)
    }
    // path compression: every vertex on the way points at the root
    @tailrec def compress(x: Any, r: Any): Unit = {
      val p = parent.getOrDefault(x, x)
      if (p != r) { parent.put(x, r); compress(p, r) }
    }
    def find(x: Any): Any = { val r = root(x); compress(x, r); r }
    sym.collect().foreach { e =>
      val (u, v) = (e.get(0), e.get(1))
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent.put(ru, rv)
    }
    val byValue = Ordering.fromLessThan[Any](_.asInstanceOf[Comparable[Any]].compareTo(_) < 0)
    val rows = parent.keySet.asScala.toSeq.groupBy(find).values.flatMap { group =>
      val min = group.min(byValue)
      group.map(Row(_, min))
    }
    val schema = StructType(Seq(StructField("id", idType), StructField("component", idType)))
    sym.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
  }
}
