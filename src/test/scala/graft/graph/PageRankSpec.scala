package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  /** Dense reference power iteration (same semantics: uniform init,
    * dangling mass redistributed, weighted shares). */
  private def reference(edges: Seq[(Long, Long, Double)], d: Double,
      iters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = Array.fill(n)((1.0 - d) / n)
      val danglingMass = nodes.filterNot(outW.contains).map(v => r(idx(v))).sum
      for (i <- nodes.indices) next(i) += d * danglingMass / n
      // aggregate parallel edges like the operator does (sum of weights)
      edges.groupBy(e => (e._1, e._2)).foreach { case ((u, v), es) =>
        val w = es.map(_._3).sum
        next(idx(v)) += d * r(idx(u)) * w / outW(u)
      }
      r = next
    }
    nodes.map(v => v -> r(idx(v))).toMap
  }

  private def runOn(edges: Seq[(Long, Long, Double)], d: Double = 0.85,
      iters: Int = 20, weighted: Boolean = false, tol: Double = 0.0): Map[Long, Double] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w")
    PageRank.run(df, "src", "dst", dampingFactor = d, numIter = iters,
        tol = tol, weightCol = if (weighted) "w" else "").state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("star graph: the hub collects the rank; ranks sum to 1") {
    // 1..5 -> 0; 0 is dangling (mass redistributed)
    val edges = (1L to 5L).map(i => (i, 0L, 1.0))
    val got = runOn(edges, iters = 30)
    val want = reference(edges, 0.85, 30)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"node $v") }
    assert(got(0L) > got(1L) * 3, got)
    assert((1L to 5L).map(got).distinct.size == 1) // symmetric leaves tie
  }

  test("chain + cycle + dangling matches the dense reference") {
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), // cycle
      (3L, 4L, 1.0), (4L, 5L, 1.0),                // tail ending in dangling 5
      (6L, 3L, 1.0), (6L, 3L, 1.0))                // parallel edges aggregate
    for (iters <- Seq(1, 3, 17)) {
      val got = runOn(edges, iters = iters)
      val want = reference(edges, 0.85, iters)
      got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"iters=$iters node $v") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("weighted edges shift rank toward the heavy destination") {
    val edges = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
    val got = runOn(edges, iters = 25, weighted = true)
    val want = reference(edges, 0.85, 25)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"node $v") }
    assert(got(2L) > got(3L) * 2, got)
    // unweighted on the same rows treats 2 and 3 symmetrically
    val un = runOn(edges, iters = 25, weighted = false)
    assert(math.abs(un(2L) - un(3L)) < 1e-12, un)
  }

  test("self-loops are legal; tol stops early") {
    import spark.implicits._
    val edges = Seq((1L, 1L, 1.0), (1L, 2L, 1.0), (2L, 1L, 1.0))
    val got = runOn(edges, iters = 40)
    val want = reference(edges, 0.85, 40)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12) }
    val rounds = PageRank.run(edges.toDF("src", "dst", "w"), numIter = 500, tol = 1e-10).rounds
    assert(rounds < 200, s"tol did not stop early: $rounds")
  }

  test("caller unpersist releases the rank cache; nothing else leaks per run") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    spark.sharedState.cacheManager.clearCache()
    // numIter = 5: the final round is a persist round -> the result's
    // same-order rename projection sameResult-matches the cache entry
    val out = PageRank.run(edges, numIter = 5, idOut = "vertex", rankOut = "score").state
    assert(out.columns.toSeq == Seq("vertex", "score"))
    assert(out.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the returned rename projection must see the final rank cache")
    out.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "internal caches must all be released by run() + caller unpersist " +
        "(the r12 ADVICE leak class)")
    // numIter = 4: the final round localCheckpoints instead -> no cache
    // manager entry exists at all, even before the caller unpersists
    val out4 = PageRank.run(edges, numIter = 4).state
    assert(out4.count() == 4)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a checkpoint-final run must leave no cache-manager entries behind")
  }

  test("two runs give bit-identical ranks") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .toDF("src", "dst").repartition(3)
    def ranks(): Map[Long, Double] = {
      val out = PageRank.run(edges, numIter = 6).state
      val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      out.unpersist()
      got
    }
    val (a, b) = (ranks(), ranks())
    assert(a.keySet == b.keySet)
    a.foreach { case (v, r) =>
      assert(java.lang.Double.doubleToRawLongBits(r) ==
        java.lang.Double.doubleToRawLongBits(b(v)), s"node $v: $r vs ${b(v)}")
    }
  }

  test("guards: bad damping, empty graph, non-positive weight") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      PageRank.run(Seq((1L, 2L)).toDF("src", "dst"), dampingFactor = 1.0).state
    }
    intercept[IllegalArgumentException] {
      PageRank.run(Seq.empty[(Long, Long)].toDF("src", "dst")).state
    }
    val e = intercept[Exception] {
      PageRank.run(Seq((1L, 2L, 0.0)).toDF("src", "dst", "w"),
        weightCol = "w", numIter = 2).state.collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("non-positive")), causes(e).mkString(" | "))
    // a string weight that doesn't parse must RAISE (ANSI cast error
    // or the guard's own message), not cast to null and silently drop
    // the edge inside sum()
    intercept[Exception] {
      PageRank.run(Seq((1L, 2L, "oops")).toDF("src", "dst", "w"),
        weightCol = "w", numIter = 2).state.collect()
    }
  }

  /** Dense reference PERSONALIZED power iteration: r0 = p,
    * r' = (1-d)p + d(contribs + D·p), p = 1/|seeds| on seeds. */
  private def referencePersonalized(edges: Seq[(Long, Long, Double)],
      seeds: Set[Long], d: Double, iters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val s = nodes.count(seeds.contains)
    val p = nodes.map(v => if (seeds.contains(v)) 1.0 / s else 0.0).toArray
    var r = p.clone()
    for (_ <- 0 until iters) {
      val danglingMass = nodes.filterNot(outW.contains).map(v => r(idx(v))).sum
      val next = nodes.indices.map(i => (1.0 - d) * p(i) + d * danglingMass * p(i)).toArray
      edges.groupBy(e => (e._1, e._2)).foreach { case ((u, v), es) =>
        val w = es.map(_._3).sum
        next(idx(v)) += d * r(idx(u)) * w / outW(u)
      }
      r = next
    }
    nodes.map(v => v -> r(idx(v))).toMap
  }

  test("personalized: matches the dense reference; mass 1; seeds dominate") {
    import spark.implicits._
    // two loosely-linked triangles; seed only the first
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L)).map { case (a, b) => (a, b, 1.0) }
    val seeds = Seq(0L).toDF("id")
    val got = PageRank.runPersonalized(edges.toDF("src", "dst", "w"), seeds,
        numIter = 25).state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referencePersonalized(edges, Set(0L), 0.85, 25)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"node $v") }
    // the seeded triangle holds most of the mass
    assert(Seq(0L, 1L, 2L).map(got).sum > Seq(10L, 11L, 12L).map(got).sum)
  }

  test("personalized: seeding EVERY vertex equals classic PageRank") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (1L, 3L, 1.0))
    val classic = runOn(edges, iters = 15)
    val all = Seq(1L, 2L, 3L).toDF("id")
    val ppr = PageRank.runPersonalized(edges.toDF("src", "dst", "w"), all, numIter = 15).state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    classic.foreach { case (v, r) => assert(math.abs(r - ppr(v)) < 1e-12, s"node $v") }
  }

  test("personalized: seeds outside the graph are ignored; all-outside raises") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0)).toDF("src", "dst", "w")
    // 30 iterations: the 2-cycle's oscillation has damped by then and
    // the seed holds the larger stationary share (0.54 vs 0.46)
    val got = PageRank.runPersonalized(edges, Seq(1L, 99L).toDF("id"), numIter = 30).state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(1L) > got(2L)) // 99 ignored, 1 is the only seed
    intercept[IllegalArgumentException] {
      PageRank.runPersonalized(edges, Seq(99L).toDF("id"), numIter = 5).state
    }
  }
}
