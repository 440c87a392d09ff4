package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HitsSpec extends SparkSpec {

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Double)] =
    df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  /** In-memory reference: same synchronous L1-normalized iteration. */
  private def reference(edges: Seq[(Long, Long)], numIter: Int)
      : (Map[Long, Double], Map[Long, Double]) = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> 1.0 / nodes.size).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 0 until numIter) {
      val rawA = edges.groupBy(_._2).map { case (v, es) => v -> es.map(e => h(e._1)).sum }
      val za = rawA.values.sum
      a = nodes.map(v => v -> rawA.getOrElse(v, 0.0) / za).toMap
      val rawH = edges.groupBy(_._1).map { case (v, es) => v -> es.map(e => a(e._2)).sum }
      val zh = rawH.values.sum
      h = nodes.map(v => v -> rawH.getOrElse(v, 0.0) / zh).toMap
    }
    (h, a)
  }

  test("bipartite fixture: directory pages score hub-high, linked content authority-high") {
    import spark.implicits._
    // hubs 1,2 link both authorities; hub 3 links only 10
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L))
      .toDF("src", "dst")
    val res = Hits.run(edges, numIter = 8)
    val got = scores(res.state)
    assert(res.rounds == 8)
    // pure hubs have zero authority, pure authorities zero hub
    assert(got(1L)._2 == 0.0 && got(10L)._1 == 0.0)
    // both distributions sum to 1
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
    // orderings: 10 beats 11 (one more in-link), 1 == 2 beat 3
    assert(got(10L)._2 > got(11L)._2)
    assert(math.abs(got(1L)._1 - got(2L)._1) < 1e-15)
    assert(got(1L)._1 > got(3L)._1)
  }

  test("differential vs in-memory reference on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (s, d) => s != d }.distinct
    val got = scores(Hits.run(edges.toDF("src", "dst"), numIter = 5).state)
    val (refH, refA) = reference(edges, 5)
    refH.foreach { case (v, h) =>
      assert(math.abs(got(v)._1 - h) < 1e-12, s"hub($v): ${got(v)._1} vs $h") }
    refA.foreach { case (v, a) =>
      assert(math.abs(got(v)._2 - a) < 1e-12, s"auth($v): ${got(v)._2} vs $a") }
  }

  test("weights multiply votes; self-loops are legal; parallel edges accumulate") {
    import spark.implicits._
    val w = Seq((1L, 10L, 3.0), (2L, 11L, 1.0), (1L, 1L, 1.0)).toDF("src", "dst", "w")
    val got = scores(Hits.run(w, weightCol = "w", numIter = 4).state)
    assert(got(10L)._2 > got(11L)._2, "the weight-3 edge must dominate")
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
    // parallel edges == one edge of summed weight
    val par = Seq((1L, 10L), (1L, 10L), (1L, 10L), (2L, 11L)).toDF("src", "dst")
    val got2 = scores(Hits.run(par, numIter = 4).state)
    val wEq = Seq((1L, 10L, 3.0), (2L, 11L, 1.0)).toDF("src", "dst", "w")
    val got3 = scores(Hits.run(wEq, weightCol = "w", numIter = 4).state)
    got2.foreach { case (v, (h, a)) =>
      assert(math.abs(h - got3(v)._1) < 1e-15 && math.abs(a - got3(v)._2) < 1e-15) }
  }

  test("checkpoint rounds (numIter > CheckpointEvery) and output naming") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Hits.run(edges, numIter = 9, idOut = "v", hubOut = "hb", authOut = "au").state
    assert(out.columns.toSeq == Seq("v", "hb", "au"))
    // a directed 3-cycle is perfectly symmetric: all scores equal
    val got = out.collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(got.forall { case (h, a) =>
      math.abs(h - 1.0 / 3) < 1e-12 && math.abs(a - 1.0 / 3) < 1e-12 })
  }

  test("guards: empty edges, non-positive weights, non-numeric weights") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Hits.run(Seq.empty[(Long, Long)].toDF("src", "dst"), numIter = 1).state
    }
    // the first half-step's job raises: the call must release what it stored
    val residue = residueOf {
      intercept[Exception] {
        Hits.run(Seq((1L, 2L, 0.0)).toDF("src", "dst", "w"),
          weightCol = "w", numIter = 1).state.collect()
      }
    }
    assert(residue == (Set.empty, false), s"a failing run left (RDDs, cache entry) $residue")
    // a string weight that doesn't parse must RAISE, not cast to null
    // and silently drop the edge inside sum()
    intercept[Exception] {
      Hits.run(Seq((1L, 2L, "oops")).toDF("src", "dst", "w"),
        weightCol = "w", numIter = 1).state.collect()
    }
  }

  test("tol early-stop: a uniform complete-bipartite graph converges after 2 iterations") {
    import spark.implicits._
    // hubs {1,2} each link authorities {10,11}: from iteration 2 on
    // both vectors are the exact fixed point, so the L1 delta is 0
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val early = Hits.run(edges, numIter = 20, tol = 1e-9)
    val got = scores(early.state)
    assert(early.rounds < 20, s"converged graph must stop early, ran ${early.rounds}")
    assert(early.rounds >= 2)
    // one hub delta per round, the last one under tol
    assert(early.history.length == early.rounds && early.history.last < 1e-9)
    // early-stopped scores equal the full-run fixed point
    val full = scores(Hits.run(edges, numIter = 20).state)
    got.foreach { case (v, (h, a)) =>
      assert(math.abs(h - full(v)._1) < 1e-12 && math.abs(a - full(v)._2) < 1e-12) }
    // tol = 0 (default) keeps the exact-replay contract: all rounds run
    assert(Hits.run(edges, numIter = 7).rounds == 7)
  }

  test("nothing outlives run() plus the caller's unpersist") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 5L)).toDF("src", "dst")
    for (tol <- Seq(0.0, 1e-12)) {
      // every half-step's checkpoint is registered here until freed
      val residue = residueOf {
        val out = Hits.run(edges, numIter = 5, tol = tol).state
        assert(out.count() == 5)
        out.unpersist(blocking = true)
      }
      assert(residue == (Set.empty, false), s"tol=$tol left (RDDs, cache entry) $residue")
    }
  }
}
