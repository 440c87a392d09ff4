package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LabelPropagationSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("disjoint cliques converge to the clique-min label and early-stop") {
    import spark.implicits._
    // two 4-cliques: {0,1,2,3} and {10,11,12,13} (one direction per
    // pair; symmetrization is the operator's job)
    val cliques = for {
      base <- Seq(0L, 10L)
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j)
    val edges = cliques.toDF("src", "dst")
    val res = LabelPropagation.run(edges, numIter = 10)
    val got = labelsOf(res.state)
    res.state.unpersist()
    (0L to 3L).foreach(v => assert(got(v) == 0L, s"vertex $v"))
    (10L to 13L).foreach(v => assert(got(v) == 10L, s"vertex $v"))
    assert(res.rounds < 10, "no-change early stop should fire")
    // the changed-label count of every round, the last one 0
    assert(res.history.length == res.rounds && res.history.last == 0.0)
    // concurrent calls each report their own rounds: the path 0-1-2
    // oscillates, so each runs exactly its numIter
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val calls = Seq(2, 5).map(n => Future {
      val r = LabelPropagation.run(path, numIter = n)
      r.state.unpersist()
      r.rounds
    })
    assert(calls.map(Await.result(_, 5.minutes)) == Seq(2, 5))
  }

  test("extreme ids: Long.MinValue label survives the one-aggregation tiebreak") {
    import spark.implicits._
    // hash-derived ids can be ANY long. A negation-based tiebreak
    // (-lab) overflows on MinValue; the bitwise-not form must pick it
    // as the min label exactly. Clique {MinValue, MaxValue, 7}: every
    // vertex's neighbor-label argmax ties and must resolve to MinValue.
    val mn = Long.MinValue
    val mx = Long.MaxValue
    val edges = Seq((mn, mx), (mn, 7L), (mx, 7L)).toDF("src", "dst")
    val got = labelsOf(LabelPropagation.run(edges, numIter = 4).state)
    assert(got.values.toSet == Set(mn),
      s"triangle must converge to the min label Long.MinValue, got $got")
  }

  test("synchronous updates are deterministic, including 2-cycles") {
    import spark.implicits._
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    // path 0-1-2 oscillates: [1,0,1] -> [0,1,0] -> [1,0,1] ...
    val r1 = labelsOf(LabelPropagation.run(path, numIter = 1).state)
    assert(r1 == Map(0L -> 1L, 1L -> 0L, 2L -> 1L))
    val r2 = labelsOf(LabelPropagation.run(path, numIter = 2).state)
    assert(r2 == Map(0L -> 0L, 1L -> 1L, 2L -> 0L))
    val r3 = labelsOf(LabelPropagation.run(path, numIter = 3).state)
    assert(r3 == r1, "period-2 oscillation must replay exactly")
  }

  test("directed propagation follows edge direction; self-loops are dropped") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (5L, 5L)).toDF("src", "dst")
    val directed = labelsOf(LabelPropagation.run(edges, numIter = 5, directed = true).state)
    // 0 has no in-edges -> keeps 0; 1 adopts 0; 5 only self-loops -> keeps 5
    assert(directed == Map(0L -> 0L, 1L -> 0L, 5L -> 5L))
    val undirected = labelsOf(LabelPropagation.run(edges, numIter = 2).state)
    // undirected 0<->1 swaps labels each round: after 2 rounds back home
    assert(undirected == Map(0L -> 0L, 1L -> 1L, 5L -> 5L))
  }

  test("weighted votes: heavier edges outvote multiplicity; guards reject bad weights") {
    import spark.implicits._
    // 2 hears label 0 over two weight-1 edges and label 1 over one
    // weight-5 edge: weighted LPA must pick 1 where unweighted picks 0
    val edges = Seq((0L, 2L, 1.0), (0L, 2L, 1.0), (1L, 2L, 5.0)).toDF("src", "dst", "w")
    val weighted = LabelPropagation.run(edges, numIter = 1, directed = true,
      weightCol = "w").state
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted(2L) == 1L)
    val unweighted = labelsOf(LabelPropagation.run(edges, numIter = 1, directed = true).state)
    assert(unweighted(2L) == 0L)
    var e: Exception = null
    // the first round's job raises: the call must release what it stored
    val residue = residueOf {
      e = intercept[Exception] {
        LabelPropagation.run(Seq((0L, 1L, 0.0)).toDF("src", "dst", "w"),
          numIter = 1, weightCol = "w").state.collect()
      }
    }
    assert(residue == (Set.empty, false), s"a failing run left (RDDs, cache entry) $residue")
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("non-positive")), causes(e).mkString(" | "))
    // a string weight that doesn't parse must RAISE (ANSI cast error
    // or the guard's own message), not cast to null and silently drop
    // the edge inside sum()
    intercept[Exception] {
      LabelPropagation.run(Seq((0L, 1L, "oops")).toDF("src", "dst", "w"),
        numIter = 1, weightCol = "w").state.collect()
    }
  }

  /** In-memory reference: same semantics, dense maps. */
  private def referenceLpa(edges: Seq[(Long, Long)], numIter: Int,
      directed: Boolean): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val raw = edges.filter(e => e._1 != e._2)
    val sym = if (directed) raw else raw ++ raw.map(e => (e._2, e._1))
    val in = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var labels = nodes.map(v => v -> v).toMap
    var iter = 0
    var converged = false
    while (iter < numIter && !converged) {
      val next = nodes.map { v =>
        in.get(v) match {
          case None => v -> labels(v)
          case Some(srcs) =>
            val counts = srcs.map(labels).groupBy(identity).view.mapValues(_.size)
            val mc = counts.values.max
            v -> counts.collect { case (lab, c) if c == mc => lab }.min
        }
      }.toMap
      converged = next == labels
      labels = next
      iter += 1
    }
    labels
  }

  test("differential: random graphs match the in-memory reference exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3; directed <- Seq(false, true)) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val want = referenceLpa(edges, numIter = 4, directed = directed)
      val got = labelsOf(LabelPropagation.run(
        edges.toDF("src", "dst"), numIter = 4, directed = directed).state)
      assert(got == want, s"trial=$trial directed=$directed")
    }
  }

  test("parallel edges vote with multiplicity; output columns renamable") {
    import spark.implicits._
    // vertex 2 hears label 0 twice (parallel edges) and label 1 once:
    // multiplicity must win over the smaller label only via count
    val edges = Seq((0L, 2L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val out = LabelPropagation.run(edges, numIter = 1, directed = true,
      idOut = "vertex", labelOut = "community").state
    assert(out.columns.toSeq == Seq("vertex", "community"))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 0L)
    // tie at multiplicity 1 each -> min label: rebuild with single edges
    val tie = Seq((0L, 2L), (1L, 2L)).toDF("src", "dst")
    val gotTie = labelsOf(LabelPropagation.run(tie, numIter = 1, directed = true).state)
    assert(gotTie(2L) == 0L)
  }

  test("nothing outlives run() plus the caller's unpersist") {
    import spark.implicits._
    // the path oscillates, so all 5 rounds run, one of them a checkpoint
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val residue = residueOf {
      val out = LabelPropagation.run(path, numIter = 5).state
      assert(labelsOf(out) == Map(0L -> 1L, 1L -> 0L, 2L -> 1L))
      out.unpersist(blocking = true)
    }
    assert(residue == (Set.empty, false), s"left (RDDs, cache entry) $residue")
  }
}
