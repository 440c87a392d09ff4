package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BfsSpec extends SparkSpec {

  private def dists(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("chain with shortcuts: hop distance is the min path, ceil(i/2)") {
    import spark.implicits._
    val chain = (0L until 9L).map(i => (i, i + 1))
    val shortcuts = (0L until 8L).map(i => (i, i + 2))
    val seeds = Seq(0L).toDF("id")
    val got = dists(Bfs.run((chain ++ shortcuts).toDF("src", "dst"), seeds).state)
    assert(got == (0L to 9L).map(i => i -> ((i + 1) / 2).toInt).toMap)
  }

  test("multi-source takes the minimum over seeds; early stop fires") {
    import spark.implicits._
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val res = Bfs.run(chain, Seq(0L, 10L).toDF("id"), maxIter = 20)
    val got = dists(res.state)
    (0L to 15L).foreach { i =>
      val want = if (i < 10) i.toInt else (i - 10).toInt
      assert(got(i) == want, s"d($i): ${got(i)} vs $want")
    }
    assert(res.rounds < 20, "a settled graph must early-stop")
  }

  test("directed vs undirected; unreached vertices emit no row; edge-less seeds emit d=0") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val directed = dists(Bfs.run(e, Seq(2L).toDF("id")).state)
    assert(directed == Map(2L -> 0)) // 1 unreached against the arrow
    val undirected = dists(Bfs.run(e, Seq(2L).toDF("id"), undirected = true).state)
    assert(undirected == Map(2L -> 0, 1L -> 1))
    // a seed absent from the edge list is still at distance 0
    val lonely = dists(Bfs.run(e, Seq(99L).toDF("id")).state)
    assert(lonely == Map(99L -> 0))
  }

  test("maxIter caps the horizon; self-loops and parallel edges are harmless") {
    import spark.implicits._
    val chain = (0L until 9L).map(i => (i, i + 1)) ++
      Seq((3L, 3L), (0L, 1L), (0L, 1L))
    val res = Bfs.run(chain.toDF("src", "dst"), Seq(0L).toDF("id"), maxIter = 3)
    assert(dists(res.state) == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    assert(res.rounds == 3)
  }

  test("differential vs in-memory BFS on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (s, d) => s != d }.distinct
    val seeds = Seq(0L, 7L)
    // reference BFS
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var ref = seeds.map(_ -> 0).toMap
    var front = seeds.toSet
    var k = 0
    while (front.nonEmpty && k < 20) {
      k += 1
      val next = front.flatMap(v => adj.getOrElse(v, Nil)).filterNot(ref.contains)
      next.foreach(v => ref += v -> k)
      front = next
    }
    val got = dists(Bfs.run(edges.toDF("src", "dst"), seeds.toDF("id"), maxIter = 20).state)
    assert(got == ref)
  }

  test("deep chain crosses the settled-compaction boundary exactly") {
    import spark.implicits._
    // 40 hops > compactEvery (32): distances must stay exact through
    // the lazy-union legs AND the periodic compaction checkpoint
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val res = Bfs.run(chain, Seq(0L).toDF("id"), maxIter = 64)
    assert(dists(res.state) == (0L to 40L).map(i => i -> i.toInt).toMap)
    assert(res.rounds == 40)
    // one frontier per round, in order: a chain settles one vertex a hop
    assert(res.history.toSeq == Seq.fill(40)(1.0))
  }

  test("guards: maxIter must be positive") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Bfs.run(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L).toDF("id"), maxIter = 0).state
    }
    // repartitioned, so the raise fires in the seed frame's store job
    val badSeeds = Seq(1L, -1L).toDF("id").repartition(2)
      .select(when($"id" < 0L, raise_error(lit("bad seed")).cast("long")).otherwise($"id").as("id"))
    val residue = residueOf {
      intercept[Exception](Bfs.run(Seq((1L, 2L)).toDF("src", "dst"), badSeeds).state)
    }
    assert(residue == (Set.empty, false), s"a failing run left (RDDs, cache entry) $residue")
  }

  test("nothing outlives run() plus the caller's unpersist") {
    import spark.implicits._
    // 40 hops: frontier legs, one compaction, and the empty last frontier
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val residue = residueOf {
      val out = Bfs.run(chain, Seq(0L).toDF("id"), maxIter = 64).state
      assert(out.count() == 41)
      out.unpersist(blocking = true)
    }
    assert(residue == (Set.empty, false), s"left (RDDs, cache entry) $residue")
  }
}
