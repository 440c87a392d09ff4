package graft.dedup

import org.apache.spark.ml.linalg.Vectors
import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("ConnectedComponents: chain and singleton clusters get min-id labels") {
    import spark.implicits._
    // 1-2-3 chain, 10-11 pair, 20-20 self loop (degenerate, dropped)
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("NgramJaccardJoin: exact pairs above threshold, nothing lost to prefix filtering") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f")),
      (2L, Seq("a b c", "b c d", "c d e", "x y z")),  // J(1,2) = 3/5 = 0.6
      (3L, Seq("a b c", "q r s", "t u v", "w x y")),  // J(1,3) = 1/7
      (4L, Seq("p q r"))                               // disjoint
    ).toDF("doc_id", "shingles")
    val out = new NgramJaccardJoin().setIdCol("doc_id").setInputCol("shingles")
      .setThreshold(0.5)
      .transform(df).head
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set((1L, 2L, 0.6)))
    // lower threshold surfaces the weak pair too — exactness check
    val loose = new NgramJaccardJoin().setIdCol("doc_id").setInputCol("shingles")
      .setThreshold(0.1)
      .transform(df).head
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("CosineDeduplicator clusters near-parallel embeddings and keeps distinct ones") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0)),   // ~parallel to 1 → duplicate
      (3L, Seq(2.0, 0.0, 0.001)),    // scaled ≈ 1 → duplicate (cosine is scale-free)
      (9L, Seq(0.0, 1.0, 0.0))       // orthogonal → unique
    ).toDF("doc_id", "arr")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.ml.functions.array_to_vector(
          org.apache.spark.sql.functions.col("arr")).as("vec"))
    val out = new CosineDeduplicator()
      .setIdCol("doc_id").setInputCol("vec")
      .setSeed(7L).setNumHashTables(12).setNumPlanes(4).setMinSimilarity(0.99)
      .transform(df).head
      .select("doc_id", "canonical_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, true), (9L, 9L, false)))
  }

  test("ConnectedComponents throws instead of returning partial labels at maxIter") {
    import spark.implicits._
    // a 6-vertex path has diameter 5: min-label spreads one hop per
    // round, so maxIter=2 cannot converge. driverEdgeLimit=0 forces
    // the distributed loop (the driver fast path needs no iterations).
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(chain, maxIter = 2, driverEdgeLimit = 0,
        algorithm = "minlabel").state
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("ConnectedComponents distributed loops (star and minlabel) match the driver fast path") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 3L), (20L, 21L)).toDF("src", "dst")
    val driver = ConnectedComponents.run(edges).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = ConnectedComponents.run(edges, driverEdgeLimit = 0).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minlabel = ConnectedComponents.run(edges, driverEdgeLimit = 0,
        algorithm = "minlabel").state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(driver === star)
    assert(driver === minlabel)
    assert(driver === Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("ConnectedComponents star contraction: long chain converges in O(log n) rounds") {
    import spark.implicits._
    // a 64-hop path (diameter 64): min-label needs 64+ rounds; the
    // alternating large-star/small-star contraction needs ~log2(65)
    val chain = (100L until 164L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = ConnectedComponents.run(chain, driverEdgeLimit = 0, maxIter = 15)
    val got = cc.state.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (100L to 164L).map(i => (i, 100L)).toSet)
    assert(cc.rounds <= 10, s"star took ${cc.rounds} rounds on a 64-chain")
  }

  test("ConnectedComponents star matches driver union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val driver = ConnectedComponents.run(edges).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = ConnectedComponents.run(edges, driverEdgeLimit = 0).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === driver)
  }

  test("ConnectedComponents: nothing outlives run() plus the caller's unpersist") {
    import spark.implicits._
    val chain = (100L until 120L).map(i => (i, i + 1)).toDF("src", "dst")
    for (algorithm <- Seq("star", "minlabel")) {
      // every round's cache and checkpoint is registered here until freed
      val left = residueOf {
        val out = ConnectedComponents.run(chain, driverEdgeLimit = 0, algorithm = algorithm).state
        assert(out.collect().map(_.getLong(1)).toSet == Set(100L), algorithm)
        out.unpersist(blocking = true)
      }
      assert(left == (Set.empty, false), s"$algorithm left (RDDs, cache entry) $left")
      // a call that does not converge throws and leaves nothing either
      val residue = residueOf {
        intercept[IllegalStateException] {
          ConnectedComponents.run(chain, maxIter = 2, driverEdgeLimit = 0, algorithm = algorithm)
        }
      }
      assert(residue == (Set.empty, false), s"$algorithm: a failing run left $residue")
    }
  }

  test("ConnectedComponents star works on string vertex ids") {
    import spark.implicits._
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val got = ConnectedComponents.run(edges, driverEdgeLimit = 0).state
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")))
  }

  test("MinHashDeduplicator groups near-identical shingle sets and flags non-canonical members") {
    import spark.implicits._
    val shared = (0 until 19).toArray
    val df = Seq(
      (5L, Vectors.sparse(100, shared :+ 30, Array.fill(20)(1.0))),
      (7L, Vectors.sparse(100, shared :+ 40, Array.fill(20)(1.0))), // dist to 5 = 1-19/21 ≈ 0.095
      (9L, Vectors.sparse(100, Array(50, 51, 52), Array.fill(3)(1.0)))
    ).toDF("doc_id", "vec")
    val out = new MinHashDeduplicator()
      .setIdCol("doc_id").setInputCol("vec")
      .setSeed(2022L).setNumHashTables(10).setThreshold(0.2)
      .transform(df).head
      .select("doc_id", "canonical_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set((5L, 5L, false), (7L, 5L, true), (9L, 9L, false)))
  }
}
