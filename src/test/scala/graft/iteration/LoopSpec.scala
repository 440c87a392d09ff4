package graft.iteration

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LoopSpec extends SparkSpec {

  test("TerminateOnMaxIter runs exactly maxIter rounds; zero runs none") {
    val r = Loop.iterate(0, TerminateOnMaxIter(5)) { (s, round) =>
      assert(s == round)
      (s + 1, None)
    }
    assert(r.rounds == 5 && r.state == 5 && r.history.isEmpty)
    val none = Loop.iterate(0, TerminateOnMaxIter(0)) { (s, _) => (s + 1, None) }
    assert(none.rounds == 0 && none.state == 0)
  }

  test("TerminateOnMaxIterOrTol stops at criterion <= tol — inclusive, per the reference") {
    // criterion sequence 4, 3, 2, 1 with tol = 2: the reference's
    // TerminateOnMaxIterOrTol terminates once a value is <= tol, so
    // the round REPORTING 2 is the last to run
    val r = Loop.iterate(4.0, TerminateOnMaxIterOrTol(100, 2.0)) { (s, _) =>
      (s - 1, Some(s))
    }
    assert(r.history.toSeq == Seq(4.0, 3.0, 2.0))
    assert(r.rounds == 3)
    // and maxIter still bounds it when tol never fires
    val capped = Loop.iterate(4.0, TerminateOnMaxIterOrTol(2, -1.0)) { (s, _) =>
      (s - 1, Some(s))
    }
    assert(capped.rounds == 2)
  }

  test("iterateDataFrame: persists rounds, truncates lineage, criterion sees cached frames") {
    import spark.implicits._
    val init = Seq(1, 2, 3).toDF("x")
    var criterionCalls = 0
    var cachedRounds = 0
    val r = Loop.iterateDataFrame(
      init, TerminateOnMaxIterOrTol(40, 0.0), checkpointEvery = 8,
      criterion = (_, cur) => {
        criterionCalls += 1
        // persist rounds report a storage level via the CacheManager;
        // localCheckpoint rounds (every 8th) don't register there, so
        // count rather than require all 40
        if (cur.storageLevel != org.apache.spark.storage.StorageLevel.NONE) cachedRounds += 1
        Some(1.0) // never <= tol: maxIter is what stops the loop
      }) { (df, _) => df.withColumn("x", col("x") + 1) }
    assert(r.rounds == 40 && criterionCalls == 40)
    assert(cachedRounds == 35, s"expected the 35 non-checkpoint rounds cached, got $cachedRounds")

    // plan depth bounded: after 40 rounds of withColumn the logical
    // plan would be >40 nodes without checkpointing
    val nodes = r.state.queryExecution.logical.collect { case n => n }.size
    assert(nodes < 20, s"plan has $nodes nodes — lineage not truncated")
    // and the data is right: 40 increments applied round-by-round
    val got = r.state.orderBy("x").as[Int].collect().toSeq
    assert(got == Seq(41, 42, 43))
  }

  test("iterateDataFrame: delta-convergence loop (shared-lineage join in the criterion)") {
    import spark.implicits._
    // state halves each round; criterion = sum |Δ| between consecutive
    // frames, exercising the prev/cur self-join on shared lineage
    val init = Seq(16.0, 32.0).toDF("v")
    val r = Loop.iterateDataFrame(
      init, TerminateOnMaxIterOrTol(50, 1.0), checkpointEvery = 4,
      criterion = (prev, cur) =>
        Some(prev.select(sum("v")).head().getDouble(0) -
          cur.select(sum("v")).head().getDouble(0))
    ) { (df, _) => df.select((col("v") / 2).as("v")) }
    // sums: 48 → 24 → 12 → 6 → 3 → 1.5 → 0.75; deltas 24,12,6,3,1.5,0.75
    // first delta <= 1.0 is 0.75 at round 6
    assert(r.rounds == 6)
    assert(math.abs(r.history.last - 0.75) < 1e-9)
    val vs = r.state.orderBy("v").as[Double].collect().toSeq
    assert(vs == Seq(16.0 / 64, 32.0 / 64))
  }

  test("append: one-leaf appends are cut on every LeafBound-th append, rows intact") {
    import spark.implicits._
    var grown = Seq(0).toDF("x")
    var lastCut = 0
    (1 to 100).foreach { i =>
      grown = Loop.append(grown, Seq(i).toDF("x"))
      val plan = grown.queryExecution.logical
      val leaves = plan.collectLeaves().size
      assert(leaves <= Loop.LeafBound, s"$leaves leaves after append $i")
      if (leaves == 1) {
        // a cut frame is one LogicalRDD, made on the LeafBound-th
        // append after the previous cut
        assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], plan.treeString)
        assert(i - lastCut == Loop.LeafBound, s"cut at append $i, previous at $lastCut")
        lastCut = i
      } else assert(leaves == i - lastCut + 1)
    }
    assert(lastCut == 3 * Loop.LeafBound)
    assert(grown.as[Int].collect().sorted.toSeq == (0 to 100))
  }

  test("fold reads a stored frame whose shared cache entry another holder released") {
    // two sameResult-equal frames share one cache entry, as the rounds of
    // two concurrent calls on one input do; the first holder's release
    // must not fail the second's fold
    def frame = spark.range(0, 10, 1, 2).select((col("id") + 1).as("x"))
    val other = frame.persist()
    other.count()
    val (kept, n) = Loop.materialize(frame, checkpoint = false, 0L)((c, _) => c + 1, _ + _)
    assert(n == 10L)
    other.unpersist(blocking = true)
    assert(Loop.fold(kept, 0L)((s, r) => s + r.getLong(0), _ + _) == 55L)
    Loop.release(kept)
  }
}
