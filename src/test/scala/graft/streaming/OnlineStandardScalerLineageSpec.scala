package graft.streaming

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.iteration.Loop

/**
 * Long-run lineage behavior of OnlineStandardScalerModel.update — the
 * foreachBatch surface. Each update appends one version row to the model
 * stream through Loop.append, so the plan stays within Loop.LeafBound
 * leaves however many batches arrive, and the cuts change no version.
 * An update pays for its batch's aggregate only: the model carries its
 * version and moments, so it never re-reads its own stream.
 */
class OnlineStandardScalerLineageSpec extends SparkSpec {

  // three integer-valued rows per batch: every moment sum is exact in
  // double, so the streamed and the windowed-fit arithmetic agree exactly
  private def batchRows(b: Int): Seq[(Long, Vector)] = (0 until 3).map { i =>
    (b * 3L + i, Vectors.dense(((b * 7 + i * 3) % 11).toDouble, (b % 5 - i).toDouble))
  }

  private def frame(rows: Seq[(Long, Vector)]): DataFrame = {
    import spark.implicits._
    rows.toDF("ts", "vec")
  }

  test("3 x LeafBound + 5 updates: bounded plan, one row per version, exact moments") {
    val rounds = Loop.LeafBound * 3 + 5
    var model = new OnlineStandardScalerModel().setInputCol("vec")
    (0 until rounds).foreach { b =>
      model = model.update(frame(batchRows(b)))
      val leaves = model.getModelData.head.queryExecution.logical.collectLeaves().size
      assert(leaves <= Loop.LeafBound, s"stream carries $leaves leaves after ${b + 1} updates")
    }
    val got = model.getModelData.head.orderBy("version").collect()
    assert(got.map(_.getLong(0)).toSeq == (0L until rounds.toLong))

    // the same rows appended with plain `union` and fitted in count
    // windows of one batch: the same versions by the windowed path
    val plain = (0 until rounds).map(b => frame(batchRows(b))).reduce(_ union _)
    val expected = new OnlineStandardScaler().setInputCol("vec")
      .setWindows(CountTumblingWindows(3)).fit(plain)
      .getModelData.head.orderBy("version").collect()
    assert(expected.length == rounds)
    got.zip(expected).foreach { case (g, e) =>
      assert(g.getLong(2) == e.getLong(2))
      for (c <- Seq("mean", "std")) {
        val (gv, ev) = (g.getAs[Vector](c).toArray, e.getAs[Vector](c).toArray)
        gv.zip(ev).foreach { case (x, y) =>
          assert(math.abs(x - y) <= 1e-12, s"version ${g.getLong(0)} $c: $x vs $y")
        }
      }
    }
  }

  /** Count, mean and std after each of `batches`, folded on the driver. */
  private def referenceMoments(
      batches: Seq[Seq[(Long, Vector)]]): Seq[(Long, Seq[Double], Seq[Double])] =
    batches.indices.map { b =>
      val xs = batches.take(b + 1).flatten.map(_._2.toArray)
      val n = xs.length
      val dim = xs.head.length
      val s = Array.tabulate(dim)(d => xs.map(_(d)).sum)
      val ss = Array.tabulate(dim)(d => xs.map(x => x(d) * x(d)).sum)
      val mean = s.map(_ / n)
      val std = Array.tabulate(dim) { d =>
        math.sqrt(math.max((ss(d) - n * mean(d) * mean(d)) / (n - 1), 0.0))
      }
      (n.toLong, mean.toSeq, std.toSeq)
    }

  private def assertMoments(model: OnlineStandardScalerModel,
      expected: Seq[(Long, Seq[Double], Seq[Double])]): Unit = {
    val got = model.getModelData.head.orderBy("version").collect()
    assert(got.map(_.getLong(0)).toSeq == expected.indices.map(_.toLong))
    got.zip(expected).foreach { case (g, (n, mean, std)) =>
      assert(g.getLong(2) == n)
      for ((c, e) <- Seq("mean" -> mean, "std" -> std))
        g.getAs[Vector](c).toArray.zip(e).foreach { case (x, y) =>
          assert(math.abs(x - y) <= 1e-12, s"version ${g.getLong(0)} $c: $x vs $y")
        }
    }
  }

  test("update: 2 jobs after the first; a loaded model recovers its state once") {
    val batches = (0 until 8).map(batchRows)
    var model = new OnlineStandardScalerModel().setInputCol("vec")
    // the batch's moment aggregate (its exchange, then the collect); the
    // version and count come from the model, not from a read of its frame
    val jobs = batches.take(4).map(b => jobsOf { model = model.update(frame(b)) })
    assert(jobs.tail.forall(_ == 2), s"jobs per update: $jobs")
    assertMoments(model, referenceMoments(batches.take(4)))

    val path = tmpDir()
    model.save(path)
    var loaded = OnlineStandardScalerModel.load(spark, path)
    val loadedJobs = batches.drop(4).map(b => jobsOf { loaded = loaded.update(frame(b)) })
    // the first update after a load reads the latest version once
    assert(loadedJobs == Seq(3, 2, 2, 2), s"jobs per update after a load: $loadedJobs")
    assertMoments(loaded, referenceMoments(batches))
  }
}
