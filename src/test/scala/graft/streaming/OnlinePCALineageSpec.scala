package graft.streaming

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.iteration.Loop

/**
 * Long-run lineage behavior of OnlinePCAModel.update — the
 * foreachBatch surface. Each update unions one version row onto the
 * model stream; without Loop.append's local checkpoint the plan
 * (and Catalyst re-analysis) grows per batch — quadratic total work
 * over a days-long stream. Also pins the round-14 storage contract:
 * the exact-resume moments (sum/gram) live ONLY on the latest
 * version row, so model data is O(#versions·k·d), not O(#versions·d²).
 */
class OnlinePCALineageSpec extends SparkSpec {

  private def batchDf(seed: Int): DataFrame = {
    import spark.implicits._
    (0 until 6).map { i =>
      val x = ((seed * 31 + i) % 7 - 3).toDouble / 3.0
      (Vectors.dense(x, 2.0 * x + (i % 5) * 0.9, -x + (i % 3) * 1.7): Vector)
    }.map(Tuple1(_)).toDF("vec").coalesce(1)
  }

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case n => n }.size

  test("many foreachBatch updates: bounded plan depth via CompactEvery localCheckpoint") {
    var model = new OnlinePCAModel().setInputCol("vec").setOutputCol("proj")
    model.set(model.k, 2)
    val rounds = Loop.LeafBound * 3 + 5 // forces 3 compactions
    val batch = batchDf(0).persist()
    batch.count()
    var maxSinceCompact = 0
    var b = 0
    while (b < rounds) {
      model = model.update(batch, windowEndMs = 1000L + b)
      if (b % 8 == 0 || b == rounds - 1) {
        val nodes = planNodes(model.getModelData.head)
        if (nodes > maxSinceCompact) maxSinceCompact = nodes
      }
      b += 1
    }
    batch.unpersist(blocking = false)
    // each un-compacted update adds a union + two moment-stripping
    // projections over the checkpoint leaf; unbounded lineage would
    // be >300 nodes here
    assert(maxSinceCompact <= Loop.LeafBound * 4 + 8,
      s"plan grew to $maxSinceCompact nodes — lineage not being compacted")
    // the stream itself is intact: one row per version, latest wins
    val md = model.getModelData.head
    assert(md.count() == rounds.toLong)
    assert(md.orderBy(col("version").desc).head().getAs[Long]("version") == rounds - 1L)
  }

  test("moments live only on the latest version row (fit and update)") {
    import spark.implicits._
    // 3-dim, matching batchDf so the update() chain below type-checks
    val input = (0 until 30).map { i =>
      val x = i * 0.5 + (i % 7) * 0.3
      (i.toLong, Vectors.dense(x, 2.0 * x + (i % 5) * 0.9, -x + (i % 3) * 1.7): Vector)
    }.toDF("ts", "vec")
    val fitted = new OnlinePCA().setInputCol("vec").setK(2)
      .setWindows(CountTumblingWindows(10)).setTimeCol("ts").fit(input)
    val rows = fitted.getModelData.head.orderBy("version").collect()
    assert(rows.length == 3)
    rows.init.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Double]]("sum").isEmpty &&
        r.getAs[scala.collection.Seq[Double]]("gram").isEmpty,
        s"non-latest version ${r.getAs[Long]("version")} still carries moments")
    }
    val last = rows.last
    assert(last.getAs[scala.collection.Seq[Double]]("sum").size == 3)
    assert(last.getAs[scala.collection.Seq[Double]]("gram").size == 6)

    // update() strips the superseded row and equips the new latest
    val up = fitted.update(batchDf(1), windowEndMs = 99L)
    val rows2 = up.getModelData.head.orderBy("version").collect()
    assert(rows2.length == 4)
    rows2.init.foreach(r =>
      assert(r.getAs[scala.collection.Seq[Double]]("gram").isEmpty))
    assert(rows2.last.getAs[scala.collection.Seq[Double]]("gram").size == 6)

    // and resume-from-persisted still reproduces the chained update
    // exactly (the moments round-trip through the latest row only)
    val loaded = new OnlinePCAModel().setModelData(up.getModelData.head)
      .setInputCol("vec")
    loaded.set(loaded.k, 2)
    val a = loaded.update(batchDf(2), windowEndMs = 100L)
      .getModelData.head.orderBy(col("version").desc).head()
    val b = up.update(batchDf(2), windowEndMs = 100L)
      .getModelData.head.orderBy(col("version").desc).head()
    a.getAs[scala.collection.Seq[Double]]("eigenvalues")
      .zip(b.getAs[scala.collection.Seq[Double]]("eigenvalues"))
      .foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
  }

  test("versioned projection tie-break: equal windowEndMs resolves to the earliest version") {
    import spark.implicits._
    var model = new OnlinePCAModel().setInputCol("vec").setOutputCol("proj")
    model.set(model.k, 1)
    // three updates with the SAME (default) windowEndMs: versions
    // 0,1,2 all at Long.MaxValue — the as-of search must pick v0
    model = model.update(batchDf(0))
    model = model.update(batchDf(1))
    model = model.update(batchDf(2))
    val m = model.setMaxAllowedModelDelayMs(0L)
    m.set(m.timeCol, "ts")
    val rows = Seq((5L, Vectors.dense(1.0, 0.5, -0.3): Vector)).toDF("ts", "vec")
    val out = m.transform(rows).head.select("version").head().getLong(0)
    assert(out == 0L, s"tied windowEndMs must resolve to the earliest version, got $out")
  }
}
