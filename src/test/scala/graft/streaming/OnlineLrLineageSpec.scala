package graft.streaming

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/**
 * Long-run lineage behavior of OnlineLogisticRegressionModel.update —
 * the foreachBatch surface (StreamingTrainer calls exactly this per
 * micro-batch). Each update unions one version row onto the model
 * stream; without Loop.append's local checkpoint, plan depth (and
 * the Catalyst re-analysis inside latestRow) grows per batch — O(n²)
 * total work and a stack-overflow risk over a thousand-batch run.
 * Reference semantics: OnlineLogisticRegressionModel.java:68 (the
 * model stream is unbounded; the runtime must not degrade with its
 * length).
 */
class OnlineLrLineageSpec extends SparkSpec {

  private def batchDf(seed: Int): DataFrame = {
    import spark.implicits._
    // four deterministic rows, one partition: the smallest batch that
    // still exercises the gradient treeReduce
    val rows = (0 until 4).map { i =>
      val x = ((seed * 31 + i) % 7 - 3).toDouble / 3.0
      val label = if (x > 0) 1.0 else 0.0
      (x, label)
    }
    rows.toDF("x", "label").coalesce(1)
      .select(org.apache.spark.ml.functions.array_to_vector(array(col("x"), col("x") * 0.5))
        .as("features"), col("label"), lit(1.0).as("w"))
  }

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case n => n }.size

  test("1000 foreachBatch updates: bounded plan depth and flat per-update wall time") {
    val init = OnlineLogisticRegressionModel.zeroInit(spark, 2)
    var model = new OnlineLogisticRegressionModel().setModelData(init)
    model.set(model.reg, 0.01); model.set(model.elasticNet, 0.5)
    model.set(model.alpha, 0.1); model.set(model.beta, 1.0)

    val n = 1000
    // one persisted batch reused for every update: the lineage being
    // probed is the MODEL stream's, not the input's, and a fresh
    // DataFrame per iteration would just re-measure Catalyst analysis
    // of the input plan
    val batch = batchDf(0).persist()
    batch.count()
    val times = new Array[Double](n)
    var maxNodes = 0
    var b = 0
    while (b < n) {
      val t0 = System.nanoTime()
      model = model.update(batch, "features", "label", "w", 1000L + b)
      times(b) = (System.nanoTime() - t0) / 1e6
      if (b % 25 == 0 || b == n - 1) {
        val nodes = planNodes(model.getModelData.head)
        if (nodes > maxNodes) maxNodes = nodes
      }
      b += 1
    }
    batch.unpersist(blocking = false)

    // plan depth stays bounded: the chain never holds more than
    // Loop.LeafBound leaves. Unbounded lineage would be >3000 nodes here.
    assert(maxNodes < 300, s"plan grew to $maxNodes nodes — lineage not being compacted")

    // wall time stays flat: compare medians of an early (post-JIT)
    // window and the final window. O(n²) lineage would make the last
    // hundred ~10× the first; allow 3× for environmental noise.
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val early = median(times.slice(100, 200))
    val late = median(times.slice(n - 100, n))
    assert(late < early * 3.0,
      f"per-update wall time grew: median ms early=$early%.1f late=$late%.1f")

    // the stream itself retains every version: 1000 updates + v0
    val versions = model.getModelData.head.select("version").collect().map(_.getLong(0))
    assert(versions.length == n + 1)
    assert(versions.min == 0L && versions.max == n.toLong)
  }

  test("fit: null event times coalesce to 'unobserved' — never raise a batch stamp") {
    import spark.implicits._
    // batch 1 has a real max ts 5000 plus a null; batch 2 is all-null
    // → stamped Long.MinValue, never servable under delay gating
    val df = Seq(
      (Some(5000L), 1.0, 1.0), (None, -1.0, 0.0),
      (None, 1.0, 1.0), (None, -1.0, 0.0))
      .toDF("ts", "x", "label")
      .select(col("ts"),
        org.apache.spark.ml.functions.array_to_vector(array(col("x"))).as("features"),
        col("label"))
    val est = new OnlineLogisticRegression()
      .setFeaturesCol("features").setLabelCol("label").setTimeCol("ts")
      .setInitialModelData(OnlineLogisticRegressionModel.zeroInit(spark, 1))
    est.set(est.globalBatchSize, 2)
    val model = est.fit(df)
    val stream = model.getModelData.head.orderBy("version").collect()
    assert(stream.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // v1's stamp is the batch max over coalesced times: 5000 beats MinValue
    assert(stream(1).getAs[Long]("modelTimeMs") == 5000L)
    // v2's batch was all-null → MinValue
    assert(stream(2).getAs[Long]("modelTimeMs") == Long.MinValue)

    // under delay gating, v2 never serves: a late probe gets v1 or nothing
    val probes = Seq(0L, 999999L).toDF("ts")
      .select(col("ts"), org.apache.spark.ml.functions.array_to_vector(array(lit(1.0)))
        .as("features"))
    val scored = model.setMaxAllowedModelDelayMs(0L).setTimeCol("ts")
      .setModelVersionCol("ver").transform(probes).head.orderBy("ts").collect()
    assert(scored(0).getAs[Long]("ver") == 1L)
    assert(scored(1).getAs[Long]("ver") == -1L)
  }

  test("versioned scoring: a null event-time row gets null predictions and version -1") {
    import spark.implicits._
    val init = OnlineLogisticRegressionModel.zeroInit(spark, 1)
    val m0 = new OnlineLogisticRegressionModel().setModelData(init)
    m0.set(m0.reg, 0.0); m0.set(m0.elasticNet, 0.0)
    m0.set(m0.alpha, 0.1); m0.set(m0.beta, 1.0)
    val batch = Seq((1.0, 1.0)).toDF("x", "label")
      .select(org.apache.spark.ml.functions.array_to_vector(array(col("x"))).as("features"),
        col("label"), lit(1.0).as("w"))
    val m1 = m0.update(batch, "features", "label", "w", 1000L)
    val probes = Seq(Some(1000L), None).toDF("ts")
      .select(col("ts"), org.apache.spark.ml.functions.array_to_vector(array(lit(1.0)))
        .as("features"))
    val scored = m1.setMaxAllowedModelDelayMs(0L).setTimeCol("ts")
      .setModelVersionCol("ver").transform(probes).head
      .select("ts", "ver", "prediction", "rawPrediction").collect()
    val byTs = scored.map(r => Option(r.get(0)) -> r).toMap
    val ok = byTs(Some(1000L))
    assert(ok.getLong(1) == 1L && ok.getDouble(2) == 1.0)
    val nul = byTs(None)
    assert(nul.getLong(1) == -1L, "null ts must yield the documented -1 version, not null")
    assert(nul.get(2) == null && nul.get(3) == null)
  }
}
