package graft.streaming

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Online logistic regression trained with the FTRL-Proximal optimizer
 * over mini-batches.
 * Reference: classification/logisticregression/OnlineLogisticRegression.java:86;
 * gradient (per-dimension mean) :355-395, FTRL update :292-320:
 *   σ_i = (√(n_i + g_i²) − √n_i) / α
 *   z_i += g_i − σ_i·w_i ;  n_i += g_i²
 *   w_i = 0                         if |z_i| ≤ l1
 *       = (sign(z_i)·l1 − z_i) / ((β + √n_i)/α + l2)  otherwise
 * with l1 = elasticNet·reg, l2 = (1 − elasticNet)·reg.
 *
 * Scale shape per batch: one treeReduce of the [gradient | weightSum]
 * pair; the FTRL state (z, n, w — each O(dim)) advances on the driver,
 * mirroring the reference's parallelism-1 updater.
 */
class OnlineLogisticRegression
    extends Estimator[OnlineLogisticRegression, OnlineLogisticRegressionModel]
    with HasFeaturesCol[OnlineLogisticRegression] with HasLabelCol[OnlineLogisticRegression]
    with HasPredictionCol[OnlineLogisticRegression] with HasWeightCol[OnlineLogisticRegression]
    with HasGlobalBatchSize[OnlineLogisticRegression] with HasReg[OnlineLogisticRegression]
    with HasElasticNet[OnlineLogisticRegression] {

  final val alpha: Param[Double] =
    param[Double]("alpha", "The alpha parameter of FTRL.", 0.1, ParamValidators.gt(0))
  final val beta: Param[Double] =
    param[Double]("beta", "The beta parameter of FTRL.", 0.1, ParamValidators.gt(0))
  def setAlpha(v: Double): OnlineLogisticRegression = set(alpha, v)
  def setBeta(v: Double): OnlineLogisticRegression = set(beta, v)
  def getAlpha: Double = get(alpha)
  def getBeta: Double = get(beta)

  final val timeCol: Param[String] =
    param[String]("timeCol",
      "Event-time column (milliseconds, long). When set, each mini-batch's " +
        "model version is stamped with the batch's max event time, enabling " +
        "delay-gated versioned inference on the fitted model.", null)
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineLogisticRegression = set(timeCol, v)

  private var initialModel: Option[DataFrame] = None
  def setInitialModelData(df: DataFrame): OnlineLogisticRegression = {
    initialModel = Some(df); this
  }

  override def fit(inputs: DataFrame*): OnlineLogisticRegressionModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession
    val init = initialModel.getOrElse(
      sys.error("OnlineLogisticRegression requires initial model data (setInitialModelData)"))
    var model = new OnlineLogisticRegressionModel().setModelData(init)
    copyParamsTo(model)

    val batchSize = getGlobalBatchSize
    val weightExpr = if (getWeightCol == null) lit(1.0) else col(getWeightCol).cast("double")
    // a null event time coalesces to Long.MinValue ("unobserved"): it
    // never raises a batch's max-time stamp, and an all-null batch is
    // stamped MinValue — i.e. never servable under delay gating —
    // instead of NPE-ing the fit loop on r.getLong
    val timeExpr =
      if (getTimeCol == null) lit(Long.MaxValue)
      else coalesce(col(getTimeCol).cast("long"), lit(Long.MinValue))
    import spark.implicits._
    graft.iteration.Loop.scoped { stored =>
      val indexed = stored.cache(df
        .select(col(getFeaturesCol), col(getLabelCol).cast("double"), weightExpr, timeExpr)
        .rdd.zipWithIndex()
        .map { case (r, i) =>
          (i / batchSize, r.getAs[Vector](0), r.getDouble(1), r.getDouble(2), r.getLong(3))
        }
        .toDF("batch", "features", "label", "w", "t"))
      val numBatches = indexed.count() / batchSize
      // version timestamp = the batch's max event time (the moment the
      // reference would emit this model version downstream); ONE
      // aggregation over the persisted batch table instead of one job
      // per batch
      val batchTimes: Map[Long, Long] =
        if (getTimeCol == null) Map.empty
        else indexed.groupBy("batch").agg(max("t").as("mt"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var b = 0L
      while (b < numBatches) {
        val batchDf = indexed.where(col("batch") === b)
        model = model.update(batchDf, "features", "label", "w",
          batchTimes.getOrElse(b, Long.MaxValue))
        b += 1
      }
      model
    }
  }
}
object OnlineLogisticRegression extends StageLoader[OnlineLogisticRegression] {
  def load(spark: SparkSession, path: String): OnlineLogisticRegression =
    ReadWrite.applyParams(new OnlineLogisticRegression, path)
}

/**
 * FTRL state + coefficients as a model STREAM: one row per version —
 * (version, modelTimeMs, coefficient vector, zParam vector, nParam
 * vector). `update` advances the state by one mini-batch and appends
 * a version row (Structured Streaming hook: call from foreachBatch).
 *
 * Inference: by default each row is scored by the LATEST version;
 * with `maxAllowedModelDelayMs >= 0` set, each row is scored by the
 * EARLIEST version whose `modelTimeMs >= rowTime - delay` — the
 * batch equivalent of the reference's row-buffering rule
 * (OnlineLogisticRegressionModel.java:68,
 * HasMaxAllowedModelDelayMs.java), mirroring
 * [[OnlineStandardScalerModel]]'s gating. Rows earlier than every
 * qualifying version get null predictions and version -1.
 *
 * Scale shape: the model stream is O(#versions) driver-built rows,
 * so the as-of lookup is a broadcast binary search per row — no
 * shuffle, no range-join explosion.
 */
class OnlineLogisticRegressionModel extends Model[OnlineLogisticRegressionModel]
    with HasFeaturesCol[OnlineLogisticRegressionModel]
    with HasPredictionCol[OnlineLogisticRegressionModel]
    with HasRawPredictionCol[OnlineLogisticRegressionModel]
    with HasReg[OnlineLogisticRegressionModel]
    with HasElasticNet[OnlineLogisticRegressionModel] {

  final val alpha: Param[Double] =
    param[Double]("alpha", "The alpha parameter of FTRL.", 0.1, ParamValidators.gt(0))
  final val beta: Param[Double] =
    param[Double]("beta", "The beta parameter of FTRL.", 0.1, ParamValidators.gt(0))
  def getAlpha: Double = get(alpha)
  def getBeta: Double = get(beta)

  // default "modelVersion", NOT the generic HasModelVersionCol "version" —
  // OnlineLogisticRegressionModelParams.java:35-40 shadows it
  final val modelVersionCol: Param[String] =
    param[String]("modelVersionCol", "Output column holding the model version used.", "modelVersion")
  def getModelVersionCol: String = get(modelVersionCol)
  def setModelVersionCol(v: String): OnlineLogisticRegressionModel = set(modelVersionCol, v)

  final val maxAllowedModelDelayMs: Param[Long] =
    param[Long]("maxAllowedModelDelayMs",
      "If >= 0, rows are scored by the earliest model version with modelTimeMs >= rowTime - delay " +
        "(reference HasMaxAllowedModelDelayMs); if < 0, the latest version scores everything.", -1L)
  def getMaxAllowedModelDelayMs: Long = get(maxAllowedModelDelayMs)
  def setMaxAllowedModelDelayMs(v: Long): OnlineLogisticRegressionModel =
    set(maxAllowedModelDelayMs, v)

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for versioned scoring.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineLogisticRegressionModel = set(timeCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): OnlineLogisticRegressionModel = {
    modelData = data.head; latestCache = None; this
  }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** The latest (version, coefficient, zParam, nParam) when this model
    * was produced by `update` — the chain's head is already in driver
    * memory, so the next update must not pay a Spark job (orderBy +
    * head over the version stream) just to re-read it. Invalidated by
    * any external setModelData. O(dim) per live model instance. */
  private var latestCache: Option[(Long, Vector, Vector, Vector)] = None

  /** Model data predating the version column (a bare FTRL state row)
    * is accepted and treated as version 0 at time Long.MinValue. */
  private def hasVersions: Boolean = modelData.columns.contains("version")
  private def latestRow(): org.apache.spark.sql.Row =
    if (hasVersions) modelData.orderBy(col("version").desc).limit(1).head()
    else modelData.head()

  /** One FTRL mini-batch step. A ZERO-PARTITION micro-batch (a
    * rate/kafka source's first trigger) is a no-op — the only shape
    * that crashes treeReduce; all-empty partitions still emit one
    * partial each. getNumPartitions is free, unlike an isEmpty job.
    * The version stream grows through [[graft.iteration.Loop.append]],
    * whose rule bounds its lineage. */
  def update(batch: DataFrame, featuresCol: String, labelCol: String,
      weightCol: String, modelTimeMs: Long = Long.MaxValue): OnlineLogisticRegressionModel = {
    val spark = batch.sparkSession
    if (batch.rdd.getNumPartitions == 0) return this
    val (latestVersion, coefficient, zParam, nParam) = latestCache match {
      case Some((v, c, z, nn)) => (v, c.toArray.clone(), z.toArray.clone(), nn.toArray.clone())
      case None =>
        val row = latestRow()
        (if (hasVersions) row.getAs[Long]("version") else 0L,
          row.getAs[Vector]("coefficient").toArray.clone(),
          row.getAs[Vector]("zParam").toArray.clone(),
          row.getAs[Vector]("nParam").toArray.clone())
    }
    val dim = coefficient.length
    val bc = spark.sparkContext.broadcast(Vectors.dense(coefficient))

    // distributed gradient: Σ (σ(w·x) − y)·x and per-dimension weight
    // sums (the reference adds 1.0 per dense row, `weight` per sparse
    // active index), merged with one treeReduce
    val (grad, wsum) = batch
      .select(col(featuresCol), col(labelCol).cast("double"), col(weightCol).cast("double"))
      .rdd
      .mapPartitions { it =>
        val g = new Array[Double](dim)
        val ws = new Array[Double](dim)
        it.foreach { r =>
          val vec = r.getAs[Vector](0)
          val label = r.getDouble(1)
          val weight = r.getDouble(2)
          val p = 1.0 / (1.0 + math.exp(-graft.linalg.BLAS.dot(bc.value, vec)))
          vec match {
            case d: DenseVector =>
              var i = 0
              while (i < dim) { g(i) += (p - label) * d.values(i); ws(i) += 1.0; i += 1 }
            case s: SparseVector =>
              var i = 0
              while (i < s.indices.length) {
                val idx = s.indices(i)
                g(idx) += (p - label) * s.values(i)
                ws(idx) += weight
                i += 1
              }
          }
        }
        Iterator.single((g, ws))
      }
      .treeReduce { case ((g1, w1), (g2, w2)) =>
        var i = 0
        while (i < dim) { g1(i) += g2(i); w1(i) += w2(i); i += 1 }
        (g1, w1)
      }
    bc.destroy()

    // all partitions empty → zero gradient and weight: no-op rather
    // than pushing a zero "observation" through the FTRL state
    if (wsum.forall(_ == 0.0) && grad.forall(_ == 0.0)) return this

    val l1 = getElasticNet * getReg
    val l2 = (1.0 - getElasticNet) * getReg
    var i = 0
    while (i < dim) {
      val g = if (wsum(i) != 0.0) grad(i) / wsum(i) else grad(i)
      val sigma = (math.sqrt(nParam(i) + g * g) - math.sqrt(nParam(i))) / getAlpha
      zParam(i) += g - sigma * coefficient(i)
      nParam(i) += g * g
      coefficient(i) =
        if (math.abs(zParam(i)) <= l1) 0.0
        else ((if (zParam(i) < 0) -1.0 else 1.0) * l1 - zParam(i)) /
          ((getBeta + math.sqrt(nParam(i))) / getAlpha + l2)
      i += 1
    }

    import spark.implicits._
    val next = Seq((latestVersion + 1, modelTimeMs, coefficient, zParam, nParam))
      .toDF("version", "modelTimeMs", "c", "z", "n")
      .select(col("version"), col("modelTimeMs"),
        org.apache.spark.ml.functions.array_to_vector(col("c")).as("coefficient"),
        org.apache.spark.ml.functions.array_to_vector(col("z")).as("zParam"),
        org.apache.spark.ml.functions.array_to_vector(col("n")).as("nParam"))
    // append to the version stream (legacy single-row state becomes
    // version 0 at MinValue — never servable under delay gating)
    val base =
      if (hasVersions)
        modelData.select("version", "modelTimeMs", "coefficient", "zParam", "nParam")
      else
        modelData.select(lit(0L).as("version"), lit(Long.MinValue).as("modelTimeMs"),
          col("coefficient"), col("zParam"), col("nParam"))
    val m = new OnlineLogisticRegressionModel().setModelData(Loop.append(base, next))
    copyParamsTo(m)
    m.latestCache = Some((latestVersion + 1, Vectors.dense(coefficient),
      Vectors.dense(zParam), Vectors.dense(nParam)))
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    if (getMaxAllowedModelDelayMs >= 0L) transformVersioned(inputs.head)
    else transformLatest(inputs.head)
  }

  private def transformLatest(input: DataFrame): Array[DataFrame] = {
    val coeff = latestCache match {
      case Some((_, c, _, _)) => c
      case None => latestRow().getAs[Vector]("coefficient")
    }
    val bc = input.sparkSession.sparkContext.broadcast(coeff)
    // prediction is computed inside the udf: vector_to_array is
    // null-intolerant (throws, not null-propagates), so a SQL-side
    // threshold on a nullable rawPrediction would crash on null
    // features regardless of when()-guards
    val raw = udf { v: Vector =>
      if (v == null) null
      else {
        val margin = graft.linalg.BLAS.dot(bc.value, v)
        val p = 1.0 / (1.0 + math.exp(-margin))
        (Vectors.dense(1.0 - p, p): Vector, if (p >= 0.5) 1.0 else 0.0)
      }
    }
    val out = input
      .withColumn("__raw", raw(col(getFeaturesCol)))
      .withColumn(getRawPredictionCol, col("__raw._1"))
      .withColumn(getPredictionCol, col("__raw._2"))
      .drop("__raw")
    Array(out)
  }

  /**
   * As-of scoring: binary-search the (modelTimeMs-sorted) version
   * stream per row, mirroring OnlineStandardScalerModel. Rows earlier
   * than every qualifying version — the ones the reference would
   * buffer forever on a bounded stream — get null outputs and
   * version -1. The initial (zero) state carries modelTimeMs ==
   * Long.MinValue and is excluded: it was never an emitted model.
   */
  private def transformVersioned(input: DataFrame): Array[DataFrame] = {
    val delay = getMaxAllowedModelDelayMs
    require(hasVersions,
      "versioned scoring requires model data with (version, modelTimeMs) columns")
    val versions = modelData
      .where(col("modelTimeMs") > Long.MinValue)
      .select(col("modelTimeMs").cast("long"), col("version").cast("long"), col("coefficient"))
      .orderBy("modelTimeMs", "version")
      .collect()
    val times = versions.map(_.getLong(0))
    val vers = versions.map(_.getLong(1))
    val coefs = versions.map(_.getAs[Vector]("coefficient"))
    val spark = input.sparkSession
    val bTimes = spark.sparkContext.broadcast(times)
    val bVers = spark.sparkContext.broadcast(vers)
    val bCoefs = spark.sparkContext.broadcast(coefs)

    // prediction computed inside the udf — vector_to_array is
    // null-intolerant, so the no-qualifying-version rows (null raw,
    // version -1) must never reach a SQL-side threshold on it
    val score = udf { (v: Vector, ts: Long) =>
      val es = bTimes.value
      // lower bound: first index with es(i) >= ts - delay
      var lo = 0; var hi = es.length
      val key = ts - delay
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (es(mid) >= key) hi = mid else lo = mid + 1
      }
      if (lo == es.length || v == null) (null: Vector, -1L, None: Option[Double])
      else {
        val margin = graft.linalg.BLAS.dot(bCoefs.value(lo), v)
        val p = 1.0 / (1.0 + math.exp(-margin))
        (Vectors.dense(1.0 - p, p): Vector, bVers.value(lo),
          Some(if (p >= 0.5) 1.0 else 0.0): Option[Double])
      }
    }
    val applied = input.withColumn("__scored",
      score(col(getFeaturesCol), col(getTimeCol).cast("long")))
    Array(applied
      .withColumn(getRawPredictionCol, col("__scored._1"))
      .withColumn(getPredictionCol, col("__scored._3"))
      // a null event time short-circuits the primitive-Long udf to a
      // null struct; surface it as the documented "no qualifying
      // version" contract (null predictions, version -1), not a null
      // version
      .withColumn(getModelVersionCol, coalesce(col("__scored._2"), lit(-1L)))
      .drop("__scored"))
  }
}
object OnlineLogisticRegressionModel extends StageLoader[OnlineLogisticRegressionModel] {
  /** Zero-initialized FTRL state for `dim` features: version 0 at
    * time Long.MinValue — the pre-training state, never servable
    * under delay-gated scoring. */
  def zeroInit(spark: SparkSession, dim: Int): DataFrame = {
    import spark.implicits._
    Seq((0L, Long.MinValue, new Array[Double](dim), new Array[Double](dim), new Array[Double](dim)))
      .toDF("version", "modelTimeMs", "c", "z", "n")
      .select(col("version"), col("modelTimeMs"),
        org.apache.spark.ml.functions.array_to_vector(col("c")).as("coefficient"),
        org.apache.spark.ml.functions.array_to_vector(col("z")).as("zParam"),
        org.apache.spark.ml.functions.array_to_vector(col("n")).as("nParam"))
  }

  /** FTRL warm start from a batch [[graft.classification.LogisticRegressionModel]]'s
    * model data (`coefficient`[, `modelVersion`]) — the reference's
    * online estimator takes the batch model table as initModelData
    * (OnlineLogisticRegressionTest testFitAndPredictWithInitLogisticRegressionModel).
    * z/n start at zero; the first micro-batch's FTRL step takes its
    * gradient at — and its z-update against — the batch coefficients,
    * so the warm weights carry forward through the −σ·w term. The
    * stamp defaults to Long.MinValue (not yet servable under delay
    * gating) like [[zeroInit]]; pass a real time to serve immediately. */
  def warmInit(batchModelData: DataFrame, modelTimeMs: Long = Long.MinValue): DataFrame = {
    val spark = batchModelData.sparkSession
    import spark.implicits._
    val row = batchModelData.head()
    val coeff = row.getAs[Vector](row.fieldIndex("coefficient")).toArray
    val version =
      if (batchModelData.columns.contains("modelVersion"))
        row.getAs[Long](row.fieldIndex("modelVersion"))
      else 0L
    Seq((version, modelTimeMs, coeff,
        new Array[Double](coeff.length), new Array[Double](coeff.length)))
      .toDF("version", "modelTimeMs", "c", "z", "n")
      .select(col("version"), col("modelTimeMs"),
        org.apache.spark.ml.functions.array_to_vector(col("c")).as("coefficient"),
        org.apache.spark.ml.functions.array_to_vector(col("z")).as("zParam"),
        org.apache.spark.ml.functions.array_to_vector(col("n")).as("nParam"))
  }

  def load(spark: SparkSession, path: String): OnlineLogisticRegressionModel = {
    val m = ReadWrite.applyParams(new OnlineLogisticRegressionModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
