package graft.classification

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.common.optim._
import graft.param._
import graft.util.ReadWrite

/** Shared SGD hyper-params for the three linear stages. */
trait LinearSGDParams[T] extends WithParams[T]
    with HasFeaturesCol[T] with HasLabelCol[T] with HasWeightCol[T]
    with HasMaxIter[T] with HasLearningRate[T] with HasGlobalBatchSize[T]
    with HasTol[T] with HasReg[T] with HasElasticNet[T] {

  private[graft] def sgdParams = SGDParams(
    getMaxIter, getLearningRate, getGlobalBatchSize, getTol, getReg, getElasticNet)
}

private[graft] object LinearTraining {
  /** Error for non-{0,1} labels under auto/binomial classification
    * (reference LogisticRegression.java:65,86). */
  val MultinomialUnsupported =
    "Multinomial classification is not supported yet. Supported options: [auto, binomial]."

  /** Extract (features, label, weight) rows for SGD. With
    * `requireBinomialLabels`, rows whose label is neither 0 nor 1 fail the
    * job with the reference's error (LogisticRegression.java:79-87 throws
    * from the same per-row map). */
  def points(df: DataFrame, featuresCol: String, labelCol: String, weightCol: String,
      requireBinomialLabels: Boolean = false) = {
    val withW =
      if (weightCol == null) df.select(col(featuresCol), col(labelCol).cast("double"), lit(1.0))
      else df.select(col(featuresCol), col(labelCol).cast("double"), col(weightCol).cast("double"))
    withW.rdd.map { r =>
      val label = r.getDouble(1)
      if (requireBinomialLabels && label != 0.0 && label != 1.0)
        throw new RuntimeException(MultinomialUnsupported)
      LabeledPointWithWeight(r.getAs[Vector](0), label, r.getDouble(2))
    }
  }

  def coefficientDf(spark: SparkSession, coeff: Array[Double]): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(coeff)).toDF("coefficient")
      .select(org.apache.spark.ml.functions.array_to_vector(col("coefficient")).as("coefficient"))
  }

  def loadCoefficient(modelData: DataFrame): Array[Double] =
    modelData.select("coefficient").head().getAs[Vector](0).toArray
}

// ---------------------------------------------------------------------------
// LogisticRegression
// ---------------------------------------------------------------------------

/**
 * Binary logistic regression via parallel mini-batch SGD with
 * L1/L2/elastic-net regularization.
 * Reference: classification/logisticregression/LogisticRegression.java:60.
 */
class LogisticRegression extends Estimator[LogisticRegression, LogisticRegressionModel]
    with LinearSGDParams[LogisticRegression] with HasMultiClass[LogisticRegression]
    with HasPredictionCol[LogisticRegression] with HasRawPredictionCol[LogisticRegression] {

  override def fit(inputs: DataFrame*): LogisticRegressionModel = {
    require(inputs.size == 1)
    require(getMultiClass == "auto" || getMultiClass == "binomial",
      LinearTraining.MultinomialUnsupported)
    val df = inputs.head
    val pts = LinearTraining.points(
      df, getFeaturesCol, getLabelCol, getWeightCol, requireBinomialLabels = true)
    val (coeff, _) = SGD.optimize(pts, BinaryLogisticLoss, sgdParams)
    // model data = (coefficient, modelVersion) — reference
    // LogisticRegressionModelData.java:36; a batch fit is version 0
    val m = new LogisticRegressionModel()
      .setModelData(LinearTraining.coefficientDf(df.sparkSession, coeff)
        .withColumn("modelVersion", lit(0L)))
    copyParamsTo(m)
    m
  }
}
object LogisticRegression extends StageLoader[LogisticRegression] {
  def load(spark: SparkSession, path: String): LogisticRegression =
    ReadWrite.applyParams(new LogisticRegression, path)
}

/** prediction = 1 if dot >= 0; rawPrediction = [1-sigmoid(dot), sigmoid(dot)]
  * (reference LogisticRegressionModelServable.transform). */
class LogisticRegressionModel extends Model[LogisticRegressionModel]
    with HasFeaturesCol[LogisticRegressionModel] with graft.api.ServableCapable
    with HasPredictionCol[LogisticRegressionModel] with HasRawPredictionCol[LogisticRegressionModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): LogisticRegressionModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** Spark-free scorer over the collected coefficient (reference
    * LogisticRegressionModelServable). */
  override def toServable: graft.servable.LogisticRegressionModelServable = {
    val s = new graft.servable.LogisticRegressionModelServable()
      .setFeaturesCol(getFeaturesCol)
      .setCoefficient(LinearTraining.loadCoefficient(modelData))
    s.predictionCol = getPredictionCol
    s.rawPredictionCol = getRawPredictionCol
    s
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val coeff = LinearTraining.loadCoefficient(modelData)
    val predict = udf { v: Vector =>
      if (v == null) null
      else {
        var d = 0.0
        v.foreachActive((i, x) => d += x * coeff(i))
        val prob = 1.0 - 1.0 / (1.0 + math.exp(d))
        (if (d >= 0) 1.0 else 0.0, Vectors.dense(1 - prob, prob))
      }
    }
    val out = inputs.head.withColumn("__pred", predict(col(getFeaturesCol)))
      .withColumn(getPredictionCol, col("__pred._1"))
      .withColumn(getRawPredictionCol, col("__pred._2"))
      .drop("__pred")
    Array(out)
  }
}
object LogisticRegressionModel extends StageLoader[LogisticRegressionModel] {
  def load(spark: SparkSession, path: String): LogisticRegressionModel = {
    val m = ReadWrite.applyParams(new LogisticRegressionModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}

// ---------------------------------------------------------------------------
// LinearSVC
// ---------------------------------------------------------------------------

/**
 * Linear support vector classifier (hinge loss SGD).
 * Reference: classification/linearsvc/LinearSVC.java:58.
 */
class LinearSVC extends Estimator[LinearSVC, LinearSVCModel]
    with LinearSGDParams[LinearSVC]
    with HasPredictionCol[LinearSVC] with HasRawPredictionCol[LinearSVC] {

  final val threshold: Param[Double] =
    param[Double]("threshold", "Decision threshold on dot value", 0.0)
  def setThreshold(v: Double): LinearSVC = set(threshold, v)
  def getThreshold: Double = get(threshold)

  override def fit(inputs: DataFrame*): LinearSVCModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val pts = LinearTraining.points(df, getFeaturesCol, getLabelCol, getWeightCol)
    val (coeff, _) = SGD.optimize(pts, HingeLoss, sgdParams)
    val m = new LinearSVCModel()
      .setModelData(LinearTraining.coefficientDf(df.sparkSession, coeff))
    copyParamsTo(m)
    m
  }
}
object LinearSVC extends StageLoader[LinearSVC] {
  def load(spark: SparkSession, path: String): LinearSVC =
    ReadWrite.applyParams(new LinearSVC, path)
}

/** prediction = 1 if dot >= threshold; rawPrediction = [dot, -dot]
  * (reference LinearSVCModel.predictOneDataPoint). */
class LinearSVCModel extends Model[LinearSVCModel]
    with HasFeaturesCol[LinearSVCModel]
    with HasPredictionCol[LinearSVCModel] with HasRawPredictionCol[LinearSVCModel] {

  final val threshold: Param[Double] =
    param[Double]("threshold", "Decision threshold on dot value", 0.0)
  def getThreshold: Double = get(threshold)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): LinearSVCModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val coeff = LinearTraining.loadCoefficient(modelData)
    val thr = getThreshold
    val predict = udf { v: Vector =>
      if (v == null) null
      else {
        var d = 0.0
        v.foreachActive((i, x) => d += x * coeff(i))
        (if (d >= thr) 1.0 else 0.0, Vectors.dense(d, -d))
      }
    }
    val out = inputs.head.withColumn("__pred", predict(col(getFeaturesCol)))
      .withColumn(getPredictionCol, col("__pred._1"))
      .withColumn(getRawPredictionCol, col("__pred._2"))
      .drop("__pred")
    Array(out)
  }
}
object LinearSVCModel extends StageLoader[LinearSVCModel] {
  def load(spark: SparkSession, path: String): LinearSVCModel = {
    val m = ReadWrite.applyParams(new LinearSVCModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
