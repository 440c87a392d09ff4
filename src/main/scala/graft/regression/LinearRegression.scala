package graft.regression

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.classification.{LinearSGDParams, LinearTraining}
import graft.common.optim._
import graft.param._
import graft.util.ReadWrite

/**
 * Ordinary least squares regression via mini-batch SGD (LeastSquareLoss).
 * Reference: regression/linearregression/LinearRegression.java:60.
 */
class LinearRegression extends Estimator[LinearRegression, LinearRegressionModel]
    with LinearSGDParams[LinearRegression] with HasPredictionCol[LinearRegression] {

  override def fit(inputs: DataFrame*): LinearRegressionModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val pts = LinearTraining.points(df, getFeaturesCol, getLabelCol, getWeightCol)
    val (coeff, _) = SGD.optimize(pts, LeastSquareLoss, sgdParams)
    val m = new LinearRegressionModel()
      .setModelData(LinearTraining.coefficientDf(df.sparkSession, coeff))
    copyParamsTo(m)
    m
  }
}
object LinearRegression extends StageLoader[LinearRegression] {
  def load(spark: SparkSession, path: String): LinearRegression =
    ReadWrite.applyParams(new LinearRegression, path)
}

/** prediction = dot(features, coefficient)
  * (reference LinearRegressionModel.predictOneDataPoint). */
class LinearRegressionModel extends Model[LinearRegressionModel]
    with HasFeaturesCol[LinearRegressionModel] with HasPredictionCol[LinearRegressionModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): LinearRegressionModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val coeff = LinearTraining.loadCoefficient(modelData)
    val predict = udf { v: Vector =>
      if (v == null) null
      else {
        var d = 0.0
        v.foreachActive((i, x) => d += x * coeff(i))
        java.lang.Double.valueOf(d)
      }
    }
    Array(inputs.head.withColumn(getPredictionCol, predict(col(getFeaturesCol))))
  }
}
object LinearRegressionModel extends StageLoader[LinearRegressionModel] {
  def load(spark: SparkSession, path: String): LinearRegressionModel = {
    val m = ReadWrite.applyParams(new LinearRegressionModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
