package graft.evaluation

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

object BinaryMetricNames {
  val AREA_UNDER_ROC = "areaUnderROC"
  val AREA_UNDER_PR = "areaUnderPR"
  val AREA_UNDER_LORENZ = "areaUnderLorenz"
  val KS = "ks"
  val all: Seq[String] = Seq(AREA_UNDER_ROC, AREA_UNDER_PR, AREA_UNDER_LORENZ, KS)
}

/**
 * AUC-ROC / AUC-PR / KS / area-under-Lorenz over (label, rawPrediction
 * [, weight]) — per-record trapezoid walk over the score-descending
 * order, exactly the reference's math
 * (evaluation/binaryclassification/BinaryClassificationEvaluator.java:89;
 * range partition + local sort :99-135, per-partition summaries with
 * broadcast prefix merge :136-160).
 *
 * Scale shape: repartitionByRange(desc score) + sortWithinPartitions
 * (what orderBy does internally), per-partition (pos, neg) summaries
 * collected (O(partitions)), prefix-initialized partition walks, their
 * partial metrics collected and merged in partition-index order. No
 * single-task global window.
 */
class BinaryClassificationEvaluator extends AlgoOperator[BinaryClassificationEvaluator]
    with OneToOne[BinaryClassificationEvaluator]
    with HasLabelCol[BinaryClassificationEvaluator]
    with HasRawPredictionCol[BinaryClassificationEvaluator]
    with HasWeightCol[BinaryClassificationEvaluator] {

  final val metricsNames: Param[Array[String]] =
    param[Array[String]]("metricsNames", "Metrics to compute",
      Array(BinaryMetricNames.AREA_UNDER_ROC, BinaryMetricNames.AREA_UNDER_PR),
      ParamValidators.isSubSet(BinaryMetricNames.all: _*))
  def setMetricsNames(v: String*): BinaryClassificationEvaluator = set(metricsNames, v.toArray)
  def getMetricsNames: Array[String] = get(metricsNames)

  override protected def transformOne(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rawCol = col(getRawPredictionCol)
    val scoreExpr = df.schema(getRawPredictionCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => rawCol.cast("double")
      case _ => // Vector: score = probability of the positive class
        element_at(org.apache.spark.ml.functions.vector_to_array(rawCol), 2)
    }
    val weightExpr = if (getWeightCol == null) lit(1.0) else col(getWeightCol).cast("double")
    val data = df.select(
      scoreExpr.as("score"),
      (col(getLabelCol).cast("double") === 1.0).as("isPos"),
      weightExpr.as("weight"))

    val partials = Loop.scoped { stored =>
      val sorted = stored.cache(data
        .repartitionByRange(data.sparkSession.sessionState.conf.numShufflePartitions, desc("score"))
        .sortWithinPartitions(desc("score"))
        .rdd
        .map(r => (r.getDouble(0), r.getBoolean(1), r.getDouble(2))))

      // per-partition (pos, neg) weight summaries — O(numPartitions) rows
      val partSums = sorted.mapPartitionsWithIndex { (pid, it) =>
        var pos = 0.0; var neg = 0.0
        it.foreach { case (_, isPos, w) => if (isPos) pos += w else neg += w }
        Iterator.single((pid, pos, neg))
      }.collect().sortBy(_._1)

      val totalPos = partSums.map(_._2).sum
      val totalNeg = partSums.map(_._3).sum
      val prefix = partSums.scanLeft((0.0, 0.0)) { case ((p, n), (_, pp, nn)) => (p + pp, n + nn) }
        .dropRight(1) // prefix(pid) = sums of partitions before pid

      val bcPrefix = sorted.sparkContext.broadcast(prefix)
      // partial metrics per partition: (aucRoc, aucLorenz, aucPr, ks),
      // merged on the driver in partition-index order (`RDD.reduce` merges
      // in task-completion order, so the sums would vary from run to run)
      try sorted.mapPartitionsWithIndex { (pid, it) =>
        val (startPos, startNeg) = bcPrefix.value(pid)
        var cumPos = startPos; var cumNeg = startNeg
        def tpr(p: Double) = if (totalPos == 0) 1.0 else p / totalPos
        def fpr(n: Double) = if (totalNeg == 0) 1.0 else n / totalNeg
        def prec(p: Double, n: Double) = if (p + n == 0) 1.0 else p / (p + n)
        var prevTpr = tpr(cumPos); var prevFpr = fpr(cumNeg)
        var prevPrec = prec(cumPos, cumNeg)
        var prevRate = (cumPos + cumNeg) / (totalPos + totalNeg)
        var roc = 0.0; var lorenz = 0.0; var pr = 0.0; var ks = 0.0
        it.foreach { case (_, isPos, w) =>
          if (isPos) cumPos += w else cumNeg += w
          val t = tpr(cumPos); val f = fpr(cumNeg)
          val p = prec(cumPos, cumNeg)
          val rate = (cumPos + cumNeg) / (totalPos + totalNeg)
          roc += (f - prevFpr) * (t + prevTpr) / 2
          lorenz += (rate - prevRate) * (t + prevTpr) / 2
          pr += (t - prevTpr) * (p + prevPrec) / 2
          ks = math.max(ks, math.abs(f - t))
          prevTpr = t; prevFpr = f; prevPrec = p; prevRate = rate
        }
        Iterator.single((roc, lorenz, pr, ks))
      }.collect().reduce { (a, b) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3, math.max(a._4, b._4))
      } finally bcPrefix.destroy()
    }

    val valueOf = Map(
      BinaryMetricNames.AREA_UNDER_ROC -> partials._1,
      BinaryMetricNames.AREA_UNDER_LORENZ -> partials._2,
      BinaryMetricNames.AREA_UNDER_PR -> partials._3,
      BinaryMetricNames.KS -> partials._4)
    val names = getMetricsNames
    val schema = org.apache.spark.sql.types.StructType(
      names.map(n => org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      java.util.List.of(Row.fromSeq(names.map(valueOf).toIndexedSeq)), schema)
  }
}
object BinaryClassificationEvaluator extends StageLoader[BinaryClassificationEvaluator] {
  def load(spark: SparkSession, path: String): BinaryClassificationEvaluator =
    ReadWrite.applyParams(new BinaryClassificationEvaluator, path)
}
