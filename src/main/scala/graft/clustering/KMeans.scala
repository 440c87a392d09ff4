package graft.clustering

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.linalg.{DistanceMeasure, VectorWithNorm}
import graft.param._
import graft.util.ReadWrite

/**
 * Lloyd's k-means with random init (reservoir sample of k points) and
 * euclidean | cosine | manhattan distance.
 *
 * Reference: clustering/kmeans/KMeans.java:92 — iteration body
 * :140-188 (assign + accumulate :219-307, init :317-334). The epoch-
 * watermark loop collapses to a driver while-loop: broadcast centroids
 * → per-partition assign + local (sum, count) accumulation →
 * treeReduce merge → new centroids. Norm-cached distance pruning
 * (VectorWithNorm, KMeans.java:286-301) is kept.
 */
class KMeans extends Estimator[KMeans, KMeansModel]
    with HasFeaturesCol[KMeans] with HasPredictionCol[KMeans]
    with HasDistanceMeasure[KMeans] with HasSeed[KMeans] with HasMaxIter[KMeans] {

  final val k: Param[Int] = param[Int]("k", "Number of clusters", 2, ParamValidators.gt(1))
  def setK(v: Int): KMeans = set(k, v)
  def getK: Int = get(k)
  def setMaxIterK(v: Int): KMeans = set(maxIter, v)

  // warm start: (centroidId, centroid vector) rows; replaces the
  // seeded reservoir sample, making training fully deterministic
  private var initialModelData: Option[DataFrame] = None
  def setInitialModelData(df: DataFrame): KMeans = { initialModelData = Some(df); this }

  override def fit(inputs: DataFrame*): KMeansModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val numK = getK
    val measure = DistanceMeasure(getDistanceMeasure)

    val centroids = graft.iteration.Loop.scoped { stored =>
      val points = stored.cache(df.select(col(getFeaturesCol)).rdd
        .map(r => VectorWithNorm(r.getAs[Vector](0))))

      val initCentroids = initialModelData match {
        case Some(init) => init.orderBy("centroidId").collect()
          .map(r => VectorWithNorm(r.getAs[Vector]("centroid")))
        case None => points.takeSample(withReplacement = false, numK, getSeed)
      }
      require(initCentroids.length == numK,
        s"Expected $numK initial centroids, got ${initCentroids.length}")
      val dim = initCentroids.head.vector.size
      val sc = points.sparkContext

      // reference KMeans.java:140-188 runs its iteration body under a
      // plain TerminateOnMaxIter criteria stream — same here, on the
      // shared driver-loop utility
      graft.iteration.Loop.iterate(
          initCentroids, graft.iteration.TerminateOnMaxIter(getMaxIter)) { (current, _) =>
        val bc = sc.broadcast(current)
        // per-partition local accumulation, then one treeReduce of
        // (k × dim sums, k counts) — the allReduce analogue
        val (sums, counts) = points.mapPartitions { it =>
          val cs = bc.value
          val sums = Array.fill(numK)(new Array[Double](dim))
          val counts = new Array[Long](numK)
          it.foreach { p =>
            val c = measure.findClosest(cs, p)
            graft.linalg.BLAS.axpy(1.0, p.vector, sums(c))
            counts(c) += 1
          }
          Iterator.single((sums, counts))
        }.treeReduce { (a, b) =>
          var i = 0
          while (i < numK) {
            var j = 0
            while (j < dim) { a._1(i)(j) += b._1(i)(j); j += 1 }
            a._2(i) += b._2(i)
            i += 1
          }
          a
        }
        bc.destroy()
        val next = Array.tabulate(numK) { i =>
          if (counts(i) > 0) {
            val c = sums(i).clone()
            graft.linalg.BLAS.scal(1.0 / counts(i), c)
            VectorWithNorm(Vectors.dense(c))
          } else current(i) // empty cluster keeps previous centroid
        }
        (next, None)
      }.state
    }

    val spark = df.sparkSession
    import spark.implicits._
    val modelDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.vector.toArray) }.toSeq
      .toDF("centroidId", "centroid")
      .select(col("centroidId"),
        org.apache.spark.ml.functions.array_to_vector(col("centroid")).as("centroid"))
    val m = new KMeansModel().setModelData(modelDf)
    copyParamsTo(m)
    m
  }
}
object KMeans extends StageLoader[KMeans] {
  def load(spark: SparkSession, path: String): KMeans = ReadWrite.applyParams(new KMeans, path)
}

/** Assigns each row the id of the nearest centroid
  * (reference clustering/kmeans/KMeansModel.java:73-147). */
class KMeansModel extends Model[KMeansModel]
    with HasFeaturesCol[KMeansModel] with HasPredictionCol[KMeansModel]
    with HasDistanceMeasure[KMeansModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): KMeansModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val measure = DistanceMeasure(getDistanceMeasure)
    val centroids = modelData.select("centroidId", "centroid").collect()
      .sortBy(_.getInt(0)).map(r => VectorWithNorm(r.getAs[Vector](1)))
    val bc = inputs.head.sparkSession.sparkContext.broadcast(centroids)
    val predict = udf { v: Vector =>
      if (v == null) null else java.lang.Integer.valueOf(measure.findClosest(bc.value, VectorWithNorm(v)))
    }
    Array(inputs.head.withColumn(getPredictionCol, predict(col(getFeaturesCol))))
  }
}
object KMeansModel extends StageLoader[KMeansModel] {
  def load(spark: SparkSession, path: String): KMeansModel = {
    val m = ReadWrite.applyParams(new KMeansModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
