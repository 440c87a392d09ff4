package graft.classification

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Brute-force k-nearest-neighbors classifier: "fit" materializes the
 * training matrix; predict broadcasts the PROBE batch and streams the
 * training matrix through per-partition bounded top-k heaps, label =
 * majority among the k nearest by Euclidean distance.
 * Reference: classification/knn/Knn.java:61, KnnModel.java:73 (which
 * broadcasts the train side instead — unbounded in training-set size).
 */
class Knn extends Estimator[Knn, KnnModel]
    with HasFeaturesCol[Knn] with HasLabelCol[Knn] with HasPredictionCol[Knn] {

  final val k: Param[Int] = param[Int]("k", "Number of nearest neighbors", 5, ParamValidators.gt(0))
  def setK(v: Int): Knn = set(k, v)
  def getK: Int = get(k)

  override def fit(inputs: DataFrame*): KnnModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val modelDf = df.select(
      col(getFeaturesCol).as("features"), col(getLabelCol).cast("double").as("label"))
    val m = new KnnModel().setModelData(modelDf)
    copyParamsTo(m)
    m
  }
}
object Knn extends StageLoader[Knn] {
  def load(spark: SparkSession, path: String): Knn = ReadWrite.applyParams(new Knn, path)
}

class KnnModel extends Model[KnnModel]
    with HasFeaturesCol[KnnModel] with HasPredictionCol[KnnModel] {

  final val k: Param[Int] = param[Int]("k", "Number of nearest neighbors", 5, ParamValidators.gt(0))
  def setK(v: Int): KnnModel = set(k, v)
  def getK: Int = get(k)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): KnnModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession
    val kk = getK
    // Scale shape: the PROBE batch (transform input) is the small side —
    // collected and broadcast — while the train matrix (the model, the
    // side that grows with the corpus) streams through per-partition
    // bounded heaps; the global merge and majority vote then run over
    // only partitions × probes × k candidate rows. This inverts the
    // reference's broadcast-the-train-set plan, whose driver/executor
    // memory grows with training data. For huge probe sets use
    // MinHashLSHModel.approxNearestNeighbors / ann.CosineLshKnn instead.
    // store BEFORE the driver collect: the synthetic probe ids are
    // re-evaluated by the output join below, and an unstored
    // nondeterministically-ordered upstream (post-shuffle, sample)
    // could assign different ids on the second evaluation, silently
    // attaching predictions to the wrong rows. count() materializes
    // the cache so both evaluations read identical partitions; it is
    // released once the returned frame is stored. The cache stays
    // bounded by the MaxProbes guard.
    Array(Loop.scoped { stored =>
      val probed = stored.cache(df.withColumn("__knn_probe_id", monotonically_increasing_id()))
      val nProbes = probed.count()
      require(nProbes <= KnnModel.MaxProbes,
        s"KnnModel.transform broadcasts the probe batch to every executor; got $nProbes probe " +
          s"rows, max ${KnnModel.MaxProbes}. For large probe sets use ann.BruteForceCosineKnn, " +
          "ann.CosineLshKnn, or MinHashLSHModel.approxNearestNeighbors instead.")
      val probes = probed.select(col("__knn_probe_id"), col(getFeaturesCol)).collect()
        .flatMap { r =>
          Option(r.getAs[Vector](1)).map(v => (r.getLong(0), v, graft.linalg.BLAS.dot(v, v)))
        }
      val bc = spark.sparkContext.broadcast(probes)

      import spark.implicits._
      val partials = modelData.select("features", "label").rdd
        .mapPartitions { it =>
          val queries = bc.value
          // bounded max-heaps of (dist², label), one per probe
          val heaps = queries.map(_ => new java.util.PriorityQueue[(Double, Double)](
            kk, (a: (Double, Double), b: (Double, Double)) => java.lang.Double.compare(b._1, a._1)))
          it.foreach { r =>
            val t = r.getAs[Vector](0)
            val label = r.getDouble(1)
            val tNorm2 = graft.linalg.BLAS.dot(t, t)
            var qi = 0
            while (qi < queries.length) {
              val (_, v, vNorm2) = queries(qi)
              val d2 = vNorm2 + tNorm2 - 2 * graft.linalg.BLAS.dot(v, t)
              val heap = heaps(qi)
              if (heap.size < kk) heap.add((d2, label))
              else if (d2 < heap.peek()._1) { heap.poll(); heap.add((d2, label)) }
              qi += 1
            }
          }
          queries.iterator.zip(heaps.iterator).flatMap { case ((id, _, _), heap) =>
            scala.jdk.CollectionConverters.IteratorHasAsScala(heap.iterator()).asScala
              .map { case (d2, l) => (id, d2, l) }
          }
        }.toDF("__knn_probe_id", "d2", "label")

      // exact global top-k per probe, then majority vote; a tied vote goes
      // to the label of the nearest neighbor among the tied labels (the
      // reference fixture's observable behavior on 2-point ties,
      // KnnTest.java:161-167), with smallest-label as the final
      // deterministic fallback
      val topkWindow = org.apache.spark.sql.expressions.Window
        .partitionBy("__knn_probe_id").orderBy(col("d2").asc, col("label").asc)
      val voteWindow = org.apache.spark.sql.expressions.Window
        .partitionBy("__knn_probe_id")
        .orderBy(col("n").desc, col("mind2").asc, col("label").asc)
      val predictions = partials
        .withColumn("rk", row_number().over(topkWindow)).where(col("rk") <= kk)
        .groupBy("__knn_probe_id", "label").agg(count(lit(1)).as("n"), min("d2").as("mind2"))
        .withColumn("vrk", row_number().over(voteWindow)).where(col("vrk") === 1)
        .select(col("__knn_probe_id"), col("label").as(getPredictionCol))

      Loop.keep(probed.join(predictions, Seq("__knn_probe_id"), "left")
        .drop("__knn_probe_id"))
    })
  }
}
object KnnModel extends StageLoader[KnnModel] {
  /** Hard cap on the broadcast probe batch — past this, the right tool
    * is an ANN operator, not a driver OOM. */
  val MaxProbes: Long = 1L << 18


  def load(spark: SparkSession, path: String): KnnModel = {
    val m = ReadWrite.applyParams(new KnnModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
