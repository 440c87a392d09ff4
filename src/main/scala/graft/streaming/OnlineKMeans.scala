package graft.streaming

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.linalg.{DistanceMeasure, VectorWithNorm}
import graft.param._
import graft.util.ReadWrite

/**
 * Mini-batch k-means with exponential forgetting, fed either by a
 * bounded input split into count batches or by Structured Streaming
 * micro-batches (call [[OnlineKMeansModel.update]] from foreachBatch).
 *
 * Per batch, starting from the previous centroids:
 *   assign each point to its nearest centroid;
 *   w_i ← decayFactor · w_i + count_i;
 *   c_i ← (1 − λ) · c_i + λ · mean_i  with λ = count_i / w_i.
 * Reference: clustering/kmeans/OnlineKMeans.java:86 (iteration),
 * :295-325 (decay update; the reference splits the decay across
 * parallel subtasks then weight-averages — the single-model update
 * above is that computation's net effect for a whole batch).
 *
 * With `timeCol` set, each mini-batch's model version is stamped with
 * the batch's max event time and the fitted model holds the whole
 * VERSION STREAM — enabling the reference's delay-gated inference
 * (OnlineKMeansModel.java:95,126-135 consumes the unbounded model-data
 * stream with a model-data version counter; `maxAllowedModelDelayMs`
 * gating mirrors OnlineStandardScaler.java:55-75).
 *
 * Scale shape per batch: broadcast centroids → mapPartitions partial
 * (sum, count) per cluster → treeReduce; driver state is O(k·dim).
 */
class OnlineKMeans extends Estimator[OnlineKMeans, OnlineKMeansModel]
    with HasFeaturesCol[OnlineKMeans] with HasPredictionCol[OnlineKMeans]
    with HasDistanceMeasure[OnlineKMeans] with HasGlobalBatchSize[OnlineKMeans]
    with HasSeed[OnlineKMeans] {

  final val k: Param[Int] = param[Int]("k", "The max number of clusters.", 2, ParamValidators.gt(1))
  final val decayFactor: Param[Double] =
    param[Double]("decayFactor", "The forgetfulness of the previous centroids.", 0.0,
      ParamValidators.gtEq(0))
  def setK(v: Int): OnlineKMeans = set(k, v)
  def setDecayFactor(v: Double): OnlineKMeans = set(decayFactor, v)
  def getK: Int = get(k)
  def getDecayFactor: Double = get(decayFactor)

  final val timeCol: Param[String] =
    param[String]("timeCol",
      "Event-time column (milliseconds, long). When set, each mini-batch's " +
        "model version is stamped with the batch's max event time and the " +
        "fitted model holds a version stream, enabling delay-gated versioned " +
        "inference on the fitted model.", null)
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineKMeans = set(timeCol, v)

  private var initialModel: Option[DataFrame] = None
  def setInitialModelData(df: DataFrame): OnlineKMeans = { initialModel = Some(df); this }

  /**
   * Bounded-input fit: splits the input into globalBatchSize count
   * batches (trailing partial batch dropped, like the reference's
   * batch generator) and folds the update; the fitted model holds the
   * final centroids (or, with `timeCol` set, the version stream).
   */
  override def fit(inputs: DataFrame*): OnlineKMeansModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession
    val init = initialModel.getOrElse(
      sys.error("OnlineKMeans requires initial model data (setInitialModelData) — " +
        "use OnlineKMeansModel.randomInit for a seeded random start"))
    var model = new OnlineKMeansModel().setModelData(init)
    copyParamsTo(model)

    val batchSize = getGlobalBatchSize
    // a null event time coalesces to Long.MinValue ("unobserved"): it
    // never raises a batch's max-time stamp (same contract as
    // OnlineLogisticRegression.fit)
    val timeExpr =
      if (getTimeCol == null) lit(Long.MinValue)
      else coalesce(col(getTimeCol).cast("long"), lit(Long.MinValue))
    import spark.implicits._
    val indexed = df.select(col(getFeaturesCol), timeExpr).rdd.zipWithIndex()
      .map { case (r, i) => (i / batchSize, r.getAs[Vector](0), r.getLong(1)) }
      .toDF("batch", "features", "t")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val numBatches = indexed.count() / batchSize
    // version timestamp = the batch's max event time; ONE aggregation
    // over the persisted batch table instead of one job per batch
    val batchTimes: Map[Long, Long] =
      if (getTimeCol == null) Map.empty
      else indexed.groupBy("batch").agg(max("t").as("mt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Long.MinValue is update()'s "legacy snapshot" sentinel; a
    // versioned fit whose batch saw only null event times stamps
    // MinValue+1 — kept in the version stream but below any realistic
    // rowTime−delay key, i.e. effectively unservable under gating
    val defaultStamp = if (getTimeCol == null) Long.MinValue else Long.MinValue + 1
    var b = 0L
    while (b < numBatches) {
      val stamp = batchTimes.get(b) match {
        case Some(t) if t > Long.MinValue => t
        case _ => defaultStamp
      }
      model = model.update(indexed.where(col("batch") === b).select("features"),
        "features", stamp)
      b += 1
    }
    indexed.unpersist(blocking = false)
    model
  }
}
object OnlineKMeans extends StageLoader[OnlineKMeans] {
  def load(spark: SparkSession, path: String): OnlineKMeans =
    ReadWrite.applyParams(new OnlineKMeans, path)
}

/**
 * Current model of [[OnlineKMeans]]: (centroidId, centroid, weight)
 * rows — or, in versioned mode, the model STREAM
 * (version, modelTimeMs, centroidId, centroid, weight) with one k-row
 * group per version. `update` consumes one batch and returns the
 * advanced model — the hook to call from a Structured Streaming
 * foreachBatch. By default `update` keeps the snapshot shape; passing
 * a `modelTimeMs` (or fitting with `timeCol` set) switches the model
 * data to the version stream, and any later update keeps appending to
 * it.
 *
 * Inference: by default each row is scored by the LATEST version; with
 * `maxAllowedModelDelayMs >= 0` set, each row is scored by the
 * EARLIEST version whose `modelTimeMs >= rowTime − delay` — the batch
 * replay of the reference's buffer-until-fresh-model-arrives contract
 * (OnlineKMeansModel.java:95,126-135; HasMaxAllowedModelDelayMs).
 * Rows earlier than every qualifying version get a null prediction and
 * version −1, matching OnlineStandardScalerModel / OnlineLrModel.
 */
class OnlineKMeansModel extends Model[OnlineKMeansModel]
    with HasFeaturesCol[OnlineKMeansModel] with HasPredictionCol[OnlineKMeansModel]
    with HasDistanceMeasure[OnlineKMeansModel] {

  final val decayFactor: Param[Double] =
    param[Double]("decayFactor", "The forgetfulness of the previous centroids.", 0.0,
      ParamValidators.gtEq(0))
  def getDecayFactor: Double = get(decayFactor)
  def setDecayFactor(v: Double): OnlineKMeansModel = set(decayFactor, v)

  final val modelVersionCol: Param[String] =
    param[String]("modelVersionCol", "Output column holding the model version used.", "modelVersion")
  def getModelVersionCol: String = get(modelVersionCol)
  def setModelVersionCol(v: String): OnlineKMeansModel = set(modelVersionCol, v)

  final val maxAllowedModelDelayMs: Param[Long] =
    param[Long]("maxAllowedModelDelayMs",
      "If >= 0, rows are scored by the earliest model version with modelTimeMs >= rowTime - delay " +
        "(reference HasMaxAllowedModelDelayMs); if < 0, the latest version scores everything.", -1L)
  def getMaxAllowedModelDelayMs: Long = get(maxAllowedModelDelayMs)
  def setMaxAllowedModelDelayMs(v: Long): OnlineKMeansModel =
    set(maxAllowedModelDelayMs, v)

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for versioned scoring.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineKMeansModel = set(timeCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): OnlineKMeansModel = {
    modelData = data.head; latestCache = None; this
  }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** The latest (version, centroids, weights) when this model was
    * produced by `update` — the chain's head is already in driver
    * memory, so the next update must not pay Spark jobs to re-read
    * it. Invalidated by any external setModelData. O(k·dim). */
  private var latestCache: Option[(Long, Array[Vector], Array[Double])] = None

  /** Model data predating the version columns (a bare centroid
    * snapshot) is accepted and treated as version 0 at Long.MinValue. */
  private def hasVersions: Boolean = modelData.columns.contains("version")

  /** Latest (version, centroids-by-id, weights) — cache, else 1-2 jobs. */
  private def latestState(): (Long, Array[Vector], Array[Double]) = latestCache match {
    case Some((v, c, w)) => (v, c, w)
    case None =>
      val (ver, rows) =
        if (hasVersions) {
          val maxV = modelData.agg(max("version")).head().getLong(0)
          (maxV, modelData.where(col("version") === maxV)
            .select("centroidId", "centroid", "weight").collect())
        } else (0L, modelData.select("centroidId", "centroid", "weight").collect())
      // getAs[Number]: a python-built init frame carries bigint ids
      val sorted = rows.sortBy(_.getAs[Number](0).intValue())
      val state = (ver, sorted.map(_.getAs[Vector]("centroid")),
        sorted.map(_.getAs[Number](2).doubleValue()))
      latestCache = Some(state) // a loaded model must not re-pay the scan per call
      state
  }

  /** One mini-batch step; returns the model holding the new centroids.
    * Passing `modelTimeMs` (anything above Long.MinValue) stamps the
    * result as a new model VERSION appended to the stream; the default
    * keeps the legacy single-snapshot shape — but once the model IS
    * versioned, every further update must carry a stamp (enforced
    * here: an unstamped version would be silently unservable under
    * delay gating). A ZERO-PARTITION
    * micro-batch (a rate/kafka source's first trigger) is a no-op —
    * that is the only shape that crashes treeReduce, since
    * mapPartitions emits one partial per partition even when all
    * partitions are empty. Checking getNumPartitions is free; an
    * isEmpty check here would cost one extra Spark job per mini-batch
    * in the bounded fit loop. A versioned stream grows through
    * [[graft.iteration.Loop.append]], whose rule bounds its lineage. */
  def update(batch: DataFrame): OnlineKMeansModel =
    update(batch, getFeaturesCol, Long.MinValue)
  // explicit overloads, not default args: py4j (the Python surface)
  // matches JVM signatures by arity and cannot fill Scala defaults
  def update(batch: DataFrame, featuresCol: String): OnlineKMeansModel =
    update(batch, featuresCol, Long.MinValue)
  def update(batch: DataFrame, featuresCol: String,
      modelTimeMs: Long): OnlineKMeansModel = {
    val spark = batch.sparkSession
    // a versioned model trained on without stamps would keep appending
    // versions that delay-gated inference silently filters out (their
    // MinValue stamp is "never emitted") — stale gated predictions
    // with no error. Fail fast instead.
    require(!hasVersions || modelTimeMs != Long.MinValue,
      "this model carries a version stream; pass modelTimeMs to update() — " +
        "an unstamped version would be unservable under delay gating")
    if (batch.rdd.getNumPartitions == 0) return this
    val measure = DistanceMeasure(getDistanceMeasure)
    val (latestVersion, centroidVecs, weights) = latestState()
    val centroids = centroidVecs.map(VectorWithNorm(_))
    val kk = centroids.length
    val dim = centroids.head.vector.size
    val bc = spark.sparkContext.broadcast(centroids)

    // one pass: per-cluster (sum, count) partials merged with treeReduce
    val (sums, counts) = batch.select(col(featuresCol)).rdd
      .mapPartitions { it =>
        val localSums = Array.fill(kk)(new Array[Double](dim))
        val localCounts = new Array[Long](kk)
        it.foreach { r =>
          val v = r.getAs[Vector](0)
          val cid = bc.value.zipWithIndex.minBy { case (c, _) =>
            measure.distance(c, VectorWithNorm(v))
          }._2
          localCounts(cid) += 1
          val s = localSums(cid)
          v.foreachActive((i, x) => s(i) += x)
        }
        Iterator.single((localSums, localCounts))
      }
      .treeReduce { case ((s1, c1), (s2, c2)) =>
        var i = 0
        while (i < kk) {
          var j = 0
          while (j < dim) { s1(i)(j) += s2(i)(j); j += 1 }
          c1(i) += c2(i)
          i += 1
        }
        (s1, c1)
      }
    bc.destroy()

    // a batch with rows in no cluster (all partitions empty) is a
    // no-op: the reference's batches are never empty, and decaying
    // weights on nothing would drift the model on idle streams
    if (counts.forall(_ == 0L)) return this

    val newCentroids = new Array[Vector](kk)
    val newWeights = new Array[Double](kk)
    var i = 0
    while (i < kk) {
      newWeights(i) = getDecayFactor * weights(i)
      if (counts(i) == 0) {
        newCentroids(i) = centroids(i).vector
      } else {
        newWeights(i) += counts(i)
        val lambda = counts(i) / newWeights(i)
        val old = centroids(i).vector.toArray
        val out = new Array[Double](dim)
        var j = 0
        while (j < dim) {
          out(j) = (1.0 - lambda) * old(j) + (lambda / counts(i)) * sums(i)(j)
          j += 1
        }
        newCentroids(i) = Vectors.dense(out)
      }
      i += 1
    }
    import spark.implicits._
    val versioned = hasVersions || modelTimeMs != Long.MinValue
    val next =
      if (!versioned) {
        newCentroids.zip(newWeights).zipWithIndex
          .map { case ((c, w), id) => (id, c.toArray, w) }.toSeq
          .toDF("centroidId", "arr", "weight")
          .select(col("centroidId"),
            org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
            col("weight"))
      } else {
        val newRows = newCentroids.zip(newWeights).zipWithIndex
          .map { case ((c, w), id) => (latestVersion + 1, modelTimeMs, id, c.toArray, w) }.toSeq
          .toDF("version", "modelTimeMs", "centroidId", "arr", "weight")
          .select(col("version"), col("modelTimeMs"), col("centroidId"),
            org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
            col("weight"))
        // legacy snapshot becomes version 0 at MinValue — never
        // servable under delay gating (same contract as OnlineLR)
        val base =
          if (hasVersions)
            modelData.select("version", "modelTimeMs", "centroidId", "centroid", "weight")
          else
            modelData.select(lit(0L).as("version"), lit(Long.MinValue).as("modelTimeMs"),
              col("centroidId"), col("centroid"), col("weight"))
        Loop.append(base, newRows)
      }
    val m = new OnlineKMeansModel().setModelData(next)
    copyParamsTo(m)
    m.latestCache = Some((latestVersion + 1, newCentroids, newWeights))
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    if (getMaxAllowedModelDelayMs >= 0L) transformVersioned(inputs.head)
    else transformLatest(inputs.head)
  }

  private def transformLatest(input: DataFrame): Array[DataFrame] = {
    val measure = DistanceMeasure(getDistanceMeasure)
    val (_, centroidVecs, _) = latestState()
    val centroids = centroidVecs.map(VectorWithNorm(_))
    val bc = input.sparkSession.sparkContext.broadcast(centroids)
    val predict = udf { v: Vector =>
      if (v == null) null
      else java.lang.Integer.valueOf(measure.findClosest(bc.value, VectorWithNorm(v)))
    }
    Array(input.withColumn(getPredictionCol, predict(col(getFeaturesCol))))
  }

  /**
   * As-of scoring: binary-search the (modelTimeMs-sorted) version
   * stream per row, mirroring OnlineStandardScalerModel / OnlineLrModel.
   * Rows earlier than every qualifying version — the ones the
   * reference would buffer forever on a bounded stream — get a null
   * prediction and version −1. The initial snapshot carries
   * modelTimeMs == Long.MinValue and is excluded: it was never an
   * emitted model version.
   */
  private def transformVersioned(input: DataFrame): Array[DataFrame] = {
    val delay = getMaxAllowedModelDelayMs
    require(hasVersions,
      "versioned scoring requires model data with (version, modelTimeMs) columns — " +
        "fit with timeCol set or pass modelTimeMs to update()")
    val measure = DistanceMeasure(getDistanceMeasure)
    val grouped = modelData
      .where(col("modelTimeMs") > Long.MinValue)
      .select(col("modelTimeMs").cast("long"), col("version").cast("long"),
        col("centroidId"), col("centroid"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .toArray.sortBy(_._1)
    val times = grouped.map(_._1._1)
    val vers = grouped.map(_._1._2)
    val cents = grouped.map(_._2.sortBy(_.getAs[Number](2).intValue())
      .map(r => VectorWithNorm(r.getAs[Vector](3))))
    val spark = input.sparkSession
    val bTimes = spark.sparkContext.broadcast(times)
    val bVers = spark.sparkContext.broadcast(vers)
    val bCents = spark.sparkContext.broadcast(cents)

    val score = udf { (v: Vector, ts: Long) =>
      val es = bTimes.value
      // lower bound: first index with es(i) >= ts - delay
      var lo = 0; var hi = es.length
      val key = ts - delay
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (es(mid) >= key) hi = mid else lo = mid + 1
      }
      if (lo == es.length || v == null) (None: Option[Int], -1L)
      else
        (Some(measure.findClosest(bCents.value(lo), VectorWithNorm(v))): Option[Int],
          bVers.value(lo))
    }
    val applied = input.withColumn("__scored",
      score(col(getFeaturesCol), col(getTimeCol).cast("long")))
    Array(applied
      .withColumn(getPredictionCol, col("__scored._1"))
      // a null event time short-circuits the primitive-Long udf to a
      // null struct; surface it as the documented "no qualifying
      // version" contract (null prediction, version -1)
      .withColumn(getModelVersionCol, coalesce(col("__scored._2"), lit(-1L)))
      .drop("__scored"))
  }
}
object OnlineKMeansModel extends StageLoader[OnlineKMeansModel] {
  /** Seeded random initial model (uniform [0,1) per coordinate, like
    * the reference KMeansModelData.generateRandomModelData). */
  def randomInit(spark: SparkSession, k: Int, dim: Int, weight: Double, seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed)
    import spark.implicits._
    (0 until k).map { i =>
      (i, Array.fill(dim)(rnd.nextDouble()), weight)
    }.toDF("centroidId", "arr", "weight")
      .select(col("centroidId"),
        org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
        col("weight"))
  }

  def load(spark: SparkSession, path: String): OnlineKMeansModel = {
    val m = ReadWrite.applyParams(new OnlineKMeansModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
