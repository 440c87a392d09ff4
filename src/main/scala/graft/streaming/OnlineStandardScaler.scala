package graft.streaming

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Standard scaling with a model STREAM: the input is split into
 * windows (see [[Windows]]); for each window the estimator emits one
 * model version holding the mean/std of ALL data seen up to and
 * including that window (cumulative, like the reference).
 * Reference: feature/standardscaler/OnlineStandardScaler.java:87,
 * OnlineStandardScalerParams (windows/model-version semantics).
 *
 * Model data: one row per version —
 * (version, windowEndMs, count, mean vector, std vector).
 *
 * Scale shape: one shuffle computes per-window partial moments
 * (count/sum/sumsq per dimension); the cumulative pass runs over the
 * tiny per-window summary table, never over rows. In Structured
 * Streaming the same update arrives via foreachBatch on a
 * micro-batch: treat each micro-batch as one count window.
 */
class OnlineStandardScaler extends Estimator[OnlineStandardScaler, OnlineStandardScalerModel]
    with HasInputCol[OnlineStandardScaler] with HasOutputCol[OnlineStandardScaler]
    with HasWindows[OnlineStandardScaler] {

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for event-time windows.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineStandardScaler = set(timeCol, v)

  override def fit(inputs: DataFrame*): OnlineStandardScalerModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession

    // (win, winEnd, vector) per the Windows strategy — the shared
    // assigner factored into Windows.scala (also drives OnlinePCA)
    val perWindow = WindowAssigner.assign(df, getWindows, getTimeCol, getInputCol)

    val exploded = perWindow.select(col("win"), col("winEnd"),
      posexplode(org.apache.spark.ml.functions.vector_to_array(col(getInputCol)))
        .as(Seq("dim", "value")))
    val partials = exploded.groupBy("win", "dim")
      .agg(max("winEnd").as("winEnd"), count(lit(1)).as("n"),
        sum("value").as("s"), sum(col("value") * col("value")).as("ss"))
    // cumulative moments over window order — per dimension
    val byDim = Window.partitionBy("dim").orderBy("win")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumulative = partials
      .withColumn("cn", sum("n").over(byDim))
      .withColumn("cs", sum("s").over(byDim))
      .withColumn("css", sum("ss").over(byDim))
      .withColumn("mean", col("cs") / col("cn"))
      .withColumn("variance",
        when(col("cn") > 1,
          (col("css") - col("cn") * col("mean") * col("mean")) / (col("cn") - 1))
          .otherwise(0.0))
      .withColumn("std", sqrt(greatest(col("variance"), lit(0.0))))

    val versions = cumulative.groupBy("win")
      .agg(max("winEnd").as("windowEndMs"), max("cn").as("count"),
        sort_array(collect_list(struct(col("dim"), col("mean")))).as("means"),
        sort_array(collect_list(struct(col("dim"), col("std")))).as("stds"))
      .orderBy("win")
    val toVec = udf { arr: Seq[org.apache.spark.sql.Row] =>
      Vectors.dense(arr.sortBy(_.getInt(0)).map(_.getDouble(1)).toArray): Vector
    }
    val modelStream = versions
      .withColumn("version", row_number().over(Window.orderBy("win")) - 1)
      .select(col("version").cast("long").as("version"), col("windowEndMs"), col("count"),
        toVec(col("means")).as("mean"), toVec(col("stds")).as("std"))

    val m = new OnlineStandardScalerModel().setModelData(modelStream)
    copyParamsTo(m)
    m
  }
}
object OnlineStandardScaler extends StageLoader[OnlineStandardScaler] {
  def load(spark: SparkSession, path: String): OnlineStandardScaler =
    ReadWrite.applyParams(new OnlineStandardScaler, path)
}

/**
 * Scales rows against the model-version stream. By default each row
 * uses the latest version (batch analog of "always use the freshest
 * model"); with `maxAllowedModelDelayMs >= 0` set, each row is
 * scored by the EARLIEST model version whose `windowEndMs >=
 * rowTime - maxAllowedModelDelayMs` — the batch equivalent of the
 * reference's buffering rule (OnlineStandardScalerModel.java:215-223:
 * a point is predicted once `dataTs - maxAllowedModelDelayMs <=
 * modelTs` first holds). `modelVersionCol` records the version
 * applied. Reference OnlineStandardScalerModel.java,
 * HasMaxAllowedModelDelayMs.java.
 *
 * Scale shape: the model stream is O(#windows) rows by construction,
 * so the as-of lookup is a broadcast binary search per row — no
 * shuffle, no range-join explosion.
 */
class OnlineStandardScalerModel extends Model[OnlineStandardScalerModel]
    with HasInputCol[OnlineStandardScalerModel] with HasOutputCol[OnlineStandardScalerModel] {

  final val modelVersionCol: Param[String] =
    param[String]("modelVersionCol", "Output column holding the model version used.", "version")
  def getModelVersionCol: String = get(modelVersionCol)
  def setModelVersionCol(v: String): OnlineStandardScalerModel = set(modelVersionCol, v)

  final val maxAllowedModelDelayMs: Param[Long] =
    param[Long]("maxAllowedModelDelayMs",
      "If >= 0, rows are scored by the earliest model version with windowEndMs >= rowTime - delay " +
        "(reference HasMaxAllowedModelDelayMs); if < 0, the latest version scores everything.", -1L)
  def getMaxAllowedModelDelayMs: Long = get(maxAllowedModelDelayMs)
  def setMaxAllowedModelDelayMs(v: Long): OnlineStandardScalerModel = set(maxAllowedModelDelayMs, v)

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for versioned scoring.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlineStandardScalerModel = set(timeCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): OnlineStandardScalerModel = {
    modelData = data.head; this
  }
  override def getModelData: Array[DataFrame] = Array(modelData)

  // exact cumulative moments across update() calls; when resuming from
  // a fit() or loaded model they are recovered once from the latest
  // version's (count, mean, std) — css = std²·(n−1) + n·mean², exact
  // algebra up to one sqrt round-trip
  private var cumN: Long = -1L
  private var cumS: Array[Double] = _
  private var cumSS: Array[Double] = _
  // carried with the moments so a chained update() never pays a Spark
  // job to re-read the latest row it itself just wrote
  private var cumVersion: Long = -1L

  /**
   * Structured Streaming hook: treat one micro-batch as one window —
   * fold the batch's (count, sum, sumsq) into the cumulative moments
   * and append one model version row. Call from foreachBatch:
   * {{{ model = model.update(batchDf) }}}
   * The batch aggregation is distributed; the fold is O(dim) on the
   * driver. An empty batch returns this model unchanged (no version).
   * The version stream grows through [[graft.iteration.Loop.append]],
   * whose rule bounds its lineage.
   */
  def update(batch: DataFrame, featuresCol: String = getInputCol,
      windowEndMs: Long = Long.MaxValue): OnlineStandardScalerModel = {
    val spark = batch.sparkSession
    val partials = batch
      .select(posexplode(org.apache.spark.ml.functions.vector_to_array(col(featuresCol)))
        .as(Seq("dim", "value")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("value").as("s"), sum(col("value") * col("value")).as("ss"))
      .collect().sortBy(_.getInt(0))
    if (partials.isEmpty) return this

    val dim = partials.length
    // local copies: update must not mutate the receiver
    val (latestVersion, baseN, baseS, baseSS) =
      if (cumN >= 0L) (cumVersion, cumN, cumS.clone(), cumSS.clone())
      else {
        // first update: recover state from the latest stored version
        val latest =
          if (modelData == null) None
          else modelData.orderBy(col("version").desc).limit(1).collect().headOption
        val s = new Array[Double](dim)
        val ss = new Array[Double](dim)
        val prevN = latest.fold(0L)(_.getAs[Long]("count"))
        if (prevN > 0L) {
          val mean = latest.get.getAs[Vector]("mean").toArray
          val std = latest.get.getAs[Vector]("std").toArray
          var d = 0
          while (d < dim) {
            s(d) = mean(d) * prevN
            ss(d) = std(d) * std(d) * (prevN - 1) + prevN * mean(d) * mean(d)
            d += 1
          }
        }
        (latest.fold(-1L)(_.getAs[Long]("version")), prevN, s, ss)
      }
    val n = partials.head.getLong(1)
    val newN = baseN + n
    val mean = new Array[Double](dim)
    val std = new Array[Double](dim)
    partials.foreach { r =>
      val d = r.getInt(0)
      baseS(d) += r.getDouble(2)
      baseSS(d) += r.getDouble(3)
      mean(d) = baseS(d) / newN
      val variance = if (newN > 1) (baseSS(d) - newN * mean(d) * mean(d)) / (newN - 1) else 0.0
      std(d) = math.sqrt(math.max(variance, 0.0))
    }
    import spark.implicits._
    val newRow = Seq((latestVersion + 1, windowEndMs, newN, mean, std))
      .toDF("version", "windowEndMs", "count", "m", "s")
      .select(col("version"), col("windowEndMs"), col("count"),
        org.apache.spark.ml.functions.array_to_vector(col("m")).as("mean"),
        org.apache.spark.ml.functions.array_to_vector(col("s")).as("std"))
    val m = new OnlineStandardScalerModel().setModelData(
      if (modelData == null) newRow else Loop.append(modelData, newRow))
    copyParamsTo(m)
    // the new model carries the exact running moments forward
    m.cumN = newN
    m.cumS = baseS
    m.cumSS = baseSS
    m.cumVersion = latestVersion + 1
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    if (getMaxAllowedModelDelayMs >= 0L) transformVersioned(inputs.head)
    else transformLatest(inputs.head)
  }

  private def transformLatest(input: DataFrame): Array[DataFrame] = {
    val latest = modelData.orderBy(col("version").desc).head()
    val version = latest.getLong(0)
    val mean = latest.getAs[Vector]("mean").toArray
    val std = latest.getAs[Vector]("std").toArray
    val scale = udf { v: Vector =>
      if (v == null) null
      else {
        val a = v.toArray
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) {
          out(i) = if (std(i) == 0.0) 0.0 else (a(i) - mean(i)) / std(i)
          i += 1
        }
        Vectors.dense(out): Vector
      }
    }
    Array(input
      .withColumn(getOutputCol, scale(col(getInputCol)))
      .withColumn(getModelVersionCol, lit(version)))
  }

  /**
   * As-of scoring: binary-search the (windowEndMs-sorted) model
   * stream per row. Rows earlier than every qualifying version — the
   * ones the reference would buffer forever on a bounded stream —
   * get a null output and version -1.
   */
  private def transformVersioned(input: DataFrame): Array[DataFrame] = {
    val delay = getMaxAllowedModelDelayMs
    // model stream is O(#windows); sorted driver copy for binary search
    // version tie-break: equal windowEndMs rows must sort
    // deterministically so the lower-bound search picks the earliest
    // version (same contract as OnlineLrModel/OnlinePCAModel)
    val versions = modelData
      .select(col("windowEndMs").cast("long"), col("version"), col("mean"), col("std"))
      .orderBy("windowEndMs", "version")
      .collect()
    val ends = versions.map(_.getLong(0))
    val vers = versions.map(_.getLong(1))
    val means = versions.map(_.getAs[Vector]("mean").toArray)
    val stds = versions.map(_.getAs[Vector]("std").toArray)
    val spark = input.sparkSession
    val bEnds = spark.sparkContext.broadcast(ends)
    val bVers = spark.sparkContext.broadcast(vers)
    val bMeans = spark.sparkContext.broadcast(means)
    val bStds = spark.sparkContext.broadcast(stds)

    val scaleVersioned = udf { (v: Vector, ts: Long) =>
      val es = bEnds.value
      // lower bound: first index with es(i) >= ts - delay
      var lo = 0; var hi = es.length
      val key = ts - delay
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (es(mid) >= key) hi = mid else lo = mid + 1
      }
      if (lo == es.length || v == null) (null: Vector, -1L)
      else {
        val mean = bMeans.value(lo); val std = bStds.value(lo)
        val a = v.toArray
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) {
          out(i) = if (std(i) == 0.0) 0.0 else (a(i) - mean(i)) / std(i)
          i += 1
        }
        (Vectors.dense(out): Vector, bVers.value(lo))
      }
    }
    val applied = input.withColumn("__scaled",
      scaleVersioned(col(getInputCol), col(getTimeCol).cast("long")))
    Array(applied
      .withColumn(getOutputCol, col("__scaled._1"))
      .withColumn(getModelVersionCol, col("__scaled._2"))
      .drop("__scaled"))
  }
}
object OnlineStandardScalerModel extends StageLoader[OnlineStandardScalerModel] {
  def load(spark: SparkSession, path: String): OnlineStandardScalerModel = {
    val m = ReadWrite.applyParams(new OnlineStandardScalerModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
