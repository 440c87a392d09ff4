package graft.streaming

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.iteration.Loop
import graft.linalg.Eigen
import graft.param._
import graft.util.ReadWrite

/**
 * Principal component analysis with a model STREAM: the input is
 * split into windows (see [[Windows]]); for each window the estimator
 * emits one model version holding the top-k eigenpairs of the sample
 * covariance of ALL data seen up to and including that window
 * (cumulative, like the reference's online estimators —
 * window/model-version semantics per
 * feature/standardscaler/OnlineStandardScaler.java:87; PCA itself has
 * no reference counterpart — beyond-reference LLM-data-pipeline tier:
 * streaming embedding-space compression/drift tracking).
 *
 * Model data: one row per version — (version, windowEndMs, count,
 * dim, mean, eigenvalues, components (k·d row-major), sum, gram).
 * `sum`/`gram` are the packed cumulative moments: they make a
 * persisted model resumable EXACTLY (update() folds new batches into
 * them), which mean+truncated eigenpairs alone cannot (k < d loses
 * the off-component covariance). Only the LATEST version row carries
 * them (resume never needs older moments); earlier rows hold empty
 * arrays, so model data is O(#versions·k·d + d²), not O(#versions·d²)
 * — at d=1024 the difference is ~4 MB of moments total vs ~4 MB per
 * version.
 *
 * Scale shape (100 TB design): one `aggregateByKey` pass computes
 * per-window `(n, Σx, packed Σxxᵀ)` with map-side combine — one
 * O(d²) buffer per window crosses the shuffle, never row data (the
 * same sufficient-statistic shape batch [[graft.feature.PCA]]
 * treeAggregates). The cumulative pass and the O(#versions) d×d
 * eigendecompositions run on the driver over the tiny per-window
 * summary (embedding dims are 10²–10³: microseconds each). Transform
 * broadcasts the version stream and projects per row — no shuffle.
 */
class OnlinePCA extends Estimator[OnlinePCA, OnlinePCAModel]
    with HasInputCol[OnlinePCA] with HasOutputCol[OnlinePCA]
    with HasWindows[OnlinePCA] {

  final val k: Param[Int] =
    param[Int]("k", "Number of principal components.", 2, ParamValidators.gt(0))
  def getK: Int = get(k)
  def setK(v: Int): OnlinePCA = set(k, v)

  final val whiten: Param[Boolean] =
    param[Boolean]("whiten", "Scale each component by 1/sqrt(eigenvalue) so the output has identity covariance (same convention as batch PCA).", false)
  def getWhiten: Boolean = get(whiten)
  def setWhiten(v: Boolean): OnlinePCA = set(whiten, v)

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for event-time windows.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlinePCA = set(timeCol, v)

  override def fit(inputs: DataFrame*): OnlinePCAModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession

    val perWindow = WindowAssigner.assign(df, getWindows, getTimeCol, getInputCol)
    val d = df.select(col(getInputCol)).head().getAs[Vector](0).size
    require(getK <= d, s"k=$getK exceeds vector dimension $d")
    val kk = getK

    // per-window moments: aggregateByKey clones the zero buffer per
    // (partition, window) and combines map-side, so the shuffle
    // carries one (n, winEnd, Σx, packed Σxxᵀ) record per window per
    // partition — O(windows · partitions · d²), independent of rows
    val rdd = perWindow.select(col("win"), col("winEnd"), col(getInputCol)).rdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getAs[Vector](2))))
    val zero = (0L, Long.MinValue, new Array[Double](d), new Array[Double](Eigen.triLen(d)))
    val perWin = rdd.aggregateByKey(zero)(
      seqOp = { case ((cnt, we, s, g), (winEnd, v)) =>
        require(v.size == d, s"OnlinePCA: vector of size ${v.size}, expected $d")
        Eigen.accumulate(s, g, v.toArray, d)
        (cnt + 1L, math.max(we, winEnd), s, g)
      },
      combOp = { case ((c1, w1, s1, g1), (c2, w2, s2, g2)) =>
        Eigen.merge(s1, g1, s2, g2)
        (c1 + c2, math.max(w1, w2), s1, g1)
      }).collect().sortBy(_._1)
    require(perWin.nonEmpty, "OnlinePCA: no full window in the input")

    // cumulative moments over window order; one eigendecomposition
    // per version on the driver
    val cs = new Array[Double](d)
    val cg = new Array[Double](Eigen.triLen(d))
    var cn = 0L
    val versionRows = perWin.zipWithIndex.map { case ((_, (n, we, s, g)), idx) =>
      cn += n
      Eigen.merge(cs, cg, s, g)
      require(cn > 1, s"OnlinePCA needs at least 2 rows in the first window, got $cn")
      val (mean, cov) = Eigen.covFromMoments(cn, cs, cg, d)
      val (ev, comps) = Eigen.topK(cov, kk)
      // moments only on the final (latest) version: resume reads the
      // latest row; persisting them per version would be O(#versions·d²)
      val last = idx == perWin.length - 1
      (idx.toLong, we, cn, d, mean, ev, comps.flatten,
        if (last) cs.clone() else Array.empty[Double],
        if (last) cg.clone() else Array.empty[Double])
    }.toSeq

    import spark.implicits._
    val modelData = versionRows.toDF("version", "windowEndMs", "count", "dim",
      "mean", "eigenvalues", "components", "sum", "gram")
    val m = new OnlinePCAModel().setModelData(modelData)
    copyParamsTo(m)
    m
  }
}
object OnlinePCA extends StageLoader[OnlinePCA] {
  def load(spark: SparkSession, path: String): OnlinePCA =
    ReadWrite.applyParams(new OnlinePCA, path)
}

/**
 * Projects rows against the model-version stream. By default each row
 * uses the latest version; with `maxAllowedModelDelayMs >= 0` set,
 * each row is projected by the EARLIEST model version whose
 * `windowEndMs >= rowTime - maxAllowedModelDelayMs` — the same as-of
 * rule as [[OnlineStandardScalerModel]] (batch equivalent of the
 * reference's HasMaxAllowedModelDelayMs buffering).
 * `modelVersionCol` records the version applied.
 *
 * Scale shape: the model stream is O(#windows · k·d) by construction,
 * so versioned scoring is a broadcast binary search per row — no
 * shuffle, no range-join explosion.
 */
class OnlinePCAModel extends Model[OnlinePCAModel]
    with HasInputCol[OnlinePCAModel] with HasOutputCol[OnlinePCAModel] {

  final val k: Param[Int] =
    param[Int]("k", "Number of principal components (used by update()).", 2, ParamValidators.gt(0))
  def getK: Int = get(k)

  final val whiten: Param[Boolean] =
    param[Boolean]("whiten", "Scale each component by 1/sqrt(eigenvalue) so the output has identity covariance (same convention as batch PCA).", false)
  def getWhiten: Boolean = get(whiten)

  final val modelVersionCol: Param[String] =
    param[String]("modelVersionCol", "Output column holding the model version used.", "version")
  def getModelVersionCol: String = get(modelVersionCol)
  def setModelVersionCol(v: String): OnlinePCAModel = set(modelVersionCol, v)

  final val maxAllowedModelDelayMs: Param[Long] =
    param[Long]("maxAllowedModelDelayMs",
      "If >= 0, rows are projected by the earliest model version with windowEndMs >= rowTime - delay " +
        "(reference HasMaxAllowedModelDelayMs); if < 0, the latest version projects everything.", -1L)
  def getMaxAllowedModelDelayMs: Long = get(maxAllowedModelDelayMs)
  def setMaxAllowedModelDelayMs(v: Long): OnlinePCAModel = set(maxAllowedModelDelayMs, v)

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for versioned scoring.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): OnlinePCAModel = set(timeCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): OnlinePCAModel = {
    modelData = data.head; this
  }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** Eigenvalues (variance each component explains) of the latest
    * version, descending. */
  def explainedVariance: Array[Double] =
    modelData.orderBy(col("version").desc).select("eigenvalues").head()
      .getAs[scala.collection.Seq[Double]](0).toArray

  // exact cumulative moments across update() calls; on the first
  // update after a load they are recovered from the latest persisted
  // version's (count, sum, gram) — exact, no algebra loss
  private var cumN: Long = -1L
  private var cumS: Array[Double] = _
  private var cumG: Array[Double] = _
  // carried with the moments so a chained update() never pays a Spark
  // job to re-read the latest row it itself just wrote
  private var cumVersion: Long = -1L
  private var cumDim: Int = -1

  /**
   * Structured Streaming hook: treat one micro-batch as one window —
   * fold the batch's (count, Σx, packed Σxxᵀ) into the cumulative
   * moments, eigendecompose once, and append one model version row.
   * Call from foreachBatch: {{{ model = model.update(batchDf) }}}
   * The batch aggregation is a distributed treeAggregate; the fold
   * and eigendecomposition are O(d²)/O(d³) on the driver. An empty
   * batch returns this model unchanged (no version). The version stream
   * grows through [[graft.iteration.Loop.append]], whose rule bounds its
   * lineage.
   */
  def update(batch: DataFrame, featuresCol: String = getInputCol,
      windowEndMs: Long = Long.MaxValue): OnlinePCAModel = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return this
    val vecs = batch.select(col(featuresCol)).rdd.map(_.getAs[Vector](0))
    // fresh model (no fit, no prior update): dimension comes from the
    // stream itself and the version counter starts at 0. When the
    // in-memory moments are live (a chained update) the latest row is
    // NOT re-read through the model-data plan — no Spark job.
    val latest: Option[org.apache.spark.sql.Row] =
      if (modelData == null || cumN >= 0L) None
      else modelData.orderBy(col("version").desc).limit(1).collect().headOption
    val d =
      if (cumDim > 0) cumDim
      else latest.map(_.getAs[Int]("dim")).getOrElse(vecs.first().size)
    val zero = (0L, new Array[Double](d), new Array[Double](Eigen.triLen(d)))
    val (bn, bs, bg) = vecs.treeAggregate(zero)(
      seqOp = { case ((cnt, s, g), v) =>
        require(v.size == d, s"OnlinePCA.update: vector of size ${v.size}, expected $d")
        Eigen.accumulate(s, g, v.toArray, d)
        (cnt + 1L, s, g)
      },
      combOp = { case ((c1, s1, g1), (c2, s2, g2)) =>
        Eigen.merge(s1, g1, s2, g2)
        (c1 + c2, s1, g1)
      })
    if (bn == 0L) return this

    // local copies: update must not mutate the receiver
    val (baseN, baseS, baseG) =
      if (cumN >= 0L) (cumN, cumS.clone(), cumG.clone())
      else latest match {
        case Some(row) => (row.getAs[Long]("count"),
          row.getAs[scala.collection.Seq[Double]]("sum").toArray,
          row.getAs[scala.collection.Seq[Double]]("gram").toArray)
        case None => (0L, new Array[Double](d), new Array[Double](Eigen.triLen(d)))
      }
    Eigen.merge(baseS, baseG, bs, bg)
    val newN = baseN + bn
    val (mean, cov) = Eigen.covFromMoments(newN, baseS, baseG, d)
    val (ev, comps) = Eigen.topK(cov, math.min(getK, d))

    val version =
      (if (cumN >= 0L) cumVersion else latest.map(_.getAs[Long]("version")).getOrElse(-1L)) + 1
    import spark.implicits._
    val newRow = Seq((version, windowEndMs, newN, d, mean, ev, comps.flatten, baseS, baseG))
      .toDF("version", "windowEndMs", "count", "dim",
        "mean", "eigenvalues", "components", "sum", "gram")
    // the new row is now the latest: strip the superseded row's
    // moments (resume only ever reads the latest version's sum/gram)
    val chained =
      if (modelData == null) newRow
      else {
        val empt = array().cast("array<double>")
        Loop.append(modelData.withColumns(Map("sum" -> empt, "gram" -> empt)), newRow)
      }
    val m = new OnlinePCAModel().setModelData(chained)
    copyParamsTo(m)
    // the new model carries the exact running moments forward
    m.cumN = newN
    m.cumS = baseS
    m.cumG = baseG
    m.cumVersion = version
    m.cumDim = d
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    if (getMaxAllowedModelDelayMs >= 0L) transformVersioned(inputs.head)
    else transformLatest(inputs.head)
  }

  // projection body lives on the companion: the udf closures must
  // capture only broadcast handles, never `this` (the model holds a
  // non-serializable DataFrame)
  import OnlinePCAModel.{projectInto, whitenScale}

  private def transformLatest(input: DataFrame): Array[DataFrame] = {
    val latest = modelData.orderBy(col("version").desc).head()
    val version = latest.getAs[Long]("version")
    val d = latest.getAs[Int]("dim")
    val mu = latest.getAs[scala.collection.Seq[Double]]("mean").toArray
    val comps = latest.getAs[scala.collection.Seq[Double]]("components").toArray
    val ws = whitenScale(
      latest.getAs[scala.collection.Seq[Double]]("eigenvalues").toArray, getWhiten)
    val bc = input.sparkSession.sparkContext.broadcast((d, mu, comps, ws))
    val project = udf { v: Vector =>
      if (v == null) null
      else {
        val (dim, m, c, w) = bc.value
        projectInto(c, m, w, dim, v.toArray)
      }
    }
    Array(input
      .withColumn(getOutputCol, project(col(getInputCol)))
      .withColumn(getModelVersionCol, lit(version)))
  }

  /** As-of projection: binary-search the (windowEndMs-sorted) model
    * stream per row. Rows earlier than every qualifying version get a
    * null output and version -1 (same contract as the scaler). */
  private def transformVersioned(input: DataFrame): Array[DataFrame] = {
    val delay = getMaxAllowedModelDelayMs
    // tie-break on version: repeated default-arg updates share
    // windowEndMs, and the lower-bound binary search must then pick
    // the EARLIEST version deterministically (same as OnlineLrModel)
    val versions = modelData
      .select(col("windowEndMs").cast("long"), col("version"), col("dim"),
        col("mean"), col("components"), col("eigenvalues"))
      .orderBy("windowEndMs", "version")
      .collect()
    val ends = versions.map(_.getLong(0))
    val vers = versions.map(_.getLong(1))
    val d = versions.head.getInt(2)
    val means = versions.map(_.getAs[scala.collection.Seq[Double]](3).toArray)
    val comps = versions.map(_.getAs[scala.collection.Seq[Double]](4).toArray)
    val scales = versions.map(r =>
      whitenScale(r.getAs[scala.collection.Seq[Double]](5).toArray, getWhiten))
    val spark = input.sparkSession
    val bc = spark.sparkContext.broadcast((ends, vers, d, means, comps, scales))

    val projectVersioned = udf { (v: Vector, ts: Long) =>
      val (es, vr, dim, mus, cs, sc) = bc.value
      // lower bound: first index with es(i) >= ts - delay
      var lo = 0; var hi = es.length
      val key = ts - delay
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (es(mid) >= key) hi = mid else lo = mid + 1
      }
      if (lo == es.length || v == null) (null: Vector, -1L)
      else (projectInto(cs(lo), mus(lo), sc(lo), dim, v.toArray), vr(lo))
    }
    val applied = input.withColumn("__proj",
      projectVersioned(col(getInputCol), col(getTimeCol).cast("long")))
    Array(applied
      .withColumn(getOutputCol, col("__proj._1"))
      .withColumn(getModelVersionCol, col("__proj._2"))
      .drop("__proj"))
  }
}
object OnlinePCAModel extends StageLoader[OnlinePCAModel] {
  def load(spark: SparkSession, path: String): OnlinePCAModel = {
    val m = ReadWrite.applyParams(new OnlinePCAModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }

  /** proj_c = ws_c · V_cᵀ(x − μ); free function so udf closures
    * capture only broadcast data, never a model instance. */
  private[streaming] def projectInto(comps: Array[Double], mu: Array[Double],
      ws: Array[Double], d: Int, a: Array[Double]): Vector = {
    val kk = comps.length / d
    val out = new Array[Double](kk)
    var c = 0
    while (c < kk) {
      var s = 0.0
      var i = 0
      val off = c * d
      while (i < d) { s += comps(off + i) * (a(i) - mu(i)); i += 1 }
      out(c) = s * ws(c)
      c += 1
    }
    Vectors.dense(out)
  }

  /** Shared with batch PCA — ONE copy of the whiten convention. */
  private[streaming] def whitenScale(ev: Array[Double], whiten: Boolean): Array[Double] =
    Eigen.whitenScale(ev, whiten)
}
