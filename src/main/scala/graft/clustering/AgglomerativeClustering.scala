package graft.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.linalg.{DistanceMeasure, VectorWithNorm}
import graft.param._
import graft.streaming._
import graft.util.ReadWrite

/**
 * Bottom-up hierarchical clustering via the nearest-neighbor-chain
 * algorithm with single/complete/average/ward linkage.
 * Reference: clustering/agglomerativeclustering/AgglomerativeClustering.java:92
 * (nnChainCore :319-391, linkage update :466-480, merge reorder
 * :289-302, union-find labeling :305-316);
 * AgglomerativeClusteringParams.java:39-75.
 *
 * Outputs two tables: the input rows plus `predictionCol`, and the
 * merge log (clusterId1, clusterId2, distance, sizeOfMergedCluster).
 *
 * Scale note: hierarchical clustering is inherently O(n²) in distances
 * — the same bound as the reference's per-window process function. The
 * whole input is one clustering problem (the reference's per-window
 * mini-batching maps to running this operator per pre-grouped batch),
 * so the input is collected to the driver behind an explicit size
 * guard; at 100 TB this operator is for cluster-level summaries (e.g.
 * centroids from KMeans), not raw rows.
 */
class AgglomerativeClustering extends AlgoOperator[AgglomerativeClustering]
    with HasFeaturesCol[AgglomerativeClustering]
    with HasPredictionCol[AgglomerativeClustering]
    with HasDistanceMeasure[AgglomerativeClustering]
    with HasWindows[AgglomerativeClustering] {

  final val timeCol: Param[String] =
    param[String]("timeCol", "Event-time column (milliseconds, long) for event-time windows.", "ts")
  def getTimeCol: String = get(timeCol)
  def setTimeCol(v: String): AgglomerativeClustering = set(timeCol, v)

  final val numClusters: Param[Int] =
    param[Int]("numClusters", "The max number of clusters to create.", 2, ParamValidators.gt(0))
  final val distanceThreshold: Param[Double] =
    paramNoDefault[Double]("distanceThreshold", "Threshold to decide whether two clusters should be merged.")
  final val linkage: Param[String] =
    param[String]("linkage", "Criterion for computing distance between two clusters.",
      AgglomerativeClustering.LinkageWard,
      ParamValidators.inArray(AgglomerativeClustering.LinkageWard,
        AgglomerativeClustering.LinkageComplete, AgglomerativeClustering.LinkageSingle,
        AgglomerativeClustering.LinkageAverage))
  final val computeFullTree: Param[Boolean] =
    param[Boolean]("computeFullTree", "Whether computes the full tree after convergence.", false)

  def setNumClusters(v: Int): AgglomerativeClustering = set(numClusters, v)
  def setDistanceThreshold(v: Double): AgglomerativeClustering = set(distanceThreshold, v)
  def setLinkage(v: String): AgglomerativeClustering = set(linkage, v)
  def setComputeFullTree(v: Boolean): AgglomerativeClustering = set(computeFullTree, v)
  def getNumClusters: Int = get(numClusters)
  def getDistanceThreshold: Double = get(distanceThreshold)
  def getLinkage: String = get(linkage)
  def getComputeFullTree: Boolean = get(computeFullTree)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val useThreshold = isSet(distanceThreshold)
    if (getLinkage == AgglomerativeClustering.LinkageWard)
      require(getDistanceMeasure == DistanceMeasureNames.EUCLIDEAN,
        s"$getDistanceMeasure was provided as distance measure while linkage was ward. " +
          "Ward only works with euclidean.")
    val df = inputs.head
    val spark = df.sparkSession
    val measure = DistanceMeasure(getDistanceMeasure)

    // Per-window clustering (reference AgglomerativeClusteringParams
    // extends HasWindows; each window is an independent clustering
    // problem with window-local cluster ids). Batch mapping of the
    // window kinds follows Windows.scala: processing-time degenerates
    // to global; count windows use the input row order (pinned with a
    // single-partition row_number — fine under the MaxPoints collect
    // guard) and, like the reference's count triggers, DROP the
    // trailing partial window; event-time windows key on `timeCol`
    // (epoch millis).
    import org.apache.spark.sql.expressions.Window
    val ordered = df.withColumn("__agg_idx", monotonically_increasing_id())
    val keyed = getWindows match {
      case GlobalWindows | ProcessingTimeTumblingWindows(_) | ProcessingTimeSessionWindows(_) =>
        ordered.withColumn("__agg_win", lit(0L))
      case CountTumblingWindows(size) =>
        ordered
          .withColumn("__agg_rn", row_number().over(Window.orderBy("__agg_idx")).cast("long") - 1)
          .withColumn("__agg_win", floor(col("__agg_rn") / lit(size)).cast("long"))
          .drop("__agg_rn")
      case EventTimeTumblingWindows(sizeMs) =>
        ordered.withColumn("__agg_win",
          floor(col(getTimeCol).cast("long") / lit(sizeMs)).cast("long"))
      case EventTimeSessionWindows(_) =>
        // session ids need the sorted gap walk; carry ts and resolve on
        // the driver after the collect below
        ordered.withColumn("__agg_win", col(getTimeCol).cast("long"))
    }

    // store before collecting: the synthetic ids are re-evaluated by
    // predictUdf on the output plan, and an unstored reordering
    // upstream would mislabel rows (or miss the broadcast map). Cache
    // is bounded by the MaxPoints guard below, and released once the
    // returned frame is stored.
    Loop.scoped { stored =>
      val withIdx = stored.cache(keyed)
      val collected0 = withIdx.select(col("__agg_idx"), col(getFeaturesCol), col("__agg_win"))
        .collect().map(r => (r.getLong(0), r.getAs[Vector](1), r.getLong(2))).sortBy(_._1)
      val n = collected0.length
      require(n <= AgglomerativeClustering.MaxPoints,
        s"AgglomerativeClustering is O(n²); got $n rows, max ${AgglomerativeClustering.MaxPoints}. " +
          "Cluster a summary (e.g. KMeans centroids) instead of raw rows.")

      import spark.implicits._
      if (n == 0) Array(df.withColumn(getPredictionCol, lit(0)),
        Seq.empty[(Int, Int, Double, Int)]
          .toDF("clusterId1", "clusterId2", "distance", "sizeOfMergedCluster"))
      else {
        // resolve window membership on the driver
        val collected: Array[(Long, Vector, Long)] = getWindows match {
          case EventTimeSessionWindows(gapMs) =>
            // sorted gap walk over event time (carried in _3)
            val byTs = collected0.sortBy(t => (t._3, t._1))
            var session = 0L
            var lastTs = Long.MinValue
            byTs.map { case (idx, v, ts) =>
              if (lastTs != Long.MinValue && ts - lastTs > gapMs) session += 1
              lastTs = ts
              (idx, v, session)
            }
          case CountTumblingWindows(size) =>
            // drop the trailing partial window (count triggers only fire full)
            val full = collected0.groupBy(_._3).filter(_._2.length == size).keySet
            collected0.filter(t => full.contains(t._3))
          case _ => collected0
        }

        // one clustering problem per window, window-local labels
        val windowKeys = collected.map(_._3).distinct.sorted
        val idToCluster = scala.collection.mutable.HashMap.empty[Long, Int]
        val mergeRows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double, Int)]
        windowKeys.foreach { w =>
          val rows = collected.filter(_._3 == w)
          val (labels, merges) = clusterWindow(rows.map(_._2), measure, useThreshold)
          rows.map(_._1).zip(labels).foreach { case (idx, c) => idToCluster(idx) = c }
          mergeRows ++= merges
        }

        val bc = spark.sparkContext.broadcast(idToCluster.toMap)
        val predictUdf = udf { idx: Long => bc.value.get(idx).map(Integer.valueOf).orNull }
        val out = Loop.keep(withIdx.withColumn(getPredictionCol, predictUdf(col("__agg_idx")))
          .filter(col(getPredictionCol).isNotNull)
          .drop("__agg_idx", "__agg_win"))
        val mergeInfo = mergeRows.toSeq
          .toDF("clusterId1", "clusterId2", "distance", "sizeOfMergedCluster")
        Array(out, mergeInfo)
      }
    }
  }

  /** Cluster one window's points; returns (per-point labels, merge log). */
  private def clusterWindow(
      vectors: Array[Vector],
      measure: DistanceMeasure,
      useThreshold: Boolean): (Array[Int], Seq[(Int, Int, Double, Int)]) = {
    val n = vectors.length
    if (n == 0) return (Array.empty, Nil)
    val points = vectors.map(v => VectorWithNorm(v))
    val m = 2 * n - 1
    val dist = new AgglomerativeClustering.TriMatrix(m)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { dist.set(i, j, measure.distance(points(i), points(j))); j += 1 }
      i += 1
    }

    // --- nearest-neighbor chain (reference nnChainCore) ---
    val nodeLabels = new java.util.LinkedHashSet[Int]()
    (0 until n).foreach(nodeLabels.add)
    var nextClusterId = n
    // merges as (a, b, mergedId, distance)
    val nnChain = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val chain = scala.collection.mutable.ArrayBuffer.empty[Int]
    val size = new Array[Int](m)
    (0 until n).foreach(size(_) = 1)

    while (nodeLabels.size > 1) {
      var a = 0; var b = 0
      if (chain.size <= 3) {
        val it = nodeLabels.iterator()
        a = it.next()
        chain.clear()
        chain += a
        b = it.next()
      } else {
        val cs = chain.size
        a = chain(cs - 4)
        b = chain(cs - 3)
        chain.remove(cs - 1)
        chain.remove(cs - 2)
        chain.remove(cs - 3)
      }
      while (chain.size < 3 || chain(chain.size - 3) != a) {
        var minDistance = Double.MaxValue
        var c = -1
        val it = nodeLabels.iterator()
        while (it.hasNext) {
          val x = it.next()
          if (x != a) {
            val dax = dist.get(a, x)
            if (dax < minDistance) { c = x; minDistance = dax }
          }
        }
        if (minDistance == dist.get(a, b) && nodeLabels.contains(b)) c = b
        b = a
        a = c
        chain += a
      }
      val merged = nextClusterId
      nnChain += Array(a.toDouble, b.toDouble, merged.toDouble, dist.get(a, b))
      nodeLabels.remove(a)
      nodeLabels.remove(b)
      nextClusterId += 1
      size(merged) = size(a) + size(b)
      val it = nodeLabels.iterator()
      while (it.hasNext) {
        val x = it.next()
        val d = AgglomerativeClustering.clusterDistance(getLinkage,
          dist.get(a, x), dist.get(b, x), dist.get(a, b), size(a), size(b), size(x))
        dist.set(x, merged, d)
      }
      nodeLabels.add(merged)
    }

    // sort merges by distance, then reassign merge ids in sorted order
    // (reference reOrderNnChain)
    val sorted = nnChain.sortBy(_(3))
    val nodeMapping = scala.collection.mutable.HashMap.empty[Int, Int]
    var nextId = sorted.length + 1
    sorted.foreach { t =>
      nodeMapping.get(t(0).toInt).foreach(v => t(0) = v.toDouble)
      nodeMapping.get(t(1).toInt).foreach(v => t(1) = v.toDouble)
      nodeMapping(t(2).toInt) = nextId
      nextId += 1
    }

    val stoppedIdx =
      if (useThreshold) sorted.count(_(3) <= getDistanceThreshold)
      else n - getNumClusters

    // union-find labeling over the early-stopped merges. The k-th union
    // assigns fresh label n+k — the SAME id the reorder above gave the
    // k-th merge — so later merges that reference an earlier merge's id
    // resolve to that union's component (reference UnionFind :396-423).
    val parent = Array.fill(m)(-1)
    var nextLabel = n
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != -1) x = parent(x)
      x
    }
    sorted.take(stoppedIdx).foreach { t =>
      val rm = find(t(0).toInt)
      val rn = find(t(1).toInt)
      parent(rm) = nextLabel
      parent(rn) = nextLabel
      nextLabel += 1
    }
    val remap = scala.collection.mutable.HashMap.empty[Int, Int]
    val clusterIds = Array.tabulate(n) { idx =>
      val root = find(idx)
      remap.getOrElseUpdate(root, remap.size)
    }

    val mergeEnd = if (getComputeFullTree) sorted.length else stoppedIdx
    val mergeInfo = sorted.take(mergeEnd).map { t =>
      val cid1 = math.min(t(0).toInt, t(1).toInt)
      val cid2 = math.max(t(0).toInt, t(1).toInt)
      (cid1, cid2, t(3), size(cid1) + size(cid2))
    }.toSeq

    (clusterIds, mergeInfo)
  }
}
object AgglomerativeClustering extends StageLoader[AgglomerativeClustering] {
  val LinkageWard = "ward"
  val LinkageComplete = "complete"
  val LinkageSingle = "single"
  val LinkageAverage = "average"

  /** Driver-memory guard: the triangular distance matrix is (2n−1)²/2 doubles. */
  val MaxPoints: Int = 5000

  /** Lance-Williams cluster-distance update (reference :466-480). */
  private[clustering] def clusterDistance(linkage: String, dik: Double, djk: Double,
      dij: Double, si: Int, sj: Int, sk: Int): Double = linkage match {
    case LinkageSingle => math.min(dik, djk)
    case LinkageComplete => math.max(dik, djk)
    case LinkageAverage => (si * dik + sj * djk) / (si + sj)
    case LinkageWard => math.sqrt(
      ((si + sk) * dik * dik + (sj + sk) * djk * djk - sk * dij * dij) / (si + sj + sk))
  }

  /** Symmetric distance matrix in triangular storage. */
  private[clustering] final class TriMatrix(m: Int) {
    private val data = new Array[Double]((m.toLong * (m - 1) / 2).toInt)
    private def idx(i: Int, j: Int): Int = {
      val (lo, hi) = if (i < j) (i, j) else (j, i)
      hi * (hi - 1) / 2 + lo
    }
    def get(i: Int, j: Int): Double = if (i == j) 0.0 else data(idx(i, j))
    def set(i: Int, j: Int, v: Double): Unit = data(idx(i, j)) = v
  }

  def load(spark: SparkSession, path: String): AgglomerativeClustering =
    ReadWrite.applyParams(new AgglomerativeClustering, path)
}
