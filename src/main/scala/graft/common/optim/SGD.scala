package graft.common.optim

import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import graft.linalg.BLAS

/** A labeled feature vector with weight (reference
  * common/feature/LabeledPointWithWeight.java). */
case class LabeledPointWithWeight(features: Vector, label: Double, weight: Double)

/**
 * Loss functions (reference flink-ml-lib common/lossfunc — 209 LoC):
 * loss and cumulative-gradient contributions of one weighted point.
 * Labels are {0, 1}, internally rescaled to ±1 where applicable.
 */
trait LossFunc extends Serializable {
  def loss(p: LabeledPointWithWeight, w: Array[Double]): Double
  /** cumGradient += dLoss(p)/dw */
  def gradient(p: LabeledPointWithWeight, w: Array[Double], cum: Array[Double]): Unit

  protected def dot(v: Vector, w: Array[Double]): Double = {
    var s = 0.0
    v.foreachActive((i, x) => s += x * w(i))
    s
  }
}

/** BinaryLogisticLoss.java: log(1 + exp(-dot · (2y-1))) · weight. */
object BinaryLogisticLoss extends LossFunc {
  def loss(p: LabeledPointWithWeight, w: Array[Double]): Double = {
    val d = dot(p.features, w)
    val ls = 2 * p.label - 1
    p.weight * math.log1p(math.exp(-d * ls))
  }
  def gradient(p: LabeledPointWithWeight, w: Array[Double], cum: Array[Double]): Unit = {
    val d = dot(p.features, w)
    val ls = 2 * p.label - 1
    val mult = p.weight * (-ls / (math.exp(d * ls) + 1))
    BLAS.axpy(mult, p.features, cum)
  }
}

/** HingeLoss.java: max(0, 1 - (2y-1)·dot) · weight. */
object HingeLoss extends LossFunc {
  def loss(p: LabeledPointWithWeight, w: Array[Double]): Double = {
    val d = dot(p.features, w)
    val ls = 2 * p.label - 1
    p.weight * math.max(0.0, 1 - ls * d)
  }
  def gradient(p: LabeledPointWithWeight, w: Array[Double], cum: Array[Double]): Unit = {
    val d = dot(p.features, w)
    val ls = 2 * p.label - 1
    if (1 - ls * d > 0) BLAS.axpy(-ls * p.weight, p.features, cum)
  }
}

/** LeastSquareLoss.java: 0.5 · (dot - y)² · weight. */
object LeastSquareLoss extends LossFunc {
  def loss(p: LabeledPointWithWeight, w: Array[Double]): Double = {
    val d = dot(p.features, w)
    p.weight * 0.5 * (d - p.label) * (d - p.label)
  }
  def gradient(p: LabeledPointWithWeight, w: Array[Double], cum: Array[Double]): Unit = {
    val d = dot(p.features, w)
    BLAS.axpy((d - p.label) * p.weight, p.features, cum)
  }
}

case class SGDParams(
    maxIter: Int,
    learningRate: Double,
    globalBatchSize: Int,
    tol: Double,
    reg: Double,
    elasticNet: Double)

/**
 * Mini-batch SGD as a driver loop over a persisted RDD — the Spark
 * replacement for the reference's iteration dataflow
 * (common/optimizer/SGD.java: per-subtask batch slicing :262-284,
 * allReduceSum of [cumGradient | totalWeight | totalLoss], driver
 * update + regularization, TerminateOnMaxIterOrTol on loss/weight).
 *
 * One job stores the training points and returns, per partition, its
 * size and the feature size of its first point: the sizes fix the batch
 * slicing and the first non-empty partition's feature size is the model
 * dimension. The model starts at zero. Each round is then one job over
 * the stored points: each partition advances a deterministic batch
 * offset (same round-robin slicing as the reference's nextBatchOffset
 * state) and gradients reduce via treeReduce (the allReduce analogue).
 * The stored points are released when the call ends, also when it fails.
 */
object SGD {

  def optimize(
      data: RDD[LabeledPointWithWeight],
      lossFunc: LossFunc,
      params: SGDParams): (Array[Double], Array[Double]) = {
    val cached = data.persist(StorageLevel.MEMORY_AND_DISK)
    try optimizeStored(cached, lossFunc, params)
    finally cached.unpersist(blocking = false)
  }

  private def optimizeStored(
      cached: RDD[LabeledPointWithWeight],
      lossFunc: LossFunc,
      params: SGDParams): (Array[Double], Array[Double]) = {
    val loaded = cached.mapPartitions { it =>
      var size = 0
      var dim = -1
      while (it.hasNext) {
        val p = it.next()
        if (size == 0) dim = p.features.size
        size += 1
      }
      Iterator.single((size, dim))
    }.collect()
    val partSizes = loaded.map(_._1)
    val dim = loaded.collectFirst { case (size, d) if size > 0 => d }
      .getOrElse(throw new UnsupportedOperationException("SGD: no training points"))
    val numPartitions = partSizes.length

    val localBatchSizes = Array.tabulate(numPartitions) { pid =>
      params.globalBatchSize / numPartitions +
        (if (params.globalBatchSize % numPartitions > pid) 1 else 0)
    }

    val offsets = new Array[Int](numPartitions)

    val sc = cached.sparkContext
    // the reference's iteration dataflow = our shared driver loop:
    // TerminateOnMaxIterOrTol over the round's totalLoss/totalWeight
    // (SGD.java:134-142 wires exactly this pair into the criteria
    // stream). The loop utility records the per-round criterion as
    // the loss history.
    val result = graft.iteration.Loop.iterate(
        new Array[Double](dim), graft.iteration.TerminateOnMaxIterOrTol(params.maxIter, params.tol)) {
      (w, _) =>
      val bcW = sc.broadcast(w)
      val offsetsNow = offsets.clone()
      // feedback = [cumGradient(dim) | totalWeight | totalLoss]
      val feedback = cached.mapPartitionsWithIndex { (pid, it) =>
        val size = partSizes(pid)
        val b = localBatchSizes(pid)
        val start = offsetsNow(pid)
        val end = math.min(start + b, size)
        val acc = new Array[Double](dim + 2)
        if (size > 0) {
          val weights = bcW.value
          var i = 0
          val iterator = it
          // skip to batch window [start, end)
          while (i < start && iterator.hasNext) { iterator.next(); i += 1 }
          while (i < end && iterator.hasNext) {
            val p = iterator.next()
            acc(dim + 1) += lossFunc.loss(p, weights)
            lossFunc.gradient(p, weights, acc)
            acc(dim) += p.weight
            i += 1
          }
        }
        Iterator.single(acc)
      }.treeReduce { (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }
      bcW.destroy()

      // advance offsets like the reference's nextBatchOffset
      var p = 0
      while (p < numPartitions) {
        offsets(p) += localBatchSizes(p)
        if (offsets(p) >= partSizes(p)) offsets(p) = 0
        p += 1
      }

      val totalWeight = feedback(dim)
      val totalLoss = feedback(dim + 1)
      if (totalWeight > 0) {
        // w += (-lr / totalWeight) · cumGradient
        var i = 0
        val scale = -params.learningRate / totalWeight
        while (i < dim) { w(i) += scale * feedback(i); i += 1 }
        regularize(w, params.reg, params.elasticNet, params.learningRate)
      }
      val criterion = if (totalWeight > 0) totalLoss / totalWeight else 0.0
      (w, Some(criterion))
    }
    (result.state, result.history)
  }

  /** In-place regularization step (reference RegularizationUtils.java). */
  def regularize(w: Array[Double], reg: Double, elasticNet: Double, lr: Double): Double = {
    if (reg == 0) 0.0
    else if (elasticNet == 0) {
      var norm2 = 0.0
      var i = 0; while (i < w.length) { norm2 += w(i) * w(i); i += 1 }
      val loss = reg / 2 * math.sqrt(norm2)
      val s = 1 - lr * reg
      i = 0; while (i < w.length) { w(i) *= s; i += 1 }
      loss
    } else if (elasticNet == 1) {
      var loss = 0.0
      var i = 0
      while (i < w.length) {
        if (w(i) != 0) {
          loss += elasticNet * reg * math.signum(w(i))
          w(i) -= lr * elasticNet * reg * math.signum(w(i))
        }
        i += 1
      }
      loss
    } else {
      var loss = 0.0
      var i = 0
      while (i < w.length) {
        loss += elasticNet * reg * math.signum(w(i)) + (1 - elasticNet) * (reg / 2) * w(i) * w(i)
        w(i) -= lr * (elasticNet * reg * math.signum(w(i)) + (1 - elasticNet) * reg * w(i))
        i += 1
      }
      loss
    }
  }
}
