package graft.feature

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * MinHash LSH for Jaccard distance over the active-index sets of
 * (sparse) vectors. Reference semantics:
 * feature/lsh/LSH.java:69, MinHashLSHModelData.java:69-167 (hash
 * family + key distance), LSHModel.java:142 (approxNearestNeighbors),
 * LSHModel.java:211-282 (approxSimilarityJoin: explode per table,
 * equi-join on (table, hashValue), distinct pairs, true-distance
 * filter).
 *
 * Hash family: h_{a,b}(S) = min_{i∈S} ((1+i)·a + b) mod P with
 * P = 2038074743; coefficients drawn from java.util.Random(seed) so
 * signatures are bit-identical to the reference (and, with
 * numHashFunctionsPerTable=1, to spark.ml).
 *
 * Scale notes (100 TB design):
 *  - fit is driver-only: the model is O(numHashTables·numFunctions)
 *    ints derived from the seed — no Spark job.
 *  - transform is one projection with a UDF over the active indices;
 *    the tiny coefficient arrays ride the task closure.
 *  - approxSimilarityJoin explodes ONLY (id, table, hashValue) — the
 *    feature vectors are never multiplied by numHashTables through the
 *    candidate shuffle. Distinct candidate pairs are then joined back
 *    to the two (id → vector) sides for the exact-distance filter, so
 *    shuffle volume is O(rows·tables·sigWidth + candidatePairs).
 *  - approxNearestNeighbors is a broadcast-predicate filter (the key's
 *    hashes in the closure) followed by a distributed top-k
 *    (TakeOrdered), never a global sort.
 */
object MinHashLSHModelData {
  /** A large prime smaller than sqrt(2^63 − 1) (reference MinHashLSHModelData.java:49). */
  val HashPrime: Int = 2038074743

  /** Draw the hash-family coefficients exactly as the reference does
    * (MinHashLSHModelData.java:77-84): alternating a=1+nextInt(P-1),
    * b=nextInt(P-1) from java.util.Random(seed). */
  def generate(numHashTables: Int, numHashFunctionsPerTable: Int, seed: Long): (Array[Int], Array[Int]) = {
    val random = new java.util.Random(seed)
    val n = numHashTables * numHashFunctionsPerTable
    val a = new Array[Int](n)
    val b = new Array[Int](n)
    var i = 0
    while (i < n) {
      a(i) = 1 + random.nextInt(HashPrime - 1)
      b(i) = random.nextInt(HashPrime - 1)
      i += 1
    }
    (a, b)
  }

  /** Per-table signature vectors for one input vector. */
  def hashFunction(v: Vector, numHashTables: Int, numPerTable: Int,
      a: Array[Int], b: Array[Int]): Array[Array[Double]] = {
    val indices = activeIndices(v)
    require(indices.nonEmpty, "Must have at least 1 non zero entry.")
    val out = Array.ofDim[Double](numHashTables, numPerTable)
    var i = 0
    while (i < numHashTables) {
      var j = 0
      while (j < numPerTable) {
        val ca = a(i * numPerTable + j)
        val cb = b(i * numPerTable + j)
        var minv = HashPrime.toLong
        var k = 0
        while (k < indices.length) {
          val h = ((1L + indices(k)) * ca + cb) % HashPrime
          if (h < minv) minv = h
          k += 1
        }
        out(i)(j) = minv.toDouble
        j += 1
      }
      i += 1
    }
    out
  }

  /** Jaccard distance of the active-index sets (reference keyDistance). */
  def jaccardDistance(x: Vector, y: Vector): Double = {
    val xi = activeIndices(x)
    val yi = activeIndices(y)
    require(xi.length + yi.length > 0, "The union of two input sets must have at least 1 elements")
    var px = 0; var py = 0; var inter = 0
    while (px < xi.length && py < yi.length) {
      if (xi(px) == yi(py)) { inter += 1; px += 1; py += 1 }
      else if (xi(px) < yi(py)) px += 1
      else py += 1
    }
    1.0 - inter.toDouble / (xi.length + yi.length - inter)
  }

  /** Sorted indices of non-zero entries. */
  private def activeIndices(v: Vector): Array[Int] = v match {
    case s: org.apache.spark.ml.linalg.SparseVector =>
      // SparseVector may carry explicit zeros; keep reference behavior
      // (toSparse of a dense drops zeros; an explicit sparse keeps its indices)
      s.indices
    case d => d.toArray.zipWithIndex.collect { case (x, i) if x != 0.0 => i }
  }
}

trait LSHParams[T] extends WithParams[T] with HasInputCol[T] with HasOutputCol[T] {
  final val numHashTables: Param[Int] =
    param[Int]("numHashTables", "Number of hash tables.", 1, ParamValidators.gtEq(1))
  def getNumHashTables: Int = get(numHashTables)
  def setNumHashTables(v: Int): T = set(numHashTables, v)

  final val numHashFunctionsPerTable: Param[Int] =
    param[Int]("numHashFunctionsPerTable", "Number of hash functions per table.", 1,
      ParamValidators.gtEq(1))
  def getNumHashFunctionsPerTable: Int = get(numHashFunctionsPerTable)
  def setNumHashFunctionsPerTable(v: Int): T = set(numHashFunctionsPerTable, v)
}

/** MinHashLSH estimator (reference feature/lsh/MinHashLSH.java). */
class MinHashLSH extends Estimator[MinHashLSH, MinHashLSHModel]
    with LSHParams[MinHashLSH] with HasSeed[MinHashLSH] {

  override def fit(inputs: DataFrame*): MinHashLSHModel = {
    require(inputs.size == 1)
    val spark = inputs.head.sparkSession
    import spark.implicits._
    val (a, b) = MinHashLSHModelData.generate(getNumHashTables, getNumHashFunctionsPerTable, getSeed)
    val modelDf = Seq((getNumHashTables, getNumHashFunctionsPerTable, a, b))
      .toDF("numHashTables", "numHashFunctionsPerTable", "randCoefficientA", "randCoefficientB")
    val m = new MinHashLSHModel().setModelData(modelDf)
    copyParamsTo(m)
    m
  }
}
object MinHashLSH extends StageLoader[MinHashLSH] {
  def load(spark: SparkSession, path: String): MinHashLSH =
    ReadWrite.applyParams(new MinHashLSH, path)
}

/** Fitted MinHash LSH model (reference feature/lsh/MinHashLSHModel.java + LSHModel.java). */
class MinHashLSHModel extends Model[MinHashLSHModel] with LSHParams[MinHashLSHModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): MinHashLSHModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  private def loadedModel: (Int, Int, Array[Int], Array[Int]) = {
    val row = modelData.select(
      "numHashTables", "numHashFunctionsPerTable", "randCoefficientA", "randCoefficientB").head()
    (row.getInt(0), row.getInt(1), row.getSeq[Int](2).toArray, row.getSeq[Int](3).toArray)
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    Array(withHashes(inputs.head))
  }

  /** Append `outputCol: array<vector>` (one signature vector per table). */
  private def withHashes(df: DataFrame): DataFrame = {
    val (nt, np, a, b) = loadedModel
    val hashUdf = udf { v: Vector =>
      if (v == null) null
      else MinHashLSHModelData.hashFunction(v, nt, np, a, b)
        .map(arr => Vectors.dense(arr): Vector).toSeq
    }
    df.withColumn(getOutputCol, hashUdf(col(getInputCol)))
  }

  private def ensureHashes(df: DataFrame): DataFrame =
    if (df.columns.contains(getOutputCol)) df else withHashes(df)

  /**
   * At most k rows of `dataset` sharing a full hash-table signature with
   * `key` in any table, closest first by true Jaccard distance
   * (reference LSHModel.java:142-187).
   */
  def approxNearestNeighbors(dataset: DataFrame, key: Vector, k: Int,
      distCol: String = "distCol"): DataFrame = {
    val (nt, np, a, b) = loadedModel
    val keyHashes = MinHashLSHModelData.hashFunction(key, nt, np, a, b)
    val sameBucket = udf { hashes: Seq[Vector] =>
      hashes.iterator.zipWithIndex.exists { case (h, i) =>
        java.util.Arrays.equals(h.toArray, keyHashes(i))
      }
    }
    val dist = udf { v: Vector => MinHashLSHModelData.jaccardDistance(key, v) }
    ensureHashes(dataset)
      .where(sameBucket(col(getOutputCol)))
      .withColumn(distCol, dist(col(getInputCol)))
      .orderBy(col(distCol))   // + limit(k) → TakeOrdered, a distributed top-k
      .limit(k)
  }

  /**
   * All pairs (one row from `datasetA`, one from `datasetB`) that share
   * a hash bucket in some table AND have true Jaccard distance ≤
   * threshold (reference LSHModel.java:211-282). Output columns:
   * datasetA_id, datasetB_id, distCol; returned stored
   * ([[graft.iteration.Loop.keep]]), so the caller's `unpersist` frees it.
   */
  def approxSimilarityJoin(datasetA: DataFrame, datasetB: DataFrame, threshold: Double,
      idCol: String, distCol: String = "distCol"): DataFrame = Loop.scoped { stored =>
    // each side's lineage is consumed by BOTH the bucket explode and the
    // exact-distance vector join-back — store the slim (id, vector[,
    // hashes]) projection so an expensive upstream (tokenize → shingle →
    // vectorize) isn't re-evaluated per consumer. Only the reused
    // projection is cached, never the caller's full table.
    val pa = stored.cache(slim(datasetA, idCol))
    val pb = if (datasetB eq datasetA) pa else stored.cache(slim(datasetB, idCol))
    // the (table, signature-array) bucket key is folded to one long
    // before the shuffle: 8-byte join keys instead of array<double>
    // comparisons. A 64-bit hash coincidence only ADDS a candidate
    // pair, and every candidate passes the exact-distance filter
    // below, so the output is unchanged.
    val ea = explodeHashes(pa, idCol).select(col("id").as("datasetA_id"),
      xxhash64(col("t"), col("h")).as("bucket"))
    val eb = explodeHashes(pb, idCol).select(col("id").as("datasetB_id"),
      xxhash64(col("t"), col("h")).as("bucket"))
    // candidate pairs: same (table, signature) bucket in at least one table
    val candidates = ea.join(eb, Seq("bucket"))
      .select("datasetA_id", "datasetB_id").distinct()
    val va = pa.select(col(idCol).as("datasetA_id"), col(getInputCol).as("va"))
    val vb = pb.select(col(idCol).as("datasetB_id"), col(getInputCol).as("vb"))
    val dist = udf { (x: Vector, y: Vector) => MinHashLSHModelData.jaccardDistance(x, y) }
    Loop.keep(candidates
      .join(va, "datasetA_id")
      .join(vb, "datasetB_id")
      .withColumn(distCol, dist(col("va"), col("vb")))
      .where(col(distCol) <= threshold)
      .select(col("datasetA_id"), col("datasetB_id"), col(distCol)))
  }

  /** The reused (id, inputCol[, outputCol]) projection. When the caller
    * already cached this projection, `Stored.cache` finds its entry,
    * reads it and leaves it registered to the caller. */
  private def slim(df: DataFrame, idCol: String): DataFrame = {
    val cols = Seq(idCol, getInputCol) ++
      (if (df.columns.contains(getOutputCol)) Seq(getOutputCol) else Nil)
    df.select(cols.map(col): _*)
  }

  /** (id, table index, signature-as-array) — one row per hash table. */
  private def explodeHashes(df: DataFrame, idCol: String): DataFrame = {
    val hashed = ensureHashes(df)
    hashed.select(col(idCol).as("id"), posexplode(col(getOutputCol)).as(Seq("t", "hv")))
      .select(col("id"), col("t"),
        org.apache.spark.ml.functions.vector_to_array(col("hv")).as("h"))
  }
}
object MinHashLSHModel extends StageLoader[MinHashLSHModel] {
  def load(spark: SparkSession, path: String): MinHashLSHModel = {
    val m = ReadWrite.applyParams(new MinHashLSHModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
