package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.feature.{LSHParams, MinHashLSH}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Incremental near-duplicate detection against a persisted corpus
 * index — the batch-over-batch workflow a growing training corpus
 * needs: index today's corpus once, then flag each NEW batch against
 * the index without re-clustering the whole corpus
 * (MinHashDeduplicator, by contrast, dedups one table against itself).
 *
 * fit(corpus) stores (id, shingle vector) as the model data — the
 * banded MinHash join regenerates signatures from the seed-derived
 * hash family (see MinHashLSH.scala:42-47: coefficients are a pure
 * function of the params), so the index survives save/load and can be
 * extended batch-over-batch with [[MinHashIndexModel.addToIndex]].
 *
 * transform(batch) appends
 *   - `matchedCol`: the smallest indexed id whose Jaccard distance is
 *     within `threshold` (null when none);
 *   - `duplicateCol`: true iff such a match exists.
 *
 * Scale: candidates come from the banded LSH equi-join on
 * (table, signature) — never an all-pairs comparison — and the verify
 * step computes exact Jaccard only on candidates, identically to
 * [[graft.feature.MinHashLSHModel.approxSimilarityJoin]].
 */
class MinHashIndexer extends Estimator[MinHashIndexer, MinHashIndexModel]
    with LSHParams[MinHashIndexer] with HasSeed[MinHashIndexer] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): MinHashIndexer = set(idCol, v)

  final val threshold: Param[Double] =
    param[Double]("threshold", "Maximum Jaccard distance for a batch row to match the index.",
      0.2, ParamValidators.gt(0.0))
  def getThreshold: Double = get(threshold)
  def setThreshold(v: Double): MinHashIndexer = set(threshold, v)

  final val matchedCol: Param[String] =
    param[String]("matchedCol", "Output column holding the matched indexed id.", "matched_id")
  def getMatchedCol: String = get(matchedCol)
  def setMatchedCol(v: String): MinHashIndexer = set(matchedCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging near-duplicates of the index.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): MinHashIndexer = set(duplicateCol, v)

  override def fit(inputs: DataFrame*): MinHashIndexModel = {
    require(inputs.size == 1)
    val corpus = inputs.head
    val m = new MinHashIndexModel()
      .setModelData(corpus.select(col(getIdCol), col(getInputCol)))
    copyParamsTo(m)
    m
  }
}
object MinHashIndexer extends StageLoader[MinHashIndexer] {
  def load(spark: SparkSession, path: String): MinHashIndexer =
    ReadWrite.applyParams(new MinHashIndexer, path)
}

class MinHashIndexModel extends Model[MinHashIndexModel]
    with LSHParams[MinHashIndexModel] with HasSeed[MinHashIndexModel] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): MinHashIndexModel = set(idCol, v)

  final val threshold: Param[Double] =
    param[Double]("threshold", "Maximum Jaccard distance for a batch row to match the index.",
      0.2, ParamValidators.gt(0.0))
  def getThreshold: Double = get(threshold)
  def setThreshold(v: Double): MinHashIndexModel = set(threshold, v)

  final val matchedCol: Param[String] =
    param[String]("matchedCol", "Output column holding the matched indexed id.", "matched_id")
  def getMatchedCol: String = get(matchedCol)
  def setMatchedCol(v: String): MinHashIndexModel = set(matchedCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging near-duplicates of the index.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): MinHashIndexModel = set(duplicateCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): MinHashIndexModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** A new model whose index additionally contains `docs` — the
    * batch-over-batch growth path (signatures regenerate from params,
    * so appending rows is all it takes). The index grows through
    * [[graft.iteration.Loop.append]], whose rule bounds its lineage. */
  def addToIndex(docs: DataFrame): MinHashIndexModel = {
    val m = new MinHashIndexModel()
      .setModelData(Loop.append(modelData, docs.select(col(getIdCol), col(getInputCol))))
    copyParamsTo(m)
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val batch = inputs.head
    val lsh = new MinHashLSH()
      .setInputCol(getInputCol).setOutputCol(getOutputCol)
      .setNumHashTables(getNumHashTables)
      .setNumHashFunctionsPerTable(getNumHashFunctionsPerTable)
      .setSeed(getSeed)
      .fit(modelData)
    // candidates: banded join index × batch; verify: exact Jaccard
    val matches = lsh.approxSimilarityJoin(modelData, batch, getThreshold, getIdCol)
      .groupBy(col("datasetB_id").as(getIdCol))
      .agg(min(col("datasetA_id")).as(getMatchedCol))
    val out = batch.join(matches, Seq(getIdCol), "left")
      .withColumn(getDuplicateCol, col(getMatchedCol).isNotNull)
    Array(out)
  }
}
object MinHashIndexModel extends StageLoader[MinHashIndexModel] {
  def load(spark: SparkSession, path: String): MinHashIndexModel = {
    val m = ReadWrite.applyParams(new MinHashIndexModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
