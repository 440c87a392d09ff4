package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.AlgoOperator
import graft.feature.{LSHParams, MinHashLSH}
import graft.param._
import graft.util.ReadWrite

/**
 * Near-duplicate deduplication: MinHash-LSH similarity self-join →
 * connected components → canonical document per cluster.
 *
 * Input: a table with an id column and a vector column whose active
 * indices are the document's shingle set (e.g. RegexTokenizer → NGram
 * → CountVectorizer). Output: the input plus
 *   - `canonicalCol`: the minimum id in the document's near-dup
 *     cluster (its own id for unique documents);
 *   - `duplicateCol`: true iff the document is a non-canonical member
 *     of a cluster — i.e. the rows a training pipeline would drop.
 *
 * The expensive step is the banded LSH join (see
 * [[graft.feature.MinHashLSHModel.approxSimilarityJoin]]): candidates
 * are generated by an equi-join on (hash table, signature), never by
 * an all-pairs comparison, so the plan scales to corpus sizes where
 * n² is unthinkable. Connected components then runs on the pair list
 * only (see [[ConnectedComponents]]).
 */
class MinHashDeduplicator extends AlgoOperator[MinHashDeduplicator]
    with LSHParams[MinHashDeduplicator] with HasSeed[MinHashDeduplicator] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): MinHashDeduplicator = set(idCol, v)

  final val threshold: Param[Double] =
    param[Double]("threshold", "Maximum Jaccard distance for two documents to be near-duplicates.",
      0.2, ParamValidators.gt(0.0))
  def getThreshold: Double = get(threshold)
  def setThreshold(v: Double): MinHashDeduplicator = set(threshold, v)

  final val canonicalCol: Param[String] =
    param[String]("canonicalCol", "Output column holding the cluster-canonical id.", "canonical_id")
  def getCanonicalCol: String = get(canonicalCol)
  def setCanonicalCol(v: String): MinHashDeduplicator = set(canonicalCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging non-canonical duplicates.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): MinHashDeduplicator = set(duplicateCol, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val model = new MinHashLSH()
      .setInputCol(getInputCol).setOutputCol(getOutputCol)
      .setNumHashTables(getNumHashTables)
      .setNumHashFunctionsPerTable(getNumHashFunctionsPerTable)
      .setSeed(getSeed)
      .fit(df)
    val edges = model.approxSimilarityJoin(df, df, getThreshold, getIdCol)
      .where(col("datasetA_id") < col("datasetB_id"))
      .select(col("datasetA_id").as("src"), col("datasetB_id").as("dst"))
    val components = ConnectedComponents.run(edges).state
      .withColumnRenamed("id", getIdCol)
    val out = df.join(components, Seq(getIdCol), "left")
      .withColumn(getCanonicalCol, coalesce(col("component"), col(getIdCol)))
      .withColumn(getDuplicateCol, col(getCanonicalCol) =!= col(getIdCol))
      .drop("component")
    Array(out)
  }
}

object MinHashDeduplicator extends graft.api.StageLoader[MinHashDeduplicator] {
  def load(spark: SparkSession, path: String): MinHashDeduplicator =
    ReadWrite.applyParams(new MinHashDeduplicator, path)
}
