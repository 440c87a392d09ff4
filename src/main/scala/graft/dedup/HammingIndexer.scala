package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Incremental PERCEPTUAL near-duplicate detection against a persisted
 * fingerprint index — the batch-over-batch workflow a growing
 * multimodal corpus needs, closing the asymmetry with
 * [[MinHashIndexer]] (text shingles) and the cosine indexer
 * (embeddings): index today's corpus's 64-bit perceptual hashes once
 * ([[graft.multimodal.ImageDHasher]] dHash,
 * [[graft.multimodal.AudioDHasher]] envelope hash, a
 * [[graft.multimodal.VideoDHasher]] slot, or text [[SimHasher]] —
 * the indexer is modality-agnostic over any 64-bit fingerprint
 * column), then flag each NEW batch against the index without
 * re-clustering the whole corpus.
 *
 * fit(corpus) stores the slim (id, fp) projection as the model data —
 * fingerprints are already computed upstream, so the index is exactly
 * the two columns that must persist, nothing recomputes on load, and
 * it can be extended batch-over-batch with
 * [[HammingIndexModel.addToIndex]] (lineage bounded by the
 * [[graft.iteration.Loop.append]] rule).
 *
 * transform(batch) appends
 *   - `matchedCol`: the smallest indexed id within `maxHamming` bits
 *     (null when none — including batch rows with a null fingerprint);
 *   - `duplicateCol`: true iff such a match exists.
 *
 * Scale: candidates come from the banded Hamming equi-join
 * (index × batch on (band, chunk) — the [[HammingJoin]] construction,
 * full recall while maxHamming < numBands by pigeonhole), never an
 * all-pairs comparison; the exact bit_count filter runs before the
 * per-batch-row min aggregate, so the shuffle carries only true
 * near-dup candidates.
 */
class HammingIndexer extends Estimator[HammingIndexer, HammingIndexModel]
    with HammingIndexParams[HammingIndexer] {

  override def fit(inputs: DataFrame*): HammingIndexModel = {
    require(inputs.size == 1)
    val corpus = inputs.head
    val m = new HammingIndexModel()
      .setModelData(corpus.select(col(getIdCol), col(getFpCol)))
    copyParamsTo(m)
    m
  }
}
object HammingIndexer extends StageLoader[HammingIndexer] {
  def load(spark: SparkSession, path: String): HammingIndexer =
    ReadWrite.applyParams(new HammingIndexer, path)
}

/** Params shared by [[HammingIndexer]] and [[HammingIndexModel]]. */
trait HammingIndexParams[T <: HammingIndexParams[T]] extends WithParams[T] {
  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): T = set(idCol, v)

  final val fpCol: Param[String] =
    param[String]("fpCol", "64-bit perceptual fingerprint column.", "fp")
  def getFpCol: String = get(fpCol)
  def setFpCol(v: String): T = set(fpCol, v)

  final val maxHamming: Param[Int] =
    param[Int]("maxHamming", "Maximum Hamming distance for a batch row to match the index.",
      3, ParamValidators.gtEq(0))
  def getMaxHamming: Int = get(maxHamming)
  def setMaxHamming(v: Int): T = set(maxHamming, v)

  final val numBands: Param[Int] =
    param[Int]("numBands", "Bands for the candidate equi-join; must divide 64 and exceed maxHamming.",
      4, ParamValidators.gt(0))
  def getNumBands: Int = get(numBands)
  def setNumBands(v: Int): T = set(numBands, v)

  final val matchedCol: Param[String] =
    param[String]("matchedCol", "Output column holding the matched indexed id.", "matched_id")
  def getMatchedCol: String = get(matchedCol)
  def setMatchedCol(v: String): T = set(matchedCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging near-duplicates of the index.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): T = set(duplicateCol, v)
}

class HammingIndexModel extends Model[HammingIndexModel]
    with HammingIndexParams[HammingIndexModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): HammingIndexModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** A new model whose index additionally contains `docs` — the
    * batch-over-batch growth path (the index is just (id, fp) rows, so
    * appending is all it takes). The index grows through
    * [[graft.iteration.Loop.append]], whose rule bounds its lineage. */
  def addToIndex(docs: DataFrame): HammingIndexModel = {
    val m = new HammingIndexModel()
      .setModelData(Loop.append(modelData, docs.select(col(getIdCol), col(getFpCol))))
    copyParamsTo(m)
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val batch = inputs.head
    val (mh, nb) = (getMaxHamming, getNumBands)
    require(mh < nb,
      s"banding with $nb bands only guarantees recall for Hamming distance < $nb")
    require(64 % nb == 0, s"numBands must divide 64 so the bands cover every bit, got $nb")
    val bits = 64 / nb
    def explodeBands(df: DataFrame, idAs: String, fpAs: String): DataFrame = {
      val bands = (0 until nb).map { b =>
        struct(lit(b).as("band"), shiftrightunsigned(col(getFpCol), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("chunk"))
      }
      df.where(col(getFpCol).isNotNull)
        .select(col(getIdCol).as(idAs), col(getFpCol).as(fpAs),
          explode(array(bands: _*)).as("bc"))
        .select(col(idAs), col(fpAs), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    }
    // index × batch banded equi-join (cross-table HammingJoin.pairs):
    // exact bit_count filter BEFORE the distinct+min, so the aggregate
    // shuffle carries only true near-dup candidates
    val idx = explodeBands(modelData, "__idx_id", "__idx_fp")
    val bat = explodeBands(batch, "__bat_id", "__bat_fp")
    val matches = bat.join(idx, Seq("band", "chunk"))
      .where(bit_count(col("__bat_fp").bitwiseXOR(col("__idx_fp"))) <= mh)
      .groupBy(col("__bat_id").as(getIdCol))
      .agg(min(col("__idx_id")).as(getMatchedCol))
    val out = batch.join(matches, Seq(getIdCol), "left")
      .withColumn(getDuplicateCol, col(getMatchedCol).isNotNull)
    Array(out)
  }
}
object HammingIndexModel extends StageLoader[HammingIndexModel] {
  def load(spark: SparkSession, path: String): HammingIndexModel = {
    val m = ReadWrite.applyParams(new HammingIndexModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
