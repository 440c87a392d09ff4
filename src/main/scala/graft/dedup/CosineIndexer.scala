package graft.dedup

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Incremental embedding near-duplicate detection against a persisted
 * corpus index — the [[MinHashIndexer]] workflow for dense embeddings:
 * fit(corpus) stores (id, embedding) as model data; transform(batch)
 * flags each new row whose sign-LSH bucket candidates verify at
 * cosine ≥ `minSimilarity` against the index, reporting the most
 * similar indexed id. The seeded Gaussian hyperplanes regenerate from
 * the params (same family as [[CosineDeduplicator]]), so the index
 * survives save/load and grows with [[CosineIndexModel.addToIndex]].
 *
 * Scale: candidates come from the (band, bucket) equi-join — vectors
 * never ride the candidate shuffle; the exact cosine runs only on
 * candidates.
 */
class CosineIndexer extends Estimator[CosineIndexer, CosineIndexModel]
    with HasSeed[CosineIndexer] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column (long).", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): CosineIndexer = set(idCol, v)

  final val inputCol: Param[String] =
    param[String]("inputCol", "Embedding vector column.", "vec")
  def getInputCol: String = get(inputCol)
  def setInputCol(v: String): CosineIndexer = set(inputCol, v)

  final val numHashTables: Param[Int] =
    param[Int]("numHashTables", "Number of LSH bands.", 8, ParamValidators.gtEq(1))
  def getNumHashTables: Int = get(numHashTables)
  def setNumHashTables(v: Int): CosineIndexer = set(numHashTables, v)

  final val numPlanes: Param[Int] =
    param[Int]("numPlanes", "Sign bits (hyperplanes) per band.", 8,
      ParamValidators.inRange(1, 63))
  def getNumPlanes: Int = get(numPlanes)
  def setNumPlanes(v: Int): CosineIndexer = set(numPlanes, v)

  final val minSimilarity: Param[Double] =
    param[Double]("minSimilarity", "Minimum cosine similarity for a batch row to match the index.",
      0.9, ParamValidators.inRange(-1.0, 1.0))
  def getMinSimilarity: Double = get(minSimilarity)
  def setMinSimilarity(v: Double): CosineIndexer = set(minSimilarity, v)

  final val matchedCol: Param[String] =
    param[String]("matchedCol", "Output column holding the matched indexed id.", "matched_id")
  def getMatchedCol: String = get(matchedCol)
  def setMatchedCol(v: String): CosineIndexer = set(matchedCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging near-duplicates of the index.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): CosineIndexer = set(duplicateCol, v)

  override def fit(inputs: DataFrame*): CosineIndexModel = {
    require(inputs.size == 1)
    val m = new CosineIndexModel()
      .setModelData(inputs.head.select(col(getIdCol), col(getInputCol)))
    copyParamsTo(m)
    m
  }
}
object CosineIndexer extends StageLoader[CosineIndexer] {
  def load(spark: SparkSession, path: String): CosineIndexer =
    ReadWrite.applyParams(new CosineIndexer, path)
}

class CosineIndexModel extends Model[CosineIndexModel] with HasSeed[CosineIndexModel] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column (long).", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): CosineIndexModel = set(idCol, v)

  final val inputCol: Param[String] =
    param[String]("inputCol", "Embedding vector column.", "vec")
  def getInputCol: String = get(inputCol)
  def setInputCol(v: String): CosineIndexModel = set(inputCol, v)

  final val numHashTables: Param[Int] =
    param[Int]("numHashTables", "Number of LSH bands.", 8, ParamValidators.gtEq(1))
  def getNumHashTables: Int = get(numHashTables)
  def setNumHashTables(v: Int): CosineIndexModel = set(numHashTables, v)

  final val numPlanes: Param[Int] =
    param[Int]("numPlanes", "Sign bits (hyperplanes) per band.", 8,
      ParamValidators.inRange(1, 63))
  def getNumPlanes: Int = get(numPlanes)
  def setNumPlanes(v: Int): CosineIndexModel = set(numPlanes, v)

  final val minSimilarity: Param[Double] =
    param[Double]("minSimilarity", "Minimum cosine similarity for a batch row to match the index.",
      0.9, ParamValidators.inRange(-1.0, 1.0))
  def getMinSimilarity: Double = get(minSimilarity)
  def setMinSimilarity(v: Double): CosineIndexModel = set(minSimilarity, v)

  final val matchedCol: Param[String] =
    param[String]("matchedCol", "Output column holding the matched indexed id.", "matched_id")
  def getMatchedCol: String = get(matchedCol)
  def setMatchedCol(v: String): CosineIndexModel = set(matchedCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging near-duplicates of the index.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): CosineIndexModel = set(duplicateCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): CosineIndexModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** A new model whose index additionally contains `docs`; the index
    * grows through [[graft.iteration.Loop.append]], whose rule bounds
    * its lineage. */
  def addToIndex(docs: DataFrame): CosineIndexModel = {
    val m = new CosineIndexModel()
      .setModelData(Loop.append(modelData, docs.select(col(getIdCol), col(getInputCol))))
    copyParamsTo(m)
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val batch = inputs.head
    val spark = batch.sparkSession
    val nt = getNumHashTables
    val np = getNumPlanes
    val minSim = getMinSimilarity

    val first = modelData.select(col(getInputCol)).where(col(getInputCol).isNotNull).head()
    val dim = first.getAs[Vector](0).size
    // band-major seeded Gaussian hyperplanes, same family as
    // CosineDeduplicator (CosineDeduplicator.scala:85-87)
    val rnd = new java.util.Random(getSeed)
    val planes = Array.fill(nt * np, dim)(rnd.nextGaussian())
    val bPlanes = spark.sparkContext.broadcast(planes)
    val buckets = udf { v: Vector =>
      if (v == null) null
      else {
        val ps = bPlanes.value
        val out = new Array[Long](nt)
        var t = 0
        while (t < nt) {
          var b = 0L
          var j = 0
          while (j < np) {
            val plane = ps(t * np + j)
            var s = 0.0
            var i = 0
            while (i < dim) { s += plane(i) * v(i); i += 1 }
            if (s > 0) b |= (1L << j)
            j += 1
          }
          out(t) = b
          t += 1
        }
        out.toSeq
      }
    }

    def exploded(df: DataFrame, as: String): DataFrame =
      df.select(col(getIdCol).as(as), posexplode(buckets(col(getInputCol)))
        .as(Seq("band", "bucket")))

    val candidates = exploded(modelData, "ix").join(exploded(batch, "bx"), Seq("band", "bucket"))
      .select("ix", "bx").distinct()

    val norm = udf { v: Vector => math.sqrt(graft.linalg.BLAS.dot(v, v)) }
    val vi = modelData.select(col(getIdCol).as("ix"), col(getInputCol).as("vi"),
      norm(col(getInputCol)).as("ni"))
    val vb = batch.select(col(getIdCol).as("bx"), col(getInputCol).as("vb"),
      norm(col(getInputCol)).as("nb"))
    val cosine = udf { (x: Vector, y: Vector, nx: Double, ny: Double) =>
      if (nx == 0.0 || ny == 0.0) 0.0 else graft.linalg.BLAS.dot(x, y) / (nx * ny)
    }
    // best match per batch row: highest cosine, smallest id on ties
    val scored = candidates.join(vi, "ix").join(vb, "bx")
      .withColumn("sim", cosine(col("vi"), col("vb"), col("ni"), col("nb")))
      .where(col("sim") >= minSim)
    val best = scored
      .groupBy(col("bx"))
      .agg(max(struct(col("sim"), (-col("ix")).as("negId"))).as("best"))
      .select(col("bx").as(getIdCol), (-col("best.negId")).as(getMatchedCol))
    val out = batch.join(best, Seq(getIdCol), "left")
      .withColumn(getDuplicateCol, col(getMatchedCol).isNotNull)
    Array(out)
  }
}
object CosineIndexModel extends StageLoader[CosineIndexModel] {
  def load(spark: SparkSession, path: String): CosineIndexModel = {
    val m = ReadWrite.applyParams(new CosineIndexModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
