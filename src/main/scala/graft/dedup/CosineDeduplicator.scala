package graft.dedup

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.AlgoOperator
import graft.param._
import graft.util.ReadWrite

/**
 * Embedding near-duplicate deduplication: banded sign-LSH self-join
 * over an embedding column → exact cosine filter → connected
 * components → canonical id per cluster.
 *
 * The companion to [[MinHashDeduplicator]] (token/shingle space) for
 * the embedding space: rows whose vectors are cosine-similar above
 * `minSimilarity` are clustered, the minimum id becomes the cluster
 * canonical, and non-canonical members are flagged for dropping.
 *
 * Candidate generation is a banded random-hyperplane LSH
 * (numHashTables bands × numPlanes sign bits per band, seeded
 * Gaussians as in [[graft.ann.CosineLshKnn]]): only rows sharing a
 * full per-band bucket are compared, so the plan is an equi-join on
 * (band, bucket) — never an all-pairs product. Recall follows the
 * standard banding curve P(candidate) = 1 − (1 − p^numPlanes)^bands
 * with p = 1 − θ/π; tune bands up / bits down for higher recall.
 *
 * Scale shape (100 TB design): the explode carries only
 * (id, band, bucket-long) — vectors never ride the candidate shuffle;
 * exact cosine runs on the distinct candidate pairs only; connected
 * components runs on the surviving edge list (see
 * [[ConnectedComponents]] for its scale notes).
 */
class CosineDeduplicator extends AlgoOperator[CosineDeduplicator]
    with HasSeed[CosineDeduplicator] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column (long).", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): CosineDeduplicator = set(idCol, v)

  final val inputCol: Param[String] =
    param[String]("inputCol", "Embedding vector column.", "vec")
  def getInputCol: String = get(inputCol)
  def setInputCol(v: String): CosineDeduplicator = set(inputCol, v)

  final val numHashTables: Param[Int] =
    param[Int]("numHashTables", "Number of LSH bands.", 8, ParamValidators.gtEq(1))
  def getNumHashTables: Int = get(numHashTables)
  def setNumHashTables(v: Int): CosineDeduplicator = set(numHashTables, v)

  final val numPlanes: Param[Int] =
    param[Int]("numPlanes", "Sign bits (hyperplanes) per band.", 8,
      ParamValidators.inRange(1, 63))
  def getNumPlanes: Int = get(numPlanes)
  def setNumPlanes(v: Int): CosineDeduplicator = set(numPlanes, v)

  final val minSimilarity: Param[Double] =
    param[Double]("minSimilarity", "Minimum cosine similarity for two rows to be near-duplicates.",
      0.9, ParamValidators.inRange(-1.0, 1.0))
  def getMinSimilarity: Double = get(minSimilarity)
  def setMinSimilarity(v: Double): CosineDeduplicator = set(minSimilarity, v)

  final val canonicalCol: Param[String] =
    param[String]("canonicalCol", "Output column holding the cluster-canonical id.", "canonical_id")
  def getCanonicalCol: String = get(canonicalCol)
  def setCanonicalCol(v: String): CosineDeduplicator = set(canonicalCol, v)

  final val duplicateCol: Param[String] =
    param[String]("duplicateCol", "Output column flagging non-canonical duplicates.", "is_duplicate")
  def getDuplicateCol: String = get(duplicateCol)
  def setDuplicateCol(v: String): CosineDeduplicator = set(duplicateCol, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val edges = CosineDeduplicator.edges(df, getIdCol, getInputCol,
      getSeed, getNumHashTables, getNumPlanes, getMinSimilarity)

    val components = ConnectedComponents.run(edges).state
      .withColumnRenamed("id", getIdCol)
    val out = df.join(components, Seq(getIdCol), "left")
      .withColumn(getCanonicalCol, coalesce(col("component"), col(getIdCol)))
      .withColumn(getDuplicateCol, col(getCanonicalCol) =!= col(getIdCol))
      .drop("component")
    Array(out)
  }
}

object CosineDeduplicator extends graft.api.StageLoader[CosineDeduplicator] {

  /**
   * The cosine-similarity EDGE LIST itself — one `(src, dst)` row
   * (src < dst) per pair with cosine ≥ `minSimilarity`, found by the
   * banded sign-LSH candidate join described on the class. Public
   * because the edge list is the at-scale input to the graph tier:
   * feed it to [[graft.graph.LabelPropagation]] for semantic
   * communities (the SemDeDup shape — brute-force kNN is O(n²) and
   * stops being an option around 10⁵ vectors), to
   * [[ConnectedComponents]] for transitive dedup (what `transform`
   * does), or weight it with the exact cosine for weighted votes.
   */
  def edges(df: DataFrame, idCol: String, inputCol: String, seed: Long,
      numHashTables: Int, numPlanes: Int, minSimilarity: Double): DataFrame = {
    val spark = df.sparkSession
    val nt = numHashTables
    val np = numPlanes

    val first = df.select(col(inputCol)).where(col(inputCol).isNotNull).head()
    val dim = first.getAs[Vector](0).size
    // band-major seeded Gaussian hyperplanes, as in CosineLshKnn
    val rnd = new java.util.Random(seed)
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

    // (id, band, bucket) only — vectors never ride the candidate shuffle
    val exploded = df.select(col(idCol).as("id"), posexplode(buckets(col(inputCol)))
      .as(Seq("band", "bucket")))
    val a = exploded.select(col("id").as("src"), col("band"), col("bucket"))
    val b = exploded.select(col("id").as("dst"), col("band"), col("bucket"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .where(col("src") < col("dst"))
      .select("src", "dst").distinct()

    // norms are computed once per ROW here, not once per candidate
    // pair in the verify join (candidates >> rows whenever the bucket
    // width is generous for the corpus size)
    val norm = udf { v: Vector => math.sqrt(graft.linalg.BLAS.dot(v, v)) }
    val va = df.select(col(idCol).as("src"), col(inputCol).as("va"),
      norm(col(inputCol)).as("na"))
    val vb = df.select(col(idCol).as("dst"), col(inputCol).as("vb"),
      norm(col(inputCol)).as("nb"))
    val cosine = udf { (x: Vector, y: Vector, nx: Double, ny: Double) =>
      if (nx == 0.0 || ny == 0.0) 0.0 else graft.linalg.BLAS.dot(x, y) / (nx * ny)
    }
    candidates
      .join(va, "src").join(vb, "dst")
      .where(cosine(col("va"), col("vb"), col("na"), col("nb")) >= minSimilarity)
      .select("src", "dst")
  }

  def load(spark: SparkSession, path: String): CosineDeduplicator =
    ReadWrite.applyParams(new CosineDeduplicator, path)
}
