package graft.dedup

import org.apache.spark.ml.linalg.Vectors
import graft.SparkSpec
import graft.iteration.Loop

/** Incremental embedding dedup: index, flag batch vs index, grow,
  * persist. */
class CosineIndexerSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, Vectors.dense(1.0, 0.0, 0.0, 0.0)),
      (2L, Vectors.dense(0.0, 1.0, 0.0, 0.0)),
      (4L, Vectors.dense(0.0, 0.0, 1.0, 0.0))
    ).toDF("id", "vec")
  }

  private def batch = {
    import spark.implicits._
    Seq(
      (11L, Vectors.dense(0.999, 0.04, 0.0, 0.0)),  // near doc 0
      (13L, Vectors.dense(0.0, 0.0, 0.0, 1.0))      // orthogonal to all
    ).toDF("id", "vec")
  }

  private def indexer = new CosineIndexer()
    .setInputCol("vec").setMinSimilarity(0.95)
    .setNumHashTables(12).setNumPlanes(4).setSeed(3L)

  test("batch rows match the indexed corpus by cosine") {
    val out = indexer.fit(corpus).transform(batch).head
      .select("id", "matched_id", "is_duplicate").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(out(11L) == (Some(0L), true))
    assert(out(13L) == (None, false))
  }

  test("addToIndex + save/load") {
    import spark.implicits._
    val dir = tmpDir()
    indexer.fit(corpus).addToIndex(batch).save(dir)
    val loaded = CosineIndexModel.load(spark, dir)
    val later = Seq((20L, Vectors.dense(0.0, 0.0, 0.0, 0.997))).toDF("id", "vec")
    val r = loaded.transform(later).head.select("matched_id", "is_duplicate").head()
    assert(r.getLong(0) == 13L && r.getBoolean(1))

    // the loaded index keeps growing with its plan bounded
    var grown = loaded
    (1 to 40).foreach { i =>
      grown = grown.addToIndex(
        Seq((100L + i, Vectors.dense(1.0, i.toDouble, 0.0, 0.0))).toDF("id", "vec"))
      val leaves = grown.getModelData.head.queryExecution.logical.collectLeaves().size
      assert(leaves <= Loop.LeafBound, s"index carries $leaves leaves after $i additions")
    }
    assert(grown.getModelData.head.count() == 5L + 40L)
    val again = grown.transform(later).head.select("matched_id", "is_duplicate").head()
    assert(again.getLong(0) == 13L && again.getBoolean(1))
  }
}
