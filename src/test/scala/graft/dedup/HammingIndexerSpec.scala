package graft.dedup

import graft.SparkSpec
import graft.iteration.Loop
import org.apache.spark.sql.functions.col

/** Incremental perceptual dedup: index a corpus's 64-bit fingerprints
  * once, flag later batches against it, grow the index
  * batch-over-batch, survive save/load — the MinHashIndexer workflow
  * for perceptual hashes. */
class HammingIndexerSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, Some(0x0000000000000000L)),
      (2L, Some(0x00ff00ff00ff00ffL)),
      (4L, Some(0x5555aaaa5555aaaaL))
    ).toDF("id", "fp")
  }

  private def batch = {
    import spark.implicits._
    Seq(
      (11L, Some(0x0000000000000003L)),   // 2 bits from doc 0
      (13L, Some(0x00ff00ff00ff00ffL)),   // exact copy of doc 2
      (15L, Some(0x0f0f0f0f0f0f0f0fL)),   // unrelated
      (17L, None: Option[Long])           // undecodable payload upstream
    ).toDF("id", "fp")
  }

  private def indexer = new HammingIndexer().setMaxHamming(3).setNumBands(4)

  test("batch rows match the indexed corpus; nulls and strangers do not") {
    val model = indexer.fit(corpus)
    val out = model.transform(batch).head
      .select("id", "matched_id", "is_duplicate").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(out(11L) == (Some(0L), true))
    assert(out(13L) == (Some(2L), true))
    assert(out(15L) == (None, false))
    assert(out(17L) == (None, false))
  }

  test("addToIndex grows the index so later batches see earlier ones") {
    import spark.implicits._
    val model = indexer.fit(corpus).addToIndex(batch.where(col("fp").isNotNull))
    val later = Seq((20L, 0x0f0f0f0f0f0f0f0eL)).toDF("id", "fp") // 1 bit from 15
    val r = model.transform(later).head.select("matched_id", "is_duplicate").head()
    assert(r.getLong(0) == 15L && r.getBoolean(1))
  }

  test("index survives save/load") {
    val dir = tmpDir()
    indexer.fit(corpus).save(dir)
    val loaded = HammingIndexModel.load(spark, dir)
    val out = loaded.transform(batch).head
      .select("id", "is_duplicate").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(11L -> true, 13L -> true, 15L -> false, 17L -> false))
  }

  test("real image fingerprints ride the index: recolor matches, new content doesn't") {
    import spark.implicits._
    import graft.multimodal.ImageDHasher
    val hasher = new ImageDHasher().setInputCol("img").setOutputCol("fp")
    val corpusImgs = Seq(
      (0L, ImageDHasher.syntheticCellImage(1L)),
      (1L, ImageDHasher.syntheticCellImage(2L))).toDF("id", "img")
    val batchImgs = Seq(
      (10L, ImageDHasher.syntheticCellImage(1L, brightness = 40)), // recolor of 0
      (11L, ImageDHasher.syntheticCellImage(2L, flip = true)),     // 1-bit flip of 1
      (12L, ImageDHasher.syntheticCellImage(3L))                   // novel
    ).toDF("id", "img")
    val model = indexer.fit(hasher.transform(corpusImgs).head)
    val out = model.transform(hasher.transform(batchImgs).head).head
      .select("id", "matched_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == Map(10L -> Some(0L), 11L -> Some(1L), 12L -> None))
  }

  test("addToIndex over many micro-batches keeps plan depth bounded (CompactEvery)") {
    import spark.implicits._
    var model = indexer.fit(corpus)
    val rounds = Loop.LeafBound * 3 + 5 // forces 3 compactions
    (1 to rounds).foreach { i =>
      val one = Seq((1000L + i, 0x1111222233334444L + i * 1024L)).toDF("id", "fp")
      model = model.addToIndex(one)
    }
    val planNodes = model.getModelData.head.queryExecution.logical.collectLeaves().size
    assert(planNodes <= Loop.LeafBound + 2,
      s"plan carries $planNodes leaves after $rounds additions")
    assert(model.getModelData.head.count() == corpus.count() + rounds)
    val last = Seq((9999L, 0x1111222233334444L + rounds * 1024L)).toDF("id", "fp")
    assert(model.transform(last).head.select("is_duplicate").head().getBoolean(0))
  }

  test("streaming perceptual dedup: index grows per micro-batch, later batches flagged") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val flagged = new java.util.concurrent.CopyOnWriteArrayList[(Long, Option[Long])]()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val df = stream.toDF().toDF("id", "fp")

    val handle = graft.streaming.StreamingTrainer.attach[HammingIndexModel](
      df,
      indexer.fit(corpus),
      (m, b) => {
        m.transform(b).head.select("id", "matched_id").collect().foreach(r =>
          flagged.add((r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))))
        m.addToIndex(b)
      })
    stream.addData((30L, 0x123456789abcdef0L))  // novel
    handle.query.processAllAvailable()
    stream.addData((31L, 0x123456789abcdef1L))  // 1 bit from 30
    handle.query.processAllAvailable()
    stream.addData((32L, 0x0000000000000001L))  // 1 bit from corpus doc 0
    handle.query.processAllAvailable()
    handle.query.stop()

    import scala.jdk.CollectionConverters._
    val byId = flagged.asScala.toMap
    assert(byId(30L).isEmpty, byId)          // nothing like it yet
    assert(byId(31L).contains(30L), byId)    // matched the PREVIOUS micro-batch
    assert(byId(32L).contains(0L), byId)     // matched the original corpus
  }

  test("banding guards: maxHamming >= numBands, numBands not dividing 64") {
    val m = indexer.fit(corpus)
    intercept[IllegalArgumentException] {
      m.setMaxHamming(4).setNumBands(4).transform(batch)
    }
    intercept[IllegalArgumentException] {
      m.setMaxHamming(3).setNumBands(5).transform(batch)
    }
  }
}
