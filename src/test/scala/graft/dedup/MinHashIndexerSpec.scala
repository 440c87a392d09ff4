package graft.dedup

import org.apache.spark.ml.linalg.Vectors
import graft.SparkSpec
import graft.iteration.Loop

/** Incremental dedup: index a corpus once, flag later batches against
  * it, grow the index batch-over-batch, survive save/load. */
class MinHashIndexerSpec extends SparkSpec {

  private def vec(indices: Int*) =
    Vectors.sparse(200, indices.sorted.toArray, Array.fill(indices.size)(1.0))

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, vec(1, 2, 3, 4, 5, 6, 7, 8, 9, 10)),
      (2L, vec(50, 51, 52, 53, 54, 55, 56, 57, 58, 59)),
      (4L, vec(100, 101, 102, 103, 104, 105, 106, 107, 108, 109))
    ).toDF("id", "features")
  }

  private def batch = {
    import spark.implicits._
    Seq(
      // near-dup of doc 0: 9/11 shared shingles → dist = 1 - 9/11 ≈ 0.18
      (11L, vec(1, 2, 3, 4, 5, 6, 7, 8, 9, 42)),
      // exact copy of doc 2
      (13L, vec(50, 51, 52, 53, 54, 55, 56, 57, 58, 59)),
      // unrelated
      (15L, vec(150, 151, 152, 153, 154, 155, 156, 157, 158, 159))
    ).toDF("id", "features")
  }

  private def indexer = new MinHashIndexer()
    .setInputCol("features").setOutputCol("hashes")
    .setNumHashTables(10).setThreshold(0.3).setSeed(7L)

  test("batch rows match the indexed corpus, not each other") {
    val model = indexer.fit(corpus)
    val out = model.transform(batch).head
      .select("id", "matched_id", "is_duplicate").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(out(11L) == (Some(0L), true))
    assert(out(13L) == (Some(2L), true))
    assert(out(15L) == (None, false))
  }

  test("addToIndex grows the index so later batches see earlier ones") {
    import spark.implicits._
    val model = indexer.fit(corpus).addToIndex(batch)
    // a copy of batch doc 15 (absent from the original corpus) now matches
    val later = Seq((20L, vec(150, 151, 152, 153, 154, 155, 156, 157, 158, 159)))
      .toDF("id", "features")
    val r = model.transform(later).head.select("matched_id", "is_duplicate").head()
    assert(r.getLong(0) == 15L && r.getBoolean(1))
  }

  test("index survives save/load") {
    val dir = tmpDir()
    indexer.fit(corpus).save(dir)
    val loaded = MinHashIndexModel.load(spark, dir)
    val out = loaded.transform(batch).head
      .select("id", "is_duplicate").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(11L -> true, 13L -> true, 15L -> false))
  }

  test("addToIndex over many micro-batches keeps plan depth bounded (CompactEvery)") {
    import spark.implicits._
    var model = indexer.fit(corpus)
    val rounds = Loop.LeafBound * 3 + 5 // forces 3 compactions
    (1 to rounds).foreach { i =>
      val one = Seq((1000L + i, vec(i % 150, i % 150 + 1, i % 150 + 2, 190, 191, 192, 193, 194)))
        .toDF("id", "features")
      model = model.addToIndex(one)
    }
    // without compaction the logical plan would carry `rounds` Union
    // nodes; Loop.append's cut bounds it by the residue since the last
    // compaction
    val planNodes = model.getModelData.head.queryExecution.logical.collectLeaves().size
    assert(planNodes <= Loop.LeafBound + 2,
      s"plan carries $planNodes leaves after $rounds additions")
    assert(model.getModelData.head.count() == corpus.count() + rounds)
    // the grown index still answers: an exact copy of the last added doc
    val last = Seq((9999L, vec(rounds % 150, rounds % 150 + 1, rounds % 150 + 2, 190, 191, 192, 193, 194)))
      .toDF("id", "features")
    assert(model.transform(last).head.select("is_duplicate").head().getBoolean(0))
  }

  test("streaming near-dup dedup: StreamingTrainer grows the index per micro-batch " +
      "and later batches are flagged against earlier ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val flagged = new java.util.concurrent.CopyOnWriteArrayList[(Long, Option[Long])]()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Int])]
    val df = stream.toDF().toDF("id", "idx")
      .select(col("id"), indicesToVec(col("idx")).as("features"))

    val handle = graft.streaming.StreamingTrainer.attach[MinHashIndexModel](
      df,
      indexer.fit(corpus),
      (m, b) => {
        // flag the arriving batch against everything seen so far...
        m.transform(b).head.select("id", "matched_id").collect().foreach(r =>
          flagged.add((r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))))
        // ...then fold it into the index for the next micro-batch
        m.addToIndex(b)
      })
    stream.addData((30L, Seq(60, 61, 62, 63, 64, 65, 66, 67, 68, 69))) // novel
    handle.query.processAllAvailable()
    stream.addData((31L, Seq(60, 61, 62, 63, 64, 65, 66, 67, 68, 99))) // near-dup of 30
    handle.query.processAllAvailable()
    stream.addData((32L, Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10)))          // copy of corpus doc 0
    handle.query.processAllAvailable()
    handle.query.stop()

    import scala.jdk.CollectionConverters._
    val byId = flagged.asScala.toMap
    assert(byId(30L).isEmpty, byId)          // nothing like it yet
    assert(byId(31L).contains(30L), byId)    // matched the PREVIOUS micro-batch
    assert(byId(32L).contains(0L), byId)     // matched the original corpus
  }

  private val indicesToVec = org.apache.spark.sql.functions.udf { idx: Seq[Int] =>
    Vectors.sparse(200, idx.sorted.toArray, Array.fill(idx.size)(1.0))
  }
}
