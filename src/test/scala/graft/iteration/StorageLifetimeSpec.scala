package graft.iteration

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/**
 * The lifetime rule of [[Loop]] for every operator that stores a table:
 * after a call, a sink of what it returns and the caller's `unpersist`
 * of each returned frame, no RDD and no cache entry of the call remains;
 * a call that rejects its input leaves nothing either.
 */
class StorageLifetimeSpec extends SparkSpec {

  private def vec(xs: Double*): Vector = Vectors.dense(xs.toArray)

  private def points(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => Tuple1(vec(i % 7, i % 3))).toDF("features")
  }

  private def labeled: DataFrame = {
    import spark.implicits._
    (0 until 40).map(i => (vec(i % 5, 1.0), (i % 2).toDouble)).toDF("features", "label")
  }

  private def texts: DataFrame = {
    import spark.implicits._
    Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"),
      (3L, "a cat and a dog"), (4L, "the cat sat")).toDF("id", "text")
  }

  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
  }

  private def minHashDocs: DataFrame = {
    import spark.implicits._
    Seq((1L, Seq(1, 2, 3)), (2L, Seq(1, 2, 4)), (3L, Seq(7, 8, 9))).toDF("id", "idx")
      .select(col("id"), udf { idx: Seq[Int] =>
        Vectors.sparse(100, idx.toArray, Array.fill(idx.size)(1.0))
      }.apply(col("idx")).as("vec"))
  }

  private def minHashModel = new graft.feature.MinHashLSH()
    .setInputCol("vec").setOutputCol("hashes").setNumHashTables(5).setSeed(1L)
    .fit(minHashDocs)

  private def onlineKMeansInit: DataFrame = {
    import spark.implicits._
    Seq((0, Array(0.0, 0.0), 1.0), (1, Array(10.0, 0.0), 1.0))
      .toDF("centroidId", "arr", "weight")
      .select(col("centroidId"),
        org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
        col("weight"))
  }

  /** Each operator call, returning the frames it hands to its caller
    * (a fitted model's data for an estimator). */
  private val calls: Seq[(String, () => Seq[DataFrame])] = Seq(
    "SGD.optimize (LinearRegression.fit)" -> (() =>
      new graft.regression.LinearRegression().setMaxIter(3).fit(labeled).getModelData.toSeq),
    "KMeans.fit" -> (() =>
      new graft.clustering.KMeans().setK(2).setMaxIter(3).setSeed(1L).fit(points(20))
        .getModelData.toSeq),
    "OnlineKMeans.fit" -> (() =>
      new graft.streaming.OnlineKMeans().setK(2).setDecayFactor(0.5).setGlobalBatchSize(3)
        .setInitialModelData(onlineKMeansInit).fit(points(9)).getModelData.toSeq),
    "OnlineLogisticRegression.fit" -> (() =>
      new graft.streaming.OnlineLogisticRegression().setGlobalBatchSize(10)
        .setInitialModelData(graft.streaming.OnlineLogisticRegressionModel.zeroInit(spark, 2))
        .fit(labeled).getModelData.toSeq),
    "StringIndexer.fit" -> (() =>
      new graft.feature.StringIndexer().setInputCols("text").setOutputCols("idx")
        .fit(texts).getModelData.toSeq),
    "NgramLm.fit" -> (() =>
      new graft.text.NgramLm().setInputCol("text").setOutputCol("ppl").fit(texts)
        .getModelData.toSeq),
    "NgramLm.fit (hashed)" -> (() =>
      new graft.text.NgramLm().setInputCol("text").setOutputCol("ppl").setHashBuckets(64)
        .fit(texts).getModelData.toSeq),
    "BinaryClassificationEvaluator" -> (() => {
      import spark.implicits._
      new graft.evaluation.BinaryClassificationEvaluator()
        .transform((0 until 20).map(i => ((i % 2).toDouble, i / 20.0)).toDF("label", "rawPrediction"))
        .toSeq
    }),
    "CollocationScorer" -> (() =>
      new graft.text.CollocationScorer().setInputCol("text").setMinCount(1L).transform(texts).toSeq),
    "SkewReport" -> (() =>
      new graft.stats.SkewReport().setKeyCols("id", "text").setTopK(2).transform(texts).toSeq),
    "KeywordExtractor (topK 0)" -> (() =>
      new graft.text.KeywordExtractor().setInputCol("text").setNumIter(3).transform(texts).toSeq),
    "KeywordExtractor (topK 2)" -> (() =>
      new graft.text.KeywordExtractor().setInputCol("text").setNumIter(3).setTopK(2)
        .transform(texts).toSeq),
    "Bm25Scorer" -> (() =>
      new graft.text.Bm25Scorer().setInputCol("text").setIdCol("id").setOutputCol("score")
        .setQueryTerms("cat", "dog").transform(texts).toSeq),
    "NgramJaccardJoin" -> (() =>
      new graft.dedup.NgramJaccardJoin().setIdCol("id").setInputCol("toks").setThreshold(0.3)
        .transform(texts.select(col("id"), split(col("text"), " ").as("toks"))).toSeq),
    "MinHashLSHModel.approxSimilarityJoin" -> (() => {
      val docs = minHashDocs
      Seq(minHashModel.approxSimilarityJoin(docs, docs, 0.6, "id"))
    }),
    "DeterministicShuffler" -> (() =>
      new graft.feature.DeterministicShuffler().setIdCol("id").setNumShards(2)
        .transform(texts).toSeq),
    "KnnModel.transform" -> (() =>
      new graft.classification.Knn().setK(3).fit(labeled).transform(points(5)).toSeq),
    "AgglomerativeClustering" -> (() =>
      new graft.clustering.AgglomerativeClustering().setNumClusters(2).transform(points(8)).toSeq),
    "ConnectedComponents.run (star)" -> (() =>
      Seq(graft.dedup.ConnectedComponents.run(edges, driverEdgeLimit = 0).state)),
    "ConnectedComponents.run (minlabel)" -> (() =>
      Seq(graft.dedup.ConnectedComponents.run(edges, driverEdgeLimit = 0,
        algorithm = "minlabel").state)),
    "PageRank.run" -> (() => Seq(graft.graph.PageRank.run(edges, numIter = 3).state)),
    "Hits.run" -> (() => Seq(graft.graph.Hits.run(edges, numIter = 3).state)),
    "LabelPropagation.run" -> (() => Seq(graft.graph.LabelPropagation.run(edges).state)),
    "Bfs.run" -> (() => {
      import spark.implicits._
      Seq(graft.graph.Bfs.run(edges, Seq(1L).toDF("id"), seedCol = "id").state)
    }),
    "BpeTrainer.fit" -> (() =>
      new graft.text.BpeTrainer().setInputCol("text").setOutputCol("bpe").setNumMerges(4)
        .fit(texts).getModelData.toSeq),
    "FuzzyJoiner (self-join)" -> (() => {
      val df = texts.select(col("id"), col("text").as("s"))
      new graft.join.FuzzyJoiner().setIdCol("id").setInputCol("s").setMaxDistance(2)
        .transform(df, df).toSeq
    })
  )

  private def sinkAndRelease(out: Seq[DataFrame]): Unit = out.foreach { df =>
    df.write.format("noop").mode("overwrite").save()
    df.unpersist(blocking = true)
  }

  calls.foreach { case (name, call) =>
    test(s"$name: nothing outlives the call plus the caller's unpersist") {
      val residue = residueOf(sinkAndRelease(call()))
      assert(residue == (Set.empty, false), s"left (RDDs, cache entry) $residue")
    }
  }

  test("KMeans with k greater than the row count leaves nothing stored") {
    val residue = residueOf {
      intercept[IllegalArgumentException] {
        new graft.clustering.KMeans().setK(5).setMaxIter(2).fit(points(3))
      }
    }
    assert(residue == (Set.empty, false), s"a rejected fit left (RDDs, cache entry) $residue")
  }

  test("AgglomerativeClustering over MaxPoints rows leaves nothing stored") {
    val n = graft.clustering.AgglomerativeClustering.MaxPoints + 1
    val residue = residueOf {
      intercept[IllegalArgumentException] {
        new graft.clustering.AgglomerativeClustering().setNumClusters(2).transform(points(n))
      }
    }
    assert(residue == (Set.empty, false), s"a rejected call left (RDDs, cache entry) $residue")
  }

  test("a caller's cache of MinHashLSH's slim projection outlives approxSimilarityJoin") {
    spark.catalog.clearCache()
    val docs = minHashDocs
    val model = minHashModel
    val slim = docs.select("id", "vec").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      slim.count()
      sinkAndRelease(Seq(model.approxSimilarityJoin(docs, docs, 0.6, "id")))
      assert(slim.storageLevel != StorageLevel.NONE,
        "the call released the caller's cache of its slim (id, vec) projection")
    } finally slim.unpersist(blocking = true)
  }
}
