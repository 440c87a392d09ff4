package graft.examples

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/**
 * Round-8 capability examples: incremental dedup indexes, the
 * windowed agglomerative clustering, pipeline servable export, and
 * warm-starting online FTRL from a batch model.
 */
object IncrementalDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("IncrementalDedupExample")
    import spark.implicits._
    def vec(idx: Int*) =
      Vectors.sparse(100, idx.sorted.toArray, Array.fill(idx.size)(1.0))
    // yesterday's corpus, indexed once
    val corpus = Seq(
      (0L, vec(1, 2, 3, 4, 5, 6, 7, 8, 9, 10)),
      (1L, vec(40, 41, 42, 43, 44, 45, 46, 47, 48, 49))).toDF("id", "features")
    val model = new graft.dedup.MinHashIndexer()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(10).setThreshold(0.3).setSeed(7L)
      .fit(corpus)
    // today's batch: checked against the index, not against itself
    val batch = Seq(
      (10L, vec(1, 2, 3, 4, 5, 6, 7, 8, 9, 99)), // near-dup of 0
      (11L, vec(70, 71, 72, 73, 74, 75, 76, 77, 78, 79))).toDF("id", "features")
    model.transform(batch).head.select("id", "matched_id", "is_duplicate").show(false)
    // grow the index for tomorrow
    val grown = model.addToIndex(batch)
    println(s"index size: ${grown.getModelData.head.count()}")
    spark.stop()
  }
}

object WindowedAgglomerativeExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("WindowedAgglomerativeExample")
    import spark.implicits._
    // each 1-second event-time window is clustered independently
    val df = Seq(
      (Vectors.dense(1, 1), 1000L), (Vectors.dense(1, 4), 1000L), (Vectors.dense(1, 0), 1000L),
      (Vectors.dense(4, 4), 4000L), (Vectors.dense(4, 1.5), 4000L), (Vectors.dense(4, 0), 4000L)
    ).toDF("features", "ts")
    new graft.clustering.AgglomerativeClustering()
      .setLinkage("ward")
      .setWindows(graft.streaming.EventTimeTumblingWindows(1000L)).setTimeCol("ts")
      .transform(df).head
      .select("ts", "features", "prediction").show(false)
    spark.stop()
  }
}

object PipelineServableExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("PipelineServableExample")
    import spark.implicits._
    val train = Seq(
      (Vectors.dense(1, 2), 0.0), (Vectors.dense(2, 3), 0.0),
      (Vectors.dense(11, 2), 1.0), (Vectors.dense(12, 3), 1.0)).toDF("features", "label")
    val scaler = new graft.feature.StandardScaler()
      .setInputCol("features").setOutputCol("scaled").setWithMean(true).fit(train)
    val lr = new graft.classification.LogisticRegression()
      .setFeaturesCol("scaled").fit(scaler.transform(train).head)
    val pipeline = new graft.api.PipelineModel(Seq(scaler, lr))
    println(s"supportServable = ${pipeline.supportServable}")
    // score WITHOUT Spark: plain arrays through the exported servable
    val servable = pipeline.toServable
    val input = graft.servable.LocalDataFrame(
      Seq("features"), Seq(Seq(Array(1.5, 2.5): Any), Seq(Array(11.5, 2.5): Any)))
    val out = servable.transform(input)
    println(s"Spark-free predictions: ${out.column("prediction")}")
    spark.stop()
  }
}

object OnlineWarmStartExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("OnlineWarmStartExample")
    import spark.implicits._
    val history = Seq(
      (Vectors.dense(1, 2), 0.0), (Vectors.dense(2, 2), 0.0),
      (Vectors.dense(11, 2), 1.0), (Vectors.dense(12, 2), 1.0)).toDF("features", "label")
    // nightly batch fit...
    val batchModel = new graft.classification.LogisticRegression().fit(history)
    // ...seeds the online FTRL model for the day's stream
    val online = new graft.streaming.OnlineLogisticRegressionModel()
      .setModelData(graft.streaming.OnlineLogisticRegressionModel
        .warmInit(batchModel.getModelData.head))
    val updated = online.update(
      Seq((Vectors.dense(13.0, 2.0), 1.0, 1.0)).toDF("features", "label", "weight"),
      "features", "label", "weight")
    updated.getModelData.head
      .select("version", "coefficient").orderBy("version").show(false)
    spark.stop()
  }
}

/** Remove passages duplicated across documents (ExactSubstr-style). */
object SpanDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("SpanDedupExample")
    import spark.implicits._
    val boiler = "all rights reserved contact us for licensing terms and conditions apply"
    val docs = Seq(
      (1L, s"breaking news about the spark release $boiler"),
      (2L, s"$boiler plus an unrelated cooking recipe with eight more words"),
      (3L, "a document that shares nothing with the other two at all")).toDF("doc_id", "text")
    new graft.dedup.SpanDeduplicator().setN(8)
      .setIdCol("doc_id").setInputCol("text").setOutputCol("clean")
      .transform(docs).head
      .select("doc_id", "dup_spans", "dup_tokens", "clean").show(false)
    spark.stop()
  }
}

/** Mine corpus-frequent n-grams (boilerplate/template discovery). */
object FrequentNgramsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("FrequentNgramsExample")
    import spark.implicits._
    val docs = (0 until 50).map(i =>
      s"article $i subscribe to our newsletter for updates on topic${i % 7}")
      .toDF("text")
      .select(split(col("text"), " ").as("toks"))
    new graft.text.FrequentNgrams().setN(3).setMinCount(10L)
      .setInputCol("toks").transform(docs).head
      .orderBy(desc("cnt")).show(5, false)
    spark.stop()
  }
}

/** Dedup a corpus that never stops arriving: per-fingerprint state in
  * the streaming checkpoint, duplicates recognized across micro-batches
  * and restarts, TTL bounding state for truly unbounded feeds. */
object StreamingDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("StreamingDedupExample")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val docs = feed.toDF().toDF("id", "text", "ts")
    val flagged = new graft.streaming.StreamingDeduplicator()
      .setInputCol("text").setIdCol("id").setTimeCol("ts")
      .setStateTtlMs(24L * 3600 * 1000) // forget fingerprints idle > 1 day
      .transform(docs).head
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("dedup_feed").start()
    feed.addData((1L, "a scraped page", 1000L), (2L, "another page", 2000L))
    q.processAllAvailable()
    feed.addData((3L, "A  SCRAPED PAGE", 3000L)) // later crawl, same content
    q.processAllAvailable()
    q.stop()
    spark.table("dedup_feed")
      .select("id", "canonical_id", "is_duplicate", "occurrence").show(false)
    spark.stop()
  }
}

/** Engine-finalized session windows over an event stream. */
object StreamingSessionExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("StreamingSessionExample")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val events = feed.toDF().toDF("user_id", "ts")
    val sessions = new graft.streaming.Sessionizer()
      .setKeyCols("user_id").setTimeCol("ts").setGapMs(30L * 60 * 1000)
      .sessions(events)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("live_sessions").start()
    feed.addData((7L, 0L), (7L, 60000L), (7L, 120000L))
    q.processAllAvailable()
    feed.addData((7L, 10L * 3600 * 1000)) // long idle → watermark closes session 1
    q.processAllAvailable()
    q.stop()
    spark.table("live_sessions").show(false)
    spark.stop()
  }
}

/** Near-dup dedup of an unbounded feed: flag each micro-batch against
  * the index of everything seen, then fold the batch in (bounded plan
  * depth via [[graft.iteration.Loop.append]]). */
object StreamingNearDupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("StreamingNearDupExample")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.ml.linalg.Vectors
    val toVec = udf { idx: Seq[Int] =>
      Vectors.sparse(100, idx.sorted.toArray, Array.fill(idx.size)(1.0)) }
    val feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Int])]
    val docs = feed.toDF().toDF("id", "shingles")
      .select(col("id"), toVec(col("shingles")).as("features"))
    val seed = Seq((0L, Seq(1, 2, 3, 4, 5, 6, 7, 8))).toDF("id", "shingles")
      .select(col("id"), toVec(col("shingles")).as("features"))
    val handle = graft.streaming.StreamingTrainer.attach[graft.dedup.MinHashIndexModel](
      docs,
      new graft.dedup.MinHashIndexer()
        .setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(10).setThreshold(0.3).setSeed(7L).fit(seed),
      (m, b) => {
        m.transform(b).head.select("id", "matched_id", "is_duplicate").show(false)
        m.addToIndex(b)
      })
    feed.addData((1L, Seq(40, 41, 42, 43, 44, 45, 46, 47)))
    handle.query.processAllAvailable()
    feed.addData((2L, Seq(40, 41, 42, 43, 44, 45, 46, 99))) // near-dup of 1
    handle.query.processAllAvailable()
    handle.query.stop()
    spark.stop()
  }
}

/** Monitor an ingest window against the training snapshot: PSI + KS
  * per feature, one aggregation pass per side. */
object DriftDetectionExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("DriftDetectionExample")
    import spark.implicits._
    val training = (0 until 1000).map(i => (i % 100 / 10.0, (i % 7).toDouble)).toDF("price", "rating")
    val thisWeek = (0 until 800).map(i => (i % 100 / 10.0 + 3.0, (i % 7).toDouble)).toDF("price", "rating")
    new graft.stats.DriftDetector()
      .setFeatureCols("price", "rating").setNumBins(10)
      .transform(training, thisWeek).head
      .orderBy(desc("psi")).show(false) // price drifted (shifted +3), rating stable
    spark.stop()
  }
}

/** Whiten embeddings before clustering / near-dup: PCA to 8 dims with
  * unit output covariance. */
object PcaWhitenExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("PcaWhitenExample")
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(1)
    val vecs = (0 until 500).map { _ =>
      val t = rnd.nextGaussian()
      Vectors.dense(Array.tabulate(16)(i => t * (16 - i) / 16.0 + rnd.nextGaussian() * 0.05))
    }.map(Tuple1(_)).toDF("embedding")
    val model = new graft.feature.PCA()
      .setInputCol("embedding").setOutputCol("reduced")
      .setK(8).setWhiten(true).fit(vecs)
    println(s"explained variance: ${model.explainedVariance.map(v => f"$v%.3f").mkString(", ")}")
    model.transform(vecs).head.select("reduced").show(3, false)
    spark.stop()
  }
}

/** Monitor a live feed for drift: score each micro-batch against the
  * training snapshot inside foreachBatch (DriftDetector is one agg
  * pass per side, so per-batch scoring is cheap). */
object StreamingDriftMonitorExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("StreamingDriftMonitorExample")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val trainingSnapshot = (0 until 500).map(i => (i % 100) / 10.0).toDF("price").cache()
    val detector = new graft.stats.DriftDetector().setFeatureCols("price").setNumBins(10)
    val feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Double]
    val q = feed.toDF().toDF("price").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val r = detector.transform(trainingSnapshot, batch.toDF()).head.head()
        println(f"batch $id: psi=${r.getAs[Double]("psi")}%.4f ks=${r.getAs[Double]("ks")}%.4f")
      }.start()
    feed.addData((0 until 200).map(i => (i % 100) / 10.0): _*)  // same distribution
    q.processAllAvailable()
    feed.addData((0 until 200).map(i => (i % 100) / 10.0 + 4): _*) // shifted: psi jumps
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}

/** Build the ANN index once, persist it, probe it repeatedly — the
  * production similarity-search loop. */
object IvfIndexExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("IvfIndexExample")
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(2)
    val corpus = (0L until 2000L).map { id =>
      val c = (id % 8).toInt
      (id, Vectors.dense(Array.tabulate(16)(i =>
        (if (i == c * 2) 4.0 else 0.0) + rnd.nextGaussian() * 0.2)))
    }.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    new graft.ann.IvfIndexer().setIdCol("id").setVecCol("vec")
      .setNumLists(8).setTrainIters(5).setSeed(1L)
      .fit(corpus).save(dir)                         // nightly build
    val index = graft.ann.IvfIndexModel.load(spark, dir) // serving side
    val probes = Seq((9001L, Vectors.dense(Array.tabulate(16)(i => if (i == 4) 4.0 else 0.0))))
      .toDF("id", "vec")
    index.setK(3).setNprobe(2).transform(probes).head.show(false)
    spark.stop()
  }
}

/** Attribute clicks to purchase windows without a nested-loop join. */
object IntervalJoinExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("IntervalJoinExample")
    import spark.implicits._
    val clicks = Seq((1L, 7L, 1000L), (2L, 7L, 5000L), (3L, 8L, 1500L))
      .toDF("click_id", "user", "ts")
    val campaigns = Seq((7L, 900L, 2000L, "spring-sale"), (8L, 0L, 800L, "launch"))
      .toDF("user", "start", "end", "campaign")
    new graft.join.IntervalJoiner()
      .setOnCols("user").setLeftTimeCol("ts")
      .setRightStartCol("start").setRightEndCol("end")
      .setValueCols("campaign").setBinWidthMs(1000L)
      .transform(clicks, campaigns).head.show(false)
    spark.stop()
  }
}

/** Mix training sources by epochs: oversample rare high-quality data. */
object EpochMixExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("EpochMixExample")
    import spark.implicits._
    val corpus = (0 until 3000).map(i =>
      (i.toLong, if (i % 100 == 0) "books" else "web")).toDF("id", "source")
    new graft.feature.EpochMixer()
      .setIdCol("id").setStratumCol("source").setSeed(11L)
      .setWeights("books" -> 3.0, "web" -> 0.5) // 3 epochs of books, half the web
      .transform(corpus).head
      .groupBy("source").count().show(false)
    spark.stop()
  }
}

/** Pay the corpus shuffle once at ingest: bucketed tables join with
  * zero exchanges afterwards. */
object BucketedStoreExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("BucketedStoreExample")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("bucketed").toString
    val docs = (0L until 10000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val scores = (0L until 10000L).map(i => (i, i % 5)).toDF("doc_id", "quality")
    graft.sources.BucketedStore.write(docs, "ex_docs", s"$base/docs", 8, Seq("doc_id"))
    graft.sources.BucketedStore.write(scores, "ex_scores", s"$base/scores", 8, Seq("doc_id"))
    val joined = graft.sources.BucketedStore.read(spark, "ex_docs")
      .join(graft.sources.BucketedStore.read(spark, "ex_scores"), "doc_id")
    println(s"joined rows: ${joined.count()} (inspect the plan: no Exchange on either side)")
    graft.sources.BucketedStore.drop(spark, "ex_docs")
    graft.sources.BucketedStore.drop(spark, "ex_scores")
    spark.stop()
  }
}

/** Evaluate a multiclass model: per-class confusion metrics + roll-ups. */
object MulticlassEvalExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("MulticlassEvalExample")
    import spark.implicits._
    val scored = Seq((0, 0), (0, 0), (1, 1), (1, 2), (2, 2), (2, 2), (2, 1))
      .toDF("label", "prediction")
    val ev = new graft.evaluation.MulticlassEvaluator()
    ev.transform(scored).head.orderBy("clazz").show(false)
    println(ev.summary(scored))
    spark.stop()
  }
}

/** Score a regression model in one aggregation pass. */
object RegressionEvalExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("RegressionEvalExample")
    import spark.implicits._
    val scored = Seq((3.0, 2.5), (-0.5, 0.0), (2.0, 2.0), (7.0, 8.0))
      .toDF("label", "prediction")
    new graft.evaluation.RegressionEvaluator().transform(scored).head.show(false)
    spark.stop()
  }
}
