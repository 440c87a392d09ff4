package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-13 batch: video perceptual dedup, transitive Hamming
 * clustering, the incremental perceptual-hash index, and
 * stopword-composed keyword extraction.
 */

/** Catch re-encoded / re-graded / frame-rate-converted copies of the
  * same clip: the signature is the dHash of the first/mid/last frame
  * by position fraction, so frame duplication and per-frame recolor
  * move zero bits, and the banded join never compares all pairs. */
object VideoDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("VideoDedupExample")
    import spark.implicits._
    import graft.multimodal.VideoDHasher
    val videos = Seq(
      (0L, VideoDHasher.syntheticCellVideo(1L)),                   // original
      (1L, VideoDHasher.syntheticCellVideo(1L, brightness = 40)),  // re-graded copy
      (2L, VideoDHasher.syntheticCellVideo(1L, stretch = 2)),      // frame-rate converted
      (3L, VideoDHasher.syntheticCellVideo(2L))                    // unrelated clip
    ).toDF("clip_id", "video")
    val hasher = new VideoDHasher().setInputCol("video").setOutputCol("sig")
    val hashed = hasher.transform(videos).head
    hasher.similarityJoin(hashed, "clip_id", maxHamming = 3, numBands = 4)
      .orderBy("id_a", "id_b").show(false) // (0,1), (0,2), (1,2) — never 3
    spark.stop()
  }
}

/** Hamming CHAINS break single-hop clustering: b sits within range of
  * both a and c, but a and c are too far apart — clusterWithRep gives
  * c a non-canonical id, clusterComponents closes the chain through
  * connected components. */
object HammingChainExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("HammingChainExample")
    import spark.implicits._
    import graft.dedup.HammingJoin
    val fps = Seq(
      (0L, 0x00L),          // a
      (1L, 0x07L),          // b: 3 bits from a
      (2L, 0x3fL),          // c: 3 bits from b, 6 from a
      (9L, 0x5555aaaaL)     // unrelated
    ).toDF("id", "fp")
    println("single-hop (clusterWithRep): c points at b, not the root")
    HammingJoin.clusterWithRep(fps, "id", "fp", maxHamming = 3, numBands = 4)
      .orderBy("id").show(false)
    println("transitive (clusterComponents): one canonical cluster")
    HammingJoin.clusterComponents(fps, "id", "fp", maxHamming = 3, numBands = 4)
      .orderBy("id").show(false)
    spark.stop()
  }
}

/** Index today's corpus fingerprints once, flag tomorrow's batch
  * against it, grow the index batch-over-batch — perceptual hashes get
  * the same incremental workflow MinHashIndexer gives text. */
object IncrementalImageDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("IncrementalImageDedupExample")
    import spark.implicits._
    import graft.dedup.HammingIndexer
    import graft.multimodal.ImageDHasher
    val hasher = new ImageDHasher().setInputCol("img").setOutputCol("fp")
    val corpus = hasher.transform(Seq(
      (0L, ImageDHasher.syntheticCellImage(1L)),
      (1L, ImageDHasher.syntheticCellImage(2L))).toDF("id", "img")).head
    val model = new HammingIndexer().setMaxHamming(3).fit(corpus)
    val batch1 = hasher.transform(Seq(
      (10L, ImageDHasher.syntheticCellImage(3L))).toDF("id", "img")).head
    model.transform(batch1).head.select("id", "matched_id", "is_duplicate").show() // novel
    val grown = model.addToIndex(batch1)
    val batch2 = hasher.transform(Seq(
      (20L, ImageDHasher.syntheticCellImage(3L, brightness = 40)), // recolor of 10
      (21L, ImageDHasher.syntheticCellImage(1L, flip = true))      // near-dup of 0
    ).toDF("id", "img")).head
    grown.transform(batch2).head.select("id", "matched_id", "is_duplicate").show()
    spark.stop()
  }
}

/** TextRank on real corpora is stopword-dominated; filter with
  * StopWordsRemover BEFORE extraction (the operator deliberately does
  * not hide a tokenizer policy). */
object FilteredKeywordsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("FilteredKeywordsExample")
    import spark.implicits._
    val docs = Seq(
      "the spark engine joins the table with a hash join",
      "a hash join beats a sort merge join on the small table",
      "the engine scans the table and builds a hash"
    ).toDF("text")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
    val kept = new graft.feature.StopWordsRemover()
      .setInputCols("toks").setOutputCols("kept")
      .setStopWords(Array("the", "a", "and", "with", "on"))
      .transform(docs).head
      .withColumn("kept_text", concat_ws(" ", col("kept")))
    new graft.text.KeywordExtractor()
      .setInputCol("kept_text").setNumIter(10).setTopK(5)
      .transform(kept).head.show(false)
    spark.stop()
  }
}

/** Online PCA: the model-version stream over event-time windows —
  * fit emits one cumulative eigenbasis per window; versioned scoring
  * projects each row with the model that existed at its event time
  * (the same delay-gated as-of rule as OnlineStandardScaler). */
object OnlinePCAExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("OnlinePCAExample")
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val rows = (0 until 40).map { i =>
      (i.toLong, Vectors.dense(i * 0.5, i * 1.0 + (i % 5), (i % 3) * 2.0))
    }.toDF("ts", "vec")
    val model = new graft.streaming.OnlinePCA()
      .setInputCol("vec").setK(2).setTimeCol("ts")
      .setWindows(graft.streaming.EventTimeTumblingWindows(10))
      .fit(rows)
    model.getModelData.head
      .select("version", "windowEndMs", "count", "eigenvalues").show(false)
    model.setOutputCol("proj").setMaxAllowedModelDelayMs(0L)
      .transform(rows).head.select("ts", "version", "proj").show(5, truncate = false)
    spark.stop()
  }
}

/** Cross-modal dedup: image links doc 0-1, text links doc 1-2 — no
  * single modality assembles the group; the union of both edge lists
  * closed by connected components does. */
object CrossModalDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("CrossModalDedupExample")
    import spark.implicits._
    import graft.multimodal.ImageDHasher
    val docs = Seq(
      (0L, ImageDHasher.syntheticCellImage(1L), Seq("alpha", "beta", "gamma")),
      (1L, ImageDHasher.syntheticCellImage(1L), Seq("delta", "epsilon", "zeta")),
      (2L, ImageDHasher.syntheticCellImage(2L), Seq("delta", "epsilon", "zeta")),
      (3L, ImageDHasher.syntheticCellImage(3L), Seq("eta", "theta", "iota"))
    ).toDF("doc_id", "img", "tokens")
    val hashed = new ImageDHasher().setInputCol("img").setOutputCol("img_fp")
      .transform(new graft.dedup.SimHasher()
        .setInputCol("tokens").setOutputCol("text_fp").transform(docs).head).head
    graft.dedup.HammingJoin.clusterComponentsMulti(hashed, "doc_id",
      Seq(("image", "img_fp", 3, 4), ("text", "text_fp", 3, 4)))
      .orderBy("doc_id").show(false)
    spark.stop()
  }
}

/** Personalized PageRank: rank the graph from a trusted seed set —
  * the whitelist-biased host ranking a crawl-curation pipeline uses. */
object PersonalizedPageRankExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("PersonalizedPageRankExample")
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val ranks = graft.graph.PageRank.runPersonalized(edges, seeds, numIter = 25).state
    ranks.orderBy(desc("pagerank")).show(false)
    ranks.unpersist()
    spark.stop()
  }
}

/** Label propagation: community detection over a link graph — groups
  * mirror rings / topical neighborhoods that connected components
  * (everything reachable) and PageRank (ranks, no partition) miss. */
object LabelPropagationExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("LabelPropagationExample")
    import spark.implicits._
    val edges = (for {
      base <- Seq(0L, 10L)
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j)).toDF("src", "dst")
    val labels = graft.graph.LabelPropagation.run(edges, numIter = 10).state
    labels.orderBy("id").show(false)
    labels.unpersist()
    spark.stop()
  }
}
