package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-10 capability examples: hashed-LM DSIR selection, star-
 * contraction connected components, the C4 + normalize curation
 * chain, Bloom-filter decontamination, and AV container decode.
 */

/** DSIR data selection with a BOUNDED LM (hashBuckets — the Xie et
  * al. hashing trick): score a raw corpus against a target domain and
  * keep the top half. The hashed LM tables are capped at hashBuckets
  * rows regardless of corpus vocabulary. */
object DsirHashedExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("DsirHashedExample")
    import spark.implicits._
    val raw = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat ate the fish"),
      (2L, "der hund lief durch den park"),
      (3L, "el gato come pescado fresco hoy"),
      (4L, "the cat sat on the fish")).toDF("id", "text")
    val target = raw.where(col("id") <= 1)
    new graft.text.ImportanceScorer()
      .setInputCol("text").setOutputCol("dsir").setIdCol("id")
      .setHashBuckets(1 << 20)
      .transform(raw, target).head
      .orderBy(col("dsir").desc_nulls_last)
      .show(false)
    spark.stop()
  }
}

/** Connected components via the alternating large-star/small-star
  * contraction (Kiveris et al. SOCC 2014): a 40-hop chain — which
  * min-label propagation would need 40 rounds for — converges in
  * O(log n) rounds. */
object StarComponentsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("StarComponentsExample")
    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1))
    val pair = Seq((100L, 101L))
    val edges = (chain ++ pair).toDF("src", "dst")
    val cc = graft.dedup.ConnectedComponents.run(edges, driverEdgeLimit = 0)
    cc.state.groupBy("component").agg(count(lit(1)).as("size"))
      .orderBy("component").show(false)
    println(s"rounds=${cc.rounds}")
    spark.stop()
  }
}

/** The published web-cleaning chain: TextNormalizer canonicalizes,
  * C4Filter applies the line/page rules, GopherFilter applies the
  * hard quality bundle — all pure Column math, zero shuffle. */
object WebCleaningChainExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("WebCleaningChainExample")
    import spark.implicits._
    val pages = Seq(
      (1L, "The quick brown fox jumps over the lazy dog every day.\n" +
        "A second sentence with plenty of words sits here.\n" +
        "And a third good sentence closes out the page."),
      (2L, "Enable javascript to view this page properly.\nshort"),
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do.")
    ).toDF("doc_id", "raw")
    val normalized = new graft.text.TextNormalizer()
      .setInputCol("raw").setOutputCol("text").setLowercase(false)
      .transform(pages).head
    val c4 = new graft.text.C4Filter().setInputCol("text")
      .setMinLineWords(5)
      .transform(normalized).head
    new graft.text.GopherFilter().setInputCol("c4_text")
      .setMinWords(5).setMinStopwordHits(1)
      .transform(c4).head
      .select("doc_id", "n_lines_kept", "n_sentences", "c4_keep", "gopher_keep")
      .orderBy("doc_id").show(false)
    spark.stop()
  }
}

/** Bloom-filter decontamination: the eval set folds into one
  * broadcast filter, the corpus side is a zero-shuffle scan. No false
  * negatives by construction. */
object BloomDecontaminationExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("BloomDecontaminationExample")
    import spark.implicits._
    val train = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("x y z")),
      (3L, Seq("b c d", "q r s"))).toDF("doc_id", "grams")
    val eval = Seq((100L, Seq("b c d"))).toDF("doc_id", "grams")
    new graft.dedup.BloomDecontaminator()
      .setIdCol("doc_id").setInputCol("grams")
      .transform(train, eval).head
      .select("doc_id", "matched_ngrams", "contaminated")
      .orderBy("doc_id").show(false)
    spark.stop()
  }
}

/** Real WAV/MP4 header decode: deterministic container bytes built in
  * row, parsed back by the header-only decoders. */
object AvDecodeExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("AvDecodeExample")
    import spark.implicits._
    val mkWav = udf { id: Long =>
      graft.multimodal.AudioDecoder.syntheticWav(16000, 8000 + id.toInt * 100, 2, id)
    }
    val mkMp4 = udf { id: Long =>
      graft.multimodal.VideoDecoder.syntheticMp4(600, 600 * (id + 1), 2)
    }
    val media = spark.range(0, 3)
      .withColumn("audio", mkWav(col("id")))
      .withColumn("video", mkMp4(col("id")))
    val a = new graft.multimodal.AudioDecoder()
      .setInputCol("audio").setOutputCol("wav").transform(media).head
    new graft.multimodal.VideoDecoder()
      .setInputCol("video").setOutputCol("mp4").transform(a).head
      .select(col("id"), col("wav.sample_rate"), col("wav.duration_sec"),
        col("mp4.brand"), col("mp4.duration_sec").as("video_sec"))
      .orderBy("id").show(false)
    spark.stop()
  }
}
