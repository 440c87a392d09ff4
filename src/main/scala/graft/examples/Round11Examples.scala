package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-11 batch: PageRank link-graph centrality.
 */

/** Diagnose join skew before it burns a cluster-day: the planted hot
  * key surfaces at rank 1 with its exact row share. */
object SkewReportExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("SkewReportExample")
    import spark.implicits._
    val events = (1 to 1000).map(i =>
      (if (i % 3 == 0) 0L else i.toLong, s"type_${i % 4}"))
      .toDF("user_id", "event_type")
    new graft.stats.SkewReport()
      .setKeyCols("user_id", "event_type").setTopK(3)
      .transform(events).head.orderBy("column", "rank").show(false)
    spark.stop()
  }
}

/** Find the word pairs that belong together: PMI overweights rare
  * pairs, Dunning's G² is the corpus-scale ranking to trust. */
object CollocationExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("CollocationExample")
    import spark.implicits._
    val docs = Seq(
      "machine learning at scale", "machine learning is fun",
      "deep learning and machine learning", "the machine is fast",
      "scale the deep stack").toDF("text")
    new graft.text.CollocationScorer().setInputCol("text")
      .setMinCount(2L).setTopK(10)
      .transform(docs).head.show(false)
    spark.stop()
  }
}

/** Regularize an irregular sensor series onto a 10ms grid: missing
  * steps are filled from the previous observation, but only within
  * the staleness horizon. */
object ResamplerExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("ResamplerExample")
    import spark.implicits._
    val obs = Seq(
      ("s1", 0L, 20.1), ("s1", 12L, 20.4), ("s1", 71L, 22.0),
      ("s2", 5L, 3.3)).toDF("sensor", "t", "temp")
    new graft.feature.Resampler()
      .setKeyCol("sensor").setTimeCol("t").setValueCols("temp")
      .setStepMs(10L).setMaxFillMs(30L)
      .transform(obs).head
      .orderBy("sensor", "t").show(false)
    spark.stop()
  }
}

/** Z-order a two-column table and show that every output file owns a
  * small rectangle of the (x, y) key space — the layout that lets
  * parquet stats prune range predicates on EITHER column. */
object ZOrderExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("ZOrderExample")
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 50000).map(_ => (rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/t"
    graft.sources.ZOrderWriter.write(df, Seq("x", "y"), dir, numFiles = 8, bits = 10)
    spark.read.parquet(dir)
      .withColumn("file", regexp_extract(input_file_name(), "(part-[0-9]+)", 1))
      .groupBy("file")
      .agg(round(min("x"), 1).as("x_min"), round(max("x"), 1).as("x_max"),
        round(min("y"), 1).as("y_min"), round(max("y"), 1).as("y_max"))
      .orderBy("file").show(false)
    spark.stop()
  }
}

/** Rank a tiny link graph: a hub with backlinks outranks the pages
  * that link to it; dangling pages donate their mass uniformly. */
object PageRankExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("PageRankExample")
    import spark.implicits._
    val edges = Seq(
      ("blog", "hub"), ("wiki", "hub"), ("news", "hub"),
      ("hub", "docs"), ("docs", "hub"),
      ("spam", "spam2")).toDF("src", "dst")
    val pr = graft.graph.PageRank.run(edges, numIter = 30)
    pr.state.orderBy(desc("pagerank")).show(false)
    println(s"iterations=${pr.rounds}")
    spark.stop()
  }
}
