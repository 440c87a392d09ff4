package graft.text

import graft.SparkSpec
import graft.iteration.Loop

class FrontierBuilderSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("f_url"), r.getAs[Long]("f_refs"),
      r.getAs[String]("f_sources"))).toSet

  test("unifies feeds, collapses spellings, excludes crawled, tracks provenance") {
    import spark.implicits._
    val crawled = Seq("https://ex.com/old").toDF("url")
    val sitemap = Seq("https://ex.com/a", "https://ex.com/old").toDF("url")
    // same /a page, messy spelling: must collapse into one frontier row
    val links = Seq("HTTPS://EX.COM:443/a?utm_source=feed",
      "https://ex.com/b").toDF("url")
    val model = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(crawled)
    val got = rows(model.transform(sitemap, links).head)
    assert(got == Set(
      ("https://ex.com/a", 2L, "0,1"), // sitemap + canonicalized link
      ("https://ex.com/b", 1L, "1")))  // /old is already crawled
  }

  test("addCrawled makes the next batch incremental (batch-over-batch)") {
    import spark.implicits._
    val m0 = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(Seq.empty[String].toDF("url"))
    val batch1 = Seq("https://ex.com/a", "https://ex.com/b").toDF("url")
    val out1 = m0.transform(batch1).head
    assert(out1.count() == 2)
    // after crawling batch 1, only genuinely new URLs surface
    val m1 = m0.addCrawled(out1.select(org.apache.spark.sql.functions
      .col("f_url").as("url")))
    val batch2 = Seq("https://ex.com/a", "https://ex.com/c").toDF("url")
    val got = rows(m1.transform(batch2).head)
    assert(got == Set(("https://ex.com/c", 1L, "0")))
    // the original model is untouched (functional growth)
    assert(m0.transform(batch2).head.count() == 2)
  }

  test("restart continuity: a saved+loaded model still excludes its history") {
    import spark.implicits._
    val model = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(Seq("https://ex.com/seen").toDF("url"))
      .addCrawled(Seq("https://ex.com/seen2").toDF("url"))
    val dir = java.nio.file.Files.createTempDirectory("frontier").toString
    model.save(dir)
    val loaded = FrontierModel.load(spark, dir)
    assert(loaded.getUrlCol == "url" && loaded.getOutputCol == "f")
    val cand = Seq("https://ex.com/seen", "https://ex.com/seen2",
      "https://ex.com/new").toDF("url")
    val got = rows(loaded.transform(cand).head)
    assert(got == Set(("https://ex.com/new", 1L, "0")))
  }

  test("compaction keeps growth correct across many addCrawled batches") {
    import spark.implicits._
    var m = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(Seq.empty[String].toDF("url"))
    // 40 single-url batches cross the Loop.LeafBound=32 boundary
    (0 until 40).foreach { i =>
      m = m.addCrawled(Seq(s"https://ex.com/p$i").toDF("url"))
      val leaves = m.getModelData.head.queryExecution.logical.collectLeaves().size
      assert(leaves <= Loop.LeafBound, s"key index carries $leaves leaves after ${i + 1} batches")
    }
    val cand = (0 until 42).map(i => s"https://ex.com/p$i").toDF("url")
    val got = rows(m.transform(cand).head)
    assert(got == Set(("https://ex.com/p40", 1L, "0"),
      ("https://ex.com/p41", 1L, "0")))
  }

  test("streaming wiring: StreamingTrainer micro-batches never re-enqueue") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val urls = stream.toDF().select(org.apache.spark.sql.functions.col("value").as("url"))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    val init = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(Seq("https://ex.com/old").toDF("url"))
    val handle = graft.streaming.StreamingTrainer.attach[FrontierModel](
      urls, init, (m, b) => {
        val out = m.transform(b).head
          .select(org.apache.spark.sql.functions.col("f_url"))
        val batch = out.as[String].collect()
        emitted.synchronized { emitted ++= batch }
        m.addCrawled(out.withColumnRenamed("f_url", "url"))
      })
    // batch 1: a messy respelling collapses, history is excluded
    stream.addData("https://ex.com/a", "HTTPS://EX.COM:443/a?utm_source=x",
      "https://ex.com/old")
    handle.query.processAllAvailable()
    // batch 2: /a was crawled by batch 1 — only /b is new
    stream.addData("https://ex.com/a", "https://ex.com/b")
    handle.query.processAllAvailable()
    handle.query.stop()
    assert(emitted.sorted == Seq("https://ex.com/a", "https://ex.com/b"))
  }

  test("guards and single-feed degenerate cases") {
    import spark.implicits._
    val model = new FrontierBuilder().setUrlCol("url").setOutputCol("f")
      .fit(Seq.empty[String].toDF("url"))
    intercept[IllegalArgumentException] { model.transform() }
    // duplicate rows within ONE feed still collapse with refs counted
    val got = rows(model.transform(
      Seq("https://ex.com/a", "https://ex.com/a").toDF("url")).head)
    assert(got == Set(("https://ex.com/a", 2L, "0")))
  }
}
