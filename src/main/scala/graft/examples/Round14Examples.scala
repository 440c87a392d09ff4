package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-14 batch: crawl link-graph extraction feeding the graph tier,
 * and shot-boundary video dedup (the 3-slot escalation path).
 */

/** Common Crawl's host-ranking shape, end to end inside the engine:
  * raw (url, html) pages → outlinks resolved per anchor
  * (LinkGraphExtractor) → (src_host, dst_host) edge list → PageRank
  * ranks hosts, LabelPropagation groups them into link communities. */
object LinkGraphExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("LinkGraphExample")
    import spark.implicits._
    import graft.text.LinkGraphExtractor

    val pages = Seq(
      ("https://blog.alpha.com/posts/1.html",
        """<a href="https://news.alpha.com/">sister</a>
          |<a href="/posts/2.html">next</a>
          |<a href="https://hub.example.org/dir">dir</a>""".stripMargin),
      ("https://news.alpha.com/",
        """<a href="//blog.alpha.com/posts/1.html">blog</a>
          |<a href="https://hub.example.org/dir">dir</a>""".stripMargin),
      ("https://beta.net/index.html",
        """<a href="about.html">about</a>
          |<a href="https://hub.example.org/dir">dir</a>
          |<a href="mailto:team@beta.net">mail</a>""".stripMargin),
      ("https://hub.example.org/dir",
        """<a href="https://blog.alpha.com/posts/1.html">a</a>
          |<a href="https://beta.net/index.html">b</a>""".stripMargin)
    ).toDF("url", "html")

    // per-anchor detail: href as written, resolved URL, host, domain
    new LinkGraphExtractor().setInputCol("html").setUrlCol("url").setOutputCol("lk")
      .transform(pages).head
      .select("url", "lk_href", "lk_text", "lk_url", "lk_host", "lk_domain")
      .show(false)

    // host graph → rank + communities (multiplicity kept as weight)
    val edges = LinkGraphExtractor.hostEdges(pages)
    val ranks = graft.graph.PageRank.run(edges, "src_host", "dst_host", 0.85, 10).state
    ranks.orderBy(desc("pagerank")).show(false) // the hub ranks first
    ranks.unpersist()
    val comms = graft.graph.LabelPropagation.run(edges, "src_host", "dst_host", 5).state
    comms.orderBy("label", "id").show(false)
    comms.unpersist()
    spark.stop()
  }
}

/** HITS on a crawl host graph: directory/aggregator hosts score
  * hub-high, the content they point at scores authority-high — two
  * separate curation signals where PageRank gives one. */
object HitsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("HitsExample")
    import spark.implicits._

    // two directories both link the same three content hosts; one
    // content host links back to a directory
    val edges = Seq(
      ("dir1.example", "news.example"), ("dir1.example", "docs.example"),
      ("dir1.example", "blog.example"), ("dir2.example", "news.example"),
      ("dir2.example", "docs.example"), ("news.example", "dir1.example")
    ).toDF("src", "dst")

    val scores = graft.graph.Hits.run(edges, numIter = 15).state
    scores.orderBy(desc("authority")).show(false) // news/docs lead authority
    scores.orderBy(desc("hub")).show(false)       // dir1/dir2 lead hub
    spark.stop()
  }
}

/** URL canonicalization: two spellings of the same resource collapse
  * to one canonical form + md5 dedup key — the URL-level exact-dedup
  * primitive (frontier de-queuing, per-URL joins). */
object UrlCanonicalizeExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("UrlCanonicalizeExample")
    import spark.implicits._

    val urls = Seq(
      "HTTP://Host:80/a//b?utm_source=x&b=2&a=1#top",
      "http://host/a/b?a=1&b=2",                       // same resource
      "https://shop.example.com/item/7?gclid=XYZ",
      "https://shop.example.com:8443/item/7",          // non-default port: distinct
      "/relative/ref"                                  // no absolute form -> null
    ).toDF("url")

    val out = new graft.text.UrlCanonicalizer()
      .setInputCol("url").setOutputCol("cn")
      .transform(urls).head
    out.show(false)
    println(s"distinct resources: ${out.where($"cn_key".isNotNull)
      .select("cn_key").distinct().count()}") // 3
    spark.stop()
  }
}

/** Shot-boundary video dedup: a clip, a TRIMMED re-upload and a
  * RE-ORDERED re-cut — the edits that break the cheap 3-slot
  * signature — matched by shot-set containment instead. */
object VideoShotDedupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("VideoShotDedupExample")
    import spark.implicits._
    import graft.multimodal.VideoShotHasher

    val videos = Seq(
      (0L, VideoShotHasher.syntheticShotVideo(1L, Seq(0, 1, 2, 3))), // original
      (1L, VideoShotHasher.syntheticShotVideo(1L, Seq(1, 2, 3))),    // trimmed
      (2L, VideoShotHasher.syntheticShotVideo(1L, Seq(3, 2, 1, 0))), // re-cut
      (3L, VideoShotHasher.syntheticShotVideo(2L, Seq(0, 1, 2, 3)))  // unrelated
    ).toDF("id", "video")

    val hasher = new VideoShotHasher()
      .setInputCol("video").setOutputCol("shots").setMinOverlap(0.8)
    val hashed = hasher.transform(videos).head
    hashed.select($"id", size($"shots").as("num_shots")).show()
    // trim scores containment 1.0 against its source; the re-cut's
    // shot SET is identical; the unrelated clip never pairs
    hasher.containmentJoin(hashed, "id").orderBy("id_a", "id_b").show()
    spark.stop()
  }
}
