package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-15 batch: the anchor-text rollup signal and dot-segment URL
 * canonicalization (the crawl-tier composition that makes URL-level
 * dedup keys correct on real `../` links).
 */

/** "What the web calls this page": crawl pages → per-anchor outlinks
  * (LinkGraphExtractor) → per-domain top-k anchor texts with exact
  * counts (AnchorTextRollup) — the external title/relevance signal,
  * and a spam tell when a domain's top anchors are all boilerplate. */
object AnchorTextRollupExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("AnchorTextRollupExample")
    import spark.implicits._

    val pages = Seq(
      ("https://a.example.com/",
        """<a href="https://docs.target.org/">Docs</a>
          |<a href="https://docs.target.org/api">docs</a>
          |<a href="https://spam.biz/p">click here</a>""".stripMargin),
      ("https://b.example.com/",
        """<a href="https://docs.target.org/">documentation</a>
          |<a href="https://docs.target.org/start">Docs</a>
          |<a href="https://spam.biz/q">click here</a>""".stripMargin),
      ("https://c.example.com/",
        """<a href="https://spam.biz/r">click here</a>""".stripMargin)
    ).toDF("url", "html")

    val links = new graft.text.LinkGraphExtractor()
      .setInputCol("html").setUrlCol("url").setOutputCol("lk")
      .transform(pages).head

    // defaults consume LinkGraphExtractor's lk_domain / lk_text;
    // 'Docs'/'docs' roll up (lowercase=true), ranks tie-break by text
    new graft.text.AnchorTextRollup().setOutputCol("a").setTopK(3)
      .transform(links).head
      .orderBy("lk_domain", "a_rank")
      .show(false) // target.org led by "docs"; spam.biz is all "click here"
    spark.stop()
  }
}

/** robots.txt compliance end to end: per-host robots documents parse
  * into a flat rules table (RobotsTxtParser), then the frontier is
  * filtered under RFC 9309 longest-prefix matching — allow beats
  * disallow on ties, un-ruled hosts pass (RobotsUrlFilter, the
  * engine's two-input transform). */
object RobotsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("RobotsExample")
    import spark.implicits._

    val robots = Seq(
      ("shop.example",
        "User-agent: *\nDisallow: /cart/\nAllow: /cart/shared/\nDisallow: /admin/"),
      ("blog.example", "User-agent: otherbot\nDisallow: /")
    ).toDF("host", "robots")
    val rules = new graft.text.RobotsTxtParser()
      .setInputCol("robots").setOutputCol("r")
      .transform(robots).head
    rules.show(false) // blog.example emits nothing for '*'

    val frontier = Seq(
      ("shop.example", "/cart/item1"),
      ("shop.example", "/cart/shared/list7"),
      ("shop.example", "/catalog/p2"),
      ("blog.example", "/posts/1.html")
    ).toDF("host", "path")
      .withColumn("url", concat(lit("https://"), col("host"), col("path")))
    new graft.text.RobotsUrlFilter().setIdCol("url").setOutputCol("v")
      .transform(frontier, rules).head
      .select("url", "v_allowed", "v_prefix")
      .show(false) // only /cart/item1 blocks; /cart/shared/ overrides
    spark.stop()
  }
}

/** WARC ingest end to end: a Common Crawl-shaped archive string
  * becomes per-record rows, the HTTP response bodies feed
  * LinkGraphExtractor, and the host edges feed PageRank — raw crawl
  * bytes to host ranks without leaving the engine. */
object WarcIngestExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("WarcIngestExample")
    import spark.implicits._
    val crlf = "\r\n"
    val warc =
      "WARC/1.0" + crlf + "WARC-Type: warcinfo" + crlf + crlf +
        "software: graft" + crlf + crlf +
        "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: https://a.example/" + crlf + crlf +
        "HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf + crlf +
        "<html><a href=\"https://b.example/\">b</a>" +
        "<a href=\"/about\">about</a></html>" + crlf + crlf

    val recs = new graft.text.WarcParser()
      .setInputCol("warc").setOutputCol("w")
      .transform(Seq(warc).toDF("warc")).head
    recs.select("w_pos", "w_type", "w_uri").show(false)

    val pages = recs.where(col("w_type") === "response")
      .select(col("w_uri").as("url"), col("w_body").as("html"))
    val edges = graft.text.LinkGraphExtractor.hostEdges(pages)
    val ranks = graft.graph.PageRank.run(edges, "src_host", "dst_host", 0.85, 5).state
    ranks.orderBy(desc("pagerank")).show(false)
    ranks.unpersist()
    spark.stop()
  }
}

/** Sitemap + BFS close the crawl-frontier loop: sitemaps feed the
  * frontier the URLs a site asks to have crawled, and multi-source
  * BFS scores every page's hop distance from the seed whitelist —
  * the crawl-depth quality prior. */
object SitemapBfsExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("SitemapBfsExample")
    import spark.implicits._

    val sitemaps = Seq(
      ("""<urlset>
         |<url><loc>https://a.example/</loc><lastmod>2026-03-01</lastmod><priority>1.0</priority></url>
         |<url><loc>https://a.example/docs</loc></url>
         |</urlset>
         |<sitemapindex><sitemap><loc>https://a.example/sitemap-news.xml</loc></sitemap></sitemapindex>""".stripMargin)
    ).toDF("xml")
    new graft.text.SitemapExtractor().setInputCol("xml").setOutputCol("sm")
      .transform(sitemaps).head
      .select("sm_kind", "sm_loc", "sm_lastmod", "sm_priority")
      .show(false)

    // crawl depth from a trusted seed over the link graph
    val edges = Seq(
      ("seed.example", "a.example"), ("a.example", "b.example"),
      ("b.example", "spamfarm.biz"), ("a.example", "c.example")
    ).toDF("src", "dst")
    val seeds = Seq("seed.example").toDF("id")
    graft.graph.Bfs.run(edges, seeds).state
      .orderBy("distance", "id")
      .show(false) // spamfarm.biz sits 3 hops from trust
    spark.stop()
  }
}

/** Dot-segment canonicalization closes the crawl dedup loop:
  * LinkGraphExtractor resolves `../sibling` hrefs verbatim (literal
  * `..` in the URL), and UrlCanonicalizer's default dot-segment
  * normalization folds them onto the clean spelling so both carry
  * ONE md5 dedup key. */
object DotSegmentCanonExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("DotSegmentCanonExample")
    import spark.implicits._

    val pages = Seq(
      ("https://h.example.org/a/b/page.html",
        """<a href="../c/d.html">up-and-over</a>""")
    ).toDF("url", "html")
    val resolved = new graft.text.LinkGraphExtractor()
      .setInputCol("html").setUrlCol("url").setOutputCol("lk")
      .transform(pages).head
      .select(col("lk_url").as("url"))

    // the clean spelling of the same resource, plus an SPA hash route
    // whose '?' lives inside the fragment (no query fabricated)
    val clean = Seq(
      "https://h.example.org/a/c/d.html",
      "https://h.example.org/app#/search?q=x").toDF("url")

    new graft.text.UrlCanonicalizer().setInputCol("url").setOutputCol("cn")
      .transform(resolved.union(clean)).head
      .show(false) // rows 1 and 2 share cn_url and cn_key
    spark.stop()
  }
}
