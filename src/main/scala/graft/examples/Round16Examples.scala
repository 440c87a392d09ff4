package graft.examples

import org.apache.spark.sql.functions._

/**
 * Round-16 batch: main-content extraction, RFC 9309 robots wildcards
 * and group selection, the incremental crawl frontier, and the
 * crawl-tier capstone (WARC → links → robots gate → canonical URLs →
 * PageRank in one flow).
 */

/** Boilerplate separation: a page's nav/footer link farms and short
  * edge blocks drop, the article body (and short connective text
  * BETWEEN paragraphs) survives — the jusText-shaped step between
  * HtmlExtractor and the quality filters. */
object MainContentExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("MainContentExample")
    import spark.implicits._

    val body1 = "The actual article starts here and keeps going long " +
      "enough that the extractor scores it as content."
    val body2 = "A second paragraph of genuine prose follows, also " +
      "comfortably past the good-length threshold."
    val pages = Seq(
      (1L,
        s"""<div id="nav"><a href="/">Home</a> <a href="/shop">Shop</a> <a href="/faq">FAQ</a></div>
           |<h1>Headline</h1>
           |<p>$body1</p>
           |<p>In short.</p>
           |<p>$body2</p>
           |<div id="footer"><a href="/tos">Terms</a> <a href="/priv">Privacy</a></div>
           |""".stripMargin),
      (2L, """<div><a href="/a">just</a> <a href="/b">links</a></div>""")
    ).toDF("id", "html")

    new graft.text.MainContentExtractor().setIdCol("id")
      .setInputCol("html").setOutputCol("mc")
      .transform(pages).head
      .select("id", "mc_text", "mc_kept", "mc_blocks")
      // page 1 keeps both paragraphs plus "In short." (between goods);
      // page 2 keeps nothing — kept/blocks = 0/1 is itself a spam tell
      .show(false)
    spark.stop()
  }
}

/** RFC 9309 in full: '*' sections are a FALLBACK (not a union) per
  * §2.2.1, and §2.2.3 wildcard rules — '*' spans, trailing '$'
  * anchors — gate the frontier with longest-rule-wins precedence. */
object RobotsWildcardExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("RobotsWildcardExample")
    import spark.implicits._

    val robots = Seq(
      ("media.example",
        "User-agent: mybot\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\n\n" +
          "User-agent: *\nDisallow: /")
    ).toDF("host", "robots")
    // mybot gets ITS section only — the wildcard Disallow:/ does not
    // leak into its group
    val rules = new graft.text.RobotsTxtParser()
      .setInputCol("robots").setOutputCol("r").setUserAgent("mybot")
      .transform(robots).head

    val frontier = Seq(
      ("u1", "media.example", "/report.pdf"),       // blocked: /*.pdf$
      ("u2", "media.example", "/report.pdf.html"),  // allowed: $ anchors
      ("u3", "media.example", "/pub/report.pdf"),   // allowed: longer rule
      ("u4", "media.example", "/about")             // allowed: no match
    ).toDF("url", "host", "path")

    new graft.text.RobotsUrlFilter().setIdCol("url").setOutputCol("v")
      .transform(frontier, rules).head
      .select("url", "path", "v_allowed", "v_prefix")
      .show(false)
    spark.stop()
  }
}

/** The crawl loop closed: sitemap locs and extracted links unify into
  * one deduplicated frontier of NOT-yet-crawled canonical URLs; after
  * each fetch batch, addCrawled grows the persisted key index so the
  * next cycle is incremental (and save/load survives a restart). */
object FrontierExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("FrontierExample")
    import spark.implicits._

    val crawled = Seq("https://news.example/home").toDF("url")
    var model = new graft.text.FrontierBuilder()
      .setUrlCol("url").setOutputCol("f").fit(crawled)

    val sitemap = Seq("https://news.example/a1",
      "https://news.example/home").toDF("url")
    val links = Seq("HTTPS://NEWS.EXAMPLE/a1?utm_source=rss",
      "https://news.example/a2").toDF("url")
    val batch1 = model.transform(sitemap, links).head
    batch1.show(false) // a1 (refs 2, both feeds), a2 — home is history

    model = model.addCrawled(batch1.select(col("f_url").as("url")))
    val batch2 = Seq("https://news.example/a1",
      "https://news.example/a3").toDF("url")
    model.transform(batch2).head.show(false) // only a3 is new
    spark.stop()
  }
}

/** End-to-end crawl capstone: WARC archive → response bodies → link
  * graph (relative + messy absolute anchors) → robots politeness gate
  * → canonical URLs on both edge ends → PageRank. Exactly the
  * composition q_crawl_pipeline pins against the DuckDB oracle. */
object CrawlPipelineExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("CrawlPipelineExample")
    import spark.implicits._
    val crlf = "\r\n"

    val warc = Seq((1L,
      "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: <https://site.example/docs/1>" + crlf + crlf +
        "HTTP/1.1 200 OK" + crlf + crlf +
        "<html><a href=\"x/../guide\">guide</a>" +
        "<a href=\"HTTPS://SITE.EXAMPLE:443//hub?utm_source=x\">hub</a>" +
        "<a href=\"/private/raw\">secret</a></html>" + crlf + crlf))
      .toDF("doc_id", "warc")

    val pages = new graft.text.WarcParser()
      .setInputCol("warc").setOutputCol("w").transform(warc).head
      .where(col("w_type") === "response")
      .select(col("w_uri").as("url"), col("w_body").as("html"))
    val links = new graft.text.LinkGraphExtractor()
      .setInputCol("html").setUrlCol("url").setOutputCol("lk")
      .transform(pages).head
      .select(col("url").as("src_raw"), col("lk_url").as("dst_raw"))

    val rules = new graft.text.RobotsTxtParser()
      .setInputCol("robots").setOutputCol("r")
      .transform(Seq(("site.example", "User-agent: *\nDisallow: /private/"))
        .toDF("host", "robots")).head
    val allowed = new graft.text.RobotsUrlFilter()
      .setIdCol("dst_raw").setOutputCol("v")
      .transform(links
        .withColumn("host", regexp_extract(col("dst_raw"),
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
        .withColumn("path", regexp_extract(col("dst_raw"),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)), rules).head
      .where(col("v_allowed")).select("src_raw", "dst_raw")

    val srcCanon = new graft.text.UrlCanonicalizer()
      .setInputCol("src_raw").setOutputCol("s")
    val dstCanon = new graft.text.UrlCanonicalizer()
      .setInputCol("dst_raw").setOutputCol("d")
    val edges = dstCanon.transform(srcCanon.transform(allowed).head).head
      .select(col("s_url").as("src"), col("d_url").as("dst"))
      .localCheckpoint(true)

    graft.graph.PageRank.run(edges, "src", "dst", numIter = 3).state
      .orderBy(desc("pagerank"))
      .show(false) // /private/ never entered the graph
    spark.stop()
  }
}

/** Politeness-budgeted crawl scheduling: robots.txt Sitemap and
  * Crawl-delay directives ([[graft.text.RobotsDirectives]]) feed the
  * per-host round budget — a 30 s delay under a 60 s horizon means at
  * most 2 polite fetches however deep the host's frontier is. */
object CrawlScheduleExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("CrawlScheduleExample")
    import spark.implicits._

    val robots = Seq(
      ("slow.example", "User-agent: *\nCrawl-delay: 30\nSitemap: https://slow.example/s.xml"),
      ("fast.example", "Sitemap: https://fast.example/s.xml")
    ).toDF("host", "robots")
    val directives = new graft.text.RobotsDirectives()
      .setInputCol("robots").setOutputCol("rd")
      .transform(robots).head
    directives.show(false) // 2 sitemaps + slow.example's delay

    val frontier = Seq(
      ("https://slow.example/p1", "slow.example", 9.0),
      ("https://slow.example/p2", "slow.example", 7.0),
      ("https://slow.example/p3", "slow.example", 5.0),
      ("https://fast.example/q1", "fast.example", 2.0),
      ("https://fast.example/q2", "fast.example", 1.0)
    ).toDF("url", "host", "priority")
    new graft.text.CrawlScheduler()
      .setOutputCol("cs").setBudgetPerHost(3).setHorizonSec(60.0)
      .setDelayCol("rd_delay")
      .transform(frontier, directives).head
      .orderBy("host", "cs_rank")
      // slow.example: floor(60/30) = 2 fetches; fast.example: all 3
      .show(false)
    spark.stop()
  }
}

/** FineWeb-shaped curation in one flow: WARC ingest → HTTP status /
  * media-type gate → main-content extraction → exact dedup → PII
  * redaction → language ID → token budget. Exactly the composition
  * q_fineweb_pipeline pins against the DuckDB oracle. */
object FinewebPipelineExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("FinewebPipelineExample")
    import spark.implicits._
    val crlf = "\r\n"

    def warc(status: String, html: String) =
      "WARC/1.0" + crlf + "WARC-Type: response" + crlf + crlf +
        "HTTP/1.1 " + status + crlf +
        "Content-Type: text/html; charset=utf-8" + crlf + crlf +
        html + crlf + crlf
    val body = "Reach admin@corp.example for the dataset which ships " +
      "with enough prose to clear the extractor's good threshold."
    val files = Seq(
      (1L, warc("200 OK", s"<div><a href='/n'>Nav</a></div><p>$body</p>")),
      (2L, warc("200 OK", s"<p>$body</p>")), // duplicate body of 1
      (3L, warc("404 Not Found", "<p>gone</p>"))
    ).toDF("doc_id", "warc")

    val fetched = new graft.text.WarcParser()
      .setInputCol("warc").setOutputCol("w").transform(files).head
      .where(col("w_status") === 200 && col("w_mime") === "text/html")
      .select(col("doc_id"), col("w_body").as("html"))
    val mc = new graft.text.MainContentExtractor().setIdCol("doc_id")
      .setInputCol("html").setOutputCol("mc").transform(fetched).head
      .select(col("doc_id"), col("mc_text"))
    val kept = new graft.text.ExactDeduplicator()
      .setIdCol("doc_id").setInputCol("mc_text").transform(mc).head
      .where(!col("is_exact_duplicate"))
    val redacted = new graft.text.PiiRedactor()
      .setInputCol("mc_text").setOutputCol("text").transform(kept).head
    val lang = new graft.text.LanguageDetector()
      .setInputCol("text").setLangCol("lang").transform(redacted).head
    new graft.text.TokenCounter().setInputCol("text").transform(lang).head
      // doc 3 fell at the HTTP gate, doc 2 at dedup; doc 1 survives
      // with the email redacted, lang=en and its token budget counted
      .select("doc_id", "text", "lang", "n_ws_tokens", "n_emails")
      .show(false)
    spark.stop()
  }
}

/** Model-based quality filtering (the DCLM / FineWeb-Edu recipe):
  * heuristic Gopher rules label a seed of the corpus, a logistic
  * classifier trains on those labels over cheap quality-stat
  * features, and every document gets a model score — the filter
  * becomes a tunable threshold instead of a hard rule bundle. */
object QualityClassifierExample {
  def main(args: Array[String]): Unit = {
    val spark = ExampleSession.spark("QualityClassifierExample")
    import spark.implicits._

    val prose = "The quick study of language and data is one of the " +
      "things that we have come to value with time and care in equal measure."
    val soup = "asdf qwer zxcv tyui ghjk bnml 1234 5678 9012 3456 " +
      "wert sdfg xcvb yuio hjkl nm12 34qw 56er 78ty 90ui"
    val docs = (1 to 8).map(i =>
      (i.toLong, if (i % 2 == 0) prose + " " + prose else soup + " " + soup))
      .toDF("doc_id", "text")

    val stats = new graft.text.TextQualityScorer()
      .setInputCol("text").transform(docs).head
    val labeled = new graft.text.GopherFilter()
      .setInputCol("text").setMinWords(10).setMinStopwordHits(1)
      .transform(stats).head
      .withColumn("label", org.apache.spark.sql.functions.col("gopher_keep").cast("double"))
    val feat = new graft.feature.VectorAssembler()
      .setInputCols("stopword_ratio", "alpha_ratio").setOutputCol("features")
      .setInputSizes(1, 1).transform(labeled).head
    val model = new graft.classification.LogisticRegression()
      .setMaxIter(3).setGlobalBatchSize(1 << 22).fit(feat)
    model.transform(feat).head
      .select(col("doc_id"), col("label"), col("prediction"),
        round(org.apache.spark.sql.functions.element_at(
          org.apache.spark.ml.functions.vector_to_array(col("rawPrediction")), 2), 4)
          .as("score"))
      .orderBy("doc_id")
      // prose docs score above the word-soup docs after 3 GD rounds
      .show(false)
    spark.stop()
  }
}
